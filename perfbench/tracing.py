"""Tracing for the benchmark's traced run (``--trace 1``).

Everything here observes the library from outside, through what Spark
ships: the local event log of the benchmark's own session, one job
group per op, each collected query's ``QueryExecution.tracker()``
phases and a ``StreamingQueryListener``.  Spans stay in memory while the
workload runs; the event log is parsed after the session stops.

Operator spans come from thin wrappers the traced run installs around
the library functions in :data:`OPERATOR_SPANS`.  A wrapper only times
the call and forwards it; it never changes arguments or results.
"""

from __future__ import annotations

import collections
import glob
import json
import os
import sys
import time

#: Library functions wrapped in the traced run: metric name -> (module, function).
#: These are the operators the workloads reach: the fuzzy-dedup pipeline's
#: LSH candidate pairs and connected components, and the IVF index build.
OPERATOR_SPANS = {
    "connected_components_s": ("operators.dedup", "connected_components"),
    "minhash_lsh_pairs_s": ("operators.dedup", "minhash_lsh_pairs"),
    "train_ivf_centroids_s": ("operators.similarity", "train_ivf_centroids"),
}

_PKG = "pyspark_analytics_library_spark"

#: SQL metric display names of the Python-worker metrics (millisecond timings).
_PY_METRICS = {
    "time to run Python workers": "python_worker.total_s",
    "time to start Python workers": "python_worker.boot_s",
    "time to initialize Python workers": "python_worker.init_s",
}


class Tracer:
    """In-memory spans for one traced workload run."""

    def __init__(self):
        self.spans: list[dict] = []  # one per op call
        self.op_calls: list[dict] = []  # operator-function spans
        self.progress: list[dict] = []  # streaming progress events
        self._current: dict | None = None
        self._patched: list[tuple] = []

    # -- op spans ---------------------------------------------------------

    def begin(self, spark, op_id: str, name: str) -> None:
        spark.sparkContext.setJobGroup(f"perfbench:{op_id}", f"perfbench {name}")
        self._current = {"op_id": op_id, "name": name, "start_ms": time.time() * 1000}

    def end(self, spark, res) -> dict:
        span = self._current
        span["end_ms"] = time.time() * 1000
        span["catalyst"] = catalyst_phases(res.df) if res is not None else {}
        spark.sparkContext.setJobGroup("perfbench:idle", "perfbench idle")
        self.spans.append(span)
        self._current = None
        return span

    # -- operator wrappers --------------------------------------------------

    def install_operator_spans(self) -> None:
        for metric, (modname, fname) in OPERATOR_SPANS.items():
            mod = sys.modules.get(f"{_PKG}.{modname}")
            orig = getattr(mod, fname, None) if mod else None
            if orig is None:
                continue
            wrapper = self._wrap(metric, orig)
            # Rebind in every loaded package module that imported the name.
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith(_PKG) and getattr(m, fname, None) is orig:
                    setattr(m, fname, wrapper)
                    self._patched.append((m, fname, orig))

    def _wrap(self, metric: str, fn):
        tracer = self

        def wrapper(*args, **kwargs):
            start = time.time() * 1000
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.op_calls.append(
                    {
                        "metric": metric,
                        "op_id": tracer._current["op_id"] if tracer._current else None,
                        "start_ms": start,
                        "end_ms": time.time() * 1000,
                        "wall_s": time.perf_counter() - t0,
                    }
                )

        wrapper.__wrapped__ = fn
        return wrapper

    def uninstall(self) -> None:
        for m, fname, orig in reversed(self._patched):
            setattr(m, fname, orig)
        self._patched.clear()

    # -- streaming ----------------------------------------------------------

    def install_stream_listener(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                d = p.durationMs or {}
                state = p.stateOperators or []
                tracer.progress.append(
                    {
                        "ts": p.timestamp,
                        "batch_ms": d.get("triggerExecution", 0),
                        "add_batch_ms": d.get("addBatch", 0),
                        "query_planning_ms": d.get("queryPlanning", 0),
                        "wal_commit_ms": d.get("walCommit", 0),
                        "input_rows": p.numInputRows,
                        "state_rows": sum(s.numRowsTotal for s in state),
                        "state_memory_bytes": sum(s.memoryUsedBytes for s in state),
                    }
                )

        self._listener = _Listener()
        spark.streams.addListener(self._listener)

    def remove_stream_listener(self, spark) -> None:
        if getattr(self, "_listener", None) is not None:
            spark.streams.removeListener(self._listener)
            self._listener = None


def catalyst_phases(df) -> dict:
    """Analysis / optimization / planning milliseconds of the collected
    query, from ``QueryExecution.tracker()``; {} for ops without one."""
    if df is None:
        return {}
    try:
        phases = df._jdf.queryExecution().tracker().phases()
    except Exception:
        return {}
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = opt.get().durationMs() if opt.isDefined() else 0
    return out


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------


def read_event_log(log_dir: str) -> dict:
    """Jobs and the stage attempts each of them ran, with task totals,
    from the session's event log.  A stage is credited to the job it was
    submitted under; a stage a job lists but never submits is skipped
    (its shuffle output was reused)."""
    files = sorted(
        f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(f) and "appstatus" not in os.path.basename(f)
        and not f.endswith(".crc")
    )
    jobs: dict[int, dict] = {}
    active: list[int] = []
    stages: dict[tuple, collections.Counter] = {}
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "group": props.get("spark.jobGroup.id") or "",
                        "submit_ms": ev["Submission Time"],
                        "end_ms": None,
                        "stage_ids": set(ev.get("Stage IDs", [])),
                        "ran": [],
                    }
                    active.append(jid)
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in jobs:
                        jobs[jid]["end_ms"] = ev["Completion Time"]
                    if jid in active:
                        active.remove(jid)
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
                    stages[key] = collections.Counter()
                    owner = next(
                        (j for j in reversed(active) if key[0] in jobs[j]["stage_ids"]), None
                    )
                    if owner is not None:
                        jobs[owner]["ran"].append(key)
                elif kind == "SparkListenerTaskEnd":
                    key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
                    s = stages.setdefault(key, collections.Counter())
                    _add_task(s, ev.get("Task Metrics") or {}, ev.get("Task Info") or {})
    return {"jobs": jobs, "stages": stages}


def _add_task(s: collections.Counter, m: dict, info: dict) -> None:
    s["tasks"] += 1
    run_ms = m.get("Executor Run Time", 0)
    s["executor_run_s"] += run_ms / 1000
    s["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    s["gc_s"] += m.get("JVM GC Time", 0) / 1000
    busy = (
        m.get("Executor Deserialize Time", 0)
        + run_ms
        + m.get("Result Serialization Time", 0)
        + info.get("Getting Result Time", 0)
    )
    wall = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    s["scheduler_delay_s"] += max(0, wall - busy) / 1000
    sr = m.get("Shuffle Read Metrics") or {}
    s["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    s["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0
    )
    s["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    s["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    s["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    for acc in info.get("Accumulables", []):
        metric = _PY_METRICS.get(acc.get("Name"))
        if metric:
            s[metric] += float(acc.get("Update") or 0) / 1000


def attribute(spans: list[dict], log: dict) -> None:
    """Add each op span's Spark totals: jobs by job group (falling back to
    the op's time window for jobs started on other threads, such as
    streaming micro-batches), stages and tasks through their jobs."""
    by_id = {s["op_id"]: s for s in spans}
    windows = sorted((s["start_ms"], s["end_ms"], s["op_id"]) for s in spans)
    owned: dict[str, list[int]] = collections.defaultdict(list)
    for jid, job in log["jobs"].items():
        group = job["group"]
        op_id = group[len("perfbench:"):] if group.startswith("perfbench:") else None
        if op_id not in by_id:
            op_id = next((o for a, b, o in windows if a <= job["submit_ms"] <= b), None)
        if op_id is not None:
            owned[op_id].append(jid)
    for span in spans:
        tot = collections.Counter()
        intervals, collect_intervals = [], []
        for jid in owned.get(span["op_id"], []):
            job = log["jobs"][jid]
            tot["jobs"] += 1
            interval = (job["submit_ms"], job["end_ms"] or job["submit_ms"])
            intervals.append(interval)
            if job["submit_ms"] <= span["build_end_ms"]:
                tot["build_jobs"] += 1
            else:
                collect_intervals.append(interval)
            ran = {sid for sid, _ in job["ran"]}
            tot["stages"] += len(job["ran"])
            tot["stages_skipped"] += len(job["stage_ids"] - ran)
            for key in job["ran"]:
                tot.update(log["stages"].get(key, {}))
        tot["job_wall_s"] = _union_s(intervals)
        tot["collect_job_wall_s"] = _union_s(collect_intervals)
        span["spark"] = dict(tot)


def _union_s(intervals) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total / 1000
