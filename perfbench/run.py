"""Benchmark the library as a caller sees it: one client in a closed loop
issues fresh library calls, end to end and (with ``--trace 1``) per layer.

    python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 20 --trace 0

Run it from the repository root.  It generates its inputs from the seed
under ``.perfbench_work/`` (deleted at exit), starts ``local[4]``,
runs the workload's ops once cold and then whole warm passes for about
``--seconds`` (at least one; another starts only if it should end in
time), checks
every op's output outside the timed region, and prints one JSON object
as the last line of standard output:

    {"correct": ..., "attempted": N, "failed": N, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones (see README.md).  The line before it is a JSON object of
details: data-generation and oracle time, per-op latencies, the
workload's own figures and the leak accounting.  A traced run also
writes its spans to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import random
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import checks  # noqa: E402
import datagen  # noqa: E402
import tracing  # noqa: E402
import workloads as W  # noqa: E402

CORES = 4
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
#: Roots the library may leave scratch under: its own ``.scratch/`` next to
#: the package, and the OS temp dir (the iteration-scratch default on
#: local masters), which this benchmark points into its work dir.  In the
#: temp dir only the library's own prefixes count; Spark's files do not.
LIB_SCRATCH = os.path.join(ROOT, ".scratch")
LIB_TMP_PREFIXES = ("pyspark_analytics_cc_", "sparkalytics_")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(W.workloads()))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(work: str, trace: bool) -> dict:
    """Keep every file Spark, the JVM and Python workers write inside the
    work dir, and turn on the event log for the traced run."""
    dirs = {k: os.path.join(work, k) for k in ("tmp", "spark-local", "eventlog")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        TMPDIR=dirs["tmp"],
        SPARK_LOCAL_DIRS=dirs["spark-local"],
        SPARK_GRAFT_CPUS=str(CORES),
        TZ="UTC",
    )
    time.tzset()
    tempfile.tempdir = None
    submit = ["--driver-java-options", f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"]
    if trace:
        for kv in (
            "spark.eventLog.enabled=true",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
            f"spark.eventLog.dir=file://{dirs['eventlog']}",
        ):
            submit += ["--conf", kv]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([*submit, "pyspark-shell"])
    return dirs


def _entries(path: str) -> dict[str, int]:
    if not os.path.isdir(path):
        return {}
    out = {}
    for name in os.listdir(path):
        full = os.path.join(path, name)
        out[name] = checks.tree_bytes(full) if os.path.isdir(full) else os.path.getsize(full)
    return out


def _rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process in MiB; 0 when unreadable."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


class Ctx:
    """What ops see: the session, the registry, the inputs and the checks."""

    def __init__(self, spark, registry, data_dir, work_dir, oracle):
        self.spark = spark
        self.registry = registry
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.oracle = oracle
        self.lake = None


def run_pass(ctx, ops, pass_no, records, tracer, manifest_io):
    for i, op in enumerate(ops):
        op_id = f"{pass_no}.{i}.{op.name}"
        io_before = dict(manifest_io) if manifest_io is not None else None
        if tracer:
            tracer.begin(ctx.spark, op_id, op.name)
        t0 = time.perf_counter()
        res, err = None, None
        try:
            res = op.run(ctx)
        except Exception as e:  # an op failure is counted, never fatal
            err = f"{type(e).__name__}: {e}"[:400]
        wall = time.perf_counter() - t0
        rec = {
            "op_id": op_id,
            "name": op.name,
            "layer": op.layer,
            "pass": pass_no,
            "latency_s": res.build_s + res.collect_s if res else wall,
            "build_s": res.build_s if res else wall,
            "collect_s": res.collect_s if res else 0.0,
            "rows": len(res.rows) if res else 0,
        }
        if tracer:
            span = tracer.end(ctx.spark, res)
            span["build_end_ms"] = span["start_ms"] + rec["build_s"] * 1000
            span["rec"] = rec
            if manifest_io is not None and op.layer == "lake":
                rec["manifest_reads"] = manifest_io["reads"] - io_before["reads"]
                rec["manifest_bytes"] = manifest_io["bytes"] - io_before["bytes"]
        c0 = time.perf_counter()
        if err is None:
            try:
                err = op.check(ctx, res)
            except Exception as e:
                err = f"check raised {type(e).__name__}: {e}"[:400]
        rec["check_s"] = time.perf_counter() - c0
        if res is not None:
            rec.update({k: v for k, v in res.extra.items() if isinstance(v, (int, float))})
        rec["error"] = err
        if err:
            print(f"[perfbench] {op_id} FAILED: {err}", file=sys.stderr, flush=True)
        records.append(rec)


def pass_order(ops, rng: random.Random) -> list:
    """A seeded order for one pass.  Lake ops keep their round order
    (append, merge, read, compact), so each round reads and compacts the
    same kind of table state; the other ops take seeded slots around them."""
    lake = [op for op in ops if op.layer == "lake"]
    order = rng.sample([op for op in ops if op.layer != "lake"], len(ops) - len(lake))
    for pos, op in zip(sorted(rng.sample(range(len(ops)), len(lake))), lake):
        order.insert(pos, op)
    return order


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def end_to_end(records, setup_s) -> dict:
    cold = [r for r in records if r["pass"] == 0]
    warm = [r for r in records if r["pass"] > 0]
    lat = [r["latency_s"] for r in warm]
    return {
        "setup_s": (setup_s, "s"),
        "cold_pass_s": (sum(r["latency_s"] for r in cold), "s"),
        "ops_per_s": (len(warm) / sum(lat), "ops/s"),
        "op_p50_s": (_median(lat), "s"),
    }


def workload_figures(records, ctx) -> dict:
    """Figures that only some workloads have (lake, streams, ANN)."""
    warm = [r for r in records if r["pass"] > 0]
    by = collections.defaultdict(list)
    for r in warm:
        by[r["name"]].append(r["latency_s"])
    lat = sorted(r["latency_s"] for r in warm)
    out = {
        "failed_ratio": sum(1 for r in records if r["error"]) / max(1, len(records)),
        "warm_ops": len(warm),
        # p90 only where at least ten samples lie beyond it
        "op_p90_s": statistics.quantiles(lat, n=10)[-1] if len(lat) >= 100 else None,
        "read_p50_s": _median(by["table_read"]),
        "write_p50_s": _median(by["table_append"] + by["table_merge_mor"]),
        "compact_p50_s": _median(by["table_compact"]),
        "ivf_recall": _median([r["ivf_recall"] for r in warm if "ivf_recall" in r]),
    }
    stream = [r for r in warm if r["layer"] == "stream"]
    n_events = ctx.oracle.con.execute("SELECT COUNT(*) FROM events").fetchone()[0]
    out["events_per_s"] = (
        n_events * len(stream) / sum(r["latency_s"] for r in stream) if stream else 0.0
    )
    if ctx.lake is not None:
        lake = ctx.lake
        stats = lake.cm.table_stats(lake.path)
        out["write_amp"] = lake.added_bytes / max(1, lake.user_bytes)
        out["space_amp"] = lake.dir_bytes() / max(1, lake.live_bytes())
        out["lake_files"] = stats["files"]
        out["lake_tombstone_files"] = stats["tombstone_files"]
    return out


def per_layer(records, tracer, setup, figures, leaks, op_spans, peak_rss) -> dict:
    warm_ids = {r["op_id"] for r in records if r["pass"] > 0}
    spans = [s for s in tracer.spans if s["op_id"] in warm_ids]
    n = max(1, len(spans))

    def mean(fn):
        return sum(fn(s) for s in spans) / n

    def spark(key):
        return mean(lambda s: s.get("spark", {}).get(key, 0))

    m = {
        "session.get_spark_s": setup["get_spark_s"],
        "registry.load_modules_s": setup["load_modules_s"],
        "registry.build_s": mean(lambda s: s["rec"]["build_s"]),
        "registry.build_jobs": spark("build_jobs"),
    }
    for ph in ("analysis", "optimization", "planning"):
        m[f"catalyst.{ph}_ms"] = mean(lambda s, ph=ph: s["catalyst"].get(ph, 0))
    for key in (
        "jobs", "stages", "stages_skipped", "tasks", "job_wall_s", "scheduler_delay_s",
        "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_read_bytes",
        "shuffle_write_bytes", "spill_bytes", "input_bytes", "output_bytes",
    ):
        m[f"spark.{key}"] = spark(key)
    for key in ("total_s", "boot_s", "init_s"):
        m[f"python_worker.{key}"] = spark(f"python_worker.{key}")
    m["driver.collect_s"] = mean(lambda s: s["rec"]["collect_s"])
    # collect time not covered by any Spark job: driver-side result work
    m["driver.remainder_s"] = mean(
        lambda s: s["rec"]["collect_s"] - s.get("spark", {}).get("collect_job_wall_s", 0)
    )
    m["driver.result_rows"] = mean(lambda s: s["rec"]["rows"])
    m["driver.peak_rss_mb"] = peak_rss
    for metric in tracing.OPERATOR_SPANS:
        calls = [c for c in op_spans if c["metric"] == metric and c["op_id"] in warm_ids]
        m[f"operators.{metric}"] = _median([c["wall_s"] for c in calls])
    cc = [c for c in op_spans if c["metric"] == "connected_components_s" and c["op_id"] in warm_ids]
    m["operators.cc_jobs"] = _median([c.get("jobs", 0) for c in cc])
    lake_recs = [s["rec"] for s in spans if s["rec"]["layer"] == "lake"]
    for name in ("table_append", "table_merge_mor", "table_read", "table_compact"):
        m[f"commit.{name}_s"] = _median([r["latency_s"] for r in lake_recs if r["name"] == name])
    m["commit.manifest_reads"] = _median([r.get("manifest_reads", 0) for r in lake_recs])
    m["commit.manifest_bytes"] = _median([r.get("manifest_bytes", 0) for r in lake_recs])
    for key in ("read_p50_s", "write_p50_s", "compact_p50_s"):
        m[f"commit.{key}"] = figures[key]
    m["commit.write_amp"] = figures.get("write_amp", 0.0)
    m["commit.space_amp"] = figures.get("space_amp", 0.0)
    m["commit.files"] = figures.get("lake_files", 0)
    m["commit.tombstone_files"] = figures.get("lake_tombstone_files", 0)
    stream = [s for s in spans if s["rec"]["layer"] == "stream"]
    prog = [p for s in stream for p in s.get("progress", [])]
    k = max(1, len(stream))
    m["streaming.batches"] = len(prog) / k
    for key in ("batch_ms", "add_batch_ms", "query_planning_ms", "wal_commit_ms",
                "input_rows", "state_rows", "state_memory_bytes"):
        m[f"streaming.{key}"] = sum(p[key] for p in prog) / k
    m["streaming.non_batch_s"] = sum(
        s["rec"]["latency_s"] - sum(p["batch_ms"] for p in s.get("progress", [])) / 1000
        for s in stream
    ) / k
    m["streaming.events_per_s"] = figures["events_per_s"]
    m["quality.ivf_recall"] = figures["ivf_recall"]
    m["scratch.dirs_left"] = leaks["dirs_left"]
    m["scratch.bytes_left"] = leaks["bytes_left"]
    return m


def per_op_layers(spans) -> dict:
    """Per op name, the median over its warm calls of each span figure."""
    by = collections.defaultdict(list)
    for s in spans:
        if s["rec"]["pass"] > 0:
            by[s["name"]].append(s)
    out = {}
    for name, ss in by.items():
        row = {k: _median([x["rec"][k] for x in ss]) for k in ("latency_s", "build_s", "collect_s")}
        for ph in ("analysis", "optimization", "planning"):
            row[f"catalyst.{ph}_ms"] = _median([x["catalyst"].get(ph, 0) for x in ss])
        keys = {k for x in ss for k in x.get("spark", {})}
        for k in sorted(keys):
            row[f"spark.{k}"] = _median([x.get("spark", {}).get(k, 0) for x in ss])
        out[name] = row
    return out


def attribute_progress(tracer) -> None:
    """Hand each streaming progress event to the op whose window holds it."""
    import datetime as dt

    for p in tracer.progress:
        ts = dt.datetime.fromisoformat(p["ts"].replace("Z", "+00:00")).timestamp() * 1000
        for s in tracer.spans:
            if s["start_ms"] - 1 <= ts <= s["end_ms"]:
                s.setdefault("progress", []).append(p)
                break


def attribute_operator_spans(tracer, log) -> None:
    for call in tracer.op_calls:
        call["jobs"] = sum(
            1 for j in log["jobs"].values() if call["start_ms"] <= j["submit_ms"] <= call["end_ms"]
        )


def _descendants(pid: int) -> list[int]:
    """Every live process below ``pid``, from /proc."""
    children = collections.defaultdict(list)
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(") ", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children[ppid].append(int(entry))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(") ", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def stop_gateway(spark) -> None:
    """Stop the session, then the gateway JVM and the Python workers it
    started, and wait until every one of them has ended."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    procs = _descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while any(_alive(p) for p in procs) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in procs:
        if _alive(p):
            os.kill(p, 9)


def main(argv=None) -> int:
    args = parse_args(argv)
    wl = W.workloads()[args.workload]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        return run(args, wl, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass


def run(args, wl, work) -> int:
    trace = bool(args.trace)
    dirs = configure_env(work, trace)
    try:
        from pyspark_analytics_library_spark.registry import REGISTRY, load_all_query_modules
        from pyspark_analytics_library_spark.session import get_spark
    except ImportError as e:
        print(f"perfbench: the library is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    # Inputs (excluded from every metric).
    t0 = time.perf_counter()
    data_dir = os.path.join(work, "data")
    rows = datagen.generate(
        data_dir, args.seed, W.SF, W.CORPUS_DOCS, W.CORPUS_VECS, wl.near_dup_copies
    )
    gen_s = time.perf_counter() - t0
    scratch_before = _entries(LIB_SCRATCH)
    tmp_before = _entries(dirs["tmp"])

    # Set-up, as a caller pays it in a fresh process.
    t0 = time.perf_counter()
    spark = get_spark()
    t1 = time.perf_counter()
    load_all_query_modules()
    t2 = time.perf_counter()
    setup = {"get_spark_s": t1 - t0, "load_modules_s": t2 - t1}
    jvm_pid = spark.sparkContext._gateway.proc.pid

    from pyspark_analytics_library_spark.sources.io import TABLES

    t0 = time.perf_counter()
    oracle = checks.Oracle(data_dir, TABLES)
    for op in wl.ops:  # expected results once per process, before timing
        spec = REGISTRY.get(op.name)
        if op.layer == "query" and spec is not None and spec.oracle:
            oracle.expected(op.name, spec.oracle)
    oracle_s = time.perf_counter() - t0

    ctx = Ctx(spark, REGISTRY, data_dir, work, oracle)
    tracer = manifest_io = None
    if trace:
        tracer = tracing.Tracer()
        tracer.install_stream_listener(spark)
        tracer.install_operator_spans()
    records: list[dict] = []
    rng = random.Random(args.seed)
    try:
        t0 = time.perf_counter()
        if wl.lake:
            ctx.lake = W.Lake(ctx, args.seed)
            manifest_io = ctx.lake.cm.MANIFEST_IO if trace else None
        lake_init_s = time.perf_counter() - t0
        loop0 = time.perf_counter()
        run_pass(ctx, pass_order(wl.ops, rng), 0, records, tracer, manifest_io)
        # Whole warm passes; start another only if it should end in time.
        warm0 = time.perf_counter()
        passes, last = 0, 0.0
        while passes == 0 or time.perf_counter() - warm0 + last <= args.seconds:
            passes += 1
            p0 = time.perf_counter()
            run_pass(ctx, pass_order(wl.ops, rng), passes, records, tracer, manifest_io)
            last = time.perf_counter() - p0
        loop_s = time.perf_counter() - loop0
        figures = workload_figures(records, ctx)
    finally:
        if ctx.lake is not None:
            ctx.lake.drop()
        peak_rss = _rss_mb(jvm_pid) + _rss_mb(os.getpid())
        if tracer:
            tracer.uninstall()
            tracer.remove_stream_listener(spark)
        t0 = time.perf_counter()
        stop_gateway(spark)
        stop_s = time.perf_counter() - t0
        oracle.close()

    # Leak accounting: what the workload left under the scratch roots.
    new_scratch = {k: v for k, v in _entries(LIB_SCRATCH).items() if k not in scratch_before}
    new_tmp = {
        k: v
        for k, v in _entries(dirs["tmp"]).items()
        if k not in tmp_before and k.startswith(LIB_TMP_PREFIXES)
    }
    leaks = {
        "dirs_left": len(new_scratch) + len(new_tmp),
        "bytes_left": sum(new_scratch.values()) + sum(new_tmp.values()),
        "left": sorted(new_scratch) + sorted(new_tmp),
    }
    for name in new_scratch:  # keep runs independent of each other
        shutil.rmtree(os.path.join(LIB_SCRATCH, name), ignore_errors=True)

    attempted = len(records)
    failed = sum(1 for r in records if r["error"])
    detail = {
        "workload": wl.name,
        "seed": args.seed,
        "trace": int(trace),
        "rows_generated": rows,
        "data_gen_s": gen_s,
        "oracle_s": oracle_s,
        "lake_init_s": lake_init_s,
        "loop_s": loop_s,
        "stop_s": stop_s,
        "warm_passes": passes,
        "peak_rss_mb": peak_rss,
        "figures": figures,
        "leaks": leaks,
        "op_latency_s": {
            name: [round(r["latency_s"], 4) for r in records if r["name"] == name]
            for name in dict.fromkeys(r["name"] for r in records)
        },
        "errors": [f"{r['op_id']}: {r['error']}" for r in records if r["error"]][:10],
    }
    os.makedirs(OUT_DIR, exist_ok=True)
    last_untraced = os.path.join(OUT_DIR, f"last-{wl.name}-seed{args.seed}.json")
    if trace:
        log = tracing.read_event_log(dirs["eventlog"])
        tracing.attribute(tracer.spans, log)
        attribute_progress(tracer)
        attribute_operator_spans(tracer, log)
        metrics = per_layer(records, tracer, setup, figures, leaks, tracer.op_calls, peak_rss)
        detail["per_op"] = per_op_layers(tracer.spans)
        if os.path.exists(last_untraced):
            with open(last_untraced) as fh:
                base = json.load(fh)
            detail["trace_overhead_s"] = loop_s - base["loop_s"]
        spans_path = os.path.join(OUT_DIR, f"spans-{wl.name}-seed{args.seed}.json")
        with open(spans_path, "w") as fh:
            json.dump({"spans": tracer.spans, "operator_calls": tracer.op_calls}, fh, default=str)
        detail["spans_file"] = os.path.relpath(spans_path, ROOT)
        units = {}
    else:
        e2e = end_to_end(records, setup["get_spark_s"] + setup["load_modules_s"])
        metrics = {k: v for k, (v, _) in e2e.items()}
        units = {k: u for k, (_, u) in e2e.items()}
        with open(last_untraced, "w") as fh:
            json.dump({"loop_s": loop_s}, fh)
    print(json.dumps(detail, default=str), flush=True)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": v, "unit": units.get(k) or _layer_unit(k)} for k, v in metrics.items()
        },
    }
    print(json.dumps(result), flush=True)
    return 0


def _layer_unit(name: str) -> str:
    if name.endswith("per_s"):
        return "1/s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith(("_ratio", "_amp", "_recall")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
