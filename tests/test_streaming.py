"""Streaming queries (SURVEY.md §2.11): each streaming result matches
the same logic run as a Spark batch job, the DuckDB oracles reject
wrong stream results, unfinished streams raise instead of returning a
partial sink, and the scratch janitor reclaims exactly its leak classes.

Whether each query's result equals its DuckDB oracle is checked by
tests/test_driver_contract.py::test_query_matches_oracle.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyspark_analytics_library_spark.registry import REGISTRY, load_all_query_modules
from pyspark_analytics_library_spark.sources.io import load_tables
from pyspark_analytics_library_spark.streaming.stream_queries import (
    run_to_memory,
    stream_events,
)
from tests.conftest import TEST_SF_DIR, assert_query_matches_oracle

load_all_query_modules()


def _events(spark):
    return load_tables(spark, TEST_SF_DIR)["events"]


def test_stream_tumbling_matches_batch(spark):
    stream = REGISTRY["stream_tumbling"].fn(spark, TEST_SF_DIR)
    batch = (
        _events(spark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
    assert sorted(map(tuple, stream.collect())) == sorted(map(tuple, batch.collect()))


def test_stream_sliding_matches_batch(spark):
    stream = REGISTRY["stream_sliding"].fn(spark, TEST_SF_DIR)
    batch = (
        _events(spark)
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
    )
    assert sorted(map(tuple, stream.collect())) == sorted(map(tuple, batch.collect()))


def test_stream_session_total_events_preserved(spark):
    stream = REGISTRY["stream_session"].fn(spark, TEST_SF_DIR)
    assert stream.agg(F.sum("n_events")).collect()[0][0] == _events(spark).count()


def test_stream_late_data_drops_rows(spark):
    """APPEND mode + advanced watermark must drop the late file's rows."""
    stream = REGISTRY["stream_late_data"].fn(spark, TEST_SF_DIR)
    counted = stream.agg(F.sum("n_events")).collect()[0][0] or 0
    total = _events(spark).count()
    assert counted < total, f"late rows were not dropped ({counted} vs {total})"
    assert counted > 0


def test_stream_late_data_output_has_no_precutoff_window(spark):
    """Spark-side comparison on purpose: collected timestamps render in
    the driver OS timezone, not the session timezone, so a Python-side
    `< datetime(...)` would break (or silently weaken) on any non-UTC
    machine."""
    stream = REGISTRY["stream_late_data"].fn(spark, TEST_SF_DIR)
    cutoff = F.lit("2024-01-10 00:00:00").cast("timestamp")
    pre, total = stream.agg(
        F.count_if(F.col("window_start") < cutoff), F.count(F.lit(1))
    ).collect()[0]
    assert total > 0
    assert pre == 0


def test_stream_dedup_collapses_duplicates(spark):
    stream = REGISTRY["stream_dedup"].fn(spark, TEST_SF_DIR)
    batch = _events(spark).groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    assert sorted(map(tuple, stream.collect())) == sorted(map(tuple, batch.collect()))


def test_stream_stateful_matches_batch_totals(spark):
    stream = REGISTRY["stream_stateful"].fn(spark, TEST_SF_DIR)
    batch = (
        _events(spark)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )
    s = {r["user_id"]: (r["n_events"], r["total_value"]) for r in stream.collect()}
    b = {r["user_id"]: (r["n_events"], r["total_value"]) for r in batch.collect()}
    assert set(s) == set(b)
    for uid, (n, _) in b.items():
        assert s[uid][0] == n, (uid, s[uid], (n, _))
        # totals accumulate float-sequentially across batches; compare loosely
        assert abs(s[uid][1] - b[uid][1]) < 1e-6


def test_stream_sink_covers_all_events(spark):
    stream = REGISTRY["stream_sink"].fn(spark, TEST_SF_DIR)
    assert stream.agg(F.sum("n")).collect()[0][0] == _events(spark).count()


def test_stream_static_join_matches_batch(spark):
    stream = REGISTRY["stream_static_join"].fn(spark, TEST_SF_DIR)
    ev = _events(spark)
    static = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("lifetime_events"))
    batch = (
        ev.join(static, "user_id")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("lifetime_events").alias("max_lifetime"),
        )
    )
    assert sorted(map(tuple, stream.collect())) == sorted(map(tuple, batch.collect()))


def test_stream_stream_join_matches_batch(spark):
    stream = REGISTRY["stream_stream_join"].fn(spark, TEST_SF_DIR)
    ev = _events(spark)
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    batch = (
        clicks.join(
            purchases,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("p_ts") > F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
        )
        .groupBy(F.col("c_user").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n_click_purchase_pairs"))
    )
    assert sorted(map(tuple, stream.collect())) == sorted(map(tuple, batch.collect()))


def test_stream_foreach_batch_matches_batch_totals(spark):
    """foreachBatch appends per-micro-batch aggregates; re-aggregating
    them must reproduce the plain batch totals regardless of how many
    micro-batches the source emitted."""
    stream = REGISTRY["stream_foreach_batch"].fn(spark, TEST_SF_DIR)
    batch = (
        _events(spark)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .orderBy("event_type")
    )
    got = [(r["event_type"], r["n_events"], round(r["total_value"], 3)) for r in stream.collect()]
    want = [(r["event_type"], r["n_events"], round(r["total_value"], 3)) for r in batch.collect()]
    assert got == want


def _tumbling_missing_one_window(spark):
    df = REGISTRY["stream_tumbling"].fn(spark, TEST_SF_DIR)
    first = df.agg(F.min("window_start").alias("w0"))
    return df.join(first, df["window_start"] == first["w0"], "left_anti")


def _late_data_without_watermark(spark):
    """Every hourly window in batch: keeps the pre-cutoff windows the
    watermark drops and the final windows it never closes."""
    return (
        _events(spark)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )


def _dedup_without_dropping_duplicates(spark):
    ev = stream_events(spark, TEST_SF_DIR)
    agg = ev.union(ev).groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    name, s = run_to_memory(agg, "complete")
    return s.table(name)


@pytest.mark.parametrize(
    "name, wrong",
    [
        ("stream_tumbling", _tumbling_missing_one_window),
        ("stream_late_data", _late_data_without_watermark),
        ("stream_dedup", _dedup_without_dropping_duplicates),
    ],
)
def test_stream_oracle_rejects_wrong_result(spark, oracle, name, wrong):
    """The oracles replace the queries' former in-query batch-twin
    checks, so each must fail on the divergence that check caught."""
    with pytest.raises(AssertionError):
        assert_query_matches_oracle(
            wrong(spark), oracle, REGISTRY[name].oracle, name=name
        )


@pytest.mark.parametrize(
    "name", ["stream_tumbling", "stream_sink", "stream_foreach_batch"]
)
def test_unfinished_stream_raises_timeout(spark, monkeypatch, name):
    """A stream that did not drain its source within the timeout leaves
    a partial sink; the query must raise rather than return it.  One
    query per wait site: the memory sink and both foreachBatch sinks."""
    from pyspark.sql.streaming import StreamingQuery

    monkeypatch.setattr(
        StreamingQuery, "awaitTermination", lambda self, timeout=None: False
    )
    with pytest.raises(TimeoutError):
        REGISTRY[name].fn(spark, TEST_SF_DIR)


def test_scratch_janitor_prunes_leaked_dirs_only(tmp_path, monkeypatch):
    """The scratch janitor must reclaim exactly the leak classes it
    documents — aged uuid sinks and dead-pid late-stream splits — and
    must never touch a live pid's split, a fresh sink, or the reusable
    keyed staging dirs (VERDICT r6 #6 / ADVICE r6)."""
    import os
    import subprocess
    import time

    import pyspark_analytics_library_spark.streaming.stream_queries as sq

    p = subprocess.Popen(["true"])
    p.wait()
    dead_pid = p.pid
    p2 = subprocess.Popen(["true"])
    p2.wait()
    dead_pid2 = p2.pid  # distinct dead pid for the pruned pid<NNN> case

    now = time.time()
    aged = now - sq._SCRATCH_MAX_AGE_S - 60  # past the 6 h gate
    graced = now - sq._SCRATCH_DEAD_GRACE_S - 60  # past dead-pid grace only
    # late_stream_sf_gh_1: pid 1 is init — alive for the life of the
    # container — and its dir is aged past the gate; a CONFIRMED-live
    # pid must keep its split even then (a long-lived session reuses
    # its staging without ever refreshing the dir mtime).  On an
    # unprivileged runner kill(1, 0) raises EPERM rather than
    # succeeding — which still proves pid 1 exists, and pid_state maps
    # PermissionError to 'alive' (ADVICE r8), so this case is
    # privilege-independent.  The superscript-³ and the >C-long pid
    # are hostile name shapes that must be skipped, not crash the
    # best-effort janitor.
    keep = {
        "feb_fresh": None,  # legacy pid-less name, inside the age gate
        "stream_src_fresh": None,
        f"feb_{os.getpid()}_aaaa1111": None,  # own pid — alive by definition
        "late_stream_sf_gh_1": aged,
        f"late_stream_sf_ab_{os.getpid()}": None,
        f"feb_{dead_pid}_ingrace": None,  # dead but FRESH — grace holds it
        "feb_³_x": None,  # isdigit() but not int()-able
        "late_stream_sf_huge_99999999999999999999": None,
        # pid<NNN> scan-sink scratch (round-8 class): own pid is alive
        # by definition even past the age gate; pid 1 is init — a
        # confirmed-live pid keeps its sinks at any age; dead-but-fresh
        # is held by the grace; "pidfile" is not a pid shape at all.
        f"pid{os.getpid()}": aged,
        "pid1": aged,
        f"pid{dead_pid}": None,  # dead but FRESH — grace holds it
        "pidfile": aged,  # suffix isn't a pid — never touch
    }
    prune = {
        "feb_aged": aged,  # legacy pid-less name, past the age gate
        "stream_sink_aged": aged,
        "stream_src_aged": aged,
        f"feb_{dead_pid}_bbbb2222": graced,  # dead + past grace
        f"stream_sink_{dead_pid}_cccc3333": graced,
        f"late_stream_sf_cd_{dead_pid}": graced,
        f"late_stream3_sf_legacy_{dead_pid}": graced,  # pre-rename generation
        f"pid{dead_pid2}": graced,  # dead + past grace — reclaimed
    }
    for name, mtime in {**keep, **prune}.items():
        d = tmp_path / name
        d.mkdir()
        (d / "payload").write_text("x")
        if mtime is not None:
            os.utime(d, (mtime, mtime))

    # Broken-symlink staging (VERDICT r12 #8): a stream_src_* dir whose
    # links ALL dangle (pytest tmp fixture rotated away) is reclaimed on
    # the dead-grace path; a live-target link stays age-gated; a fresh
    # broken dir is held by the grace; a mixed dir (any non-link or any
    # live link) stays age-gated.
    live_target = tmp_path / "live_fixture.parquet"
    live_target.write_text("x")
    sym_cases = {
        "stream_src_shape_broken": (graced, tmp_path / "gone.parquet", True),
        "stream_src_shape_broken_fresh": (None, tmp_path / "gone2.parquet", False),
        "stream_src_shape_live": (graced, live_target, False),
    }
    for name, (mtime, target, _) in sym_cases.items():
        d = tmp_path / name
        d.mkdir()
        os.symlink(target, d / "events.parquet")
        if mtime is not None:
            os.utime(d, (mtime, mtime))
    mixed = tmp_path / "stream_src_shape_mixed"
    mixed.mkdir()
    os.symlink(tmp_path / "gone3.parquet", mixed / "events.parquet")
    (mixed / "marker").write_text("x")
    os.utime(mixed, (graced, graced))
    keep.update(
        {n: None for n, (_, _, pruned) in sym_cases.items() if not pruned}
    )
    keep["stream_src_shape_mixed"] = None
    keep["live_fixture.parquet"] = None  # plain file at the root — untouched

    monkeypatch.setattr(sq, "_SCRATCH", str(tmp_path))
    monkeypatch.setattr(sq, "_SCRATCH_PRUNED", False)
    sq._prune_stale_scratch()
    assert {e.name for e in tmp_path.iterdir()} == set(keep)
    # The latch makes the second call a no-op even with new leaks.
    (tmp_path / f"late_stream_sf_ef_{dead_pid}").mkdir()
    sq._prune_stale_scratch()
    assert f"late_stream_sf_ef_{dead_pid}" in {e.name for e in tmp_path.iterdir()}


def test_scratch_janitor_eperm_means_alive(tmp_path, monkeypatch):
    """kill(pid, 0) → EPERM proves the process EXISTS (POSIX kill(2)):
    the janitor must treat it as confirmed-live and keep the dir at ANY
    age — not degrade to 'unknown' and age-gate a live other-uid
    process's scratch (ADVICE r8)."""
    import os
    import time

    import pyspark_analytics_library_spark.streaming.stream_queries as sq

    real_kill = os.kill

    def eperm_kill(pid, sig):
        if pid == 4242:
            raise PermissionError("simulated other-uid live process")
        return real_kill(pid, sig)

    monkeypatch.setattr(os, "kill", eperm_kill)
    aged = time.time() - sq._SCRATCH_MAX_AGE_S - 60
    for name in ("pid4242", "late_stream_sf_xy_4242", "feb_4242_dddd4444"):
        d = tmp_path / name
        d.mkdir()
        os.utime(d, (aged, aged))
    monkeypatch.setattr(sq, "_SCRATCH", str(tmp_path))
    monkeypatch.setattr(sq, "_SCRATCH_PRUNED", False)
    sq._prune_stale_scratch()
    assert {e.name for e in tmp_path.iterdir()} == {
        "pid4242",
        "late_stream_sf_xy_4242",
        "feb_4242_dddd4444",
    }


def test_scan_scratch_invokes_janitor(tmp_path, monkeypatch):
    """`scan_queries._scratch()` must run the janitor too, so a replay
    that never touches a streaming query still reclaims dead-pid
    scan-sink dirs — the pre-round-8 leak was exactly this class
    accumulating because only streaming queries pruned (VERDICT r7 #2)."""
    import os
    import subprocess
    import time

    import pyspark_analytics_library_spark.sources.scan_queries as scq
    import pyspark_analytics_library_spark.streaming.stream_queries as sq

    p = subprocess.Popen(["true"])
    p.wait()
    leaked = tmp_path / f"pid{p.pid}"
    leaked.mkdir()
    (leaked / "payload").write_text("x")
    graced = time.time() - sq._SCRATCH_DEAD_GRACE_S - 60
    os.utime(leaked, (graced, graced))

    monkeypatch.setattr(sq, "_SCRATCH", str(tmp_path))
    monkeypatch.setattr(sq, "_SCRATCH_PRUNED", False)
    monkeypatch.setattr(scq, "_SCRATCH", str(tmp_path / f"pid{os.getpid()}"))
    path = scq._scratch("sink_probe")
    assert not leaked.exists()
    assert path.endswith(os.path.join(f"pid{os.getpid()}", "sink_probe"))
