"""The benchmark's own discipline, pinned.

Run from the repository root:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

* Every timed op is a fresh library call: after the cold call, its
  second timed call runs as many stages as its first.  Re-collecting a DataFrame instead would reuse
  the shuffle output of the first collect and run fewer (the control
  case below shows the event log tells the two apart).
* The benchmark never sets a ``spark.analytics.*`` key, in its source
  or in the session after a workload's ops ran.
"""

from __future__ import annotations

import os
import pathlib
import sys

import pytest

HERE = pathlib.Path(__file__).resolve().parents[1]
sys.path[:0] = [str(HERE), str(HERE.parent)]

import run  # noqa: E402
import tracing  # noqa: E402
import workloads as W  # noqa: E402


@pytest.fixture(scope="module")
def bench(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("perfbench"))
    dirs = run.configure_env(work, trace=True)
    import checks
    import datagen

    from pyspark_analytics_library_spark.registry import REGISTRY, load_all_query_modules
    from pyspark_analytics_library_spark.session import get_spark
    from pyspark_analytics_library_spark.sources.io import TABLES

    data_dir = os.path.join(work, "data")
    datagen.generate(data_dir, 3, 0.001, 100, 100)
    spark = get_spark()
    load_all_query_modules()
    ctx = run.Ctx(spark, REGISTRY, data_dir, work, checks.Oracle(data_dir, TABLES))
    yield ctx, dirs["eventlog"]
    spark.stop()


def _stages_run(log_dir: str, group: str) -> tuple[int, int]:
    """(jobs, stages executed) under one job group, from the event log."""
    log = tracing.read_event_log(log_dir)
    jobs = [j for j in log["jobs"].values() if j["group"] == group]
    return len(jobs), sum(len(j["ran"]) for j in jobs)


def _op(name):
    return next(op for op in W.workloads()["olap_mix"].ops if op.name == name)


def test_second_fresh_call_runs_as_many_stages_as_the_first(bench):
    ctx, log_dir = bench
    op = _op("agg_pricing_summary")
    sc = ctx.spark.sparkContext
    op.run(ctx)  # the cold call also loads and caches the session's tables
    runs = []
    for call in ("first", "second"):
        sc.setJobGroup(f"test:{call}", call)
        res = op.run(ctx)
        assert op.check(ctx, res) is None
        runs.append(_stages_run(log_dir, f"test:{call}"))
    # Control: re-collecting the second call's DataFrame reuses its shuffles.
    sc.setJobGroup("test:recollect", "recollect")
    res.df.collect()
    recollect = _stages_run(log_dir, "test:recollect")
    sc.setJobGroup("test:idle", "idle")
    (jobs1, stages1), (jobs2, stages2) = runs
    assert stages1 > 1 and stages2 == stages1, runs
    assert jobs2 == jobs1, runs
    assert recollect[1] < stages2, (recollect, runs)


def test_benchmark_sets_no_analytics_conf_key(bench):
    ctx, _ = bench
    for op in W.workloads()["olap_mix"].ops[:3]:
        op.run(ctx)
    keys = [k for k in ctx.spark.conf.getAll if k.startswith("spark.analytics.")]
    assert keys == []
    for path in HERE.glob("*.py"):  # no session conf is set anywhere
        assert "conf.set(" not in path.read_text(), path
