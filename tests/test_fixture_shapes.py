"""Fixture-shape regression tests (VERDICT r3 task #3).

The driver's fixture generator has emitted two different physical
encodings for ``events.ts`` across rounds — Parquet TIMESTAMP(NANOS)
(read as int64 under ``nanosAsLong``) in rounds 1-2, then plain
``timestamp[us]`` without timezone (read as TIMESTAMP_NTZ) in round 3 —
and the round-3 switch broke 12 queries three hours after the last
commit.  These tests synthesize tiny parquet files in all plausible
encodings and assert the full timestamp-sensitive surface works on each:

- ``load_table`` normalizes ``ts`` to TIMESTAMP with the exact same µs
  epoch values DuckDB reads from the same file,
- ``sessionize`` (needs ``CAST(ts AS LONG)``),
- ``withWatermark`` + windowed streaming agg (rejects NTZ),
- ``session_window`` engine-managed session merge (the other
  timestamp-sensitive surface, VERDICT r3 task #7).
"""

from __future__ import annotations

import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from pyspark_analytics_library_spark.sources.io import load_table
from pyspark_analytics_library_spark.streaming.stream_queries import (
    run_to_memory,
    stream_events,
)

# One hour of events for two users with a >30 min gap, expressed as µs
# since epoch.  2022-03-01T00:00:00Z = 1646092800.
_BASE_US = 1_646_092_800 * 1_000_000
_ROWS = [
    # (event_id, ts_us, user_id, event_type, value, props)
    (1, _BASE_US + 0, 1, "click", 1.0, "{}"),
    (2, _BASE_US + 60_000_000, 1, "view", 2.0, "{}"),
    (3, _BASE_US + 2_000_000_000, 1, "click", 3.0, "{}"),  # +33 min gap
    (4, _BASE_US + 500_000, 2, "view", 4.0, "{}"),
    (5, _BASE_US + 3_700_000_000, 2, "click", 5.0, "{}"),  # +61 min gap
]


def _write_events(path: str, encoding: str) -> None:
    """Write the fixture in one of the generator's plausible encodings."""
    ids, ts_us, users, types, values, props = (list(c) for c in zip(*_ROWS))
    if encoding == "int64_nanos":
        # Parquet TIMESTAMP(NANOS): pyarrow timestamp[ns] column.
        ts_arr = pa.array([t * 1000 for t in ts_us], type=pa.timestamp("ns"))
    elif encoding == "us_ntz":
        ts_arr = pa.array(ts_us, type=pa.timestamp("us"))
    elif encoding == "us_utc":
        ts_arr = pa.array(ts_us, type=pa.timestamp("us", tz="UTC"))
    elif encoding == "ms_utc":
        ts_arr = pa.array(
            [t // 1000 for t in ts_us], type=pa.timestamp("ms", tz="UTC")
        )
    else:  # pragma: no cover
        raise ValueError(encoding)
    table = pa.table(
        {
            "event_id": pa.array(ids, type=pa.int64()),
            "ts": ts_arr,
            "user_id": pa.array(users, type=pa.int64()),
            "event_type": pa.array(types, type=pa.string()),
            "value": pa.array(values, type=pa.float64()),
            "props": pa.array(props, type=pa.string()),
        }
    )
    pq.write_table(table, path)


ENCODINGS = ["int64_nanos", "us_ntz", "us_utc", "ms_utc"]


@pytest.fixture(scope="module", params=ENCODINGS)
def sf_dir(request, tmp_path_factory):
    d = tmp_path_factory.mktemp(f"shape_{request.param}")
    _write_events(os.path.join(str(d), "events.parquet"), request.param)
    return str(d)


def test_load_table_normalizes_to_timestamp(spark, sf_dir):
    df = load_table(spark, sf_dir, "events")
    assert dict(df.dtypes)["ts"] == "timestamp", dict(df.dtypes)
    # Epoch µs must equal DuckDB's read of the same file bit-for-bit.
    got = {
        r["event_id"]: r["us"]
        for r in df.select(
            "event_id", F.unix_micros("ts").alias("us")
        ).collect()
    }
    con = duckdb.connect()
    want = dict(
        con.execute(
            "SELECT event_id, epoch_us(ts) FROM "
            f"read_parquet('{sf_dir}/events.parquet')"
        ).fetchall()
    )
    con.close()
    assert got == want


def test_sessionize_runs_on_all_encodings(spark, sf_dir):
    from pyspark_analytics_library_spark.operators.timeseries import sessionize

    df = load_table(spark, sf_dir, "events")
    out = sessionize(df, "user_id", "ts", "event_id")
    sessions = {
        (r["user_id"], r["event_id"]): r["session_id"] for r in out.collect()
    }
    # user 1: events 1,2 in session 1; event 3 (33-min gap) opens session 2.
    # user 2: event 4 in session 1; event 5 (61-min gap) opens session 2.
    assert sessions == {
        (1, 1): 1,
        (1, 2): 1,
        (1, 3): 2,
        (2, 4): 1,
        (2, 5): 2,
    }


def test_watermark_stream_runs_on_all_encodings(spark, sf_dir):
    ev = stream_events(spark, sf_dir)
    assert dict(ev.dtypes)["ts"] == "timestamp", dict(ev.dtypes)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    name, s = run_to_memory(agg, "complete")
    rows = s.table(name).collect()
    # Events span hours 0 and 1 after _BASE_US (event 5 is at +61 min).
    assert sum(r["n_events"] for r in rows) == len(_ROWS)
    assert len(rows) == 2


def test_session_window_runs_on_all_encodings(spark, sf_dir):
    """Engine-managed session merge (session_window) is the other
    timestamp-sensitive surface — it also requires TIMESTAMP."""
    df = load_table(spark, sf_dir, "events")
    out = (
        df.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    # Same session structure as test_sessionize: 2 sessions per user.
    per_user = {}
    for r in out:
        per_user[r["user_id"]] = per_user.get(r["user_id"], 0) + 1
    assert per_user == {1: 2, 2: 2}


@pytest.mark.parametrize("encoding", ENCODINGS)
def test_lineitem_shipdate_drift_normalizes_to_ntz(spark, tmp_path, encoding):
    """l_shipdate / o_orderdate are timestamp[us]-NTZ in today's
    fixtures; if a regeneration re-encodes them (int64 nanos, or
    tz-annotated), the loader must still land on TIMESTAMP_NTZ with
    identical µs values — otherwise every date comparison breaks the
    way events.ts broke in round 3."""
    ts_us = [_BASE_US, _BASE_US + 86_400_000_000]  # two days
    if encoding == "int64_nanos":
        arr = pa.array([t * 1000 for t in ts_us], type=pa.timestamp("ns"))
    elif encoding == "us_ntz":
        arr = pa.array(ts_us, type=pa.timestamp("us"))
    elif encoding == "us_utc":
        arr = pa.array(ts_us, type=pa.timestamp("us", tz="UTC"))
    else:  # ms_utc
        arr = pa.array([t // 1000 for t in ts_us], type=pa.timestamp("ms", tz="UTC"))
    table = pa.table(
        {
            "l_orderkey": pa.array([1, 2], type=pa.int64()),
            "l_shipdate": arr,
        }
    )
    pq.write_table(table, str(tmp_path / "lineitem.parquet"))
    df = load_table(spark, str(tmp_path), "lineitem")
    assert dict(df.dtypes)["l_shipdate"] == "timestamp_ntz", dict(df.dtypes)
    got = sorted(
        r["us"]
        for r in df.select(
            F.unix_micros(F.col("l_shipdate").cast("timestamp")).alias("us")
        ).collect()
    )
    assert got == ts_us
    # A date comparison — what every TPC-H composite does — must work.
    assert df.filter(F.col("l_shipdate") < "2022-03-02").count() == 1


def test_missing_sf_dir_fails_eagerly_with_path_error(spark):
    """A wrong sf_dir must fail AT LOAD with the offending path in the
    message — not lazily at first action N stages into a pipeline
    (load_tables touches every table's footer up front)."""
    import pytest
    from pyspark.errors import AnalysisException

    from pyspark_analytics_library_spark.sources.io import load_tables

    with pytest.raises(AnalysisException, match="sf_does_not_exist"):
        load_tables(spark, "/root/testdata/sf_does_not_exist")


def test_every_fixture_scale_has_events_on_both_sides_of_the_late_cutoff():
    """stream_late_data streams the events before its cutoff as a
    very-late file that the watermark must drop, and its oracle keeps
    only windows from the cutoff on.  A fixture with no event on one
    side of the cutoff would let that oracle pass without any drop
    being tested."""
    import glob

    from pyspark_analytics_library_spark.streaming.stream_queries import (
        _LATE_CUTOFF,
    )
    from tests.conftest import TEST_SF_DIR

    root = os.path.dirname(TEST_SF_DIR.rstrip("/"))
    paths = sorted(glob.glob(os.path.join(root, "sf*", "events.parquet")))
    if not paths:
        pytest.skip(f"no sf*/events.parquet fixtures under {root}")
    for path in paths:
        before, after = duckdb.sql(
            f"SELECT count_if(ts < TIMESTAMP '{_LATE_CUTOFF}'), "
            f"count_if(ts >= TIMESTAMP '{_LATE_CUTOFF}') "
            f"FROM read_parquet('{path}')"
        ).fetchone()
        assert before > 0 and after > 0, (
            f"{path}: {before} events before {_LATE_CUTOFF}, {after} from it on"
        )
