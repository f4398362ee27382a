"""The benchmark's workloads: what each op calls and how it is checked.

Every op calls a public function of the library anew and then collects
(or counts) what it returns.  No op re-collects a DataFrame that an
earlier op built, and no op sets a ``spark.analytics.*`` key, so every
dispatch branch is reached by input size alone.

An op is ``run(ctx) -> Result`` plus ``check(ctx, result) -> str | None``.
``run`` is the timed region; ``check`` runs afterwards, outside it.
"""

from __future__ import annotations

import collections
import os
import random
import shutil
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import checks

#: Rows per generated table scale: 15k orders, 60k line items, 10k events.
SF = 0.01

#: Base documents and near-duplicate copies of each in the corpus.
CORPUS_DOCS = 400
CORPUS_COPIES = 4
CORPUS_VECS = 500

LAKE_BUCKETS = 16
#: Append / merge / read rounds per pass; the pass then compacts.
LAKE_ROUNDS = 3
#: Key offset of appended rows: far above every generated order key.
APPEND_STRIDE = 100_000_000

#: ANN recall floors, the same bars ``bench.py::ann_quality`` applies.
RECALL_FLOORS = {"ivf": 0.6}


@dataclass
class Result:
    """What one op returned: the collected rows, split into the library
    call (``build_s``) and the collect that executes it (``collect_s``)."""

    columns: list[str]
    rows: list
    build_s: float
    collect_s: float
    df: object = None  # the DataFrame collected, for the Catalyst tracker
    extra: dict = field(default_factory=dict)


@dataclass
class Op:
    name: str
    layer: str  # "query", "lake", "stream"
    run: object
    check: object


def _timed(build) -> Result:
    """Time ``build()`` (the library call) and the collect of the
    DataFrame it returns; calls that return nothing collect nothing."""
    t0 = time.perf_counter()
    df = build()
    t1 = time.perf_counter()
    rows = df.collect() if df is not None else []
    t2 = time.perf_counter()
    cols = list(df.columns) if df is not None else []
    return Result(cols, rows, t1 - t0, t2 - t1, df)


# ---------------------------------------------------------------------------
# Declared queries
# ---------------------------------------------------------------------------


def _query_op(name: str, check=None) -> Op:
    def run(ctx):
        spec = ctx.registry[name]
        return _timed(lambda: spec.fn(ctx.spark, ctx.data_dir))

    def oracle_check(ctx, res):
        return checks.match_oracle(
            ctx.oracle, name, ctx.registry[name].oracle, res.columns, res.rows
        )

    return Op(name, "query", run, check or oracle_check)


#: Oracle-backed declared queries of the ``olap_mix`` workload, spread over
#: the relational, composite, aggregate, window, time-series, set, SQL,
#: scalar-function and text modules.
OLAP_QUERIES = (
    "join_inner_star",
    "join_asof",
    "query_market_share",
    "agg_pricing_summary",
    "win_topk_per_group",
    "ts_sessionize",
    "text_tfidf",
)


def _fuzzy_dedup_check(ctx, res) -> str | None:
    """Rows-only query (LSH hashes have no DuckDB twin): per language the
    document count must equal the generated corpus, kept + removed must
    add up, and the near-duplicate copies must make removals happen."""
    docs = ctx.oracle.con.execute(
        "SELECT lang, COUNT(*) FROM documents GROUP BY lang"
    ).fetchall()
    want = dict(docs)
    got = {r["lang"]: r for r in (row.asDict() for row in res.rows)}
    if set(got) != set(want):
        return f"languages {sorted(got)} != corpus {sorted(want)}"
    for lang, r in got.items():
        if r["n_docs"] != want[lang] or r["n_kept"] + r["n_removed"] != r["n_docs"]:
            return f"lang {lang}: {r} vs {want[lang]} documents"
    if sum(r["n_removed"] for r in got.values()) == 0:
        return "no near-duplicate removed from a corpus built with copies"
    return None


def _ivf_check(ctx, res) -> str | None:
    """Recall of the approximate top-5 edge set against the exact one
    (the DuckDB oracle of ``sim_topk_exact``), as a semi-join count."""
    sql = f"SELECT id_a, id_b FROM ({ctx.registry['sim_topk_exact'].oracle})"
    _, exact = ctx.oracle.expected("sim_topk_exact:pairs", sql)
    got = {(r["id_a"], r["id_b"]) for r in res.rows}
    recall = sum(1 for p in exact if p in got) / len(exact) if exact else 1.0
    res.extra["ivf_recall"] = recall
    if recall < RECALL_FLOORS["ivf"]:
        return f"ivf recall {recall:.4f} < floor {RECALL_FLOORS['ivf']}"
    return None


# ---------------------------------------------------------------------------
# Streaming (availableNow declared queries over the events table)
# ---------------------------------------------------------------------------

#: Expected stream results, computed in DuckDB from the events table.
#: The queries' own ``selfcheck`` column is never read.
_STREAM_SQL = {
    "stream_tumbling": (
        ["window_start", "event_type", "n_events"],
        "SELECT date_trunc('hour', ts) AS window_start, event_type, "
        "COUNT(*) AS n_events FROM events GROUP BY ALL",
    ),
    "stream_stream_join": (
        ["user_id", "n_click_purchase_pairs"],
        "SELECT c.user_id, COUNT(*) AS n_click_purchase_pairs "
        "FROM events c JOIN events p ON c.user_id = p.user_id "
        "AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTES "
        "WHERE c.event_type = 'click' AND p.event_type = 'purchase' "
        "GROUP BY c.user_id",
    ),
}


def _stream_op(name: str) -> Op:
    cols, sql = _STREAM_SQL[name]

    def run(ctx):
        spec = ctx.registry[name]
        return _timed(lambda: spec.fn(ctx.spark, ctx.data_dir))

    def check(ctx, res):
        idx = [res.columns.index(c) for c in cols]
        rows = [tuple(r[i] for i in idx) for r in res.rows]
        return checks.match_oracle(ctx.oracle, name, sql, cols, rows)

    return Op(name, "stream", run, check)


# ---------------------------------------------------------------------------
# Lake: one v2 table, seeded rounds of append / merge-on-read / read /
# compact.  Expected contents are tracked on the driver.
# ---------------------------------------------------------------------------


class Lake:
    """The benchmark's one v2 table and the rows it must hold."""

    def __init__(self, ctx, seed: int):
        from pyspark.sql import functions as F

        from pyspark_analytics_library_spark.sources import commit as cm

        self.F = F
        self.cm = cm
        self.rng = random.Random(seed)
        self.path = os.path.join(ctx.work_dir, "lake", "orders_v2")
        self.orders = pq.read_table(os.path.join(ctx.data_dir, "orders.parquet"))
        self.orders_df = ctx.spark.read.parquet(os.path.join(ctx.data_dir, "orders.parquet"))
        #: order key -> priority, for every live row of the table
        self.live = dict(
            zip(
                self.orders["o_orderkey"].to_pylist(),
                self.orders["o_orderpriority"].to_pylist(),
            )
        )
        self.appended: list[pa.Table] = []
        self.physical = len(self.live)  # rows in data files, superseded ones too
        self.rounds = 0
        self.user_bytes = 0  # parquet bytes of every batch applied
        self.added_bytes = 0  # bytes those batches added under the table
        cm.table_init(self.orders_df, self.path, "o_orderkey", n_buckets=LAKE_BUCKETS)

    def drop(self) -> None:
        shutil.rmtree(os.path.dirname(self.path), ignore_errors=True)

    def dir_bytes(self) -> int:
        return checks.tree_bytes(self.path)

    def files(self) -> dict[str, int]:
        out = {}
        for root, _, names in os.walk(self.path):
            for n in names:
                p = os.path.join(root, n)
                out[p] = os.path.getsize(p)
        return out

    @staticmethod
    def parquet_bytes(table: pa.Table) -> int:
        sink = pa.BufferOutputStream()
        pq.write_table(table, sink)
        return sink.getvalue().size

    def live_bytes(self) -> int:
        """Parquet bytes of exactly the rows the table should hold."""
        table = pa.concat_tables([self.orders, *self.appended])
        prio = [self.live[k] for k in table["o_orderkey"].to_pylist()]
        return self.parquet_bytes(table.set_column(5, "o_orderpriority", pa.array(prio)))

    def _mask(self, modulus: int, residue: int) -> pa.Array:
        keys = self.orders["o_orderkey"].to_numpy()
        return pa.array(keys % modulus == residue)

    def next_append(self):
        """New keys: a seeded 1/16 slice of the orders, shifted above the
        key domain by a per-round stride."""
        F = self.F
        self.rounds += 1
        residue, shift = self.rng.randrange(16), APPEND_STRIDE * self.rounds
        table = self.orders.filter(self._mask(16, residue))
        table = table.set_column(0, "o_orderkey", pc.add(table["o_orderkey"], shift))
        self.appended.append(table)
        df = self.orders_df.filter(F.col("o_orderkey") % 16 == residue).withColumn(
            "o_orderkey", F.col("o_orderkey") + shift
        )
        return table, df

    def next_update(self):
        """About 1/997 of the base keys, picked by a seeded residue, get
        a round-stamped priority."""
        F = self.F
        residue, prio = self.rng.randrange(997), f"9-UPDATED-{self.rounds}"
        table = self.orders.filter(self._mask(997, residue))
        table = table.set_column(5, "o_orderpriority", pa.array([prio] * table.num_rows))
        df = self.orders_df.filter(F.col("o_orderkey") % 997 == residue).withColumn(
            "o_orderpriority", F.lit(prio)
        )
        return table, df

    def apply(self, table: pa.Table, added_bytes: int) -> None:
        self.added_bytes += added_bytes
        self.user_bytes += self.parquet_bytes(table)
        self.physical += table.num_rows
        for k, p in zip(table["o_orderkey"].to_pylist(), table["o_orderpriority"].to_pylist()):
            self.live[k] = p


def _lake_ops() -> list[Op]:
    def write(next_batch, commit):
        def run(ctx):
            lake = ctx.lake
            table, df = next_batch(lake)
            before = lake.files()
            res = _timed(lambda: commit(lake, ctx.spark, df))
            added = sum(n for p, n in lake.files().items() if p not in before)
            lake.apply(table, added)
            return res

        return run

    def _append(lake, spark, df):
        lake.cm.table_append(spark, lake.path, df)

    def _merge_mor(lake, spark, df):
        lake.cm.table_merge_mor(spark, lake.path, df)

    append = write(Lake.next_append, _append)
    merge_mor = write(Lake.next_update, _merge_mor)

    def read(ctx):
        lake = ctx.lake
        return _timed(
            lambda: lake.cm.table_read(ctx.spark, lake.path)
            .groupBy("o_orderpriority")
            .count()
        )

    def read_check(ctx, res):
        want = collections.Counter(ctx.lake.live.values())
        got = {r["o_orderpriority"]: r["count"] for r in res.rows}
        if got != dict(want):
            diff = {k: (got.get(k), want[k]) for k in set(got) | set(want) if got.get(k) != want[k]}
            return f"priority counts (got, want) differ from the applied batches: {diff}"
        return None

    def compact(ctx):
        lake = ctx.lake

        def run():
            lake.cm.table_compact(ctx.spark, lake.path)

        res = _timed(run)
        lake.physical = len(lake.live)
        return res

    def stats_check(ctx, res):
        """Data files hold every row written since the last compaction."""
        stats = ctx.lake.cm.table_stats(ctx.lake.path)
        if stats.get("rows") not in (None, ctx.lake.physical):
            return f"table_stats rows {stats['rows']} != {ctx.lake.physical} written"
        return None

    def compact_check(ctx, res):
        stats = ctx.lake.cm.table_stats(ctx.lake.path)
        if stats["tombstone_files"]:
            return f"{stats['tombstone_files']} tombstone files left after compaction"
        return stats_check(ctx, res)

    round_ops = [
        Op("table_append", "lake", append, stats_check),
        Op("table_merge_mor", "lake", merge_mor, stats_check),
        Op("table_read", "lake", read, read_check),
    ]
    return round_ops * LAKE_ROUNDS + [Op("table_compact", "lake", compact, compact_check)]


# ---------------------------------------------------------------------------
# Workload table
# ---------------------------------------------------------------------------


@dataclass
class Workload:
    name: str
    ops: list
    near_dup_copies: int = 0
    lake: bool = False


def workloads() -> dict[str, Workload]:
    return {
        "olap_mix": Workload("olap_mix", [_query_op(q) for q in OLAP_QUERIES]),
        "pipeline_mix": Workload(
            "pipeline_mix",
            [
                _query_op("pipeline_fuzzy_dedup", _fuzzy_dedup_check),
                _query_op("sim_ivf_approx", _ivf_check),
                _stream_op("stream_tumbling"),
                *_lake_ops(),
            ],
            near_dup_copies=CORPUS_COPIES,
            lake=True,
        ),
    }
