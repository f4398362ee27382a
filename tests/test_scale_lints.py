"""Source lints that pin the engine's scale posture.

The package's contract (SCALE.md) is that driver-side materialization
is the exception: every ``.collect()`` / ``.toPandas()`` in operator
code must be one of the documented, size-guarded cases (scalar
convergence/self-check aggregates, the IndexTooLargeError-gated
broadcast index build, the capped dense-census path).  A new operator
that quietly collects its input would pass fixture-scale correctness
tests while being wrong at 100 TB — this lint makes that a visible,
reviewed decision instead of a silent regression: adding a
materialization means updating the whitelist below WITH a size guard
in the code.
"""

from __future__ import annotations

import os
import re

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "pyspark_analytics_library_spark",
)
REPO = os.path.dirname(PKG)

#: repo-relative file → exact count of driver-materialization call
#: sites (``.collect()`` + ``.toPandas()``).  Every entry is justified
#: in the file itself at the cited call site.
WHITELIST = {
    # agg_describe embedded self-check: the 8-row summary() grid plus
    # one scalar-aggregate row, both bounded by the statistic list;
    # plus exact_quantile_guard's 1-row approx_count_distinct probe
    # (HLL sketch — fixed-size state and a single output row at any
    # input scale, VERDICT r15 #2); plus binned_exact_percentiles'
    # four bounded collects (round 17, VERDICT r16 #7): per-group
    # count/min/max (one row per group), the per-round histogram
    # (≤ units × bins rows — fixed by conf, never data-sized), the
    # degenerate per-VALUE histogram (≤ ~bins representable doubles
    # in an underflowed-width interval), and the leaf candidate pull
    # (≤ units × leaf_limit values, the final order-statistic read —
    # per-rank units make that bound unconditional, review r17)
    "operators/aggregates.py": 7,
    # dim probe (1 row) + IndexTooLargeError-gated index build +
    # IVF centroid sample's three driver pulls (the limit(sample+1)
    # small-table probe — CollectLimit, driver-bounded at sample+1 rows
    # at any partition count, ADVICE r14; the loop path's n count; the
    # hash-filter-bounded limit(sample) pull — all sample-capped by
    # construction, VERDICT r13 #5) + distributed k-means' two bounded
    # collects (k-row init; k×dim centroid update per iteration — the
    # PageRank-rank-vector size class)
    "operators/similarity.py": 7,
    # dense triangle census: degree table + edge list, both behind the
    # vertex AND edge caps that dispatch to the sparse path; plus the
    # sparse path's 1-row triangle-sum collect (lets the census delete
    # its scratch generation before returning — ADVICE r9)
    "operators/graph.py": 3,
    # connected_components driver union-find dispatch (round 19): ONE
    # limit(cap+1)-bounded edge collect (cap =
    # spark.analytics.cc.driverUnionFindMaxEdges, default 500k pairs;
    # past it the distributed group-min loop runs unchanged) — the same
    # guarded-driver-branch discipline as the dense triangle census
    "operators/dedup.py": 1,
    # _insert_key_offset: one 1-row scalar aggregate (max merge key —
    # parquet column stats make the scan metadata-speed) shared by both
    # merge queries, ADVICE r13's collision-free insert-key derivation
    "sources/scan_queries.py": 1,
    # table_merge's touched-bucket probe and _buckets_for_keys' lookup
    # bucket derivation: both distinct bucket-id collects, ≤ n_buckets
    # ints by construction (VERDICT r15 #2); plus _zorder_expr's 1-row
    # quantile-boundary aggregate (percentile_approx: 63 boundaries per
    # clustering column — ≤189 doubles at 3 columns — the z-rank cell
    # edges, round 18; ADVICE r18 doc-drift fix); plus
    # _write_position_deletes' deletion-vector census collect (round
    # 19): limit(cap+1)-bounded (DV_MAX_POSITIONS_CONF, default 1M
    # (file, position) pairs — update-footprint-sized by contract, and
    # the commit falls back to plain tombstones past the cap rather
    # than collecting more)
    "sources/commit.py": 4,
}

#: every DataFrame → driver materialization spelling, not just the two
#: common ones: toLocalIterator/first/take/head pull rows to the driver
#: just as surely as collect (none are currently used — count 0 keeps
#: them out of the whitelist until someone consciously adds one).
#: ``.first()`` matches only the no-arg DataFrame action — F.first(col)
#: is the window aggregate, worker-side.  A worker-side pandas
#: .head(n)/.take(n) inside a UDF would false-positive here; that is
#: deliberate — it forces a whitelist entry with a justifying comment.
_CALL = re.compile(
    r"\.(?:collect|toPandas|toLocalIterator|first)\(\)|\.(?:take|head)\("
)
_PYUDF = re.compile(r"\bF\.udf\(")
_TEMP_VIEW = re.compile(r"\bcreateOrReplaceTempView\b")


def _count_sites(path: str) -> int:
    with open(path, encoding="utf-8") as f:
        return sum(len(_CALL.findall(line)) for line in f)


def _package_files_matching(pattern: re.Pattern, allowed: str) -> list[str]:
    """Package-relative paths of .py files other than ``allowed`` whose
    source matches ``pattern``."""
    offenders = []
    for root, _dirs, files in os.walk(PKG):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            rel = os.path.relpath(path, PKG).replace(os.sep, "/")
            if rel == allowed:
                continue
            with open(path, encoding="utf-8") as f:
                if pattern.search(f.read()):
                    offenders.append(rel)
    return offenders


def test_driver_materialization_sites_are_whitelisted():
    found: dict[str, int] = {}
    for root, _dirs, files in os.walk(PKG):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            rel = os.path.relpath(path, PKG).replace(os.sep, "/")
            n = _count_sites(path)
            if n:
                found[rel] = n
    assert found == WHITELIST, (
        "driver-side materialization sites changed — if the new site is "
        f"size-guarded, update the whitelist: {found} != {WHITELIST}"
    )


def test_row_at_a_time_udfs_only_in_the_udf_demo_module():
    """Row-at-a-time ``F.udf`` is the slow path (per-row Python↔JVM
    serialization); the engine's rule is built-in expressions or
    Arrow-batched pandas UDFs everywhere EXCEPT operators/udf.py, whose
    whole point is demonstrating the UDF machinery tiers side by side
    (plain / arrow / pandas, each with the same CASE oracle)."""
    offenders = _package_files_matching(_PYUDF, allowed="operators/udf.py")
    assert not offenders, f"row-at-a-time F.udf outside the demo module: {offenders}"


#: Every ``spark.analytics.*`` conf key the package reads.  Each key
#: guards a dispatch branch, so adding one is a reviewed decision:
#: extend this set in the same change, with the measurement that
#: justifies the new branch.
CONF_KEYS = {
    "spark.analytics.cc.driverUnionFindMaxEdges",
    "spark.analytics.describe.selfCheck",
    "spark.analytics.graph.broadcastNbrsMaxEdges",
    "spark.analytics.graph.denseMatmulMaxEdges",
    "spark.analytics.graph.denseMatmulMaxVertices",
    "spark.analytics.graph.sparseMaxWork",
    "spark.analytics.quantile.maxLocalStateBytes",
    "spark.analytics.scratchDir",
    "spark.analytics.sim.maxIndexBytes",
    "spark.analytics.sink.dvMaxPositions",
}

_CONF_LITERAL = re.compile(r"""["'](spark\.analytics\.[A-Za-z0-9_.]+)["']""")


def _conf_literals(top: str):
    """(repo-relative path, ``spark.analytics.*`` string literals) for
    ``top`` if it is a .py file, else for every .py file under it."""
    paths = (
        [top]
        if top.endswith(".py")
        else [
            os.path.join(root, f)
            for root, _dirs, names in os.walk(top)
            for f in names
            if f.endswith(".py")
        ]
    )
    for path in paths:
        with open(path, encoding="utf-8") as f:
            yield os.path.relpath(path, REPO), set(_CONF_LITERAL.findall(f.read()))


def test_conf_key_inventory_is_pinned():
    found = set().union(*(keys for _, keys in _conf_literals(PKG)))
    assert found == CONF_KEYS, (
        f"spark.analytics.* conf keys changed: added {sorted(found - CONF_KEYS)}, "
        f"removed {sorted(CONF_KEYS - found)}"
    )
    # Outside the package, setting a key the package does not read is a
    # silent no-op: a test or example that sets one tests nothing.
    stale = {
        path: sorted(keys - CONF_KEYS)
        for top in ("tests", "examples", "bench.py")
        for path, keys in _conf_literals(os.path.join(REPO, top))
        if keys - CONF_KEYS
    }
    assert not stale, f"spark.analytics.* keys the package does not read: {stale}"


def test_temp_views_registered_only_by_the_loader():
    """``createOrReplaceTempView`` costs a catalog write per table per
    call, and a view registered by one query can hide a missing
    registration in another.  ``sources/io.register_views`` is the one
    place that registers views, called by each SQL-text query with the
    tables it reads."""
    offenders = _package_files_matching(_TEMP_VIEW, allowed="sources/io.py")
    assert not offenders, f"temp views registered outside sources/io.py: {offenders}"
