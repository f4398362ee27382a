"""Query registry — the single source of truth for the driver contract.

Every implemented operator from SURVEY.md §2 registers exactly one
:class:`QuerySpec` here.  ``__spark_entry__.queries()`` and
``oracle_sql()`` are generated from this registry, so an operator is
"done" if and only if it has a row here (with ``oracle=None`` only for
the rows-only exclusions enumerated in SURVEY.md §5.3.5: sampling,
approximate/randomized algorithms, LSH/xxhash64, float iteration,
describe()'s stringified statistics).  Streaming queries are not
excluded: an availableNow run over the fixed fixture is deterministic,
so each carries an oracle (SURVEY.md §2.11).
"""

from __future__ import annotations

import json
import pathlib
import re
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    """One declared query: a Spark callable plus its DuckDB oracle."""

    name: str
    fn: QueryFn
    oracle: str | None = None  # ANSI SQL for DuckDB; None → rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator: register ``fn(spark, sf_dir) -> DataFrame`` as a declared query."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, tags=tags)
        return fn

    return deco


#: Module emission order for :func:`ordered_registry`.  Within each
#: attestation tier (see below), queries are emitted round-robin across
#: modules (one query from each, repeating) so any prefix of the registry
#: — e.g. a driver that samples the first N queries — spans every operator
#: family instead of exhausting one module at a time.
_MODULE_ORDER = (
    "timeseries",
    "windows",
    "stream_queries",
    "sql_surface",
    "graph",
    "aggregates",
    "setops",
    "similarity",
    "udf",
    "scalar",
    "scan_queries",
    "multimodal",
    "pipeline",
    "relational",
    "composite",
    "skew",
    "dedup",
    "text",
)


@dataclass(frozen=True)
class _Pin:
    """A front-of-rotation pin for a query whose semantics changed.

    ``until`` names the round whose GREEN driver row clears the pin.
    ``expect_rows`` (when set) additionally requires the clearing row to
    record exactly that ``spark_rows`` at the driver SF — so a green row
    produced by a stale checkout (pre-change code that happens to run in
    the named round) cannot clear the pin without attesting the NEW
    result shape.  Leave it ``None`` only for changes that do not move
    the driver-SF row count (then the round number is the only guard).
    """

    until: int
    expect_rows: int | None = None


#: Queries emitted literally first — ahead of the attestation tiers and
#: the module round-robin (a within-module frontload only surfaces ~3
#: names per module in a 50-query prefix).  Add a pin when a query's
#: semantics/oracle change after its last driver attestation; the pin
#: clears on a green driver row from round >= ``until`` whose recorded
#: row count matches ``expect_rows`` (see :class:`_Pin`), after which
#: the query re-enters the normal staleness rotation — a pin can never
#: permanently starve the least-recently-attested tier.
#:
#: CONVENTION (round 17, VERDICT r16 #4): any future mid-round
#: semantics change that is NOT proven output-bit-identical pins with
#: ``until = N + 1`` where N is the round being built — the pin then
#: clears on the very next driver attestation instead of holding a
#: front-of-rotation slot against a stale checkout.
#:
#: stream_session / stream_sliding (until r22): round 21 gave the 11
#: streaming queries DuckDB oracles and dropped the self-check column
#: they stamped — a schema change.  The rotation had 2 free slots (tiers
#: r17 48 / r18 50 / r19 50 / r20 50), so only the two with the least
#: trivial oracle SQL are pinned; six others already sit in the
#: stalest (r17) tier.  Row counts do not move → expect_rows=None.
_PRIORITY: dict[str, _Pin] = {
    "stream_session": _Pin(until=22),
    "stream_sliding": _Pin(until=22),
}


def _row_green(row: object) -> bool:
    """Whether a driver CORRECTNESS row records a PASS.

    Oracled rows pass on all three match flags; rows-only entries
    (err == "no_oracle") pass by running.  Anything else — a real err,
    or a false match flag — is a failure and must NOT count as
    attestation: a failed query should rotate back into the sample
    prefix, not age out of it as if it were verified.
    """
    if not isinstance(row, dict):
        return False
    err = row.get("err")
    if err == "no_oracle":
        return True
    if err is not None:
        return False
    return all(row.get(k) for k in ("rows_match", "schema_match", "hash_match"))


def _driver_green_rows(
    root: pathlib.Path | None = None,
) -> dict[str, list[tuple[int, int | None]]]:
    """All GREEN driver CORRECTNESS rows per query: (round, spark_rows).

    Parses the committed ``CORRECTNESS_r*.json`` artifacts at the repo
    root (two directories above this file).  A query absent from every
    file — or present only with failing rows — has never been
    driver-attested.  Missing/unparseable files are skipped — outside
    the repo checkout this degrades to "nothing attested", which leaves
    the ordering well-defined.
    """
    rows: dict[str, list[tuple[int, int | None]]] = {}
    if root is None:
        root = pathlib.Path(__file__).resolve().parent.parent
    for path in root.glob("CORRECTNESS_r*.json"):
        match = re.search(r"r(\d+)$", path.stem)
        if not match:
            continue
        rnd = int(match.group(1))
        try:
            data = json.loads(path.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        for name, row in data.items():
            if _row_green(row):
                n = row.get("spark_rows")
                rows.setdefault(name, []).append(
                    (rnd, n if isinstance(n, int) else None)
                )
    return rows


def _driver_attestation_rounds(root: pathlib.Path | None = None) -> dict[str, int]:
    """Latest driver round with a GREEN CORRECTNESS row per query name."""
    return {
        name: max(rnd for rnd, _ in rows)
        for name, rows in _driver_green_rows(root).items()
    }


def _active_pins(green: dict[str, list[tuple[int, int | None]]]) -> list[str]:
    """Names of :data:`_PRIORITY` pins not yet cleared by a green driver
    row from round >= ``until`` that records ``expect_rows`` (when set)."""

    def cleared(name: str, pin: _Pin) -> bool:
        return any(
            rnd >= pin.until and (pin.expect_rows is None or n == pin.expect_rows)
            for rnd, n in green.get(name, ())
        )

    return [
        name
        for name, pin in _PRIORITY.items()
        if name in REGISTRY and not cleared(name, pin)
    ]


#: How many rounds past ``until`` a pin may stay active before it is
#: considered STALE (ADVICE r11: a pin whose ``expect_rows`` was
#: miscalculated — or whose row count moved with a driver-SF change —
#: would otherwise hold a front-of-rotation slot forever, silently).
#: Two rounds is enough for the named round plus one sampling miss.
PIN_STALENESS_GRACE = 2


def stale_pins(current_round: int) -> list[str]:
    """Active pins that have outlived ``until + PIN_STALENESS_GRACE``.

    ``tests/test_driver_contract.py`` fails the contract suite when
    this is non-empty, so a wrong ``expect_rows`` surfaces as a red
    test instead of a permanently pinned rotation slot.  Callers
    compute ``current_round`` from the newest committed
    ``CORRECTNESS_r*.json`` (that file's round + 1 is the round being
    built)."""
    active = _active_pins(_driver_green_rows())
    return [
        name
        for name in active
        if current_round > _PRIORITY[name].until + PIN_STALENESS_GRACE
    ]


def latest_attested_round() -> int:
    """Highest round number with any committed CORRECTNESS artifact (0
    if none) — ``+ 1`` is the round currently being built."""
    rounds = [r for rows in _driver_green_rows().values() for r, _ in rows]
    return max(rounds, default=0)


def ordered_registry() -> dict[str, QuerySpec]:
    """REGISTRY ordered least-recently-driver-attested first.

    The driver's per-round CORRECTNESS check samples a prefix of this
    ordering, so the order IS the attestation schedule: queries with no
    driver CORRECTNESS row in any committed ``CORRECTNESS_r*.json`` come
    first (with :data:`_PRIORITY` flattened to the very front), then
    queries whose latest attestation is oldest.  Within each tier,
    emission is round-robin across modules (see _MODULE_ORDER) so any
    prefix still spans operator families.  Registration order follows
    Python import order, which cross-module imports distort; this
    function is the stable, intent-bearing order used by
    ``__spark_entry__.queries()``.

    ROTATION INVARIANT (do not regress): with a driver sample of K
    queries per round and committed CORRECTNESS files as the only
    state, the attestation floor (min over queries of the latest green
    round) advances whenever the stalest tier has <= K members, because
    that whole tier sits in the K-prefix.  With 197 queries and K=50
    the steady state is a 4-round rotation — no query's latest green
    row is ever older than 4 rounds — PROVIDED (a) new queries are not
    added faster than K/round, (b) pins are temporary (each clears on
    its named round's green row, enforced by :class:`_Pin`), and (c)
    failing rows do NOT count as attestation (see :func:`_row_green`),
    so a failed query re-enters the prefix immediately instead of
    aging out.  ``tests/test_driver_contract.py`` pins the prefix
    property (frontload + starvation + pin-expiry tests).

    HEADROOM MATH (round-14 budget lesson): the floor advances in a
    round only when pins + never-attested newcomers + the stalest tier
    all fit the K=50 prefix.  In the steady K·R rotation each tier
    holds ~total/R members, so the hard ceiling for an R-round floor
    cadence is total ≤ K·R: at 198 queries the 4-round rotation leaves
    exactly 200−198 = 2 PERMANENT new-query slots; a round whose
    stalest tier is full-sized (49–50, as after any steady round) can
    afford ZERO new queries and ZERO pins without stalling the floor.
    Spend slack deliberately: add queries (or pin changed ones) only
    in a round whose stalest tier is measured small, via
    ``_driver_attestation_rounds()``.
    """
    green = _driver_green_rows()
    attested = {name: max(r for r, _ in rows) for name, rows in green.items()}
    pinned = _active_pins(green)
    tiers: dict[int, dict[str, list[QuerySpec]]] = {}
    for spec in REGISTRY.values():
        if spec.name in pinned:
            continue
        tier = attested.get(spec.name, 0)
        mod = spec.fn.__module__.rsplit(".", 1)[-1]
        tiers.setdefault(tier, {}).setdefault(mod, []).append(spec)
    out: dict[str, QuerySpec] = {}
    for name in pinned:
        out[name] = REGISTRY[name]
    for tier in sorted(tiers):
        by_module = tiers[tier]
        for specs in by_module.values():
            specs.sort(key=lambda s: s.name)
        module_cycle = [m for m in _MODULE_ORDER if m in by_module]
        module_cycle += sorted(m for m in by_module if m not in _MODULE_ORDER)
        queues = {m: list(by_module[m]) for m in module_cycle}
        while queues:
            for mod in list(module_cycle):
                if mod not in queues:
                    continue
                spec = queues[mod].pop(0)
                out[spec.name] = spec
                if not queues[mod]:
                    del queues[mod]
    return out


def load_all_query_modules() -> None:
    """Import every module that registers queries (idempotent)."""
    # Imports are local to avoid circular imports at package-init time.
    import pyspark_analytics_library_spark.operators.relational  # noqa: F401
    import pyspark_analytics_library_spark.operators.composite  # noqa: F401
    import pyspark_analytics_library_spark.operators.skew  # noqa: F401
    import pyspark_analytics_library_spark.operators.pipeline  # noqa: F401
    import pyspark_analytics_library_spark.operators.aggregates  # noqa: F401
    import pyspark_analytics_library_spark.operators.windows  # noqa: F401
    import pyspark_analytics_library_spark.operators.setops  # noqa: F401
    import pyspark_analytics_library_spark.operators.timeseries  # noqa: F401
    import pyspark_analytics_library_spark.operators.dedup  # noqa: F401
    import pyspark_analytics_library_spark.operators.similarity  # noqa: F401
    import pyspark_analytics_library_spark.operators.text  # noqa: F401
    import pyspark_analytics_library_spark.operators.udf  # noqa: F401
    import pyspark_analytics_library_spark.operators.multimodal  # noqa: F401
    import pyspark_analytics_library_spark.operators.sql_surface  # noqa: F401
    import pyspark_analytics_library_spark.operators.graph  # noqa: F401
    import pyspark_analytics_library_spark.functions.scalar  # noqa: F401
    import pyspark_analytics_library_spark.sources.scan_queries  # noqa: F401
    import pyspark_analytics_library_spark.streaming.stream_queries  # noqa: F401
