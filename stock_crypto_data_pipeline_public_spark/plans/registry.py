"""Query registry: the engine's declared operator coverage.

Every operator from SURVEY.md §2 (plus the training-data-pipeline extensions)
is declared here as a named query: a ``(spark, sf_dir) -> DataFrame`` callable
and, when SQL-expressible, a DuckDB oracle SQL string computing the identical
result on the same parquet tables. The driver's correctness gate runs both and
hash-compares.

Oracle-parity rules (applied by every query in this package):

1. Column names must match exactly — alias every computed column identically
   on both sides (driver sorts columns by name before hashing).
2. Every floating-point output column is wrapped in the deterministic
   floor-based rounding of functions/numeric.py (``rnd`` / ``oracle_rnd``) on
   BOTH sides — native ``round`` disagrees between Spark (decimal-string
   HALF_UP) and DuckDB (binary nearest) on exact-tie quotients, and raw
   unrounded floats carry summation-order noise.
3. Spark's ``date_trunc`` returns timestamp while DuckDB's returns date for
   day/month/year — cast to date explicitly on the Spark side.
4. DuckDB ``regexp_replace`` replaces the first match unless given the ``'g'``
   flag; Spark always replaces all — always pass ``'g'`` in oracles.
5. Session timezone is pinned to UTC (session.py) and timestamps compared as
   naive UTC.
6. Only hash (md5/sha256) string- or integer-typed columns — float/timestamp
   string renderings are not engine-portable.
7. Never EMIT a DecimalType output column (round 10, plan-contract-enforced:
   tests/test_plan_contracts.py::test_no_decimal_typed_gated_outputs).
   DuckDB's pandas path renders every decimal as float64 while Spark hands
   the comparator verbatim Decimal objects; equal values then hash
   differently the moment the decimal's text carries trailing zeros
   (str(Decimal('1234.570000')) != str(1234.57)) — the decoded r9 q40f
   red. The local mirror coerces Decimal→float, so ONLY the driver can see
   the mismatch; hence a mechanical ban: money leaves the decimal domain
   as e-scaled BIGINT (functions/numeric.py), ratios as true doubles.
   Status: PROVEN (round 10): the pre-registered separating probes came
   back q40g GREEN + q40h RED — exactly the H2 pattern — so the driver's
   comparator renders Decimal cells verbatim and never diverged on doubles
   at all (r9's H1 reading formally corrected). q40h retires LOCAL-ONLY
   beside q40/q40f as the rule's designed-red negative control; the full
   three-round decode narrative lives in relational.py's settled-history
   block and oracle_compare.py's RESOLVED section.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Register a query; ``oracle=None`` marks a non-SQL-expressible operator
    (driver falls back to a rows-only check)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def resolve(names: Iterable[str]) -> list[str]:
    """Full query names for ``names``, each an exact name or a unique
    prefix (``"s02"`` → ``s02_streaming_watermark_end_state``). Raises
    ``ValueError`` for an unknown or ambiguous name. Needs ``load_all()``
    first; no Spark session."""
    resolved = []
    for n in names:
        hits = [q for q in QUERIES if q == n] or sorted(
            q for q in QUERIES if q.startswith(n)
        )
        if len(hits) != 1:
            raise ValueError(f"query {n!r} matches {hits or 'nothing'}")
        resolved.append(hits[0])
    return resolved


#: Queries promoted to the FRONT of registration order. The round driver
#: hash-gates only the FIRST 50 registered queries, so this list IS the
#: round-12 gate window, ranked by "code changed since last driver hash
#: row" (the r11 verdict's item 1, executed verbatim):
#: 1. REWORKED in r11 but never driver-gated since (the verdict's risk
#:    list, front of the queue): x18 (single-pass Arrow MMR), t12 (lazy
#:    checkpoints + single tokenize), x28 (lazy candidate checkpoint),
#:    x22/x27/x19 (shared-projection materialization).
#: 2. NEW in r11, never gated: x24, x25, m21, x26, t48, e13, m22, t49,
#:    t50, e14, e15, t51, t52, m23 (x27/x28 already above).
#: 3. TOUCHED by r12 optimization work, so their driver rows must re-prove
#:    the optimized code: s09 (streaming ANN drain), s08 (near-dup sink),
#:    g03 (BFS), s04 (regression watch), t30/v13/v14 (shared-stage DAGs).
#: 4. Freshness, oldest driver row first: x03 (r6, deferred twice), the
#:    r7 remainder (s07, m05/m07/m08/m11/m12/m14/m15/m17/m18, t43-t45),
#:    then the r8 era head (q26/q28, m19/m20, m04, s10-s12, x05).
#:
#: The r8-r10 q40 probe saga is CLOSED (rule 7 PROVEN by r10's
#: q40g-GREEN/q40h-RED pattern): q40/q40g/q40h stay registered as
#: LOCAL-ONLY regression tripwires (never gated — q40/q40h are
#: red-by-design at the driver, enforced via _NEVER_GATE below), and the
#: one-type-per-query probes q40a-f plus the q26/q28 stage diagnostics
#: q41/q42 are retired from the registry entirely (settled history,
#: relational.py).
_GATE_PRIORITY = (
    # r11-reworked, never driver-gated since (verdict item 1)
    ["x18", "t12", "x28", "x22", "x27", "x19"]                  # (6)
    # r11 late entrants, never gated
    + ["x24", "x25", "m21", "x26", "t48", "e13", "m22", "t49",
       "t50", "e14", "e15", "t51", "t52", "m23"]                # (20)
    # touched by r12 optimization work
    + ["s09", "s08", "g03", "s04", "t30", "v13", "v14"]         # (27)
    # freshness: x03 (r6, deferred twice), then the r7 remainder
    + ["x03"]                                                   # (28)
    + ["s07", "m05", "m07", "m08", "m11", "m12", "m14", "m15",
       "m17", "m18", "t43", "t44", "t45"]                       # (41)
    # freshness: the r8 era head
    + ["q26", "q28", "m19", "m20", "m04", "s10", "s11", "s12",
       "x05"]                                                   # (50)
)
#: Next-round rotation candidates: the r8-era remainder (x07/x08/x11,
#: t25, t27, v01-v05/v08/v09, q05-q09/q12-q16, e03/e05/e09, f01/f17),
#: then r9 (q02-q04, q10/q11, q17/q19, q21/q22, q27/q29/q30, q34-q36,
#: q38/q39, q43, e02/e04/e06/e08, f05/f15/f16, m06, s01/s02/s13,
#: t05/t11/t40, v06/v07, x20) by age, then the r11 window (s14, t47,
#: x23, e12, q44, the r5/r6 freshness set) as it ages.

#: Rows-only-BY-DESIGN sketches: t28 (HLL), t29 (GK quantiles) and t39
#: (DataSketches HLL union) have no oracle on purpose (approximate
#: answers; the exact twins t18/t17 are hash-gated, t43 drives the
#: sketch mergeability/error booleans through a hash row, and each
#: sketch carries an error-bound/mergeability property test). They must
#: NEVER rotate into the driver window — a rows-only row there would
#: read as red for a non-defect. The retired q40-family tripwires are
#: banned for the symmetric reason: q40 (combined fingerprint) and q40h
#: (rule 7's negative control) emit Decimal probe columns that the
#: driver's comparator renders verbatim — red-by-design there, green
#: only in the local mirror — and q40f is the original not-type-faithful
#: probe both hypotheses predicted red. load_all() enforces all of this
#: mechanically.
_NEVER_GATE = frozenset({"t28", "t29", "t39", "q40", "q40f", "q40h"})


def load_all() -> None:
    """Import every plan module so its @query decorators run, then reorder
    the registry so the driver's 50-query gate window (see _GATE_PRIORITY)
    is explicit rather than an accident of import order."""
    from . import (  # noqa: F401
        textops,
        vectorops,
        multimodal,
        eventops,
        finance,
        relational,
        vault,
        graphops,
        streamops,
    )

    by_prefix = {name.split("_", 1)[0]: name for name in QUERIES}
    # most-specific safety first: a rows-only sketch in the window reads
    # as a driver red for a non-defect
    banned = _NEVER_GATE.intersection(_GATE_PRIORITY)
    if banned:
        raise ValueError(
            f"rows-only sketches must stay out of the driver window: {sorted(banned)}"
        )
    # the window must be exactly the driver's hash-gate size: short and a
    # "remaining" append silently falls through to registration order;
    # long and tail entries silently fall OUT of the first-50 gate
    if len(_GATE_PRIORITY) != 50:
        raise ValueError(
            f"_GATE_PRIORITY must name exactly 50 queries, got {len(_GATE_PRIORITY)}"
        )
    if len(set(_GATE_PRIORITY)) != len(_GATE_PRIORITY):
        raise ValueError("_GATE_PRIORITY contains duplicates")
    missing = [p for p in _GATE_PRIORITY if p not in by_prefix]
    if missing:
        # the window is load-bearing: a silently-dropped prefix would slide
        # an unvetted query into the driver's first-50 hash gate
        raise ValueError(f"_GATE_PRIORITY prefixes not registered: {missing}")
    ordered: dict[str, QueryFn] = {}
    for prefix in _GATE_PRIORITY:
        name = by_prefix[prefix]
        ordered[name] = QUERIES[name]
    for name, fn in QUERIES.items():
        ordered.setdefault(name, fn)
    QUERIES.clear()
    QUERIES.update(ordered)
