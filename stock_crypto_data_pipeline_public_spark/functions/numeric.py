"""Cross-engine deterministic numeric helpers.

Problem: ``round(x, n)`` on doubles is NOT portable across engines. Spark
rounds the shortest decimal representation (BigDecimal.valueOf) with HALF_UP,
DuckDB rounds the binary value — for quotients like ``551.43 / 8 = 68.92875``
(exact terminating decimal) the two disagree at the final digit, which breaks
value-hash comparison against any non-JVM oracle.

Fix: half-up rounding expressed as ``floor(x * 10^n + 0.5) / 10^n``. floor is
bit-deterministic on identical doubles in every engine, so as long as ``x``
itself is reproducible (exact-grid sums, integer counts), the rounded output
is identical everywhere. All plan queries use :func:`rnd` and emit
:func:`oracle_rnd` fragments instead of raw ``round``.

Range note: ``x * 10^n`` must stay within 2^53 for exactness — fine for
n<=4 and values < ~1e11. At larger magnitudes round to fewer decimals.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def rnd(c: Column | str, n: int = 2) -> Column:
    """Deterministic cross-engine round to ``n`` decimals:
    ``floor(x·10ⁿ + 0.5) / 10ⁿ``.

    This is half-up for non-negative values and half-toward-+∞ for negative
    ties (e.g. -1.005 → -1.00, where HALF_UP would give -1.01). The formula
    is chosen because the IDENTICAL expression evaluates bit-for-bit the
    same on Spark and DuckDB (:func:`oracle_rnd`) — engine-native round()
    disagrees between the two on tie cases, which is what the oracle gate
    cannot tolerate. Consumers needing accounting-grade HALF_UP on negative
    values should round through decimal at the edge instead."""
    c = F.col(c) if isinstance(c, str) else c
    p = 10**n
    return F.floor(c * F.lit(p) + F.lit(0.5)) / F.lit(float(p))


def oracle_rnd(expr: str, n: int = 2) -> str:
    """DuckDB/ANSI SQL fragment equivalent of :func:`rnd`."""
    p = 10**n
    return f"floor(({expr}) * {p} + 0.5) / {p}.0"


# ---------------------------------------------------------------------------
# Exact-decimal money aggregation.
#
# :func:`rnd` is bit-deterministic only when its INPUT is — and a float SUM's
# value depends on summation order, which differs between Spark and DuckDB
# and across partitionings/environments. 2-dp money values (0.01, 104997.88)
# are NOT exactly representable as binary doubles, so sums over
# l_extendedprice / o_totalprice / c_acctbal / events.value are
# order-dependent and one unlucky half-up boundary flips the rounded output
# (q26/q28 were hash-red on the driver box, green locally).
#
# Fix: aggregate through DECIMAL. All money columns in the testdata are on
# an exact 2-dp grid (verified: zero off-grid values across lineitem/orders/
# part/supplier/customer/events at every SF), so CAST(double AS
# DECIMAL(12,2)) lands exactly on the grid identically in both engines
# (binary error ~1e-11 ≪ half-ulp of the grid). Decimal addition is
# associative — the sum is summation-order-INDEPENDENT — and the final
# DECIMAL→DOUBLE cast is correctly rounded in both engines (Spark
# BigDecimal.doubleValue; DuckDB exact-int/10^scale IEEE division), verified
# value- and bit-exact over all 14,743 per-order revenue sums at sf0.01.
# Only then is :func:`rnd` applied, now on an engine-identical input.
#
# Precision budget (chosen so DuckDB's width-38 product rule never trips):
# MONEY(12,2) holds |x| < 1e10 — at 100 TB a per-group SUM is decimal(22+,2)
# via engine sum-widening (Spark min(38,p+10), DuckDB 38), good to ~1e26.
# RATE(4,2) holds discount/tax factors; products stay ≤ width 22.
# ---------------------------------------------------------------------------

#: 2-dp-grid money/measure doubles, |x| < 1e10.
MONEY = "decimal(12,2)"
#: 2-dp rate factors (discount, tax, 1±rate), |x| < 100.
RATE = "decimal(4,2)"


def dec(c: Column | str, spec: str = MONEY) -> Column:
    """Cast a 2-dp-grid double column to its exact decimal."""
    c = F.col(c) if isinstance(c, str) else c
    return c.cast(spec)


def dsum(c: Column) -> Column:
    """Order-independent sum of an ALREADY-exact decimal expression,
    returned as its (correctly-rounded, engine-identical) double image.
    Do not pass raw doubles — wrap grid columns with :func:`dec` first."""
    return F.sum(c).cast("double")


def money_sum(c: Column | str) -> Column:
    """Order-independent sum of a plain 2-dp money column (double image)."""
    return dsum(dec(c))


def oracle_dec(expr: str, spec: str = MONEY) -> str:
    """SQL fragment twin of :func:`dec` (valid in both Spark SQL and DuckDB)."""
    return f"CAST({expr} AS {spec.upper()})"


def oracle_dsum(expr: str) -> str:
    """SQL fragment twin of :func:`dsum` — ``expr`` must already be decimal."""
    return f"CAST(sum({expr}) AS DOUBLE)"


def oracle_money_sum(expr: str) -> str:
    """SQL fragment twin of :func:`money_sum`."""
    return oracle_dsum(oracle_dec(expr))


# ---------------------------------------------------------------------------
# Scaled-BIGINT money outputs.
#
# Even a DECIMAL-exact sum whose *double image* is hashed is not
# driver-portable: q26/q28 were driver-red on the
# floor(CAST(sum(DECIMAL) AS DOUBLE)·100+0.5)/100 pipeline while every
# local mirror passed. The q26 fix — scale
# the exact decimal to an integer BEFORE anything hashes it — generalizes:
# a hashed money output must BE an int64 (`*_e2` = cents, `*_e4` = 1e-4
# units), never a double.
#
# Mechanics (the q26 pattern, relational.py q26 docstring has the full
# cross-engine argument): the per-row decimal ×10^scale is integral, so the
# BIGINT cast is exact in both engines (Spark truncates, DuckDB rounds —
# identical on integers); the sum is then a plain int64 sum on the Spark
# side and HUGEINT on DuckDB (hence the outer CAST). Scaling per-row keeps
# every DuckDB decimal product far from the width-38 overflow rule.
#
# Averages: an exact average is a rational, so the integral output is
# defined as trunc-toward-zero division of the half-adjusted numerator:
# ``avg_eK = (2·total·10^shift + n) div (2·n)`` — for non-negative totals
# this is exactly floor(total·10^shift/n + 0.5), i.e. the same half-up
# rnd() used to emit; Spark's ``div`` and DuckDB's ``//`` both truncate
# toward zero (verified: -7//2 = -3 on both), so the value is
# engine-identical for every sign.
#
# Range (ENFORCED): the eK-scaled BIGINT *sum* holds |$| < 9.2e16
# per group at e2 / 9.2e14 at e4 — beyond that the BIGINT output type itself
# can't represent the value (DuckDB's HUGEINT→BIGINT cast errors there, so
# the oracle is loud, not wrong); sum the DECIMAL and scale afterward.
# :func:`iavg`'s half-up numerator ``2·total·10^shift + n`` is computed in
# DECIMAL(38,0) on the Spark side (HUGEINT on DuckDB), so the quotient is
# exact for every total the BIGINT sum can hand it — the numerator cannot
# wrap int64 even at shift=4 (the hazard: Spark non-ANSI int64
# arithmetic wraps SILENTLY; a property test pins the boundary,
# tests/test_numeric_domain.py). The only remaining divergence window is a
# true average whose eK image itself exceeds int64 — there Spark's ``div``
# wraps where DuckDB errors, and no BIGINT answer exists at all.
# ---------------------------------------------------------------------------


def dsum_e(c: Column, scale: int = 2) -> Column:
    """Exact e``scale``-scaled BIGINT sum of an already-exact decimal
    expression whose decimal scale is <= ``scale`` (so the per-row
    ×10^scale product is integral and the BIGINT cast exact)."""
    return F.sum((c * F.lit(10**scale)).cast("bigint")).cast("bigint")


def money_sum_e2(c: Column | str) -> Column:
    """Exact cents (e2 BIGINT) sum of a plain 2-dp money column."""
    return dsum_e(dec(c), 2)


def oracle_dsum_e(expr: str, scale: int = 2) -> str:
    """SQL fragment twin of :func:`dsum_e` (DuckDB sum(BIGINT) → HUGEINT,
    hence the outer cast)."""
    return f"CAST(sum(CAST(({expr}) * {10**scale} AS BIGINT)) AS BIGINT)"


def oracle_money_sum_e2(expr: str) -> str:
    """SQL fragment twin of :func:`money_sum_e2`."""
    return oracle_dsum_e(oracle_dec(expr), 2)


def iavg(total: str, count: str, shift: int = 0) -> Column:
    """Integral average of an eK-scaled BIGINT total in e(K+shift) units:
    ``(2·total·10^shift + count) div (2·count)`` — half-up for
    non-negative totals, trunc-toward-zero division on both engines.
    ``total``/``count`` are SQL expressions over already-aggregated named
    columns (Spark's ``div`` only exists in SQL text).

    The numerator is widened to DECIMAL(38,0) so it cannot wrap int64
    (Spark non-ANSI wraps SILENTLY; DuckDB's twin runs in HUGEINT and was
    always exact). ``DECIMAL(38,0) div BIGINT`` returns LongType and
    truncates toward zero exactly like DuckDB ``//`` (verified on
    negatives), so the result is engine-identical whenever the true eK
    average fits int64 — which it does whenever the inputs do.

    Boundary loudness: a true average whose eK image EXCEEDS
    int64 has no BIGINT answer — DuckDB's HUGEINT→BIGINT cast errors
    loudly there while Spark's non-ANSI ``div`` used to wrap silently.
    The quotient is therefore verified by exact reconstruction in the
    decimal domain (``|num − q·den| < |den|`` — false exactly when ``div``
    wrapped) behind ``assert_true``, so Spark now RAISES at the first
    value past the boundary, matching the oracle's loudness
    (tests/test_properties.py pins both engines' behavior AT the
    boundary). Cost: one decimal multiply per GROUP row, not per input
    row."""
    m = 10**shift
    num = f"(2 * CAST(({total}) AS DECIMAL(38,0)) * {m} + ({count}))"
    den = f"(2 * ({count}))"
    q = f"({num} div {den})"
    ok = (
        f"(abs({num} - CAST({q} AS DECIMAL(38,0)) * {den})"
        f" < abs(CAST({den} AS DECIMAL(38,0))))"
    )
    # NULL domain first: an empty/all-null group (NULL total or zero count)
    # has no average on EITHER engine (DuckDB NULL//0 → NULL) — pass NULL
    # through; the loudness guard is only for values with no int64 image
    return F.expr(
        f"CASE WHEN ({num}) IS NULL OR ({den}) = 0 THEN CAST(NULL AS BIGINT)"
        f" WHEN assert_true({ok},"
        f" 'iavg: eK-scaled average exceeds int64 — no BIGINT answer exists"
        f" (the oracle errors here too)') IS NULL THEN {q} END"
    )


def oracle_iavg(total: str, count: str, shift: int = 0) -> str:
    """DuckDB twin of :func:`iavg` (``//`` truncates like Spark ``div``).
    The numerator is widened to HUGEINT to mirror :func:`iavg`'s
    DECIMAL(38,0) widening — without it DuckDB BIGINT·BIGINT ERRORS at the
    same boundary where non-ANSI Spark used to wrap."""
    m = 10**shift
    return (
        f"CAST((2 * CAST(({total}) AS HUGEINT) * {m} + ({count}))"
        f" // (2 * ({count})) AS BIGINT)"
    )
