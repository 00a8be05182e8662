"""Slowly-changing-dimension / dedup window operators (W1-W3 generalized).

Reusable builders for the patterns every reference hub/link/sat/dim uses:

- top_k           — the per-key ranking rule: hub/link dedup (k=1, reference
  hub_customer.sql:16-32) and every top-k neighbour or term list
- latest_wins     — current-state dims (reference dim_asset.sql:36-39)
- scd2            — effective-dated history (reference
  dim_customer_history.sql:28-31,70-73)
- changes_only    — satellite hashdiff change detection (reference
  sat_customer_profile.sql:8-13)

All windows are partitioned by the business key — never a global sort — and
take an explicit deterministic tiebreaker (SURVEY.md §7 flags the reference's
tie-prone ordering as a correctness hazard).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

HIGH_DATE = "9999-12-31 00:00:00"


def top_k(
    df: DataFrame,
    keys: Sequence[str],
    order: Sequence[Column],
    k: int | Column = 1,
    rank: str | None = None,
) -> DataFrame:
    """The first ``k`` rows per key by ``order`` (pass explicit asc/desc
    cols, ending with a unique tiebreaker). ``k`` may be a Column, a per-row
    bound. The 1-based rank is kept as column ``rank``, or dropped when
    ``rank`` is None."""
    w = W.partitionBy(*keys).orderBy(*order)
    name = rank or "__rank"
    out = df.withColumn(name, F.row_number().over(w)).filter(F.col(name) <= k)
    return out if rank else out.drop(name)


def latest_wins(df: DataFrame, keys: Sequence[str], ts_col: str, tiebreak: str) -> DataFrame:
    """One row per key: the most recent version."""
    return top_k(df, keys, [F.desc(ts_col), F.desc(tiebreak)])


def scd2(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    tiebreak: str,
) -> DataFrame:
    """Effective-dated history: adds effective_from / effective_to /
    is_current. effective_to = next version's start, HIGH_DATE when open."""
    w = W.partitionBy(*keys).orderBy(F.asc(ts_col), F.asc(tiebreak))
    nxt = F.lead(ts_col).over(w)
    # sentinel cast to the INPUT column's own type: a bare cast("timestamp")
    # would coerce an NTZ lead() through LTZ, making effective_to
    # session-tz-dependent while effective_from stays NTZ
    sentinel = F.lit(HIGH_DATE).cast(df.schema[ts_col].dataType)
    return (
        df.withColumn("effective_from", F.col(ts_col))
        .withColumn("effective_to", F.coalesce(nxt, sentinel))
        .withColumn("is_current", F.when(nxt.isNull(), F.lit(True)).otherwise(F.lit(False)))
    )


def changes_only(
    df: DataFrame,
    keys: Sequence[str],
    hashdiff: Column,
    ts_col: str,
    tiebreak: str,
) -> DataFrame:
    """Satellite semantics: keep only rows whose hashdiff differs from the
    previous version (insert-only change capture)."""
    w = W.partitionBy(*keys).orderBy(F.asc(ts_col), F.asc(tiebreak))
    # null-safe change detection: with a nullable hashdiff expression, `!=`
    # yields NULL against a null previous value and would silently drop a
    # real change (the engine's own hash_key builders are null-safe, but
    # this operator accepts arbitrary caller expressions). A lag over a
    # constant distinguishes "no previous row" from "previous hashdiff was
    # null" — lag(hashdiff) alone conflates the two.
    return (
        df.withColumn("__hd", hashdiff)
        .withColumn("__prev", F.lag("__hd").over(w))
        .withColumn("__has_prev", F.lag(F.lit(1)).over(w))
        .filter(
            F.col("__has_prev").isNull()
            | ~F.col("__hd").eqNullSafe(F.col("__prev"))
        )
        .drop("__hd", "__prev", "__has_prev")
    )
