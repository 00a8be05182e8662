"""As-of (backward) join — the canonical time-series enrichment operator.

Spark has no native ASOF JOIN (DuckDB/kdb/Pandas do); the reference's
date-offset grids (J6, fct_asset_news_impact.sql:55-73) are the closest it
gets. This operator matches each left row with the LATEST right row whose
timestamp is ≤ the left timestamp, per key — "the prevailing price at trade
time".

Implementation is the scale-correct sort-based composition, NOT a range
join: tag both sides, union, one window per key ordered by (ts, side) with
a running ``last(payload, ignorenulls)``; left rows then carry the most
recent right payload at-or-before their timestamp. Cost = one shuffle per
side on the key + one sort within partitions — work is O(n log n) per key
with no candidate-pair blowup, and the key-partitioned window never
funnels through a single task.

Determinism contract: callers must ensure the right side has ONE row per
(key, ts) — use ``scd.top_k`` with an explicit tiebreaker first.
Equal-timestamp matches are inclusive (right row at exactly left ts wins),
matching DuckDB's ``ASOF JOIN ... ON r.ts <= l.ts``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def asof_join_backward(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    payload: Sequence[str],
) -> DataFrame:
    """Left rows + latest right ``payload`` columns at-or-before ``left_ts``.

    ``on`` — equality key columns (same names both sides);
    ``payload`` — right-side columns to carry (must not collide with left).
    Left rows with no prior right row keep null payloads (left-join
    semantics).
    """
    on = list(on)
    payload = list(payload)
    collisions = set(payload) & set(left.columns)
    if collisions:
        raise ValueError(f"payload columns collide with left side: {sorted(collisions)}")

    # The payload travels as ONE struct, non-null exactly on right rows:
    # last(struct, ignorenulls) then skips left rows (struct null) but keeps
    # a right row whose payload VALUES are null — per-column last() would
    # skip those and leak a stale older value forward, and with several
    # payload columns could even stitch together fields from different
    # right rows. The struct keeps every match an actual right row.
    r = right.select(
        *on,
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        F.struct(*payload).alias("__r"),
    )
    l = left.select(
        "*",
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
    )
    merged = l.unionByName(r, allowMissingColumns=True)

    # right (__side=0) sorts before left (__side=1) at equal ts → inclusive ≤
    w = (
        W.partitionBy(*on)
        .orderBy(F.asc("__ts"), F.asc("__side"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    filled = merged.select("*", F.last("__r", ignorenulls=True).over(w).alias("__asof"))
    keep = [c for c in left.columns] + [
        F.col("__asof")[p].alias(p) for p in payload
    ]
    return filled.filter(F.col("__side") == 1).select(*keep)
