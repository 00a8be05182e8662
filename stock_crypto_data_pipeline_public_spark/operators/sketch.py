"""Count-min sketch: fixed-memory frequency estimation over unbounded keys.

Completes the engine's sketch trio — HLL cardinalities (t28,
``approx_count_distinct``) and GK quantiles (t29, ``percentile_approx``)
ride Spark built-ins; frequency estimation has no built-in surface in this
build (``count_min_sketch`` exists in Catalyst but is not SQL-registered,
and its binary output needs JVM-side deserialization anyway), so the
sketch is expressed TRANSPARENTLY as a (row, col, count) cell table:

- build: each key updates d cells ``(i, xxhash64(key, i) mod w)`` —
  explode d structs per row, ONE hash aggregation; output is ≤ d·w rows
  regardless of corpus size or key cardinality. That bounded output IS the
  point: exact per-key counts over a trillion-token stream produce a
  vocabulary-sized table, the CMS produces a CONSTANT-sized one, mergeable
  across days by cell-wise addition (``groupBy(r, c).sum``).
- estimate: min over a key's d cells (an absent cell is a zero — the key
  was definitely never counted). Classic guarantees hold: estimates never
  undercount, and overcount ≤ εN with probability 1-δ for w = ⌈e/ε⌉,
  d = ⌈ln 1/δ⌉ — property-tested against exact counts (t33's spine) in
  tests/test_sketch.py.

Being a plain DataFrame, the cell table broadcasts for estimate joins,
persists as parquet, and unions with other days' sketches — the operations
a monitoring pipeline actually performs on it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def count_min_table(
    df: DataFrame, key_col: str, w: int = 2048, d: int = 5
) -> DataFrame:
    """Build the (r, c, cnt) cell table over ``df[key_col]`` occurrences.
    One explode (d rows per occurrence, map-side) + one hash aggregation
    whose output is ≤ d·w cells."""
    cells = F.array(
        *[
            F.struct(
                F.lit(i).alias("r"),
                F.pmod(F.xxhash64(F.col(key_col), F.lit(i)), F.lit(w)).alias("c"),
            )
            for i in range(d)
        ]
    )
    return (
        df.select(F.explode(cells).alias("p"))
        .select("p.r", "p.c")
        .groupBy("r", "c")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(
    table: DataFrame, keys: DataFrame, key_col: str, w: int = 2048, d: int = 5
) -> DataFrame:
    """Point estimates for every key in ``keys``: min over the key's d
    cells, joined against the BROADCAST cell table (≤ d·w rows — map-side,
    no shuffle of the key relation beyond the final per-key min).
    ``w``/``d`` must match the build call. Returns (key_col, est)."""
    cells = F.array(
        *[
            F.struct(
                F.lit(i).alias("r"),
                F.pmod(F.xxhash64(F.col(key_col), F.lit(i)), F.lit(w)).alias("c"),
            )
            for i in range(d)
        ]
    )
    probes = keys.select(key_col, F.explode(cells).alias("p")).select(
        key_col, "p.r", "p.c"
    )
    return (
        probes.join(F.broadcast(table), ["r", "c"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est"))
    )


def cms_merge(*tables: DataFrame) -> DataFrame:
    """Union same-shaped sketches (same w, d) by cell-wise addition — the
    mergeability that lets each day/partition sketch independently."""
    out = tables[0]
    for t in tables[1:]:
        out = out.unionByName(t)
    return out.groupBy("r", "c").agg(F.sum("cnt").alias("cnt"))


def mg_partition_summaries(df: DataFrame, key_col: str, m: int) -> DataFrame:
    """Per-partition Misra-Gries summaries: at most ``m`` (key,
    lower-bound) counters per partition, built in ONE pass with O(m +
    arrow-batch-distinct) memory — the bounded-state half of the two-pass
    exact-heavy-hitters pattern (this prunes; a recount pass makes the
    survivors exact).

    Batch form of the classic algorithm via the MERGE operation of
    Agarwal, Cormode, Huang, Phillips, Wei & Yi, "Mergeable Summaries"
    (PODS'12 / ACM TODS 2013): accumulate each Arrow batch's exact
    value_counts into the summary, and whenever more than ``m`` counters
    are live, subtract the (m+1)-th largest counter value from ALL
    counters and drop the non-positive ones (at most m can remain — only
    strictly-larger counters survive). Each key's counter then
    UNDERESTIMATES its true partition count by at most n_p/(m+1), so:

    - every key with partition count > n_p/(m+1) has a positive counter
      (it survives into the summary), and by the averaging argument any
      key with GLOBAL count > n/(m+1) exceeds that bound in at least one
      partition — the union of partition summaries is a guaranteed
      SUPERSET of the global heavy hitters above threshold n/(m+1);
    - counters never overcount, so summed lower bounds are safe floors.

    Output: (key_col, lb) — ≤ m rows per partition, no shuffle (the whole
    pass pipelines inside the scan stage). At 100 TB this is the only
    full-corpus pass whose output is not data-sized: P·m rows feed the
    candidate broadcast of the recount pass (plans/textops.py t46).

    NULL keys COUNT: pandas ``value_counts`` defaults to
    ``dropna=True``, which would silently exclude a null-keyed heavy
    hitter from the candidate set and void the superset guarantee for
    generic callers. Nulls are counted under a private sentinel (NaN/None
    are unreliable Counter keys — NaN ≠ NaN) and emitted as a NULL-keyed
    summary row. Recount joins against the candidates must therefore be
    null-safe (``eqNullSafe``/IS NOT DISTINCT FROM) if the keyed column is
    nullable; t46's tokens never are.
    """
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        [df.schema[key_col], StructField("lb", LongType(), False)]
    )

    def summarize(batches):
        from collections import Counter

        null_key = object()  # stable identity for all NA flavors
        acc: Counter = Counter()
        for pdf in batches:
            vc = pdf[key_col].value_counts(dropna=False)
            acc.update(
                {
                    (null_key if pd.isna(k) else k): int(v)
                    for k, v in vc.items()
                }
            )
            if len(acc) > m:
                kth = sorted(acc.values(), reverse=True)[m]
                acc = Counter(
                    {k: v - kth for k, v in acc.items() if v > kth}
                )
        yield pd.DataFrame(
            {
                key_col: [None if k is null_key else k for k in acc.keys()],
                "lb": [int(v) for v in acc.values()],
            }
        )

    return df.select(key_col).mapInPandas(summarize, out_schema)
