"""Incremental materialization: high-water mark, idempotent append, MERGE
emulation — the engine-level machinery SURVEY.md §4 says must be built
(Catalyst optimizes plans; *materialization strategy* is ours).

Reference semantics reproduced:

- high-water mark: ``where load_timestamp > (select coalesce(max(...),
  '1900-01-01') from {{ this }})`` (reference raw_corporates.sql:23-27)
- idempotent append: Postgres ``INSERT ... ON CONFLICT DO NOTHING``
  (reference kafka_consumer.py:294-303) → left_anti against target keys
- MERGE upsert: Snowflake ``MERGE INTO`` via temp table (reference
  a1_4_batch_s3_to_snowflake.py:470-557) → last-wins row_number rewrite

Storage is plain partitioned Parquet (no Delta in this environment — the
MERGE emulation rewrites; with Delta the same API maps to ``MERGE INTO``).

Scale notes: targets partition by a date column so the HWM filter prunes
partitions at scan time; the anti-join reads only the target's key column
(column pruning) and broadcasts the *new* side when small; a real deployment
makes the rewrite per-partition (dynamic partition overwrite), not
whole-table.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import manifest as MF
from .scd import top_k

LOW_WATERMARK = "1900-01-01 00:00:00"


def high_water_mark(spark: SparkSession, path: str, ts_col: str):
    """coalesce(max(ts), LOW_WATERMARK) of the target — a 1-row scan of one
    column (parquet footer stats make this near-free)."""
    if not os.path.exists(path):
        return None
    row = spark.read.parquet(path).agg(F.max(ts_col).alias("hwm")).first()
    return row["hwm"]


def filter_new_rows(source: DataFrame, hwm, ts_col: str) -> DataFrame:
    """P2: the incremental predicate. With a date-partitioned target this
    filter partition-prunes the source scan."""
    if hwm is None:
        return source
    return source.filter(F.col(ts_col) > F.lit(hwm))


def idempotent_append(
    spark: SparkSession,
    source: DataFrame,
    path: str,
    keys: Sequence[str],
    partition_by: Sequence[str] = (),
) -> int:
    """Append source rows whose keys are not yet in the target (M2/M3).
    Returns the number of rows appended. Within-batch duplicates are also
    collapsed (reference consumers dedup per batch)."""
    new = source.dropDuplicates(list(keys))
    if os.path.exists(path):
        existing = spark.read.parquet(path).select(*keys)
        new = new.join(existing, on=list(keys), how="left_anti")
    new = new.persist()
    try:
        n = new.count()
        if n or not os.path.exists(path):
            # an empty FIRST write still materializes the target (schema +
            # directory): downstream readers (vault_tables → marts) need
            # every model present, and an absent target otherwise forces
            # full-history reprocessing on every later increment
            writer = new.write.mode("append")
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(path)
        return n
    finally:
        new.unpersist()


def merge_upsert(
    spark: SparkSession,
    source: DataFrame,
    path: str,
    keys: Sequence[str],
    version_col: str,
) -> None:
    """MERGE emulation (M1): last-wins by key across (target ∪ source),
    source preferred on version ties. The merged table is written in full
    outside the live state and committed by ``manifest.rewrite``, so the
    target is never seen partial; a new target becomes a manifest table
    (read it back with ``manifest.read_table``), an existing one keeps its
    layout. (Delta/Iceberg MERGE INTO replaces this body at deploy.)"""
    live = MF.live_table(path)
    src = source.withColumn("__prio", F.lit(1))
    if live is not None:
        tgt = spark.read.parquet(live).withColumn("__prio", F.lit(0))
        merged = tgt.unionByName(src)
    else:
        merged = src
    result = top_k(merged, keys, [F.desc(version_col), F.desc("__prio")]).drop("__prio")
    MF.rewrite(path, lambda out: result.write.mode("overwrite").parquet(out))


def incremental_run(
    spark: SparkSession,
    source: DataFrame,
    path: str,
    keys: Sequence[str],
    ts_col: str,
    partition_by: Sequence[str] = (),
) -> int:
    """The full dbt-style incremental materialization: HWM filter on the
    source, then idempotent key-deduplicated append (P2 + J5 + M3)."""
    hwm = high_water_mark(spark, path, ts_col)
    fresh = filter_new_rows(source, hwm, ts_col)
    return idempotent_append(spark, fresh, path, keys, partition_by)
