"""sources/tables.fan_out sizes a scan spread from the input's plan-stat
bytes: one partition per cost-class share, capped at defaultParallelism.
A bare parquet scan's plan-stat size is its file's bytes."""

import os
import re

from stock_crypto_data_pipeline_public_spark.sources.tables import (
    HEAVY,
    TEXT,
    fan_out,
    load_table,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _count(df) -> int:
    """Partition count of the plan's round-robin exchange."""
    m = re.search(r"Exchange (SinglePartition|RoundRobinPartitioning\((\d+)\))", _plan(df))
    return 1 if m.group(1) == "SinglePartition" else int(m.group(2))


def test_count_follows_input_bytes(spark, sf_dir):
    assert spark.sparkContext.defaultParallelism == 8
    for table, per in (("documents", TEXT), ("embeddings", HEAVY)):
        size = os.path.getsize(os.path.join(sf_dir, f"{table}.parquet"))
        df = fan_out(load_table(spark, sf_dir, table), per)
        assert _count(df) == min(8, size // per + 1), table


def test_tiny_class_caps_at_default_parallelism(spark, sf_dir):
    assert _count(fan_out(load_table(spark, sf_dir, "documents"), 1)) == 8


def test_keyed_form_hash_partitions(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    size = os.path.getsize(os.path.join(sf_dir, "embeddings.parquet"))
    n = min(8, size // HEAVY + 1)
    plan = _plan(fan_out(emb, HEAVY, "vec_id"))
    assert re.search(rf"Exchange hashpartitioning\(vec_id#\d+L, {n}\)", plan), plan


def test_empty_frame_gets_one_partition(spark, sf_dir):
    empty = load_table(spark, sf_dir, "documents").limit(0)
    assert _count(fan_out(empty, TEXT)) == 1
