"""Incremental materialization semantics: HWM, idempotent append, MERGE."""

from __future__ import annotations

from pyspark.sql import functions as F

from stock_crypto_data_pipeline_public_spark.operators.incremental import (
    high_water_mark,
    idempotent_append,
    incremental_run,
    merge_upsert,
)
from stock_crypto_data_pipeline_public_spark.operators.manifest import read_table


def _orders(spark, sf_dir):
    from stock_crypto_data_pipeline_public_spark.sources.tables import load_table

    return load_table(spark, sf_dir, "orders")


def test_idempotent_append_dedups_within_and_across_batches(spark, sf_dir, tmp_path):
    target = str(tmp_path / "t")
    orders = _orders(spark, sf_dir)
    batch1 = orders.filter(F.col("o_orderkey") % 2 == 0)
    n1 = idempotent_append(spark, batch1.unionByName(batch1), target, ["o_orderkey"])
    assert n1 == batch1.count()  # within-batch duplicates collapsed

    # replaying the same batch appends nothing
    assert idempotent_append(spark, batch1, target, ["o_orderkey"]) == 0

    batch2 = orders  # overlaps batch1
    n2 = idempotent_append(spark, batch2, target, ["o_orderkey"])
    assert n1 + n2 == orders.count()
    assert spark.read.parquet(target).count() == orders.count()


def test_high_water_mark_and_incremental_run(spark, sf_dir, tmp_path):
    target = str(tmp_path / "t")
    orders = _orders(spark, sf_dir)
    cutoff = "1999-01-01 00:00:00"
    old = orders.filter(F.col("o_orderdate") < cutoff)
    incremental_run(spark, old, target, ["o_orderkey"], "o_orderdate")
    hwm = high_water_mark(spark, target, "o_orderdate")
    assert hwm == old.agg(F.max("o_orderdate")).first()[0]

    # second run over the full source appends exactly the newer rows
    n = incremental_run(spark, orders, target, ["o_orderkey"], "o_orderdate")
    assert n == orders.filter(F.col("o_orderdate") > F.lit(hwm)).count()
    # rows strictly newer than hwm plus the old load = everything except
    # rows exactly AT the hwm boundary already loaded (none besides old)
    assert spark.read.parquet(target).count() == orders.filter(
        (F.col("o_orderdate") > F.lit(hwm)) | (F.col("o_orderdate") < cutoff)
    ).count()


def test_merge_upsert_last_wins(spark, sf_dir, tmp_path):
    target = str(tmp_path / "t")
    orders = _orders(spark, sf_dir).select(
        "o_orderkey", "o_totalprice", F.lit(1).alias("version")
    )
    merge_upsert(spark, orders, target, ["o_orderkey"], "version")
    before = read_table(spark, target)
    assert before.count() == orders.count()

    updates = (
        orders.filter(F.col("o_orderkey") % 10 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        .withColumn("version", F.lit(2))
    )
    merge_upsert(spark, updates, target, ["o_orderkey"], "version")
    after = read_table(spark, target)
    assert after.count() == orders.count()  # no duplicates
    updated = after.filter(F.col("version") == 2)
    assert updated.count() == updates.count()
    # all updated rows carry the doubled price
    joined = updated.alias("u").join(
        orders.alias("o"), F.col("u.o_orderkey") == F.col("o.o_orderkey")
    )
    assert joined.filter(
        F.abs(F.col("u.o_totalprice") - 2 * F.col("o.o_totalprice")) > 1e-6
    ).count() == 0


def test_merge_upsert_source_wins_on_version_tie(spark, sf_dir, tmp_path):
    target = str(tmp_path / "t")
    orders = _orders(spark, sf_dir).select(
        "o_orderkey", "o_totalprice", F.lit(1).alias("version")
    )
    merge_upsert(spark, orders, target, ["o_orderkey"], "version")
    same_version = orders.withColumn("o_totalprice", F.col("o_totalprice") + 1)
    merge_upsert(spark, same_version, target, ["o_orderkey"], "version")
    after = read_table(spark, target)
    # source preferred on tie -> all prices bumped
    orig = orders.selectExpr("o_orderkey", "o_totalprice AS orig_price")
    assert (
        after.join(orig, "o_orderkey")
        .filter(F.abs(F.col("o_totalprice") - (F.col("orig_price") + 1)) > 1e-6)
        .count()
        == 0
    )


def test_merge_upsert_recovers_from_crashed_swap(spark, sf_dir, tmp_path):
    """A leftover .__old__ directory (crash between rename-aside and
    cleanup) must not break the next merge into a plain table, and no
    transient state ever removes the live target before the staging copy
    is in place."""
    import os

    target = str(tmp_path / "t")
    orders = _orders(spark, sf_dir).select(
        "o_orderkey", "o_totalprice", F.lit(1).alias("version")
    )
    orders.write.parquet(target)  # a plain target: the merge swaps it
    n = read_table(spark, target).count()

    # simulate the crash window: previous old copy still on disk
    os.makedirs(target + ".__old__", exist_ok=True)
    with open(target + ".__old__/junk", "w") as f:
        f.write("stale")

    updates = orders.withColumn("version", F.lit(2))
    merge_upsert(spark, updates, target, ["o_orderkey"], "version")
    after = read_table(spark, target)
    assert after.count() == n
    assert after.filter(F.col("version") != 2).count() == 0
    # both transient directories are cleaned up
    assert not os.path.exists(target + ".__old__")
    assert not os.path.exists(target + ".__staging__")
