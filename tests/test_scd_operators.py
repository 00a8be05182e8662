"""SCD/dedup window operator library semantics."""

from __future__ import annotations

from pyspark.sql import functions as F

from stock_crypto_data_pipeline_public_spark.functions.keys import surrogate_key
from stock_crypto_data_pipeline_public_spark.operators.scd import (
    changes_only,
    latest_wins,
    scd2,
    top_k,
)
from stock_crypto_data_pipeline_public_spark.sources.tables import load_table


def test_dedup_keep_first_deterministic(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    out = top_k(ev, ["user_id"], [F.asc("ts"), F.asc("event_id")])
    assert out.count() == ev.select("user_id").distinct().count()
    # doubling the input must not change the result (idempotent dedup)
    doubled = top_k(
        ev.unionByName(ev), ["user_id"], [F.asc("ts"), F.asc("event_id")]
    )
    assert doubled.exceptAll(out).count() == 0


def test_latest_wins_matches_max_ts(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    out = latest_wins(ev, ["user_id"], "ts", "event_id")
    mx = ev.groupBy("user_id").agg(F.max("ts").alias("ts"))
    assert out.join(mx, ["user_id", "ts"]).count() == out.count()


def test_scd2_ranges_partition_time(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    hist = scd2(ev, ["user_id"], "ts", "event_id")
    # exactly one current row per user
    cur = hist.filter("is_current").groupBy("user_id").count()
    assert cur.filter(F.col("count") != 1).count() == 0
    # no overlaps: next effective_from == this effective_to (lead check,
    # reference tests/test_customer_history_no_overlaps.sql:9-12)
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy(F.asc("effective_from"), F.asc("event_id"))
    bad = hist.withColumn("next_from", F.lead("effective_from").over(w)).filter(
        F.col("next_from").isNotNull() & (F.col("next_from") != F.col("effective_to"))
    )
    assert bad.count() == 0


def test_changes_only_collapses_consecutive_duplicates(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    out = changes_only(ev, ["user_id"], surrogate_key("event_type"), "ts", "event_id")
    # re-emitting unchanged versions adds nothing: feed output through again
    again = changes_only(out, ["user_id"], surrogate_key("event_type"), "ts", "event_id")
    assert again.count() == out.count()
    # and the first event per user always survives
    assert out.count() >= ev.select("user_id").distinct().count()


def test_changes_only_null_hashdiff_handling(spark):
    """First version with a null hashdiff is kept; a null->value transition
    counts as a change; null->null does not."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from stock_crypto_data_pipeline_public_spark.operators.scd import changes_only

    t = lambda m: datetime(2024, 1, 1, 10, m)
    df = spark.createDataFrame(
        [("k", t(0), None), ("k", t(1), None), ("k", t(2), "h1"), ("k", t(3), "h1")],
        "k string, ts timestamp, hd string",
    )
    kept = changes_only(df, ["k"], F.col("hd"), "ts", "ts").collect()
    assert sorted(r.ts.minute for r in kept) == [0, 2]


def test_scd2_sentinel_matches_input_timestamp_type(spark):
    from datetime import datetime

    from pyspark.sql.types import TimestampNTZType

    from stock_crypto_data_pipeline_public_spark.operators.scd import scd2

    df = spark.createDataFrame(
        [("k", datetime(2024, 1, 1))], "k string, ts timestamp_ntz"
    )
    out = scd2(df, ["k"], "ts", "ts")
    assert isinstance(out.schema["effective_to"].dataType, TimestampNTZType)
