"""Streaming-path gated queries: the driver's value-hash gate covers every
batch operator, but the streaming layer (readStream →
foreachBatch → checkpoint) was only ever proven by local tests. s01 closes
that gap: its returned DataFrame is computed from tables that were LANDED
BY STRUCTURED STREAMING inside the query — two drains with a checkpoint
restart and a deliberate at-least-once file redelivery between them — so a
checkpoint regression, a foreachBatch replay bug, or a broken idempotent
append all change the hash.

Reference analog: the Kafka consumer's poll → batch → idempotent-insert
loop (reference scripts/kafka/kafka_consumer.py:447-563) with its
at-least-once redelivery contract; the file stream is this container's
stand-in for the Kafka source (streaming/pipeline.file_stream), identical
downstream pipeline.
"""

from __future__ import annotations

from collections.abc import Callable
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, Window as _W
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..functions.numeric import dec, money_sum, money_sum_e2, oracle_money_sum, oracle_money_sum_e2, oracle_rnd, rnd
from ..scratch import with_scratch
from ..sources.tables import load_table, local_rows
from .registry import query


@contextmanager
def _drain_shuffle(spark: SparkSession, n: int):
    """Pin ``spark.sql.shuffle.partitions`` to ``n`` for a streaming drain
    and restore the session value on exit.

    The stateful operators (windowed agg, stream-stream join, dedup,
    applyInPandasWithState) create one state-store instance PER shuffle
    partition, and the checkpoint pins the count at first start, so the
    value is also what makes the gated end states
    environment-independent."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _drain(
    spark: SparkSession,
    *starts: Callable[[], StreamingQuery],
    python_state: bool = False,
) -> None:
    """One drain: call every ``start()`` under a pinned state partition
    count, then await every query — each runs to the offsets available at
    its start and stops. If a start or an await raises, every query still
    active is stopped before the error propagates, so none outlives the
    scratch directory it writes to.

    The count is 2: availableNow drains pay per-partition state commit and
    snapshot I/O every micro-batch, and at gate data volumes near-empty
    state partitions are pure overhead. ``python_state`` (the
    applyInPandasWithState drains) takes half the cores, floor 2: that
    operator calls its function once per group, so its cost is
    Python-worker-bound and two partitions would starve it. The gated end
    states are the same at any count, and only the s-queries drain here, so
    neither count is an env knob."""
    n = max(2, spark.sparkContext.defaultParallelism // 2) if python_state else 2
    with _drain_shuffle(spark, n):
        started: list[StreamingQuery] = []
        try:
            for start in starts:
                started.append(start())
            for q in started:
                q.awaitTermination()
        finally:
            for q in started:
                if q.isActive:
                    q.stop()


def _to_parquet(df: DataFrame, sink: str, ckpt: str) -> StreamingQuery:
    """Start the append-mode native parquet sink, drained to the available
    offsets."""
    return (
        df.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def _land(df: DataFrame, landing: str) -> None:
    """Append ``df`` to a landing directory as ONE file, so no micro-batch
    of the next drain sees only part of it."""
    df.coalesce(1).write.mode("append").parquet(landing)


# --------------------------------------------------------------------------
# s01 — streaming ingest end state, both delivery contracts at once:
#
#   landing:  phase A (even event_ids)          → drain 1
#             phase B (odd) + phase A REPLAYED  → drain 2 (same checkpoints)
#
#   sink P: the NATIVE parquet file sink (writeStream.format("parquet") +
#     _spark_metadata commit log). Exactly-once PER SOURCE FILE — but the
#     replayed phase-A files are NEW files, so they land twice:
#     n_plain = |A∪B| + |A|. If the checkpoint restart reprocessed drain-1
#     files, n_plain would be |2A∪B| + |A| → hash fail; if the restart
#     skipped the new files, rows go missing → hash fail. The checkpoint
#     is load-bearing in both directions.
#
#   sink V: run_incremental_sink (foreachBatch → idempotent_append keyed on
#     event_id — the reference consumer's ON CONFLICT DO NOTHING,
#     kafka_consumer.py:520-547). The same redelivered files dedup away:
#     n_vault = |A∪B| exactly. A dedup regression double-lands phase A →
#     hash fail.
#
# The oracle states both end states in closed form over the source table.
# Scale: each micro-batch does one left-anti join against the target's key
# column (parquet column prune) — batch-size work, not corpus-size; the
# native sink is a pure append with an O(1) manifest commit.
# --------------------------------------------------------------------------
@query(
    "s01_streaming_ingest_end_state",
    oracle=f"""
    SELECT event_type,
           CAST(count(*) + count(*) FILTER (event_id % 2 = 0) AS BIGINT)
                                                         AS n_plain,
           CAST(count(*) AS BIGINT)                      AS n_vault,
           {oracle_money_sum_e2('value')}                AS sum_value_e2,
           CAST(max(event_id) AS BIGINT)                 AS max_event_id
    FROM events
    GROUP BY event_type
    """,
)
@with_scratch("s01_stream_")
def s01_streaming_ingest_end_state(spark: SparkSession, sf_dir: str, base: str) -> DataFrame:
    from ..streaming.pipeline import file_stream, run_incremental_sink

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    landing = f"{base}/landing"
    plain_tgt, vault_tgt = f"{base}/raw_plain", f"{base}/raw_vault"

    def drain() -> None:
        _drain(
            spark,
            lambda: _to_parquet(
                file_stream(spark, landing, ev.schema), plain_tgt, f"{base}/ckpt_plain"
            ),
            lambda: run_incremental_sink(
                file_stream(spark, landing, ev.schema),
                vault_tgt,
                keys=["event_id"],
                checkpoint=f"{base}/ckpt_vault",
            ),
        )

    phase_a = ev.filter(F.col("event_id") % 2 == 0)
    phase_a.write.mode("append").parquet(landing)
    drain()
    # at-least-once redelivery: phase B plus phase A AGAIN as new files
    ev.filter(F.col("event_id") % 2 == 1).write.mode("append").parquet(landing)
    phase_a.write.mode("append").parquet(landing)
    drain()  # fresh start(), same checkpoints: must resume, not replay

    plain = (
        spark.read.parquet(plain_tgt)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_plain"))
    )
    vault = (
        spark.read.parquet(vault_tgt)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_vault"),
            # decimal money policy: float sums are summation-order-
            # dependent at the rounding boundary (numeric.py)
            money_sum_e2("value").alias("sum_value_e2"),
            F.max("event_id").alias("max_event_id"),
        )
    )
    return plain.join(vault, "event_type")


# --------------------------------------------------------------------------
# s02 — event-time WATERMARK semantics end to end: daily windowed counts
# (streaming/pipeline.windowed_counts — window + withWatermark + append
# mode) over three checkpoint-resumed drains:
#
#   drain 1: everything except the late set (event_id % 17 = 3), ONE file
#            → one micro-batch; watermark lands at max(on-time ts) − 1 day.
#   drain 2: the late set PLUS one sentinel row 30 days past max(ts),
#            ONE file → one micro-batch resumed from drain 1's checkpoint.
#            Spark's contract (pinned empirically before this query was
#            written): rows are filtered against the watermark from the
#            PREVIOUS batch — so every late row is judged against the
#            drain-1 watermark (DROPPED iff window.end <= it, admitted
#            into the still-open window otherwise) even though the
#            sentinel rides in the same batch; the watermark then advances
#            at batch END, sweeping past every real window, and append
#            mode EMITS them exactly once. The sentinel's own window
#            stays open and must NOT appear.
#
# The sink's final content is therefore a pure function of the source
# table: daily counts over on-time rows plus exactly the late rows whose
# window end exceeded the drain-1 watermark. The oracle states that
# closed form — a drop-rule regression (admitting expired rows or
# dropping admissible ones), a watermark that fails to persist across the
# restarts, a double emission, or a leaked open window all hash-fail.
# (Precision note: Spark tracks watermarks in ms, the oracle in µs —
# divergence needs max(ts)−1d within 1 ms of a midnight boundary; the
# fixture max is hours away at every SF, checked when this was built.)
#
# Scale: windowed agg state is hash-partitioned by (window, event_type);
# the watermark bounds state to ~1 day of open windows regardless of
# stream length — this is THE mechanism that makes infinite streams
# finite-state, and it is a gated number, not a doc claim.
# --------------------------------------------------------------------------
@query(
    "s02_streaming_watermark_end_state",
    oracle=f"""
    WITH src AS (
        SELECT event_id, event_type, value, CAST(ts AS TIMESTAMP) AS ts
        FROM events WHERE ts IS NOT NULL
    ),
    w1 AS (
        SELECT max(ts) - INTERVAL 1 DAY AS wm FROM src WHERE event_id % 17 <> 3
    ),
    kept AS (
        SELECT * FROM src
        WHERE event_id % 17 <> 3
           OR date_trunc('day', ts) + INTERVAL 1 DAY > (SELECT wm FROM w1)
    )
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP)   AS window_start,
           event_type,
           CAST(count(*) AS BIGINT)                   AS n_events,
           {oracle_money_sum_e2('value')}             AS total_value_e2
    FROM kept
    GROUP BY 1, 2
    """,
)
@with_scratch("s02_stream_")
def s02_streaming_watermark_end_state(spark: SparkSession, sf_dir: str, base: str) -> DataFrame:
    import datetime

    from ..streaming.pipeline import file_stream, windowed_counts

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value", "ts"
    )
    landing, sink, ckpt = f"{base}/landing", f"{base}/sink", f"{base}/ckpt"

    def start() -> StreamingQuery:
        # decimal money policy applied ON the stream: the windowed sum then
        # accumulates exactly (order-independent) and the sink stores the
        # decimal, cast to its double image only at the read-back edge
        stream = file_stream(spark, landing, ev.schema).withColumn(
            "value", dec("value")
        )
        return _to_parquet(windowed_counts(stream, "ts", "1 day", "1 day"), sink, ckpt)

    on_time = ev.filter("event_id % 17 <> 3")
    late = ev.filter("event_id % 17 = 3")
    # single file per phase => exactly one micro-batch per drain, so
    # the watermark position between drains is fully determined
    _land(on_time, landing)
    _drain(spark, start)
    mx = ev.agg(F.max("ts")).first()[0]  # bounded 1-row pull
    # single-slice local relation: the multi-slice default made the
    # coalesce(1) landing write pay one sequential Python round-trip per
    # slice for this ONE row (see sources.tables.local_rows)
    sentinel = local_rows(
        spark, [(-1, "sentinel", 0.0, mx + datetime.timedelta(days=30))], ev.schema
    )
    _land(late.unionByName(sentinel), landing)
    _drain(spark, start)

    return spark.read.parquet(sink).select(
        "window_start",
        "event_type",
        "n_events",
        # the sink stores the exact decimal window sum; ×100 is integral
        (F.col("total_value") * F.lit(100)).cast("bigint").alias("total_value_e2"),
    )


# --------------------------------------------------------------------------
# s03 — STREAM-STREAM join state across a checkpoint restart
# (streaming/pipeline.attribution_join — watermarked inner equi-join with a
# time-range bound, the streaming form of e08's purchase-attribution
# window):
#
#   landing_c: ALL clicks, one file     → drain 1 (purchase side empty)
#   landing_p: ALL purchases, one file  → drain 2 (fresh start(), same
#                                          checkpoint)
#
# Every joined pair can only be emitted in drain 2 by matching against
# click rows BUFFERED IN THE JOIN STATE STORE during drain 1 and recovered
# across the restart — a lost/corrupt state store, a watermark that
# spuriously evicted the clicks (the purchase side saw no data in drain 1,
# so the global min-policy watermark must still be at epoch and NOTHING may
# be evicted), or a range-condition slip all change the end state. The
# oracle is the closed-form batch join: with both sides fully delivered,
# the streaming inner join's final output is exactly the batch result.
#
# Scale: each side buffers only its watermark horizon of rows (state keyed
# by user_id, hash-partitioned); the time-range bound is what lets Spark
# evict click state once the purchase watermark passes click_ts + within.
# This is the canonical clickstream-attribution shape at any volume.
# --------------------------------------------------------------------------
@query(
    "s03_stream_stream_attribution",
    oracle="""
    SELECT c.user_id,
           c.event_id AS click_id,
           p.event_id AS purchase_id,
           CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS lag_us
    FROM events c
    JOIN events p
      ON p.user_id = c.user_id
     AND c.event_type = 'click'
     AND p.event_type = 'purchase'
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 2 HOUR
    """,
)
@with_scratch("s03_stream_")
def s03_stream_stream_attribution(spark: SparkSession, sf_dir: str, base: str) -> DataFrame:
    import os

    from ..streaming.pipeline import attribution_join, file_stream

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    landing_c, landing_p = f"{base}/clicks", f"{base}/purchases"
    sink, ckpt = f"{base}/sink", f"{base}/ckpt"
    os.makedirs(landing_p, exist_ok=True)  # drain 1: purchase side exists, empty

    def start() -> StreamingQuery:
        joined = attribution_join(
            file_stream(spark, landing_c, clicks.schema),
            file_stream(spark, landing_p, purchases.schema),
            click_ts="click_ts",
            purchase_ts="purchase_ts",
            watermark="1 hour",
            within="2 hours",
        )
        return _to_parquet(
            joined.select(
                "user_id",
                "click_id",
                "purchase_id",
                (
                    F.unix_micros(F.col("purchase_ts"))
                    - F.unix_micros(F.col("click_ts"))
                ).alias("lag_us"),
            ),
            sink,
            ckpt,
        )

    # one file per phase => one micro-batch per drain (the watermark
    # and state-commit positions between drains are fully determined)
    _land(clicks, landing_c)
    _drain(spark, start)
    _land(purchases, landing_p)
    _drain(spark, start)  # resumed join state must hold every drain-1 click
    return spark.read.parquet(sink)


# --------------------------------------------------------------------------
# s04 — CUSTOM STATEFUL OPERATOR end state: cross-batch sessionization via
# applyInPandasWithState (streaming/stateful.sessionize_stream — the one
# streaming shape built-in operators genuinely cannot express: one OPEN
# session per user carried in the state store, a row emitted per session
# CLOSED by a later event beyond the 6 h inactivity gap).
#
# The source lands in two time-ordered phases split at the corpus midpoint
# timestamp (every user's phase-A events precede their phase-B events), one
# file each → one micro-batch per drain, with a fresh start() against the
# same checkpoint between them. Sessions that SPAN the cut can only close
# correctly if drain 1's open-session state (start, last_ts, n_events,
# session_no) survives the restart — a state-schema or recovery bug merges
# or splits exactly those sessions and breaks the hash. The oracle is the
# closed-form batch sessionization (lag-gap > 6 h starts a session) minus
# each user's LAST session, which is precisely the set an end-of-stream
# drain must leave open and never emit.
#
# Scale: state is one fixed-width row per ACTIVE user (RocksDB-backed in
# production), hash-partitioned by user; each micro-batch touches only the
# users present in it. This gates the applyInPandasWithState machinery —
# Arrow chunk re-assembly, state round-trip, append-mode emission — as a
# driver-hard number, not a doc claim.
# --------------------------------------------------------------------------
@query(
    "s04_stateful_sessionization",
    oracle="""
    WITH src AS (
        SELECT user_id, ts FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ),
    seq AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                       > CAST(6 AS BIGINT) * 3600 * 1000000
                    THEN 1 ELSE 0 END AS brk
        FROM src WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)
    ),
    sess AS (
        SELECT user_id, ts,
               CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts ASC
                                   ROWS UNBOUNDED PRECEDING) AS INT) AS session_no
        FROM seq
    ),
    g AS (
        SELECT user_id, session_no,
               CAST(epoch_us(min(ts)) AS BIGINT) AS session_start_us,
               CAST(epoch_us(max(ts)) AS BIGINT) AS session_end_us,
               CAST(count(*) AS BIGINT)          AS n_events
        FROM sess GROUP BY 1, 2
    )
    SELECT user_id, session_no, session_start_us, session_end_us, n_events
    FROM g
    WHERE session_no < (SELECT max(g2.session_no) FROM g g2
                        WHERE g2.user_id = g.user_id)
    """,
)
@with_scratch("s04_stream_")
def s04_stateful_sessionization(spark: SparkSession, sf_dir: str, base: str) -> DataFrame:
    from ..streaming.pipeline import file_stream
    from ..streaming.stateful import sessionize_stream

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select("user_id", "ts")
    )
    landing, sink, ckpt = f"{base}/landing", f"{base}/sink", f"{base}/ckpt"

    def start() -> StreamingQuery:
        return _to_parquet(
            sessionize_stream(file_stream(spark, landing, ev.schema), gap_minutes=360),
            sink,
            ckpt,
        )

    # time-ordered split at the corpus midpoint: per user, all phase-A
    # events precede phase-B, so cross-batch tracking must reproduce
    # the full-corpus sessionization exactly (bounded 1-row pull)
    mn, mx = ev.agg(F.min("ts"), F.max("ts")).first()
    cut = mn + (mx - mn) / 2
    _land(ev.filter(F.col("ts") <= cut), landing)
    _drain(spark, start, python_state=True)
    _land(ev.filter(F.col("ts") > cut), landing)
    # open sessions recovered from the checkpointed state store
    _drain(spark, start, python_state=True)
    return spark.read.parquet(sink)


# --------------------------------------------------------------------------
# s05 — STREAM-STATIC broadcast enrichment with a dimension RELOAD between
# micro-batches (streaming/pipeline.enrich_stream — the most common
# production streaming join):
#
#   phase A events land, dim v1 written       → drain 1
#   dim OVERWRITTEN with v2, phase B lands    → drain 2 (same checkpoint)
#
# Enrichment is PROCESSING-time, not event-time: each event carries the
# dim version current when its micro-batch ran. The end state therefore
# distinguishes three failure modes a batch join cannot: a checkpoint
# regression that reprocesses phase A in drain 2 stamps it v2 (hash fail);
# a drain that misses the dim reload stamps phase B v1 (hash fail); a
# non-idempotent sink duplicates rows (rows fail). The oracle states the
# closed form — events split at the integer-µs corpus midpoint, each side
# joined to its dim version.
#
# Scale: the dim is explicitly broadcast — zero stream-side state, no
# shuffle on the stream, per-batch cost one hash-probe pass; re-reading
# the static side per batch is what makes slowly-changing dims safe
# without restarting the query (dims too big to broadcast: pre-bucket
# both sides, same call — catalog.py).
# --------------------------------------------------------------------------
@query(
    "s05_stream_static_enrichment",
    oracle="""
    WITH cut AS (
        SELECT (epoch_us(min(ts)) + epoch_us(max(ts))) // 2 AS us FROM events
    )
    SELECT e.event_id,
           e.user_id,
           e.event_type,
           CASE WHEN epoch_us(e.ts) <= (SELECT us FROM cut)
                THEN c.c_mktsegment
                ELSE 'POST:' || c.c_mktsegment END AS segment
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    """,
)
@with_scratch("s05_stream_")
def s05_stream_static_enrichment(spark: SparkSession, sf_dir: str, base: str) -> DataFrame:
    from ..streaming.pipeline import enrich_stream, file_stream

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    dim_v1 = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    dim_v2 = dim_v1.withColumn("segment", F.concat(F.lit("POST:"), F.col("segment")))
    landing, dim_dir = f"{base}/landing", f"{base}/dim"
    sink, ckpt = f"{base}/sink", f"{base}/ckpt"

    def start() -> StreamingQuery:
        dim = spark.read.parquet(dim_dir)
        stream = file_stream(spark, landing, ev.schema)
        return _to_parquet(
            enrich_stream(stream, dim, ["user_id"], how="inner").select(
                "event_id", "user_id", "event_type", "segment"
            ),
            sink,
            ckpt,
        )

    # integer-µs midpoint: exactly the oracle's cut (bounded 1-row pull;
    # timeops.epoch_us — ts is TIMESTAMP_NTZ, unix_micros is LTZ-only)
    from ..functions.timeops import epoch_us

    mn_us, mx_us = ev.agg(
        F.min(epoch_us("ts")), F.max(epoch_us("ts"))
    ).first()
    cut_us = (mn_us + mx_us) // 2
    phase_a = ev.filter(epoch_us("ts") <= F.lit(cut_us))
    phase_b = ev.filter(epoch_us("ts") > F.lit(cut_us))

    _land(phase_a, landing)
    dim_v1.write.mode("overwrite").parquet(dim_dir)
    _drain(spark, start)
    dim_v2.write.mode("overwrite").parquet(dim_dir)  # the dim reload
    _land(phase_b, landing)
    _drain(spark, start)  # checkpoint: drain-1 files must NOT re-enrich under v2
    return spark.read.parquet(sink)


# --------------------------------------------------------------------------
# s06 — NATIVE streaming dedup end state (streaming/pipeline.dedup_stream —
# `dropDuplicatesWithinWatermark`, the bounded-state twin of s01's
# foreachBatch anti-join dedup):
#
#   drain 1: the full corpus, one file
#   drain 2: a redelivered duplicate subset (event_id % 13 = 2), one file,
#            fresh start() on the same checkpoint
#
# The end state must be every event EXACTLY ONCE. Drain 2's recent
# duplicates (inside the 15-day horizon of the recovered watermark) can
# only be suppressed by dedup state that SURVIVED the restart; older ones
# by the operator's late-row handling against the recovered watermark —
# a lost state store, a broken watermark recovery, or a sink replay all
# add rows and fail the gate in the rows themselves. (With the 15-day
# delay over the 30-day fixture, no first-occurrence state has expired
# by drain 2 — checked when this was built — so zero re-emissions is the
# pinned contract, not a tuning accident.)
#
# Scale: ONE fixed-width state entry per key within the horizon, evicted
# as the watermark passes (state ∝ horizon, never ∝ history) — the only
# dedup shape that survives an infinite stream; plain dropDuplicates
# grows forever and is banned from the streaming path.
# --------------------------------------------------------------------------
@query(
    "s06_streaming_dedup_end_state",
    oracle="""
    SELECT event_id, event_type, value FROM events
    """,
)
@with_scratch("s06_stream_")
def s06_streaming_dedup_end_state(spark: SparkSession, sf_dir: str, base: str) -> DataFrame:
    from ..streaming.pipeline import dedup_stream, file_stream

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value", "ts"
    )
    landing, sink, ckpt = f"{base}/landing", f"{base}/sink", f"{base}/ckpt"

    def start() -> StreamingQuery:
        return _to_parquet(
            dedup_stream(
                file_stream(spark, landing, ev.schema),
                keys=["event_id"],
                ts_col="ts",
                watermark="15 days",
            ).select("event_id", "event_type", "value"),
            sink,
            ckpt,
        )

    _land(ev, landing)
    _drain(spark, start)
    # at-least-once redelivery: a deterministic duplicate subset as a
    # NEW file — the recovered dedup state must swallow every row
    _land(ev.filter("event_id % 13 = 2"), landing)
    _drain(spark, start)
    return spark.read.parquet(sink)


# --------------------------------------------------------------------------
# s07 — streaming OHLCV bars end state ≡ the batch candles
# (streaming/pipeline.windowed_ohlcv — tumbling event-time windows with
# min_by/max_by open/close, O(1) bar state). The
# full corpus drains once; a sentinel tick 30 days past max(ts) drains
# second through the same checkpoint, sweeping the watermark past every
# real bar so append mode emits them all exactly once — the sentinel's own
# bar stays open and must be withheld. The oracle is f01's batch
# aggregation: for a fully-delivered stream, the streaming bars must equal
# the batch bars BIT-EXACTLY (open/high/low/close are selected raw
# doubles, never accumulated; volume is an integer sum) — a bar-state
# merge bug, a min_by tie-break drift, or a watermark that finalizes a bar
# early all change the end state.
#
# Scale: per-(window, symbol) state is four scalars + two counters — not a
# buffered row list — and the watermark bounds open bars to the horizon;
# this is the production shape for exchange-feed candle building at any
# tick rate.
# --------------------------------------------------------------------------
@query(
    "s07_streaming_ohlcv_end_state",
    oracle="""
    SELECT date_trunc('hour', ts)                       AS bar_start,
           event_type                                   AS symbol,
           arg_min(value, event_id)                     AS open,
           max(value)                                   AS high,
           min(value)                                   AS low,
           arg_max(value, event_id)                     AS close,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
                                                        AS volume,
           CAST(count(*) AS BIGINT)                     AS n_trades
    FROM events
    GROUP BY 1, 2
    """,
)
@with_scratch("s07_stream_")
def s07_streaming_ohlcv_end_state(spark: SparkSession, sf_dir: str, base: str) -> DataFrame:
    import datetime

    from ..streaming.pipeline import file_stream, windowed_ohlcv

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value", "props", "ts"
    )
    landing, sink, ckpt = f"{base}/landing", f"{base}/sink", f"{base}/ckpt"

    def start() -> StreamingQuery:
        return _to_parquet(
            windowed_ohlcv(
                file_stream(spark, landing, ev.schema),
                ts_col="ts",
                window="1 hour",
                watermark="2 hours",
                seq_col="event_id",
            ),
            sink,
            ckpt,
        )

    _land(ev, landing)
    _drain(spark, start)
    mx = ev.agg(F.max("ts")).first()[0]  # bounded 1-row pull
    # single-slice local relation (see s02 / sources.tables.local_rows: the
    # coalesce(1) write of the multi-slice form is slow for one row)
    sentinel = local_rows(
        spark,
        [(-1, "sentinel", 0.0, None, mx + datetime.timedelta(days=30))],
        ev.schema,
    )
    _land(sentinel, landing)
    _drain(spark, start)  # watermark sweeps past every real bar; sentinel bar open
    return spark.read.parquet(sink)

# --------------------------------------------------------------------------
# s08 — STREAMING CURATION SINK end state: near-dup detection ON the
# document stream (streaming/pipeline.run_neardup_sink → foreachBatch →
# operators/dedup.incremental_neardup; the last streaming family that was
# proven only by the local suite). Three landed phases, two drains:
#
#   phase A (even doc_ids), one file                  → drain 1
#   phase B (odd doc_ids) + a REDELIVERED slice of A  → drain 2 (fresh
#            (doc_id % 10 = 0, as new files)            start(), same ckpt)
#
# Drain 2's new docs pair only against the persisted shingle inverted
# index built by drain 1 (plus within-batch) — per-batch work ∝ batch
# size — and the redelivered phase-A files exercise the at-least-once
# contract: their doc_ids are already in the index, so the operator must
# drop them up front (a regression re-pairs them and duplicates edges →
# hash fail; a checkpoint regression that replays drain-1 FILES fails the
# same way). The end state read through read_neardup_edges
# (distinct-on-read, the exactly-once view of the at-least-once log) must
# equal the ONE-SHOT batch edge set — t31's closed form, stated by the
# same oracle: trigram-shingle pairs with Jaccard ≥ 1/2.
#
# Scale: the sink's index grows with the corpus but each micro-batch
# touches only its own shingles (equi-join against postings, broadcast-new
# when small); edges append-only with crash-safe ordering (edges BEFORE
# index fold — pipeline.run_neardup_sink docstring). This is the
# production shape for dedup-on-ingest at any stream rate.
# --------------------------------------------------------------------------
from ..operators import dedup as _D  # noqa: E402


@query(
    "s08_streaming_neardup_end_state",
    oracle=f"""
    WITH sh AS (
        SELECT DISTINCT doc_id, unnest({_D.oracle_shingles('text')}) AS shingle
        FROM documents
    ),
    counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT p.doc_a, p.doc_b, p.n_common,
           ca.n AS n_a, cb.n AS n_b
    FROM pairs p
    JOIN counts ca ON p.doc_a = ca.doc_id
    JOIN counts cb ON p.doc_b = cb.doc_id
    WHERE 2 * p.n_common >= ca.n + cb.n - p.n_common
    """,
)
@with_scratch("s08_stream_")
def s08_streaming_neardup_end_state(spark: SparkSession, sf_dir: str, base: str) -> DataFrame:
    from ..operators.dedup import read_neardup_edges
    from ..streaming.pipeline import file_stream, run_neardup_sink

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    landing = f"{base}/landing"
    index_dir, edges, ckpt = f"{base}/index", f"{base}/edges", f"{base}/ckpt"

    def start() -> StreamingQuery:
        return run_neardup_sink(
            file_stream(spark, landing, docs.schema),
            index_dir,
            edges,
            ckpt,
        )

    even = docs.filter(F.col("doc_id") % 2 == 0)
    _land(even, landing)
    _drain(spark, start)
    # phase B plus an at-least-once redelivery of a phase-A slice as
    # NEW files: the recovered index must drop the replayed docs
    _land(docs.filter(F.col("doc_id") % 2 == 1), landing)
    _land(even.filter(F.col("doc_id") % 10 == 0), landing)
    _drain(spark, start)
    return read_neardup_edges(spark, edges)

# --------------------------------------------------------------------------
# s09 — STREAMING ANN-INDEX GROWTH end state (streaming/pipeline.
# run_ann_index_sink → foreachBatch → annindex.add_to_ann_index; the ANN
# family's streaming wrapper was local-only — x13 gates the batch
# build/add/query path). The index is BUILT from the even vec_ids, then
# the odd vec_ids stream in:
#
#   phase B (odd vec_ids), one file                   → drain 1
#   a REDELIVERED slice of B (vec_id % 10 = 5),       → drain 2 (fresh
#     as a new file                                     start(), same ckpt)
#
# Drain 2 gates the replay contract twice over: the checkpoint must not
# re-deliver drain-1 FILES, and add_to_ann_index's dedupe scan must drop
# the redelivered already-indexed ids (a regression appends them again —
# duplicate neighbors enter the top-k and break the hash). The end state
# is an EXHAUSTIVE-probe query (nprobe = IVF_K, so partition pruning
# keeps every cluster) for the same 10 query vectors x13 uses: with all
# clusters probed, the grown index's top-5 must equal brute-force cosine
# top-5 over the FULL embeddings table — every vector present exactly
# once, with intact payload, in a geometry shared between build and add
# (the sidecar centroids). Oracle = x01's brute-force closed form.
#
# Scale: per-batch work ∝ batch size (assign against a K-row broadcast +
# partitioned append); queries between batches keep pruning correctly
# because old and new vectors share the sidecar geometry. This is the
# production shape for an embedding index that grows with its stream.
# --------------------------------------------------------------------------
from ..operators import similarity as _S  # noqa: E402


@query(
    "s09_streaming_ann_index_end_state",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qe FROM embeddings
        WHERE vec_id >= 100 AND vec_id < 110
    ),
    scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               {oracle_rnd(_S.oracle_cosine('q.qe', 'e.embedding'), 4)} AS cosine_sim
        FROM q JOIN embeddings e ON e.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cosine_sim, rk
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC
        ) AS rk
        FROM scored
    )
    WHERE rk <= 5
    """,
)
@with_scratch("s09_stream_")
def s09_streaming_ann_index_end_state(spark: SparkSession, sf_dir: str, base: str) -> DataFrame:
    from ..operators.annindex import build_ann_index, query_ann_index
    from ..streaming.pipeline import file_stream, run_ann_index_sink
    from .vectorops import EMB_DIM, IVF_K

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # bounded pulls: K=8 seed centroids + 10 query vectors (x13's convention)
    small = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.filter(
            (F.col("vec_id") < IVF_K)
            | ((F.col("vec_id") >= 100) & (F.col("vec_id") < 110))
        ).collect()
    }
    centroids = [small[i] for i in range(IVF_K)]
    queries = {qid: small[qid] for qid in range(100, 110)}

    index_dir, landing, ckpt = f"{base}/index", f"{base}/landing", f"{base}/ckpt"

    def start() -> StreamingQuery:
        return run_ann_index_sink(
            file_stream(spark, landing, emb.schema),
            index_dir,
            EMB_DIM,
            checkpoint=ckpt,
        )

    build_ann_index(
        spark,
        emb.filter(F.col("vec_id") % 2 == 0),
        index_dir,
        centroids,
        EMB_DIM,
        verify=False,
    )
    odd = emb.filter(F.col("vec_id") % 2 == 1)
    _land(odd, landing)
    _drain(spark, start)
    # at-least-once redelivery of an already-streamed slice, new file:
    # the checkpoint skips drain-1 files; add_to_ann_index's dedupe
    # scan must drop these re-sent ids
    _land(odd.filter(F.col("vec_id") % 10 == 5), landing)
    _drain(spark, start)
    return query_ann_index(spark, index_dir, queries, EMB_DIM, nprobe=IVF_K, topk=5)

# --------------------------------------------------------------------------
# s10 — STREAMING CDC MERGE end state (streaming/pipeline.
# run_manifest_merge_sink → foreachBatch → incremental.merge_upsert with
# the pointer-file manifest commit — the "streaming MERGE INTO a
# Delta-style table" shape):
#
#   phase A: every event as version 1            → drain 1 (gen commit)
#   phase B: version-2 UPDATES for event_id%7=0  → drain 2 (fresh
#            (value negated) + phase A REDELIVERED  start(), same ckpt)
#
# Last-wins-by-VERSION makes the end state order-independent: however the
# drain-2 files split into micro-batches, a v1 row can never overwrite a
# v2 row (and the redelivered v1 rows re-merge value-identically — the
# replay contract). The end state read through manifest.read_table must
# be the closed form the oracle states: every event exactly once, updated
# keys carrying version 2 and the negated value (negation is bit-exact in
# IEEE, so the doubles hash identically across engines). A broken
# checkpoint recovery, a version-comparison slip, a lost generation
# pointer, or a non-idempotent re-merge each change rows or values.
#
# Scale: per-epoch cost is one co-partitioned window over (target ∪
# batch) — at real scale the target is partitioned and only key-affected
# partitions rewrite, or Delta/Iceberg MERGE INTO replaces the body with
# the identical semantics; the commit is a single small-file PUT at any
# table size (operators/manifest.py).
# --------------------------------------------------------------------------
@query(
    "s10_streaming_cdc_merge_end_state",
    oracle="""
    SELECT event_id, event_type,
           CASE WHEN event_id % 7 = 0 THEN -value ELSE value END AS value,
           CAST(CASE WHEN event_id % 7 = 0 THEN 2 ELSE 1 END AS INT) AS version
    FROM events
    """,
)
@with_scratch("s10_stream_")
def s10_streaming_cdc_merge_end_state(spark: SparkSession, sf_dir: str, base: str) -> DataFrame:
    from ..operators.manifest import read_table
    from ..streaming.pipeline import file_stream, run_manifest_merge_sink

    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    landing, table, ckpt = f"{base}/landing", f"{base}/table", f"{base}/ckpt"

    v1 = ev.withColumn("version", F.lit(1).cast("int"))
    v2 = (
        ev.filter(F.col("event_id") % 7 == 0)
        .withColumn("value", -F.col("value"))
        .withColumn("version", F.lit(2).cast("int"))
    )

    def start() -> StreamingQuery:
        return run_manifest_merge_sink(
            file_stream(spark, landing, v1.schema),
            table,
            keys=["event_id"],
            version_col="version",
            checkpoint=ckpt,
        )

    _land(v1, landing)
    _drain(spark, start)
    # updates + an at-least-once REDELIVERY of all of phase A as new
    # files; version ordering makes any batch split land on the same
    # end state, and the replayed v1 rows must re-merge identically
    _land(v2, landing)
    _land(v1, landing)
    _drain(spark, start)
    return read_table(spark, table).select("event_id", "event_type", "value", "version")

# --------------------------------------------------------------------------
# s11 — STREAMING MEDIA-FEATURE sink end state (streaming/pipeline.
# run_media_feature_sink — binary payloads stream in, the REAL codecs
# extract features per micro-batch, the narrow feature table lands
# partitioned by epoch). Even doc_ids' WAV clips
# drain first, odd doc_ids' drain second through a fresh start() on the
# same checkpoint. This sink's exactly-once is EPOCH-overwrite (each
# micro-batch owns an immutable epoch=N partition, so a crash replay
# rewrites identically) — which means a checkpoint regression that
# re-processes drain-1 files lands them under a NEW epoch and DUPLICATES
# their features: the rollup's counts double and the hash fails. The
# oracle is m04's closed form (every decoded field of the synthesized
# PCM clips is a function of the source row), aggregated over the whole
# corpus — so the real `wave` decode, the Arrow batch path, the epoch
# layout, and the restart contract all gate through one hashed number.
#
# Scale: decode is map-only (no shuffle), per-batch work ∝ batch size;
# payloads never reach the feature table. The epoch-partitioned layout is
# the standard idempotent-foreachBatch pattern on object stores.
# --------------------------------------------------------------------------
@query(
    "s11_streaming_media_features_end_state",
    oracle="""
    WITH c AS (
        SELECT doc_id,
               8000 + (doc_id % 5) * 4000  AS sample_rate,
               1 + doc_id % 2              AS n_channels,
               100 + (coalesce(length(text), 0) % 400) AS n_samples
        FROM documents
    )
    SELECT CAST(sample_rate AS INT)                                    AS sample_rate,
           count(*)                                                    AS n_clips,
           CAST(sum(n_channels) AS BIGINT)                             AS total_channels,
           CAST(sum(n_samples) AS BIGINT)                              AS total_samples,
           CAST(sum(n_samples * 1000 // sample_rate) AS BIGINT)        AS total_duration_ms,
           CAST(sum(44 + n_samples * n_channels * 2) AS BIGINT)        AS total_bytes
    FROM c
    GROUP BY 1
    """,
)
@with_scratch("s11_stream_")
def s11_streaming_media_features_end_state(
    spark: SparkSession, sf_dir: str, base: str
) -> DataFrame:
    from ..operators import multimodal as M
    from ..streaming.pipeline import file_stream, run_media_feature_sink

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    media = M.synthesize_wav(docs)
    landing, feats, ckpt = f"{base}/landing", f"{base}/features", f"{base}/ckpt"

    def start() -> StreamingQuery:
        return run_media_feature_sink(
            file_stream(spark, landing, media.schema),
            feats,
            checkpoint=ckpt,
        )

    _land(media.filter(F.col("doc_id") % 2 == 0), landing)
    _drain(spark, start)
    _land(media.filter(F.col("doc_id") % 2 == 1), landing)
    _drain(spark, start)  # restart: drain-1 files must NOT re-land under a new epoch
    return (
        spark.read.parquet(feats)
        .groupBy("sample_rate")
        .agg(
            F.count(F.lit(1)).alias("n_clips"),
            F.sum("n_channels").alias("total_channels"),
            F.sum("n_samples").alias("total_samples"),
            F.sum("duration_ms").alias("total_duration_ms"),
            F.sum(F.col("n_bytes").cast("long")).alias("total_bytes"),
        )
    )


# --------------------------------------------------------------------------
# s12 — STREAMING TRAINING-ORDER MANIFEST end state (streaming/pipeline.
# run_shuffle_manifest_sink — the seeded shuffle-shard manifest grows WITH
# the document stream). Even doc_ids drain first,
# odd doc_ids plus a REDELIVERED even slice drain second through a fresh
# start() on the same checkpoint. Growth is append-after-current-max per
# shard, so the end state is the exact two-phase closed form the oracle
# states: phase-A docs rank by permutation key within their shard, phase-B
# docs rank after their shard's phase-A count. The redelivered ids
# anti-join to nothing inside the operator (replay safety) — a regression
# re-appends them at new positions and breaks the hash; a checkpoint
# regression replays drain-1 files with the same effect. Byte-stability of
# already-written coordinates — the property a mid-epoch trainer depends
# on — is exactly what the phase-A half of the oracle pins.
#
# Scale: per-batch work ∝ batch size (anti-join against the manifest's
# doc_id column + per-shard rank of the batch); no global sort anywhere.
# --------------------------------------------------------------------------
_S12_SEED = "shuffle:42:"
_S12_SHARDS = 8


@query(
    "s12_streaming_shuffle_manifest_end_state",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id,
               md5('{_S12_SEED}' || CAST(doc_id AS VARCHAR)) AS pkey,
               doc_id % 2 AS phase
        FROM documents
    ),
    sharded AS (
        SELECT doc_id, pkey, phase,
               ((instr('0123456789abcdef', substr(pkey, 1, 1)) - 1) * 16
              + (instr('0123456789abcdef', substr(pkey, 2, 1)) - 1))
               % {_S12_SHARDS} AS shard
        FROM keyed
    ),
    ranked AS (
        SELECT doc_id, shard, phase,
               row_number() OVER (
                   PARTITION BY shard, phase ORDER BY pkey ASC, doc_id ASC
               ) AS rnk
        FROM sharded
    ),
    amax AS (
        SELECT shard, count(*) AS n_a FROM ranked WHERE phase = 0 GROUP BY shard
    )
    SELECT r.doc_id,
           CAST(r.shard AS INT) AS shard,
           CAST(CASE WHEN r.phase = 0 THEN r.rnk
                     ELSE coalesce(a.n_a, 0) + r.rnk END AS BIGINT) AS pos
    FROM ranked r LEFT JOIN amax a ON r.shard = a.shard
    """,
)
@with_scratch("s12_stream_")
def s12_streaming_shuffle_manifest_end_state(
    spark: SparkSession, sf_dir: str, base: str
) -> DataFrame:
    from ..streaming.pipeline import file_stream, run_shuffle_manifest_sink

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    landing, manifest, ckpt = f"{base}/landing", f"{base}/manifest", f"{base}/ckpt"

    def start() -> StreamingQuery:
        return run_shuffle_manifest_sink(
            file_stream(spark, landing, docs.schema),
            manifest,
            checkpoint=ckpt,
            seed=_S12_SEED,
            n_shards=_S12_SHARDS,
        )

    even = docs.filter(F.col("doc_id") % 2 == 0)
    _land(even, landing)
    _drain(spark, start)
    _land(docs.filter(F.col("doc_id") % 2 == 1), landing)
    # at-least-once redelivery: already-manifested ids must anti-join
    # to nothing (re-appending would move coordinates under a trainer)
    _land(even.filter(F.col("doc_id") % 10 == 0), landing)
    _drain(spark, start)
    return spark.read.parquet(manifest).select("doc_id", "shard", "pos")

# --------------------------------------------------------------------------
# s13 — STREAMING SKETCH MAINTENANCE end state (streaming/pipeline.
# run_sketch_sink: a count-min frequency sketch maintained
# continuously over the event stream — the monitoring shape for
# heavy-hitter tracking). Even event_ids drain first, odd second through a
# fresh start() on the same checkpoint. CMS addition is NOT idempotent, so
# the sink's replay contract is EPOCH-OVERWRITE (each micro-batch owns an
# immutable epoch partition) — a checkpoint regression that re-processes
# drain-1 files lands them under a new epoch and DOUBLE-COUNTS: the
# cell-identity boolean flips and total_cell_count (an independently
# SQL-verified integer, d·N) breaks.
#
# Gated exactly like t45 (the sketch family's established driver-hard
# pattern): hash-placement-dependent cell values have no SQL oracle, but
# the properties that make the sketch trustworthy are exact —
#   streamed_equals_oneshot: the epoch-merged streamed sketch is
#     CELL-IDENTICAL to the one-shot batch sketch over the same rows;
#   never_undercount: estimates >= exact counts for the top-20 users
#     (the certain CMS guarantee);
#   cells_bounded: merged state <= d·w rows (constant memory);
# alongside three exactly-SQL-computable integers (distinct users, top-20
# exact total, d·N total cell mass).
#
# Scale: per-batch work ∝ batch size (explode(d) + one hash agg, <= d·w
# output); the epoch log compacts by materializing read_sketch's sum.
# --------------------------------------------------------------------------
@query(
    "s13_streaming_sketch_end_state",
    oracle="""
    WITH src AS (SELECT user_id FROM events WHERE user_id IS NOT NULL),
    counts AS (SELECT user_id, count(*) AS c FROM src GROUP BY user_id),
    top20 AS (SELECT user_id, c FROM counts ORDER BY c DESC, user_id ASC LIMIT 20)
    SELECT CAST(count(*) AS BIGINT)                        AS n_distinct_users,
           CAST((SELECT sum(c) FROM top20) AS BIGINT)      AS top20_exact_total,
           CAST((SELECT 5 * count(*) FROM src) AS BIGINT)  AS total_cell_count,
           TRUE                                            AS streamed_equals_oneshot,
           TRUE                                            AS never_undercount,
           TRUE                                            AS cells_bounded
    FROM counts
    """,
)
@with_scratch("s13_stream_")
def s13_streaming_sketch_end_state(spark: SparkSession, sf_dir: str, base: str) -> DataFrame:
    from ..operators.sketch import cms_estimate, count_min_table
    from ..streaming.pipeline import file_stream, read_sketch, run_sketch_sink

    W_, D_ = 2048, 5
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select("event_id", "user_id")
    )
    landing, sketch, ckpt = f"{base}/landing", f"{base}/sketch", f"{base}/ckpt"

    def start() -> StreamingQuery:
        return run_sketch_sink(
            file_stream(spark, landing, ev.schema),
            sketch,
            key_col="user_id",
            checkpoint=ckpt,
            w=W_,
            d=D_,
        )

    _land(ev.filter(F.col("event_id") % 2 == 0), landing)
    _drain(spark, start)
    _land(ev.filter(F.col("event_id") % 2 == 1), landing)
    _drain(spark, start)  # restart: re-processing drain-1 files would double-count

    streamed = read_sketch(spark, sketch)
    oneshot = count_min_table(ev, "user_id", W_, D_)
    cells_equal = streamed.join(
        oneshot.withColumnsRenamed({"cnt": "cnt2"}), ["r", "c"], "full"
    ).agg(
        F.min(
            F.coalesce("cnt", F.lit(-1)) == F.coalesce("cnt2", F.lit(-2))
        ).alias("eq"),
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("cnt").alias("total_cell_count"),
    )
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
    top20 = counts.orderBy(F.desc("c"), F.asc("user_id")).limit(20)
    est = cms_estimate(streamed, top20.select("user_id"), "user_id", W_, D_)
    under = top20.join(est, "user_id").agg(
        F.min(F.col("est") >= F.col("c")).alias("never_under"),
        F.sum("c").alias("top20_exact_total"),
    )
    n_distinct = counts.agg(F.count(F.lit(1)).alias("n_distinct_users"))
    return (
        n_distinct.crossJoin(under)
        .crossJoin(cells_equal)
        .select(
            "n_distinct_users",
            F.col("top20_exact_total").cast("long").alias("top20_exact_total"),
            F.col("total_cell_count").cast("long").alias("total_cell_count"),
            F.col("eq").alias("streamed_equals_oneshot"),
            F.col("never_under").alias("never_undercount"),
            (F.col("n_cells") <= F.lit(W_ * D_)).alias("cells_bounded"),
        )
    )


# --------------------------------------------------------------------------
# s14 — IDLE-TIMEOUT EVICTION end state (streaming/stateful.sessionize_stream
# with idle_timeout_ms + emit_close_reason — the production state-residency
# path s04 deliberately leaves off). The gate must be deterministic while
# ProcessingTimeTimeout fires on a wall clock, so the landing is split BY
# USER PARITY (even users → file 1/drain 1, odd users → file 2/drain 2):
# every user's events reach exactly ONE micro-batch, no session spans a
# batch boundary, and therefore a timer firing at ANY later batch flushes
# the same rows — the end state's CONTENTS are invariant to when eviction
# happens (the operator docstring's replay caveat, designed away). The
# harness runs the query ONE micro-batch per start (trigger once, resumed
# from the checkpoint): phase A, phase B, then an empty landing file per
# run — a batch whose only work is firing the expired timers — until the
# sink holds every session. Each run ends itself after its batch commits:
# availableNow never self-terminates under ProcessingTimeTimeout (Spark
# keeps scheduling empty batches to service timers), and stopping a
# continuously-triggered query interrupts whichever batch is committing
# its state store. The sink ends with the COMPLETE sessionization:
#
#   - every non-final session per user, closed_by='gap' (the in-batch path
#     s04 already gates), and
#   - every user's FINAL session, closed_by='timeout' — rows that can ONLY
#     exist if the eviction path emitted them and that s04's oracle (which
#     subtracts exactly these) proves are never emitted without a timeout.
#
# The oracle is the closed-form full sessionization with closed_by derived
# structurally: a user's max session_no is the one no later event closed →
# 'timeout'; all others → 'gap'. The hash therefore distinguishes
# timeout-evicted from gap-closed rows, per row.
#
# Scale: same per-active-user fixed-width state as s04; the eviction path
# is what keeps state ∝ RECENTLY-active users on an unbounded stream. The
# flush loop's driver pull is one count per run.
# --------------------------------------------------------------------------
@query(
    "s14_idle_timeout_eviction",
    oracle="""
    WITH src AS (
        SELECT user_id, ts FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ),
    seq AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                       > CAST(6 AS BIGINT) * 3600 * 1000000
                    THEN 1 ELSE 0 END AS brk
        FROM src WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)
    ),
    sess AS (
        SELECT user_id, ts,
               CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts ASC
                                   ROWS UNBOUNDED PRECEDING) AS INT) AS session_no
        FROM seq
    ),
    g AS (
        SELECT user_id, session_no,
               CAST(epoch_us(min(ts)) AS BIGINT) AS session_start_us,
               CAST(epoch_us(max(ts)) AS BIGINT) AS session_end_us,
               CAST(count(*) AS BIGINT)          AS n_events
        FROM sess GROUP BY 1, 2
    )
    SELECT user_id, session_no, session_start_us, session_end_us, n_events,
           CASE WHEN session_no = max(session_no) OVER (PARTITION BY user_id)
                THEN 'timeout' ELSE 'gap' END AS closed_by
    FROM g
    """,
)
@with_scratch("s14_stream_")
def s14_idle_timeout_eviction(spark: SparkSession, sf_dir: str, base: str) -> DataFrame:
    import time

    from ..streaming.stateful import sessionize_stream

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select("user_id", "ts")
    )
    landing, sink, ckpt = f"{base}/landing", f"{base}/sink", f"{base}/ckpt"

    # expected = total session count, the closed form of "every session
    # eventually closes: gap in-batch, timeout for each user's last"
    lag_ts = F.lag("ts").over(_W.partitionBy("user_id").orderBy("ts"))
    expected = (
        ev.withColumn(
            "brk",
            (
                lag_ts.isNull()
                | (F.col("ts") > lag_ts + F.expr("INTERVAL 6 HOURS"))
            ).cast("int"),
        )
        .agg(F.sum("brk"))
        .first()[0]
    )

    def sink_count() -> int:
        try:
            return spark.read.parquet(sink).count()
        except Exception:  # no committed batch yet
            return 0

    def drain() -> None:
        _drain(
            spark,
            lambda: sessionize_stream(
                spark.readStream.schema(ev.schema).parquet(landing),
                gap_minutes=360,
                idle_timeout_ms=300,
                emit_close_reason=True,
            )
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(once=True)
            .start(),
            python_state=True,
        )

    # one file per parity phase, one run each → each user's events reach
    # exactly one micro-batch, so flush contents are invariant to WHEN
    # timers fire — see the family comment
    _land(ev.filter(F.col("user_id") % 2 == 0), landing)
    drain()
    _land(ev.filter(F.col("user_id") % 2 == 1), landing)
    drain()
    deadline = time.monotonic() + 120
    while sink_count() < expected:
        if time.monotonic() > deadline:
            raise RuntimeError(
                "s14: idle-timeout eviction never flushed all "
                f"sessions ({sink_count()}/{expected})"
            )
        time.sleep(0.3)  # past idle_timeout_ms: every armed timer is due
        _land(ev.limit(0), landing)
        drain()
    out = spark.read.parquet(sink)
    if out.count() != expected:  # a late duplicate flush would be a bug
        raise RuntimeError("s14: sink overshot the closed-form count")
    return out
