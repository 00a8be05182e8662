"""Event-stream analytics, batch-expressed (SURVEY.md §2.9 + extensions).

The reference's streaming path has no event-time windows or stateful ops —
late data is absorbed by re-running incremental models every 5 minutes
(reference prefect.yaml:39-40). These queries add the event-time semantics a
Spark-native engine should have (tumbling windows, sessionization, funnels,
retention), expressed so the identical logic runs in Structured Streaming
(streaming/pipeline.py reuses the same builders with watermarks).

Scale notes: every window is partitioned by user/day — no global sorts; the
retention self-join is an equi-join on (user_id, day) after a distinct
projection, which AQE shuffles once on a skew-free compound key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..sources.tables import load_table
from ..functions.numeric import dec, iavg, money_sum, money_sum_e2, oracle_rnd, rnd
from ..functions.timeops import epoch_us
from .registry import query


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# e01 — sessionization: 30-minute inactivity gap → session ids → per-user
# session stats. The batch expression of `session_window(ts, '30 minutes')`;
# lag + cumulative sum, both windows partitioned by user.
# --------------------------------------------------------------------------
@query(
    "e01_sessionization",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ),
    sessions AS (
        SELECT user_id, ts,
               sum(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_id
        FROM flagged
    )
    SELECT user_id,
           count(DISTINCT session_id)                            AS n_sessions,
           count(*)                                              AS n_events,
           CAST((2 * count(*) * 10000 + count(DISTINCT session_id))
                // (2 * count(DISTINCT session_id)) AS BIGINT)   AS events_per_session_e4
    FROM sessions
    GROUP BY user_id
    """,
)
def e01_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    new_sess = (
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.col("ts") - F.lag("ts").over(w) > F.expr("INTERVAL 30 MINUTES")),
            1,
        ).otherwise(0)
    )
    sessions = ev.withColumn("new_session", new_sess).withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    # session_id is a contiguous per-user running count, so n_sessions =
    # max(id) — equivalent to the oracle's count(DISTINCT) without paying a
    # distinct aggregation (the expensive path at scale)
    return (
        sessions.groupBy("user_id")
        .agg(
            F.max("session_id").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .withColumn("events_per_session_e4", iavg("n_events", "n_sessions", 4))
    )


# --------------------------------------------------------------------------
# e02 — tumbling daily windows per event type (A1 + event-time window).
# Uses Spark's window() operator (the Structured Streaming primitive) so the
# same expression works under a watermark in streaming mode.
# --------------------------------------------------------------------------
@query(
    "e02_daily_type_rollup",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           event_type,
           count(*)              AS n_events,
           CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS total_value_e2,
           CAST((2 * CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS HUGEINT) * 100
                 + count(*)) // (2 * count(*)) AS BIGINT)                          AS avg_value_e4
    FROM events
    GROUP BY 1, 2
    """,
)
def e02_daily_type_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 day").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum_e2("value").alias("total_value_e2"),
        )
        .withColumn("avg_value_e4", iavg("total_value_e2", "n_events", 2))
        .select(
            F.col("win.start").cast("date").alias("day"),
            "event_type",
            "n_events",
            "total_value_e2",
            "avg_value_e4",
        )
    )


# --------------------------------------------------------------------------
# e03 — conversion funnel: users whose first view < first click < first
# purchase, with view→purchase latency. Conditional min aggregation — one
# shuffle on user_id, no joins.
# --------------------------------------------------------------------------
@query(
    "e03_funnel_conversion",
    oracle="""
    WITH firsts AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view'     THEN epoch_us(ts) END) AS t_view,
               min(CASE WHEN event_type = 'click'    THEN epoch_us(ts) END) AS t_click,
               min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t_purchase
        FROM events
        GROUP BY user_id
    )
    SELECT count(*) AS n_converted,
           floor((sum(t_purchase - t_view) / count(*) / 3600000000.0) * 10000 + 0.5) / 10000.0 AS avg_hours_to_convert
    FROM firsts
    WHERE t_view IS NOT NULL AND t_click IS NOT NULL AND t_purchase IS NOT NULL
      AND t_view < t_click AND t_click < t_purchase
    """,
)
def e03_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")

    def first_ts(kind):
        # epoch_us (not unix_micros): ts is TIMESTAMP_NTZ and unix_micros is
        # LTZ-only; the helper is session-timezone-invariant
        return F.min(F.when(F.col("event_type") == kind, epoch_us("ts")))

    firsts = ev.groupBy("user_id").agg(
        first_ts("view").alias("t_view"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    )
    converted = firsts.filter(
        F.col("t_view").isNotNull()
        & F.col("t_click").isNotNull()
        & F.col("t_purchase").isNotNull()
        & (F.col("t_view") < F.col("t_click"))
        & (F.col("t_click") < F.col("t_purchase"))
    )
    return converted.agg(
        F.count(F.lit(1)).alias("n_converted"),
        # exact integer sum of μs diffs, then one deterministic division —
        # avg() over per-row float divisions would be summation-order noisy
        rnd(F.sum(F.col("t_purchase") - F.col("t_view")) / F.count(F.lit(1)) / 3600000000.0, 4).alias("avg_hours_to_convert"),
    )


# --------------------------------------------------------------------------
# e04 — hour-of-day load profile (P12 date-part extraction + A1).
# --------------------------------------------------------------------------
@query(
    "e04_hourly_profile",
    oracle="""
    SELECT CAST(hour(ts) AS INT) AS hour_of_day,
           event_type,
           count(*)             AS n_events,
           CAST((2 * CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS HUGEINT) * 100
                 + count(*)) // (2 * count(*)) AS BIGINT)    AS avg_value_e4
    FROM events
    GROUP BY 1, 2
    """,
)
def e04_hourly_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.hour("ts").cast("int").alias("hour_of_day"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        money_sum_e2("value").alias("_sum_e2"),
    ).withColumn("avg_value_e4", iavg("_sum_e2", "n_events", 2)).select(
        "hour_of_day", "event_type", "n_events", "avg_value_e4"
    )


# --------------------------------------------------------------------------
# e05 — D7 retention: distinct user-days self-joined at +7 days (J6 on the
# events table). The join key is the compound (user_id, day+7) equi-key.
# --------------------------------------------------------------------------
@query(
    "e05_d7_retention",
    oracle="""
    WITH user_days AS (
        SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
        FROM events
    )
    SELECT a.day AS cohort_day,
           count(*)                                       AS n_active,
           count(b.user_id)                               AS n_retained,
           floor((count(b.user_id) * 1.0 / count(*)) * 10000 + 0.5) / 10000.0    AS d7_retention
    FROM user_days a
    LEFT JOIN user_days b
      ON a.user_id = b.user_id AND b.day = CAST(a.day + INTERVAL 7 DAY AS DATE)
    GROUP BY a.day
    """,
)
def e05_d7_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    user_days = ev.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    ).distinct()
    a = user_days.alias("a")
    b = user_days.alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("b.day") == F.date_add(F.col("a.day"), 7)),
            "left",
        )
        .groupBy(F.col("a.day").alias("cohort_day"))
        .agg(
            F.count(F.lit(1)).alias("n_active"),
            F.count("b.user_id").alias("n_retained"),
            rnd(F.count("b.user_id") * 1.0 / F.count(F.lit(1)), 4).alias("d7_retention"),
        )
    )


# --------------------------------------------------------------------------
# e06 — timezone conversion to exchange wall clock (P16). The reference pins
# Asia/Bangkok (UTC+7) wall time in every layer (reference
# kafka_producer.py:21-22, kafka_consumer.py:210-245, a3_0:273-274); the
# engine stores UTC and converts at the edge. Thailand has no DST, so the
# oracle's +7h interval is exactly from_utc_timestamp's result for all dates.
# --------------------------------------------------------------------------
@query(
    "e06_bangkok_wall_clock",
    oracle="""
    WITH local_ts AS (
        SELECT ts + INTERVAL 7 HOUR AS local_time, value FROM events
    )
    SELECT CAST(date_trunc('day', local_time) AS DATE)  AS local_date,
           CAST(hour(local_time) AS INT)                AS local_hour,
           count(*)                                     AS n_events,
           CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS total_value_e2
    FROM local_ts
    GROUP BY 1, 2
    """,
)
def e06_bangkok_wall_clock(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    local = ev.select(
        F.from_utc_timestamp("ts", "Asia/Bangkok").alias("local_time"), "value"
    )
    return (
        local.groupBy(
            F.date_trunc("day", "local_time").cast("date").alias("local_date"),
            F.hour("local_time").cast("int").alias("local_hour"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum_e2("value").alias("total_value_e2"),
        )
    )


# --------------------------------------------------------------------------
# e07 — as-of join: each order matched to the customer's LATEST event
# at-or-before the order date ("the prevailing state at trade time").
# Spark composition (operators/asof.py union+window) vs DuckDB's native
# ASOF JOIN — the right side is deduped to one row per (user, ts) first
# (both engines), which is the operator's determinism contract.
# --------------------------------------------------------------------------
@query(
    "e07_asof_prior_activity",
    oracle="""
    WITH e AS (
        SELECT user_id, ts, value FROM events
        QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1
    )
    SELECT o.o_orderstatus                            AS order_status,
           count(*)                                   AS n_orders,
           count(e.ts)                                AS n_matched,
           CAST((2 * CAST(sum(CAST(CAST(e.value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS HUGEINT) * 100
                 + count(e.value)) // (2 * count(e.value)) AS BIGINT) AS avg_prior_value_e4,
           CAST(sum(CAST(CAST(e.value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS total_prior_value_e2
    FROM orders o
    ASOF LEFT JOIN e ON o.o_custkey = e.user_id AND e.ts <= o.o_orderdate
    GROUP BY 1
    """,
)
def e07_asof_prior_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join_backward
    from ..operators.scd import dedup_keep_first

    ev = dedup_keep_first(
        _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value"),
        ["user_id", "ts"],
        [F.desc("event_id")],
    ).select("user_id", "ts", "value")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_custkey").alias("user_id"), "o_orderstatus", "o_orderdate"
    )
    joined = asof_join_backward(
        orders, ev, on=["user_id"], left_ts="o_orderdate", right_ts="ts",
        payload=["value", "ts"],
    )
    return joined.groupBy(F.col("o_orderstatus").alias("order_status")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count("ts").alias("n_matched"),
        # the average's denominator is count(value) — literally what the
        # oracle divides by — NOT n_matched: the two only coincide while no
        # matched event row carries a NULL value, and the gate should not
        # lean on that data property
        F.count("value").alias("_n_val"),
        money_sum_e2("value").alias("total_prior_value_e2"),
    ).withColumn(
        "avg_prior_value_e4",
        iavg("total_prior_value_e2", "_n_val", 2),
    ).select(
        "order_status", "n_orders", "n_matched",
        "avg_prior_value_e4", "total_prior_value_e2",
    )


# --------------------------------------------------------------------------
# e08 — range join: every event landing inside a same-user PURCHASE
# attribution window ([purchase_ts, purchase_ts + 2 hours]). Spark side runs
# the bucketed range join (operators/rangejoin.py — equi-join on
# (user, time-bucket) + exact BETWEEN filter, never a nested loop); the
# oracle states the plain inequality join.
# --------------------------------------------------------------------------
@query(
    "e08_purchase_attribution_window",
    oracle="""
    WITH win AS (
        SELECT event_id AS purchase_id, user_id,
               ts AS win_start, ts + INTERVAL 2 HOUR AS win_end
        FROM events WHERE event_type = 'purchase'
    )
    SELECT e.event_type,
           count(*)                         AS n_pairs,
           count(DISTINCT w.purchase_id)    AS n_windows_hit,
           CAST((2 * CAST(sum(CAST(CAST(e.value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS HUGEINT) * 100
                 + count(e.value)) // (2 * count(e.value)) AS BIGINT) AS avg_window_value_e4
    FROM events e
    JOIN win w
      ON e.user_id = w.user_id
     AND e.ts BETWEEN w.win_start AND w.win_end
    GROUP BY 1
    """,
)
def e08_purchase_attribution_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.rangejoin import bucketed_range_join

    ev = _t(spark, sf_dir, "events")
    points = ev.select("user_id", "ts", "event_type", "value")
    windows = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("win_start"),
        (F.col("ts") + F.expr("INTERVAL 2 HOUR")).alias("win_end"),
    )
    pairs = bucketed_range_join(
        points, windows, on=["user_id"], point_ts="ts",
        start_ts="win_start", end_ts="win_end", bucket="6 hours",
    )
    return (
        pairs.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("purchase_id").alias("n_windows_hit"),
            money_sum_e2("value").alias("_sum_e2"),
            F.count("value").alias("_n_val"),
        )
        .withColumn("avg_window_value_e4", iavg("_sum_e2", "_n_val", 2))
        .select(
            "event_type", "n_pairs", "n_windows_hit", "avg_window_value_e4"
        )
    )


# --------------------------------------------------------------------------
# e09 — event-rate anomaly score (the data-side analog of the reference's
# Grafana/Prometheus monitoring, which watches infrastructure, not data):
# hourly event counts per type, z-scored against the trailing 24 OBSERVED
# hours (ROWS frame excluding the current hour). The rolling variance is
# deliberately computed from EXACT integer window sums — s1=Σc, s2=Σc² are
# BIGINTs, var = (s2 − s1²/24)/23 — instead of stddev_samp(), whose
# streaming estimators (Welford vs textbook) differ between engines in the
# last float bits; here every double op is written identically on both
# sides, so the z-scores are bit-identical and hash-gateable. NUMERIC
# DOMAIN (q26/q28's insurance pattern): the z-score is scaled to
# an e4 BIGINT before the |z| > 3 threshold comparison and before the
# min/max rollup, so the compared and output values are exact int64 on
# both engines (|z_e4| > 30000 ⇔ |rnd(z,4)| > 3 — the boundary value
# 30000 maps to exactly 3.0). A flat
# baseline (var 0) yields NULL z (guarded nullif), not ±inf. Scale: one
# hash agg tape→(type, hour) — thousands of rows per year regardless of
# tick volume — then a bounded window per type; the agg-before-window
# ordering is the same join-after-aggregation discipline as f05/q02.
# --------------------------------------------------------------------------
@query(
    "e09_hourly_rate_anomaly",
    oracle="""
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hour,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    scored AS (
        SELECT event_type, c,
               row_number() OVER w AS rn,
               sum(c)     OVER v   AS s1,
               sum(c * c) OVER v   AS s2
        FROM hourly
        WINDOW w AS (PARTITION BY event_type ORDER BY hour ASC),
               v AS (PARTITION BY event_type ORDER BY hour ASC
                     ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    ),
    z AS (
        SELECT event_type,
               CAST(floor(((c - s1 / 24.0)
                           / nullif(sqrt(greatest((s2 - (s1 * s1) / 24.0) / 23.0, 0.0)), 0.0))
                          * 10000 + 0.5) AS BIGINT) AS z_e4
        FROM scored WHERE rn >= 25
    )
    SELECT event_type,
           count(*)                                   AS n_hours_scored,
           count(*) FILTER (WHERE abs(z_e4) > 30000)  AS n_anomalies,
           max(z_e4)                                  AS max_z_e4,
           min(z_e4)                                  AS min_z_e4
    FROM z
    GROUP BY 1
    """,
)
def e09_hourly_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-24h z-score per (event_type, hour), rolled up per type."""
    ev = _t(spark, sf_dir, "events")
    hourly = (
        ev.select("event_type", F.date_trunc("hour", "ts").alias("hour"))
        .groupBy("event_type", "hour")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = W.partitionBy("event_type").orderBy(F.asc("hour"))
    v = w.rowsBetween(-24, -1)
    scored = hourly.select(
        "event_type",
        "c",
        F.row_number().over(w).alias("rn"),
        F.sum("c").over(v).alias("s1"),
        F.sum(F.col("c") * F.col("c")).over(v).alias("s2"),
    ).filter(F.col("rn") >= 25)
    var = F.greatest(
        (F.col("s2") - (F.col("s1") * F.col("s1")) / 24.0) / 23.0, F.lit(0.0)
    )
    # F.floor(double) is LONG on Spark; the oracle twin casts explicitly
    z_e4 = F.floor(
        (F.col("c") - F.col("s1") / 24.0)
        / F.nullif(F.sqrt(var), F.lit(0.0))
        * 10000
        + 0.5
    )
    zs = scored.select("event_type", z_e4.alias("z_e4"))
    return zs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours_scored"),
        F.count_if(F.abs(F.col("z_e4")) > 30000).alias("n_anomalies"),
        F.max("z_e4").alias("max_z_e4"),
        F.min("z_e4").alias("min_z_e4"),
    )


# --------------------------------------------------------------------------
# e10 — NATIVE session windows: Spark's built-in session_window operator
# (the Structured Streaming session primitive, runnable in batch) gated
# against the classic gaps-and-islands construction the oracle spells out.
# e01 proves the islands logic; e10 proves the BUILT-IN operator has the
# same semantics — session = maximal event chain with < 30 min gaps,
# window end = last event + gap — so the streaming path
# (readStream.groupBy(session_window(...)) under a watermark) is covered
# by a hash gate, not just unit tests. One shuffle on (user, session);
# at 100 TB this is the shape to prefer over e01's two window passes
# because session_window aggregates map-side within partitions before
# merging overlapping candidate sessions.
# --------------------------------------------------------------------------
@query(
    "e10_native_session_windows",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ),
    sessions AS (
        SELECT user_id, ts,
               sum(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_id
        FROM flagged
    )
    SELECT user_id,
           min(ts)                          AS session_start,
           max(ts) + INTERVAL 30 MINUTE     AS session_end,
           count(*)                         AS n_events,
           CAST(epoch_us(max(ts) + INTERVAL 30 MINUTE) - epoch_us(min(ts))
                AS BIGINT)                  AS duration_us
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def e10_native_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    sw = F.session_window("ts", "30 minutes")
    return (
        ev.groupBy("user_id", sw.alias("sw"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            F.timestamp_diff("MICROSECOND", F.col("sw.start"), F.col("sw.end"))
            .cast("long")
            .alias("duration_us"),
        )
    )


# --------------------------------------------------------------------------
# e11 — COHORT RETENTION TRIANGLE: the full signup-week × week-offset
# matrix (e05 measures one fixed offset; this is the cohort table every
# growth dashboard draws). Cohort = a user's FIRST active week (a min
# aggregation, not a window); each (user, active-week) row then lands in
# cell (cohort_week, offset = weeks since cohort). Cohort size is the
# offset-0 diagonal by construction, joined back (broadcast — the matrix
# is weeks² rows) for the retention rate. Exact integer week arithmetic
# on epoch-day / 7 keeps the bucketing engine-identical; rates round 4 dp.
#
# 100 TB: two hash aggregations over (user, week) — distinct activity and
# min-week — both map-side-partial on the user key; everything after is
# weeks × weeks. No self-join over raw events, no window over users.
# --------------------------------------------------------------------------
@query(
    "e11_cohort_retention_triangle",
    oracle="""
    WITH uw AS (
        SELECT DISTINCT user_id,
               CAST(floor((CAST(date_trunc('day', ts) AS DATE)
                           - DATE '1970-01-05') / 7.0) AS BIGINT) AS wk
        FROM events
    ),
    cohort AS (SELECT user_id, min(wk) AS cw FROM uw GROUP BY user_id),
    cells AS (
        SELECT c.cw AS cohort_week, CAST(u.wk - c.cw AS BIGINT) AS week_offset,
               count(DISTINCT u.user_id) AS n_active
        FROM uw u JOIN cohort c ON c.user_id = u.user_id
        GROUP BY 1, 2
    ),
    size0 AS (
        SELECT cohort_week, n_active AS cohort_size FROM cells WHERE week_offset = 0
    )
    SELECT c.cohort_week, c.week_offset, c.n_active, s.cohort_size,
           floor((c.n_active * 1.0 / s.cohort_size) * 10000 + 0.5) / 10000.0
               AS retention
    FROM cells c JOIN size0 s ON s.cohort_week = c.cohort_week
    """,
)
def e11_cohort_retention_triangle(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    # ISO-ish week index anchored on Monday 1970-01-05: exact integer
    # floor((epoch_day - 4) / 7) on both engines
    wk = F.floor(
        (F.unix_date(F.date_trunc("day", "ts").cast("date")) - F.lit(4)) / 7.0
    ).cast("bigint")
    uw = ev.select("user_id", wk.alias("wk")).distinct()
    cohort = uw.groupBy("user_id").agg(F.min("wk").alias("cw"))
    cells = (
        uw.join(cohort, "user_id")
        .groupBy(
            F.col("cw").alias("cohort_week"),
            (F.col("wk") - F.col("cw")).cast("bigint").alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )
    size0 = cells.filter(F.col("week_offset") == 0).select(
        "cohort_week", F.col("n_active").alias("cohort_size")
    )
    return cells.join(F.broadcast(size0), "cohort_week").select(
        "cohort_week",
        "week_offset",
        "n_active",
        "cohort_size",
        rnd(F.col("n_active") * 1.0 / F.col("cohort_size"), 4).alias("retention"),
    )


# --------------------------------------------------------------------------
# e12 — DISTRIBUTION DRIFT via Population Stability Index: the standard
# data-quality monitor for a long-running ingestion pipeline ("did this
# week's data shift against last week's?"). The corpus is split at its
# integer-µs midpoint (s05's cut idiom), event values are quantized to
# exact cents (the money policy) and bucketed by FIXED literal cent edges
# ($5/$10/$20/$50/$100/$200/$500 — data-independent, so the binning is a
# pure integer CASE both engines fold identically), and each bin emits its
# add-one-smoothed PSI contribution (p−q)·ln(p/q). Per-bin p, q are
# integer-ratio double divisions on exact counts; no order-sensitive SUM
# is emitted anywhere (the total PSI is the reader's 8-term sum) — the
# gate hashes counts + floor-rounded per-bin contributions.
# Scale: one conditional-aggregation scan (map-side partials, 8×2
# counters), an 8-row broadcast join against the literal bin spine (empty
# bins must exist for smoothing), and a broadcast 1-row totals cross join
# (the q17 scalar shape — explain_audit BNLJ allowlist). The cut is a
# bounded 1-row pull.
# --------------------------------------------------------------------------
_E12_EDGES = (500, 1000, 2000, 5000, 10000, 20000, 50000)  # cents


def _e12_bin_sql(col: str) -> str:
    whens = " ".join(
        f"WHEN {col} < {e} THEN {i}" for i, e in enumerate(_E12_EDGES)
    )
    return f"CASE {whens} ELSE {len(_E12_EDGES)} END"


@query(
    "e12_value_drift_psi",
    oracle=f"""
    WITH cut AS (
        SELECT (epoch_us(min(ts)) + epoch_us(max(ts))) // 2 AS us FROM events
    ),
    e AS (
        SELECT CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS v_e2,
               CASE WHEN epoch_us(ts) <= (SELECT us FROM cut)
                    THEN 0 ELSE 1 END AS sl
        FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
    ),
    b AS (SELECT {_e12_bin_sql('v_e2')} AS bin_id, sl FROM e),
    c AS (
        SELECT bin_id,
               CAST(count(*) FILTER (sl = 0) AS BIGINT) AS n_first,
               CAST(count(*) FILTER (sl = 1) AS BIGINT) AS n_second
        FROM b GROUP BY 1
    ),
    bins(bin_id) AS (VALUES {", ".join(f"({i})" for i in range(len(_E12_EDGES) + 1))}),
    filled AS (
        SELECT CAST(bins.bin_id AS BIGINT) AS bin_id,
               CAST(coalesce(c.n_first, 0) AS BIGINT)  AS n_first,
               CAST(coalesce(c.n_second, 0) AS BIGINT) AS n_second
        FROM bins LEFT JOIN c USING (bin_id)
    ),
    tot AS (
        SELECT CAST(sum(n_first) AS BIGINT)  AS t1,
               CAST(sum(n_second) AS BIGINT) AS t2,
               CAST(count(*) AS BIGINT)      AS nb
        FROM filled
    )
    SELECT bin_id, n_first, n_second,
           {oracle_rnd(
               "((n_first + 1) / (t1 + nb) - (n_second + 1) / (t2 + nb))"
               " * ln(((n_first + 1) / (t1 + nb)) / ((n_second + 1) / (t2 + nb)))",
               6,
           )} AS psi_contrib
    FROM filled CROSS JOIN tot
    """,
)
def e12_value_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & F.col("ts").isNotNull())
        .select("value", "ts")
    )
    mn_us, mx_us = ev.agg(
        F.min(epoch_us("ts")), F.max(epoch_us("ts"))
    ).first()  # bounded 1-row pull (the s05 cut idiom)
    cut_us = (mn_us + mx_us) // 2
    v_e2 = (dec("value") * 100).cast("bigint")
    bin_col = F.lit(len(_E12_EDGES))
    for i in range(len(_E12_EDGES) - 1, -1, -1):
        bin_col = F.when(v_e2 < _E12_EDGES[i], i).otherwise(bin_col)
    sl = F.when(epoch_us("ts") <= F.lit(cut_us), 0).otherwise(1)
    counts = (
        ev.select(bin_col.cast("bigint").alias("bin_id"), sl.alias("sl"))
        .groupBy("bin_id")
        .agg(
            F.sum(F.when(F.col("sl") == 0, 1).otherwise(0)).alias("n_first"),
            F.sum(F.when(F.col("sl") == 1, 1).otherwise(0)).alias("n_second"),
        )
    )
    bins = spark.range(len(_E12_EDGES) + 1).select(F.col("id").alias("bin_id"))
    filled = bins.join(F.broadcast(counts), "bin_id", "left").select(
        "bin_id",
        F.coalesce("n_first", F.lit(0)).cast("bigint").alias("n_first"),
        F.coalesce("n_second", F.lit(0)).cast("bigint").alias("n_second"),
    )
    tot = filled.agg(
        F.sum("n_first").alias("t1"),
        F.sum("n_second").alias("t2"),
        F.count(F.lit(1)).alias("nb"),
    )
    p = (F.col("n_first") + 1) / (F.col("t1") + F.col("nb"))
    q = (F.col("n_second") + 1) / (F.col("t2") + F.col("nb"))
    return filled.crossJoin(F.broadcast(tot)).select(
        "bin_id",
        "n_first",
        "n_second",
        rnd((p - q) * F.log(p / q), 6).alias("psi_contrib"),
    )


# --------------------------------------------------------------------------
# e13 — EVENT-TYPE TRANSITION MATRIX (first-order Markov chain over each
# user's clickstream: the "what follows what" model behind next-action
# prediction, anomaly scoring of improbable paths, and funnel discovery —
# e03 checks ONE hand-picked path; this estimates the transition structure
# those paths are drawn from). Per user, consecutive event pairs come from
# one lag window ordered by (ts, event_id) — the SAME per-user exchange
# every sessionization query already pays, so the marginal cost is a hash
# aggregation on a |types|² key space (25 cells here; bounded by the event
# vocabulary, never by corpus size). Row-normalized probabilities are
# integer e6 quotients (engine-exact, no float summation anywhere): the
# window-sum denominator runs over the TINY matrix, not the events.
# 100 TB: shuffle by user_id (AQE-skew-safe compound of the corpus's
# natural key), map-side-combinable count agg, then a 25-row window —
# nothing downstream of the first exchange scales with data volume.
# --------------------------------------------------------------------------
@query(
    "e13_markov_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts ASC, event_id ASC
               ) AS prev_type
        FROM events
    ),
    trans AS (
        SELECT prev_type, event_type AS next_type,
               CAST(count(*) AS BIGINT) AS n_transitions
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT prev_type, next_type, n_transitions,
           CAST(n_transitions * 1000000
               // sum(n_transitions) OVER (PARTITION BY prev_type)
             AS BIGINT) AS p_e6
    FROM trans
    """,
)
def e13_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    trans = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).cast("long").alias("n_transitions")
    )
    wrow = W.partitionBy("prev_type")
    return trans.select(
        "prev_type",
        "next_type",
        "n_transitions",
        F.expr("n_transitions * 1000000").alias("_num"),
        F.sum("n_transitions").over(wrow).alias("_den"),
    ).select(
        "prev_type",
        "next_type",
        "n_transitions",
        F.expr("_num div _den").alias("p_e6"),
    )


# --------------------------------------------------------------------------
# e14 — TIME-CONSTRAINED funnel (the product-analytics "funnel with
# conversion window", and the complement of e03's lifetime-firsts funnel):
# a user converts iff some view is followed by a click within 12 h AND that
# click by a purchase within 48 h — an ordered-sequence EXISTS over the raw
# event stream, not an aggregate of first timestamps (e03 credits a user
# whose only qualifying click predates a week-later view; this one doesn't).
# Shape: two stage-wise LEFT SEMI joins, each equi-keyed on user_id with the
# range predicate as a residual — candidate pairs are per-user view×click
# products (bounded by per-user activity, never corpus×corpus), and each
# semi-join keeps one copy of the surviving stage rows. 100 TB: both joins
# shuffle on user_id only; AQE reuses the exchange across stages, and a
# salted variant (operators/skew.py) drops in if one user dominates.
# --------------------------------------------------------------------------
_E14_VC_US = 12 * 3600 * 1_000_000  # view→click window
_E14_CP_US = 48 * 3600 * 1_000_000  # click→purchase window


@query(
    "e14_windowed_funnel",
    oracle=f"""
    WITH v AS (SELECT user_id, epoch_us(ts) AS t FROM events WHERE event_type = 'view'),
    c AS (SELECT user_id, epoch_us(ts) AS t FROM events WHERE event_type = 'click'),
    p AS (SELECT user_id, epoch_us(ts) AS t FROM events WHERE event_type = 'purchase'),
    qc AS (
        SELECT * FROM c
        WHERE EXISTS (SELECT 1 FROM v
                      WHERE v.user_id = c.user_id
                        AND v.t < c.t AND c.t <= v.t + {_E14_VC_US})
    ),
    qp AS (
        SELECT * FROM p
        WHERE EXISTS (SELECT 1 FROM qc
                      WHERE qc.user_id = p.user_id
                        AND qc.t < p.t AND p.t <= qc.t + {_E14_CP_US})
    ),
    stages AS (
        SELECT (SELECT count(DISTINCT user_id) FROM v)  AS n_users_view,
               (SELECT count(DISTINCT user_id) FROM qc) AS n_users_click_in_window,
               (SELECT count(DISTINCT user_id) FROM qp) AS n_users_converted
    )
    SELECT CAST(n_users_view AS BIGINT)            AS n_users_view,
           CAST(n_users_click_in_window AS BIGINT) AS n_users_click_in_window,
           CAST(n_users_converted AS BIGINT)       AS n_users_converted,
           CAST((n_users_click_in_window * 10000) // n_users_view
                AS BIGINT)                         AS conv_click_e4,
           CAST((n_users_converted * 10000) // n_users_view
                AS BIGINT)                         AS conv_full_e4
    FROM stages
    """,
)
def e14_windowed_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")

    def stage(kind: str) -> DataFrame:
        return ev.filter(F.col("event_type") == kind).select(
            "user_id", epoch_us("ts").alias("t")
        )

    return windowed_funnel(
        stage("view"), stage("click"), stage("purchase"), _E14_VC_US, _E14_CP_US
    )


def windowed_funnel(
    v: DataFrame, c: DataFrame, p: DataFrame, vc_us: int, cp_us: int
) -> DataFrame:
    """e14's engine over arbitrary (user_id, t) stage relations — unit tests
    drive synthetic chains through it to pin the sequence semantics (a click
    outside its view's window must NOT advance the funnel)."""
    qc = c.alias("c").join(
        v.alias("v"),
        (F.col("v.user_id") == F.col("c.user_id"))
        & (F.col("v.t") < F.col("c.t"))
        & (F.col("c.t") <= F.col("v.t") + F.lit(vc_us)),
        "left_semi",
    )
    qp = p.alias("p").join(
        qc.alias("qc"),
        (F.col("qc.user_id") == F.col("p.user_id"))
        & (F.col("qc.t") < F.col("p.t"))
        & (F.col("p.t") <= F.col("qc.t") + F.lit(cp_us)),
        "left_semi",
    )
    counts = (
        v.agg(F.countDistinct("user_id").cast("bigint").alias("n_users_view"))
        .crossJoin(
            F.broadcast(
                qc.agg(
                    F.countDistinct("user_id")
                    .cast("bigint")
                    .alias("n_users_click_in_window")
                )
            )
        )
        .crossJoin(
            F.broadcast(
                qp.agg(
                    F.countDistinct("user_id").cast("bigint").alias("n_users_converted")
                )
            )
        )
    )
    return counts.select(
        "n_users_view",
        "n_users_click_in_window",
        "n_users_converted",
        F.expr(
            "CAST((n_users_click_in_window * 10000) div n_users_view AS BIGINT)"
        ).alias("conv_click_e4"),
        F.expr(
            "CAST((n_users_converted * 10000) div n_users_view AS BIGINT)"
        ).alias("conv_full_e4"),
    )


# --------------------------------------------------------------------------
# e15 — top user journeys (session path mining): the ordered first-3
# event-type path of every e01 session, ranked by frequency — the product
# question e13's one-step Markov matrix cannot answer (a transition matrix
# marginalizes paths; "view>click>purchase vs view>view>view" needs the
# sequence itself). Path extraction is three conditional firsts over the
# per-session rank (no collect_list — its order is partition-dependent),
# so the whole query is e01's one user_id window plus one hash agg on the
# (bounded: |types|³) path space. 100 TB: the only data-sized exchange is
# the user_id window e01 already pays; everything after is tiny.
# --------------------------------------------------------------------------
@query(
    "e15_top_paths",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ),
    sessions AS (
        SELECT user_id, ts, event_id, event_type,
               sum(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_id
        FROM flagged
    ),
    ranked AS (
        SELECT user_id, session_id, event_type,
               row_number() OVER (
                   PARTITION BY user_id, session_id
                   ORDER BY ts ASC, event_id ASC
               ) AS rn
        FROM sessions
    ),
    paths AS (
        SELECT user_id, session_id,
               concat_ws('>',
                   max(CASE WHEN rn = 1 THEN event_type END),
                   max(CASE WHEN rn = 2 THEN event_type END),
                   max(CASE WHEN rn = 3 THEN event_type END)) AS path
        FROM ranked WHERE rn <= 3
        GROUP BY user_id, session_id
    )
    SELECT path,
           CAST(count(*) AS BIGINT)                AS n_sessions,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM paths
    GROUP BY path
    ORDER BY n_sessions DESC, path ASC
    LIMIT 10
    """,
)
def e15_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    new_sess = F.when(
        F.lag("ts").over(w).isNull()
        | (F.col("ts") - F.lag("ts").over(w) > F.expr("INTERVAL 30 MINUTES")),
        1,
    ).otherwise(0)
    sessions = ev.withColumn("new_session", new_sess).withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    sw = W.partitionBy("user_id", "session_id").orderBy(
        F.asc("ts"), F.asc("event_id")
    )
    ranked = sessions.withColumn("rn", F.row_number().over(sw)).filter(
        F.col("rn") <= 3
    )

    def slot(i: int):
        return F.max(F.when(F.col("rn") == i, F.col("event_type")))

    paths = ranked.groupBy("user_id", "session_id").agg(
        F.concat_ws(">", slot(1), slot(2), slot(3)).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(10)
    )
