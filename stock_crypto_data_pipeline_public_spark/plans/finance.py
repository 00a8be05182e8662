"""Financial time-series analytics over the event tape (beyond-reference).

The reference's domain is stock/crypto market data, but all of its price
analytics stop at daily means and +N-day offsets (reference
fct_asset_price_comparison.sql:9-32, fct_asset_news_impact.sql:55-88,
warehouse_tools.py:337-339). These queries add the standard market-data
operator set an analyst of that pipeline would reach for next — candlestick
resampling, VWAP, rolling bands, drawdown, cross-asset correlation, gap-filled
LOCF rollups — each expressed as pure built-in DataFrame ops (no UDFs) so
Catalyst/AQE plan them.

The events table acts as the tick tape: ``event_type`` is the instrument,
``value`` the trade price, ``props.$.k`` the trade size, ``ts`` the trade
time. ``event_id`` is globally monotone in ``ts`` (verified on all SFs), so
it is the deterministic tiebreak for open/close selection.

Scale notes: every window partitions by instrument (never global); OHLCV and
VWAP are single-shuffle hash aggregations with map-side partials; the
correlation query joins two *daily-aggregated* series (rows ≈ days ×
instruments, thousands at most even at 100 TB of raw ticks), so AQE
broadcasts it regardless of raw input size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.numeric import (
    dec,
    dsum,
    iavg,
    money_sum,
    money_sum_e2,
    oracle_dec,
    oracle_dsum,
    oracle_money_sum,
    oracle_rnd,
    rnd,
)
from ..sources.tables import load_table
from .registry import query


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# f01 — OHLCV candlestick resample: hourly bars per instrument. open/close
# are min_by/max_by on the monotone event_id — a single hash aggregation
# (one shuffle, map-side partial min/max), NOT a window + rn=1 pass. All
# outputs are exact (no float arithmetic): open/high/low/close are selected
# raw doubles, volume is an integer sum.
# --------------------------------------------------------------------------
@query(
    "f01_ohlcv_candles",
    oracle="""
    SELECT event_type                                   AS symbol,
           date_trunc('hour', ts)                       AS bar_hour,
           arg_min(value, event_id)                     AS open,
           max(value)                                   AS high,
           min(value)                                   AS low,
           arg_max(value, event_id)                     AS close,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS volume,
           count(*)                                     AS n_trades
    FROM events
    GROUP BY 1, 2
    """,
)
def f01_ohlcv_candles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(
            F.col("event_type").alias("symbol"),
            F.date_trunc("hour", "ts").alias("bar_hour"),
            "value",
            "event_id",
            F.get_json_object("props", "$.k").cast("long").alias("size"),
        )
        .groupBy("symbol", "bar_hour")
        .agg(
            F.min_by("value", "event_id").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", "event_id").alias("close"),
            F.sum("size").alias("volume"),
            F.count(F.lit(1)).alias("n_trades"),
        )
    )


# --------------------------------------------------------------------------
# f02 — daily VWAP per instrument: sum(price*size)/sum(size), size from the
# props JSON payload (P15/q19-style extraction feeding a weighted mean).
# Single shuffle; the weighted sum runs in DECIMAL (order-independent) and
# is rounded before the division so the quotient is computed on an
# engine-identical numerator.
# --------------------------------------------------------------------------
@query(
    "f02_daily_vwap",
    oracle=f"""
    WITH sized AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS trade_date,
               value, CAST(json_extract_string(props, '$.k') AS BIGINT) AS size
        FROM events
    )
    SELECT event_type AS symbol, trade_date,
           CAST(sum(size) AS BIGINT) AS volume,
           CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) * size) AS BIGINT) AS notional_e2,
           CAST((2 * CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) * size) AS HUGEINT) * 100
                 + sum(size)) // (2 * sum(size)) AS BIGINT) AS vwap_e4
    FROM sized
    GROUP BY 1, 2
    """,
)
def f02_daily_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    sized = ev.select(
        F.col("event_type").alias("symbol"),
        F.date_trunc("day", "ts").cast("date").alias("trade_date"),
        "value",
        F.get_json_object("props", "$.k").cast("long").alias("size"),
    )
    # exact domain: notional is summed as integer cents×size (no
    # decimal value ever transits DOUBLE) and the VWAP is the e4 integral
    # quotient — engine-identical trunc division (functions/numeric.iavg)
    cents = (dec("value") * F.lit(100)).cast("bigint")
    return (
        sized.groupBy("symbol", "trade_date")
        .agg(
            F.sum("size").alias("volume"),
            F.sum(cents * F.col("size")).cast("bigint").alias("notional_e2"),
        )
        .withColumn("vwap_e4", iavg("notional_e2", "volume", 2))
    )


# --------------------------------------------------------------------------
# f03 — 20-tick rolling Bollinger bands per instrument: rolling mean and
# sample stddev over ROWS 19 PRECEDING, bands at ±2σ (rounded to cents so
# both engines compare against the identical band), breakout counts.
# NUMERIC DOMAIN (e09/f05's closed-form treatment, widened):
# the rolling variance comes from EXACT integer window sums — s1=Σv_e2 is a
# BIGINT, s2=Σv_e2² and the 20·s2−s1² combination run in DECIMAL(38,0) on
# Spark / HUGEINT on DuckDB (they exceed int64 inside the MONEY(12,2)
# domain and non-ANSI Spark wraps silently), var = (20·s2 − s1²)/(20·19·10⁴)
# — never from stddev_samp(), whose streaming estimators (Welford vs
# textbook) differ between engines in the last float bits; every double op
# downstream (sqrt, bands) is the identical IEEE expression on identical
# exact ingredients, and the per-row σ lands as an e4 BIGINT before the
# final integral average. The
# window partitions by instrument — bounded state per partition, no global
# sort (contrast reference warehouse_tools.py:337-339, whose LAG runs over
# an unpartitioned ORDER BY). If one instrument's history outgrows an
# executor (100 TB tape), pre-bucket the window by (symbol, month) and
# stitch the 19-row seam between months — the frame is rows-bounded, so the
# seam is exactly 19 carried rows.
# --------------------------------------------------------------------------
@query(
    "f03_bollinger_breakouts",
    oracle=f"""
    WITH v AS (
        SELECT event_type, value, ts, event_id,
               CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS v_e2
        FROM events
    ),
    rolled AS (
        SELECT event_type, value,
               row_number() OVER w AS rn,
               sum(v_e2)         OVER (w ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS s1,
               sum(CAST(v_e2 AS HUGEINT) * v_e2)
                                 OVER (w ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS s2
        FROM v
        WINDOW w AS (PARTITION BY event_type ORDER BY ts ASC, event_id ASC)
    ),
    banded AS (
        SELECT event_type, value,
               s1 / CAST(2000.0 AS DOUBLE)                                   AS roll_avg,
               sqrt((20 * s2 - s1 * s1) / CAST(3800000.0 AS DOUBLE))         AS roll_std
        FROM rolled WHERE rn >= 20
    ),
    scored AS (
        SELECT event_type, value,
               {oracle_rnd('roll_avg + 2 * roll_std', 2)}              AS band_hi,
               {oracle_rnd('roll_avg - 2 * roll_std', 2)}              AS band_lo,
               CAST(floor(roll_std * 10000 + 0.5) AS BIGINT)           AS roll_std_e4
        FROM banded
    )
    SELECT event_type                                    AS symbol,
           count(*)                                      AS n_windows,
           count(*) FILTER (WHERE value > band_hi)       AS n_breakouts_hi,
           count(*) FILTER (WHERE value < band_lo)       AS n_breakouts_lo,
           CAST((2 * sum(roll_std_e4) + count(*)) // (2 * count(*)) AS BIGINT)
                                                         AS avg_roll_std_e4
    FROM scored
    GROUP BY 1
    """,
)
def f03_bollinger_breakouts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy(F.asc("ts"), F.asc("event_id"))
    wf = w.rowsBetween(-19, W.currentRow)
    v = ev.select(
        "event_type", "value", "ts", "event_id",
        (dec("value") * F.lit(100)).cast("bigint").alias("v_e2"),
    )
    rolled = v.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.sum("v_e2").over(wf).alias("s1"),
        # v_e2² and the textbook combination below exceed int64 well inside
        # the MONEY(12,2) domain (|v_e2| < 1e12 → squares up to 1e24), and
        # non-ANSI Spark WRAPS silently where DuckDB's HUGEINT window sum is
        # exact — so both squares-sum and the s1² term run in DECIMAL(38,0)
        # (scale-0: exact integers, exempt from the decimal→double ban); the
        # oracle mirrors with an explicit HUGEINT widening
        F.sum(F.col("v_e2").cast("decimal(38,0)") * F.col("v_e2"))
        .over(wf)
        .alias("s2"),
    ).filter(F.col("rn") >= 20)
    # rn >= 20 keeps FULL frames only, so n is the constant 20 and the
    # textbook identity var = (n·Σx² − (Σx)²)/(n(n−1)) evaluates from two
    # exact integer sums; /2000.0 and /3800000.0 fold the e2 scaling.
    # The exact DECIMAL(38,0) difference converts to double the same way
    # DuckDB's exact HUGEINT does (nearest double of the identical integer).
    roll_avg = F.col("s1") / F.lit(2000.0)
    roll_std = F.sqrt(
        (20 * F.col("s2") - F.col("s1").cast("decimal(38,0)") * F.col("s1"))
        / F.lit(3800000.0)
    )
    banded = rolled.select(
        "event_type",
        "value",
        rnd(roll_avg + 2 * roll_std, 2).alias("band_hi"),
        rnd(roll_avg - 2 * roll_std, 2).alias("band_lo"),
        F.floor(roll_std * 10000 + F.lit(0.5)).cast("bigint").alias("roll_std_e4"),
    )
    return (
        banded.groupBy(F.col("event_type").alias("symbol"))
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.count_if(F.col("value") > F.col("band_hi")).alias("n_breakouts_hi"),
            F.count_if(F.col("value") < F.col("band_lo")).alias("n_breakouts_lo"),
            F.sum("roll_std_e4").alias("_std_sum_e4"),
        )
        .withColumn("avg_roll_std_e4", iavg("_std_sum_e4", "n_windows"))
        .select(
            "symbol", "n_windows", "n_breakouts_hi", "n_breakouts_lo",
            "avg_roll_std_e4",
        )
    )


# --------------------------------------------------------------------------
# f04 — maximum drawdown per instrument: running peak (rows-unbounded max —
# deterministic, no float summation) and the worst peak-to-trough ratio.
# The unbounded running max is associative, so at 100 TB it splits into
# per-chunk (symbol, month) maxima + a prefix-max over the tiny chunk
# summary, then a second bounded pass — the same two-phase shape as t15.
# Every arithmetic step here is a single IEEE op on identical inputs, so the
# unrounded drawdown is bit-identical across engines; rounding is belt and
# braces.
# --------------------------------------------------------------------------
@query(
    "f04_max_drawdown",
    oracle=f"""
    WITH peaks AS (
        SELECT event_type, value,
               max(value) OVER (
                   PARTITION BY event_type ORDER BY ts ASC, event_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS run_peak
        FROM events
    )
    SELECT event_type                                        AS symbol,
           max(value)                                        AS all_time_high,
           {oracle_rnd('max((run_peak - value) / run_peak)', 6)} AS max_drawdown
    FROM peaks
    GROUP BY 1
    """,
)
def f04_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = (
        W.partitionBy("event_type")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    peaks = ev.select(
        "event_type", "value", F.max("value").over(w).alias("run_peak")
    )
    dd = (F.col("run_peak") - F.col("value")) / F.col("run_peak")
    return peaks.groupBy(F.col("event_type").alias("symbol")).agg(
        F.max("value").alias("all_time_high"),
        rnd(F.max(dd), 6).alias("max_drawdown"),
    )


# --------------------------------------------------------------------------
# f06 — exact interpolated price percentiles per instrument (the sort-based
# aggregate the rest of the registry lacks — everything else is hash-agg or
# window). Spark's percentile() and DuckDB's quantile_cont() share the
# linear-interpolation definition, so outputs agree to rounding. At scale
# this is a per-group sort of values only (not whole rows); for quantiles on
# a 100 TB tape switch to percentile_approx with a fixed accuracy — kept
# exact here because the gate hash-compares.
# --------------------------------------------------------------------------
@query(
    "f06_price_percentiles",
    oracle=f"""
    SELECT event_type AS symbol,
           count(*)   AS n_ticks,
           {oracle_rnd('quantile_cont(value, 0.50)', 4)} AS p50,
           {oracle_rnd('quantile_cont(value, 0.95)', 4)} AS p95,
           {oracle_rnd('quantile_cont(value, 0.99)', 4)} AS p99,
           {oracle_rnd('quantile_cont(value, 0.75) - quantile_cont(value, 0.25)', 4)} AS iqr
    FROM events
    GROUP BY 1
    """,
)
def f06_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")

    def pct(p: float):
        return F.percentile("value", F.lit(p))

    return ev.groupBy(F.col("event_type").alias("symbol")).agg(
        F.count(F.lit(1)).alias("n_ticks"),
        rnd(pct(0.50), 4).alias("p50"),
        rnd(pct(0.95), 4).alias("p95"),
        rnd(pct(0.99), 4).alias("p99"),
        rnd(pct(0.75) - pct(0.25), 4).alias("iqr"),
    )


# --------------------------------------------------------------------------
# f05 — cross-instrument correlation of daily mean prices: aggregate the
# tape to (instrument, day) first — the pair join then runs on the *small*
# aggregated series (days × instruments rows, broadcastable at any raw
# scale), never on raw ticks. Pairs are ordered (a < b) to emit each pair
# once.
#
# NUMERIC DOMAIN (q26/q28's insurance pattern): built-in corr()
# is a streaming co-moment estimator whose accumulation order — and
# algorithm — is engine-specific, i.e. exactly the
# "aggregate-that-transits-double" class that reds drivers. Instead: the
# daily price is an e4 BIGINT (its defining quotient is bit-deterministic:
# decimal-exact sum's double image / count), the five pair moments
# n, Σx, Σy, Σxy, Σx², Σy² are EXACT decimal sums of integers
# (order-independent), and Pearson's r comes from the textbook closed form
#   r = (nΣxy − ΣxΣy) / sqrt((nΣx² − (Σx)²)(nΣy² − (Σy)²))
# evaluated with identical IEEE ops on both engines from those exact
# ingredients — bit-identical, then emitted as an e3 BIGINT. (Sample vs
# population normalization cancels in the ratio, so this equals corr().)
# Decimal widths: px_e4 < 1e10 by contract → Σxy < 1e25 fits DECIMAL(26,0)
# at 100k days/pair; nΣxy and ΣxΣy stay under width 38 in both engines'
# multiply-widening rules. Zero-variance or single-day pairs → NULL (the
# closed form's denominator is exactly 0 there — same as corr()).
# --------------------------------------------------------------------------
@query(
    "f05_daily_corr_pairs",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST((2 * CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS HUGEINT) * 100
                     + count(*)) // (2 * count(*)) AS BIGINT) AS px_e4
        FROM events
        GROUP BY 1, 2
    ),
    moments AS (
        SELECT a.event_type AS symbol_a,
               b.event_type AS symbol_b,
               count(*)     AS n_days,
               CAST(count(*) AS DECIMAL(8,0))                            AS n_d,
               CAST(sum(a.px_e4) AS DECIMAL(16,0))                       AS sx,
               CAST(sum(b.px_e4) AS DECIMAL(16,0))                       AS sy,
               CAST(sum(CAST(a.px_e4 AS DECIMAL(18,0))
                        * CAST(b.px_e4 AS DECIMAL(18,0))) AS DECIMAL(26,0)) AS sxy,
               CAST(sum(CAST(a.px_e4 AS DECIMAL(18,0))
                        * CAST(a.px_e4 AS DECIMAL(18,0))) AS DECIMAL(26,0)) AS sxx,
               CAST(sum(CAST(b.px_e4 AS DECIMAL(18,0))
                        * CAST(b.px_e4 AS DECIMAL(18,0))) AS DECIMAL(26,0)) AS syy
        FROM daily a
        JOIN daily b ON a.day = b.day AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT symbol_a, symbol_b, n_days,
           CAST(floor(CAST(n_d * sxy - sx * sy AS DOUBLE)
                      / nullif(sqrt(CAST(n_d * sxx - sx * sx AS DOUBLE)
                                    * CAST(n_d * syy - sy * sy AS DOUBLE)), 0.0)
                      * 1000 + 0.5) AS BIGINT) AS corr_e3
    FROM moments
    """,
)
def f05_daily_corr_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    # px_e4 is the e4 integral average computed entirely in int64 (iavg), so
    # no hashed value transits a decimal->double quotient
    daily = (
        ev.groupBy("event_type", F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(
            money_sum_e2("value").alias("_sum_e2"),
            F.count(F.lit(1)).alias("_n"),
        )
        .withColumn("px_e4", iavg("_sum_e2", "_n", 2))
        .select("event_type", "day", "px_e4")
    )
    a = daily.alias("a")
    b = daily.alias("b")
    ax = F.col("a.px_e4").cast("decimal(18,0)")
    bx = F.col("b.px_e4").cast("decimal(18,0)")
    moments = (
        a.join(
            F.broadcast(b),
            (F.col("a.day") == F.col("b.day"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("symbol_a"),
            F.col("b.event_type").alias("symbol_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.count(F.lit(1)).cast("decimal(8,0)").alias("n_d"),
            F.sum("a.px_e4").cast("decimal(16,0)").alias("sx"),
            F.sum("b.px_e4").cast("decimal(16,0)").alias("sy"),
            F.sum(ax * bx).cast("decimal(26,0)").alias("sxy"),
            F.sum(ax * ax).cast("decimal(26,0)").alias("sxx"),
            F.sum(bx * bx).cast("decimal(26,0)").alias("syy"),
        )
    )
    num = (F.col("n_d") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.sqrt(
        (F.col("n_d") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        * (F.col("n_d") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return moments.select(
        "symbol_a",
        "symbol_b",
        "n_days",
        F.floor(num / F.nullif(den, F.lit(0.0)) * 1000 + 0.5).alias("corr_e3"),
    )


# --------------------------------------------------------------------------
# f07 — time-series pattern similarity search (EDBT'19 "Time Series
# Similarity Search for Streaming Data" problem shape): take a 24-bar query
# pattern (the first full day of hourly closes of one instrument) and rank
# every sliding 24-bar window across all instruments by mean-centered
# Euclidean distance. Windows come from ONE ordered pass per instrument
# (collect_list over a rows-frame); distances are flat array folds in the
# same sequential order as the oracle's list_sum. The query pattern is a
# 1-row broadcast. At 100 TB the candidate windows are per-instrument and
# day-bounded — the expensive part (windowing) partitions by symbol, and
# the distance scan is map-only after the broadcast.
# --------------------------------------------------------------------------
_PAT_L = 24


@query(
    "f07_pattern_similarity",
    oracle=f"""
    WITH bars AS (
        SELECT event_type AS symbol, date_trunc('hour', ts) AS bar_hour,
               arg_max(value, event_id) AS close
        FROM events GROUP BY 1, 2
    ),
    wins AS (
        SELECT symbol, bar_hour,
               list(close) OVER (
                   PARTITION BY symbol ORDER BY bar_hour ASC
                   ROWS BETWEEN CURRENT ROW AND {_PAT_L - 1} FOLLOWING
               ) AS win
        FROM bars
    ),
    w24 AS (SELECT * FROM wins WHERE len(win) = {_PAT_L}),
    pat AS (
        SELECT bar_hour AS pat_hour, win AS p FROM w24
        WHERE symbol = 'purchase' ORDER BY bar_hour ASC LIMIT 1
    ),
    scored AS (
        SELECT w.symbol, w.bar_hour,
               list_sum(list_transform(range({_PAT_L}),
                   i -> ((w.win[i+1] - list_sum(w.win) / {_PAT_L}.0)
                       - (pat.p[i+1] - list_sum(pat.p) / {_PAT_L}.0))
                      * ((w.win[i+1] - list_sum(w.win) / {_PAT_L}.0)
                       - (pat.p[i+1] - list_sum(pat.p) / {_PAT_L}.0))
               )) AS dist
        FROM w24 w CROSS JOIN pat
        WHERE NOT (w.symbol = 'purchase' AND w.bar_hour = pat.pat_hour)
    )
    SELECT symbol, bar_hour,
           floor(dist * 100 + 0.5) / 100.0 AS sq_dist
    FROM scored
    ORDER BY sq_dist ASC, symbol ASC, bar_hour ASC
    LIMIT 10
    """,
)
def f07_pattern_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    bars = (
        ev.groupBy(
            F.col("event_type").alias("symbol"),
            F.date_trunc("hour", "ts").alias("bar_hour"),
        )
        .agg(F.max_by("value", "event_id").alias("close"))
    )
    w = (
        W.partitionBy("symbol")
        .orderBy(F.asc("bar_hour"))
        .rowsBetween(W.currentRow, _PAT_L - 1)
    )
    w24 = (
        bars.select("symbol", "bar_hour", F.collect_list("close").over(w).alias("win"))
        .filter(F.size("win") == _PAT_L)
    )
    pat = (
        w24.filter(F.col("symbol") == "purchase")
        .orderBy(F.asc("bar_hour"))
        .limit(1)
        .select(F.col("bar_hour").alias("pat_hour"), F.col("win").alias("p"))
    )

    def _mean(arr):
        return F.aggregate(arr, F.lit(0.0), lambda a, x: a + x) / float(_PAT_L)

    # the window means land in their own projection — referenced inside the
    # zip_with lambda as expressions they would re-fold once per element
    # (24× recompute; same trap t19 documents for split())
    centered = (
        w24.crossJoin(F.broadcast(pat))
        .filter(~((F.col("symbol") == "purchase") & (F.col("bar_hour") == F.col("pat_hour"))))
        .withColumn("ma", _mean(F.col("win")))
        .withColumn("mb", _mean(F.col("p")))
    )
    diffs = F.zip_with(
        F.col("win"), F.col("p"),
        lambda x, y: (x - F.col("ma")) - (y - F.col("mb")),
    )
    dist = F.aggregate(diffs, F.lit(0.0), lambda a, v: a + v * v)
    scored = centered.select("symbol", "bar_hour", rnd(dist, 2).alias("sq_dist"))
    return scored.orderBy(F.asc("sq_dist"), F.asc("symbol"), F.asc("bar_hour")).limit(10)


# --------------------------------------------------------------------------
# f08 — gap-filled hourly rollup with last-observation-carried-forward:
# TimescaleDB's `time_bucket_gapfill(...) + locf(...)` (the hypertable
# continuous-rollup idiom the reference's TimescaleDB store offers;
# hypertable conversion reference a1_5_batch_s3_to_postgres.py:383-411) as
# a Spark composition. Per instrument: hourly aggregate → a complete hour
# spine from its first to last bucket (sequence + explode — generated, not
# scanned), left join, then LOCF via last(ignorenulls) over an ordered
# per-instrument window. Hours before the first observation stay null.
#
# Scale: the spine is instruments × hours — bounded by calendar time, not
# tick volume, so it stays broadcastable at 100 TB of raw ticks; the only
# full-data shuffle is the first hourly aggregation (map-side partials).
# The LOCF window partitions by instrument (bounded running state). The
# bucket average rounds before LOCF (the engine-order-insensitive rnd
# contract, same as e02/f05).
# --------------------------------------------------------------------------
@query(
    "f08_gapfill_locf",
    oracle=f"""
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS bucket_hour,
               count(*) AS n_events,
               CAST((2 * CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS HUGEINT) * 100
                     + count(*)) // (2 * count(*)) AS BIGINT) / 10000.0 AS avg_value
        FROM events GROUP BY 1, 2
    ),
    bounds AS (
        SELECT event_type, min(bucket_hour) AS mn, max(bucket_hour) AS mx
        FROM hourly GROUP BY 1
    ),
    spine AS (
        SELECT b.event_type,
               unnest(generate_series(b.mn, b.mx, INTERVAL 1 HOUR)) AS bucket_hour
        FROM bounds b
    ),
    joined AS (
        SELECT s.event_type, s.bucket_hour,
               coalesce(h.n_events, 0) AS n_events, h.avg_value
        FROM spine s LEFT JOIN hourly h USING (event_type, bucket_hour)
    )
    SELECT event_type, bucket_hour, n_events,
           last_value(avg_value IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY bucket_hour
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS value_locf,
           (n_events = 0) AS was_filled
    FROM joined
    """,
)
def f08_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    # f15's treatment: the hourly average is the exact e4 integral average
    # divided by the exact double 10000.0 — same value, but no raw double
    # sum (summation-order-dependent at large group sizes) and no rounded
    # quotient in the lineage; downstream fill logic consumes identical
    # doubles on both engines
    hourly = (
        ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("bucket_hour"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum_e2("value").alias("_sum_e2"),
        )
        .withColumn(
            "avg_value", iavg("_sum_e2", "n_events", 2).cast("double") / F.lit(10000.0)
        )
        .select("event_type", "bucket_hour", "n_events", "avg_value")
    )
    bounds = hourly.groupBy("event_type").agg(
        F.min("bucket_hour").alias("mn"), F.max("bucket_hour").alias("mx")
    )
    spine = bounds.select(
        "event_type",
        F.explode(F.expr("sequence(mn, mx, INTERVAL 1 HOUR)")).alias("bucket_hour"),
    )
    joined = spine.join(hourly, ["event_type", "bucket_hour"], "left").select(
        "event_type",
        "bucket_hour",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        "avg_value",
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("bucket_hour")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return joined.select(
        "event_type",
        "bucket_hour",
        "n_events",
        F.last("avg_value", ignorenulls=True).over(w).alias("value_locf"),
        (F.col("n_events") == 0).alias("was_filled"),
    )


# --------------------------------------------------------------------------
# f09 — realized volatility: per (instrument, day), the square root of the
# sum of squared tick-to-tick log returns — the standard realized-variance
# estimator a market-data analyst computes right after candles. Returns are
# lagged over (instrument, day) partitions ordered by the monotone
# event_id (the same deterministic tiebreak f01 uses); non-positive prices
# are excluded from the return stream on BOTH engines (ln domain). One
# window pass (partitioned, never global) + one hash aggregation; at 100 TB
# the day partition bounds every window buffer. Both engines evaluate
# ln/sqrt in IEEE double — per-term differences are ≤1 ulp and the
# aggregate rounds at 6 dp, the same determinism recipe f03/f05 gate with.
# --------------------------------------------------------------------------
@query(
    "f09_realized_volatility",
    oracle="""
    WITH ticks AS (
        SELECT event_type AS symbol, CAST(date_trunc('day', ts) AS DATE) AS day,
               event_id, value
        FROM events WHERE value > 0
    ),
    rets AS (
        SELECT symbol, day,
               ln(value / lag(value) OVER (
                   PARTITION BY symbol, day ORDER BY event_id
               )) AS r
        FROM ticks
    )
    SELECT symbol, day,
           CAST(count(r) AS BIGINT)                      AS n_returns,
           floor(sqrt(sum(r * r)) * 1000000 + 0.5) / 1000000.0 AS realized_vol
    FROM rets
    WHERE r IS NOT NULL
    GROUP BY 1, 2
    """,
)
def f09_realized_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    ticks = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value") > 0)
        .select(
            F.col("event_type").alias("symbol"),
            F.date_trunc("day", "ts").cast("date").alias("day"),
            "event_id",
            "value",
        )
    )
    w = W.partitionBy("symbol", "day").orderBy("event_id")
    rets = ticks.select(
        "symbol",
        "day",
        F.log(F.col("value") / F.lag("value").over(w)).alias("r"),
    ).filter(F.col("r").isNotNull())
    return rets.groupBy("symbol", "day").agg(
        F.count("r").alias("n_returns"),
        rnd(F.sqrt(F.sum(F.col("r") * F.col("r"))), 6).alias("realized_vol"),
    )


# --------------------------------------------------------------------------
# f10 — 14-period RSI (Cutler's simple-moving-average form) per instrument:
# tick deltas split into gains/losses, 14-delta rolling means, and
# RSI = 100·avg_gain/(avg_gain+avg_loss) — algebraically identical to
# 100 − 100/(1+RS) but with a single guarded division. Cutler's SMA
# variant (not Wilder's recursive smoothing) is chosen deliberately: it is
# a pure bounded-ROWS window, exactly expressible in BOTH engines, where
# Wilder's EWMA is a sequential recurrence that would need an iterative
# or closed-form-power pass. The window partitions by instrument —
# bounded state, no global sort (f03's scaling argument applies verbatim:
# at 100 TB pre-bucket by (symbol, month) and stitch the 14-row seam).
# Rolling means are rounded (6 dp) BEFORE the ratio on both sides, and
# overbought/oversold counts compare the ROUNDED rsi, so no float-tie
# can split the engines.
# --------------------------------------------------------------------------
@query(
    "f10_rsi",
    oracle=f"""
    WITH deltas AS (
        SELECT event_type, event_id,
               value - lag(value) OVER w AS d,
               row_number()       OVER w AS rn
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY ts ASC, event_id ASC)
    ),
    flows AS (
        SELECT event_type, rn,
               {oracle_rnd('avg(greatest(d, 0))  OVER v', 6)} AS g,
               {oracle_rnd('avg(greatest(-d, 0)) OVER v', 6)} AS l
        FROM deltas WHERE d IS NOT NULL
        WINDOW v AS (PARTITION BY event_type ORDER BY rn ASC
                     ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    ),
    rsi AS (
        SELECT event_type,
               CASE WHEN g + l = 0 THEN 50.0
                    ELSE {oracle_rnd('100.0 * g / (g + l)', 4)} END AS r
        FROM flows WHERE rn >= 15
    )
    SELECT event_type                                   AS symbol,
           count(*)                                     AS n_obs,
           {oracle_rnd('avg(r)', 4)}                    AS avg_rsi,
           count(*) FILTER (WHERE r > 70)               AS n_overbought,
           count(*) FILTER (WHERE r < 30)               AS n_oversold
    FROM rsi
    GROUP BY 1
    """,
)
def f10_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-period Cutler RSI over the tick stream, rolled up per symbol.

    Reference parity: extends the reference's daily-mean analytics
    (warehouse analytics queries) with the indicator its analysts compute
    downstream; same window discipline as f03 (bounded ROWS frame,
    instrument-partitioned)."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy(F.asc("ts"), F.asc("event_id"))
    deltas = ev.select(
        "event_type",
        (F.col("value") - F.lag("value").over(w)).alias("d"),
        F.row_number().over(w).alias("rn"),
    ).filter(F.col("d").isNotNull())
    v = W.partitionBy("event_type").orderBy(F.asc("rn")).rowsBetween(-13, W.currentRow)
    flows = deltas.select(
        "event_type",
        "rn",
        rnd(F.avg(F.greatest(F.col("d"), F.lit(0.0))).over(v), 6).alias("g"),
        rnd(F.avg(F.greatest(-F.col("d"), F.lit(0.0))).over(v), 6).alias("l"),
    ).filter(F.col("rn") >= 15)
    r = F.when(F.col("g") + F.col("l") == 0, F.lit(50.0)).otherwise(
        rnd(100.0 * F.col("g") / (F.col("g") + F.col("l")), 4)
    )
    rsi = flows.select("event_type", r.alias("r"))
    return rsi.groupBy(F.col("event_type").alias("symbol")).agg(
        F.count(F.lit(1)).alias("n_obs"),
        rnd(F.avg("r"), 4).alias("avg_rsi"),
        F.count_if(F.col("r") > 70).alias("n_overbought"),
        F.count_if(F.col("r") < 30).alias("n_oversold"),
    )


# --------------------------------------------------------------------------
# f11 — 14-period stochastic oscillator (%K with a 3-period %D smoothing)
# per instrument. %K = 100·(close − LL₁₄)/(HH₁₄ − LL₁₄) over a bounded ROWS
# frame; %D = 3-tick SMA of the ROUNDED %K. A flat 14-tick range (HH == LL)
# pins %K at the 50 midpoint — guarded division, same convention as f10's
# zero-flow RSI. Both smoothing passes are instrument-partitioned bounded
# windows (f03's 100 TB bucketing argument applies verbatim); the %D pass
# re-ranks the FILTERED %K stream by its own row number exactly as f10's
# flows stage does, so its frame never straddles the warm-up rows it
# discarded. Rollup counts compare the rounded oscillator, so no float tie
# can split the engines.
# --------------------------------------------------------------------------
@query(
    "f11_stochastic_oscillator",
    oracle=f"""
    WITH ranked AS (
        SELECT event_type, value,
               min(value)   OVER v AS ll,
               max(value)   OVER v AS hh,
               row_number() OVER w AS rn
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY ts ASC, event_id ASC),
               v AS (PARTITION BY event_type ORDER BY ts ASC, event_id ASC
                     ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    ),
    k AS (
        SELECT event_type, rn - 13 AS kn,
               CASE WHEN hh = ll THEN 50.0
                    ELSE {oracle_rnd('100.0 * (value - ll) / (hh - ll)', 4)}
               END AS pct_k
        FROM ranked WHERE rn >= 14
    ),
    kd AS (
        SELECT event_type, kn, pct_k,
               {oracle_rnd('avg(pct_k) OVER d', 4)} AS pct_d
        FROM k
        WINDOW d AS (PARTITION BY event_type ORDER BY kn ASC
                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type                                     AS symbol,
           count(*)                                       AS n_obs,
           {oracle_rnd('avg(pct_k)', 4)}                  AS avg_k,
           {oracle_rnd('avg(pct_d) FILTER (WHERE kn >= 3)', 4)} AS avg_d,
           count(*) FILTER (WHERE pct_k > 80)             AS n_overbought,
           count(*) FILTER (WHERE pct_k < 20)             AS n_oversold
    FROM kd
    GROUP BY 1
    """,
)
def f11_stochastic_oscillator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-period stochastic %K / 3-period %D, rolled up per symbol.

    Reference parity: beyond-reference indicator suite (see module
    docstring); the reference's analytics stop at daily means
    (warehouse_tools.py price queries)."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy(F.asc("ts"), F.asc("event_id"))
    v = w.rowsBetween(-13, W.currentRow)
    ranked = ev.select(
        "event_type",
        "value",
        F.min("value").over(v).alias("ll"),
        F.max("value").over(v).alias("hh"),
        F.row_number().over(w).alias("rn"),
    ).filter(F.col("rn") >= 14)
    pct_k = F.when(F.col("hh") == F.col("ll"), F.lit(50.0)).otherwise(
        rnd(100.0 * (F.col("value") - F.col("ll")) / (F.col("hh") - F.col("ll")), 4)
    )
    k = ranked.select(
        "event_type", (F.col("rn") - 13).alias("kn"), pct_k.alias("pct_k")
    )
    d = W.partitionBy("event_type").orderBy(F.asc("kn")).rowsBetween(-2, W.currentRow)
    kd = k.select(
        "event_type",
        "kn",
        "pct_k",
        rnd(F.avg("pct_k").over(d), 4).alias("pct_d"),
    )
    return kd.groupBy(F.col("event_type").alias("symbol")).agg(
        F.count(F.lit(1)).alias("n_obs"),
        rnd(F.avg("pct_k"), 4).alias("avg_k"),
        rnd(F.avg(F.when(F.col("kn") >= 3, F.col("pct_d"))), 4).alias("avg_d"),
        F.count_if(F.col("pct_k") > 80).alias("n_overbought"),
        F.count_if(F.col("pct_k") < 20).alias("n_oversold"),
    )


# --------------------------------------------------------------------------
# f12 — on-balance volume, closed daily: OBV accumulates +size on an uptick,
# −size on a downtick, 0 on a flat tick, as a running sum over the whole
# instrument history; the daily close is max_by(obv, event_id) per
# (symbol, day) — the same monotone-event_id close selection as f01. All
# arithmetic is integer (sizes are BIGINT, sign is ±1/0), so the result is
# EXACT — no rounding discipline needed anywhere. Scale: the running sum is
# a single forward pass per instrument partition (Spark evaluates an
# UNBOUNDED PRECEDING..CURRENT ROW sum in O(n) carrying one accumulator);
# at 100 TB, segment the tape by (symbol, month), compute per-segment sums,
# and add the exclusive prefix of month totals to each segment — exact
# associative stitch, shuffle ∝ #segments.
# --------------------------------------------------------------------------
@query(
    "f12_obv_daily_close",
    oracle="""
    WITH ticks AS (
        SELECT event_type, event_id, ts,
               CAST(date_trunc('day', ts) AS DATE) AS trade_date,
               value,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS size
        FROM events
    ),
    signed AS (
        SELECT event_type, event_id, trade_date,
               CASE WHEN value > lag(value) OVER w THEN size
                    WHEN value < lag(value) OVER w THEN -size
                    ELSE CAST(0 AS BIGINT) END AS flow
        FROM ticks
        WINDOW w AS (PARTITION BY event_type ORDER BY ts ASC, event_id ASC)
    ),
    obv AS (
        SELECT event_type, event_id, trade_date,
               CAST(sum(coalesce(flow, 0)) OVER (
                   PARTITION BY event_type ORDER BY event_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS obv
        FROM signed
    )
    SELECT event_type                        AS symbol,
           trade_date,
           CAST(arg_max(obv, event_id) AS BIGINT) AS obv_close,
           count(*)                          AS n_ticks
    FROM obv
    GROUP BY 1, 2
    """,
)
def f12_obv_daily_close(spark: SparkSession, sf_dir: str) -> DataFrame:
    """On-balance volume with daily closing snapshots per symbol — exact
    integer arithmetic end to end."""
    ev = _t(spark, sf_dir, "events")
    ticks = ev.select(
        "event_type",
        "event_id",
        "ts",
        F.date_trunc("day", "ts").cast("date").alias("trade_date"),
        "value",
        F.get_json_object("props", "$.k").cast("long").alias("size"),
    )
    w = W.partitionBy("event_type").orderBy(F.asc("ts"), F.asc("event_id"))
    prev = F.lag("value").over(w)
    flow = (
        F.when(F.col("value") > prev, F.col("size"))
        .when(F.col("value") < prev, -F.col("size"))
        .otherwise(F.lit(0).cast("long"))
    )
    signed = ticks.select("event_type", "event_id", "trade_date", flow.alias("flow"))
    run = (
        W.partitionBy("event_type")
        .orderBy(F.asc("event_id"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    obv = signed.select(
        "event_type",
        "event_id",
        "trade_date",
        F.sum(F.coalesce(F.col("flow"), F.lit(0))).over(run).cast("long").alias("obv"),
    )
    return obv.groupBy(F.col("event_type").alias("symbol"), "trade_date").agg(
        F.max_by("obv", "event_id").cast("long").alias("obv_close"),
        F.count(F.lit(1)).alias("n_ticks"),
    )


# --------------------------------------------------------------------------
# f13 — MACD (12/26 EMA spread + 9-EMA signal) with a CROSS-ENGINE-EXACT
# EMA: the recursive EWMA is re-expressed in its finite "adjust" form
# EMA_t = Σ_{j<n} β^j·x_{t−j} / Σ_{j<n} β^j truncated at 64 ticks
# (β^64 < 4·10⁻⁵ for the slowest span, 26), which is a FLAT lag chain —
# and every β^j coefficient and denominator prefix-sum is PYTHON-computed
# once and embedded as the same float literal in BOTH the Spark expression
# and the SQL oracle. No runtime pow() anywhere: JVM Math.pow and C libm
# can disagree in the last ulp, which a hash gate cannot tolerate; float
# literals round-trip identically through both parsers (shortest-repr).
# The fold order of the 64-term sum is the written order on both sides.
# Scale: one window pass per instrument computes all 128 lag terms + rn
# (bounded frame state); the signal pass is a second 9-lag window over the
# ROUNDED macd column. Same (symbol, month) seam-stitch story as f03/f10.
# --------------------------------------------------------------------------
_F13_TRUNC = 64


def _f13_tables(alpha: float, n: int) -> tuple[list[float], list[float]]:
    """(β^j coefficients j<n, denominator prefix sums Σ_{j<k} β^j k=1..n)."""
    beta = 1.0 - alpha
    pows = [1.0]
    for _ in range(n - 1):
        pows.append(pows[-1] * beta)
    dens, acc = [], 0.0
    for p in pows:
        acc += p
        dens.append(acc)
    return pows, dens


_F13_P12, _F13_D12 = _f13_tables(2.0 / 13.0, _F13_TRUNC)
_F13_P26, _F13_D26 = _f13_tables(2.0 / 27.0, _F13_TRUNC)
_F13_P9, _F13_D9 = _f13_tables(2.0 / 10.0, 9)


def _f13_sql_num(col: str, win: str, pows: list[float]) -> str:
    terms = [f"({col} * {pows[0]!r})"] + [
        f"(coalesce(lag({col}, {j}) OVER {win}, 0.0) * {pows[j]!r})"
        for j in range(1, len(pows))
    ]
    return "(" + " + ".join(terms) + ")"


def _f13_sql_den(dens: list[float], rn: str = "rn") -> str:
    lits = ", ".join(repr(d) for d in dens)
    return f"([{lits}])[least({rn}, {len(dens)})]"


def _f13_spark_num(col: str, over_sql: str, pows: list[float]):
    """The 64-term truncated-EWMA numerator as ONE F.expr string — a
    Column-operator loop pays one py4j call per node (similarity.dot's
    finding; 3 calls per f13 build). Same parsed tree: left-associative
    `+`, lag(col, j) OVER the inline spec, and `{p!r}D` double literals
    identical to F.lit's. (A window-collect + HOF-fold variant gives
    bit-identical values but runs slower — the per-row 64-element array
    materialization loses; the flat lag chain stays.)"""
    terms = [f"({col} * {pows[0]!r}D)"] + [
        f"(coalesce(lag({col}, {j}) OVER {over_sql}, 0.0D) * {pows[j]!r}D)"
        for j in range(1, len(pows))
    ]
    return F.expr(" + ".join(terms))


def _f13_spark_den(dens: list[float], rn: str = "rn"):
    arr = F.array(*[F.lit(d) for d in dens])
    return F.element_at(arr, F.least(F.col(rn), F.lit(len(dens))).cast("int"))


@query(
    "f13_macd",
    oracle=f"""
    WITH base AS (
        SELECT event_type,
               row_number() OVER w AS rn,
               {_f13_sql_num('value', 'w', _F13_P12)} AS num12,
               {_f13_sql_num('value', 'w', _F13_P26)} AS num26
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY ts ASC, event_id ASC)
    ),
    m AS (
        SELECT event_type, rn,
               {oracle_rnd(
                   oracle_rnd('num12 / ' + _f13_sql_den(_F13_D12), 6)
                   + ' - ' + oracle_rnd('num26 / ' + _f13_sql_den(_F13_D26), 6),
                   6,
               )} AS macd
        FROM base
    ),
    s AS (
        SELECT event_type, rn, macd,
               {oracle_rnd(
                   '(' + _f13_sql_num('macd', 'w2', _F13_P9) + ') / '
                   + _f13_sql_den(_F13_D9),
                   6,
               )} AS signal
        FROM m
        WINDOW w2 AS (PARTITION BY event_type ORDER BY rn ASC)
    )
    SELECT event_type                                        AS symbol,
           count(*)                                          AS n_obs,
           {oracle_rnd('avg(macd)', 4)}                      AS avg_macd,
           {oracle_rnd('avg(signal)', 4)}                    AS avg_signal,
           count(*) FILTER (WHERE macd > signal)             AS n_bullish,
           count(*) FILTER (WHERE macd < signal)             AS n_bearish
    FROM s
    GROUP BY 1
    """,
)
def f13_macd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MACD line, signal line, and bullish/bearish tick counts per symbol."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy(F.asc("ts"), F.asc("event_id"))
    w_sql = "(PARTITION BY event_type ORDER BY ts ASC, event_id ASC)"
    base = ev.select(
        "event_type",
        F.row_number().over(w).alias("rn"),
        _f13_spark_num("value", w_sql, _F13_P12).alias("num12"),
        _f13_spark_num("value", w_sql, _F13_P26).alias("num26"),
    )
    macd = rnd(
        rnd(F.col("num12") / _f13_spark_den(_F13_D12), 6)
        - rnd(F.col("num26") / _f13_spark_den(_F13_D26), 6),
        6,
    )
    m = base.select("event_type", "rn", macd.alias("macd"))
    w2_sql = "(PARTITION BY event_type ORDER BY rn ASC)"
    signal = rnd(_f13_spark_num("macd", w2_sql, _F13_P9) / _f13_spark_den(_F13_D9), 6)
    s = m.select("event_type", "rn", "macd", signal.alias("signal"))
    return s.groupBy(F.col("event_type").alias("symbol")).agg(
        F.count(F.lit(1)).alias("n_obs"),
        rnd(F.avg("macd"), 4).alias("avg_macd"),
        rnd(F.avg("signal"), 4).alias("avg_signal"),
        F.count_if(F.col("macd") > F.col("signal")).alias("n_bullish"),
        F.count_if(F.col("macd") < F.col("signal")).alias("n_bearish"),
    )


# --------------------------------------------------------------------------
# f14 — 14-bar ATR (average true range) on hourly OHLC bars: bars come from
# the f01 aggregation (min_by/max_by on the monotone event_id — one hash
# shuffle), TR = max(high−low, |high−prev_close|, |low−prev_close|) with
# the conventional first-bar fallback to high−low, ATR = 14-bar rolling
# mean. TR itself is EXACT float arithmetic (differences and maxima of raw
# doubles, no accumulation), so only the rolling mean needs the rounding
# discipline. Window partitions by symbol over ~calendar-bounded bar
# counts — the heavy lifting happened in the bar aggregation, same
# join-after-aggregation shape as f05/e09.
# --------------------------------------------------------------------------
@query(
    "f14_atr",
    oracle=f"""
    WITH bars AS (
        SELECT event_type AS symbol, date_trunc('hour', ts) AS bar_hour,
               max(value) AS high, min(value) AS low,
               arg_max(value, event_id) AS close
        FROM events GROUP BY 1, 2
    ),
    tr AS (
        SELECT symbol,
               row_number() OVER w AS rn,
               CASE WHEN lag(close) OVER w IS NULL THEN high - low
                    ELSE greatest(high - low,
                                  abs(high - lag(close) OVER w),
                                  abs(low  - lag(close) OVER w))
               END AS tr
        FROM bars
        WINDOW w AS (PARTITION BY symbol ORDER BY bar_hour ASC)
    ),
    atr AS (
        SELECT symbol, tr,
               {oracle_rnd('avg(tr) OVER (PARTITION BY symbol ORDER BY rn ASC '
                           'ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)', 6)} AS atr
        FROM tr QUALIFY rn >= 14
    )
    SELECT symbol,
           count(*)                       AS n_bars,
           {oracle_rnd('avg(atr)', 4)}    AS avg_atr,
           {oracle_rnd('max(tr)', 4)}     AS max_tr,
           {oracle_rnd('min(atr)', 4)}    AS min_atr
    FROM atr
    GROUP BY 1
    """,
)
def f14_atr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """14-bar average true range per symbol over hourly bars."""
    ev = _t(spark, sf_dir, "events")
    bars = (
        ev.select(
            F.col("event_type").alias("symbol"),
            F.date_trunc("hour", "ts").alias("bar_hour"),
            "value",
            "event_id",
        )
        .groupBy("symbol", "bar_hour")
        .agg(
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", "event_id").alias("close"),
        )
    )
    w = W.partitionBy("symbol").orderBy(F.asc("bar_hour"))
    prev = F.lag("close").over(w)
    tr_expr = F.when(prev.isNull(), F.col("high") - F.col("low")).otherwise(
        F.greatest(
            F.col("high") - F.col("low"),
            F.abs(F.col("high") - prev),
            F.abs(F.col("low") - prev),
        )
    )
    tr = bars.select(
        "symbol", F.row_number().over(w).alias("rn"), tr_expr.alias("tr")
    )
    v = W.partitionBy("symbol").orderBy(F.asc("rn")).rowsBetween(-13, W.currentRow)
    atr = tr.select(
        "symbol", "tr", rnd(F.avg("tr").over(v), 6).alias("atr")
    ).filter(F.col("rn") >= 14)
    return atr.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_bars"),
        rnd(F.avg("atr"), 4).alias("avg_atr"),
        rnd(F.max("tr"), 4).alias("max_tr"),
        rnd(F.min("atr"), 4).alias("min_atr"),
    )


# --------------------------------------------------------------------------
# f15 — trailing 10-day rolling beta of each instrument vs an equal-weight
# market index (the cross-sectional mean of daily returns). Beta comes from
# the closed-form OLS slope over explicit bounded window sums —
# (nΣxy − ΣxΣy) / (nΣxx − (Σx)²) — NOT covar_samp/var_samp, whose streaming
# estimators accumulate differently across engines. The only cross-engine
# float hazards are the two aggregations (daily mean price, cross-sectional
# mean return), both rounded at the boundary like f05; every window term is
# a product/sum of identical doubles over an identical frame order. The
# market index table is days×1 rows — broadcast; windows partition by
# symbol. At 100 TB the daily-aggregated series is thousands of rows
# regardless of tick volume (f05's argument), so everything after the first
# hash aggregation is broadcast-join + bounded-window cheap.
# --------------------------------------------------------------------------
_BETA_N = 10


@query(
    "f15_rolling_beta",
    oracle=f"""
    WITH daily AS (
        SELECT event_type AS symbol, CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST((2 * CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS HUGEINT) * 100
                     + count(*)) // (2 * count(*)) AS BIGINT) / 10000.0 AS px
        FROM events GROUP BY 1, 2
    ),
    ret AS (
        SELECT symbol, day,
               {oracle_rnd('px / lag(px) OVER w - 1', 6)} AS r
        FROM daily
        WINDOW w AS (PARTITION BY symbol ORDER BY day ASC)
        QUALIFY lag(px) OVER w IS NOT NULL
    ),
    mkt AS (
        SELECT day, {oracle_rnd('avg(r)', 6)} AS m FROM ret GROUP BY 1
    ),
    j AS (
        SELECT ret.symbol, ret.day, ret.r, mkt.m
        FROM ret JOIN mkt ON ret.day = mkt.day
    ),
    winsum AS (
        SELECT symbol,
               row_number() OVER w AS rn,
               sum(r * m) OVER (w ROWS BETWEEN {_BETA_N - 1} PRECEDING AND CURRENT ROW) AS sxy,
               sum(m)     OVER (w ROWS BETWEEN {_BETA_N - 1} PRECEDING AND CURRENT ROW) AS sx,
               sum(r)     OVER (w ROWS BETWEEN {_BETA_N - 1} PRECEDING AND CURRENT ROW) AS sy,
               sum(m * m) OVER (w ROWS BETWEEN {_BETA_N - 1} PRECEDING AND CURRENT ROW) AS sxx
        FROM j WINDOW w AS (PARTITION BY symbol ORDER BY day ASC)
    ),
    beta AS (
        SELECT symbol,
               {oracle_rnd(f'({_BETA_N} * sxy - sx * sy) / nullif({_BETA_N} * sxx - sx * sx, 0)', 6)} AS beta
        FROM winsum WHERE rn >= {_BETA_N}
    )
    SELECT symbol,
           count(*)                        AS n_windows,
           {oracle_rnd('avg(beta)', 4)}    AS avg_beta,
           {oracle_rnd('max(beta)', 4)}    AS max_beta,
           {oracle_rnd('min(beta)', 4)}    AS min_beta
    FROM beta
    GROUP BY 1
    """,
)
def f15_rolling_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling OLS beta per instrument against the equal-weight market
    index (beyond-reference: the reference's price analytics stop at daily
    means — fct_asset_price_comparison.sql:9-32)."""
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            F.col("event_type").alias("symbol"),
            F.date_trunc("day", "ts").cast("date").alias("day"),
        )
        .agg(
            money_sum_e2("value").alias("_sum_e2"),
            F.count(F.lit(1)).alias("_n"),
        )
        # px's VALUE is unchanged (e4 half-up average) but its lineage no
        # longer contains a decimal->double cast: the exact int64 average
        # divides by the exact double 10000.0 — bit-identical on both
        # engines, so every downstream float term (r, beta) stays identical
        .withColumn("px", iavg("_sum_e2", "_n", 2).cast("double") / F.lit(10000.0))
        .select("symbol", "day", "px")
    )
    w = W.partitionBy("symbol").orderBy(F.asc("day"))
    ret = (
        daily.select(
            "symbol",
            "day",
            rnd(F.col("px") / F.lag("px").over(w) - 1, 6).alias("r"),
        )
        .filter(F.col("r").isNotNull())
    )
    mkt = ret.groupBy("day").agg(rnd(F.avg("r"), 6).alias("m"))
    j = ret.join(F.broadcast(mkt), "day")
    wf = w.rowsBetween(-(_BETA_N - 1), W.currentRow)
    winsum = j.select(
        "symbol",
        F.row_number().over(w).alias("rn"),
        F.sum(F.col("r") * F.col("m")).over(wf).alias("sxy"),
        F.sum("m").over(wf).alias("sx"),
        F.sum("r").over(wf).alias("sy"),
        F.sum(F.col("m") * F.col("m")).over(wf).alias("sxx"),
    )
    beta = winsum.filter(F.col("rn") >= _BETA_N).select(
        "symbol",
        rnd(
            (_BETA_N * F.col("sxy") - F.col("sx") * F.col("sy"))
            / F.nullif(
                _BETA_N * F.col("sxx") - F.col("sx") * F.col("sx"), F.lit(0.0)
            ),
            6,
        ).alias("beta"),
    )
    return beta.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n_windows"),
        rnd(F.avg("beta"), 4).alias("avg_beta"),
        rnd(F.max("beta"), 4).alias("max_beta"),
        rnd(F.min("beta"), 4).alias("min_beta"),
    )


# --------------------------------------------------------------------------
# f16 — gap-filled rollup with LINEAR INTERPOLATION: TimescaleDB's
# `time_bucket_gapfill(...) + interpolate(...)`, the sibling of f08's locf.
# Same generated hour spine and left join; each missing bucket then takes
# v_prev + (v_next − v_prev) · (i − i_prev)/(i_next − i_prev), where the
# prev/next anchors come from one backward ignorenulls window and one
# forward ignorenulls window over the SAME per-instrument partitioning
# (one exchange, two sorts). Gap positions use the spine's contiguous hour
# INDEX (row_number), not epoch arithmetic — the fraction is a ratio of
# small integers, exact in both engines. Buckets before the first or after
# the last observation stay NULL (TimescaleDB semantics). Calendar-bounded
# like f08: everything after the hourly aggregation is instruments × hours.
# --------------------------------------------------------------------------
@query(
    "f16_gapfill_interpolate",
    oracle=f"""
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS bucket_hour,
               count(*) AS n_events,
               CAST((2 * CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS HUGEINT) * 100
                     + count(*)) // (2 * count(*)) AS BIGINT) / 10000.0 AS avg_value
        FROM events GROUP BY 1, 2
    ),
    bounds AS (
        SELECT event_type, min(bucket_hour) AS mn, max(bucket_hour) AS mx
        FROM hourly GROUP BY 1
    ),
    spine AS (
        SELECT b.event_type,
               unnest(generate_series(b.mn, b.mx, INTERVAL 1 HOUR)) AS bucket_hour
        FROM bounds b
    ),
    joined AS (
        SELECT s.event_type, s.bucket_hour,
               coalesce(h.n_events, 0) AS n_events, h.avg_value,
               row_number() OVER (
                   PARTITION BY s.event_type ORDER BY s.bucket_hour
               ) AS idx
        FROM spine s LEFT JOIN hourly h USING (event_type, bucket_hour)
    ),
    anchored AS (
        SELECT *,
               last_value(avg_value IGNORE NULLS) OVER wb AS v_prev,
               last_value(CASE WHEN avg_value IS NOT NULL THEN idx END IGNORE NULLS)
                   OVER wb AS i_prev,
               first_value(avg_value IGNORE NULLS) OVER wf AS v_next,
               first_value(CASE WHEN avg_value IS NOT NULL THEN idx END IGNORE NULLS)
                   OVER wf AS i_next
        FROM joined
        WINDOW wb AS (PARTITION BY event_type ORDER BY idx
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wf AS (PARTITION BY event_type ORDER BY idx
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type, bucket_hour, n_events,
           {oracle_rnd("CASE WHEN avg_value IS NOT NULL THEN avg_value "
                       "WHEN v_prev IS NOT NULL AND v_next IS NOT NULL THEN "
                       "v_prev + (v_next - v_prev) * "
                       "((idx - i_prev) * 1.0 / (i_next - i_prev)) "
                       "ELSE NULL END", 6)} AS value_interp,
           (n_events = 0) AS was_filled
    FROM anchored
    """,
)
def f16_gapfill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    # f15's treatment: the hourly average is the exact e4 integral average
    # divided by the exact double 10000.0 — same value, but no raw double
    # sum (summation-order-dependent at large group sizes) and no rounded
    # quotient in the lineage; downstream fill logic consumes identical
    # doubles on both engines
    hourly = (
        ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("bucket_hour"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum_e2("value").alias("_sum_e2"),
        )
        .withColumn(
            "avg_value", iavg("_sum_e2", "n_events", 2).cast("double") / F.lit(10000.0)
        )
        .select("event_type", "bucket_hour", "n_events", "avg_value")
    )
    bounds = hourly.groupBy("event_type").agg(
        F.min("bucket_hour").alias("mn"), F.max("bucket_hour").alias("mx")
    )
    spine = bounds.select(
        "event_type",
        F.explode(F.expr("sequence(mn, mx, INTERVAL 1 HOUR)")).alias("bucket_hour"),
    )
    w_idx = W.partitionBy("event_type").orderBy("bucket_hour")
    joined = (
        spine.join(hourly, ["event_type", "bucket_hour"], "left")
        .select(
            "event_type",
            "bucket_hour",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            "avg_value",
        )
        .withColumn("idx", F.row_number().over(w_idx))
    )
    wb = w_idx.rowsBetween(W.unboundedPreceding, W.currentRow)
    wf = w_idx.rowsBetween(W.currentRow, W.unboundedFollowing)
    obs_idx = F.when(F.col("avg_value").isNotNull(), F.col("idx"))
    anchored = joined.select(
        "event_type",
        "bucket_hour",
        "n_events",
        "avg_value",
        "idx",
        F.last("avg_value", ignorenulls=True).over(wb).alias("v_prev"),
        F.last(obs_idx, ignorenulls=True).over(wb).alias("i_prev"),
        F.first("avg_value", ignorenulls=True).over(wf).alias("v_next"),
        F.first(obs_idx, ignorenulls=True).over(wf).alias("i_next"),
    )
    frac = (F.col("idx") - F.col("i_prev")) * F.lit(1.0) / (
        F.col("i_next") - F.col("i_prev")
    )
    interp = (
        F.when(F.col("avg_value").isNotNull(), F.col("avg_value"))
        .when(
            F.col("v_prev").isNotNull() & F.col("v_next").isNotNull(),
            F.col("v_prev") + (F.col("v_next") - F.col("v_prev")) * frac,
        )
        .otherwise(F.lit(None))
    )
    return anchored.select(
        "event_type",
        "bucket_hour",
        "n_events",
        rnd(interp, 6).alias("value_interp"),
        (F.col("n_events") == 0).alias("was_filled"),
    )


# --------------------------------------------------------------------------
# f17 — cross-sectional momentum ranking: each day, rank every instrument
# by its trailing-N-day return (close-to-close), the signal behind
# momentum portfolio construction. Two window families over DIFFERENT
# partitionings: the trailing return partitions by SYMBOL (time series),
# the rank partitions by DAY (cross section) — exactly one exchange each.
# Daily close is arg_max(value, event_id) — exact, no float aggregation.
# NUMERIC DOMAIN (q26/q28's insurance pattern): the trailing
# return is scaled to an e6 BIGINT (floor(x·1e6 + 0.5), half-up) before
# the rank, so the ranked value and the output are exact int64 on both
# engines — nothing the driver hashes for this query transits a float
# rendering. The raw quotient close/lag(close) is bit-deterministic
# (IEEE division of identical raw doubles), so the integer image is too;
# ties then break on symbol for total order.
#
# 100 TB: the daily-close aggregation is the only pass over raw ticks
# (single hash agg, map-side partials); everything after is
# instruments × days. The cross-sectional window's partition count equals
# the number of days — thousands of independent partitions, no global sort.
# --------------------------------------------------------------------------
_MOM_N = 5


@query(
    "f17_cross_sectional_momentum",
    oracle=f"""
    WITH daily AS (
        SELECT event_type AS symbol,
               CAST(date_trunc('day', ts) AS DATE) AS day,
               arg_max(value, event_id) AS close
        FROM events GROUP BY 1, 2
    ),
    mom AS (
        SELECT symbol, day,
               CAST(floor((close / lag(close, {_MOM_N}) OVER w - 1) * 1000000 + 0.5)
                    AS BIGINT) AS mom_ret_e6
        FROM daily
        WINDOW w AS (PARTITION BY symbol ORDER BY day ASC)
        QUALIFY lag(close, {_MOM_N}) OVER w IS NOT NULL AND close IS NOT NULL
    )
    SELECT symbol, day, mom_ret_e6,
           rank() OVER (PARTITION BY day ORDER BY mom_ret_e6 DESC, symbol ASC)
               AS mom_rank,
           CAST(ntile(3) OVER (PARTITION BY day ORDER BY mom_ret_e6 DESC, symbol ASC)
               AS INT) AS tercile
    FROM mom
    """,
)
def f17_cross_sectional_momentum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cross-sectional momentum rank (beyond-reference: the
    reference compares each asset only to its own +N-day price —
    fct_asset_price_comparison.sql:9-32 — never across assets)."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type").alias("symbol"),
        F.date_trunc("day", "ts").cast("date").alias("day"),
    ).agg(F.max_by("value", "event_id").alias("close"))
    w = W.partitionBy("symbol").orderBy(F.asc("day"))
    # F.floor(double) is already LONG on Spark; the oracle needs the explicit
    # BIGINT cast because DuckDB's floor returns DOUBLE
    mom = daily.select(
        "symbol",
        "day",
        F.floor(
            (F.col("close") / F.lag("close", _MOM_N).over(w) - 1) * 1000000 + 0.5
        ).alias("mom_ret_e6"),
    ).filter(F.col("mom_ret_e6").isNotNull())
    xs = W.partitionBy("day").orderBy(F.desc("mom_ret_e6"), F.asc("symbol"))
    return mom.select(
        "symbol",
        "day",
        "mom_ret_e6",
        F.rank().over(xs).alias("mom_rank"),
        F.ntile(3).over(xs).cast("int").alias("tercile"),
    )
