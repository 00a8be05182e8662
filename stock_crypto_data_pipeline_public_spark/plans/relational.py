"""Core relational operators (SURVEY.md §2.2-§2.7) over the test tables.

Each query re-expresses a reference operator pattern idiomatically on Spark
DataFrames, with a DuckDB oracle proving identical semantics. Reference
citations point at the dbt model / script whose operator shape the query
exercises (see SURVEY.md §2 operator IDs in each docstring).

Scale notes (100 TB design):
- Dim joins (`nation`, `region`, `part`, `supplier`) are explicitly
  broadcast — at any scale factor these stay tiny relative to facts.
- Aggregations are expressed as groupBy so Catalyst emits partial (map-side)
  aggregation before the shuffle.
- Windows are always partitioned (never a global ORDER BY window) — SURVEY.md
  §4 flags the reference's global-order window (W5) as a single-partition trap.
- Filters are plain column predicates on scan columns → parquet pushdown.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..scratch import mkscratch, with_scratch
from ..sources.tables import load_table
from ..functions.numeric import (
    RATE,
    dec,
    dsum,
    dsum_e,
    iavg,
    money_sum,
    money_sum_e2,
    oracle_dec,
    oracle_dsum,
    oracle_iavg,
    oracle_money_sum,
    oracle_money_sum_e2,
    rnd,
)
from .registry import query


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# q01 — pricing summary: multi-agg groupBy (A1/A3/P14; TPC-H Q1 shape).
# Reference shape: fct_asset_price_comparison.sql:9-21 daily mean per group;
# semantic_customer_overview.sql:9-19 KPI block.
# --------------------------------------------------------------------------
@query(
    "q01_pricing_summary",
    oracle="""
    WITH a AS (
        SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT)      AS sum_qty_e2,
               CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_base_price_e2,
               CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                             * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))
                             * 10000 AS BIGINT)) AS BIGINT)                                      AS sum_disc_price_e4,
               CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                             * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))
                             * CAST(1 + CAST(l_tax AS DECIMAL(4,2)) AS DECIMAL(4,2))
                             * 1000000 AS BIGINT)) AS BIGINT)                                    AS sum_charge_e6,
               CAST(sum(CAST(CAST(l_discount AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT)      AS sum_disc_e2,
               count(*)                                                                          AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    )
    SELECT l_returnflag, l_linestatus,
           sum_qty_e2, sum_base_price_e2, sum_disc_price_e4, sum_charge_e6,
           CAST((2 * sum_qty_e2 * 100 + count_order) // (2 * count_order) AS BIGINT)        AS avg_qty_e4,
           CAST((2 * sum_base_price_e2 * 100 + count_order) // (2 * count_order) AS BIGINT) AS avg_price_e4,
           CAST((2 * sum_disc_e2 * 100 + count_order) // (2 * count_order) AS BIGINT)       AS avg_disc_e4,
           count_order
    FROM a
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    # NUMERIC DOMAIN: every hashed money output is an exact scaled BIGINT
    # (_e2 = cents, _e4/_e6 = higher-scale decimal grids) — nothing the
    # driver hashes transits DOUBLE (functions/numeric.py policy note;
    # q26's docstring has the cross-engine argument).
    # The decimal expressions are PRE-PROJECTED so each per-row cast/
    # multiply chain evaluates once and the aggregates consume plain
    # attributes (inline trees re-evaluate the shared disc_price chain in
    # every consuming aggregate).
    disc1 = (F.lit(1) - dec("l_discount", RATE)).cast(RATE)
    tax1 = (F.lit(1) + dec("l_tax", RATE)).cast(RATE)
    disc_price = dec("l_extendedprice") * disc1
    pre = li.filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    ).select(
        "l_returnflag",
        "l_linestatus",
        dec("l_quantity").alias("qty_d"),
        dec("l_extendedprice").alias("price_d"),
        dec("l_discount").alias("disc_d"),
        disc_price.alias("disc_price_d"),
        (disc_price * tax1).alias("charge_d"),
    )
    return (
        pre.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum_e(F.col("qty_d"), 2).alias("sum_qty_e2"),
            dsum_e(F.col("price_d"), 2).alias("sum_base_price_e2"),
            dsum_e(F.col("disc_price_d"), 4).alias("sum_disc_price_e4"),
            dsum_e(F.col("charge_d"), 6).alias("sum_charge_e6"),
            dsum_e(F.col("disc_d"), 2).alias("sum_disc_e2"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .withColumn("avg_qty_e4", iavg("sum_qty_e2", "count_order", 2))
        .withColumn("avg_price_e4", iavg("sum_base_price_e2", "count_order", 2))
        .withColumn("avg_disc_e4", iavg("sum_disc_e2", "count_order", 2))
        .select(
            "l_returnflag", "l_linestatus",
            "sum_qty_e2", "sum_base_price_e2", "sum_disc_price_e4",
            "sum_charge_e6", "avg_qty_e4", "avg_price_e4", "avg_disc_e4",
            "count_order",
        )
    )


# --------------------------------------------------------------------------
# q02 — top-revenue orders: multi-way join + top-k (J3/O1).
# Reference shape: fct_transactions.sql:32-42 multi-join;
# warehouse_tools.py:206-207 ORDER BY ... LIMIT n.
# Deterministic top-k: sort key is the EXACT e4-scaled integer revenue
# (exact domain: no hashed/ranked value transits DOUBLE) plus the unique
# orderkey tiebreak, so nothing can flip membership.
# --------------------------------------------------------------------------
@query(
    "q02_top_revenue_orders",
    oracle="""
    SELECT o.o_orderkey, c.c_mktsegment, CAST(o.o_orderdate AS DATE) AS order_date,
           CAST(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(12,2))
                         * CAST(1 - CAST(l.l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))
                         * 10000 AS BIGINT)) AS BIGINT) AS revenue_e4
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY o.o_orderkey, c.c_mktsegment, CAST(o.o_orderdate AS DATE)
    ORDER BY revenue_e4 DESC, o_orderkey ASC
    LIMIT 20
    """,
)
def q02_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    # aggregate-below-join: revenue is per-order and needs only lineitem, so
    # reduce 4 lineitems/order to 1 row BEFORE joining (Catalyst doesn't push
    # aggregates through joins); the oracle's post-join GROUP BY is identical
    # because segment/date are functionally dependent on the order key.
    # The per-row decimal chain is PRE-PROJECTED (q01's treatment) so the
    # cast/multiply tree evaluates in the projection and the aggregate
    # consumes a plain attribute.
    rev = (
        li.select(
            F.col("l_orderkey").alias("o_orderkey"),
            (
                dec("l_extendedprice")
                * (F.lit(1) - dec("l_discount", RATE)).cast(RATE)
            ).alias("disc_price_d"),
        )
        .groupBy("o_orderkey")
        .agg(dsum_e(F.col("disc_price_d"), 4).alias("revenue_e4"))
    )
    return (
        rev.join(orders, "o_orderkey")
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "o_orderkey",
            "c_mktsegment",
            F.col("o_orderdate").cast("date").alias("order_date"),
            "revenue_e4",
        )
        .orderBy(F.desc("revenue_e4"), F.asc("o_orderkey"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# q03 — dim-chain rollup with broadcast joins (J1).
# Reference shape: link/sat joins against small hubs (link_customer_company
# .sql:35-39) — hubs/dims are broadcast-sized at any scale.
# --------------------------------------------------------------------------
@query(
    "q03_region_nation_rollup",
    oracle="""
    WITH a AS (
        SELECT r.r_name, n.n_name,
               count(*) AS n_customers,
               CAST(sum(CAST(CAST(c.c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS total_acctbal_e2
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name, n.n_name
    )
    SELECT r_name, n_name, n_customers, total_acctbal_e2,
           CAST((2 * total_acctbal_e2 * 100 + n_customers) // (2 * n_customers) AS BIGINT) AS avg_acctbal_e4
    FROM a
    """,
)
def q03_region_nation_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pre-project the decimal cast once (q01's treatment): both consuming
    # aggregates then sum the same plain attribute instead of re-evaluating
    # the cast chain per consumer
    cust = _t(spark, sf_dir, "customer").select(
        "c_nationkey", dec("c_acctbal").alias("acctbal_d")
    )
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum_e(F.col("acctbal_d"), 2).alias("total_acctbal_e2"),
        )
        # acctbal can be negative — iavg's trunc-toward-zero division is
        # engine-identical for every sign (numeric.py policy note)
        .withColumn("avg_acctbal_e4", iavg("total_acctbal_e2", "n_customers", 2))
    )


# --------------------------------------------------------------------------
# q04 — left join + coalesce'd aggregates (J4/P5).
# Reference shape: dim_asset.sql:103-105 left-join latest prices onto hub;
# coalesce fallback ephemeral_asset.sql:38.
# --------------------------------------------------------------------------
@query(
    "q04_customer_order_left",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           count(o.o_orderkey)                         AS n_orders,
           coalesce(CAST(sum(CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT),
                    0)                                 AS total_spent_e2
    FROM customer c
    LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey, c.c_name
    """,
)
def q04_customer_order_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(money_sum_e2("o_totalprice"), F.lit(0).cast("bigint")).alias(
                "total_spent_e2"
            ),
        )
    )


# --------------------------------------------------------------------------
# q05 — anti join (J5): customers with no orders.
# Reference shape: incremental NOT-IN / NOT-EXISTS guards (hub_asset.sql:40-43,
# sat_customer_profile.sql:67-74). SURVEY §4: deliberate left_anti, never
# NOT IN (null-hostile).
# --------------------------------------------------------------------------
@query(
    "q05_customers_no_orders",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 250000
    )
    """,
)
def q05_customers_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    big = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 250000)
    return cust.join(big, cust.c_custkey == big.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


# --------------------------------------------------------------------------
# q06 — semi join (EXISTS): customers having a high-value order.
# --------------------------------------------------------------------------
@query(
    "q06_customers_high_value_semi",
    oracle="""
    SELECT c_custkey, c_mktsegment
    FROM customer c
    WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000
    )
    """,
)
def q06_customers_high_value_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    big = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return cust.join(big, cust.c_custkey == big.o_custkey, "left_semi").select(
        "c_custkey", "c_mktsegment"
    )


# --------------------------------------------------------------------------
# q07 — union all + distinct + agg (U1/U2/A7/A8).
# Reference shape: ephemeral_asset.sql:14-56 6-way union all;
# ephemeral_sat_transaction_full.sql:4-6 union distinct.
# unionByName (not positional union) — reference unions always list columns.
# --------------------------------------------------------------------------
@query(
    "q07_union_distinct_keys",
    oracle="""
    SELECT src, count(*) AS n_keys
    FROM (
        SELECT DISTINCT l_orderkey AS order_key, 'returned_line' AS src
        FROM lineitem WHERE l_returnflag = 'R'
        UNION
        SELECT DISTINCT o_orderkey AS order_key, 'open_order' AS src
        FROM orders WHERE o_orderstatus = 'O'
    )
    GROUP BY src
    """,
)
def q07_union_distinct_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    a = (
        li.filter(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("order_key"), F.lit("returned_line").alias("src"))
    )
    b = (
        orders.filter(F.col("o_orderstatus") == "O")
        .select(F.col("o_orderkey").alias("order_key"), F.lit("open_order").alias("src"))
    )
    return a.unionByName(b).distinct().groupBy("src").agg(F.count(F.lit(1)).alias("n_keys"))


# --------------------------------------------------------------------------
# q08 — pivot via conditional aggregation (A2).
# Reference shape: fct_asset_price_comparison.sql:27-32
# (max(case when price_source='BINANCE' ...) per source column).
# Conditional agg (not .pivot()) keeps output column names explicit → oracle
# parity; Catalyst compiles both to the same single-shuffle agg.
# --------------------------------------------------------------------------
@query(
    "q08_priority_pivot_by_year",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT)                                   AS order_year,
           CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'        THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent,
           CAST(sum(CASE WHEN o_orderpriority = '2-HIGH'          THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
           CAST(sum(CASE WHEN o_orderpriority = '3-MEDIUM'        THEN 1 ELSE 0 END) AS BIGINT) AS n_medium,
           CAST(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS n_notspec,
           CAST(sum(CASE WHEN o_orderpriority = '5-LOW'           THEN 1 ELSE 0 END) AS BIGINT) AS n_low
    FROM orders
    GROUP BY CAST(year(o_orderdate) AS INT)
    """,
)
def q08_priority_pivot_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")

    def n(p, alias):
        return F.sum(F.when(F.col("o_orderpriority") == p, 1).otherwise(0)).alias(alias)

    return orders.groupBy(F.year("o_orderdate").cast("int").alias("order_year")).agg(
        n("1-URGENT", "n_urgent"),
        n("2-HIGH", "n_high"),
        n("3-MEDIUM", "n_medium"),
        n("4-NOT SPECIFIED", "n_notspec"),
        n("5-LOW", "n_low"),
    )


# --------------------------------------------------------------------------
# q09 — groupBy max + HAVING (A6): stale suppliers freshness check.
# Reference shape: tests/test_price_data_freshness.sql:4-11.
# --------------------------------------------------------------------------
@query(
    "q09_supplier_staleness",
    oracle="""
    SELECT l_suppkey, l_partkey, CAST(max(l_shipdate) AS DATE) AS last_ship
    FROM lineitem
    GROUP BY l_suppkey, l_partkey
    HAVING max(l_shipdate) < TIMESTAMP '1997-01-01 00:00:00'
    """,
)
def q09_supplier_staleness(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_suppkey", "l_partkey")
        .agg(F.max("l_shipdate").alias("_max_ship"))
        .filter(F.col("_max_ship") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        .select("l_suppkey", "l_partkey", F.col("_max_ship").cast("date").alias("last_ship"))
    )


# --------------------------------------------------------------------------
# q10 — CASE WHEN LIKE categorizer (P6) + agg.
# Reference shape: macros/categorize_news.sql:1-8 keyword categorizer.
# --------------------------------------------------------------------------
@query(
    "q10_part_type_categorizer",
    oracle="""
    SELECT CASE
             WHEN lower(p_type) LIKE '%economy%'  THEN 'Budget'
             WHEN lower(p_type) LIKE '%standard%' THEN 'Mainstream'
             WHEN lower(p_type) LIKE '%promo%'    THEN 'Promotional'
             ELSE 'General'
           END                              AS category,
           count(*)                          AS n_parts,
           CAST((2 * CAST(sum(CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS HUGEINT) * 100
                 + count(*)) // (2 * count(*)) AS BIGINT)       AS avg_price_e4,
           floor((max(p_retailprice)) * 100 + 0.5) / 100.0      AS max_price
    FROM part
    GROUP BY 1
    """,
)
def q10_part_type_categorizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    lt = F.lower(F.col("p_type"))
    cat = (
        F.when(lt.like("%economy%"), "Budget")
        .when(lt.like("%standard%"), "Mainstream")
        .when(lt.like("%promo%"), "Promotional")
        .otherwise("General")
    )
    return (
        part.groupBy(cat.alias("category"))
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            money_sum_e2("p_retailprice").alias("_sum_e2"),
            rnd(F.max("p_retailprice"), 2).alias("max_price"),
        )
        .withColumn("avg_price_e4", iavg("_sum_e2", "n_parts", 2))
        .select("category", "n_parts", "avg_price_e4", "max_price")
    )


# --------------------------------------------------------------------------
# q11 — date-offset self-joins building an event-window grid (J6/P11/P13).
# Reference shape: fct_asset_news_impact.sql:55-88 — daily aggregate joined to
# itself at +1/+3/+7 day offsets, then guarded pct-change.
# The offset joins are equi-joins on (day + INTERVAL n) → shuffle-free after
# the first daily agg when Spark reuses the partitioning; all three joins are
# on the same key domain.
# --------------------------------------------------------------------------
@query(
    "q11_event_impact_grid",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST((2 * CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS HUGEINT) * 100
                     + count(*)) // (2 * count(*)) AS BIGINT) AS avg_value_e4
        FROM events GROUP BY 1
    )
    SELECT d0.day,
           d0.avg_value_e4                                                    AS v0_e4,
           d1.avg_value_e4                                                    AS v1_e4,
           d3.avg_value_e4                                                    AS v3_e4,
           d7.avg_value_e4                                                    AS v7_e4,
           CAST((2 * (d1.avg_value_e4 - d0.avg_value_e4) * 10000 + nullif(d0.avg_value_e4, 0))
                // (2 * nullif(d0.avg_value_e4, 0)) AS BIGINT)                AS chg_1d_e4,
           CAST((2 * (d7.avg_value_e4 - d0.avg_value_e4) * 10000 + nullif(d0.avg_value_e4, 0))
                // (2 * nullif(d0.avg_value_e4, 0)) AS BIGINT)                AS chg_7d_e4
    FROM daily d0
    LEFT JOIN daily d1 ON d1.day = CAST(d0.day + INTERVAL 1 DAY AS DATE)
    LEFT JOIN daily d3 ON d3.day = CAST(d0.day + INTERVAL 3 DAY AS DATE)
    LEFT JOIN daily d7 ON d7.day = CAST(d0.day + INTERVAL 7 DAY AS DATE)
    """,
)
def q11_event_impact_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    # exact domain: the daily average is an e4 BIGINT (iavg), and
    # the guarded pct-changes are e4 BIGINT ratios of those integers —
    # trunc-div identical on both engines, so no value here is a double
    daily = (
        ev.groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(
            money_sum_e2("value").alias("_sum_e2"),
            F.count(F.lit(1)).alias("_n"),
        )
        .withColumn("avg_value_e4", iavg("_sum_e2", "_n", 2))
        .select("day", "avg_value_e4")
    )
    d0 = daily.alias("d0")
    d1 = daily.alias("d1")
    d3 = daily.alias("d3")
    d7 = daily.alias("d7")

    def chg(v: str) -> Column:
        return F.expr(
            f"cast((2 * ({v} - d0.avg_value_e4) * 10000 + nullif(d0.avg_value_e4, 0))"
            f" div (2 * nullif(d0.avg_value_e4, 0)) as bigint)"
        )

    return (
        d0.join(d1, F.col("d1.day") == F.date_add(F.col("d0.day"), 1), "left")
        .join(d3, F.col("d3.day") == F.date_add(F.col("d0.day"), 3), "left")
        .join(d7, F.col("d7.day") == F.date_add(F.col("d0.day"), 7), "left")
        .select(
            F.col("d0.day").alias("day"),
            F.col("d0.avg_value_e4").alias("v0_e4"),
            F.col("d1.avg_value_e4").alias("v1_e4"),
            F.col("d3.avg_value_e4").alias("v3_e4"),
            F.col("d7.avg_value_e4").alias("v7_e4"),
            chg("d1.avg_value_e4").alias("chg_1d_e4"),
            chg("d7.avg_value_e4").alias("chg_7d_e4"),
        )
    )


# --------------------------------------------------------------------------
# q12 — dedup-keep-first window (W1).
# Reference shape: hub_customer.sql:16-32 row_number ... where rn = 1.
# Deterministic tiebreak on event_id (SURVEY §7 flags the reference's
# tie-prone load_timestamp-only ordering).
# --------------------------------------------------------------------------
@query(
    "q12_dedup_keep_first",
    oracle="""
    SELECT event_id, user_id, event_type, floor((value) * 100 + 0.5) / 100.0 AS value
    FROM events
    QUALIFY row_number() OVER (
        PARTITION BY user_id, event_type ORDER BY ts ASC, event_id ASC
    ) = 1
    """,
)
def q12_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy(F.asc("ts"), F.asc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "user_id", "event_type", rnd("value", 2).alias("value"))
    )


# --------------------------------------------------------------------------
# q13 — latest-record-wins window (W2).
# Reference shape: dim_asset.sql:36-39 row_number ... order by observed_at
# desc, load_timestamp desc.
# --------------------------------------------------------------------------
@query(
    "q13_latest_event_per_user",
    oracle="""
    SELECT user_id, event_id AS latest_event_id, event_type AS latest_type,
           floor((value) * 100 + 0.5) / 100.0 AS latest_value
    FROM events
    QUALIFY row_number() OVER (
        PARTITION BY user_id ORDER BY ts DESC, event_id DESC
    ) = 1
    """,
)
def q13_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("latest_event_id"),
            F.col("event_type").alias("latest_type"),
            rnd("value", 2).alias("latest_value"),
        )
    )


# --------------------------------------------------------------------------
# q14 — SCD2 effective ranges via lead() (W3/W4).
# Reference shape: dim_customer_history.sql:28-31,70-73 — effective_to =
# coalesce(lead(load_timestamp), '9999-12-31'), is_current flag.
# Effective bounds are emitted as formatted strings: the 9999-12-31 open-end
# sentinel overflows pandas datetime64[ns] (max 2262) in the driver harness,
# so a timestamp-typed column can never round-trip the comparison.
# --------------------------------------------------------------------------
@query(
    "q14_scd2_user_state",
    oracle="""
    SELECT user_id, event_type AS state,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS effective_from,
           coalesce(strftime(lead(ts) OVER w, '%Y-%m-%d %H:%M:%S.%f'),
                    '9999-12-31 00:00:00.000000') AS effective_to,
           CASE WHEN lead(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_current
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    """,
)
def q14_scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    nxt = F.lead("ts").over(w)
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return ev.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.date_format("ts", fmt).alias("effective_from"),
        F.coalesce(F.date_format(nxt, fmt), F.lit("9999-12-31 00:00:00.000000")).alias(
            "effective_to"
        ),
        F.when(nxt.isNull(), 1).otherwise(0).alias("is_current"),
    )


# --------------------------------------------------------------------------
# q15 — lag deltas / pct change (W5), partitioned (never global-order).
# Reference shape: warehouse_tools.py:337-339 LAG(price) OVER (ORDER BY
# observed_at) — SURVEY §4 requires the partition key here.
# --------------------------------------------------------------------------
@query(
    "q15_event_value_delta",
    oracle="""
    SELECT event_id, user_id,
           floor((value - lag(value) OVER w) * 10000 + 0.5) / 10000.0 AS delta,
           floor(((value - lag(value) OVER w) / nullif(lag(value) OVER w, 0)) * 10000 + 0.5) / 10000.0 AS pct_change
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    """,
)
def q15_event_value_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    prev = F.lag("value").over(w)
    return ev.select(
        "event_id",
        "user_id",
        rnd(F.col("value") - prev, 4).alias("delta"),
        rnd((F.col("value") - prev) / F.nullif(prev, F.lit(0.0)), 4).alias("pct_change"),
    )


# --------------------------------------------------------------------------
# q16 — top-k per group (O1/O3 generalized; reference tail(1) per ticker
# a3_1_stock_yfinance.py:67 is the k=1 case).
# --------------------------------------------------------------------------
@query(
    "q16_topk_events_per_type",
    oracle="""
    SELECT event_type, event_id, user_id, floor((value) * 100 + 0.5) / 100.0 AS value, rk
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY event_type ORDER BY value DESC, event_id ASC
        ) AS rk
        FROM events
    )
    WHERE rk <= 3
    """,
)
def q16_topk_events_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        ev.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("event_type", "event_id", "user_id", rnd("value", 2).alias("value"), "rk")
    )


# --------------------------------------------------------------------------
# q17 — incremental high-water-mark filter via scalar aggregate (P2/A5).
# Reference shape: raw_corporates.sql:23-27 `where load_timestamp >
# (select coalesce(max(load_timestamp),...) from {{ this }})`.
# Expressed as a broadcast cross-join of the 1-row max — fully lazy, no
# driver collect; Catalyst plans it as a broadcast nested loop over 1 row.
# --------------------------------------------------------------------------
@query(
    "q17_incremental_hwm",
    oracle="""
    SELECT o_orderstatus,
           count(*)                       AS n_new_orders,
           CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS new_total_e2
    FROM orders
    WHERE o_orderdate > (SELECT max(o_orderdate) - INTERVAL 180 DAY FROM orders)
    GROUP BY o_orderstatus
    """,
)
def q17_incremental_hwm(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    hwm = orders.agg((F.max("o_orderdate") - F.expr("INTERVAL 180 DAY")).alias("_hwm"))
    return (
        orders.crossJoin(F.broadcast(hwm))
        .filter(F.col("o_orderdate") > F.col("_hwm"))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_new_orders"),
            money_sum_e2("o_totalprice").alias("new_total_e2"),
        )
    )


# --------------------------------------------------------------------------
# q18 — string sanitize / concat / length / like (P4/P7/P15/P17).
# Reference shape: a1_2_news_data_scrapper.py:25-44 sanitizer (lowercase,
# strip markup/quotes); semantic_customer_overview.sql:34-37 name concat.
# --------------------------------------------------------------------------
@query(
    "q18_name_sanitize",
    oracle="""
    SELECT c_custkey,
           regexp_replace(lower(c_name), '[^a-z0-9 ]', ' ', 'g')   AS clean_name,
           length(c_name)                                          AS name_len,
           concat_ws(' | ', upper(c_mktsegment),
                     regexp_replace(lower(c_name), '[^a-z0-9 ]', ' ', 'g')) AS tagged
    FROM customer
    WHERE c_name LIKE 'Customer%' AND length(c_name) >= 10
    """,
)
def q18_name_sanitize(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    clean = F.regexp_replace(F.lower(F.col("c_name")), "[^a-z0-9 ]", " ")
    return cust.filter(
        F.col("c_name").like("Customer%") & (F.length("c_name") >= 10)
    ).select(
        "c_custkey",
        clean.alias("clean_name"),
        F.length("c_name").alias("name_len"),
        F.concat_ws(" | ", F.upper(F.col("c_mktsegment")), clean).alias("tagged"),
    )


# --------------------------------------------------------------------------
# q19 — JSON extraction + safe cast (P18/S13 try-cast semantics).
# Reference shape: a1_4_batch_s3_to_snowflake.py:388-397 TRY_TO_NUMBER etc.;
# events.props carries the flat JSON payload like the Kafka messages
# (kafka_producer.py:287-301).
# --------------------------------------------------------------------------
@query(
    "q19_json_extract_cast",
    oracle="""
    SELECT try_cast(json_extract_string(props, '$.k') AS INT) % 10 AS k_bucket,
           count(*)              AS n,
           CAST((2 * CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS HUGEINT) * 100
                 + count(*)) // (2 * count(*)) AS BIGINT) AS avg_value_e4
    FROM events
    GROUP BY 1
    """,
)
def q19_json_extract_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").try_cast("int")
    return (
        ev.groupBy((k % 10).alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            money_sum_e2("value").alias("_sum_e2"),
        )
        .withColumn("avg_value_e4", iavg("_sum_e2", "n", 2))
        .select("k_bucket", "n", "avg_value_e4")
    )


# --------------------------------------------------------------------------
# q20 — count distinct + exact/approx pairing (A4).
# Reference shape: warehouse_tools.py:296 count(distinct customer_hk).
# The oracle checks the exact countDistinct; the approx variant (the 100 TB
# path) is exercised in tests (approx_count_distinct has no cross-engine
# oracle).
# --------------------------------------------------------------------------
@query(
    "q20_distinct_customers_by_status",
    oracle="""
    SELECT o_orderstatus,
           count(DISTINCT o_custkey) AS n_customers,
           count(*)                  AS n_orders
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def q20_distinct_customers_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# --------------------------------------------------------------------------
# q21 — ROLLUP grouping sets: per (year, priority) plus year subtotals plus
# a grand total in ONE pass. The reference has no grouping sets (SURVEY
# §2.4); at 100 TB this replaces three separate scans+aggregations with one
# shuffle whose map-side partials are shared across grouping levels. NULL
# group keys are projected to 'ALL' labels and disambiguated by explicit
# grouping() flags (int-typed, hash-safe; avoids engine NULL-ordering skew).
# --------------------------------------------------------------------------
@query(
    "q21_priority_rollup",
    oracle="""
    SELECT coalesce(CAST(year(o_orderdate) AS VARCHAR), 'ALL') AS grp_year,
           coalesce(o_orderpriority, 'ALL')                    AS grp_priority,
           CAST(GROUPING(year(o_orderdate)) AS INT)            AS is_year_total,
           CAST(GROUPING(o_orderpriority) AS INT)              AS is_priority_total,
           count(*)                                            AS n_orders,
           CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS total_price_e2
    FROM orders
    GROUP BY ROLLUP(year(o_orderdate), o_orderpriority)
    """,
)
def q21_priority_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("o_year"), "o_orderpriority", "o_totalprice"
    )
    return orders.rollup("o_year", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        money_sum_e2("o_totalprice").alias("total_price_e2"),
        F.grouping("o_year").cast("int").alias("is_year_total"),
        F.grouping("o_orderpriority").cast("int").alias("is_priority_total"),
    ).select(
        F.coalesce(F.col("o_year").cast("string"), F.lit("ALL")).alias("grp_year"),
        F.coalesce("o_orderpriority", F.lit("ALL")).alias("grp_priority"),
        "is_year_total", "is_priority_total", "n_orders", "total_price_e2",
    )


# --------------------------------------------------------------------------
# q22 — CUBE grouping sets (the full lattice q21's ROLLUP only walks one
# path of): all four (status × year) aggregation levels in one pass. Spark
# expands the cube into grouping sets inside a single hash aggregation —
# one scan, one shuffle, NOT four separate group-bys unioned.
# --------------------------------------------------------------------------
@query(
    "q22_status_year_cube",
    oracle="""
    SELECT coalesce(o_orderstatus, 'ALL')                     AS grp_status,
           coalesce(CAST(year(o_orderdate) AS VARCHAR), 'ALL') AS grp_year,
           CAST(GROUPING(o_orderstatus) AS INT)               AS is_status_total,
           CAST(GROUPING(year(o_orderdate)) AS INT)           AS is_year_total,
           count(*)                                           AS n_orders,
           CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS total_price_e2
    FROM orders
    GROUP BY CUBE(o_orderstatus, year(o_orderdate))
    """,
)
def q22_status_year_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderstatus", F.year("o_orderdate").alias("o_year"), "o_totalprice"
    )
    return (
        orders.cube("o_orderstatus", "o_year")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            money_sum_e2("o_totalprice").alias("total_price_e2"),
            F.grouping("o_orderstatus").cast("int").alias("is_status_total"),
            F.grouping("o_year").cast("int").alias("is_year_total"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("grp_status"),
            F.coalesce(F.col("o_year").cast("string"), F.lit("ALL")).alias("grp_year"),
            "is_status_total",
            "is_year_total",
            "n_orders",
            "total_price_e2",
        )
    )


# --------------------------------------------------------------------------
# q23 — unpivot/melt (the inverse of A2's conditional-agg pivot): q08's
# wide (year × priority-count) grid back to long (year, bucket, n) rows
# via the REAL DataFrame.unpivot relational operator — ids stay, value
# columns become (variable, value) pairs. The oracle spells the same
# relation as a 5-way UNION ALL, which is also the logical plan Spark
# lowers Expand/unpivot to — so the gate pins the operator's semantics,
# not a coincidence of output. Unpivot is zero-shuffle (a projection-side
# Expand over the already-aggregated grid); the only exchange is q08's.
# --------------------------------------------------------------------------
@query(
    "q23_priority_unpivot",
    oracle="""
    WITH wide AS (
        SELECT CAST(year(o_orderdate) AS INT) AS order_year,
               CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'        THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent,
               CAST(sum(CASE WHEN o_orderpriority = '2-HIGH'          THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
               CAST(sum(CASE WHEN o_orderpriority = '3-MEDIUM'        THEN 1 ELSE 0 END) AS BIGINT) AS n_medium,
               CAST(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS n_notspec,
               CAST(sum(CASE WHEN o_orderpriority = '5-LOW'           THEN 1 ELSE 0 END) AS BIGINT) AS n_low
        FROM orders GROUP BY 1
    )
    SELECT order_year, 'n_urgent'  AS priority_bucket, n_urgent  AS n FROM wide
    UNION ALL
    SELECT order_year, 'n_high'    AS priority_bucket, n_high    AS n FROM wide
    UNION ALL
    SELECT order_year, 'n_medium'  AS priority_bucket, n_medium  AS n FROM wide
    UNION ALL
    SELECT order_year, 'n_notspec' AS priority_bucket, n_notspec AS n FROM wide
    UNION ALL
    SELECT order_year, 'n_low'     AS priority_bucket, n_low     AS n FROM wide
    """,
)
def q23_priority_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    wide = q08_priority_pivot_by_year(spark, sf_dir)
    return wide.unpivot(
        ids=["order_year"],
        values=["n_urgent", "n_high", "n_medium", "n_notspec", "n_low"],
        variableColumnName="priority_bucket",
        valueColumnName="n",
    )


# --------------------------------------------------------------------------
# q24 — INTERSECT / EXCEPT set semantics (completing the §2.7 set-operator
# family beyond U1–U3's unions): customers who ordered in BOTH 1996 and
# 1997 (intersect) and those who ordered in 1996 but never again
# (except), labeled and unioned into one result. Spark lowers
# intersect/exceptAll to left-semi/left-anti joins after aggregation —
# the same plan a hand-written semi/anti join would get — so the shuffle
# is one hash exchange per side on the already-projected key.
# --------------------------------------------------------------------------
@query(
    "q24_customer_set_ops",
    oracle="""
    WITH y96 AS (
        SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996
    ),
    y97 AS (
        SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1997
    ),
    both_years AS (SELECT o_custkey FROM y96 INTERSECT SELECT o_custkey FROM y97),
    churned AS (SELECT o_custkey FROM y96 EXCEPT SELECT o_custkey FROM y97)
    SELECT o_custkey AS custkey, 'retained' AS cohort FROM both_years
    UNION ALL
    SELECT o_custkey AS custkey, 'churned'  AS cohort FROM churned
    """,
)
def q24_customer_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    y96 = (
        orders.filter(F.year("o_orderdate") == 1996)
        .select(F.col("o_custkey").alias("custkey"))
        .distinct()
    )
    y97 = (
        orders.filter(F.year("o_orderdate") == 1997)
        .select(F.col("o_custkey").alias("custkey"))
        .distinct()
    )
    retained = y96.intersect(y97).select("custkey", F.lit("retained").alias("cohort"))
    churned = y96.exceptAll(y97).select("custkey", F.lit("churned").alias("cohort"))
    return retained.unionByName(churned)


# --------------------------------------------------------------------------
# q25 — ranking-function family (completing §2.5 windows beyond
# row_number/lag/lead): per-nation customer activity ranked with ntile
# quartiles, percent_rank, cume_dist, rank and dense_rank in one pass.
# Two window specs share ONE partitioning (c_nationkey) and therefore one
# exchange + one sort: ntile/percent_rank/cume_dist need a TOTAL order
# (ties would make bucket assignment engine-dependent), so they order by
# (n_orders DESC, custkey ASC) — unique; rank/dense_rank deliberately
# order by n_orders alone so ties produce the gap/no-gap semantics the
# functions exist for (their output depends only on n_orders, so it is
# deterministic). percent_rank/cume_dist are exact integer ratios
# ((pos-1)/(n-1), pos/n) evaluated as double division of identical ints on
# both engines — bit-equal, rnd(6) is belt-and-braces. Windows are always
# nation-partitioned: no global-order single-partition trap at 100 TB.
# --------------------------------------------------------------------------
@query(
    "q25_customer_rank_family",
    oracle="""
    WITH activity AS (
        SELECT o.o_custkey AS custkey,
               c.c_nationkey AS nationkey,
               count(*) AS n_orders
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    )
    SELECT custkey, nationkey, n_orders,
           CAST(ntile(4) OVER w_total AS INT)                          AS spend_quartile,
           floor((percent_rank() OVER w_total) * 1000000 + 0.5) / 1000000.0 AS pct_rank,
           floor((cume_dist()    OVER w_total) * 1000000 + 0.5) / 1000000.0 AS cume,
           rank()       OVER w_ties AS rnk,
           dense_rank() OVER w_ties AS drnk
    FROM activity
    WINDOW w_total AS (PARTITION BY nationkey ORDER BY n_orders DESC, custkey ASC),
           w_ties  AS (PARTITION BY nationkey ORDER BY n_orders DESC)
    """,
)
def q25_customer_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    activity = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .groupBy(
            F.col("o_custkey").alias("custkey"),
            F.col("c_nationkey").alias("nationkey"),
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    w_total = W.partitionBy("nationkey").orderBy(
        F.desc("n_orders"), F.asc("custkey")
    )
    w_ties = W.partitionBy("nationkey").orderBy(F.desc("n_orders"))
    return activity.select(
        "custkey",
        "nationkey",
        "n_orders",
        F.ntile(4).over(w_total).cast("int").alias("spend_quartile"),
        rnd(F.percent_rank().over(w_total), 6).alias("pct_rank"),
        rnd(F.cume_dist().over(w_total), 6).alias("cume"),
        F.rank().over(w_ties).alias("rnk"),
        F.dense_rank().over(w_ties).alias("drnk"),
    )


# --------------------------------------------------------------------------
# q26 — the SQL FRONT-END as a gated surface: every other query builds its
# plan through the DataFrame API; this one is a single spark.sql() text
# (CTE + 3-way join + agg + ranking window) over temp views, so the SQL
# parser/analyzer path a BI user hits is value-hash-pinned too, not just
# the DataFrame builders. Same plan discipline as the DataFrame twins:
# revenue aggregates below the join output, the nation dim broadcasts
# (AQE sees the tiny build side), the ranking window partitions by year.
#
# NUMERIC DOMAIN: revenue never transits DOUBLE. A float SUM is
# order-dependent, and even a DECIMAL-exact sum whose *double image* feeds
# a rank is not driver-portable (driver-red while every local mirror
# passed — the decimal→double cast or the float renderer diverges
# somewhere in the driver's pipeline in a way no local signal
# reproduces). So: the per-row revenue term
# l_extendedprice·(1−l_discount) — exact on a 1e-4 grid (2-dp money ×
# 2-dp rate) — is scaled to an e4 BIGINT *before* the sum, the sum is a
# plain long sum, the rank orders the exact integer, and the output IS
# the integer (`revenue_e4`, revenue × 10000). Nation name breaks ties.
# Every value the driver hashes for this query is int64 on both engines.
# The outer CAST on the sum is for DuckDB, whose sum(BIGINT) → HUGEINT
# (pandas float64); Spark's sum(bigint) is already bigint. The per-row
# DECIMAL(17,4)·10000 product is integral, so the BIGINT cast is exact in
# both engines (Spark truncates, DuckDB rounds — identical on integers).
# 100 TB note: an e4-scaled int64 group sum holds to $9.2e14 per
# (nation, year); beyond that, sum the DECIMAL and scale after.
# --------------------------------------------------------------------------
_Q26_SQL = """
    WITH revenue AS (
        SELECT n.n_name AS nation,
               year(o.o_orderdate) AS order_year,
               CAST(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(12,2))
                             * CAST(1 - CAST(l.l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))
                             * 10000 AS BIGINT)) AS BIGINT) AS revenue_e4
        FROM {li} l
        JOIN {orders} o ON l.l_orderkey = o.o_orderkey
        JOIN {cust} c ON o.o_custkey = c.c_custkey
        JOIN {nation} n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2
    )
    SELECT nation, order_year, revenue_e4,
           rank() OVER (
               PARTITION BY order_year ORDER BY revenue_e4 DESC, nation ASC
           ) AS rev_rank
    FROM revenue
"""


@query(
    "q26_sql_api_nation_revenue",
    oracle=_Q26_SQL.format(
        li="lineitem", orders="orders", cust="customer", nation="nation"
    ),
)
def q26_sql_api_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    for t in ("lineitem", "orders", "customer", "nation"):
        _t(spark, sf_dir, t).createOrReplaceTempView(f"q26_{t}")
    return spark.sql(
        _Q26_SQL.format(
            li="q26_lineitem",
            orders="q26_orders",
            cust="q26_customer",
            nation="q26_nation",
        )
    )


# --------------------------------------------------------------------------
# q27 — explicit GROUPING SETS (the general form q21's ROLLUP and q22's
# CUBE are special cases of): an arbitrary, non-lattice set list —
# (status, year), (status, priority), (status) — that neither rollup nor
# cube can spell, through the Spark 4 DataFrame.groupingSets API, plus the
# composite GROUPING_ID bitmask (grouping() per column only identifies one
# dimension at a time; grouping_id() names the whole set). One scan, one
# Expand, ONE hash aggregation for all three levels — the same single-
# shuffle shape as q22, not three group-bys unioned.
# --------------------------------------------------------------------------
@query(
    "q27_status_grouping_sets",
    oracle="""
    SELECT coalesce(o_orderstatus, 'ALL')                       AS grp_status,
           coalesce(CAST(year(o_orderdate) AS VARCHAR), 'ALL')  AS grp_year,
           coalesce(o_orderpriority, 'ALL')                     AS grp_priority,
           CAST(GROUPING(o_orderstatus, year(o_orderdate), o_orderpriority) AS BIGINT)
                                                                AS set_id,
           count(*)                                             AS n_orders,
           CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS total_price_e2
    FROM orders
    GROUP BY GROUPING SETS (
        (o_orderstatus, year(o_orderdate)),
        (o_orderstatus, o_orderpriority),
        (o_orderstatus)
    )
    """,
)
def q27_status_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderstatus",
        F.year("o_orderdate").alias("o_year"),
        "o_orderpriority",
        "o_totalprice",
    )
    return (
        orders.groupingSets(
            [
                ["o_orderstatus", "o_year"],
                ["o_orderstatus", "o_orderpriority"],
                ["o_orderstatus"],
            ],
            "o_orderstatus",
            "o_year",
            "o_orderpriority",
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            money_sum_e2("o_totalprice").alias("total_price_e2"),
            F.grouping_id().cast("bigint").alias("set_id"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("grp_status"),
            F.coalesce(F.col("o_year").cast("string"), F.lit("ALL")).alias("grp_year"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("grp_priority"),
            "set_id",
            "n_orders",
            "total_price_e2",
        )
    )


# --------------------------------------------------------------------------
# q28 — CORRELATED SCALAR SUBQUERY: orders priced above their own
# customer's average order value, with the subquery appearing in both the
# projection and the WHERE clause — the classic analyst form Catalyst must
# DECORRELATE (RewriteCorrelatedScalarSubquery turns it into one aggregate
# over orders + one equi-join; `.explain` shows no per-row subquery
# execution, and both subquery instances share the same decorrelated
# aggregate). Driven through spark.sql like q26 so the analyzer's subquery
# path is the surface under test.
#
# NUMERIC DOMAIN (same reasoning as q26): nothing here transits DOUBLE —
# the driver was red on the floor(CAST(decimal AS DOUBLE)/count·1e4+0.5)
# pipeline while every local mirror passed, so the comparison AND the
# output live entirely in BIGINT.
# Each price is scaled to an exact e4 integer (2-dp grid × 10000 is
# integral, so the BIGINT cast is exact in both engines); the
# per-customer average is rounded half-up to e4 units with PURE INTEGER
# arithmetic: (2·Σprice_e4 + n) intdiv (2n) — for non-negative operands
# Spark's `DIV` (truncating) and DuckDB's `//` (flooring) agree, which is
# the one spelling difference between the two templates. The WHERE then
# compares int64 > int64. Single-order customers: price_e4 > its own
# exact average → false identically on both engines.
#
# 100 TB: decorrelation means ONE map-side-partial hash aggregation over
# orders + ONE shuffle join on o_custkey — the same cost as writing the
# groupBy+join by hand; nothing per-row, nothing recursive. 2·Σprice_e4
# holds to $4.6e14 per customer in int64 — far beyond any real key.
# --------------------------------------------------------------------------
_Q28_SQL = """
    SELECT o.o_orderkey,
           o.o_custkey,
           CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 10000 AS BIGINT)
               AS price_e4,
           (SELECT (2 * CAST(sum(CAST(CAST(i.o_totalprice AS DECIMAL(12,2))
                                      * 10000 AS BIGINT)) AS BIGINT)
                    + count(*)) {div} (2 * count(*))
            FROM {orders} i WHERE i.o_custkey = o.o_custkey) AS cust_avg_e4
    FROM {orders} o
    WHERE CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 10000 AS BIGINT) >
          (SELECT (2 * CAST(sum(CAST(CAST(i.o_totalprice AS DECIMAL(12,2))
                                     * 10000 AS BIGINT)) AS BIGINT)
                   + count(*)) {div} (2 * count(*))
           FROM {orders} i WHERE i.o_custkey = o.o_custkey)
"""


@query(
    "q28_orders_above_customer_avg",
    # DuckDB HUGEINT note: sum(BIGINT) → HUGEINT, and HUGEINT // BIGINT is
    # HUGEINT (pandas float64) — the inner CAST(sum(..) AS BIGINT) keeps the
    # whole quotient in int64 on both engines.
    oracle=_Q28_SQL.format(orders="orders", div="//"),
)
def q28_orders_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders").createOrReplaceTempView("q28_orders")
    return spark.sql(_Q28_SQL.format(orders="q28_orders", div="DIV"))


# --------------------------------------------------------------------------
# q30 — NATIVE DataFrame.pivot (q08 is the hand-written conditional-agg
# twin; this gates the pivot OPERATOR itself). Pivot values are passed
# EXPLICITLY — without them Spark runs an extra distinct-scan job over the
# pivot column to discover values, a hidden full pass that matters at
# 100 TB (and makes the output schema data-dependent; explicit values pin
# it). One scan, one hash aggregation — Catalyst lowers pivot to exactly
# q08's conditional-aggregate plan, which the shared oracle shape proves.
# Empty (year, status) cells stay NULL on both engines (sum over no rows).
# --------------------------------------------------------------------------
@query(
    "q30_native_pivot_status_totals",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS order_year,
           CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) FILTER (o_orderstatus = 'F') AS BIGINT) AS total_f_e2,
           CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) FILTER (o_orderstatus = 'O') AS BIGINT) AS total_o_e2,
           CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) FILTER (o_orderstatus = 'P') AS BIGINT) AS total_p_e2
    FROM orders
    GROUP BY 1
    """,
)
def q30_native_pivot_status_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.year("o_orderdate").cast("int").alias("order_year"))
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(money_sum_e2("o_totalprice"))
        .withColumnsRenamed({"F": "total_f_e2", "O": "total_o_e2", "P": "total_p_e2"})
    )


# --------------------------------------------------------------------------
# q29 — RANGE window frame: each order's trailing-30-day spend for its
# customer — RANGE BETWEEN 29 PRECEDING AND CURRENT ROW over the order
# date as an integer day index. The semantic ROWS frames cannot express:
# same-day orders are PEERS (every one of them sees the full same-day
# total regardless of intra-day order), and calendar gaps shrink the frame
# instead of reaching back a fixed row count. Nothing else in the registry
# exercised range frames; this pins them cross-engine. The day index is
# exact integer arithmetic on both sides; the spend sum is rounded to 2 dp
# (float summation-order noise ~1e-10 against a 0.005 rounding grid).
#
# 100 TB: partitions by customer — millions of independent partitions, one
# exchange + one sort; the range frame is the streaming sliding-window
# evaluation, O(rows) per partition, no self-join spine.
# --------------------------------------------------------------------------
@query(
    "q29_rolling_30d_customer_spend",
    oracle="""
    WITH o AS (
        SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice,
               CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
                   AS day_idx
        FROM orders
    )
    SELECT o_orderkey, o_custkey, o_orderdate,
           CAST(count(*) OVER w AS BIGINT) AS n_orders_30d,
           CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) OVER w AS BIGINT) AS spend_30d_e2
    FROM o
    WINDOW w AS (PARTITION BY o_custkey ORDER BY day_idx ASC
                 RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)
    """,
)
def q29_rolling_30d_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        "o_totalprice",
        F.unix_date(F.col("o_orderdate").cast("date")).cast("bigint").alias("day_idx"),
    )
    w = (
        W.partitionBy("o_custkey")
        .orderBy(F.asc("day_idx"))
        .rangeBetween(-29, W.currentRow)
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.count(F.lit(1)).over(w).alias("n_orders_30d"),
        F.sum((dec("o_totalprice") * F.lit(100)).cast("bigint"))
        .over(w)
        .cast("bigint")
        .alias("spend_30d_e2"),
    )


# --------------------------------------------------------------------------
# q31 — the dbt generic-test suite as a GATED artifact: unique / not_null /
# accepted_values / relationships (quality.py's helpers — the reference's
# sources.yml + schema.yml test blocks) run over the warehouse tables and
# land as one summary row per check, so the quality run itself is
# cross-engine verifiable, not just executable. Each check is a scalar
# aggregate over its violation set; the FK checks are left-anti joins
# (never NOT IN — J5's NULL trap); the 6-row report assembles via unions
# of 1-row aggregates.
#
# 100 TB: each check is one scan + one (or zero) shuffle — the unique
# check's groupBy carries map-side partials, the anti-joins broadcast the
# distinct key side when small and shuffle-join otherwise; checks share
# nothing so the scheduler runs them concurrently.
# --------------------------------------------------------------------------
@query(
    "q31_data_quality_summary",
    oracle="""
    SELECT 'unique' AS check_name, 'orders.o_orderkey' AS target,
           (SELECT CAST(coalesce(sum(n - 1), 0) AS BIGINT) FROM (
               SELECT count(*) AS n FROM orders GROUP BY o_orderkey HAVING count(*) > 1
           )) AS n_violations
    UNION ALL
    SELECT 'not_null', 'orders.o_custkey',
           (SELECT CAST(count(*) AS BIGINT) FROM orders WHERE o_custkey IS NULL)
    UNION ALL
    SELECT 'accepted_values', 'orders.o_orderstatus',
           (SELECT CAST(count(*) AS BIGINT) FROM orders
            WHERE o_orderstatus NOT IN ('O', 'F', 'P') AND o_orderstatus IS NOT NULL)
    UNION ALL
    SELECT 'relationships', 'orders.o_custkey -> customer',
           (SELECT CAST(count(*) AS BIGINT) FROM orders o
            WHERE o.o_custkey IS NOT NULL
              AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
    UNION ALL
    SELECT 'relationships', 'lineitem.l_orderkey -> orders',
           (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
            WHERE l.l_orderkey IS NOT NULL
              AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
    UNION ALL
    SELECT 'accepted_values', 'lineitem.l_returnflag',
           (SELECT CAST(count(*) AS BIGINT) FROM lineitem
            WHERE l_returnflag NOT IN ('A', 'N', 'R') AND l_returnflag IS NOT NULL)
    """,
)
def q31_data_quality_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .. import quality as Q

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    li = _t(spark, sf_dir, "lineitem")

    def row(check: str, target: str, viol: DataFrame, extra=None) -> DataFrame:
        agg = (
            viol.agg(F.coalesce(F.sum(extra), F.lit(0)).alias("n_violations"))
            if extra is not None
            else viol.agg(F.count(F.lit(1)).alias("n_violations"))
        )
        return agg.select(
            F.lit(check).alias("check_name"),
            F.lit(target).alias("target"),
            F.col("n_violations").cast("bigint").alias("n_violations"),
        )

    rows = [
        # duplicate keys counted as (multiplicity - 1), matching the oracle
        row(
            "unique", "orders.o_orderkey",
            Q.unique(orders, ["o_orderkey"]), extra=F.col("n") - 1,
        ),
        row("not_null", "orders.o_custkey", Q.not_null(orders, ["o_custkey"])),
        row(
            "accepted_values", "orders.o_orderstatus",
            Q.accepted_values(orders, "o_orderstatus", ["O", "F", "P"]),
        ),
        row(
            "relationships", "orders.o_custkey -> customer",
            Q.relationships(orders, "o_custkey", cust.withColumnRenamed("c_custkey", "o_custkey"), "o_custkey"),
        ),
        row(
            "relationships", "lineitem.l_orderkey -> orders",
            Q.relationships(li, "l_orderkey", orders.withColumnRenamed("o_orderkey", "l_orderkey"), "l_orderkey"),
        ),
        row(
            "accepted_values", "lineitem.l_returnflag",
            Q.accepted_values(li, "l_returnflag", ["A", "N", "R"]),
        ),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


# --------------------------------------------------------------------------
# q32 — Spark 4 VARIANT semi-structured path: `parse_json` → binary
# variant → typed `try_variant_get` extraction, aggregated per event
# type. q19/f02 read JSON through string functions (get_json_object);
# this gates the VARIANT encoding itself — the Spark 4 answer to
# schema-on-read (the open-format twin of Snowflake's VARIANT, the
# reference's warehouse type for raw JSON payloads). Missing paths
# surface as NULL through try_variant_get (counted, not thrown — ANSI
# mode stays on); the typed getter yields a BIGINT that aggregates
# without a cast chain. At scale the variant binary is columnar-shredded
# by the parquet writer, so `$.k`-only readers don't parse full JSON.
# --------------------------------------------------------------------------
@query(
    "q32_variant_props_stats",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT)                           AS n_events,
           CAST(sum(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
                                                              AS total_k,
           CAST((2 * sum(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) * 10000
                 + count(*)) // (2 * count(*)) AS BIGINT)     AS avg_k_e4,
           CAST(count(*) FILTER (TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
                                 IS NULL)
                AS BIGINT)                                    AS n_missing_k,
           CAST(count(*) FILTER (json_extract_string(props, '$.absent') IS NULL)
                AS BIGINT)                                    AS n_missing_absent
    FROM events
    GROUP BY event_type
    """,
)
def q32_variant_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    v = ev.select(
        "event_type",
        F.parse_json("props").alias("v"),
    ).select(
        "event_type",
        F.try_variant_get("v", "$.k", "bigint").alias("k"),
        F.try_variant_get("v", "$.absent", "string").alias("absent"),
    )
    return v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("k").alias("total_k"),
        iavg("sum(k)", "count(1)", 4).alias("avg_k_e4"),
        F.count(F.when(F.col("k").isNull(), 1)).alias("n_missing_k"),
        F.count(F.when(F.col("absent").isNull(), 1)).alias("n_missing_absent"),
    )


# --------------------------------------------------------------------------
# q33 — correlated LATERAL join (ANSI lateral derived table): top-2 orders
# per customer written the way an analyst writes it — `FROM customer,
# LATERAL (SELECT ... WHERE o_custkey = c_custkey ORDER BY ... LIMIT 2)` —
# through spark.sql, so the surface under test is Catalyst's lateral-join
# DECORRELATION (DecorrelateLateralSubquery): the naive reading is one
# subquery execution per outer row (O(customers) scans — death at any
# scale); the rewrite the gate pins produces ONE join + per-key limit over
# a single orders scan. The identical SQL text runs on DuckDB (which has
# native LATERAL). q28 gates the scalar-subquery decorrelation path; this
# gates the table-valued one — together they cover the two correlated
# shapes the reference's ad-hoc SQL surface (warehouse_tools.py) accepts
# from users. Deterministic: ORDER BY o_totalprice DESC, o_orderkey ASC
# inside the lateral body (totalprice ties broken by the unique key).
# --------------------------------------------------------------------------
_Q33_SQL = """
    SELECT c.c_custkey,
           c.c_mktsegment,
           t.o_orderkey,
           t.o_totalprice,
           t.rk
    FROM {cust} c,
    LATERAL (
        SELECT o_orderkey, o_totalprice,
               CAST(row_number() OVER (
                   ORDER BY o_totalprice DESC, o_orderkey ASC
               ) AS INT) AS rk
        FROM {orders} o
        WHERE o.o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey ASC
        LIMIT 2
    ) t
"""


@query(
    "q33_lateral_top_orders",
    oracle=_Q33_SQL.format(cust="customer", orders="orders"),
)
def q33_lateral_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    for t in ("customer", "orders"):
        _t(spark, sf_dir, t).createOrReplaceTempView(f"q33_{t}")
    return spark.sql(_Q33_SQL.format(cust="q33_customer", orders="q33_orders"))


# --------------------------------------------------------------------------
# q34 — Bloom-filter semi join as a GATED surface (operators/bloomprune):
# lineitems of
# urgent-priority orders through bloom_semi_join. The operator's contract
# is EXACTNESS — the bloom bitset prunes the probe map-side (no false
# negatives, property-tested) and the trailing left_semi collapses the
# false-positive tail — so the oracle is the plain semi join, and any
# hash-position bug, bitset-word slip, or coalesce-miss in the probe path
# breaks the driver hash. Totals aggregate in DECIMAL per the money
# policy.
# 100 TB: this is THE shape for a filter side too big to broadcast — the
# bitset (16 MB at 2^27 bits) broadcasts where a 100M-key hash relation
# cannot, so non-matching probe rows die before the shuffle instead of
# paying a corpus-sized exchange (Spark's own runtime bloom filter plans
# the same thing in the narrow cases the optimizer recognizes).
# --------------------------------------------------------------------------
@query(
    "q34_bloom_semi_urgent_lineitems",
    oracle="""
    SELECT l.l_returnflag,
           count(*) AS n_items,
           CAST(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT)
               AS total_price_e2
    FROM lineitem l
    WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_orderkey = l.l_orderkey AND o.o_orderpriority = '1-URGENT'
    )
    GROUP BY l.l_returnflag
    """,
)
def q34_bloom_semi_urgent_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bloomprune import bloom_semi_join

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("orderkey"), "l_returnflag", "l_extendedprice"
    )
    urgent = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("orderkey"))
    )
    matched = bloom_semi_join(li, urgent, "orderkey")
    return matched.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        money_sum_e2("l_extendedprice").alias("total_price_e2"),
    )


# --------------------------------------------------------------------------
# q35 — salted two-phase aggregation as a GATED surface (operators/skew.
# salted_agg): per-status order totals through the
# hot-key mitigation path. The operator's contract is EXACTNESS for
# decomposable aggregates — phase 1 pre-aggregates on (keys, salt), phase
# 2 merges partials — so the plain GROUP BY is the oracle, and a wrong
# merge function (count merged by count instead of sum is the classic
# bug), a salt leak into the output, or a dropped partial breaks the
# driver hash. The money sum rides the DECIMAL policy, which is also what
# makes a SALTED sum gateable at all: the two-phase plan changes
# summation order by design, and decimal addition is the reason the
# result cannot change with it.
# 100 TB: o_orderstatus has 3 values over ~1.5e11 orders — the textbook
# hot-key shape where a single-phase hash agg leaves 3 reducers doing all
# the work; the salt spreads each status over 16 tasks and the second
# shuffle carries 48 rows.
# --------------------------------------------------------------------------
@query(
    "q35_salted_status_totals",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n_orders,
           CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT)
               AS total_price_e2,
           max(o_totalprice) AS max_price
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def q35_salted_status_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_agg

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderstatus", dec("o_totalprice").alias("price_d"), "o_totalprice"
    )
    agg = salted_agg(
        orders,
        ["o_orderstatus"],
        {
            "n_orders": ("*", "count"),
            "total_d": ("price_d", "sum"),
            "max_price": ("o_totalprice", "max"),
        },
        salt_buckets=16,
    )
    # total_d is the exact decimal partial-merge sum; ×100 is integral, so
    # the BIGINT image is exact — the salted two-phase plan re-orders
    # partials by design, and the integer output cannot see it
    return agg.select(
        "o_orderstatus",
        "n_orders",
        (F.col("total_d") * F.lit(100)).cast("bigint").alias("total_price_e2"),
        "max_price",
    )


# --------------------------------------------------------------------------
# q36 — salted equi-join as a GATED surface (operators/skew.salted_join):
# lineitem (large, skewed side, salted) joined to
# orders (replicated once per salt value) then rolled up per priority.
# Exactness contract: salting only spreads rows across reducers — the
# joined multiset is identical — so the plain join is the oracle; a
# replication bug (a right row lost for one salt value, or duplicated
# across salts) shifts counts/sums and breaks the hash. Money sum in
# DECIMAL (the salted plan re-orders partials by design).
# 100 TB: the shape for a hot join key when the right side is too big to
# broadcast and AQE's skew split isn't available (e.g. bucketed inputs);
# cost = right side materialized salt_buckets times, so the bucket count
# comes from diagnose_skew, not a default.
# --------------------------------------------------------------------------
@query(
    "q36_salted_join_priority_rollup",
    oracle="""
    SELECT o.o_orderpriority,
           count(*) AS n_items,
           CAST(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT)
               AS total_price_e2
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def q36_salted_join_priority_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_join

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("orderkey"), dec("l_extendedprice").alias("price_d")
    )
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("orderkey"), "o_orderpriority"
    )
    joined = salted_join(li, orders, ["orderkey"], salt_buckets=8, how="inner")
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        dsum_e(F.col("price_d"), 2).alias("total_price_e2"),
    )


# --------------------------------------------------------------------------
# q37 — NATIVE recursive CTE (Spark 4's WITH RECURSIVE / UnionLoop
# execution — the engine surface behind org-chart, BOM-explosion, and
# folder-containment closures that the reference's warehouse runs via
# Snowflake recursive CTEs): every customer walks a synthetic reporting
# chain anc -> anc div 10 up to the root, emitting (custkey, anc, depth)
# per level; the rollup gates the full closure — depth-to-root, the chain
# ancestor-key sum, and the level-1 manager — per customer.
# Spark's recursion supports UNION ALL only (no fixpoint dedup yet:
# UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE, checked when this was written),
# so the walk is ACYCLIC BY CONSTRUCTION: the parent key strictly
# decreases until 0, bounding depth at ~log10(max key) — the same
# guarantee a real org hierarchy carries. Cyclic reachability stays on
# g03's frontier BFS (anti-join dedup per level), which is the form that
# scales to graphs; this gates the SQL-surface twin.
# 100 TB: each UnionLoop step is a map-only project+filter over the
# previous level (no shuffle inside the loop — one hash agg at the end);
# depth log10(N) means 12 iterations at a trillion keys.
# --------------------------------------------------------------------------
_Q37_SQL = """
WITH RECURSIVE chain (custkey, anc, depth) AS (
    SELECT c_custkey, c_custkey, 0 FROM {cust}
    UNION ALL
    SELECT custkey, CAST(anc {div} 10 AS BIGINT), depth + 1 FROM chain WHERE anc > 0
)
SELECT custkey,
       CAST(max(depth) AS INT)                          AS depth_to_root,
       CAST(sum(anc) AS BIGINT)                         AS ancestor_key_sum,
       CAST(max(CASE WHEN depth = 1 THEN anc END) AS BIGINT) AS manager_key
FROM chain
GROUP BY custkey
"""


@query(
    "q37_recursive_org_chain",
    oracle=_Q37_SQL.format(cust="customer", div="//"),
)
def q37_recursive_org_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "customer").createOrReplaceTempView("q37_customer")
    return spark.sql(_Q37_SQL.format(cust="q37_customer", div="div"))


# --------------------------------------------------------------------------
# q38 — co-bucketed join as a GATED surface (catalog.materialize_bucketed —
# §2.11's write-path bucketing): orders and lineitem materialize as
# EXTERNAL bucketed tables (same key, same bucket count) inside the query,
# join bucket-to-bucket, and roll up per (priority, returnflag). The
# operator's contract is EXACTNESS — bucketing only pre-partitions rows,
# the joined multiset is identical — so the plain join is the oracle, and
# a bucket-hash drift, a dropped bucket file, or a catalog bucket-spec
# mismatch shifts counts/sums and breaks the driver hash. The no-shuffle
# property stays pinned by tests/test_bucketed_tables.py
# (both-sides-bucketed join plans zero Exchange); money totals ride the
# decimal policy.
# 100 TB: THE repeated-fact-join shape — the shuffle of the big sides is
# paid ONCE at write; every subsequent join on the bucket key plans
# shuffle-free regardless of query count. Bucket count scales with data
# (8 here ≈ gate-volume sizing; production uses O(cluster cores)).
# --------------------------------------------------------------------------
@query(
    "q38_cobucketed_join_rollup",
    oracle="""
    SELECT o.o_orderpriority,
           l.l_returnflag,
           count(*) AS n_items,
           CAST(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT)
               AS total_price_e2
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1, 2
    """,
)
def q38_cobucketed_join_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from .. import catalog

    base = mkscratch("q38_bucketed_")
    try:
        orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
        li = _t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_returnflag", dec("l_extendedprice").alias("price_d")
        )
        ot = catalog.materialize_bucketed(
            spark, orders, "q38_orders", ["o_orderkey"],
            n_buckets=8, sort_cols=["o_orderkey"], path=f"{base}/orders",
        )
        lt = catalog.materialize_bucketed(
            spark, li, "q38_lineitem", ["l_orderkey"],
            n_buckets=8, sort_cols=["l_orderkey"], path=f"{base}/lineitem",
        )
        joined = spark.table(lt).join(
            spark.table(ot),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        out = joined.groupBy("o_orderpriority", "l_returnflag").agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum_e(F.col("price_d"), 2).alias("total_price_e2"),
        )
        return out.localCheckpoint(eager=True)  # materialize before cleanup
    finally:
        for t in ("q38_orders", "q38_lineitem"):
            try:
                spark.sql(f"DROP TABLE IF EXISTS market.`{t}`")
            except Exception:
                pass  # cleanup must not mask the query's own failure
        shutil.rmtree(base, ignore_errors=True)


# --------------------------------------------------------------------------
# q39 — small-file compaction as a GATED surface (operators/maintenance.
# compact_table — §2.11's write-path maintenance):
# the events table lands as 32 deliberately-small files, compacts through
# the atomic staging-swap rewrite (with a range-sorted layout on ts), and
# the read-back rolls up per event_type. The operator's contract is
# EXACTNESS — compaction rewrites layout, never data — so the plain
# aggregation over the source is the oracle: a dropped file, a duplicated
# file during the swap window, or a sort-rewrite row loss all shift
# n/sum and break the driver hash; the file-count contract (fewer files
# after, and exactly ceil(bytes/target)=1 here) gates alongside as
# literal-TRUE booleans.
# 100 TB: streaming/incremental ingest fragments tables (one file per
# micro-batch per partition); periodic compaction is what keeps scan task
# counts and parquet footer overhead bounded, and the atomic swap is why
# readers never see a half-compacted table.
# --------------------------------------------------------------------------
@query(
    "q39_compaction_roundtrip",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT)
               AS sum_value_e2,
           TRUE AS files_reduced,
           TRUE AS compacted_to_one
    FROM events
    GROUP BY event_type
    """,
)
@with_scratch("q39_compact_")
def q39_compaction_roundtrip(spark: SparkSession, sf_dir: str, base: str) -> DataFrame:
    from ..operators.maintenance import compact_table

    tbl = f"{base}/events"
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value", "ts")
    ev.repartition(32).write.parquet(tbl)  # fragmented ingest state
    stats = compact_table(spark, tbl, target_bytes=1 << 30, sort_cols=["ts"])
    return (
        spark.read.parquet(tbl)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum_e2("value").alias("sum_value_e2"),
        )
        .withColumn(
            "files_reduced",
            F.lit(stats["n_files_after"] < stats["n_files_before"]),
        )
        .withColumn("compacted_to_one", F.lit(stats["n_files_after"] == 1))
    )


# --------------------------------------------------------------------------
# q43 — the SCD2 QUALITY BATTERY as a gated surface (quality.py:182's
# check_customer_history_no_overlaps + check_scd2_effective_dates +
# check_exactly_one_current — §2's W4 family; reference
# tests/test_customer_history_no_overlaps.sql:3-26,
# test_scd2_effective_dates.sql:3-11). The history is built
# from events (q14's SCD2 shape, deduped to one state per (user, ts) so
# intervals are strictly increasing), the three checks run on the CLEAN
# history (all violation counts must be exactly zero) and again on a
# deterministically CORRUPTED copy (non-current rows of every user_id %
# 7 == 0 get effective_to collapsed onto effective_from) — proving the
# checks detect the defect class, not merely that the data happens to be
# clean. Every output is an int64 count.
# 100 TB: each check is one partitioned lead-window or groupBy over the
# history — same shuffle budget as building the SCD2 table itself.
# --------------------------------------------------------------------------
@query(
    "q43_scd2_quality_checks",
    oracle="""
    WITH e AS (
        SELECT user_id, ts FROM events
        QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id ASC) = 1
    ),
    hist AS (
        SELECT user_id AS hk_customer,
               ts AS effective_from,
               lead(ts) OVER w AS effective_to,
               lead(ts) OVER w IS NULL AS is_current
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)
    ),
    corrupt AS (
        SELECT hk_customer, effective_from,
               CASE WHEN hk_customer % 7 = 0 AND NOT is_current
                    THEN effective_from ELSE effective_to END AS effective_to,
               is_current
        FROM hist
    ),
    ov_clean AS (
        SELECT count(*) AS n FROM (
            SELECT effective_to, lead(effective_from) OVER
                   (PARTITION BY hk_customer ORDER BY effective_from ASC) AS next_from
            FROM hist
        ) WHERE next_from IS NOT NULL AND next_from <> effective_to
    ),
    ov_corrupt AS (
        SELECT count(*) AS n FROM (
            SELECT effective_to, lead(effective_from) OVER
                   (PARTITION BY hk_customer ORDER BY effective_from ASC) AS next_from
            FROM corrupt
        ) WHERE next_from IS NOT NULL AND next_from <> effective_to
    ),
    dt_clean AS (
        SELECT count(*) AS n FROM hist WHERE effective_from >= effective_to
    ),
    dt_corrupt AS (
        SELECT count(*) AS n FROM corrupt WHERE effective_from >= effective_to
    ),
    cur_clean AS (
        SELECT count(*) AS n FROM (
            SELECT hk_customer,
                   sum(CASE WHEN is_current THEN 1 ELSE 0 END) AS n_current
            FROM hist GROUP BY hk_customer
        ) WHERE n_current <> 1
    ),
    cur_corrupt AS (
        SELECT count(*) AS n FROM (
            SELECT hk_customer,
                   sum(CASE WHEN is_current THEN 1 ELSE 0 END) AS n_current
            FROM corrupt GROUP BY hk_customer
        ) WHERE n_current <> 1
    )
    SELECT CAST((SELECT count(*) FROM hist) AS BIGINT)               AS n_history_rows,
           CAST((SELECT count(DISTINCT hk_customer) FROM hist) AS BIGINT) AS n_customers,
           CAST((SELECT count(*) FROM corrupt
                 WHERE hk_customer % 7 = 0 AND NOT is_current) AS BIGINT) AS n_corrupted,
           CAST((SELECT n FROM ov_clean) AS BIGINT)    AS overlap_violations_clean,
           CAST((SELECT n FROM dt_clean) AS BIGINT)    AS dates_violations_clean,
           CAST((SELECT n FROM cur_clean) AS BIGINT)   AS current_violations_clean,
           CAST((SELECT n FROM ov_corrupt) AS BIGINT)  AS overlap_violations_corrupted,
           CAST((SELECT n FROM dt_corrupt) AS BIGINT)  AS dates_violations_corrupted,
           CAST((SELECT n FROM cur_corrupt) AS BIGINT) AS current_violations_corrupted
    """,
)
def q43_scd2_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.scd import dedup_keep_first
    from ..quality import (
        check_customer_history_no_overlaps,
        check_exactly_one_current,
        check_scd2_effective_dates,
    )

    ev = dedup_keep_first(
        _t(spark, sf_dir, "events").select("user_id", "event_id", "ts"),
        ["user_id", "ts"],
        [F.asc("event_id")],
    )
    w = W.partitionBy("user_id").orderBy(F.asc("ts"))
    nxt = F.lead("ts").over(w)
    hist = ev.select(
        F.col("user_id").alias("hk_customer"),
        F.col("ts").alias("effective_from"),
        nxt.alias("effective_to"),
        nxt.isNull().alias("is_current"),
    )
    corrupt = hist.withColumn(
        "effective_to",
        F.when(
            (F.col("hk_customer") % 7 == 0) & ~F.col("is_current"),
            F.col("effective_from"),
        ).otherwise(F.col("effective_to")),
    )

    def n(df: DataFrame, name: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).cast("bigint").alias(name))

    base = hist.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_history_rows"),
        F.countDistinct("hk_customer").cast("bigint").alias("n_customers"),
    )
    n_corr = n(
        corrupt.filter((F.col("hk_customer") % 7 == 0) & ~F.col("is_current")),
        "n_corrupted",
    )
    out = (
        base.crossJoin(n_corr)
        .crossJoin(n(check_customer_history_no_overlaps(hist), "overlap_violations_clean"))
        .crossJoin(n(check_scd2_effective_dates(hist), "dates_violations_clean"))
        .crossJoin(n(check_exactly_one_current(hist), "current_violations_clean"))
        .crossJoin(n(check_customer_history_no_overlaps(corrupt), "overlap_violations_corrupted"))
        .crossJoin(n(check_scd2_effective_dates(corrupt), "dates_violations_corrupted"))
        .crossJoin(n(check_exactly_one_current(corrupt), "current_violations_corrupted"))
    )
    return out


# --------------------------------------------------------------------------
# q44 — MANIFEST TIME TRAVEL, driver-gated (operators/manifest.py §2.11:
# the pointer-file generation protocol was proven by unit tests only —
# this row makes "read an older committed generation" a hash-hard number).
# The query seeds a manifest table from orders with every o_orderkey%7==0
# price DELIBERATELY zeroed (generation 0, version 0), then merge_upserts
# the corrections (true prices, version 1 → generation 1), and aggregates
# BOTH the time-traveled generation-0 read and the current read per
# status. The oracle states both in closed form over orders, so:
#   - a read_table(generation=first) that resolved to the wrong
#     generation (or leaked corrected rows) breaks sum_e2_gen0;
#   - a merge that dropped/duplicated keys breaks n_orders/sum_e2_current;
#   - a history() that lost a commit breaks n_generations.
# 100 TB: time travel is a pointer lookup + a plain parquet scan of the
# retained generation — zero read amplification vs the live table; the
# merge is the M1 last-wins shape (one key shuffle), and the commit is
# one small-file PUT (manifest.py's object-store argument).
# --------------------------------------------------------------------------
@query(
    "q44_manifest_time_travel",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CASE WHEN o_orderkey % 7 = 0 THEN 0
                         ELSE CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                    END) AS BIGINT)                               AS sum_e2_gen0,
           CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
                AS BIGINT)                                        AS sum_e2_current,
           CAST(count(*) FILTER (o_orderkey % 7 = 0) AS BIGINT)   AS n_corrected,
           CAST(2 AS BIGINT)                                      AS n_generations
    FROM orders
    GROUP BY 1
    """,
)
@with_scratch("q44_manifest_")
def q44_manifest_time_travel(spark: SparkSession, sf_dir: str, base: str) -> DataFrame:
    from ..operators.incremental import merge_upsert
    from ..operators.manifest import history, read_table

    tbl = f"{base}/orders_scd"
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    stale = orders.withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(0.0)).otherwise(
            F.col("o_totalprice")
        ),
    ).withColumn("version", F.lit(0))
    corrections = orders.filter(F.col("o_orderkey") % 7 == 0).withColumn(
        "version", F.lit(1)
    )
    merge_upsert(
        spark, stale, tbl, keys=["o_orderkey"], version_col="version"
    )  # generation 0
    merge_upsert(
        spark, corrections, tbl, keys=["o_orderkey"], version_col="version"
    )  # generation 1 (current)
    commits = history(tbl)  # newest first; generation ids start at 1
    n_gens = len(commits)
    first_gen = min(h["generation"] for h in commits)

    def rollup(df: DataFrame, alias: str) -> DataFrame:
        return df.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).cast("bigint").alias(f"n_{alias}"),
            money_sum_e2("o_totalprice").alias(f"sum_e2_{alias}"),
        )

    g0 = rollup(read_table(spark, tbl, generation=first_gen), "gen0")
    cur = rollup(read_table(spark, tbl), "current")
    corrected = (
        read_table(spark, tbl)
        .filter(F.col("o_orderkey") % 7 == 0)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_corrected"))
    )
    return (
        cur.join(g0, "o_orderstatus")
        .join(corrected, "o_orderstatus", "left")
        .select(
            "o_orderstatus",
            F.col("n_current").alias("n_orders"),
            "sum_e2_gen0",
            "sum_e2_current",
            F.coalesce("n_corrected", F.lit(0)).cast("bigint").alias("n_corrected"),
            F.lit(n_gens).cast("bigint").alias("n_generations"),
        )
    )
