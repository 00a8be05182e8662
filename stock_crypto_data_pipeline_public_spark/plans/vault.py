"""Data Vault 2.0 + marts layer (SURVEY.md §1.1, §2.1, §2.8).

The reference organizes everything as Raw → hubs/links/satellites → marts →
semantic views (reference dbt_project.yml:25-42, README.md:72-131). These
queries re-express that layer's operator shapes over the test tables:
hash-keyed hubs with dedup-keep-first, links with compound SHA-256 keys,
insert-only satellites with hashdiff change detection, merge/last-wins upsert
emulation, incremental anti-join appends, the semantic KPI rollup, and the
DV2 query-assist layer (v10 PIT snapshots, v11 bridge) that turns temporal
vault queries into plain equi-joins.

Scale notes: hub/link key joins are on md5/sha2 strings — high-cardinality,
uniformly distributed, skew-free by construction (that's *why* DV2 hashes its
keys); satellites dedup with partitioned windows, never global sorts; the
merge emulation is the row_number-over-union pattern, which AQE executes as a
single shuffle on the merge key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.keys import (
    hash_key,
    oracle_hash_key,
    oracle_surrogate_key,
    surrogate_key,
)
from ..operators.scd import top_k
from ..sources.tables import load_table
from ..functions.numeric import dec, dsum, dsum_e, money_sum, money_sum_e2, oracle_rnd, rnd
from .registry import query


# --------------------------------------------------------------------------
# v01 — hub_customer: union of two delivery batches → dedup-keep-first →
# hashed business key (P8/P9/W1/U1).
# Reference shape: hub_customer.sql:16-36 (row_number dedup over raw union,
# md5 surrogate key via dbt_utils.generate_surrogate_key).
# --------------------------------------------------------------------------
@query(
    "v01_hub_customer",
    oracle=f"""
    WITH raw AS (
        SELECT c_custkey, 'batch_1' AS record_source, 1 AS load_seq FROM customer
        UNION ALL
        SELECT c_custkey, 'batch_2' AS record_source, 2 AS load_seq FROM customer
    ),
    dedup AS (
        SELECT c_custkey, record_source FROM raw
        QUALIFY row_number() OVER (PARTITION BY c_custkey ORDER BY load_seq ASC) = 1
    )
    SELECT {oracle_surrogate_key('c_custkey')} AS hk_customer,
           {oracle_hash_key('c_custkey')}      AS customer_hash_key,
           c_custkey                           AS customer_bk,
           record_source
    FROM dedup
    """,
)
def v01_hub_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    b1 = cust.select("c_custkey", F.lit("batch_1").alias("record_source"), F.lit(1).alias("load_seq"))
    b2 = cust.select("c_custkey", F.lit("batch_2").alias("record_source"), F.lit(2).alias("load_seq"))
    raw = b1.unionByName(b2)
    return top_k(raw, ["c_custkey"], [F.asc("load_seq")]).select(
        surrogate_key("c_custkey").alias("hk_customer"),
        hash_key("c_custkey").alias("customer_hash_key"),
        F.col("c_custkey").alias("customer_bk"),
        "record_source",
    )


# --------------------------------------------------------------------------
# v02 — link_order_customer: compound SHA-256 link key over both business
# keys + md5 hub keys, deduped (J1/P8/P9).
# Reference shape: link_customer_transaction.sql:43-47,63-79.
# --------------------------------------------------------------------------
@query(
    "v02_link_order_customer",
    oracle=f"""
    SELECT DISTINCT
           {oracle_hash_key('o_orderkey', 'o_custkey')}  AS lk_order_customer,
           {oracle_surrogate_key('o_orderkey')}          AS hk_order,
           {oracle_surrogate_key('o_custkey')}           AS hk_customer,
           o_orderkey                                    AS order_bk,
           o_custkey                                     AS customer_bk
    FROM orders
    """,
)
def v02_link_order_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        hash_key("o_orderkey", "o_custkey").alias("lk_order_customer"),
        surrogate_key("o_orderkey").alias("hk_order"),
        surrogate_key("o_custkey").alias("hk_customer"),
        F.col("o_orderkey").alias("order_bk"),
        F.col("o_custkey").alias("customer_bk"),
    ).distinct()


# --------------------------------------------------------------------------
# v03 — satellite with hashdiff change detection (insert-only SCD).
# Reference shape: sat_customer_profile.sql:8-13,48-57 — "Change detection
# via hashdiff": a new satellite version is emitted only when the attribute
# hashdiff differs from the previous version.
# Here: events are the attribute feed per user; hashdiff = md5(event_type);
# keep only rows where the state actually changed.
# --------------------------------------------------------------------------
@query(
    "v03_sat_user_activity",
    oracle=f"""
    WITH versions AS (
        SELECT {oracle_surrogate_key('user_id')} AS hk_user,
               user_id,
               {oracle_surrogate_key('event_type')} AS hashdiff,
               event_type,
               ts AS load_ts,
               lag({oracle_surrogate_key('event_type')}) OVER (
                   PARTITION BY user_id ORDER BY ts ASC, event_id ASC
               ) AS prev_hashdiff
        FROM events
    )
    SELECT hk_user, user_id, hashdiff, event_type, load_ts
    FROM versions
    WHERE prev_hashdiff IS NULL OR hashdiff <> prev_hashdiff
    """,
)
def v03_sat_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    hd = surrogate_key("event_type")
    return (
        ev.select(
            surrogate_key("user_id").alias("hk_user"),
            "user_id",
            hd.alias("hashdiff"),
            "event_type",
            F.col("ts").alias("load_ts"),
            F.lag(hd).over(w).alias("prev_hashdiff"),
        )
        .filter(F.col("prev_hashdiff").isNull() | (F.col("hashdiff") != F.col("prev_hashdiff")))
        .drop("prev_hashdiff")
    )


# --------------------------------------------------------------------------
# v04 — fact table resolved through the vault (J3 multi-way join).
# Reference shape: fct_transactions.sql:32-42 (hub ⋈ link ⋈ hub ⋈ sat).
# Dims (nation) broadcast; the orders⋈customer join shuffles on the key both
# sides are already hashed on.
# --------------------------------------------------------------------------
@query(
    "v04_fct_orders_vault",
    oracle=f"""
    SELECT {oracle_hash_key('o.o_orderkey', 'o.o_custkey')} AS lk_order_customer,
           {oracle_surrogate_key('o.o_custkey')}            AS hk_customer,
           CAST(o.o_orderdate AS DATE)                      AS order_date,
           o.o_orderstatus                                  AS order_status,
           n.n_name                                         AS nation,
           floor((o.o_totalprice) * 100 + 0.5) / 100.0                         AS total_price
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    """,
)
def v04_fct_orders_vault(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").alias("o")
    cust = load_table(spark, sf_dir, "customer").alias("c")
    nation = load_table(spark, sf_dir, "nation").alias("n")
    return (
        orders.join(cust, F.col("o.o_custkey") == F.col("c.c_custkey"))
        .join(F.broadcast(nation), F.col("c.c_nationkey") == F.col("n.n_nationkey"))
        .select(
            hash_key("o.o_orderkey", "o.o_custkey").alias("lk_order_customer"),
            surrogate_key("o.o_custkey").alias("hk_customer"),
            F.col("o.o_orderdate").cast("date").alias("order_date"),
            F.col("o.o_orderstatus").alias("order_status"),
            F.col("n.n_name").alias("nation"),
            rnd("o.o_totalprice", 2).alias("total_price"),
        )
    )


# --------------------------------------------------------------------------
# v05 — dim with latest-wins enrichment (W2 + J4).
# Reference shape: dim_asset.sql:36-39,103-105 — latest record per key
# left-joined onto the hub, with coalesce defaults.
# --------------------------------------------------------------------------
@query(
    "v05_dim_customer_latest_activity",
    oracle="""
    WITH latest AS (
        SELECT user_id, event_type, floor((value) * 100 + 0.5) / 100.0 AS last_value
        FROM events
        QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
    )
    SELECT c.c_custkey, c.c_name, c.c_mktsegment,
           coalesce(l.event_type, 'NO_ACTIVITY') AS last_event_type,
           coalesce(l.last_value, 0.0)           AS last_value
    FROM customer c
    LEFT JOIN latest l ON c.c_custkey = l.user_id
    """,
)
def v05_dim_customer_latest_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    ev = load_table(spark, sf_dir, "events")
    latest = top_k(ev, ["user_id"], [F.desc("ts"), F.desc("event_id")]).select(
        "user_id", "event_type", rnd("value", 2).alias("last_value")
    )
    return cust.join(latest, cust.c_custkey == latest.user_id, "left").select(
        "c_custkey",
        "c_name",
        "c_mktsegment",
        F.coalesce(F.col("event_type"), F.lit("NO_ACTIVITY")).alias("last_event_type"),
        F.coalesce(F.col("last_value"), F.lit(0.0)).alias("last_value"),
    )


# --------------------------------------------------------------------------
# v06 — semantic customer overview (A3/A4/P7).
# Reference shape: semantic_customer_overview.sql:9-19,34-37 — per-customer
# KPI block (count/sum/max) + display-name concat.
# --------------------------------------------------------------------------
@query(
    "v06_semantic_customer_overview",
    oracle="""
    SELECT c.c_custkey,
           concat_ws(' - ', c.c_name, c.c_mktsegment)   AS display_name,
           count(o.o_orderkey)                          AS n_orders,
           coalesce(CAST(sum(CAST(CAST(o.o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT), 0)
                                                        AS lifetime_value_e2,
           count(DISTINCT o.o_orderpriority)            AS n_priorities,
           CAST(max(o.o_orderdate) AS DATE)             AS last_order_date
    FROM customer c
    LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey, c.c_name, c.c_mktsegment
    """,
)
def v06_semantic_customer_overview(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_name", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(money_sum_e2("o_totalprice"), F.lit(0).cast("bigint")).alias(
                "lifetime_value_e2"
            ),
            F.countDistinct("o_orderpriority").alias("n_priorities"),
            F.max("o_orderdate").cast("date").alias("last_order_date"),
        )
        .select(
            "c_custkey",
            F.concat_ws(" - ", F.col("c_name"), F.col("c_mktsegment")).alias("display_name"),
            "n_orders",
            "lifetime_value_e2",
            "n_priorities",
            "last_order_date",
        )
    )


# --------------------------------------------------------------------------
# v07 — MERGE upsert emulation: last-wins by key over staged batches (M1).
# Reference shape: a1_4_batch_s3_to_snowflake.py:470-557 (MERGE INTO target
# USING temp ON keys WHEN MATCHED UPDATE WHEN NOT MATCHED INSERT).
# Pure-Parquet emulation per SURVEY §2.8: row_number over the union of
# (target, staged) ordered by batch desc — one shuffle on the merge key.
# --------------------------------------------------------------------------
@query(
    "v07_merge_last_wins",
    oracle="""
    WITH target AS (
        SELECT o_orderkey, o_orderstatus,
               CAST(o_totalprice AS DECIMAL(15,3)) AS o_totalprice, 1 AS batch
        FROM orders
    ),
    staged AS (
        SELECT o_orderkey, o_orderstatus,
               CAST(o_totalprice AS DECIMAL(12,2)) * CAST(1.1 AS DECIMAL(2,1))
                   AS o_totalprice, 2 AS batch
        FROM orders WHERE o_orderkey % 10 = 0
    ),
    merged AS (
        SELECT * FROM (SELECT * FROM target UNION ALL SELECT * FROM staged)
        QUALIFY row_number() OVER (PARTITION BY o_orderkey ORDER BY batch DESC) = 1
    )
    SELECT o_orderstatus,
           count(*)                     AS n_rows,
           CAST(sum(batch - 1) AS BIGINT) AS n_updated,
           CAST(sum(CAST(o_totalprice * 1000 AS BIGINT)) AS BIGINT) AS total_after_merge_e3
    FROM merged
    GROUP BY o_orderstatus
    """,
)
def v07_merge_last_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    # exact decimals end-to-end: the 10%-uplift branch multiplies in decimal
    # so the merged sum stays summation-order-independent (numeric.py policy)
    target = orders.select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(15,3)").alias("o_totalprice"),
        F.lit(1).alias("batch"),
    )
    staged = (
        orders.filter(F.col("o_orderkey") % 10 == 0)
        .select(
            "o_orderkey",
            "o_orderstatus",
            (dec("o_totalprice") * F.lit("1.1").cast("decimal(2,1)")).alias("o_totalprice"),
            F.lit(2).alias("batch"),
        )
    )
    merged = top_k(target.unionByName(staged), ["o_orderkey"], [F.desc("batch")])
    return merged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("batch") - 1).alias("n_updated"),
        dsum_e(F.col("o_totalprice"), 3).alias("total_after_merge_e3"),
    )


# --------------------------------------------------------------------------
# v08 — idempotent incremental append: anti-join new rows against target
# keys (M2/M3/J5).
# Reference shape: kafka_consumer.py:294-303 ON CONFLICT DO NOTHING;
# hub/link incremental blocks `hk not in (select hk from {{ this }})`.
# Target = orders before the cutoff; source = all orders; appended = source
# keys not in target (left_anti — never NOT IN, SURVEY §4).
# --------------------------------------------------------------------------
@query(
    "v08_incremental_append",
    oracle="""
    WITH target AS (
        SELECT * FROM orders WHERE o_orderdate < TIMESTAMP '2000-01-01 00:00:00'
    ),
    appended AS (
        SELECT s.* FROM orders s
        WHERE NOT EXISTS (SELECT 1 FROM target t WHERE t.o_orderkey = s.o_orderkey)
    )
    SELECT o_orderstatus,
           count(*)                        AS n_appended,
           CAST(min(o_orderdate) AS DATE)  AS first_new_date,
           CAST(max(o_orderdate) AS DATE)  AS last_new_date
    FROM appended
    GROUP BY o_orderstatus
    """,
)
def v08_incremental_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cutoff = F.lit("2000-01-01 00:00:00").cast("timestamp")
    target = orders.filter(F.col("o_orderdate") < cutoff)
    appended = orders.join(target.select("o_orderkey"), "o_orderkey", "left_anti")
    return appended.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_appended"),
        F.min("o_orderdate").cast("date").alias("first_new_date"),
        F.max("o_orderdate").cast("date").alias("last_new_date"),
    )


# --------------------------------------------------------------------------
# v09 — link_company_transaction: the reference's 5th link (reference
# link_company_transaction.sql:17-39). Shape: filter the source to the one
# feed that carries company context ("corporate transactions only" — here
# urgent-priority orders stand in for the corporate feed), resolve BOTH hub
# keys by inner join, then key the link by md5 over the two resolved HUB
# keys (generate_surrogate_key(['company_hk','transaction_hk']), sql:43-46)
# — unlike the other links, which hash business keys — and dedup-keep-first
# per pair (sql:56-59). The production DAG instance is
# plans/market.link_company_transaction, exercised by
# tests/test_market_pipeline.py; this query hash-gates the operator
# composition cross-engine. Hubs broadcast; the dedup window partitions on
# the uniformly-distributed pair, skew-free at any scale.
# --------------------------------------------------------------------------
@query(
    "v09_link_company_transaction",
    oracle=f"""
    WITH corporate AS (
        SELECT o_orderkey AS transaction_id, o_custkey AS company_id,
               o_orderdate AS load_timestamp, o_orderpriority AS record_source
        FROM orders WHERE o_orderpriority LIKE '1-%'
    ),
    hub_company AS (
        SELECT DISTINCT {oracle_surrogate_key('c_custkey')} AS hk_company,
               c_custkey AS company_bk
        FROM customer
    ),
    hub_transaction AS (
        SELECT DISTINCT {oracle_surrogate_key('o_orderkey')} AS hk_transaction,
               o_orderkey AS transaction_bk
        FROM orders
    ),
    resolved AS (
        SELECT hc.hk_company, ht.hk_transaction, s.load_timestamp, s.record_source
        FROM corporate s
        JOIN hub_company hc ON s.company_id = hc.company_bk
        JOIN hub_transaction ht ON s.transaction_id = ht.transaction_bk
    )
    SELECT {oracle_surrogate_key('hk_company', 'hk_transaction')} AS lk_company_transaction,
           hk_company, hk_transaction, record_source
    FROM resolved
    QUALIFY row_number() OVER (
        PARTITION BY hk_company, hk_transaction
        ORDER BY load_timestamp ASC, record_source ASC
    ) = 1
    """,
)
def v09_link_company_transaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    corporate = orders.filter(F.col("o_orderpriority").like("1-%")).select(
        F.col("o_orderkey").alias("transaction_id"),
        F.col("o_custkey").alias("company_id"),
        F.col("o_orderdate").alias("load_timestamp"),
        F.col("o_orderpriority").alias("record_source"),
    )
    hub_company = (
        load_table(spark, sf_dir, "customer")
        .select(
            surrogate_key("c_custkey").alias("hk_company"),
            F.col("c_custkey").alias("company_bk"),
        )
        .distinct()
    )
    hub_transaction = orders.select(
        surrogate_key("o_orderkey").alias("hk_transaction"),
        F.col("o_orderkey").alias("transaction_bk"),
    ).distinct()
    resolved = (
        corporate.join(F.broadcast(hub_company), corporate.company_id == F.col("company_bk"))
        .join(hub_transaction, corporate.transaction_id == F.col("transaction_bk"))
        .select("hk_company", "hk_transaction", "load_timestamp", "record_source")
    )
    return top_k(
        resolved,
        ["hk_company", "hk_transaction"],
        [F.asc("load_timestamp"), F.asc("record_source")],
    ).select(
        surrogate_key("hk_company", "hk_transaction").alias("lk_company_transaction"),
        "hk_company",
        "hk_transaction",
        "record_source",
    )


# --------------------------------------------------------------------------
# v10 — PIT (point-in-time) table: the canonical Data Vault 2.0 query-
# assist construct the raw vault needs for fast temporal joins. For every
# (hub key × weekly snapshot date) the PIT pins the sat version in effect
# at that instant — dim/fact queries then equi-join (hk, snapshot) instead
# of re-running an as-of probe per query. Built ON the as-of operator
# (operators/asof.asof_join_backward — one shuffle per side, running
# last-struct, no candidate-pair blowup): the snapshot spine (distinct
# hub users × generated weekly dates — calendar-bounded) is the left,
# v03's hashdiff-deduped sat timeline the right. Users keyed before their
# first version carry NULLs (left semantics — a PIT row exists for every
# hub key at every snapshot, as DV2 prescribes). The weekly grid derives
# from the events' own min/max (date_trunc week = Monday in both
# engines); sequence()/generate_series are both inclusive.
# --------------------------------------------------------------------------
@query(
    "v10_pit_user_activity",
    oracle=f"""
    WITH versions AS (
        SELECT {oracle_surrogate_key('user_id')} AS hk_user,
               user_id,
               {oracle_surrogate_key('event_type')} AS hashdiff,
               event_type,
               ts AS load_ts,
               lag({oracle_surrogate_key('event_type')}) OVER (
                   PARTITION BY user_id ORDER BY ts ASC, event_id ASC
               ) AS prev_hashdiff
        FROM events
    ),
    sat AS (
        SELECT hk_user, user_id, hashdiff, event_type, load_ts
        FROM versions
        WHERE prev_hashdiff IS NULL OR hashdiff <> prev_hashdiff
        QUALIFY row_number() OVER (
            PARTITION BY user_id, load_ts ORDER BY hashdiff DESC
        ) = 1
    ),
    bounds AS (
        SELECT CAST(date_trunc('week', min(ts)) AS DATE) AS d0,
               CAST(max(ts) AS DATE) AS d1
        FROM events
    ),
    dates AS (
        SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 7 DAY)) AS DATE)
               AS snapshot_date
        FROM bounds
    ),
    spine AS (
        SELECT u.hk_user, u.user_id, d.snapshot_date
        FROM (SELECT DISTINCT hk_user, user_id FROM sat) u
        CROSS JOIN dates d
    ),
    pit AS (
        SELECT s.hk_user, s.user_id, s.snapshot_date,
               v.load_ts AS sat_load_ts, v.event_type AS sat_event_type
        FROM spine s
        LEFT JOIN sat v
          ON v.user_id = s.user_id
         AND v.load_ts <= CAST(s.snapshot_date AS TIMESTAMP)
        QUALIFY row_number() OVER (
            PARTITION BY s.user_id, s.snapshot_date
            ORDER BY v.load_ts DESC NULLS LAST
        ) = 1
    )
    SELECT hk_user, user_id, snapshot_date, sat_load_ts, sat_event_type
    FROM pit
    """,
)
def v10_pit_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join_backward

    sat_raw = v03_sat_user_activity(spark, sf_dir)
    sat = top_k(sat_raw, ["user_id", "load_ts"], [F.desc("hashdiff")])
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("d0"),
        F.max("ts").cast("date").alias("d1"),
    )
    dates = bounds.select(
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 7 DAY"))).alias(
            "snapshot_date"
        )
    )
    users = sat.select("hk_user", "user_id").distinct()
    spine = users.crossJoin(F.broadcast(dates)).withColumn(
        "snap_ts", F.col("snapshot_date").cast("timestamp")
    )
    right = sat.select(
        "user_id",
        "load_ts",
        F.col("load_ts").alias("sat_load_ts"),
        F.col("event_type").alias("sat_event_type"),
    )
    pit = asof_join_backward(
        spine,
        right,
        on=["user_id"],
        left_ts="snap_ts",
        right_ts="load_ts",
        payload=["sat_load_ts", "sat_event_type"],
    )
    return pit.select(
        "hk_user", "user_id", "snapshot_date", "sat_load_ts", "sat_event_type"
    )


# --------------------------------------------------------------------------
# v11 — bridge table: the second DV2 query-assist construct (with v10's
# PIT): a pre-flattened hub-to-hub path across MULTIPLE links — here
# customer ←(order link)← orders ←(supply link)← lineitem → supplier —
# with the traversal measures denormalized in. Marts then reach across
# the vault with ONE equi-join on the bridge instead of a 4-way hub/link
# chain per query. One shuffle per join on already-hashed uniform keys +
# one hash aggregation; the orders⋈lineitem join co-partitions on
# orderkey (the key both sides hash on at write time in the bucketed
# layout — catalog.py).
# --------------------------------------------------------------------------
@query(
    "v11_bridge_customer_supplier",
    oracle=f"""
    SELECT {oracle_surrogate_key('o.o_custkey')}  AS hk_customer,
           {oracle_surrogate_key('l.l_suppkey')}  AS hk_supplier,
           CAST(count(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders,
           count(*)                                     AS n_lineitems,
           CAST(min(l.l_shipdate) AS DATE)              AS first_ship,
           CAST(max(l.l_shipdate) AS DATE)              AS last_ship
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY 1, 2
    """,
)
def v11_bridge_customer_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    # lineitem pre-aggregates to its (orderkey, suppkey) grain BEFORE the
    # join: the join input shrinks ~4x AND — because each (order, supplier)
    # is now exactly one row — the oracle's count(DISTINCT o_orderkey)
    # becomes a plain count(*), dropping the distinct-aggregate Expand a
    # join-first plan pays. Same aggregate-below-join move as q02.
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    per_order_supp = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.count(F.lit(1)).alias("n_li"),
        F.min("l_shipdate").alias("min_ship"),
        F.max("l_shipdate").alias("max_ship"),
    )
    return (
        per_order_supp.join(
            o.select("o_orderkey", "o_custkey"),
            per_order_supp.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy(
            surrogate_key("o_custkey").alias("hk_customer"),
            surrogate_key("l_suppkey").alias("hk_supplier"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("n_li").alias("n_lineitems"),
            F.min("min_ship").cast("date").alias("first_ship"),
            F.max("max_ship").cast("date").alias("last_ship"),
        )
    )


# --------------------------------------------------------------------------
# v12 — effectivity satellite (the remaining classic DV2 construct after
# v10's PIT and v11's bridge): tracks WHEN each driving-key relationship
# was active. Driving key = the user hub; related key = the activity type.
# Every change of the user's active type (v03's hashdiff spine) closes the
# previous relationship episode and opens a new one; a user RETURNING to
# an earlier type re-opens it as a NEW episode (episode_n counts re-opens
# per link — the bookkeeping that distinguishes an effectivity sat from a
# plain SCD2 on the sat payload). Open episodes carry eff_to = NULL +
# is_current = true rather than a far-future sentinel (q14's 9999-12-31
# overflows pandas datetime64). One partitioned-window pass over the
# change spine — same single shuffle as v03; link hash keys are md5 of
# the driving+related pair, so downstream joins are skew-free.
# Reference: the dbt vault layer has hubs/links/sats only
# (models/vault/*.sql) — effectivity tracking is the standard DV2
# extension a relationship-history consumer needs.
# --------------------------------------------------------------------------
@query(
    "v12_eff_sat_user_activity",
    oracle=f"""
    WITH versions AS (
        SELECT user_id, event_type, ts,
               lag({oracle_surrogate_key('event_type')}) OVER (
                   PARTITION BY user_id ORDER BY ts ASC, event_id ASC
               ) AS prev_hd,
               {oracle_surrogate_key('event_type')} AS hd
        FROM events
    ),
    episodes AS (
        SELECT user_id, event_type, ts AS eff_from
        FROM versions WHERE prev_hd IS NULL OR hd <> prev_hd
    )
    SELECT {oracle_surrogate_key('user_id', 'event_type')} AS hk_link,
           {oracle_surrogate_key('user_id')}               AS hk_user,
           user_id, event_type, eff_from,
           lead(eff_from) OVER (
               PARTITION BY user_id ORDER BY eff_from ASC
           ) AS eff_to,
           lead(eff_from) OVER (
               PARTITION BY user_id ORDER BY eff_from ASC
           ) IS NULL AS is_current,
           CAST(row_number() OVER (
               PARTITION BY user_id, event_type ORDER BY eff_from ASC
           ) AS BIGINT) AS episode_n
    FROM episodes
    """,
)
def v12_eff_sat_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    hd = surrogate_key("event_type")
    episodes = (
        ev.select(
            "user_id",
            "event_type",
            F.col("ts").alias("eff_from"),
            hd.alias("hd"),
            F.lag(hd).over(w).alias("prev_hd"),
        )
        .filter(F.col("prev_hd").isNull() | (F.col("hd") != F.col("prev_hd")))
        .drop("hd", "prev_hd")
    )
    w_user = W.partitionBy("user_id").orderBy(F.asc("eff_from"))
    w_link = W.partitionBy("user_id", "event_type").orderBy(F.asc("eff_from"))
    eff_to = F.lead("eff_from").over(w_user)
    return episodes.select(
        surrogate_key("user_id", "event_type").alias("hk_link"),
        surrogate_key("user_id").alias("hk_user"),
        "user_id",
        "event_type",
        "eff_from",
        eff_to.alias("eff_to"),
        eff_to.isNull().alias("is_current"),
        F.row_number().over(w_link).cast("long").alias("episode_n"),
    )


# --------------------------------------------------------------------------
# v13 — the ENTIRE dbt DAG as one gated artifact: TPC-derived raw fixtures
# → dag.py's topological executor over plans/market.py's model registry
# (the reference's 27-model Raw → DV2 → Marts → Semantic chain,
# dbt_project.yml:25-42) → `semantic_customer_overview`
# (semantic_customer_overview.sql:3-46) compared value-for-value.
#
# The executor builds the real subgraph: 8 raw sources → hub_customer /
# hub_company / hub_asset (via the 6-way ephemeral_asset union) /
# hub_transaction → link_customer_company / link_customer_transaction /
# link_transaction_asset (case-normalized J2 join) → sat_customer_profile
# (hashdiff change capture) / sat_company_profile / sat_transaction_detail
# → dim_company → dim_customer (latest-wins) → fct_transactions (4-way J3)
# → semantic. The fixtures bake in the classic vault hazards: an
# at-least-once REPLAY row per customer (c_custkey % 7 = 0 — same attrs,
# later load_timestamp: changes_only must drop it), a real PROFILE CHANGE
# (c_custkey % 10 = 0 → tier 'Platinum' v2: latest-wins must surface it),
# replayed transactions (o_orderkey % 13 = 0: dedup-keep-first must land
# them once), and lowercase asset feeds (the link's upper() normalization
# must still match). The oracle states the NET semantics in closed form —
# if ANY model, the hashdiff capture, the SCD window, a link join, or the
# DAG resolver regresses, the hash breaks. This is the engine's
# `dbt build` as a single driver-gated row.
#
# Scale: the chain is the production DAG itself — hub/link joins broadcast
# the hub side, satellites window per business key (hash-distributed,
# skew-free by construction), fct is a 4-way equi-join on md5 keys.
# --------------------------------------------------------------------------
def _dag_fixtures(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """TPC-derived raw-layer fixtures for the full market DAG (shared by
    v13/v14). Every column is a closed form of the TPC row so the oracles
    can restate the whole chain in SQL; the baked-in hazards (replays,
    profile change, lowercase asset feeds) are documented at v13."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    t0 = "TIMESTAMP '2024-01-01 00:00:00'"

    base = cust.selectExpr(
        "c_custkey AS k",
        "concat('CUST', cast(c_custkey as string)) AS customer_id",
        "concat('FN', cast(c_custkey % 97 as string)) AS first_name",
        "concat('LN', cast(c_custkey % 31 as string)) AS last_name",
        "concat('cust', cast(c_custkey as string), '@example.com') AS email",
        "CASE cast(c_custkey % 3 as int) WHEN 0 THEN 'F' WHEN 1 THEN 'M' "
        "ELSE 'X' END AS gender",
        "CASE cast(c_custkey % 4 as int) WHEN 0 THEN '18-25' WHEN 1 THEN '26-35' "
        "WHEN 2 THEN '36-50' ELSE '51+' END AS age_group",
        "c_mktsegment AS country",
        "date_add(DATE '2020-01-01', cast(c_custkey % 365 as int)) AS registration_date",
        "CASE cast(c_custkey % 3 as int) WHEN 0 THEN 'Low' WHEN 1 THEN 'Moderate' "
        "ELSE 'High' END AS risk_tolerance",
        "CASE WHEN c_custkey % 4 = 0 THEN 'CORPORATE' ELSE 'PERSONAL' END AS customer_type",
        "CASE WHEN c_custkey % 4 = 0 THEN concat('CORP', cast(c_custkey % 50 as string)) "
        "END AS company_id",
    )
    v1 = base.selectExpr(
        "*",
        "CASE cast(k % 3 as int) WHEN 0 THEN 'Bronze' WHEN 1 THEN 'Silver' "
        "ELSE 'Gold' END AS customer_tier",
        "'BATCH_DATA' AS source",
        f"{t0} AS load_timestamp",
    )
    # at-least-once replay: identical attrs, later load — changes_only drops
    replay = v1.filter("k % 7 = 0").withColumn(
        "load_timestamp", F.expr("TIMESTAMP '2024-01-15 00:00:00'")
    ).withColumn("source", F.lit("KAFKA_DATA"))
    # real profile change: tier upgrade — a second satellite version
    v2 = base.filter("k % 10 = 0").selectExpr(
        "*",
        "'Platinum' AS customer_tier",
        "'KAFKA_DATA' AS source",
        "TIMESTAMP '2024-02-01 00:00:00' AS load_timestamp",
    )
    raw_customers = v1.unionByName(replay).unionByName(v2).drop("k")

    raw_corporates = spark.range(50).selectExpr(
        "concat('CORP', cast(id as string)) AS company_id",
        "concat('Company ', cast(id as string)) AS company_name",
        "CASE WHEN id % 2 = 0 THEN 'LLC' ELSE 'PLC' END AS company_type",
        "concat('corp', cast(id as string), '@example.com') AS company_email",
        "CASE cast(id % 5 as int) WHEN 0 THEN 'US' WHEN 1 THEN 'GB' WHEN 2 THEN 'DE' "
        "WHEN 3 THEN 'SG' ELSE 'JP' END AS country",
        "cast(1950 + id as int) AS year_founded",
        "concat('TAX', cast(id as string)) AS tax_number",
        "concat('City', cast(id % 10 as string)) AS office_primary_location",
        "date_add(DATE '1990-01-01', cast(id as int)) AS registration_date",
        "'BATCH_DATA' AS source",
        f"{t0} AS load_timestamp",
    )

    txn_base = orders.selectExpr(
        "o_orderkey AS tk",
        "concat('TXN', cast(o_orderkey as string)) AS transaction_id",
        "concat('CUST', cast(o_custkey as string)) AS customer_id",
        "CASE cast(o_orderkey % 5 as int) WHEN 0 THEN 'btc' WHEN 1 THEN 'eth' "
        "WHEN 2 THEN 'aapl' WHEN 3 THEN 'msft' ELSE 'googl' END AS asset_symbol",
        "CASE WHEN o_orderkey % 5 < 2 THEN 'crypto' ELSE 'stock' END AS asset_type",
        "CASE WHEN o_custkey % 2 = 0 THEN 'BUY' ELSE 'SELL' END AS transaction_type",
        "cast(o_orderkey % 100 + 1 as double) AS quantity",
        "cast(o_custkey % 500 + 10 as double) AS price_per_unit",
        "cast(o_orderkey % 100 + 1 as double) * cast(o_custkey % 500 + 10 as double)"
        " AS transaction_amount",
        "cast(o_orderkey % 50 as double) * 0.25 AS fee_amount",
        "cast(o_orderdate as timestamp) + make_interval(0, 0, 0, 0, 0, 0, "
        "o_orderkey % 86400) AS transaction_timestamp",
        "o_orderdate AS data_date",
        "'BATCH_DATA' AS source",
        f"{t0} AS load_timestamp",
    )
    txn_replay = txn_base.filter("tk % 13 = 0").withColumn(
        "load_timestamp", F.expr("TIMESTAMP '2024-01-20 00:00:00'")
    ).withColumn("source", F.lit("KAFKA_DATA"))
    personal = txn_base.filter("tk % 2 = 1").unionByName(
        txn_replay.filter("tk % 2 = 1")
    ).drop("tk")
    corporate = txn_base.filter("tk % 2 = 0").unionByName(
        txn_replay.filter("tk % 2 = 0")
    ).drop("tk")

    def crypto_feed(src: str) -> DataFrame:
        return spark.range(2).selectExpr(
            "CASE WHEN id = 0 THEN 'BTC-USD' ELSE 'ETH-USD' END AS symbol",
            "cast(100 + id as double) AS price",
            "cast(10 as double) AS volume",
            f"'{src}' AS source",
            f"{t0} + make_interval(0, 0, 0, 0, cast(id as int), 0, 0) AS observed_at",
            f"{t0} AS load_timestamp",
        )

    return {
        "raw_customers": raw_customers,
        "raw_corporates": raw_corporates,
        "raw_transaction_personal": personal,
        "raw_transaction_corporate": corporate,
        "raw_cryptoprices_binance": crypto_feed("BINANCE"),
        "raw_cryptoprices_coingecko": crypto_feed("COINGECKO"),
        "raw_cryptoprices_yfinance": crypto_feed("YFINANCE"),
        "raw_stockprices_yfinance": spark.range(2).selectExpr(
            "CASE WHEN id = 0 THEN 'AAPL' ELSE 'MSFT' END AS ticker",
            "DATE '2024-01-02' AS date",
            f"{t0} + make_interval(0, 0, 0, 0, cast(id as int), 0, 0) AS observed_at",
            "cast(1 as double) AS open_price",
            "cast(2 as double) AS high_price",
            "cast(0.5 as double) AS low_price",
            "cast(1.5 as double) AS close_price",
            "cast(100 as double) AS volume",
            "cast(3 as double) AS week_52_high",
            "cast(0.1 as double) AS week_52_low",
            "cast(1000000 as double) AS market_cap",
            "'YFINANCE' AS source",
            f"{t0} AS load_timestamp",
        ),
    }


@query(
    "v13_full_dag_semantic_overview",
    oracle=f"""
    WITH cust AS (
        SELECT c_custkey AS k,
               md5('CUST' || c_custkey)                               AS hk_customer,
               'FN' || (c_custkey % 97) || ' ' || 'LN' || (c_custkey % 31)
                                                                      AS customer_name,
               CASE WHEN c_custkey % 10 = 0 THEN 'Platinum'
                    WHEN c_custkey % 3 = 0  THEN 'Bronze'
                    WHEN c_custkey % 3 = 1  THEN 'Silver'
                    ELSE 'Gold' END                                   AS customer_tier,
               CASE WHEN c_custkey % 3 = 0 THEN 'Low'
                    WHEN c_custkey % 3 = 1 THEN 'Moderate'
                    ELSE 'High' END                                   AS risk_tolerance,
               CASE WHEN c_custkey % 4 = 0 THEN 'CORPORATE'
                    ELSE 'PERSONAL' END                               AS customer_type,
               c_mktsegment                                           AS country
        FROM customer
    ),
    txn AS (
        SELECT o_custkey AS k,
               count(*) AS n_transactions,
               sum((o_orderkey % 100 + 1) * (o_custkey % 500 + 10) * 1.0)
                                                                      AS total_amount,
               sum((o_orderkey % 50) * 0.25)                          AS total_fees,
               max(CAST(o_orderdate AS TIMESTAMP)
                   + (o_orderkey % 86400) * INTERVAL 1 SECOND)        AS last_transaction_at
        FROM orders
        GROUP BY o_custkey
    )
    SELECT c.hk_customer,
           c.customer_name,
           c.customer_tier,
           c.risk_tolerance,
           c.customer_type,
           c.country,
           CAST(coalesce(t.n_transactions, 0) AS BIGINT)              AS n_transactions,
           {oracle_rnd('t.total_amount', 2)}                          AS total_amount,
           {oracle_rnd('t.total_fees', 2)}                            AS total_fees,
           t.last_transaction_at
    FROM cust c LEFT JOIN txn t ON c.k = t.k
    """,
)
def v13_full_dag_semantic_overview(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .market import registry as market_models

    ctx = _dag_fixtures(spark, sf_dir)
    built = market_models.run(ctx, select=["semantic_customer_overview"])
    sem = built["semantic_customer_overview"]
    return sem.select(
        "hk_customer",
        "customer_name",
        "customer_tier",
        "risk_tolerance",
        "customer_type",
        "country",
        "n_transactions",
        rnd(F.col("total_amount"), 2).alias("total_amount"),
        rnd(F.col("total_fees"), 2).alias("total_fees"),
        "last_transaction_at",
    )


# --------------------------------------------------------------------------
# v14 — the DAG's second semantic view, gated at TRANSACTION grain:
# `semantic_transactions` (reference semantic_transactions.sql:3-45) through
# the same topological executor and fixtures as v13. Where v13's rollup
# could mask a per-row error that cancels in aggregation, v14 compares the
# flat analyst view row-for-row — and it exercises the DAG branches v13's
# closure never builds: sat_asset_price_crypto / sat_asset_price_stock →
# dim_asset (latest-price union across feeds), plus dim_customer's
# company_name enrichment surfacing in the output. Every column is the
# closed form of its TPC source row; the hub's record_source proves
# dedup-keep-first picked the FIRST delivery ('BATCH_DATA') for replayed
# transactions, and customer_tier proves latest-wins picked the SECOND
# profile version. Output ~1 row per order (15k at sf0.01).
# --------------------------------------------------------------------------
@query(
    "v14_full_dag_semantic_transactions",
    oracle=f"""
    WITH t AS (
        SELECT o_orderkey AS tk, o_custkey AS k, o_orderdate,
               CASE CAST(o_orderkey % 5 AS INT)
                    WHEN 0 THEN 'BTC' WHEN 1 THEN 'ETH' WHEN 2 THEN 'AAPL'
                    WHEN 3 THEN 'MSFT' ELSE 'GOOGL' END AS sym,
               CASE WHEN o_orderkey % 5 < 2 THEN 'CRYPTO' ELSE 'STOCK' END AS typ
        FROM orders
    )
    SELECT md5('TXN' || tk)                                    AS hk_transaction,
           'TXN' || tk                                         AS transaction_id,
           md5('CUST' || k)                                    AS hk_customer,
           'CUST' || k                                         AS customer_id,
           CASE WHEN k % 10 = 0 THEN 'Platinum'
                WHEN k % 3 = 0  THEN 'Bronze'
                WHEN k % 3 = 1  THEN 'Silver'
                ELSE 'Gold' END                                AS customer_tier,
           CASE WHEN k % 4 = 0 THEN 'Company ' || (k % 50) END AS company_name,
           md5(sym || '-' || typ)                              AS hk_asset,
           sym                                                 AS asset_symbol,
           typ                                                 AS asset_type,
           CASE WHEN k % 2 = 0 THEN 'BUY' ELSE 'SELL' END      AS transaction_type,
           CAST(tk % 100 + 1 AS DOUBLE)                        AS quantity,
           CAST(k % 500 + 10 AS DOUBLE)                        AS price_per_unit,
           {oracle_rnd('(tk % 100 + 1) * (k % 500 + 10) * 1.0', 2)}
                                                               AS transaction_amount,
           {oracle_rnd('(tk % 50) * 0.25', 2)}                 AS fee_amount,
           CAST(o_orderdate AS DATE)                           AS data_date,
           'BATCH_DATA'                                        AS record_source
    FROM t
    """,
)
def v14_full_dag_semantic_transactions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .market import registry as market_models

    ctx = _dag_fixtures(spark, sf_dir)
    built = market_models.run(ctx, select=["semantic_transactions"])
    sem = built["semantic_transactions"]
    return sem.select(
        "hk_transaction",
        "transaction_id",
        "hk_customer",
        "customer_id",
        "customer_tier",
        "company_name",
        "hk_asset",
        "asset_symbol",
        "asset_type",
        "transaction_type",
        "quantity",
        "price_per_unit",
        rnd(F.col("transaction_amount"), 2).alias("transaction_amount"),
        rnd(F.col("fee_amount"), 2).alias("fee_amount"),
        "data_date",
        "record_source",
    )
