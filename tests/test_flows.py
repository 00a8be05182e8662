"""End-to-end batch flow test: faker → CSV landing → typed raw tables →
vault/mart DAG → quality suite, plus idempotent re-run and a second
incremental batch (flows.py = the reference's Prefect orchestration
collapsed into one Spark driver program)."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from stock_crypto_data_pipeline_public_spark.flows import BatchFlow
from stock_crypto_data_pipeline_public_spark.sources.faker import MarketDataFaker


@pytest.fixture(scope="module")
def flow(tmp_path_factory):
    base = tmp_path_factory.mktemp("wh")
    return BatchFlow(landing_dir=str(base / "landing"), warehouse_dir=str(base / "warehouse"))


@pytest.fixture(scope="module")
def first_run(spark, flow):
    raw = MarketDataFaker(seed=11, n_corporates=6, n_customers=30, n_transactions=120,
                          n_price_days=8, n_news=10).generate(spark)
    flow.land(raw, datetime(2024, 2, 1, 20, 0, 0))
    appended = flow.ingest_raw(spark)
    return raw, appended


def test_ingest_appends_all_tables(spark, first_run, flow):
    raw, appended = first_run
    assert set(appended) == set(raw)
    for name, df in raw.items():
        # all distinct keyed rows landed (dropDuplicates on the load keys;
        # load_timestamp is re-stamped at ingest so key dedup is per batch)
        assert appended[name] > 0
        got = spark.read.parquet(f"{flow.warehouse_dir}/{name}")
        assert set(got.columns) == set(df.columns)


def test_typed_round_trip(spark, first_run, flow):
    back = spark.read.parquet(f"{flow.warehouse_dir}/raw_transaction_personal")
    dtypes = dict(back.dtypes)
    assert dtypes["quantity"] == "decimal(20,8)"
    assert dtypes["transaction_amount"] == "decimal(20,2)"
    assert dtypes["transaction_timestamp"] == "timestamp"
    assert dtypes["data_date"] == "date"
    assert back.filter(F.col("transaction_id").isNull()).count() == 0


def test_load_raw_tables_starts_no_job(spark, first_run, flow):
    """The raw tables are read under their declared schemas: loading them
    infers nothing from the parquet footers, so it runs no Spark job, and
    each table reads back with the columns and types it was written with."""
    from stock_crypto_data_pipeline_public_spark.flows import load_raw_tables

    sc = spark.sparkContext
    sc.setJobGroup("load_raw_tables", "load_raw_tables")
    try:
        raw = load_raw_tables(spark, flow.warehouse_dir)
        assert list(sc.statusTracker().getJobIdsForGroup("load_raw_tables")) == []
    finally:
        sc.setJobGroup(None, None)
    assert set(raw) == set(first_run[0])
    for name, df in raw.items():
        inferred = spark.read.parquet(f"{flow.warehouse_dir}/{name}")
        assert df.dtypes == inferred.dtypes, name
        assert df.count() == inferred.count() > 0, name


def test_rerun_is_idempotent(spark, first_run, flow):
    # same landing files -> same run-suffix load stamps -> zero new rows
    appended = flow.ingest_raw(spark)
    assert all(n == 0 for n in appended.values()), appended


def test_transform_and_quality(spark, first_run, flow):
    ctx = flow.transform(spark, persist=True)
    assert ctx["fct_transactions"].count() > 0
    results = flow.test(ctx, as_of="2024-03-01")
    failures = {k: v for k, v in results.items() if v != 0}
    assert failures == {}, failures


def test_second_batch_increments(spark, flow, first_run):
    # a later generator run lands new files; only new business keys append
    raw2 = MarketDataFaker(seed=99, n_corporates=3, n_customers=10, n_transactions=40,
                           n_price_days=8, n_news=5).generate(spark)
    before = spark.read.parquet(f"{flow.warehouse_dir}/raw_customers").count()
    flow.land(raw2, datetime(2024, 2, 2, 20, 0, 0))
    appended = flow.ingest_raw(spark)
    assert appended["raw_customers"] > 0
    after = spark.read.parquet(f"{flow.warehouse_dir}/raw_customers").count()
    assert after == before + appended["raw_customers"]
    # the DAG still builds green over the merged warehouse
    ctx = flow.transform(spark, select=["hub_customer", "dim_customer"])
    assert ctx["dim_customer"].count() == ctx["hub_customer"].count()
