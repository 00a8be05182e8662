"""bench.time_query bills the whole query call: work done while the query
builds its DataFrame counts, not only the noop write."""

import time

import bench
from stock_crypto_data_pipeline_public_spark.plans import registry


def test_time_query_bills_build_and_exec(spark, monkeypatch):
    def slow_build(spark, sf_dir):
        time.sleep(0.3)
        return spark.range(10)

    monkeypatch.setitem(registry.QUERIES, "zz_slow_build", slow_build)
    build_s, exec_s, df = bench.time_query(spark, "zz_slow_build", "unused")
    assert build_s >= 0.3
    assert exec_s > 0
    assert df.count() == 10
