"""Sizing knobs read from the environment reject bad values by name."""

import pytest

from stock_crypto_data_pipeline_public_spark.session import env_positive_int

KNOBS = [
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRAIN_PARTITIONS",
    "SPARK_GRAFT_PY_DRAIN_PARTITIONS",
    "SPARK_GRAFT_DOCS_PART_BYTES",
    "SPARK_GRAFT_MEDIA_PART_BYTES",
    "SPARK_GRAFT_MEDIA_PART_BYTES_HEAVY",
]


@pytest.mark.parametrize("name", KNOBS)
@pytest.mark.parametrize("raw", ["0", "-2", "1.5", "two", "4k"])
def test_bad_value_raises_naming_the_variable(monkeypatch, name, raw):
    monkeypatch.setenv(name, raw)
    with pytest.raises(ValueError, match=name):
        env_positive_int(name, 7)


@pytest.mark.parametrize("name", KNOBS)
def test_good_value_and_default(monkeypatch, name):
    monkeypatch.setenv(name, " 12 ")
    assert env_positive_int(name, 7) == 12
    monkeypatch.setenv(name, "")
    assert env_positive_int(name, 7) == 7
    monkeypatch.delenv(name)
    assert env_positive_int(name, 7) == 7


def test_drain_partitions_knob_is_checked(spark, monkeypatch):
    """The drain knob is read through the helper: a zero fails before
    the session conf is touched."""
    from stock_crypto_data_pipeline_public_spark.plans.streamops import _drain_shuffle

    before = spark.conf.get("spark.sql.shuffle.partitions")
    monkeypatch.setenv("SPARK_GRAFT_DRAIN_PARTITIONS", "0")
    with pytest.raises(ValueError, match="SPARK_GRAFT_DRAIN_PARTITIONS"):
        with _drain_shuffle(spark):
            pass
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
