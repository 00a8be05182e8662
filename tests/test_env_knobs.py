"""Sizing knobs read from the environment reject bad values by name."""

import pytest

from stock_crypto_data_pipeline_public_spark.session import env_positive_int

KNOBS = [
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_BENCH_PASSES",
    "SPARK_GRAFT_BENCH_BUDGET_S",
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


def test_bench_rejects_zero_passes_before_the_jvm_starts(monkeypatch):
    """Zero passes would time nothing and report a 0 s bench."""
    import bench

    def no_spark(*args, **kwargs):
        raise AssertionError("get_spark called before the knob was checked")

    monkeypatch.setattr(bench, "get_spark", no_spark)
    monkeypatch.setenv("SPARK_GRAFT_BENCH_PASSES", "0")
    with pytest.raises(ValueError, match="SPARK_GRAFT_BENCH_PASSES"):
        bench.main()
