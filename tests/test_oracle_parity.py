"""t2-style correctness: every registered query vs its DuckDB oracle.

This mirrors the driver's gate (CORRECTNESS_r{N}.json) at sf0.001 so it runs
fast in CI; set SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01 to reproduce the
driver's exact dataset.
"""

from __future__ import annotations

import pytest

from stock_crypto_data_pipeline_public_spark.oracle_compare import diff, duck_connection
from stock_crypto_data_pipeline_public_spark.plans import registry

registry.load_all()


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_connection(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(registry.QUERIES))
def test_query_matches_oracle(name, spark, sf_dir, duck):
    df = registry.QUERIES[name](spark, sf_dir)
    if name not in registry.ORACLES:
        # rows-only check, like the driver's weaker gate
        assert df.count() >= 0
        assert len(df.schema.fields) > 0
        return
    errs = diff(name, df, duck, registry.ORACLES[name])
    assert not errs, "\n".join(errs)


def test_rows_only_sketches_never_enter_gate_window():
    """t28/t29/t39 are rows-only BY DESIGN (approximate sketches; exact
    twins t18/t17 are hash-gated) — the registry must mechanically refuse
    a rotation that would put them in the driver's first-50 hash window."""
    import pytest

    from stock_crypto_data_pipeline_public_spark.plans import registry as R

    # the rows-only sketches, nothing else
    assert R._NEVER_GATE == {"t28", "t29", "t39"}
    window = list(R.QUERIES)[:50]
    assert not [n for n in window if n.split("_", 1)[0] in R._NEVER_GATE]
    orig = R._GATE_PRIORITY
    try:
        R._GATE_PRIORITY = list(orig) + ["t28"]
        with pytest.raises(ValueError, match="rows-only sketches"):
            R.load_all()
    finally:
        R._GATE_PRIORITY = orig
        R.load_all()
