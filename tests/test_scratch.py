"""scratch.py — ephemeral scratch placement (r11 optimization round)."""

import os

import pytest

from stock_crypto_data_pipeline_public_spark.scratch import mkscratch, scratch_base, with_scratch


def test_env_override_wins(monkeypatch, tmp_path):
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_DIR", str(tmp_path))
    assert scratch_base() == str(tmp_path)
    d = mkscratch("unit_")
    try:
        assert d.startswith(str(tmp_path))
        assert os.path.isdir(d)
    finally:
        os.rmdir(d)


def test_default_is_usable_dir(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_SCRATCH_DIR", raising=False)
    base = scratch_base()
    assert os.path.isdir(base) and os.access(base, os.W_OK)
    d = mkscratch("unit_")
    try:
        assert os.path.isdir(d) and d.startswith(base)
    finally:
        os.rmdir(d)


def test_streamed_removes_scratch_after_return(spark, monkeypatch, tmp_path):
    """scratch.with_scratch: the body sees a live scratch dir; the
    returned frame is materialized, so it still collects once the dir is
    gone."""
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_DIR", str(tmp_path))
    seen = []

    @with_scratch("unit_")
    def body(spark, sf_dir, base):
        assert os.path.isdir(base) and base.startswith(str(tmp_path))
        seen.append(base)
        spark.range(3).write.parquet(f"{base}/t")
        return spark.read.parquet(f"{base}/t")

    out = body(spark, "unused")
    assert len(seen) == 1 and not os.path.exists(seen[0])
    assert sorted(r.id for r in out.collect()) == [0, 1, 2]


def test_streamed_removes_scratch_on_raise(monkeypatch, tmp_path):
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_DIR", str(tmp_path))
    seen = []

    @with_scratch("unit_")
    def body(spark, sf_dir, base):
        assert os.path.isdir(base)
        seen.append(base)
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError, match="boom"):
        body(None, "unused")
    assert len(seen) == 1 and not os.path.exists(seen[0])
