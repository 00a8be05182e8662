"""Pointer-file manifest commits (operators/manifest.py): readers must see
a complete table at every instant, across every crash window — without
relying on directory rename (the primitive object stores don't make
atomic)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from stock_crypto_data_pipeline_public_spark.operators import manifest as MF
from stock_crypto_data_pipeline_public_spark.operators.incremental import (
    merge_upsert,
)


def _write(df):
    return lambda gen: df.write.mode("overwrite").parquet(gen)


def _ids(spark, path):
    return sorted(r["id"] for r in MF.read_table(spark, path).collect())


def test_commit_read_roundtrip_and_plain_passthrough(spark, tmp_path):
    path = str(tmp_path / "t")
    MF.commit_generation(path, _write(spark.range(5)))
    assert _ids(spark, path) == list(range(5))
    assert MF.is_manifest_table(path)
    # plain parquet dirs resolve to themselves — readers are layout-agnostic
    plain = str(tmp_path / "plain")
    spark.range(3).write.parquet(plain)
    assert MF.resolve_table(plain) == plain
    assert sorted(r["id"] for r in MF.read_table(spark, plain).collect()) == [0, 1, 2]


def test_crash_during_generation_write_leaves_old_table_live(spark, tmp_path):
    path = str(tmp_path / "t")
    MF.commit_generation(path, _write(spark.range(5)))

    def exploding(gen):
        spark.range(100).write.parquet(gen)  # partial new data lands...
        raise RuntimeError("writer died mid-generation")

    with pytest.raises(RuntimeError):
        MF.commit_generation(path, exploding)
    # ...but the pointer never moved: readers see the old complete table
    assert _ids(spark, path) == list(range(5))
    # recovery is just the next successful commit; it also GCs the orphan
    MF.commit_generation(path, _write(spark.range(7)))
    assert _ids(spark, path) == list(range(7))
    gens = [d for d in os.listdir(path) if d.startswith("gen-")]
    assert len(gens) == 2  # new + kept previous; the orphan is gone


def test_crash_between_write_and_pointer_flip(spark, tmp_path, monkeypatch):
    """The exact window the directory-rename swap cannot protect on object
    stores: generation fully written, commit not yet flipped. Readers must
    still see the OLD table; a retry completes the commit."""
    path = str(tmp_path / "t")
    MF.commit_generation(path, _write(spark.range(5)))

    real_replace = os.replace

    def dying_replace(src, dst):
        raise OSError("crashed before the manifest PUT")

    monkeypatch.setattr(MF.os, "replace", dying_replace)
    with pytest.raises(OSError, match="crashed before the manifest"):
        MF.commit_generation(path, _write(spark.range(9)))
    monkeypatch.setattr(MF.os, "replace", real_replace)
    # old table still live and complete
    assert _ids(spark, path) == list(range(5))
    # retry (the restarted job) commits; the crashed orphan is GC'd
    MF.commit_generation(path, _write(spark.range(9)))
    assert _ids(spark, path) == list(range(9))


def test_gc_keeps_current_plus_previous_only(spark, tmp_path):
    path = str(tmp_path / "t")
    for n in (3, 4, 5, 6):
        MF.commit_generation(path, _write(spark.range(n)))
    gens = sorted(d for d in os.listdir(path) if d.startswith("gen-"))
    assert len(gens) == 2, "current + previous; older generations GC'd"
    assert _ids(spark, path) == list(range(6))
    # the retained previous generation is itself a complete table
    prev = os.path.join(path, gens[0])
    assert sorted(r["id"] for r in spark.read.parquet(prev).collect()) == list(range(5))


def test_corrupt_pointer_raises_instead_of_reading_empty(spark, tmp_path):
    path = str(tmp_path / "t")
    MF.commit_generation(path, _write(spark.range(5)))
    with open(os.path.join(path, MF.CURRENT), "w") as f:
        f.write("gen-999999\n")
    with pytest.raises(ValueError, match="missing generation"):
        MF.resolve_table(path)


def test_merge_upsert_keeps_plain_layout_and_creates_manifest_tables(spark, tmp_path):
    """merge_upsert commits through manifest.rewrite, which keeps a table's
    layout: a merge into a seeded plain table keeps its rows and stays
    plain, a merge into a new path creates a manifest table, and both hold
    the same last-wins, source-preferred-on-ties state."""
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 10), (3, "c", 10)], "k int, v string, ver int"
    )
    upd = spark.createDataFrame(
        [(2, "B", 20), (3, "C", 10), (4, "d", 5)], "k int, v string, ver int"
    )
    plain = str(tmp_path / "plain")
    base.write.parquet(plain)
    merge_upsert(spark, upd, plain, ["k"], "ver")
    fresh = str(tmp_path / "fresh")
    merge_upsert(spark, base, fresh, ["k"], "ver")
    merge_upsert(spark, upd, fresh, ["k"], "ver")

    assert not MF.is_manifest_table(plain)
    assert MF.is_manifest_table(fresh)
    got_plain = sorted(map(tuple, spark.read.parquet(plain).collect()))
    got_fresh = sorted(map(tuple, MF.read_table(spark, fresh).collect()))
    assert got_plain == got_fresh == [
        (1, "a", 10), (2, "B", 20), (3, "C", 10), (4, "d", 5)
    ]


def test_rewrite_of_a_plain_table_ignores_a_crashed_rewrites_staging(spark, tmp_path):
    """A ``.__staging__`` dir left by a crashed rewrite must not leak into
    the next one: a write_fn that adds one partition (compact_sketch's
    shape) would otherwise swap in the stale partitions beside it."""
    path = str(tmp_path / "t")
    spark.range(3).write.parquet(f"{path}/epoch=1")
    spark.range(100).write.parquet(f"{path}.__staging__/epoch=0")  # the crash
    live = MF.rewrite(path, lambda out: spark.range(5).write.parquet(f"{out}/epoch=2"))
    assert live == path and not MF.is_manifest_table(path)
    assert sorted(os.listdir(path)) == ["epoch=2"]
    assert not os.path.exists(path + ".__staging__")


@pytest.mark.parametrize("crash", ["partial_write", "complete_write", "pointer_flip"])
def test_merge_upsert_retries_a_crashed_first_commit_as_a_manifest_table(
    spark, tmp_path, monkeypatch, crash
):
    """A first merge into a new path that dies mid-commit leaves the path
    existing but with no ``_current``: a partial or complete orphan
    ``gen-*`` dir, or a ``_current.tmp`` from a failed flip. The replayed
    merge (a foreachBatch epoch retry) must still see a new table — not
    read the orphan, not turn the path into a plain table — and commit a
    manifest table holding exactly the merged rows."""
    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a", 1), (2, "b", 1)], "k int, v string, ver int")
    rewrite = MF.rewrite

    def crashing_rewrite(p, write_fn):
        def crashing_write(out):
            if crash == "partial_write":
                os.makedirs(os.path.join(out, "_temporary"))
            else:
                write_fn(out)
            if crash != "pointer_flip":
                raise RuntimeError("job aborted")

        return rewrite(p, crashing_write)

    def failing_flip(p, text):
        with open(p + ".tmp", "w") as f:
            f.write(text)
        raise OSError("pointer PUT failed")

    monkeypatch.setattr(MF, "rewrite", crashing_rewrite)
    if crash == "pointer_flip":
        monkeypatch.setattr(MF, "replace_file", failing_flip)
    with pytest.raises((RuntimeError, OSError)):
        merge_upsert(spark, df, path, ["k"], "ver")
    assert os.path.isdir(path) and not MF.is_manifest_table(path)
    assert MF.live_table(path) is None
    monkeypatch.undo()

    merge_upsert(spark, df, path, ["k"], "ver")
    assert MF.is_manifest_table(path)
    got = sorted(map(tuple, MF.read_table(spark, path).collect()))
    assert got == [(1, "a", 1), (2, "b", 1)]
    # the crashed commit's leftovers are gone: one generation, no tmp pointer
    assert MF._generations(path) == [os.path.basename(MF.resolve_table(path))]
    assert not os.path.exists(os.path.join(path, MF.CURRENT + ".tmp"))


def test_merge_upsert_into_an_empty_dir_creates_a_manifest_table(spark, tmp_path):
    path = str(tmp_path / "empty")
    os.makedirs(path)
    assert MF.live_table(path) is None
    df = spark.createDataFrame([(1, 1)], "k int, ver int")
    merge_upsert(spark, df, path, ["k"], "ver")
    assert MF.is_manifest_table(path)
    assert MF.read_table(spark, path).count() == 1


def test_compact_and_zorder_operate_through_the_pointer(spark, tmp_path):
    """Maintenance on a manifest table must go through the commit protocol
    — reading the root directly would scan every retained generation
    (duplicate rows), and a directory swap would fight the pointer."""
    from stock_crypto_data_pipeline_public_spark.operators.maintenance import (
        compact_table,
        zorder_table,
    )

    path = str(tmp_path / "t")
    df = spark.range(5000).select(
        F.col("id"), (F.col("id") % 7).alias("x"), (F.col("id") % 11).alias("y")
    )
    MF.commit_generation(path, lambda gen: df.repartition(16).write.parquet(gen))
    rows = sorted(r["id"] for r in MF.read_table(spark, path).collect())

    stats = compact_table(spark, path, target_bytes=1 << 40)
    assert stats["n_files_before"] >= 16 and stats["n_files_after"] == 1
    # pointer flipped to a NEW generation holding the identical rows once
    assert sorted(r["id"] for r in MF.read_table(spark, path).collect()) == rows
    gens = sorted(d for d in os.listdir(path) if d.startswith("gen-"))
    assert len(gens) == 2  # compacted gen + retained previous

    z = zorder_table(spark, path, ["x", "y"], n_partitions=4)
    assert z["n_files_after"] >= 1
    assert sorted(r["id"] for r in MF.read_table(spark, path).collect()) == rows


def test_time_travel_and_history(spark, tmp_path):
    """Retained generations are readable by number (shallow time travel,
    bounded by keep_history like a vacuumed Delta table); history lists
    every commit newest-first with its retention flag; GC'd generations
    raise instead of silently reading wrong data."""
    path = str(tmp_path / "t")
    for n in (3, 4, 5):
        MF.commit_generation(path, _write(spark.range(n)), keep_history=2)
    h = MF.history(path)
    assert [e["generation"] for e in h] == [3, 2, 1]
    assert all(e["retained"] for e in h)
    # read an older state by generation number
    assert sorted(
        r["id"] for r in MF.read_table(spark, path, generation=1).collect()
    ) == list(range(3))
    # a later commit with the default keep_history=1 vacuums generation 1
    MF.commit_generation(path, _write(spark.range(6)))
    h = MF.history(path)
    assert [e["generation"] for e in h] == [4, 3, 2, 1]
    assert [e["generation"] for e in h if e["retained"]] == [4, 3]
    with pytest.raises(ValueError, match="unknown, uncommitted, or already"):
        MF.read_table(spark, path, generation=1)
    assert _ids(spark, path) == list(range(6))


def test_history_heals_after_crash_between_flip_and_log(spark, tmp_path, monkeypatch):
    """A crash after the pointer flip but before the log append must not
    cost the live generation its GC protection or history row — the next
    commit heals the log."""
    path = str(tmp_path / "t")
    MF.commit_generation(path, _write(spark.range(3)))

    # crash exactly between flip and log append: only for gen-2's commit
    real_open = open
    state = {"armed": False}

    def tracking_open(file, mode="r", *a, **k):
        if state["armed"] and str(file).endswith(MF.LOG) and "a" in mode:
            state["armed"] = False
            raise OSError("crashed before the log append")
        return real_open(file, mode, *a, **k)

    import builtins

    monkeypatch.setattr(builtins, "open", tracking_open)
    state["armed"] = True
    with pytest.raises(OSError, match="crashed before the log append"):
        MF.commit_generation(path, _write(spark.range(4)))
    monkeypatch.setattr(builtins, "open", real_open)
    # the flip happened: gen-2 is live but unlogged
    assert _ids(spark, path) == list(range(4))
    assert [e["generation"] for e in MF.history(path)] == [1]
    # next commit heals: gen-2 gains its history row and survives GC
    MF.commit_generation(path, _write(spark.range(5)))
    h = MF.history(path)
    assert [e["generation"] for e in h] == [3, 2, 1]
    assert [e["generation"] for e in h if e["retained"]] == [3, 2]
    assert sorted(
        r["id"] for r in MF.read_table(spark, path, generation=2).collect()
    ) == list(range(4))


def test_property_random_crash_sequences_never_lose_a_committed_state(
    spark, tmp_path, monkeypatch
):
    """Stateful property: across a random sequence of commits where each
    may crash in any window (during generation write, before the pointer
    flip, before the log append), a reader ALWAYS sees exactly the last
    successfully-flipped state, and the table self-heals on the next
    successful commit. Deterministic seed, 3 scenarios x 12 steps."""
    import os
    import random

    real_replace = os.replace
    real_open = open

    for seed in (1, 2, 3):
        rng = random.Random(seed)
        path = str(tmp_path / f"t{seed}")
        expected = None  # ids the reader must see (None = table absent)
        for step in range(12):
            n = rng.randrange(1, 30)
            crash = rng.choice(["none", "write", "flip", "log"])

            def write_fn(gen, n=n, crash=crash):
                spark.range(n).write.parquet(gen)
                if crash == "write":
                    raise RuntimeError("writer crash")

            if crash == "flip":
                def dying_replace(src, dst):
                    raise OSError("flip crash")
                monkeypatch.setattr(MF.os, "replace", dying_replace)
            elif crash == "log":
                def dying_open(file, mode="r", *a, **k):
                    if str(file).endswith(MF.LOG) and "a" in mode:
                        raise OSError("log crash")
                    return real_open(file, mode, *a, **k)
                import builtins
                monkeypatch.setattr(builtins, "open", dying_open)

            try:
                MF.commit_generation(path, write_fn)
                committed = True
            except (RuntimeError, OSError):
                committed = False
            finally:
                monkeypatch.setattr(MF.os, "replace", real_replace)
                import builtins
                monkeypatch.setattr(builtins, "open", real_open)

            # the flip IS the commit: 'log' crashes happen after it
            if crash in ("none", "log"):
                assert committed or crash == "log"
                expected = n
            if crash == "log":
                expected = n  # flipped before the crash

            if expected is not None:
                assert _ids(spark, path) == list(range(expected)), (
                    seed, step, crash
                )


def test_time_travel_refuses_uncommitted_orphan_generations(spark, tmp_path, monkeypatch):
    """A directory left by a crashed commit may hold a PARTIAL write —
    time travel must refuse it until a successful commit either GCs it or
    (never) logs it."""
    path = str(tmp_path / "t")
    MF.commit_generation(path, _write(spark.range(3)))

    def dying_replace(src, dst):
        raise OSError("flip crash")

    monkeypatch.setattr(MF.os, "replace", dying_replace)
    with pytest.raises(OSError):
        MF.commit_generation(path, _write(spark.range(9)))
    monkeypatch.setattr(MF.os, "replace", os.replace)
    # gen-000002 exists on disk but was never committed
    assert os.path.isdir(os.path.join(path, "gen-000002"))
    with pytest.raises(ValueError, match="uncommitted"):
        MF.read_table(spark, path, generation=2)
    # the committed generation still reads fine
    assert sorted(
        r["id"] for r in MF.read_table(spark, path, generation=1).collect()
    ) == [0, 1, 2]


# --------------------------------------------------------------------------
# vacuum: standalone retention tightening (no commit)
# --------------------------------------------------------------------------
def test_vacuum_tightens_retention(spark, tmp_path):
    from stock_crypto_data_pipeline_public_spark.operators import manifest as MF

    path = str(tmp_path / "t")
    for k in range(3):  # gens 1..3, default keep_history=1 retains 2 and 3
        MF.commit_generation(
            path, lambda gen, k=k: spark.range(10 + k).write.parquet(gen)
        )
    assert [h["generation"] for h in MF.history(path) if h["retained"]] == [3, 2]
    stats = MF.vacuum(path, keep_history=0)
    assert stats["removed"] == ["gen-000002"]
    assert stats["retained"] == ["gen-000003"]
    # live table unaffected; the vacuumed generation is no longer readable
    assert MF.read_table(spark, path).count() == 12
    with pytest.raises(ValueError, match="GC'd"):
        MF.read_table(spark, path, generation=2)
    # history keeps the full commit record, flagged unretained
    assert [h["generation"] for h in MF.history(path)] == [3, 2, 1]
    assert [h["generation"] for h in MF.history(path) if h["retained"]] == [3]


def test_vacuum_removes_crashed_orphan_and_guards_plain_tables(spark, tmp_path):
    from stock_crypto_data_pipeline_public_spark.operators import manifest as MF

    path = str(tmp_path / "t")
    MF.commit_generation(path, lambda gen: spark.range(5).write.parquet(gen))
    orphan = os.path.join(path, "gen-000099")  # crashed writer, never flipped
    os.makedirs(orphan)
    stats = MF.vacuum(path, keep_history=1)
    assert stats["removed"] == ["gen-000099"]
    assert MF.read_table(spark, path).count() == 5

    plain = str(tmp_path / "plain")
    spark.range(3).write.parquet(plain)
    with pytest.raises(ValueError, match="not a manifest table"):
        MF.vacuum(plain)
