"""Table maintenance: small-file compaction and range-sorted layout.

The reference pipeline lands micro-batches every 30 s (reference
kafka_consumer.py micro-batch loop) and appends per-batch files — at 100 TB
that layout degrades into millions of small files whose open/footer cost
dominates scans. These maintenance operators are the standard lakehouse
answer (Delta OPTIMIZE / Iceberg rewrite_data_files re-expressed over plain
Parquet):

- ``compact_table``: rewrite a fragmented table into ~``target_bytes``
  files, committed atomically by ``manifest.rewrite`` like every other
  whole-table rewrite.
- ``write_range_sorted``: repartitionByRange + sortWithinPartitions so each
  parquet file owns a disjoint range of the sort key — parquet min/max
  footer stats then let ANY engine (Spark, DuckDB, Trino) skip whole files
  for range predicates. This is the layout half of predicate pushdown: the
  filter only prunes files whose stats exclude it.

Scale notes: compaction reads and writes the table once (no shuffle when
``sort_cols`` is None — ``coalesce`` only narrows partitions); the sorted
variant pays exactly one range-exchange, the price of the skip-friendly
layout. A real deployment compacts per partition-directory (date), not the
whole table at once; ``compact_table`` takes the table path it is pointed
at, so pointing it at one partition IS the per-partition form.
"""

from __future__ import annotations

import math
import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from . import manifest as MF

DEFAULT_TARGET_BYTES = 128 * 1024 * 1024


def _reject_partitioned_root(path: str, per_partition_hint: str) -> None:
    """A hive-partitioned ROOT (date=.../ subdirs) must be rewritten per
    partition directory — reading the root turns partition columns into
    data columns and a flat rewrite silently destroys the layout and
    directory-level pruning. Every in-place rewriter (compact_table,
    zorder_table) calls this before touching the table."""
    parts = [
        d
        for d in os.listdir(path)
        if "=" in d and os.path.isdir(os.path.join(path, d))
    ]
    if parts:
        raise ValueError(
            f"{path!r} is a partitioned table root ({parts[0]}, ...); "
            f"rewrite each partition directory instead — {per_partition_hint}"
        )


def _data_files(path: str) -> list[str]:
    out = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                out.append(os.path.join(root, f))
    return sorted(out)


def table_stats(path: str) -> dict:
    """File count + bytes of a parquet table directory (local/posix; the
    S3A deployment swaps this for a Hadoop FS listing)."""
    files = _data_files(path)
    return {"n_files": len(files), "bytes": sum(os.path.getsize(f) for f in files)}


def compact_table(
    spark: SparkSession,
    path: str,
    target_bytes: int = DEFAULT_TARGET_BYTES,
    sort_cols: Sequence[str] | None = None,
) -> dict:
    """Rewrite ``path`` into ``ceil(bytes / target_bytes)`` files and swap
    the result into place atomically. With ``sort_cols`` the rewrite is a
    range-partitioned sort (see ``write_range_sorted``) so compaction and
    skip-friendly clustering happen in the same single rewrite.

    Returns {"n_files_before", "n_files_after", "bytes"} so callers can
    log/alert on compaction effectiveness.
    """
    # read the live generation: a manifest root holds every retained one
    live = MF.resolve_table(path)
    _reject_partitioned_root(live, "compact_table(spark, f'{path}/<partition>')")
    before = table_stats(live)
    n_out = max(1, math.ceil(before["bytes"] / target_bytes))
    df = spark.read.parquet(live)

    def _write(out: str) -> None:
        if sort_cols:
            _range_sorted_writer(df, n_out, sort_cols).parquet(out, mode="overwrite")
        else:
            # coalesce, not repartition: narrowing requires no shuffle
            df.coalesce(n_out).write.parquet(out, mode="overwrite")

    after = table_stats(MF.rewrite(path, _write))
    return {
        "n_files_before": before["n_files"],
        "n_files_after": after["n_files"],
        "bytes": after["bytes"],
    }


def compact_partitioned_table(
    spark: SparkSession,
    path: str,
    target_bytes: int = DEFAULT_TARGET_BYTES,
    sort_cols: Sequence[str] | None = None,
) -> dict:
    """Per-partition compaction for a hive-partitioned ROOT — the layout
    :func:`compact_table` deliberately refuses (a flat rewrite would
    destroy directory pruning). Each ``key=value`` partition directory is
    rewritten independently by :func:`compact_table`, so the
    partition column values, directory layout, and every ROW are byte-
    identical afterwards — only the file count changes. This is the
    maintenance entry point for the append-log sinks that grow one file
    per micro-batch epoch inside a partitioned layout: the s12
    training-order manifest (operators/sharding.append_to_manifest,
    shard=N dirs — coordinates stay byte-stable, a trainer mid-epoch is
    never invalidated) and any date-partitioned incremental sink.
    Idempotent: a second run finds one right-sized file per partition and
    rewrites it to itself. Multi-level layouts (date=.../hour=...) recurse
    to the LEAF partition dirs — each leaf is one independent rewrite, so
    a crash mid-run leaves every partition either old-complete or
    new-complete, never mixed. Returns per-leaf stats plus totals.

    Mixed layouts FAIL LOUDLY: data files sitting directly
    beside ``key=value`` dirs (at the root or any intermediate level) are
    a corrupt-or-unpartitioned layout this rewrite would silently half-
    compact — raise like the no-partitions case does, instead of quietly
    skipping them. Dot/underscore-prefixed entries (_SUCCESS, .crc,
    _spark_metadata) are commit markers, not data, and are ignored."""
    entries = os.listdir(path)
    parts = sorted(
        d for d in entries if "=" in d and os.path.isdir(os.path.join(path, d))
    )
    if not parts:
        raise ValueError(
            f"{path!r} has no key=value partition dirs; use compact_table"
        )
    loose = sorted(
        f
        for f in entries
        if os.path.isfile(os.path.join(path, f)) and not f.startswith((".", "_"))
    )
    if loose:
        raise ValueError(
            f"{path!r} mixes data files {loose[:3]} with key=value partition "
            "dirs — refusing to partially compact a corrupt layout"
        )
    per: dict[str, dict] = {}
    for p in parts:
        sub = os.path.join(path, p)
        nested = any(
            "=" in d and os.path.isdir(os.path.join(sub, d))
            for d in os.listdir(sub)
        )
        if nested:
            inner = compact_partitioned_table(spark, sub, target_bytes, sort_cols)
            for k, v in inner["partitions"].items():
                per[f"{p}/{k}"] = v
        else:
            per[p] = compact_table(spark, sub, target_bytes, sort_cols)
    return {
        "n_partitions": len(per),
        "n_files_before": sum(s["n_files_before"] for s in per.values()),
        "n_files_after": sum(s["n_files_after"] for s in per.values()),
        "partitions": per,
    }


def _range_sorted_writer(df: DataFrame, n: int, sort_cols: Sequence[str]):
    return (
        df.repartitionByRange(n, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .write
    )


def write_range_sorted(
    df: DataFrame,
    path: str,
    sort_cols: Sequence[str],
    n_partitions: int,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` so each output file owns a (near-)disjoint range of
    ``sort_cols``: one range exchange + an in-partition sort. Parquet
    min/max footer stats on the sort key then exclude whole files from
    range scans — the layout that makes ``WHERE ts BETWEEN ...`` read
    O(result) files instead of O(table). repartitionByRange samples the
    key distribution, so skewed keys still produce balanced files."""
    _range_sorted_writer(df, n_partitions, sort_cols).parquet(path, mode=mode)


# --------------------------------------------------------------------------
# Z-order (Morton) clustering — the multi-column file-skipping layout
# (Delta OPTIMIZE ZORDER / Iceberg sort-order z-curve, re-expressed over
# plain parquet). A LINEAR sort (write_range_sorted) gives disjoint per-file
# ranges only on the LEADING key; a predicate on the second column still
# intersects every file. Interleaving the bits of each column's quantile
# bucket makes each file cover a small hyper-rectangle of the key space, so
# footer min/max stats prune files for predicates on ANY clustered column.
# --------------------------------------------------------------------------


def _bucket_of(x, boundaries: Sequence[float]):
    """searchsorted as a JVM higher-order fold: count boundaries ≤ x over a
    literal array — no UDF, whole-stage-codegen friendly. NULLs fold to
    bucket 0 (they carry no skip signal either way)."""
    from pyspark.sql import functions as F

    arr = F.array(*[F.lit(float(b)) for b in boundaries])
    xd = x.cast("double")
    return F.aggregate(
        arr,
        F.lit(0),
        lambda acc, b: acc + F.when(xd >= b, F.lit(1)).otherwise(F.lit(0)),
    )


def _morton(buckets, bits: int):
    """Interleave ``bits`` bits of each bucket id into one long. Bit slots
    are disjoint so the combine is a plain sum of shifted bits — a pure
    column expression (n_cols × bits terms), no Python per row."""
    from pyspark.sql import functions as F

    n = len(buckets)
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, c in enumerate(buckets):
            bit = F.shiftright(c.cast("long"), i).bitwiseAND(F.lit(1))
            z = z + F.shiftleft(bit, i * n + j)
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    zorder_cols: Sequence[str],
    n_partitions: int,
    bits: int = 8,
    mode: str = "overwrite",
    rel_err: float = 0.01,
) -> None:
    """Cluster ``df`` on the z-curve over ``zorder_cols`` (numeric) and
    write ``n_partitions`` files, each covering a compact hyper-rectangle
    of the key space.

    Plan cost: ONE sampled quantile pass (``approxQuantile`` — all columns
    in a single job, driver gets ≤ cols × 2^bits doubles) + ONE range
    exchange on the derived key, i.e. write_range_sorted's price plus a
    cheap stats job. Quantile bucketing (not min/max width) keeps the curve
    balanced under skew: each bucket holds ~equal row mass, so files stay
    equal-sized even when the value distribution is lopsided. The key is
    dropped before the write — files carry only the original columns, and
    any engine's footer-stats pruning (Spark, DuckDB, Trino) benefits with
    no reader-side cooperation."""
    from pyspark.sql import functions as F

    zorder_cols = list(zorder_cols)
    if len(zorder_cols) * bits > 62:
        # the interleaved key must fit a signed long; overflowing into the
        # sign bit would silently wrap the curve's order
        raise ValueError(
            f"{len(zorder_cols)} cols x {bits} bits = "
            f"{len(zorder_cols) * bits} key bits > 62; lower bits"
        )
    probs = [(i + 1) / (1 << bits) for i in range((1 << bits) - 1)]
    all_bounds = df.approxQuantile(zorder_cols, probs, rel_err)
    buckets = [
        _bucket_of(F.col(c), bounds)
        for c, bounds in zip(zorder_cols, all_bounds)
    ]
    key, tile = "__zkey__", "__ztile__"
    # Range-partition on the morton TILE (top ceil(log2 n) bits), not the
    # raw key: sampled range bounds then fall only BETWEEN whole tiles, so
    # every file's bounding box is 1-2 aligned hyper-rectangles. Splitting
    # on the raw key lets a file straddle a major-bit transition of the
    # curve, where its box blows up to the full domain on one column.
    tile_bits = max(1, (n_partitions - 1).bit_length())
    shift = max(0, len(zorder_cols) * bits - tile_bits)
    (
        df.withColumn(key, _morton(buckets, bits))
        .withColumn(tile, F.shiftright(F.col(key), shift))
        .repartitionByRange(n_partitions, tile)
        .sortWithinPartitions(key)
        .drop(key, tile)
        .write.parquet(path, mode=mode)
    )


def zorder_table(
    spark: SparkSession,
    path: str,
    zorder_cols: Sequence[str],
    n_partitions: int,
    bits: int = 8,
) -> dict:
    """In-place z-order rewrite of a parquet table (Delta OPTIMIZE
    ZORDER parity): guard against partitioned roots, cluster into
    ``n_partitions`` tile-aligned files (``write_zordered``), and swap the
    result in atomically through ``manifest.rewrite``, like
    ``compact_table``. Returns the before/after file stats."""
    live = MF.resolve_table(path)
    _reject_partitioned_root(
        live, "zorder_table(spark, f'{path}/<partition>', ...)"
    )
    before = table_stats(live)
    df = spark.read.parquet(live)
    after = table_stats(MF.rewrite(
        path, lambda out: write_zordered(df, out, zorder_cols, n_partitions, bits)
    ))
    return {
        "n_files_before": before["n_files"],
        "n_files_after": after["n_files"],
        "bytes": after["bytes"],
    }


def delete_where(
    spark: SparkSession,
    path: str,
    condition,
) -> dict:
    """``DELETE FROM <path> WHERE <condition>`` over a plain-parquet or
    manifest table — the GDPR/right-to-erasure maintenance primitive the
    compact/zorder family was missing. SQL DELETE semantics: rows where
    ``condition`` evaluates TRUE are removed; FALSE **and NULL** rows are
    kept (``~coalesce(cond, false)``). The surviving table is fully
    written outside the live state and committed by ``manifest.rewrite``.
    On a manifest table the pre-delete state stays readable via
    ``manifest.read_table(path, generation=...)`` until GC: the audit trail
    a deletion workflow wants, which a STRICT erasure removes with
    ``manifest.vacuum(path, keep_history=0)``.

    ``condition`` is a Column or a SQL string (``F.expr``-parsed). Row
    counts cost a zero-column parquet scan each (cheap — no data pages
    decoded, but proportional to row-group count; drop them behind a flag
    if footer walks ever matter at your scale). Returns
    {"n_before", "n_deleted", "n_after"}.
    """
    from pyspark.sql import Column
    from pyspark.sql import functions as F

    cond = F.expr(condition) if isinstance(condition, str) else condition
    if not isinstance(cond, Column):
        raise TypeError(f"condition must be a Column or SQL string, got {condition!r}")
    live = MF.resolve_table(path)
    _reject_partitioned_root(live, "delete_where(spark, f'{path}/<partition>', ...)")
    df = spark.read.parquet(live)
    n_before = df.count()  # parquet count pushdown — metadata only
    kept = df.filter(~F.coalesce(cond, F.lit(False)))

    after_dir = MF.rewrite(path, lambda out: kept.write.mode("overwrite").parquet(out))
    n_after = spark.read.parquet(after_dir).count()
    return {
        "n_before": n_before,
        "n_deleted": n_before - n_after,
        "n_after": n_after,
    }
