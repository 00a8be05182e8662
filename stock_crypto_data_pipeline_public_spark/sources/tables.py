"""Parquet table loaders for the driver-generated test datasets.

The reference stages CSV in MinIO and loads into Postgres/Snowflake with
per-column safe casts (reference a1_4_batch_s3_to_snowflake.py:372-467,
a2_0_crypto_common.py:198-226). Here the storage layer is columnar Parquet,
read declaratively so Catalyst gets predicate pushdown + column pruning for
free: every query should show ``PushedFilters`` / a narrow ``ReadSchema`` in
``.explain("formatted")``.

At 100 TB, these tables would be date-partitioned directories
(``.../lineitem/l_shipdate_month=.../part-*.parquet``); the loader takes any
directory or file path, so the same code serves both layouts.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: every table the driver generates (TESTDATA.md)
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: dimension tables small enough to broadcast at any realistic scale factor
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part"})


def local_rows(spark: SparkSession, rows: list, schema) -> DataFrame:
    """Single-partition local relation for a BOUNDED driver-side row list
    (seed centroids, query vectors, sentinels, codebooks — ≤ a few k rows).

    ``spark.createDataFrame(list)`` parallelizes into
    ``defaultParallelism`` Python-RDD slices (32 locally), and every
    consumer then pays one JVM→Python worker round-trip PER SLICE — worst
    when a ``coalesce(1)`` write funnels all slices through one task,
    which pays the ~32 round-trips SEQUENTIALLY (a thread dump of a
    ONE-ROW sentinel write showed the write task parked in
    ``PythonRunner.ReaderInputStream.read`` the whole time).
    One slice = one round-trip, and downstream stages get one healthy
    partition instead of 32 near-empty ones (guide §4.1 — control how
    often the Python boundary is crossed; §2.4 — don't fan out rows you
    will immediately re-funnel). Values are identical to the multi-slice
    form — same verifier, same conversion path, only the slicing changes.

    Failure-mode note: routing rows through ``parallelize``
    means schema verification that ``createDataFrame(list)`` performed
    eagerly on the driver happens lazily on executors — a malformed row
    (wrong type in a sentinel tuple) surfaces as a Py4J job failure at
    ACTION time, not an immediate TypeError at construction. Accepted for
    these bounded literal call sites, whose rows are built adjacent to
    the schema they must match; if a call site ever takes externally
    shaped rows, pre-verify on the driver before passing them here."""
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one test table. Plain ``spark.read.parquet`` — no inference, no
    collect; pushdown-capable scan.

    ``events.ts`` is stored as parquet TIMESTAMP(NANOS), which Spark's
    vectorized reader rejects; with ``spark.sql.legacy.parquet.nanosAsLong``
    (set in session.py) it arrives as nanos-since-epoch and is normalized here
    to a microsecond TimestampType (the driver's data is μs-grained, so the
    truncation is lossless — verified in tests).
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for field in df.schema.fields:
        if name == "events" and field.name == "ts" and field.dataType.typeName() in ("long", "bigint"):
            # integer division (ts div 1000): truncation matches DuckDB's
            # ns→μs read; float division would lose precision at 1e18 ns
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


#: source bytes per task of a :func:`fan_out`, by the per-row cost of the
#: work after the spread: raster/video decode, 64-dim vector scoring and
#: md5 gram generation
HEAVY = 16 * 1024
#: tokenize, shingle and regex batteries over the documents corpus
TEXT = 32 * 1024
#: light media decode ahead of an Arrow-batched Python stage
MEDIA = 128 * 1024


def fan_out(df: DataFrame, bytes_per_task: int, *keys) -> DataFrame:
    """``df`` repartitioned to one partition per ``bytes_per_task`` of its
    plan-stat size, capped at ``defaultParallelism``; hash-partitioned on
    ``keys`` when given, round-robin otherwise.

    The one place a scan spread is sized. A single-file input is one scan
    task, so heavy per-row work after it would run single-threaded; a flat
    ``defaultParallelism`` instead gives a small input near-empty
    partitions whose per-task and Python-worker overhead outweighs the
    work. Sizing from the input's bytes gives a small input a few full
    partitions and a large one every core. The exchange runs for a
    multi-file input too, even when its scan is already parallel."""
    size = int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    n = min(size // bytes_per_task + 1, df.sparkSession.sparkContext.defaultParallelism)
    return df.repartition(n, *keys)


def register_views(spark: SparkSession, sf_dir: str, names=TABLES) -> None:
    """Register temp views so plans can also be expressed via ``spark.sql``."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
