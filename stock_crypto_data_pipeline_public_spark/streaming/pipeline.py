"""Structured Streaming path (SURVEY.md §2.9, §3.2).

The reference's stream is: Kafka JSON → consumer micro-batches →
``INSERT ... ON CONFLICT DO NOTHING`` into raw tables → 5-minute incremental
dbt run (reference kafka_consumer.py:447-563, prefect.yaml:39-40). On Spark
that collapses to one engine:

    readStream (kafka | files) → from_json(explicit schema)
        → foreachBatch(incremental vault append)     # exactly-once + dedup
        → downstream marts recompute or stream aggs with watermarks

Kafka needs the spark-sql-kafka package on the classpath (not in this
container) — :func:`kafka_stream` builds the reader and raises a clear error
if the package is missing. File streams exercise the identical pipeline in
tests (same DataFrame ops; only the source format differs).

Delivery semantics: the reference is at-least-once with ON CONFLICT dedup
(consumer auto-commit, reference kafka_consumer.py:466-494); here
checkpointing gives exactly-once into files, and the per-batch key dedup is
kept anyway so replays stay idempotent (same belt-and-suspenders as M2).
"""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType, TimestampNTZType

from ..operators.incremental import idempotent_append, merge_upsert
from ..operators.manifest import replace_file, rewrite, swap_into_place
from ..sources.tables import local_rows


def kafka_stream(
    spark: SparkSession,
    brokers: str,
    topics: Sequence[str],
    schema: StructType,
    starting_offsets: str = "latest",
) -> DataFrame:
    """Kafka JSON topic(s) → typed columns (S8/S9 shape: flat JSON payloads,
    reference kafka_producer.py:287-301)."""
    try:
        raw = (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", brokers)
            .option("subscribe", ",".join(topics))
            .option("startingOffsets", starting_offsets)
            .load()
        )
    except Exception as e:  # pragma: no cover - environment-dependent
        raise RuntimeError(
            "kafka source unavailable: add org.apache.spark:spark-sql-kafka-0-10 "
            "to spark.jars.packages"
        ) from e
    return raw.select(
        F.col("topic"),
        F.from_json(F.col("value").cast("string"), schema).alias("payload"),
        F.col("timestamp").alias("kafka_ts"),
    ).select("topic", "payload.*", "kafka_ts")


def file_stream(spark: SparkSession, path: str, schema: StructType, fmt: str = "parquet") -> DataFrame:
    """File-based stream with explicit schema — the test/local stand-in for
    the Kafka source; identical downstream pipeline."""
    return spark.readStream.format(fmt).schema(schema).load(path)


def _drain_foreach_batch(
    stream: DataFrame, handle: Callable[[DataFrame, int], None], checkpoint: str
) -> StreamingQuery:
    """Start ``stream`` → ``foreachBatch(handle)`` under ``checkpoint``,
    drained to the offsets available at start (``availableNow``): the one
    trigger every ``run_*_sink`` below uses."""
    return (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def run_incremental_sink(
    stream: DataFrame,
    target_path: str,
    keys: Sequence[str],
    checkpoint: str,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    partition_by: Sequence[str] = (),
):
    """writeStream → foreachBatch(idempotent vault append).

    Mirrors the reference's consumer flush loop (≥100 records or 30 s,
    reference kafka_consumer.py:51-52) — in production use
    ``trigger(processingTime='30 seconds')``; tests use availableNow to
    drain synchronously.
    """

    def handle(batch: DataFrame, epoch_id: int) -> None:
        df = transform(batch) if transform else batch
        idempotent_append(batch.sparkSession, df, target_path, keys, partition_by)

    return _drain_foreach_batch(stream, handle, checkpoint)


def run_neardup_sink(
    stream: DataFrame,
    index_dir: str,
    edges_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
):
    """writeStream → foreachBatch(incremental_neardup): near-dup detection
    ON the document stream. Each micro-batch's docs pair only against the
    persisted shingle inverted index (plus within-batch), the qualifying
    edges append to ``edges_path``, and the batch folds into the index —
    per-batch work ∝ batch size, independent of how much corpus has
    streamed by.

    Crash safety: the operator appends edges BEFORE folding the batch into
    the index (dedup.incremental_neardup edges_path contract). A crash
    between the two writes replays the batch — the docs are not yet
    indexed, so the same edges append AGAIN rather than being silently
    lost — and ``read_neardup_edges`` (distinct-on-read) collapses the
    duplicates, giving exactly-once edges end to end. A crash AFTER the
    fold replays as a no-op (already-indexed doc_ids drop inside the
    operator). Both writes are plain parquet appends — a table format
    makes each one atomic at deploy with the identical plan."""
    from ..operators.dedup import incremental_neardup

    def handle(batch: DataFrame, epoch_id: int) -> None:
        incremental_neardup(
            batch.sparkSession, batch, index_dir, id_col, text_col, n,
            edges_path=edges_path,
        )

    return _drain_foreach_batch(stream, handle, checkpoint)


def run_ann_index_sink(
    stream: DataFrame,
    index_dir: str,
    dim: int,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    drift_log: str | None = None,
):
    """writeStream → foreachBatch(add_to_ann_index): the persisted IVF
    index grows WITH the embedding stream — each micro-batch assigns its
    vectors against the sidecar centroids and appends into the partitioned
    layout, so queries running between batches keep pruning correctly and
    per-batch work ∝ batch size. Replayed epochs no-op (already-indexed
    ids are dropped inside the operator), so restarts don't duplicate
    vectors. The index must exist (build_ann_index) before the stream
    starts — the sidecar centroids ARE the geometry new batches share.

    With ``drift_log`` set, each non-empty batch appends one row
    (epoch_id, n_added, mean_assign_sim, build_center_sim, recommend_rebuild)
    — add_to_ann_index already measures the batch's assignment quality, so
    the retrain trigger (annindex.diagnose_drift's criterion against the
    build-time baseline) becomes an operational, queryable signal of the
    stream itself rather than a separate diagnostic job.

    Maintenance: the drift log grows one tiny file per epoch; it is a plain
    unpartitioned append log, so ``maintenance.compact_table(spark,
    drift_log)`` is its compaction entry point (idempotent rename-aside
    rewrite — rows byte-identical, test_maintenance pins it), run between
    drains like compact_sketch."""
    from ..operators.annindex import add_to_ann_index, drift_verdict

    def handle(batch: DataFrame, epoch_id: int) -> None:
        stats = add_to_ann_index(
            batch.sparkSession, batch, index_dir, dim, id_col, vec_col
        )
        if drift_log is None or not stats["n_added"]:
            return
        v = drift_verdict(index_dir, stats["n_added"], stats["mean_assign_sim"])
        local_rows(
            batch.sparkSession,
            [(
                int(epoch_id),
                int(v["n"]),
                float(v["batch_mean_sim"]),
                float(v["build_center_sim"]),
                v["recommend_rebuild"],
            )],
            "epoch_id long, n_added long, mean_assign_sim double, "
            "build_center_sim double, recommend_rebuild boolean",
        ).write.mode("append").parquet(drift_log)

    return _drain_foreach_batch(stream, handle, checkpoint)


def run_shuffle_manifest_sink(
    stream: DataFrame,
    manifest_dir: str,
    checkpoint: str,
    id_col: str = "doc_id",
    seed: str = "shuffle:42:",
    n_shards: int = 8,
):
    """writeStream → foreachBatch(sharding.append_to_manifest): the
    training-order manifest grows WITH the document stream. Each
    micro-batch's docs hash to their shard and append after the shard's
    current maximum position — existing coordinates are byte-stable, so a
    trainer mid-epoch is never invalidated by ingest. Replayed epochs
    no-op (already-manifested ids anti-join to nothing inside the
    operator), so restarts don't duplicate or move coordinates; per-batch
    work and write volume ∝ batch size, never the corpus.

    Maintenance: each epoch appends one file per touched shard partition;
    ``maintenance.compact_partitioned_table(spark, manifest_dir)`` rewrites
    every shard=N dir in place (rename-aside per partition) with rows —
    hence training coordinates — byte-identical, so a trainer mid-epoch
    stays valid across compactions. Idempotent; CLI:
    ``python -m stock_crypto_data_pipeline_public_spark compact --path <dir> --per-partition``."""
    from ..operators.sharding import append_to_manifest

    def handle(batch: DataFrame, epoch_id: int) -> None:
        docs = batch.select(F.col(id_col).alias("doc_id"))
        append_to_manifest(
            batch.sparkSession, docs, manifest_dir, seed=seed, n_shards=n_shards
        )

    return _drain_foreach_batch(stream, handle, checkpoint)


def run_sketch_sink(
    stream: DataFrame,
    sketch_dir: str,
    key_col: str,
    checkpoint: str,
    w: int = 2048,
    d: int = 5,
):
    """writeStream → foreachBatch(sketch.count_min_table): a count-min
    frequency sketch maintained CONTINUOUSLY over the key stream — the
    monitoring shape for heavy-hitter/frequency tracking at any stream
    rate (constant d·w state per epoch, mergeable cell-wise).

    Replay contract: CMS addition is NOT idempotent (re-adding a batch
    double-counts), so each micro-batch lands its own immutable
    ``epoch=N`` partition via :func:`land_sketch_epoch` — the normal path
    writes the partition (invisible to readers: the ``_max_epoch`` pointer
    is still below N) and then flips the pointer up; a WIPE-REPLAY's first
    epoch (epoch_id <= the live pointer) takes the TWO-PHASE path — stage
    the replayed partition aside, flip the pointer DOWN (readers instantly
    drop every stale epoch and see the consistent pre-wipe PREFIX the old
    partition holds), then atomically rename-swap the replayed content in.
    No read at any point in either sequence can sum replayed + stale
    content (a transient overcount — pinned by tests/test_streaming.py's
    phase-by-phase replay test).
    :func:`compact_sketch` materializes the cell-wise sum periodically so
    read cost doesn't grow with epoch count. Per-batch work is one
    explode(d) + one hash aggregation over the batch — ∝ batch size,
    output ≤ d·w cells regardless of key cardinality."""
    from ..operators.sketch import count_min_table

    def handle(batch: DataFrame, epoch_id: int) -> None:
        land_sketch_epoch(count_min_table(batch, key_col, w, d), sketch_dir, int(epoch_id))

    return _drain_foreach_batch(stream, handle, checkpoint)


#: one-line pointer naming the newest LIVE epoch partition; epochs above it
#: are stale leftovers of a pre-wipe history and must not be read
_MAX_EPOCH = "_max_epoch"


def land_sketch_epoch(
    tbl: DataFrame,
    sketch_dir: str,
    epoch_id: int,
    on_phase=None,
) -> None:
    """Land one epoch's sketch partition with reads consistent THROUGHOUT.

    Normal path (epoch above the live pointer, or no pointer yet): write
    ``epoch=N`` — invisible to :func:`read_sketch`, whose filter stops at
    the pointer — then flip the pointer up. A crash between the two just
    leaves the newest epoch invisible until the replay rewrites it.

    Wipe-replay first epoch (``epoch_id`` <= live pointer — only a replay
    that compressed history into fewer micro-batches can go backwards):
    overwriting ``epoch=N`` in place would open a transient window where
    a read sums the REPLAYED epoch N plus the STALE epochs N+1.. that the
    old pointer still admits. Two-phase instead:

      1. stage the replayed partition beside the live dir (dot-prefixed —
         partition discovery ignores it);
      2. flip the pointer DOWN to ``epoch_id`` — readers now see exactly
         the OLD ``epoch<=N`` partitions: the consistent pre-wipe prefix,
         never a mix;
      3. atomically rename-swap the staged partition over ``epoch=N``
         (``manifest.swap_into_place``).

    A crash after 2 leaves a stale-but-consistent prefix view that the
    resumed replay (same epoch_id, still <= pointer) repairs by re-running
    all three steps. ``on_phase`` is a test seam: called with "staged"
    and "flipped" between the steps so the no-overcount invariant can be
    asserted AT the phase boundaries."""
    part = os.path.join(sketch_dir, f"epoch={int(epoch_id)}")
    live = _live_max_epoch(sketch_dir)
    if live is not None and int(epoch_id) <= live:
        staging = os.path.join(sketch_dir, f".epoch_{int(epoch_id)}.__replay__")
        tbl.write.mode("overwrite").parquet(staging)
        if on_phase is not None:
            on_phase("staged")
        _flip_max_epoch(sketch_dir, int(epoch_id))
        if on_phase is not None:
            on_phase("flipped")
        swap_into_place(staging, part)
    else:
        tbl.write.mode("overwrite").parquet(part)
        _flip_max_epoch(sketch_dir, int(epoch_id))


def _flip_max_epoch(sketch_dir: str, epoch_id: int) -> None:
    """Atomically point ``_max_epoch`` at ``epoch_id`` — intentionally NOT
    monotonic: a checkpoint-wipe replay must be able to lower it. One small
    file replace = one PUT on an object store."""
    replace_file(os.path.join(sketch_dir, _MAX_EPOCH), str(epoch_id))


def _live_max_epoch(sketch_dir: str) -> int | None:
    p = os.path.join(sketch_dir, _MAX_EPOCH)
    if not os.path.isfile(p):
        return None  # pre-pointer layout: every epoch is live
    with open(p) as f:
        return int(f.read().strip())


def read_sketch(spark: SparkSession, sketch_dir: str) -> DataFrame:
    """The live (r, c, cnt) sketch: cell-wise sum over the LIVE epochs —
    the exactly-once view of run_sketch_sink's per-epoch partials (cell
    addition is exact integer arithmetic, so the merged sketch equals the
    one-shot sketch over the same rows, cell for cell). Epochs above the
    ``_max_epoch`` pointer are stale partitions from a replay that
    compressed history into fewer micro-batches; the filter is a
    partition prune, not a scan-and-discard."""
    df = spark.read.parquet(sketch_dir)
    live = _live_max_epoch(sketch_dir)
    if live is not None:
        df = df.filter(F.col("epoch") <= F.lit(live))
    return df.groupBy("r", "c").agg(F.sum("cnt").alias("cnt"))


def compact_sketch(spark: SparkSession, sketch_dir: str) -> dict:
    """Materialize :func:`read_sketch`'s cell-wise sum as the single
    ``epoch=<max_epoch>`` partition and drop the rest of the log — the
    maintenance pass that stops read cost growing with epoch count
    (dedup.compact_neardup_edges' idea on the sketch layout). The rewrite
    commits through ``manifest.rewrite``, so a reader mid-scan keeps a
    complete log; run it between drains — the pointer keeps naming
    ``max_epoch``, the stream's next epoch ids are strictly larger, and a
    post-wipe replay starts by lowering the pointer, so the compacted
    partition can never be double-counted.
    Returns epoch-partition counts before/after."""
    live = _live_max_epoch(sketch_dir)
    merged = read_sketch(spark, sketch_dir)
    n_before = sum(
        1 for e in os.listdir(sketch_dir) if e.startswith("epoch=")
    )
    if live is None:  # pre-pointer layout: adopt the highest epoch on disk
        live = max(
            int(e.split("=", 1)[1])
            for e in os.listdir(sketch_dir)
            if e.startswith("epoch=")
        )

    def _write(out: str) -> None:
        merged.coalesce(1).write.mode("overwrite").parquet(f"{out}/epoch={live}")
        _flip_max_epoch(out, live)

    rewrite(sketch_dir, _write)
    return {"n_epochs_before": n_before, "n_epochs_after": 1, "max_epoch": live}


def run_media_feature_sink(
    stream: DataFrame,
    features_path: str,
    checkpoint: str,
    fake: bool = False,
):
    """writeStream → foreachBatch(decode_features): media payloads stream
    in as binary rows, the REAL codecs (WAV/PPM/BMP/PNG/GIF/JPEG/MP4 —
    operators/multimodal) extract features per micro-batch, and the
    narrow feature table lands partitioned by epoch.

    Exactly-once without an operator-side index: each epoch writes to its
    own ``epoch=N`` partition with ``overwrite`` mode, so a replayed
    micro-batch (crash between write and checkpoint commit) rewrites the
    IDENTICAL partition instead of appending duplicates — the standard
    idempotent-foreachBatch pattern, and on an object store each epoch
    directory is immutable after its first successful commit. Decode is
    map-only (no shuffle), so per-batch work ∝ batch size at any corpus
    scale; payloads never reach the feature table."""
    from ..operators.multimodal import decode_features

    def handle(batch: DataFrame, epoch_id: int) -> None:
        feats = decode_features(batch, fake=fake)
        feats.write.mode("overwrite").parquet(f"{features_path}/epoch={int(epoch_id)}")

    return _drain_foreach_batch(stream, handle, checkpoint)


def run_manifest_merge_sink(
    stream: DataFrame,
    table_path: str,
    keys: Sequence[str],
    version_col: str,
    checkpoint: str,
    transform: Callable[[DataFrame], DataFrame] | None = None,
):
    """writeStream → foreachBatch(merge_upsert): each micro-batch MERGEs
    into the table at ``table_path`` — a pointer-file generation table when
    the sink creates it (operators/manifest.py), i.e. the shape Delta's
    streaming MERGE has.

    Correctness under replay: foreachBatch is at-least-once (a crash
    between the merge commit and the checkpoint commit replays the epoch).
    merge_upsert is last-wins-by-key with source-preferred ties, so
    re-merging the same batch produces a value-identical next generation —
    replays cost one redundant commit, never a duplicate or lost row.
    Readers need no coordination: every generation is complete before the
    one-file pointer flips, so a reader mid-crash/mid-commit sees the
    previous complete table (proven by test_streaming's crash test).

    100 TB: the per-epoch merge is one co-partitioned window over
    (target ∪ batch) — at real scale the target is partitioned and only
    key-affected partitions rewrite (or Delta MERGE INTO replaces this
    body at deploy); the commit itself stays a single small-file PUT
    regardless of table size."""
    def handle(batch: DataFrame, epoch_id: int) -> None:
        df = transform(batch) if transform else batch
        merge_upsert(batch.sparkSession, df, table_path, keys, version_col)

    return _drain_foreach_batch(stream, handle, checkpoint)


def ensure_event_time(stream: DataFrame, ts_col: str) -> DataFrame:
    """Make ``ts_col`` a valid watermark column.

    Spark requires event-time columns to be TIMESTAMP (LTZ); the test tables'
    ``ts`` is parquet TIMESTAMP_NTZ, and ``withWatermark`` on it raises
    ``EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE``. Under the engine's pinned UTC
    session timezone (session.get_spark), ``cast("timestamp")`` reinterprets
    the NTZ wall-clock as UTC — value-preserving, so streaming aggregates
    stay comparable to their NTZ batch twins. No-op for LTZ inputs.
    """
    if isinstance(stream.schema[ts_col].dataType, TimestampNTZType):
        return stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return stream


def windowed_counts(stream: DataFrame, ts_col: str, window: str, watermark: str) -> DataFrame:
    """Event-time tumbling aggregation with late-data watermark — the
    streaming twin of plans/eventops.e02 (same expression shape)."""
    return (
        ensure_event_time(stream, ts_col).withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def windowed_ohlcv(
    stream: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
    seq_col: str = "event_id",
) -> DataFrame:
    """Streaming candlestick bars — the streaming twin of plans/finance.f01.

    Tumbling event-time windows per instrument with a late-data watermark;
    open/close are ``min_by``/``max_by`` on the monotone sequence column, so
    the bar state per (window, instrument) is O(1) — four scalars and two
    counters — not a buffered row list. Late ticks inside the watermark
    horizon update the bar; bars emit finalized once the watermark passes
    (append mode).
    """
    return (
        ensure_event_time(stream, ts_col).withWatermark(ts_col, watermark)
        .groupBy(
            F.window(ts_col, window).alias("win"),
            F.col("event_type").alias("symbol"),
        )
        .agg(
            F.min_by("value", seq_col).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", seq_col).alias("close"),
            F.sum(F.get_json_object("props", "$.k").cast("long")).alias("volume"),
            F.count(F.lit(1)).alias("n_trades"),
        )
        .select(
            F.col("win.start").alias("bar_start"),
            "symbol",
            "open",
            "high",
            "low",
            "close",
            "volume",
            "n_trades",
        )
    )


def dedup_stream(stream: DataFrame, keys: Sequence[str], ts_col: str, watermark: str) -> DataFrame:
    """Streaming exactly-once-per-key dedup with BOUNDED state.

    `dropDuplicatesWithinWatermark` stores one state entry per key and
    evicts it once the watermark passes — replayed/redelivered events inside
    the horizon collapse, and state size is proportional to the horizon, not
    to history (plain `dropDuplicates` on a stream grows state forever).
    This is the streaming twin of the batch ON-CONFLICT dedup (M2,
    reference kafka_consumer.py:294-303).
    """
    return (
        ensure_event_time(stream, ts_col)
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(list(keys))
    )


def attribution_join(
    clicks: DataFrame,
    purchases: DataFrame,
    user_col: str = "user_id",
    click_ts: str = "click_ts",
    purchase_ts: str = "purchase_ts",
    watermark: str = "1 hour",
    within: str = "30 minutes",
) -> DataFrame:
    """Stream-stream inner equi-join with a time-range bound — the streaming
    form of e08's purchase-attribution window.

    Both sides carry watermarks and the join condition bounds
    ``purchase_ts`` to [click_ts, click_ts + within], so each side buffers
    only the watermark horizon of state. Both sides must carry ``user_col``
    under that exact name (it is emitted once); all OTHER column names must
    be disjoint — the timestamp columns always are, since ``click_ts`` and
    ``purchase_ts`` name different columns by construction.
    """
    if user_col not in clicks.columns or user_col not in purchases.columns:
        raise ValueError(f"both sides must carry the join column {user_col!r}")
    c = ensure_event_time(clicks, click_ts).withWatermark(click_ts, watermark)
    p = ensure_event_time(purchases, purchase_ts).withWatermark(purchase_ts, watermark)
    # rename the purchase-side key so the range condition can reference both
    # sides unambiguously, then emit the key once
    p = p.withColumnRenamed(user_col, "__p_user")
    return c.join(
        p,
        F.expr(
            f"{user_col} = __p_user"
            f" AND {purchase_ts} >= {click_ts}"
            f" AND {purchase_ts} <= {click_ts} + interval {within}"
        ),
        "inner",
    ).drop("__p_user")


def enrich_stream(
    stream: DataFrame, dim: DataFrame, keys: Sequence[str], how: str = "left"
) -> DataFrame:
    """Stream-static dimension enrichment: join each micro-batch against a
    broadcast static table (the most common production streaming join —
    reference shape: the consumer resolving Kafka payloads against dimension
    tables, kafka_consumer.py:248-320).

    The static side is re-read per micro-batch by Structured Streaming (so a
    reloaded dim picks up between batches) and explicitly broadcast: no
    stream-side state, no watermark needed, and the join never shuffles the
    stream — at any streaming rate the per-batch cost is one hash-join probe
    pass. For dims too big to broadcast, pre-bucket both sides on the key
    instead (catalog.py bucketed tables) — same call, drop the hint.
    """
    return stream.join(F.broadcast(dim), on=list(keys), how=how)
