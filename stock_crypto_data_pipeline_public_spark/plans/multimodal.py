"""Multimodal feature-extraction queries, all value-hash gated. m01-m03
exercise the stubbed codec path (deterministic fake decode derived from md5
digest bytes / payload length arithmetic — SQL-expressible, so the full
mapInPandas pipelines are oracle-verified end-to-end even without codecs).
m04-m10 are the REAL paths: stdlib WAV decode, P6 PPM decode + numpy
nearest-neighbor resize, BMP struct parse, a full PNG codec
(CRC-verified chunks, zlib inflate, all five row filters — decode m07 and
codec-round-trip resize m08), and a full GIF87a/LZW codec (decode m09,
animated-GIF frame sampling m10), with oracles predicting every decoded
field — for PNG/GIF the raster pixel sums themselves — from the source
row. NULL text is treated as '' on BOTH engines
(coalesce in oracles, ``text or ''`` / coalesce in synthesizers).

Every query spreads its input through ``fan_out`` ahead of its
Arrow-batched Python stage: ``MEDIA`` for the light decodes, ``HEAVY`` for
the decode-dominated pipelines (full-raster OCR, per-frame video diffs,
codec round-trips), whose Python work keeps every core busy."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import audiofp as AFP
from ..operators import multimodal as M
from ..sources.tables import HEAVY, MEDIA, fan_out, load_table
from .registry import query


# --------------------------------------------------------------------------
# m01 — binary payload → Arrow-batched feature extraction (mapInPandas) →
# per-media-type feature rollup. The fake decode derives width/height from
# the first md5 digest bytes (decode_features' fake branch), which IS
# SQL-expressible — DuckDB parses the hex pairs out of md5(text) — so even
# the stubbed pipeline gets a value-hash gate, not just a rows-only check.
# --------------------------------------------------------------------------
@query(
    "m01_media_feature_rollup",
    oracle="""
    WITH f AS (
        SELECT doc_id, strlen(coalesce(text, '')) AS n_bytes, md5(coalesce(text, '')) AS h
        FROM documents
    ),
    feat AS (
        SELECT 'application/octet-stream' AS media_type, n_bytes, h,
               64 + ((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1)) % 192 AS width,
               64 + ((strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1)) % 192 AS height
        FROM f
    )
    SELECT media_type,
           count(*)                        AS n_media,
           CAST(sum(n_bytes) AS BIGINT)    AS total_bytes,
           CAST(min(width) AS INT)         AS min_width,
           CAST(max(height) AS INT)        AS max_height,
           count(DISTINCT h)               AS n_distinct_payloads
    FROM feat
    GROUP BY media_type
    """,
)
def m01_media_feature_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # single-file input = one scan task; spread BEFORE the Python stage so
    # the Arrow-batched decode runs on every core, not one
    docs = fan_out(docs, MEDIA)
    media = M.attach_media(docs)
    feats = M.decode_features(media, fake=True)
    return feats.groupBy("media_type").agg(
        F.count(F.lit(1)).alias("n_media"),
        F.sum("n_bytes").alias("total_bytes"),
        F.min("width").alias("min_width"),
        F.max("height").alias("max_height"),
        F.countDistinct("checksum").alias("n_distinct_payloads"),
    )


# --------------------------------------------------------------------------
# m02 — the SQL-checkable slice of the media path: payload byte length +
# md5 checksum computed JVM-side over the binary column.
# --------------------------------------------------------------------------
@query(
    "m02_media_checksums",
    oracle="""
    SELECT doc_id,
           strlen(coalesce(text, '')) AS n_bytes,
           md5(coalesce(text, ''))    AS checksum
    FROM documents
    """,
)
def m02_media_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    media = M.attach_media(docs)
    return media.select(
        "doc_id",
        F.col("n_bytes").cast("long").alias("n_bytes"),
        F.md5("media").alias("checksum"),
    )


# --------------------------------------------------------------------------
# m03 — opaque-payload frame sampling → per-frame-index rollup: the
# row-EXPANDING multimodal shape (n_frames output rows per input,
# Arrow-batched) on a type with NO real decoder (octet-stream), i.e. the
# plumbing contract a new format rides on before its codec lands. The
# fake frame slicer cuts the payload into step = max(len//4, 1) byte chunks
# with arithmetic timestamps (operators/multimodal.sample_frames) — pure
# functions of payload length, so the rollup is SQL-expressible and gets a
# value-hash gate; the plumbing (schema, batch shape, row expansion) is
# the real contract either way.
# --------------------------------------------------------------------------
@query(
    "m03_frame_sample_rollup",
    oracle="""
    WITH f AS (SELECT doc_id, strlen(coalesce(text, '')) AS len FROM documents),
    s AS (SELECT doc_id, len, greatest(len // 4, 1) AS step FROM f),
    frames AS (
        SELECT doc_id, len, step, unnest(range(0, 4)) AS frame_idx FROM s
    ),
    calc AS (
        SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
               CASE WHEN len = 0 THEN 0 ELSE step END AS chunk_len,
               CAST(floor(frame_idx * (1000.0 / 30)
                          * (CASE WHEN len // step = 0 THEN 1 ELSE len // step END))
                    AS BIGINT) AS ts
        FROM frames
    )
    SELECT frame_idx,
           count(*)                       AS n_frames,
           CAST(sum(chunk_len) AS BIGINT) AS total_bytes,
           count(DISTINCT doc_id)         AS n_videos,
           min(ts)                        AS min_ts_ms,
           max(ts)                        AS max_ts_ms
    FROM calc
    GROUP BY frame_idx
    """,
)
def m03_frame_sample_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    media = M.attach_media(docs, media_type="application/octet-stream")
    frames = M.sample_frames(media, n_frames=4, fake=True)
    return frames.groupBy("frame_idx").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.sum(F.length("frame")).alias("total_bytes"),
        F.countDistinct("doc_id").alias("n_videos"),
        F.min("frame_ts_ms").alias("min_ts_ms"),
        F.max("frame_ts_ms").alias("max_ts_ms"),
    )


# --------------------------------------------------------------------------
# m04 — REAL audio decode: synthesize one deterministic PCM WAV clip per
# document (operators/multimodal.synthesize_wav — header fields are
# closed-form functions of doc_id/text length), then run the real stdlib
# ``wave`` decode through decode_features (fake=False) and roll up per
# sample rate. The oracle predicts every decoded field from the source row,
# so a header mis-parse, an off-by-one frame count, or a wrong byte length
# all hash-fail. This is the non-stubbed m-series path: encode → binary
# column → Arrow batch → REAL decode, end to end.
# --------------------------------------------------------------------------
@query(
    "m04_wav_real_decode_rollup",
    oracle="""
    WITH c AS (
        SELECT doc_id,
               8000 + (doc_id % 5) * 4000  AS sample_rate,
               1 + doc_id % 2              AS n_channels,
               100 + (coalesce(length(text), 0) % 400) AS n_samples
        FROM documents
    )
    SELECT CAST(sample_rate AS INT)                                    AS sample_rate,
           count(*)                                                    AS n_clips,
           CAST(sum(n_channels) AS BIGINT)                             AS total_channels,
           CAST(sum(n_samples) AS BIGINT)                              AS total_samples,
           CAST(sum(n_samples * 1000 // sample_rate) AS BIGINT)        AS total_duration_ms,
           CAST(sum(44 + n_samples * n_channels * 2) AS BIGINT)        AS total_bytes
    FROM c
    GROUP BY 1
    """,
)
def m04_wav_real_decode_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    docs = fan_out(docs, MEDIA)
    media = M.synthesize_wav(docs)
    feats = M.decode_features(media)  # fake=False: the REAL wave parse
    return feats.groupBy("sample_rate").agg(
        F.count(F.lit(1)).alias("n_clips"),
        F.sum("n_channels").alias("total_channels"),
        F.sum("n_samples").alias("total_samples"),
        F.sum("duration_ms").alias("total_duration_ms"),
        F.sum(F.col("n_bytes").cast("long")).alias("total_bytes"),
    )


# --------------------------------------------------------------------------
# m05 — REAL image decode + REAL resize: deterministic P6 PPMs per document
# (synthesize_ppm), real header parse (decode_features), real numpy
# nearest-neighbor resample to 16×12 (resize_images), then a second real
# decode of the RESIZED payloads proves the rendition round-trips. The
# oracle predicts source dims from (doc_id, text length) and the resized
# payload size from the fixed 16×12 header+plane (13 + 16·12·3 = 589 B).
# --------------------------------------------------------------------------
@query(
    "m05_ppm_real_resize_rollup",
    oracle="""
    WITH c AS (
        SELECT doc_id,
               8 + doc_id % 32            AS w,
               8 + (coalesce(length(text), 0) % 32)   AS h
        FROM documents
    )
    SELECT count(*)                                        AS n_images,
           CAST(min(w) AS INT)                             AS min_src_width,
           CAST(max(h) AS INT)                             AS max_src_height,
           CAST(sum(w * h) AS BIGINT)                      AS total_src_pixels,
           CAST(count(*) * 16 AS BIGINT)                   AS total_resized_width,
           CAST(count(*) * 589 AS BIGINT)                  AS total_resized_bytes
    FROM c
    """,
)
def m05_ppm_real_resize_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    docs = fan_out(docs, MEDIA)
    # media feeds TWO consumers (source decode + resize) and Spark has no
    # cross-consumer CSE — without a checkpoint the mapInPandas synthesis
    # runs twice per execution (2x Python-worker cost). localCheckpoint
    # materializes it once; at 100 TB the encoded relation would be a
    # persisted table for the same reason. m08/m10/m12/m15 are linear
    # encode->transform->decode chains (single consumer) — no fork,
    # nothing to cache.
    media = M.synthesize_ppm(docs).localCheckpoint(eager=True)
    src = M.decode_features(media)  # REAL P6 header parse
    resized = M.resize_images(media, 16, 12)  # REAL nearest-neighbor
    rfeat = M.decode_features(resized).select(
        F.col("doc_id").alias("r_doc_id"),
        F.col("width").alias("r_width"),
        F.col("n_bytes").alias("r_bytes"),
    )
    both = src.join(rfeat, src.doc_id == rfeat.r_doc_id)
    return both.agg(
        F.count(F.lit(1)).alias("n_images"),
        F.min("width").alias("min_src_width"),
        F.max("height").alias("max_src_height"),
        F.sum(F.col("width").cast("long") * F.col("height")).alias("total_src_pixels"),
        F.sum(F.col("r_width").cast("long")).alias("total_resized_width"),
        F.sum(F.col("r_bytes").cast("long")).alias("total_resized_bytes"),
    )


# --------------------------------------------------------------------------
# m06 — REAL BMP decode: deterministic 24-bit BMPs per document
# (synthesize_bmp — every header field closed-form in doc_id/text length,
# including the format's 4-byte row padding), real fixed-offset struct
# parse (decode_features), rollup per width. A third REAL format, and the
# decode style the other two don't cover: little-endian binary fields at
# fixed offsets rather than text headers (PPM) or a stdlib parser (WAV).
# --------------------------------------------------------------------------
@query(
    "m06_bmp_real_decode_rollup",
    oracle="""
    WITH c AS (
        SELECT doc_id,
               4 + doc_id % 16           AS w,
               4 + (coalesce(length(text), 0) % 16)  AS h
        FROM documents
    )
    SELECT CAST(w AS INT)                                        AS width,
           count(*)                                              AS n_images,
           CAST(sum(h) AS BIGINT)                                AS total_height,
           CAST(sum(3) AS BIGINT)                                AS total_channels,
           CAST(sum(54 + ((3 * w + 3) // 4) * 4 * h) AS BIGINT)  AS total_bytes
    FROM c
    GROUP BY 1
    """,
)
def m06_bmp_real_decode_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    docs = fan_out(docs, MEDIA)
    media = M.synthesize_bmp(docs)
    feats = M.decode_features(media)  # fake=False: the REAL struct parse
    return feats.groupBy("width").agg(
        F.count(F.lit(1)).alias("n_images"),
        F.sum(F.col("height").cast("long")).alias("total_height"),
        F.sum(F.col("n_channels").cast("long")).alias("total_channels"),
        F.sum(F.col("n_bytes").cast("long")).alias("total_bytes"),
    )


# --------------------------------------------------------------------------
# m07 — REAL PNG decode: deterministic 8-bit truecolor PNGs per document
# (operators/multimodal.synthesize_png — rows cycle all five PNG filters,
# even doc_ids split IDAT across two chunks), full stdlib codec decode
# (CRC-verified chunks, zlib inflate, row unfilter), rollup per width. The
# gated column that matters is total_pixel_sum: the synthesized raster
# keeps every sample < 256, so the sum of DECODED pixels is the closed
# form 3h·w(w−1)/2 + 3w·h(h−1) + 9wh + 3wh·(doc_id % 50) — any filter
# reconstruction bug, inflate slip, or chunk mis-walk changes it. File
# size is zlib-dependent, hence deliberately absent from the oracle.
# --------------------------------------------------------------------------
@query(
    "m07_png_real_decode_rollup",
    oracle="""
    WITH c AS (
        SELECT doc_id,
               4 + doc_id % 8                          AS w,
               4 + (coalesce(length(text), 0) % 8)     AS h,
               doc_id % 50                             AS k
        FROM documents
    )
    SELECT CAST(w AS INT)                              AS width,
           count(*)                                    AS n_images,
           CAST(sum(h) AS BIGINT)                      AS total_height,
           CAST(sum(3) AS BIGINT)                      AS total_channels,
           CAST(sum(3 * h * w * (w - 1) // 2
                    + 3 * w * h * (h - 1)
                    + 9 * w * h
                    + 3 * w * h * k) AS BIGINT)        AS total_pixel_sum
    FROM c
    GROUP BY 1
    """,
)
def m07_png_real_decode_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    docs = fan_out(docs, MEDIA)
    media = M.synthesize_png(docs)
    feats = M.decode_features(media)  # fake=False: the REAL stdlib codec
    return feats.groupBy("width").agg(
        F.count(F.lit(1)).alias("n_images"),
        F.sum(F.col("height").cast("long")).alias("total_height"),
        F.sum(F.col("n_channels").cast("long")).alias("total_channels"),
        F.sum("pixel_sum").alias("total_pixel_sum"),
    )


# --------------------------------------------------------------------------
# m08 — REAL PNG decode + REAL resize + second REAL decode: the rendition
# round-trip m05 proves for PPM, through the full PNG codec instead —
# resize must inflate + unfilter the source raster, nearest-neighbor
# subsample, refilter + deflate, and the second decode gates the RESIZED
# pixels. The oracle reconstructs the subsample index math exactly:
# resized pixel (x, y, c) = src(x·w÷5, y·h÷4, c) = x·w÷5 + 2·(y·h÷4) + 3c
# + doc_id % 50 (every term < 256 by construction, so no mod in SQL).
# File size is zlib-dependent and deliberately ungated.
# --------------------------------------------------------------------------
@query(
    "m08_png_real_resize_rollup",
    oracle="""
    WITH c AS (
        SELECT doc_id,
               4 + doc_id % 8                          AS w,
               4 + (coalesce(length(text), 0) % 8)     AS h,
               doc_id % 50                             AS k
        FROM documents
    ),
    px AS (
        SELECT c.doc_id, c.k,
               (x * c.w) // 5 + 2 * ((y * c.h) // 4) + 3 * ch + c.k AS v
        FROM c,
             unnest(range(0, 5)) AS gx(x),
             unnest(range(0, 4)) AS gy(y),
             unnest(range(0, 3)) AS gc(ch)
    )
    SELECT count(DISTINCT doc_id)            AS n_images,
           CAST(count(*) / 60 * 5 AS BIGINT) AS total_width,
           CAST(sum(v) AS BIGINT)            AS total_pixel_sum
    FROM px
    """,
)
def m08_png_real_resize_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    docs = fan_out(docs, MEDIA)
    media = M.synthesize_png(docs)
    resized = M.resize_images(media, 5, 4)  # REAL: full codec round-trip
    rfeat = M.decode_features(resized)  # REAL decode of the rendition
    return rfeat.agg(
        F.count(F.lit(1)).alias("n_images"),
        F.sum(F.col("width").cast("long")).alias("total_width"),
        F.sum("pixel_sum").alias("total_pixel_sum"),
    )


# --------------------------------------------------------------------------
# m09 — REAL GIF decode: a pure-Python GIF87a codec (operators/
# multimodal._encode_gif/_decode_gif) — header + color table + image
# descriptor + a FULL LZW implementation (variable derived-width codes,
# LSB-first bit packing, KwKwK case, dictionary reset at 4096). The gated
# column is total_pixel_sum over PALETTE-MAPPED rgb samples: palette index
# i maps to rgb summing 17·i and pixel index (x,y) = (x + 2y + doc_id) % 8,
# so the oracle computes Σ 17·((x + 2y + doc_id) % 8) per document — any
# LZW mis-decode of any pixel, palette mis-read, or sub-block mis-assembly
# changes it. File size is LZW-dependent, hence ungated.
# --------------------------------------------------------------------------
@query(
    "m09_gif_real_decode_rollup",
    oracle="""
    WITH c AS (
        SELECT doc_id,
               4 + doc_id % 12                         AS w,
               4 + (coalesce(length(text), 0) % 12)    AS h
        FROM documents
    ),
    px AS (
        SELECT c.doc_id, c.w,
               17 * ((x + 2 * y + c.doc_id) % 8) AS v
        FROM c,
             unnest(range(0, c.w)) AS gx(x),
             unnest(range(0, c.h)) AS gy(y)
    )
    SELECT CAST(w AS INT)                    AS width,
           count(DISTINCT doc_id)            AS n_images,
           CAST(count(*) AS BIGINT)          AS total_pixels,
           CAST(sum(v) AS BIGINT)            AS total_pixel_sum
    FROM px
    GROUP BY 1
    """,
)
def m09_gif_real_decode_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    docs = fan_out(docs, MEDIA)
    media = M.synthesize_gif(docs)
    feats = M.decode_features(media)  # fake=False: the REAL LZW decode
    return feats.groupBy("width").agg(
        F.countDistinct("doc_id").alias("n_images"),
        F.sum(F.col("width").cast("long") * F.col("height")).alias("total_pixels"),
        F.sum("pixel_sum").alias("total_pixel_sum"),
    )


# --------------------------------------------------------------------------
# m11 — REAL JPEG decode: deterministic baseline JPEGs per document
# (operators/multimodal.synthesize_jpeg), decoded through the pure-Python
# T.81 codec (operators/jpegcodec.py — canonical Huffman entropy decode,
# dequantize, orthonormal IDCT). JPEG is LOSSY, so the synthesizer is built
# on the one exactness island the math guarantees: 8x8-block-constant EVEN
# values round-trip bit-exactly (only the DC coefficient is nonzero, and
# the Annex-K DC quantizer step 16 divides 8*(v-128) when v is even). Block
# (bx, by) carries 2*(bx + 2*by + doc_id % 50), dims are whole blocks
# (BW = 2 + doc_id % 6, BH = 2 + len(text) % 6), so the decoded pixel sum
# is the closed form 128*(BH*BW*(BW-1)/2 + BW*BH*(BH-1) + BW*BH*k) — the
# full entropy-decode -> dequantize -> IDCT pipeline runs for real and any
# Huffman mis-read, zigzag slip, or IDCT scaling error changes the gated
# sum. File size is entropy-coded, hence deliberately ungated.
# --------------------------------------------------------------------------
@query(
    "m11_jpeg_real_decode_rollup",
    oracle="""
    WITH c AS (
        SELECT doc_id,
               2 + doc_id % 6                          AS bw,
               2 + (coalesce(length(text), 0) % 6)     AS bh,
               doc_id % 50                             AS k
        FROM documents
    )
    SELECT CAST(8 * bw AS INT)                         AS width,
           count(*)                                    AS n_images,
           CAST(sum(8 * bh) AS BIGINT)                 AS total_height,
           CAST(sum(1) AS BIGINT)                      AS total_channels,
           CAST(sum(128 * (bh * bw * (bw - 1) // 2
                           + bw * bh * (bh - 1)
                           + bw * bh * k)) AS BIGINT)  AS total_pixel_sum
    FROM c
    GROUP BY 1
    """,
)
def m11_jpeg_real_decode_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    docs = fan_out(docs, MEDIA)
    media = M.synthesize_jpeg(docs)
    feats = M.decode_features(media)  # fake=False: the REAL T.81 decode
    return feats.groupBy("width").agg(
        F.count(F.lit(1)).alias("n_images"),
        F.sum(F.col("height").cast("long")).alias("total_height"),
        F.sum(F.col("n_channels").cast("long")).alias("total_channels"),
        F.sum("pixel_sum").alias("total_pixel_sum"),
    )


# --------------------------------------------------------------------------
# m12 — REAL video demux + REAL frame decode: deterministic Motion-JPEG
# MP4s per document (synthesize_mp4 — real ISO-BMFF mux via
# operators/mp4codec), REAL container demux in sample_frames (sample
# bytes + timestamps resolved from the stts/stsc/stsz/stco tables exactly
# as a player seeks), then each sampled frame decoded through the REAL
# T.81 JPEG codec. Two real codec layers, both gated: the oracle predicts
# the CONTAINER timestamps (src·100 ms from stts) and each frame's decoded
# pixel sum 128*(BH*BW*(BW-1)/2 + BW*BH*(BH-1) + BW*BH*(k+src)) — a box
# mis-walk, a wrong chunk offset, a sample/timestamp misalignment, or any
# JPEG decode slip all hash-fail. Only interframe codecs (H.26x) remain
# out of scope.
# --------------------------------------------------------------------------
@query(
    "m12_mp4_demux_decode_rollup",
    oracle="""
    WITH c AS (
        SELECT doc_id,
               2 + doc_id % 4                          AS bw,
               2 + (coalesce(length(text), 0) % 4)     AS bh,
               doc_id % 40                             AS k
        FROM documents
    ),
    frames AS (
        SELECT c.doc_id, c.bw, c.bh, c.k,
               CAST(j AS INT)       AS frame_idx,
               (j * 6 // 3)         AS src
        FROM c, unnest(range(0, 3)) AS gj(j)
    )
    SELECT frame_idx,
           count(DISTINCT doc_id)                          AS n_docs,
           CAST(sum(8 * bw) AS BIGINT)                     AS total_width,
           CAST(sum(128 * (bh * bw * (bw - 1) // 2
                           + bw * bh * (bh - 1)
                           + bw * bh * (k + src))) AS BIGINT) AS total_pixel_sum,
           CAST(min(src) * 100 AS BIGINT)                  AS min_ts_ms,
           CAST(max(src) * 100 AS BIGINT)                  AS max_ts_ms
    FROM frames
    GROUP BY 1
    """,
)
def m12_mp4_demux_decode_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    docs = fan_out(docs, HEAVY)
    media = M.synthesize_mp4(docs, n_frames=6)
    frames = M.sample_frames(media, n_frames=3)  # REAL ISO-BMFF demux
    feats = M.decode_frames(frames)  # REAL T.81 decode per frame
    return feats.groupBy("frame_idx").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.sum(F.col("width").cast("long")).alias("total_width"),
        F.sum("pixel_sum").alias("total_pixel_sum"),
        F.min("frame_ts_ms").alias("min_ts_ms"),
        F.max("frame_ts_ms").alias("max_ts_ms"),
    )


# --------------------------------------------------------------------------
# m13 — REAL audio SIGNAL analysis (beyond m04's header parse): two-tone
# PCM clips per document (synthesize_tone_wav — sines centered on FFT
# bins b1 = 5 + doc_id % 50 at amplitude 6000 and b2 = 60 + doc_id % 100
# at 3000), then extract_audio_features runs a real numpy rFFT over the
# decoded PCM and reports the two strongest bins + the dominant Hz. A
# bin-centered tone concentrates ALL its energy in one rfft bin, so the
# spectral argmax must recover b1/b2 EXACTLY — a windowing slip, an
# off-by-one in the bin math, or a byte-order error in the PCM decode
# all hash-fail. RMS is floating (quantization noise) and deliberately
# ungated; sr = 8192 makes dominant_hz = 16·b1 an exact integer.
# --------------------------------------------------------------------------
@query(
    "m13_audio_spectral_rollup",
    oracle="""
    WITH c AS (
        SELECT doc_id,
               5 + doc_id % 50             AS b1,
               60 + doc_id % 100           AS b2
        FROM documents
    )
    SELECT CAST(b1 AS INT)                  AS dominant_bin,
           count(*)                         AS n_clips,
           CAST(sum(b2) AS BIGINT)          AS total_secondary_bin,
           CAST(sum(16 * b1) AS BIGINT)     AS total_dominant_hz,
           CAST(count(*) * 512 AS BIGINT)   AS total_samples
    FROM c
    GROUP BY 1
    """,
)
def m13_audio_spectral_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    docs = fan_out(docs, MEDIA)
    media = M.synthesize_tone_wav(docs)
    feats = M.extract_audio_features(media)  # REAL rFFT over decoded PCM
    return feats.groupBy("dominant_bin").agg(
        F.count(F.lit(1)).alias("n_clips"),
        F.sum(F.col("secondary_bin").cast("long")).alias("total_secondary_bin"),
        F.sum(F.col("dominant_hz").cast("long")).alias("total_dominant_hz"),
        F.sum("n_samples").alias("total_samples"),
    )


# --------------------------------------------------------------------------
# m14 — REAL temporal differencing (scene-change primitive): demux every
# Motion-JPEG frame of the m12 clips (sample_frames n_frames=6 = all),
# JPEG-decode consecutive frames, and emit per-transition |Δ| sums +
# changed-pixel counts (operators/multimodal.frame_deltas with
# assume_grouped=True — sample_frames emits each doc's frames
# contiguously in order, so the diff is ZERO-SHUFFLE map-side state of
# one frame). Each frame step raises every
# pixel by exactly 2 (block values 2*(...+f)), so per transition
# abs_delta = 2·w·h = 128·bw·bh and changed_pixels = 64·bw·bh — a frame
# mis-order, a dropped/duplicated frame, or any decode slip changes the
# gated sums. Registered outside the driver window (full); the local
# strict harness hash-gates it.
# --------------------------------------------------------------------------
@query(
    "m14_video_frame_delta_rollup",
    oracle="""
    WITH c AS (
        SELECT doc_id,
               2 + doc_id % 4                          AS bw,
               2 + (coalesce(length(text), 0) % 4)     AS bh
        FROM documents
    ),
    d AS (
        SELECT c.doc_id, c.bw, c.bh, CAST(f AS INT) AS frame_idx
        FROM c, unnest(range(1, 6)) AS gf(f)
    )
    SELECT frame_idx,
           count(DISTINCT doc_id)                      AS n_docs,
           CAST(sum(128 * bw * bh) AS BIGINT)          AS total_abs_delta,
           CAST(sum(64 * bw * bh) AS BIGINT)           AS total_changed_pixels,
           CAST(frame_idx * 100 AS BIGINT)             AS ts_ms
    FROM d
    GROUP BY 1
    """,
)
def m14_video_frame_delta_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    docs = fan_out(docs, HEAVY)
    media = M.synthesize_mp4(docs, n_frames=6)
    frames = M.sample_frames(media, n_frames=6)  # all frames, REAL demux
    deltas = M.frame_deltas(frames, assume_grouped=True)  # zero-shuffle diff
    return deltas.groupBy("frame_idx").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.sum("abs_delta").alias("total_abs_delta"),
        F.sum("changed_pixels").alias("total_changed_pixels"),
        F.min("frame_ts_ms").alias("ts_ms"),
    )


# --------------------------------------------------------------------------
# m15 — REAL JPEG resize through the lossy codec, still hash-exact: a 2x
# nearest-neighbor upscale maps each source 8x8 block onto a 2x2 grid of
# output blocks that are again CONSTANT with the same even value, so the
# re-encode (resize_images scale=2 → _resize_jpeg: entropy decode + IDCT
# → resample → DCT + re-encode) keeps the exactness island of m11 and the
# second REAL decode gates the resized pixels: sum' = 4·sum, dims double.
# The only lossy format in the suite now has decode AND resize gated on
# pixels, like the lossless ones.
# --------------------------------------------------------------------------
@query(
    "m15_jpeg_real_resize_rollup",
    oracle="""
    WITH c AS (
        SELECT doc_id,
               2 + doc_id % 6                          AS bw,
               2 + (coalesce(length(text), 0) % 6)     AS bh,
               doc_id % 50                             AS k
        FROM documents
    )
    SELECT CAST(16 * bw AS INT)                        AS width,
           count(*)                                    AS n_images,
           CAST(sum(16 * bh) AS BIGINT)                AS total_height,
           CAST(sum(512 * (bh * bw * (bw - 1) // 2
                           + bw * bh * (bh - 1)
                           + bw * bh * k)) AS BIGINT)  AS total_pixel_sum
    FROM c
    GROUP BY 1
    """,
)
def m15_jpeg_real_resize_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    docs = fan_out(docs, HEAVY)
    media = M.synthesize_jpeg(docs)
    resized = M.resize_images(media, scale=2)  # REAL lossy-codec round-trip
    rfeat = M.decode_features(resized)  # REAL second decode of renditions
    return rfeat.groupBy("width").agg(
        F.count(F.lit(1)).alias("n_images"),
        F.sum(F.col("height").cast("long")).alias("total_height"),
        F.sum("pixel_sum").alias("total_pixel_sum"),
    )


# --------------------------------------------------------------------------
# m10 — REAL frame sampling: deterministic 6-frame animated GIFs per
# document (synthesize_animated_gif), REAL sampling (sample_frames
# LZW-decodes the animation and re-encodes 3 evenly spaced frames as
# standalone GIFs — source indices k·6÷3 = 0,2,4), then a REAL per-frame
# decode (decode_frames) and a per-frame-slot rollup. This makes all
# three multimodal stages — decode, resize, frame-sample — REAL paths:
# only true video codecs (MP4) stay stubbed. The oracle reconstructs
# each sampled frame's palette-mapped pixel sum Σ 17·((x+2y+doc+3f)%8)
# and the fps-derived timestamps, so mis-sampling (wrong source index),
# mis-decoding, or timestamp drift all hash-fail.
# --------------------------------------------------------------------------
@query(
    "m10_gif_frame_sample_rollup",
    oracle="""
    WITH c AS (
        SELECT doc_id,
               4 + doc_id % 12                         AS w,
               4 + (coalesce(length(text), 0) % 12)    AS h
        FROM documents
    ),
    frames AS (
        SELECT c.doc_id, c.w, c.h,
               CAST(k AS INT)       AS frame_idx,
               (k * 6 // 3)         AS src
        FROM c, unnest(range(0, 3)) AS gk(k)
    ),
    px AS (
        SELECT f.doc_id, f.frame_idx, f.src,
               17 * ((x + 2 * y + f.doc_id + 3 * f.src) % 8) AS v
        FROM frames f,
             unnest(range(0, f.w)) AS gx(x),
             unnest(range(0, f.h)) AS gy(y)
    )
    SELECT frame_idx,
           count(DISTINCT doc_id)                        AS n_docs,
           CAST(sum(v) AS BIGINT)                        AS total_pixel_sum,
           CAST(min(src) * 1000 // 10 AS BIGINT)         AS min_ts_ms,
           CAST(max(src) * 1000 // 10 AS BIGINT)         AS max_ts_ms
    FROM px
    GROUP BY 1
    """,
)
def m10_gif_frame_sample_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    docs = fan_out(docs, MEDIA)
    media = M.synthesize_animated_gif(docs, n_frames=6)
    frames = M.sample_frames(media, n_frames=3, fps=10)  # REAL path
    feats = M.decode_frames(frames)  # REAL per-frame decode
    return feats.groupBy("frame_idx").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.sum("pixel_sum").alias("total_pixel_sum"),
        F.min("frame_ts_ms").alias("min_ts_ms"),
        F.max("frame_ts_ms").alias("max_ts_ms"),
    )


# --------------------------------------------------------------------------
# m16 — REAL audio downsampling with an ALIASING-EXACT oracle: the m13
# two-tone clips (bins b1 = 5 + doc_id % 50 @6000, b2 = 60 + doc_id % 100
# @3000, 512 samples @8192 Hz) are decimated 2:1 (operators/multimodal.
# resample_audio — no anti-alias filter, deliberately), then re-analyzed
# with the real rFFT. Decimation's spectral effect on a bin-centered tone
# is closed-form: in the 256-sample result b1 (< 128 always) stays put and
# b2 FOLDS to 256 − b2 whenever it exceeds the new Nyquist bin 128 — so
# the oracle predicts the aliased spectrum, per bin, in SQL. Docs whose b2
# lands EXACTLY on Nyquist (doc_id % 100 = 68 → b2 = 128) are excluded on
# both sides: a Nyquist-centered sine is sampled at its zero crossings and
# its energy vanishes, leaving no closed-form secondary bin. A wrong
# decimation phase, a dropped frame, channel misalignment, or an off-by-one
# in the fold all hash-fail. dominant_hz = b1·4096//256 = 16·b1 — same
# integer form as m13, now from the HALVED rate, so a sample-rate slip in
# the re-encode also hash-fails.
# --------------------------------------------------------------------------
@query(
    "m16_audio_resample_alias_rollup",
    oracle="""
    WITH c AS (
        SELECT doc_id,
               5 + doc_id % 50             AS b1,
               60 + doc_id % 100           AS b2
        FROM documents
        WHERE doc_id % 100 <> 68
    ),
    f AS (
        SELECT doc_id, b1,
               CASE WHEN b2 < 128 THEN b2 ELSE 256 - b2 END AS alias_bin
        FROM c
    )
    SELECT CAST(b1 AS INT)                  AS dominant_bin,
           count(*)                         AS n_clips,
           CAST(sum(alias_bin) AS BIGINT)   AS total_secondary_bin,
           CAST(sum(16 * b1) AS BIGINT)     AS total_dominant_hz,
           CAST(count(*) * 256 AS BIGINT)   AS total_samples
    FROM f
    GROUP BY 1
    """,
)
def m16_audio_resample_alias_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 100 != 68  # Nyquist-kill tone: no closed-form bin
    )
    docs = fan_out(docs, MEDIA)
    media = M.synthesize_tone_wav(docs)
    halved = M.resample_audio(media, factor=2)  # REAL decimation + re-encode
    feats = M.extract_audio_features(halved)  # REAL rFFT over the new PCM
    return feats.groupBy("dominant_bin").agg(
        F.count(F.lit(1)).alias("n_clips"),
        F.sum(F.col("secondary_bin").cast("long")).alias("total_secondary_bin"),
        F.sum(F.col("dominant_hz").cast("long")).alias("total_dominant_hz"),
        F.sum("n_samples").alias("total_samples"),
    )


# --------------------------------------------------------------------------
# m17 — REAL DOCX extraction: a deterministic OOXML zip per document
# (operators/chunking.synthesize_docx — 1 + doc_id % 4 paragraphs, each
# split across multiple <w:t> runs plus a blank paragraph extraction must
# drop), then the REAL stdlib zip+XML extractor (chunking._extract_docx —
# python-docx `paragraph.text` semantics per reference
# text_extractors.py:72-90). The oracle reconstructs the full extracted
# string character-for-character in SQL, so a run-joining bug, a blank-
# paragraph leak, an entity mis-escape, or a paragraph-order slip all
# hash-fail on the text column itself.
# --------------------------------------------------------------------------
@query(
    "m17_docx_real_extract",
    oracle="""
    WITH p AS (
        SELECT d.doc_id, r.i AS i,
               'Para ' || r.i || ' of doc ' || d.doc_id || '.' AS para
        FROM documents d JOIN range(0, 4) r(i) ON r.i < 1 + d.doc_id % 4
    )
    SELECT doc_id,
           string_agg(para, chr(10) ORDER BY i)                      AS text,
           CAST(strlen(string_agg(para, chr(10) ORDER BY i)) AS INT) AS n_chars,
           CAST(count(*) AS INT)                                     AS n_paras
    FROM p
    GROUP BY doc_id
    """,
)
def m17_docx_real_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import chunking as C

    docs = load_table(spark, sf_dir, "documents")
    docs = fan_out(docs, MEDIA)
    extracted = C.extract_text(C.synthesize_docx(docs))  # REAL zip+XML parse
    return extracted.select(
        "doc_id",
        "text",
        "n_chars",
        F.size(F.split("text", "\n")).cast("int").alias("n_paras"),
    )


# --------------------------------------------------------------------------
# m18 — REAL PDF extraction: a deterministic PDF 1.4 per document
# (operators/chunking.synthesize_pdf — 1 + doc_id % 3 pages, every page a
# Flate-compressed content stream exercising Tj, kerned-TJ-array and '
# show operators), then the REAL stdlib extractor (chunking._extract_pdf —
# /Pages /Kids page walk, zlib inflate, BT/ET text-op scan, the reference
# PDFPlumberExtractor's exact "--- Page N ---" assembly,
# text_extractors.py:23-42). Oracle rebuilds the full extracted string in
# SQL: an inflate slip, an escape mis-decode, a TJ concatenation bug, a
# lost line break, or pages walked out of order all hash-fail.
# --------------------------------------------------------------------------
@query(
    "m18_pdf_real_extract",
    oracle="""
    WITH pg AS (
        SELECT d.doc_id, r.p AS p,
               '--- Page ' || (r.p + 1) || ' ---' || chr(10) ||
               'Doc ' || d.doc_id || ' page ' || (r.p + 1) || chr(10) ||
               'Flate body ' || (r.p + 1) || '-' || d.doc_id AS seg
        FROM documents d JOIN range(0, 3) r(p) ON r.p < 1 + d.doc_id % 3
    )
    SELECT doc_id,
           string_agg(seg, chr(10) || chr(10) ORDER BY p)  AS text,
           CAST(strlen(string_agg(seg, chr(10) || chr(10) ORDER BY p)) AS INT)
                                                           AS n_chars,
           CAST(count(*) AS INT)                           AS n_pages
    FROM pg
    GROUP BY doc_id
    """,
)
def m18_pdf_real_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import chunking as C

    docs = load_table(spark, sf_dir, "documents")
    docs = fan_out(docs, MEDIA)
    extracted = C.extract_text(C.synthesize_pdf(docs))  # REAL Flate+BT/ET scan
    return extracted.select(
        "doc_id",
        "text",
        "n_chars",
        (F.size(F.split("text", "--- Page ")) - 1).cast("int").alias("n_pages"),
    )


# --------------------------------------------------------------------------
# m19 — REAL image OCR (glyph rasters): each document's normalized text is
# rasterized with a fixed 5x7 bitmap font into a REAL PNG (operators/
# ocr.render_text_png over the repo's spec-complete encoder — all five row
# filters, zlib, CRC), then recovered through the user-facing
# extract_text('png') path: full PNG decode + exact per-cell template
# matching (operators/ocr.ocr_png_bytes). This closes the last stub in the
# repo the honest way (reference scripts/chatbot/ocr_tools.py:10-24 —
# pytesseract over uploaded documents): the decode-and-recognize contract
# is real and hash-gated for machine-rendered text; only photographic OCR
# (tesseract's actual model) stays environmental, and non-raster PNGs
# raise rather than fabricate. The oracle rebuilds the expected string
# with the identical normalization (charset filter -> truncate -> ASCII
# upper -> pad), so a filter-math bug, an IDAT slip, a glyph-table error,
# or a cell-geometry drift all hash-fail on the text itself.
# 100 TB: both stages are Arrow-batched map-only mapInPandas — no shuffle,
# embarrassingly parallel, same scaling story as the other codec stages.
# --------------------------------------------------------------------------
@query(
    "m19_png_glyph_ocr",
    oracle="""
    SELECT doc_id,
           rpad(upper(substr(regexp_replace(coalesce(text, ''),
                                            '[^A-Za-z0-9 ]', ' ', 'g'),
                             1, 48)), 48, ' ')  AS ocr_text,
           CAST(48 AS INT)                      AS n_chars
    FROM documents
    """,
)
def m19_png_glyph_ocr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import chunking as C
    from ..operators import ocr as O

    docs = load_table(spark, sf_dir, "documents")
    docs = fan_out(docs, HEAVY)
    imgs = O.render_text_png(docs, n_chars=48)  # REAL PNG encode
    bin_docs = imgs.select(
        "doc_id",
        F.col("media").alias("content"),
        F.lit("png").alias("doc_type"),
    )
    extracted = C.extract_text(bin_docs)  # REAL decode + glyph OCR
    return extracted.select(
        "doc_id",
        F.col("text").alias("ocr_text"),
        "n_chars",
    )


# --------------------------------------------------------------------------
# m20 — REAL image OCR through the LOSSY codec: m19's twin over baseline
# JPEG. Each glyph pixel renders as an 8x8 block of a constant EVEN sample,
# which round-trips BIT-exactly through the full T.81 process (jpegcodec's
# documented evenness contract — DC = 8*(v-128) divides the Annex-K step),
# so the recovery is exact template matching over a real Huffman entropy
# decode + dequantize + IDCT. extract_text('jpg') is the gated surface —
# with m19 this makes every extractor type in the registry REAL; only
# photographic OCR (tesseract's model) remains environmental, and
# non-raster images raise rather than fabricate. 16 chars per doc (each
# char costs 42 DCT blocks through the entropy coder — the lossy path is
# intrinsically heavier than PNG's, so the gate keeps the raster small).
# 100 TB: Arrow-batched map-only mapInPandas, same scaling as m19.
# --------------------------------------------------------------------------
@query(
    "m20_jpeg_glyph_ocr",
    oracle="""
    SELECT doc_id,
           rpad(upper(substr(regexp_replace(coalesce(text, ''),
                                            '[^A-Za-z0-9 ]', ' ', 'g'),
                             1, 16)), 16, ' ')  AS ocr_text,
           CAST(16 AS INT)                      AS n_chars
    FROM documents
    """,
)
def m20_jpeg_glyph_ocr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import chunking as C
    from ..operators import ocr as O

    docs = load_table(spark, sf_dir, "documents")
    docs = fan_out(docs, HEAVY)
    imgs = O.render_text_jpeg(docs, n_chars=16)  # REAL T.81 encode
    bin_docs = imgs.select(
        "doc_id",
        F.col("media").alias("content"),
        F.lit("jpg").alias("doc_type"),
    )
    extracted = C.extract_text(bin_docs)  # REAL entropy decode + IDCT + OCR
    return extracted.select(
        "doc_id",
        F.col("text").alias("ocr_text"),
        "n_chars",
    )


# --------------------------------------------------------------------------
# m21 — IMAGE near-dup via perceptual hashing (operators/phash.py dHash —
# the multimodal member of the dedup family: byte-level digests miss
# re-encoded/re-lit copies; the gradient-sign hash catches them). The
# corpus is synthesized THROUGH the real PNG codec with a known cluster
# structure: the 64-bit dHash is a pure function of doc_id % 8 while a
# per-doc brightness jitter varies the bytes inside each group (dHash is
# brightness-invariant: a global offset moves both neighbors of every
# comparison). The query decodes every image (chunk walk, CRC, inflate,
# all five row filters), hashes the reconstructed rasters, and clusters
# by exact hash — t01's groupBy shape on an 8-byte key. The oracle states
# the cluster structure in closed form over doc_id arithmetic: any decode
# slip, sign error, or packing bug re-clusters the corpus and flips the
# hash (a collapsed pattern even changes the row count).
# 100 TB: hashing is decode-speed mapInPandas (no shuffle, one int64 per
# image); clustering is one groupBy on the key; Hamming-near matching
# composes with dedup.py's SimHash band machinery unchanged.
# --------------------------------------------------------------------------
@query(
    "m21_dhash_near_dup",
    oracle="""
    SELECT CAST(min(doc_id) AS BIGINT) AS keep_doc_id,
           CAST(count(*) AS BIGINT)    AS n_members
    FROM documents
    GROUP BY doc_id % 8
    """,
)
def m21_dhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import phash as P

    docs = load_table(spark, sf_dir, "documents")
    docs = fan_out(docs, MEDIA)
    hashed = P.dhash64(P.synthesize_dhash_png(docs))
    return (
        hashed.groupBy("dhash")
        .agg(
            F.min("doc_id").cast("bigint").alias("keep_doc_id"),
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
        )
        .select("keep_doc_id", "n_members")
    )


# --------------------------------------------------------------------------
# m22 — AUDIO near-dup via acoustic fingerprinting (operators/audiofp.py —
# the audio member of the dedup family: byte digests miss re-encoded or
# re-gained copies; the Haitsma-Kalker band-energy-sign fingerprint
# catches them, because a global gain scales every band energy by g² and
# moves no sign). The corpus is synthesized THROUGH the real stdlib wave
# codec with a known cluster structure: the 8-bit fingerprint is a pure
# function of doc_id % 8 (each frame's bin-centered tone lands in the low
# or high band per the group's cyclic pattern) while a per-doc gain
# jitter varies the bytes inside each group. The query decodes every
# clip, frames it, runs the per-frame rFFT, compares band energies, and
# clusters by the packed fingerprint — m21's groupBy shape, but the gate
# here also pins the fingerprint VALUE per cluster, which the oracle
# states in closed form over doc_id arithmetic: any decode slip, band
# boundary error, sign flip, or packing bug changes the emitted
# fingerprints (and a collapsed pattern changes the row count).
# 100 TB: fingerprinting is decode-speed mapInPandas (one vectorized
# 8x64 rFFT per clip, no shuffle); clustering is one groupBy on an 8-byte
# key; Hamming-near matching composes with dedup.py's SimHash bands.
# --------------------------------------------------------------------------
@query(
    "m22_audio_fp_near_dup",
    oracle=f"""
    SELECT CAST(CASE doc_id % {AFP.N_GROUPS}
        {' '.join(f'WHEN {g} THEN {AFP.group_fingerprint(g)}' for g in range(8))}
           END AS BIGINT)             AS fingerprint,
           CAST(min(doc_id) AS BIGINT) AS keep_doc_id,
           CAST(count(*) AS BIGINT)    AS n_members
    FROM documents
    GROUP BY doc_id % {AFP.N_GROUPS}
    """,
)
def m22_audio_fp_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    docs = fan_out(docs, MEDIA)
    fps = AFP.audio_fingerprint(AFP.synthesize_afp_wav(docs))
    return (
        fps.groupBy("fingerprint")
        .agg(
            F.min("doc_id").cast("bigint").alias("keep_doc_id"),
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
        )
        .select("fingerprint", "keep_doc_id", "n_members")
    )


# --------------------------------------------------------------------------
# m23 — scene-cut detection (shot segmentation): the video-curation
# primitive above m14's raw frame deltas — a training pipeline samples
# ONE frame per shot, so the shot structure IS the sampling plan. The
# corpus is synthesize_mp4_scenes: real Motion-JPEG-in-MP4 whose pixel
# offset jumps at the closed-form cut set {f : (f + doc_id) % 3 == 0},
# so after the REAL demux + JPEG decode a cut is exactly "mean per-pixel
# |delta| > 10" (2 off-cut vs 42 on-cut) and the oracle can state every
# doc's shot count, first cut and cut-frame fingerprint from doc_id
# arithmetic alone — any decode slip, frame mis-order or threshold drift
# flips the hash. 100 TB: sample_frames emits each doc's frames
# contiguously, frame_deltas diffs them ZERO-SHUFFLE (assume_grouped),
# and the detector is one filter + one doc_id hash agg.
# --------------------------------------------------------------------------
@query(
    "m23_scene_cut_rollup",
    oracle="""
    WITH f AS (
        SELECT doc_id, CAST(gf.f AS BIGINT) AS cut_frame
        FROM documents, unnest(range(1, 6)) AS gf(f)
        WHERE (gf.f + doc_id) % 3 = 0
    )
    SELECT doc_id,
           CAST(count(*) + 1 AS BIGINT) AS n_shots,
           CAST(min(cut_frame) AS BIGINT) AS first_cut_frame,
           CAST(sum(cut_frame) AS BIGINT) AS cut_frame_sum
    FROM f
    GROUP BY doc_id
    """,
)
def m23_scene_cut_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    docs = fan_out(docs, HEAVY)
    media = M.synthesize_mp4_scenes(docs, n_frames=6)
    frames = M.sample_frames(media, n_frames=6)  # all frames, REAL demux
    deltas = M.frame_deltas(frames, assume_grouped=True)
    cuts = deltas.filter(F.col("abs_delta") > 10 * F.col("changed_pixels"))
    return cuts.groupBy("doc_id").agg(
        (F.count(F.lit(1)) + 1).cast("bigint").alias("n_shots"),
        F.min("frame_idx").cast("bigint").alias("first_cut_frame"),
        F.sum("frame_idx").cast("bigint").alias("cut_frame_sum"),
    )
