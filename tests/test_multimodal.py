"""Multimodal plumbing tests: binary columns through Arrow-batched
decode / resize / frame-sample stages (operators/multimodal.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.utils import PythonException

from stock_crypto_data_pipeline_public_spark.operators import multimodal as M
from stock_crypto_data_pipeline_public_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def media(spark, sf_dir):
    return M.attach_media(load_table(spark, sf_dir, "documents").limit(50)).cache()


def test_decode_features_deterministic(spark, media):
    f1 = {r.doc_id: r for r in M.decode_features(media, fake=True).collect()}
    f2 = {r.doc_id: r for r in M.decode_features(media, fake=True).collect()}
    assert f1.keys() == f2.keys() and len(f1) == 50
    some = next(iter(f1))
    assert f1[some].checksum == f2[some].checksum
    assert 64 <= f1[some].width <= 255 and f1[some].sample_rate >= 8000


def test_real_decode_is_clearly_stubbed(media):
    with pytest.raises(PythonException, match="NotImplementedError"):
        M.decode_features(media, fake=False).collect()


def test_resize_updates_payload_and_dims(media):
    out = M.resize_images(media, 128, 96, fake=True)
    rows = out.collect()
    assert len(rows) == 50
    target = 128 * 96 // 64
    assert all(len(r.media) == target and r.width == 128 and r.height == 96 for r in rows)
    # deterministic rendition
    again = {r.doc_id: bytes(r.media) for r in M.resize_images(media, 128, 96, fake=True).collect()}
    assert all(bytes(r.media) == again[r.doc_id] for r in rows)


def test_sample_frames_explodes_rows(media):
    frames = M.sample_frames(media, n_frames=4, fake=True)
    assert frames.count() == 50 * 4
    per_doc = frames.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"), F.countDistinct("frame_idx").alias("d")
    )
    assert per_doc.filter((F.col("n") != 4) | (F.col("d") != 4)).count() == 0
    # frame timestamps ascend within a doc
    one = frames.filter(F.col("doc_id") == frames.first().doc_id).orderBy("frame_idx").collect()
    ts = [r.frame_ts_ms for r in one]
    assert ts == sorted(ts)


def test_wav_real_decode_roundtrip(spark, sf_dir):
    """synthesize_wav → decode_features runs the REAL stdlib wave parse:
    every decoded header field must equal its closed-form source."""
    docs = load_table(spark, sf_dir, "documents").limit(40)
    feats = M.decode_features(M.synthesize_wav(docs)).collect()
    src = {r.doc_id: r.text for r in docs.collect()}
    assert len(feats) == 40
    for r in feats:
        assert r.sample_rate == 8000 + (r.doc_id % 5) * 4000
        assert r.n_channels == 1 + r.doc_id % 2
        assert r.n_samples == 100 + (len(src[r.doc_id] or "") % 400)
        assert r.n_bytes == 44 + r.n_samples * r.n_channels * 2
        assert r.duration_ms == r.n_samples * 1000 // r.sample_rate
        assert r.width is None and r.height is None


def test_ppm_real_decode_and_resize(spark, sf_dir):
    """synthesize_ppm → REAL header parse; REAL nearest-neighbor resize
    round-trips through a second real decode with the new dimensions."""
    docs = load_table(spark, sf_dir, "documents").limit(30)
    media = M.synthesize_ppm(docs)
    feats = {r.doc_id: r for r in M.decode_features(media).collect()}
    src = {r.doc_id: r.text for r in docs.collect()}
    assert len(feats) == 30
    for doc_id, r in feats.items():
        assert r.width == 8 + doc_id % 32
        assert r.height == 8 + (len(src[doc_id] or "") % 32)
        assert r.n_channels == 3 and r.sample_rate is None
    resized = M.resize_images(media, 16, 12)  # fake NOT set: real path
    rfeats = M.decode_features(resized).collect()
    assert len(rfeats) == 30
    for r in rfeats:
        assert (r.width, r.height) == (16, 12)
        assert r.n_bytes == len("P6\n16 12\n255\n") + 16 * 12 * 3


def test_ppm_nearest_neighbor_values(spark, sf_dir):
    """The resized pixel plane is an EXACT nearest-neighbor subsample of
    the source plane (not a pseudo-rendition)."""
    import numpy as np

    from stock_crypto_data_pipeline_public_spark.operators.multimodal import (
        _ppm_header_fields,
        _ppm_pixel_offset,
    )

    docs = load_table(spark, sf_dir, "documents").limit(3)
    media = {r.doc_id: bytes(r.media) for r in M.synthesize_ppm(docs).collect()}
    resized = {
        r.doc_id: bytes(r.media)
        for r in M.resize_images(M.synthesize_ppm(docs), 5, 4).collect()
    }
    for doc_id, b in media.items():
        f = _ppm_header_fields(b)
        w, h = int(f[1]), int(f[2])
        px = np.frombuffer(b, np.uint8, count=w * h * 3, offset=_ppm_pixel_offset(b)).reshape(h, w, 3)
        rb = resized[doc_id]
        rp = np.frombuffer(rb, np.uint8, offset=_ppm_pixel_offset(rb)).reshape(4, 5, 3)
        yi = np.arange(4) * h // 4
        xi = np.arange(5) * w // 5
        assert (rp == px[yi][:, xi]).all()


def test_ppm_comment_header_offset():
    """A '#' comment containing a field's digits must not fool the pixel-
    plane locator (index()-based re-finding used to land inside the
    comment); resize must read the true plane."""
    import numpy as np

    from stock_crypto_data_pipeline_public_spark.operators.multimodal import (
        _ppm_header_fields,
        _ppm_pixel_offset,
        _resize_ppm,
    )

    w, h = 4, 2
    px = np.arange(w * h * 3, dtype=np.uint8)
    # comment repeats the width token "4" before the real field
    b = b"P6\n# 4 4\n4 2\n# 255\n255\n" + px.tobytes()
    assert _ppm_header_fields(b) == [b"P6", b"4", b"2", b"255"]
    off = _ppm_pixel_offset(b)
    assert b[off:] == px.tobytes()
    out = _resize_ppm(b, 2, 1)
    fields = _ppm_header_fields(out)
    assert (fields[1], fields[2]) == (b"2", b"1")
    # nearest-neighbor of row 0: columns 0 and 2
    expect = px.reshape(h, w, 3)[[0]][:, [0, 2]].tobytes()
    assert out[_ppm_pixel_offset(out):] == expect


def test_bmp_decode_fields_and_edge_cases(spark, sf_dir):
    """The BMP struct parse must report the synthesized header exactly,
    handle top-down (negative height) bitmaps, and reject non-BMPs."""
    import pytest as _pytest
    import struct

    from stock_crypto_data_pipeline_public_spark.operators.multimodal import (
        _decode_bmp,
        decode_features,
        synthesize_bmp,
    )
    from stock_crypto_data_pipeline_public_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(20)
    media = synthesize_bmp(docs)
    feats = {r["doc_id"]: r for r in decode_features(media).collect()}
    for r in docs.select("doc_id", "text").collect():
        w = 4 + r["doc_id"] % 16
        h = 4 + (len(r["text"] or "") % 16)
        f = feats[r["doc_id"]]
        assert (f["width"], f["height"], f["n_channels"]) == (w, h, 3)
        assert f["n_bytes"] == 54 + ((3 * w + 3) // 4) * 4 * h

    # top-down BMP: negative height, dimension is the magnitude
    head = struct.pack("<2sIHHI", b"BM", 54 + 12, 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, 2, -2, 1, 24, 0, 12, 0, 0, 0, 0)
    got = _decode_bmp(head + dib + b"\x00" * 12)
    assert (got["width"], got["height"]) == (2, 2)

    with _pytest.raises(ValueError, match="not a BMP"):
        _decode_bmp(b"P6 not a bmp" + b"\x00" * 60)


def test_png_real_decode_roundtrip(spark, sf_dir):
    """synthesize_png → decode_features runs the REAL stdlib codec: the
    decoded dims AND the pixel_sum over the reconstructed raster must equal
    their closed forms (covers all five row filters + split IDAT)."""
    docs = load_table(spark, sf_dir, "documents").limit(40)
    feats = {r.doc_id: r for r in M.decode_features(M.synthesize_png(docs)).collect()}
    src = {r.doc_id: r.text for r in docs.collect()}
    assert len(feats) == 40
    for doc_id, r in feats.items():
        w = 4 + doc_id % 8
        h = 4 + (len(src[doc_id] or "") % 8)
        k = doc_id % 50
        assert (r.width, r.height, r.n_channels) == (w, h, 3)
        expect = (
            3 * h * w * (w - 1) // 2 + 3 * w * h * (h - 1) + 9 * w * h + 3 * w * h * k
        )
        assert r.pixel_sum == expect


def test_jpeg_real_decode_roundtrip(spark, sf_dir):
    """synthesize_jpeg → decode_features runs the REAL T.81 codec: the
    decoded dims AND pixel_sum must equal their closed forms — exact even
    though JPEG is lossy, because block-constant even values keep only the
    DC coefficient and the Annex-K DC step divides it (jpegcodec.py)."""
    docs = load_table(spark, sf_dir, "documents").limit(40)
    feats = {r.doc_id: r for r in M.decode_features(M.synthesize_jpeg(docs)).collect()}
    src = {r.doc_id: r.text for r in docs.collect()}
    assert len(feats) == 40
    for doc_id, r in feats.items():
        bw = 2 + doc_id % 6
        bh = 2 + (len(src[doc_id] or "") % 6)
        k = doc_id % 50
        assert (r.width, r.height, r.n_channels) == (8 * bw, 8 * bh, 1)
        expect = 128 * (bh * bw * (bw - 1) // 2 + bw * bh * (bh - 1) + bw * bh * k)
        assert r.pixel_sum == expect


def test_audio_spectral_features(spark, sf_dir):
    """extract_audio_features runs a REAL rFFT over REAL decoded PCM:
    bin-centered tones must come back as exact argmax bins, integer Hz,
    and an RMS within quantization noise of the analytic value; m04's
    stereo silence clips exercise the channel-fold path (rms 0)."""
    import math

    docs = load_table(spark, sf_dir, "documents").limit(30)
    feats = {r.doc_id: r for r in M.extract_audio_features(M.synthesize_tone_wav(docs)).collect()}
    assert len(feats) == 30
    for doc_id, r in feats.items():
        b1 = 5 + doc_id % 50
        b2 = 60 + doc_id % 100
        assert (r.dominant_bin, r.secondary_bin) == (b1, b2)
        assert (r.sample_rate, r.n_samples, r.dominant_hz) == (8192, 512, 16 * b1)
        # analytic RMS of the two-tone mix: sqrt((6000^2 + 3000^2)/2)
        assert abs(r.rms - math.sqrt((6000**2 + 3000**2) / 2)) < 2.0

    silence = {
        r.doc_id: r
        for r in M.extract_audio_features(M.synthesize_wav(docs)).collect()
    }
    assert all(r.rms == 0.0 for r in silence.values())
    # stereo clips (doc_id odd -> 2 channels) folded without error
    assert any((d % 2) == 1 for d in silence)

    # zero-length clip: null spectrum fields, not a crash
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(b"")
    empty = spark.createDataFrame(
        [(99, bytearray(buf.getvalue()))], "doc_id long, media binary"
    )
    r = M.extract_audio_features(empty).collect()[0]
    assert (r.n_samples, r.dominant_bin, r.rms) == (0, None, 0.0)


def test_mp4_real_demux_and_decode(spark, sf_dir):
    """synthesize_mp4 → sample_frames → decode_frames composes two REAL
    codec layers: ISO-BMFF demux (container timestamps from stts, sample
    bytes from stsc/stsz/stco) and T.81 JPEG decode — dims, timestamps
    AND pixel sums must equal their closed forms. decode_features on the
    same payloads gates the real container metadata."""
    docs = load_table(spark, sf_dir, "documents").limit(30)
    media = M.synthesize_mp4(docs, n_frames=6)
    src = {r.doc_id: r.text for r in docs.collect()}

    meta = {r.doc_id: r for r in M.decode_features(media).collect()}
    frames = M.decode_frames(M.sample_frames(media, n_frames=3))
    rows = frames.collect()
    assert len(rows) == 30 * 3
    for doc_id, r in meta.items():
        bw = 2 + doc_id % 4
        bh = 2 + (len(src[doc_id] or "") % 4)
        assert (r.width, r.height, r.n_samples, r.duration_ms) == (
            8 * bw, 8 * bh, 6, 600,
        )
    for r in rows:
        bw = 2 + r.doc_id % 4
        bh = 2 + (len(src[r.doc_id] or "") % 4)
        k = r.doc_id % 40
        s = r.frame_idx * 6 // 3
        assert (r.width, r.height, r.frame_ts_ms) == (8 * bw, 8 * bh, s * 100)
        expect = 128 * (
            bh * bw * (bw - 1) // 2 + bw * bh * (bh - 1) + bw * bh * (k + s)
        )
        assert r.pixel_sum == expect


def test_frame_deltas_temporal_differencing(spark, sf_dir):
    """frame_deltas on demuxed MJPEG frames: every transition's |Δ| sum
    and changed-pixel count equal their closed forms (+2 per pixel per
    frame step), on BOTH paths — zero-shuffle assume_grouped directly
    downstream of sample_frames, and the general repartition+sort path
    fed deliberately shuffled rows."""
    docs = load_table(spark, sf_dir, "documents").limit(20)
    frames = M.sample_frames(M.synthesize_mp4(docs, n_frames=6), n_frames=6)
    src = {r.doc_id: r.text for r in docs.collect()}

    grouped = M.frame_deltas(frames, assume_grouped=True).collect()
    general = M.frame_deltas(
        frames.orderBy(F.rand(seed=5))  # destroy grouping on purpose
    ).collect()
    for rows in (grouped, general):
        assert len(rows) == 20 * 5  # frames 1..5 have predecessors
        for r in rows:
            bw = 2 + r.doc_id % 4
            bh = 2 + (len(src[r.doc_id] or "") % 4)
            assert r.frame_ts_ms == r.frame_idx * 100
            assert r.abs_delta == 128 * bw * bh
            assert r.changed_pixels == 64 * bw * bh


def test_streaming_media_feature_sink(spark, sf_dir, tmp_path):
    """Media payloads stream through the REAL codecs: file-stream of
    JPEG rows → run_media_feature_sink → epoch-partitioned feature
    table. Growing the input and restarting the stream (same checkpoint)
    processes only the new rows, features stay exact, and no doc
    duplicates across epochs."""
    from pyspark.sql import functions as F2

    from stock_crypto_data_pipeline_public_spark.streaming.pipeline import (
        file_stream,
        run_media_feature_sink,
    )

    docs = load_table(spark, sf_dir, "documents").limit(24)
    media = M.synthesize_jpeg(docs).cache()
    in_dir = str(tmp_path / "in")
    feat_dir = str(tmp_path / "features")
    ckpt = str(tmp_path / "ckpt")

    first = media.filter(F2.col("doc_id") % 2 == 0)
    second = media.filter(F2.col("doc_id") % 2 == 1)
    first.write.mode("append").parquet(in_dir)
    run_media_feature_sink(
        file_stream(spark, in_dir, media.schema), feat_dir, ckpt
    ).awaitTermination()
    second.write.mode("append").parquet(in_dir)
    run_media_feature_sink(
        file_stream(spark, in_dir, media.schema), feat_dir, ckpt
    ).awaitTermination()

    feats = spark.read.parquet(feat_dir)
    rows = feats.collect()
    assert len(rows) == 24
    assert len({r.doc_id for r in rows}) == 24  # no replay duplicates
    src = {r.doc_id: r.text for r in docs.collect()}
    for r in rows:
        bw = 2 + r.doc_id % 6
        bh = 2 + (len(src[r.doc_id] or "") % 6)
        k = r.doc_id % 50
        assert (r.width, r.height) == (8 * bw, 8 * bh)
        assert r.pixel_sum == 128 * (
            bh * bw * (bw - 1) // 2 + bw * bh * (bh - 1) + bw * bh * k
        )


def test_jpeg_real_resize_scale_mode(spark, sf_dir):
    """resize_images(scale=2) on JPEGs runs the REAL lossy round-trip
    (decode → NN upscale → re-encode): 2x upscale keeps block-constant
    rasters block-constant, so the second decode is bit-exact — dims
    double, pixel sum quadruples. Arbitrary fixed-target JPEG resize also
    runs (lossy, dims-gated only)."""
    docs = load_table(spark, sf_dir, "documents").limit(20)
    media = M.synthesize_jpeg(docs).cache()
    src = {r.doc_id: r.text for r in docs.collect()}

    up = {r.doc_id: r for r in M.decode_features(M.resize_images(media, scale=2)).collect()}
    for doc_id, r in up.items():
        bw = 2 + doc_id % 6
        bh = 2 + (len(src[doc_id] or "") % 6)
        k = doc_id % 50
        assert (r.width, r.height) == (16 * bw, 16 * bh)
        assert r.pixel_sum == 4 * 128 * (
            bh * bw * (bw - 1) // 2 + bw * bh * (bh - 1) + bw * bh * k
        )

    # fixed-target path: real but lossy — dims must still be exact
    fixed = {r.doc_id: r for r in M.decode_features(M.resize_images(media, 24, 24)).collect()}
    assert all((r.width, r.height) == (24, 24) for r in fixed.values())

    import pytest as _pytest
    with _pytest.raises(ValueError, match="XOR"):
        M.resize_images(media, 16, 12, scale=2)


def test_png_codec_exact_raster_and_filters():
    """_encode_png → _decode_png reconstructs the EXACT raster for images
    tall enough that every filter type (y % 5) appears, including values
    that wrap mod 256 during filtering, and regardless of IDAT splitting."""
    import numpy as np
    import zlib

    from stock_crypto_data_pipeline_public_spark.operators.multimodal import (
        _decode_png,
        _encode_png,
        _png_chunks,
        _unfilter_png,
    )

    rng = np.random.default_rng(7)
    for (h, w) in [(7, 5), (6, 1), (11, 9)]:
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        for split in (False, True):
            b = _encode_png(px, split_idat=split)
            got = _decode_png(b)
            assert (got["width"], got["height"]) == (w, h)
            assert got["pixel_sum"] == int(px.sum(dtype="int64"))
            # reconstruct the raster independently and compare byte-exact
            idat = b"".join(d for t, d in _png_chunks(b) if t == b"IDAT")
            raster = _unfilter_png(zlib.decompress(idat), w, h, 3)
            assert (raster == px.reshape(h, w * 3)).all()
    # split_idat=True really produces two IDAT chunks
    b = _encode_png(rng.integers(0, 256, size=(5, 4, 3), dtype=np.uint8), split_idat=True)
    assert sum(1 for t, _ in _png_chunks(b) if t == b"IDAT") == 2


def test_png_codec_rejects_corruption():
    """Corrupt CRC, unsupported layout, and truncation fail loudly."""
    import struct
    import numpy as np
    import pytest as _pytest

    from stock_crypto_data_pipeline_public_spark.operators.multimodal import (
        _decode_png,
        _encode_png,
    )

    px = np.zeros((4, 4, 3), dtype=np.uint8)
    b = _encode_png(px)
    # flip one byte inside the IHDR data → CRC mismatch
    bad = bytearray(b)
    bad[8 + 8 + 2] ^= 0xFF
    with _pytest.raises(ValueError, match="CRC mismatch"):
        _decode_png(bytes(bad))
    with _pytest.raises(ValueError, match="not a PNG"):
        _decode_png(b"BM" + b"\x00" * 60)
    with _pytest.raises(ValueError, match="truncated PNG"):
        _decode_png(b[:20])
    # grayscale IHDR → unsupported layout, not silent garbage
    gray = bytearray(b)
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0)
    import zlib as _z
    gray[8:8 + 12 + 13] = (
        struct.pack(">I", 13) + b"IHDR" + ihdr
        + struct.pack(">I", _z.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF)
    )
    with _pytest.raises(ValueError, match="unsupported PNG layout"):
        _decode_png(bytes(gray))


def test_png_real_resize_roundtrip(spark, sf_dir):
    """PNG resize decodes through the full codec, subsamples, and
    re-encodes: a second real decode of the rendition must report the new
    dims and EXACTLY the nearest-neighbor pixel sum of the source."""
    import numpy as np
    import zlib

    from stock_crypto_data_pipeline_public_spark.operators.multimodal import (
        _png_chunks,
        _unfilter_png,
    )

    docs = load_table(spark, sf_dir, "documents").limit(20)
    media = M.synthesize_png(docs)
    src = {r.doc_id: bytes(r.media) for r in media.collect()}
    resized = M.resize_images(M.synthesize_png(docs), 5, 4)  # real path
    rfeats = {r.doc_id: r for r in M.decode_features(resized).collect()}
    assert len(rfeats) == 20
    for doc_id, b in src.items():
        idat = b"".join(d for t, d in _png_chunks(b) if t == b"IDAT")
        import struct

        ihdr = next(d for t, d in _png_chunks(b) if t == b"IHDR")
        w, h = struct.unpack_from(">II", ihdr)
        px = _unfilter_png(zlib.decompress(idat), w, h, 3).reshape(h, w, 3)
        yi = np.arange(4) * h // 4
        xi = np.arange(5) * w // 5
        expect = px[yi][:, xi]
        r = rfeats[doc_id]
        assert (r.width, r.height) == (5, 4)
        assert r.pixel_sum == int(expect.sum(dtype="int64"))


def test_null_text_documents_decode_identically_to_empty(spark):
    """The advisor's latent case, made real: documents with NULL text must
    behave exactly like empty text through every synthesizer and decode
    path (attach_media coalesces; synthesizers use `text or ''`) — the
    convention the SQL oracles encode with coalesce(text, '')."""
    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, "abc")], "doc_id long, text string"
    )
    # fake path: NULL payload would crash hashlib; coalesce makes it b""
    feats = {r.doc_id: r for r in M.decode_features(M.attach_media(docs), fake=True).collect()}
    assert feats[1].n_bytes == 0 and feats[1].checksum == feats[2].checksum
    # every REAL synthesizer treats NULL as len 0 (same dims as empty)
    for synth, field in (
        (M.synthesize_wav, "n_samples"),
        (M.synthesize_ppm, "height"),
        (M.synthesize_bmp, "height"),
        (M.synthesize_png, "height"),
        (M.synthesize_jpeg, "height"),
        (M.synthesize_mp4, "height"),
    ):
        out = {r.doc_id: r for r in M.decode_features(synth(docs)).collect()}
        assert out[1][field] is not None
        # doc 1 (NULL) and doc 2 ("") differ only via doc_id terms; compare
        # against a doc_id-matched empty-text twin instead
        twin = spark.createDataFrame([(1, "")], "doc_id long, text string")
        t = {r.doc_id: r for r in M.decode_features(synth(twin)).collect()}
        assert out[1][field] == t[1][field]
        assert out[1].checksum == t[1].checksum, "NULL must equal '' byte-for-byte"


def test_gif_real_decode_roundtrip(spark, sf_dir):
    """synthesize_gif → decode_features runs the REAL GIF87a/LZW codec:
    dims and the palette-mapped pixel sum must equal their closed forms."""
    docs = load_table(spark, sf_dir, "documents").limit(30)
    feats = {r.doc_id: r for r in M.decode_features(M.synthesize_gif(docs)).collect()}
    src = {r.doc_id: r.text for r in docs.collect()}
    assert len(feats) == 30
    for doc_id, r in feats.items():
        w = 4 + doc_id % 12
        h = 4 + (len(src[doc_id] or "") % 12)
        assert (r.width, r.height, r.n_channels) == (w, h, 3)
        expect = sum(
            17 * ((x + 2 * y + doc_id) % 8) for x in range(w) for y in range(h)
        )
        assert r.pixel_sum == expect


def test_gif_codec_rejects_malformed_inputs():
    import numpy as np
    import pytest as _pytest

    from stock_crypto_data_pipeline_public_spark.operators.multimodal import (
        _decode_gif,
        _encode_gif,
        _lzw_decompress_gif,
    )

    b = _encode_gif(np.zeros((4, 4), dtype=np.uint8))
    with _pytest.raises(ValueError, match="not a GIF"):
        _decode_gif(b"PNG" + b[3:])
    with _pytest.raises(ValueError, match="truncated GIF"):
        _decode_gif(b[:-8])
    with _pytest.raises(ValueError, match="ended before EOI"):
        _lzw_decompress_gif(b"", 3)
    # pixel-count mismatch (forged dims) fails loudly
    import struct
    forged = bytearray(b)
    struct.pack_into("<H", forged, 6, 5)   # widen screen w
    struct.pack_into("<H", forged, 13 + 24 + 5, 5)  # widen image w
    with _pytest.raises(ValueError):
        _decode_gif(bytes(forged))


def test_lzw_property_roundtrip():
    """LZW compress→decompress is the identity on adversarial index
    streams: random, all-equal (max dictionary chaining), short-period
    repeats (KwKwK pressure), and long enough to force width growth and
    the 4096 dictionary reset."""
    import numpy as np

    from stock_crypto_data_pipeline_public_spark.operators.multimodal import (
        _lzw_compress_gif,
        _lzw_decompress_gif,
    )

    rng = np.random.default_rng(11)
    cases = [
        b"",
        bytes([0]),
        bytes([7] * 100000),
        bytes([0, 1] * 50000),
        bytes([0, 0, 1, 0, 0, 1, 1] * 30000),
        bytes(rng.integers(0, 8, size=250000, dtype=np.uint8)),
    ]
    for data in cases:
        assert _lzw_decompress_gif(_lzw_compress_gif(data, 3), 3) == data


def test_gif_real_frame_sampling(spark, sf_dir):
    """sample_frames on animated GIFs is the REAL path: sampled frames
    are standalone single-frame GIFs whose decoded rasters equal the
    source animation's frames at indices k*total//n, timestamps derive
    from the SOURCE index, and downstream decode_features/resize work on
    the sampled rows unchanged."""
    import numpy as np

    from stock_crypto_data_pipeline_public_spark.operators.multimodal import (
        _gif_parse,
    )

    docs = load_table(spark, sf_dir, "documents").limit(10)
    media = M.synthesize_animated_gif(docs, n_frames=6)
    src = {r.doc_id: bytes(r.media) for r in media.collect()}
    frames = M.sample_frames(media, n_frames=3, fps=10).collect()
    assert len(frames) == 30
    for r in frames:
        w, h, pal, animation = _gif_parse(src[r.doc_id])
        src_idx = r.frame_idx * len(animation) // 3
        assert r.frame_ts_ms == src_idx * 1000 // 10
        fw, fh, fpal, fr = _gif_parse(bytes(r.frame))
        assert (fw, fh, len(fr)) == (w, h, 1)
        assert fr[0] == animation[src_idx], "sampled raster must be exact"
    # sampled rows feed the standard feature extractor unchanged
    one = M.sample_frames(media, n_frames=2, fps=10).selectExpr(
        "doc_id", "frame AS media", "'image/gif' AS media_type"
    )
    feats = M.decode_features(one).collect()
    assert len(feats) == 20 and all(f.n_samples == 1 for f in feats)


def test_gif_real_resize_exact_indices(spark, sf_dir):
    """GIF resize resamples the decoded index rasters (every frame of an
    animation) and re-encodes: the resized payload must decode to the
    exact nearest-neighbor subsample of each source frame."""
    import numpy as np

    from stock_crypto_data_pipeline_public_spark.operators.multimodal import (
        _gif_parse,
    )

    docs = load_table(spark, sf_dir, "documents").limit(8)
    media = M.synthesize_animated_gif(docs, n_frames=3)
    src = {r.doc_id: bytes(r.media) for r in media.collect()}
    resized = {
        r.doc_id: bytes(r.media)
        for r in M.resize_images(media, 5, 4).collect()  # real path
    }
    for doc_id, b in src.items():
        w, h, pal, frames = _gif_parse(b)
        rw, rh, rpal, rframes = _gif_parse(resized[doc_id])
        assert (rw, rh, len(rframes), rpal) == (5, 4, len(frames), pal)
        yi = np.arange(4) * h // 4
        xi = np.arange(5) * w // 5
        for f, rf in zip(frames, rframes):
            expect = np.frombuffer(f, np.uint8).reshape(h, w)[yi][:, xi]
            assert rf == expect.tobytes()


def test_resample_audio_decimates_stereo_frames_aligned(spark):
    """2:1 decimation keeps FRAMES (both channels of the kept sample) —
    channel L/R values must stay paired, the rate halves, and the kept
    samples are exactly the even-index frames of the source."""
    import io
    import wave

    import numpy as np

    nc, n, sr = 2, 64, 8000
    # frame i carries (L, R) = (2i, 2i+1): any de-interleave slip shows up
    pcm = np.arange(n * nc, dtype="<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(nc)
        w.setsampwidth(2)
        w.setframerate(sr)
        w.writeframes(pcm.tobytes())
    media = spark.createDataFrame(
        [(1, bytearray(buf.getvalue()), "audio/wav", len(buf.getvalue()))],
        "doc_id long, media binary, media_type string, n_bytes int",
    )
    out = M.resample_audio(media, factor=2).collect()[0]
    with wave.open(io.BytesIO(bytes(out.media))) as w:
        assert w.getframerate() == sr // 2
        assert w.getnchannels() == nc
        assert w.getnframes() == n // 2
        got = np.frombuffer(w.readframes(n // 2), dtype="<i2")
    want = np.arange(n * nc, dtype="<i2").reshape(n, nc)[::2].ravel()
    assert np.array_equal(got, want)


def test_resample_audio_rejects_bad_factor(spark):
    with pytest.raises(ValueError, match="factor"):
        M.resample_audio(None, factor=0)


def test_dhash_brightness_invariant_and_patterns_distinct(spark):
    """operators/phash.py: (a) uniformly re-lit copies of the same group
    hash identically (the near-dup property byte digests lack), (b) the 8
    synthesis groups produce 8 distinct hashes, (c) a non-grid image is
    rejected loudly rather than mis-hashed."""
    import pytest
    from pyspark.sql import Row

    from stock_crypto_data_pipeline_public_spark.operators import phash as P

    # doc_ids 0..23: each group g appears with jitter 0, 10 and 20
    docs = spark.createDataFrame([Row(doc_id=i) for i in range(24)])
    hashed = {
        r.doc_id: r.dhash
        for r in P.dhash64(P.synthesize_dhash_png(docs)).collect()
    }
    by_group = {}
    for doc_id, h in hashed.items():
        by_group.setdefault(doc_id % P.N_GROUPS, set()).add(h)
    assert all(len(hs) == 1 for hs in by_group.values())  # jitter-invariant
    assert len({hs.pop() for hs in by_group.values()}) == P.N_GROUPS

    # wrong-size input raises instead of silently hashing garbage
    from stock_crypto_data_pipeline_public_spark.operators.multimodal import synthesize_png

    full = spark.createDataFrame([Row(doc_id=1, text="abcdef")])
    with pytest.raises(Exception, match="downsample"):
        P.dhash64(synthesize_png(full)).collect()


#: md5 of every payload each media producer emits for _GOLDEN_ROWS, in
#: doc_id order. PNG, JPEG, GIF and MP4 sizes are entropy-coded and no
#: oracle gates their bytes, so these digests are what pins them.
_GOLDEN_ROWS = [
    (0, None),
    (1, ""),
    (2, "Hello, World 42"),
    (7, "the quick brown fox jumps over the lazy dog 0123456789 and more text"),
    (12, "ABC"),
    (33, "x" * 17),
    (50, "Zürich café — naïve"),
    (97, "  spaced   out  "),
]
_GOLDEN_MD5 = {
    "synthesize_wav": ("audio/wav", (
        "d905122c14eb65a1a8cedadc1c375558",
        "258365b740878c90ebeadac103c7f690",
        "13ec8a86c316a6f25f8e4f817854df8b",
        "6e1015906d22b7dac53d44d4ab8bb0dc",
        "f99c20f34e2984f1504e62dbabfa9f6d",
        "79726a81c7c5b17bc717c27c5e207233",
        "ed2c1ff668277bac072e325b44a456d4",
        "975842258c27895d6d4678e346b090c4",
    )),
    "synthesize_ppm": ("image/x-portable-pixmap", (
        "7deba90473c8042ffbec5105ffd25902",
        "c714823e56b5da6d3494aa770fb3aa76",
        "a5d341b3dd2fe1344522cca7f1b0ebf0",
        "3dbc59cc832860dedcc854d990b5654e",
        "c765bb06b61d0e498f179fbb93a8efc8",
        "161e2cfd682e9159b511a5e74b89fd27",
        "cf01aceede3398db2c985fe4e14b6a46",
        "de3b09dfe9b15e2edbd64fd24a1c910a",
    )),
    "synthesize_bmp": ("image/bmp", (
        "2d710540b5e5fe56eb9d751ddeea937b",
        "0e4b0a524e1fdedb3543b3d185e4c465",
        "7933fb589a1e35d4fc52b8abf36ee978",
        "636b58f73172724c61c2885b26c704b3",
        "9f5b2a2e06619a11eb9399b08c6bb7aa",
        "66c74ca3d980bfe3c97f658f7055f76c",
        "505f49d5bd9bd2a0b569b6e64008b79c",
        "fc464b7eff28f31f2966cbb5fb27d217",
    )),
    "synthesize_png": ("image/png", (
        "0519a7260b1bcb6fcebc525f3d90e7af",
        "9844644ca3d1a0e87c7e22d339d13f4b",
        "377537ece670fe68ca34c2d6888baccf",
        "916933d120434e29087b260041f31fc8",
        "3a37194f75d5de783c03fee65cddf09e",
        "cd06580adb83eb10ebc15abe575a5f59",
        "d6ef6ddd59bd18454728e111b45a11cc",
        "c93bbf2feefca5f3aef2489a5c9541cb",
    )),
    "synthesize_tone_wav": ("audio/wav", (
        "daaec252474a7b0b44bf54af141d9c1b",
        "75ea9258c4019886d89acc20f3ad7d26",
        "555f3f401087dbfd1fc8a6ec986add1a",
        "2c3eb4918ddd48c44a397ff2e7462d09",
        "d84f16c33f0560bde8a820b9ebdfce14",
        "9dd7c3b98e4d5b6dd3edbcb83639f22d",
        "d0eb13918566cf626e0bc6d79743045a",
        "4aa7fce945fd0e4c448c60f1cdbed4ac",
    )),
    "resample_audio": ("audio/wav", (
        "92796011f7179ddc6b099e877482aee9",
        "8f27b06087e96001ac539bea574bc590",
        "fc9090072006b0978d9c0b4a6a4549c7",
        "bc61d885766c9f3409c8eb25194d7e56",
        "7400e36669313a6d91eb8e4d7d56280c",
        "daafb28028f2c565720f3c9b76bd944b",
        "5f52c4803915e9f37f2b69c8a2b626f5",
        "5a6b0b90c2661c7d601bfd07701efd39",
    )),
    "synthesize_jpeg": ("image/jpeg", (
        "3947f25ca1ad2e74d211333b95fdc160",
        "2674ac491b03a311dfc3d43436a2e14f",
        "3c01e3c9f6fcba4c1d79d1d78a68b40a",
        "c16c8261c7af7992c63e022c73702b55",
        "e1b30b552566879380a79ef7a07777c7",
        "ba152d9ada6a05806e27cbcff969349e",
        "3f1ddf9233ef555334ad0e853c951839",
        "0e8c72bbdd632d114f4901650a47efdb",
    )),
    "synthesize_mp4": ("video/mp4", (
        "61e7f4dc7e22bd840c82cce7178e067d",
        "01f45b0e9086b8e3e8a0c5551bae8dbe",
        "6d490b4476829dddc1b5ec759487d096",
        "451ce0ce893c0b23de9f1487e2f0c1d0",
        "0e863ee70c40156ba7fe21921cd5fde8",
        "8d88b37c1ffbf76b73d642dc1376ac5e",
        "ff5f8e1f68f75e85458408c10d2968e0",
        "b94b89c6052014b1203dbb4aeb89078c",
    )),
    "synthesize_mp4_scenes": ("video/mp4", (
        "8ebec03525900679a650f829903ba108",
        "48f82592be37f0ec9cfb97507ced7bd2",
        "6fadd6fdfc3a1372d8348be5dd62a0e0",
        "ec96f9f72910d135a53cf4c5dce5d4b4",
        "4ef42eaac28bc114a1c7d03974939682",
        "d8e1abc937c3d6dc4bffe67100e7c3ad",
        "4087b7aaa5f2623401840819197649cc",
        "d76533c3d8a02a6148393df18a314b6f",
    )),
    "synthesize_animated_gif": ("image/gif", (
        "7d9729e22d0871ac14a6f5be2a54eac7",
        "7d7cefe5bb1762ea39c66817d12c00c4",
        "6f000229c0bb3d69622cab8eb64abca9",
        "cf2557a0593dfadc9f2eb501a5759df4",
        "ee501d75675fbf78dfe0527435dd760e",
        "e0843cf7b2308663664f21a0d053b5fc",
        "316f43a4ae42dd5b30791a5d967b13f4",
        "5492d324a9994a5cd2f8ad4a2deebd8a",
    )),
    "synthesize_gif": ("image/gif", (
        "ce9883f3d0068fca05aba1efe1c6e2ef",
        "5ab3fe5c5007aa0701a50af5c40addd2",
        "aeba92c55ba4c6e2fc2a87b0768860b1",
        "61ef7c2f76765369496b976116c2dcc5",
        "82dffa08dd383eb93ddf9c026cdfc3f1",
        "10c0a704271644a44c754620742b9fd8",
        "05cdef479817d6f06cb8fa4a05c0a41d",
        "1ac822be497d21910e13c2014d4613bb",
    )),
    "render_text_png": ("image/png", (
        "3ec25bb3364f16eed903f603e36b3197",
        "3ec25bb3364f16eed903f603e36b3197",
        "49550456fa71e63b3fbff93d7cb49dff",
        "ba2d5bfa6f19bdc0f660f5c97a767071",
        "eeffea07fc2e6382bbbe4c6f3570c68d",
        "a517d0cac75c746ddd8098b30f2313a2",
        "03ab1895cf5d78a2daa7963c737b0dc2",
        "8fe2b2ae6b5959fe932c5dd9d7ae74e7",
    )),
    "render_text_jpeg": ("image/jpeg", (
        "133b0997cc7d0698cedb6d39b4d9e05c",
        "133b0997cc7d0698cedb6d39b4d9e05c",
        "e227d11ccd73b7c7830a19c75fcc60cb",
        "15eb685a8997f2a09badb298066ef8a1",
        "ec14fee4203083acfcb4828440de6a9b",
        "0b3aba18c6f824b9e54a645e60eb2fe4",
        "1987b9ffd27e5581b6c95da30a128f62",
        "23acd1ad622cd8b983b1901ef1e7d4a3",
    )),
    "synthesize_dhash_png": ("image/png", (
        "9b33cf4f31a531c30c558108a08e9197",
        "e4e4abc563c85f34871b386d57a25bf2",
        "d718ce7892770a777fd656d58365b687",
        "0edb099ee602d6896f307ba02a29a0df",
        "894e9c80a7ae7b53a7a6ec06bd1e411d",
        "bfca66e51bd880de6644fa5916c9e237",
        "d718ce7892770a777fd656d58365b687",
        "e4e4abc563c85f34871b386d57a25bf2",
    )),
    "synthesize_afp_wav": ("audio/wav", (
        "cd52c27e434c2a56826a43df61d67810",
        "25f3b9f9c548f0449b5333c19459d565",
        "ba67747fbd23b4e6986b75aebbed20c5",
        "616967868631579e3a01e9a14297a2ec",
        "2ff48faf68d7272ac245e0adc24e5c3a",
        "bb01d6174a69b23b64b7ca879e28e4fc",
        "ba67747fbd23b4e6986b75aebbed20c5",
        "25f3b9f9c548f0449b5333c19459d565",
    )),
}


def test_media_producers_emit_pinned_payloads(spark):
    """Every media producer emits byte-identical payloads for a fixed
    8-document frame that holds a NULL text and sits on 10 partitions
    (two of them empty), with n_bytes = len(media) and its own
    media_type."""
    import hashlib

    from stock_crypto_data_pipeline_public_spark.operators import audiofp, ocr, phash

    docs = spark.createDataFrame(
        spark.sparkContext.parallelize(_GOLDEN_ROWS, 10), "doc_id long, text string"
    )
    assert 0 in docs.rdd.glom().map(len).collect()
    producers = {
        "synthesize_wav": M.synthesize_wav,
        "synthesize_ppm": M.synthesize_ppm,
        "synthesize_bmp": M.synthesize_bmp,
        "synthesize_png": M.synthesize_png,
        "synthesize_tone_wav": M.synthesize_tone_wav,
        "resample_audio": lambda d: M.resample_audio(M.synthesize_wav(d)),
        "synthesize_jpeg": M.synthesize_jpeg,
        "synthesize_mp4": M.synthesize_mp4,
        "synthesize_mp4_scenes": M.synthesize_mp4_scenes,
        "synthesize_animated_gif": M.synthesize_animated_gif,
        "synthesize_gif": M.synthesize_gif,
        "render_text_png": ocr.render_text_png,
        "render_text_jpeg": ocr.render_text_jpeg,
        "synthesize_dhash_png": phash.synthesize_dhash_png,
        "synthesize_afp_wav": audiofp.synthesize_afp_wav,
    }
    assert producers.keys() == _GOLDEN_MD5.keys()
    for name, produce in producers.items():
        rows = sorted(produce(docs).collect())
        media_type, digests = _GOLDEN_MD5[name]
        assert [r.doc_id for r in rows] == [d for d, _ in _GOLDEN_ROWS], name
        assert {r.media_type for r in rows} == {media_type}, name
        assert all(r.n_bytes == len(r.media) for r in rows), name
        assert tuple(hashlib.md5(bytes(r.media)).hexdigest() for r in rows) == digests, name
