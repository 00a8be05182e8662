"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Design per the north star: image/audio/video travel as ``binary`` columns
with typed metadata alongside; decode / feature-extraction runs as
Arrow-batched pandas transforms via ``mapInPandas`` (the only place Python
touches the data — everything else stays JVM-side).

Two contracts hold the layer together:

- every media producer (the ``synthesize_*`` family, ``resample_audio``
  and the OCR / dHash / fingerprint corpus renderers) returns through
  :func:`media_rows`, which owns the ``MEDIA_SCHEMA`` row layout; a
  producer is its closed-form per-row body;
- every ``media_type`` dispatch (decode, dimension probe, resize, frame
  sampling, OCR) reads :data:`CODECS` at the bottom of this module. A new
  format is one table entry; an operation a format lacks raises
  ``NotImplementedError`` naming every type that has it.

Only interframe VIDEO pixel codecs (H.26x via libav) remain out of scope:
the container has no media libraries, so types without a real decoder
(e.g. ``application/octet-stream`` placeholders) raise
``NotImplementedError`` unless ``fake=True``, which derives deterministic
pseudo-features (dimensions, sample-rate) from the payload bytes. Seven
formats go through the REAL path with no external dependency:

- ``audio/wav`` — parsed with the stdlib ``wave`` module (RIFF header:
  frame rate, channel count, frame count)
- ``image/x-portable-pixmap`` — the PPM P6 header is parsed directly
  (width/height), and :func:`resize_images` does a REAL nearest-neighbor
  resample of the pixel plane in numpy
- ``image/bmp`` — fixed-offset little-endian struct fields
- ``image/png`` — full stdlib codec: CRC-verified chunk walk, IHDR parse,
  multi-IDAT zlib inflate, all five row filters reconstructed, and a
  ``pixel_sum`` over the raster so oracles gate the pixels, not just dims
- ``image/gif`` — pure-Python GIF87a codec with a full LZW implementation
  (see the codec section at the bottom of this module)
- ``image/jpeg`` — baseline sequential JPEG (grayscale) implemented from
  the published T.81 spec in :mod:`.jpegcodec`: Huffman entropy decode,
  dequantize, IDCT. The synthesizer emits block-constant even-valued
  rasters, which round-trip BIT-EXACTLY through the lossy pipeline (only
  the DC coefficient survives and the Annex-K DC step divides it), so
  even a lossy format gets a closed-form pixel-sum oracle
- ``video/mp4`` — REAL ISO-BMFF container demux (:mod:`.mp4codec`):
  box-tree walk, fixed-point dims, and the stts/stsc/stsz/stco sample
  tables resolved exactly as a player seeks. Synthesized clips carry
  Motion-JPEG samples, so demuxed frames ALSO pixel-decode for real
  through the JPEG codec — container and image layers both gated

The Spark-side plumbing — schema, binary handling, Arrow batch iteration,
partition-preserving mapInPandas — is identical for real and fake paths.

Scale notes: binary payloads dominate row size; at 100 TB the media table
partitions by (media_type, date) and feature extraction is a map-only stage
(no shuffle) whose output is a narrow feature table — join features back by
id instead of carrying payloads through analytic plans.
"""

from __future__ import annotations

import hashlib
import io
import struct
import wave
import zlib
from collections.abc import Callable, Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .jpegcodec import decode_jpeg, encode_jpeg
from .mp4codec import encode_mp4, parse_mp4

#: output schema of the feature extractor (mapInPandas contract); the
#: audio fields (n_channels/n_samples/duration_ms) are null for images and
#: width/height null for audio — one narrow feature table for every modality
FEATURE_SCHEMA = (
    "doc_id long, media_type string, n_bytes int, width int, height int, "
    "sample_rate int, n_channels int, n_samples long, duration_ms long, "
    "pixel_sum long, checksum string"
)

#: the FEATURE_SCHEMA fields a decoder may report; decode_features fills
#: every field a decoder leaves out with NULL
_DECODED = (
    "width", "height", "sample_rate", "n_channels", "n_samples",
    "duration_ms", "pixel_sum",
)

#: media table schema: what attach_media selects and media_rows emits
MEDIA_SCHEMA = "doc_id long, media binary, media_type string, n_bytes int"


def media_rows(
    df: DataFrame, media_type: str, encode: Callable[..., bytes]
) -> DataFrame:
    """One ``MEDIA_SCHEMA`` row per row of ``df``: ``encode(*row)`` gives
    the payload, the first selected column is the ``doc_id`` and
    ``n_bytes = len(payload)``. One Arrow-batched, map-only mapInPandas —
    the harness every media producer shares, so a producer is only its
    per-row body. The output frame is built from plain lists: next to a
    typed Series, pandas would turn an empty list into float64."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, payloads = [], []
            for row in zip(*(pdf[c] for c in pdf.columns)):
                ids.append(row[0])
                payloads.append(encode(*row))
            yield pd.DataFrame({
                "doc_id": ids,
                "media": payloads,
                "media_type": [media_type] * len(ids),
                "n_bytes": [len(b) for b in payloads],
            })

    return df.mapInPandas(gen, MEDIA_SCHEMA)


def pattern_bit(group: int, i: int) -> int:
    """Bit ``i`` of synthesis group ``group`` in the near-dup corpora
    (phash.py's dHash bits, audiofp.py's per-frame band bits): the 8 cyclic
    shifts of 11110000 are pairwise distinct, so the 8 groups get 8
    distinct codes."""
    return 1 if (i + group) % 8 < 4 else 0


def _encode_wav(pcm: bytes, rate: int, channels: int = 1) -> bytes:
    """PCM-16 ``pcm`` frames as a stdlib-``wave`` file: the standard
    44-byte header, so n_bytes = 44 + len(pcm)."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(pcm)
    return buf.getvalue()


def _nearest(px, width: int, height: int):
    """Nearest-neighbor resample of an (h, w, ...) raster to
    (height, width): output row y samples source row y·h // height, and
    columns likewise — the one index rule every resize path uses."""
    h, w = px.shape[:2]
    return px[np.arange(height) * h // height][:, np.arange(width) * w // width]


def attach_media(docs: DataFrame, media_type: str = "application/octet-stream") -> DataFrame:
    """Simulate a media table: utf-8 payload bytes + typed metadata columns.

    In production this is the parquet/iceberg table the ingestion wrote;
    the binary column is opaque to the engine either way. NULL text maps to
    an EMPTY payload (coalesce) so the binary column is never null — the
    same convention the synthesizers use (``text or ""``) and the one the
    SQL oracles encode with ``coalesce(text, '')``.
    """
    payload = F.encode(F.coalesce(F.col("text"), F.lit("")), "utf-8")
    return docs.select(
        "doc_id",
        payload.alias("media"),
        F.lit(media_type).alias("media_type"),
        F.octet_length(payload).alias("n_bytes"),
    )


def _decode_wav(b: bytes) -> dict:
    """REAL audio decode: stdlib ``wave`` parses the RIFF/PCM header."""
    with wave.open(io.BytesIO(b)) as w:
        sr = w.getframerate()
        nc = w.getnchannels()
        ns = w.getnframes()
    return {
        "sample_rate": sr,
        "n_channels": nc,
        "n_samples": ns,
        "duration_ms": ns * 1000 // sr if sr else 0,
    }


def _decode_ppm(b: bytes) -> dict:
    """REAL image decode: parse the PPM P6 header (magic, width, height,
    maxval — whitespace-separated ASCII, '#' comments allowed)."""
    w, h = _ppm_dims(b)
    return {"width": w, "height": h, "n_channels": 3}


def _ppm_dims(b: bytes) -> tuple[int, int]:
    """(width, height) from a P6 header."""
    fields = _ppm_header_fields(b)
    return int(fields[1]), int(fields[2])


def _ppm_header_fields(b: bytes) -> list[bytes]:
    """(magic, width, height, maxval) tokens of a P6 header; raises
    ValueError on anything that is not a PPM."""
    return _ppm_header(b)[0]


def _ppm_header(b: bytes) -> tuple[list[bytes], int]:
    """((magic, width, height, maxval), pixel_offset) of a P6 header. The
    offset is tracked DURING tokenization — re-finding field bytes with
    index() would mislocate the plane when a '#' comment contains a field's
    digits (e.g. '# 16' before width 16)."""
    fields: list[bytes] = []
    i = 0
    while len(fields) < 4:
        while i < len(b) and b[i : i + 1].isspace():
            i += 1
        if i < len(b) and b[i : i + 1] == b"#":  # comment to end of line
            while i < len(b) and b[i : i + 1] != b"\n":
                i += 1
            continue
        start = i
        while i < len(b) and not b[i : i + 1].isspace():
            i += 1
        if start == i:
            raise ValueError("truncated PPM header")
        fields.append(b[start:i])
    if fields[0] != b"P6":
        raise ValueError(f"not a P6 PPM: magic={fields[0]!r}")
    # the pixel plane starts exactly one whitespace byte after maxval
    return fields, i + 1


def _ppm_pixel_offset(b: bytes) -> int:
    """Byte offset of the binary pixel plane: one whitespace after maxval."""
    return _ppm_header(b)[1]


def _decode_bmp(b: bytes) -> dict:
    """REAL image decode: parse the BMP file header + BITMAPINFOHEADER
    with stdlib ``struct`` (uncompressed BMP is pure fixed-offset fields —
    no codec). Height may be negative (top-down row order); the dimension
    is its magnitude."""
    if len(b) < 54 or b[:2] != b"BM":
        raise ValueError(f"not a BMP: magic={b[:2]!r}")
    dib_size = struct.unpack_from("<I", b, 14)[0]
    if dib_size < 40:
        raise ValueError(f"unsupported DIB header size {dib_size}")
    width, height = struct.unpack_from("<ii", b, 18)
    bitcount = struct.unpack_from("<H", b, 28)[0]
    return {"width": width, "height": abs(height), "n_channels": bitcount // 8}


# --------------------------------------------------------------------------
# REAL PNG codec — stdlib zlib/struct + numpy, no PIL. Scope: 8-bit
# truecolor (color type 2), non-interlaced — the shape a training-data
# pipeline synthesizes/ingests most; anything else raises rather than
# silently mis-decoding. All five PNG row filters (None/Sub/Up/Average/
# Paeth) are implemented on both the encode and decode side; chunk CRCs are
# written AND verified, and multi-IDAT streams are concatenated before
# inflate, per the spec.
# --------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunks(b: bytes):
    """Yield ``(type, data)`` for each chunk, verifying length and CRC32 —
    a corrupt payload fails loudly instead of producing garbage pixels."""
    if b[:8] != _PNG_SIG:
        raise ValueError(f"not a PNG: signature={b[:8]!r}")
    i = 8
    while i < len(b):
        if i + 8 > len(b):
            raise ValueError("truncated PNG chunk header")
        length = struct.unpack_from(">I", b, i)[0]
        ctype = b[i + 4 : i + 8]
        data = b[i + 8 : i + 8 + length]
        if len(data) != length or i + 12 + length > len(b):
            raise ValueError(f"truncated PNG chunk {ctype!r}")
        crc = struct.unpack_from(">I", b, i + 8 + length)[0]
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
        yield ctype, data
        i += 12 + length


def _paeth(a, b, c):
    """Paeth predictor (PNG spec §9.4) on int numpy arrays."""
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


def _unfilter_png(flt: bytes, w: int, h: int, bpp: int):
    """Reverse the per-row PNG filters: ``flt`` is the inflated IDAT stream
    (h rows of 1 filter byte + w*bpp data bytes) → (h, w*bpp) uint8 raster.

    None/Sub/Up reconstruct vectorized (Sub is a running byte sum along x —
    exact as cumsum mod 256); Average/Paeth depend on the already-
    reconstructed left neighbor, so those rows walk pixels in Python — fine
    inside an Arrow batch, and only rows that actually used filter 3/4 pay.
    """
    stride = 1 + w * bpp
    if len(flt) != stride * h:
        raise ValueError(
            f"inflated IDAT is {len(flt)} bytes, want {stride * h} for {w}x{h}"
        )
    rows = np.frombuffer(flt, dtype=np.uint8).reshape(h, stride)
    out = np.zeros((h, w * bpp), dtype=np.uint8)
    for y in range(h):
        ftype = int(rows[y, 0])
        cur = rows[y, 1:].astype(np.int64)
        prior = out[y - 1].astype(np.int64) if y else np.zeros(w * bpp, dtype=np.int64)
        if ftype == 0:
            rec = cur
        elif ftype == 1:  # Sub: recon[i] = filt[i] + recon[i-bpp]
            rec = cur.reshape(w, bpp).cumsum(axis=0).reshape(-1) % 256
        elif ftype == 2:  # Up
            rec = (cur + prior) % 256
        elif ftype in (3, 4):  # Average / Paeth: sequential in x
            # the left-neighbor recurrence is inherently scalar, so run it
            # on plain ints — numpy scalar ops per pixel were ~10x slower
            # (the inlined Paeth matches _paeth: pa=|up-ul|, pb=|left-ul|,
            # pc=|left+up-2ul|, ties resolve left, then up)
            cur_l = cur.tolist()
            prior_l = prior.tolist()
            rec_l = [0] * (w * bpp)
            for i in range(w * bpp):
                left = rec_l[i - bpp] if i >= bpp else 0
                up = prior_l[i]
                if ftype == 3:
                    pred = (left + up) // 2
                else:
                    ul = prior_l[i - bpp] if i >= bpp else 0
                    pa = up - ul if up >= ul else ul - up
                    pb = left - ul if left >= ul else ul - left
                    s = left + up - 2 * ul
                    pc = s if s >= 0 else -s
                    if pa <= pb and pa <= pc:
                        pred = left
                    elif pb <= pc:
                        pred = up
                    else:
                        pred = ul
                rec_l[i] = (cur_l[i] + pred) & 0xFF
            rec = np.asarray(rec_l, dtype=np.int64)
        else:
            raise ValueError(f"unknown PNG filter type {ftype} on row {y}")
        out[y] = rec.astype(np.uint8)
    return out


def _png_parse(b: bytes) -> tuple[int, int, bytes]:
    """(width, height, concatenated IDAT) of a supported PNG — IHDR
    validated (8-bit truecolor non-interlaced) and dimensions
    bomb-guarded, shared by decode and resize so neither path can
    mis-unfilter an unsupported layout."""
    ihdr = None
    idat = bytearray()
    for ctype, data in _png_chunks(b):
        if ctype == b"IHDR":
            ihdr = data
        elif ctype == b"IDAT":
            idat.extend(data)
        elif ctype == b"IEND":
            break
    if ihdr is None or len(ihdr) != 13:
        raise ValueError("PNG missing/malformed IHDR")
    w, h, depth, ctype_, comp, filt, interlace = struct.unpack(">IIBBBBB", ihdr)
    if not w or not h or w * h > (1 << 28):
        # decompression-bomb guard: a forged IHDR must not drive a
        # multi-GB allocation before the inflate even fails
        raise ValueError(f"implausible PNG dimensions {w}x{h}")
    if (depth, ctype_, comp, filt, interlace) != (8, 2, 0, 0, 0):
        raise ValueError(
            f"unsupported PNG layout depth={depth} color={ctype_} "
            f"interlace={interlace}: only 8-bit truecolor non-interlaced"
        )
    return w, h, bytes(idat)


def _decode_png(b: bytes) -> dict:
    """REAL PNG decode: signature + chunk walk (CRC-verified), IHDR parse,
    multi-IDAT concat, zlib inflate, full row unfilter. Returns dimensions
    plus ``pixel_sum`` — the sum of every reconstructed sample — so an
    oracle that predicts the raster catches any filter/inflate bug, not
    just a header mis-parse. Supports 8-bit truecolor non-interlaced
    (color type 2); other layouts raise."""
    w, h, idat = _png_parse(b)
    raster = _unfilter_png(zlib.decompress(idat), w, h, bpp=3)
    return {
        "width": w,
        "height": h,
        "n_channels": 3,
        "pixel_sum": int(raster.sum(dtype="int64")),
    }


def _encode_png(px, split_idat: bool = False) -> bytes:
    """REAL PNG encode of an (h, w, 3) uint8 raster: row filter f = y % 5
    (so every decode exercises all five filters), zlib-compressed, CRC'd
    chunks; ``split_idat`` emits two IDAT chunks to prove the decoder
    concatenates per spec."""
    h, w, _ = px.shape
    raw = px.reshape(h, w * 3).astype(np.int64)
    lines = bytearray()
    for y in range(h):
        f = y % 5
        cur = raw[y]
        prior = raw[y - 1] if y else np.zeros(w * 3, dtype=np.int64)
        left = np.concatenate([np.zeros(3, dtype=np.int64), cur[:-3]])
        upleft = np.concatenate([np.zeros(3, dtype=np.int64), prior[:-3]])
        if f == 0:
            flt = cur
        elif f == 1:
            flt = cur - left
        elif f == 2:
            flt = cur - prior
        elif f == 3:
            flt = cur - (left + prior) // 2
        else:
            flt = cur - _paeth(left, prior, upleft)
        lines.append(f)
        lines.extend((flt % 256).astype(np.uint8).tobytes())
    comp = zlib.compress(bytes(lines), 6)

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    if split_idat and len(comp) > 1:
        mid = len(comp) // 2
        idat = chunk(b"IDAT", comp[:mid]) + chunk(b"IDAT", comp[mid:])
    else:
        idat = chunk(b"IDAT", comp)
    return _PNG_SIG + chunk(b"IHDR", ihdr) + idat + chunk(b"IEND", b"")


def _decode_jpeg(b: bytes) -> dict:
    """REAL image decode: baseline JPEG via the pure-Python T.81 codec
    (operators/jpegcodec.py) — Huffman entropy decode, dequantize, IDCT.
    Returns dims + ``pixel_sum`` over the reconstructed raster, so the
    oracle gates the actual decoded pixels through the full lossy path."""
    d = decode_jpeg(b)
    return {
        "width": d["width"],
        "height": d["height"],
        "n_channels": 1,
        "pixel_sum": int(d["raster"].sum(dtype="int64")),
    }


def _decode_mp4(b: bytes) -> dict:
    """REAL video container decode: ISO-BMFF demux (operators/mp4codec)
    — box walk, tkhd fixed-point dims, mvhd duration, stsz sample count.
    Frame PIXELS are only decodable when the samples are Motion-JPEG
    (see sample_frames/decode_frames); the metadata here is real for any
    conforming file."""
    d = parse_mp4(b)
    return {k: d[k] for k in ("width", "height", "n_samples", "duration_ms")}


def decode_features(df: DataFrame, fake: bool = False) -> DataFrame:
    """Arrow-batched feature extraction over the binary column.

    WAV/PPM/BMP/PNG/GIF/JPEG payloads are decoded for REAL (stdlib +
    numpy codecs), and ``video/mp4`` metadata is demuxed for real from
    the ISO-BMFF sample tables. Types without a real decoder
    (e.g. ``application/octet-stream`` placeholders) raise
    NotImplementedError unless ``fake=True``, which substitutes
    deterministic digest-derived pseudo-features.
    """

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {
                k: [] for k in ("doc_id", "media_type", "n_bytes", *_DECODED, "checksum")
            }
            for doc_id, mt, b in zip(pdf["doc_id"], pdf["media_type"], pdf["media"]):
                feat = codec_op(mt, "decode", _fake_features if fake else None)(b)
                rows["doc_id"].append(doc_id)
                rows["media_type"].append(mt)
                rows["n_bytes"].append(len(b))
                rows["checksum"].append(hashlib.md5(b).hexdigest())
                for k in _DECODED:
                    rows[k].append(feat.get(k))
            pdf_out = pd.DataFrame(rows)
            for c, t in (
                ("n_bytes", "int32"), ("width", "Int32"), ("height", "Int32"),
                ("sample_rate", "Int32"), ("n_channels", "Int32"),
                ("n_samples", "Int64"), ("duration_ms", "Int64"),
            ):
                pdf_out[c] = pdf_out[c].astype(t)
            yield pdf_out

    return df.mapInPandas(extract, schema=FEATURE_SCHEMA)


def _fake_features(b: bytes) -> dict:
    """decode_features(fake=True) for a type without a real decoder:
    digest-derived pseudo dimensions and sample rate."""
    d = hashlib.md5(b).digest()
    return {
        "width": 64 + d[0] % 192,
        "height": 64 + d[1] % 192,
        "sample_rate": 8000 + (d[2] % 5) * 8000,
    }


def synthesize_wav(docs: DataFrame) -> DataFrame:
    """Deterministic REAL WAV clips, one per document: PCM-16 silence with
    sample rate / channels / frame count derived from (doc_id, text length)
    — every header field is a closed-form function of the source row, so a
    SQL oracle can predict what the real decode must report.

    sr = 8000 + (doc_id % 5)·4000; channels = 1 + doc_id % 2;
    frames = 100 + (len(text) % 400). The stdlib ``wave`` writer emits the
    standard 44-byte PCM header, so n_bytes = 44 + frames·channels·2.
    """

    def wav(doc_id, text):
        nc = int(1 + doc_id % 2)
        ns = int(100 + (len(text or "") % 400))
        return _encode_wav(b"\x00" * (ns * nc * 2), int(8000 + (doc_id % 5) * 4000), nc)

    return media_rows(docs.select("doc_id", "text"), "audio/wav", wav)


def synthesize_ppm(docs: DataFrame) -> DataFrame:
    """Deterministic REAL P6 PPM images, one per document:
    width = 8 + doc_id % 32, height = 8 + (len(text) % 32), pixel (x,y,c)
    = (x + 2y + 3c + doc_id) % 256 — closed-form, so header size and the
    decoded dimensions are SQL-predictable."""

    def ppm(doc_id, text):
        w = int(8 + doc_id % 32)
        h = int(8 + (len(text or "") % 32))
        x = np.arange(w)[None, :, None]
        y = np.arange(h)[:, None, None]
        c = np.arange(3)[None, None, :]
        px = ((x + 2 * y + 3 * c + int(doc_id)) % 256).astype(np.uint8)
        return b"P6\n%d %d\n255\n" % (w, h) + px.tobytes()

    return media_rows(docs.select("doc_id", "text"), "image/x-portable-pixmap", ppm)


def synthesize_bmp(docs: DataFrame) -> DataFrame:
    """Deterministic REAL 24-bit BMPs, one per document: width = 4 +
    doc_id % 16, height = 4 + (len(text) % 16); rows pad to 4-byte
    boundaries per the format, so n_bytes = 54 + ((3w + 3) // 4 · 4) · h —
    closed-form, SQL-predictable, and exercising a decode path (fixed-
    offset little-endian struct fields) that WAV/PPM do not."""

    def bmp(doc_id, text):
        w = int(4 + doc_id % 16)
        h = int(4 + (len(text or "") % 16))
        row = (3 * w + 3) // 4 * 4
        img = row * h
        head = struct.pack("<2sIHHI", b"BM", 54 + img, 0, 0, 54)
        dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, img, 2835, 2835, 0, 0)
        px = bytes((x + 2 * y + int(doc_id)) % 256 for y in range(h) for x in range(row))
        return head + dib + px

    return media_rows(docs.select("doc_id", "text"), "image/bmp", bmp)


def synthesize_png(docs: DataFrame) -> DataFrame:
    """Deterministic REAL 8-bit truecolor PNGs, one per document:
    width = 4 + doc_id % 8, height = 4 + (len(text) % 8), pixel (x,y,c) =
    x + 2y + 3c + doc_id % 50 — every term bounded so the max sample value
    is 85 < 256, making the decoded ``pixel_sum`` a CLOSED-FORM function of
    (w, h, doc_id): 3h·w(w−1)/2 + 3w·h(h−1) + 9wh + 3wh·(doc_id % 50).
    Rows cycle through all five PNG filters (encoder filter = y % 5) and
    even doc_ids split their IDAT across two chunks, so the oracle gate
    covers every filter reconstruction path and multi-IDAT concat — not
    just the header. n_bytes is NOT predictable (zlib), so PNG rollups gate
    on dims/channels/pixel_sum only."""

    def png(doc_id, text):
        w = int(4 + doc_id % 8)
        h = int(4 + (len(text or "") % 8))
        x = np.arange(w)[None, :, None]
        y = np.arange(h)[:, None, None]
        c = np.arange(3)[None, None, :]
        px = (x + 2 * y + 3 * c + int(doc_id) % 50).astype(np.uint8)
        return _encode_png(px, split_idat=(doc_id % 2 == 0))

    return media_rows(docs.select("doc_id", "text"), "image/png", png)


def synthesize_tone_wav(docs: DataFrame) -> DataFrame:
    """Deterministic REAL two-tone WAV clips, one per document: 512
    samples of PCM-16 at 8192 Hz carrying a 6000-amplitude sine on FFT
    bin b1 = 5 + doc_id % 50 and a 3000-amplitude sine on bin
    b2 = 60 + doc_id % 100 (disjoint ranges, both < Nyquist bin 256).
    Bin-centered tones put ALL their energy in one rfft bin, so
    extract_audio_features' spectral argmax recovers b1/b2 EXACTLY and
    the oracle is closed-form; sr = 8192 makes hz = 16·bin an integer."""
    t = np.arange(512)

    def tone(doc_id):
        b1 = int(5 + doc_id % 50)
        b2 = int(60 + doc_id % 100)
        x = np.rint(
            6000 * np.sin(2 * np.pi * b1 * t / 512)
            + 3000 * np.sin(2 * np.pi * b2 * t / 512)
        ).astype("<i2")
        return _encode_wav(x.tobytes(), 8192)

    return media_rows(docs.select("doc_id"), "audio/wav", tone)


def resample_audio(df: DataFrame, factor: int = 2) -> DataFrame:
    """REAL audio downsampling: decode the PCM plane with stdlib ``wave``,
    keep every ``factor``-th FRAME (all channels of it — channel alignment
    is preserved), and re-encode at sample_rate // factor. Plain decimation
    (no anti-alias filter) is chosen deliberately: its spectral effect is
    CLOSED-FORM — a bin-centered tone at bin b in an n-sample clip lands on
    bin b if b < n/(2·factor), else folds to n/factor − b — so the m16
    oracle predicts the aliased spectrum exactly in SQL, which a filtered
    resampler's float taps could never do. Arrow-batched mapInPandas,
    map-only (no shuffle): scales with input splits like every codec stage.

    Reference parity: the reference routes media through OpenCV
    (scripts/chatbot/document_processor.py) with no signal-processing
    surface; this is the beyond-reference audio sibling of resize_images.
    """
    if factor < 1:
        raise ValueError(f"factor must be >= 1, got {factor}")

    def resample(doc_id, b):
        with wave.open(io.BytesIO(bytes(b))) as w:
            sr, nc, n = w.getframerate(), w.getnchannels(), w.getnframes()
            pcm = np.frombuffer(w.readframes(n), dtype="<i2")
        frames = pcm.reshape(-1, nc)[::factor]
        return _encode_wav(frames.astype("<i2").tobytes(), sr // factor, nc)

    return media_rows(df.select("doc_id", "media"), "audio/wav", resample)


#: spectral feature schema (extract_audio_features contract)
AUDIO_FEATURE_SCHEMA = (
    "doc_id long, sample_rate int, n_samples long, dominant_bin int, "
    "secondary_bin int, dominant_hz int, rms double"
)


def extract_audio_features(df: DataFrame) -> DataFrame:
    """REAL signal-level audio analysis (not just header parsing): decode
    the PCM plane with stdlib ``wave``, run a numpy rFFT, and emit the
    two strongest spectral bins + the dominant frequency in Hz + RMS.
    Arrow-batched mapInPandas — the FFT is vectorized C per clip and the
    stage is map-only (no shuffle), so at 100 TB it scales with input
    splits like every other decode stage. Stereo is folded to mono by
    channel mean before the transform."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in (
                "doc_id", "sample_rate", "n_samples", "dominant_bin",
                "secondary_bin", "dominant_hz", "rms",
            )}
            for doc_id, b in zip(pdf["doc_id"], pdf["media"]):
                with wave.open(io.BytesIO(bytes(b))) as w:
                    sr = w.getframerate()
                    nc = w.getnchannels()
                    n = w.getnframes()
                    pcm = np.frombuffer(w.readframes(n), dtype="<i2")
                x = pcm.reshape(-1, nc).mean(axis=1) if nc > 1 else pcm.astype(np.float64)
                if n:
                    spec = np.abs(np.fft.rfft(x))
                    order = np.argsort(spec)
                    dom = int(order[-1])
                    sec = int(order[-2]) if len(order) > 1 else dom
                    hz = dom * sr // n
                    rms = float(np.sqrt(np.mean(x * x)))
                else:
                    # zero-length clip: no spectrum to report, not a crash
                    dom = sec = hz = None
                    rms = 0.0
                out["doc_id"].append(doc_id)
                out["sample_rate"].append(sr)
                out["n_samples"].append(n)
                out["dominant_bin"].append(dom)
                out["secondary_bin"].append(sec)
                out["dominant_hz"].append(hz)
                out["rms"].append(rms)
            pdf_out = pd.DataFrame(out)
            for c in ("dominant_bin", "secondary_bin", "dominant_hz"):
                pdf_out[c] = pdf_out[c].astype("Int32")
            yield pdf_out

    return df.mapInPandas(extract, schema=AUDIO_FEATURE_SCHEMA)


def synthesize_jpeg(docs: DataFrame) -> DataFrame:
    """Deterministic REAL baseline JPEGs, one per document, built so a
    LOSSY format still gets an EXACT pixel oracle: the raster is grayscale
    with 8x8-block-constant EVEN values — block (bx, by) has value
    2*(bx + 2*by + doc_id % 50) — and a constant even-valued block
    round-trips bit-exactly through DCT -> Annex-K quantize -> IDCT (only
    DC survives; step 16 divides 8*(v-128) for even v). Dims are whole
    blocks: width = 8*(2 + doc_id % 6), height = 8*(2 + len(text) % 6),
    so with BW/BH = blocks per row/col and k = doc_id % 50 the decoded
    pixel sum is the closed form
    128*(BH*BW*(BW-1)/2 + BW*BH*(BH-1) + BW*BH*k).
    The max block value 2*(5 + 10 + 49) = 128 < 256 keeps every term
    mod-free on the SQL side. n_bytes is entropy-coded, hence ungated."""

    def jpeg(doc_id, text):
        bw = int(2 + doc_id % 6)
        bh = int(2 + len(text or "") % 6)
        bx = np.arange(bw)[None, :]
        by = np.arange(bh)[:, None]
        blocks = (2 * (bx + 2 * by + int(doc_id) % 50)).astype(np.uint8)
        return encode_jpeg(np.kron(blocks, np.ones((8, 8), dtype=np.uint8)))

    return media_rows(docs.select("doc_id", "text"), "image/jpeg", jpeg)


def synthesize_mp4(docs: DataFrame, n_frames: int = 6) -> DataFrame:
    """Deterministic REAL MP4 clips, one per document: a Motion-JPEG
    track muxed by operators/mp4codec (real ftyp/mdat/moov + sample
    tables), whose frames are the baseline JPEGs of synthesize_jpeg with
    a per-frame offset — frame f's block (bx, by) carries
    2*(bx + 2*by + doc_id % 40 + f), dims 8*(2 + doc_id % 4) x
    8*(2 + len(text) % 4), 100 ms per frame. Every term stays < 256 and
    even, so each DEMUXED + JPEG-DECODED frame's pixel sum is the closed
    form 128*(BH*BW*(BW-1)/2 + BW*BH*(BH-1) + BW*BH*(k+f)) and the
    container timestamps are src_index*100 — SQL-predictable end to end
    through two real codec layers. It is synthesize_mp4_scenes with no
    jump at a cut."""
    return synthesize_mp4_scenes(docs, n_frames, jump=0)


def synthesize_mp4_scenes(docs: DataFrame, n_frames: int = 6, jump: int = 20) -> DataFrame:
    """synthesize_mp4 with SCENE CUTS: real Motion-JPEG-in-MP4 clips whose
    per-frame offset jumps by ``jump`` at every cut frame, where the cut
    set is the closed form {f in 1..n_frames-1 : (f + doc_id) % 3 == 0}
    (1 or 2 cuts per doc at n_frames=6). Frame f's block (bx, by) carries
    2*(bx + 2*by + doc_id % 40 + f + jump*cuts_before_or_at(f)) — every
    term stays < 256 and even, so after the REAL demux + JPEG decode the
    frame-to-frame per-pixel |delta| is exactly 2 off a cut and
    2*(1 + jump) on one: a scene-cut detector thresholding mean pixel
    change is SQL-predictable end to end through both codec layers."""
    ones = np.ones((8, 8), dtype=np.uint8)

    def mp4(doc_id, text):
        bw = int(2 + doc_id % 4)
        bh = int(2 + len(text or "") % 4)
        k = int(doc_id) % 40
        bx = np.arange(bw)[None, :]
        by = np.arange(bh)[:, None]
        cuts = [f for f in range(1, n_frames) if (f + doc_id) % 3 == 0]
        frames = []
        for f in range(n_frames):
            off = f + jump * sum(1 for c in cuts if c <= f)
            frames.append(
                encode_jpeg(np.kron((2 * (bx + 2 * by + k + off)).astype(np.uint8), ones))
            )
        return encode_mp4(frames, 8 * bw, 8 * bh, frame_duration_ms=100)

    return media_rows(docs.select("doc_id", "text"), "video/mp4", mp4)


def synthesize_animated_gif(docs: DataFrame, n_frames: int = 6) -> DataFrame:
    """Deterministic REAL animated GIF87a clips, one per document:
    width = 4 + doc_id % 12, height = 4 + (len(text) % 12), frame f pixel
    INDEX (x, y) = (x + 2y + doc_id + 3f) % 8 — each frame's decoded
    palette-mapped pixel sum is SQL-closed-form, so a sampled-frame
    pipeline can be oracle-gated end to end."""

    def gif(doc_id, text):
        w = int(4 + doc_id % 12)
        h = int(4 + (len(text or "") % 12))
        x = np.arange(w)[None, :]
        y = np.arange(h)[:, None]
        return _encode_gif_frames(
            [((x + 2 * y + int(doc_id) + 3 * f) % 8).astype(np.uint8) for f in range(n_frames)]
        )

    return media_rows(docs.select("doc_id", "text"), "image/gif", gif)


#: per-frame decode output (sample_frames rows → decoded features)
FRAME_FEATURE_SCHEMA = (
    "doc_id long, frame_idx int, frame_ts_ms long, width int, height int, "
    "pixel_sum long"
)


def decode_frames(df: DataFrame) -> DataFrame:
    """REAL decode of sample_frames output rows: keeps the (doc_id,
    frame_idx) identity decode_features would lose, returning dims + the
    pixel sum per frame. The format is sniffed from the payload magic —
    single-frame GIFs (GIF-sampled animations) and baseline JPEGs
    (MP4-demuxed Motion-JPEG samples) both decode for real."""

    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in (
                "doc_id", "frame_idx", "frame_ts_ms", "width", "height",
                "pixel_sum",
            )}
            for doc_id, fi, ts, frame in zip(
                pdf["doc_id"], pdf["frame_idx"], pdf["frame_ts_ms"], pdf["frame"]
            ):
                if bytes(frame[:2]) == b"\xff\xd8":
                    feat = _decode_jpeg(frame)
                else:
                    feat = _decode_gif(frame)
                out["doc_id"].append(doc_id)
                out["frame_idx"].append(fi)
                out["frame_ts_ms"].append(ts)
                out["width"].append(feat["width"])
                out["height"].append(feat["height"])
                out["pixel_sum"].append(feat["pixel_sum"])
            yield pd.DataFrame(out)

    return df.mapInPandas(dec, schema=FRAME_FEATURE_SCHEMA)


#: temporal-difference output (frame_deltas contract)
FRAME_DELTA_SCHEMA = (
    "doc_id long, frame_idx int, frame_ts_ms long, abs_delta long, "
    "changed_pixels long"
)


def frame_deltas(frames: DataFrame, assume_grouped: bool = False) -> DataFrame:
    """REAL temporal differencing over decoded frame rows — the primitive
    under scene-cut detection and static-frame dedup in a video training
    pipeline. Consecutive frames of the same doc are compared pixel-wise
    (sum of |Δ| and count of changed pixels); frame 0 has no predecessor
    and is skipped. Frames are decoded via the same sniffing path as
    decode_frames (GIF or JPEG payloads).

    Implementation is a partition-local ordered diff INSIDE mapInPandas
    with one-frame state. ``assume_grouped=True`` (the right call
    directly downstream of sample_frames, whose row expansion emits
    every frame of a doc contiguously and in order from one input row)
    runs ZERO-SHUFFLE; the default repartitions+sorts on
    (doc_id, frame_idx) first so arbitrary frame tables — e.g. read
    back from parquet — group correctly. The explicit partition count
    keeps AQE from coalescing the small-but-compute-heavy shuffle into
    too few Python decode tasks."""

    def diff(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prev_doc = None
        prev_raster = None
        rows: dict[str, list] = {k: [] for k in (
            "doc_id", "frame_idx", "frame_ts_ms", "abs_delta", "changed_pixels",
        )}
        for pdf in batches:
            for doc_id, fi, ts, frame in zip(
                pdf["doc_id"], pdf["frame_idx"], pdf["frame_ts_ms"], pdf["frame"]
            ):
                if bytes(frame[:2]) == b"\xff\xd8":
                    raster = decode_jpeg(frame)["raster"].astype(np.int64)
                else:
                    w, h, _palette, gframes = _gif_parse(frame)
                    raster = np.frombuffer(gframes[0], dtype=np.uint8).reshape(h, w).astype(np.int64)
                if prev_doc == doc_id and prev_raster is not None and prev_raster.shape == raster.shape:
                    delta = raster - prev_raster
                    rows["doc_id"].append(doc_id)
                    rows["frame_idx"].append(fi)
                    rows["frame_ts_ms"].append(ts)
                    rows["abs_delta"].append(int(np.abs(delta).sum()))
                    rows["changed_pixels"].append(int((delta != 0).sum()))
                prev_doc, prev_raster = doc_id, raster
            yield pd.DataFrame(rows)
            rows = {k: [] for k in rows}

    if assume_grouped:
        ordered = frames
    else:
        n = frames.sparkSession.sparkContext.defaultParallelism
        ordered = frames.repartition(n, "doc_id").sortWithinPartitions(
            "doc_id", "frame_idx"
        )
    return ordered.mapInPandas(diff, schema=FRAME_DELTA_SCHEMA)


#: resize output: payload replaced by the resized rendition + new dims
RESIZE_SCHEMA = (
    "doc_id long, media_type string, media binary, width int, height int"
)


def _resize_png(b: bytes, width: int, height: int) -> bytes:
    """REAL nearest-neighbor resample of a PNG: full decode (inflate +
    unfilter), subsample, re-encode through the same stdlib codec. Shares
    _png_parse's layout validation and bomb guard with the decoder."""
    w, h, idat = _png_parse(b)
    px = _unfilter_png(zlib.decompress(idat), w, h, 3).reshape(h, w, 3)
    return _encode_png(_nearest(px, width, height))


def _resize_gif(b: bytes, width: int, height: int) -> bytes:
    """REAL nearest-neighbor resample of a (single- or multi-frame) GIF:
    LZW-decode every frame's index raster, subsample INDICES (palette
    untouched — GIF is an indexed format), re-encode."""
    w, h, palette, frames = _gif_parse(b)
    resized = [
        _nearest(np.frombuffer(f, dtype=np.uint8).reshape(h, w), width, height)
        for f in frames
    ]
    return _encode_gif_frames(resized, palette)


def _resize_ppm(b: bytes, width: int, height: int) -> bytes:
    """REAL nearest-neighbor resample of a P6 pixel plane (numpy)."""
    w, h = _ppm_dims(b)
    off = _ppm_pixel_offset(b)
    px = np.frombuffer(b, dtype=np.uint8, count=w * h * 3, offset=off).reshape(h, w, 3)
    return b"P6\n%d %d\n255\n" % (width, height) + _nearest(px, width, height).tobytes()


def _resize_jpeg(b: bytes, width: int, height: int) -> bytes:
    """REAL JPEG resize: full T.81 decode, nearest-neighbor resample,
    re-encode. Lossy in general (JPEG is); an INTEGER upscale of a
    block-constant raster stays block-constant, so the synthesizers'
    payloads round-trip bit-exactly even through the re-encode."""
    return encode_jpeg(_nearest(decode_jpeg(b)["raster"], width, height))


def _fake_rendition(b: bytes, w: int, h: int) -> bytes:
    """resize_images(fake=True) for a type without a real resize: a
    digest-seeded pseudo-rendition of width·height // 64 bytes."""
    target = max(1, w * h // 64)
    seed = hashlib.md5(b).digest()
    return (seed * (target // len(seed) + 1))[:target]


def resize_images(
    df: DataFrame,
    width: int | None = None,
    height: int | None = None,
    fake: bool = False,
    scale: int | None = None,
) -> DataFrame:
    """Arrow-batched image resize: binary in → binary out, metadata updated.

    Map-only (no shuffle); output rows are smaller than input, so at scale
    this stage also repacks storage (write the rendition table partitioned
    like the source). ``image/x-portable-pixmap``, ``image/png``,
    ``image/gif`` and ``image/jpeg`` payloads get a REAL nearest-neighbor
    resample through their full codecs (PNG: inflate + unfilter ->
    subsample -> refilter + deflate; JPEG: entropy decode + IDCT ->
    subsample -> DCT + re-encode); other formats raise unless
    ``fake=True`` (deterministic digest-seeded pseudo-rendition of size
    width*height//64).

    Either fixed ``(width, height)`` for every row, or ``scale=k`` for a
    per-row integer upscale to (k·w, k·h) — the form that keeps
    block-constant JPEG rasters exact through the lossy re-encode. Scale
    mode needs the source dims, so it raises for a type without a real
    dimension probe even when ``fake=True``.
    """
    if (scale is None) == (width is None or height is None):
        raise ValueError("resize_images needs (width, height) XOR scale")

    def shrink(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            media = []
            widths = []
            heights = []
            for mt, b in zip(pdf["media_type"], pdf["media"]):
                if scale is not None:
                    sw, sh = codec_op(mt, "dims")(b)
                    w, h = sw * scale, sh * scale
                else:
                    w, h = width, height
                media.append(codec_op(mt, "resize", _fake_rendition if fake else None)(b, w, h))
                widths.append(w)
                heights.append(h)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "media": media,
                    "width": widths,
                    "height": heights,
                }
            )

    return df.mapInPandas(shrink, schema=RESIZE_SCHEMA)


#: frame sampling: ONE video row explodes into MANY frame rows
FRAME_SCHEMA = "doc_id long, frame_idx int, frame_ts_ms long, frame binary"


def sample_frames(df: DataFrame, n_frames: int = 4, fps: int = 30, fake: bool = False) -> DataFrame:
    """Video → evenly-spaced frame rows (the row-expanding multimodal shape).

    The output multiplies row count by ``n_frames`` — at scale, size input
    partitions so the *output* fits executor memory (maxPartitionBytes ÷
    n_frames), and write frames partitioned by (doc date, frame bucket).

    ``image/gif`` payloads go through the REAL path: the animation's
    frames are LZW-decoded (_gif_parse), n_frames are picked at evenly
    spaced source indices (k·total // take, take = min(n_frames, total)
    — the one pick rule for every format), and each sampled frame re-encodes
    as a standalone single-frame GIF — so every downstream consumer
    (decode_features, resize) works on the sampled rows unchanged.
    ``frame_ts_ms`` = source_index·1000÷fps.

    ``video/mp4`` is REAL too: the ISO-BMFF demux (operators/mp4codec)
    resolves every sample's bytes and CONTAINER timestamp from the
    stts/stsc/stsz/stco tables, and evenly spaced samples are emitted as
    standalone frame payloads (Motion-JPEG samples are directly
    decodable by decode_frames). Types without a real path slice the
    payload into deterministic chunks when ``fake=True``, else raise.
    """

    def fake_frames(media: bytes, fps: int):
        step = max(1, len(media) // n_frames)

        def pick(i: int) -> tuple[int, bytes]:
            chunk = media[i * step : (i + 1) * step] or media[-step:]
            return int(i * (1000 / fps) * (len(media) // step or 1)), chunk

        return n_frames, pick

    def split(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {"doc_id": [], "frame_idx": [], "frame_ts_ms": [], "frame": []}
            mts = pdf["media_type"] if "media_type" in pdf else ["video/mp4"] * len(pdf)
            for doc_id, media, mt in zip(pdf["doc_id"], pdf["media"], mts):
                total, pick = codec_op(mt, "frames", fake_frames if fake else None)(media, fps)
                take = min(n_frames, total)
                for k in range(take):
                    ts_ms, frame = pick(k * total // take)
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(k)
                    out["frame_ts_ms"].append(ts_ms)
                    out["frame"].append(frame)
            yield pd.DataFrame(out)

    return df.mapInPandas(split, schema=FRAME_SCHEMA)


# --------------------------------------------------------------------------
# REAL GIF codec — stdlib-only GIF87a subset with a full LZW
# implementation (variable-width codes, LSB-first bit packing, clear/EOI
# handling, dictionary reset at 4096) — a decode style none of the other
# real formats exercise: WAV/BMP are fixed-offset fields, PPM is text,
# PNG is zlib + per-row filters; GIF is an actual dictionary coder built
# here from the published spec. Scope: single image, global color table,
# no interlace/extensions; anything else raises.
# --------------------------------------------------------------------------


def _lzw_width(max_code: int, mcs: int) -> int:
    """Bits needed at a code boundary. BOTH sides derive the width from
    the largest code value the next read/write could carry — the
    encoder's is its dict size - 1, the decoder's is its (one-entry-
    lagged) next_code, and those are the SAME number at every step, so
    the streams stay in sync by construction (capped at 12 per GIF)."""
    return min(12, max(mcs + 1, max_code.bit_length()))


def _lzw_compress_gif(indices: bytes, mcs: int) -> bytes:
    """GIF-variant LZW: CLEAR first, derived-width codes (see
    _lzw_width), dictionary frozen at 4096 then reset via CLEAR."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    out_bits: list[tuple[int, int]] = []  # (code, width)

    def fresh():
        return {bytes([i]): i for i in range(1 << mcs)}, eoi + 1

    table, next_code = fresh()
    out_bits.append((clear, _lzw_width(next_code - 1, mcs)))
    prev = b""
    for b in indices:
        cur = prev + bytes([b])
        if cur in table:
            prev = cur
            continue
        out_bits.append((table[prev], _lzw_width(next_code - 1, mcs)))
        if next_code < (1 << 12):
            table[cur] = next_code
            next_code += 1
        if next_code == (1 << 12):
            # dict full: restart compression so the decoder (one entry
            # behind, about to fill too) resets in lockstep
            out_bits.append((clear, _lzw_width(next_code - 1, mcs)))
            table, next_code = fresh()
        prev = bytes([b])
    if prev:
        out_bits.append((table[prev], _lzw_width(next_code - 1, mcs)))
    out_bits.append((eoi, _lzw_width(next_code - 1, mcs)))
    # LSB-first bit packing
    acc = n = 0
    data = bytearray()
    for code, w in out_bits:
        acc |= code << n
        n += w
        while n >= 8:
            data.append(acc & 0xFF)
            acc >>= 8
            n -= 8
    if n:
        data.append(acc & 0xFF)
    return bytes(data)


def _lzw_decompress_gif(data: bytes, mcs: int, max_out: int | None = None) -> bytes:
    """Inverse of :func:`_lzw_compress_gif`; stops at EOI, raises on
    malformed streams instead of guessing. ``max_out`` caps the expansion
    — LZW is a classic decompression bomb (a few KB of codes can expand
    without bound), so callers that know the expected size MUST pass it."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    out = bytearray()
    acc = n = pos = 0

    def fresh():
        return {i: bytes([i]) for i in range(1 << mcs)}, eoi + 1

    table, next_code = fresh()
    prev: bytes | None = None
    while True:
        width = _lzw_width(next_code, mcs)
        while n < width:
            if pos >= len(data):
                raise ValueError("LZW stream ended before EOI")
            acc |= data[pos] << n
            pos += 1
            n += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        n -= width
        if code == clear:
            table, next_code = fresh()
            prev = None
            continue
        if code == eoi:
            return bytes(out)
        if prev is None:
            entry = table[code]
        elif code in table:
            entry = table[code]
        elif code == next_code:
            entry = prev + prev[:1]  # the KwKwK special case
        else:
            raise ValueError(f"LZW code {code} out of range")
        out.extend(entry)
        if max_out is not None and len(out) > max_out:
            raise ValueError(
                f"LZW output exceeds expected {max_out} bytes (bomb?)"
            )
        if prev is not None and next_code < (1 << 12):
            table[next_code] = prev + entry[:1]
            next_code += 1
        prev = entry


#: fixed 8-color palette: index i -> (9i, 5i, 3i); rgb sum = 17i, so the
#: decoded pixel_sum is a pure function of the index raster
_GIF_MCS = 3
_GIF_PALETTE = bytes(
    c for i in range(1 << _GIF_MCS) for c in (9 * i, 5 * i, 3 * i)
)


def _encode_gif(idx, palette: bytes = _GIF_PALETTE) -> bytes:
    """GIF87a encode of a single (h, w) uint8 index raster."""
    return _encode_gif_frames([idx], palette)


def _gif_parse(b: bytes):
    """(w, h, palette, [frame index rasters]) of a GIF87a payload:
    header + screen descriptor + global color table, then one LZW
    sub-block stream per full-frame image descriptor (animations are a
    sequence of them)."""
    if b[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError(f"not a GIF: magic={b[:6]!r}")
    w, h, flags, _bg, _ar = struct.unpack_from("<HHBBB", b, 6)
    if not w or not h or w * h > (1 << 28):
        raise ValueError(f"implausible GIF dimensions {w}x{h}")
    if not flags & 0x80:
        raise ValueError("GIF without a global color table is unsupported")
    gct_n = 2 << (flags & 0x07)
    i = 13
    palette = b[i : i + 3 * gct_n]
    i += 3 * gct_n
    if i >= len(b) or b[i : i + 1] != b"\x2c":
        raise ValueError("unsupported GIF: expected an image descriptor")
    left, top, iw, ih, iflags = struct.unpack_from("<HHHHB", b, i + 1)
    if (left, top, iw, ih) != (0, 0, w, h) or iflags & 0xC0:
        raise ValueError("unsupported GIF layout (offset/interlace/local table)")
    i += 10
    frames: list[bytes] = []
    while True:
        if i >= len(b):
            raise ValueError("truncated GIF: missing LZW minimum code size")
        mcs = b[i]
        i += 1
        lzw = bytearray()
        while True:
            if i >= len(b):
                raise ValueError("truncated GIF data stream")
            n = b[i]
            i += 1
            if n == 0:
                break
            lzw.extend(b[i : i + n])
            i += n
        indices = _lzw_decompress_gif(bytes(lzw), mcs, max_out=w * h)
        if len(indices) != w * h:
            raise ValueError(f"GIF decoded {len(indices)} pixels, want {w * h}")
        frames.append(indices)
        # next block: another full-frame image descriptor (animation) or
        # the trailer
        if i < len(b) and b[i : i + 1] == b"\x2c":
            left, top, iw, ih, iflags = struct.unpack_from("<HHHHB", b, i + 1)
            if (left, top, iw, ih) != (0, 0, w, h) or iflags & 0xC0:
                raise ValueError(
                    "unsupported GIF layout (offset/interlace/local table)"
                )
            i += 10
            continue
        break
    return w, h, palette, frames


def _decode_gif(b: bytes) -> dict:
    """REAL GIF decode (single or animated): ``pixel_sum`` covers the
    palette-mapped rgb samples of EVERY frame and ``n_samples`` reports
    the frame count, so the gate covers the whole LZW stream chain."""
    w, h, palette, frames = _gif_parse(b)
    psum = sum(
        palette[3 * ix] + palette[3 * ix + 1] + palette[3 * ix + 2]
        for indices in frames
        for ix in indices
    )
    return {
        "width": w,
        "height": h,
        "sample_rate": None,
        "n_channels": 3,
        "n_samples": len(frames),
        "duration_ms": None,
        "pixel_sum": int(psum),
    }


def _encode_gif_frames(frames, palette: bytes = _GIF_PALETTE) -> bytes:
    """GIF87a encode of one or more (h, w) uint8 index rasters as a
    multi-image (animated) payload — the inverse of _gif_parse."""
    h, w = frames[0].shape
    mcs = _GIF_MCS
    out = bytearray(
        b"GIF87a"
        + struct.pack("<HHBBB", w, h, 0x80 | ((mcs - 1) << 4) | (mcs - 1), 0, 0)
        + palette
    )
    for idx in frames:
        if idx.shape != (h, w):
            raise ValueError("animated GIF frames must share one geometry")
        out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
        lzw = _lzw_compress_gif(idx.tobytes(), mcs)
        out.append(mcs)
        for i in range(0, len(lzw), 255):
            chunk = lzw[i : i + 255]
            out.append(len(chunk))
            out += chunk
        out.append(0)
    out += b"\x3b"
    return bytes(out)


def synthesize_gif(docs: DataFrame) -> DataFrame:
    """Deterministic REAL GIF87a images, one per document:
    width = 4 + doc_id % 12, height = 4 + (len(text) % 12), pixel INDEX
    (x, y) = (x + 2y + doc_id) % 8, palette rgb-sum per index = 17·i — so
    the decoded pixel_sum is Σ 17·((x + 2y + doc_id) % 8), SQL-computable,
    and gating it requires a correct LZW decode of every pixel."""

    def gif(doc_id, text):
        w = int(4 + doc_id % 12)
        h = int(4 + (len(text or "") % 12))
        x = np.arange(w)[None, :]
        y = np.arange(h)[:, None]
        return _encode_gif(((x + 2 * y + int(doc_id)) % 8).astype(np.uint8))

    return media_rows(docs.select("doc_id", "text"), "image/gif", gif)


# --------------------------------------------------------------------------
# The codec table: the one place that decides what each media_type can do
# for real. Every media_type dispatch in the engine reads it through
# codec_op.
# --------------------------------------------------------------------------


def _gif_frames(b: bytes, fps: int):
    """(frame count, pick) of an animated GIF: pick(i) is frame i as a
    standalone single-frame GIF stamped i·1000 // fps ms."""
    w, h, palette, frames = _gif_parse(b)

    def pick(i: int) -> tuple[int, bytes]:
        raster = np.frombuffer(frames[i], dtype=np.uint8).reshape(h, w)
        return i * 1000 // fps, _encode_gif(raster, palette)

    return len(frames), pick


def _mp4_frames(b: bytes, fps: int):
    """(sample count, pick) of an MP4: pick(i) is sample i's bytes at its
    CONTAINER timestamp (``fps`` is unused — the stts table decides)."""
    samples = parse_mp4(b)["samples"]
    return len(samples), samples.__getitem__


def _jpeg_dims(b: bytes) -> tuple[int, int]:
    d = decode_jpeg(b)
    return d["width"], d["height"]


def _ocr_png(b: bytes) -> str:
    from .ocr import ocr_png_bytes  # ocr.py builds on this module

    return ocr_png_bytes(b)


def _ocr_jpeg(b: bytes) -> str:
    from .ocr import ocr_jpeg_bytes

    return ocr_jpeg_bytes(b)


@dataclass(frozen=True)
class Codec:
    """What the engine does for real with one media_type; an operation a
    format lacks is None.

    - ``decode(b) -> dict``: the FEATURE_SCHEMA fields the format knows
    - ``dims(b) -> (width, height)``: the source size, for scale resizes
    - ``resize(b, width, height) -> bytes``: nearest-neighbor rendition
    - ``frames(b, fps) -> (count, pick)``: pick(i) -> (ts_ms, payload)
    - ``ocr(b) -> str``: glyph-raster text
    """

    decode: Callable[[bytes], dict]
    dims: Callable[[bytes], tuple[int, int]] | None = None
    resize: Callable[[bytes, int, int], bytes] | None = None
    frames: Callable | None = None
    ocr: Callable[[bytes], str] | None = None


CODECS: dict[str, Codec] = {
    "audio/wav": Codec(_decode_wav),
    "image/x-portable-pixmap": Codec(_decode_ppm, _ppm_dims, _resize_ppm),
    "image/bmp": Codec(_decode_bmp),
    "image/png": Codec(
        _decode_png, lambda b: _png_parse(b)[:2], _resize_png, ocr=_ocr_png
    ),
    "image/gif": Codec(
        _decode_gif, lambda b: _gif_parse(b)[:2], _resize_gif, _gif_frames
    ),
    "image/jpeg": Codec(_decode_jpeg, _jpeg_dims, _resize_jpeg, ocr=_ocr_jpeg),
    "video/mp4": Codec(_decode_mp4, frames=_mp4_frames),
}


def codec_op(mt: str, op: str, fallback: Callable | None = None) -> Callable:
    """The ``op`` of ``mt``'s codec, else ``fallback`` (an operator's
    ``fake=True`` pseudo-output); with neither, NotImplementedError naming
    every media_type that has a real ``op``."""
    fn = getattr(CODECS.get(mt), op, None) or fallback
    if fn is None:
        have = ", ".join(t for t, c in CODECS.items() if getattr(c, op))
        raise NotImplementedError(
            f"no real {op} for {mt!r} (unsupported media_type): {have} "
            "have one; operators with fake=True substitute pseudo-output"
        )
    return fn
