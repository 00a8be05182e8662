"""Perceptual image hashing (dHash) for image NEAR-dup detection — the
multimodal member of the dedup family (text: MinHash/SimHash in dedup.py;
vectors: SemDeDup in vectorops): re-encoded, brightness-shifted, or
metadata-stripped copies of an image byte-differ (so content digests miss
them) but keep their luminance GRADIENT STRUCTURE — exactly what the
difference hash captures.

dHash (Krawetz's classic): downsample to a (w+1)×h grayscale grid, emit one
bit per horizontal neighbor pair — 1 iff the right pixel is brighter — and
pack the w·h bits into an integer. Any global brightness/contrast shift
adds the same offset to both neighbors, so the SIGN of the difference (and
the hash) is invariant; exact duplicates and uniformly re-lit copies
collapse to one 64-bit key. Equality clustering is then an exact hash
groupBy (t01's shape); Hamming-near matching composes with the existing
SimHash band machinery (dedup.py) unchanged, since a dHash IS a 64-bit
locality code.

Scale: hashing is one Arrow-batched mapInPandas over the media column
(decode + 64 comparisons per image — no shuffle), and the clustering is
one groupBy on the 8-byte key. 100 TB of images stream through at decode
speed; state is one int per image.

The synthesizer below builds the contract's test corpus: 9×8 PNGs (through
the REAL codec, operators/multimodal._encode_png — all five row filters)
whose dHash is a pure function of ``doc_id % n_groups`` while a per-doc
brightness jitter varies the BYTES within each group. The m21 gate's
oracle can therefore state the cluster structure in closed form over
doc_id arithmetic without decoding anything — and the Spark side only
reproduces it if the real decode → gradient-sign → pack pipeline is
correct end to end.
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .multimodal import _encode_png, _png_parse, _unfilter_png, media_rows, pattern_bit

#: dHash grid: 8 rows x 8 horizontal comparisons over 9 columns = 64 bits
DHASH_W = 8
DHASH_H = 8

#: synthesized-corpus knobs (the m21 contract)
N_GROUPS = 8
_STEP = 12       # |neighbor difference| — sign survives uint8 arithmetic
_BASE = 128      # row starting luminance (drift stays within [32, 224])
_JITTER = 10     # per-doc brightness offset unit (doc_id % 3 of them)


def synthesize_dhash_png(docs: DataFrame) -> DataFrame:
    """One REAL 9×8 truecolor PNG per document: group g = doc_id %
    N_GROUPS fixes the gradient-sign pattern (hence the dHash: bit
    y·8+x is pattern_bit(g, y·8+x)); brightness jitter 10·(doc_id % 3)
    varies the bytes within a group without moving a single sign.
    Schema = multimodal.MEDIA_SCHEMA."""
    def png(doc_id):
        g = int(doc_id) % N_GROUPS
        jit = _JITTER * (int(doc_id) % 3)
        px = np.zeros((DHASH_H, DHASH_W + 1, 3), dtype=np.uint8)
        for y in range(DHASH_H):
            v = _BASE + jit
            px[y, 0, :] = v
            for x in range(DHASH_W):
                v += _STEP if pattern_bit(g, y * DHASH_W + x) else -_STEP
                px[y, x + 1, :] = v
        return _encode_png(px, split_idat=(doc_id % 2 == 0))

    return media_rows(docs.select("doc_id"), "image/png", png)


def dhash64(media: DataFrame, media_col: str = "media") -> DataFrame:
    """(doc_id, dhash BIGINT) from REAL PNG decodes: chunk walk + CRC +
    zlib inflate + row unfilter (multimodal's codec), then the 64
    gradient-sign comparisons on channel 0 of the reconstructed raster,
    packed little-bit-endian (bit i = y·8+x). Images are consumed at
    native size here (the synthesized corpus is already 9×8); production
    callers downsample to the (DHASH_W+1)×DHASH_H grid first — block-mean
    resize, the same numpy path multimodal._resize_png uses."""

    def hash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hashes = [], []
            for doc_id, b in zip(pdf["doc_id"], pdf[media_col]):
                w, h, idat = _png_parse(bytes(b))
                raster = np.asarray(
                    _unfilter_png(zlib.decompress(idat), w, h, bpp=3)
                ).reshape(h, w, 3)
                if (w, h) != (DHASH_W + 1, DHASH_H):
                    raise ValueError(
                        f"dhash64 expects a {DHASH_W + 1}x{DHASH_H} grid, "
                        f"got {w}x{h} — downsample first"
                    )
                gray = raster[:, :, 0].astype(np.int64)
                code = 0
                for y in range(DHASH_H):
                    for x in range(DHASH_W):
                        if gray[y, x + 1] > gray[y, x]:
                            code |= 1 << (y * DHASH_W + x)
                ids.append(doc_id)
                # keep the packed value inside signed int64 for the column
                hashes.append(code - (1 << 64) if code >= (1 << 63) else code)
            yield pd.DataFrame({"doc_id": ids, "dhash": hashes})

    return media.select("doc_id", media_col).mapInPandas(
        hash_batch, "doc_id long, dhash long"
    )
