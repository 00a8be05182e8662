"""Acoustic fingerprinting for audio NEAR-dup detection — the audio member
of the dedup family (text: MinHash/SimHash in dedup.py; vectors: SemDeDup
in vectorops; images: dHash in phash.py). Re-encoded, re-gained, or
metadata-stripped copies of a clip byte-differ (content digests miss them)
but keep their SPECTRAL ENERGY STRUCTURE — what a Haitsma-Kalker-style
fingerprint captures (Haitsma & Kalker, ISMIR'02: bits are signs of
band-energy differences, robust to volume/codec perturbations).

Fingerprint here: frame the PCM into AFP_FRAMES frames of AFP_FRAME_LEN
samples, rFFT each frame, and emit one bit per frame — 1 iff the LOW band
carries more energy than the HIGH band. A global gain g scales every band
energy by g², so the comparison (and the fingerprint) is gain-invariant;
exact duplicates and uniformly re-gained copies collapse to one key.
Equality clustering is an exact hash groupBy (t01's shape); Hamming-near
matching composes with dedup.py's SimHash band machinery unchanged, since
the fingerprint IS a locality code.

Scale: fingerprinting is one Arrow-batched mapInPandas over the media
column (decode + one vectorized (frames × frame_len) rFFT per clip — no
shuffle), and the clustering is one groupBy on an 8-byte key. 100 TB of
audio streams through at decode speed; state is one int per clip.

The synthesizer builds the contract's corpus THROUGH the real stdlib
``wave`` encoder: group g = doc_id % N_GROUPS fixes which band each frame's
bin-centered tone lands in (hence the fingerprint), while a per-doc gain
jitter varies the bytes within each group without moving a single energy
sign. The m22 gate's oracle can therefore state both the cluster structure
AND each cluster's fingerprint value in closed form over doc_id arithmetic
— and the Spark side only reproduces them if the real decode → frame →
FFT → band-compare → pack pipeline is correct end to end.
"""

from __future__ import annotations

import io
import wave
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .multimodal import _encode_wav, media_rows, pattern_bit

#: fingerprint geometry: 8 frames x 64 samples = one 512-sample clip
AFP_FRAMES = 8
AFP_FRAME_LEN = 64

#: frame-local tone bins (both < Nyquist bin 32; bin-centered => leak-free)
BIN_LOW = 4    # inside the low band -> bit 1
BIN_HIGH = 12  # inside the high band -> bit 0
_LOW_BAND = (2, 8)    # rfft bins [2, 8)
_HIGH_BAND = (10, 16)  # rfft bins [10, 16)

#: synthesized-corpus knobs (the m22 contract)
N_GROUPS = 8
_SR = 8192
_AMP = 4000
_GAIN_STEP = 1000  # per-doc amplitude jitter unit (doc_id % 3 of them)


def group_fingerprint(group: int) -> int:
    """Closed-form fingerprint of a synthesis group (bit f at weight 2^f)."""
    return sum(pattern_bit(group, f) << f for f in range(AFP_FRAMES))


def synthesize_afp_wav(docs: DataFrame) -> DataFrame:
    """One REAL mono PCM-16 WAV per document (stdlib ``wave`` encoder):
    frame f carries a bin-centered tone at BIN_LOW when pattern_bit(g, f)
    is 1, else at BIN_HIGH, with g = doc_id % N_GROUPS; the amplitude
    jitter _GAIN_STEP·(doc_id % 3) varies the bytes within a group without
    flipping any band-energy sign. Schema = multimodal.MEDIA_SCHEMA."""
    i = np.arange(AFP_FRAME_LEN)
    tone = {
        b: np.sin(2 * np.pi * b * i / AFP_FRAME_LEN) for b in (BIN_LOW, BIN_HIGH)
    }

    def wav(doc_id):
        g = int(doc_id) % N_GROUPS
        amp = _AMP + _GAIN_STEP * (int(doc_id) % 3)
        frames = [
            np.rint(amp * tone[BIN_LOW if pattern_bit(g, f) else BIN_HIGH]).astype("<i2")
            for f in range(AFP_FRAMES)
        ]
        return _encode_wav(np.concatenate(frames).tobytes(), _SR)

    return media_rows(docs.select("doc_id"), "audio/wav", wav)


def audio_fingerprint(media: DataFrame, media_col: str = "media") -> DataFrame:
    """(doc_id, fingerprint BIGINT) from REAL WAV decodes: stdlib ``wave``
    header walk + PCM plane, one vectorized (AFP_FRAMES × AFP_FRAME_LEN)
    rFFT per clip, band energies as |X|² sums, bit f = 1 iff the low band
    out-powers the high band, packed at weight 2^f. Clips are consumed at
    native framing here (the synthesized corpus is already 8×64);
    production callers window longer audio into overlapping frames first
    — the same numpy reshape, one hop loop more."""

    def fp_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lo0, lo1 = _LOW_BAND
        hi0, hi1 = _HIGH_BAND
        need = AFP_FRAMES * AFP_FRAME_LEN
        for pdf in batches:
            ids, fps = [], []
            for doc_id, b in zip(pdf["doc_id"], pdf[media_col]):
                with wave.open(io.BytesIO(bytes(b))) as w:
                    if w.getnchannels() != 1 or w.getsampwidth() != 2:
                        raise ValueError("audio_fingerprint expects mono PCM-16")
                    n = w.getnframes()
                    pcm = np.frombuffer(w.readframes(n), dtype="<i2")
                if len(pcm) < need:
                    raise ValueError(
                        f"clip too short for fingerprint: {len(pcm)} < {need}"
                    )
                frames = pcm[:need].astype(np.float64).reshape(
                    AFP_FRAMES, AFP_FRAME_LEN
                )
                spec = np.abs(np.fft.rfft(frames, axis=1)) ** 2
                bits = spec[:, lo0:lo1].sum(axis=1) > spec[:, hi0:hi1].sum(axis=1)
                fps.append(int((bits << np.arange(AFP_FRAMES)).sum()))
                ids.append(doc_id)
            yield pd.DataFrame({"doc_id": ids, "fingerprint": fps})

    return media.mapInPandas(fp_batch, "doc_id long, fingerprint long")
