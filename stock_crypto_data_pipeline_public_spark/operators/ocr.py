"""Glyph-raster OCR: REAL text recovery from machine-rendered images.

Closes the last stub in the repo (reference scripts/chatbot/ocr_tools.py:
``pytesseract.image_to_string`` over uploaded documents). tesseract is not
in this container, so NATURAL-image OCR stays environmental — but the OCR
contract over machine-rendered text rasters is fully closeable without it:

- :func:`render_text_png` rasterizes a document's text with a fixed,
  public-domain-style 5x7 bitmap font into a REAL PNG (the repo's own
  spec-complete encoder: all five row filters, zlib, CRC — operators/
  multimodal._encode_png), one glyph cell per character.
- :func:`ocr_png_bytes` runs the inverse: REAL PNG decode (chunk walk,
  inflate, full unfilter) then exact template matching of each 6x7 cell
  against the font table. Any codec bug anywhere in the round trip —
  filter math, IDAT handling, raster geometry — corrupts the recovered
  text, which is what the m19 gate hashes.

This is the same "honest subset" pattern as the DOCX/PDF extractors
(chunking.py): the decode path is real; only the model-based recognition
of photographic text (tesseract's actual job) remains environmental, and
extract_text's image branch says so rather than faking it.

Both stages are Arrow-batched mapInPandas — map-only, no shuffle, scales
linearly with executors like every other codec stage in multimodal.py.
"""

from __future__ import annotations

import re
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .jpegcodec import decode_jpeg, encode_jpeg
from .multimodal import _encode_png, _png_parse, _unfilter_png, codec_op, media_rows

#: 5x7 bitmap font, A-Z 0-9 and space: 7 rows top->bottom, 5 bits each,
#: MSB = leftmost pixel. Classic LED-matrix shapes; every glyph distinct
#: (asserted in tests), space is the all-zero cell.
FONT_5X7: dict[str, tuple[int, ...]] = {
    "A": (0b01110, 0b10001, 0b10001, 0b11111, 0b10001, 0b10001, 0b10001),
    "B": (0b11110, 0b10001, 0b10001, 0b11110, 0b10001, 0b10001, 0b11110),
    "C": (0b01110, 0b10001, 0b10000, 0b10000, 0b10000, 0b10001, 0b01110),
    "D": (0b11100, 0b10010, 0b10001, 0b10001, 0b10001, 0b10010, 0b11100),
    "E": (0b11111, 0b10000, 0b10000, 0b11110, 0b10000, 0b10000, 0b11111),
    "F": (0b11111, 0b10000, 0b10000, 0b11110, 0b10000, 0b10000, 0b10000),
    "G": (0b01110, 0b10001, 0b10000, 0b10111, 0b10001, 0b10001, 0b01111),
    "H": (0b10001, 0b10001, 0b10001, 0b11111, 0b10001, 0b10001, 0b10001),
    "I": (0b01110, 0b00100, 0b00100, 0b00100, 0b00100, 0b00100, 0b01110),
    "J": (0b00111, 0b00010, 0b00010, 0b00010, 0b00010, 0b10010, 0b01100),
    "K": (0b10001, 0b10010, 0b10100, 0b11000, 0b10100, 0b10010, 0b10001),
    "L": (0b10000, 0b10000, 0b10000, 0b10000, 0b10000, 0b10000, 0b11111),
    "M": (0b10001, 0b11011, 0b10101, 0b10101, 0b10001, 0b10001, 0b10001),
    "N": (0b10001, 0b10001, 0b11001, 0b10101, 0b10011, 0b10001, 0b10001),
    "O": (0b01110, 0b10001, 0b10001, 0b10001, 0b10001, 0b10001, 0b01110),
    "P": (0b11110, 0b10001, 0b10001, 0b11110, 0b10000, 0b10000, 0b10000),
    "Q": (0b01110, 0b10001, 0b10001, 0b10001, 0b10101, 0b10010, 0b01101),
    "R": (0b11110, 0b10001, 0b10001, 0b11110, 0b10100, 0b10010, 0b10001),
    "S": (0b01111, 0b10000, 0b10000, 0b01110, 0b00001, 0b00001, 0b11110),
    "T": (0b11111, 0b00100, 0b00100, 0b00100, 0b00100, 0b00100, 0b00100),
    "U": (0b10001, 0b10001, 0b10001, 0b10001, 0b10001, 0b10001, 0b01110),
    "V": (0b10001, 0b10001, 0b10001, 0b10001, 0b10001, 0b01010, 0b00100),
    "W": (0b10001, 0b10001, 0b10001, 0b10101, 0b10101, 0b11011, 0b10001),
    "X": (0b10001, 0b10001, 0b01010, 0b00100, 0b01010, 0b10001, 0b10001),
    "Y": (0b10001, 0b10001, 0b01010, 0b00100, 0b00100, 0b00100, 0b00100),
    "Z": (0b11111, 0b00001, 0b00010, 0b00100, 0b01000, 0b10000, 0b11111),
    "0": (0b01110, 0b10001, 0b10011, 0b10101, 0b11001, 0b10001, 0b01110),
    "1": (0b00100, 0b01100, 0b00100, 0b00100, 0b00100, 0b00100, 0b01110),
    "2": (0b01110, 0b10001, 0b00001, 0b00010, 0b00100, 0b01000, 0b11111),
    "3": (0b11111, 0b00010, 0b00100, 0b00010, 0b00001, 0b10001, 0b01110),
    "4": (0b00010, 0b00110, 0b01010, 0b10010, 0b11111, 0b00010, 0b00010),
    "5": (0b11111, 0b10000, 0b11110, 0b00001, 0b00001, 0b10001, 0b01110),
    "6": (0b00110, 0b01000, 0b10000, 0b11110, 0b10001, 0b10001, 0b01110),
    "7": (0b11111, 0b00001, 0b00010, 0b00100, 0b01000, 0b01000, 0b01000),
    "8": (0b01110, 0b10001, 0b10001, 0b01110, 0b10001, 0b10001, 0b01110),
    "9": (0b01110, 0b10001, 0b10001, 0b01111, 0b00001, 0b00010, 0b01100),
    " ": (0, 0, 0, 0, 0, 0, 0),
}

GLYPH_W, GLYPH_H, CELL_W = 5, 7, 6  # 5px glyph + 1px inter-glyph gap

_GLYPH_TO_CHAR = {rows: ch for ch, rows in FONT_5X7.items()}

_CHARSET_RE = re.compile(r"[^A-Za-z0-9 ]")


def normalize_for_raster(text: str | None, n_chars: int) -> str:
    """The renderable normalization of a document's text: unsupported
    chars -> space, truncate to ``n_chars``, ASCII-uppercase, pad to a
    FIXED width with trailing spaces (so empty text still renders a valid
    image and the oracle's rpad(...) is exact). Mirrors the SQL
    ``rpad(upper(substr(regexp_replace(coalesce(text,''),
    '[^A-Za-z0-9 ]', ' ', 'g'), 1, n)), n, ' ')`` operation-for-operation
    (pure-ASCII by construction after the replace, so Python and DuckDB
    uppercasing agree)."""
    return _CHARSET_RE.sub(" ", text or "")[:n_chars].upper().ljust(n_chars)


def _render_raster(text: str):
    """(GLYPH_H, CELL_W*len(text), 3) uint8 raster: white glyphs on black."""
    w = CELL_W * len(text)
    px = np.zeros((GLYPH_H, w, 3), dtype=np.uint8)
    for i, ch in enumerate(text):
        rows = FONT_5X7[ch]
        for y in range(GLYPH_H):
            bits = rows[y]
            for x in range(GLYPH_W):
                if bits >> (GLYPH_W - 1 - x) & 1:
                    px[y, i * CELL_W + x, :] = 255
    return px


def _match_cells(bits) -> str:
    """Exact template matching over a (GLYPH_H, n_cells*CELL_W) boolean
    raster. Raises on an unrecognized cell OR on ink in an inter-glyph
    gap column — the honest behavior for a non-rendered image, not a
    fabricated string (the renderer never puts ink in a gap, so a lit gap
    proves the image is not one of ours)."""
    h, w = bits.shape
    chars = []
    for i in range(w // CELL_W):
        if bits[:, i * CELL_W + GLYPH_W : (i + 1) * CELL_W].any():
            raise ValueError(
                f"unrecognized glyph cell {i}: ink in the inter-glyph gap"
            )
        cell = bits[:, i * CELL_W : i * CELL_W + GLYPH_W]
        rows = tuple(
            int("".join("1" if v else "0" for v in cell[y]), 2)
            for y in range(GLYPH_H)
        )
        ch = _GLYPH_TO_CHAR.get(rows)
        if ch is None:
            raise ValueError(
                f"unrecognized glyph cell {i}: not a rendered-text raster"
            )
        chars.append(ch)
    return "".join(chars)


def ocr_png_bytes(payload: bytes) -> str:
    """REAL glyph OCR of one PNG: full decode (multimodal._png_parse +
    inflate + unfilter), geometry check, exact per-cell template match.
    Raises ValueError for images that are not glyph rasters (wrong
    geometry or an unrecognized cell) — the honest behavior for a
    photographic PNG, whose OCR needs tesseract (reference
    ocr_tools.py:10-24), not a fabricated string."""
    w, h, idat = _png_parse(payload)
    if h != GLYPH_H or w % CELL_W:
        raise ValueError(
            f"not a glyph raster ({w}x{h}): natural-image OCR needs "
            "tesseract (reference ocr_tools.py), absent from this container"
        )
    raster = _unfilter_png(zlib.decompress(idat), w, h, bpp=3)
    return _match_cells(raster.reshape(h, w, 3)[:, :, 0] > 127)


#: JPEG glyph rendering upscales each glyph pixel to one 8x8 block of a
#: constant EVEN sample (ink 254, background 0): per the codec's exactness
#: contract (jpegcodec.py module docstring) such blocks round-trip
#: BIT-exactly through the lossy baseline process, so the jpg OCR path is
#: exact template matching too — over a real entropy-decode + IDCT.
JPEG_BLOCK = 8


def ocr_jpeg_bytes(payload: bytes) -> str:
    """REAL glyph OCR of one JPEG: full baseline decode (jpegcodec —
    Huffman entropy decode, dequantize, IDCT), geometry check, 8x
    block-downsample, exact per-cell template match. Same honesty contract
    as :func:`ocr_png_bytes` for non-raster images."""
    d = decode_jpeg(payload)
    w, h = d["width"], d["height"]
    if h != GLYPH_H * JPEG_BLOCK or w % (CELL_W * JPEG_BLOCK):
        raise ValueError(
            f"not a glyph raster ({w}x{h}): natural-image OCR needs "
            "tesseract (reference ocr_tools.py), absent from this container"
        )
    # block-constant by construction for OUR renderer; verify it rather
    # than assume it (an arbitrary JPEG with glyph-like top-left samples
    # but non-constant block interiors is not a rendered raster and must
    # raise, not be 'recognized') — one vectorized compare over the image
    down = d["raster"][:: JPEG_BLOCK, :: JPEG_BLOCK]
    if not (
        d["raster"] == np.kron(down, np.ones((JPEG_BLOCK, JPEG_BLOCK), down.dtype))
    ).all():
        raise ValueError(
            "not a glyph raster (non-constant 8x8 blocks): natural-image "
            "OCR needs tesseract (reference ocr_tools.py), absent here"
        )
    return _match_cells(down > 127)


def render_text_png(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_chars: int = 48,
) -> DataFrame:
    """Rasterize each document's normalized text into a REAL PNG
    (columns: doc_id, media, media_type, n_bytes — multimodal's
    MEDIA_SCHEMA). Fixed ``n_chars``-cell width so every image has
    identical geometry. Arrow-batched, map-only."""
    def png(doc_id, text):
        return _encode_png(_render_raster(normalize_for_raster(text, n_chars)))

    return media_rows(docs.select(id_col, text_col), "image/png", png)


def render_text_jpeg(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_chars: int = 16,
) -> DataFrame:
    """Rasterize each document's normalized text into a REAL baseline JPEG
    (grayscale, one 8x8 even-valued block per glyph pixel — bit-exact
    through the lossy codec per jpegcodec's contract). Arrow-batched,
    map-only. Default ``n_chars`` is smaller than the PNG path's: each
    char costs 42 DCT blocks through the full entropy coder."""
    def jpeg(doc_id, text):
        gray = _render_raster(normalize_for_raster(text, n_chars))[:, :, 0]
        even = np.where(gray > 0, 254, 0).astype(np.uint8)
        return encode_jpeg(np.kron(even, np.ones((JPEG_BLOCK, JPEG_BLOCK), np.uint8)))

    return media_rows(docs.select(id_col, text_col), "image/jpeg", jpeg)


def ocr_images(
    df: DataFrame,
    media_col: str = "media",
    id_col: str = "doc_id",
    type_col: str = "media_type",
) -> DataFrame:
    """OCR a media relation of glyph-raster PNGs/JPEGs -> (doc_id, text),
    routed EXPLICITLY by media_type through multimodal.CODECS (any other
    type raises an unsupported-media_type NotImplementedError rather than
    a confusing wrong-codec decode failure). Arrow-batched, map-only;
    errors propagate (a non-raster image is a caller bug here —
    extract_text's PERMISSIVE path handles mixed corpora)."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts = [
                codec_op(mt, "ocr")(bytes(b))
                for b, mt in zip(pdf[media_col], pdf[type_col])
            ]
            yield pd.DataFrame({"doc_id": pdf[id_col].astype("int64"), "text": texts})

    return df.select(id_col, media_col, type_col).mapInPandas(
        run, "doc_id long, text string"
    )
