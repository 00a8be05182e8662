"""Document-processing pipeline: extract → preprocess → chunk → metadata.

Spark-first analog of the reference chatbot's document subsystem
(reference scripts/chatbot/src/document_processor.py:18-151,
text_extractors.py, chunking_strategies.py): the reference processes one
file at a time in Python; here every step is a DataFrame transform so a
100 TB corpus chunks with the scan — per-row JVM expressions, one window
for chunk counts, no per-document Python.

- :func:`preprocess_text` — the reference's cleanup chain
  (document_processor.py:42-67) as built-in column expressions.
- :func:`fixed_chunks` / :func:`sentence_chunks` — chunking_strategies.py's
  recursive/sentence strategies in their distributed formulations (see
  plans/textops.py t24/t25 for the hash-gated query forms).
- :func:`with_chunk_metadata` — document_processor.py:69-94's metadata
  dict as typed columns (one window to count chunks per doc).
- :func:`extract_text` — text_extractors.py's extractor registry. TXT,
  DOCX and PDF extraction are REAL stdlib implementations (see the codec
  block at the bottom: zipfile+ElementTree for OOXML, zlib Flate + a
  BT/ET content-stream text-op scanner for PDF — same from-scratch
  honest-subset contract as operators/multimodal.py's PNG/JPEG codecs).
  Only image OCR (reference ocr_tools.py needs tesseract, absent here)
  remains stubbed behind ``fake=True``.
- :func:`synthesize_docx` / :func:`synthesize_pdf` — deterministic binary
  document fixtures per source row (the m-series ``synthesize_*``
  pattern) so the real extractors can be hash-gated end to end.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

PAGE_MARKER_RE = r"--- Page \d+ ---"


def preprocess_text(col: Column | str) -> Column:
    """Reference preprocess chain (document_processor.py:42-67), same order:
    whitespace collapse → charset filter → punctuation dedupe → page-marker
    removal → trim. (The reference also applies unicodedata NFKD between
    the filter and the dedupe; Spark has no built-in normalizer and the
    corpus is ASCII — documented skip.)"""
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, r"\s+", " ")
    c = F.regexp_replace(c, r"[^\w\s\.\,\!\?\;\:\-\(\)]", "")
    c = F.regexp_replace(c, r"\.{2,}", ".")
    c = F.regexp_replace(c, PAGE_MARKER_RE, "")
    return F.trim(c)


def fixed_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_cols: tuple[str, ...] = ("doc_id",),
    chunk_size: int = 1000,
    overlap: int = 200,
) -> DataFrame:
    """Fixed-stride char windows (chunking_strategies.py:123-147 semantics):
    one output row per chunk with ``chunk_index`` and ``chunk_text``.
    sequence → posexplode → substring: stays inside whole-stage codegen."""
    if not 0 <= overlap < chunk_size:
        raise ValueError(f"need 0 <= overlap < chunk_size, got {overlap}/{chunk_size}")
    stride = chunk_size - overlap
    starts = F.sequence(
        F.lit(1), F.greatest(F.length(text_col), F.lit(1)), F.lit(stride)
    )
    exploded = df.select(
        *id_cols, text_col, F.posexplode(starts).alias("chunk_index", "__start")
    )
    chunk = F.col(text_col).substr(F.col("__start"), F.lit(chunk_size))
    return exploded.select(
        *id_cols, "chunk_index", chunk.alias("chunk_text")
    ).filter(F.length("chunk_text") > 0)


_SOH = "\u0001"  # sentence separator marker; never occurs in real text


def sentence_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_cols: tuple[str, ...] = ("doc_id",),
    chunk_size: int = 1000,
) -> DataFrame:
    """Sentence-aligned chunks (chunking_strategies.py:23-70 semantics,
    distributed formulation): sentences split on ``([.!?])\\s+`` boundaries,
    assigned to chunk ``floor(cum_chars_before / chunk_size)`` — one
    posexplode, one window sum, one groupBy. Output: id_cols, chunk_index,
    chunk_text, n_sentences."""
    marked = F.regexp_replace(F.col(text_col), r"([.!?])\s+", "$1" + _SOH)
    sent = (
        df.select(*id_cols, F.posexplode(F.split(marked, _SOH)).alias("__idx", "__raw"))
        .select(*id_cols, "__idx", F.trim("__raw").alias("__sentence"))
        .filter(F.length("__sentence") > 0)
    )
    w = W.partitionBy(*id_cols).orderBy("__idx").rowsBetween(W.unboundedPreceding, -1)
    cum = sent.withColumn(
        "__cum", F.coalesce(F.sum(F.length("__sentence") + 1).over(w), F.lit(0))
    ).withColumn("chunk_index", F.floor(F.col("__cum") / F.lit(chunk_size)).cast("int"))
    ordered_text = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("__idx", "__sentence"))),
            lambda s: s["__sentence"],
        ),
        " ",
    )
    return cum.groupBy(*id_cols, "chunk_index").agg(
        ordered_text.alias("chunk_text"),
        F.count(F.lit(1)).cast("int").alias("n_sentences"),
    )


def document_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_cols: tuple[str, ...] = ("doc_id",),
    chunk_size: int = 1000,
    overlap: int = 200,
) -> DataFrame:
    """Structure-aware chunking (chunking_strategies.py:150-204 semantics,
    DocumentAwareChunking): split on markdown section headers, pack small
    sections into ~chunk_size chunks, split oversize sections with the
    fixed-stride splitter.

    Distributed formulation: sections are marked (RE2-safe — a newline
    before ``#+ `` is rewritten to SOH, no lookahead needed) and
    posexploded; a window cum-sum over ALL sections assigns each small
    section to bucket ``floor(cum_chars_before / chunk_size)`` — an
    intervening oversize section advances the cum past a bucket boundary,
    so packing does not leak across it (the reference's "big section
    interrupts the current chunk" behaviour); oversize sections go through
    :func:`fixed_chunks` per section. Chunks re-index per document in
    section order. Output: id_cols, chunk_index, chunk_text."""
    marked = F.regexp_replace(F.col(text_col), r"\n(#+\s)", _SOH + "$1")
    sec = (
        df.select(*id_cols, F.posexplode(F.split(marked, _SOH)).alias("__sidx", "__raw"))
        .select(*id_cols, "__sidx", F.trim("__raw").alias("__section"))
        .filter(F.length("__section") > 0)
    )
    w = W.partitionBy(*id_cols).orderBy("__sidx").rowsBetween(W.unboundedPreceding, -1)
    cum = sec.withColumn(
        "__cum", F.coalesce(F.sum(F.length("__section") + 1).over(w), F.lit(0))
    )
    small = cum.filter(F.length("__section") <= chunk_size)
    big = cum.filter(F.length("__section") > chunk_size)

    packed = (
        small.withColumn(
            "__bucket", F.floor(F.col("__cum") / F.lit(chunk_size)).cast("int")
        )
        .groupBy(*id_cols, "__bucket")
        .agg(
            F.min("__sidx").alias("__order"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__sidx", "__section"))),
                    lambda s: s["__section"],
                ),
                "\n",
            ).alias("chunk_text"),
        )
        .select(*id_cols, F.col("__order").alias("__sec"), F.lit(0).alias("__sub"), "chunk_text")
    )
    split_big = fixed_chunks(
        big.select(*id_cols, "__sidx", F.col("__section").alias("__text")),
        text_col="__text",
        id_cols=tuple(id_cols) + ("__sidx",),
        chunk_size=chunk_size,
        overlap=overlap,
    ).select(
        *id_cols,
        F.col("__sidx").alias("__sec"),
        (F.col("chunk_index") + 1).alias("__sub"),
        "chunk_text",
    )
    all_chunks = packed.unionByName(split_big)
    order_w = W.partitionBy(*id_cols).orderBy("__sec", "__sub")
    return all_chunks.select(
        *id_cols,
        (F.row_number().over(order_w) - 1).cast("int").alias("chunk_index"),
        "chunk_text",
    )


def with_chunk_metadata(
    chunks: DataFrame,
    id_cols: tuple[str, ...] = ("doc_id",),
    strategy: str = "fixed",
    language: str = "en",
) -> DataFrame:
    """Typed-column form of document_processor.py:69-94's metadata dict:
    chunk_size (chars), chunk_size_tokens (whitespace words — the
    reference's rough count), total_chunks per document (one window), plus
    the constant strategy/language tags. No ``timestamp`` field: a
    wall-clock column would make results non-deterministic; stamp at the
    sink if needed."""
    w = W.partitionBy(*id_cols)
    return chunks.select(
        *id_cols,
        "chunk_index",
        "chunk_text",
        F.length("chunk_text").alias("chunk_size"),
        F.size(F.split(F.trim("chunk_text"), r"\s+")).alias("chunk_size_tokens"),
        F.count(F.lit(1)).over(w).cast("int").alias("total_chunks"),
        F.lit(strategy).alias("chunking_strategy"),
        F.lit(language).alias("language"),
    )


def process_documents(
    df: DataFrame,
    text_col: str = "text",
    id_cols: tuple[str, ...] = ("doc_id",),
    strategy: str = "fixed",
    chunk_size: int = 1000,
    overlap: int = 200,
    language: str = "en",
) -> DataFrame:
    """The full process_document pipeline (document_processor.py:96-150) as
    one DataFrame transform: preprocess → chunk → metadata.

    Note the reference-faithful quirk: preprocess collapses ``\\s+`` (incl.
    newlines), so the ``document`` strategy sees no header boundaries when
    run through this pipeline — exactly as in the reference, where
    process_document also preprocesses before DocumentAwareChunking. Call
    :func:`document_chunks` directly on raw text for structure-aware
    splitting."""
    cleaned = df.withColumn(text_col, preprocess_text(text_col)).filter(
        F.length(text_col) > 0
    )
    if strategy == "fixed":
        chunks = fixed_chunks(cleaned, text_col, id_cols, chunk_size, overlap)
    elif strategy == "sentence":
        chunks = sentence_chunks(cleaned, text_col, id_cols, chunk_size)
    elif strategy == "document":
        chunks = document_chunks(cleaned, text_col, id_cols, chunk_size, overlap)
    else:
        raise ValueError(f"unknown chunking strategy {strategy!r}")
    return with_chunk_metadata(chunks, id_cols, strategy, language)


# --------------------------------------------------------------------------
# Text extraction (text_extractors.py) — binary document → text.
#
# REAL stdlib codecs for the two container formats the reference ingests:
#   DOCX (DocxExtractor, text_extractors.py:72-90): a DOCX is a zip whose
#     word/document.xml holds <w:p> paragraphs of <w:r> runs of <w:t> text.
#     python-docx's paragraph.text is the concatenation of the runs' texts;
#     the reference keeps non-blank paragraphs joined by "\n" and strips.
#   PDF (PDFPlumberExtractor, text_extractors.py:23-42): honest subset —
#     indirect objects located by the `N 0 obj` grammar (no xref needed for
#     well-formed files), the page order taken from the /Pages /Kids array,
#     each page's /Contents stream Flate-decoded (zlib) when declared and
#     scanned for BT…ET text objects: Tj / TJ / ' / " show strings (literal
#     and hex forms, full escape grammar), Td/TD with a y-move, T* and '
#     break lines. Pages joined "\n--- Page N ---\n{text}\n" and stripped,
#     byte-for-byte the reference's pdfplumber format. NOT handled
#     (documented): encrypted PDFs, non-Flate filters, CMap/ToUnicode
#     font re-encoding, layout-based word reflow.
# Image OCR (reference ocr_tools.py): REAL for machine-rendered glyph
# rasters — PNG via full decode + bitmap-font template match, JPEG via
# the full baseline decode with block-exact rendering (operators/ocr.py).
# PHOTOGRAPHIC OCR needs tesseract — absent from this container — so a
# non-raster image raises ValueError rather than fabricating text.
# --------------------------------------------------------------------------

_EXTRACT_SCHEMA = "doc_id long, doc_type string, text string, n_chars int"

_DOCX_NS = "{http://schemas.openxmlformats.org/wordprocessingml/2006/main}"


def _extract_docx(payload: bytes) -> str:
    """Real OOXML text extraction: zip → word/document.xml → paragraph
    texts (runs concatenated), non-blank paragraphs joined by newline,
    stripped — python-docx `paragraph.text` semantics per the reference
    DocxExtractor (text_extractors.py:81-84)."""
    import io
    import xml.etree.ElementTree as ET
    import zipfile

    with zipfile.ZipFile(io.BytesIO(payload)) as zf:
        root = ET.fromstring(zf.read("word/document.xml"))
    out = []
    for para in root.iter(f"{_DOCX_NS}p"):
        text = "".join(t.text or "" for t in para.iter(f"{_DOCX_NS}t"))
        if text.strip():
            out.append(text + "\n")
    return "".join(out).strip()


def _pdf_string_token(data: str, i: int) -> tuple[str, int]:
    """Decode one PDF string token starting at data[i] ('(' or '<').
    Returns (decoded_text, index_after). Implements the full literal-string
    escape grammar (ISO 32000 §7.3.4.2): \\n \\r \\t \\b \\f \\( \\) \\\\,
    1-3 digit octal, backslash-newline continuation, balanced nesting."""
    if data[i] == "<":
        j = data.index(">", i)
        hexdigits = "".join(c for c in data[i + 1 : j] if not c.isspace())
        if len(hexdigits) % 2:
            hexdigits += "0"
        return bytes.fromhex(hexdigits).decode("latin-1"), j + 1
    esc = {"n": "\n", "r": "\r", "t": "\t", "b": "\b", "f": "\f"}
    depth, out, i = 1, [], i + 1
    while depth:
        c = data[i]
        if c == "\\":
            nxt = data[i + 1]
            if nxt in esc:
                out.append(esc[nxt])
                i += 2
            elif nxt in "()\\":
                out.append(nxt)
                i += 2
            elif nxt == "\n":
                i += 2
            elif nxt == "\r":
                i += 3 if data[i + 2 : i + 3] == "\n" else 2
            elif nxt in "01234567":
                # ISO 32000 octal escapes are 1-3 OCTAL digits; '8'/'9' (and
                # Unicode digits) after a backslash decode as literal chars.
                j = i + 1
                while j < i + 4 and data[j : j + 1] in "01234567":
                    j += 1
                out.append(chr(int(data[i + 1 : j], 8) & 0xFF))
                i = j
            else:
                out.append(nxt)
                i += 2
        elif c == "(":
            depth += 1
            out.append(c)
            i += 1
        elif c == ")":
            depth -= 1
            if depth:
                out.append(c)
            i += 1
        else:
            out.append(c)
            i += 1
    return "".join(out), i


_PDF_NUM_RE = None  # lazy-compiled in _pdf_content_text


def _pdf_content_text(content: bytes) -> str:
    """Scan a decoded content stream for BT…ET text objects and rebuild
    the shown text: Tj/TJ/'/\" append to the current line; T*, ', \" and
    Td/TD with ty≠0 start a new one. Lines joined by newline — the
    honest-subset analog of pdfplumber's layout reflow for the
    line-oriented streams our writer (and most generators) emit."""
    import re

    global _PDF_NUM_RE
    if _PDF_NUM_RE is None:
        _PDF_NUM_RE = re.compile(r"[-+]?\d*\.?\d+")
    data = content.decode("latin-1")
    lines: list[str] = []
    cur: list[str] = []

    def newline():
        lines.append("".join(cur))
        cur.clear()

    for block in re.findall(r"\bBT\b(.*?)\bET\b", data, flags=re.S):
        i, n = 0, len(block)
        operands: list[object] = []
        while i < n:
            c = block[i]
            if c.isspace():
                i += 1
            elif c in "(<":
                if block[i : i + 2] == "<<":  # dict (inline image params etc.)
                    i += 2
                    continue
                s, i = _pdf_string_token(block, i)
                operands.append(s)
            elif c == ">":
                # '>>' dict close (marked-content BDC params); also any stray
                # '>' — must advance or the scanner stalls.
                i += 2 if block[i : i + 2] == ">>" else 1
            elif c in "[]":
                i += 1  # TJ arrays: strings already collect on the stack
            elif c == "/":
                j = i + 1
                while j < n and not block[j].isspace() and block[j] not in "()<>[]/":
                    j += 1
                operands.append(("name", block[i:j]))
                i = j
            else:
                j = i
                while j < n and not block[j].isspace() and block[j] not in "()<>[]/":
                    j += 1
                tok = block[i:j]
                if j == i:
                    # unknown single char (')', '}', …) — always advance so
                    # no input can stall the scanner (a hang, not an
                    # exception, so on_error='skip' couldn't catch it).
                    i += 1
                    continue
                i = j
                if _PDF_NUM_RE.fullmatch(tok):
                    operands.append(float(tok))
                    continue
                # an operator: consume the operand stack
                if tok == "Tj":
                    cur.extend(s for s in operands if isinstance(s, str))
                elif tok == "TJ":
                    cur.extend(s for s in operands if isinstance(s, str))
                elif tok in ("'", '"'):
                    if cur:
                        newline()
                    cur.extend(s for s in operands if isinstance(s, str))
                elif tok == "T*":
                    if cur:
                        newline()
                elif tok in ("Td", "TD"):
                    nums = [o for o in operands if isinstance(o, float)]
                    if len(nums) >= 2 and nums[-1] != 0 and cur:
                        newline()
                operands.clear()
        if cur:
            newline()
    return "\n".join(lines)


def _extract_pdf(payload: bytes) -> str:
    """Real PDF text extraction (honest stdlib subset — see block comment).
    Output format is byte-identical to the reference PDFPlumberExtractor:
    ``"\\n--- Page {n} ---\\n{page_text}\\n"`` per non-empty page, then
    ``.strip()`` (text_extractors.py:30-39)."""
    import re
    import zlib

    data = payload.decode("latin-1")
    objects: dict[int, str] = {}
    for m in re.finditer(r"(\d+)\s+\d+\s+obj\b(.*?)\bendobj", data, flags=re.S):
        objects[int(m.group(1))] = m.group(2)

    def stream_bytes(body: str) -> bytes | None:
        sm = re.search(r"stream\r?\n(.*?)endstream", body, flags=re.S)
        if not sm:
            return None
        raw = sm.group(1)
        if "/FlateDecode" in body:
            # decompressobj leaves the spec'd pre-endstream EOL (and any
            # trailing bytes) in unused_data — no byte-strip heuristics
            return zlib.decompressobj().decompress(raw.encode("latin-1"))
        raw = raw[:-2] if raw.endswith("\r\n") else raw[:-1] if raw.endswith("\n") else raw
        return raw.encode("latin-1")

    # page order from the page tree when present, else document order
    page_ids: list[int] = []
    for body in objects.values():
        if "/Type" in body and "/Pages" in body and "/Kids" in body:
            kids = re.search(r"/Kids\s*\[(.*?)\]", body, flags=re.S)
            if kids:
                page_ids = [int(r) for r in re.findall(r"(\d+)\s+\d+\s+R", kids.group(1))]
                break
    contents: list[bytes] = []
    if page_ids:
        for pid in page_ids:
            cm = re.search(r"/Contents\s+(\d+)\s+\d+\s+R", objects.get(pid, ""))
            blob = stream_bytes(objects.get(int(cm.group(1)), "")) if cm else None
            if blob is not None:
                contents.append(blob)
    else:
        for num in sorted(objects):
            blob = stream_bytes(objects[num])
            if blob is not None and b"BT" in blob:
                contents.append(blob)

    text = ""
    for page_num, blob in enumerate(contents, 1):
        page_text = _pdf_content_text(blob)
        if page_text:
            text += f"\n--- Page {page_num} ---\n{page_text}\n"
    return text.strip()


def extract_text(
    df: DataFrame,
    content_col: str = "content",
    type_col: str = "doc_type",
    id_col: str = "doc_id",
    fake: bool = False,
    on_error: str = "raise",
) -> DataFrame:
    """Extract text from binary documents via mapInPandas (Arrow batches).

    Mirrors text_extractors.py's extractor registry: ``txt`` (UTF-8),
    ``docx`` (real zip+XML parse), ``pdf`` (real Flate + text-op scan),
    ``png`` (REAL glyph-raster OCR: full PNG decode + bitmap-font template
    match) and ``jpg``/``jpeg`` (REAL glyph OCR through the full baseline
    JPEG decode — entropy decode, dequantize, IDCT — exact for the
    block-rendered rasters per jpegcodec's evenness contract; operators/
    ocr.py) decode for REAL. An image that is NOT a machine-rendered
    glyph raster raises ValueError (honest: photographic OCR is
    tesseract's job — reference ocr_tools.py — and tesseract is absent
    from this container); ``fake=True`` keeps the deterministic
    sha256-derived placeholder for image types (schema, batching and
    partitioning stay real). Unknown types yield ''.

    ``on_error``: ``'raise'`` propagates decode errors (the reference's
    per-file behavior, text_extractors.py:40-42 — right for interactive
    use); ``'skip'`` yields ``text=NULL`` for the failing ROW and keeps
    the job alive — at corpus scale one corrupt document must not kill a
    million-task job (the PERMISSIVE-mode analog of the CSV loader).
    NULL (not '') so downstream can tell "failed" from "legitimately
    empty".
    """
    if on_error not in ("raise", "skip"):
        raise ValueError(f"on_error must be 'raise' or 'skip', got {on_error!r}")

    def run(batches):
        import hashlib

        import pandas as pd

        for pdf in batches:
            texts = []
            for content, dtype in zip(pdf[content_col], pdf[type_col]):
                payload = bytes(content) if content is not None else b""
                try:
                    if dtype == "txt":
                        texts.append(payload.decode("utf-8", errors="replace"))
                    elif dtype == "docx":
                        texts.append(_extract_docx(payload))
                    elif dtype == "pdf":
                        texts.append(_extract_pdf(payload))
                    elif dtype in ("png", "jpg", "jpeg") and not fake:
                        from .ocr import ocr_jpeg_bytes, ocr_png_bytes

                        # REAL for glyph rasters; ValueError for anything
                        # else (photographic OCR stays environmental) —
                        # which PERMISSIVE mode maps to NULL like any
                        # other undecodable row
                        if dtype == "png":
                            texts.append(ocr_png_bytes(payload))
                        else:
                            texts.append(ocr_jpeg_bytes(payload))
                    elif dtype in ("png", "jpg", "jpeg"):
                        digest = hashlib.sha256(payload).hexdigest()
                        texts.append(f"{dtype} document {digest[:16]}")
                    else:
                        texts.append("")
                except Exception:
                    if on_error == "raise":
                        raise
                    texts.append(None)
            out = pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "doc_type": pdf[type_col].astype(str),
                    "text": texts,
                }
            )
            lens = out["text"].str.len()
            out["n_chars"] = lens.fillna(-1).astype("int32")
            yield out

    out = df.mapInPandas(run, _EXTRACT_SCHEMA)
    # n_chars: NULL when text is NULL (pandas int col can't carry NaN
    # through Arrow cleanly, so the sentinel is mapped back JVM-side)
    return out.withColumn(
        "n_chars", F.when(F.col("text").isNull(), F.lit(None)).otherwise(F.col("n_chars"))
    )


# --------------------------------------------------------------------------
# Deterministic document writers — fixture encoders for the real codecs
# (the operators/multimodal.py synthesize_* pattern applied to documents).
# --------------------------------------------------------------------------


def _make_docx(paragraphs: list[str]) -> bytes:
    """Minimal valid DOCX: [Content_Types].xml + _rels/.rels +
    word/document.xml, zip entries datestamped 1980-01-01 for byte
    determinism. Each paragraph is split into two <w:t> runs (plus an
    empty run) so extraction exercises run concatenation, and a
    whitespace-only paragraph is appended so extraction exercises the
    blank-paragraph drop."""
    import io
    import zipfile
    from xml.sax.saxutils import escape

    def para_xml(text: str) -> str:
        cut = min(5, len(text))
        runs = (
            f"<w:r><w:t xml:space=\"preserve\">{escape(text[:cut])}</w:t></w:r>"
            f"<w:r><w:t xml:space=\"preserve\"></w:t></w:r>"
            f"<w:r><w:t xml:space=\"preserve\">{escape(text[cut:])}</w:t></w:r>"
        )
        return f"<w:p>{runs}</w:p>"

    body = "".join(para_xml(p) for p in paragraphs) + para_xml("   ")
    document = (
        "<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>"
        "<w:document xmlns:w=\"http://schemas.openxmlformats.org/"
        "wordprocessingml/2006/main\"><w:body>"
        f"{body}</w:body></w:document>"
    )
    content_types = (
        "<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>"
        "<Types xmlns=\"http://schemas.openxmlformats.org/package/2006/content-types\">"
        "<Default Extension=\"rels\" ContentType=\"application/vnd."
        "openxmlformats-package.relationships+xml\"/>"
        "<Default Extension=\"xml\" ContentType=\"application/xml\"/>"
        "<Override PartName=\"/word/document.xml\" ContentType=\"application/vnd."
        "openxmlformats-officedocument.wordprocessingml.document.main+xml\"/></Types>"
    )
    rels = (
        "<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>"
        "<Relationships xmlns=\"http://schemas.openxmlformats.org/package/2006/"
        "relationships\"><Relationship Id=\"rId1\" Type=\"http://schemas."
        "openxmlformats.org/officeDocument/2006/relationships/officeDocument\" "
        "Target=\"word/document.xml\"/></Relationships>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, data in (
            ("[Content_Types].xml", content_types),
            ("_rels/.rels", rels),
            ("word/document.xml", document),
        ):
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            zf.writestr(info, data)
    return buf.getvalue()


def _pdf_escape(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def _make_pdf(pages: list[list[str]]) -> bytes:
    """Minimal valid PDF 1.4: catalog → page tree → one Flate-compressed
    content stream per page, correct xref offsets. Within each page, line
    0 shows via Tj, odd lines via a kerned TJ array split mid-string, even
    lines >0 via T* + ' — so extraction exercises every show operator."""
    import zlib

    def content(lines: list[str]) -> bytes:
        ops = ["BT", "/F1 12 Tf", "14 TL", "72 720 Td"]
        for i, line in enumerate(lines):
            if i == 0:
                ops.append(f"({_pdf_escape(line)}) Tj")
            elif i % 2:
                cut = min(4, len(line))
                ops.append("T*")
                ops.append(
                    f"[({_pdf_escape(line[:cut])}) -12 ({_pdf_escape(line[cut:])})] TJ"
                )
            else:
                ops.append(f"({_pdf_escape(line)}) '")  # ' breaks the line itself
        ops.append("ET")
        return zlib.compress("\n".join(ops).encode("latin-1"))

    n_pages = len(pages)
    font_id = 3 + 2 * n_pages
    objs: list[bytes] = []
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n_pages))
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode())
    for i, lines in enumerate(pages):
        page_id, cont_id = 3 + 2 * i, 4 + 2 * i
        objs.append(
            (
                f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
                f"/Contents {cont_id} 0 R /Resources << /Font "
                f"<< /F1 {font_id} 0 R >> >> >>"
            ).encode()
        )
        blob = content(lines)
        objs.append(
            f"<< /Length {len(blob)} /Filter /FlateDecode >>\nstream\n".encode()
            + blob
            + b"\nendstream"
        )
    objs.append(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")

    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for num, body in enumerate(objs, 1):
        offsets.append(len(out))
        out += f"{num} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objs) + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
        f"startxref\n{xref_at}\n%%EOF\n"
    ).encode()
    return bytes(out)


_SYNTH_DOC_SCHEMA = "doc_id long, doc_type string, content binary"


def _synthesize_docs(df: DataFrame, kind: str) -> DataFrame:
    """Deterministic binary documents per source row (closed forms of
    doc_id only, so oracles can reconstruct the extracted text in SQL):

    - docx: 1 + doc_id % 4 paragraphs, paragraph i = "Para {i} of doc {id}."
    - pdf:  1 + doc_id % 3 pages, page p (1-based) =
            "Doc {id} page {p}" + newline + "Flate body {p}-{id}"
    """

    def run(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"].astype("int64"):
                d = int(doc_id)
                if kind == "docx":
                    paras = [f"Para {i} of doc {d}." for i in range(1 + d % 4)]
                    payload = _make_docx(paras)
                else:
                    pages = [
                        [f"Doc {d} page {p}", f"Flate body {p}-{d}"]
                        for p in range(1, 2 + d % 3)
                    ]
                    payload = _make_pdf(pages)
                rows.append((d, kind, payload))
            yield pd.DataFrame(rows, columns=["doc_id", "doc_type", "content"])

    return df.select("doc_id").mapInPandas(run, _SYNTH_DOC_SCHEMA)


def synthesize_docx(df: DataFrame) -> DataFrame:
    return _synthesize_docs(df, "docx")


def synthesize_pdf(df: DataFrame) -> DataFrame:
    return _synthesize_docs(df, "pdf")
