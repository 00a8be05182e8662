"""Byte-pair-encoding tokenizer: distributed merge training + JVM-side encode.

A 100 TB training-data pipeline tokenizes every document it keeps; the two
BPE halves have very different scale shapes and get different designs here:

- **Training** (:func:`train_bpe`) runs over the *word-frequency vocabulary*,
  not the corpus — the standard trick (Sennrich et al. 2016, "Neural Machine
  Translation of Rare Words with Subword Units"): the corpus collapses to
  (word, freq) with one hash aggregation, and every merge round is a pair
  count over the vocab weighted by freq. Each round is one small Spark job
  plus a 1-row ``collect()`` (the argmax pair) — the same bounded-pull
  pattern as the k-means/codebook trainers (vectorops x12, x09). Rounds
  re-derive the symbol column functionally; ``localCheckpoint`` every few
  rounds truncates the lineage for large round counts.

- **Encoding** (:func:`apply_merges` / :func:`encode_tokens`) is a chain of
  LITERAL string replaces over the symbolized text — pure built-in
  expressions (whole-stage codegen, zero shuffle, no UDF). Scale path:
  encode the *distinct vocab* and broadcast-join token counts back to the
  corpus instead of re-encoding every occurrence (what t38 does).

Cross-engine determinism (the oracle-gate contract): a merge ``(a, b)`` is
applied as TWO sequential global literal replaces of ``" a b "`` with
``" ab "`` — both Spark's ``replace`` and ANSI ``replace()`` scan
leftmost-nonoverlapping and resume after the replacement, so the chain is
bit-identical across engines by construction, and :func:`merge_chain_sql`
emits the identical chain for the DuckDB oracle from the same Python
literals. This 2-pass-replace semantic is the DEFINED tokenization here;
it differs from canonical greedy BPE only on runs of ≥3 repeated identical
pairs (e.g. ``"aaaaaa"`` with merge (a,a) → ``aa a aa a`` instead of
``aa aa aa``): a replace match consumes the trailing separator the next
overlapping candidate needs. Lookbehind regex would fix it but RE2 (the
oracle engine) has no lookaround, so the portable semantic wins; natural
text has virtually no such runs. :func:`train_bpe` and
:func:`reference_train_bpe` both apply merges with the SAME 2-pass rule,
so trained merges and encoded tokens are mutually consistent.

Reference parity note: the reference pipeline has no tokenizer; this is a
beyond-reference training-data operator (SURVEY.md north-star list). Its
text normalization reuses the reference's sanitizer shape
(a1_2_news_data_scrapper.py:25-44 lowercase/strip/collapse).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Word-boundary symbol. Normalized text is [a-z ] only, so '_' can never
#: collide with a real character symbol.
WORD_MARK = "_"


# --------------------------------------------------------------------------
# symbolization: normalized text -> space-separated single-char symbols,
# wrapped in one leading + one trailing space so every symbol occurrence
# (including the first and last) matches the " a b " merge pattern.
# --------------------------------------------------------------------------
def symbolize(col: Column | str) -> Column:
    """``"Big cat"`` → ``" b i g _ c a t "`` (lowercase, [a-z ]-only,
    single spaces, word gaps as :data:`WORD_MARK`, then one symbol per
    character). NULL text symbolizes like empty text (coalesce to '') —
    the m-series NULL-text convention."""
    c = F.col(col) if isinstance(col, str) else col
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.coalesce(c, F.lit(""))), "[^a-z ]", ""),
            " +",
            " ",
        )
    )
    marked = F.replace(norm, F.lit(" "), F.lit(WORD_MARK))
    spaced = F.regexp_replace(marked, "(.)", "$1 ")
    return F.when(marked == "", F.lit("")).otherwise(
        F.concat(F.lit(" "), spaced)
    )


def symbolize_sql(expr: str) -> str:
    """DuckDB fragment computing :func:`symbolize` identically."""
    norm = (
        "trim(regexp_replace(regexp_replace("
        f"lower(coalesce({expr}, '')), '[^a-z ]', '', 'g'), ' +', ' ', 'g'))"
    )
    marked = f"replace({norm}, ' ', '{WORD_MARK}')"
    spaced = rf"regexp_replace({marked}, '(.)', '\1 ', 'g')"
    return f"CASE WHEN {marked} = '' THEN '' ELSE ' ' || {spaced} END"


# --------------------------------------------------------------------------
# merge application: the 2-pass literal-replace chain (see module docstring
# for why two passes and why that is the cross-engine-exact semantic).
# --------------------------------------------------------------------------
def apply_merges(col: Column | str, merges: list[tuple[str, str]]) -> Column:
    """Apply ``merges`` in order to a symbolized column; each merge is two
    global literal replaces of ``" a b "`` → ``" ab "``."""
    c = F.col(col) if isinstance(col, str) else col
    for a, b in merges:
        pat, rep = F.lit(f" {a} {b} "), F.lit(f" {a}{b} ")
        c = F.replace(F.replace(c, pat, rep), pat, rep)
    return c


def merge_chain_sql(expr: str, merges: list[tuple[str, str]]) -> str:
    """The identical chain as ANSI ``replace()`` nesting for the oracle."""
    for a, b in merges:
        for _ in range(2):
            expr = f"replace({expr}, ' {a} {b} ', ' {a}{b} ')"
    return expr


def token_count(col: Column | str) -> Column:
    """Number of symbols/tokens in a symbolized string ('' → 0)."""
    c = F.col(col) if isinstance(col, str) else col
    t = F.trim(c)
    return F.when(t == "", F.lit(0)).otherwise(
        F.size(F.split(t, " "))
    ).cast("long")


def token_count_sql(expr: str) -> str:
    return (
        f"CAST(CASE WHEN trim({expr}) = '' THEN 0 "
        f"ELSE len(string_split(trim({expr}), ' ')) END AS BIGINT)"
    )


# --------------------------------------------------------------------------
# training
# --------------------------------------------------------------------------
def train_bpe(
    vocab: DataFrame, rounds: int, min_freq: int = 2
) -> list[tuple[str, str]]:
    """Learn ``rounds`` merges from a (word, freq) vocabulary.

    Each round: explode adjacent symbol pairs of every word (weighted by
    word freq, so corpus statistics are exact), pick the most frequent pair
    (ties broken lexicographically — deterministic), fold it into the
    symbol column. Stops early when no pair reaches ``min_freq``.

    Per round: one vocab-sized job + a 1-row collect. Words are symbolized
    WITH a trailing :data:`WORD_MARK` per word (``"cat" → " c a t _ "``)
    so end-of-word merges are learnable, matching the encode-side
    symbolization where ``_`` separates words.
    """
    seq = F.concat(
        F.lit(" "),
        F.regexp_replace(
            F.concat(F.col("word"), F.lit(WORD_MARK)), "(.)", "$1 "
        ),
    )
    cur = vocab.select(seq.alias("seq"), "freq").localCheckpoint(eager=True)
    merges: list[tuple[str, str]] = []
    for r in range(rounds):
        pairs = (
            cur.select(F.split(F.trim("seq"), " ").alias("syms"), "freq")
            .select(
                F.explode(
                    F.expr(
                        "transform(slice(syms, 1, size(syms) - 1),"
                        " (x, i) -> struct(x AS a, syms[i + 1] AS b))"
                    )
                ).alias("p"),
                "freq",
            )
            .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"), "freq")
        )
        top = (
            pairs.groupBy("a", "b")
            .agg(F.sum("freq").alias("n"))
            .orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["n"] < min_freq:
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b))
        cur = cur.select(apply_merges("seq", [(a, b)]).alias("seq"), "freq")
        if (r + 1) % 4 == 0:  # truncate the replace-chain lineage
            cur = cur.localCheckpoint(eager=True)
    return merges


def reference_train_bpe(
    word_freqs: dict[str, int], rounds: int, min_freq: int = 2
) -> list[tuple[str, str]]:
    """Pure-Python reference implementation used by tests to pin
    :func:`train_bpe`'s distributed semantics: identical symbolization,
    identical all-adjacent-pairs counting, identical (-count, pair)
    argmax tiebreak, and the identical 2-pass literal-replace merge
    application (NOT canonical greedy — see module docstring)."""
    vocab: dict[str, int] = {}
    for word, freq in word_freqs.items():
        s = " " + " ".join(word + WORD_MARK) + " "
        vocab[s] = vocab.get(s, 0) + freq
    merges: list[tuple[str, str]] = []
    for _ in range(rounds):
        counts: dict[tuple[str, str], int] = {}
        for s, freq in vocab.items():
            syms = s.split()
            for pair in zip(syms, syms[1:]):
                counts[pair] = counts.get(pair, 0) + freq
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < min_freq:
            break
        (a, b) = best[0]
        merges.append((a, b))
        pat, rep = f" {a} {b} ", f" {a}{b} "
        new_vocab: dict[str, int] = {}
        for s, freq in vocab.items():
            s2 = s.replace(pat, rep).replace(pat, rep)
            new_vocab[s2] = new_vocab.get(s2, 0) + freq
        vocab = new_vocab
    return merges


def encode_tokens(
    docs: DataFrame, merges: list[tuple[str, str]], text_col: str = "text"
) -> DataFrame:
    """Corpus + merge table → per-doc token accounting: ``n_symbols``
    (pre-merge character symbols) and ``n_bpe_tokens`` (post-merge), as
    pure column expressions appended to ``docs``."""
    sym = symbolize(text_col)
    return docs.withColumn("n_symbols", token_count(sym)).withColumn(
        "n_bpe_tokens", token_count(apply_merges(sym, merges))
    )
