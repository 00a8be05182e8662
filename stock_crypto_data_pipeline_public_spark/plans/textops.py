"""Text analysis + content dedup over the documents table.

Beyond-the-reference operators (BASELINE.json north star): exact/near dedup,
MinHash-LSH, SimHash, n-gram Jaccard, language-ID, quality scoring, token
statistics. All JVM-side built-in expressions (no UDFs) — see
operators/dedup.py for the shared builders and the scale rationale.

The only reference-relatable piece is the text sanitizer (reference
a1_2_news_data_scrapper.py:25-44: lowercase + strip + collapse), which is the
normalization step of t01.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.numeric import oracle_rnd, rnd
from ..operators import dedup as D
from ..operators import retrieval as R
from ..operators.scd import top_k
from ..scratch import mkscratch
from ..sources.tables import HEAVY, TEXT, fan_out, load_table
from .registry import query


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents corpus spread for the text pipelines: nearly every
    t-query's first stage runs heavy per-row work (tokenize, shingle,
    regex batteries), which a one-task single-file scan would run
    single-threaded."""
    return fan_out(load_table(spark, sf_dir, "documents"), TEXT)


# --------------------------------------------------------------------------
# t01 — exact dedup after normalization. A re-crawled copy (upper-cased,
# re-keyed) of every doc is unioned in; normalization + md5 fingerprint must
# collapse each pair. groupBy(fingerprint) — one shuffle, map-side partials.
# --------------------------------------------------------------------------
@query(
    "t01_exact_dedup",
    oracle="""
    WITH all_docs AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, upper(text) AS text FROM documents
    )
    SELECT md5({NORMALIZE}) AS fingerprint,
           count(*)         AS n_copies,
           min(doc_id)      AS keep_doc_id
    FROM all_docs
    GROUP BY 1
    """.replace("{NORMALIZE}", D.NORMALIZE_SQL.format(col="text")),
)
def t01_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    recrawl = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"), F.upper("text").alias("text")
    )
    all_docs = docs.select("doc_id", "text").unionByName(recrawl)
    return all_docs.groupBy(
        F.md5(D.normalize_text("text")).alias("fingerprint")
    ).agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.min("doc_id").alias("keep_doc_id"),
    )


# --------------------------------------------------------------------------
# t02 — token statistics: whitespace tokens, BPE-ish regex tokens, token
# chars. Pure per-row expressions → narrow scan, whole-stage codegen.
# --------------------------------------------------------------------------
@query(
    "t02_token_stats",
    oracle="""
    SELECT doc_id,
           length(text)                                         AS n_chars,
           len(regexp_extract_all(text, '[a-z0-9]+'))           AS n_tokens,
           len(regexp_extract_all(text, '[a-z]+|[0-9]|[^a-z0-9 ]')) AS n_bpe_ish,
           CAST(coalesce(list_sum(list_transform(
               regexp_extract_all(text, '[a-z0-9]+'), x -> length(x))), 0) AS INT) AS n_token_chars
    FROM documents
    """,
)
def t02_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = F.regexp_extract_all("text", F.lit("[a-z0-9]+"), 0)
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.size(toks).alias("n_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[a-z]+|[0-9]|[^a-z0-9 ]"), 0)).alias(
            "n_bpe_ish"
        ),
        F.coalesce(
            F.aggregate(toks, F.lit(0), lambda acc, x: acc + F.length(x)), F.lit(0)
        ).alias("n_token_chars"),
    )


# --------------------------------------------------------------------------
# t03 — quality scoring: stopword ratio, length saturation, alpha ratio →
# weighted score. Integer counts + one guarded division chain, so the score
# is bit-identical across engines.
# --------------------------------------------------------------------------
_STOP_RE = r"\b(the|a|of|to|and|in|is)\b"


@query(
    "t03_quality_score",
    oracle=f"""
    WITH feats AS (
        SELECT doc_id,
               length(text) AS n_chars,
               len(regexp_extract_all(text, '[a-z0-9]+'))    AS n_tokens,
               len(regexp_extract_all(text, '{_STOP_RE}'))   AS stop_hits,
               len(regexp_extract_all(text, '[a-z]'))        AS alpha_chars
        FROM documents
    )
    SELECT doc_id, n_tokens, stop_hits,
           {oracle_rnd(
               "0.5 * (stop_hits * 1.0 / nullif(n_tokens, 0))"
               " + 0.3 * (least(n_tokens, 100) / 100.0)"
               " + 0.2 * (alpha_chars * 1.0 / nullif(n_chars, 0))", 4)} AS quality_score
    FROM feats
    """,
)
def t03_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    feats = docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.size(F.regexp_extract_all("text", F.lit("[a-z0-9]+"), 0)).alias("n_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(_STOP_RE), 0)).alias("stop_hits"),
        F.size(F.regexp_extract_all("text", F.lit("[a-z]"), 0)).alias("alpha_chars"),
    )
    score = (
        0.5 * (F.col("stop_hits") * 1.0 / F.nullif(F.col("n_tokens"), F.lit(0)))
        + 0.3 * (F.least(F.col("n_tokens"), F.lit(100)) / 100.0)
        + 0.2 * (F.col("alpha_chars") * 1.0 / F.nullif(F.col("n_chars"), F.lit(0)))
    )
    return feats.select("doc_id", "n_tokens", "stop_hits", rnd(score, 4).alias("quality_score"))


# --------------------------------------------------------------------------
# t04 — language ID: marker-word scoring with deterministic argmax, reported
# as a lang × predicted confusion matrix. An honest n-gram-style heuristic:
# scores are marker-hit counts; ties resolve in a fixed priority order.
# --------------------------------------------------------------------------
_LANG_MARKERS = {
    "en": r"\b(the|and|of|to|is|a)\b",
    "de": r"\b(der|die|das|und|nicht|ist)\b",
    "es": r"\b(el|los|las|es|y|que)\b",
    "fr": r"\b(le|la|les|et|est|une)\b",
}


def _oracle_lang_pred() -> str:
    hits = ",\n               ".join(
        f"len(regexp_extract_all(text, '{pat}')) AS c_{lang}"
        for lang, pat in _LANG_MARKERS.items()
    )
    m = "greatest(c_en, c_de, c_es, c_fr)"
    pred = (
        f"CASE WHEN {m} = 0 THEN 'unknown' "
        "WHEN c_en = " + m + " THEN 'en' "
        "WHEN c_de = " + m + " THEN 'de' "
        "WHEN c_es = " + m + " THEN 'es' "
        "ELSE 'fr' END"
    )
    return f"""
    WITH scored AS (
        SELECT lang,
               {hits}
        FROM documents
    )
    SELECT lang, {pred} AS predicted_lang, count(*) AS n_docs
    FROM scored
    GROUP BY 1, 2
    """


@query("t04_lang_id", oracle=_oracle_lang_pred())
def t04_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    scored = docs.select(
        "lang",
        *[
            F.size(F.regexp_extract_all("text", F.lit(pat), 0)).alias(f"c_{lang}")
            for lang, pat in _LANG_MARKERS.items()
        ],
    )
    m = F.greatest("c_en", "c_de", "c_es", "c_fr")
    pred = (
        F.when(m == 0, "unknown")
        .when(F.col("c_en") == m, "en")
        .when(F.col("c_de") == m, "de")
        .when(F.col("c_es") == m, "es")
        .otherwise("fr")
    )
    return scored.groupBy("lang", pred.alias("predicted_lang")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )


# --------------------------------------------------------------------------
# t05 — n-gram Jaccard near-dup pairs: word-trigram shingles, candidate
# pairs via shingle equi-join (never a cross join), exact Jaccard, top-20.
# The shingle join is the scale-path: work is proportional to shared
# shingles, not to n². Top-k is deterministic (exact integer ratio + id
# tiebreaks).
# --------------------------------------------------------------------------
@query(
    "t05_ngram_jaccard_pairs",
    oracle=f"""
    WITH sh AS (
        SELECT DISTINCT doc_id, unnest({D.oracle_shingles('text')}) AS shingle
        FROM documents
    ),
    counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT p.doc_a, p.doc_b, p.n_common,
           {oracle_rnd('p.n_common * 1.0 / (ca.n + cb.n - p.n_common)', 4)} AS jaccard
    FROM pairs p
    JOIN counts ca ON p.doc_a = ca.doc_id
    JOIN counts cb ON p.doc_b = cb.doc_id
    ORDER BY jaccard DESC, doc_a ASC, doc_b ASC
    LIMIT 20
    """,
)
def t05_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    # Pair generation is copair_counts: ONE shuffle of the shingle stream
    # (groupBy shingle → sorted id list → streamed suffix-explode) instead
    # of a self-join's two corpus-sized exchanges, bit-identical;
    # max_bucket=None keeps the exact oracle-gated semantics (the 100 TB
    # form caps hot-shingle buckets — see SCALE.md).
    sh = D.exploded_shingles(docs, "doc_id", "text", 3)
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    pairs = D.copair_counts(sh, "doc_id", "shingle")
    ca = counts.alias("ca")
    cb = counts.alias("cb")
    jac = F.col("n_common") * 1.0 / (F.col("ca.n") + F.col("cb.n") - F.col("n_common"))
    return (
        pairs.join(ca, F.col("doc_a") == F.col("ca.doc_id"))
        .join(cb, F.col("doc_b") == F.col("cb.doc_id"))
        .select("doc_a", "doc_b", "n_common", rnd(jac, 4).alias("jaccard"))
        .orderBy(F.desc("jaccard"), F.asc("doc_a"), F.asc("doc_b"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# t06 — MinHash signatures + LSH bands per document. k=8 permutations
# emulated as salted md5 mins (a hex min is a uniform 128-bit min); bands of
# 2 hashed to one value each. One groupBy over the exploded shingles.
# --------------------------------------------------------------------------
@query(
    "t06_minhash_signatures",
    oracle=f"""
    WITH sh AS (
        SELECT DISTINCT doc_id, unnest({D.oracle_shingles('text')}) AS shingle
        FROM documents
    ),
    sig AS (
        SELECT doc_id,
           {D.oracle_minhash_aggs()}
        FROM sh GROUP BY doc_id
    )
    SELECT doc_id,
           {D.oracle_band_cols()}
    FROM sig
    """,
)
def t06_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    sh = D.exploded_shingles(docs, "doc_id", "text", 3)
    sig = sh.groupBy("doc_id").agg(*D.minhash_aggs())
    return sig.select("doc_id", *D.band_cols())


# --------------------------------------------------------------------------
# t07 — LSH bucket statistics: per band, bucket count / max bucket size /
# candidate-pair count Σ c·(c−1)/2. This is the planning view of the LSH
# join: candidate pairs vs the n·(n−1)/2 brute-force pairs.
# --------------------------------------------------------------------------
@query(
    "t07_lsh_candidate_stats",
    oracle=f"""
    WITH sh AS (
        SELECT DISTINCT doc_id, unnest({D.oracle_shingles('text')}) AS shingle
        FROM documents
    ),
    sig AS (
        SELECT doc_id,
           {D.oracle_minhash_aggs()}
        FROM sh GROUP BY doc_id
    ),
    bands AS (
        SELECT doc_id,
           {D.oracle_band_cols()}
        FROM sig
    ),
    long AS (
        SELECT 0 AS band_idx, band0 AS band FROM bands
        UNION ALL SELECT 1, band1 FROM bands
        UNION ALL SELECT 2, band2 FROM bands
        UNION ALL SELECT 3, band3 FROM bands
    ),
    buckets AS (
        SELECT band_idx, band, count(*) AS c FROM long GROUP BY 1, 2
    )
    SELECT band_idx,
           count(*)                    AS n_buckets,
           max(c)                      AS max_bucket,
           CAST(sum(c * (c - 1) // 2) AS BIGINT) AS n_candidate_pairs
    FROM buckets
    GROUP BY band_idx
    """,
)
def t07_lsh_candidate_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    sh = D.exploded_shingles(docs, "doc_id", "text", 3)
    sig = sh.groupBy("doc_id").agg(*D.minhash_aggs())
    bands = sig.select("doc_id", *D.band_cols())
    long = bands.selectExpr(
        "doc_id",
        "stack(4, 0, band0, 1, band1, 2, band2, 3, band3) AS (band_idx, band)",
    )
    buckets = long.groupBy("band_idx", "band").agg(F.count(F.lit(1)).alias("c"))
    return buckets.groupBy("band_idx").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("c").alias("max_bucket"),
        F.sum(F.expr("c * (c - 1) div 2")).alias("n_candidate_pairs"),
    )


# --------------------------------------------------------------------------
# t34 — LSH recall/precision report: does the banding config actually find
# the near-dups? Candidate pairs (docs sharing ≥1 MinHash band — t07's
# join, distinct pairs) are scored against the EXACT Jaccard ≥ 1/2 pair
# set (t11's predicate): recall = caught/true, precision = true/candidates.
# The same philosophy as the sketch error contracts (t28/t29/CMS), applied
# to candidate generation: every approximate component ships with a
# measured-quality query, so a banding change that silently drops recall
# is a diff in a gated number, not a hidden regression. Plan cost: the
# shingle copair (one shuffle) + the band copair (one shuffle over 4·docs
# rows) + three scalar counts cross-joined broadcast.
# --------------------------------------------------------------------------
@query(
    "t34_lsh_recall",
    oracle=f"""
    WITH sh AS (
        SELECT DISTINCT doc_id, unnest({D.oracle_shingles('text')}) AS shingle
        FROM documents
    ),
    counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    exact AS (
        SELECT p.doc_a, p.doc_b FROM pairs p
        JOIN counts ca ON p.doc_a = ca.doc_id
        JOIN counts cb ON p.doc_b = cb.doc_id
        WHERE 2 * p.n_common >= ca.n + cb.n - p.n_common
    ),
    sig AS (
        SELECT doc_id, {D.oracle_minhash_aggs()} FROM sh GROUP BY doc_id
    ),
    bands AS (SELECT doc_id, {D.oracle_band_cols()} FROM sig),
    long AS (
        SELECT doc_id, 0 AS band_idx, band0 AS band FROM bands
        UNION ALL SELECT doc_id, 1, band1 FROM bands
        UNION ALL SELECT doc_id, 2, band2 FROM bands
        UNION ALL SELECT doc_id, 3, band3 FROM bands
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM long a JOIN long b
          ON a.band_idx = b.band_idx AND a.band = b.band AND a.doc_id < b.doc_id
    ),
    hits AS (SELECT doc_a, doc_b FROM exact INTERSECT SELECT doc_a, doc_b FROM cand)
    SELECT CAST((SELECT count(*) FROM exact) AS BIGINT) AS n_exact,
           CAST((SELECT count(*) FROM cand)  AS BIGINT) AS n_candidates,
           CAST((SELECT count(*) FROM hits)  AS BIGINT) AS n_hits,
           {oracle_rnd('100.0 * (SELECT count(*) FROM hits) / nullif((SELECT count(*) FROM exact), 0)', 2)} AS recall_pct,
           {oracle_rnd('100.0 * (SELECT count(*) FROM hits) / nullif((SELECT count(*) FROM cand), 0)', 2)} AS precision_pct
    """,
)
def t34_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    # (a lazy checkpoint of this exploded stream costs about what the
    # three consumers' recompute does at this shingle volume, so the
    # recompute stays; contrast t42, where the same move wins.)
    sh = D.exploded_shingles(docs, "doc_id", "text", 3)
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    exact = (
        D.copair_counts(sh, "doc_id", "shingle")
        .join(counts.alias("ca"), F.col("doc_a") == F.col("ca.doc_id"))
        .join(counts.alias("cb"), F.col("doc_b") == F.col("cb.doc_id"))
        .filter(
            2 * F.col("n_common") >= F.col("ca.n") + F.col("cb.n") - F.col("n_common")
        )
        .select("doc_a", "doc_b")
    )
    sig = sh.groupBy("doc_id").agg(*D.minhash_aggs())
    long = sig.select("doc_id", *D.band_cols()).selectExpr(
        "doc_id",
        "stack(4, 0, band0, 1, band1, 2, band2, 3, band3) AS (band_idx, band)",
    )
    cand = (
        D.copair_counts(
            long.select(
                "doc_id", F.concat_ws("#", "band_idx", "band").alias("bucket")
            ),
            "doc_id",
            "bucket",
        )
        .select("doc_a", "doc_b")
    )
    hits = exact.join(cand, ["doc_a", "doc_b"], "left_semi")
    ne = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    nc = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    nh = hits.agg(F.count(F.lit(1)).alias("n_hits"))
    row = ne.crossJoin(F.broadcast(nc)).crossJoin(F.broadcast(nh))
    return row.select(
        "n_exact",
        "n_candidates",
        "n_hits",
        rnd(
            100.0 * F.col("n_hits") / F.nullif(F.col("n_exact"), F.lit(0)), 2
        ).alias("recall_pct"),
        rnd(
            100.0 * F.col("n_hits") / F.nullif(F.col("n_candidates"), F.lit(0)), 2
        ).alias("precision_pct"),
    )


# --------------------------------------------------------------------------
# t08 — SimHash-16 + Hamming-distance histogram over all doc pairs.
# Signature: md5-nibble bits of distinct tokens, ±1 weighted, sign per bit
# (operators/dedup.py builders run verbatim on both engines). The all-pairs
# Hamming comparison is the *verification baseline* — O(n²), kept because
# the output (a 17-row histogram) validates the signature quality; the scale
# path for retrieval is bucketing by simhash prefix (cf. t07 LSH).
# --------------------------------------------------------------------------
def _oracle_simhash() -> str:
    contribs = ",\n               ".join(D.simhash_contrib_exprs("token"))
    sums = ", ".join(f"sum(c{b}) AS s{b}" for b in range(D.SIMHASH_BITS))
    return f"""
    WITH toks AS (
        SELECT DISTINCT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
        FROM documents
    ),
    contrib AS (
        SELECT doc_id,
               {contribs}
        FROM toks
    ),
    sums AS (SELECT doc_id, {sums} FROM contrib GROUP BY doc_id),
    sh AS (SELECT doc_id, {D.simhash_from_sums()} AS simhash FROM sums)
    SELECT bit_count(xor(CAST(a.simhash AS BIGINT), CAST(b.simhash AS BIGINT))) AS hamming,
           count(*) AS n_pairs
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    GROUP BY 1
    """


@query("t08_simhash_hamming", oracle=_oracle_simhash())
def t08_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    # simhash construction stays JVM-side (integer bit-sum expressions, one
    # hash aggregation). The O(n²) Hamming pair phase runs on the shared
    # block-pair self-join (operators/blockpair.py — same machinery as
    # x04/x11): each task xors its two code vectors in vectorized numpy
    # (popcount-table lookup, per-pair bincount) and only ~17-row partial
    # histograms leave Python. No driver collect, no corpus broadcast.
    # Pure integer math → EXACTLY the oracle's result by construction.
    import numpy as np

    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(D.tokens("text"))).alias("token")
    )
    contrib = toks.selectExpr("doc_id", *D.simhash_contrib_exprs("token"))
    sums = contrib.groupBy("doc_id").agg(
        *[F.sum(f"c{b}").alias(f"s{b}") for b in range(D.SIMHASH_BITS)]
    )
    sh = sums.selectExpr("doc_id", f"{D.simhash_from_sums()} AS simhash")

    from ..operators.blockpair import block_pair_partials

    pop = np.array([bin(i).count("1") for i in range(1 << D.SIMHASH_BITS)],
                   dtype=np.int64)

    def hist(ids_a, vals_a, ids_b, vals_b, mask):
        import pandas as pd

        codes_a = np.asarray(vals_a, dtype=np.int64)
        codes_b = np.asarray(vals_b, dtype=np.int64)
        hams = pop[(codes_a[:, None] ^ codes_b[None, :])[mask]]
        counts = np.bincount(hams, minlength=D.SIMHASH_BITS + 1)
        nz = np.nonzero(counts)[0]
        return pd.DataFrame({"hamming": nz.astype("int32"),
                             "n_pairs": counts[nz].astype("int64")})

    partial = block_pair_partials(
        spark, sh, "doc_id", "simhash", hist, "hamming int, n_pairs long"
    )
    return partial.groupBy("hamming").agg(F.sum("n_pairs").alias("n_pairs"))


# --------------------------------------------------------------------------
# t09 — winnowing fingerprints (document fingerprinting via rolling k-gram
# hashes + window minima, the MOSS scheme): hash every k-char gram, take the
# min hash in each sliding window of w starts, dedupe. Robust to insertions
# — two documents sharing any w+k-1 char run share a fingerprint. The
# fingerprint set is the join key for plagiarism/near-dup detection at
# scale (equi-join on fingerprint, like t05's shingle join).
# Hash = md5 hex: identical bytes and lexicographic MIN in both engines.
# --------------------------------------------------------------------------
FP_K = 8    # k-gram length (chars)
FP_W = 16   # winnowing window (gram starts)


@query(
    "t09_winnowing_fingerprints",
    oracle=f"""
    WITH norm AS (
        SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
        FROM documents
    ),
    grams AS (
        SELECT doc_id, i + 1 AS pos, md5(substr(t, i + 1, {FP_K})) AS h
        FROM norm, unnest(range(greatest(length(t) - {FP_K} + 1, 0))) AS u(i)
    ),
    winmin AS (
        SELECT doc_id, pos,
               min(h) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN CURRENT ROW AND {FP_W - 1} FOLLOWING
               ) AS fp,
               count(*) OVER (PARTITION BY doc_id) AS n_grams
        FROM grams
        QUALIFY pos <= n_grams - {FP_W} + 1
    )
    SELECT doc_id,
           count(*)           AS n_windows,
           count(DISTINCT fp) AS n_fingerprints,
           min(fp)            AS min_fingerprint
    FROM winmin
    GROUP BY doc_id
    """,
)
def t09_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread the docs BEFORE the md5-heavy gram generation (the shuffle
    # moves only the short raw texts), pre-partitioned by the window key
    docs = fan_out(load_table(spark, sf_dir, "documents"), HEAVY, "doc_id")
    norm = docs.select("doc_id", D.normalize_text("text").alias("t"))
    grams = norm.select(
        "doc_id",
        F.posexplode(
            F.expr(f"transform(sequence(1, greatest(length(t) - {FP_K} + 1, 0)), "
                   f"p -> md5(substr(t, p, {FP_K})))")
        ).alias("pos0", "h"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "h")
    w_min = W.partitionBy("doc_id").orderBy("pos").rowsBetween(0, FP_W - 1)
    w_all = W.partitionBy("doc_id")
    winmin = (
        grams.select(
            "doc_id",
            "pos",
            F.min("h").over(w_min).alias("fp"),
            F.count(F.lit(1)).over(w_all).alias("n_grams"),
        )
        .filter(F.col("pos") <= F.col("n_grams") - FP_W + 1)
    )
    return winmin.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.countDistinct("fp").alias("n_fingerprints"),
        F.min("fp").alias("min_fingerprint"),
    )


# --------------------------------------------------------------------------
# t10 — TF-IDF top terms per document: explode tokens → per-doc term counts
# (one shuffle, map-side partials), document frequency over distinct
# (doc, term), corpus size as a broadcast 1-row aggregate, top-3 terms per
# doc by score. The tf⋈df join keys on term; dfreq is one row per distinct
# term so it is explicitly broadcast — the big tf relation never reshuffles
# by term (AQE can't see this statically: dfreq's size estimate inherits the
# full scan). At web-corpus vocabularies (>~100M terms) drop the hint and
# let the term-key sort-merge join take over.
# --------------------------------------------------------------------------
@query(
    "t10_tfidf_top_terms",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS term
        FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
    dfreq AS (
        SELECT term, count(*) AS df
        FROM (SELECT DISTINCT doc_id, term FROM toks) GROUP BY 1
    ),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tf,
               {oracle_rnd('tf.tf * ln(n.n_docs * 1.0 / dfreq.df)', 4)} AS tfidf
        FROM tf JOIN dfreq USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, tfidf, rk
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY tfidf DESC, term ASC
        ) AS rk
        FROM scored
    )
    WHERE rk <= 3
    """,
)
def t10_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id",
        F.explode(F.regexp_extract_all("text", F.lit("[a-z0-9]+"), 0)).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # tf already holds one row per distinct (doc, term), so document
    # frequency is a re-aggregation of tf — no second tokenize pass, and the
    # (doc_id, term) exchange feeding tf is reused for the df branch
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            rnd(
                F.col("tf") * F.log(F.col("n_docs") * 1.0 / F.col("df")), 4
            ).alias("tfidf"),
        )
    )
    return top_k(scored, ["doc_id"], [F.desc("tfidf"), F.asc("term")], 3, "rk")


# --------------------------------------------------------------------------
# t11 — duplicate clusters: connected components over the near-dup pair
# graph (word-trigram Jaccard ≥ 1/2, tested as the exact integer predicate
# 2·common ≥ na+nb−common so both engines agree bit-for-bit). Spark side
# runs iterative min-label propagation (operators/dedup.connected_components);
# the oracle walks the same graph with a recursive CTE. Every doc gets a
# component; the canonical keeper is the min doc_id.
# --------------------------------------------------------------------------
def _dup_components(docs: DataFrame) -> DataFrame:
    """(doc_id, component_id) over the trigram-Jaccard ≥ 1/2 near-dup graph
    (the shared spine of t11 and t23). The exploded shingle stream feeds
    both the per-doc counts and the pair generation — materialized once
    so the shingle explode runs once, not once per consumer."""
    sh = D.exploded_shingles(docs, "doc_id", "text", 3).localCheckpoint(eager=True)
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    pairs = D.copair_counts(sh, "doc_id", "shingle")
    edges = (
        pairs.join(counts.alias("ca"), F.col("doc_a") == F.col("ca.doc_id"))
        .join(counts.alias("cb"), F.col("doc_b") == F.col("cb.doc_id"))
        .filter(
            2 * F.col("n_common") >= F.col("ca.n") + F.col("cb.n") - F.col("n_common")
        )
        .select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    comp = D.connected_components(docs.select(F.col("doc_id").alias("id")), edges)
    return comp.select(F.col("id").alias("doc_id"), "component_id")


# The full recursive-CTE walk of the near-dup graph down to min-label
# components — shared by t11 (cluster inventory) and t32 (cluster-aware
# split), exactly as _dup_components is the shared Spark spine.
_ORACLE_COMP_CTES = f"""
    WITH RECURSIVE sh AS (
        SELECT DISTINCT doc_id, unnest({D.oracle_shingles('text')}) AS shingle
        FROM documents
    ),
    counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    edges0 AS (
        SELECT p.doc_a AS src, p.doc_b AS dst
        FROM pairs p
        JOIN counts ca ON p.doc_a = ca.doc_id
        JOIN counts cb ON p.doc_b = cb.doc_id
        WHERE 2 * p.n_common >= ca.n + cb.n - p.n_common
    ),
    edges AS (
        SELECT src, dst FROM edges0
        UNION ALL SELECT dst AS src, src AS dst FROM edges0
    ),
    reach AS (
        SELECT doc_id, doc_id AS comp FROM documents
        UNION
        SELECT e.dst AS doc_id, r.comp
        FROM reach r JOIN edges e ON e.src = r.doc_id
    ),
    comp AS (SELECT doc_id, min(comp) AS component_id FROM reach GROUP BY 1)"""


@query(
    "t11_dup_clusters",
    oracle=f"""{_ORACLE_COMP_CTES}
    SELECT c.doc_id, c.component_id, s.n_members
    FROM comp c
    JOIN (SELECT component_id, count(*) AS n_members FROM comp GROUP BY 1) s
      ON c.component_id = s.component_id
    """,
)
def t11_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    comp = _dup_components(docs)
    sizes = comp.groupBy("component_id").agg(F.count(F.lit(1)).alias("n_members"))
    return comp.join(sizes, "component_id").select("doc_id", "component_id", "n_members")


# --------------------------------------------------------------------------
# t12 — bigram language-model scoring (the KenLM-style quality filter):
# corpus bigram/context counts by groupBy (map-side partials), vocabulary
# size as a broadcast scalar, add-one smoothed P(w2|w1), per-doc mean log
# probability. Integer counts make every per-bigram term engine-exact; only
# the final mean is floating (rounded). The doc-bigram ⋈ count joins key on
# the bigram string. The count tables (one row per distinct bigram / per
# distinct context word) are explicitly broadcast: the big exploded bigram
# relation joins map-side and never reshuffles by bigram — its only exchange
# is the final per-doc aggregation. At open-vocabulary scale (bigram table
# past the broadcast threshold) drop the hints; the join keys stay uniform.
# --------------------------------------------------------------------------
@query(
    "t12_bigram_lm_score",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS tk FROM documents
    ),
    bg AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS bigram
        FROM toks WHERE len(tk) >= 2
    ),
    c12 AS (SELECT bigram, count(*) AS c12 FROM bg GROUP BY 1),
    c1 AS (SELECT split_part(bigram, ' ', 1) AS w1, count(*) AS c1 FROM bg GROUP BY 1),
    v AS (SELECT count(DISTINCT tok) AS v
          FROM (SELECT unnest(tk) AS tok FROM toks)),
    scored AS (
        SELECT bg.doc_id,
               ln((c12.c12 + 1) * 1.0 / (c1.c1 + v.v)) AS logp
        FROM bg
        JOIN c12 USING (bigram)
        JOIN c1 ON split_part(bg.bigram, ' ', 1) = c1.w1
        CROSS JOIN v
    )
    SELECT doc_id, count(*) AS n_bigrams, {oracle_rnd('avg(logp)', 4)} AS avg_logp
    FROM scored GROUP BY 1
    """,
)
def t12_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    # the token and bigram relations each have multiple consumers
    # (c12/scored read the bigram stream, v reads the token stream), so
    # unmaterialized the corpus regexp tokenize runs 3x and the bigram
    # explode 2x per execution. LAZY local checkpoints materialize each once
    # inside the single output action — the t51 "materialize the token
    # column once" lesson applied to this query's plan (values unchanged:
    # same deterministic expressions, just not recomputed).
    toks = docs.select(
        "doc_id", F.regexp_extract_all("text", F.lit("[a-z0-9]+"), 0).alias("tk")
    ).localCheckpoint(eager=False)
    bg = (
        toks.filter(F.size("tk") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr("transform(sequence(0, size(tk) - 2), i -> concat(tk[i], ' ', tk[i+1]))")
            ).alias("bigram"),
        )
        .localCheckpoint(eager=False)
    )
    c12 = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("c12"))
    # context counts re-aggregate the bigram counts (sum of c12 per w1 ==
    # count of bigrams per w1) — one fewer tokenize+explode+shuffle pass
    c1 = c12.groupBy(
        F.split_part("bigram", F.lit(" "), F.lit(1)).alias("w1")
    ).agg(F.sum("c12").alias("c1"))
    v = toks.select(F.explode("tk").alias("tok")).agg(
        F.countDistinct("tok").alias("v")
    )
    scored = (
        bg.join(F.broadcast(c12), "bigram")
        .join(F.broadcast(c1), F.split_part("bigram", F.lit(" "), F.lit(1)) == F.col("w1"))
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            F.log((F.col("c12") + 1) * 1.0 / (F.col("c1") + F.col("v"))).alias("logp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        rnd(F.avg("logp"), 4).alias("avg_logp"),
    )


# --------------------------------------------------------------------------
# t13 — deterministic train/valid/test split: two md5 nibbles of the doc id
# give a uniform 0-255 bucket, thresholds carve 80/10/10. Pure per-row
# expressions (no shuffle, no RNG) — the assignment is stable across runs,
# engines, and cluster sizes, which is what makes a split reproducible at
# 100 TB. Emitting (doc_id, bucket, split) hash-checks every assignment.
# --------------------------------------------------------------------------
_NIB = "(instr('0123456789abcdef', substr(md5(cast({col} AS {str_t})), {pos}, 1)) - 1)"


def _split_bucket_sql(str_t: str, col: str = "doc_id") -> str:
    n1 = _NIB.format(str_t=str_t, pos=1, col=col)
    n2 = _NIB.format(str_t=str_t, pos=2, col=col)
    return f"({n1} * 16 + {n2})"


@query(
    "t13_hash_split",
    oracle=f"""
    WITH b AS (
        SELECT doc_id, lang, {_split_bucket_sql('VARCHAR')} AS bucket FROM documents
    )
    SELECT doc_id, lang, bucket,
           CASE WHEN bucket < 204 THEN 'train'
                WHEN bucket < 230 THEN 'valid'
                ELSE 'test' END AS split
    FROM b
    """,
)
def t13_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    b = docs.select("doc_id", "lang", F.expr(_split_bucket_sql("STRING")).alias("bucket"))
    split = (
        F.when(F.col("bucket") < 204, "train")
        .when(F.col("bucket") < 230, "valid")
        .otherwise("test")
    )
    return b.select("doc_id", "lang", "bucket", split.alias("split"))


# --------------------------------------------------------------------------
# t14 — blocked edit-distance near-dup: levenshtein over candidate pairs
# restricted to (lang, source) blocks — the classic blocking pattern that
# keeps pairwise comparison work proportional to block sizes, never global
# n². The compared key is the first 80 chars of the ASCII projection of the
# text: byte==char for ASCII, so Spark's and any oracle's levenshtein agree
# regardless of how each engine counts multi-byte code points. JVM-side
# built-in levenshtein — no Python in the pair loop.
# --------------------------------------------------------------------------
_ASCII_KEY_SQL = "substr(regexp_replace({col}, '[^ -~]', '', 'g'), 1, 80)"


# --------------------------------------------------------------------------
# t15 — per-language quota sampling (data-mixing rebalance): keep at most Q
# docs per language, chosen deterministically by md5-bucket order. The naive
# plan is row_number() over (partition by lang) — a full sort of EVERY group,
# which at 100 TB means sorting billions of rows per dominant language. This
# plan instead aggregates a (lang, bucket) histogram (≤ 256·|langs| rows),
# finds each language's cumulative-count boundary bucket, broadcasts the tiny
# decision table back, and only rank-sorts the single boundary bucket
# (~1/256th of one language). Whole buckets below the boundary pass with a
# broadcast-hash semi join — no global sort anywhere. Result is provably
# identical to the row_number() formulation the oracle runs.
# --------------------------------------------------------------------------
_Q15 = 100


def quota_sample(b: DataFrame, quota: int) -> DataFrame:
    """Exact per-``lang`` quota sample of a (doc_id, lang, bucket) frame.

    Equivalent to ``row_number() over (partition by lang order by bucket,
    doc_id) <= quota`` but computed without sorting whole groups: a tiny
    (lang, bucket) histogram decides which whole buckets pass, and only the
    single boundary bucket per language is rank-sorted.
    """
    counts = b.groupBy("lang", "bucket").agg(F.count(F.lit(1)).alias("n"))
    wcum = W.partitionBy("lang").orderBy("bucket").rowsBetween(W.unboundedPreceding, 0)
    cum = counts.select(
        "lang",
        "bucket",
        "n",
        F.sum("n").over(wcum).alias("cum"),
    ).withColumn("cum_before", F.col("cum") - F.col("n"))
    # whole buckets that fit entirely under the quota: broadcast semi join
    full = b.join(
        F.broadcast(cum.filter(F.col("cum") <= quota).select("lang", "bucket")),
        ["lang", "bucket"],
        "left_semi",
    )
    # the one boundary bucket per language: rank only those rows
    boundary = cum.filter(
        (F.col("cum_before") < quota) & (F.col("cum") > quota)
    ).select("lang", "bucket", (F.lit(quota) - F.col("cum_before")).alias("take"))
    partial = top_k(
        b.join(F.broadcast(boundary), ["lang", "bucket"]),
        ["lang", "bucket"],
        [F.asc("doc_id")],
        F.col("take"),
    ).drop("take")
    return full.unionByName(partial).select("doc_id", "lang", "bucket")


@query(
    "t15_quota_sample",
    oracle=f"""
    WITH b AS (
        SELECT doc_id, lang, {_split_bucket_sql('VARCHAR')} AS bucket FROM documents
    ),
    r AS (
        SELECT doc_id, lang, bucket,
               row_number() OVER (PARTITION BY lang ORDER BY bucket, doc_id) AS rn
        FROM b
    )
    SELECT doc_id, lang, bucket FROM r WHERE rn <= {_Q15}
    """,
)
def t15_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    b = docs.select(
        "doc_id", "lang", F.expr(_split_bucket_sql("STRING")).alias("bucket")
    )
    return quota_sample(b, _Q15)


# --------------------------------------------------------------------------
# t17 — median-quality corpus filter: per language, compute the exact median
# of the t03 quality score by rank (positions ⌊(n+1)/2⌋ and ⌊n/2⌋+1), then
# count how many docs clear it — the "keep the better half" curation step.
# The oracle gate forces the exact rank formulation (one per-lang sort); at
# 100 TB the same query swaps the window for percentile_approx / a t-digest
# sketch with no other plan change. Scores are coalesced to -1.0 before
# ranking: Spark sorts NULLs first, DuckDB last, so NULL scores (docs with
# zero ASCII tokens) would silently permute ranks between engines.
# --------------------------------------------------------------------------
def _quality_q(text_col: str = "text"):
    """The t17/t29 per-doc quality score as a single Column over the raw
    text — a pure per-row expression, so consumers that already carry the
    text can attach it without the join-back _quality_scored's feats
    detour implies (t30 uses this; §2.4)."""
    n_chars = F.length(text_col)
    n_tokens = F.size(F.regexp_extract_all(text_col, F.lit("[a-z0-9]+"), 0))
    stop_hits = F.size(F.regexp_extract_all(text_col, F.lit(_STOP_RE), 0))
    alpha_chars = F.size(F.regexp_extract_all(text_col, F.lit("[a-z]"), 0))
    score = (
        0.5 * (stop_hits * 1.0 / F.nullif(n_tokens, F.lit(0)))
        + 0.3 * (F.least(n_tokens, F.lit(100)) / 100.0)
        + 0.2 * (alpha_chars * 1.0 / F.nullif(n_chars, F.lit(0)))
    )
    return F.coalesce(rnd(score, 4), F.lit(-1.0))


def _quality_scored(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, q): the t17/t29 shared per-doc quality score."""
    return docs.select("doc_id", "lang", _quality_q("text").alias("q"))


@query(
    "t17_quality_median_filter",
    oracle=f"""
    WITH feats AS (
        SELECT doc_id, lang,
               length(text) AS n_chars,
               len(regexp_extract_all(text, '[a-z0-9]+'))    AS n_tokens,
               len(regexp_extract_all(text, '{_STOP_RE}'))   AS stop_hits,
               len(regexp_extract_all(text, '[a-z]'))        AS alpha_chars
        FROM documents
    ),
    scored AS (
        SELECT doc_id, lang,
               coalesce({oracle_rnd(
                   "0.5 * (stop_hits * 1.0 / nullif(n_tokens, 0))"
                   " + 0.3 * (least(n_tokens, 100) / 100.0)"
                   " + 0.2 * (alpha_chars * 1.0 / nullif(n_chars, 0))", 4)},
                   -1.0) AS q
        FROM feats
    ),
    r AS (
        SELECT lang, q,
               row_number() OVER (PARTITION BY lang ORDER BY q, doc_id) AS rn,
               count(*)    OVER (PARTITION BY lang)                     AS n
        FROM scored
    ),
    med AS (
        SELECT lang, avg(q) AS med FROM r
        WHERE rn = CAST(floor((n + 1) / 2.0) AS BIGINT)
           OR rn = CAST(floor(n / 2.0) AS BIGINT) + 1
        GROUP BY lang
    )
    SELECT s.lang,
           count(*)                                        AS n_docs,
           CAST(sum(CASE WHEN s.q > m.med THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           {oracle_rnd('max(m.med)', 4)}                   AS median_score
    FROM scored s JOIN med m USING (lang)
    GROUP BY s.lang
    """,
)
def t17_quality_median_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    scored = _quality_scored(docs)
    wr = W.partitionBy("lang").orderBy("q", "doc_id")
    wn = W.partitionBy("lang")
    r = scored.select(
        "lang",
        "q",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    med = (
        r.filter(
            (F.col("rn") == F.floor((F.col("n") + 1) / 2.0).cast("bigint"))
            | (F.col("rn") == F.floor(F.col("n") / 2.0).cast("bigint") + 1)
        )
        .groupBy("lang")
        .agg(F.avg("q").alias("med"))
    )
    return (
        scored.join(F.broadcast(med), "lang")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("q") > F.col("med"), 1).otherwise(0)).alias("n_kept"),
            rnd(F.max("med"), 4).alias("median_score"),
        )
    )


# --------------------------------------------------------------------------
# t29 — quality-score quantile sketch per lang: the percentile_approx form
# SCALE.md prescribes as t17's 100 TB swap. The Greenwald-Khanna sketch is
# single-pass with bounded per-group state and map-side partial merging —
# contrast t17's exact rank, which needs a per-lang row_number window over
# every scored row. p25/p50/p75 come from ONE sketch per group (one pass);
# the exact interpolated median rides along so the output exhibits the gap.
#
# Rows-only gate: sketch outputs are engine-specific (DuckDB's
# approx_quantile is t-digest, Spark's is GK), so no cross-engine oracle;
# the GK rank contract — the returned element's true rank is within
# n/accuracy of the target rank — is asserted by
# tests/test_properties.py::test_quantile_sketch_rank_contract.
# --------------------------------------------------------------------------
T29_ACCURACY = 10_000


@query("t29_quality_quantile_sketch", oracle=None)
def t29_quality_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    scored = _quality_scored(docs)
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.percentile_approx("q", 0.25, T29_ACCURACY).alias("approx_p25"),
        F.percentile_approx("q", 0.5, T29_ACCURACY).alias("approx_p50"),
        F.percentile_approx("q", 0.75, T29_ACCURACY).alias("approx_p75"),
        rnd(F.expr("percentile(q, 0.5)"), 4).alias("exact_p50"),
    )


# --------------------------------------------------------------------------
# t16 — source-mixture reweighting: per-source char mass, its share of the
# corpus, and the multiplicative sampling weight that would equalize the
# mixture across sources (weight = uniform_share / actual_share). One
# groupBy shuffle to ~|sources| rows, then window totals over that tiny
# aggregate — the 100 TB of text is touched exactly once. This is the
# "compute the data-mixture table" step of a training-data pipeline.
# --------------------------------------------------------------------------
@query(
    "t16_mixture_weights",
    oracle=f"""
    WITH s AS (
        SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS char_mass
        FROM documents GROUP BY source
    ), t AS (
        SELECT CAST(sum(char_mass) AS BIGINT) AS total, count(*) AS n_sources FROM s
    )
    SELECT s.source, s.n_docs, s.char_mass,
           {oracle_rnd('s.char_mass / t.total', 6)} AS actual_share,
           {oracle_rnd('t.total / (t.n_sources * s.char_mass)', 6)} AS weight
    FROM s, t
    """,
)
def t16_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    s = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("char_mass"),
    )
    wall = W.partitionBy()  # |sources| rows — single tiny partition
    total = F.sum("char_mass").over(wall)
    n_sources = F.count(F.lit(1)).over(wall)
    return s.select(
        "source",
        "n_docs",
        "char_mass",
        rnd(F.col("char_mass") / total, 6).alias("actual_share"),
        rnd(total / (n_sources * F.col("char_mass")), 6).alias("weight"),
    )


@query(
    "t14_blocked_edit_distance",
    oracle=f"""
    WITH k AS (
        SELECT doc_id, lang, source,
               {_ASCII_KEY_SQL.format(col='text')} AS key
        FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang AS lang,
           levenshtein(a.key, b.key) AS edit_dist
    FROM k a JOIN k b
      ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
    ORDER BY edit_dist ASC, doc_a ASC, doc_b ASC
    LIMIT 50
    """,
)
def t14_blocked_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    key = F.substring(
        F.regexp_replace("text", "[^ -~]", ""), 1, 80
    )
    k = docs.select("doc_id", "lang", "source", key.alias("key"))
    # block sizes are bounded (~corpus / |lang x source|); spread blocks
    # across the cluster so the pair join parallelizes per block
    a = k.repartition(spark.sparkContext.defaultParallelism, "lang", "source").alias("a")
    b = k.alias("b")
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.lang").alias("lang"),
            F.levenshtein(F.col("a.key"), F.col("b.key")).alias("edit_dist"),
        )
        .orderBy(F.asc("edit_dist"), F.asc("doc_a"), F.asc("doc_b"))
        .limit(50)
    )


# --------------------------------------------------------------------------
# t18 — distinct-token cardinalities per (lang, source), exact form. The
# exact count must shuffle every distinct (group, token) pair — this is the
# hash-gated cross-engine-checkable half of the cardinality pair; the HLL
# sketch that replaces it at 100 TB lives in t28 (engine-specific estimate,
# property-tested instead of oracle-hashed).
# --------------------------------------------------------------------------
@query(
    "t18_distinct_token_counts",
    oracle="""
    SELECT lang, source,
           CAST(count(DISTINCT tok) AS BIGINT) AS exact_distinct_tokens,
           CAST(count(*)            AS BIGINT) AS n_tokens
    FROM (
        SELECT lang, source, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS tok
        FROM documents
    )
    GROUP BY lang, source
    """,
)
def t18_distinct_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "lang",
        "source",
        F.explode(F.regexp_extract_all("text", F.lit("[a-z0-9]+"), 0)).alias("tok"),
    )
    return toks.groupBy("lang", "source").agg(
        F.countDistinct("tok").alias("exact_distinct_tokens"),
        F.count(F.lit(1)).alias("n_tokens"),
    )


# --------------------------------------------------------------------------
# t28 — HLL approximate distinct-token counts per (lang, source): the
# sketch path SCALE.md prescribes for dashboard-grade cardinalities at
# 100 TB. approx_count_distinct is a single-pass HyperLogLog++ with fixed
# (KB-sized) state per group and full map-side partial merging — contrast
# t18's exact form, which must shuffle every distinct (group, token) pair.
# Exact counts ride along so the output itself exhibits the error bound.
#
# Rows-only gate: HLL estimates are engine-specific (DuckDB's approx HLL
# differs), so there is no cross-engine oracle; the error contract
# |approx − exact| / exact ≤ 5% (rsd=0.02, well inside) is asserted by
# tests/test_properties.py::test_hll_distinct_within_error_bound.
# --------------------------------------------------------------------------
@query("t28_hll_distinct_tokens", oracle=None)
def t28_hll_distinct_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "lang",
        "source",
        F.explode(F.regexp_extract_all("text", F.lit("[a-z0-9]+"), 0)).alias("tok"),
    )
    return toks.groupBy("lang", "source").agg(
        F.approx_count_distinct("tok", rsd=0.02).alias("approx_distinct_tokens"),
        F.countDistinct("tok").alias("exact_distinct_tokens"),
        F.count(F.lit(1)).alias("n_tokens"),
    )


# --------------------------------------------------------------------------
# t19 — intra-document repetition (the Gopher-style quality signal): the
# fraction of word trigrams that are repeats within the same document.
# Entirely per-row array expressions — trigram construction, distinct, and
# the ratio all happen inside whole-stage codegen with NO shuffle and NO
# explode; the scan is the only cost, at any corpus size.
# --------------------------------------------------------------------------
@query(
    "t19_intradoc_repetition",
    oracle=f"""
    WITH tri AS (
        SELECT doc_id,
               list_transform(
                   range(len(string_split_regex(trim(text), '\\s+')) - 2),
                   i -> concat_ws(' ',
                        string_split_regex(trim(text), '\\s+')[i+1],
                        string_split_regex(trim(text), '\\s+')[i+2],
                        string_split_regex(trim(text), '\\s+')[i+3])
               ) AS t
        FROM documents
        WHERE len(string_split_regex(trim(text), '\\s+')) >= 3
    )
    SELECT doc_id,
           len(t)                AS n_shingles,
           len(list_distinct(t)) AS n_distinct,
           {oracle_rnd('(len(t) - len(list_distinct(t))) * 1.0 / len(t)', 4)} AS dup_fraction
    FROM tri
    """,
)
def t19_intradoc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    # tokenization lands in its OWN projection so the lambda below indexes an
    # attribute, not the split() expression — split referenced inside a
    # higher-order function body would re-run the regex once per element
    # (measured 14× slower), and CollapseProject leaves multi-referenced
    # non-trivial aliases un-inlined, which keeps it one split per row
    toked = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("tk")
    )
    tk = F.col("tk")
    tri = F.transform(
        F.sequence(F.lit(0), F.size(tk) - 3),
        lambda i: F.concat_ws(
            " ", F.element_at(tk, i + 1), F.element_at(tk, i + 2), F.element_at(tk, i + 3)
        ),
    )
    out = (
        toked.filter(F.size(tk) >= 3)
        .select("doc_id", tri.alias("t"))
        .select(
            "doc_id",
            F.size("t").alias("n_shingles"),
            F.size(F.array_distinct("t")).alias("n_distinct"),
        )
    )
    return out.select(
        "doc_id",
        "n_shingles",
        "n_distinct",
        rnd(
            (F.col("n_shingles") - F.col("n_distinct")) * 1.0 / F.col("n_shingles"), 4
        ).alias("dup_fraction"),
    )


# --------------------------------------------------------------------------
# t20 — benchmark decontamination: candidate documents sharing word 5-grams
# with a held-out benchmark set (source = 'src0' stands in for the eval
# corpus). The benchmark's distinct shingle set is SMALL at any corpus scale
# (evals are thousands of docs, not billions) — so it broadcasts, and the
# overlap check is a map-side hash-join over the candidates: no shuffle of
# the big side until the tiny per-doc aggregation. The standard pipeline
# step before training-set finalization.
# --------------------------------------------------------------------------
@query(
    "t20_benchmark_contamination",
    oracle=f"""
    WITH bench AS (
        SELECT DISTINCT unnest({D.oracle_shingles('text', 5)}) AS shingle
        FROM documents WHERE source = 'src0'
    ),
    cand AS (
        SELECT DISTINCT doc_id, unnest({D.oracle_shingles('text', 5)}) AS shingle
        FROM documents WHERE source <> 'src0'
    )
    SELECT c.doc_id,
           count(*)          AS n_shared_shingles,
           count(*) >= 3     AS contaminated
    FROM cand c JOIN bench b ON c.shingle = b.shingle
    GROUP BY 1
    """,
)
def t20_benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    bench = (
        D.exploded_shingles(docs.filter(F.col("source") == "src0"), "doc_id", "text", 5)
        .select("shingle")
        .distinct()
    )
    cand = D.exploded_shingles(
        docs.filter(F.col("source") != "src0"), "doc_id", "text", 5
    )
    return (
        cand.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shared_shingles"),
            (F.count(F.lit(1)) >= 3).alias("contaminated"),
        )
    )


# --------------------------------------------------------------------------
# t21 — cross-document span duplication profile: for every document, the
# fraction of its distinct word 8-gram spans that occur in at least one
# OTHER document (the corpus-level duplication signal RefinedWeb/Gopher-
# style curation thresholds on, distinct from t19's intra-doc repetition
# and t20's fixed benchmark overlap). One pass: exploded distinct spans →
# per-span document frequency as a window count over the span exchange →
# per-doc re-aggregation. No join-back (the window reuses the one shuffle
# by span), no O(n²) pairs — work is linear in corpus spans, the same
# inverted-index shape as t05, so it survives any corpus size; a span
# hot enough to skew its window partition is itself a dup signal and AQE
# skew handling covers the residue. Docs shorter than 8 tokens have no
# spans and are absent, matching the oracle.
# --------------------------------------------------------------------------
SPAN_N = 8


@query(
    "t21_span_dup_fraction",
    oracle=f"""
    WITH sh AS (
        SELECT DISTINCT doc_id, unnest({D.oracle_shingles('text', SPAN_N)}) AS shingle
        FROM documents
    ),
    fl AS (
        SELECT doc_id,
               CASE WHEN count(*) OVER (PARTITION BY shingle) > 1 THEN 1 ELSE 0 END AS dup
        FROM sh
    )
    SELECT doc_id,
           count(*)  AS n_spans,
           CAST(sum(dup) AS BIGINT) AS n_dup_spans,
           {oracle_rnd('sum(dup) * 1.0 / count(*)', 4)} AS dup_fraction
    FROM fl
    GROUP BY doc_id
    """,
)
def t21_span_dup_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    sh = D.exploded_shingles(docs, "doc_id", "text", SPAN_N)
    dup = (
        F.count(F.lit(1)).over(W.partitionBy("shingle")) > 1
    ).cast("int")
    flagged = sh.select("doc_id", dup.alias("dup"))
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("dup").alias("n_dup_spans"),
        rnd(F.sum("dup") * 1.0 / F.count(F.lit(1)), 4).alias("dup_fraction"),
    )


# --------------------------------------------------------------------------
# t22 — token-stream packing: GPT-style pretraining batch construction.
# Documents are hash-sharded (same md5-nibble trick as t13 — deterministic,
# engine- and cluster-size-independent), concatenated per shard in doc_id
# order, and the resulting token stream is cut into fixed 256-token chunks.
# Each doc reports the chunk span it lands in and whether it straddles a
# chunk boundary (the packing-attrition signal: straddling docs get split
# attention contexts). Packing is inherently sequential WITHIN a stream —
# the scalable form is exactly this: shard first (parallel), then a
# per-shard running cumsum (one window, bounded state). No driver loop, no
# collect; at 100 TB the shard count scales with the cluster and each
# shard's window is a single ordered pass. The same cumsum arithmetic
# yields offsets for writing actual packed token files.
# --------------------------------------------------------------------------
PACK_CHUNK = 256
PACK_SHARDS = 8


def _shard_sql(str_t: str) -> str:
    return f"({_NIB.format(str_t=str_t, pos=1, col='doc_id')} % {PACK_SHARDS})"


@query(
    "t22_token_stream_packing",
    oracle=f"""
    WITH sized AS (
        SELECT doc_id, {_shard_sql('VARCHAR')} AS shard,
               len(regexp_extract_all(text, '[a-z0-9]+')) AS n_tokens
        FROM documents
    ),
    packed AS (
        SELECT doc_id, shard, n_tokens,
               sum(n_tokens) OVER (
                   PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum
        FROM sized
    )
    SELECT doc_id, shard, n_tokens,
           CAST(floor((cum - n_tokens) * 1.0 / {PACK_CHUNK}) AS BIGINT) AS first_chunk,
           CAST(greatest(floor((cum - n_tokens) * 1.0 / {PACK_CHUNK}),
                         floor((cum - 1) * 1.0 / {PACK_CHUNK})) AS BIGINT) AS last_chunk,
           (floor((cum - n_tokens) * 1.0 / {PACK_CHUNK})
              < greatest(floor((cum - n_tokens) * 1.0 / {PACK_CHUNK}),
                         floor((cum - 1) * 1.0 / {PACK_CHUNK}))) AS straddles
    FROM packed
    """,
)
def t22_token_stream_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    sized = docs.select(
        "doc_id",
        F.expr(_shard_sql("STRING")).alias("shard"),
        F.size(F.regexp_extract_all("text", F.lit("[a-z0-9]+"), 0)).alias("n_tokens"),
    )
    w = (
        W.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    packed = sized.withColumn("cum", F.sum("n_tokens").over(w))
    first = F.floor((F.col("cum") - F.col("n_tokens")) * 1.0 / PACK_CHUNK)
    last = F.greatest(first, F.floor((F.col("cum") - 1) * 1.0 / PACK_CHUNK))
    return packed.select(
        "doc_id",
        "shard",
        "n_tokens",
        first.alias("first_chunk"),
        last.alias("last_chunk"),
        (first < last).alias("straddles"),
    )


# --------------------------------------------------------------------------
# t23 — curated-corpus endpoint: the dedup pipeline's OUTPUT, not its
# intermediate graph. Near-dup components (t11's spine, shared helper) pick
# one canonical keeper per cluster (the min doc_id = its component id);
# every other member is dropped. Reported per (lang, source) — the numbers
# a curation run actually ships: docs in, docs kept, dups dropped, kept
# char mass, retention ratio. The keep decision is a per-row predicate on
# the component join (doc_id = component_id), not a second anti-join pass —
# at 100 TB the same predicate partitions the write into kept/quarantine
# outputs in one pass.
# --------------------------------------------------------------------------
@query(
    "t23_curated_corpus",
    oracle=f"""
    WITH RECURSIVE sh AS (
        SELECT DISTINCT doc_id, unnest({D.oracle_shingles('text')}) AS shingle
        FROM documents
    ),
    counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    edges0 AS (
        SELECT p.doc_a AS src, p.doc_b AS dst
        FROM pairs p
        JOIN counts ca ON p.doc_a = ca.doc_id
        JOIN counts cb ON p.doc_b = cb.doc_id
        WHERE 2 * p.n_common >= ca.n + cb.n - p.n_common
    ),
    edges AS (
        SELECT src, dst FROM edges0
        UNION ALL SELECT dst AS src, src AS dst FROM edges0
    ),
    reach AS (
        SELECT doc_id, doc_id AS comp FROM documents
        UNION
        SELECT e.dst AS doc_id, r.comp
        FROM reach r JOIN edges e ON e.src = r.doc_id
    ),
    comp AS (SELECT doc_id, min(comp) AS component_id FROM reach GROUP BY 1)
    SELECT d.lang, d.source,
           count(*)                                        AS n_docs,
           CAST(sum(CASE WHEN d.doc_id = c.component_id THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN d.doc_id = c.component_id THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
           CAST(sum(CASE WHEN d.doc_id = c.component_id
                    THEN length(d.text) ELSE 0 END) AS BIGINT) AS kept_chars,
           {oracle_rnd(
               'sum(CASE WHEN d.doc_id = c.component_id THEN 1 ELSE 0 END)'
               ' * 1.0 / count(*)', 4)}                    AS retention
    FROM documents d JOIN comp c USING (doc_id)
    GROUP BY 1, 2
    """,
)
def t23_curated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    comp = _dup_components(docs)
    kept = F.when(F.col("doc_id") == F.col("component_id"), 1).otherwise(0)
    joined = docs.select("doc_id", "lang", "source", F.length("text").alias("n_chars")).join(
        comp, "doc_id"
    )
    return joined.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(kept).alias("n_kept"),
        F.sum(1 - kept).alias("n_dropped"),
        F.sum(kept * F.col("n_chars")).alias("kept_chars"),
        rnd(F.sum(kept) * 1.0 / F.count(F.lit(1)), 4).alias("retention"),
    )


# --------------------------------------------------------------------------
# t30 — END-TO-END curation pipeline (the Dolma/RefinedWeb shape): one
# declarative DataFrame chain running the full corpus-curation sequence the
# individual t-queries prove piecewise —
#   exact dedup (normalized-md5 keeper, t01) →
#   language-ID keep (t04) →
#   quality-score floor (t03/t17 score, q ≥ CURATE_Q_MIN) →
#   near-dup cluster keeper (trigram-Jaccard components, t11's spine) →
#   benchmark decontamination (5-gram overlap vs the src0 set, t20)
# emitting the surviving documents. Everything is one lazy plan: Catalyst
# pushes the source filter into the scan, the per-stage predicates compose,
# and the only shuffles are the ones the member stages already pay (no
# extra materialization between stages). Hash-gated end to end against a
# single DuckDB CTE chain — the strongest correctness statement in the
# t-series: every stage's semantics must line up for the final row set to
# hash-match.
# --------------------------------------------------------------------------
CURATE_Q_MIN = 0.32


def _curation_oracle() -> str:
    hits = ",\n               ".join(
        f"len(regexp_extract_all(text, '{pat}')) AS c_{lang}"
        for lang, pat in _LANG_MARKERS.items()
    )
    m = "greatest(c_en, c_de, c_es, c_fr)"
    pred = (
        f"CASE WHEN {m} = 0 THEN 'unknown' "
        "WHEN c_en = " + m + " THEN 'en' "
        "WHEN c_de = " + m + " THEN 'de' "
        "WHEN c_es = " + m + " THEN 'es' "
        "ELSE 'fr' END"
    )
    q = oracle_rnd(
        "0.5 * (stop_hits * 1.0 / nullif(n_tokens, 0))"
        " + 0.3 * (least(n_tokens, 100) / 100.0)"
        " + 0.2 * (alpha_chars * 1.0 / nullif(n_chars, 0))",
        4,
    )
    return f"""
    WITH RECURSIVE raw AS (
        SELECT doc_id, lang, source, text FROM documents WHERE source <> 'src0'
    ),
    fp AS (
        SELECT *, md5({D.NORMALIZE_SQL.format(col='text')}) AS fingerprint FROM raw
    ),
    s1 AS (
        SELECT * FROM (
            SELECT *, min(doc_id) OVER (PARTITION BY fingerprint) AS keep_id FROM fp
        ) WHERE doc_id = keep_id
    ),
    lm AS (
        SELECT *, {hits} FROM s1
    ),
    s2 AS (
        SELECT * FROM (SELECT *, {pred} AS predicted_lang FROM lm)
        WHERE predicted_lang <> 'unknown'
    ),
    feats AS (
        SELECT doc_id,
               length(text) AS n_chars,
               len(regexp_extract_all(text, '[a-z0-9]+'))  AS n_tokens,
               len(regexp_extract_all(text, '{_STOP_RE}')) AS stop_hits,
               len(regexp_extract_all(text, '[a-z]'))      AS alpha_chars
        FROM s2
    ),
    s3 AS (
        SELECT s2.*, sc.q
        FROM s2 JOIN (
            SELECT doc_id, coalesce({q}, -1.0) AS q FROM feats
        ) sc USING (doc_id)
        WHERE sc.q >= {CURATE_Q_MIN}
    ),
    sh AS (
        SELECT DISTINCT doc_id, unnest({D.oracle_shingles('text')}) AS shingle
        FROM s3
    ),
    counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    edges0 AS (
        SELECT p.doc_a AS src, p.doc_b AS dst
        FROM pairs p
        JOIN counts ca ON p.doc_a = ca.doc_id
        JOIN counts cb ON p.doc_b = cb.doc_id
        WHERE 2 * p.n_common >= ca.n + cb.n - p.n_common
    ),
    edges AS (
        SELECT src, dst FROM edges0
        UNION ALL SELECT dst AS src, src AS dst FROM edges0
    ),
    reach AS (
        SELECT doc_id, doc_id AS comp FROM s3
        UNION
        SELECT e.dst AS doc_id, r.comp
        FROM reach r JOIN edges e ON e.src = r.doc_id
    ),
    comp AS (SELECT doc_id, min(comp) AS component_id FROM reach GROUP BY 1),
    s4 AS (
        SELECT s3.* FROM s3 JOIN comp USING (doc_id)
        WHERE doc_id = comp.component_id
    ),
    bench AS (
        SELECT DISTINCT unnest({D.oracle_shingles('text', 5)}) AS shingle
        FROM documents WHERE source = 'src0'
    ),
    cand5 AS (
        SELECT DISTINCT doc_id, unnest({D.oracle_shingles('text', 5)}) AS shingle
        FROM s4
    ),
    cont AS (
        SELECT c.doc_id FROM cand5 c JOIN bench b ON c.shingle = b.shingle
        GROUP BY 1 HAVING count(*) >= 3
    )
    SELECT s.doc_id, s.lang, s.predicted_lang, s.source, s.q
    FROM s4 s LEFT JOIN cont ON s.doc_id = cont.doc_id
    WHERE cont.doc_id IS NULL
    """


@query("t30_curation_pipeline", oracle=_curation_oracle())
def t30_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    cand = docs.filter(F.col("source") != "src0")
    # 1. exact dedup: min-doc_id keeper per normalized fingerprint
    fp = cand.withColumn("fingerprint", F.md5(D.normalize_text("text")))
    s1 = (
        fp.withColumn(
            "keep_id", F.min("doc_id").over(W.partitionBy("fingerprint"))
        )
        .filter(F.col("doc_id") == F.col("keep_id"))
        .drop("fingerprint", "keep_id")
    )
    # 2. language-ID keep (t04's marker-count argmax)
    s2 = s1.select(
        "*",
        *[
            F.size(F.regexp_extract_all("text", F.lit(pat), 0)).alias(f"c_{lang}")
            for lang, pat in _LANG_MARKERS.items()
        ],
    )
    m = F.greatest("c_en", "c_de", "c_es", "c_fr")
    pred = (
        F.when(m == 0, "unknown")
        .when(F.col("c_en") == m, "en")
        .when(F.col("c_de") == m, "de")
        .when(F.col("c_es") == m, "es")
        .otherwise("fr")
    )
    s2 = (
        s2.withColumn("predicted_lang", pred)
        .filter(F.col("predicted_lang") != "unknown")
        .drop("c_en", "c_de", "c_es", "c_fr")
    )
    # 3. quality floor (t17's score). The oracle states this as a self-join
    #    of s2 against its own per-doc score, but doc_id is unique in s2 and
    #    the score is a pure per-row function of text — so the join is a
    #    1:1 column attach. Computing q inline drops the join AND the second
    #    execution of s2's window + regex subtree it forced (§2.4).
    s3 = s2.withColumn("q", _quality_q("text")).filter(
        F.col("q") >= CURATE_Q_MIN
    )
    # s3 feeds FOUR executions across the pipeline (the component spine's
    # shingle stream and node set at build, then both sides of the
    # decontamination in the output action) — materialize it once.
    s3 = s3.localCheckpoint(eager=True)
    # 4. near-dup cluster keeper: component_id is the min member label, so
    #    keeper ≡ doc_id == component_id (t23's convention)
    comp = _dup_components(s3)
    s4 = s3.join(comp, "doc_id").filter(
        F.col("doc_id") == F.col("component_id")
    )
    # s4's own fan-out (decontamination probe + final anti-join) rides the
    # s3 checkpoint above — each consumer re-runs only the cheap comp join.
    # A separate s4 checkpoint and a persist() both showed no further win
    # over the materialized s3.
    # 5. decontamination vs the src0 benchmark 5-gram shingle set (t20)
    bench = (
        D.exploded_shingles(
            docs.filter(F.col("source") == "src0"), "doc_id", "text", 5
        )
        .select("shingle")
        .distinct()
    )
    contaminated = (
        D.exploded_shingles(s4, "doc_id", "text", 5)
        .join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 3)
        .select("doc_id")
    )
    return s4.join(contaminated, "doc_id", "left_anti").select(
        "doc_id", "lang", "predicted_lang", "source", "q"
    )


# --------------------------------------------------------------------------
# t31 — incremental near-dup ≡ batch near-dup, hash-gated: the corpus is
# processed in TWO increments through operators/dedup.incremental_neardup
# (even doc_ids first, then odd — each increment joins only its new docs'
# shingles against the persisted inverted index), and the union of the two
# increments' edge sets must hash-match the one-shot batch SQL. This gates
# the property the daily-growth path stands on: growing the corpus never
# re-pairs history, yet the accumulated edges equal what a full recompute
# would produce. The index lives in a fresh temp dir per call (removed
# before returning), so the query is pure and replays are deterministic.
# --------------------------------------------------------------------------
@query(
    "t31_incremental_vs_batch_neardup",
    oracle=f"""
    WITH sh AS (
        SELECT DISTINCT doc_id, unnest({D.oracle_shingles('text')}) AS shingle
        FROM documents
    ),
    counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT p.doc_a, p.doc_b, p.n_common,
           ca.n AS n_a, cb.n AS n_b
    FROM pairs p
    JOIN counts ca ON p.doc_a = ca.doc_id
    JOIN counts cb ON p.doc_b = cb.doc_id
    WHERE 2 * p.n_common >= ca.n + cb.n - p.n_common
    """,
)
def t31_incremental_vs_batch_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from ..operators.dedup import incremental_neardup

    docs = _docs(spark, sf_dir)
    index_dir = mkscratch("neardup_idx_")
    try:
        e1 = incremental_neardup(
            spark, docs.filter(F.col("doc_id") % 2 == 0), index_dir
        )
        e2 = incremental_neardup(
            spark, docs.filter(F.col("doc_id") % 2 == 1), index_dir
        )
        # both edge frames are localCheckpointed (materialized) inside the
        # operator, so the index directory is no longer needed
        return e1.unionByName(e2)
    finally:
        shutil.rmtree(index_dir, ignore_errors=True)


# --------------------------------------------------------------------------
# t32 — cluster-aware train/valid/test split: t13's md5-bucket split keyed on
# the near-dup COMPONENT id instead of the doc id, so every member of a dup
# cluster lands in the same split. Splitting doc-wise (t13) leaks near-
# duplicate text across the train/test boundary — the contamination mode the
# dedup literature warns about (near-dups of eval docs inflating scores);
# splitting cluster-wise closes it by construction: split is a pure function
# of component_id. Plan cost is exactly t11's (the CC spine) plus per-row
# expressions — the bucket/split assignment adds NO shuffle, and the
# assignment is stable under corpus growth for unchanged clusters (md5 of
# the min-doc-id label, no RNG). Oracle rides the same recursive-CTE walk
# as t11 and the same VARCHAR-cast md5 nibbles as t13.
# --------------------------------------------------------------------------
@query(
    "t32_cluster_split",
    oracle=f"""{_ORACLE_COMP_CTES},
    b AS (
        SELECT doc_id, component_id,
               {_split_bucket_sql('VARCHAR', 'component_id')} AS bucket
        FROM comp
    )
    SELECT doc_id, component_id, bucket,
           CASE WHEN bucket < 204 THEN 'train'
                WHEN bucket < 230 THEN 'valid'
                ELSE 'test' END AS split
    FROM b
    """,
)
def t32_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    comp = _dup_components(docs)
    b = comp.select(
        "doc_id",
        "component_id",
        F.expr(_split_bucket_sql("STRING", "component_id")).alias("bucket"),
    )
    split = (
        F.when(F.col("bucket") < 204, "train")
        .when(F.col("bucket") < 230, "valid")
        .otherwise("test")
    )
    return b.select("doc_id", "component_id", "bucket", split.alias("split"))


# --------------------------------------------------------------------------
# t33 — exact per-language heavy hitters: top-10 tokens by frequency with a
# deterministic tiebreak. The groupBy collapses the corpus-sized token
# stream map-side into a VOCAB-sized count table; the per-lang row_number
# then sorts vocab rows, not corpus rows — at 100 TB vocabulary is millions
# of rows where the token stream is trillions, so the window is the cheap
# stage by construction. This is the exact twin of the count-min sketch
# operator (operators/sketch.py — the fixed-memory streaming form whose
# ≥-true / ≤-true+εN error contract is property-tested against these exact
# counts).
# --------------------------------------------------------------------------
HH_TOPK = 10


@query(
    "t33_heavy_hitters",
    oracle=f"""
    WITH tok AS (
        SELECT lang, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS token
        FROM documents
    ),
    counts AS (SELECT lang, token, count(*) AS n FROM tok GROUP BY 1, 2)
    SELECT lang, token, n, rk FROM (
        SELECT *, row_number() OVER (
            PARTITION BY lang ORDER BY n DESC, token ASC
        ) AS rk
        FROM counts
    ) WHERE rk <= {HH_TOPK}
    """,
)
def t33_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    tok = docs.select(
        "lang",
        F.explode(F.regexp_extract_all("text", F.lit("[a-z0-9]+"), 0)).alias("token"),
    )
    counts = tok.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("n"))
    return top_k(counts, ["lang"], [F.desc("n"), F.asc("token")], HH_TOPK, "rk")


# --------------------------------------------------------------------------
# t24 — fixed-stride char chunking with overlap: the engine's analog of the
# reference chatbot's RecursiveChunking (chunking_strategies.py:123-147 —
# fixed chunk_size/chunk_overlap char windows). One row per chunk; windows
# start every (size - overlap) chars. Pure per-row JVM expressions
# (sequence → posexplode → substring), so the explode parallelizes with the
# scan — no per-doc Python, no shuffle until a downstream agg. Chunks feed
# t22's token-stream packing the way the reference's chunks feed its
# vector store.
# --------------------------------------------------------------------------
CHUNK_SIZE = 600
CHUNK_OVERLAP = 200
_STRIDE = CHUNK_SIZE - CHUNK_OVERLAP


@query(
    "t24_fixed_chunks",
    oracle=f"""
    WITH starts AS (
        SELECT doc_id, text,
               unnest(generate_series(1, greatest(length(text), 1), {_STRIDE})) AS start
        FROM documents
    )
    SELECT doc_id,
           CAST((start - 1) // {_STRIDE} AS INT)          AS chunk_idx,
           CAST(start AS INT)                             AS chunk_start,
           CAST(length(substr(text, CAST(start AS INT), {CHUNK_SIZE})) AS INT) AS chunk_len,
           md5(substr(text, CAST(start AS INT), {CHUNK_SIZE}))               AS chunk_md5
    FROM starts
    """,
)
def t24_fixed_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    starts = F.sequence(
        F.lit(1), F.greatest(F.length("text"), F.lit(1)), F.lit(_STRIDE)
    )
    exploded = docs.select(
        "doc_id", "text", F.posexplode(starts).alias("chunk_idx", "chunk_start")
    )
    chunk = F.col("text").substr(F.col("chunk_start"), F.lit(CHUNK_SIZE))
    return exploded.select(
        "doc_id",
        "chunk_idx",
        "chunk_start",
        F.length(chunk).alias("chunk_len"),
        F.md5(chunk).alias("chunk_md5"),
    )


# --------------------------------------------------------------------------
# t25 — sentence-boundary chunking: the engine's analog of the reference's
# SentenceChunking (chunking_strategies.py:23-70 — sentence split on
# `(?<=[.!?])\s+`, greedy ≤chunk_size packing). The reference's greedy fold
# with overlap carry is inherently sequential per document; the distributed
# formulation here assigns each sentence to chunk floor(cum_chars_before /
# chunk_size) — sentence-aligned chunks of ~chunk_size chars computed with
# one posexplode + one window-sum + one groupBy, no per-doc Python. RE2
# (DuckDB) has no lookbehind, so BOTH sides mark boundaries by rewriting
# `([.!?])\s+` to punctuation + SOH (chr 1) and splitting on SOH —
# identical sentence streams by construction.
# The fixture corpus is punctuation-free (synthetic token streams), which
# would make every document a single sentence; both sides therefore first
# inject a deterministic period after every 12th word, so multi-sentence
# packing is genuinely exercised and hash-gated.
# --------------------------------------------------------------------------
SENT_CHUNK_SIZE = 200


@query(
    "t25_sentence_chunks",
    oracle=f"""
    WITH punctuated AS (
        SELECT doc_id,
               regexp_replace(text, '((?:[a-z0-9]+ ){{11}}[a-z0-9]+) ', '\\1. ', 'g') AS text
        FROM documents
    ),
    parts AS (
        SELECT doc_id,
               string_split(regexp_replace(text, '([.!?])\\s+', '\\1' || chr(1), 'g'),
                            chr(1)) AS ps
        FROM punctuated
    ),
    sent0 AS (
        -- parallel unnests zip elementwise: (sentence, its 1-based index)
        SELECT doc_id, unnest(ps) AS raw, unnest(range(1, len(ps) + 1)) AS idx
        FROM parts
    ),
    sent AS (
        SELECT doc_id, trim(raw) AS sentence, idx
        FROM sent0 WHERE length(trim(raw)) > 0
    ),
    cum AS (
        SELECT doc_id, sentence, idx,
               coalesce(sum(length(sentence) + 1) OVER (
                   PARTITION BY doc_id ORDER BY idx
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        FROM sent
    )
    SELECT doc_id,
           CAST(cum_before // {SENT_CHUNK_SIZE} AS INT)   AS chunk_id,
           CAST(count(*) AS INT)                          AS n_sentences,
           CAST(sum(length(sentence)) + count(*) - 1 AS INT) AS chunk_chars,
           md5(string_agg(sentence, ' ' ORDER BY idx))    AS chunk_md5
    FROM cum
    GROUP BY doc_id, cum_before // {SENT_CHUNK_SIZE}
    """,
)
def t25_sentence_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the gated form of operators/chunking.sentence_chunks: inject the
    # deterministic punctuation, run the operator, derive the hashable
    # stats from its chunk_text (chunk_chars == len(join ' ') == sum(len)
    # + count - 1 by construction)
    from ..operators import chunking as C

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.regexp_replace("text", r"((?:[a-z0-9]+ ){11}[a-z0-9]+) ", "$1. ").alias(
            "text"
        ),
    )
    chunks = C.sentence_chunks(docs, chunk_size=SENT_CHUNK_SIZE)
    return chunks.select(
        "doc_id",
        F.col("chunk_index").alias("chunk_id"),
        "n_sentences",
        F.length("chunk_text").cast("int").alias("chunk_chars"),
        F.md5("chunk_text").alias("chunk_md5"),
    )


# --------------------------------------------------------------------------
# t26 — the full document-processing pipeline (reference chatbot
# document_processor.py:96-150: extract → preprocess → chunk → metadata) as
# one DataFrame transform over operators/chunking.py. The fixture corpus is
# already clean, so both sides first DIRTY it deterministically (page
# marker + run-on spaces + '...' + charset junk) — the preprocess chain
# (whitespace collapse → charset filter → punct dedupe → marker removal,
# document_processor.py:42-67) is then genuinely exercised and hash-gated,
# as is the chunk metadata (chunk_size / rough token count / total_chunks,
# document_processor.py:69-94).
# --------------------------------------------------------------------------
@query(
    "t26_doc_pipeline",
    oracle=f"""
    WITH dirty AS (
        SELECT doc_id,
               '--- Page 1 ---  ' || text || '  trailing   mess @#$% end...' AS text
        FROM documents
    ),
    cleaned AS (
        SELECT doc_id,
               trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                   text,
                   '\\s+', ' ', 'g'),
                   '[^\\w\\s\\.\\,\\!\\?\\;\\:\\-\\(\\)]', '', 'g'),
                   '\\.{{2,}}', '.', 'g'),
                   '--- Page \\d+ ---', '', 'g')) AS text
        FROM dirty
    ),
    chunks AS (
        SELECT doc_id, text,
               unnest(generate_series(1, greatest(length(text), 1), {_STRIDE})) AS start
        FROM cleaned
        WHERE length(text) > 0
    ),
    rows_ AS (
        SELECT doc_id,
               CAST((start - 1) // {_STRIDE} AS INT) AS chunk_index,
               substr(text, CAST(start AS INT), {CHUNK_SIZE}) AS chunk_text
        FROM chunks
    )
    SELECT doc_id, chunk_index,
           CAST(length(chunk_text) AS INT)                       AS chunk_size,
           CAST(len(regexp_split_to_array(trim(chunk_text), '\\s+')) AS INT) AS chunk_size_tokens,
           CAST(count(*) OVER (PARTITION BY doc_id) AS INT)      AS total_chunks,
           md5(chunk_text)                                       AS chunk_md5
    FROM rows_
    WHERE length(chunk_text) > 0
    """,
)
def t26_doc_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import chunking as C

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.lit("--- Page 1 ---  "),
            F.col("text"),
            F.lit("  trailing   mess @#$% end..."),
        ).alias("text"),
    )
    chunks = C.process_documents(
        docs, strategy="fixed", chunk_size=CHUNK_SIZE, overlap=CHUNK_OVERLAP
    )
    return chunks.select(
        "doc_id",
        "chunk_index",
        "chunk_size",
        "chunk_size_tokens",
        "total_chunks",
        F.md5("chunk_text").alias("chunk_md5"),
    )


# --------------------------------------------------------------------------
# t27 — PII detection + redaction: the corpus-prep scrub pass every
# training-data pipeline runs before release. Emails, dashed phone numbers
# and IPv4 literals are counted and replaced with typed placeholder tokens
# — pure per-row regexp expressions (RE2-safe: no lookarounds), so the
# scrub is a map-only stage that composes with the scan at any scale.
# The fixture corpus contains no PII, so both sides first inject
# deterministic doc_id-derived contact strings into every 3rd document —
# detection, counting, and redaction are then genuinely exercised and
# hash-gated.
# --------------------------------------------------------------------------
_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PHONE_RE = r"\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b"
_IP_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


@query(
    "t27_pii_redaction",
    oracle=f"""
    WITH seeded AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0
                    THEN text || ' contact user' || doc_id ||
                         '@example.com or 555-01' || lpad(CAST(doc_id % 10 AS VARCHAR), 1, '0') ||
                         '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
                         ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1'
                    ELSE text END AS text
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(text, '{_PHONE_RE}')) AS INT) AS n_phones,
           CAST(len(regexp_extract_all(text, '{_IP_RE}')) AS INT)    AS n_ips,
           md5(regexp_replace(regexp_replace(regexp_replace(
               text,
               '{_EMAIL_RE}', '<EMAIL>', 'g'),
               '{_PHONE_RE}', '<PHONE>', 'g'),
               '{_IP_RE}', '<IP>', 'g'))                             AS redacted_md5
    FROM seeded
    """,
)
def t27_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    seeded = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or 555-01"),
                F.lpad((F.col("doc_id") % 10).cast("string"), 1, "0"),
                F.lit("-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                F.lit(" from 10.0."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".1"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), _EMAIL_RE, "<EMAIL>"),
            _PHONE_RE,
            "<PHONE>",
        ),
        _IP_RE,
        "<IP>",
    )
    return seeded.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(_EMAIL_RE), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(_PHONE_RE), 0)).alias("n_phones"),
        F.size(F.regexp_extract_all("text", F.lit(_IP_RE), 0)).alias("n_ips"),
        F.md5(redacted).alias("redacted_md5"),
    )


# --------------------------------------------------------------------------
# t35 — CROSS-document span dedup (the Dolma/FineWeb-style "remove
# duplicated passages corpus-wide, keep the first occurrence" pass; t21
# only PROFILES span duplication, this one REMOVES it). Non-overlapping
# 64-char spans; the corpus-wide keeper of each span value is the minimum
# (doc_id, chunk_start) — computed as a hash AGGREGATE with map-side
# partials, NOT a row_number window: at 100 TB a boilerplate span shared
# by millions of docs would funnel a window's sort into one reducer,
# while min(struct(...)) partial-aggregates the hot key on every mapper.
# The keeper join back is 1 build row per span, so hot probe keys don't
# amplify. Docs reassemble from their kept spans in order (array_sort on
# (start, span) structs ≡ ORDER BY start — starts are distinct per doc),
# and every doc survives with its dedup stats even when fully dropped.
# --------------------------------------------------------------------------
_SPAN_W = 64


@query(
    "t35_crossdoc_span_dedup",
    oracle=f"""
    WITH chunks AS (
        SELECT doc_id,
               CAST(start AS INT) AS chunk_start,
               substr(text, CAST(start AS INT), {_SPAN_W}) AS span
        FROM (
            SELECT doc_id, text,
                   unnest(generate_series(1, greatest(length(text), 1), {_SPAN_W})) AS start
            FROM documents
        )
    ),
    keepers AS (
        SELECT span, min(struct_pack(doc_id := doc_id, chunk_start := chunk_start)) AS w
        FROM chunks WHERE length(span) > 0 GROUP BY span
    ),
    flagged AS (
        SELECT c.doc_id, c.chunk_start, c.span,
               (length(c.span) > 0 AND k.w.doc_id = c.doc_id
                AND k.w.chunk_start = c.chunk_start) AS kept
        FROM chunks c
        LEFT JOIN keepers k ON c.span = k.span
    )
    SELECT doc_id,
           CAST(count(*) FILTER (length(span) > 0) AS BIGINT)  AS n_spans,
           CAST(count(*) FILTER (kept) AS BIGINT)              AS n_kept,
           CAST(coalesce(sum(length(span)) FILTER (kept), 0) AS BIGINT) AS clean_len,
           md5(coalesce(string_agg(span, '' ORDER BY chunk_start) FILTER (kept), '')) AS clean_md5
    FROM flagged
    GROUP BY doc_id
    """,
)
def t35_crossdoc_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    starts = F.sequence(
        F.lit(1), F.greatest(F.length("text"), F.lit(1)), F.lit(_SPAN_W)
    )
    chunks = docs.select(
        "doc_id", F.explode(starts).alias("chunk_start"),
        F.col("text").substr(F.col("chunk_start"), F.lit(_SPAN_W)).alias("span"),
    )
    keepers = (
        chunks.filter(F.length("span") > 0)
        .groupBy("span")
        .agg(F.min(F.struct("doc_id", "chunk_start")).alias("w"))
    )
    flagged = chunks.join(keepers, "span", "left").select(
        "doc_id",
        "chunk_start",
        "span",
        (
            (F.length("span") > 0)
            & (F.col("w.doc_id") == F.col("doc_id"))
            & (F.col("w.chunk_start") == F.col("chunk_start"))
        ).alias("kept"),
    )
    kept_span = F.when(F.col("kept"), F.struct("chunk_start", "span"))
    return flagged.groupBy("doc_id").agg(
        F.count(F.when(F.length("span") > 0, 1)).alias("n_spans"),
        F.count(F.when(F.col("kept"), 1)).alias("n_kept"),
        F.coalesce(
            F.sum(F.when(F.col("kept"), F.length("span"))), F.lit(0)
        ).alias("clean_len"),
        F.md5(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list(kept_span)), lambda s: s["span"]
                ),
            )
        ).alias("clean_md5"),
    )


# --------------------------------------------------------------------------
# t36 — content-defined segmentation dedup: t35 with ALIGNMENT-INVARIANT
# boundaries. A fixed char grid breaks when a passage reappears at a
# different offset (every span shifts); here a segment ends wherever a
# token's content hashes into the boundary class (md5 first hex in
# {0,1} ≈ rate 1/8), so boundaries travel WITH the content — a passage
# duplicated mid-document produces byte-identical interior segments
# regardless of what precedes it (the CDC idea from dedup storage
# systems, applied to corpus curation). Keeper + reassembly mechanics
# are exactly t35's (min-struct hash aggregate, hot-segment-safe; see
# SCALE.md). Plan: token explode (map) → per-doc boundary cumsum (one
# doc_id exchange, reused by the segment groupBy) → keeper agg + join
# back → per-doc rollup.
# --------------------------------------------------------------------------
@query(
    "t36_cdc_segment_dedup",
    oracle=r"""
    WITH toks0 AS (
        SELECT doc_id, generate_subscripts(l, 1) AS pos, unnest(l) AS tok
        FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS l
              FROM documents)
    ),
    toks AS (
        SELECT doc_id, pos, tok,
               CASE WHEN substr(md5(tok), 1, 1) IN ('0', '1') THEN 1 ELSE 0 END AS bnd
        FROM toks0 WHERE tok <> ''
    ),
    seg AS (
        SELECT doc_id, pos, tok,
               coalesce(sum(bnd) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS seg_id
        FROM toks
    ),
    segs AS (
        SELECT doc_id, seg_id, min(pos) AS seg_start,
               string_agg(tok, ' ' ORDER BY pos) AS segment
        FROM seg GROUP BY doc_id, seg_id
    ),
    keepers AS (
        SELECT segment,
               min(struct_pack(doc_id := doc_id, seg_start := seg_start)) AS w
        FROM segs GROUP BY segment
    ),
    fl AS (
        SELECT s.doc_id, s.seg_start, s.segment,
               (k.w.doc_id = s.doc_id AND k.w.seg_start = s.seg_start) AS kept
        FROM segs s JOIN keepers k ON s.segment = k.segment
    ),
    per AS (
        SELECT doc_id,
               count(*)                AS n_segments,
               count(*) FILTER (kept)  AS n_kept,
               md5(coalesce(string_agg(segment, ' ' ORDER BY seg_start)
                            FILTER (kept), '')) AS clean_md5
        FROM fl GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(p.n_segments, 0) AS BIGINT) AS n_segments,
           CAST(coalesce(p.n_kept, 0) AS BIGINT)     AS n_kept,
           coalesce(p.clean_md5, md5(''))            AS clean_md5
    FROM documents d LEFT JOIN per p USING (doc_id)
    """,
)
def t36_cdc_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = (
        docs.select(
            "doc_id",
            F.posexplode(F.split(F.trim("text"), r"\s+")).alias("p0", "tok"),
        )
        .select("doc_id", (F.col("p0") + 1).alias("pos"), "tok")
        .filter(F.col("tok") != "")
    )
    bnd = F.md5("tok").substr(1, 1).isin("0", "1").cast("int")
    w = W.partitionBy("doc_id").orderBy("pos").rowsBetween(W.unboundedPreceding, -1)
    seg = toks.withColumn("seg_id", F.coalesce(F.sum(bnd).over(w), F.lit(0)))
    segs = seg.groupBy("doc_id", "seg_id").agg(
        F.min("pos").alias("seg_start"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("segment"),
    )
    keepers = segs.groupBy("segment").agg(
        F.min(F.struct("doc_id", "seg_start")).alias("w")
    )
    fl = segs.join(keepers, "segment").select(
        "doc_id",
        "seg_start",
        "segment",
        (
            (F.col("w.doc_id") == F.col("doc_id"))
            & (F.col("w.seg_start") == F.col("seg_start"))
        ).alias("kept"),
    )
    kept_seg = F.when(F.col("kept"), F.struct("seg_start", "segment"))
    per = fl.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.count(F.when(F.col("kept"), 1)).alias("n_kept"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(kept_seg)), lambda s: s["segment"]
                ),
            )
        ).alias("clean_md5"),
    )
    return docs.select("doc_id").join(per, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_segments", F.lit(0)).alias("n_segments"),
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.coalesce("clean_md5", F.md5(F.lit(""))).alias("clean_md5"),
    )


# --------------------------------------------------------------------------
# t37 — seeded shuffle-shard: the reproducible global permutation a training
# job consumes. Each doc gets a permutation key md5(seed || doc_id) — change
# the seed literal and the whole corpus reshuffles deterministically — a
# shard from the key's first byte (mod S), and a position from the key order
# WITHIN its shard. The training order of shard s is exactly (pos 1..n_s),
# and concatenating shards 0..S-1 is a true uniform permutation of the
# corpus. Scale: no global sort anywhere — shard assignment is a map-only
# hash, and the per-shard rank sorts n/S rows per partition (at 100 TB pick
# S so a shard fits an executor: S = corpus/10 GB; the per-shard sort IS the
# byte order the trainer reads, so this work is the minimum possible).
# Contrast the naive orderBy(rand()) plan: a global sort with a
# non-reproducible key that changes on every retry/speculative re-execution;
# md5-of-id is stable across retries, engines, and cluster sizes.
# --------------------------------------------------------------------------
_T37_SEED = "shuffle:42:"
_T37_SHARDS = 8


@query(
    "t37_seeded_shuffle_shard",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id,
               md5('{_T37_SEED}' || CAST(doc_id AS VARCHAR)) AS pkey
        FROM documents
    ),
    sharded AS (
        SELECT doc_id, pkey,
               ((instr('0123456789abcdef', substr(pkey, 1, 1)) - 1) * 16
              + (instr('0123456789abcdef', substr(pkey, 2, 1)) - 1))
               % {_T37_SHARDS} AS shard
        FROM keyed
    )
    SELECT doc_id,
           CAST(shard AS INT)  AS shard,
           CAST(row_number() OVER (
               PARTITION BY shard ORDER BY pkey ASC, doc_id ASC
           ) AS BIGINT)        AS pos
    FROM sharded
    """,
)
def t37_seeded_shuffle_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic seeded corpus shuffle → (shard, position) manifest.
    Build path shared with the append-only growth operator
    (operators/sharding.extend_shuffle_manifest — old coordinates are
    byte-stable as the corpus grows; see test_sharding)."""
    from ..operators.sharding import build_shuffle_manifest

    return build_shuffle_manifest(
        _docs(spark, sf_dir), seed=_T37_SEED, n_shards=_T37_SHARDS
    )


# --------------------------------------------------------------------------
# t38 — BPE tokenization accounting: symbolize every document, apply a
# merge table through the cross-engine-exact 2-pass literal-replace chain
# (operators/bpe — the full rationale, incl. where this semantic diverges
# from canonical greedy BPE, lives there), and gate per-(lang, source)
# token totals + the merge compression ratio. The gate uses a FIXED
# 8-merge table (an oracle SQL string is static, so it cannot see merges
# learned from the data at hand); the distributed TRAINER that learns
# merges from the corpus word-frequency vocabulary is pinned against a
# pure-Python reference in tests/test_bpe.py instead. Encode is pure
# built-in string expressions — zero shuffle before the final small
# aggregation, whole-stage codegen, no UDF. At 100 TB, encode the distinct
# vocab once and broadcast-join counts back instead of re-walking every
# occurrence (operators/bpe docstring); here docs are the unit of
# accounting so the direct form is the honest one.
# --------------------------------------------------------------------------
_T38_MERGES = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"),
    ("r", "e"), ("e", "r"), ("o", "n"), ("a", "t"),
]


def _t38_oracle() -> str:
    from ..operators import bpe as B

    sym = B.symbolize_sql("text")
    n_sym = B.token_count_sql(sym)
    n_bpe = B.token_count_sql(B.merge_chain_sql(sym, _T38_MERGES))
    return f"""
    WITH enc AS (
        SELECT lang, source, {n_sym} AS n_symbols, {n_bpe} AS n_bpe_tokens
        FROM documents
    )
    SELECT lang, source,
           count(*)                               AS n_docs,
           CAST(sum(n_symbols) AS BIGINT)         AS total_symbols,
           CAST(sum(n_bpe_tokens) AS BIGINT)      AS total_bpe_tokens,
           {oracle_rnd('sum(n_bpe_tokens) * 1.0 / nullif(sum(n_symbols), 0)', 4)}
                                                  AS compression
    FROM enc
    GROUP BY 1, 2
    """


@query("t38_bpe_token_accounting", oracle=_t38_oracle())
def t38_bpe_token_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import bpe as B

    enc = B.encode_tokens(_docs(spark, sf_dir), _T38_MERGES)
    return enc.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_symbols").alias("total_symbols"),
        F.sum("n_bpe_tokens").alias("total_bpe_tokens"),
        rnd(
            F.sum("n_bpe_tokens")
            / F.nullif(F.sum("n_symbols").cast("double"), F.lit(0.0)),
            4,
        ).alias("compression"),
    )


# --------------------------------------------------------------------------
# t39 — MERGEABLE distinct-count sketches (Apache DataSketches HLL via
# hll_sketch_agg / hll_union_agg): the distributed-rollup property t28's
# approx_count_distinct cannot expose — its HLL++ state is internal to one
# aggregation. Here each (lang, source) partition builds an independent
# binary sketch, and the per-lang rollup UNIONS the stored sketches
# instead of rescanning tokens — the daily/partition-cube pattern at
# 100 TB (sketch once per partition at write time, answer any rollup by
# merging KB-sized states). The query emits BOTH the direct per-lang
# estimate and the merged-union estimate; test_properties asserts they are
# IDENTICAL (same sketch algorithm, union-of-parts ≡ one-shot — the
# mergeability contract) and within 5% of the exact count riding along.
#
# Rows-only gate (t28's precedent): DataSketches estimates are
# engine-specific, so no DuckDB oracle; the sketch lands in _NEVER_GATE.
# t43 is the driver-HARD twin: the exact booleans of this contract
# (merge ≡ direct, 5% error bound, storable state) gated as hash rows.
# --------------------------------------------------------------------------
@query("t39_hll_sketch_union", oracle=None)
def t39_hll_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "lang",
        "source",
        F.explode(F.regexp_extract_all("text", F.lit("[a-z0-9]+"), 0)).alias("tok"),
    )
    # partition sketches: one binary HLL state per (lang, source)
    part = toks.groupBy("lang", "source").agg(
        F.hll_sketch_agg("tok").alias("sk"),
        F.countDistinct("tok").alias("exact_part"),
    )
    # rollup by MERGING stored sketches — no token rescan
    merged = part.groupBy("lang").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_merged"),
        F.sum("exact_part").alias("sum_part_exact"),  # > exact (overlap)
        F.count(F.lit(1)).alias("n_parts"),
    )
    # direct per-lang sketch + exact, for the identity/error contracts
    direct = toks.groupBy("lang").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("tok")).alias("est_direct"),
        F.countDistinct("tok").alias("exact_distinct"),
    )
    return merged.join(direct, "lang").select(
        "lang", "n_parts", "est_merged", "est_direct", "exact_distinct",
        "sum_part_exact",
    )


# --------------------------------------------------------------------------
# t43 — the HLL sketch family's EXACT driver-hard contract: t39's
# estimates are engine-specific (rows-only by design), but the properties
# that make the sketch TRUSTWORTHY are exact booleans a
# DuckDB oracle can pin as literal TRUE rows — the driver hash then goes
# red if Spark's DataSketches implementation ever breaks them:
#   merge_equals_direct — union-of-parts ≡ one-shot sketch (mergeability:
#     the same algorithm over the same stream must yield the identical
#     estimate whether built per-partition-and-merged or in one pass);
#   within_5pct — the estimate lands within 5% of the exact distinct
#     count riding along (HLL lgK default gives ~1.6% RSE; 5% ≈ 3σ);
#   state_nonempty — the serialized sketch is a real, storable state.
# exact_distinct / n_parts are exactly SQL-computable and gate alongside.
# 100 TB: same plan as t39 — per-partition sketch + KB-sized state merge.
# --------------------------------------------------------------------------
@query(
    "t43_hll_mergeability_contract",
    oracle="""
    WITH toks AS (
        SELECT lang, source, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS tok
        FROM documents
    )
    SELECT lang,
           CAST(count(DISTINCT source) AS BIGINT) AS n_parts,
           CAST(count(DISTINCT tok)    AS BIGINT) AS exact_distinct,
           TRUE                                   AS merge_equals_direct,
           TRUE                                   AS within_5pct,
           TRUE                                   AS state_nonempty
    FROM toks
    GROUP BY lang
    """,
)
def t43_hll_mergeability_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "lang",
        "source",
        F.explode(F.regexp_extract_all("text", F.lit("[a-z0-9]+"), 0)).alias("tok"),
    )
    part = toks.groupBy("lang", "source").agg(F.hll_sketch_agg("tok").alias("sk"))
    merged = part.groupBy("lang").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_merged"),
        F.count(F.lit(1)).alias("n_parts"),
        F.min(F.length("sk")).alias("min_state_bytes"),
    )
    direct = toks.groupBy("lang").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("tok")).alias("est_direct"),
        F.countDistinct("tok").alias("exact_distinct"),
    )
    return merged.join(direct, "lang").select(
        "lang",
        "n_parts",
        "exact_distinct",
        (F.col("est_merged") == F.col("est_direct")).alias("merge_equals_direct"),
        (
            F.abs(F.col("est_merged") - F.col("exact_distinct"))
            <= 0.05 * F.col("exact_distinct")
        ).alias("within_5pct"),
        (F.col("min_state_bytes") > 0).alias("state_nonempty"),
    )


# --------------------------------------------------------------------------
# t40 — deterministic weighted priority sampling (Duffield–Lund–Thorup,
# "Priority sampling for estimation of arbitrary subset sums", JACM 2007):
# per language keep the k docs with the largest priority q = w / u, where
# w = n_chars (the doc's weight) and u ∈ (0,1] is a hash-derived uniform —
# weighted sampling without replacement PLUS an unbiased total-weight
# estimator Σ max(w_i, τ) over the sample, τ = the (k+1)-th largest
# priority. The scheme is exactly reproducible across engines because
# every float op involved is a single IEEE-correctly-rounded step on
# exactly-representable inputs: u = (h+1)/2^48 (h a 48-bit md5 prefix,
# 2^48 a power of two → exact), q = (w·1.0)/u (one division) — no ln/pow,
# whose last-ulp behavior differs between libm and the JVM. When a group
# has ≤ k docs, τ = 0 and the estimate equals the true total exactly (the
# scheme's signature property — gated here since sf0.001 langs are small).
#
# 100 TB: the per-row hash/priority is map-only; top-(k+1) per language is
# a bounded per-group heap (expressed as the row_number window here; at
# real group sizes swap in the t15 histogram-boundary trick or a
# per-partition heap + merge — the priorities, and thus the chosen
# sample, are identical by construction under any plan).
# --------------------------------------------------------------------------
_T40_K = 50
# 2^48 — spelled as an EXPLICIT double: a bare fractional literal parses as
# DECIMAL in both engines' SQL, which silently turned u into a decimal
# division + decimal->double cast instead of the single IEEE division the
# scheme's reproducibility argument rests on
_U48_DEN = "CAST(281474976710656.0 AS DOUBLE)"


def _hex48_sql(str_t: str, col: str = "doc_id") -> str:
    """Portable SQL: first 12 md5 nibbles of ``col`` as a 48-bit integer."""
    # each nibble is CAST to BIGINT before scaling: Spark's instr() is
    # INT-typed and 15 * 16^7 already overflows int32 under ANSI mode
    terms = [
        f"CAST({_NIB.format(col=col, str_t=str_t, pos=i + 1)} AS BIGINT)"
        f" * {16 ** (11 - i)}"
        for i in range(12)
    ]
    return "(" + " + ".join(terms) + ")"


def _t40_oracle() -> str:
    return f"""
    WITH b AS (
        SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS w,
               {_hex48_sql('VARCHAR')} AS h
        FROM documents
    ),
    p AS (
        SELECT doc_id, lang, w,
               CAST(w AS DOUBLE) / ((h + 1) / {_U48_DEN}) AS q
        FROM b
    ),
    r AS (
        SELECT doc_id, lang, w, q,
               CAST(row_number() OVER (
                   PARTITION BY lang ORDER BY q DESC, doc_id) AS INT) AS rnk
        FROM p
    ),
    tau AS (
        SELECT lang,
               coalesce(max(CASE WHEN rnk = {_T40_K + 1} THEN q END), 0.0) AS tau
        FROM r GROUP BY lang
    ),
    tot AS (SELECT lang, CAST(sum(w) AS BIGINT) AS true_total FROM b GROUP BY lang),
    s AS (SELECT * FROM r WHERE rnk <= {_T40_K}),
    est AS (
        SELECT s.lang,
               {oracle_rnd('sum(greatest(CAST(s.w AS DOUBLE), t.tau))', 4)} AS est_total
        FROM s JOIN tau t ON t.lang = s.lang GROUP BY s.lang
    )
    SELECT s.doc_id, s.lang, s.w, s.rnk, e.est_total, tt.true_total
    FROM s
    JOIN est e ON e.lang = s.lang
    JOIN tot tt ON tt.lang = s.lang
    """


@query("t40_priority_sample", oracle=_t40_oracle())
def t40_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    b = docs.select(
        "doc_id",
        "lang",
        F.col("n_chars").cast("bigint").alias("w"),
        F.expr(_hex48_sql("STRING")).alias("h"),
    )
    p = b.select(
        "doc_id",
        "lang",
        "w",
        ((F.col("w") * 1.0) / ((F.col("h") + 1) / F.expr(_U48_DEN))).alias("q"),
    )
    r = p.withColumn(
        "rnk",
        F.row_number().over(W.partitionBy("lang").orderBy(F.desc("q"), "doc_id")),
    )
    tau = r.groupBy("lang").agg(
        F.coalesce(
            F.max(F.when(F.col("rnk") == _T40_K + 1, F.col("q"))), F.lit(0.0)
        ).alias("tau")
    )
    tot = b.groupBy("lang").agg(F.sum("w").alias("true_total"))
    s = r.filter(F.col("rnk") <= _T40_K)
    est = (
        s.join(F.broadcast(tau), "lang")
        .groupBy("lang")
        .agg(rnd(F.sum(F.greatest(F.col("w") * 1.0, F.col("tau"))), 4).alias("est_total"))
    )
    return (
        s.join(F.broadcast(est), "lang")
        .join(F.broadcast(tot), "lang")
        .select("doc_id", "lang", "w", "rnk", "est_total", "true_total")
    )


# --------------------------------------------------------------------------
# t41 — corpus token-frequency SPECTRUM (frequency-of-frequencies), the
# Zipf diagnostic every corpus report leads with: for each occurrence
# count c, how many distinct token types occur exactly c times, what share
# of the total token mass they carry, and the cumulative mass coverage of
# all types at least that frequent. Two chained hash aggregations — the
# classic wordcount (map-side partials over the exploded token stream)
# then a tiny agg over the (type, freq) table — plus one window over the
# SPECTRUM, which has at most as many rows as distinct frequency values
# (hundreds even at 100 TB: spectra are long-tailed in types, short in
# distinct counts). Nothing after the first aggregation scales with corpus
# size. Integer counts are exact; the two mass ratios are rounded to 6 dp.
# --------------------------------------------------------------------------
@query(
    "t41_token_freq_spectrum",
    oracle="""
    WITH toks AS (
        SELECT unnest(regexp_extract_all(text, '[a-z0-9]+')) AS tok
        FROM documents
    ),
    tf AS (SELECT tok, count(*) AS freq FROM toks GROUP BY tok),
    spectrum AS (
        SELECT freq,
               CAST(count(*) AS BIGINT)        AS n_types,
               CAST(freq * count(*) AS BIGINT) AS mass
        FROM tf GROUP BY freq
    ),
    total AS (SELECT sum(mass) AS total_mass FROM spectrum)
    SELECT s.freq, s.n_types, s.mass,
           floor((s.mass * 1.0 / t.total_mass) * 1000000 + 0.5) / 1000000.0
               AS mass_frac,
           floor((sum(s.mass) OVER (ORDER BY s.freq DESC
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  * 1.0 / t.total_mass) * 1000000 + 0.5) / 1000000.0
               AS cum_mass_frac
    FROM spectrum s CROSS JOIN total t
    """,
)
def t41_token_freq_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        F.explode(F.regexp_extract_all("text", F.lit("[a-z0-9]+"), 0)).alias("tok")
    )
    tf = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("freq"))
    spectrum = tf.groupBy("freq").agg(
        F.count(F.lit(1)).alias("n_types"),
        (F.col("freq") * F.count(F.lit(1))).alias("mass"),
    )
    # scalar total mass as a broadcast 1-row relation (repo standard)
    total = spectrum.agg(F.sum("mass").alias("total_mass"))
    # the spectrum is tiny (distinct frequency VALUES, not types); the
    # unpartitioned window is over those few hundred rows only
    w = W.orderBy(F.desc("freq")).rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        spectrum.crossJoin(F.broadcast(total))
        .select(
            "freq",
            "n_types",
            "mass",
            rnd(F.col("mass") * 1.0 / F.col("total_mass"), 6).alias("mass_frac"),
            rnd(
                F.sum("mass").over(w) * 1.0 / F.col("total_mass"), 6
            ).alias("cum_mass_frac"),
        )
    )


# --------------------------------------------------------------------------
# t42 — FUZZY benchmark decontamination: t20 catches exact 5-gram overlap;
# paraphrased or lightly-edited eval rows evade it. This is the MinHash
# route: both corpora sign (k=8 min-md5 over word 3-shingles, banded 2
# hashes/band — t06/t07's machinery), candidate (candidate, benchmark)
# pairs come from a BAND EQUI-JOIN (work ∝ bucket co-occupancy, never
# |cand| × |bench|), and exact Jaccard runs ONLY on candidates via per-doc
# shingle-array intersection — a per-pair array op, no second shuffle
# chain. A candidate is contaminated when its best benchmark Jaccard
# clears _T42_TAU.
#
# 100 TB: the benchmark side is eval-sized (thousands of docs) so its
# banded signature table broadcasts; the corpus side streams through the
# band hash-join map-side. The expensive exact check touches only band
# survivors — the same candidates-then-verify discipline as x06/t05, and
# the LSH quality itself is the gated t34 contract.
# --------------------------------------------------------------------------
_T42_TAU = 0.5


def _t42_oracle() -> str:
    bands = D.oracle_band_cols()
    nb = D.MINHASH_K // D.BAND_SIZE
    band_pairs = "\n        UNION ALL ".join(
        f"SELECT c.doc_id AS cand_id, b.doc_id AS bench_id "
        f"FROM csig c JOIN bsig b ON c.band{i} = b.band{i}"
        for i in range(nb)
    )
    return f"""
    WITH bsh AS (
        SELECT doc_id, {D.oracle_shingles('text')} AS sh
        FROM documents WHERE source = 'src0'
    ),
    csh AS (
        SELECT doc_id, {D.oracle_shingles('text')} AS sh
        FROM documents WHERE source <> 'src0'
    ),
    bsig AS (
        SELECT doc_id, {bands} FROM (
            SELECT doc_id, {D.oracle_minhash_aggs()}
            FROM (SELECT doc_id, unnest(sh) AS shingle FROM bsh)
            GROUP BY doc_id
        )
    ),
    csig AS (
        SELECT doc_id, {bands} FROM (
            SELECT doc_id, {D.oracle_minhash_aggs()}
            FROM (SELECT doc_id, unnest(sh) AS shingle FROM csh)
            GROUP BY doc_id
        )
    ),
    cand_pairs AS (
        SELECT DISTINCT cand_id, bench_id FROM (
            {band_pairs}
        )
    ),
    jac AS (
        SELECT p.cand_id, p.bench_id,
               len(list_filter(c.sh, x -> list_contains(b.sh, x))) AS inter,
               len(c.sh) + len(b.sh)
                   - len(list_filter(c.sh, x -> list_contains(b.sh, x))) AS uni
        FROM cand_pairs p
        JOIN csh c ON c.doc_id = p.cand_id
        JOIN bsh b ON b.doc_id = p.bench_id
        WHERE len(c.sh) > 0 AND len(b.sh) > 0
    )
    SELECT cand_id AS doc_id,
           CAST(count(*) AS BIGINT) AS n_band_candidates,
           floor((max(inter * 1.0 / uni)) * 1000000 + 0.5) / 1000000.0
               AS max_jaccard,
           max(inter * 1.0 / uni) >= {_T42_TAU} AS contaminated
    FROM jac GROUP BY cand_id
    """


@query("t42_fuzzy_decontamination", oracle=_t42_oracle())
def t42_fuzzy_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    # PLAN-SHAPE NOTE: everything flows from the exploded (doc, shingle)
    # stream in ONE projection (t06's shape). Materializing the shingle
    # ARRAY as a column and then filtering on its size / reusing it inlines
    # the whole transform+array_distinct chain into every consumer — no
    # common-subexpression elimination across operators — 37x slower for
    # the same exploded count.
    # Jaccard therefore uses shared-shingle COUNTS from equi-joins (never
    # carried arrays): docs with zero shingles simply produce no rows.
    docs = _docs(spark, sf_dir)

    def exploded(cond) -> DataFrame:
        # LAZY checkpoint: each stream feeds its signature agg, its
        # per-doc count AND the shared-shingle intersection join — one
        # tokenize+explode per stream instead of three (this caches the
        # exploded ROWS; the 37x note above is about inlining the array
        # column, a different failure)
        return D.exploded_shingles(docs.filter(cond), "doc_id", "text", 3).localCheckpoint(
            eager=False
        )

    bench_sh = exploded(F.col("source") == "src0")
    cand_sh = exploded(F.col("source") != "src0")

    def sig(sh: DataFrame) -> DataFrame:
        return sh.groupBy("doc_id").agg(*D.minhash_aggs()).select(
            "doc_id", *D.band_cols()
        )

    bsig, csig = sig(bench_sh), sig(cand_sh)
    nb = D.MINHASH_K // D.BAND_SIZE
    # LONG-form band join: posexplode the band array and equi-join ONCE on
    # (band_idx, band_val) — per-band joins would re-derive both signature
    # aggregations nb times over
    def long_form(sig_df: DataFrame, id_alias: str) -> DataFrame:
        return sig_df.select(
            F.col("doc_id").alias(id_alias),
            F.posexplode(F.array(*[F.col(f"band{i}") for i in range(nb)])).alias(
                "band_i", "band_v"
            ),
        )

    cand_pairs = (
        long_form(csig, "cand_id")
        .join(F.broadcast(long_form(bsig, "bench_id")), ["band_i", "band_v"])
        .select("cand_id", "bench_id")
        .distinct()
    )

    # exact Jaccard on candidates only, from counts: |A∩B| via the shingle
    # equi-join restricted to candidate pairs (pairs and the eval-sized
    # bench stream both broadcast), |A| and |B| from per-doc counts
    n_c = cand_sh.groupBy(F.col("doc_id").alias("cand_id")).agg(
        F.count(F.lit(1)).alias("nc")
    )
    n_b = bench_sh.groupBy(F.col("doc_id").alias("bench_id")).agg(
        F.count(F.lit(1)).alias("nb")
    )
    shared = (
        cand_sh.withColumnRenamed("doc_id", "cand_id")
        .join(F.broadcast(cand_pairs), "cand_id")
        .join(
            F.broadcast(bench_sh.withColumnRenamed("doc_id", "bench_id")),
            ["bench_id", "shingle"],
        )
        .groupBy("cand_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = (
        # left join: band-matched pairs with ZERO shared shingles (possible
        # minhash collisions) must keep a 0-intersection row like the
        # oracle's array form does
        cand_pairs.join(shared, ["cand_id", "bench_id"], "left")
        .join(F.broadcast(n_c), "cand_id")
        .join(F.broadcast(n_b), "bench_id")
        .select(
            "cand_id",
            (
                F.coalesce("inter", F.lit(0)) * 1.0
                / (F.col("nc") + F.col("nb") - F.coalesce("inter", F.lit(0)))
            ).alias("j"),
        )
    )
    return jac.groupBy(F.col("cand_id").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_band_candidates"),
        rnd(F.max("j"), 6).alias("max_jaccard"),
        (F.max("j") >= _T42_TAU).alias("contaminated"),
    )


# --------------------------------------------------------------------------
# t44 — Gopher-style quality-RULE battery (Rae et al. 2021 §A1.1, the
# industry-standard pretraining filter shape; also Dolma/RefinedWeb): where
# t03 blends features into one score, production filters apply a battery of
# independent pass/fail rules and report PER-RULE failure counts so corpus
# curators can see WHICH rule is eating their data. Word-level rules (this
# corpus is single-line prose, so the line-based Gopher rules are
# degenerate and deliberately omitted): minimum word count, mean word
# length in [3,10], >= 2 stop-word hits, top-token mass <= 20% (repetition),
# unique-token fraction >= 30% (diversity). Every per-doc feature is an
# exact integer or a single IEEE division of exact integers — identical in
# both engines, so the rule booleans and the rollup hash-gate exactly.
# 100 TB: explode -> two hash aggregations keyed by (doc,tok)/(doc) -> join
# back on doc_id -> final (lang,source) rollup. All map-side-partial
# combinable, keys uniform, no windows, no self-joins.
# --------------------------------------------------------------------------
_T44_MIN_WORDS = 50


@query(
    "t44_gopher_rule_battery",
    oracle=f"""
    WITH per_tok AS (
        SELECT doc_id, tok, count(*) AS c
        FROM (SELECT doc_id,
                     unnest(regexp_extract_all(coalesce(text, ''), '[a-z0-9]+')) AS tok
              FROM documents)
        GROUP BY 1, 2
    ),
    feats AS (
        SELECT doc_id,
               sum(c)                 AS n_words,
               sum(length(tok) * c)   AS sum_len,
               max(c)                 AS top_cnt,
               count(*)               AS n_uniq
        FROM per_tok GROUP BY 1
    ),
    flags AS (
        SELECT d.lang, d.source,
               coalesce(f.n_words, 0) >= {_T44_MIN_WORDS}                    AS p_len,
               f.n_words IS NOT NULL
                   AND f.sum_len * 1.0 / f.n_words >= 3.0
                   AND f.sum_len * 1.0 / f.n_words <= 10.0                   AS p_wordlen,
               len(regexp_extract_all(coalesce(d.text, ''), '{_STOP_RE}')) >= 2 AS p_stop,
               f.n_words IS NOT NULL
                   AND f.top_cnt * 1.0 / f.n_words <= 0.20                   AS p_rep,
               f.n_words IS NOT NULL
                   AND f.n_uniq * 1.0 / f.n_words >= 0.30                    AS p_div
        FROM documents d LEFT JOIN feats f USING (doc_id)
    )
    SELECT lang, source,
           count(*)                                                  AS n_docs,
           CAST(count(*) FILTER (p_len AND p_wordlen AND p_stop AND p_rep AND p_div)
                AS BIGINT)                                           AS n_kept,
           CAST(count(*) FILTER (NOT p_len)     AS BIGINT)           AS fail_short,
           CAST(count(*) FILTER (NOT p_wordlen) AS BIGINT)           AS fail_word_len,
           CAST(count(*) FILTER (NOT p_stop)    AS BIGINT)           AS fail_stop,
           CAST(count(*) FILTER (NOT p_rep)     AS BIGINT)           AS fail_repetition,
           CAST(count(*) FILTER (NOT p_div)     AS BIGINT)           AS fail_diversity,
           {oracle_rnd("count(*) FILTER (p_len AND p_wordlen AND p_stop AND p_rep AND p_div) * 1.0 / count(*)", 4)}
                                                                     AS kept_frac
    FROM flags
    GROUP BY lang, source
    """,
)
def t44_gopher_rule_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    per_tok = (
        docs.select(
            "doc_id",
            F.explode(
                F.regexp_extract_all(F.coalesce("text", F.lit("")), F.lit("[a-z0-9]+"), 0)
            ).alias("tok"),
        )
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    feats = per_tok.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"),
        F.sum(F.length("tok") * F.col("c")).alias("sum_len"),
        F.max("c").alias("top_cnt"),
        F.count(F.lit(1)).alias("n_uniq"),
    )
    mean_len = F.col("sum_len") * 1.0 / F.col("n_words")
    flags = docs.join(feats, "doc_id", "left").select(
        "lang",
        "source",
        (F.coalesce("n_words", F.lit(0)) >= _T44_MIN_WORDS).alias("p_len"),
        (
            F.col("n_words").isNotNull()
            & (mean_len >= 3.0)
            & (mean_len <= 10.0)
        ).alias("p_wordlen"),
        (
            F.size(
                F.regexp_extract_all(F.coalesce("text", F.lit("")), F.lit(_STOP_RE), 0)
            )
            >= 2
        ).alias("p_stop"),
        (
            F.col("n_words").isNotNull()
            & (F.col("top_cnt") * 1.0 / F.col("n_words") <= 0.20)
        ).alias("p_rep"),
        (
            F.col("n_words").isNotNull()
            & (F.col("n_uniq") * 1.0 / F.col("n_words") >= 0.30)
        ).alias("p_div"),
    )
    keep = (
        F.col("p_len") & F.col("p_wordlen") & F.col("p_stop") & F.col("p_rep") & F.col("p_div")
    )
    return flags.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(keep, 1)).alias("n_kept"),
        F.count(F.when(~F.col("p_len"), 1)).alias("fail_short"),
        F.count(F.when(~F.col("p_wordlen"), 1)).alias("fail_word_len"),
        F.count(F.when(~F.col("p_stop"), 1)).alias("fail_stop"),
        F.count(F.when(~F.col("p_rep"), 1)).alias("fail_repetition"),
        F.count(F.when(~F.col("p_div"), 1)).alias("fail_diversity"),
        rnd(F.count(F.when(keep, 1)) * 1.0 / F.count(F.lit(1)), 4).alias("kept_frac"),
    )


# --------------------------------------------------------------------------
# t45 — the count-min sketch's EXACT driver-hard contract (t43's pattern,
# closing the sketch trio: t43 gated HLL, GK quantiles keep their property
# suite): the cell values are hash-placement-dependent (no SQL oracle can
# compute them), but the properties that make the sketch TRUSTWORTHY are
# exact and gate as literal-TRUE oracle rows —
#   merge_equals_oneshot — cms_merge of two half-corpus sketches is
#     CELL-IDENTICAL to the one-shot sketch (integer cell-wise addition
#     is exact; any drift in hashing/merging breaks it);
#   never_undercount — for the top-20 exact heavy hitters, the estimate
#     is >= the exact count (the CMS guarantee that holds with certainty,
#     unlike the probabilistic eps*N overcount bound, which stays in the
#     property suite where a tolerance belongs);
#   cells_bounded — the merged state holds <= d*w rows (the constant-
#     memory claim).
# The exactly-SQL-computable top-20 total and distinct-token count gate
# alongside. 100 TB: build is explode(d)+one hash agg -> <= d*w rows per
# partition sketch; merge is a groupBy over cell coordinates of KB-sized
# states — the daily-sketch rollup shape.
# --------------------------------------------------------------------------
@query(
    "t45_cms_contract",
    oracle="""
    WITH toks AS (
        SELECT unnest(regexp_extract_all(coalesce(text, ''), '[a-z0-9]+')) AS tok
        FROM documents
    ),
    counts AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
    top20 AS (SELECT tok, c FROM counts ORDER BY c DESC, tok ASC LIMIT 20)
    SELECT CAST(count(*) AS BIGINT)              AS n_distinct_tokens,
           CAST((SELECT sum(c) FROM top20) AS BIGINT) AS top20_exact_total,
           TRUE                                  AS merge_equals_oneshot,
           TRUE                                  AS never_undercount,
           TRUE                                  AS cells_bounded
    FROM counts
    """,
)
def t45_cms_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketch import cms_estimate, cms_merge, count_min_table

    W_, D_ = 2048, 5
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "source",
        F.explode(
            F.regexp_extract_all(F.coalesce("text", F.lit("")), F.lit("[a-z0-9]+"), 0)
        ).alias("tok"),
    )
    # two partition sketches via a deterministic static split (stands in
    # for per-day sketching), merged; plus the one-shot over everything
    half_a = toks.filter(F.xxhash64("source") % 2 == 0)
    half_b = toks.filter(F.xxhash64("source") % 2 != 0)
    merged = cms_merge(
        count_min_table(half_a, "tok", W_, D_),
        count_min_table(half_b, "tok", W_, D_),
    )
    oneshot = count_min_table(toks, "tok", W_, D_)
    cells_equal = (
        merged.join(oneshot.withColumnsRenamed({"cnt": "cnt2"}), ["r", "c"], "full")
        .agg(
            F.min(
                F.coalesce("cnt", F.lit(-1)) == F.coalesce("cnt2", F.lit(-2))
            ).alias("eq"),
            F.count(F.lit(1)).alias("n_cells"),
        )
    )
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    top20 = counts.orderBy(F.desc("c"), F.asc("tok")).limit(20)
    est = cms_estimate(merged, top20.select("tok"), "tok", W_, D_)
    under = (
        top20.join(est, "tok")
        .agg(
            F.min(F.col("est") >= F.col("c")).alias("never_under"),
            F.sum("c").alias("top20_exact_total"),
        )
    )
    n_distinct = counts.agg(F.count(F.lit(1)).alias("n_distinct_tokens"))
    return (
        n_distinct.crossJoin(under)
        .crossJoin(cells_equal)
        .select(
            "n_distinct_tokens",
            F.col("top20_exact_total").cast("long").alias("top20_exact_total"),
            F.col("eq").alias("merge_equals_oneshot"),
            F.col("never_under").alias("never_undercount"),
            (F.col("n_cells") <= F.lit(W_ * D_)).alias("cells_bounded"),
        )
    )


# --------------------------------------------------------------------------
# t46 — EXACT heavy hitters at bounded memory: the two-pass Misra-Gries
# pattern (operators/sketch.mg_partition_summaries). Pass 1 streams the
# token corpus through per-partition MG summaries of m=30 counters — a
# mergeable-summaries batch MG ("Mergeable Summaries", Agarwal/Cormode/
# Huang/Phillips/Wei/Yi, PODS'12) whose per-key undercount is ≤
# n_p/(m+1), so the UNION of partition summaries provably contains every
# token with global count > n/(m+1). Pass 2 broadcast-semi-joins that
# tiny candidate set back onto the corpus and recounts EXACTLY, keeping
# tokens whose count·(m+1) > n (integer cross-multiply — no division
# rounding to diverge on). The output is therefore EXACT — the sketch
# only prunes — which is what makes an approximate-flavored operator
# hash-gateable; m=30 sits deliberately BELOW the corpus's 31-token
# vocabulary so the decrement/reduction path is exercised, not idled.
# 100 TB: pass 1 is a full scan emitting P·m rows (no shuffle — pipelined
# into the scan stage); pass 2 shuffles only candidate-key counts. Exact
# groupBy over a trillion-token stream would shuffle the vocabulary;
# this shuffles ≤ the candidates. The threshold total rides a 1-row
# broadcast cross join (explain_audit BNLJ allowlist).
# --------------------------------------------------------------------------
@query(
    "t46_mg_heavy_hitters",
    oracle="""
    WITH toks AS (
        SELECT unnest(regexp_extract_all(coalesce(text, ''), '[a-z0-9]+')) AS tok
        FROM documents
    ),
    n AS (SELECT count(*) AS total FROM toks)
    SELECT tok, CAST(count(*) AS BIGINT) AS n_occurrences
    FROM toks, n
    GROUP BY tok, n.total
    HAVING count(*) * 31 > n.total
    """,
)
def t46_mg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketch import mg_partition_summaries

    M = 30
    toks = _docs(spark, sf_dir).select(
        F.explode(
            F.regexp_extract_all(F.coalesce("text", F.lit("")), F.lit("[a-z0-9]+"), 0)
        ).alias("tok")
    )
    cands = mg_partition_summaries(toks, "tok", M).select("tok").distinct()
    total = toks.agg(F.count(F.lit(1)).alias("_total"))
    return (
        toks.join(F.broadcast(cands), "tok", "left_semi")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("n_occurrences") * F.lit(M + 1) > F.col("_total"))
        .select("tok", "n_occurrences")
    )


# --------------------------------------------------------------------------
# t47 — Okapi BM25 keyword scoring (operators/retrieval.bm25_scores): every
# document matching ≥1 of a fixed 5-term query gets its BM25 score
# (k1=1.2, b=0.75, Lucene's always-positive idf = ln(1+(N-df+.5)/(df+.5))).
# The training-data-curation shape: rank/filter a corpus against a keyword
# battery (topic filters, contamination screens) — and the lexical half of
# x23's hybrid retrieval. All counts (tf, df, dl, N, Σdl) are exact
# integers; per-term double scores are pivoted out and added in fixed
# literal term order, so the emitted double is bit-identical cross-engine
# before its floor-rounding (no order-sensitive SUM — see retrieval.py).
# 100 TB: the query-term filter prunes the exploded token relation before
# its one (doc_id, term) shuffle; dfreq (≤5 rows) and the corpus stats
# (1 row) are broadcast — the corpus never reshuffles by term. The 1-row
# stats cross join is the q17 scalar shape (explain_audit BNLJ allowlist).
# --------------------------------------------------------------------------
@query(
    "t47_bm25_scoring",
    oracle=f"""
    WITH {R.bm25_oracle_ctes(R.BM25_QUERY_TERMS)}
    SELECT doc_id, n_matched_terms, {R.oracle_bm25_rounded(4)} AS bm25
    FROM bm25
    """,
)
def t47_bm25_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = R.bm25_scores(_docs(spark, sf_dir), R.BM25_QUERY_TERMS)
    return scored.select("doc_id", "n_matched_terms", R.bm25_rounded(4).alias("bm25"))


# --------------------------------------------------------------------------
# t48 — TEMPERATURE-weighted corpus mixing (the multilingual data-mixing
# pass from XLM-R/mT5: sample language i with probability proportional to
# n_i^alpha, alpha<1 flattening the raw distribution so high-resource
# languages stop drowning low-resource ones; here alpha=1/2). Distinct
# from t15's fixed per-language QUOTA: the quotas here are DERIVED from
# the corpus histogram by the temperature formula, which is what a real
# mixing config does when the corpus grows.
# Exactness across engines: the only irrational quantity, sqrt(n_i), is
# quantized ONCE to an e6 integer (IEEE sqrt is correctly rounded in both
# engines, and the +0.5-floor sits ~1e6 ULPs from any tie); everything
# downstream — the normalizer S=Σs_i, the per-doc acceptance test, the
# reported rates — is pure BIGINT arithmetic. A doc is accepted iff
#   u24 · S · n_i < T · s_i · 2^24
# where u24 is the first 24 md5 bits of (seed || doc_id): deterministic,
# retry-stable, engine-identical (contrast rand(): re-draws on every
# Spark task retry). min(1,·) capping is implicit in the inequality.
# 100 TB: one tiny histogram agg (|langs| rows, broadcast back as the
# 1-row-per-lang decision table), then a MAP-ONLY acceptance pass — no
# shuffle touches the corpus, no global sort, and the sampled set is
# identical under any partitioning/cluster size. Products are bounded by
# u24·S·n < 2^24·(1e6·√n_max·L)·n_max — at petabyte row counts widen the
# comparison to DECIMAL(38,0) (the iavg/HUGEIT idiom) before it can wrap.
# Output: one row per language — raw vs temperature-flattened shares,
# the exact acceptance rate, realized sample count, and the id-sum
# fingerprint that flips if ANY single acceptance decision flips.
# --------------------------------------------------------------------------
_T48_SEED = "mix:7:"
_T48_U24 = "".join(
    ["("]
    + [
        " + " * (p > 1)
        + f"(instr('0123456789abcdef', substr(h, {p}, 1)) - 1) * {16 ** (6 - p)}"
        for p in range(1, 7)
    ]
    + [")"]
)


@query(
    "t48_temperature_mixing",
    oracle=f"""
    WITH counts AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY lang
    ),
    weighted AS (
        SELECT lang, n,
               CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS s_e6
        FROM counts
    ),
    tot AS (
        SELECT CAST(sum(n) AS BIGINT)    AS big_n,
               CAST(sum(n) // 2 AS BIGINT) AS t_target,
               CAST(sum(s_e6) AS BIGINT) AS s_sum
        FROM weighted
    ),
    keyed AS (
        SELECT d.doc_id, d.lang,
               {_T48_U24.replace('h', "md5('" + _T48_SEED + "' || CAST(d.doc_id AS VARCHAR))")} AS u24
        FROM documents d
    ),
    accepted AS (
        SELECT k.doc_id, k.lang
        FROM keyed k JOIN weighted w ON k.lang = w.lang, tot t
        WHERE k.u24 * t.s_sum * w.n < t.t_target * w.s_e6 * 16777216
    )
    SELECT w.lang,
           w.n                                              AS n_docs,
           w.n * 1000000 // t.big_n                         AS raw_share_e6,
           w.s_e6 * 1000000 // t.s_sum                      AS target_share_e6,
           least(1000000,
                 t.t_target * w.s_e6 * 1000000 // (t.s_sum * w.n)) AS rate_e6,
           CAST(count(a.doc_id) AS BIGINT)                  AS n_sampled,
           CAST(coalesce(sum(a.doc_id), 0) AS BIGINT)       AS sampled_id_sum
    FROM weighted w CROSS JOIN tot t
    LEFT JOIN accepted a ON a.lang = w.lang
    GROUP BY w.lang, w.n, w.s_e6, t.big_n, t.s_sum, t.t_target
    """,
)
def t48_temperature_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("n"))
    weighted = counts.withColumn(
        "s_e6",
        F.floor(F.sqrt(F.col("n").cast("double")) * 1000000 + F.lit(0.5)).cast("long"),
    )
    # 1-row normalizer, broadcast onto the |langs|-row table (q17 scalar shape)
    tot = weighted.agg(
        F.sum("n").cast("long").alias("big_n"),
        F.expr("CAST(sum(n) div 2 AS BIGINT)").alias("t_target"),
        F.sum("s_e6").cast("long").alias("s_sum"),
    )
    decision = weighted.crossJoin(F.broadcast(tot))
    # map-only acceptance: corpus never shuffles — the decision table joins
    # in as a broadcast hash join on lang
    u24 = F.conv(
        F.substring(F.md5(F.concat(F.lit(_T48_SEED), F.col("doc_id").cast("string"))), 1, 6),
        16,
        10,
    ).cast("long")
    keyed = docs.select("doc_id", "lang", u24.alias("u24"))
    accepted = keyed.join(F.broadcast(decision), "lang").filter(
        F.col("u24") * F.col("s_sum") * F.col("n")
        < F.col("t_target") * F.col("s_e6") * F.lit(16777216)
    )
    samp = accepted.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_sampled"),
        F.sum("doc_id").cast("long").alias("sampled_id_sum"),
    )
    return (
        decision.join(F.broadcast(samp), "lang", "left")
        .select(
            "lang",
            F.col("n").alias("n_docs"),
            F.expr("n * 1000000 div big_n").alias("raw_share_e6"),
            F.expr("s_e6 * 1000000 div s_sum").alias("target_share_e6"),
            F.expr(
                "least(CAST(1000000 AS BIGINT),"
                " t_target * s_e6 * 1000000 div (s_sum * n))"
            ).alias("rate_e6"),
            F.coalesce(F.col("n_sampled"), F.lit(0).cast("long")).alias("n_sampled"),
            F.coalesce(F.col("sampled_id_sum"), F.lit(0).cast("long")).alias(
                "sampled_id_sum"
            ),
        )
    )


# --------------------------------------------------------------------------
# t49 — hashed-linear classifier inference (the fastText-style quality
# filter every production curation pipeline runs between heuristics and
# dedup: CCNet/LLaMA wiki-vs-crawl filtering, Joulin et al. EACL'17).
# The model is a linear scorer over HASHED bag-of-words features — no
# vocabulary table, the feature transform IS the hash — so inference is a
# pure map-side expression: tokenize, hash each token to a bucket, sum the
# bucket weights, threshold. Weights here are synthesized deterministically
# from the bucket id itself (the container ships no model artifact; a real
# deployment broadcasts a weights array and swaps ONE sub-expression — the
# plumbing, hashing, tf-weighted summation and thresholding are the real
# shape, and the e3-integer weights mirror how quantized fastText ships).
# 100 TB: zero shuffles, zero UDFs — the whole classifier lives inside one
# whole-stage-codegen'd higher-order aggregate over the token array; scoring
# throughput is scan throughput. A property test proves the md5-nibble
# weight derivation against a pure-Python twin and the scorer's linearity
# (score(text ‖ ' ' ‖ text) = 2·score(text)).
# --------------------------------------------------------------------------
_T49_BUCKETS_MOD = 2001  # weights in [-1000, 1000] e3-units via h48 % 2001


def _t49_weight_sql(str_t: str) -> str:
    """Integer e3 weight of one token ``t``: 48-bit md5 prefix mod 2001,
    shifted to be zero-mean over the bucket space."""
    return f"(({_hex48_sql(str_t, 't')} % {_T49_BUCKETS_MOD}) - 1000)"


@query(
    "t49_classifier_inference",
    oracle=f"""
    WITH feats AS (
        SELECT doc_id, lang,
               regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        FROM documents
    ),
    scored AS (
        SELECT doc_id, lang,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               CAST(coalesce(list_sum(list_transform(
                   toks, t -> {_t49_weight_sql('VARCHAR')})), 0) AS BIGINT)
                   AS score_e3
        FROM feats
    )
    SELECT doc_id, lang, n_tokens, score_e3,
           CAST(score_e3 >= 0 AS INT) AS kept
    FROM scored
    """,
)
def t49_classifier_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = "regexp_extract_all(lower(text), '[a-z0-9]+', 0)"
    score = (
        f"aggregate({toks}, CAST(0 AS BIGINT),"
        f" (acc, t) -> acc + CAST({_t49_weight_sql('STRING')} AS BIGINT))"
    )
    return docs.select(
        "doc_id",
        "lang",
        F.expr(f"CAST(size({toks}) AS BIGINT)").alias("n_tokens"),
        F.expr(f"coalesce({score}, CAST(0 AS BIGINT))").alias("score_e3"),
    ).withColumn("kept", (F.col("score_e3") >= 0).cast("int"))


# --------------------------------------------------------------------------
# t50 — n-gram novelty: what fraction of each document's distinct word
# 3-grams appears HERE FIRST (corpus order = doc_id)? The incremental-crawl
# economics number: dedup-adjusted token yield of a new batch is its novelty
# mass, and near-zero novelty is the cheap first-pass signal for boilerplate
# and templated spam (the t05/t11 near-dup machinery then confirms). Exact
# and integer end to end: one shuffle of the shingle stream to attribute
# each shingle to its min doc_id, one shingle-keyed join back (co-partitioned
# with the agg's exchange), one doc_id rollup. 100 TB: identical shape to
# t05's candidate stream — work ∝ shingle count, never pairs; a hot shingle
# costs one combiner cell, not a bucket explosion.
# --------------------------------------------------------------------------
@query(
    "t50_ngram_novelty",
    oracle=f"""
    WITH sh AS (
        SELECT DISTINCT doc_id, unnest({D.oracle_shingles('text')}) AS shingle
        FROM documents
    ),
    firsts AS (SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY 1)
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT)        AS n_shingles,
           CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                AS BIGINT)                 AS n_first_here,
           CAST((sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                 * 10000) // count(*) AS BIGINT) AS novelty_e4
    FROM sh s JOIN firsts f USING (shingle)
    GROUP BY 1
    """,
)
def t50_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    sh = D.exploded_shingles(docs, "doc_id", "text", 3)
    firsts = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    first_here = F.sum(
        (F.col("first_doc") == F.col("doc_id")).cast("bigint")
    ).alias("n_first_here")
    return (
        sh.join(firsts, "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shingles"), first_here)
        .withColumn(
            "novelty_e4",
            F.expr("CAST((n_first_here * 10000) div n_shingles AS BIGINT)"),
        )
    )


# --------------------------------------------------------------------------
# t51 — DSIR-style importance weighting (Data Selection via Importance
# Resampling, Xie et al. NeurIPS'23): score every raw document by how much
# its hashed-bigram distribution looks like a TARGET domain (here the 'en'
# slice), then keep the top-k — the standard recipe for tilting a 100 TB
# crawl toward a curated domain without training a model. Features are
# hashed bigrams (multiplicity kept — this is a unigram-of-bigrams LM, not
# a set); per-bucket weights are add-one-smoothed target/raw likelihood
# ratios quantized ONCE to integer e6 (DSIR's log-ratio sum is replaced by
# an integer-quantized ratio sum so every downstream aggregate is exact
# BIGINT arithmetic — same bucket ordering intent, zero float drift; the
# e12 PSI row covers the log-family variant). 100 TB: ONE pass over the
# bigram stream (the expensive part: explode + the 12-nibble portable
# hash) into (doc, bucket) counts; the corpus statistics c_r/c_t are then
# bucket-partitioned window sums over that already-reduced relation —
# deriving them from the same lineage instead of re-scanning keeps the
# hash pass single (the naive 3-consumer plan re-exploded the corpus
# three times and measured ~4x slower at sf0.1) and adds no data-sized
# join anywhere.
# --------------------------------------------------------------------------
_T51_BUCKETS = 1024
_T51_TARGET_LANG = "en"
_T51_K = 25


def _t51_bigrams_sql(engine: str) -> str:
    """Bigram list WITH multiplicity over the [a-z0-9]+ token stream.

    The Spark form expects the token array ALREADY materialized as a
    column named ``toks`` — inlining the regexp inside the transform
    lambda re-evaluates it per element (O(len²) regex calls per doc,
    ~10x slower)."""
    if engine == "spark":
        return (
            "CASE WHEN size(toks) >= 2 THEN "
            "transform(sequence(0, size(toks) - 2),"
            " i -> concat(toks[i], ' ', toks[i + 1]))"
            " ELSE array() END"
        )
    toks = "regexp_extract_all(lower(text), '[a-z0-9]+')"
    return (
        f"list_transform(range(greatest(len({toks}) - 1, 0)),"
        f" i -> {toks}[i + 1] || ' ' || {toks}[i + 2])"
    )


@query(
    "t51_dsir_importance",
    oracle=f"""
    WITH b AS (
        SELECT doc_id, lang,
               {_hex48_sql('VARCHAR', 'bigram')} % {_T51_BUCKETS} AS bucket
        FROM (
            SELECT doc_id, lang, unnest({_t51_bigrams_sql('duckdb')}) AS bigram
            FROM documents
        )
    ),
    raw_c AS (SELECT bucket, count(*) AS c_r FROM b GROUP BY 1),
    tgt_c AS (SELECT bucket, count(*) AS c_t FROM b
              WHERE lang = '{_T51_TARGET_LANG}' GROUP BY 1),
    w AS (
        SELECT r.bucket,
               CAST(((coalesce(t.c_t, 0) + 1) * 1000000)
                    // (r.c_r + 1) AS BIGINT) AS w_e6
        FROM raw_c r LEFT JOIN tgt_c t USING (bucket)
    ),
    per_doc AS (
        SELECT doc_id, lang, bucket, count(*) AS cnt
        FROM b GROUP BY 1, 2, 3
    ),
    scored AS (
        SELECT p.doc_id, p.lang,
               CAST(sum(p.cnt) AS BIGINT)            AS n_bigrams,
               CAST(sum(p.cnt * w.w_e6) AS BIGINT)   AS importance_e6
        FROM per_doc p JOIN w USING (bucket)
        GROUP BY 1, 2
    )
    SELECT doc_id, lang, n_bigrams, importance_e6,
           CAST(importance_e6 // n_bigrams AS BIGINT) AS per_bigram_e6
    FROM scored
    ORDER BY per_bigram_e6 DESC, doc_id ASC
    LIMIT {_T51_K}
    """,
)
def t51_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    b = docs.select(
        "doc_id",
        "lang",
        F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)").alias("toks"),
    ).select(
        "doc_id", "lang", F.explode(F.expr(_t51_bigrams_sql("spark"))).alias("bigram")
    ).select(
        "doc_id",
        "lang",
        F.expr(f"{_hex48_sql('STRING', 'bigram')} % {_T51_BUCKETS}").alias("bucket"),
    )
    per_doc = b.groupBy("doc_id", "lang", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    bw = W.partitionBy("bucket")
    weighted = (
        per_doc.withColumn("c_r", F.sum("cnt").over(bw))
        .withColumn(
            "c_t",
            F.sum(
                F.when(F.col("lang") == _T51_TARGET_LANG, F.col("cnt")).otherwise(
                    F.lit(0)
                )
            ).over(bw),
        )
        .withColumn(
            "w_e6",
            F.expr("CAST(((c_t + 1) * 1000000) div (c_r + 1) AS BIGINT)"),
        )
    )
    scored = weighted.groupBy("doc_id", "lang").agg(
        F.sum("cnt").cast("bigint").alias("n_bigrams"),
        F.sum(F.col("cnt") * F.col("w_e6")).cast("bigint").alias("importance_e6"),
    )
    return (
        scored.withColumn(
            "per_bigram_e6",
            F.expr("CAST(importance_e6 div n_bigrams AS BIGINT)"),
        )
        .orderBy(F.desc("per_bigram_e6"), F.asc("doc_id"))
        .limit(_T51_K)
    )


# --------------------------------------------------------------------------
# t52 — token-budget allocation (quality-budgeted curation): every
# pretraining run ends with "spend at most B tokens per language, best
# docs first" — distinct from t15 (count quotas), t40 (weighted priority
# sample) and t48 (temperature acceptance): the budget is a MASS cap and
# the selection greedy by quality rank. Per language: cap = half the
# language's char mass; docs ranked by the t17 quality score (rnd4
# quantized → engine-identical total order, doc_id tiebreak); a doc is
# taken iff the mass already taken BEFORE it is under the cap (so the
# boundary doc may overshoot — the standard greedy knapsack relaxation,
# stated in the contract). Gated per language with an id-sum fingerprint
# that flips on any single selection change. 100 TB: one lang-partitioned
# window (ranking + running mass in the same exchange) — the same shape
# as every SCD/dedup window; no joins, no driver state.
# --------------------------------------------------------------------------
@query(
    "t52_quality_budget_selection",
    oracle=f"""
    WITH feats AS (
        SELECT doc_id, lang, n_chars,
               len(regexp_extract_all(text, '[a-z0-9]+'))    AS n_tokens,
               len(regexp_extract_all(text, '{_STOP_RE}'))   AS stop_hits,
               len(regexp_extract_all(text, '[a-z]'))        AS alpha_chars,
               length(text) AS len_chars
        FROM documents
    ),
    scored AS (
        SELECT doc_id, lang, n_chars,
               coalesce({oracle_rnd(
                   "0.5 * (stop_hits * 1.0 / nullif(n_tokens, 0))"
                   " + 0.3 * (least(n_tokens, 100) / 100.0)"
                   " + 0.2 * (alpha_chars * 1.0 / nullif(len_chars, 0))", 4)},
                   -1.0) AS q
        FROM feats
    ),
    ranked AS (
        SELECT doc_id, lang, n_chars, q,
               sum(n_chars) OVER (PARTITION BY lang)        AS lang_mass,
               coalesce(sum(n_chars) OVER (
                   PARTITION BY lang ORDER BY q DESC, doc_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0)                                        AS mass_before
        FROM scored
    ),
    sel AS (
        SELECT *, lang_mass // 2 AS cap_chars,
               CASE WHEN mass_before < lang_mass // 2 THEN 1 ELSE 0 END AS taken
        FROM ranked
    )
    SELECT lang,
           CAST(count(*) AS BIGINT)                          AS n_docs,
           CAST(max(cap_chars) AS BIGINT)                    AS cap_chars,
           CAST(sum(taken) AS BIGINT)                        AS n_selected,
           CAST(sum(taken * n_chars) AS BIGINT)              AS chars_selected,
           CAST((sum(taken * n_chars) * 10000) // max(cap_chars)
                AS BIGINT)                                   AS utilization_e4,
           CAST(sum(taken * doc_id) AS BIGINT)               AS sel_id_sum
    FROM sel
    GROUP BY lang
    """,
)
def t52_quality_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    scored = _quality_scored(docs).join(
        docs.select("doc_id", "n_chars"), "doc_id"
    )
    lw = W.partitionBy("lang")
    gw = lw.orderBy(F.desc("q"), F.asc("doc_id"))
    ranked = scored.select(
        "doc_id",
        "lang",
        "n_chars",
        F.sum("n_chars").over(lw).alias("lang_mass"),
        F.coalesce(
            F.sum("n_chars").over(gw.rowsBetween(W.unboundedPreceding, -1)),
            F.lit(0).cast("bigint"),
        ).alias("mass_before"),
    )
    sel = ranked.select(
        "lang",
        "doc_id",
        "n_chars",
        F.expr("lang_mass div 2").alias("cap_chars"),
        (F.col("mass_before") < F.expr("lang_mass div 2")).cast("bigint").alias("taken"),
    )
    return sel.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.max("cap_chars").cast("bigint").alias("cap_chars"),
        F.sum("taken").cast("bigint").alias("n_selected"),
        F.sum(F.col("taken") * F.col("n_chars")).cast("bigint").alias("chars_selected"),
        F.expr(
            "CAST((sum(taken * n_chars) * 10000) div max(cap_chars) AS BIGINT)"
        ).alias("utilization_e4"),
        F.sum(F.col("taken") * F.col("doc_id")).cast("bigint").alias("sel_id_sum"),
    )
