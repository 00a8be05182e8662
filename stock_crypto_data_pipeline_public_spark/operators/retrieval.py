"""Lexical retrieval: Okapi BM25 scoring as a reusable DataFrame builder.

Beyond-the-reference operator (BASELINE.json north star — training-data
curation pipelines rank/filter documents against fixed keyword sets, and
hybrid RAG retrieval fuses a lexical ranking with a vector ranking). The
reference has no retrieval scorer; the closest surface is its TF-IDF-style
dbt quality marts, so this follows the repo's t10 TF-IDF conventions.

Cross-engine contract (registry rules 1-7):

- Every per-term quantity is an exact integer (tf, df, dl, n_docs,
  total_tokens) computed by groupBy — map-side partials, one shuffle on
  (doc_id, term) reused for the df re-aggregation, exactly t10's shape.
- The only floating steps are the textbook BM25 formula's idf = ln(1 +
  (N - df + 0.5)/(df + 0.5)) (the Lucene/BM25+ form, always positive) and
  the tf saturation quotient. Both engines evaluate the IDENTICAL
  expression tree on identical integers, and the per-doc combination is
  NOT an order-sensitive SUM aggregate: per-term scores are pivoted out
  (max-of-case, one column per query term) and added in the FIXED literal
  term order — bit-for-bit associativity-safe on both engines, unlike
  t12's avg-of-many which leans on rounding to absorb order noise. The
  emitted score is still floor-rounded (functions/numeric.rnd) per
  registry rule 2.
- avgdl never appears as a divided-out intermediate: b·dl/avgdl is
  computed as (b · dl · N) / total_tokens — one double division on exact
  integers, identical both sides.

100 TB: the query-term table is tiny and broadcast (the tf filter is a
broadcast semi-join pushed into the scan); corpus stats (N, total_tokens)
are a broadcast 1-row aggregate (the q17 scalar-subquery shape — callers
registering plans must allowlist the 1-row BNLJ in explain_audit); the
big exploded token relation aggregates once on (doc_id, term) with
map-side combine and never reshuffles by term.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.numeric import oracle_rnd, rnd

K1 = 1.2
B = 0.75

#: the tokenizer shared with t02/t10/t12 (textops): lowercase alnum runs
TOKEN_RE = "[a-z0-9]+"


def bm25_scores(docs: DataFrame, terms: Sequence[str]) -> DataFrame:
    """documents(doc_id, text) × fixed query terms → one row per document
    matching ≥1 term: (doc_id, n_matched_terms, bm25 double UNROUNDED —
    callers round with rnd() at the emission edge per registry rule 2).

    Plan shape (ONE shuffle, no join chain): the exploded
    token relation aggregates ONCE by doc_id into (dl, tf_0..tf_k) — dl is
    count(*), each tf_i a conditional count for query term i (map-side
    partials, the fixed-term pivot IS the aggregation). Document
    frequencies and corpus stats re-aggregate that per-doc table into a
    SINGLE 1-row broadcast (df_i = count of docs with tf_i > 0; N; Σdl) —
    no (doc, term) shuffle and no dl⋈tf⋈dfreq join chain. The lazy plan
    still tokenizes twice (the 1-row scalar branch re-derives per_doc —
    Spark has no cross-consumer CSE); in production ``per_doc`` — one
    (k+2)-int row per DOCUMENT, ≪ the corpus — is the thing to persist,
    making the stats branch a small-relation read. Every quantity stays
    the same exact integer either way, so the double formula below is
    value-identical to the oracle CTE's."""
    toks = docs.select(
        "doc_id",
        F.explode(F.regexp_extract_all("text", F.lit(TOKEN_RE), 0)).alias("term"),
    )
    per_doc = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("dl"),
        *[
            F.sum(F.when(F.col("term") == t, 1).otherwise(0)).alias(f"_tf_{i}")
            for i, t in enumerate(terms)
        ],
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_tokens"),
        *[
            F.sum(F.when(F.col(f"_tf_{i}") > 0, 1).otherwise(0)).alias(f"_df_{i}")
            for i in range(len(terms))
        ],
    )
    scored = per_doc.crossJoin(F.broadcast(stats))

    def term_score(i: int):
        tf = F.col(f"_tf_{i}")
        df = F.col(f"_df_{i}")
        idf = F.log(
            1.0 + (F.col("n_docs") - df + 0.5) / (df + 0.5)
        )
        # b·dl/avgdl as (b·dl·N)/total_tokens: one division on exact ints
        norm_len = (B * F.col("dl") * F.col("n_docs")) / F.col("total_tokens")
        s = idf * (tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + norm_len)))
        return F.when(tf > 0, s).otherwise(F.lit(0.0))

    # fixed literal term order — order-independent exact double arithmetic
    # (a SUM aggregate's input order is engine-dependent; k adds are free)
    total = F.lit(0.0)
    n_matched = F.lit(0)
    for i in range(len(terms)):
        total = total + term_score(i)
        n_matched = n_matched + F.when(F.col(f"_tf_{i}") > 0, 1).otherwise(0)
    return scored.select(
        "doc_id",
        n_matched.cast("bigint").alias("n_matched_terms"),
        total.alias("bm25"),
    ).filter(F.col("n_matched_terms") > 0)


def bm25_oracle_ctes(terms: Sequence[str], docs_rel: str = "documents") -> str:
    """DuckDB CTE block mirroring :func:`bm25_scores` term for term; ends
    with relation ``bm25(doc_id, n_matched_terms, bm25)`` (unrounded)."""
    terms_sql = ", ".join(f"('{t}')" for t in terms)
    # bare fractional literals parse as DECIMAL in DuckDB (and Spark SQL) —
    # CAST every float constant so the arithmetic stays in the double
    # domain, mirroring the DataFrame side's Python-float literals
    # (registry rule 7's SQL-literal corollary, the t40 lesson)
    half = "CAST(0.5 AS DOUBLE)"
    one = "CAST(1.0 AS DOUBLE)"
    zero = "CAST(0.0 AS DOUBLE)"
    k1 = f"CAST({K1} AS DOUBLE)"
    b = f"CAST({B} AS DOUBLE)"
    pivot_sum = " + ".join(
        [zero]
        + [
            f"coalesce(max(CASE WHEN term = '{t}' THEN s END), {zero})"
            for t in terms
        ]
    )
    return f"""
    toks AS (
        SELECT doc_id,
               unnest(regexp_extract_all(text, '{TOKEN_RE}')) AS term
        FROM {docs_rel}
    ),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
    stats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_tokens FROM dl),
    qterms(term) AS (VALUES {terms_sql}),
    tf AS (
        SELECT doc_id, term, count(*) AS tf FROM toks
        WHERE term IN (SELECT term FROM qterms) GROUP BY 1, 2
    ),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    termscore AS (
        SELECT tf.doc_id, tf.term,
               ln({one} + (stats.n_docs - dfreq.df + {half}) / (dfreq.df + {half}))
               * (tf.tf * ({k1} + {one})
                  / (tf.tf + {k1} * (({one} - {b})
                     + ({b} * dl.dl * stats.n_docs) / stats.total_tokens)))
               AS s
        FROM tf
        JOIN dfreq USING (term)
        JOIN dl ON tf.doc_id = dl.doc_id
        CROSS JOIN stats
    ),
    -- per-term pivot + fixed-order addition: mirrors the Spark builder's
    -- order-independent combination exactly (no order-sensitive SUM)
    bm25 AS (
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_matched_terms,
               {pivot_sum} AS bm25
        FROM termscore
        GROUP BY 1
    )
    """


def oracle_bm25_rounded(decimals: int = 4) -> str:
    """The rounded emission expression for the ``bm25`` CTE's score."""
    return oracle_rnd("bm25.bm25", decimals)


def bm25_rounded(decimals: int = 4):
    """Spark twin of :func:`oracle_bm25_rounded`."""
    return rnd(F.col("bm25"), decimals)


#: fixed query battery for the gated t47/x23 rows — terms present in the
#: synthetic corpus vocabulary at every SF (TESTDATA.md)
BM25_QUERY_TERMS = ("hash", "join", "vector", "scan", "broadcast")
