"""Similarity search over the embeddings table (array<float> 64-dim).

x01 brute-force top-k cosine (exactness baseline), x02 sign-bit LSH buckets
(the ANN scale path), x03 per-label centroids (array aggregation), x04
pairwise similarity histogram (distribution check), x05 IVF coarse
quantization, x06 bucketed cosine near-dup, x07 probed IVF top-k search
(the full ANN query path), x08 GEMM exact k-NN (the BLAS throughput path),
x09 product-quantization ADC search (the memory-compression path), x10
IVF-PQ probed search (the full production pipeline: coarse quantize →
probe → ADC over codes), x11 sampled pair histogram (x04's documented
100 TB form: deterministic hash-mod sample, same block-pair machinery),
x12 k-means codebook refinement (Lloyd's iterations — the offline
training pass that upgrades x05/x09's seed centroids), x13 persisted-index
probed search, x14 semantic dedup (SemDeDup shape: within-cluster near-dup
components, keep the min-id representative), x15 SQ8 int8-quantized search
with exact rerank (the 4x-memory tier between floats and PQ), x16 the SQ8
candidate recall contract (exact-top-k coverage, hash-gated), x20
binary-quantized search (sign-bit packing to two int64 words, Hamming
popcount candidate scan, exact cosine rescore — the 32x-compression tier),
x21 its recall contract, x22 the IVF x BQ composed probe search (probe
prunes cells, codes shrink the in-cell scan, rerank touches R rows).
See operators/similarity.py for the cross-engine math contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.numeric import iavg, oracle_rnd, rnd
from ..operators import retrieval as RETR
from ..operators import similarity as S
from ..scratch import with_scratch
from ..sources.tables import HEAVY, fan_out, load_table, local_rows
from .registry import query


EMB_DIM = 64  # fixed embedding width (TESTDATA.md); lets dot/norm compile flat


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


# --------------------------------------------------------------------------
# x01 — brute-force k-NN: 10 query vectors vs the full table, cosine top-5
# each. The broadcast of the tiny query side makes this a map-only pass over
# the corpus — the right plan at any corpus size (queries are always small).
# --------------------------------------------------------------------------
@query(
    "x01_knn_cosine",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
    scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id, e.label AS neighbor_label,
               {oracle_rnd(S.oracle_cosine('q.qe', 'e.embedding'), 4)} AS cosine_sim
        FROM q JOIN embeddings e ON e.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, neighbor_label, cosine_sim, rk
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC
        ) AS rk
        FROM scored
    )
    WHERE rk <= 5
    """,
)
def x01_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-row norms are computed ONCE per side (n + 10 norms, not 2 per pair);
    # the pair loop is a single flat dot product. NOTE: do NOT split the
    # embedding into 64 aliased scalar columns here — re-aliasing 64 columns
    # across this self-join makes Catalyst's constraint propagation explode
    # (driver OOM during optimization); the single-expression getItem chain
    # keeps the constraint set at one attribute.
    emb = _emb(spark, sf_dir).withColumn("nrm", S.norm("embedding", EMB_DIM))
    # single-file corpus = single partition; spread the streamed side so the
    # broadcast nested-loop scoring parallelizes
    emb = fan_out(emb, HEAVY, "vec_id")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qnrm"),
    )
    sim = S.dot("qe", "embedding", EMB_DIM) / F.nullif(
        F.col("qnrm") * F.col("nrm"), F.lit(0.0)
    )
    scored = (
        F.broadcast(q)
        .join(emb, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("neighbor_label"),
            rnd(sim, 4).alias("cosine_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 5)


# --------------------------------------------------------------------------
# x02 — sign-bit LSH bucketing: 4 axis-aligned hyperplanes → 16 buckets;
# per-bucket sizes and candidate-pair counts. At scale this bucket id is the
# write-time partition key, turning ANN into per-partition local joins.
# --------------------------------------------------------------------------
@query(
    "x02_lsh_ann_buckets",
    oracle=f"""
    WITH b AS (
        SELECT vec_id, {S.oracle_sign_bucket('embedding')} AS bucket FROM embeddings
    )
    SELECT bucket,
           count(*)                       AS n_vecs,
           count(*) * (count(*) - 1) // 2 AS n_candidate_pairs
    FROM b
    GROUP BY bucket
    """,
)
def x02_lsh_ann_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    b = emb.select("vec_id", S.sign_bucket("embedding").alias("bucket"))
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.expr("count(1) * (count(1) - 1) div 2").alias("n_candidate_pairs"),
    )


# --------------------------------------------------------------------------
# x03 — per-label centroids in long form (label, dim, value): posexplode +
# groupBy — the distributed way to average vectors (never collect arrays to
# the driver). Output 0-based dims.
# --------------------------------------------------------------------------
@query(
    "x03_label_centroids",
    oracle=f"""
    WITH flat AS (
        SELECT label,
               generate_subscripts(embedding, 1) - 1 AS dim,
               unnest(embedding) AS v
        FROM embeddings
    )
    SELECT label, dim,
           {oracle_rnd('sum(CAST(v AS DOUBLE)) / count(*)', 4)} AS centroid_val,
           count(*) AS n_vecs
    FROM flat
    GROUP BY label, dim
    """,
)
def x03_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    flat = emb.select("label", F.posexplode("embedding").alias("dim", "v"))
    return flat.groupBy("label", "dim").agg(
        rnd(F.sum(F.col("v").cast("double")) / F.count(F.lit(1)), 4).alias("centroid_val"),
        F.count(F.lit(1)).alias("n_vecs"),
    )


# --------------------------------------------------------------------------
# x05 — IVF coarse quantization: K seed centroids (the first K vectors),
# every vector assigned to its max-cosine centroid. At write time this
# assignment is the partition key — ANN probes only the query's nearest
# cluster(s) instead of the corpus (the IVF counterpart to x02's LSH).
# --------------------------------------------------------------------------
IVF_K = 8


@query(
    "x05_ivf_assign",
    oracle=f"""
    WITH seeds AS (
        SELECT vec_id AS centroid_id, embedding AS ce FROM embeddings WHERE vec_id < {IVF_K}
    ),
    scored AS (
        SELECT e.vec_id, s.centroid_id,
               {S.oracle_cosine('e.embedding', 's.ce')} AS sim
        FROM embeddings e JOIN seeds s ON true
    ),
    assigned AS (
        SELECT vec_id, centroid_id, sim FROM scored
        QUALIFY row_number() OVER (
            PARTITION BY vec_id ORDER BY sim DESC, centroid_id ASC
        ) = 1
    )
    SELECT centroid_id,
           count(*)                         AS n_vecs,
           {oracle_rnd('avg(sim)', 4)}      AS avg_sim
    FROM assigned
    GROUP BY centroid_id
    """,
)
def x05_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir).withColumn("nrm", S.norm("embedding", EMB_DIM))
    emb = fan_out(emb, HEAVY, "vec_id")
    seeds = emb.filter(F.col("vec_id") < IVF_K).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("ce"),
        F.col("nrm").alias("cnrm"),
    )
    sim = S.dot("embedding", "ce", EMB_DIM) / F.nullif(
        F.col("nrm") * F.col("cnrm"), F.lit(0.0)
    )
    scored = emb.crossJoin(F.broadcast(seeds)).select(
        "vec_id", "centroid_id", sim.alias("sim")
    )
    w = W.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("centroid_id"))
    assigned = scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1)
    return assigned.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        rnd(F.avg("sim"), 4).alias("avg_sim"),
    )


# --------------------------------------------------------------------------
# x07 — IVF probed top-k search: the full ANN path that x05's assignment
# enables. Corpus vectors are assigned to their nearest of K=8 coarse
# centroids (map-only broadcast scoring); each query probes its P=2 nearest
# centroids and scores ONLY vectors assigned there, via a broadcast hash
# equi-join on centroid_id — work ∝ probed clusters (~2/K of the corpus),
# never the n² of x01's exact scan. At write time centroid_id is the
# partition key, so the probe join prunes whole partitions.
# --------------------------------------------------------------------------
IVF_NPROBE = 2


@query(
    "x07_ivf_probe_search",
    oracle=f"""
    WITH seeds AS (
        SELECT vec_id AS centroid_id, embedding AS ce FROM embeddings WHERE vec_id < {IVF_K}
    ),
    assigned AS (
        SELECT e.vec_id, e.label, e.embedding, s.centroid_id FROM embeddings e
        JOIN seeds s ON true
        QUALIFY row_number() OVER (
            PARTITION BY e.vec_id
            ORDER BY {S.oracle_cosine('e.embedding', 's.ce')} DESC, s.centroid_id ASC
        ) = 1
    ),
    q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
          WHERE vec_id >= 100 AND vec_id < 110),
    probes AS (
        SELECT q.query_id, q.qe, s.centroid_id FROM q
        JOIN seeds s ON true
        QUALIFY row_number() OVER (
            PARTITION BY q.query_id
            ORDER BY {S.oracle_cosine('q.qe', 's.ce')} DESC, s.centroid_id ASC
        ) <= {IVF_NPROBE}
    ),
    scored AS (
        SELECT p.query_id, a.vec_id AS neighbor_id, a.label AS neighbor_label,
               {oracle_rnd(S.oracle_cosine('p.qe', 'a.embedding'), 4)} AS cosine_sim
        FROM probes p JOIN assigned a
          ON a.centroid_id = p.centroid_id AND a.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id, neighbor_label, cosine_sim, rk
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC
        ) AS rk
        FROM scored
    )
    WHERE rk <= 5
    """,
)
def x07_ivf_probe_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir).withColumn("nrm", S.norm("embedding", EMB_DIM))
    emb = fan_out(emb, HEAVY, "vec_id")
    seeds = emb.filter(F.col("vec_id") < IVF_K).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("ce"),
        F.col("nrm").alias("cnrm"),
    )

    # corpus → nearest centroid (same map-only broadcast scoring as x05)
    a_sim = S.dot("embedding", "ce", EMB_DIM) / F.nullif(
        F.col("nrm") * F.col("cnrm"), F.lit(0.0)
    )
    aw = W.partitionBy("vec_id").orderBy(F.desc("a_sim"), F.asc("centroid_id"))
    assigned = (
        emb.crossJoin(F.broadcast(seeds))
        .select("vec_id", "label", "embedding", "nrm", "centroid_id", a_sim.alias("a_sim"))
        .withColumn("rk", F.row_number().over(aw))
        .filter(F.col("rk") == 1)
        .drop("a_sim", "rk")
    )

    # queries → top-P probe centroids (10 × 8 rows, driver-trivial)
    q = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 110)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qnrm"),
    )
    p_sim = S.dot("qe", "ce", EMB_DIM) / F.nullif(
        F.col("qnrm") * F.col("cnrm"), F.lit(0.0)
    )
    pw = W.partitionBy("query_id").orderBy(F.desc("p_sim"), F.asc("centroid_id"))
    probes = (
        q.crossJoin(F.broadcast(seeds))
        .select("query_id", "qe", "qnrm", "centroid_id", p_sim.alias("p_sim"))
        .withColumn("rk", F.row_number().over(pw))
        .filter(F.col("rk") <= IVF_NPROBE)
        .drop("p_sim", "rk")
    )

    # probe join: broadcast the tiny (query, centroid) side; equi-join on
    # centroid_id keeps the scan limited to probed clusters
    s_sim = S.dot("qe", "embedding", EMB_DIM) / F.nullif(
        F.col("qnrm") * F.col("nrm"), F.lit(0.0)
    )
    scored = (
        assigned.join(
            F.broadcast(probes),
            ["centroid_id"],
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("neighbor_label"),
            rnd(s_sim, 4).alias("cosine_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 5)


# --------------------------------------------------------------------------
# x06 — embedding-cosine near-dup via LSH candidate buckets: pairs share a
# sign bucket (equi-join, work ∝ bucket sizes, never n²), exact cosine on
# candidates, keep pairs above threshold. The scale-path dedup join — x04 is
# its exactness baseline (LSH trades recall for the equi-join). The first
# pass of this plan shape pays a large codegen/JIT warm-up, so a best-of-2
# timing can swing without a plan change.
# --------------------------------------------------------------------------
NEARDUP_THRESHOLD = 0.35


@query(
    "x06_bucketed_cosine_neardup",
    oracle=f"""
    WITH b AS (
        SELECT vec_id, label, embedding,
               {S.oracle_sign_bucket('embedding')} AS bucket
        FROM embeddings
    ),
    pairs AS (
        SELECT a.vec_id AS vec_a, b2.vec_id AS vec_b,
               (a.label = b2.label) AS same_label,
               {oracle_rnd(S.oracle_cosine('a.embedding', 'b2.embedding'), 4)} AS cosine_sim
        FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
    )
    SELECT vec_a, vec_b, same_label, cosine_sim
    FROM pairs
    WHERE cosine_sim >= {NEARDUP_THRESHOLD}
    ORDER BY cosine_sim DESC, vec_a ASC, vec_b ASC
    LIMIT 50
    """,
)
def x06_bucketed_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir).select(
        "vec_id", "label", "embedding",
        S.sign_bucket("embedding").alias("bucket"),
        S.norm("embedding", EMB_DIM).alias("nrm"),
    )
    a = emb.repartition(spark.sparkContext.defaultParallelism, "bucket").alias("a")
    b = emb.alias("b")
    sim = S.dot("a.embedding", "b.embedding", EMB_DIM) / F.nullif(
        F.col("a.nrm") * F.col("b.nrm"), F.lit(0.0)
    )
    pairs = (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            (F.col("a.label") == F.col("b.label")).alias("same_label"),
            rnd(sim, 4).alias("cosine_sim"),
        )
    )
    # top-50 FIRST, threshold filter on the <=50 survivors: provably the
    # same result as filter-then-top-50 (the sort key IS the filter column,
    # so the top 50 contain every above-threshold row that can appear), but
    # the pre-filter form made Catalyst substitute the 64-term dot into the
    # Filter predicate AND the Project — evaluating the expensive cosine
    # TWICE per candidate pair.
    return (
        pairs.orderBy(F.desc("cosine_sim"), F.asc("vec_a"), F.asc("vec_b"))
        .limit(50)
        .filter(F.col("cosine_sim") >= NEARDUP_THRESHOLD)
    )


def _block_pair_histogram(spark: SparkSession, emb: DataFrame) -> DataFrame:
    """Exact pair-cosine bucket histogram over ``emb`` (vec_id, embedding)
    via the shared block-pair self-join (operators/blockpair.py) — the
    machinery of x04 (full corpus) and x11 (deterministic sample). See x04
    for the scale rationale."""
    import numpy as np

    from ..operators.blockpair import block_pair_partials

    def score(ids_a, vals_a, ids_b, vals_b, mask):
        import pandas as pd

        def normed(vals):
            M = np.array(vals, dtype=np.float64)
            nrm = np.linalg.norm(M, axis=1, keepdims=True)
            nrm[nrm == 0.0] = np.nan
            return M / nrm

        sims = normed(vals_a) @ normed(vals_b).T
        buckets = np.floor(sims[mask] * 10).astype(np.int64)
        uniq, counts = np.unique(buckets, return_counts=True)
        return pd.DataFrame({"sim_bucket": uniq.astype("int32"),
                             "n_pairs": counts.astype("int64")})

    partial = block_pair_partials(
        spark, emb, "vec_id", "embedding", score, "sim_bucket int, n_pairs long"
    )
    return partial.groupBy("sim_bucket").agg(F.sum("n_pairs").alias("n_pairs"))


# --------------------------------------------------------------------------
# x04 — pairwise cosine histogram (0.1-wide buckets over all pairs).
# O(n²) — the exactness/distribution baseline that LSH (x02) approximates;
# at corpus scale this runs per-bucket, never globally (docstring contract).
# --------------------------------------------------------------------------
@query(
    "x04_cosine_pair_histogram",
    oracle=f"""
    WITH pairs AS (
        SELECT CAST(floor({S.oracle_cosine('a.embedding', 'b.embedding')} * 10) AS INT) AS sim_bucket
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    )
    SELECT sim_bucket, count(*) AS n_pairs
    FROM pairs
    GROUP BY sim_bucket
    """,
)
def x04_cosine_pair_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact all-pairs histogram as a BLOCK-PAIR SELF-JOIN — fully
    # executor-side, no driver collect and no full-corpus broadcast:
    #   1. each vector hashes to one of B blocks; a block collapses to ONE
    #      row carrying its (vec_id, embedding) structs (one shuffle);
    #   2. the B-row block table joins to itself on bid_a <= bid_b, giving
    #      every unordered block pair exactly once (B(B+1)/2 tasks);
    #   3. each pair GEMMs in Arrow-batched numpy and emits only a ~20-row
    #      partial bucket histogram; a final groupBy sums partials.
    # Scale: shuffle volume is corpus × B (block replication), work is the
    # irreducible n²/2 dot products spread across B(B+1)/2 independent
    # tasks — the form that survives a 1000-executor cluster, vs. the
    # previous corpus-broadcast variant that died once the corpus outgrew
    # one executor. B grows ~sqrt(2·parallelism) so tasks ≥ cores.
    #
    # Determinism note: GEMM accumulation order differs from the oracle's
    # sequential fold by ~1e-15; a pair could flip its floor(sim*10) bucket
    # only if its cosine sits within that distance of a 0.1 boundary. The
    # fixture data is FIXED and the histogram is verified hash-identical to
    # the fold oracle at sf0.001/0.01/0.1, so the gate is deterministic;
    # bit-exact JVM-side pair scoring remains demonstrated by x01/x06.
    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    return _block_pair_histogram(spark, emb)


# --------------------------------------------------------------------------
# x11 — SAMPLED pair histogram: the documented 100 TB form of x04
# (SCALE.md "Exact → approximate swaps"). A deterministic hash-mod sample
# (vec_id % 5 = 0 — portable, no RNG, cluster-stable) cuts the pair space
# 25× before the same block-pair machinery runs. At scale the sample rate
# is the knob: pair work falls with rate², and the histogram remains an
# unbiased distribution estimate with quantifiable error.
# --------------------------------------------------------------------------
@query(
    "x11_sampled_pair_histogram",
    oracle=f"""
    WITH s AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0),
    pairs AS (
        SELECT CAST(floor({S.oracle_cosine('a.embedding', 'b.embedding')} * 10) AS INT) AS sim_bucket
        FROM s a JOIN s b ON a.vec_id < b.vec_id
    )
    SELECT sim_bucket, count(*) AS n_pairs
    FROM pairs
    GROUP BY sim_bucket
    """,
)
def x11_sampled_pair_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = (
        _emb(spark, sf_dir)
        .filter(F.col("vec_id") % 5 == 0)
        .select("vec_id", "embedding")
    )
    return _block_pair_histogram(spark, emb)


# --------------------------------------------------------------------------
# x08 — GEMM brute-force top-k: the THROUGHPUT path for exact k-NN. The
# Catalyst fold (x01) is the bit-exact oracle baseline; for raw scoring
# speed the right tool is BLAS — queries broadcast as a normalized numpy
# matrix, the corpus streamed through mapInPandas in Arrow batches, each
# batch scored with one matrix multiply (batch×dim @ dim×queries), local
# top-k per batch, then a global top-k over the tiny candidate set
# (≤ k·batches rows per query). This is the classic two-phase distributed
# top-k: no all-pair shuffle, and the driver never sees raw scores.
#
# Registered WITHOUT an oracle (rows-only gate): GEMM accumulates in a
# different order than the sequential fold, so values agree only to ~1e-12 —
# tests/test_properties.py asserts x08 ≡ x01 after 4-dp rounding instead.
# --------------------------------------------------------------------------
@query(
    "x08_gemm_topk",
    # Same answer as x01 by construction (tests/test_properties.py asserts
    # x08 == x01 row-for-row), so the SAME oracle hash-gates it: the GEMM
    # path's half-up 4-dp rounding matches oracle_rnd's contract.
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
    scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id, e.label AS neighbor_label,
               {oracle_rnd(S.oracle_cosine('q.qe', 'e.embedding'), 4)} AS cosine_sim
        FROM q JOIN embeddings e ON e.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, neighbor_label, cosine_sim, rk
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC
        ) AS rk
        FROM scored
    )
    WHERE rk <= 5
    """,
)
def x08_gemm_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    K = 5
    emb = _emb(spark, sf_dir).select("vec_id", "label", "embedding")
    qrows = emb.filter(F.col("vec_id") < 10).collect()  # queries: always tiny
    qids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    Q = np.array([r["embedding"] for r in qrows], dtype=np.float64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    bq = spark.sparkContext.broadcast((qids, Qn))

    schema = "query_id long, neighbor_id long, neighbor_label int, cosine_sim double"

    def score(batches):
        import pandas as pd

        q_ids, q_mat = bq.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            nrm = np.linalg.norm(M, axis=1, keepdims=True)
            nrm[nrm == 0.0] = np.nan
            sims = (M / nrm) @ q_mat.T  # batch × queries, one GEMM
            # deterministic half-up 4-dp rounding — the same contract as rnd()
            sims = np.floor(sims * 10000 + 0.5) / 10000.0
            ids = pdf["vec_id"].to_numpy()
            labels = pdf["label"].to_numpy()
            out = []
            for j, qid in enumerate(q_ids):
                col = sims[:, j]
                mask = ids != qid
                cand_idx = np.nonzero(mask)[0]
                if len(cand_idx) == 0:
                    continue
                # local top-k by (sim desc, id asc): lexsort keys reversed
                order = np.lexsort((ids[cand_idx], -col[cand_idx]))[:K]
                sel = cand_idx[order]
                out.append(
                    pd.DataFrame(
                        {
                            "query_id": qid,
                            "neighbor_id": ids[sel],
                            "neighbor_label": labels[sel],
                            "cosine_sim": col[sel],
                        }
                    )
                )
            if out:
                yield pd.concat(out, ignore_index=True)

    cand = fan_out(emb, HEAVY, "vec_id").mapInPandas(score, schema)
    w = W.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return cand.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= K)


# --------------------------------------------------------------------------
# x09 — product quantization + asymmetric-distance (ADC) search: the
# memory-compression ANN path. The 64-dim space splits into M=8 subspaces;
# each subspace gets a K=16-codeword codebook (subvectors of the first K
# corpus vectors — deterministic seeding, same convention as x05's IVF
# seeds). Every corpus vector is ENCODED as 8 four-bit codes (64 floats →
# 4 bytes, a 64× memory cut); a query never decodes the corpus — it builds
# an M×K lookup table of squared L2 distances to every codeword and scores
# a vector as the sum of 8 table lookups (Jégou et al., "Product
# Quantization for Nearest Neighbor Search", TPAMI 2011 — public method).
#
# Plan shape: encode is a MAP-ONLY projection — the driver-side codebook
# turns each subspace's nearest-codeword id into an argmin over 16
# literal-coefficient distance expressions (array_min + array_position),
# so the corpus is scanned once with NO encode-side shuffle or join. The
# query lookup tables re-enter the plan as literal arrays — ADC scoring is
# a map-only pass of 40 array lookups per row, and the
# final top-10 window moves just (query_id, neighbor_id, dist) rows. At
# 100 TB the codes table IS the stored index (written once, 4 bytes/vector)
# and ADC scans codes instead of embeddings — this query demonstrates both
# the encode and the search halves. Floats: every subspace distance is the
# same left-to-right 8-term fold on both engines; the cross-subspace sum is
# a fixed m=0..7 chain (Spark) == list_sum over an m-ordered list (DuckDB),
# so doubles are bit-identical before the final 4-dp round.
# --------------------------------------------------------------------------
PQ_M = 8                      # subspaces
PQ_SUB = EMB_DIM // PQ_M      # dims per subspace
PQ_K = 16                     # codewords per subspace
PQ_Q_LO, PQ_Q_HI = 200, 205   # query vec_ids
PQ_TOPK = 10


def _pq_oracle() -> str:
    d_corpus = S.oracle_l2sq_slice("e.embedding", f"c.m * {PQ_SUB}", "c.cw", PQ_SUB)
    d_query = S.oracle_l2sq_slice("q.qe", f"c.m * {PQ_SUB}", "c.cw", PQ_SUB)
    return f"""
    WITH ms AS (SELECT unnest(range({PQ_M})) AS m),
    cb AS (
        SELECT ms.m, CAST(s.vec_id AS INT) AS k,
               list_transform(range({PQ_SUB}),
                   j -> CAST(s.embedding[ms.m * {PQ_SUB} + j + 1] AS DOUBLE)) AS cw
        FROM embeddings s CROSS JOIN ms WHERE s.vec_id < {PQ_K}
    ),
    codes AS (
        SELECT vec_id, m, k FROM (
            SELECT e.vec_id, c.m, c.k,
                   row_number() OVER (
                       PARTITION BY e.vec_id, c.m
                       ORDER BY {d_corpus} ASC, c.k ASC
                   ) AS rn
            FROM embeddings e CROSS JOIN cb c
        ) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
          WHERE vec_id >= {PQ_Q_LO} AND vec_id < {PQ_Q_HI}),
    qtab AS (
        SELECT q.query_id, c.m, c.k, {d_query} AS qd
        FROM q CROSS JOIN cb c
    ),
    adc AS (
        SELECT t.query_id, codes.vec_id AS neighbor_id,
               list_sum(list(t.qd ORDER BY t.m)) AS adc
        FROM codes JOIN qtab t ON t.m = codes.m AND t.k = codes.k
        WHERE codes.vec_id <> t.query_id
        GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, adc_dist, rk
    FROM (
        SELECT query_id, neighbor_id,
               {oracle_rnd('adc', 4)} AS adc_dist,
               row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY {oracle_rnd('adc', 4)} ASC, neighbor_id ASC
               ) AS rk
        FROM adc
    )
    WHERE rk <= {PQ_TOPK}
    """


@query("x09_pq_adc_search", oracle=_pq_oracle())
def x09_pq_adc_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)

    # ---- one tiny pushed-down collect: seed + query vectors --------------
    # The codebook and query lookup tables are built driver-side in plain
    # Python. Float contract holds: float32 -> float64 widening is exact,
    # and each (x - c)*(x - c) left-to-right fold below is the same IEEE
    # double op sequence Spark's expression chain and DuckDB's list_sum
    # fold execute — elementary-op determinism, no library summation.
    small = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.filter(
            (F.col("vec_id") < PQ_K)
            | ((F.col("vec_id") >= PQ_Q_LO) & (F.col("vec_id") < PQ_Q_HI))
        ).collect()
    }
    cw = {
        (m, k): [small[k][m * PQ_SUB + j] for j in range(PQ_SUB)]
        for m in range(PQ_M)
        for k in range(PQ_K)
    }

    def _l2sq(vec: list[float], m: int, k: int) -> float:
        acc = 0.0
        for j in range(PQ_SUB):
            x = vec[m * PQ_SUB + j] - cw[(m, k)][j]
            acc = acc + x * x
        return acc

    qtab = {
        qid: [[_l2sq(small[qid], m, k) for k in range(PQ_K)] for m in range(PQ_M)]
        for qid in sorted(small)
        if PQ_Q_LO <= qid < PQ_Q_HI
    }

    # ---- encode: MAP-ONLY — one projection computes all 8 codes ----------
    # The codebook is driver-side (16 codewords × 8 subspaces of the seed
    # vectors), so each subspace's nearest-codeword id is a closed-form
    # argmin over 16 literal-coefficient distance expressions: no explode,
    # no join, no aggregation — encode is pure whole-stage-codegen'd
    # projection, the shape a 100 TB encode pass wants (scan → project →
    # write codes). A posexplode → broadcast-join → min_by encode pays two
    # shuffles and a 128-rows-per-vector intermediate for the same result.
    # Distances fold left-to-right per j — the identical IEEE op sequence
    # as the previous zip_with/aggregate fold, _l2sq above, and the
    # oracle's list_sum, so doubles stay bit-identical. argmin ties break
    # to the smallest k: array_position returns the FIRST index of the min.
    spread = fan_out(emb, HEAVY, "vec_id")
    # one projection of the 64 scalar components so each is read once, not
    # once per (k, j) distance term. The big argmin/LUT expressions below
    # are assembled as SQL TEXT and parsed with ONE F.expr each — building
    # them operator-by-operator costs thousands of py4j round trips
    # (seconds of driver time for ~1k terms); string assembly is
    # free and the JVM parses 100 KB of SQL in milliseconds. Double
    # literals use repr() (shortest exact round-trip) with the D suffix so
    # Spark parses them as DOUBLE, not DECIMAL — values stay bit-identical.
    comps = spread.select(
        "vec_id",
        *[
            F.element_at("embedding", i + 1).cast("double").alias(f"e{i}")
            for i in range(PQ_M * PQ_SUB)
        ],
    )

    # Distances are a data-driven HOF fold over the codebook held as a
    # LITERAL array-of-arrays, not 16 unrolled 8-term chains per subspace:
    # the unrolled form put ~1k flat terms in one codegen method — past the
    # JIT's bytecode limit, so it ran interpreted (similarity.dot's
    # finding; codes identical). The fold is the same left-to-right (x−c)²
    # accumulation as _l2sq and the oracle.
    def _code_sql(m: int) -> str:
        cbs = "array(" + ", ".join(
            "array(" + ", ".join(f"{v!r}D" for v in cw[(m, k)]) + ")"
            for k in range(PQ_K)
        ) + ")"
        sub = "array(" + ", ".join(f"e{m * PQ_SUB + j}" for j in range(PQ_SUB)) + ")"
        darr = (
            f"transform({cbs}, cwv -> aggregate(zip_with({sub}, cwv, "
            f"(x, c) -> (x - c) * (x - c)), 0.0D, (acc, v) -> acc + v))"
        )
        return f"CAST(array_position({darr}, array_min({darr})) - 1 AS INT)"

    codes = comps.select(
        "vec_id", *[F.expr(_code_sql(m)).alias(f"code{m}") for m in range(PQ_M)]
    )

    # ---- ADC: map-only lookup-sum per (query, vector), then top-10 -------
    per_query = []
    for qid in sorted(qtab):
        acc = "0.0D"
        for m in range(PQ_M):
            lut = "array(" + ", ".join(f"{v!r}D" for v in qtab[qid][m]) + ")"
            acc = f"({acc} + element_at({lut}, code{m} + 1))"
        per_query.append(f"struct({qid}L AS query_id, {acc} AS adc)")
    adc = (
        codes.select(
            "vec_id",
            F.explode(F.expr("array(" + ", ".join(per_query) + ")")).alias("s"),
        )
        .select(
            F.col("s.query_id").alias("query_id"),
            F.col("vec_id").alias("neighbor_id"),
            rnd(F.col("s.adc"), 4).alias("adc_dist"),
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    w = W.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return adc.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= PQ_TOPK)


# --------------------------------------------------------------------------
# x10 — IVF-PQ probed search: the full production ANN pipeline (FAISS
# IVFADC; Jégou et al. TPAMI 2011, public method) composed from the parts
# this suite already verifies one by one: x05's coarse quantization (K=8
# seed centroids, max-cosine assignment), x09's product quantization (8×16
# subspace codebooks, 4-bit codes) and ADC lookup-table scoring, x07's
# probing discipline (each query searches only its P=2 nearest clusters).
#
# Plan shape: one corpus pass assigns vectors to centroids (8-row broadcast
# + per-vector argmax window); the probe filter then cuts the corpus to the
# probed clusters BEFORE PQ encoding, so encode work is ∝ probed fraction —
# the property that makes IVF-PQ the shape that survives 100 TB (at write
# time assignment+codes are precomputed once and partitioned by centroid;
# the probe becomes partition pruning and the scan reads 4-byte codes, not
# 256-byte vectors). Probe lists and query lookup tables are driver-side
# Python over the same collected seed/query vectors as x09 — explicit
# left-to-right IEEE folds, bit-identical to both engines' expression
# chains. Candidate scoring is map-only ADC; the final top-10 window moves
# only (query_id, neighbor_id, dist) rows.
# --------------------------------------------------------------------------
IVFPQ_NPROBE = 2


def _ivfpq_oracle() -> str:
    d_corpus = S.oracle_l2sq_slice("e.embedding", f"c.m * {PQ_SUB}", "c.cw", PQ_SUB)
    d_query = S.oracle_l2sq_slice("q.qe", f"c.m * {PQ_SUB}", "c.cw", PQ_SUB)
    return f"""
    WITH seeds AS (
        SELECT vec_id AS centroid_id, embedding AS ce FROM embeddings
        WHERE vec_id < {IVF_K}
    ),
    assigned AS (
        SELECT vec_id, embedding, centroid_id FROM (
            SELECT e.vec_id, e.embedding, s.centroid_id,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {S.oracle_cosine('e.embedding', 's.ce')} DESC,
                                s.centroid_id ASC
                   ) AS rn
            FROM embeddings e CROSS JOIN seeds s
        ) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
          WHERE vec_id >= {PQ_Q_LO} AND vec_id < {PQ_Q_HI}),
    probes AS (
        SELECT query_id, centroid_id FROM (
            SELECT q.query_id, s.centroid_id,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {S.oracle_cosine('q.qe', 's.ce')} DESC,
                                s.centroid_id ASC
                   ) AS rn
            FROM q CROSS JOIN seeds s
        ) WHERE rn <= {IVFPQ_NPROBE}
    ),
    ms AS (SELECT unnest(range({PQ_M})) AS m),
    cb AS (
        SELECT ms.m, CAST(s.vec_id AS INT) AS k,
               list_transform(range({PQ_SUB}),
                   j -> CAST(s.embedding[ms.m * {PQ_SUB} + j + 1] AS DOUBLE)) AS cw
        FROM embeddings s CROSS JOIN ms WHERE s.vec_id < {PQ_K}
    ),
    cand AS (
        SELECT p.query_id, a.vec_id, a.embedding
        FROM probes p JOIN assigned a USING (centroid_id)
        WHERE a.vec_id <> p.query_id
    ),
    codes AS (
        SELECT vec_id, m, k FROM (
            SELECT e.vec_id, c.m, c.k,
                   row_number() OVER (
                       PARTITION BY e.vec_id, c.m
                       ORDER BY {d_corpus} ASC, c.k ASC
                   ) AS rn
            FROM (SELECT DISTINCT vec_id, embedding FROM cand) e
            CROSS JOIN cb c
        ) WHERE rn = 1
    ),
    qtab AS (
        SELECT q.query_id, c.m, c.k, {d_query} AS qd FROM q CROSS JOIN cb c
    ),
    adc AS (
        SELECT cand.query_id, cand.vec_id AS neighbor_id,
               list_sum(list(t.qd ORDER BY t.m)) AS adc
        FROM cand
        JOIN codes ON codes.vec_id = cand.vec_id
        JOIN qtab t ON t.query_id = cand.query_id
                   AND t.m = codes.m AND t.k = codes.k
        GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, adc_dist, rk
    FROM (
        SELECT query_id, neighbor_id,
               {oracle_rnd('adc', 4)} AS adc_dist,
               row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY {oracle_rnd('adc', 4)} ASC, neighbor_id ASC
               ) AS rk
        FROM adc
    )
    WHERE rk <= {PQ_TOPK}
    """


@query("x10_ivfpq_search", oracle=_ivfpq_oracle())
def x10_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)

    # seed + query vectors, once; same float contract as x09
    small = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.filter(
            (F.col("vec_id") < PQ_K)
            | ((F.col("vec_id") >= PQ_Q_LO) & (F.col("vec_id") < PQ_Q_HI))
        ).collect()
    }
    cw = {
        (m, k): [small[k][m * PQ_SUB + j] for j in range(PQ_SUB)]
        for m in range(PQ_M)
        for k in range(PQ_K)
    }

    def _dot(a: list[float], b: list[float]) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    def _cos(a: list[float], b: list[float]) -> float:
        na, nb = 0.0, 0.0
        for x in a:
            na = na + x * x
        for y in b:
            nb = nb + y * y
        den = (na ** 0.5) * (nb ** 0.5)
        return _dot(a, b) / den if den != 0.0 else float("nan")

    def _l2sq(vec: list[float], m: int, k: int) -> float:
        acc = 0.0
        for j in range(PQ_SUB):
            x = vec[m * PQ_SUB + j] - cw[(m, k)][j]
            acc = acc + x * x
        return acc

    qids = [v for v in sorted(small) if PQ_Q_LO <= v < PQ_Q_HI]
    probes = {
        qid: [
            c
            for _, c in sorted(
                ((-_cos(small[qid], small[c]), c) for c in range(IVF_K))
            )[:IVFPQ_NPROBE]
        ]
        for qid in qids
    }
    qtab = {
        qid: [[_l2sq(small[qid], m, k) for k in range(PQ_K)] for m in range(PQ_M)]
        for qid in qids
    }

    # ---- coarse assignment: 8-row broadcast, per-vector argmax ----------
    # centroid norms are Python-computed from the same collected doubles
    # (explicit IEEE fold, same order as S.norm); the corpus norm is
    # computed ONCE per vector before the 8-way broadcast, and the argmax
    # is a min_by hash agg over struct(-sim, centroid_id) — map-side
    # partials collapse the 8-per-vector scored rows, so the exchange
    # carries one row per vector (the window formulation would shuffle all
    # 8 and sort).
    def _nrm(v: list[float]) -> float:
        acc = 0.0
        for x in v:
            acc = acc + x * x
        return acc ** 0.5

    seeds = local_rows(
        spark,
        [(c, small[c], _nrm(small[c])) for c in range(IVF_K)],
        "centroid_id int, ce array<double>, cnrm double",
    )
    spread = fan_out(emb, HEAVY, "vec_id").withColumn("nrm", S.norm("embedding", EMB_DIM))
    sim = S.dot("embedding", "ce", EMB_DIM) / F.nullif(
        F.col("nrm") * F.col("cnrm"), F.lit(0.0)
    )
    assigned = (
        spread.crossJoin(F.broadcast(seeds))
        .select("vec_id", "embedding", "centroid_id", (-sim).alias("neg_sim"))
        .groupBy("vec_id")
        .agg(
            F.expr("min_by(centroid_id, struct(neg_sim, centroid_id))").alias(
                "centroid_id"
            ),
            F.any_value("embedding").alias("embedding"),
        )
    )

    # ---- probe filter BEFORE encoding: work ∝ probed clusters -----------
    probed_set = sorted({c for cs in probes.values() for c in cs})
    cand_vecs = assigned.filter(F.col("centroid_id").isin(probed_set))

    # ---- PQ encode the candidates only (broadcast-hash-join shape) -------
    # NOTE: unlike x09, encode here must NOT be the map-only argmin
    # projection — the candidate set is the output of a hash AGGREGATE
    # (coarse assignment), and fusing the ~1k-term projection into that
    # stage degenerates badly (measured 60×: the generated method blows the
    # JIT size limit and runs interpreted). The 8-sub-row broadcast hash
    # join + filtered min_by collapse keeps each codegen stage small.
    cb = local_rows(
        spark,
        [(m, k, cw[(m, k)]) for m in range(PQ_M) for k in range(PQ_K)],
        "m int, k int, cw array<double>",
    )
    subs = cand_vecs.select(
        "vec_id",
        "centroid_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {PQ_M - 1}), "
                f"m -> slice(embedding, m * {PQ_SUB} + 1, {PQ_SUB}))"
            )
        ).alias("m", "sub"),
    )
    d = F.aggregate(
        F.zip_with(
            "sub", "cw", lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)
        ),
        F.lit(0.0),
        lambda a, v: a + v,
    )
    scored = subs.join(F.broadcast(cb), "m").select(
        "vec_id", "centroid_id", "m", "k", d.alias("d")
    )
    codes = scored.groupBy("vec_id", "centroid_id").agg(
        *[
            F.expr(f"min_by(k, struct(d, k)) FILTER (WHERE m = {m})").alias(f"code{m}")
            for m in range(PQ_M)
        ]
    )

    # ---- ADC per probing query, map-only; then the top-10 window ---------
    per_query = []
    for qid in qids:
        acc = "0.0D"
        for m in range(PQ_M):
            lut = "array(" + ", ".join(f"{v!r}D" for v in qtab[qid][m]) + ")"
            acc = f"({acc} + element_at({lut}, code{m} + 1))"
        probed = "centroid_id IN (" + ", ".join(str(c) for c in probes[qid]) + ")"
        per_query.append(
            f"struct({qid}L AS query_id, {acc} AS adc, ({probed}) AS probed)"
        )
    adc = (
        codes.select(
            "vec_id",
            "centroid_id",
            F.explode(F.expr("array(" + ", ".join(per_query) + ")")).alias("s"),
        )
        .filter(F.col("s.probed") & (F.col("vec_id") != F.col("s.query_id")))
        .select(
            F.col("s.query_id").alias("query_id"),
            F.col("vec_id").alias("neighbor_id"),
            rnd(F.col("s.adc"), 4).alias("adc_dist"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return adc.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= PQ_TOPK)


# --------------------------------------------------------------------------
# x12 — k-means codebook refinement (Lloyd's algorithm, the offline
# training pass SCALE.md prescribes for upgrading x05/x09's seed-sampled
# centroids/codebooks): two deterministic iterations of
# assign-to-nearest-L2 → recompute element-wise means. Cross-engine
# exactness comes from ROUNDING AT THE ITERATION BOUNDARY: iteration-1
# means are rounded to 4 dp on BOTH engines before iteration 2 scores
# against them, so the second assignment's inputs are bit-identical and no
# floating-point drift can chain between iterations (the same trick would
# carry any fixed iteration count).
#
# Plan shape per iteration: one broadcast of the K-row centroid table
# against the corpus scan (map-side scoring, min_by collapse — the
# exchange carries one row per vector), then one (k, dim) hash aggregate
# for the means (shuffle ∝ K·dim rows of partials, not corpus). At 100 TB:
# centroids are always tiny (K × dim doubles), each iteration is one
# corpus scan + one small agg, and the iteration count is a constant —
# this is exactly how FAISS/Spark-MLlib train coarse quantizers, minus
# sampling. Seeds = the first K vectors (the x05/x09 convention).
# --------------------------------------------------------------------------
KM_K = 8


def _kmeans_oracle() -> str:
    d_seed = S.oracle_l2sq_slice("e.embedding", "0", "s.ce", EMB_DIM)
    d_c1 = S.oracle_l2sq_slice("e.embedding", "0", "c.ce", EMB_DIM)
    means = ",\n           ".join(
        f"{oracle_rnd(f'avg(CAST(embedding[{d + 1}] AS DOUBLE))', 4)} AS mean_d{d}"
        for d in range(4)
    )
    return f"""
    WITH seeds AS (
        SELECT CAST(vec_id AS INT) AS k,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ce
        FROM embeddings WHERE vec_id < {KM_K}
    ),
    a1 AS (
        SELECT vec_id, embedding, k FROM (
            SELECT e.vec_id, e.embedding, s.k,
                   row_number() OVER (
                       PARTITION BY e.vec_id ORDER BY {d_seed} ASC, s.k ASC
                   ) AS rn
            FROM embeddings e CROSS JOIN seeds s
        ) WHERE rn = 1
    ),
    dims AS (SELECT unnest(range({EMB_DIM})) AS d),
    c1 AS (
        SELECT k, d, {oracle_rnd('avg(CAST(embedding[d + 1] AS DOUBLE))', 4)} AS cd
        FROM a1 CROSS JOIN dims GROUP BY k, d
    ),
    c1a AS (SELECT k, list(cd ORDER BY d ASC) AS ce FROM c1 GROUP BY k),
    a2 AS (
        SELECT vec_id, embedding, k FROM (
            SELECT e.vec_id, e.embedding, c.k,
                   row_number() OVER (
                       PARTITION BY e.vec_id ORDER BY {d_c1} ASC, c.k ASC
                   ) AS rn
            FROM embeddings e CROSS JOIN c1a c
        ) WHERE rn = 1
    )
    SELECT k AS centroid_id,
           count(*) AS n_members,
           {means}
    FROM a2
    GROUP BY k
    """


@query("x12_kmeans_refine", oracle=_kmeans_oracle())
def x12_kmeans_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    spread = fan_out(emb, HEAVY, "vec_id")
    # seed centroids as true constants (collected once — K rows; float32 →
    # float64 widening is exact, same contract as x09's codebook)
    seeds = local_rows(
        spark,
        [
            (int(r["vec_id"]), [float(x) for x in r["embedding"]])
            for r in emb.filter(F.col("vec_id") < KM_K).collect()
        ],
        "k int, ce array<double>",
    )
    d = S.l2sq_slice("embedding", "0", "ce", EMB_DIM)

    def assign(centroids: DataFrame) -> DataFrame:
        # K-row broadcast scoring; min_by(struct(d, k)) == ORDER BY d, k —
        # the map-side partials collapse the K-per-vector scored rows, so
        # the exchange carries one row per vector
        return (
            spread.crossJoin(F.broadcast(centroids))
            .select("vec_id", "embedding", "k", d.alias("d"))
            .groupBy("vec_id")
            .agg(
                F.expr("min_by(k, struct(d, k))").alias("k"),
                F.any_value("embedding").alias("embedding"),
            )
        )

    a1 = assign(seeds)
    # iteration-boundary means: long form (k, dim, value) hash agg, rounded
    # to 4 dp (the cross-engine determinism boundary), re-packed per k
    longf = a1.select(
        "k",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {EMB_DIM - 1}), "
                f"i -> CAST(embedding[i] AS DOUBLE))"
            )
        ).alias("d", "x"),
    )
    c1 = (
        longf.groupBy("k", "d")
        .agg(rnd(F.avg("x"), 4).alias("cd"))
        .groupBy("k")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(d, cd))), s -> s.cd)"
            ).alias("ce")
        )
    )
    a2 = assign(c1).withColumnRenamed("k", "centroid_id")
    return a2.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        *[
            rnd(F.avg(F.expr(f"CAST(embedding[{d}] AS DOUBLE)")), 4).alias(f"mean_d{d}")
            for d in range(4)
        ],
    )


# --------------------------------------------------------------------------
# x13 — PERSISTED-index probed search: the same IVF semantics x07 proves
# inline, but through the materialized form operators/annindex.py ships —
# build_ann_index writes the corpus PARTITIONED BY its coarse assignment
# (into a temp dir here; a real deployment builds once and queries forever),
# probe selection runs on the driver over the K x dim sidecar, and the
# probe join is a partition-PRUNED scan + broadcast equi-join. Hash-gating
# this against the x07-shape oracle proves the persisted path is
# value-identical to the inline plan: same assignment, same probes, same
# exact top-k. The index lives in a fresh scratch dir per call, so the
# result is materialized before the dir is removed.
# --------------------------------------------------------------------------
@query(
    "x13_persisted_ann_search",
    oracle=f"""
    WITH seeds AS (
        SELECT vec_id AS centroid_id, embedding AS ce FROM embeddings WHERE vec_id < {IVF_K}
    ),
    assigned AS (
        SELECT e.vec_id, e.embedding, s.centroid_id FROM embeddings e
        JOIN seeds s ON true
        QUALIFY row_number() OVER (
            PARTITION BY e.vec_id
            ORDER BY {S.oracle_cosine('e.embedding', 's.ce')} DESC, s.centroid_id ASC
        ) = 1
    ),
    q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
          WHERE vec_id >= 100 AND vec_id < 110),
    probes AS (
        SELECT q.query_id, q.qe, s.centroid_id FROM q
        JOIN seeds s ON true
        QUALIFY row_number() OVER (
            PARTITION BY q.query_id
            ORDER BY {S.oracle_cosine('q.qe', 's.ce')} DESC, s.centroid_id ASC
        ) <= {IVF_NPROBE}
    ),
    scored AS (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               {oracle_rnd(S.oracle_cosine('p.qe', 'a.embedding'), 4)} AS cosine_sim
        FROM probes p JOIN assigned a
          ON a.centroid_id = p.centroid_id AND a.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id, cosine_sim, rk
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC
        ) AS rk
        FROM scored
    )
    WHERE rk <= 5
    """,
)
@with_scratch("ann_idx_")
def x13_persisted_ann_search(spark: SparkSession, sf_dir: str, index_dir: str) -> DataFrame:
    from ..operators.annindex import build_ann_index, query_ann_index

    emb = _emb(spark, sf_dir)
    small = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.filter(
            (F.col("vec_id") < IVF_K)
            | ((F.col("vec_id") >= 100) & (F.col("vec_id") < 110))
        ).collect()
    }
    centroids = [small[i] for i in range(IVF_K)]
    queries = {qid: small[qid] for qid in range(100, 110)}
    build_ann_index(spark, emb, index_dir, centroids, EMB_DIM, verify=False)
    return query_ann_index(
        spark, index_dir, queries, EMB_DIM, nprobe=IVF_NPROBE, topk=5
    )


# --------------------------------------------------------------------------
# x14 — semantic dedup (the SemDeDup shape, Abbas et al. 2023: cluster the
# embedding space, call near-dups ONLY within a cluster, keep one
# representative per duplicate group). Composition of proven spines: x05's
# coarse assignment (K-row broadcast scoring) restricts the pair search to
# within-cluster — ONE exchange on centroid_id, pair work ∝ Σ cluster², the
# tractability the clustering buys (at 100 TB you raise K until clusters
# are pair-joinable; the centroid count is the knob, not the algorithm) —
# then t11's connected-components operator groups mutual near-dups and the
# min-id label IS the kept representative. Cosine is rounded to 4 dp on
# both engines before the threshold compare (the x06 convention). Output
# is every vector with its duplicate group, group size, and keep flag —
# `keep` filters the corpus, the rest is the audit trail.
#
# The threshold is the SEMANTICS knob: 0.42 marks genuine near-dup pairs on
# this corpus (124 edges / 2000 vectors at sf0.1 — small tight groups). A
# looser 0.35 chains ~75% of the corpus into one component, which is
# "vaguely similar", not duplicate — and its ~1000-hop chain also costs
# log₂(diameter) ≈ 11 CC rounds where the tight graph converges in ~4.
# --------------------------------------------------------------------------
SEMDEDUP_THRESHOLD = 0.42


@query(
    "x14_semantic_dedup",
    oracle=f"""
    WITH RECURSIVE seeds AS (
        SELECT vec_id AS centroid_id, embedding AS ce FROM embeddings WHERE vec_id < {IVF_K}
    ),
    assigned AS (
        SELECT e.vec_id, e.embedding, s.centroid_id FROM embeddings e
        JOIN seeds s ON true
        QUALIFY row_number() OVER (
            PARTITION BY e.vec_id
            ORDER BY {S.oracle_cosine('e.embedding', 's.ce')} DESC, s.centroid_id ASC
        ) = 1
    ),
    edges0 AS (
        SELECT a.vec_id AS src, b.vec_id AS dst
        FROM assigned a JOIN assigned b
          ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
        WHERE {oracle_rnd(S.oracle_cosine('a.embedding', 'b.embedding'), 4)}
              >= {SEMDEDUP_THRESHOLD}
    ),
    edges AS (
        SELECT src, dst FROM edges0
        UNION ALL SELECT dst AS src, src AS dst FROM edges0
    ),
    reach AS (
        SELECT vec_id AS id, vec_id AS comp FROM embeddings
        UNION
        SELECT e.dst AS id, r.comp FROM reach r JOIN edges e ON e.src = r.id
    ),
    comp AS (SELECT id AS vec_id, min(comp) AS group_id FROM reach GROUP BY 1)
    SELECT c.vec_id, c.group_id, s.n_members,
           (c.vec_id = c.group_id) AS keep
    FROM comp c
    JOIN (SELECT group_id, count(*) AS n_members FROM comp GROUP BY 1) s
      ON c.group_id = s.group_id
    """,
)
def x14_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import connected_components

    emb = _emb(spark, sf_dir).withColumn("nrm", S.norm("embedding", EMB_DIM))
    emb = fan_out(emb, HEAVY, "vec_id")
    seeds = emb.filter(F.col("vec_id") < IVF_K).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("ce"),
        F.col("nrm").alias("cnrm"),
    )
    a_sim = S.dot("embedding", "ce", EMB_DIM) / F.nullif(
        F.col("nrm") * F.col("cnrm"), F.lit(0.0)
    )
    aw = W.partitionBy("vec_id").orderBy(F.desc("a_sim"), F.asc("centroid_id"))
    assigned = (
        emb.crossJoin(F.broadcast(seeds))
        .select("vec_id", "embedding", "nrm", "centroid_id", a_sim.alias("a_sim"))
        .withColumn("rk", F.row_number().over(aw))
        .filter(F.col("rk") == 1)
        .drop("a_sim", "rk")
    )
    # both sides of the pair join consume the assignment; materialize once
    assigned = assigned.localCheckpoint(eager=True)

    # Salt the within-cluster all-pairs join (guide §2.5): the join key has
    # only IVF_K distinct values and the 2 000-row inputs are byte-tiny, so
    # AQE coalesces the exchange to ONE partition — and the n² pair
    # EXPANSION plus the cosine filter then run single-threaded. Salting
    # the a-side by vec_id and exploding the b-side K_SALT ways spreads the
    # pair generation across the cluster; the pair set is unchanged (every
    # (a, b) meets exactly one salt).
    _SALT = 32
    a = assigned.withColumn("salt", F.pmod(F.col("vec_id"), F.lit(_SALT))).alias("a")
    b = assigned.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(_SALT - 1)))
    ).alias("b")
    sim = S.dot("a.embedding", "b.embedding", EMB_DIM) / F.nullif(
        F.col("a.nrm") * F.col("b.nrm"), F.lit(0.0)
    )
    edges = (
        a.join(
            b,
            (F.col("a.centroid_id") == F.col("b.centroid_id"))
            & (F.col("a.salt") == F.col("b.salt"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(rnd(sim, 4) >= SEMDEDUP_THRESHOLD)
        .select(F.col("a.vec_id").alias("src"), F.col("b.vec_id").alias("dst"))
    )
    comp = connected_components(
        emb.select(F.col("vec_id").alias("id")), edges
    ).select(F.col("id").alias("vec_id"), F.col("component_id").alias("group_id"))
    sizes = comp.groupBy("group_id").agg(F.count(F.lit(1)).alias("n_members"))
    return comp.join(sizes, "group_id").select(
        "vec_id",
        "group_id",
        "n_members",
        (F.col("vec_id") == F.col("group_id")).alias("keep"),
    )


# --------------------------------------------------------------------------
# x15 — int8 scalar-quantized (SQ8) search with exact rerank: each UNIT
# vector is symmetric-quantized to 64 int8 codes + one per-vector scale
# (max|u_i|/127), approximate cosine is scaleₐ·scale_b·Σ qaᵢ·qb_i — an
# INTEGER dot whose sum is exact in any order (no IEEE fold discipline
# needed, unlike the float paths) — the top-10 quantized candidates are
# reranked with the exact float cosine, top-5 kept. This is the 4×-memory
# compression tier between full floats (x01/x08) and PQ codes (x09/x10):
# at 100 TB the codes+scale table (65 B/vector vs 256 B) is the resident
# scan side, integer SIMD GEMM scores it, and only ~k·|queries| full
# vectors are fetched for the rerank. Quantization rounding is
# floor(x+0.5) half-up with a ±127 clamp — identical in both engines by
# construction, so the candidate set (not just the final answer) is gated.
# --------------------------------------------------------------------------
_X15_CAND = 10  # quantized candidates per query entering the exact rerank
_X15_K = 5      # final neighbors kept


def _int_dot(a: str, b: str, dim: int):
    """Integer dot product over two array<long> code columns — exact
    (≤ 64·127² per term sum, and integer addition is order-independent).
    HOF fold, not an unrolled chain: the flat 64-term chain exceeds the
    JIT's method limit and runs interpreted (similarity.dot's note), and
    the loop form pays one py4j call per node."""
    return F.expr(
        f"aggregate(zip_with(slice({a}, 1, {dim}), slice({b}, 1, {dim}), "
        f"(x, y) -> x * y), CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )


def _sq8_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings + (nrm, scale, q int8-code array) — the shared SQ8
    quantization stage of x15/x16. Zero-norm vectors are excluded (they
    have no direction to quantize; parity with the oracle's WHERE nrm > 0).

    Returned LAZILY checkpointed: x15/x16 consume this relation on both
    sides of their broadcast scoring join, so otherwise the norm + scale +
    clamp-quantize projection executes twice per query;
    the checkpoint materializes it once inside the single output action
    (values unchanged — same deterministic expressions)."""
    emb = _emb(spark, sf_dir).withColumn("nrm", S.norm("embedding", EMB_DIM))
    emb = emb.filter(F.col("nrm") > 0)
    emb = fan_out(emb, HEAVY, "vec_id")
    scaled = emb.withColumn(
        "scale",
        F.array_max(
            F.transform("embedding", lambda x: F.abs(x.cast("double") / F.col("nrm")))
        )
        / F.lit(127.0),
    )
    return scaled.withColumn(
        "q",
        F.transform(
            "embedding",
            lambda x: F.greatest(
                F.lit(-127).cast("long"),
                F.least(
                    F.lit(127).cast("long"),
                    F.floor(x.cast("double") / F.col("nrm") / F.col("scale") + 0.5),
                ),
            ),
        ),
    ).localCheckpoint(eager=False)


@query(
    "x15_sq8_rerank_search",
    oracle=f"""
    WITH base AS (
        SELECT vec_id, label, embedding,
               {S.oracle_norm('embedding')} AS nrm
        FROM embeddings
    ),
    scaled AS (
        SELECT vec_id, label, embedding, nrm,
               list_max(list_transform(embedding,
                   x -> abs(CAST(x AS DOUBLE) / nrm))) / 127.0 AS scale
        FROM base WHERE nrm > 0
    ),
    codes AS (
        SELECT vec_id, label, embedding, nrm, scale,
               list_transform(embedding,
                   x -> CAST(greatest(-127, least(127,
                        floor(CAST(x AS DOUBLE) / nrm / scale + 0.5))) AS BIGINT)
               ) AS q
        FROM scaled
    ),
    cand AS (
        SELECT qs.vec_id AS query_id,
               e.vec_id  AS neighbor_id,
               e.label   AS neighbor_label,
               {oracle_rnd(
                   '((qs.scale * e.scale) * CAST(list_sum(list_transform('
                   'range(len(qs.q)), i -> qs.q[i+1] * e.q[i+1])) AS DOUBLE))',
                   6,
               )} AS approx_sim,
               qs.embedding AS qe, qs.nrm AS qnrm,
               e.embedding  AS ne, e.nrm  AS nnrm
        FROM codes qs JOIN codes e ON qs.vec_id < 10 AND e.vec_id <> qs.vec_id
        QUALIFY row_number() OVER (
            PARTITION BY query_id ORDER BY approx_sim DESC, neighbor_id ASC
        ) <= {_X15_CAND}
    )
    SELECT query_id, neighbor_id, neighbor_label, approx_sim, cosine_sim, rk
    FROM (
        SELECT query_id, neighbor_id, neighbor_label, approx_sim,
               {oracle_rnd(S.oracle_dot('qe', 'ne') + ' / nullif(qnrm * nnrm, 0)', 4)}
                   AS cosine_sim,
               row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY {oracle_rnd(S.oracle_dot('qe', 'ne') + ' / nullif(qnrm * nnrm, 0)', 4)} DESC,
                            neighbor_id ASC
               ) AS rk
        FROM cand
    )
    WHERE rk <= {_X15_K}
    """,
)
def x15_sq8_rerank_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 quantize → integer-dot candidate scan → exact-cosine rerank."""
    codes = _sq8_codes(spark, sf_dir)
    q = codes.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qnrm"),
        F.col("scale").alias("qscale"),
        F.col("q").alias("qq"),
    )
    approx = rnd(
        (F.col("qscale") * F.col("scale")) * _int_dot("qq", "q", EMB_DIM).cast("double"),
        6,
    )
    cand = (
        F.broadcast(q)
        .join(codes, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("neighbor_label"),
            approx.alias("approx_sim"),
            "qe",
            "qnrm",
            F.col("embedding").alias("ne"),
            F.col("nrm").alias("nnrm"),
        )
    )
    wa = W.partitionBy("query_id").orderBy(F.desc("approx_sim"), F.asc("neighbor_id"))
    top_cand = cand.withColumn("rk_a", F.row_number().over(wa)).filter(
        F.col("rk_a") <= _X15_CAND
    )
    exact = rnd(
        S.dot("qe", "ne", EMB_DIM) / F.nullif(F.col("qnrm") * F.col("nnrm"), F.lit(0.0)),
        4,
    )
    wk = W.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        top_cand.withColumn("cosine_sim", exact)
        .withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= _X15_K)
        .select("query_id", "neighbor_id", "neighbor_label", "approx_sim", "cosine_sim", "rk")
    )


# --------------------------------------------------------------------------
# x16 — SQ8 candidate-quality contract (t34's LSH recall gate, applied to
# the x15 quantization): for each query, how many of the EXACT top-5
# neighbors appear in the quantized top-10 candidate list? Recall and the
# per-query minimum are hash-gated NUMBERS, so a quantization change that
# silently degrades candidate quality (coarser clamp, wrong rounding, a
# scale bug) becomes a visible diff even while x15's final output happens
# to survive. Both rankings are computed from ONE scored pair pass (two
# window ranks over the same exchange); the quality claim this gates at
# sf0.01 is what justifies the 100 TB architecture of scanning codes
# instead of floats.
# --------------------------------------------------------------------------
@query(
    "x16_sq8_recall",
    oracle=f"""
    WITH base AS (
        SELECT vec_id, embedding, {S.oracle_norm('embedding')} AS nrm
        FROM embeddings
    ),
    scaled AS (
        SELECT vec_id, embedding, nrm,
               list_max(list_transform(embedding,
                   x -> abs(CAST(x AS DOUBLE) / nrm))) / 127.0 AS scale
        FROM base WHERE nrm > 0
    ),
    codes AS (
        SELECT vec_id, embedding, nrm, scale,
               list_transform(embedding,
                   x -> CAST(greatest(-127, least(127,
                        floor(CAST(x AS DOUBLE) / nrm / scale + 0.5))) AS BIGINT)
               ) AS q
        FROM scaled
    ),
    ranked AS (
        SELECT qs.vec_id AS query_id, e.vec_id AS neighbor_id,
               row_number() OVER (
                   PARTITION BY qs.vec_id
                   ORDER BY {oracle_rnd(
                       '((qs.scale * e.scale) * CAST(list_sum(list_transform('
                       'range(len(qs.q)), i -> qs.q[i+1] * e.q[i+1])) AS DOUBLE))',
                       6,
                   )} DESC, e.vec_id ASC
               ) AS rk_q,
               row_number() OVER (
                   PARTITION BY qs.vec_id
                   ORDER BY {oracle_rnd(
                       S.oracle_dot('qs.embedding', 'e.embedding')
                       + ' / nullif(qs.nrm * e.nrm, 0)',
                       4,
                   )} DESC, e.vec_id ASC
               ) AS rk_e
        FROM codes qs JOIN codes e ON qs.vec_id < 10 AND e.vec_id <> qs.vec_id
    ),
    per_q AS (
        SELECT query_id,
               CAST(count(*) FILTER (WHERE rk_q <= {_X15_CAND}) AS BIGINT) AS hits
        FROM ranked WHERE rk_e <= {_X15_K}
        GROUP BY 1
    )
    SELECT count(*)                                        AS n_queries,
           CAST(count(*) * {_X15_K} AS BIGINT)             AS n_expected,
           CAST(sum(hits) AS BIGINT)                       AS n_hits,
           {oracle_rnd(f'sum(hits) / ({_X15_K}.0 * count(*))', 4)} AS recall,
           CAST(min(hits) AS BIGINT)                       AS min_hits_per_query
    FROM per_q
    """,
)
def x16_sq8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{cand} of SQ8 candidates against the exact top-k — gated."""
    codes = _sq8_codes(spark, sf_dir)
    q = codes.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qnrm"),
        F.col("scale").alias("qscale"),
        F.col("q").alias("qq"),
    )
    approx = rnd(
        (F.col("qscale") * F.col("scale")) * _int_dot("qq", "q", EMB_DIM).cast("double"),
        6,
    )
    exact = rnd(
        S.dot("qe", "embedding", EMB_DIM)
        / F.nullif(F.col("qnrm") * F.col("nrm"), F.lit(0.0)),
        4,
    )
    pairs = (
        F.broadcast(q)
        .join(codes, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            approx.alias("approx_sim"),
            exact.alias("cosine_sim"),
        )
    )
    wq = W.partitionBy("query_id").orderBy(F.desc("approx_sim"), F.asc("neighbor_id"))
    we = W.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    ranked = pairs.select(
        "query_id",
        F.row_number().over(wq).alias("rk_q"),
        F.row_number().over(we).alias("rk_e"),
    )
    per_q = (
        ranked.filter(F.col("rk_e") <= _X15_K)
        .groupBy("query_id")
        .agg(F.count_if(F.col("rk_q") <= _X15_CAND).alias("hits"))
    )
    return per_q.agg(
        F.count(F.lit(1)).alias("n_queries"),
        (F.count(F.lit(1)) * _X15_K).cast("long").alias("n_expected"),
        F.sum("hits").cast("long").alias("n_hits"),
        rnd(F.sum("hits") / (float(_X15_K) * F.count(F.lit(1))), 4).alias("recall"),
        F.min("hits").cast("long").alias("min_hits_per_query"),
    )


# --------------------------------------------------------------------------
# x17 — higher-order array functions as first-class gated surface:
# aggregate (left-fold sum), transform (element map), filter + size
# (predicate count), zip_with (pairwise combine) over the embedding
# column, rolled up per label. The x-series uses the flat dim=64 chains in
# hot paths (similarity.py's rationale); this query gates the LAMBDA forms
# — the ones a user writes for variable-width arrays — against DuckDB's
# list_* equivalents, pinning that both engines fold left-to-right in
# double (similarity.py's cross-engine math contract, here proven on all
# four HOF shapes, not just dot/norm). Map-only per row, one small hash
# aggregation — nothing here shuffles more than the final per-label rollup.
# --------------------------------------------------------------------------
@query(
    "x17_hof_vector_stats",
    oracle=f"""
    WITH per_vec AS (
        SELECT label,
               {oracle_rnd("sqrt(list_sum(list_transform(embedding,"
                           " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))", 4)}
                   AS nrm,
               CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT)
                   AS n_pos,
               {oracle_rnd("list_sum(list_transform(embedding,"
                           " x -> abs(CAST(x AS DOUBLE))))", 4)}
                   AS l1,
               {oracle_rnd("list_sum(list_transform(list_zip(embedding, list_reverse(embedding)),"
                           " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))", 4)}
                   AS rev_dot
        FROM embeddings
    )
    SELECT label,
           count(*)                         AS n_vecs,
           {oracle_rnd('avg(nrm)', 4)}      AS avg_norm,
           CAST(sum(n_pos) AS BIGINT)       AS total_pos,
           {oracle_rnd('avg(l1)', 4)}       AS avg_l1,
           {oracle_rnd('max(rev_dot)', 4)}  AS max_rev_dot
    FROM per_vec
    GROUP BY 1
    """,
)
def x17_hof_vector_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    dbl = lambda x: x.cast("double")  # noqa: E731
    nrm = F.sqrt(
        F.aggregate(
            F.transform("embedding", lambda x: dbl(x) * dbl(x)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    n_pos = F.size(F.filter("embedding", lambda x: x > 0)).cast("long")
    l1 = F.aggregate(
        F.transform("embedding", lambda x: F.abs(dbl(x))),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    rev_dot = F.aggregate(
        F.zip_with(
            "embedding",
            F.reverse(F.col("embedding")),
            lambda x, y: dbl(x) * dbl(y),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    per_vec = emb.select(
        "label",
        rnd(nrm, 4).alias("nrm"),
        n_pos.alias("n_pos"),
        rnd(l1, 4).alias("l1"),
        rnd(rev_dot, 4).alias("rev_dot"),
    )
    return per_vec.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        rnd(F.avg("nrm"), 4).alias("avg_norm"),
        F.sum("n_pos").alias("total_pos"),
        rnd(F.avg("l1"), 4).alias("avg_l1"),
        rnd(F.max("rev_dot"), 4).alias("max_rev_dot"),
    )


# --------------------------------------------------------------------------
# x18 — MMR diversity re-rank (maximal marginal relevance, Carbonell &
# Goldstein '98): from each query's top-10 cosine candidates, greedily
# select 5 maximizing λ·relevance − μ·(max similarity to the already-
# selected set). Candidate scoring (the corpus-wide part) is a
# distributed Spark broadcast join; the greedy — including the ≤90 pool
# pair similarities, reproduced bit-identically in float64 — runs as ONE
# Arrow-grouped pass per query_id (applyInPandas over the ≤10-row pool,
# O(K·pool²) integer work per query), so the whole query is a single
# action with no iterative jobs and nothing collects to the driver (a
# 5-round DataFrame loop runs ~11 sequential eager jobs whose fixed
# latency dominates — see OPTIMIZATION_r11.md).
# At 100 TB the pool stays 10 rows per query, queries partition across
# the cluster, and the greedy cost is independent of corpus size. The
# oracle runs the SAME greedy policy as a recursive CTE with a LATERAL
# argmax step.
# NUMERIC DOMAIN (q26/q28's insurance pattern): the raw cosines
# are bit-deterministic (identical fold order both sides — the x01
# contract), and everything AFTER them is exact int64: rel and pair sims
# are e4 BIGINTs (floor(cos·1e4 + 0.5)), λ=0.7/μ=0.3 become the integer
# tenths 7/3, so the greedy objective λ·rel − μ·maxsim is the exact
# integer 7·rel_e4 − 3·maxsim_e4 in e5 units — the argmax comparison and
# the output (mmr_score_e5) never transit a float rendering. Ties break
# on candidate id.
# --------------------------------------------------------------------------
_MMR_LAM_TENTHS = 7
_MMR_MU_TENTHS = 3
_MMR_POOL = 10
_MMR_K = 5


@query(
    "x18_mmr_rerank",
    oracle=f"""
    WITH RECURSIVE q AS (
        SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10
    ),
    scored AS (
        SELECT q.query_id, e.vec_id AS cid, e.embedding AS ce,
               CAST(floor(({S.oracle_cosine('q.qe', 'e.embedding')}) * 10000 + 0.5)
                    AS BIGINT) AS rel
        FROM q JOIN embeddings e ON e.vec_id <> q.query_id
    ),
    pool AS (
        SELECT query_id, cid, ce, rel FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY rel DESC, cid ASC
            ) AS rk FROM scored
        ) WHERE rk <= {_MMR_POOL}
    ),
    pairs AS (
        SELECT a.query_id, a.cid AS ia, b.cid AS ib,
               CAST(floor(({S.oracle_cosine('a.ce', 'b.ce')}) * 10000 + 0.5)
                    AS BIGINT) AS s
        FROM pool a JOIN pool b
          ON a.query_id = b.query_id AND a.cid <> b.cid
    ),
    sel AS (
        SELECT query_id, 1 AS k, cid, {_MMR_LAM_TENTHS} * rel AS score,
               CAST(cid AS VARCHAR) AS chosen
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY rel DESC, cid ASC
            ) AS rk FROM pool
        ) WHERE rk = 1
      UNION ALL
        SELECT sel.query_id, sel.k + 1, nxt.cid, nxt.score,
               sel.chosen || ',' || CAST(nxt.cid AS VARCHAR)
        FROM sel, LATERAL (
            SELECT c.cid,
                   {_MMR_LAM_TENTHS} * c.rel - {_MMR_MU_TENTHS} * (
                       SELECT max(p.s) FROM pairs p
                       WHERE p.query_id = sel.query_id AND p.ia = c.cid
                         AND list_contains(
                               string_split(sel.chosen, ','),
                               CAST(p.ib AS VARCHAR))
                   ) AS score
            FROM pool c
            WHERE c.query_id = sel.query_id
              AND NOT list_contains(
                        string_split(sel.chosen, ','), CAST(c.cid AS VARCHAR))
            ORDER BY score DESC, c.cid ASC
            LIMIT 1
        ) nxt
        WHERE sel.k < {_MMR_K}
    )
    SELECT query_id, CAST(k AS INT) AS k, cid AS neighbor_id,
           CAST(score AS BIGINT) AS mmr_score_e5
    FROM sel
    """,
)
def x18_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    lam, mu = _MMR_LAM_TENTHS, _MMR_MU_TENTHS
    # No pre-repartition: the scan's own partitioning parallelizes the
    # broadcast scoring join at any real corpus size; the explicit
    # 32-way exchange of a tiny corpus only added a shuffle and 32-task
    # stages to every downstream job
    emb = _emb(spark, sf_dir).withColumn("nrm", S.norm("embedding", EMB_DIM))
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qnrm"),
    )
    rel = S.dot("qe", "embedding", EMB_DIM) / F.nullif(
        F.col("qnrm") * F.col("nrm"), F.lit(0.0)
    )
    scored = (
        F.broadcast(q)
        .join(emb, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("cid"),
            F.col("embedding").alias("ce"),
            F.col("nrm").alias("cnrm"),
            F.floor(rel * 10000 + 0.5).alias("rel"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("rel"), F.asc("cid"))
    pool = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _MMR_POOL)
        .drop("rk")
    )

    # Per-query greedy as ONE Arrow-grouped pass over the ≤10-row pool.
    # Pool pair similarities are computed INSIDE the pass with the exact
    # IEEE operation sequence the retired Spark self-join used — S.dot's
    # left-to-right fold acc = acc + float64(a[i])·float64(b[i]), then
    # dot/nullif(cnrm_a·cnrm_b), ×10000, +0.5, floor — every op a float64
    # primitive Python reproduces bit-identically, so `s` is the same
    # BIGINT either way (float32→float64 per-element casts are exact).
    # Everything downstream is exact int64 (rel/s are e4 BIGINTs, λ/μ
    # integer tenths) with identical tie-breaks (score DESC, cid ASC).
    # Mirrors the previous INNER maxsim join: a candidate whose pair sim
    # is NULL (zero-norm guard) is not pickable that round.
    def _greedy(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import math

        import pandas as pd

        cols = ["query_id", "k", "neighbor_id", "mmr_score_e5"]
        if pdf.empty:
            return pd.DataFrame({c: pd.Series([], dtype="int64") for c in cols})
        qid = int(pdf["query_id"].iloc[0])
        rel, ce, cn = {}, {}, {}
        for c, r, e, n in zip(pdf["cid"], pdf["rel"], pdf["ce"], pdf["cnrm"]):
            c = int(c)
            rel[c], ce[c], cn[c] = int(r), e, float(n)

        def s_e4(ia: int, ib: int) -> int | None:
            prod = cn[ia] * cn[ib]
            if prod == 0.0:
                return None
            acc = 0.0
            for x, y in zip(ce[ia], ce[ib]):
                acc = acc + float(x) * float(y)
            return math.floor(acc / prod * 10000 + 0.5)

        first = min(rel, key=lambda c: (-rel[c], c))
        selected = [first]
        rows = [(qid, 1, first, lam * rel[first])]
        for k in range(2, _MMR_K + 1):
            best = None
            for c in rel:
                if c in selected:
                    continue
                sims = [s for s in (s_e4(c, b) for b in selected) if s is not None]
                if not sims:
                    continue
                score = lam * rel[c] - mu * max(sims)
                if best is None or (-score, c) < (-best[1], best[0]):
                    best = (c, score)
            if best is None:
                break
            selected.append(best[0])
            rows.append((qid, k, best[0], best[1]))
        out = pd.DataFrame(rows, columns=cols)
        return out.astype({c: "int64" for c in cols})

    return pool.groupby("query_id").applyInPandas(
        _greedy, "query_id long, k int, neighbor_id long, mmr_score_e5 long"
    )


# --------------------------------------------------------------------------
# x19 — IVF recall-vs-nprobe SWEEP: the quality/cost curve that justifies
# every probed-search setting in this file. For each nprobe ∈ {1, 2, 4}:
# how many of each query's EXACT top-5 neighbors live in its nprobe
# nearest clusters (recall@5), and what fraction of the corpus those
# clusters hold (scan cost). One row per nprobe — x07's IVF_NPROBE=2 and
# x13's persisted-index probe settings stop being folklore and become a
# gated number, the same contract style as t34 (LSH) and x16 (SQ8).
#
# Plan: corpus→centroid assignment and query→centroid probe ranks are the
# K-row broadcast scorings x05/x07 use; the exact ground-truth block is
# queries × corpus (10 × n at the gate SF — the same bounded truth block
# x16 scores). All three nprobe settings read ONE assignment + ONE probe
# ranking via conditional aggregation — the sweep adds no extra passes.
# At 100 TB the ground truth comes from the x08 GEMM path over a query
# SAMPLE; the sweep report stays centroids × queries sized.
# --------------------------------------------------------------------------
_X19_K = 5
_X19_PROBES = (1, 2, 4)


def _x19_oracle() -> str:
    hits_cols = ",\n               ".join(
        f"CAST(count(*) FILTER (WHERE pr <= {p}) AS BIGINT) AS hits{p}"
        for p in _X19_PROBES
    )
    scan_cols = ",\n               ".join(
        f"CAST(sum(csize) FILTER (WHERE pr <= {p}) AS BIGINT) AS scan{p}"
        for p in _X19_PROBES
    )
    rows = "\n        UNION ALL ".join(
        f"""SELECT {p} AS nprobe,
               (SELECT CAST(sum(hits{p}) AS BIGINT) FROM perq) AS n_hits,
               (SELECT {oracle_rnd(f'sum(hits{p}) / ({_X19_K}.0 * count(*))', 4)} FROM perq) AS recall,
               (SELECT {oracle_rnd(f'avg(scan{p} * 1.0 / (SELECT count(*) FROM embeddings))', 4)} FROM perscan) AS avg_scan_frac"""
        for p in _X19_PROBES
    )
    return f"""
    WITH seeds AS (
        SELECT vec_id AS centroid_id, embedding AS ce FROM embeddings WHERE vec_id < {IVF_K}
    ),
    assigned AS (
        SELECT e.vec_id, s.centroid_id FROM embeddings e
        JOIN seeds s ON true
        QUALIFY row_number() OVER (
            PARTITION BY e.vec_id
            ORDER BY {S.oracle_cosine('e.embedding', 's.ce')} DESC, s.centroid_id ASC
        ) = 1
    ),
    csizes AS (SELECT centroid_id, count(*) AS csize FROM assigned GROUP BY 1),
    q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
          WHERE vec_id >= 100 AND vec_id < 110),
    probes AS (
        SELECT q.query_id, s.centroid_id,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY {S.oracle_cosine('q.qe', 's.ce')} DESC, s.centroid_id ASC
               ) AS pr
        FROM q JOIN seeds s ON true
    ),
    truth AS (
        SELECT q.query_id, e.vec_id AS neighbor_id
        FROM q JOIN embeddings e ON e.vec_id <> q.query_id
        QUALIFY row_number() OVER (
            PARTITION BY q.query_id
            ORDER BY {oracle_rnd(S.oracle_cosine('q.qe', 'e.embedding'), 4)} DESC,
                     e.vec_id ASC
        ) <= {_X19_K}
    ),
    hitranks AS (
        SELECT t.query_id, p.pr
        FROM truth t
        JOIN assigned a ON a.vec_id = t.neighbor_id
        JOIN probes p ON p.query_id = t.query_id AND p.centroid_id = a.centroid_id
    ),
    perq AS (
        SELECT query_id, {hits_cols}
        FROM hitranks GROUP BY query_id
    ),
    perscan AS (
        SELECT p.query_id, {scan_cols}
        FROM probes p JOIN csizes c ON c.centroid_id = p.centroid_id
        GROUP BY p.query_id
    )
    {rows}
    """


@query("x19_ivf_recall_sweep", oracle=_x19_oracle())
def x19_ivf_recall_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    # LAZY checkpoint: this norm-projected corpus feeds seeds (3
    # broadcast uses), the assignment scan, the query slice, the exact
    # truth scan and the corpus count — one materialization instead of ~5
    # re-executions of the scan+norm subtree
    emb = (
        _emb(spark, sf_dir)
        .withColumn("nrm", S.norm("embedding", EMB_DIM))
        .localCheckpoint(eager=False)
    )
    seeds = emb.filter(F.col("vec_id") < IVF_K).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("ce"),
        F.col("nrm").alias("cnrm"),
    )
    csim = S.dot("embedding", "ce", EMB_DIM) / F.nullif(
        F.col("nrm") * F.col("cnrm"), F.lit(0.0)
    )
    # argmax as ONE hash aggregation (max_by over (sim, -centroid) breaks
    # ties toward the lower centroid id, matching the oracle's rank-1
    # window) — no window exchange+sort, and this branch is consumed twice
    assigned = (
        emb.crossJoin(F.broadcast(seeds))
        .select("vec_id", "centroid_id", csim.alias("sim"))
        .groupBy("vec_id")
        .agg(
            F.max_by(
                "centroid_id", F.struct(F.col("sim"), -F.col("centroid_id"))
            ).alias("centroid_id")
        )
    )
    csizes = assigned.groupBy("centroid_id").agg(F.count(F.lit(1)).alias("csize"))
    q = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 110)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qnrm"),
    )
    psim = S.dot("qe", "ce", EMB_DIM) / F.nullif(
        F.col("qnrm") * F.col("cnrm"), F.lit(0.0)
    )
    wq = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("centroid_id"))
    probes = (
        q.crossJoin(F.broadcast(seeds))
        .select("query_id", "centroid_id", psim.alias("sim"))
        .withColumn("pr", F.row_number().over(wq))
        .select("query_id", "centroid_id", "pr")
    )
    esim = rnd(
        S.dot("qe", "embedding", EMB_DIM)
        / F.nullif(F.col("qnrm") * F.col("nrm"), F.lit(0.0)),
        4,
    )
    wt = W.partitionBy("query_id").orderBy(F.desc("esim"), F.asc("neighbor_id"))
    truth = (
        F.broadcast(q)
        .crossJoin(emb.select(F.col("vec_id").alias("neighbor_id"), "embedding", "nrm"))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", esim.alias("esim"))
        .withColumn("rk", F.row_number().over(wt))
        .filter(F.col("rk") <= _X19_K)
    )
    hitranks = (
        truth.join(assigned, assigned.vec_id == truth.neighbor_id)
        .select("query_id", "centroid_id")
        .join(F.broadcast(probes), ["query_id", "centroid_id"])
        .select("query_id", "pr")
    )
    perq = hitranks.groupBy("query_id").agg(
        *[
            F.count(F.when(F.col("pr") <= p, 1)).alias(f"hits{p}")
            for p in _X19_PROBES
        ]
    )
    n_emb = emb.agg(F.count(F.lit(1)).alias("n_corpus"))
    perscan = (
        probes.join(F.broadcast(csizes), "centroid_id")
        .groupBy("query_id")
        .agg(
            *[
                F.sum(F.when(F.col("pr") <= p, F.col("csize"))).alias(f"scan{p}")
                for p in _X19_PROBES
            ]
        )
    )
    # ONE aggregated row carries every probe setting's sums, then a literal
    # struct-array explode fans it into the 3 report rows — a per-probe
    # union would re-execute the expensive truth block once per setting
    hits_row = perq.agg(
        F.count(F.lit(1)).alias("nq"),
        *[F.sum(f"hits{p}").alias(f"n_hits{p}") for p in _X19_PROBES],
    )
    scan_row = (
        perscan.crossJoin(F.broadcast(n_emb)).agg(
            *[
                rnd(F.avg(F.col(f"scan{p}") * 1.0 / F.col("n_corpus")), 4).alias(
                    f"sf{p}"
                )
                for p in _X19_PROBES
            ]
        )
    )
    combined = hits_row.crossJoin(F.broadcast(scan_row))
    rows = F.array(
        *[
            F.struct(
                F.lit(p).alias("nprobe"),
                F.col(f"n_hits{p}").alias("n_hits"),
                rnd(F.col(f"n_hits{p}") / (float(_X19_K) * F.col("nq")), 4).alias(
                    "recall"
                ),
                F.col(f"sf{p}").alias("avg_scan_frac"),
            )
            for p in _X19_PROBES
        ]
    )
    return combined.select(F.explode(rows).alias("r")).select("r.*")


# --------------------------------------------------------------------------
# x20 — BINARY-quantized search with exact rescore (the modern
# 32x-compression ANN tier below x15's SQ8: RaBitQ/BQ-style sign-bit
# codes + Hamming candidate scan + exact top-k rerank). Each 64-dim float
# vector packs into TWO int64 words (bit j of word w set iff
# embedding[32w+j] > 0 — 32 bits per word so no sign-bit overflow; the
# flat CASE-sum is the same integer-constant spelling both engines
# evaluate identically, t40's hex48 pattern). The candidate scan is
# Hamming distance bit_count(lo⊕lo') + bit_count(hi⊕hi') over the packed
# words — Spark spells xor as ^, DuckDB as xor() (its ^ is POWER) — and
# the top-R=50 candidates per query (hamming asc, vec_id tiebreak) are
# reranked by EXACT cosine, emitting top-5. The gate pins the whole
# pipeline: pack, popcount, candidate cut, rerank — all deterministic.
# 100 TB: 16 bytes/vector (vs 256 fp32) keeps the scan tier in memory at
# ~6e12 vectors/TB; the Hamming pass is a map-only broadcast-query scan
# in whole-stage codegen (two XOR+popcount per row — no floats touched),
# and only R·n_queries rows ever reach the float rerank. At real corpus
# scale the same codes become the partition-local scan of an IVF cell
# (x07's probe shape) — candidate generation cost ∝ cell, not corpus.
# --------------------------------------------------------------------------
_X20_R = 50  # Hamming candidate window reranked exactly
_X20_K = 5


def _x20_word_sql(word: int, col: str = "embedding", base1: bool = True) -> str:
    """32 sign bits of ``col`` packed into one BIGINT (dims 32w..32w+31)."""
    off = 1 if base1 else 0
    terms = [
        f"(CASE WHEN {col}[{32 * word + j + off}] > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(32)
    ]
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


@query(
    "x20_binary_quant_search",
    oracle=f"""
    WITH c AS (
        SELECT vec_id, label, embedding,
               {_x20_word_sql(0)} AS lo,
               {_x20_word_sql(1)} AS hi
        FROM embeddings
    ),
    q AS (
        SELECT vec_id AS query_id, embedding AS qe, lo AS qlo, hi AS qhi
        FROM c WHERE vec_id < 10
    ),
    scanned AS (
        SELECT q.query_id, q.qe, c.vec_id AS neighbor_id, c.label AS neighbor_label,
               c.embedding AS ne,
               CAST(bit_count(xor(q.qlo, c.lo)) + bit_count(xor(q.qhi, c.hi)) AS BIGINT)
                   AS hamming_dist
        FROM q JOIN c ON c.vec_id <> q.query_id
    ),
    cand AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY hamming_dist ASC, neighbor_id ASC
            ) AS hrk
            FROM scanned
        ) WHERE hrk <= {_X20_R}
    ),
    rescored AS (
        SELECT query_id, neighbor_id, neighbor_label, hamming_dist,
               {{cos}} AS cosine_sim
        FROM cand
    )
    SELECT query_id, neighbor_id, neighbor_label, hamming_dist, cosine_sim, rk
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC
        ) AS rk
        FROM rescored
    )
    WHERE rk <= {_X20_K}
    """.format(cos=oracle_rnd(S.oracle_cosine("qe", "ne"), 4)),
)
def x20_binary_quant_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    # pack once per vector; norms once per side (x01's discipline)
    lo = F.expr(_x20_word_sql(0, base1=False))
    hi = F.expr(_x20_word_sql(1, base1=False))
    c = fan_out(emb.select(
        "vec_id", "label", "embedding",
        lo.alias("lo"), hi.alias("hi"),
        S.norm("embedding", EMB_DIM).alias("nrm"),
    ), HEAVY, "vec_id")
    q = c.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("lo").alias("qlo"),
        F.col("hi").alias("qhi"),
        F.col("nrm").alias("qnrm"),
    )
    scanned = (
        F.broadcast(q)
        .join(c, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id", "qe", "qnrm",
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("neighbor_label"),
            F.col("embedding").alias("ne"),
            F.col("nrm").alias("nnrm"),
            (
                F.bit_count(F.expr("qlo ^ lo")) + F.bit_count(F.expr("qhi ^ hi"))
            ).cast("bigint").alias("hamming_dist"),
        )
    )
    hw = W.partitionBy("query_id").orderBy(F.asc("hamming_dist"), F.asc("neighbor_id"))
    cand = scanned.withColumn("hrk", F.row_number().over(hw)).filter(
        F.col("hrk") <= _X20_R
    )
    cos = S.dot("qe", "ne", EMB_DIM) / F.nullif(
        F.col("qnrm") * F.col("nnrm"), F.lit(0.0)
    )
    rescored = cand.select(
        "query_id", "neighbor_id", "neighbor_label", "hamming_dist",
        rnd(cos, 4).alias("cosine_sim"),
    )
    rw = W.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return rescored.withColumn("rk", F.row_number().over(rw)).filter(
        F.col("rk") <= _X20_K
    )


# --------------------------------------------------------------------------
# x21 — the BQ recall CONTRACT (x16's pattern for the x20 tier): does the
# exact cosine top-5 survive inside x20's Hamming top-50 candidate
# window? Both rankings computed from one broadcast pair scan (rank by
# packed-word Hamming distance, rank by exact cosine), hits = exact
# top-5 rows whose Hamming rank <= R. The recall lands as an e4 BIGINT
# (exact domain — x16 predates it and emits the rounded double).
# This is the number that justifies x20's R=50 rerank window the way
# x19 justifies nprobe and t34 justifies the LSH band count: if a
# distribution shift drops sign-bit recall, this row's hash flips.
# --------------------------------------------------------------------------
@query(
    "x21_binary_quant_recall",
    oracle=f"""
    WITH c AS (
        SELECT vec_id, embedding, {S.oracle_norm('embedding')} AS nrm,
               {_x20_word_sql(0)} AS lo,
               {_x20_word_sql(1)} AS hi
        FROM embeddings
    ),
    ranked AS (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY bit_count(xor(q.lo, e.lo)) + bit_count(xor(q.hi, e.hi)) ASC,
                            e.vec_id ASC
               ) AS rk_h,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY {{cos}} DESC, e.vec_id ASC
               ) AS rk_e
        FROM c q JOIN c e ON q.vec_id < 10 AND e.vec_id <> q.vec_id
    ),
    per_q AS (
        SELECT query_id,
               CAST(count(*) FILTER (WHERE rk_h <= {_X20_R}) AS BIGINT) AS hits
        FROM ranked WHERE rk_e <= {_X20_K}
        GROUP BY 1
    )
    SELECT count(*)                                        AS n_queries,
           CAST(count(*) * {_X20_K} AS BIGINT)             AS n_expected,
           CAST(sum(hits) AS BIGINT)                       AS n_hits,
           CAST((2 * sum(hits) * 10000 + count(*) * {_X20_K})
                // (2 * count(*) * {_X20_K}) AS BIGINT)    AS recall_e4,
           CAST(min(hits) AS BIGINT)                       AS min_hits_per_query
    FROM per_q
    """.format(
        cos=oracle_rnd(S.oracle_cosine("q.embedding", "e.embedding"), 4)
    ),
)
def x21_binary_quant_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    lo = F.expr(_x20_word_sql(0, base1=False))
    hi = F.expr(_x20_word_sql(1, base1=False))
    c = fan_out(emb.select(
        "vec_id", "embedding",
        S.norm("embedding", EMB_DIM).alias("nrm"),
        lo.alias("lo"), hi.alias("hi"),
    ), HEAVY, "vec_id")
    q = c.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qnrm"),
        F.col("lo").alias("qlo"),
        F.col("hi").alias("qhi"),
    )
    hamming = (
        F.bit_count(F.expr("qlo ^ lo")) + F.bit_count(F.expr("qhi ^ hi"))
    ).cast("bigint")
    cosine = rnd(
        S.dot("qe", "embedding", EMB_DIM)
        / F.nullif(F.col("qnrm") * F.col("nrm"), F.lit(0.0)),
        4,
    )
    pairs = (
        F.broadcast(q)
        .join(c, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            hamming.alias("hamming_dist"),
            cosine.alias("cosine_sim"),
        )
    )
    wh = W.partitionBy("query_id").orderBy(F.asc("hamming_dist"), F.asc("neighbor_id"))
    we = W.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    ranked = pairs.select(
        "query_id",
        F.row_number().over(wh).alias("rk_h"),
        F.row_number().over(we).alias("rk_e"),
    )
    per_q = (
        ranked.filter(F.col("rk_e") <= _X20_K)
        .groupBy("query_id")
        .agg(F.count_if(F.col("rk_h") <= _X20_R).alias("hits"))
    )
    return (
        per_q.agg(
            F.count(F.lit(1)).alias("n_queries"),
            (F.count(F.lit(1)) * _X20_K).cast("long").alias("n_expected"),
            F.sum("hits").cast("long").alias("n_hits"),
            F.min("hits").cast("long").alias("min_hits_per_query"),
        )
        .withColumn(
            "recall_e4",
            iavg("n_hits", "n_expected", 4),
        )
        .select(
            "n_queries", "n_expected", "n_hits", "recall_e4",
            "min_hits_per_query",
        )
    )


# --------------------------------------------------------------------------
# x22 — IVF × BINARY-quantization composed probe search (the production
# composition SCALE.md promises for the BQ tier): corpus vectors assign
# to their nearest of K=8 coarse centroids (x05's map-only broadcast
# scoring), each query probes its P=2 nearest cells (x07's probe join),
# and INSIDE the probed cells the candidate scan is x20's packed-word
# Hamming pass — 16-byte codes, XOR+popcount, no floats — cut to the
# top-R=30 per query before the exact cosine rerank emits top-5. Work
# per query ∝ (probed fraction of corpus) × (16-byte scan) + R float
# dots: the probe prunes partitions, the codes shrink the scan, the
# rerank touches only R rows — each stage independently gated elsewhere
# (x05/x07 probe exactness, x20/x21 code exactness + recall), composed
# and hash-gated end to end here.
# --------------------------------------------------------------------------
_X22_R = 30


@query(
    "x22_ivf_bq_probe_search",
    oracle=f"""
    WITH c AS (
        SELECT vec_id, label, embedding,
               {_x20_word_sql(0)} AS lo,
               {_x20_word_sql(1)} AS hi
        FROM embeddings
    ),
    seeds AS (
        SELECT vec_id AS centroid_id, embedding AS ce FROM embeddings WHERE vec_id < {IVF_K}
    ),
    assigned AS (
        SELECT e.vec_id, e.label, e.embedding, e.lo, e.hi, s.centroid_id FROM c e
        JOIN seeds s ON true
        QUALIFY row_number() OVER (
            PARTITION BY e.vec_id
            ORDER BY {S.oracle_cosine('e.embedding', 's.ce')} DESC, s.centroid_id ASC
        ) = 1
    ),
    q AS (SELECT vec_id AS query_id, embedding AS qe, lo AS qlo, hi AS qhi
          FROM c WHERE vec_id >= 100 AND vec_id < 110),
    probes AS (
        SELECT q.query_id, q.qe, q.qlo, q.qhi, s.centroid_id FROM q
        JOIN seeds s ON true
        QUALIFY row_number() OVER (
            PARTITION BY q.query_id
            ORDER BY {S.oracle_cosine('q.qe', 's.ce')} DESC, s.centroid_id ASC
        ) <= {IVF_NPROBE}
    ),
    ham AS (
        SELECT p.query_id, p.qe, a.vec_id AS neighbor_id, a.label AS neighbor_label,
               a.embedding AS ne,
               CAST(bit_count(xor(p.qlo, a.lo)) + bit_count(xor(p.qhi, a.hi)) AS BIGINT)
                   AS hamming_dist
        FROM probes p JOIN assigned a
          ON a.centroid_id = p.centroid_id AND a.vec_id <> p.query_id
    ),
    cand AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY hamming_dist ASC, neighbor_id ASC
            ) AS hrk
            FROM ham
        ) WHERE hrk <= {_X22_R}
    ),
    rescored AS (
        SELECT query_id, neighbor_id, neighbor_label, hamming_dist,
               {{cos}} AS cosine_sim
        FROM cand
    )
    SELECT query_id, neighbor_id, neighbor_label, hamming_dist, cosine_sim, rk
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC
        ) AS rk
        FROM rescored
    )
    WHERE rk <= 5
    """.format(cos=oracle_rnd(S.oracle_cosine("qe", "ne"), 4)),
)
def x22_ivf_bq_probe_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    lo = F.expr(_x20_word_sql(0, base1=False))
    hi = F.expr(_x20_word_sql(1, base1=False))
    # LAZY checkpoint: seeds, the assignment scan and the query
    # slice all read this norm+BQ-code projection — materialize it once
    emb = fan_out(
        _emb(spark, sf_dir).select(
            "vec_id", "label", "embedding",
            S.norm("embedding", EMB_DIM).alias("nrm"),
            lo.alias("lo"), hi.alias("hi"),
        ),
        HEAVY, "vec_id",
    ).localCheckpoint(eager=False)
    seeds = emb.filter(F.col("vec_id") < IVF_K).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("ce"),
        F.col("nrm").alias("cnrm"),
    )

    a_sim = S.dot("embedding", "ce", EMB_DIM) / F.nullif(
        F.col("nrm") * F.col("cnrm"), F.lit(0.0)
    )
    aw = W.partitionBy("vec_id").orderBy(F.desc("a_sim"), F.asc("centroid_id"))
    assigned = (
        emb.crossJoin(F.broadcast(seeds))
        .select(
            "vec_id", "label", "embedding", "nrm", "lo", "hi", "centroid_id",
            a_sim.alias("a_sim"),
        )
        .withColumn("rk", F.row_number().over(aw))
        .filter(F.col("rk") == 1)
        .drop("a_sim", "rk")
    )

    q = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 110)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qnrm"),
        F.col("lo").alias("qlo"),
        F.col("hi").alias("qhi"),
    )
    p_sim = S.dot("qe", "ce", EMB_DIM) / F.nullif(
        F.col("qnrm") * F.col("cnrm"), F.lit(0.0)
    )
    pw = W.partitionBy("query_id").orderBy(F.desc("p_sim"), F.asc("centroid_id"))
    probes = (
        q.crossJoin(F.broadcast(seeds))
        .select(
            "query_id", "qe", "qnrm", "qlo", "qhi", "centroid_id",
            p_sim.alias("p_sim"),
        )
        .withColumn("rk", F.row_number().over(pw))
        .filter(F.col("rk") <= IVF_NPROBE)
        .drop("p_sim", "rk")
    )

    # probed-cell Hamming scan over the 16-byte codes — floats untouched
    ham = (
        assigned.join(F.broadcast(probes), ["centroid_id"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id", "qe", "qnrm",
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("neighbor_label"),
            F.col("embedding").alias("ne"),
            F.col("nrm").alias("nnrm"),
            (
                F.bit_count(F.expr("qlo ^ lo")) + F.bit_count(F.expr("qhi ^ hi"))
            ).cast("bigint").alias("hamming_dist"),
        )
    )
    hw = W.partitionBy("query_id").orderBy(F.asc("hamming_dist"), F.asc("neighbor_id"))
    cand = ham.withColumn("hrk", F.row_number().over(hw)).filter(
        F.col("hrk") <= _X22_R
    )
    cos = S.dot("qe", "ne", EMB_DIM) / F.nullif(
        F.col("qnrm") * F.col("nnrm"), F.lit(0.0)
    )
    rescored = cand.select(
        "query_id", "neighbor_id", "neighbor_label", "hamming_dist",
        rnd(cos, 4).alias("cosine_sim"),
    )
    rw = W.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return rescored.withColumn("rk", F.row_number().over(rw)).filter(F.col("rk") <= 5)


# --------------------------------------------------------------------------
# x23 — HYBRID RETRIEVAL with reciprocal-rank fusion (Cormack et al.
# SIGIR'09 RRF: score(d) = Σ_r 1/(k + rank_r(d)), k=60): the lexical
# ranking (t47's BM25 battery, operators/retrieval.py) fused with the
# vector ranking (cosine to the vec_id-0 query embedding, x01's exact
# scan). Each side contributes its top-50; a document missing from one
# list contributes 0 from that list (at sf0.1 docs outnumber embeddings
# 5000:2000, so the text list genuinely carries vectorless docs — the
# full-outer fusion is exercised, not decorative).
#
# Cross-engine determinism: both rankings order by the FLOOR-ROUNDED
# (4 dp) score with an id tiebreak — a quantized total order identical on
# both engines — and the RRF sum is two coalesced terms added in fixed
# order (1/(60+r) on integer ranks: bit-identical doubles), so ranking by
# the raw fused score is exact. Absent ranks emit the -1 sentinel rather
# than NULL (a NULL int column collapses to float64 in pandas on both
# sides — avoidable, so avoided).
#
# 100 TB: the text side is t47's plan (broadcast terms + stats, one
# (doc,term) shuffle); the vector side is a broadcast-1-row map-only scan
# (BNLJ allowlist); each side's top-50 is orderBy+limit = TakeOrdered
# (per-partition top-k, no global sort), and the only windows run on the
# ≤50-row limited results. The fusion joins two ≤50-row relations.
# --------------------------------------------------------------------------
_X23_K = 60.0


@query(
    "x23_hybrid_rrf_fusion",
    oracle=f"""
    WITH {RETR.bm25_oracle_ctes(RETR.BM25_QUERY_TERMS)},
    text_top AS (
        SELECT doc_id AS id,
               row_number() OVER (
                   ORDER BY {RETR.oracle_bm25_rounded(4)} DESC, doc_id ASC
               ) AS text_rank
        FROM bm25
        QUALIFY text_rank <= 50
    ),
    qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    vecscored AS (
        SELECT e.vec_id AS id,
               {oracle_rnd(S.oracle_cosine('qv.qe', 'e.embedding'), 4)} AS cos
        FROM embeddings e CROSS JOIN qv
        WHERE e.vec_id <> 0
    ),
    vec_top AS (
        SELECT id,
               row_number() OVER (ORDER BY cos DESC, id ASC) AS vec_rank
        FROM vecscored
        QUALIFY vec_rank <= 50
    ),
    fused AS (
        SELECT coalesce(t.id, v.id) AS id,
               t.text_rank,
               v.vec_rank,
               CAST(0.0 AS DOUBLE)
               + coalesce(CAST(1.0 AS DOUBLE)
                          / (CAST(60.0 AS DOUBLE) + t.text_rank),
                          CAST(0.0 AS DOUBLE))
               + coalesce(CAST(1.0 AS DOUBLE)
                          / (CAST(60.0 AS DOUBLE) + v.vec_rank),
                          CAST(0.0 AS DOUBLE)) AS rrf_raw
        FROM text_top t FULL OUTER JOIN vec_top v ON t.id = v.id
    )
    SELECT id,
           coalesce(text_rank, -1) AS text_rank,
           coalesce(vec_rank, -1) AS vec_rank,
           {oracle_rnd('rrf_raw', 6)} AS rrf,
           fused_rank
    FROM (
        SELECT *, row_number() OVER (ORDER BY rrf_raw DESC, id ASC) AS fused_rank
        FROM fused
    )
    WHERE fused_rank <= 20
    """,
)
def x23_hybrid_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scored = RETR.bm25_scores(docs, RETR.BM25_QUERY_TERMS).select(
        F.col("doc_id").alias("id"), RETR.bm25_rounded(4).alias("score_r")
    )
    # TakeOrdered top-50 (no global sort), then rank the 50-row result
    text_top = (
        scored.orderBy(F.desc("score_r"), F.asc("id"))
        .limit(50)
        .withColumn(
            "text_rank",
            F.row_number().over(W.orderBy(F.desc("score_r"), F.asc("id"))),
        )
        .select("id", "text_rank")
    )
    emb = _emb(spark, sf_dir).withColumn("nrm", S.norm("embedding", EMB_DIM))
    emb = fan_out(emb, HEAVY, "vec_id")
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe"), F.col("nrm").alias("qnrm")
    )
    cos = S.dot("qe", "embedding", EMB_DIM) / F.nullif(
        F.col("qnrm") * F.col("nrm"), F.lit(0.0)
    )
    vec_top = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(F.col("vec_id").alias("id"), rnd(cos, 4).alias("cos"))
        .orderBy(F.desc("cos"), F.asc("id"))
        .limit(50)
        .withColumn(
            "vec_rank",
            F.row_number().over(W.orderBy(F.desc("cos"), F.asc("id"))),
        )
        .select("id", "vec_rank")
    )
    fused = text_top.join(vec_top, "id", "full_outer")
    rrf_raw = (
        F.lit(0.0)
        + F.coalesce(
            F.lit(1.0) / (F.lit(_X23_K) + F.col("text_rank")), F.lit(0.0)
        )
        + F.coalesce(
            F.lit(1.0) / (F.lit(_X23_K) + F.col("vec_rank")), F.lit(0.0)
        )
    )
    ranked = fused.withColumn("rrf_raw", rrf_raw).withColumn(
        "fused_rank",
        F.row_number().over(W.orderBy(F.desc("rrf_raw"), F.asc("id"))),
    )
    return ranked.filter(F.col("fused_rank") <= 20).select(
        "id",
        F.coalesce("text_rank", F.lit(-1)).alias("text_rank"),
        F.coalesce("vec_rank", F.lit(-1)).alias("vec_rank"),
        rnd(F.col("rrf_raw"), 6).alias("rrf"),
        "fused_rank",
    )


# --------------------------------------------------------------------------
# x24 — exact MAXIMUM INNER-PRODUCT search (MIPS): top-5 by raw dot
# product, per query, NO normalization — the retrieval objective for
# recommender/two-tower embeddings whose magnitudes are meaningful
# (cosine's x01 deliberately destroys exactly the signal MIPS keeps).
# Brute broadcast scan = the exactness baseline, x01's machinery minus
# the norm division; ranking by the floor-rounded score with an id
# tiebreak is the engine-identical quantized order.
# 100 TB: MIPS is not metric (no triangle inequality), so the standard
# scale path is norm augmentation (Bachrach et al. RecSys'14 / ALSH):
# append sqrt(M² − |v|²) to each corpus vector and 0 to the query —
# inner product becomes cosine on the augmented space and the ENTIRE
# existing ANN stack (IVF x05/x07, BQ x20, SQ8 x15, PQ x09) applies
# unchanged. This row pins the exact answer that augmented pipeline must
# reproduce.
# --------------------------------------------------------------------------
@query(
    "x24_mips_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
    scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id, e.label AS neighbor_label,
               {oracle_rnd(S.oracle_dot('q.qe', 'e.embedding'), 4)} AS ip_score
        FROM q JOIN embeddings e ON e.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, neighbor_label, ip_score, rk
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY ip_score DESC, neighbor_id ASC
        ) AS rk
        FROM scored
    )
    WHERE rk <= 5
    """,
)
def x24_mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fan_out(_emb(spark, sf_dir), HEAVY, "vec_id")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    scored = (
        F.broadcast(q)
        .join(emb, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("neighbor_label"),
            rnd(S.dot("qe", "embedding", EMB_DIM), 4).alias("ip_score"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("ip_score"), F.asc("neighbor_id"))
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 5)


# --------------------------------------------------------------------------
# x25 — MATRYOSHKA PREFIX-DIMENSION recall contract (x21's pattern for the
# dimensionality tier): modern embedding models (MRL, Kusupati et al.
# NeurIPS'22) are trained so a PREFIX of the vector is itself a usable
# embedding — the cheap tier ranks by the first 16 of 64 dims (4x less
# compute/IO), the exact tier reranks. This row gates whether the exact
# full-width cosine top-5 survives inside the prefix-cosine top-50
# candidate window, as an e4 BIGINT recall — the number that justifies
# (or vetoes) prefix-truncation on THIS corpus, the way x21 justifies the
# sign-bit tier and x19 justifies nprobe. (The synthetic embeddings are
# not MRL-trained, so the gated value doubles as the honest baseline a
# real MRL model must beat.)
# 100 TB: the prefix scan reads 4x fewer bytes per vector (columnar
# layouts can store the prefix as its own column/file), composes with
# IVF partition pruning, and the rerank touches R rows per query.
# --------------------------------------------------------------------------
_X25_P = 16   # prefix width (dims)
_X25_R = 50   # prefix-tier candidate window
_X25_K = 5    # exact top-k that must survive


@query(
    "x25_matryoshka_recall",
    oracle=f"""
    WITH ranked AS (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY {{pcos}} DESC, e.vec_id ASC
               ) AS rk_p,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY {{fcos}} DESC, e.vec_id ASC
               ) AS rk_e
        FROM embeddings q JOIN embeddings e
          ON q.vec_id < 10 AND e.vec_id <> q.vec_id
    ),
    per_q AS (
        SELECT query_id,
               CAST(count(*) FILTER (WHERE rk_p <= {_X25_R}) AS BIGINT) AS hits
        FROM ranked WHERE rk_e <= {_X25_K}
        GROUP BY 1
    )
    SELECT count(*)                                        AS n_queries,
           CAST(count(*) * {_X25_K} AS BIGINT)             AS n_expected,
           CAST(sum(hits) AS BIGINT)                       AS n_hits,
           CAST((2 * sum(hits) * 10000 + count(*) * {_X25_K})
                // (2 * count(*) * {_X25_K}) AS BIGINT)    AS recall_e4,
           CAST(min(hits) AS BIGINT)                       AS min_hits_per_query
    FROM per_q
    """.format(
        pcos=oracle_rnd(
            S.oracle_cosine(
                f"q.embedding[1:{_X25_P}]", f"e.embedding[1:{_X25_P}]"
            ),
            4,
        ),
        fcos=oracle_rnd(S.oracle_cosine("q.embedding", "e.embedding"), 4),
    ),
)
def x25_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    c = fan_out(emb.select(
        "vec_id", "embedding",
        S.norm("embedding", EMB_DIM).alias("nrm"),
        S.norm("embedding", _X25_P).alias("pnrm"),
    ), HEAVY, "vec_id")
    q = c.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qnrm"),
        F.col("pnrm").alias("qpnrm"),
    )
    full_cos = rnd(
        S.dot("qe", "embedding", EMB_DIM)
        / F.nullif(F.col("qnrm") * F.col("nrm"), F.lit(0.0)),
        4,
    )
    prefix_cos = rnd(
        S.dot("qe", "embedding", _X25_P)
        / F.nullif(F.col("qpnrm") * F.col("pnrm"), F.lit(0.0)),
        4,
    )
    pairs = (
        F.broadcast(q)
        .join(c, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            prefix_cos.alias("prefix_cos"),
            full_cos.alias("full_cos"),
        )
    )
    wp = W.partitionBy("query_id").orderBy(F.desc("prefix_cos"), F.asc("neighbor_id"))
    we = W.partitionBy("query_id").orderBy(F.desc("full_cos"), F.asc("neighbor_id"))
    ranked = pairs.select(
        "query_id",
        F.row_number().over(wp).alias("rk_p"),
        F.row_number().over(we).alias("rk_e"),
    )
    per_q = (
        ranked.filter(F.col("rk_e") <= _X25_K)
        .groupBy("query_id")
        .agg(
            F.sum(F.when(F.col("rk_p") <= _X25_R, 1).otherwise(0))
            .cast("bigint")
            .alias("hits")
        )
    )
    return per_q.agg(
        F.count(F.lit(1)).alias("n_queries"),
        (F.count(F.lit(1)) * _X25_K).cast("bigint").alias("n_expected"),
        F.sum("hits").cast("bigint").alias("n_hits"),
        F.expr(
            f"CAST((2 * sum(hits) * 10000 + count(*) * {_X25_K})"
            f" div (2 * count(*) * {_X25_K}) AS BIGINT)"
        ).alias("recall_e4"),
        F.min("hits").cast("bigint").alias("min_hits_per_query"),
    )


# --------------------------------------------------------------------------
# x26 — METADATA-FILTERED k-NN (the vector-DB "filtered search" problem:
# top-k among ONLY the rows satisfying a structured predicate — here,
# neighbors sharing the query's label, the "similar items in the same
# category" shape every production retrieval stack needs). Two strategies
# exist and this row pins BOTH sides of the tradeoff:
#   PRE-filter (the gated answer): apply the predicate before scoring.
#     Exact by construction — the top-5 window runs over the filtered
#     candidate set, so it always delivers k results when the category
#     has k members. In Spark the label predicate becomes the JOIN KEY:
#     broadcast-hash join on label instead of x01's nested-loop scan, so
#     only same-label rows are ever scored.
#   POST-filter (the measured shortfall): take the UNFILTERED top-R and
#     keep the ones that pass the predicate — the strategy an
#     unpartitioned ANN index forces — which silently under-delivers
#     whenever fewer than k of the global top-R share the label.
#     postfilter_hits_r20 is that per-query count (<=20); with 10 labels,
#     expectation is ~2 of 20, far short of k=5 — the number that
#     justifies label-aware index layout rather than post-hoc filtering.
# 100 TB: the pre-filter path composes with partition-by-label layout —
# the predicate prunes at the FILE level (only matching-label partitions
# are read) and within a partition the ANN tiers (IVF x07, BQ x20, SQ8
# x15) apply unchanged; the post-filter path cannot prune and pays the
# full-corpus scan for a worse answer. Reference analog: SURVEY §2.2
# filters + the ANN family; filtered search per Wang et al. (Milvus,
# SIGMOD'21 §4.3).
# --------------------------------------------------------------------------
_X26_R = 20  # post-filter candidate window


@query(
    "x26_filtered_knn",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qe, label AS qlabel
        FROM embeddings WHERE vec_id < 10
    ),
    pairs AS (
        SELECT q.query_id, q.qlabel, e.vec_id AS neighbor_id, e.label AS nlabel,
               {oracle_rnd(S.oracle_cosine('q.qe', 'e.embedding'), 4)} AS cosine_sim
        FROM q JOIN embeddings e ON e.vec_id <> q.query_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC
        ) AS rk_all
        FROM pairs
    ),
    post AS (
        SELECT query_id,
               CAST(count(*) FILTER (WHERE nlabel = qlabel) AS BIGINT)
                   AS postfilter_hits_r{_X26_R}
        FROM ranked WHERE rk_all <= {_X26_R}
        GROUP BY 1
    ),
    fil AS (
        SELECT query_id, neighbor_id, cosine_sim,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC
               ) AS rk
        FROM pairs WHERE nlabel = qlabel
    )
    SELECT f.query_id, f.neighbor_id, f.cosine_sim, f.rk,
           p.postfilter_hits_r{_X26_R}
    FROM fil f JOIN post p USING (query_id)
    WHERE f.rk <= 5
    """,
)
def x26_filtered_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir).withColumn("nrm", S.norm("embedding", EMB_DIM))
    emb = fan_out(emb, HEAVY, "vec_id")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qnrm"),
        F.col("label").alias("qlabel"),
    )
    sim = rnd(
        S.dot("qe", "embedding", EMB_DIM)
        / F.nullif(F.col("qnrm") * F.col("nrm"), F.lit(0.0)),
        4,
    )
    # PRE-filter branch: label is an EQUI-join key (broadcast hash join —
    # only same-label rows are scored), not a post-hoc predicate.
    fil = (
        F.broadcast(q)
        .join(
            emb,
            (F.col("label") == F.col("qlabel"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            sim.alias("cosine_sim"),
        )
    )
    wf = W.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    top5 = fil.withColumn("rk", F.row_number().over(wf)).filter(F.col("rk") <= 5)
    # POST-filter branch: unfiltered top-R, count the survivors — the
    # shortfall an unpartitioned index would silently deliver.
    allp = (
        F.broadcast(q)
        .join(emb, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            sim.alias("cosine_sim"),
            F.col("vec_id").alias("neighbor_id"),
            (F.col("label") == F.col("qlabel")).alias("hit"),
        )
    )
    wa = W.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    post = (
        allp.withColumn("rk_all", F.row_number().over(wa))
        .filter(F.col("rk_all") <= _X26_R)
        .groupBy("query_id")
        .agg(
            F.sum(F.col("hit").cast("int"))
            .cast("bigint")
            .alias(f"postfilter_hits_r{_X26_R}")
        )
    )
    return top5.join(F.broadcast(post), "query_id").select(
        "query_id", "neighbor_id", "cosine_sim", "rk", f"postfilter_hits_r{_X26_R}"
    )


# --------------------------------------------------------------------------
# x27 — MIPS-via-ANN recall contract: x24's docstring names the standard
# scale path for maximum-inner-product search (norm augmentation, Bachrach
# et al. RecSys'14: append sqrt(M²−|v|²) to every corpus vector and 0 to
# the query, turning inner-product order into cosine order on the
# augmented space so the whole ANN stack applies) — this row makes that
# path REAL and gates its quality. The corpus is augmented (M² = max |v|²,
# one tiny agg broadcast back), IVF-assigned in the augmented space
# (assignment score = dot + aug_v·aug_c; the /M² denominator is constant,
# so it never needs computing), queries probe their top-P cells by plain
# dot (their augmented coordinate is 0), and the candidates are ranked by
# the TRUE inner product. The gated number is x25's contract shape: how
# much of the exact MIPS top-5 (x24's answer, recomputed inline) survives
# the augmented-IVF tier, as an e4 recall plus the per-query minimum.
# 100 TB: augmentation is map-only; assignment/probe are the x07 broadcast
# shapes (work ∝ probed cells, centroid_id is the write-time partition
# key); the exact arm exists only to SCORE the tier and is dropped in
# production — the contract is what licenses that drop.
# --------------------------------------------------------------------------
_X27_P = 2  # probes


@query(
    "x27_mips_ann_recall",
    oracle=f"""
    WITH base AS (
        SELECT vec_id, embedding,
               {S.oracle_dot('embedding', 'embedding')} AS n2
        FROM embeddings
    ),
    m AS (SELECT max(n2) AS m2 FROM base),
    aug AS (
        SELECT b.vec_id, b.embedding, sqrt(m.m2 - b.n2) AS a
        FROM base b, m
    ),
    seeds AS (
        SELECT vec_id AS centroid_id, embedding AS ce, a AS ca
        FROM aug WHERE vec_id < {IVF_K}
    ),
    assigned AS (
        SELECT g.vec_id, g.embedding, s.centroid_id
        FROM aug g JOIN seeds s ON true
        QUALIFY row_number() OVER (
            PARTITION BY g.vec_id
            ORDER BY ({S.oracle_dot('g.embedding', 's.ce')} + g.a * s.ca) DESC,
                     s.centroid_id ASC
        ) = 1
    ),
    q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
    probes AS (
        SELECT q.query_id, q.qe, s.centroid_id FROM q
        JOIN seeds s ON true
        QUALIFY row_number() OVER (
            PARTITION BY q.query_id
            ORDER BY {S.oracle_dot('q.qe', 's.ce')} DESC, s.centroid_id ASC
        ) <= {_X27_P}
    ),
    ivf5 AS (
        SELECT query_id, neighbor_id
        FROM (
            SELECT p.query_id, a.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY p.query_id
                       ORDER BY {oracle_rnd(S.oracle_dot('p.qe', 'a.embedding'), 4)} DESC,
                                a.vec_id ASC
                   ) AS rk
            FROM probes p JOIN assigned a
              ON a.centroid_id = p.centroid_id AND a.vec_id <> p.query_id
        )
        WHERE rk <= 5
    ),
    exact5 AS (
        SELECT query_id, neighbor_id
        FROM (
            SELECT q.query_id, e.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {oracle_rnd(S.oracle_dot('q.qe', 'e.embedding'), 4)} DESC,
                                e.vec_id ASC
                   ) AS rk_e
            FROM q JOIN embeddings e ON e.vec_id <> q.query_id
        )
        WHERE rk_e <= 5
    ),
    pairhits AS (
        SELECT x.query_id, count(*) AS h
        FROM exact5 x JOIN ivf5 i
          ON i.query_id = x.query_id AND i.neighbor_id = x.neighbor_id
        GROUP BY 1
    ),
    perq AS (
        SELECT q.query_id, coalesce(p.h, 0) AS hits
        FROM q LEFT JOIN pairhits p ON p.query_id = q.query_id
    )
    SELECT count(*)                                     AS n_queries,
           CAST(count(*) * 5 AS BIGINT)                 AS n_expected,
           CAST(sum(hits) AS BIGINT)                    AS n_hits,
           CAST((2 * sum(hits) * 10000 + count(*) * 5)
                // (2 * count(*) * 5) AS BIGINT)        AS recall_e4,
           CAST(min(hits) AS BIGINT)                    AS min_hits_per_query
    FROM perq
    """,
)
def x27_mips_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _mips_ann_recall(spark, sf_dir, _X27_P)


def _mips_ann_recall(spark: SparkSession, sf_dir: str, nprobe: int) -> DataFrame:
    """x27 body with the probe width exposed: nprobe = IVF_K probes every
    cell, so the augmented tier must reproduce the exact MIPS top-5 and
    recall_e4 must be exactly 10000 — the property test that proves the
    norm-augmentation order math (tests/test_properties.py)."""
    emb = fan_out(_emb(spark, sf_dir), HEAVY, "vec_id")
    base = emb.select("vec_id", "embedding", S.dot("embedding", "embedding", EMB_DIM).alias("n2"))
    m = base.agg(F.max("n2").alias("m2"))
    # map-only augmentation: the 1-row max broadcasts (q17 scalar shape).
    # LAZY checkpoint: seeds (2 broadcast uses) and the assignment
    # scan all read `aug`, and every re-execution re-runs the corpus n²
    # aggregation behind `m` — materialize once per action
    aug = (
        base.crossJoin(F.broadcast(m))
        .select(
            "vec_id", "embedding", F.sqrt(F.col("m2") - F.col("n2")).alias("a")
        )
        .localCheckpoint(eager=False)
    )
    seeds = aug.filter(F.col("vec_id") < IVF_K).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("ce"),
        F.col("a").alias("ca"),
    )
    # corpus → nearest augmented centroid (x07's broadcast scoring; the
    # /M² cosine denominator is constant, so rank by the augmented dot)
    a_score = S.dot("embedding", "ce", EMB_DIM) + F.col("a") * F.col("ca")
    aw = W.partitionBy("vec_id").orderBy(F.desc("a_score"), F.asc("centroid_id"))
    assigned = (
        aug.crossJoin(F.broadcast(seeds))
        .select("vec_id", "embedding", "centroid_id", a_score.alias("a_score"))
        .withColumn("rk", F.row_number().over(aw))
        .filter(F.col("rk") == 1)
        .drop("a_score", "rk")
    )
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    # queries probe by plain dot (their augmented coordinate is 0)
    p_score = S.dot("qe", "ce", EMB_DIM)
    pw = W.partitionBy("query_id").orderBy(F.desc("p_score"), F.asc("centroid_id"))
    probes = (
        q.crossJoin(F.broadcast(seeds))
        .select("query_id", "qe", "centroid_id", p_score.alias("p_score"))
        .withColumn("rk", F.row_number().over(pw))
        .filter(F.col("rk") <= nprobe)
        .drop("p_score", "rk")
    )
    ip = rnd(S.dot("qe", "embedding", EMB_DIM), 4)
    wq = W.partitionBy("query_id")
    ivf5 = (
        assigned.join(F.broadcast(probes), ["centroid_id"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), ip.alias("ip_score"))
        .withColumn(
            "rk",
            F.row_number().over(wq.orderBy(F.desc("ip_score"), F.asc("neighbor_id"))),
        )
        .filter(F.col("rk") <= 5)
        .select("query_id", "neighbor_id")
    )
    exact5 = (
        F.broadcast(q)
        .join(emb, F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), ip.alias("ip_score"))
        .withColumn(
            "rk",
            F.row_number().over(wq.orderBy(F.desc("ip_score"), F.asc("neighbor_id"))),
        )
        .filter(F.col("rk") <= 5)
        .select("query_id", "neighbor_id")
    )
    pairhits = exact5.join(ivf5, ["query_id", "neighbor_id"]).groupBy("query_id").agg(
        F.count(F.lit(1)).alias("h")
    )
    perq = q.select("query_id").join(F.broadcast(pairhits), "query_id", "left").select(
        "query_id", F.coalesce(F.col("h"), F.lit(0)).alias("hits")
    )
    return perq.agg(
        F.count(F.lit(1)).alias("n_queries"),
        (F.count(F.lit(1)) * 5).cast("bigint").alias("n_expected"),
        F.sum("hits").cast("bigint").alias("n_hits"),
        F.expr(
            "CAST((2 * sum(hits) * 10000 + count(*) * 5)"
            " div (2 * count(*) * 5) AS BIGINT)"
        ).alias("recall_e4"),
        F.min("hits").cast("bigint").alias("min_hits_per_query"),
    )


# --------------------------------------------------------------------------
# x28 — tombstoned ANN search (the vector-store DELETE path: right-to-be-
# forgotten erasure, retracted docs, stale embeddings). Production indexes
# don't rebuild per delete — they carry a tombstone set and EXCLUDE at
# query time, compacting later (s09's drift/rebuild machinery is the
# compaction side; this row gates the query-time semantics). Deletes here
# are vec_id % 17 == 3 (~6% of the corpus, deterministic); the IVF probe
# tier (x07's shape: broadcast seeds, per-query top-P cells) generates
# candidates from the UNCHANGED index, a broadcast LEFT ANTI join against
# the delete relation drops tombstones before ranking, and the gated
# answer is the post-delete top-5 per query plus n_evicted — how many of
# the PRE-delete top-5 the erasure removed (the user-visible churn).
# Deleted ids can never appear (anti-join, not score fudging), and because
# per-vector cell assignment is independent of other vectors, the
# tombstone path is provably IDENTICAL to a fresh index built on the
# reduced corpus with the same centroids — the property test pins that
# equivalence, which is what licenses deferred compaction at 100 TB.
# Scale: the delete set is broadcast (≪ corpus, the realistic regime);
# everything else is x07's probed-cells-only scan.
# --------------------------------------------------------------------------
_X28_MOD, _X28_RES = 17, 3


def _x28_paths(spark: SparkSession, sf_dir: str):
    """(pre-delete candidates, post-delete candidates, queries) for the
    tombstoned search — shared by the gated query and the equivalence
    property test."""
    emb = _emb(spark, sf_dir)
    seeds = emb.filter(F.col("vec_id") < IVF_K).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("ce")
    )
    sim = S.cosine("embedding", "ce", EMB_DIM)
    aw = W.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("centroid_id"))
    assigned = (
        emb.crossJoin(F.broadcast(seeds))
        .select("vec_id", "embedding", "centroid_id", sim.alias("sim"))
        .withColumn("rk", F.row_number().over(aw))
        .filter(F.col("rk") == 1)
        .drop("sim", "rk")
    )
    q = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 110)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    qsim = S.cosine("qe", "ce", EMB_DIM)
    pw = W.partitionBy("query_id").orderBy(F.desc("qsim"), F.asc("centroid_id"))
    probes = (
        q.crossJoin(F.broadcast(seeds))
        .select("query_id", "qe", "centroid_id", qsim.alias("qsim"))
        .withColumn("rk", F.row_number().over(pw))
        .filter(F.col("rk") <= IVF_NPROBE)
        .drop("qsim", "rk")
    )
    cand = (
        assigned.join(F.broadcast(probes), ["centroid_id"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            rnd(S.cosine("qe", "embedding", EMB_DIM), 4).alias("cosine_sim"),
        )
        # LAZY checkpoint: pre- and post-tombstone rankings both consume
        # this candidate relation — without the checkpoint each consumer
        # re-runs the whole assignment + probe + scoring lineage (the
        # corpus-sized part of the query) — the checkpointed relation is
        # only (query_id, neighbor_id, cosine_sim), probe-candidate-sized
        .localCheckpoint(eager=False)
    )
    dels = emb.filter(F.col("vec_id") % _X28_MOD == _X28_RES).select(
        F.col("vec_id").alias("neighbor_id")
    )
    post = cand.join(F.broadcast(dels), "neighbor_id", "left_anti")
    return cand, post, q


def _top5(cand: DataFrame) -> DataFrame:
    w = W.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return cand.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 5)


@query(
    "x28_tombstoned_ann_search",
    oracle=f"""
    WITH seeds AS (
        SELECT vec_id AS centroid_id, embedding AS ce FROM embeddings WHERE vec_id < {IVF_K}
    ),
    assigned AS (
        SELECT e.vec_id, e.embedding, s.centroid_id FROM embeddings e
        JOIN seeds s ON true
        QUALIFY row_number() OVER (
            PARTITION BY e.vec_id
            ORDER BY {S.oracle_cosine('e.embedding', 's.ce')} DESC, s.centroid_id ASC
        ) = 1
    ),
    q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
          WHERE vec_id >= 100 AND vec_id < 110),
    probes AS (
        SELECT q.query_id, q.qe, s.centroid_id FROM q
        JOIN seeds s ON true
        QUALIFY row_number() OVER (
            PARTITION BY q.query_id
            ORDER BY {S.oracle_cosine('q.qe', 's.ce')} DESC, s.centroid_id ASC
        ) <= {IVF_NPROBE}
    ),
    cand AS (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               {oracle_rnd(S.oracle_cosine('p.qe', 'a.embedding'), 4)} AS cosine_sim
        FROM probes p JOIN assigned a
          ON a.centroid_id = p.centroid_id AND a.vec_id <> p.query_id
    ),
    pre5 AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC
            ) AS rk FROM cand
        ) WHERE rk <= 5
    ),
    post5 AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC
            ) AS rk
            FROM cand WHERE neighbor_id % {_X28_MOD} <> {_X28_RES}
        ) WHERE rk <= 5
    ),
    evicted AS (
        SELECT query_id,
               CAST(sum(CASE WHEN neighbor_id % {_X28_MOD} = {_X28_RES}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_evicted
        FROM pre5 GROUP BY query_id
    )
    SELECT p.query_id, p.neighbor_id, p.cosine_sim, p.rk, e.n_evicted
    FROM post5 p JOIN evicted e USING (query_id)
    """,
)
def x28_tombstoned_ann_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    cand, post, _q = _x28_paths(spark, sf_dir)
    pre5 = _top5(cand)
    post5 = _top5(post)
    evicted = pre5.groupBy("query_id").agg(
        F.sum(
            (F.col("neighbor_id") % _X28_MOD == _X28_RES).cast("bigint")
        ).alias("n_evicted")
    )
    return post5.join(F.broadcast(evicted), "query_id").select(
        "query_id", "neighbor_id", "cosine_sim", "rk", "n_evicted"
    )
