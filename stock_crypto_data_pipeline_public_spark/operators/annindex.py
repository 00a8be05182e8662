"""Persisted ANN index: IVF assignment as the STORAGE LAYOUT.

The x-series queries (plans/vectorops.py) prove the IVF math inline; this
operator makes the index a TABLE, which is what changes at 100 TB: the
coarse assignment runs once at build time and becomes the parquet partition
key, so every later query prunes to its probed clusters at the SCAN — the
candidate cut costs zero compute per query, it is directory listing. This
is the "embeddings partitioned by IVF centroid id" row of SCALE.md made
concrete (and test_annindex proves the pruning mechanically via
``inputFiles()``).

Build: one corpus pass (K-row centroid broadcast, min_by collapse — the
same plan shape as x05/x10's assignment) + one partitioned write. Centroid
vectors are tiny (K × dim doubles) and live in a JSON sidecar.

Query: centroid scoring happens on the DRIVER (K × dim floats — trivial),
the probed centroid ids become a partition filter, and the exact cosine
top-k runs only over the probed clusters with the query set broadcast.
Refreshing centroids (e.g. after x12's Lloyd refinement) is a rebuild —
the index is derived data, rebuilt from the source embedding table.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.numeric import rnd
from ..sources.tables import local_rows
from . import similarity as S
from .manifest import replace_file


def _centroids_path(index_dir: str) -> str:
    return os.path.join(index_dir, "centroids.json")


def _vectors_path(index_dir: str) -> str:
    return os.path.join(index_dir, "vectors")


def _baseline_path(index_dir: str) -> str:
    return os.path.join(index_dir, "drift_baseline.json")


def _assign_to_centroids(
    spark: SparkSession,
    emb: DataFrame,
    centroids: list[list[float]],
    dim: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(vec_id, embedding, centroid_id): max-cosine assignment against a
    K-row centroid broadcast (ties → lowest centroid id, the x05
    convention) — the shared spine of build and incremental add."""

    def _nrm(v: list[float]) -> float:
        acc = 0.0
        for x in v:
            acc = acc + x * x
        return acc ** 0.5

    seeds = local_rows(
        spark,
        [(i, [float(x) for x in c], _nrm(c)) for i, c in enumerate(centroids)],
        "centroid_id int, ce array<double>, cnrm double",
    )
    vecs = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("embedding"),
    ).withColumn("nrm", S.norm("embedding", dim))
    # fail FAST on degenerate embeddings: a zero-norm (or NULL) vector has
    # no cosine against any centroid — left unchecked it would be assigned
    # by NULL-ordering at build time and then silently vanish from query
    # results (its sim is NULL), an undetectable data-quality hole. The
    # check rides the existing nrm column — no extra pass.
    vecs = vecs.withColumn(
        "nrm",
        F.when(F.col("nrm") > 0, F.col("nrm")).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("zero-norm or NULL embedding cannot be indexed: vec_id="),
                    F.col("vec_id").cast("string"),
                )
            )
        ),
    )
    sim = S.dot("embedding", "ce", dim) / F.nullif(
        F.col("nrm") * F.col("cnrm"), F.lit(0.0)
    )
    return (
        vecs.crossJoin(F.broadcast(seeds))
        .select("vec_id", "embedding", "nrm", "centroid_id", (-sim).alias("neg_sim"))
        .groupBy("vec_id")
        .agg(
            F.expr("min_by(centroid_id, struct(neg_sim, centroid_id))").alias(
                "centroid_id"
            ),
            F.any_value("embedding").alias("embedding"),
            # the vector's norm is INDEX PAYLOAD: queries score cosine
            # against candidates, so precomputing ‖v‖ once at build beats
            # recomputing the 64-term expression on every probe
            F.any_value("nrm").alias("nrm"),
            # similarity to the WINNING centroid — the assignment-quality
            # signal the drift diagnostic compares across batches
            (-F.min("neg_sim")).alias("assign_sim"),
        )
    )


def build_ann_index(
    spark: SparkSession,
    emb: DataFrame,
    index_dir: str,
    centroids: list[list[float]],
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    verify: bool = True,
) -> dict:
    """Assign every vector to its max-cosine centroid and write the corpus
    PARTITIONED BY centroid_id. ``centroids`` is the trained codebook (seed
    sample, or x12's Lloyd output). Returns {"n_vectors", "n_centroids"};
    ``verify=False`` skips the read-back count (n_vectors = -1) when the
    caller will scan the index anyway."""
    assigned = _assign_to_centroids(spark, emb, centroids, dim, id_col, vec_col)
    assigned = assigned.localCheckpoint(eager=True)  # reused: write + baseline
    # index files carry (vec_id, embedding, nrm) under centroid_id dirs —
    # assign_sim is a build-time statistic, not index payload
    assigned.drop("assign_sim").write.mode("overwrite").partitionBy(
        "centroid_id"
    ).parquet(_vectors_path(index_dir))
    # drift baseline sidecar: the build-time assignment-quality
    # distribution every later batch is compared against (diagnose_drift)
    stats = assigned.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("assign_sim").alias("mean_sim"),
        F.coalesce(F.stddev("assign_sim"), F.lit(0.0)).alias("std_sim"),
        # the drift CENTER: vectors that are themselves centroids score a
        # perfect 1.0 and inflate the mean whenever seeds are a visible
        # fraction of the corpus — the median is insensitive to that spike
        F.expr("percentile_approx(assign_sim, 0.5)").alias("median_sim"),
    ).first()
    os.makedirs(index_dir, exist_ok=True)
    replace_file(
        _centroids_path(index_dir),
        json.dumps([[float(x) for x in c] for c in centroids]),
    )
    replace_file(_baseline_path(index_dir), json.dumps(stats.asDict()))
    n = spark.read.parquet(_vectors_path(index_dir)).count() if verify else -1
    return {"n_vectors": n, "n_centroids": len(centroids)}


def add_to_ann_index(
    spark: SparkSession,
    emb: DataFrame,
    index_dir: str,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dedupe: bool = True,
) -> dict:
    """Fold NEW vectors into an existing index without a rebuild: assign
    against the SIDECAR centroids (so old and new vectors share one
    geometry — queries keep pruning correctly) and append, partitionBy
    routing each row into its cluster's directory. Per-add work ∝ the new
    batch; the existing index is read only for the ``dedupe`` id scan
    (vec_id column + partition values — column pruning; drop it when the
    caller guarantees fresh ids). Appends into a cluster create small
    files over time — ``maintenance.compact_table`` on a partition
    directory is the maintenance pass. Centroid DRIFT from accumulated
    adds is the measured rebuild trigger (diagnose_drift), and
    rebuild_ann_index is the one-call retrain+rebuild response; the
    sidecar is the single source of the geometry, so
    add/query stay consistent between rebuilds. Returns {"n_added",
    "mean_assign_sim"} — the latter is the batch's assignment-quality
    number, the same signal diagnose_drift tests against the build-time
    baseline."""
    with open(_centroids_path(index_dir)) as f:
        centroids = json.load(f)
    new = emb
    if dedupe:
        seen = spark.read.parquet(_vectors_path(index_dir)).select(
            F.col("vec_id").alias(id_col)
        )
        new = new.join(seen, id_col, "left_anti")
    assigned = _assign_to_centroids(spark, new, centroids, dim, id_col, vec_col)
    # one stats job while materialized (count + avg together: a split
    # count()/agg() pays one extra job per micro-batch); the append reuses
    # the checkpointed rows
    assigned = assigned.localCheckpoint(eager=True)
    row = assigned.agg(
        F.count(F.lit(1)).alias("n"), F.avg("assign_sim").alias("mean_sim")
    ).first()
    n_added = row["n"]
    mean_sim = row["mean_sim"] if n_added else None
    if n_added:
        assigned.drop("assign_sim").write.mode("append").partitionBy(
            "centroid_id"
        ).parquet(_vectors_path(index_dir))
    return {"n_added": n_added, "mean_assign_sim": mean_sim}


def probe_centroids(index_dir: str, query_vec: list[float], nprobe: int) -> list[int]:
    """Top-``nprobe`` centroids by cosine for one query — driver-side math
    over the K × dim sidecar (ties → lowest centroid id)."""
    with open(_centroids_path(index_dir)) as f:
        centroids = json.load(f)

    def _dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    def _nrm(a):
        return _dot(a, a) ** 0.5

    qn = _nrm(query_vec)
    scored = []
    for i, c in enumerate(centroids):
        den = qn * _nrm(c)
        scored.append((-(_dot(query_vec, c) / den) if den else float("inf"), i))
    return [i for _, i in sorted(scored)[:nprobe]]


def query_ann_index(
    spark: SparkSession,
    index_dir: str,
    queries: dict[int, list[float]],
    dim: int,
    nprobe: int = 2,
    topk: int = 5,
) -> DataFrame:
    """Exact cosine top-k over the probed clusters only: the centroid filter
    becomes parquet PARTITION PRUNING (directory-level — verified in tests
    via inputFiles()), the query table is broadcast, and each query scores
    only its own probed clusters. Returns (query_id, neighbor_id,
    cosine_sim, rk)."""
    probes = {qid: probe_centroids(index_dir, qv, nprobe) for qid, qv in queries.items()}
    probed_all = sorted({c for cs in probes.values() for c in cs})
    # one row per (query, probed centroid): the probe join below is then a
    # broadcast EQUI-join on centroid_id (hash relation, no nested loop)
    q = local_rows(
        spark,
        [
            (int(qid), [float(x) for x in qv], c)
            for qid, qv in queries.items()
            for c in probes[qid]
        ],
        "query_id long, qe array<double>, centroid_id int",
    ).withColumn("qnrm", S.norm("qe", dim))

    vecs = spark.read.parquet(_vectors_path(index_dir)).filter(
        F.col("centroid_id").isin(probed_all)  # partition pruning at the scan
    )
    if "nrm" not in vecs.columns:  # index built before norms were payload
        vecs = vecs.withColumn("nrm", S.norm("embedding", dim))
    sim = S.dot("qe", "embedding", dim) / F.nullif(
        F.col("qnrm") * F.col("nrm"), F.lit(0.0)
    )
    scored = (
        vecs.join(F.broadcast(q), "centroid_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            rnd(sim, 4).alias("cosine_sim"),  # cross-engine deterministic round
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= topk)


def diagnose_drift(
    spark: SparkSession,
    emb: DataFrame,
    index_dir: str,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rel_tol: float = 0.05,
) -> dict:
    """Measure how well a candidate batch still fits the index geometry —
    the MEASURED trigger for the documented retrain lifecycle (sibling of
    skew.diagnose_skew). Assigns the batch against the sidecar centroids
    (one K-row broadcast pass, nothing written) and compares its mean
    assignment similarity with the build-time baseline distribution
    (drift_baseline.json, recorded by build_ann_index).

    Returns {"n", "batch_mean_sim", "build_center_sim", "build_std_sim",
    "z", "rel_drop", "recommend_rebuild"}; the center is the build-time
    MEDIAN (robust to the seed vectors' perfect self-similarity). ``recommend_rebuild`` fires
    when the drop is BOTH practically large (``rel_drop`` > ``rel_tol``)
    and statistically clear (z = drop / (build_std/√n) > 3, the standard
    error of the batch mean under the build distribution) — an
    in-distribution batch fails the z-test, a tiny-but-real drop fails
    the rel_tol test, so neither alone flips the recommendation. The
    recommended response is an x12 Lloyd retrain + build_ann_index
    rebuild; until then adds remain CORRECT (assignment and query share
    the sidecar geometry), just increasingly less selective."""
    with open(_centroids_path(index_dir)) as f:
        centroids = json.load(f)
    assigned = _assign_to_centroids(spark, emb, centroids, dim, id_col, vec_col)
    row = assigned.agg(
        F.count(F.lit(1)).alias("n"), F.avg("assign_sim").alias("mean_sim")
    ).first()
    return drift_verdict(index_dir, row["n"], row["mean_sim"], rel_tol)


def drift_verdict(
    index_dir: str, n: int, batch_mean: float | None, rel_tol: float = 0.05
) -> dict:
    """The drift decision itself, given a batch's size and mean assignment
    similarity — shared by diagnose_drift and the streaming sink's
    per-batch drift log so the two can never disagree. Empty batches are
    never a rebuild signal."""
    with open(_baseline_path(index_dir)) as f:
        base = json.load(f)
    build_std = base["std_sim"]
    # center on the build-time MEDIAN: seed vectors assign to themselves
    # at sim 1.0 and bias the mean upward whenever they are a visible
    # fraction of the corpus (tiny indexes, fresh deployments) — a batch
    # of perfectly ordinary vectors would then read as "drifted". The
    # median ignores the spike; std still scales the significance test.
    center = base.get("median_sim", base["mean_sim"])
    if not n:
        return {
            "n": 0,
            "batch_mean_sim": None,
            "build_center_sim": center,
            "build_std_sim": build_std,
            "z": 0.0,
            "rel_drop": 0.0,
            "recommend_rebuild": False,
        }
    rel_drop = (center - batch_mean) / abs(center) if center else 0.0
    se = build_std / (n ** 0.5) if build_std else 0.0
    z = ((center - batch_mean) / se) if se else float("inf")
    recommend = bool(rel_drop > rel_tol and z > 3.0)
    return {
        "n": n,
        "batch_mean_sim": batch_mean,
        "build_center_sim": center,
        "build_std_sim": build_std,
        "z": z,
        "rel_drop": rel_drop,
        "recommend_rebuild": recommend,
    }


def retrain_centroids(
    spark: SparkSession,
    emb: DataFrame,
    seed_centroids: list[list[float]],
    dim: int,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Spherical k-means refinement of a codebook: alternate the index's
    OWN max-cosine assignment spine with per-cluster dimension means
    (posexplode long-form hash aggregate — one exchange per iteration,
    K x dim driver collect). Empty clusters keep their previous centroid,
    and a degenerate all-zero mean falls back likewise, so the result is
    always a valid geometry for build_ann_index. This is the retrain the
    drift diagnostic recommends; x12 proves the per-iteration math against
    a SQL oracle, this operator productionizes it for the index
    lifecycle."""
    centroids = [[float(x) for x in c] for c in seed_centroids]
    for _ in range(iters):
        assigned = _assign_to_centroids(spark, emb, centroids, dim, id_col, vec_col)
        longf = assigned.select(
            "centroid_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, {dim - 1}), "
                    f"i -> CAST(embedding[i] AS DOUBLE))"
                )
            ).alias("d", "x"),
        )
        rows = (
            longf.groupBy("centroid_id", "d")
            .agg(F.avg("x").alias("cd"))
            .groupBy("centroid_id")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(d, cd))), s -> s.cd)"
                ).alias("ce")
            )
            .collect()
        )
        means = {int(r["centroid_id"]): [float(x) for x in r["ce"]] for r in rows}
        nxt = []
        for k, old in enumerate(centroids):
            m = means.get(k)
            nxt.append(m if m and any(m) else old)
        centroids = nxt
    return centroids


def rebuild_ann_index(
    spark: SparkSession,
    emb: DataFrame,
    index_dir: str,
    dim: int,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """The retrain lifecycle diagnose_drift recommends, as ONE call:
    refine the sidecar centroids on the (current) corpus with spherical
    k-means, then rebuild the index and its drift baseline around the new
    geometry. The index is derived data — the rebuild reads ``emb`` (the
    source embedding table), not the old index. Returns build stats plus
    the before/after build-time mean assignment similarity so the caller
    sees the retrain actually helped."""
    with open(_baseline_path(index_dir)) as f:
        before = json.load(f)
    with open(_centroids_path(index_dir)) as f:
        seeds = json.load(f)
    refined = retrain_centroids(spark, emb, seeds, dim, iters, id_col, vec_col)
    stats = build_ann_index(
        spark, emb, index_dir, refined, dim, id_col, vec_col, verify=False
    )
    with open(_baseline_path(index_dir)) as f:
        after = json.load(f)
    stats["mean_sim_before"] = before["mean_sim"]
    stats["mean_sim_after"] = after["mean_sim"]
    return stats
