#!/usr/bin/env python
"""Plan-health audit: `.explain("formatted")` every registered query and
check the physical plan for the properties the engine promises at scale.

Checks per query:
- scan health: parquet scans carry PushedFilters / a pruned ReadSchema
- join strategy: counts broadcast / sort-merge / nested-loop joins;
  nested-loop joins are only expected for the deliberate pair-generation
  queries (brute-force similarity baselines)
- codegen: whole-stage codegen spans exist; NO row-at-a-time Python UDF
  (BatchEvalPython) anywhere — Arrow-batched (ArrowEvalPython / MapInPandas)
  is the only sanctioned Python boundary
- no accidental CartesianProduct

Exit 1 if a hard rule is violated (row-at-a-time UDF, cartesian product,
or an unexpected nested-loop join).
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stock_crypto_data_pipeline_public_spark.plans import registry
from stock_crypto_data_pipeline_public_spark.session import get_spark

#: queries whose plans legitimately contain a broadcast nested-loop join,
#: mapped to the MAXIMUM occurrence count of "BroadcastNestedLoopJoin" in
#: their formatted static plan (each node prints twice: tree + details).
#: Pinning counts instead of a boolean exemption means a FUTURE unintended
#: BNLJ sneaking into an allowlisted query still fails the audit; counts
#: measured at sf0.01, AQE off.
EXPECTED_NESTED_LOOP = {
    # brute-force pair baselines: non-equi (id < id) pair generation with a
    # broadcast corpus — the deliberate exactness/distribution baselines the
    # LSH-bucketed variants (x02/t07) approximate
    "x01_knn_cosine": 2,
    # binary-quantization tier: the same 10-query broadcast non-equi scan
    # as x01, over 16-byte packed sign-bit codes (Hamming popcount pass) —
    # plus its recall-contract twin ranking both ways (x16's shape)
    "x20_binary_quant_search": 2,
    "x21_binary_quant_recall": 2,
    # SQ8 tier: same 10-query broadcast non-equi scan as x01 (the quantized
    # candidate pass), plus its recall-contract twin ranking both ways
    "x15_sq8_rerank_search": 2,
    "x16_sq8_recall": 2,
    "x04_cosine_pair_histogram": 2,
    # exact MIPS baseline + the Matryoshka prefix recall contract: the
    # same 10-query broadcast non-equi scan as x01 (x25 ranks both ways)
    "x24_mips_topk": 2,
    "x25_matryoshka_recall": 2,
    "x11_sampled_pair_histogram": 2,
    "t08_simhash_hamming": 2,
    # PIT spine: hub keys × the broadcast weekly snapshot calendar — a
    # deliberate tiny-broadcast cross product (the PIT table IS that grid)
    "v10_pit_user_activity": 2,
    # IVF assignment: every vector scores against K=8 broadcast centroids —
    # a deliberate tiny-broadcast cross product (map-only, K rows)
    "x05_ivf_assign": 2,
    # IVF probe search: same K-row broadcast scoring for assignment/probing;
    # the candidate scan itself is a broadcast hash equi-join on centroid_id
    "x07_ivf_probe_search": 4,
    # IVF-PQ: the same deliberate K-row broadcast scoring for coarse
    # assignment; encode and ADC join on keys (broadcast hash)
    "x10_ivfpq_search": 2,
    # IVF x BQ: the same K-row broadcast scoring for assignment/probing;
    # the in-cell Hamming scan joins on centroid_id (broadcast hash)
    "x22_ivf_bq_probe_search": 4,
    # k-means refinement: both Lloyd's iterations score the corpus against
    # a K-row broadcast centroid table — the same deliberate shape as x05
    "x12_kmeans_refine": 4,
    # TF-IDF corpus size: broadcast 1-row count(*) aggregate (map-only),
    # the same scalar-subquery shape as the q17 high-water mark
    "t10_tfidf_top_terms": 2,
    # BM25 corpus stats: the same broadcast 1-row scalar shape (N, Σdl)
    "t47_bm25_scoring": 2,
    # PSI drift: broadcast 1-row totals cross join (same scalar shape)
    "e12_value_drift_psi": 2,
    # hybrid RRF: t47's 1-row stats shape on the text side + the x01-style
    # broadcast single-query-vector cosine scan on the vector side
    "x23_hybrid_rrf_fusion": 4,
    # bigram LM vocabulary size: identical broadcast 1-row scalar shape
    "t12_bigram_lm_score": 2,
    # scalar-subquery high-water mark: the "join" side is a broadcast 1-row
    # aggregate (max(ts)), i.e. a map-only pass — the canonical incremental
    # filter shape at any scale
    "q17_incremental_hwm": 2,
    # LSH recall report: three 1-row COUNT aggregates cross-combined into
    # the single metrics row — broadcast scalars, the same shape as t10/t12
    "t34_lsh_recall": 4,
    # CMS contract report: three 1-row aggregates (distinct count,
    # never-undercount fold, cell-equality fold) cross-combined into the
    # single contract row — broadcast scalars, t34's exact shape
    "t45_cms_contract": 4,
    # SCD2 quality battery: eight 1-row violation-count aggregates
    # cross-combined into the single report row — broadcast scalars,
    # t34/t45's exact shape
    "q43_scd2_quality_checks": 14,
    # pattern-similarity search: the query pattern is a broadcast 1-ROW
    # window (crossJoin) — map-only distance scan over the candidates
    "f07_pattern_similarity": 2,
    # PageRank: the node count is a broadcast 1-row aggregate crossed into
    # every iterate (the repo's standard broadcast-scalar shape, once per
    # unrolled iteration) — same rationale as t10/t12/q17
    "g01_pagerank_trade_graph": 8,
    # token-frequency spectrum: total corpus mass is a broadcast 1-row
    # aggregate crossed into the (tiny) spectrum — same shape as t10/t12
    "t41_token_freq_spectrum": 2,
    # IVF recall sweep: the K-row centroid broadcast scorings (x05/x07's
    # shape), the bounded 10-query ground-truth block (x01/x16's deliberate
    # exactness baseline), and 1-row corpus-count scalars — all broadcast
    "x19_ivf_recall_sweep": 12,
    # MG heavy hitters: the corpus-total threshold is a broadcast 1-row
    # aggregate crossed into the (candidate-sized) recount — t41's shape
    "t46_mg_heavy_hitters": 2,
    # temperature mixing: the |langs|-row acceptance decision table (and
    # its 1-row total) broadcast-crossed into the map-only corpus pass —
    # the x05 tiny-broadcast shape
    "t48_temperature_mixing": 4,
    # filtered k-NN: the 10-query block is a broadcast non-equi scan for
    # the unfiltered top-R postfilter CONTRAST arm (x01's deliberate
    # baseline); the pre-filter arm itself is a broadcast hash equi-join
    # on (label, query)
    "x26_filtered_knn": 2,
    # windowed funnel: the three stage counts are broadcast 1-row
    # aggregates cross-combined into the single report row — t34's shape
    # (the funnel's data-sized joins are the user_id-keyed LEFT SEMIs)
    "e14_windowed_funnel": 4,
    # tombstoned ANN search: the K-row centroid broadcast scorings
    # (x05/x07's shape); the delete set and the candidate exclusion are
    # broadcast hash anti-joins, not nested loops
    "x28_tombstoned_ann_search": 2,
    # MIPS-via-ANN recall: the 1-row max-norm broadcast (augmentation),
    # the K-row augmented-centroid broadcast scorings (x05/x07's shape),
    # and the bounded 10-query exact-MIPS block (x01's deliberate
    # exactness baseline the contract scores against)
    "x27_mips_ann_recall": 6,
    # MMR re-rank: the bounded 10-query broadcast scoring block (x01's
    # shape, query != candidate non-equi). The single-pass greedy takes no
    # eager localCheckpoint, so the static plan shows the lineage end to
    # end instead of a LogicalRDD
    "x18_mmr_rerank": 2,
}


def plan_text(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def codegen_subtrees(df) -> int:
    """AQE hides codegen ids in the formatted pre-execution plan; the
    codegen explain mode reports 'Found N WholeStageCodegen subtrees'."""
    import re

    m = re.search(r"Found (\d+) WholeStageCodegen subtrees", plan_text(df, "codegen"))
    return int(m.group(1)) if m else 0


def audit(spark, sf_dir: str, with_codegen: bool = True) -> list[str]:
    """Audit every registered query's physical plan; returns the hard-rule
    violations (empty = healthy). AQE must be DISABLED on the session —
    AdaptiveSparkPlan hides codegen subtrees and join strategies until
    execution; the static plan is what we audit.

    ``with_codegen=False`` skips the WholeStageCodegen subtree count (a
    second full codegen-mode explain per query — informational only, and
    roughly half the audit's wall time); every hard rule reads the
    formatted plan, so the violation list is identical either way."""
    registry.load_all()
    hard_fails: list[str] = []
    print(f"{'query':38s} {'scans':>5s} {'pushed':>6s} {'bhj':>4s} {'smj':>4s} {'bnlj':>4s} {'wsc':>4s} notes")
    for name in sorted(registry.QUERIES):
        df = registry.QUERIES[name](spark, sf_dir)
        text = plan_text(df)
        scans = text.count("Scan parquet")
        pushed = text.count("PushedFilters: [") - text.count("PushedFilters: []")
        bhj = text.count("BroadcastHashJoin")
        smj = text.count("SortMergeJoin")
        bnlj = text.count("BroadcastNestedLoopJoin")
        wsc = codegen_subtrees(df) if with_codegen else -1
        notes = []
        if "CartesianProduct" in text:
            notes.append("CARTESIAN")
            hard_fails.append(f"{name}: CartesianProduct")
        if "BatchEvalPython" in text:
            notes.append("PY-UDF")
            hard_fails.append(f"{name}: row-at-a-time Python UDF")
        if bnlj > EXPECTED_NESTED_LOOP.get(name, 0):
            notes.append("UNEXPECTED-BNLJ")
            hard_fails.append(
                f"{name}: BroadcastNestedLoopJoin count {bnlj} exceeds the "
                f"allowlisted ceiling {EXPECTED_NESTED_LOOP.get(name, 0)}"
            )
        if "ArrowEvalPython" in text or "MapInPandas" in text:
            notes.append("arrow-udf")
        print(f"{name:38s} {scans:5d} {pushed:6d} {bhj:4d} {smj:4d} {bnlj:4d} {wsc:4d} {','.join(notes)}")
    return hard_fails


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = get_spark(
        "scdp-explain", cpus=8, shuffle_partitions=8,
        extra_conf={"spark.sql.adaptive.enabled": "false"},
    )
    hard_fails = audit(spark, sf_dir)
    if hard_fails:
        print("\nHARD FAILS:")
        for f in hard_fails:
            print(" -", f)
        return 1
    print("\nall plans healthy")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
