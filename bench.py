#!/usr/bin/env python
"""Benchmark harness: runs every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is materialized through the noop sink (all columns computed, no
driver collection) — the honest executor-side cost, not toPandas overhead.

Measurement policy (cross-referenced from BASELINE.md — keep in sync):

- **Eras, not back-to-back repeats.** ``SPARK_GRAFT_BENCH_PASSES`` (default
  2) full passes over the sorted registry run INTERLEAVED — whole registry
  era 1, then era 2 — and each query reports the MIN across eras. This box
  has documented multi-minute 3–30x host-steal bursts; two back-to-back
  runs of one query land inside the same burst, while era-separated runs
  sit minutes apart and the min survives it.
- **Wall-clock budget gates refinement only.** Era 1 always runs to
  completion (it alone is full coverage); era 2+ starts — and each query
  within it continues — only while total wall time is under
  ``SPARK_GRAFT_BENCH_BUDGET_S`` (default 900 s). ``"passes"`` in the JSON
  reports how many eras COMPLETED, so a budget-truncated era is visible
  (passes stays at the last complete era; minima from the partial era are
  still kept).
- **EAGER queries bill plan-build.** Operators whose work happens at
  DataFrame-construction time (persisted-index builds, iterative
  localCheckpoint rounds, streaming drains) are timed over the whole query
  call; everything else is timed over the noop write only.
- **Split billing to stderr.** x13/t31 report build_s vs query_s in the
  stderr extras so index construction isn't misread as query cost; the
  stdout JSON stays one driver-parseable line (short query-ID keys,
  slowest-first truncation if it would exceed the 1900-char line budget).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from stock_crypto_data_pipeline_public_spark.plans import registry
from stock_crypto_data_pipeline_public_spark.session import env_positive_int, get_spark

# Queries whose plan BUILD does the real work (operators with side
# effects — t31 materializes edges and writes the inverted index before
# returning; x18/g01 run eager localCheckpoint jobs for their iterative
# rounds; EVERY s-series query drains a streaming checkpoint in the
# call): time the whole call, or the bench would bill them ~0.
# tests/test_plan_contracts.py pins "s-prefix ⊆ EAGER" mechanically.
EAGER = {
    "t31_incremental_vs_batch_neardup",
    "x13_persisted_ann_search",
    "x18_mmr_rerank",
    "g01_pagerank_trade_graph",
    "g03_bfs_trade_hops",
    "m05_ppm_real_resize_rollup",  # r7: eager localCheckpoint of the
    # synthesized media (two consumers, no cross-consumer CSE in Spark)
    # r12 MEASUREMENT FIX (OPTIMIZATION_r12.md "billing correction"):
    # every query below runs real work at DataFrame-construction time and
    # was billed noop-only. The connected-components family (t11/t23/t30/
    # t32/x14) has ALWAYS driven its eager per-round checkpoints at build —
    # the same shape that put g01/g03/x18/m05 in this set — and the r11
    # shared-projection queries' localCheckpoint(eager=False) turned out to
    # execute all upstream SHUFFLE STAGES at .rdd-creation time under AQE
    # (verified r12: a lazy checkpoint call on a shuffle plan ran the
    # exchange, 1.08 s at call vs 0.38 s at first action), so their r11
    # "billed in-region" claim was wrong in practice. Whole-call billing
    # restores honesty; old noop-only numbers are kept in
    # OPTIMIZATION_r12.md for round-over-round comparison.
    "t11_dup_clusters",
    "t23_curated_corpus",
    "t30_curation_pipeline",
    "t32_cluster_split",
    "x14_semantic_dedup",
    "t12_bigram_lm_score",
    "t42_fuzzy_decontamination",
    "g02_supplier_triangles",
    "x15_sq8_rerank_search",
    "x16_sq8_recall",
    "x19_ivf_recall_sweep",
    "x22_ivf_bq_probe_search",
    "x27_mips_ann_recall",
    "x28_tombstoned_ann_search",
    "s01_streaming_ingest_end_state",  # streaming drains run in the call
    "s02_streaming_watermark_end_state",
    "s03_stream_stream_attribution",
    "s04_stateful_sessionization",
    "s05_stream_static_enrichment",
    "s06_streaming_dedup_end_state",
    "s07_streaming_ohlcv_end_state",
    "s08_streaming_neardup_end_state",
    "s09_streaming_ann_index_end_state",
    "s10_streaming_cdc_merge_end_state",
    "s11_streaming_media_features_end_state",
    "s12_streaming_shuffle_manifest_end_state",
    "s13_streaming_sketch_end_state",
    "s14_idle_timeout_eviction",
    "q38_cobucketed_join_rollup",  # bucketed-table writes run in the call
    "q39_compaction_roundtrip",  # fragment + compact runs in the call
    "q44_manifest_time_travel",  # two manifest merge-commits run in the call
}


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = env_positive_int("SPARK_GRAFT_CPUS", 32)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf = float(sf)
    except ValueError:
        pass

    registry.load_all()
    spark = get_spark("scdp-bench", cpus=cpus, shuffle_partitions=cpus)

    # one tiny warm-up action so JVM/codegen startup isn't billed to q01
    spark.range(1000).selectExpr("sum(id)").collect()
    # ...and one Arrow round-trip so Python-worker spin-up isn't billed to
    # the first mapInPandas query (r6: m-series cold-start was the dominant
    # noise source — m05 35.9s cold vs 3.6s steady on identical code)
    spark.range(64).repartition(spark.sparkContext.defaultParallelism).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()

    # best-of-2 per query: a single pass is noisy at these sub-second scales
    # (GC pauses / machine load produce 4x one-off blips that read as false
    # regressions round-over-round); the min of two runs is the steady-state
    # executor-side cost. Reported explicitly as "passes": 2.
    PASSES = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "2"))
    # passes are INTERLEAVED (whole registry pass 1, then pass 2, min per
    # query): host-steal bursts on this box last minutes, so back-to-back
    # passes of one query both land inside the same burst and the min
    # doesn't help; with eras the second measurement lands several minutes
    # away and survives it.
    #
    # Wall-clock BUDGET: era 1 alone is complete coverage — later eras only
    # refine the minima. On a degraded box a fixed 2-era run of ~150
    # queries can outlast the harness that invoked us and be recorded as a
    # failure; better to ship era-1 numbers than none. The budget gates
    # each refinement era (and each query within it) — era 1 always runs
    # to completion regardless.
    BUDGET_S = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_S", "900"))
    started = time.perf_counter()
    timings: dict[str, float] = {}
    eras_done: dict[str, int] = {}
    passes_done = 0
    for era in range(PASSES):
        if era > 0 and time.perf_counter() - started > BUDGET_S:
            break
        era_complete = True
        # Era 1 covers everything in name order. Refinement eras run
        # SLOWEST-FIRST: a single-era value is indistinguishable from a
        # burst artifact (r6's m05 17.5s), so when the budget truncates a
        # refinement era it should have re-measured the big, burst-prone
        # numbers first — the sub-second tail loses least from staying
        # single-era.
        if era == 0:
            order = sorted(registry.QUERIES)
        else:
            order = sorted(timings, key=timings.get, reverse=True)
        for name in order:
            if era > 0 and time.perf_counter() - started > BUDGET_S:
                era_complete = False
                break
            t_build = time.perf_counter()
            df = registry.QUERIES[name](spark, sf_dir)
            t0 = time.perf_counter() if name not in EAGER else t_build
            df.write.format("noop").mode("overwrite").save()
            took = time.perf_counter() - t0
            timings[name] = round(min(timings.get(name, float("inf")), took), 3)
            eras_done[name] = eras_done.get(name, 0) + 1
        if era_complete:
            passes_done = era + 1

    total = round(sum(timings.values()), 3)
    # Full names to stderr for humans; the stdout JSON line must stay well
    # under the driver's 2000-char tail buffer (round 1's full-name line
    # overflowed it -> "parsed": null), so use each query's unique ID prefix.
    from stock_crypto_data_pipeline_public_spark.plans import textops, vectorops

    extras = {"queries_full": timings}
    # truncation honesty (r6 verdict #3): a min-of-1 value got no chance to
    # shed a host burst — name them so an m05-style artifact is mechanically
    # distinguishable from a real regression in the recorded JSON
    single_era = sorted(n for n, c in eras_done.items() if c == 1)
    if passes_done < PASSES or single_era:
        extras["query_eras"] = eras_done
        extras["single_era"] = single_era
    if vectorops.X13_BILLING:
        # x13/t31 bill honest index-BUILD cost into their headline
        # numbers; the splits show what the wall time actually bought
        extras["x13_billing"] = dict(vectorops.X13_BILLING)
    if textops.T31_BILLING:
        extras["t31_billing"] = dict(textops.T31_BILLING)
    print(json.dumps(extras), file=sys.stderr)
    short = {name.split("_", 1)[0]: t for name, t in sorted(timings.items())}
    if len(short) != len(timings):  # not assert: must survive python -O
        raise RuntimeError("query ID prefixes must stay unique")
    import hashlib

    payload = {
        "metric": "total_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "n_queries": len(timings),
        "passes": passes_done,
        # fingerprint of the FULL short-ID map (sorted-key canonical JSON):
        # when the line budget truncates "queries" below, cross-round
        # tooling can still tell two runs' full maps apart, and the full
        # map itself is always on stderr (queries_full)
        "queries_sha": hashlib.sha256(
            json.dumps(short, sort_keys=True, separators=(",", ":")).encode()
        ).hexdigest()[:12],
        "queries": short,
        "sf": sf,
    }
    line = json.dumps(payload, separators=(",", ":"))
    if len(line) >= 1900:
        # degrade rather than abort after all queries already ran: keep the
        # headline metric parseable and as many of the SLOWEST per-query
        # entries as fit (those are the ones a perf review needs; the full
        # map always goes to stderr above). queries_policy names the rule
        # so the recorded JSON can't be misread as "these were the only
        # queries" / "the missing ones were slow".
        by_cost = sorted(short.items(), key=lambda kv: -kv[1])
        payload["queries_policy"] = "slowest-kept"
        while len(line) >= 1900 and by_cost:
            by_cost = by_cost[:-1]
            payload["queries"] = dict(sorted(by_cost))
            payload["queries_truncated"] = len(timings) - len(by_cost)
            line = json.dumps(payload, separators=(",", ":"))
    print(line)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
