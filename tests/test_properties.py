"""Property-based tests (hypothesis) for the engine's core operators — the
testing mode SURVEY.md §5 notes the reference lacks entirely.

Each property drives randomized inputs through the REAL Spark operators and
asserts the algebraic invariant the pipeline depends on. Example counts are
small (Spark round-trip per example) but shrinkable.
"""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from stock_crypto_data_pipeline_public_spark.functions.keys import surrogate_key
from stock_crypto_data_pipeline_public_spark.operators.incremental import (
    idempotent_append,
    merge_upsert,
)
from stock_crypto_data_pipeline_public_spark.operators.scd import (
    latest_wins,
    scd2,
    top_k,
)

BASE = datetime(2024, 1, 1)

SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

#: (key, ts_offset_minutes, payload) — ts offsets unique per draw so version
#: order is total (the engine demands an explicit tiebreaker otherwise)
versions = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),
        st.integers(min_value=0, max_value=10_000),
        st.integers(min_value=0, max_value=3),
    ),
    min_size=1,
    max_size=30,
    unique_by=lambda t: (t[0], t[1]),
)


def _df(spark, rows):
    data = [(k, BASE + timedelta(minutes=m), str(p)) for k, m, p in rows]
    return spark.createDataFrame(data, "key int, ts timestamp, payload string")


@SETTINGS
@given(rows=versions)
def test_scd2_ranges_tile_and_one_current(spark, rows):
    hist = scd2(_df(spark, rows), ["key"], "ts", "payload").collect()
    by_key: dict[int, list] = {}
    for r in hist:
        by_key.setdefault(r.key, []).append(r)
    for key, rs in by_key.items():
        rs.sort(key=lambda r: r.effective_from)
        # exactly one open version, and it is the last
        assert sum(1 for r in rs if r.is_current) == 1
        assert rs[-1].is_current
        # ranges tile: each version ends where the next starts; all closed
        # ranges are non-empty
        for a, b in zip(rs, rs[1:]):
            assert a.effective_to == b.effective_from
            assert a.effective_from < a.effective_to
        assert rs[-1].effective_to == datetime(9999, 12, 31)


@SETTINGS
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),
            st.none() | st.integers(min_value=0, max_value=10_000),
            st.integers(min_value=0, max_value=3),
        ),
        min_size=1,
        max_size=30,
        unique_by=lambda t: (t[0], t[1]),
    ),
    k=st.sampled_from([1, 3, "cap"]),
    rank=st.sampled_from([None, "rank"]),
)
def test_dedup_keep_first_picks_global_min(spark, rows, k, rank):
    """top_k keeps each key's first k rows — ts ascending with a NULL ts
    first, payload breaking ties — numbered 1..k in ``rank`` when asked.
    ``k="cap"`` bounds each key by its rows' ``cap`` column (key % 3 + 1)."""
    df = spark.createDataFrame(
        [(key, None if m is None else BASE + timedelta(minutes=m), str(p), key % 3 + 1)
         for key, m, p in rows],
        "key int, ts timestamp, payload string, cap int",
    )
    out = top_k(
        df, ["key"], [F.asc("ts"), F.asc("payload")], F.col("cap") if k == "cap" else k, rank
    )
    assert out.columns == df.columns + ([rank] if rank else [])
    by_key: dict[int, list] = {}
    for key, m, p in sorted(rows, key=lambda t: (t[0], t[1] is not None, t[1] or 0, str(t[2]))):
        by_key.setdefault(key, []).append((m, str(p)))
    expect = {
        (key, m, p) + ((i,) if rank else ())
        for key, seq in by_key.items()
        for i, (m, p) in enumerate(seq[: key % 3 + 1 if k == "cap" else k], 1)
    }
    got = {
        (r.key, None if r.ts is None else int((r.ts - BASE).total_seconds() // 60), r.payload)
        + ((r[rank],) if rank else ())
        for r in out.collect()
    }
    assert got == expect


@SETTINGS
@given(rows=versions)
def test_latest_wins_is_dedup_dual(spark, rows):
    df = _df(spark, rows)
    latest = {r.key: r.ts for r in latest_wins(df, ["key"], "ts", "payload").collect()}
    expect = {}
    for k, m, p in rows:
        expect[k] = max(expect.get(k, BASE - timedelta(1)), BASE + timedelta(minutes=m))
    assert latest == expect


@SETTINGS
@given(
    batch1=versions,
    batch2=versions,
)
def test_idempotent_append_never_duplicates_keys(spark, tmp_path_factory, batch1, batch2):
    target = str(tmp_path_factory.mktemp("prop") / "t")
    df1, df2 = _df(spark, batch1), _df(spark, batch2)
    idempotent_append(spark, df1, target, ["key", "ts"])
    idempotent_append(spark, df2, target, ["key", "ts"])
    # replay both in reverse order: nothing new
    n3 = idempotent_append(spark, df2, target, ["key", "ts"])
    n4 = idempotent_append(spark, df1, target, ["key", "ts"])
    assert n3 == 0 and n4 == 0
    final = spark.read.parquet(target)
    keys = {(k, m) for k, m, _ in batch1} | {(k, m) for k, m, _ in batch2}
    assert final.count() == len(keys)
    assert final.select("key", "ts").distinct().count() == len(keys)


@SETTINGS
@given(target_rows=versions, source_rows=versions)
def test_merge_upsert_last_wins(spark, tmp_path_factory, target_rows, source_rows):
    path = str(tmp_path_factory.mktemp("prop") / "m")
    _df(spark, target_rows).write.parquet(path)
    merge_upsert(spark, _df(spark, source_rows), path, ["key"], "ts")
    out = {r.key: r for r in spark.read.parquet(path).collect()}
    # one row per key; the winner has the max ts across both sides, with the
    # source preferred on exact ties
    all_rows: dict[int, tuple] = {}
    for prio, rows in ((0, target_rows), (1, source_rows)):
        for k, m, p in rows:
            cur = all_rows.get(k)
            if cur is None or (m, prio) > cur[:2]:
                all_rows[k] = (m, prio, str(p))
    assert set(out) == set(all_rows)
    for k, (m, _prio, p) in all_rows.items():
        assert out[k].ts == BASE + timedelta(minutes=m)
        assert out[k].payload == p


@SETTINGS
@given(
    a=st.one_of(st.none(), st.text(max_size=8)),
    b=st.one_of(st.none(), st.text(max_size=8)),
)
def test_surrogate_key_null_uses_dbt_sentinel(spark, a, b):
    # dbt_utils.generate_surrogate_key coalesces NULL to a distinct sentinel
    # (not ''): NULL vs empty string must produce DIFFERENT keys, or a
    # NULL↔'' attribute flip never registers as a hashdiff change
    from stock_crypto_data_pipeline_public_spark.functions.keys import NULL_SENTINEL

    df = spark.createDataFrame([(a, b)], "a string, b string")
    got = df.select(surrogate_key("a", "b").alias("k")).first().k
    want = df.selectExpr(
        f"md5(concat_ws('-', coalesce(a, '{NULL_SENTINEL}'),"
        f" coalesce(b, '{NULL_SENTINEL}'))) AS k"
    ).first().k
    assert got == want


def test_surrogate_key_null_differs_from_empty_string(spark):
    df = spark.createDataFrame([(None, "")], "a string, b string")
    row = df.select(
        surrogate_key("a").alias("ka"), surrogate_key("b").alias("kb")
    ).first()
    assert row.ka != row.kb


# --------------------------------------------------------------------------
# connected_components: agrees with a driver-side union-find on random graphs
# --------------------------------------------------------------------------
edge_lists = st.lists(
    st.tuples(st.integers(0, 14), st.integers(0, 14)).filter(lambda e: e[0] != e[1]),
    max_size=20,
)


def _uf_components(n_nodes: int, edges: list[tuple[int, int]]) -> dict[int, int]:
    parent = list(range(n_nodes))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min node id in the component
    comp: dict[int, int] = {}
    roots: dict[int, int] = {}
    for v in range(n_nodes):
        r = find(v)
        roots.setdefault(r, min(u for u in range(n_nodes) if find(u) == r))
        comp[v] = roots[r]
    return comp


@SETTINGS
@given(edges=edge_lists)
def test_connected_components_matches_union_find(spark, edges):
    from stock_crypto_data_pipeline_public_spark.operators.dedup import connected_components

    n = 15
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    if edges:
        edf = spark.createDataFrame(edges, "src long, dst long")
    else:
        edf = spark.createDataFrame([], "src long, dst long")
    got = {
        r["id"]: r["component_id"]
        for r in connected_components(nodes, edf).collect()
    }
    assert got == _uf_components(n, edges)


def test_connected_components_edge_endpoint_absent_from_nodes(spark):
    """An id that only appears as an edge endpoint (not in `nodes`) is
    introduced mid-iteration; the convergence test must still see the rounds
    its introduction triggers. nodes={2,3}, edges={(1,2),(1,3)}: round 1
    labels 1 but changes no pre-existing label, so an inner-join fixpoint
    check would stop early and leave 3 unmerged with 2."""
    from stock_crypto_data_pipeline_public_spark.operators.dedup import connected_components

    nodes = spark.createDataFrame([(2,), (3,)], "id long")
    edges = spark.createDataFrame([(1, 2), (1, 3)], "src long, dst long")
    got = {r["id"]: r["component_id"] for r in connected_components(nodes, edges).collect()}
    # 1 enters via propagation with label min(2,3)=2; 2 and 3 must agree
    assert got == {1: 2, 2: 2, 3: 2}


# --------------------------------------------------------------------------
# t15's two-phase quota sample must equal the naive row_number() formulation
# for ANY quota — including quotas that land exactly on a bucket boundary,
# quotas below the smallest group, and quotas above the largest group.
# --------------------------------------------------------------------------
@pytest.mark.parametrize("quota", [1, 3, 73, 100, 218, 10_000])
def test_quota_sample_matches_rank_formulation(spark, sf_dir, quota):
    from pyspark.sql import Window as W

    from stock_crypto_data_pipeline_public_spark.plans.textops import (
        _split_bucket_sql,
        quota_sample,
    )
    from stock_crypto_data_pipeline_public_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    b = docs.select(
        "doc_id", "lang", F.expr(_split_bucket_sql("STRING")).alias("bucket")
    )
    naive = (
        b.withColumn(
            "rn",
            F.row_number().over(W.partitionBy("lang").orderBy("bucket", "doc_id")),
        )
        .filter(F.col("rn") <= quota)
        .select("doc_id", "lang", "bucket")
    )
    got = sorted(map(tuple, quota_sample(b, quota).collect()))
    want = sorted(map(tuple, naive.collect()))
    assert got == want


# --------------------------------------------------------------------------
# t32's split is leakage-free BY CONSTRUCTION: split must be a pure function
# of the near-dup component, so no cluster may straddle a split boundary —
# the property doc-wise splitting (t13) cannot give. Singleton clusters
# (component_id == doc_id) must also agree with t13's assignment for the
# same key, so the two splits coincide on non-duplicated corpora.
# --------------------------------------------------------------------------
def test_cluster_split_no_leakage_across_components(spark, sf_dir):
    from stock_crypto_data_pipeline_public_spark.plans.textops import (
        t13_hash_split,
        t32_cluster_split,
    )

    out = t32_cluster_split(spark, sf_dir)
    per_comp = (
        out.groupBy("component_id")
        .agg(
            F.countDistinct("split").alias("n_splits"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .collect()
    )
    assert per_comp, "no components produced"
    assert all(r["n_splits"] == 1 for r in per_comp)
    # the corpus contains real near-dup clusters, so the property is tested
    # on non-trivial components, not vacuously on singletons
    assert any(r["n_members"] > 1 for r in per_comp)
    splits = {r["split"] for r in out.select("split").distinct().collect()}
    assert splits == {"train", "valid", "test"}

    t13 = {r["doc_id"]: r["split"] for r in t13_hash_split(spark, sf_dir).collect()}
    singletons = out.filter(F.col("component_id") == F.col("doc_id"))
    for r in singletons.collect():
        assert t13[r["doc_id"]] == r["split"]


# --------------------------------------------------------------------------
# Finance-suite invariants on randomized tick tapes
# --------------------------------------------------------------------------

#: (symbol, seq, price, size) — seq unique per draw (the tape's monotone id)
ticks = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),
        st.integers(min_value=0, max_value=10_000),
        st.floats(min_value=0.01, max_value=500.0, allow_nan=False),
        st.integers(min_value=1, max_value=100),
    ),
    min_size=1,
    max_size=40,
    unique_by=lambda t: t[1],
)


def _tape(spark, rows):
    data = [
        (f"s{s}", q, BASE + timedelta(minutes=q), float(p), f'{{"k": {z}}}')
        for s, q, p, z in rows
    ]
    return spark.createDataFrame(
        data, "event_type string, event_id long, ts timestamp, value double, props string"
    )


@SETTINGS
@given(rows=ticks)
def test_ohlcv_bar_invariants(spark, rows):
    """low <= open/close <= high; volume = sum of sizes; OHLC values are
    members of the bar's tick set (selection, not interpolation)."""
    tape = _tape(spark, rows)
    ticks_by_bar: dict[tuple, list] = {}
    for r in tape.collect():
        key = (r["ts"].replace(minute=0, second=0, microsecond=0), r["event_type"])
        ticks_by_bar.setdefault(key, []).append(r)
    got = (
        tape.groupBy(
            F.date_trunc("hour", "ts").alias("bar_start"),
            F.col("event_type").alias("symbol"),
        )
        .agg(
            F.min_by("value", "event_id").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", "event_id").alias("close"),
            F.sum(F.get_json_object("props", "$.k").cast("long")).alias("volume"),
        )
        .collect()
    )
    assert len(got) == len(ticks_by_bar)
    for bar in got:
        members = ticks_by_bar[(bar["bar_start"], bar["symbol"])]
        prices = [m["value"] for m in members]
        by_seq = sorted(members, key=lambda m: m["event_id"])
        assert bar["low"] == min(prices) and bar["high"] == max(prices)
        assert bar["open"] == by_seq[0]["value"]
        assert bar["close"] == by_seq[-1]["value"]
        assert bar["low"] <= bar["open"] <= bar["high"]
        assert bar["low"] <= bar["close"] <= bar["high"]
        assert bar["volume"] == sum(int(m["props"].split(":")[1].rstrip("}")) for m in members)


@SETTINGS
@given(rows=ticks)
def test_drawdown_bounded_and_zero_for_monotone_rises(spark, rows):
    """0 <= max_drawdown < 1 always; exactly 0 iff the tape never trades
    below its running peak."""
    from pyspark.sql import Window as W

    tape = _tape(spark, rows)
    w = (
        W.partitionBy("event_type")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    dd = (
        tape.select("event_type", "value", F.max("value").over(w).alias("run_peak"))
        .groupBy("event_type")
        .agg(F.max((F.col("run_peak") - F.col("value")) / F.col("run_peak")).alias("mdd"))
        .collect()
    )
    by_sym: dict[str, list] = {}
    for r in sorted(rows, key=lambda t: t[1]):
        by_sym.setdefault(f"s{r[0]}", []).append(float(r[2]))
    for r in dd:
        assert 0.0 <= r["mdd"] < 1.0
        prices = by_sym[r["event_type"]]
        peak, worst = prices[0], 0.0
        for p in prices:
            peak = max(peak, p)
            worst = max(worst, (peak - p) / peak)
        assert r["mdd"] == pytest.approx(worst, rel=1e-12)


@SETTINGS
@given(rows=ticks)
def test_vwap_is_between_min_and_max_price(spark, rows):
    tape = _tape(spark, rows)
    got = (
        tape.select(
            "event_type",
            "value",
            F.get_json_object("props", "$.k").cast("long").alias("size"),
        )
        .groupBy("event_type")
        .agg(
            (F.sum(F.col("value") * F.col("size")) / F.sum("size")).alias("vwap"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
        )
        .collect()
    )
    for r in got:
        assert r["lo"] - 1e-9 <= r["vwap"] <= r["hi"] + 1e-9


def test_gemm_topk_matches_catalyst_fold_knn(spark, sf_dir):
    """x08 (numpy GEMM, Arrow-batched) selects the same neighbors with the
    same 4-dp cosines as x01 (bit-exact Catalyst fold) — the two phases of
    the engine's exact-kNN story agree after deterministic rounding."""
    from stock_crypto_data_pipeline_public_spark.plans import registry

    registry.load_all()
    a = registry.QUERIES["x01_knn_cosine"](spark, sf_dir)
    b = registry.QUERIES["x08_gemm_topk"](spark, sf_dir)
    cols = ["query_id", "neighbor_id", "neighbor_label", "cosine_sim", "rk"]
    assert a.select(cols).exceptAll(b.select(cols)).count() == 0
    assert b.select(cols).exceptAll(a.select(cols)).count() == 0


def test_hll_distinct_within_error_bound(spark, sf_dir):
    """t28's HLL estimate stays within 5% of the exact distinct count for
    every (lang, source) group — the error contract that justifies swapping
    t18's countDistinct for the sketch at 100 TB."""
    from stock_crypto_data_pipeline_public_spark.plans import registry

    registry.load_all()
    rows = registry.QUERIES["t28_hll_distinct_tokens"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        exact = r["exact_distinct_tokens"]
        assert exact > 0
        assert abs(r["approx_distinct_tokens"] - exact) / exact <= 0.05, r


def test_hll_sketch_union_mergeable_and_bounded(spark, sf_dir):
    """t39's mergeability contract: unioning the stored per-(lang, source)
    DataSketches HLL states gives the IDENTICAL estimate as sketching the
    whole lang directly (same algorithm, union-of-parts = one-shot), and
    both stay within 5% of the exact count. This is the property that lets
    a 100 TB pipeline sketch each partition once at write time and answer
    any rollup by merging KB-sized states."""
    from stock_crypto_data_pipeline_public_spark.plans import registry

    registry.load_all()
    rows = registry.QUERIES["t39_hll_sketch_union"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["est_merged"] == r["est_direct"], r  # exact identity
        exact = r["exact_distinct"]
        assert exact > 0
        assert abs(r["est_direct"] - exact) / exact <= 0.05, r
        # parts overlap, so their exact sum over-counts the union
        assert r["sum_part_exact"] >= exact


def test_token_stream_packing_invariants(spark, sf_dir):
    """t22's chunk spans must describe one contiguous token stream per shard:
    chunk indices advance exactly with the cumulative token count, the
    straddle flag matches span width, and per-shard chunk totals equal
    ceil(shard_tokens / 256) — invariants the oracle hash can't state."""
    from stock_crypto_data_pipeline_public_spark.plans.textops import (
        PACK_CHUNK,
        t22_token_stream_packing,
    )

    out = t22_token_stream_packing(spark, sf_dir).collect()
    by_shard: dict[int, list] = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r)
    assert by_shard, "packing produced no rows"
    for shard, rows in by_shard.items():
        rows.sort(key=lambda r: r["doc_id"])
        cum = 0
        for r in rows:
            assert r["first_chunk"] == cum // PACK_CHUNK
            cum += r["n_tokens"]
            expect_last = max(r["first_chunk"], (cum - 1) // PACK_CHUNK)
            assert r["last_chunk"] == expect_last
            assert r["straddles"] == (r["last_chunk"] > r["first_chunk"])
        # the stream's final chunk index covers exactly ceil(total/B) chunks
        assert rows[-1]["last_chunk"] == (cum - 1) // PACK_CHUNK
        assert cum > 0


def test_copair_counts_matches_self_join_and_caps(spark):
    """copair_counts must emit exactly the pairs a key self-join would
    (doc_a < doc_b, n_common = shared keys), and max_bucket must drop
    every pair contributed by an over-cap bucket — the stop-shingle valve."""
    from pyspark.sql import functions as F

    from stock_crypto_data_pipeline_public_spark.operators.dedup import copair_counts

    rows = [
        # hot key shared by 4 docs, a 2-doc key, a singleton, NULL-free
        *[("d%d" % i, "hot") for i in range(4)],
        ("d0", "k2"), ("d3", "k2"),
        ("d9", "solo"),
        ("d1", "k3"), ("d2", "k3"),
    ]
    keyed = spark.createDataFrame(rows, "doc_id string, shingle string")

    got = {
        (r["doc_a"], r["doc_b"]): r["n_common"]
        for r in copair_counts(keyed, "doc_id", "shingle").collect()
    }
    a, b = keyed.alias("a"), keyed.alias("b")
    want = {
        ((r["doc_a"], r["doc_b"])): r["n_common"]
        for r in (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .groupBy(
                F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
            )
            .agg(F.count(F.lit(1)).alias("n_common"))
        ).collect()
    }
    assert got == want and ("d0", "d3") in got and got[("d0", "d3")] == 2

    capped = {
        (r["doc_a"], r["doc_b"]): r["n_common"]
        for r in copair_counts(keyed, "doc_id", "shingle", max_bucket=3).collect()
    }
    # the 4-doc "hot" bucket is dropped entirely; surviving pairs count only
    # their under-cap shared keys
    assert capped == {("d0", "d3"): 1, ("d1", "d2"): 1}


def test_quantile_sketch_rank_contract(spark, sf_dir):
    """t29's percentile_approx elements must honor the Greenwald-Khanna
    contract: each returned value is an actual group element whose true
    rank is within n/accuracy (+1 slack) of the target rank — the bound
    that justifies swapping t17's exact rank for the sketch at 100 TB."""
    from stock_crypto_data_pipeline_public_spark.plans import registry
    from stock_crypto_data_pipeline_public_spark.plans.textops import (
        T29_ACCURACY,
        _docs,
        _quality_scored,
    )

    registry.load_all()
    out = {
        r["lang"]: r
        for r in registry.QUERIES["t29_quality_quantile_sketch"](
            spark, sf_dir
        ).collect()
    }
    assert out
    scored = _quality_scored(_docs(spark, sf_dir)).collect()
    by_lang: dict[str, list[float]] = {}
    for r in scored:
        by_lang.setdefault(r["lang"], []).append(r["q"])
    assert set(by_lang) == set(out)
    for lang, vals in by_lang.items():
        vals.sort()
        n = len(vals)
        assert out[lang]["n_docs"] == n
        tol = n / T29_ACCURACY + 1
        for p, col in [(0.25, "approx_p25"), (0.5, "approx_p50"), (0.75, "approx_p75")]:
            v = out[lang][col]
            assert v in vals, f"{col} not an element of {lang}"
            # true rank range of v (1-based, ties span a range)
            import bisect

            lo = bisect.bisect_left(vals, v) + 1
            hi = bisect.bisect_right(vals, v)
            target = max(1, round(p * n))
            assert lo - tol <= target <= hi + tol, (lang, col, v, lo, hi, target, n)


#: (doc 0..7, key 0..5) memberships, distinct — the copair_counts precondition
memberships = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=7),
        st.integers(min_value=0, max_value=5),
    ),
    min_size=1,
    max_size=40,
    unique=True,
)


@SETTINGS
@given(rows=memberships)
def test_copair_counts_equals_self_join_property(spark, rows):
    """For ANY distinct (doc, key) membership set, copair_counts must emit
    exactly the self-join's pair multiset: every co-occurring ordered pair
    (doc_a < doc_b) with n_common = |shared keys| — the contract t05/t11
    stand on."""
    from collections import Counter
    from itertools import combinations

    from stock_crypto_data_pipeline_public_spark.operators.dedup import copair_counts

    data = [("d%02d" % d, "k%d" % k) for d, k in rows]
    keyed = spark.createDataFrame(data, "doc_id string, shingle string")
    got = {
        (r["doc_a"], r["doc_b"]): r["n_common"]
        for r in copair_counts(keyed, "doc_id", "shingle").collect()
    }
    by_key: dict[str, list[str]] = {}
    for d, k in data:
        by_key.setdefault(k, []).append(d)
    want: Counter = Counter()
    for docs in by_key.values():
        for a, b in combinations(sorted(docs), 2):
            want[(a, b)] += 1
    assert got == dict(want)


@settings(max_examples=60, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=24),
    h=st.integers(min_value=1, max_value=24),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    split=st.booleans(),
)
def test_png_codec_roundtrip_property(w, h, seed, split):
    """PNG encode→decode is the identity on ANY 8-bit RGB raster — every
    row filter, wrap-around byte arithmetic, single-pixel rows/columns,
    and split IDAT streams included. Pure-Python property (no Spark), so
    hypothesis can shrink freely."""
    import numpy as np

    from stock_crypto_data_pipeline_public_spark.operators.multimodal import (
        _decode_png,
        _encode_png,
    )

    px = np.random.default_rng(seed).integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    b = _encode_png(px, split_idat=split)
    got = _decode_png(b)
    assert (got["width"], got["height"], got["n_channels"]) == (w, h, 3)
    assert got["pixel_sum"] == int(px.sum(dtype="int64"))
    # byte-exact raster, not just the sum (compensating filter errors would
    # pass a sum check)
    import zlib

    from stock_crypto_data_pipeline_public_spark.operators.multimodal import (
        _png_chunks,
        _unfilter_png,
    )

    idat = b"".join(d for t, d in _png_chunks(b) if t == b"IDAT")
    assert (_unfilter_png(zlib.decompress(idat), w, h, 3) == px.reshape(h, w * 3)).all()


@SETTINGS
@given(
    cents=st.lists(st.integers(-10**7, 10**7), min_size=1, max_size=60),
    shift=st.integers(0, 4),
)
def test_escaled_sum_and_iavg_cross_engine(spark, cents, shift):
    """The round-9 exact-domain helpers are load-bearing across 35 gated
    queries — pin their semantics against both a closed form and DuckDB:
    dsum_e equals the exact integer cents sum, and iavg's half-adjusted
    trunc-division quotient equals DuckDB's `//` on the identical
    numerator/denominator for EVERY sign (Spark `div` and DuckDB `//`
    both truncate toward zero; that equality is what makes an averaged
    money output hashable cross-engine)."""
    import math

    import duckdb

    from stock_crypto_data_pipeline_public_spark.functions.numeric import dec, dsum_e, iavg

    values = [c / 100.0 for c in cents]
    df = spark.createDataFrame([(v,) for v in values], "v double")
    row = (
        df.agg(
            dsum_e(dec("v"), 2).alias("t"),
            F.count(F.lit(1)).alias("n"),
        )
        .withColumn("avg", iavg("t", "n", shift))
        .first()
    )
    total, n = sum(cents), len(cents)
    assert row["t"] == total  # exact, any summation order
    m = 10**shift
    duck = duckdb.sql(
        # CAST the literal: real oracles feed a BIGINT sum here, while a
        # bare literal parses as INT32 and overflows the multiply
        f"SELECT CAST((2 * CAST({total} AS BIGINT) * {m} + {n})"
        f" // (2 * {n}) AS BIGINT)"
    ).fetchone()[0]
    assert row["avg"] == duck  # Spark div == DuckDB // for every sign
    if total >= 0:  # half-up closed form holds on the non-negative domain
        assert row["avg"] == math.floor(total * m / n + 0.5) or n > 1
        # (the float closed form can be off by 1 ulp for huge totals;
        # the exact-integer identity below is the real contract)
        assert row["avg"] == (2 * total * m + n) // (2 * n)


def test_dsum_e_out_of_domain_is_loud_in_the_oracle():
    """The eK-scaled BIGINT sum's domain bound (numeric.py: |$| < 9.2e16
    per group at e2) is enforced LOUDLY on the oracle side: DuckDB sums in
    HUGEINT and its final CAST(... AS BIGINT) ERRORS when the true sum
    exceeds int64 — the gate turns red-with-err instead of silently
    comparing a wrapped Spark value against a wrapped oracle value. (Spark
    non-ANSI wraps; no BIGINT answer exists there at all, which is why the
    bound is documented rather than widened — unlike iavg's INTERMEDIATE,
    which round 10 made exact.)"""
    import duckdb

    from stock_crypto_data_pipeline_public_spark.functions.numeric import oracle_dsum_e

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW v AS SELECT CAST(9.2e14 AS DECIMAL(25,2)) AS m "
        "FROM range(101)"  # 101 rows x 9.2e16 e2-units = 9.29e18 > int64 max
    )
    with pytest.raises(duckdb.ConversionException, match="out of range"):
        con.execute(f"SELECT {oracle_dsum_e('m', 2)} FROM v").fetchone()
    # just inside the bound (100 rows = 9.2e18 < 2^63-1): exact, castable
    ok = con.execute(
        f"SELECT {oracle_dsum_e('m', 2)} FROM (SELECT m FROM v LIMIT 100)"
    ).fetchone()[0]
    assert ok == 100 * 92_000_000_000_000_000


@pytest.mark.parametrize(
    "total,n,shift",
    [
        (2**62, 1000, 2),  # 2·total·100 ≈ 9.2e20 — wraps int64
        (-(2**62), 1000, 2),
        (9_200_000_000_000_000_000 - 7, 10_000, 0),  # near-int64-max sum
        (2**62, 10**7, 4),  # shift=4: numerator ≈ 9.2e22
    ],
)
def test_iavg_numerator_cannot_wrap_int64(spark, total, n, shift):
    """r9 verdict item 3: iavg's half-adjusted numerator 2·total·10^shift+n
    exceeded int64 for e-scaled totals near the documented domain bound and
    non-ANSI Spark WRAPPED SILENTLY (e.g. total=2^62, shift=2 gave a
    garbage negative average). The round-10 DECIMAL(38,0) widening must
    return the exact trunc-toward-zero quotient — this test FAILS on the
    pre-widening int64 formula for every case here."""
    from stock_crypto_data_pipeline_public_spark.functions.numeric import iavg

    row = (
        spark.createDataFrame([(total, n)], "t bigint, n bigint")
        .withColumn("avg", iavg("t", "n", shift))
        .first()
    )
    num, den = 2 * total * 10**shift + n, 2 * n
    exact = num // den if num >= 0 else -((-num) // den)  # trunc toward zero
    assert -(2**63) <= exact < 2**63  # the OUTPUT must be representable
    assert row["avg"] == exact


def test_f03_variance_sums_survive_large_money_values(spark):
    """r9 ADVICE: f03's v_e2² window sums overflowed int64 inside the
    MONEY(12,2) domain (|value| ≳ $2.1e7 → v_e2² > 2^63) and wrapped
    silently on Spark while DuckDB's HUGEINT stayed exact. After the
    DECIMAL(38,0) widening the rolling σ of a constant series at $9e9 is
    exactly 0 and a two-level series matches the closed form."""
    import duckdb

    from stock_crypto_data_pipeline_public_spark.plans import registry

    registry.load_all()
    import numpy as np
    import pandas as pd

    big = 9_000_000_000.00  # $9e9: v_e2 = 9e11, v_e2² = 8.1e23 >> 2^63
    ts0 = pd.Timestamp("2024-01-01")
    rows = [
        ("whale", big if i % 2 == 0 else big - 1.0, ts0 + pd.Timedelta(minutes=i), i)
        for i in range(40)
    ]
    pdf = pd.DataFrame(rows, columns=["event_type", "value", "ts", "event_id"])
    import tempfile, os

    with tempfile.TemporaryDirectory() as d:
        pdf.to_parquet(os.path.join(d, "events.parquet"))
        out = registry.QUERIES["f03_bollinger_breakouts"](spark, d).toPandas()
        duck = duckdb.connect()
        duck.execute(
            f"CREATE VIEW events AS SELECT * FROM read_parquet('{d}/events.parquet')"
        )
        oracle = duck.execute(registry.ORACLES["f03_bollinger_breakouts"]).df()
    assert len(out) == 1 and len(oracle) == 1
    for c in ("n_windows", "n_breakouts_hi", "n_breakouts_lo", "avg_roll_std_e4"):
        assert out[c].iloc[0] == oracle[c].iloc[0], c
    # closed form: alternating big/big-1 over a 20-frame → mean offset .5,
    # var = 20·0.25/19 cents² → σ = sqrt(0.25/19·20)·... just pin exactness:
    # σ_e4 of the alternating series is floor(sqrt((20·s2-s1²)/3.8e6)·1e4+.5)
    v = [int(round((big if i % 2 == 0 else big - 1.0) * 100)) for i in range(40)]
    import math

    s1 = sum(v[20 - 20:20])  # any full frame: alternating, all equal sums
    s2 = sum(x * x for x in v[0:20])
    sigma = math.sqrt((20 * s2 - s1 * s1) / 3800000.0)
    assert out["avg_roll_std_e4"].iloc[0] == math.floor(sigma * 10000 + 0.5)


@pytest.mark.parametrize(
    "total,n,shift",
    [
        (2**62, 1, 2),           # quotient ≈ 4.6e20 — no BIGINT answer
        (-(2**62), 1, 2),
        (9_000_000_000_000_000_000, 1, 4),  # shift=4 blowup
    ],
)
def test_iavg_raises_past_int64_quotient_like_the_oracle(spark, total, n, shift):
    """r10 verdict item 2 (symmetric loudness): when the true eK average
    itself exceeds int64 there is no BIGINT answer — DuckDB's
    HUGEINT→BIGINT cast ERRORS and, since round 11, Spark's iavg RAISES
    (reconstruction check behind assert_true) instead of silently wrapping
    through non-ANSI `div`."""
    import duckdb

    from stock_crypto_data_pipeline_public_spark.functions.numeric import iavg, oracle_iavg

    df = (
        spark.createDataFrame([(total, n)], "t bigint, n bigint")
        .withColumn("avg", iavg("t", "n", shift))
    )
    with pytest.raises(Exception) as err:
        df.first()
    assert "iavg" in str(err.value) or "ASSERT" in str(err.value).upper()

    con = duckdb.connect()
    con.execute(f"CREATE VIEW v AS SELECT CAST({total} AS BIGINT) AS t, CAST({n} AS BIGINT) AS n")
    with pytest.raises(Exception):
        con.execute(f"SELECT {oracle_iavg('t', 'n', shift)} FROM v").fetchone()


def test_e12_psi_zero_on_identical_halves_and_nonnegative(spark, tmp_path):
    """PSI invariants through the actual e12 query: (a) per-bin
    contribution (p−q)·ln(p/q) is ≥ 0 ALWAYS (sign(p−q) = sign(ln(p/q))),
    so a negative emitted contribution is a formula bug, and (b) when the
    two corpus halves carry the identical value multiset every smoothed
    contribution is exactly 0.0 — drift of nothing is nothing."""
    import pandas as pd

    from stock_crypto_data_pipeline_public_spark.plans import registry

    registry.load_all()
    values = [1.00, 7.50, 12.00, 25.00, 60.00, 150.00, 300.00, 600.00] * 3
    rows = []
    for i, v in enumerate(values):  # same multiset on both sides of the cut
        rows.append((2 * i, pd.Timestamp("2024-01-01 00:00:00"), 1, "view", v, "{}"))
        rows.append((2 * i + 1, pd.Timestamp("2024-01-02 00:00:00"), 1, "view", v, "{}"))
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    sf_dir = str(tmp_path)
    spark.createDataFrame(pdf).coalesce(1).write.parquet(f"{sf_dir}/events.parquet")

    out = registry.QUERIES["e12_value_drift_psi"](spark, sf_dir).collect()
    assert len(out) == 8  # every bin exists, even empty ones
    for r in out:
        assert r.n_first == r.n_second
        assert r.psi_contrib == 0.0

    # skew one half hard: contributions must stay non-negative and the
    # drifted bins must light up
    skew = pdf.copy()
    second = skew["ts"] == pd.Timestamp("2024-01-02 00:00:00")
    skew.loc[second, "value"] = 0.50  # everything collapses into bin 0
    sf2 = str(tmp_path / "skewed")
    spark.createDataFrame(skew).coalesce(1).write.parquet(f"{sf2}/events.parquet")
    out2 = registry.QUERIES["e12_value_drift_psi"](spark, sf2).collect()
    assert all(r.psi_contrib >= 0.0 for r in out2)
    assert sum(r.psi_contrib for r in out2) > 0.5  # a real shift registers


def test_t48_temperature_mixing_flattens_without_reordering(spark, sf_dir):
    """Invariants of the alpha=1/2 mixing row: target shares are a genuine
    flattening of the raw distribution (same ordering, strictly smaller
    spread, sum ~ 1e6), acceptance rates never exceed 1, and the realized
    sample lands near the configured half-corpus target."""
    from stock_crypto_data_pipeline_public_spark.plans.textops import (
        t48_temperature_mixing,
    )

    rows = t48_temperature_mixing(spark, sf_dir).collect()
    assert len(rows) >= 2
    raw = {r.lang: r.raw_share_e6 for r in rows}
    tgt = {r.lang: r.target_share_e6 for r in rows}
    # flattening never reorders languages (sqrt is monotone)
    assert sorted(raw, key=raw.get) == sorted(tgt, key=tgt.get)
    # ...but strictly shrinks the spread
    assert max(tgt.values()) - min(tgt.values()) < max(raw.values()) - min(raw.values())
    # shares each sum to 1e6 up to |langs| floor-rounding
    for shares in (raw, tgt):
        assert 1_000_000 - len(rows) <= sum(shares.values()) <= 1_000_000
    for r in rows:
        assert 0 <= r.rate_e6 <= 1_000_000
        assert 0 <= r.n_sampled <= r.n_docs
    total = sum(r.n_docs for r in rows)
    sampled = sum(r.n_sampled for r in rows)
    # deterministic md5 acceptance is binomial around T = total//2; the
    # fixed test corpora sit comfortably inside +/-20%
    assert abs(sampled - total // 2) <= total // 10


def test_e13_transition_rows_are_probability_distributions(spark, sf_dir):
    """Each prev_type's outgoing p_e6 cells form a floor-rounded probability
    row: they sum to 1e6 up to fan-out rounding, and counts reconcile with
    the raw pair totals."""
    from stock_crypto_data_pipeline_public_spark.plans.eventops import (
        e13_markov_transitions,
    )

    rows = e13_markov_transitions(spark, sf_dir).collect()
    assert rows
    by_prev = {}
    for r in rows:
        assert r.n_transitions > 0 and 0 < r.p_e6 <= 1_000_000
        by_prev.setdefault(r.prev_type, []).append(r)
    for prev, rs in by_prev.items():
        total = sum(r.n_transitions for r in rs)
        assert 1_000_000 - len(rs) <= sum(r.p_e6 for r in rs) <= 1_000_000
        for r in rs:
            assert r.p_e6 == r.n_transitions * 1_000_000 // total


def test_x27_norm_augmentation_is_order_preserving(spark, sf_dir):
    """Probing EVERY IVF cell makes the augmented-space tier exhaustive, so
    if the norm-augmentation math (Bachrach et al.: append sqrt(M^2-|v|^2),
    rank by augmented dot) preserves inner-product order, recall against
    the exact MIPS top-5 must be exactly 1 — not approximately."""
    from stock_crypto_data_pipeline_public_spark.plans.vectorops import (
        IVF_K,
        _mips_ann_recall,
    )

    row = _mips_ann_recall(spark, sf_dir, nprobe=IVF_K).collect()[0]
    assert row.recall_e4 == 10000
    assert row.min_hits_per_query == 5
    assert row.n_hits == row.n_expected


def test_t49_weights_match_pure_python_twin_and_scorer_is_linear(spark, sf_dir):
    """The hashed-linear classifier's md5-nibble weight derivation must match
    an independent pure-Python implementation token for token, and the scorer
    must be linear in the bag of words: score(text + ' ' + text) is exactly
    2 * score(text)."""
    import hashlib
    import re

    from stock_crypto_data_pipeline_public_spark.plans.textops import (
        _T49_BUCKETS_MOD,
        t49_classifier_inference,
    )

    def py_weight(tok: str) -> int:
        h48 = int(hashlib.md5(tok.encode()).hexdigest()[:12], 16)
        return (h48 % _T49_BUCKETS_MOD) - 1000

    rows = t49_classifier_inference(spark, sf_dir).orderBy("doc_id").limit(25).collect()
    import pyarrow.parquet as pq

    texts = {
        r["doc_id"]: r["text"]
        for r in pq.read_table(f"{sf_dir}/documents.parquet").to_pylist()
    }
    assert len(rows) == 25
    for r in rows:
        toks = re.findall(r"[a-z0-9]+", texts[r.doc_id].lower())
        assert r.n_tokens == len(toks)
        assert r.score_e3 == sum(py_weight(t) for t in toks)
        assert r.kept == int(r.score_e3 >= 0)

    doubled = spark.createDataFrame(
        [(d, t + " " + t) for d, t in list(texts.items())[:10]], "doc_id long, text string"
    )
    from pyspark.sql import functions as F  # noqa: F811

    toks_sql = "regexp_extract_all(lower(text), '[a-z0-9]+', 0)"
    from stock_crypto_data_pipeline_public_spark.plans.textops import _t49_weight_sql

    score = (
        f"aggregate({toks_sql}, CAST(0 AS BIGINT),"
        f" (acc, t) -> acc + CAST({_t49_weight_sql('STRING')} AS BIGINT))"
    )
    got = {
        r.doc_id: r.s2
        for r in doubled.select("doc_id", F.expr(score).alias("s2")).collect()
    }
    for d, t in list(texts.items())[:10]:
        single = sum(py_weight(x) for x in re.findall(r"[a-z0-9]+", t.lower()))
        assert got[d] == 2 * single


def test_t50_novelty_conservation_and_bounds(spark, sf_dir):
    """Every distinct shingle is first-seen exactly once, so the per-doc
    n_first_here must sum to the corpus's distinct-shingle count; the
    earliest doc carrying shingles is all-novel; novelty_e4 stays in
    [0, 10000]."""
    from stock_crypto_data_pipeline_public_spark.operators import dedup as D
    from stock_crypto_data_pipeline_public_spark.plans.textops import (
        _docs,
        t50_ngram_novelty,
    )

    out = t50_ngram_novelty(spark, sf_dir).collect()
    assert out, "no docs carried shingles"
    n_distinct = (
        D.exploded_shingles(_docs(spark, sf_dir), "doc_id", "text", 3)
        .select("shingle")
        .distinct()
        .count()
    )
    assert sum(r.n_first_here for r in out) == n_distinct
    first_doc = min(out, key=lambda r: r.doc_id)
    assert first_doc.novelty_e4 == 10000
    assert first_doc.n_first_here == first_doc.n_shingles
    for r in out:
        assert 0 <= r.novelty_e4 <= 10000
        assert 0 <= r.n_first_here <= r.n_shingles


def test_e14_windowed_funnel_sequence_semantics(spark):
    """Synthetic chains pin the windowed-funnel semantics: only a click
    inside its view's window advances the funnel, and only a purchase inside
    a QUALIFYING click's window converts — order and window both matter."""
    from stock_crypto_data_pipeline_public_spark.plans.eventops import windowed_funnel

    H = 3600 * 1_000_000
    mk = lambda rows: spark.createDataFrame(rows, "user_id long, t long")
    # A: click 13h after view (window 12h) → stalls at view.
    # B: click in window, purchase 50h after click (window 48h) → stalls at click.
    # C: full chain in-window → converts.
    # D: purchase BEFORE the qualifying click (order violation) → stalls at click.
    # E: click first, view later (order violation at stage 1) → stalls at view.
    v = mk([(1, 0), (2, 0), (3, 0), (4, 0), (5, 10 * H)])
    c = mk([(1, 13 * H), (2, 1 * H), (3, 1 * H), (4, 6 * H), (5, 2 * H)])
    p = mk([(2, 51 * H), (3, 20 * H), (4, 2 * H)])
    row = windowed_funnel(v, c, p, 12 * H, 48 * H).collect()[0]
    assert row.n_users_view == 5
    assert row.n_users_click_in_window == 3  # B, C, D
    assert row.n_users_converted == 1  # C only
    assert row.conv_click_e4 == 3 * 10000 // 5
    assert row.conv_full_e4 == 1 * 10000 // 5


def test_e15_paths_are_wellformed_and_consistent_with_e01(spark, sf_dir):
    """Every mined path is at most 3 known event types; path session counts
    never exceed the corpus's total session count (e01's number); user
    counts never exceed session counts."""
    from stock_crypto_data_pipeline_public_spark.plans.eventops import (
        e01_sessionization,
        e15_top_paths,
    )

    out = e15_top_paths(spark, sf_dir).collect()
    assert 0 < len(out) <= 10
    types = {"view", "click", "purchase", "signup", "error"}
    total_sessions = sum(
        r.n_sessions for r in e01_sessionization(spark, sf_dir).collect()
    )
    seen = set()
    for r in out:
        steps = r.path.split(">")
        assert 1 <= len(steps) <= 3 and set(steps) <= types
        assert 0 < r.n_users <= r.n_sessions <= total_sessions
        assert r.path not in seen
        seen.add(r.path)
    counts = [r.n_sessions for r in out]
    assert counts == sorted(counts, reverse=True)


def test_x28_tombstone_path_equals_fresh_reduced_index(spark, sf_dir):
    """Query-time tombstone exclusion must be indistinguishable from a fresh
    index built on the reduced corpus with the same centroids — per-vector
    cell assignment is independent, so the two candidate sets are identical.
    This equivalence is what licenses deferred compaction. Also: no deleted
    id may ever surface."""
    from pyspark.sql import functions as F  # noqa: F811

    from stock_crypto_data_pipeline_public_spark.plans.vectorops import (
        _X28_MOD,
        _X28_RES,
        _x28_paths,
        x28_tombstoned_ann_search,
    )

    def top5(df):
        return top_k(df, ["query_id"], [F.desc("cosine_sim"), F.asc("neighbor_id")], 5, "rk")

    out = x28_tombstoned_ann_search(spark, sf_dir).collect()
    assert len(out) == 50
    for r in out:
        assert r.neighbor_id % _X28_MOD != _X28_RES

    _cand, post, _q = _x28_paths(spark, sf_dir)
    via_tombstone = {
        (r.query_id, r.rk): r.neighbor_id for r in top5(post).collect()
    }
    # fresh "index" on the reduced corpus: filter BEFORE assignment — the
    # candidate generation then runs on reduced data with the same seeds
    from stock_crypto_data_pipeline_public_spark.plans import vectorops as V

    orig_emb = V._emb

    def reduced_emb(spark_, sf_dir_):
        emb = orig_emb(spark_, sf_dir_)
        # queries and seeds must survive: only non-seed, non-query corpus
        # rows are deletable in this fixture (seeds are centroids, not data;
        # the 10 query ids are < 17*7 and none ≡ 3 mod 17 anyway)
        return emb.filter(
            (F.col("vec_id") % _X28_MOD != _X28_RES)
            | (F.col("vec_id") < V.IVF_K)
            | ((F.col("vec_id") >= 100) & (F.col("vec_id") < 110))
        )

    V._emb = reduced_emb
    try:
        fresh_cand, _post, _q2 = _x28_paths(spark, sf_dir)
        fresh_cand = fresh_cand.filter(
            F.col("neighbor_id") % _X28_MOD != _X28_RES
        )
        via_fresh = {
            (r.query_id, r.rk): r.neighbor_id for r in top5(fresh_cand).collect()
        }
    finally:
        V._emb = orig_emb
    assert via_tombstone == via_fresh


def test_t51_importance_selects_target_domain_and_weights_are_bounded(spark, sf_dir):
    """The importance sampler must actually tilt toward the target domain:
    the top-k 'en' share must crush the corpus base rate (≥80% of the
    selection vs ~39% of the corpus). And since the target bigram stream is
    a subset of the raw stream, every smoothed ratio weight — and therefore
    every per-bigram average — is bounded by 1e6."""
    from stock_crypto_data_pipeline_public_spark.plans.textops import (
        _T51_K,
        _docs,
        t51_dsir_importance,
    )

    out = t51_dsir_importance(spark, sf_dir).collect()
    assert len(out) == _T51_K
    n_en = sum(1 for r in out if r.lang == "en")
    docs = _docs(spark, sf_dir)
    base_rate = docs.filter("lang = 'en'").count() / docs.count()
    assert n_en >= 0.8 * _T51_K
    assert n_en / _T51_K > base_rate
    for r in out:
        assert 0 < r.per_bigram_e6 <= 1_000_000
        assert r.importance_e6 >= r.per_bigram_e6 * r.n_bigrams  # floor div
        assert r.n_bigrams > 0
    scores = [r.per_bigram_e6 for r in out]
    assert scores == sorted(scores, reverse=True)


def test_t52_budget_selection_matches_greedy_twin(spark, sf_dir):
    """A pure-Python greedy twin (sort by quality desc, take while the mass
    already taken is under the cap) must reproduce n_selected and the id-sum
    fingerprint for every language; greedy always reaches the cap (the
    boundary doc may overshoot), so utilization_e4 >= 10000."""
    from stock_crypto_data_pipeline_public_spark.plans.textops import (
        _docs,
        _quality_scored,
        t52_quality_budget_selection,
    )

    docs = _docs(spark, sf_dir)
    scored = {
        r.doc_id: r
        for r in _quality_scored(docs)
        .join(docs.select("doc_id", "n_chars"), "doc_id")
        .collect()
    }
    out = {r.lang: r for r in t52_quality_budget_selection(spark, sf_dir).collect()}
    langs = {r.lang for r in scored.values()}
    assert set(out) == langs
    for lang in langs:
        rows = sorted(
            (r for r in scored.values() if r.lang == lang),
            key=lambda r: (-r.q, r.doc_id),
        )
        cap = sum(r.n_chars for r in rows) // 2
        taken, mass = [], 0
        for r in rows:
            if mass < cap:
                taken.append(r)
                mass += r.n_chars
        o = out[lang]
        assert o.cap_chars == cap
        assert o.n_selected == len(taken)
        assert o.chars_selected == mass
        assert o.sel_id_sum == sum(r.doc_id for r in taken)
        assert o.utilization_e4 >= 10000
        assert o.n_selected < o.n_docs


def test_m23_real_decode_deltas_are_exactly_bimodal(spark, sf_dir):
    """Through the REAL mp4 demux + JPEG decode, every frame delta of the
    scene corpus is exactly 2 per pixel off a cut and exactly 42 per pixel
    on one — no third mode, no drift, every pixel changes every frame. The
    detector's threshold (mean |delta| > 10) therefore has margin on both
    sides, and n_shots is 2 or 3 by the cut-set closed form."""
    from pyspark.sql import functions as F  # noqa: F811

    from stock_crypto_data_pipeline_public_spark.operators import multimodal as M
    from stock_crypto_data_pipeline_public_spark.plans.multimodal import (
        m23_scene_cut_rollup,
    )
    from stock_crypto_data_pipeline_public_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(40)
    media = M.synthesize_mp4_scenes(docs, n_frames=6)
    frames = M.sample_frames(media, n_frames=6)
    deltas = M.frame_deltas(frames, assume_grouped=True).collect()
    assert deltas
    for r in deltas:
        assert r.abs_delta in (2 * r.changed_pixels, 42 * r.changed_pixels)
    out = m23_scene_cut_rollup(spark, sf_dir).collect()
    assert len(out) == 500
    for r in out:
        assert r.n_shots in (2, 3)
        assert 1 <= r.first_cut_frame <= 5


@st.composite
def score_grids(draw):
    """(candidate ids, per-row score lists): scores from a four-value set so
    exact ties are common, and one NULL score at a random cell."""
    n_rows = draw(st.integers(min_value=1, max_value=4))
    n_cands = draw(st.integers(min_value=1, max_value=6))
    ids = draw(
        st.lists(
            st.integers(min_value=0, max_value=99),
            min_size=n_cands, max_size=n_cands, unique=True,
        )
    )
    grid = [
        [draw(st.sampled_from([-0.5, 0.0, 0.25, 1.0])) for _ in range(n_cands)]
        for _ in range(n_rows)
    ]
    grid[draw(st.integers(0, n_rows - 1))][draw(st.integers(0, n_cands - 1))] = None
    return ids, grid


def _brute_topk(pairs: list[tuple[int, float | None]], k: int) -> list[int]:
    """Repeated argmax by explicit comparison: a higher score wins, any
    score beats None, and a tie goes to the lower id."""

    def better(a, b):
        (ca, sa), (cb, sb) = a, b
        if sa is None or sb is None:
            return (sa is not None, -ca) > (sb is not None, -cb)
        return (sa, -ca) > (sb, -cb)

    left, out = list(pairs), []
    while left and len(out) < k:
        best = left[0]
        for p in left[1:]:
            if better(p, best):
                best = p
        out.append(best[0])
        left.remove(best)
    return out


@SETTINGS
@given(case=score_grids(), k=st.sampled_from([1, 3]))
def test_nearest_matches_brute_force_topk(spark, case, k):
    """similarity.nearest (one aggregation at k = 1, a window above) and
    its driver twin nearest_ids both rank like a brute-force argmax: score
    descending, NULL last, ties to the lowest candidate id; k = 1 carries
    the row's payload and the winning score."""
    from stock_crypto_data_pipeline_public_spark.operators import similarity as S

    ids, grid = case
    rows = spark.createDataFrame(
        [(r, s, f"t{r}") for r, s in enumerate(grid)],
        "row_id long, s array<double>, tag string",
    )
    cands = spark.createDataFrame(list(enumerate(ids)), "pos int, cand_id long")
    score = F.element_at("s", F.col("pos") + 1)
    got = S.nearest(rows, cands, score, "row_id", "cand_id", k).collect()
    for r, scores in enumerate(grid):
        pairs = list(zip(ids, scores))
        want = _brute_topk(pairs, k)
        assert S.nearest_ids(pairs, k) == want
        mine = sorted((g for g in got if g.row_id == r), key=lambda g: g["rank"] if k > 1 else 0)
        assert [g.cand_id for g in mine] == want
        if k == 1:
            assert mine[0].tag == f"t{r}"
            assert mine[0].score == dict(pairs)[want[0]]
        else:
            assert [g["rank"] for g in mine] == list(range(1, len(want) + 1))
