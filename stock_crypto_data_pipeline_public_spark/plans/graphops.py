"""Graph analytics over the relational tables (beyond-reference).

The near-dup pipeline already runs one graph algorithm (connected
components, operators/dedup.py — pointer-jumping label propagation); this
module adds the other canonical iterative-graph workload, PageRank, as a
plain DataFrame loop: per iteration ONE join (ranks ⋈ edges on src) + ONE
hash aggregation (sum contributions per dst). That join-agg pair is the
whole scale story — each iteration shuffles on the node key exactly twice,
partial aggregation runs map-side, and nothing ever collects to the driver.
At real iteration counts, ``localCheckpoint`` every few rounds truncates
the growing lineage the same way operators/bpe.train_bpe does; g01's fixed
3 unrolled iterations don't need it (and fixed unrolling is what makes the
DuckDB oracle expressible as plain chained CTEs — the same determinism
trade x12 makes for Lloyd's iterations).

Cross-engine float contract: contribution sums are grouped aggregations
whose accumulation ORDER differs between engines, so every iterate is
rounded to 12 decimals (rank mass ∈ [1e-4, 1]; 1e12-scaled values stay
far inside 2^53, and the ~1e-16 relative summation noise sits 4 orders of
magnitude below the rounding grid) — the same mask-the-ulps pattern every
float aggregation in this repo uses (functions/numeric.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import oracle_rnd, rnd
from ..sources.tables import load_table
from .registry import query

#: damping factor (the standard 0.85) as an exact literal both engines parse
#: to the same double
_D = "0.85"
_ITERS = 3


# --------------------------------------------------------------------------
# g01 — 3-iteration PageRank over the (customer ↔ supplier) trade graph.
# Edges: distinct (custkey, suppkey) pairs from orders ⋈ lineitem,
# symmetrized (undirected trade relation → no dangling-mass handling
# needed: every node that appears has degree ≥ 1). Node ids are typed
# strings ('c:123' / 's:45'). r0 = 1/N; r_{k+1}(v) = (1-d)/N +
# d·Σ_{u→v} r_k(u)/deg(u), each iterate rounded to 12 dp (module
# docstring). Output: every node's final rank at 8 dp.
# --------------------------------------------------------------------------
def _oracle() -> str:
    it = """
    it{K} AS (
        SELECT e.dst AS node, {rnd_iter} AS rank
        FROM edges e
        JOIN it{P} r ON r.node = e.src
        JOIN deg d ON d.node = e.src
        CROSS JOIN n
        GROUP BY e.dst, n.n
    )"""
    rnd_iter = oracle_rnd(
        f"(1 - {_D}) / n.n + {_D} * sum(r.rank / d.deg)", 12
    )
    chain = ",".join(
        it.format(K=k, P=k - 1, rnd_iter=rnd_iter) for k in range(1, _ITERS + 1)
    )
    return f"""
    WITH pairs AS (
        SELECT DISTINCT o.o_custkey AS ck, l.l_suppkey AS sk
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    edges AS (
        SELECT 'c:' || CAST(ck AS VARCHAR) AS src, 's:' || CAST(sk AS VARCHAR) AS dst FROM pairs
        UNION ALL
        SELECT 's:' || CAST(sk AS VARCHAR) AS src, 'c:' || CAST(ck AS VARCHAR) AS dst FROM pairs
    ),
    deg AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY 1),
    n AS (SELECT count(*) AS n FROM deg),
    it0 AS (SELECT node, {oracle_rnd('1.0 / n.n', 12)} AS rank FROM deg CROSS JOIN n),
    {chain}
    SELECT node, {oracle_rnd('rank', 8)} AS pagerank
    FROM it{_ITERS}
    """


@query("g01_pagerank_trade_graph", oracle=_oracle())
def g01_pagerank_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # distinct on the RAW integer pair, string labels minted after — the
    # dedup exchange carries two BIGINTs instead of built strings (guide
    # §2.3 narrower types through the shuffle; g03 does the same)
    pairs = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select("o_custkey", "l_suppkey")
        .distinct()
        .select(
            F.concat(F.lit("c:"), F.col("o_custkey").cast("string")).alias("c"),
            F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("s"),
        )
    )
    edges = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionByName(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    # materialize the edge list once: every iteration joins against it, and
    # without the checkpoint the lazy orders ⋈ lineitem ⋈ distinct
    # derivation would re-execute per iteration; at real scale this is a
    # persisted edge table anyway
    edges = edges.localCheckpoint(eager=True)
    # deg is read by every iteration's weight join plus the init ranks —
    # LAZY checkpoint so the degree aggregation runs once inside the
    # single output action instead of once per consumer
    deg = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint(eager=False)
    )
    # scalar node count as a broadcast 1-row relation (the repo's standard
    # broadcast-scalar pattern — no collect, no literal baked at plan time)
    n = deg.agg(F.count(F.lit(1)).alias("n"))
    d = float(_D)
    ranks = deg.crossJoin(F.broadcast(n)).select(
        "node", rnd(F.lit(1.0) / F.col("n"), 12).alias("rank")
    )
    # NOTE: unlike g03's static frontier, `ranks` is re-DERIVED each
    # iteration — broadcasting it forces a serialized
    # materialize-collect-rebroadcast of every iterate's whole lineage
    # (measured 2.4x SLOWER than letting the shuffle join pipeline);
    # the shuffle join stays.
    for _ in range(_ITERS):
        # join ranks⋈deg FIRST (two node-sized relations co-keyed on node —
        # one cheap exchange pair), then hit the edge list ONCE with the
        # combined rank/deg weight, not two edge-sized join probes per
        # iteration for the same per-src weight (w values identical:
        # rank/deg computed from the same floats either way).
        weights = ranks.join(deg, "node").select(
            F.col("node").alias("src_node"),
            (F.col("rank") / F.col("deg")).alias("w"),
        )
        contrib = edges.join(weights, F.col("src_node") == edges.src).select(
            F.col("dst"), F.col("w")
        )
        ranks = (
            contrib.groupBy(F.col("dst").alias("node"))
            .agg(F.sum("w").alias("mass"))
            .crossJoin(F.broadcast(n))
            .select(
                "node",
                rnd((1 - d) / F.col("n") + d * F.col("mass"), 12).alias("rank"),
            )
        )
    return ranks.select("node", rnd("rank", 8).alias("pagerank"))


# --------------------------------------------------------------------------
# g02 — triangle counting + local clustering coefficient on the supplier
# co-trade graph. Nodes: suppliers; an edge (s1 < s2) is weighted by the
# number of ORDERS in which both supplied a line item; only the top-K
# heaviest edges (K = _TOP_EDGES, ties broken by (s1, s2)) form the graph —
# the threshold that keeps triangle enumeration bounded at ANY scale factor
# (the raw co-trade graph is near-complete: 453k pairs over 1k suppliers at
# sf0.1). Triangles are enumerated once each via the ordered wedge join
# (a<b<c: (a,b) ⋈ (b,c) closed by (a,c)) — the standard
# degree-ordered-direction trick that makes the join output linear in
# wedge count instead of 6x per triangle. Clustering coefficient
# c(v) = 2·T(v) / (deg(v)·(deg(v)−1)), NULL when deg < 2.
#
# 100 TB: per-order supplier sets are bounded (≤7 line items per order),
# so the pair fan-out is ≤21 rows per order — linear in lineitem; the
# global top-K is a TakeOrdered (no full sort materialized); the triangle
# join touches only K edges. Exact division 2T/(deg(deg-1)) is one IEEE
# op — bit-equal across engines — rounded to 8 dp for the hash anyway.
# --------------------------------------------------------------------------
_TOP_EDGES = 2000


def top_edges(co: DataFrame, k: int) -> DataFrame:
    """Global top-K edges by weight with a TOTAL-ORDER tiebreak
    (w DESC, s1, s2 — (s1, s2) is unique, so the K-boundary cut is
    deterministic under any partitioning and any scale factor).

    Scale mechanism — this is NOT a full sort: Spark plans
    ``orderBy(...).limit(k)`` as TakeOrderedAndProject, which keeps a
    bounded K-row heap PER PARTITION map-side and merges the per-partition
    winners at the driver — O(n log k) work, O(k · partitions) driver
    traffic, no shuffle of the full edge list. At 100 TB the same plan
    holds; if K itself had to grow past driver-merge comfort (~10⁷ rows),
    swap the limit for a weight cutoff chosen by ``approx_percentile`` on
    w (one aggregate, then a pushed-down filter) — documented in SCALE.md,
    not needed at any gated SF."""
    return co.orderBy(F.col("w").desc(), "s1", "s2").limit(k).select("s1", "s2")


def top_edges_by_cutoff(co: DataFrame, k: int, accuracy: int = 10_000) -> DataFrame:
    """The documented 100 TB swap for :func:`top_edges` when K outgrows
    driver-merge comfort: choose a WEIGHT CUTOFF at the (1 − k/n) quantile
    of w via ``approx_percentile`` (one map-side-mergeable aggregate, GK
    sketch, bounded error 1/accuracy), then keep edges with w ≥ cutoff —
    a pushed-down filter, zero driver involvement, no ordering anywhere.

    Boundary semantics differ from the exact top-K by design: ALL edges
    tied at the cutoff weight survive (deterministic — membership depends
    only on each edge's own weight), so the kept count is ≥ k up to the
    tie group plus the sketch's rank error. Downstream wedge-join cost
    scales with the kept count, not with the boundary's exactness."""
    n = co.count()
    if n <= k:
        return co.select("s1", "s2")
    q = 1.0 - k / n
    cutoff = co.agg(
        F.expr(f"approx_percentile(w, {q}, {accuracy})").alias("c")
    ).first()["c"]  # bounded 1-row pull (the quantile scalar)
    return co.filter(F.col("w") >= cutoff).select("s1", "s2")


def _g02_oracle() -> str:
    coef = oracle_rnd("2.0 * coalesce(t.tri, 0) / (d.deg * (d.deg - 1))", 8)
    return f"""
    WITH os AS (
        SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
    ),
    co AS (
        SELECT a.l_suppkey AS s1, b.l_suppkey AS s2, count(*) AS w
        FROM os a JOIN os b
          ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        GROUP BY 1, 2
    ),
    e AS (
        SELECT s1, s2 FROM co ORDER BY w DESC, s1, s2 LIMIT {_TOP_EDGES}
    ),
    tri AS (
        SELECT e1.s1 AS a, e1.s2 AS b, e2.s2 AS c
        FROM e e1
        JOIN e e2 ON e2.s1 = e1.s2
        JOIN e e3 ON e3.s1 = e1.s1 AND e3.s2 = e2.s2
    ),
    pertri AS (
        SELECT a AS s FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    ),
    tcount AS (SELECT s, count(*) AS tri FROM pertri GROUP BY s),
    deg AS (
        SELECT s, count(*) AS deg FROM (
            SELECT s1 AS s FROM e UNION ALL SELECT s2 FROM e
        ) GROUP BY s
    )
    SELECT d.s AS suppkey, d.deg AS degree,
           coalesce(t.tri, 0) AS triangles,
           CASE WHEN d.deg >= 2 THEN {coef} END AS clustering
    FROM deg d LEFT JOIN tcount t ON t.s = d.s
    """


@query("g02_supplier_triangles", oracle=_g02_oracle())
def g02_supplier_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    os_ = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    a, b = os_.alias("a"), os_.alias("b")
    co = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .groupBy(
            F.col("a.l_suppkey").alias("s1"), F.col("b.l_suppkey").alias("s2")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    # global top-K with a total-order tiebreak → Spark plans a TakeOrdered,
    # never a full sort; the kept-edge subgraph bounds everything downstream.
    # LAZY checkpoint: the wedge join reads e three ways and deg once more —
    # without it each consumer re-runs the os⋈os co-trade aggregation plus
    # the top-K (~5 executions per action)
    e = top_edges(co, _TOP_EDGES).localCheckpoint(eager=False)
    # K rows: broadcast both probe sides of the wedge join
    e1, e2, e3 = e.alias("e1"), F.broadcast(e.alias("e2")), F.broadcast(e.alias("e3"))
    tri = (
        e1.join(e2, F.col("e2.s1") == F.col("e1.s2"))
        .join(
            e3,
            (F.col("e3.s1") == F.col("e1.s1")) & (F.col("e3.s2") == F.col("e2.s2")),
        )
        .select(
            F.col("e1.s1").alias("a"),
            F.col("e1.s2").alias("b"),
            F.col("e2.s2").alias("c"),
        )
    )
    # one pass over tri (a 3-way union re-executes the whole wedge join per
    # branch); explode emits the same (s) multiset
    pertri = tri.select(
        F.explode(F.array(F.col("a"), F.col("b"), F.col("c"))).alias("s")
    )
    tcount = pertri.groupBy("s").agg(F.count(F.lit(1)).alias("tri"))
    deg = (
        e.select(F.explode(F.array(F.col("s1"), F.col("s2"))).alias("s"))
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    return (
        deg.join(tcount, "s", "left")
        .select(
            F.col("s").alias("suppkey"),
            F.col("deg").alias("degree"),
            F.coalesce("tri", F.lit(0)).alias("triangles"),
            F.when(
                F.col("deg") >= 2,
                rnd(
                    F.lit(2.0) * F.coalesce("tri", F.lit(0)) / (F.col("deg") * (F.col("deg") - 1)),
                    8,
                ),
            ).alias("clustering"),
        )
    )


# --------------------------------------------------------------------------
# g03 — multi-source BFS hop distance over the trade graph: the shortest
# number of trade hops from ANY seed supplier (every 5th suppkey — a
# deterministic ~20% multi-source seed set that is non-empty at every
# scale factor) to every reachable node, capped at _HOPS levels. Same
# bipartite symmetrized edge list as g01.
# The loop is the textbook scalable frontier BFS: per level ONE equi-join
# (frontier ⋈ edges on src) + distinct + ONE left-anti join against the
# visited set — the frontier carries only NEWLY discovered nodes, so total
# work across all levels is O(edges touched), not O(reach² ) as a naive
# reach-set re-expansion would be. Fixed unrolling (like g01/x12) keeps the
# DuckDB oracle plain chained CTEs: min(hop) over the per-level discovery
# union is the same dedup the anti-join does incrementally.
#
# 100 TB: each level shuffles on the node key only (equi-join + hash agg);
# the visited set grows monotonically and stays partitioned by node, so
# the anti-join co-partitions with the new frontier — no broadcast of
# anything unbounded, no driver collect; at real diameters the loop adds
# localCheckpoint every few levels exactly like bpe.train_bpe.
# --------------------------------------------------------------------------
_HOPS = 3
_SEED_MOD = 5


def _g03_oracle() -> str:
    lvl = """
    f{K} AS (
        SELECT DISTINCT e.dst AS node
        FROM edges e JOIN f{P} f ON f.node = e.src
    )"""
    chain = ",".join(lvl.format(K=k, P=k - 1) for k in range(1, _HOPS + 1))
    unions = "\n        UNION ALL ".join(
        f"SELECT node, {k} AS hop FROM f{k}" for k in range(_HOPS + 1)
    )
    return f"""
    WITH pairs AS (
        SELECT DISTINCT o.o_custkey AS ck, l.l_suppkey AS sk
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    edges AS (
        SELECT 'c:' || CAST(ck AS VARCHAR) AS src, 's:' || CAST(sk AS VARCHAR) AS dst FROM pairs
        UNION ALL
        SELECT 's:' || CAST(sk AS VARCHAR) AS src, 'c:' || CAST(ck AS VARCHAR) AS dst FROM pairs
    ),
    f0 AS (
        SELECT DISTINCT 's:' || CAST(s_suppkey AS VARCHAR) AS node
        FROM supplier
        WHERE s_suppkey % {_SEED_MOD} = 0
          AND 's:' || CAST(s_suppkey AS VARCHAR) IN (SELECT src FROM edges)
    ),
    {chain},
    discovered AS (
        {unions}
    )
    SELECT node, CAST(min(hop) AS INT) AS hops
    FROM discovered GROUP BY node
    """


@query("g03_bfs_trade_hops", oracle=_g03_oracle())
def g03_bfs_trade_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    # distinct on the RAW integer pair before the string projection: the
    # dedup exchange then carries two BIGINTs instead of two built strings
    # (guide §2.3 narrower types through the shuffle), and the c:/s: labels
    # are minted once per surviving pair
    pairs = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select("o_custkey", "l_suppkey")
        .distinct()
        .select(
            F.concat(F.lit("c:"), F.col("o_custkey").cast("string")).alias("c"),
            F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("s"),
        )
    )
    # The trade graph is strictly BIPARTITE (customer ↔ supplier), and the
    # seeds are all supplier nodes, so each BFS level's frontier is single-
    # sided: s-type at even hops, c-type at odd. Materializing only the
    # HALF-edge pair list and alternating the probe column per level scans
    # half the bytes per level and skips the symmetrizing union outright
    # (the generic bfs_expand keeps the symmetrized form for graphs
    # without this structure). Same discovered set, level for level.
    pairs = pairs.localCheckpoint(eager=True)
    seed_nodes = sup.filter(F.col("s_suppkey") % _SEED_MOD == 0).select(
        F.concat(F.lit("s:"), F.col("s_suppkey").cast("string")).alias("node")
    )
    # seeds restricted to nodes that exist in the graph (a supplier with no
    # line items is not a node; the oracle's IN (SELECT src...) mirrors this)
    frontier = seed_nodes.join(
        pairs.select(F.col("s").alias("node")).distinct(), "node", "semi"
    ).localCheckpoint(eager=True)
    visited = frontier.select("node", F.lit(0).cast("int").alias("hops"))
    for k in range(1, _HOPS + 1):
        src, dst = ("s", "c") if k % 2 == 1 else ("c", "s")
        nxt = (
            pairs.join(F.broadcast(frontier), frontier["node"] == pairs[src])
            .select(F.col(dst).alias("node"))
            .distinct()
            .join(F.broadcast(visited.select("node")), "node", "left_anti")
            .localCheckpoint(eager=True)
        )
        visited = visited.unionByName(
            nxt.select("node", F.lit(k).cast("int").alias("hops"))
        )
        frontier = nxt
    return visited


def bfs_expand(edges: DataFrame, frontier: DataFrame, visited: DataFrame) -> DataFrame:
    """One BFS level: frontier -> unvisited neighbors. The frontier and
    visited set are node-bounded (≪ edges), so both sides of the expansion
    BROADCAST: each level is one map-only pass over the materialized edge
    list + a distinct over matched dsts — the edge list itself never
    re-shuffles. At diameters/graphs
    where the frontier outgrows the broadcast threshold, drop the hints
    and the same plan becomes the co-partitioned shuffle join — the 100 TB
    form. The broadcast shape is plan-asserted in
    tests/test_plan_contracts.py."""
    return (
        edges.join(F.broadcast(frontier), frontier.node == edges.src)
        .select(F.col("dst").alias("node"))
        .distinct()
        .join(F.broadcast(visited.select("node")), "node", "left_anti")
    )
