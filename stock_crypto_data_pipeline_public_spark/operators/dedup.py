"""Large-scale deduplication operators: exact, MinHash-LSH, SimHash, n-gram
Jaccard.

These extend the reference surface (its only dedup is key-based row_number /
anti-join — SURVEY.md §2.8) with the content-level dedup a training-data
pipeline needs. Everything is built from JVM-side built-in expressions — no
Python UDFs anywhere — so whole-stage codegen applies and the same logic is
portable to any SQL oracle:

- tokens/shingles: split + transform/sequence (array lambdas)
- hashes: md5 hex (engine-portable); a hex-string *minimum* is a valid
  uniform minhash because lexicographic order on fixed-width hex == numeric
  order on the underlying 128-bit value
- SimHash: 16-bit signature from md5 nibbles — bit b of a token's hash is
  ``(instr('0123456789abcdef', hex_char) - 1) >> (b % 4) & 1``, computed with
  floor-division so the identical arithmetic runs on Spark and DuckDB.

Scale design: shingle explosion multiplies rows by ~doc length, but every
downstream agg groups by doc_id — partial aggregation keeps the shuffle at
one row per (doc, agg) pair. LSH banding turns the O(n²) all-pairs problem
into an equi-join on band values; the all-pairs SimHash comparison is kept
only as the verification baseline (and flagged as the non-scale path).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

#: number of minhash permutations and LSH band layout
MINHASH_K = 8
BAND_SIZE = 2

SIMHASH_BITS = 16

NORMALIZE_SQL = "trim(regexp_replace(lower({col}), '\\s+', ' ', 'g'))"


def normalize_text(col: Column | str) -> Column:
    """Lowercase + whitespace-collapse + trim (reference sanitizer shape,
    a1_2_news_data_scrapper.py:25-44)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def tokens(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), r"\s+")


def word_shingles(tok_col: str, n: int = 3) -> Column:
    """Distinct word n-grams as an array column (empty if doc too short)."""
    lam = "i -> concat_ws(' ', " + ", ".join(f"{tok_col}[i+{j}]" for j in range(n)) + ")"
    return F.when(
        F.size(F.col(tok_col)) >= n,
        F.array_distinct(
            F.expr(f"transform(sequence(0, size({tok_col}) - {n}), {lam})")
        ),
    ).otherwise(F.array().cast("array<string>"))


def oracle_shingles(text_expr: str, n: int = 3) -> str:
    """DuckDB fragment producing the same distinct n-gram list (1-indexed)."""
    toks = f"string_split_regex(trim({text_expr}), '\\s+')"
    parts = ", ".join(f"__t[i+{j+1}]" for j in range(n))
    return (
        f"list_distinct(list_transform(range(len({toks}) - {n - 1}), "
        f"i -> concat_ws(' ', {parts})))"
    ).replace("__t", toks)


def exploded_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, shingle) rows, distinct per doc."""
    return (
        df.select(id_col, tokens(text_col).alias("_toks"))
        .select(id_col, F.explode(word_shingles("_toks", n)).alias("shingle"))
    )


def copair_counts(
    keyed: DataFrame,
    id_col: str,
    key_col: str,
    max_bucket: int | None = None,
) -> DataFrame:
    """Count co-occurring (doc_a, doc_b) pairs from (id, key) rows: pairs of
    distinct ids sharing a key, id ordering ``doc_a < doc_b``, one row per
    pair with ``n_common`` = number of shared keys. Requires (id, key) rows
    to be distinct (exploded_shingles guarantees this per doc).

    Plan shape: ONE shuffle of the keyed stream (groupBy key) instead of a
    self-join's two, then a streamed pair-generation chain — posexplode the
    per-key id list, then explode each suffix slice — so per-row memory is
    O(bucket), never O(bucket²), while the c·(c−1)/2 pairs stream through
    the generators into the partial aggregate.

    ``max_bucket`` is the 100 TB skew valve: a key shared by c documents
    emits c² pairs, and super-common shingles carry no near-dup signal
    (standard stop-shingle practice in web-scale dedup). Buckets larger
    than the cap are dropped entirely when set; ``None`` keeps exact
    semantics (the oracle-gated form).
    """
    groups = (
        keyed.groupBy(key_col)
        .agg(F.sort_array(F.collect_list(id_col)).alias("__ids"))
        .where(F.size("__ids") >= 2)
    )
    if max_bucket is not None:
        groups = groups.where(F.size("__ids") <= max_bucket)
    return (
        groups.select(F.col("__ids"), F.posexplode("__ids").alias("__i", "doc_a"))
        .select(
            "doc_a",
            F.explode(F.expr("slice(__ids, __i + 2, size(__ids))")).alias("doc_b"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )


def minhash_aggs(k: int = MINHASH_K) -> list[Column]:
    """k min-md5 aggregate expressions over a `shingle` column."""
    return [
        F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("shingle")))).alias(f"mh{i}")
        for i in range(k)
    ]


def oracle_minhash_aggs(k: int = MINHASH_K) -> str:
    return ",\n           ".join(
        f"min(md5('{i}|' || shingle)) AS mh{i}" for i in range(k)
    )


def band_cols(k: int = MINHASH_K, band_size: int = BAND_SIZE) -> list[Column]:
    """Hash each band of `band_size` consecutive minhashes into one value."""
    out = []
    for b in range(k // band_size):
        parts = [F.col(f"mh{b * band_size + j}") for j in range(band_size)]
        out.append(F.md5(F.concat_ws("|", *parts)).alias(f"band{b}"))
    return out


def oracle_band_cols(k: int = MINHASH_K, band_size: int = BAND_SIZE) -> str:
    outs = []
    for b in range(k // band_size):
        parts = " || '|' || ".join(f"mh{b * band_size + j}" for j in range(band_size))
        outs.append(f"md5({parts}) AS band{b}")
    return ",\n           ".join(outs)


def _bit_expr(tok: str, b: int) -> str:
    """Portable SQL for bit b (0..15) of a token's md5-nibble hash.

    Works verbatim on Spark SQL and DuckDB: instr/substr/md5/floor are
    identical; avoids `div` vs `//` by flooring a float division.
    """
    pos = b // 4 + 1  # which hex nibble
    p = 2 ** (b % 4)  # bit within nibble
    nib = f"(instr('0123456789abcdef', substr(md5({tok}), {pos}, 1)) - 1)"
    return f"(CAST(floor({nib} / {p}) AS INT) % 2)"


def simhash_contrib_exprs(tok: str = "token", bits: int = SIMHASH_BITS) -> list[str]:
    """Per-token ±1 contribution expressions for every SimHash bit."""
    return [f"(2 * {_bit_expr(tok, b)} - 1) AS c{b}" for b in range(bits)]


def simhash_from_sums(bits: int = SIMHASH_BITS) -> str:
    """Combine summed contributions (columns s0..s{bits-1}) into the SimHash
    integer: bit b set iff the weighted sum is non-negative."""
    return " + ".join(f"(CASE WHEN s{b} >= 0 THEN {2**b} ELSE 0 END)" for b in range(bits))


def connected_components(nodes: DataFrame, edges: DataFrame, max_iter: int = 25) -> DataFrame:
    """Undirected connected components by iterative min-label propagation.

    ``nodes`` has one column ``id``; ``edges`` has ``src``/``dst`` (one row
    per undirected edge; both directions are derived here). Returns
    ``(id, component_id)`` where ``component_id`` is the minimum node id
    reachable from ``id``.

    Each round every node takes the min of (its own label, its neighbors'
    labels, and its LABEL'S label — pointer jumping, the Kiveris-et-al
    shortcutting step): the label-of-label join lets a chain's low id race
    down it in log₂(diameter) rounds instead of diameter rounds, which is
    the difference between ~4 and ~15 Spark jobs on a chain-shaped near-dup
    graph. The fixpoint test counts CHANGED labels via a null-safe
    anti-comparison, which is type-agnostic (string ids work — a label-sum
    test would silently no-op on non-numeric ids where sum() is NULL).
    Lineage is truncated per round with ``localCheckpoint`` — without it
    the iterated join plan grows superlinearly in analysis cost; the edge
    table is checkpointed ONCE up front so its (often expensive — LSH band
    self-join) lineage is not re-executed every round. At cluster scale add
    the large-star/small-star edge-rewriting rounds of Kiveris et al. (CC
    in MapReduce); the driver loop and convergence test stay the same.
    """
    both = edges.select("src", "dst").unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    both = both.localCheckpoint(eager=True)
    labels = nodes.select(F.col("id"), F.col("id").alias("component_id"))
    labels = labels.localCheckpoint(eager=True)
    id_type = labels.schema["component_id"].dataType
    for _ in range(max_iter):
        cand = both.join(labels, both["src"] == labels["id"]).select(
            F.col("dst").alias("id"), "component_id"
        )
        # pointer jumping: follow id → label → that label's label
        jump = (
            labels.alias("l1")
            .join(labels.alias("l2"), F.col("l1.component_id") == F.col("l2.id"))
            .select(F.col("l1.id").alias("id"), F.col("l2.component_id"))
        )
        # Carry each id's PREVIOUS label through the aggregate (non-null
        # only on the labels branch, so min() recovers it; an id first
        # introduced THIS round — an edge endpoint absent from `nodes` —
        # aggregates to NULL and counts as changed, the case the previous
        # full_outer-join test existed for). The convergence probe then
        # reads the just-checkpointed result instead of paying a second
        # shuffle join per round (one exchange job per round, for every CC
        # consumer — t11/t23/t30/t32/x14).
        nulltyped = F.lit(None).cast(id_type)
        new_labels = (
            labels.withColumn("__old", F.col("component_id"))
            .unionByName(cand.withColumn("__old", nulltyped))
            .unionByName(jump.withColumn("__old", nulltyped))
            .groupBy("id")
            .agg(
                F.min("component_id").alias("component_id"),
                F.min("__old").alias("__old"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.filter(
                F.col("__old").isNull()
                | ~F.col("component_id").eqNullSafe(F.col("__old"))
            )
            .limit(1)
            .count()
        )
        labels = new_labels.drop("__old")
        if changed == 0:
            break
    return labels


# -- incremental near-dup: new docs vs a persisted shingle inverted index ----
#
# At 100 TB the corpus grows by daily increments; re-pairing the WHOLE
# corpus per increment (t05/t11's batch form) re-pays the full shingle
# shuffle every day. The incremental form persists the inverted index —
# postings (doc_id, shingle) + per-doc shingle counts — and each increment
# joins only the NEW documents' shingles against it: work ∝ new batch ×
# hit rate, independent of corpus history size. When the new batch is small
# its shingle set is BROADCAST against the index scan, so the increment is
# a map-only pass over the postings (no index shuffle at all); a huge
# backfill batch falls back to a plain shuffle join on the uniform shingle
# key. Postings at scale are written bucketed/partitioned by shingle hash
# so repeated increments co-locate. Same exactness contract as the batch
# form: tests/test_incremental_dedup.py proves increments compose to the
# batch pair set.


def neardup_index_path(index_dir: str) -> str:
    import os

    return os.path.join(index_dir, "postings")


def incremental_neardup(
    spark,
    new_docs: DataFrame,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    broadcast_new: bool = True,
    edges_path: str | None = None,
) -> DataFrame:
    """Near-dup edges (trigram Jaccard ≥ 1/2) between the NEW documents and
    the corpus seen so far (including new-new pairs), then fold the new
    docs into the persisted index. Returns (doc_a, doc_b, n_common,
    n_a, n_b) with doc_a < doc_b, one row per qualifying pair.

    With ``edges_path`` set, the edges are APPENDED there BEFORE the index
    fold — write order is the crash-safety contract: if the process dies
    between the two writes, the batch is NOT yet in the index, so a replay
    reprocesses it and appends the same edges again (at-least-once).
    Duplicate edge rows are byte-identical per pair, so
    :func:`read_neardup_edges` (distinct-on-read) restores exactly-once.
    The reverse order — fold first, edges second, which an earlier revision
    of the streaming sink used — silently LOSES the batch's edges on that
    same crash: the replay drops the docs as already-indexed and emits
    nothing.

    The index is ONE table — postings (doc_id, shingle, n) with the doc's
    total shingle count embedded per row. A separate counts table would
    create a two-table consistency window (a crash between the two appends
    leaves duplicate postings or silently dropped pairs); embedding n makes
    each run a single append, and the old side of the candidate join
    carries its own n_b, so no counts join-back is needed at all. The
    remaining partial-append window is the same one merge_upsert documents:
    plain parquet appends are not transactions — a table format
    (Delta/Iceberg) closes it at deploy with the identical plan.

    Re-running the same batch is idempotent: already-indexed doc_ids are
    dropped from the new side up front (their pairs were emitted by the
    run that indexed them)."""
    import os

    postings_path = neardup_index_path(index_dir)
    have_index = os.path.exists(postings_path)

    new_sh = exploded_shingles(new_docs, id_col, text_col, n).withColumnRenamed(
        id_col, "doc_id"
    )
    if have_index:
        old_postings = spark.read.parquet(postings_path)
        # idempotent replay: drop docs the index already holds (doc_id-only
        # scan — column pruning reaches the parquet footer)
        new_sh = new_sh.join(
            old_postings.select("doc_id").distinct(), "doc_id", "left_anti"
        )
    # count per doc BEFORE checkpointing so the postings carry their n
    w_doc = W.partitionBy("doc_id")
    new_sh = new_sh.withColumn("n", F.count(F.lit(1)).over(w_doc))
    new_sh = new_sh.localCheckpoint(eager=True)  # reused 3x: pairs x2, append

    # new x new within the batch: copair + per-doc counts from the batch
    new_counts = new_sh.groupBy("doc_id").agg(F.first("n").alias("n"))
    nn_pairs = (
        copair_counts(new_sh, "doc_id", "shingle")
        .join(new_counts.alias("ca"), F.col("doc_a") == F.col("ca.doc_id"))
        .join(new_counts.alias("cb"), F.col("doc_b") == F.col("cb.doc_id"))
        .select("doc_a", "doc_b", "n_common",
                F.col("ca.n").alias("n_a"), F.col("cb.n").alias("n_b"))
    )

    # new x old: each shared shingle contributes once (postings are distinct
    # per doc); both sides carry their own n, so the pair aggregate emits
    # counts directly - no join back to a counts table
    if have_index:
        a = (F.broadcast(new_sh) if broadcast_new else new_sh).alias("a")
        no_pairs = (
            a.join(old_postings.alias("b"), "shingle")
            .select(
                F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
                F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
                F.when(F.col("a.doc_id") < F.col("b.doc_id"), F.col("a.n"))
                .otherwise(F.col("b.n")).alias("n_a"),
                F.when(F.col("a.doc_id") < F.col("b.doc_id"), F.col("b.n"))
                .otherwise(F.col("a.n")).alias("n_b"),
            )
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_common"),
                 F.first("n_a").alias("n_a"), F.first("n_b").alias("n_b"))
            .select("doc_a", "doc_b", "n_common", "n_a", "n_b")
        )
        pairs = nn_pairs.unionByName(no_pairs)
    else:
        pairs = nn_pairs

    edges = pairs.filter(
        2 * F.col("n_common") >= F.col("n_a") + F.col("n_b") - F.col("n_common")
    )
    edges = edges.localCheckpoint(eager=True)  # materialize BEFORE index append

    # WRITE ORDER MATTERS: edges first (at-least-once, dedup-on-read),
    # THEN the index fold that marks the batch as done — see docstring
    if edges_path is not None:
        edges.write.mode("append").parquet(edges_path)

    # fold the new docs into the index: ONE append (replays were already
    # excluded above, so each doc's postings land exactly once)
    new_sh.write.mode("append").parquet(postings_path)
    return edges


def read_neardup_edges(spark, edges_path: str) -> DataFrame:
    """Exactly-once view of an at-least-once edges log: a crash replay can
    append a batch's edges twice (never with different values — the rows
    are deterministic per pair), so reading is a ``distinct()`` over the
    log. At scale this is a hash-aggregate on (doc_a, doc_b);
    :func:`compact_neardup_edges` materializes it periodically so the
    dedup cost doesn't grow with replay history."""
    return spark.read.parquet(edges_path).distinct()


def compact_neardup_edges(spark, edges_path: str) -> dict:
    """Rewrite the edges log as its distinct set (the maintenance pass
    read_neardup_edges assumes): one hash-aggregate, committed atomically
    by ``manifest.rewrite`` — readers mid-scan keep a complete log at every
    instant. Returns row counts before/after."""
    from .manifest import rewrite

    raw = spark.read.parquet(edges_path)
    n_before = raw.count()
    live = rewrite(
        edges_path, lambda out: raw.distinct().write.mode("overwrite").parquet(out)
    )
    n_after = spark.read.parquet(live).count()
    return {"n_rows_before": n_before, "n_rows_after": n_after}
