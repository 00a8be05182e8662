"""Mechanical plan assertions for the SCALE.md claims that were previously
documentation-only (r6 verdict item 6): g03's broadcast-frontier BFS
expansion, v13/v14's AQE-vs-hinted join split (the transaction-grain rule),
and x10's probe-filter-before-PQ-encode position. Each pins the PHYSICAL
plan shape so a regression (a dropped hint, a forced broadcast on a
fact-grain relation, a filter hoisted above the encode) fails CI, not a
re-read of the docs."""

from __future__ import annotations

import re

import pytest


@pytest.fixture()
def no_aqe(spark):
    """AQE off so join strategies are visible in the static plan."""
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    yield spark
    spark.conf.set("spark.sql.adaptive.enabled", prev)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bfs_expand_broadcasts_frontier_and_visited(no_aqe):
    """g03's per-level expansion (graphops.bfs_expand): BOTH joins —
    frontier probe and visited anti-join — must be broadcast hash joins;
    the only shuffle in a level is the distinct over matched dsts. The
    edge list itself must never re-partition."""
    spark = no_aqe
    from stock_crypto_data_pipeline_public_spark.plans.graphops import bfs_expand

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "src string, dst string"
    )
    frontier = spark.createDataFrame([("a",)], "node string")
    visited = frontier.select("node")
    plan = _plan(bfs_expand(edges, frontier, visited))
    assert plan.count("BroadcastHashJoin") == 2, plan
    assert "LeftAnti, BuildRight" in plan, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan
    # exactly one ENSURE_REQUIREMENTS exchange: the distinct — the edge
    # scan must feed the probe join unshuffled
    assert plan.count("ENSURE_REQUIREMENTS") == 1, plan


def test_v14_dag_transaction_grain_joins_left_to_aqe(no_aqe):
    """The vault DAG's grain rule (market.py): dim/hub joins are
    broadcast-HINTED; transaction-grain joins (hub_transaction, link
    resolution on transaction ids) carry NO hint — AQE picks broadcast
    when small, SMJ when not. With size-based auto-broadcast disabled,
    only hinted joins may appear as BroadcastHashJoin, and every
    transaction-keyed join must be a SortMergeJoin."""
    spark = no_aqe
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        from stock_crypto_data_pipeline_public_spark.plans import vault
        from stock_crypto_data_pipeline_public_spark.plans.market import (
            registry as market_models,
        )

        ctx = vault._dag_fixtures(spark, "/root/testdata/sf0.001")
        built = market_models.run(ctx, select=["semantic_transactions"])
        plan = _plan(built["semantic_transactions"])
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    bhj = [ln for ln in plan.splitlines() if "BroadcastHashJoin" in ln]
    smj = [ln for ln in plan.splitlines() if "SortMergeJoin" in ln]
    # the 7 explicit dim/hub hints (hub_customer x2, hub_company x2,
    # dim_customer, dim_asset, asset-key link); a count change means a
    # hint was added or dropped — re-derive before updating
    assert len(bhj) == 7, plan
    # NO transaction-grain relation is ever force-broadcast
    assert not any(re.search(r"transaction", ln, re.I) for ln in bhj), bhj
    # the transaction-grain joins exist and resolved to shuffle joins
    assert sum("hk_transaction" in ln for ln in smj) >= 3, smj
    assert any(
        "transaction_id" in ln and "transaction_bk" in ln for ln in smj
    ), smj


def test_x10_probe_filter_sits_below_pq_encode(no_aqe):
    """x10 IVF-PQ: the probe filter (centroid_id IN probed set) must cut
    the corpus BEFORE the PQ encode stage — encode work ∝ probed fraction.
    In the printed plan tree (parents before descendants), the encode
    Generate must appear above the Filter, which must appear above the
    coarse-assignment max_by aggregate it consumes."""
    spark = no_aqe
    from stock_crypto_data_pipeline_public_spark.plans import registry

    registry.load_all()
    df = registry.QUERIES["x10_ivfpq_search"](spark, "/root/testdata/sf0.001")
    lines = _plan(df).splitlines()

    def first(pred):
        for i, ln in enumerate(lines):
            if pred(ln):
                return i
        raise AssertionError("plan node not found:\n" + "\n".join(lines))

    encode = first(lambda ln: "Generate posexplode" in ln)
    probe_filter = first(
        lambda ln: "Filter" in ln and re.search(r"centroid_id#\d+ IN", ln)
    )
    coarse = first(lambda ln: "max_by(centroid_id" in ln)
    assert encode < probe_filter < coarse, (encode, probe_filter, coarse)


def test_q37_recursion_executes_as_union_loop(no_aqe):
    """q37's WITH RECURSIVE must plan as Spark 4's UnionLoop iteration
    (one loop body re-executed to fixpoint), never a decorrelated
    per-row subquery or a blown-up self-join chain; the closing rollup
    is the plan's only exchange."""
    spark = no_aqe
    from stock_crypto_data_pipeline_public_spark.plans import registry

    registry.load_all()
    df = registry.QUERIES["q37_recursive_org_chain"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "UnionLoop" in plan and "UnionLoopRef" in plan
    assert plan.count("Exchange") == 1  # the final groupBy only


def test_drain_shuffle_restores_session_conf(spark):
    """plans/streamops._drain_shuffle pins the state-store partition count
    for a drain and must restore the session value afterwards — including
    on failure (the driver session's conf is not ours to keep)."""
    import pytest as _pytest

    from stock_crypto_data_pipeline_public_spark.plans.streamops import _drain_shuffle

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    with _drain_shuffle(spark, 5):
        assert spark.conf.get(key) == "5"
    assert spark.conf.get(key) == before
    with _pytest.raises(RuntimeError):
        with _drain_shuffle(spark, 5):
            raise RuntimeError("boom")
    assert spark.conf.get(key) == before


def test_scan_spreads_are_sized_only_by_fan_out():
    """sources/tables.fan_out is the one place that sizes a scan spread:
    no ``repartition`` in plans/ or operators/ takes a count built from
    ``defaultParallelism`` (directly or through a local name), and no
    module but sources/tables.py reads plan-stat ``sizeInBytes``. Exempt:
    join-side distributions (t14, x06), blockpair's pair grid and the
    multimodal operator's frame ordering — none is a scan spread."""
    import ast
    from pathlib import Path

    import stock_crypto_data_pipeline_public_spark as pkg

    exempt = {
        ("plans/textops.py", "t14_blocked_edit_distance"),
        ("plans/vectorops.py", "x06_bucketed_cosine_neardup"),
        ("operators/blockpair.py", "block_pair_partials"),
        ("operators/multimodal.py", "frame_deltas"),
    }
    root = Path(pkg.__file__).parent
    found = []

    def visit(node, rel, fns):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fns = fns + [node]
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "repartition"
            and node.args
        ):
            count = node.args[0]
            names = {n.id for n in ast.walk(count) if isinstance(n, ast.Name)}
            sources = [ast.unparse(count)] + [
                ast.unparse(a.value)
                for f in fns
                for a in ast.walk(f)
                if isinstance(a, ast.Assign)
                and any(isinstance(t, ast.Name) and t.id in names for t in a.targets)
            ]
            if any("defaultParallelism" in src for src in sources) and not any(
                (rel, f.name) in exempt for f in fns
            ):
                found.append(f"{rel}:{node.lineno} repartition({sources[0]}, ...)")
        for child in ast.iter_child_nodes(node):
            visit(child, rel, fns)

    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        src = path.read_text()
        if "sizeInBytes" in src and rel != "sources/tables.py":
            found.append(f"{rel}: reads sizeInBytes")
        if rel.startswith(("plans/", "operators/")):
            visit(ast.parse(src), rel, [])
    assert not found, "size scan spreads with sources.tables.fan_out:\n" + "\n".join(found)


def test_nearest_centroid_rule_has_one_home():
    """operators/similarity.nearest is the one place that ranks IVF
    candidates (score descending, ties to the lowest id): no other module
    in plans/ or operators/ orders a window by ``F.asc("centroid_id")`` or
    ``F.asc("k")`` as a tiebreak, or calls ``min_by``/``max_by`` with a
    ``struct`` ordering key (as a function or inside a SQL string).
    Exempt: x10's PQ encode, which takes the nearest codeword of all 8
    subspaces in one aggregation pass (``FILTER (WHERE m = …)``) — a
    per-subspace argmin, not a per-row candidate ranking."""
    import ast
    from pathlib import Path

    import stock_crypto_data_pipeline_public_spark as pkg

    exempt = {("plans/vectorops.py", "x10_ivfpq_search", "min_by(k, struct(")}
    struct_key = re.compile(r"\b(?:min|max)_by\(\s*[^,()]+,\s*struct\(")
    root = Path(pkg.__file__).parent
    found = []

    def visit(node, rel, fn):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        hit = None
        if isinstance(node, ast.Call):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            arg = node.args[0] if node.args else None
            if (
                name == "asc"
                and isinstance(arg, ast.Constant)
                and arg.value in ("centroid_id", "k")
            ):
                hit = f'asc("{arg.value}")'
            elif name in ("min_by", "max_by") and any(
                isinstance(a, ast.Call)
                and getattr(a.func, "attr", getattr(a.func, "id", None)) == "struct"
                for a in node.args[1:]
            ):
                hit = f"{name}(…, struct(…))"
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            m = struct_key.search(node.value)
            hit = m and m.group(0)
        if hit and (rel, fn, hit) not in exempt:
            found.append(f"{rel}:{node.lineno} {hit} (in {fn})")
        for child in ast.iter_child_nodes(node):
            visit(child, rel, fn)

    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel.startswith(("plans/", "operators/")) and rel != "operators/similarity.py":
            visit(ast.parse(path.read_text()), rel, None)
    assert not found, "rank IVF candidates with similarity.nearest:\n" + "\n".join(found)


def test_media_rows_and_codec_dispatch_have_one_home():
    """operators/multimodal.py owns both media contracts: only
    ``media_rows`` runs a ``mapInPandas`` that emits ``MEDIA_SCHEMA``
    (every producer returns through it), and no module in plans/ or
    operators/ compares a value with a media_type literal such as
    ``mt == "image/png"`` — format dispatch reads ``CODECS`` through
    ``codec_op``."""
    import ast
    from pathlib import Path

    import stock_crypto_data_pipeline_public_spark as pkg

    mime = re.compile(r"^(?:image|audio|video|application)/[\w.+-]+$")
    root = Path(pkg.__file__).parent
    found = []

    def is_media_schema(node):
        name = node.attr if isinstance(node, ast.Attribute) else getattr(node, "id", None)
        return name == "MEDIA_SCHEMA"

    def visit(node, rel, fn):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        if (
            isinstance(node, ast.Call)
            and getattr(node.func, "attr", None) == "mapInPandas"
            and any(is_media_schema(a) for a in [*node.args, *(k.value for k in node.keywords)])
            and (rel, fn) != ("operators/multimodal.py", "media_rows")
        ):
            found.append(f"{rel}:{node.lineno} mapInPandas(…, MEDIA_SCHEMA) (in {fn})")
        if isinstance(node, ast.Compare) and any(
            isinstance(c, ast.Constant) and isinstance(c.value, str) and mime.match(c.value)
            for c in [node.left, *node.comparators]
        ):
            found.append(f"{rel}:{node.lineno} media_type comparison (in {fn})")
        for child in ast.iter_child_nodes(node):
            visit(child, rel, fn)

    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel.startswith(("plans/", "operators/")):
            visit(ast.parse(path.read_text()), rel, None)
    assert not found, (
        "emit media through multimodal.media_rows and dispatch formats "
        "through multimodal.codec_op:\n" + "\n".join(found)
    )


def test_table_commits_go_only_through_manifest():
    """operators/manifest.py is the one module that knows how a table
    commits: no other module stages a ``.__staging__`` copy, calls
    ``os.replace`` / ``os.rename``, or commits through
    ``commit_generation`` / ``swap_into_place`` — whole-table rewrites
    call ``manifest.rewrite``, small files ``manifest.replace_file``.
    Exempt: land_sketch_epoch's replay swap, whose staging dir sits inside
    the table and whose pointer flips between the stage and the swap."""
    import ast
    from pathlib import Path

    import stock_crypto_data_pipeline_public_spark as pkg

    exempt = {("streaming/pipeline.py", "land_sketch_epoch", "swap_into_place")}
    commits = {"commit_generation", "swap_into_place"}
    root = Path(pkg.__file__).parent
    found = []

    def visit(node, rel, fn):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        hit = None
        if isinstance(node, ast.Constant) and ".__staging__" in str(node.value):
            hit = ".__staging__"
        elif isinstance(node, ast.Call):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            if name in commits:
                hit = name
            elif (
                name in ("replace", "rename")
                and isinstance(f, ast.Attribute)
                and isinstance(f.value, ast.Name)
                and f.value.id == "os"
            ):
                hit = f"os.{name}"
        if hit and (rel, fn, hit) not in exempt:
            found.append(f"{rel}:{node.lineno} {hit} (in {fn})")
        for child in ast.iter_child_nodes(node):
            visit(child, rel, fn)

    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel != "operators/manifest.py":
            visit(ast.parse(path.read_text()), rel, None)
    assert not found, "commit through operators/manifest.py:\n" + "\n".join(found)


def test_vault_policies_have_one_home():
    """plans/market.py writes each Data Vault policy once: the DV2
    first-load order (in ``first_load``), the personal ∪ corporate
    transaction union (``ephemeral_transactions``) and the news ticker
    normalization (``ephemeral_news``). Every hub and link returns through
    the ``hub`` / ``link`` helpers, never its own ``top_k``."""
    import ast
    import inspect

    from stock_crypto_data_pipeline_public_spark.plans import market

    src = inspect.getsource(market)
    flat = re.sub(r"\s+", "", src)
    assert flat.count('[F.asc("load_timestamp"),F.asc("source")]') == 1
    assert flat.count('unionByName(ctx["raw_transaction_corporate"])') == 1
    news_fns = [
        re.sub(r"\s+", "", ast.get_source_segment(src, node))
        for node in ast.parse(src).body
        if isinstance(node, ast.FunctionDef)
        and 'ctx["raw_news"]' in ast.get_source_segment(src, node)
    ]
    assert sum(f.count('F.upper("ticker")') for f in news_fns) == 1, news_fns

    found = []
    for name in market.registry.models():
        kind = name.split("_")[0]
        if kind in ("hub", "link"):
            body = inspect.getsource(getattr(market, name))
            if not re.search(rf"\b{kind}\(", body) or "top_k" in body:
                found.append(name)
    assert not found, "build hubs and links through market.hub / market.link: " + str(found)


def test_ranking_rule_has_one_home():
    """operators/scd.top_k is the one place that keeps the first k rows per
    key: no other function in plans/ or operators/ names a ``row_number``
    rank (``withColumn`` or ``alias``) and then filters on it with ``<=``,
    ``<`` or ``== 1``. Exempt: the functions whose rank is also a value —
    x16, x21 and x25's recall ranks (a second rank is counted below its
    bound), x23's unpartitioned fused rank and t40's threshold (the
    (k+1)-th row's weight)."""
    import ast
    from pathlib import Path

    import stock_crypto_data_pipeline_public_spark as pkg

    exempt = {
        "x16_sq8_recall",
        "x21_binary_quant_recall",
        "x23_hybrid_rrf_fusion",
        "x25_matryoshka_recall",
        "t40_priority_sample",
    }
    root = Path(pkg.__file__).parent
    found = []

    def name_of(f):
        return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)

    def col_name(node):
        if (
            isinstance(node, ast.Call)
            and name_of(node.func) == "col"
            and node.args
            and isinstance(node.args[0], ast.Constant)
        ):
            return node.args[0].value

    def scan(fn, rel):
        ranks = set()
        for n in ast.walk(fn):
            if (
                isinstance(n, ast.Call)
                and name_of(n.func) in ("withColumn", "alias")
                and n.args
                and isinstance(n.args[0], ast.Constant)
                and any(
                    isinstance(c, ast.Call) and name_of(c.func) == "row_number"
                    for c in ast.walk(n)
                )
            ):
                ranks.add(n.args[0].value)
        for n in ast.walk(fn):
            if not (isinstance(n, ast.Call) and name_of(n.func) in ("filter", "where")):
                continue
            for c in ast.walk(n):
                if not (isinstance(c, ast.Compare) and col_name(c.left) in ranks):
                    continue
                op, bound = c.ops[0], c.comparators[0]
                if isinstance(op, (ast.Lt, ast.LtE)) or (
                    isinstance(op, ast.Eq) and getattr(bound, "value", None) == 1
                ):
                    found.append(f"{rel}:{c.lineno} {col_name(c.left)} (in {fn.name})")

    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel.startswith(("plans/", "operators/")) and rel != "operators/scd.py":
            for fn in ast.walk(ast.parse(path.read_text())):
                if isinstance(fn, ast.FunctionDef) and fn.name not in exempt:
                    scan(fn, rel)
    assert not found, "keep the first k rows per key with scd.top_k:\n" + "\n".join(found)


@pytest.mark.parametrize("fails_at", ["start", "await"])
def test_drain_stops_its_other_queries_when_one_fails(spark, tmp_path, fails_at):
    """plans/streamops._drain must not leave a started query running when
    another start raises, or when awaiting another query raises: the
    caller's scratch cleanup would then delete the checkpoint and target
    of a live query."""
    from stock_crypto_data_pipeline_public_spark.plans.streamops import _drain

    def endless():
        return (
            spark.readStream.format("rate").load()
            .writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )

    def broken_start():
        raise RuntimeError("start failed")

    def broken_batch(batch, epoch_id):
        raise RuntimeError("batch failed")

    def failing_query():
        return (
            spark.readStream.format("rate").load()
            .writeStream.foreachBatch(broken_batch)
            .option("checkpointLocation", str(tmp_path / "ckpt_failing"))
            .start()
        )

    if fails_at == "start":
        starts, error = (endless, broken_start), "start failed"
    else:  # the first await raises while the second query still runs
        starts, error = (failing_query, endless), "batch failed"
    with pytest.raises(Exception, match=error):
        _drain(spark, *starts)
    assert spark.streams.active == []


def test_gate_window_members_are_hash_gated():
    """A _GATE_PRIORITY member without an oracle would spend a driver
    window slot on a rows-only check that can never hash-match — today
    that is only prevented for the known sketches via _NEVER_GATE; this
    pins it for EVERY window member."""
    from stock_crypto_data_pipeline_public_spark.plans import registry

    registry.load_all()
    by_prefix = {n.split("_", 1)[0]: n for n in registry.QUERIES}
    rows_only = [
        p for p in registry._GATE_PRIORITY
        if by_prefix[p] not in registry.ORACLES
    ]
    assert not rows_only, (
        f"gate-window queries without a hash oracle: {rows_only}"
    )


@pytest.fixture(scope="module")
def built_plans(sf_dir):
    """Every registered query's DataFrame, built once at sf0.001 — shared
    by the repo-wide plan/schema contract tests below (plan build only:
    the returned frames are never written)."""
    from stock_crypto_data_pipeline_public_spark.plans import registry
    from stock_crypto_data_pipeline_public_spark.session import get_spark

    registry.load_all()
    spark = get_spark("plan-contracts", cpus=8, shuffle_partitions=8)
    return {
        n: fn(spark, sf_dir) for n, fn in registry.QUERIES.items()
    }


def test_no_decimal_typed_gated_outputs(built_plans):
    """Registry rule 7: no oracled query may EMIT a DecimalType column at
    all. DuckDB's pandas path renders every decimal as float64 while
    Spark's hands the driver verbatim Decimal objects — equal values hash
    differently the moment the decimal carries trailing zeros. The local
    mirror coerces Decimal→float (see oracle_compare.py), so only the
    driver can see the mismatch — hence a mechanical ban, not a code
    -review convention."""
    from stock_crypto_data_pipeline_public_spark.plans import registry

    offenders = {
        name: [f.name for f in df.schema.fields
               if f.dataType.typeName().startswith("decimal")]
        for name, df in built_plans.items()
        if name in registry.ORACLES
    }
    offenders = {k: v for k, v in offenders.items() if v}
    assert not offenders, f"decimal-typed hashed outputs: {offenders}"


def test_no_hashed_output_transits_decimal_to_double(built_plans):
    """Exact-domain rule, enforced mechanically: no registered query's
    analyzed plan may contain a Cast of a FRACTIONAL (scale > 0),
    non-literal DecimalType expression to DoubleType — the q26/q28
    driver-divergence pipeline. Money aggregates must leave the decimal
    domain as scaled BIGINT (functions/numeric.py dsum_e / money_sum_e2 /
    iavg), never through the double image.

    Deliberately allowed, with the reasoning:
    - scale-0 decimals (f05's exact DECIMAL(26,0) moments): the value is
      an integer, so the cast is ordinary integer->double correct
      rounding with no decimal-fraction rendering involved;
    - decimal LITERALS (v13's 0.25, t29's 0.5): plan-time constants both
      engines fold identically."""

    def banned_casts(df):
        found = []

        def walk_expr(e):
            if e.getClass().getSimpleName() == "Cast":
                child = e.child()
                src = child.dataType()
                if (
                    src.typeName().startswith("decimal")
                    and e.dataType().typeName() == "double"
                    and src.scale() > 0
                    and child.getClass().getSimpleName() != "Literal"
                ):
                    found.append(e.toString())
            for i in range(e.children().size()):
                walk_expr(e.children().apply(i))

        def walk_plan(p):
            exprs = p.expressions()
            for i in range(exprs.size()):
                walk_expr(exprs.apply(i))
            for i in range(p.children().size()):
                walk_plan(p.children().apply(i))

        walk_plan(df._jdf.queryExecution().analyzed())
        return found

    offenders = {}
    for name, df in built_plans.items():
        casts = banned_casts(df)
        if casts:
            offenders[name] = casts[:3]
    assert not offenders, f"fractional decimal->double casts: {offenders}"
