"""CLI — the engine's `dbt build` / Prefect-flow equivalent.

The reference drives its pipeline with Prefect deployments + `dbt build
--selector …` (reference prefect.yaml:11-40, a1_6_dbt_build.py:50-90,
b1_1_trino_incremental_dbt.py:87-113). This module is the single-binary
version of that surface:

    python -m stock_crypto_data_pipeline_public_spark generate --landing /tmp/landing
    python -m stock_crypto_data_pipeline_public_spark build --landing /tmp/landing \
        --warehouse /tmp/wh --select fct_transactions+ --test
    python -m stock_crypto_data_pipeline_public_spark models
    python -m stock_crypto_data_pipeline_public_spark test --warehouse /tmp/wh
    python -m stock_crypto_data_pipeline_public_spark incremental --warehouse /tmp/wh \
        --vault /tmp/vault --compact
    python -m stock_crypto_data_pipeline_public_spark compact --path /tmp/wh/raw_customers

`generate` writes timestamped landing CSVs (the faker batch, reference
a1_1); `build` ingests the landing zone into typed raw Parquet tables and
runs the tag/name-selected vault→mart DAG (writing selected marts to
parquet with --write); `test` runs the ported dbt quality suite; `models`
lists the registry with tags and deps (dbt ls).
"""

from __future__ import annotations

import argparse
import sys
from datetime import datetime, timezone

from pyspark.sql import SparkSession


def _spark(cpus: int) -> SparkSession:
    from .session import get_spark

    return get_spark("scdp-cli", cpus=cpus, shuffle_partitions=cpus)


def cmd_generate(args, spark: SparkSession) -> int:
    from .flows import BatchFlow
    from .sources.faker import MarketDataFaker

    raw = MarketDataFaker(
        seed=args.seed,
        n_corporates=args.corporates,
        n_customers=args.customers,
        n_transactions=args.transactions,
    ).generate(spark)
    flow = BatchFlow(landing_dir=args.landing, warehouse_dir="")
    run_ts = (
        datetime.strptime(args.run_ts, "%Y%m%d_%H%M%S")
        if args.run_ts
        else datetime.now(timezone.utc)
    )
    flow.land(raw, run_ts)
    for name, df in raw.items():
        print(f"landed {name}: {df.count()} rows")
    return 0


def cmd_build(args, spark: SparkSession) -> int:
    from .flows import BatchFlow

    flow = BatchFlow(landing_dir=args.landing or "", warehouse_dir=args.warehouse)
    if args.landing:
        appended = flow.ingest_raw(spark)
        for name, n in sorted(appended.items()):
            print(f"ingested {name}: +{n} rows")
    select = args.select or None
    tags = args.tags or None
    ctx = flow.transform(spark, select=select, tags=tags, persist=bool(args.test))
    built = [m for m in ctx if not m.startswith("raw_")]
    print(f"built {len(built)} models: {', '.join(sorted(built))}")
    if args.write:
        import os

        from .plans.market import registry

        # an ephemeral model is inlined into its consumers, never materialized
        for name in sorted(set(built) - registry.tagged("ephemeral")):
            out = os.path.join(args.write, name)
            ctx[name].write.mode("overwrite").parquet(out)
            print(f"wrote {name} -> {out}")
    if args.test:
        failures = _run_quality(ctx)
        return 1 if failures else 0
    return 0


def cmd_test(args, spark: SparkSession) -> int:
    from .flows import transform_warehouse

    ctx = transform_warehouse(spark, args.warehouse, persist=True)
    return 1 if _run_quality(ctx) else 0


def _run_quality(ctx) -> list[str]:
    from .quality import run_market_quality_suite

    results = run_market_quality_suite(ctx)
    failures = [name for name, n in results.items() if n > 0]
    for name, n in sorted(results.items()):
        print(f"{'FAIL' if n else 'pass'}  {name}" + (f"  ({n} bad rows)" if n else ""))
    print(f"{len(results) - len(failures)}/{len(results)} quality checks passed")
    return failures


def cmd_incremental(args, spark: SparkSession) -> int:
    """One tick of the reference's 5-minute incremental flow (reference
    prefect.yaml:39-40): HWM-sliced vault append + optional maintenance."""
    from .vault_incremental import VaultMaterializer

    vm = VaultMaterializer(warehouse_dir=args.warehouse, vault_dir=args.vault)
    appended = vm.run_increment(spark)
    for name, n in sorted(appended.items()):
        print(f"appended {name}: +{n} rows")
    print(f"incremental run complete: {sum(appended.values())} rows across {len(appended)} models")
    if args.compact:
        stats = vm.compact(spark, min_files=args.min_files)
        for name, s in sorted(stats.items()):
            print(f"compacted {name}: {s['n_files_before']} -> {s['n_files_after']} files")
        if not stats:
            print("compaction: nothing fragmented enough (all models under --min-files)")
    return 0


def cmd_compact(args, spark: SparkSession) -> int:
    from .operators.maintenance import compact_partitioned_table, compact_table

    if getattr(args, "per_partition", False):
        stats = compact_partitioned_table(
            spark,
            args.path,
            target_bytes=args.target_bytes,
            sort_cols=args.sort_cols or None,
        )
        print(
            f"compacted {args.path}: {stats['n_files_before']} -> "
            f"{stats['n_files_after']} files across "
            f"{stats['n_partitions']} partitions"
        )
        return 0
    stats = compact_table(
        spark,
        args.path,
        target_bytes=args.target_bytes,
        sort_cols=args.sort_cols or None,
    )
    print(
        f"compacted {args.path}: {stats['n_files_before']} -> "
        f"{stats['n_files_after']} files ({stats['bytes']} bytes)"
    )
    return 0


def cmd_zorder(args, spark: SparkSession) -> int:
    """Rewrite a parquet table z-order-clustered on the given columns
    (Delta OPTIMIZE ZORDER parity) — atomic via the same staging swap
    compaction uses, with the same partitioned-root guard."""
    from .operators.maintenance import zorder_table

    stats = zorder_table(spark, args.path, args.by, n_partitions=args.files)
    print(
        f"z-ordered {args.path} on ({', '.join(args.by)}): "
        f"{stats['n_files_before']} -> {stats['n_files_after']} files "
        f"({stats['bytes']} bytes)"
    )
    return 0


def cmd_delete(args, spark: SparkSession) -> int:
    """DELETE FROM a parquet/manifest table WHERE the given SQL predicate
    holds (maintenance.delete_where) — committed atomically like compact."""
    from .operators.maintenance import delete_where

    if not args.where.strip():
        print("delete: --where must be a non-empty SQL predicate", file=sys.stderr)
        return 2
    stats = delete_where(spark, args.path, args.where)
    print(
        f"deleted {stats['n_deleted']} of {stats['n_before']} rows from "
        f"{args.path} ({stats['n_after']} remain)"
    )
    return 0


def cmd_vacuum(args, spark: SparkSession | None = None) -> int:
    """Tighten manifest-table retention without a commit (Delta VACUUM)."""
    from .operators.manifest import vacuum

    stats = vacuum(args.path, keep_history=args.keep)
    print(
        f"vacuumed {args.path}: removed {len(stats['removed'])} "
        f"generation(s), retained {', '.join(stats['retained'])}"
    )
    return 0


def cmd_lifecycle(args, spark: SparkSession) -> int:
    """One-shot health check of the whole manifest commit protocol: chain
    write → MERGE → compact → zorder → DELETE → VACUUM on a scratch
    manifest table, asserting reader-visible state after EVERY step and a
    full-content equivalence at the end. Exit 0 = every step visible and
    correct; exit 1 lists the failing steps — the ops smoke to run after
    any storage/commit-protocol change or before a deploy."""
    import shutil
    import tempfile

    from .operators import manifest as MF
    from .operators.incremental import merge_upsert
    from .operators.maintenance import compact_table, delete_where, zorder_table

    path = args.path or tempfile.mkdtemp(prefix="lifecycle_")
    owns_tmp = args.path is None
    failures: list[str] = []

    def check(step: str, ok: bool, detail: str) -> None:
        print(f"[{step:8s}] {'ok  ' if ok else 'FAIL'} {detail}")
        if not ok:
            failures.append(step)

    try:
        # 1. seed write (generation 0)
        seed = spark.range(100).selectExpr(
            "id AS k", "cast(id % 7 as double) AS v", "CAST(1 AS BIGINT) AS ver"
        )
        merge_upsert(spark, seed, path, ["k"], "ver")
        n = MF.read_table(spark, path).count()
        check("write", n == 100, f"seeded rows={n} (want 100)")

        # 2. MERGE: 20 updates (k<20 -> v=99, ver=2) + 10 inserts (k 100..109)
        upd = spark.range(20).selectExpr(
            "id AS k", "cast(99 as double) AS v", "CAST(2 AS BIGINT) AS ver"
        )
        ins = spark.range(100, 110).selectExpr(
            "id AS k", "cast(5 as double) AS v", "CAST(1 AS BIGINT) AS ver"
        )
        merge_upsert(spark, upd.unionByName(ins), path, ["k"], "ver")
        df = MF.read_table(spark, path)
        n, n_upd = df.count(), df.filter("v = 99.0").count()
        check("merge", n == 110 and n_upd == 20, f"rows={n} updated={n_upd} (want 110/20)")

        # 3. compact — content must be untouched
        st = compact_table(spark, path, target_bytes=64 * 1024 * 1024)
        n = MF.read_table(spark, path).count()
        check(
            "compact",
            n == 110,
            f"rows={n} files {st['n_files_before']}->{st['n_files_after']}",
        )

        # 4. zorder on the key — content must be untouched
        st = zorder_table(spark, path, ["k"], n_partitions=2)
        n = MF.read_table(spark, path).count()
        check(
            "zorder",
            n == 110,
            f"rows={n} files {st['n_files_before']}->{st['n_files_after']}",
        )

        # 5. DELETE k % 10 = 9 → 11 rows (9, 19, …, 109)
        st = delete_where(spark, path, "k % 10 = 9")
        n = MF.read_table(spark, path).count()
        check(
            "delete",
            st["n_deleted"] == 11 and n == 99,
            f"deleted={st['n_deleted']} rows={n} (want 11/99)",
        )

        # 6. VACUUM to retention 0 (commit-time GC already holds 1
        # predecessor, so this removes exactly it — the post-erasure
        # tighten that makes the pre-delete audit generation stop existing)
        before = sum(e["retained"] for e in MF.history(path))
        rep = MF.vacuum(path, keep_history=0)
        df = MF.read_table(spark, path)
        # full-content equivalence vs the independently computed expectation
        expected = (
            seed.filter("k >= 20")
            .unionByName(upd)
            .unionByName(ins)
            .filter("k % 10 <> 9")
        )
        sym_diff = df.exceptAll(expected).count() + expected.exceptAll(df).count()
        check(
            "vacuum",
            len(rep["removed"]) == before - 1 and sym_diff == 0,
            f"removed={len(rep['removed'])} of {before} gens, content_diff={sym_diff}",
        )
        for e in MF.history(path):
            flag = "retained" if e["retained"] else "vacuumed"
            print(f"  generation {e['generation']:6d}  {flag}")
    finally:
        if owns_tmp:
            shutil.rmtree(path, ignore_errors=True)

    if failures:
        print(f"lifecycle: FAILED steps: {', '.join(failures)}", file=sys.stderr)
        return 1
    print("lifecycle: all 6 steps reader-visible and content-exact")
    return 0


def cmd_drift(args, spark: SparkSession) -> int:
    """Measured retrain trigger for a persisted ANN index: assign the given
    batch against the sidecar centroids and compare its mean assignment
    similarity with the build-time baseline (annindex.diagnose_drift)."""
    from .operators.annindex import diagnose_drift

    rep = diagnose_drift(
        spark,
        spark.read.parquet(args.batch),
        args.index_dir,
        args.dim,
        id_col=args.id_col,
        vec_col=args.vec_col,
    )
    verdict = "REBUILD RECOMMENDED" if rep["recommend_rebuild"] else "in distribution"
    bm = rep["batch_mean_sim"]
    print(
        f"drift: n={rep['n']} batch_mean_sim="
        f"{bm if bm is None else round(bm, 4)} "
        f"build_center_sim={round(rep['build_center_sim'], 4)} "
        f"rel_drop={round(rep['rel_drop'], 4)} -> {verdict}"
    )
    return 0


def cmd_psi(args, spark: SparkSession) -> int:
    """Distribution-drift alert (operators/drift.py): PSI between two
    tables — or two SQL-predicate slices of one table — over a numeric
    column with caller-fixed bin edges. Exit 0 below --threshold, exit 2
    at/above it (the conventional >=0.2 "shifted" alert level), so a
    scheduler can gate a retrain/backfill on the return code."""
    import json as _json

    from .operators.drift import psi

    a = spark.read.parquet(args.a)
    b = spark.read.parquet(args.b) if args.b else spark.read.parquet(args.a)
    if args.where_a:
        a = a.filter(args.where_a)
    if args.where_b:
        b = b.filter(args.where_b)
    if args.b is None and not (args.where_a or args.where_b):
        print("psi: with a single --a table, give --where-a/--where-b slices")
        return 1
    edges = [float(x) for x in args.edges.split(",")]
    if edges != sorted(edges):
        print("psi: --edges must be ascending")
        return 1
    rep = psi(a, b, args.col, edges)
    rep["threshold"] = args.threshold
    rep["shifted"] = rep["psi"] >= args.threshold
    print(_json.dumps(rep))
    return 2 if rep["shifted"] else 0


def cmd_history(args, spark: SparkSession | None = None) -> int:
    """Commit history of a manifest table (operators/manifest.py): one line
    per commit, newest first, flagged retained/vacuumed — retained
    generations are readable via read_table(path, generation=N)."""
    from .operators.manifest import history, is_manifest_table

    if not is_manifest_table(args.path):
        print(f"{args.path}: not a manifest table (no _current pointer)")
        return 1
    entries = history(args.path)
    for e in entries:
        flag = "retained" if e["retained"] else "vacuumed"
        print(f"generation {e['generation']:6d}  {flag}")
    print(f"{len(entries)} commits, {sum(e['retained'] for e in entries)} retained")
    return 0


def cmd_profile(args, spark: SparkSession) -> int:
    """One-pass column profile of a parquet table (rows, nulls, approx
    distinct, min/max) — the quality snapshot to diff across loads."""
    from .quality import profile_table

    for r in profile_table(spark.read.parquet(args.path)).collect():
        print(
            f"{r['column']:28s} rows={r['n_rows']} nulls={r['n_nulls']} "
            f"~distinct={r['approx_distinct']} min={r['min_str']} max={r['max_str']}"
        )
    return 0


def cmd_media_features(args, spark: SparkSession) -> int:
    """Decode a parquet media table (doc_id, media, media_type, ...)
    through the REAL codecs (operators/multimodal.decode_features) and
    write the narrow feature table — the batch form of the streaming
    media sink. ``--fake`` substitutes digest pseudo-features for types
    without a real decoder instead of failing the job."""
    from .operators.multimodal import decode_features

    media = spark.read.parquet(args.path)
    feats = decode_features(media, fake=args.fake)
    feats.write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    print(f"wrote {n} feature rows -> {args.out}")
    return 0


def cmd_shuffle_manifest(args, spark: SparkSession) -> int:
    """Build or grow a seeded shuffle-shard manifest (training-order
    coordinates). Without --manifest: full build. With --manifest: append
    the new docs after each shard's current maximum position — existing
    coordinates are byte-stable and replayed batches are no-ops
    (operators/sharding.extend_shuffle_manifest). Output is written
    partitioned by shard, so a trainer reads shard s with one directory
    scan in pos order."""
    from .operators.sharding import build_shuffle_manifest, extend_shuffle_manifest

    import os

    docs = spark.read.parquet(args.docs).select(args.id_col).withColumnRenamed(
        args.id_col, "doc_id"
    )
    if args.manifest:
        # reading the base lazily while overwriting the same directory
        # would corrupt it mid-plan — growth must land in a new location
        # (or use operators/sharding.append_to_manifest for in-place)
        if os.path.realpath(args.manifest) == os.path.realpath(args.out):
            print("error: --out must differ from --manifest (use a new dir)")
            return 1
        base = spark.read.parquet(args.manifest)
        out_df = extend_shuffle_manifest(
            base, docs, seed=args.seed, n_shards=args.shards
        )
    else:
        out_df = build_shuffle_manifest(docs, seed=args.seed, n_shards=args.shards)
    out_df.write.mode("overwrite").partitionBy("shard").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    print(f"wrote manifest of {n} docs across {args.shards} shards -> {args.out}")
    return 0


def cmd_models(args, spark: SparkSession | None = None) -> int:
    """dbt ls; with --write-manifest / --modified-since it is the CI
    selection flow (reference dbt-ci.yml:106-133, `-s state:modified+`):
    a PR job writes the manifest on main, later runs list only the models
    whose definition drifted (plus descendants) and build exactly those."""
    import json

    from .plans.market import registry

    if getattr(args, "modified_since", None):
        with open(args.modified_since) as f:
            old = json.load(f)
        for name in registry.state_modified(old, plus=not args.no_plus):
            print(name)
        return 0
    if getattr(args, "write_manifest", None):
        with open(args.write_manifest, "w") as f:
            json.dump(registry.manifest(), f, indent=0, sort_keys=True)
        print(f"wrote manifest for {len(registry.models())} models")
        return 0
    for name in sorted(registry.models()):
        deps = ", ".join(registry._deps[name]) or "-"
        tags = ",".join(sorted(registry._tags[name])) or "-"
        print(f"{name:32s} [{tags}]  <- {deps}")
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="stock_crypto_data_pipeline_public_spark")
    p.add_argument("--cpus", type=int, default=8)
    sub = p.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("generate", help="faker batch -> timestamped landing CSVs")
    g.add_argument("--landing", required=True)
    g.add_argument("--seed", type=int, default=42)
    g.add_argument("--corporates", type=int, default=20)
    g.add_argument("--customers", type=int, default=100)
    g.add_argument("--transactions", type=int, default=500)
    g.add_argument("--run-ts", default=None, help="YYYYMMDD_HHMMSS (default: now)")

    b = sub.add_parser("build", help="ingest landing zone + run the model DAG")
    b.add_argument("--warehouse", required=True)
    b.add_argument("--landing", default=None)
    b.add_argument("--select", nargs="*", help="model names, dbt-style `name+` for descendants")
    b.add_argument("--tags", nargs="*", help="tag selection (hub/link/sat/mart/semantic)")
    b.add_argument("--write", default=None, help="write built models to this parquet dir")
    b.add_argument("--test", action="store_true", help="run the quality suite after building")

    t = sub.add_parser("test", help="run the quality suite over a built warehouse")
    t.add_argument("--warehouse", required=True)

    i = sub.add_parser("incremental", help="one tick of the incremental vault flow")
    i.add_argument("--warehouse", required=True)
    i.add_argument("--vault", required=True)
    i.add_argument("--compact", action="store_true", help="run the maintenance pass after appending")
    i.add_argument("--min-files", type=int, default=8, help="compact only models with at least this many files")

    c = sub.add_parser("compact", help="small-file compaction of one parquet table/partition dir")
    c.add_argument("--path", required=True)
    c.add_argument("--target-bytes", type=int, default=128 * 1024 * 1024)
    c.add_argument("--sort-cols", nargs="*", help="also range-sort by these columns (skip-friendly layout)")
    c.add_argument(
        "--per-partition",
        action="store_true",
        help="compact each key=value partition dir of a hive root in place "
        "(the shard-manifest / date-partitioned append-log layouts)",
    )

    z = sub.add_parser("zorder", help="z-order-cluster a parquet table (OPTIMIZE ZORDER)")
    z.add_argument("--path", required=True)
    z.add_argument("--by", nargs="+", required=True, help="columns to cluster on")
    z.add_argument("--files", type=int, default=32, help="output file count")

    va = sub.add_parser("vacuum", help="GC retained manifest generations beyond --keep (Delta VACUUM)")
    va.add_argument("--path", required=True)
    va.add_argument("--keep", type=int, default=1, help="committed predecessors to retain")

    de = sub.add_parser("delete", help="DELETE FROM a parquet/manifest table WHERE <sql predicate>")
    de.add_argument("--path", required=True)
    de.add_argument("--where", required=True, help="SQL predicate; TRUE rows are deleted (NULL kept)")

    pr = sub.add_parser("profile", help="one-pass column profile of a parquet table")
    pr.add_argument("--path", required=True)

    hi = sub.add_parser(
        "history", help="commit history of a manifest table (retained = readable)"
    )
    hi.add_argument("--path", required=True)

    ps = sub.add_parser(
        "psi",
        help="PSI distribution drift between two tables (or two --where "
        "slices of one); exit 2 at/above --threshold",
    )
    ps.add_argument("--a", required=True, help="baseline parquet table")
    ps.add_argument("--b", default=None, help="comparison parquet table (default: --a)")
    ps.add_argument("--col", required=True, help="numeric column")
    ps.add_argument("--edges", required=True,
                    help="ascending bin edges, comma-separated (fixed ruler)")
    ps.add_argument("--where-a", default=None, help="SQL predicate slicing side A")
    ps.add_argument("--where-b", default=None, help="SQL predicate slicing side B")
    ps.add_argument("--threshold", type=float, default=0.2,
                    help="alert level (exit 2 when psi >= threshold)")

    dr = sub.add_parser(
        "drift", help="ANN index drift check: does a batch still fit the geometry?"
    )
    dr.add_argument("--index-dir", required=True)
    dr.add_argument("--batch", required=True, help="parquet of candidate vectors")
    dr.add_argument("--dim", type=int, required=True)
    dr.add_argument("--id-col", default="vec_id")
    dr.add_argument("--vec-col", default="embedding")

    mf = sub.add_parser(
        "media-features",
        help="decode a parquet media table through the real codecs "
        "(WAV/PPM/BMP/PNG/GIF/JPEG/MP4) into a feature table",
    )
    mf.add_argument("--path", required=True, help="media parquet dir")
    mf.add_argument("--out", required=True, help="feature table output dir")
    mf.add_argument("--fake", action="store_true",
                    help="pseudo-features for types without a real decoder")

    sm = sub.add_parser(
        "shuffle-manifest",
        help="build or append-grow a seeded shuffle-shard manifest "
        "(reproducible training order; existing coordinates never move)",
    )
    sm.add_argument("--docs", required=True, help="parquet with the id column")
    sm.add_argument("--out", required=True, help="manifest output dir (partitioned by shard)")
    sm.add_argument("--manifest", default=None,
                    help="existing manifest to grow (omit for a full build)")
    sm.add_argument("--id-col", default="doc_id")
    sm.add_argument("--seed", default="shuffle:42:")
    sm.add_argument("--shards", type=int, default=8)

    lc = sub.add_parser(
        "lifecycle",
        help="E2E smoke of the manifest commit protocol: "
        "write->merge->compact->zorder->delete->vacuum with per-step "
        "reader-visibility assertions (exit 1 on any violation)",
    )
    lc.add_argument("--path", default=None,
                    help="table directory (default: a scratch tmp dir, removed after)")

    m = sub.add_parser("models", help="list registered models (dbt ls)")
    m.add_argument("--write-manifest", default=None,
                   help="write the model-definition fingerprint manifest (JSON)")
    m.add_argument("--modified-since", default=None,
                   help="list models changed vs this manifest (state:modified+)")
    m.add_argument("--no-plus", action="store_true",
                   help="with --modified-since: changed models only, no descendants")

    args = p.parse_args(argv)
    if args.cmd == "models":
        return cmd_models(args)
    if args.cmd == "history":  # pure filesystem — no Spark session needed
        return cmd_history(args)
    if args.cmd == "vacuum":  # pure filesystem — no Spark session needed
        return cmd_vacuum(args)
    spark = _spark(args.cpus)
    return {
        "generate": cmd_generate,
        "build": cmd_build,
        "test": cmd_test,
        "incremental": cmd_incremental,
        "compact": cmd_compact,
        "zorder": cmd_zorder,
        "delete": cmd_delete,
        "profile": cmd_profile,
        "drift": cmd_drift,
        "psi": cmd_psi,
        "media-features": cmd_media_features,
        "shuffle-manifest": cmd_shuffle_manifest,
        "lifecycle": cmd_lifecycle,
    }[args.cmd](args, spark)


if __name__ == "__main__":
    sys.exit(main())
