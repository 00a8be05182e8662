"""Incremental vault materialization: dbt-incremental parity for the
hub/link/satellite layer (SURVEY.md §7 step 5).

The virtual DAG (plans/market.py) recomputes models from the full raw
tables on every access — correct, but at 100 TB the vault layer must be
MATERIALIZED and maintained by appends, exactly like the reference's
incremental models:

- hubs/links: append business keys not yet in the target
  (`hk NOT IN (SELECT hk FROM {{ this }})` → left_anti; reference
  hub_asset.sql:40-43, link_*.sql:73-76)
- satellites: append only versions whose (key, hashdiff) pair is new
  (`NOT EXISTS … t.hk = r.hk AND t.hashdiff = r.hashdiff`; reference
  sat_customer_profile.sql:67-74)

Each run reads only raw rows past the target's high-water mark (P2), so
per-run cost is proportional to NEW data. Marts/semantic stay virtual over
the materialized vault (the reference materializes marts as views too,
dbt_project.yml:30-42).

Restart safety: every append is a keyed anti-join — re-running a batch
appends zero rows.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.incremental import high_water_mark, idempotent_append
from .operators.manifest import replace_file
from .plans.market import registry as market_registry
from .flows import load_raw_tables

#: materialized vault tables → their incremental append key columns
VAULT_KEYS: dict[str, tuple[str, ...]] = {
    "hub_customer": ("hk_customer",),
    "hub_company": ("hk_company",),
    "hub_asset": ("hk_asset",),
    "hub_transaction": ("hk_transaction",),
    # hk_news now hashes the full (url, ticker, asset_type) grain
    # (plans/market.py hub_news), so the key alone is the append grain
    "hub_news": ("hk_news",),
    "link_customer_company": ("lk_customer_company",),
    "link_customer_transaction": ("lk_customer_transaction",),
    "link_transaction_asset": ("lk_transaction_asset",),
    "link_news_asset": ("lk_news_asset",),
    "link_company_transaction": ("lk_company_transaction",),
    # satellites version on (key, hashdiff) — a re-delivered unchanged
    # attribute row is NOT a new version (J5 hashdiff NOT EXISTS)
    "sat_customer_profile": ("hk_customer", "hashdiff"),
    "sat_company_profile": ("hk_company", "hashdiff"),
    "sat_transaction_detail": ("hk_transaction",),
    "sat_asset_price_crypto": ("hk_asset", "price_source", "observed_at"),
    "sat_asset_price_stock": ("hk_asset", "price_date", "observed_at"),
    "sat_news_detail": ("hk_news",),
}


@dataclass
class VaultMaterializer:
    """Maintains the vault layer as parquet under ``vault_dir``, fed from the
    raw tables under ``warehouse_dir``."""

    warehouse_dir: str
    vault_dir: str

    def _path(self, model: str) -> str:
        return os.path.join(self.vault_dir, model)

    # -- processed-through markers -----------------------------------------
    # A model whose raw feed legitimately never produces rows has a
    # permanently-empty target and therefore no data HWM; deriving cutoffs
    # only from target data would disable the slice on every run forever
    # (correct via the anti-join, but unbounded reprocessing cost). The
    # marker records, per model, the raw load_timestamp frontier each run
    # has fully processed — it advances even when zero rows append.

    def _markers_path(self) -> str:
        return os.path.join(self.vault_dir, "_processed_through.json")

    def _load_markers(self) -> dict[str, datetime]:
        try:
            with open(self._markers_path()) as f:
                return {k: datetime.fromisoformat(v) for k, v in json.load(f).items()}
        except (OSError, ValueError):
            return {}

    def _save_markers(self, markers: dict[str, datetime]) -> None:
        os.makedirs(self.vault_dir, exist_ok=True)
        replace_file(
            self._markers_path(),
            json.dumps({k: v.isoformat() for k, v in markers.items()}),
        )

    def run_increment(self, spark: SparkSession) -> dict[str, int]:
        """One incremental run: HWM-filter the raw tables, rebuild the vault
        models over just the fresh slice, anti-join append into the
        materialized targets. Returns rows appended per model.

        Cross-slice correctness note: hubs/links dedup within the fresh
        slice, and the anti-join enforces uniqueness against history — a key
        seen in an earlier run never re-appends (same guarantee as the
        reference's incremental guards)."""
        raw = load_raw_tables(spark, self.warehouse_dir)

        # one global cutoff across targets keeps the raw slice consistent
        # for models reading several raw tables (min over per-model
        # cutoffs). Per-model cutoff = the persisted processed-through
        # marker when present, else the target's data HWM (back-compat with
        # pre-marker state). A model with NEITHER (first run, a model added
        # later, or a crash before its first append) forces a FULL slice:
        # min over only the stateful models would filter raw to their fresh
        # window and permanently skip all earlier history for the stateless
        # model — the anti-join protects re-appends, not never-appended
        # data. Unlike the data HWM, the marker also advances for models
        # whose feed produces no rows, so an empty satellite stops forcing
        # full-history reprocessing after its first marked run.
        # a partially-populated warehouse (a feed that hasn't landed yet)
        # builds what it can instead of failing the whole run — when the
        # feed appears later, its models have no marker/HWM and force the
        # full-slice backfill below
        buildable = set(market_registry.buildable(raw))
        targets = [m for m in VAULT_KEYS if m in buildable]

        markers = self._load_markers()
        cutoffs = {
            model: markers.get(model)
            or high_water_mark(spark, self._path(model), "load_timestamp")
            for model in targets
        }
        if cutoffs and all(c is not None for c in cutoffs.values()):
            cutoff = min(cutoffs.values())
            raw = {name: df.filter(F.col("load_timestamp") > F.lit(cutoff)) for name, df in raw.items()}

        ctx = market_registry.run(raw, select=targets)
        appended: dict[str, int] = {}
        for model in targets:
            appended[model] = idempotent_append(
                spark, ctx[model], self._path(model), VAULT_KEYS[model]
            )

        # advance every model's marker to the raw frontier this run saw —
        # one max() per raw table (parquet footer stats, near-free)
        frontier = None
        for df in raw.values():
            row = df.agg(F.max("load_timestamp").alias("m")).first()
            if row["m"] is not None and (frontier is None or row["m"] > frontier):
                frontier = row["m"]
        if frontier is not None:
            for model in targets:  # only models this run actually built
                prev = markers.get(model)
                markers[model] = max(prev, frontier) if prev else frontier
            self._save_markers(markers)
        return appended

    def compact(
        self,
        spark: SparkSession,
        target_bytes: int = 128 * 1024 * 1024,
        min_files: int = 8,
    ) -> dict[str, dict]:
        """Periodic maintenance pass: every incremental tick appends one
        file set per model, so a vault that runs for weeks fragments into
        thousands of tiny files. Rewrites each materialized model that has
        accumulated ≥ ``min_files`` files into ~``target_bytes`` files via
        the atomic staging swap (operators/maintenance.compact_table) —
        run it on a slow cadence (e.g. daily), not per tick. Returns the
        per-model compaction stats."""
        from .operators.maintenance import compact_table, table_stats

        out: dict[str, dict] = {}
        for model in VAULT_KEYS:
            path = self._path(model)
            if not os.path.exists(path):
                continue
            if table_stats(path)["n_files"] < min_files:
                continue
            out[model] = compact_table(spark, path, target_bytes=target_bytes)
        return out

    def vault_tables(self, spark: SparkSession) -> dict[str, DataFrame]:
        out = {}
        for model in VAULT_KEYS:
            path = self._path(model)
            if os.path.exists(path):
                out[model] = spark.read.parquet(path)
        return out

    def marts(self, spark: SparkSession) -> dict[str, DataFrame]:
        """Virtual marts/semantic views over the MATERIALIZED vault — the
        downstream DAG reads parquet instead of recomputing hubs."""
        return market_registry.run(
            self.vault_tables(spark), tags=["mart", "semantic"], skip_existing=True
        )
