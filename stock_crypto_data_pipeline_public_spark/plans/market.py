"""The market-data domain pipeline: Raw → Data Vault 2.0 → Marts → Semantic.

A faithful Spark re-expression of the reference's full dbt DAG (reference
README.md:72-131, dbt_project.yml:25-42) over the schemas in schemas.py.
Every model cites the dbt model whose semantics it reproduces; tags mirror
the reference's selector tags (selectors.yml:1-28).

This module is the "switch from the reference" surface: feed it the nine raw
tables (batch loaders or the streaming sink produce them) and it yields every
hub/link/sat/dim/fact/semantic model the reference builds. The driver-gate
queries in the other plan modules prove the operator semantics against a SQL
oracle; tests/test_market_pipeline.py runs THIS dag end-to-end on the
deterministic fixtures and applies the ported data-quality suite.

The vault layer has one rule, kept in shared helpers: ``first_load`` is the
DV2 first-load dedup (reference W1), and the only place its order is written; ``hub``
and ``link`` build every hub and link over it; ``profile_sat`` builds the
hashdiff-versioned profile satellites; ``_provenance`` emits
``record_source`` and ``load_timestamp``. A model declares only its business
keys and hub joins. Shared inputs are ephemeral models, inlined DataFrame
subexpressions that are never materialized, as in dbt:
``ephemeral_transactions`` (the personal ∪ corporate feed), ``ephemeral_news``
(the case-normalized news feed) and ``ephemeral_asset``.

Scale notes: hubs/dims broadcast into facts; satellites and SCD2 use
partitioned windows keyed by the hashed business key (uniform, skew-free);
price facts would partition by price_date at write time; all unions are
unionByName (column-order safe).
"""

from __future__ import annotations

from functools import reduce
from operator import and_

from pyspark.sql import Column, DataFrame, functions as F

from ..dag import ModelRegistry
from ..functions.keys import hash_key, surrogate_key
from ..operators.scd import changes_only, latest_wins, scd2, top_k

registry = ModelRegistry()
model = registry.model

# =========================================================================
# Data Vault: shared builders
# =========================================================================
def first_load(df: DataFrame, *keys: str) -> DataFrame:
    """One row per ``keys``, in the DV2 first-load order (reference W1): the
    earliest load wins, and the record source breaks a same-instant tie."""
    return top_k(df, keys, [F.asc("load_timestamp"), F.asc("source")])


def _provenance(df: DataFrame) -> list[Column]:
    """``df``'s ``source`` as ``record_source``, then its ``load_timestamp``."""
    return [df.source.alias("record_source"), df.load_timestamp]


def hub(df: DataFrame, hk: str, bks: dict[str, str]) -> DataFrame:
    """A hub over ``df``'s first load per business key: ``hk`` (md5 over the
    keys), each key of ``bks`` under its hub name, then provenance.

    Every key is aliased, even under its own name, so that it is an
    attribute of the hub's own: two models built over one ephemeral frame
    otherwise share the key's attribute, and a link's ``pairs.k == hub.k``
    condition would name that one attribute on both sides."""
    first = first_load(df, *bks)
    return first.select(
        surrogate_key(*bks).alias(hk),
        *(F.col(k).alias(bk) for k, bk in bks.items()),
        *_provenance(first),
    )


def link(
    df: DataFrame, lk: str | Column, keys: list[str], hks: list[str], *hubs: tuple
) -> DataFrame:
    """A link over ``df``'s first load per ``keys`` (the pair), resolved
    against each ``(hub, on)`` or ``(hub, on, fold)`` in order: ``on`` maps a
    pair column to the hub's business-key column, ``fold`` (say ``F.upper``)
    is applied to the pair side. A dimension-sized hub comes wrapped in
    ``F.broadcast``. Emits ``lk`` (hash_key over the pair keys, or the
    given Column), the hub keys ``hks``, then provenance."""
    pairs = first_load(df, *keys)
    out = pairs
    for h, on, *fold in hubs:
        f = fold[0] if fold else (lambda c: c)
        out = out.join(h, reduce(and_, [f(pairs[p]) == h[b] for p, b in on.items()]))
    if isinstance(lk, str):
        lk = hash_key(*(pairs[k] for k in keys)).alias(lk)
    return out.select(lk, *hks, *_provenance(pairs))


def profile_sat(df: DataFrame, hk: str, key: str, attrs: list[str]) -> DataFrame:
    """An insert-only satellite of ``key``'s ``attrs``: a new version only
    when their hashdiff changes."""
    hashdiff = surrogate_key(*attrs)
    changed = changes_only(df, [key], hashdiff, "load_timestamp", "source")
    return changed.select(
        surrogate_key(key).alias(hk), hashdiff.alias("hashdiff"), *attrs, *_provenance(changed)
    )


# =========================================================================
# Data Vault: ephemeral models
# =========================================================================
@model(
    "ephemeral_transactions",
    deps=["raw_transaction_personal", "raw_transaction_corporate"],
    tags=["warehouse", "ephemeral"],
)
def ephemeral_transactions(ctx) -> DataFrame:
    """reference hub_transaction.sql:13-29, link_customer_transaction.sql:
    15-32 — the personal ∪ corporate transaction feed (U1)."""
    return ctx["raw_transaction_personal"].unionByName(ctx["raw_transaction_corporate"])


@model("ephemeral_news", deps=["raw_news"], tags=["warehouse", "ephemeral"])
def ephemeral_news(ctx) -> DataFrame:
    """reference ephemeral_news.sql — the news feed with ticker and
    asset_type case-normalized, so raw 'aapl'/'AAPL' variants of one story
    collapse in the (url, ticker, asset_type) first-load dedup instead of
    surviving with divergent keys. That dedup (ephemeral_news.sql:17-25)
    is left to the three news models, whose hub/link/first_load run it
    anyway: done here too, hub_news and link_news_asset would run it twice."""
    return ctx["raw_news"].withColumn("ticker", F.upper("ticker")).withColumn(
        "asset_type", F.upper("asset_type")
    )


@model(
    "ephemeral_asset",
    deps=[
        "raw_cryptoprices_binance",
        "raw_cryptoprices_coingecko",
        "raw_cryptoprices_yfinance",
        "raw_stockprices_yfinance",
        "ephemeral_transactions",
    ],
    tags=["warehouse", "ephemeral"],
)
def ephemeral_asset(ctx) -> DataFrame:
    """reference models/warehouse/ephemeral/ephemeral_asset.sql:14-65 —
    6-way union of every asset sighting (3 crypto feeds, stock feed, both
    transaction tables), case-normalized, distinct."""
    def sightings(name, symbol, asset_type):
        df = ctx[name]
        return df.select(
            symbol.alias("asset_symbol"), asset_type.alias("asset_type"), *_provenance(df)
        )

    crypto = F.upper(F.split(F.col("symbol"), "-").getItem(0))
    return reduce(
        DataFrame.unionByName,
        [
            *(
                sightings(f"raw_cryptoprices_{feed}", crypto, F.lit("CRYPTO"))
                for feed in ("binance", "coingecko", "yfinance")
            ),
            sightings("raw_stockprices_yfinance", F.upper("ticker"), F.lit("STOCK")),
            sightings("ephemeral_transactions", F.upper("asset_symbol"), F.upper("asset_type")),
        ],
    )


# =========================================================================
# Data Vault: hubs
# =========================================================================
@model("hub_customer", deps=["raw_customers"], tags=["warehouse", "hub"])
def hub_customer(ctx) -> DataFrame:
    """reference models/warehouse/hubs/hub_customer.sql:6-36 — unique
    customer business keys, first-load wins, md5 surrogate key."""
    return hub(ctx["raw_customers"], "hk_customer", {"customer_id": "customer_bk"})


@model("hub_company", deps=["raw_corporates"], tags=["warehouse", "hub"])
def hub_company(ctx) -> DataFrame:
    """reference hub_company.sql:1-37."""
    return hub(ctx["raw_corporates"], "hk_company", {"company_id": "company_bk"})


@model("hub_asset", deps=["ephemeral_asset"], tags=["warehouse", "hub"])
def hub_asset(ctx) -> DataFrame:
    """reference hub_asset.sql:9-44 — one row per (symbol, type)."""
    # ephemeral_asset already names its feed column record_source; hub()
    # orders and emits the feed's own source
    return hub(
        ctx["ephemeral_asset"].withColumnRenamed("record_source", "source"),
        "hk_asset",
        {"asset_symbol": "asset_symbol", "asset_type": "asset_type"},
    )


@model("hub_transaction", deps=["ephemeral_transactions"], tags=["warehouse", "hub"])
def hub_transaction(ctx) -> DataFrame:
    """reference hub_transaction.sql:9-60 — union of both feeds, dedup."""
    return hub(
        ctx["ephemeral_transactions"], "hk_transaction", {"transaction_id": "transaction_bk"}
    )


@model("hub_news", deps=["ephemeral_news"], tags=["warehouse", "hub"])
def hub_news(ctx) -> DataFrame:
    """reference hub_news.sql:5-36; dedup grain (url, ticker, asset_type)
    keep earliest load (ephemeral_news.sql:17-25).

    hk_news hashes the FULL grain (url, ticker, asset_type): a url-only hash
    would be shared by a story tagged for several assets, and every
    downstream hk_news join (link_news_asset, sat_news_detail,
    fct_news_events) would fan out and mispair assets."""
    return hub(
        ctx["ephemeral_news"],
        "hk_news",
        {"url": "news_bk", "ticker": "asset_symbol", "asset_type": "asset_type"},
    )


# =========================================================================
# Data Vault: links
# =========================================================================
# hub_transaction and hub_news are never broadcast: both are fact-grain
# (transactions, the news corpus), and a forced broadcast OOMs at scale;
# their keys are uniform ids, so AQE picks broadcast when small and a
# sort-merge join when not.
@model(
    "link_customer_company",
    deps=["raw_customers", "hub_customer", "hub_company"],
    tags=["warehouse", "link"],
)
def link_customer_company(ctx) -> DataFrame:
    """reference link_customer_company.sql:23,35-39 — null company filtered,
    hubs joined (broadcast: hubs are small)."""
    return link(
        ctx["raw_customers"].filter(F.col("company_id").isNotNull()), "lk_customer_company",
        ["customer_id", "company_id"], ["hk_customer", "hk_company"],
        (F.broadcast(ctx["hub_customer"]), {"customer_id": "customer_bk"}),
        (F.broadcast(ctx["hub_company"]), {"company_id": "company_bk"}),
    )


@model(
    "link_customer_transaction",
    deps=["ephemeral_transactions", "hub_customer", "hub_transaction"],
    tags=["warehouse", "link"],
)
def link_customer_transaction(ctx) -> DataFrame:
    """reference link_customer_transaction.sql:15-47,63-79 — union feeds,
    resolve both hubs, dedup on the pair."""
    return link(
        ctx["ephemeral_transactions"], "lk_customer_transaction",
        ["transaction_id", "customer_id"], ["hk_transaction", "hk_customer"],
        (F.broadcast(ctx["hub_customer"]), {"customer_id": "customer_bk"}),
        (ctx["hub_transaction"], {"transaction_id": "transaction_bk"}),
    )


@model(
    "link_transaction_asset",
    deps=["ephemeral_transactions", "hub_asset", "hub_transaction"],
    tags=["warehouse", "link"],
)
def link_transaction_asset(ctx) -> DataFrame:
    """reference link_transaction_asset.sql:15-53 — compound-key join with
    case normalization (J2: upper(asset_type) = upper(hub.asset_type))."""
    return link(
        ctx["ephemeral_transactions"], "lk_transaction_asset",
        ["transaction_id", "asset_symbol", "asset_type"], ["hk_transaction", "hk_asset"],
        (
            F.broadcast(ctx["hub_asset"]),
            {"asset_symbol": "asset_symbol", "asset_type": "asset_type"},
            F.upper,
        ),
        (ctx["hub_transaction"], {"transaction_id": "transaction_bk"}),
    )


@model(
    "link_news_asset",
    deps=["ephemeral_news", "hub_news", "hub_asset"],
    tags=["warehouse", "link"],
)
def link_news_asset(ctx) -> DataFrame:
    """reference link_news_asset.sql:15-38 — the news hub joins on its FULL
    grain: url alone would match every hub row of a multi-asset story and
    fan the link out."""
    return link(
        ctx["ephemeral_news"], "lk_news_asset",
        ["url", "ticker", "asset_type"], ["hk_news", "hk_asset"],
        (
            ctx["hub_news"],
            {"url": "news_bk", "ticker": "asset_symbol", "asset_type": "asset_type"},
        ),
        (
            F.broadcast(ctx["hub_asset"]),
            {"ticker": "asset_symbol", "asset_type": "asset_type"},
        ),
    )


@model(
    "link_company_transaction",
    deps=["raw_transaction_corporate", "hub_company", "hub_transaction"],
    tags=["warehouse", "link"],
)
def link_company_transaction(ctx) -> DataFrame:
    """reference link_company_transaction.sql:17-39 — company↔transaction
    linkage derived from CORPORATE transactions only (only that feed carries
    company context: its customer_id IS the company id). Unlike the other
    links, the reference keys this one by md5 over the two resolved HUB keys
    (generate_surrogate_key(['company_hk','transaction_hk']),
    link_company_transaction.sql:43-46) rather than the business keys —
    reproduced here. Dedup keeps the first load per (company, transaction)
    pair (row_number ... order by load_timestamp asc, sql:56-59; source added
    as a deterministic tiebreak)."""
    return link(
        ctx["raw_transaction_corporate"].select(
            "transaction_id", F.col("customer_id").alias("company_id"), "load_timestamp", "source"
        ),
        surrogate_key("hk_company", "hk_transaction").alias("lk_company_transaction"),
        ["transaction_id", "company_id"], ["hk_company", "hk_transaction"],
        (F.broadcast(ctx["hub_company"]), {"company_id": "company_bk"}),
        (ctx["hub_transaction"], {"transaction_id": "transaction_bk"}),
    )


# =========================================================================
# Data Vault: satellites (insert-only, hashdiff change detection)
# =========================================================================
_CUSTOMER_ATTRS = [
    "first_name", "last_name", "email", "gender", "age_group", "country",
    "registration_date", "customer_tier", "risk_tolerance", "customer_type",
]


@model("sat_customer_profile", deps=["raw_customers"], tags=["warehouse", "sat"])
def sat_customer_profile(ctx) -> DataFrame:
    """reference sat_customer_profile.sql:8-13,48-74 — versioned customer
    attributes; new version only when the hashdiff changes."""
    return profile_sat(ctx["raw_customers"], "hk_customer", "customer_id", _CUSTOMER_ATTRS)


@model(
    "sat_transaction_detail",
    deps=["ephemeral_transactions"],
    tags=["warehouse", "sat"],
)
def sat_transaction_detail(ctx) -> DataFrame:
    """reference sat_transaction_personal/corp + union distinct
    (ephemeral_sat_transaction_full.sql:4-6)."""
    first = first_load(ctx["ephemeral_transactions"].distinct(), "transaction_id")
    return first.select(
        surrogate_key("transaction_id").alias("hk_transaction"),
        "transaction_type", "quantity", "price_per_unit", "transaction_amount", "fee_amount",
        "transaction_timestamp", "data_date",
        *_provenance(first),
    )


@model(
    "sat_asset_price_crypto",
    deps=[
        "raw_cryptoprices_binance",
        "raw_cryptoprices_coingecko",
        "raw_cryptoprices_yfinance",
        "hub_asset",
    ],
    tags=["warehouse", "sat"],
)
def sat_asset_price_crypto(ctx) -> DataFrame:
    """reference sat_asset_price_crypto.sql:15-102 — 3-way union of source
    feeds, joined to the asset hub; versioned on observed_at."""
    feeds = (
        ctx["raw_cryptoprices_binance"]
        .unionByName(ctx["raw_cryptoprices_coingecko"])
        .unionByName(ctx["raw_cryptoprices_yfinance"])
    )
    rows = feeds.select(
        F.upper(F.split("symbol", "-").getItem(0)).alias("asset_symbol"),
        F.lit("CRYPTO").alias("asset_type"),
        "price",
        "volume",
        F.upper("source").alias("price_source"),
        "observed_at",
        "load_timestamp",
        F.upper("symbol").alias("__raw_symbol"),
    )
    rows = top_k(
        rows,
        ["asset_symbol", "price_source", "observed_at"],
        # __raw_symbol tiebreak: BTC-EUR and BTC-USD at the same instant
        # both map to asset BTC; without a unique tiebreaker the winner is
        # nondeterministic per run (scd.py's own ordering contract)
        [F.asc("load_timestamp"), F.asc("__raw_symbol")],
    ).drop("__raw_symbol")
    return rows.select(
        surrogate_key("asset_symbol", "asset_type").alias("hk_asset"),
        "asset_symbol",
        "price",
        "volume",
        "price_source",
        "observed_at",
        "load_timestamp",
    )


@model(
    "sat_asset_price_stock",
    deps=["raw_stockprices_yfinance", "hub_asset"],
    tags=["warehouse", "sat"],
)
def sat_asset_price_stock(ctx) -> DataFrame:
    """reference sat_asset_price_stock (OHLCV satellite)."""
    raw = ctx["raw_stockprices_yfinance"]
    rows = top_k(raw, ["ticker", "date", "observed_at"], [F.asc("load_timestamp")])
    return rows.select(
        surrogate_key(F.upper("ticker"), F.lit("STOCK")).alias("hk_asset"),
        F.upper("ticker").alias("asset_symbol"),
        F.col("date").alias("price_date"),
        "open_price",
        "high_price",
        "low_price",
        "close_price",
        "volume",
        "week_52_high",
        "week_52_low",
        "market_cap",
        F.lit("YFINANCE").alias("price_source"),
        "observed_at",
        "load_timestamp",
    )


@model("sat_company_profile", deps=["raw_corporates"], tags=["warehouse", "sat"])
def sat_company_profile(ctx) -> DataFrame:
    return profile_sat(
        ctx["raw_corporates"],
        "hk_company",
        "company_id",
        [
            "company_name", "company_type", "company_email", "country",
            "year_founded", "tax_number", "office_primary_location", "registration_date",
        ],
    )


@model("sat_news_detail", deps=["ephemeral_news"], tags=["warehouse", "sat"])
def sat_news_detail(ctx) -> DataFrame:
    first = first_load(ctx["ephemeral_news"], "url", "ticker", "asset_type")
    return first.select(
        surrogate_key("url", "ticker", "asset_type").alias("hk_news"),
        "title", "description", "image", F.col("date").alias("published_at"),
        *_provenance(first),
    )


# =========================================================================
# Marts
# =========================================================================
@model(
    "dim_customer",
    deps=["hub_customer", "sat_customer_profile", "link_customer_company", "dim_company"],
    tags=["mart", "dim"],
)
def dim_customer(ctx) -> DataFrame:
    """reference dim_customer.sql:3-30 — current profile per customer,
    enriched with the linked company (company_hk/company_id/company_name)."""
    current = latest_wins(
        ctx["sat_customer_profile"], ["hk_customer"], "load_timestamp", "record_source"
    )
    # one company per customer: the link keeps FULL history of
    # (customer, company) pairs, so a customer who changed companies has
    # several link rows — joining them all would duplicate the dim row and
    # every downstream transaction join. Latest link wins.
    latest_link = latest_wins(
        ctx["link_customer_company"], ["hk_customer"], "load_timestamp", "hk_company"
    )
    company = (
        latest_link.select("hk_customer", "hk_company")
        .join(
            F.broadcast(ctx["dim_company"].select("hk_company", "company_bk", "company_name")),
            "hk_company",
        )
        .select("hk_customer", "hk_company", F.col("company_bk").alias("company_id"), "company_name")
    )
    return (
        ctx["hub_customer"]
        .join(current.drop("record_source", "load_timestamp"), "hk_customer")
        .join(F.broadcast(company), "hk_customer", "left")
        .select(
            "hk_customer",
            "customer_bk",
            "hk_company",
            "company_id",
            "company_name",
            *_CUSTOMER_ATTRS,
        )
    )


@model(
    "dim_customer_history",
    deps=["hub_customer", "sat_customer_profile"],
    tags=["mart", "dim"],
)
def dim_customer_history(ctx) -> DataFrame:
    """reference dim_customer_history.sql:3-77 — SCD Type 2 over satellite
    versions: effective_from/to via lead(), '9999-12-31' open end."""
    hist = scd2(ctx["sat_customer_profile"], ["hk_customer"], "load_timestamp", "hashdiff")
    return hist.select(
        "hk_customer",
        "customer_tier",
        "risk_tolerance",
        "email",
        "country",
        "effective_from",
        "effective_to",
        "is_current",
    )


@model(
    "dim_asset",
    deps=["hub_asset", "sat_asset_price_crypto", "sat_asset_price_stock"],
    tags=["mart", "dim"],
)
def dim_asset(ctx) -> DataFrame:
    """reference dim_asset.sql:6-105 — hub enriched with the latest observed
    price from either satellite (latest-record-wins, left join). Feeds that
    observe one asset at one instant and load together tie: the lowest
    ``price_source`` wins."""
    crypto = ctx["sat_asset_price_crypto"].select(
        "hk_asset", "price", "price_source", "observed_at", "load_timestamp"
    )
    stock = ctx["sat_asset_price_stock"].select(
        "hk_asset",
        F.col("close_price").alias("price"),
        "price_source",
        "observed_at",
        "load_timestamp",
    )
    latest = top_k(
        crypto.unionByName(stock),
        ["hk_asset"],
        [F.desc("observed_at"), F.desc("load_timestamp"), F.asc("price_source")],
    ).select("hk_asset", F.col("price").alias("latest_price"), F.col("observed_at").alias("price_observed_at"))
    return ctx["hub_asset"].join(latest, "hk_asset", "left").select(
        "hk_asset",
        "asset_symbol",
        "asset_type",
        "latest_price",
        "price_observed_at",
    )


@model("dim_company", deps=["hub_company", "sat_company_profile"], tags=["mart", "dim"])
def dim_company(ctx) -> DataFrame:
    """reference dim_company.sql:6-51."""
    current = latest_wins(
        ctx["sat_company_profile"], ["hk_company"], "load_timestamp", "record_source"
    )
    return ctx["hub_company"].join(
        current.select(
            "hk_company", "company_name", "company_type", "country", "year_founded"
        ),
        "hk_company",
    )


@model(
    "fct_transactions",
    deps=[
        "hub_transaction",
        "link_customer_transaction",
        "link_transaction_asset",
        "sat_transaction_detail",
    ],
    tags=["mart", "fact"],
)
def fct_transactions(ctx) -> DataFrame:
    """reference fct_transactions.sql:3-42 — hub ⋈ links ⋈ sat (J3)."""
    return (
        ctx["hub_transaction"]
        .join(
            ctx["link_customer_transaction"].select("hk_transaction", "hk_customer"),
            "hk_transaction",
        )
        .join(
            ctx["link_transaction_asset"].select("hk_transaction", "hk_asset"),
            "hk_transaction",
        )
        .join(
            ctx["sat_transaction_detail"].drop("record_source", "load_timestamp"),
            "hk_transaction",
        )
        .select(
            "hk_transaction",
            "transaction_bk",
            "hk_customer",
            "hk_asset",
            "transaction_type",
            "quantity",
            "price_per_unit",
            "transaction_amount",
            "fee_amount",
            "transaction_timestamp",
            "data_date",
            "record_source",
        )
    )


@model(
    "fct_asset_prices",
    deps=["sat_asset_price_crypto", "sat_asset_price_stock"],
    tags=["mart", "fact"],
)
def fct_asset_prices(ctx) -> DataFrame:
    """reference fct_asset_prices.sql:6-52 — union of both price satellites
    to one observation grain (U1 + P10 date cast)."""
    crypto = ctx["sat_asset_price_crypto"].select(
        "hk_asset",
        "asset_symbol",
        F.lit("CRYPTO").alias("asset_type"),
        "price",
        "volume",
        "price_source",
        F.lit("crypto").alias("asset_class"),
        F.to_date("observed_at").alias("price_date"),
        "observed_at",
    )
    stock = ctx["sat_asset_price_stock"].select(
        "hk_asset",
        "asset_symbol",
        F.lit("STOCK").alias("asset_type"),
        F.col("close_price").alias("price"),
        "volume",
        "price_source",
        F.lit("stock").alias("asset_class"),
        F.col("price_date"),
        "observed_at",
    )
    return crypto.unionByName(stock)


@model("fct_asset_price_comparison", deps=["fct_asset_prices"], tags=["mart", "fact"])
def fct_asset_price_comparison(ctx) -> DataFrame:
    """reference fct_asset_price_comparison.sql:3-32 — daily mean per
    (asset, source), pivoted to one column per source (A1 + A2), with
    cross-source variance ratio (P13 guard)."""
    daily = (
        ctx["fct_asset_prices"]
        .groupBy("hk_asset", "asset_symbol", "price_date", "price_source")
        .agg(F.avg("price").alias("daily_price"))
    )

    def src(name):
        return F.max(F.when(F.col("price_source") == name, F.col("daily_price")))

    wide = daily.groupBy("hk_asset", "asset_symbol", "price_date").agg(
        src("BINANCE").alias("binance_price"),
        src("COINGECKO").alias("coingecko_price"),
        src("YFINANCE").alias("yfinance_price"),
    )
    lo = F.least("binance_price", "coingecko_price", "yfinance_price").cast("double")
    hi = F.greatest("binance_price", "coingecko_price", "yfinance_price").cast("double")
    return wide.withColumn("max_variance_ratio", (hi - lo) / F.nullif(lo, F.lit(0.0)))


@model(
    "fct_news_events",
    deps=["hub_news", "link_news_asset", "sat_news_detail"],
    tags=["mart", "fact"],
)
def fct_news_events(ctx) -> DataFrame:
    """reference fct_news_events.sql:3-28."""
    return (
        ctx["hub_news"]
        .join(ctx["link_news_asset"].select("hk_news", "hk_asset"), "hk_news")
        .join(ctx["sat_news_detail"].drop("record_source", "load_timestamp"), "hk_news")
        .select(
            "hk_news",
            "hk_asset",
            "asset_symbol",
            "asset_type",
            "title",
            F.to_date("published_at").alias("news_date"),
            "published_at",
        )
    )


@model(
    "fct_asset_news_impact",
    deps=["fct_news_events", "fct_asset_prices"],
    tags=["mart", "fact"],
)
def fct_asset_news_impact(ctx) -> DataFrame:
    """reference fct_asset_news_impact.sql:3-91 — daily prices joined at
    news_date +0/+1/+3/+7 (J6), guarded returns (P13)."""
    daily = (
        ctx["fct_asset_prices"]
        .groupBy("hk_asset", "price_date")
        .agg(F.avg("price").alias("daily_price"))
    )
    news = ctx["fct_news_events"].select("hk_news", "hk_asset", "asset_symbol", "news_date")

    out = news
    for off in (0, 1, 3, 7):
        d = daily.select(
            F.col("hk_asset").alias(f"_a{off}"),
            F.col("price_date").alias(f"_d{off}"),
            F.col("daily_price").alias(f"price_t{off}"),
        )
        out = out.join(
            d,
            (F.col("hk_asset") == F.col(f"_a{off}"))
            & (F.col(f"_d{off}") == F.date_add(F.col("news_date"), off)),
            "left",
        ).drop(f"_a{off}", f"_d{off}")
    p0 = F.col("price_t0").cast("double")
    guard = F.nullif(p0, F.lit(0.0))
    return out.select(
        "hk_news",
        "hk_asset",
        "asset_symbol",
        "news_date",
        "price_t0",
        "price_t1",
        "price_t3",
        "price_t7",
        ((F.col("price_t1").cast("double") - p0) / guard).alias("return_1d"),
        ((F.col("price_t3").cast("double") - p0) / guard).alias("return_3d"),
        ((F.col("price_t7").cast("double") - p0) / guard).alias("return_7d"),
    )


# =========================================================================
# Semantic views
# =========================================================================
@model(
    "semantic_transactions",
    deps=["fct_transactions", "dim_customer", "dim_asset"],
    tags=["semantic"],
)
def semantic_transactions(ctx) -> DataFrame:
    """reference semantic_transactions.sql:3-45 — flat analyst view at
    transaction grain: identity + company + asset + measures."""
    cust = ctx["dim_customer"].select(
        "hk_customer",
        F.col("customer_bk").alias("customer_id"),
        "first_name",
        "last_name",
        "company_name",
        "email",
        "country",
        "customer_tier",
        "risk_tolerance",
        "customer_type",
    )
    asset = ctx["dim_asset"].select("hk_asset", "asset_symbol", "asset_type")
    return (
        ctx["fct_transactions"]
        # dim_customer is customer-grain — the classic LARGE dim; forcing a
        # broadcast OOMs at real customer counts, so AQE decides. dim_asset
        # is symbol-grain (bounded) and stays hinted.
        .join(cust, "hk_customer", "left")
        .join(F.broadcast(asset), "hk_asset", "left")
        .select(
            "hk_transaction",
            F.col("transaction_bk").alias("transaction_id"),
            "transaction_timestamp",
            "data_date",
            "hk_customer",
            "customer_id",
            "first_name",
            "last_name",
            "company_name",
            "email",
            "country",
            "customer_tier",
            "risk_tolerance",
            "customer_type",
            "hk_asset",
            "asset_symbol",
            "asset_type",
            "transaction_type",
            "quantity",
            "price_per_unit",
            "transaction_amount",
            "fee_amount",
            "record_source",
        )
    )


@model(
    "semantic_customer_overview",
    deps=["dim_customer", "fct_transactions"],
    tags=["semantic"],
)
def semantic_customer_overview(ctx) -> DataFrame:
    """reference semantic_customer_overview.sql:3-46 — per-customer KPIs
    (A3) + display name concat (P7)."""
    kpis = ctx["fct_transactions"].groupBy("hk_customer").agg(
        F.count(F.lit(1)).alias("n_transactions"),
        F.sum("transaction_amount").alias("total_amount"),
        F.sum("fee_amount").alias("total_fees"),
        F.max("transaction_timestamp").alias("last_transaction_at"),
    )
    dim = ctx["dim_customer"]
    return dim.join(kpis, "hk_customer", "left").select(
        "hk_customer",
        F.concat_ws(" ", F.col("first_name"), F.col("last_name")).alias("customer_name"),
        "customer_tier",
        "risk_tolerance",
        "customer_type",
        "country",
        F.coalesce("n_transactions", F.lit(0)).alias("n_transactions"),
        "total_amount",
        "total_fees",
        "last_transaction_at",
    )


@model(
    "semantic_asset_performance",
    deps=["fct_asset_prices"],
    tags=["semantic"],
)
def semantic_asset_performance(ctx) -> DataFrame:
    """reference semantic_asset_performance.sql:3-21 — flat per-observation
    view at (symbol, type, price_date, source) grain."""
    return ctx["fct_asset_prices"].select(
        "asset_symbol",
        "asset_type",
        "asset_class",
        "price_date",
        "price_source",
        "price",
        "volume",
    )
