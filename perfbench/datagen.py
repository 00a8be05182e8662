"""Seeded input generators for the benchmark workloads.

Everything here runs on the generator side of the benchmark: plain
Python/NumPy/pyarrow, no Spark, so none of it is billed to the engine. The
same seed always yields the same bytes.

- :func:`write_tpch_tables` writes the TPC-H-ish star schema plus the
  ``events``/``documents``/``embeddings`` tables that the registered queries
  read (the layout of the engine's test datasets).
- :func:`market_rows` draws one batch of market-domain rows from the
  engine's own ``MarketDataFaker``; :func:`transaction_rows` draws only the
  transaction feeds, for existing customers.
- :func:`restamp` moves a tick's ``load_timestamp`` values past the
  warehouse frontier so incremental slicing keeps them.
- :func:`write_arrow` writes rows as parquet typed by the engine's declared
  raw-table schema.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
PART_ADJ = ("blue", "red", "small", "large", "hot", "old", "new", "green")
PART_NOUN = ("bolt", "ring", "plate", "widget", "rod", "gear", "pipe", "nut")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def _days(rng: np.random.Generator, n: int, start: str, end: str) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    return (lo + rng.integers(0, (hi - lo).astype(int) + 1, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_tpch_tables(out_dir: str, seed: int, sf: float, n_docs: int = 500, n_vecs: int = 500) -> dict[str, int]:
    """Write the ten query-input tables at scale factor ``sf``; returns row
    counts. Cardinalities follow the engine's test datasets (sf0.01: 1,500
    customers, 15,000 orders, 60,000 lineitems, 10,000 events)."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_ord, n_line = int(150_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_part, n_supp, n_evt, n_user = int(200_000 * sf), max(10, int(10_000 * sf)), int(1_000_000 * sf), int(15_000 * sf)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(("F", "O", "P"), n_ord),
        "o_totalprice": _money(rng, n_ord, 1000, 500_000),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900, 105_000),
        "l_discount": rng.integers(0, 11, n_line) / 100,
        "l_tax": rng.integers(0, 9, n_line) / 100,
        "l_returnflag": rng.choice(("A", "N", "R"), n_line),
        "l_linestatus": rng.choice(("F", "O"), n_line),
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
    })
    # events: one stream over 30 days, strictly increasing ts and ids
    gaps = rng.exponential(30 * 86400 / n_evt, n_evt)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + (np.cumsum(gaps) * 1e6).astype("timedelta64[us]")
    _write(out_dir, "events", {
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n_user, n_evt),
        "event_type": rng.choice(EVENT_TYPES, n_evt),
        "value": np.maximum(np.round(rng.exponential(50, n_evt), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    # documents: bag-of-words text; ~5% are near-duplicates of an earlier doc
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    # embeddings: unit float32 vectors with a weak per-label cluster signal
    dim = 64
    centers = rng.standard_normal((10, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_vecs)
    noise = rng.standard_normal((n_vecs, dim))
    noise /= np.linalg.norm(noise, axis=1, keepdims=True)
    vecs = noise + 0.15 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return {"customer": n_cust, "orders": n_ord, "lineitem": n_line, "events": n_evt,
            "documents": n_docs, "embeddings": n_vecs}


# -- market-domain rows -------------------------------------------------------

#: the four topics the streaming consumer reads (reference kafka_consumer.py)
TOPICS = ("raw_corporates", "raw_customers", "raw_transaction_personal", "raw_transaction_corporate")


def sub_seed(seed: int, k: int) -> int:
    """Integer seed of draw ``k`` of a run seeded ``seed`` (distinct per pair
    for k < 1,000,003)."""
    return seed * 1_000_003 + k


def market_rows(seed: int, n_corporates: int, n_customers: int, n_transactions: int,
                all_tables: bool = True) -> dict[str, list[tuple]]:
    """One draw of the engine's ``MarketDataFaker``, as row tuples per raw
    table (the four streaming topics only unless ``all_tables``)."""
    from stock_crypto_data_pipeline_public_spark.sources.faker import MarketDataFaker

    fk = MarketDataFaker(seed=seed, n_corporates=n_corporates, n_customers=n_customers,
                         n_transactions=n_transactions)
    corporates = fk.corporates()
    customers = fk.customers(corporates)
    personal, corporate = fk.transactions(customers)
    rows = {
        "raw_corporates": corporates,
        "raw_customers": customers,
        "raw_transaction_personal": personal,
        "raw_transaction_corporate": corporate,
    }
    if all_tables:
        crypto = fk.crypto_prices()
        rows.update({
            "raw_cryptoprices_binance": crypto["binance"],
            "raw_cryptoprices_coingecko": crypto["coingecko"],
            "raw_cryptoprices_yfinance": crypto["yfinance"],
            "raw_stockprices_yfinance": fk.stock_prices(),
            "raw_news": fk.news(),
        })
    return rows


def transaction_rows(seed: int, n_transactions: int, customers: list[tuple]) -> dict[str, list[tuple]]:
    """One draw of the two transaction feeds from ``MarketDataFaker``, made by
    ``customers`` who are already in the warehouse."""
    from stock_crypto_data_pipeline_public_spark.sources.faker import MarketDataFaker

    personal, corporate = MarketDataFaker(seed=seed, n_transactions=n_transactions).transactions(customers)
    return {"raw_transaction_personal": personal, "raw_transaction_corporate": corporate}


def restamp(rows: dict[str, list[tuple]], start: datetime, schemas) -> tuple[dict[str, list[tuple]], datetime]:
    """Map every ``load_timestamp`` in ``rows`` onto ``start + rank`` seconds,
    where rank is the value's dense rank across all tables of the tick.

    The faker draws load stamps at random over 60 days; the incremental vault
    keeps only ``load_timestamp > frontier``, so rows left unstamped would be
    dropped from its slice silently. The dense rank keeps equal stamps equal
    and distinct stamps distinct and in order, so versioned rows (SCD2
    re-emits) keep their keys apart. Returns the rows and the last stamp."""
    pos = {name: schemas[name].fieldNames().index("load_timestamp") for name in rows}
    stamps = sorted({r[pos[name]] for name, rs in rows.items() for r in rs})
    new = {s: start + timedelta(seconds=i) for i, s in enumerate(stamps)}
    out = {
        name: [r[: pos[name]] + (new[r[pos[name]]],) + r[pos[name] + 1:] for r in rs]
        for name, rs in rows.items()
    }
    return out, start + timedelta(seconds=max(len(stamps) - 1, 0))


def key_set(rows: list[tuple], schema, keys) -> set[tuple]:
    """Distinct business-key tuples of ``rows`` (the raw-table append grain)."""
    idx = [schema.fieldNames().index(k) for k in keys]
    return {tuple(r[i] for i in idx) for r in rows}


def _arrow_type(dt) -> pa.DataType:
    name = dt.typeName()
    if name == "decimal":
        return pa.decimal128(dt.precision, dt.scale)
    return {
        "string": pa.string(),
        "timestamp": pa.timestamp("us", tz="UTC"),
        "date": pa.date32(),
        "integer": pa.int32(),
        "long": pa.int64(),
        "double": pa.float64(),
    }[name]


def write_arrow(path: str, rows: list[tuple], schema) -> None:
    """Write ``rows`` as one parquet file typed by the Spark ``schema``.
    Naive datetimes are UTC wall time (the engine pins the session to UTC)."""
    fields = schema.fields
    cols = {}
    for i, f in enumerate(fields):
        vals = [r[i] for r in rows]
        if f.dataType.typeName() == "timestamp":
            vals = [v.replace(tzinfo=timezone.utc) if v is not None else None for v in vals]
        cols[f.name] = pa.array(vals, _arrow_type(f.dataType))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(cols), path)
