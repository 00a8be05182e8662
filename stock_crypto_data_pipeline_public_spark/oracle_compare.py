"""Driver-faithful oracle comparison: BOTH sides through pandas.

The round driver fetches the Spark result and the DuckDB oracle result via
pandas, sorts columns by name, sorts rows, and hashes the rendered values.
That path is dtype-sensitive in ways plain ``fetchall()`` is not:

- DuckDB ``sum(<integer>)`` returns HUGEINT, which pandas renders as
  **float64** (``457.0``) while Spark emits int64 (``457``) — a hash
  mismatch despite numerically equal values; oracles must
  ``CAST(sum(..) AS BIGINT)``.
- Timestamps beyond 2262 (e.g. a ``9999-12-31`` SCD2 sentinel) overflow
  pandas ``datetime64[ns]`` and error out before any comparison runs.

This module reproduces both behaviours so the local suite fails exactly
where the driver would. Used by ``tests/test_oracle_parity.py`` and
``scripts/verify_contract.py``.

Decimal cells are coerced to float like DuckDB's ``.df()`` renders them.
The driver's comparator renders Spark ``Decimal`` cells verbatim (trailing
zeros included), so this mirror cannot see a Decimal mismatch; registry.py
rule 7 (never EMIT a DecimalType hashed output column, enforced by
tests/test_plan_contracts.py::test_no_decimal_typed_gated_outputs) keeps
every gateable query out of that class.
"""

from __future__ import annotations

import hashlib
import math
import os
from datetime import date, datetime
from decimal import Decimal

import numpy as np
import pandas as pd


def duck_connection(sf_dir: str):
    """DuckDB connection with one view per generated table of ``sf_dir``."""
    import duckdb

    from .sources.tables import TABLES

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def spark_pdf(df) -> pd.DataFrame:
    """Spark result via the pandas conversion (raises on out-of-bounds
    timestamps, collapses nullable ints to float64 — like the driver)."""
    return df.toPandas()


def duck_pdf(con, sql: str) -> pd.DataFrame:
    """DuckDB result via ``.df()`` (HUGEINT → float64, like the driver)."""
    return con.execute(sql).df()


def _cell(v):
    """Render one pandas cell to a canonical string preserving the
    int-vs-float distinction (457 != 457.0) the driver's hash sees."""
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, (bool, np.bool_)):  # before int: bool is an int subclass
        return repr(bool(v))
    if isinstance(v, (int, np.integer)):
        return repr(int(v))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return "NaN" if math.isnan(f) else repr(f)
    if isinstance(v, Decimal):
        return repr(float(v))
    if isinstance(v, (pd.Timestamp, datetime)):
        s = v.isoformat(sep=" ")
        # A DATE column arrives as datetime.date from Spark but midnight
        # datetime64 from DuckDB; strip the zero time so they agree. This
        # equivalence is INFERRED from driver behavior (f02's trade_date
        # hash-matched at the driver while only its HUGEINT volume failed), so
        # it intentionally also equates a true midnight TIMESTAMP with a
        # DATE — don't rely on that: registry rule 3 still requires casting
        # date_trunc results to date explicitly on the Spark side.
        return s[:-9] if s.endswith(" 00:00:00") else s
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _sort_key(row):
    return tuple((x is None, str(x)) for x in row)


def canon(pdf: pd.DataFrame) -> tuple[list[str], list[tuple]]:
    """(sorted column names, canonical sorted rows) for a pandas frame."""
    cols = sorted(pdf.columns)
    rows = [
        tuple(_cell(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    ]
    rows.sort(key=_sort_key)
    return cols, rows


def value_hash(rows: list[tuple]) -> str:
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(r).encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def diff(name: str, spark_df, con, oracle_sql: str, max_diffs: int = 5) -> list[str]:
    """Driver-shaped comparison; returns mismatch descriptions (empty = pass).

    A pandas conversion error (e.g. OutOfBoundsDatetime) is reported as a
    failure, not raised — the driver records it as ``err`` the same way.
    """
    try:
        s_cols, s_rows = canon(spark_pdf(spark_df))
    except Exception as e:  # noqa: BLE001 — driver records any conversion error
        return [f"{name}: spark pandas conversion failed: {e!r:.200}"]
    try:
        d_cols, d_rows = canon(duck_pdf(con, oracle_sql))
    except Exception as e:  # noqa: BLE001
        return [f"{name}: duckdb pandas conversion failed: {e!r:.200}"]

    if s_cols != d_cols:
        return [f"{name}: column mismatch spark={s_cols} duck={d_cols}"]
    errs: list[str] = []
    if len(s_rows) != len(d_rows):
        errs.append(f"{name}: row count spark={len(s_rows)} duck={len(d_rows)}")
    for i, (sr, dr) in enumerate(zip(s_rows, d_rows)):
        if sr == dr:
            continue
        cols_off = [c for c, a, b in zip(s_cols, sr, dr) if a != b]
        errs.append(f"{name}: row {i} differs on {cols_off}: spark={sr} duck={dr}")
        if len(errs) > max_diffs:
            errs.append(f"{name}: ... further diffs suppressed")
            break
    if not errs and value_hash(s_rows) != value_hash(d_rows):
        errs.append(f"{name}: value hash mismatch")
    return errs
