"""Driver-faithful oracle comparison: BOTH sides through pandas.

The round driver fetches the Spark result and the DuckDB oracle result via
pandas, sorts columns by name, sorts rows, and hashes the rendered values.
That path is dtype-sensitive in ways plain ``fetchall()`` is not:

- DuckDB ``sum(<integer>)`` returns HUGEINT, which pandas renders as
  **float64** (``457.0``) while Spark emits int64 (``457``) — a hash
  mismatch despite numerically equal values. (Root cause of five round-2
  failures; oracles must ``CAST(sum(..) AS BIGINT)``.)
- Timestamps beyond 2262 (e.g. a ``9999-12-31`` SCD2 sentinel) overflow
  pandas ``datetime64[ns]`` and error out before any comparison runs.

This module reproduces both behaviours so the local suite fails exactly
where the driver would. Used by ``tests/test_oracle_parity.py`` and
``scripts/verify_contract.py``.

RESOLVED (round 8→10 divergence saga, closed in round 11): the driver's
comparator diverges from this mirror on exactly ONE value class — it
renders Spark ``Decimal`` cells VERBATIM (trailing zeros included) where
this mirror's ``_cell`` coerces Decimal→float like DuckDB's ``.df()``
does. Evidence chain: r8's combined q40 renderer fingerprint was
rows+schema green and hash-red AT THE DRIVER while passing here; r9 split
it one-type-per-query and got q40a-e GREEN / q40f alone RED — ambiguous,
because q40f was not type-faithful (on Spark, floor→BIGINT over the bare
DECIMAL(4,1) literal 100.0 typed it DECIMAL(27,6), i.e. the driver saw
Decimal('1234.570000') vs DuckDB's float64 1234.57), consistent with both
H1 ("the floorpath double arithmetic diverges") and H2 ("Decimal cells
render verbatim"); r10 gated the pre-registered separating probes and the
pattern came back **q40g (true-DOUBLE floorpath) GREEN, q40h (equal value,
Spark DECIMAL vs oracle DOUBLE) RED** — H2 PROVEN, H1 dead, the doubles
never diverged at all. H2 also retro-explains q40b's green: its decimals
carry no trailing zeros, so their verbatim renderings coincide with the
float64 str images.

The durable rule is registry.py rule 7 (never EMIT a DecimalType hashed
output column), mechanically enforced by
tests/test_plan_contracts.py::test_no_decimal_typed_gated_outputs. This
mirror keeps the Decimal→float coercion DELIBERATELY — it models DuckDB's
rendering, and under rule 7 no gateable query can emit a Decimal anyway;
the q40/q40g/q40h tripwires stay registered local-only (q40/q40h
red-by-design at the driver, green here — the rule's negative controls).
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
        # hash-matched in round 2 while only its HUGEINT volume failed), so
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
