#!/usr/bin/env python
"""Drive the correctness contract end-to-end (repo verification harness).

Imports ``__spark_entry__`` the way the round driver does, smoke-checks
``entry()``, then runs every ``queries()[name]`` against ``oracle_sql()[name]``
via DuckDB with the driver-faithful pandas comparison
(stock_crypto_data_pipeline_public_spark.oracle_compare): dtype-strict value hash, both sides
through pandas.
"""

from __future__ import annotations

import argparse
import importlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--only", action="append", default=None,
                    help="query name or unique prefix (e.g. s01); repeatable")
    args = ap.parse_args()

    mod = importlib.import_module("__spark_entry__")
    from stock_crypto_data_pipeline_public_spark.oracle_compare import (
        canon, duck_connection, duck_pdf, spark_pdf, value_hash,
    )
    from stock_crypto_data_pipeline_public_spark.plans import registry
    from stock_crypto_data_pipeline_public_spark.session import get_spark

    qs, oracles = mod.queries(), mod.oracle_sql()
    try:  # before the JVM starts: a typo costs nothing
        names = registry.resolve(args.only) if args.only else sorted(qs)
    except ValueError as e:
        ap.error(str(e))

    spark = get_spark("verify-contract", cpus=16, shuffle_partitions=16)

    edf = mod.entry(spark)
    n = edf.count()
    print(f"entry(): {n} rows, cols={edf.columns}")
    assert n > 0, "entry() returned no rows"

    con = duck_connection(args.sf_dir)

    fails = []
    for name in names:
        t0 = time.time()
        sdf = qs[name](spark, args.sf_dir)
        try:
            scols, srows = canon(spark_pdf(sdf))
        except Exception as e:  # noqa: BLE001 — the driver records this as err
            print(f"{name}: SPARK PANDAS ERROR {e!r:.160}")
            fails.append(name)
            continue
        dt = time.time() - t0
        if name not in oracles:
            print(f"{name}: rows-only, {len(srows)} rows [{dt:.1f}s]")
            continue
        try:
            dcols, drows = canon(duck_pdf(con, oracles[name]))
        except Exception as e:  # noqa: BLE001
            print(f"{name}: DUCK PANDAS ERROR {e!r:.160}")
            fails.append(name)
            continue
        if scols != dcols:
            print(f"{name}: COLUMN MISMATCH spark={scols} duck={dcols}")
            fails.append(name)
            continue
        hs, hd = value_hash(srows), value_hash(drows)
        ok = hs == hd
        print(
            f"{name}: spark={len(srows)} duck={len(drows)} "
            f"{'MATCH' if ok else f'MISMATCH {hs}!={hd}'} [{dt:.1f}s]"
        )
        if not ok:
            fails.append(name)
    print("FAILS:", fails if fails else "none")
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
