#!/usr/bin/env python
"""Profile one or more registered queries in isolation (guide §1).

Runs each named query N times in a single session through the same noop-sink
methodology as bench.py (EAGER queries billed whole-call) and prints every
iteration's seconds — min/median included — so steady-state cost is separable
from cold-start and host bursts without waiting for a full bench era.

Usage: python scripts/prof_query.py [-n 3] [--sf-dir DIR] [--explain OUT.txt] name [name ...]

Prefix match is accepted (e.g. "s02" for s02_streaming_watermark_end_state).
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import EAGER  # the bench's own billing policy, not a copy
from stock_crypto_data_pipeline_public_spark.plans import registry
from stock_crypto_data_pipeline_public_spark.session import env_positive_int, get_spark


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("-n", type=int, default=3)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--explain-dir", default=None,
                    help="also dump explain('formatted') of each query's returned DataFrame here")
    args = ap.parse_args()

    registry.load_all()
    try:
        resolved = registry.resolve(args.names)
    except ValueError as e:
        ap.error(str(e))

    cpus = env_positive_int("SPARK_GRAFT_CPUS", 32)
    spark = get_spark("prof-query", cpus=cpus, shuffle_partitions=cpus)
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.range(64).repartition(spark.sparkContext.defaultParallelism).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()

    for name in resolved:
        runs = []
        for i in range(args.n):
            spark.sparkContext.setJobDescription(f"prof:{name}#{i}")
            t_build = time.perf_counter()
            df = registry.QUERIES[name](spark, args.sf_dir)
            t0 = time.perf_counter() if name not in EAGER else t_build
            df.write.format("noop").mode("overwrite").save()
            took = time.perf_counter() - t0
            runs.append(round(took, 3))
            if args.explain_dir and i == 0:
                os.makedirs(args.explain_dir, exist_ok=True)
                txt = spark._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
                with open(os.path.join(args.explain_dir, f"{name}.txt"), "w") as fh:
                    fh.write(txt)
        spark.sparkContext.setJobDescription(None)
        print(
            f"{name}: runs={runs} min={min(runs):.3f} "
            f"median={statistics.median(runs):.3f}",
            flush=True,
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
