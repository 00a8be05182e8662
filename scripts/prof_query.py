#!/usr/bin/env python
"""Profile one or more registered queries in isolation (guide §1).

Runs each named query N times in a single session through bench.py's own
``time_query`` (whole call: plan build plus noop write) and prints every
iteration's seconds plus each run's build seconds, without waiting for a
full bench era. Run 1 is printed apart as ``cold=``: it pays first-use
costs (Python workers, codegen, file listing) that can reach 5x the
rest, so ``min`` and ``median`` are taken over runs 2..N only.

To compare two checkouts, run them alternately (A, B, B, A, ...) and
pool the runs: whichever process runs first on a busy host reads slower,
so a fixed order turns host drift into a fake difference.

Usage: python scripts/prof_query.py [-n 3] [--sf-dir DIR] [--explain-dir DIR] name [name ...]

Prefix match is accepted (e.g. "s02" for s02_streaming_watermark_end_state).
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import time_query, warm_up
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
    warm_up(spark)

    for name in resolved:
        runs, builds = [], []
        for i in range(args.n):
            spark.sparkContext.setJobDescription(f"prof:{name}#{i}")
            build, exec_s, df = time_query(spark, name, args.sf_dir)
            runs.append(round(build + exec_s, 3))
            builds.append(round(build, 3))
            if args.explain_dir and i == 0:
                os.makedirs(args.explain_dir, exist_ok=True)
                txt = spark._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
                with open(os.path.join(args.explain_dir, f"{name}.txt"), "w") as fh:
                    fh.write(txt)
        spark.sparkContext.setJobDescription(None)
        warm = runs[1:]
        stats = (
            f" min={min(warm):.3f} median={statistics.median(warm):.3f}" if warm else ""
        )
        print(
            f"{name}: cold={runs[0]:.3f} runs={warm}{stats} build={builds}",
            flush=True,
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
