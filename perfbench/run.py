#!/usr/bin/env python3
"""Benchmark entry point: one run of one workload, result JSON last on stdout.

    python3 perfbench/run.py --workload daily_batch --seed 1 --seconds 20 --trace 0

Run from the repository root. The run pins its environment (below), starts
perfbench/worker.py in its own process group with that environment, relays
its output, then stops every process the run started and removes its
scratch directory. Everything it writes stays under ``.perfbench_work/`` in
the repository root; a traced run leaves its spans in
``.perfbench_work/traces/``.

Pinned environment:

- ``SPARK_GRAFT_CPUS`` = the CPUs this process may use (``nproc``);
  the session runs ``local[N]`` with N shuffle partitions, like the CLI.
- ``SPARK_DRIVER_MEM`` = 2g (the session factory's default is 16g).
- ``PYTHONPATH`` = the repository root, so Python workers import the engine.
- ``SPARK_LOCAL_DIRS``, ``SPARK_GRAFT_SCRATCH_DIR``, ``SPARK_WAREHOUSE_DIR``
  and ``TMPDIR`` point into the run's scratch directory.
- every other ``SPARK_GRAFT_*`` variable and ``SPARK_MASTER``/``MASTER`` is
  removed, so the engine's sizing knobs keep their defaults.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "stock_crypto_data_pipeline_public_spark"
WORKLOADS = ("daily_batch", "stream_ticks", "query_mix")
DRIVER_MEM = "2g"
#: a run must end within 180 s; the worker is stopped before that
DEADLINE_S = 170.0
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def pinned_env(work: str) -> dict[str, str]:
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k not in ("SPARK_MASTER", "MASTER", "PYTHONPATH")}
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_SCRATCH_DIR": os.path.join(work, "scratch"),
        "SPARK_WAREHOUSE_DIR": os.path.join(work, "spark-warehouse"),
        "TMPDIR": os.path.join(work, "tmp"),
    })
    for key in ("SPARK_LOCAL_DIRS", "SPARK_GRAFT_SCRATCH_DIR", "TMPDIR"):
        os.makedirs(env[key], exist_ok=True)
    return env


def stop_group(proc: subprocess.Popen) -> None:
    """Kill what is left of the worker's process group (the JVM and its
    Python workers) and wait until none of it is running."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        return
    proc.wait()
    for _ in range(300):
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: engine package {PACKAGE}/ not found next to perfbench/", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    traces = os.path.join(base, "traces")
    os.makedirs(traces, exist_ok=True)
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work,
           "--trace-out", os.path.join(traces, f"{args.workload}-s{args.seed}.json")]
    try:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=pinned_env(work), stdout=subprocess.PIPE,
                                text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=DEADLINE_S)
        except subprocess.TimeoutExpired:
            print(f"perfbench: worker exceeded {DEADLINE_S:.0f}s; stopped", file=sys.stderr)
            return 3
        finally:
            stop_group(proc)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = out.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    if proc.returncode != 0 or not isinstance(result, dict) or set(result) != RESULT_KEYS:
        sys.stderr.write(out)
        print(f"perfbench: worker failed (exit {proc.returncode})", file=sys.stderr)
        return 1
    sys.stderr.write("".join(line + "\n" for line in lines[:-1]))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
