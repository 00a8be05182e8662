"""One benchmark run inside one Spark driver process (started by run.py).

Usage (normally through run.py, which pins the environment):

    python3 perfbench/worker.py --workload daily_batch --seed 1 --seconds 20 \
        --trace 0 --work .perfbench_work/run-x

Each workload is one closed-loop client: set-up, then steps until the time
budget is spent (every step starts after the previous one finished), then
output checks outside the timed region. The last line of stdout is the
result JSON.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # before pyspark is imported: set-up includes it

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from contextlib import contextmanager  # noqa: E402
from datetime import datetime, timedelta  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import datagen  # noqa: E402
from spans import STAGE_UNITS, StreamProgress, Tracer  # noqa: E402

from stock_crypto_data_pipeline_public_spark.flows import RAW_KEYS, BatchFlow, StreamingFlow  # noqa: E402
from stock_crypto_data_pipeline_public_spark.schemas import SCHEMAS  # noqa: E402
from stock_crypto_data_pipeline_public_spark.session import get_spark  # noqa: E402

#: the reference generator's per-run volume (a1_1: 200 corporates, 1,000
#: customers, 8,000 transactions)
DAY_SIZE = (200, 1000, 8000)
#: the reference producer's output over one 5-minute interval
TICK_SIZE = (40, 60, 100)
#: analyst query mix: two JVM-only controls (q01, v02) and a Python/Arrow
#: fan-out (t14) at sf0.1. Sized so that a run, cold warm-up pass included,
#: stays under a minute on 4 cores; the streaming drain s01 alone would add
#: about 20 s to a run.
MIX = "q01 v02 t14".split()
MIX_SF = 0.1
#: the model a daily build writes out: the transactions fact mart. The quality
#: suite still computes every other model; writing each of them too would add
#: their jobs to a run that has to stay near a minute.
WRITTEN = ("fct_transactions",)
#: run time of the day-0 landing; day i lands at DAY0 + i days
DAY0 = datetime(2024, 6, 1, 2, 0, 0)


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:7.1f}s] {msg}", file=sys.stderr, flush=True)


def group_cpu_s() -> float:
    """CPU seconds used so far by this process group: the driver, its JVM and
    the JVM's Python workers, with exited children their parents reaped
    (run.py starts the worker as the leader of a new group). Unlike wall
    time, it does not count time the host withholds from this machine's
    CPUs."""
    pgid, total = os.getpgrp(), 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we scanned
            continue
        if int(fields[2]) == pgid:
            total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


class Workload:
    """Set-up, closed-loop steps, checks. ``ops``/``failed`` count the
    checked operations and those that raised or produced wrong output;
    ``steps`` and ``step_cpu`` hold the wall time and the CPU time of each
    timed step."""

    unit = "step"
    #: spans that build query plans on the driver (``build_s``)
    build_spans: tuple[str, ...] = ()

    def __init__(self, spark, work: str, seed: int, tracer: Tracer):
        self.spark, self.work, self.seed, self.tr = spark, work, seed, tracer
        self.ops = 0
        self.failed = 0
        self.steps: list[float] = []
        self.step_cpu: list[float] = []

    def expect(self, ok: bool, what: str) -> None:
        self.ops += 1
        if not ok:
            self.failed += 1
            log(f"CHECK FAILED: {what}")

    @contextmanager
    def timed(self):
        """Measure one step: its wall time into ``steps``, its CPU time into
        ``step_cpu``."""
        c0, t0 = group_cpu_s(), time.perf_counter()
        yield
        self.steps.append(time.perf_counter() - t0)
        self.step_cpu.append(group_cpu_s() - c0)

    def setup(self) -> None:
        raise NotImplementedError

    def step(self, i: int) -> None:
        raise NotImplementedError

    def check(self) -> None:
        pass

    def layer_metrics(self) -> dict[str, tuple[float, str]]:
        """The workload's own per-layer metrics, per ``unit``."""
        raise NotImplementedError

    def summary(self) -> str:
        """The workload's end-to-end figures under their own names."""
        raise NotImplementedError


# ---------------------------------------------------------------------------
def write_day0(warehouse: str, seed: int) -> tuple[dict[str, list], dict[str, set], datetime]:
    """The day-0 warehouse (every raw table, reference batch volume), written
    generator-side in the raw-table layout. Returns the rows and the key set
    per table, and the ``load_timestamp`` frontier (the latest stamp)."""
    rows = datagen.market_rows(datagen.sub_seed(seed, 0), *DAY_SIZE)
    keys, stamps = {}, []
    for name, rs in rows.items():
        schema = SCHEMAS[name]
        datagen.write_arrow(os.path.join(warehouse, name, "part-day0.parquet"), rs, schema)
        keys[name] = datagen.key_set(rs, schema, RAW_KEYS[name])
        if "load_timestamp" in schema.fieldNames():
            pos = schema.fieldNames().index("load_timestamp")
            stamps += [r[pos] for r in rs]
    return rows, keys, max(stamps)


class DailyBatch(Workload):
    """The reference's daily ``batch-data-pipeline`` plus ``dbt build
    --test``: land the day's transaction feeds → ingest → transform → write
    the fact mart → quality suite, then the same landing ingested again, as a
    re-run load does, which must append nothing. The day's transactions are
    made by day-0 customers, whose table is delivered with day 0 (landing
    all four feeds every day would push a run past its time budget). Each
    day lands into its own directory, so every day does the same work over a
    warehouse that grows by one day."""

    unit = "day"
    build_spans = ("dag.build",)

    def setup(self) -> None:
        self.warehouse = os.path.join(self.work, "warehouse")
        rows, self.keys, _ = write_day0(self.warehouse, self.seed)
        self.customers = rows["raw_customers"]

    def _new_keys(self, rows, stamp) -> int:
        """Rows the keyed append should add: distinct keys of this landing,
        stamped with the file's run time, not yet in the warehouse."""
        n = 0
        for name, rs in rows.items():
            ks = {tuple(stamp if k == "load_timestamp" else v for k, v in zip(RAW_KEYS[name], t))
                  for t in datagen.key_set(rs, SCHEMAS[name], RAW_KEYS[name])}
            n += len(ks - self.keys[name])
            self.keys[name] |= ks
        return n

    def step(self, i: int) -> None:
        day = i + 1
        run_ts = DAY0 + timedelta(days=day)
        rows = datagen.transaction_rows(datagen.sub_seed(self.seed, day), DAY_SIZE[2], self.customers)
        frames = {name: self.spark.createDataFrame(rs, SCHEMAS[name]) for name, rs in rows.items()}
        want = self._new_keys(rows, run_ts)
        flow = BatchFlow(landing_dir=os.path.join(self.work, "landing", f"day{day}"),
                         warehouse_dir=self.warehouse)
        out_dir = os.path.join(self.work, "models", f"day{day}")
        tr, spark = self.tr, self.spark
        with self.timed():
            with tr.span("flows.land"):
                flow.land(frames, run_ts)
            with tr.span("flows.ingest_raw"):
                got = sum(flow.ingest_raw(spark).values())
            with tr.span("dag.build"):
                ctx = flow.transform(spark, persist=True)
            with tr.span("flows.write_models"):
                for name in WRITTEN:
                    ctx[name].write.mode("overwrite").parquet(os.path.join(out_dir, name))
            with tr.span("quality.suite"):
                results = flow.test(ctx)
            with tr.span("flows.replay"):
                replay = sum(flow.ingest_raw(spark).values())
        for df in ctx.values():
            df.unpersist()
        tr.add("batch.rows_appended", got)
        tr.add("batch.replay_rows", replay)
        bad = {k: v for k, v in results.items() if v}
        self.expect(got == want, f"day {day} appended {got} rows, want {want}")
        self.expect(not bad, f"day {day} quality failures {bad}")
        self.expect(replay == 0, f"day {day} replay appended {replay} rows")
        self.expect(all(os.path.isdir(os.path.join(out_dir, m)) for m in WRITTEN),
                    f"day {day} model outputs missing")

    def layer_metrics(self):
        t, n = self.tr, len(self.steps)
        m = {
            "batch.land_s": (t.total("flows.land"), "s"),
            "batch.ingest_s": (t.total("flows.ingest_raw"), "s"),
            "batch.dag_build_s": (t.total("dag.build"), "s"),
            "batch.marts_write_s": (t.total("flows.write_models"), "s"),
            "batch.quality_s": (t.total("quality.suite"), "s"),
            "batch.replay_s": (t.total("flows.replay"), "s"),
            "batch.rows_appended": (t.counters["batch.rows_appended"], "count"),
            "batch.replay_rows": (t.counters["batch.replay_rows"], "count"),
        }
        return {k: (v / n, u) for k, (v, u) in m.items()}

    def summary(self):
        return f"batch_s={statistics.median(self.steps):.3f}s over {len(self.steps)} day(s)"


# ---------------------------------------------------------------------------
class StreamTicks(Workload):
    """The reference's Kafka consumer plus its 5-minute incremental
    transform: per tick, land one parquet file per topic (and re-deliver the
    previous tick's), drain each topic into its raw table, grow the
    materialized vault, then read the marts through the analyst API."""

    unit = "tick"
    build_spans = ("vault_incremental.marts",)

    def setup(self) -> None:
        from stock_crypto_data_pipeline_public_spark.vault_incremental import VaultMaterializer

        wh = os.path.join(self.work, "warehouse")
        self.topics = os.path.join(self.work, "topics")
        self.flow = StreamingFlow(warehouse_dir=wh, checkpoint_dir=os.path.join(self.work, "checkpoints"))
        self.vm = VaultMaterializer(warehouse_dir=wh, vault_dir=os.path.join(self.work, "vault"))
        self.progress = StreamProgress()  # the timed ticks' micro-batches
        _, self.keys, self.frontier = write_day0(wh, self.seed)
        # tick 0 is consumed before the vault's first (full) build, so the
        # stream and vault code paths are warm and tick 1 has a predecessor
        self.prev = None
        self.prev = self.land(0)
        for q in self.consume_all():
            self.expect(q.exception() is None, f"tick 0 consume: {q.exception()}")
        self.vm.run_increment(self.spark)

    def land(self, k: int) -> dict[str, list]:
        """Land tick ``k`` (one parquet file per topic) and re-deliver tick
        ``k - 1``'s files, as at-least-once delivery does."""
        rows, self.frontier = datagen.restamp(
            datagen.market_rows(datagen.sub_seed(self.seed, 1000 + k), *TICK_SIZE, all_tables=False),
            self.frontier + timedelta(seconds=1), SCHEMAS)
        for name, rs in rows.items():
            datagen.write_arrow(os.path.join(self.topics, name, f"tick{k:05d}.parquet"), rs, SCHEMAS[name])
            if self.prev is not None:
                datagen.write_arrow(os.path.join(self.topics, name, f"tick{k - 1:05d}-redelivery.parquet"),
                                    self.prev[name], SCHEMAS[name])
            self.keys[name] |= datagen.key_set(rs, SCHEMAS[name], RAW_KEYS[name])
        return rows

    def consume_all(self) -> list:
        """Drain every topic into its raw table, one query after another."""
        queries = []
        for name in datagen.TOPICS:
            with self.tr.span("streaming.consume"):
                q = self.flow.consume(self.spark, os.path.join(self.topics, name), name)
                q.awaitTermination()
            queries.append(q)
        return queries

    def step(self, i: int) -> None:
        from stock_crypto_data_pipeline_public_spark.api import MarketQueryTools

        k = i + 1
        tr, spark = self.tr, self.spark
        with self.timed():
            rows = self.land(k)
            customer = rows["raw_transaction_personal"][0][1]
            queries = self.consume_all()
            with tr.span("vault_incremental.run_increment"):
                appended = self.vm.run_increment(spark)
            with tr.span("vault_incremental.marts"):
                tools = MarketQueryTools(self.vm.marts(spark))
            with tr.span("api.query_transactions"):
                seen = tools.query_transactions(customer_id=customer, limit=5).collect()
        for q in queries:
            self.expect(q.exception() is None, f"tick {k} consume: {q.exception()}")
            if tr.enabled:
                for p in q.recentProgress:
                    self.progress.add(p)
        tr.add("stream.vault_rows_appended", sum(appended.values()))
        self.expect(len(seen) > 0, f"tick {k}: customer {customer} not visible through the API")
        self.prev = rows

    def check(self) -> None:
        from stock_crypto_data_pipeline_public_spark.flows import load_raw_tables
        from stock_crypto_data_pipeline_public_spark.plans.market import registry
        from stock_crypto_data_pipeline_public_spark.vault_incremental import VAULT_KEYS

        raw = load_raw_tables(self.spark, self.flow.warehouse_dir)
        for name in datagen.TOPICS:
            n = raw[name].count()
            self.expect(n == len(self.keys[name]),
                        f"{name} holds {n} rows, want {len(self.keys[name])} (a re-delivery was appended)")
        keyed = [m for m in VAULT_KEYS if m.startswith(("hub_", "link_"))]
        full = registry.run(raw, select=keyed)
        grown = self.vm.vault_tables(self.spark)
        for m in keyed:
            cols = list(VAULT_KEYS[m])
            a, b = grown[m].select(cols).distinct(), full[m].select(cols).distinct()
            diff = a.exceptAll(b).count() + b.exceptAll(a).count()
            self.expect(diff == 0, f"vault {m}: {diff} keys differ from a full rebuild")

    def layer_metrics(self):
        t, p, n = self.tr, self.progress, len(self.steps)
        m = {
            "stream.consume_s": (t.total("streaming.consume"), "s"),
            "stream.batches": (p.batches, "count"),
            "stream.input_rows": (p.input_rows, "count"),
            **{f"stream.{k}_ms": (v, "ms") for k, v in p.duration_ms.items()},
            "stream.vault_s": (t.total("vault_incremental.run_increment"), "s"),
            "stream.vault_rows_appended": (t.counters["stream.vault_rows_appended"], "count"),
            "stream.marts_api_s": (t.total("vault_incremental.marts") + t.total("api.query_transactions"), "s"),
        }
        out = {k: (v / n, u) for k, (v, u) in m.items()}
        out["stream.vault_files"] = (
            sum(f.endswith(".parquet") for _, _, fs in os.walk(self.vm.vault_dir) for f in fs), "count")
        return out

    def summary(self):
        return (f"tick_p50_s={statistics.median(self.steps):.3f}s over {len(self.steps)} tick(s), "
                f"stream_s={sum(self.steps):.3f}s")


# ---------------------------------------------------------------------------
class QueryMix(Workload):
    """Analysts running registered queries over a seeded dataset, one query
    after another. A step is one pass over the mix; each query's whole call
    (plan build, including eager checkpoints and stream drains) and its
    action (an Arrow collect) are billed, and every result is hash-compared
    with its DuckDB oracle."""

    unit = "pass"
    build_spans = ("build",)

    def setup(self) -> None:
        from stock_crypto_data_pipeline_public_spark.plans import registry

        self.data = os.path.join(self.work, "data")
        datagen.write_tpch_tables(self.data, self.seed, MIX_SF)
        registry.load_all()
        by_id = {name.split("_", 1)[0]: name for name in registry.QUERIES}
        self.names = [by_id[q] for q in MIX]
        self.fns, self.oracles = registry.QUERIES, registry.ORACLES
        self.hashes: dict[str, list[str]] = {n: [] for n in self.names}
        self.per_query: dict[str, list[float]] = {n: [] for n in self.names}
        self.run_pass(record=False)  # warm-up pass: JVM, codegen, Python workers

    def run_pass(self, record: bool) -> None:
        from stock_crypto_data_pipeline_public_spark.oracle_compare import canon, spark_pdf, value_hash

        tr, spark = self.tr, self.spark
        for name in self.names:
            try:
                t0 = time.perf_counter()
                with tr.span(f"plans.{name.split('_', 1)[0]}"):
                    with tr.span("build"):
                        df = self.fns[name](spark, self.data)
                    with tr.span("exec"):
                        pdf = spark_pdf(df)
                took = time.perf_counter() - t0
            except Exception:  # one failing query must not hide the others
                traceback.print_exc()
                if record:
                    self.expect(False, f"{name} raised")
                continue
            if record:
                self.per_query[name].append(took)
                self.hashes[name].append(value_hash(canon(pdf)[1]))

    def step(self, i: int) -> None:
        with self.timed():
            self.run_pass(record=True)

    def check(self) -> None:
        import duckdb

        from stock_crypto_data_pipeline_public_spark.oracle_compare import canon, duck_pdf, value_hash

        con = duckdb.connect()
        for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
                  "events", "documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data}/{t}.parquet')")
        for name in self.names:
            want = value_hash(canon(duck_pdf(con, self.oracles[name]))[1])
            for got in self.hashes[name]:
                self.expect(got == want, f"{name}: result hash differs from the DuckDB oracle")
        con.close()

    def layer_metrics(self):
        t, n = self.tr, len(self.steps)
        m = {"mix.build_s": (t.total("build"), "s"), "mix.exec_s": (t.total("exec"), "s")}
        for fam in sorted({q[0] for q in MIX}):
            m[f"mix.{fam}_s"] = (sum(sum(v) for q, v in self.per_query.items() if q[0] == fam), "s")
        out = {k: (v / n, u) for k, (v, u) in m.items()}
        for name, v in self.per_query.items():
            out[f"mix.{name.split('_', 1)[0]}_s"] = (statistics.median(v), "s")
        return out

    def summary(self):
        lat = [t for v in self.per_query.values() for t in v]
        return (f"mix_s={statistics.median(self.steps):.3f}s over {len(self.steps)} pass(es), "
                f"query_p50_s={statistics.median(lat):.3f}s over {len(lat)} queries")


WORKLOADS = {"daily_batch": DailyBatch, "stream_ticks": StreamTicks, "query_mix": QueryMix}


def peak_rss_mb(spark) -> float:
    """Driver JVM high-water RSS plus this Python driver's."""
    jvm_kb = 0
    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--trace-out", default=None)
    args = ap.parse_args(argv)

    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    spark = get_spark("perfbench", cpus=cpus, shuffle_partitions=cpus, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}",
    })
    gateway = spark.sparkContext._gateway
    tracer = Tracer(spark, enabled=bool(args.trace))
    wl = WORKLOADS[args.workload](spark, args.work, args.seed, tracer)
    try:
        wl.setup()
        tracer.reset()
        t_timed = time.perf_counter()
        setup_cpu_s = group_cpu_s()
        log(f"set-up done in {t_timed - T_START:.2f}s")
        while True:  # closed loop: stop when one more step would overrun
            with tracer.span("step", stages=True):
                wl.step(len(wl.steps))
            now = time.perf_counter()
            if (now - t_timed) + wl.steps[-1] > args.seconds:
                break
        log(f"{len(wl.steps)} {wl.unit}(s) in {time.perf_counter() - t_timed:.2f}s; checking outputs")
        wl.check()
        rss = peak_rss_mb(spark)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)

    step_cpu_s = statistics.median(wl.step_cpu)
    log(f"{args.workload}: {wl.summary()}, set-up {t_timed - T_START:.3f}s wall, "
        f"{setup_cpu_s:.2f}s CPU; step {step_cpu_s:.2f}s CPU; peak_rss_mb={rss:.1f}, "
        f"error_rate={wl.failed / wl.ops:.4f} ({wl.failed}/{wl.ops})")
    if args.trace:
        n = len(wl.steps)
        build = sum(tracer.total(s) for s in wl.build_spans)
        metrics = {
            "build_s": (build / n, "s"),
            "exec_s": ((sum(wl.steps) - build) / n, "s"),
            **{k: (tracer.counters[k] / n, u) for k, u in STAGE_UNITS.items()},
            "traced_step_s": (statistics.median(wl.steps), "s"),
            "traced_step_cpu_s": (step_cpu_s, "s"),
            "peak_rss_mb": (rss, "MB"),
        }
        if args.trace_out:
            tracer.write(args.trace_out, {k: {"value": v, "unit": u} for k, (v, u) in wl.layer_metrics().items()})
    else:
        metrics = {
            "setup_s": (setup_cpu_s, "s"),
            "step_cpu_s": (step_cpu_s, "s"),
        }
    print(json.dumps({"correct": wl.failed == 0, "attempted": wl.ops, "failed": wl.failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
