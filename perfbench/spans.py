"""Spans and counters for a traced benchmark run.

A :class:`Tracer` records one span (name, start, end, parent) around each
call the benchmark makes into a layer of the engine, keeps them in memory and
writes them out once at the end. Spans opened with ``stages=True`` also add
a diff of Spark's status store (jobs, stages, tasks, shuffle bytes, executor
run time) across their interval to the tracer's counters, so the counts sit
at the same boundaries as the spans. :class:`StreamProgress` totals the
StreamingQueryProgress reports of streaming queries.

A disabled tracer (the default for end-to-end runs) records nothing and
never touches the status store; :meth:`Tracer.span` is then a bare
context manager.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager

#: streaming durations reported per micro-batch in StreamingQueryProgress
PROGRESS_KEYS = ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset", "getBatch")
#: status-store counters a phase reports, with their units
STAGE_UNITS = {"jobs": "count", "stages": "count", "tasks": "count",
               "shuffle_write_mb": "MB", "executor_run_s": "s"}


class StageCounter:
    """Diffs of the driver's status store between two calls of :meth:`take`.

    Stages come back newest first, so each call reads only the stages that
    started since the previous one. Only completed stages are counted: one
    still running at a boundary (a stream's background batch) is skipped."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self._last_stage = self._max_stage()
        self._last_job = self._max_job()

    def _stages(self):
        return self._store.stageList(None, False, False, self._no_quantiles, None)

    def _max_stage(self) -> int:
        it = self._stages().iterator()
        return it.next().stageId() if it.hasNext() else -1

    def _max_job(self) -> int:
        it = self._store.jobsList(None).iterator()
        best = -1
        while it.hasNext():
            best = max(best, it.next().jobId())
        return best

    def take(self) -> dict[str, float]:
        out = {"stages": 0, "tasks": 0, "shuffle_write_mb": 0.0, "executor_run_s": 0.0}
        newest = self._last_stage
        it = self._stages().iterator()
        while it.hasNext():
            s = it.next()
            sid = s.stageId()
            if sid <= self._last_stage:
                break
            newest = max(newest, sid)
            if s.status().toString() != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["shuffle_write_mb"] += s.shuffleWriteBytes() / 1e6
            out["executor_run_s"] += s.executorRunTime() / 1000.0
        self._last_stage = newest
        job = self._max_job()
        out["jobs"] = max(job - self._last_job, 0)
        self._last_job = job
        return out


class StreamProgress:
    """Totals over StreamingQueryProgress reports: micro-batches, input rows
    and the per-phase durations in :data:`PROGRESS_KEYS`."""

    def __init__(self):
        self.batches = 0
        self.input_rows = 0
        self.duration_ms = {k: 0.0 for k in PROGRESS_KEYS}

    def add(self, progress) -> None:
        self.batches += 1
        self.input_rows += int(progress.numInputRows)
        for k in PROGRESS_KEYS:
            self.duration_ms[k] += float(progress.durationMs.get(k, 0))


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._t0 = time.perf_counter()
        self._stages = StageCounter(spark) if enabled else None

    def reset(self) -> None:
        """Forget everything recorded so far (the set-up's spans)."""
        self.spans.clear()
        self.counters.clear()
        self._stack.clear()

    @contextmanager
    def span(self, name: str, stages: bool = False):
        """Record a span; with ``stages`` also add the status-store diff over
        the span to the counters named in :data:`STAGE_UNITS`."""
        if not self.enabled:
            yield
            return
        if stages:
            self._stages.take()  # drop anything that ran before the span
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter() - self._t0}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0
            if stages:
                for k, v in self._stages.take().items():
                    self.counters[k] += v

    def add(self, name: str, value: float) -> None:
        if self.enabled:
            self.counters[name] += value

    def total(self, name: str) -> float:
        """Summed duration of every span called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def write(self, path: str, metrics: dict) -> None:
        """Write the spans, the counters and the workload's own per-layer
        ``metrics`` as one JSON document."""
        with open(path, "w") as f:
            json.dump({"metrics": metrics, "counters": dict(self.counters), "spans": self.spans}, f)
