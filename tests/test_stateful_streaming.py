"""Cross-batch stateful sessionization (streaming/stateful.py): state must
carry open sessions across micro-batch boundaries."""

from __future__ import annotations

import os
from datetime import datetime

from pyspark.sql import functions as F

from stock_crypto_data_pipeline_public_spark.streaming.stateful import sessionize_stream


def _write_batch(spark, path, rows):
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    df.coalesce(1).write.mode("append").parquet(path)


def test_sessions_span_micro_batches(spark, tmp_path):
    src = str(tmp_path / "events")
    os.makedirs(src)
    t = lambda h, m: datetime(2024, 1, 1, h, m)

    # batch 1: user 1 opens a session (2 events), user 2 opens one
    _write_batch(spark, src, [(1, t(10, 0)), (1, t(10, 10)), (2, t(9, 0))])
    # batch 2 (separate file): user 1 continues within the gap, then jumps
    # past it — closing session 1 (3 events) and opening session 2;
    # user 2 jumps straight past the gap — closing their 1-event session
    _write_batch(spark, src, [(1, t(10, 20)), (1, t(12, 0)), (2, t(13, 0))])

    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        sessionize_stream(stream, gap_minutes=30)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("closed_sessions")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    rows = {
        (r.user_id, r.session_no): r
        for r in spark.sql("SELECT * FROM closed_sessions").collect()
    }
    # only CLOSED sessions emit; the open ones (user1 #2, user2 #2) stay in state
    assert set(rows) == {(1, 1), (2, 1)}

    u1 = rows[(1, 1)]
    assert u1.n_events == 3  # 10:00 + 10:10 (batch 1) + 10:20 (batch 2!)
    assert u1.session_start_us == int(t(10, 0).timestamp() * 1_000_000)
    assert u1.session_end_us == int(t(10, 20).timestamp() * 1_000_000)

    u2 = rows[(2, 1)]
    assert u2.n_events == 1
    assert u2.session_end_us == int(t(9, 0).timestamp() * 1_000_000)


def test_idle_timeout_flushes_open_session_and_evicts_state(spark, tmp_path):
    """The production eviction path (idle_timeout_ms →
    ProcessingTimeTimeout): a user silent past the timeout has their OPEN
    session emitted as closed-by-inactivity (closed_by='timeout') and
    their state evicted. Harness note (measured, r11): availableNow NEVER
    self-terminates under ProcessingTimeTimeout — Spark keeps scheduling
    empty batches to service timers — so the test runs ONE continuously-
    triggered query and polls the sink for the expected rows, instead of
    drains that would block out their full awaitTermination timeout."""
    import time

    src = str(tmp_path / "events")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    t = lambda h, m: datetime(2024, 1, 1, h, m)
    us = lambda h, m: int(t(h, m).timestamp() * 1_000_000)

    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        sessionize_stream(
            stream, gap_minutes=30, idle_timeout_ms=300, emit_close_reason=True
        )
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="250 milliseconds")
        .start()
    )

    def user_rows(uid):
        try:
            rows = spark.read.parquet(sink).collect()
        except Exception:  # no committed batch yet
            return []
        return sorted(
            (r.session_no, r.session_start_us, r.session_end_us, r.n_events, r.closed_by)
            for r in rows
            if r.user_id == uid
        )

    def wait_for(uid, n, timeout=60):
        deadline = time.monotonic() + timeout
        while len(user_rows(uid)) < n:
            assert time.monotonic() < deadline, (
                f"timed out waiting for {n} rows of user {uid}: {user_rows(uid)}"
            )
            time.sleep(0.25)

    try:
        _write_batch(spark, src, [(1, t(10, 0)), (1, t(10, 10))])
        wait_for(1, 1)  # the idle flush fires while the query keeps running
        # exactly ONE closure, exactly the open session's rows, BY timeout
        assert user_rows(1) == [(1, us(10, 0), us(10, 10), 2, "timeout")]

        # state was EVICTED: user 1's next events number sessions from 1
        # again (a surviving state row would emit session_no 2 — or worse,
        # re-emit the flushed session when 14:00 gap-closes 12:00's). The
        # 14:00 event gap-closes the fresh 12:00 one-event session IN batch
        # (closed_by='gap'); its own open session idle-flushes after. An
        # independent key (user 2) rides the same batch and idle-flushes on
        # its own timer.
        _write_batch(spark, src, [(1, t(12, 0)), (1, t(14, 0)), (2, t(11, 0))])
        wait_for(1, 3)
        assert user_rows(1) == [
            (1, us(10, 0), us(10, 10), 2, "timeout"),  # NOT duplicated
            (1, us(12, 0), us(12, 0), 1, "gap"),       # numbering restarts
            (2, us(14, 0), us(14, 0), 1, "timeout"),   # new open session flushes
        ]
        wait_for(2, 1)
        assert user_rows(2) == [(1, us(11, 0), us(11, 0), 1, "timeout")]
    finally:
        q.stop()
        q.awaitTermination()
