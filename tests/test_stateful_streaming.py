"""applyInPandasWithState sessionization: gap-split sessions emitted
incrementally from a file stream."""

from __future__ import annotations

import datetime as dt
import time

from lgid_spark.streaming.stateful import sessionize_stream


def _events(spark, rows):
    return spark.createDataFrame(rows, "user_id bigint, ts timestamp")


def _drain(q, timeout_sec=120):
    """Wait for the availableNow run's data batch and one batch after
    it, then stop the query.

    A ProcessingTimeTimeout state operator always asks for another
    (no-data) batch, so an availableNow run of sessionize_stream never
    terminates on its own: awaitTermination would sit out its whole
    timeout and leave the query running for the rest of the session,
    and processAllAvailable would never return. The input is a few
    files with no maxFilesPerTrigger, so it is all read in one batch;
    its progress is posted after the sink commit. The later batch is a
    no-data batch that evaluates the processing-time timeouts, so a
    session that times out too early shows up in the sink."""
    deadline = time.monotonic() + timeout_sec

    def data_batch_followed():
        ids = [p["batchId"] for p in q.recentProgress]
        data = [p["batchId"] for p in q.recentProgress if p["numInputRows"]]
        return bool(data) and max(ids) > data[0]

    try:
        while not data_batch_followed():
            if q.exception() is not None:
                raise q.exception()
            assert time.monotonic() < deadline, (
                f"no data batch and follow-up within {timeout_sec}s")
            time.sleep(0.2)
    finally:
        q.stop()


def test_stream_sessionize_gap_split(spark, tmp_path):
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    mins = dt.timedelta(minutes=1)
    rows = []
    # user 1: two sessions separated by a 2-hour gap
    for k in range(3):
        rows.append((1, base + k * mins))
    for k in range(4):
        rows.append((1, base + dt.timedelta(hours=2) + k * mins))
    # user 2: one session
    for k in range(5):
        rows.append((2, base + k * mins))

    inp = str(tmp_path / "in")
    _events(spark, rows).write.parquet(inp)

    stream = spark.readStream.schema("user_id bigint, ts timestamp").parquet(inp)
    out = sessionize_stream(stream)
    q = (
        out.writeStream.format("memory").queryName("sessions")
        .outputMode("append").trigger(availableNow=True).start()
    )
    _drain(q)
    got = {
        (r.user_id, r.n_events, r.closed_by)
        for r in spark.sql("select * from sessions").collect()
    }
    # the in-batch gap closes user 1's first session eagerly; the
    # still-open sessions (u1 second, u2) remain in state (no timeout
    # fires in the data batch or the no-data batch after it)
    assert (1, 3, "gap") in got
    assert all(c == "gap" for (_, _, c) in got)


def test_null_timestamps_do_not_fabricate_sessions(spark, tmp_path):
    """NaT events must be dropped before the int64 cast — pandas would
    otherwise turn them into the -2^63 ns sentinel and emit a bogus
    year-1677 session while mis-splitting the real one."""
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    mins = dt.timedelta(minutes=1)
    rows = [(1, None)] + [(1, base + k * mins) for k in range(3)] + [
        (1, None),
        (1, base + dt.timedelta(hours=2)),
    ]
    inp = str(tmp_path / "in_null")
    _events(spark, rows).write.parquet(inp)

    stream = spark.readStream.schema(
        "user_id bigint, ts timestamp").parquet(inp)
    q = (
        sessionize_stream(stream)
        .writeStream.format("memory").queryName("sessions_null")
        .outputMode("append").trigger(availableNow=True).start()
    )
    _drain(q)
    got = [(r.n_events, r.session_start, r.closed_by)
           for r in spark.sql("select * from sessions_null").collect()]
    # exactly the one gap-closed session of the 3 real events; its
    # start is the real first event, not 1677-09-21
    assert len(got) == 1
    n, start, closed = got[0]
    assert (n, closed) == (3, "gap")
    assert start == base
