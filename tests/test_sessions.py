from __future__ import annotations

import datetime as dt

from dedup_spark.streaming.sessions import session_dedup, streaming_session_dedup

SCHEMA = "event_id long, user_id long, event_type string, ts timestamp, value double"
T0 = dt.datetime(2024, 1, 1, 0, 0, 0)
NO_DATA_BATCHES = "spark.sql.streaming.noDataMicroBatches.enabled"


def _ev(i, user, typ, minutes, seconds=0.0):
    return (
        i,
        user,
        typ,
        T0 + dt.timedelta(minutes=minutes, seconds=seconds),
        0.0,
    )


# one user/type chain: sessions {0,5,20} | {70,75} | {200}; gap=30min
CHAIN = [
    _ev(0, 1, "click", 0),
    _ev(1, 1, "click", 5),
    _ev(2, 1, "click", 20),
    _ev(3, 1, "click", 70),
    _ev(4, 1, "click", 75),
    _ev(5, 1, "click", 200),
]
# second key: single session, plus a different type for the same user
OTHER = [
    _ev(10, 2, "view", 1),
    _ev(11, 2, "view", 10),
    _ev(12, 1, "view", 2),
]


def test_session_dedup_batch(spark):
    df = spark.createDataFrame(CHAIN + OTHER, SCHEMA)
    got = {
        r["event_id"]: r["session_seq"]
        for r in session_dedup(df, gap_minutes=30).collect()
    }
    # session openers only, numbered per key
    assert got == {0: 1, 3: 2, 5: 3, 10: 1, 12: 1}


def test_session_gap_is_from_previous_event_not_session_start(spark):
    # events at 0, 25, 50, 75 min with gap 30: one chained session
    rows = [_ev(i, 1, "click", 25 * i) for i in range(4)]
    df = spark.createDataFrame(rows, SCHEMA)
    got = session_dedup(df, gap_minutes=30).collect()
    assert [r["event_id"] for r in got] == [0]


def test_session_boundary_is_strict(spark):
    # gap of exactly 30 min continues the session; 30min + 1µs breaks it
    rows = [
        _ev(0, 1, "click", 0),
        _ev(1, 1, "click", 30),
        _ev(2, 1, "click", 60, seconds=0.000001),
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    got = sorted(r["event_id"] for r in session_dedup(df, gap_minutes=30).collect())
    assert got == [0, 2]


def test_streaming_sessions_match_batch_across_microbatches(spark, tmp_path):
    """The stateful-streaming twin must emit exactly the batch
    operator's output even when a session SPANS a micro-batch boundary
    (events 3 and 4 arrive in different batches but 4 must stay inside
    event 3's session)."""
    src = str(tmp_path / "events_src")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    rows = CHAIN + OTHER
    # two time-ordered chunks splitting session 2 of user 1 in half
    first = [r for r in rows if r[3] <= T0 + dt.timedelta(minutes=70)]
    second = [r for r in rows if r[3] > T0 + dt.timedelta(minutes=70)]
    spark.createDataFrame(first, SCHEMA).coalesce(1).write.mode("append").parquet(src)

    def run_once():
        stream = (
            spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
        )
        q = (
            streaming_session_dedup(stream, gap_minutes=30)
            .writeStream.format("parquet")
            .option("path", sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        # ends once the files are read; the bound only guards a hang
        assert q.awaitTermination(120)
        assert not q.isActive

    # the operator's processing-time timeout asks for an empty
    # micro-batch after every batch, so availableNow would never run out
    # of work (see streaming_session_dedup); with empty batches off the
    # query stops when the data is processed
    spark.conf.set(NO_DATA_BATCHES, "false")
    try:
        run_once()
        spark.createDataFrame(second, SCHEMA).coalesce(1).write.mode("append").parquet(src)
        run_once()
    finally:
        spark.conf.unset(NO_DATA_BATCHES)

    streamed = {
        (r["event_id"], r["session_seq"])
        for r in spark.read.parquet(sink).collect()
    }
    batch = {
        (r["event_id"], r["session_seq"])
        for r in session_dedup(spark.createDataFrame(rows, SCHEMA), gap_minutes=30).collect()
    }
    assert streamed == batch
    # the boundary-spanning non-opener (event 4) was suppressed by state
    assert 4 not in {e for e, _ in streamed}
