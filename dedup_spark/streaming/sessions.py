"""Gap-based session dedup: first event of each activity session
survives, per (user, event_type) key.

``dropDuplicatesWithinWatermark`` (streaming/ingest.py) dedups on a
KEY within a TIME BOUND; a *session* boundary — "a new session starts
when the gap since the previous event exceeds G" — is not expressible
with any built-in dedup/window operator, because membership depends on
the running chain of gaps, not on a fixed bucket. This is the textbook
custom-stateful-streaming case:

- ``session_dedup``: the batch form — one lag window per key chain
  (survivor ⇔ no predecessor within the gap), entirely JVM-side and
  SQL-mirrorable (queries.ORACLE ``session_dedup`` recomputes it with
  lag in DuckDB; microsecond-exact via unix_micros/epoch_us on both
  engines).
- ``streaming_session_dedup``: the streaming twin on
  ``applyInPandasWithState`` — per-key state is just
  (last_event_us, session_seq): two longs, O(keys) state total, no
  event buffering. A processing-time timeout evicts idle keys. Output
  is defined to equal the batch form on the same (time-ordered)
  input; ``tests/test_sessions.py`` asserts exactly that across
  multi-micro-batch replays, including a session that SPANS a batch
  boundary (the case per-batch logic cannot get right).

Ordering contract (documented, not hidden): like every event-time
session operator, the streaming form assumes per-key event-time order
of arrival (replay/backfill order, or an upstream sorted source). Out
of order arrivals within a micro-batch are sorted inside the state
function; arrivals out of order ACROSS batches would need a watermark
buffer in state — out of scope here and called out in the docstring
so misuse is loud.

Scale posture: state is two longs per active (user, type) key,
partitioned by the stream's groupBy hash — no skew beyond the key
distribution itself, timeouts bound the live-key set, and the batch
form is one window (one exchange) per run.

Reference tie-in: the reference has no streaming surface; this extends
its rescan-loop incremental semantics (src/file_cache.rs reuse
protocol) to event streams, mirroring q_events_dedup's hourly-bucket
dedup with true session semantics.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

SESSION_OUT_SCHEMA = (
    "event_id long, user_id long, event_type string, ts timestamp, session_seq long"
)
_STATE_SCHEMA = "last_us long, session_seq long"


def session_dedup(
    events: DataFrame,
    gap_minutes: int = 30,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Batch gap-session dedup: keep the first event of every session,
    where a session breaks when the gap since the PREVIOUS EVENT (not
    the session start) exceeds ``gap_minutes``. ``session_seq`` is the
    1-based session index within the key."""
    gap_us = int(gap_minutes) * 60 * 1_000_000
    w = Window.partitionBy(user_col, type_col).orderBy(ts_col, id_col)
    # TIMESTAMP_NTZ sources (plain parquet) are interpreted in the
    # session timezone by the cast; gaps are DIFFERENCES, so the
    # offset cancels — exact under any fixed-offset session tz (run
    # UTC, the default here, to avoid DST edges)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    prev_us = F.lag(us).over(w)
    is_new = prev_us.isNull() | ((us - prev_us) > gap_us)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        events.withColumn("_new", is_new)
        .withColumn("session_seq", F.sum(F.col("_new").cast("long")).over(run))
        .filter(F.col("_new"))
        .select(id_col, user_col, type_col, ts_col, "session_seq")
    )


def streaming_session_dedup(
    events: DataFrame,
    gap_minutes: int = 30,
    idle_timeout_minutes: int = 120,
) -> DataFrame:
    """Streaming twin of ``session_dedup`` on applyInPandasWithState.

    State per (user_id, event_type): (last event micros, session count)
    — two longs, no event buffering. Emits only session-opening events,
    with the same ``session_seq`` numbering as the batch form. Requires
    per-key event-time arrival order across micro-batches (see module
    docstring); rows within one micro-batch are sorted here.

    Triggers: the idle timeout is a processing-time timeout, and a state
    operator with one asks for another (empty) micro-batch after every
    batch so that timeouts can fire without new data. Under
    ``trigger(availableNow=True)`` the query therefore never runs out of
    work: it keeps running empty batches, ``awaitTermination`` only
    returns on its timeout, and ``processAllAvailable()`` does not
    return at all. To process what is there and stop, start the query
    with ``spark.sql.streaming.noDataMicroBatches.enabled=false`` (idle
    keys are then evicted only in batches that carry data), or run a
    processing-time trigger and ``stop()`` it.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = int(gap_minutes) * 60 * 1_000_000
    timeout_ms = int(idle_timeout_minutes) * 60 * 1000

    def opener(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # idle key: drop the state; a later event starts session
            # seq fresh at 1 — acceptable for dedup (it IS a new
            # session); exact seq continuity needs durable state à la
            # SignatureStore, out of scope for the in-memory operator
            state.remove()
            return
        user_id, event_type = key
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values(["ts", "event_id"], ignore_index=True)
        last_us, seq = state.get if state.exists else (None, 0)
        ts_us = pdf["ts"].astype("int64") // 1000  # ns → µs
        keep: list[int] = []
        for i in range(len(pdf)):
            us = int(ts_us.iloc[i])
            if last_us is None or us - last_us > gap_us:
                seq += 1
                keep.append(i)
            last_us = us
        state.update((last_us, seq))
        state.setTimeoutDuration(timeout_ms)
        # reset_index: every column below must share one RangeIndex or
        # the DataFrame constructor aligns-by-index and produces NaNs
        out = pdf.iloc[keep].reset_index(drop=True)
        n = len(out)
        yield pd.DataFrame(
            {
                "event_id": out["event_id"].astype("int64"),
                "user_id": pd.Series([user_id] * n, dtype="int64"),
                "event_type": pd.Series([event_type] * n, dtype="object"),
                "ts": out["ts"],
                # kept rows receive consecutive seq values ending at the
                # post-loop counter
                "session_seq": pd.Series(range(seq - n + 1, seq + 1), dtype="int64"),
            }
        )

    return (
        events.select("event_id", "user_id", "event_type", "ts")
        .groupBy("user_id", "event_type")
        .applyInPandasWithState(
            opener,
            outputStructType=SESSION_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )
