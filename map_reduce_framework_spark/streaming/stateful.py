"""Custom stateful streaming operator: incremental sessionization with
``applyInPandasWithState``.

The relational library already sessionizes in batch (operators/relational.py
user_sessions: 30-minute inactivity gap). This is the *streaming* twin: state
per user carries (last event time, open-session counters) across
micro-batches, so sessions stitch correctly when a user's events span
arrivals -- the canonical "operator Spark lacks as a one-liner" that
applyInPandasWithState exists for (arbitrary per-key state + emission
policy, Arrow-batched, no driver involvement).

Emission policy: one summary row per (user, micro-batch-with-activity):
``(user_id, n_sessions, n_events, last_ts)`` -- an update-style stream of
per-user progress. The LAST emission per user equals the batch answer when
events arrive in event-time order per user (guaranteed per-partition-file in
the test; at scale you'd pair this with a watermark + EventTimeTimeout to
also *finalize* sessions; availableNow bounded runs end before timeouts
fire, so the bounded-run contract here is progress rows, not finalized
sessions)."""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
    TimestampType,
)

SESSION_GAP_SECONDS = 30 * 60

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_sessions", LongType()),
        StructField("n_events", LongType()),
        StructField("last_ts", TimestampType()),
    ]
)

# (last_ts_micros, n_sessions, n_events)
STATE_SCHEMA = StructType(
    [
        StructField("last_us", LongType()),
        StructField("n_sessions", LongType()),
        StructField("n_events", LongType()),
    ]
)


def _sessionize_group(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    last_us, n_sessions, n_events = (
        state.get if state.exists else (None, 0, 0)
    )
    saw_rows = False
    for pdf in batches:
        if pdf.empty:
            continue
        saw_rows = True
        # Normalize to datetime64[us] before the int64 view: Arrow may hand
        # pandas ns- or us-resolution depending on the source parquet type.
        ts_us = (
            pd.to_datetime(pdf["ts"]).astype("datetime64[us]").astype("int64")
        ).sort_values()
        for us in ts_us:
            us = int(us)
            if last_us is None or us - last_us > SESSION_GAP_SECONDS * 1_000_000:
                n_sessions += 1
            last_us = us
            n_events += 1
    if saw_rows:
        state.update((last_us, n_sessions, n_events))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_sessions": [n_sessions],
                "n_events": [n_events],
                "last_ts": [pd.Timestamp(last_us, unit="us")],
            }
        )


def sessionize_stream(events: DataFrame) -> DataFrame:
    """events(user_id, ts) stream -> per-user session progress stream."""
    return (
        events.select("user_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_group,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )

