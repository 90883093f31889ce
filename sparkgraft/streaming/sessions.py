"""Structured Streaming sessionization (SURVEY §2.9 extension target).

The reference's 5-minute-gap semantics are exactly Spark's
``session_window`` — so the streaming form of the engine's signature
operator is the built-in windowed aggregation plus a watermark for late
data. For semantics the built-in window can't express (emitting a session
id per EVENT while the session is still open), ``stateful_sessionize``
implements the operator with ``applyInPandasWithState``: per-user state
carries (current session start, last event time) across micro-batches —
the streaming twin of the batch cross-batch continuity patch, and it
produces byte-identical deterministic session ids to ``ops.sessionize``.

Scale posture: state is O(active users) tiny fixed-size rows; the stream
shuffles once on user_id (same partitioning the batch pipeline uses).
Watermark bounds state for session_window; the stateful form can add a
processing-time timeout to evict idle users.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

GAP_SECONDS = 300

#: output of the stateful sessionizer
SESSION_OUTPUT_SCHEMA = "user_id bigint, ts timestamp, session_id string"
#: per-user state: current session start + last seen event (epoch micros)
STATE_SCHEMA = "session_start_us bigint, last_ts_us bigint"


def session_counts_stream(
    events: DataFrame,
    gap_seconds: int = GAP_SECONDS,
    watermark: str = "10 minutes",
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Streaming sessions-per-user via the built-in session_window.

    ``events`` is a streaming DataFrame (readStream); output (update mode)
    is one row per (user, session window) with the running event count.
    """
    # watermarks require zoned TimestampType; under the engine's pinned UTC
    # session the cast from NTZ preserves the wall clock.
    events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, f"{gap_seconds} seconds"), user_col)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            user_col,
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


def _session_id(user: Any, start_us: int) -> str:
    """Deterministic id — must equal ops.sessionize's
    sha2(concat_ws('#', user, unix_micros(start)), 256)."""
    return hashlib.sha256(f"{user}#{start_us}".encode()).hexdigest()


def _make_sessionize_group(evict: bool):
    def _sessionize_group(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user,) = key
        if evict and state.hasTimedOut:
            # idle past the gap at the watermark: any future event would
            # start a fresh session regardless of this state — dropping it
            # cannot change any id. This keeps state O(ACTIVE users).
            state.remove()
            return

        if state.exists:
            session_start_us, last_ts_us = state.get
        else:
            session_start_us, last_ts_us = None, None

        batch = pd.concat(list(pdfs), ignore_index=True).sort_values(
            "ts", kind="mergesort"
        )
        # normalize to ns first (pandas may hand us datetime64[us] or [ns])
        ts_us = (batch["ts"].astype("datetime64[ns]").astype("int64") // 1000).tolist()

        ids = []
        for t in ts_us:
            if last_ts_us is None or t - last_ts_us >= GAP_SECONDS * 1_000_000:
                session_start_us = t
            last_ts_us = t
            ids.append(_session_id(user, session_start_us))

        state.update((session_start_us, last_ts_us))
        if evict:
            # fire once the watermark passes last event + gap
            state.setTimeoutTimestamp(last_ts_us // 1000 + GAP_SECONDS * 1000)
        yield pd.DataFrame({"user_id": user, "ts": batch["ts"], "session_id": ids})

    return _sessionize_group


def stateful_sessionize(events: DataFrame, evict_watermark: str | None = None) -> DataFrame:
    """Custom stateful streaming operator: per-event session ids with
    cross-micro-batch (and cross-restart, via checkpoint) continuity.

    Arrow-batched; state read/written once per user per micro-batch.

    With ``evict_watermark`` set (e.g. ``"10 minutes"``), a watermark plus
    EventTimeTimeout evicts users idle longer than the session gap at the
    watermark — state size tracks ACTIVE users, not all users ever seen,
    which is the difference between bounded and unbounded state on a
    100 TB/day stream. Eviction is exactly lossless: an evicted user's next
    event is ≥ watermark > last_ts + gap, so it starts a new session with
    or without the state. Session ids are byte-identical to the
    non-evicting form and to batch ``ops.sessionize``.
    """
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    if evict_watermark is not None:
        return (
            events.withWatermark("ts", evict_watermark)
            .groupBy("user_id")
            .applyInPandasWithState(
                _make_sessionize_group(evict=True),
                outputStructType=SESSION_OUTPUT_SCHEMA,
                stateStructType=STATE_SCHEMA,
                outputMode="append",
                timeoutConf=GroupStateTimeout.EventTimeTimeout,
            )
        )
    return events.groupBy("user_id").applyInPandasWithState(
        _make_sessionize_group(evict=False),
        outputStructType=SESSION_OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
