"""Custom stateful streaming operator: event-gap sessionization.

The reference has no stateful stream operators at all (SURVEY §2.12 — its
'streaming' is a byte transport + re-run-the-fold telemetry loop). This is
the Spark-native upgrade slot: arbitrary per-key state over an unbounded
stream via ``applyInPandasWithState`` (Arrow-batched, one Python dispatch
per key-batch, state journaled in the state store with exactly-once
semantics).

Operator semantics (classic gap sessionization):
- events for a user belong to one session while consecutive events are
  within ``gap`` of each other;
- a new event past the gap CLOSES the previous session (emitted with
  status='closed') and opens a new one;
- every invocation also emits the current open session snapshot
  (status='open') so downstream sees live session state in update mode;
- event-time timeout (watermark-driven) garbage-collects and closes
  sessions for keys that stop receiving events entirely.

Scale notes: state is per user_id — the shuffle key; the state store
shards with the shuffle partitioning, so capacity scales with executors.
The per-key state is O(1) (running aggregates, never the event list).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_OUTPUT_SCHEMA = (
    "user_id long, session_start long, session_end long, "
    "n_events long, total_value double, status string"
)
# state: (session_start_sec, session_end_sec, n_events, total_value)
SESSION_STATE_SCHEMA = "start long, end long, n long, total double"

DEFAULT_GAP_SEC = 30 * 60


def _sessionize_fn(gap_sec: int):
    def fn(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        out: list[tuple] = []

        if state.hasTimedOut:
            # watermark passed start-of-gap: close and GC
            start, end, n, total = state.get
            out.append((user_id, start, end, n, total, "closed"))
            state.remove()
            yield pd.DataFrame(
                out,
                columns=[
                    "user_id", "session_start", "session_end",
                    "n_events", "total_value", "status",
                ],
            )
            return

        # fold this micro-batch's events (seconds since epoch, sorted)
        ts_all: list[int] = []
        val_all: list[float] = []
        for pdf in pdfs:
            # datetime64 unit varies by Arrow/pandas version (ns vs us);
            # normalizing through datetime64[s] is unit-proof.
            ts_all.extend(
                pdf["ts"].to_numpy().astype("datetime64[s]").astype("int64").tolist()
            )
            val_all.extend(pdf["value"].tolist())
        order = sorted(range(len(ts_all)), key=ts_all.__getitem__)

        if state.exists:
            start, end, n, total = state.get
        else:
            start, end, n, total = None, None, 0, 0.0

        for i in order:
            t, v = ts_all[i], val_all[i]
            if start is None:
                start, end, n, total = t, t, 1, v
            elif t - end >= gap_sec:
                # >= matches the batch twin (gap_sessions): an event
                # exactly at end+gap starts a NEW session — [start,
                # last + gap) semantics.
                out.append((user_id, start, end, n, total, "closed"))
                start, end, n, total = t, t, 1, v
            else:
                end, n, total = max(end, t), n + 1, total + v

        state.update((start, end, n, total))
        # event-time timeout once the watermark passes end + gap
        state.setTimeoutTimestamp((end + gap_sec) * 1000)
        out.append((user_id, start, end, n, total, "open"))
        yield pd.DataFrame(
            out,
            columns=[
                "user_id", "session_start", "session_end",
                "n_events", "total_value", "status",
            ],
        )

    return fn


def gap_sessions(events: DataFrame, gap_sec: int = DEFAULT_GAP_SEC) -> DataFrame:
    """Batch twin of :func:`sessionize`, same gap rule: per user, an event
    at least ``gap_sec`` after the previous one opens a new session.
    Gaps and islands — ``lag`` the previous event, flag gaps >=
    ``gap_sec``, running-sum the flags into a session number.
    ``events(user_id, t long epoch seconds, value)`` -> ``(user_id,
    session_start, session_end = last event + gap, n_events,
    total_value)``. (``F.session_window`` is NOT this rule: it merges two
    events exactly ``gap_sec`` apart.)"""
    w = Window.partitionBy("user_id").orderBy("t")
    opens = F.coalesce(
        (F.col("t") - F.lag("t").over(w) >= gap_sec).cast("long"), F.lit(0)
    )
    return (
        events.withColumn("__new", opens)
        .withColumn(
            "__sess",
            F.sum("__new").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("user_id", "__sess")
        .agg(
            F.min("t").alias("session_start"),
            (F.max("t") + gap_sec).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .drop("__sess")
    )


def sessionize(
    events: DataFrame, gap_sec: int = DEFAULT_GAP_SEC, watermark: str = "1 second"
) -> DataFrame:
    """events(ts timestamp, user_id, value) -> per-user session stream."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_fn(gap_sec),
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def session_state_scope(spark, source_path: str, threshold: int | None = None):
    """Footer-estimated state-store provider selection for the
    sessionizer's drain: one state row per ACTIVE user key, which grows
    with the key universe — at 100 TB ingest the heap provider is the
    wrong posture, exactly the dedup-store argument
    (streaming/statestore.py). The estimate is the source's parquet
    row count (active keys <= input rows, the safe over-estimate).

    Start the streaming query INSIDE the scope — the provider binds at
    checkpoint creation::

        with session_state_scope(spark, src) as provider:
            q = sessionize(stream).writeStream...start()
            q.awaitTermination()
    """
    from prajna_spark.streaming.statestore import (
        AUTO_ROWS_THRESHOLD,
        auto_state_provider,
        parquet_row_estimate,
    )

    est = parquet_row_estimate(source_path)
    return auto_state_provider(
        spark, est, threshold=AUTO_ROWS_THRESHOLD if threshold is None else threshold
    )
