"""Structured Streaming faces of the batch windowing operators
(operators/windows.py; the reference is fully batch, SURVEY.md §2.9):
event-time session and tumbling-window counts, with a watermark for late
data. The batch operators are the oracles (tested by draining a static
directory as a stream with the availableNow trigger).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_session_counts(
    events: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming per-(key, session-window) event counts over the streaming
    DataFrame ``events``.

    Watermark bounds state: sessions close once event time passes
    window end + watermark — the knob that keeps state finite on an
    unbounded stream (at 100 TB/day the watermark IS the memory budget).
    """
    return (
        events.withWatermark(ts, watermark)
        .groupBy(F.col(key), F.session_window(F.col(ts), gap))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            key,
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


def stream_windowed_rollup(
    events: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    window: str = "1 day",
    watermark: str = "1 hour",
    value: str | None = None,
) -> DataFrame:
    """Streaming tumbling-window rollup (streaming face of the batch
    daily_rollup): per-(key, window) event counts and optional value sum
    over the streaming DataFrame ``events``.

    With append output mode a window only emits once the watermark passes
    its end — and events arriving LATER than the watermark are dropped,
    never retro-mutating an emitted window. That trade (bounded state +
    immutable emitted results vs. losing very-late data) is the streaming
    contract; the batch operator over the same files is the exact oracle
    for everything inside the watermark.
    """
    aggs = [F.count(F.lit(1)).alias("n_events")]
    if value is not None:
        aggs.append(F.sum(value).alias("total_value"))
    return (
        events.withWatermark(ts, watermark)
        .groupBy(F.col(key), F.window(F.col(ts), window))
        .agg(*aggs)
        .select(
            key,
            F.col("window.start").alias("win_start"),
            "n_events",
            *(["total_value"] if value is not None else []),
        )
    )
