"""Streaming window aggregations over the events stream: tumbling and
session windows with watermark-based late-data handling, and
watermarked streaming dedup.

These are the Structured-Streaming counterparts of the batch q29 window
query; state is bounded by the watermark, so they run indefinitely at any
scale (state store size ∝ open windows × keys, not history).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tumbling_counts(
    events: DataFrame,
    window: str = "6 hours",
    watermark: str = "1 hour",
    ts_col: str = "ts",
    key_col: str = "event_type",
) -> DataFrame:
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), F.col(key_col))
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 2)
            .alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            key_col,
            "n",
            "total_value",
        )
    )


def session_counts(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("w"), F.col(key_col))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            key_col,
            "n_events",
        )
    )


def sessionize_batch(
    events: DataFrame,
    gap: str = "1 hour",
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Batch sessionization with the SAME ``session_window`` operator the
    streaming path uses (Spark's session window is mode-agnostic), so batch
    backfill and the live stream produce identical sessions — the property a
    lambda-architecture pipeline needs.

    Semantics: events of one key merge into a session while each is <= gap
    after the previous (an event at EXACTLY the gap boundary still merges —
    verified in tests); the emitted window is [min(ts), max(ts) + gap].
    Timestamps are surfaced as unix micros for engine-portable comparison.
    One shuffle on the key, session merging is in-partition. Columns:
    user_id (key), session_start_us, session_end_us, n_events, total_value.
    """
    return (
        events.groupBy(F.col(key_col), F.session_window(ts_col, gap).alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 2)
            .alias("total_value"),
        )
        .select(
            key_col,
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            F.unix_micros(F.col("w.end")).alias("session_end_us"),
            "n_events",
            "total_value",
        )
    )


def dedup_stream(
    events: DataFrame,
    watermark: str = "1 hour",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Exactly-once event ids within the watermark horizon: state holds one
    key per id only until the watermark passes."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark([id_col])
