"""Structured-Streaming event-time aggregation.

``windowed_event_counts`` is the watermarked tumbling-window
aggregation pattern for late-arriving event data; in batch mode the
same function works on a static frame (window() is mode-agnostic),
which is how the DuckDB oracle verifies it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_event_counts(
    events: DataFrame,
    window_len: str = "1 hour",
    watermark: str = "1 hour",
    streaming: bool = False,
) -> DataFrame:
    """Tumbling-window per-type counts/sums over event time. With
    ``streaming`` the watermark bounds state for late data; the same
    expression runs in batch (watermark is a no-op there)."""
    df = events
    if streaming:
        # Watermarks require an instant (TIMESTAMP), not wall-clock
        # TIMESTAMP_NTZ; the session runs UTC so the cast is lossless
        # and the window bound is normalized back to NTZ below.
        df = df.withColumn("ts", F.col("ts").cast("timestamp")).withWatermark(
            "ts", watermark
        )
    return (
        df.groupBy(F.window("ts", window_len).alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            # DECIMAL sum: exact and summation-order-independent, so the
            # result is identical across engines and micro-batch splits.
            # The final cast to double keeps DECIMAL out of the output
            # (a DECIMAL column stringifies as Decimal('1.5000') vs the
            # oracle's float64 1.5 in the driver hash).
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
