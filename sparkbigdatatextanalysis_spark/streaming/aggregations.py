"""Structured Streaming variants of the engine's aggregations.

The reference is batch-only (SURVEY.md §2.4) -- this module is the
engine's streaming extension. Each transformation is written once as a
plain DataFrame -> DataFrame function and applied unchanged to batch or
streaming inputs (Structured Streaming's core contract), so the batch
form is oracle-checkable while the streaming form gets watermarks +
windows for late data.

Scale notes: windowed aggregations shuffle on (window, key) with partial
aggregation; watermarks bound state size, which is what keeps a stateful
100 TB/day stream bounded. File-source streams at scale should set
``maxFilesPerTrigger`` for micro-batch sizing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_event_stats(events: DataFrame, window: str = "1 hour") -> DataFrame:
    """Tumbling-window per-type stats: (window_start, event_type, n_events,
    sum_value). Works on batch and streaming inputs identically."""
    return (
        events.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )


def sliding_user_activity(
    events: DataFrame, window: str = "1 hour", slide: str = "30 minutes"
) -> DataFrame:
    """Sliding-window distinct-ish activity: (window_start, user_id,
    n_events) -- each event lands in window/slide overlapping windows."""
    return (
        events.groupBy(F.window("ts", window, slide).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "user_id", "n_events")
    )
