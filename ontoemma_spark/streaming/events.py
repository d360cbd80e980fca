"""Event-table aggregations over the batch events table (SURVEY §2.11).

The reference is strictly batch and has no streaming operators; the
north rule's resumability maps to batch checkpoints (pipeline.py). These
are the two event-ingest operators the registry runs on the events
table: tumbling-window counts and replayed-event dedup, each pinned
against a DuckDB oracle (`event_window_counts`, `event_dedup`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_event_counts(events: DataFrame, window: str = "1 hour") -> DataFrame:
    """Event-time tumbling-window counts and value totals per type."""
    return (
        events.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def dedup_event_stream(events: DataFrame) -> DataFrame:
    """Exactly-once ingest dedup: drop replayed event_ids (the
    at-least-once source → exactly-once sink bridge every crawl/event
    ingest needs)."""
    return events.dropDuplicates(["event_id"])
