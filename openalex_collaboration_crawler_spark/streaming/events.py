"""Structured-Streaming event operators.

The reference is pure batch (SURVEY §2.7); the engine adds the
streaming surface a crawl/analytics pipeline needs: windowed
aggregation with watermarked late-data handling. It has a batch twin
in operators/analytics.py so the streaming output is differential-
testable against the oracle'd batch result (run the stream over the
same parquet with ``Trigger.AvailableNow``-style
processAllAvailable, compare tables).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)


def read_events_stream(spark: SparkSession, path: str, max_files: int = 8) -> DataFrame:
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(path)
    )


def windowed_counts(events: DataFrame, window: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Tumbling-window counts+sums per event_type with a watermark —
    late rows beyond the watermark are dropped, state is bounded."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def windowed_counts_batch(events: DataFrame, window: str = "1 hour") -> DataFrame:
    """Batch twin of windowed_counts (same output schema) — what the
    DuckDB oracle checks; streaming equivalence is asserted in
    tests/test_streaming.py."""
    return (
        events.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def run_stream_to_table(stream_df: DataFrame, name: str) -> None:
    """Drive a bounded file stream to completion synchronously (memory
    sink) — the local stand-in for a continuously-running query."""
    q = (
        stream_df.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
