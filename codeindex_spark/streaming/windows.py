"""Watermarked windowed aggregations over event streams.

The reference's maintenance loop gates work on a quiet-period
watermark (process only events older than 2x the fetch interval —
/root/reference/src/CodeIndex.MaintainIndex/IndexMaintainer.cs:84-134).
Structured Streaming expresses the same contract declaratively:
``withWatermark`` bounds how late an event may arrive before its
window finalizes, and windowed aggregation replaces the hand-rolled
debounce counters (SURVEY.md ST2/A4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENT_ROW_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), False),
        T.StructField("value", T.DoubleType(), True),
    ]
)


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window counts/sums per event_type with a late-data
    watermark. Works on both streaming and batch DataFrames (on batch,
    the watermark is a no-op and results equal the SQL group-by —
    that's the oracle relation the test pins)."""
    src = events
    if events.isStreaming:
        src = events.withWatermark("ts", watermark)
    return (
        src.groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def _run_stream_to_memory(
    spark: SparkSession,
    out: DataFrame,
    checkpoint_dir: str,
    query_name: str,
    output_mode: str = "append",
):
    """Shared stream runner: memory sink, availableNow trigger
    (drain-and-stop micro-batches), await, return the table. ONE
    definition so the windowed runners cannot drift on trigger /
    checkpoint handling. ``output_mode``: append emits only windows
    the watermark has closed (continuous-pipeline semantics — late
    rows can still merge an open session); complete emits every
    window each drain (the right mode for a bounded drain-and-stop
    pass whose LAST sessions must appear without an advancer event)."""
    q = (
        out.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(query_name)


def session_event_counts(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Gap-based session aggregation per user via the native
    ``session_window`` (merging windows: a session closes when no
    event arrives within ``gap`` — the streaming analog of
    ops/sessions.py's batch lag+running-sum index, and of the
    reference watcher's quiet-period debounce). Works on streaming
    and batch frames alike; on batch the watermark is a no-op and
    the sessions equal the batch sessionizer's (same strict-gap
    boundary) — the cross-check the test pins."""
    src = events
    if events.isStreaming:
        src = events.withWatermark("ts", watermark)
    return (
        src.groupBy(
            F.session_window("ts", gap).alias("w"), F.col("user_id")
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("user_id"),
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def stream_session_counts(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    query_name: str = "session_events",
    output_mode: str = "append",
):
    """File-source stream -> watermark -> session windows ->
    availableNow memory sink (drain-and-stop micro-batches)."""
    stream = spark.readStream.schema(EVENT_ROW_SCHEMA).json(events_dir)
    out = session_event_counts(stream, gap, watermark)
    return _run_stream_to_memory(
        spark, out, checkpoint_dir, query_name, output_mode
    )
