"""Structured Streaming over the events table (north-star extension;
the reference has no streaming surface — SURVEY §2.11).

Each transformation here is the streaming twin of a batch query in
workload/events_queries.py: identical grouping and windows, plus a
watermark for late-data state cleanup. Tests drive them with the file
source over the testdata parquet and a memory sink
(processAllAvailable), which executes the real incremental engine
synchronously.

Scale notes: in production the source is Kafka/files-on-object-store;
watermark delay bounds state size; session_window state is per-user and
pruned at watermark; sinks should use foreachBatch for exactly-once
writes to non-idempotent targets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("props", T.StringType()),
])


#: Event-time lateness every windowed stream tolerates before it
#: drops window state.
WATERMARK = "1 hour"


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet, one file per
    trigger (schema-declared — streaming sources require explicit
    schemas)."""
    return (spark.readStream.format("parquet")
            .schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .load(f"{sf_dir}/events.parquet"))


def tumbling_counts(events: DataFrame) -> DataFrame:
    """1-hour tumbling windows per event_type (twin of
    q40_events_tumbling_window) with a watermark bounding window state."""
    return (events
            .withWatermark("ts", WATERMARK)
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count("*").alias("n_events"),
                 F.approx_count_distinct("user_id").alias("approx_users"),
                 F.sum(F.col("value").cast("decimal(18,2)"))
                 .cast("double").alias("total_value"))
            .select(F.col("w.start").alias("window_start"),
                    "event_type", "n_events", "approx_users", "total_value"))


def sliding_value_sums(events: DataFrame) -> DataFrame:
    """1-hour windows hopping every 15 minutes (twin of
    q41_events_sliding_window)."""
    return (events
            .withWatermark("ts", WATERMARK)
            .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
            .agg(F.count("*").alias("n_events"),
                 F.sum(F.col("value").cast("decimal(18,2)"))
                 .cast("double").alias("total_value"))
            .select(F.col("w.start").alias("window_start"),
                    "n_events", "total_value"))


def session_aggregates(events: DataFrame) -> DataFrame:
    """Native session windows per user (streaming analog of the batch
    lag+cumsum sessionization in q42): session_window closes a session
    after 30 minutes of inactivity; state pruned at the watermark."""
    return (events
            .withWatermark("ts", WATERMARK)
            .groupBy(F.session_window("ts", "30 minutes").alias("w"),
                     "user_id")
            .agg(F.count("*").alias("n_events"),
                 F.sum(F.col("value").cast("decimal(18,2)"))
                 .cast("double").alias("session_value"))
            .select("user_id", F.col("w.start").alias("session_start"),
                    F.col("w.end").alias("session_end"),
                    "n_events", "session_value"))


def run_stream_to_memory(df: DataFrame, name: str) -> DataFrame:
    """Drive a streaming DataFrame to completion against a memory sink
    and return the materialized result table (local smoke pattern)."""
    q = (df.writeStream.outputMode("complete")
         .format("memory").queryName(name).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return df.sparkSession.table(name)
