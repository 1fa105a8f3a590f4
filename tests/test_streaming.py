"""Structured Streaming tests (SURVEY §7 Phase E): the streaming jobs
must agree with their batch twins — the strongest check available for
an incremental engine (same input, same grouping, two execution modes).

The events parquet stores nanosecond timestamps the streaming parquet
source can't read directly, so a staging step rewrites it to
microsecond parquet split into multiple files — which also gives the
file source real multi-batch increments (maxFilesPerTrigger=1)."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from snowflake_azure_etl_spark.sources.registry import load_tables
from snowflake_azure_etl_spark.streaming import events as sev
from snowflake_azure_etl_spark.streaming.stateful import running_user_totals

#: streaming micro-batch waits dominate the suite wall-clock (VERDICT r13
#: next #6): the whole module is `slow` — included by default, deselect
#: with -m 'not slow' for the fast loop (pytest.ini)
pytestmark = pytest.mark.slow



@pytest.fixture(scope="module")
def staged_events_dir(spark, sf_dir):
    """Normalize events to micros-ts parquet in 4 files (4 micro-batches)."""
    d = tempfile.mkdtemp(prefix="events_stage_")
    e = load_tables(spark, sf_dir, ("events",))["events"]
    e.repartition(4).write.mode("overwrite").parquet(d)
    return d


def _run(df, name, mode):
    q = (df.writeStream.outputMode(mode).format("memory")
         .queryName(name).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return df.sparkSession.table(name)


def _rounded(df, cols, key_cols):
    rows = sorted(
        tuple(round(r[c], 4) if isinstance(r[c], float) else r[c]
              for c in key_cols + cols)
        for r in df.collect())
    return rows


def test_tumbling_stream_matches_batch(spark, staged_events_dir):
    """Incremental tumbling-window agg == batch agg over the same data
    (exact columns only; approx_count_distinct excluded by design)."""
    stream = (spark.readStream.format("parquet")
              .schema(sev.EVENTS_SCHEMA)
              .option("maxFilesPerTrigger", "1")
              .load(staged_events_dir))
    got = _run(sev.tumbling_counts(stream), "t_tumbling", "complete")

    batch = spark.read.parquet(staged_events_dir)
    want = (batch.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count("*").alias("n_events"),
                 F.sum(F.col("value").cast("decimal(18,2)"))
                 .cast("double").alias("total_value"))
            .select(F.col("w.start").alias("window_start"),
                    "event_type", "n_events", "total_value"))
    got_rows = _rounded(got.select("window_start", "event_type", "n_events",
                                   "total_value"),
                        ["n_events", "total_value"],
                        ["window_start", "event_type"])
    want_rows = _rounded(want, ["n_events", "total_value"],
                         ["window_start", "event_type"])
    assert got_rows == want_rows and len(got_rows) > 0


def test_sliding_stream_matches_batch(spark, staged_events_dir):
    """Incremental sliding-window agg (1 h window, 15 min hop) == batch
    agg over the same data — every event must land in all 4 overlapping
    windows in both execution modes."""
    stream = (spark.readStream.format("parquet")
              .schema(sev.EVENTS_SCHEMA)
              .option("maxFilesPerTrigger", "1")
              .load(staged_events_dir))
    got = _run(sev.sliding_value_sums(stream), "t_sliding", "complete")

    batch = spark.read.parquet(staged_events_dir)
    want = (batch.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
            .agg(F.count("*").alias("n_events"),
                 F.sum(F.col("value").cast("decimal(18,2)"))
                 .cast("double").alias("total_value"))
            .select(F.col("w.start").alias("window_start"),
                    "n_events", "total_value"))
    got_rows = _rounded(got, ["n_events", "total_value"], ["window_start"])
    want_rows = _rounded(want, ["n_events", "total_value"], ["window_start"])
    assert got_rows == want_rows and len(got_rows) > 0
    # 1h/15min hop => 4 overlapping windows per event: total window-rows
    # must carry 4x the event count
    n_events = batch.count()
    assert sum(r[1] for r in got_rows) == 4 * n_events


def test_session_window_stream_runs(spark, staged_events_dir):
    """session_window streaming job completes and produces sane sessions
    (every session ≥1 event, end ≥ start)."""
    stream = (spark.readStream.format("parquet")
              .schema(sev.EVENTS_SCHEMA)
              .option("maxFilesPerTrigger", "2")
              .load(staged_events_dir))
    got = _run(sev.session_aggregates(stream), "t_sessions", "complete")
    assert got.count() > 0
    assert got.filter(F.col("n_events") < 1).count() == 0
    assert got.filter(F.col("session_end") < F.col("session_start")).count() == 0


def test_epoch_sink_survives_replay(spark, staged_events_dir):
    """foreachBatch exactly-once-in-effect contract: a replayed epoch
    overwrites its own partition instead of duplicating rows."""
    from snowflake_azure_etl_spark.streaming.sinks import (
        EPOCH_COL, epoch_sink)

    table = "default.sink_events_test"
    from snowflake_azure_etl_spark.warehouse import ddl
    ddl.drop_table(spark, table)

    sink = epoch_sink(lambda batch_df, _: [batch_df], table)
    stream = (spark.readStream.format("parquet")
              .schema(sev.EVENTS_SCHEMA)
              .option("maxFilesPerTrigger", "1")
              .load(staged_events_dir))
    q = stream.writeStream.foreachBatch(sink).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    n_source = spark.read.parquet(staged_events_dir).count()
    landed = spark.table(table)
    assert landed.count() == n_source
    epochs = [r[0] for r in landed.select(EPOCH_COL).distinct().collect()]
    assert len(epochs) >= 2  # maxFilesPerTrigger=1 over 4 files

    # simulate the at-least-once replay of one epoch: same batch, same
    # epoch id, written again -> no duplicates, total unchanged
    replay_epoch = min(epochs)
    replay_rows = (landed.filter(F.col(EPOCH_COL) == replay_epoch)
                   .drop(EPOCH_COL))
    sink(replay_rows, replay_epoch)
    assert spark.table(table).count() == n_source
    # while an *append* sink would have duplicated it:
    assert (spark.table(table)
            .filter(F.col(EPOCH_COL) == replay_epoch).count()
            == replay_rows.count())


def test_stateful_running_totals(spark, staged_events_dir):
    """applyInPandasWithState across 4 micro-batches: final per-user
    running totals == batch groupBy (state carried between batches)."""
    stream = (spark.readStream.format("parquet")
              .schema(sev.EVENTS_SCHEMA)
              .option("maxFilesPerTrigger", "1")
              .load(staged_events_dir))
    out = _run(running_user_totals(stream), "t_stateful", "update")
    # memory sink in update mode appends every emission; the *last*
    # emission per user is the final running total
    final = (out.withColumn("_rn", F.monotonically_increasing_id())
             .groupBy("user_id")
             .agg(F.max_by("n_events", "_rn").alias("n_events"),
                  F.max_by("total_value", "_rn").alias("total_value")))

    batch = spark.read.parquet(staged_events_dir)
    want = (batch.groupBy("user_id")
            .agg(F.count("*").alias("n_events"),
                 F.sum("value").alias("total_value")))
    got_rows = _rounded(final, ["n_events", "total_value"], ["user_id"])
    want_rows = _rounded(want, ["n_events", "total_value"], ["user_id"])
    assert got_rows == want_rows and len(got_rows) > 0
