"""Streaming vector-index ingestion (streaming/vectors.py): per-epoch
assignment against the persisted quantizer, drift flags raised only by
a drifted epoch, epoch replay idempotence, and retrain-on-drift
clearing the flags for the new distribution."""

from __future__ import annotations

import os
import tempfile
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from snowflake_azure_etl_spark.streaming.sinks import EPOCH_COL
from snowflake_azure_etl_spark.streaming.vectors import (
    bootstrap_centroids, retrain_centroids, vector_ingest_sink)
from snowflake_azure_etl_spark.warehouse import ddl

#: streaming micro-batch waits dominate the suite wall-clock (VERDICT r13
#: next #6): tests that wait on micro-batches are `slow` (deselected by
#: default, pytest.ini); the quick ones run in the default lane


DIM = 8


def _cluster(rng, axis, n, base_id):
    c = np.zeros(DIM)
    c[axis] = 1.0
    return [(base_id + i, list(map(float, c + rng.normal(0, 0.02, DIM))))
            for i in range(n)]


def _batches():
    rng = np.random.default_rng(11)
    bootstrap = _cluster(rng, 0, 10, 0) + _cluster(rng, 1, 10, 100)
    aligned = _cluster(rng, 0, 5, 1000) + _cluster(rng, 1, 5, 1100)
    diag = np.ones(DIM) / np.sqrt(DIM)
    drifted = [(2000 + i, list(map(float, diag + rng.normal(0, 0.02, DIM))))
               for i in range(8)]
    return bootstrap, [aligned, drifted]


@pytest.fixture()
def tables(spark):
    db = "vec_stream_db"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    names = (f"{db}.v_index", f"{db}.v_drift", f"{db}.v_cents")
    for t in names:
        ddl.drop_table(spark, t)
    return names


def _stream_dir(batches):
    d = tempfile.mkdtemp(prefix="vec_stream_")
    base = time.time() - 100
    for i, rows in enumerate(batches):
        t = pa.table({"vec_id": pa.array([r[0] for r in rows], pa.int64()),
                      "embedding": pa.array([r[1] for r in rows],
                                            pa.list_(pa.float64()))})
        path = os.path.join(d, f"batch_{i}.parquet")
        pq.write_table(t, path)
        os.utime(path, (base + i, base + i))
    return d


def _run(spark, tables, batches):
    index_table, drift_table, cents_table = tables
    src = _stream_dir(batches)
    stream = (spark.readStream.schema("vec_id long, embedding array<double>")
              .option("maxFilesPerTrigger", 1).parquet(src))
    sink = vector_ingest_sink(index_table, drift_table, cents_table)
    q = (stream.writeStream.foreachBatch(sink)
         .option("checkpointLocation", tempfile.mkdtemp(prefix="vec_ck_"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    return sink


@pytest.mark.slow
def test_ingest_grows_index_and_flags_only_drifted_epoch(spark, tables):
    index_table, drift_table, cents_table = tables
    bootstrap, batches = _batches()
    corpus = spark.createDataFrame(bootstrap,
                                   "vec_id long, embedding array<double>")
    bootstrap_centroids(corpus, cents_table, n_cells=3)
    _run(spark, tables, [bootstrap] + batches)

    idx = spark.table(index_table)
    assert idx.count() == len(bootstrap) + sum(map(len, batches))
    assert idx.select("_id").distinct().count() == idx.count()

    drift = spark.table(drift_table).collect()
    by_epoch = {}
    for r in drift:
        by_epoch.setdefault(r[EPOCH_COL], []).append(r)
    # epoch 0 has no earlier baseline: nothing can flag, and the flag
    # is a real False, not a three-valued NULL invisible to both
    # `retrain` and `NOT retrain` predicates (r8 review finding)
    assert all(r["retrain"] is False for r in by_epoch[0])
    # epoch 1 (aligned) clean, epoch 2 (drifted) flagged
    assert not [r for r in by_epoch[1] if r["retrain"]]
    flagged = [r for r in by_epoch[2] if r["retrain"]]
    assert flagged
    for r in flagged:
        assert r["mean_cos_new"] < r["mean_cos_index"] - 0.02


@pytest.mark.slow
def test_epoch_replay_changes_nothing(spark, tables):
    index_table, drift_table, cents_table = tables
    bootstrap, batches = _batches()
    corpus = spark.createDataFrame(bootstrap,
                                   "vec_id long, embedding array<double>")
    bootstrap_centroids(corpus, cents_table, n_cells=3)
    sink = _run(spark, tables, [bootstrap] + batches)

    def snap(t):  # None-safe order-insensitive snapshot
        return sorted(map(repr, spark.table(t).collect()))

    before_i, before_d = snap(index_table), snap(drift_table)
    replay = spark.createDataFrame(batches[0],
                                   "vec_id long, embedding array<double>")
    sink(replay, 1)
    assert snap(index_table) == before_i
    assert snap(drift_table) == before_d


@pytest.mark.slow
def test_retrain_on_drift_fits_new_distribution(spark, tables):
    index_table, drift_table, cents_table = tables
    bootstrap, batches = _batches()
    corpus = spark.createDataFrame(bootstrap,
                                   "vec_id long, embedding array<double>")
    bootstrap_centroids(corpus, cents_table, n_cells=3)
    sink = _run(spark, tables, [bootstrap] + batches)
    # the operator on call retrains over the absorbed index: the
    # quantizer version bumps and the drift baseline RESETS (fits are
    # only comparable within one set of centroids)
    retrain_centroids(spark, index_table, cents_table, n_cells=3)
    # versions COEXIST (r9, ADVICE r8): the retrain lands version 1
    # as a partition overwrite, leaving version 0 intact — a
    # concurrent epoch mid-retrain never sees an empty/partial table
    # — and `current = max(q_version)` resolves to the new one
    vers = {r["q_version"] for r in
            spark.table(cents_table).select("q_version").collect()}
    assert vers == {0, 1}
    assert spark.table(cents_table).filter(
        F.col("q_version") == 0).count() == 3  # old version untouched
    rng = np.random.default_rng(29)
    diag = np.ones(DIM) / np.sqrt(DIM)
    more = [(3000 + i, list(map(float, diag + rng.normal(0, 0.02, DIM))))
            for i in range(6)]
    sink(spark.createDataFrame(more, "vec_id long, embedding array<double>"),
         3)
    drift3 = [r for r in spark.table(drift_table).collect()
              if r[EPOCH_COL] == 3]
    new_cells = [r for r in drift3 if r["n_new"]]
    assert new_cells
    # fresh baseline: no version-1 history yet, so nothing can flag —
    # with a real False flag, not NULL
    assert all(r["mean_cos_index"] is None for r in drift3)
    assert all(r["retrain"] is False for r in drift3)
    # the new epoch's rows are recorded against the new version
    assert {r["q_version"] for r in spark.table(index_table)
            .filter(F.col(EPOCH_COL) == 3).collect()} == {1}
    # and a SECOND epoch of the same drifted distribution, now with a
    # version-1 baseline, fits the retrained quantizer: no flag
    more2 = [(4000 + i, list(map(float, diag + rng.normal(0, 0.02, DIM))))
             for i in range(6)]
    sink(spark.createDataFrame(more2, "vec_id long, embedding array<double>"),
         4)
    drift4 = [r for r in spark.table(drift_table).collect()
              if r[EPOCH_COL] == 4]
    assert [r for r in drift4 if r["n_new"] and r["mean_cos_index"]]
    assert not [r for r in drift4 if r["retrain"]]


@pytest.mark.slow
def test_drift_baseline_from_partials_equals_index_history(spark, tables):
    """r17 (VERDICT r16 next #6): the drift baseline derives from the
    prior drift rows' exact per-cell partials (n_new + sum_fit_new)
    instead of re-aggregating the full index history per epoch. The
    merge law must be EXACT: for every epoch and cell, the partials
    baseline equals the count/sum/mean recomputed from the index
    table's strictly-earlier rows — bit-identical doubles included."""
    from snowflake_azure_etl_spark.operators.similarity import KMEANS_SCALE

    index_table, drift_table, cents_table = tables
    bootstrap, batches = _batches()
    corpus = spark.createDataFrame(bootstrap,
                                   "vec_id long, embedding array<double>")
    bootstrap_centroids(corpus, cents_table, n_cells=3)
    _run(spark, tables, [bootstrap] + batches)

    drift = spark.table(drift_table)
    assert {"sum_fit_new", "q_version"} <= set(drift.columns)
    idx = spark.table(index_table)
    for epoch in (1, 2):
        hist = (idx.filter(F.col(EPOCH_COL) < epoch)
                .groupBy("cell_id")
                .agg(F.count("*").alias("n"), F.sum("fit_q").alias("s")))
        want = {r["cell_id"]: (r["n"], r["s"],
                               (float(r["s"]) / r["n"]) / KMEANS_SCALE)
                for r in hist.collect()}
        got = {r["cell_id"]: (r["n_index"], r["mean_cos_index"])
               for r in drift.filter(F.col(EPOCH_COL) == epoch).collect()
               if r["n_index"] is not None}
        assert set(got) == set(want)
        for cell, (n, s, mean) in want.items():
            assert got[cell][0] == n
            assert got[cell][1] == mean  # exact: same longs, same expr


def test_vector_sink_rejects_prepartials_drift_table(spark, tables):
    """A drift table created by the pre-partials sink (no sum_fit_new /
    q_version columns) must fail the first write with a migration
    error — its rows cannot seed an exact baseline, and position-based
    insertInto would silently misalign the widened row."""
    index_table, drift_table, cents_table = tables
    bootstrap, _ = _batches()
    corpus = spark.createDataFrame(bootstrap,
                                   "vec_id long, embedding array<double>")
    bootstrap_centroids(corpus, cents_table, n_cells=3)
    (spark.createDataFrame(
        [(0, 5, 0.9, 3, 0.88, False, 0)],
        "cell_id int, n_index long, mean_cos_index double, n_new long, "
        f"mean_cos_new double, retrain boolean, {EPOCH_COL} long")
     .write.partitionBy(EPOCH_COL).format("parquet")
     .saveAsTable(drift_table))
    sink = vector_ingest_sink(index_table, drift_table, cents_table)
    with pytest.raises(ValueError) as ei:
        sink(corpus, 1)
    msg = str(ei.value)
    assert "sum_fit_new" in msg and drift_table in msg


def test_vector_sink_epoch_job_counts_are_pinned(spark, tables):
    """Each epoch launches a fixed number of Spark jobs. Epoch 0 (no
    baseline): the version read (2), the centroid array and the
    checkpointed assignment (3), the drift bootstrap DDL (1), the
    drift write (2), the index DDL and write (2). Epoch 1 adds the
    retention check and the baseline probe and drops the two DDLs; its
    drift write aggregates the baseline partials too. The retention
    check reads the version's first drift epoch (2 jobs), then probes
    the one index epoch below it, here none: the probe of every earlier
    epoch that it replaced took a job with nothing to read (12 -> 11).
    A join of the batch partials back onto the report once made the
    count race on adaptive execution's join re-planning (12 or 13)."""
    index_table, drift_table, cents_table = tables
    bootstrap, (aligned, _) = _batches()
    schema = "vec_id long, embedding array<double>"
    bootstrap_centroids(spark.createDataFrame(bootstrap, schema),
                        cents_table, n_cells=3)
    sink = vector_ingest_sink(index_table, drift_table, cents_table)
    sc = spark.sparkContext
    counts = []
    for epoch, rows in enumerate((bootstrap, aligned)):
        batch = spark.createDataFrame(rows, schema)
        group = f"vector_sink_epoch_{epoch}"
        sc.setJobGroup(group, group)
        try:
            sink(batch, epoch)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        counts.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    assert counts == [10, 11]


def test_bootstrap_replaces_an_orphaned_location(spark, tables,
                                               orphan_location):
    """Bootstrap is CREATE OR REPLACE: re-run in a fresh session, it
    finds the quantizer's directory but no catalog entry, and replaces
    it instead of failing LOCATION_ALREADY_EXISTS."""
    cents_table = tables[2]
    orphan_location(*cents_table.split("."))
    bootstrap, _ = _batches()
    bootstrap_centroids(spark.createDataFrame(
        bootstrap, "vec_id long, embedding array<double>"),
        cents_table, n_cells=3)
    cents = spark.table(cents_table)
    assert cents.columns == ["cell_id", "ctv", "q_version"]
    assert sorted(r["q_version"] for r in cents.collect()) == [0, 0, 0]


def test_drift_retention_probe_reads_one_epoch(spark, tables):
    """The retention check's probe reads the one index epoch just below
    the version's first drift epoch, not every earlier epoch: after
    two epochs per quantizer version, the version-1 probe below epoch
    2 reads epoch 1's files only."""
    from snowflake_azure_etl_spark.streaming.vectors import _retention_probe

    index_table, drift_table, cents_table = tables
    bootstrap, (aligned, drifted) = _batches()
    schema = "vec_id long, embedding array<double>"
    bootstrap_centroids(spark.createDataFrame(bootstrap, schema),
                        cents_table, n_cells=3)
    sink = vector_ingest_sink(index_table, drift_table, cents_table)
    sink(spark.createDataFrame(bootstrap, schema), 0)
    sink(spark.createDataFrame(aligned, schema), 1)
    retrain_centroids(spark, index_table, cents_table, n_cells=3)
    sink(spark.createDataFrame(drifted, schema), 2)
    sink(spark.createDataFrame(
        [(i + 5000, v) for i, v in aligned], schema), 3)
    probe = _retention_probe(spark, index_table, 1, 2)
    files = probe.inputFiles()
    assert files and all(f"/{EPOCH_COL}=1/" in f for f in files)
    assert probe.isEmpty()
    assert _retention_probe(spark, index_table, 0, 0) is None


@pytest.mark.slow
def test_vacuum_epochs_enforces_retention(spark, tables):
    from snowflake_azure_etl_spark.streaming.sinks import vacuum_epochs

    index_table, drift_table, cents_table = tables
    bootstrap, batches = _batches()
    corpus = spark.createDataFrame(bootstrap,
                                   "vec_id long, embedding array<double>")
    bootstrap_centroids(corpus, cents_table, n_cells=3)
    _run(spark, tables, [bootstrap] + batches)
    before = spark.table(index_table).count()
    kept_rows = (spark.table(index_table)
                 .filter(F.col(EPOCH_COL) >= 1).count())
    # drop epoch 0, keep 1..2 — partition-metadata only, survivors
    # byte-identical
    assert vacuum_epochs(spark, index_table, keep_from=1) == 1
    after = spark.table(index_table)
    assert after.count() == kept_rows < before
    assert {r[EPOCH_COL] for r in
            after.select(EPOCH_COL).distinct().collect()} == {1, 2}
    # idempotent: same watermark again drops nothing
    assert vacuum_epochs(spark, index_table, keep_from=1) == 0


@pytest.mark.slow
def test_drift_vacuum_below_version_start_fails_loud(spark, tables):
    """ADVICE r17: the drift baseline sums this q_version's earlier
    drift rows, so vacuuming the drift table below the version's first
    index epoch would silently shrink it. The next epoch must fail
    loud; vacuuming both tables to one watermark keeps it consistent."""
    from snowflake_azure_etl_spark.streaming.sinks import vacuum_epochs

    index_table, drift_table, cents_table = tables
    bootstrap, (aligned, _) = _batches()
    schema = "vec_id long, embedding array<double>"
    corpus = spark.createDataFrame(bootstrap, schema)
    bootstrap_centroids(corpus, cents_table, n_cells=3)
    sink = vector_ingest_sink(index_table, drift_table, cents_table)
    sink(corpus, 0)
    sink(spark.createDataFrame(aligned, schema), 1)
    later = spark.createDataFrame(
        [(i + 5000, v) for i, v in aligned], schema)
    assert vacuum_epochs(spark, drift_table, keep_from=1) == 1
    with pytest.raises(ValueError, match="vacuumed below"):
        sink(later, 2)
    assert vacuum_epochs(spark, index_table, keep_from=1) == 1
    sink(later, 2)
    assert {r[EPOCH_COL] for r in spark.table(drift_table)
            .select(EPOCH_COL).distinct().collect()} == {1, 2}


def test_vacuum_skips_unparseable_partitions(spark):
    """r9 (ADVICE r8): a partition value that doesn't parse as an
    epoch id (corruption, a manually created directory — modeled as a
    string-typed epoch column, since a typed column rejects the bad
    value at the catalog instead) is skipped with a warning — the
    vacuum still drops every parseable stale epoch instead of raising
    before anything is dropped."""
    import warnings as _w
    from snowflake_azure_etl_spark.streaming.sinks import (EPOCH_COL,
                                                           vacuum_epochs)

    tbl = "vec_stream_db.v_vacuum_stray"
    spark.sql("CREATE DATABASE IF NOT EXISTS vec_stream_db")
    ddl.drop_table(spark, tbl)
    (spark.createDataFrame([(1, "0"), (2, "1"), (3, "stray")],
                           f"x long, {EPOCH_COL} string")
     .write.mode("overwrite").partitionBy(EPOCH_COL)
     .format("parquet").saveAsTable(tbl))
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        assert vacuum_epochs(spark, tbl, keep_from=1) == 1
    assert any("stray" in str(c.message) for c in caught)
    kept = {r[EPOCH_COL] for r in spark.table(tbl)
            .select(EPOCH_COL).distinct().collect()}
    assert kept == {"1", "stray"}


def test_vacuum_epochs_drops_sharded_sub_partitions(spark):
    """ADVICE r16 #1: a sub-partitioned sink table (the line-dedup
    winner layout — a shard level UNDER the epoch) lists one SHOW
    PARTITIONS row per LEAF ('_epoch_id=N/_hb=K'); before the fix the
    whole string failed int(), every partition landed in `bad`, and
    retention silently no-op'd on exactly these tables. Vacuum must
    parse the first path level, dedupe epoch ids, and the partial
    PARTITION (_epoch_id = e) spec must drop every shard under the
    epoch."""
    import warnings as _w
    from snowflake_azure_etl_spark.streaming.sinks import (EPOCH_COL,
                                                           vacuum_epochs)

    tbl = "vec_stream_db.v_vacuum_sharded"
    spark.sql("CREATE DATABASE IF NOT EXISTS vec_stream_db")
    ddl.drop_table(spark, tbl)
    rows = [(x, e, x % 3) for e in range(3) for x in range(6)]
    (spark.createDataFrame(rows, f"x long, {EPOCH_COL} long, _hb int")
     .write.mode("overwrite").partitionBy(EPOCH_COL, "_hb")
     .format("parquet").saveAsTable(tbl))
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        # epochs 0 and 1 dropped (counted per EPOCH, not per leaf)
        assert vacuum_epochs(spark, tbl, keep_from=2) == 2
    # nothing was a parse failure — no skipped-partition warning
    assert not [c for c in caught if "vacuum_epochs" in str(c.message)]
    left = spark.table(tbl)
    assert {r[EPOCH_COL] for r in
            left.select(EPOCH_COL).distinct().collect()} == {2}
    # every shard of the surviving epoch intact, all others gone
    assert left.count() == 6
    assert vacuum_epochs(spark, tbl, keep_from=2) == 0
