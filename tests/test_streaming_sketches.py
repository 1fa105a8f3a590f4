"""Streaming sketch maintenance (streaming/sketches.py): per-epoch
CMS/Bloom partials equal the one-shot batch sketch after rollup
(linearity), epoch replay changes nothing (idempotent partials, no
read-modify-write), and compaction re-lands the merged baseline
without changing any rollup answer."""

from __future__ import annotations

import pytest
import os
import tempfile
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from snowflake_azure_etl_spark.operators import sketches as sk
from snowflake_azure_etl_spark.streaming.sketches import (
    bloom_ingest_sink, bloom_rollup, cms_ingest_sink, cms_rollup,
    compact_epochs)
from snowflake_azure_etl_spark.warehouse import ddl

#: streaming micro-batch waits dominate the suite wall-clock (VERDICT r13
#: next #6): tests that wait on micro-batches are `slow` (deselected by
#: default, pytest.ini); the quick ones run in the default lane


BATCHES = [[f"k{i % 5}" for i in range(40)],
           [f"k{i % 9}" for i in range(50)],
           [f"k{i % 3}" for i in range(30)]]


def _table(spark, name):
    db = "sketch_stream_db"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    t = f"{db}.{name}"
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    ddl.drop_orphan_location(spark, t)
    return t


def _stream_dir(batches):
    d = tempfile.mkdtemp(prefix="sk_stream_")
    base = time.time() - 100
    for i, keys in enumerate(batches):
        path = os.path.join(d, f"batch_{i}.parquet")
        pq.write_table(pa.table({"k": pa.array(keys, pa.string())}), path)
        os.utime(path, (base + i, base + i))
    return d


def _run(spark, sink, batches):
    src = _stream_dir(batches)
    stream = (spark.readStream.schema("k string")
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (stream.writeStream.foreachBatch(sink)
         .option("checkpointLocation", tempfile.mkdtemp(prefix="sk_ck_"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)


def _all_rows(spark, keys):
    return spark.createDataFrame([(k,) for k in keys], "k string")


def test_cms_epoch_partials_roll_up_to_the_batch_sketch(spark):
    t = _table(spark, "cms_partials")
    _run(spark, cms_ingest_sink(t, "k"), BATCHES)
    rolled = sorted(map(tuple, cms_rollup(spark, t).collect()))
    whole = _all_rows(spark, [k for b in BATCHES for k in b])
    direct = sorted(map(tuple, sk.cms_build(whole, "k").collect()))
    assert rolled == direct  # linearity: partial sums == one-shot


def test_cms_epoch_replay_changes_nothing(spark):
    t = _table(spark, "cms_replay")
    sink = cms_ingest_sink(t, "k")
    _run(spark, sink, BATCHES)
    before = sorted(map(tuple, cms_rollup(spark, t).collect()))
    sink(_all_rows(spark, BATCHES[1]), 1)  # at-least-once replay
    assert sorted(map(tuple, cms_rollup(spark, t).collect())) == before


@pytest.mark.slow
def test_bloom_epoch_partials_roll_up_to_the_batch_filter(spark):
    t = _table(spark, "bloom_partials")
    _run(spark, bloom_ingest_sink(t, "k"), BATCHES)
    rolled = bloom_rollup(spark, t)
    whole = _all_rows(spark, [k for b in BATCHES for k in b])
    direct = sorted(map(tuple, sk.bloom_build(whole, "k").collect()))
    assert sorted(map(tuple, rolled.collect())) == direct
    # and the rolled filter answers probes like the batch one
    cand = _all_rows(spark, ["k0", "k8", "never-seen"])
    got = {r["k"]: r["bloom_pass"]
           for r in sk.bloom_probe(rolled, cand, "k").collect()}
    assert got["k0"] and got["k8"] and not got["never-seen"]


def test_compaction_preserves_every_rollup_answer(spark):
    t = _table(spark, "cms_compact")
    _run(spark, cms_ingest_sink(t, "k"), BATCHES)
    before = sorted(map(tuple, cms_rollup(spark, t).collect()))
    dropped = compact_epochs(spark, t, upto_epoch=2, merge_cols={"cnt": "sum"})
    assert dropped == 1  # epoch 0 folded into the baseline at id 1
    eps = {r[0] for r in spark.table(t)
           .select("_epoch_id").distinct().collect()}
    assert eps == {1, 2}
    assert sorted(map(tuple, cms_rollup(spark, t).collect())) == before


def _num_stream_dir(batches):
    d = tempfile.mkdtemp(prefix="skh_stream_")
    base = time.time() - 100
    for i, vals in enumerate(batches):
        path = os.path.join(d, f"batch_{i}.parquet")
        pq.write_table(
            pa.table({"v": pa.array(vals, pa.float64())}), path)
        os.utime(path, (base + i, base + i))
    return d


@pytest.mark.slow
def test_hist_epoch_partials_roll_up_and_answer_quantiles(spark):
    """Histogram partials land per epoch, SUM-roll up to the one-shot
    batch histogram, replay is idempotent, and the rolled-up relation
    feeds histogram_quantiles directly — stream-lifetime p50 without
    retaining the stream."""
    from snowflake_azure_etl_spark.streaming.sketches import (
        hist_ingest_sink, hist_rollup)
    batches = [[float(i % 50) for i in range(40)],
               [float(i % 97) for i in range(60)],
               [float(i % 13) for i in range(30)]]
    t = _table(spark, "hist_partials")
    sink = hist_ingest_sink(t, "v", 0.0, 100.0, bins=10)
    src = _num_stream_dir(batches)
    stream = (spark.readStream.schema("v double")
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (stream.writeStream.foreachBatch(sink)
         .option("checkpointLocation", tempfile.mkdtemp(prefix="skh_ck_"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rolled = sorted(map(tuple, hist_rollup(spark, t).collect()))
    whole = spark.createDataFrame(
        [(v,) for b in batches for v in b], "v double")
    direct = sorted(map(tuple, sk.equiwidth_histogram(
        whole, "v", 0.0, 100.0, bins=10).collect()))
    assert rolled == direct
    # replay changes nothing
    sink(spark.createDataFrame([(v,) for v in batches[1]], "v double"), 1)
    assert sorted(map(tuple, hist_rollup(spark, t).collect())) == rolled
    # the rollup answers quantiles directly
    got = {r["p"]: r["est"] for r in sk.histogram_quantiles(
        hist_rollup(spark, t), 0.0, 100.0, [0.5], bins=10).collect()}
    ref = {r["p"]: r["est"] for r in sk.histogram_quantiles(
        sk.equiwidth_histogram(whole, "v", 0.0, 100.0, bins=10),
        0.0, 100.0, [0.5], bins=10).collect()}
    assert got == ref
