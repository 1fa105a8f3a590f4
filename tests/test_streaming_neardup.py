"""Streaming near-dup ingestion (streaming/neardup.py): a 3-batch doc
stream folded through foreachBatch finds cross-epoch and intra-epoch
near-dup candidates, grows the band-key index per epoch, and replaying
an epoch changes nothing."""

from __future__ import annotations

import os
import tempfile
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from snowflake_azure_etl_spark.streaming.neardup import near_dup_ingest_sink
from snowflake_azure_etl_spark.warehouse import ddl

#: streaming micro-batch waits dominate the suite wall-clock (VERDICT r13
#: next #6): the whole module is `slow` — included by default, deselect
#: with -m 'not slow' for the fast loop (pytest.ini)
pytestmark = pytest.mark.slow


BATCHES = [
    [(1, "the quick brown fox jumps over the lazy dog tonight"),
     (2, "totally unrelated first epoch content about parquet files")],
    [(10, "the quick brown fox jumps over the lazy dog today"),   # ~1
     (11, "fresh streaming document with nothing in common at all")],
    [(20, "totally unrelated first epoch content about parquet files!"),  # ~2
     (21, "fresh streaming document with nothing in common at all?"),     # ~11
     (22, "fresh streaming document with nothing in common at all?!")],   # ~21+11
]


@pytest.fixture()
def tables(spark):
    db = "neardup_stream_db"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    names = (f"{db}.nd_index", f"{db}.nd_cands")
    for t in names:
        ddl.drop_table(spark, t)
    return names


def _stream_dir():
    d = tempfile.mkdtemp(prefix="nd_docs_")
    base = time.time() - 100
    for i, rows in enumerate(BATCHES):
        t = pa.table({"doc_id": pa.array([r[0] for r in rows], pa.int64()),
                      "text": pa.array([r[1] for r in rows])})
        path = os.path.join(d, f"batch_{i}.parquet")
        pq.write_table(t, path)
        os.utime(path, (base + i, base + i))
    return d


def _run_stream(spark, index_table, cand_table):
    src = _stream_dir()
    schema = "doc_id long, text string"
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    sink = near_dup_ingest_sink(index_table, cand_table)
    q = (stream.writeStream.foreachBatch(sink)
         .option("checkpointLocation", tempfile.mkdtemp(prefix="nd_ck_"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    return sink


def _cand_set(spark, cand_table):
    return {(r["id_new"], r["id_match"], r["source"])
            for r in spark.table(cand_table).collect()}


def test_stream_finds_cross_and_intra_epoch_dups(spark, tables):
    index_table, cand_table = tables
    _run_stream(spark, index_table, cand_table)
    got = _cand_set(spark, cand_table)
    assert (10, 1, "index") in got        # epoch1 doc vs epoch0 index
    assert (20, 2, "index") in got        # epoch2 doc vs epoch0 index
    assert (21, 11, "index") in got       # epoch2 doc vs epoch1 index
    assert (21, 22, "batch") in got or (22, 21, "batch") in got
    # unrelated docs never pair
    assert not [p for p in got if {p[0], p[1]} == {10, 11}]
    # index grew per epoch: every ingested doc has exactly one key row
    idx = spark.table(index_table)
    assert idx.count() == sum(len(b) for b in BATCHES)
    assert idx.select("_id").distinct().count() == idx.count()


def test_epoch_replay_changes_nothing(spark, tables):
    index_table, cand_table = tables
    sink = _run_stream(spark, index_table, cand_table)
    before_c = sorted(map(tuple, spark.table(cand_table).collect()))
    before_i = sorted(map(tuple, spark.table(index_table).collect()))
    # deliberate at-least-once replay of the middle epoch
    replay = spark.createDataFrame(BATCHES[1], "doc_id long, text string")
    sink(replay, 1)
    assert sorted(map(tuple, spark.table(cand_table).collect())) == before_c
    assert sorted(map(tuple, spark.table(index_table).collect())) == before_i
