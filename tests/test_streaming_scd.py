"""Streaming SCD2 maintenance (streaming/scd.py): a 3-batch CDC stream
folded through foreachBatch must produce exactly the state of the
batch scd2_apply chain, and replaying an epoch must change nothing."""

from __future__ import annotations

import glob
import os
import tempfile
import time

import pytest
from pyspark.sql import functions as F

from snowflake_azure_etl_spark.streaming.scd import scd2_stream_sink
from snowflake_azure_etl_spark.warehouse import ddl, scd

#: streaming micro-batch waits dominate the suite wall-clock (VERDICT r13
#: next #6): the whole module is `slow` — included by default, deselect
#: with -m 'not slow' for the fast loop (pytest.ini)
pytestmark = pytest.mark.slow


BATCHES = [
    # (bk, segment) update rows per CDC batch
    [(1, "b"), (5, "z")],                 # move bk=1, new member bk=5
    [(2, "b"), (1, "c")],                 # move bk=2, move bk=1 again
    [(6, "q"), (3, "a")],                 # new member, no-op (3 already a)
]


@pytest.fixture()
def seeded(spark):
    db = "scd_stream_db"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    table = f"{db}.dim_stream_scd2"
    ddl.drop_table(spark, table)
    members = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "a"), (4, "b")], "bk long, segment string")
    state = scd.scd2_seed(members, key_col="k", business_keys=["bk"])
    state.write.mode("overwrite").format("parquet").saveAsTable(table)
    return table


def _stream_dir():
    d = tempfile.mkdtemp(prefix="scd_cdc_")
    base = time.time() - 100
    for i, rows in enumerate(BATCHES):
        # one parquet file per CDC batch, mtime-pinned so the file
        # source delivers them in batch order
        import pyarrow as pa
        import pyarrow.parquet as pq
        t = pa.table({"bk": pa.array([r[0] for r in rows], pa.int64()),
                      "segment": pa.array([r[1] for r in rows])})
        path = os.path.join(d, f"batch_{i}.parquet")
        pq.write_table(t, path)
        os.utime(path, (base + i, base + i))
    return d


def _expected(spark, table_seed_state):
    state = table_seed_state
    for i, rows in enumerate(BATCHES):
        batch = spark.createDataFrame(rows, "bk long, segment string")
        state = scd.scd2_apply(state, batch, key_col="k",
                               business_keys=["bk"],
                               tracked_cols=["segment"], batch_id=i + 1)
    return state


def test_streaming_scd2_matches_batch_chain_and_replays(spark, seeded):
    table = seeded
    sink = scd2_stream_sink(table, key_col="k", business_keys=["bk"],
                            tracked_cols=["segment"])
    d = _stream_dir()
    stream = (spark.readStream.format("parquet")
              .schema("bk long, segment string")
              .option("maxFilesPerTrigger", "1").load(d))
    q = stream.writeStream.foreachBatch(sink).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    members = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "a"), (4, "b")], "bk long, segment string")
    want = sorted(map(tuple, _expected(
        spark, scd.scd2_seed(members, key_col="k",
                             business_keys=["bk"])).collect()))
    got = sorted(map(tuple, spark.table(table).collect()))
    assert got == want

    # contract spot-checks: bk=1 has three versions (a -> b -> c),
    # exactly one current; new members 5 and 6 are current v1 rows
    hist = spark.table(table).filter(F.col("bk") == 1).collect()
    assert len(hist) == 3 and sum(r["is_current"] for r in hist) == 1
    cur = {r["bk"]: r["segment"]
           for r in spark.table(table).filter("is_current").collect()}
    assert cur == {1: "c", 2: "b", 3: "a", 4: "b", 5: "z", 6: "q"}

    # epoch REPLAY (foreachBatch's at-least-once): re-running the last
    # batch with its original epoch id must leave the state unchanged
    last = spark.createDataFrame(BATCHES[-1], "bk long, segment string")
    sink(last, len(BATCHES) - 1)
    assert sorted(map(tuple, spark.table(table).collect())) == want
