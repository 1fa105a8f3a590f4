"""The near-dup ingest sink (streaming/neardup.py) called directly on
static DataFrames, one call per epoch — the default-lane companion of
tests/test_streaming_neardup.py, which drives it through a real stream.

Pins the sink's probe contract: the row counts it attests are exact, so
the bucket-width guard drops out only when it provably cannot fire, and
a forced guard yields the same pairs; the one folded probe per band
emits exactly the batch-vs-index plus intra-batch candidate set,
including across a bucket that straddles ``max_bucket`` over the
index/batch split; replaying an epoch changes nothing."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from snowflake_azure_etl_spark.operators import dedup
from snowflake_azure_etl_spark.streaming import neardup
from snowflake_azure_etl_spark.streaming.sinks import EPOCH_COL
from snowflake_azure_etl_spark.warehouse import ddl

BANDS, ROWS, SHINGLE_N = 4, 2, 3   # the sink's defaults
SCHEMA = "doc_id long, text string"
FOX = "the quick brown fox jumps over the lazy dog tonight"
FRESH = "fresh streaming document with nothing in common at all"
PARQ = "totally unrelated first epoch content about parquet files"
DUP = "same exact words in every single one of these documents"

#: no bucket wider than 3 (the FRESH family)
EPOCHS = [
    [(1, FOX), (2, PARQ), (3, "window functions over ordered frames"),
     (4, "broadcast joins keep the big side in place")],
    [(10, FOX.replace("tonight", "today")), (11, FRESH),
     (14, "checkpoint files record committed offsets")],
    [(20, PARQ + "!"), (21, FRESH + "?"), (22, FRESH + "?!")],
]

#: the DUP bucket holds 3 index docs and 2 batch docs at epoch 1: total
#: width 5, while either side alone stays under max_bucket=4
STRADDLE = [
    [(1, FOX), (3, DUP), (4, DUP), (5, DUP)],
    [(10, FOX.replace("tonight", "today")), (12, DUP), (13, DUP)],
]


def _tables(spark, db):
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    names = (f"{db}.nd_index", f"{db}.nd_cands")
    for t in names:
        ddl.drop_table(spark, t)
    return names


def _cands(spark, cand_table, epoch=None):
    df = spark.table(cand_table)
    if epoch is not None:
        df = df.filter(F.col(EPOCH_COL) == epoch)
    return sorted(tuple(r) for r in
                  df.select("id_new", "id_match", "source").collect())


def _batch_keys(spark, rows):
    sig = dedup.minhash_signature_shingled(
        spark.createDataFrame(rows, SCHEMA), "doc_id", "text",
        k=BANDS * ROWS, n=SHINGLE_N)
    return [(r["_id"], [r[f"_k{b}"] for b in range(BANDS)]) for r in
            dedup.band_key_index(sig, "doc_id", BANDS, ROWS).collect()]


def _cross_plus_intra(index, batch, max_bucket):
    """The candidate set as two separate legs: every batch doc against
    every index doc (any other id) and against every later batch doc,
    a pair counted when ANY band key matches in a bucket whose width
    over index ∪ batch is at most ``max_bucket``."""
    total = index + batch
    width = [Counter(ks[b] for _, ks in total) for b in range(BANDS)]

    def near(ka, kb):
        return any(ka[b] == kb[b] and width[b][kb[b]] <= max_bucket
                   for b in range(BANDS))

    cross = [(i, j, "index") for i, ki in batch for j, kj in index
             if i != j and near(ki, kj)]
    intra = [(i, j, "batch") for i, ki in batch for j, kj in batch
             if i < j and near(ki, kj)]
    return sorted(cross + intra)


def _spy(monkeypatch):
    """Record the attestations the sink hands the probe."""
    seen = []
    probe = neardup.incremental_near_dup_candidates

    def spy(*args, **kw):
        seen.append((kw["n_new"], kw["n_index"], kw["max_bucket"]))
        return probe(*args, **kw)

    monkeypatch.setattr(neardup, "incremental_near_dup_candidates", spy)
    return seen


def test_attested_and_forced_guard_paths_agree(spark, monkeypatch):
    seen = _spy(monkeypatch)
    got = {}
    for max_bucket in (10000, 3):
        index_table, cand_table = _tables(spark, "nd_sink_guard_db")
        sink = neardup.near_dup_ingest_sink(index_table, cand_table,
                                            max_bucket=max_bucket)
        for e, rows in enumerate(EPOCHS):
            sink(spark.createDataFrame(rows, SCHEMA), e)
        got[max_bucket] = _cands(spark, cand_table)
    # the attestations are exact: the batch size and the index rows
    # below the epoch
    prior = [sum(len(b) for b in EPOCHS[:e]) for e in range(len(EPOCHS))]
    assert [(n, i) for n, i, _ in seen] == \
        [(len(b), p) for b, p in zip(EPOCHS, prior)] * 2
    # max_bucket 10000: the guard is provably idle and skipped; 3: it
    # runs on every epoch (corpus wider than 3) and drops nothing
    assert all(n + i <= m for n, i, m in seen[:3])
    assert all(n + i > m for n, i, m in seen[3:])
    assert got[10000] == got[3]
    assert {(10, 1, "index"), (20, 2, "index"), (21, 11, "index"),
            (21, 22, "batch")} <= set(got[3])


@pytest.mark.parametrize("max_bucket", [4, 5])
def test_folded_probe_equals_cross_plus_intra_on_straddling_bucket(
        spark, max_bucket):
    index_table, cand_table = _tables(spark, "nd_sink_straddle_db")
    sink = neardup.near_dup_ingest_sink(index_table, cand_table,
                                        max_bucket=max_bucket)
    index = []
    for e, rows in enumerate(STRADDLE):
        batch = _batch_keys(spark, rows)
        sink(spark.createDataFrame(rows, SCHEMA), e)
        want = _cross_plus_intra(index, batch, max_bucket)
        assert _cands(spark, cand_table, e) == want
        index += batch
    dup_pairs = {(a, b) for a, b, _ in _cands(spark, cand_table, 1)
                 if {a, b} <= {3, 4, 5, 12, 13}}
    # width 5 straddles 4 (dropped whole) and fits 5 (kept)
    assert len(dup_pairs) == (0 if max_bucket == 4 else 7)


def test_epoch_replay_changes_nothing(spark):
    index_table, cand_table = _tables(spark, "nd_sink_replay_db")
    sink = neardup.near_dup_ingest_sink(index_table, cand_table)
    for e, rows in enumerate(EPOCHS):
        sink(spark.createDataFrame(rows, SCHEMA), e)
    before_c = sorted(map(tuple, spark.table(cand_table).collect()))
    before_i = sorted(map(tuple, spark.table(index_table).collect()))
    sink(spark.createDataFrame(EPOCHS[1], SCHEMA), 1)
    assert sorted(map(tuple, spark.table(cand_table).collect())) == before_c
    assert sorted(map(tuple, spark.table(index_table).collect())) == before_i
