"""Replay safety of every epoch-sink family that lands through
`streaming.sinks.epoch_sink`: land epochs 0 and 1, snapshot every
output table, replay epoch 1, and every table is unchanged — the
at-least-once foreachBatch redelivery is exactly-once in effect.

The near-dup, CMS, substring, vector and SCD2 families carry their own
replay tests beside their stream == batch tests; this file covers the
rest with one shared protocol."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from snowflake_azure_etl_spark.streaming import ingest, sketches
from snowflake_azure_etl_spark.streaming.sinks import EPOCH_COL
from snowflake_azure_etl_spark.warehouse import ddl

DB = "epoch_replay_db"

RUN = "w1 w2 w3 w4 w5 w6 w7 w8"          # one planted benchmark 8-gram

TRAIN = [
    (1, "the cat sat on the mat"),
    (2, "the cat sat on the hat"),
    (3, "the dog sat on the mat"),
    (4, "the bird flew over the mat"),
]

BATCHES = [
    [(10, "the cat sat on the mat\nshared line"),
     (11, "contaminated " + RUN + " doc")],
    [(12, "the dog sat on the hat\nshared line"),
     (13, RUN + " again\nthe cat sat on the mat")],
]


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _decontam(spark, t):
    from snowflake_azure_etl_spark.operators import decontam
    decontam.eval_gram_set(_docs(spark, [(1000, "x " + RUN + " y")])
                           ).write.saveAsTable(t("eval"))
    outs = [t("clean"), t("audit")]
    return ingest.decontam_ingest_sink(t("eval"), outs[0],
                                       audit_table=outs[1]), outs


def _dsir(spark, t):
    from snowflake_azure_etl_spark.operators import sampling
    corpus = _docs(spark, TRAIN)
    sampling.dsir_bucket_stats(
        sampling.hashed_ngram_counts(corpus, "doc_id", "text"),
        corpus.filter("doc_id < 3"), "doc_id").write.saveAsTable(t("model"))
    return ingest.dsir_ingest_sink(t("model"), t("scored")), [t("scored")]


def _lm(order):
    def build(spark, t):
        from snowflake_azure_etl_spark.operators import lm
        corpus = _docs(spark, TRAIN)
        counts, tot = lm.lm_model_from_counts(
            [lm.gram_counts(lm.tokenized(corpus), n)
             for n in range(1, order + 1)])
        count_tables = [t(f"c{n}") for n in range(1, order + 1)]
        for c, name in zip(counts, count_tables):
            c.write.saveAsTable(name)
        tot.write.saveAsTable(t("tot"))
        lm.lm_selection(lm.lm_bits(corpus, "doc_id", "text", counts, tot,
                                   order), order).write.saveAsTable(t("sel"))
        return ingest.lm_ingest_sink(order, count_tables, t("tot"),
                                     t("sel"), t("scored")), [t("scored")]
    return build


def _gram_counts(spark, t):
    outs = [t("g1"), t("g2"), t("g3")]
    return ingest.lm_counts_ingest_sink(outs), outs


def _unigram(spark, t):
    costs = [(c, 5) for c in "abcdefghijklmnopqrstuvwxyz0123456789"]
    spark.createDataFrame(costs + [("the", 2), ("cat", 3), ("mat", 3)],
                          "piece string, cost long"
                          ).write.saveAsTable(t("pieces"))
    return (ingest.unigram_ingest_sink(t("pieces"), t("seg")),
            [t("seg")])


def _wordpiece(spark, t):
    spark.createDataFrame([(p,) for p in ("the", "cat", "sat", "on", "mat",
                                          "dog", "hat", "line")],
                          "piece string").write.saveAsTable(t("pieces"))
    return (ingest.wordpiece_ingest_sink(t("pieces"), t("seg")),
            [t("seg")])


def _word_freqs(spark, t):
    return ingest.unigram_counts_ingest_sink(t("words")), [t("words")]


def _line_dedup(spark, t):
    outs = [t("winners"), t("scrubbed")]
    return ingest.line_dedup_ingest_sink(*outs, n_shards=4), outs


def _bloom(spark, t):
    return sketches.bloom_ingest_sink(t("bloom"), "text"), [t("bloom")]


def _hist(spark, t):
    return (sketches.hist_ingest_sink(t("hist"), "doc_id", 0.0, 20.0),
            [t("hist")])


FAMILIES = {
    "decontam": _decontam, "dsir": _dsir, "lm2": _lm(2), "lm3": _lm(3),
    "gram_counts": _gram_counts, "unigram": _unigram,
    "wordpiece": _wordpiece, "word_freqs": _word_freqs,
    "line_dedup": _line_dedup, "bloom": _bloom, "hist": _hist,
}

#: families whose two epochs plus replay take 3 s or more (4-core box)
SLOW = {"decontam", "dsir", "lm2", "lm3", "gram_counts", "unigram",
        "wordpiece", "line_dedup"}


def _snapshot(spark, table):
    return sorted(repr(tuple(r)) for r in spark.table(table).collect())


@pytest.mark.parametrize("family", [
    pytest.param(f, marks=pytest.mark.slow) if f in SLOW else f
    for f in FAMILIES])
def test_replayed_epoch_leaves_every_table_unchanged(spark, family):
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {DB}")

    seen = set()

    def t(name):
        full = f"{DB}.{family}_{name}"
        if full not in seen:
            seen.add(full)
            ddl.drop_table(spark, full)
        return full

    sink, outputs = FAMILIES[family](spark, t)
    for epoch, rows in enumerate(BATCHES):
        sink(_docs(spark, rows), epoch)
    landed = {o: _snapshot(spark, o) for o in outputs}
    for o in outputs:    # each table holds epoch 1 rows to duplicate
        assert spark.table(o).filter(F.col(EPOCH_COL) == 1).count() > 0

    sink(_docs(spark, BATCHES[1]), 1)
    assert {o: _snapshot(spark, o) for o in outputs} == landed
