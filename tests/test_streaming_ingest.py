"""Streaming JSONL ingestion (streaming/ingest.py): file-arrival
micro-batches, per-row quarantine of malformed lines, batch-reader
equivalence of the good leg, and the scrub composition (incl. the
stateful dedup stage downstream)."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import types as T

from snowflake_azure_etl_spark.operators import segment as sg
from snowflake_azure_etl_spark.sources import jsonl_format
from snowflake_azure_etl_spark.streaming import ingest
from snowflake_azure_etl_spark.streaming.dedup import dedup_stream

#: streaming micro-batch waits dominate the suite wall-clock (VERDICT r13
#: next #6): tests that wait on micro-batches are `slow` (deselected by
#: default, pytest.ini); the quick ones run in the default lane


SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
])

FILES = {
    "a.jsonl": [
        '{"doc_id": 1, "text": "contact me at bob@example.com today"}',
        '{"doc_id": 2, "text": "clean document"}',
    ],
    "b.jsonl": [
        '{broken line',
        '{"doc_id": 3, "text": "clean document"}',
        '{"doc_id": 4, "text": ""}',
    ],
    "c.jsonl": [
        '{"doc_id": 5, "text": "another fine document"}',
    ],
}


@pytest.fixture(scope="module")
def drop_dir():
    d = tempfile.mkdtemp(prefix="jsonl_drop_")
    for name, lines in FILES.items():
        with open(os.path.join(d, name), "w") as f:
            f.write("\n".join(lines) + "\n")
    return d


def _run(df, name):
    q = (df.writeStream.outputMode("append").format("memory")
         .queryName(name).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return df.sparkSession.table(name)


def test_stream_matches_batch_reader(spark, drop_dir):
    stream = ingest.read_jsonl_stream(spark, drop_dir + "/*.jsonl",
                                      SCHEMA, max_files_per_trigger=1)
    good, bad = ingest.split_quarantine(stream)
    got = _run(good, "t_ingest_good")
    want = (jsonl_format.read_jsonl(spark, drop_dir + "/*.jsonl", SCHEMA)
            .filter(f"{jsonl_format.CORRUPT_COL} IS NULL")
            .drop(jsonl_format.CORRUPT_COL))
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))


def test_quarantine_leg_captures_bad_lines(spark, drop_dir):
    stream = ingest.read_jsonl_stream(spark, drop_dir + "/*.jsonl",
                                      SCHEMA)
    _, bad = ingest.split_quarantine(stream)
    rows = _run(bad, "t_ingest_bad").collect()
    assert len(rows) == 1
    assert rows[0]["raw_line"] == "{broken line"
    assert rows[0]["src_file"].endswith("b.jsonl")


def test_scrub_composition_with_stateful_dedup(spark, drop_dir):
    """good → scrub (drop empties, redact PII) → stateful exact dedup:
    doc 4 (empty) dies at the scrub, docs 2/3 share content so only
    the first-arriving survives dedup, doc 1's email is redacted."""
    stream = ingest.read_jsonl_stream(spark, drop_dir + "/*.jsonl",
                                      SCHEMA, max_files_per_trigger=1)
    good, _ = ingest.split_quarantine(stream)
    scrubbed = ingest.scrubbed_ingest(good)
    rows = _run(dedup_stream(scrubbed, "text"), "t_ingest_scrub").collect()
    by_id = {r["doc_id"]: r["text"] for r in rows}
    assert 4 not in by_id                      # empty doc dropped
    assert len({2, 3} & set(by_id)) == 1       # dup content: one survives
    assert "bob@example.com" not in by_id[1]   # PII redacted
    assert 5 in by_id


def test_new_file_arrival_extends_stream(spark, drop_dir):
    """A file dropped after the first drain is picked up as its own
    micro-batch on the next drain — the continuous-ingest contract."""
    stream = ingest.read_jsonl_stream(spark, drop_dir + "/*.jsonl",
                                      SCHEMA, max_files_per_trigger=1)
    good, _ = ingest.split_quarantine(stream)
    q = (good.writeStream.outputMode("append").format("memory")
         .queryName("t_ingest_late").start())
    try:
        q.processAllAvailable()
        n1 = spark.table("t_ingest_late").count()
        with open(os.path.join(drop_dir, "d.jsonl"), "w") as f:
            f.write('{"doc_id": 9, "text": "late arrival"}\n')
        q.processAllAvailable()
        n2 = spark.table("t_ingest_late").count()
    finally:
        q.stop()
        os.remove(os.path.join(drop_dir, "d.jsonl"))
    assert n2 == n1 + 1


@pytest.mark.slow
def test_scored_ingest_matches_batch_probe(spark, drop_dir):
    """Train-offline / score-online: a probe trained on the batch
    corpus gates the stream, and every streamed score equals the
    batch `score_with` score bit-for-bit (the literal-folded margin
    is the identical arithmetic)."""
    from pyspark.sql import functions as F

    from snowflake_azure_etl_spark.operators import classifier, text

    batch = jsonl_format.read_jsonl(spark, drop_dir + "/*.jsonl", SCHEMA)
    batch = batch.filter(F.length("text") > 0)
    feats = [text.stopword_ratio("text"),
             F.least(F.length("text").cast("double") / 20, F.lit(1.0))]
    wdf = classifier.train_margin_classifier(
        batch, feats, F.length("text") > 15, n_iter=3)
    w = classifier.weights_as_literals(wdf)

    stream = ingest.read_jsonl_stream(spark, drop_dir + "/*.jsonl",
                                      SCHEMA, max_files_per_trigger=1)
    good, _ = ingest.split_quarantine(stream)
    good = good.filter(F.length("text") > 0)
    got = {r["doc_id"]: r["clf_score"] for r in
           _run(ingest.scored_ingest(good, w, feats, threshold=None),
                "t_ingest_scored").collect()}
    want = {r["doc_id"]: r["clf_score"] for r in
            classifier.score_with(batch, feats, wdf).collect()}
    assert got == want                      # bit-exact, incl. every doc
    # and the gate actually filters: pick the median score as threshold
    thr = sorted(want.values())[len(want) // 2]
    kept = {r["doc_id"] for r in
            _run(ingest.scored_ingest(good, w, feats, threshold=thr),
                 "t_ingest_gated").collect()}
    assert kept == {d for d, s in want.items() if s >= thr}
    assert 0 < len(kept) < len(want)


@pytest.mark.slow
def test_decontam_ingest_matches_batch_operator(spark):
    """VERDICT r10 #6: per-micro-batch n-gram decontamination against
    the persisted benchmark gram index — the streamed clean corpus
    equals the batch `decontaminate` over the concatenated stream
    (decontam is stateless across batches), the audit table carries
    the batch operator's hit counts, and an epoch replay is
    idempotent."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from snowflake_azure_etl_spark.operators import decontam
    from snowflake_azure_etl_spark.streaming.sinks import EPOCH_COL
    from snowflake_azure_etl_spark.warehouse import ddl

    run = "w1 w2 w3 w4 w5 w6 w7 w8"              # one benchmark 8-gram
    eval_rows = [(1000, "prefix " + run + " suffix")]
    batches = [
        [(1, "contaminated doc " + run + " indeed"),
         (2, "a perfectly clean document body here")],
        [(10, run + " again in epoch two"),
         (11, "another clean one entirely")],
    ]

    def table(name):
        db = "decontam_stream_db"
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
        t = f"{db}.{name}"
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        ddl.drop_orphan_location(spark, t)
        return t

    ev_docs = spark.createDataFrame(eval_rows, "doc_id long, text string")
    ev_table = table("dc_eval_grams")
    decontam.eval_gram_set(ev_docs).write.saveAsTable(ev_table)

    src = tempfile.mkdtemp(prefix="dc_stream_")
    base = time.time() - 100
    for i, rows in enumerate(batches):
        p = os.path.join(src, f"b{i}.parquet")
        pq.write_table(pa.table({
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
        }), p)
        os.utime(p, (base + i, base + i))

    clean_t, audit_t = table("dc_clean"), table("dc_audit")
    sink = ingest.decontam_ingest_sink(ev_table, clean_t,
                                       audit_table=audit_t)
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (stream.writeStream.foreachBatch(sink)
         .option("checkpointLocation", tempfile.mkdtemp(prefix="dc_ck_"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    all_rows = [r for b in batches for r in b]
    whole = spark.createDataFrame(all_rows, "doc_id long, text string")
    batch_clean = {r["doc_id"] for r in
                   decontam.decontaminate(whole, ev_docs).collect()}
    got_clean = {r["doc_id"] for r in spark.table(clean_t).collect()}
    assert got_clean == batch_clean == {2, 11}
    batch_hits = {(r["doc_id"], r["contam_hits"]) for r in
                  decontam.contamination_hits(whole, ev_docs).collect()}
    got_hits = {(r["doc_id"], r["contam_hits"]) for r in
                spark.table(audit_t).collect()}
    assert got_hits == batch_hits and {d for d, _ in got_hits} == {1, 10}
    # replaying epoch 0 overwrites its partition — nothing duplicates
    sink(spark.createDataFrame(batches[0], "doc_id long, text string"), 0)
    assert ({r["doc_id"] for r in spark.table(clean_t).collect()}
            == batch_clean)
    assert (spark.table(clean_t).filter(F.col(EPOCH_COL) == 0).count()
            == 1)


@pytest.mark.slow
def test_dsir_ingest_matches_batch_operator(spark):
    """VERDICT r11 #6: per-micro-batch DSIR importance scoring against
    the persisted (bucket, lam) model — streamed scores equal the
    batch `dsir_log_weights` over the concatenated stream bit-for-bit
    (scoring is stateless across batches), keep_only applies the
    row-local score>0 selection at ingest, and an epoch replay is
    idempotent."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from snowflake_azure_etl_spark.operators import sampling
    from snowflake_azure_etl_spark.streaming.sinks import EPOCH_COL
    from snowflake_azure_etl_spark.warehouse import ddl

    train = [
        (1, "the quick brown fox jumps over the lazy dog", "en"),
        (2, "the slow brown dog naps under the tall tree", "en"),
        (3, "der schnelle braune fuchs springt sehr hoch", "de"),
        (4, "le renard brun rapide saute par dessus tout", "fr"),
    ]
    batches = [
        [(10, "the quick brown fox naps under the dog"),
         (11, "der braune fuchs springt hoch")],
        [(12, "the lazy dog jumps over the tall tree"),
         (13, "le renard rapide saute")],
    ]

    def table(name):
        db = "dsir_stream_db"
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
        t = f"{db}.{name}"
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        ddl.drop_orphan_location(spark, t)
        return t

    corpus = spark.createDataFrame(train,
                                   "doc_id long, text string, lang string")
    stats = sampling.dsir_bucket_stats(
        corpus, corpus.filter(F.col("lang") == "en"), "doc_id", "text")
    model_t = table("dsir_model")
    stats.write.saveAsTable(model_t)

    src = tempfile.mkdtemp(prefix="dsir_stream_")
    base = time.time() - 100
    for i, rows in enumerate(batches):
        p = os.path.join(src, f"b{i}.parquet")
        pq.write_table(pa.table({
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
        }), p)
        os.utime(p, (base + i, base + i))

    scored_t, kept_t = table("dsir_scored"), table("dsir_kept")
    for tgt, keep in ((scored_t, False), (kept_t, True)):
        sink = ingest.dsir_ingest_sink(model_t, tgt, keep_only=keep)
        stream = (spark.readStream.schema("doc_id long, text string")
                  .option("maxFilesPerTrigger", 1).parquet(src))
        q = (stream.writeStream.foreachBatch(sink)
             .option("checkpointLocation",
                     tempfile.mkdtemp(prefix="dsir_ck_"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    all_rows = [r for b in batches for r in b]
    whole = spark.createDataFrame(all_rows, "doc_id long, text string")
    want = {(r["doc_id"], r["dsir_score"]) for r in
            sampling.dsir_log_weights(whole, stats, "doc_id", "text")
            .collect()}
    got = {(r["doc_id"], r["dsir_score"]) for r in
           spark.table(scored_t).collect()}
    assert got == want and len(got) == 4
    # keep_only: exactly the score>0 subset, with identical scores
    got_kept = {(r["doc_id"], r["dsir_score"]) for r in
                spark.table(kept_t).collect()}
    assert got_kept == {(d, s) for d, s in want if s > 0}
    assert 0 < len(got_kept) < len(want)  # the gate actually splits
    # replaying epoch 0 overwrites its partition — nothing duplicates
    sink0 = ingest.dsir_ingest_sink(model_t, scored_t)
    sink0(spark.createDataFrame(batches[0], "doc_id long, text string"), 0)
    assert ({r["doc_id"] for r in spark.table(scored_t).collect()}
            == {d for d, _ in want})
    assert (spark.table(scored_t).filter(F.col(EPOCH_COL) == 0).count()
            == 2)


@pytest.mark.slow
def test_lm_ingest_matches_batch_operator(spark):
    """r12: per-micro-batch bigram-LM perplexity scoring against the
    persisted model + the persisted TRAIN-corpus threshold — streamed
    scores equal the batch operator over the concatenated stream
    bit-for-bit, keep_only drops exactly the over-threshold docs, and
    an epoch replay is idempotent."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from snowflake_azure_etl_spark.operators import lm
    from snowflake_azure_etl_spark.streaming.sinks import EPOCH_COL
    from snowflake_azure_etl_spark.warehouse import ddl

    train = [
        (1, "the cat sat on the mat"),
        (2, "the cat sat on the hat"),
        (3, "the dog sat on the mat"),
        (4, "the bird flew over the mat"),
    ]
    batches = [
        [(10, "the cat sat on the mat"),        # fluent under the model
         (11, "zq xv jj kw pq mn zz yy")],      # gibberish
        [(12, "the dog sat on the hat"),
         (13, "word")],                         # unscorable: kept
    ]

    def table(name):
        db = "lm_stream_db"
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
        t = f"{db}.{name}"
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        ddl.drop_orphan_location(spark, t)
        return t

    corpus = spark.createDataFrame(train, "doc_id long, text string")
    tk = lm.tokenized(corpus)
    (uni, bi), tot = lm.lm_model_from_counts(
        [lm.gram_counts(tk, n) for n in (1, 2)])
    sc_train = lm.lm_bits(corpus, "doc_id", "text", [uni, bi], tot, 2)
    thr = lm.lm_corpus_threshold(sc_train)
    uni_t, bi_t = table("lm_uni"), table("lm_bi")
    tot_t, thr_t = table("lm_tot"), table("lm_thr")
    uni.write.saveAsTable(uni_t); bi.write.saveAsTable(bi_t)
    tot.write.saveAsTable(tot_t); thr.write.saveAsTable(thr_t)

    src = tempfile.mkdtemp(prefix="lm_stream_")
    base = time.time() - 100
    for i, rows in enumerate(batches):
        p = os.path.join(src, f"b{i}.parquet")
        pq.write_table(pa.table({
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
        }), p)
        os.utime(p, (base + i, base + i))

    scored_t, kept_t = table("lm_scored_t"), table("lm_kept_t")
    for tgt, keep in ((scored_t, False), (kept_t, True)):
        sink = ingest.lm_ingest_sink(2, [uni_t, bi_t], tot_t, thr_t, tgt,
                                     keep_only=keep)
        stream = (spark.readStream.schema("doc_id long, text string")
                  .option("maxFilesPerTrigger", 1).parquet(src))
        q = (stream.writeStream.foreachBatch(sink)
             .option("checkpointLocation",
                     tempfile.mkdtemp(prefix="lm_ck_"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    all_rows = [r for b in batches for r in b]
    whole = spark.createDataFrame(all_rows, "doc_id long, text string")
    want = {(r["doc_id"], r["lm_bits"], r["lm_ppl_bits"], r["lm_keep"])
            for r in lm.lm_keep(
                lm.lm_bits(whole, "doc_id", "text",
                           [spark.table(uni_t), spark.table(bi_t)],
                           spark.table(tot_t), 2),
                spark.table(thr_t)).collect()}
    got = {(r["doc_id"], r["lm_bits"], r["lm_ppl_bits"], r["lm_keep"])
           for r in spark.table(scored_t)
           .select("doc_id", "lm_bits", "lm_ppl_bits", "lm_keep")
           .collect()}
    assert got == want and len(got) == 4
    kept = {r["doc_id"] for r in spark.table(kept_t).collect()}
    assert kept == {d for d, _, _, k in want if k}
    assert 11 not in kept          # gibberish cut at the door
    assert 13 in kept              # unscorable short doc kept
    # replaying epoch 0 overwrites its partition — nothing duplicates
    sink0 = ingest.lm_ingest_sink(2, [uni_t, bi_t], tot_t, thr_t,
                                  scored_t)
    sink0(spark.createDataFrame(batches[0], "doc_id long, text string"), 0)
    assert spark.table(scored_t).count() == 4
    assert (spark.table(scored_t).filter(F.col(EPOCH_COL) == 0).count()
            == 2)

@pytest.mark.slow
def test_lm_counts_ingest_grows_model(spark):
    """r12 second pass: per-micro-batch gram-count partials grow the
    LM model artifact — the rollup equals batch counting of the
    concatenated stream for all three gram families, the floored
    serving model derived from the rollup matches the batch-trained
    one, and an epoch replay is idempotent."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from snowflake_azure_etl_spark.operators import lm
    from snowflake_azure_etl_spark.streaming.sinks import EPOCH_COL
    from snowflake_azure_etl_spark.warehouse import ddl

    batches = [
        [(1, "the cat sat on the mat"),
         (2, "the cat sat on the hat")],
        [(3, "the dog sat on the mat"),
         (4, "zq xv jj kw")],
        [(5, "the cat sat on the mat")],
    ]

    def table(name):
        db = "lmc_stream_db"
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
        t = f"{db}.{name}"
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        ddl.drop_orphan_location(spark, t)
        return t

    uni_t, bi_t, tri_t = table("uni"), table("bi"), table("tri")
    src = tempfile.mkdtemp(prefix="lmc_stream_")
    base = time.time() - 100
    for i, rows in enumerate(batches):
        p = os.path.join(src, f"b{i}.parquet")
        pq.write_table(pa.table({
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
        }), p)
        os.utime(p, (base + i, base + i))

    sink = ingest.lm_counts_ingest_sink([uni_t, bi_t, tri_t])
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (stream.writeStream.foreachBatch(sink)
         .option("checkpointLocation", tempfile.mkdtemp(prefix="lmc_ck_"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    all_rows = [r for b in batches for r in b]
    whole = spark.createDataFrame(all_rows, "doc_id long, text string")
    tk = lm.tokenized(whole)
    uni_want, bi_want, tri_want = (lm.gram_counts(tk, n)
                                   for n in (1, 2, 3))

    def asmap(df, keys):
        return {tuple(r[k] for k in keys): r["c"] for r in df.collect()}

    uni_roll = ingest.rollup_gram_counts(spark, uni_t)
    bi_roll = ingest.rollup_gram_counts(spark, bi_t)
    tri_roll = ingest.rollup_gram_counts(spark, tri_t)
    assert asmap(uni_roll, ("tok",)) == asmap(uni_want, ("tok",))
    assert asmap(bi_roll, ("w1", "w2")) == asmap(bi_want, ("w1", "w2"))
    assert asmap(tri_roll, ("w1", "w2", "w3")) == \
        asmap(tri_want, ("w1", "w2", "w3"))

    # floored serving model from the rollup == batch-trained model
    (uni_m, bi_m), tot_m = lm.lm_model_from_counts([uni_roll, bi_roll])
    (uni_b, bi_b), tot_b = lm.lm_model_from_counts([uni_want, bi_want])
    assert asmap(uni_m, ("tok",)) == asmap(uni_b, ("tok",))
    assert asmap(bi_m, ("w1", "w2")) == asmap(bi_b, ("w1", "w2"))
    assert tot_m.collect() == tot_b.collect()

    # r13 (VERDICT r12 #7): selection-model maintenance — tercile cuts
    # refreshed from the ROLLED-UP counts against the landed corpus
    # equal a batch retrain over the concatenated stream exactly, so a
    # pipeline growing its model via this sink has a sanctioned cuts-
    # refresh path instead of a frozen train-time selection
    cuts_roll = lm.lm_selection_from_rollup(
        whole, [uni_roll, bi_roll, tri_roll], 3)
    model3, tot3 = lm.lm_model_from_counts([uni_want, bi_want, tri_want])
    sc_b = lm.lm_bits(whole, "doc_id", "text", model3, tot3, 3)
    assert cuts_roll.collect() == lm.lm_terciles(sc_b).collect()

    # replaying epoch 0 overwrites its partitions — rollup unchanged
    sink(spark.createDataFrame(batches[0], "doc_id long, text string"), 0)
    assert asmap(ingest.rollup_gram_counts(spark, uni_t), ("tok",)) == \
        asmap(uni_want, ("tok",))
    assert (spark.table(uni_t).filter(F.col(EPOCH_COL) == 0)
            .groupBy().count().collect()[0][0] > 0)


@pytest.mark.slow
def test_wordpiece_ingest_matches_batch(spark):
    """The WordPiece sink == the batch greedy encode over the same
    model table (stream==batch, the family law), [UNK] words landing
    visibly in the data, and k derived from the longest persisted
    piece (the unigram sink's drift pin)."""
    from snowflake_azure_etl_spark.operators import unigram as ug
    from snowflake_azure_etl_spark.operators import wordpiece as wp
    from snowflake_azure_etl_spark.warehouse import ddl

    train = spark.createDataFrame(
        [(1, "planet planet plan")], "doc_id long, text string")
    docs = spark.createDataFrame(
        [(1, "planet plan"), (2, "planet zq")],
        "doc_id long, text string")
    model = ug._train(train, "text", 2, 6, 16)   # pieces up to 6 chars
    assert any(len(p) > 4 for p, _, _ in model.pieces)
    db = "wp_stream_db"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    for name in ("pieces", "seg"):
        spark.sql(f"DROP TABLE IF EXISTS {db}.{name}")
        ddl.drop_orphan_location(spark, f"{db}.{name}")
    ug.pieces_table_df(spark, model).write.saveAsTable(f"{db}.pieces")
    sink = ingest.wordpiece_ingest_sink(f"{db}.pieces", f"{db}.seg")
    sink(docs, 0)
    got = {r["doc_id"]: r["pieces"]
           for r in spark.table(f"{db}.seg").collect()}
    pieces = [p for p, _, _ in model.pieces]
    want = {r["doc_id"]: r["p"] for r in docs.select(
        "doc_id",
        sg.segment_text("text", wp.segmenter(pieces, 6)).alias("p")).collect()}
    assert got == want
    assert "planet" in got[1]             # the 6-char piece in play
    assert wp.WP_UNK in got[2]            # unknown word visible, kept


@pytest.mark.slow
def test_unigram_counts_ingest_grows_model(spark):
    """VERDICT r13 next #5: the unigram tokenizer's count-growth path —
    per-micro-batch word-frequency partials land as epoch partitions,
    the rollup equals batch word counting of the concatenated stream,
    and retraining from the rollup (`train_unigram_from_words`)
    derives the EXACT model a batch `train_unigram` over the
    concatenated corpus yields (pieces, costs, AND the EM trajectory
    — training reads the corpus only through its word counts, which
    are additive); an epoch replay is idempotent."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from snowflake_azure_etl_spark.operators import unigram as ug
    from snowflake_azure_etl_spark.operators.bpe import word_freqs
    from snowflake_azure_etl_spark.streaming.sinks import EPOCH_COL
    from snowflake_azure_etl_spark.warehouse import ddl

    batches = [
        [(1, "the cat sat on the mat"),
         (2, "the cat sat on the hat")],
        [(3, "a dog sat on a log"),
         (4, "zq xv")],
        [(5, "mat mat mat"), (6, "")],
    ]
    db = "unic_stream_db"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    words_t = f"{db}.words"
    spark.sql(f"DROP TABLE IF EXISTS {words_t}")
    ddl.drop_orphan_location(spark, words_t)

    src = tempfile.mkdtemp(prefix="unic_stream_")
    base = time.time() - 100
    for i, rows in enumerate(batches):
        p = os.path.join(src, f"b{i}.parquet")
        pq.write_table(pa.table({
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
        }), p)
        os.utime(p, (base + i, base + i))

    sink = ingest.unigram_counts_ingest_sink(words_t)
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (stream.writeStream.foreachBatch(sink)
         .option("checkpointLocation",
                 tempfile.mkdtemp(prefix="unic_ck_"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    all_rows = [r for b in batches for r in b]
    whole = spark.createDataFrame(all_rows, "doc_id long, text string")
    roll = ingest.rollup_word_freqs(spark, words_t)
    want_wf = {r["word"]: r["freq"] for r in word_freqs(whole).collect()}
    assert {r["word"]: r["freq"] for r in roll.collect()} == want_wf

    # rollup → retrain == batch train over the concatenated corpus,
    # trajectory and all (both the fixed-candidate and the pruning-
    # schedule configurations)
    got = ug.train_unigram_from_words(roll)
    want = ug._train(whole, "text", ug.UNIGRAM_ROUNDS,
                     ug.UNIGRAM_MAX_PIECE_LEN, ug.UNIGRAM_SEED_MULTI)
    assert got.pieces == want.pieces
    assert got.traj == want.traj
    got_p = ug.train_unigram_from_words(roll, rounds=3, seed_multi=24,
                                        vocab_target=4)
    want_p = ug._train(whole, "text", 3, ug.UNIGRAM_MAX_PIECE_LEN, 24,
                       vocab_target=4)
    assert got_p.pieces == want_p.pieces
    assert got_p.traj == want_p.traj

    # replaying epoch 1 overwrites its partition — rollup unchanged
    sink(spark.createDataFrame(batches[1], "doc_id long, text string"), 1)
    roll2 = ingest.rollup_word_freqs(spark, words_t)
    assert {r["word"]: r["freq"] for r in roll2.collect()} == want_wf
    assert (spark.table(words_t).filter(F.col(EPOCH_COL) == 1)
            .groupBy().count().collect()[0][0] > 0)


@pytest.mark.slow
def test_lm3_ingest_matches_batch_operator(spark):
    """r12 second pass: per-micro-batch trigram-LM scoring + CCNet
    tercile bucketing against the persisted model and the persisted
    TRAIN-corpus cuts — stream == batch bit-for-bit, keep_only drops
    exactly the tail bucket, epoch replay is idempotent."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from snowflake_azure_etl_spark.operators import lm
    from snowflake_azure_etl_spark.streaming.sinks import EPOCH_COL
    from snowflake_azure_etl_spark.warehouse import ddl

    train = [
        (1, "the cat sat on the mat"),
        (2, "the cat sat on the hat"),
        (3, "the dog sat on the mat"),
        (4, "the bird flew over the mat"),
    ]
    batches = [
        [(10, "the cat sat on the mat"),        # fluent: head
         (11, "zq xv jj kw pq mn zz yy")],      # gibberish: tail
        [(12, "the dog sat on the hat"),
         (13, "so word")],                      # 2 tokens: unscorable
    ]

    def table(name):
        db = "lm3_stream_db"
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
        t = f"{db}.{name}"
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        ddl.drop_orphan_location(spark, t)
        return t

    corpus = spark.createDataFrame(train, "doc_id long, text string")
    tk = lm.tokenized(corpus)
    (uni, bi, tri), tot = lm.lm_model_from_counts(
        [lm.gram_counts(tk, n) for n in (1, 2, 3)])
    sc_train = lm.lm_bits(corpus, "doc_id", "text", [uni, bi, tri], tot,
                          3)
    cuts = lm.lm_terciles(sc_train)
    uni_t, bi_t, tri_t = table("lm_uni"), table("lm_bi"), table("lm_tri")
    tot_t, cuts_t = table("lm_tot"), table("lm_cuts")
    uni.write.saveAsTable(uni_t); bi.write.saveAsTable(bi_t)
    tri.write.saveAsTable(tri_t); tot.write.saveAsTable(tot_t)
    cuts.write.saveAsTable(cuts_t)

    src = tempfile.mkdtemp(prefix="lm3_stream_")
    base = time.time() - 100
    for i, rows in enumerate(batches):
        p = os.path.join(src, f"b{i}.parquet")
        pq.write_table(pa.table({
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
        }), p)
        os.utime(p, (base + i, base + i))

    scored_t, kept_t = table("lm3_scored_t"), table("lm3_kept_t")
    for tgt, keep in ((scored_t, False), (kept_t, True)):
        sink = ingest.lm_ingest_sink(3, [uni_t, bi_t, tri_t], tot_t,
                                     cuts_t, tgt, keep_only=keep)
        stream = (spark.readStream.schema("doc_id long, text string")
                  .option("maxFilesPerTrigger", 1).parquet(src))
        q = (stream.writeStream.foreachBatch(sink)
             .option("checkpointLocation",
                     tempfile.mkdtemp(prefix="lm3_ck_"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    all_rows = [r for b in batches for r in b]
    whole = spark.createDataFrame(all_rows, "doc_id long, text string")
    want = {(r["doc_id"], r["lm3_bits"], r["lm3_ppl_bits"],
             r["lm3_bucket"], r["lm3_keep"])
            for r in lm.lm_bucket(
                lm.lm_bits(whole, "doc_id", "text",
                           [spark.table(uni_t), spark.table(bi_t),
                            spark.table(tri_t)],
                           spark.table(tot_t), 3),
                spark.table(cuts_t)).collect()}
    got = {(r["doc_id"], r["lm3_bits"], r["lm3_ppl_bits"],
            r["lm3_bucket"], r["lm3_keep"])
           for r in spark.table(scored_t)
           .select("doc_id", "lm3_bits", "lm3_ppl_bits", "lm3_bucket",
                   "lm3_keep")
           .collect()}
    assert got == want and len(got) == 4
    buckets = {d: b for d, _, _, b, _ in want}
    assert buckets[11] == "tail"
    assert buckets[13] == "unscorable"
    kept = {r["doc_id"] for r in spark.table(kept_t).collect()}
    assert kept == {d for d, _, _, _, k in want if k}
    assert 11 not in kept          # tail cut at the door
    assert 13 in kept              # unscorable short doc kept
    # replaying epoch 0 overwrites its partition — nothing duplicates
    sink0 = ingest.lm_ingest_sink(3, [uni_t, bi_t, tri_t], tot_t, cuts_t,
                                  scored_t)
    sink0(spark.createDataFrame(batches[0], "doc_id long, text string"), 0)
    assert spark.table(scored_t).count() == 4
    assert (spark.table(scored_t).filter(F.col(EPOCH_COL) == 0).count()
            == 2)


@pytest.mark.slow
def test_unigram_ingest_matches_batch_operator(spark):
    """r13: per-micro-batch unigram-tokenizer segmentation against
    the PERSISTED trained piece table — stream == the batch
    `segment_text` of the concatenated stream bit-for-bit,
    unsegmentable docs fail-visible (NULL) or dropped at the door,
    epoch replay is idempotent."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from snowflake_azure_etl_spark.operators import unigram as ug
    from snowflake_azure_etl_spark.streaming.sinks import EPOCH_COL
    from snowflake_azure_etl_spark.warehouse import ddl

    train = [
        (1, "the cat sat on the mat"),
        (2, "the cat sat on the hat"),
        (3, "a dog sat on a log"),
    ]
    batches = [
        [(10, "the cat on the mat"),
         (11, "sat hat log")],
        [(12, "dog the cat"),
         (13, "the zèbre")],          # out-of-alphabet: unsegmentable
    ]

    def table(name):
        db = "uni_stream_db"
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
        t = f"{db}.{name}"
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        ddl.drop_orphan_location(spark, t)
        return t

    corpus = spark.createDataFrame(train, "doc_id long, text string")
    model = ug.train_unigram(corpus)
    pieces_t, seg_t, kept_t = (table("uni_pieces"), table("uni_seg"),
                               table("uni_kept"))
    ug.pieces_table_df(spark, model).write.saveAsTable(pieces_t)

    src = tempfile.mkdtemp(prefix="uni_stream_")
    base = time.time() - 100
    for i, rows in enumerate(batches):
        p = os.path.join(src, f"b{i}.parquet")
        pq.write_table(pa.table({
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
        }), p)
        os.utime(p, (base + i, base + i))

    for tgt, drop in ((seg_t, False), (kept_t, True)):
        sink = ingest.unigram_ingest_sink(pieces_t, tgt,
                                          drop_unsegmentable=drop)
        stream = (spark.readStream.schema("doc_id long, text string")
                  .option("maxFilesPerTrigger", 1).parquet(src))
        q = (stream.writeStream.foreachBatch(sink)
             .option("checkpointLocation",
                     tempfile.mkdtemp(prefix="uni_ck_"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    all_rows = [r for b in batches for r in b]
    whole = spark.createDataFrame(all_rows, "doc_id long, text string")
    want = {r["doc_id"]: r["segs"] for r in whole.select(
        "doc_id", sg.segment_text("text", model.segmenter()).alias("segs"))
        .collect()}
    got = {r["doc_id"]: r["pieces"]
           for r in spark.table(seg_t).collect()}
    assert got == want and len(got) == 4
    assert got[13] is None                       # fail-visible NULL
    kept = {r["doc_id"] for r in spark.table(kept_t).collect()}
    assert kept == {10, 11, 12}                  # dropped at the door
    # replaying epoch 0 overwrites its partition — nothing duplicates
    sink0 = ingest.unigram_ingest_sink(pieces_t, seg_t)
    sink0(spark.createDataFrame(batches[0], "doc_id long, text string"),
          0)
    assert spark.table(seg_t).count() == 4
    assert (spark.table(seg_t).filter(F.col(EPOCH_COL) == 0).count()
            == 2)



@pytest.mark.slow
def test_line_dedup_ingest_matches_batch(spark):
    """VERDICT r14 next #4: the line-dedup ingest twin. (a) The rolled
    winner index over per-epoch partials == the batch winner index of
    the concatenated corpus (struct-min merge law), so re-scrubbing
    the full corpus against it reproduces the batch operator exactly;
    (b) with documents arriving in ascending id order, the ONLINE
    scrubbed table equals the batch operator row-for-row; (c) an
    epoch replay is idempotent (same rows, no duplicates)."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from snowflake_azure_etl_spark.operators import dedup
    from snowflake_azure_etl_spark.streaming.sinks import EPOCH_COL
    from snowflake_azure_etl_spark.warehouse import ddl

    batches = [
        [(1, "cookie banner\nunique alpha\nnav menu"),
         (2, "cookie banner\nunique beta")],
        [(3, "nav menu\ncookie banner\nunique gamma\n\nunique delta"),
         (4, "cookie banner")],
        [(5, ""), (6, "unique alpha\nfresh epsilon")],
    ]
    db = "linededup_stream_db"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    win_t, scrub_t = f"{db}.winners", f"{db}.scrubbed"
    for t in (win_t, scrub_t):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        ddl.drop_orphan_location(spark, t)

    src = tempfile.mkdtemp(prefix="lined_stream_")
    base = time.time() - 100
    for i, rows in enumerate(batches):
        p = os.path.join(src, f"b{i}.parquet")
        pq.write_table(pa.table({
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
        }), p)
        os.utime(p, (base + i, base + i))

    sink = ingest.line_dedup_ingest_sink(win_t, scrub_t)
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (stream.writeStream.foreachBatch(sink)
         .option("checkpointLocation",
                 tempfile.mkdtemp(prefix="lined_ck_"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    all_rows = [r for b in batches for r in b]
    whole = spark.createDataFrame(all_rows, "doc_id long, text string")
    want = {r["doc_id"]: (r["text"], r["n_lines"], r["n_lines_kept"])
            for r in dedup.line_dedup(whole).collect()}

    # (a) rolled index == batch winner index; full re-scrub == batch
    idx = dedup.rollup_line_winners(
        spark.table(win_t).drop(EPOCH_COL))
    got_idx = {r["_h"]: (r["_w"]["d"], r["_w"]["i"], r["_w"]["t"])
               for r in idx.collect()}
    want_idx = {r["_h"]: (r["_w"]["d"], r["_w"]["i"], r["_w"]["t"])
                for r in dedup.line_winners(whole).collect()}
    assert got_idx == want_idx
    rescrub = {r["doc_id"]: (r["text"], r["n_lines"], r["n_lines_kept"])
               for r in dedup.scrub_with_line_winners(
                   whole, idx, "doc_id", "text", "\n", 1).collect()}
    assert rescrub == want

    # (b) ascending arrival: the online scrubbed table == batch
    online = {r["doc_id"]: (r["text"], r["n_lines"], r["n_lines_kept"])
              for r in spark.table(scrub_t).drop(EPOCH_COL).collect()}
    assert online == want

    # (c) replaying the LAST epoch overwrites its own partition —
    # same rows, no duplicates
    n_epochs = spark.table(win_t).select(EPOCH_COL).distinct().count()
    last = (spark.table(scrub_t).select(F.max(EPOCH_COL))
            .collect()[0][0])
    replay = spark.createDataFrame(batches[-1],
                                   "doc_id long, text string")
    sink(replay, last)
    assert {r["doc_id"]: (r["text"], r["n_lines"], r["n_lines_kept"])
            for r in spark.table(scrub_t).drop(EPOCH_COL).collect()
            } == online
    assert (spark.table(win_t).select(EPOCH_COL).distinct().count()
            == n_epochs)


@pytest.mark.slow
def test_wordpiece_ingest_two_set_flags_table(spark):
    """r15: a persisted piece table carrying the `fl` flags column
    (the released-BERT two-set shape, e.g. load_bert_vocab landed as
    rows) streams with POSITIONAL membership — the sink's output
    equals the batch two-set encode, and genuinely differs from the
    position-independent read of the same piece strings."""
    from snowflake_azure_etl_spark.operators import wordpiece as wp
    from snowflake_azure_etl_spark.warehouse import ddl

    init, cont = wp.load_bert_vocab(
        ["[PAD]", "[UNK]", "un", "affable", "aff", "a",
         "##able", "##ff", "##a"])
    docs = spark.createDataFrame(
        [(1, "unaffable able"), (2, "affable zq")],
        "doc_id long, text string")
    db = "wp2_stream_db"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    for name in ("pieces", "seg"):
        spark.sql(f"DROP TABLE IF EXISTS {db}.{name}")
        ddl.drop_orphan_location(spark, f"{db}.{name}")
    spark.createDataFrame(wp._flag_items(init, cont),
                          "piece string, fl int") \
         .write.saveAsTable(f"{db}.pieces")
    sink = ingest.wordpiece_ingest_sink(f"{db}.pieces", f"{db}.seg")
    sink(docs, 0)
    got = {r["doc_id"]: r["pieces"]
           for r in spark.table(f"{db}.seg").collect()}
    want = {r["doc_id"]: r["p"] for r in docs.select(
        "doc_id",
        sg.segment_text("text", wp.segmenter(init, 7, cont)).alias("p"))
        .collect()}
    assert got == want
    assert got[1] == ["un", "##a", "##ff", "##able", wp.WP_UNK]
    assert got[2] == ["affable", wp.WP_UNK]
    # the single-set union over the same strings would read 'able'
    flat = {r["doc_id"]: r["p"] for r in docs.select(
        "doc_id",
        sg.segment_text("text", wp.segmenter(init | cont, 7)).alias("p"))
        .collect()}
    assert flat[1] != got[1]


def test_wordpiece_ingest_rejects_membershipless_flags(spark):
    """ADVICE r15: a landed flags table whose rows grant no membership
    (fl NULL, or fl & 3 == 0) must fail LOUD like the empty-table case
    — before the fix a NULL fl raised a bare TypeError on the driver
    and an fl=0 row silently vanished from both sets while still
    widening eff_k via the longest-piece derivation."""
    from snowflake_azure_etl_spark.warehouse import ddl

    db = "wp2_badfl_db"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    for name in ("pieces", "seg"):
        spark.sql(f"DROP TABLE IF EXISTS {db}.{name}")
        ddl.drop_orphan_location(spark, f"{db}.{name}")
    spark.createDataFrame(
        [("good", 3), ("ghost", 0), ("nullfl", None), ("ini", 1)],
        "piece string, fl int").write.saveAsTable(f"{db}.pieces")
    sink = ingest.wordpiece_ingest_sink(f"{db}.pieces", f"{db}.seg")
    docs = spark.createDataFrame([(1, "good ini")],
                                 "doc_id long, text string")
    with pytest.raises(ValueError) as ei:
        sink(docs, 0)
    msg = str(ei.value)
    assert "ghost" in msg and "nullfl" in msg and "fl & 3" in msg
    # a well-formed flags table still streams
    spark.sql(f"DROP TABLE IF EXISTS {db}.pieces")
    ddl.drop_orphan_location(spark, f"{db}.pieces")
    spark.createDataFrame([("good", 3), ("ini", 1)],
                          "piece string, fl int") \
         .write.saveAsTable(f"{db}.pieces")
    ingest.wordpiece_ingest_sink(f"{db}.pieces", f"{db}.seg")(docs, 0)
    assert spark.table(f"{db}.seg").count() == 1


def test_wordpiece_ingest_null_piece_fails_loud_not_typeerror(spark):
    """ADVICE r16 #2: the fail-loud validation itself must not fail
    unloud — sorting a mixed None/str bad-piece list raised TypeError
    ('<' not supported between NoneType and str) instead of the
    intended descriptive ValueError."""
    from snowflake_azure_etl_spark.warehouse import ddl

    db = "wp2_nullpiece_db"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    for name in ("pieces", "seg"):
        spark.sql(f"DROP TABLE IF EXISTS {db}.{name}")
        ddl.drop_orphan_location(spark, f"{db}.{name}")
    spark.createDataFrame(
        [("good", 3), (None, 0), ("ghost", 0), ("ini", 1)],
        "piece string, fl int").write.saveAsTable(f"{db}.pieces")
    sink = ingest.wordpiece_ingest_sink(f"{db}.pieces", f"{db}.seg")
    docs = spark.createDataFrame([(1, "good ini")],
                                 "doc_id long, text string")
    with pytest.raises(ValueError) as ei:
        sink(docs, 0)
    msg = str(ei.value)
    assert "ghost" in msg and "None" in msg and "fl & 3" in msg


def test_line_dedup_ingest_rejects_preshard_winner_table(spark):
    """ADVICE r16 #3: a winner table created by the pre-r16 sink
    (partitioned by epoch only, no shard column) must fail the
    upgraded sink's FIRST write with a clear migration error —
    position-based insertInto would otherwise silently drop the shard
    column and the shard read-back would wedge the stream with an
    opaque AnalysisException every epoch."""
    from snowflake_azure_etl_spark.streaming.ingest import LINE_SHARD_COL
    from snowflake_azure_etl_spark.streaming.sinks import EPOCH_COL
    from snowflake_azure_etl_spark.warehouse import ddl

    db = "linededup_preshard_db"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    win_t, scrub_t = f"{db}.winners", f"{db}.scrubbed"
    for t in (win_t, scrub_t):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        ddl.drop_orphan_location(spark, t)
    # the pre-shard layout: epoch partition only
    (spark.createDataFrame(
        [(11, 1, 0, "cookie banner", 0)],
        f"_h long, d long, i int, t string, {EPOCH_COL} long")
     .write.partitionBy(EPOCH_COL).format("parquet").saveAsTable(win_t))
    sink = ingest.line_dedup_ingest_sink(win_t, scrub_t, n_shards=8)
    docs = spark.createDataFrame([(1, "cookie banner\nunique alpha")],
                                 "doc_id long, text string")
    with pytest.raises(ValueError) as ei:
        sink(docs, 0)
    msg = str(ei.value)
    assert LINE_SHARD_COL in msg and win_t in msg and "Migrate" in msg
    # nothing was written to either table by the failed epoch
    assert spark.table(win_t).count() == 1
    assert not spark.catalog.tableExists(scrub_t)


@pytest.mark.slow
def test_line_dedup_ingest_winner_table_is_shard_pruned(spark):
    """r16 (VERDICT r15 next #2): the winner table carries a
    deterministic hash-shard partition level under the epoch, and the
    per-epoch scrub's index read prunes to the batch's shard set —
    the one stream-lifetime-growing read the r15 sink had left. The
    scrubbed output is pinned unchanged against the batch operator."""
    from pyspark.sql import functions as F

    from snowflake_azure_etl_spark.operators import dedup
    from snowflake_azure_etl_spark.streaming.ingest import LINE_SHARD_COL
    from snowflake_azure_etl_spark.streaming.sinks import EPOCH_COL
    from snowflake_azure_etl_spark.warehouse import ddl

    db = "linededup_shard_db"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    win_t, scrub_t = f"{db}.winners", f"{db}.scrubbed"
    for t in (win_t, scrub_t):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        ddl.drop_orphan_location(spark, t)

    batches = [
        [(1, "cookie banner\nunique alpha\nnav menu"),
         (2, "cookie banner\nunique beta")],
        [(3, "nav menu\ncookie banner\nunique gamma\n\nunique delta"),
         (4, "cookie banner")],
    ]
    sink = ingest.line_dedup_ingest_sink(win_t, scrub_t, n_shards=8)
    for i, rows in enumerate(batches):
        sink(spark.createDataFrame(rows, "doc_id long, text string"), i)

    # layout: the shard column is a PARTITION level under the epoch
    part_cols = [r.name for r in spark.catalog.listColumns(win_t)
                 if r.isPartition]
    assert part_cols == [EPOCH_COL, LINE_SHARD_COL]

    # the index read the sink issues is partition-PRUNED on the shard
    # set (a literal IN-list — what OSS Spark's directory pruning
    # actually keys on), attested in the scan's PartitionFilters
    pruned = (spark.table(win_t)
              .filter((F.col(EPOCH_COL) <= 1)
                      & F.col(LINE_SHARD_COL).isin([0, 3])))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    import re as _re
    m = _re.search(r"PartitionFilters: \[(.*?)\]", plan)
    assert m is not None and LINE_SHARD_COL in m.group(1)

    # results unchanged: online scrub (ascending arrival) == batch
    all_rows = [r for b in batches for r in b]
    whole = spark.createDataFrame(all_rows, "doc_id long, text string")
    want = {r["doc_id"]: (r["text"], r["n_lines"], r["n_lines_kept"])
            for r in dedup.line_dedup(whole).collect()}
    online = {r["doc_id"]: (r["text"], r["n_lines"], r["n_lines_kept"])
              for r in spark.table(scrub_t).drop(EPOCH_COL).collect()}
    assert online == want
    # and the rolled index still equals the batch winner index
    idx = dedup.rollup_line_winners(
        spark.table(win_t).drop(EPOCH_COL, LINE_SHARD_COL))
    got_idx = {r["_h"]: (r["_w"]["d"], r["_w"]["i"], r["_w"]["t"])
               for r in idx.collect()}
    want_idx = {r["_h"]: (r["_w"]["d"], r["_w"]["i"], r["_w"]["t"])
                for r in dedup.line_winners(whole).collect()}
    assert got_idx == want_idx
