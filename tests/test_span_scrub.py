"""Repeated-span scrub (operators.dedup.scrub_repeated_spans,
X-DEDUP-SPAN): semantics vs a Python reference on planted boilerplate
and on the sf corpus, and the fully-scrubbed-document edge."""

from __future__ import annotations

from collections import Counter

from snowflake_azure_etl_spark.operators import dedup

# 3-token spans; 'the quick brown' + 'legal boilerplate footer' are
# planted across docs, everything else is unique per doc
DOCS = [
    (1, "the quick brown fox jumps high legal boilerplate footer"),
    (2, "the quick brown cat sleeps low legal boilerplate footer"),
    (3, "a wholly unique document body with no shared spans at all"),
    (4, "the quick brown owl hoots softly"),
    (5, "short doc"),
]


def _py_scrub(rows, w=3, min_docs=2):
    spans_per_doc = {}
    for did, text in rows:
        toks = text.split(" ")
        spans_per_doc[did] = [
            " ".join(toks[i:i + w]) for i in range(0, len(toks), w)]
    df = Counter()
    for did, spans in spans_per_doc.items():
        for s in set(spans):
            df[s] += 1
    common = {s for s, c in df.items() if c >= min_docs}
    out = {}
    for did, spans in spans_per_doc.items():
        kept = [s for s in spans if s not in common]
        out[did] = (len(spans), len(spans) - len(kept), " ".join(kept))
    return out


def test_scrub_matches_python_reference(spark):
    docs = spark.createDataFrame(DOCS, "doc_id bigint, text string")
    got = {r["doc_id"]: (r["n_spans"], r["n_removed"], r["cleaned"])
           for r in dedup.scrub_repeated_spans(docs).collect()}
    assert got == _py_scrub(DOCS)
    # the planted boilerplate actually fired
    assert got[1][1] > 0 and got[3][1] == 0


def test_sf_corpus_matches_python_reference(spark, sf_dir):
    rows = [(r["doc_id"], r["text"])
            for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text").collect()]
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = {r["doc_id"]: (r["n_spans"], r["n_removed"], r["cleaned"])
           for r in dedup.scrub_repeated_spans(docs).collect()}
    assert got == _py_scrub(rows)


def test_fully_scrubbed_doc_yields_empty_cleaned(spark):
    rows = [(1, "x y z"), (2, "x y z")]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["doc_id"]: r
           for r in dedup.scrub_repeated_spans(docs).collect()}
    assert got[1]["cleaned"] == "" and got[1]["n_removed"] == 1

