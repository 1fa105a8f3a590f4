"""Property-based span-scrub checks (r7): for ANY random corpus and
span width, the scrub matches the Python reference."""

from __future__ import annotations

import pytest

from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from snowflake_azure_etl_spark.operators import dedup

WORDS = ["a", "b", "c", "dd", "ee"]


@st.composite
def corpus_case(draw):
    w = draw(st.integers(min_value=1, max_value=4))
    min_docs = draw(st.integers(min_value=2, max_value=3))
    n_docs = draw(st.integers(min_value=1, max_value=8))
    docs = []
    for i in range(n_docs):
        n_tok = draw(st.integers(min_value=1, max_value=12))
        toks = [draw(st.sampled_from(WORDS)) for _ in range(n_tok)]
        docs.append((i, " ".join(toks)))
    return docs, w, min_docs


def _py_scrub(rows, w, min_docs):
    spans_per_doc = {
        did: [" ".join(t.split(" ")[i:i + w])
              for i in range(0, len(t.split(" ")), w)]
        for did, t in rows}
    df = Counter()
    for spans in spans_per_doc.values():
        df.update(set(spans))
    common = {s for s, c in df.items() if c >= min_docs}
    return {did: (len(sp), sum(s in common for s in sp),
                  " ".join(s for s in sp if s not in common))
            for did, sp in spans_per_doc.items()}


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(case=corpus_case())
@pytest.mark.slow
def test_scrub_matches_reference_on_random_corpora(spark, case):
    rows, w, min_docs = case
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["doc_id"]: (r["n_spans"], r["n_removed"], r["cleaned"])
           for r in dedup.scrub_repeated_spans(
               docs, span_tokens=w, min_docs=min_docs).collect()}
    assert got == _py_scrub(rows, w, min_docs)
