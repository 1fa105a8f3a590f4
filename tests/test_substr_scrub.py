"""Exact variable-length substring scrub
(operators.dedup.scrub_duplicate_substrings, X-DEDUP-SUBSTR — the
ExactSubstr class of Lee et al. 2021): semantics vs a Python
reference on planted cross-doc and intra-doc repeats, variable run
lengths (the fixed-window span scrub can't express these), and a
property sweep over random corpora."""

from __future__ import annotations

import pytest

from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from snowflake_azure_etl_spark.operators import dedup
from snowflake_azure_etl_spark.operators.sketches import (merge_partials,
                                                          subtract_partials)

LAW = dedup.WINDOW_INDEX_MERGE


def _py_scrub(rows, min_len, min_count=2):
    """Position-cover reference: count every sliding min_len-window,
    mark positions covered by windows with count >= min_count, drop
    covered tokens."""
    toks = {did: t.split(" ") for did, t in rows}
    wc = Counter()
    for tk in toks.values():
        for i in range(len(tk) - min_len + 1):
            wc[" ".join(tk[i:i + min_len])] += 1
    out = {}
    for did, tk in toks.items():
        cov = set()
        for i in range(len(tk) - min_len + 1):
            if wc[" ".join(tk[i:i + min_len])] >= min_count:
                cov.update(range(i, i + min_len))
        kept = [t for p, t in enumerate(tk) if p not in cov]
        out[did] = (len(tk), len(tk) - len(kept), " ".join(kept))
    return out


# a 10-token run planted in docs 1 and 2 (longer than min_len=8, at
# different offsets — variable-length extension through overlapping
# windows); doc 3 repeats an 8-token run INSIDE itself; docs 4-5 are
# unique; doc 6 is shorter than min_len
RUN = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
DOCS = [
    (1, "intro one two " + RUN + " outro aaa bbb"),
    (2, RUN + " completely different tail here xyz"),
    (3, "p1 p2 p3 p4 p5 p6 p7 p8 filler p1 p2 p3 p4 p5 p6 p7 p8"),
    (4, "a wholly unique document body with no repeats whatsoever ok"),
    (5, "another singular text nothing shared between these words no"),
    (6, "short doc"),
]


def test_substr_scrub_matches_python_reference(spark):
    docs = spark.createDataFrame(DOCS, "doc_id bigint, text string")
    got = {r["doc_id"]: (r["n_tokens"], r["n_removed"], r["cleaned"])
           for r in dedup.scrub_duplicate_substrings(docs).collect()}
    ref = _py_scrub(DOCS, 8)
    assert got == ref
    # the full 10-token run went from BOTH docs (all copies removed)
    assert got[1][1] == 10 and got[2][1] == 10
    assert "alpha" not in got[1][2] and "kappa" not in got[2][2]
    # surviving context kept, in order
    assert got[1][2].startswith("intro one two")
    assert got[1][2].endswith("outro aaa bbb")
    # intra-doc repeat scrubbed too (both copies: 16 of 17 tokens)
    assert got[3][1] == 16 and got[3][2] == "filler"
    # unique and too-short docs untouched
    assert got[4][1] == 0 and got[5][1] == 0
    assert got[6] == (2, 0, "short doc")


def test_substr_scrub_run_shorter_than_min_len_survives(spark):
    """A repeated run of length < min_len must NOT be scrubbed — the
    length threshold is the operator's whole contract."""
    seven = "s1 s2 s3 s4 s5 s6 s7"
    rows = [(1, seven + " unique tail one two three"),
            (2, seven + " other ending four five six")]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["doc_id"]: r["n_removed"]
           for r in dedup.scrub_duplicate_substrings(docs).collect()}
    assert got == {1: 0, 2: 0}


def test_substr_scrub_entirely_duplicated_doc_cleans_to_empty(spark):
    rows = [(1, RUN), (2, RUN), (3, "some other text entirely here")]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["doc_id"]: (r["n_removed"], r["cleaned"])
           for r in dedup.scrub_duplicate_substrings(docs).collect()}
    assert got[1] == (10, "") and got[2] == (10, "")
    assert got[3] == (0, "some other text entirely here")


@st.composite
def corpus_case(draw):
    min_len = draw(st.integers(min_value=2, max_value=4))
    n_docs = draw(st.integers(min_value=1, max_value=6))
    words = ["a", "b", "c"]  # tiny vocab forces organic repeats
    docs = []
    for i in range(n_docs):
        n_tok = draw(st.integers(min_value=1, max_value=14))
        docs.append((i, " ".join(
            draw(st.sampled_from(words)) for _ in range(n_tok))))
    return docs, min_len


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(case=corpus_case())
@pytest.mark.slow
def test_substr_scrub_matches_reference_on_random_corpora(spark, case):
    rows, min_len = case
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["doc_id"]: (r["n_tokens"], r["n_removed"], r["cleaned"])
           for r in dedup.scrub_duplicate_substrings(
               docs, min_len=min_len).collect()}
    assert got == _py_scrub(rows, min_len)


def test_window_index_merge_law(spark):
    """index(A) SUM-merged with index(B) == index(A ∪ B), hash for
    hash — the law that grows the artifact per batch."""
    a = spark.createDataFrame(DOCS[:3], "doc_id bigint, text string")
    b = spark.createDataFrame(DOCS[3:], "doc_id bigint, text string")
    full = spark.createDataFrame(DOCS, "doc_id bigint, text string")
    merged = {r["window_hash"]: r["n_occurrences"]
              for r in merge_partials(
                  [dedup.window_hash_index(a), dedup.window_hash_index(b)],
                  LAW).collect()}
    direct = {r["window_hash"]: r["n_occurrences"]
              for r in dedup.window_hash_index(full).collect()}
    assert merged == direct


def test_incremental_scrub_equals_full_corpus_restriction(spark):
    """Batch-vs-index scrub == the full-corpus scrub restricted to
    the batch docs: counts are additive, so probing the persisted
    index is exact, not an approximation. Covers a run repeated only
    ACROSS the corpus/batch boundary (one copy in each)."""
    corpus_rows = [(1, "intro one two " + RUN + " outro aaa bbb"),
                   (2, "some other corpus text with no overlap here")]
    batch_rows = [(10, RUN + " completely fresh tail words"),
                  (11, "a clean batch document nothing shared"),
                  # repeated INSIDE the batch only (both copies >= L)
                  (12, "q1 q2 q3 q4 q5 q6 q7 q8 mid q1 q2 q3 q4 q5 q6 q7 q8")]
    corpus = spark.createDataFrame(corpus_rows,
                                   "doc_id bigint, text string")
    batch = spark.createDataFrame(batch_rows,
                                  "doc_id bigint, text string")
    index = dedup.window_hash_index(corpus)
    inc = {r["doc_id"]: (r["n_tokens"], r["n_removed"], r["cleaned"])
           for r in dedup.incremental_scrub_duplicate_substrings(
               batch, index).collect()}
    full = {r["doc_id"]: (r["n_tokens"], r["n_removed"], r["cleaned"])
            for r in dedup.scrub_duplicate_substrings(
                corpus.unionByName(batch)).collect()
            if r["doc_id"] >= 10}
    assert inc == full
    # the boundary-crossing run was scrubbed, the clean doc untouched,
    # the batch-internal repeat caught without any index hit
    assert inc[10][1] == 10 and inc[11][1] == 0 and inc[12][1] == 16


def test_window_index_min_len_provenance_fail_loud(spark):
    """ADVICE r10: the index artifact records its window width; a
    mixed-width merge read through the width check and a wrong-width
    incremental probe both raise instead of silently producing wrong
    scrubs (the widths share no digests, so a per-row check could
    never fire — the guard is global)."""
    import pytest
    docs = spark.createDataFrame(DOCS, "doc_id bigint, text string")
    ix8 = dedup.window_hash_index(docs, min_len=8)
    ix4 = dedup.window_hash_index(docs, min_len=4)
    assert {r["min_len"] for r in ix8.select("min_len").distinct()
            .collect()} == {8}
    with pytest.raises(Exception, match="different min_len"):
        dedup.window_width_checked(
            merge_partials([ix8, ix4], LAW), 8).collect()
    batch = spark.createDataFrame(
        [(10, RUN + " fresh tail words here")],
        "doc_id bigint, text string")
    with pytest.raises(Exception, match="different min_len"):
        dedup.incremental_scrub_duplicate_substrings(
            batch, ix4, min_len=8).collect()
    # matching width still exact (the provenance column is inert)
    ok = dedup.incremental_scrub_duplicate_substrings(
        batch, ix8, min_len=8).collect()
    assert len(ok) == 1


def test_window_index_subtraction_law_and_guards(spark):
    """index(full) ⊖ index(part) == index(full \\ part), hash for
    hash — the deletion-side merge law (the forget path for the
    substring artifact); foreign hashes, over-subtraction, and width
    mismatch fail loud."""
    import pytest
    full = spark.createDataFrame(DOCS, "doc_id bigint, text string")
    part = spark.createDataFrame(DOCS[:2], "doc_id bigint, text string")
    rest = spark.createDataFrame(DOCS[2:], "doc_id bigint, text string")
    got = {r["window_hash"]: r["n_occurrences"]
           for r in subtract_partials(
               dedup.window_hash_index(full),
               dedup.window_hash_index(part), LAW).collect()}
    want = {r["window_hash"]: r["n_occurrences"]
            for r in dedup.window_hash_index(rest).collect()}
    assert got == want
    foreign = spark.createDataFrame(
        [(99, "totally novel words never indexed anywhere at all ok")],
        "doc_id bigint, text string")
    with pytest.raises(Exception, match="never held"):
        subtract_partials(
            dedup.window_hash_index(full),
            dedup.window_hash_index(foreign), LAW).collect()
    with pytest.raises(Exception, match="over-subtraction"):
        subtract_partials(
            dedup.window_hash_index(part),
            dedup.window_hash_index(part.unionByName(part)),
            LAW).collect()
    # a window-index subtraction checks both sides' width first
    with pytest.raises(Exception, match="different min_len"):
        subtract_partials(*(
            dedup.window_width_checked(ix, 8)
            for ix in (dedup.window_hash_index(full, min_len=8),
                       dedup.window_hash_index(part, min_len=4))),
            LAW).collect()


def test_scrub_from_prebuilt_index_identical(spark):
    """scrub_duplicate_substrings(index=...) == the self-counting
    path row for row, and a wrong-width index fails loud."""
    import pytest
    docs = spark.createDataFrame(DOCS, "doc_id bigint, text string")
    idx = dedup.window_hash_index(docs)
    a = sorted(map(tuple, dedup.scrub_duplicate_substrings(docs)
                   .collect()))
    b = sorted(map(tuple, dedup.scrub_duplicate_substrings(
        docs, index=idx).collect()))
    assert a == b
    with pytest.raises(Exception, match="different min_len"):
        dedup.scrub_duplicate_substrings(
            docs, index=dedup.window_hash_index(docs, min_len=4)
        ).collect()


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(case=corpus_case(), cut=st.integers(min_value=0, max_value=5))
@pytest.mark.slow
def test_window_index_subtraction_property(spark, case, cut):
    """Property sweep of the deletion-side merge law: for ANY random
    corpus split, index(full) ⊖ index(removed) == index(rest)."""
    rows, min_len = case
    removed = rows[:min(cut, len(rows))]
    rest = rows[min(cut, len(rows)):]
    full_df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got_rel = subtract_partials(
        dedup.window_hash_index(full_df, min_len=min_len),
        dedup.window_hash_index(
            spark.createDataFrame(removed, "doc_id bigint, text string")
            if removed else full_df.limit(0), min_len=min_len), LAW)
    got = {r["window_hash"]: r["n_occurrences"]
           for r in got_rel.collect()}
    want = {r["window_hash"]: r["n_occurrences"]
            for r in dedup.window_hash_index(
                spark.createDataFrame(
                    rest, "doc_id bigint, text string")
                if rest else full_df.limit(0),
                min_len=min_len).collect()}
    assert got == want
