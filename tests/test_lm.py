"""Interpolated n-gram LM perplexity filter (operators.lm, VERDICT
r11 #5) at orders 2 and 3: engine scores vs independent pure-Python
references, edge cases (short docs, floors, unseen grams, grams that
do not cover the corpus), and each order's keep contract."""

from __future__ import annotations

from collections import Counter

import pytest

from pyspark.sql import functions as F

from snowflake_azure_etl_spark.operators import lm
from snowflake_azure_etl_spark.operators.sketches import (merge_partials,
                                                          subtract_partials)
from snowflake_azure_etl_spark.plans.prefix import WINDOW_MAX_ROWS

SCALE = 1 << 20
MAX_E = 42


def model_of(docs, order):
    """(floored model, totals) trained in one shot at `order`."""
    toks = lm.tokenized(docs)
    return lm.lm_model_from_counts(
        [lm.gram_counts(toks, n) for n in range(1, order + 1)])


def score(docs, order):
    model, tot = model_of(docs, order)
    return lm.lm_bits(docs, "doc_id", "text", model, tot, order)


def py_plog2(n: int, scale: int = SCALE) -> int:
    assert n > 0
    e = n.bit_length() - 1
    s = max(e - MAX_E, 0)
    m = n >> s
    p2 = 1 << (e - s)
    return e * scale + ((m - p2) * scale) // p2


def py_lm(docs, min_count=lm.LM_MIN_COUNT, lam=lm.LM_LAMBDA_NUM,
          den=lm.LM_LAMBDA_DEN):
    """Reference implementation over [(doc_id, text)]."""
    uni_all = Counter()
    bi_all = Counter()
    for _, text in docs:
        toks = text.split(" ")
        uni_all.update(toks)
        bi_all.update(zip(toks, toks[1:]))
    n = sum(uni_all.values())
    v = len(uni_all)
    uni = {t: c for t, c in uni_all.items() if c >= min_count}
    bi = {g: c for g, c in bi_all.items() if c >= min_count}
    out = {}
    for doc_id, text in docs:
        toks = text.split(" ")
        if len(toks) < 2:
            out[doc_id] = (None, None, None)
            continue
        bits = 0
        for g in zip(toks, toks[1:]):
            w1, w2 = g
            bits += lam * (py_plog2(bi.get(g, 0) + 1)
                           - py_plog2(uni.get(w1, 0) + v))
            bits += (den - lam) * (py_plog2(uni.get(w2, 0) + 1)
                                   - py_plog2(n + v))
        np = len(toks) - 1
        out[doc_id] = (bits, np, (-bits) // np)
    tot_b = sum(-b for b, _, _ in out.values() if b is not None)
    tot_p = sum(p for _, p, _ in out.values() if p is not None)
    thr = tot_b // max(tot_p, 1)
    return out, thr


CORPUS = [
    (1, "the cat sat on the mat"),
    (2, "the cat sat on the hat"),
    (3, "the dog sat on the mat"),
    (4, "zq xv jj kw pq mn zz yy"),          # gibberish: all floored
    (5, "the cat sat on the mat"),           # exact dup of 1
    (6, "word"),                             # 1 token: unscorable
    (7, ""),                                 # splits to [""] — 1 token
    (8, "the the the the the the the the"),  # degenerate repetition
]


@pytest.fixture(scope="module")
def scored(spark):
    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    sc = score(docs, 2)
    kept = lm.lm_keep(sc, lm.lm_corpus_threshold(sc))
    return {r["doc_id"]: r for r in kept.collect()}


def test_lm_bits_match_python_reference(scored):
    ref, thr = py_lm(CORPUS)
    for doc_id, (bits, np, ppl) in ref.items():
        row = scored[doc_id]
        assert row["lm_bits"] == bits, doc_id
        assert row["lm_n_pos"] == np, doc_id
        assert row["lm_ppl_bits"] == ppl, doc_id
        if ppl is not None:
            assert row["lm_keep"] == (ppl <= thr), doc_id


def test_lm_orders_quality(scored):
    # natural text scores cheaper than floored-out gibberish, and the
    # degenerate all-one-token doc cheapest of all (its bigram is the
    # corpus's most frequent for its unigram mass)
    nat = scored[1]["lm_ppl_bits"]
    gib = scored[4]["lm_ppl_bits"]
    assert nat < gib
    assert scored[4]["lm_keep"] is False       # gibberish: cut
    assert scored[1]["lm_keep"] is True        # natural: kept
    assert scored[5]["lm_ppl_bits"] == nat     # dup scores identically


def test_lm_short_docs_unscorable_but_kept(scored):
    for doc_id in (6, 7):
        assert scored[doc_id]["lm_bits"] is None
        assert scored[doc_id]["lm_ppl_bits"] is None
        assert scored[doc_id]["lm_keep"] is True


def test_lm_scores_are_nonpositive(scored):
    for r in scored.values():
        if r["lm_bits"] is not None:
            assert r["lm_bits"] <= 0
            assert r["lm_ppl_bits"] >= 0


def py_lm3(docs, min_count=lm.LM_MIN_COUNT, l3=lm.LM3_L3,
           l2=lm.LM3_L2, l1=lm.LM3_L1):
    """Trigram-tier reference: scores, tercile cuts, bucket labels."""
    uni_all, bi_all, tri_all = Counter(), Counter(), Counter()
    for _, text in docs:
        toks = text.split(" ")
        uni_all.update(toks)
        bi_all.update(zip(toks, toks[1:]))
        tri_all.update(zip(toks, toks[1:], toks[2:]))
    n = sum(uni_all.values())
    v = len(uni_all)
    uni = {t: c for t, c in uni_all.items() if c >= min_count}
    bi = {g: c for g, c in bi_all.items() if c >= min_count}
    tri = {g: c for g, c in tri_all.items() if c >= min_count}
    out = {}
    for doc_id, text in docs:
        toks = text.split(" ")
        if len(toks) < 3:
            out[doc_id] = (None, None, None)
            continue
        bits = 0
        for g in zip(toks, toks[1:], toks[2:]):
            w1, w2, w3 = g
            bits += l3 * (py_plog2(tri.get(g, 0) + 1)
                          - py_plog2(bi.get((w1, w2), 0) + v))
            bits += l2 * (py_plog2(bi.get((w2, w3), 0) + 1)
                          - py_plog2(uni.get(w2, 0) + v))
            bits += l1 * (py_plog2(uni.get(w3, 0) + 1)
                          - py_plog2(n + v))
        npos = len(toks) - 2
        out[doc_id] = (bits, npos, (-bits) // npos)
    ppls = [p for _, _, p in out.values() if p is not None]
    total = len(ppls)
    cum, t1, t2 = 0, None, None
    for p, c in sorted(Counter(ppls).items()):
        cum += c
        if t1 is None and cum * 3 >= total:
            t1 = p
        if t2 is None and cum * 3 >= 2 * total:
            t2 = p
    buckets = {}
    for d, (_, _, p) in out.items():
        if p is None:
            buckets[d] = "unscorable"
        elif p <= t1:
            buckets[d] = "head"
        elif p <= t2:
            buckets[d] = "middle"
        else:
            buckets[d] = "tail"
    return out, (t1, t2), buckets


@pytest.fixture(scope="module")
def scored3(spark):
    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    sc = score(docs, 3)
    labeled = lm.lm_bucket(sc, lm.lm_terciles(sc))
    return {r["doc_id"]: r for r in labeled.collect()}


def test_lm3_bits_match_python_reference(scored3):
    ref, _, buckets = py_lm3(CORPUS)
    for doc_id, (bits, npos, ppl) in ref.items():
        row = scored3[doc_id]
        assert row["lm3_bits"] == bits, doc_id
        assert row["lm3_n_pos"] == npos, doc_id
        assert row["lm3_ppl_bits"] == ppl, doc_id
        assert row["lm3_bucket"] == buckets[doc_id], doc_id
        assert row["lm3_keep"] == (buckets[doc_id] != "tail"), doc_id


def test_lm3_buckets_order_quality(scored3):
    # natural text lands in the head, floored-out gibberish in the
    # tail; duplicate docs share a bucket; short docs are kept
    assert scored3[1]["lm3_bucket"] == "head"
    assert scored3[4]["lm3_bucket"] == "tail"
    assert scored3[4]["lm3_keep"] is False
    assert scored3[5]["lm3_bucket"] == scored3[1]["lm3_bucket"]
    for doc_id in (6, 7):
        assert scored3[doc_id]["lm3_bucket"] == "unscorable"
        assert scored3[doc_id]["lm3_keep"] is True


def test_lm3_gram_laws_hold_on_trigram_keys(spark):
    # merge then subtract over ("w1","w2","w3") round-trips exactly —
    # the growth/forget laws are key-generic
    keys = ("w1", "w2", "w3")
    half_a = [c for c in CORPUS if c[0] % 2 == 0]
    half_b = [c for c in CORPUS if c[0] % 2 == 1]
    da = spark.createDataFrame(half_a, "doc_id long, text string")
    db = spark.createDataFrame(half_b, "doc_id long, text string")
    dall = spark.createDataFrame(CORPUS, "doc_id long, text string")
    ta = lm.gram_counts(lm.tokenized(da), 3)
    tb = lm.gram_counts(lm.tokenized(db), 3)
    tall = lm.gram_counts(lm.tokenized(dall), 3)
    merged = merge_partials([ta, tb], lm.GRAM_MERGE)
    want = {tuple(r[k] for k in keys): r["c"] for r in tall.collect()}
    got = {tuple(r[k] for k in keys): r["c"] for r in merged.collect()}
    assert got == want
    back = subtract_partials(merged, tb, lm.GRAM_MERGE)
    got_a = {tuple(r[k] for k in keys): r["c"] for r in back.collect()}
    assert got_a == {tuple(r[k] for k in keys): r["c"]
                     for r in ta.collect()}


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_WORDS = ["the", "cat", "sat", "mat", "on", "zz"]
_doc_strategy = st.lists(st.sampled_from(_WORDS), min_size=0,
                         max_size=9).map(" ".join)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(texts=st.lists(_doc_strategy, min_size=2, max_size=6))
@pytest.mark.parametrize("order", [2, 3])
@pytest.mark.slow
def test_lm_property_sweep(spark, order, texts):
    """Engine tier == Python reference (`py_lm` at order 2, `py_lm3`
    at order 3) over random small corpora from a 6-word alphabet
    (forces gram collisions, floor edges, short/empty docs, and
    threshold/tercile ties) — scores, position counts, perplexity,
    AND the order's selection labels (lm_keep; lm3 buckets)."""
    docs_rows = list(enumerate(texts))
    docs = spark.createDataFrame(docs_rows, "doc_id long, text string")
    sc = score(docs, order)
    got = {r["doc_id"]: r for r in
           lm.lm_select(sc, lm.lm_selection(sc, order), order).collect()}
    p = lm.LM_PREFIX[order]
    if order == 2:
        ref, thr = py_lm(docs_rows)
        keep = {d: ppl is None or ppl <= thr
                for d, (_, _, ppl) in ref.items()}
    else:
        ref, _, buckets = py_lm3(docs_rows)
        if all(ppl is None for _, _, ppl in ref.values()):
            # NULL cuts: labeling must still work for all-unscorable
            assert all(g["lm3_bucket"] == "unscorable"
                       for g in got.values())
            return
        keep = {d: b != "tail" for d, b in buckets.items()}
    for doc_id, (bits, npos, ppl) in ref.items():
        row = got[doc_id]
        assert (row[f"{p}_bits"], row[f"{p}_n_pos"],
                row[f"{p}_ppl_bits"]) == (bits, npos, ppl), doc_id
        assert row[f"{p}_keep"] == keep[doc_id], doc_id
        if order == 3:
            assert row["lm3_bucket"] == buckets[doc_id], doc_id


def test_terciles_ranged_path_equals_window_path(spark):
    """VERDICT r12 #1: above the attested-corpus gate the tercile
    cuts build switches from the single global window to the
    partition-parallel ranged prefix sum — identical cuts, and the
    executed plan really range-partitions the cumulative count
    (the packing-switch identity, applied to lm_terciles)."""
    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    sc = score(docs, 3)
    small = lm.lm_terciles(sc, n_rows=10)      # attested small: window
    big = lm.lm_terciles(sc, n_rows=WINDOW_MAX_ROWS + 1)
    assert small.collect() == big.collect()
    plan = big._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower()
    # no single-partition window anywhere in the parallel path: every
    # Window carries the _pid partition spec
    import re
    for frag in re.findall(r"Window \[[^\n]*", plan):
        assert "_pid" in frag, frag
    # the attested-small path really is the shared-sort window shape
    plan_small = small._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan_small.lower()


def test_terciles_unattested_default_takes_parallel_path(spark):
    """VERDICT r13 #2 hardening: with NO size attestation the cuts
    build must assume big — the partition-parallel prefix path at any
    scale — so the single-task window shape is reachable ONLY through
    an explicit small attestation, never silently (the
    bounded_broadcast fail-safe philosophy, inverted for a default)."""
    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    sc = score(docs, 3)
    cuts = lm.lm_terciles(sc)                  # n_rows=None: unknown
    plan = cuts._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower()
    import re
    for frag in re.findall(r"Window \[[^\n]*", plan):
        assert "_pid" in frag, frag
    # and the cuts equal the attested-small path's
    assert cuts.collect() == lm.lm_terciles(sc, n_rows=10).collect()


@pytest.mark.slow
def test_cuts_from_rollup_matches_batch_retrain(spark):
    """lm_selection_from_rollup over MERGED half-corpus counts ==
    batch selection training over the whole corpus at both orders —
    the operator-grain law under the streaming maintenance path
    (VERDICT r12 #7): tercile cuts at order 3, the corpus-average
    threshold at order 2."""
    half_a = [c for c in CORPUS if c[0] % 2 == 0]
    half_b = [c for c in CORPUS if c[0] % 2 == 1]
    da = spark.createDataFrame(half_a, "doc_id long, text string")
    db = spark.createDataFrame(half_b, "doc_id long, text string")
    dall = spark.createDataFrame(CORPUS, "doc_id long, text string")
    merged = [merge_partials([lm.gram_counts(lm.tokenized(da), n),
                              lm.gram_counts(lm.tokenized(db), n)],
                             lm.GRAM_MERGE)
              for n in (1, 2, 3)]
    got = lm.lm_selection_from_rollup(dall, merged, 3)
    assert got.collect() == lm.lm_terciles(score(dall, 3)).collect()
    got_thr = lm.lm_selection_from_rollup(dall, merged, 2)
    assert got_thr.collect() == \
        lm.lm_corpus_threshold(score(dall, 2)).collect()


def test_lm_bucket_null_cuts_fail_loud(spark):
    """Tercile cuts trained on a corpus with no scorable documents
    are (NULL, NULL); labeling an UNSCORABLE stream against them is
    fine, labeling a SCORABLE row raises instead of silently binning
    everything 'tail' (review finding — a keep_only ingest gate would
    otherwise drop the whole stream)."""
    short = [(1, "a"), (2, "b c")]            # nothing >= 3 tokens
    docs = spark.createDataFrame(short, "doc_id long, text string")
    model, tot = model_of(docs, 3)
    sc = lm.lm_bits(docs, "doc_id", "text", model, tot, 3)
    cuts = lm.lm_terciles(sc)
    labeled = lm.lm_bucket(sc, cuts)
    assert {r["lm3_bucket"] for r in labeled.collect()} == {"unscorable"}
    docs2 = spark.createDataFrame([(3, "x y z x y z")],
                                  "doc_id long, text string")
    sc2 = lm.lm_bits(docs2, "doc_id", "text", model, tot, 3)
    with pytest.raises(Exception, match="tercile cuts are NULL"):
        lm.lm_bucket(sc2, cuts).collect()


@pytest.mark.parametrize("order", [2, 3])
def test_lm_bits_grams_must_cover_corpus(spark, order):
    """The coverage guard: `grams` must hold every gram the corpus
    observes. The FLOORED relation does not — the gibberish doc's
    grams all sit below LM_MIN_COUNT — so passing it as `grams` must
    raise instead of silently dropping those scored positions."""
    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    model, tot = model_of(docs, order)
    floored = model[order - 1]
    sc = lm.lm_bits(docs, "doc_id", "text", model, tot, order,
                    grams=floored)
    with pytest.raises(Exception, match="does not cover"):
        sc.collect()


def test_lm3_oracle_ctes_match_engine(spark):
    duckdb = pytest.importorskip("duckdb")
    import pandas as pd
    pdf = pd.DataFrame(CORPUS, columns=["doc_id", "text"])
    con = duckdb.connect()
    con.register("documents", pdf)
    sql = (f"WITH {lm.lm_oracle_ctes()}, {lm.lm3_oracle_ctes()} "
           "SELECT s.doc_id, s.lm3_bits, s.lm3_n_pos, s.lm3_ppl_bits, "
           f"{lm.lm3_bucket_sql('s.lm3_ppl_bits')} AS b "
           "FROM lm3_scored s CROSS JOIN lm3_cuts lmc")
    got = {int(r[0]): tuple(r[1:]) for r in con.execute(sql).fetchall()}
    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    sc = score(docs, 3)
    labeled = lm.lm_bucket(sc, lm.lm_terciles(sc))
    for r in labeled.collect():
        o = got[r["doc_id"]]
        assert (r["lm3_bits"], r["lm3_n_pos"], r["lm3_ppl_bits"],
                r["lm3_bucket"]) == o, r["doc_id"]


def test_lm_oracle_ctes_match_engine(spark, tmp_path):
    """The DuckDB CTE replay produces the identical scored relation —
    the same check the driver runs at the q57 surface, pinned here at
    operator grain."""
    duckdb = pytest.importorskip("duckdb")
    import pandas as pd
    pdf = pd.DataFrame(CORPUS, columns=["doc_id", "text"])
    con = duckdb.connect()
    con.register("documents", pdf)
    sql = (f"WITH {lm.lm_oracle_ctes()} "
           "SELECT s.doc_id, s.lm_bits, s.lm_n_pos, s.lm_ppl_bits, "
           "COALESCE(s.lm_ppl_bits <= t.thr, TRUE) AS lm_keep "
           "FROM lm_scored s CROSS JOIN lm_thr t")
    got = {int(r[0]): tuple(r[1:]) for r in con.execute(sql).fetchall()}
    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    sc = score(docs, 2)
    kept = lm.lm_keep(sc, lm.lm_corpus_threshold(sc))
    for r in kept.collect():
        o = got[r["doc_id"]]
        assert (r["lm_bits"], r["lm_n_pos"], r["lm_ppl_bits"],
                r["lm_keep"]) == \
            (o[0], o[1], o[2], bool(o[3])), r["doc_id"]


def test_lm_count_merge_and_subtract_laws(spark):
    """The LM artifact's growth/forget laws (r12): merged raw counts
    equal the union corpus's counts hash-for-hash (and therefore the
    derived floored model + totals + scores); subtraction inverts a
    batch exactly; over-subtraction fails loud."""
    import pytest as pt
    from pyspark.sql import functions as F

    a_rows = CORPUS[:4]
    b_rows = CORPUS[4:]
    A = spark.createDataFrame(a_rows, "doc_id long, text string")
    B = spark.createDataFrame(b_rows, "doc_id long, text string")
    U = spark.createDataFrame(CORPUS, "doc_id long, text string")

    ua, ba = (lm.gram_counts(lm.tokenized(A), n) for n in (1, 2))
    ub, bb = (lm.gram_counts(lm.tokenized(B), n) for n in (1, 2))
    uu, bu = (lm.gram_counts(lm.tokenized(U), n) for n in (1, 2))

    merged_u = merge_partials([ua, ub], lm.GRAM_MERGE)
    merged_b = merge_partials([ba, bb], lm.GRAM_MERGE)

    def rows(df):
        return sorted(map(tuple, df.collect()))

    assert rows(merged_u) == rows(uu)
    assert rows(merged_b) == rows(bu)

    # the derived serving model and scores are therefore identical
    m1 = lm.lm_model_from_counts([merged_u, merged_b])
    m2 = model_of(U, 2)
    s1 = rows(lm.lm_bits(U, "doc_id", "text", *m1, 2))
    s2 = rows(lm.lm_bits(U, "doc_id", "text", *m2, 2))
    assert s1 == s2

    # subtraction inverts the merge exactly
    back_u = subtract_partials(merged_u, ub, lm.GRAM_MERGE)
    back_b = subtract_partials(merged_b, bb, lm.GRAM_MERGE)
    assert rows(back_u) == rows(ua)
    assert rows(back_b) == rows(ba)

    # over-subtraction (removing a non-subset) fails loud
    with pt.raises(Exception, match="over-subtraction"):
        subtract_partials(ua, merged_u, lm.GRAM_MERGE).collect()


def test_lm_subtract_guard_closes_review_holes(spark):
    """r12 review: (a) a removed batch containing a gram the index
    never held must fail loud (the left-join formulation silently
    dropped it); (b) duplicate keys in the removed side must not
    split an over-subtraction across rows or fan out the output."""
    import pytest as pt

    idx = spark.createDataFrame([("a", 5), ("b", 2)], "tok string, c long")
    # (a) removed-only gram
    alien = spark.createDataFrame([("zz", 1)], "tok string, c long")
    with pt.raises(Exception, match="over-subtraction"):
        subtract_partials(idx, alien, lm.GRAM_MERGE).collect()
    # (b) duplicate keys summing past the index count
    dup = spark.createDataFrame([("a", 3), ("a", 3)], "tok string, c long")
    with pt.raises(Exception, match="over-subtraction"):
        subtract_partials(idx, dup, lm.GRAM_MERGE).collect()
    # duplicate keys that sum WITHIN the index count subtract once
    ok = spark.createDataFrame([("a", 2), ("a", 2)], "tok string, c long")
    got = sorted(map(tuple, subtract_partials(
        idx, ok, lm.GRAM_MERGE).collect()))
    assert got == [("a", 1), ("b", 2)]
