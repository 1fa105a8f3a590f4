"""BPE merge training vs an independent pure-Python reference
(the classic Sennrich word-freq-dict algorithm), plus the encode
path's contract properties."""

from __future__ import annotations

import collections

import pytest
from pyspark.sql import functions as F

from snowflake_azure_etl_spark.operators import bpe
from snowflake_azure_etl_spark.operators import segment as sg


# ---------------------------------------------------------------------------
# Reference implementation: dict-of-symbol-tuples BPE, no Spark.
# ---------------------------------------------------------------------------

def _ref_word_freqs(texts):
    wf = collections.Counter()
    for t in texts:
        for w in t.split(" "):
            if w:
                wf[w] += 1
    return {tuple(w): f for w, f in wf.items()}


def _ref_pair_counts(wf):
    pc = collections.Counter()
    for syms, f in wf.items():
        for i in range(len(syms) - 1):
            pc[(syms[i], syms[i + 1])] += f
    return pc


def _ref_merge(wf, pair):
    a, b = pair
    out = {}
    for syms, f in wf.items():
        merged, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                merged.append(a + b)
                i += 2
            else:
                merged.append(syms[i])
                i += 1
        out[tuple(merged)] = out.get(tuple(merged), 0) + f
    return out


def ref_train(texts, n_merges):
    wf = _ref_word_freqs(texts)
    merges = []
    for _ in range(n_merges):
        pc = _ref_pair_counts(wf)
        if not pc:
            break
        # max count; ties broken by ascending (a, b) — same total order
        # as the Spark/SQL implementations
        pair = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append((pair[0], pair[1], pc[pair]))
        wf = _ref_merge(wf, pair)
    return merges


def ref_encode(text, merges):
    segs = []
    for w in text.split(" "):
        syms = list(w)
        for a, b, _ in merges:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        segs.extend(syms)
    return segs


def _strip(merges):
    return [(a.replace(bpe.SENT, ""), b.replace(bpe.SENT, ""), c)
            for a, b, c in merges]


CORPUS = [
    "the cat sat on the mat",
    "the cats sat on the hats",
    "that hat is the best hat",
    "low lower lowest newer newest",
    "low low low lower newest new",
]


def test_train_matches_reference(spark):
    texts = CORPUS
    docs = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                                 "doc_id int, text string")
    got = _strip(bpe.train_bpe_merges(docs, "text", n_merges=10))
    want = ref_train(texts, 10)
    assert got == want


def test_train_greedy_overlap_semantics(spark):
    # "aaaa" with merge (a,a): greedy left-to-right gives (aa)(aa),
    # NOT (a)(aa)(a) or a re-merge into aaaa — the single-replace
    # semantics both the reference loop and F.replace implement.
    docs = spark.createDataFrame([(0, "aaaa aaa")], "doc_id int, text string")
    got = _strip(bpe.train_bpe_merges(docs, "text", n_merges=2))
    want = ref_train(["aaaa aaa"], 2)
    assert got == want
    assert got[0][:2] == ("a", "a")


def test_train_stops_when_pairs_exhausted(spark):
    # single-char words only → zero adjacent pairs → empty merge list
    docs = spark.createDataFrame([(0, "a b c a")], "doc_id int, text string")
    assert bpe.train_bpe_merges(docs, "text", n_merges=5) == []


def test_train_rejects_bad_n_merges(spark):
    docs = spark.createDataFrame([(0, "ab")], "doc_id int, text string")
    with pytest.raises(ValueError):
        bpe.train_bpe_merges(docs, "text", n_merges=0)


def test_encode_matches_reference_and_roundtrips(spark):
    texts = CORPUS
    docs = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                                 "doc_id int, text string")
    merges = bpe.train_bpe_merges(docs, "text", n_merges=8)
    rows = (docs.select("doc_id", "text",
                        bpe.apply_merges("text", merges).alias("segs"),
                        bpe.bpe_segment_count("text", merges).alias("n"))
            .orderBy("doc_id").collect())
    stripped = _strip(merges)
    for r in rows:
        want = ref_encode(r["text"], stripped)
        assert r["segs"] == want
        assert r["n"] == len(want)
        # segmentation is a partition of the original characters
        assert "".join(r["segs"]) == r["text"].replace(" ", "")


def test_merges_table_shape(spark):
    docs = spark.createDataFrame([(i, t) for i, t in enumerate(CORPUS)],
                                 "doc_id int, text string")
    merges = bpe.train_bpe_merges(docs, "text", n_merges=4)
    tbl = bpe.merges_table(spark, merges).collect()
    assert [r["rank"] for r in tbl] == [1, 2, 3, 4]
    for r in tbl:
        assert r["merged"] == r["left"] + r["right"]
        assert bpe.SENT not in r["merged"]


def test_train_property_random_corpora(spark):
    """Hypothesis sweep: the distributed trainer must equal the Python
    reference on arbitrary small corpora (sentinel safety, tie-breaks,
    early exhaustion, repeated words, overlapping runs)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    word = st.text(alphabet="abcxy", min_size=1, max_size=6)
    doc = st.lists(word, min_size=1, max_size=8).map(" ".join)

    @settings(max_examples=12, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(st.lists(doc, min_size=1, max_size=5), st.integers(1, 5))
    def check(texts, k):
        docs = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)],
            "doc_id int, text string")
        assert _strip(bpe.train_bpe_merges(docs, "text", n_merges=k)) \
            == ref_train(texts, k)

    check()


def test_arrow_encode_matches_expression_path(spark):
    """The Arrow-batched production encoder and the expression-tree
    encoder must segment identically (both follow training-order
    greedy merge application)."""
    docs = spark.createDataFrame([(i, t) for i, t in enumerate(CORPUS)],
                                 "doc_id int, text string")
    merges = bpe.train_bpe_merges(docs, "text", n_merges=8)
    via_expr = (docs.select(
        "doc_id", bpe.apply_merges("text", merges).alias("segs"))
        .orderBy("doc_id").collect())
    via_arrow = (bpe.apply_merges_arrow(docs, merges)
                 .orderBy("doc_id").collect())
    for e, a in zip(via_expr, via_arrow):
        assert e["doc_id"] == a["doc_id"]
        assert e["segs"] == a["segs"]
        assert a["n_segs"] == len(a["segs"])


# ------------------------------------------------ encode-to-ids path --

def test_vocab_from_merges_is_deterministic_and_complete(spark):
    docs = spark.createDataFrame(
        [(0, "low lower lowest"), (1, "new newer lowest")],
        "doc_id bigint, text string")
    merges = bpe.train_bpe_merges(docs, n_merges=4)
    v1 = {r["token"]: r["token_id"] for r in
          bpe.vocab_from_merges(spark, docs, merges).collect()}
    v2 = {r["token"]: r["token_id"] for r in
          bpe.vocab_from_merges(spark, docs, merges).collect()}
    assert v1 == v2
    # base alphabet ids precede merge ids, in lexical order
    base = sorted(set("lowernst w".replace(" ", "")))
    assert [t for t, i in sorted(v1.items(), key=lambda kv: kv[1])
            if i < len(base)] == base
    assert len(v1) == len(base) + len(merges)
    # ids are dense and unique
    assert sorted(v1.values()) == list(range(len(v1)))


def encode_ids(docs, merges, vocab, unk_id=-1):
    return sg.encode_ids(docs, bpe.apply_merges("text", merges), vocab,
                         unk_id=unk_id)


def test_encode_ids_roundtrip_and_unk(spark):
    docs = spark.createDataFrame(
        [(0, "low lower lowest"), (1, "new newer lowest")],
        "doc_id bigint, text string")
    merges = bpe.train_bpe_merges(docs, n_merges=4)
    vocab = bpe.vocab_from_merges(spark, docs, merges)
    inv = {r["token_id"]: r["token"] for r in vocab.collect()}

    out = encode_ids(docs, merges, vocab)
    segs = {r["doc_id"]: r["segs"] for r in docs.select(
        "doc_id", bpe.apply_merges("text", merges).alias("segs")).collect()}
    for r in out.collect():
        assert r["n_ids"] == len(r["token_ids"])
        assert [inv[i] for i in r["token_ids"]] == segs[r["doc_id"]]
        assert all(i >= 0 for i in r["token_ids"])

    # held-out text with an unseen character maps to unk_id
    held = spark.createDataFrame([(9, "low quiz")],
                                 "doc_id bigint, text string")
    ids = encode_ids(held, merges, vocab, unk_id=-7).collect()[0]
    assert -7 in ids["token_ids"]


def test_encode_ids_is_shuffle_free(spark):
    docs = spark.createDataFrame([(0, "a b")], "doc_id bigint, text string")
    merges = bpe.train_bpe_merges(docs, n_merges=1)
    vocab = bpe.vocab_from_merges(spark, docs, merges)
    plan = (encode_ids(docs, merges, vocab)
            ._jdf.queryExecution().executedPlan().toString())
    # the vocab map arrives as a one-row broadcast; every Exchange in
    # the plan belongs to the alphabet-bounded vocab build UNDER the
    # BroadcastExchange — the corpus probe side (everything above it)
    # never moves
    assert "BroadcastExchange" in plan
    corpus_side = plan.split("BroadcastExchange")[0]
    assert "Exchange" not in corpus_side
    assert "rangepartitioning" not in corpus_side


def test_encode_ids_composes_with_packing(spark):
    """Pretokenize → pack: offsets over n_ids equal a Python running
    total of the id counts — the full text→ids→sequences pipeline."""
    from snowflake_azure_etl_spark.operators import packing

    docs = spark.createDataFrame(
        [(i, "low lower lowest new") for i in range(6)],
        "doc_id bigint, text string")
    merges = bpe.train_bpe_merges(docs, n_merges=3)
    vocab = bpe.vocab_from_merges(spark, docs, merges)
    enc = encode_ids(docs, merges, vocab)
    packed = packing.pack_offsets(enc, text_col="unused",
                                  weight=F.col("n_ids"), ctx=16)
    rows = sorted((r["doc_id"], r["n_ids"], r["token_offset"])
                  for r in packed.collect())
    acc = 0
    for did, n, off in rows:
        assert off == acc
        acc += n


def test_encode_ids_survives_duplicate_vocab_tokens(spark):
    """A vocab with duplicate surface tokens must not kill the map
    build (DUPLICATED_MAP_KEY); lowest id wins."""
    docs = spark.createDataFrame([(0, "ab")], "doc_id bigint, text string")
    vocab = spark.createDataFrame(
        [("a", 0), ("b", 1), ("ab", 2), ("ab", 9)],
        "token string, token_id int")
    merges = bpe.train_bpe_merges(docs, n_merges=1)
    out = encode_ids(docs, merges, vocab).collect()[0]
    assert out["token_ids"] == [2]


def test_apply_merges_ignores_empty_tokens(spark):
    """Double/leading/trailing spaces must not emit phantom empty
    segments — and the expression path stays pinned to the Arrow path
    on such inputs."""
    docs = spark.createDataFrame(
        [(0, " ab  ab "), (1, ""), (2, "ab ab")],
        "doc_id bigint, text string")
    merges = bpe.train_bpe_merges(docs, n_merges=1)
    expr = {r["doc_id"]: r["segs"] for r in docs.select(
        "doc_id", bpe.apply_merges("text", merges).alias("segs")).collect()}
    assert expr[0] == ["ab", "ab"] and expr[1] == [] \
        and expr[2] == ["ab", "ab"]
    assert all("" not in segs for segs in expr.values())
    arrow = {r["doc_id"]: list(r["segs"]) for r in
             bpe.apply_merges_arrow(docs, merges).collect()}
    assert arrow == expr


def test_train_right_boundary_guard_regression(spark):
    """r10 regression (hypothesis find): the merge replace must not
    match the PREFIX of a longer right symbol. On 'ac acccc' round 2
    merges ('a','c'); without the terminating-space guard the pattern
    '<S>a <S>c' also fused inside '<S>a <S>cc', yielding a phantom
    'acc' symbol and a diverging round-3 merge ('acc','cc') instead
    of ('a','cc')."""
    docs = spark.createDataFrame([(0, "ac acccc")],
                                 "doc_id int, text string")
    got = _strip(bpe.train_bpe_merges(docs, "text", n_merges=3))
    assert got == ref_train(["ac acccc"], 3)
    assert got[2] == ("a", "cc", 1)


def test_decode_ids_roundtrip_and_unk(spark):
    """decode_ids inverts encode_ids: concatenated decoded tokens
    equal the space-stripped text for every doc (BPE segments
    partition each word); an id outside the vocab renders as the unk
    glyph, never silently drops."""
    rows = [(1, "low lower lowest"), (2, "new newer newest"),
            (3, ""), (4, "low new")]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    merges = bpe.train_bpe_merges(docs, "text", n_merges=4)
    vocab = bpe.vocab_from_merges(spark, docs, merges)
    enc = encode_ids(docs, merges, vocab)
    got = {r["doc_id"]: r["detok"]
           for r in sg.decode_ids(enc, vocab).collect()}
    assert got == {did: t.replace(" ", "") for did, t in rows}
    # unknown id -> unk glyph
    bad = spark.createDataFrame([(9, [0, 10**6])],
                                "doc_id bigint, token_ids array<int>")
    out = sg.decode_ids(bad, vocab).collect()[0]["detok"]
    assert "\N{REPLACEMENT CHARACTER}" in out
