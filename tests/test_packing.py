"""Sequence packing (operators/packing.py): offsets vs a Python
running-total reference, window==ranged path identity, and the
assignment-span invariants (full coverage, exact ctx-sized
sequences)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from snowflake_azure_etl_spark.operators import packing
from snowflake_azure_etl_spark.plans.prefix import WINDOW_MAX_ROWS
from snowflake_azure_etl_spark.sources.registry import load_tables

CTX = 64


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return (load_tables(spark, sf_dir, ("documents",))["documents"]
            .select("doc_id", "text"))


def _py_offsets(rows, ctx):
    out, acc = {}, 0
    for doc_id, txt in sorted(rows):
        n = len(txt.split(" "))
        out[doc_id] = (n, acc, acc // ctx, (acc + max(n - 1, 0)) // ctx)
        acc += n
    return out


def test_offsets_match_python_reference(spark, docs):
    rows = [(r.doc_id, r.text) for r in docs.collect()]
    want = _py_offsets(rows, CTX)
    got = {r["doc_id"]: (r["n_tokens"], r["token_offset"],
                         r["pack_first_seq"], r["pack_last_seq"])
           for r in packing.pack_offsets(docs, ctx=CTX).collect()}
    assert got == want


def test_ranged_path_equals_window_path(spark, docs):
    small = packing.pack_offsets(docs, ctx=CTX, n_rows=10)
    big = packing.pack_offsets(docs, ctx=CTX,
                               n_rows=WINDOW_MAX_ROWS + 1)
    cols = ["doc_id", "n_tokens", "token_offset",
            "pack_first_seq", "pack_last_seq"]
    assert sorted(map(tuple, small.select(cols).collect())) == \
        sorted(map(tuple, big.select(cols).collect()))
    # and the big path really took the parallel plan: no global
    # single-partition window (its sort is range-partitioned)
    plan = big._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower()


def test_assignments_cover_and_fill(spark, docs):
    offsets = packing.pack_offsets(docs, ctx=CTX)
    asg = packing.pack_assignments(offsets, ctx=CTX).collect()
    n_total = sum(r["n_tokens"] for r in offsets.collect())

    # 1. per-doc spans concatenate to exactly [0, n_tokens)
    by_doc: dict[int, list] = {}
    for r in asg:
        by_doc.setdefault(r["doc_id"], []).append(
            (r["seq_id"], r["doc_start"], r["doc_end"]))
    lens = {r["doc_id"]: r["n_tokens"] for r in offsets.collect()}
    for d, spans in by_doc.items():
        spans.sort()
        assert spans[0][1] == 0 and spans[-1][2] == lens[d]
        for (s1, _, e1), (s2, b2, _) in zip(spans, spans[1:]):
            assert s2 == s1 + 1 and b2 == e1, "gap or overlap in spans"

    # 2. every sequence except the last carries exactly ctx tokens
    by_seq: dict[int, int] = {}
    for r in asg:
        by_seq[r["seq_id"]] = by_seq.get(r["seq_id"], 0) \
            + r["doc_end"] - r["doc_start"]
    last = max(by_seq)
    assert set(by_seq) == set(range(last + 1)), "missing sequence id"
    for s, tok in by_seq.items():
        assert tok == (CTX if s < last else n_total - last * CTX)


def test_empty_and_validation(spark):
    empty = spark.createDataFrame([], "doc_id bigint, text string")
    out = packing.pack_offsets(empty, ctx=CTX)
    assert out.count() == 0
    with pytest.raises(ValueError):
        packing.pack_offsets(empty, ctx=0)


def test_determinism_under_repartition(spark, docs):
    a = packing.pack_offsets(docs.repartition(7), ctx=CTX)
    b = packing.pack_offsets(docs.coalesce(1), ctx=CTX)
    cols = ["doc_id", "token_offset"]
    assert sorted(map(tuple, a.select(cols).collect())) == \
        sorted(map(tuple, b.select(cols).collect()))


def test_shuffled_order_is_deterministic_and_decorrelated(spark, docs):
    """shuffle_order packing: same seed → identical offsets across
    reruns and partitionings; different seed → different order; the
    offset multiset (and total) is invariant to the order."""
    so = packing.shuffle_order("doc_id")
    a = {r["doc_id"]: r["token_offset"] for r in
         packing.pack_offsets(docs, ctx=CTX, order_col=so).collect()}
    b = {r["doc_id"]: r["token_offset"] for r in
         packing.pack_offsets(docs.repartition(5), ctx=CTX,
                              order_col=packing.shuffle_order("doc_id"))
         .collect()}
    assert a == b
    ident = {r["doc_id"]: r["token_offset"] for r in
             packing.pack_offsets(docs, ctx=CTX).collect()}
    other = {r["doc_id"]: r["token_offset"] for r in
             packing.pack_offsets(docs, ctx=CTX,
                                  order_col=packing.shuffle_order(
                                      "doc_id", seed="other"))
             .collect()}
    assert a != ident and a != other          # order really changed
    # the packed total is order-invariant: max offset + that doc's
    # weight equals the corpus token count under every order
    lens = {r["doc_id"]: r["n_tokens"] for r in
            packing.pack_offsets(docs, ctx=CTX).collect()}
    total = sum(lens.values())
    for offs in (a, ident, other):
        last = max(offs, key=offs.get)
        assert offs[last] + lens[last] == total


@pytest.mark.slow
def test_build_sequences_materializes_exact_ctx_rows(spark):
    """text → encode_ids → build_sequences: every sequence carries
    exactly ctx ids (last may be short) and the ordered concatenation
    of all sequences equals the ordered concatenation of all docs."""
    from snowflake_azure_etl_spark.operators import bpe
    from snowflake_azure_etl_spark.operators import segment as sg

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j % 7}" for j in range(i + 3)))
         for i in range(12)],
        "doc_id bigint, text string")
    merges = bpe.train_bpe_merges(docs, n_merges=3)
    vocab = bpe.vocab_from_merges(spark, docs, merges)
    enc = sg.encode_ids(docs, bpe.apply_merges("text", merges), vocab)
    CTX2 = 10
    seqs = {r["seq_id"]: r["token_ids"] for r in
            packing.build_sequences(enc, ctx=CTX2).collect()}

    flat_docs = [i for r in sorted(enc.collect(),
                                   key=lambda r: r["doc_id"])
                 for i in r["token_ids"]]
    flat_seqs = [i for s in sorted(seqs) for i in seqs[s]]
    assert flat_seqs == flat_docs
    last = max(seqs)
    assert set(seqs) == set(range(last + 1))
    for s, ids in seqs.items():
        n = len(ids)
        assert n == CTX2 if s < last else 0 < n <= CTX2
    # per-sequence n_tokens column agrees
    for r in packing.build_sequences(enc, ctx=CTX2).collect():
        assert r["n_tokens"] == len(r["token_ids"])
