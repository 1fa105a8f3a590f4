"""Product quantization vs an independent pure-Python reference
(training, encoding, ADC), plus the 100 TB plan contracts (no corpus
shuffle on encode, broadcast-only joins)."""

from __future__ import annotations

import math
import random

import pytest

from snowflake_azure_etl_spark.operators import pq
from snowflake_azure_etl_spark.operators.similarity import KMEANS_SCALE


# ---------------------------------------------------------------------------
# Reference implementation (no Spark, no numpy)
# ---------------------------------------------------------------------------

def _dot(a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def _l2sq(a, b):
    # the dot-product identity, folded in the same order as the engine
    return _dot(a, a) - 2.0 * _dot(a, b) + _dot(b, b)


def _best(sv, cents):
    # argmin L2, ties to the smaller centroid id
    return min(cents, key=lambda kv: (_l2sq(sv, kv[1]), kv[0]))[0]


def ref_codebooks(vecs, dim, m, k, n_iter, scale=KMEANS_SCALE):
    sub_dim = dim // m
    subs = {s: {i: v[s * sub_dim:(s + 1) * sub_dim]
                for i, v in vecs.items()} for s in range(m)}
    books = {s: [(i, subs[s][i]) for i in sorted(vecs) if i < k]
             for s in range(m)}
    for _ in range(n_iter):
        new = {}
        for s in range(m):
            groups = {}
            for i, sv in subs[s].items():
                groups.setdefault(_best(sv, books[s]), []).append(sv)
            cents = []
            for cid, members in groups.items():
                n = len(members)
                ctv = [sum(math.floor(sv[d] * scale) for sv in members)
                       / n / scale for d in range(sub_dim)]
                cents.append((cid, ctv))
            new[s] = sorted(cents)
        books = new
    return books


def ref_encode(vecs, dim, m, books):
    sub_dim = dim // m
    return {i: [_best(v[s * sub_dim:(s + 1) * sub_dim], books[s])
                for s in range(m)]
            for i, v in vecs.items()}


def ref_adc_topk(codes, queries, vecs, dim, m, books, k_neighbors):
    sub_dim = dim // m
    out = {}
    for qid in queries:
        qv = vecs[qid]
        lut = {(s, cid): _l2sq(qv[s * sub_dim:(s + 1) * sub_dim], ctv)
               for s in range(m) for cid, ctv in books[s]}
        scored = [(sum(lut[(s, code[s])] for s in range(m)), nid)
                  for nid, code in codes.items() if nid != qid]
        scored.sort()
        out[qid] = scored[:k_neighbors]
    return out


def _fixture(n=24, dim=8, seed=11):
    rng = random.Random(seed)
    return {i: [rng.uniform(-1, 1) for _ in range(dim)] for i in range(n)}


@pytest.mark.parametrize("n_iter", [0, 1, 2])
def test_codebooks_match_reference(spark, n_iter):
    vecs = _fixture()
    emb = spark.createDataFrame(sorted(vecs.items()),
                                "vec_id long, embedding array<double>")
    got = pq.pq_codebooks(emb, "vec_id", "embedding", dim=8, m=4, k=4,
                          n_iter=n_iter).collect()
    want = ref_codebooks(vecs, 8, 4, 4, n_iter)
    got_map = {(r["sub"], r["cell_id"]): r["ctv"] for r in got}
    want_map = {(s, cid): ctv for s, cents in want.items()
                for cid, ctv in cents}
    assert set(got_map) == set(want_map)
    for key in want_map:
        assert got_map[key] == pytest.approx(want_map[key], abs=1e-12)


def test_encode_matches_reference(spark):
    vecs = _fixture()
    emb = spark.createDataFrame(sorted(vecs.items()),
                                "vec_id long, embedding array<double>")
    books = pq.pq_codebooks(emb, "vec_id", "embedding", dim=8, m=4, k=4,
                            n_iter=1)
    got = {r["neighbor_id"]: list(r["code"])
           for r in pq.pq_encode(emb, "vec_id", "embedding", 8, books,
                                 m=4).collect()}
    want = ref_encode(vecs, 8, 4, ref_codebooks(vecs, 8, 4, 4, 1))
    assert got == want


def test_adc_topk_matches_reference(spark):
    vecs = _fixture()
    emb = spark.createDataFrame(sorted(vecs.items()),
                                "vec_id long, embedding array<double>")
    books_df = pq.pq_codebooks(emb, "vec_id", "embedding", dim=8, m=4,
                               k=4, n_iter=1)
    codes = pq.pq_encode(emb, "vec_id", "embedding", 8, books_df, m=4)
    queries = emb.filter("vec_id < 4")
    got = pq.pq_adc_topk(codes, queries, "vec_id", "embedding", 8,
                         books_df, m=4, k_neighbors=3).collect()
    books = ref_codebooks(vecs, 8, 4, 4, 1)
    want = ref_adc_topk(ref_encode(vecs, 8, 4, books), [0, 1, 2, 3],
                        vecs, 8, 4, books, 3)
    for r in got:
        d, nid = want[r["query_id"]][r["rn"] - 1]
        assert r["neighbor_id"] == nid
        assert r["adc_dist"] == pytest.approx(d, abs=1e-12)


def test_compression_ratio_and_validation(spark):
    vecs = _fixture()
    emb = spark.createDataFrame(sorted(vecs.items()),
                                "vec_id long, embedding array<double>")
    books = pq.pq_codebooks(emb, "vec_id", "embedding", dim=8, m=4, k=4)
    codes = pq.pq_encode(emb, "vec_id", "embedding", 8, books, m=4)
    row = codes.first()
    assert len(row["code"]) == 4          # 8 doubles -> 4 small ints
    with pytest.raises(ValueError):
        pq.pq_codebooks(emb, "vec_id", "embedding", dim=8, m=3)
    with pytest.raises(ValueError):
        pq.pq_encode(emb, "vec_id", "embedding", 8, books, m=5)


def test_adc_recall_on_planted_clusters(spark):
    """ADC over PQ codes must recover planted nearest neighbors: 4
    tight clusters far apart — every query's true top-3 (its cluster
    mates) must be the ADC top-3 despite 8->4 compression."""
    rng = random.Random(3)
    vecs = {}
    for c in range(4):
        center = [10.0 * (c + 1) * (1 if d % 2 else -1)
                  for d in range(8)]
        for j in range(4):
            # interleaved ids (cluster = id % 4) so the k lowest-id
            # seed vectors span all four clusters
            vecs[j * 4 + c] = [x + rng.uniform(-0.1, 0.1)
                               for x in center]
    emb = spark.createDataFrame(sorted(vecs.items()),
                                "vec_id long, embedding array<double>")
    books = pq.pq_codebooks(emb, "vec_id", "embedding", dim=8, m=4,
                            k=4, n_iter=2)
    codes = pq.pq_encode(emb, "vec_id", "embedding", 8, books, m=4)
    got = pq.pq_adc_topk(codes, emb, "vec_id", "embedding", 8, books,
                         m=4, k_neighbors=3).collect()
    for r in got:
        assert r["neighbor_id"] % 4 == r["query_id"] % 4


def _explain(df) -> str:
    return df.sparkSession.sparkContext._jvm.PythonSQLUtils \
        .explainString(df._jdf.queryExecution(), "formatted")


def test_encode_no_corpus_shuffle(spark):
    """pq_encode is a narrow map: the only exchange in its plan is the
    one-row codebook broadcast — the code table of a 100 TB corpus is
    produced without moving a single vector."""
    vecs = _fixture(n=40)
    emb = spark.createDataFrame(sorted(vecs.items()),
                                "vec_id long, embedding array<double>")
    books = pq.pq_codebooks(emb, "vec_id", "embedding", dim=8, m=4, k=4)
    plan = _explain(pq.pq_encode(emb, "vec_id", "embedding", 8, books,
                                 m=4))
    assert "BroadcastExchange" in plan
    assert "ShuffleExchange" not in plan.replace("BroadcastExchange", "")
    assert "Exchange hashpartitioning" not in plan


def test_ivf_pq_composition_prunes_and_recalls(spark):
    """IVF-PQ by construction: pq_encode over assign_cells output keeps
    cell_id as a pruning column — probing only the query's cell scores
    a fraction of the codes yet still recovers the planted cluster
    mates (the composition the module docstrings promise)."""
    from pyspark.sql import functions as F
    from snowflake_azure_etl_spark.operators import similarity
    rng = random.Random(5)
    vecs = {}
    for c in range(4):
        # distinct DIRECTION per cluster (cosine-based coarse cells
        # can't separate scalar multiples of one direction)
        center = [12.0 if d % 4 == c else 1.0 for d in range(8)]
        for j in range(6):
            vecs[j * 4 + c] = [x + rng.uniform(-0.2, 0.2) for x in center]
    emb = spark.createDataFrame(sorted(vecs.items()),
                                "vec_id long, embedding array<double>")
    # coarse quantizer: 4 cells (the clusters); fine quantizer: PQ codes
    cents = similarity._centroid_frame(emb, "vec_id", "embedding", 4)
    assigned = similarity.assign_cells(emb, "vec_id", "embedding",
                                       similarity._centroid_array(cents))
    books = pq.pq_codebooks(emb, "vec_id", "embedding", dim=8, m=4, k=4,
                            n_iter=1)
    codes = pq.pq_encode(emb, "vec_id", "embedding", 8, books, m=4) \
        .join(assigned.select("neighbor_id", "cell_id"), "neighbor_id")
    # probe: each query searches only its own coarse cell's codes
    queries = emb.filter("vec_id < 4")
    q_cells = (similarity.assign_cells(queries, "vec_id", "embedding",
                                       similarity._centroid_array(cents))
               .select(F.col("neighbor_id").alias("qid"), "cell_id"))
    probed = codes.join(
        q_cells.withColumnRenamed("qid", "_qid"), "cell_id")
    # pruning: each query's candidate set is ~1/4 of the corpus
    per_q = probed.groupBy("_qid").count().collect()
    assert len(per_q) == 4 and all(r["count"] == 6 for r in per_q)
    # ADC over each query's own cell only — the IVF-PQ probe
    for qid in range(4):
        cands = (probed.filter(F.col("_qid") == qid)
                 .select("neighbor_id", "code"))
        got = pq.pq_adc_topk(cands, queries.filter(F.col("vec_id") == qid),
                             "vec_id", "embedding", 8, books, m=4,
                             k_neighbors=3).collect()
        assert len(got) == 3
        assert all(r["neighbor_id"] % 4 == qid % 4 for r in got)


def test_sq8_codes_bounded_and_reconstruction_tight(spark):
    """Codes live in [0,255]; per-dim extremes code to 0/255; the
    squared reconstruction error is bounded by d*(range/255)^2 (each
    dim's error is below one quantization step)."""
    from snowflake_azure_etl_spark.operators import similarity
    import numpy as np
    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.uniform(-2, 3, 8)])
            for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    stats = similarity.sq8_stats(df, "embedding", 8)
    enc = similarity.sq8_encode(df, "vec_id", "embedding", 8, stats)
    got = enc.collect()
    assert all(0 <= c <= 255 for r in got for c in r["sq8_codes"])
    st = stats.collect()[0]
    step2 = sum(((st[f"_mx{i}"] - st[f"_mn{i}"]) / 255.0) ** 2
                for i in range(8))
    assert all(0 <= r["sq8_err"] <= step2 + 1e-12 for r in got)


def test_sq8_degenerate_dimension_is_exact(spark):
    """A constant dimension (max == min) codes to 0 and reconstructs
    exactly — zero contribution to the error."""
    from snowflake_azure_etl_spark.operators import similarity
    rows = [(1, [5.0, 1.0]), (2, [5.0, 2.0]), (3, [5.0, 3.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    stats = similarity.sq8_stats(df, "embedding", 2)
    got = {r["vec_id"]: r for r in
           similarity.sq8_encode(df, "vec_id", "embedding", 2,
                                 stats).collect()}
    assert all(got[i]["sq8_codes"][0] == 0 for i in (1, 2, 3))
    # dim-2 extremes hit the exact grid points: 1.0->0, 3.0->255
    assert got[1]["sq8_codes"][1] == 0
    assert got[3]["sq8_codes"][1] == 255
    assert got[1]["sq8_err"] == 0.0 and got[3]["sq8_err"] == 0.0
