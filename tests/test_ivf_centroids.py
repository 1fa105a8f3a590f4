"""IVF coarse-quantizer representation (VERDICT r4 #2, finished in r5):
the centroids are DATA at every size — a one-row broadcast array —
so the plan is O(1) in n_cells AND cell assignment adds no corpus
shuffle. Correctness is pinned by q63's DuckDB oracle (hash-exact IVF
semantics recomputed independently in SQL) plus the shape tests here."""

from __future__ import annotations

import contextlib
import io
import time

from snowflake_azure_etl_spark.operators import similarity
from snowflake_azure_etl_spark.sources.registry import load_tables

from pyspark.sql import functions as F


def explain_str(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _emb_queries(spark, sf_dir):
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    return emb, emb.filter(F.col("vec_id") % 50 == 0)


def test_assignment_adds_no_corpus_shuffle(spark, sf_dir):
    """The 100 TB property: scoring every vector against the broadcast
    centroid array is a narrow map — no Exchange on the corpus side."""
    emb, _ = _emb_queries(spark, sf_dir)
    cent_arr = similarity._centroid_array(
        similarity._centroid_frame(emb, "vec_id", "embedding", 8))
    assigned = similarity.assign_cells(emb, "vec_id", "embedding", cent_arr)
    plan = explain_str(assigned)
    # the only exchanges allowed are for the one-row centroid aggregate
    # + its broadcast; the corpus side must join via BNL on a scan
    corpus_side = plan.split("BroadcastNestedLoopJoin")[0]
    assert "BroadcastNestedLoopJoin" in plan
    assert "Exchange" not in corpus_side


def test_no_plan_blowup_at_256_cells(spark, sf_dir):
    """256 cells × 64 dims = 16k doubles: as literals that would be a
    16k-node expression forest; as a broadcast array the plan must not
    grow with n_cells."""
    emb, queries = _emb_queries(spark, sf_dir)
    t0 = time.time()
    out = similarity.ivf_topk(emb, queries, "vec_id", "embedding",
                              k=3, n_cells=256, nprobe=2)
    plan = explain_str(out)
    # Sanity bound, not the real guard (that's the plan-size assert
    # below): a literal forest at 256×64 planned for many MINUTES.
    # The window includes the eager k-means training jobs (~8 s on a
    # fresh session) and runs mid-suite on a shared VM where hundreds
    # of accumulated CacheManager entries + GC inflate it several-fold
    # (observed 70 s against the old 60 s bound — a flake, isolated
    # rerun 8 s), so the bound is deliberately loose.
    assert time.time() - t0 < 150  # planning+explain stays sane
    small_plan = explain_str(similarity.ivf_topk(
        emb, queries, "vec_id", "embedding", k=3, n_cells=8, nprobe=2))
    # plan size essentially independent of n_cells
    assert abs(len(plan) - len(small_plan)) < 0.2 * len(small_plan)
    assert out.count() > 0


def test_probes_respect_nprobe_and_ties(spark, sf_dir):
    emb, queries = _emb_queries(spark, sf_dir)
    exact = similarity.brute_force_topk(emb, queries, "vec_id",
                                        "embedding", k=3).collect()
    for nprobe in (3, 12):
        out = similarity.ivf_topk(emb, queries, "vec_id", "embedding",
                                  k=3, n_cells=8, nprobe=nprobe)
        # every query returns at most k ranked neighbors, ranks contiguous
        rows = out.collect()
        by_q = {}
        for r in rows:
            by_q.setdefault(r.query_id, []).append(r.rn)
        for q, rns in by_q.items():
            assert sorted(rns) == list(range(1, len(rns) + 1))
    # a probe rank beyond the number of cells probes every cell: the
    # answer is the brute-force one, not an empty probe set
    assert rows and sorted(rows) == sorted(exact)


def test_probe_rank_beyond_cells_adds_nothing(spark):
    """Once nprobe covers every cell, widening it changes no answer:
    a row has no third-nearest of two cells, so it contributes no
    extra probe (not an out-of-bounds array index, and not an empty
    probe set)."""
    rows = [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0]),
            (2, [0.9, 0.1, 0.0]), (3, [0.1, 0.9, 0.0]),
            (4, [0.7, 0.7, 0.1])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    eval_ids = emb.filter("vec_id = 4").select("vec_id")

    def run(nprobe):
        kw = dict(n_cells=2, train_iters=0, threshold=0.5, nprobe=nprobe)
        return (sorted(similarity.semantic_dedup(emb, **kw).collect()),
                sorted(similarity.semantic_decontam(emb, eval_ids,
                                                    **kw).collect()))

    dedup2, decontam2 = run(2)
    assert run(3) == (dedup2, decontam2)
    assert sum(r.is_contaminated for r in decontam2) == 4


def test_embed_near_dup_bucket_guard(spark):
    """VERDICT r5 #2: one degenerate bucket (all embeddings in one
    orthant) must not produce a quadratic self-join — overwide buckets
    drop whole, deterministically, like dedup.lsh_candidate_pairs."""
    pos = [(i, [1.0, 1.0, float(i)]) for i in range(10)]       # bucket 11
    neg = [(100 + i, [-1.0, 1.0, 2.0]) for i in range(2)]      # bucket 01
    df = spark.createDataFrame(pos + neg, ["vec_id", "embedding"])
    # every vector in one overwide bucket: nothing survives the guard
    only_pos = spark.createDataFrame(pos, ["vec_id", "embedding"])
    none = similarity.embedding_near_dups(only_pos, "vec_id", "embedding",
                                          threshold=-1.0, bits=2,
                                          max_bucket=3)
    assert none.count() == 0
    # mixed: the 10-wide bucket drops, the 2-wide bucket's pair survives
    some = similarity.embedding_near_dups(df, "vec_id", "embedding",
                                          threshold=-1.0, bits=2,
                                          max_bucket=3).collect()
    assert [(r.id_a, r.id_b) for r in some] == [(100, 101)]


def test_embed_near_dup_no_corpus_broadcast_above_threshold(spark, sf_dir):
    """The self-join sides are corpus-sized: above the size attestation
    they must shuffle-equi-join on the bucket key (broadcast of a
    corpus-sized side is an OOM at 100 TB). The ONLY broadcasts allowed
    are the bucket-width guard — ≤ 2^bits rows, bucket-count sized."""
    emb, _ = _emb_queries(spark, sf_dir)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        big = similarity.embedding_near_dups(emb, "vec_id", "embedding",
                                             threshold=0.8, n_rows=10**9)
        plan = explain_str(big)
        assert "SortMergeJoin" in plan          # the pair join shuffles
        # width-guard joins are the only broadcast hash joins (formatted
        # explain prints each node twice: tree line + detail block)
        assert plan.count("BroadcastHashJoin") <= 4
        small = similarity.embedding_near_dups(emb, "vec_id", "embedding",
                                               threshold=0.8, n_rows=100)
        assert "SortMergeJoin" not in explain_str(small)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def _recall(approx_rows, exact_rows):
    exact = {}
    for r in exact_rows:
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    got = {}
    for r in approx_rows:
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    hit = sum(len(got.get(q, set()) & n) for q, n in exact.items())
    total = sum(len(n) for n in exact.values())
    return hit / total


def test_kmeans_improves_recall_on_planted_clusters(spark):
    """VERDICT r5 #3: training the quantizer must actually help. Two
    well-separated planted clusters, BOTH seed centroids from cluster A
    (the degenerate init a real corpus can hand you): with raw seeds,
    cluster-B vectors scatter across cells and nprobe=1 misses their
    neighbors; after 2 Lloyd rounds the centroids separate A from B and
    recall@3 improves."""
    rows = []
    # cluster A: near [1, eps, 0, 0]; seeds are ids 0 and 1
    for i in range(20):
        rows.append((i, [1.0, 0.001 * i, 0.0, 0.0]))
    # cluster B: near [0, s, 1, t] — s sits in dim 2, the ONLY dim the
    # seed centroids differ in, and alternates by parity, so the SEED
    # quantizer splits B across both cells by parity (odd → cell 1,
    # even → cosine tie → cell 0); t grows with i and dominates
    # similarity, so each B vector's true neighbors are its id-adjacent
    # siblings of EITHER parity. nprobe=1 under seeds therefore misses
    # about half of every B query's true top-3.
    for i in range(20):
        rows.append((100 + i, [0.0, 0.002 * (i % 2), 1.0, 0.05 * i]))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = emb.filter(F.col("vec_id").isin(3, 7, 103, 107, 110))
    exact = similarity.brute_force_topk(
        emb, queries, "vec_id", "embedding", k=3).collect()
    seed = similarity.ivf_topk(emb, queries, "vec_id", "embedding",
                               k=3, n_cells=2, nprobe=1,
                               train_iters=0).collect()
    trained = similarity.ivf_topk(emb, queries, "vec_id", "embedding",
                                  k=3, n_cells=2, nprobe=1,
                                  train_iters=2).collect()
    r_seed, r_trained = _recall(seed, exact), _recall(trained, exact)
    assert r_trained > r_seed
    assert r_trained == 1.0       # separated clusters: trained is exact


def test_scaled_bits():
    """bits=None derives the bucket grid from the attested corpus size:
    expected bucket width stays ~target as the corpus grows."""
    assert similarity.scaled_bits(None) == 8
    assert similarity.scaled_bits(1000) == 8                  # floor
    assert similarity.scaled_bits(2**30, target_bucket=1024) == 20
    assert similarity.scaled_bits(2**40) == 24                # cap
    assert similarity.scaled_bits(2**21, target_bucket=1024) == 11


def test_inertia_trajectory_non_increasing(spark):
    """VERDICT r11 #7: the fixed-point inertia trajectory over planted
    clusters — Lloyd's update never increases SSD for the points it
    re-assigns, so the rounds are monotone non-increasing, the final
    row (the shipped index over the cached assignment) equals the last
    round's converged cost regime, and a trained quantizer beats the
    seed assignment by a wide margin on clustered data."""
    import random

    from pyspark.sql import functions as F

    from snowflake_azure_etl_spark.operators import similarity

    rnd = random.Random(7)
    centers = [[5.0, 0.0, 0.0, 0.0], [0.0, 5.0, 0.0, 0.0],
               [0.0, 0.0, 5.0, 0.0]]
    rows = []
    for i in range(90):
        c = centers[i % 3]
        rows.append((i, [v + rnd.uniform(-0.2, 0.2) for v in c]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    traj = (similarity.ivf_inertia_trajectory(
                emb, "vec_id", "embedding", n_cells=3, train_iters=2)
            .orderBy("it").collect())
    assert [r["it"] for r in traj] == [1, 2, 3]
    costs = [r["inertia"] for r in traj]
    assert all(isinstance(c, int) for c in costs)
    assert costs[0] >= costs[1] >= costs[2]      # Lloyd's monotonicity
    assert costs[2] < costs[0]                   # training actually helped
    assert all(r["n_vec"] == 90 for r in traj)
    # mean_d2 is the derived per-vector cost in vector units
    assert abs(traj[2]["mean_d2"]
               - costs[2] / 90 / similarity.KMEANS_SCALE) < 1e-12
