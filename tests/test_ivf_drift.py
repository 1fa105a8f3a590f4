"""Incremental IVF maintenance (similarity.ivf_drift_report,
X-ANN-IVF-INCR): fixed-point per-cell stats vs a numpy replay, planted
drift raises the retrain flag (and aligned arrivals don't), and the
assignment stays shuffle-free."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from snowflake_azure_etl_spark.operators import similarity
from snowflake_azure_etl_spark.operators._cache import clear_cache

DIM = 8
SCALE = similarity.KMEANS_SCALE


def _clustered(rng, center, n):
    return [list(map(float, center + rng.normal(0, 0.02, DIM)))
            for _ in range(n)]


@pytest.fixture()
def corpus_rows():
    rng = np.random.default_rng(7)
    centers = [np.zeros(DIM), np.zeros(DIM), np.zeros(DIM)]
    centers[0][0] = 1.0
    centers[1][1] = 1.0
    centers[2][2] = 1.0
    rows = []
    i = 0
    for c in centers:
        for v in _clustered(rng, c, 12):
            rows.append((i, v))
            i += 1
    return rows


def _df(spark, rows):
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")


def _report(spark, corpus, batch, **kw):
    clear_cache(spark)  # fresh _ivf_index per fixture combination
    return similarity.ivf_drift_report(
        corpus, batch, "vec_id", "embedding", n_cells=3,
        train_iters=2, **kw).collect()


def test_subset_batch_stats_match_numpy_replay(spark, corpus_rows):
    corpus = _df(spark, corpus_rows)
    batch = corpus.filter(F.col("vec_id") % 5 == 0)
    rows = _report(spark, corpus, batch)

    # replay: recover each vector's assigned cell + fit from the
    # engine itself (the quantizer), then redo the fixed-point means
    clear_cache(spark)
    cent_arr, _ = similarity._ivf_index(corpus, "vec_id", "embedding",
                                        3, 2)
    sc = similarity.assign_cells(
        corpus, "vec_id", "embedding", cent_arr).collect()
    by_cell: dict[int, list] = {}
    for r in sc:
        by_cell.setdefault(r["cell_id"], []).append(
            (r["neighbor_id"], r["cell_cos"]))
    for rep in rows:
        members = by_cell[rep["cell_id"]]
        assert rep["n_index"] == len(members)
        s = sum(math.floor(c * float(SCALE)) for _, c in members)
        assert rep["mean_cos_index"] == (float(s) / float(len(members))) / float(SCALE)
        new = [(i, c) for i, c in members if i % 5 == 0]
        if new:
            sn = sum(math.floor(c * float(SCALE)) for _, c in new)
            assert rep["n_new"] == len(new)
            assert rep["mean_cos_new"] == (float(sn) / float(len(new))) / float(SCALE)
            assert rep["retrain"] is False   # subset fits like the index
        else:
            assert rep["n_new"] is None and rep["retrain"] is False


def test_planted_drift_raises_retrain(spark, corpus_rows):
    rng = np.random.default_rng(13)
    corpus = _df(spark, corpus_rows)
    # drifted arrivals: halfway between cluster-0's axis and a diagonal
    # — they still assign to SOME cell but fit visibly worse
    drift_center = np.ones(DIM) / np.sqrt(DIM)
    drifted = [(1000 + i, list(map(float,
                                   drift_center + rng.normal(0, 0.02, DIM))))
               for i in range(10)]
    rows = _report(spark, corpus, _df(spark, drifted))
    flagged = [r for r in rows if r["retrain"]]
    assert flagged, "drifted batch raised no retrain flag"
    for r in flagged:
        assert r["mean_cos_new"] < r["mean_cos_index"] - 0.02
    # aligned arrivals on the same quantizer: no flags
    aligned = [(2000 + i, v) for i, (_, v) in enumerate(corpus_rows[:9])]
    rows2 = _report(spark, corpus, _df(spark, aligned))
    assert not [r for r in rows2 if r["retrain"]]


def test_assignment_is_shuffle_free(spark, corpus_rows):
    corpus = _df(spark, corpus_rows)
    batch = corpus.filter(F.col("vec_id") % 5 == 0)
    clear_cache(spark)
    rep = similarity.ivf_drift_report(corpus, batch, "vec_id",
                                      "embedding", n_cells=3,
                                      train_iters=2)
    plan = rep._jdf.queryExecution().executedPlan().toString()
    # vectors never shuffle: every hash exchange is cell-keyed
    # (quantizer-sized aggregates + the cells×cells full-outer, which
    # Spark must sort-merge — harmless at <= n_cells rows), never
    # embedding- or id-keyed
    assert "hashpartitioning(embedding" not in plan
    assert "hashpartitioning(vec_id" not in plan
    import re
    for m in re.finditer(r"hashpartitioning\((\w+)", plan):
        assert m.group(1) == "cell_id", plan


def test_only_the_batch_is_scored(spark, corpus_rows):
    """The index side's fits come from the persisted `_ivf_index`
    (`cell_cos`), so the report crossJoins the centroid array once —
    for the batch. Lines under an InMemoryRelation are the cached
    index's own build plan, not work this report runs."""
    corpus = _df(spark, corpus_rows)
    batch = corpus.filter(F.col("vec_id") % 5 == 0)
    clear_cache(spark)
    rep = similarity.ivf_drift_report(corpus, batch, "vec_id",
                                      "embedding", n_cells=3,
                                      train_iters=2)
    plan = rep._jdf.queryExecution().executedPlan().toString()
    live, cached_at = [], None
    for line in plan.splitlines():
        depth = len(line) - len(line.lstrip(" :+-"))
        if cached_at is not None and depth > cached_at:
            continue
        cached_at = depth if "InMemoryRelation" in line else None
        live.append(line)
    assert sum("BroadcastNestedLoopJoin" in ln for ln in live) == 1, plan
    assert any("InMemoryTableScan" in ln for ln in live), plan
