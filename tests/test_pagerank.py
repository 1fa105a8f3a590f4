"""PageRank (operators.graph.pagerank): exact fixed-point trajectory vs
an independent Python reference on hub, cycle, dangling, and random
graphs; ranking sanity; and the per-round integer recurrence the DuckDB
oracle replays (q43's click-graph leg)."""

from __future__ import annotations

import random

from snowflake_azure_etl_spark.operators.graph import (PAGERANK_SCALE,
                                                       pagerank)


def _py_pagerank(edges, n_iter=3, damping_pct=85, scale=PAGERANK_SCALE):
    e = sorted(set(edges))
    nodes = sorted({s for s, _ in e} | {d for _, d in e})
    n = len(nodes)
    out = {}
    for s, _ in e:
        out[s] = out.get(s, 0) + 1
    ranks = {v: scale // n for v in nodes}
    base = ((100 - damping_pct) * scale) // (100 * n)
    for _ in range(n_iter):
        in_sum = {v: 0 for v in nodes}
        for s, d in e:
            in_sum[d] += ranks[s] // out[s]
        dm = sum(r for v, r in ranks.items() if v not in out)
        ranks = {v: base + (damping_pct * (in_sum[v] + dm // n)) // 100
                 for v in nodes}
    return ranks


def _spark_pagerank(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    return {r["node"]: r["rank"] for r in pagerank(df, **kw).collect()}


def test_hub_graph_matches_reference_and_ranks_hub_first(spark):
    edges = [(i, 0) for i in range(1, 8)] + [(0, 1)]
    got = _spark_pagerank(spark, edges)
    assert got == _py_pagerank(edges)
    assert max(got, key=got.get) == 0


def test_cycle_is_uniform(spark):
    edges = [(i, (i + 1) % 5) for i in range(5)]
    got = _spark_pagerank(spark, edges)
    assert got == _py_pagerank(edges)
    assert len(set(got.values())) == 1


def test_dangling_mass_redistributed(spark):
    # node 2 has no out-edges: its mass must teleport, not vanish
    edges = [(0, 1), (1, 2)]
    got = _spark_pagerank(spark, edges)
    assert got == _py_pagerank(edges)
    total = sum(got.values())
    # conservation up to integer-division dust: within n*rounds ulps
    assert abs(total - PAGERANK_SCALE) < 100 * len(got)


def test_random_graph_trajectory_exact(spark):
    rng = random.Random(7)
    edges = list({(rng.randrange(30), rng.randrange(30))
                  for _ in range(120)})
    for n_iter in (1, 4):
        assert (_spark_pagerank(spark, edges, n_iter=n_iter)
                == _py_pagerank(edges, n_iter=n_iter))


def test_duplicate_edges_are_deduplicated(spark):
    edges = [(0, 1), (0, 1), (1, 0)]
    assert _spark_pagerank(spark, edges) == _py_pagerank(edges)


def test_checkpoint_cadence_does_not_change_ranks(spark):
    edges = [(i, (i * 3 + 1) % 11) for i in range(11)] + [(0, 5), (7, 2)]
    base = _spark_pagerank(spark, edges, n_iter=4)
    for k in (0, 2):
        assert _spark_pagerank(spark, edges, n_iter=4,
                               checkpoint_every=k) == base
