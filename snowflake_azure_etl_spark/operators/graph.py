"""Connected components by min-label propagation (north-star
extension): the dup-CLUSTER resolution step of a near-dup pipeline.
Pairwise removal (drop id_b of every similar pair) collapses chains
A~B~C correctly only by accident of id ordering; the principled
operator labels every document with the minimum id of its similarity
component, in O(component diameter) supersteps.

This is the brief's 'iterative algorithm' class — genuinely not
SQL-expressible in one statement; it is a driver-controlled loop of
DataFrame joins, the Pregel/GraphX superstep pattern expressed on the
DataFrame API:

  label(v) ← min(label(v), label(label(v)), min_{u∈N(v)} label(u))

until fixpoint. The label(label(v)) term is pointer-doubling
(Shiloach-Vishkin shortcutting): each superstep halves every
label-chain, so convergence is O(log diameter) supersteps, not
O(diameter) — a 10⁶-long pathological chain resolves in ~20 rounds.

Scale design:
- each superstep is two equi-joins (edges ⋈ labels on the neighbor
  id; labels ⋈ labels for the shortcut hop) + one groupBy-min — all
  shuffle on node ids, partial-aggregated map-side; no all-pairs
  anything;
- the convergence probe is ONE scalar count per superstep (standard
  Pregel halting), the only driver-side data;
- lineage is cut with an eager localCheckpoint EVERY superstep —
  measured: with lineage allowed to grow even 3 rounds, Catalyst
  re-analysis of the iterated join plan dwarfs the actual work;
- near-dup similarity graphs are overwhelmingly tiny star/clique
  clusters (diameter ≤ ~3), so 2-3 supersteps converge in practice.
  `max_iter` bounds adversarial inputs, loudly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.attest import bounded_broadcast

def connected_components(edges: DataFrame, max_iter: int = 20) -> DataFrame:
    """(id, component) for every node in the (id_a, id_b) `edges`,
    component = min node
    id reachable through the (undirected) edge set. Nodes with no edges
    are not emitted (callers left-join and COALESCE to own id)."""
    e = edges.select(F.col("id_a").cast("long").alias("s"),
                     F.col("id_b").cast("long").alias("d"))
    # materialize the edge set ONCE: every superstep references it, and
    # its upstream (e.g. the whole LSH+Jaccard verify pipeline when
    # called from near-dup removal) must not re-execute per round
    sym = (e.unionByName(e.select(F.col("d").alias("s"),
                                  F.col("s").alias("d")))
           .distinct().localCheckpoint(eager=True))
    if not sym.head(1):
        # no edges, no labeled nodes — and the superstep loop's
        # convergence probe assumes a non-empty first round
        return sym.select(F.col("s").alias("id"),
                          F.col("d").alias("component"))
    labels = (sym.select(F.col("s").alias("id")).distinct()
              .withColumn("label", F.col("id")))
    # Convergence probe: min-propagation only ever LOWERS labels, so
    # the label sum strictly decreases on any change and a fixpoint is
    # exactly "sum unchanged" — one scalar aggregate over the already-
    # materialized labels instead of a join+filter+count per superstep
    # (halves the per-round job count; measured on the q52 leg).
    prev_sum: int | None = None
    for it in range(max_iter):
        neigh = (sym.join(labels, sym.d == labels.id)
                 .select(F.col("s").alias("id"), "label"))
        parts = labels.unionByName(neigh)
        if it > 0:
            # pointer doubling: inherit my current label's own label.
            # Superstep 0 skips it — labels == ids there, so the hop
            # join is the identity (one dead join per call, measured
            # on the q63 semdedup leg's job count).
            hop = (labels.alias("a")
                   .join(labels.alias("b"),
                         F.col("a.label") == F.col("b.id"))
                   .select(F.col("a.id").alias("id"),
                           F.col("b.label").alias("label")))
            parts = parts.unionByName(hop)
        labels = (parts.groupBy("id").agg(F.min("label").alias("label"))
                  .localCheckpoint(eager=True))
        # decimal sum: 10^12 nodes × 10^12-sized ids overflows a long.
        # The probe reads the just-checkpointed labels — cached, cheap.
        cur_sum = labels.agg(
            F.sum(F.col("label").cast("decimal(38,0)"))).collect()[0][0]
        if cur_sum == prev_sum:
            return labels.select("id", F.col("label").alias("component"))
        prev_sum = cur_sum
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} supersteps "
        "— component diameter exceeds the bound; raise max_iter")


def dup_clusters(pairs: DataFrame) -> DataFrame:
    """(id, keeper) per document appearing in any (id_a, id_b)
    near-dup pair:
    keeper = min id of the document's similarity component (transitive
    closure of the pairwise verdicts). Documents in no pair keep
    themselves and are not emitted."""
    return (connected_components(pairs)
            .select("id", F.col("component").alias("keeper")))


# ---------------------------------------------------------------------------
# PageRank (X-GRAPH-PAGERANK) — iterative link-graph ranking, the crawl-
# prioritization / domain-quality signal of a web-scale training-data
# pipeline (CommonCrawl-style corpora weight documents by the rank of
# their origin). Same operator class as connected_components: a driver-
# controlled loop of equi-joins and partial-aggregated group-bys, the
# Pregel superstep pattern on the DataFrame API.

#: Fixed-point scale for ranks. All arithmetic is exact integer
#: (`div`, never float division), so every round is order-independent
#: and bit-identical across engines — the same determinism discipline
#: as similarity.KMEANS_SCALE, which lets a DuckDB oracle replay the
#: whole trajectory round-by-round. 2^40 leaves ~6 decimal digits of
#: rank resolution even at a billion nodes, and the damped sums stay
#: far below the int64 edge (85 * 2^40 < 2^47).
PAGERANK_SCALE = 1 << 40


def pagerank(edges: DataFrame, src: str = "src", dst: str = "dst",
             n_iter: int = 3, damping_pct: int = 85,
             scale: int = PAGERANK_SCALE,
             n_nodes: int | None = None,
             checkpoint_every: int = 1) -> DataFrame:
    """(node, rank) after `n_iter` fixed rounds of the power iteration
    with uniform teleport, dangling mass redistributed uniformly:

      rank'(v) = (100-d)%·S/n + d%·( Σ_{u→v} rank(u) div deg(u)
                                     + dangling_mass div n )

    all in scaled exact integers (S = `scale`). Edges are deduplicated
    (unweighted graph); every node in src ∪ dst participates.

    Scale design (billion-node graphs):
    - the edge set and out-degrees are materialized ONCE
      (localCheckpoint) — every round re-reads them in place;
    - one round = two equi-joins (ranks⋈deg⋈edges on the source id) +
      one map-side-combinable SUM on the destination id + a left join
      back onto the node set — all shuffles are keyed on node ids,
      nothing is ever all-pairs;
    - dangling mass is a ONE-ROW aggregate crossJoined back (broadcast
      NL join of a single row), not a driver round-trip;
    - lineage is cut every ``checkpoint_every`` rounds (eager
      localCheckpoint), the CC lesson: iterated-join plan re-analysis
      otherwise dwarfs the work. The default (1) is the deep-run-safe
      cadence; for SMALL fixed n_iter a larger cadence trades a few
      rounds of re-analyzed lineage for fewer materialization jobs —
      the same knob (and the same measured trade) as the BPE trainer's
      checkpoint cadence. 0 disables mid-loop checkpoints entirely
      (bounded-n_iter callers only);
    - the only driver-side scalar is n (node count), attestable by the
      caller via `n_nodes` to keep the plan job-free before round 1.
    """
    e = (edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
         .distinct().localCheckpoint(eager=True))
    nodes = (e.select(F.col("s").alias("node"))
             .union(e.select("d")).distinct()
             .localCheckpoint(eager=True))
    deg = (e.groupBy("s").agg(F.count("*").alias("deg"))
           .localCheckpoint(eager=True))
    n = n_nodes if n_nodes is not None else nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0).cast("long"))
    base = ((100 - damping_pct) * scale) // (100 * n)
    ranks = nodes.withColumn("rank", F.lit(scale // n).cast("long"))
    for it in range(n_iter):
        contrib = (ranks.join(deg, ranks.node == deg.s).drop("s")
                   .withColumn("c", F.expr("rank div deg"))
                   .join(e, ranks.node == e.s)
                   .groupBy(F.col("d").alias("node"))
                   .agg(F.sum("c").alias("in_sum")))
        dangling = (ranks.join(deg, ranks.node == deg.s, "left_anti")
                    .agg(F.coalesce(F.sum("rank"), F.lit(0)).alias("dm"))
                    .withColumn("dshare", F.expr(f"dm div {n}")))
        ranks = (nodes.join(contrib, "node", "left")
                 .crossJoin(bounded_broadcast(
                     dangling,
                     bound="one-row dangling-mass aggregate",
                     max_rows=1))
                 .select(
                     "node",
                     (F.lit(base) + F.expr(
                         f"({damping_pct} * (coalesce(in_sum, 0) + dshare))"
                         " div 100")).cast("long").alias("rank")))
        if checkpoint_every and it % checkpoint_every == checkpoint_every - 1:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks
