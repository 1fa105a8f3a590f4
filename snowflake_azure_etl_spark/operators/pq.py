"""Product quantization (PQ) for embedding columns (north-star
extension: the compression tier of a vector-search stack, alongside
`similarity.ivf_topk`'s cell-probed search).

The Jégou/Douze/Schmid recipe, Spark-first:

- **Train** (`pq_codebooks`): split each d-dim vector into `m`
  contiguous subvectors (d/m dims each); per subspace, learn `k`
  centroids. Centroid training reuses the engine's deterministic
  fixed-point k-means update (`similarity.KMEANS_SCALE` arithmetic), so
  codebooks are bit-identical under any row order/partitioning —
  the property that keeps every downstream artifact attestable.
- **Encode** (`pq_encode`): each vector becomes `m` small centroid ids
  (argmin L2 per subspace) — 128-dim float32 (512 B) collapses to
  m bytes (m=8 ⇒ 64×). At 100 TB of embeddings this is the difference
  between a RAM-resident code table and spilling the raw vectors.
  The codebook rides as ONE broadcast row (array<struct>), argmin'd
  row-locally with higher-order expressions — the corpus never
  shuffles, the plan is O(1) in m·k (codebooks are DATA, not literals).
- **Search** (`pq_adc_topk`): asymmetric distance computation — per
  query, a LUT of exact query-subvector→centroid distances (m·k
  doubles, computed once per query on the broadcast codebook), then
  each code's approximate distance is m LUT lookups summed
  row-locally. Per-candidate cost is O(m) lookups instead of O(d)
  multiplies, on 64× smaller rows.

Scale design: training state is (m·k·d/m) doubles — quantizer-sized;
the only corpus-sized passes are the per-round assignment map (narrow,
no shuffle) and the (sub, dim, val) partial-sum shuffle of the update,
both map-side combined. Encode and ADC scoring are pure narrow maps.
Composition with IVF (IVF-PQ) is by construction: run `pq_encode` on
`similarity.assign_cells` output and keep `cell_id` as a filter column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans.attest import bounded_broadcast

from ._cache import cached_column
from .similarity import KMEANS_SCALE, as_double_vec, dot


def _subvec(vec: Column, sub: int, sub_dim: int) -> Column:
    """Contiguous subvector `sub` (0-based) of width `sub_dim`."""
    return F.slice(vec, sub * sub_dim + 1, sub_dim)


def _l2sq(a: Column, b: Column) -> Column:
    """Squared L2 distance via the dot-product identity
    |a-b|² = a·a − 2·a·b + b·b (PQ's classic metric; no sqrt needed
    for argmin/ranking). Each dot is the engine's sequential fold,
    which matches DuckDB's list_dot_product bit-for-bit — the identity
    keeps ADC distances hash-attestable in SQL (a fold of (x−y)² has
    no exact DuckDB counterpart). May go epsilon-negative for
    near-identical vectors (float cancellation) — identically so in
    both engines."""
    return dot(a, a) - F.lit(2.0) * dot(a, b) + dot(b, b)


def pq_codebooks(emb: DataFrame, id_col: str, vec_col: str, dim: int,
                 m: int = 4, k: int = 8, n_iter: int = 1) -> DataFrame:
    """(sub, cell_id, ctv): `k` centroids per subspace, seeded from the
    `k` lowest-id vectors' subvectors (deterministic, like
    `similarity._centroid_frame`) and refined with `n_iter` Lloyd's
    rounds under the fixed-point mean update (exact longs ⇒ identical
    under any partitioning; see `similarity.KMEANS_SCALE`).

    All m subspaces train in ONE plan per round: the corpus explodes to
    (sub, subvector) rows once (m× fan-out of d/m-width arrays — same
    bytes as the input), assignment is an argmin over the broadcast
    codebook row, and the update groups by (sub, cell, dim) — m·k·d/m
    = k·d rows of aggregate state, quantizer-sized."""
    if dim % m != 0:
        raise ValueError(f"dim ({dim}) must divide into m ({m}) subspaces")
    sub_dim = dim // m
    v = as_double_vec(vec_col)
    subs = emb.select(
        F.col(id_col).cast("long").alias("_id"),
        F.posexplode(F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda s: _subvec(v, s, sub_dim))).alias("sub", "sv"))
    cents = (subs.filter(F.col("_id") < k)
             .select("sub", F.col("_id").cast("int").alias("cell_id"),
                     F.col("sv").alias("ctv")))
    for _ in range(n_iter):
        assigned = _assign_codes(subs, _codebook_array(cents))
        ex = assigned.select("sub", "cell_id",
                             F.posexplode("sv").alias("dim", "val"))
        mean = ((F.col("s").cast("double") / F.col("n"))
                / F.lit(float(KMEANS_SCALE))).alias("v")
        cents = (ex.groupBy("sub", "cell_id", "dim")
                 .agg(F.sum(F.floor(F.col("val") * KMEANS_SCALE)
                             .cast("long"))
                      .alias("s"),
                      F.count("*").alias("n"))
                 .groupBy("sub", "cell_id")
                 .agg(F.transform(
                     F.array_sort(F.collect_list(
                         F.struct(F.col("dim"), mean))),
                     lambda st: st.getField("v")).alias("ctv")))
    return cents


def _codebook_array(cents: DataFrame) -> DataFrame:
    """All m codebooks packed into ONE broadcastable row:
    array<struct<sub, cell_id, ctv>> sorted by (sub, cell_id)."""
    return cents.agg(
        F.array_sort(F.collect_list(F.struct("sub", "cell_id", "ctv")))
        .alias("_cb"))


def _best_cell(sv: Column, cb: Column, sub: Column) -> Column:
    """argmin-L2 centroid id of subvector `sv` within subspace `sub` —
    row-local over the broadcast codebook; ties to the smaller id."""
    mine = F.filter(cb, lambda c: c.getField("sub") == sub)
    scored = F.transform(
        mine, lambda c: F.struct(
            _l2sq(sv, c.getField("ctv")).alias("d"),
            c.getField("cell_id").alias("cid")))
    return F.array_min(scored).getField("cid")


def _assign_codes(subs: DataFrame, cb_arr: DataFrame) -> DataFrame:
    """(sub, cell_id, sv) per (vector, subspace) — a narrow map (the
    one-row codebook crossJoin adds no exchange on the corpus side)."""
    return (subs.crossJoin(bounded_broadcast(cb_arr, bound="one-row codebook array", max_rows=1))
            .select("_id", "sub", "sv",
                    _best_cell(F.col("sv"), F.col("_cb"), F.col("sub"))
                    .cast("int").alias("cell_id")))


def pq_encode(emb: DataFrame, id_col: str, vec_col: str, dim: int,
              codebooks: DataFrame, m: int = 4) -> DataFrame:
    """(id, code): each vector compressed to an array<int> of m
    centroid ids — one narrow projection over the corpus with the
    codebook as a one-row broadcast; no shuffle, no explode (the m
    subspaces are a row-local transform)."""
    if dim % m != 0:
        raise ValueError(f"dim ({dim}) must divide into m ({m}) subspaces")
    sub_dim = dim // m
    v = as_double_vec(vec_col)
    code = cached_column(
        ("pq_code", vec_col, dim, m),
        lambda: F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda s: _best_cell(_subvec(v, s, sub_dim),
                                 F.col("_cb"), s).cast("int")))
    return (emb.crossJoin(bounded_broadcast(
            _codebook_array(codebooks), bound="one-row codebook array", max_rows=1))
            .select(F.col(id_col).alias("neighbor_id"),
                    code.alias("code")))


def _query_luts(queries: DataFrame, id_col: str, vec_col: str,
                dim: int, codebooks: DataFrame, m: int) -> DataFrame:
    """(query_id, lut): per-query exact LUT of subvector→centroid
    squared distances, computed ONCE against the broadcast codebook —
    lut = array<struct<sub, cell_id, d>> sorted by (sub, cell_id),
    m·k doubles per query."""
    if dim % m != 0:
        raise ValueError(f"dim ({dim}) must divide into m ({m}) subspaces")
    sub_dim = dim // m
    qv = as_double_vec(vec_col)
    lut = cached_column(
        ("pq_lut", vec_col, dim, m),
        lambda: F.transform(
            F.col("_cb"),
            lambda c: F.struct(
                c.getField("sub").alias("sub"),
                c.getField("cell_id").alias("cell_id"),
                _l2sq(_subvec(qv, c.getField("sub"), sub_dim),
                      c.getField("ctv")).alias("d"))))
    return (queries.crossJoin(bounded_broadcast(
            _codebook_array(codebooks), bound="one-row codebook array", max_rows=1))
            .select(F.col(id_col).alias("query_id"), lut.alias("lut")))


def _adc_expr(m: int) -> Column:
    """adc = Σ_sub lut[(sub, code[sub])].d over `code` and `lut`
    columns — built once per (JVM, m) (VERDICT r10 #2). The lut array
    is sorted by (sub, cell_id), so entry (sub, cid) sits at index
    sub·k + cid with k = |lut| / m inferred from the artifact itself.
    The O(1) positional lookup assumes DENSE cell ids (0..k-1 per
    subspace) — true for seed codebooks and for Lloyd rounds in which
    no cell empties; each lookup verifies its entry and FAILS LOUDLY
    on misalignment instead of summing a wrong subspace's distance."""
    return cached_column(("adc_expr", m), lambda: _build_adc_expr(m))


def _build_adc_expr(m: int) -> Column:
    n_cells = (F.size(F.col("lut")) / m).cast("int")

    def lut_d(s: Column) -> Column:
        cid = F.element_at(F.col("code"), s + 1)
        entry = F.element_at(F.col("lut"), s * n_cells + cid + 1)
        ok = (entry.getField("sub") == s) & (entry.getField("cell_id") == cid)
        return F.when(ok, entry.getField("d")).otherwise(
            F.raise_error(F.lit(
                "PQ ADC: positional LUT lookup misaligned — codebook "
                "cell ids are not dense per subspace (a training round "
                "emptied a cell); rebuild codes against the current "
                "codebook")).cast("double"))

    return F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, s: acc + lut_d(s))


def _ranked_topk(scored: DataFrame, k_neighbors: int) -> DataFrame:
    from pyspark.sql import Window
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id"))
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k_neighbors)
            .select("query_id", "neighbor_id", "adc_dist",
                    F.col("rn").cast("int").alias("rn")))


def pq_adc_topk(codes: DataFrame, queries: DataFrame, id_col: str,
                vec_col: str, dim: int, codebooks: DataFrame,
                m: int = 4, k_neighbors: int = 3) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: for each query, an
    exact LUT of query-subvector→centroid squared distances is computed
    ONCE against the broadcast codebook; every candidate code is then
    scored row-locally as m LUT lookups summed — O(m) per candidate on
    m-int rows, never touching the original vectors.

    The scored side is the (small) query set broadcast against the
    (huge) code table — codes never shuffle; the final per-query top-k
    is the standard rank window. Ties break on neighbor id. Returns
    (query_id, neighbor_id, adc_dist, rn)."""
    luts = (_query_luts(queries, id_col, vec_col, dim, codebooks, m)
            .withColumn("_j", F.lit(True)))
    scored = (codes.withColumn("_j", F.lit(True))
              .join(bounded_broadcast(
                  luts, bound="per-query ADC LUTs (eval-set-bounded)"),
                  "_j")
              .filter(F.col("neighbor_id") != F.col("query_id"))
              .select("query_id", "neighbor_id",
                      _adc_expr(m).alias("adc_dist")))
    return _ranked_topk(scored, k_neighbors)

