"""Similarity search over embedding columns (north-star extension).

Brute-force cosine top-k as the exactness baseline, and a
sign-bucket LSH variant as the scale path. The embedding column is
array<float>; all arithmetic is element-cast to double and folded
sequentially (F.aggregate / zip_with), which matches DuckDB's
list_dot_product over DOUBLE[] bit-for-bit — no UDF, no nondeterminism.

Scale design (billions of vectors):
- brute force is O(Q·N·d) — only for small Q (broadcast the queries);
  the plan broadcasts the query set so the big side never shuffles;
- the sign-bucket LSH (axis-aligned hyperplanes, deterministic choice of
  the first b dimensions) partitions the corpus into 2^b buckets;
  candidates only join within their bucket — the shuffle key is the
  bucket id. Swap in learned/random hyperplanes by replacing
  `sign_bucket` — the plan shape is unchanged.
- For IVF-style search, replace sign_bucket with a coarse-centroid
  assignment (a broadcast join against k centroids) — same plan shape.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans.attest import bounded_broadcast, maybe_broadcast


def as_double_vec(c: Column | str) -> Column:
    col = F.col(c) if isinstance(c, str) else c
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product — order-stable across engines."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def _cos_normed() -> Column:
    """Cosine over (qv, cv) with the norms PRECOMPUTED per side
    (canonical columns _nq/_nc) — the semdedup norms-once trick
    (r16): a pair stage scoring q×c pairs re-ran all three
    interpreted folds per pair (higher-order exprs never codegen);
    carrying each side's l2 norm on its own row leaves one
    dot-aggregate per pair. dot/( _nq · _nc ) is the SAME IEEE
    expression tree as cosine(qv, cv) — sqrt-then-multiply-then-
    divide in the same order — so scores stay bit-identical to the
    oracle's replay."""
    from ._cache import cached_column
    return cached_column(
        ("cos_normed", "qv", "cv"),
        lambda: dot(F.col("qv"), F.col("cv"))
        / (F.col("_nq") * F.col("_nc")))


def sign_bucket(vec: Column, bits: int = 8) -> Column:
    """Deterministic LSH bucket: concatenated sign bits of the first
    `bits` dimensions (axis-aligned random-hyperplane family with a
    fixed choice of planes — portable to the SQL oracle)."""
    parts = [
        F.when(F.element_at(vec, i + 1) >= 0, F.lit("1")).otherwise(F.lit("0"))
        for i in range(bits)
    ]
    return F.concat(*parts)


def brute_force_topk(emb: DataFrame, queries: DataFrame, id_col: str,
                     vec_col: str, k: int = 3) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    `queries` (small) is broadcast; candidates never move. Self-matches
    excluded; ties broken by neighbor id for determinism.
    """
    from pyspark.sql import Window
    q = (queries.select(F.col(id_col).alias("query_id"),
                        as_double_vec(vec_col).alias("qv"))
         .withColumn("_nq", l2_norm(F.col("qv"))))
    c = (emb.select(F.col(id_col).alias("neighbor_id"),
                    as_double_vec(vec_col).alias("cv"))
         .withColumn("_nc", l2_norm(F.col("cv"))))
    scored = (c.crossJoin(bounded_broadcast(
        q, bound="eval query set (caller-bounded; declared brute-force baseline)"))
              .filter(F.col("neighbor_id") != F.col("query_id"))
              .select("query_id", "neighbor_id",
                      _cos_normed().alias("cos_sim")))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id"))
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .select("query_id", "neighbor_id", "cos_sim",
                    F.col("rn").cast("int").alias("rn")))


def lsh_bucketed_topk(emb: DataFrame, queries: DataFrame, id_col: str,
                      vec_col: str, k: int = 3, bits: int = 8) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's sign
    bucket. The candidate join is an equi-join on the bucket key — at
    billions of vectors this shuffles each side once on a 2^bits-ary
    key instead of cross-joining."""
    from pyspark.sql import Window
    q = (queries.select(F.col(id_col).alias("query_id"),
                        as_double_vec(vec_col).alias("qv"),
                        sign_bucket(F.col(vec_col), bits).alias("bucket"))
         .withColumn("_nq", l2_norm(F.col("qv"))))
    c = (emb.select(F.col(id_col).alias("neighbor_id"),
                    as_double_vec(vec_col).alias("cv"),
                    sign_bucket(F.col(vec_col), bits).alias("bucket"))
         .withColumn("_nc", l2_norm(F.col("cv"))))
    scored = (c.join(bounded_broadcast(
        q, bound="eval query set (caller-bounded)"), "bucket")
              .filter(F.col("neighbor_id") != F.col("query_id"))
              .select("query_id", "neighbor_id",
                      _cos_normed().alias("cos_sim")))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id"))
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .select("query_id", "neighbor_id", "cos_sim",
                    F.col("rn").cast("int").alias("rn")))


def _centroid_frame(emb: DataFrame, id_col: str, vec_col: str,
                    n_cells: int) -> DataFrame:
    """The coarse quantizer as a relation: (cell_id, ctv) —
    deterministic seed centroids (the `n_cells` lowest-id vectors)
    standing in for a trained quantizer. Cell-count sized, never a plan
    literal. Swap in k-means-trained centroids by replacing this
    function; every plan downstream is unchanged."""
    return (emb.select(F.col(id_col).cast("long").alias("cell_id"),
                       as_double_vec(vec_col).alias("ctv"))
            .filter(F.col("cell_id") < n_cells)
            .withColumn("cell_id", F.col("cell_id").cast("int")))


#: Fixed-point scale for the k-means centroid update: per-dimension
#: sums accumulate floor(val·2^20) as exact longs, so the mean is
#: identical under ANY row order / partitioning / engine — the property
#: that makes a trained quantizer oracle-checkable. 2^20 ≈ 6 decimal
#: digits, far below float32 input noise.
KMEANS_SCALE = 1 << 20


def kmeans_centroids(emb: DataFrame, id_col: str, vec_col: str,
                     n_cells: int, n_iter: int = 2,
                     scale: int = KMEANS_SCALE) -> DataFrame:
    """Fixed-iteration Lloyd's k-means coarse quantizer as DataFrame
    aggregations — (cell_id, ctv) after `n_iter` assign/update rounds
    from the deterministic seed centroids (`_centroid_frame`).

    Each round: assign = the existing `assign_cells` plan (argmax
    cosine against the one-row broadcast centroid array — corpus never
    shuffles), update = posexplode to (cell, dim, val) → groupBy
    (cell, dim) summing fixed-point longs (exact, order-independent —
    see `KMEANS_SCALE`) → re-pack per cell via
    array_sort(collect_list(struct(dim, mean))). The (cell × dim)
    grouping is k·d rows — quantizer-sized, never corpus-sized; the
    only corpus-proportional work per round is the narrow assignment
    map + one shuffle of (cell, dim, val) triples with map-side
    partial sums. Production pipelines train on a corpus sample; pass
    a filtered `emb` for that — the plan is source-agnostic.

    Cells that attract no vectors in a round are dropped (both engines
    mirror this); ties in assignment resolve to the smaller cell id.
    Fixed iteration count (no convergence probe) keeps the whole
    training loop oracle-expressible in SQL."""
    cents = _centroid_frame(emb, id_col, vec_col, n_cells)
    for _ in range(n_iter):
        assigned = assign_cells(emb, id_col, vec_col,
                                _centroid_array(cents))
        cents = _kmeans_update(assigned, scale)
    return cents


def _kmeans_update(assigned: DataFrame, scale: int) -> DataFrame:
    """One Lloyd's update step: (cell_id, ctv) fixed-point means over
    the round's assignments (see `kmeans_centroids` for the plan
    shape and the exactness contract)."""
    ex = assigned.select(
        "cell_id", F.posexplode("cv").alias("dim", "val"))
    mean = ((F.col("s").cast("double") / F.col("n"))
            / F.lit(float(scale))).alias("v")
    return (ex.groupBy("cell_id", "dim")
            .agg(F.sum(F.floor(F.col("val") * scale).cast("long"))
                 .alias("s"),
                 F.count("*").alias("n"))
            .groupBy("cell_id")
            .agg(F.transform(
                F.array_sort(F.collect_list(
                    F.struct(F.col("dim"), mean))),
                lambda st: st.getField("v")).alias("ctv")))


def _l2sq_cols(a: Column, b: Column) -> Column:
    """|a−b|² via the dot identity — term order pinned left-to-right
    so the DuckDB mirror `list_dot_product(a,a) − 2·list_dot_product
    (a,b) + list_dot_product(b,b)` is bit-identical (the pq._l2sq
    idiom)."""
    return dot(a, a) - F.lit(2.0) * dot(a, b) + dot(b, b)


def _inertia_row(it: int, assigned: DataFrame, cents: DataFrame,
                 scale: int) -> DataFrame:
    """ONE row (it, inertia, n_vec, mean_d2): the round's sum of
    squared distances to the assigned centroids as an exact long
    (per-vector floor(|v−c|²·scale) summed — order-invariant,
    engine-portable), plus the derived mean. `cents` is the
    quantizer-sized (cell_id, ctv) relation the round assigned
    against."""
    j = assigned.join(
        bounded_broadcast(
            cents, bound="quantizer centroids (<= n_cells rows)"),
        "cell_id")
    d2 = _l2sq_cols(F.col("cv"), F.col("ctv"))
    return (j.agg(F.sum(F.floor(d2 * F.lit(float(scale)))
                        .cast("long")).alias("inertia"),
                  F.count("*").alias("n_vec"))
            .select(F.lit(it).cast("long").alias("it"), "inertia",
                    F.col("n_vec").cast("long").alias("n_vec"),
                    (F.col("inertia").cast("double")
                     / F.col("n_vec").cast("double")
                     / F.lit(float(scale))).alias("mean_d2")))


def ivf_inertia_trajectory(emb: DataFrame, id_col: str, vec_col: str,
                           n_cells: int = 8, train_iters: int = 2,
                           scale: int = KMEANS_SCALE) -> DataFrame:
    """Quantizer-quality attestation (VERDICT r11 #7 — the trained-
    quantizer analog of recall@3): the k-means inertia trajectory as
    exact fixed-point longs, one row per training round (SSD of the
    round's assignments to the centroids the round ENTERED with) plus
    the FINAL row — the shipped index's quantization error, computed
    over `_ivf_index`'s already-materialized assignment (no extra
    corpus pass for the index itself). Lloyd's guarantees the
    per-round means minimize SSD for their assignments, so a healthy
    trajectory is non-increasing — the oracle replays every round, so
    a broken update (wrong flooring, dropped cells, a stale cache)
    hash-mismatches instead of silently degrading recall.

    Session-cached like the index (tiny: train_iters+1 rows); the
    per-round rows replay the training prefix once per session —
    production pipelines emit these rows from the training job
    itself."""
    from ._cache import cached_build, plan_key
    spark = emb.sparkSession
    key = ("ivf_inertia", plan_key(emb), id_col, vec_col, n_cells,
           train_iters, scale)

    def build():
        rounds = _kmeans_rounds(emb, id_col, vec_col, n_cells,
                                train_iters, scale)
        legs = []
        for it in range(1, train_iters + 1):
            assigned = assign_cells(emb, id_col, vec_col,
                                    _centroid_array(rounds[it - 1]))
            legs.append(_inertia_row(it, assigned, rounds[it - 1],
                                     scale))
        _, final_assigned = _ivf_index(emb, id_col, vec_col, n_cells,
                                       train_iters)
        legs.append(_inertia_row(train_iters + 1, final_assigned,
                                 rounds[train_iters], scale))
        out = legs[0]
        for leg in legs[1:]:
            out = out.unionByName(leg)
        return out.localCheckpoint(eager=True)

    return cached_build(spark, key, build)


def _centroid_array(cents_df: DataFrame) -> DataFrame:
    """The quantizer packed into ONE row: array<struct<cell_id, ctv>>
    sorted by cell_id. Broadcast-crossJoined to any side, every vector
    scores all cells row-locally — no corpus shuffle (the vectors never
    cross the wire), and the plan is O(1) in n_cells (the centroids are
    DATA in a broadcast variable, not literals in the expression
    tree)."""
    return cents_df.agg(
        F.array_sort(F.collect_list(F.struct(
            "cell_id", "ctv", l2_norm(F.col("ctv")).alias("nct"))))
        .alias("_cents"))


def _cell_scores(vec: Column, cents: Column, nv: Column) -> Column:
    """Array of (cos_sim, -cell_id) structs — one per centroid, computed
    row-locally against the broadcast centroid array. Max = best cell
    with ties to the smallest cell id.

    Norms once (r17, the r16 `_cos_normed` finding applied to
    ASSIGNMENT): `nv` must reference a PRE-PROJECTED per-row l2-norm
    column (computed once per row, below the broadcast crossJoin so
    CollapseProject cannot inline it back into the lambda), and each
    centroid's norm is precomputed in the array struct (`nct`, once
    per centroid at array build). The per-centroid score then pays ONE
    interpreted dot-fold instead of three — higher-order lambdas never
    codegen, and the old form re-folded both norms per (row, centroid)
    pair. dot/(nv·nct) is the SAME IEEE expression tree as
    cosine(vec, ctv) — sqrt-then-multiply-then-divide in the same
    order — so scores and every downstream argmax/sort are
    bit-identical to the oracle's replay."""
    return F.transform(
        cents,
        lambda c: F.struct(
            (dot(vec, c.getField("ctv"))
             / (nv * c.getField("nct"))).alias("s"),
            (-c.getField("cell_id")).alias("nid")))


def assign_cells(emb: DataFrame, id_col: str, vec_col: str,
                 cent_arr: DataFrame) -> DataFrame:
    """IVF cell assignment: argmax-cosine centroid per vector — a
    narrow map over the corpus (crossJoin with the ONE-row broadcast
    centroid array adds no exchange on the corpus side). At 100 TB this
    is the property that matters: the corpus vectors are scored in
    place and never shuffle."""
    from ._cache import cached_column
    v = as_double_vec(vec_col)
    cell_id = cached_column(
        ("assign_cell_id_normed",),
        lambda: (-F.array_max(_cell_scores(F.col("cv"), F.col("_cents"),
                                           F.col("_anv")))
                 .getField("nid")).cast("int"))
    # norms-once pre-projection BELOW the crossJoin (see _cell_scores):
    # the double-cast vector and its norm compute once per row
    pre = emb.select(F.col(id_col).alias("neighbor_id"), v.alias("cv"),
                     l2_norm(v).alias("_anv"))
    return (pre.crossJoin(bounded_broadcast(cent_arr, bound="one-row centroid array", max_rows=1))
            .select("neighbor_id", "cv", cell_id.alias("cell_id")))


def assign_cells_scored(emb: DataFrame, id_col: str, vec_col: str,
                        cent_arr: DataFrame,
                        keep_vec: bool = False) -> DataFrame:
    """`assign_cells` plus the WINNING cosine: (_id, cell_id,
    cell_cos[, _v]). The cosine to the assigned centroid is the
    quantization fit — the quantity drift monitoring averages per
    cell; `keep_vec` carries the vector through for index sinks that
    persist it (retrain needs the vectors back). Same shuffle-free
    shape: one broadcast crossJoin projection."""
    from ._cache import cached_column
    v = as_double_vec(vec_col)
    best = cached_column(
        ("assign_best_normed",),
        lambda: F.array_max(_cell_scores(F.col("_acv"), F.col("_cents"),
                                         F.col("_anv"))))
    pre = emb.select(F.col(id_col).alias("_id"), v.alias("_acv"),
                     l2_norm(v).alias("_anv"))
    return (pre.crossJoin(bounded_broadcast(cent_arr, bound="one-row centroid array", max_rows=1))
            .select(F.col("_id"),
                    (-best.getField("nid")).cast("int").alias("cell_id"),
                    best.getField("s").alias("cell_cos"),
                    *([F.col("_acv").alias("_v")] if keep_vec else [])))


def ivf_drift_report(emb: DataFrame, batch: DataFrame, id_col: str,
                     vec_col: str, n_cells: int = 8,
                     train_iters: int = 2,
                     cos_scale: int = KMEANS_SCALE,
                     cos_drop: float = 0.02) -> DataFrame:
    """Incremental IVF index maintenance (X-ANN-IVF-INCR): assign a
    NEW arrival batch to the PERSISTED quantizer — no retrain, the
    incremental contract that `incremental_exact` /
    `incremental_near_dup_candidates` establish for the dedup indexes,
    completed here for the vector index — and report per-cell drift:

      (cell_id, n_index, mean_cos_index, n_new, mean_cos_new, retrain)

    `mean_cos_*` is the mean quantization fit (cosine of each vector
    to its assigned centroid); a cell whose NEW arrivals fit worse
    than the index baseline by more than `cos_drop` is flagged
    `retrain` — the standard trigger for re-running Lloyd's rounds on
    a stale quantizer.

    Scale shape: both sides are shuffle-free broadcast projections
    (`assign_cells_scored` — vectors never move) feeding per-cell
    aggregates whose state and output are quantizer-sized; the final
    join is cells × cells. Determinism: per-vector fits are quantized
    to fixed-point longs before the mean (the `KMEANS_SCALE` trick),
    so the report — including the retrain flags — is partitioning-
    invariant and oracle-replayable. The batch joins FULL OUTER so a
    cell seen only by new arrivals (possible when `batch` is not a
    subset of the index corpus) still surfaces; full-outer can't
    broadcast, so that one join sort-merges — two quantizer-sized
    relations, ≤ n_cells rows a side."""
    cent_arr, _ = _ivf_index(emb, id_col, vec_col, n_cells, train_iters)

    def stats(side: DataFrame, pref: str) -> DataFrame:
        sc = assign_cells_scored(side, id_col, vec_col, cent_arr)
        fits = sc.select("cell_id",
                         F.floor(F.col("cell_cos") * F.lit(float(cos_scale)))
                         .cast("long").alias("fit_q"))
        return cell_fit_stats(fits, pref, cos_scale)

    return drift_flags(stats(emb, "index"), stats(batch, "new"), cos_drop)


def cell_fit_stats(fits: DataFrame, pref: str,
                   cos_scale: int = KMEANS_SCALE) -> DataFrame:
    """Per-cell fixed-point mean over a (cell_id, fit_q) relation:
    (cell_id, n_{pref}, mean_cos_{pref}) — the ONE definition of the
    drift statistics, shared by the batch operator above and the
    streaming sink (streaming/vectors.py), which stores `fit_q`
    pre-quantized in its index."""
    return (fits.groupBy("cell_id")
            .agg(F.count("*").alias(f"n_{pref}"),
                 F.sum("fit_q").alias("_s"))
            .select("cell_id", f"n_{pref}",
                    ((F.col("_s").cast("double") / F.col(f"n_{pref}"))
                     / F.lit(float(cos_scale)))
                    .alias(f"mean_cos_{pref}")))


def drift_flags(istat: DataFrame, bstat: DataFrame,
                cos_drop: float) -> DataFrame:
    """The ONE definition of the drift report: full-outer on cell_id
    (new-only cells still surface; cells-sized sort-merge, see
    `ivf_drift_report`) with the retrain flag COALESCEd to false —
    without the coalesce, a cell with no baseline (first epoch, or
    the first epoch after a quantizer version bump) gets a NULL flag
    that is invisible to both `retrain` and `NOT retrain` predicates
    (three-valued logic; review finding r8)."""
    return (istat.join(bstat, "cell_id", "full_outer")
            .select("cell_id", "n_index", "mean_cos_index",
                    "n_new", "mean_cos_new",
                    F.coalesce(
                        F.col("n_new").isNotNull()
                        & (F.col("mean_cos_new")
                           < F.col("mean_cos_index") - F.lit(cos_drop)),
                        F.lit(False)).alias("retrain")))


def _kmeans_rounds(emb: DataFrame, id_col: str, vec_col: str,
                   n_cells: int, n_iter: int,
                   scale: int = KMEANS_SCALE) -> list[DataFrame]:
    """[c0, c1, …, c_n_iter] — every training round's (cell_id, ctv),
    each materialized as a quantizer-sized (k-row) eager checkpoint
    and session-cached. ONE training pass serves every consumer of
    any round: the index build takes the last element, the inertia
    trajectory reads each round WITHOUT replaying the preceding
    updates (r12 — the trajectory previously re-ran the round-1
    update to reconstruct round 2's entering centroids)."""
    from ._cache import cached_build, plan_key
    key = ("kmeans_rounds", plan_key(emb), id_col, vec_col, n_cells,
           n_iter, scale)

    def build():
        rounds = [_centroid_frame(emb, id_col, vec_col, n_cells)
                  .localCheckpoint(eager=True)]
        for _ in range(n_iter):
            assigned = assign_cells(emb, id_col, vec_col,
                                    _centroid_array(rounds[-1]))
            rounds.append(_kmeans_update(assigned, scale)
                          .localCheckpoint(eager=True))
        return rounds

    return cached_build(emb.sparkSession, key, build)


def _ivf_index(emb: DataFrame, id_col: str, vec_col: str,
               n_cells: int, train_iters: int):
    """(cent_arr, assigned) — the IVF index: the one-row broadcast
    centroid array plus the cell-assigned corpus. Built once and cached
    per (session, corpus plan) the way any vector store persists its
    index — every consumer (`ivf_topk` probes, `semantic_dedup`
    within-cell comparisons) pays only its own stage, not the build."""
    from ._cache import cached_persist, plan_key
    spark = emb.sparkSession
    params = (plan_key(emb), id_col, vec_col, n_cells, train_iters)
    cent_arr = cached_persist(
        spark, ("ivf_centroids",) + params,
        lambda: _centroid_array(_kmeans_rounds(
            emb, id_col, vec_col, n_cells, train_iters)[-1]))
    # the centroid array materializes inside the assignment's count:
    # the index is built eagerly, once
    assigned = cached_persist(
        spark, ("ivf_index",) + params,
        lambda: assign_cells(emb, id_col, vec_col, cent_arr), eager=True)
    return cent_arr, assigned


def _probe_rank_cell(rel: DataFrame, cent_arr: DataFrame,
                     rank: int) -> DataFrame:
    """`rel` with `cell_id` replaced by the row's `rank`-th nearest
    cell (1 = the primary assignment). Rows with fewer than `rank`
    cells available drop out. Same shuffle-free shape as assignment;
    ties resolve by the (-cos, cell_id) struct order, so every rank
    is a DISTINCT cell."""
    from ._cache import cached_column
    best = cached_column(
        ("probe_rank_cell_cv_normed", rank),
        lambda: F.element_at(
            F.array_sort(_cell_scores(F.col("cv"), F.col("_cents"),
                                      F.col("_pnv"))),
            -rank))
    return (rel.drop("cell_id")
            .withColumn("_pnv", l2_norm(F.col("cv")))
            .crossJoin(bounded_broadcast(
                cent_arr, bound="one-row centroid array", max_rows=1))
            .withColumn("cell_id",
                        (-best.getField("nid")).cast("int"))
            .filter(F.col("cell_id").isNotNull())
            .drop("_cents", "_pnv"))


def _probe_cells(rel: DataFrame, cent_arr: DataFrame,
                 nprobe: int) -> DataFrame:
    """`rel` (carrying a `cv` double-vector column) exploded to one
    row per (row, probe cell): the row's `nprobe` nearest cells as
    `cell_id`, replacing any prior cell column. The comparison-stage
    half of multi-probe (VERDICT r10 #3): index/report semantics keep
    the single primary assignment; only the candidate JOIN widens.
    Same shuffle-free shape as assignment — a one-row broadcast
    crossJoin scored row-locally, then an explode (×nprobe fan-out,
    narrow). nprobe ≥ n_cells degrades gracefully to exhaustive cell
    coverage (slice of a shorter array returns the whole array —
    verified live)."""
    from ._cache import cached_column
    best = cached_column(
        ("probe_cells_cv_normed", nprobe),
        lambda: F.slice(F.array_sort(_cell_scores(F.col("cv"),
                                                  F.col("_cents"),
                                                  F.col("_pnv"))),
                        -nprobe, nprobe))
    return (rel.drop("cell_id")
            .withColumn("_pnv", l2_norm(F.col("cv")))
            .crossJoin(bounded_broadcast(cent_arr, bound="one-row centroid array", max_rows=1))
            .withColumn(
                "cell_id",
                F.explode(F.transform(best, lambda s: -s.getField("nid"))))
            .withColumn("cell_id", F.col("cell_id").cast("int"))
            .drop("_cents", "_pnv"))


def ivf_topk(emb: DataFrame, queries: DataFrame, id_col: str, vec_col: str,
             k: int = 3, n_cells: int = 8, nprobe: int = 2,
             train_iters: int = 0) -> DataFrame:
    """IVF-style approximate top-k: corpus partitioned into `n_cells`
    centroid cells, each query probes its `nprobe` nearest cells, and
    only those cells' vectors are scored.

    The scale shape (the IVF trade): the candidate join is an equi-join
    on cell_id (queries broadcast), so per-query work drops from O(N)
    to O(N·nprobe/n_cells). `n_cells` ↗ ⇒ recall ↘ cost ↘ — same knob
    family as the sign-bucket LSH variant, but with data-adaptive
    (trainable) partitions.

    The coarse quantizer is DATA at every size: a one-row broadcast
    array<struct<cell_id, vector>> (`_centroid_array`), argmax'd
    row-locally with higher-order expressions. The plan is O(1) in
    n_cells (no literal expression tree — a 10⁴-cell × 128-dim
    quantizer is a ~5 MB broadcast variable) AND assignment adds no
    corpus shuffle (the vectors are scored in place and never cross
    the wire — at 100 TB of embeddings, the property that matters).
    Ties resolve to the smaller cell id.

    ``train_iters`` > 0 trains the quantizer with that many Lloyd's
    k-means rounds (`kmeans_centroids` — fixed-point deterministic, so
    still oracle-expressible) before indexing; 0 keeps the raw seed
    centroids.
    """
    from pyspark.sql import Window

    from ._cache import cached_column
    cent_arr, assigned = _ivf_index(emb, id_col, vec_col, n_cells,
                                    train_iters)
    qv = as_double_vec(vec_col)
    # ascending struct sort ⇒ the last `nprobe` entries are
    # the best cells (ties to the smaller cell id via -id)
    best = cached_column(
        ("ivf_probe_best_normed", nprobe),
        lambda: F.slice(F.array_sort(_cell_scores(F.col("qv"),
                                                  F.col("_cents"),
                                                  F.col("_nq"))),
                        -nprobe, nprobe))
    # norms-once: _nq computed below the crossJoin feeds BOTH the
    # probe scoring and the candidate pair scoring (_cos_normed)
    probes = (queries.select(F.col(id_col).alias("query_id"),
                             qv.alias("qv"), l2_norm(qv).alias("_nq"))
              .crossJoin(bounded_broadcast(
        cent_arr, bound="one-row centroid array", max_rows=1))
              .select("query_id", "qv", "_nq", best.alias("best"))
              .select("query_id", "qv", "_nq",
                      F.explode(F.transform(
                          "best", lambda s: -s.getField("nid")))
                      .alias("cell_id"))
              .withColumn("cell_id", F.col("cell_id").cast("int")))
    scored = (assigned.withColumn("_nc", l2_norm(F.col("cv")))
              .join(bounded_broadcast(
        probes, bound="eval query set x nprobe (query-set-bounded)"),
        "cell_id")
              .filter(F.col("neighbor_id") != F.col("query_id"))
              .select("query_id", "neighbor_id",
                      _cos_normed().alias("cos_sim")))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id"))
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .select("query_id", "neighbor_id", "cos_sim",
                    F.col("rn").cast("int").alias("rn")))


#: Widest bucket the near-dup self-join will pay for: a bucket of w
#: vectors yields w·(w-1)/2 pairs, so 10k ⇒ ≤ 5·10⁷ pairs per bucket —
#: bounded work per task. Wider buckets are dropped whole
#: (deterministic), same contract as dedup.lsh_candidate_pairs.
EMBED_MAX_BUCKET = 10_000
EMBED_MIN_BITS = 8
#: sign_bucket reads the first `bits` dimensions, so auto-scaling is
#: capped here — callers with wider embeddings can raise it.
EMBED_MAX_BITS = 24


def scaled_bits(n_rows: int | None, target_bucket: int = 1024,
                min_bits: int = EMBED_MIN_BITS,
                max_bits: int = EMBED_MAX_BITS) -> int:
    """Bucket-width-driven bits choice: enough sign bits that the
    EXPECTED bucket holds ≈ target_bucket vectors (2^bits ≈
    n_rows / target_bucket). A fixed 2^8 grid that is fine at 10⁶
    vectors puts ~4M vectors per bucket at 10⁹ — quadratic pair blowup;
    scaling bits with the attested corpus size keeps per-bucket work
    constant as the corpus grows. Unattested (None) falls back to
    min_bits."""
    import math
    if n_rows is None or n_rows <= 0:
        return min_bits
    want = math.ceil(math.log2(max(n_rows / target_bucket, 1.0)))
    return min(max_bits, max(min_bits, want))


def embedding_near_dups(emb: DataFrame, id_col: str, vec_col: str,
                        threshold: float = 0.95, bits: int | None = 8,
                        max_bucket: int = EMBED_MAX_BUCKET,
                        n_rows: int | None = None) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within sign buckets
    (id_a < id_b, cosine >= threshold) — the embedding leg of the
    dedup suite.

    Scale guards (mirroring the text-side `dedup.lsh_candidate_pairs`):

    - **Bucket-width guard**: buckets wider than ``max_bucket`` are
      dropped whole before the self-join — deterministic protection
      against the quadratic blowup of one degenerate bucket (embeddings
      clustered in a single orthant). The width relation has ≤ 2^bits
      rows — bucket-count sized, never corpus sized — so it always
      broadcasts safely.
    - **Size-attested self-join strategy**: the per-vector sides are
      corpus-sized, so the build side broadcasts only when the caller
      attests ``n_rows`` ≤ ``plans.attest.BROADCAST_MAX_ROWS``;
      otherwise both sides shuffle-equi-join on the bucket key (AQE's
      skew-join split handles residual width variance under the cap).
    - **Corpus-scaled bits**: pass ``bits=None`` to derive the bucket
      grid from the attested corpus size (`scaled_bits`), keeping the
      expected bucket width constant as the corpus grows.
    """
    if bits is None:
        bits = scaled_bits(n_rows)
    c = emb.select(F.col(id_col).alias("_id"),
                   as_double_vec(vec_col).alias("v"),
                   sign_bucket(F.col(vec_col), bits).alias("bucket"))
    if n_rows is None or n_rows > max_bucket:
        # a bucket can never exceed the corpus: with an attested
        # n_rows <= max_bucket the guard is provably a no-op — skip it
        widths = (c.groupBy("bucket").agg(F.count("*").alias("_bw"))
                  .filter(F.col("_bw") <= max_bucket).drop("_bw"))
        c = c.join(bounded_broadcast(
            widths, bound="sign-bucket widths (<= 2^bits rows)"),
            "bucket")
    # norms-once (r17, the _cos_normed argument): each side's l2 norm
    # computes once per row below the join; the per-pair score pays
    # one dot-fold. dot/(na·nb) is the same IEEE tree as cosine(a, b).
    a = c.select(F.col("bucket"), F.col("_id").alias("id_a"),
                 F.col("v").alias("va"),
                 l2_norm(F.col("v")).alias("_na"))
    b = c.select(F.col("bucket"), F.col("_id").alias("id_b"),
                 F.col("v").alias("vb"),
                 l2_norm(F.col("v")).alias("_nb"))
    return (a.join(maybe_broadcast(b, n_rows), "bucket")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b",
                    (dot(F.col("va"), F.col("vb"))
                     / (F.col("_na") * F.col("_nb"))).alias("cos_sim"))
            .filter(F.col("cos_sim") >= threshold))


def semantic_dedup(emb: DataFrame, id_col: str = "vec_id",
                   vec_col: str = "embedding", n_cells: int = 8,
                   train_iters: int = 2, threshold: float = 0.95,
                   max_cell: int = EMBED_MAX_BUCKET,
                   n_rows: int | None = None,
                   nprobe: int = 1) -> DataFrame:
    """SemDeDup (X-DEDUP-SEMANTIC; Abbas et al. 2023,
    arXiv:2303.09540): semantic near-duplicate removal over an
    embedding column — cluster the corpus with the TRAINED coarse
    quantizer, compare cosine similarity only WITHIN cells, resolve
    the transitive similarity components, keep the min-id member of
    each. Output: (id, cell_id, keeper, is_dup) for every corpus row;
    `is_dup` rows are the ones a training pipeline drops.

    The defining approximation is the one that makes it scale: a pair
    split across two cells is never compared (the published recipe,
    ``nprobe=1``). ``nprobe > 1`` is the recall/cost dial (VERDICT
    r10 #3): the COMPARISON stage assigns each row to its ``nprobe``
    nearest cells (`_probe_cells`), so a boundary pair is compared
    whenever either member's probe set covers the other's primary
    cell — cost ×nprobe, still cell-bounded; index semantics (one
    primary cell per row, the persisted artifact) are unchanged. The
    widened pair set normalizes to (least, greatest) and distincts —
    one candidate-bounded shuffle single-probe doesn't pay.
    Per-cell work is the quadratic stage, so cells carry the same
    guards as `embedding_near_dups` buckets: cells wider than
    ``max_cell`` are dropped from the pair stage whole
    (deterministic), skipped entirely when the attested ``n_rows``
    proves the guard dead; the per-vector join sides broadcast only
    under the `plans.attest.BROADCAST_MAX_ROWS` attestation. Cluster
    resolution is `graph.dup_clusters` — O(log diameter) supersteps of
    equi-joins, no all-pairs anything. n_cells scales with the corpus
    (fixed expected cell width) exactly as `ivf_topk`; the index is
    shared with it via `_ivf_index`, so a pipeline that both searches
    and dedups builds the quantizer once.

    Like the quantizer, the RESOLVED relation is memoized per
    (session, corpus plan, params): `dup_clusters`' pointer-doubling
    supersteps run EAGER localCheckpoint jobs at DataFrame-build time,
    so an unmemoized repeat invocation re-pays the whole resolution
    before a single output row is asked for (measured ~3 s/call at
    sf0.1 — the dominant repeat cost of q63). The cluster map is the
    dedup artifact a pipeline persists; building it once per session
    is the engine-side analog."""
    from ._cache import cached_build, plan_key
    key = ("semdedup", plan_key(emb), id_col, vec_col, n_cells,
           train_iters, threshold, max_cell, n_rows, nprobe)

    def build() -> DataFrame:
        return _semantic_dedup_build(emb, id_col, vec_col, n_cells,
                                     train_iters, threshold, max_cell,
                                     n_rows, nprobe)

    return cached_build(emb.sparkSession, key, build)


def _semdedup_sides(emb: DataFrame, id_col: str, vec_col: str,
                    n_cells: int, train_iters: int, max_cell: int,
                    n_rows: int | None):
    """(cent_arr, assigned, c, widths, guard): the shared comparison
    inputs — the indexed corpus with precomputed norms and the
    cell-width survival guard. Norms once: the per-pair cosine then
    costs one interpreted dot-aggregate instead of three (higher-order
    exprs are not codegen'd — measured 3× on the pair stage), and
    dot/(na·nb) is the SAME float computation as cosine(a, b), so
    threshold comparisons stay bit-identical to the oracle's."""
    cent_arr, assigned = _ivf_index(emb, id_col, vec_col, n_cells,
                                    train_iters)
    c = assigned.select(F.col("neighbor_id").alias("_id"), "cv", "cell_id",
                        l2_norm(F.col("cv")).alias("_n"))
    guard = n_rows is None or n_rows > max_cell
    widths = None
    if guard:
        # widths over the PRIMARY assignment (the cell's population —
        # probe visits don't inflate it); both the probe side and the
        # primary side drop over-wide cells before the join
        widths = (c.groupBy("cell_id").agg(F.count("*").alias("_cw"))
                  .filter(F.col("_cw") <= max_cell).drop("_cw"))
        c = c.join(bounded_broadcast(
            widths, bound="cell widths (<= n_cells rows)"), "cell_id")
    return cent_arr, assigned, c, widths, guard


def _semdedup_score(a: DataFrame, b: DataFrame, n_rows: int | None,
                    threshold: float, id_pred) -> DataFrame:
    """The within-cell comparison join: the CHEAP id predicate runs
    before the interpreted per-pair cosine, halving the dominant
    quadratic stage."""
    return (a.join(maybe_broadcast(b, n_rows), "cell_id")
            .filter(id_pred)
            .filter(dot(F.col("va"), F.col("vb"))
                    / (F.col("na") * F.col("nb")) >= threshold))


def _semdedup_clusters(emb: DataFrame, id_col: str, vec_col: str,
                       n_cells: int, train_iters: int, threshold: float,
                       max_cell: int, n_rows: int | None,
                       nprobe: int) -> DataFrame:
    """The session-cached (id, keeper) cluster map per nprobe.

    r12 (VERDICT r11 #4): the multi-probe pair set is a SUPERSET of
    the single-probe one — probe rank 1 IS the primary assignment —
    so ``nprobe > 1`` reuses the cached single-probe artifacts instead
    of re-scoring and re-resolving from scratch:

    - **pairs**: only the EXTRA probe visits (ranks 2..nprobe, the
      probed cell ≠ the row's primary) are scored — the base pairs
      met in a shared primary cell, and a base pair can never recur
      in the extras (the extra cell differs from the shared primary
      by construction), so the union is disjoint;
    - **resolution**: the extra pairs are CONTRACTED through the
      single-probe components (endpoint → its nprobe=1 keeper; base
      pairs collapse to self-loops and vanish), `graph.dup_clusters`
      runs on that candidate-bounded contracted graph only, and the
      final map composes the two (x → keeper₁(x) → keeperΔ).
      Contracting connected components preserves connectivity, and
      min-of-minima = global min, so the composed keeper is
      identical to a from-scratch resolution — the oracle still
      resolves the FULL widened pair set with its recursive CTE, so
      a wrong composition hash-mismatches."""
    from ._cache import cached_build, plan_key
    from .graph import dup_clusters
    key = ("semdedup_clusters", plan_key(emb), id_col, vec_col, n_cells,
           train_iters, threshold, max_cell, n_rows, nprobe)

    def build() -> DataFrame:
        cent_arr, _, c, widths, guard = _semdedup_sides(
            emb, id_col, vec_col, n_cells, train_iters, max_cell, n_rows)
        b = c.select("cell_id", F.col("_id").alias("id_b"),
                     F.col("cv").alias("vb"), F.col("_n").alias("nb"))
        if nprobe <= 1:
            # one cell per row ⇒ each unordered pair meets exactly
            # once under id_a < id_b — no dedup shuffle
            a = c.select("cell_id", F.col("_id").alias("id_a"),
                         F.col("cv").alias("va"), F.col("_n").alias("na"))
            pairs = (_semdedup_score(a, b, n_rows, threshold,
                                     F.col("id_a") < F.col("id_b"))
                     .select("id_a", "id_b"))
            return dup_clusters(pairs)
        base = _semdedup_clusters(emb, id_col, vec_col, n_cells,
                                  train_iters, threshold, max_cell,
                                  n_rows, nprobe - 1)
        # EXTRA visits only: exactly the nprobe-th nearest cell —
        # ranks 1..nprobe-1 are the cached base level's coverage, so
        # each recursion level pays ONE probe rank, not nprobe-1
        # (review finding r12: filtering probe_cells(nprobe) by
        # != primary re-scored ranks 2..nprobe-1 at every level).
        # Both pair directions survive (a pair whose only coverage is
        # the larger-id member probing the smaller's primary cell
        # must too). Rows whose corpus has fewer than nprobe cells
        # have no nprobe-th cell and contribute no extras.
        extra_src = _probe_rank_cell(c, cent_arr, nprobe)
        if guard:
            extra_src = extra_src.join(
                bounded_broadcast(widths,
                                  bound="cell widths (<= n_cells rows)"),
                "cell_id")
        a = extra_src.select("cell_id", F.col("_id").alias("id_a"),
                             F.col("cv").alias("va"),
                             F.col("_n").alias("na"))
        extra = (_semdedup_score(a, b, n_rows, threshold,
                                 F.col("id_a") != F.col("id_b"))
                 .select(F.least("id_a", "id_b").alias("id_a"),
                         F.greatest("id_a", "id_b").alias("id_b"))
                 .distinct())
        k1 = F.coalesce("keeper", F.col("id"))
        m1a = base.select(F.col("id").alias("id_a"),
                          F.col("keeper").alias("_ka"))
        m1b = base.select(F.col("id").alias("id_b"),
                          F.col("keeper").alias("_kb"))
        contracted = (extra.join(m1a, "id_a", "left")
                      .join(m1b, "id_b", "left")
                      .select(F.coalesce("_ka", "id_a").alias("ka"),
                              F.coalesce("_kb", "id_b").alias("kb"))
                      .filter(F.col("ka") != F.col("kb"))
                      .select(F.least("ka", "kb").alias("id_a"),
                              F.greatest("ka", "kb").alias("id_b"))
                      .distinct())
        delta = dup_clusters(contracted)
        # node universe = base's nodes ∪ the extra pairs' nodes
        nodes = (base.select("id")
                 .unionByName(extra.select(F.col("id_a").alias("id")))
                 .unionByName(extra.select(F.col("id_b").alias("id")))
                 .distinct())
        composed = (nodes.join(base, "id", "left")
                    .select("id", k1.alias("_k1"))
                    .join(delta.select(F.col("id").alias("_k1"),
                                       F.col("keeper").alias("_k2")),
                          "_k1", "left")
                    .select("id",
                            F.coalesce("_k2", "_k1").alias("keeper")))
        return composed.localCheckpoint(eager=True)

    return cached_build(emb.sparkSession, key, build)


def _semantic_dedup_build(emb: DataFrame, id_col: str, vec_col: str,
                          n_cells: int, train_iters: int,
                          threshold: float, max_cell: int,
                          n_rows: int | None,
                          nprobe: int = 1) -> DataFrame:
    _, assigned = _ivf_index(emb, id_col, vec_col, n_cells, train_iters)
    clusters = _semdedup_clusters(emb, id_col, vec_col, n_cells,
                                  train_iters, threshold, max_cell,
                                  n_rows, nprobe)
    return (assigned
            .join(maybe_broadcast(
                      clusters.withColumnRenamed("id", "neighbor_id"),
                      n_rows),
                  "neighbor_id", "left")
            .select(F.col("neighbor_id").alias("id"), "cell_id",
                    F.coalesce("keeper", "neighbor_id").alias("keeper"))
            .withColumn("is_dup", F.col("keeper") != F.col("id")))


def semantic_decontam(emb: DataFrame, eval_ids: DataFrame,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding", n_cells: int = 8,
                      train_iters: int = 2, threshold: float = 0.95,
                      n_rows: int | None = None,
                      nprobe: int = 1) -> DataFrame:
    """Semantic benchmark decontamination (X-DECONTAM-SEMANTIC) — the
    embedding-space sibling of `decontam.py`'s n-gram overlap filter:
    a TRAIN row is contaminated iff its cosine similarity to ANY
    benchmark/eval vector reaches `threshold`. `eval_ids` is the
    benchmark membership id-relation (column named like `id_col`);
    rows in it are the eval side, all other corpus rows the train
    side. Output, one row per TRAIN vector: (id, cell_id, n_hits,
    max_sim, is_contaminated) — the drop-list report a pipeline
    persists beside its decontaminated corpus.

    Scale shape (the SemDeDup approximation applied to
    decontamination): candidates are compared only WITHIN the shared
    IVF quantizer cells — the same `_ivf_index` artifact `ivf_topk` /
    `semantic_dedup` already build, so a pipeline that searches,
    dedups, AND decontaminates trains the quantizer once. The
    quadratic stage is train×eval per cell, but the eval side is a
    benchmark — bounded and broadcastable (size-attested via
    `n_rows`, the dedup contract) — so per-cell cost stays linear in
    the train rows; the hit aggregate is keyed on the train id; the
    final left join is hit-proportional. Train vectors never shuffle:
    assignment is the broadcast-projection, the eval side moves to
    them. Under the published single-probe recipe (``nprobe=1``) a
    cross-cell near-hit is missed by construction; ``nprobe > 1`` is
    the recall/cost dial (VERDICT r10 #3): each TRAIN row probes its
    `nprobe` nearest cells for the comparison only (cost ×nprobe,
    still cell-bounded; the eval side keeps its primary cell, so a
    (train, eval) pair still meets at most once and the hit count
    stays an exact distinct-eval count). Report semantics unchanged —
    `cell_id` is always the primary assignment.

    Like `semantic_dedup`'s cluster map, the report is memoized per
    (session, corpus plan, eval plan, params): the contamination
    drop-list is the artifact a pipeline persists beside its
    decontaminated corpus and applies across many downstream jobs."""
    from ._cache import cached_persist, plan_key
    key = ("semantic_decontam", plan_key(emb), plan_key(eval_ids),
           id_col, vec_col, n_cells, train_iters, threshold, n_rows,
           nprobe)
    return cached_persist(
        emb.sparkSession, key,
        lambda: _semantic_decontam_build(emb, eval_ids, id_col,
                                         vec_col, n_cells, train_iters,
                                         threshold, n_rows, nprobe))


def _semantic_decontam_build(emb: DataFrame, eval_ids: DataFrame,
                             id_col: str, vec_col: str, n_cells: int,
                             train_iters: int, threshold: float,
                             n_rows: int | None,
                             nprobe: int = 1) -> DataFrame:
    cent_arr, assigned = _ivf_index(emb, id_col, vec_col, n_cells,
                                    train_iters)
    ev_ids = eval_ids.select(F.col(id_col).alias("_id"))
    c = assigned.select(F.col("neighbor_id").alias("_id"), "cv",
                        "cell_id", l2_norm(F.col("cv")).alias("_n"))
    ev = (c.join(bounded_broadcast(
        ev_ids, bound="benchmark eval id set (caller-bounded)"),
        "_id", "left_semi")
          .select("cell_id", F.col("cv").alias("ve"),
                  F.col("_n").alias("ne")))
    tr = c.join(bounded_broadcast(
        ev_ids, bound="benchmark eval id set (caller-bounded)"),
        "_id", "left_anti")
    # multi-probe widens only the train side of the COMPARISON join;
    # the eval side keeps its unique primary cell, so each (train,
    # eval) pair meets in at most one cell and count(*) stays exact
    probe_tr = tr if nprobe <= 1 else _probe_cells(tr, cent_arr, nprobe)
    cos = dot(F.col("cv"), F.col("ve")) / (F.col("_n") * F.col("ne"))
    hits = (probe_tr.join(maybe_broadcast(ev, n_rows), "cell_id")
            .filter(cos >= threshold)
            .groupBy("_id")
            .agg(F.count("*").alias("n_hits"),
                 F.max(cos).alias("max_sim")))
    return (tr.select("_id", "cell_id").join(hits, "_id", "left")
            .select(F.col("_id").alias("id"), "cell_id",
                    F.coalesce(F.col("n_hits"), F.lit(0).cast("long"))
                    .alias("n_hits"),
                    F.col("max_sim"),
                    (F.coalesce(F.col("n_hits"), F.lit(0)) > 0)
                    .alias("is_contaminated")))


def normalize_vec(vec: Column | str) -> Column:
    """L2-normalize a vector column (row-local higher-order exprs —
    the preprocessing that turns dot products into cosines so ANN
    stages can skip the per-pair norm divide). Zero vectors pass
    through unchanged (NULL-safe alternative to a 0/0 NaN)."""
    v = as_double_vec(vec)
    n = l2_norm(v)
    return F.when(n == 0, v).otherwise(
        F.transform(v, lambda x: x / n))


def mean_pool(df: DataFrame, group_cols: list[str],
              vec_col: str = "embedding") -> DataFrame:
    """Grouped element-wise mean of vectors: chunk→document (or
    doc→cluster) embedding pooling, the standard aggregation for
    building coarse-grain embeddings from fine-grain ones.

    Plan: posexplode to (group, dim_idx, value) → one hash aggregate
    keyed (group, dim_idx) — uniform keys, bounded state (one running
    sum/count per group×dim), map-side partial — → one re-assembly
    aggregate per group (array_sort(collect_list(struct(idx, avg)))
    whose state is exactly one vector per group, i.e. the OUTPUT row).
    No collect_list over members anywhere, so a group with a million
    chunks still carries dim-count state, not member-count state.
    Ragged inputs fail loudly: a group mixing vector lengths yields
    differing per-dim counts, raised via raise_error rather than
    silently averaging a prefix. Empty (and NULL) vectors are part of
    that contract: `posexplode_outer` keeps them as a NULL-dim row —
    a plain posexplode would drop them entirely, leaving the per-dim
    counts consistent and the guard blind while the group silently
    averaged only its non-empty members.
    """
    pos = df.select(*[F.col(c) for c in group_cols],
                    F.posexplode_outer(as_double_vec(vec_col))
                    .alias("_dim", "_val"))
    per_dim = (pos.groupBy(*group_cols, "_dim")
               .agg(F.avg("_val").alias("_avg"),
                    F.count("*").alias("_n")))
    vec = F.transform("_pairs", lambda p: p["_avg"])
    # the guard lives INSIDE the output expression so column pruning
    # can never drop it (an unused side-channel aggregate would be
    # eliminated by Catalyst, silently disarming the check); it trips
    # on differing per-dim counts AND on any empty/NULL vector (the
    # NULL-dim row posexplode_outer preserved)
    guarded = F.when(
        (F.col("_ndist") > 1) | F.col("_has_empty"),
        F.raise_error(F.lit(
            "mean_pool: ragged, empty, or NULL vector within a group"))
        .cast("array<double>")
    ).otherwise(vec)
    pair = F.when(F.col("_dim").isNotNull(),
                  F.struct("_dim", "_avg"))  # collect_list skips NULLs
    return (per_dim.groupBy(*group_cols)
            .agg(F.array_sort(F.collect_list(pair)).alias("_pairs"),
                 F.countDistinct(F.when(F.col("_dim").isNotNull(),
                                        F.col("_n"))).alias("_ndist"),
                 F.max(F.col("_dim").isNull()).alias("_has_empty"))
            .select(*group_cols, guarded.alias(vec_col)))


# ---------------------------------------------------------------------------
# Scalar quantization (X-SQ8) — the column-wise compression sibling of
# PQ: per-dimension (min, max) over the corpus, each value quantized
# to an 8-bit code c = floor((x − min)·255/(max − min)), reconstructed
# as min + c·((max − min)/255). 4× smaller than float32 (vs PQ's 64×
# with subspace codebooks) but with NO trained codebook and exact
# per-dim bounds — the cheap first rung of the compression ladder
# (SQ8 → PQ → IVF-PQ) every vector store ships.
#
# Engine portability: codes are integers from floor over IEEE
# +,−,×,÷ doubles (deterministic); reconstruction and the squared
# error use the same sequential-fold dot idiom the cosine legs attest.
# One corpus pass for the 2·d-value stats row (broadcast), one
# projection for codes/error — vectors never shuffle.
# ---------------------------------------------------------------------------

SQ8_LEVELS = 255


def sq8_stats(df: DataFrame, vec_col: str, dim: int) -> DataFrame:
    """ONE-ROW relation of per-dimension bounds: (_mn0.._mn{d-1},
    _mx0.._mx{d-1}) — 2·d aggregate columns over one corpus scan,
    map-side combined."""
    v = as_double_vec(vec_col)
    return df.agg(
        *[F.min(F.element_at(v, i + 1)).alias(f"_mn{i}")
          for i in range(dim)],
        *[F.max(F.element_at(v, i + 1)).alias(f"_mx{i}")
          for i in range(dim)])


def sq8_encode(df: DataFrame, id_col: str, vec_col: str, dim: int,
               stats: DataFrame) -> DataFrame:
    """(id, sq8_codes: array<int>, sq8_err: double): 8-bit codes per
    dimension plus the squared reconstruction error. A degenerate
    dimension (max == min) codes to 0 and reconstructs exactly (its
    error term is 0 by construction)."""
    from ._cache import cached_column
    v = as_double_vec(vec_col)
    out = df.select(F.col(id_col), v.alias("_v")) \
            .crossJoin(bounded_broadcast(
                stats, bound="one-row per-dim SQ8 bounds", max_rows=1))

    # codes and per-dim squared errors materialize as NAMED columns
    # first: inlining 64 recon trees into one array-fold expression
    # duplicated every subtree through the interpreted higher-order
    # path (measured 10× slower); named columns stay in whole-stage
    # codegen and are computed once each. The whole 2·dim column list
    # is ~10·dim py4j round-trips to construct — cached per JVM
    # (VERDICT r10 #2; the names are fixed, so dim fully keys it)
    def build_staged():
        code_cols, err_cols = [], []
        for i in range(dim):
            x = F.element_at("_v", i + 1)
            mn, mx = F.col(f"_mn{i}"), F.col(f"_mx{i}")
            degen = mx == mn
            c = F.when(degen, F.lit(0).cast("long")).otherwise(
                F.least(F.floor(((x - mn) * F.lit(255.0)) / (mx - mn)),
                        F.lit(SQ8_LEVELS).cast("long")))
            code_cols.append(c.alias(f"_c{i}"))
            r = F.when(degen, mn).otherwise(
                mn + c.cast("double") * ((mx - mn) / F.lit(255.0)))
            err_cols.append(((x - r) * (x - r)).alias(f"_e{i}"))
        return code_cols + err_cols

    staged = out.select(id_col, "_v",
                        *cached_column(("sq8_staged", dim), build_staged))

    # explicit left-associated + chain == the sequential fold with a
    # 0.0 init bit-for-bit (x + 0.0 is an IEEE identity and every
    # term is a non-negative square), so the oracle's
    # list_dot_product mirror holds
    def build_out():
        err = F.col("_e0")
        for i in range(1, dim):
            err = err + F.col(f"_e{i}")
        return [F.array(*[F.col(f"_c{i}").cast("int")
                          for i in range(dim)]).alias("sq8_codes"),
                err.alias("sq8_err")]

    return staged.select(id_col, *cached_column(("sq8_out", dim),
                                                build_out))
