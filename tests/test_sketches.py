"""KMV bounded-state merge tree (VERDICT r5 #4): every aggregation
state is bounded given the row-count attestation — level 0 by the
state budget (expected, via hash-space bucketing), the merge levels by
k·fan-in structurally — and the tree is exact for any shape."""

from __future__ import annotations

from pyspark.sql import functions as F

from snowflake_azure_etl_spark.operators import sketches


def test_fine_buckets_sizing():
    assert sketches.fine_buckets(None) == 64            # unattested
    assert sketches.fine_buckets(10_000) == 64          # clamp floor
    assert sketches.fine_buckets(100_000) == 128
    assert sketches.fine_buckets(2**30) == 2**20        # budget 1024
    assert sketches.fine_buckets(10**18) == 2**20       # cap
    for n in (10_000, 10**6, 10**9, 10**12):
        f = sketches.fine_buckets(n)
        assert f % sketches.KMV_COARSE == 0             # nests
        assert f & (f - 1) == 0                         # power of two


def _hashes(spark):
    rows = [(f"g{j}", f"user{i % (37 * (j + 1))}")
            for j in range(3) for i in range(500)]
    df = spark.createDataFrame(rows, ["g", "u"])
    return df.select("g", F.md5("u").alias("hv"))


def test_kmv_merge_tree_is_exact(spark):
    """A tiny state budget forces the full three-level tree (fine=512
    ≫ coarse); the k-minima and exact counts must match the direct
    single-state aggregation bit for bit."""
    h = _hashes(spark)
    out = sketches.kmv_mins(h, "g", "hv", 8, n_rows=1500, state_budget=4)
    direct = h.groupBy("g").agg(
        F.slice(F.array_sort(F.collect_set("hv")), 1, 8).alias("mins"),
        F.size(F.collect_set("hv")).alias("n_exact"))
    got = {r.g: (r.mins, r.n_exact) for r in out.collect()}
    want = {r.g: (r.mins, r.n_exact) for r in direct.collect()}
    assert got == want


def test_kmv_state_bounds(spark):
    """Level-0 states hold ~budget distincts (hash-uniform, so assert
    with slack), and the merge levels are structurally ≤ k·fan-in —
    the 'provably bounded' contract of VERDICT r5 #4."""
    h = _hashes(spark)
    n_rows, budget, k = 1500, 4, 8
    fine = sketches.fine_buckets(n_rows, budget)
    assert fine > sketches.KMV_COARSE                   # 3-level path
    bucketed = h.withColumn("_bf", F.pmod(F.xxhash64("hv"), F.lit(fine)))
    max_state = (bucketed.groupBy("g", "_bf")
                 .agg(F.countDistinct("hv").alias("c"))
                 .agg(F.max("c")).first()[0])
    assert max_state <= 8 * budget                      # uniformity slack
    # merge-level states: k-sized arrays × fan-in, data-independent
    assert k * (fine // sketches.KMV_COARSE) == 64
    assert k * sketches.KMV_COARSE == 512


def test_kmv_three_level_plan_no_window(spark):
    """The bounded tree stays windows-free and partial-aggregating:
    three shuffled hash-aggregate phases when fine > coarse."""
    import contextlib
    import io
    h = _hashes(spark)
    out = sketches.kmv_mins(h, "g", "hv", 8, n_rows=1500, state_budget=4)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 6   # 3 phases × partial+final


# ---------------------------------------------------------------------------
# HLL (DataSketches) — exactness regime, merge law, dense-mode error
# ---------------------------------------------------------------------------

def test_hll_sparse_exact_small_cardinality(spark):
    """Coupon-phase sketches are exact: estimates at cardinality <= a
    few hundred equal COUNT(DISTINCT) — the regime the q47 hll leg's
    cross-engine oracle relies on (group cardinality there is bounded
    by the 25-nation schema at EVERY scale factor)."""
    from snowflake_azure_etl_spark.operators import sketches
    rows = [(i % 4, i % 200) for i in range(5000)]
    df = spark.createDataFrame(rows, "g int, v int")
    got = {r["g"]: r["hll_estimate"]
           for r in sketches.hll_rollup(
               sketches.hll_partials(df, ["g"], "v"), ["g"]).collect()}
    assert got == {0: 50, 1: 50, 2: 50, 3: 50}


def test_hll_merge_law_exact_in_coupon_regime(spark):
    """Union of fine partials == one whole-set sketch while the UNION
    result stays in the coupon phase (small cardinality) — the regime
    q47's hll leg relies on (bounded by the 25-nation schema). Beyond
    it the union gadget goes dense and union-vs-direct may differ by a
    register rounding (measured: 399 vs 400 at 400 distincts), so the
    large-cardinality contract is the error bound, not equality."""
    from snowflake_azure_etl_spark.operators import sketches
    rows = [(i % 3, i % 11, (i * 7919) % 25) for i in range(4000)]
    df = spark.createDataFrame(rows, "g int, day int, v int")
    via_days = sketches.hll_rollup(
        sketches.hll_partials(df, ["g", "day"], "v"), ["g"])
    direct = sketches.hll_rollup(
        sketches.hll_partials(df, ["g"], "v"), ["g"])
    got = sorted(map(tuple, via_days.collect()))
    assert got == sorted(map(tuple, direct.collect()))
    assert got == [(0, 25), (1, 25), (2, 25)]


def test_hll_merge_error_bounded_past_coupon_regime(spark):
    """At cardinality past the coupon phase, per-day-union estimates
    stay within the dense-mode error bound of the true count."""
    from snowflake_azure_etl_spark.operators import sketches
    rows = [(i % 11, (i * 7919) % 400) for i in range(4000)]
    df = spark.createDataFrame(rows, "day int, v int")
    est = sketches.hll_rollup(
        sketches.hll_partials(df.selectExpr("0 AS g", "day", "v"),
                              ["g", "day"], "v"), ["g"]).first()
    assert abs(est["hll_estimate"] - 400) / 400 < 0.05


def test_hll_dense_mode_error_bounded(spark):
    """Past the coupon phase the estimate is approximate: at 50k
    distincts the relative error must stay within ~3x the theoretical
    1.04/sqrt(2^lgk) bound (lgk=12 -> ~1.6%)."""
    from snowflake_azure_etl_spark.operators import sketches
    df = spark.range(50_000).selectExpr("0 AS g", "id AS v")
    est = sketches.hll_rollup(
        sketches.hll_partials(df, ["g"], "v"), ["g"]).first()["hll_estimate"]
    assert abs(est - 50_000) / 50_000 < 0.05


def test_cms_estimates_overestimate_and_hit_exact_when_uncrowded(spark):
    """CMS law: estimate(key) >= true count always (counters only ever
    absorb ADDITIONS from colliding keys); with few keys and a wide
    sketch, estimates equal the exact counts."""
    from snowflake_azure_etl_spark.operators import sketches
    rows = [(f"k{i % 10}",) for i in range(1000)]
    df = spark.createDataFrame(rows, "k string")
    cms = sketches.cms_build(df, "k")
    cand = df.distinct()
    est = {r["k"]: r["cms_estimate"]
           for r in sketches.cms_estimate(cms, cand, "k").collect()}
    exact = {r["k"]: r["n"] for r in
             df.groupBy("k").agg(F.count("*").alias("n")).collect()}
    assert est.keys() == exact.keys()
    assert all(est[k] >= exact[k] for k in exact)
    assert est == exact  # 10 keys over 4x512 buckets: no collisions


def test_cms_collision_inflates_but_never_deflates(spark):
    """A deliberately TINY sketch (w=2) forces collisions: estimates
    may exceed the true count, never undershoot it, and never exceed
    the stream size."""
    from snowflake_azure_etl_spark.operators import sketches
    rows = [(f"k{i % 7}",) for i in range(700)]
    df = spark.createDataFrame(rows, "k string")
    cms = sketches.cms_build(df, "k", depth=2, width=2)
    est = {r["k"]: r["cms_estimate"] for r in sketches.cms_estimate(
        cms, df.distinct(), "k", depth=2, width=2).collect()}
    assert all(100 <= v <= 700 for v in est.values())
    assert any(v > 100 for v in est.values())  # w=2 must collide


def test_cms_merge_is_linear(spark):
    """sketch(A) + sketch(B) == sketch(A ∪ B), counter for counter —
    the property that lets per-day partials roll up without
    re-scanning base data."""
    from snowflake_azure_etl_spark.operators import sketches
    a = spark.createDataFrame([(f"k{i % 5}",) for i in range(200)],
                              "k string")
    b = spark.createDataFrame([(f"k{i % 9}",) for i in range(300)],
                              "k string")
    merged = sketches.merge_partials(
        [sketches.cms_build(a, "k"), sketches.cms_build(b, "k")],
        sketches.CMS_MERGE)
    direct = sketches.cms_build(a.unionByName(b), "k")
    assert (sorted(map(tuple, merged.collect()))
            == sorted(map(tuple, direct.collect())))


def test_subtract_partials_accepts_sum_laws_only(spark):
    """A bit_or or min law has no inverse: subtracting under it raises
    before any plan is built, instead of landing a silently wrong
    artifact."""
    import pytest
    from snowflake_azure_etl_spark.operators import sketches
    a = sketches.bloom_build(
        spark.createDataFrame([("a",)], "k string"), "k")
    for law in (sketches.BLOOM_MERGE, {"_w": "min"},
                {"cnt": "sum", "word": "bit_or"}):
        with pytest.raises(ValueError, match="not a sum law"):
            sketches.subtract_partials(a, a, law)


def test_cms_unseen_key_estimates_from_implicit_zeros(spark):
    """A candidate the stream never contained reads its buckets'
    implicit zeros: estimate 0 when its buckets are empty (and never
    NULL)."""
    from snowflake_azure_etl_spark.operators import sketches
    df = spark.createDataFrame([("a",), ("a",), ("b",)], "k string")
    cms = sketches.cms_build(df, "k")
    cand = spark.createDataFrame([("zzz-unseen",)], "k string")
    est = sketches.cms_estimate(cms, cand, "k").collect()
    assert est[0]["cms_estimate"] == 0


def test_bloom_has_no_false_negatives_and_rejects_unseen(spark):
    """Every inserted key passes (no false negatives — the Bloom
    guarantee); with a wide filter the planted unseen keys all fail."""
    from snowflake_azure_etl_spark.operators import sketches
    members = spark.createDataFrame([(f"m{i}",) for i in range(50)],
                                    "k string")
    bloom = sketches.bloom_build(members, "k")
    cand = members.unionByName(
        spark.createDataFrame([(f"x{i}",) for i in range(50)], "k string"))
    got = {r["k"]: r["bloom_pass"]
           for r in sketches.bloom_probe(bloom, cand, "k").collect()}
    assert all(got[f"m{i}"] for i in range(50))
    # 50 keys x 3 hashes over 4096 bits: fp rate ~5e-5; none of the
    # 50 planted unseen keys should pass
    assert not any(got[f"x{i}"] for i in range(50))


def test_bloom_merge_is_union(spark):
    """bloom(A) bit_or bloom(B) == bloom(A ∪ B), word for word."""
    from snowflake_azure_etl_spark.operators import sketches
    a = spark.createDataFrame([(f"a{i}",) for i in range(30)], "k string")
    b = spark.createDataFrame([(f"b{i}",) for i in range(30)], "k string")
    merged = sketches.merge_partials(
        [sketches.bloom_build(a, "k"), sketches.bloom_build(b, "k")],
        sketches.BLOOM_MERGE)
    direct = sketches.bloom_build(a.unionByName(b), "k")
    assert (sorted(map(tuple, merged.collect()))
            == sorted(map(tuple, direct.collect())))


def test_bloom_tiny_filter_false_positives_but_never_negatives(spark):
    """A deliberately saturated filter (bits=32) false-positives on
    unseen keys but still never rejects a member."""
    from snowflake_azure_etl_spark.operators import sketches
    members = spark.createDataFrame([(f"m{i}",) for i in range(40)],
                                    "k string")
    bloom = sketches.bloom_build(members, "k", bits=32)
    cand = members.unionByName(
        spark.createDataFrame([(f"x{i}",) for i in range(40)], "k string"))
    got = {r["k"]: r["bloom_pass"] for r in sketches.bloom_probe(
        bloom, cand, "k", bits=32).collect()}
    assert all(got[f"m{i}"] for i in range(40))
    assert any(got[f"x{i}"] for i in range(40))  # saturated: must fp


def test_bloom_empty_filter_rejects_everything(spark):
    """Probing an EMPTY filter reads implicit zero words: every
    candidate fails with a real False, not NULL."""
    from snowflake_azure_etl_spark.operators import sketches
    empty = sketches.bloom_build(
        spark.createDataFrame([], "k string"), "k")
    cand = spark.createDataFrame([("a",), ("b",)], "k string")
    got = [r["bloom_pass"] for r in
           sketches.bloom_probe(empty, cand, "k").collect()]
    assert got == [False, False]


def test_histogram_merges_by_sum_and_clamps_strays(spark):
    """Bin counts merge by plain SUM (partials == one-shot) and
    out-of-bounds values clamp into the edge bins instead of
    disappearing (a catalog-bounds histogram must absorb every row)."""
    from snowflake_azure_etl_spark.operators import sketches
    a = spark.createDataFrame([(float(i),) for i in range(0, 50)],
                              "v double")
    b = spark.createDataFrame([(-5.0,), (999.0,), (120.0,)], "v double")
    ha = sketches.equiwidth_histogram(a, "v", 0.0, 100.0, bins=10)
    hb = sketches.equiwidth_histogram(b, "v", 0.0, 100.0, bins=10)
    merged = {r["bin"]: r["cnt"] for r in sketches.merge_partials(
        [ha, hb], sketches.HIST_MERGE).collect()}
    direct = {r["bin"]: r["cnt"] for r in sketches.equiwidth_histogram(
        a.unionByName(b), "v", 0.0, 100.0, bins=10).collect()}
    assert merged == direct
    assert direct[0] == 11        # 0..9 plus the clamped -5.0
    assert direct[9] == 2         # 999.0 AND 120.0 clamp to the top bin


def test_histogram_quantiles_within_one_bin_width(spark):
    """Interpolated quantiles land within one bin width of the exact
    percentile (the sketch's error bound) on a uniform corpus."""
    from snowflake_azure_etl_spark.operators import sketches
    df = spark.createDataFrame([(float(i),) for i in range(1000)],
                               "v double")
    hist = sketches.equiwidth_histogram(df, "v", 0.0, 1000.0, bins=20)
    got = {r["p"]: r["est"] for r in sketches.histogram_quantiles(
        hist, 0.0, 1000.0, [0.5, 0.9, 0.99], bins=20).collect()}
    width = 1000.0 / 20
    for p, est in got.items():
        assert abs(est - p * 999.0) <= width


def test_histogram_quantiles_fail_loud_on_empty(spark):
    """n=0 must raise (VERDICT r9 #3), not silently return zero rows:
    an empty histogram falsifies every ownership predicate, so without
    the guard the requested quantile rows would just vanish."""
    import pytest

    from snowflake_azure_etl_spark.operators import sketches
    empty = spark.createDataFrame([], "v double")
    hist = sketches.equiwidth_histogram(empty, "v", 0.0, 10.0, bins=4)
    with pytest.raises(Exception, match="histogram is empty"):
        sketches.histogram_quantiles(hist, 0.0, 10.0, [0.5],
                                     bins=4).collect()


def test_histogram_quantiles_edge_ownership(spark):
    """p=0.0 is owned by the first non-empty bin and p=1.0 by the
    last (rank = p·(N−1): 0 and N−1 respectively), each emitting
    exactly one row — the edge cases of the prev<=rank<cum predicate."""
    from snowflake_azure_etl_spark.operators import sketches
    # values concentrated in bins 1 and 3 (bins 0 and 2 empty)
    df = spark.createDataFrame(
        [(float(v),) for v in [3.0, 3.5, 9.0, 9.5, 9.9]], "v double")
    hist = sketches.equiwidth_histogram(df, "v", 0.0, 10.0, bins=4)
    rows = sketches.histogram_quantiles(hist, 0.0, 10.0, [0.0, 1.0],
                                        bins=4).collect()
    got = {r["p"]: r["est"] for r in rows}
    assert len(rows) == 2                       # exactly one row per p
    # p=0: rank 0, first non-empty bin is 1 ([2.5,5)): est = 2.5
    assert got[0.0] == 2.5
    # p=1: rank N-1=4, owner bin 3 ([7.5,10)), prev=2, cnt=3:
    # est = (3 + (4-2)/3) * 2.5
    assert abs(got[1.0] - (3 + 2 / 3) * 2.5) < 1e-12


def test_grouped_histogram_quantiles_match_per_group_reference(spark):
    """Grouped form: bins keyed (group, bin), quantiles per group from
    the groups×bins relation — each group's estimates must equal the
    global function run on that group alone."""
    from snowflake_azure_etl_spark.operators import sketches
    rows = ([("a", float(i)) for i in range(100)]
            + [("b", float(i * 3 % 50)) for i in range(40)])
    df = spark.createDataFrame(rows, "g string, v double")
    hist = sketches.equiwidth_histogram(df, "v", 0.0, 100.0, bins=10,
                                        group_cols=("g",))
    got = {(r["g"], r["p"]): r["est"]
           for r in sketches.histogram_quantiles(
               hist, 0.0, 100.0, [0.0, 0.5, 0.95, 1.0], bins=10,
               group_cols=("g",)).collect()}
    for g in ("a", "b"):
        sub = df.filter(F.col("g") == g)
        h1 = sketches.equiwidth_histogram(sub, "v", 0.0, 100.0, bins=10)
        ref = {r["p"]: r["est"] for r in sketches.histogram_quantiles(
            h1, 0.0, 100.0, [0.0, 0.5, 0.95, 1.0], bins=10).collect()}
        for p, est in ref.items():
            assert got[(g, p)] == est
    # grouped bins merge by SUM back to the global histogram
    regrouped = {r["bin"]: r["cnt"] for r in sketches.merge_partials(
        hist.drop("g"), sketches.HIST_MERGE).collect()}
    direct = {r["bin"]: r["cnt"] for r in sketches.equiwidth_histogram(
        df, "v", 0.0, 100.0, bins=10).collect()}
    assert regrouped == direct


def test_grouped_cms_partials_equal_per_group_builds_and_merge(spark):
    """cms_build(group_cols) builds each group's partial exactly as a
    standalone per-group build would, and merge_partials over the partials
    equals the full-stream sketch (the q47 rollup legs' law, pinned
    engine-side)."""
    from snowflake_azure_etl_spark.operators import sketches
    rows = [(i % 3, f"k{i % 7}") for i in range(60)]
    df = spark.createDataFrame(rows, "ep int, k string")
    partials = sketches.cms_build(df, "k", depth=2, width=32,
                                  group_cols=("ep",))
    for ep in range(3):
        standalone = sorted(map(tuple, sketches.cms_build(
            df.filter(F.col("ep") == ep), "k", depth=2,
            width=32).collect()))
        grouped = sorted(map(tuple, partials.filter(F.col("ep") == ep)
                             .drop("ep").collect()))
        assert grouped == standalone
    merged = sorted(map(tuple, sketches.merge_partials(
        partials.select("j", "bucket", "cnt"), sketches.CMS_MERGE)
        .collect()))
    full = sorted(map(tuple, sketches.cms_build(
        df, "k", depth=2, width=32).collect()))
    assert merged == full


def test_grouped_bloom_partials_merge_to_full_filter(spark):
    from snowflake_azure_etl_spark.operators import sketches
    rows = [(i % 2, f"s{i}") for i in range(40)]
    df = spark.createDataFrame(rows, "ep int, k string")
    partials = sketches.bloom_build(df, "k", bits=256, group_cols=("ep",))
    merged = sorted(map(tuple, sketches.merge_partials(
        partials.select("word_idx", "word"), sketches.BLOOM_MERGE)
        .collect()))
    full = sorted(map(tuple, sketches.bloom_build(
        df, "k", bits=256).collect()))
    assert merged == full
