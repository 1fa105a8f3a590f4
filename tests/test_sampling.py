"""Deterministic sampling operators (operators/sampling.py) vs plain
Python references: exact hash thresholds, per-class stratification,
quota capping with and without the partition pre-cap (identical
results, bounded pre-cap output)."""

from __future__ import annotations

import hashlib

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from snowflake_azure_etl_spark.operators import sampling


def _py_bucket(ident, salt="sample"):
    h = hashlib.md5(f"{salt}:{ident}".encode()).hexdigest()
    return int(h[:8], 16) % sampling.FRACTION_DENOM


def test_hash_keep_matches_python_reference(spark):
    df = spark.range(500).select(F.col("id"))
    kept = {r["id"] for r in
            df.filter(sampling.hash_keep("id", 0.3)).collect()}
    want = {i for i in range(500) if _py_bucket(i) < 3000}
    assert kept == want
    # rate lands near the target on uniform hash space
    assert 0.2 < len(kept) / 500 < 0.4


def test_hash_keep_is_order_and_subset_stable(spark):
    """A row's fate depends only on its id: the same ids keep/drop
    regardless of which other rows are present."""
    full = spark.range(1000)
    part = full.filter(F.col("id") % 3 == 0)
    kept_full = {r["id"] for r in
                 full.filter(sampling.hash_keep("id", 0.5)).collect()
                 if r["id"] % 3 == 0}
    kept_part = {r["id"] for r in
                 part.filter(sampling.hash_keep("id", 0.5)).collect()}
    assert kept_full == kept_part


def test_stratified_keep_per_class_thresholds(spark):
    df = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "fr") for i in range(400)],
        "id bigint, lang string")
    kept = df.filter(sampling.stratified_keep("id", "lang",
                                              {"en": 0.25}, 1.0))
    rows = kept.collect()
    en = [r for r in rows if r["lang"] == "en"]
    fr = [r for r in rows if r["lang"] == "fr"]
    assert len(fr) == 200                       # default 1.0 keeps all
    assert {r["id"] for r in en} == {
        i for i in range(0, 400, 2) if _py_bucket(i) < 2500}


def test_stratified_keep_validates_fractions(spark):
    with pytest.raises(ValueError):
        sampling.stratified_keep("id", "lang", {"en": 1.5})
    with pytest.raises(ValueError):
        sampling.hash_keep("id", -0.1)


def _quota_fixture(spark):
    rows = [(cls, i) for cls in ("a", "b", "c")
            for i in range(30 if cls == "a" else 5)]
    return spark.createDataFrame(rows, "cls string, id bigint") \
        .repartition(6)


def test_temperature_fractions_math():
    """The mT5 p^(1/tau) rule in closed form: tau=1 keeps the natural
    distribution (no-op fractions), tau→∞ equalizes class counts
    (keep n_min/n_c of class c), target_total scales toward a row
    budget, and the fractions are downsample-only (<= 1)."""
    counts = {"en": 800, "de": 150, "fr": 50}
    assert sampling.temperature_fractions(counts, 1.0) == {
        "en": 1.0, "de": 1.0, "fr": 1.0}
    flat = sampling.temperature_fractions(counts, 1e9)
    assert flat["fr"] == pytest.approx(1.0)
    assert flat["de"] == pytest.approx(50 / 150)
    assert flat["en"] == pytest.approx(50 / 800)
    # intermediate tau sits between natural and uniform, monotone in
    # class size (bigger classes downsample harder)
    mid = sampling.temperature_fractions(counts, 3.0)
    assert mid["fr"] == pytest.approx(1.0)          # max normalized
    assert mid["en"] < mid["de"] < mid["fr"]
    # a target_total budget: waterfilled (ADVICE r13) — the expected
    # output hits the budget EXACTLY even when classes clamp, the
    # clamped class keeps everything, and the shortfall redistributes
    # over the unclamped classes in p^(1/tau) proportion
    tgt = sampling.temperature_fractions(counts, 3.0, target_total=500)
    expected = sum(tgt[c] * counts[c] for c in counts)
    assert expected == pytest.approx(500, abs=1e-9)
    assert all(0.0 <= f <= 1.0 for f in tgt.values())
    # force heavy clamping: high tau + a budget above the flattened
    # allocation of the small classes — fr and de clamp at 1.0 and
    # en absorbs the remainder exactly
    hot = sampling.temperature_fractions(counts, 1e9, target_total=600)
    assert hot["fr"] == 1.0 and hot["de"] == 1.0
    assert hot["en"] == pytest.approx(400 / 800)
    assert sum(hot[c] * counts[c] for c in counts) == pytest.approx(600)
    # unclamped pair keeps the p^(1/tau) ratio after redistribution
    r = sampling.temperature_fractions(counts, 2.0, target_total=400)
    unclamped = [c for c in counts if r[c] < 1.0]
    if len(unclamped) >= 2:
        a, b = unclamped[:2]
        w = {c: (counts[c] / 1000) ** 0.5 for c in counts}
        assert (r[a] * counts[a]) / (r[b] * counts[b]) == pytest.approx(
            w[a] / w[b])
    # budget at/above the corpus total: keep everything (rows cannot
    # be minted), never a fraction above 1.0
    assert sampling.temperature_fractions(
        counts, 3.0, target_total=10_000) == {
        "en": 1.0, "de": 1.0, "fr": 1.0}
    # validation
    with pytest.raises(ValueError, match="tau"):
        sampling.temperature_fractions(counts, 0.0)
    with pytest.raises(ValueError, match="target_total"):
        sampling.temperature_fractions(counts, 2.0, target_total=0)
    assert sampling.temperature_fractions({}, 2.0) == {}
    assert sampling.temperature_fractions({"en": 0}, 2.0) == {"en": 1.0}


def test_quota_cap_keeps_n_smallest(spark):
    df = _quota_fixture(spark)
    out = sampling.quota_cap(df, ["cls"], ["id"], 10)
    got = sorted((r["cls"], r["id"]) for r in out.collect())
    want = sorted([("a", i) for i in range(10)]
                  + [("b", i) for i in range(5)]
                  + [("c", i) for i in range(5)])
    assert got == want


def test_quota_precap_identical_and_bounded(spark):
    df = _quota_fixture(spark)
    plain = sampling.quota_cap(df, ["cls"], ["id"], 7)
    pre = sampling.quota_cap(df, ["cls"], ["id"], 7, pre_cap=True)
    assert (sorted(map(tuple, plain.collect()))
            == sorted(map(tuple, pre.collect())))
    # the pre-cap stage alone forwards <= n rows per class per partition
    # (2 partitions so the hot class genuinely exceeds the local cap)
    dense = df.repartition(2)
    capped = sampling._local_precap(dense, ["cls"], ["id"], 3)
    per_part = (capped
                .withColumn("_pid", F.spark_partition_id())
                .groupBy("_pid", "cls").count().collect())
    assert all(r["count"] <= 3 for r in per_part)
    assert capped.count() < dense.count()  # something was dropped locally
    # and the capped relation still yields the exact global answer
    assert (sorted(map(tuple,
                       sampling.quota_cap(dense, ["cls"], ["id"], 3,
                                          pre_cap=True).collect()))
            == sorted(map(tuple,
                          sampling.quota_cap(dense, ["cls"], ["id"],
                                             3).collect())))


def test_mixture_rates_flatten_and_respect_budget(spark):
    """Temperature-2 mixing: a skewed corpus (90/9/1) gets rates that
    UPSAMPLE small sources relative to big ones (share ∝ sqrt), every
    rate is capped at 1, and the expected token total stays at or
    under the budget (min() can only remove mass)."""
    from snowflake_azure_etl_spark.operators.sampling import mixture_rates
    rows = ([("big", 10) for _ in range(900)]
            + [("mid", 10) for _ in range(90)]
            + [("small", 10) for _ in range(10)])
    df = spark.createDataFrame(rows, "source string, nt long")
    got = {r["source"]: r for r in
           mixture_rates(df, ["source"], "nt").collect()}
    assert got["small"]["rate"] == 1.0  # tiny source fully kept
    assert got["big"]["rate"] < got["mid"]["rate"] <= 1.0
    expected = sum(r["rate"] * r["toks"] for r in got.values())
    assert expected <= 0.5 * sum(r["toks"] for r in got.values()) + 1e-6
    import pytest
    with pytest.raises(ValueError, match="temperature"):
        mixture_rates(df, ["source"], "nt", temperature=1.0)


def test_mixture_rates_fail_loud_on_nonpositive_source(spark):
    """ADVICE r9: a source whose weight sums to 0 must raise (its
    share is 0/0 = NaN under IEEE division), not silently poison the
    mixture; the guard lives inside the weight expression so pruning
    cannot disarm it."""
    import pytest

    from snowflake_azure_etl_spark.operators.sampling import mixture_rates
    rows = [("ok", 10), ("ok", 5), ("zero", 0)]
    df = spark.createDataFrame(rows, "source string, nt long")
    with pytest.raises(Exception, match="non-positive token total"):
        mixture_rates(df, ["source"], "nt").collect()


def test_apply_mixture_matches_python_reference(spark):
    """apply_mixture keeps exactly the rows whose md5 bucket clears
    the per-source threshold — replayed in Python; kept fractions
    track the rates; a row's fate is independent of other rows."""
    import hashlib

    from snowflake_azure_etl_spark.operators.sampling import (
        FRACTION_DENOM, apply_mixture, mixture_rates)
    rows = [(i, "big" if i < 900 else ("mid" if i < 990 else "small"),
             10) for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, source string, nt long")
    rates = mixture_rates(df, ["source"], "nt")
    rate_map = {r["source"]: r["rate"] for r in rates.collect()}
    kept = {r["doc_id"] for r in
            apply_mixture(df, rates, ["source"], "doc_id").collect()}

    def py_keep(doc_id, src):
        b = int(hashlib.md5(f"mixture:{doc_id}".encode())
                .hexdigest()[:8], 16) % FRACTION_DENOM
        # Spark F.round is HALF_UP on positives, same as Python's
        # decimal-style round for these magnitudes via int(x+0.5)
        return b < int(rate_map[src] * FRACTION_DENOM + 0.5)

    expect = {i for i, src, _ in rows if py_keep(i, src)}
    assert kept == expect
    # the flattened plan keeps every 'small' row and downsamples 'big'
    assert all(i in kept for i, s, _ in rows if s == "small")
    n_big = sum(1 for i, s, _ in rows if s == "big" and i in kept)
    assert 0 < n_big < 900


def test_apply_mixture_fails_loud_on_unplanned_source(spark):
    """ADVICE r10: a row whose source is ABSENT from the rates
    relation must raise, not silently vanish through an inner join —
    the same fail-loud contract as mixture_rates' non-positive-total
    guard."""
    import pytest

    from snowflake_azure_etl_spark.operators.sampling import (
        apply_mixture, mixture_rates)
    planned = spark.createDataFrame(
        [(i, "big", 10) for i in range(20)],
        "doc_id long, source string, nt long")
    rates = mixture_rates(planned, ["source"], "nt")
    with_stray = planned.unionByName(spark.createDataFrame(
        [(99, "unplanned", 10)], "doc_id long, source string, nt long"))
    with pytest.raises(Exception, match="no rate in the mixture plan"):
        apply_mixture(with_stray, rates, ["source"], "doc_id").collect()


def _py_plog2(n, scale=1 << 20):
    e = n.bit_length() - 1
    s = max(e - 42, 0)               # the engine's overflow pre-shift
    m = n >> s
    return e * scale + ((m - (1 << (e - s))) * scale) // (1 << (e - s))


def _py_dsir_scores(rows, target_ids, n=2, n_buckets=4096, salt="dsir"):
    """Python reference for the whole DSIR pipeline (hashed bigram
    counts -> add-one plog2 ratio model -> per-doc exact scores)."""
    import hashlib
    from collections import Counter

    def feats(text):
        t = text.split(" ")
        return Counter(
            int(hashlib.md5((f"{salt}:" + " ".join(t[i:i + n]))
                            .encode()).hexdigest()[:8], 16) % n_buckets
            for i in range(len(t) - n + 1))

    fmap = {i: feats(t) for i, t in rows}
    nr, nt = Counter(), Counter()
    for i, f in fmap.items():
        nr.update(f)
        if i in target_ids:
            nt.update(f)
    tr, tt = sum(nr.values()), sum(nt.values())
    lam = {b: _py_plog2(nt[b] + 1) - _py_plog2(tt + n_buckets)
           - _py_plog2(nr[b] + 1) + _py_plog2(tr + n_buckets)
           for b in nr}
    return {i: sum(c * lam[b] for b, c in f.items())
            for i, f in fmap.items()}


def test_plog2_exact_integer_log2(spark):
    """plog2 == the Python bit-twiddled reference on octave
    boundaries and interiors (the exactness the oracle hash rides on),
    and is monotone."""
    from snowflake_azure_etl_spark.operators.sampling import plog2
    ns = [1, 2, 3, 5, 7, 1023, 1024, 1025, 999_999_937,
          123_456_789_012]
    df = spark.createDataFrame([(n,) for n in ns], "n long")
    from pyspark.sql import functions as F
    got = {r["n"]: r["p"] for r in
           df.select("n", plog2(F.col("n")).alias("p")).collect()}
    assert got == {n: _py_plog2(n) for n in ns}
    ordered = [got[n] for n in sorted(ns)]
    assert ordered == sorted(ordered)


def test_dsir_scores_match_python_reference(spark):
    """End-to-end DSIR scores equal the Python replay exactly (longs,
    not approximately) and rank target-like docs above source-like
    ones."""
    from snowflake_azure_etl_spark.operators.sampling import (
        dsir_bucket_stats, dsir_log_weights, dsir_resample,
        hashed_ngram_counts)
    rows = [
        (1, "the cat sat on the mat"),
        (2, "the cat sat on the hat"),
        (3, "stock market prices fell sharply today"),
        (4, "market prices rose sharply yesterday"),
        (5, "the dog sat on the mat"),
        (6, "short"),                      # < n tokens -> score 0
    ]
    target_ids = {1, 2, 5}                 # "cat/dog prose" target
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    tgt = docs.filter(docs.doc_id.isin(*target_ids)).select("doc_id")
    ids = docs.select("doc_id")
    feats = hashed_ngram_counts(docs, "doc_id", "text")
    stats = dsir_bucket_stats(feats, tgt, "doc_id")
    got = {r["doc_id"]: r["dsir_score"] for r in
           dsir_log_weights(ids, feats, stats, "doc_id").collect()}
    ref = _py_dsir_scores(rows, target_ids)
    ref[6] = 0                             # featureless doc
    assert got == ref
    # prose docs outscore the market docs under the prose target
    assert min(got[1], got[2], got[5]) > max(got[3], got[4])
    # deterministic top-k: ranks follow (score desc, id asc)
    top = dsir_resample(ids, feats, tgt, "doc_id", k=3).collect()
    expect = sorted(ref.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
    assert [(r["doc_id"], r["dsir_score"], r["dsir_rank"])
            for r in sorted(top, key=lambda r: r["dsir_rank"])] \
        == [(i, s, rk + 1) for rk, (i, s) in enumerate(expect)]


def test_quality_mixture_tilts_toward_high_buckets(spark):
    """The quality mixture is the mixture keyed by (source, qb) with a
    (qb+1) tilt: equal-sized cells get rates growing with the quality
    bucket; the kept set (salt "qmix") replays in Python; an unplanned
    cell fails loud."""
    import hashlib

    import pytest

    from snowflake_azure_etl_spark.operators.sampling import (
        FRACTION_DENOM, apply_mixture, mixture_rates, quality_bucket)
    from pyspark.sql import functions as F

    # 4 equal cells (one per bucket) of 250 docs x 10 tokens
    rows = [(i, "web", 10, i % 4) for i in range(1000)]
    df = spark.createDataFrame(rows,
                               "doc_id long, source string, nt long,"
                               " qb int")
    cell = ["source", "qb"]
    rates = mixture_rates(df, cell, "nt", tilt=F.col("qb") + 1)
    rm = {r["qb"]: r["rate"] for r in rates.collect()}
    assert rm[0] < rm[1] < rm[2] < rm[3]
    # equal toks => rate ratio == (qb+1) ratio until the min(1,...) cap
    assert abs(rm[1] / rm[0] - 2.0) < 1e-12
    kept = {r["doc_id"] for r in apply_mixture(
        df, rates, cell, "doc_id", salt="qmix").collect()}

    def py_keep(doc_id, qb):
        b = int(hashlib.md5(f"qmix:{doc_id}".encode())
                .hexdigest()[:8], 16) % FRACTION_DENOM
        return b < int(rm[qb] * FRACTION_DENOM + 0.5)

    assert kept == {i for i, _, _, qb in rows if py_keep(i, qb)}
    with pytest.raises(Exception, match="no rate in the mixture plan"):
        stray = df.unionByName(spark.createDataFrame(
            [(9999, "new", 10, 0)],
            "doc_id long, source string, nt long, qb int"))
        apply_mixture(stray, rates, cell, "doc_id",
                      salt="qmix").collect()
    # quality_bucket clamps p = 1.0 into the top bucket
    probe = spark.range(1).select(
        quality_bucket(F.lit(1.0), 4).alias("b"),
        quality_bucket(F.lit(0.0), 4).alias("lo"),
        quality_bucket(F.lit(0.49), 4).alias("mid")).collect()[0]
    assert (probe["b"], probe["lo"], probe["mid"]) == (3, 0, 1)


@settings(max_examples=40, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(ns=st.lists(st.integers(min_value=1, max_value=2**62),
                   min_size=1, max_size=12, unique=True))
def test_plog2_property_sweep(spark, ns):
    """plog2 == the Python bit-twiddled reference over random
    positive longs up to 2^45 (hypothesis) — the exactness the q50
    oracle hash rides on."""
    from snowflake_azure_etl_spark.operators.sampling import plog2
    df = spark.createDataFrame([(n,) for n in ns], "n long")
    got = {r["n"]: r["p"] for r in
           df.select("n", plog2(F.col("n")).alias("p")).collect()}
    assert got == {n: _py_plog2(n) for n in ns}
