"""Trained linear probe (operators.classifier, X-QUALITY-CLF): exact
parity with a pure-Python replay of the fixed-point GD loop, learning
on a separable fixture, partitioning invariance (the determinism the
oracle replay relies on), and the no-corpus-shuffle plan shape."""

from __future__ import annotations

import pytest

import math

from pyspark.sql import functions as F

from snowflake_azure_etl_spark.operators import classifier

ROWS = [
    # (f1, f2, y) — y correlates with f1 high / f2 low, imperfectly
    (0.9, 0.1, 1.0),
    (0.8, 0.3, 1.0),
    (0.7, 0.2, 1.0),
    (0.6, 0.9, 0.0),
    (0.2, 0.8, 0.0),
    (0.1, 0.7, 0.0),
    (0.3, 0.4, 0.0),
    (0.85, 0.15, 1.0),
]


def _ref_train(rows, n_iter, lr=classifier.CLS_LR,
               scale=classifier.CLS_SCALE):
    """The documented loop, replayed row-at-a-time in Python. Division
    mirrors the engines' two-step double math (float(s)/float(n), not
    Python's exact big-int true division)."""
    d = len(rows[0]) - 1
    w = [0.0] * (d + 1)
    for _ in range(n_iter):
        sums = [0] * (d + 1)
        n = 0
        for row in rows:
            fv = [1.0] + [float(v) for v in row[:-1]]
            y = float(row[-1])
            z = w[0] * fv[0]
            for i in range(1, d + 1):
                z = z + w[i] * fv[i]
            p = 0.5 * (1.0 + z / (1.0 + abs(z)))
            r = p - y
            for i in range(d + 1):
                sums[i] += math.floor((r * fv[i]) * float(scale))
            n += 1
        w = [w[i] - lr * ((float(sums[i]) / float(n)) / float(scale))
             for i in range(d + 1)]
    return w


def _df(spark, rows=ROWS):
    return spark.createDataFrame(rows, "f1 double, f2 double, y double")


def _feats():
    return [F.col("f1"), F.col("f2")]


def _ovr(classes):
    return [F.col("lang") == F.lit(c) for c in classes]


def test_weights_match_python_reference_exactly(spark):
    got = classifier.train_probes(
        _df(spark), _feats(), [F.col("y")], n_iter=3).collect()[0]["_w0"]
    want = _ref_train(ROWS, n_iter=3)
    assert got == want          # bit-exact, not approx — the oracle contract


def test_partitioning_and_order_invariance(spark):
    base = _df(spark)
    w1 = classifier.train_probes(
        base.repartition(1), _feats(), [F.col("y")],
        n_iter=4).collect()[0]["_w0"]
    w7 = classifier.train_probes(
        base.repartition(7).sortWithinPartitions(F.desc("f2")),
        _feats(), [F.col("y")], n_iter=4).collect()[0]["_w0"]
    assert w1 == w7


def test_learns_separable_labels(spark):
    rows = [(i / 100.0, ((i * 37) % 100) / 100.0,
             1.0 if i / 100.0 > 0.55 else 0.0) for i in range(100)]
    df = _df(spark, rows)
    w = classifier.train_probes(df, _feats(), [F.col("y")],
                                n_iter=12, lr=2.0)
    scored = classifier.score_with(df, _feats(), w)
    acc = (scored.select(
        F.avg(((F.col("clf_score") >= 0.5).cast("double") == F.col("y"))
              .cast("double")).alias("a")).collect()[0]["a"])
    assert acc >= 0.9
    # and the probe actually moved off the 0.5 prior
    spread = scored.agg(
        (F.max("clf_score") - F.min("clf_score")).alias("s")
    ).collect()[0]["s"]
    assert spread > 0.1


def test_training_plan_has_no_corpus_shuffle_or_python(spark):
    """One round = broadcast weights in, single-row partial-combined
    aggregate out: no sort-merge join, no corpus-keyed exchange, no
    Python workers anywhere in the plan. The round is built by the
    training loop's own body (`_gd_round`), lazily, so its plan is
    inspectable before the loop checkpoints it."""
    df = _df(spark)
    w0 = classifier.train_probes(df, _feats(), [F.col("y")], n_iter=0)
    w = classifier._gd_round(
        classifier._training_frame(df, _feats(), [F.col("y")]), w0,
        classifier.CLS_LR)
    plan = w._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the only exchanges are the single-row partial->final aggregates
    # and broadcasts; a hash-partitioned corpus exchange would show as
    # hashpartitioning over the input columns
    assert "hashpartitioning(f1" not in plan
    assert "hashpartitioning(y" not in plan


def test_gd_rounds_cost_linear_jobs_and_cut_lineage(spark):
    """r9 (VERDICT r8 #1): each GD round's one-row weights are eagerly
    localCheckpoint'ed, so training n_iter rounds runs exactly n_iter
    materialization jobs and round N's lineage CANNOT contain rounds
    1..N−1's corpus scans (the returned plan is a checkpoint scan,
    not a chained aggregate tree) — the structural proof that scans
    are linear, not the n_iter(n_iter+1)/2 the lazy chain pays."""
    sc = spark.sparkContext
    df = _df(spark)
    df.count()                       # materialize source setup outside

    def jobs_for(n_iter: int, group: str):
        sc.setJobGroup(group, f"train n_iter={n_iter}")
        try:
            w = classifier.train_probes(
                df, _feats(), [F.col("y")], n_iter=n_iter)
        finally:
            sc.setJobGroup(f"{group}-done", "")
        return w, len(sc.statusTracker().getJobIdsForGroup(group))

    _, j2 = jobs_for(2, "clf-lin-2")
    w, j4 = jobs_for(4, "clf-lin-4")
    # per-round job count is a constant (AQE stage jobs × rounds):
    # doubling the rounds exactly doubles the jobs — linear, with no
    # fixed-point-free quadratic tail
    assert j2 > 0 and j4 == 2 * j2
    plan = w._jdf.queryExecution().analyzed().toString()
    assert "LogicalRDD" in plan or "ExistingRDD" in plan
    assert "Aggregate" not in plan       # lineage is cut
    # and the checkpointed values are bit-identical to the lazy chain
    assert w.collect()[0]["_w0"] == _ref_train(ROWS, n_iter=4)


def test_empty_training_corpus_fails_loud(spark):
    """ADVICE r8: min/sum over zero rows would train the weights to an
    all-NULL array of the right SIZE — it passes the arity guard and
    silently NULL-scores every row at a downstream clf gate. The guard
    lives inside the weight output expression (pruning-proof) and
    trips at train time, when the round is checkpointed."""
    import pytest

    empty = _df(spark).filter(F.col("f1") > 100.0)
    with pytest.raises(Exception, match="empty training corpus"):
        classifier.train_probes(empty, _feats(), [F.col("y")], n_iter=1)
    with pytest.raises(Exception, match="empty training corpus"):
        classifier.train_probes(
            empty, _feats(), [F.col("y") == 0.0, F.col("y") == 1.0],
            n_iter=1)
    # a lazily built round raises at materialization, not silently at
    # NULL
    w0 = classifier.train_probes(empty, _feats(), [F.col("y")], n_iter=0)
    lazy = classifier._gd_round(
        classifier._training_frame(empty, _feats(), [F.col("y")]), w0,
        classifier.CLS_LR)
    with pytest.raises(Exception, match="empty training corpus"):
        lazy.collect()


def test_score_bounds_and_bias_only_prior(spark):
    """Zero-iteration weights are all-zero: every score is exactly the
    0.5 prior; any trained score stays inside (0, 1)."""
    df = _df(spark)
    w0 = classifier.train_probes(df, _feats(), [F.col("y")], n_iter=0)
    s0 = classifier.score_with(df, _feats(), w0).select("clf_score")
    assert {r["clf_score"] for r in s0.collect()} == {0.5}
    w = classifier.train_probes(df, _feats(), [F.col("y")], n_iter=5)
    mm = (classifier.score_with(df, _feats(), w)
          .agg(F.min("clf_score").alias("lo"),
               F.max("clf_score").alias("hi")).collect()[0])
    assert 0.0 < mm["lo"] and mm["hi"] < 1.0


MC_ROWS = [
    # three classes, each dominated by one feature
    *[(0.9 - 0.01 * i, 0.1, 0.1, "a") for i in range(8)],
    *[(0.1, 0.9 - 0.01 * i, 0.1, "b") for i in range(8)],
    *[(0.1, 0.1, 0.9 - 0.01 * i, "c") for i in range(8)],
]


def _mc_df(spark):
    return spark.createDataFrame(
        MC_ROWS, "f1 double, f2 double, f3 double, lang string")


def _mc_feats():
    return [F.col("f1"), F.col("f2"), F.col("f3")]


def test_one_vs_rest_probe_equals_standalone_binary(spark):
    """K probes trained together are BIT-IDENTICAL to K one-label
    trainings — probe k of the one-vs-rest train equals the binary
    probe of (lang == k), the property the oracle's per-probe replay
    relies on."""
    df = _mc_df(spark)
    classes = ("a", "b", "c")
    mc = classifier.train_probes(df, _mc_feats(), _ovr(classes),
                                 n_iter=3).collect()[0]
    for k, label in enumerate(_ovr(classes)):
        solo = classifier.train_probes(
            df, _mc_feats(), [label], n_iter=3).collect()[0]["_w0"]
        assert mc[f"_w{k}"] == solo


@pytest.mark.slow
def test_one_vs_rest_argmax_predicts_planted_classes(spark):
    df = _mc_df(spark)
    w = classifier.train_probes(
        df, _mc_feats(), _ovr(("a", "b", "c")), n_iter=10, lr=2.0)
    pred = classifier.predict_with(df, _mc_feats(), w, ("a", "b", "c"))
    acc = pred.agg(F.avg((F.col("clf_pred") == F.col("lang"))
                         .cast("double")).alias("a")).collect()[0]["a"]
    assert acc >= 0.9


def test_predict_ties_resolve_to_earliest_class(spark):
    """With zero-iteration (all-zero) weights every class scores 0.5 —
    the chained->= rule must pick the FIRST class for every row."""
    df = _mc_df(spark)
    w = classifier.train_probes(
        df, _mc_feats(), _ovr(("a", "b", "c")), n_iter=0)
    got = {r["clf_pred"] for r in
           classifier.predict_with(df, _mc_feats(), w,
                                   ("a", "b", "c")).collect()}
    assert got == {"a"}


def test_predict_score_prefix_exposes_probe_scores(spark):
    df = _mc_df(spark)
    w = classifier.train_probes(
        df, _mc_feats(), _ovr(("a", "b", "c")), n_iter=2)
    out = classifier.predict_with(df, _mc_feats(), w, ("a", "b", "c"),
                                  score_prefix="s_")
    row = out.select("s_a", "s_b", "s_c", "clf_pred").collect()[0]
    assert all(0.0 < row[f"s_{c}"] < 1.0 for c in ("a", "b", "c"))
    # the en-probe score surfaced by score_prefix matches score_with
    # on the matching standalone binary weights (same training loop)
    solo = classifier.train_probes(df, _mc_feats(), _ovr(("a",)),
                                   n_iter=2)
    want = classifier.score_with(df, _mc_feats(), solo).collect()[0]
    assert row["s_a"] == want["clf_score"]


def test_stale_model_artifact_fails_loud(spark):
    """Arity mismatches raise instead of silently scoring a prefix
    (literal path) or NULLing via out-of-bounds element_at (relation
    path) — the stale-model-artifact hazard."""
    import pytest
    from py4j.protocol import Py4JJavaError

    df = _df(spark)
    w2 = classifier.train_probes(df, _feats(), [F.col("y")], n_iter=1)
    lits = classifier.weights_as_literals(w2)          # 3 slots (bias+2)
    with pytest.raises(ValueError, match="stale or mismatched"):
        classifier.score_with_literals(df, [F.col("f1")], lits)
    with pytest.raises(Exception, match="stale or mismatched"):
        classifier.score_with(df, [F.col("f1")], w2).collect()


def test_corpus_gate_requires_both_halves(spark):
    import pytest

    from snowflake_azure_etl_spark.operators import corpus

    docs = spark.createDataFrame([(1, "some text here")],
                                 "doc_id bigint, text string")
    with pytest.raises(ValueError, match="must be passed together"):
        corpus.prepare_training_corpus(
            docs, near_dup_threshold=None,
            clf_feature_cols=[F.length("text")])
    w = classifier.train_probes(
        docs, [F.length("text").cast("double")], [F.lit(True)], n_iter=1)
    with pytest.raises(ValueError, match="must be passed together"):
        corpus.prepare_training_corpus(docs, near_dup_threshold=None,
                                       clf_weights=w)
