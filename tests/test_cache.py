"""Session relation-cache contract (ADVICE r5): digest keys, reuse,
and the clear/unpersist eviction hook."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from snowflake_azure_etl_spark.operators import _cache
from snowflake_azure_etl_spark.workload import QUERIES as _Q


def test_cached_relation_reuses_and_clears(spark):
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    a = _cache.cached_relation(df, "t")
    # the same logical plan (same relation instance — what load_tables'
    # relation catalog guarantees in the workload) hits the cache
    b = _cache.cached_relation(df, "t")
    assert a is b
    assert a.storageLevel.useMemory
    n = _cache.clear_cache(spark)
    assert n >= 1
    assert _cache.session_cache(spark) == {}
    c = _cache.cached_relation(df, "t")  # re-request re-registers
    assert c.storageLevel.useMemory
    assert len(_cache.session_cache(spark)) == 1


def test_relation_catalog_caches_in_an_empty_session_cache(spark, sf_dir):
    """load_tables and build_dim_date store into the one session-cache
    dict even when it exists and is empty, as it is after clear_cache;
    an empty dict used to be swapped for a throwaway one, so the date
    dim was rebuilt and re-persisted on every call."""
    from snowflake_azure_etl_spark.plans.datedim import build_dim_date
    from snowflake_azure_etl_spark.sources.registry import load_tables
    _cache.clear_cache(spark)
    cache = _cache.session_cache(spark)
    try:
        d1 = build_dim_date(spark, "2020-01-01", "2020-01-31")
        assert build_dim_date(spark, "2020-01-01", "2020-01-31") is d1
        r1 = load_tables(spark, sf_dir, ("region",))["region"]
        assert load_tables(spark, sf_dir, ("region",))["region"] is r1
        assert len(cache) == 2
    finally:
        _cache.clear_cache(spark)


def _cache_manager_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _releases_everything(spark, build) -> bool:
    """Build on an empty CacheManager, then clear_cache: True iff no
    relation the build persisted outlives the clear — every persist
    went through the session cache that clear_cache releases."""
    _cache.clear_cache(spark)
    spark.catalog.clearCache()
    build()
    _cache.clear_cache(spark)
    return _cache_manager_empty(spark)


def test_q55_plan_build_leaves_no_persist_after_clear(spark, sf_dir):
    """q55's SQ8 stats used to be persisted inside the leg build but
    never registered, so they stayed in Spark's CacheManager after
    clear_cache. Building the plan alone persists it."""
    raw = _Q["q55_ann_lsh_bucketed_topk"].raw
    assert _releases_everything(spark, lambda: raw(spark, sf_dir))


@pytest.mark.slow
@pytest.mark.parametrize("name", sorted(_Q))
def test_catalog_query_leaves_no_persist_after_clear(spark, sf_dir, name):
    raw = _Q[name].raw
    assert _releases_everything(
        spark, lambda: raw(spark, sf_dir).write.format("noop")
        .mode("overwrite").save())


def test_cached_persist_keys_levels_and_counts(spark):
    """The key-explicit primitive: one build per key, the module's one
    storage level, and eager materialization only on request."""
    calls = []

    def build():
        calls.append(1)
        return spark.range(5)

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    _cache.clear_cache(spark)
    try:
        sc.setJobGroup("cp_test_lazy", "lazy cached_persist")
        a = _cache.cached_persist(spark, ("cp_test", 1), build)
        sc.setJobGroup("cp_test_eager", "eager cached_persist")
        e = _cache.cached_persist(spark, ("cp_test", 2), build, eager=True)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert _cache.cached_persist(spark, ("cp_test", 1), build) is a
    assert len(calls) == 2
    assert a.storageLevel == e.storageLevel == _cache.LEVEL
    assert not tracker.getJobIdsForGroup("cp_test_lazy")
    assert tracker.getJobIdsForGroup("cp_test_eager")
    assert _cache.clear_cache(spark) == 2
    assert _cache_manager_empty(spark)


def test_plan_key_is_digest_sized(spark):
    wide = spark.range(1000)
    for i in range(30):
        wide = wide.withColumn(f"c{i}", F.col("id") + i)
    key = _cache.plan_key(wide)
    assert len(key) == 32               # md5 hex, not the plan text


def test_plan_key_stable_across_reconstruction(spark, sf_dir):
    """The r8 contract: the SAME derived relation rebuilt from the
    same file-backed source digests to the same key even though its
    expression ids advanced — without this, every cross-invocation
    cache lookup silently missed."""
    src = spark.read.parquet(f"{sf_dir}/region.parquet")
    k1 = _cache.plan_key(src.groupBy("r_name").count())
    k2 = _cache.plan_key(src.groupBy("r_name").count())
    assert k1 == k2
    # distinct derivations still get distinct keys
    assert k1 != _cache.plan_key(src.groupBy("r_regionkey").count())


def test_plan_key_never_collides_opaque_local_data(spark):
    """createDataFrame plans print only the schema, so two different
    in-memory relations must NOT normalize onto one key (observed as
    wrong memoized BPE merges across same-shaped test corpora)."""
    a = spark.createDataFrame([(1, "x")], "id bigint, t string")
    b = spark.createDataFrame([(2, "y")], "id bigint, t string")
    assert _cache.plan_key(a) != _cache.plan_key(b)


def test_plan_key_distinguishes_hash_shaped_literals(spark, sf_dir):
    """r9 fix for the documented residual: two plans identical except
    for a LITERAL of the form x#<digits> print indistinguishably from
    attribute refs (`Filter (tag#1 = tag#1)` IS the literal filter's
    plan text), so string renumbering alone collided them — and a
    plan_key collision returns the wrong materialized RELATION. The
    JVM semanticHash mixed into the digest separates them."""
    src = spark.read.parquet(f"{sf_dir}/region.parquet")
    tagged = src.withColumn(
        "tag", F.concat(F.lit("tag#"), (F.col("r_regionkey") % 2)
                        .cast("string")))
    k1 = _cache.plan_key(tagged.filter(F.col("tag") == "tag#1"))
    k2 = _cache.plan_key(tagged.filter(F.col("tag") == "tag#2"))
    assert k1 != k2
    # and the literal plan rebuilt from scratch still matches itself
    tagged2 = src.withColumn(
        "tag", F.concat(F.lit("tag#"), (F.col("r_regionkey") % 2)
                        .cast("string")))
    assert k1 == _cache.plan_key(tagged2.filter(F.col("tag") == "tag#1"))


def test_plan_key_distinguishes_self_join_sides(spark, sf_dir):
    """Canonical renumbering, not erasure (r8 review finding): the two
    projections of a self-join differ only in WHICH id they project —
    erased keys collided them; renumbered keys must not."""
    src = spark.read.parquet(f"{sf_dir}/region.parquet")
    l, r = src.alias("l"), src.alias("r")
    j = l.join(r, F.col("l.r_regionkey") == F.col("r.r_regionkey"))
    kl = _cache.plan_key(j.select(F.col("l.r_name")))
    kr = _cache.plan_key(j.select(F.col("r.r_name")))
    assert kl != kr
    # and the same side rebuilt still matches itself
    j2 = (src.alias("l").join(src.alias("r"),
                              F.col("l.r_regionkey")
                              == F.col("r.r_regionkey")))
    assert kl == _cache.plan_key(j2.select(F.col("l.r_name")))


def test_column_key_normalizes_lambda_variables(spark):
    """r9: higher-order lambda variables print with a session-global
    counter ('x_1' vs 'x_15'), so str(Column) of the SAME expression
    built twice differs — column_key renumbers them in first-occurrence
    order, while genuinely different expressions stay distinct."""
    def feat():
        return F.size(F.filter(F.split(F.col("text"), " "),
                               lambda t: F.length(t) > 3))

    k1, k2 = _cache.column_key(feat()), _cache.column_key(feat())
    assert k1 == k2
    assert "x_0" in k1  # renumbered, not erased
    other = F.size(F.filter(F.split(F.col("text"), " "),
                            lambda t: F.length(t) > 4))
    assert _cache.column_key(other) != k1
    # r13: multi-arg lambdas (zip_with names its args x_N AND y_N)
    # rebuilt twice still match…
    def zf():
        return F.zip_with(F.col("a"), F.col("b"), lambda x, y: x + y)
    assert _cache.column_key(zf()) == _cache.column_key(zf())
    # …while REAL columns that merely look like lambda variables are
    # never renumbered: expressions over y_2 vs z_2 stay distinct
    # (r13 review: blanket renumbering collapsed them onto one memo
    # key — the wrong-cached-artifact class)
    assert (_cache.column_key(F.col("y_2") + 1)
            != _cache.column_key(F.col("z_2") + 1))
    assert "y_2" in _cache.column_key(F.col("y_2") + 1)
    # a real column used INSIDE a lambda body keeps its name too
    inner = F.transform(F.col("a"), lambda x: x + F.col("y_2"))
    assert "y_2" in _cache.column_key(inner)
    assert _cache.column_key(inner) == _cache.column_key(
        F.transform(F.col("a"), lambda x: x + F.col("y_2")))


def test_bm25_stats_register_in_session_cache(spark, sf_dir):
    """ADVICE r9 / VERDICT r9 #6: bm25_topk's one-row stats relation
    must ride the _cache registry — visible to clear_cache (no
    orphaned persist) and shared by repeat queries over the same
    corpus. File-backed corpus: a LocalRelation plan is deliberately
    construction-unique (the opaque-source exception), so only a
    file-backed plan exercises the cross-invocation share."""
    from snowflake_azure_etl_spark.operators.text import bm25_topk
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    _cache.clear_cache(spark)
    bm25_topk(docs, ["the data"], k=2).collect()
    cache = _cache.session_cache(spark)
    keys = [k for k in cache if k and k[0] == "bm25_stats"]
    assert len(keys) == 1
    stats = cache[keys[0]]
    assert stats.storageLevel.useMemory  # actually persisted
    # repeat query hits the same entry (no second registration)
    bm25_topk(docs, ["other words"], k=2).collect()
    assert len([k for k in cache if k[0] == "bm25_stats"]) == 1
    # and clear_cache evicts it
    _cache.clear_cache(spark)
    assert not [k for k in cache if k and k[0] == "bm25_stats"]
    assert not stats.storageLevel.useMemory


def test_cached_column_one_build_per_gateway(spark):
    """cached_column (r11, VERDICT r10 #2): the builder runs once per
    (gateway, name) and the SAME Column object returns thereafter; a
    different name builds independently; entries are keyed by the
    live gateway OBJECT (identity), so the current gateway always
    hits."""
    calls = []

    def build():
        calls.append(1)
        return F.lit(1) + F.lit(2)

    key = ("test_cc", "unique", 42)
    c1 = _cache.cached_column(key, build)
    c2 = _cache.cached_column(key, build)
    assert c1 is c2 and len(calls) == 1
    c3 = _cache.cached_column(("test_cc", "other", 42), build)
    assert c3 is not c1 and len(calls) == 2
    # the cached expression is usable in a real plan
    assert spark.range(1).select(c1.alias("x")).collect()[0]["x"] == 3


def test_prepared_query_reinvocation_is_consistent(spark, sf_dir):
    """prepared=True queries (r11): repeat invocations return the
    session-cached PLAN — same unmaterialized DataFrame object — and
    re-executing it yields identical rows (nothing in the plan holds
    result state)."""
    from snowflake_azure_etl_spark.workload import QUERIES

    fn = QUERIES["q53_dedup_simhash"].fn
    a = fn(spark, sf_dir)
    b = fn(spark, sf_dir)
    assert a is b  # the prepared-statement cache
    r1 = sorted(map(tuple, a.collect()))
    r2 = sorted(map(tuple, b.collect()))
    assert r1 == r2 and len(r1) > 0


# --- prepared-statement eligibility contract (VERDICT r11 #3) ---------------
# workload._registry.query(prepared=True) caches the UNMATERIALIZED
# plan object. The docstring contract — "pure plan builders only" —
# is mechanized here: for EVERY prepared query, the cached object must
# hold no result state, so each bench invocation (a fresh
# DataFrameWriter execution over the same logical plan) re-runs the
# full DAG from source scans.

_PREPARED = sorted(n for n, q in _Q.items() if q.prepared)


@pytest.mark.parametrize("name", _PREPARED)
def test_prepared_query_plan_is_pure(spark, sf_dir, name):
    q = _Q[name]
    df = q.fn(spark, sf_dir)
    qe = df._jdf.queryExecution()
    analyzed = qe.analyzed().toString()
    # (a) no write/DDL command inside the plan — a prepared query that
    # wrote tables would skip its write on re-invocation
    for bad in ("Command", "InsertInto", "CreateTable", "DropTable"):
        assert bad not in analyzed, \
            f"{name}: prepared query carries a {bad} node"
    # (b) the RESULT is not a materialized checkpoint: a LogicalRDD at
    # the plan ROOT means the first execution's rows would be replayed
    # by every later invocation (artifact relations deeper in the plan
    # — trained one-row weights, graph trajectories — are exempt: they
    # ARE the memoizable artifacts)
    root = analyzed.splitlines()[0]
    assert "LogicalRDD" not in root and "LocalRelation" not in root, \
        f"{name}: prepared result is a materialized/inline relation"
    # (c) the RESULT relation is not persisted, neither on the object
    # nor via the session cache manager (df.cache() by any other name)
    sl = df.storageLevel
    assert not (sl.useMemory or sl.useDisk), \
        f"{name}: prepared result is persisted — results never memoize"
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert not cm.lookupCachedData(df._jdf).isDefined(), \
        f"{name}: prepared result registered in the cache manager"


@pytest.mark.parametrize("name", _PREPARED)
def test_prepared_query_reinvocation_returns_same_plan(spark, sf_dir, name):
    q = _Q[name]
    a = q.fn(spark, sf_dir)
    b = q.fn(spark, sf_dir)
    assert a is b, f"{name}: prepared cache missed on re-invocation"


def test_prepared_write_path_executes_fresh(spark, sf_dir):
    """The bench's forcing path (noop-sink write) builds a FRESH
    QueryExecution per save — verified by observing that two writes of
    one cached prepared plan both launch real jobs whose executed
    plans are distinct JVM objects (no baked-in executed state)."""
    df = _Q["q34_topk_per_group"].fn(spark, sf_dir)
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup() or [])
    df.write.format("noop").mode("overwrite").save()
    mid = len(tracker.getJobIdsForGroup() or [])
    df.write.format("noop").mode("overwrite").save()
    after = len(tracker.getJobIdsForGroup() or [])
    assert mid > before and after > mid, \
        "a noop-sink write of the prepared plan launched no job"
