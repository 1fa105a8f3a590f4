"""Snapshot CDC diff (warehouse/cdc.py): I/U/D classification with
null-safe keys and values, delete suppression, minimality, and the
composition contract with scd2_apply (diff-fed == snapshot-fed)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from snowflake_azure_etl_spark.warehouse import cdc, scd

OLD = [
    (1, "alice", "NY"),
    (2, "bob", "SF"),
    (3, "carol", None),     # NULL tracked value
    (None, "nobody", "??"), # NULL business key is a legal member
    (5, "eve", "LA"),
]
NEW = [
    (1, "alice", "NY"),     # unchanged -> dropped
    (2, "bob", "LA"),       # U
    (3, "carol", "TX"),     # U (NULL -> value, null-safe compare)
    (None, "nobody", "??"), # unchanged NULL-key member -> dropped
    (6, "frank", "CH"),     # I
]                            # 5 vanished -> D


def _dfs(spark):
    old = spark.createDataFrame(OLD, "k bigint, name string, city string")
    new = spark.createDataFrame(NEW, "k bigint, name string, city string")
    return old, new


def test_iud_classification(spark):
    old, new = _dfs(spark)
    rows = {(r["op"], r["k"]): (r["name"], r["city"]) for r in
            cdc.snapshot_diff(old, new, ["k"], ["name", "city"]).collect()}
    assert set(rows) == {("U", 2), ("U", 3), ("I", 6), ("D", 5)}
    assert rows[("U", 2)] == ("bob", "LA")      # new values on U
    assert rows[("U", 3)] == ("carol", "TX")
    assert rows[("D", 5)] == ("eve", "LA")      # last known values on D


def test_delete_suppression_and_upserts(spark):
    old, new = _dfs(spark)
    diff = cdc.snapshot_diff(old, new, ["k"], ["name", "city"],
                             include_deletes=False)
    assert {r["op"] for r in diff.collect()} == {"U", "I"}
    ups = cdc.upserts(cdc.snapshot_diff(old, new, ["k"],
                                        ["name", "city"]))
    assert "op" not in ups.columns
    assert {r["k"] for r in ups.collect()} == {2, 3, 6}


def test_identical_snapshots_empty_feed(spark):
    old, _ = _dfs(spark)
    assert cdc.snapshot_diff(old, old, ["k"], ["name", "city"]).count() == 0
    with pytest.raises(ValueError):
        cdc.snapshot_diff(old, old, [], ["name"])


def test_diff_fed_scd2_equals_snapshot_fed(spark):
    """Feeding scd2_apply the diff's upserts must produce the same
    dimension state as feeding it the full new snapshot — changes are
    all that matter, which is the point of shipping only changes."""
    old, new = _dfs(spark)
    seeded = scd.scd2_seed(old.filter(F.col("k").isNotNull()),
                           key_col="dim_id", business_keys=["k"])
    ups = cdc.upserts(
        cdc.snapshot_diff(old, new, ["k"], ["name", "city"])).filter(
        F.col("k").isNotNull())
    via_diff = scd.scd2_apply(
        seeded, ups, key_col="dim_id", business_keys=["k"],
        tracked_cols=["name", "city"], batch_id=2)
    via_full = scd.scd2_apply(
        seeded, new.filter(F.col("k").isNotNull()), key_col="dim_id",
        business_keys=["k"], tracked_cols=["name", "city"], batch_id=2)
    cols = ["k", "name", "city", "valid_from", "valid_to", "is_current"]

    def rows(df):  # None-safe sort key (valid_to is NULL when open)
        return sorted((tuple(r) for r in df.select(cols).collect()),
                      key=lambda t: tuple((x is None, str(x)) for x in t))

    assert rows(via_diff) == rows(via_full)


def test_snapshot_diff_property_random(spark):
    """Hypothesis sweep: snapshot_diff equals a Python dict diff on
    arbitrary small snapshots (random key overlap, NULL values,
    changed/unchanged mixes)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    val = st.one_of(st.none(), st.integers(min_value=0, max_value=3))
    snap = st.dictionaries(st.integers(min_value=0, max_value=9), val,
                           max_size=8)

    @settings(max_examples=15, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(snap, snap)
    def check(old_d, new_d):
        old = spark.createDataFrame(
            [(k, v) for k, v in old_d.items()] or [(None, None)],
            "k bigint, v bigint")
        new = spark.createDataFrame(
            [(k, v) for k, v in new_d.items()] or [(None, None)],
            "k bigint, v bigint")
        if not old_d:
            old = old.limit(0)
        if not new_d:
            new = new.limit(0)
        got = {r["k"]: (r["op"], r["v"]) for r in
               cdc.snapshot_diff(old, new, ["k"], ["v"]).collect()}
        want = {}
        for k in new_d:
            if k not in old_d:
                want[k] = ("I", new_d[k])
            elif old_d[k] != new_d[k]:
                want[k] = ("U", new_d[k])
        for k in old_d:
            if k not in new_d:
                want[k] = ("D", old_d[k])
        assert got == want

    check()


def test_self_derived_snapshots_join_two_distinct_key_attributes(spark):
    """`new` derived from `old` shares its lineage (q65's CDC leg): the
    join condition must compare the old side's key attribute with the
    new side's as written — two distinct attributes — and never be
    built as one attribute compared with itself, which Spark flags as a
    "trivially true" predicate while it constructs the condition."""
    import re

    old = spark.createDataFrame(OLD, "k bigint, name string, city string")
    new = old.filter(~F.col("k").eqNullSafe(5))
    core = spark._jvm.org.apache.logging.log4j.core
    root = (spark._jvm.org.apache.logging.log4j.LogManager
            .getContext(False).getConfiguration().getRootLogger())
    log = spark._jvm.java.io.StringWriter()
    app = core.appender.WriterAppender.createAppender(
        None, None, log, "cdc-self-join", False, True)
    app.start()
    root.addAppender(app, None, None)
    try:
        diff = cdc.snapshot_diff(old, new, ["k"], ["name", "city"])
    finally:
        root.removeAppender("cdc-self-join")
    assert "trivially true" not in log.toString()
    plan = diff._jdf.queryExecution().analyzed().toString()
    cond = re.search(r"Join FullOuter, (.*)", plan).group(1)
    refs = re.findall(r"\bk#(\d+)", cond)
    assert len(refs) == 2 and refs[0] != refs[1], cond
    assert {(r["op"], r["k"]) for r in diff.collect()} == {("D", 5)}
