"""SCD type-1 / type-2 merge semantics (`warehouse/scd.py`) against a
hand-computed reference on small in-memory dims: change detection is
null-safe, keys are deterministic, history survives, and both merges
are idempotent."""

from __future__ import annotations

from pyspark.sql import functions as F

from snowflake_azure_etl_spark.warehouse import scd


def _seed(spark):
    members = spark.createDataFrame(
        [(10, "gold", "US"), (20, "silver", "DE"), (30, None, "FR")],
        "bk bigint, tier string, country string")
    return scd.scd2_seed(members, key_col="k", business_keys=["bk"])


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_seed_state(spark):
    t = _seed(spark)
    assert _rows(t.select("k", "bk", "tier", "valid_from", "valid_to",
                          "is_current")) == [
        (2, 10, "gold", 0, None, True),
        (3, 20, "silver", 0, None, True),
        (4, 30, None, 0, None, True),
    ]


def test_scd2_change_close_insert_and_new_member(spark):
    t = _seed(spark)
    updates = spark.createDataFrame(
        [(10, "platinum", "US"),   # changed -> close + v2
         (20, "silver", "DE"),     # unchanged -> untouched
         (40, "bronze", "JP")],    # new member -> insert
        "bk bigint, tier string, country string")
    out = scd.scd2_apply(t, updates, key_col="k", business_keys=["bk"],
                         tracked_cols=["tier", "country"], batch_id=1)
    assert _rows(out.select("k", "bk", "tier", "valid_from", "valid_to",
                            "is_current")) == [
        (2, 10, "gold", 0, 1, False),      # closed v1
        (3, 20, "silver", 0, None, True),  # untouched
        (4, 30, None, 0, None, True),      # not in batch -> untouched
        (5, 10, "platinum", 1, None, True),  # new version, key above max
        (6, 40, "bronze", 1, None, True),    # brand-new member
    ]


def test_scd2_null_transitions_are_changes(spark):
    t = _seed(spark)
    updates = spark.createDataFrame(
        [(30, "basic", "FR"),      # NULL -> value: a change
         (20, None, "DE")],        # value -> NULL: a change
        "bk bigint, tier string, country string")
    out = scd.scd2_apply(t, updates, key_col="k", business_keys=["bk"],
                         tracked_cols=["tier", "country"], batch_id=1)
    closed = {r["bk"] for r in out.filter(~F.col("is_current")).collect()}
    assert closed == {20, 30}
    cur = {r["bk"]: r["tier"]
           for r in out.filter(F.col("is_current")).collect()}
    assert cur == {10: "gold", 20: None, 30: "basic"}


def test_scd2_idempotent_and_multi_batch_history(spark):
    t = _seed(spark)
    b1 = spark.createDataFrame([(10, "platinum", "US")],
                               "bk bigint, tier string, country string")
    s1 = scd.scd2_apply(t, b1, key_col="k", business_keys=["bk"],
                        tracked_cols=["tier", "country"], batch_id=1)
    # re-applying the same batch is a no-op
    again = scd.scd2_apply(s1, b1, key_col="k", business_keys=["bk"],
                           tracked_cols=["tier", "country"], batch_id=2)
    assert _rows(again) == _rows(s1)
    # a second real change stacks a third version
    b2 = spark.createDataFrame([(10, "iridium", "US")],
                               "bk bigint, tier string, country string")
    s2 = scd.scd2_apply(s1, b2, key_col="k", business_keys=["bk"],
                        tracked_cols=["tier", "country"], batch_id=2)
    versions = sorted(
        (r["valid_from"], r["valid_to"], r["is_current"], r["tier"])
        for r in s2.filter(F.col("bk") == 10).collect())
    assert versions == [(0, 1, False, "gold"), (1, 2, False, "platinum"),
                        (2, None, True, "iridium")]
    # point-in-time: as of batch 1 the member was platinum
    asof = scd.asof_version(s2, 1).filter(F.col("bk") == 10).collect()
    assert len(asof) == 1 and asof[0]["tier"] == "platinum"


def test_scd1_upsert_updates_in_place(spark):
    t = spark.createDataFrame(
        [(2, 10, "gold"), (3, 20, "silver")],
        "k bigint, bk bigint, tier string")
    updates = spark.createDataFrame(
        [(10, "platinum"), (40, "bronze")], "bk bigint, tier string")
    out = scd.scd1_upsert(t, updates, key_col="k", business_keys=["bk"],
                          tracked_cols=["tier"])
    assert _rows(out) == [
        (2, 10, "platinum"),   # key survived, value overwritten
        (3, 20, "silver"),
        (4, 40, "bronze"),     # inserted above max
    ]
    # idempotent
    assert _rows(scd.scd1_upsert(out, updates, key_col="k",
                                 business_keys=["bk"],
                                 tracked_cols=["tier"])) == _rows(out)


def test_merge_counts_accounting(spark):
    t = spark.createDataFrame(
        [(2, 10, "gold"), (3, 20, "silver")],
        "k bigint, bk bigint, tier string")
    updates = spark.createDataFrame(
        [(10, "platinum"), (20, "silver"), (40, "bronze")],
        "bk bigint, tier string")
    j = scd._classified_join(t, updates, ["bk"], ["tier"])
    c = scd.merge_counts(j)
    assert (c.unchanged, c.changed, c.inserted) == (1, 1, 1)
