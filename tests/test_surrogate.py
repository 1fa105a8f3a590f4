"""Surrogate-key strategies (plans.surrogate): the global-window small-dim
path and the partition-parallel ranged path must assign IDENTICAL keys,
the auto-switch must pick the parallel plan for attested-big dims, and
partitioning drift between the two passes must fail loudly, never NULL."""

from __future__ import annotations

import contextlib
import io

import pytest

from pyspark.sql import functions as F

from snowflake_azure_etl_spark.operators._cache import clear_cache
from snowflake_azure_etl_spark.plans import prefix, surrogate
from snowflake_azure_etl_spark.sources.registry import load_tables


def explain_str(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_ranged_keys_match_window_keys(spark, sf_dir):
    c = load_tables(spark, sf_dir, ("customer",))["customer"] \
        .select("c_custkey", "c_name")
    small = surrogate.with_surrogate_key(c, "k", order_by=["c_custkey"],
                                         offset=1)
    big = surrogate.ranged_dense_keys(c, "k", order_by=["c_custkey"],
                                      offset=1)
    a = {(r.c_custkey, r.k) for r in small.collect()}
    b = {(r.c_custkey, r.k) for r in big.collect()}
    assert a == b


def test_auto_switch_takes_parallel_path(spark, sf_dir):
    """An attested-big dim must plan the range-partitioned window
    (partitioned sort), not the single-partition global window."""
    c = load_tables(spark, sf_dir, ("customer",))["customer"]
    keyed = surrogate.with_surrogate_key(
        c, "k", order_by=["c_custkey"], offset=1,
        n_rows=prefix.WINDOW_MAX_ROWS + 1)
    plan = explain_str(keyed)
    assert "rangepartitioning" in plan.lower()
    # the window partitions by _pid — never a global (unpartitioned) sort
    assert "partitionBy=[_pid]" in plan.replace(" ", "") \
        or "_pid" in plan
    # and the small attestation keeps the simple global window
    small = surrogate.with_surrogate_key(c, "k", order_by=["c_custkey"],
                                         offset=1, n_rows=100)
    assert "rangepartitioning" not in explain_str(small).lower()


def test_ranged_keys_stay_jvm_side(spark, sf_dir):
    c = load_tables(spark, sf_dir, ("customer",))["customer"]
    keyed = surrogate.ranged_dense_keys(c, "k", order_by=["c_custkey"])
    plan = explain_str(keyed)
    assert "Python" not in plan
    assert "Scan ExistingRDD" not in plan


def test_partition_drift_raises_not_nulls(spark):
    """A _pid missing from the size map must raise, not emit NULL keys
    (ADVICE r4: element_at returns NULL on missing key — the guard has
    to fail loudly)."""
    df = spark.range(10).withColumn("_pid", F.spark_partition_id())
    # build the guard directly with a poisoned map (offsets only for an
    # impossible pid), the exact shape prefix._pinned_offsets emits
    mapped = F.element_at(F.create_map(F.lit(-999), F.lit(0)), F.col("_pid"))
    guarded = F.when(
        mapped.isNull(),
        F.raise_error(F.lit("surrogate: partition id not seen")).cast("long")
    ).otherwise(mapped)
    with pytest.raises(Exception, match="not seen"):
        df.withColumn("k", guarded).collect()


def test_empty_input_keeps_schema(spark):
    df = spark.range(0).select(F.col("id").alias("bk"))
    out = surrogate.ranged_dense_keys(df, "k", order_by=["bk"])
    assert out.count() == 0
    assert "k" in out.columns


def test_ranged_keys_release_on_clear_cache(spark):
    """The ranged path pins its range-partitioned input through the
    session cache, so `clear_cache` releases it: after each distinct
    input the persistent-RDD count is back at its baseline (a raw
    persist outside the cache stacked one pinned copy per input)."""
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    clear_cache(spark)
    baseline = persistent().size()
    for n in (10, 20, 30):
        df = spark.range(n).select(F.col("id").alias("bk"))
        keyed = surrogate.ranged_dense_keys(df, "k", order_by=["bk"])
        assert keyed.count() == n
        clear_cache(spark)
        assert persistent().size() == baseline
