"""The leg-assembly contract of `workload._registry.union_legs`: every
multi-leg catalog query names, builds, tags and unions its legs there."""

from __future__ import annotations

import threading
import time

import pytest

from snowflake_azure_etl_spark.workload._registry import union_legs


def test_failing_leg_reraises_after_siblings_finish(spark):
    """A failing build does not abandon its siblings: the error surfaces
    only once every leg thread has joined."""
    finished = threading.Event()

    def slow():
        time.sleep(0.5)
        finished.set()
        return spark.range(1)

    def bad():
        raise ValueError("leg failed")

    with pytest.raises(ValueError, match="leg failed"):
        union_legs("leg", {"slow": slow, "bad": bad})
    assert finished.is_set()


def test_leg_jobs_carry_the_callers_job_group(spark):
    """A job launched inside a leg build belongs to the caller's job
    group — the attribution perfbench's per-op Spark stats read back
    through statusTracker, and the channel per-leg job tags ride."""
    sc = spark.sparkContext
    group = f"union-legs-{time.time_ns()}"
    sc.setJobGroup(group, "union_legs job-group test")
    try:
        union_legs("leg", {"a": lambda: spark.range(5).filter("id > 1")
                           .limit(int(spark.range(3).count()))})
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(jobs) >= 1


def test_tag_leads_and_legs_union_in_dict_order(spark):
    """Each leg gets its tag as the leading column; legs line up by
    column name and union in dict order; DataFrame and build legs mix."""
    b = spark.createDataFrame([(1, "x"), (2, "y")], "n long, s string")
    a = spark.createDataFrame([("z", 3)], "s string, n long")
    out = union_legs("leg", {"b": b, "a": lambda: a})
    assert out.columns == ["leg", "n", "s"]
    assert [tuple(r) for r in out.collect()] == [
        ("b", 1, "x"), ("b", 2, "y"), ("a", 3, "z")]


def test_pre_tagged_leg_passes_through(spark):
    """A leg that already carries the tag column (a multi-row leg, or a
    nested union of legs) is unioned unchanged."""
    inner = union_legs("leg", {
        "p1": spark.createDataFrame([(1,)], "n long"),
        "p2": spark.createDataFrame([(2,)], "n long")})
    out = union_legs("leg", {
        "pair": inner, "solo": spark.createDataFrame([(3,)], "n long")})
    assert out.columns == ["leg", "n"]
    assert [tuple(r) for r in out.collect()] == [
        ("p1", 1), ("p2", 2), ("solo", 3)]
