"""Spark job budget of the warehouse build, counted per runner step.

Each `EtlRun` step runs under its own job group and the groups are read
back through `statusTracker`, so the budget is a count of launched jobs,
not a wall-clock bound. It pins the cold-cycle cuts: the database
existence check is a catalog lookup, each load's row count rides its
`ddl.replace_table` write as an Observation, and the contracts sweep
is one action for the dim keys plus one pass over `fact_sales` for all
its FK edges. The
Observation counts are checked against the tables, and a count that
missed its write must fail the step rather than under-report."""

from __future__ import annotations

import pytest
from pyspark.sql import Observation

from snowflake_azure_etl_spark.warehouse import ddl, runner

DB = "wh_jobs_test"

#: Most jobs each step may launch at sf0.001: a load is its write's
#: jobs only; the contracts are one key sweep plus one FK pass.
BUDGET = {
    "create database": 0,
    "load dim_location": 6,
    "load dim_customer": 4,
    "load dim_supplier": 4,
    "load dim_channel": 4,
    "load dim_part": 3,
    "load dim_date": 1,
    "load fact_sales": 7,
    "load fact_sales_target": 4,
    "load fact_src_sales_target": 8,
    "create views": 0,
    "create analytical views": 0,
    "validate contracts": 6,
}


@pytest.fixture(scope="module")
def step_jobs(spark, sf_dir):
    """(report, {step: job count}) of one build with a group per step."""
    sc = spark.sparkContext
    step = runner.EtlRun.step

    def grouped(self, name, fn):
        sc.setJobGroup(f"{DB}:{name}", name)
        try:
            return step(self, name, fn)
        finally:
            sc.setJobGroup(f"{DB}:between", "between steps")

    runner.EtlRun.step = grouped
    try:
        report = runner.run_warehouse_build(spark, sf_dir, database=DB)
    finally:
        runner.EtlRun.step = step
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    st = sc.statusTracker()
    return report, {s.name: len(st.getJobIdsForGroup(f"{DB}:{s.name}"))
                    for s in report.steps}


def test_every_step_stays_within_its_job_budget(step_jobs):
    _, jobs = step_jobs
    assert set(jobs) == set(BUDGET)
    over = {s: (n, BUDGET[s]) for s, n in jobs.items() if n > BUDGET[s]}
    assert not over, f"steps over their job budget (got, budget): {over}"


def test_observed_row_counts_are_exact(spark, step_jobs):
    report, _ = step_jobs
    counts = {t: n for t, n in report.table_counts.items()
              if t.startswith(f"{DB}.")}
    assert len(counts) == 9
    assert counts == {t: spark.table(t).count() for t in counts}


class _BlindCount(Observation):
    """An Observation whose action never saw the write's rows."""

    @property
    def get(self):
        return {"n": 0}


def test_materialize_fails_loud_when_its_count_missed_the_write(
        spark, monkeypatch):
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {DB}")
    assert ddl.replace_table(spark.range(0), f"{DB}.empty_t") == 0
    monkeypatch.setattr(ddl, "Observation", _BlindCount)
    with pytest.raises(RuntimeError, match="Observation"):
        ddl.replace_table(spark.range(3), f"{DB}.blind_t")
