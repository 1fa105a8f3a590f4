"""Orchestrated three-phase ETL runner (SURVEY §2.12 R1-R6, §3).

Reference shape: run_etl (staging) → run_dimensional_etl (star build) →
run_views_etl (BI views), each a sequence of logged steps with
abort-on-failure exit codes (/root/reference/rahil/run_etl.py:24-46,
run_dimensional_etl.py:32-59), per-entity row accounting
(load_data.py:22-74), timestamped log files (rahil/logs/), env-driven
config (config.py:20-59), and idempotent DDL throughout.

Engine shape: one SparkSession, one `EtlRun` that sequences step
functions, logs each with wall-clock + row counts, aborts on the first
failure (raising EtlStepError — the exit-code analog), and returns a
summary report. Materialization is `ddl.replace_table` into a
warehouse database (CREATE OR REPLACE semantics, R6); row accounting
(R3) rides each write as an Observation, with no read-back. No sleeps —
the reference's time.sleep(1) pacing is a Snowflake-API courtesy with
no Spark analog.
"""

from __future__ import annotations

import logging
import os
import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import SparkSession

from ..plans.datedim import DIM_DATE_COLUMNS
from . import ddl
from .star_build import build_star

log = logging.getLogger("snowflake_azure_etl_spark.etl")


class EtlStepError(RuntimeError):
    """Abort-on-step-failure (R2; reference run_dimensional_etl.py:32-59
    exits non-zero on the first failed step)."""


@dataclass
class StepResult:
    name: str
    seconds: float
    rows: dict[str, int] = field(default_factory=dict)


@dataclass
class EtlReport:
    """Per-step accounting summary (R3; reference load_data.py:48-74)."""
    steps: list[StepResult] = field(default_factory=list)

    @property
    def table_counts(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for s in self.steps:
            out.update(s.rows)
        return out


class EtlRun:
    """Sequenced, logged, abort-on-failure step runner (R1, R2, R4)."""

    def __init__(self, name: str) -> None:
        self.name = name
        self.report = EtlReport()

    def step(self, name: str,
             fn: Callable[[], dict[str, int] | None]) -> dict[str, int]:
        log.info("[%s] step %d: %s ...", self.name,
                 len(self.report.steps) + 1, name)
        t0 = time.perf_counter()
        try:
            rows = fn() or {}
        except Exception as exc:  # noqa: BLE001 — step boundary
            log.error("[%s] step %r FAILED: %s", self.name, name, exc)
            raise EtlStepError(f"{self.name}: step {name!r} failed") from exc
        dt = time.perf_counter() - t0
        self.report.steps.append(StepResult(name, dt, rows))
        for tbl, n in rows.items():
            log.info("[%s]   %s: %d rows", self.name, tbl, n)
        log.info("[%s] step %r ok in %.2fs", self.name, name, dt)
        return rows


def warehouse_database() -> str:
    """Env-driven target database (R5; reference config.py derives DB
    names from USER_NAME in .env)."""
    return os.environ.get("SPARK_GRAFT_WAREHOUSE_DB", "wh")


def run_warehouse_build(spark: SparkSession, sf_dir: str,
                        database: str | None = None) -> EtlReport:
    """The dimensional-ETL phase end-to-end: create DB → build + persist
    dims in dependency order → facts → pass-through views. Idempotent:
    re-running overwrites every object (R6)."""
    database = database or warehouse_database()
    run = EtlRun("warehouse-build")
    run.step("create database",
             lambda: ({} if ddl.create_database(spark, database)
                      else _raise(f"database {database} missing after create")))
    # the DAG build runs outside every step (a step of its own would
    # change the run's step set), so its duration is logged here
    t0 = time.perf_counter()
    star = build_star(spark, sf_dir)
    log.info("[%s] star DAG built in %.2fs", run.name,
             time.perf_counter() - t0)
    # dependency order: location first, then its referrers, then facts
    for name in ("dim_location", "dim_customer", "dim_supplier",
                 "dim_channel", "dim_part", "dim_date", "fact_sales",
                 "fact_sales_target", "fact_src_sales_target"):
        full = f"{database}.{name}"
        run.step(f"load {name}", lambda t=full, n=name: {
            t: ddl.replace_table(star[n], t)})
    run.step("create views", lambda: create_passthrough_views(spark, database))
    run.step("create analytical views",
             lambda: create_analytical_views(spark, database))
    run.step("validate contracts", lambda: validate_warehouse(
        spark, database))
    return run.report


#: Post-build column contracts (X-DQ, warehouse.quality): the invariants
#: the dimensional build guarantees by construction — surrogate keys
#: present and unique, the unknown member seeded. A violation aborts
#: the run like any failed step (R2).
WAREHOUSE_CONTRACTS: dict[str, list] = {
    "dim_customer": ["dim_customer_id"],
    "dim_supplier": ["dim_supplier_id"],
    "dim_part": ["dim_part_id"],
    "dim_location": ["dim_location_id"],
    "dim_channel": ["dim_channel_id"],
    "dim_date": ["date_pkey"],
}


#: Fact → dim FK contracts (dbt `relationships`): every fact key must
#: resolve into its dimension — guaranteed by the unknown-member
#: pattern, now attested rather than assumed.
WAREHOUSE_FK_CONTRACTS: list[tuple[str, str, str, str]] = [
    ("fact_sales", "dim_customer_id", "dim_customer", "dim_customer_id"),
    ("fact_sales", "dim_supplier_id", "dim_supplier", "dim_supplier_id"),
    ("fact_sales", "dim_part_id", "dim_part", "dim_part_id"),
]


def validate_warehouse(spark: SparkSession, database: str) -> dict:
    """Key contracts of every dim in ONE action, then each child's FK
    contracts in one pass over it; raise on the first violated rule in
    declaration order (a failed step), else return per-rule counts."""
    from .quality import fk_violations, key_violations

    keys = [(t, k) for t, cols in WAREHOUSE_CONTRACTS.items() for k in cols]
    names = [f"{t}.{k}_{c}" for t, k in keys for c in ("not_null", "unique")]
    counts = key_violations([(spark.table(f"{database}.{t}"), k)
                             for t, k in keys])
    for name, n in zip(names, counts):
        if n:
            raise EtlStepError(f"contract violated: {name} ({n} violations)")
    results = dict.fromkeys(names, 0)
    for child in dict.fromkeys(c for c, *_ in WAREHOUSE_FK_CONTRACTS):
        if not spark.catalog.tableExists(f"{database}.{child}"):
            raise EtlStepError(
                f"contract table missing: {database}.{child} (its FK "
                "contracts cannot be checked)")
        child_df = spark.table(f"{database}.{child}")
        edges = [e[1:] for e in WAREHOUSE_FK_CONTRACTS if e[0] == child]
        orphans = fk_violations(
            child_df, [(col, spark.table(f"{database}.{parent}"), pcol)
                       for col, parent, pcol in edges],
            n_parent_rows=1_000_000)
        for (col, parent, pcol), n in zip(edges, orphans):
            if n:
                raise EtlStepError(
                    f"contract violated: {child}.{col} -> {parent}.{pcol} "
                    f"({n} orphaned rows)")
            results[f"{child}.{col}__references__{parent}"] = 0
    return results


def _raise(msg: str) -> None:
    raise EtlStepError(msg)


PASSTHROUGH_VIEWS = {
    # the reference's 10 pass-through views (create_views.py:19-134:
    # 7 dims + 3 facts), explicit column lists per its anti-SELECT*
    # policy (P1). dim_supplier serves both the store and reseller
    # roles (VW_Dim_Store / VW_Dim_Reseller) with role-specific columns.
    "vw_dim_customer": ("dim_customer", ["dim_customer_id", "custkey",
                                        "customer_name", "segment",
                                        "dim_location_id", "acct_balance"]),
    "vw_dim_part": ("dim_part", ["dim_part_id", "partkey", "part_name",
                                 "brand", "part_type", "size",
                                 "retail_price"]),
    "vw_dim_location": ("dim_location", ["dim_location_id", "nationkey",
                                         "nation_name", "region_name"]),
    "vw_dim_channel": ("dim_channel", ["dim_channel_id", "channelkey",
                                       "categorykey", "channel_name",
                                       "channel_category"]),
    "vw_dim_store": ("dim_supplier", ["dim_supplier_id", "suppkey",
                                      "store_label", "dim_location_id"]),
    "vw_dim_reseller": ("dim_supplier", ["dim_supplier_id", "suppkey",
                                         "supplier_name",
                                         "dim_location_id"]),
    "vw_dim_date": ("dim_date", list(DIM_DATE_COLUMNS)),
    "vw_fact_sales": ("fact_sales", ["orderkey", "linenumber",
                                     "dim_customer_id", "dim_supplier_id",
                                     "dim_part_id", "dim_sale_date_id",
                                     "sale_quantity", "sale_amount",
                                     "sale_unit_price"]),
    "vw_fact_sales_target": ("fact_sales_target",
                             ["dim_part_id", "dim_target_date_id",
                              "target_quantity"]),
    "vw_fact_src_sales_target": ("fact_src_sales_target",
                                 ["dim_store_id", "dim_reseller_id",
                                  "dim_channel_id", "dim_target_date_id",
                                  "sales_target_amount"]),
}


def create_passthrough_views(spark: SparkSession,
                             database: str) -> dict[str, int]:
    """CREATE OR REPLACE VIEW layer (S8) — pass-through views with
    explicit column lists; SECURE degrades to plain VIEW (SURVEY §4.3.4)."""
    for view, (table, cols) in PASSTHROUGH_VIEWS.items():
        col_list = ", ".join(cols)
        spark.sql(f"CREATE OR REPLACE VIEW {database}.{view} AS "
                  f"SELECT {col_list} FROM {database}.{table}")
    return {}


# The 7 analytical views (reference create_views.py:144-515), re-expressed
# over this warehouse's star. Each mirrors the original's operator shape —
# star joins, multi-key group-bys, conditional aggs, windows over
# aggregates, CTE classification, HAVING, theta join — as plain SQL text
# executed through Spark (views stay lazy; Catalyst inlines them).
ANALYTICAL_VIEWS: dict[str, str] = {
    # VW_SalesPerformanceSummary (:144-171): star join + multi-agg
    "vw_sales_performance_summary": """
        SELECT d.year_num AS sale_year, d.quarter_num AS sale_quarter,
               p.brand,
               SUM(f.sale_quantity) AS total_qty,
               SUM(f.sale_amount) AS total_revenue,
               COUNT(*) AS n_lines,
               COUNT(DISTINCT f.orderkey) AS n_orders,
               SUM(f.sale_amount) / NULLIF(SUM(f.sale_quantity), 0)
                   AS revenue_per_unit
        FROM {db}.fact_sales f
        JOIN {db}.dim_part p ON f.dim_part_id = p.dim_part_id
        JOIN {db}.dim_date d ON f.dim_sale_date_id = d.date_pkey
        GROUP BY d.year_num, d.quarter_num, p.brand
    """,
    # VW_CustomerSalesAnalysis (:174-200): customer+location star
    "vw_customer_sales_analysis": """
        SELECT c.segment, l.region_name,
               COUNT(DISTINCT c.custkey) AS n_customers,
               SUM(f.sale_amount) AS total_revenue,
               SUM(f.sale_amount) / NULLIF(COUNT(DISTINCT c.custkey), 0)
                   AS revenue_per_customer
        FROM {db}.fact_sales f
        JOIN {db}.dim_customer c ON f.dim_customer_id = c.dim_customer_id
        JOIN {db}.dim_location l ON c.dim_location_id = l.dim_location_id
        GROUP BY c.segment, l.region_name
    """,
    # VW_TargetVsActualPerformance (:203-265): the date-spine LEFT-join
    # chain through BOTH target facts (product targets AND the
    # store/reseller/channel SRC targets) + HAVING. The reference joins
    # the raw facts straight off the spine; here each target fact is
    # pre-aggregated to dim grain first so the spine join stays
    # dim-sized at any fact scale. Result GRAIN (ADVICE r4): one row
    # per (year, brand, channel_name) — joining two independent target
    # facts through the shared date spine is a brand × channel
    # cross-match per date by construction (the reference's view has
    # the same fan-out); src_target_amount repeats across the brands
    # of a channel-year and vice versa, so consumers must not re-sum
    # across the other axis.
    "vw_target_vs_actual": """
        WITH prod_targets AS (
            SELECT t.dim_target_date_id AS date_key, p.brand,
                   SUM(t.target_quantity) AS target_qty
            FROM {db}.fact_sales_target t
            JOIN {db}.dim_part p ON t.dim_part_id = p.dim_part_id
            GROUP BY t.dim_target_date_id, p.brand),
        src_targets AS (
            SELECT st.dim_target_date_id AS date_key, c.channel_name,
                   SUM(st.sales_target_amount) AS src_target_amount
            FROM {db}.fact_src_sales_target st
            JOIN {db}.dim_channel c ON st.dim_channel_id = c.dim_channel_id
            GROUP BY st.dim_target_date_id, c.channel_name),
        actuals AS (
            SELECT p.brand, f.dim_sale_date_id AS date_key,
                   SUM(f.sale_quantity) AS actual_qty
            FROM {db}.fact_sales f
            JOIN {db}.dim_part p ON f.dim_part_id = p.dim_part_id
            GROUP BY p.brand, f.dim_sale_date_id)
        SELECT d.year_num, pt.brand, st.channel_name,
               SUM(pt.target_qty) AS target_qty,
               SUM(st.src_target_amount) AS src_target_amount,
               SUM(COALESCE(a.actual_qty, 0)) AS actual_qty,
               CASE WHEN SUM(pt.target_qty) > 0
                    THEN SUM(COALESCE(a.actual_qty, 0))
                         / SUM(pt.target_qty) * 100
                    ELSE 0 END AS qty_achievement_pct
        FROM {db}.dim_date d
        LEFT JOIN prod_targets pt ON pt.date_key = d.date_pkey
        LEFT JOIN src_targets st ON st.date_key = d.date_pkey
        LEFT JOIN actuals a ON a.brand = pt.brand
                           AND a.date_key = d.date_pkey
        WHERE d.day_num_in_month = 1
        GROUP BY d.year_num, pt.brand, st.channel_name
        HAVING SUM(pt.target_qty) IS NOT NULL
            OR SUM(st.src_target_amount) IS NOT NULL
    """,
    # VW_Store58Analysis (:268-310): IN-list filtered star
    "vw_store58_analysis": """
        SELECT s.store_label, d.year_num,
               SUM(f.sale_amount) AS total_revenue,
               COUNT(*) AS n_lines
        FROM {db}.fact_sales f
        JOIN {db}.dim_supplier s ON f.dim_supplier_id = s.dim_supplier_id
        JOIN {db}.dim_date d ON f.dim_sale_date_id = d.date_pkey
        WHERE s.store_label IN ('Store 5', 'Store 8')
        GROUP BY s.store_label, d.year_num
    """,
    # VW_ProductTypeBonus (:313-362): rank + share-of-total windows
    "vw_product_bonus": """
        SELECT brand, year_num, brand_revenue,
               RANK() OVER (PARTITION BY year_num
                            ORDER BY brand_revenue DESC) AS sales_rank,
               ROUND(100 * brand_revenue
                     / SUM(brand_revenue) OVER (PARTITION BY year_num),
                     2) AS revenue_share_pct
        FROM (SELECT p.brand, d.year_num,
                     SUM(f.sale_amount) AS brand_revenue
              FROM {db}.fact_sales f
              JOIN {db}.dim_part p ON f.dim_part_id = p.dim_part_id
              JOIN {db}.dim_date d ON f.dim_sale_date_id = d.date_pkey
              WHERE p.part_type != 'Unknown'
              GROUP BY p.brand, d.year_num)
    """,
    # VW_StoreCountByState-style CTE classification (:420-435)
    "vw_supplier_count_by_region": """
        WITH counts AS (
            SELECT l.region_name,
                   COUNT(DISTINCT s.suppkey) AS n_suppliers
            FROM {db}.dim_supplier s
            JOIN {db}.dim_location l ON s.dim_location_id = l.dim_location_id
            WHERE s.suppkey IS NOT NULL
            GROUP BY l.region_name)
        SELECT region_name, n_suppliers,
               CASE WHEN n_suppliers >= 100 THEN 'multi'
                    WHEN n_suppliers > 1 THEN 'several'
                    ELSE 'single' END AS supplier_class
        FROM counts
    """,
    # VW_MultiVsSingle (:438-496): conditional window average
    "vw_segment_vs_year_avg": """
        SELECT segment, year_num, seg_revenue,
               AVG(seg_revenue) OVER (PARTITION BY year_num)
                   AS year_avg_revenue,
               seg_revenue - AVG(seg_revenue) OVER (PARTITION BY year_num)
                   AS vs_year_avg
        FROM (SELECT c.segment, d.year_num,
                     SUM(f.sale_amount) AS seg_revenue
              FROM {db}.fact_sales f
              JOIN {db}.dim_customer c
                ON f.dim_customer_id = c.dim_customer_id
              JOIN {db}.dim_date d ON f.dim_sale_date_id = d.date_pkey
              GROUP BY c.segment, d.year_num)
    """,
}


def create_analytical_views(spark: SparkSession,
                            database: str) -> dict[str, int]:
    """The 7-analytical-view BI layer (Phase C; reference
    run_views_etl)."""
    for view, body in ANALYTICAL_VIEWS.items():
        spark.sql(f"CREATE OR REPLACE VIEW {database}.{view} AS "
                  + body.format(db=database))
    return {}


@dataclass
class ViewSample:
    """One row of the all-views verification sweep (reference
    view_sample_views.py:10-92: per-view sample + count with a ✓/✗
    tally)."""
    view: str
    ok: bool
    rows: int
    sample: list
    error: str | None = None


def sample_all_views(spark: SparkSession,
                     database: str) -> list[ViewSample]:
    """Sample 5 rows of and count every pass-through and analytical
    view, recording per-view success/failure instead of aborting — the
    reference's verify_all_views sweep. Returns the tally; logs a ✓/✗
    line per view and the summary footer."""
    out: list[ViewSample] = []
    for view in list(PASSTHROUGH_VIEWS) + list(ANALYTICAL_VIEWS):
        full = f"{database}.{view}"
        try:
            df = spark.table(full)
            sample = df.limit(5).collect()
            n = df.count()
            out.append(ViewSample(view=view, ok=True, rows=n, sample=sample))
            log.info("[views] ✓ %s: %d rows", full, n)
        except Exception as exc:  # noqa: BLE001 — per-view isolation
            out.append(ViewSample(view=view, ok=False, rows=0, sample=[],
                                  error=str(exc)))
            log.error("[views] ✗ %s: %s", full, exc)
    n_ok = sum(1 for v in out if v.ok)
    log.info("[views] %d/%d views verified", n_ok, len(out))
    return out
