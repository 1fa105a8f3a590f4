"""Star-schema workload: scans, filters, joins, aggregates, set ops, sorts.

Each query re-expresses a reference SQL shape (cited per query) on the
testdata star (FIXTURES.md §3 mapping: lineitem≈salesdetail,
orders≈salesheader, part≈product hierarchy, supplier≈store/reseller,
nation⋈region≈channel⋈channelcategory). Oracles are DuckDB SQL over the
pre-registered table views.

Determinism discipline (see functions.scalar): money aggregates go
through exact DECIMAL and surface as DOUBLE, ties in every ORDER BY ...
LIMIT are broken by a unique key, no raw timestamps in outputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.attest import bounded_broadcast

from ..functions.dates import oracle_date_attributes_sql
from ..functions.scalar import (coalesce_unknown, date_key, davg, dec, dsum,
                                safe_div, scaled_long, store_name)
from ..plans.datedim import build_dim_date
from ..sources.registry import load_tables, read_stage
from ._registry import query

# Dim_Date span covering the testdata's o_orderdate / l_shipdate range
# (1995..2001; reference uses a 730-day 2013-2014 calendar — SURVEY §2.9).
DATE_START, DATE_END = "1995-01-01", "2002-12-31"


def dim_date_oracle_cte() -> str:
    """DuckDB CTE generating the identical dim_date the Spark plan builds."""
    return f"""dim_date AS (
        SELECT {oracle_date_attributes_sql('d')}
        FROM (SELECT CAST(gs.generate_series AS DATE) AS d
              FROM generate_series(DATE '{DATE_START}', DATE '{DATE_END}',
                                   INTERVAL 1 DAY) AS gs)
    )"""


# --------------------------------------------------------------------------
# Flagship — Phase A slice (SURVEY §7): the VW_SalesPerformanceSummary shape
# (/root/reference/rahil/create_views.py:144-171): star join over fact +
# product + generated date dim, multi-key group, SUM/AVG/COUNT(DISTINCT),
# NULLIF-guarded ratio, ordered output.
# --------------------------------------------------------------------------

@query(
    "q01_sales_summary",
    covers=("S1", "J4", "A1", "A2", "A3", "A5", "F1", "F5", "F7", "O1"),
    oracle=f"""
    WITH {dim_date_oracle_cte()}
    SELECT d.year_num AS sale_year, d.quarter_num AS sale_quarter,
           p.p_brand AS brand,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
               AS total_revenue,
           COUNT(*) AS n_lines,
           COUNT(DISTINCT l.l_orderkey) AS n_orders,
           COUNT(DISTINCT l.l_suppkey) AS n_suppliers,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(l.l_extendedprice) AS avg_line_price,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * CAST(l.l_discount AS DECIMAL(18,2))) AS DOUBLE)
               / NULLIF(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)))
                             AS DOUBLE), 0) AS discount_rate
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN dim_date d ON CAST(strftime(l.l_shipdate, '%Y%m%d') AS INT) = d.date_pkey
    GROUP BY d.year_num, d.quarter_num, p.p_brand
    """,
    prepared=True,
)
def q01_sales_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship star-join aggregate (VW_SalesPerformanceSummary analog,
    reference create_views.py:144-171). Date dim and part are broadcast —
    at 100 TB the only shuffle is the final group-by on (year, quarter,
    brand), pre-reduced map-side by Spark's partial aggregation.

    Carries TWO exact COUNT(DISTINCT)s (orders + suppliers) — the A3
    two-distinct-aggs-in-one-query shape (reference
    create_views.py:184-185), folded in from the former q12.

    The two-distinct expand triples the rows into the partial
    aggregate, so the fact side relies on the stage catalog's scan
    balancing (`sources.registry.load_tables`): on a single-row-group
    file that whole map stage would otherwise run in one task. Money
    math runs on exact scaled longs (`functions.scalar.scaled_long`)."""
    t = load_tables(spark, sf_dir, ("lineitem", "part"))
    dim_date = build_dim_date(spark, DATE_START, DATE_END)
    li = t["lineitem"]
    epc = scaled_long("l_extendedprice")
    dc = scaled_long("l_discount")
    qc = scaled_long("l_quantity")
    return (
        li.join(bounded_broadcast(t["part"], bound="TPC-H dim (dim-grain relation)"),
                li.l_partkey == F.col("p_partkey"))
        .join(bounded_broadcast(dim_date, bound="date dim (days-bounded)"),
              date_key("l_shipdate") == F.col("date_pkey"))
        .groupBy(
            F.col("year_num").alias("sale_year"),
            F.col("quarter_num").alias("sale_quarter"),
            F.col("p_brand").alias("brand"),
        )
        .agg(
            (F.sum(qc).cast("double") / 100.0).alias("total_qty"),
            (F.sum(epc * (100 - dc)).cast("double") / 10000.0)
            .alias("total_revenue"),
            F.count("*").alias("n_lines"),
            F.countDistinct("l_orderkey").alias("n_orders"),
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            (F.sum(epc).cast("double") / 100.0
             / F.count("l_extendedprice")).alias("avg_line_price"),
            safe_div(F.sum(epc * dc).cast("double") / 10000.0,
                     F.sum(epc).cast("double") / 100.0).alias("discount_rate"),
        )
        .orderBy("sale_year", "sale_quarter", "brand")
    )


# --------------------------------------------------------------------------
# Projections / filters (SURVEY §2.2)
# --------------------------------------------------------------------------

@query(
    "q02_scan_project_filter",
    covers=("P1", "P3", "P4", "S1"),
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice, l_returnflag
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1998-01-01'
      AND l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL
      AND l_quantity > 40
    """,
    prepared=True,
)
def q02_scan_project_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit projection + multi-column IS NOT NULL + range predicate
    (reference anti-SELECT* policy, create_views.py:19-98; NOT NULL
    guards, load_dimension_tables.py:84-86). Both the 4-column ReadSchema
    and all three predicates reach the parquet scan as PushedFilters, so
    it reads the plain stage, not the catalog's balanced relation."""
    li = read_stage(spark, sf_dir, "lineitem")
    return li.filter(
            (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
            & F.col("l_extendedprice").isNotNull()
            & F.col("l_returnflag").isNotNull()
            & (F.col("l_quantity") > 40)
        ).select("l_orderkey", "l_linenumber", "l_extendedprice", "l_returnflag")


@query(
    "q03_filter_in_compound",
    covers=("P5", "P6", "F11"),
    oracle="""
    SELECT p_partkey, p_brand, p_type, p_size
    FROM part
    WHERE (p_brand IN ('Brand#11', 'Brand#22', 'Brand#33')
           OR p_size IS NULL OR p_size >= 45)
      AND p_type != 'Men''s Casual'
    """,
    prepared=True,
)
def q03_filter_in_compound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-list + compound OR-with-IS-NULL predicate + escaped-quote
    literal (reference create_views.py:306,355-358; SURVEY P5/P6/F11)."""
    p = load_tables(spark, sf_dir, ("part",))["part"]
    return p.select("p_partkey", "p_brand", "p_type", "p_size").filter(
        (F.col("p_brand").isin("Brand#11", "Brand#22", "Brand#33")
         | F.col("p_size").isNull() | (F.col("p_size") >= 45))
        & (F.col("p_type") != "Men's Casual")
    )


# --------------------------------------------------------------------------
# Joins (SURVEY §2.3)
# --------------------------------------------------------------------------

@query(
    "q05_join_chain_3way",
    covers=("J1", "J2", "F3"),
    oracle="""
    SELECT s.s_suppkey AS suppkey,
           s.s_name || ' / ' || n.n_name || ' / ' || r.r_name AS supplier_geo,
           r.r_name AS region
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
    prepared=True,
)
def q05_join_chain_3way(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way inner join chain + || concat — the
    product⋈producttype⋈productcategory shape
    (load_dimension_tables.py:253-257). Each hop is the J1 single-key
    inner equi-join (channel⋈channelcategory, :133-135), both
    broadcast: zero shuffle."""
    t = load_tables(spark, sf_dir, ("supplier", "nation", "region"))
    s, n, r = t["supplier"], t["nation"], t["region"]
    return (s.join(bounded_broadcast(n, bound="TPC-H dim (dim-grain relation)"),
                   s.s_nationkey == n.n_nationkey)
            .join(bounded_broadcast(r, bound="TPC-H dim (dim-grain relation)"),
                  n.n_regionkey == r.r_regionkey)
            .select(s.s_suppkey.alias("suppkey"),
                    F.concat_ws(" / ", s.s_name, n.n_name, r.r_name).alias("supplier_geo"),
                    r.r_name.alias("region")))


@query(
    "q06_left_join_coalesce_composite",
    covers=("J3", "F1", "F2"),
    oracle="""
    SELECT c.c_custkey AS custkey,
           COALESCE(CAST(c.c_nationkey AS VARCHAR), 'Unknown') AS nation_key_norm,
           COUNT(s.s_suppkey) AS n_local_suppliers
    FROM customer c
    LEFT JOIN supplier s
      ON COALESCE(CAST(c.c_nationkey AS VARCHAR), 'Unknown')
         = COALESCE(CAST(s.s_nationkey AS VARCHAR), 'Unknown')
    GROUP BY c.c_custkey, COALESCE(CAST(c.c_nationkey AS VARCHAR), 'Unknown')
    """,
    prepared=True,
)
def q06_left_join_coalesce_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left join on COALESCE-normalized CAST keys — the Dim_Location
    lookup shape (load_dimension_tables.py:158-163: 5-col composite of
    COALESCE(CAST(x AS VARCHAR),'Unknown'))."""
    t = load_tables(spark, sf_dir, ("customer", "supplier"))
    c, s = t["customer"], t["supplier"]
    ckey = coalesce_unknown(c.c_nationkey)
    skey = coalesce_unknown(s.s_nationkey)
    return (c.join(bounded_broadcast(s, bound="TPC-H dim (dim-grain relation)"), ckey == skey, "left")
            .groupBy(c.c_custkey.alias("custkey"), ckey.alias("nation_key_norm"))
            .agg(F.count(s.s_suppkey).alias("n_local_suppliers")))


@query(
    "q07_star_join_revenue_by_nation",
    covers=("J4", "A1", "A2"),
    oracle="""
    SELECT n.n_name AS nation, r.r_name AS region,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
               AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name, r.r_name
    """,
    prepared=True,
)
def q07_star_join_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact ⋈ 4 dims star join (the VW analytical-view shape,
    create_views.py:192-196). lineitem⋈orders shuffles on orderkey; all
    dim sides broadcast — one shuffle total plus the final group-by."""
    t = load_tables(spark, sf_dir,
                    ("lineitem", "orders", "customer", "nation", "region"))
    l, o, c = t["lineitem"], t["orders"], t["customer"]
    n, r = t["nation"], t["region"]
    # exact scale-4 integer sums
    rev = (scaled_long("l_extendedprice")
           * (100 - scaled_long("l_discount")))
    return (l.join(o, l.l_orderkey == o.o_orderkey)
            .join(bounded_broadcast(c, bound="TPC-H dim (dim-grain relation)"), o.o_custkey == c.c_custkey)
            .join(bounded_broadcast(n, bound="TPC-H dim (dim-grain relation)"), c.c_nationkey == n.n_nationkey)
            .join(bounded_broadcast(r, bound="TPC-H dim (dim-grain relation)"),
                  n.n_regionkey == r.r_regionkey)
            .groupBy(n.n_name.alias("nation"), r.r_name.alias("region"))
            .agg((F.sum(rev).cast("double") / 10000.0).alias("revenue"),
                 F.count("*").alias("n_lines")))


@query(
    "q08_date_spine_left_chain",
    covers=("J5", "F1", "A2"),
    oracle=f"""
    WITH {dim_date_oracle_cte()},
    spine AS (
        SELECT year_num, month_num FROM dim_date
        WHERE day_num_in_month = 1 AND year_num BETWEEN 1995 AND 2001
    ),
    mo_orders AS (
        SELECT year(o_orderdate) AS y, month(o_orderdate) AS m,
               COUNT(*) AS order_cnt,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS order_total
        FROM orders GROUP BY 1, 2
    ),
    mo_ship AS (
        SELECT year(l_shipdate) AS y, month(l_shipdate) AS m,
               COUNT(*) AS line_cnt
        FROM lineitem GROUP BY 1, 2
    )
    SELECT s.year_num AS yr, s.month_num AS mo,
           COALESCE(o.order_cnt, 0) AS order_cnt,
           CAST(COALESCE(o.order_total, 0) AS DOUBLE) AS order_total,
           COALESCE(l.line_cnt, 0) AS line_cnt
    FROM spine s
    LEFT JOIN mo_orders o ON s.year_num = o.y AND s.month_num = o.m
    LEFT JOIN mo_ship l ON s.year_num = l.y AND s.month_num = l.m
    """,
    prepared=True,
)
def q08_date_spine_left_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-spine multi-way LEFT JOIN chain — the
    VW_TargetVsActual shape (create_views.py:244-259: Dim_Date month
    starts left-joined through both target facts). Months with no
    orders survive with zeroed measures."""
    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    dim_date = build_dim_date(spark, DATE_START, DATE_END)
    spine = (dim_date
             .filter((F.col("day_num_in_month") == 1)
                     & F.col("year_num").between(1995, 2001))
             .select("year_num", "month_num"))
    mo_orders = (t["orders"]
                 .groupBy(F.year("o_orderdate").alias("y"),
                          F.month("o_orderdate").alias("m"))
                 .agg(F.count("*").alias("order_cnt"),
                      F.sum(dec("o_totalprice")).alias("order_total")))
    mo_ship = (t["lineitem"]
               .groupBy(F.year("l_shipdate").alias("y"),
                        F.month("l_shipdate").alias("m"))
               .agg(F.count("*").alias("line_cnt")))
    return (spine
            .join(mo_orders, (spine.year_num == mo_orders.y)
                  & (spine.month_num == mo_orders.m), "left")
            .join(mo_ship, (spine.year_num == mo_ship.y)
                  & (spine.month_num == mo_ship.m), "left")
            .select(spine.year_num.alias("yr"), spine.month_num.alias("mo"),
                    F.coalesce("order_cnt", F.lit(0)).alias("order_cnt"),
                    F.coalesce(F.col("order_total"), F.lit(0).cast("decimal(18,2)"))
                    .cast("double").alias("order_total"),
                    F.coalesce("line_cnt", F.lit(0)).alias("line_cnt")))


@query(
    "q09_theta_or_isnull_join",
    covers=("J6", "P6"),
    oracle="""
    SELECT s.s_suppkey AS suppkey, COUNT(n.n_nationkey) AS n_matches
    FROM supplier s
    LEFT JOIN nation n
      ON (s.s_nationkey = n.n_nationkey OR s.s_nationkey IS NULL)
         AND n.n_regionkey < 3
    GROUP BY s.s_suppkey
    """,
    prepared=True,
)
def q09_theta_or_isnull_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-IS-NULL theta join (reference create_views.py:253-258) —
    non-equi, so Spark executes BroadcastNestedLoopJoin. Correct and
    cheap at dim cardinality; plans.layout.guarded_theta_join asserts
    the build side is dim-sized before planning, refusing the shape at
    fact×fact scale (SURVEY §4.3.5 / §7 hard-parts)."""
    from ..plans.layout import guarded_theta_join
    t = load_tables(spark, sf_dir, ("supplier", "nation"))
    s, n = t["supplier"], t["nation"]
    cond = ((s.s_nationkey == n.n_nationkey) | s.s_nationkey.isNull()) \
        & (n.n_regionkey < 3)
    return (guarded_theta_join(s, n, cond, "left")
            .groupBy(s.s_suppkey.alias("suppkey"))
            .agg(F.count(n.n_nationkey).alias("n_matches")))


@query(
    "q10_cte_group_count_classify",
    covers=("J7", "A3", "F4"),
    oracle="""
    WITH sup_per_nation AS (
        SELECT n.n_nationkey, n.n_name,
               COUNT(DISTINCT s.s_suppkey) AS n_suppliers
        FROM nation n
        LEFT JOIN supplier s ON s.s_nationkey = n.n_nationkey
        GROUP BY n.n_nationkey, n.n_name
    )
    SELECT n_name AS nation, n_suppliers,
           CASE WHEN n_suppliers > 1 THEN 'Multi-Supplier'
                WHEN n_suppliers = 1 THEN 'Single-Supplier'
                ELSE 'No-Supplier' END AS supplier_class
    FROM sup_per_nation
    """,
    prepared=True,
)
def q10_cte_group_count_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CTE with COUNT(DISTINCT) + CASE classification — the
    StoreCountByState shape (create_views.py:423-435)."""
    t = load_tables(spark, sf_dir, ("nation", "supplier"))
    n, s = t["nation"], t["supplier"]
    cnt = (n.join(s, s.s_nationkey == n.n_nationkey, "left")
           .groupBy(n.n_nationkey, n.n_name)
           .agg(F.countDistinct(s.s_suppkey).alias("n_suppliers")))
    return cnt.select(
        F.col("n_name").alias("nation"), "n_suppliers",
        F.when(F.col("n_suppliers") > 1, "Multi-Supplier")
         .when(F.col("n_suppliers") == 1, "Single-Supplier")
         .otherwise("No-Supplier").alias("supplier_class"))


# --------------------------------------------------------------------------
# Aggregations (SURVEY §2.4)
# --------------------------------------------------------------------------

@query(
    "q11_agg_pricing_summary",
    covers=("A1", "A2", "A7", "A10"),
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))
                    * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(l_quantity) AS avg_qty,
           CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(l_discount) AS avg_disc,
           quantile_cont(l_extendedprice, 0.5) AS median_price,
           quantile_cont(l_extendedprice, 0.95) AS p95_price,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    prepared=True,
)
def q11_agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key hash aggregate with 9 measures (TPC-H Q1 shape; the
    reference's A1/A2 groupings, create_views.py:167-170). Partial
    map-side aggregation makes the shuffle carry one row per
    (flag,status) per task. The fact scan reads the stage catalog's
    balanced lineitem relation, shared with q01
    (`sources.registry.load_tables`).

    A10: exact interpolated percentiles (median + p95) ride the same
    aggregate — `F.percentile` is Spark's exact sort-based aggregate,
    checked value-for-value against DuckDB's quantile_cont. Exactness
    costs per-group value state; the 100 TB path is
    `approx_percentile` on the identical plan shape (t-digest, bounded
    state, mergeable partials) — equivalence within its accuracy bound
    is pinned by tests/test_percentiles.py."""
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    # scale-6 charge sums stay under 2^63 far past SF100, and under
    # 2^53 per (flag,status) group through bench scale
    epc = scaled_long("l_extendedprice")
    dc = scaled_long("l_discount")
    txc = scaled_long("l_tax")
    qc = scaled_long("l_quantity")
    return (li.filter(F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg((F.sum(qc).cast("double") / 100.0).alias("sum_qty"),
                 (F.sum(epc).cast("double") / 100.0).alias("sum_base_price"),
                 (F.sum(epc * (100 - dc)).cast("double") / 10000.0)
                 .alias("sum_disc_price"),
                 (F.sum(epc * (100 - dc) * (100 + txc)).cast("double") / 1e6)
                 .alias("sum_charge"),
                 (F.sum(qc).cast("double") / 100.0
                  / F.count("l_quantity")).alias("avg_qty"),
                 (F.sum(dc).cast("double") / 100.0
                  / F.count("l_discount")).alias("avg_disc"),
                 F.percentile("l_extendedprice", F.lit(0.5))
                 .alias("median_price"),
                 F.percentile("l_extendedprice", F.lit(0.95))
                 .alias("p95_price"),
                 F.count("*").alias("count_order")))


@query(
    "q13_conditional_agg",
    covers=("A4", "F4", "X-PIVOT"),
    oracle="""
    SELECT year(o_orderdate) AS order_year,
           CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'F'
                         THEN CAST(o_totalprice AS DECIMAL(18,2)) END), 0)
                AS DOUBLE) AS finished_total,
           CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'O'
                         THEN CAST(o_totalprice AS DECIMAL(18,2)) END), 0)
                AS DOUBLE) AS open_total,
           CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'P'
                         THEN CAST(o_totalprice AS DECIMAL(18,2)) END), 0)
                AS DOUBLE) AS pending_total,
           CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_urgent
    FROM orders GROUP BY year(o_orderdate)
    """,
    prepared=True,
)
def q13_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUM(CASE WHEN ...) conditional aggregation — the
    VW_TargetVsActual measure shape (create_views.py:226-242) — run
    through the engine's PIVOT operator: `groupBy(year).pivot(status,
    [explicit values])` compiles to exactly the conditional-aggregate
    plan the oracle writes by hand (one hash aggregate, no extra
    shuffle — the explicit value list keeps the plan static, never a
    distinct-scan of the pivot column, which is the 100 TB contract).
    The non-pivoted n_urgent measure rides the same aggregate via a
    year-grain broadcast self-join. Pivot→unpivot (melt) round-trip
    is pinned by tests/test_pivot.py."""
    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    tp = dec("o_totalprice")
    pivoted = (o.groupBy(F.year("o_orderdate").alias("order_year"))
               .pivot("o_orderstatus", ["F", "O", "P"])
               .agg(F.sum(tp)))
    urgent = (o.groupBy(F.year("o_orderdate").alias("order_year"))
              .agg(F.sum(F.when(F.col("o_orderpriority") == "1-URGENT", 1)
                         .otherwise(0)).alias("n_urgent")))
    zero = F.lit(0).cast("decimal(18,2)")
    return (pivoted.join(bounded_broadcast(
                urgent, bound="per-year aggregate (years-bounded)"),
            "order_year")
            .select("order_year",
                    F.coalesce("F", zero).cast("double")
                    .alias("finished_total"),
                    F.coalesce("O", zero).cast("double").alias("open_total"),
                    F.coalesce("P", zero).cast("double")
                    .alias("pending_total"),
                    "n_urgent"))


@query(
    "q14_ratio_nullif",
    covers=("A5", "F5", "F6"),
    oracle="""
    SELECT p.p_brand AS brand,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * CAST(l.l_discount AS DECIMAL(18,2))) AS DOUBLE)
             / NULLIF(CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE), 0)
             AS discount_per_unit,
           ROUND(CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                 / NULLIF(COUNT(DISTINCT l.l_orderkey), 0), 2) AS qty_per_order
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
    prepared=True,
)
def q14_ratio_nullif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULLIF-guarded ratio-of-aggregates + ROUND (reference
    create_views.py:159-160, 343-346). Shares q01's balanced fact
    relation from the stage catalog (countDistinct expands rows into
    the partial aggregate — the map stage must not serialize on a
    single-split scan)."""
    t = load_tables(spark, sf_dir, ("lineitem", "part"))
    li, p = t["lineitem"], t["part"]
    epc = scaled_long("l_extendedprice")
    dc = scaled_long("l_discount")
    qc = scaled_long("l_quantity")
    return (li.join(bounded_broadcast(p, bound="TPC-H dim (dim-grain relation)"), li.l_partkey == p.p_partkey)
            .groupBy(p.p_brand.alias("brand"))
            .agg(safe_div(F.sum(epc * dc).cast("double") / 10000.0,
                          F.sum(qc).cast("double") / 100.0)
                 .alias("discount_per_unit"),
                 F.round(safe_div(F.sum(qc).cast("double") / 100.0,
                                  F.countDistinct("l_orderkey")), 2)
                 .alias("qty_per_order")))


@query(
    "q15_having",
    covers=("A6", "A1"),
    oracle="""
    SELECT o_custkey AS custkey, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 5
       AND SUM(CAST(o_totalprice AS DECIMAL(18,2))) > 500000
    """,
    prepared=True,
)
def q15_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ... HAVING over aggregates (create_views.py:265)."""
    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    agg = (o.groupBy(F.col("o_custkey").alias("custkey"))
           .agg(F.count("*").alias("n_orders"),
                F.sum(dec("o_totalprice")).alias("_total")))
    return (agg.filter((F.col("n_orders") >= 5) & (F.col("_total") > 500000))
            .select("custkey", "n_orders",
                    F.col("_total").cast("double").alias("total_spend")))


@query(
    "q16_reagg_over_view",
    covers=("A8", "S8"),
    oracle="""
    WITH vw_brand_year AS (
        SELECT p.p_brand AS brand, year(l.l_shipdate) AS yr,
               SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS revenue
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY p.p_brand, year(l.l_shipdate)
    )
    SELECT brand, COUNT(*) AS n_years,
           CAST(SUM(revenue) AS DOUBLE) AS total_revenue,
           CAST(MAX(revenue) AS DOUBLE) AS best_year_revenue
    FROM vw_brand_year GROUP BY brand
    """,
)
def q16_reagg_over_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-aggregation over a registered view (reference
    view_sample_views.py:234-243 aggregates VW_MultiStoreVsSingleStore).
    The view is created via the catalog (S8) and composes lazily —
    Catalyst inlines it like Snowflake view expansion."""
    t = load_tables(spark, sf_dir, ("lineitem", "part"))
    li, p = t["lineitem"], t["part"]
    # view carries the exact scale-2 integer sum; the re-agg SUM/MAX
    # over longs hits the same integers the oracle's DECIMAL does
    inner = (li.join(bounded_broadcast(p, bound="TPC-H dim (dim-grain relation)"),
                     li.l_partkey == p.p_partkey)
             .groupBy(p.p_brand.alias("brand"),
                      F.year("l_shipdate").alias("yr"))
             .agg(F.sum(scaled_long("l_extendedprice")).alias("revenue")))
    inner.createOrReplaceTempView("vw_brand_year")
    return (spark.table("vw_brand_year")
            .groupBy("brand")
            .agg(F.count("*").alias("n_years"),
                 (F.sum("revenue").cast("double") / 100.0)
                 .alias("total_revenue"),
                 (F.max("revenue").cast("double") / 100.0)
                 .alias("best_year_revenue")))


# --------------------------------------------------------------------------
# Set operations (SURVEY §2.7)
# --------------------------------------------------------------------------

@query(
    "q17_union_distinct",
    covers=("U1", "U2"),
    oracle="""
    SELECT nationkey, src_any FROM (
        SELECT DISTINCT c_nationkey AS nationkey, 'has_customers' AS src_any
        FROM customer
        UNION
        SELECT DISTINCT s_nationkey, 'has_customers' FROM supplier
        UNION
        SELECT DISTINCT n_nationkey, 'has_customers' FROM nation WHERE n_regionkey = 0
    ) u
    """,
    prepared=True,
)
def q17_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-branch UNION with DISTINCT semantics — the Dim_Location shared-
    address dedup (load_dimension_tables.py:72-115: UNION, not UNION ALL,
    deduplicates locations shared across customer/store/reseller)."""
    t = load_tables(spark, sf_dir, ("customer", "supplier", "nation"))
    b1 = t["customer"].select(F.col("c_nationkey").alias("nationkey"),
                              F.lit("has_customers").alias("src_any")).distinct()
    b2 = t["supplier"].select(F.col("s_nationkey").alias("nationkey"),
                              F.lit("has_customers").alias("src_any")).distinct()
    b3 = (t["nation"].filter(F.col("n_regionkey") == 0)
          .select(F.col("n_nationkey").alias("nationkey"),
                  F.lit("has_customers").alias("src_any")).distinct())
    return b1.union(b2).union(b3).distinct()


# --------------------------------------------------------------------------
# Sorts / limits / top-k (SURVEY §2.6)
# --------------------------------------------------------------------------

@query(
    "q18_topk_orders",
    covers=("O1", "O2", "O3", "O4", "S10"),
    oracle="""
    SELECT o.o_orderkey AS orderkey,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
               AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderkey
    ORDER BY revenue DESC, orderkey ASC
    LIMIT 20
    """,
    prepared=True,
)
def q18_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY ... LIMIT top-k (view_sample_views.py:202-209) — Spark
    plans TakeOrderedAndProject: each task keeps a 20-row heap; no global
    sort materializes. Tie-broken by orderkey for determinism.

    Also the O3/O4/S10 shapes (former q19): the ORDER BY key `revenue`
    is an alias defined in the same select (create_views.py:362,417) and
    the bounded LIMIT output is the reference's top-N preview sink
    (view_sample_data.py:36)."""
    t = load_tables(spark, sf_dir, ("lineitem", "orders"))
    li, o = t["lineitem"], t["orders"]
    # exact integer revenue sums per order
    rev = (scaled_long("l_extendedprice")
           * (100 - scaled_long("l_discount")))
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy(o.o_orderkey.alias("orderkey"))
            .agg((F.sum(rev).cast("double") / 10000.0).alias("revenue"))
            .orderBy(F.desc("revenue"), F.asc("orderkey"))
            .limit(20))


# --------------------------------------------------------------------------
# Derived measures / scalar sampler (SURVEY §2.8, §2.10)
# --------------------------------------------------------------------------

@query(
    "q20_derived_measures",
    covers=("F7", "F2", "P2"),
    oracle="""
    SELECT l.l_orderkey AS orderkey, l.l_linenumber AS linenumber,
           CAST(l.l_extendedprice / NULLIF(l.l_quantity, 0) AS DOUBLE)
               AS sale_unit_price,
           CAST(CAST(p.p_retailprice AS DECIMAL(18,2))
                * CAST(l.l_quantity AS DECIMAL(18,2)) AS DOUBLE)
               AS sale_extended_cost,
           CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
                - CAST(p.p_retailprice AS DECIMAL(18,2))
                  * CAST(l.l_quantity AS DECIMAL(18,2)) AS DOUBLE)
               AS sale_total_profit
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_orderkey % 50 = 0
    """,
    prepared=True,
)
def q20_derived_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact_SalesActual derived measures (SURVEY §2.10: SaleUnitPrice =
    amount/qty, SaleExtendedCost = cost×qty, SaleTotalProfit = amount −
    cost×qty; verified from reference log dim_etl_run:232)."""
    t = load_tables(spark, sf_dir, ("lineitem", "part"))
    li, p = t["lineitem"], t["part"]
    cost = dec(p.p_retailprice) * dec(li.l_quantity)
    return (li.join(bounded_broadcast(p, bound="TPC-H dim (dim-grain relation)"), li.l_partkey == p.p_partkey)
            .filter(li.l_orderkey % 50 == 0)
            .select(li.l_orderkey.alias("orderkey"),
                    li.l_linenumber.alias("linenumber"),
                    safe_div(li.l_extendedprice, li.l_quantity)
                    .cast("double").alias("sale_unit_price"),
                    cost.cast("double").alias("sale_extended_cost"),
                    (dec(li.l_extendedprice) - cost).cast("double")
                    .alias("sale_total_profit")))


@query(
    "q21_case_bucketing",
    covers=("F4", "F1", "F3", "F2"),
    oracle="""
    SELECT CASE WHEN c_acctbal < 0 THEN 'negative'
                WHEN c_acctbal < 5000 THEN 'low'
                WHEN c_acctbal < 9000 THEN 'mid'
                ELSE 'high' END AS balance_bucket,
           COALESCE(c_mktsegment, 'Unknown') AS segment,
           COUNT(*) AS n_customers,
           'Store ' || CAST(CAST(MIN(CAST(c_custkey AS DOUBLE)) AS BIGINT)
                            AS VARCHAR) AS sample_label
    FROM customer
    GROUP BY 1, 2
    """,
    prepared=True,
)
def q21_case_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Searched CASE bucketing + COALESCE defaulting (reference
    create_views.py:290-300; load_dimension_tables.py:78-82).

    `sample_label` is the former q25's store-name cast-artifact fix
    (SURVEY §1.4.2; log dim_etl_run:160-167): the reference's float-typed
    number concat produced "Store 5.00000"; the double→int cast before
    concat fixes it — exercised here on the group's min business key."""
    c = load_tables(spark, sf_dir, ("customer",))["customer"]
    bucket = (F.when(F.col("c_acctbal") < 0, "negative")
              .when(F.col("c_acctbal") < 5000, "low")
              .when(F.col("c_acctbal") < 9000, "mid")
              .otherwise("high"))
    return (c.groupBy(bucket.alias("balance_bucket"),
                      F.coalesce("c_mktsegment", F.lit("Unknown")).alias("segment"))
            .agg(F.count("*").alias("n_customers"),
                 store_name(F.min(F.col("c_custkey").cast("double")))
                 .alias("sample_label")))
