"""Window-function workload (SURVEY §2.5 W1-W4 + top-k-per-group).

All reference windows are unbounded-partition analytic windows computed
AFTER a GROUP BY (create_views.py:334-346, 384-391, 475-492) — the
canonical Spark pattern groupBy().agg() then .withColumn(over(w)).

Determinism: aggregates stay DECIMAL through the window stage (exact in
any evaluation order), ranks use total orderings with unique tiebreaks,
and doubles only appear in the final projection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.attest import bounded_broadcast

from ..functions.scalar import dec, scaled_long
from ..sources.registry import load_tables
from ._registry import query


def _brand_year_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # `_rev` is an exact integer at scale 4 (1e4 units/dollar), `_qty`
    # at scale 2 (functions.scalar.scaled_long). Consumers divide once
    # per output value.
    t = load_tables(spark, sf_dir, ("lineitem", "part"))
    li, p = t["lineitem"], t["part"]
    epc = scaled_long("l_extendedprice")
    dc = scaled_long("l_discount")
    qc = scaled_long("l_quantity")
    return (li.join(bounded_broadcast(p, bound="TPC-H dim (dim-grain relation)"), li.l_partkey == p.p_partkey)
            .groupBy(F.year("l_shipdate").alias("yr"),
                     p.p_brand.alias("brand"))
            .agg(F.sum(epc * (100 - dc)).alias("_rev"),
                 F.sum(qc).alias("_qty")))


_BRAND_YEAR_CTE = """
    brand_year AS (
        SELECT year(l.l_shipdate) AS yr, p.p_brand AS brand,
               SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS _rev,
               SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS _qty
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY year(l.l_shipdate), p.p_brand
    )
"""


@query(
    "q30_window_rank_over_agg",
    covers=("W1", "W2", "W3", "A1"),
    oracle=f"""
    WITH {_BRAND_YEAR_CTE}
    SELECT yr, brand, CAST(_rev AS DOUBLE) AS revenue,
           CAST(RANK() OVER (PARTITION BY yr ORDER BY _rev DESC, brand) AS INT)
               AS sales_rank,
           CAST(SUM(_rev) OVER (PARTITION BY yr) AS DOUBLE) AS year_revenue,
           CAST(_rev AS DOUBLE) * 100
               / NULLIF(CAST(SUM(_rev) OVER (PARTITION BY yr) AS DOUBLE), 0)
               AS pct_of_year,
           CAST(_qty AS DOUBLE) AS total_qty,
           CAST(SUM(_qty) OVER (PARTITION BY yr) AS DOUBLE)
               / COUNT(*) OVER (PARTITION BY yr) AS avg_brand_qty,
           CASE WHEN _qty > SUM(_qty) OVER (PARTITION BY yr)
                           / COUNT(*) OVER (PARTITION BY yr)
                THEN 'Above Average' ELSE 'Below Average' END AS vs_avg
    FROM brand_year
    """,
    prepared=True)
def q30_window_rank_over_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANK() OVER (PARTITION BY ... ORDER BY SUM(x) DESC) — ranking over
    an aggregate (reference create_views.py:334-335, 391) — PLUS the
    former q31's share-of-total SUM(SUM(x)) OVER (create_views.py:
    338-346) and the former q32's AVG(SUM(x)) OVER
    compare-to-partition-average (create_views.py:387-388): all three
    reference analytic shapes over ONE brand-year aggregate. Both
    window specs share the yr partition key, so Catalyst plans one
    exchange + one sort feeding both window stages. Window sums stay
    exact scaled-long; AVG is decomposed as window SUM / window COUNT
    so both engines agree bit-for-bit."""
    base = _brand_year_revenue(spark, sf_dir)
    wr = Window.partitionBy("yr").orderBy(F.desc("_rev"), F.asc("brand"))
    w = Window.partitionBy("yr")
    revd = F.col("_rev").cast("double") / 1e4
    totd = F.sum("_rev").over(w).cast("double") / 1e4
    qtyd = F.col("_qty").cast("double") / 100.0
    avg_qty = (F.sum("_qty").over(w).cast("double") / 100.0
               / F.count("*").over(w))
    return base.select(
        "yr", "brand", revd.alias("revenue"),
        F.rank().over(wr).alias("sales_rank"),
        totd.alias("year_revenue"),
        (revd * 100 / F.when(totd != 0, totd)).alias("pct_of_year"),
        qtyd.alias("total_qty"),
        avg_qty.alias("avg_brand_qty"),
        F.when(qtyd > avg_qty, "Above Average")
         .otherwise("Below Average").alias("vs_avg"))


@query(
    "q33_window_conditional_avg",
    covers=("W4", "A4"),
    oracle="""
    WITH seg_year AS (
        SELECT year(o.o_orderdate) AS yr, c.c_mktsegment AS segment,
               SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS _rev
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY year(o.o_orderdate), c.c_mktsegment
    )
    SELECT yr, segment, CAST(_rev AS DOUBLE) AS segment_revenue,
           CAST(SUM(CASE WHEN segment = 'BUILDING' THEN _rev END)
                    OVER (PARTITION BY yr) AS DOUBLE)
               AS building_revenue_in_year,
           CAST(_rev AS DOUBLE)
               / NULLIF(CAST(SUM(CASE WHEN segment = 'BUILDING' THEN _rev END)
                                 OVER (PARTITION BY yr) AS DOUBLE), 0)
               AS ratio_vs_building
    FROM seg_year
    """,
    prepared=True)
def q33_window_conditional_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregate inside a window partitioned by year —
    cross-group comparison (reference create_views.py:475-492 compares
    each group to a CASE-selected cohort within the year partition)."""
    t = load_tables(spark, sf_dir, ("orders", "customer"))
    o, c = t["orders"], t["customer"]
    base = (o.join(bounded_broadcast(c, bound="TPC-H dim (dim-grain relation)"), o.o_custkey == c.c_custkey)
            .groupBy(F.year("o_orderdate").alias("yr"),
                     c.c_mktsegment.alias("segment"))
            .agg(F.sum(dec("o_totalprice")).alias("_rev")))
    w = Window.partitionBy("yr")
    bldg = F.sum(F.when(F.col("segment") == "BUILDING", F.col("_rev"))).over(w)
    return base.select(
        "yr", "segment", F.col("_rev").cast("double").alias("segment_revenue"),
        bldg.cast("double").alias("building_revenue_in_year"),
        (F.col("_rev").cast("double")
         / F.when(bldg.cast("double") != 0, bldg.cast("double")))
        .alias("ratio_vs_building"))


@query(
    "q34_topk_per_group",
    covers=("W1", "O2"),
    oracle="""
    WITH ranked AS (
        SELECT c_mktsegment AS segment, c_custkey AS custkey, c_acctbal,
               ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                  ORDER BY c_acctbal DESC, c_custkey) AS rn
        FROM customer
    )
    SELECT segment, custkey, c_acctbal AS acctbal, CAST(rn AS INT) AS rn
    FROM ranked WHERE rn <= 3
    """,
    prepared=True)
def q34_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K per group via row_number — the scale-safe top-k idiom (heap
    per partition, no global sort); tie-broken by key for determinism."""
    c = load_tables(spark, sf_dir, ("customer",))["customer"]
    w = (Window.partitionBy("c_mktsegment")
         .orderBy(F.desc("c_acctbal"), F.asc("c_custkey")))
    return (c.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .select(F.col("c_mktsegment").alias("segment"),
                    F.col("c_custkey").alias("custkey"),
                    F.col("c_acctbal").alias("acctbal"),
                    F.col("rn").cast("int").alias("rn")))
