"""Warehouse-build workload: date dim generation, surrogate keys,
unknown-member fallback, cast-artifact fix (SURVEY §2.9, §1.3, §1.4)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.attest import bounded_broadcast

from ..functions.dates import oracle_date_attributes_sql
from ..plans.datedim import build_dim_date
from ..plans.surrogate import with_surrogate_key
from ..sources.registry import load_tables
from ._registry import query


@query(
    "q22_dim_date_generator",
    covers=("F8", "F9", "S6"),
    oracle=f"""
    SELECT {oracle_date_attributes_sql('d')}
    FROM (SELECT CAST(gs.generate_series AS DATE) AS d
          FROM generate_series(DATE '2013-01-01', DATE '2014-12-31',
                               INTERVAL 1 DAY) AS gs)
    """,
)
def q22_dim_date_generator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 730-day Dim_Date build (reference DIM_DATE: 2013-01-01 →
    2014-12-31, 730 rows — log dim_etl_run:58) with the full calendar +
    fiscal attribute contract, generated executor-side from sequence()."""
    return build_dim_date(spark, "2013-01-01", "2014-12-31")


@query(
    "q23_surrogate_keys",
    covers=("S6", "S7"),
    prepared=True,
    oracle="""
    SELECT CAST(1 AS BIGINT) AS dim_customer_id,
           CAST(NULL AS BIGINT) AS custkey,
           'Unknown' AS customer_name,
           'Unknown' AS segment
    UNION ALL
    SELECT ROW_NUMBER() OVER (ORDER BY c_custkey) + 1 AS dim_customer_id,
           c_custkey AS custkey, c_name AS customer_name,
           COALESCE(c_mktsegment, 'Unknown') AS segment
    FROM customer
    """,
)
def q23_surrogate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dim build with IDENTITY-style surrogate keys + hand-seeded unknown
    member (reference create_dimension_tables.py:97-101 seeds
    ('UNKNOWN',1,...); keys via row_number in business-key order —
    plans.surrogate documents the contract: unique + stable, contiguity
    not promised, key 1 reserved)."""
    c = load_tables(spark, sf_dir, ("customer",))["customer"]
    members = with_surrogate_key(
        c.select(F.col("c_custkey").alias("custkey"),
                 F.col("c_name").alias("customer_name"),
                 F.coalesce("c_mktsegment", F.lit("Unknown")).alias("segment")),
        "dim_customer_id", order_by=["custkey"], offset=1)
    unknown = spark.range(1).select(
        F.lit(None).cast("long").alias("custkey"),
        F.lit("Unknown").alias("customer_name"),
        F.lit("Unknown").alias("segment"),
        F.lit(1).cast("long").alias("dim_customer_id"))
    cols = ["dim_customer_id", "custkey", "customer_name", "segment"]
    return unknown.select(*cols).unionByName(members.select(*cols))


@query(
    "q24_unknown_member_fallback",
    covers=("S7", "F1", "J3"),
    prepared=True,
    oracle="""
    WITH dim_part AS (
        SELECT p_partkey, ROW_NUMBER() OVER (ORDER BY p_partkey) + 1 AS dim_part_id
        FROM part WHERE p_size >= 25
    )
    SELECT COALESCE(d.dim_part_id, 1) AS resolved_part_id,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
    FROM lineitem l
    LEFT JOIN dim_part d ON l.l_partkey = d.p_partkey
    GROUP BY COALESCE(d.dim_part_id, 1)
    """,
)
def q24_unknown_member_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-load surrogate-key resolution with unknown-member fallback
    COALESCE(dimkey, 1) (SURVEY §2.10; DIMENSION_README.md:39-43 — facts
    reference the unknown member instead of NULL FKs, keeping query-time
    joins inner and outer-join-free)."""
    t = load_tables(spark, sf_dir, ("lineitem", "part"))
    dim_part = with_surrogate_key(
        t["part"].filter(F.col("p_size") >= 25).select("p_partkey"),
        "dim_part_id", order_by=["p_partkey"], offset=1)
    li = t["lineitem"]
    from ..functions.scalar import dsum
    return (li.join(bounded_broadcast(dim_part, bound="TPC-H dim (dim-grain relation)"),
                    li.l_partkey == dim_part.p_partkey, "left")
            .groupBy(F.coalesce("dim_part_id", F.lit(1)).alias("resolved_part_id"))
            .agg(F.count("*").alias("n_lines"),
                 dsum("l_quantity").alias("total_qty")))
