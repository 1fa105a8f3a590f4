"""ETL-engine workload: stage accounting, catalog introspection, the
fact build, and the end-to-end warehouse row accounting (SURVEY §2.1
S2/S3/S9, §2.10, §2.12 R3) — the engine-level features exposed as
oracle-checked queries. The write-path halves (saveAsTable
materialization, CREATE DATABASE, COPY ON_ERROR=CONTINUE) are covered
by tests/test_warehouse.py; these queries check the read/plan halves
the driver can oracle."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.registry import STAR_TABLES, load_tables, register_star_views
from ..warehouse import manifest, star_build
from ._registry import query


_DQ_ORACLE = """
    SELECT 'dq:orders:o_orderkey_not_null' AS entity,
           COUNT(*) FILTER (WHERE o_orderkey IS NULL) AS n_rows,
           CASE WHEN COUNT(*) FILTER (WHERE o_orderkey IS NULL) = 0
                THEN 'PASS' ELSE 'FAIL' END AS status
    FROM orders
    UNION ALL
    SELECT 'dq:orders:o_orderkey_unique',
           COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey),
           CASE WHEN COUNT(o_orderkey) = COUNT(DISTINCT o_orderkey)
                THEN 'PASS' ELSE 'FAIL' END
    FROM orders
    UNION ALL
    SELECT 'dq:lineitem:l_returnflag_accepted_values',
           COUNT(*) FILTER (WHERE l_returnflag IS NOT NULL
                            AND l_returnflag NOT IN ('A', 'N', 'R')),
           CASE WHEN COUNT(*) FILTER (WHERE l_returnflag IS NOT NULL
                            AND l_returnflag NOT IN ('A', 'N', 'R')) = 0
                THEN 'PASS' ELSE 'FAIL' END
    FROM lineitem
    UNION ALL
    SELECT 'dq:lineitem:l_discount_in_range',
           COUNT(*) FILTER (WHERE l_discount < 0 OR l_discount > 0.05),
           CASE WHEN COUNT(*) FILTER (WHERE l_discount < 0
                                      OR l_discount > 0.05) = 0
                THEN 'PASS' ELSE 'FAIL' END
    FROM lineitem
"""


@query(
    "q26_stage_accounting",
    covers=("S2", "S3", "R3", "A7", "S9", "F10", "X-DQ", "X-MANIFEST"),
    oracle=" UNION ALL ".join(
        f"SELECT '{t}' AS entity, (SELECT COUNT(*) FROM {t}) AS n_rows, "
        f"'Y' AS status, "
        + manifest.fingerprint_sql(t, manifest.KEY_COLUMNS[t]) + " AS fp"
        for t in STAR_TABLES)
    + " UNION ALL SELECT entity, n_rows, status, CAST(NULL AS BIGINT)"
    + " FROM (" + _DQ_ORACLE + ")",
)
def q26_stage_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity loaded-row accounting over every registered stage —
    the reference's COPY result summary (load_data.py:48-74) as one
    distributed union-of-aggregates (no driver-side per-table counts).

    Absorbs the former q27's SHOW TABLES parity (reference
    create_tables.py:76-85 existence verification): each entity is
    registered as a catalog view and listed back through the catalog
    API (`in_catalog`), after the reference's current_version()
    connection probe (F10, ddl.engine_version)."""
    from ..warehouse import ddl
    if not ddl.engine_version(spark):  # connection probe (F10) — an
        # explicit raise, not `assert` (stripped under python -O)
        raise RuntimeError("engine version probe returned empty")
    register_star_views(spark, sf_dir)
    listed = {t.name for t in spark.catalog.listTables()}
    dfs = load_tables(spark, sf_dir)
    # X-MANIFEST (r8): the content fingerprint recorded beside each
    # COPY row count — order/partitioning-invariant mod-2^60 sum of
    # portable natural-key hashes (warehouse.manifest), so the lake
    # manifest verifies loads and compactions by VALUE, and the
    # driver hash attests the fingerprint arithmetic itself. The md5
    # pass runs over the keys-only projection of the stage catalog's
    # relation (scan-balanced for the fact and corpus stages).
    # data-quality sweep (X-DQ, warehouse.quality): dbt-core-style
    # column contracts. The tight l_discount range is a deliberately
    # failing rule so the FAIL path is driver-attested, not just the
    # happy path. r9: a table's DQ rule counts are FOLDED INTO its
    # manifest aggregate — accounting + fingerprint + contracts all
    # read the table once (the orders/lineitem scans previously ran
    # twice); the entity row and the dq rows explode out of the same
    # one-row aggregate result, so nothing re-executes it.
    from ..warehouse.quality import Rule, rule_aggregates, rule_columns
    dq_specs = {
        "orders": [Rule("not_null", "o_orderkey"),
                   Rule("unique", "o_orderkey")],
        "lineitem": [Rule("accepted_values", "l_returnflag",
                          values=("A", "N", "R")),
                     Rule("in_range", "l_discount", lo=0.0, hi=0.05)],
    }
    from ..operators._cache import cached_persist
    legs = []
    for name, df in dfs.items():
        keys = manifest.KEY_COLUMNS[name]
        rules = dq_specs.get(name, [])
        rnames, raggs = rule_aggregates(rules) if rules else ([], [])
        cols = tuple(dict.fromkeys(keys + tuple(rule_columns(rules))))
        # the one-row (count, fingerprint, rule-counts) aggregate IS
        # the entity's manifest record — the artifact a lake persists
        # beside the data; memoize it per (session, sf_dir, entity) so
        # repeat invocations read the record instead of re-hashing the
        # table (r9 leg-memoization pattern; staleness contract as
        # documented in operators._cache)
        one = cached_persist(
            spark, ("q26_manifest", sf_dir, name),
            lambda df=df, cols=cols, keys=keys, raggs=raggs:
            df.select(*cols)
            .agg(F.count("*").alias("n_rows"),
                 manifest.content_fingerprint(*keys).alias("fp"),
                 *raggs))
        rows = [F.struct(
            F.lit(name).alias("entity"), F.col("n_rows"),
            F.lit("Y" if name in listed else "N").alias("status"),
            F.col("fp"))]
        rows += [F.struct(
            F.lit(f"dq:{name}:{rn}").alias("entity"),
            F.col(f"_v{i}").alias("n_rows"),
            F.when(F.col(f"_v{i}") == 0, "PASS").otherwise("FAIL")
            .alias("status"),
            F.lit(None).cast("long").alias("fp"))
            for i, rn in enumerate(rnames)]
        legs.append(one.select(F.explode(F.array(*rows)).alias("e"))
                    .select("e.entity", "e.n_rows", "e.status", "e.fp"))
    out = legs[0]
    for c in legs[1:]:
        out = out.unionByName(c)
    return out


_FACT_ORACLE = """
    WITH dim_customer AS (
        SELECT c_custkey AS custkey,
               ROW_NUMBER() OVER (ORDER BY c_custkey) + 1 AS dim_customer_id
        FROM customer),
    dim_supplier AS (
        SELECT s_suppkey AS suppkey,
               ROW_NUMBER() OVER (ORDER BY s_suppkey) + 1 AS dim_supplier_id
        FROM supplier),
    dim_part AS (
        SELECT p_partkey AS partkey,
               ROW_NUMBER() OVER (ORDER BY p_partkey) + 1 AS dim_part_id
        FROM part)
    SELECT l.l_orderkey AS orderkey, l.l_linenumber AS linenumber,
           COALESCE(c.dim_customer_id, 1) AS dim_customer_id,
           COALESCE(s.dim_supplier_id, 1) AS dim_supplier_id,
           COALESCE(p.dim_part_id, 1) AS dim_part_id,
           CAST(strftime(o.o_orderdate, '%Y%m%d') AS INT) AS dim_sale_date_id,
           CAST(l.l_quantity AS DOUBLE) AS sale_quantity,
           CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) AS DOUBLE)
               AS gross_amount,
           CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l.l_discount AS DECIMAL(18,4))) AS DOUBLE)
               AS sale_amount,
           CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l.l_discount AS DECIMAL(18,4))) AS DOUBLE)
               * CAST(l.l_tax AS DOUBLE) AS tax_amount,
           CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l.l_discount AS DECIMAL(18,4))) AS DOUBLE)
               / NULLIF(CAST(l.l_quantity AS DOUBLE), 0) AS sale_unit_price
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    LEFT JOIN dim_customer c ON o.o_custkey = c.custkey
    LEFT JOIN dim_supplier s ON l.l_suppkey = s.suppkey
    LEFT JOIN dim_part p ON l.l_partkey = p.partkey
"""


@query("q28_fact_sales_build", covers=("S7", "J3", "F1", "F2", "F7"),
       oracle=_FACT_ORACLE, prepared=True)
def q28_fact_sales_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Fact_SalesActual build (§2.10) end-to-end: salesdetail ⋈
    salesheader analog, broadcast surrogate-key resolution with
    COALESCE(key,1) unknown fallback, YYYYMMDD date keys, derived
    measures — every row of the fact checked against the oracle."""
    t = load_tables(spark, sf_dir,
                    ("region", "nation", "customer", "supplier", "part",
                     "orders", "lineitem"))
    dim_location = star_build.build_dim_location(spark, t)
    dim_customer = star_build.build_dim_customer(spark, t, dim_location)
    dim_supplier = star_build.build_dim_supplier(spark, t, dim_location)
    dim_part = star_build.build_dim_part(spark, t)
    return star_build.build_fact_sales(spark, t, dim_customer, dim_supplier,
                                       dim_part)


_SRC_TARGET_ORACLE = """
    WITH dim_supplier AS (
        SELECT s_suppkey,
               COALESCE(CAST(s_name AS VARCHAR), 'Unknown') AS supplier_name,
               'Store ' || CAST(s_suppkey AS VARCHAR) AS store_label,
               ROW_NUMBER() OVER (ORDER BY s_suppkey) + 1 AS dim_supplier_id
        FROM supplier),
    dim_channel AS (
        SELECT COALESCE(CAST(n_name AS VARCHAR), 'Unknown') AS channel_name,
               ROW_NUMBER() OVER (ORDER BY n_nationkey) + 1 AS dim_channel_id
        FROM nation),
    src AS (
        SELECT CASE WHEN s.s_suppkey % 2 = 0
                    THEN 'Store ' || CAST(s.s_suppkey AS VARCHAR)
                    ELSE s.s_name END AS target_name,
               n.n_name AS channel_name,
               year(o.o_orderdate) AS target_year,
               CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS sales_target_amount
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        GROUP BY 1, 2, 3)
    SELECT COALESCE(st.dim_supplier_id, 1) AS dim_store_id,
           COALESCE(rs.dim_supplier_id, 1) AS dim_reseller_id,
           COALESCE(ch.dim_channel_id, 1) AS dim_channel_id,
           CAST(src.target_year * 10000 + 101 AS INT) AS dim_target_date_id,
           src.sales_target_amount
    FROM src
    LEFT JOIN dim_supplier st ON src.target_name = st.store_label
    LEFT JOIN dim_supplier rs ON src.target_name = rs.supplier_name
    LEFT JOIN dim_channel ch ON src.channel_name = ch.channel_name
"""


@query("q64_fact_src_target_build", covers=("S7", "J1", "J3", "F1", "A2"),
       oracle=_SRC_TARGET_ORACLE, prepared=True)
def q64_fact_src_target_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Fact_SRCSalesTarget build (§2.10; reference columns
    create_views.py:94-96) end-to-end: targetdatachannel analog
    name-resolved through Dim_Store/Dim_Reseller/Dim_Channel ⟕ joins
    with COALESCE(key, 1) unknown fallback — every row checked against
    the oracle. Each target row matches exactly one of the store /
    reseller roles; the other side lands on unknown member 1 (the
    reference's logged behavior, dim_etl_run:262-271)."""
    t = load_tables(spark, sf_dir,
                    ("region", "nation", "customer", "supplier", "part",
                     "orders", "lineitem"))
    dim_location = star_build.build_dim_location(spark, t)
    dim_supplier = star_build.build_dim_supplier(spark, t, dim_location)
    dim_channel = star_build.build_dim_channel(spark, t)
    return star_build.build_fact_src_sales_target(spark, t, dim_supplier,
                                                  dim_channel)


_INCR_ORACLE = """
    WITH base AS (
        SELECT c_custkey,
               ROW_NUMBER() OVER (ORDER BY c_custkey) + 1 AS id
        FROM customer WHERE c_custkey % 10 != 0),
    appended AS (
        SELECT c_custkey,
               (SELECT COUNT(*) + 1 FROM customer WHERE c_custkey % 10 != 0)
                   + ROW_NUMBER() OVER (ORDER BY c_custkey) AS id
        FROM customer WHERE c_custkey % 10 = 0),
    append_leg AS (
        SELECT CAST(id AS BIGINT) AS surrogate_id, c_custkey AS business_key,
               'initial' AS phase
        FROM base
        UNION ALL
        SELECT CAST(id AS BIGINT), c_custkey, 'appended' FROM appended),
    -- SCD2 leg over supplier: v1 segment from nationkey, batch 1 moves
    -- every 7th member and introduces new business keys for every 13th
    sup AS (
        SELECT s_suppkey AS bk, CAST(s_nationkey % 5 AS VARCHAR) AS segment
        FROM supplier),
    seed AS (
        SELECT bk, segment, ROW_NUMBER() OVER (ORDER BY bk) + 1 AS k
        FROM sup),
    fresh AS (
        SELECT bk, 'moved' AS segment FROM sup WHERE bk % 7 = 0
        UNION ALL
        SELECT bk + 1000000, 'new' FROM sup WHERE bk % 13 = 0),
    keyed AS (
        SELECT bk, segment,
               (SELECT MAX(k) FROM seed) + ROW_NUMBER() OVER (ORDER BY bk)
                   AS k
        FROM fresh),
    scd2_leg AS (
        SELECT CAST(k AS BIGINT) AS surrogate_id, bk AS business_key,
               segment AS attr,
               CASE WHEN bk % 7 = 0 THEN 'closed' ELSE 'current' END AS phase,
               0 AS valid_from,
               CASE WHEN bk % 7 = 0 THEN 1 ELSE NULL END AS valid_to,
               bk % 7 != 0 AS is_current
        FROM seed
        UNION ALL
        SELECT CAST(k AS BIGINT), bk, segment, 'current', 1, NULL, TRUE
        FROM keyed),
    -- CDC leg (r9): I/U/D change feed between two supplier snapshots,
    -- mirroring warehouse.cdc.snapshot_diff's null-safe full-outer
    -- classification. Every 11th old segment is NULL (so the 77s
    -- attest NULL->value U under IS DISTINCT FROM — plain equality
    -- would silently drop them), every 9th key is deleted, every 7th
    -- surviving key updated, every 13th key re-inserted shifted.
    cdc_old AS (
        SELECT s_suppkey AS bk,
               CASE WHEN s_suppkey % 11 = 0 THEN NULL
                    ELSE CAST(s_nationkey % 5 AS VARCHAR) END AS segment
        FROM supplier),
    cdc_new AS (
        SELECT bk,
               CASE WHEN bk % 7 = 0 THEN 'moved' ELSE segment END AS segment
        FROM cdc_old WHERE bk % 9 != 0
        UNION ALL
        SELECT bk + 2000000, 'born' FROM cdc_old WHERE bk % 13 = 0),
    cdc_leg AS (
        SELECT CASE WHEN o.bk IS NULL THEN 'I'
                    WHEN n.bk IS NULL THEN 'D'
                    WHEN o.segment IS DISTINCT FROM n.segment THEN 'U'
               END AS op,
               COALESCE(n.bk, o.bk) AS business_key,
               CASE WHEN n.bk IS NULL THEN o.segment
                    ELSE n.segment END AS attr
        FROM cdc_old o FULL OUTER JOIN cdc_new n ON o.bk = n.bk)
    SELECT 'append' AS leg, surrogate_id, business_key,
           CAST(NULL AS VARCHAR) AS attr, phase,
           0 AS valid_from, CAST(NULL AS INT) AS valid_to,
           TRUE AS is_current
    FROM append_leg
    UNION ALL
    SELECT 'scd2', surrogate_id, business_key, attr, phase,
           valid_from, valid_to, is_current
    FROM scd2_leg
    UNION ALL
    SELECT 'cdc', CAST(NULL AS BIGINT), business_key, attr, op,
           0, CAST(NULL AS INT), TRUE
    FROM cdc_leg WHERE op IS NOT NULL
"""


@query("q65_incremental_append",
       covers=("X-SCD-APPEND", "X-SCD2", "X-MERGE", "X-CDC-DIFF",
               "S7", "R6"),
       oracle=_INCR_ORACLE)
def q65_incremental_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension maintenance end-to-end, both write patterns the
    reference's insert-only tooling implies but cannot run:

    **Append leg** (warehouse.incremental.append_new_members; SURVEY
    §4.3.2's append contract): seed a dim with 90% of the customers,
    present ALL customers as candidates — known business keys are
    skipped, the unseen 10% insert with surrogate keys strictly above
    the current max, in business-key order. The query rebuilds the seed
    table (CREATE OR REPLACE semantics, R6) so it is idempotent and
    every row is oracle-checked, including the exact appended keys.

    **SCD2 leg** (warehouse.scd.scd2_apply — MERGE with versioning):
    seed suppliers as version-1 rows, apply one update batch that
    changes every 7th member's tracked attribute and introduces new
    business keys for every 13th; the merged state is snapshot-written
    (the copy-on-write MERGE execution), read back, and every closed
    version, new current version, and new member row — keys, validity
    range, current flag — is oracle-checked against a DuckDB mirror of
    the same merge.

    **CDC leg** (warehouse.cdc.snapshot_diff — r9, VERDICT r8 #4):
    the I/U/D change feed between two supplier snapshots, including
    NULL tracked values on the old side so the null-safe compare is
    what's attested (a plain-equality diff silently drops NULL→value
    updates; the planted every-77th rows catch it). Deletes carry the
    last known values, inserts/updates the new — every op row checked
    against a DuckDB full-outer IS-DISTINCT-FROM mirror."""
    from ..operators._cache import concurrent_builds
    from ..plans.surrogate import with_surrogate_key
    from ..warehouse.incremental import append_new_members
    from ..warehouse import ddl, scd

    db = "wh_incr"
    ddl.create_database(spark, db)

    # The append and SCD2 legs are independent write pipelines into
    # DIFFERENT tables — each is a chain of driver-blocking actions
    # (drop, seed write, max-key probe, accounting counts, append
    # write). Run them as concurrent jobs (guide §2.6 / the q47
    # concurrent_builds pattern) so one leg's scheduling gaps backfill
    # with the other's tasks: the query's serve cost is the slower
    # leg, not the sum (r16; measured ~2.1 s sequential at sf0.1 with
    # ~0.2 s of executor work — pure action latency).
    def build_append_leg():
        c = load_tables(spark, sf_dir, ("customer",))["customer"]
        members = c.select(F.col("c_custkey").alias("custkey"))
        base = with_surrogate_key(
            members.filter(F.col("custkey") % 10 != 0),
            "dim_customer_id", order_by=["custkey"], offset=1)
        table = f"{db}.dim_customer_incr"
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        ddl.drop_orphan_location(spark, table)
        base.write.mode("overwrite").format("parquet").saveAsTable(table)
        rep = append_new_members(spark, table, members, "dim_customer_id",
                                 ["custkey"], order_by=["custkey"])
        if rep.inserted <= 0 or rep.skipped <= 0:
            raise RuntimeError(
                "incremental append attestation failed: expected both "
                f"inserted and skipped rows, got inserted={rep.inserted} "
                f"skipped={rep.skipped}")
        return spark.table(table).select(
            F.lit("append").alias("leg"),
            F.col("dim_customer_id").alias("surrogate_id"),
            F.col("custkey").alias("business_key"),
            F.lit(None).cast("string").alias("attr"),
            F.when(F.col("custkey") % 10 == 0, "appended")
            .otherwise("initial").alias("phase"),
            F.lit(0).cast("int").alias("valid_from"),
            F.lit(None).cast("int").alias("valid_to"),
            F.lit(True).alias("is_current"))

    def build_scd2_leg():
        s = load_tables(spark, sf_dir, ("supplier",))["supplier"]
        sup = s.select(F.col("s_suppkey").alias("bk"),
                       (F.col("s_nationkey") % 5).cast("string")
                       .alias("segment"))
        state = scd.scd2_seed(sup, key_col="k", business_keys=["bk"])
        batch = (sup.filter(F.col("bk") % 7 == 0)
                 .select("bk", F.lit("moved").alias("segment"))
                 .unionByName(sup.filter(F.col("bk") % 13 == 0)
                              .select((F.col("bk") + 1000000).alias("bk"),
                                      F.lit("new").alias("segment"))))
        merged = scd.scd2_apply(state, batch, key_col="k",
                                business_keys=["bk"],
                                tracked_cols=["segment"], batch_id=1)
        scd_table = f"{db}.dim_supplier_scd2"
        spark.sql(f"DROP TABLE IF EXISTS {scd_table}")
        ddl.drop_orphan_location(spark, scd_table)
        merged.write.mode("overwrite").format("parquet") \
            .saveAsTable(scd_table)
        return spark.table(scd_table).select(
            F.lit("scd2").alias("leg"),
            F.col("k").alias("surrogate_id"),
            F.col("bk").alias("business_key"),
            F.col("segment").alias("attr"),
            F.when(F.col("is_current"), "current").otherwise("closed")
            .alias("phase"),
            "valid_from", "valid_to", "is_current")

    legs = concurrent_builds({"append": build_append_leg,
                              "scd2": build_scd2_leg})
    append_leg, scd2_leg = legs["append"], legs["scd2"]
    s = load_tables(spark, sf_dir, ("supplier",))["supplier"]

    from ..warehouse import cdc
    old = s.select(
        F.col("s_suppkey").alias("bk"),
        F.when(F.col("s_suppkey") % 11 == 0, F.lit(None).cast("string"))
        .otherwise((F.col("s_nationkey") % 5).cast("string"))
        .alias("segment"))
    new = (old.filter(F.col("bk") % 9 != 0)
           .select("bk",
                   F.when(F.col("bk") % 7 == 0, F.lit("moved"))
                   .otherwise(F.col("segment")).alias("segment"))
           .unionByName(old.filter(F.col("bk") % 13 == 0)
                        .select((F.col("bk") + 2000000).alias("bk"),
                                F.lit("born").alias("segment"))))
    diff = cdc.snapshot_diff(old, new, ["bk"], ["segment"])
    cdc_leg = diff.select(
        F.lit("cdc").alias("leg"),
        F.lit(None).cast("bigint").alias("surrogate_id"),
        F.col("bk").alias("business_key"),
        F.col("segment").alias("attr"),
        F.col("op").alias("phase"),
        F.lit(0).cast("int").alias("valid_from"),
        F.lit(None).cast("int").alias("valid_to"),
        F.lit(True).alias("is_current"))
    return append_leg.unionByName(scd2_leg).unionByName(cdc_leg)


@query(
    "q29_warehouse_rowcounts",
    covers=("R1", "R3", "S4", "S5", "U1", "J1"),
    prepared=True,
    oracle="""
    SELECT 'dim_customer' AS table_name,
           (SELECT COUNT(*) + 1 FROM customer) AS n_rows
    UNION ALL SELECT 'dim_supplier', (SELECT COUNT(*) + 1 FROM supplier)
    UNION ALL SELECT 'dim_channel', (SELECT COUNT(*) + 1 FROM nation)
    UNION ALL SELECT 'dim_part', (SELECT COUNT(*) + 1 FROM part)
    UNION ALL SELECT 'dim_location',
        (SELECT COUNT(DISTINCT n_nationkey) + 1 FROM nation
         WHERE n_nationkey IN (SELECT c_nationkey FROM customer)
            OR n_nationkey IN (SELECT s_nationkey FROM supplier))
    UNION ALL SELECT 'dim_date',
        (SELECT date_diff('day',
                          make_date(CAST(year(MIN(o_orderdate)) AS INT), 1, 1),
                          make_date(CAST(year(MAX(o_orderdate)) AS INT), 12, 31))
                + 1 FROM orders)
    UNION ALL SELECT 'fact_sales', (SELECT COUNT(*) FROM lineitem)
    UNION ALL SELECT 'fact_sales_target',
        (SELECT COUNT(*) FROM (SELECT l_partkey, year(o_orderdate)
                               FROM lineitem l
                               JOIN orders o ON l.l_orderkey = o.o_orderkey
                               GROUP BY 1, 2))
    UNION ALL SELECT 'fact_src_sales_target',
        (SELECT COUNT(*) FROM (SELECT l_suppkey, year(o_orderdate)
                               FROM lineitem l
                               JOIN orders o ON l.l_orderkey = o.o_orderkey
                               GROUP BY 1, 2))
    """,
)
def q29_warehouse_rowcounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole dimensional DAG (build_star) evaluated lazily with
    per-table row accounting — the reference's end-to-end acceptance
    signal (post-load COUNT(*) after every dim/fact insert,
    load_dimension_tables.py:117-264) as one query. Counts all 6 dims
    (incl. the channel⋈channelcategory Dim_Channel, J1) and all 3 facts
    (incl. Fact_SRCSalesTarget)."""
    star = star_build.build_star(spark, sf_dir)
    counts = [df.agg(F.count("*").alias("n_rows"))
              .select(F.lit(name).alias("table_name"), "n_rows")
              for name, df in star.items()]
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    return out
