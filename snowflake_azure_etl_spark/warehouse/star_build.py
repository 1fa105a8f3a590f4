"""The dimensional build DAG (SURVEY §1.3, §2.10, §7 Phase B) mapped
onto the testdata star per FIXTURES.md §3.

Reference pipeline (run_dimensional_etl): 7 dims with surrogate keys +
hand-seeded unknown members, loaded in dependency order (Location first,
its referrers next — /root/reference/rahil/load_dimension_tables.py:70-264),
then 3 facts resolving dim surrogate keys with unknown-member fallback
COALESCE(key, 1) and derived measures
(/root/reference/rahil/logs/dim_etl_run_20250514_204523.log:228-271).

Role mapping (FIXTURES.md §3): customer→Dim_Customer,
supplier→Dim_Supplier (store/reseller role), part→Dim_Part (product),
nation⋈region→Dim_Location (shared, UNION-dedup'd across referrers)
and, in its channel role, →Dim_Channel (channel⋈channelcategory),
generated Dim_Date spanning o_orderdate, lineitem⋈orders→Fact_Sales
(salesdetail⋈salesheader), per-(part,year) aggregate→Fact_SalesTarget
(targetdataproduct), per-(store-or-reseller-name, channel, year)
aggregate→Fact_SRCSalesTarget (targetdatachannel).

Every builder returns a pure DataFrame (no writes) so the DAG is
lazily composable; runner.py materializes in dependency order.

Scale design:
- dims are small → every fact-side key resolution is a broadcast join
  (no fact shuffle at any scale);
- the fact build's only wide exchange is lineitem⋈orders on the order
  key — at 100 TB both sides would be bucketed on that key so the join
  is shuffle-free; locally AQE handles it;
- surrogate keys via row_number need a global sort only over dim-sized
  inputs (plans.surrogate documents the contract + the big-dim escape
  hatch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.attest import KEY_ONLY_MAX_ROWS, bounded_broadcast

from ..functions.scalar import (coalesce_unknown, date_key, dec, safe_div,
                                scaled_long)
from ..plans.datedim import build_dim_date
from ..plans.surrogate import with_surrogate_key
from ..sources.registry import load_tables, stage_row_count

UNKNOWN_KEY = 1  # reference seeds the unknown member at surrogate key 1


def _keyed_dim(attrs: DataFrame, name: str, order_by: list[str],
               n_rows: int | None, unknown_row: dict) -> DataFrame:
    """The shared tail of every dim build: surrogate keys `{name}_id`
    in business-key order, the key first and then `attrs`' columns,
    the hand-seeded unknown member prepended, then session persist.

    The unknown member (key 1 — reference
    create_dimension_tables.py:91-130) is a JVM-side one-row plan
    (range+lit), not createDataFrame: shipping a Python row spins up a
    Python worker for the scan — measurable fixed cost on an otherwise
    all-JVM plan.

    The result is session-persisted (operators._cache, r7): the
    warehouse PERSISTS dimensions — runner._materialize writes them as
    tables — so workload queries modeling the post-build warehouse
    re-read the same small relation instead of re-running the dim build
    (window keying + unknown-member union) once per query. Keyed by the
    defining logical plan: a different source or span builds its own
    entry; same plan → same persisted dim, exactly like reading the
    written table. Dims are dimension-sized — the bounded artifact
    class the cache documents — and facts are deliberately NOT cached
    (corpus-sized)."""
    from ..operators._cache import cached_relation
    key_col = f"{name}_id"
    members = with_surrogate_key(attrs, key_col, order_by=order_by,
                                 offset=UNKNOWN_KEY, n_rows=n_rows) \
        .select(key_col, *attrs.columns)
    row = {**unknown_row, key_col: UNKNOWN_KEY}
    unknown = attrs.sparkSession.range(1).select(*[
        F.lit(row.get(f.name)).cast(f.dataType).alias(f.name)
        for f in members.schema.fields])
    return cached_relation(unknown.unionByName(members),
                           f"warehouse:{name}")


def _key_map(keys: DataFrame) -> DataFrame:
    """A dim's (business key, surrogate key) map, broadcast under the
    key-only attestation — every fact-side key resolution's build
    side."""
    return bounded_broadcast(keys, bound="dim surrogate-key map (key-only)",
                             key_only=True, max_rows=KEY_ONLY_MAX_ROWS)


def build_dim_location(spark: SparkSession, t: dict[str, DataFrame],
                       n_rows: int | None = None) -> DataFrame:
    """Shared location dim: UNION (distinct!) of customer- and
    supplier-referenced (nation, region) addresses + unknown member —
    the reference's Dim_Location pattern (load_dimension_tables.py:72-115:
    3-branch UNION dedups addresses shared across customer/store/reseller)."""
    geo = (t["nation"]
           .join(t["region"], t["nation"].n_regionkey == t["region"].r_regionkey)
           .select(F.col("n_nationkey").alias("nationkey"),
                   coalesce_unknown("n_name").alias("nation_name"),
                   coalesce_unknown("r_name").alias("region_name")))
    cust_locs = (t["customer"].select(F.col("c_nationkey").alias("nationkey"))
                 .join(geo, "nationkey").select("nationkey", "nation_name",
                                                "region_name").distinct())
    supp_locs = (t["supplier"].select(F.col("s_nationkey").alias("nationkey"))
                 .join(geo, "nationkey").select("nationkey", "nation_name",
                                                "region_name").distinct())
    # UNION distinct semantics (U1) — shared locations collapse
    locs = cust_locs.union(supp_locs).distinct()
    return _keyed_dim(locs, "dim_location", ["nation_name", "nationkey"],
                      n_rows, {"nationkey": -1, "nation_name": "Unknown",
                               "region_name": "Unknown"})


def build_dim_customer(spark: SparkSession, t: dict[str, DataFrame],
                       dim_location: DataFrame,
                       n_rows: int | None = None) -> DataFrame:
    """Customer dim: staging ⟕ Dim_Location on the COALESCE-normalized
    location key (J3 pattern — load_dimension_tables.py:158-163), unknown
    fallback, surrogate keys in business-key order."""
    c = t["customer"]
    joined = (c.join(bounded_broadcast(
                  dim_location.filter(
                      F.col("dim_location_id") != UNKNOWN_KEY),
                  bound="warehouse dim (dim-grain relation)"),
                  c.c_nationkey == F.col("nationkey"), "left")
              .select(F.col("c_custkey").alias("custkey"),
                      coalesce_unknown("c_name").alias("customer_name"),
                      coalesce_unknown("c_mktsegment").alias("segment"),
                      F.coalesce("dim_location_id",
                                 F.lit(UNKNOWN_KEY)).alias("dim_location_id"),
                      dec("c_acctbal").cast("double").alias("acct_balance")))
    return _keyed_dim(joined, "dim_customer", ["custkey"], n_rows,
                      {"custkey": -1, "customer_name": "Unknown",
                       "segment": "Unknown", "dim_location_id": UNKNOWN_KEY,
                       "acct_balance": 0.0})


def build_dim_supplier(spark: SparkSession, t: dict[str, DataFrame],
                       dim_location: DataFrame,
                       n_rows: int | None = None) -> DataFrame:
    """Supplier dim (store/reseller role): same J3 location resolution +
    the store-name concat with the float artifact *fixed* (SURVEY §1.4.2)."""
    s = t["supplier"]
    joined = (s.join(bounded_broadcast(
                  dim_location.filter(
                      F.col("dim_location_id") != UNKNOWN_KEY),
                  bound="warehouse dim (dim-grain relation)"),
                  s.s_nationkey == F.col("nationkey"), "left")
              .select(F.col("s_suppkey").alias("suppkey"),
                      coalesce_unknown("s_name").alias("supplier_name"),
                      F.concat(F.lit("Store "),
                               F.col("s_suppkey").cast("long").cast("string")
                               ).alias("store_label"),
                      F.coalesce("dim_location_id",
                                 F.lit(UNKNOWN_KEY)).alias("dim_location_id")))
    return _keyed_dim(joined, "dim_supplier", ["suppkey"], n_rows,
                      {"suppkey": -1, "supplier_name": "Unknown",
                       "store_label": "Unknown",
                       "dim_location_id": UNKNOWN_KEY})


def build_dim_channel(spark: SparkSession, t: dict[str, DataFrame],
                      n_rows: int | None = None) -> DataFrame:
    """Channel-role dim: the reference's Dim_Channel = channel ⋈
    channelcategory on the category id with COALESCE'd names + unknown
    member (load_dimension_tables.py:126-142; the J1 single-key inner
    equi-join). Role mapping (FIXTURES.md §3): nation≈channel,
    region≈channelcategory."""
    n, r = t["nation"], t["region"]
    joined = (n.join(bounded_broadcast(r, bound="warehouse dim (dim-grain relation)"),
               n.n_regionkey == r.r_regionkey)
              .select(F.col("n_nationkey").alias("channelkey"),
                      F.col("n_regionkey").alias("categorykey"),
                      coalesce_unknown("n_name").alias("channel_name"),
                      coalesce_unknown("r_name").alias("channel_category")))
    return _keyed_dim(joined, "dim_channel", ["channelkey"], n_rows,
                      {"channelkey": -1, "categorykey": -1,
                       "channel_name": "Unknown",
                       "channel_category": "Unknown"})


def build_dim_part(spark: SparkSession, t: dict[str, DataFrame],
                   n_rows: int | None = None) -> DataFrame:
    """Product dim: brand/type hierarchy attributes + COALESCE defaults
    (Dim_Product ← product⋈producttype⋈productcategory —
    load_dimension_tables.py:253-257; hierarchy is in-row for part)."""
    p = t["part"]
    attrs = p.select(F.col("p_partkey").alias("partkey"),
                     coalesce_unknown("p_name").alias("part_name"),
                     coalesce_unknown("p_brand").alias("brand"),
                     coalesce_unknown("p_type").alias("part_type"),
                     F.coalesce("p_size", F.lit(0)).alias("size"),
                     dec("p_retailprice").cast("double").alias("retail_price"))
    return _keyed_dim(attrs, "dim_part", ["partkey"], n_rows,
                      {"partkey": -1, "part_name": "Unknown",
                       "brand": "Unknown", "part_type": "Unknown",
                       "size": 0, "retail_price": 0.0})


def orderdate_span(t: dict[str, DataFrame]) -> tuple[str, str]:
    """Dim_Date coverage = the orders date span, whole years (the
    reference covers its sales span 2013-2014 with 730 generated days).
    The one-row span probe is memoized per (session, orders plan) —
    every build_star caller needs the same two literals."""
    from ..operators._cache import cached_build, plan_key
    orders = t["orders"]

    def compute() -> tuple[str, str]:
        row = orders.agg(F.min("o_orderdate").alias("lo"),
                         F.max("o_orderdate").alias("hi")).collect()[0]
        return f"{row['lo'].year}-01-01", f"{row['hi'].year}-12-31"

    return cached_build(orders.sparkSession,
                        ("orderdate_span", plan_key(orders)), compute)


def build_fact_sales(spark: SparkSession, t: dict[str, DataFrame],
                     dim_customer: DataFrame, dim_supplier: DataFrame,
                     dim_part: DataFrame) -> DataFrame:
    """Fact_SalesActual analog (§2.10): lineitem ⋈ orders
    (salesdetail ⋈ salesheader on the header id), broadcast surrogate-key
    resolution with COALESCE(key, 1) unknown fallback, YYYYMMDD date key
    (SURVEY §1.4.1 standardization), derived measures with div-guards:
    net = extended×(1-disc), tax = net×tax_rate,
    unit_price = net/qty (reference: SaleUnitPrice = Amount/Quantity)."""
    li, orders = t["lineitem"], t["orders"]
    cust_keys = dim_customer.select("custkey", "dim_customer_id")
    supp_keys = dim_supplier.select("suppkey", "dim_supplier_id")
    part_keys = dim_part.select("partkey", "dim_part_id")
    # net on scaled longs (cents × basis-points → exact scale-6 integer):
    # per-row long codegen instead of BigDecimal; the /1e6 double convert
    # is correctly rounded, bit-identical to the decimal→double cast
    epc = scaled_long("l_extendedprice")
    dbp = scaled_long("l_discount", 4)
    net = (epc * (10000 - dbp)).cast("double") / F.lit(1000000.0)
    return (li.join(orders, li.l_orderkey == orders.o_orderkey, "inner")
            .join(_key_map(cust_keys),
                  orders.o_custkey == cust_keys.custkey, "left")
            .join(_key_map(supp_keys),
                  li.l_suppkey == supp_keys.suppkey, "left")
            .join(_key_map(part_keys),
                  li.l_partkey == part_keys.partkey, "left")
            .select(
                F.col("l_orderkey").alias("orderkey"),
                F.col("l_linenumber").alias("linenumber"),
                F.coalesce("dim_customer_id",
                           F.lit(UNKNOWN_KEY)).alias("dim_customer_id"),
                F.coalesce("dim_supplier_id",
                           F.lit(UNKNOWN_KEY)).alias("dim_supplier_id"),
                F.coalesce("dim_part_id",
                           F.lit(UNKNOWN_KEY)).alias("dim_part_id"),
                date_key("o_orderdate").alias("dim_sale_date_id"),
                F.col("l_quantity").cast("double").alias("sale_quantity"),
                (epc.cast("double") / 100.0).alias("gross_amount"),
                net.alias("sale_amount"),
                (net * F.col("l_tax").cast("double")).alias("tax_amount"),
                safe_div(net, F.col("l_quantity").cast("double"))
                    .alias("sale_unit_price")))


def build_fact_sales_target(spark: SparkSession, t: dict[str, DataFrame],
                            dim_part: DataFrame) -> DataFrame:
    """Fact_ProductSalesTarget analog: per-(part, year) quantity targets
    synthesized from actuals (FIXTURES.md §3), target date key =
    YEAR×10000+0101 exactly as the reference logs (SURVEY §2.10:
    DimTargetDateID 20130101/20140101)."""
    li, orders = t["lineitem"], t["orders"]
    part_keys = dim_part.select("partkey", "dim_part_id")
    per_year = (li.join(orders, li.l_orderkey == orders.o_orderkey)
                .groupBy(F.col("l_partkey").alias("partkey"),
                         F.year("o_orderdate").alias("target_year"))
                .agg(F.sum(dec("l_quantity")).cast("double")
                     .alias("target_quantity")))
    return (per_year.join(_key_map(part_keys), "partkey", "left")
            .select(F.coalesce("dim_part_id",
                               F.lit(UNKNOWN_KEY)).alias("dim_part_id"),
                    (F.col("target_year") * 10000 + F.lit(101))
                    .cast("int").alias("dim_target_date_id"),
                    "target_quantity"))


def build_fact_src_sales_target(spark: SparkSession, t: dict[str, DataFrame],
                                dim_supplier: DataFrame,
                                dim_channel: DataFrame) -> DataFrame:
    """Fact_SRCSalesTarget analog (SURVEY §2.10; columns from
    rahil/create_views.py:94-96 — DimStoreID, DimResellerID,
    DimChannelID, DimTargetDateID, SalesTargetAmount).

    Reference semantics: targetdatachannel rows carry a TargetName that
    is EITHER a store name or a reseller name; the load name-resolves it
    through Dim_Store AND Dim_Reseller with ⟕ joins, the non-matching
    role falling back to unknown member 1 (log dim_etl_run:262-271 shows
    store/reseller = 1 on the unmatched side). Here the target source is
    synthesized from actuals per (target_name, channel, year) with a
    deterministic store/reseller name split (even/odd suppkey), then
    resolved the same way: ⟕ dim_supplier.store_label (store role),
    ⟕ dim_supplier.supplier_name (reseller role), ⟕ dim_channel on the
    channel name — every row resolves exactly one of store/reseller.
    Target date key = YEAR×10000+0101 as the reference logs (§2.10).

    Scale: the only wide exchange is lineitem⋈orders (bucketable); the
    supplier/nation attach and all three name resolutions are broadcast
    dim joins, and the group-by is pre-reduced map-side."""
    li, orders, sup, nat = t["lineitem"], t["orders"], t["supplier"], t["nation"]
    target_name = (F.when(F.col("s_suppkey") % 2 == 0,
                          F.concat(F.lit("Store "),
                                   F.col("s_suppkey").cast("long")
                                   .cast("string")))
                   .otherwise(F.col("s_name")))
    src = (li.join(orders, li.l_orderkey == orders.o_orderkey)
           .join(bounded_broadcast(sup, bound="warehouse dim (dim-grain relation)"),
                 li.l_suppkey == sup.s_suppkey)
           .join(bounded_broadcast(nat, bound="warehouse dim (dim-grain relation)"),
                 sup.s_nationkey == nat.n_nationkey)
           .groupBy(target_name.alias("target_name"),
                    F.col("n_name").alias("channel_name"),
                    F.year("o_orderdate").alias("target_year"))
           .agg(F.sum(dec("l_extendedprice")).cast("double")
                .alias("sales_target_amount")))
    store_keys = dim_supplier.select(
        F.col("store_label").alias("_store_name"),
        F.col("dim_supplier_id").alias("_store_id"))
    reseller_keys = dim_supplier.select(
        F.col("supplier_name").alias("_reseller_name"),
        F.col("dim_supplier_id").alias("_reseller_id"))
    channel_keys = dim_channel.filter(F.col("dim_channel_id") != UNKNOWN_KEY) \
        .select(F.col("channel_name").alias("_channel_name"),
                F.col("dim_channel_id").alias("_channel_id"))
    return (src
            .join(_key_map(store_keys),
                  src.target_name == F.col("_store_name"), "left")
            .join(_key_map(reseller_keys),
                  src.target_name == F.col("_reseller_name"), "left")
            .join(bounded_broadcast(channel_keys, bound="warehouse dim (dim-grain relation)"),
                  src.channel_name == F.col("_channel_name"), "left")
            .select(F.coalesce("_store_id",
                               F.lit(UNKNOWN_KEY)).alias("dim_store_id"),
                    F.coalesce("_reseller_id",
                               F.lit(UNKNOWN_KEY)).alias("dim_reseller_id"),
                    F.coalesce("_channel_id",
                               F.lit(UNKNOWN_KEY)).alias("dim_channel_id"),
                    (F.col("target_year") * 10000 + F.lit(101))
                    .cast("int").alias("dim_target_date_id"),
                    "sales_target_amount"))


def build_star(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """The full dimensional DAG as lazy DataFrames, memoized per
    (session, sf_dir): constructing the 9-table DAG costs ~0.8 s of
    pure driver work (analyzed-plan keying for the dim cache, footer
    row-count attestations) with zero jobs run — r9 measurement — and
    the result is a dict of immutable lazy relations, so repeat
    callers (q29 per bench sweep, the runner) reuse it. Facts stay
    lazy and uncached (corpus-sized; only their DEFINITIONS are
    shared)."""
    from ..operators._cache import cached_build
    return cached_build(spark, ("build_star", sf_dir),
                        lambda: _build_star(spark, sf_dir))


def _build_star(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """The full dimensional DAG as lazy DataFrames, in dependency order
    (Location first — its referrers join to it, same as the reference).
    The two fact sources (lineitem⋈orders feeds all three facts) arrive
    scan-balanced from the stage catalog (`sources.registry.load_tables`)."""
    t = load_tables(spark, sf_dir,
                    ("region", "nation", "customer", "supplier", "part",
                     "orders", "lineitem"))
    # upper-bound row attestations from parquet footers (what a catalog
    # provides for free): each dim is bounded by its staging source, so
    # a big source flips its build to the partition-parallel keying path
    # (plans.surrogate) with identical keys
    n = {tbl: stage_row_count(sf_dir, tbl)
         for tbl in ("nation", "customer", "supplier", "part")}
    dim_location = build_dim_location(spark, t, n_rows=n["nation"])
    dim_customer = build_dim_customer(spark, t, dim_location,
                                      n_rows=n["customer"])
    dim_supplier = build_dim_supplier(spark, t, dim_location,
                                      n_rows=n["supplier"])
    dim_channel = build_dim_channel(spark, t, n_rows=n["nation"])
    dim_part = build_dim_part(spark, t, n_rows=n["part"])
    start, end = orderdate_span(t)
    dim_date = build_dim_date(spark, start, end)
    fact_sales = build_fact_sales(spark, t, dim_customer, dim_supplier,
                                  dim_part)
    fact_target = build_fact_sales_target(spark, t, dim_part)
    fact_src_target = build_fact_src_sales_target(spark, t, dim_supplier,
                                                  dim_channel)
    return {
        "dim_location": dim_location,
        "dim_customer": dim_customer,
        "dim_supplier": dim_supplier,
        "dim_channel": dim_channel,
        "dim_part": dim_part,
        "dim_date": dim_date,
        "fact_sales": fact_sales,
        "fact_sales_target": fact_target,
        "fact_src_sales_target": fact_src_target,
    }
