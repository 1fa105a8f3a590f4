"""The stage catalog's scan balancing (sources.registry.load_tables):
a fact/corpus stage is rebalanced ONLY when the parquet footer attests
the layout caps scan parallelism AND the input is small; proper
row-group layouts and big files keep their natural splits — the
100 TB no-op-by-construction contract. Dims are never balanced."""

from __future__ import annotations

import os
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq

from snowflake_azure_etl_spark.operators._cache import plan_key
from snowflake_azure_etl_spark.sources import registry


def _write(dirpath: str, name: str, row_group_size: int | None = None):
    tbl = pa.table({"id": list(range(10_000)),
                    "v": [float(i) for i in range(10_000)]})
    kwargs = {"row_group_size": row_group_size} if row_group_size else {}
    pq.write_table(tbl, os.path.join(dirpath, f"{name}.parquet"), **kwargs)


def _is_raw(spark, df, d: str, name: str) -> bool:
    """`df` is the plain stage read: no repartition, nothing persisted."""
    return (plan_key(df) == plan_key(spark.read.parquet(f"{d}/{name}.parquet"))
            and not df.storageLevel.useMemory)


def test_single_row_group_is_rebalanced_and_cached(spark):
    d = tempfile.mkdtemp(prefix="rebal_")
    _write(d, "lineitem")                   # one row group
    _write(d, "part")                       # a dim, also one row group
    rg, _ = registry.stage_scan_splits(d, "lineitem")
    assert rg == 1
    t = registry.load_tables(spark, d, ("lineitem", "part"))
    par = spark.sparkContext.defaultParallelism
    li = t["lineitem"]
    assert li.count() == 10_000
    assert li.rdd.getNumPartitions() == par
    assert _is_raw(spark, t["part"], d, "part")
    # a second lookup hands out the same relation (one compaction per
    # session, decided once per stage)
    again = registry.load_tables(spark, d, ("lineitem", "part"))
    assert again["lineitem"] is li
    assert again["part"] is t["part"]


def test_many_row_groups_keep_natural_splits(spark):
    d = tempfile.mkdtemp(prefix="rebal_")
    _write(d, "lineitem", row_group_size=100)  # 100 row groups >= parallelism
    rg, _ = registry.stage_scan_splits(d, "lineitem")
    assert rg >= spark.sparkContext.defaultParallelism
    li = registry.load_tables(spark, d, ("lineitem",))["lineitem"]
    assert _is_raw(spark, li, d, "lineitem")


def test_big_single_split_keeps_natural_splits(spark, monkeypatch):
    monkeypatch.setattr(registry, "REBALANCE_MAX_BYTES", 1)  # "too big"
    d = tempfile.mkdtemp(prefix="rebal_")
    _write(d, "orders")
    o = registry.load_tables(spark, d, ("orders",))["orders"]
    assert _is_raw(spark, o, d, "orders")


def test_missing_footer_is_a_noop(spark):
    """A directory-shaped stage has no single footer to attest its
    layout, so it keeps its natural splits."""
    d = tempfile.mkdtemp(prefix="rebal_")
    spark.range(100).write.parquet(f"{d}/documents.parquet")
    assert registry.stage_scan_splits(d, "documents") is None
    docs = registry.load_tables(spark, d, ("documents",))["documents"]
    assert _is_raw(spark, docs, d, "documents")


def test_rebalanced_partitions_survive_aqe(spark):
    """The explicit partition count must not be coalesced away by AQE
    (an advisory-size coalesce back to ~1 partition would undo the
    whole point): the materialized relation really has cluster-width
    partitions."""
    d = tempfile.mkdtemp(prefix="rebal_")
    _write(d, "embeddings")
    emb = registry.load_tables(spark, d, ("embeddings",))["embeddings"]
    emb.count()                             # materialize the cache
    par = spark.sparkContext.defaultParallelism
    assert emb.rdd.getNumPartitions() == par
