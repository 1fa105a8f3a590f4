"""Incremental exact dedup (operators.dedup.incremental_exact):
set semantics vs Python, idempotent re-application with a grown
index, and the bucketed-index plan (index never reshuffles)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from snowflake_azure_etl_spark.operators import dedup
from snowflake_azure_etl_spark.plans import layout

CORPUS = [(1, "alpha"), (2, "beta"), (3, "alpha")]
BATCH = [(10, "beta"),        # seen in corpus -> dropped
         (11, "gamma"),       # fresh
         (12, "gamma"),       # intra-batch dup -> keeper 11 only
         (13, "delta")]       # fresh


def _seen(spark):
    corpus = spark.createDataFrame(CORPUS, "doc_id bigint, text string")
    return (dedup.exact_dedup_groups(corpus, "doc_id", "text")
            .select("content_hash"))


def test_incremental_semantics(spark):
    batch = spark.createDataFrame(BATCH, "doc_id bigint, text string")
    fresh = dedup.incremental_exact(batch, _seen(spark)).collect()
    assert {r["doc_id"] for r in fresh} == {11, 13}
    assert all(len(r["content_hash"]) == 32 for r in fresh)


def test_reapply_with_grown_index_is_empty(spark):
    batch = spark.createDataFrame(BATCH, "doc_id bigint, text string")
    seen = _seen(spark)
    fresh = dedup.incremental_exact(batch, seen)
    grown = seen.unionByName(fresh.select("content_hash"))
    again = dedup.incremental_exact(batch, grown)
    assert again.count() == 0


def test_bucketed_index_never_reshuffles(spark):
    """With the index landed bucketed on content_hash, the anti-join
    plan must contain no Exchange on the index side — only the batch
    exchanges into the index's bucketing."""
    corpus = spark.createDataFrame(
        [(i, f"text {i % 40}") for i in range(200)],
        "doc_id bigint, text string")
    idx = (dedup.exact_dedup_groups(corpus, "doc_id", "text")
           .select("content_hash"))
    from snowflake_azure_etl_spark.warehouse import ddl
    ddl.drop_table(spark, "dedup_hash_index")
    # bucket count must equal the join's partition count for the
    # one-sided co-location to hold (same layout contract as
    # land_bucketed's two-sided case — a mismatch reshuffles the index)
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    layout.land_bucketed(idx, "dedup_hash_index", "content_hash",
                         n_shuffle)

    batch = spark.createDataFrame(
        [(1000, "text 1"), (1001, "brand new")],
        "doc_id bigint, text string")
    with_conf = spark.conf
    old = with_conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_abs = with_conf.get(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")
    with_conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # one-sided bucketed joins: the auto heuristic may drop bucketed
    # scanning when bucket count < shuffle partitions; pin it on, the
    # same lever a production job uses for a bucketed index
    with_conf.set(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try:
        fresh = dedup.incremental_exact(
            batch, spark.table("dedup_hash_index"))
        plan = fresh._jdf.queryExecution().executedPlan().toString()
        assert plan.count("FileScan") == 1       # the index scan
        assert "SortMergeJoin" in plan           # the anti join
        assert "Bucketed: true" in plan          # bucketed read honored
        # exactly ONE exchange in the whole plan: the small batch
        # shuffling into the index's bucketing (the window and the
        # join reuse the same content_hash partitioning). The
        # corpus-sized index side contributes zero exchanges.
        lines = plan.splitlines()
        ex_lines = [i for i, l in enumerate(lines) if "Exchange" in l]
        assert len(ex_lines) == 1, "\n".join(lines[i] for i in ex_lines)
        scan_i = next(i for i, l in enumerate(lines) if "FileScan" in l)
        # and that one exchange sits above the in-memory batch scan,
        # never directly above the bucketed file scan
        assert "Scan ExistingRDD" in "\n".join(
            lines[ex_lines[0]:])
        assert "Exchange" not in lines[scan_i - 1] + lines[scan_i - 2]
        assert {r["doc_id"] for r in fresh.collect()} == {1001}
    finally:
        with_conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        with_conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled",
            old_abs)
