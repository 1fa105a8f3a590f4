"""Property checks for the partition-parallel prefix sum
(plans/prefix.py) and the packing arithmetic built on it: for random
(id, weight) multiplicities, the ranged plan must equal both the
single-window plan and a pure-Python running total, under any input
partitioning and partition count."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from snowflake_azure_etl_spark.plans.prefix import (ranged_prefix_sum,
                                                    window_prefix_sum)

weights = st.lists(st.integers(min_value=0, max_value=10_000),
                   min_size=1, max_size=60)


@settings(max_examples=12, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(ws=weights, nparts=st.integers(min_value=1, max_value=9),
       shuffle_seed=st.integers(min_value=0, max_value=5))
def test_ranged_equals_window_equals_python(spark, ws, nparts,
                                            shuffle_seed):
    rows = list(enumerate(ws))
    # present the input in an arbitrary partition layout
    df = (spark.createDataFrame(rows, "id bigint, w bigint")
          .repartition(2 + shuffle_seed))
    out, total = ranged_prefix_sum(df, F.col("w"), "off", ["id"],
                                   num_partitions=nparts)
    ranged = {r["id"]: r["off"] for r in out.collect()}
    window = {r["id"]: r["off"] for r in
              window_prefix_sum(df, F.col("w"), "off", ["id"]).collect()}
    acc, py = 0, {}
    for i, w in rows:
        py[i] = acc
        acc += w
    assert ranged == py == window
    assert total == acc
