"""Ordered numbering over a global ordering: the engine's one
partition-parallel pinned pass.

The reference numbers rows with Snowflake IDENTITY(1,1) (SURVEY §1.3,
§4.3.2); the engine rebuilds every ordered numbering — surrogate keys
(`plans.surrogate`), the vocabulary rank (`operators.text`), packing
token offsets (`operators.packing`) and the tercile cumulative count
(`operators.lm`) — as an exclusive prefix sum in `order_by` order.
Dense keys are its weight-1 case.

Two physical plans, chosen by each caller from ONE constant
(`WINDOW_MAX_ROWS`) against its attested row count:

- **window** (small inputs): one global window — a single-partition
  sort, the right plan when the whole relation fits one task;
- **ranged** (`_pinned_offsets`, all JVM-side):
  1. range-repartition on the order key — disjoint ordered ranges;
  2. pin membership (`_pid` = spark_partition_id) and persist through
     the session cache, so the two passes below see the same
     partitioning;
  3. per-partition weight totals (numPartitions rows) collected to the
     driver and turned into a `_pid -> cumulative-offset` map literal —
     bounded by cluster parallelism, never by data;
  4. a per-partition window + the partition's offset.

Global order = range order + in-partition order, so for a unique
`order_by` the ranged result equals the global window's —
`SUM(w) OVER (ORDER BY … ROWS BETWEEN UNBOUNDED PRECEDING AND
1 PRECEDING)` for the prefix sum, `ROW_NUMBER() OVER (ORDER BY …)`
for the keys — with the sort fully parallel, regardless of where the
sampled range boundaries fall.

Partition drift between the size pass and the numbering pass
(impossible while the pinned relation stays persisted) FAILS LOUDLY
via raise_error instead of emitting NULL offsets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: Above this attested row count ordered numbering takes the ranged
#: plan. ~5M rows is the practical edge of a sane single-task sort.
WINDOW_MAX_ROWS = 5_000_000


def _pinned_offsets(df: DataFrame, weight: Column,
                    order_by: list[str | Column],
                    num_partitions: int | None
                    ) -> tuple[DataFrame, Column | None, int]:
    """The shared pass (steps 1-3 of the module docstring): returns
    the pinned relation (`df` + `_w` + `_pid`), the drift-guarded
    `_pid -> offset` expression (None for empty input) and the grand
    total of `weight`.

    The pinned relation is registered in the SESSION cache (keyed by
    its logical plan) so (a) repeat builds of the same numbering reuse
    one persisted relation instead of stacking a new entry per call,
    and (b) `clear_cache` owns the release — the relation must STAY
    persisted while its result is live, because the drift guard's
    correctness depends on it."""
    from ..operators._cache import cached_relation
    spark = df.sparkSession
    nparts = num_partitions or spark.sparkContext.defaultParallelism
    pinned = cached_relation(
        df.repartitionByRange(nparts, *order_by)
        .withColumn("_w", weight.cast("long"))
        .withColumn("_pid", F.spark_partition_id()),
        "ranged_prefix_pinned")
    sums = pinned.groupBy("_pid").agg(F.sum("_w").alias("_wsum")).collect()
    if not sums:
        return pinned, None, 0
    pairs: list[Column] = []
    acc = 0
    for row in sorted(sums, key=lambda r: r["_pid"]):
        pairs += [F.lit(row["_pid"]), F.lit(acc)]
        acc += row["_wsum"] or 0
    # element_at returns NULL for a missing key: a _pid the size pass
    # never saw must raise, not silently NULL the numbering
    mapped = F.element_at(F.create_map(*pairs), F.col("_pid"))
    offset = F.when(
        mapped.isNull(),
        F.raise_error(F.concat(
            F.lit("ordered numbering: partition id "),
            F.col("_pid").cast("string"),
            F.lit(" not seen by the size pass — partitioning drifted "
                  "between passes"))).cast("long")
    ).otherwise(mapped)
    return pinned, offset, acc


def ranged_prefix_sum(df: DataFrame, weight: Column, out_col: str,
                      order_by: list[str | Column],
                      num_partitions: int | None = None
                      ) -> tuple[DataFrame, int]:
    """(`df` + `out_col`, Σweight): the exclusive prefix sum of
    `weight` in global `order_by` order, partition-parallel, plus the
    grand total — the driver already holds the per-partition sums it
    prefixes, so a consumer needing Σw (lm_terciles' scored-document
    count) reads it without a second aggregation."""
    pinned, offset, total = _pinned_offsets(df, weight, order_by,
                                            num_partitions)
    if offset is None:  # empty input: keep the schema, no rows
        return df.withColumn(out_col, F.lit(None).cast("long")), 0
    w = (Window.partitionBy("_pid").orderBy(*order_by)
         .rowsBetween(Window.unboundedPreceding, -1))
    return (pinned
            .withColumn(out_col,
                        offset + F.coalesce(F.sum("_w").over(w), F.lit(0)))
            .drop("_pid", "_w")), total


def ranged_dense_keys(df: DataFrame, key_col: str,
                      order_by: list[str | Column],
                      offset: int = 1) -> DataFrame:
    """Keys offset+1, offset+2, ... in `order_by` order: the weight-1
    prefix sum, numbered inside each partition by row_number. For a
    unique `order_by` the keys are exactly the global row_number."""
    pinned, base, _ = _pinned_offsets(df, F.lit(1), order_by, None)
    if base is None:  # empty input: keep the schema, no rows
        return df.withColumn(key_col, F.lit(None).cast("long"))
    w = Window.partitionBy("_pid").orderBy(*order_by)
    return (pinned
            .withColumn(key_col,
                        (F.lit(offset) + base
                         + F.row_number().over(w)).cast("long"))
            .drop("_pid", "_w"))


def window_prefix_sum(df: DataFrame, weight: Column, out_col: str,
                      order_by: list[str | Column]) -> DataFrame:
    """The small-input twin of `ranged_prefix_sum`: one global
    window."""
    w = (Window.orderBy(*order_by)
         .rowsBetween(Window.unboundedPreceding, -1))
    return df.withColumn(
        out_col,
        F.coalesce(F.sum(weight.cast("long")).over(w), F.lit(0)))
