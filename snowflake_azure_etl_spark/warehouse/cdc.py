"""Snapshot change-data-capture (X-CDC-DIFF): derive the I/U/D change
feed between two snapshots of the same entity.

Producers in the reference's world re-extract full tables per run
(/root/reference/rahil/load_data.py loads full stage files); a real
incremental pipeline diffs consecutive snapshots ONCE and ships only
changes. This module is that producer — its output is exactly the
event shape the engine's CDC consumers take (`streaming.scd`'s
foreachBatch SCD2 maintenance; `warehouse.scd.scd2_apply` /
`scd1_upsert` for batch, via the U+I projection).

Scale design: one null-safe equi-join on the business keys (full
outer — both sides shuffle once on the same key, or zero shuffles if
both snapshots were landed bucketed on the key:
`plans.layout.land_bucketed`); change detection is a row-local
null-safe struct compare; output is CHANGE-proportional, never
snapshot-proportional. No window, no driver state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def snapshot_diff(old: DataFrame, new: DataFrame,
                  business_keys: list[str],
                  tracked_cols: list[str],
                  include_deletes: bool = True) -> DataFrame:
    """(op, *business_keys, *tracked_cols): 'I' for keys only in
    `new`, 'D' for keys only in `old` (tracked cols carry the last
    known values; suppressed when `include_deletes=False` for
    append-only consumers), 'U' where any tracked column differs
    null-safely. Unchanged rows are dropped — the output is the
    minimal change feed.

    Key NULLs are compared null-safely, so a NULL business key is a
    legal (single) member, matching the warehouse's COALESCE-
    normalized composite-key convention."""
    if not business_keys:
        raise ValueError("snapshot_diff: need at least one business key")
    # a never-NULL marker column per side: after the full outer join,
    # side absence is exactly "its marker is NULL" (business keys
    # themselves can be legitimately NULL, so they can't signal it)
    o = (old.select(*business_keys, *tracked_cols)
         .withColumn("_present", F.lit(1)))
    n = (new.select(*business_keys, *tracked_cols)
         .withColumn("_present", F.lit(1)))
    # alias-qualified keys: when `new` derives from `old`, `o[k]` and
    # `n[k]` are ONE attribute and the predicate is trivially true
    cond = None
    for k in business_keys:
        c = F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}"))
        cond = c if cond is None else (cond & c)
    joined = o.alias("o").join(n.alias("n"), cond, "full_outer")

    same = None
    for t in tracked_cols:
        c = F.col(f"o.{t}").eqNullSafe(F.col(f"n.{t}"))
        same = c if same is None else (same & c)
    if same is None:
        same = F.lit(True)

    op = (F.when(F.col("o._present").isNull(), "I")
          .when(F.col("n._present").isNull(), "D")
          .when(~same, "U"))
    out_cols = [op.alias("op")]
    for k in business_keys:
        out_cols.append(F.coalesce(F.col(f"n.{k}"), F.col(f"o.{k}"))
                        .alias(k))
    for t in tracked_cols:
        # U/I carry the new values; D carries the last known values
        out_cols.append(
            F.when(op == "D", F.col(f"o.{t}"))
            .otherwise(F.col(f"n.{t}")).alias(t))
    diff = joined.select(*out_cols).filter(F.col("op").isNotNull())
    if not include_deletes:
        diff = diff.filter(F.col("op") != "D")
    return diff


def upserts(diff: DataFrame) -> DataFrame:
    """The U+I projection of a change feed — the `updates` relation
    `scd2_apply`/`scd1_upsert` consume (deletes are a policy decision:
    SCD dimensions usually keep departed members as history)."""
    return diff.filter(F.col("op") != "D").drop("op")
