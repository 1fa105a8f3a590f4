"""Slowly-changing-dimension merges (SCD type 1 and type 2).

The reference's dims are insert-only: IDENTITY keys, no UPDATE, no
history (`/root/reference/rahil/load_dimension_tables.py` only ever
INSERTs; changed members would silently duplicate or stale). The
Snowflake pattern its design implies — `MERGE INTO dim USING updates`
with UPDATE/INSERT branches, or versioned SCD2 rows — is what a real
warehouse on this schema runs daily, so the engine provides both as
first-class operators. Spark has no in-place MERGE on parquet tables;
the engine's contract is the standard functional equivalent: compute
the *next state* of the dimension as one DataFrame and swap it in
(overwrite / snapshot write), which is also exactly how
copy-on-write lakehouse MERGE is executed physically.

Semantics (shared by both):

- `business_keys` identify a member; `tracked_cols` are the attributes
  whose change means "the member changed". Change detection is
  null-safe (`eqNullSafe` per column: NULL→value and value→NULL are
  changes, NULL→NULL is not).
- Updates not matching any member INSERT with surrogate keys strictly
  above the current max, assigned in business-key order
  (deterministic, same contract as `incremental.append_new_members`).
- Members absent from the update batch are untouched (no implicit
  delete — matching the reference's append-only spirit).

SCD1 (`scd1_upsert`): matched + changed rows take the new attribute
values IN PLACE — the surrogate key survives, history is lost.

SCD2 (`scd2_apply`): matched + changed rows are CLOSED
(`valid_to = batch_id`, `is_current = false`) and a NEW VERSION row
inserts (fresh surrogate key, `valid_from = batch_id`, open-ended,
current). Facts keyed on the old surrogate keep pointing at the
closed version — point-in-time joins keep working, which is the whole
point of type 2.

Scale (100 TB): one equi-join of current-members × updates on the
business key is the entire data motion — history rows pass through
untouched (union, no shuffle). The classified join is materialized
once per merge (`cached_relation`) so the keep/close/insert branches
read one shuffle's output instead of re-joining per branch; at lake
scale this materialization is the MERGE's copy-on-write working set.
The new-key pass reuses `with_surrogate_key`'s attested auto-switch
(global window for dim-sized batches, range-partitioned parallel
keying above `prefix.WINDOW_MAX_ROWS`). The max-key probe is one scalar
aggregate. Update batches are usually ≪ the dim: pass
`n_update_rows` to broadcast the batch side under the same
size-attestation contract as `operators.dedup`.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators._cache import cached_relation
from ..plans.attest import maybe_broadcast
from ..plans.surrogate import with_surrogate_key

#: SCD2 bookkeeping columns, in schema order after the business/tracked
#: columns. `valid_from`/`valid_to` are batch ids (ints) — the engine
#: is batch-oriented, and int batch ids keep every merge deterministic
#: (no wall-clock in the data path).
SCD2_COLS = ("valid_from", "valid_to", "is_current")


@dataclass(frozen=True)
class MergeClassification:
    """Row accounting for one merge batch (the MERGE statement's
    `rows updated / inserted` summary the reference logs by hand)."""
    unchanged: int
    changed: int
    inserted: int


def _same_tracked(tracked_cols: list[str]) -> Column:
    return reduce(Column.__and__,
                  [F.col(c).eqNullSafe(F.col(f"_u_{c}")) for c in tracked_cols])


def _classified_join(current: DataFrame, updates: DataFrame,
                     business_keys: list[str], tracked_cols: list[str],
                     n_update_rows: int | None) -> DataFrame:
    """Full-outer join current members × update batch on the business
    key, with `_action` ∈ keep | change | insert. Materialized once per
    merge; every branch filter below reads this one relation."""
    u = updates.select(
        *business_keys,
        *[F.col(c).alias(f"_u_{c}") for c in tracked_cols],
        F.lit(True).alias("_u_present"))
    j = current.withColumn("_t_present", F.lit(True)).join(
        maybe_broadcast(u, n_update_rows),
        business_keys, "full_outer")
    j = j.withColumn(
        "_action",
        F.when(F.col("_u_present").isNull(), F.lit("keep"))
         .when(F.col("_t_present").isNull(), F.lit("insert"))
         .when(_same_tracked(tracked_cols), F.lit("keep"))
         .otherwise(F.lit("change")))
    return cached_relation(j, "scd-merge", eager=True)


def _max_key(target: DataFrame, key_col: str) -> int:
    row = target.agg(F.max(key_col).alias("m")).collect()[0]
    return row["m"] or 0


def merge_counts(classified: DataFrame) -> MergeClassification:
    rows = {r["_action"]: r["n"] for r in
            classified.groupBy("_action").agg(F.count("*").alias("n"))
            .collect()}
    return MergeClassification(unchanged=rows.get("keep", 0),
                               changed=rows.get("change", 0),
                               inserted=rows.get("insert", 0))


def scd1_upsert(target: DataFrame, updates: DataFrame, *, key_col: str,
                business_keys: list[str], tracked_cols: list[str],
                n_update_rows: int | None = None,
                n_insert_rows: int | None = None) -> DataFrame:
    """MERGE INTO with UPDATE + INSERT branches, type-1 (overwrite in
    place, keys survive, no history). Returns the next dimension state
    with `target`'s exact schema.

    Idempotent: re-applying the same batch is a no-op (matched rows
    compare equal, unmatched keys are already present).
    """
    cols = target.columns
    j = _classified_join(target, updates, business_keys, tracked_cols,
                         n_update_rows)
    kept = j.filter(F.col("_action") == "keep").select(*cols)
    updated = j.filter(F.col("_action") == "change").select(
        *[F.col(f"_u_{c}").alias(c) if c in tracked_cols else F.col(c)
          for c in cols])
    fresh = j.filter(F.col("_action") == "insert").select(
        *business_keys,
        *[F.col(f"_u_{c}").alias(c) for c in tracked_cols])
    keyed = with_surrogate_key(fresh, key_col, order_by=business_keys,
                               offset=_max_key(target, key_col),
                               n_rows=n_insert_rows)
    return kept.unionByName(updated).unionByName(keyed.select(*cols))


def scd2_seed(members: DataFrame, *, key_col: str,
              business_keys: list[str], batch_id: int = 0,
              n_rows: int | None = None) -> DataFrame:
    """Initial SCD2 state: every member version 1, open-ended, current,
    surrogate keys 2.. in business-key order (key 1 reserved for the
    unknown member, the reference's seeding convention)."""
    keyed = with_surrogate_key(members, key_col, order_by=business_keys,
                               offset=1, n_rows=n_rows)
    return (keyed
            .withColumn("valid_from", F.lit(batch_id).cast("int"))
            .withColumn("valid_to", F.lit(None).cast("int"))
            .withColumn("is_current", F.lit(True)))


def scd2_apply(target: DataFrame, updates: DataFrame, *, key_col: str,
               business_keys: list[str], tracked_cols: list[str],
               batch_id: int,
               n_update_rows: int | None = None,
               n_insert_rows: int | None = None) -> DataFrame:
    """Apply one update batch to an SCD2 dimension; returns the next
    state (same schema: key, business keys, tracked cols, SCD2_COLS).

    - history rows (`is_current = false`) pass through untouched;
    - current + unchanged / not-in-batch: untouched;
    - current + changed: closed (`valid_to = batch_id`) AND a new
      current version inserts with a fresh surrogate key;
    - unmatched update keys: insert as version 1 of a new member.

    New-row keys are assigned above max(existing) in business-key
    order, closed-version rows and brand-new members drawing from one
    ordered pool — deterministic for a fixed (target, batch).
    Idempotent: re-applying the same batch changes nothing (the new
    current versions now compare equal).
    """
    cols = target.columns
    cur = target.filter(F.col("is_current"))
    hist = target.filter(~F.col("is_current"))
    j = _classified_join(cur, updates, business_keys, tracked_cols,
                         n_update_rows)
    kept = j.filter(F.col("_action") == "keep").select(*cols)
    closed = j.filter(F.col("_action") == "change").select(
        *[c for c in cols if c not in ("valid_to", "is_current")],
        F.lit(batch_id).cast("int").alias("valid_to"),
        F.lit(False).alias("is_current")).select(*cols)
    fresh = j.filter(F.col("_action").isin("change", "insert")).select(
        *business_keys,
        *[F.col(f"_u_{c}").alias(c) for c in tracked_cols])
    keyed = with_surrogate_key(fresh, key_col, order_by=business_keys,
                               offset=_max_key(target, key_col),
                               n_rows=n_insert_rows)
    inserted = (keyed
                .withColumn("valid_from", F.lit(batch_id).cast("int"))
                .withColumn("valid_to", F.lit(None).cast("int"))
                .withColumn("is_current", F.lit(True))
                .select(*cols))
    return (hist.unionByName(kept).unionByName(closed)
            .unionByName(inserted))


def asof_version(target: DataFrame, batch_id: int) -> DataFrame:
    """Point-in-time view of an SCD2 dimension: the version of each
    member that was current as of `batch_id` (time travel over the
    version history — one filter, no join, no shuffle)."""
    return target.filter(
        (F.col("valid_from") <= batch_id)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > batch_id)))
