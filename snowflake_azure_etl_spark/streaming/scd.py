"""Streaming SCD2 dimension maintenance (north-star extension): a CDC
update stream folded into a versioned dimension via foreachBatch — the
streaming twin of `warehouse.scd.scd2_apply`'s batch MERGE.

Spark has no MERGE sink for Structured Streaming; the canonical
pattern (programming guide, foreachBatch section) is a per-micro-batch
merge against the current state. Each epoch:

1. read the dimension's current snapshot,
2. `scd2_apply` the micro-batch (close changed versions, insert new
   current versions and new members — the full SCD2 contract),
3. snapshot-write the next state (copy-on-write, like the batch leg).

Replay safety comes from `scd2_apply`'s idempotency, not from epoch
partitioning: re-applying an already-applied batch classifies every
row as `keep` (the new current versions now compare equal on the
tracked columns), so the rewritten snapshot is identical — the
at-least-once delivery of foreachBatch becomes exactly-once-in-effect
on the dimension. Pinned by tests/test_streaming_scd.py, including a
deliberate epoch replay.

Scale notes: state per epoch is the dimension (not the stream);
`scd2_apply` is one classified join + a keyed insert, all
partition-parallel. The snapshot write (`ddl.replace_table`) is the
parquet analog of copy-on-write MERGE — a transactional table format
would swap in at the write line without touching the merge plan. The
pre-write localCheckpoint both breaks the read-replace cycle on the
target table and bounds the risk window of the non-atomic replace (the
next state is fully materialized before the table is dropped).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

from ..warehouse.ddl import replace_table
from ..warehouse.scd import scd2_apply


def scd2_stream_sink(table: str, *, key_col: str,
                     business_keys: list[str], tracked_cols: list[str]
                     ) -> Callable[[DataFrame, int], None]:
    """Build a foreachBatch function that maintains the SCD2 dimension
    `table` from a stream of update rows (business keys + tracked
    columns). The dimension must be seeded first (`scd2_seed` +
    `ddl.replace_table`). batch_id recorded in the version history =
    epoch_id + 1 (0 is the seed's valid_from)."""

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        state = spark.table(table)
        merged = scd2_apply(
            state, batch_df, key_col=key_col,
            business_keys=business_keys, tracked_cols=tracked_cols,
            batch_id=int(epoch_id) + 1)
        # materialize BEFORE replacing the table the plan reads from
        replace_table(merged.localCheckpoint(eager=True), table)

    return write
