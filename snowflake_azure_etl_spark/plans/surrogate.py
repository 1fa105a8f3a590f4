"""Surrogate key generation (SURVEY §4.3.2).

The reference relies on Snowflake IDENTITY(1,1)
(/root/reference/private_ddl/example_dimension_table.sql:3): unique,
stable, NOT guaranteed contiguous (observed gaps — SURVEY §1.3). Spark
has no identity columns; the engine's contract is:

- deterministic: key = dense rank of the business key ordering + offset,
  so rebuilding the same input yields the same keys (stronger than the
  reference, which renumbers on reload);
- parallel-safe: keys come from an explicit ORDER BY, never
  monotonically_increasing_id alone (whose values depend on partition
  layout);
- offset: reserves low key space for unknown members (key 1).

The numbering itself is `plans.prefix`'s: dims up to
`prefix.WINDOW_MAX_ROWS` attested rows take one global row_number
window (a single-partition sort, fine for reference-sized dims);
bigger ones take `prefix.ranged_dense_keys`, the partition-parallel
plan with identical keys for unique order keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .prefix import WINDOW_MAX_ROWS, ranged_dense_keys


def with_surrogate_key(df: DataFrame, key_col: str,
                       order_by: list[str | Column],
                       offset: int = 1,
                       n_rows: int | None = None) -> DataFrame:
    """Assign surrogate keys offset+1, offset+2, ... in business-key order.

    offset=1 leaves key 1 free for the unknown member (reference seeds it
    by hand — create_dimension_tables.py:91-130).

    `n_rows` is the caller's size attestation (catalog/footer row count
    of the staging source — an upper bound is fine): when it exceeds
    `WINDOW_MAX_ROWS` the global-window sort is swapped for the
    partition-parallel `ranged_dense_keys` plan with identical output
    (unique `order_by` assumed — true for every dim here, keyed by
    business key). An absent attestation keeps the window.
    """
    if n_rows is not None and n_rows > WINDOW_MAX_ROWS:
        return ranged_dense_keys(df, key_col, order_by, offset)
    w = Window.orderBy(*order_by)
    return df.withColumn(key_col, (F.row_number().over(w) + F.lit(offset)).cast("long"))
