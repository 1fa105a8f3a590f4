"""Stream-stream joins (north-star extension): the incremental twin of
the batch range/as-of join family — correlate two live event streams
within a time bound, with watermarks bounding both sides' join state.

Scale design: Spark buffers each side's rows in the state store until
the other side's watermark passes the time-bound condition, then
evicts — so state is O(events within the watermark window), not
O(stream). Both the equality key (user_id) and the time bound must be
in the join condition for the state pruning to engage; an unbounded
condition would grow state forever (the engine rejects it in append
mode for exactly that reason).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.attest import bounded_broadcast


def purchases_with_recent_views(purchases: DataFrame,
                                views: DataFrame) -> DataFrame:
    """Each purchase joined to the same user's views in the preceding
    hour — the streaming form of 'attribute a conversion to recent
    impressions', with a 2-hour watermark on both sides. Works
    identically on static frames (the batch twin used by the
    equivalence test): watermarks are a no-op on batch DataFrames."""
    p = purchases.withWatermark("ts", "2 hours").alias("p")
    v = views.withWatermark("ts", "2 hours").alias("v")
    cond = ((F.col("p.user_id") == F.col("v.user_id"))
            & (F.col("v.ts") <= F.col("p.ts"))
            & (F.col("v.ts") >= F.col("p.ts") - F.expr("INTERVAL 1 hour")))
    return (p.join(v, cond, "inner")
            .select(F.col("p.event_id").alias("purchase_id"),
                    F.col("p.user_id").alias("user_id"),
                    F.col("p.ts").alias("purchase_ts"),
                    F.col("v.event_id").alias("view_id"),
                    F.col("v.ts").alias("view_ts"),
                    F.col("v.value").alias("view_value")))


def enrich_with_dim(stream: DataFrame, dim: DataFrame,
                    on: list[str]) -> DataFrame:
    """Stream-STATIC left enrichment join — the standard 'attach dimension
    attributes to a live event stream' pattern (the streaming twin of
    the batch star join).

    The static side is stateless for the engine: nothing is buffered
    in the state store (only stream-stream joins hold state), and the
    dim is re-evaluated per micro-batch, so a dim table updated
    between batches is picked up automatically — Spark's documented
    slowly-changing-dimension behavior for stream-static joins. The
    broadcast hint keeps every micro-batch's join a map-side hash join
    (no per-batch shuffle of the stream); for dims too big to
    broadcast, drop the hint and pre-bucket both sides instead —
    exactly the batch star-join levers (plans.layout)."""
    return stream.join(
        bounded_broadcast(dim, bound="stream-static dim (caller "
                          "contract: drop the hint for dims past the "
                          "cap and pre-bucket instead)"),
        on, "left")
