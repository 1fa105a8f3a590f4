"""Streaming substring-scrub maintenance (north-star extension): each
micro-batch of documents is scrubbed of repeated token runs against
the PERSISTED window-hash index, then grows the index — the streaming
twin of `operators.dedup.incremental_scrub_duplicate_substrings`,
completing the per-artifact streaming-maintenance set (exact dedup →
`streaming.dedup`, near-dup → `streaming.neardup`, vectors →
`streaming.vectors`, frequency/membership/quantile sketches →
`streaming.sketches`, substring runs → here).

Replay safety: both outputs land through `sinks.epoch_sink` and the
scrub probes only STRICTLY EARLIER index partials
(`sinks.read_epochs`) — the epoch discipline argued in
`streaming.sinks`.

Streaming semantics (inherent, documented): a batch is scrubbed
against everything seen BEFORE it plus its own internal repeats —
later arrivals cannot retro-scrub earlier outputs (no stream can);
the batch result is pinned equal to the BATCH operator probing the
merged earlier-epoch index (tests/test_streaming_substr.py).

Scale notes: the index partial is (distinct batch windows × one
32-hex digest) rows; counts merge by SUM (`dedup.WINDOW_INDEX_MERGE`),
so the stream-lifetime index is `sinks.read_epochs(spark, table,
merge=WINDOW_INDEX_MERGE)` and `sinks.compact_epochs` with the same
law bounds the epoch count exactly like the CMS table. Per epoch only
the batch pays the window hashing, and the index probe is narrowed to
the batch's own window hashes."""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import (SUBSTR_MIN_COUNT, SUBSTR_MIN_LEN,
                               WINDOW_INDEX_MERGE, _window_occurrences,
                               incremental_scrub_duplicate_substrings,
                               window_hash_index)
from ..operators.sketches import merge_partials
from .sinks import epoch_sink, read_epochs


def substr_scrub_ingest_sink(index_table: str, scrub_table: str, *,
                             min_len: int = SUBSTR_MIN_LEN
                             ) -> Callable[[DataFrame, int], None]:
    """Build the foreachBatch function over (doc_id, text) batches,
    with `dedup.SUBSTR_MIN_COUNT` as the repeat floor. Per epoch: (1)
    the batch's scrub report vs the earlier-epoch index →
    `scrub_table`; (2) the batch's own window-hash counts →
    `index_table`. Both epoch-idempotent.

    The probe reads only what the batch can touch: earlier partials
    semi-join the batch's own window hashes BEFORE the SUM merge, so
    the per-epoch aggregate is batch-bounded, not stream-lifetime
    sized (the line-dedup sink's narrowing). Rows of a foreign width
    ride along unnarrowed — a healthy table has none, and parquet can
    skip its row groups by their min/max statistics — so the probe's
    width check (`dedup.window_width_checked`) still fails loud on a
    mixed-width table (e.g. two sinks configured differently —
    ADVICE r10)."""

    def step(batch_df: DataFrame, epoch_id: int):
        # the batch's windows are hashed once per epoch: the index
        # partial and the probe share one occurrence relation, and the
        # lazy localCheckpoint makes it a plan barrier that the first
        # write computes and the rest read back (no extra job; not the
        # session cache, whose plan-keyed entries would pile up one per
        # epoch)
        occ = _window_occurrences(batch_df, "doc_id", "text",
                                  min_len).localCheckpoint(eager=False)
        partial = window_hash_index(batch_df, "doc_id", "text", min_len,
                                    occ=occ)
        earlier = read_epochs(batch_df.sparkSession, index_table,
                              before=epoch_id)
        if earlier is None:
            index = partial.limit(0)
        else:
            earlier = _ensure_min_len(earlier, min_len)
            index = merge_partials(
                [earlier.join(partial.select("window_hash"),
                              "window_hash", "semi"),
                 earlier.filter(F.col("min_len") != int(min_len))],
                WINDOW_INDEX_MERGE)
        report = incremental_scrub_duplicate_substrings(
            batch_df, index, "doc_id", "text", min_len, SUBSTR_MIN_COUNT,
            occ=occ)
        return report, partial

    return epoch_sink(step, scrub_table, index_table)


def _ensure_min_len(index: DataFrame, min_len: int) -> DataFrame:
    """Legacy shim: an index table created before the min_len
    provenance column existed (pre-r11) — or one whose first epoch was
    bootstrapped without it, which also makes `sinks.write_epoch`
    silently align newer partials to the old schema — reads as the
    caller's configured width. A sink enforces ONE width by
    construction, so the assumption is sound for tables it wrote;
    tables of unknown provenance should be rebuilt at a declared
    width instead."""
    if "min_len" not in index.columns:
        index = index.withColumn("min_len", F.lit(int(min_len)))
    return index
