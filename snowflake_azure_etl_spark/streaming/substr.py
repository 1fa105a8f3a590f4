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
32-hex digest) rows; counts merge by SUM, so `sinks.compact_epochs`
with {'n_occurrences': 'sum'} bounds the rollup exactly like the CMS
table; per epoch only the batch pays the window hashing."""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (SUBSTR_MIN_COUNT, SUBSTR_MIN_LEN,
                               incremental_scrub_duplicate_substrings,
                               merge_window_index, window_hash_index)
from .sinks import epoch_sink, read_epochs


def substr_scrub_ingest_sink(index_table: str, scrub_table: str, *,
                             id_col: str = "doc_id",
                             text_col: str = "text",
                             min_len: int = SUBSTR_MIN_LEN,
                             min_count: int = SUBSTR_MIN_COUNT
                             ) -> Callable[[DataFrame, int], None]:
    """Build the foreachBatch function. Per epoch: (1) the batch's
    scrub report vs the rolled-up earlier-epoch index → `scrub_table`;
    (2) the batch's own window-hash counts → `index_table`. Both
    epoch-idempotent."""

    def step(batch_df: DataFrame, epoch_id: int):
        partial = window_hash_index(batch_df, id_col, text_col, min_len)
        index = read_epochs(batch_df.sparkSession, index_table,
                            before=epoch_id)
        # merge_window_index carries the min_len provenance column
        # and fails loud if the table holds mixed-width partials
        # (e.g. two sinks configured differently — ADVICE r10)
        index = (partial.limit(0) if index is None else
                 merge_window_index(_ensure_min_len(index, min_len)))
        report = incremental_scrub_duplicate_substrings(
            batch_df, index, id_col, text_col, min_len, min_count)
        return report, partial

    return epoch_sink(step, scrub_table, index_table)


def substr_index_rollup(spark: SparkSession, table: str,
                        min_len: int = SUBSTR_MIN_LEN) -> DataFrame:
    """(window_hash, n_occurrences, min_len): the stream-lifetime
    index — SUM over all epoch partials (identical to
    `window_hash_index` over the concatenated stream; the
    `merge_window_index` law, width-guarded). ``min_len`` is only the
    legacy-table assumption (see `_ensure_min_len`)."""
    return merge_window_index(_ensure_min_len(read_epochs(spark, table),
                                              min_len))


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
