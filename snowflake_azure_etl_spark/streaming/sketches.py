"""Streaming sketch maintenance (north-star extension): per-epoch
Count-Min, Bloom and histogram PARTIALS landed idempotently, rolled up
on read by `sinks.read_epochs(spark, table, merge=LAW)` with the
family's law — completing the per-artifact streaming-maintenance set
(exact dedup → `streaming.dedup`, near-dup → `streaming.neardup`,
vector index → `streaming.vectors`, frequency/membership/quantile
sketches → here).

Why partials-per-epoch is the right streaming shape: the sketches are
LINEAR — CMS and histograms merge by counter SUM, Bloom by word bit_or
(`operators.sketches.CMS_MERGE` / `BLOOM_MERGE` / `HIST_MERGE`, folded
by `operators.sketches.merge_partials`, laws pinned in
tests/test_sketches.py) — so a micro-batch only ever lands its own
d·w-row (or m/32-row, or bins-row) partial. A read-modify-write
"update the global sketch" sink would double-add on every at-least-once
replay; the replay-safety argument is `streaming.sinks`'.

Scale notes: per-epoch state is the batch-local sketch (bounded by
d·w / m/32, independent of stream size); the rollup is an aggregate
over (epochs × sketch rows), and `sinks.compact_epochs` bounds even
that.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

from ..operators.sketches import (HIST_BINS, bloom_build, cms_build,
                                  equiwidth_histogram)
from .sinks import epoch_sink


def cms_ingest_sink(table: str,
                    key_col: str) -> Callable[[DataFrame, int], None]:
    """foreachBatch function: land each micro-batch's Count-Min
    PARTIAL (j, bucket, cnt) as its own epoch partition."""
    return epoch_sink(
        lambda batch_df, _: [cms_build(batch_df, key_col)], table)


def bloom_ingest_sink(table: str,
                      key_col: str) -> Callable[[DataFrame, int], None]:
    """foreachBatch function: land each micro-batch's Bloom PARTIAL
    (word_idx, word) as its own epoch partition."""
    return epoch_sink(
        lambda batch_df, _: [bloom_build(batch_df, key_col)], table)


def hist_ingest_sink(table: str, value_col: str, lo: float, hi: float,
                     bins: int | None = None
                     ) -> Callable[[DataFrame, int], None]:
    """foreachBatch function: land each micro-batch's equi-width
    histogram PARTIAL (bin, cnt) as its own epoch partition — the
    quantile-sketch member of the maintenance family (bin counts are
    exact integers, merge law = SUM, same linearity as CMS). Bounds
    are the caller's catalog bounds, fixed for the table's lifetime:
    partials with different bounds would merge into nonsense. The
    `HIST_MERGE` rollup feeds `operators.sketches.histogram_quantiles`
    for stream-lifetime quantiles without sorting (or even retaining)
    the stream."""
    bins = HIST_BINS if bins is None else bins
    return epoch_sink(
        lambda batch_df, _: [equiwidth_histogram(batch_df, value_col,
                                                 lo, hi, bins)],
        table)
