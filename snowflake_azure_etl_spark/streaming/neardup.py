"""Streaming near-duplicate ingestion (north-star extension): each
micro-batch of documents is checked for near-dups against the
PERSISTED MinHash band-key index, then grows the index — the streaming
twin of `operators.dedup.incremental_near_dup_candidates`, composing
the drop-directory ingest (`streaming.ingest`) with the incremental
dedup contract.

Replay safety: both outputs land through `sinks.epoch_sink` and the
candidate probe reads only STRICTLY EARLIER index epochs
(`sinks.read_epochs`) — the package's one epoch discipline, argued in
`streaming.sinks` and pinned here by tests/test_streaming_neardup.py
including a deliberate replay.

Scale notes: per epoch the corpus-sized index is READ IN PLACE (land
it bucketed on the band keys for the shuffle-free probe —
incremental_exact's layout contract); only the ingest batch pays
shingle + MinHash. The epoch partition column doubles as the
monotonically-growing index version — time travel over the index is a
partition-pruned read of epochs ≤ v.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..operators.dedup import (INCR_BANDS, INCR_ROWS, band_key_index,
                               incremental_near_dup_candidates,
                               minhash_signature_shingled)
from ..sources.registry import footer_row_count
from .sinks import epoch_sink, read_epochs


def near_dup_ingest_sink(index_table: str, cand_table: str, *,
                         max_bucket: int = 10000
                         ) -> Callable[[DataFrame, int], None]:
    """Build the foreachBatch function:
    `readStream ... .writeStream.foreachBatch(near_dup_ingest_sink(...))`
    over (doc_id, text) batches, MinHash over word 3-shingles in the
    `dedup.INCR_BANDS` × `dedup.INCR_ROWS` band layout.

    Per epoch: (1) candidates of the batch vs the index restricted to
    earlier epochs (plus intra-batch pairs) → `cand_table`;
    (2) the batch's band keys → `index_table`. Both epoch-idempotent.

    Both probe attestations cost no job: ``n_new`` is observed on the
    signature's eager checkpoint (the one action on that plan),
    ``n_index`` is the footer row count of the index files the probe
    reads. No bucket is wider than ``n_index + n_new``, so the width
    guard drops out under ``max_bucket``; an overcount only keeps it
    on, and an unreadable footer (None) attests nothing.
    """

    def step(batch_df: DataFrame, epoch_id: int):
        spark = batch_df.sparkSession
        # ONE materialized signature pass per epoch; its band keys feed
        # both the probe (`keys` hand-off) and the index write
        obs = Observation()
        sig = (minhash_signature_shingled(batch_df, "doc_id", "text",
                                          k=INCR_BANDS * INCR_ROWS)
               .observe(obs, F.count(F.lit(1)).alias("n"))
               .localCheckpoint(eager=True))
        keys = band_key_index(sig, "doc_id", INCR_BANDS, INCR_ROWS)
        index = read_epochs(spark, index_table, before=epoch_id)
        if index is None:
            index, n_index = keys.limit(0), 0
        else:
            # the epoch filter prunes the listing to the probed files
            n_index = footer_row_count(index.inputFiles())
        cands = incremental_near_dup_candidates(
            batch_df, index, max_bucket=max_bucket, n_new=obs.get["n"],
            n_index=n_index, keys=keys)
        return cands, keys

    return epoch_sink(step, cand_table, index_table)
