"""Streaming near-duplicate ingestion (north-star extension): each
micro-batch of documents is checked for near-dups against the
PERSISTED MinHash band-key index, then grows the index — the streaming
twin of `operators.dedup.incremental_near_dup_candidates`, composing
the drop-directory ingest (`streaming.ingest`) with the incremental
dedup contract.

Replay safety (at-least-once foreachBatch): both writes ride the
epoch-partitioned dynamic-overwrite pattern (`sinks.
idempotent_epoch_sink`), and the candidate computation probes only
index rows from STRICTLY EARLIER epochs — so a replayed epoch N never
pairs the batch against its own half-written keys, and overwrites both
of its partitions with identical rows. At-least-once becomes
exactly-once-in-effect, pinned by tests/test_streaming_neardup.py
including a deliberate replay.

Scale notes: per epoch the corpus-sized index is READ IN PLACE (land
it bucketed on the band keys for the shuffle-free probe —
incremental_exact's layout contract); only the ingest batch pays
shingle + MinHash. The epoch partition column doubles as the
monotonically-growing index version — time travel over the index is a
partition-pruned read of epochs ≤ v.
"""

from __future__ import annotations

import re
from typing import Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..operators.dedup import (band_key_index,
                               incremental_near_dup_candidates,
                               minhash_signature_shingled)
from ..sources.registry import footer_row_count
from .sinks import EPOCH_COL, idempotent_epoch_sink


def near_dup_ingest_sink(index_table: str, cand_table: str, *,
                         id_col: str = "doc_id", text_col: str = "text",
                         bands: int = 4, rows: int = 2,
                         shingle_n: int = 3,
                         max_bucket: int = 10000
                         ) -> Callable[[DataFrame, int], None]:
    """Build the foreachBatch function:
    `readStream ... .writeStream.foreachBatch(near_dup_ingest_sink(...))`.

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
    write_cands = idempotent_epoch_sink(cand_table)
    write_keys = idempotent_epoch_sink(index_table)

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        # ONE materialized signature pass per epoch; its band keys feed
        # both the probe (`keys` hand-off) and the index write
        obs = Observation()
        sig = (minhash_signature_shingled(batch_df, id_col, text_col,
                                          k=bands * rows, n=shingle_n)
               .observe(obs, F.count(F.lit(1)).alias("n"))
               .localCheckpoint(eager=True))
        keys = band_key_index(sig, id_col, bands, rows)
        if spark.catalog.tableExists(index_table):
            index = spark.table(index_table)
            n_index = footer_row_count([
                f for f in index.inputFiles()
                if int(re.search(rf"/{EPOCH_COL}=(\d+)/", f)[1])
                < int(epoch_id)])
            index = (index.filter(F.col(EPOCH_COL) < int(epoch_id))
                     .drop(EPOCH_COL))
        else:
            index, n_index = keys.limit(0), 0
        cands = incremental_near_dup_candidates(
            batch_df, index, id_col, text_col,
            bands=bands, rows=rows, shingle_n=shingle_n,
            max_bucket=max_bucket, n_new=obs.get["n"], n_index=n_index,
            keys=keys)
        write_cands(cands, epoch_id)
        write_keys(keys, epoch_id)

    return write
