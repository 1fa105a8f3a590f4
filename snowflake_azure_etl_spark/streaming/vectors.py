"""Streaming vector-index ingestion (north-star extension): each
micro-batch of embeddings is assigned to the PERSISTED coarse
quantizer, grows the cell-assigned vector index, and emits a per-cell
DRIFT report against the index baseline — the streaming twin of
`operators.similarity.ivf_drift_report`, completing the per-artifact
streaming-maintenance set (exact dedup → `streaming.dedup`, near-dup
→ `streaming.neardup`, vector index → here).

Division of labor (the production contract): the SINK only assigns
and MONITORS — retraining is a deliberate offline act. When an
epoch's drift rows raise `retrain`, the operator on call runs
`retrain_centroids` (a batch job over the persisted index, which
stores the vectors for exactly this reason) and the next epoch scores
against the new quantizer version. Fits are comparable only within
one quantizer: index rows carry `q_version`, the baseline aggregates
only same-version history, and a retrain therefore RESETS the drift
baseline instead of comparing new-centroid fits against old-centroid
ones.

Replay safety: both outputs land through `sinks.epoch_sink` and the
drift baseline reads only STRICTLY EARLIER drift epochs
(`sinks.read_epochs`) — the epoch discipline argued in
`streaming.sinks`.

Scale notes: assignment is the broadcast-centroid projection (vectors
never shuffle); the index stores the fit PRE-QUANTIZED
(`fit_q = floor(cos·2^20)` longs), so the per-epoch baseline is a
narrow (cell_id, fit_q) aggregate over the index — no vector is ever
re-scored — and the report stays partitioning-invariant, the same
determinism contract as the batch operator. The epoch partition
column is the index version; `retrain_centroids` reads every epoch
≤ now, exactly like the near-dup index's time travel.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.similarity import (DRIFT_COS_DROP, KMEANS_SCALE,
                                    _centroid_array, assign_cells,
                                    cell_fit_stats, drift_flags,
                                    kmeans_centroids)
from ..warehouse.ddl import drop_table
from .sinks import (EPOCH_COL, epoch_partitions, epoch_sink, read_epochs,
                    require_columns, write_epoch)


def bootstrap_centroids(corpus: DataFrame, centroids_table: str, *,
                        n_cells: int = 8) -> None:
    """Train a quantizer (2 Lloyd's rounds) on a (vec_id, embedding)
    corpus and persist it as `(cell_id, ctv, q_version)` — the table
    every epoch's assignment reads (current = highest version).
    Bootstrap REPLACES the whole table (a fresh quantizer lifecycle:
    `ddl.drop_table`, then version 0) and lays it q_version-PARTITIONED
    so `retrain_centroids` can add versions by partition overwrite
    without touching earlier ones."""
    cents = kmeans_centroids(corpus, "vec_id", "embedding", n_cells)
    drop_table(corpus.sparkSession, centroids_table)
    write_epoch(cents, centroids_table, 0, epoch_col="q_version")


def retrain_centroids(spark: SparkSession, index_table: str,
                      centroids_table: str, *,
                      n_cells: int = 8) -> None:
    """The retrain act the drift flags call for: re-run 2 Lloyd's rounds
    over EVERY vector the index has absorbed (the index stores `_v`
    for this) and replace the quantizer at version+1. Subsequent
    epochs assign against the new centroids AND restart the drift
    baseline — index rows carry the quantizer version their fit was
    measured against, and fits from different versions are never
    compared (a fit is only meaningful relative to its own centroids).
    Already-written epochs keep their as-of-ingest fits — the index is
    an append-only history, not a reprojection.

    Versions COEXIST (ADVICE r8): the new version lands as a dynamic
    overwrite of ONLY its own q_version partition, so earlier versions
    stay intact and readable — a concurrent epoch resolving `current =
    max(q_version)` mid-retrain sees either the old complete version
    or the new one, never an empty/partial table (the whole-table
    overwrite it replaced had exactly that window) — and replaying the
    same retrain overwrites its own partition idempotently."""
    cur = spark.table(centroids_table).agg(
        F.max("q_version").alias("v")).collect()[0]["v"]
    vecs = (spark.table(index_table)
            .select(F.col("_id").alias("vec_id"),
                    F.col("_v").alias("embedding")))
    new = kmeans_centroids(vecs, "vec_id", "embedding", n_cells)
    write_epoch(new, centroids_table, int(cur) + 1, epoch_col="q_version")


def _retention_probe(spark: SparkSession, index_table: str,
                     version: int, below: int) -> DataFrame | None:
    """The index rows of quantizer `version` below epoch `below`. Versions
    never decrease from one epoch to the next, so such rows exist iff
    the latest index epoch below `below` (from the partition listing;
    None if there is none) holds them: one epoch is read, however long
    the stream has run."""
    earlier = [e for e, _ in epoch_partitions(spark, index_table)[0]
               if e < below]
    if not earlier:
        return None
    return spark.table(index_table).filter(
        (F.col(EPOCH_COL) == max(earlier))
        & (F.col("q_version") == int(version)))


def _check_drift_retention(spark: SparkSession, index_table: str,
                           drift_table: str, version: int,
                           epoch_id: int) -> None:
    """Fail loud when the drift baseline lost history its index kept.

    The baseline sums this quantizer version's earlier drift rows, and
    every epoch that indexes rows of a version writes drift rows for it
    first. So an index epoch of this version earlier than the version's
    earliest drift epoch means drift partitions were vacuumed below
    the version's first epoch: the baseline would silently shrink."""
    if not spark.catalog.tableExists(index_table):
        return
    first = (spark.table(drift_table)
             .filter(F.col("q_version") == int(version))
             .agg(F.min(EPOCH_COL)).collect()[0][0])
    below = int(epoch_id) if first is None else min(int(first), int(epoch_id))
    orphaned = _retention_probe(spark, index_table, version, below)
    if orphaned is not None and not orphaned.isEmpty():
        raise ValueError(
            f"vector_ingest_sink: drift table {drift_table} has no rows "
            f"for q_version {version} before epoch {below}, but index "
            f"table {index_table} does — drift epochs were vacuumed "
            "below this version's first index epoch, so the drift "
            "baseline would silently shrink. Vacuum the index and drift "
            "tables to the same watermark, or retrain to start a new "
            "baseline.")


def vector_ingest_sink(index_table: str, drift_table: str,
                       centroids_table: str
                       ) -> Callable[[DataFrame, int], None]:
    """Build the foreachBatch function:
    `readStream ... .writeStream.foreachBatch(vector_ingest_sink(...))`
    over (vec_id, embedding) batches.

    Per epoch: (1) assign the batch to the persisted quantizer and
    append `(_id, cell_id, fit_q, _v)` to `index_table`; (2) compare
    the batch's per-cell mean fit against the strictly-earlier index
    baseline and write the drift report
    `(cell_id, n_index, mean_cos_index, n_new, mean_cos_new, retrain,
    sum_fit_new, q_version)`
    to `drift_table`. Both epoch-idempotent.

    CHECKPOINT-LIFETIME CONTRACT (ADVICE r8): tables are 1:1 with a
    checkpoint (`streaming.sinks`); a new lineage against old tables
    would void the strictly-earlier drift baseline.

    PARTIALS-BASED BASELINE (r17, VERDICT r16 next #6 — guide §6):
    the drift baseline was re-aggregated from the FULL index history
    every epoch (the one per-epoch read that grew with stream
    lifetime, the same class as the pre-r16 line-dedup scrub). Drift
    rows now carry the batch's per-cell EXACT partials (`n_new` was
    already there; `sum_fit_new` = Σ fit_q as a long, plus the
    `q_version` they were scored under), so the epoch-N baseline is
    the SUM of the prior drift rows' partials — (cells × epochs)-
    sized, index-size-independent, and bit-identical to the
    full-history aggregate (long sums are associative; the mean is
    the same expression over the same exact longs). This is the
    CMS/bloom per-epoch-partials merge law applied to the drift
    stats. A drift table created by the pre-partials sink fails the
    first write with a migration error (the line-dedup layout-guard
    discipline) — its rows cannot seed an exact baseline."""

    def step(batch_df: DataFrame, epoch_id: int):
        spark = batch_df.sparkSession
        require_columns(
            spark, drift_table, ("sum_fit_new", "q_version"),
            f"vector_ingest_sink: drift table {drift_table} "
            "lacks the partials columns {missing} — "
            "it was created by a pre-partials sink version "
            "and cannot seed an exact baseline. Migrate it "
            "(recompute per-epoch per-cell n_new/sum_fit_new "
            "from the index table) or point the sink at a "
            "fresh table name.")
        cents = spark.table(centroids_table)
        version = int(cents.agg(F.max("q_version").alias("v"))
                      .collect()[0]["v"])
        cent_arr = _centroid_array(
            cents.filter(F.col("q_version") == version)
            .select("cell_id", "ctv"))
        # ONE materialized assignment pass per epoch — shared by the
        # index write and the drift aggregate (batch-sized by
        # definition, the neardup-sink localCheckpoint contract)
        scored = (assign_cells(batch_df, "vec_id", "embedding", cent_arr)
                  .select(F.col("neighbor_id").alias("_id"), "cell_id",
                          F.floor(F.col("cell_cos")
                                  * F.lit(float(KMEANS_SCALE)))
                          .cast("long").alias("fit_q"),
                          F.col("cv").alias("_v"),
                          F.lit(version).cast("long").alias("q_version"))
                  .localCheckpoint(eager=True))
        # the batch's exact per-cell partials: its own stats and the
        # next epochs' baseline input
        braw = (scored.groupBy("cell_id")
                .agg(F.count("*").alias("n"), F.sum("fit_q").alias("s")))
        prior = read_epochs(spark, drift_table, before=epoch_id)
        if prior is not None:
            # baseline = the prior drift rows' exact per-cell partials,
            # strictly-earlier epochs scored against the SAME quantizer
            # version (a retrain resets the baseline — fits are only
            # comparable within one set of centroids). Same longs as
            # the full-history aggregate ⇒ same doubles ⇒ same flags.
            _check_drift_retention(spark, index_table, drift_table,
                                   version, epoch_id)
            iraw = (prior
                    .filter((F.col("q_version") == int(version))
                            & F.col("n_new").isNotNull())
                    .groupBy("cell_id")
                    .agg(F.sum("n_new").alias("n"),
                         F.sum("sum_fit_new").alias("s")))
        else:
            iraw = braw.limit(0)
        # the shared stats/flag definitions (operators.similarity) so
        # the batch operator and this sink cannot silently diverge
        rep = (drift_flags(cell_fit_stats(iraw, "index"),
                           cell_fit_stats(braw, "new"), DRIFT_COS_DROP)
               .withColumn("q_version", F.lit(version).cast("long")))
        return rep, scored

    return epoch_sink(step, drift_table, index_table)
