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

Replay safety (at-least-once foreachBatch): both writes ride the
epoch-partitioned dynamic-overwrite pattern (`sinks.
idempotent_epoch_sink`), and the drift baseline aggregates only index
rows from STRICTLY EARLIER epochs — a replayed epoch N never compares
the batch against its own half-written fits, and overwrites both of
its partitions with identical rows.

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

from ..operators.similarity import (KMEANS_SCALE, _centroid_array,
                                    assign_cells_scored, cell_fit_stats,
                                    drift_flags, kmeans_centroids)
from .sinks import EPOCH_COL, idempotent_epoch_sink


def bootstrap_centroids(corpus: DataFrame, centroids_table: str, *,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        n_cells: int = 8, train_iters: int = 2,
                        version: int = 0) -> None:
    """Train a quantizer on a corpus and persist it as `(cell_id, ctv,
    q_version)` — the table every epoch's assignment reads (current =
    highest version). Bootstrap REPLACES the whole table (a fresh
    quantizer lifecycle — CREATE OR REPLACE semantics) and lays it
    q_version-PARTITIONED so `retrain_centroids` can add versions by
    partition overwrite without touching earlier ones."""
    (kmeans_centroids(corpus, id_col, vec_col, n_cells,
                      n_iter=train_iters)
     .withColumn("q_version", F.lit(int(version)).cast("long"))
     .write.mode("overwrite").partitionBy("q_version").format("parquet")
     .saveAsTable(centroids_table))


def retrain_centroids(spark: SparkSession, index_table: str,
                      centroids_table: str, *,
                      n_cells: int = 8, train_iters: int = 2) -> None:
    """The retrain act the drift flags call for: re-run Lloyd's rounds
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
    new = kmeans_centroids(vecs, "vec_id", "embedding", n_cells,
                           n_iter=train_iters)
    land = idempotent_epoch_sink(centroids_table, epoch_col="q_version")
    land(new, int(cur) + 1)


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
    below = int(epoch_id) if first is None else min(int(first),
                                                   int(epoch_id))
    orphaned = (spark.table(index_table)
                .filter((F.col(EPOCH_COL) < below)
                        & (F.col("q_version") == int(version))))
    if not orphaned.isEmpty():
        raise ValueError(
            f"vector_ingest_sink: drift table {drift_table} has no rows "
            f"for q_version {version} before epoch {below}, but index "
            f"table {index_table} does — drift epochs were vacuumed "
            "below this version's first index epoch, so the drift "
            "baseline would silently shrink. Vacuum the index and drift "
            "tables to the same watermark, or retrain to start a new "
            "baseline.")


def vector_ingest_sink(index_table: str, drift_table: str,
                       centroids_table: str, *,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       cos_scale: int = KMEANS_SCALE,
                       cos_drop: float = 0.02
                       ) -> Callable[[DataFrame, int], None]:
    """Build the foreachBatch function:
    `readStream ... .writeStream.foreachBatch(vector_ingest_sink(...))`.

    Per epoch: (1) assign the batch to the persisted quantizer and
    append `(_id, cell_id, fit_q, _v)` to `index_table`; (2) compare
    the batch's per-cell mean fit against the strictly-earlier index
    baseline and write the drift report
    `(cell_id, n_index, mean_cos_index, n_new, mean_cos_new, retrain)`
    to `drift_table`. Both epoch-idempotent.

    CHECKPOINT-LIFETIME CONTRACT (ADVICE r8, the same discipline as
    the vacuum watermark): epoch ids come from the stream's
    checkpoint and are only monotone WITHIN one checkpoint lineage.
    Restarting the stream with a NEW checkpoint resets epoch_id to 0
    — against an existing table that would overwrite historical
    epoch partitions and void the strictly-earlier drift baseline.
    Tables are 1:1 with a checkpoint: reuse the checkpoint to resume;
    to start a new lineage, point the sink at fresh tables (or vacuum
    + drop the old ones). This is foreachBatch's general epoch
    contract, not a quirk of this sink.

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
    write_index = idempotent_epoch_sink(index_table)
    write_drift = idempotent_epoch_sink(drift_table)
    scale = float(cos_scale)

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        if spark.catalog.tableExists(drift_table):
            cols = set(spark.table(drift_table).columns)
            missing = {"sum_fit_new", "q_version"} - cols
            if missing:
                raise ValueError(
                    f"vector_ingest_sink: drift table {drift_table} "
                    f"lacks the partials columns {sorted(missing)} — "
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
        scored = (assign_cells_scored(batch_df, id_col, vec_col,
                                      cent_arr, keep_vec=True)
                  .withColumn("fit_q",
                              F.floor(F.col("cell_cos") * F.lit(scale))
                              .cast("long"))
                  .drop("cell_cos")
                  .withColumn("q_version", F.lit(version).cast("long"))
                  .localCheckpoint(eager=True))
        if spark.catalog.tableExists(drift_table):
            # baseline = the prior drift rows' exact per-cell partials,
            # strictly-earlier epochs scored against the SAME quantizer
            # version (a retrain resets the baseline — fits are only
            # comparable within one set of centroids). Same longs as
            # the full-history aggregate ⇒ same doubles ⇒ same flags.
            _check_drift_retention(spark, index_table, drift_table,
                                   version, epoch_id)
            istat = (spark.table(drift_table)
                     .filter((F.col(EPOCH_COL) < int(epoch_id))
                             & (F.col("q_version") == int(version))
                             & F.col("n_new").isNotNull())
                     .groupBy("cell_id")
                     .agg(F.sum("n_new").alias("n_index"),
                          F.sum("sum_fit_new").alias("_s"))
                     .select("cell_id", "n_index",
                             ((F.col("_s").cast("double")
                               / F.col("n_index"))
                              / F.lit(scale)).alias("mean_cos_index")))
        else:
            istat = cell_fit_stats(
                scored.select("cell_id", "fit_q").limit(0), "index",
                cos_scale)
        # the shared stats/flag definitions (operators.similarity) so
        # the batch operator and this sink cannot silently diverge;
        # the batch side additionally keeps its exact partial sum —
        # the next epochs' baseline input
        braw = (scored.groupBy("cell_id")
                .agg(F.count("*").alias("n_new"),
                     F.sum("fit_q").alias("sum_fit_new")))
        bstat = braw.select(
            "cell_id", "n_new",
            ((F.col("sum_fit_new").cast("double") / F.col("n_new"))
             / F.lit(scale)).alias("mean_cos_new"))
        rep = (drift_flags(istat, bstat, cos_drop)
               .join(braw.select("cell_id", "sum_fit_new"), "cell_id",
                     "left")
               .withColumn("q_version", F.lit(version).cast("long")))
        write_drift(rep, epoch_id)
        write_index(scored.select("_id", "cell_id", "fit_q", "_v",
                                  "q_version"), epoch_id)

    return write
