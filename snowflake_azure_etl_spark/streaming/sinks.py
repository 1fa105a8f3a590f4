"""Streaming sinks with replay-safe (effectively-once) semantics: the
one epoch discipline every epoch sink in this package follows.

Structured Streaming guarantees at-least-once delivery to foreachBatch:
after a failure the last epoch is REPLAYED, so a naive append sink
duplicates it. The canonical fix (Structured Streaming programming
guide, foreachBatch section) is to make the write idempotent on
`epoch_id`. Two rules make a sink replay-safe, and this module is the
one place that implements them:

1. **Idempotent per-epoch write.** `write_epoch` lands a relation into
   an epoch-partitioned parquet table with DYNAMIC partition
   overwrite: replaying epoch N overwrites partition N in place — same
   rows, no duplicates — while other epochs are untouched.
2. **Strictly-earlier reads.** A sink that probes its own tables
   (the near-dup band index, the substring window index, the vector
   drift baseline) reads them through `read_epochs(..., before=N)`,
   so a replayed epoch N never sees its own half-written rows and
   recomputes identical outputs.

`epoch_sink(step, *outputs)` builds the foreachBatch function: the
per-epoch `step` returns its output relations in the declared order
and each lands through `write_epoch`. Per-epoch PARTIALS of a linear
artifact (sketch counters, gram/word counts) never read-modify-write
the table, so the rollup — `read_epochs(..., merge=LAW)` with the
family's merge law — never double-counts a replayed epoch.

Scale notes: one directory per epoch keeps the overwrite scoped to the
replayed batch (not the table); readers prune on the epoch column like
any partition key. The table lifecycle is offline: `compact_epochs`
merges old partials into one baseline partition and `vacuum_epochs`
drops epochs below a retention watermark. Epoch ids are only monotone
within one checkpoint lineage: a NEW checkpoint restarts at epoch 0
and would overwrite historical partitions, so sink tables are 1:1
with a checkpoint — reuse it to resume, or point the sink at fresh
tables to start a new lineage.
"""

from __future__ import annotations

from typing import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sketches import merge_partials

EPOCH_COL = "_epoch_id"


def write_epoch(df: DataFrame, table: str, epoch_id: int, *,
                epoch_col: str = EPOCH_COL,
                sub_partition_cols: "tuple[str, ...]" = ()) -> None:
    """Land `df` as partition `epoch_id` of `table`, idempotently:
    a replay overwrites that partition instead of appending a second
    copy — the exactly-once-in-effect contract for non-transactional
    parquet targets.

    `sub_partition_cols` adds partition levels UNDER the epoch (e.g.
    a deterministic hash-shard column) so later readers can prune the
    table below epoch grain; a deterministic batch re-lands the same
    sub-partitions on replay, so dynamic overwrite keeps the contract
    unchanged."""
    spark = df.sparkSession
    out = df.withColumn(epoch_col, F.lit(int(epoch_id)).cast("long"))
    if not spark.catalog.tableExists(table):
        # Bootstrap = schema DDL only (ADVICE r4): register the
        # table EMPTY (overwrite clears any half-written leftovers
        # from a crashed earlier bootstrap), then fall through to
        # the same per-epoch overwrite path as every other epoch —
        # so a replayed first epoch is idempotent too, with no
        # ErrorIfExists window between data write and registration.
        (out.limit(0).write.mode("overwrite")
         .partitionBy(epoch_col, *sub_partition_cols)
         .format("parquet")
         .saveAsTable(table))
    mode_key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(mode_key, "static")
    spark.conf.set(mode_key, "dynamic")
    try:
        # insertInto is position-based; align to the table layout
        cols = spark.table(table).columns
        out.select(*cols).write.mode("overwrite").insertInto(table)
    finally:
        spark.conf.set(mode_key, prev)


def epoch_sink(step: Callable[[DataFrame, int],
                              Iterable["DataFrame | None"]],
               *outputs: "str | tuple[str, tuple[str, ...]] | None"
               ) -> Callable[[DataFrame, int], None]:
    """Build a foreachBatch function from a per-epoch `step`:
    `writeStream.foreachBatch(epoch_sink(step, "db.a", "db.b"))`.

    `step(batch_df, epoch_id)` returns its output relations in the
    order of `outputs`, as any iterable; each lands in its table
    through `write_epoch` as soon as it is produced, so a step that
    must act between two writes (read back what the first landed,
    release a persisted input after the last) is a generator. An
    output is a table name, or a `(table, sub_partition_cols)` pair;
    a `None` relation skips its write (an optional table). A step
    that yields more or fewer relations than declared outputs fails
    loud."""
    specs = [(o, ()) if o is None or isinstance(o, str) else o
             for o in outputs]

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        for (table, sub), df in zip(specs, step(batch_df, epoch_id),
                                    strict=True):
            if df is not None:
                write_epoch(df, table, epoch_id, sub_partition_cols=sub)

    return sink


def read_epochs(spark: SparkSession, table: str, *,
                before: int | None = None,
                merge: "dict[str, str] | None" = None
                ) -> DataFrame | None:
    """A sink's own epoch table, epoch column dropped.

    `before=N` keeps only epochs strictly below N — the replay-safe
    probe of epoch N — and returns None while the table does not exist
    yet (the probe of a sink's first epoch). `merge` maps each value
    column to the aggregate of its family's merge law
    (`CMS_MERGE`, `BLOOM_MERGE`, ...): the epoch partials fold through
    `operators.sketches.merge_partials` into the artifact of the
    concatenated stream."""
    if before is not None and not spark.catalog.tableExists(table):
        return None
    df = spark.table(table)
    if before is not None:
        df = df.filter(F.col(EPOCH_COL) < int(before))
    df = df.drop(EPOCH_COL)
    return merge_partials(df, merge) if merge else df


def require_columns(spark: SparkSession, table: str,
                    cols: "Iterable[str]", message: str, *,
                    partition: bool = False) -> None:
    """Fail loud when an existing `table` lacks any of `cols` (among
    its PARTITION columns with `partition=True`): an older sink version
    created it, and the position-based `write_epoch` would silently
    drop the new columns. `message` is formatted with `have` (the
    table's columns of that kind) and `missing` (the absent ones)."""
    if not spark.catalog.tableExists(table):
        return
    # neither read runs a Spark job: PySpark's catalog.listColumns
    # iterates its result with toLocalIterator, which launches jobs,
    # while the JVM catalog's listColumns Dataset is a local relation
    # and collects driver-side
    have = ([c.name() for c in
             spark._jsparkSession.catalog().listColumns(table).collect()
             if c.isPartition()] if partition
            else spark.table(table).columns)
    missing = sorted(set(cols) - set(have))
    if missing:
        raise ValueError(message.format(have=have, missing=missing))


def epoch_partitions(spark: SparkSession, table: str) -> tuple[list, list]:
    """`table`'s partitions from the catalog alone (SHOW PARTITIONS, no
    data pass): one `(epoch id, [[column, value], ...])` pair per LEAF
    partition, and the epoch values that do not parse as an id. A
    sub-partitioned sink lists one row per leaf ('_epoch_id=N/_hb=K'),
    so the epoch is the FIRST path level (ADVICE r16 #1: the full
    string failed int() and retention silently no-op'd on exactly the
    sharded winner tables)."""
    parts, bad = [], []
    for r in spark.sql(f"SHOW PARTITIONS {table}").collect():
        levels = [seg.split("=", 1) for seg in r[0].split("/")]
        if levels[0][0] != EPOCH_COL:
            continue
        try:
            parts.append((int(levels[0][1]), levels))
        except ValueError:
            bad.append(levels[0][1])
    return parts, bad


def vacuum_epochs(spark: SparkSession, table: str, keep_from: int) -> int:
    """Retention for epoch-partitioned sink tables: drop every epoch
    partition BELOW `keep_from` (the watermark the caller derives from
    its replay/compliance policy) and return how many were dropped.

    The other half of the epoch-sink lifecycle (compaction re-lands
    surviving epochs into coarser partitions; vacuum bounds the
    partition count and enforces retention). Partition-METADATA-only
    end to end: epochs come from `epoch_partitions` (a distinct() over
    the data would scan every epoch and miss registered-but-empty
    partitions) and go with batched ALTER TABLE … DROP statements;
    cost is O(dropped partitions), never O(rows). Drops are CHUNKED
    (ADVICE r8): one ALTER listing a months-idle stream's tens of
    thousands of stale epochs can exceed parser/metastore statement
    limits. A partition value that doesn't parse as an epoch id
    (corruption, a manually created directory) is SKIPPED with a
    warning: retention must not be hostage to one stray directory.
    Idempotent: a rerun with the same watermark drops nothing. A
    replay of a vacuumed epoch would re-create its partition (the
    idempotent sink writes by epoch id); callers must therefore only
    vacuum below their checkpoint's committed offset — the same
    watermark discipline as any state-store eviction."""
    parts, bad = epoch_partitions(spark, table)
    if bad:
        import warnings
        warnings.warn(
            f"vacuum_epochs({table}): skipped {len(bad)} partition "
            f"value(s) that do not parse as epoch ids: {bad[:5]}")
    # drop by FULL leaf spec: a partial PARTITION (_epoch_id = e) spec
    # under DROP IF EXISTS matches no leaf of a multi-level table and
    # silently drops nothing (verified live)
    stale = [(e, levels) for e, levels in parts if e < keep_from]
    leaves = sorted(", ".join("{} = '{}'".format(k, v.replace("'", "''"))
                              for k, v in levels) for _, levels in stale)
    chunk = 200
    for i in range(0, len(leaves), chunk):
        specs = ", ".join(f"PARTITION ({leaf})"
                          for leaf in leaves[i:i + chunk])
        spark.sql(f"ALTER TABLE {table} DROP IF EXISTS {specs}")
    if leaves:
        spark.catalog.refreshTable(table)
    return len({e for e, _ in stale})


def compact_epochs(spark: SparkSession, table: str, upto_epoch: int,
                   merge_cols: "dict[str, str]") -> int:
    """Merge all epoch partials BELOW `upto_epoch` into ONE baseline
    partition at id `upto_epoch - 1` (the newest slot being replaced,
    so later ids stay monotone), then vacuum the older partials.
    Returns partitions dropped. `merge_cols` is the family's merge law
    (`operators.sketches.CMS_MERGE`, `operators.dedup.WINDOW_INDEX_MERGE`,
    ...), so rollup cost stays O(recent epochs).
    Same watermark discipline as vacuum_epochs — only compact below the
    checkpoint's committed offset. The merged partial is eagerly
    localCheckpointed BEFORE the write: the baseline overwrites a
    partition of the same table it was computed from."""
    merged = read_epochs(spark, table, before=upto_epoch,
                         merge=merge_cols).localCheckpoint(eager=True)
    write_epoch(merged, table, upto_epoch - 1)
    return vacuum_epochs(spark, table, keep_from=upto_epoch - 1)
