"""Physical data-layout strategies for the 100 TB design point.

The reference never controls physical layout — Snowflake micro-partitions
are opaque and automatic (the stage/COPY surface at
/root/reference/rahil/create_stages.py + load_data.py just lands rows).
On Spark, layout is the engine's job, and these primitives are the
scale levers SCALE.md commits to:

- **Bucketed landing** (`land_bucketed` / `bucketed_join`): pre-shuffle a
  big table once at write time on its join key. Two tables co-bucketed on
  the same key join with NO exchange on either side — at 100 TB this
  turns the one genuinely wide fact⋈fact exchange (lineitem⋈orders on
  the order key) into a local zip of pre-sorted buckets.
- **Partitioned landing** (`land_partitioned`): directory-partition a
  fact by a low-cardinality time/tenant key so per-partition predicates
  prune whole directories at planning time (PartitionFilters), reading
  1/N of the lake instead of filtering after the scan.
- **Skew salting** (`salted_join`): when one join key carries a
  disproportionate share of rows (hot product, null-ish default key), a
  plain hash join sends that share to one task. Salting splits the big
  side's hot key across `salt` sub-keys and replicates the small side's
  matching rows — bounded memory per task, no stragglers. AQE's
  skew-join split handles sort-merge cases adaptively; explicit salting
  is the deterministic variant that also covers broadcast-ineligible
  aggregations-after-join.
- **Range-clustered landing** (`land_sorted`): sort the data so parquet
  min/max footer stats become selective — range predicates skip row
  groups and files instead of scanning-and-filtering.
- **Z-order clustered landing** (`land_zorder`): the multi-column
  generalization — interleave the bits of several scaled dimensions
  into one space-filling-curve key and range-cluster on THAT, so each
  file covers a small hyper-rectangle and min/max stats stay selective
  on EVERY clustered column at once (a 1-D sort leaves the second
  column's per-file span at ~the full domain).
- **Semi-join prefilter** (`prefilter_semi`): shrink a fact's shuffle
  to the slice that can actually join — the explicit, exact form of the
  runtime bloom filter the session enables globally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .attest import bounded_broadcast


def land_bucketed(df: DataFrame, table: str, key: str, buckets: int) -> None:
    """Write `df` as a managed table bucketed (and bucket-sorted) on `key`.

    One shuffle now, zero shuffles for every subsequent equi-join or
    aggregation on `key`. Bucket count is a layout contract: both sides
    of a co-located join must use the same `buckets`.
    """
    (df.write.mode("overwrite").bucketBy(buckets, key).sortBy(key)
     .saveAsTable(table))


def bucketed_join(spark: SparkSession, left_table: str, right_table: str,
                  left_key: str, right_key: str) -> DataFrame:
    """Inner-join two co-bucketed tables shuffle-free.

    The MERGE hint pins sort-merge so the demonstration is explicit
    (without it AQE may legitimately choose a broadcast for a small
    side — also shuffle-free, but not the layout being exercised).
    With both inputs bucketed on the join keys with equal bucket
    counts, the physical plan contains no Exchange: each task zips
    bucket i of the left with bucket i of the right.
    """
    left = spark.table(left_table).hint("merge")
    right = spark.table(right_table)
    return left.join(right, left[left_key] == right[right_key])


def land_partitioned(df: DataFrame, path: str,
                     partition_cols: list[str]) -> None:
    """Overwrite parquet directory-partitioned by `partition_cols`.

    Partition columns should be low-cardinality (date key, region,
    tenant): each distinct combination is a directory, and planning-time
    PartitionFilters skip non-matching directories without opening a
    file. High-cardinality keys belong in bucketing, not partitioning
    (a 10^6-directory listing is its own bottleneck).
    """
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def salted_join(big: DataFrame, small: DataFrame, on: list[str],
                how: str = "inner", salt: int = 16) -> DataFrame:
    """Skew-resistant equi-join: big side salted, small side replicated.

    Each big-side row gets a deterministic salt in [0, salt) (hash of
    the whole row — uniform, rerun-stable); the small side is exploded
    `salt`-fold so every (key, salt) bucket finds its match. The hot
    key's rows now hash to `salt` different reducers instead of one.

    Supported `how`: 'inner' and 'left' (big side preserved). Outer
    semantics on the *small* side would see the replicas — rejected.

    Cost model: small side grows ×salt (keep it dim-sized or use a
    higher-level broadcast join instead — salting only pays when the
    small side is above the broadcast threshold AND a key is hot).
    """
    if how not in ("inner", "left", "left_outer"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    if salt < 1:
        raise ValueError("salt must be >= 1")
    big_s = big.withColumn(
        "_salt",
        F.pmod(F.xxhash64(F.struct(*[F.col(c) for c in big.columns])),
               F.lit(salt)).cast("int"))
    small_s = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
    return big_s.join(small_s, on + ["_salt"], how).drop("_salt")


def land_sorted(df: DataFrame, path: str, sort_cols: list[str],
                num_files: int | None = None) -> None:
    """Range-clustered landing (overwrite): range-partition on
    `sort_cols`, sort within each file, write parquet — the engine's
    analog of a Snowflake clustering key (and the 1-D case of
    Z-ordering).

    Every parquet row group then covers a narrow, non-overlapping
    slice of the sort key's domain, so the min/max statistics in file
    footers let a range/point predicate skip whole row groups and
    files at scan time (Spark's parquet filter pushdown does this
    automatically — the *layout* is what makes the stats selective;
    on a random layout every row group spans the full domain and
    nothing skips). `tests/test_layout.py` asserts the written
    footers' per-row-group ranges are disjoint.

    `num_files` caps layout fan-out (range repartition count);
    default = the session's shuffle parallelism.
    """
    parts = df.repartitionByRange(*([num_files] if num_files else []),
                                  *sort_cols)
    (parts.sortWithinPartitions(*sort_cols).write.mode("overwrite")
     .parquet(path))


#: Bits per dimension in the Z-value. 12 bits × up to 5 dims stays
#: inside a long; resolution beyond the file count is wasted anyway.
ZORDER_BITS = 12


def zorder_key(cols: list, bounds: list[tuple[float, float]],
               bits: int = ZORDER_BITS):
    """Morton (Z-order) key: each column is min/max-scaled to a
    `bits`-bit integer rank under the ATTESTED per-column bounds
    (footer/catalog min-max — no data pass), then the ranks' bits are
    interleaved. Pure row-local JVM arithmetic (shift/or over codegen
    expressions) — the key costs one narrow projection.

    Value-scaling is deliberate (vs. rank/ntile scaling): it needs no
    window or shuffle, and clustering only needs *monotone* rank
    approximations. Heavily skewed columns dilute their effective bits
    — pre-transform (e.g. log) such columns at the call site."""
    nd = len(cols)
    if nd < 2:
        raise ValueError("zorder_key: need >= 2 columns (use land_sorted)")
    if len(bounds) != nd:
        raise ValueError("zorder_key: one (min, max) bound per column")
    if nd * bits > 62:
        raise ValueError("zorder_key: nd*bits must fit a long")
    top = (1 << bits) - 1
    z = F.lit(0).cast("long")
    for d, (c, (lo, hi)) in enumerate(zip(cols, bounds)):
        span = float(hi) - float(lo)
        if span <= 0:  # constant column: contributes nothing
            continue
        rank = F.least(
            F.greatest(
                F.floor((F.col(c).cast("double") - F.lit(float(lo)))
                        / F.lit(span) * top).cast("long"),
                F.lit(0)),
            F.lit(top))
        for i in range(bits):
            bit = F.shiftright(rank, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * nd + d))
    return z


def land_zorder(df: DataFrame, path: str, cols: list[str],
                bounds: list[tuple[float, float]] | None = None,
                bits: int = ZORDER_BITS,
                num_files: int | None = None) -> None:
    """Z-order clustered landing (overwrite): range-cluster the data on
    the Morton key of `cols` so every file/row group covers a small
    hyper-rectangle of the clustered columns' joint domain — the
    engine's analog of Delta/Snowflake multi-column clustering keys.

    Predicates on ANY clustered column then skip via min/max footer
    stats: with 2 columns and F files, each file spans ~F^(-1/2) of
    each column's domain (vs. ~1 for the non-sort columns of a 1-D
    layout). `bounds` are the attested per-column (min, max); when
    omitted they come from one scalar min/max aggregate over `df` (a
    single map-reduce pass — at scale, pass catalog/footer bounds
    instead)."""
    if bounds is None:
        aggs = []
        for c in cols:
            aggs += [F.min(c), F.max(c)]
        row = df.agg(*aggs).collect()[0]
        for i, c in enumerate(cols):
            if row[2 * i] is None or row[2 * i + 1] is None:
                raise ValueError(
                    f"land_zorder: cannot infer bounds for column "
                    f"'{c}' (empty input or all-NULL) — pass bounds "
                    f"explicitly or skip the write")
        bounds = [(float(row[2 * i]), float(row[2 * i + 1]))
                  for i in range(len(cols))]
    z = zorder_key(cols, bounds, bits)
    parts = (df.withColumn("_z", z)
             .repartitionByRange(*([num_files] if num_files else []),
                                 "_z"))
    (parts.sortWithinPartitions("_z").drop("_z")
     .write.mode("overwrite").parquet(path))


def prefilter_semi(big: DataFrame, filtered: DataFrame, on: list[str],
                   max_filter_rows: int = 5_000_000) -> DataFrame:
    """Hand-placed runtime filter: reduce `big` to the join keys that
    survive in `filtered` BEFORE a wide shuffle join, via a broadcast
    left-semi join on `filtered`'s distinct key projection.

    At 100 TB this is the difference between shuffling the whole fact
    and shuffling only the matching slice: a selective dim predicate
    (say 1% of customers) cuts the fact's shuffle write ~100× because
    non-matching rows die at the scan stage, not at the reducer.
    Spark's automatic runtime bloom filter (enabled in session.py)
    makes the same move with false positives and a size-capped filter;
    this explicit form is exact, and the guard makes oversize key sets
    fail loudly instead of silently building a giant broadcast.

    The key projection is distinct-ed (dim-grain), size-guarded by a
    bounded probe, and broadcast — the semi join adds no shuffle.
    """
    keys = filtered.select(*on).distinct()
    n = keys.limit(max_filter_rows + 1).count()
    if n > max_filter_rows:
        raise ValueError(
            f"prefilter key set exceeds {max_filter_rows} rows; a "
            "broadcast semi-filter at this size hurts more than it "
            "helps — rely on the runtime bloom filter instead")
    return big.join(bounded_broadcast(keys, n_rows=n,
                                      max_rows=max_filter_rows,
                                      key_only=True),
                    on, "left_semi")


DEFAULT_MAX_BNL_BUILD_ROWS = 1_000_000


def guarded_theta_join(left: DataFrame, right: DataFrame, cond,
                       how: str = "inner",
                       max_build_rows: int = DEFAULT_MAX_BNL_BUILD_ROWS
                       ) -> DataFrame:
    """Non-equi (theta) join with the quadratic-blowup guard SURVEY §7
    commits to: the reference's OR-IS-NULL join shape
    (create_views.py:253-258) forces BroadcastNestedLoopJoin, whose
    cost is |left| × |right| — fine against a dim, catastrophic at
    fact×fact scale. This helper asserts the build (right) side is
    dim-sized BEFORE planning the join, with a bounded probe
    (limit(n+1).count() — never a full scan of an oversized side).

    For a genuinely big×big range/theta join the scale path is a
    coarse-bucket equi-join + residual predicate (see q45's docstring),
    not a bigger BNL.
    """
    n = right.limit(max_build_rows + 1).count()
    if n > max_build_rows:
        raise ValueError(
            f"theta-join build side has >{max_build_rows} rows; a "
            "BroadcastNestedLoopJoin at this size is quadratic — bucket "
            "the condition into an equi-join + residual predicate instead")
    return left.join(bounded_broadcast(right, n_rows=n,
                                       max_rows=max_build_rows),
                     cond, how)


def compact_landing(spark: SparkSession, path: str,
                    target_file_bytes: int = 128 * 1024 * 1024,
                    sort_cols: list[str] | None = None) -> dict:
    """Small-file compaction (X-COMPACT) — the lake's OPTIMIZE step.

    Streaming sinks, per-epoch overwrites, and incremental appends all
    land many small files; at 100 TB the small-files problem is the
    classic lake failure mode (every file costs a driver listing row,
    a task, a footer read, and an open/seek — a million 1 MB files
    turns a 10-minute scan into scheduler overhead). Compaction
    rewrites a landing into ceil(total_bytes / target_file_bytes)
    files, preserving rows exactly.

    The file-count decision comes from the FOOTER metadata the scan
    already collected (sum of on-disk file sizes) — no data pass; the
    rewrite is ONE job: a round-robin repartition (or a range
    repartition + in-file sort when `sort_cols` is given, preserving
    the `land_sorted` skipping property through compaction). The
    rewrite goes through a temp directory + atomic-ish rename swap so
    a failed compaction never leaves the landing half-written;
    real table formats make the swap transactional in metadata — this
    is the directory-landing analog.

    Returns {files_before, files_after, bytes}."""
    def parquet_stats(glob_path: str) -> tuple[int, int]:
        from ..warehouse.copy_loader import list_stage
        listed = list_stage(spark, glob_path)
        return len(listed), sum(sz for _, sz in listed)

    n_before, total = parquet_stats(path.rstrip("/") + "/*.parquet")
    n_files = max(1, -(-total // target_file_bytes))
    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + "._compact_tmp"
    if sort_cols:
        parts = df.repartitionByRange(n_files, *sort_cols)
        parts.sortWithinPartitions(*sort_cols).write.mode(
            "overwrite").parquet(tmp)
    else:
        df.repartition(n_files).write.mode("overwrite").parquet(tmp)
    _swap_dirs(spark, path, tmp)
    n_after, _ = parquet_stats(path.rstrip("/") + "/*.parquet")
    return {"files_before": n_before, "files_after": n_after,
            "bytes": total}


def _swap_dirs(spark: SparkSession, path: str, tmp: str) -> None:
    """Replace `path` with the fully-written `tmp` via two renames +
    a recursive delete on the path's own filesystem (Hadoop FS API, so
    file://, s3a://, abfss:// landings all work — the same handle
    `list_stage` uses). tmp is complete BEFORE the first rename.

    Failure window, stated precisely: between the two renames the
    landing path is ABSENT (readers see no directory until the second
    rename lands) and a crash there strands the data at
    ``._compact_old`` — recover by renaming it back. A stale
    ``._compact_old`` left by such a crash is removed up front when
    the landing also exists (then it can only be the superseded copy —
    Hadoop's rename-onto-existing-DIR would otherwise silently move
    the landing INSIDE it); if the landing is absent the stale dir is
    the only copy, and this helper refuses to run (the read above
    would already have failed) rather than delete it."""
    sc = spark.sparkContext
    jvm = sc._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(sc._jsc.hadoopConfiguration())
    swap = jvm.org.apache.hadoop.fs.Path(path.rstrip("/")
                                         + "._compact_old")
    if fs.exists(swap):
        if not fs.exists(hpath):
            raise IOError(
                f"compact_landing: {path} is absent but a stale "
                f"._compact_old exists — a prior swap crashed between "
                f"renames; rename it back to recover, refusing to "
                f"delete the only copy")
        fs.delete(swap, True)           # superseded leftover, safe
    if not fs.rename(hpath, swap):
        raise IOError(f"compact_landing: cannot stage {path} aside")
    if not fs.rename(jvm.org.apache.hadoop.fs.Path(tmp), hpath):
        fs.rename(swap, hpath)          # roll back, landing unchanged
        raise IOError(f"compact_landing: cannot swap in {tmp}")
    fs.delete(swap, True)
