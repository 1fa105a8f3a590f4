"""SparkSession factory.

The reference opens one Snowflake connection per pipeline step
(/root/reference/rahil/connection.py:18-35); here a single SparkSession is
the engine. Local-mode defaults follow the bench contract (local[N] with
N = $SPARK_GRAFT_CPUS, else the core count); at cluster scale the same
builder is used with a real master URL. Sizes (cores, shuffle partitions,
driver heap, warehouse dir) come from environment variables, else from
the machine (cores, a quarter of physical memory); the tuning
configs below are literals, and ``get_spark(extra_conf=)`` overrides any
of them.

Scale notes (100 TB design point):
- AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  dynamic broadcast decisions replace hand-tuned partition counts.
- shuffle.partitions is only the *initial* number; AQE coalesces. On a
  1000-executor cluster set it ~2-3x total cores via SPARK_GRAFT_SHUFFLE.
- Session TZ pinned to UTC so date/timestamp semantics are engine-stable
  (and match the DuckDB oracle, whose timestamps are naive-UTC).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def cpu_count() -> int:
    """Local-mode worker threads: ``$SPARK_GRAFT_CPUS``, else the
    machine's core count."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))


def _driver_memory() -> str:
    """Driver heap: ``$SPARK_GRAFT_DRIVER_MEM``, else a quarter of the
    machine's physical memory, capped at 16g — a 16g default on a 16 GB
    box let two local sessions side by side exhaust it."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(phys // 4 >> 20, 16 << 10)}m"


def get_spark(app_name: str = "snowflake_azure_etl_spark",
              master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or get) the engine session.

    An existing active session is reused with its configs (the driver may
    hand us one); otherwise a local session is built with engine defaults.
    """
    cpus = cpu_count()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions",
                str(shuffle_partitions
                    or int(os.environ.get("SPARK_GRAFT_SHUFFLE", cpus))))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", _driver_memory())
        # managed-table home for the warehouse build (kept out of the
        # repo; at cluster scale this is the lake/metastore location)
        .config("spark.sql.warehouse.dir",
                os.environ.get("SPARK_GRAFT_WAREHOUSE_DIR",
                               "/tmp/spark_graft_warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # runtime bloom-filter injection: a selective filter on one side
        # of a shuffle join grows a bloom filter that pre-filters the
        # other side's scan — the automatic sibling of
        # plans.layout.prefilter_semi (set explicitly: the engine's
        # scale contract, not a version default)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # long-lived sessions accumulate broadcast/shuffle blocks that
        # only clear when the driver GCs; with a large heap that can be
        # never — force a periodic GC so ContextCleaner actually runs.
        # 150s (was 45s): each forced collection pauses the whole
        # local-mode JVM, and the pause grows with cached state — at
        # 45s a 50-query workload absorbed 1-2 multi-second pauses per
        # sweep (measured ~15% of suite wall); 150s still bounds block
        # accumulation to ~2.5 min while cutting pause frequency 3x
        .config("spark.cleaner.periodicGC.interval", "150s")
        # Generated-code cache (r16, measured via a same-window A/B):
        # CodeGenerator's compiled-class cache is a STATIC conf with a
        # default of only 100 entries — a 50-query serving catalog
        # holds ~10-20 WholeStageCodegen units per query, so under any
        # multi-query rotation every query EVICTED and re-compiled
        # (janino) its whole generated-code set on every execution;
        # identical-plan re-runs hid it, any realistic query mix paid
        # it. Measured at sf0.1/local[32], rotation best-of-5, quiet
        # window (canary-pinned): q01 2.02->0.49 s, q29 1.98->0.78,
        # q48 1.15->0.21, q08 0.71->0.21, q14 0.95->0.29. 4096 entries
        # bounds the cache at a few hundred MB of driver heap worst
        # case — the same reasoning holds on a production driver
        # serving a catalog of prepared statements.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # Shuffle writer choice (r16, measured via thread dumps): with
        # reduce counts <= 200 Spark picks BypassMergeSortShuffleWriter,
        # which opens one file PER REDUCE PARTITION per map task and then
        # concatenates them through FileChannel.transferTo — an
        # mmap+munmap pair per segment, and every munmap is a TLB
        # shootdown IPI across all cores. Task threads showed as
        # RUNNABLE-but-blocked in map0/unmap0 (~0.4 s wall per task at
        # ~0.04 s CPU). At production scale shuffle.partitions >> 200 so
        # the serialized sort writer runs ANYWAY; threshold 1 makes
        # local mode use the same writer production uses (one spill
        # file per map task, no per-partition files, no mmap). Measured
        # warm serve at sf0.1/local[32]: q01 0.88->0.45 s,
        # q40 1.25->0.50 s, q50 2.82->1.83 s, q58 3.20->2.41 s.
        .config("spark.shuffle.sort.bypassMergeThreshold", "1")
        # Companion setting: remaining transferTo copies (spill merges)
        # also mmap per segment; for the many-small-segment shapes here
        # a plain stream copy is cheaper. On a cluster with multi-GB
        # spill merges set it back to true through
        # ``extra_conf={"spark.file.transferTo": "true"}`` — large
        # sequential segments are where transferTo actually wins.
        .config("spark.file.transferTo", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
