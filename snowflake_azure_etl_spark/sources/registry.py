"""Source registry — the engine-side analog of Snowflake external stages.

The reference registers one named stage per entity pointing at an Azure
Blob container with a shared CSV file format
(/root/reference/rahil/create_stages.py:23-30,45-49). Here a `Stage` is a
named (path, format, schema, options) record; `SourceRegistry` resolves a
stage to a DataFrame read. The CSV semantics of the reference's
FILE_FORMAT (skip 1 header row, ','-delimited, NULL/'null'/empty -> NULL)
are reproduced by `csv_format.snowflake_csv_options`.

At scale the path is an abfss:// / s3:// URI and the same registry drives
a 1000-executor read; the testdata helper below just points stages at the
local parquet star.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

STAR_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

#: The fact and corpus stages: the ones `load_tables` hands out
#: scan-balanced (see `_balanced`). Dims stay raw — they are just as
#: monolithic in testdata, but dim-sized and broadcast, so balancing
#: them would only add a repartition and a persisted copy to every plan.
BALANCED_STAGES = frozenset(
    {"orders", "lineitem", "events", "documents", "embeddings"})


def _fix_events_ts(df: DataFrame) -> DataFrame:
    """events.parquet stores ts as TIMESTAMP(NANOS), which Spark's
    vectorized reader rejects; with
    spark.sql.legacy.parquet.nanosAsLong=true it surfaces as a long.
    Convert to a microsecond timestamp by integer division (`div`, not
    `/`: ns-since-epoch exceeds double's 53-bit mantissa) — truncation
    matches DuckDB's ns->us behavior exactly."""
    from pyspark.sql import functions as F  # local: avoid cycle at import
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df


TABLE_FIXUPS = {"events": _fix_events_ts}


@dataclass(frozen=True)
class Stage:
    """A named pointer to external data + how to read it."""
    name: str
    path: str
    format: str = "parquet"
    schema: T.StructType | None = None
    options: dict = field(default_factory=dict)


class SourceRegistry:
    """entity name -> Stage; the engine's CREATE STAGE / LIST / read surface."""

    def __init__(self) -> None:
        self._stages: dict[str, Stage] = {}

    def register(self, stage: Stage) -> None:
        # CREATE OR REPLACE semantics (reference: create_stages.py:46)
        self._stages[stage.name] = stage

    def stages(self) -> list[str]:
        """SHOW STAGES analog (reference: create_stages.py:59)."""
        return sorted(self._stages)

    def get(self, name: str) -> Stage:
        return self._stages[name]

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        st = self._stages[name]
        reader = spark.read.format(st.format).options(**st.options)
        if st.schema is not None:
            reader = reader.schema(st.schema)
        df = reader.load(st.path)
        fix = TABLE_FIXUPS.get(name)
        return fix(df) if fix else df

    @classmethod
    def for_star_dir(cls, sf_dir: str,
                     tables: Iterable[str] = STAR_TABLES) -> "SourceRegistry":
        reg = cls()
        for t in tables:
            reg.register(Stage(name=t, path=f"{sf_dir}/{t}.parquet"))
        return reg


def read_stage(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """One testdata stage as its plain parquet read. `load_tables`
    wraps this with the relation-catalog cache and the scan balancing;
    a query whose contract is the scan itself (filters and column
    pruning pushed into the parquet reader — q02) reads it directly,
    since a balanced, persisted relation hides the scan."""
    # Engine date/timestamp semantics are UTC (SURVEY session posture;
    # oracle timestamps are naive-UTC). get_spark pins this for its own
    # sessions, but the workload also runs on DRIVER-provided sessions
    # whose tz may differ — year()/date_trunc()/window() over LTZ
    # columns are session-tz dependent, so pin it at relation
    # resolution — here and on every `load_tables` lookup, the gates
    # every query passes through (runtime-settable conf, like
    # nanosAsLong below).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if table == "events":
        # runtime-settable; required to read nanos-timestamp parquet
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return SourceRegistry.for_star_dir(sf_dir, (table,)).read(spark, table)


def load_tables(spark: SparkSession, sf_dir: str,
                tables: Iterable[str] = STAR_TABLES) -> dict[str, DataFrame]:
    """Read the testdata star as DataFrames keyed by table name.

    Resolved DataFrames (plans, not data) are cached on the session —
    the engine's relation-catalog cache. Resolving a parquet relation
    costs a driver-side footer read per table; a workload of dozens of
    queries over the same stages would otherwise pay it per query. The
    cache dies with the session, so a restarted session (tests) never
    sees stale plans.

    The catalog also owns the stage's scan layout: a `BALANCED_STAGES`
    table is handed out through `_balanced`, decided once per (session,
    stage) — every query over a fact or corpus stage reads the same
    relation, and none re-decides its layout.
    """
    from ..operators._cache import session_cache
    cache = session_cache(spark)
    # the UTC pin holds on every lookup, cached or not (see read_stage)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    out: dict[str, DataFrame] = {}
    for t in tables:
        key = (sf_dir, t)
        if key not in cache:
            df = read_stage(spark, sf_dir, t)
            cache[key] = (_balanced(spark, df, sf_dir, t)
                          if t in BALANCED_STAGES else df)
        out[t] = cache[key]
    return out


def footer_row_count(paths: list[str]) -> int | None:
    """Exact row count of parquet files from their footers — no Spark
    job, no data read; what a lake catalog hands out for free, used for
    size attestations instead of a count() job. None for a non-local
    path or an unreadable footer (the caller counts or stays guarded)."""
    from urllib.parse import unquote, urlparse

    import pyarrow.parquet as pq
    total = 0
    try:
        for p in paths:
            u = urlparse(p)
            if u.scheme not in ("", "file"):
                return None
            total += pq.read_metadata(
                unquote(u.path) if u.scheme else p).num_rows
    except (OSError, ValueError):
        return None
    return total


def _stage_footer(sf_dir: str, table: str) -> tuple[int, int, int] | None:
    """(rows, row_groups, bytes) of a stage table's local parquet file,
    from one footer read — what both `stage_row_count` and
    `stage_scan_splits` serve. None for a directory-shaped, non-local
    or unreadable stage, which has no single footer to attest it."""
    import pyarrow.parquet as pq
    path = f"{sf_dir}/{table}.parquet"
    try:
        if not os.path.isfile(path):
            return None
        md = pq.read_metadata(path)
        return md.num_rows, md.num_row_groups, os.path.getsize(path)
    except (OSError, ValueError):
        return None


def stage_row_count(sf_dir: str, table: str) -> int | None:
    """A stage table's exact row count: its footer's (`_stage_footer`),
    or for a directory-shaped stage (a Spark-written one) the
    `footer_row_count` of its part files."""
    path = f"{sf_dir}/{table}.parquet"
    if os.path.isdir(path):
        return footer_row_count([
            os.path.join(root, f) for root, _, files in os.walk(path)
            for f in files if f.endswith(".parquet")])
    footer = _stage_footer(sf_dir, table)
    return footer[0] if footer else None


#: Only inputs this small are ever rebalanced — above it, the natural
#: splits are the right parallelism and a blind repartition would be a
#: full-table shuffle.
REBALANCE_MAX_BYTES = 256 * 1024 * 1024


def stage_scan_splits(sf_dir: str, table: str) -> tuple[int, int] | None:
    """(row_groups, bytes) from the parquet footer — the scan's REAL
    parallelism bound: Spark assigns byte-range splits, but a split
    only materializes row groups whose midpoint it covers, so a
    single-row-group file is read by exactly one task no matter how
    many splits the planner cuts. None without a footer
    (`_stage_footer`)."""
    footer = _stage_footer(sf_dir, table)
    return footer[1:] if footer else None


def _balanced(spark: SparkSession, df: DataFrame,
              sf_dir: str, table: str) -> DataFrame:
    """Round-robin-rebalance a SMALL stage relation whose parquet layout
    caps scan parallelism below the cluster (testdata files are written
    as one row group, so every downstream map-stage operator — joins,
    expands, partial aggregates — runs in ONE task while 31 cores
    idle). The exchange moves the scan output once, and the explicit
    partition count keeps AQE from coalescing it back to one.
    Footer-attested and size-gated: inputs with proper row-group
    layout, or above `REBALANCE_MAX_BYTES`, keep their natural splits
    — at 100 TB this is a no-op by construction, the way a real
    engine's adaptive split compaction only kicks in on pathological
    small-file/monolith layouts.

    The rebalanced relation is persisted via the session relation
    cache (the warehouse-landing-table analog: compact once, reuse):
    the serial single-split scan is paid once per session, and every
    later use reads the already-balanced in-memory partitions. Safe by
    the same size gate that allows the rebalance at all."""
    meta = stage_scan_splits(sf_dir, table)
    if meta is None:
        return df
    row_groups, nbytes = meta
    par = spark.sparkContext.defaultParallelism
    if row_groups >= par or nbytes > REBALANCE_MAX_BYTES:
        return df
    from ..operators._cache import cached_relation
    return cached_relation(df.repartition(par), "rebalanced_stage", table)


def register_star_views(spark: SparkSession,
                        sf_dir: str) -> dict[str, DataFrame]:
    """Load the star and register each table as a temp view (SQL surface)."""
    dfs = load_tables(spark, sf_dir, STAR_TABLES)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
