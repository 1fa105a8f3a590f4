"""Stage listing + COPY orchestration (SURVEY §2.1 S2, S3).

The reference lists stage files (`LIST @stage` —
/root/reference/rahil/load_data.py:32-38) before each
`COPY INTO tbl FROM @stage ON_ERROR='CONTINUE'` and sums per-file
`rows_loaded` from the COPY result (load_data.py:41-59). The COPY
semantics themselves (PERMISSIVE read + corrupt-record accounting)
live in sources.csv_format; this module adds the listing and the
list-then-load-else-skip flow.

Scale: the listing is one namenode/object-store call; the CSV scan
parallelizes by file/split exactly like the warehouse-side COPY.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from ..sources.csv_format import LoadReport, copy_into  # noqa: F401  (re-export)
from .ddl import drop_table


def list_stage(spark: SparkSession, path_glob: str) -> list[tuple[str, int]]:
    """LIST @stage analog (S2): (path, size_bytes) per staged file.

    Uses the Hadoop FS API (the same listing executors read from), so it
    works unchanged for file://, abfss://, s3a:// stages.
    """
    sc = spark.sparkContext
    hconf = sc._jsc.hadoopConfiguration()
    jpath = sc._jvm.org.apache.hadoop.fs.Path(path_glob)
    fs = jpath.getFileSystem(hconf)
    statuses = fs.globStatus(jpath)
    if statuses is None:
        return []
    return sorted((str(s.getPath().toString()), int(s.getLen()))
                  for s in statuses)


def load_stage_if_present(spark: SparkSession, path_glob: str,
                          schema: T.StructType,
                          table: str) -> LoadReport | None:
    """The reference's per-entity flow: LIST, skip-if-empty, else COPY
    with accounting (load_data.py:22-74). Returns None when the stage
    has no files (reported as a skipped entity, not a failure)."""
    if not list_stage(spark, path_glob):
        return None
    return copy_into(spark, path_glob, schema, table)


#: Where COPY load history lives (Snowflake keeps this per table in
#: metadata; the engine's analog is a tiny parquet-backed table).
LOAD_HISTORY_TABLE = "etl_load_history"


def copy_with_history(spark: SparkSession, path_glob: str,
                      schema: T.StructType, table: str, force: bool = False,
                      history_table: str = LOAD_HISTORY_TABLE
                      ) -> LoadReport | None:
    """COPY with Snowflake's load-history semantics: a file already
    loaded into `table` is SKIPPED on re-COPY, so the reference's load
    scripts stay rerunnable without double-loading
    (Snowflake COPY's default; load_data.py:41-59 relies on it —
    rerunning the loader reports 0 rows loaded, not duplicates).
    ``force=True`` is COPY's FORCE=TRUE: reload everything.

    File identity is (path, size) — a restaged file with a different
    size reloads (the engine's stand-in for Snowflake's etag match; a
    same-size in-place edit is NOT detected, same as an etag-less
    store). History is a tiny per-(table, file) relation: the
    listing-vs-history diff happens driver-side on the bounded LIST
    result (file count, not rows), and only the surviving files are
    handed to the parallel COPY scan.

    Returns None when nothing needs loading (empty stage or all files
    already in history); the skip still counts as success, exactly
    like Snowflake's 'Copy executed with 0 files processed'."""
    from pyspark.sql import functions as F

    listing = list_stage(spark, path_glob)
    if not listing:
        return None
    seen: set[tuple[str, int]] = set()
    if spark.catalog.tableExists(history_table):
        # history is read even under force: forced reloads must not
        # append duplicate rows for already-recorded files, or the
        # relation (and its driver-side collect) grows per rerun
        seen = {(r["file_path"], r["file_size"])
                for r in (spark.table(history_table)
                          .filter(F.col("table_name") == table)
                          .select("file_path", "file_size").collect())}
    else:  # the append below must not meet an earlier session's location
        drop_table(spark, history_table)
    todo = (list(listing) if force
            else [(p, sz) for p, sz in listing if (p, sz) not in seen])
    if not todo:
        return None
    report = copy_into(spark, [p for p, _ in todo], schema, table)
    unseen = [(table, p, sz) for p, sz in todo if (p, sz) not in seen]
    if unseen:
        hist = spark.createDataFrame(
            unseen, "table_name string, file_path string, file_size long")
        (hist.write.mode("append").format("parquet")
         .saveAsTable(history_table))
    return report
