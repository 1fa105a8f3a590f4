"""JSONL (newline-delimited JSON) ingestion — the training-corpus
interchange format.

Web-scale text corpora (Common-Crawl derivatives, chat logs, eval
suites) ship as JSONL, not CSV; this module gives that format the same
Snowflake-COPY-shaped contract `sources.csv_format` gives CSV
(reference FILE_FORMAT/COPY surface:
/root/reference/rahil/create_stages.py:23-30, load_data.py:41-59):

- schema-DECLARED read — no sampling-based inference pass (an extra
  full scan at 100 TB, and nondeterministic under sampling);
- PERMISSIVE parse with a corrupt-record column standing in for
  ON_ERROR='CONTINUE': a malformed line becomes one quarantined row,
  never a failed job;
- per-file loaded/rejected accounting (`input_file_name()`), the COPY
  result summary an orchestrator logs and alerts on.

Scale notes: JSONL splits by newline, so a single huge file still
fans out across tasks (unlike multi-line JSON, which is
whole-file-per-task — rejected here on purpose: `multiLine` stays
false). Parsing is JVM-side Jackson under whole-stage codegen; the
accounting aggregates are one count per (file, good|bad) — bounded by
file count, not rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .csv_format import (CORRUPT_COL, LoadReport, copy_accounting,
                         with_corrupt_field)

JSONL_OPTIONS = {
    "mode": "PERMISSIVE",
    "columnNameOfCorruptRecord": CORRUPT_COL,
    "multiLine": "false",      # newline-split parallelism — see module doc
}


def read_jsonl(spark: SparkSession, path: str,
               schema: T.StructType) -> DataFrame:
    """Schema-declared JSONL read. Missing keys are NULL (JSON's
    absent-field semantics), extra keys are ignored (schema projection
    — Jackson never materializes unrequested fields), malformed lines
    land whole in the corrupt-record column."""
    return (spark.read.options(**JSONL_OPTIONS)
            .schema(with_corrupt_field(schema)).json(path))


def copy_into_jsonl(spark: SparkSession, path: str, schema: T.StructType,
                    table: str) -> LoadReport:
    """COPY INTO table FROM jsonl-stage with ON_ERROR=CONTINUE
    accounting — the JSONL twin of `csv_format.copy_into`: both
    formats share `csv_format.copy_accounting`, so the accounting
    semantics cannot drift between them."""
    return copy_accounting(read_jsonl(spark, path, schema), table)
