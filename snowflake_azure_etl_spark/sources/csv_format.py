"""Snowflake-style CSV ingestion semantics on Spark.

Reproduces the reference's shared FILE_FORMAT + COPY behavior:
- CSV_FORMAT: ','-delimited, SKIP_HEADER=1, NULL_IF=('NULL','null'),
  EMPTY_FIELD_AS_NULL=TRUE (/root/reference/rahil/create_stages.py:23-30)
- COPY INTO ... ON_ERROR='CONTINUE' with per-file loaded-row accounting
  (/root/reference/rahil/load_data.py:41-59)

Spark mapping: schema-declared read (no inference — the reference trusts
declared DDL), PERMISSIVE mode with a corrupt-record column standing in
for ON_ERROR=CONTINUE, and an accounting pass that reports loaded vs
rejected rows per input file (input_file_name()).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

CORRUPT_COL = "_corrupt_record"

SNOWFLAKE_CSV_OPTIONS = {
    "header": "true",          # SKIP_HEADER = 1
    "sep": ",",
    "nullValue": "NULL",       # NULL_IF = ('NULL', 'null') — see reader note
    "emptyValue": "",          # empty field -> null via nullValue fallback
    "mode": "PERMISSIVE",      # ON_ERROR = 'CONTINUE'
    "columnNameOfCorruptRecord": CORRUPT_COL,
}


@dataclass
class LoadReport:
    """Per-entity COPY accounting (reference load_data.py:48-74)."""
    entity: str
    rows_loaded: int
    rows_rejected: int
    files: dict[str, int]

    @property
    def ok(self) -> bool:
        return self.rows_loaded > 0


def with_corrupt_field(schema: T.StructType) -> T.StructType:
    """`schema` + the PERMISSIVE corrupt-record column every COPY-shaped
    reader (CSV, JSONL, streaming JSONL) declares."""
    return T.StructType(
        list(schema.fields)
        + [T.StructField(CORRUPT_COL, T.StringType(), True)])


def copy_accounting(raw: DataFrame, table: str) -> LoadReport:
    """The shared ON_ERROR=CONTINUE COPY tail: split good/corrupt rows,
    count per source file, append the good rows (COPY INTO only ever
    appends), report. One implementation for every stage format (CSV,
    JSONL) so the accounting semantics can't drift between them."""
    raw = raw.withColumn("_src_file", F.input_file_name()).cache()
    try:
        good = raw.filter(F.col(CORRUPT_COL).isNull())
        per_file = {
            r["_src_file"]: r["n"]
            for r in (good.groupBy("_src_file")
                      .agg(F.count("*").alias("n")).collect())
        }
        rejected = raw.filter(F.col(CORRUPT_COL).isNotNull()).count()
        loaded = sum(per_file.values())
        (good.drop(CORRUPT_COL, "_src_file")
             .write.mode("append").format("parquet").saveAsTable(table))
        return LoadReport(table, loaded, rejected, per_file)
    finally:
        raw.unpersist()


def read_snowflake_csv(spark: SparkSession, path: str | list[str],
                       schema: T.StructType) -> DataFrame:
    """Schema-declared CSV read with the reference's NULL semantics.

    Spark's `nullValue` accepts one token; the reference NULL_IFs both
    'NULL' and 'null'. We read string-typed first is unnecessary — Spark's
    nullValue comparison is exact, so lowercase 'null' in a *string* column
    would survive. We post-process string columns to map 'null' -> NULL,
    matching NULL_IF=('NULL','null').
    """
    df = (spark.read.options(**SNOWFLAKE_CSV_OPTIONS)
          .schema(with_corrupt_field(schema)).csv(path))
    for f_ in schema.fields:
        if isinstance(f_.dataType, T.StringType):
            c = F.col(f_.name)
            df = df.withColumn(
                f_.name,
                F.when(F.lower(c) == "null", F.lit(None)).when(c == "", F.lit(None)).otherwise(c),
            )
    return df


def copy_into(spark: SparkSession, path: str | list[str], schema: T.StructType,
              table: str) -> LoadReport:
    """COPY INTO table FROM stage with ON_ERROR=CONTINUE accounting.

    Bad rows (schema-unparseable) land in the corrupt-record column and are
    dropped, not aborted on — the report carries the rejected count, like
    the reference's per-file COPY result summary.
    """
    return copy_accounting(read_snowflake_csv(spark, path, schema), table)


def read_csv_match_by_name(spark: SparkSession, path: str | list[str],
                           schema: T.StructType) -> DataFrame:
    """COPY ... MATCH_BY_COLUMN_NAME semantics (X-COPY-EVOLVE): the
    file's HEADER drives the mapping (case-insensitively) instead of
    column position, which
    is how Snowflake loads survive stage-schema drift — reordered
    columns load correctly, a column missing from the file lands NULL,
    extra file columns are ignored.

    Spark mapping: the mapping is PER FILE (each staged file's own
    header decides its projection — files with different drift load in
    one COPY, Snowflake's behavior), so the stage listing drives a
    per-file all-string header read; each file gets a name-matched
    projection with the shared NULL_IF normalization, `try_cast` to
    the declared type, and the PERMISSIVE corrupt-record convention —
    a row whose present value fails its cast carries the raw row as
    JSON in the corrupt column, so `copy_accounting`'s
    ON_ERROR=CONTINUE split/report works unchanged. One documented
    divergence from the positional reader: NULL_IF applies BEFORE the
    type cast here (Snowflake's order), so 'null' in an INT column
    loads as NULL — the positional path's typed Spark read can only
    NULL_IF the reader token and rejects that row instead. The listing is
    driver-side and stage-bounded (the LIST contract); every file's
    scan and projection stay fully parallel, and the per-file plans
    union into ONE lazy relation."""
    from ..warehouse.copy_loader import list_stage

    paths = [path] if isinstance(path, str) else list(path)
    files = [p for g in paths for p, _ in list_stage(spark, g)]
    legs = []
    for fpath in files:
        raw = spark.read.options(header="true", sep=",").csv(fpath)
        by_name = {c.lower(): c for c in raw.columns}
        outs: list = []
        bad = F.lit(False)
        for f_ in schema.fields:
            src = by_name.get(f_.name.lower())
            if src is None:
                outs.append(F.lit(None).cast(f_.dataType).alias(f_.name))
                continue
            c = F.col(src)
            c = (F.when(F.lower(c) == "null", F.lit(None))
                 .when(c == "", F.lit(None)).otherwise(c))
            casted = c.try_cast(f_.dataType)
            bad = bad | (c.isNotNull() & casted.isNull())
            outs.append(casted.alias(f_.name))
        corrupt = F.when(bad, F.to_json(F.struct(*[
            F.col(c) for c in raw.columns]))).otherwise(
            F.lit(None).cast("string"))
        legs.append(raw.select(*outs, corrupt.alias(CORRUPT_COL)))
    if not legs:
        return spark.createDataFrame([], with_corrupt_field(schema))
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


def copy_into_match_by_name(spark: SparkSession, path: str | list[str],
                            schema: T.StructType, table: str) -> LoadReport:
    """COPY INTO with MATCH_BY_COLUMN_NAME + ON_ERROR=CONTINUE: the
    schema-drift-tolerant sibling of `copy_into`, same accounting."""
    return copy_accounting(read_csv_match_by_name(spark, path, schema),
                           table)
