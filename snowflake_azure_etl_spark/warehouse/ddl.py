"""DDL + catalog surface (SURVEY §2.1 S4, S5, S9; §2.8 F10).

The reference runs CREATE DATABASE IF NOT EXISTS / CREATE OR REPLACE
TABLE / SHOW DATABASES / SHOW TABLES / DESCRIBE TABLE as Snowflake SQL
(/root/reference/rahil/create_database.py:33-46,
/root/reference/rahil/create_tables.py:52-85,
/root/reference/rahil/view_sample_data.py:32) and probes the connection
with current_version() (/root/reference/rahil/connection.py:30). Spark's
catalog speaks the same statements natively; these helpers add the
reference's existence-verification idiom (create, then confirm via the
catalog) on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import types as T


def create_database(spark: SparkSession, name: str) -> bool:
    """CREATE DATABASE IF NOT EXISTS + existence check (S4; reference
    create_database.py:33-46 probes SHOW DATABASES LIKE before/after)."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {name}")
    return database_exists(spark, name)


def database_exists(spark: SparkSession, name: str) -> bool:
    """SHOW DATABASES LIKE analog (S9): a catalog lookup, no Spark job
    (listing the databases launches jobs on a cold session)."""
    return spark.catalog.databaseExists(name)


def create_table(spark: SparkSession, name: str, schema: T.StructType,
                 replace: bool = True) -> bool:
    """CREATE OR REPLACE TABLE from a declared schema (S5; the reference
    executes per-table .sql DDL files — create_tables.py:62-74). Spark's
    in-memory/hive catalogs have no CREATE OR REPLACE TABLE for empty
    tables, so REPLACE = DROP + CREATE (same idempotent contract)."""
    if replace:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        drop_orphan_location(spark, name)
    spark.sql(f"CREATE TABLE IF NOT EXISTS {name} ({schema.toDDL()}) USING parquet")
    return table_exists(spark, name)


def drop_orphan_location(spark: SparkSession, name: str) -> None:
    """Remove a managed-table location left behind by a previous session
    (the in-memory catalog forgets tables at JVM exit, their dirs don't) —
    required for CREATE OR REPLACE to be idempotent across sessions."""
    db, _, tbl = name.rpartition(".")
    wh = spark.conf.get("spark.sql.warehouse.dir")
    rel = f"{db}.db/{tbl}" if db and db != "default" else tbl
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(f"{wh}/{rel}")
    fs = path.getFileSystem(hconf)
    if fs.exists(path):
        fs.delete(path, True)


def table_exists(spark: SparkSession, name: str) -> bool:
    """SHOW TABLES existence verification (S9; create_tables.py:76-85
    cross-checks every created table with a ✅/❌ report)."""
    return spark.catalog.tableExists(name)


def list_tables(spark: SparkSession, database: str | None = None) -> list[str]:
    """SHOW TABLES analog (S9)."""
    return sorted(t.name for t in spark.catalog.listTables(database))


def describe_table(spark: SparkSession, name: str) -> DataFrame:
    """DESCRIBE TABLE analog (S9; view_sample_data.py:32)."""
    return spark.sql(f"DESCRIBE TABLE {name}")


def engine_version(spark: SparkSession) -> str:
    """current_version() connection probe analog (F10;
    reference connection.py:30)."""
    return spark.version


def sample_table(spark: SparkSession, name: str, n: int = 5) -> tuple[list[Row], int]:
    """Top-N preview + exact count — the reference's universal
    verification sink (S10; view_sample_data.py:36-46)."""
    df = spark.table(name)
    return df.limit(n).collect(), df.count()
