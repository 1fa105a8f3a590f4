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

from pyspark.sql import DataFrame, Observation, Row, SparkSession
from pyspark.sql import functions as F
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


def create_table(spark: SparkSession, name: str, schema: T.StructType) -> bool:
    """CREATE OR REPLACE TABLE from a declared schema (S5; the reference
    executes per-table .sql DDL files — create_tables.py:62-74): Spark's
    catalogs have no CREATE OR REPLACE for an empty table, so it is
    `drop_table` + CREATE TABLE (no Spark job)."""
    drop_table(spark, name)
    spark.sql(f"CREATE TABLE {name} ({schema.toDDL()}) USING parquet")
    return table_exists(spark, name)


def drop_table(spark: SparkSession, name: str) -> None:
    """DROP TABLE IF EXISTS, and delete the table's location too: the
    in-memory catalog forgets its tables at JVM exit but not their
    directories, and a later CREATE over one fails with
    LOCATION_ALREADY_EXISTS. The session catalog resolves the location
    (current database, identifier case, database location)."""
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    state = spark._jsparkSession.sessionState()
    ident = state.sqlParser().parseTableIdentifier(name)
    db = ident.database()
    if db.isDefined() and not spark.catalog.databaseExists(db.get()):
        return
    path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(
        state.catalog().defaultTablePath(ident))
    fs = path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    if fs.exists(path):
        fs.delete(path, True)


def replace_table(df: DataFrame, name: str) -> int:
    """CREATE OR REPLACE TABLE `name` AS SELECT (S5, R6): drop the table
    and its location, land `df` as parquet, return its row count.

    The count is an Observation on the write, which reports the FIRST
    action on its plan: a zero is checked against the table, so a count
    taken by some other action fails loud."""
    spark = df.sparkSession
    drop_table(spark, name)
    obs = Observation()
    (df.observe(obs, F.count(F.lit(1)).alias("n"))
     .write.format("parquet").saveAsTable(name))
    n = obs.get["n"]
    if n == 0 and not spark.table(name).isEmpty():
        raise RuntimeError(f"{name}: the write's row-count Observation "
                           "saw 0 rows but the table is not empty")
    return n


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
