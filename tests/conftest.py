from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
os.environ.setdefault("SPARK_GRAFT_SHUFFLE", "8")

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from snowflake_azure_etl_spark.session import get_spark
    s = get_spark("engine-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture()
def orphan_location(spark):
    """`orphan_location(db, table)` leaves parquet files where managed
    table `db.table` lives, with no catalog entry: what a table of an
    earlier session leaves behind under the in-memory catalog, which
    forgets its tables at JVM exit but not their directories."""
    def make(db: str, table: str) -> None:
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
        spark.sql(f"DROP TABLE IF EXISTS {db}.{table}")
        wh = spark.conf.get("spark.sql.warehouse.dir")
        spark.range(2).write.mode("overwrite").parquet(
            f"{wh}/{db}.db/{table}")
        assert not spark.catalog.tableExists(f"{db}.{table}")
    return make
