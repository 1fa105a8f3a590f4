"""JSONL source (sources/jsonl_format.py): schema-declared read,
corrupt-line quarantine (ON_ERROR=CONTINUE twin), missing/extra key
semantics, and per-file COPY accounting."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from snowflake_azure_etl_spark.sources import jsonl_format

SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
])

GOOD_A = [
    '{"doc_id": 1, "text": "hello world", "lang": "en"}',
    '{"doc_id": 2, "text": "bonjour", "lang": "fr", "extra": "ignored"}',
    '{"doc_id": 3, "text": "missing lang key"}',
]
FILE_B = [
    '{"doc_id": 4, "text": "ok", "lang": "en"}',
    '{not valid json at all',
    '{"doc_id": "not-a-number", "text": 5, "lang": []}',
    '{"doc_id": 6, "text": "also ok", "lang": "de"}',
]


@pytest.fixture(scope="module")
def stage(tmp_path_factory):
    d = tmp_path_factory.mktemp("jsonl_stage")
    (d / "a.jsonl").write_text("\n".join(GOOD_A) + "\n")
    (d / "b.jsonl").write_text("\n".join(FILE_B) + "\n")
    return str(d)


def test_read_jsonl_semantics(spark, stage):
    df = jsonl_format.read_jsonl(spark, stage + "/a.jsonl", SCHEMA)
    rows = {r["doc_id"]: r for r in df.collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[2]["lang"] == "fr"            # extra key ignored
    assert rows[3]["lang"] is None            # missing key -> NULL
    assert all(r[jsonl_format.CORRUPT_COL] is None for r in rows.values())


def test_copy_into_jsonl_accounting(spark, stage):
    from snowflake_azure_etl_spark.warehouse import ddl

    spark.sql("CREATE DATABASE IF NOT EXISTS jsonl_test_db")
    ddl.drop_table(spark, "jsonl_test_db.docs")
    rep = jsonl_format.copy_into_jsonl(
        spark, stage + "/*.jsonl", SCHEMA, "jsonl_test_db.docs")
    # a: 3 good; b: 2 good, 1 malformed line, 1 type-mismatch line
    assert rep.rows_loaded == 5
    assert rep.rows_rejected == 2
    assert len(rep.files) == 2
    assert sorted(rep.files.values()) == [2, 3]
    got = spark.table("jsonl_test_db.docs")
    assert got.count() == 5
    assert set(got.columns) == {"doc_id", "text", "lang"}
    assert {r["doc_id"] for r in got.collect()} == {1, 2, 3, 4, 6}


def test_single_file_still_parallel(spark, stage):
    """multiLine=false keeps JSONL newline-splittable: the scan of one
    file must not be forced whole-file-per-task (the option contract;
    tiny files still read as one split)."""
    assert jsonl_format.JSONL_OPTIONS["multiLine"] == "false"
    df = jsonl_format.read_jsonl(spark, stage + "/a.jsonl", SCHEMA)
    assert df.count() == 3
