"""Snowflake-dialect shim tests: DDL in the reference's documented
style (SURVEY §1.2 type usage; private_ddl/example_* templates'
patterns — staging tables, IDENTITY dims, DEFAULT-bearing date dim,
SECURE views) translates and actually executes on Spark."""

from __future__ import annotations

import pytest

from snowflake_azure_etl_spark.compat import (translate_script,
                                              translate_statement)
from snowflake_azure_etl_spark.compat.snowflake_sql import run_script

STAGING_DDL = """
CREATE OR REPLACE TABLE compat_staging_customer (
    CUSTOMERID VARCHAR(255),
    SUBSEGMENTID INTEGER,
    FIRSTNAME VARCHAR(255),
    POSTALCODE VARCHAR(20),
    CREATEDDATE VARCHAR(50)
);
"""

DIM_DDL = """
CREATE OR REPLACE TABLE compat_dim_example (
    DimExampleID INT IDENTITY(1,1) PRIMARY KEY,
    ExampleBusinessKey VARCHAR(255),
    Amount NUMBER(18,2),
    SmallKey NUMBER(9),
    Ratio FLOAT
);
"""

DATE_DDL = """
CREATE OR REPLACE TABLE compat_dim_date (
    DATE_PKEY NUMBER(9) PRIMARY KEY,
    DATE_VALUE DATE,
    ROW_INSERT_DATE DATE DEFAULT to_date(current_timestamp),
    ROW_EXPIRE_DATE DATE DEFAULT to_date('9999-12-31'),
    CURRENT_ROW_IND CHAR(1) DEFAULT 'Y'
);
"""

VIEW_DDL = """
CREATE OR REPLACE SECURE VIEW compat_vw AS
SELECT CUSTOMERID, FIRSTNAME || ' ' || POSTALCODE AS label  -- concat
FROM compat_staging_customer;
"""


def test_number_translation():
    t = translate_statement("CREATE TABLE x (a NUMBER(18,2), b NUMBER(9), c NUMBER)")
    assert "DECIMAL(18,2)" in t.statements[0]
    assert "DECIMAL(9,0)" in t.statements[0]
    assert "DECIMAL(38,0)" in t.statements[0]


def test_identity_and_pk_stripped():
    t = translate_statement(DIM_DDL)
    assert "IDENTITY" not in t.statements[-1].upper()
    assert "PRIMARY KEY" not in t.statements[-1].upper()
    assert any("surrogate" in n for n in t.notes)


def test_defaults_extracted():
    t = translate_statement(DATE_DDL)
    assert t.column_defaults["ROW_INSERT_DATE"] == "to_date(current_timestamp)"
    assert t.column_defaults["CURRENT_ROW_IND"] == "'Y'"
    assert "DEFAULT" not in t.statements[-1].upper()


def test_create_or_replace_table_split():
    t = translate_statement(STAGING_DDL)
    assert t.replaces == "compat_staging_customer"
    assert len(t.statements) == 1
    assert t.statements[0].startswith("CREATE TABLE compat_staging_customer")


def test_create_or_replace_over_orphaned_location(spark, orphan_location):
    """A re-run of a CREATE OR REPLACE TABLE script in a fresh session
    finds the table's directory but no catalog entry; the replace drops
    that directory too instead of failing LOCATION_ALREADY_EXISTS."""
    orphan_location("compat_orphan_db", "t")
    run_script(spark, "CREATE OR REPLACE TABLE compat_orphan_db.t "
                      "(a NUMBER(10,0), b VARCHAR);")
    t = spark.table("compat_orphan_db.t")
    assert t.dtypes == [("a", "decimal(10,0)"), ("b", "string")]
    assert t.isEmpty()


def test_secure_view_degraded():
    t = translate_statement(VIEW_DDL)
    assert "SECURE" not in t.statements[0].upper()
    assert any("SECURE VIEW" in n for n in t.notes)


def test_script_split_respects_literals():
    script = "SELECT 'a;b' AS x; SELECT 'Men''s Casual' AS y"
    parts = translate_script(script)
    assert len(parts) == 2
    assert "Men''s Casual" in parts[1].statements[0]


def test_comment_markers_inside_literals_are_data():
    """ADVICE r5: /* */ and -- inside string literals must survive —
    the scan tracks quote state for comments and semicolons alike."""
    script = ("SELECT 'a /* not a comment */ b' AS x; "
              "SELECT 'dash -- data' AS y; "
              "/* real comment; SELECT 'gone' */ SELECT 'kept' AS z")
    parts = translate_script(script)
    assert len(parts) == 3
    assert "a /* not a comment */ b" in parts[0].statements[0]
    assert "dash -- data" in parts[1].statements[0]
    assert "kept" in parts[2].statements[0]
    assert "gone" not in " ".join(parts[2].statements)


def test_unmatched_open_comment_in_literal_does_not_swallow():
    """The r5 failure mode: an unmatched '/*' inside one literal must
    not swallow statements up to a later '*/'."""
    script = ("SELECT 'open /* only' AS a; SELECT 1 AS b; "
              "SELECT 'close */ only' AS c")
    parts = translate_script(script)
    assert len(parts) == 3
    assert "open /* only" in parts[0].statements[0]
    assert "close */ only" in parts[2].statements[0]


def test_unterminated_block_comment_raises():
    import pytest
    with pytest.raises(ValueError, match="unterminated"):
        translate_script("SELECT 1; /* never closed")


def test_nested_block_comments_snowflake_style():
    """Snowflake block comments nest; the scan must consume the whole
    nested region, not stop at the first '*/'."""
    parts = translate_script(
        "/* outer /* inner */ still comment */ SELECT 'kept' AS x")
    assert len(parts) == 1
    assert "kept" in parts[0].statements[0]
    assert "still comment" not in parts[0].statements[0]
    import pytest
    with pytest.raises(ValueError, match="unterminated"):
        translate_script("/* outer /* inner */ SELECT 1")


def test_end_to_end_execution(spark):
    """The translated reference-style DDL + view + insert actually runs
    on Spark and behaves (|| concat, typed columns, view query)."""
    notes = run_script(spark, STAGING_DDL + DIM_DDL + DATE_DDL + VIEW_DDL)
    assert any("IDENTITY" in n or "surrogate" in n for n in notes)
    spark.sql("INSERT INTO compat_staging_customer VALUES "
              "('c1', 1, 'Ada', '98101', '2013-01-01 00:00:00')")
    row = spark.sql("SELECT label FROM compat_vw").collect()[0]
    assert row.label == "Ada 98101"
    dt = dict(spark.table("compat_dim_example").dtypes)
    assert dt["Amount"] == "decimal(18,2)"
    assert dt["SmallKey"] == "decimal(9,0)"
    for tbl in ("compat_staging_customer", "compat_dim_example",
                "compat_dim_date"):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    spark.sql("DROP VIEW IF EXISTS compat_vw")
