"""Data-quality validation (warehouse/quality.py): each rule family
vs hand-counted fixtures, the one-scan plan contract, and validation
errors."""

from __future__ import annotations

import pytest

from snowflake_azure_etl_spark.warehouse.quality import Rule, validate

ROWS = [
    (1, "A", 0.00),
    (2, "A", 0.05),
    (2, "R", 0.10),      # duplicate key, out-of-range value
    (None, "X", -0.01),  # null key, bad segment, out-of-range value
    (4, None, 0.02),     # NULL segment: exempt from accepted_values
]


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame(
        ROWS, "k bigint, seg string, disc double")


def test_each_rule_family(spark, df):
    got = {r["rule"]: (r["n_violations"], r["passed"]) for r in validate(
        df, [Rule("not_null", "k"),
             Rule("unique", "k"),
             Rule("accepted_values", "seg", values=("A", "N", "R")),
             Rule("in_range", "disc", lo=0.0, hi=0.05)]).collect()}
    assert got["k_not_null"] == (1, False)
    assert got["k_unique"] == (1, False)          # one extra '2'
    assert got["seg_accepted_values"] == (1, False)  # 'X'; NULL exempt
    assert got["disc_in_range"] == (2, False)     # 0.10 and -0.01


def test_all_pass_on_clean_table(spark):
    clean = spark.createDataFrame([(1, "A"), (2, "N")],
                                  "k bigint, seg string")
    out = validate(clean, [Rule("not_null", "k"), Rule("unique", "k"),
                           Rule("accepted_values", "seg",
                                values=("A", "N"))]).collect()
    assert all(r["passed"] and r["n_violations"] == 0 for r in out)


def test_single_scan_plan(spark, df):
    """All rules compile into one aggregate over one scan — the plan
    must contain exactly one scan of the input and no join."""
    out = validate(df, [Rule("not_null", "k"), Rule("unique", "k"),
                        Rule("in_range", "disc", lo=0, hi=1)])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan ExistingRDD") == 1
    assert "Join" not in plan


def test_validation_errors(spark, df):
    with pytest.raises(ValueError):
        validate(df, [])
    with pytest.raises(ValueError):
        validate(df, [Rule("accepted_values", "seg")])
    with pytest.raises(ValueError):
        validate(df, [Rule("in_range", "disc", lo=0.0)])
    with pytest.raises(ValueError):
        validate(df, [Rule("bogus", "k")])
    with pytest.raises(ValueError):
        validate(df, [Rule("not_null", "k"), Rule("unique", "k",
                                                  name="k_not_null")])


def test_warehouse_contracts_pass_and_fail_loudly(spark, sf_dir):
    """The runner's post-build validation passes on the real build and
    aborts on a violated contract."""
    from snowflake_azure_etl_spark.warehouse import runner

    db = runner.warehouse_database()
    if not spark.catalog.databaseExists(db):
        runner.run_warehouse_build(spark, sf_dir)
    results = runner.validate_warehouse(spark, db)
    assert results and all(v == 0 for v in results.values())
    assert "dim_customer.dim_customer_id_unique" in results

    from snowflake_azure_etl_spark.warehouse.ddl import \
        drop_orphan_location
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}_dqtest")

    def validate_with_dim_customer(rows):
        """Validate a db holding only `rows` as dim_customer, under
        dim_customer's contracts alone."""
        spark.sql(f"DROP TABLE IF EXISTS {db}_dqtest.dim_customer")
        drop_orphan_location(spark, f"{db}_dqtest.dim_customer")
        rows.write.mode("overwrite").saveAsTable(
            f"{db}_dqtest.dim_customer")
        old = dict(runner.WAREHOUSE_CONTRACTS)
        try:
            runner.WAREHOUSE_CONTRACTS.clear()
            runner.WAREHOUSE_CONTRACTS["dim_customer"] = \
                old["dim_customer"]
            runner.validate_warehouse(spark, f"{db}_dqtest")
        finally:
            runner.WAREHOUSE_CONTRACTS.clear()
            runner.WAREHOUSE_CONTRACTS.update(old)

    # a poisoned table trips the gate
    poisoned = spark.table(f"{db}.dim_customer").limit(2)
    with pytest.raises(runner.EtlStepError) as e:
        validate_with_dim_customer(
            poisoned.unionByName(poisoned.limit(1)))
    assert "unique" in str(e.value)
    # clean dims but no fact_sales: its FK contracts cannot run, and a
    # missing contract table fails the step instead of passing it
    spark.sql(f"DROP TABLE IF EXISTS {db}_dqtest.fact_sales")
    with pytest.raises(runner.EtlStepError, match="fact_sales"):
        validate_with_dim_customer(poisoned)


def test_referential_violations(spark):
    from snowflake_azure_etl_spark.warehouse.quality import \
        referential_violations

    parent = spark.createDataFrame([(1,), (2,), (3,)], "pid bigint")
    child = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 9), (4, None)], "row_id bigint, pid bigint")
    # 9 is orphaned; NULL is exempt (not_null is its own rule)
    assert referential_violations(child, "pid", parent, "pid",
                                  n_parent_rows=10) == 1
    clean = child.filter("pid IS NULL OR pid <= 3")
    assert referential_violations(clean, "pid", parent, "pid") == 0


def test_pii_phone_and_ipv4_counts(spark):
    from snowflake_azure_etl_spark.operators import text
    import pyspark.sql.functions as F
    rows = [
        (1, "call +1-555-123-4567 or (555) 987-6543 today"),
        (2, "server at 192.168.0.1 and 10.0.0.255 replied"),
        (3, "no pii here at all"),
        (4, "mixed: 555-123-4567 via 8.8.8.8 and a@b.co"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in df.select(
        "doc_id",
        text.pii_phone_count("text").alias("ph"),
        text.pii_ipv4_count("text").alias("ip"),
        text.redact_pii_all("text").alias("red")).collect()}
    assert got[1]["ph"] == 2 and got[1]["ip"] == 0
    assert got[2]["ip"] == 2 and got[2]["ph"] == 0
    assert got[3]["ph"] == got[3]["ip"] == 0
    assert got[4]["ph"] == 1 and got[4]["ip"] == 1
    red = got[4]["red"]
    assert "555-123-4567" not in red and "8.8.8.8" not in red \
        and "a@b.co" not in red and red.count("<PII>") == 3
    assert got[3]["red"] == "no pii here at all"


def test_gopher_dup_line_and_top_bigram(spark):
    from snowflake_azure_etl_spark.operators import text
    rows = [
        (1, "same line\nsame line\nother line"),     # 1/3 lines repeat
        (2, "one line only"),
        (3, "go go go go go"),                       # one bigram loops
        (4, "all words fully distinct here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in df.select(
        "doc_id",
        text.duplicate_line_fraction("text").alias("dl"),
        text.top_bigram_mass("text").alias("tb")).collect()}
    assert abs(got[1]["dl"] - 1/3) < 1e-12
    assert got[2]["dl"] == 0.0
    assert got[3]["tb"] == 1.0        # "go go" is every bigram
    assert abs(got[4]["tb"] - 0.25) < 1e-12   # 4 bigrams, all unique
    assert got[2]["tb"] == 0.0 or got[2]["tb"] > 0  # defined, no crash
