"""Catalog-wide physical-plan hygiene: EVERY registered query's
executed plan is checked for (a) zero row-at-a-time Python
(BatchEvalPython — the 10-100x slow path), (b) zero undeclared
cartesian products, and (c) BroadcastNestedLoopJoin / MapInPandas /
unpartitioned Window only where the design declares them. A new
query that slips a Python UDF or an accidental cross join into the
catalog fails here, not in a 100 TB run."""

from __future__ import annotations

import pathlib
import re

import pytest

import __spark_entry__ as entry
from snowflake_azure_etl_spark.plans import attest

#: Queries whose plan legitimately carries a BroadcastNestedLoopJoin:
#: the size-guarded theta join (q09), the interval range join (q45),
#: the declared brute-force ANN baseline (q54), and the ONE-ROW
#: broadcast attaches — centroid array (q63), token-frequency map
#: (q57), PageRank's per-round dangling-mass aggregate (q43 — visible
#: in the final plan since the fixed-3-round leg skips mid-loop
#: checkpoints), the funnel/retention denominators (q40 — the
#: one-row step-1 and total-users counts broadcast onto the leg rows),
#: and the r9 one-row stats rows: hourly anomaly moments (q41),
#: histogram total + quantile denominators (q47), BM25 corpus
#: stats (q58), and SQ8 per-dim bounds (q55). r11 adds q53 (the
#: substring index's one-row min_len provenance check, ADVICE r10)
#: and q50 (the DSIR importance model's one-row gram-total
#: normalizers riding the bucket-stats broadcast).
BNLJ_OK = {"q09_theta_or_isnull_join", "q45_range_join",
           "q54_ann_brute_force_topk", "q63_ann_ivf_topk",
           "q57_text_stats", "q43_events_json_props",
           "q40_events_tumbling_window", "q41_events_sliding_window",
           "q47_kmv_sketch", "q58_token_vocab",
           "q55_ann_lsh_bucketed_topk", "q53_dedup_simhash",
           "q50_dedup_exact"}

#: Queries whose plan legitimately carries Arrow-batched Python
#: (mapInPandas): the binary media pipeline.
ARROW_OK = {"q60_multimodal_pipeline"}

#: Queries whose plan carries a Window with no PARTITION BY — a
#: single-partition sort of the window's whole input (Spark's "No
#: Partition Defined for Window operation" warning). Seeded from the
#: catalog as it stands. The window path of plans.prefix runs only
#: under its WINDOW_MAX_ROWS attestation: dim surrogate keys (q23,
#: q24 and the warehouse builds q28, q29, q64), packing offsets and LM
#: terciles (q57). The rest rank small relations: histogram buckets
#: and a top-5 (q47), the SQ8 error ranking (q55), vocabulary
#: rankings (q58). A new entry needs the same kind of reason.
WINDOW_UNPARTITIONED_OK = {
    "q23_surrogate_keys", "q24_unknown_member_fallback",
    "q28_fact_sales_build", "q29_warehouse_rowcounts",
    "q64_fact_src_target_build", "q47_kmv_sketch",
    "q55_ann_lsh_bucketed_topk", "q57_text_stats", "q58_token_vocab"}


def unpartitioned_windows(df) -> list[str]:
    """Window operators with an empty partition spec anywhere in the
    executed plan tree: the adaptive plan and its query stages, cached
    relations' plans and subqueries — read off the plan nodes, not off
    the warnings Spark logs when such a window runs."""
    found = []
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if "Window" in name and node.partitionSpec().isEmpty():
            found.append(f"{name} {node.orderSpec().mkString(', ')}")
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
        elif name.endswith("QueryStage"):
            stack.append(node.plan())
        for seq in (node.children(), node.innerChildren(),
                    node.subqueries()):
            stack.extend(seq.apply(i) for i in range(seq.size()))
    return found


def test_unpartitioned_window_is_detected(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    df = spark.range(10).withColumn("g", F.col("id") % 2)
    planted = df.withColumn(
        "r", F.row_number().over(Window.orderBy("id")))
    got = unpartitioned_windows(planted)
    assert len(got) == 1 and got[0].startswith("Window id#"), got
    # found inside a cached relation too, and not on a partitioned one
    cached = planted.persist()
    try:
        assert len(unpartitioned_windows(cached.join(df, "id"))) == 1
    finally:
        cached.unpersist()
    assert unpartitioned_windows(df.withColumn(
        "r", F.row_number().over(Window.partitionBy("g").orderBy("id")))) \
        == []


# --- broadcast attestation (VERDICT r11 #2) --------------------------------
# The r11 q50 defect class: a corpus-sized F.broadcast hint that no
# audit notices because it is invisible at test scale. Two structural
# guards make it impossible to write silently:
#  1. grep: no raw F.broadcast anywhere in the package — every hint
#     routes through plans.attest.bounded_broadcast, which demands a
#     measured n_rows or a declared construction bound, and caps the
#     declarable max at BROADCAST_MAX_ROWS (KEY_ONLY_MAX_ROWS for
#     narrow key-only projections).
#  2. verify: building every catalog query under attest.verify_mode()
#     counts each declared-bound side for real — a false "one-row
#     stats" claim fails the build, not a 100 TB run.

_PKG = pathlib.Path(__file__).resolve().parents[1] / "snowflake_azure_etl_spark"


def test_no_raw_broadcast_hints():
    offenders = []
    for py in sorted(_PKG.rglob("*.py")):
        if py.name == "attest.py" and py.parent.name == "plans":
            continue
        for i, line in enumerate(py.read_text().splitlines(), 1):
            code = line.split("#", 1)[0]
            # \bbroadcast( catches F.broadcast / sf.broadcast / a bare
            # `from pyspark.sql.functions import broadcast` call alike
            # (review finding r12: the literal substrings missed
            # aliased imports); bounded_/maybe_ have a word char
            # before 'broadcast', so the sanctioned wrappers
            # (attest.bounded_broadcast / attest.maybe_broadcast) don't
            # match. No space allowed before '(' — prose in docstrings
            # says "broadcast (x)" but code calls broadcast(x).
            if re.search(r"\bbroadcast\(", code):
                offenders.append(f"{py.relative_to(_PKG)}:{i}: {line.strip()}")
    assert not offenders, (
        "raw broadcast hint(s) outside plans.attest — route through "
        "bounded_broadcast with an attested bound:\n" + "\n".join(offenders))


#: The persists allowed outside operators/_cache.py: each is scoped by
#: a try/finally that unpersists it within the same call, so it never
#: outlives the call and needs no session-cache key. Keyed on the code
#: line itself, so a new persist in the same module is still caught.
SCOPED_PERSIST_OK = {
    # copy_accounting: the raw COPY relation across its count,
    # per-file and landing actions
    ("sources/csv_format.py",
     'raw = raw.withColumn("_src_file", F.input_file_name()).cache()'),
    # the n-gram sink's per-epoch tokens across its 2-3 writes
    ("streaming/ingest.py",
     "toks = tokenized(batch_df, id_col, text_col).persist()"),
}


def test_no_raw_persist():
    """Every session artifact is persisted, keyed and released by
    operators/_cache (cached_persist / cached_relation), so clear_cache
    can release it and the storage level is one decision. A raw
    persist elsewhere is an artifact clear_cache cannot see."""
    offenders = []
    for py in sorted(_PKG.rglob("*.py")):
        rel = str(py.relative_to(_PKG))
        if rel == "operators/_cache.py":
            continue
        for i, line in enumerate(py.read_text().splitlines(), 1):
            code = line.split("#", 1)[0].strip()
            if ((".persist(" in code or ".cache()" in code
                 or "StorageLevel" in code)
                    and (rel, code) not in SCOPED_PERSIST_OK):
                offenders.append(f"{rel}:{i}: {code}")
    assert not offenders, (
        "raw persist(s) outside operators/_cache — persist through "
        "cached_persist / cached_relation:\n" + "\n".join(offenders))


def test_bounded_broadcast_rejects_unattested_and_oversized(spark):
    df = spark.range(3).toDF("x")
    with pytest.raises(ValueError, match="unattested"):
        attest.bounded_broadcast(df)
    with pytest.raises(ValueError, match="cap"):
        attest.bounded_broadcast(df, bound="laundered",
                                 max_rows=10**12)
    # n_rows over the cap returns the side UNhinted (AQE decides)
    out = attest.bounded_broadcast(df, n_rows=attest.BROADCAST_MAX_ROWS + 1)
    assert "ResolvedHint" not in out._jdf.queryExecution().analyzed().toString()


def test_key_only_cap_rejects_wide_relations(spark):
    """VERDICT r12 #6: the KEY_ONLY 5M cap is for narrow key
    projections only — the width half of the claim is now a schema
    assertion on EVERY call (no job needed), so a wide or
    payload-typed relation cannot launder through the bigger cap."""
    from pyspark.sql import functions as F
    wide = spark.range(3).select(
        "id", F.col("id").alias("a"), F.col("id").alias("b"),
        F.col("id").alias("c"))                       # 4 columns
    with pytest.raises(ValueError, match="narrow key projection"):
        attest.bounded_broadcast(wide, bound="planted wide (4 cols)",
                                 key_only=True,
                                 max_rows=attest.KEY_ONLY_MAX_ROWS)
    payload = spark.range(3).select(
        "id", F.array(F.lit("x")).alias("toks"))      # array payload
    with pytest.raises(ValueError, match="non-key type"):
        attest.bounded_broadcast(payload, bound="planted payload col",
                                 key_only=True,
                                 max_rows=attest.KEY_ONLY_MAX_ROWS)
    # the measured form can't dodge the width check either
    with pytest.raises(ValueError, match="narrow key projection"):
        attest.bounded_broadcast(wide, n_rows=3, key_only=True)
    # a genuinely narrow key map still passes and hints — including
    # an int32 key (typeName 'integer'; r13 review: the whitelist
    # spelled it 'int' and falsely rejected every IntegerType column)
    keys = spark.range(3).select(F.col("id").cast("int").alias("k"),
                                 F.col("id").alias("sk"))
    ok = attest.bounded_broadcast(keys, bound="2-col key map",
                                  key_only=True,
                                  max_rows=attest.KEY_ONLY_MAX_ROWS)
    assert "ResolvedHint" in ok._jdf.queryExecution().analyzed().toString()


def test_verify_mode_is_red_on_a_false_bound(spark):
    # the planted corpus-side hint: claims one-row, is 3 rows
    df = spark.range(3).toDF("x")
    with attest.verify_mode():
        with pytest.raises(AssertionError, match="attestation .* FALSE"):
            attest.bounded_broadcast(df, bound="one-row (planted lie)",
                                     max_rows=1)
        # a true bound passes and hints
        ok = attest.bounded_broadcast(df, bound="3 literals", max_rows=3)
    assert "ResolvedHint" in ok._jdf.queryExecution().analyzed().toString()


@pytest.mark.parametrize("name", sorted(entry.queries()))
def test_catalog_broadcast_bounds_verified(spark, sf_dir, name):
    """Build each catalog query from its RAW builder (bypassing the
    prepared-statement cache) under verify_mode: every declared
    construction bound in the plan's broadcast sides is counted for
    real at this SF. A q50-class corpus-sized claim dies here."""
    from snowflake_azure_etl_spark.workload._registry import QUERIES
    with attest.verify_mode():
        df = QUERIES[name].raw(spark, sf_dir)
    assert df.columns  # plan built, all bounds held


@pytest.mark.parametrize("name", sorted(entry.queries()))
def test_catalog_plan_hygiene(spark, sf_dir, name):
    df = entry.queries()[name](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan, \
        f"{name}: row-at-a-time Python UDF in the plan"
    assert "CartesianProduct" not in plan, \
        f"{name}: undeclared cartesian product"
    if name not in BNLJ_OK:
        assert "BroadcastNestedLoopJoin" not in plan, \
            f"{name}: undeclared nested-loop join"
    if name not in ARROW_OK:
        assert "MapInPandas" not in plan and \
            "ArrowEvalPython" not in plan, \
            f"{name}: undeclared Python stage"
    if name not in WINDOW_UNPARTITIONED_OK:
        assert not unpartitioned_windows(df), \
            f"{name}: undeclared unpartitioned Window"
