"""Catalog-wide physical-plan hygiene: EVERY registered query's
executed plan is checked for (a) zero row-at-a-time Python
(BatchEvalPython — the 10-100x slow path), (b) zero undeclared
cartesian products, and (c) BroadcastNestedLoopJoin / MapInPandas /
unpartitioned Window only where the design declares them. A new
query that slips a Python UDF or an accidental cross join into the
catalog fails here, not in a 100 TB run."""

from __future__ import annotations

import ast
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

#: Queries whose plan legitimately carries Arrow-batched Python: the
#: binary media pipeline, whose three modalities share ONE mapInPandas
#: pass — exactly one MapInPandas and no ArrowEvalPython, gated below.
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
     'toks = tokenized(batch_df, "doc_id", "text").persist()'),
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


def test_one_centroid_ranking_site():
    """Rows are scored against the IVF centroid array in ONE function,
    similarity._nearest_cells: assignment, probes and drift all go
    through it. A second caller of _cell_scores, or a second crossJoin
    of the centroid array, is a hand-kept copy of that path."""
    cent = re.compile(r"\b(cent_arr|cents|_centroid_array)\b")
    sites = []
    for py in sorted(_PKG.rglob("*.py")):
        rel = str(py.relative_to(_PKG))
        for top in ast.parse(py.read_text()).body:
            for n in ast.walk(top):
                if not isinstance(n, ast.Call):
                    continue
                f = n.func
                name = f.id if isinstance(f, ast.Name) else getattr(
                    f, "attr", None)
                if name == "_cell_scores" or (
                        name == "crossJoin"
                        and cent.search(ast.unparse(n.args[0]))):
                    sites.append((rel, getattr(top, "name", "<module>")))
    assert set(sites) == {("operators/similarity.py", "_nearest_cells")}, (
        sites)
    assert sites.count(sites[0]) == 2  # one _cell_scores, one crossJoin


#: (module, top-level function) -> the unionByName calls it may make in
#: workload/. Each joins UNTAGGED inputs; a union of tagged legs goes
#: through `_registry.union_legs`, the one place that names every leg.
UNTAGGED_UNION_OK = {
    ("_registry.py", "union_legs"): 1,
    # q65's SCD2 change batch and CDC snapshot: moved + new members
    ("etl_queries.py", "q65_incremental_append"): 2,
    # q40's hourly base rows carry DATA in window_start, beside the
    # funnel/retention rows' labels
    ("events_queries.py", "q40_events_tumbling_window"): 2,
    # q54's RRF input: the exact and ADC rankings fused by rank
    ("pipeline_queries.py", "q54_ann_brute_force_topk"): 1,
    # the unknown member row ahead of the dimension's members
    ("warehouse_queries.py", "q23_surrogate_keys"): 1,
}


def test_one_leg_assembly_path():
    """Legs are built concurrently in ONE function, union_legs: no other
    package function starts an InheritableThread. A unionByName in a
    workload module outside UNTAGGED_UNION_OK is a hand-rolled leg
    union whose legs no single place names."""
    threads, unions = set(), {}
    for py in sorted(_PKG.rglob("*.py")):
        rel = str(py.relative_to(_PKG))
        for top in ast.parse(py.read_text()).body:
            where = getattr(top, "name", "<module>")
            for n in ast.walk(top):
                if "InheritableThread" in (getattr(n, "id", None),
                                           getattr(n, "attr", None),
                                           getattr(n, "name", None)):
                    threads.add((rel, where))
                if (rel.startswith("workload/") and isinstance(n, ast.Call)
                        and getattr(n.func, "attr", None) == "unionByName"):
                    key = (py.name, where)
                    unions[key] = unions.get(key, 0) + 1
    assert threads == {("workload/_registry.py", "union_legs")}, threads
    drift = {k: (unions.get(k), UNTAGGED_UNION_OK.get(k))
             for k in unions.keys() | UNTAGGED_UNION_OK.keys()
             if unions.get(k) != UNTAGGED_UNION_OK.get(k)}
    assert not drift, (
        "unionByName sites in workload/ as (found, allowed) — build "
        f"tagged legs through union_legs: {drift}")


#: (module, top-level function) -> the merge-law sites it may hold in
#: operators/ or streaming/. Outside the law-keyed pair, each refolds
#: an intermediate column of its own plan, not a landed artifact.
MERGE_LAW_OK = {
    ("operators/sketches.py", "merge_partials"): 1,
    ("operators/sketches.py", "subtract_partials"): 1,
    # the KMV merge tree's level-1 fold of per-bucket distinct counts
    ("operators/sketches.py", "kmv_mins"): 1,
    # label propagation: each superstep keeps the minimum label
    ("operators/graph.py", "connected_components"): 1,
    # Lloyd's update: per-(cell, dim) sums refold per cell
    ("operators/similarity.py", "_kmeans_update"): 2,
}

_LAW_AGGS = {"sum", "bit_or", "min", "max"}
_FULL_JOINS = {"full", "outer", "full_outer", "fullouter"}


def _call_attr(n):
    return getattr(n.func, "attr", None) if isinstance(n, ast.Call) else None


def _merge_law_sites(source: str) -> "dict[str, int]":
    """Top-level function -> its hand-kept merge or subtraction laws:
    a column re-aggregated under its own name (`F.sum("cnt")
    .alias("cnt")`, casts allowed between), a law applied by name
    (`getattr(F, how)`), or a full outer join in a function that
    subtracts one non-literal column from another."""
    sites = {}
    for top in ast.parse(source).body:
        where = getattr(top, "name", "<module>")
        n_sites, full_join, subtracts = 0, False, False
        for n in ast.walk(top):
            if (_call_attr(n) == "alias" and n.args
                    and isinstance(n.args[0], ast.Constant)):
                agg = n.func.value
                while _call_attr(agg) == "cast":
                    agg = agg.func.value
                n_sites += (_call_attr(agg) in _LAW_AGGS and bool(agg.args)
                            and isinstance(agg.args[0], ast.Constant)
                            and agg.args[0].value == n.args[0].value)
            if (isinstance(n, ast.Call) and isinstance(n.func, ast.Name)
                    and n.func.id == "getattr" and n.args
                    and getattr(n.args[0], "id", None) == "F"):
                n_sites += 1
            if _call_attr(n) == "join":
                how = n.args[2] if len(n.args) > 2 else next(
                    (k.value for k in n.keywords if k.arg == "how"), None)
                full_join |= (isinstance(how, ast.Constant)
                              and how.value in _FULL_JOINS)
            if (isinstance(n, ast.BinOp) and isinstance(n.op, ast.Sub)
                    and not isinstance(n.right, ast.Constant)
                    and _call_attr(n.right) != "lit"):
                subtracts = True
        n_sites += full_join and subtracts
        if n_sites:
            sites[where] = n_sites
    return sites


def test_one_merge_law_site():
    """Every merge, rollup and subtraction of an additive artifact
    (sketch counters, window/gram/word counts, line winners) goes
    through operators.sketches.merge_partials / subtract_partials with
    the family's law constant. A module under operators/ or streaming/
    that re-aggregates a law column itself, or subtracts counts across
    a full outer join, is a hand-kept copy of that law."""
    planted = ('def rollup(a, b):\n'
               '    return (a.unionByName(b).groupBy("j", "bucket")\n'
               '            .agg(F.sum("cnt").cast("long").alias("cnt")))\n'
               'def forget(ix, r):\n'
               '    return ix.join(r, "k", "full_outer").select(\n'
               '        (F.col("c") - F.coalesce(F.col("_r"), F.lit(0)))'
               '.alias("c"))\n')
    assert _merge_law_sites(planted) == {"rollup": 1, "forget": 1}
    found = {}
    for py in sorted(_PKG.rglob("*.py")):
        rel = str(py.relative_to(_PKG))
        if rel.split("/")[0] in ("operators", "streaming"):
            for where, n in _merge_law_sites(py.read_text()).items():
                found[(rel, where)] = n
    drift = {k: (found.get(k), MERGE_LAW_OK.get(k))
             for k in found.keys() | MERGE_LAW_OK.keys()
             if found.get(k) != MERGE_LAW_OK.get(k)}
    assert not drift, (
        "merge-law sites as (found, allowed) — merge or subtract through "
        f"sketches.merge_partials / subtract_partials: {drift}")


#: (module, top-level function, site) -> count allowed in operators/:
#: the one GD loop (its empty-corpus guard and its per-round lineage
#: cut) and the one fixed-point √toks mixture share.
PROBE_MIX_OK = {
    ("operators/classifier.py", "_gd_round", "empty-corpus guard"): 1,
    ("operators/classifier.py", "train_probes", "localCheckpoint"): 1,
    ("operators/sampling.py", "mixture_rates", "sqrt share"): 1,
}


def _probe_mix_sites(rel: str, source: str) -> "dict[tuple, int]":
    """(rel, top-level function, site) -> count of GD-loop and mixture
    sites: `_empty_corpus_guarded(` calls, `localCheckpoint` calls in
    classifier.py, and `F.sqrt(` in a function that reads MIX_SCALE."""
    sites = {}
    for top in ast.parse(source).body:
        where = getattr(top, "name", "<module>")
        nodes = list(ast.walk(top))
        names = {getattr(n, "id", None) or getattr(n, "attr", None)
                 for n in nodes}
        for n in nodes:
            if not isinstance(n, ast.Call):
                continue
            f = getattr(n.func, "id", None) or _call_attr(n)
            site = {"_empty_corpus_guarded": "empty-corpus guard",
                    "localCheckpoint": ("localCheckpoint"
                                        if rel == "operators/classifier.py"
                                        else None),
                    "sqrt": ("sqrt share" if "MIX_SCALE" in names
                             else None)}.get(f)
            if site:
                key = (rel, where, site)
                sites[key] = sites.get(key, 0) + 1
    return sites


def test_one_probe_trainer_and_mixture_site():
    """The binary quality probe is the one-label probe and the quality
    mixture is the mixture keyed by (source, stratum): operators/ holds
    ONE GD loop (classifier.train_probes over _gd_round) and ONE
    fixed-point √ share (sampling.mixture_rates). A second trainer or a
    second temperature-2 rate function shows up here as an extra
    empty-corpus guard, lineage cut or MIX_SCALE-scaled sqrt."""
    found = {}
    for py in sorted((_PKG / "operators").glob("*.py")):
        found.update(_probe_mix_sites(str(py.relative_to(_PKG)),
                                      py.read_text()))
    drift = {k: (found.get(k), PROBE_MIX_OK.get(k))
             for k in found.keys() | PROBE_MIX_OK.keys()
             if found.get(k) != PROBE_MIX_OK.get(k)}
    assert not drift, (
        "GD-loop / mixture-share sites as (found, allowed) — train "
        "through classifier.train_probes and mix through "
        f"sampling.mixture_rates: {drift}")


#: streaming/ lines that land data outside `sinks.epoch_sink` without
#: writing a stream epoch partition.
EPOCH_WRITE_OK = {
    # a retrain lands a quantizer VERSION partition through the same
    # idempotent write
    ("streaming/vectors.py",
     'write_epoch(new, centroids_table, int(cur) + 1, epoch_col="q_version")'),
    # a bootstrap lands its first quantizer version the same way, after
    # ddl.drop_table (CREATE OR REPLACE of the whole quantizer)
    ("streaming/vectors.py",
     'write_epoch(cents, centroids_table, 0, epoch_col="q_version")'),
    # the SCD2 snapshot overwrite, replay-safe through scd2_apply's
    # idempotency rather than epoch partitions
    ("streaming/scd.py",
     "def write(batch_df: DataFrame, epoch_id: int) -> None:"),
}

_PER_EPOCH_DEF = re.compile(r"def (\w+)\(batch_df\b[^,]*, epoch_id\b")


def test_only_sinks_writes_epoch_partitions():
    """The epoch discipline (idempotent per-epoch write, strictly-earlier
    reads) lives in streaming/sinks.py. A streaming module that writes
    an epoch partition itself — insertInto, the partition-overwrite
    mode, a direct write_epoch call, or a (batch_df, epoch_id) function
    that is not a step handed to epoch_sink — bypasses it."""
    offenders = []
    for py in sorted((_PKG / "streaming").glob("*.py")):
        rel = str(py.relative_to(_PKG))
        if rel == "streaming/sinks.py":
            continue
        text = py.read_text()
        for i, line in enumerate(text.splitlines(), 1):
            code = line.split("#", 1)[0].strip()
            m = _PER_EPOCH_DEF.search(code)
            if ((any(k in code for k in ("insertInto", "write_epoch(",
                                         "partitionOverwriteMode"))
                 or (m and f"epoch_sink({m[1]}" not in text))
                    and (rel, code) not in EPOCH_WRITE_OK):
                offenders.append(f"{rel}:{i}: {code}")
    assert not offenders, (
        "epoch partition write(s) outside streaming/sinks.py — return "
        "the outputs from a step and land them through epoch_sink:\n"
        + "\n".join(offenders))


#: (module, top-level function, kind) -> the drop/replace steps it may
#: take outside warehouse/ddl.py, each with its reason.
REPLACE_PATH_OK = {
    # an epoch table's bootstrap: restarted in a fresh JVM over an
    # earlier lineage's epochs it must keep failing loud
    # (LOCATION_ALREADY_EXISTS), not wipe them
    ("streaming/sinks.py", "write_epoch", "overwrite saveAsTable"): 1,
    # a bucketed layout, always an overwrite of the whole table
    ("plans/layout.py", "land_bucketed", "overwrite saveAsTable"): 1,
    # compact_landing's directory swap of a path landing, no table
    ("plans/layout.py", "_swap_dirs", "location delete"): 2,
}


def _replace_sites(source: str) -> "dict[tuple[str, str], int]":
    """(top-level function, kind) -> its hand-kept replace steps: a
    string literal outside docstrings holding DROP TABLE (run directly
    or handed on as a statement), a `.delete(` / `rmtree(` call, and
    each saveAsTable in a function that sets a writer mode other than
    "append"."""
    tree = ast.parse(source)
    docs = {id(n.body[0].value) for n in ast.walk(tree)
            if isinstance(n, (ast.Module, ast.ClassDef, ast.FunctionDef))
            and n.body and isinstance(n.body[0], ast.Expr)}
    sites = {}
    for top in tree.body:
        where = getattr(top, "name", "<module>")
        nodes = list(ast.walk(top))
        overwrites = any(
            _call_attr(n) == "mode" and not (
                n.args and isinstance(n.args[0], ast.Constant)
                and n.args[0].value == "append") for n in nodes)
        for n in nodes:
            name = isinstance(n, ast.Call) and (
                _call_attr(n) or getattr(n.func, "id", None))
            kind = ("DROP TABLE" if isinstance(n, ast.Constant)
                    and isinstance(n.value, str) and id(n) not in docs
                    and re.search(r"DROP\s+TABLE", n.value, re.IGNORECASE)
                    else "location delete" if name in ("delete", "rmtree")
                    else "overwrite saveAsTable"
                    if name == "saveAsTable" and overwrites else None)
            if kind:
                sites[(where, kind)] = sites.get((where, kind), 0) + 1
    return sites


def test_one_replace_path():
    """Every managed-table drop and replace goes through warehouse/ddl
    (drop_table / replace_table), which removes the table's location
    with its catalog entry, so a re-run in a fresh session is
    idempotent. A DROP TABLE, a location delete or an overwriting
    saveAsTable elsewhere is a hand-kept copy of that path."""
    planted = ('def reload(spark, df, t, fs, path):\n'
               '    """DROP TABLE, then CREATE."""\n'
               '    spark.sql(f"DROP TABLE IF EXISTS {t}")\n'
               '    fs.delete(path, True)\n'
               '    df.write.mode("overwrite").saveAsTable(t)\n'
               'def load(df, t):\n'
               '    df.write.mode("append").saveAsTable(t)\n'
               '    return ["drop table " + t]\n')
    assert _replace_sites(planted) == {
        ("reload", "DROP TABLE"): 1, ("reload", "location delete"): 1,
        ("reload", "overwrite saveAsTable"): 1, ("load", "DROP TABLE"): 1}
    found = {}
    for py in sorted(_PKG.rglob("*.py")):
        rel = str(py.relative_to(_PKG))
        if rel != "warehouse/ddl.py":
            for (where, kind), n in _replace_sites(py.read_text()).items():
                found[(rel, where, kind)] = n
    drift = {k: (found.get(k), REPLACE_PATH_OK.get(k))
             for k in found.keys() | REPLACE_PATH_OK.keys()
             if found.get(k) != REPLACE_PATH_OK.get(k)}
    assert not drift, (
        "drop/replace sites as (found, allowed) — drop and replace "
        f"through ddl.drop_table / ddl.replace_table: {drift}")


#: Defaulted public parameters no call site sets, each kept for a
#: reason: (module, function, parameter) -> reason. Everything else
#: with one value in use is a module constant or an inlined literal.
UNSET_KNOB_OK = {
    ("session.py", "get_spark", "master"):
        "deployment setting: the cluster a driver attaches to",
    ("session.py", "get_spark", "shuffle_partitions"):
        "deployment setting: shuffle width follows the cluster size",
}

_ROOT = _PKG.parent


def _call_name(call: ast.Call) -> "str | None":
    f = call.func
    return getattr(f, "id", None) or getattr(f, "attr", None)


def _unset_knobs(defs: "dict[str, tuple[str, ast.FunctionDef]]",
                 calls: "list[ast.Call]") -> "set[tuple[str, str, str]]":
    """(module, function, parameter) for every defaulted parameter of
    `defs` that no call in `calls` passes — by position or keyword, or
    through *args / **kwargs."""
    passed: "dict[str, set[str]]" = {}
    for c in calls:
        name = _call_name(c)
        if name not in defs:
            continue
        a = defs[name][1].args
        pos = [p.arg for p in a.posonlyargs + a.args]
        got = passed.setdefault(name, set())
        if (any(isinstance(x, ast.Starred) for x in c.args)
                or any(k.arg is None for k in c.keywords)):
            got.update(pos, (p.arg for p in a.kwonlyargs))
        got.update(pos[:len(c.args)], (k.arg for k in c.keywords))
    unset = set()
    for name, (mod, fn) in defs.items():
        a = fn.args
        pos = a.posonlyargs + a.args
        defaulted = [p.arg for p in pos[len(pos) - len(a.defaults):]] + [
            p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults) if d]
        unset.update((mod, name, p) for p in defaulted
                     if p not in passed.get(name, ()))
    return unset


def _public_defs(sources: "dict[str, str]"
                 ) -> "dict[str, tuple[str, ast.FunctionDef]]":
    """Top-level public functions by name; a name defined in two
    modules is ambiguous at its call sites and left out."""
    found: "dict[str, list]" = {}
    for mod, src in sources.items():
        for n in ast.parse(src).body:
            if isinstance(n, ast.FunctionDef) and not n.name.startswith("_"):
                found.setdefault(n.name, []).append((mod, n))
    return {k: v[0] for k, v in found.items() if len(v) == 1}


def _calls(sources) -> "list[ast.Call]":
    return [n for src in sources for n in ast.walk(ast.parse(src))
            if isinstance(n, ast.Call)]


def test_no_unset_public_knobs():
    """A defaulted parameter of a public package function that no call
    site in the repository (package, tests, perfbench, root scripts)
    sets is an option with one value: make it a module constant or
    inline it, or allow-list it here with its reason."""
    planted = ("def f(x, k=2, *, tag=None):\n    return x\n"
               "def g(y=1):\n    return f(0, tag='t')\n")
    defs = _public_defs({"m.py": planted})
    assert _unset_knobs(defs, _calls([planted])) == {
        ("m.py", "f", "k"), ("m.py", "g", "y")}
    assert _unset_knobs(defs, _calls([planted, "f(1, *a)\ng(**kw)\n"])) \
        == set()
    pkg = {str(p.relative_to(_PKG)): p.read_text()
           for p in sorted(_PKG.rglob("*.py"))}
    callers = [p.read_text() for d in ("tests", "perfbench")
               for p in sorted((_ROOT / d).rglob("*.py"))]
    callers += [p.read_text() for p in sorted(_ROOT.glob("*.py"))]
    unset = _unset_knobs(_public_defs(pkg),
                         _calls(list(pkg.values()) + callers))
    drift = sorted(unset ^ UNSET_KNOB_OK.keys())
    assert not drift, (
        "defaulted public parameters no call site sets (or stale "
        "allow-list entries) — make each a module constant: "
        f"{drift}")


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
    assert "ArrowEvalPython" not in plan, \
        f"{name}: Arrow UDF stage (Python work goes in one mapInPandas)"
    n_map = plan.count("MapInPandas")
    assert n_map == (1 if name in ARROW_OK else 0), \
        f"{name}: {n_map} MapInPandas stages"
    if name not in WINDOW_UNPARTITIONED_OK:
        assert not unpartitioned_windows(df), \
            f"{name}: undeclared unpartitioned Window"
