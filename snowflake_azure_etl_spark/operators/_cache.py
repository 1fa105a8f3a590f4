"""Session-scoped cache for derived index relations.

Several operators build a bounded *index artifact* from the corpus —
IVF centroid assignments (`similarity.ivf_topk`), MinHash band keys
(`dedup.lsh_candidate_pairs`) — that (a) is referenced several times
inside one plan and (b) is probed again by the next query in the same
session (build candidates, then verify them). Production systems write
these artifacts to a table once; the engine-side analog is persist +
session cache, keyed by the logical plan that defines the artifact, so
an identical rebuild request returns the already-materialized relation.

The cache dies with the session (same lifecycle as
`sources.registry.load_tables`'s relation-catalog cache — in fact the
same per-session dict, with distinct key shapes).

Scale note (100 TB): everything cached here is O(corpus rows) × a few
fixed-width columns — signatures, band keys, cell ids — never the text
or media payload. MEMORY_AND_DISK spills instead of OOMing, and the
artifact is exactly what a real pipeline would persist to the lake.

One persist path: this module is the only place in the package that
persists a relation. `cached_persist` (key-explicit) and its plan-keyed
form `cached_relation` persist at the one storage level, `LEVEL`, and
register the relation under its key, so `clear_cache` releases every
persisted artifact; `cached_build` holds what is not a persisted
relation (plans, models, scalars, checkpoint lists) and never persists.

Staleness contract (ADVICE r5): entries are keyed by the LOGICAL plan
(a digest of the analyzed-plan string) or by the small source plan and
build parameters, so a cached relation reflects the underlying files
AS OF first materialization — exactly like a persisted index table. If
source files change within a session, call `clear_cache(spark)`
(unpersists everything and empties the registry); a long session
sweeping many corpora/parameter combinations should do the same
between sweeps to cap executor storage.
"""

from __future__ import annotations

import hashlib
import re
import threading
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel


#: The one storage level of every persisted session artifact:
#: serialized in memory, spilling to disk instead of failing (see the
#: scale note above). No call site picks its own level.
LEVEL = StorageLevel.MEMORY_AND_DISK


def session_cache(spark: SparkSession) -> dict:
    cache = getattr(spark, "_sae_relation_cache", None)
    if cache is None:
        cache = {}
        spark._sae_relation_cache = cache
    return cache


#: Per-key build locks (r12 review: queries now build independent
#: artifacts from concurrent threads, and the module's design SHARES
#: memoized artifacts across consumers — an unsynchronized
#: check-then-set would let two threads race the same expensive eager
#: build and orphan one persisted relation where clear_cache could
#: never unpersist it). Double-checked: the fast path stays lock-free.
_LOCKS: dict = {}
_LOCKS_GUARD = threading.Lock()


def _key_lock(key) -> threading.Lock:
    with _LOCKS_GUARD:
        return _LOCKS.setdefault(key, threading.Lock())


#: Attribute/expression ids in plan strings ("col#123") — session-global
#: and monotonically advancing, so the SAME derived relation built
#: twice prints different ids. Stripped before digesting: without the
#: normalization every cache key over a freshly-constructed plan
#: misses on re-invocation (r8 finding: the cross-query reuse the
#: module documents only worked when the caller reused the exact
#: DataFrame OBJECT). Two plans identical modulo ids describe the
#: same relation over the same sources — the identity we want.
_EXPR_ID = re.compile(r"#\d+")


def plan_key(df: DataFrame) -> str:
    """Stable identity for 'the same derived relation': an md5 digest
    of its analyzed logical plan string (what ReusedExchange keys on,
    one level up), with expression ids normalized out. Digested so
    keys stay small — a corpus plan string can run to tens of kB.

    Ids are RENUMBERED in first-occurrence order (#5 → #0, #9 → #1, …)
    rather than erased: blanket erasure collapsed genuinely different
    plans whose ids were the only disambiguator — a self-join
    projecting the LEFT vs the RIGHT copy of a column prints
    identically with ids stripped, but renumbers differently because
    the projected id's first-occurrence position differs (r8 review
    finding, verified live).

    The string alone cannot tell a LITERAL shaped like "x#<digits>"
    from an attribute ref (`Filter (tag#1 = tag#1)` is what a filter
    on the literal 'tag#1' actually prints), so the JVM plan's
    `semanticHash()` is mixed into the digest: it canonicalizes expr
    ids structurally (same value for a rebuilt identical plan) while
    literals participate as values, so two plans differing only in a
    '#'-shaped literal get distinct keys (r9 fix; a collision here
    returned the wrong materialized RELATION — the engine's worst
    silent-failure class). Verified live: filters on 'tag#1' vs
    'tag#2' hash 394432266 vs 275286370, and a from-scratch rebuild
    of the 'tag#1' plan reproduces 394432266 exactly.

    EXCEPTION: a plan containing an opaque in-memory source
    (LocalRelation / LogicalRDD — createDataFrame, literal rows,
    localCheckpoint lineage) keeps its raw ids — such plans print
    only the SCHEMA, not the data, so two different in-memory
    relations with the same shape would otherwise collide onto one
    cache entry (the ids are the only per-construction uniquifier;
    observed as wrong memoized BPE merges across test corpora).
    File/range-backed plans print their sources and normalize
    safely (and still carry the semanticHash distinguisher;
    LocalRelation's semanticHash additionally covers its DATA, a
    second guard for the opaque-source class)."""
    analyzed = df._jdf.queryExecution().analyzed()
    plan = analyzed.toString()
    opaque = ("LocalRelation", "LogicalRDD", "ExistingRDD")
    if not any(m in plan for m in opaque):
        seen: dict[str, str] = {}

        def canon(m: "re.Match[str]") -> str:
            return seen.setdefault(m.group(0), f"#{len(seen)}")

        plan = _EXPR_ID.sub(canon, plan)
        # lambda-variable NAMES get the same first-occurrence
        # renumbering as expression ids (r13): "y_2#301" carries the
        # session-global counter in the name itself, so a rebuilt
        # zip_with/transform plan printed differently even with every
        # #id normalized. Anchored on the "lambda " prefix analyzed
        # plans give every lambda-variable occurrence — a REAL column
        # that happens to be named y_2 is never rewritten, so two
        # plans differing only in such a column name cannot collapse
        # onto one key (r13 review: semanticHash canonicalizes
        # attribute names away, so it would not disambiguate them).
        lam_seen: dict[str, str] = {}

        def lam_canon(m: "re.Match[str]") -> str:
            return lam_seen.setdefault(m.group(0), f"x_{len(lam_seen)}")

        plan = _PLAN_LAMBDA_VAR.sub(lam_canon, plan)
    plan += f"|sh={analyzed.semanticHash()}"
    return hashlib.md5(plan.encode()).hexdigest()


#: Higher-order-function lambda variables — numbered by a
#: session-global counter exactly like expression ids, so the SAME
#: expression built twice prints different names (r9: four identical
#: classifier probes trained because their feature strings differed
#: only in lambda numbering; r13: zip_with's 2-arg lambdas slipped
#: the x-only pattern, so every LM gram relation missed its cache key
#: on rebuild and a raw-rebuilding session stacked seven persisted
#: relations per invocation). Detection is ANCHORED to where the
#: printed form marks a lambda variable — a real column that happens
#: to be named "y_2" must never be renumbered (r13 review: blanket
#: [xyz]_\\d+ rewriting collapsed distinct expressions over such
#: columns onto one memo key — the wrong-cached-relation class):
#: analyzed plans prefix every occurrence with "lambda " and append
#: an expression id; unresolved Column strings declare the variables
#: before "->" (``x_1 ->`` / ``(x_2, y_3) ->``).
_PLAN_LAMBDA_VAR = re.compile(r"(?<=\blambda )[a-z]+_\d+\b")
_COL_LAMBDA_DECL = re.compile(
    r"(?:\(([a-z]+_\d+(?:, [a-z]+_\d+)*)\)|\b([a-z]+_\d+)) ->")


def column_key(col) -> str:
    """Stable identity string for a Column EXPRESSION (no plan):
    str(Column) with DECLARED lambda variables renumbered in
    declaration order (occurrences replaced everywhere, so the body
    follows its declaration). For keying memoized builds on their
    feature expressions."""
    s = str(col)
    seen: dict[str, str] = {}
    for m in _COL_LAMBDA_DECL.finditer(s):
        names = m.group(1).split(", ") if m.group(1) else [m.group(2)]
        for n in names:
            seen.setdefault(n, f"x_{len(seen)}")
    if not seen:
        return s
    pat = re.compile(r"\b(" + "|".join(
        re.escape(n) for n in sorted(seen, key=len, reverse=True))
        + r")\b")
    return pat.sub(lambda m: seen[m.group(0)], s)


def clear_cache(spark: SparkSession) -> int:
    """Unpersist every cached relation (each one a `cached_persist`
    entry) and empty the registry. Returns the number of evicted
    entries. The hook for file-change staleness and for bounding
    executor storage in long multi-corpus sessions."""
    cache = session_cache(spark)
    n = len(cache)
    for value in cache.values():
        if isinstance(value, DataFrame):
            value.unpersist(blocking=False)
    cache.clear()
    with _LOCKS_GUARD:
        _LOCKS.clear()
    return n


def cached_persist(spark: SparkSession, key: tuple,
                   build: Callable[[], DataFrame],
                   eager: bool = False) -> DataFrame:
    """Persist the relation `build()` returns once per `key` and reuse
    it. `key` must fully determine the relation (source plan + build
    parameters) — keying on a small source plan rather than the built
    relation's own plan keeps giant expression plans from being
    printed and digested per invocation.

    `eager` forces materialization with one count job so that the many
    downstream references (join sides, size guards) all hit the cache
    instead of racing to compute partitions; lazy, the relation
    materializes inside the first job that reads it.
    """
    def persisted():
        df = build().persist(LEVEL)
        if eager:
            df.count()
        return df
    return cached_build(spark, key, persisted)


def cached_relation(df: DataFrame, tag: str, *extra,
                    eager: bool = False) -> DataFrame:
    """`cached_persist` keyed on `df`'s own plan: persist `df` once per
    (tag, plan, extra) and reuse it."""
    return cached_persist(df.sparkSession, (tag, plan_key(df)) + extra,
                          lambda: df, eager=eager)


def cached_build(spark: SparkSession, key: tuple,
                 build: Callable[[], object]) -> object:
    """Memoized build for session artifacts that are not persisted
    relations: prepared plans (unmaterialized DataFrames), trained
    models, scalars and localCheckpoint lists. The build never
    persists — a relation to persist goes through `cached_persist`.
    Thread-safe per key (double-checked build lock — see _LOCKS)."""
    cache = session_cache(spark)
    if key in cache:
        return cache[key]
    with _key_lock(key):
        if key not in cache:
            cache[key] = build()
    return cache[key]


#: Module-scope cache of built Column EXPRESSIONS (VERDICT r10 #2).
#: Constructing a deep higher-order expression tree (a 64-dim fold, an
#: m-subspace ADC sum) costs hundreds of py4j round-trips — ~2 s per
#: invocation on the de-memoized q54 legs, CONSTANT in data size but
#: the dominant driver-side latency of a result leg. A Column is an
#: immutable UNRESOLVED expression — pure code, not data, so caching
#: it is plan-identical and hash-identical (the memoization rule in
#: SCALE.md is about relations/results; expressions are neither).
#: Keyed on the py4j gateway identity: a Column holds a JVM object
#: reference, so entries from a torn-down JVM must never be returned
#: to a new one.
_COLUMN_CACHE: dict = {}


def cached_column(name: tuple, build: Callable[[], object]):
    """Build a Column expression once per (py4j gateway, name) and
    reuse it. `name` must fully determine the expression (column
    names, dims, layout) — the caller's contract. The live gateway
    OBJECT is stored beside each entry and identity-compared on
    lookup (not id(), whose value a GC'd gateway could recycle —
    review finding r11): a JVM restart invalidates every entry by
    reference inequality, and stale entries are overwritten in place
    so the cache never grows past one generation per name."""
    from pyspark import SparkContext
    gw = getattr(SparkContext, "_gateway", None)
    if gw is None:  # no JVM yet (connect-mode or unstarted) — no reuse
        return build()
    hit = _COLUMN_CACHE.get(name)
    if hit is not None and hit[0] is gw:
        return hit[1]
    col = build()
    _COLUMN_CACHE[name] = (gw, col)
    return col
