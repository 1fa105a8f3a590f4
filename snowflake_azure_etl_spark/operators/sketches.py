"""Distinct-count sketches as exact-mergeable DataFrame aggregations.

KMV (k-minimum-values): the estimate needs only the k smallest hashes
per group, and k-minima merge exactly — the union of per-partition
k-minima is a superset of the global k-minima — so the whole sketch is
a tree of groupBy aggregations, no Window, no UDAF.

State-bound design (VERDICT r5 #4): a single
groupBy(group).collect_set(hash) holds every distinct hash of a group
in ONE aggregation state — the thing that OOMs at 10⁹ distincts. The
merge tree here bounds every level's state given a row-count
attestation:

- level 0 buckets the hash space into `fine` buckets (pmod of
  xxhash64), sized so the EXPECTED distincts per (group × bucket)
  state is ≤ `state_budget` (fine = 2^ceil(log2(n_rows /
  state_budget)), and n_rows ≥ distincts, so the attestation is
  conservative); each state is then sliced to its k smallest.
- level 1 merges fine buckets into `coarse` buckets: state =
  collect_list of (fine/coarse) k-arrays ⇒ ≤ k·fine/coarse hashes —
  a structural constant, independent of the data.
- level 2 merges the coarse buckets per group: state ≤ k·coarse.

Every level is a partial-aggregating hash aggregate (map-side combine
applies to collect_set/collect_list partials per task), and the
exactness of the final k-minima is invariant to the tree shape, so the
DuckDB oracle can stay the direct ROW_NUMBER formulation. Unattested
input (n_rows=None) falls back to fine = coarse — the documented
distinct/coarse-per-state regime.

The exact distinct count rides along for error inspection: buckets
partition the hash space, so per-bucket distinct sizes sum without
double-counting.
"""

from __future__ import annotations

import functools
import math
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans.attest import bounded_broadcast

#: Coarse bucket count (the final merge fan-in) — 64 keeps the last
#: merge state at 64·k hashes while still spreading level-0 states.
KMV_COARSE = 64
#: Expected distinct hashes a level-0 aggregation state may hold.
KMV_STATE_BUDGET = 1024
#: Upper clamp on fine buckets — 2^20 states × k hashes is already far
#: beyond any sane executor heap budget for one group.
KMV_MAX_FINE = 1 << 20


def fine_buckets(n_rows: int | None,
                 state_budget: int = KMV_STATE_BUDGET) -> int:
    """Level-0 bucket count for an attested input size: the smallest
    power of two keeping expected per-state distincts ≤ state_budget,
    clamped to [KMV_COARSE, KMV_MAX_FINE]. Power-of-two so fine nests
    into coarse (fine % KMV_COARSE == 0)."""
    if n_rows is None or n_rows <= 0:
        return KMV_COARSE
    want = 1 << math.ceil(math.log2(max(n_rows / state_budget, 1.0)))
    return min(KMV_MAX_FINE, max(KMV_COARSE, want))


def kmv_mins(df: DataFrame, group_col: str, hv: Column | str, k: int,
             n_rows: int | None = None,
             state_budget: int = KMV_STATE_BUDGET) -> DataFrame:
    """(group, mins: array of the k smallest distinct hash strings,
    n_exact: exact distinct count) via the bounded merge tree above.

    `hv` must be a fixed-width hash string (e.g. md5 hex) so that
    lexicographic min == numeric min of the hash value."""
    hv = F.col(hv) if isinstance(hv, str) else hv
    fine = fine_buckets(n_rows, state_budget)
    h = df.select(F.col(group_col), hv.alias("_hv")) \
          .withColumn("_bf", F.pmod(F.xxhash64("_hv"), F.lit(fine)))
    lvl = (h.groupBy(group_col, "_bf")
           .agg(F.collect_set("_hv").alias("_hs"))
           .select(group_col, F.col("_bf"),
                   F.slice(F.array_sort("_hs"), 1, k).alias("mins"),
                   F.size("_hs").alias("_nb")))
    if fine > KMV_COARSE:
        lvl = (lvl.withColumn("_bc", F.col("_bf") % KMV_COARSE)
               .groupBy(group_col, "_bc")
               .agg(F.slice(F.array_sort(F.flatten(F.collect_list("mins"))),
                            1, k).alias("mins"),
                    F.sum("_nb").alias("_nb")))
    return (lvl.groupBy(group_col)
            .agg(F.slice(F.array_sort(F.flatten(F.collect_list("mins"))),
                         1, k).alias("mins"),
                 F.sum("_nb").alias("n_exact")))


# ---------------------------------------------------------------------------
# HyperLogLog (Apache DataSketches, JVM-native) — the constant-state
# sibling of KMV. Where KMV's exact-mergeable k-minima cost O(k) strings
# per state, an HLL sketch is a FIXED 2^lgk-register byte block
# regardless of cardinality, and sketches union losslessly — the
# pre-aggregation pattern for distinct counts at 100 TB: persist tiny
# per-(group × time-bucket) partials once, answer any coarser rollup by
# unioning partials, never re-scanning the fact data. Estimates are
# EXACT while the sketch is in its coupon phase (cardinality up to a
# few hundred for lgk=12 — pinned in tests) and ±~1.6%/sqrt(2^lgk)
# beyond (error-bound pinned too); the register layout is
# engine-specific, so cross-engine attestation uses the exact regime
# (see workload q47's hll leg) while large-cardinality behavior is
# pytest-pinned.
# ---------------------------------------------------------------------------

HLL_LGK = 12


def hll_partials(df: DataFrame, group_cols: list[str],
                 value_col: str) -> DataFrame:
    """(group_cols…, hll_sketch): one mergeable DataSketches HLL
    partial per group — a partial-aggregating hash aggregate (map-side
    combine applies; per-state memory is the fixed 2^HLL_LGK register
    block). This is the relation a pipeline lands per fine bucket
    (e.g. per day)."""
    return df.groupBy(*group_cols).agg(
        F.hll_sketch_agg(value_col, HLL_LGK).alias("hll_sketch"))


def hll_rollup(partials: DataFrame, group_cols: list[str]) -> DataFrame:
    """(group_cols…, hll_estimate): union fine-grained sketch partials
    up to a coarser grouping and estimate — the rollup never touches
    the base data, and unioning is associative/commutative, so any
    rollup lattice over the same partials agrees (merge law pinned in
    tests/test_sketches.py)."""
    return partials.groupBy(*group_cols).agg(
        F.hll_sketch_estimate(F.hll_union_agg("hll_sketch"))
        .alias("hll_estimate"))


# ---------------------------------------------------------------------------
# Merge laws (the mergeable-summaries property, Agarwal et al. PODS
# 2012). Every additive artifact of the package — CMS counters, Bloom
# words, histogram bins, window-index and gram/word counts, line
# winners — is a relation whose partials merge by union → groupBy(keys)
# → agg(law). A LAW maps each value column to its aggregate
# (`CMS_MERGE = {"cnt": "sum"}`, `BLOOM_MERGE = {"word": "bit_or"}`);
# every other column is a key. These two functions are the only code
# that merges or subtracts such a relation.
# ---------------------------------------------------------------------------


def merge_partials(parts: "DataFrame | Sequence[DataFrame]",
                   law: "dict[str, str]") -> DataFrame:
    """Fold partials of one artifact (one relation, or several that
    union by name) into the artifact of their concatenated input:
    every column not named in `law` is a group key, and each law
    column aggregates by its `pyspark.sql.functions` name. The input
    column order is kept."""
    if not isinstance(parts, DataFrame):
        parts = functools.reduce(DataFrame.unionByName, parts)
    return (parts.groupBy(*(c for c in parts.columns if c not in law))
            .agg(*(getattr(F, how)(c).alias(c) for c, how in law.items()))
            .select(*parts.columns))


def subtract_partials(index: DataFrame, removed: DataFrame,
                      law: "dict[str, str]") -> DataFrame:
    """index ⊖ removed under a SUM law: artifact(corpus) ⊖
    artifact(removed ⊆ corpus) == artifact(corpus ∖ removed), key for
    key — the right-to-be-forgotten path of every count artifact.
    Keys whose counts reach zero leave the relation.

    Fail-loud contract: `removed` pre-aggregates by key (duplicate keys
    would split one over-subtraction across rows), the join is FULL
    OUTER (a left join would drop removed-only keys before the guard
    sees them), and a key the index never held or a count driven below
    zero raises inside the output count expression. Only sum laws
    subtract; any other law raises ValueError."""
    if set(law.values()) != {"sum"}:
        raise ValueError(f"subtract_partials: law {law} is not a sum law "
                         "— only additive counts subtract")
    keys = [c for c in index.columns if c not in law]
    zero = F.lit(0).cast("long")
    r = merge_partials(removed.select(*keys, *law), law).select(
        *keys, *(F.col(c).alias(f"_r_{c}") for c in law))

    def left(c: str) -> Column:
        ci, cr = F.col(c), F.coalesce(F.col(f"_r_{c}"), zero)
        return (F.when(ci.isNull(), F.raise_error(F.lit(
                    "subtract_partials: over-subtraction — the removed "
                    "side holds a key the index never held; it is not a "
                    "subset of the indexed corpus")).cast("long"))
                .when(cr > ci, F.raise_error(F.lit(
                    "subtract_partials: over-subtraction — the removed "
                    "side counts a key more times than the index "
                    "does")).cast("long"))
                .otherwise(ci - cr))

    out = index.join(r, keys, "full_outer").select(
        *(left(c).alias(c) if c in law else c for c in index.columns))
    return out.filter(functools.reduce(
        lambda a, b: a | b, (F.col(c) > 0 for c in law)))


# ---------------------------------------------------------------------------
# Count-Min sketch (X-SKETCH-CMS) — the frequency-estimation sibling of
# the distinct sketches: a d×w counter matrix where estimate(key) =
# min_j cm[j][h_j(key)], always ≥ the true count (one-sided error
# ≤ e·N/w with probability 1−e^−d — Cormode & Muthukrishnan 2005).
# Engine shape: the sketch IS a relation (j, bucket, cnt) built by one
# exact groupBy over (row × d) probe pairs — partial aggregation
# map-side-combines the per-task counts, the sketch merge law is plain
# SUM (union two sketches' relations and re-sum), and the bucket hash
# is the manifest's portable md5 idiom so a DuckDB oracle replays
# every counter and every estimate bit-for-bit. d·w rows total: a
# bounded artifact (broadcastable) no matter the stream size — the
# 100 TB point is that frequency questions over an unbounded key space
# cost O(d·w) state instead of a distinct-key aggregation.
# Estimation takes a CALLER-PROVIDED candidate relation (a watchlist,
# a sample, last epoch's heavy set): a CMS cannot enumerate keys, so
# probing all distincts of a 100 TB stream would be the distinct-agg
# this sketch exists to avoid.
# ---------------------------------------------------------------------------

CMS_DEPTH = 4
CMS_WIDTH = 512
#: The merge law of CMS partials (`merge_partials`).
CMS_MERGE = {"cnt": "sum"}


def cms_bucket(key: Column, j: int, width: int = CMS_WIDTH) -> Column:
    """Row j's bucket for `key`: first 15 hex chars of
    md5('<j>:<key>') as a 60-bit long, mod width — the same portable
    hash idiom as warehouse.manifest.row_key_hash, with the row index
    as a domain separator (d independent-enough hash functions from
    one md5)."""
    return F.pmod(
        F.conv(F.substring(
            F.md5(F.concat(F.lit(f"{j}:"), key.cast("string"))), 1, 15),
            16, 10).cast("long"),
        F.lit(int(width)))


def cms_build(df: DataFrame, key: Column | str,
              depth: int = CMS_DEPTH, width: int = CMS_WIDTH,
              weight: Column | str | None = None,
              group_cols: "tuple[str, ...]" = ()) -> DataFrame:
    """(*group_cols, j, bucket, cnt): the Count-Min sketch of `key`'s
    frequency distribution. One pass: each row explodes to its d
    (j, bucket) probes and ONE hash aggregate counts them — absent
    (j, bucket) cells are implicit zeros, so the relation is at most
    d·w rows (per group).

    `weight` sums that column per probe instead of counting rows —
    counters are additive, so building from a PRE-AGGREGATED
    (key, count) relation with weight=count yields the identical
    sketch while hashing each key once instead of once per
    occurrence (the q47 plan: the exact-count aggregate the leg
    already needs doubles as the build input).

    `group_cols` builds one PARTIAL per group in the same single
    aggregate — the epoch/day/partition partials that
    `streaming.sketches` lands per micro-batch; `merge_partials`
    under `CMS_MERGE` (plain SUM) rolls them up to the full-stream
    sketch (linearity, the merge law pinned in tests and
    driver-attested in q47)."""
    key = F.col(key) if isinstance(key, str) else key
    w = (F.lit(1).cast("long") if weight is None
         else (F.col(weight) if isinstance(weight, str) else weight))
    gc = list(group_cols)
    probes = F.explode(F.array(*[
        F.struct(F.lit(j).cast("int").alias("j"),
                 cms_bucket(key, j, width).alias("bucket"))
        for j in range(depth)]))
    return (df.select(*gc, probes.alias("_p"), w.cast("long").alias("_w"))
            .select(*gc, "_p.j", "_p.bucket", "_w")
            .groupBy(*gc, "j", "bucket")
            .agg(F.sum("_w").alias("cnt")))


def cms_estimate(sketch: DataFrame, candidates: DataFrame,
                 key_col: str, depth: int = CMS_DEPTH,
                 width: int = CMS_WIDTH) -> DataFrame:
    """(*candidates' columns, cms_estimate): min-over-d-rows point
    estimates for the candidate keys. candidates×d probe rows
    equi-join the broadcast d·w-row sketch; a bucket no key ever
    incremented reads as the implicit 0. EVERY candidate column rides
    through (all become group keys, so they must be functionally
    dependent on `key_col` — e.g. the key's exact count): carrying
    context through the probe beats a post-hoc join back on the key,
    which would add a shuffle of the same rows for nothing."""
    key = F.col(key_col)
    carry = list(candidates.columns)
    reserved = {"j", "bucket", "cnt", "cms_estimate"}
    clash = reserved.intersection(carry)
    if clash:
        raise ValueError(f"cms_estimate: candidate column(s) {sorted(clash)} "
                         "collide with the probe's internal names "
                         f"{sorted(reserved)} — rename them first")
    probes = (candidates.select(
        *carry, F.explode(F.array(*[
            F.struct(F.lit(j).cast("int").alias("j"),
                     cms_bucket(key, j, width).alias("bucket"))
            for j in range(depth)])).alias("_p"))
        .select(*carry, "_p.j", "_p.bucket"))
    return (probes.join(bounded_broadcast(
                sketch, bound="CMS sketch (depth x width rows)"),
                ["j", "bucket"], "left")
            .groupBy(*carry)
            .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0).cast("long")))
                 .alias("cms_estimate")))


# ---------------------------------------------------------------------------
# Bloom filter (X-SKETCH-BLOOM) — the membership sibling: k bit
# positions per key OR'd into an m-bit array; a probe passes iff all k
# bits are set (no false negatives; false-positive rate ≈
# (1 − e^(−k·n/m))^k). Engine shape: the filter IS a relation
# (word_idx, word) of m/32 32-bit words built by one exact bit_or
# aggregate over per-row probe positions — merge law is plain bit_or
# of aligned words. 32-bit words keep every shift value (≤ 2^31)
# positive and identical in Spark longs and DuckDB BIGINTs, so the
# oracle replays the array bit-for-bit (a 64-bit word would need
# 1<<63, which overflows DuckDB's checked BIGINT shift).
# The 100 TB use: runtime semi-join pruning — when the build side's
# keys are too many to broadcast raw, broadcast the m/32-word filter
# instead and drop probe rows whose keys cannot be in the build side
# (Spark's own runtime bloom-filter join does exactly this; this
# relation form additionally persists, merges, and attests).
# ---------------------------------------------------------------------------

BLOOM_BITS = 4096
BLOOM_HASHES = 3
_BLOOM_WORD = 32
#: The merge law of Bloom partials: aligned words OR together.
BLOOM_MERGE = {"word": "bit_or"}


def _bloom_pos(key: Column, j: int, bits: int) -> Column:
    """Position j for `key`: the manifest md5 idiom with the hash
    index as domain separator (same family as cms_bucket)."""
    return F.pmod(
        F.conv(F.substring(
            F.md5(F.concat(F.lit(f"{j}:"), key.cast("string"))), 1, 15),
            16, 10).cast("long"),
        F.lit(int(bits)))


def bloom_build(df: DataFrame, key: Column | str,
                bits: int = BLOOM_BITS,
                group_cols: "tuple[str, ...]" = ()) -> DataFrame:
    """(*group_cols, word_idx, word): the Bloom filter of `key`'s
    distinct set, BLOOM_HASHES bits per key (the bits `bloom_probe`
    checks) — one pass, one bit_or hash aggregate; absent words
    are implicit zeros, so the relation is at most bits/32 rows (per
    group). `group_cols` builds one PARTIAL per group — the epoch
    partials of `streaming.sketches` — which `merge_partials` under
    `BLOOM_MERGE` (aligned bit_or) rolls up to filter(∪ groups),
    word for word."""
    key = F.col(key) if isinstance(key, str) else key
    gc = list(group_cols)
    pos = F.explode(F.array(*[_bloom_pos(key, j, bits)
                              for j in range(BLOOM_HASHES)])).alias("_pos")
    return (df.select(*gc, pos)
            .select(*gc,
                    F.floor(F.col("_pos") / _BLOOM_WORD).alias("word_idx"),
                    # shiftleft via expr: the Python API's numBits is
                    # literal-only, the SQL function takes a column
                    F.expr(f"shiftleft(CAST(1 AS BIGINT), "
                           f"CAST(_pos % {_BLOOM_WORD} AS INT))")
                    .alias("_bit"))
            .groupBy(*gc, "word_idx")
            .agg(F.bit_or("_bit").alias("word")))


def bloom_probe(bloom: DataFrame, candidates: DataFrame, key_col: str,
                bits: int = BLOOM_BITS) -> DataFrame:
    """(*candidates' columns, bloom_pass): True iff ALL BLOOM_HASHES
    bits are set — candidates × k probe rows equi-join the broadcast
    word relation; a missing word reads as the implicit 0 (so an empty
    filter rejects everything and never NULLs). As with cms_estimate,
    every candidate column rides through the probe (all become group
    keys; they must be functionally dependent on `key_col`)."""
    key = F.col(key_col)
    carry = list(candidates.columns)
    reserved = {"word_idx", "word", "_off", "_pos", "bloom_pass"}
    clash = reserved.intersection(carry)
    if clash:
        raise ValueError(f"bloom_probe: candidate column(s) {sorted(clash)} "
                         "collide with the probe's internal names "
                         f"{sorted(reserved)} — rename them first")
    probes = (candidates.select(
        *carry, F.explode(F.array(*[
            _bloom_pos(key, j, bits) for j in range(BLOOM_HASHES)]))
        .alias("_pos"))
        .select(*carry,
                F.floor(F.col("_pos") / _BLOOM_WORD).alias("word_idx"),
                (F.col("_pos") % _BLOOM_WORD).cast("int").alias("_off")))
    bit = F.expr("shiftright(COALESCE(word, CAST(0 AS BIGINT)), _off) % 2")
    return (probes.join(bounded_broadcast(
                bloom, bound="Bloom filter words (m/64 rows)"),
                ["word_idx"], "left")
            .groupBy(*carry)
            .agg((F.min(bit) == 1).alias("bloom_pass")))


# ---------------------------------------------------------------------------
# Equi-width histogram + quantile interpolation (X-SKETCH-HIST) — the
# mergeable-quantiles sketch class (the role t-digest/KLL play in
# production): bin counts are EXACT integer aggregates that merge by
# plain SUM, so per-partition/per-day partials roll up losslessly,
# and any quantile is answered from the bins-sized relation by linear
# interpolation — never by sorting the corpus. Bounds come from the
# caller (a catalog min/max or a first pass); everything downstream
# is integer-exact until the final interpolation divide, which is
# IEEE-portable (the BM25/anomaly contract), so a DuckDB oracle
# replays both the bins and the quantile estimates bit-for-bit.
# Error bound: a quantile is off by at most one bin width.
# ---------------------------------------------------------------------------

HIST_BINS = 16
#: The merge law of histogram partials: bin counts add.
HIST_MERGE = {"cnt": "sum"}


def equiwidth_histogram(df: DataFrame, value: Column | str,
                        lo: float, hi: float,
                        bins: int = HIST_BINS,
                        group_cols: "tuple[str, ...]" = ()) -> DataFrame:
    """(*group_cols, bin, cnt): exact counts per equi-width bin over
    [lo, hi] — one hash aggregate, map-side combined, merge law = SUM.
    Values at or beyond the bounds clamp into the edge bins (a
    histogram built with catalog bounds must absorb every row, not
    drop strays). With `group_cols` the bins are keyed per group —
    the per-source/per-type distribution every corpus report asks for
    — at groups×bins state, still a single aggregate."""
    if not (float(hi) > float(lo)):
        raise ValueError(f"equiwidth_histogram: hi ({hi}) must exceed "
                         f"lo ({lo}) — a zero-width range has no bins")
    v = (F.col(value) if isinstance(value, str) else value).cast("double")
    w = F.lit(float(hi)) - F.lit(float(lo))
    raw = F.floor(((v - F.lit(float(lo))) * F.lit(float(bins))) / w)
    b = F.greatest(F.lit(0).cast("long"),
                   F.least(raw, F.lit(int(bins) - 1).cast("long")))
    gc = list(group_cols)
    return (df.select(*gc, b.alias("bin")).groupBy(*gc, "bin")
            .agg(F.count("*").alias("cnt")))


def histogram_quantiles(hist: DataFrame, lo: float, hi: float,
                        ps: "list[float]",
                        bins: int = HIST_BINS,
                        group_cols: "tuple[str, ...]" = ()) -> DataFrame:
    """(*group_cols, p, est): linear-interpolated quantile estimates
    from the bins-sized histogram relation. rank = p·(N−1) over the
    cumulative counts (the SQL percentile_cont convention); within the
    owning bin the estimate interpolates position/(cnt) across the bin
    span. All inputs to the divide are exact longs, so the doubles are
    engine-portable.

    Global form (no groups): an EMPTY histogram fails loud (VERDICT
    r9 #3 — n=0 falsifies every ownership predicate, so the requested
    quantile rows would silently vanish, against the module's
    fail-loud discipline). The guard lives inside the n expression of
    the always-one-row totals relation, so it fires even though the
    ownership join has nothing to match. Grouped form: a group exists
    iff it has ≥1 row, so per-group n ≥ 1 structurally and empty
    input yields the (correct) empty per-group result."""
    from pyspark.sql import Window

    width = (F.lit(float(hi)) - F.lit(float(lo))) / F.lit(float(bins))
    p_arr = F.array(*[F.lit(float(p)) for p in ps])
    rank = F.col("p") * (F.col("n").cast("double") - F.lit(1.0))
    est = (F.lit(float(lo))
           + (F.col("bin").cast("double")
              + ((rank - F.col("prev").cast("double"))
                 / F.col("cnt").cast("double"))) * width)
    own = ((F.col("prev").cast("double") <= rank)
           & (rank < F.col("cum").cast("double")))
    gc = list(group_cols)
    if gc:
        wb = Window.partitionBy(*gc).orderBy("bin")
        wn = Window.partitionBy(*gc)
        c = (hist.withColumn("cum", F.sum("cnt").over(wb))
             .withColumn("prev", F.col("cum") - F.col("cnt"))
             .withColumn("n", F.sum("cnt").over(wn)))
        return (c.select(*gc, "bin", "cnt", "cum", "prev", "n",
                         F.explode(p_arr).alias("p"))
                .filter(own).select(*gc, "p", est.alias("est")))
    wb = Window.orderBy("bin")
    c = (hist.withColumn("cum", F.sum("cnt").over(wb))
         .withColumn("prev", F.col("cum") - F.col("cnt")))
    pr = (hist.agg(F.sum("cnt").alias("n"))
          .select(F.coalesce(F.col("n"), F.lit(0).cast("long"))
                  .alias("n"),
                  F.explode(p_arr).alias("p")))
    # LEFT join from the always-one-row totals side, ownership as the
    # join condition: an inner/cross join against a statically-empty
    # histogram would be pruned whole by PropagateEmptyRelation,
    # disarming any raise before it could evaluate; the left join
    # preserves pr, so the guards in the output expression always run
    j = pr.join(bounded_broadcast(
        c, bound="cumulative histogram (bins-bounded)"), own, "left")
    est_g = (F.when(
        F.col("n") <= 0,
        F.raise_error(F.lit(
            "histogram_quantiles: histogram is empty (total count 0) "
            "— quantiles are undefined; build the histogram over a "
            "non-empty input")).cast("double"))
        .when(
        F.col("bin").isNull(),
        F.raise_error(F.lit(
            "histogram_quantiles: no owning bin for a requested p — "
            "is p outside [0, 1]?")).cast("double"))
        .otherwise(est))
    return j.select("p", est_g.alias("est"))
