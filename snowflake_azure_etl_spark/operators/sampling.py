"""Deterministic corpus sampling (north-star extension; the reference
has only a blind top-N preview sink — SURVEY §2.1 S10 — no principled
downsampling surface).

Training-corpus pipelines sample in two shapes:

- **Rate sampling** (`hash_keep` / `stratified_keep`): keep an exact
  expected fraction of rows — per class, for rebalancing (downweight
  the over-represented language/domain). The decision is a pure hash
  of the row's id (portable md5, same idiom as `text.split_assign`):
  order-independent, rerun-stable, leakage-safe, and oracle-checkable
  — never `rand()` (non-reproducible) and never `df.sample`
  (partition-layout-dependent).
- **Quota capping** (`quota_cap`): keep at most N rows per key
  (docs per domain, images per site — the CommonCrawl-style
  anti-domination rule). Deterministic: the NTH smallest by an
  explicit order column, not "first N seen".

Scale (100 TB): the keep-decisions are row-local projections — no
shuffle, no state. `quota_cap` is one rank window on the class key
(one shuffle); for hot classes the optional `pre_cap` runs an
Arrow-batched per-input-partition cap first (each partition forwards
only its N smallest per class, accumulated across the partition's
batches in bounded N×classes memory), so the window's shuffle carries
≤ N × partitions rows per class instead of the class's full row count
— the map-side-combine move, applied to top-N.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..plans.attest import bounded_broadcast, maybe_broadcast

#: Hash-space resolution for fraction thresholds: fractions are exact
#: in units of 1/10000 (md5 buckets are uniform over [0, 10000)).
FRACTION_DENOM = 10_000


def _bucket(id_col: Column | str, salt: str) -> Column:
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{salt}:"),
                                   c.cast("string"))), 1, 8),
        16, 10).cast("long") % FRACTION_DENOM


def hash_keep(id_col: Column | str, fraction: float,
              salt: str = "sample") -> Column:
    """Boolean keep-decision for an exact-expected-rate sample: true
    for the deterministic `fraction` of the id hash space."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    return _bucket(id_col, salt) < int(round(fraction * FRACTION_DENOM))


def stratified_keep(id_col: Column | str, class_col: Column | str,
                    fractions: dict[str, float],
                    default_fraction: float = 1.0,
                    salt: str = "sample") -> Column:
    """Per-class keep-decision: class c keeps `fractions[c]` of its
    rows (by id hash), unlisted classes keep `default_fraction`.
    Row-local — the class column only selects the threshold; the hash
    is still over the id, so a row's fate never changes when class
    frequencies do."""
    for cls, frac in fractions.items():
        if not 0.0 <= frac <= 1.0:
            raise ValueError(f"fraction for {cls!r} must be in [0, 1]")
    if not 0.0 <= default_fraction <= 1.0:
        raise ValueError("default_fraction must be in [0, 1]")
    cc = F.col(class_col) if isinstance(class_col, str) else class_col
    threshold = F.lit(int(round(default_fraction * FRACTION_DENOM)))
    for cls, frac in sorted(fractions.items()):
        threshold = F.when(cc == cls,
                           int(round(frac * FRACTION_DENOM))) \
                     .otherwise(threshold)
    return _bucket(id_col, salt) < threshold


def quota_rank(class_cols: list[str], order_cols: list[str]) -> Column:
    """Deterministic 1-based rank within each class by the explicit
    order — the column `quota_cap` filters on, exposed so queries can
    attest the rank itself."""
    w = Window.partitionBy(*class_cols).orderBy(*order_cols)
    return F.row_number().over(w)


def temperature_fractions(counts: dict[str, int], tau: float,
                          target_total: int | None = None
                          ) -> dict[str, float]:
    """Per-class keep fractions for TEMPERATURE-scaled rebalancing —
    the mT5/CC-100 sampling rule (Xue et al. 2021 §3.1): sample class
    c proportionally to ``p_c^(1/tau)`` where ``p_c`` is its corpus
    share. ``tau=1`` preserves the natural distribution; ``tau>1``
    flattens it (upweights tail languages/domains); ``tau→∞`` is
    uniform. Returns the fraction of EACH CLASS'S OWN ROWS to keep —
    feed straight into `stratified_keep` (hash-stratified, row-local,
    rerun-stable).

    Keep fractions are normalized so the largest is 1.0 (downsample-
    only — the engine cannot mint rows; no class clamps under this
    normalization, so the realized class ratios are EXACTLY
    p^(1/tau) up to hash granularity); with `target_total` the
    fractions are WATERFILLED instead (ADVICE r13): classes whose
    temperature allocation exceeds their supply clamp at 1.0 and
    their shortfall redistributes over the unclamped classes in
    p^(1/tau) proportion, iterated until stable (≤ one clamp per
    class), so the expected output Σ fᵢ·nᵢ equals `target_total`
    exactly whenever target_total ≤ corpus total (above it,
    everything keeps — rows cannot be minted). Driver-side pure math
    over a class-cardinality-bounded dict (the caller's one groupBy
    count — classes are languages/domains, never corpus-scaled)."""
    if tau <= 0:
        raise ValueError(f"tau ({tau}) must be > 0")
    if not counts:
        return {}
    for cls, n in counts.items():
        if n < 0:
            raise ValueError(f"count for {cls!r} is negative")
    total = sum(counts.values())
    if total == 0:
        return {cls: 1.0 for cls in counts}
    weights = {cls: (n / total) ** (1.0 / tau) if n else 0.0
               for cls, n in counts.items()}
    wsum = sum(weights.values())
    # per-class keep fraction ∝ target share / supply share:
    # (w_c / wsum) / (n_c / total)
    raw = {cls: (weights[cls] / wsum) * total / n if n else 0.0
           for cls, n in counts.items()}
    if target_total is None:
        scale = 1.0 / max(raw.values())
        return {cls: min(raw[cls] * scale, 1.0) for cls in counts}
    if target_total <= 0:
        raise ValueError(f"target_total ({target_total}) must be "
                         "positive")
    # waterfilling (ADVICE r13): find scale s.t. Σ min(raw·scale, 1)·n
    # == target_total. A class clamps only when its allocation covers
    # its whole supply, and allocations sum to the target, so the
    # clamped supply never exceeds the target (scale stays >= 0); the
    # clamped set grows monotonically — at most |classes| rounds.
    clamped: set = set()
    scale = 0.0
    while True:
        un_mass = sum(raw[c] * counts[c]
                      for c in counts if c not in clamped)
        clamped_rows = sum(counts[c] for c in clamped)
        if un_mass <= 0:   # everything clamps: target >= corpus total
            break
        scale = (target_total - clamped_rows) / un_mass
        newly = {c for c in counts
                 if c not in clamped and raw[c] * scale >= 1.0}
        if not newly:
            break
        clamped |= newly
    return {cls: 1.0 if cls in clamped
            else min(max(raw[cls] * scale, 0.0), 1.0)
            for cls in counts}


def quota_cap(df: DataFrame, class_cols: list[str], order_cols: list[str],
              n: int, pre_cap: bool = False) -> DataFrame:
    """Keep the `n` smallest rows (by `order_cols`) per class.

    `pre_cap=True` inserts the per-input-partition Arrow cap before
    the rank window: every partition forwards at most `n` rows per
    class (its local n-smallest — a superset of each class's global
    n-smallest, so the result is identical), bounding the window's
    shuffle at n × partitions rows per class however hot the class is.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    src = _local_precap(df, class_cols, order_cols, n) if pre_cap else df
    return (src
            .withColumn("_qr", quota_rank(class_cols, order_cols))
            .filter(F.col("_qr") <= n).drop("_qr"))


def _local_precap(df: DataFrame, class_cols: list[str],
                  order_cols: list[str], n: int) -> DataFrame:
    """Per-partition n-smallest-per-class via mapInPandas: the batch
    iterator covers exactly one input partition, so a running buffer
    (capped at n rows per class seen) accumulates across batches in
    bounded memory and flushes once at iterator end."""
    import pandas as pd

    keys = list(class_cols)
    order = list(order_cols)

    def cap(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        buf: pd.DataFrame | None = None
        for pdf in batches:
            merged = pdf if buf is None else pd.concat((buf, pdf),
                                                       ignore_index=True)
            buf = (merged.sort_values(order, kind="mergesort")
                   .groupby(keys, sort=False).head(n))
        if buf is not None and len(buf):
            yield buf

    return df.mapInPandas(cap, df.schema)


#: Fixed-point scale for the temperature-sampling share weights.
MIX_SCALE = 1 << 20


def mixture_rates(df: DataFrame, source_col: str, weight: Column | str,
                  budget_fraction: float = 0.5,
                  temperature: float = 2.0) -> DataFrame:
    """(source, toks, rate): per-source sampling rates that hit a
    total token budget with temperature-flattened shares — the
    data-mixing step every multilingual/multi-domain LM pipeline runs
    (share_s ∝ toks_s^(1/τ); τ=2 ⇒ sqrt, the standard flattening that
    upsamples small domains without letting any one domain dominate).

    rate_s = min(1, (share_s · budget) / toks_s), where budget =
    budget_fraction · Σ toks. Engine-portable by the fixed-point
    contract: per-source weights are floor(sqrt(toks)·2^20) LONGS
    (sqrt is IEEE correctly-rounded, ·2^20 exact, floor unambiguous),
    so the share denominator is an order-invariant integer sum; the
    remaining arithmetic is +,×,÷ doubles with pinned parenthesization.
    The whole computation is source-count-sized after ONE weighted
    aggregate over the corpus. τ must currently be 2 — other
    temperatures need pow(), which is not bit-portable across
    engines; fail loud rather than silently unportable."""
    if temperature != 2.0:
        raise ValueError("mixture_rates: only temperature=2.0 (sqrt) "
                         "is engine-portable; pow() is not")
    w = F.col(weight) if isinstance(weight, str) else weight
    src = df.groupBy(source_col).agg(F.sum(w).alias("toks"))
    # fail loud on a non-positive source total (ADVICE r9): toks=0
    # would make rate = 0.0/0.0 = NaN (double division is IEEE even
    # under ANSI mode) and silently poison the mixture downstream;
    # the guard lives inside the weight expression so column pruning
    # cannot disarm it
    q = F.when(
        F.col("toks") <= 0,
        F.raise_error(F.concat(
            F.lit("mixture_rates: source "),
            F.col(source_col).cast("string"),
            F.lit(" has non-positive token total "),
            F.col("toks").cast("string"),
            F.lit(" — its share is undefined (0/0); filter it out "
                  "or fix the weight column"))).cast("long"),
    ).otherwise(
        F.floor(F.sqrt(F.col("toks").cast("double"))
                * F.lit(float(MIX_SCALE))).cast("long"))
    per = src.select(source_col, "toks", q.alias("qs"))
    tot = per.agg(F.sum("toks").alias("tot"), F.sum("qs").alias("qq"))
    rate = F.least(
        F.lit(1.0),
        ((F.col("qs").cast("double") / F.col("qq").cast("double"))
         * (F.col("tot").cast("double")
            * F.lit(float(budget_fraction))))
        / F.col("toks").cast("double"))
    return (per.crossJoin(bounded_broadcast(
                tot, bound="one-row corpus token total", max_rows=1))
            .select(source_col, "toks", rate.alias("rate")))


def apply_mixture(df: DataFrame, rates: DataFrame, source_col: str,
                  id_col: Column | str,
                  salt: str = "mixture") -> DataFrame:
    """APPLY a mixture plan: keep each source's rows at that source's
    rate — the sampling step that turns `mixture_rates`' plan into the
    mixed corpus. Per-row decision = deterministic md5-bucket
    thresholding (the `hash_keep` semantics, so the sample is exact in
    expected rate, order/partitioning-independent, and replayable),
    with the threshold coming from the BROADCAST rates relation
    (source-count-sized) instead of a Python literal — one row-local
    filter over the corpus, zero shuffles. round(rate·10⁴) is
    half-up on both engines (positive rates), so the kept set is
    engine-portable and oracle-attestable.

    A source ABSENT from `rates` fails loud (ADVICE r10): the join is
    LEFT and a null rate raises, rather than the inner-join behavior
    of silently dropping every row of an unplanned source — the same
    fail-loud contract as `mixture_rates`' non-positive-total guard.
    The raise lives inside the threshold expression so column pruning
    cannot disarm it."""
    thr = F.when(
        F.col("rate").isNull(),
        F.raise_error(F.concat(
            F.lit("apply_mixture: source "),
            F.col(source_col).cast("string"),
            F.lit(" has no rate in the mixture plan — rebuild "
                  "mixture_rates over the full corpus or filter the "
                  "source out explicitly"))).cast("long"),
    ).otherwise(
        F.round(F.col("rate") * F.lit(float(FRACTION_DENOM))).cast("long"))
    return (df.join(bounded_broadcast(
                    rates.select(source_col, "rate"),
                    bound="mixture rates (one row per source)"),
                    source_col, "left")
            .filter(_bucket(id_col, salt) < thr)
            .drop("rate"))


# ---------------------------------------------------------------------------
# DSIR-style importance resampling (X-SAMPLE-DSIR; Xie et al. 2023,
# "Data Selection for Language Models via Importance Resampling",
# arXiv:2302.03169) — the published tier above temperature mixing:
# score every raw document by the log likelihood ratio of a TARGET
# bag-of-hashed-n-grams model over the RAW model, then resample the
# highest-importance documents.
#
# Engine-portable by construction (the module's fixed-point
# contract): features are md5-hashed word n-grams (the split/md5
# idioms every dedup leg already attests); the per-bucket
# log-ratio uses `plog2` — an EXACT-INTEGER piecewise-linear log2
# (exponent from the binary-string length, fractional part by linear
# interpolation within the octave, fixed point 2^20; max error
# ~0.086 log2 units, monotone) — because IEEE ln/exp/pow are NOT
# bit-portable across engines (SCALE.md oracle contract) while
# string length, shifts, and integer division are. Per-document
# scores are therefore exact longs: order-invariant, rerun-stable,
# and oracle-checkable hash-for-hash.
#
# Scale (100 TB): the importance MODEL is two bucket-count
# aggregations (uniform md5 keys, map-side combinable) reduced to a
# bucket-count-sized stats relation — the persistable artifact, one
# broadcast row-set; scoring is one narrow join + row-local dot of
# counts × lambdas; selection is either a rank window (exact top-k)
# or a score threshold (row-local, no shuffle).
# ---------------------------------------------------------------------------

PLOG2_SCALE = 1 << 20
DSIR_BUCKETS = 4_096


#: Largest exponent whose full-precision fractional step fits a
#: BIGINT: (2^e − 1)·2^20 < 2^63 ⇔ e ≤ 43, kept one octave back for
#: headroom. Inputs above 2^43 pre-shift their mantissa (hypothesis
#: found the overflow at n ≈ 2^44.6 — exactly the gram-total
#: magnitude a 100 TB corpus produces), trading fractional bits below
#: the shift for range; both engines shift identically, so the result
#: stays exact-identical cross-engine.
_PLOG2_MAX_E = 42


def plog2(n: Column, scale: int = PLOG2_SCALE) -> Column:
    """Exact-integer fixed-point log2 of a positive integer column:
    e·scale + ((m − 2^(e−s))·scale) div 2^(e−s), where e = floor(log2
    n) comes from the binary-string length and m = n >> s with
    s = max(e − 42, 0) (the overflow-safe mantissa — see
    `_PLOG2_MAX_E`). Every step is integer-exact in both engines
    (Spark: conv/shiftleft/shiftright/div; DuckDB: format('{:b}'),
    <<, >>, //) — the portable surrogate for the banned ln()."""
    e = (F.length(F.conv(n.cast("string"), 10, 2)) - 1).cast("int")
    s = F.greatest(e - F.lit(_PLOG2_MAX_E), F.lit(0))
    m = F.call_function("shiftright", n.cast("long"), s)
    p2 = F.call_function("shiftleft", F.lit(1).cast("long"), e - s)
    frac = F.call_function("div", (m - p2) * F.lit(int(scale)), p2)
    return e.cast("long") * F.lit(int(scale)) + frac


def plog2_int(n: int, scale: int = PLOG2_SCALE) -> int:
    """The pure-Python twin of `plog2` for DRIVER-side model
    parameters (bounded Pregel-probe artifacts — BPE merges, unigram
    piece costs): identical integer math, so a cost computed on the
    driver equals the engine/oracle expression bit-for-bit."""
    if n <= 0:
        raise ValueError(f"plog2_int requires n > 0 (got {n})")
    e = n.bit_length() - 1
    s = max(e - _PLOG2_MAX_E, 0)
    m = n >> s
    p2 = 1 << (e - s)
    return e * scale + ((m - p2) * scale) // p2


def plog2_sql(expr: str, scale: int = PLOG2_SCALE) -> str:
    """The DuckDB mirror of `plog2` for oracle strings. The input is
    pinned to BIGINT: DuckDB widens SUM(BIGINT) to HUGEINT, whose
    format('{:b}') is rejected."""
    v = f"CAST({expr} AS BIGINT)"
    e = f"(length(format('{{:b}}', {v})) - 1)"
    s = f"greatest({e} - {_PLOG2_MAX_E}, 0)"
    m = f"({v} >> {s})"
    p2 = f"(CAST(1 AS BIGINT) << ({e} - {s}))"
    return (f"(CAST({e} AS BIGINT) * {scale} "
            f"+ (({m} - {p2}) * {scale}) // {p2})")


def hashed_ngram_counts(df: DataFrame, id_col: str, text_col: str,
                        n: int = 2, n_buckets: int = DSIR_BUCKETS,
                        salt: str = "dsir") -> DataFrame:
    """(id_col, bucket, c): md5-hashed word-n-gram counts per
    document — the DSIR feature map. Full-width grams only (a doc
    with fewer than `n` tokens contributes nothing); repeats count
    (bag semantics, the paper's model). Row-local until the one
    uniform-key (id, bucket) aggregate."""
    toks = F.split(F.col(text_col), " ")
    grams = F.when(
        F.size(toks) >= n,
        F.transform(F.sequence(F.lit(0), F.size(toks) - n),
                    lambda i: F.array_join(F.slice(toks, i + 1, n), " ")),
    ).otherwise(F.array().cast("array<string>"))
    bucket = (F.conv(F.substring(
        F.md5(F.concat(F.lit(f"{salt}:"), F.col("_g"))), 1, 8),
        16, 10).cast("long") % n_buckets)
    return (df.select(F.col(id_col), F.explode(grams).alias("_g"))
            .select(id_col, bucket.alias("bucket"))
            .groupBy(id_col, "bucket").agg(F.count("*").alias("c")))


def dsir_bucket_stats(df: DataFrame, target: DataFrame, id_col: str,
                      text_col: str, n: int = 2,
                      n_buckets: int = DSIR_BUCKETS,
                      salt: str = "dsir",
                      scale: int = PLOG2_SCALE) -> DataFrame:
    """(bucket, lam): the DSIR importance model — per hashed bucket,
    the fixed-point log2 likelihood ratio of the add-one-smoothed
    TARGET model over the RAW model:

        lam_b = plog2(n_T[b]+1) − plog2(N_T + B)
              − plog2(n_R[b]+1) + plog2(N_R + B)

    Exact longs end to end. Bounded by observed buckets (≤ B rows) —
    the persistable artifact a pipeline trains once per (target,
    corpus version) and broadcasts to every scoring pass. Buckets the
    raw corpus never emits are irrelevant (no document references
    them), so the relation is built on the raw bucket set with the
    target counts left-joined."""
    feats = hashed_ngram_counts(df, id_col, text_col, n, n_buckets,
                                salt)
    tgt = (hashed_ngram_counts(target, id_col, text_col, n, n_buckets,
                               salt)
           .groupBy("bucket").agg(F.sum("c").alias("_nt")))
    return _dsir_stats(feats.groupBy("bucket")
                       .agg(F.sum("c").alias("_nr")),
                       tgt, n_buckets, scale)


def dsir_feats_artifact(docs: DataFrame, id_col: str, text_col: str,
                        n: int = 2, n_buckets: int = DSIR_BUCKETS,
                        salt: str = "dsir") -> DataFrame:
    """The session-shared DSIR feature map: `hashed_ngram_counts`
    persisted once per (corpus plan, params) — the derived corpus
    representation every DSIR consumer (model training, scoring,
    top-k selection — q50 and q47 share it) reads instead of
    re-featurizing. Lazy persist: the first executing consumer
    materializes it."""
    from ._cache import cached_relation
    return cached_relation(
        hashed_ngram_counts(docs, id_col, text_col, n, n_buckets, salt),
        "dsir_feats")


def dsir_bucket_stats_from(feats: DataFrame, target_ids: DataFrame,
                           id_col: str,
                           n_buckets: int = DSIR_BUCKETS,
                           scale: int = PLOG2_SCALE,
                           n_target: int | None = None) -> DataFrame:
    """`dsir_bucket_stats` for the common case where the TARGET is a
    subset of the raw corpus, over an already-built feature map
    (`hashed_ngram_counts` output — the derived corpus representation
    a pipeline computes once and shares between model training and
    scoring): target counts come from a semi-join on `target_ids`, so
    the corpus is featurized exactly once across the whole DSIR
    pass. `target_ids` is corpus-proportional in the worst case, so
    it broadcasts ONLY under the module-standard size attestation
    (``n_target`` ≤ `plans.attest.BROADCAST_MAX_ROWS`); unattested, the
    semi-join shuffles and AQE may still broadcast at runtime."""
    raw = feats.groupBy("bucket").agg(F.sum("c").alias("_nr"))
    tgt = (feats.join(maybe_broadcast(target_ids.select(id_col),
                                       n_target),
                      id_col, "left_semi")
           .groupBy("bucket").agg(F.sum("c").alias("_nt")))
    return _dsir_stats(raw, tgt, n_buckets, scale)


def _dsir_stats(raw: DataFrame, tgt: DataFrame, n_buckets: int,
                scale: int) -> DataFrame:
    joined = (raw.join(tgt, "bucket", "left")
              .select("bucket", "_nr",
                      F.coalesce("_nt", F.lit(0).cast("long"))
                      .alias("_nt")))
    totals = joined.agg(F.sum("_nr").alias("_tr"),
                        F.sum("_nt").alias("_tt"))
    lam = (plog2(F.col("_nt") + 1, scale)
           - plog2(F.col("_tt") + n_buckets, scale)
           - plog2(F.col("_nr") + 1, scale)
           + plog2(F.col("_tr") + n_buckets, scale))
    return (joined.crossJoin(bounded_broadcast(
                totals, bound="one-row gram-total normalizers",
                max_rows=1))
            .select("bucket", lam.alias("lam")))


def dsir_log_weights(df: DataFrame, stats: DataFrame, id_col: str,
                     text_col: str, n: int = 2,
                     n_buckets: int = DSIR_BUCKETS,
                     salt: str = "dsir") -> DataFrame:
    """(id_col, dsir_score): per-document importance score
    Σ_b c_b·lam_b as an exact long (0 for docs with no full-width
    gram — the neutral log-ratio). One narrow broadcast join of the
    feature map against the bucket stats, one doc-keyed aggregate;
    documents never shuffle their text."""
    feats = hashed_ngram_counts(df, id_col, text_col, n, n_buckets, salt)
    return dsir_log_weights_from(df.select(id_col), feats, stats, id_col)


def dsir_log_weights_from(ids: DataFrame, feats: DataFrame,
                          stats: DataFrame, id_col: str,
                          n_buckets: int = DSIR_BUCKETS) -> DataFrame:
    """`dsir_log_weights` over an already-built feature map — the
    share-one-featurization sibling of `dsir_bucket_stats_from`.
    `ids` is the id universe (docs with no full-width gram coalesce
    to score 0). ``n_buckets`` is the model's bucket count — the
    broadcast attestation bound (review finding r12: a hardcoded
    DSIR_BUCKETS bound was FALSE for callers with wider models)."""
    scored = (feats.join(bounded_broadcast(
        stats, bound="DSIR bucket model (<= n_buckets rows)",
        max_rows=min(n_buckets, 1_000_000)), "bucket")
              .groupBy(id_col)
              .agg(F.sum(F.col("c") * F.col("lam")).alias("_s")))
    return (ids.join(scored, id_col, "left")
            .select(id_col,
                    F.coalesce("_s", F.lit(0).cast("long"))
                    .alias("dsir_score")))


def dsir_resample(df: DataFrame, target: DataFrame, id_col: str,
                  text_col: str, k: int, n: int = 2,
                  n_buckets: int = DSIR_BUCKETS,
                  salt: str = "dsir") -> DataFrame:
    """Deterministic DSIR selection: the `k` highest-importance
    documents (score desc, id asc — the engine's reproducibility
    contract; the paper's Gumbel-noise variant needs ln(), which is
    not engine-portable, so the deterministic top-k is the offered
    path). Returns (id_col, dsir_score, dsir_rank).

    Selection is sort+limit — TakeOrderedAndProject, the distributed
    per-partition top-k merge, NOT a global rank window (which would
    drag every (id, score) row to one partition); the rank attaches
    after the limit, over k rows."""
    stats = dsir_bucket_stats(df, target, id_col, text_col, n,
                              n_buckets, salt)
    top = (dsir_log_weights(df, stats, id_col, text_col, n,
                            n_buckets, salt)
           .orderBy(F.desc("dsir_score"), F.asc(id_col))
           .limit(k))
    w = Window.orderBy(F.desc("dsir_score"), F.asc(id_col))
    return (top.withColumn("dsir_rank",
                           F.row_number().over(w).cast("int")))


# ---------------------------------------------------------------------------
# Quality-weighted mixture (X-MIXTURE-QUALITY) — compose a trained
# quality score (operators.classifier) into the mixture plan: rates
# are derived per (source, quality-bucket) cell with the share TILTED
# linearly by the bucket, so higher-quality strata of every source
# are upsampled relative to their size while the total stays on
# budget. The published pattern (quality-classifier-weighted sampling
# — the fastText-filter tier of C4/CCNet-style pipelines) expressed
# with the module's fixed-point machinery.
# ---------------------------------------------------------------------------


def quality_bucket(score: Column, n_buckets: int = 4) -> Column:
    """Deterministic quality bucket of a [0,1] score: floor(p·B)
    clamped to B−1 (p = 1.0 joins the top bucket). Row-local and
    portable — floor over one IEEE multiply, identical in both
    engines."""
    return F.least(F.floor(score * n_buckets),
                   F.lit(n_buckets - 1).cast("long")).cast("int")


def quality_mixture_rates(df: DataFrame, source_col: str,
                          bucket_col: str, weight: Column | str,
                          budget_fraction: float = 0.5) -> DataFrame:
    """(source, bucket, toks, rate): per-(source, quality-bucket)
    sampling rates hitting `budget_fraction` of the total token mass
    with quality-tilted temperature-2 shares:

        share_cell ∝ floor(sqrt(toks_cell)·2^20) · (bucket + 1)
        rate_cell  = min(1, (share_cell/Σshare) · (Σtoks · budget)
                            / toks_cell)

    The tilt multiplies the fixed-point sqrt weight by the exact
    integer (bucket+1) — a top-of-4 bucket draws 4× the share of an
    equal-sized bottom bucket — keeping the share denominator an
    order-invariant integer sum (the `mixture_rates` portability
    contract). Cell-count-sized after ONE weighted aggregate; fails
    loud on a non-positive cell total exactly like `mixture_rates`."""
    w = F.col(weight) if isinstance(weight, str) else weight
    src = df.groupBy(source_col, bucket_col).agg(F.sum(w).alias("toks"))
    q = F.when(
        F.col("toks") <= 0,
        F.raise_error(F.concat(
            F.lit("quality_mixture_rates: cell ("),
            F.col(source_col).cast("string"), F.lit(", "),
            F.col(bucket_col).cast("string"),
            F.lit(") has non-positive token total — its share is "
                  "undefined (0/0); filter it out or fix the weight "
                  "column"))).cast("long"),
    ).otherwise(
        F.floor(F.sqrt(F.col("toks").cast("double"))
                * F.lit(float(MIX_SCALE))).cast("long")
        * (F.col(bucket_col).cast("long") + 1))
    per = src.select(source_col, bucket_col, "toks", q.alias("qs"))
    tot = per.agg(F.sum("toks").alias("tot"), F.sum("qs").alias("qq"))
    rate = F.least(
        F.lit(1.0),
        ((F.col("qs").cast("double") / F.col("qq").cast("double"))
         * (F.col("tot").cast("double")
            * F.lit(float(budget_fraction))))
        / F.col("toks").cast("double"))
    return (per.crossJoin(bounded_broadcast(
                tot, bound="one-row corpus token total", max_rows=1))
            .select(source_col, bucket_col, "toks", rate.alias("rate")))


def apply_quality_mixture(df: DataFrame, rates: DataFrame,
                          source_col: str, bucket_col: str,
                          id_col: Column | str,
                          salt: str = "qmix") -> DataFrame:
    """APPLY a quality-weighted mixture plan: the `apply_mixture`
    semantics with a (source, bucket) composite key — deterministic
    md5-bucket thresholding against the broadcast rates relation, one
    row-local filter, zero shuffles, fail-loud on a cell absent from
    the plan."""
    thr = F.when(
        F.col("rate").isNull(),
        F.raise_error(F.concat(
            F.lit("apply_quality_mixture: cell ("),
            F.col(source_col).cast("string"), F.lit(", "),
            F.col(bucket_col).cast("string"),
            F.lit(") has no rate in the mixture plan — rebuild "
                  "quality_mixture_rates over the full corpus"))
        ).cast("long"),
    ).otherwise(
        F.round(F.col("rate") * F.lit(float(FRACTION_DENOM))).cast("long"))
    return (df.join(bounded_broadcast(
                    rates.select(source_col, bucket_col, "rate"),
                    bound="mixture rates (one row per source x stratum)"),
                    [source_col, bucket_col], "left")
            .filter(_bucket(id_col, salt) < thr)
            .drop("rate"))
