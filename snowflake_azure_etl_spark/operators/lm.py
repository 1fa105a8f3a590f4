"""Interpolated bigram/trigram language-model perplexity filter — the
CCNet/KenLM quality tier above the unigram corpus LM (VERDICT r11 #5).

CCNet (Wenzek et al. 2019) scores every document with a KenLM n-gram
model and keeps the low-perplexity head/middle of the distribution;
this module is that tier re-expressed in the engine's exact-integer
fixed-point discipline so the whole pipeline — training counts,
per-token scores, the keep decision — is oracle-replayable
hash-for-hash (ln/exp are NOT bit-portable across engines; integer
shifts and string length are — see `sampling.plog2`).

Model. Token unigram counts c1(w) and adjacent-bigram counts
c2(w1,w2) over the corpus, each with a min-count floor (rare grams
drop to 0 — the KenLM pruning analog that bounds the artifact). The
per-position score is the LOG-LINEAR interpolation (product-of-
experts smoothing — portable where the classic linear interpolation
is not, because log(a+b) has no exact-integer form):

    score(w1,w2) = lam · [plog2(c2+1) − plog2(c1(w1)+V)]
                 + (LAM_DEN−lam) · [plog2(c1(w2)+1) − plog2(N+V)]

with add-one smoothing over the vocab V, N = total tokens. Both
bracketed terms are ≤ 0 (c2 ≤ c1(w1) and c1 ≤ N, and a floored-out
w1 floors every bigram it leads), so per-document totals are exact
non-positive longs. The per-document perplexity proxy is

    ppl_bits = (−Σ score) div n_positions

— average cost per position in units of LAM_DEN·PLOG2_SCALE·log2 —
and the keep decision compares it to the CORPUS-average cost (one
one-row aggregate): keep ≡ ppl_bits ≤ (Σ_corpus −score) div
(Σ_corpus positions), CCNet's "head+middle of the distribution" with
an exact-integer cut.

Scale (100 TB):
- training = two grouped counts over exploded tokens/bigrams with
  map-side combine; the floor bounds the persisted artifact (the
  model a pipeline trains once per corpus version);
- scoring = one (doc, w1, w2) bag aggregate (uniform keys), then
  equi-joins against the model relations — UNhinted, so AQE
  broadcasts them when they fit and shuffle-joins on token keys when
  a 100 TB vocab does not (a forced broadcast here would be the
  r11 q50 defect); the totals/threshold relations are one-row
  attested broadcasts;
- the keep decision is row-local against the one-row threshold — no
  global sort, no rank window over the corpus.

The trigram tier (`trigram_lm_model` / `trigram_lm_bits`) is the same
construction one order up — 3-way log-linear interpolation of
tri/bi/uni experts — and carries CCNet's ACTUAL selection rule:
exact-integer tercile cuts of the perplexity distribution
(`lm_terciles`) with head/middle kept and tail dropped (`lm_bucket`);
the average-threshold `lm_keep` is the two-way approximation. All
gram families and scoring bags can explode from ONE shared
`tokenized` relation, so the corpus text is decoded and split once
per session across every tier.

Reference parity note: the reference repo (rahil911/snowflake-azure-etl)
has no LM tier — this extends the LLM-pipeline surface
(SURVEY §2 north-star extensions), following operators/sampling.py's
DSIR fixed-point conventions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans.attest import bounded_broadcast
from .sampling import PLOG2_SCALE, plog2, plog2_sql

#: Interpolation weight lam/LAM_DEN on the bigram expert (0.75 — the
#: conventional heavy-bigram mix); exact integers so both engines
#: compute identical scores.
LM_LAMBDA_NUM = 3
LM_LAMBDA_DEN = 4

#: Min-count floor for model grams: counts below it drop from the
#: model (score as unseen). Bounds the persisted artifact the way
#: KenLM pruning does.
LM_MIN_COUNT = 2

#: Trigram-tier interpolation weights (tri/bi/uni experts, summing to
#: LM3_DEN) — the heavy-high-order mix one tier above the bigram
#: model's 3/4-1/4. Exact integers, same portability contract.
LM3_L3 = 4
LM3_L2 = 3
LM3_L1 = 1
LM3_DEN = LM3_L3 + LM3_L2 + LM3_L1


def _toks(text_col: Column | str) -> Column:
    # the ONE single-space tokenizer (oracle contract: string_split
    # semantics) — delegated so a tokenization fix lands everywhere
    from .text import tokens
    return tokens(text_col)


def _pairs_of(toks: Column) -> Column:
    """array<struct<w1,w2>> of adjacent pairs from a token-array
    column (empty under 2 tokens) — two shifted views zipped, the
    word_shingles construction specialized to n=2 with the pair kept
    structured."""
    return F.when(
        F.size(toks) >= 2,
        F.zip_with(F.slice(toks, 1, F.size(toks) - 1),
                   F.slice(toks, 2, F.size(toks) - 1),
                   lambda a, b: F.struct(a.alias("w1"), b.alias("w2"))),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))


def _triples_of(toks: Column) -> Column:
    """array<struct<w1,w2,w3>> of adjacent triples from a token-array
    column (empty under 3 tokens) — index-transform, `_pairs_of` one
    order up."""
    return F.when(
        F.size(toks) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 2),
            lambda i: F.struct(F.element_at(toks, i).alias("w1"),
                               F.element_at(toks, i + 1).alias("w2"),
                               F.element_at(toks, i + 2).alias("w3"))),
    ).otherwise(
        F.array().cast("array<struct<w1:string,w2:string,w3:string>>"))


def tokenized(docs: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """(id, tk): the tokenize-once relation — THE shared scan under
    the whole LM family (the q53 `_window_occurrences` pattern).
    Every gram family and scoring bag is an explode over this one
    relation, so a session/pipeline that caches it pays the corpus
    text decode + split exactly once across unigram, bigram, and
    trigram tiers. Corpus-token-sized × one array column;
    MEMORY_AND_DISK spills at 100 TB."""
    return docs.select(F.col(id_col), _toks(text_col).alias("tk"))


def unigram_counts(docs: DataFrame, text_col: str = "text",
                   toks: DataFrame | None = None) -> DataFrame:
    """(tok, c): UN-floored unigram counts. Not derivable from the
    pair bag (each document's LAST token leads no pair), so the
    unigram family keeps its own explode over the shared tokens."""
    base = (toks if toks is not None
            else docs.select(_toks(text_col).alias("tk")))
    return (base.select(F.explode("tk").alias("tok"))
            .groupBy("tok").agg(F.count("*").alias("c")))


def bigram_lm_counts(docs: DataFrame, text_col: str = "text",
                     toks: DataFrame | None = None
                     ) -> tuple[DataFrame, DataFrame]:
    """(uni_all, bi_all): the UN-floored gram counts — the growable
    artifact. Counts are additive, so a pipeline lands THESE per
    corpus version/batch and grows them with `merge_gram_counts` (or
    forgets with `subtract_gram_counts`); the floored serving model
    derives by `lm_model_from_counts`. The floor itself is NOT
    additive (a gram under the floor in two batches can clear it in
    their union), which is why the floored relations never merge.
    Pass `toks` (a `tokenized` relation, typically session-cached) to
    count from the shared tokenize-once scan."""
    base = (toks if toks is not None
            else docs.select(_toks(text_col).alias("tk")))
    uni_all = unigram_counts(docs, text_col, toks=base)
    bi_all = (base.select(F.explode(_pairs_of(F.col("tk"))).alias("p"))
              .groupBy(F.col("p.w1").alias("w1"),
                       F.col("p.w2").alias("w2"))
              .agg(F.count("*").alias("c")))
    return uni_all, bi_all


def lm_model_from_counts(uni_all: DataFrame, bi_all: DataFrame,
                         min_count: int = LM_MIN_COUNT
                         ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The serving model from (possibly merged) raw counts:
    (uni floored, bi floored, one-row totals). Totals come BEFORE the
    floor — the smoothing denominator must cover the full
    distribution, not the pruned artifact."""
    totals = uni_all.agg(F.sum("c").cast("long").alias("n"),
                         F.count("*").alias("v"))
    return (uni_all.filter(F.col("c") >= min_count),
            bi_all.filter(F.col("c") >= min_count),
            totals)


def bigram_lm_model(docs: DataFrame, text_col: str = "text",
                    min_count: int = LM_MIN_COUNT,
                    toks: DataFrame | None = None
                    ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Train the model in one shot: (uni, bi, totals) =
    `lm_model_from_counts(*bigram_lm_counts(docs))`."""
    uni_all, bi_all = bigram_lm_counts(docs, text_col, toks=toks)
    return lm_model_from_counts(uni_all, bi_all, min_count)


def trigram_lm_counts(docs: DataFrame, text_col: str = "text",
                      toks: DataFrame | None = None) -> DataFrame:
    """(w1, w2, w3, c): UN-floored adjacent-trigram counts — the
    third growable gram artifact beside `bigram_lm_counts`' two.
    Grows with `merge_gram_counts(..., key_cols=("w1","w2","w3"))`
    and forgets with `subtract_gram_counts` — the laws are key-generic
    by construction."""
    base = (toks if toks is not None
            else docs.select(_toks(text_col).alias("tk")))
    return (base.select(F.explode(_triples_of(F.col("tk"))).alias("t"))
            .groupBy(F.col("t.w1").alias("w1"),
                     F.col("t.w2").alias("w2"),
                     F.col("t.w3").alias("w3"))
            .agg(F.count("*").alias("c")))


def trigram_lm_model(docs: DataFrame, text_col: str = "text",
                     min_count: int = LM_MIN_COUNT,
                     toks: DataFrame | None = None
                     ) -> tuple[DataFrame, DataFrame, DataFrame,
                                DataFrame]:
    """Train the trigram tier in one shot: (uni, bi, tri, totals) —
    the bigram model's relations plus the floored trigram counts.
    Floor monotonicity keeps every interpolation term ≤ 0: a trigram
    that clears the floor forces its prefix bigram (c2_all ≥ c3_all)
    and its suffix bigram's lead unigram (c1_all ≥ c2_all) over the
    same floor, so no surviving numerator ever exceeds its
    denominator's count."""
    uni_all, bi_all = bigram_lm_counts(docs, text_col, toks=toks)
    uni, bi, totals = lm_model_from_counts(uni_all, bi_all, min_count)
    tri = (trigram_lm_counts(docs, text_col, toks=toks)
           .filter(F.col("c") >= min_count))
    return uni, bi, tri, totals


def merge_gram_counts(a: DataFrame, b: DataFrame,
                      key_cols: "tuple[str, ...]" = ("tok",)
                      ) -> DataFrame:
    """SUM-merge of raw gram-count relations — counts(A) ⊎ counts(B)
    == counts(A ∪ B), the law that grows the LM artifact per ingest
    batch without re-scanning the corpus (the `merge_window_index`
    contract, pinned in tests/test_lm.py). Use ("w1", "w2") for the
    bigram relation."""
    return (a.unionByName(b).groupBy(*key_cols)
            .agg(F.sum("c").cast("long").alias("c")))


def subtract_gram_counts(index: DataFrame, removed: DataFrame,
                         key_cols: "tuple[str, ...]" = ("tok",)
                         ) -> DataFrame:
    """Decremental maintenance — counts(corpus) ⊖ counts(removed ⊆
    corpus) == counts(corpus \\ removed) exactly: the LM artifact's
    right-to-be-forgotten path (the `subtract_window_index` law).
    Over-subtraction (removed not a subset) fails loud instead of
    landing a silently wrong model; zeroed grams leave the relation.

    r12 review hardening: the join is FULL OUTER (a left join dropped
    removed-only grams before the guard could see them — a removed
    batch containing a gram the index never held passed silently),
    and the removed side pre-aggregates by key (duplicate keys would
    both fan out the output and evade the per-row guard by splitting
    one over-subtraction across rows)."""
    r = (removed.groupBy(*key_cols)
         .agg(F.sum("c").cast("long").alias("_cr")))
    n = F.when(
        F.coalesce(F.col("_cr"), F.lit(0).cast("long"))
        > F.coalesce(F.col("c"), F.lit(0).cast("long")),
        F.raise_error(F.lit(
            "subtract_gram_counts: over-subtraction — the removed "
            "side counts a gram more times than the index does; it "
            "is not a subset of the indexed corpus")).cast("long"),
    ).otherwise(F.coalesce(F.col("c"), F.lit(0).cast("long"))
                - F.coalesce(F.col("_cr"), F.lit(0).cast("long")))
    return (index.join(r, list(key_cols), "full_outer")
            .select(*key_cols, n.alias("c"))
            .filter(F.col("c") > 0))


def bigram_lm_bits(docs: DataFrame, id_col: str, text_col: str,
                   uni: DataFrame, bi: DataFrame, totals: DataFrame,
                   lam_num: int = LM_LAMBDA_NUM,
                   lam_den: int = LM_LAMBDA_DEN,
                   scale: int = PLOG2_SCALE,
                   toks: DataFrame | None = None,
                   grams: DataFrame | None = None) -> DataFrame:
    """(id, lm_bits, lm_n_pos, lm_ppl_bits): per-document interpolated
    log2-likelihood (exact long, ≤ 0) over adjacent-token positions,
    the position count, and the per-position perplexity proxy
    (NULL for documents under 2 tokens — nothing to score).

    Score-per-GRAM shape (r12 second pass): the per-position term
    depends only on (w1, w2), so the model joins and the plog2
    expression trees evaluate once per DISTINCT gram (Zipf-bounded —
    ≪ positions at corpus scale) and the corpus-sized position
    relation pays exactly ONE gram-keyed equi-join, then a per-doc
    aggregate whose map-side combine collapses each partition's
    positions before the doc-keyed shuffle. Pass `grams` — any
    relation whose (w1, w2) rows COVER the corpus's observed pairs,
    canonically the un-floored `bigram_lm_counts` relation already
    built for the model — to skip the fallback distinct; the model
    joins stay unhinted (AQE picks broadcast vs shuffle by real
    size), the one-row totals broadcast is attested. `toks`: optional
    pre-tokenized (id, tk) relation (the shared tokenize-once scan).
    """
    src = (toks if toks is not None
           else docs.select(F.col(id_col), _toks(text_col).alias("tk")))
    pos = (src.select(F.col(id_col),
                      F.explode(_pairs_of(F.col("tk"))).alias("p"))
           .select(id_col, F.col("p.w1").alias("w1"),
                   F.col("p.w2").alias("w2")))
    # distinct also on the caller's relation: duplicate gram keys
    # would fan out the position join and silently multiply scores —
    # the canonical input (a groupBy output) is already distinct, so
    # this is a vocab-side no-op in data, a correctness guard in kind
    gkeys = (grams.select("w1", "w2").distinct() if grams is not None
             else pos.select("w1", "w2").distinct())
    u1 = uni.select(F.col("tok").alias("w1"), F.col("c").alias("_c1"))
    u2 = uni.select(F.col("tok").alias("w2"), F.col("c").alias("_c2"))
    b = bi.select("w1", "w2", F.col("c").alias("_cb"))
    zero = F.lit(0).cast("long")
    g = (gkeys.join(u1, "w1", "left").join(u2, "w2", "left")
         .join(b, ["w1", "w2"], "left")
         .crossJoin(bounded_broadcast(
             totals, bound="one-row LM totals (N tokens, V vocab)",
             max_rows=1)))
    term = (F.lit(lam_num)
            * (plog2(F.coalesce(F.col("_cb"), zero) + 1, scale)
               - plog2(F.coalesce(F.col("_c1"), zero) + F.col("v"),
                       scale))
            + F.lit(lam_den - lam_num)
            * (plog2(F.coalesce(F.col("_c2"), zero) + 1, scale)
               - plog2(F.col("n") + F.col("v"), scale)))
    gterm = g.select("w1", "w2", term.alias("_t"))
    # LEFT join + per-row raise: an under-covering `grams` relation
    # must fail loud, not silently drop scored positions (the
    # subtract_gram_counts guard discipline)
    checked = F.when(F.col("_t").isNull(), F.raise_error(F.lit(
        "bigram_lm_bits: grams does not cover an observed corpus "
        "pair — pass the un-floored counts relation or None"))
        .cast("long")).otherwise(F.col("_t"))
    per_doc = (pos.join(gterm, ["w1", "w2"], "left")
               .groupBy(id_col)
               .agg(F.sum(checked).alias("lm_bits"),
                    F.count("*").alias("lm_n_pos")))
    ppl = F.call_function("div", -F.col("lm_bits"), F.col("lm_n_pos"))
    return (docs.select(id_col).join(per_doc, id_col, "left")
            .select(id_col, "lm_bits",
                    F.col("lm_n_pos").cast("long").alias("lm_n_pos"),
                    ppl.alias("lm_ppl_bits")))


def trigram_lm_bits(docs: DataFrame, id_col: str, text_col: str,
                    uni: DataFrame, bi: DataFrame, tri: DataFrame,
                    totals: DataFrame,
                    l3: int = LM3_L3, l2: int = LM3_L2,
                    l1: int = LM3_L1,
                    scale: int = PLOG2_SCALE,
                    toks: DataFrame | None = None,
                    grams: DataFrame | None = None) -> DataFrame:
    """(id, lm3_bits, lm3_n_pos, lm3_ppl_bits): the trigram tier's
    per-document interpolated log2-likelihood over adjacent-triple
    positions (NULL for documents under 3 tokens). Same score-per-
    gram shape as `bigram_lm_bits` one order up: the five model
    joins and the plog2 trees evaluate once per distinct triple
    (`grams` — canonically the un-floored trigram counts already
    built for the model; Zipf-bounded), unhinted so AQE picks
    broadcast vs shuffle by real size — a vocab³ artifact at 100 TB
    must be allowed to shuffle-join; the corpus-sized position
    relation pays ONE gram-keyed join, then the map-side-combining
    per-doc aggregate.

        score = l3·[plog2(c3+1) − plog2(c2(w1,w2)+V)]
              + l2·[plog2(c2(w2,w3)+1) − plog2(c1(w2)+V)]
              + l1·[plog2(c1(w3)+1) − plog2(N+V)]
    """
    src = (toks if toks is not None
           else docs.select(F.col(id_col), _toks(text_col).alias("tk")))
    pos = (src.select(F.col(id_col),
                      F.explode(_triples_of(F.col("tk"))).alias("t"))
           .select(id_col, F.col("t.w1").alias("w1"),
                   F.col("t.w2").alias("w2"),
                   F.col("t.w3").alias("w3")))
    gkeys = (grams.select("w1", "w2", "w3").distinct()
             if grams is not None
             else pos.select("w1", "w2", "w3").distinct())
    u2 = uni.select(F.col("tok").alias("w2"), F.col("c").alias("_cu2"))
    u3 = uni.select(F.col("tok").alias("w3"), F.col("c").alias("_cu3"))
    b12 = bi.select("w1", F.col("w2").alias("w2"),
                    F.col("c").alias("_c12"))
    b23 = bi.select(F.col("w1").alias("w2"), F.col("w2").alias("w3"),
                    F.col("c").alias("_c23"))
    t3 = tri.select("w1", "w2", "w3", F.col("c").alias("_c123"))
    zero = F.lit(0).cast("long")
    g = (gkeys.join(u2, "w2", "left").join(u3, "w3", "left")
         .join(b12, ["w1", "w2"], "left")
         .join(b23, ["w2", "w3"], "left")
         .join(t3, ["w1", "w2", "w3"], "left")
         .crossJoin(bounded_broadcast(
             totals, bound="one-row LM totals (N tokens, V vocab)",
             max_rows=1)))
    term = (F.lit(l3)
            * (plog2(F.coalesce(F.col("_c123"), zero) + 1, scale)
               - plog2(F.coalesce(F.col("_c12"), zero) + F.col("v"),
                       scale))
            + F.lit(l2)
            * (plog2(F.coalesce(F.col("_c23"), zero) + 1, scale)
               - plog2(F.coalesce(F.col("_cu2"), zero) + F.col("v"),
                       scale))
            + F.lit(l1)
            * (plog2(F.coalesce(F.col("_cu3"), zero) + 1, scale)
               - plog2(F.col("n") + F.col("v"), scale)))
    gterm = g.select("w1", "w2", "w3", term.alias("_t"))
    checked = F.when(F.col("_t").isNull(), F.raise_error(F.lit(
        "trigram_lm_bits: grams does not cover an observed corpus "
        "triple — pass the un-floored counts relation or None"))
        .cast("long")).otherwise(F.col("_t"))
    per_doc = (pos.join(gterm, ["w1", "w2", "w3"], "left")
               .groupBy(id_col)
               .agg(F.sum(checked).alias("lm3_bits"),
                    F.count("*").alias("lm3_n_pos")))
    ppl = F.call_function("div", -F.col("lm3_bits"), F.col("lm3_n_pos"))
    return (docs.select(id_col).join(per_doc, id_col, "left")
            .select(id_col, "lm3_bits",
                    F.col("lm3_n_pos").cast("long").alias("lm3_n_pos"),
                    ppl.alias("lm3_ppl_bits")))


def lm_terciles(scored: DataFrame, ppl_col: str = "lm3_ppl_bits",
                n_rows: int | None = None) -> DataFrame:
    """ONE row (t1, t2): the exact tercile cuts of the scored
    perplexity distribution — CCNet's actual head/middle/tail split
    (Wenzek et al. 2019 §4.3), where the average-threshold `lm_keep`
    is its two-way approximation. Integer-exact and oracle-replayable:
    group the (integer) scores, cumulative-sum in score order, and
    take the smallest score whose cumulative count covers ⅓ (t1) and
    ⅔ (t2) of scored documents — `cum·3 ≥ N` avoids division
    entirely. The grouped relation is bounded by DISTINCT score
    values (≪ corpus; the rank-over-aggregate window family), and the
    cuts relation is a one-row artifact a pipeline trains once and
    broadcasts always.

    `n_rows` is the caller's corpus-size attestation (footer/catalog
    count; an upper bound is fine). Above `plans.prefix.
    WINDOW_MAX_ROWS` (the packing/surrogate-key edge) the cumulative
    count switches from the single global window to
    `plans.prefix.ranged_prefix_sum` (range-repartition +
    per-partition window + a parallelism-bounded driver prefix), so
    the one single-partition sort this build used to carry at 100 TB
    is gone, and the scored-document total rides the prefix pass's
    driver-collected partition sums as a literal (no extra
    aggregation, no window). Both paths produce identical cuts
    (pinned in tests/test_lm.py); the attested-small path keeps the
    original single-pass shared-sort windows — bins-sized by the gate.

    **An ABSENT attestation takes the parallel path** (VERDICT r13
    #2): unlike `bounded_broadcast` — where a false claim fails loud —
    an unattested call here used to pick the single-task window shape
    silently, the one way the r12 scale-killer could return. Unknown
    size now means "assume big": the parallel path is correct at every
    size, so the single-partition sort is opt-in BY attestation only.
    The distinct-score relation is bounded by min(n_docs, score-domain
    size ≈ 3·10⁸ integers), which at 10¹⁰ documents is hundreds of
    millions of rows — too many for ONE task's sort (VERDICT r12 #1)."""
    from ..plans.prefix import WINDOW_MAX_ROWS, ranged_prefix_sum
    p = F.col(ppl_col)
    dist = (scored.filter(p.isNotNull())
            .groupBy(p.alias("_p")).agg(F.count("*").alias("_c")))
    if n_rows is None or n_rows > WINDOW_MAX_ROWS:
        # the grand total rides the driver-side per-partition sums
        # the prefix pass already collected — no second aggregation
        # over the distinct-score relation (r13 review), and the
        # pinned relation is session-cached so repeat maintenance
        # refreshes reuse one persisted copy
        excl, total = ranged_prefix_sum(
            dist, F.col("_c"), "_excl", order_by=["_p"])
        cum = (excl.withColumn("_cum", F.col("_excl") + F.col("_c"))
               .withColumn("_n", F.lit(int(total)).cast("long")))
    else:
        # small path: ONE pass — the cumulative and total windows
        # share the sorted distinct-score relation (bins-sized at
        # this gate, the by-design single-task window family)
        from pyspark.sql import Window
        w = (Window.orderBy("_p")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        cum = dist.select(
            "_p", F.sum("_c").over(w).alias("_cum"),
            F.sum("_c").over(
                Window.rowsBetween(Window.unboundedPreceding,
                                   Window.unboundedFollowing))
            .alias("_n"))
    return cum.agg(
        F.min(F.when(F.col("_cum") * 3 >= F.col("_n"),
                     F.col("_p"))).alias("t1"),
        F.min(F.when(F.col("_cum") * 3 >= F.col("_n") * 2,
                     F.col("_p"))).alias("t2"))


def lm_bucket(scored: DataFrame, cuts: DataFrame,
              ppl_col: str = "lm3_ppl_bits",
              bucket_col: str = "lm3_bucket",
              keep_col: str = "lm3_keep") -> DataFrame:
    """scored + (bucket, keep): row-local head/middle/tail label
    against the one-row tercile cuts; CCNet keeps head+middle.
    Unscorable documents (NULL ppl) label 'unscorable' and are kept —
    the length gates own that regime (the `lm_keep` contract)."""
    p = F.col(ppl_col)
    # NULL cuts (terciles over a corpus with no scorable documents)
    # must fail loud on the first scorable row — under p <= NULL both
    # WHEN branches are NULL-falsy, so every document would silently
    # label 'tail' (and a keep_only ingest gate would drop the whole
    # stream)
    bucket = (F.when(p.isNull(), F.lit("unscorable"))
              .when(F.col("t1").isNull() | F.col("t2").isNull(),
                    F.raise_error(F.lit(
                        "lm_bucket: tercile cuts are NULL (trained on "
                        "a corpus with no scorable documents) — "
                        "retrain before labeling")).cast("string"))
              .when(p <= F.col("t1"), F.lit("head"))
              .when(p <= F.col("t2"), F.lit("middle"))
              .otherwise(F.lit("tail")))
    return (scored.crossJoin(bounded_broadcast(
                cuts, bound="one-row LM tercile cuts", max_rows=1))
            .withColumn(bucket_col, bucket)
            .withColumn(keep_col, F.col(bucket_col) != "tail")
            .drop("t1", "t2"))


def lm_cuts_from_rollup(docs: DataFrame, uni_all: DataFrame,
                        bi_all: DataFrame, tri_all: DataFrame,
                        id_col: str = "doc_id", text_col: str = "text",
                        min_count: int = LM_MIN_COUNT,
                        n_rows: int | None = None,
                        toks: DataFrame | None = None) -> DataFrame:
    """Refresh the tercile cuts from ROLLED-UP gram counts — the
    sanctioned selection-model maintenance path for a pipeline that
    grows its LM via `lm_counts_ingest_sink` + `rollup_gram_counts`
    (VERDICT r12 #7). Derives the floored serving model from the raw
    counts (the floor is not additive — it must re-apply to the
    merged relation), re-scores the LANDED corpus against it, and
    trains fresh cuts; stream-grown counts + this call equal a batch
    retrain over the concatenated corpus exactly (pinned in
    tests/test_streaming_ingest.py). `n_rows` attests the landed
    corpus size for `lm_terciles`' parallel-path gate."""
    uni, bi, tot = lm_model_from_counts(uni_all, bi_all, min_count)
    tri = tri_all.filter(F.col("c") >= min_count)
    sc = trigram_lm_bits(docs, id_col, text_col, uni, bi, tri, tot,
                         toks=toks, grams=tri_all)
    return lm_terciles(sc, n_rows=n_rows)


def lm_thr_from_rollup(docs: DataFrame, uni_all: DataFrame,
                       bi_all: DataFrame,
                       id_col: str = "doc_id", text_col: str = "text",
                       min_count: int = LM_MIN_COUNT,
                       toks: DataFrame | None = None) -> DataFrame:
    """The bigram (mean-threshold) tier's maintenance twin of
    `lm_cuts_from_rollup`: refresh the corpus-average keep threshold
    from ROLLED-UP gram counts against the landed corpus — stream-
    grown counts + this call equal a batch retrain exactly (pinned in
    tests/test_lm.py)."""
    uni, bi, tot = lm_model_from_counts(uni_all, bi_all, min_count)
    sc = bigram_lm_bits(docs, id_col, text_col, uni, bi, tot,
                        toks=toks, grams=bi_all)
    return lm_corpus_threshold(sc)


def lm_corpus_threshold(scored: DataFrame) -> DataFrame:
    """ONE row (thr): the corpus-average per-position cost —
    (Σ −lm_bits) div (Σ positions) over the scored relation. The
    exact-integer CCNet cut: keep documents at or below average
    perplexity. A bounded artifact (train once, broadcast always)."""
    return scored.agg(
        F.call_function(
            "div",
            F.coalesce(F.sum(-F.col("lm_bits")), F.lit(0).cast("long")),
            F.greatest(F.coalesce(F.sum("lm_n_pos"),
                                  F.lit(0).cast("long")),
                       F.lit(1).cast("long"))).alias("thr"))


def lm_keep(scored: DataFrame, threshold: DataFrame) -> DataFrame:
    """scored + lm_keep: row-local compare against the one-row
    threshold. Unscorable documents (< 2 tokens, NULL ppl) are kept —
    length-based quality gates own that regime (Gopher rules), not
    the LM."""
    return (scored.crossJoin(bounded_broadcast(
                threshold, bound="one-row LM perplexity threshold",
                max_rows=1))
            .withColumn("lm_keep",
                        F.coalesce(F.col("lm_ppl_bits") <= F.col("thr"),
                                   F.lit(True)))
            .drop("thr"))


# --------------------------------------------------------------------------
# DuckDB oracle fragment — the training + scoring + threshold replay as
# CTEs (the DSIR pattern): workload queries splice this next to their
# other CTEs and join lm_scored/lm_thr by doc id.
# --------------------------------------------------------------------------

def lm_oracle_ctes(min_count: int = LM_MIN_COUNT,
                   lam_num: int = LM_LAMBDA_NUM,
                   lam_den: int = LM_LAMBDA_DEN) -> str:
    """CTE chain ending in lm_scored(doc_id, lm_bits, lm_n_pos,
    lm_ppl_bits) and lm_thr(thr) over the `documents` view."""
    p = plog2_sql
    term = (f"({lam_num} * ({p('COALESCE(b.c, 0) + 1')}"
            f" - {p('COALESCE(u1.c, 0) + t.v')})"
            f" + {lam_den - lam_num} * ({p('COALESCE(u2.c, 0) + 1')}"
            f" - {p('t.n + t.v')}))")
    return f"""
    lm_tk AS (SELECT doc_id, string_split(text, ' ') AS tk
              FROM documents),
    lm_uni_all AS (
        SELECT tok, COUNT(*) AS c
        FROM (SELECT unnest(tk) AS tok FROM lm_tk) GROUP BY tok),
    lm_tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
                      CAST(COUNT(*) AS BIGINT) AS v FROM lm_uni_all),
    lm_uni AS (SELECT tok, c FROM lm_uni_all WHERE c >= {min_count}),
    lm_pos AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(tk) - 1),
                                     i -> tk[i])) AS w1,
               unnest(list_transform(generate_series(1, len(tk) - 1),
                                     i -> tk[i + 1])) AS w2
        FROM lm_tk WHERE len(tk) >= 2),
    lm_k AS (SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS k
             FROM lm_pos GROUP BY doc_id, w1, w2),
    lm_bi AS (SELECT w1, w2, SUM(k) AS c FROM lm_k
              GROUP BY w1, w2 HAVING SUM(k) >= {min_count}),
    lm_doc AS (
        SELECT lm_k.doc_id,
               CAST(SUM(k * {term}) AS BIGINT) AS lm_bits,
               CAST(SUM(k) AS BIGINT) AS lm_n_pos
        FROM lm_k
        LEFT JOIN lm_uni u1 ON u1.tok = lm_k.w1
        LEFT JOIN lm_uni u2 ON u2.tok = lm_k.w2
        LEFT JOIN lm_bi b ON b.w1 = lm_k.w1 AND b.w2 = lm_k.w2
        CROSS JOIN lm_tot t
        GROUP BY lm_k.doc_id),
    lm_scored AS (
        SELECT d.doc_id, s.lm_bits, s.lm_n_pos,
               (-s.lm_bits) // s.lm_n_pos AS lm_ppl_bits
        FROM documents d LEFT JOIN lm_doc s USING (doc_id)),
    lm_thr AS (
        SELECT COALESCE(SUM(-lm_bits), 0)
               // GREATEST(COALESCE(SUM(lm_n_pos), 0), 1) AS thr
        FROM lm_scored)"""


def lm3_oracle_ctes(min_count: int = LM_MIN_COUNT,
                    l3: int = LM3_L3, l2: int = LM3_L2,
                    l1: int = LM3_L1) -> str:
    """Trigram-tier CTE chain ending in lm3_scored(doc_id, lm3_bits,
    lm3_n_pos, lm3_ppl_bits) and lm3_cuts(t1, t2) — a CONTINUATION of
    `lm_oracle_ctes` (reuses its lm_tk/lm_uni/lm_bi/lm_tot relations);
    splice it immediately after."""
    p = plog2_sql
    term = (f"({l3} * ({p('COALESCE(t.c, 0) + 1')}"
            f" - {p('COALESCE(b12.c, 0) + tt.v')})"
            f" + {l2} * ({p('COALESCE(b23.c, 0) + 1')}"
            f" - {p('COALESCE(u2.c, 0) + tt.v')})"
            f" + {l1} * ({p('COALESCE(u3.c, 0) + 1')}"
            f" - {p('tt.n + tt.v')}))")
    return f"""
    lm3_pos AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(tk) - 2),
                                     i -> tk[i])) AS w1,
               unnest(list_transform(generate_series(1, len(tk) - 2),
                                     i -> tk[i + 1])) AS w2,
               unnest(list_transform(generate_series(1, len(tk) - 2),
                                     i -> tk[i + 2])) AS w3
        FROM lm_tk WHERE len(tk) >= 3),
    lm3_k AS (SELECT doc_id, w1, w2, w3, CAST(COUNT(*) AS BIGINT) AS k
              FROM lm3_pos GROUP BY doc_id, w1, w2, w3),
    lm3_tri AS (SELECT w1, w2, w3, SUM(k) AS c FROM lm3_k
                GROUP BY w1, w2, w3 HAVING SUM(k) >= {min_count}),
    lm3_doc AS (
        SELECT lm3_k.doc_id,
               CAST(SUM(k * {term}) AS BIGINT) AS lm3_bits,
               CAST(SUM(k) AS BIGINT) AS lm3_n_pos
        FROM lm3_k
        LEFT JOIN lm_uni u2 ON u2.tok = lm3_k.w2
        LEFT JOIN lm_uni u3 ON u3.tok = lm3_k.w3
        LEFT JOIN lm_bi b12 ON b12.w1 = lm3_k.w1 AND b12.w2 = lm3_k.w2
        LEFT JOIN lm_bi b23 ON b23.w1 = lm3_k.w2 AND b23.w2 = lm3_k.w3
        LEFT JOIN lm3_tri t ON t.w1 = lm3_k.w1 AND t.w2 = lm3_k.w2
                           AND t.w3 = lm3_k.w3
        CROSS JOIN lm_tot tt
        GROUP BY lm3_k.doc_id),
    lm3_scored AS (
        SELECT d.doc_id, s.lm3_bits, s.lm3_n_pos,
               (-s.lm3_bits) // s.lm3_n_pos AS lm3_ppl_bits
        FROM documents d LEFT JOIN lm3_doc s USING (doc_id)),
    lm3_dist AS (SELECT lm3_ppl_bits AS p, COUNT(*) AS c
                 FROM lm3_scored WHERE lm3_ppl_bits IS NOT NULL
                 GROUP BY 1),
    lm3_cum AS (SELECT p, SUM(c) OVER (ORDER BY p) AS cum,
                       SUM(c) OVER () AS n
                FROM lm3_dist),
    lm3_cuts AS (
        SELECT MIN(CASE WHEN cum * 3 >= n THEN p END) AS t1,
               MIN(CASE WHEN cum * 3 >= 2 * n THEN p END) AS t2
        FROM lm3_cum)"""


def lm3_bucket_sql(ppl: str = "lms3.lm3_ppl_bits",
                   cuts: str = "lmc") -> str:
    """The head/middle/tail CASE for a consuming oracle's SELECT —
    kept beside the engine's `lm_bucket` so the label logic cannot
    drift between them. The NULL-cuts guard mirrors the engine's
    fail-loud branch (ADVICE r12): without it, `p <= NULL` falls
    through both WHENs and every scorable row silently labels 'tail'
    where the engine raises."""
    return (f"CASE WHEN {ppl} IS NULL THEN 'unscorable' "
            f"WHEN {cuts}.t1 IS NULL OR {cuts}.t2 IS NULL THEN "
            f"CAST(error('lm3_bucket: tercile cuts are NULL (trained "
            f"on a corpus with no scorable documents) — retrain "
            f"before labeling') AS VARCHAR) "
            f"WHEN {ppl} <= {cuts}.t1 THEN 'head' "
            f"WHEN {ppl} <= {cuts}.t2 THEN 'middle' "
            f"ELSE 'tail' END")
