"""Interpolated n-gram language-model perplexity filter — the
CCNet/KenLM quality tier above the unigram corpus LM (VERDICT r11 #5).

CCNet (Wenzek et al. 2019) scores every document with a KenLM n-gram
model and keeps the low-perplexity head/middle of the distribution;
this module is that tier re-expressed in the engine's exact-integer
fixed-point discipline so the whole pipeline — training counts,
per-token scores, the keep decision — is oracle-replayable
hash-for-hash (ln/exp are NOT bit-portable across engines; integer
shifts and string length are — see `sampling.plog2`).

Model. Adjacent-gram counts c_j over the corpus for j = 1..n (`gram_
counts`), each with a min-count floor (rare grams drop to 0 — the
KenLM pruning analog that bounds the artifact). The per-position
score of an order-n position w1..wn is the LOG-LINEAR interpolation
(product-of-experts smoothing — portable where the classic linear
interpolation is not, because log(a+b) has no exact-integer form):

    score = Σ_{j=1..n} λ_j · [plog2(c_j(last j tokens) + 1)
                              − plog2(c_{j−1}(first j−1 of those) + V)]

with c_0 = N (total tokens), add-one smoothing over the vocab V, and
the integer weights `LM_WEIGHTS[n]` — (3, 1) at order 2, (4, 3, 1) at
order 3. Every bracketed term is ≤ 0 (a gram's count never exceeds
its prefix's, and floor monotonicity keeps that true after pruning:
a gram that clears the floor forces its prefix over the same floor),
so per-document totals are exact non-positive longs. The per-document
perplexity proxy is

    ppl_bits = (−Σ score) div n_positions

— average cost per position in units of Σλ·PLOG2_SCALE·log2. Each
order carries its own selection rule (`lm_selection` / `lm_select`):
order 2 keeps documents at or below the CORPUS-average cost (one
one-row aggregate, `lm_keep`); order 3 applies CCNet's actual rule —
exact-integer tercile cuts of the perplexity distribution
(`lm_terciles`) with head/middle kept and tail dropped (`lm_bucket`).

Scale (100 TB):
- training = one grouped count per order over exploded tokens/grams
  with map-side combine; the floor bounds the persisted artifact (the
  model a pipeline trains once per corpus version);
- scoring = the model joins evaluate once per DISTINCT gram, then the
  corpus-sized position relation pays one gram-keyed equi-join; the
  model joins are UNhinted, so AQE broadcasts them when they fit and
  shuffle-joins on token keys when a 100 TB vocab does not (a forced
  broadcast here would be the r11 q50 defect); the totals/threshold
  relations are one-row attested broadcasts;
- the keep decision is row-local against the one-row selection model
  — no global sort, no rank window over the corpus.

All gram families and scoring bags can explode from ONE shared
`tokenized` relation, so the corpus text is decoded and split once
per session across every order.

Reference parity note: the reference repo (rahil911/snowflake-azure-etl)
has no LM tier — this extends the LLM-pipeline surface
(SURVEY §2 north-star extensions), following operators/sampling.py's
DSIR fixed-point conventions.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans.attest import bounded_broadcast
from .sampling import plog2, plog2_sql

#: Interpolation weight lam/LAM_DEN on the bigram expert (0.75 — the
#: conventional heavy-bigram mix); exact integers so both engines
#: compute identical scores.
LM_LAMBDA_NUM = 3
LM_LAMBDA_DEN = 4

#: Min-count floor for model grams: counts below it drop from the
#: model (score as unseen). Bounds the persisted artifact the way
#: KenLM pruning does.
LM_MIN_COUNT = 2

#: Trigram interpolation weights (tri/bi/uni experts) — the
#: heavy-high-order mix one order above the bigram model's 3/4-1/4.
#: Exact integers, same portability contract.
LM3_L3 = 4
LM3_L2 = 3
LM3_L1 = 1

#: Per-order expert weights, highest order first: (λ_n, …, λ_1).
LM_WEIGHTS = {2: (LM_LAMBDA_NUM, LM_LAMBDA_DEN - LM_LAMBDA_NUM),
              3: (LM3_L3, LM3_L2, LM3_L1)}

#: Per-order output-column prefix: <p>_bits, <p>_n_pos, <p>_ppl_bits
#: and the selection columns (lm_keep; lm3_bucket/lm3_keep).
LM_PREFIX = {2: "lm", 3: "lm3"}


def _toks(text_col: Column | str) -> Column:
    # the ONE single-space tokenizer (oracle contract: string_split
    # semantics) — delegated so a tokenization fix lands everywhere
    from .text import tokens
    return tokens(text_col)


def _gram_keys(n: int) -> list[str]:
    """Key columns of an order-n count relation: `tok` for unigrams
    (the key ingest tables already landed with), w1..wn above."""
    return ["tok"] if n == 1 else [f"w{k}" for k in range(1, n + 1)]


def _grams_of(toks: Column, n: int) -> Column:
    """array<struct<w1..wn>> of adjacent n-grams (n ≥ 2) from a
    token-array column, empty under n tokens — an index transform
    over the n shifted views."""
    keys = _gram_keys(n)
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.struct(*(F.element_at(toks, i + k).alias(w)
                                 for k, w in enumerate(keys)))),
    ).otherwise(F.array().cast(
        "array<struct<" + ",".join(f"{w}:string" for w in keys) + ">>"))


def _key_cols(counts: DataFrame) -> list[str]:
    # a count relation is its gram keys plus `c`
    return [c for c in counts.columns if c != "c"]


def tokenized(docs: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """(id, tk): the tokenize-once relation — THE shared scan under
    the whole LM family (the q53 `_window_occurrences` pattern).
    Every gram family and scoring bag is an explode over this one
    relation, so a session/pipeline that caches it pays the corpus
    text decode + split exactly once across every order.
    Corpus-token-sized × one array column; MEMORY_AND_DISK spills at
    100 TB."""
    return docs.select(F.col(id_col), _toks(text_col).alias("tk"))


def gram_counts(toks: DataFrame, n: int) -> DataFrame:
    """(tok, c) at n = 1, (w1, …, wn, c) above: the UN-floored
    adjacent-gram counts of a `tokenized` relation — the growable
    artifact. Counts are additive, so a pipeline lands THESE per
    corpus version/batch and grows them with `merge_gram_counts` (or
    forgets with `subtract_gram_counts`); the floored serving model
    derives by `lm_model_from_counts`. The floor itself is NOT
    additive (a gram under the floor in two batches can clear it in
    their union), which is why the floored relations never merge.
    Unigrams are not derivable from the pair bag (each document's
    LAST token leads no pair), so every order explodes the shared
    tokens itself."""
    if n == 1:
        grams = toks.select(F.explode("tk").alias("tok"))
    else:
        grams = toks.select(F.inline(_grams_of(F.col("tk"), n)))
    return grams.groupBy(*_gram_keys(n)).agg(F.count("*").alias("c"))


def lm_model_from_counts(counts: Sequence[DataFrame]
                         ) -> tuple[list[DataFrame], DataFrame]:
    """The serving model from (possibly merged) raw counts
    [c_1, …, c_n]: (the floored relations in the same order, one-row
    totals (n = N tokens, v = V vocab) from the unigram counts).
    Totals come BEFORE the floor — the smoothing denominator must
    cover the full distribution, not the pruned artifact."""
    totals = counts[0].agg(F.sum("c").cast("long").alias("n"),
                           F.count("*").alias("v"))
    return [c.filter(F.col("c") >= LM_MIN_COUNT) for c in counts], totals


def merge_gram_counts(a: DataFrame, b: DataFrame) -> DataFrame:
    """SUM-merge of raw gram-count relations of one order — counts(A)
    ⊎ counts(B) == counts(A ∪ B), the law that grows the LM artifact
    per ingest batch without re-scanning the corpus (the
    `merge_window_index` contract, pinned in tests/test_lm.py). The
    key columns are every column but `c`."""
    return (a.unionByName(b).groupBy(*_key_cols(a))
            .agg(F.sum("c").cast("long").alias("c")))


def subtract_gram_counts(index: DataFrame,
                         removed: DataFrame) -> DataFrame:
    """Decremental maintenance — counts(corpus) ⊖ counts(removed ⊆
    corpus) == counts(corpus \\ removed) exactly: the LM artifact's
    right-to-be-forgotten path (the `subtract_window_index` law).
    Over-subtraction (removed not a subset) fails loud instead of
    landing a silently wrong model; zeroed grams leave the relation.
    The key columns are every column of `index` but `c`.

    r12 review hardening: the join is FULL OUTER (a left join dropped
    removed-only grams before the guard could see them — a removed
    batch containing a gram the index never held passed silently),
    and the removed side pre-aggregates by key (duplicate keys would
    both fan out the output and evade the per-row guard by splitting
    one over-subtraction across rows)."""
    key_cols = _key_cols(index)
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
    return (index.join(r, key_cols, "full_outer")
            .select(*key_cols, n.alias("c"))
            .filter(F.col("c") > 0))


def lm_bits(docs: DataFrame, id_col: str, text_col: str,
            model: Sequence[DataFrame], totals: DataFrame, order: int,
            toks: DataFrame | None = None,
            grams: DataFrame | None = None) -> DataFrame:
    """(id, <p>_bits, <p>_n_pos, <p>_ppl_bits), p = LM_PREFIX[order]:
    per-document interpolated log2-likelihood (exact long, ≤ 0) over
    adjacent order-gram positions, the position count, and the
    per-position perplexity proxy (NULL for documents under `order`
    tokens — nothing to score). `model` is the floored [c_1, …] of
    `lm_model_from_counts` (its first `order` relations are used),
    `totals` its one-row (n, v).

    Score-per-GRAM shape (r12 second pass): the per-position term
    depends only on the gram, so the 2·order − 1 model joins and the
    plog2 expression trees evaluate once per DISTINCT gram
    (Zipf-bounded — ≪ positions at corpus scale) and the corpus-sized
    position relation pays exactly ONE gram-keyed equi-join, then a
    per-doc aggregate whose map-side combine collapses each
    partition's positions before the doc-keyed shuffle. Pass `grams`
    — any relation whose gram rows COVER the corpus's observed grams,
    canonically the un-floored `gram_counts(toks, order)` relation
    already built for the model — to skip the fallback distinct; the
    model joins stay unhinted (AQE picks broadcast vs shuffle by real
    size — a vocab³ artifact at 100 TB must be allowed to
    shuffle-join), the one-row totals broadcast is attested. `toks`:
    optional pre-tokenized (id, tk) relation (the shared
    tokenize-once scan)."""
    p = LM_PREFIX[order]
    keys = _gram_keys(order)
    src = toks if toks is not None else tokenized(docs, id_col, text_col)
    pos = src.select(F.col(id_col), F.inline(_grams_of(F.col("tk"), order)))
    # distinct also on the caller's relation: duplicate gram keys
    # would fan out the position join and silently multiply scores —
    # the canonical input (a groupBy output) is already distinct, so
    # this is a vocab-side no-op in data, a correctness guard in kind
    g = (grams if grams is not None else pos).select(*keys).distinct()
    # expert j reads c_j over the window of the last j keys (start
    # order − j) and c_{j−1} over that window's first j − 1 keys;
    # each (length m, start s) window joins once, as column _c{s}_{m}
    for m, s in sorted({(m, order - j) for j in range(1, order + 1)
                        for m in (j - 1, j) if m >= 1}):
        win = keys[s:s + m]
        g = g.join(model[m - 1].select(
            *(F.col(a).alias(b) for a, b in zip(_gram_keys(m), win)),
            F.col("c").alias(f"_c{s}_{m}")), win, "left")
    g = g.crossJoin(bounded_broadcast(
        totals, bound="one-row LM totals (N tokens, V vocab)",
        max_rows=1))

    def c(s: int, m: int) -> Column:
        return F.coalesce(F.col(f"_c{s}_{m}"), F.lit(0).cast("long"))

    term = None
    for j, lam in zip(range(order, 0, -1), LM_WEIGHTS[order]):
        s = order - j
        ctx = c(s, j - 1) if j > 1 else F.col("n")
        t = F.lit(lam) * (plog2(c(s, j) + 1) - plog2(ctx + F.col("v")))
        term = t if term is None else term + t
    gterm = g.select(*keys, term.alias("_t"))
    # LEFT join + per-row raise: an under-covering `grams` relation
    # must fail loud, not silently drop scored positions (the
    # subtract_gram_counts guard discipline)
    checked = F.when(F.col("_t").isNull(), F.raise_error(F.lit(
        f"lm_bits: grams does not cover an observed corpus {order}-gram"
        " — pass the un-floored counts relation or None"))
        .cast("long")).otherwise(F.col("_t"))
    per_doc = (pos.join(gterm, keys, "left")
               .groupBy(id_col)
               .agg(F.sum(checked).alias(f"{p}_bits"),
                    F.count("*").alias(f"{p}_n_pos")))
    ppl = F.call_function("div", -F.col(f"{p}_bits"),
                          F.col(f"{p}_n_pos"))
    return (docs.select(id_col).join(per_doc, id_col, "left")
            .select(id_col, f"{p}_bits",
                    F.col(f"{p}_n_pos").cast("long").alias(f"{p}_n_pos"),
                    ppl.alias(f"{p}_ppl_bits")))


def lm_terciles(scored: DataFrame,
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
    p = F.col("lm3_ppl_bits")
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


def lm_bucket(scored: DataFrame, cuts: DataFrame) -> DataFrame:
    """scored + (lm3_bucket, lm3_keep): row-local head/middle/tail label
    against the one-row tercile cuts; CCNet keeps head+middle.
    Unscorable documents (NULL ppl) label 'unscorable' and are kept —
    the length gates own that regime (the `lm_keep` contract)."""
    p = F.col("lm3_ppl_bits")
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
            .withColumn("lm3_bucket", bucket)
            .withColumn("lm3_keep", F.col("lm3_bucket") != "tail")
            .drop("t1", "t2"))


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


def lm_selection(scored: DataFrame, order: int,
                 n_rows: int | None = None) -> DataFrame:
    """The order's one-row selection model over its scored relation —
    a bounded artifact (train once, broadcast always): the
    corpus-average threshold (thr) at order 2, the tercile cuts
    (t1, t2) at order 3 (`n_rows` attests the corpus size for
    `lm_terciles`' parallel-path gate)."""
    if order == 2:
        return lm_corpus_threshold(scored)
    return lm_terciles(scored, n_rows=n_rows)


def lm_select(scored: DataFrame, selection: DataFrame,
              order: int) -> DataFrame:
    """scored + the order's row-local keep decision against its
    one-row selection model: `lm_keep` at order 2, `lm3_bucket` +
    `lm3_keep` at order 3 (`lm_bucket`). The keep column is
    <LM_PREFIX[order]>_keep; unscorable documents are kept."""
    if order == 2:
        return lm_keep(scored, selection)
    return lm_bucket(scored, selection)


def lm_selection_from_rollup(docs: DataFrame, counts: Sequence[DataFrame],
                             order: int, id_col: str = "doc_id",
                             text_col: str = "text",
                             n_rows: int | None = None,
                             toks: DataFrame | None = None) -> DataFrame:
    """Refresh the order's selection model from ROLLED-UP raw counts
    [c_1, …] — the sanctioned maintenance path for a pipeline that
    grows its LM via `lm_counts_ingest_sink` + `rollup_gram_counts`
    (VERDICT r12 #7). Derives the floored serving model from the raw
    counts (the floor is not additive — it must re-apply to the
    merged relation), re-scores the LANDED corpus against it, and
    trains a fresh `lm_selection`; stream-grown counts + this call
    equal a batch retrain over the concatenated corpus exactly
    (pinned in tests/test_lm.py and tests/test_streaming_ingest.py).
    `n_rows` attests the landed corpus size for `lm_terciles`."""
    model, tot = lm_model_from_counts(counts[:order])
    sc = lm_bits(docs, id_col, text_col, model, tot, order,
                 toks=toks, grams=counts[order - 1])
    return lm_selection(sc, order, n_rows)


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
