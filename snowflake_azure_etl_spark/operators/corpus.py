"""End-to-end training-corpus preparation (north-star extension): the
composition every LLM data pipeline runs — exact dedup → near-dup
removal → quality/language filtering → chunking → split assignment —
as ONE lazy DataFrame plan built from the engine's own operators.

Each stage is the already-verified primitive (`operators.dedup`,
`operators.text`); this module contributes the canonical wiring and the
keeper semantics (min-id survives, mirroring `exact_dedup_groups` /
the LSH pair convention id_a < id_b).

Scale design: the exact-dedup keeper join is an aggregate + self-join
on the uniform content hash; near-dup removal reuses the
size-attested LSH pipeline (`n_docs` gates every broadcast); filtering
and chunking are narrow projections; nothing here adds a shuffle
beyond the primitives' own. The output is the explode of kept docs
into chunk rows — at 100 TB this is the write-side fan-out, perfectly
parallel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.attest import bounded_broadcast, maybe_broadcast

from . import dedup, text


def exact_keepers(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Drop exact duplicates, keeping the min-id copy of each distinct
    content (the `exact_dedup_groups` keeper contract)."""
    keepers = (dedup.exact_dedup_groups(docs, id_col, text_col)
               .select(F.col("keeper_id").alias(id_col)))
    return docs.join(keepers, id_col, "inner")


def near_dup_losers(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", threshold: float = 0.7,
                    n_docs: int | None = None, k: int = 8,
                    bands: int = 2, rows: int = 4,
                    shingle_n: int = 3) -> DataFrame:
    """Ids to DROP under near-dup removal: the verified pairs (Jaccard
    >= threshold) are resolved into similarity COMPONENTS
    (`operators.graph.dup_clusters`, min-label propagation), and every
    member except the component's min id loses. Transitively correct:
    a chain A~B~C keeps exactly A, regardless of which pairwise
    verdicts the LSH stage happened to surface."""
    sig = dedup.minhash_signature_shingled(docs, id_col, text_col,
                                           k=k, n=shingle_n)
    cands = dedup.lsh_candidate_pairs(sig, id_col, bands=bands, rows=rows,
                                      n_docs=n_docs)
    jac = dedup.exact_jaccard(docs, cands, id_col, text_col,
                              n_docs=n_docs, shingle_n=shingle_n)
    verified = jac.filter(F.col("jaccard") >= threshold)
    from .graph import dup_clusters
    clusters = dup_clusters(verified)
    return (clusters.filter(F.col("id") != F.col("keeper"))
            .select(F.col("id").alias(id_col)))


def prepare_training_corpus(docs: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text",
                            min_quality: float = 0.0,
                            langs: tuple[str, ...] | None = None,
                            near_dup_threshold: float | None = 0.7,
                            n_docs: int | None = None,
                            chunk_size: int = 128,
                            chunk_stride: int = 96,
                            lsh_bands: int = 4,
                            lsh_rows: int = 2,
                            max_repeated_bigram_fraction: float | None = None,
                            scrub_pii: bool = False,
                            lang_fractions: dict[str, float] | None = None,
                            lang_quota: int | None = None,
                            eval_docs: DataFrame | None = None,
                            decontam_n: int | None = None,
                            n_eval_grams: int | None = None,
                            min_mean_tok_freq: float | None = None,
                            clf_feature_cols=None,
                            clf_weights: DataFrame | None = None,
                            clf_min_score: float = 0.5,
                            lm_gate: str | None = None,
                            lang_temperature: float | None = None
                            ) -> DataFrame:
    """docs → (doc_id, chunk_idx, chunk_text, chunk_tokens, split).

    Stages (all lazy, one composed plan):
    1. exact dedup (min-id keeper per content hash);
    1b. benchmark decontamination (`operators.decontam`): drop any
       survivor sharing a word n-gram with `eval_docs`
       (None disables; `decontam_n` overrides the 8-gram default;
       `n_eval_grams` attests the benchmark gram bound so the probe
       join broadcasts — eval doc count × decontam.MAX_GRAMS_PER_DOC
       is the standard derivation);
    2. near-dup removal at `near_dup_threshold` shingle-Jaccard
       (None disables);
    3. quality floor (`text.quality_score` >= min_quality), language
       allow-list (`text.lang_guess` in langs), the Gopher-rule
       repetition cut (`text.repeated_bigram_fraction` ≤
       `max_repeated_bigram_fraction`, None disables), and the
       corpus-LM rare-token cut (`text.mean_token_freq` ≥
       `min_mean_tok_freq`, None disables), and the TRAINED-probe
       gate (`operators.classifier.score_with` ≥ `clf_min_score`
       when `clf_weights`+`clf_feature_cols` are given — the learned
       upgrade of the hand-tuned `min_quality` floor; train the
       probe with `classifier.train_margin_classifier`, typically on
       a labeled sample, and pass its one-row weights relation), and
       the CCNet perplexity gate (`lm_gate` — `operators.lm`:
       "mean" trains the bigram tier on the ORIGINAL corpus and
       keeps documents at-or-below the corpus-average per-position
       cost; "tercile" trains the trigram tier and drops the tail
       tercile (CCNet's actual head/middle selection); None
       disables. Like the rare-token cut, the model and its
       threshold/cuts train on the original corpus so the gate is
       stable under the other filters; unscorable short documents
       pass — the length gates own that regime);
    3b. corpus rebalancing (`operators.sampling`): per-language
       hash-stratified downsampling (`lang_fractions`, row-local,
       rerun-stable), its TEMPERATURE-derived form
       (`lang_temperature` — mT5/CC-100 ``p^(1/tau)`` fractions
       computed from the surviving per-language counts; mutually
       exclusive with `lang_fractions`), and/or the per-language
       quota cap (`lang_quota` min-id keepers per declared lang) —
       all None disables; applied after quality so the sample is
       drawn from the surviving distribution;
    4. PII scrub (`text.redact_pii` — after filtering so quality
       signals see the original text, before chunking so no chunk
       straddles a redaction);
    5. overlapping-window chunking (`text.chunk_documents`);
    6. deterministic hashed-id train/val/test split.

    LSH banding defaults to 4 bands × 2 rows here (recall-leaning: a
    0.9-Jaccard pair is caught w.p. ~1-2e-4) — removal wants high
    recall, where the candidate-survey defaults (2×4) lean precision.
    """
    kept = exact_keepers(docs, id_col, text_col)
    if eval_docs is not None:
        from .decontam import DECONTAM_N, decontaminate
        kept = decontaminate(kept, eval_docs, id_col, text_col,
                             n=decontam_n or DECONTAM_N,
                             n_eval_grams=n_eval_grams)
    if near_dup_threshold is not None:
        losers = near_dup_losers(docs, id_col, text_col,
                                 threshold=near_dup_threshold,
                                 n_docs=n_docs,
                                 bands=lsh_bands, rows=lsh_rows)
        kept = kept.join(losers, id_col, "left_anti")
    if min_quality > 0.0:
        kept = kept.filter(text.quality_score(text_col) >= min_quality)
    if langs:
        kept = kept.filter(text.lang_guess(text_col).isin(*langs))
    if max_repeated_bigram_fraction is not None:
        kept = kept.filter(text.repeated_bigram_fraction(text_col)
                           <= max_repeated_bigram_fraction)
    if min_mean_tok_freq is not None:
        # corpus-LM rare-token cut (X-TEXT-LM): the frequency model
        # trains on the ORIGINAL corpus (one bounded one-row map,
        # broadcast) so the cut is stable under the other filters
        kept = (kept.crossJoin(bounded_broadcast(
                text.token_freq_map(docs, text_col),
                bound="one-row token-frequency map (vocab-bounded)",
                max_rows=1))
                .filter(text.mean_token_freq(text_col)
                        >= min_mean_tok_freq)
                .drop("_tf"))
    if (clf_weights is None) != (clf_feature_cols is None):
        # fail loud: one half of the trained gate without the other
        # would otherwise silently skip the gate (weights missing) or
        # die in an unrelated TypeError (features missing)
        raise ValueError(
            "clf_weights and clf_feature_cols must be passed together "
            f"(got weights={'set' if clf_weights is not None else 'None'}, "
            f"features={'set' if clf_feature_cols is not None else 'None'})")
    if clf_weights is not None:
        from .classifier import score_with
        kept = (score_with(kept, clf_feature_cols, clf_weights,
                           out_col="_clf_score")
                .filter(F.col("_clf_score") >= clf_min_score)
                .drop("_clf_score"))
    if lm_gate is not None:
        from . import lm as lm_ops
        from ._cache import cached_relation
        if lm_gate not in ("mean", "tercile"):
            raise ValueError(
                f"lm_gate must be None, 'mean' or 'tercile' "
                f"(got {lm_gate!r})")
        # session-memoized persists (ADVICE r12: raw persists here
        # stacked a corpus-token-sized cache entry per invocation for
        # the session's lifetime): toks feeds several gram explodes
        # and the scored relation is referenced by BOTH the
        # threshold/cuts aggregate and the labeling pass — without
        # caching the tokenize+score subtree executes twice per
        # action. cached_relation keys by the logical plan, so repeat
        # invocations (and the q57 leg over the same corpus) REUSE
        # the entries instead of stacking them; clear_cache is the
        # release path. The un-floored counts double as the scorers'
        # gram set (counts-as-grams — the canonical pattern from the
        # q57 leg), so scoring adds no distinct pass over positions.
        order = 2 if lm_gate == "mean" else 3
        p = lm_ops.LM_PREFIX[order]
        toks = cached_relation(lm_ops.tokenized(docs, id_col, text_col),
                               "lm_tk")
        counts = [lm_ops.gram_counts(toks, n) for n in range(1, order + 1)]
        model, tot = lm_ops.lm_model_from_counts(counts)
        sc = cached_relation(
            lm_ops.lm_bits(docs, id_col, text_col, model, tot, order,
                           toks=toks, grams=counts[-1]),
            f"{p}_scored")
        keep = (lm_ops.lm_select(
                    sc, lm_ops.lm_selection(sc, order, n_rows=n_docs), order)
                .select(id_col, F.col(f"{p}_keep").alias("_lmk")))
        kept = kept.join(keep, id_col).filter(F.col("_lmk")).drop("_lmk")
    if lang_temperature is not None:
        # temperature-scaled rebalancing (mT5/CC-100): derive the
        # per-language keep fractions from the SURVIVING distribution
        # (one language-bounded groupBy count — an action, like the
        # LSH size probes) and apply them with the same row-local
        # hash-stratified sampler. Mutually exclusive with explicit
        # lang_fractions — both set the same knob.
        if lang_fractions:
            raise ValueError(
                "pass either lang_fractions or lang_temperature, not "
                "both — they set the same per-language sampling knob")
        from .sampling import stratified_keep, temperature_fractions
        # a NULL lang must coalesce to the 'und' sentinel BEFORE the
        # class count (ADVICE r13): a None dict key would crash
        # stratified_keep's sorted() — and even short of the crash,
        # `cc == NULL` is never true, so NULL-lang rows would silently
        # keep fraction 1.0 while diluting every other class's
        # computed fraction. lang_guess already defaults to 'und', so
        # both sources now share one unknown-language class.
        lang_col = (F.coalesce(F.col("lang"), F.lit("und"))
                    if "lang" in kept.columns
                    else text.lang_guess(text_col))
        counts = {r["_l"]: int(r["n"]) for r in
                  kept.groupBy(lang_col.alias("_l"))
                  .agg(F.count("*").alias("n")).collect()}
        kept = kept.filter(stratified_keep(
            id_col, lang_col,
            temperature_fractions(counts, lang_temperature)))
    if lang_fractions:
        from .sampling import stratified_keep
        kept = kept.filter(stratified_keep(id_col,
                                           text.lang_guess(text_col),
                                           lang_fractions))
    if lang_quota is not None:
        from .sampling import quota_cap
        if "lang" in kept.columns:
            kept = quota_cap(kept, ["lang"], [id_col], lang_quota)
        else:  # no declared lang: cap per guessed language
            kept = (quota_cap(kept.withColumn("_lang",
                                              text.lang_guess(text_col)),
                              ["_lang"], [id_col], lang_quota)
                    .drop("_lang"))
    if scrub_pii:
        kept = kept.withColumn(text_col, text.redact_pii(text_col))
    chunks = text.chunk_documents(kept, id_col, text_col,
                                  size=chunk_size, stride=chunk_stride)
    return chunks.withColumn("split", text.split_assign(id_col))


def forget_documents(artifact: DataFrame, requests: DataFrame,
                     id_col: str = "doc_id",
                     group_col: str | None = None,
                     n_requests: int | None = None,
                     n_groups: int | None = None) -> DataFrame:
    """Right-to-be-forgotten scrub (X-FORGET) of ONE derived artifact:
    remove every row tied to a requested document id.

    A training-data pipeline fans each document out into derived
    artifacts — chunk tables, packed-sequence assignments, dedup
    indexes, embedding stores. A deletion request must propagate to
    ALL of them (`forget_cascade`), not just the corpus table.

    Two shapes:
    - row scrub (``group_col=None``): LEFT ANTI on the id — rows of
      the forgotten docs disappear;
    - group scrub (``group_col``): artifacts whose rows MIX documents
      (a packed training sequence carries spans of many docs) cannot
      drop rows alone — the whole group is contaminated. The scrub
      resolves the groups containing any requested id (semi-join) and
      drops them whole; the caller re-packs the survivors.

    Scale: the request side is deletion-batch-sized; under the
    ``n_requests`` attestation its probe join broadcasts, so the
    artifact NEVER shuffles on the row path. The contaminated-GROUP
    relation is requests × groups-per-doc — bounded by the request
    batch but NOT by ``n_requests`` itself (a doc can fan into
    thousands of sequences), so it carries its own attestation
    (``n_groups``); unattested it stays un-hinted and AQE decides."""
    ids = requests.select(id_col).distinct()
    b_ids = maybe_broadcast(ids, n_requests)
    if group_col is None:
        return artifact.join(b_ids, id_col, "left_anti")
    groups = (artifact.join(b_ids, id_col, "left_semi")
              .select(group_col).distinct())
    return artifact.join(maybe_broadcast(groups, n_groups),
                         group_col, "left_anti")


def forget_cascade(artifacts: dict[str, DataFrame], requests: DataFrame,
                   id_col: str = "doc_id",
                   group_cols: dict[str, str] | None = None,
                   n_requests: int | None = None,
                   n_groups: int | None = None) -> dict[str, DataFrame]:
    """Apply `forget_documents` across every artifact of a pipeline in
    one call: {name: scrubbed} with per-artifact group semantics from
    `group_cols` (e.g. {"sequences": "seq_id"}). Idempotent — a second
    application is a no-op — and lazy: one composed plan per artifact,
    so the cascade lands atomically with whatever write strategy the
    caller uses."""
    group_cols = group_cols or {}
    return {name: forget_documents(df, requests, id_col,
                                   group_cols.get(name), n_requests,
                                   n_groups)
            for name, df in artifacts.items()}
