"""Unigram-LM (SentencePiece-style) trained tokenizer — the second
big-name tokenizer family beside BPE (VERDICT r12 #4).

Kudo 2018's unigram language model tokenizer, re-expressed in the
engine's exact-integer fixed-point discipline so training AND
segmentation are oracle-replayable hash-for-hash:

1. **Seeding**: candidate pieces are the corpus's frequent substrings
   — every substring of length <= ``UNIGRAM_MAX_PIECE_LEN`` of every
   distinct word, counted weighted by word frequency (one explode
   over the vocabulary-sized word relation — the Sennrich reduction
   `operators.bpe` uses: per-round work is vocabulary-sized, the
   corpus is touched once by `word_freqs`). All single characters are
   kept (segmentation totality); multi-char candidates keep the
   top-``seed_multi`` by (count desc, piece asc) — a deterministic
   total order.
2. **Piece costs** (the model parameters): ``cost(p) = plog2(T + V)
   − plog2(c(p) + 1)`` — the add-one-smoothed negative log2
   probability in `sampling.plog2` fixed point (T = total piece
   count over the candidate set, V = candidate count). Costs are
   non-negative exact longs; a segmentation's cost is their sum, so
   minimizing cost == maximizing the unigram-LM likelihood.
3. **Hard-EM (Viterbi-EM) rounds**: E-step = Viterbi-segment every
   distinct word under the current costs (DP over word positions,
   expressed as one `F.aggregate` fold — all JVM-side, no UDF) and
   count piece usage weighted by word frequency; M-step = re-derive
   costs from the usage counts. The full-lattice forward-backward of
   the paper needs log-sum-exp, which has no exact-integer form (the
   `operators.lm` log-linear-vs-linear argument); hard EM is the
   standard integer-exact variant and keeps every round's counts —
   and therefore the whole training trajectory — oracle-replayable
   as chained CTEs (the BPE-round/k-means-round pattern).
4. **Viterbi tie-break**: strictly-lower cost wins; on ties the
   LONGEST piece wins (candidates scanned length-descending with a
   strict compare) — pinned identically in the engine fold, the
   DuckDB mirror's longest-first ``least``-match CASE, and the
   Python test reference.

Like `bpe.train_bpe_merges`, the learned model (piece, count, cost —
candidate-set-bounded: |alphabet| + ``seed_multi`` rows) is a
driver-side artifact collected via the bounded Pregel-probe pattern
and memoized per (session, corpus plan, hyperparameters); per-round
state in the cluster is vocabulary-sized, never corpus-sized.

r14 additions: CHAR-FALLBACK encoding (``fallback=True`` /
``unk_cost_of`` — the --byte_fallback analog: out-of-alphabet
characters become their own penalty-priced pieces, total coverage +
exact round-trip, strict mode the pinned default) and the streaming
maintenance path (`streaming.ingest.unigram_counts_ingest_sink` →
`rollup_word_freqs` → `train_unigram_from_words` == batch retrain
exactly).

Scale (100 TB): the one corpus-sized pass is `bpe.word_freqs`' word
count (map-side combined, word-keyed shuffle). Training folds run
over the distinct-word relation (Heaps' law: ~10^8 rows at 100 TB —
parallel, checkpointed once). Encoding goes through the shared
`operators.segment` path with this module's `segmenter`: the model
ships gated on vocabulary size (plan literal below
`segment.MAP_LIT_MAX` pieces, one-row broadcast map relation above),
`segment.encode_pieces` segments the DISTINCT words once and joins
them back by word, and `segment.segment_text` is the join-free
row-local form for subsamples and streams.

Reference parity: the reference repo has no tokenizer trainer; this
extends the LLM-pipeline surface beside `operators/bpe.py`
(SURVEY §2 north-star extensions).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .bpe import word_freqs
from .sampling import PLOG2_SCALE, plog2_int, plog2_sql
from .segment import Segmenter, shipped

#: Maximum candidate-piece length (characters). DP candidates per
#: position = this constant, so it is compiled into the Viterbi fold
#: and the oracle's unrolled candidate list.
UNIGRAM_MAX_PIECE_LEN = 4

#: Multi-character candidate pieces kept at seeding (top by count
#: desc, piece asc). Single characters are always kept.
UNIGRAM_SEED_MULTI = 32

#: Hard-EM rounds.
UNIGRAM_ROUNDS = 2

#: Fallback cost for an out-of-alphabet SINGLE CHARACTER when
#: char-fallback encoding is on (SentencePiece's --byte_fallback
#: contract, adapted to this char-level model; its kUnkPenalty = 10
#: in float log-prob space, here in plog2 fixed point): the model's
#: max piece cost plus this penalty, so a fallback piece is always
#: strictly worse than ANY trained segmentation but still total.
#: Derived deterministically from the model (`unk_cost_of`), so the
#: Python reference and any oracle replay pin it exactly.
UNIGRAM_UNK_PENALTY = 10 * PLOG2_SCALE


def unk_cost_of(costs: dict[str, int]) -> int:
    """The char-fallback cost for a trained model: max trained piece
    cost + the fixed penalty (module constant). Deterministic pure-int
    math — the fallback cost IS part of the shipped model."""
    if not costs:
        raise ValueError("unk_cost_of: empty cost model")
    return max(costs.values()) + UNIGRAM_UNK_PENALTY


def seed_piece_counts(words: DataFrame,
                      k: int = UNIGRAM_MAX_PIECE_LEN) -> DataFrame:
    """(piece, cnt): every substring of length 1..k of every word,
    counted weighted by word frequency — the candidate-seeding
    relation. Vocabulary-sized input, piece-keyed map-side-combined
    aggregate."""
    w = F.col("word")
    subs = F.flatten(F.transform(
        F.sequence(F.lit(1), F.least(F.length(w), F.lit(k))),
        lambda l: F.transform(
            F.sequence(F.lit(1), F.length(w) - l + 1),
            lambda s: w.substr(s, l))))
    return (words.select(F.explode(subs).alias("piece"), "freq")
            .groupBy("piece").agg(F.sum("freq").alias("cnt")))


def seed_pieces(words: DataFrame, k: int = UNIGRAM_MAX_PIECE_LEN,
                seed_multi: int = UNIGRAM_SEED_MULTI) -> DataFrame:
    """(piece, cnt): the candidate set — ALL single characters (so
    every word stays segmentable) plus the top-`seed_multi`
    multi-char substrings by (cnt desc, piece asc). Bounded by
    |alphabet| + seed_multi by construction."""
    subs = seed_piece_counts(words, k)
    singles = subs.filter(F.length("piece") == 1)
    multis = (subs.filter(F.length("piece") > 1)
              .orderBy(F.desc("cnt"), F.asc("piece")).limit(seed_multi))
    return singles.unionByName(multis)


def piece_costs(counts: dict[str, int], keys: list[str],
                scale: int = PLOG2_SCALE) -> dict[str, int]:
    """Driver-side M-step: cost(p) = plog2(T + V) − plog2(c(p) + 1)
    over the FIXED candidate key set (zero-usage pieces stay in the
    model at max cost — the candidate set never changes across
    rounds, only the counts do). Pure-int math == the engine/oracle
    expression bit-for-bit (`plog2_int`)."""
    t = sum(counts.get(p, 0) for p in keys)
    v = len(keys)
    base = plog2_int(t + v, scale)
    return {p: base - plog2_int(counts.get(p, 0) + 1, scale)
            for p in keys}


def viterbi_expr(word: Column, costs_map: Column,
                 k: int = UNIGRAM_MAX_PIECE_LEN,
                 unk_cost: int | None = None) -> Column:
    """struct<c:bigint, s:array<string>> — the min-cost segmentation
    of `word` under the piece-cost map, or NULL when no segmentation
    exists (a character outside the model's alphabet — fail-visible,
    never silently skipped). One `F.aggregate` fold over positions:
    acc[i+1] = best over piece lengths l=k..1 of acc[i+1−l] +
    cost(substr(i+2−l, l)); strict `<` with lengths scanned
    descending pins the longest-piece tie-break. All JVM-side.

    `unk_cost` enables CHAR-FALLBACK (SentencePiece --byte_fallback
    adapted to this char-level model): a SINGLE character missing
    from the map costs `unk_cost` and becomes its own piece, so
    coverage is total — decode still reconstructs the text exactly
    (the fallback piece IS the character) — while multi-char lookups
    stay strict. None = strict mode (the default, pinned unchanged)."""
    # "no segmentation" is a SENTINEL struct with NULL fields, never a
    # NULL struct: arrays carrying null struct elements NPE in Spark
    # 4.1's generated UnsafeProjection when the fold lands inside an
    # aggregate's result projection (e.g. after the encode path's
    # distinct — verified live); null FIELDS round-trip fine
    def nothing():
        return F.struct(F.lit(None).cast("bigint").alias("c"),
                        F.lit(None).cast("array<string>").alias("s"))

    def step(acc, i):
        cands = []
        for l in range(k, 0, -1):
            prev = F.element_at(acc, i - F.lit(l) + 1)
            piece = word.substr(i - F.lit(l) + 1, F.lit(l))
            cost = F.element_at(costs_map, piece)
            if unk_cost is not None and l == 1:
                # char-fallback: only ATOMIC units fall back (the
                # byte_fallback contract — unknown material is spelled
                # out unit by unit, never as an unknown multi-gram)
                cost = F.coalesce(cost, F.lit(int(unk_cost)).cast("long"))
            cand = F.when(
                i >= F.lit(l),
                F.struct(
                    (prev["c"] + cost).alias("c"),
                    F.concat(prev["s"], F.array(piece)).alias("s"))
            ).otherwise(nothing())
            cands.append(cand)
        carr = F.filter(F.array(*cands),
                        lambda x: x["c"].isNotNull())
        best = F.aggregate(
            carr, nothing(),
            lambda a, x: F.when(a["c"].isNull() | (x["c"] < a["c"]), x)
            .otherwise(a))
        return F.concat(acc, F.array(best))

    init = F.array(F.struct(
        F.lit(0).cast("long").alias("c"),
        F.array().cast("array<string>").alias("s")))
    filled = F.aggregate(F.sequence(F.lit(1), F.length(word)),
                         init, step)
    return F.when(F.length(word) >= 1,
                  F.element_at(filled, F.length(word) + 1)
                  ).otherwise(nothing())


def viterbi_words(words: DataFrame, costs: dict[str, int],
                  k: int = UNIGRAM_MAX_PIECE_LEN,
                  unk_cost: int | None = None) -> DataFrame:
    """words + (cost, segs): Viterbi segmentation of the distinct-word
    relation under a trained/interim cost model, the model shipped by
    the `segment.shipped` gate (identical results either shape, pinned
    in tests)."""
    return _viterbi_words(words, costs, k, unk_cost, memo=True)


def _viterbi_words(words: DataFrame, costs: dict[str, int], k: int,
                   unk_cost: int | None, memo: bool) -> DataFrame:
    """`viterbi_words`; `memo=False` skips the literal-map expression
    memo — for the EM loop, whose costs change every round, so each
    round's entry would never be reused and the memo would only grow
    (ADVICE r17)."""
    src, best = shipped(
        words, tuple(sorted(costs.items())),
        ("viterbi_words", k, unk_cost),
        lambda m: viterbi_expr(F.col("word"), m, k, unk_cost),
        memo_literal=memo)
    return (src.withColumn("_b", best)
            .select(*words.columns, F.col("_b.c").alias("cost"),
                    F.col("_b.s").alias("segs")))


def segmenter(costs: dict[str, int], k: int = UNIGRAM_MAX_PIECE_LEN,
              fallback: bool = False) -> Segmenter:
    """The cost model as a `segment.Segmenter` — the handle every
    shared encode (`segment.segment_text`, `segment_docs`,
    `word_segmentations`, `encode_pieces`) takes. A document with an
    out-of-alphabet character is NULL (fail-visible, strict mode);
    ``fallback=True`` turns on CHAR-FALLBACK (`unk_cost_of` — the
    --byte_fallback analog): such a character becomes its own piece at
    the penalty cost, so every document encodes and decode still
    round-trips. A word-grain artifact must be built with the same
    ``fallback`` as the encode that consumes it."""
    unk = unk_cost_of(costs) if fallback else None
    return Segmenter(tuple(sorted(costs.items())),
                     lambda w, m: viterbi_expr(w, m, k, unk)["s"],
                     ("unigram", k, unk))


class UnigramModel:
    """The trained artifact: `pieces` = [(piece, final-usage count,
    cost)] sorted by piece; `traj` = per-round corpus Viterbi
    objective Σ freq·cost (exact longs, the EM trajectory the oracle
    replays); hyperparameters ride along for encode."""

    def __init__(self, pieces: list[tuple[str, int, int]],
                 traj: list[int], k: int, seed_multi: int):
        self.pieces = pieces
        self.traj = traj
        self.k = k
        self.seed_multi = seed_multi

    @property
    def costs(self) -> dict[str, int]:
        return {p: c for p, _, c in self.pieces}

    def segmenter(self, fallback: bool = False) -> Segmenter:
        return segmenter(self.costs, self.k, fallback)


#: Vocabulary shrink factor per pruning round (SentencePiece's
#: --shrinking_factor default): with `vocab_target` set, each EM
#: round keeps at most max(target, ceil(|multis| · 3/4)) multi-char
#: pieces. Exact rational so the schedule replays deterministically.
PRUNE_SHRINK_NUM = 3
PRUNE_SHRINK_DEN = 4


def train_unigram(docs: DataFrame, text_col: str = "text",
                  rounds: int = UNIGRAM_ROUNDS,
                  k: int = UNIGRAM_MAX_PIECE_LEN,
                  seed_multi: int = UNIGRAM_SEED_MULTI,
                  vocab_target: int | None = None) -> UnigramModel:
    """Train the unigram tokenizer (module docstring) — memoized per
    (session, corpus plan, hyperparameters) like `train_bpe_merges`.
    Driver-side state is candidate-set-bounded (the Pregel-probe
    pattern: per-round piece counts and the one-row objective are the
    model parameters being learned, not data).

    `vocab_target` enables SentencePiece's iterative PRUNING schedule
    (Kudo 2018 §3; the fixed-candidate run above is the
    seed-is-already-small degenerate case): seed LARGE (`seed_multi`
    well above the target), and after each E-step keep only the top
    multi-char pieces by (usage desc, piece asc) — at most
    max(vocab_target, ceil(3/4 of the survivors)) per round, the
    shrinking-factor schedule — then re-derive costs over the reduced
    candidate set. Single characters are never pruned (segmentation
    totality). The final model carries <= |alphabet| + max(target,
    surviving multis) pieces."""
    if rounds < 1:
        raise ValueError(f"rounds ({rounds}) must be >= 1")
    if vocab_target is not None and vocab_target < 1:
        raise ValueError(f"vocab_target ({vocab_target}) must be >= 1")
    from ._cache import cached_build, plan_key
    key = ("unigram_model", plan_key(docs.select(text_col)),
           rounds, k, seed_multi, vocab_target)
    return cached_build(
        docs.sparkSession, key,
        lambda: _train(docs, text_col, rounds, k, seed_multi,
                       vocab_target))


def _prune_keys(keys: list[str], counts: dict[str, int],
                vocab_target: int) -> list[str]:
    """One pruning step: singles always survive; multis keep the top
    max(vocab_target, ceil(3/4·|multis|)) by (usage desc, piece asc)
    — the same deterministic total order the seeding uses."""
    import math
    singles = [p for p in keys if len(p) == 1]
    multis = [p for p in keys if len(p) > 1]
    keep = max(vocab_target,
               math.ceil(len(multis) * PRUNE_SHRINK_NUM
                         / PRUNE_SHRINK_DEN))
    if len(multis) <= keep:
        return keys
    ranked = sorted(multis, key=lambda p: (-counts.get(p, 0), p))
    return sorted(singles + ranked[:keep])


def train_unigram_from_words(words: DataFrame,
                             rounds: int = UNIGRAM_ROUNDS,
                             k: int = UNIGRAM_MAX_PIECE_LEN,
                             seed_multi: int = UNIGRAM_SEED_MULTI,
                             vocab_target: int | None = None
                             ) -> UnigramModel:
    """Train from a (word, freq) RELATION instead of a document
    corpus — the sanctioned MAINTENANCE path for a pipeline that
    grows its word counts via `streaming.ingest.unigram_counts_
    ingest_sink` + `rollup_word_freqs` (the `lm_cuts_from_rollup`
    pattern, VERDICT r13 next #5). Training depends on the corpus
    ONLY through its word frequencies and word counts are additive,
    so stream-grown counts + this call equal `train_unigram` over the
    concatenated corpus EXACTLY (pinned in
    tests/test_streaming_ingest.py). Not memoized — a maintenance
    job retrains once per rollup, and the rollup is not a stable
    session-plan key the way a corpus plan is."""
    sc = words.sparkSession.sparkContext
    n_parts = max(4, sc.defaultParallelism // 8)
    pinned = words.coalesce(n_parts).localCheckpoint(eager=True)
    return _train_from_words(pinned, rounds, k, seed_multi,
                             vocab_target)


def subtract_word_freqs(index: DataFrame,
                        removed: DataFrame) -> DataFrame:
    """Decremental maintenance of the tokenizer's (word, freq) count
    artifact: counts(corpus) ⊖ counts(removed ⊆ corpus) ==
    counts(corpus ∖ removed) exactly — the right-to-be-forgotten path
    for a pipeline growing counts via `unigram_counts_ingest_sink`,
    completing the artifact's law set (grow by SUM, forget by
    subtraction, retrain == batch). Delegates to
    `lm.subtract_gram_counts`, the shared fail-loud law
    (over-subtraction raises; zeroed words leave the relation), so
    the tokenizer and LM count families cannot drift."""
    from .lm import subtract_gram_counts
    out = subtract_gram_counts(
        index.select("word", F.col("freq").alias("c")),
        removed.select("word", F.col("freq").alias("c")))
    return out.select("word", F.col("c").alias("freq"))


def _train(docs: DataFrame, text_col: str, rounds: int, k: int,
           seed_multi: int,
           vocab_target: int | None = None) -> UnigramModel:
    sc = docs.sparkSession.sparkContext
    n_parts = max(4, sc.defaultParallelism // 8)
    # the ONE corpus-sized pass; checkpoint cuts the corpus lineage
    # and bounds the per-round fold's input to the distinct words
    # (the bpe._train discipline, same partition sizing)
    words = (word_freqs(docs, text_col)
             .coalesce(n_parts).localCheckpoint(eager=True))
    return _train_from_words(words, rounds, k, seed_multi,
                             vocab_target)


def _train_from_words(words: DataFrame, rounds: int, k: int,
                      seed_multi: int,
                      vocab_target: int | None = None) -> UnigramModel:
    """The shared EM loop over a materialized (word, freq) relation.
    Every round's state is candidate-set-bounded; the word relation is
    read once per round by the checkpointed-fold discipline."""
    # bounded collect: |alphabet| + seed_multi rows by construction
    # (the vocab_from_merges alphabet-collect pattern)
    seeds = {r["piece"]: int(r["cnt"])
             for r in seed_pieces(words, k, seed_multi).collect()}
    if not seeds:
        raise ValueError(
            "train_unigram: the corpus has no words — nothing to "
            "seed a piece vocabulary from")
    keys = sorted(seeds)
    costs = piece_costs(seeds, keys)
    traj: list[int] = []
    counts: dict[str, int] = dict(seeds)
    for _ in range(rounds):
        # E-step in ONE pass (r17, guide §2.4/§5 — was 3 jobs/round:
        # an eager Viterbi checkpoint + the count aggregate + the
        # one-row objective): posexplode carries the word-level
        # objective contribution freq·cost on the FIRST piece only, so
        # one grouped aggregate yields both the usage counts and (via
        # a candidate-set-bounded driver sum of exact longs) the
        # round objective — the Viterbi fold runs once, nothing is
        # materialized, and at scale the round is one corpus-words
        # pass instead of checkpoint-write + two scans. A NULL-cost
        # (unsegmentable) word contributes to neither — exactly the
        # old sum-over-NULL semantics; posexplode of its NULL segs
        # emits nothing, matching explode.
        agg = (_viterbi_words(words, costs, k, None, memo=False)
               .select("freq", "cost",
                       F.posexplode("segs").alias("pos", "piece"))
               .groupBy("piece")
               .agg(F.sum("freq").alias("cnt"),
                    F.sum(F.when(F.col("pos") == 0,
                                 F.col("freq") * F.col("cost"))
                          .otherwise(F.lit(0).cast("long")))
                    .alias("obj_part"))
               .collect())
        counts = {r["piece"]: int(r["cnt"]) for r in agg}
        obj = sum(int(r["obj_part"]) for r in agg)
        traj.append(int(obj))
        if vocab_target is not None:
            keys = _prune_keys(keys, counts, vocab_target)
        costs = piece_costs(counts, keys)
    pieces = [(p, counts.get(p, 0), costs[p]) for p in keys]
    return UnigramModel(pieces, traj, k, seed_multi)


def unigram_vocab(spark, model: UnigramModel) -> DataFrame:
    """(token, token_id): the deterministic id space the trained
    unigram tokenizer ships — pieces ordered by (cost asc, piece asc),
    ids 0.. (most-probable-first, the SentencePiece convention).
    Rebuilding from the same model yields byte-identical ids (the
    `bpe.vocab_from_merges` reproducibility contract). Every model
    piece has an id, so `segment.encode_ids` only emits `unk_id` under
    a restricted vocabulary or for char-fallback pieces (SentencePiece's
    unk contract)."""
    ordered = sorted(model.pieces, key=lambda r: (r[2], r[0]))
    return spark.createDataFrame(
        [(p, i) for i, (p, _, _) in enumerate(ordered)],
        "token string, token_id int")


def pieces_table_df(spark, model: UnigramModel) -> DataFrame:
    """The trained model as a landable (piece, cnt, cost) relation —
    the persisted artifact the streaming sink scores against (the
    `bpe.merges_table` shape)."""
    return spark.createDataFrame(
        model.pieces, "piece string, cnt long, cost long")


# --------------------------------------------------------------------------
# DuckDB oracle fragment — seeding, EM rounds (recursive-CTE Viterbi),
# and the final word-segmentation relation, replayed as CTEs.
# --------------------------------------------------------------------------

def _viterbi_cte(tag: str, costs_cte: str, k: int,
                 max_word_len: int,
                 unk_cost: int | None = None) -> str:
    """One Viterbi pass over the `uwf` word relation as an UNROLLED
    chain of per-position CTEs (the `_bpe_round_cte` pattern), one
    per character position up to `max_word_len`; the state carries
    the full per-position (costs, segs) lists so no backtrace pass
    is needed.

    Deliberately NOT a recursive CTE and NOT lambda-reduced: DuckDB
    1.0's recursive CTEs corrupted this DP two independent ways
    (multi-threaded execution mixed rows across words — one word's
    final state carried another word's segmentation — and even
    single-threaded, struct-building lambdas over outer columns
    dropped candidates / emitted empty pieces). The unrolled chain is
    plain scalar SQL: per position, the <= k candidate costs are
    named columns, `least` picks the minimum (NULL-ignoring), and the
    winning LENGTH is the first (longest) candidate equal to it — the
    engine fold's exact tie-break. Cost lookups go through a one-row
    MAP (cross join, nothing for a join planner to misplan). Words
    longer than the unroll FAIL LOUD in `{tag}_f` instead of
    truncating silently.

    `unk_cost` mirrors the engine's char-fallback (`viterbi_expr`):
    a SINGLE-character lookup missing from the map COALESCEs to the
    penalty cost — multi-char lookups stay strict — so a fallback
    segmentation replays in the oracle exactly like a strict one."""
    parts = [f"""
    {tag}_m AS MATERIALIZED (
      SELECT MAP(list(piece ORDER BY piece),
                 list(cost ORDER BY piece)) AS m
      FROM {costs_cte}),
    {tag}0 AS (
      SELECT word, freq,
             [CAST(0 AS BIGINT)] AS costs, [[]::VARCHAR[]] AS segs
      FROM uwf)"""]
    for p in range(1, max_word_len + 1):
        ls = [l for l in range(min(k, p), 0, -1)]     # longest first

        def lookup(l: int) -> str:
            base = (f"list_extract(map_extract(cm.m, "
                    f"substr(word, {p + 1 - l}, {l})), 1)")
            if unk_cost is not None and l == 1:
                return f"COALESCE({base}, {int(unk_cost)})"
            return base

        cand_cols = ", ".join(
            f"costs[{p + 1 - l}] + {lookup(l)} AS c{l}" for l in ls)
        least_args = ", ".join(f"c{l}" for l in ls)
        bl = ("CASE " + " ".join(
            f"WHEN c{l} IS NOT NULL AND c{l} = bc THEN {l}"
            for l in ls) + " END")
        parts.append(f"""
    {tag}{p} AS (
      SELECT word, freq,
             CASE WHEN {p} <= length(word)
                  THEN list_append(costs, bc) ELSE costs END AS costs,
             CASE WHEN {p} <= length(word)
                  THEN list_append(segs,
                       CASE WHEN bc IS NULL THEN NULL
                            ELSE list_append(segs[{p} + 1 - bl],
                                 substr(word, {p} + 1 - bl, bl)) END)
                  ELSE segs END AS segs
      FROM (SELECT word, freq, costs, segs, bc, {bl} AS bl
            FROM (SELECT word, freq, costs, segs, {least_args},
                         least({least_args}) AS bc
                  FROM (SELECT word, freq, costs, segs, {cand_cols}
                        FROM {tag}{p - 1} CROSS JOIN {tag}_m cm))))""")
    parts.append(f"""
    {tag}_f AS MATERIALIZED (
      SELECT word, freq,
             CASE WHEN length(word) > {max_word_len}
                  THEN error('unigram oracle: word longer than the '
                             || '{max_word_len}-position unrolled DP '
                             || '— raise max_word_len')
                  ELSE costs[length(word) + 1] END AS cost,
             segs[length(word) + 1] AS segs
      FROM {tag}{max_word_len})""")
    return ",".join(parts)


def _costs_cte(tag: str, counts_cte: str) -> str:
    p = plog2_sql
    return f"""
    {tag}_t AS MATERIALIZED (
        SELECT SUM(COALESCE(c.cnt, 0)) AS t, COUNT(*) AS v
        FROM useed_keys k LEFT JOIN {counts_cte} c USING (piece)),
    {tag} AS MATERIALIZED (
      SELECT k.piece,
             {p('tt.t + tt.v')} - {p('COALESCE(c.cnt, 0) + 1')} AS cost
      FROM useed_keys k LEFT JOIN {counts_cte} c USING (piece)
      CROSS JOIN {tag}_t tt)"""


def unigram_oracle_ctes(rounds: int = UNIGRAM_ROUNDS,
                        k: int = UNIGRAM_MAX_PIECE_LEN,
                        seed_multi: int = UNIGRAM_SEED_MULTI,
                        max_word_len: int = 12) -> str:
    """CTE chain ending in: `uni_pieces(piece, cnt, cost)` — the
    trained model, `uni_rounds(round, obj)` — the EM trajectory, and
    `uni_wseg(word, segs)` — final-model Viterbi segmentation of
    every corpus word. Mirrors `train_unigram` round for round over
    the `documents` view; each Viterbi pass is an unrolled
    `max_word_len`-position DP chain (fail-loud beyond it — the
    engine fold has no such bound). The default carries 50% headroom
    over the corpus: the synthetic documents' generator draws words
    from a fixed vocabulary whose longest word is 8 chars at every
    driver sf (probed r14 over sf0.001/0.01/0.1) — if a future corpus
    version grows past 12, the oracle error()s with this knob's name
    (ADVICE r13 #4: remembered, deliberately fail-loud)."""
    parts = [f"""
    uwf AS MATERIALIZED (
        SELECT word, COUNT(*) AS freq FROM
        (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        WHERE length(word) > 0 GROUP BY word),
    usubs AS (
        SELECT substr(word, s, l) AS piece, SUM(freq) AS cnt
        FROM uwf
        CROSS JOIN (SELECT unnest(generate_series(1, {k})) AS l) ls
        CROSS JOIN LATERAL (SELECT unnest(generate_series(
            1, length(word) - l + 1)) AS s) ss
        GROUP BY 1),
    useed AS MATERIALIZED (
        SELECT piece, cnt FROM usubs WHERE length(piece) = 1
        UNION ALL
        SELECT piece, cnt FROM
        (SELECT piece, cnt FROM usubs WHERE length(piece) > 1
         ORDER BY cnt DESC, piece LIMIT {seed_multi})),
    useed_keys AS MATERIALIZED (SELECT piece FROM useed)"""]
    parts.append(_costs_cte("ucost0", "useed"))
    for r in range(1, rounds + 1):
        parts.append(_viterbi_cte(f"udp{r}", f"ucost{r - 1}", k,
                                  max_word_len))
        parts.append(f"""
    ucnt{r} AS MATERIALIZED (
        SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt FROM
        (SELECT unnest(segs) AS piece, freq FROM udp{r}_f)
        GROUP BY 1)""")
        parts.append(_costs_cte(f"ucost{r}", f"ucnt{r}"))
    parts.append(_viterbi_cte(f"udp{rounds + 1}", f"ucost{rounds}", k,
                              max_word_len))
    parts.append(f"""
    uni_pieces AS (
        SELECT k.piece, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS cnt,
               CAST(s.cost AS BIGINT) AS cost
        FROM useed_keys k
        LEFT JOIN ucnt{rounds} c USING (piece)
        JOIN ucost{rounds} s USING (piece)),
    uni_rounds AS ({" UNION ALL ".join(
        f"SELECT {r} AS round, "
        f"(SELECT CAST(SUM(cost * freq) AS BIGINT) FROM udp{r}_f) AS obj"
        for r in range(1, rounds + 1))}),
    uni_wseg AS (SELECT word, segs FROM udp{rounds + 1}_f)""")
    return ",".join(parts)
