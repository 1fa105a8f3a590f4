"""Streaming corpus ingestion (north-star extension): a JSONL drop
directory consumed continuously — the streaming twin of
`sources.jsonl_format.copy_into_jsonl`, for pipelines where documents
arrive as files (crawler output, log shippers) and must flow through
scrubbing without a nightly batch.

Spark-first shape: the file source (`readStream.schema(...).json`)
does the discovery — each micro-batch is exactly the newly arrived
files (the engine's own checkpointed file tracking plays the role
`warehouse.copy_loader.copy_with_history` plays for batch COPY), and
the PERMISSIVE corrupt-record column quarantines malformed lines
per-row instead of failing the stream.

Scale design:
- file listing per trigger is namenode-bounded (`maxFilesPerTrigger`
  caps batch size so a backfill burst cannot build one giant batch);
- the good/quarantine split is one narrow filter each — both legs of
  the SAME source; Spark runs one scan per micro-batch per sink, and
  the quarantine leg is hit-proportional;
- downstream composition is ordinary DataFrame code: the scrub
  stages (`operators.text.redact_pii`, quality filters) and streaming
  dedup (`streaming.dedup.dedup_stream`) apply unchanged, because a
  streaming DataFrame IS a DataFrame.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.csv_format import CORRUPT_COL, with_corrupt_field
from ..sources.jsonl_format import JSONL_OPTIONS


def read_jsonl_stream(spark: SparkSession, path: str,
                      schema: T.StructType,
                      max_files_per_trigger: int | None = None
                      ) -> DataFrame:
    """Streaming schema-declared JSONL read with the corrupt-record
    quarantine column (same semantics as the batch reader — missing
    keys NULL, extra keys ignored, malformed lines quarantined)."""
    opts = dict(JSONL_OPTIONS)
    if max_files_per_trigger is not None:
        opts["maxFilesPerTrigger"] = str(max_files_per_trigger)
    return (spark.readStream.options(**opts)
            .schema(with_corrupt_field(schema)).json(path))


def split_quarantine(stream: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(good, quarantine): good rows with the corrupt column dropped;
    quarantined rows keep the partially parsed columns (NULL for
    unparseable fields — useful triage signal) plus the raw line and
    source file — the streaming form of COPY ON_ERROR=CONTINUE
    accounting. The parsed columns also keep the projection legal:
    Spark refuses a query referencing ONLY the internal corrupt
    column (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN)."""
    good = stream.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    bad = (stream.filter(F.col(CORRUPT_COL).isNotNull())
           .withColumn("raw_line", F.col(CORRUPT_COL))
           .withColumn("src_file", F.input_file_name())
           .drop(CORRUPT_COL))
    return good, bad


def scrubbed_ingest(stream: DataFrame) -> DataFrame:
    """The standard arrival-time scrub over the good leg: drop
    empty documents, redact PII in `text` — narrow row-local stages
    that keep the stream stateless (dedup is the caller's stateful
    stage: `streaming.dedup.dedup_stream` composes after this)."""
    from ..operators import text as text_ops

    return (stream.filter(F.length(F.col("text")) >= 1)
            .withColumn("text", text_ops.redact_pii("text")))


def decontam_ingest_sink(eval_gram_table: str, clean_table: str, *,
                         audit_table: str | None = None):
    """Arrival-time benchmark decontamination (VERDICT r10 #6 — the
    streaming sibling the decontam family was missing, completing the
    per-artifact set: exact dedup → `streaming.dedup`, near-dup →
    `streaming.neardup`, substrings → `streaming.substr`, sketches →
    `streaming.sketches`, vectors → `streaming.vectors`, n-gram
    decontam → here). Returns a foreachBatch function: each
    micro-batch is probed against the PERSISTED benchmark gram index
    (`operators.decontam.eval_gram_set` materialized once per
    benchmark release — `eval_gram_table`), contaminated docs are
    dropped, clean docs land in `clean_table`, and the
    hit-proportional overlap accounting optionally lands in
    `audit_table`. Both land through `sinks.epoch_sink` (replay-safe).

    Decontamination is stateless across batches (every doc is judged
    against the same fixed benchmark), so the stream output equals
    the batch operator over the concatenated stream — pinned in
    tests/test_streaming_ingest.py. Per epoch only the batch pays
    gram hashing; the benchmark side is un-hinted (AQE decides)."""
    from ..operators.decontam import contamination_hits_against
    from .sinks import epoch_sink

    def step(batch_df: DataFrame, epoch_id: int):
        ev = batch_df.sparkSession.table(eval_gram_table)
        hits = contamination_hits_against(batch_df, ev)
        if audit_table:
            # hits feeds BOTH outputs — materialize once (eager, an
            # epoch-bounded relation) so the gram hashing + eval join
            # run once per epoch, not once per output; not the session
            # cache, because a long-running stream submits a new plan
            # per epoch and plan-keyed entries would accumulate
            hits = hits.localCheckpoint(eager=True)
        # hit ids are hit-proportional (bounded by the batch); the
        # anti-join drops contaminated docs from the clean leg
        clean = batch_df.join(hits.select("doc_id"), "doc_id", "left_anti")
        return clean, (hits if audit_table else None)

    return epoch_sink(step, clean_table, audit_table)


def dsir_ingest_sink(model_table: str, scored_table: str, *,
                     keep_only: bool = False):
    """Arrival-time DSIR importance scoring (VERDICT r11 #6 — the
    streaming sibling of the r11 DSIR operator, completing its
    maintenance family the way decontam/dedup/near-dup/substr/
    sketches/vectors already stream). Returns a foreachBatch function:
    each micro-batch is featurized once (`hashed_ngram_counts` — the
    only corpus-side work, row-local until the per-doc bucket
    aggregate), scored against the PERSISTED importance model
    (`model_table`, the (bucket, lam) artifact `dsir_bucket_stats`
    trains once per (target, corpus version) — the same shared
    artifact q50/q47 read), and lands in `scored_table` with its
    `dsir_score` column via `sinks.epoch_sink` (replay-safe).

    Scoring is stateless across batches (every doc is judged against
    the same fixed model), so the stream output equals the batch
    `dsir_log_weights` over the concatenated stream — pinned in
    tests/test_streaming_ingest.py. ``keep_only=True`` additionally
    applies the row-local selection decision (score > 0: more
    target-like than raw) at ingest — the filter-at-the-door shape.

    Scale: the model is ≤ DSIR_BUCKETS rows (bounded broadcast via the
    scoring operator's attestation); per epoch only the batch pays
    gram hashing; nothing accumulates driver- or executor-side."""
    from ..operators.sampling import dsir_log_weights, hashed_ngram_counts
    from .sinks import epoch_sink

    def step(batch_df: DataFrame, epoch_id: int):
        stats = batch_df.sparkSession.table(model_table)
        feats = hashed_ngram_counts(batch_df, "doc_id", "text")
        scored = dsir_log_weights(batch_df.select("doc_id"), feats,
                                  stats, "doc_id")
        out = batch_df.join(scored, "doc_id")
        if keep_only:
            out = out.filter(F.col("dsir_score") > 0)
        return [out]

    return epoch_sink(step, scored_table)


def lm_ingest_sink(order: int, count_tables: Sequence[str],
                   totals_table: str, selection_table: str,
                   scored_table: str, *, keep_only: bool = False):
    """Arrival-time n-gram-LM perplexity scoring (r12 — the streaming
    sibling of `operators.lm`, completing the quality tier's
    maintenance family exactly like `dsir_ingest_sink` does DSIR's).
    Returns a foreachBatch function: each micro-batch is scored at
    `order` against the PERSISTED model (`count_tables` = the floored
    [c_1, …] of `lm.lm_model_from_counts`, trained once per corpus
    version, plus its one-row totals) and labeled by the order's
    selection rule (`lm.lm_select`) against the PERSISTED train-corpus
    selection model (`lm.lm_selection` — the corpus-average threshold
    at order 2, the tercile cuts at order 3; fixed at ingest so the
    cut never drifts with batch composition). Rows land in
    `scored_table` with the order's score and keep columns
    (lm_*/lm_keep; lm3_*/lm3_bucket/lm3_keep) via `sinks.epoch_sink`.

    Stateless across batches (fixed model, fixed selection), so the
    stream output equals the batch scoring of the concatenated stream
    — pinned in tests/test_streaming_ingest.py at both orders.
    ``keep_only=True`` drops the unkept (high-perplexity) documents
    at the door; unscorable short documents are kept (the batch
    operator's contract)."""
    from ..operators.lm import LM_PREFIX, lm_bits, lm_select
    from .sinks import epoch_sink

    keep_col = f"{LM_PREFIX[order]}_keep"

    def step(batch_df: DataFrame, epoch_id: int):
        spark = batch_df.sparkSession
        scored = lm_bits(batch_df, "doc_id", "text",
                         [spark.table(t) for t in count_tables],
                         spark.table(totals_table), order)
        out = batch_df.join(
            lm_select(scored, spark.table(selection_table), order),
            "doc_id")
        if keep_only:
            out = out.filter(F.col(keep_col))
        return [out]

    return epoch_sink(step, scored_table)


def lm_counts_ingest_sink(count_tables: Sequence[str]):
    """GROW the LM model artifact at ingest — the maintenance sibling
    of the scoring sink above, completing the LM family's streaming
    set the way `streaming.substr` completes the window index's. Each
    micro-batch lands its own raw order-n gram-count PARTIAL in
    `count_tables[n - 1]` (unigram, bigram, trigram, …) as idempotent
    epoch partitions; the stream-lifetime counts derive by the SUM
    merge law (`sinks.read_epochs(..., merge=lm.GRAM_MERGE)`),
    and the floored serving model derives from the rollup
    (`lm.lm_model_from_counts` — the floor is NOT additive, so only
    raw counts ever land). The batch tokenizes ONCE (`lm.tokenized`)
    across all gram families. Counts are additive, so stream == batch
    over the concatenated stream (pinned in
    tests/test_streaming_ingest.py)."""
    from ..operators.lm import gram_counts, tokenized
    from .sinks import epoch_sink

    def step(batch_df: DataFrame, epoch_id: int):
        # persist for the duration of the write actions — each is its
        # own job, and an unpersisted toks would re-read and re-split
        # the batch source per gram family (review finding)
        toks = tokenized(batch_df, "doc_id", "text").persist()
        try:
            for n in range(1, len(count_tables) + 1):
                yield gram_counts(toks, n)
        finally:
            toks.unpersist()

    return epoch_sink(step, *count_tables)


def unigram_ingest_sink(pieces_table: str, seg_table: str, *,
                        drop_unsegmentable: bool = False,
                        fallback: bool = False):
    """Arrival-time unigram-tokenizer segmentation (r13 — the
    streaming sibling of `operators.unigram`, completing the trained-
    tokenizer family's maintenance set the way `lm_ingest_sink`
    completes the LM's). Each micro-batch is segmented ROW-LOCALLY
    (`segment.segment_docs` — no shuffle: the right shape for a
    stream) against the PERSISTED piece table (`pieces_table_df` of a
    `train_unigram` model — trained once per corpus version, fixed at
    ingest so segmentations never drift with batch composition); rows
    land in `seg_table` with (pieces, n_pieces) via `sinks.epoch_sink`.

    The model is read per micro-batch (`_piece_rows`: a maintenance
    job CAN land a retrained table mid-stream and later batches pick
    it up; the max piece length is the longest persisted piece); with the
    table fixed the sink is stateless and stream == batch over the
    concatenated stream (pinned in tests/test_streaming_ingest.py).
    Unsegmentable documents carry NULL pieces (fail-visible);
    ``drop_unsegmentable=True`` drops them at the door instead, and
    ``fallback=True`` (char-fallback, `unigram.unk_cost_of`) makes
    them segmentable instead — the web-ingest shape, where one emoji
    must not NULL a whole document. `segment_docs` gates the model's
    shipping shape (plan literal vs one-row broadcast map) on
    vocabulary size — a 32k-piece production model streams without
    plan bloat."""
    from ..operators.segment import segment_docs
    from ..operators.unigram import segmenter
    from .sinks import epoch_sink

    def step(batch_df: DataFrame, epoch_id: int):
        rows, eff_k = _piece_rows(batch_df.sparkSession, pieces_table,
                                  ("piece", "cost"),
                                  "unigram_ingest_sink", "trained model")
        costs = {r["piece"]: int(r["cost"]) for r in rows}
        out = (segment_docs(batch_df, segmenter(costs, eff_k, fallback),
                            "text")
               .withColumn("n_pieces", F.size("pieces")))
        if drop_unsegmentable:
            out = out.filter(F.col("pieces").isNotNull())
        return [out]

    return epoch_sink(step, seg_table)


def _piece_rows(spark: SparkSession, table: str, cols: Sequence[str],
                sink: str, what: str):
    """(rows, k) of a tokenizer sink's PERSISTED piece table: a
    piece-vocab-sized collect per micro-batch; empty fails loud. `k`
    is the LONGEST persisted piece, so a model trained with a
    non-default max piece length segments identically at ingest (r13
    review: a k=4 default silently dropped a k=6 model's long
    candidates). NULL pieces are left to the family's validation."""
    rows = spark.table(table).select(*cols).collect()
    if not rows:
        raise ValueError(f"{sink}: piece table {table} is empty — land "
                         f"a {what} before streaming")
    return rows, max(len(r["piece"] or "") for r in rows)


def wordpiece_ingest_sink(pieces_table: str, seg_table: str):
    """Arrival-time WordPiece greedy segmentation — the
    `unigram_ingest_sink` twin for the third tokenizer family (r14).
    Each micro-batch is greedy-encoded ROW-LOCALLY against the
    PERSISTED piece table (any (piece, …) relation — the unigram
    `pieces_table_df`, a BPE vocab, or a hand-landed list: greedy
    matching needs membership only); rows land in `seg_table` with
    (pieces, n_pieces) via `sinks.epoch_sink`. WordPiece's
    whole-word ``[UNK]`` makes coverage total by construction, so
    there is no drop knob — unknown material is visible IN the data.
    The max piece length is the longest persisted piece (the unigram sink's
    derivation rule, same drift pin); the encode routes through
    `segment.segment_docs`, so a production-scale vocabulary ships as
    a one-row broadcast map, never plan literals. A piece table carrying
    a `fl` flags column (the `wordpiece._flag_items` encoding: 1 =
    word-initial, 2 = continuation, 3 = both — e.g. a released BERT
    vocab landed via `load_bert_vocab`) streams with TWO-SET
    positional membership (r15); without the column, membership is
    position-independent (the trained-family form). Stateless across
    batches with the table fixed — stream == batch over the
    concatenated stream (pinned in tests/test_streaming_ingest.py)."""
    from ..operators.segment import segment_docs
    from ..operators.wordpiece import (WP_CONTINUATION, WP_INITIAL,
                                       segmenter)
    from .sinks import epoch_sink

    def step(batch_df: DataFrame, epoch_id: int):
        spark = batch_df.sparkSession
        flagged = "fl" in spark.table(pieces_table).columns
        rows, eff_k = _piece_rows(spark, pieces_table,
                                  ("piece", "fl") if flagged else ("piece",),
                                  "wordpiece_ingest_sink", "vocabulary")
        if flagged:
            # a malformed landed vocabulary fails LOUD like the
            # empty-table case: a NULL fl would TypeError below, and a
            # row with no membership bit (fl & 3 == 0) would silently
            # vanish from both sets while still widening eff_k
            # None-safe sort key (ADVICE r16 #2): a malformed row can
            # carry piece=NULL too, and NoneType < str would TypeError
            # inside the very validation meant to fail descriptively
            bad = sorted((r["piece"] for r in rows
                          if r["fl"] is None
                          or not r["fl"] & (WP_INITIAL | WP_CONTINUATION)),
                         key=lambda p: (p is None, p or ""))
            if bad:
                shown = ", ".join(repr(p) for p in bad[:10])
                more = f" (+{len(bad) - 10} more)" if len(bad) > 10 else ""
                raise ValueError(
                    f"wordpiece_ingest_sink: piece table {pieces_table} "
                    f"carries {len(bad)} row(s) whose fl flags grant no "
                    f"membership (NULL or fl & 3 == 0): {shown}{more} — "
                    "re-land the vocabulary with valid flags (1 = "
                    "word-initial, 2 = continuation, 3 = both)")
            pieces = {r["piece"] for r in rows
                      if r["fl"] & WP_INITIAL}
            cont = {r["piece"] for r in rows
                    if r["fl"] & WP_CONTINUATION}
        else:
            pieces, cont = {r["piece"] for r in rows}, None
        out = (segment_docs(batch_df, segmenter(pieces, eff_k, cont),
                            "text")
               .withColumn("n_pieces", F.size("pieces")))
        return [out]

    return epoch_sink(step, seg_table)


def unigram_counts_ingest_sink(words_table: str):
    """GROW the unigram tokenizer's training statistics at ingest —
    the `lm_counts_ingest_sink` twin the trained-tokenizer family was
    missing (VERDICT r13 next #5), completing its maintenance set:
    score at the door (`unigram_ingest_sink`), grow here, retrain via
    `sinks.read_epochs(..., merge=bpe.WORD_FREQ_MERGE)` +
    `unigram.train_unigram_from_words`. Each
    micro-batch lands its own raw WORD-FREQUENCY partial (the one
    corpus-sized statistic unigram training reads — `bpe.word_freqs`)
    as an idempotent epoch partition; the stream-lifetime counts
    derive by the SUM merge law, and because training depends on the
    corpus only through these counts, rollup → retrain yields the
    model a batch train over the concatenated corpus yields EXACTLY
    (pinned in tests/test_streaming_ingest.py)."""
    from ..operators.bpe import word_freqs
    from .sinks import epoch_sink

    return epoch_sink(
        lambda batch_df, _: [word_freqs(batch_df, "text")], words_table)


#: Shard column of the streaming line-winner table — a deterministic
#: hash prefix of the line hash, written as a partition level under
#: the epoch so the per-epoch scrub's index read PRUNES to the shards
#: the batch actually touches instead of scanning the stream-lifetime
#: index (VERDICT r15 next #2).
LINE_SHARD_COL = "_hb"


def line_dedup_ingest_sink(winner_table: str, scrubbed_table: str, *,
                           id_col: str = "doc_id",
                           text_col: str = "text",
                           sep: str = "\n", min_chars: int = 1,
                           n_shards: int = 64):
    """Corpus-wide LINE/PARAGRAPH dedup at the door (VERDICT r14 next
    #4 — the batch `operators.dedup.line_dedup`'s ingest twin,
    completing the dedup family's streaming set beside exact/near-dup/
    substr/decontam). Two artifacts per micro-batch, both idempotent
    epoch partitions:

    - `winner_table`: the batch's line-winner PARTIAL
      (`dedup.line_winners` — one (hash, (doc, pos, text)-min) row per
      distinct dedupable line). Struct-min is associative and
      commutative, so `LINE_WINNER_MERGE` over all partials
      equals the batch winner index of the concatenated stream
      EXACTLY, in any arrival order — the family's maintenance law;
      re-scrubbing any corpus against the rolled index reproduces the
      batch operator (pinned in tests).
    - `scrubbed_table`: the batch's documents scrubbed against the
      index AS OF this epoch (prior partials ∪ this batch) — the
      arrival-time discipline: a later epoch carrying a smaller
      (doc, position) occurrence does not retro-scrub already-landed
      documents (the exact-dedup stream's first-arrival contract).
      When documents arrive in ascending (doc, position) order the
      online output equals the batch operator row-for-row (pinned).

    Scale: each epoch pays one winner aggregate over its own lines
    plus one scrub join against the index NARROWED to the batch's own
    line hashes (a semi-join on the just-written partial — the
    rollup's min-merge shuffle is therefore BATCH-bounded, not
    index-sized, so per-epoch cost does not grow with stream
    lifetime). The index-table READ is shard-pruned (r16, VERDICT r15
    next #2): the winner table carries a deterministic hash-shard
    partition level (`LINE_SHARD_COL` = pmod(xxhash64(_h), n_shards)
    under the epoch), the sink lists the ≤ `n_shards` shard ids the
    just-written partial landed in, and the index read filters on
    that literal shard set — parquet PARTITION pruning bounds the
    scan to the shards the batch touches, not the stream-lifetime
    index. (Directory-partition pruning on a literal IN-list is the
    mechanism OSS Spark actually prunes scans with; `bucketBy`
    bucketing only removes the join-side exchange, which the
    semi-join already bounds.) No corpus-sized broadcast, no window.
    The epoch filter on the index read keeps a REPLAYED epoch
    deterministic even beside later-epoch partitions (partition
    pruning makes it epoch-bounded). `n_shards` trades pruning grain
    against files-per-epoch: size it so index_bytes / n_shards is a
    few hundred MB at the design point."""
    from ..operators.dedup import (LINE_WINNER_MERGE, line_winners,
                                   scrub_with_line_winners)
    from ..operators.sketches import merge_partials
    from .sinks import EPOCH_COL, epoch_sink, read_epochs, require_columns

    def step(batch_df: DataFrame, epoch_id: int):
        spark = batch_df.sparkSession
        # layout guard (ADVICE r16 #3): a winner table created by the
        # pre-shard sink is partitioned by epoch only — insertInto
        # (position-based) would silently DROP the shard column on
        # write and the shard read-back below would then raise an
        # opaque AnalysisException every epoch, wedging the stream.
        # Fail at the first write with the migration named instead.
        require_columns(
            spark, winner_table, (LINE_SHARD_COL,),
            f"line_dedup_ingest_sink: winner table "
            f"{winner_table} is partitioned by {{have}} "
            f"without the shard column {LINE_SHARD_COL!r} — it "
            "was created by a pre-shard sink version. Migrate "
            "it (re-land the winner partials into a table "
            f"partitioned by (_epoch_id, {LINE_SHARD_COL})) or "
            "point the sink at a fresh table name.", partition=True)
        part = line_winners(batch_df, id_col, text_col, sep,
                            min_chars).withColumn(
            LINE_SHARD_COL,
            F.pmod(F.xxhash64("_h"), F.lit(n_shards)).cast("int"))
        # the shard ids this batch lands in ride the WRITE job as an
        # Observation metric (r17, VERDICT r16 #5/#6: the read-back of
        # the just-written partition was one extra per-epoch driver
        # collect). An Observation reports the FIRST action on its
        # plan: after the bootstrap epoch's schema-DDL write, or any
        # action that saw no rows, read the partition back instead.
        existed = spark.catalog.tableExists(winner_table)
        obs = Observation()
        yield part.observe(obs, F.collect_set(LINE_SHARD_COL).alias("sh"))
        shards = (existed and sorted(obs.get["sh"])) or sorted(
            r[0] for r in spark.table(winner_table)
            .filter(F.col(EPOCH_COL) == int(epoch_id))
            .select(LINE_SHARD_COL).distinct().collect())
        # index as of this epoch, shard-pruned to the batch's shards
        # and narrowed to hashes the batch can touch (every dedupable
        # batch line is in `part` — just written); unhinted semi-join:
        # AQE broadcasts a small batch side, shuffle-joins a huge one
        idx = merge_partials(
            read_epochs(spark, winner_table, before=epoch_id + 1)
            .filter(F.col(LINE_SHARD_COL).isin(shards))
            .drop(LINE_SHARD_COL)
            .join(part.select("_h"), "_h", "semi"), LINE_WINNER_MERGE)
        yield scrub_with_line_winners(batch_df, idx, id_col, text_col,
                                      sep, min_chars)

    return epoch_sink(step, (winner_table, (LINE_SHARD_COL,)),
                      scrubbed_table)


def scored_ingest(stream: DataFrame, weights: list[float],
                  feature_cols,
                  threshold: float | None = 0.5) -> DataFrame:
    """Arrival-time quality gate with an offline-TRAINED linear probe
    (operators.classifier) — the production train-offline/score-online
    split: `train_probes` learns a one-label probe on the batch corpus,
    its d+1 weight doubles ship here (`weights_as_literals`), and each
    micro-batch is scored by a pure row-local projection (streaming
    DataFrames can't join the one-row batch weights relation, so the
    weights fold in as literals through the same margin chain as batch
    scoring — bit-identical, pinned by
    tests/test_streaming_ingest.py's stream==batch equivalence).
    `threshold=None` keeps every row (score column `clf_score` only)."""
    from ..operators import classifier

    scored = classifier.score_with_literals(stream, feature_cols, weights)
    if threshold is None:
        return scored
    return scored.filter(F.col("clf_score") >= threshold)
