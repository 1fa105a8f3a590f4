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


def scrubbed_ingest(stream: DataFrame, text_col: str = "text",
                    min_chars: int = 1,
                    scrub_pii: bool = True) -> DataFrame:
    """The standard arrival-time scrub over the good leg: drop
    empty/short documents, redact PII — narrow row-local stages that
    keep the stream stateless (dedup is the caller's stateful stage:
    `streaming.dedup.dedup_stream` composes after this)."""
    from ..operators import text as text_ops

    out = stream.filter(F.length(F.col(text_col)) >= min_chars)
    if scrub_pii:
        out = out.withColumn(text_col, text_ops.redact_pii(text_col))
    return out


def decontam_ingest_sink(eval_gram_table: str, clean_table: str, *,
                         audit_table: str | None = None,
                         id_col: str = "doc_id",
                         text_col: str = "text",
                         n: int | None = None,
                         n_eval_grams: int | None = None):
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
    `audit_table`. Both writes ride `sinks.idempotent_epoch_sink`, so
    an at-least-once replay overwrites its own epoch partition —
    exactly-once-in-effect.

    Decontamination is stateless across batches (every doc is judged
    against the same fixed benchmark), so the stream output equals
    the batch operator over the concatenated stream — pinned in
    tests/test_streaming_ingest.py. Per epoch only the batch pays
    gram hashing; the benchmark side broadcasts under the
    ``n_eval_grams`` attestation (the batch operator's contract)."""
    from ..operators.decontam import (DECONTAM_N,
                                      contamination_hits_against)
    from .sinks import idempotent_epoch_sink

    width = DECONTAM_N if n is None else n
    write_clean = idempotent_epoch_sink(clean_table)
    write_audit = (idempotent_epoch_sink(audit_table)
                   if audit_table else None)

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        ev = spark.table(eval_gram_table)
        hits = contamination_hits_against(
            batch_df, ev, id_col, text_col, width, n_eval_grams)
        if write_audit is not None:
            # hits feeds BOTH sinks — materialize once (eager, an
            # epoch-bounded relation) so the gram hashing + eval join
            # run once per epoch, not once per sink; not the session
            # cache, because a long-running stream submits a new plan
            # per epoch and plan-keyed entries would accumulate
            hits = hits.localCheckpoint(eager=True)
        # hit ids are hit-proportional (bounded by the batch); the
        # anti-join drops contaminated docs from the clean leg
        clean = batch_df.join(hits.select(id_col), id_col, "left_anti")
        write_clean(clean, epoch_id)
        if write_audit is not None:
            write_audit(hits, epoch_id)

    return write


def dsir_ingest_sink(model_table: str, scored_table: str, *,
                     id_col: str = "doc_id", text_col: str = "text",
                     n: int = 2, n_buckets: int | None = None,
                     salt: str = "dsir", keep_only: bool = False):
    """Arrival-time DSIR importance scoring (VERDICT r11 #6 — the
    streaming sibling of the r11 DSIR operator, completing its
    maintenance family the way decontam/dedup/near-dup/substr/
    sketches/vectors already stream). Returns a foreachBatch function:
    each micro-batch is featurized once (`hashed_ngram_counts` — the
    only corpus-side work, row-local until the per-doc bucket
    aggregate), scored against the PERSISTED importance model
    (`model_table`, the (bucket, lam) artifact `dsir_bucket_stats*`
    trains once per (target, corpus version) — the same shared
    artifact q50/q47 read), and lands in `scored_table` with its
    `dsir_score` column via `sinks.idempotent_epoch_sink` (at-least-
    once replays overwrite their own epoch partition).

    Scoring is stateless across batches (every doc is judged against
    the same fixed model), so the stream output equals the batch
    `dsir_log_weights_from` over the concatenated stream — pinned in
    tests/test_streaming_ingest.py. ``keep_only=True`` additionally
    applies the row-local selection decision (score > 0: more
    target-like than raw) at ingest — the filter-at-the-door shape.

    Scale: the model is ≤ n_buckets rows (bounded broadcast via the
    scoring operator's attestation); per epoch only the batch pays
    gram hashing; nothing accumulates driver- or executor-side."""
    from ..operators.sampling import (DSIR_BUCKETS, dsir_log_weights_from,
                                      hashed_ngram_counts)
    from .sinks import idempotent_epoch_sink

    buckets = DSIR_BUCKETS if n_buckets is None else n_buckets
    write_scored = idempotent_epoch_sink(scored_table)

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        stats = spark.table(model_table)
        feats = hashed_ngram_counts(batch_df, id_col, text_col, n,
                                    buckets, salt)
        scored = dsir_log_weights_from(batch_df.select(id_col), feats,
                                       stats, id_col,
                                       n_buckets=buckets)
        out = batch_df.join(scored, id_col)
        if keep_only:
            out = out.filter(F.col("dsir_score") > 0)
        write_scored(out, epoch_id)

    return write


def lm_ingest_sink(order: int, count_tables: Sequence[str],
                   totals_table: str, selection_table: str,
                   scored_table: str, *,
                   id_col: str = "doc_id", text_col: str = "text",
                   keep_only: bool = False):
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
    (lm_*/lm_keep; lm3_*/lm3_bucket/lm3_keep) via the idempotent
    epoch sink.

    Stateless across batches (fixed model, fixed selection), so the
    stream output equals the batch scoring of the concatenated stream
    — pinned in tests/test_streaming_ingest.py at both orders.
    ``keep_only=True`` drops the unkept (high-perplexity) documents
    at the door; unscorable short documents are kept (the batch
    operator's contract)."""
    from ..operators.lm import LM_PREFIX, lm_bits, lm_select
    from .sinks import idempotent_epoch_sink

    write_scored = idempotent_epoch_sink(scored_table)
    keep_col = f"{LM_PREFIX[order]}_keep"

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        scored = lm_bits(batch_df, id_col, text_col,
                         [spark.table(t) for t in count_tables],
                         spark.table(totals_table), order)
        out = batch_df.join(
            lm_select(scored, spark.table(selection_table), order),
            id_col)
        if keep_only:
            out = out.filter(F.col(keep_col))
        write_scored(out, epoch_id)

    return write


def lm_counts_ingest_sink(count_tables: Sequence[str], *,
                          id_col: str = "doc_id",
                          text_col: str = "text"):
    """GROW the LM model artifact at ingest — the maintenance sibling
    of the scoring sink above, completing the LM family's streaming
    set the way `streaming.substr` completes the window index's. Each
    micro-batch lands its own raw order-n gram-count PARTIAL in
    `count_tables[n - 1]` (unigram, bigram, trigram, …) as idempotent
    epoch partitions; the stream-lifetime counts derive by the SUM
    merge law (`rollup_gram_counts` ≡ n-way `lm.merge_gram_counts`),
    and the floored serving model derives from the rollup
    (`lm.lm_model_from_counts` — the floor is NOT additive, so only
    raw counts ever land). The batch tokenizes ONCE (`lm.tokenized`)
    across all gram families. Counts are additive, so stream == batch
    over the concatenated stream (pinned in
    tests/test_streaming_ingest.py) and a replayed epoch overwrites
    its own partitions with identical rows."""
    from ..operators.lm import gram_counts, tokenized
    from .sinks import idempotent_epoch_sink

    writers = [idempotent_epoch_sink(t) for t in count_tables]

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        # persist for the duration of the write actions — each is its
        # own job, and an unpersisted toks would re-read and re-split
        # the batch source per gram family (review finding)
        toks = tokenized(batch_df, id_col, text_col).persist()
        try:
            for n, write_n in enumerate(writers, 1):
                write_n(gram_counts(toks, n), epoch_id)
        finally:
            toks.unpersist()

    return write


def unigram_ingest_sink(pieces_table: str, seg_table: str, *,
                        id_col: str = "doc_id",
                        text_col: str = "text",
                        k: int | None = None,
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
    land in `seg_table` with (pieces, n_pieces) via the idempotent
    epoch sink.

    The bounded model is read from the table per micro-batch (a
    piece-vocab-sized collect — the bpe merge-list economics), so a
    maintenance job CAN land a retrained table mid-stream and later
    batches pick it up; with the table fixed the sink is stateless
    and stream == batch over the concatenated stream (pinned in
    tests/test_streaming_ingest.py). `k` defaults to the LONGEST
    persisted piece — deriving it from the table itself, not the
    module constant, so a model trained with a non-default
    max-piece-length segments identically at ingest (r13 review: a
    k=4 default silently dropped a k=6 model's long candidates —
    exactly the drift this sink pins against). Unsegmentable
    documents carry NULL pieces (fail-visible);
    ``drop_unsegmentable=True`` drops them at the door instead, and
    ``fallback=True`` (char-fallback, `unigram.unk_cost_of`) makes
    them segmentable instead — the web-ingest shape, where one emoji
    must not NULL a whole document. `segment_docs` gates the model's
    shipping shape (plan literal vs one-row broadcast map) on
    vocabulary size — a 32k-piece production model streams without
    plan bloat."""
    from ..operators.segment import segment_docs
    from ..operators.unigram import segmenter
    from .sinks import idempotent_epoch_sink

    write_seg = idempotent_epoch_sink(seg_table)

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        costs = {r["piece"]: int(r["cost"])
                 for r in spark.table(pieces_table)
                 .select("piece", "cost").collect()}
        if not costs:
            raise ValueError(
                f"unigram_ingest_sink: piece table {pieces_table} is "
                "empty — land a trained model before streaming")
        eff_k = k if k is not None else max(len(p) for p in costs)
        out = (segment_docs(batch_df, segmenter(costs, eff_k, fallback),
                            text_col)
               .withColumn("n_pieces", F.size("pieces")))
        if drop_unsegmentable:
            out = out.filter(F.col("pieces").isNotNull())
        write_seg(out, epoch_id)

    return write


def wordpiece_ingest_sink(pieces_table: str, seg_table: str, *,
                          id_col: str = "doc_id",
                          text_col: str = "text",
                          k: int | None = None):
    """Arrival-time WordPiece greedy segmentation — the
    `unigram_ingest_sink` twin for the third tokenizer family (r14).
    Each micro-batch is greedy-encoded ROW-LOCALLY against the
    PERSISTED piece table (any (piece, …) relation — the unigram
    `pieces_table_df`, a BPE vocab, or a hand-landed list: greedy
    matching needs membership only); rows land in `seg_table` with
    (pieces, n_pieces) via the idempotent epoch sink. WordPiece's
    whole-word ``[UNK]`` makes coverage total by construction, so
    there is no drop knob — unknown material is visible IN the data.
    `k` defaults to the longest persisted piece (the unigram sink's
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
    from .sinks import idempotent_epoch_sink

    write_seg = idempotent_epoch_sink(seg_table)

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        tbl = spark.table(pieces_table)
        if "fl" in tbl.columns:
            rows = tbl.select("piece", "fl").collect()
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
            all_pieces = {r["piece"] for r in rows}
        else:
            rows = tbl.select("piece").collect()
            pieces = all_pieces = {r["piece"] for r in rows}
            cont = None
        if not all_pieces:
            raise ValueError(
                f"wordpiece_ingest_sink: piece table {pieces_table} "
                "is empty — land a vocabulary before streaming")
        eff_k = k if k is not None else max(len(p) for p in all_pieces)
        out = (segment_docs(batch_df, segmenter(pieces, eff_k, cont),
                            text_col)
               .withColumn("n_pieces", F.size("pieces")))
        write_seg(out, epoch_id)

    return write


def unigram_counts_ingest_sink(words_table: str, *,
                               text_col: str = "text"):
    """GROW the unigram tokenizer's training statistics at ingest —
    the `lm_counts_ingest_sink` twin the trained-tokenizer family was
    missing (VERDICT r13 next #5), completing its maintenance set:
    score at the door (`unigram_ingest_sink`), grow here, retrain via
    `rollup_word_freqs` + `unigram.train_unigram_from_words`. Each
    micro-batch lands its own raw WORD-FREQUENCY partial (the one
    corpus-sized statistic unigram training reads — `bpe.word_freqs`)
    as an idempotent epoch partition; the stream-lifetime counts
    derive by the SUM merge law, and because training depends on the
    corpus only through these counts, rollup → retrain yields the
    model a batch train over the concatenated corpus yields EXACTLY
    (pinned in tests/test_streaming_ingest.py). A replayed epoch
    overwrites its own partition with identical rows."""
    from ..operators.bpe import word_freqs
    from .sinks import idempotent_epoch_sink

    write_words = idempotent_epoch_sink(words_table)

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        write_words(word_freqs(batch_df, text_col), epoch_id)

    return write


def rollup_word_freqs(spark: SparkSession, table: str) -> DataFrame:
    """The stream-lifetime (word, freq) relation: SUM over all epoch
    partials — identical to `bpe.word_freqs` of the concatenated
    stream (counts are additive). Feed to
    `unigram.train_unigram_from_words` (or `bpe` trainers — the same
    relation drives both tokenizer families' maintenance)."""
    from .sinks import EPOCH_COL
    return (spark.table(table).drop(EPOCH_COL)
            .groupBy("word")
            .agg(F.sum("freq").cast("long").alias("freq")))


def rollup_gram_counts(spark: SparkSession, table: str) -> DataFrame:
    """The stream-lifetime raw gram counts: SUM over all epoch
    partials — identical to counting the concatenated stream (the
    `merge_gram_counts` law applied n-ways). The key columns are
    every column but `c` once the epoch column is dropped, so one
    call serves every order's table; feed the rollups to
    `lm.lm_model_from_counts` for the floored serving model."""
    from .sinks import EPOCH_COL
    counts = spark.table(table).drop(EPOCH_COL)
    return (counts.groupBy(*(c for c in counts.columns if c != "c"))
            .agg(F.sum("c").cast("long").alias("c")))


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
      commutative, so `dedup.rollup_line_winners` over all partials
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
    from ..operators.dedup import (line_winners, rollup_line_winners,
                                   scrub_with_line_winners)
    from .sinks import EPOCH_COL, idempotent_epoch_sink

    write_win = idempotent_epoch_sink(
        winner_table, sub_partition_cols=(LINE_SHARD_COL,))
    write_scrub = idempotent_epoch_sink(scrubbed_table)

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        # layout guard (ADVICE r16 #3): a winner table created by the
        # pre-shard sink is partitioned by epoch only — insertInto
        # (position-based) would silently DROP the shard column on
        # write and the shard read-back below would then raise an
        # opaque AnalysisException every epoch, wedging the stream.
        # Fail at the first write with the migration named instead.
        if spark.catalog.tableExists(winner_table):
            part_cols = [c.name for c in spark.catalog.listColumns(
                winner_table) if c.isPartition]
            if LINE_SHARD_COL not in part_cols:
                raise ValueError(
                    f"line_dedup_ingest_sink: winner table "
                    f"{winner_table} is partitioned by {part_cols} "
                    f"without the shard column {LINE_SHARD_COL!r} — it "
                    "was created by a pre-shard sink version. Migrate "
                    "it (re-land the winner partials into a table "
                    f"partitioned by (_epoch_id, {LINE_SHARD_COL})) or "
                    "point the sink at a fresh table name.")
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
        write_win(part.observe(obs, F.collect_set(LINE_SHARD_COL)
                               .alias("sh")),
                  epoch_id)
        shards = (existed and sorted(obs.get["sh"])) or sorted(
            r[0] for r in spark.table(winner_table)
            .filter(F.col(EPOCH_COL) == int(epoch_id))
            .select(LINE_SHARD_COL).distinct().collect())
        # index as of this epoch, shard-pruned to the batch's shards
        # and narrowed to hashes the batch can touch (every dedupable
        # batch line is in `part` — just written); unhinted semi-join:
        # AQE broadcasts a small batch side, shuffle-joins a huge one
        idx = rollup_line_winners(
            spark.table(winner_table)
            .filter((F.col(EPOCH_COL) <= int(epoch_id))
                    & F.col(LINE_SHARD_COL).isin(shards))
            .drop(EPOCH_COL, LINE_SHARD_COL)
            .join(part.select("_h"), "_h", "semi"))
        write_scrub(scrub_with_line_winners(batch_df, idx, id_col,
                                            text_col, sep, min_chars),
                    epoch_id)

    return write


def scored_ingest(stream: DataFrame, weights: list[float],
                  feature_cols, threshold: float | None = 0.5,
                  out_col: str = "clf_score") -> DataFrame:
    """Arrival-time quality gate with an offline-TRAINED linear probe
    (operators.classifier) — the production train-offline/score-online
    split: `train_margin_classifier` learns on the batch corpus, the
    d+1 weight doubles ship here (`weights_as_literals`), and each
    micro-batch is scored by a pure row-local projection (streaming
    DataFrames can't join the one-row batch weights relation, so the
    weights fold in as literals — bit-identical arithmetic, pinned by
    tests/test_streaming_ingest.py's stream==batch equivalence).
    `threshold=None` keeps every row (score column only)."""
    from ..operators import classifier

    scored = classifier.score_with_literals(stream, feature_cols,
                                            weights, out_col=out_col)
    if threshold is None:
        return scored
    return scored.filter(F.col(out_col) >= threshold)
