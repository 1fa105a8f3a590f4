"""Sequence packing (X-PACK): lay the tokenized corpus end-to-end and
chop it into fixed-length training sequences.

The GPT-style packing every autoregressive-LM data loader performs:
concatenate documents in a deterministic order, cut every `ctx`
tokens. Done at data-prep time (not loader time) it becomes a
pure relational computation: each document's global token span is
``[token_offset, token_offset + n_tokens)`` where `token_offset` is
the exclusive prefix sum of token counts in id order, and the
sequences it lands in are ``floor(offset / ctx) ..
floor((offset + n - 1) / ctx)``.

100 TB design: the only non-narrow step is the prefix sum, and a
global running total is exactly the computation a single-partition
window CANNOT carry at scale. The switch is `plans.prefix`'s one
size edge, as for surrogate keys: small or unattested corpora take
the global window (one task, fine for test scale); above
``prefix.WINDOW_MAX_ROWS`` attested rows, `plans.prefix.
ranged_prefix_sum` computes the identical offsets partition-parallel
(range-repartition + per-partition window + driver-side prefix of
numPartitions partials — bounded by parallelism, not data). Every
downstream column is row-local arithmetic, and the per-sequence
assignment fan-out (`pack_assignments`) explodes at most
``2 + n_tokens/ctx`` rows per document — the write-side fan-out,
perfectly parallel.

Determinism: offsets depend only on (id order, token counts), so a
rebuild of the same corpus yields byte-identical sequence boundaries
— the reproducibility contract training pipelines need for resumable
preprocessing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans.prefix import (WINDOW_MAX_ROWS, ranged_prefix_sum,
                            window_prefix_sum)
from . import text

#: Context window of the sequences being packed.
PACK_CTX = 2048


def shuffle_order(id_col: Column | str, seed: str = "shuffle") -> Column:
    """Deterministic corpus shuffle key: order documents by a salted
    hash of their id instead of the id itself — the reproducible
    'random' training order packing should usually run in (id order
    correlates adjacent documents: same crawl, same source, same
    topic). Row-local, rerun-stable, changes wholesale with `seed`.
    Pass as `pack_offsets(order_col=...)`; the id remains the
    uniqueness tiebreak."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.md5(F.concat(F.lit(f"{seed}:"), c.cast("string")))


def pack_offsets(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text", ctx: int = PACK_CTX,
                 weight: Column | None = None,
                 n_rows: int | None = None,
                 order_col: Column | None = None) -> DataFrame:
    """docs + (n_tokens, token_offset, pack_first_seq, pack_last_seq).

    `weight` overrides the token counter (default: whitespace
    `text.n_tokens` — swap in `bpe_segment_count` or a real tokenizer
    count column when the corpus carries one). `n_rows` is the
    caller's corpus-size attestation (footer/catalog count; an upper
    bound is fine) gating the parallel-prefix-sum switch. `order_col`
    overrides the concatenation order (default: id order; pass
    `shuffle_order(id_col)` for the deterministic shuffled order a
    training run wants) — the id is always appended as the uniqueness
    tiebreak, so any order expression yields total, reproducible
    offsets."""
    if ctx < 1:
        raise ValueError("pack_offsets: ctx must be >= 1")
    w = weight if weight is not None else text.n_tokens(text_col)

    # The running total is computed over a NARROW (id, weight)
    # projection and joined back on the unique id, so the wide corpus
    # rows (text/media payloads, feature columns) never pass through
    # the prefix-sum exchange — and the rest of the caller's plan
    # keeps its scan-side parallelism instead of being dragged into
    # the window stage. The join broadcasts when the skinny offsets
    # relation is attested small (`plans.attest.BROADCAST_MAX_ROWS`),
    # else it equi-shuffles on the id — at most one wide exchange, same
    # as range-partitioning the full rows, never worse.
    narrow = docs.select(F.col(id_col), w.cast("long").alias("n_tokens"),
                         *([order_col.alias("_ord")]
                           if order_col is not None else []))
    order_by: list = (["_ord", id_col] if order_col is not None
                      else [id_col])
    if n_rows is not None and n_rows > WINDOW_MAX_ROWS:
        offs, _ = ranged_prefix_sum(narrow, F.col("n_tokens"),
                                    "token_offset", order_by)
    else:
        offs = window_prefix_sum(narrow, F.col("n_tokens"),
                                 "token_offset", order_by)
    if order_col is not None:
        offs = offs.drop("_ord")
    offs = (offs
            .withColumn("pack_first_seq",
                        F.floor(F.col("token_offset") / ctx))
            .withColumn("pack_last_seq",
                        F.floor((F.col("token_offset")
                                 + F.greatest(F.col("n_tokens") - 1,
                                              F.lit(0))) / ctx)))
    from ..plans.attest import maybe_broadcast
    return docs.join(maybe_broadcast(offs, n_rows), id_col)


def pack_assignments(offsets: DataFrame, id_col: str = "doc_id",
                     ctx: int = PACK_CTX) -> DataFrame:
    """Explode `pack_offsets` output into the (seq_id, doc, span)
    assignment relation a sequence-building writer consumes:
    one row per (sequence, document) with the document-relative token
    span [doc_start, doc_end) that lands in that sequence.

    Row-local arithmetic + one explode — no shuffle; downstream
    writers `groupBy(seq_id)` to materialize training rows (that
    single shuffle is the unavoidable gather of each sequence's
    pieces, keyed uniformly by seq_id)."""
    seq = F.explode(F.sequence("pack_first_seq", "pack_last_seq"))
    return (offsets
            .select(F.col(id_col), "n_tokens", "token_offset",
                    seq.alias("seq_id"))
            .withColumn("doc_start",
                        F.greatest(F.col("seq_id") * ctx
                                   - F.col("token_offset"), F.lit(0)))
            .withColumn("doc_end",
                        F.least((F.col("seq_id") + 1) * ctx
                                - F.col("token_offset"),
                                F.col("n_tokens")))
            .drop("n_tokens", "token_offset"))


def build_sequences(enc: DataFrame, id_col: str = "doc_id",
                    ids_col: str = "token_ids",
                    ctx: int = PACK_CTX,
                    n_rows: int | None = None,
                    order_col: Column | None = None) -> DataFrame:
    """(seq_id, token_ids, n_tokens): the materialized training rows —
    the capstone of the tokenize→pack pipeline. Input is the
    `segment.encode_ids` shape (one row per document with its id array);
    output is one row per fixed-length sequence, each carrying exactly
    `ctx` ids (the final sequence may be shorter).

    Plan: `pack_offsets` (weight = per-doc id count) → `pack_assignments`
    (row-local span explode) → slice each document's contribution
    row-locally → ONE groupBy(seq_id) whose per-group state is the
    pieces of a single sequence — bounded by `ctx` ids, never by
    document count or corpus size. Ordered reassembly sorts the
    (offset, piece) structs inside the group: documents never
    interleave, so offset order IS concatenation order."""
    offs = pack_offsets(enc, id_col=id_col, text_col=ids_col, ctx=ctx,
                        weight=F.size(ids_col), n_rows=n_rows,
                        order_col=order_col)
    asg = (pack_assignments(offs.select(
        id_col, "n_tokens", "token_offset",
        "pack_first_seq", "pack_last_seq"), id_col, ctx)
        .join(offs.select(id_col, ids_col, "token_offset"), id_col))
    piece = F.slice(F.col(ids_col), F.col("doc_start") + 1,
                    F.col("doc_end") - F.col("doc_start"))
    pieces = asg.select(
        "seq_id",
        F.struct((F.col("token_offset") + F.col("doc_start"))
                 .alias("off"), piece.alias("ids")).alias("p"))
    return (pieces.groupBy("seq_id")
            .agg(F.flatten(F.transform(
                F.array_sort(F.collect_list("p")),
                lambda s: s["ids"])).alias("token_ids"))
            .withColumn("n_tokens", F.size("token_ids")))
