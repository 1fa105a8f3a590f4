"""The one encode path of the three tokenizer families.

A family (`operators.unigram`, `operators.wordpiece`) owns only its
per-word segmentation: a `Segmenter` carrying its sorted
(piece, value) map items, a fold ``(word, map) -> array<string>``
(NULL = the word cannot be segmented) and the memo identity of that
fold (everything it depends on except the map). Everything from there
to ``(doc, pieces | token_ids | detok)`` lives here, once:

- **Shipping the map** (VERDICT r13 #3): up to `MAP_LIT_MAX` items the
  map is a plan literal (no join, fastest plan); above it, a ONE-ROW
  attested-broadcast map relation crossJoined onto the input and read
  as the `MAP_COL` column, so a 32k–1M-piece vocabulary never
  compiles 10⁵–10⁶ literals into an expression.
- **The expression memo**: the per-word fold costs ~100s of py4j
  round-trips to construct and is identical for every consumer of the
  same model, so it memoizes per JVM (`_cache.cached_column`) under a
  digest of the items (literal shape) or under the fold identity
  alone (relation shape — the map rides as data).
- **Row-local encode** (`segment_text` Column / `segment_docs`
  DataFrame): join-free, right for subsamples and streams. A document
  is NULL if any of its words is.
- **Word-grain encode** (`word_segmentations` + `encode_pieces`): the
  scale path — segment the DISTINCT words once, join back by word
  (UNhinted: AQE broadcasts a small vocabulary, shuffle-joins a
  web-scale one) and reassemble per document in (doc, position) order.
- **Ids** (`encode_ids` / `decode_ids`): surfaces ↔ vocabulary ids
  through a one-row broadcast map, row-local `element_at` inside
  `transform` — no explode, no shuffle, plan size O(1) in vocabulary
  size. A surface the vocabulary lacks encodes as `unk_id`; an id it
  lacks decodes as `unk_token` — fail-visible, never dropped.

BPE segments by its merge list (`bpe.apply_merges`), not a map, and
uses only the id encode/decode here.
"""

from __future__ import annotations

import hashlib
from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans.attest import bounded_broadcast
from .text import tokens

#: Above this many map items a model ships as a one-row broadcast map
#: relation instead of a plan-literal `create_map` (see the module
#: docstring). At the catalog defaults (|alphabet| + 32 pieces) the
#: literal is the right call.
MAP_LIT_MAX = 1000

#: The column the one-row map relation carries above the gate.
MAP_COL = "_segmap"


class Segmenter(NamedTuple):
    """A family's per-word segmentation: `items` are the sorted
    (piece, int value) map entries, `fold(word, map)` the
    array<string> segmentation of one word (NULL = unsegmentable), and
    `memo` the fold's identity apart from the map."""
    items: tuple
    fold: Callable[[Column, Column], Column]
    memo: tuple


def _map_lit(items: tuple) -> Column:
    entries: list[Column] = []
    for p, v in items:
        entries.append(F.lit(p))
        entries.append(F.lit(int(v)).cast("long"))
    return F.create_map(*entries)


def _literal(items: tuple, name: tuple | None,
             expr: Callable[[Column], Column]) -> Column:
    """`expr` over the plan-literal map, memoized under `name` plus a
    digest of the items (so a large model is not a large memo key);
    `name=None` builds it fresh (`shipped`'s `memo_literal=False`)."""
    from ._cache import cached_column

    def build() -> Column:
        return expr(_map_lit(items))
    if name is None:
        return build()
    digest = hashlib.md5(repr(items).encode()).hexdigest()
    return cached_column(name + ("lit", digest), build)


def shipped(df: DataFrame, items: tuple, name: tuple,
            expr: Callable[[Column], Column],
            memo_literal: bool = True) -> tuple[DataFrame, Column]:
    """(df', column): `expr(map)` with the map shipped by the gate —
    `df` unchanged and a plan literal up to `MAP_LIT_MAX` items, else
    `df` crossJoined with the one-row `MAP_COL` relation. `name` is the
    memo identity of `expr` apart from the map; `memo_literal=False`
    skips the memo on the literal shape, for callers whose items
    change on every call (the unigram EM loop), so the memo does not
    grow by one dead entry per call."""
    from ._cache import cached_column
    if len(items) <= MAP_LIT_MAX:
        return df, _literal(items, name if memo_literal else None, expr)
    rel = df.sparkSession.createDataFrame(
        [(p, int(v)) for p, v in items], "piece string, v long")
    one_row = rel.agg(F.map_from_entries(
        F.collect_list(F.struct("piece", "v"))).alias(MAP_COL))
    src = df.crossJoin(bounded_broadcast(
        one_row, bound="one-row piece map (vocabulary-bounded)",
        max_rows=1))
    return src, cached_column(name + ("rel",),
                              lambda: expr(F.col(MAP_COL)))


def _words(c: Column) -> Column:
    return F.filter(tokens(c), lambda t: F.length(t) > 0)


def _text_expr(c: Column, fold: Callable[[Column, Column], Column],
               m: Column) -> Column:
    """array<string>: every whitespace word of `c` segmented by `fold`
    and concatenated; NULL if any word is unsegmentable."""
    per_word = F.transform(_words(c), lambda w: fold(w, m))
    return F.when(F.exists(per_word, lambda s: s.isNull()),
                  F.lit(None).cast("array<string>")
                  ).otherwise(F.flatten(per_word))


def segment_text(text_col: str, seg: Segmenter) -> Column:
    """array<string>: the row-local encode of a whole document. A bare
    Column can only ship the map as a plan literal, so a model above
    `MAP_LIT_MAX` items fails loud here (a 10⁵-literal expression is
    the plan bloat the gate exists to prevent) — use `segment_docs`,
    which ships it as a one-row broadcast relation."""
    if len(seg.items) > MAP_LIT_MAX:
        raise ValueError(
            f"segment_text: {len(seg.items)} pieces exceed the "
            f"plan-literal gate ({MAP_LIT_MAX}) — a Column cannot ship "
            "a large model; use segment_docs (one-row broadcast map "
            "relation) instead")
    return _literal(seg.items, ("segment_text", text_col) + seg.memo,
                    lambda m: _text_expr(F.col(text_col), seg.fold, m))


def segment_docs(docs: DataFrame, seg: Segmenter,
                 text_col: str = "text") -> DataFrame:
    """docs + `pieces`: `segment_text` with the map's shipping shape
    gated on its size — row-local either way, identical results."""
    src, col = shipped(docs, seg.items, ("segment_text", text_col)
                       + seg.memo,
                       lambda m: _text_expr(F.col(text_col), seg.fold, m))
    out = src.withColumn("pieces", col)
    return out if src is docs else out.drop(MAP_COL)


def word_segmentations(docs: DataFrame, seg: Segmenter,
                       text_col: str = "text") -> DataFrame:
    """(word, segs): the segmentation of the corpus's DISTINCT words —
    the derived encode ARTIFACT a pipeline lands beside the model (a
    lookup table); session-cache it (`cached_relation`) so repeat
    encodes pay a word join instead of re-running the fold."""
    distinct = (docs.select(F.explode(_words(F.col(text_col)))
                            .alias("word")).distinct())
    src, col = shipped(distinct, seg.items, ("segment_word",) + seg.memo,
                       lambda m: seg.fold(F.col("word"), m))
    return src.select("word", col.alias("segs"))


def encode_pieces(docs: DataFrame, seg: Segmenter,
                  id_col: str = "doc_id", text_col: str = "text",
                  wseg: DataFrame | None = None) -> DataFrame:
    """(id, pieces, n_pieces): the word-grain encode — join each
    document's words to `wseg` (default: `word_segmentations` of
    `docs`) and reassemble per document in (doc, position) order via a
    map-side-combining aggregate. A caller-supplied `wseg` must COVER
    the docs' words: an uncovered word surfaces like an unsegmentable
    one (the document's pieces go NULL, fail-visible, never a silently
    shorter segmentation). A document with no words keeps [], a NULL
    text keeps NULL — the `segment_text` semantics, pinned equal."""
    pos = docs.select(F.col(id_col),
                      F.posexplode(_words(F.col(text_col)))
                      .alias("_i", "word"))
    if wseg is None:
        wseg = word_segmentations(docs, seg, text_col)
    # a NULL segs array must never reach flatten: flattening a null
    # inner array inside an aggregate's (collapsed) result projection
    # NPEs in Spark 4.1's generated code (verified minimal repro), so
    # nullness is aggregated as its own flag and the collected arrays
    # are coalesced non-null
    per_doc = (pos.join(wseg, "word", "left")
               .groupBy(id_col)
               .agg(F.collect_list(F.struct(
                       F.col("_i").alias("i"),
                       F.coalesce(F.col("segs"),
                                  F.array().cast("array<string>"))
                       .alias("s"))).alias("_lst"),
                    F.max(F.col("segs").isNull()).alias("_bad"),
                    F.count("*").alias("_nw"))
               .select(id_col, "_nw",
                       F.when(F.col("_bad"),
                              F.lit(None).cast("array<string>"))
                       .otherwise(F.flatten(F.transform(
                           F.array_sort("_lst"), lambda x: x["s"])))
                       .alias("pieces")))
    # _nw tells a no-words doc (empty pieces) from one whose word is
    # unsegmentable or uncovered (NULL pieces); a NULL text is NULL
    # pieces too — posexplode alone would drop it into the no-words
    # bucket
    base = docs.select(F.col(id_col),
                       F.col(text_col).isNull().alias("_tnull"))
    return (base.join(per_doc, id_col, "left")
            .select(id_col,
                    F.when(F.col("_tnull"),
                           F.lit(None).cast("array<string>"))
                    .when(F.col("_nw").isNull(),
                          F.array().cast("array<string>"))
                    .otherwise(F.col("pieces")).alias("pieces"))
            .withColumn("n_pieces", F.size("pieces")))


def _vocab_map(vocab: DataFrame, key: str, value: str,
               alias: str) -> DataFrame:
    """One-row broadcast (alias: map<key, value>) over a (token,
    token_id) vocabulary. The lowest value wins per key, so a
    caller-supplied vocabulary with duplicate keys cannot kill the job
    with DUPLICATED_MAP_KEY (the group-by is vocabulary-bounded)."""
    rel = (vocab.groupBy(key).agg(F.min(value).alias(value))
           .agg(F.map_from_entries(F.collect_list(F.struct(key, value)))
                .alias(alias)))
    return bounded_broadcast(rel, bound="one-row vocabulary map "
                             "(vocabulary-bounded)", max_rows=1)


def encode_ids(docs: DataFrame, pieces: Column | str, vocab: DataFrame,
               id_col: str = "doc_id", unk_id: int = -1) -> DataFrame:
    """(id, token_ids, n_ids): the `pieces` array column of `docs`
    (any family's segmentation — `bpe.apply_merges`, `segment_text`,
    the `segment_docs` column) mapped to `vocab`'s ids. A surface the
    vocabulary lacks maps to `unk_id`; NULL pieces keep NULL ids.
    Compose with `operators.packing` (weight = n_ids) for a packed,
    pretokenized corpus."""
    p = F.col(pieces) if isinstance(pieces, str) else pieces
    ids = F.transform(
        p, lambda s: F.coalesce(F.element_at(F.col("_vmap"), s),
                                F.lit(unk_id)))
    return (docs.crossJoin(_vocab_map(vocab, "token", "token_id", "_vmap"))
            .select(F.col(id_col), ids.alias("token_ids"))
            .withColumn("n_ids", F.size("token_ids")))


def decode_ids(encoded: DataFrame, vocab: DataFrame,
               id_col: str = "doc_id", ids_col: str = "token_ids",
               unk_token: str = "�",
               strip_mark: str | None = None) -> DataFrame:
    """(id, detok): ids back to surface text, the inverse of
    `encode_ids`. Because every family's pieces partition each word's
    characters, decode(encode(text)) == text with spaces removed — a
    round-trip a driver can attest without replaying the segmenter.
    An id the vocabulary lacks renders as `unk_token`, fail-visible;
    NULL ids stay NULL. `strip_mark` is removed from the front of each
    surface (WordPiece's ``##`` continuation mark)."""
    def surface(i: Column) -> Column:
        t = F.coalesce(F.element_at(F.col("_imap"), i), F.lit(unk_token))
        if strip_mark:
            t = F.regexp_replace(t, rf"^\Q{strip_mark}\E", "")
        return t
    toks = F.transform(F.col(ids_col), surface)
    return (encoded.crossJoin(_vocab_map(vocab, "token_id", "token",
                                         "_imap"))
            .select(F.col(id_col), F.array_join(toks, "").alias("detok")))
