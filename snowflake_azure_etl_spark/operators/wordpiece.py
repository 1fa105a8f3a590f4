"""WordPiece-style greedy maximal-munch encoder — the third classic
tokenizer family beside BPE (`operators.bpe`) and the unigram LM
(`operators.unigram`), completing the set a training-data pipeline
meets in the wild (GPT-family BPE, T5/LLaMA unigram, BERT WordPiece).

This is the ENCODER (Schuster & Nakajima 2012; the `##`-continuation
greedy longest-match-first algorithm BERT ships for inference): at
each position take the LONGEST vocabulary piece starting there —
continuation pieces (position > 1) are surfaced with the `##` prefix
— and a word with ANY unmatchable position becomes the single
``[UNK]`` piece, WordPiece's whole-word unk contract (a deliberate
contrast with unigram's fail-visible NULL document and its
char-fallback mode: three unk disciplines, each pinned).

Membership is POSITIONAL (r15, VERDICT r14 next #2): released BERT
vocabularies carry DIFFERENT word-initial and ``##``-continuation
sets, so every entry point accepts an optional `cont_pieces` set —
when given, `pieces` matches only at position 1 and `cont_pieces`
only past it (the vocab.txt shape; load one with `load_bert_vocab`).
When omitted, one position-independent set serves both (the trained
BPE/unigram vocabularies this engine produces are
position-independent — the default family form). Internally both
forms ship as one piece → flags map (1 = initial, 2 = continuation,
3 = both). The ``##`` mark is surface form; a RAW piece that itself
starts with ``##`` is rejected loud in every entry point (ADVICE
r14: it would collide with the continuation surface of its suffix
piece, breaking id-space injectivity and the decode round-trip).

Training stays with the trained families (`bpe.train_bpe_merges`,
`unigram.train_unigram`): WordPiece's likelihood-ratio merge argmax
(count(ab)/(count(a)·count(b))) has no exact-integer total-order key
under int64 at corpus scale — the cross-multiplied comparison needs
~T⁴ scaling, past the fixed-point discipline every trainer here keeps
— so shipping a greedy ENCODER over the engine's trained piece sets
is the honest scope (and matches practice: BERT-style greedy encode
against a given vocab is the deployed component).

Scale: the encode is ONE row-local `F.aggregate` fold per word (k
membership probes per consumed position, all JVM-side, no UDF, no
shuffle). `segmenter` hands it to the shared `operators.segment`
path, which ships the piece set gated on vocabulary size like every
family's model (plan-literal map up to `segment.MAP_LIT_MAX` items,
one-row attested-broadcast map relation above) and owns the
row-local, word-grain and id encodes. The DuckDB mirror
(`greedy_cte`) unrolls the greedy walk as per-position CTEs,
the `_viterbi_cte` discipline (no recursive CTEs — see
operators.unigram for why), failing loud past the unroll.

Reference parity: the reference repo has no tokenizer; this extends
the LLM-pipeline surface (SURVEY §2 north-star extensions).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .segment import Segmenter
from .unigram import UNIGRAM_MAX_PIECE_LEN

#: WordPiece's whole-word unknown piece (the BERT surface form).
WP_UNK = "[UNK]"

#: Continuation-piece mark for matches past a word's first position.
WP_CONT = "##"


#: Positional-membership flag bits (map value): a piece may match at
#: a word's first position, past it, or both.
WP_INITIAL = 1
WP_CONTINUATION = 2


def _flag_items(pieces: "list[str] | set[str]",
                cont_pieces: "list[str] | set[str] | None" = None
                ) -> "list[tuple[str, int]]":
    """Sorted (piece, flags) items for the membership map. One set →
    every piece carries both flags (position-independent, the trained
    family default); two sets → `pieces` is word-initial-only unless
    the piece is also in `cont_pieces`. Raw pieces starting with the
    ``##`` mark are rejected LOUD (ADVICE r14: such a piece's surface
    collides with the continuation surface of its suffix piece —
    duplicate vocab tokens, broken decode round-trip)."""
    init = set(pieces)
    cont = init if cont_pieces is None else set(cont_pieces)
    bad = sorted(p for p in (init | cont) if p.startswith(WP_CONT))
    if bad:
        raise ValueError(
            f"wordpiece: raw piece(s) starting with the '{WP_CONT}' "
            f"continuation mark: {bad[:3]} — the mark is SURFACE form "
            "(pass continuation pieces bare via cont_pieces / "
            "load_bert_vocab); a literal '##'-prefixed piece collides "
            "with the continuation surface of its suffix piece")
    flags: dict[str, int] = {}
    for p in init:
        flags[p] = WP_INITIAL
    for p in cont:
        flags[p] = flags.get(p, 0) | WP_CONTINUATION
    return sorted(flags.items())


def greedy_expr(word: Column, pieces_map: Column,
                k: int = UNIGRAM_MAX_PIECE_LEN,
                unk: str = WP_UNK) -> Column:
    """array<string>: the greedy maximal-munch segmentation of `word`
    under the membership map (piece → positional flags: 1 = valid
    word-initial, 2 = valid continuation, 3 = both — `_flag_items`) —
    longest piece first at every consumed position, continuations
    marked ``##``, whole word → ``[unk]`` on the first unmatchable
    position. One `F.aggregate` fold over positions: the state
    (next-position, segs, failed) only advances at iterations equal
    to its own position pointer, so each consumed position is visited
    exactly once. All JVM-side."""

    def step(st, i):
        p = st["p"]
        # positional membership: position 1 needs the initial bit,
        # later positions the continuation bit (two-set vocab support,
        # r15; a single-set map carries both bits on every piece)
        need = F.when(p == 1, F.lit(WP_INITIAL)) \
                .otherwise(F.lit(WP_CONTINUATION))
        # longest match first: the first satisfied guard wins
        ln = F.lit(None).cast("int")
        for l in range(1, k + 1):           # build k..1 by nesting up
            fl = F.coalesce(
                F.element_at(pieces_map, word.substr(p, F.lit(l))),
                F.lit(0))
            ln = F.when(
                (p + F.lit(l) - 1 <= F.length(word))
                & (fl.bitwiseAND(need) != 0),
                F.lit(l)).otherwise(ln)
        piece = word.substr(p, ln)
        marked = F.when(p == 1, piece).otherwise(
            F.concat(F.lit(WP_CONT), piece))
        adv = F.struct(
            (p + ln).alias("p"),
            F.concat(st["s"], F.array(marked)).alias("s"),
            F.lit(False).alias("b"))
        fail = F.struct(p.alias("p"), st["s"].alias("s"),
                        F.lit(True).alias("b"))
        return (F.when((i != p) | st["b"], st)
                .otherwise(F.when(ln.isNull(), fail).otherwise(adv)))

    init = F.struct(F.lit(1).cast("int").alias("p"),
                    F.array().cast("array<string>").alias("s"),
                    F.lit(False).alias("b"))
    final = F.aggregate(F.sequence(F.lit(1), F.length(word)),
                        init, step)
    return F.when(F.length(word) < 1,
                  F.array().cast("array<string>")) \
            .when(final["b"], F.array(F.lit(unk))) \
            .otherwise(final["s"])


def segmenter(pieces: "list[str] | set[str]",
              k: int = UNIGRAM_MAX_PIECE_LEN,
              cont_pieces: "list[str] | set[str] | None" = None
              ) -> Segmenter:
    """The piece set as a `segment.Segmenter` — the handle every shared
    encode takes. Unmatchable words surface as ``[UNK]``, so coverage
    is total by construction: the word-grain artifact never carries
    NULL segs and a document is NULL only for NULL text.
    `cont_pieces` switches to two-set positional membership (released
    BERT vocab shape — see the module docstring)."""
    return Segmenter(tuple(_flag_items(pieces, cont_pieces)),
                     lambda w, m: greedy_expr(w, m, k),
                     ("wordpiece", k))


def wordpiece_vocab(spark, pieces: "list[str] | set[str]",
                    cont_pieces: "list[str] | set[str] | None" = None
                    ) -> DataFrame:
    """(token, token_id): the BERT vocab surface for a piece set —
    ``[UNK]`` at id 0 (the convention), then every word-initial form,
    then every ``##``-continuation form, each block in deterministic
    token order, so rebuilding from the same piece set yields
    byte-identical ids (the `bpe.vocab_from_merges` /
    `unigram.unigram_vocab` reproducibility contract). Every surface
    `greedy_expr` can emit under the SAME (pieces, cont_pieces) is in
    this vocabulary, so `segment.encode_ids` over it is TOTAL — unk
    lives in the id space, not as a missing key; decode with
    `segment.decode_ids(..., strip_mark=WP_CONT)`, exact on fully
    covered text (an ``[UNK]`` word decodes as ``[UNK]``, WordPiece's
    lossy-unk contract). With two sets, only word-initial
    pieces get bare rows and only continuation pieces get ``##`` rows
    (the released vocab.txt shape); raw ``##``-prefixed pieces are
    rejected loud (`_flag_items`), which keeps token surfaces
    injective."""
    flags = dict(_flag_items(pieces, cont_pieces))
    init = sorted(p for p, fl in flags.items() if fl & WP_INITIAL)
    cont = sorted(p for p, fl in flags.items() if fl & WP_CONTINUATION)
    rows = [(WP_UNK, 0)]
    rows += [(p, i + 1) for i, p in enumerate(init)]
    rows += [(WP_CONT + p, len(init) + 1 + i)
             for i, p in enumerate(cont)]
    return spark.createDataFrame(rows, "token string, token_id int")


#: The canonical BERT special tokens a released vocab.txt carries —
#: control surfaces, not matchable text pieces; `load_bert_vocab`
#: excludes exactly these (``[UNK]`` re-enters the id space via
#: `wordpiece_vocab`'s own row 0).
BERT_SPECIALS = ("[PAD]", "[UNK]", "[CLS]", "[SEP]", "[MASK]")


def load_bert_vocab(tokens: "list[str]"
                    ) -> "tuple[set[str], set[str]]":
    """(initial_pieces, cont_pieces) from a released BERT-style
    vocab.txt token list (one token per line, ``##``-prefixed =
    continuation) — the practitioner entry for running this encoder
    against a deployed vocabulary (VERDICT r14 #3: initial and
    continuation sets genuinely DIFFER in released vocabularies, and
    a single-set encode diverges from HuggingFace's on words whose
    continuation piece is not also word-initial). The five canonical
    specials are excluded (`BERT_SPECIALS`); pass the returned pair
    straight to any entry point's (pieces, cont_pieces)."""
    init: set[str] = set()
    cont: set[str] = set()
    for t in tokens:
        t = t.rstrip("\n")
        if not t or t in BERT_SPECIALS:
            continue
        if t.startswith(WP_CONT):
            if len(t) > len(WP_CONT):
                cont.add(t[len(WP_CONT):])
        else:
            init.add(t)
    return init, cont


# --------------------------------------------------------------------------
# DuckDB oracle fragment — the greedy walk as an unrolled per-position
# CTE chain (the `unigram._viterbi_cte` discipline).
# --------------------------------------------------------------------------

def greedy_cte(tag: str, pieces_cte: str, words_cte: str, k: int,
               max_word_len: int, unk: str = WP_UNK,
               flags_sql: str = "3") -> str:
    """One greedy maximal-munch pass over `{words_cte}(word)` as an
    UNROLLED chain of per-position CTEs; `{pieces_cte}(piece)` is the
    vocabulary and `flags_sql` an expression over its columns giving
    each piece's positional flags (1 = word-initial, 2 =
    continuation; the default literal 3 is the single-set
    position-independent form — the engine's `_flag_items` encoding).
    State per word: (pos, segs, bad); position t only acts when
    t == pos — each consumed position exactly once, the engine fold's
    exact rule. Words longer than the unroll FAIL LOUD in `{tag}_f`
    (the fail-loud `_viterbi_cte` contract)."""
    parts = [f"""
    {tag}_m AS MATERIALIZED (
      SELECT MAP(list(piece ORDER BY piece),
                 list(({flags_sql})::INT ORDER BY piece)) AS m
      FROM {pieces_cte}),
    {tag}0 AS (
      SELECT word, 1 AS pos, []::VARCHAR[] AS segs, FALSE AS bad
      FROM {words_cte})"""]
    for t in range(1, max_word_len + 1):
        ls = list(range(min(k, max_word_len - t + 1), 0, -1))
        need = "(CASE WHEN pos = 1 THEN 1 ELSE 2 END)"
        ln = ("CASE " + " ".join(
            f"WHEN pos + {l} - 1 <= length(word) AND "
            f"(COALESCE(list_extract(map_extract(gm.m, "
            f"substr(word, pos, {l})), 1), 0) & {need}) != 0 THEN {l}"
            for l in ls) + " END")
        parts.append(f"""
    {tag}{t} AS (
      SELECT word,
             CASE WHEN skip THEN pos ELSE pos + COALESCE(ln, 0) END
                 AS pos,
             CASE WHEN skip OR ln IS NULL THEN segs
                  ELSE list_append(segs,
                       CASE WHEN pos = 1 THEN pc
                            ELSE '{WP_CONT}' || pc END) END AS segs,
             CASE WHEN skip THEN bad
                  WHEN ln IS NULL THEN TRUE ELSE bad END AS bad
      FROM (SELECT word, pos, segs, bad, skip, ln,
                   substr(word, pos, ln) AS pc
            FROM (SELECT word, pos, segs, bad,
                         (bad OR {t} != pos
                          OR {t} > length(word)) AS skip,
                         {ln} AS ln
                  FROM {tag}{t - 1} CROSS JOIN {tag}_m gm)))""")
    parts.append(f"""
    {tag}_f AS MATERIALIZED (
      SELECT word,
             CASE WHEN length(word) > {max_word_len}
                  THEN error('wordpiece oracle: word longer than the '
                             || '{max_word_len}-position unrolled '
                             || 'greedy walk — raise max_word_len')
                  WHEN bad THEN ['{unk}']
                  ELSE segs END AS segs
      FROM {tag}{max_word_len})""")
    return ",".join(parts)
