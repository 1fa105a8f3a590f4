"""WordPiece-style greedy maximal-munch encoder (operators.wordpiece):
engine fold vs an independent Python reference, the DuckDB unrolled
greedy-CTE replay, [UNK] whole-word semantics, ## continuation marks,
the vocab-size shipping gate, and a hypothesis property sweep."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from snowflake_azure_etl_spark.operators import segment as sg
from snowflake_azure_etl_spark.operators import unigram as ug
from snowflake_azure_etl_spark.operators import wordpiece as wp


def pmap(pieces, cont_pieces=None):
    """The membership map as the plan literal the shared path ships."""
    return sg._map_lit(wp.segmenter(pieces, cont_pieces=cont_pieces).items)


def py_greedy(word: str, pieces: set, k: int):
    """Greedy longest-match-first; whole word -> [UNK] on the first
    unmatchable position; continuations marked ##."""
    out, pos = [], 0
    while pos < len(word):
        for l in range(min(k, len(word) - pos), 0, -1):
            piece = word[pos:pos + l]
            if piece in pieces:
                out.append(piece if pos == 0 else "##" + piece)
                pos += l
                break
        else:
            return [wp.WP_UNK]
    return out


PIECES = {"m", "a", "t", "h", "e", "ma", "at", "mat", "th", "the"}


def test_greedy_matches_python_reference(spark):
    words = [("mat",), ("the",), ("theat",), ("mathat",), ("haha",),
             ("zq",), ("mzq",), ("a",), ("tttt",), ("mata",)]
    df = spark.createDataFrame(words, "word string")
    got = {r["word"]: r["segs"] for r in df.select(
        "word", wp.greedy_expr(F.col("word"),
                               pmap(PIECES), 3)
        .alias("segs")).collect()}
    for (w,) in words:
        assert got[w] == py_greedy(w, PIECES, 3), w
    # the signatures of the algorithm, pinned explicitly:
    assert got["mat"] == ["mat"]                      # longest first
    assert got["mathat"] == ["mat", "##h", "##at"]    # ## marks
    assert got["zq"] == ["[UNK]"]                     # whole-word unk
    assert got["mzq"] == ["[UNK]"]                    # fail mid-word
    # greedy is NOT optimal — that is the family's defining trade
    # ("theat": greedy takes 'the' then dies on 'a t'? no — 'a','t'
    # are pieces; but 'tttt' shows pure singles)
    assert got["tttt"] == ["t", "##t", "##t", "##t"]


def test_oracle_greedy_cte_matches_engine(spark):
    duckdb = pytest.importorskip("duckdb")
    import pandas as pd
    words = [("mat",), ("theat",), ("mathat",), ("zq",), ("mzq",),
             ("tttt",), ("mata",), ("hhhhhhhh",)]
    df = spark.createDataFrame(words, "word string")
    eng = {r["word"]: r["segs"] for r in df.select(
        "word", wp.greedy_expr(F.col("word"),
                               pmap(PIECES), 3)
        .alias("segs")).collect()}
    con = duckdb.connect()
    con.register("wpw", pd.DataFrame([w for (w,) in words],
                                     columns=["word"]))
    con.register("pcs", pd.DataFrame(sorted(PIECES),
                                     columns=["piece"]))
    sql = ("WITH " + wp.greedy_cte("gw", "pcs", "wpw", 3, 8)
           + " SELECT word, segs FROM gw_f")
    got = {w: s for w, s in con.execute(sql).fetchall()}
    assert got == eng
    # fail-loud contract past the unroll
    con.register("wlong", pd.DataFrame(["m" * 9], columns=["word"]))
    with pytest.raises(Exception, match="max_word_len"):
        con.execute("WITH " + wp.greedy_cte("gl", "pcs", "wlong", 3, 8)
                    + " SELECT * FROM gl_f").fetchall()


def test_segment_text_wp_document_grain(spark):
    docs = spark.createDataFrame(
        [(1, "the mat"), (2, "zq mat"), (3, ""), (4, None)],
        "doc_id long, text string")
    got = {r["doc_id"]: r["p"] for r in docs.select(
        "doc_id",
        sg.segment_text("text", wp.segmenter(PIECES, 3)).alias("p")).collect()}
    assert got[1] == ["the", "mat"]
    assert got[2] == ["[UNK]", "mat"]     # unk is per-WORD, not per-doc
    assert got[3] == []                   # no words: empty
    assert got[4] is None                 # NULL text stays NULL


def test_wp_shipping_gate(spark, monkeypatch):
    """The piece set ships gated on vocabulary size like the unigram
    cost model: literal under the gate, one-row broadcast map relation
    above — identical results, no piece literal in the big plan, and
    the bare-Column form fails loud above the gate."""
    import itertools
    import string
    big = {c for c in string.ascii_lowercase}
    big |= {"".join(t) for t in
            itertools.product(string.ascii_lowercase, repeat=2)}
    big |= {"".join(t) for t in
            itertools.islice(itertools.product("abcdefghij", repeat=3),
                             400)}
    big.add("zqj")
    assert len(big) > sg.MAP_LIT_MAX
    docs = spark.createDataFrame(
        [(1, "the cat"), (2, "abba zq")], "doc_id long, text string")
    b = sg.segment_docs(docs, wp.segmenter(big, 3))
    with monkeypatch.context() as m:
        m.setattr(sg, "MAP_LIT_MAX", 10**9)
        l = sg.segment_docs(docs, wp.segmenter(big, 3))
    assert ({r["doc_id"]: r["pieces"] for r in b.collect()}
            == {r["doc_id"]: r["pieces"] for r in l.collect()})
    plan_b = b._jdf.queryExecution().analyzed().toString()
    assert "aaa" not in plan_b and "zqj" not in plan_b
    assert sg.MAP_COL in plan_b
    with pytest.raises(ValueError, match="segment_docs"):
        sg.segment_text("text", wp.segmenter(big, 3))


def test_wp_over_trained_unigram_vocab(spark):
    """The deployed composition: greedy WordPiece encode against the
    engine's own TRAINED piece vocabulary (unigram model) — total
    coverage over the training corpus (every corpus word segments
    without [UNK]: single chars are always in the trained set), and
    held-out out-of-alphabet words surface as [UNK]."""
    corpus = [(1, "the cat sat on the mat"),
              (2, "a dog sat on a log"), (3, "mat mat mat")]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    model = ug.train_unigram(docs)
    pieces = [p for p, _, _ in model.pieces]
    got = {r["doc_id"]: r["p"] for r in docs.select(
        "doc_id",
        sg.segment_text("text", wp.segmenter(pieces, model.k)).alias("p"))
        .collect()}
    for d, t in corpus:
        assert wp.WP_UNK not in got[d], d
        # round-trip: strip ## marks, concat == text sans spaces
        flat = "".join(s.removeprefix(wp.WP_CONT) for s in got[d])
        assert flat == t.replace(" ", ""), d
    held = spark.createDataFrame([(9, "the émat")],
                                 "doc_id long, text string")
    hp = held.select(
        sg.segment_text("text", wp.segmenter(pieces, model.k)).alias("p")
    ).collect()[0]["p"]
    assert wp.WP_UNK in hp                # the OOA word went unk whole
    assert hp[0] == "the"                 # per-word isolation holds


def test_encode_wordpiece_matches_row_local(spark):
    """The word-grain join-back encoder (the scale path + the q58 leg
    shape) == the row-local expression, doc for doc — including [UNK]
    words, no-words docs ([]), and NULL text (NULL); and a
    caller-supplied wseg artifact built over a SUPERSET corpus
    reproduces the same result (the session-cache reuse contract)."""
    docs = spark.createDataFrame(
        [(1, "the mat"), (2, "zq mat"), (3, ""), (4, None),
         (5, "mathat haha")],
        "doc_id long, text string")
    row_local = {r["doc_id"]: r["p"] for r in docs.select(
        "doc_id",
        sg.segment_text("text", wp.segmenter(PIECES, 3)).alias("p")).collect()}
    joined = {r["doc_id"]: r["pieces"] for r in
              sg.encode_pieces(docs, wp.segmenter(PIECES, 3)).collect()}
    assert joined == row_local
    wseg = sg.word_segmentations(docs, wp.segmenter(PIECES, 3))
    reused = {r["doc_id"]: r["pieces"] for r in
              sg.encode_pieces(docs, wp.segmenter(PIECES, 3),
                                  wseg=wseg).collect()}
    assert reused == row_local
    enc = {r["doc_id"]: (r["pieces"], r["n_pieces"]) for r in
           sg.encode_pieces(docs, wp.segmenter(PIECES, 3)).collect()}
    assert enc[3] == ([], 0)              # no-words doc: empty
    assert enc[4][0] is None              # NULL text: NULL pieces
    # a caller-supplied wseg that does NOT cover the docs' words
    # surfaces fail-visibly (NULL pieces), never a silently shorter
    # segmentation — the encode_unigram coverage contract
    partial = wseg.filter(F.col("word") != "mat")
    bad = {r["doc_id"]: r["pieces"] for r in
           sg.encode_pieces(docs, wp.segmenter(PIECES, 3),
                               wseg=partial).collect()}
    assert bad[1] is None and bad[2] is None    # 'mat' uncovered
    assert bad[5] == row_local[5]               # covered doc intact
    assert bad[3] == [] and bad[4] is None      # contracts unchanged


def test_wp_ids_roundtrip(spark):
    """The id-space family contract, WordPiece edition: deterministic
    vocab ([UNK]=0, word-initial block, ##-continuation block, each
    token-ordered), TOTAL encode-to-ids (unknownness is a token, not
    a missing key), and decode(encode(text)) == space-stripped text
    on fully covered corpora — with the [UNK]-lossy exception pinned
    explicitly."""
    docs = spark.createDataFrame(
        [(1, "the mat"), (2, "mathat"), (3, "zq mat"), (4, None)],
        "doc_id long, text string")
    vocab = wp.wordpiece_vocab(spark, PIECES)
    vm = {r["token"]: r["token_id"] for r in vocab.collect()}
    assert vm[wp.WP_UNK] == 0
    assert len(vm) == 2 * len(PIECES) + 1
    toks = sorted(PIECES)
    assert all(vm[p] == i + 1 for i, p in enumerate(toks))
    assert all(vm["##" + p] == len(toks) + 1 + i
               for i, p in enumerate(toks))
    enc = sg.encode_ids(sg.segment_docs(docs, wp.segmenter(PIECES, 3)),
                        "pieces", vocab)
    ids = {r["doc_id"]: r["token_ids"] for r in enc.collect()}
    assert ids[4] is None                     # NULL text -> NULL ids
    assert all(i is not None for i in ids[1])  # total: no missing keys
    assert vm[wp.WP_UNK] in ids[3]             # unk IS an id
    dec = {r["doc_id"]: r["detok"]
           for r in sg.decode_ids(enc, vocab,
                                  strip_mark=wp.WP_CONT).collect()}
    assert dec[1] == "themat"                 # covered: exact
    assert dec[2] == "mathat"                 # ## marks stripped
    assert dec[3] == "[UNK]mat"               # the lossy-unk contract
    assert dec[4] is None


def test_decode_renders_unknown_ids_visibly(spark):
    """The shared decode is fail-visible for every family: an id the
    vocabulary lacks renders as the unk glyph (WordPiece's decode used
    to drop it silently, so [1, 999, 2] read back as 'abc')."""
    vocab = wp.wordpiece_vocab(spark, {"ab", "c"})
    enc = spark.createDataFrame([(1, [1, 999, 2]), (2, None)],
                                "doc_id long, token_ids array<int>")
    got = {r["doc_id"]: r["detok"] for r in sg.decode_ids(
        enc, vocab, strip_mark=wp.WP_CONT).collect()}
    assert got == {1: "ab\N{REPLACEMENT CHARACTER}c", 2: None}
    assert sg.decode_ids(enc, vocab, unk_token=wp.WP_UNK).collect()[0][
        "detok"] == "ab[UNK]c"


def test_encode_maps_missing_surface_to_unk_id(spark):
    """Against a caller-supplied vocabulary that lacks a surface the
    segmenter emits, the shared encode maps it to `unk_id` instead of
    a NULL id (the WordPiece path used to leave a NULL in the array)."""
    docs = spark.createDataFrame([(1, "ab c abc")],
                                 "doc_id long, text string")
    vocab = wp.wordpiece_vocab(spark, {"ab", "c"}).filter(
        F.col("token") != "##c")
    seg = sg.segment_docs(docs, wp.segmenter({"ab", "c"}, 3))
    row = sg.encode_ids(seg, "pieces", vocab, unk_id=0).collect()[0]
    assert row["token_ids"] == [1, 2, 1, 0]    # ab, c, ab ##c
    assert row["n_ids"] == 4
    assert sg.encode_ids(seg, "pieces", vocab).collect()[0][
        "token_ids"][-1] == -1


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_WORDS = ["ab", "abab", "ba", "aab", "b", "abba", "cab", "bc"]
_doc_strategy = st.lists(st.sampled_from(_WORDS), min_size=0,
                         max_size=5).map(" ".join)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(texts=st.lists(_doc_strategy, min_size=1, max_size=3),
       vocab=st.sets(st.sampled_from(
           ["a", "b", "c", "ab", "ba", "bb", "aba", "bab"]),
           min_size=1, max_size=7))
def test_wp_property_sweep(spark, texts, vocab):
    """Engine == Python reference over random corpora and random
    piece sets (incl. sets missing single chars, so [UNK] paths are
    exercised)."""
    rows = list(enumerate(texts))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["p"] for r in docs.select(
        "doc_id",
        sg.segment_text("text", wp.segmenter(vocab, 3)).alias("p")).collect()}
    for d, t in rows:
        want = [p for w in t.split(" ") if w
                for p in py_greedy(w, vocab, 3)]
        assert got[d] == want, (d, t, sorted(vocab))
    # and the word-grain join-back encoder agrees with the row-local
    # expression on the same random corpus (empty docs land as [])
    joined = {r["doc_id"]: r["pieces"] for r in
              sg.encode_pieces(docs, wp.segmenter(vocab, 3)).collect()}
    assert joined == got


# ---------------------------------------------------------------------------
# Two-set (initial vs ##-continuation) vocabularies — VERDICT r14 #3:
# released BERT vocab.txt files carry DIFFERENT sets per position.
# ---------------------------------------------------------------------------

def py_greedy2(word: str, init: set, cont: set, k: int):
    """The released-BERT rule: position 0 matches against the
    word-initial set, later positions against the continuation set."""
    out, pos = [], 0
    while pos < len(word):
        ps = init if pos == 0 else cont
        for l in range(min(k, len(word) - pos), 0, -1):
            piece = word[pos:pos + l]
            if piece in ps:
                out.append(piece if pos == 0 else "##" + piece)
                pos += l
                break
        else:
            return [wp.WP_UNK]
    return out


INIT2 = {"un", "affable", "aff", "a"}
CONT2 = {"able", "ff", "a"}


def test_two_set_membership_changes_the_encode(spark, monkeypatch):
    """Planted vocab where initial != continuation membership changes
    the result — pinned against the hand-computed BERT rule. The
    single-set union encodes 'unaffable' differently ('##aff' is
    union-legal but NOT in the released continuation set), which is
    exactly the HuggingFace divergence the two-set form closes."""
    docs = spark.createDataFrame(
        [(1, "unaffable"), (2, "able"), (3, "affable a")],
        "doc_id long, text string")
    got = {r["doc_id"]: r["p"] for r in docs.select(
        "doc_id",
        sg.segment_text("text", wp.segmenter(INIT2, 7, CONT2)).alias("p"))
        .collect()}
    # hand-computed under the BERT rule:
    assert got[1] == ["un", "##a", "##ff", "##able"]
    # 'able' is continuation-only: word-initially it dies mid-word
    assert got[2] == ["[UNK]"]
    assert got[3] == ["affable", "a"]
    for d, t in [(1, "unaffable"), (2, "able"), (3, "affable a")]:
        want = [p for w in t.split() for p in py_greedy2(w, INIT2,
                                                         CONT2, 7)]
        assert got[d] == want
    # and the union single-set form genuinely differs on both words
    uni = {r["doc_id"]: r["p"] for r in docs.select(
        "doc_id", sg.segment_text("text", wp.segmenter(INIT2 | CONT2, 7))
        .alias("p")).collect()}
    assert uni[1] == ["un", "##affable"] != got[1]
    assert uni[2] == ["able"] != got[2]
    # the word-grain join-back encoder carries the same semantics
    joined = {r["doc_id"]: r["pieces"] for r in
              sg.encode_pieces(docs, wp.segmenter(INIT2, 7, CONT2)).collect()}
    assert joined == got
    # and the large-vocab one-row-map relation shape is identical
    monkeypatch.setattr(sg, "MAP_LIT_MAX", 2)
    rel = {r["doc_id"]: r["pieces"] for r in
           sg.segment_docs(docs, wp.segmenter(INIT2, 7, CONT2)).collect()}
    assert rel == got


def test_two_set_duckdb_parity(spark):
    """The oracle CTE replays positional membership through the flags
    column (1 = initial, 2 = continuation, 3 = both)."""
    duckdb = pytest.importorskip("duckdb")
    import pandas as pd
    words = [("unaffable",), ("able",), ("affable",), ("aa",),
             ("ffa",), ("zq",)]
    df = spark.createDataFrame(words, "word string")
    eng = {r["word"]: r["segs"] for r in df.select(
        "word", wp.greedy_expr(F.col("word"),
                               pmap(INIT2, CONT2), 7)
        .alias("segs")).collect()}
    con = duckdb.connect()
    con.register("wpw", pd.DataFrame([w for (w,) in words],
                                     columns=["word"]))
    con.register("pcs", pd.DataFrame(wp._flag_items(INIT2, CONT2),
                                     columns=["piece", "fl"]))
    sql = ("WITH " + wp.greedy_cte("g2", "pcs", "wpw", 7, 9,
                                   flags_sql="fl")
           + " SELECT word, segs FROM g2_f")
    got = {w: s for w, s in con.execute(sql).fetchall()}
    assert got == eng
    for (w,) in words:
        assert eng[w] == py_greedy2(w, INIT2, CONT2, 7), w


def test_load_bert_vocab_and_two_set_id_space(spark):
    """vocab.txt round-trip: the released shape (bare = initial,
    ##-prefixed = continuation, specials excluded) loads into the two
    sets, encodes under the BERT rule, and the two-set id space keeps
    bare rows ONLY for initial pieces and ## rows ONLY for
    continuation pieces — with decode(encode) exact on covered text."""
    vocab_txt = ["[PAD]", "[UNK]", "[CLS]", "[SEP]", "[MASK]",
                 "un", "affable", "aff", "a", "##able", "##ff", "##a"]
    init, cont = wp.load_bert_vocab(vocab_txt)
    assert init == INIT2 and cont == CONT2
    vocab = wp.wordpiece_vocab(spark, init, cont)
    rows = {r["token"]: r["token_id"] for r in vocab.collect()}
    assert rows[wp.WP_UNK] == 0
    # bare block = initial set only; ## block = continuation set only
    bare = {t for t in rows if not t.startswith(wp.WP_CONT)
            and t != wp.WP_UNK}
    marked = {t[len(wp.WP_CONT):] for t in rows
              if t.startswith(wp.WP_CONT)}
    assert bare == INIT2 and marked == CONT2
    assert len(rows) == len(INIT2) + len(CONT2) + 1   # injective
    docs = spark.createDataFrame(
        [(1, "unaffable affable"), (2, "able")],
        "doc_id long, text string")
    ids = {r["doc_id"]: r["token_ids"] for r in
           sg.encode_ids(sg.segment_docs(
               docs, wp.segmenter(init, cont_pieces=cont)),
               "pieces", vocab).collect()}
    assert None not in {i for v in ids.values() for i in v}  # total
    deco = {r["doc_id"]: r["detok"] for r in sg.decode_ids(
        spark.createDataFrame([(k, v) for k, v in ids.items()],
                              "doc_id long, token_ids array<int>"),
        vocab, strip_mark=wp.WP_CONT).collect()}
    assert deco[1] == "unaffableaffable"       # covered: exact
    assert deco[2] == wp.WP_UNK                # lossy-unk contract


def test_raw_hash_prefixed_piece_rejected_everywhere(spark):
    """ADVICE r14 #3: a trained piece literally starting with '##'
    would collide with the continuation surface of its suffix piece
    (duplicate vocab tokens, broken round-trip) — both entry points
    fail loud instead: the segmenter every shared encode takes, and the
    id space."""
    bad = {"ma", "##t", "a"}
    with pytest.raises(ValueError, match="##"):
        wp.segmenter(bad, 3)
    with pytest.raises(ValueError, match="##"):
        wp.segmenter({"ok"}, cont_pieces=bad)
    with pytest.raises(ValueError, match="##"):
        wp.wordpiece_vocab(spark, {"ok"}, bad)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(texts=st.lists(_doc_strategy, min_size=1, max_size=3),
       init=st.sets(st.sampled_from(
           ["a", "b", "c", "ab", "ba", "bb", "aba", "bab"]),
           min_size=1, max_size=6),
       cont=st.sets(st.sampled_from(
           ["a", "b", "c", "ab", "ba", "bb", "aba", "bab"]),
           min_size=1, max_size=6))
@pytest.mark.slow
def test_wp_two_set_property_sweep(spark, texts, init, cont):
    """Engine == the two-set Python reference over random corpora and
    random INDEPENDENT initial/continuation sets (membership
    asymmetries in both directions, [UNK] paths included)."""
    rows = list(enumerate(texts))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["p"] for r in docs.select(
        "doc_id",
        sg.segment_text("text", wp.segmenter(init, 3, cont)).alias("p"))
        .collect()}
    for d, t in rows:
        want = [p for w in t.split(" ") if w
                for p in py_greedy2(w, init, cont, 3)]
        assert got[d] == want, (d, t, sorted(init), sorted(cont))
    joined = {r["doc_id"]: r["pieces"] for r in
              sg.encode_pieces(docs, wp.segmenter(init, 3, cont)).collect()}
    assert joined == got


def test_wp_two_set_30k_vocab_broadcast_path(spark):
    """r17 (carried from VERDICT r15 next #3): a released-BERT-scale
    TWO-SET vocabulary (≥30k pieces, init and continuation sets with
    genuine membership asymmetry) through the NATURAL gate — the
    one-row broadcast map relation path, not a forced gate —
    pinned against an independent Python greedy reference. Closes the
    audit hole that the two-set rel path had only run at toy size."""
    import itertools
    import string

    # ~26 singles + 676 pairs + 17576 triples (init) and a disjoint
    # continuation slice — >30k total flag items, BERT-shaped: all
    # singles valid everywhere, most multi-grams init-only, a slice
    # continuation-only.
    singles = set(string.ascii_lowercase)
    pairs = {"".join(t) for t in
             itertools.product(string.ascii_lowercase, repeat=2)}
    triples = ["".join(t) for t in
               itertools.product(string.ascii_lowercase, repeat=3)]
    quads = ["".join(t) for t in itertools.islice(
        itertools.product(string.ascii_lowercase, repeat=4), 14000)]
    init = singles | pairs | set(triples)
    cont = singles | set(quads)
    assert len(set(wp._flag_items(init, cont))) >= 30000
    assert len(init | cont) > sg.MAP_LIT_MAX  # natural rel gate

    k = 4
    flags = dict(wp._flag_items(init, cont))

    def ref_word(w: str) -> list[str]:
        p, out = 0, []
        while p < len(w):
            need = wp.WP_INITIAL if p == 0 else wp.WP_CONTINUATION
            ln = None
            for l in range(k, 0, -1):
                if p + l <= len(w) and flags.get(w[p:p + l], 0) & need:
                    ln = l
                    break
            if ln is None:
                return [wp.WP_UNK]
            out.append(w[p:p + ln] if p == 0
                       else wp.WP_CONT + w[p:p + ln])
            p += ln
        return out

    words = ["unaffable", "abc", "zzzz", "a", "qxv", "abcabcabc",
             "thequickbrown", "aaa", string.ascii_lowercase]
    docs = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], "doc_id long, text string")
    seg = sg.segment_docs(docs, wp.segmenter(init, k, cont))
    # the natural shipping shape is the one-row broadcast map relation
    plan = seg._jdf.queryExecution().analyzed().toString()
    assert sg.MAP_COL in plan
    got = {r["doc_id"]: r["pieces"] for r in seg.collect()}
    want = {i: ref_word(w) for i, w in enumerate(words)}
    assert got == want
    # membership asymmetry is live at this scale: some triple is
    # continuation-only and segments differently at position 1
    probe = quads[0]
    assert not flags[probe] & wp.WP_INITIAL
