"""Unigram-LM (SentencePiece-style) tokenizer (operators.unigram,
VERDICT r12 #4): engine hard-EM training + Viterbi segmentation vs an
independent pure-Python reference, edge cases (ties, unsegmentable
words, empty docs), the DuckDB oracle-CTE replay, and a hypothesis
property sweep."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from snowflake_azure_etl_spark.operators import segment as sg
from snowflake_azure_etl_spark.operators import unigram as ug

SCALE = 1 << 20
MAX_E = 42

CORPUS = [
    (1, "the cat sat on the mat"),
    (2, "the cat sat on the hat"),
    (3, "a dog sat on a log"),
    (4, "the the the cat cat"),
    (5, "zq xv"),
    (6, ""),                      # no words: empty segmentation
    (7, "mat mat mat"),
]


def py_plog2(n: int) -> int:
    assert n > 0
    e = n.bit_length() - 1
    s = max(e - MAX_E, 0)
    m = n >> s
    p2 = 1 << (e - s)
    return e * SCALE + ((m - p2) * SCALE) // p2


def py_word_freqs(docs):
    wf = {}
    for _, t in docs:
        for w in t.split(" "):
            if w:
                wf[w] = wf.get(w, 0) + 1
    return wf


def py_seed(wf, k, m):
    c = {}
    for w, f in wf.items():
        for l in range(1, k + 1):
            for s in range(len(w) - l + 1):
                p = w[s:s + l]
                c[p] = c.get(p, 0) + f
    out = {p: n for p, n in c.items() if len(p) == 1}
    out.update(dict(sorted(((p, n) for p, n in c.items() if len(p) > 1),
                           key=lambda x: (-x[1], x[0]))[:m]))
    return out


def py_costs(counts, keys):
    t = sum(counts.get(p, 0) for p in keys)
    v = len(keys)
    return {p: py_plog2(t + v) - py_plog2(counts.get(p, 0) + 1)
            for p in keys}


def py_viterbi(word, costs, k):
    """Strictly-lower cost wins; on ties the LONGEST piece wins."""
    best = [(0, [])] + [None] * len(word)
    for p in range(1, len(word) + 1):
        cur = None
        for l in range(min(k, p), 0, -1):          # longest first
            piece = word[p - l:p]
            if piece not in costs or best[p - l] is None:
                continue
            c = best[p - l][0] + costs[piece]
            if cur is None or c < cur[0]:
                cur = (c, best[p - l][1] + [piece])
        best[p] = cur
    return best[len(word)]


def py_train(docs, rounds=ug.UNIGRAM_ROUNDS, k=ug.UNIGRAM_MAX_PIECE_LEN,
             m=ug.UNIGRAM_SEED_MULTI):
    wf = py_word_freqs(docs)
    seeds = py_seed(wf, k, m)
    keys = sorted(seeds)
    costs = py_costs(seeds, keys)
    counts, traj = dict(seeds), []
    for _ in range(rounds):
        counts, obj = {}, 0
        for w, f in wf.items():
            c, segs = py_viterbi(w, costs, k)
            obj += c * f
            for p in segs:
                counts[p] = counts.get(p, 0) + f
        traj.append(obj)
        costs = py_costs(counts, keys)
    pieces = [(p, counts.get(p, 0), costs[p]) for p in keys]
    return pieces, traj, costs, wf


@pytest.fixture(scope="module")
def trained(spark):
    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    return docs, ug.train_unigram(docs)


def encode_ids(docs, model, vocab, fallback=False):
    """text -> unigram pieces -> vocabulary ids through the shared path."""
    return sg.encode_ids(sg.segment_docs(docs, model.segmenter(fallback)),
                         "pieces", vocab)


def test_model_matches_python_reference(trained):
    _, model = trained
    pieces, traj, _, _ = py_train(CORPUS)
    assert model.traj == traj
    assert model.pieces == pieces


def test_segment_text_matches_python(trained):
    docs, model = trained
    _, _, costs, _ = py_train(CORPUS)
    got = {r["doc_id"]: r["segs"] for r in docs.select(
        "doc_id",
        sg.segment_text("text", model.segmenter()).alias("segs")).collect()}
    for doc_id, text in CORPUS:
        want = [p for w in text.split(" ") if w
                for p in py_viterbi(w, costs, model.k)[1]]
        assert got[doc_id] == want, doc_id


def test_encode_unigram_matches_segment_text(trained):
    docs, model = trained
    join_path = {r["doc_id"]: (r["pieces"], r["n_pieces"])
                 for r in sg.encode_pieces(docs, model.segmenter()).collect()}
    row_local = {r["doc_id"]: r["segs"] for r in docs.select(
        "doc_id",
        sg.segment_text("text", model.segmenter()).alias("segs")).collect()}
    assert set(join_path) == {d for d, _ in CORPUS}
    for d in join_path:
        pieces, n = join_path[d]
        assert pieces == row_local[d], d
        assert n == len(pieces), d
    assert join_path[6] == ([], 0)        # no-words doc: empty, not NULL


def test_unsegmentable_word_is_null_not_dropped(spark, trained):
    """A character outside the trained alphabet must surface as NULL
    (fail-visible) on BOTH encode paths, never as a silently shorter
    segmentation."""
    _, model = trained
    held_out = spark.createDataFrame([(10, "the ééé")],
                                     "doc_id long, text string")
    row = held_out.select(
        sg.segment_text("text", model.segmenter()).alias("s")).collect()[0]
    assert row["s"] is None
    enc = sg.encode_pieces(held_out, model.segmenter()).collect()[0]
    assert enc["pieces"] is None


def test_viterbi_tiebreak_prefers_longest_piece(spark):
    """Equal-cost segmentations resolve to the longest piece — the
    pinned tie-break shared by the engine fold, the oracle's
    longest-first least-match CASE, and the Python reference."""
    costs = {"a": 10, "b": 10, "ab": 20, "abc": 30, "c": 10}
    words = spark.createDataFrame([("abc", 1)], "word string, freq long")
    row = ug.viterbi_words(words, costs, k=4).collect()[0]
    # 'abc' (30) == 'ab'+'c' (30) == 'a'+'b'+'c' (30): longest wins
    assert row["segs"] == ["abc"]
    assert row["cost"] == 30
    assert py_viterbi("abc", costs, 4) == (30, ["abc"])


def test_oracle_ctes_match_engine(trained):
    duckdb = pytest.importorskip("duckdb")
    import pandas as pd
    docs, model = trained
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(CORPUS,
                                           columns=["doc_id", "text"]))
    sql = (f"WITH {ug.unigram_oracle_ctes()} "
           "SELECT 'p' AS leg, piece AS a, cnt AS x, cost AS y "
           "FROM uni_pieces "
           "UNION ALL SELECT 'r', CAST(round AS VARCHAR), obj, NULL "
           "FROM uni_rounds "
           "UNION ALL SELECT 'w', word, NULL, NULL FROM uni_wseg "
           "ORDER BY leg, a")
    rows = con.execute(sql).fetchall()
    got_pieces = [(a, int(x), int(y)) for leg, a, x, y in rows
                  if leg == "p"]
    got_traj = [int(x) for leg, _, x, _ in rows if leg == "r"]
    assert got_pieces == model.pieces
    assert got_traj == model.traj
    # and the oracle's final word segmentation equals the engine's
    wseg_sql = (f"WITH {ug.unigram_oracle_ctes()} "
                "SELECT word, segs FROM uni_wseg")
    got_wseg = {w: s for w, s in con.execute(wseg_sql).fetchall()}
    from snowflake_azure_etl_spark.operators.bpe import word_freqs
    eng = {r["word"]: r["segs"] for r in ug.viterbi_words(
        word_freqs(docs), model.costs, model.k).collect()}
    assert got_wseg == eng


def test_null_text_parity_between_encode_paths(spark, trained):
    """A NULL text is NULL pieces on BOTH encode paths (r13 review:
    posexplode silently dropped NULL-text docs into the no-words
    bucket, so the join path returned [] where the row-local path
    returned NULL); the empty text stays [] on both."""
    _, model = trained
    d = spark.createDataFrame([(20, None), (21, "")],
                              "doc_id long, text string")
    st = {r["doc_id"]: r["s"] for r in d.select(
        "doc_id",
        sg.segment_text("text", model.segmenter()).alias("s")).collect()}
    enc = {r["doc_id"]: (r["pieces"], r["n_pieces"])
           for r in sg.encode_pieces(d, model.segmenter()).collect()}
    assert st[20] is None and enc[20][0] is None
    assert st[21] == [] and enc[21] == ([], 0)


def test_sink_derives_k_from_persisted_pieces(spark, tmp_path):
    """The streaming sink's Viterbi window defaults to the LONGEST
    persisted piece, not the module constant (r13 review: a k=6
    model's 5-6 char candidates were silently never considered,
    breaking stream==batch for non-default models)."""
    from snowflake_azure_etl_spark.streaming import ingest
    from snowflake_azure_etl_spark.warehouse import ddl
    docs = spark.createDataFrame(
        [(1, "planet planet planet"), (2, "planet plan")],
        "doc_id long, text string")
    model = ug._train(docs, "text", 2, 6, 16)  # pieces up to 6 chars
    assert any(len(p) > 4 for p, _, _ in model.pieces)
    db = "uni_k_db"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    for name in ("pieces", "seg"):
        spark.sql(f"DROP TABLE IF EXISTS {db}.{name}")
        ddl.drop_orphan_location(spark, f"{db}.{name}")
    ug.pieces_table_df(spark, model).write.saveAsTable(f"{db}.pieces")
    sink = ingest.unigram_ingest_sink(f"{db}.pieces", f"{db}.seg")
    sink(docs, 0)
    got = {r["doc_id"]: r["pieces"]
           for r in spark.table(f"{db}.seg").collect()}
    want = {r["doc_id"]: r["segs"] for r in docs.select(
        "doc_id", sg.segment_text("text", model.segmenter()).alias("segs"))
        .collect()}
    assert got == want
    assert "planet" in got[1]          # the 6-char piece was in play


def test_encode_ids_roundtrip_and_unk(trained):
    """text → pieces → ids → back: decode (the tokenizer-agnostic
    segment.decode_ids) reconstructs the space-stripped text exactly
    (pieces partition each word's characters); a restricted vocab
    surfaces unk ids; an unsegmentable doc keeps NULL ids."""
    docs, model = trained
    vocab = ug.unigram_vocab(docs.sparkSession, model)
    assert vocab.count() == len(model.pieces)
    enc = encode_ids(docs, model, vocab)
    dec = {r["doc_id"]: r["detok"]
           for r in sg.decode_ids(enc, vocab).collect()}
    for d, t in CORPUS:
        assert dec[d] == t.replace(" ", ""), d
    # ids are the (cost asc, piece asc) order — most probable = 0
    ordered = sorted(model.pieces, key=lambda r: (r[2], r[0]))
    vm = {r["token"]: r["token_id"] for r in vocab.collect()}
    assert vm == {p: i for i, (p, _, _) in enumerate(ordered)}
    # restricted vocab (single chars only): the doc's multi-char
    # segments surface as unk
    small = vocab.filter(F.length("token") == 1)
    unk = encode_ids(docs.filter(F.col("doc_id") == 1), model,
                        small).collect()[0]
    assert -1 in unk["token_ids"]
    held = docs.sparkSession.createDataFrame(
        [(99, "ééé")], "doc_id long, text string")
    assert encode_ids(held, model,
                         vocab).collect()[0]["token_ids"] is None


def test_vocab_target_pruning_schedule(spark):
    """SentencePiece's iterative pruning (vocab_target): seed large,
    and after each E-step keep the top multis by (usage desc, piece)
    under the 3/4 shrinking-factor schedule — engine == a Python twin
    round for round; singles never prune (totality: the final model
    still segments every corpus word)."""
    import math
    rows = CORPUS
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    model = ug._train(docs, "text", 3, 4, 24, vocab_target=4)

    def py_prune(keys, counts, target):
        singles = [p for p in keys if len(p) == 1]
        multis = [p for p in keys if len(p) > 1]
        keep = max(target, math.ceil(len(multis) * 3 / 4))
        if len(multis) <= keep:
            return keys
        ranked = sorted(multis, key=lambda p: (-counts.get(p, 0), p))
        return sorted(singles + ranked[:keep])

    wf = py_word_freqs(rows)
    seeds = py_seed(wf, 4, 24)
    keys = sorted(seeds)
    costs = py_costs(seeds, keys)
    counts, traj = dict(seeds), []
    for _ in range(3):
        counts, obj = {}, 0
        for w, f in wf.items():
            c, segs = py_viterbi(w, costs, 4)
            obj += c * f
            for p in segs:
                counts[p] = counts.get(p, 0) + f
        traj.append(obj)
        keys = py_prune(keys, counts, 4)
        costs = py_costs(counts, keys)
    want = [(p, counts.get(p, 0), costs[p]) for p in keys]
    assert model.traj == traj
    assert model.pieces == want
    # the schedule actually pruned below the seed
    n_multis = sum(1 for p, _, _ in model.pieces if len(p) > 1)
    assert n_multis < 24
    # totality: every corpus word still segments under the pruned model
    segs = docs.select(sg.segment_text("text", model.segmenter()).alias("s"))
    assert all(r["s"] is not None for r in segs.collect())


def test_subtract_word_freqs_forget_law(spark):
    """The tokenizer count artifact's deletion-side law: counts(A∪B) ⊖
    counts(B) == counts(A) exactly, retraining from the subtracted
    relation == training on the surviving corpus (trajectory and
    all), and over-subtraction fails loud (the shared
    subtract_gram_counts guard)."""
    from snowflake_azure_etl_spark.operators.bpe import word_freqs
    a_rows = [(1, "the cat sat on the mat"), (2, "a dog sat on a log")]
    b_rows = [(3, "the cat sat on the hat"), (4, "mat mat mat")]
    da = spark.createDataFrame(a_rows, "doc_id long, text string")
    dall = spark.createDataFrame(a_rows + b_rows,
                                 "doc_id long, text string")
    db = spark.createDataFrame(b_rows, "doc_id long, text string")
    left = ug.subtract_word_freqs(word_freqs(dall), word_freqs(db))
    want = {r["word"]: r["freq"] for r in word_freqs(da).collect()}
    assert {r["word"]: r["freq"] for r in left.collect()} == want
    got = ug.train_unigram_from_words(left)
    ref = ug._train(da, "text", ug.UNIGRAM_ROUNDS,
                    ug.UNIGRAM_MAX_PIECE_LEN, ug.UNIGRAM_SEED_MULTI)
    assert got.pieces == ref.pieces and got.traj == ref.traj
    # not-a-subset fails loud, never a silently wrong model
    with pytest.raises(Exception, match="over-subtraction"):
        ug.subtract_word_freqs(
            word_freqs(da), word_freqs(dall)).collect()


@pytest.mark.slow
def test_sentencepiece_real_hyperparameters_512(spark):
    """VERDICT r13 next #7: one attested training run at
    SentencePiece-real hyperparameters — seed LARGE (2048 multi-char
    candidates), 5 EM rounds, the 3/4-shrinking pruning schedule down
    to vocab_target=512 — against the independent Python reference,
    so the pruning path is exercised at a vocabulary that matters.
    The >1000-piece candidate set also drives training itself through
    the broadcast-map shipping path (the r14 gate), covering the
    large-vocab trainer end-to-end."""
    import math
    syll = ["ba", "be", "bi", "bo", "bu", "da", "de", "di", "do", "du",
            "ka", "ke", "ki", "ko", "ku", "ma", "me", "mi", "mo", "mu"]
    # 400 distinct 3-syllable words saturating the CV-structure's
    # k<=4 substring space (1020 distinct multi-char candidates — the
    # analytic max 40+180+2·400, deterministically above the 1000
    # literal gate)
    words = [syll[i % 20] + syll[(i // 20) % 20]
             + syll[(i % 20 + 3 * (i // 20)) % 20] for i in range(400)]
    texts = [" ".join(words[i:i + 8]) for i in range(0, 400, 8)]
    rows = list(enumerate(texts))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    K, M, R, T = 4, 2048, 5, 512
    model = ug._train(docs, "text", R, K, M, vocab_target=T)

    # independent Python twin, pruning schedule inlined
    def py_prune(keys, counts, target):
        singles = [p for p in keys if len(p) == 1]
        multis = [p for p in keys if len(p) > 1]
        keep = max(target, math.ceil(len(multis) * 3 / 4))
        if len(multis) <= keep:
            return keys
        ranked = sorted(multis, key=lambda p: (-counts.get(p, 0), p))
        return sorted(singles + ranked[:keep])

    wf = py_word_freqs(rows)
    seeds = py_seed(wf, K, M)
    n0 = sum(1 for p in seeds if len(p) > 1)
    assert n0 > sg.MAP_LIT_MAX    # broadcast-map training path
    keys = sorted(seeds)
    costs = py_costs(seeds, keys)
    counts, traj = dict(seeds), []
    for _ in range(R):
        counts, obj = {}, 0
        for w, f in wf.items():
            c, segs = py_viterbi(w, costs, K)
            obj += c * f
            for p in segs:
                counts[p] = counts.get(p, 0) + f
        traj.append(obj)
        keys = py_prune(keys, counts, T)
        costs = py_costs(counts, keys)
    want = [(p, counts.get(p, 0), costs[p]) for p in keys]
    assert model.traj == traj
    assert model.pieces == want
    n_multis = sum(1 for p, _, _ in model.pieces if len(p) > 1)
    assert T <= n_multis < n0             # really pruned toward target
    # the pruned model still segments the whole corpus (totality)
    segs = docs.select(sg.segment_text("text", model.segmenter()).alias("s"))
    assert all(r["s"] is not None for r in segs.collect())


def test_unigram_packing_composition(trained):
    """The full pretokenized-corpus story end-to-end: text → trained
    unigram pieces → vocabulary ids (`encode_ids`) → packed training
    sequences (`packing.pack_offsets` weighted by n_ids). Offsets are
    the exclusive prefix sum of the TOKENIZER's counts in id order —
    the same contract the BPE path documents — so the sequence
    boundaries are reproducible from (corpus, model) alone."""
    from snowflake_azure_etl_spark.operators import packing
    docs, model = trained
    vocab = ug.unigram_vocab(docs.sparkSession, model)
    enc = encode_ids(docs, model, vocab)
    packed = packing.pack_offsets(enc, weight=F.col("n_ids"), ctx=8)
    rows = {r["doc_id"]: r for r in packed.collect()}
    n = {r["doc_id"]: r["n_ids"] for r in enc.collect()}
    run = 0
    for d in sorted(n):
        assert rows[d]["token_offset"] == run, d
        assert rows[d]["pack_first_seq"] == run // 8, d
        run += n[d]


def _big_costs():
    """A planted >segment.MAP_LIT_MAX piece model over the lowercase
    alphabet (26 singles + all 676 bigrams + enough trigrams), with a
    sentinel piece whose presence in a plan string marks literal
    shipping."""
    import itertools
    import string
    costs = {c: 10 for c in string.ascii_lowercase}
    for a, b in itertools.product(string.ascii_lowercase, repeat=2):
        costs[a + b] = 15
    for t in itertools.islice(
            itertools.product("abcdefghij", repeat=3), 400):
        costs["".join(t)] = 18
    costs["zqj"] = 18          # sentinel: appears in NO test word
    assert len(costs) > sg.MAP_LIT_MAX
    return costs


def test_large_vocab_ships_as_broadcast_map_not_literal(spark,
                                                        monkeypatch):
    """VERDICT r13 #3: above segment.MAP_LIT_MAX pieces the cost
    model ships as a one-row broadcast map RELATION — the analyzed
    plan carries no piece literals (a 32k-piece model would otherwise
    compile 10⁵ literals into every expression) — while results stay
    identical to the literal path, and the small-vocab default keeps
    the literal."""
    costs = _big_costs()
    words = spark.createDataFrame(
        [("the", 1), ("cat", 2), ("abba", 1)], "word string, freq long")
    docs = spark.createDataFrame(
        [(1, "the cat"), (2, "abba abba cat")], "doc_id long, text string")
    big = ug.viterbi_words(words, costs)
    seg_big = sg.segment_docs(docs, ug.segmenter(costs))
    # a raised gate forces the literal shape on the same model
    monkeypatch.setattr(sg, "MAP_LIT_MAX", 10**9)
    lit = ug.viterbi_words(words, costs)
    seg_lit = sg.segment_docs(docs, ug.segmenter(costs))
    rows_big = {r["word"]: (r["cost"], r["segs"])
                for r in big.collect()}
    rows_lit = {r["word"]: (r["cost"], r["segs"])
                for r in lit.collect()}
    assert rows_big == rows_lit
    for w, (c, s) in rows_lit.items():
        assert (c, s) == tuple(py_viterbi(w, costs, 4)), w
    plan_big = big._jdf.queryExecution().analyzed().toString()
    plan_lit = lit._jdf.queryExecution().analyzed().toString()
    # NO piece literal in the big path ('aaa' sorts near the front of
    # the map literal, so it survives Spark's maxToStringFields
    # truncation on the literal path — 'zqj' additionally pins the
    # tail); pieces live in data behind the one-row map column
    assert "aaa" not in plan_big and "zqj" not in plan_big
    assert sg.MAP_COL in plan_big
    assert "aaa" in plan_lit              # literal path really is one
    # segment_docs: same gate, same identity, at the document grain
    assert "zqj" not in seg_big._jdf.queryExecution().analyzed().toString()
    got_b = {r["doc_id"]: r["pieces"] for r in seg_big.collect()}
    got_l = {r["doc_id"]: r["pieces"] for r in seg_lit.collect()}
    assert got_b == got_l
    assert set(seg_big.columns) == set(docs.columns) | {"pieces"}


def test_large_vocab_column_form_fails_loud(spark, trained):
    """segment_text is a bare Column — it cannot ship a large
    model without the literal, so above the gate it raises with a
    pointer at segment_docs instead of silently compiling plan bloat;
    encode paths gate internally and keep working."""
    costs = _big_costs()
    with pytest.raises(ValueError, match="segment_docs"):
        sg.segment_text("text", ug.segmenter(costs))
    # encode_ids / encode_pieces over a large-vocab model stay green
    # (gated internally) and agree with each other
    docs, _ = trained
    model = ug.UnigramModel([(p, 1, c) for p, c in sorted(costs.items())],
                            [0], 4, 32)
    vocab = ug.unigram_vocab(docs.sparkSession, model)
    enc = encode_ids(docs.filter(F.col("doc_id") == 1), model, vocab)
    plan = enc._jdf.queryExecution().analyzed().toString()
    assert "zqj" not in plan
    row = enc.collect()[0]
    assert row["n_ids"] == len(row["token_ids"])
    eu = {r["doc_id"]: r["pieces"] for r in sg.encode_pieces(
        docs, model.segmenter()).collect()}
    sd = {r["doc_id"]: r["pieces"] for r in sg.segment_docs(
        docs, model.segmenter()).collect()}
    assert eu == sd


def test_char_fallback_total_coverage_and_roundtrip(spark, trained):
    """Char-fallback (the --byte_fallback analog, VERDICT r13 next #2):
    out-of-alphabet characters become their own pieces at the
    deterministic penalty cost (`unk_cost_of` = max trained cost +
    UNIGRAM_UNK_PENALTY), so every document encodes — and because the
    fallback piece IS the character, concat(pieces) still round-trips
    the text exactly. Strict mode stays pinned: the same docs NULL."""
    docs, model = trained
    _, _, costs, _ = py_train(CORPUS)
    multi = spark.createDataFrame(
        [(30, "the ééé cat"), (31, "日本語 mat"), (32, "a🙂b")],
        "doc_id long, text string")

    def py_fb(word):
        unk = ug.unk_cost_of(costs)
        fb = dict(costs)
        for ch in word:
            fb.setdefault(ch, unk)
        return py_viterbi(word, fb, model.k)

    # strict: every multilingual doc is NULL (pinned unchanged)
    strict = {r["doc_id"]: r["s"] for r in multi.select(
        "doc_id",
        sg.segment_text("text", model.segmenter()).alias("s")).collect()}
    assert all(v is None for v in strict.values())
    # fallback: total coverage, exact round-trip, reference parity
    fb = {r["doc_id"]: r["s"] for r in multi.select(
        "doc_id",
        sg.segment_text("text", model.segmenter(fallback=True)).alias("s"))
        .collect()}
    texts = {r["doc_id"]: r["text"] for r in multi.collect()}
    for d, segs in fb.items():
        assert segs is not None, d
        assert "".join(segs) == texts[d].replace(" ", ""), d
        want = [p for w in texts[d].split(" ") if w for p in py_fb(w)[1]]
        assert segs == want, d
    assert "é" in fb[30] and "🙂" in fb[32]
    # join-path encode agrees under fallback (incl. its wseg build)
    enc = {r["doc_id"]: r["pieces"] for r in sg.encode_pieces(
        multi, model.segmenter(fallback=True)).collect()}
    assert enc == fb
    # ids: fallback pieces are outside the vocab -> unk_id, the
    # SentencePiece unk contract; known pieces keep their ids
    vocab = ug.unigram_vocab(spark, model)
    ids = encode_ids(multi, model, vocab, fallback=True).collect()
    by_id = {r["doc_id"]: r["token_ids"] for r in ids}
    assert all(v is not None for v in by_id.values())
    assert -1 in by_id[30] and -1 in by_id[31]
    # trained pieces on the in-alphabet side still resolve
    assert any(i >= 0 for i in by_id[30])
    # unk cost really prices fallback worse than any trained piece
    assert ug.unk_cost_of(costs) > max(costs.values())


def test_oracle_fallback_viterbi_matches_engine(spark):
    """The unrolled-DP oracle mirrors char-fallback too (COALESCE on
    single-char lookups ONLY — multi-char lookups stay strict), so a
    fallback segmentation is oracle-replayable exactly like a strict
    one: engine fold == DuckDB CTE chain over planted multilingual
    words, costs and pieces both."""
    duckdb = pytest.importorskip("duckdb")
    import pandas as pd
    costs = {"m": 5, "a": 7, "t": 6, "ma": 9, "mat": 11}
    unk = ug.unk_cost_of(costs)
    words = [("mat", 1), ("maté", 1), ("東mat", 1), ("ñ", 1),
             ("matmat", 2), ("🙂a", 1)]
    wdf = spark.createDataFrame(words, "word string, freq long")
    eng = {r["word"]: (r["cost"], r["segs"]) for r in
           ug.viterbi_words(wdf, costs, k=3, unk_cost=unk).collect()}
    con = duckdb.connect()
    con.register("uwf", pd.DataFrame(words, columns=["word", "freq"]))
    con.register("pc", pd.DataFrame(sorted(costs.items()),
                                    columns=["piece", "cost"]))
    sql = ("WITH " + ug._viterbi_cte("fb", "pc", 3, 8, unk_cost=unk)
           + " SELECT word, cost, segs FROM fb_f")
    got = {w: (c, s) for w, c, s in con.execute(sql).fetchall()}
    assert got == eng
    # the longest trained piece still wins where it applies, and the
    # out-of-alphabet char rides as its own (penalty-priced) piece
    assert got["maté"][1] == ["mat", "é"]
    assert got["maté"][0] == 11 + unk


def test_fallback_streaming_sink_matches_batch(spark):
    """The ingest sink's fallback mode == the batch fallback encode
    (stream==batch, the family law), and the sink's segment_docs
    routing keeps large persisted models literal-free."""
    from snowflake_azure_etl_spark.streaming import ingest
    from snowflake_azure_etl_spark.warehouse import ddl
    docs = spark.createDataFrame(
        [(1, "mat mat ñ"), (2, "zq 東")], "doc_id long, text string")
    train = spark.createDataFrame(
        [(1, "mat mat zq")], "doc_id long, text string")
    model = ug._train(train, "text", 2, 4, 8)
    db = "uni_fb_db"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    for name in ("pieces", "seg"):
        spark.sql(f"DROP TABLE IF EXISTS {db}.{name}")
        ddl.drop_orphan_location(spark, f"{db}.{name}")
    ug.pieces_table_df(spark, model).write.saveAsTable(f"{db}.pieces")
    sink = ingest.unigram_ingest_sink(f"{db}.pieces", f"{db}.seg",
                                      fallback=True)
    sink(docs, 0)
    got = {r["doc_id"]: r["pieces"]
           for r in spark.table(f"{db}.seg").collect()}
    want = {r["doc_id"]: r["s"] for r in docs.select(
        "doc_id",
        sg.segment_text("text", model.segmenter(fallback=True)).alias("s"))
        .collect()}
    assert got == want
    assert all(v is not None for v in got.values())


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_WORDS = ["ab", "abab", "ba", "aab", "b", "abba"]
_doc_strategy = st.lists(st.sampled_from(_WORDS), min_size=0,
                         max_size=6).map(" ".join)


_OOA = ["é", "東", "🙂", "ñ"]
_fb_word = st.lists(st.sampled_from(list("ab") + _OOA),
                    min_size=1, max_size=5).map("".join)
_fb_doc = st.lists(_fb_word, min_size=0, max_size=4).map(" ".join)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(texts=st.lists(_fb_doc, min_size=1, max_size=3))
def test_fallback_property_sweep(spark, trained, texts):
    """Char-fallback == the Python reference over random words mixing
    the trained alphabet with multi-byte out-of-alphabet characters
    (emoji surrogate pairs included — code-point semantics must agree
    between Spark, the reference, and the fold's substr)."""
    _, model = trained
    _, _, costs, _ = py_train(CORPUS)
    unk = ug.unk_cost_of(costs)

    def py_fb(word):
        fb = dict(costs)
        for ch in word:
            fb.setdefault(ch, unk)
        return py_viterbi(word, fb, model.k)

    rows = list(enumerate(texts))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["s"] for r in docs.select(
        "doc_id",
        sg.segment_text("text", model.segmenter(fallback=True)).alias("s"))
        .collect()}
    for d, t in rows:
        want = [p for w in t.split(" ") if w for p in py_fb(w)[1]]
        assert got[d] == want, (d, t)
        assert "".join(got[d]) == t.replace(" ", ""), (d, t)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(texts=st.lists(_doc_strategy, min_size=1, max_size=4))
@pytest.mark.slow
def test_unigram_property_sweep(spark, texts):
    """Engine == Python reference over random small corpora from a
    2-char alphabet (maximal substring collisions → cost ties,
    boundary-of-top-M ties, short/empty docs)."""
    rows = list(enumerate(texts))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    if not any(t.strip() for t in texts):
        # no words at all: training has no candidates — skip (the
        # operator is corpus prep; an empty corpus trains nothing)
        return
    model = ug._train(docs, "text", ug.UNIGRAM_ROUNDS,
                      ug.UNIGRAM_MAX_PIECE_LEN, 8)
    pieces, traj, costs, _ = py_train(rows, m=8)
    assert model.traj == traj
    assert model.pieces == pieces
    got = {r["doc_id"]: r["segs"] for r in docs.select(
        "doc_id",
        sg.segment_text("text", model.segmenter()).alias("segs")).collect()}
    for d, t in rows:
        want = [p for w in t.split(" ") if w
                for p in py_viterbi(w, costs, model.k)[1]]
        assert got[d] == want, d
    # and the join-path encoder agrees with the row-local one on the
    # same random corpus (empty docs land as [] on both)
    joined = {r["doc_id"]: r["pieces"]
              for r in sg.encode_pieces(docs, model.segmenter()).collect()}
    assert joined == got


def test_em_rounds_do_not_grow_column_cache(spark):
    """ADVICE r17: each EM round scores under new costs, so an
    expression memo keyed on them gains one never-reused entry per
    round. Training must grow `_cache._COLUMN_CACHE` by at most a
    constant, whatever the round count — pruning (`vocab_target`)
    makes every round's costs distinct."""
    from snowflake_azure_etl_spark.operators import _cache

    def growth(rounds: int) -> int:
        docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
        before = len(_cache._COLUMN_CACHE)
        ug.train_unigram(docs, rounds=rounds, seed_multi=40, vocab_target=4)
        return len(_cache._COLUMN_CACHE) - before

    growth(1)  # round-count-independent entries (seed/wseg legs)
    assert growth(6) == 0
