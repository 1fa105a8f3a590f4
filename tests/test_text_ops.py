"""Python-reference checks for operators not covered by a DuckDB oracle:
the polynomial rolling hash (q53 keeps it out of its oracle — DuckDB's
list_reduce dialect differs), shingling, repetition/PII signals and
the unigram LM and BM25 scorers."""

from __future__ import annotations

from pyspark.sql import functions as F

from snowflake_azure_etl_spark.operators.text import (ROLLING_BASE,
                                                      ROLLING_MOD,
                                                      rolling_hash)
from snowflake_azure_etl_spark.operators import text
from snowflake_azure_etl_spark.sources.registry import load_tables


def py_rolling_hash(s: str, base: int = ROLLING_BASE,
                    mod: int = ROLLING_MOD) -> int:
    h = 0
    for ch in s:
        h = (h * base + ord(ch)) % mod
    return h


def test_rolling_hash_matches_python_reference(spark, sf_dir):
    docs = (load_tables(spark, sf_dir, ("documents",))["documents"]
            .limit(50))
    got = {r["doc_id"]: r["h"]
           for r in docs.select("doc_id",
                                rolling_hash("text").alias("h")).collect()}
    want = {r["doc_id"]: py_rolling_hash(r["text"])
            for r in docs.select("doc_id", "text").collect()}
    assert got == want and len(got) == 50


def test_rolling_hash_empty_and_ascii_edge(spark):
    df = spark.range(1).select(F.lit("").alias("t"))
    assert df.select(rolling_hash("t").alias("h")).collect()[0]["h"] == 0


def test_regex_token_count_matches_python_re(spark, sf_dir):
    """The BPE pre-tokenizer segment count (JVM regexp_count) must agree
    with Python's regex engine over the real document corpus."""
    import re
    from snowflake_azure_etl_spark.operators.text import (
        BPE_PRETOKEN_PATTERN, regex_token_count)

    # Python re has no \p{L}; translate to unicode-aware classes
    py_pat = re.compile(
        r"'(?:s|t|re|ve|m|ll|d)"
        r"| ?[^\W\d_]+"          # \p{L}
        r"| ?\d+"                # \p{N}
        r"| ?(?:[^\s\w]|_)+"     # [^\s\p{L}\p{N}] (underscore is not L/N)
        r"|\s+")
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    rows = (docs.select("doc_id", "text",
                        regex_token_count("text").alias("n"))
            .collect())
    assert len(rows) > 0
    for r in rows:
        want = len(py_pat.findall(r["text"]))
        assert r["n"] == want, (r["doc_id"], r["n"], want)


def test_word_shingles_match_python(spark, sf_dir):
    """n-gram shingling against a pure-Python reference over the real
    corpus, incl. the shorter-than-n fallback."""
    from snowflake_azure_etl_spark.operators.dedup import word_shingles

    def py_shingles(text, n=3):
        toks = text.split(" ")
        grams = [" ".join(toks[i:i + n])
                 for i in range(max(len(toks) - n, 0) + 1)]
        return sorted(set(grams))

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    rows = (docs.select("doc_id", "text",
                        F.array_sort(word_shingles("text", 3)).alias("sh"))
            .collect())
    assert len(rows) > 0
    for r in rows:
        assert r["sh"] == py_shingles(r["text"]), r["doc_id"]
    # short-document fallback: 2 words, n=3 -> one full-text shingle
    short = spark.range(1).select(F.lit("alpha beta").alias("t"))
    got = short.select(word_shingles("t", 3).alias("sh")).collect()[0]["sh"]
    assert got == ["alpha beta"]


def test_shingled_minhash_finds_planted_dups(spark, sf_dir):
    """Shingled MinHash + the existing LSH banding: a copied document
    has an identical signature, so it must collide with its source in
    every band — plant copies of 10 docs and assert all 10 pairs
    surface as candidates."""
    from snowflake_azure_etl_spark.operators import dedup

    docs = load_tables(spark, sf_dir, ("documents",))["documents"] \
        .select("doc_id", "text")
    planted = (docs.orderBy("doc_id").limit(10)
               .select((F.col("doc_id") + 1_000_000).alias("doc_id"),
                       "text"))
    corpus = docs.unionByName(planted)
    sig = dedup.minhash_signature_shingled(corpus, "doc_id", "text",
                                           k=8, n=3)
    cands = dedup.lsh_candidate_pairs(sig, "doc_id", bands=2, rows=4)
    cand_pairs = {(r.id_a, r.id_b) for r in cands.collect()}
    want = {(r["doc_id"], r["doc_id"] + 1_000_000)
            for r in docs.orderBy("doc_id").limit(10).collect()}
    missed = want - cand_pairs
    assert not missed, f"planted dups missed by shingled LSH: {missed}"


def test_repetition_and_pii_signals_match_python(spark):
    """Gopher-rule repetition/composition signals + email PII count and
    redaction (r6) vs a direct Python reference on crafted edges:
    repeats, single-token docs, symbol soup, multiple emails."""
    import re

    from snowflake_azure_etl_spark.operators import text as T

    rows = [
        (1, "the cat sat on the cat sat on the mat"),
        (2, "one"),
        (3, "a b a b a b a b"),
        (4, "!!! ### $$$ %%%"),
        (5, "mail me at a.b@x.co or c_d%e@y-z.example.org thanks"),
        (6, "no pii here just words and words and words"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r for r in df.select(
        "doc_id",
        T.repeated_bigram_fraction("text").alias("rep"),
        T.mean_token_length("text").alias("mtl"),
        T.symbol_ratio("text").alias("sym"),
        T.pii_email_count("text").alias("pii"),
        T.redact_pii("text").alias("red")).collect()}
    email = re.compile(T.EMAIL_PATTERN)
    for doc_id, s in rows:
        toks = s.split(" ")
        bgs = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        rep = 1.0 - len(set(bgs)) / len(bgs) if bgs else 0.0
        r = got[doc_id]
        assert abs(r.rep - rep) < 1e-12, doc_id
        assert abs(r.mtl - sum(map(len, toks)) / len(toks)) < 1e-12
        assert abs(r.sym - len(re.sub(r"[A-Za-z0-9 ]", "", s)) / len(s)) \
            < 1e-12
        assert r.pii == len(email.findall(s))
        assert r.red == email.sub("<PII>", s)
    assert got[5].pii == 2 and "@" not in got[5].red


# ------------------------------------------------ unigram LM scoring --

def test_unigram_lm_and_freq_vs_python(spark):
    """Both corpus-model maps (log-prob and exact-count) score
    documents identically to a Python reference; the fold runs in
    token order so the Python sequential sum is the exact model."""
    import math

    texts = ["the cat sat", "the the the", "rare words here",
             "the cat here", ""]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)],
        "doc_id bigint, text string")

    counts: dict[str, int] = {}
    for t in texts:
        for w in t.split(" "):
            if w:
                counts[w] = counts.get(w, 0) + 1
    total = sum(counts.values())

    lm = text.unigram_lm_map(docs)
    tf = text.token_freq_map(docs)
    out = {r["doc_id"]: (r["lp"], r["mf"]) for r in
           docs.crossJoin(lm).crossJoin(tf).select(
               "doc_id",
               text.unigram_logprob("text").alias("lp"),
               text.mean_token_freq("text").alias("mf")).collect()}
    for i, t in enumerate(texts):
        ws = [w for w in t.split(" ") if w]
        if not ws:
            assert out[i] == (None, None)
            continue
        lp_acc = 0.0
        for w in ws:  # token order, like the engine's fold
            lp_acc += math.log(counts[w] / total)
        assert abs(out[i][0] - lp_acc / len(ws)) < 1e-9
        assert out[i][1] == sum(counts[w] for w in ws) / len(ws)
    # ordering sanity: repeated common tokens score higher than rare
    assert out[1][0] > out[2][0] and out[1][1] > out[2][1]


def test_unigram_logprob_floor_for_unseen(spark):
    train = spark.createDataFrame([(0, "a b c")],
                                  "doc_id bigint, text string")
    held = spark.createDataFrame([(1, "zz zz")],
                                 "doc_id bigint, text string")
    lm = text.unigram_lm_map(train)
    got = held.crossJoin(lm).select(
        text.unigram_logprob("text", floor=-33.0).alias("lp")
    ).collect()[0]["lp"]
    assert got == -33.0


def test_bm25_ranks_by_relevance_and_quantizes_portably(spark):
    """Planted corpus: the doc repeating the query term most (per
    length) ranks first; a doc without any query term never appears;
    rational IDF downweights a term every doc contains; scores are
    longs (the order-invariant fixed-point contract)."""
    from snowflake_azure_etl_spark.operators.text import bm25_topk
    docs = spark.createDataFrame([
        (1, "cat cat cat dog"),          # tf(cat)=3, short
        (2, "cat dog dog dog dog dog"),  # tf(cat)=1, longer
        (3, "dog dog dog"),              # no 'cat'
        (4, "cat fish"),                 # tf(cat)=1, shortest
    ], "doc_id long, text string")
    got = bm25_topk(docs, ["cat"], k=4).collect()
    ids = [r["doc_id"] for r in sorted(got, key=lambda r: r["rank"])]
    assert 3 not in ids            # never retrieves a termless doc
    assert ids[0] == 1             # highest tf wins
    assert all(isinstance(r["score_q"], int) for r in got)
    # 'dog' appears in 3 of 4 docs -> rational IDF (4-3+.5)/(3+.5) < 1
    # while 'fish' (df=1) gets (4-1+.5)/(1+.5) > 2: rarer term ranks
    # its doc above an equally-frequent common term's doc
    two = {r["query"]: [x["doc_id"] for x in sorted(
        [g for g in bm25_topk(docs, ["dog", "fish"], k=1).collect()
         if g["query"] == r["query"]], key=lambda x: x["rank"])]
           for r in bm25_topk(docs, ["dog", "fish"], k=1).collect()}
    assert two["fish"] == [4]
