"""Byte-pair-encoding merge training over a document corpus
(north-star extension: the tokenizer-TRAINING step of an LLM data
pipeline, one level up from `text.token_vocab`'s frequency table).

The classic Sennrich/GPT-2 recipe, expressed Spark-first:

1. The corpus collapses to a **word-frequency relation** (word, freq)
   — the standard trick that makes BPE training tractable: every
   subsequent round works on the distinct-word table (vocabulary-sized,
   ~10^5-10^6 rows for natural language) instead of the corpus
   (~10^12 tokens at 100 TB). The ONLY corpus-sized work is this one
   explode + groupBy (map-side partial; shuffle key = word).
2. Each word is *symbolized*: split into characters, each prefixed
   with a non-printing sentinel (``\\x01``) and space-joined —
   ``"the" → "\\x01t \\x01h \\x01e"``. The sentinel makes substring
   search token-boundary-safe: the pattern ``"\\x01a \\x01b"`` can
   never match a suffix of a longer symbol, so a merge is ONE literal
   (non-regex) `replace` — left-to-right, non-overlapping, exactly the
   greedy merge order the reference algorithm applies.
3. Per round: adjacent-pair counts (explode of zip_with'd shifted
   array views, weighted by word freq, map-side combined on the pair
   key) → the argmax pair (freq desc, pair asc — a deterministic total
   order) → rewrite every word's symbol string with one `replace`.
   The argmax is a ONE-row driver collect per round — the same bounded
   Pregel-probe pattern as `graph.connected_components`; the merge
   pair is the model parameter being learned, not data.

Scale design:
- per-round state is vocabulary-sized, never corpus-sized; the pair
  count shuffle key space is |symbol-pairs| (small and shrinking);
- the words relation is localCheckpoint'd eagerly per round (the same
  lineage-cut discipline as connected_components — k nested replaces
  re-analyzed per round would dominate the actual work);
- the learned merge table is k rows (k = n_merges) — it broadcasts
  trivially into the encode path;
- fixed round count (no convergence probe) keeps the whole training
  loop mirrorable in SQL as k chained CTEs — the property that lets
  the DuckDB oracle attest the training trajectory bit-for-bit
  (see workload.pipeline_queries.q58).

Reference parity: the reference repo has no tokenizer trainer (it
templates warehouse SQL); this extends the pipeline the way its
ETL-to-analytics flow would need for LLM corpus prep.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import tokens

#: Symbol-boundary sentinel. Prefixing every symbol guards the LEFT
#: boundary of the merge pattern "<SENT>a <SENT>b " ("<SENT>xa" does
#: not contain "<SENT>a "), and the symbol string's TRAILING space —
#: `symbolize` terminates the string so every symbol, including the
#: last, is space-terminated — guards the RIGHT: without it the
#: pattern's tail "<SENT>b" could match the PREFIX of a longer symbol
#: ("<SENT>a <SENT>c" matches inside "<SENT>a <SENT>cc", fusing 'acc'
#: — a real divergence from token-aligned BPE found by the r10
#: hypothesis sweep on 'ac acccc'). With both boundaries guarded a
#: plain literal replace of "a b " → "ab " is a correct single-pass
#: greedy merge.
SENT = "\x01"
#: The merge law of `word_freqs` partials (`sketches.merge_partials`).
WORD_FREQ_MERGE = {"freq": "sum"}

#: Training rounds between lineage cuts of the words relation: a
#: round adds one vocab-local `replace` to the plan, so a few rounds
#: of re-derived lineage are cheaper than a checkpoint per round.
#: Catalog training runs 8 merges, so no cut fires mid-loop there.
CHECKPOINT_EVERY = 8


def word_freqs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) over whitespace tokens — the one corpus-sized pass
    of BPE training. Map-side-combined groupBy on the word."""
    return (docs.select(F.explode(tokens(text_col)).alias("word"))
            .filter(F.length("word") > 0)
            .groupBy("word").agg(F.count("*").alias("freq")))


def symbolize(word: Column | str) -> Column:
    """Sentinel-prefixed, space-joined character symbols of a word,
    SPACE-TERMINATED (every symbol, including the last, is followed by
    a space — the right-boundary guard the merge replace needs; see
    the SENT comment)."""
    c = F.col(word) if isinstance(word, str) else word
    chars = F.transform(F.sequence(F.lit(1), F.length(c)),
                        lambda i: F.substr(c, i, F.lit(1)))
    return F.concat(F.array_join(
        F.transform(chars, lambda ch: F.concat(F.lit(SENT), ch)), " "),
        F.lit(" "))


def _adjacent_pair_counts(words: DataFrame) -> DataFrame:
    """(a, b, cnt): adjacent symbol pairs over the symbolized words,
    weighted by word frequency. Single-symbol words contribute nothing
    (their shifted view is empty). The pair expression is identical
    every round, so it memoizes per JVM (r17: the training loop
    rebuilt it 8× per cold build — pure py4j chatter)."""
    from ._cache import cached_column

    def build() -> Column:
        sy = F.split(F.rtrim(F.col("symstr")), " ")
        shifted = F.slice(sy, 2, F.greatest(F.size(sy) - 1, F.lit(1)))
        return F.filter(
            F.zip_with(sy, shifted,
                       lambda a, b: F.when(b.isNull(), None)
                       .otherwise(F.struct(a.alias("a"), b.alias("b")))),
            lambda x: x.isNotNull())

    pairs = cached_column(("bpe_adjacent_pairs",), build)
    return (words.select("freq", F.explode(pairs).alias("p"))
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("freq").alias("cnt")))


def train_bpe_merges(docs: DataFrame, text_col: str = "text",
                     n_merges: int = 8) -> list[tuple[str, str, int]]:
    """Learn the first `n_merges` BPE merges; returns
    ``[(a, b, cnt), ...]`` in merge order, where a/b are
    sentinel-prefixed symbol strings and cnt the pair frequency at
    merge time. Ties break on (a, b) ascending — a deterministic total
    order shared with the SQL mirror. Stops early (shorter list) if
    the corpus runs out of adjacent pairs.

    The initial checkpoint cuts the CORPUS lineage (without it every
    probe re-runs the corpus word count); between checkpoints a round
    adds only one vocab-local `replace` to the plan, so re-deriving a
    few rounds of lineage is cheaper than materializing the vocab
    relation per round (measured ~3x at catalog scale) —
    `CHECKPOINT_EVERY` bounds the growth for deep merge runs."""
    if n_merges < 1:
        raise ValueError(f"n_merges ({n_merges}) must be >= 1")
    from ._cache import cached_build, plan_key
    key = ("bpe_merges", plan_key(docs.select(text_col)), n_merges)
    return cached_build(
        docs.sparkSession, key,
        lambda: _train(docs, text_col, n_merges))


def _train(docs: DataFrame, text_col: str,
           n_merges: int) -> list[tuple[str, str, int]]:
    # the learned merge list is the MODEL artifact (k tuples) — memoized
    # per (session, corpus plan, k) by train_bpe_merges the way
    # similarity.ivf_topk memoizes its index: a tokenizer is trained
    # once per corpus and reused by every downstream encode
    # The words relation is vocabulary-sized, typically orders below
    # the corpus (the Sennrich reduction) — on a laptop-scale run the
    # per-round probe jobs are task-scheduling overhead, not compute,
    # so the checkpoint coalesces to defaultParallelism/8 (floor 4:
    # local[32] → 4 tasks/round, ~8× less fixed cost — r12
    # measurement). On a 1000-core cluster that is ~125 partitions,
    # so a web-scale vocabulary (Heaps' law puts 100 TB text at 10^8+
    # distinct words) still trains parallel — review finding r12: a
    # hardcoded 4 would have serialized it.
    sc = docs.sparkSession.sparkContext
    n_parts = max(4, sc.defaultParallelism // 8)
    words = (word_freqs(docs, text_col)
             .select(symbolize("word").alias("symstr"), "freq")
             .coalesce(n_parts)
             .localCheckpoint(eager=True))
    merges: list[tuple[str, str, int]] = []
    for it in range(n_merges):
        best = (_adjacent_pair_counts(words)
                .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
                .limit(1).collect())  # 1-row Pregel-style probe
        if not best:
            break
        a, b, cnt = best[0]["a"], best[0]["b"], int(best[0]["cnt"])
        merges.append((a, b, cnt))
        # both pattern and replacement carry the terminating space —
        # the right-boundary guard (see the SENT comment)
        words = words.withColumn(
            "symstr",
            F.replace(F.col("symstr"), F.lit(f"{a} {b} "),
                      F.lit(a + b[len(SENT):] + " ")))
        if (it + 1) % CHECKPOINT_EVERY == 0 and it + 1 < n_merges:
            words = words.localCheckpoint(eager=True)
    return merges


def merges_table(spark, merges: list[tuple[str, str, int]]) -> DataFrame:
    """The learned merge list as a (rank, left, right, merged, freq)
    relation — sentinel-stripped for display; k rows, broadcastable."""
    rows = [(i + 1, a.replace(SENT, ""), b.replace(SENT, ""),
             (a + b).replace(SENT, ""), cnt)
            for i, (a, b, cnt) in enumerate(merges)]
    return spark.createDataFrame(
        rows, "rank int, left string, right string, merged string, "
              "freq bigint")


def apply_merges(text: Column | str,
                 merges: list[tuple[str, str, int]]) -> Column:
    """Encode: segment `text` with a learned merge list — the
    tokenizer's ENCODE path. Each word is symbolized, the merges are
    applied in rank order (each one literal replace — the same greedy
    left-to-right semantics as training), and the result is the
    array of subword segments (sentinel-stripped).

    The merge list is compiled into the expression tree (k replaces,
    fine for the catalog-scale k); a production encoder with 10^4+
    merges would move to an Arrow-batched mapInPandas carrying the
    broadcast merge table — same signature, same output contract."""
    c = F.col(text) if isinstance(text, str) else text

    def encode_word(w: Column) -> Column:
        # merges apply WITHIN a word only (training counts pairs per
        # word row, never across words) — so the replace chain runs
        # inside the per-word lambda, not over a joined string where
        # a word-final/word-initial symbol pair could falsely match
        sym = symbolize(w)
        for a, b, _ in merges:
            sym = F.replace(sym, F.lit(f"{a} {b} "),
                            F.lit(a + b[len(SENT):] + " "))
        return F.split(F.rtrim(sym), " ")

    # empty whitespace tokens (double/leading/trailing spaces, empty
    # text) are dropped BEFORE encoding — symbolize('') would emit
    # phantom empty symbols (F.sequence(1, 0) counts DOWN, yielding
    # two '' chars), which became spurious segments; the Arrow path's
    # `if w` filter has the same semantics, keeping the two encoders
    # pinned equal on real-world spacing
    words = F.filter(tokens(c), lambda t: F.length(t) > 0)
    segs = F.flatten(F.transform(words, encode_word))
    return F.transform(segs, lambda s: F.replace(s, F.lit(SENT), F.lit("")))


def bpe_segment_count(text: Column | str,
                      merges: list[tuple[str, str, int]]) -> Column:
    """Trained-tokenizer token count — the exact counterpart of
    `text.bpe_token_estimate`'s heuristic."""
    return F.size(apply_merges(text, merges))


def apply_merges_arrow(docs: DataFrame,
                       merges: list[tuple[str, str, int]]) -> DataFrame:
    """(doc_id, segs, n_segs) over (doc_id, text) documents: the
    production-scale encode path — an
    Arrow-batched mapInPandas carrying the merge list as a plain
    Python structure captured in the task closure (k·~16 bytes; a
    10⁵-merge vocabulary is ~2 MB shipped once per task, the same
    economics as a broadcast variable).

    Where `apply_merges` compiles k replaces into the expression tree
    (right for catalog-scale k; the plan grows with k), this runs the
    SAME rank-order single-pass-per-merge semantics in Python — exact
    equivalence by construction (a rank-PRIORITY loop, HF-style, can
    diverge on pathological merge lists where two merges produce the
    same symbol string) — with a membership skip so absent merges cost
    O(1): real encoders see most of a 10⁵-merge vocabulary miss on any
    given word. Output is pinned equal to `apply_merges` in
    tests/test_bpe.py."""
    stripped = [(a[len(SENT):], b[len(SENT):]) for a, b, _ in merges]

    def encode_word(w: str) -> list[str]:
        syms = list(w)
        for a, b in stripped:
            if len(syms) < 2:
                break
            present = set(syms)
            if a not in present or b not in present:
                continue
            out, i = [], 0
            while i < len(syms):
                if (i + 1 < len(syms) and syms[i] == a
                        and syms[i + 1] == b):
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    def op(batches):
        import pandas as pd
        for pdf in batches:
            segs = [
                [s for w in t.split(" ") if w for s in encode_word(w)]
                for t in pdf["text"]
            ]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "segs": segs,
                "n_segs": [len(s) for s in segs],
            })

    id_type = dict(docs.dtypes)["doc_id"]
    return docs.mapInPandas(
        op, schema=f"doc_id {id_type}, segs array<string>, n_segs int")


def vocab_from_merges(spark, docs: DataFrame,
                      merges: list[tuple[str, str, int]]) -> DataFrame:
    """(token, token_id): the deterministic id space a trained BPE
    tokenizer ships — base alphabet first (`docs.text`'s distinct
    non-space characters, ids 0.. in lexical order), then one token
    per learned merge in rank order. Rebuilding from the same (corpus,
    merges) yields byte-identical ids — the reproducibility contract
    checkpointed training needs.

    The alphabet pass is ONE distinct over exploded characters
    (alphabet-bounded output, collected once to the driver — a few
    hundred rows at most — so the returned vocab is a local relation
    and downstream uses never re-scan the corpus).

    Two distinct merges can strip to the same surface token (the
    apply_merges_arrow docstring's pathological-list case); only the
    FIRST (lowest-rank) occurrence gets an id, so tokens stay unique.

    Encode to ids with `segment.encode_ids(docs, apply_merges(text,
    merges), vocab)` and back with `segment.decode_ids`: because BPE
    segments partition each word's characters, decode(encode(text))
    == text with spaces removed (q58's roundtrip leg attests it)."""
    alphabet = sorted(r["token"] for r in (docs.select(F.explode(
        F.split(F.regexp_replace(F.col("text"), " ", ""), ""))
        .alias("token"))
        .filter(F.length("token") > 0).distinct().collect()))
    rows = [(t, i) for i, t in enumerate(alphabet)]
    seen = set(alphabet)
    nxt = len(alphabet)
    for a, b, _ in merges:
        tok = a.replace(SENT, "") + b.replace(SENT, "")
        if tok not in seen:
            seen.add(tok)
            rows.append((tok, nxt))
            nxt += 1
    return spark.createDataFrame(rows, "token string, token_id int")
