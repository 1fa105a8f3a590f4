"""Text analysis operators for LLM training-data pipelines.

Language ID (stopword-hit heuristic), quality scoring (length / ratio
features), token counting (whitespace + BPE-ish estimate), and document
fingerprinting (md5 canonical fingerprint + a polynomial rolling hash).
All built-in Catalyst expressions (higher-order array functions for the
per-token work) — the 100 TB path is a single narrow projection, no
shuffle, no UDF, fully codegen'd.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..plans.attest import bounded_broadcast

# Tiny deterministic stopword lists for the lang-ID heuristic.
STOPWORDS = {
    "en": ("the", "a", "of", "and", "to", "in"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
}

ROLLING_MOD = 1_000_000_007
ROLLING_BASE = 31


def tokens(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, " ")


def n_tokens(text: Column | str) -> Column:
    return F.size(tokens(text))


def n_distinct_tokens(text: Column | str) -> Column:
    return F.size(F.array_distinct(tokens(text)))


def type_token_ratio(text: Column | str) -> Column:
    """Lexical diversity: distinct tokens / tokens."""
    return n_distinct_tokens(text).cast("double") / n_tokens(text)


def stopword_hits(text: Column | str, lang: str = "en") -> Column:
    words = STOPWORDS[lang]
    return F.size(F.filter(tokens(text), lambda t: t.isin(*words)))


def stopword_ratio(text: Column | str) -> Column:
    """English stopword hits / tokens."""
    return stopword_hits(text, "en").cast("double") / n_tokens(text)


def bpe_token_estimate(text: Column | str) -> Column:
    """BPE-ish token-count estimate: max(word count, ceil(chars / 4)) —
    the standard ~4-chars-per-token heuristic floored by the word count."""
    c = F.col(text) if isinstance(text, str) else text
    return F.greatest(n_tokens(text),
                      F.ceil(F.length(c) / 4).cast("int"))


# GPT-2-style pre-tokenizer pattern: contraction suffixes, letter runs,
# digit runs, punctuation runs (each optionally space-prefixed), then
# residual whitespace. This is the segmentation BPE merges operate
# WITHIN — counting its matches is the honest upper bound on BPE token
# count, per-segment (a BPE token never crosses these boundaries).
BPE_PRETOKEN_PATTERN = (
    r"'(?:s|t|re|ve|m|ll|d)"
    r"| ?\p{L}+"
    r"| ?\p{N}+"
    r"| ?[^\s\p{L}\p{N}]+"
    r"|\s+"
)


def regex_token_count(text: Column | str) -> Column:
    """Exact pre-tokenizer segment count via the JVM regex engine
    (`regexp_count` — codegen'd, no UDF). Pairs with
    `bpe_token_estimate`: estimate for cheap heuristics, this for the
    exact segmentation grid a real BPE vocab would merge within."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit(BPE_PRETOKEN_PATTERN)).cast("int")


def lang_guess(text: Column | str) -> Column:
    """Stopword-vote language ID: the language with the most stopword
    hits wins; 'und' (undetermined) when no list scores > 0. Determinism:
    ties broken by fixed language order en > de > fr."""
    en = stopword_hits(text, "en")
    de = stopword_hits(text, "de")
    fr = stopword_hits(text, "fr")
    return (F.when((en >= de) & (en >= fr) & (en > 0), "en")
            .when((de >= fr) & (de > 0), "de")
            .when(fr > 0, "fr")
            .otherwise("und"))


def quality_score(text: Column | str) -> Column:
    """Deterministic [0,1] quality score: mean of three bounded features
    (length saturation at 200 chars, stopword ratio saturation at 0.2,
    lexical diversity)."""
    c = F.col(text) if isinstance(text, str) else text
    len_feat = F.least(F.length(c).cast("double") / 200, F.lit(1.0))
    stop_feat = F.least(stopword_ratio(text) / 0.2, F.lit(1.0))
    ttr = type_token_ratio(text)
    return (len_feat + stop_feat + ttr) / 3


def md5_fingerprint(text: Column | str) -> Column:
    """Canonical-form fingerprint: md5 of lowercased,
    whitespace-collapsed text (first 16 hex chars)."""
    c = F.col(text) if isinstance(text, str) else text
    canon = F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")
    return F.substring(F.md5(canon), 1, 16)


def n_chunks(text: Column | str, size: int = 128,
             stride: int = 96) -> Column:
    """How many overlapping token windows a document yields under
    (size, stride) chunking: 1 + ceil(max(n_tokens - size, 0) / stride).
    Pure arithmetic — the per-doc planning column for the chunker
    below, and trivially oracle-expressible."""
    if size < 1 or stride < 1:
        raise ValueError("chunk size and stride must be >= 1")
    if stride > size:
        raise ValueError(
            f"stride ({stride}) must be <= size ({size}): chunk windows "
            "must overlap or abut so no token span is skipped")
    extra = F.greatest(n_tokens(text) - size, F.lit(0))
    return (F.lit(1) + F.ceil(extra.cast("double") / stride)).cast("int")


def chunk_texts(text: Column | str, size: int = 128,
                stride: int = 96) -> Column:
    """Overlapping token-window chunks — the canonical pre-training
    prep op (fixed context windows with overlap so no span is split
    across chunk boundaries unseen). Returns array<string>; window i
    covers tokens [i*stride, i*stride + size). All higher-order array
    expressions, no UDF, no shuffle — the 100 TB path is explode →
    write, embarrassingly parallel."""
    if size < 1 or stride < 1:
        raise ValueError("chunk size and stride must be >= 1")
    if stride > size:
        # The overlap contract: windows tile the token sequence with no
        # uncovered gap, which requires stride <= size. (stride > size
        # would also let the window formula emit an empty trailing
        # chunk whose start is past the last token.)
        raise ValueError(
            f"stride ({stride}) must be <= size ({size}): chunk windows "
            "must overlap or abut so no token span is skipped")
    toks = tokens(text)
    return F.transform(
        F.sequence(F.lit(0), n_chunks(text, size, stride) - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i * stride + 1, size)))


def chunk_documents(docs, id_col: str = "doc_id",
                    text_col: str = "text", size: int = 128,
                    stride: int = 96):
    """(doc_id, chunk_idx, chunk_text, chunk_tokens) — one row per
    chunk, fanned out executor-side (posexplode)."""
    return docs.select(
        F.col(id_col),
        F.posexplode(chunk_texts(text_col, size, stride))
        .alias("chunk_idx", "chunk_text"),
    ).withColumn("chunk_tokens", F.size(F.split(F.col("chunk_text"), " ")))


def split_assign(id_col: Column | str) -> Column:
    """Deterministic 80/10/10 train/val/test assignment by hashed id —
    the standard leakage-safe splitter (a document's split never
    depends on corpus order or size, so re-runs and incremental loads
    agree). Bucket = first 8 md5 hex chars of 'split:<id>' mod 100."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    bucket = F.conv(
        F.substring(F.md5(F.concat(F.lit("split:"),
                                   c.cast("string"))), 1, 8),
        16, 10).cast("long") % 100
    return (F.when(bucket < 80, "train")
            .when(bucket < 90, "val")
            .otherwise("test"))


def token_vocab(docs, text_col: str = "text", top_k: int | None = None):
    """Corpus token vocabulary — the tokenizer-training prep step:
    (token, doc_freq, total_freq, rank), rank by total_freq desc with
    token tiebreak (deterministic). One explode + one groupBy (map-side
    partial) — the shuffle key is the token, uniform for natural text;
    `top_k` compiles to TakeOrderedAndProject (per-partition heaps),
    never a global sort; the full-vocabulary ranking goes through the
    partition-parallel ranged keying plan (`plans.prefix.
    ranged_dense_keys`) — a real vocabulary is millions of rows, and a
    single-partition rank window would be the classic hidden
    bottleneck."""
    from pyspark.sql import Window
    # doc_freq needs per-doc distinctness; total_freq counts every use.
    # The doc discriminator is a per-row unique id (values are
    # partition-dependent but countDistinct only needs uniqueness), so
    # two documents with identical text still count separately.
    per = docs.withColumn("_doc", F.monotonically_increasing_id()) \
        .select(F.posexplode(tokens(text_col)).alias("_p", "token"), "_doc")
    agg = (per.groupBy("token")
           .agg(F.countDistinct("_doc").alias("doc_freq"),
                F.count("*").alias("total_freq")))
    order = [F.desc("total_freq"), F.asc("token")]
    if top_k is not None:
        # rank only the kept head: orderBy+limit → TakeOrderedAndProject,
        # then a k-row window (k-sized, not vocab-sized)
        head = agg.orderBy(*order).limit(top_k)
        return head.withColumn(
            "rank", F.row_number().over(Window.orderBy(*order)))
    from ..plans.prefix import ranged_dense_keys
    ranked = ranged_dense_keys(agg, "rank", order_by=order, offset=0)
    return ranked.withColumn("rank", F.col("rank").cast("int"))


# --------------------------------------------------------------------------
# Repetition / composition heuristics (Gopher-rule family) and PII
# signals — the standard pre-training quality filters, all single
# narrow-projection Catalyst expressions (no UDF, no shuffle).
# --------------------------------------------------------------------------

def bigrams(text: Column | str) -> Column:
    """NON-distinct word bigrams (repetition measurement needs the
    duplicates that `word_shingles`' distinct unit deliberately
    drops): zip_with over the shifted token view, null-padded tail
    filtered out. Documents under 2 tokens yield an empty array."""
    toks = tokens(text)
    shifted = F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(1)))
    joined = F.zip_with(toks, shifted,
                        lambda a, b: F.when(b.isNull(), None)
                        .otherwise(F.concat_ws(" ", a, b)))
    return F.filter(joined, lambda x: x.isNotNull())


def repeated_bigram_fraction(text: Column | str) -> Column:
    """Fraction of word bigrams that are repeats of an earlier bigram —
    the Gopher-style repetition signal (high ⇒ boilerplate/loops).
    0.0 for documents with fewer than 2 tokens."""
    bg = bigrams(text)
    n = F.size(bg)
    return F.when(n < 1, F.lit(0.0)).otherwise(
        F.lit(1.0) - F.size(F.array_distinct(bg)).cast("double") / n)


def mean_token_length(text: Column | str) -> Column:
    """Mean characters per whitespace token (very low ⇒ symbol soup,
    very high ⇒ minified/concatenated junk — both Gopher cut rules)."""
    toks = tokens(text)
    total = F.aggregate(toks, F.lit(0),
                        lambda acc, t: acc + F.length(t))
    return total.cast("double") / F.size(toks)


def symbol_ratio(text: Column | str) -> Column:
    """Non-alphanumeric-non-space characters / total characters —
    the symbol-to-word family compressed to one JVM regex pass."""
    c = F.col(text) if isinstance(text, str) else text
    stripped = F.regexp_replace(c, r"[A-Za-z0-9 ]", "")
    return F.length(stripped).cast("double") / F.length(c)


#: RE2-safe (and java.util.regex-safe) email shape — the same pattern
#: string runs verbatim in the DuckDB oracle.
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"


def pii_email_count(text: Column | str) -> Column:
    """Count of email-shaped spans (the canonical PII screen's cheapest
    signal; `pii_count` runs the same plan for phones/IDs)."""
    return pii_count(text, EMAIL_PATTERN)


#: RE2-safe NANP-ish phone shape (optional +country, area code with
#: optional parens, -. or space separators) — runs verbatim in DuckDB.
PHONE_PATTERN = (r"\+?[0-9]{0,3}[-. ]?\(?[0-9]{3}\)?[-. ]"
                 r"[0-9]{3}[-. ][0-9]{4}")

#: RE2-safe dotted-quad shape (\b is ASCII word boundary in both RE2
#: and java.util.regex). Shape screen, not a validator — 999.0.0.1
#: matches, exactly like production PII screens that over-capture.
IPV4_PATTERN = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


def pii_count(text: Column | str, pattern: str) -> Column:
    """Count of PII-shaped spans for any pattern of the family."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit(pattern)).cast("int")


def pii_phone_count(text: Column | str) -> Column:
    return pii_count(text, PHONE_PATTERN)


def pii_ipv4_count(text: Column | str) -> Column:
    return pii_count(text, IPV4_PATTERN)


#: The fixed tag a redacted PII span becomes.
PII_TAG = "<PII>"


def redact_pii(text: Column | str) -> Column:
    """Replace every email-shaped span with `PII_TAG` — the scrub step
    a corpus runs before training. regexp_replace is global and
    JVM-side; composes per-row with chunking/splitting downstream."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_replace(c, EMAIL_PATTERN, PII_TAG)


def redact_pii_all(text: Column | str) -> Column:
    """Chain every PII class through one projection — emails first so
    an address inside a larger span is tagged before the broader
    phone and IPv4 shapes run. Still row-local JVM regexes; zero
    shuffles."""
    c = F.col(text) if isinstance(text, str) else text
    for p in (EMAIL_PATTERN, PHONE_PATTERN, IPV4_PATTERN):
        c = F.regexp_replace(c, p, PII_TAG)
    return c


def duplicate_line_fraction(text: Column | str) -> Column:
    """Fraction of newline-separated lines that repeat an earlier
    line — the Gopher duplicate-line rule (high ⇒ templated
    boilerplate). 0.0 for single-line documents (the same
    single-unit convention as repeated_bigram_fraction)."""
    c = F.col(text) if isinstance(text, str) else text
    lines = F.split(c, "\n")
    n = F.size(lines)
    return F.when(n <= 1, F.lit(0.0)).otherwise(
        F.lit(1.0) - F.size(F.array_distinct(lines)).cast("double") / n)


def top_bigram_mass(text: Column | str) -> Column:
    """Occurrences of the single most frequent word bigram / total
    bigrams — Gopher's top-2-gram fraction (high ⇒ one phrase loops
    through the document). Row-local: sort the bigram array and fold
    for the longest equal-adjacent run (O(n log n) per row, bounded by
    the doc's own length — no shuffle, no UDF); 0.0 when no bigram
    exists. The longest run of a sorted array IS the max occurrence
    count, so this equals the per-distinct-bigram counting pass it
    replaced (r16: that pass was O(d·n) nested interpreted lambdas —
    higher-order functions don't codegen — and measured 6x slower at
    ~110 tokens/doc; value-equality pinned by test and by the q57
    oracle hash)."""
    bg = bigrams(text)
    acc0 = F.struct(F.lit(None).cast("string").alias("prev"),
                    F.lit(0).cast("long").alias("run"),
                    F.lit(0).cast("long").alias("best"))

    def _step(acc: Column, x: Column) -> Column:
        run = (F.when(x == acc["prev"], acc["run"] + 1)
               .otherwise(F.lit(1).cast("long")))
        return F.struct(x.alias("prev"), run.alias("run"),
                        F.greatest(acc["best"], run).alias("best"))

    best = F.aggregate(F.array_sort(bg), acc0, _step, lambda a: a["best"])
    return F.when(F.size(bg) < 1, F.lit(0.0)).otherwise(
        best.cast("double") / F.size(bg))


def rolling_hash(text: Column | str) -> Column:
    """Polynomial rolling hash over characters:
    h = fold(h * ROLLING_BASE + ascii(ch)) % ROLLING_MOD — a Catalyst
    higher-order aggregate over the char array (no UDF). Portable: the
    same fold in any engine yields the same value."""
    c = F.col(text) if isinstance(text, str) else text
    chars = F.split(c, "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * ROLLING_BASE + F.ascii(ch)) % ROLLING_MOD,
    )


def unigram_lm_map(docs):
    """ONE-ROW corpus unigram language model: a map column
    token → ln(count/total) (X-TEXT-LM). Train = one explode + one
    token-keyed aggregate (map-side combined) + a vocabulary-bounded
    map build; the model rides into scoring as a broadcast one-row
    relation (the centroid-array idiom), so scoring is row-local.

    The vocabulary is bounded (~10⁵-10⁶ types for natural text at any
    corpus size — Heaps' law), which is what makes the one-row map
    safe where a per-token join would shuffle the corpus."""
    toks = (docs.select(F.explode(tokens("text")).alias("tok"))
            .filter(F.length("tok") > 0))
    freq = toks.groupBy("tok").agg(F.count("*").alias("c"))
    return (freq.agg(
        F.map_from_entries(F.collect_list(F.struct("tok", "c")))
        .alias("_m"),
        F.sum("c").alias("_n"))
        .select(F.transform_values(
            "_m", lambda k, v: F.log(v.cast("double") / F.col("_n")))
            .alias("_lm")))


def unigram_logprob(text_col: Column | str,
                    floor: float = -20.0) -> Column:
    """Length-normalized unigram log-probability of a document under
    the corpus LM — the classic gibberish/perplexity-proxy quality
    filter (low score = tokens the corpus has rarely seen). Row-local:
    a sequential fold over the document's tokens with `element_at`
    lookups into the one-row LM map (column `_lm`); `floor` is the unseen-token
    log-prob (never hit when scoring the training corpus itself).

    The fold adds per-token log-probs in TOKEN ORDER (deterministic
    IEEE addition sequence), so a SQL mirror that sums in the same
    order is bit-identical — the property the catalog oracle uses."""
    toks = F.filter(tokens(text_col), lambda t: F.length(t) > 0)
    total = F.aggregate(
        toks, F.lit(0.0),
        lambda acc, t: acc + F.coalesce(
            F.element_at(F.col("_lm"), t), F.lit(floor)))
    return F.when(F.size(toks) > 0, total / F.size(toks))


def token_freq_map(docs, text_col: str = "text"):
    """ONE-ROW corpus token-frequency map (token → count, long) —
    the exact-integer sibling of `unigram_lm_map`, same plan shape.
    Integer counts keep downstream folds bit-portable across engines
    (transcendental log values are not guaranteed identically rounded
    between libm implementations — the LM map is for in-engine
    filtering, this map is for cross-engine-attested scoring)."""
    toks = (docs.select(F.explode(tokens(text_col)).alias("tok"))
            .filter(F.length("tok") > 0))
    freq = toks.groupBy("tok").agg(F.count("*").alias("c"))
    return freq.agg(
        F.map_from_entries(F.collect_list(F.struct("tok", "c")))
        .alias("_tf"))


def mean_token_freq(text_col: Column | str) -> Column:
    """Mean corpus frequency of the document's tokens — the
    rare-token/gibberish signal with EXACT arithmetic: a long-integer
    fold over `token_freq_map` lookups (column `_tf`), one final
    double division.
    Low values = tokens the corpus has rarely seen (same decision
    boundary family as `unigram_logprob`, hash-portable)."""
    toks = F.filter(tokens(text_col), lambda t: F.length(t) > 0)
    total = F.aggregate(
        toks, F.lit(0).cast("long"),
        lambda acc, t: acc + F.coalesce(
            F.element_at(F.col("_tf"), t), F.lit(0)))
    return F.when(F.size(toks) > 0,
                  total.cast("double") / F.size(toks))


# --------------------------------------------------------------------------
# TF-IDF term scoring (X-TEXT-TFIDF) and windowed co-occurrence
# (X-TEXT-COOC) — retrieval-relevance and skip-gram/PMI corpus prep.
# --------------------------------------------------------------------------

#: Fixed-point scale for the hash-portable inverse-document-frequency
#: score (see tf_icf_top_terms). Sized so the score product stays in
#: int64 at corpus scale: tf(≤10⁴) · n_docs(≤10⁹) · 2^10 ≈ 10^16 ≪ 2^63.
TFIDF_SCALE = 1 << 10


def doc_term_freqs(docs, id_col: str = "doc_id",
                   text_col: str = "text"):
    """(id, token, tf): within-document term frequencies. One explode +
    one groupBy keyed on (doc, token) — map-side combined, and for
    natural text each partial state is one document's vocabulary."""
    return (docs.select(F.col(id_col), F.explode(tokens(text_col))
                        .alias("token"))
            .groupBy(id_col, "token").agg(F.count("*").alias("tf")))


def tf_icf_top_terms(docs, id_col: str = "doc_id",
                     text_col: str = "text", k: int = 1,
                     n_docs: int | None = None):
    """Top-`k` most-characteristic terms per document by the EXACT-
    integer idf-weighted score

        score = (tf · n_docs · TFIDF_SCALE) div df

    — inverse document frequency without log damping, monotone in
    tf/df, and hash-portable (the classic smooth-idf variant needs ln,
    whose libm rounding is not identical across engines; it is provided
    as `tfidf_score` for in-engine use and pytest-pinned — the same
    exact-integer-twin discipline as mean_token_freq/unigram_logprob).
    Ties break (score desc, token asc): deterministic total order.

    Output: (id, token, tf, df, score_scaled, rnk), rnk <= k.

    Scale: tf and df are two independent map-side-combined aggregations
    of the same exploded relation; the df side is vocabulary-sized
    (bounded by language, not corpus), joined on the token — AQE
    broadcasts it when it materializes small. The per-doc top-k window
    partitions by doc id — corpus-parallel, never a global window.
    `n_docs` comes attested from the caller (footer metadata), else one
    count."""
    from pyspark.sql import Window
    n = n_docs if n_docs is not None else docs.count()
    tf = doc_term_freqs(docs, id_col, text_col)
    df = (docs.select(
            F.explode(F.array_distinct(tokens(text_col))).alias("token"))
          .groupBy("token").agg(F.count("*").alias("df")))
    scored = (tf.join(df, "token")
              .withColumn("score_scaled",
                          F.expr(f"(tf * {n}L * {TFIDF_SCALE}L) div df")
                          .cast("long")))
    w = (Window.partitionBy(id_col)
         .orderBy(F.desc("score_scaled"), F.asc("token")))
    return (scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k)
            .select(id_col, "token", "tf", "df", "score_scaled",
                    F.col("rnk").cast("int").alias("rnk")))


def tfidf_score(tf: Column, df: Column, n_docs: Column | int) -> Column:
    """Classic smooth TF-IDF: tf · (ln((1+n)/(1+df)) + 1). In-engine
    ranking/filtering twin of `tf_icf_top_terms`'s exact score —
    ln-valued, so pytest-verified (transcendental rounding is not
    cross-engine hash-portable)."""
    n = F.lit(n_docs) if isinstance(n_docs, int) else n_docs
    return tf * (F.log((1 + n.cast("double")) / (1 + df.cast("double")))
                 + F.lit(1.0))


def cooccurrence_pairs(docs, text_col: str = "text", window: int = 2):
    """(pair, n_cooc): unordered within-window token co-occurrence
    counts — the skip-gram relation embedding trainers (word2vec/GloVe)
    consume, and the numerator of PMI. A pair is counted once per
    (position, offset) occurrence, offsets 1..window; the pair key is
    canonical (lexicographic least|greatest, '|'-joined).

    Scale: pair construction is ROW-LOCAL (zip_with over shifted
    token-array views per offset — the word_shingles trick, no
    self-join on positions), so the only wide stage is the final
    map-side-combined count keyed on the pair value. Pair cardinality
    is vocabulary², bounded by language — not corpus-sized."""
    toks = tokens(text_col)
    legs = []
    for j in range(1, window + 1):
        left = F.slice(toks, 1, F.greatest(F.size(toks) - j, F.lit(0)))
        right = F.slice(toks, j + 1,
                        F.greatest(F.size(toks) - j, F.lit(0)))
        legs.append(F.zip_with(
            left, right,
            lambda a, b: F.concat_ws("|", F.least(a, b), F.greatest(a, b))))
    pairs = legs[0] if len(legs) == 1 else F.concat(*legs)
    return (docs.select(F.explode(pairs).alias("pair"))
            .groupBy("pair").agg(F.count("*").alias("n_cooc")))


def pmi(pair_count: Column, count_a: Column, count_b: Column,
        n_tokens: Column) -> Column:
    """Pointwise mutual information ln(P(a,b)/(P(a)P(b))) from the
    co-occurrence and unigram counts — in-engine filter/weight twin
    (ln-valued ⇒ pytest-pinned, exact counts are the attested part)."""
    return F.log((pair_count.cast("double") * n_tokens.cast("double"))
                 / (count_a.cast("double") * count_b.cast("double")))


# ---------------------------------------------------------------------------
# BM25 lexical retrieval (X-BM25) — the classic sparse-retrieval
# baseline a training-data pipeline runs for decontamination probes,
# hybrid (lexical + vector) search, and hard-negative mining.
#
# Cross-engine determinism (the classifier's exp-free lesson): the
# standard ln-IDF is NOT portable (libm ln differs in last-ulp across
# engines), so the IDF here is the RAW RATIONAL odds
# (N − df + 0.5)/(df + 0.5) — the exact argument of the BM25+ log,
# monotone in df, computable with only +,−,/ on doubles (IEEE
# correctly-rounded ⇒ bit-identical in Spark and DuckDB). Per-term
# scores are fixed-point-quantized to longs (floor(score·2^20)), so
# the per-document sum over query terms is an integer sum —
# order-invariant, hash-portable — the same trick as the pooled
# vector leg and the drift stats.
#
# Scale shape: one corpus pass builds (doc, term, tf); the query-term
# filter prunes it to docs CONTAINING a query term BEFORE any join
# (candidate set ≪ corpus); df/avgdl stats are one-row or
# term-count-sized broadcasts; the doc-length join is co-keyed on the
# doc id. The top-k window partitions by query over the PRUNED
# candidates only.
# ---------------------------------------------------------------------------

#: BM25 parameters, shared with q58's DuckDB oracle (`_BM25_SCORE_SQL`
#: and its stopword-class cut read these, so the two cannot drift).
BM25_K1 = 1.2
BM25_B = 0.75
BM25_SCALE = 1 << 20
BM25_MAX_DF_RATIO = 0.9


def bm25_topk(docs, queries, k: int = 5):
    """(query, doc_id, score_q, rank): top-k documents per literal
    query string by quantized rational-IDF BM25 (module comment) over
    `docs`' (doc_id, text); ties break on doc id. `queries` is a small
    literal list — the query relation is built as a JVM one-row
    explode (no Python worker on the plan).

    `BM25_MAX_DF_RATIO` drops query terms present in more than that
    fraction of documents (the standard stopword-class cut): besides
    contributing near-zero IDF, such a term makes the CANDIDATE SET
    corpus-sized — the per-query top-k partition would hold nearly
    every document, the exact blow-up the term-prune exists to
    prevent at 100 TB. The filter compares exact integers against one
    double product, mirrored verbatim in the SQL oracle.

    Plan shape (r16): everything per-document is ROW-LOCAL — the doc
    length is `size(tokens)` and the query-term occurrences are a
    row-local array filter — so the corpus is scanned ONCE with no
    corpus-sized shuffle (the old shape built the full (doc, token, tf)
    relation, a corpus-wide explode + groupBy, and evaluated it three
    times inside one plan: qtf, df, dl). The only wide stages are
    candidate-sized: a groupBy on query-term occurrences and the df
    count as a window over the candidate relation."""
    from pyspark.sql import Window

    spark = docs.sparkSession
    id_col = "doc_id"
    terms = sorted({t for q in queries for t in q.split() if t})
    toks = tokens("text")
    # row-local per-doc length + query-term matches; docs with NULL
    # text produce no explode rows in the old shape, so they are
    # excluded from n/tot here too
    base = docs.filter(F.col("text").isNotNull())
    lens = (base.select(F.col(id_col), F.size(toks).alias("dl"),
                        F.filter(toks,
                                 lambda t: t.isin(*terms)).alias("_qtoks")))
    # lazy persist via the session cache registry (ADVICE r9: a raw
    # .persist() here was invisible to clear_cache, leaking one cached
    # one-row relation per distinct corpus plan in a long sweeping
    # session). Keyed on its own plan, which embeds the corpus plan
    # and the tokenization but NOT the query terms (stats built from
    # `base`, not `lens` — `_qtoks` would put the term list in the
    # cache key and every new query set would re-register);
    # the BM25 parameters don't enter the stats either.
    from ._cache import cached_relation
    stats = cached_relation(
        base.select(F.size(toks).alias("dl"))
            .agg(F.count("*").alias("n"), F.sum("dl").alias("tot")),
        "bm25_stats")
    # (doc, token, tf, dl) over query-term occurrences only — the
    # candidate relation, ≪ corpus by construction; df (docs per
    # token) is a window count over it, and the stopword-class cut
    # compares the same exact integers as before
    cand = (lens.filter(F.size("_qtoks") > 0)
            .select(id_col, "dl", F.explode("_qtoks").alias("token"))
            .groupBy(id_col, "dl", "token")
            .agg(F.count("*").alias("tf"))
            .crossJoin(bounded_broadcast(
                stats, bound="one-row corpus stats", max_rows=1))
            .withColumn("df", F.count("*").over(
                Window.partitionBy("token")))
            .filter(F.col("df").cast("double")
                    <= F.lit(BM25_MAX_DF_RATIO)
                    * F.col("n").cast("double")))
    qt = (spark.range(1).select(F.explode(F.array(*[
        F.struct(F.lit(q).alias("query"), F.lit(t).alias("token"))
        for q in queries for t in sorted(set(q.split())) if t]))
        .alias("x")).select("x.query", "x.token"))

    n_d = F.col("n").cast("double")
    df_d = F.col("df").cast("double")
    tf_d = F.col("tf").cast("double")
    dl_d = F.col("dl").cast("double")
    avgdl = F.col("tot").cast("double") / n_d
    idf = ((n_d - df_d) + F.lit(0.5)) / (df_d + F.lit(0.5))
    denom = tf_d + (F.lit(BM25_K1)
                    * ((F.lit(1.0) - F.lit(BM25_B))
                       + F.lit(BM25_B) * (dl_d / avgdl)))
    num = tf_d * F.lit(BM25_K1 + 1.0)
    q_t = F.floor((idf * (num / denom)) * F.lit(float(BM25_SCALE))) \
           .cast("long")

    scored = (cand.join(bounded_broadcast(
                  qt, bound="query-term literals"), "token")
              .groupBy("query", id_col)
              .agg(F.sum(q_t).alias("score_q")))
    w = Window.partitionBy("query").orderBy(F.desc("score_q"),
                                            F.asc(id_col))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= int(k)))
