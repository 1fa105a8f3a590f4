"""Deduplication operators for LLM training-data pipelines.

Beyond the reference surface (north-star extension): exact dedup,
MinHash + LSH near-dup candidate generation, exact-Jaccard verification,
and SimHash — all as compositions of built-in Catalyst expressions (no
Python UDFs; the hash primitive is md5(), which is JVM-side in Spark and
identical in DuckDB, making every stage oracle-checkable).

Scale design (100 TB of documents):
- every stage is embarrassingly parallel until the band probe
  (`_band_probe`): ONE equi-join on (band, band key) covers every band,
  and it is the only candidate join in the module — batch LSH
  (`lsh_candidate_pairs`, also SimHash's rows=1 banding) is its
  index-less self-probe, `incremental_near_dup_candidates` probes a
  persisted index. Band-key cardinality grows with the corpus, so
  buckets stay small for non-degenerate data;
- bucket-size guard: buckets wider than ``max_bucket`` are dropped
  whole, per band, before the pair fanout, so one degenerate bucket
  (all-identical boilerplate docs) cannot produce a quadratic pair
  explosion — the standard production mitigation, deterministic
  (overflow buckets are dropped, not sampled);
- md5 is used for portability with the DuckDB oracle.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..plans.attest import bounded_broadcast, maybe_broadcast


def ws_tokens(text: Column | str) -> Column:
    """Whitespace tokens; single-space split matches the oracle's
    string_split(text, ' ') exactly (no regex dialect drift)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, " ")


def md5_digest_seeded(seed: int, digest: Column) -> Column:
    """Seeded hash derived from a precomputed md5 digest:
    md5('<seed>:' || digest). Hashing the variable-width shingle ONCE
    and deriving the k seeded values from the fixed 32-hex digest keeps
    the per-shingle cost at k+1 single-block md5 compressions no matter
    how wide the shingle is (a k-gram shingle at k·avg_word width would
    otherwise pay multi-block hashing k times). Identical expression in
    the DuckDB oracle: md5('<seed>:' || md5(tok))."""
    return F.md5(F.concat(F.lit(f"{seed}:"), digest))


def word_shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles — the canonical MinHash unit for
    near-dup detection (unigram token sets under-penalize word
    reordering; n-grams encode local order). Pure higher-order array
    expressions, no explode until the caller wants one, no UDF.

    Construction is a zip_with chain over n-1 shifted views of the
    token array (toks ⊗ toks[1:] ⊗ … ⊗ toks[n-1:]) — each step is one
    linear pass appending one word per window. The naive
    sequence→per-window slice→concat form allocates a sliced array per
    window inside the interpreted higher-order path and measured ~3×
    slower at sf0.1; output is element-identical (the shifted views run
    out exactly at window start > size-n, and those windows are
    null-filtered).

    Documents shorter than n words yield their single full-text
    shingle, so no document silently drops out of the pipeline."""
    if n < 1:
        raise ValueError("shingle width must be >= 1")
    toks = ws_tokens(text)
    if n == 1:
        return F.array_distinct(toks)
    acc = toks
    for j in range(1, n):
        shifted = F.slice(toks, j + 1,
                          F.greatest(F.size(toks) - j, F.lit(1)))
        if j < n - 1:
            # inner windows: every later word present implies this one is
            acc = F.zip_with(acc, shifted,
                             lambda a, b: F.concat_ws(" ", a, b))
        else:
            # last word decides window validity (zip_with null-pads)
            acc = F.zip_with(acc, shifted,
                             lambda a, b: F.when(b.isNull(), None)
                             .otherwise(F.concat_ws(" ", a, b)))
    grams = F.filter(acc, lambda x: x.isNotNull())
    out = F.when(F.size(toks) >= n, grams).otherwise(
        F.array(F.concat_ws(" ", toks)))
    return F.array_distinct(out)


def minhash_signature_shingled(df: DataFrame, id_col: str, text_col: str,
                               k: int = 8, n: int = 3) -> DataFrame:
    """k-permutation MinHash over distinct word n-gram shingles: k
    min-aggregates of seeded hashes, one shuffle on the doc id. The min
    of a fixed-width hex string is the min of the hash value, so
    signatures are portable across engines.

    Each shingle is md5'd once; the k seeded hashes derive from that
    fixed-width digest (`md5_digest_seeded`), so widening the shingle
    does not multiply the hashed bytes by k."""
    sh = df.select(
        F.col(id_col),
        F.explode(F.transform(word_shingles(text_col, n), F.md5))
        .alias("dig"))
    aggs = [F.min(md5_digest_seeded(i, F.col("dig"))).alias(f"h{i}")
            for i in range(k)]
    return sh.groupBy(id_col).agg(*aggs)


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str,
                       carry_cols: Sequence[str] = ()) -> DataFrame:
    """Exact dedup via content-hash group-by: one row per distinct
    content with the keeper (min id) and the duplicate count.
    Hash-groupBy is the 100 TB-safe exact method: one shuffle on a
    uniformly distributed 128-bit key.

    `carry_cols` are keeper attributes (e.g. lang, source) carried
    THROUGH the same aggregate via min_by(col, id) — the keeper is
    the min id, so min_by yields exactly the keeper's value. This is
    the scale-safe way to attach keeper attributes: a post-hoc join
    back to the corpus is either a second corpus-sized shuffle or —
    worse — a corpus-sized broadcast (the r11 q50 defect)."""
    aggs = [F.min(id_col).alias("keeper_id"),
            F.count("*").alias("n_copies")]
    aggs += [F.min_by(c, id_col).alias(c) for c in carry_cols]
    return (df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
            .agg(*aggs))


def band_key_index(sig: DataFrame, id_col: str, bands: int,
                   rows: int) -> DataFrame:
    """The persistable MinHash index artifact: one row per doc,
    (_id, _k0.._k{bands-1}) with each band key an xxhash64 long of the
    band's ``rows`` signature values — 8-byte join keys instead of
    128-char md5 concats. Both sides of every band probe are this
    relation; a production pipeline lands it bucketed on the band keys
    (plans.layout.land_bucketed) and grows it per batch, the same
    grow-the-index contract as `incremental_exact`'s content hashes."""
    key_cols = [
        F.xxhash64(*[F.col(f"h{b * rows + r}") for r in range(rows)])
        .alias(f"_k{b}")
        for b in range(bands)
    ]
    return sig.select(F.col(id_col).alias("_id"), *key_cols)


def _band_probe(probe: DataFrame, build: DataFrame, bands: int,
                max_bucket: int, n_probe: int | None,
                n_build: int | None) -> DataFrame:
    """The one band-probe join: `probe` band keys (aliased ``nw``) ×
    `build` band keys (aliased ``ix``), both `band_key_index`-shaped,
    joined ONCE for every band on (band, band key) — a row per (doc,
    band) on each side (``_b``, ``_key``), carrying the doc's band keys
    for the first-match test. The caller adds its pair predicate
    (id order, self-match) and projection.

    - **Bucket-width guard over the build side**: per-band SURVIVAL
      FLAGS, not destructive filters — a pair whose first matching band
      is dropped for width still emits at its first surviving matching
      band (the oracle's semantics). A shared key's flag is the same
      for both docs, so only the build side carries it. Skipped when
      ``n_build`` (an upper bound is enough) attests no bucket can
      exceed ``max_bucket``.
    - **First-match-only emission**: a pair matching several bands
      joins at its FIRST matching surviving band only, so the join
      output is exactly the distinct pair set — no DISTINCT shuffle of
      the pair set, often the largest intermediate in the pipeline.
    - **Size-conditional broadcast**: the probe side broadcasts under
      the ``n_probe`` attestation (``n_probe × bands`` exploded rows),
      so the build side is read in place; the width relations broadcast
      under ``n_build``. Unattested, both sides shuffle-equi-join on
      (band, key) and AQE's skew-join split handles residual bucket
      variance — the first-match test works under either strategy."""
    band_cols = [f"_k{b}" for b in range(bands)]
    guard = n_build is None or n_build > max_bucket
    flagged = build
    if guard:
        for b in range(bands):
            wf = (build.groupBy(f"_k{b}")
                  .agg((F.count("*") <= max_bucket).alias(f"_ok{b}")))
            flagged = flagged.join(maybe_broadcast(wf, n_build), f"_k{b}")
    by_band = [F.posexplode(F.array(*band_cols)).alias("_b", "_key")]
    nw = probe.select("*", *by_band)
    ix = flagged.select("*", *by_band)
    if guard:
        ix = ix.filter(F.get(F.array(*[f"_ok{b}" for b in range(bands)]),
                             F.col("_b")))
    cond = ((F.col("nw._b") == F.col("ix._b"))
            & (F.col("nw._key") == F.col("ix._key")))
    for i in range(bands - 1):  # no earlier band matched (and survived)
        m = F.col(f"nw._k{i}") == F.col(f"ix._k{i}")
        m = m & F.col(f"ix._ok{i}") if guard else m
        cond = cond & ((F.col("nw._b") <= i) | ~m)
    a = maybe_broadcast(nw, None if n_probe is None else n_probe * bands)
    return a.alias("nw").join(ix.alias("ix"), cond)


def lsh_candidate_pairs(sig: DataFrame, id_col: str, bands: int = 2,
                        rows: int = 4, max_bucket: int = 10000,
                        n_docs: int | None = None,
                        cache_keys: bool = True) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) sharing any band bucket
    whose width is at most ``max_bucket``: the index-less case of the
    band probe — the corpus's `band_key_index` probes itself in the one
    (band, key) join of `_band_probe` (first-match-only emission,
    per-band width guard, broadcast under the ``n_docs`` attestation,
    else a shuffle equi-join), keeping ``id_a < id_b``.

    ``cache_keys``: the band-key relation is referenced by both probe
    sides, the width guard, and again by the verify query that consumes
    the candidates — without persistence the whole upstream signature
    stage (explode + k min-aggregates over every shingle) re-executes
    per reference. It is (bands+1) fixed-width columns per doc — the
    MinHash index artifact a production pipeline writes to a table —
    persisted MEMORY_AND_DISK via the session relation cache
    (`operators._cache`), so a same-session rebuild from the same
    signature plan (q51's incremental leg, q52's verify) reuses it.
    """
    from ._cache import cached_relation
    keys = band_key_index(sig, id_col, bands, rows)
    if cache_keys:
        keys = cached_relation(keys, "lsh_band_keys")
    return (_band_probe(keys, keys, bands, max_bucket, n_docs, n_docs)
            .filter(F.col("nw._id") < F.col("ix._id"))
            .select(F.col("nw._id").alias("id_a"),
                    F.col("ix._id").alias("id_b")))


BITSET_MAX_VOCAB = 4096  # 64 longs per doc; above this, hashed arrays win


def exact_jaccard(df: DataFrame, candidates: DataFrame, id_col: str,
                  text_col: str,
                  bitset_max_vocab: int = BITSET_MAX_VOCAB,
                  n_docs: int | None = None,
                  shingle_n: int | None = None) -> DataFrame:
    """Exact set-Jaccard for candidate pairs — adaptive plan.

    The set unit is whitespace unigrams by default; pass ``shingle_n``
    to verify over word n-gram shingles instead (X-DEDUP-NGRAM-JACCARD
    — the same unit `minhash_signature_shingled` approximates, so the
    verify stage measures exactly the similarity the LSH stage
    estimated).

    The per-pair intersect dominates (candidate count × per-pair cost),
    so the representation of a token set is the whole game:

    - **Small global vocabulary** (≤ bitset_max_vocab distinct tokens
      corpus-wide — template/boilerplate-heavy corpora, exactly the ones
      that produce quadratic candidate sets): dictionary-encode tokens
      and pack each doc's set into ⌈V/64⌉ longs; per pair the intersect
      is bit_count(a&b) per word — a handful of ALU ops, ~100× cheaper
      than a hash-set intersect and no allocation.
    - **Large vocabulary**: per-doc sorted distinct xxhash64 arrays +
      array_intersect — O(|A|+|B|) per pair, comparing longs not strings
      (64-bit collision inside one pair's tokens: P ≈ 1e-15, far below
      float noise).

    The per-doc token-set side is corpus-sized, so it broadcasts only
    under the same size attestation as `lsh_candidate_pairs` (``n_docs``
    ≤ ``plans.attest.BROADCAST_MAX_ROWS``); above it both lookups are
    shuffle equi-joins on the doc id — the candidate list
    hash-partitions on id_a then id_b, each doc's set co-locating with
    its pairs. The vocabulary probe is one tiny count job on data
    already needed for the masks (the dictionary broadcast inside
    `_bitset_masks` is bounded by ``bitset_max_vocab``, not the corpus,
    so it is always safe).
    """
    from ._cache import cached_build, cached_relation, plan_key
    unit = (word_shingles(text_col, shingle_n) if shingle_n
            else F.array_distinct(ws_tokens(text_col)))
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.explode(unit).alias("_tok"))
    vocab = toks.select("_tok").distinct()
    # the vocabulary-size probe is one distinct-count job over the
    # corpus — memoized per corpus plan (session cache) so repeated
    # verify calls against the same corpus don't re-scan it
    n_vocab = cached_build(df.sparkSession,
                           ("jaccard_vocab", plan_key(toks)),
                           vocab.count)
    if n_vocab <= bitset_max_vocab:
        sets = _bitset_masks(toks, n_vocab, vocab)
        n_words = (n_vocab + 63) // 64
        shared = _popcount_and(n_words)
    else:
        sets = df.select(
            F.col(id_col).alias("_id"),
            F.array_distinct(F.transform(unit, lambda t: F.xxhash64(t)))
            .alias("_s"))
        shared = lambda a, b: F.size(F.array_intersect(a, b))  # noqa: E731
    # the per-doc set relation is referenced as BOTH join sides below,
    # and Spark does not CSE across join sides — without persistence
    # the whole shingle/hash upstream executes twice per verify. Like
    # the band-key relation, it is a fixed-width-per-doc index artifact
    # (the session cache's staleness/eviction contract applies).
    sets = cached_relation(sets, "jaccard_sets")
    a = sets.select(F.col("_id").alias("id_a"), F.col("_s").alias("_sa"),
                    F.col("_n").alias("size_a") if "_n" in sets.columns
                    else F.size("_s").alias("size_a"))
    b = sets.select(F.col("_id").alias("id_b"), F.col("_s").alias("_sb"),
                    F.col("_n").alias("size_b") if "_n" in sets.columns
                    else F.size("_s").alias("size_b"))
    sh = shared(F.col("_sa"), F.col("_sb"))
    a = maybe_broadcast(a, n_docs)
    b = maybe_broadcast(b, n_docs)
    return (candidates.join(a, "id_a").join(b, "id_b")
            .select("id_a", "id_b", sh.cast("int").alias("shared"),
                    "size_a", "size_b")
            .withColumn("jaccard",
                        F.col("shared").cast("double")
                        / (F.col("size_a") + F.col("size_b") - F.col("shared"))))


def line_dedup(docs: DataFrame, id_col: str = "doc_id",
               text_col: str = "text", sep: str = "\n",
               min_chars: int = 1, _line_key=None,
               winners: DataFrame | None = None) -> DataFrame:
    """(id, text, n_lines, n_lines_kept): corpus-wide LINE/PARAGRAPH
    deduplication — CCNet's paragraph-grain dedup (Wenzek et al. 2019
    §3: boilerplate headers, cookie banners, navigation chrome repeat
    ACROSS documents whose full texts are unique, so document-grain
    dedup never sees them). Each distinct line keeps exactly ONE
    occurrence corpus-wide — the (doc, position)-minimal one, a
    deterministic total order — and every later duplicate is dropped;
    lines shorter than `min_chars` (blank separators) always survive
    and never dedup. Documents reassemble in original line order;
    a document whose every line was boilerplate keeps empty text with
    ``n_lines_kept = 0`` (visible, caller drops by predicate).
    `sep` is a LITERAL separator (regex-quoted for the split, used
    verbatim for the reassembly join — the two must agree).

    Scale: one posexplode + one line-keyed aggregate (map-side
    combined; the shuffle key is the 128-bit md5 line hash — the
    module's dedup-key convention, see `exact_dedup_groups`) + one
    hash-keyed join back + one per-doc reassembly aggregate — the
    exact_dedup shuffle economics at line grain, no corpus-sized
    broadcast, no window. The winner relation is
    distinct-line-bounded (boilerplate-heavy corpora: ≪ total lines).

    Collision safety (VERDICT r14 #1): the winner struct carries the
    winning LINE TEXT, and the join-back only dedups an occurrence
    whose text EQUALS the winner's — a hash collision therefore makes
    the losing distinct line survive everywhere (bounded under-dedup),
    never silently erases it corpus-wide (unbounded data loss). The
    `_line_key` seam exists so tests can plant a colliding key; the
    production key is md5 (collisions vanish at any corpus size).

    Catalog coverage: q50's line-dedup leg replays the winner rule +
    reassembly against DuckDB at a frequent-token grain (the synthetic
    corpus has no newline structure); planted multi-line parity lives
    in tests/test_line_dedup.py."""
    if winners is None:
        winners = line_winners(docs, id_col, text_col, sep, min_chars,
                               _line_key=_line_key)
    # else: a caller-supplied winner INDEX (the `segment.encode_pieces
    # wseg=` artifact pattern — session-cache `line_winners` once per
    # corpus version and repeat scrubs pay only the join-back; also
    # the streaming rollup's re-scrub path)
    return scrub_with_line_winners(docs, winners, id_col, text_col, sep,
                               min_chars, _line_key=_line_key)


#: The merge law of `line_winners` partials: the (doc, position)-minimal
#: occurrence wins.
LINE_WINNER_MERGE = {"_w": "min"}


def line_winners(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text", sep: str = "\n",
                 min_chars: int = 1, _line_key=None) -> DataFrame:
    """(_h, _w{d, i, t}): the (doc, position)-minimal occurrence per
    distinct dedupable line — `line_dedup`'s winner INDEX stage,
    exposed because it is also the streaming sink's persisted
    artifact. MIN over the (d, i, t) struct is associative and
    commutative, so per-epoch partial winners min-merge
    (`sketches.merge_partials` under `LINE_WINNER_MERGE`) into EXACTLY
    the batch winners regardless of arrival order — the maintenance
    law the streaming twin rides."""
    key = _line_key if _line_key is not None else F.md5
    lines = _exploded_lines(docs, id_col, text_col, sep)
    # one winner per distinct line: the struct min orders by doc then
    # position (then text, relevant only under a planted collision) —
    # deterministic, rerun-stable
    return (lines.filter(F.length("_ln") >= min_chars)
            .groupBy(key(F.col("_ln")).alias("_h"))
            .agg(F.min(F.struct(F.col("_id").alias("d"),
                                F.col("_i").alias("i"),
                                F.col("_ln").alias("t")))
                 .alias("_w")))


def _sep_regex(sep: str) -> str:
    """Regex matching `sep` LITERALLY — java.util.regex.Pattern.quote
    semantics, so the split agrees with the verbatim array_join
    reassembly for EVERY separator. A bare ``\\Q + sep + \\E`` breaks
    when sep itself contains ``\\E`` (the quote region ends early and
    the tail is interpreted as live regex — silent round-trip
    corruption); like Pattern.quote, each embedded ``\\E`` closes the
    quote, matches a backslash-escaped ``\\E``, and reopens it."""
    return "\\Q" + sep.replace("\\E", "\\E\\\\E\\Q") + "\\E"


def _exploded_lines(docs: DataFrame, id_col: str, text_col: str,
                    sep: str) -> DataFrame:
    # literal-separator split: Pattern.quote-style \Q...\E quoting, so
    # a sep like ". " (regex metachars) — or one containing "\E" —
    # splits on the literal string the reassembly array_join re-inserts
    sep_re = _sep_regex(sep)
    return docs.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), sep_re)).alias("_i", "_ln"))


def scrub_with_line_winners(docs: DataFrame, winners: DataFrame,
                        id_col: str, text_col: str, sep: str,
                        min_chars: int, _line_key=None) -> DataFrame:
    """Apply a winner index to `docs`: drop every dedupable line
    occurrence that is not its winner, reassemble in line order —
    `line_dedup`'s scrub stage, shared with the streaming sink (where
    `winners` is the rolled-up persisted index)."""
    key = _line_key if _line_key is not None else F.md5
    sep_re = _sep_regex(sep)
    lines = _exploded_lines(docs, id_col, text_col, sep)
    dedupable = F.length("_ln") >= min_chars
    keep = (lines
            .join(winners, key(F.col("_ln")) == F.col("_h"), "left")
            .filter(~dedupable
                    # a key collision pairs this line with ANOTHER
                    # line's winner: text inequality proves it was
                    # never deduplicated against — it survives. A
                    # missing index entry (streaming: line first seen
                    # this epoch is always present; NULL only under a
                    # caller-supplied partial index) keeps the line.
                    | F.col("_w").isNull()
                    | (F.col("_w.t") != F.col("_ln"))
                    | ((F.col("_w.d") == F.col("_id"))
                       & (F.col("_w.i") == F.col("_i")))))
    return (keep.groupBy("_id")
            .agg(F.array_join(
                    F.transform(F.array_sort(F.collect_list(
                        F.struct(F.col("_i").alias("i"),
                                 F.col("_ln").alias("s")))),
                        lambda x: x["s"]),
                    sep).alias(text_col),
                 F.count("*").alias("n_lines_kept"))
            .join(docs.select(F.col(id_col).alias("_id"),
                              F.col(text_col).isNull().alias("_tnull"),
                              F.size(F.split(F.col(text_col), sep_re))
                              .alias("n_lines")), "_id", "right")
            .select(F.col("_id").alias(id_col),
                    # NULL text stays NULL (the package's propagation
                    # convention); a doc whose lines ALL deduped away
                    # keeps empty text — the visible-loss contract
                    F.when(F.col("_tnull"),
                           F.lit(None).cast("string"))
                    .otherwise(F.coalesce(F.col(text_col), F.lit("")))
                    .alias(text_col),
                    "n_lines",
                    F.when(F.col("_tnull"),
                           F.lit(None).cast("long"))
                    .otherwise(F.coalesce("n_lines_kept", F.lit(0))
                               .cast("long"))
                    .alias("n_lines_kept")))


def edit_distance_verify(docs: DataFrame, candidates: DataFrame,
                         id_col: str = "doc_id",
                         text_col: str = "text",
                         n_docs: int | None = None,
                         max_dist: int | None = None) -> DataFrame:
    """candidates + (edit_dist, edit_sim): exact Levenshtein
    verification of candidate pairs — the CHARACTER-level near-dup
    verify beside the token-set Jaccard (`exact_jaccard`) and the
    fingerprint Hamming (`simhash_near_dups`) verifies, completing
    the family a pipeline picks from by unit (set overlap vs edit
    churn vs bit distance). `edit_sim` = 1 − dist/max(|a|,|b|) — the
    normalized similarity in [0, 1] (1.0 = identical), computed with
    one division then one subtraction so an oracle mirroring that
    order is bit-identical.

    Scale: ONLY candidate pairs pay the O(|a|·|b|) distance (the
    banded LSH stage owns candidate generation — never all-pairs).
    With `max_dist` set (VERDICT r14 #2), the JVM runs the
    THRESHOLD-BOUNDED banded DP (`levenshtein(l, r, threshold)`,
    Spark 3.5+) — O(max_dist · min(|a|,|b|)) instead of O(|a|·|b|),
    the knob to set before pointing this at whole web documents —
    and a pair beyond the bound gets NULL `edit_dist`/`edit_sim`
    (fail-visible "not verified within bound", filtered by any
    `edit_sim >= s` predicate); below the bound the values are
    IDENTICAL to the exact form, pinned by test. `max_dist=None`
    keeps the exact unbounded distance (the q52 oracle contract).

    `F.levenshtein` is CODE-POINT-based; DuckDB's `levenshtein` is
    BYTE-based (('é','a') → 1 vs 2), so oracle mirrors are only
    comparable over ASCII — the q52 leg fails loud in the oracle on
    non-ASCII text, and tests/test_edit_distance.py pins both the
    divergence and the engine's code-point semantics. The per-doc
    text side broadcasts only under the same ``n_docs`` attestation
    as `lsh_candidate_pairs`; above the cap both lookups are shuffle
    equi-joins co-locating each doc's text with its pairs."""
    a = docs.select(F.col(id_col).alias("id_a"),
                    F.col(text_col).alias("_txa"))
    b = docs.select(F.col(id_col).alias("id_b"),
                    F.col(text_col).alias("_txb"))
    a = maybe_broadcast(a, n_docs)
    b = maybe_broadcast(b, n_docs)
    joined = candidates.join(a, "id_a").join(b, "id_b")
    raw = (F.levenshtein(F.col("_txa"), F.col("_txb"))
           if max_dist is None
           else F.levenshtein(F.col("_txa"), F.col("_txb"),
                              int(max_dist)))
    # evaluate the DP exactly ONCE per pair: both output columns
    # consume the distance, and CollapseProject would inline the
    # expensive expression into every consumer (2 evaluations exact,
    # 4 bounded — measured 4× wall clock on long documents). The
    # always-true nondeterministic guard (seeded rand) pins the
    # distance in its own projection, which Catalyst may not collapse
    # into deterministic consumers — downstream references are plain
    # column reads
    joined = joined.withColumn(
        "_edr", F.when(F.rand(7) >= F.lit(-1.0), raw))
    # banded DP early-exit: -1 = beyond the bound → NULL columns
    dist = (F.col("_edr") if max_dist is None
            else F.when(F.col("_edr") >= 0, F.col("_edr")))
    mx = F.greatest(F.length("_txa"), F.length("_txb"))
    # two empty texts are identical (sim 1.0), not a 0/0 — pinned so
    # the oracle mirror can use the same CASE instead of inheriting
    # each engine's different divide-by-zero convention
    sim = F.when(mx == 0, F.lit(1.0)).otherwise(
        F.lit(1.0) - dist.cast("double") / mx.cast("double"))
    return (joined
            .withColumn("edit_dist", dist.cast("int"))
            .withColumn("edit_sim", sim)
            .drop("_txa", "_txb", "_edr"))


def _bitset_masks(toks: DataFrame, n_vocab: int, vocab: DataFrame) -> DataFrame:
    """(_id, _s: array<long> packed bitset, _n: set size) per doc.

    Dense token ids come from a row_number over the (tiny) vocab; each
    doc's tokens are distinct, so SUM of 1<<bit per word == bitwise OR.
    """
    from pyspark.sql import Window
    n_words = (n_vocab + 63) // 64
    ids = vocab.withColumn(
        "_tid", F.row_number().over(Window.orderBy("_tok")) - 1)
    tagged = (toks.join(bounded_broadcast(
        ids, bound="SimHash dense-id vocab (caller-bounded n_vocab)"),
        "_tok")
              .withColumn("_w", (F.col("_tid") / 64).cast("int"))
              .withColumn("_bit", F.col("_tid") % 64))
    word_aggs = [
        F.sum(F.when(F.col("_w") == w,
                     F.expr("shiftleft(cast(1 as bigint), _bit)"))
              .otherwise(F.lit(0).cast("long"))).alias(f"_m{w}")
        for w in range(n_words)
    ]
    masks = tagged.groupBy("_id").agg(*word_aggs,
                                      F.count("*").alias("_cnt"))
    return masks.select(
        "_id",
        F.array(*[F.col(f"_m{w}") for w in range(n_words)]).alias("_s"),
        F.col("_cnt").cast("int").alias("_n"))


def _popcount_and(n_words: int):
    """shared(a, b) = Σ_w bit_count(a[w] & b[w]) — unrolled, codegen'd."""
    def shared(a: Column, b: Column) -> Column:
        terms = [F.bit_count(a.getItem(w).bitwiseAND(b.getItem(w)))
                 for w in range(n_words)]
        out = terms[0]
        for t in terms[1:]:
            out = out + t
        return out
    return shared


def simhash_near_dups(sig: DataFrame, id_col: str = "doc_id",
                      sim_col: str = "simhash", max_hamming: int = 3,
                      bands: int = 4, n_docs: int | None = None,
                      cache_keys: bool = True) -> DataFrame:
    """(id_a, id_b, hamming) pairs with Hamming(simhash) ≤ max_hamming
    — the Manku-style SimHash dedup leg over `simhash32` output.

    Pigeonhole: a pair within `max_hamming` ≤ bands-1 bit flips must
    agree exactly on at least one of `bands` equal-width bit bands, so
    candidates come from band-equality buckets and only candidates pay
    the Hamming verify (bit_count(xor) — one codegen'd op). The
    banding IS `lsh_candidate_pairs` with rows=1 over the band bytes,
    so candidates come from the module's one band probe
    (`_band_probe`) — the same machine for text-LSH, SimHash and
    incremental candidate generation."""
    if not 0 <= max_hamming < bands:
        raise ValueError(
            f"max_hamming ({max_hamming}) must be < bands ({bands}) "
            "for the pigeonhole band guarantee to hold")
    width = 32 // bands
    sim = F.col(sim_col)
    band_cols = [
        (F.shiftright(sim, b * width)
         .bitwiseAND((1 << width) - 1)).alias(f"h{b}")
        for b in range(bands)
    ]
    keyed = sig.select(F.col(id_col), sim.alias("_sim"), *band_cols)
    cands = lsh_candidate_pairs(keyed, id_col, bands=bands, rows=1,
                                n_docs=n_docs, cache_keys=cache_keys)
    a = keyed.select(F.col(id_col).alias("id_a"), F.col("_sim").alias("_sa"))
    b = keyed.select(F.col(id_col).alias("id_b"), F.col("_sim").alias("_sb"))
    return (cands
            .join(maybe_broadcast(a, n_docs), "id_a")
            .join(maybe_broadcast(b, n_docs), "id_b")
            .select("id_a", "id_b",
                    F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb")))
                    .alias("hamming"))
            .filter(F.col("hamming") <= max_hamming))


def simhash32(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """32-bit SimHash over whitespace tokens.

    Token hash = first 8 hex chars of md5 as a 32-bit unsigned int
    (conv(hex,16,10) — JVM-side); per-bit ±1 votes summed per doc; sign
    of each vote is the output bit. One explode + one group-by with 32
    conditional-sum aggregates — all codegen'd, no UDF.
    """
    toks = df.select(F.col(id_col),
                     F.explode(F.array_distinct(ws_tokens(text_col))).alias("tok"))
    h = F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("long")
    toks = toks.withColumn("_h", h)
    votes = [
        F.sum(F.when(F.shiftright(F.col("_h"), i).bitwiseAND(1) == 1, 1)
              .otherwise(-1)).alias(f"v{i}")
        for i in range(32)
    ]
    sig = toks.groupBy(id_col).agg(*votes)
    bit_terms = [
        F.when(F.col(f"v{i}") > 0, F.lit(2 ** i).cast("long"))
        .otherwise(F.lit(0).cast("long"))
        for i in range(32)
    ]
    total = bit_terms[0]
    for t in bit_terms[1:]:
        total = total + t
    return sig.select(F.col(id_col), total.alias("simhash"))


def incremental_exact(new_docs: DataFrame,
                      seen_hashes: DataFrame) -> DataFrame:
    """Incremental exact dedup (X-DEDUP-INCR): keep only the rows of a
    NEW (doc_id, text) batch whose content was never seen — the batch
    sibling of `streaming.dedup.dedup_stream`, for pipelines that ingest by
    COPY/batch rather than a stream.

    Two stages, both equi-keyed on the uniform content hash:
    1. intra-batch: min-id keeper per distinct batch content
       (`exact_dedup_groups` semantics);
    2. cross-corpus: LEFT ANTI join against `seen_hashes`
       (column ``content_hash`` — the persisted corpus index).

    Output carries ``content_hash`` so the caller appends exactly
    these rows to the index (`seen_hashes ∪ output` is the next
    index) — the same grow-the-index contract as COPY load-history.

    100 TB design: the index is corpus-sized and must NOT reshuffle
    per batch — land it bucketed on ``content_hash``
    (`plans.layout.land_bucketed`, bucket count == the join's
    partition count, the standard co-location contract) and the
    anti-join plan reads it in place: the executed plan carries
    exactly ONE exchange, the small batch shuffling into the index's
    bucketing, shared by the intra-batch window and the join
    (`tests/test_incremental_dedup.py` pins it). The batch side is
    hashed once (md5 projection) before either stage.
    """
    hashed = new_docs.withColumn("content_hash",
                                 F.md5(F.col("text")))
    keeper = Window.partitionBy("content_hash").orderBy("doc_id")
    batch_first = (hashed
                   .withColumn("_rn", F.row_number().over(keeper))
                   .filter(F.col("_rn") == 1).drop("_rn"))
    return batch_first.join(seen_hashes.select("content_hash"),
                            "content_hash", "left_anti")


# ---------------------------------------------------------------------------
# Repeated-span scrub (X-DEDUP-SPAN) — C4/RefinedWeb-style cross-document
# line deduplication, adapted to unbroken text: the dedup unit is a
# non-overlapping `span_tokens`-wide token window instead of a physical
# line (the corpora this engine targets are newline-free token streams;
# with newline-delimited text, pass a line-array column through the same
# scrub). A span that occurs in >= min_docs DISTINCT documents is
# boilerplate (headers, navigation chrome, license blurbs) and is removed
# from EVERY document, preserving the order of the surviving spans.

SPAN_TOKENS = 3
SPAN_MIN_DOCS = 2


def doc_spans(text: Column | str, span_tokens: int = SPAN_TOKENS) -> Column:
    """Row-local array of non-overlapping token windows (the dedup
    unit), width `span_tokens`, tail clamped. Pure Catalyst higher-order
    expressions — no explode, no shuffle, no Python."""
    toks = ws_tokens(text)
    n_spans = F.ceil(F.size(toks) / F.lit(span_tokens)).cast("int")
    return F.when(
        F.size(toks) > 0,
        F.transform(
            F.sequence(F.lit(0), n_spans - 1),
            lambda g: F.array_join(
                F.slice(toks, g * span_tokens + 1, span_tokens), " ")),
    ).otherwise(F.array().cast("array<string>"))


def repeated_spans(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text",
                   span_tokens: int = SPAN_TOKENS,
                   min_docs: int = SPAN_MIN_DOCS) -> DataFrame:
    """(span, n_docs) for every span present in >= min_docs distinct
    documents. `array_distinct` BEFORE the explode makes each (doc,
    span) pair unique, so the count is a plain map-side-combinable
    COUNT(*) — no count-distinct double shuffle. One uniform shuffle on
    the span value, the same profile as exact_dedup_groups."""
    sp = docs.select(
        F.explode(F.array_distinct(doc_spans(text_col, span_tokens)))
        .alias("span"))
    return (sp.groupBy("span").agg(F.count("*").alias("n_docs"))
            .filter(F.col("n_docs") >= min_docs))


def scrub_repeated_spans(docs: DataFrame,
                         span_tokens: int = SPAN_TOKENS,
                         min_docs: int = SPAN_MIN_DOCS) -> DataFrame:
    """Remove globally-repeated spans from every (doc_id, text)
    document. Output: (doc_id, n_spans, n_removed, cleaned) with
    surviving spans rejoined in original order.

    The primary plan: posexplode -> LEFT ANTI equi-join on the span
    value -> order-preserving reassembly (groupBy doc, sort by
    position). 100 TB design: the span count is one uniform-key
    map-side-combinable aggregation; the anti-join probes the common
    side — an aggregate gated by min_docs, i.e. shared boilerplate, not
    corpus-sized — which AQE converts to a broadcast hash anti-join at
    runtime when it materializes small (the plan never commits to
    holding it in memory); reassembly is the one corpus shuffle, keyed
    on the doc id. pytest pins it row-equal to an independent Python
    reference."""
    common = repeated_spans(docs, "doc_id", "text", span_tokens, min_docs)
    sp = docs.select(
        F.col("doc_id"),
        F.posexplode(doc_spans("text", span_tokens))
        .alias("pos", "span"))
    kept = sp.join(common.select("span"), "span", "left_anti")
    base = docs.select(
        F.col("doc_id"),
        F.size(doc_spans("text", span_tokens)).alias("n_spans"))
    return _reassemble_scrub(kept, base, "doc_id",
                             count_col="n_spans",
                             pos_col="pos", unit_col="span")


# ---------------------------------------------------------------------------
# Exact variable-length substring scrub (X-DEDUP-SUBSTR) — the
# ExactSubstr class (Lee et al. 2021, "Deduplicating Training Data
# Makes Language Models Better"): remove every repeated token run of
# length >= min_len, wherever and however long it is — the long-match
# complement of the fixed-window `scrub_repeated_spans`.
#
# Position-cover formulation (what makes it distributable WITHOUT the
# paper's monolithic suffix array): a token position belongs to some
# repeated substring of length >= L  iff  it is covered by at least one
# sliding L-token window whose content occurs >= min_count times in the
# corpus. (=>: a repeated run of length M >= L contains, for each of
# its positions, an L-window lying wholly inside the run, and every
# such window inherits the run's repetition. <=: a repeated L-window IS
# a repeated substring covering its positions.) So the union of covered
# positions equals the union of maximal repeated runs — matched runs of
# ANY length extend implicitly through overlapping windows; no
# iterative extension step, no cross-partition run state.
#
# Scale shape: the window-occurrence relation is corpus-token-sized ×
# one 32-hex digest column (windows are hashed BEFORE the shuffle, so
# shuffle width is independent of L); the repetition count is one
# uniform map-side-combinable aggregate; the occurrence->repeated
# semi-join probes an aggregate gated by min_count (shared boilerplate,
# not corpus-sized — AQE broadcasts it when small); covered positions
# explode to <= L × repeated-occurrences rows and anti-join the token
# relation on (doc, pos); reassembly is ONE doc-keyed shuffle with
# per-doc state bounded by the doc's own token count (the chunking
# bound). All counting includes intra-doc repeats (the paper's
# semantics: a string repeated twice in one document is as much a
# duplicate as one repeated across documents).

SUBSTR_MIN_LEN = 8
SUBSTR_MIN_COUNT = 2
#: The merge law of `window_hash_index` partials: occurrence counts
#: add; the window width `min_len` is a key like the digest.
WINDOW_INDEX_MERGE = {"n_occurrences": "sum"}


def _window_occurrences(docs: DataFrame, id_col: str, text_col: str,
                        min_len: int) -> DataFrame:
    """(id_col, p, _h): every sliding min_len-token window as (start
    position, md5 digest) — hashed row-locally BEFORE any shuffle, so
    downstream key width is independent of min_len."""
    toks = ws_tokens(text_col)
    starts = F.when(
        F.size(toks) >= min_len,
        F.sequence(F.lit(0), F.size(toks) - F.lit(min_len)),
    ).otherwise(F.array().cast("array<int>"))
    return (docs.select(F.col(id_col), toks.alias("_t"),
                        F.explode(starts).alias("p"))
            .select(id_col, "p",
                    F.md5(F.array_join(
                        F.slice("_t", F.col("p") + 1, min_len), " "))
                    .alias("_h")))


def _covered_positions(occ: DataFrame, rep_hashes: DataFrame,
                       id_col: str, min_len: int) -> DataFrame:
    """(id_col, tpos): token positions covered by an occurrence whose
    hash is in `rep_hashes` (column ``_h``). Rows may repeat; callers
    anti-join, which doesn't care."""
    return (occ.join(rep_hashes.select("_h"), "_h", "left_semi")
            .select(id_col,
                    F.explode(F.sequence(
                        F.col("p"), F.col("p") + (min_len - 1)))
                    .alias("tpos")))


def repeated_window_positions(docs: DataFrame, id_col: str = "doc_id",
                              text_col: str = "text",
                              min_len: int = SUBSTR_MIN_LEN,
                              min_count: int = SUBSTR_MIN_COUNT,
                              index: DataFrame | None = None,
                              occ: DataFrame | None = None
                              ) -> DataFrame:
    """(id_col, tpos): every token position covered by a repeated
    sliding window — i.e. lying inside some repeated substring of
    length >= min_len. Rows may repeat (one position can be covered
    by several windows); callers anti-join, which doesn't care.

    ``index``: an already-built `window_hash_index` of THIS corpus at
    this min_len (the persisted artifact). When given, the repeated
    set is its min_count filter — no second corpus-wide count
    shuffle; the corpus is re-scanned only for the (cheap, narrow)
    position relation. Its width is checked by
    `window_width_checked`.

    ``occ``: an already-built `_window_occurrences` relation of THIS
    corpus at this min_len (the position-level shared scan, r12 —
    VERDICT r11 #4: the scrub, the index build, and the incremental
    leg each re-hashed every window; with the occurrence relation a
    session artifact, the corpus is window-hashed exactly once across
    the whole substring family)."""
    if occ is None:
        occ = _window_occurrences(docs, id_col, text_col, min_len)
    if index is None:
        rep = (occ.groupBy("_h").agg(F.count("*").alias("_c"))
               .filter(F.col("_c") >= int(min_count)))
    else:
        rep = (window_width_checked(index, min_len)
               .select(F.col("window_hash").alias("_h"),
                       F.col("n_occurrences").alias("_c"))
               .filter(F.col("_c") >= int(min_count)))
    return _covered_positions(occ, rep, id_col, min_len)


def scrub_duplicate_substrings(docs: DataFrame,
                               min_len: int = SUBSTR_MIN_LEN,
                               index: DataFrame | None = None,
                               occ: DataFrame | None = None
                               ) -> DataFrame:
    """Remove every token run that is part of a repeated substring of
    length >= min_len (corpus-wide occurrence count >=
    SUBSTR_MIN_COUNT, intra-doc repeats included) from every
    (doc_id, text) document. Output: (doc_id, n_tokens, n_removed,
    cleaned) with surviving tokens rejoined in original order —
    the scrub report a pipeline persists beside the cleaned corpus.

    Docs shorter than min_len tokens pass through untouched; a doc
    that is entirely repeated content cleans to ''. ALL copies of a
    repeated substring are removed (the deterministic, symmetric
    choice — matching the module's span-scrub semantics; keep-one
    policies need an ordering authority, which a 100 TB stream does
    not have).

    ``index``: reuse an already-built `window_hash_index` of this
    corpus (identical output, one fewer corpus-wide count shuffle —
    the pipeline that persists the index anyway scrubs from it)."""
    covered = repeated_window_positions(docs, "doc_id", "text", min_len,
                                        SUBSTR_MIN_COUNT, index, occ)
    return _scrub_report(docs, covered, "doc_id", "text")


def _scrub_report(docs: DataFrame, covered: DataFrame, id_col: str,
                  text_col: str) -> DataFrame:
    """(id_col, n_tokens, n_removed, cleaned): drop the covered token
    positions and reassemble survivors in order — one doc-keyed
    shuffle, per-doc state bounded by the doc's own token count."""
    tok = docs.select(
        F.col(id_col),
        F.posexplode(ws_tokens(text_col)).alias("tpos", "tok"))
    kept = tok.join(covered, [id_col, "tpos"], "left_anti")
    base = docs.select(F.col(id_col),
                       F.size(ws_tokens(text_col)).alias("n_tokens"))
    return _reassemble_scrub(kept, base, id_col,
                             count_col="n_tokens",
                             pos_col="tpos", unit_col="tok")


def _reassemble_scrub(kept: DataFrame, base: DataFrame, id_col: str, *,
                      count_col: str, pos_col: str,
                      unit_col: str) -> DataFrame:
    """The ONE order-preserving scrub reassembly (ADVICE r10 — was
    inlined twice): survivors (id, pos, unit) group per doc, sort by
    position, rejoin with spaces; docs with zero survivors COALESCE to
    '' via the left join to `base` (id, count_col). Output:
    (id_col, count_col, n_removed, cleaned). One doc-keyed shuffle,
    per-doc state bounded by the doc's own unit count."""
    rebuilt = (kept.groupBy(id_col)
               .agg(F.array_join(
                        F.transform(
                            F.array_sort(F.collect_list(
                                F.struct(pos_col, unit_col))),
                            lambda x: x[unit_col]), " ").alias("cleaned"),
                    F.count("*").alias("_n_kept")))
    return (base.join(rebuilt, id_col, "left")
            .select(
                id_col, count_col,
                (F.col(count_col) - F.coalesce(F.col("_n_kept"),
                                               F.lit(0)))
                .cast("long").alias("n_removed"),
                F.coalesce(F.col("cleaned"), F.lit("")).alias("cleaned")))


def window_hash_index(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text",
                      min_len: int = SUBSTR_MIN_LEN,
                      occ: DataFrame | None = None) -> DataFrame:
    """(window_hash, n_occurrences, min_len): the persistable
    substring-dedup INDEX artifact — corpus-wide occurrence counts per
    sliding min_len-window digest. Bounded by distinct windows × one
    32-hex column; merge law = plain SUM (the CMS/histogram
    linearity), so a pipeline grows it per ingest batch
    (`sketches.merge_partials` under `WINDOW_INDEX_MERGE`) and forgets
    documents (`sketches.subtract_partials`) — the same grow-the-index
    contract as `incremental_exact`'s content hashes and the band-key
    index. Land it bucketed on window_hash (`plans.layout.land_bucketed`)
    so batch probes join co-located.

    `min_len` rides IN the artifact (ADVICE r10): two indexes built
    with different window widths count incomparable things, and a
    probe at the wrong width silently misses every digest — so every
    reader checks it (`window_width_checked`) and fails loud on a width
    mismatch instead of trusting a docstring."""
    if occ is None:
        occ = _window_occurrences(docs, id_col, text_col, min_len)
    return (occ.groupBy(F.col("_h").alias("window_hash"))
            .agg(F.count("*").alias("n_occurrences"))
            .withColumn("min_len", F.lit(int(min_len))))


def window_width_checked(index: DataFrame, min_len: int,
                         rows: DataFrame | None = None,
                         count_col: str = "n_occurrences") -> DataFrame:
    """`rows` (default: `index` itself) with `count_col` raising unless
    every window of `index` is `min_len` tokens wide — the ONE width
    check of the substring family: the repeated-set read, the
    incremental probe, both sides of a subtraction and (through the
    probe) the streaming sink's index read.

    An index of another width shares (almost) no digests with this
    width's windows, so a per-row or per-join check could never fire:
    the check is GLOBAL (one index-bounded min/max aggregate, broadcast
    as one row; an empty index passes) and lives inside the count
    expression, where column pruning cannot disarm it. Pass the rows
    every probe evaluates as `rows` (the incremental probe's batch
    totals), so the guard fires even when no digest matches."""
    rows = index if rows is None else rows
    chk = index.agg(F.min("min_len").alias("_lo"),
                    F.max("min_len").alias("_hi"))
    bad = (F.col("_lo") != int(min_len)) | (F.col("_hi") != int(min_len))
    n = F.when(F.coalesce(bad, F.lit(False)), F.raise_error(F.lit(
        f"window index built at a different min_len than {min_len} — "
        "its digests cannot match this width's windows; rebuild it at "
        "this width")).cast("long")).otherwise(F.col(count_col))
    return (rows.crossJoin(bounded_broadcast(
                chk, bound="one-row min_len provenance check", max_rows=1))
            .select(*(n.alias(c) if c == count_col else c
                      for c in rows.columns)))


def incremental_scrub_duplicate_substrings(
        new_docs: DataFrame, index: DataFrame,
        id_col: str = "doc_id", text_col: str = "text",
        min_len: int = SUBSTR_MIN_LEN,
        min_count: int = SUBSTR_MIN_COUNT,
        occ: DataFrame | None = None) -> DataFrame:
    """Scrub an INGEST BATCH against the persisted corpus
    `window_hash_index` without re-scanning the corpus — the
    substring sibling of `incremental_exact` /
    `incremental_near_dup_candidates`, completing the per-artifact
    incremental family. A batch window is repeated iff its batch
    count PLUS the index count reaches min_count (counts are
    additive), so the output equals the full-corpus
    `scrub_duplicate_substrings(corpus ∪ batch)` restricted to the
    batch docs — pinned in tests. Returns the batch's scrub report;
    the caller grows the index with `sketches.merge_partials([index,
    window_hash_index(new_docs)], WINDOW_INDEX_MERGE)`.

    Scale shape: the batch side is hashed once; the only
    corpus-sized relation is the index, probed by ONE equi-join on
    the digest (batch-count-sized left side — land the index
    bucketed and the join is co-located, the incremental_exact
    plan contract); everything else is batch-sized. ``occ``: the
    batch's already-built `_window_occurrences` relation (e.g. the
    shared corpus occurrence artifact filtered to the batch docs)."""
    if occ is None:
        occ = _window_occurrences(new_docs, id_col, text_col, min_len)
    batch = occ.groupBy("_h").agg(F.count("*").alias("_cb"))
    # the width guard rides the batch totals, which every batch window
    # evaluates, matched or not
    tot = (batch.join(index.select(F.col("window_hash").alias("_h"),
                                   F.col("n_occurrences").alias("_ci")),
                      "_h", "left")
           .select("_h", (F.col("_cb") + F.coalesce(
               F.col("_ci"), F.lit(0).cast("long"))).alias("_c")))
    rep = (window_width_checked(index, min_len, rows=tot, count_col="_c")
           .filter(F.col("_c") >= int(min_count)))
    covered = _covered_positions(occ, rep, id_col, min_len)
    return _scrub_report(new_docs, covered, id_col, text_col)


# ---------------------------------------------------------------------------
# Incremental near-dup (X-DEDUP-INCR-NEAR) — the MinHash sibling of
# `incremental_exact`: dedup an ingest batch against a PERSISTED corpus
# LSH index without recomputing corpus signatures.

#: The band layout of a persisted incremental index (`band_key_index`
#: over 8 MinHash permutations): the streaming near-dup sink writes
#: its index in it and the probe reads it back in the same layout.
INCR_BANDS = 4
INCR_ROWS = 2


def incremental_near_dup_candidates(new_docs: DataFrame,
                                    index_keys: DataFrame,
                                    id_col: str = "doc_id",
                                    text_col: str = "text",
                                    bands: int = INCR_BANDS,
                                    rows: int = INCR_ROWS,
                                    shingle_n: int = 3,
                                    max_bucket: int = 10000,
                                    n_new: int | None = None,
                                    n_index: int | None = None,
                                    keys: DataFrame | None = None
                                    ) -> DataFrame:
    """Candidate near-dup pairs of a NEW ingest batch: batch-vs-corpus
    (against the persisted `band_key_index`) plus intra-batch, as
    (id_new, id_match, source) with source ∈ {'index', 'batch'}. The
    caller verifies with `exact_jaccard` (batch texts + the stored
    corpus texts) and resolves keepers exactly as in the full pipeline.

    Scale design (the incremental contract):
    - corpus signatures are NEVER recomputed — the index relation is
      read in place; only the batch (ingest-sized) pays the shingle +
      MinHash stages;
    - the one band probe (`_band_probe`) for every band and both pair
      families: the batch keys probe index ∪ batch keys tagged by
      source; a batch match needs ``id_new < id_match`` (the
      intra-batch pair set). Under the ``n_new`` attestation the batch
      side broadcasts, so the corpus-sized index is read once and never
      reshuffles;
    - the bucket-width guard runs over that build side, i.e. the TOTAL
      corpus — index keys ∪ batch keys — not over either side alone.
      Total-width survival is exactly what a full re-run over the
      merged corpus computes, so incremental pair-set parity with the
      full pipeline holds even with the guard active, including a
      bucket that straddles ``max_bucket`` across the index/batch
      split. Short-circuited when ``n_index + n_new`` (an upper bound
      is enough) attests the merged corpus under ``max_bucket``.

    ``keys`` lets a caller that already built the batch's
    `band_key_index` (the streaming sink writes it to grow the index)
    pass it in instead of paying the shingle + MinHash stages twice.
    """
    if keys is None:
        # the batch signature relation feeds both probe sides; it is
        # ingest-batch-sized, so materialize it ONCE — an eager
        # localCheckpoint, not the session cache, because a streaming
        # caller submits a NEW batch plan per epoch and plan-keyed
        # cache entries would accumulate without bound
        sig = minhash_signature_shingled(new_docs, id_col, text_col,
                                         k=bands * rows, n=shingle_n
                                         ).localCheckpoint(eager=True)
        keys = band_key_index(sig, id_col, bands, rows)
    total = (index_keys.select("_id", *[f"_k{b}" for b in range(bands)])
             .withColumn("source", F.lit("index"))
             .unionByName(keys.withColumn("source", F.lit("batch"))))
    n_total = (n_index + n_new
               if n_index is not None and n_new is not None else None)
    return (_band_probe(keys, total, bands, max_bucket, n_new, n_total)
            .filter(F.when(F.col("ix.source") == "batch",
                           F.col("nw._id") < F.col("ix._id"))
                    .otherwise(F.col("nw._id") != F.col("ix._id")))
            .select(F.col("nw._id").alias("id_new"),
                    F.col("ix._id").alias("id_match"), F.col("ix.source")))
