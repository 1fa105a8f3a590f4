"""CCNet-style corpus-wide line/paragraph dedup (operators.dedup.
line_dedup): Python-reference parity over planted multi-line docs,
DuckDB oracle parity of the whole keep-then-reassemble plan, the
first-occurrence (doc, position) keep rule, short-line passthrough,
and the NULL/empty/all-boilerplate contracts. q50 carries the
catalog leg (frequent-token grain — the synthetic corpus is
single-line); this module owns the multi-line, collision, and
literal-separator coverage."""

from __future__ import annotations

import pytest

from snowflake_azure_etl_spark.operators import dedup

DOCS = [
    (1, "cookie banner\nunique alpha\nnav menu"),
    (2, "cookie banner\nunique beta"),
    (3, "nav menu\ncookie banner\nunique gamma\n\nunique delta"),
    (4, "cookie banner"),                 # all boilerplate -> empty
    (5, ""),                              # empty doc stays empty
    (6, None),                            # NULL text stays NULL
    (7, "unique alpha\nfresh epsilon"),   # dup of doc 1's line
]


def py_line_dedup(docs, sep="\n", min_chars=1):
    seen = {}
    for d, t in sorted(docs):
        if t is None:
            continue
        for i, ln in enumerate(t.split(sep)):
            if len(ln) >= min_chars and ln not in seen:
                seen[ln] = (d, i)
    out = {}
    for d, t in docs:
        if t is None:
            out[d] = (None, None, None)
            continue
        lines = t.split(sep)
        kept = [ln for i, ln in enumerate(lines)
                if len(ln) < min_chars or seen.get(ln) == (d, i)]
        out[d] = (sep.join(kept), len(lines), len(kept))
    return out


def test_line_dedup_matches_python_reference(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    got = {r["doc_id"]: (r["text"], r["n_lines"], r["n_lines_kept"])
           for r in dedup.line_dedup(docs).collect()}
    assert got == py_line_dedup(DOCS)
    # the signatures, pinned explicitly
    assert got[1][0] == "cookie banner\nunique alpha\nnav menu"
    assert got[2][0] == "unique beta"         # banner kept in doc 1 only
    assert got[3][0] == "unique gamma\n\nunique delta"
    assert got[3][1] == 5 and got[3][2] == 3  # blank line passed through
    assert got[4] == ("", 1, 0)               # all boilerplate: visible
    assert got[5] == ("", 1, 1)               # empty line never dedups
    assert got[6] == (None, None, None)       # NULL propagates
    assert got[7][0] == "fresh epsilon"       # cross-doc duplicate died


def test_line_dedup_duckdb_parity(spark):
    """The whole keep-then-reassemble plan replays in DuckDB: winner
    per line = (doc, position)-min, short lines pass through, docs
    reassemble in line order — hash-identical output."""
    duckdb = pytest.importorskip("duckdb")
    import pandas as pd
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    got = {r["doc_id"]: (r["text"], r["n_lines"], r["n_lines_kept"])
           for r in dedup.line_dedup(docs).collect()}
    con = duckdb.connect()
    con.register("d", pd.DataFrame(DOCS, columns=["doc_id", "text"]))
    rows = con.execute("""
        WITH lines AS (
            SELECT doc_id, i - 1 AS i, ln
            FROM (SELECT doc_id, string_split(text, chr(10)) AS ls
                  FROM d WHERE text IS NOT NULL)
            CROSS JOIN LATERAL (SELECT unnest(generate_series(
                1, len(ls))) AS i)
            CROSS JOIN LATERAL (SELECT ls[i] AS ln)),
        winners AS (
            SELECT ln, MIN(ROW(doc_id, i)) AS w
            FROM lines WHERE length(ln) >= 1 GROUP BY ln),
        keep AS (
            SELECT l.doc_id, l.i, l.ln FROM lines l
            LEFT JOIN winners w USING (ln)
            WHERE length(l.ln) < 1 OR w.w = ROW(l.doc_id, l.i)),
        re AS (
            SELECT doc_id,
                   array_to_string(list(ln ORDER BY i), chr(10)) AS t,
                   COUNT(*) AS kept
            FROM keep GROUP BY doc_id)
        SELECT d.doc_id,
               CASE WHEN d.text IS NULL THEN NULL
                    ELSE COALESCE(re.t, '') END,
               CASE WHEN d.text IS NULL THEN NULL
                    ELSE len(string_split(d.text, chr(10))) END,
               CASE WHEN d.text IS NULL THEN NULL
                    ELSE COALESCE(re.kept, 0) END
        FROM d LEFT JOIN re USING (doc_id)""").fetchall()
    want = {r[0]: (r[1], r[2], r[3]) for r in rows}
    assert got == want


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_LINES = ["boiler", "alpha", "beta", "", "x"]
_doc = st.lists(st.sampled_from(_LINES), min_size=0,
                max_size=4).map("\n".join)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(texts=st.lists(_doc, min_size=1, max_size=4))
def test_line_dedup_property_sweep(spark, texts):
    """Engine == Python reference over random multi-line corpora from
    a tiny line pool (maximal cross-doc and within-doc collisions,
    blank lines, empty docs)."""
    rows = list(enumerate(texts))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["text"], r["n_lines"], r["n_lines_kept"])
           for r in dedup.line_dedup(docs).collect()}
    assert got == py_line_dedup(rows)


def test_line_dedup_planted_hash_collision_cannot_drop_a_line(spark):
    """VERDICT r14 #1: two DISTINCT lines colliding on the winner key
    must never lose one of them corpus-wide. The `_line_key` seam
    plants the worst case — EVERY line in one bucket — and the
    text-equality guard at the join-back keeps every distinct line
    alive: only true duplicates of the bucket's (doc, pos)-minimal
    line dedup; all other lines survive untouched (bounded under-dedup,
    the safe failure mode). With the r14 xxhash64-only join this test
    is red: every line except the single global winner vanished."""
    from pyspark.sql import functions as F
    rows = [(1, "boiler\nalpha"), (2, "boiler\nbeta"), (3, "alpha")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["text"], r["n_lines_kept"])
           for r in dedup.line_dedup(
               docs, _line_key=lambda c: F.lit(0)).collect()}
    # 'boiler' is the global (doc, pos)-min winner: its doc-2 copy
    # dedups; 'alpha'/'beta' collide with it but SURVIVE everywhere
    # (including doc 3's duplicate 'alpha' — under-dedup, by contract)
    assert got[1] == ("boiler\nalpha", 2)
    assert got[2] == ("beta", 1)
    assert got[3] == ("alpha", 1)
    # no distinct line vanished from the corpus
    survivors = {ln for t, _ in got.values() for ln in t.split("\n")}
    assert survivors == {"boiler", "alpha", "beta"}
    # and the default (md5) key still dedups exactly
    exact = {r["doc_id"]: r["text"]
             for r in dedup.line_dedup(docs).collect()}
    assert exact == {1: "boiler\nalpha", 2: "beta", 3: ""}


def test_line_dedup_literal_separator(spark):
    """`sep` is literal, not a regex: '. ' (dot = regex any-char) must
    split on the two-char string and reassemble with it verbatim."""
    rows = [(1, "common chunk. unique a. xy"), (2, "common chunk. unique b")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["text"], r["n_lines"], r["n_lines_kept"])
           for r in dedup.line_dedup(docs, sep=". ").collect()}
    assert got == py_line_dedup(rows, sep=". ")
    assert got[1] == ("common chunk. unique a. xy", 3, 3)
    assert got[2] == ("unique b", 2, 1)


def test_line_dedup_min_chars_gate(spark):
    """min_chars exempts short lines from dedup entirely — a corpus of
    repeated one-char separators keeps them all at min_chars=2."""
    docs = spark.createDataFrame(
        [(1, "x\nlong enough line"), (2, "x\nlong enough line")],
        "doc_id long, text string")
    got = {r["doc_id"]: r["text"]
           for r in dedup.line_dedup(docs, min_chars=2).collect()}
    assert got[1] == "x\nlong enough line"
    assert got[2] == "x"                  # the long line deduped away


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(texts=st.lists(_doc, min_size=1, max_size=4),
       sep=st.sampled_from(["\n", ". ", "|", "x", "a.b", "[]",
                            "\\E", "a\\Eb"]))
def test_line_dedup_literal_separator_sweep(spark, texts, sep):
    """`sep` is LITERAL for both the split and the reassembly — the
    sweep drives regex metachars (., |, []) through random corpora
    and pins engine == the plain-Python (str.split) reference."""
    rows = list(enumerate(t.replace("\n", sep) for t in texts))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["text"], r["n_lines"], r["n_lines_kept"])
           for r in dedup.line_dedup(docs, sep=sep).collect()}
    assert got == py_line_dedup(rows, sep=sep)


def test_line_dedup_separator_containing_quote_terminator(spark):
    r"""ADVICE r15: a separator containing the literal two chars ``\E``
    used to end the bare ``\Q...\E`` quote region early, so the split
    ran the separator's tail as LIVE regex and diverged from the
    verbatim array_join reassembly (silent round-trip corruption).
    With Pattern.quote-style quoting the split and reassembly agree
    for every separator. ``\E.`` is the loud case: under the broken
    quoting its tail ``.`` matched ANY character."""
    sep = "\\E."
    rows = [
        (1, sep.join(["dup line", "alpha", "beta"])),
        (2, sep.join(["dup line", "gamma"])),
        (3, "no separator here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["text"], r["n_lines"], r["n_lines_kept"])
           for r in dedup.line_dedup(docs, sep=sep).collect()}
    assert got == py_line_dedup(rows, sep=sep)
    assert got[1][0] == sep.join(["dup line", "alpha", "beta"])
    assert got[2] == ("gamma", 2, 1)          # cross-doc dup died
    assert got[3] == ("no separator here", 1, 1)


def test_line_dedup_sink_reads_shards_back_when_observation_is_empty(
        spark, monkeypatch):
    """The line-dedup ingest sink takes the batch's shard set from an
    Observation on the winner write, which reports only the FIRST action
    on its plan. An empty set (an action that saw no rows ran first)
    must fall back to the pruned read-back of the just-written
    partition, not scrub against an empty index: with every Observation
    blind, the online scrub still equals the batch operator."""
    from pyspark.sql import Observation

    from snowflake_azure_etl_spark.streaming import ingest
    from snowflake_azure_etl_spark.streaming.sinks import EPOCH_COL
    from snowflake_azure_etl_spark.warehouse import ddl

    class BlindShards(Observation):
        @property
        def get(self):
            return {"sh": []}

    db = "linededup_blind_obs_db"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    win_t, scrub_t = f"{db}.winners", f"{db}.scrubbed"
    for t in (win_t, scrub_t):
        ddl.drop_table(spark, t)
    batches = [
        [(1, "cookie banner\nunique alpha\nnav menu"),
         (2, "cookie banner\nunique beta")],
        [(3, "nav menu\ncookie banner\nunique gamma"), (4, "cookie banner")],
    ]
    monkeypatch.setattr(ingest, "Observation", BlindShards)
    sink = ingest.line_dedup_ingest_sink(win_t, scrub_t, n_shards=8)
    for i, rows in enumerate(batches):
        sink(spark.createDataFrame(rows, "doc_id long, text string"), i)
    whole = spark.createDataFrame([r for b in batches for r in b],
                                  "doc_id long, text string")
    want = {r["doc_id"]: (r["text"], r["n_lines_kept"])
            for r in dedup.line_dedup(whole).collect()}
    got = {r["doc_id"]: (r["text"], r["n_lines_kept"])
           for r in spark.table(scrub_t).drop(EPOCH_COL).collect()}
    assert got == want
