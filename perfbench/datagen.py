"""Synthetic TPC-H-ish star schema plus the extension tables (events,
documents, embeddings) the engine's catalog reads.

Shapes follow the engine's test fixtures: independent uniform columns,
TPC-H key ranges scaled by ``sf``, a 30-word document vocabulary with
5% near-duplicate documents (an earlier text plus " dup"), and 64-dim
unit embeddings in 10 labelled clusters. Everything is drawn from one
``numpy.random.Generator`` so a (seed, sf) pair always writes the same
parquet bytes' worth of values.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the key agg row scan slow fast table value part hash merge "
         "batch spark line sort window data column join small customer "
         "query order filter big vector stream group").split()
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("small", "large", "red", "blue", "hot", "cold", "old", "new")
PART_NOUN = ("ring", "widget", "bolt", "plate", "gear", "rod", "anvil",
             "gizmo")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _days(start: str, end: str, n: int, rng: np.random.Generator):
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int):
    return np.round(rng.uniform(lo, hi, n), 2)


def documents(sf: float, rng: np.random.Generator) -> pa.Table:
    n = max(500, int(50_000 * sf))
    lens = rng.integers(10, 101, n)
    words = np.asarray(VOCAB)[rng.integers(0, len(VOCAB), int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    text = [" ".join(w) for w in np.split(words, cuts)]
    for i in range(1, n):
        if rng.random() < 0.05:
            text[i] = text[int(rng.integers(0, i))] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(text),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })


def tables(sf: float, seed: int) -> "dict[str, pa.Table]":
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_vec = max(500, int(20_000 * sf))
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS)}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)],
                                    pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust))}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                                rng.integers(0, 8, (n_part, 2))]),
            "p_brand": pa.array([f"Brand#{b}" for b in
                                 rng.integers(1, 26, n_part)]),
            "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(
                np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1))}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(("F", "O", "P"), n_ord)),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
            "o_orderdate": pa.array(_days("1995-01-01", "2001-08-01",
                                          n_ord, rng)),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord))}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_line)
                                   .astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0,
                                               n_line)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": pa.array(rng.choice(("A", "N", "R"), n_line)),
            "l_linestatus": pa.array(rng.choice(("F", "O"), n_line)),
            "l_shipdate": pa.array(_days("1995-01-02", "2001-11-04",
                                         n_line, rng))}),
    }
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    month_us = 30 * 86_400 * 1_000_000
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(t0 + np.sort(rng.integers(0, month_us, n_ev))),
        "user_id": pa.array(rng.integers(0, max(1, int(15_000 * sf)), n_ev),
                            pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
        "value": pa.array(_money(rng, 0.01, 490.0, n_ev)),
        "props": pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, n_ev)])})
    out["documents"] = documents(sf, rng)
    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n_vec)
    vecs = 0.1 * centers[labels] + rng.normal(0.0, 1.0, (n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
            ).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


MALFORMED = ('{{"doc_id": {i}, "text": "unterminated',
             '{{"doc_id": {i} "text": "missing comma"}}',
             'not json {i}')


def epoch_lines(docs: "list[dict]", n_epochs: int, seed: int
                ) -> "tuple[list[list[str]], int]":
    """Split ``docs`` into ``n_epochs`` JSONL epochs for the stream
    source: a seeded arrival order, seeded epoch sizes and 1-3 seeded
    malformed lines per epoch. Returns (lines per epoch, malformed
    lines injected)."""
    import json

    rng = np.random.default_rng(seed)
    order = rng.permutation(len(docs))
    cuts = np.sort(rng.choice(np.arange(1, len(docs)), n_epochs - 1,
                              replace=False))
    epochs, n_bad = [], 0
    for part in np.split(order, cuts):
        lines = [json.dumps(docs[i], sort_keys=True) for i in part]
        for _ in range(int(rng.integers(1, 4))):
            bad = MALFORMED[int(rng.integers(0, len(MALFORMED)))]
            lines.insert(int(rng.integers(0, len(lines) + 1)),
                         bad.format(i=int(rng.integers(0, 10**6))))
            n_bad += 1
        epochs.append(lines)
    return epochs, n_bad


def write_epochs(src_dir: str, epochs: "list[list[str]]") -> int:
    """One ``epoch_<n>.jsonl`` file per epoch, modification times
    increasing so the file source takes them in epoch order. Returns
    the bytes written."""
    os.makedirs(src_dir, exist_ok=True)
    total = 0
    for n, lines in enumerate(epochs):
        path = os.path.join(src_dir, f"epoch_{n:03d}.jsonl")
        with open(path, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        os.utime(path, (1_000_000 + n, 1_000_000 + n))
        total += os.path.getsize(path)
    return total


def write(sf_dir: str, sf: float, seed: int) -> int:
    """Write every table as ``<sf_dir>/<name>.parquet``; return the
    total bytes written."""
    os.makedirs(sf_dir, exist_ok=True)
    total = 0
    for name, table in tables(sf, seed).items():
        path = os.path.join(sf_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total
