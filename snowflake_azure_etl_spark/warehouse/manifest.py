"""Dataset manifests: order-independent content fingerprints
(X-MANIFEST) — the integrity primitive a lakehouse records next to
row counts so that loads, compactions, migrations, and replicas can
be verified by VALUE, not just by cardinality.

Design (every choice is about 100 TB + cross-engine attestation):

- **Row hash = the portable md5 idiom** (`text.split_assign`'s):
  first 15 hex chars of md5 over the '|'-joined key columns → a
  60-bit non-negative long. Key columns only — natural keys are
  engine-stable, while floats/timestamps stringify differently
  across engines and would poison a portable fingerprint.
- **Order-independent, partition-independent reduction**: the
  fingerprint is SUM(row hashes) mod 2^60. Addition commutes, so the
  result is invariant to row order, partitioning, and the merge tree
  — the property that lets a post-compaction (or post-replication)
  manifest be compared against the pre- one even though every file
  boundary moved.
- **Overflow-exact at any scale**: hashes are summed as
  decimal(38,0) (DuckDB mirrors with HUGEINT/128-bit) — exact to
  ~10^38, i.e. ~10^20 rows of 60-bit hashes — then reduced mod 2^60
  back into a BIGINT. A plain BIGINT sum can overflow after as few
  as 8 rows (2^63 / 2^60): under ANSI mode that's a query-killing
  ARITHMETIC_OVERFLOW (observed), under non-ANSI a silent wrap —
  either way unusable.
- **Sensitivity**: a missing row, an extra row, or a duplicated row
  each shift the sum (mod-2^60 collisions need ~2^30 adversarial
  rows by birthday bound — this is an integrity check, not a MAC).
  An empty relation fingerprints as NULL (SUM over zero rows), which
  both engines agree on.

The per-table manifest is driver-attested in q26 beside the COPY
row accounting; `tests/test_manifest.py` pins the
compaction-preserves-content and corruption-detection behaviors.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Fingerprint modulus — 2^60, the value space of the 15-hex row hash.
FP_MOD = 1 << 60

#: Natural-key columns per staged entity (the manifest's hash input).
KEY_COLUMNS = {
    "region": ("r_regionkey",),
    "nation": ("n_nationkey",),
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey",),
    "lineitem": ("l_orderkey", "l_linenumber"),
    "events": ("event_id",),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}


#: Stand-in for a NULL key inside the hash input. A NULL natural key
#: is itself an integrity signal — the manifest must hash it the SAME
#: way in every engine (Spark's concat_ws SKIPS nulls while SQL `||`
#: propagates them, so without this sentinel the two engines would
#: fingerprint NULL-bearing data differently — exactly the corruption
#: a manifest exists to catch). Caveat, documented: a STRING key whose
#: value is literally this sentinel collides with NULL.
NULL_SENTINEL = "<NULL>"


def row_key_hash(*key_cols: Column | str) -> Column:
    """60-bit non-negative long from the '|'-joined key columns
    (NULL keys hash as the explicit sentinel, identically in both
    engines)."""
    cols = [F.coalesce((F.col(c) if isinstance(c, str) else c)
                       .cast("string"), F.lit(NULL_SENTINEL))
            for c in key_cols]
    return F.conv(F.substring(F.md5(F.concat_ws("|", *cols)), 1, 15),
                  16, 10).cast("long")


def content_fingerprint(*key_cols: Column | str) -> Column:
    """AGGREGATE expression: SUM(row_key_hash) mod 2^60 as a long —
    order/partitioning-invariant; NULL over an empty relation."""
    s = F.sum(row_key_hash(*key_cols).cast("decimal(38,0)"))
    return F.pmod(s, F.lit(FP_MOD).cast("decimal(38,0)")).cast("long")


def key_hash_sql(key_cols: tuple[str, ...]) -> str:
    """The DuckDB twin of `row_key_hash`'s input string (the md5 and
    the 0x-cast are spelled at the call site) — COALESCE mirrors the
    NULL sentinel, since SQL `||` would otherwise NULL the whole row
    out of the sum while Spark's concat_ws would not."""
    return " || '|' || ".join(
        f"COALESCE(CAST({k} AS VARCHAR), '{NULL_SENTINEL}')"
        for k in key_cols)


def fingerprint_sql(table: str, key_cols: tuple[str, ...]) -> str:
    """Scalar-subquery SQL computing the identical fingerprint in
    DuckDB: HUGEINT (128-bit) sum mirrors the decimal(38,0) exactness."""
    return (f"(SELECT CAST(SUM(CAST(CAST('0x' || "
            f"substr(md5({key_hash_sql(key_cols)}), 1, 15) AS BIGINT) "
            f"AS HUGEINT)) % {FP_MOD} AS BIGINT) FROM {table})")


def table_manifest(df: DataFrame, name: str,
                   key_cols: tuple[str, ...]) -> DataFrame:
    """One manifest row: (entity, n_rows, fp)."""
    return (df.select(*key_cols)
            .agg(F.count("*").alias("n_rows"),
                 content_fingerprint(*key_cols).alias("fp"))
            .select(F.lit(name).alias("entity"), "n_rows", "fp"))
