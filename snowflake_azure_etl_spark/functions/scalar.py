"""Scalar expression library.

Reproduces the reference's pervasive scalar idioms (SURVEY §2.8):
COALESCE-to-'Unknown' defaulting (load_dimension_tables.py:78-82),
NULLIF div-by-zero guards (create_views.py:159-160), the store-name
concat with the float-cast artifact *fixed* (SURVEY §1.4.2), and
YYYYMMDD date keys standardizing the reference's inconsistent date-key
contract (SURVEY §1.4.1).

Determinism helpers (`dec`/`dsum`/`davg`): the testdata's measures are
2-decimal money values stored as doubles. Summing doubles is
partition-order-dependent, so cross-engine value-hash comparison would
flake. We cast to DECIMAL first (exact arithmetic, identical in Spark and
DuckDB), sum exactly, and cast the final result to DOUBLE — bit-identical
output on both engines, double schema either way. All JVM-side Catalyst
expressions — no UDFs anywhere in this module.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# 2-decimal money values sum exactly in 18 digits up to ~10^16.
MONEY = "decimal(18,2)"


def dec(c: Column | str, typ: str = MONEY) -> Column:
    """Exact-decimal view of a money column."""
    return F.col(c).cast(typ) if isinstance(c, str) else c.cast(typ)


def dsum(c: Column | str, typ: str = MONEY) -> Column:
    """SUM with exact decimal arithmetic, emitted as double."""
    return F.sum(dec(c, typ)).cast("double")


def scaled_long(c: str, places: int = 2) -> Column:
    """Money column as an exact scaled long: round(c · 10^places).

    Money math on scaled longs (cents, basis points), not DecimalType:
    the per-row products stay in whole-stage-codegen long arithmetic
    (~2× faster than the BigDecimal path) and the results are still
    exact — sums are exact integers, converted to double once per
    group. Exact while the sum stays under 2^53 (≈ $9×10^11 per group
    at scale 4, far above any group in this star), so it matches the
    oracle's DECIMAL arithmetic bit-for-bit."""
    return F.round(F.col(c) * 10 ** places).cast("long")


def davg(c: Column | str, typ: str = MONEY) -> Column:
    """AVG = exact-decimal SUM (as double) / COUNT — deterministic."""
    col = F.col(c) if isinstance(c, str) else c
    return F.sum(dec(col, typ)).cast("double") / F.count(col)


def safe_div(num: Column, den: Column) -> Column:
    """x / NULLIF(y, 0) (reference create_views.py:159)."""
    return num / F.when(den != 0, den)


def coalesce_unknown(c: Column | str, default: str = "Unknown") -> Column:
    """COALESCE(CAST(x AS STRING), 'Unknown') — the reference's key
    normalization for the Dim_Location composite join
    (load_dimension_tables.py:158-163)."""
    col = F.col(c) if isinstance(c, str) else c
    return F.coalesce(col.cast("string"), F.lit(default))


def date_key(c: Column | str) -> Column:
    """YYYYMMDD int surrogate date key.

    The reference is internally inconsistent (YYMMDD facts vs YYYYMMDD
    dim — SURVEY §1.4.1); this engine standardizes on YYYYMMDD.
    """
    col = F.col(c) if isinstance(c, str) else c
    # pure int arithmetic, not date_format: the strftime path costs ~2x
    # per row (string build + parse) and this key sits on the fact side
    # of every date join — measured 0.50s vs 0.28s over sf0.1 lineitem
    return (F.year(col) * 10000 + F.month(col) * 100
            + F.dayofmonth(col)).cast("int")


def store_name(number: Column | str) -> Column:
    """'Store ' || StoreNumber with the number cast to int first —
    fixing the reference's "Store 5.00000" float-concat artifact
    (SURVEY §1.4.2; log dim_etl_run:160-167)."""
    col = F.col(number) if isinstance(number, str) else number
    return F.concat(F.lit("Store "), col.cast("long").cast("string"))
