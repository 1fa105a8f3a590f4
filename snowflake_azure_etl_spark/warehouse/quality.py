"""Declarative data-quality validation (X-DQ) — the dbt-test /
Great-Expectations analog for the warehouse: column rules checked as
aggregates, reported as (rule, n_violations, passed) rows the ETL
runner can log and gate on.

The reference validates loads only by row counts
(/root/reference/rahil/load_data.py:48-74 sums COPY results); real
warehouses assert column contracts too. Four rule families cover the
dbt core tests:

- ``not_null``      — NULLs in a required column
- ``unique``        — duplicate non-NULL values in a key column
- ``accepted_values`` — values outside a declared domain (NULL exempt;
  combine with not_null to forbid it)
- ``in_range``      — numeric values outside [lo, hi] (NULL exempt)

Scale design: ALL rules for a table compile into ONE aggregate pass —
a single scan, single (partial-aggregated, zero-group) reduce no
matter how many rules; the per-rule fan-out happens on the 1-row
aggregate result (explode of a rule-count array, driver-free). At
100 TB a validation sweep costs exactly one read of the table.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Rule:
    """One column contract. `name` defaults to '<column>_<check>'."""
    check: str                      # not_null | unique | accepted_values | in_range
    column: str
    values: tuple = field(default_factory=tuple)   # accepted_values
    lo: float | None = None                        # in_range
    hi: float | None = None
    name: str = ""

    @property
    def rule_name(self) -> str:
        return self.name or f"{self.column}_{self.check}"


def _violation_exprs(rule: Rule) -> list[Column]:
    c = F.col(rule.column)
    if rule.check == "not_null":
        return [F.count(F.when(c.isNull(), 1))]
    if rule.check == "unique":
        # duplicate non-NULL values: count(non-null) - countDistinct
        return [F.count(c) - F.countDistinct(c)]
    if rule.check == "accepted_values":
        if not rule.values:
            raise ValueError(f"{rule.rule_name}: empty accepted set")
        return [F.count(F.when(c.isNotNull() & ~c.isin(*rule.values), 1))]
    if rule.check == "in_range":
        if rule.lo is None or rule.hi is None:
            raise ValueError(f"{rule.rule_name}: in_range needs lo and hi")
        return [F.count(F.when((c < rule.lo) | (c > rule.hi), 1))]
    raise ValueError(f"unknown check '{rule.check}'")


def rule_aggregates(rules: list[Rule]) -> tuple[list[str], list[Column]]:
    """(rule names, aliased aggregate columns `_v{i}`) for composing
    the one-pass DQ sweep INTO a caller's existing aggregate — q26
    folds these beside the manifest (count, fingerprint) aggregates so
    a table's accounting, manifest, and contracts all cost one scan
    (r9). `rules[i].column`s must be present in the input projection."""
    if not rules:
        raise ValueError("validate: no rules given")
    names = [r.rule_name for r in rules]
    if len(set(names)) != len(names):
        raise ValueError(f"validate: duplicate rule names in {names}")
    aggs = []
    for i, r in enumerate(rules):
        (expr,) = _violation_exprs(r)
        aggs.append(expr.cast("long").alias(f"_v{i}"))
    return names, aggs


def rule_columns(rules: list[Rule]) -> list[str]:
    """The input columns the rules read (deduped, declaration order)."""
    seen: dict[str, None] = {}
    for r in rules:
        seen.setdefault(r.column)
    return list(seen)


def validate(df: DataFrame, rules: list[Rule]) -> DataFrame:
    """(rule, n_violations, passed): every rule evaluated in ONE
    aggregate pass over `df` (see module docstring), exploded to one
    row per rule from the single aggregate result row."""
    names, aggs = rule_aggregates(rules)
    one = df.agg(*aggs)
    entries = F.array(*[
        F.struct(F.lit(n).alias("rule"),
                 F.col(f"_v{i}").alias("n_violations"))
        for i, n in enumerate(names)])
    return (one.select(F.explode(entries).alias("e"))
            .select(F.col("e.rule").alias("rule"),
                    F.col("e.n_violations").alias("n_violations"),
                    (F.col("e.n_violations") == 0).alias("passed")))


def key_violations(keys: list[tuple[DataFrame, str]]) -> list[int]:
    """[not_null, unique] violation counts per (relation, key column) in
    ONE action: block i of a stacked relation holds its key in `_k{i}`,
    NULL elsewhere, so one group-by is by (block, key); not_null = NULL
    group size, unique = Σ(size − 1) over the rest (count − distinct)."""
    blocks = [df.select(F.lit(i).alias("_b"), F.col(c).alias(f"_k{i}"))
              for i, (df, c) in enumerate(keys)]
    stacked = reduce(lambda a, b: a.unionByName(
        b, allowMissingColumns=True), blocks)
    kcols = [F.col(f"_k{i}") for i in range(len(keys))]
    groups = stacked.groupBy("_b", *kcols).agg(F.count("*").alias("_n"))
    row = groups.agg(*[agg for i, k in enumerate(kcols) for agg in (
        F.sum(F.when((F.col("_b") == i) & k.isNull(), F.col("_n"))),
        F.sum(F.when(k.isNotNull(), F.col("_n") - 1)))]).first()
    return [n or 0 for n in row]


def fk_violations(child: DataFrame,
                  edges: list[tuple[str, DataFrame, str]],
                  n_parent_rows: int | None = None) -> list[int]:
    """dbt's `relationships` test (facts → dims) for several (col,
    parent, parent_col) edges of one child in ONE pass: per edge, child
    rows whose non-NULL `col` misses `parent.parent_col`. FK values
    unpivot to (edge, value) rows that LEFT-ANTI-join the parents' keys
    tagged by edge, broadcast under `n_parent_rows` (all parents)."""
    from ..plans.attest import maybe_broadcast

    keys = reduce(lambda a, b: a.unionByName(b), [
        parent.select(F.lit(i).alias("_e"), F.col(pcol).alias("_v"))
        for i, (_, parent, pcol) in enumerate(edges)])
    values = (child.select(F.posexplode(F.array(*[c for c, _, _ in edges]))
                           .alias("_e", "_v"))
              .filter(F.col("_v").isNotNull()))
    orphans = values.join(maybe_broadcast(keys, n_parent_rows),
                          ["_e", "_v"], "left_anti")
    return list(orphans.agg(*[F.count(F.when(F.col("_e") == i, 1))
                              for i in range(len(edges))]).first())


def referential_violations(child: DataFrame, col: str,
                           parent: DataFrame, parent_col: str,
                           n_parent_rows: int | None = None) -> int:
    """The one-edge case of `fk_violations`."""
    return fk_violations(child, [(col, parent, parent_col)],
                         n_parent_rows)[0]
