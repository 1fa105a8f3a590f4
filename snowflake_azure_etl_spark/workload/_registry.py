"""Query registry plumbing shared by all workload modules."""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class WorkloadQuery:
    name: str
    covers: tuple[str, ...]   # SURVEY §2 operator ids this query exercises
    doc: str
    fn: QueryFn
    oracle: str | None        # DuckDB SQL over views region/nation/.../embeddings
    raw: QueryFn              # fn without the prepared-statement cache wrapper
    prepared: bool            # whether fn session-caches the built plan


QUERIES: dict[str, WorkloadQuery] = {}


def query(name: str, covers: tuple[str, ...] | list[str],
          oracle: str | None = None,
          prepared: bool = False) -> Callable[[QueryFn], QueryFn]:
    """Register a workload query.

    ``prepared=True`` session-caches the query's RETURNED DataFrame —
    a prepared statement (VERDICT r10 #2): the object is an
    UNMATERIALIZED logical plan, so repeat invocations skip the
    driver-side py4j construction cost (measured 0.3–1.2 s/query,
    constant in data size) while every invocation still EXECUTES the
    full DAG (nothing in the plan persists result rows; artifact
    relations inside follow their own session-cache rules, exactly as
    when the plan is rebuilt). Only for PURE plan builders over the
    sf_dir parquet: a query that writes tables, eagerly checkpoints a
    per-invocation result, or reads session-managed tables must keep
    ``prepared=False`` so each invocation re-runs its build."""
    def deco(fn: QueryFn) -> QueryFn:
        run = fn
        if prepared:
            def run(spark: SparkSession, sf_dir: str,
                    _fn: QueryFn = fn, _name: str = name) -> DataFrame:
                from ..operators._cache import cached_build
                return cached_build(spark, ("prepared_query", _name,
                                            sf_dir),
                                    lambda: _fn(spark, sf_dir))
        QUERIES[name] = WorkloadQuery(
            name=name, covers=tuple(covers), doc=(fn.__doc__ or "").strip(),
            fn=run, oracle=oracle, raw=fn, prepared=prepared)
        return fn
    return deco


def union_legs(tag_col: str,
               legs: dict[str, DataFrame | Callable[[], DataFrame]]
               ) -> DataFrame:
    """The one leg assembly of a multi-leg query: every leg named by
    its tag, built, tagged and unioned here.

    A leg is a DataFrame or a zero-argument build. The builds run as
    CONCURRENT Spark jobs — a leg whose build runs eager actions
    (checkpoints, training rounds, table writes) overlaps its
    scheduling gaps with the other legs' tasks, so a cold query pays
    its slowest leg rather than the sum. Each build runs on a
    `pyspark.InheritableThread`, not a raw executor thread: under
    PySpark's pinned-thread mode every Python thread owns a JVM thread
    and py4j connection that InheritableThread releases on join, and
    it inherits the caller's local properties, so a job launched in a
    leg carries the caller's job group. Legs may share memoized
    artifacts: `_cache`'s per-key build locks make the first leg to
    touch one build it while the others wait. A failing build
    re-raises after every thread has joined.

    Each leg gets its tag as the leading `tag_col` column, except a leg
    that already carries `tag_col` (a multi-row leg that tags its own
    rows, or a nested union of legs), which passes through unchanged.
    The legs union by name in dict order."""
    from pyspark import InheritableThread
    built: dict = {}
    errors: list = []

    def run(tag: str, build: Callable[[], DataFrame]) -> None:
        try:
            built[tag] = build()
        except BaseException as e:  # noqa: BLE001 — re-raised below
            errors.append(e)

    threads = [InheritableThread(target=run, args=(tag, leg))
               for tag, leg in legs.items()
               if not isinstance(leg, DataFrame)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    out = None
    for tag, leg in legs.items():
        df = built.get(tag, leg)
        if tag_col not in df.columns:
            df = df.select(F.lit(tag).alias(tag_col), "*")
        out = df if out is None else out.unionByName(df)
    return out
