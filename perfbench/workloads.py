"""The two workloads. Both are closed loops with one client that waits
for each result; a *round* is one unit of repeated work (a rotation of
the BI queries, or one ELT cycle), and a round is split into *ops*
(a query invocation; an ETL runner step or the q65 call; a stream
epoch).

Every call into the engine is wrapped in a span named after the layer
it enters (``workload``, ``spark``, ``operators``, ``warehouse``,
``streaming``) and, in the traced run, in a Spark job group
``<op>:<phase>`` whose counters are read back after the call.
"""

from __future__ import annotations

import os
import queue
import random
import statistics
import time
from dataclasses import dataclass, field

import datagen
import stats as st
from proc import tree_cpu_s

#: The BI rotation: twelve of the 24 queries in ``star_queries``,
#: ``warehouse_queries`` and ``window_queries``, one per plan shape. The
#: other twelve repeat these shapes (filters, CASE and ratio
#: aggregates, a second left join); leaving them out shortens both the
#: cold pass that every run's set-up pays and the rotation by about a
#: quarter.
BI_QUERIES = (
    "q01_sales_summary",                # star join, two COUNT(DISTINCT)s
    "q05_join_chain_3way",              # inner join chain
    "q07_star_join_revenue_by_nation",  # fact joined to 4 dims
    "q08_date_spine_left_chain",        # left-join chain on a date spine
    "q09_theta_or_isnull_join",         # theta join
    "q11_agg_pricing_summary",          # multi-key hash aggregate
    "q18_topk_orders",                  # global top-k
    "q22_dim_date_generator",           # generated dimension
    "q23_surrogate_keys",               # surrogate keys, unknown member
    "q24_unknown_member_fallback",      # fact load with key fallback
    "q30_window_rank_over_agg",         # rank over an aggregate
    "q34_topk_per_group",               # top-k per group by row_number
)
#: seconds of the window per BI rotation: about one rotation's wall on
#: 4 vCPUs, so ``--seconds`` sizes the window the way its name says
ROTATION_S = 5.0


N_EPOCHS = 2
DOC_SCHEMA = ("doc_id long, text string, lang string, source string, "
              "n_chars long")


def bi_queries(queries) -> "list[str]":
    """The BI rotation's queries, in catalog order."""
    missing = set(BI_QUERIES) - set(queries)
    if missing:
        raise KeyError(f"BI queries not in the catalog: {sorted(missing)}")
    return sorted(BI_QUERIES)


def rotation(names: "list[str]", seed: int, r: int) -> "list[str]":
    """Round ``r``'s seeded permutation of ``names``."""
    out = list(names)
    random.Random(seed * 1_000_003 + r).shuffle(out)
    return out


@dataclass
class Round:
    wall_s: float
    cpu_s: float = 0.0
    ops_ms: "list[float]" = field(default_factory=list)


@dataclass
class Result:
    rounds: "list[Round]" = field(default_factory=list)
    #: the end-to-end figures, set by the workload when its rounds end:
    #: one round's wall, the process tree's CPU seconds per round and
    #: the geometric mean op latency
    wall_s: float = 0.0
    cpu_s: float = 0.0
    op_geomean_ms: float = 0.0
    attempted: int = 0
    failed: int = 0
    problems: "list[str]" = field(default_factory=list)
    extra: dict = field(default_factory=dict)

    def fail(self, what: str, n: int = 1) -> None:
        self.failed += n
        self.problems.append(what)


class Ctx:
    """What every workload needs: the session, the tracer, the optional
    Spark accounting (traced run only) and the generated inputs."""

    def __init__(self, spark, tracer, sstats, sf_dir, tmp, pins,
                 base_norm, queries):
        self.spark, self.tr, self.ss = spark, tracer, sstats
        self.sf_dir, self.tmp, self.pins = sf_dir, tmp, pins
        self.base_norm, self.queries = base_norm, queries
        from snowflake_azure_etl_spark.operators._cache import session_cache
        self.cache = session_cache(spark)
        self.cache_added = 0
        self.window_start: float | None = None  # set when rounds begin

    def call(self, span: str, op: str, phase: str, fn):
        """Run ``fn`` inside a span and, when traced, a job group."""
        with self.tr.span(span, op):
            gid = self.ss.group(op, phase) if self.ss else None
            n0 = len(self.cache)
            out = fn()
            self.cache_added += len(self.cache) - n0
        if gid is not None:
            with self.tr.span("bench.accounting", op):
                self.ss.collect(gid)
        return out

    def query(self, name: str, op: str):
        """One query invocation: plan build, then a noop-sink write."""
        q = self.queries[name]
        df = self.call("workload.plan_build", op, "plan_build",
                       lambda: q.fn(self.spark, self.sf_dir))
        self.call("spark.exec", op, "exec",
                  lambda: df.write.format("noop").mode("overwrite").save())
        return df

    def digest(self, df) -> str:
        table = df.toArrow()
        return st.digest(table.column_names,
                         [tuple(r.values()) for r in table.to_pylist()],
                         self.base_norm)


def _timed_rounds(seconds: float, one_round, res: Result) -> None:
    """Whole rounds until their walls add up to ``seconds`` (at least
    one round); checks between rounds are not counted."""
    r = 0
    while not res.rounds or sum(x.wall_s for x in res.rounds) < seconds:
        one_round(r)
        r += 1


# ---------------------------------------------------------------- bi_serve

def on_threads(names: "list[str]", fn, threads: int) -> "dict[str, object]":
    """``fn(name)`` for every name, spread over ``threads`` client
    threads; a call that raises maps to ``"error: ..."``."""
    from pyspark import InheritableThread
    todo = queue.Queue()
    for name in names:
        todo.put(name)
    got: dict[str, object] = {}

    def worker() -> None:
        while True:
            try:
                name = todo.get_nowait()
            except queue.Empty:
                return
            try:
                got[name] = fn(name)
            except Exception as exc:  # noqa: BLE001 — reported per name
                got[name] = f"error: {exc!r}"[:200]

    pool = [InheritableThread(target=worker) for _ in range(threads)]
    for t in pool:
        t.start()
    for t in pool:
        t.join()
    return got


def bi_serve_setup(ctx: Ctx, res: Result, threads: int) -> "set[str]":
    """Untimed set-up on ``threads`` client threads. A checked pass over
    the rotation's queries builds every artifact and prepared plan and checks each
    query's result against its pin; a second pass runs the timed
    rounds' noop-sink writes, because the first rotation after the
    checked pass is about a quarter slower than the next while the JIT
    compiles.
    Returns the queries whose check failed."""
    names = bi_queries(ctx.queries)
    t = time.perf_counter()
    got = on_threads(names, lambda n: ctx.digest(
        ctx.queries[n].fn(ctx.spark, ctx.sf_dir)), threads)
    res.extra["checked_pass_s"] = time.perf_counter() - t
    pins = ctx.pins["bi_serve"]
    bad = sorted(n for n in got if got[n] != pins.get(n))
    res.problems += [f"{n}: digest {got[n]} != pin" for n in bad]
    t = time.perf_counter()
    on_threads(names, lambda n: ctx.queries[n].fn(ctx.spark, ctx.sf_dir)
               .write.format("noop").mode("overwrite").save(), threads)
    res.extra["warm_pass_s"] = time.perf_counter() - t
    return set(bad)


def bi_serve(ctx: Ctx, seed: int, seconds: float, res: Result) -> None:
    """Whole seeded rotations of the BI queries, one per ``ROTATION_S`` of
    ``seconds`` and at least one. The rounds run a fixed amount of
    work, not until a deadline: the engine is still warming up here, so
    a deadline would let a slow run stop earlier on that curve and read
    slower still. Each query's latency is the median of its
    invocations, and a round's wall is the sum of those medians."""
    names = bi_queries(ctx.queries)
    wrong = bi_serve_setup(ctx, res, len(os.sched_getaffinity(0)))
    lat: dict[str, list[float]] = {n: [] for n in names}
    ctx.window_start = time.perf_counter()
    for r in range(max(1, round(seconds / ROTATION_S))):
        rnd = Round(0.0)
        t0, c0 = time.perf_counter(), tree_cpu_s()
        with ctx.tr.span("round", f"r{r}"):
            for i, name in enumerate(rotation(names, seed, r)):
                op = f"r{r}.{i}.{name}"
                t = time.perf_counter()
                res.attempted += 1
                try:
                    ctx.query(name, op)
                except Exception as exc:  # noqa: BLE001 — counted
                    res.fail(f"{op}: {exc!r}"[:200])
                    continue
                rnd.ops_ms.append((time.perf_counter() - t) * 1e3)
                lat[name].append(rnd.ops_ms[-1])
                if name in wrong:
                    res.fail(f"{op}: wrong result")
        rnd.wall_s = time.perf_counter() - t0
        rnd.cpu_s = tree_cpu_s() - c0
        res.rounds.append(rnd)
    medians = [statistics.median(v) for v in lat.values() if v]
    res.wall_s = sum(medians) / 1e3
    res.cpu_s = statistics.median(x.cpu_s for x in res.rounds)
    res.op_geomean_ms = st.geomean(medians)


# -------------------------------------------------------------- etl_ingest

def etl_ingest_setup(ctx: Ctx, seed: int) -> dict:
    """Write the seeded JSONL epoch files from the documents table."""
    import pyarrow.parquet as pq
    docs = pq.read_table(os.path.join(ctx.sf_dir, "documents.parquet")
                         ).to_pylist()
    epochs, n_bad = datagen.epoch_lines(docs, N_EPOCHS, seed)
    src = os.path.join(ctx.tmp, "stream_src")
    jsonl_bytes = datagen.write_epochs(src, epochs)
    return {"src": src, "n_docs": len(docs), "n_bad": n_bad,
            "jsonl_bytes": jsonl_bytes}


def _etl_iteration(ctx: Ctx, op: str, db: str) -> dict:
    from snowflake_azure_etl_spark.operators._cache import clear_cache
    from snowflake_azure_etl_spark.warehouse.runner import (
        run_warehouse_build)

    with ctx.tr.span("operators._cache.clear_cache", op):
        clear_cache(ctx.spark)
    out = {"report": ctx.call(
        "warehouse.build_star", op, "warehouse",
        lambda: run_warehouse_build(ctx.spark, ctx.sf_dir, database=db))}
    t = time.perf_counter()
    out["q65"] = ctx.query("q65_incremental_append", op)
    out["q65_ms"] = (time.perf_counter() - t) * 1e3
    return out


def _stream(ctx: Ctx, r: int, inputs: dict, db: str) -> dict:
    from pyspark.sql import types as T
    from snowflake_azure_etl_spark.streaming import ingest
    from snowflake_azure_etl_spark.streaming.neardup import (
        near_dup_ingest_sink)

    ctx.spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    sink = near_dup_ingest_sink(f"{db}.nd_index", f"{db}.nd_cands")
    epochs: list[float] = []
    quarantined = [0]

    def each_batch(batch, epoch_id: int) -> None:
        op = f"r{r}.epoch{epoch_id}"
        t = time.perf_counter()

        def land():
            good, bad = ingest.split_quarantine(batch)
            quarantined[0] += bad.count()
            sink(ingest.scrubbed_ingest(good), epoch_id)

        ctx.call("streaming.epoch", op, "epoch", land)
        epochs.append((time.perf_counter() - t) * 1e3)

    stream = ingest.read_jsonl_stream(
        ctx.spark, inputs["src"], T._parse_datatype_string(DOC_SCHEMA),
        max_files_per_trigger=1)
    with ctx.tr.span("streaming.query", f"r{r}.stream"):
        q = (stream.writeStream.foreachBatch(each_batch)
             .option("checkpointLocation",
                     os.path.join(ctx.tmp, f"checkpoint_r{r}"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))
    prog = q.recentProgress
    return {"epochs_ms": epochs, "quarantined": quarantined[0],
            "trigger_ms": sum(p["durationMs"].get("triggerExecution", 0)
                              for p in prog),
            "planning_ms": sum(p["durationMs"].get("queryPlanning", 0)
                               for p in prog)}


def observe_etl(ctx: Ctx, it: dict, db: str) -> dict:
    """The values the ETL iteration's checks compare with their pins."""
    from snowflake_azure_etl_spark.warehouse.runner import (
        ANALYTICAL_VIEWS, PASSTHROUGH_VIEWS)
    return {
        "q65_incremental_append": ctx.digest(it["q65"]),
        "table_counts": {k.split(".", 1)[1]: v for k, v in
                         it["report"].table_counts.items()
                         if k.startswith(f"{db}.")},
        "views_ok": sum(bool(ctx.spark.table(f"{db}.{v}").columns)
                        for v in (*PASSTHROUGH_VIEWS, *ANALYTICAL_VIEWS)),
    }


def observe_stream(ctx: Ctx, db: str) -> dict:
    """The values the stream's checks compare with their pins."""
    from pyspark.sql import functions as F
    pairs = (ctx.spark.table(f"{db}.nd_cands")
             .select(F.least("id_new", "id_match").alias("a"),
                     F.greatest("id_new", "id_match").alias("b"))
             .distinct())
    return {"index_rows": ctx.spark.table(f"{db}.nd_index").count(),
            "near_dup_pairs": ctx.digest(pairs)}


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def etl_ingest(ctx: Ctx, seed: int, seconds: float, res: Result) -> None:
    inputs = etl_ingest_setup(ctx, seed)
    wh_dir = ctx.spark.conf.get("spark.sql.warehouse.dir").replace(
        "file:", "")
    ctx.window_start = time.perf_counter()

    def one_round(r: int) -> None:
        db, sdb = f"bench_wh_r{r}", f"bench_stream_r{r}"
        rnd = Round(0.0)
        it = stream = None
        t0, c0 = time.perf_counter(), tree_cpu_s()
        with ctx.tr.span("round", f"r{r}"):
            try:
                it = _etl_iteration(ctx, f"r{r}.etl", db)
            except Exception as exc:  # noqa: BLE001 — counted
                res.attempted += 1
                res.fail(f"r{r}.etl: {exc!r}"[:200])
            t_stream = time.perf_counter()
            try:
                stream = _stream(ctx, r, inputs, sdb)
            except Exception as exc:  # noqa: BLE001 — counted
                res.attempted += N_EPOCHS
                res.fail(f"r{r}.stream: {exc!r}"[:200], N_EPOCHS)
            stream_s = time.perf_counter() - t_stream
        rnd.wall_s = time.perf_counter() - t0
        rnd.cpu_s = tree_cpu_s() - c0
        res.rounds.append(rnd)
        if it is not None:
            rnd.ops_ms += [s.seconds * 1e3 for s in it["report"].steps]
            rnd.ops_ms.append(it["q65_ms"])
            res.attempted += len(it["report"].steps) + 1
            _check_etl(ctx, res, r, it, db, wh_dir)
        if stream is not None:
            rnd.ops_ms += stream["epochs_ms"]
            res.attempted += len(stream["epochs_ms"])
            _check_stream(ctx, res, r, stream, inputs, sdb, wh_dir,
                          stream_s)

    _timed_rounds(seconds, one_round, res)
    res.wall_s = statistics.median(x.wall_s for x in res.rounds)
    res.cpu_s = statistics.median(x.cpu_s for x in res.rounds)
    res.op_geomean_ms = statistics.median(
        st.geomean(x.ops_ms) for x in res.rounds)


def _check_etl(ctx, res, r, it, db, wh_dir) -> None:
    got = observe_etl(ctx, it, db)
    pins = ctx.pins["etl_ingest"]
    for k, v in got.items():
        if v != pins[k]:
            res.fail(f"r{r}.etl: {k} {v} != pin {pins[k]}")
    steps = {s.name: s.seconds for s in it["report"].steps}
    facts = sum(v for k, v in got["table_counts"].items()
                if k.startswith("fact_"))
    stored = _dir_bytes(os.path.join(wh_dir, f"{db}.db"))
    res.extra.setdefault("etl_rounds", []).append({
        "warehouse.step_s": {k: round(v, 4) for k, v in steps.items()},
        "fact_rows": facts,
        "fact_rows_per_s": facts / sum(steps.values()),
        "stored_bytes": stored,
        "stored_bytes_per_input_byte": stored / _dir_bytes(ctx.sf_dir),
    })


def _check_stream(ctx, res, r, stream, inputs, sdb, wh_dir,
                  stream_s) -> None:
    got = observe_stream(ctx, sdb)
    pins = ctx.pins["stream"]
    bad = [f"{k} {v} != pin {pins[k]}" for k, v in got.items()
           if v != pins[k]]
    if stream["quarantined"] != inputs["n_bad"]:
        bad.append(f"quarantined {stream['quarantined']} != "
                   f"injected {inputs['n_bad']}")
    if len(stream["epochs_ms"]) != N_EPOCHS:
        bad.append(f"{len(stream['epochs_ms'])} epochs, not {N_EPOCHS}")
    if bad:
        res.fail(f"r{r}.stream: {bad}", len(stream["epochs_ms"]))
    stored = _dir_bytes(os.path.join(wh_dir, f"{sdb}.db"))
    res.extra.setdefault("stream_rounds", []).append({
        "docs_per_s": inputs["n_docs"] / stream_s,
        "stored_bytes": stored,
        "stored_bytes_per_input_byte": stored / inputs["jsonl_bytes"],
        "streaming.epoch_ms": [round(x, 2) for x in stream["epochs_ms"]],
        "streaming.trigger_ms": stream["trigger_ms"],
        "streaming.planning_ms": stream["planning_ms"],
        "streaming.index_rows": got["index_rows"],
        "streaming.quarantined_rows": stream["quarantined"],
    })
