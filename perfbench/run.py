#!/usr/bin/env python3
"""Benchmark entry point.

  python3 perfbench/run.py --workload bi_serve --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Generates the inputs, starts one Spark
session on ``local[nproc/2]``, runs one workload, checks its outputs and
prints, as the last stdout line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The lines
before it carry the run's environment and the workload's full detail.
All scratch files live under ``.perfbench_tmp/`` and are removed at
exit; traced runs also write their spans to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import stats as st  # noqa: E402
from proc import descendants, proc_table  # noqa: E402
from spans import Tracer, self_time_by_name  # noqa: E402

#: Fixed scale and data seed of the generated tables. The run's --seed
#: drives the query rotation and the stream's epoch files; the tables
#: stay fixed so every query result can be checked against a pin.
SF = 0.01
DATA_SEED = 20240601
#: JVM heap of the Spark driver. The inputs are a few MB; under the
#: engine's 16g default a run's peak RSS reached 5 GB, against 2 GB here
DRIVER_MEM = "2g"
WORKLOADS = ("bi_serve", "etl_ingest")
LAYERS = ("workload", "spark", "operators", "warehouse", "streaming",
          "bench")


def spark_cpus() -> int:
    """Spark task threads: half the CPUs this process may use, so the
    JVM's compiler and GC threads and the Python driver run beside the
    tasks instead of queueing behind them."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants
    (the JVM and the Python workers), sampled from /proc."""

    INTERVAL_S = 0.2

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.peak = 0
        self.stop_event = threading.Event()

    def sample(self) -> int:
        table = proc_table()
        pids = descendants(table) | {os.getpid()}
        return sum(table[p][1] for p in pids if p in table)

    def run(self) -> None:
        while not self.stop_event.is_set():
            self.peak = max(self.peak, self.sample())
            self.stop_event.wait(self.INTERVAL_S)

    def stop(self) -> float:
        """Stop sampling; return the peak in MiB."""
        self.stop_event.set()
        self.join(timeout=5)
        return self.peak * os.sysconf("SC_PAGE_SIZE") / 2**20


def stop_spark(spark) -> None:
    """Stop the session, end the JVM it launched and wait until the JVM
    and every Python worker under it have exited."""
    from pyspark import SparkContext
    children = descendants(proc_table())
    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while children and time.monotonic() < deadline:
        children = {p for p in children if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)


def environment(spark) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "sf": SF, "data_seed": DATA_SEED,
    }


def end_to_end(res, setup_s: float) -> dict:
    return {
        "setup_s": (setup_s, "s"),
        "op_geomean_ms": (res.op_geomean_ms, "ms"),
    }


def per_layer(ctx, res, tracer, get_spark_s: float,
              peak_rss_mb: float) -> dict:
    n = len(res.rounds)
    spark_c = ctx.ss.total()
    plan_c = ctx.ss.by_phase.get("plan_build", {})
    window = [s for s in tracer.spans if s.start >= ctx.window_start]
    by_name = self_time_by_name(window)
    wall = sum(r.wall_s for r in res.rounds)
    by_layer = {k: 0.0 for k in LAYERS}
    for name, secs in by_name.items():
        layer = name.split(".", 1)[0]
        if layer in by_layer:
            by_layer[layer] += secs
    etl = res.extra.get("etl_rounds", [])
    stream = res.extra.get("stream_rounds", [])
    out = {
        "session.get_spark_s": (get_spark_s, "s"),
        "workload.plan_build_ms": (
            by_name.get("workload.plan_build", 0.0) * 1e3 / n, "ms"),
        "workload.plan_build_jobs": (plan_c.get("jobs", 0) / n, "count"),
        "spark.exec_ms": (by_name.get("spark.exec", 0.0) * 1e3 / n, "ms"),
        "spark.jobs": (spark_c["jobs"] / n, "count"),
        "spark.stages": (spark_c["stages"] / n, "count"),
        "spark.tasks": (spark_c["tasks"] / n, "count"),
        "spark.shuffle_read_bytes": (spark_c["shuffle_read_bytes"] / n,
                                     "bytes"),
        "spark.shuffle_write_bytes": (spark_c["shuffle_write_bytes"] / n,
                                      "bytes"),
        "spark.gc_ms": (spark_c["gc_ms"] / n, "ms"),
        "operators._cache.entries_added": (ctx.cache_added / n, "count"),
        "operators._cache.storage_mb": (ctx.ss.cached_storage_mb(), "MB"),
        "warehouse.fact_rows": (
            sum(x["fact_rows"] for x in etl) / n, "count"),
        "warehouse.bytes_written": (
            sum(x["stored_bytes"] for x in etl) / n, "bytes"),
        "streaming.bytes_written": (
            sum(x["stored_bytes"] for x in stream) / n, "bytes"),
        "streaming.index_rows": (
            sum(x["streaming.index_rows"] for x in stream) / n, "count"),
        "streaming.quarantined_rows": (
            sum(x["streaming.quarantined_rows"] for x in stream) / n,
            "count"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
        "trace.wall_s": (res.wall_s, "s"),
        "trace.cpu_s": (res.cpu_s, "s"),
    }
    for layer in LAYERS:
        out[f"self_pct.{layer}"] = (100 * by_layer[layer] / wall, "%")
    out["self_pct.unattributed"] = (100 * by_name.get("round", 0.0) / wall,
                                    "%")
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    # a TERM runs the cleanup below: stop the JVM, remove the scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_main, age0 = time.perf_counter(), process_age_s()

    # fail fast, before any output, when the engine is not beside us
    try:
        from snowflake_azure_etl_spark.session import get_spark
        from snowflake_azure_etl_spark.workload import QUERIES
        from tests.oracle import _norm_cell
    except ImportError as exc:
        print(f"perfbench: engine not found next to {HERE}: {exc}",
              file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "pins.json")) as fh:
        pins = json.load(fh)

    tmp = os.path.join(os.getcwd(), ".perfbench_tmp", f"run-{os.getpid()}")
    os.makedirs(tmp)
    rss = RssSampler()
    rss.start()
    spark = None
    try:
        os.environ.update({
            "SPARK_GRAFT_CPUS": str(spark_cpus()),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_GRAFT_WAREHOUSE_DIR": os.path.join(tmp, "warehouse"),
            "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
            "TMPDIR": tmp,
        })
        import datagen
        import workloads
        from sparkstats import SparkStats

        sf_dir = os.path.join(tmp, f"sf{SF}")
        t = time.perf_counter()
        datagen.write(sf_dir, SF, DATA_SEED)
        datagen_s = time.perf_counter() - t
        tracer = Tracer(enabled=bool(args.trace))
        t = time.perf_counter()
        with tracer.span("session.get_spark"):
            spark = get_spark("perfbench", extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            })
        get_spark_s = time.perf_counter() - t
        spark.sparkContext.setLogLevel("ERROR")
        ctx = workloads.Ctx(spark, tracer,
                            SparkStats(spark) if args.trace else None,
                            sf_dir, tmp, pins, _norm_cell, QUERIES)
        res = workloads.Result()
        getattr(workloads, args.workload)(ctx, args.seed, args.seconds, res)
        setup_s = age0 + (ctx.window_start - t_main)
        res.extra["setup"] = {
            "total_s": setup_s, "datagen_s": datagen_s,
            "get_spark_s": get_spark_s,
            "warm_s": ctx.window_start - t - get_spark_s}
        peak = rss.stop()
        if args.trace:
            metrics = per_layer(ctx, res, tracer, get_spark_s, peak)
            out_dir = os.path.join(os.getcwd(), ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.write(os.path.join(
                out_dir, f"trace-{args.workload}-{args.seed}.json"))
        else:
            metrics = end_to_end(res, setup_s)
            res.extra["peak_rss_mb"] = peak
        detail = {"workload": args.workload, "seed": args.seed,
                  "rounds": len(res.rounds),
                  "round_wall_s": [round(r.wall_s, 3) for r in res.rounds],
                  "wall_s": res.wall_s, "cpu_s": res.cpu_s,
                  "failed_ratio": res.failed / max(1, res.attempted),
                  "problems": res.problems[:20], **res.extra}
        ops = [x for r in res.rounds for x in r.ops_ms]
        detail["n_ops"] = len(ops)
        detail["op_p50_ms"] = statistics.median(ops)
        tail = st.tail_percentile(len(ops))
        if tail is not None:
            detail[f"op_p{tail}_ms"] = st.percentile(ops, tail)
        print(json.dumps({"env": environment(spark)}))
        print(json.dumps({"detail": detail}, default=str))
        print(json.dumps({
            "correct": res.failed == 0,
            "attempted": res.attempted,
            "failed": res.failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()},
        }))
        sys.stdout.flush()
        return 0
    finally:
        rss.stop()
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
