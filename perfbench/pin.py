#!/usr/bin/env python3
"""Regenerate ``perfbench/pins.json``, the expected outputs the
benchmark checks every run against.

    python3 perfbench/pin.py

Generates the benchmark's tables, runs every checked query through the
engine and compares each result with its DuckDB oracle
(``tests/oracle.py``); a pin is written only when every oracle matches.
The ELT cycle's table counts, view row counts and near-duplicate pair
set are recorded from one cycle, and the pair set is required to be the
same for two different epoch seeds.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run
import workloads
from spans import Tracer


def main() -> int:
    from snowflake_azure_etl_spark.session import get_spark
    from snowflake_azure_etl_spark.workload import QUERIES
    from tests.oracle import _norm_cell, compare, duck_connection
    import datagen

    tmp = os.path.join(os.getcwd(), ".perfbench_tmp", f"pin-{os.getpid()}")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(run.spark_cpus()),
        "SPARK_GRAFT_WAREHOUSE_DIR": os.path.join(tmp, "warehouse"),
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
    })
    try:
        sf_dir = os.path.join(tmp, "data")
        datagen.write(sf_dir, run.SF, run.DATA_SEED)
        spark = get_spark("perfbench-pin", extra_conf={
            "spark.ui.showConsoleProgress": "false"})
        spark.sparkContext.setLogLevel("ERROR")
        ctx = workloads.Ctx(spark, Tracer(False), None, sf_dir, tmp, {},
                            _norm_cell, QUERIES)
        con = duck_connection(sf_dir)
        pins: dict = {"data": {"sf": run.SF, "seed": run.DATA_SEED},
                      "bi_serve": {}, "etl_ingest": {}, "stream": {}}
        bad, oracle_ok = [], {}
        checked = workloads.bi_queries(QUERIES) + [
            "q65_incremental_append"]
        for name in checked:
            df = QUERIES[name].fn(spark, sf_dir)
            problems = compare(df, con, QUERIES[name].oracle)
            if problems:
                bad.append((name, problems[:3]))
            else:
                oracle_ok[name] = ctx.digest(df)
            print(name, "ok" if not problems else problems[:1], flush=True)
        if bad:
            print("oracle mismatches, pins not written:", bad)
            return 1
        pins["bi_serve"] = {n: oracle_ok[n]
                            for n in workloads.bi_queries(QUERIES)}

        pairs = set()
        for seed in (1, 2):
            inputs = workloads.etl_ingest_setup(ctx, seed)
            db, sdb = f"pin_wh_{seed}", f"pin_stream_{seed}"
            it = workloads._etl_iteration(ctx, f"pin{seed}", db)
            stream = workloads._stream(ctx, seed, inputs, sdb)
            shutil.rmtree(inputs["src"])
            pins["etl_ingest"] = workloads.observe_etl(ctx, it, db)
            pins["stream"] = workloads.observe_stream(ctx, sdb)
            if stream["quarantined"] != inputs["n_bad"]:
                print("quarantine mismatch", stream, inputs)
                return 1
            if pins["etl_ingest"]["q65_incremental_append"] != oracle_ok[
                    "q65_incremental_append"]:
                print("q65 differs from its oracle-checked result")
                return 1
            pairs.add(pins["stream"]["near_dup_pairs"])
        if len(pairs) != 1:
            print("near-dup pair set depends on the epoch split:", pairs)
            return 1
        with open(os.path.join(run.HERE, "pins.json"), "w") as fh:
            json.dump(pins, fh, indent=1, sort_keys=True)
            fh.write("\n")
        print("pins written")
        spark.stop()
        return 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
