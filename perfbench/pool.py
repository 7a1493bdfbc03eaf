#!/usr/bin/env python3
"""Measure the query pool the `batch_queries` workload is sampled from.

    python3 perfbench/pool.py --sf 0.1 --out perfbench/pool_times.json

Runs every registered batch query once, cold, in one bench session on
the benchmark's own tables (the same session and warm-up as a
benchmark run), times it, then times its DuckDB oracle and compares
the two. Writes {query: {"kind", "spark_s", "oracle_s", "ok"}} as JSON.
A query is `analyst` when its oracle reads neither `documents` nor
`embeddings`, `curation` when it reads either; `q_stream_*` queries
are not part of the pool. `workloads.sample_pool` draws the
workload's queries from this file.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def kind_of(name: str, oracle_sql: str) -> str | None:
    if name.startswith("q_stream_"):
        return None
    if re.search(r"\b(documents|embeddings)\b", oracle_sql, re.I):
        return "curation"
    return "analyst"


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--sf", default="0.1")
    p.add_argument("--out", required=True)
    args = p.parse_args(argv)
    sys.path.insert(0, ROOT)
    from perfbench import datagen, run
    from perfbench.oracle import Oracle, canon
    
    work = os.path.join(run.WORK, f"pool-{os.getpid()}")
    run.configure_env(work)
    sf_dir = datagen.write_tables(
        os.path.join(run.WORK, "data", f"sf{args.sf}-{run.DATA_VERSION}"), float(args.sf)
    )
    import bench
    import __spark_entry__ as entry

    oracle_sql = entry.oracle_sql()
    queries = entry.queries()
    pool = {n: kind_of(n, oracle_sql.get(n, "")) for n in sorted(queries) if n in oracle_sql}
    pool = {n: k for n, k in pool.items() if k}
    oracle = Oracle({t: os.path.join(sf_dir, f"{t}.parquet") for t in datagen.TABLES})
    spark = bench.prepare_session(sf_dir)
    out = {}
    try:
        queries["q6_forecast_revenue"](spark, sf_dir).toPandas()  # first-query costs
        for name, kind in pool.items():
            rec = {"kind": kind, "ok": False}
            try:
                t0 = time.perf_counter()
                got = queries[name](spark, sf_dir).toPandas()
                rec["spark_s"] = round(time.perf_counter() - t0, 4)
                t0 = time.perf_counter()
                want = oracle.canon(oracle_sql[name])
                rec["oracle_s"] = round(time.perf_counter() - t0, 4)
                rec["ok"] = canon(got) == want
            except Exception as e:  # recorded, not fatal
                rec["error"] = repr(e)[:200]
            out[name] = rec
            print(name, rec, flush=True)
    finally:
        oracle.close()
        run.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
