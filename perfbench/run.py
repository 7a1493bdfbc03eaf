#!/usr/bin/env python3
"""Benchmark entry point: one workload per process.

    python3 perfbench/run.py --workload batch_queries --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. It generates the inputs (base tables
at --sf, plus the seeded stream), sets up the engine's bench session
(`bench.prepare_session` on local[nproc]), runs one closed-loop pass
over the workload, checks every output against its DuckDB oracle, and
prints a report followed by one JSON line. A pass is a fixed amount of
work, 14-19 s on 4 cores; --seconds is accepted and not used. With
--trace 1 the pass is traced, and the run reports the per-layer
metrics instead of the end-to-end ones. Exits non-zero on any failed
operation or oracle mismatch.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
PROGRAM = ("bench.py", "__spark_entry__.py", "kommunedata_data_pipeline_spark")
DATA_VERSION = "v1"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", default="0.1", help="scale factor of the base tables")
    return p.parse_args(argv)


def configure_env(work: str) -> None:
    """Environment the session inherits: the checkout on every Python
    worker's path, scratch space inside the checkout, and local[nproc]."""
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={work}/tmp "
        f"--conf spark.sql.warehouse.dir={work}/warehouse "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    spark.sparkContext._gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [p for p in PROGRAM if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program files missing from {ROOT}: {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import datagen, metrics, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    configure_env(work)

    # Base tables are benchmark input, generated once per checkout and
    # not counted as set-up.
    t_gen = time.perf_counter()
    sf_dir = datagen.write_tables(
        os.path.join(WORK, "data", f"sf{args.sf}-{DATA_VERSION}"), float(args.sf)
    )
    gen_s = time.perf_counter() - t_gen

    import bench
    import __spark_entry__ as entry
    from perfbench import tracing

    spark = bench.prepare_session(sf_dir)
    try:
        wl = workloads.WORKLOADS[args.workload](spark, entry, sf_dir, work, args.seed)
        wl.setup()
        setup_s = time.perf_counter() - T_PROCESS - gen_s

        pass_s, records = wl.run_pass(traced=bool(args.trace))
        peak_rss = tracing.rss_high_water_mb(tracing.jvm_pid(spark))
        t_check = time.perf_counter()
        mismatches = wl.check()
        check_s = time.perf_counter() - t_check
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(f"{args.workload} untimed: base tables {gen_s:.1f} s, oracle check {check_s:.1f} s, "
          f"whole run {time.perf_counter() - T_PROCESS:.1f} s")

    failed = sum(not r["ok"] for r in records)
    for r in records:
        if r["ok"]:
            gc = f" (jvm gc {r['gc_s']:.3f} s)" if "gc_s" in r else ""
            print(f"{args.workload} {r['name']} {r['wall_s']:.3f} s{gc}")
    for name, why in sorted(mismatches.items()):
        print(f"ORACLE MISMATCH {name}: {why}")
    report = metrics.end_to_end(wl, pass_s, records, setup_s, peak_rss, failed, len(mismatches))
    metrics.print_report(args.workload, report)
    if args.trace:
        values = metrics.per_layer(pass_s, records, peak_rss)
    else:
        values = {k: (v, unit) for k, (v, unit, _n) in report.items() if k in metrics.HEADLINE}
    correct = failed == 0 and not mismatches
    print(json.dumps({
        "correct": correct,
        "attempted": len(records),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()},
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
