#!/usr/bin/env python
"""Benchmark harness — runs every declared query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is timed to a `noop` write (full computation, no driver
collect) after one untimed warm-up of the session.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod  # noqa: E402
from kommunedata_data_pipeline_spark.session import get_spark  # noqa: E402


def prepare_session(sf_dir: str):
    """The bench session: data-sized shuffle partitions, warmed with
    what every query uses (the table scans and the Python worker pool),
    so those one-off JVM/worker-pool costs are not billed to whichever
    query alphabetically sorts first. A path only some queries take
    (transformWithState) is not warmed: its first use falls on an
    attempt that `time_one`'s best-of-N drops. Shared by
    `main` and by scripts/judge_ratio.py --interleaved (the
    cross-engine A/B must time queries under the SAME session shape
    the recorded bench used).

    Every TIMED query computes from the parquet inputs: the r2-r11
    suite-wide base-scan persist (SPARK_GRAFT_CACHE_TABLES, materialized
    untimed here) is REMOVED as of round 12 — caching base tables
    outside the timed region measures the cache, not the query
    (OPTIMIZATION_r12.md "Bench methodology")."""
    # size shuffle partitions to the data (the knob is an upper bound —
    # AQE coalesces below it, but the initial task count still costs
    # scheduling time per stage): ~32 MB per partition, floor 8, cap at
    # the core count. At 100 TB the same rule lands at the core count.
    # (Interleaved A/B at sf0.1: 19 partitions ≈ 5.7/6.2 s vs 8 ≈
    # 5.1/5.2 s on an 11-query subset — per-stage task scheduling costs
    # more than the extra parallelism buys below ~1 GB.)
    total_mb = sum(
        os.path.getsize(os.path.join(sf_dir, f)) for f in os.listdir(sf_dir)
    ) / 1e6
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    parts = max(8, min(cpus, int(total_mb // 32) + 1))
    # AQE's per-shuffle stage materialization + re-plan costs ~0.2 s per
    # query at sub-GB scale while buying nothing (partitions are already
    # sized above, no skew at this sf). Keep it for real scale — runtime
    # coalesce/skew-split matter when shuffle stats are unknown — but
    # below ~10 GB the static plan is strictly better.
    extra = {"spark.sql.adaptive.enabled": "false"} if total_mb < 10_000 else {}
    spark = get_spark(
        app_name="kommunedata-bench", shuffle_partitions=parts, extra_conf=extra
    )

    # warm-up (not timed): JVM + parquet footer/OS-page caches, and the
    # Python worker pool — the first Arrow-UDF stage otherwise pays a
    # one-off storm of 32 forked workers importing pandas, misattributed
    # to whichever query alphabetically sorts first. Nothing is
    # persisted: each timed query re-reads (and re-redistributes) the
    # parquet inputs itself.
    from kommunedata_data_pipeline_spark.schemas import STAR_TABLES
    from kommunedata_data_pipeline_spark.sources.readers import load_table

    for t in STAR_TABLES:
        load_table(spark, sf_dir, t).count()

    def _warm(it):
        import pandas as pd

        import kommunedata_data_pipeline_spark.transforms.multimodal  # noqa: F401

        for pdf in it:
            yield pd.DataFrame({"id": pdf["id"]})

    spark.range(256).repartition(cpus).mapInPandas(_warm, "id long").count()
    return spark


def _job_coverage_sec(spark, tag: str) -> float | None:
    """Merged [submission, completion] wall coverage (sec) of all
    jobs tagged with job-group `tag`, or None if none recorded."""
    try:
        store = spark.sparkContext._jsc.sc().statusStore()
        intervals = []
        for _ in range(10):  # status listener bus is async
            intervals = []
            pending = False
            jobs = store.jobsList(None)
            for i in range(jobs.size()):
                j = jobs.apply(i)
                grp = j.jobGroup()
                if not (grp.isDefined() and grp.get() == tag):
                    continue
                sub, comp = j.submissionTime(), j.completionTime()
                if not sub.isDefined():
                    continue
                if not comp.isDefined():
                    pending = True
                    break
                intervals.append(
                    (sub.get().getTime(), comp.get().getTime())
                )
            if not pending:
                break
            time.sleep(0.05)
        if not intervals:
            return None
        intervals.sort()
        covered, cur_s, cur_e = 0, *intervals[0]
        for s, e in intervals[1:]:
            if s > cur_e:
                covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        covered += cur_e - cur_s
        return covered / 1000.0
    except Exception:
        return None


def time_one(spark, name: str, fn, sf_dir: str):
    """Best-of-2 (+adaptive 3rd on >50% disagreement) timing of one
    registered query under the bench discipline. Returns (wall, exec)
    seconds, or (-1.0, -1.0) on failure. The FIRST attempt builds the
    DataFrame (py4j expression construction, 0.1-0.3 s for
    expression-heavy queries); the second reuses it, so the min
    reflects Catalyst + execution the way a prepared statement would.
    Streaming queries execute inside fn() and are rebuilt per attempt;
    their exec component is the addBatch duration stash."""
    from kommunedata_data_pipeline_spark.streaming.windows import (
        LAST_RUN_DURATIONS,
    )

    attempts: list[float] = []
    exec_attempts: list[float] = []
    df = None
    while len(attempts) < 2 or (
        len(attempts) == 2
        and abs(attempts[0] - attempts[1]) > 0.5 * min(attempts)
    ):
        tag = f"bench:{name}:{len(attempts)}"
        spark.sparkContext.setJobGroup(tag, name)
        t0 = time.perf_counter()
        try:
            if df is None or name.startswith("q_stream"):
                df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            wall = time.perf_counter() - t0
            attempts.append(wall)
            if name.startswith("q_stream"):
                phases = LAST_RUN_DURATIONS.get(f"{name}_sink") or {}
                ex = phases.get("addBatch")
                exec_attempts.append(
                    ex / 1000.0 if ex is not None else wall
                )
            else:
                cov = _job_coverage_sec(spark, tag)
                exec_attempts.append(cov if cov is not None else wall)
        except Exception as exc:
            print(f"BENCH FAIL {name}: {exc}", file=sys.stderr)
            return -1.0, -1.0
        finally:
            spark.sparkContext.setJobGroup("", "")
    best = min(attempts)
    return round(best, 3), round(exec_attempts[attempts.index(best)], 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    spark = prepare_session(sf_dir)

    timings: dict[str, float] = {}
    exec_timings: dict[str, float] = {}
    for name, fn in sorted(entrymod.queries().items()):
        w, e = time_one(spark, name, fn, sf_dir)
        timings[name] = w
        exec_timings[name] = e

    # Failed queries are EXCLUDED from the total (a -1 sentinel must not
    # offset real seconds) and named explicitly — a total with failures
    # is not comparable to a fully-passing run's, so the failure list
    # rides next to the metric in both the sidecar and the stdout line.
    failed = sorted(n for n, t in timings.items() if t < 0)
    total = round(sum(t for t in timings.values() if t >= 0), 3)
    total_exec = round(sum(t for t in exec_timings.values() if t >= 0), 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # Per-query detail goes to a sidecar file + stderr: the r1 driver
    # truncated the 2.4 KB single-line JSON mid-string ("parsed": null),
    # so stdout carries ONE short parseable line only.
    detail = {
        "metric": "total_query_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        # engine-execution seconds of the same best attempt per query
        # (merged job wall coverage for batch, addBatch for streams);
        # wall - exec = the per-query scheduling/planning floor
        "exec_queries": exec_timings,
        "value_exec": total_exec,
        "failed": failed,
        "sf": sf_val,
    }
    here = os.path.dirname(os.path.abspath(__file__))
    # Two sidecars: the unsuffixed name is the stable path scripts read
    # (ab_snapshot, judge_ratio), the cpu-suffixed one survives the
    # driver's second scale-down run — r12's 8-core leg OVERWROTE the
    # 32-core per-query record (VERDICT r12 "what's wrong" #1).
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    for fname in ("BENCH_QUERIES.json", f"BENCH_QUERIES_c{cpus}.json"):
        with open(os.path.join(here, fname), "w") as f:
            json.dump(detail, f, indent=1, sort_keys=True)
    print(json.dumps(detail), file=sys.stderr, flush=True)
    # stdout line: the driver keeps only the LAST ~2000 chars of output
    # and parses the final JSON line (r1: a 2.4 KB line came back
    # "parsed": null), so the full 293-query dict cannot ride on stdout.
    # Ship the HEAVIEST queries inline — wall + exec for the same names,
    # most-expensive first — growing the line until a hard byte budget;
    # the driver gets per-query deltas/scaling for every query that
    # matters while the tail (<1 s each) stays in the sidecars. This is
    # additions-only vs the r1-r12 contract (queries was {} on stdout).
    base = {
        "metric": "total_query_seconds",
        "value": total,
        "value_exec": total_exec,
        "unit": "sec",
        "queries": {},
        "exec_queries": {},
        "queries_file": "BENCH_QUERIES.json",
        "n_queries": len(timings),
        "n_queries_shown": 0,
        "n_failed": len(failed),
        "failed": failed,
        "sf": sf_val,
    }
    budget = 1900
    by_cost = sorted(
        (n for n, t in timings.items() if t >= 0),
        key=lambda n: -timings[n],
    )
    shown: dict[str, float] = {}
    shown_exec: dict[str, float] = {}
    for n in by_cost:
        shown[n] = timings[n]
        shown_exec[n] = exec_timings[n]
        trial = dict(base, queries=shown, exec_queries=shown_exec,
                     n_queries_shown=len(shown))
        if len(json.dumps(trial, separators=(",", ":"))) > budget:
            del shown[n], shown_exec[n]
            break
    base.update(
        queries=shown, exec_queries=shown_exec, n_queries_shown=len(shown)
    )
    # stderr flushed first, stdout flushed here: the driver's capture
    # merges both streams and keeps the tail — the parseable line must
    # be LAST in the merged order, not just last on its own stream.
    print(json.dumps(base, separators=(",", ":")), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
