"""Turning pass records into the reported metrics."""

from __future__ import annotations

from . import tracing
from .workloads import WINDOW_QUERIES, batch_timeline

# End-to-end metrics carried in the final JSON line (bounded by
# BENCHMARK.json); the report prints the rest with their sample counts.
HEADLINE = ("setup_s", "pass_s", "op_geomean_s")

# name -> (unit, better); every per-layer metric, in report order.
PER_LAYER = {
    "query.wall_s": ("s", "lower"),
    "entry.build_s": ("s", "lower"),
    "catalyst.analysis_s": ("s", "lower"),
    "catalyst.optimization_s": ("s", "lower"),
    "catalyst.planning_s": ("s", "lower"),
    "spark.job_s": ("s", "lower"),
    "driver.gap_s": ("s", "lower"),
    "spark.jobs_per_query": ("count", "lower"),
    "spark.stages_per_query": ("count", "lower"),
    "spark.task_s": ("s", "lower"),
    "spark.shuffle_read_mb": ("MB", "lower"),
    "spark.shuffle_write_mb": ("MB", "lower"),
    "spark.spill_mb": ("MB", "lower"),
    "sources.readers.input_mb": ("MB", "lower"),
    "operators.pinned_mb_after_query": ("MB", "lower"),
    "operators.pinned_rdds_after_query": ("count", "lower"),
    "jvm.heap_used_mb": ("MB", "lower"),
    "jvm.gc_s": ("s", "lower"),
    "query.p50_s": ("s", "lower"),
    "query.p90_s": ("s", "lower"),
    "ingest.batch_p50_s": ("s", "lower"),
    "ingest.batch_p90_s": ("s", "lower"),
    "ingest.docs_per_s": ("1/s", "higher"),
    "ingest.stored_bytes_per_input_byte": ("ratio", "lower"),
    "ingest.trigger_s": ("s", "lower"),
    "ingest.add_batch_s": ("s", "lower"),
    "ingest.query_planning_s": ("s", "lower"),
    "ingest.latest_offset_s": ("s", "lower"),
    "ingest.wal_commit_s": ("s", "lower"),
    "ingest.jobs_per_batch": ("count", "lower"),
    "ingest.gap_s_per_batch": ("s", "lower"),
    "ingest.compactions": ("count", "lower"),
    "ingest.compact_s": ("s", "lower"),
    "store.bytes_written": ("bytes", "lower"),
    "store.files_written": ("count", "lower"),
    "zones.files_opened": ("count", "lower"),
    "zones.files_skipped": ("count", "higher"),
    "fs.listdir_per_batch": ("count", "lower"),
    "fs.replace_per_batch": ("count", "lower"),
    "fs.rename_per_batch": ("count", "lower"),
    "fs.stat_per_batch": ("count", "lower"),
    "fs.open_per_batch": ("count", "lower"),
    "ingest.rows_in": ("count", "higher"),
    "ingest.rows_landed": ("count", "higher"),
    "ingest.dup_frac": ("ratio", "higher"),
    "windows.start_s": ("s", "lower"),
    "windows.stop_s": ("s", "lower"),
    "windows.batches": ("count", "lower"),
    "windows.add_batch_s": ("s", "lower"),
    "stateful.runner_start_s": ("s", "lower"),
    "stateful.state_rows": ("count", "lower"),
    "stateful.state_mb": ("MB", "lower"),
    "stateful.commit_s": ("s", "lower"),
    "process.peak_rss_mb": ("MB", "lower"),
    "trace.overhead_frac": ("ratio", "lower"),
}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _batch_seconds(records) -> list[float]:
    return [e - s for r in records for s, e in batch_timeline(r.get("progress", []))]


def _ingest_totals(records) -> dict:
    ing = [r for r in records if r.get("kind") == "ingest" and r["ok"]]
    rows_in = sum(p["numInputRows"] for r in ing for p in tracing.data_batches(r["progress"]))
    landed = sum(r.get("rows_landed", 0) for r in ing)
    stored = sum(s[1] for r in ing for s in r["store"])
    return {
        "records": ing,
        "rows_in": rows_in,
        "rows_landed": landed,
        "wall_s": sum(r["wall_s"] for r in ing),
        "stored_bytes": stored,
        "input_bytes": sum(r["input_bytes"] for r in ing),
        "batches": sum(len(tracing.data_batches(r["progress"])) for r in ing),
    }


def end_to_end(wl, pass_s, records, setup_s, peak_rss_mb, failed, mismatched) -> dict:
    """name -> (value, unit, sample count); value None where the
    workload has no such samples."""
    attempted = len(records)
    walls = [r["wall_s"] for r in records if r["ok"]]
    batches = _batch_seconds(records)
    ing = _ingest_totals(records)
    out = {
        "setup_s": (setup_s, "s", 1),
        "pass_s": (pass_s, "s", 1),
        "op_geomean_s": (tracing.geomean(walls), "s", len(walls)),
        "query_p50_s": (tracing.median(walls), "s", len(walls)),
        "query_p90_s": (tracing.quantile(walls, 0.9), "s", len(walls)),
        "batch_p50_s": (tracing.median(batches) if batches else None, "s", len(batches)),
        "batch_p90_s": (tracing.quantile(batches, 0.9) if batches else None, "s", len(batches)),
        "ingest_docs_per_s": (
            ing["rows_in"] / ing["wall_s"] if ing["wall_s"] else None, "1/s", ing["batches"]),
        "stored_bytes_per_input_byte": (
            ing["stored_bytes"] / ing["input_bytes"] if ing["input_bytes"] else None,
            "ratio", len(ing["records"])),
        "peak_rss_mb": (peak_rss_mb, "MB", 1),
        "failed_frac": (failed / attempted, "ratio", attempted),
        "oracle_mismatch": (mismatched, "count", len(wl.outputs)),
    }
    return out


def print_report(workload: str, report: dict) -> None:
    for name, (value, unit, n) in report.items():
        shown = "n/a" if value is None else f"{value:.6g}"
        print(f"{workload} {name} = {shown} {unit} (n={n})")


def _query_split(records) -> list[dict]:
    out = []
    for r in records:
        if r.get("kind") == "query" and r["ok"] and "split" in r:
            t0, t_built, t_end, phases = r["split"]
            out.append(tracing.split_query_time(t0, t_built, t_end, phases, r["jobs"]))
    return out


def per_layer(pass_s: float, records, peak_rss_mb: float) -> dict:
    """name -> (value, unit) from the traced pass. The overhead of
    tracing is the time the pass spent in the probes' reads, relative
    to the rest of the pass."""
    probe_s = sum(r["probe_s"] for r in records)
    ok = [r for r in records if r["ok"]]
    splits = _query_split(ok)
    stages = [r["stages"] for r in ok]
    v: dict[str, float] = {}
    for key, name in (("wall_s", "query.wall_s"), ("build_s", "entry.build_s"),
                      ("analysis_s", "catalyst.analysis_s"),
                      ("optimization_s", "catalyst.optimization_s"),
                      ("planning_s", "catalyst.planning_s"), ("job_s", "spark.job_s"),
                      ("gap_s", "driver.gap_s")):
        v[name] = _mean(s[key] for s in splits)
    v["spark.jobs_per_query"] = _mean(len(r["jobs"]) for r in ok)
    v["spark.stages_per_query"] = _mean(s["stages"] for s in stages)
    for key in ("task_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
        v[f"spark.{key}"] = sum(s[key] for s in stages)
    v["sources.readers.input_mb"] = sum(s["input_mb"] for s in stages)
    v["operators.pinned_mb_after_query"] = max((r["pinned_mb"] for r in ok), default=0.0)
    v["operators.pinned_rdds_after_query"] = max((r["pinned_rdds"] for r in ok), default=0)
    v["jvm.heap_used_mb"] = max((r["heap_mb"] for r in ok), default=0.0)
    v["jvm.gc_s"] = sum(r["gc_s"] for r in ok)
    v["query.p50_s"] = tracing.median([r["wall_s"] for r in ok])
    v["query.p90_s"] = tracing.quantile([r["wall_s"] for r in ok], 0.9)
    v.update(_ingest_layers(ok))
    v.update(_window_layers(ok))
    v["process.peak_rss_mb"] = peak_rss_mb
    v["trace.overhead_frac"] = probe_s / (pass_s - probe_s)
    return {k: (float(v[k]), PER_LAYER[k][0]) for k in PER_LAYER}


def _ingest_layers(records) -> dict:
    ing = _ingest_totals(records)
    recs = ing["records"]
    batches = [p for r in recs for p in tracing.data_batches(r["progress"])]
    nb = max(1, len(batches))
    secs = [p["durationMs"].get("triggerExecution", 0) / 1000.0 for p in batches]

    def phase(key):
        return _mean(p["durationMs"].get(key, 0) / 1000.0 for p in batches)

    jobs = gaps = 0.0
    for r in recs:
        for s, e in batch_timeline(r["progress"]):
            inside = [(a, b) for a, b in r["jobs"] if s <= a <= e]
            jobs += len(inside)
            gaps += (e - s) - tracing.covered(inside, s, e)
    fs = {k: sum(r["fs"][k] for r in recs) for k in tracing.FsCounter.NAMES}
    hooks = {k: sum(r["hooks"][k] for r in recs) for k in
             ("compactions", "compact_s", "files_opened", "files_skipped", "bytes_written")}
    return {
        "ingest.batch_p50_s": tracing.median(secs),
        "ingest.batch_p90_s": tracing.quantile(secs, 0.9),
        "ingest.docs_per_s": ing["rows_in"] / ing["wall_s"] if ing["wall_s"] else 0.0,
        "ingest.stored_bytes_per_input_byte": (
            ing["stored_bytes"] / ing["input_bytes"] if ing["input_bytes"] else 0.0),
        "ingest.trigger_s": phase("triggerExecution"),
        "ingest.add_batch_s": phase("addBatch"),
        "ingest.query_planning_s": phase("queryPlanning"),
        "ingest.latest_offset_s": phase("latestOffset"),
        "ingest.wal_commit_s": phase("walCommit"),
        "ingest.jobs_per_batch": jobs / nb if batches else 0.0,
        "ingest.gap_s_per_batch": gaps / nb if batches else 0.0,
        "ingest.compactions": hooks["compactions"],
        "ingest.compact_s": hooks["compact_s"],
        "store.bytes_written": hooks["bytes_written"],
        "store.files_written": sum(s[0] for r in recs for s in r["store"]),
        "zones.files_opened": hooks["files_opened"],
        "zones.files_skipped": hooks["files_skipped"],
        **{f"fs.{k}_per_batch": fs[k] / nb if batches else 0.0 for k in fs},
        "ingest.rows_in": ing["rows_in"],
        "ingest.rows_landed": ing["rows_landed"],
        "ingest.dup_frac": 1 - ing["rows_landed"] / ing["rows_in"] if ing["rows_in"] else 0.0,
    }


def _window_layers(records) -> dict:
    recs = [r for r in records if r["name"] in WINDOW_QUERIES and r.get("windows_calls")]
    start, stop, nbatch, add, runner, rows, mb, commit = ([] for _ in range(8))
    for r in recs:
        prog = r["progress"]
        timeline = batch_timeline(prog)
        calls = r["windows_calls"]
        if timeline:
            start.append(timeline[0][0] - calls["start"])
            stop.append(calls["finish_end"] - max(e for _, e in timeline))
        nbatch.append(len(prog))
        adds = [p["durationMs"].get("addBatch", 0) / 1000.0 for p in prog]
        add.append(sum(adds))
        ops = [op for p in prog for op in p.get("stateOperators", [])]
        python_state = any(tag in op.get("operatorName", "")
                           for op in ops for tag in ("Pandas", "PySpark", "Python"))
        if python_state and len(adds) > 1:
            runner.append(max(0.0, adds[0] - tracing.median(adds[1:])))
        elif python_state:
            runner.append(adds[0])
        if prog and prog[-1].get("stateOperators"):
            last = prog[-1]["stateOperators"]
            rows.append(sum(op.get("numRowsTotal", 0) for op in last))
            mb.append(sum(op.get("memoryUsedBytes", 0) for op in last) / 1e6)
        commit.append(sum(op.get("commitTimeMs", 0) for op in ops) / 1000.0)
    return {
        "windows.start_s": _mean(start),
        "windows.stop_s": _mean(stop),
        "windows.batches": _mean(nbatch),
        "windows.add_batch_s": _mean(add),
        "stateful.runner_start_s": _mean(runner),
        "stateful.state_rows": _mean(rows),
        "stateful.state_mb": _mean(mb),
        "stateful.commit_s": _mean(commit),
    }
