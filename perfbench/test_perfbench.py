"""Tests of the benchmark itself: ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench import datagen, metrics, tracing, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for root, _dirs, names in os.walk(d):
        for n in names:
            p = os.path.join(root, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, d)] = f.read()
    return out


def test_stream_is_a_function_of_the_seed(tmp_path):
    sf_dir = datagen.write_tables(str(tmp_path / "tables"), 0.005)
    infos = {}
    for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
        infos[tag] = datagen.stage_stream(sf_dir, str(tmp_path / tag), seed)
    a, b, c = (_files(str(tmp_path / t)) for t in "abc")
    assert a == b
    assert a.keys() == c.keys() and a != c
    assert infos["a"]["batches"] == len(datagen.BATCH_SHARES)
    assert infos["a"]["injected_doc_dups"] == int(
        datagen.STREAM_DUP_RATE * infos["a"]["docs"])


def test_query_selection_follows_the_rule():
    """The frozen query lists are the sampling rule's output on the
    recorded pool measurement."""
    with open(workloads.POOL_TIMES) as f:
        pool = json.load(f)
    assert workloads.sample_pool(pool, "analyst", workloads.N_ANALYST) == workloads.ANALYST_QUERIES
    shared = workloads.SHARED_FRAME_QUERIES
    assert (shared + workloads.sample_pool(pool, "curation", workloads.N_CURATION, shared)
            == workloads.CURATION_QUERIES)
    assert all(pool[q]["ok"] for q in workloads.ANALYST_QUERIES + workloads.CURATION_QUERIES)


def test_benchmark_json_names_every_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] == list(metrics.HEADLINE)
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == metrics.PER_LAYER


@pytest.mark.parametrize("workload", ["batch_queries", "streaming"])
@pytest.mark.parametrize("trace", [0, 1])
def test_self_test_emits_every_metric(workload, trace):
    """Each workload once at sf0.01 with the shortest settings."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--sf", "0.01"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    expected = metrics.PER_LAYER if trace else metrics.HEADLINE
    assert set(result["metrics"]) == set(expected)
    report = {line.split()[1] for line in lines if line.startswith(f"{workload} ")}
    assert {"setup_s", "pass_s", "op_geomean_s", "query_p50_s", "query_p90_s", "batch_p50_s",
            "batch_p90_s", "ingest_docs_per_s", "stored_bytes_per_input_byte",
            "peak_rss_mb", "failed_frac", "oracle_mismatch"} <= report


def test_query_split_sums_to_wall():
    """Build + Catalyst after the build + job coverage + gap == wall,
    with overlapping jobs merged and job time inside Catalyst not
    counted twice."""
    phases = {"analysis": (0.1, 0.3), "optimization": (1.0, 1.2), "planning": (1.2, 1.5)}
    jobs = [(1.4, 2.0), (1.8, 2.5), (3.0, 3.5)]
    s = tracing.split_query_time(0.0, 1.0, 4.0, phases, jobs)
    assert s["build_s"] == 1.0 and s["analysis_s"] == pytest.approx(0.2)
    assert s["catalyst_s"] == pytest.approx(0.5)
    assert s["job_s"] == pytest.approx(1.5)
    assert s["build_s"] + s["catalyst_s"] + s["job_s"] + s["gap_s"] == pytest.approx(s["wall_s"])
    assert s["gap_s"] == pytest.approx(1.0)
