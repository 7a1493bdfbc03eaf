"""The two workloads: what one pass runs, and how its outputs are checked.

A pass is one closed-loop sweep over the workload's operations: the
next operation starts only when the previous one returned. Every operation is cold: registered queries are built again
by calling the registered function, ingests start from empty stores.
"""

from __future__ import annotations

import os
import random
import shutil
import time
import traceback
from datetime import datetime

from . import datagen, tracing

# The batch queries are drawn by a fixed rule from the measured pool
# in pool_times.json (`pool.py`: every registered batch query run once
# cold at sf0.1 on 4 cores, with its oracle timed and checked). In each
# kind, the queries that matched their oracle, and whose oracle takes
# at most MAX_ORACLE_S (the check is part of every run), are sorted by
# cold time and cut into equal-count strata; the middle query of each
# stratum is taken (`sample_pool`). So the sample follows the pool's
# time distribution, in which per-query fixed cost weighs most. The
# lists below are that rule's output, frozen (test_perfbench checks
# them), so a faster program does not change the workload.
POOL_TIMES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pool_times.json")
MAX_ORACLE_S = 2.0
N_ANALYST, N_CURATION = 6, 1
ANALYST_QUERIES = (
    "q_cumulative_users",
    "q_time_rollup",
    "q2_min_cost_supplier",
    "q_funnel_stages",
    "q7_volume_shipping",
    "q_cms_heavy_hitters",
)
# Three corpus queries over the same MinHash signatures of `documents`
# (3-word shingles, 16 hashes): a cache shared across queries would
# show here. They are taken outright; the sample adds one more.
SHARED_FRAME_QUERIES = (
    "q_minhash_signatures",
    "q_minhash_lsh_pairs",
    "q_minhash_index_update",
)
CURATION_QUERIES = SHARED_FRAME_QUERIES + (
    "q_centroid_drift",
)
# Untimed, in set-up, outside the workload: joins, aggregates and a
# sort over the star tables, and a query over the MinHash LSH pairs of
# `documents`.
WARM_QUERIES = ("q3_shipping_priority", "q_label_propagation")
# Event-stream queries driven through windows.run_to_memory: each pays
# the streaming start/stop floor and a state store, q_stream_stateful
# also the Python stateful runner's spawn.
WINDOW_QUERIES = ("q_stream_stateful", "q_stream_tumbling", "q_stream_dedup_ttl")
# Incremental ingests over the staged stream, with the oracle that
# defines each one's landed set (parameters mirror those queries).
INGESTS = {
    "ingest_minhash": ("docs", "documents", "q_stream_ingest_dedup"),
}
STREAM_SCHEMAS = {
    "docs": "doc_id bigint, text string",
}


def sample_pool(pool: dict, kind: str, n: int, exclude=()) -> tuple[str, ...]:
    """The selection rule above: ``n`` stratum midpoints of the ``kind``
    queries of ``pool`` ({query: measurement}), ordered by cold time."""
    ranked = sorted(
        (r["spark_s"], q) for q, r in pool.items()
        if r["kind"] == kind and r["ok"] and r["oracle_s"] <= MAX_ORACLE_S and q not in exclude
    )
    return tuple(ranked[int((i + 0.5) * len(ranked) / n)][1] for i in range(n))


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class Workload:
    """Shared pass loop; subclasses define the operations."""

    name = ""

    def __init__(self, spark, entry, sf_dir: str, work_dir: str, seed: int) -> None:
        self.spark = spark
        self.entry = entry
        self.sf_dir = sf_dir
        self.work_dir = work_dir
        self.seed = seed
        self.queries = entry.queries()
        self.probe = tracing.SparkProbe(spark)
        self.listener = tracing.BatchListener()
        spark.streams.addListener(self.listener)
        self.outputs: dict = {}

    def setup(self) -> None:
        """Work done once before timing, counted in ``setup_s``."""

    def order(self) -> list[str]:
        """The operations of a pass, in run order."""
        raise NotImplementedError

    def run_pass(self, traced: bool) -> tuple[float, list[dict]]:
        """Run every operation once; returns (pass wall seconds, one
        record per operation)."""
        self.probe.drain_jobs()
        self.listener.take()
        records = []
        t0 = time.perf_counter()
        for name in self.order():
            records.append(self._run_op(name, traced))
        return time.perf_counter() - t0, records

    def _run_op(self, name: str, traced: bool) -> dict:
        rec: dict = {"name": name, "ok": True, "probe_s": 0.0}
        t_probe = time.perf_counter()
        gc0 = self.probe.gc_s() if traced else 0.0
        rec["probe_s"] += time.perf_counter() - t_probe
        try:
            self.run_op(name, rec, traced)
        except Exception:  # a failed operation is counted, not fatal
            rec["ok"] = False
            rec["error"] = traceback.format_exc(limit=3)
            print(f"FAILED {name}:\n{rec['error']}", flush=True)
        self.probe.wait_bus()
        rec["progress"] = self.listener.take()
        if traced:
            t_probe = time.perf_counter()
            jobs = self.probe.drain_jobs()
            rec["jobs"] = self.probe.job_intervals(jobs)
            rec["stages"] = self.probe.stage_totals(jobs)
            rec["pinned_mb"], rec["pinned_rdds"] = self.probe.pinned()
            rec["heap_mb"] = self.probe.heap_used_mb()
            rec["gc_s"] = self.probe.gc_s() - gc0
            rec["probe_s"] += time.perf_counter() - t_probe
        return rec

    def run_query(self, name: str, rec: dict, traced: bool) -> None:
        fn = self.queries[name]
        t0 = time.time()
        df = fn(self.spark, self.sf_dir)
        t_built = time.time()
        pdf = df.toPandas()
        t_end = time.time()
        rec["wall_s"] = t_end - t0
        rec["kind"] = "query"
        if traced:
            t_probe = time.perf_counter()
            rec["split"] = (t0, t_built, t_end, tracing.catalyst_phases(df))
            rec["probe_s"] += time.perf_counter() - t_probe
        self.outputs[name] = pdf

    def check(self) -> dict[str, str]:
        """Untimed: compare every recorded output with its oracle.
        Returns {operation: reason} for each mismatch."""
        raise NotImplementedError


class BatchQueries(Workload):
    name = "batch_queries"

    def setup(self) -> None:
        """The first query of a session runs 1-3 s slower than it does
        later (first Arrow collect, first code generation of its
        operators), and the first query over MinHash signatures 2-4 s
        slower; queries outside the workload pay that here, not
        whichever query the seed puts first."""
        for name in WARM_QUERIES:
            self.queries[name](self.spark, self.sf_dir).toPandas()

    def order(self) -> list[str]:
        """The seed's permutation of the queries, with the three
        signature-sharing queries kept together in pipeline order
        (signatures, pairs, index update), as an analyst runs them.
        Their cold times depend on which of them ran before: on 4
        cores q_minhash_signatures took 0.3-0.5 s, but 2.3 s when
        q_minhash_index_update had run after the last
        q_minhash_lsh_pairs. Letting the seed split them would make
        the pass time depend on the seed rather than on the program."""
        units = [[q] for q in sorted(ANALYST_QUERIES + CURATION_QUERIES)
                 if q not in SHARED_FRAME_QUERIES]
        units.append(list(SHARED_FRAME_QUERIES))
        random.Random(self.seed).shuffle(units)
        return [q for unit in units for q in unit]

    def run_op(self, name: str, rec: dict, traced: bool) -> None:
        self.run_query(name, rec, traced)

    def check(self) -> dict[str, str]:
        from .oracle import Oracle, canon

        oracle = Oracle({t: os.path.join(self.sf_dir, f"{t}.parquet") for t in datagen.TABLES})
        try:
            return _compare(self.outputs, {n: oracle.canon(self.entry.oracle_sql()[n])
                                           for n in self.outputs}, canon)
        finally:
            oracle.close()


class Streaming(Workload):
    name = "streaming"

    def __init__(self, *a, **kw) -> None:
        super().__init__(*a, **kw)
        self.stage_dir = os.path.join(self.work_dir, "stream")
        self.landed: list[tuple[str, str, dict]] = []

    def setup(self) -> None:
        """Stage the seeded stream, then warm each ingest path on its
        first batch file into throwaway stores. The first ingest of a
        process pays several seconds of one-off costs (class loading,
        code generation of the ingest's plans) that a long-running
        ingest pays once; here they count in set-up, not in the pass."""
        shutil.rmtree(self.stage_dir, ignore_errors=True)
        datagen.stage_stream(self.sf_dir, self.stage_dir, self.seed)
        warm = os.path.join(self.work_dir, "warm")
        for name, (stage, _view, _oracle) in INGESTS.items():
            os.makedirs(os.path.join(warm, "stream", stage), exist_ok=True)
            first = sorted(os.listdir(os.path.join(self.stage_dir, stage)))[0]
            shutil.copy2(os.path.join(self.stage_dir, stage, first),
                         os.path.join(warm, "stream", stage, first))
            self.drain(name, os.path.join(warm, name), os.path.join(warm, "stream"))
        shutil.rmtree(warm)

    def order(self) -> list[str]:
        """A fixed order, the ingest first: the seed varies the stream,
        not the order."""
        return list(INGESTS) + list(WINDOW_QUERIES)

    def run_op(self, name: str, rec: dict, traced: bool) -> None:
        if name in INGESTS:
            self.run_ingest(name, rec, traced)
        else:
            self.run_windows(name, rec, traced)

    def run_windows(self, name: str, rec: dict, traced: bool) -> None:
        if not traced:
            return self.run_query(name, rec, traced)
        from kommunedata_data_pipeline_spark.streaming import windows

        calls: dict = {}
        start, finish = windows.start_to_memory, windows.finish_to_memory

        def timed_start(*a, **kw):
            calls["start"] = time.time()
            return start(*a, **kw)

        def timed_finish(*a, **kw):
            try:
                return finish(*a, **kw)
            finally:
                calls["finish_end"] = time.time()

        windows.start_to_memory, windows.finish_to_memory = timed_start, timed_finish
        try:
            self.run_query(name, rec, traced)
        finally:
            windows.start_to_memory, windows.finish_to_memory = start, finish
        rec["windows_calls"] = calls

    def drain(self, name: str, base: str, stage_dir: str | None = None) -> tuple[str, str]:
        """Run ingest ``name`` over the stream staged under ``stage_dir``
        (default: the seeded stream) into fresh stores under ``base``;
        returns (index, landed) paths."""
        from kommunedata_data_pipeline_spark.streaming import ingest

        stage = INGESTS[name][0]
        shutil.rmtree(base, ignore_errors=True)
        index, landed, ckpt = (os.path.join(base, d) for d in ("index", "landed", "ckpt"))
        stream = (
            self.spark.readStream.schema(STREAM_SCHEMAS[stage])
            .option("maxFilesPerTrigger", "1")
            .parquet(os.path.join(stage_dir or self.stage_dir, stage))
        )
        writer = ingest.minhash_dedup_ingest(
            stream, index, landed, k=3, num_hashes=16, bands=4, threshold=0.5,
            auto_compact=True,
        )
        ingest.run_writer_available_now(writer, ckpt)
        return index, landed

    def run_ingest(self, name: str, rec: dict, traced: bool) -> None:
        base = os.path.join(self.work_dir, "stores", name)
        fs, hooks = tracing.FsCounter(), tracing.IngestHooks()
        t0 = time.time()
        if traced:
            with fs.active(), hooks.active():
                index, landed = self.drain(name, base)
        else:
            index, landed = self.drain(name, base)
        rec["wall_s"] = time.time() - t0
        rec["kind"] = "ingest"
        self.landed.append((name, landed, rec))
        rec["fs"] = dict(fs.counts)
        rec["hooks"] = vars(hooks).copy()
        rec["input_bytes"] = tracing.walk_store(os.path.join(self.stage_dir, INGESTS[name][0]))[1]
        rec["store"] = [tracing.walk_store(p) for p in (landed, index, index + "_ids")]

    def collect_landed(self) -> None:
        """Read every ingest's landed output (after the timed pass)."""
        for name, landed, rec in self.landed:
            out = self.spark.read.parquet(landed)
            pdf = out.select(out.columns[0]).toPandas()
            self.outputs[name] = pdf
            rec["rows_landed"] = len(pdf)
        self.landed = []

    def check(self) -> dict[str, str]:
        from .oracle import Oracle, canon

        self.collect_landed()
        base_views = {t: os.path.join(self.sf_dir, f"{t}.parquet") for t in datagen.TABLES}
        oracle_sql = self.entry.oracle_sql()
        expected = {}
        for name in self.outputs:
            views = dict(base_views)
            sql = oracle_sql[name] if name in WINDOW_QUERIES else oracle_sql[INGESTS[name][2]]
            if name in INGESTS:
                stage, view, _ = INGESTS[name]
                views[view] = os.path.join(self.stage_dir, f"{stage}.parquet")
            oracle = Oracle(views)
            try:
                expected[name] = oracle.canon(sql)
            finally:
                oracle.close()
        return _compare(self.outputs, expected, canon)


def _compare(outputs: dict, expected: dict, canon) -> dict[str, str]:
    bad = {}
    for name, pdf in outputs.items():
        got, want = canon(pdf), expected[name]
        if got[0] != want[0]:
            bad[name] = f"columns {got[0]} != {want[0]}"
        elif len(got[1]) != len(want[1]):
            bad[name] = f"{len(got[1])} rows != {len(want[1])}"
        elif got[1] != want[1]:
            bad[name] = "values differ"
    return bad


WORKLOADS = {w.name: w for w in (BatchQueries, Streaming)}


def batch_timeline(progress: list[dict]) -> list[tuple[float, float]]:
    """(start, end) epoch seconds of each data-carrying micro-batch."""
    out = []
    for p in tracing.data_batches(progress):
        s = _epoch(p["timestamp"])
        out.append((s, s + p["durationMs"].get("triggerExecution", 0) / 1000.0))
    return out
