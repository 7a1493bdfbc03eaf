"""Per-layer observation from outside the program.

Everything here wraps or reads the program's public surfaces: Spark's
status store and query-execution tracker (through py4j), a
StreamingQueryListener, the ingest module's compaction functions, the
zones read log, and the driver process's own filesystem calls. Nothing
here changes what the program computes.
"""

from __future__ import annotations

import builtins
import json
import math
import os
import statistics
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


def rss_high_water_mb(jvm_pid: int | None) -> float:
    """High-water RSS of this Python process plus the JVM, in MB."""
    total_kb = 0
    for pid in ("self", str(jvm_pid) if jvm_pid else None):
        if pid is None:
            continue
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


class BatchListener(StreamingQueryListener):
    """Collects every micro-batch progress of every streaming query as
    a dict (the progress JSON)."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        d = json.loads(event.progress.json)
        with self.lock:
            self.progress.append(d)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def take(self) -> list[dict]:
        with self.lock:
            out, self.progress = self.progress, []
        return out


def data_batches(progress: list[dict]) -> list[dict]:
    return [p for p in progress if p.get("numInputRows", 0) > 0]


class SparkProbe:
    """Reads jobs, stages, storage and JVM counters from the driver's
    status store and JVM."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.jvm = self.sc._jvm
        self._no_quantiles = self.sc._gateway.new_array(self.jvm.double, 0)
        self.next_job = 0

    def wait_bus(self) -> None:
        """Block until the listener bus has delivered every event so far,
        so the status store and the streaming listener are complete."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def drain_jobs(self) -> list:
        """JobData of every job submitted since the last drain (job ids
        are sequential; the op loop is closed, so they are this op's)."""
        from py4j.protocol import Py4JJavaError

        self.wait_bus()
        jobs, misses, probe_id = [], 0, self.next_job
        while misses < 3:
            try:
                jobs.append(self.store.job(probe_id))
                self.next_job, misses = probe_id + 1, 0
            except Py4JJavaError:
                misses += 1
            probe_id += 1
        return jobs

    @staticmethod
    def job_intervals(jobs: list) -> list[tuple[float, float]]:
        out = []
        for j in jobs:
            sub, comp = j.submissionTime(), j.completionTime()
            if sub.isDefined() and comp.isDefined():
                out.append((sub.get().getTime() / 1000.0, comp.get().getTime() / 1000.0))
        return out

    def stage_totals(self, jobs: list) -> dict:
        tot = {"stages": 0, "task_s": 0.0, "shuffle_read_mb": 0.0,
               "shuffle_write_mb": 0.0, "spill_mb": 0.0, "input_mb": 0.0}
        seen: set[int] = set()
        for j in jobs:
            sids = j.stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                attempts = self.store.stageData(sid, False, None, False, self._no_quantiles)
                for k in range(attempts.size()):
                    s = attempts.apply(k)
                    if str(s.status()) == "SKIPPED":
                        continue
                    tot["stages"] += 1
                    tot["task_s"] += s.executorRunTime() / 1000.0
                    tot["shuffle_read_mb"] += s.shuffleReadBytes() / 1e6
                    tot["shuffle_write_mb"] += s.shuffleWriteBytes() / 1e6
                    tot["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 1e6
                    tot["input_mb"] += s.inputBytes() / 1e6
        return tot

    def pinned(self) -> tuple[float, int]:
        """(MB, RDD count) of executor storage currently cached."""
        mb, n = 0.0, 0
        for info in self.sc._jsc.sc().getRDDStorageInfo():
            if info.numCachedPartitions() > 0:
                n += 1
                mb += (info.memSize() + info.diskSize()) / 1e6
        return mb, n

    def heap_used_mb(self) -> float:
        rt = self.jvm.java.lang.Runtime.getRuntime()
        return (rt.totalMemory() - rt.freeMemory()) / 1e6

    def gc_s(self) -> float:
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1000.0


def catalyst_phases(df) -> dict[str, tuple[float, float]]:
    """{phase: (start, end)} in epoch seconds from the DataFrame's
    query-execution tracker (analysis, optimization, planning)."""
    out = {}
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = (kv._2().startTimeMs() / 1000.0, kv._2().endTimeMs() / 1000.0)
    return out


def merged(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for s, e in sorted(intervals):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def covered(intervals, lo: float, hi: float) -> float:
    """Seconds of [lo, hi] covered by the union of ``intervals``."""
    return sum(max(0.0, min(e, hi) - max(s, lo)) for s, e in merged(intervals))


def split_query_time(t0, t_built, t_end, phases, jobs) -> dict:
    """Attribute one query's wall time [t0, t_end] to disjoint parts:
    build (the Python call that returns the DataFrame), the Catalyst
    phases that run after it, job coverage outside those, and the rest
    as the driver gap: build + catalyst + job + gap == wall. The final
    frame is analyzed eagerly while it is built, so ``analysis_s`` is the
    tracker's whole analysis phase and lies inside ``build_s``."""
    after = {k: covered([v], t_built, t_end) for k, v in phases.items()}
    spans = merged([(max(s, t_built), min(e, t_end)) for s, e in phases.values() if e > t_built])
    catalyst = sum(e - s for s, e in spans)
    job = covered(jobs, t_built, t_end) - sum(covered(jobs, s, e) for s, e in spans)
    a = phases.get("analysis")
    wall, build = t_end - t0, t_built - t0
    return {
        "wall_s": wall,
        "build_s": build,
        "analysis_s": a[1] - a[0] if a else 0.0,
        "optimization_s": after.get("optimization", 0.0),
        "planning_s": after.get("planning", 0.0),
        "catalyst_s": catalyst,
        "job_s": job,
        "gap_s": wall - build - catalyst - job,
    }


class FsCounter:
    """Counts the driver process's own filesystem calls while active."""

    NAMES = ("listdir", "replace", "rename", "stat", "open")

    def __init__(self) -> None:
        self.counts = dict.fromkeys(self.NAMES, 0)

    @contextmanager
    def active(self):
        saved = {n: getattr(os, n) for n in self.NAMES if n != "open"}
        saved_open = builtins.open

        def counting(name, fn):
            def wrapper(*a, **kw):
                self.counts[name] += 1
                return fn(*a, **kw)
            return wrapper

        for n, fn in saved.items():
            setattr(os, n, counting(n, fn))
        builtins.open = counting("open", saved_open)
        try:
            yield self
        finally:
            for n, fn in saved.items():
                setattr(os, n, fn)
            builtins.open = saved_open


class IngestHooks:
    """Wraps the ingest module's compaction functions and turns on the
    zones read log for the duration of an ingest run."""

    def __init__(self) -> None:
        self.compactions = 0
        self.compact_s = 0.0
        self.files_opened = 0
        self.files_skipped = 0
        self.bytes_written = 0

    @contextmanager
    def active(self):
        from kommunedata_data_pipeline_spark.sources import zones
        from kommunedata_data_pipeline_spark.streaming import ingest

        names = [n for n in dir(ingest) if n.startswith("compact_") and callable(getattr(ingest, n))]
        saved = {n: getattr(ingest, n) for n in names}

        def timed(fn):
            def wrapper(*a, **kw):
                t = time.perf_counter()
                try:
                    return fn(*a, **kw)
                finally:
                    self.compactions += 1
                    self.compact_s += time.perf_counter() - t
            return wrapper

        for n, fn in saved.items():
            setattr(ingest, n, timed(fn))
        prev_read, prev_write = zones.READ_LOG, ingest.WRITE_LOG
        zones.READ_LOG, ingest.WRITE_LOG = [], []
        try:
            yield self
        finally:
            for e in zones.READ_LOG:
                self.files_opened += e["selected_files"]
                self.files_skipped += e["total_files"] - e["selected_files"]
            self.bytes_written += sum(e.get("bytes", 0) for e in ingest.WRITE_LOG)
            zones.READ_LOG, ingest.WRITE_LOG = prev_read, prev_write
            for n, fn in saved.items():
                setattr(ingest, n, fn)


def walk_store(path: str) -> tuple[int, int]:
    """(files, bytes) of data files under ``path`` (checksums and the
    streaming metadata excluded)."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".crc") or n.startswith("."):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile; 0.0 for no values."""
    if not values:
        return 0.0
    s = sorted(values)
    return s[min(len(s) - 1, max(0, int(round(q * (len(s) - 1)))))]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def geomean(values: list[float]) -> float:
    """Geometric mean: every operation weighs the same whatever its
    size, so a saving on the small ones shows as much as on the large."""
    return math.exp(sum(math.log(v) for v in values) / len(values)) if values else 0.0
