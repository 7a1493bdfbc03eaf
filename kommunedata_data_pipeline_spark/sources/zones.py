"""File-level zone maps for the ingest stores and landed catalogs —
the read-side half of the linear-cumulative-I/O contract (VERDICT r10
#1: writes became O(batch) in r9/r10; this bounds the per-batch READ).

A zone manifest (`_zones.json`, atomically replaced beside the data)
records per-file min/max for the store's probe columns. A pruned read
selects only the files whose range can intersect the probe (a key set
or an id range) — the classic zone-map / Delta-stats file-skip. Two
facts make this effective for exactly the ingest contract shape (tiny
fresh batch vs huge history):

- compaction range-partitions the base by the probe key and sorts
  within files, so a batch of B distinct keys touches <= B of the
  base's N files regardless of store size — per-batch base bytes read
  are bounded by the batch, not the store;
- deltas are batch-sized by construction, so reading ALL deltas
  between compactions is bounded by the compaction trigger (the
  size-tiered ratio), never by table age.

The manifest is a cache of parquet footer statistics: `update_zones`
records each new file's [min, max] from that file's own footer
(`footer_stats` — driver-side, zero Spark jobs), so an entry can never
carry another file's or another batch's range. Soundness is
unconditional: a file absent from the manifest is ALWAYS read (a crash
between a data write and the manifest update degrades to a full read
of the new file until the next update, never a dropped row), and a
file is skipped only when its recorded [min, max] provably cannot
contain any probe value. The manifest itself is file-count-sized
driver state — the same class as the commit log
(`sinks.committed_files`), and at 100 TB it maps onto any table
format's per-file column statistics (Delta/Iceberg stats) with the
identical skip rule.
"""

from __future__ import annotations

import json
import math
import os
import uuid
from bisect import bisect_left

ZONES_NAME = "_zones.json"

# Reads recording: when set to a list, every pruned read appends a
# stats dict. Never enabled in library paths; perfbench's tracing,
# tests/test_zones.py and scripts/ingest_read_volume.py flip it.
READ_LOG: list | None = None


def _zones_file(table_path: str) -> str:
    return os.path.join(table_path, ZONES_NAME)


def load_zones(table_path: str) -> dict:
    """Manifest dict {relpath: {col: [min, max]}}; {} if none yet."""
    try:
        with open(_zones_file(table_path)) as f:
            return json.load(f)
    except (FileNotFoundError, NotADirectoryError, json.JSONDecodeError):
        return {}


def list_parquet_files(table_path: str) -> list[str] | None:
    """Table-relative data-file paths (skipping `_`-prefixed metadata
    dirs and dot-files); None if the table dir does not exist."""
    if not os.path.isdir(table_path):
        return None
    out = []
    for root, dirs, files in os.walk(table_path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for fn in files:
            if fn.endswith(".parquet"):
                out.append(
                    os.path.normpath(
                        os.path.relpath(os.path.join(root, fn), table_path)
                    )
                )
    return out


def _save_zones(table_path: str, zones: dict) -> None:
    tmp = os.path.join(
        table_path, f".zones-tmp-{uuid.uuid4().hex[:8]}"
    )
    with open(tmp, "w") as f:
        json.dump(zones, f)
    os.replace(tmp, _zones_file(table_path))


def _json_scalar(v) -> bool:
    """True for values whose ordering survives a JSON round-trip (the
    manifest and the commit records are JSON): int/float/str/bool, no
    NaN/inf, no bytes/dates. Anything else is simply not recorded —
    conservative, the file is read instead of skipped."""
    if isinstance(v, (bool, int, str)):
        return True
    if isinstance(v, float):
        return math.isfinite(v)
    return False


def footer_stats(root: str, rels: list[str]) -> dict:
    """Per-file column statistics read from parquet FOOTERS —
    driver-side, zero Spark jobs (the Delta/Iceberg write-side stats
    collection): {rel: {"rows": n, "cols": {col: [min, max,
    null_count]}}}, each ``rel`` joined onto ``root`` (an absolute
    ``rel`` stands alone). Only top-level atomic columns whose min/max
    are JSON-safe get entries; an all-null column records [null, null,
    rows] (sound to skip for any value probe — it holds no non-null
    values); a column whose stats any row group failed to write gets
    NO entry (conservative: probes on it never skip). Multi-row-group
    files fold min/min and max/max. A file whose footer cannot be read
    is left out. Partition columns live in the directory names, not
    the footers — they get no entry here (partition pruning is the
    directory layout's job)."""
    try:
        import pyarrow.parquet as pq
    except ImportError:  # stats are an optimization, never a gate
        return {}
    out = {}
    for rel in rels:
        try:
            md = pq.ParquetFile(os.path.join(root, rel)).metadata
        except Exception:
            continue
        # col -> [lo, hi, nulls] | None (= proven unusable)
        agg: dict[str, list | None] = {}
        for gi in range(md.num_row_groups):
            rg = md.row_group(gi)
            for ci in range(rg.num_columns):
                c = rg.column(ci)
                name = c.path_in_schema
                if "." in name:  # nested leaf: not a top-level column
                    continue
                if name in agg and agg[name] is None:
                    continue
                s = c.statistics
                cur = agg.get(name)
                if s is None or s.null_count is None:
                    agg[name] = None
                    continue
                if s.has_min_max:
                    lo, hi = s.min, s.max
                    if not (_json_scalar(lo) and _json_scalar(hi)):
                        agg[name] = None
                        continue
                elif s.null_count == rg.num_rows:
                    lo = hi = None  # all-null row group
                else:
                    agg[name] = None
                    continue
                if cur is None:  # absent (poisoned entries skipped above)
                    agg[name] = [lo, hi, s.null_count]
                else:
                    if lo is not None and (
                        cur[0] is None or lo < cur[0]
                    ):
                        cur[0] = lo
                    if hi is not None and (
                        cur[1] is None or hi > cur[1]
                    ):
                        cur[1] = hi
                    cur[2] += s.null_count
        cols = {k: v for k, v in agg.items() if v is not None}
        out[rel] = {"rows": md.num_rows, "cols": cols}
    return out


def update_zones(table_path: str, cols: list[str]) -> dict:
    """Bring the manifest up to date with the files on disk: record
    ``cols``' [min, max] for every data file NOT yet recorded, read
    from that file's own footer (`footer_stats` — driver-side, zero
    Spark jobs, O(new files)), drop entries whose files vanished
    (compaction), and atomically replace the manifest. A zero-row file
    gets [None, None] per column (skipped by every probe — it holds no
    rows to miss); a column whose footer carries no statistics gets no
    entry (probes on it read the file); a file whose footer cannot be
    read stays unmanifested and is retried on the next update.

    Every entry is exactly what its own file's footer says, so it is
    sound whoever wrote the file and whenever the update runs — after
    an append, after a crash left files unmanifested, or on a freshly
    compacted base. Single-writer per table (the ingest stores'
    discipline); a crashed update leaves the old manifest, which is
    always sound."""
    files = list_parquet_files(table_path)
    if files is None:
        return {}
    present = set(files)
    old = load_zones(table_path)
    zones = {k: v for k, v in old.items() if k in present}
    new = [f for f in files if f not in zones]
    for rel, st in footer_stats(table_path, new).items():
        if st["rows"] == 0:
            zones[rel] = {c: [None, None] for c in cols}
        else:
            zones[rel] = {
                c: st["cols"][c][:2] for c in cols if c in st["cols"]
            }
    if zones != old:
        _save_zones(table_path, zones)
    return zones


def _file_matches(entry: dict | None, prune: dict) -> bool:
    """True iff a file with zone ``entry`` could hold a probe row.
    ``entry`` None (unmanifested file) => True (conservative read).
    ``prune``: {col: ("range", lo, hi) | ("set", sorted_values)};
    multiple columns AND together (skip if ANY column proves miss)."""
    if entry is None:
        return True
    for col, probe in prune.items():
        z = entry.get(col)
        if z is None:
            continue  # no stats for this col: cannot prove a miss
        flo, fhi = z
        if flo is None or fhi is None:
            return False  # zero-row file
        kind = probe[0]
        if kind == "range":
            _, lo, hi = probe
            if lo is None or hi is None:
                return False  # empty probe: nothing can match
            if fhi < lo or flo > hi:
                return False
        elif kind == "set":
            vals = probe[1]
            if not vals:
                return False
            i = bisect_left(vals, flo)
            if i >= len(vals) or vals[i] > fhi:
                return False
        else:  # unknown probe kind: never skip
            continue
    return True


def select_pruned_files(
    table_path: str, prune: dict, log_label: str | None = None
) -> list[str] | None:
    """Absolute paths of the data files a probe must read (manifest
    skip rule above); None if the table does not exist, [] if it
    exists but no file can match. ``log_label`` tags the READ_LOG
    entry for the measurement script."""
    files = list_parquet_files(table_path)
    if files is None:
        return None
    zones = load_zones(table_path)
    selected = [f for f in files if _file_matches(zones.get(f), prune)]
    if READ_LOG is not None:
        def _sz(rels):
            t = 0
            for f in rels:
                try:
                    t += os.path.getsize(os.path.join(table_path, f))
                except OSError:
                    pass
            return t

        READ_LOG.append(
            {
                "label": log_label or table_path,
                "selected_files": len(selected),
                "total_files": len(files),
                "selected_bytes": _sz(selected),
                "total_bytes": _sz(files),
            }
        )
    return [os.path.join(table_path, f) for f in selected]
