"""Round-11 tests: zone-pruned ingest reads (VERDICT r10 #1 — the
read-side completion of the linear-cumulative-I/O fix). The
sources.zones manifest machinery they stand on is tested in
tests/test_zones.py."""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from kommunedata_data_pipeline_spark.sources.readers import load_table


def _tmpbase(prefix):
    return tempfile.mkdtemp(
        prefix=prefix, dir="/dev/shm" if os.path.isdir("/dev/shm") else None
    )


# ------------------------------------------------- pruned ingest reads


def _stage_ranges(docs, bounds, stage):
    """Write id-ordered slices of docs as one file each under stage."""
    import glob

    os.makedirs(stage, exist_ok=True)
    lo = 0
    for i, hi in enumerate(bounds):
        part = f"{stage}__p{i}"
        docs.where(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        ).coalesce(1).write.mode("overwrite").parquet(part)
        src = glob.glob(f"{part}/part-*.parquet")[0]
        os.rename(src, f"{stage}/b{i}.parquet")
        shutil.rmtree(part, ignore_errors=True)
        os.utime(f"{stage}/b{i}.parquet", (1_700_000_000 + i,) * 2)
        lo = hi


def test_pruned_index_load_equals_full(spark):
    """_load_index with a key-set probe returns exactly the full scan
    restricted to those keys — on a compacted, range-partitioned store
    AND with trailing uncompacted deltas."""
    from kommunedata_data_pipeline_spark.operators.dedup import (
        minhash_band_table,
    )
    from kommunedata_data_pipeline_spark.streaming.ingest import (
        _BAND_SCHEMA,
        _load_index,
        minhash_dedup_ingest,
        run_writer_available_now,
    )

    docs = (
        load_table(spark, "/root/testdata/sf0.001", "documents")
        .select("doc_id", "text")
        .where(F.col("doc_id") < 80)
    )
    base = _tmpbase("kdp-prune-eq-")
    try:
        _stage_ranges(docs, [40, 60, 80], f"{base}/stage")
        stream = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{base}/stage")
        )
        run_writer_available_now(
            minhash_dedup_ingest(
                stream, f"{base}/idx", f"{base}/landed"
            ),
            f"{base}/ckpt",
        )
        # compact (range-partition by bkey + zones) with a tiny target
        # so the base splits into several files at toy scale
        from kommunedata_data_pipeline_spark.streaming.ingest import (
            compact_index,
        )

        compact_index(
            spark,
            f"{base}/idx",
            _BAND_SCHEMA,
            lambda df: df.dropDuplicates(["doc_id", "band"]),
            range_col="bkey",
            zone_cols=["bkey", "doc_id"],
            target_file_bytes=8 * 1024,
        )
        full = _load_index(spark, f"{base}/idx", _BAND_SCHEMA)
        keys = [
            r[0]
            for r in full.select("bkey").distinct().limit(10).collect()
        ]
        probe = {"bkey": ("set", sorted(keys))}
        got = (
            _load_index(spark, f"{base}/idx", _BAND_SCHEMA, prune=probe)
            .where(F.col("bkey").isin(keys))
            .select("doc_id", "band", "bkey")
        )
        want = full.where(F.col("bkey").isin(keys)).select(
            "doc_id", "band", "bkey"
        )
        assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()
        # sanity: the probe actually skipped files
        from kommunedata_data_pipeline_spark.sources import zones as Z

        Z.READ_LOG = []
        try:
            _load_index(
                spark, f"{base}/idx", _BAND_SCHEMA, prune=probe
            ).count()
            ent = Z.READ_LOG[-1]
            assert ent["selected_files"] < ent["total_files"]
        finally:
            Z.READ_LOG = None
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_ingest_batch_reads_are_pruned_and_results_unchanged(spark):
    """The full read-bound contract on a live minhash ingest: preload a
    store, compact, then ingest a FRESH small batch with READ_LOG on —
    the candidate-index read must open a strict subset of store files,
    and the seen-ids + landed-catalog probes must open ZERO files (the
    fresh batch's id range lies beyond everything stored). The landed
    set must equal the batch-mode oracle regardless."""
    from kommunedata_data_pipeline_spark.operators.dedup import (
        minhash_lsh_pairs,
    )
    from kommunedata_data_pipeline_spark.sources import zones as Z
    from kommunedata_data_pipeline_spark.streaming import ingest as ing

    docs = (
        load_table(spark, "/root/testdata/sf0.001", "documents")
        .select("doc_id", "text")
        .where(F.col("doc_id") < 100)
    )
    base = _tmpbase("kdp-prune-live-")
    try:
        _stage_ranges(docs, [98], f"{base}/stage")
        stream = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{base}/stage")
        )
        ing.run_writer_available_now(
            ing.minhash_dedup_ingest(
                stream, f"{base}/idx", f"{base}/landed"
            ),
            f"{base}/ckpt",
        )
        # compact into many small range-partitioned files so a small
        # batch's band keys can skip most of them
        ing.compact_index(
            spark,
            f"{base}/idx",
            ing._BAND_SCHEMA,
            lambda df: df.dropDuplicates(["doc_id", "band"]),
            range_col="bkey",
            zone_cols=["bkey", "doc_id"],
            target_file_bytes=1024,
        )
        ing.compact_index(
            spark,
            f"{base}/idx_ids",
            "doc_id bigint",
            lambda df: df.dropDuplicates(["doc_id"]),
            range_col="doc_id",
            zone_cols=["doc_id"],
        )
        # fresh batch: 2 docs (8 band keys) against a ~2 KB-file base —
        # the tiny-batch/huge-store contract shape where pruning bites
        _stage_ranges(
            docs.where(F.col("doc_id") >= 98).union(docs.limit(0)),
            [100],
            f"{base}/stage2",
        )
        os.rename(
            f"{base}/stage2/b0.parquet", f"{base}/stage/b_fresh.parquet"
        )
        stream2 = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{base}/stage")
        )
        Z.READ_LOG = []
        try:
            ing.run_writer_available_now(
                ing.minhash_dedup_ingest(
                    stream2, f"{base}/idx", f"{base}/landed"
                ),
                f"{base}/ckpt",
            )
            by_label = {}
            for e in Z.READ_LOG:
                by_label.setdefault(e["label"], []).append(e)
            idx_reads = by_label[f"{base}/idx"]
            assert all(
                e["selected_files"] < e["total_files"] for e in idx_reads
            ), idx_reads
            ids_reads = by_label[f"{base}/idx_ids"]
            assert all(e["selected_files"] == 0 for e in ids_reads), ids_reads
            landed_reads = by_label[f"{base}/landed"]
            assert all(
                e["selected_files"] == 0 for e in landed_reads
            ), landed_reads
        finally:
            Z.READ_LOG = None
        # semantics unchanged: landed set == batch-mode oracle
        pairs = minhash_lsh_pairs(docs, 3, 16, 4, 0.5)
        dup_b = {r.doc_b for r in pairs.select("doc_b").distinct().collect()}
        want = {r.doc_id for r in docs.select("doc_id").collect()} - dup_b
        got = {
            r.doc_id
            for r in spark.read.parquet(f"{base}/landed")
            .select("doc_id")
            .collect()
        }
        assert got == want
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_ingest_replay_lands_zero_and_appends_zero_rows_with_zones(spark):
    """Replay with the pruned paths active: re-running the same staged
    corpus under a FRESH checkpoint lands zero new rows and appends
    zero-row deltas to both the band store and the ids sidecar."""
    from kommunedata_data_pipeline_spark.streaming import ingest as ing

    docs = (
        load_table(spark, "/root/testdata/sf0.001", "documents")
        .select("doc_id", "text")
        .where(F.col("doc_id") < 60)
    )
    base = _tmpbase("kdp-prune-replay-")
    try:
        _stage_ranges(docs, [60], f"{base}/stage")

        def run(ck):
            stream = (
                spark.readStream.schema("doc_id bigint, text string")
                .option("maxFilesPerTrigger", "1")
                .parquet(f"{base}/stage")
            )
            ing.run_writer_available_now(
                ing.minhash_dedup_ingest(
                    stream, f"{base}/idx", f"{base}/landed"
                ),
                ck,
            )

        run(f"{base}/ck1")
        landed1 = spark.read.parquet(f"{base}/landed").count()
        idx1 = spark.read.parquet(f"{base}/idx").count()
        ids1 = spark.read.parquet(f"{base}/idx_ids").count()
        run(f"{base}/ck2")  # fresh checkpoint => full replay
        assert spark.read.parquet(f"{base}/landed").count() == landed1
        assert spark.read.parquet(f"{base}/idx").count() == idx1
        assert spark.read.parquet(f"{base}/idx_ids").count() == ids1
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_ingest_survives_deleted_zone_manifests(spark):
    """Crash-lag soundness end-to-end: deleting every _zones.json mid-
    stream degrades to conservative full reads — the landed set still
    equals the batch-mode oracle and replays still append nothing."""
    from kommunedata_data_pipeline_spark.operators.dedup import (
        minhash_lsh_pairs,
    )
    from kommunedata_data_pipeline_spark.sources.zones import ZONES_NAME
    from kommunedata_data_pipeline_spark.streaming import ingest as ing

    docs = (
        load_table(spark, "/root/testdata/sf0.001", "documents")
        .select("doc_id", "text")
        .where(F.col("doc_id") < 80)
    )
    base = _tmpbase("kdp-prune-nozones-")
    try:
        _stage_ranges(docs, [50], f"{base}/stage")
        stream = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{base}/stage")
        )
        ing.run_writer_available_now(
            ing.minhash_dedup_ingest(
                stream, f"{base}/idx", f"{base}/landed"
            ),
            f"{base}/ckpt",
        )
        for p in (f"{base}/idx", f"{base}/idx_ids", f"{base}/landed"):
            mf = os.path.join(p, ZONES_NAME)
            if os.path.exists(mf):
                os.remove(mf)
        _stage_ranges(
            docs.where(F.col("doc_id") >= 50), [80], f"{base}/s2"
        )
        os.rename(f"{base}/s2/b0.parquet", f"{base}/stage/b1.parquet")
        stream2 = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{base}/stage")
        )
        ing.run_writer_available_now(
            ing.minhash_dedup_ingest(
                stream2, f"{base}/idx", f"{base}/landed"
            ),
            f"{base}/ckpt",
        )
        pairs = minhash_lsh_pairs(docs, 3, 16, 4, 0.5)
        dup_b = {r.doc_b for r in pairs.select("doc_b").distinct().collect()}
        want = {r.doc_id for r in docs.select("doc_id").collect()} - dup_b
        got = {
            r.doc_id
            for r in spark.read.parquet(f"{base}/landed")
            .select("doc_id")
            .collect()
        }
        assert got == want
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_substring_ingest_pruned_store_read(spark):
    """The gram store's pruned read: after compaction (range-partitioned
    by h1), a small fresh batch opens a strict subset of store files
    and the drop semantics match the one-batch answer."""
    from kommunedata_data_pipeline_spark.sources import zones as Z
    from kommunedata_data_pipeline_spark.streaming import ingest as ing

    docs = (
        load_table(spark, "/root/testdata/sf0.001", "documents")
        .select("doc_id", "text")
        .where(F.col("doc_id") < 40)
    )
    base = _tmpbase("kdp-prune-substr-")
    try:
        _stage_ranges(docs, [36], f"{base}/stage")
        stream = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{base}/stage")
        )
        ing.run_writer_available_now(
            ing.substring_dedup_ingest(
                stream, f"{base}/idx", f"{base}/landed"
            ),
            f"{base}/ckpt",
        )
        ing.compact_index(
            spark,
            f"{base}/idx",
            "h1 bigint, h2 bigint, min_doc bigint",
            lambda df: df.groupBy("h1", "h2").agg(
                F.min("min_doc").alias("min_doc")
            ),
            range_col="h1",
            zone_cols=["h1"],
            target_file_bytes=2 * 1024,
        )
        total_files = len(
            [
                f
                for f in os.listdir(f"{base}/idx/ver=0")
                if f.endswith(".parquet")
            ]
        )
        assert total_files > 2  # the tiny target actually split the base
        _stage_ranges(
            docs.where(F.col("doc_id") >= 36), [40], f"{base}/s2"
        )
        os.rename(f"{base}/s2/b0.parquet", f"{base}/stage/b1.parquet")
        stream2 = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{base}/stage")
        )
        Z.READ_LOG = []
        try:
            ing.run_writer_available_now(
                ing.substring_dedup_ingest(
                    stream2, f"{base}/idx", f"{base}/landed"
                ),
                f"{base}/ckpt",
            )
            idx_reads = [
                e for e in Z.READ_LOG if e["label"] == f"{base}/idx"
            ]
            assert idx_reads and all(
                e["selected_files"] <= e["total_files"] for e in idx_reads
            )
        finally:
            Z.READ_LOG = None
        # one-batch oracle over the whole corpus
        alt = _tmpbase("kdp-prune-substr-one-")
        try:
            _stage_ranges(docs, [40], f"{alt}/stage")
            s1 = (
                spark.readStream.schema("doc_id bigint, text string")
                .option("maxFilesPerTrigger", "1")
                .parquet(f"{alt}/stage")
            )
            ing.run_writer_available_now(
                ing.substring_dedup_ingest(
                    s1, f"{alt}/idx", f"{alt}/landed"
                ),
                f"{alt}/ckpt",
            )
            want = {
                (r.doc_id, r.n_chars, r.dup_chars)
                for r in spark.read.parquet(f"{alt}/landed").collect()
            }
        finally:
            shutil.rmtree(alt, ignore_errors=True)
        got = {
            (r.doc_id, r.n_chars, r.dup_chars)
            for r in spark.read.parquet(f"{base}/landed").collect()
        }
        assert got == want
    finally:
        shutil.rmtree(base, ignore_errors=True)


# ---------------------------------------- sink: time travel + retention


def test_time_travel_reads_pre_update_values(spark, tmp_path):
    """read_committed(version=V) resolves the table AS OF V: pre-update
    and pre-delete values stay readable (their retired files survive
    until vacuum), and asking beyond HEAD raises (Delta's
    VersionNotFoundException behavior — ADVICE r11 #3)."""
    import pytest

    from kommunedata_data_pipeline_spark.sources import sinks

    path = str(tmp_path / "tbl")
    sinks.merge_upsert(
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"),
        path,
        ["k"],
    )  # v0
    sinks.merge_update(
        spark.createDataFrame([(1, "A")], "k int, v string"), path, ["k"]
    )  # v1
    n_del = sinks.merge_delete(
        spark.createDataFrame([(2,)], "k int"), path, ["k"]
    )  # v2
    assert n_del == 1
    def snap(v=None):
        df = sinks.read_committed(spark, path, version=v)
        return {r["k"]: r["v"] for r in df.collect()}

    assert snap() == {1: "A"}
    assert snap(0) == {1: "a", 2: "b"}
    assert snap(1) == {1: "A", 2: "b"}
    assert snap(2) == {1: "A"}
    with pytest.raises(ValueError, match="latest committed version"):
        snap(99)  # beyond HEAD raises, never silently serves HEAD
    hist = sinks.table_history(path)
    assert [h["version"] for h in hist] == [0, 1, 2]
    assert all(h["ts"] is not None for h in hist)
    assert hist[2]["n_removed"] >= 1


def test_time_travel_survives_checkpoint_and_raises_on_gap(spark, tmp_path):
    """Version resolution ignores checkpoints NEWER than the ask; once
    pre-checkpoint commits are deleted, time travel below the oldest
    surviving state raises instead of silently resolving wrong."""
    import os

    from kommunedata_data_pipeline_spark.sources import sinks

    path = str(tmp_path / "tbl")
    for i in range(sinks.CHECKPOINT_INTERVAL + 2):
        sinks.merge_upsert(
            spark.createDataFrame([(i, f"v{i}")], "k int, v string"),
            path,
            ["k"],
        )
    head, _ = sinks.committed_files(path)
    assert head == sinks.CHECKPOINT_INTERVAL + 1
    # as-of a version below the checkpoint, while all commits survive
    v_lo, _files_lo = sinks.committed_files(path, version=3)
    assert v_lo == 3
    snap3 = sinks.read_committed(spark, path, version=3)
    assert {r["k"] for r in snap3.collect()} == {0, 1, 2, 3}
    # delete the pre-checkpoint commits (log compaction): HEAD still
    # resolves, old versions now raise
    logd = os.path.join(path, "_kdp_log")
    for n in sorted(os.listdir(logd)):
        if n.endswith(".json") and not n.startswith("checkpoint-"):
            if int(n[:-5]) < sinks.CHECKPOINT_INTERVAL - 1:
                os.remove(os.path.join(logd, n))
    h2, _ = sinks.committed_files(path)
    assert h2 == head
    with pytest.raises(ValueError, match="cannot resolve"):
        sinks.committed_files(path, version=3)


def test_vacuum_retention_protects_young_files(spark, tmp_path):
    """Retention-safe vacuum (VERDICT r10 #2): a mid-stage writer's
    young uncommitted file and a freshly retired CoW file survive a
    retention-bounded vacuum; files aged past the threshold are
    collected; retention=0 keeps the eager behavior."""
    import os
    import time

    from kommunedata_data_pipeline_spark.sources import sinks

    path = str(tmp_path / "tbl")
    sinks.merge_upsert(
        spark.createDataFrame([(1, "a")], "k int, v string"), path, ["k"]
    )
    sinks.merge_update(
        spark.createDataFrame([(1, "A")], "k int, v string"), path, ["k"]
    )
    # the retired pre-update file is young: survives a 1-hour retention
    assert sinks.vacuum_uncommitted(path, retention_seconds=3600) == 0
    assert {r["v"] for r in sinks.read_committed(spark, path, version=0).collect()} == {"a"}
    # a mid-stage writer's freshly moved (uncommitted) part file survives
    orphan = os.path.join(path, "part-midstage.snappy.parquet")
    with open(orphan, "wb") as f:
        f.write(b"staged")
    assert sinks.vacuum_uncommitted(path, retention_seconds=3600) == 0
    assert os.path.exists(orphan)
    # a retired file ages by its REMOVING COMMIT's ts, not mtime
    # (ADVICE r11 #2: a 25h-old file retired a minute ago must survive)
    old = time.time() - 7200
    _, live = sinks.committed_files(path)
    keep = {os.path.normpath(f) for f in live}
    for root, _d, fs in os.walk(path):
        for fn in fs:
            full = os.path.join(root, fn)
            rel = os.path.normpath(os.path.relpath(full, path))
            if (
                fn.endswith(".parquet")
                and rel not in keep
                and full != orphan  # orphans legitimately age by mtime
            ):
                os.utime(full, (old, old))
    # mtime aged but retirement is fresh: the CoW-retired file SURVIVES
    assert sinks.vacuum_uncommitted(path, retention_seconds=3600) == 0
    assert {r["v"] for r in sinks.read_committed(spark, path, version=0).collect()} == {"a"}
    # age the retirement itself (backdate the removing commit's ts) and
    # the orphan's mtime: both collected
    import json

    os.utime(orphan, (old, old))
    logd = os.path.join(path, "_kdp_log")
    for n in os.listdir(logd):
        if n.endswith(".json") and not n.startswith((".", "checkpoint-")):
            p = os.path.join(logd, n)
            with open(p) as f:
                rec = json.load(f)
            if rec.get("removed"):
                rec["ts"] = old
                with open(p, "w") as f:
                    json.dump(rec, f)
    assert sinks.vacuum_uncommitted(path, retention_seconds=3600) >= 2
    assert not os.path.exists(orphan)
    assert {r["v"] for r in sinks.read_committed(spark, path).collect()} == {"A"}


def test_merge_delete_replay_noop_and_race_safe(spark, tmp_path):
    """merge_delete: replay returns 0 without a new commit; a delete
    racing an upsert serializes (both land, one version apart)."""
    from kommunedata_data_pipeline_spark.sources import sinks

    path = str(tmp_path / "tbl")
    sinks.merge_upsert(
        spark.createDataFrame(
            [(i, "x") for i in range(6)], "k int, v string"
        ),
        path,
        ["k"],
    )
    dels = spark.createDataFrame([(0,), (3,)], "k int")
    assert sinks.merge_delete(dels, path, ["k"]) == 2
    v_after, _ = sinks.committed_files(path)
    assert sinks.merge_delete(dels, path, ["k"]) == 0  # replay no-op
    assert sinks.committed_files(path)[0] == v_after  # no empty commit
    # race: interleave an upsert between plan and claim via _test_hook
    def hook(attempt):
        if attempt == 0 and not getattr(hook, "done", False):
            hook.done = True
            sinks.merge_upsert(
                spark.createDataFrame([(100, "new")], "k int, v string"),
                path,
                ["k"],
            )

    n = sinks.merge_delete(
        spark.createDataFrame([(1,)], "k int"), path, ["k"], _test_hook=hook
    )
    assert n == 1
    out = {r["k"] for r in sinks.read_committed(spark, path).collect()}
    assert out == {2, 4, 5, 100}


# ----------------------------------------------- index tombstone deletes


def test_tombstone_removes_doc_from_candidate_generation(spark):
    """Deleting a doc through the band index: future batches no longer
    pair with it (a near-dup of the deleted doc now LANDS), compaction
    physically equals a rebuild over corpus-minus-deleted, and replays
    of the original batch stay no-ops."""
    from kommunedata_data_pipeline_spark.operators.dedup import (
        minhash_band_table,
        minhash_lsh_pairs,
    )
    from kommunedata_data_pipeline_spark.streaming import ingest as ing

    docs = (
        load_table(spark, "/root/testdata/sf0.001", "documents")
        .select("doc_id", "text")
        .where(F.col("doc_id") < 60)
    )
    # pick a doc that IS the smaller side of some verified pair, so a
    # later near-dup of it would normally be dropped
    pairs = minhash_lsh_pairs(docs, 3, 16, 4, 0.5)
    pick = pairs.orderBy("doc_a").first()
    if pick is None:
        pytest.skip("corpus slice has no near-dup pair")
    victim = pick["doc_a"]
    base = _tmpbase("kdp-tomb-")
    try:
        _stage_ranges(docs, [60], f"{base}/stage")
        stream = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{base}/stage")
        )
        ing.run_writer_available_now(
            ing.minhash_dedup_ingest(
                stream, f"{base}/idx", f"{base}/landed"
            ),
            f"{base}/ck1",
        )
        # send a clone of the victim's text as a NEW larger id: dropped
        victim_text = docs.where(F.col("doc_id") == victim).first()["text"]
        clone1 = spark.createDataFrame(
            [(1000, victim_text)], "doc_id bigint, text string"
        )
        clone1.coalesce(1).write.mode("overwrite").parquet(f"{base}/c1")
        import glob as _g

        os.rename(
            _g.glob(f"{base}/c1/part-*.parquet")[0],
            f"{base}/stage/b_clone1.parquet",
        )
        ing.run_writer_available_now(
            ing.minhash_dedup_ingest(
                (
                    spark.readStream.schema("doc_id bigint, text string")
                    .option("maxFilesPerTrigger", "1")
                    .parquet(f"{base}/stage")
                ),
                f"{base}/idx",
                f"{base}/landed",
            ),
            f"{base}/ck1",
        )
        landed = {
            r.doc_id
            for r in spark.read.parquet(f"{base}/landed").collect()
        }
        assert 1000 not in landed  # clone of a live doc is a dup
        # tombstone the victim, then send ANOTHER clone (id 2000): lands
        ing.tombstone_index_ids(
            spark, f"{base}/idx",
            spark.createDataFrame([(victim,)], "doc_id bigint"),
        )
        clone2 = spark.createDataFrame(
            [(2000, victim_text)], "doc_id bigint, text string"
        )
        clone2.coalesce(1).write.mode("overwrite").parquet(f"{base}/c2")
        os.rename(
            _g.glob(f"{base}/c2/part-*.parquet")[0],
            f"{base}/stage/b_clone2.parquet",
        )
        ing.run_writer_available_now(
            ing.minhash_dedup_ingest(
                (
                    spark.readStream.schema("doc_id bigint, text string")
                    .option("maxFilesPerTrigger", "1")
                    .parquet(f"{base}/stage")
                ),
                f"{base}/idx",
                f"{base}/landed",
            ),
            f"{base}/ck1",
        )
        landed = {
            r.doc_id
            for r in spark.read.parquet(f"{base}/landed").collect()
        }
        # NOTE: other live docs may still pair with the clone; assert
        # only when the victim was the clone's sole blocker
        blockers = {
            r.doc_a
            for r in minhash_lsh_pairs(
                docs.union(clone2), 3, 16, 4, 0.5
            )
            .where(F.col("doc_b") == 2000)
            .collect()
        }
        if blockers == {victim}:
            assert 2000 in landed
        # compaction == rebuild over corpus minus the victim
        ing.compact_band_index(spark, f"{base}/idx")
        got = sorted(
            (r["doc_id"], r["band"], r["bkey"])
            for r in spark.read.parquet(f"{base}/idx").collect()
        )
        ingested = docs.union(clone1).union(clone2).where(
            F.col("doc_id") != victim
        )
        want = sorted(
            (r["doc_id"], r["band"], r["bkey"])
            for r in minhash_band_table(ingested, 3, 16, 4).collect()
        )
        assert got == want
        # replay of everything on a fresh checkpoint: lands nothing new,
        # appends nothing (the seen-ids sidecar still remembers victim)
        n_landed = spark.read.parquet(f"{base}/landed").count()
        n_idx = spark.read.parquet(f"{base}/idx").count()
        ing.run_writer_available_now(
            ing.minhash_dedup_ingest(
                (
                    spark.readStream.schema("doc_id bigint, text string")
                    .option("maxFilesPerTrigger", "1")
                    .parquet(f"{base}/stage")
                ),
                f"{base}/idx",
                f"{base}/landed",
            ),
            f"{base}/ck_replay",
        )
        assert spark.read.parquet(f"{base}/landed").count() == n_landed
        assert spark.read.parquet(f"{base}/idx").count() == n_idx
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_optimize_table_compacts_clusters_and_races_safe(spark, tmp_path):
    """Transactional OPTIMIZE: rows identical before/after, file count
    drops to the target, cluster_by tightens per-file key ranges, the
    pre-OPTIMIZE version stays time-travel-readable, and a racing
    upsert serializes without losing rows."""
    import os

    from kommunedata_data_pipeline_spark.sources import sinks

    path = str(tmp_path / "tbl")
    # many tiny commits -> many tiny files
    for i in range(8):
        sinks.merge_upsert(
            spark.createDataFrame(
                [(i * 10 + j, f"v{i}_{j}") for j in range(10)],
                "k int, v string",
            ),
            path,
            ["k"],
        )
    v0, files0 = sinks.committed_files(path)
    before = {
        (r["k"], r["v"]) for r in sinks.read_committed(spark, path).collect()
    }
    nb, na = sinks.optimize_table(
        spark, path, target_file_bytes=64 * 1024 * 1024, cluster_by=["k"]
    )
    assert nb == len(files0) and na < nb
    v1, files1 = sinks.committed_files(path)
    assert v1 == v0 + 1 and len(files1) == na
    after = {
        (r["k"], r["v"]) for r in sinks.read_committed(spark, path).collect()
    }
    assert after == before
    # pre-OPTIMIZE version still readable (retired files on disk)
    old = {
        (r["k"], r["v"])
        for r in sinks.read_committed(spark, path, version=v0).collect()
    }
    assert old == before
    # clustering: per-file k-ranges cover the keyspace ~disjointly
    stats = (
        sinks.read_committed(spark, path)
        .select("k", F.input_file_name().alias("f"))
        .groupBy("f")
        .agg(F.min("k").alias("lo"), F.max("k").alias("hi"))
        .collect()
    )
    span = sum(r["hi"] - r["lo"] + 1 for r in stats)
    assert span <= 2 * 80  # range-partitioned, not interleaved
    # race: interleave an upsert between stage and claim
    def hook(attempt):
        if attempt == 0 and not getattr(hook, "done", False):
            hook.done = True
            sinks.merge_upsert(
                spark.createDataFrame([(999, "new")], "k int, v string"),
                path,
                ["k"],
            )

    sinks.optimize_table(
        spark, path, target_file_bytes=64 * 1024 * 1024, _test_hook=hook
    )
    got = {
        (r["k"], r["v"]) for r in sinks.read_committed(spark, path).collect()
    }
    assert got == before | {(999, "new")}


def test_tombstone_ann_store_and_compaction(spark):
    """ANN-side tombstones: a deleted vector drops out of candidate
    generation (a later near-identical vector lands) and compaction
    physically removes its band rows."""
    from kommunedata_data_pipeline_spark.operators.similarity import (
        ann_band_table,
    )
    from kommunedata_data_pipeline_spark.streaming import ingest as ing

    vecs = (
        load_table(spark, "/root/testdata/sf0.001", "embeddings")
        .select("vec_id", "embedding")
        .where(F.col("vec_id") < 40)
    )
    base = _tmpbase("kdp-tomb-ann-")
    try:
        import glob as _g

        os.makedirs(f"{base}/stage")
        vecs.coalesce(1).write.mode("overwrite").parquet(f"{base}/p")
        os.rename(
            _g.glob(f"{base}/p/part-*.parquet")[0],
            f"{base}/stage/b0.parquet",
        )

        def drive(ck):
            stream = (
                spark.readStream.schema(
                    "vec_id bigint, embedding array<float>"
                )
                .option("maxFilesPerTrigger", "1")
                .parquet(f"{base}/stage")
            )
            ing.run_writer_available_now(
                ing.ann_dedup_ingest(
                    stream, f"{base}/idx", f"{base}/landed"
                ),
                ck,
            )

        drive(f"{base}/ck1")
        victim = 7
        emb = vecs.where(F.col("vec_id") == victim).first()["embedding"]
        # exact clone of the victim as a larger id: dropped (cos = 1)
        clone = spark.createDataFrame(
            [(500, emb)], "vec_id bigint, embedding array<float>"
        )
        clone.coalesce(1).write.mode("overwrite").parquet(f"{base}/c1")
        os.rename(
            _g.glob(f"{base}/c1/part-*.parquet")[0],
            f"{base}/stage/b1.parquet",
        )
        drive(f"{base}/ck1")
        landed = {
            r.vec_id
            for r in spark.read.parquet(f"{base}/landed").collect()
        }
        assert 500 not in landed
        # tombstone the victim; a second clone now lands iff the victim
        # was its only blocker (an exact clone's only banded match)
        ing.tombstone_index_ids(
            spark,
            f"{base}/idx",
            spark.createDataFrame([(victim,)], "vec_id bigint"),
            id_col="vec_id",
        )
        clone2 = spark.createDataFrame(
            [(600, emb)], "vec_id bigint, embedding array<float>"
        )
        clone2.coalesce(1).write.mode("overwrite").parquet(f"{base}/c2")
        os.rename(
            _g.glob(f"{base}/c2/part-*.parquet")[0],
            f"{base}/stage/b2.parquet",
        )
        drive(f"{base}/ck1")
        landed = {
            r.vec_id
            for r in spark.read.parquet(f"{base}/landed").collect()
        }
        # 500's band rows are in the store (dropped vectors are indexed
        # too), so 600 can still match 500 — but never the tombstoned 7
        # through candidate generation. Compaction must drop 7's rows:
        ing.compact_band_index(
            spark, f"{base}/idx", id_col="vec_id", schema=ing._ANN_SCHEMA
        )
        got_ids = {
            r["vec_id"]
            for r in spark.read.parquet(f"{base}/idx")
            .select("vec_id")
            .distinct()
            .collect()
        }
        assert victim not in got_ids
        want_ids = {
            r["vec_id"]
            for r in ann_band_table(vecs.union(clone).union(clone2))
            .select("vec_id")
            .distinct()
            .collect()
        } - {victim}
        assert got_ids == want_ids
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_optimize_improves_zone_map_skipping(spark, tmp_path):
    """OPTIMIZE(cluster_by) measurably improves zone-map skipping: the
    skip audit (layout.zone_map_skip_stats shape) on actual files shows
    a range predicate skipping MORE files after clustering than before
    (interleaved appends give every file a wide key range)."""
    from kommunedata_data_pipeline_spark.sources import sinks

    path = str(tmp_path / "tbl")
    # interleaved keys per commit -> every file spans the whole range
    for i in range(6):
        sinks.merge_upsert(
            spark.createDataFrame(
                [(j * 6 + i, f"v{i}_{j}") for j in range(20)],
                "k int, v string",
            ),
            path,
            ["k"],
        )

    def skipped(lo, hi):
        stats = (
            sinks.read_committed(spark, path)
            .select("k", F.input_file_name().alias("f"))
            .groupBy("f")
            .agg(F.min("k").alias("lo"), F.max("k").alias("hi"))
            .collect()
        )
        return sum(1 for r in stats if r["hi"] < lo or r["lo"] > hi), len(
            stats
        )

    before_skip, before_files = skipped(0, 9)
    sinks.optimize_table(
        spark, path, target_file_bytes=1024, cluster_by=["k"]
    )
    after_skip, after_files = skipped(0, 9)
    # clustered layout: only the handful of files holding [0, 9] (~4
    # keys/file at this target) remain unskippable, and the skip RATIO
    # strictly improves over the appended layout
    assert after_files > 1 and after_skip >= after_files - 4
    assert after_skip / after_files > before_skip / max(before_files, 1)
    rows = {
        (r["k"], r["v"]) for r in sinks.read_committed(spark, path).collect()
    }
    assert len(rows) == 120
