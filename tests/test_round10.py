"""Round-10: delta-append ingest stores (write volume ∝ batch, not
store; compaction; continue-after-compaction), transactional-sink
scale fixes (unforced anti-join broadcast, commit-log checkpoints),
and MERGE update-on-match."""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

from pyspark.sql import functions as F

from conftest import SF_SMALL
from kommunedata_data_pipeline_spark.sources.readers import load_table


def _stage_batches(df, id_col, bounds, stage):
    """Write one parquet file per id-range batch into ``stage`` with
    increasing mtimes (maxFilesPerTrigger=1 then delivers them as
    separate id-ordered micro-batches)."""
    os.makedirs(stage, exist_ok=True)
    lo = 0
    for i, hi in enumerate(bounds):
        part = f"{stage}__p{i}"
        df.where(
            (F.col(id_col) >= lo) & (F.col(id_col) < hi)
        ).coalesce(1).write.mode("overwrite").parquet(part)
        src = glob.glob(f"{part}/part-*.parquet")[0]
        dst = f"{stage}/b{i}.parquet"
        os.rename(src, dst)
        shutil.rmtree(part, ignore_errors=True)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
        lo = hi


def _tmpbase(prefix):
    return tempfile.mkdtemp(
        prefix=prefix,
        dir="/dev/shm" if os.path.isdir("/dev/shm") else None,
    )


# ------------------------------------------- delta-append write volume


def test_minhash_ingest_delta_volume_is_batch_sized(spark):
    """THE r9 verdict fix, pinned structurally: after a 3-batch ingest
    the store holds one `ver=N` delta PER BATCH, and each delta's row
    count equals that batch's own band rows (bands × batch docs) — not
    the cumulative store. Bytes written per batch ∝ batch."""
    from kommunedata_data_pipeline_spark.streaming.ingest import (
        minhash_dedup_ingest,
        run_writer_available_now,
    )

    docs = (
        load_table(spark, SF_SMALL, "documents")
        .select("doc_id", "text")
        .where(F.col("doc_id") < 90)
    )
    bounds = [30, 60, 90]
    base = _tmpbase("kdp-r10-vol-")
    try:
        _stage_batches(docs, "doc_id", bounds, f"{base}/stage")
        stream = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{base}/stage")
        )
        run_writer_available_now(
            minhash_dedup_ingest(
                stream,
                f"{base}/index",
                f"{base}/landed",
                k=3,
                num_hashes=16,
                bands=4,
                threshold=0.5,
            ),
            f"{base}/ckpt",
        )
        vers = sorted(
            n for n in os.listdir(f"{base}/index") if n.startswith("ver=")
        )
        assert vers == ["ver=0", "ver=1", "ver=2"]
        lo = 0
        for i, hi in enumerate(bounds):
            n_docs = docs.where(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
            ).count()
            n_rows = spark.read.parquet(f"{base}/index/ver={i}").count()
            assert n_rows == 4 * n_docs, (i, n_rows, n_docs)
            lo = hi
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_substring_ingest_delta_is_new_grams_only(spark):
    """The gram store's per-batch delta holds exactly the grams whose
    FIRST occurrence is in that batch (min-merge monoid: nothing
    already stored is ever rewritten). Verified against the batch-mode
    first-occurrence bucketing of the whole corpus."""
    from kommunedata_data_pipeline_spark.operators.corpus import (
        char_gram_hashes,
    )
    from kommunedata_data_pipeline_spark.streaming.ingest import (
        run_writer_available_now,
        substring_dedup_ingest,
    )

    docs = (
        load_table(spark, SF_SMALL, "documents")
        .select("doc_id", "text")
        .where(F.col("doc_id") < 60)
    )
    L = 15
    bounds = [20, 40, 60]
    # expected: distinct grams bucketed by which batch first carries them
    firsts = (
        char_gram_hashes(docs, L)
        .groupBy("h1", "h2")
        .agg(F.min("doc_id").alias("md"))
    )
    expected = {
        i: firsts.where(
            (F.col("md") >= lo) & (F.col("md") < hi)
        ).count()
        for i, (lo, hi) in enumerate(zip([0] + bounds[:-1], bounds))
    }
    base = _tmpbase("kdp-r10-subvol-")
    try:
        _stage_batches(docs, "doc_id", bounds, f"{base}/stage")
        stream = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{base}/stage")
        )
        run_writer_available_now(
            substring_dedup_ingest(
                stream, f"{base}/index", f"{base}/landed",
                min_len=L, max_dup_ratio=0.5,
            ),
            f"{base}/ckpt",
        )
        for i, want in expected.items():
            got = spark.read.parquet(f"{base}/index/ver={i}").count()
            assert got == want, (i, got, want)
    finally:
        shutil.rmtree(base, ignore_errors=True)


# ------------------------------------------------------- compaction


def test_compaction_folds_store_and_ingest_continues(spark):
    """compact_band_index mid-stream: fold the first two batches'
    deltas into one base, then deliver the third batch against the
    SAME checkpoint — the landed set and the resolved store must equal
    the uncompacted one-shot run (update ≡ rebuild survives
    compaction)."""
    from kommunedata_data_pipeline_spark.operators.dedup import (
        minhash_band_table,
        minhash_lsh_pairs,
    )
    from kommunedata_data_pipeline_spark.streaming.ingest import (
        compact_band_index,
        minhash_dedup_ingest,
        run_writer_available_now,
    )

    docs = (
        load_table(spark, SF_SMALL, "documents")
        .select("doc_id", "text")
        .where(F.col("doc_id") < 90)
    )
    pairs = minhash_lsh_pairs(docs, 3, 16, 4, 0.5)
    dup_b = {r.doc_b for r in pairs.select("doc_b").distinct().collect()}
    want = {r.doc_id for r in docs.select("doc_id").collect()} - dup_b
    base = _tmpbase("kdp-r10-compact-")
    try:
        idx, landed, ckpt = (
            f"{base}/index", f"{base}/landed", f"{base}/ckpt"
        )
        # run the first two batches
        _stage_batches(docs, "doc_id", [30, 60], f"{base}/stage")

        def run():
            stream = (
                spark.readStream.schema("doc_id bigint, text string")
                .option("maxFilesPerTrigger", "1")
                .parquet(f"{base}/stage")
            )
            run_writer_available_now(
                minhash_dedup_ingest(
                    stream,
                    idx,
                    landed,
                    k=3,
                    num_hashes=16,
                    bands=4,
                    threshold=0.5,
                ),
                ckpt,
            )

        run()
        # (r11: the store dir also carries a _zones.json manifest now)
        assert sorted(
            n for n in os.listdir(idx) if n.startswith("ver=")
        ) == ["ver=0", "ver=1"]
        compact_band_index(spark, idx)
        assert sorted(
            n for n in os.listdir(idx) if n.startswith("ver=")
        ) == ["ver=0"]
        # stage the third batch and continue on the same checkpoint
        b3 = docs.where((F.col("doc_id") >= 60) & (F.col("doc_id") < 90))
        part = f"{base}/p3"
        b3.coalesce(1).write.mode("overwrite").parquet(part)
        src = glob.glob(f"{part}/part-*.parquet")[0]
        dst = f"{base}/stage/b2.parquet"
        os.rename(src, dst)
        os.utime(dst, (1_700_000_002, 1_700_000_002))
        run()
        got = {
            r.doc_id for r in spark.read.parquet(landed).collect()
        }
        assert got == want
        idx_rows = sorted(
            (r["doc_id"], r["band"], r["bkey"])
            for r in spark.read.parquet(idx).collect()
        )
        full = sorted(
            (r["doc_id"], r["band"], r["bkey"])
            for r in minhash_band_table(docs, 3, 16, 4).collect()
        )
        assert idx_rows == full
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_compact_substring_and_cc_preserve_resolved_state(spark):
    """Compaction is a no-op on the RESOLVED view for the min-merge
    stores: gram store (min per (h1,h2)) and CC label store (min per
    doc) read identically before and after folding."""
    from kommunedata_data_pipeline_spark.streaming.ingest import (
        _append_delta,
        compact_cc_labels,
        compact_substring_index,
        read_cc_labels,
    )

    base = _tmpbase("kdp-r10-foldeq-")
    try:
        gpath, lpath = f"{base}/grams", f"{base}/labels"
        # two overlapping gram deltas (second violates the id-order
        # contract on purpose: lower min_doc for gram (1,1))
        _append_delta(
            spark.createDataFrame(
                [(1, 1, 10), (2, 2, 5)], "h1 long, h2 long, min_doc long"
            ),
            gpath,
        )
        _append_delta(
            spark.createDataFrame(
                [(1, 1, 3), (3, 3, 7)], "h1 long, h2 long, min_doc long"
            ),
            gpath,
        )
        want_g = {(1, 1): 3, (2, 2): 5, (3, 3): 7}
        compact_substring_index(spark, gpath)
        assert sorted(
            n for n in os.listdir(gpath) if n.startswith("ver=")
        ) == ["ver=0"]
        got_g = {
            (r["h1"], r["h2"]): r["min_doc"]
            for r in spark.read.parquet(gpath).collect()
        }
        assert got_g == want_g
        # label history: doc 5 relabeled 5 -> 2 -> 1 across batches
        _append_delta(
            spark.createDataFrame(
                [(5, 5), (2, 2)], "doc_id long, cluster_id long"
            ),
            lpath,
        )
        _append_delta(
            spark.createDataFrame(
                [(5, 2), (1, 1)], "doc_id long, cluster_id long"
            ),
            lpath,
        )
        _append_delta(
            spark.createDataFrame(
                [(5, 1), (2, 1)], "doc_id long, cluster_id long"
            ),
            lpath,
        )
        want_l = {5: 1, 2: 1, 1: 1}
        before = {
            r["doc_id"]: r["cluster_id"]
            for r in read_cc_labels(spark, lpath).collect()
        }
        assert before == want_l
        compact_cc_labels(spark, lpath)
        after = {
            r["doc_id"]: r["cluster_id"]
            for r in read_cc_labels(spark, lpath).collect()
        }
        assert after == want_l
        # and the compacted store is one row per doc
        assert spark.read.parquet(lpath).count() == 3
    finally:
        shutil.rmtree(base, ignore_errors=True)


# -------------------------------------------- transactional sink scale


def test_anti_join_broadcast_gated_by_keyset_size(spark):
    """The idempotency anti-join's broadcast hint is FORCED only below
    BROADCAST_KEYSET_MAX_BYTES (VERDICT r9 #2: an unboundedly growing
    keyset must not be hint-broadcast into executor memory). Below the
    threshold the analyzed plan carries the hint; above it the join is
    left unhinted for Spark/AQE to decide."""
    from kommunedata_data_pipeline_spark.sources.sinks import (
        BROADCAST_KEYSET_MAX_BYTES,
        _maybe_broadcast,
    )

    fresh = spark.createDataFrame([(1, "a")], "k int, v string")
    existing = spark.createDataFrame([(1,)], "k int")

    def analyzed(data_bytes):
        j = fresh.join(
            _maybe_broadcast(existing, data_bytes), ["k"], "left_anti"
        )
        return j._jdf.queryExecution().analyzed().toString()

    assert "ResolvedHint" in analyzed(0)
    assert "ResolvedHint" not in analyzed(BROADCAST_KEYSET_MAX_BYTES + 1)


def test_merge_upsert_correct_above_broadcast_threshold(
    spark, tmp_path, monkeypatch
):
    """Behavioral twin of the plan assertion: with the threshold forced
    to 0 (every table counts as 'too big to broadcast'), the unhinted
    anti-join path still lands exactly the fresh keys."""
    import kommunedata_data_pipeline_spark.sources.sinks as sinks

    monkeypatch.setattr(sinks, "BROADCAST_KEYSET_MAX_BYTES", 0)
    path = str(tmp_path / "tbl")
    a = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    b = spark.createDataFrame([(2, "dup"), (3, "c")], "k int, v string")
    assert sinks.merge_upsert(a, path, ["k"]) == 2
    assert sinks.merge_upsert(b, path, ["k"]) == 1
    out = {r["k"]: r["v"] for r in sinks.read_committed(spark, path).collect()}
    assert out == {1: "a", 2: "b", 3: "c"}


def test_commit_log_checkpoint_resolves_without_old_commits(
    spark, tmp_path, monkeypatch
):
    """Checkpoint compaction (VERDICT r9 next #3): after >K commits a
    checkpoint manifest exists, and reads resolve THROUGH it — proven
    by deleting every pre-checkpoint commit file and still reading the
    full table. Commits after the checkpoint still apply on top."""
    import os

    import kommunedata_data_pipeline_spark.sources.sinks as sinks

    monkeypatch.setattr(sinks, "CHECKPOINT_INTERVAL", 4)
    path = str(tmp_path / "tbl")
    for k in range(6):  # 6 commits, checkpoint due after version 3
        df = spark.createDataFrame([(k, f"v{k}")], "k int, v string")
        assert sinks.merge_upsert(df, path, ["k"]) == 1
    logd = os.path.join(path, "_kdp_log")
    names = os.listdir(logd)
    ckpts = [n for n in names if n.startswith("checkpoint-")]
    assert ckpts == ["checkpoint-000000000003.json"], names
    v_full, files_full = sinks.committed_files(path)
    # remove every commit the checkpoint subsumes: reads must not miss
    for n in names:
        if n.endswith(".json") and not n.startswith("checkpoint-"):
            if int(n[: -len(".json")]) <= 3:
                os.remove(os.path.join(logd, n))
    version, files = sinks.committed_files(path)
    assert version == v_full == 5
    assert sorted(files) == sorted(files_full)
    out = {r["k"]: r["v"] for r in sinks.read_committed(spark, path).collect()}
    assert out == {k: f"v{k}" for k in range(6)}
    # and writes continue past the truncated log
    df = spark.createDataFrame([(99, "z")], "k int, v string")
    assert sinks.merge_upsert(df, path, ["k"]) == 1
    assert sinks.read_committed(spark, path).count() == 7


def test_merge_upsert_races_still_safe_with_checkpoints(
    spark, tmp_path, monkeypatch
):
    """4-thread overlapping upserts with a tiny checkpoint interval:
    every key lands exactly once and checkpoints never corrupt
    resolution mid-race."""
    import threading

    import kommunedata_data_pipeline_spark.sources.sinks as sinks

    monkeypatch.setattr(sinks, "CHECKPOINT_INTERVAL", 2)
    path = str(tmp_path / "tbl")
    batches = [
        spark.createDataFrame(
            [(k, f"w{w}") for k in range(w * 5, w * 5 + 10)],
            "k int, v string",
        )
        for w in range(4)
    ]
    errs = []

    def run(b):
        try:
            sinks.merge_upsert(b, path, ["k"])
        except Exception as exc:
            errs.append(exc)

    ts = [threading.Thread(target=run, args=(b,)) for b in batches]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs, errs
    rows = sinks.read_committed(spark, path).groupBy("k").count().collect()
    assert all(r["count"] == 1 for r in rows)
    assert {r["k"] for r in rows} == set(range(25))


# ------------------------------------------------- MERGE update-on-match


def test_merge_update_updates_matched_inserts_unmatched(spark, tmp_path):
    from kommunedata_data_pipeline_spark.sources.sinks import (
        merge_update,
        merge_upsert,
        read_committed,
    )

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k int, v string, n int"
    )
    assert merge_upsert(base, path, ["k"]) == 3
    merge = spark.createDataFrame(
        [(2, "B", 200), (4, "d", 40)], "k int, v string, n int"
    )
    n_upd, n_ins = merge_update(merge, path, ["k"])
    assert (n_upd, n_ins) == (1, 1)
    out = {
        r["k"]: (r["v"], r["n"])
        for r in read_committed(spark, path).collect()
    }
    assert out == {
        1: ("a", 10),
        2: ("B", 200),
        3: ("c", 30),
        4: ("d", 40),
    }


def test_merge_update_replay_is_noop(spark, tmp_path):
    """Replaying the same MERGE batch changes nothing: zero counts, no
    new commit, identical file manifest."""
    from kommunedata_data_pipeline_spark.sources.sinks import (
        committed_files,
        merge_update,
        merge_upsert,
    )

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    merge_upsert(base, path, ["k"])
    m = spark.createDataFrame([(2, "B"), (3, "c")], "k int, v string")
    assert merge_update(m, path, ["k"]) == (1, 1)
    v1, files1 = committed_files(path)
    assert merge_update(m, path, ["k"]) == (0, 0)
    v2, files2 = committed_files(path)
    assert (v1, sorted(files1)) == (v2, sorted(files2))


def test_merge_update_rewrites_only_touched_files(spark, tmp_path):
    """Copy-on-write blast radius: updating keys in ONE partition's
    files retires only those files; other partitions' files survive in
    the manifest untouched."""
    from kommunedata_data_pipeline_spark.sources.sinks import (
        committed_files,
        merge_update,
        merge_upsert,
        read_committed,
    )

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, "p0", "a"), (2, "p0", "b"), (3, "p1", "c"), (4, "p1", "d")],
        "k int, part string, v string",
    )
    merge_upsert(base, path, ["k"], partition_cols=["part"])
    _, files_before = committed_files(path)
    p1_files = {f for f in files_before if f.startswith("part=p1")}
    m = spark.createDataFrame(
        [(1, "p0", "A")], "k int, part string, v string"
    )
    assert merge_update(m, path, ["k"], partition_cols=["part"]) == (1, 0)
    _, files_after = committed_files(path)
    assert p1_files <= set(files_after)  # p1 untouched
    retired = set(files_before) - set(files_after)
    assert retired  # something was rewritten...
    assert all(f.startswith("part=p0") for f in retired)  # ...only in p0
    out = {r["k"]: r["v"] for r in read_committed(spark, path).collect()}
    assert out == {1: "A", 2: "b", 3: "c", 4: "d"}


def test_merge_update_concurrent_update_and_insert_serialize(
    spark, tmp_path
):
    """A MERGE planning against snapshot V while another writer commits
    first must lose the version race and re-plan: both effects land,
    and the racing writer's overlapping key reflects LAST-writer-wins
    (the retry sees the winner's value and still applies its own)."""
    from kommunedata_data_pipeline_spark.sources.sinks import (
        merge_update,
        merge_upsert,
        read_committed,
    )

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    merge_upsert(base, path, ["k"])
    racer = spark.createDataFrame(
        [(1, "racer"), (5, "e")], "k int, v string"
    )
    mine = spark.createDataFrame(
        [(1, "mine"), (6, "f")], "k int, v string"
    )
    fired = []

    def interleave(attempt):
        if not fired:
            fired.append(1)
            merge_update(racer, path, ["k"])

    n_upd, n_ins = merge_update(mine, path, ["k"], _test_hook=interleave)
    assert (n_upd, n_ins) == (1, 1)
    out = {r["k"]: r["v"] for r in read_committed(spark, path).collect()}
    assert out == {1: "mine", 2: "b", 5: "e", 6: "f"}


def test_merge_update_parallel_threads_disjoint_keys(spark, tmp_path):
    """4 concurrent MERGE writers over disjoint key ranges (updates of
    a shared base + fresh inserts): all effects land exactly once."""
    import threading

    from kommunedata_data_pipeline_spark.sources.sinks import (
        merge_update,
        merge_upsert,
        read_committed,
    )

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(k, "old") for k in range(20)], "k int, v string"
    )
    merge_upsert(base, path, ["k"])
    errs = []

    def run(w):
        try:
            b = spark.createDataFrame(
                [(k, f"w{w}") for k in range(w * 5, w * 5 + 5)]
                + [(100 + w, f"new{w}")],
                "k int, v string",
            )
            merge_update(b, path, ["k"])
        except Exception as exc:
            errs.append(exc)

    ts = [threading.Thread(target=run, args=(w,)) for w in range(4)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs, errs
    out = {r["k"]: r["v"] for r in read_committed(spark, path).collect()}
    assert len(out) == 24
    for w in range(4):
        for k in range(w * 5, w * 5 + 5):
            assert out[k] == f"w{w}", (k, out[k])
        assert out[100 + w] == f"new{w}"


def test_vacuum_removes_files_retired_by_merge_update(spark, tmp_path):
    import os

    from kommunedata_data_pipeline_spark.sources.sinks import (
        merge_update,
        merge_upsert,
        read_committed,
        vacuum_uncommitted,
    )

    path = str(tmp_path / "tbl")
    merge_upsert(
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"),
        path,
        ["k"],
    )
    merge_update(
        spark.createDataFrame([(1, "A")], "k int, v string"), path, ["k"]
    )
    # retention 0 = eager sweep (controlled shutdown; no live traffic)
    removed = vacuum_uncommitted(path, retention_seconds=0)
    assert removed >= 1  # the rewritten file's old bytes are reclaimed
    out = {r["k"]: r["v"] for r in read_committed(spark, path).collect()}
    assert out == {1: "A", 2: "b"}
    # every remaining parquet file is referenced
    on_disk = {
        os.path.relpath(os.path.join(r, f), path)
        for r, _d, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    }
    from kommunedata_data_pipeline_spark.sources.sinks import committed_files

    _, files = committed_files(path)
    assert on_disk == {os.path.normpath(f) for f in files}


# ------------------------------------------------ bloom decontamination


def test_decontaminate_bloom_output_equals_exact(spark):
    """The bloom screen changes the shuffle volume, never the answer:
    output is row-identical to the exact operator (false negatives are
    impossible — every true member set all its bits)."""
    from kommunedata_data_pipeline_spark.operators.corpus import (
        decontaminate,
        decontaminate_bloom,
    )

    d = load_table(spark, SF_SMALL, "documents")
    tr = d.where(F.col("doc_id") % 3 != 1)
    te = d.where(F.col("doc_id") % 3 == 1)
    exact = sorted(map(tuple, decontaminate(tr, te, n=8).collect()))
    # undersized bitmap on purpose (more false positives) — output must
    # STILL be exact because survivors re-verify against the gram set
    bloom = sorted(
        map(tuple, decontaminate_bloom(tr, te, n=8, n_bits=1 << 14, k=4).collect())
    )
    assert exact == bloom and exact


def test_bloom_probe_no_false_negatives_and_low_fp(spark):
    """Membership contract of the bitmap itself: every inserted value
    passes the probe; non-members pass at a LOW rate under the sizing
    contract (~10 bits/item, k=4 -> ~1%)."""
    from kommunedata_data_pipeline_spark.operators.corpus import (
        _bloom_hashes,
        bloom_filter_row,
        bloom_probe_pred,
    )

    members = spark.range(1000).select(
        F.concat(F.lit("member-"), F.col("id")).alias("v")
    )
    others = spark.range(5000).select(
        F.concat(F.lit("other-"), F.col("id")).alias("v")
    )
    n_bits, k = 10_240, 4
    bloom = bloom_filter_row(members, "v", n_bits, k)

    def hits(df):
        return (
            df.select("v", *_bloom_hashes(F.col("v")))
            .crossJoin(F.broadcast(bloom))
            .where(F.expr(bloom_probe_pred(n_bits, k)))
            .count()
        )

    assert hits(members) == 1000  # zero false negatives, ever
    fp = hits(others) / 5000
    assert fp < 0.05, fp  # ~1% expected at 10 bits/item; 5% ceiling


def test_auto_compact_bounds_delta_count_and_preserves_answer(spark):
    """auto_compact=True (the LSM doubling rule): many small batches
    keep the store's ver-dir count BOUNDED (deltas fold whenever their
    bytes reach the base's) while the landed set still equals the
    batch-mode rule and the resolved store equals the full band
    table."""
    from kommunedata_data_pipeline_spark.operators.dedup import (
        minhash_band_table,
        minhash_lsh_pairs,
    )
    from kommunedata_data_pipeline_spark.streaming.ingest import (
        minhash_dedup_ingest,
        run_writer_available_now,
    )

    docs = (
        load_table(spark, SF_SMALL, "documents")
        .select("doc_id", "text")
        .where(F.col("doc_id") < 90)
    )
    pairs = minhash_lsh_pairs(docs, 3, 16, 4, 0.5)
    dup_b = {r.doc_b for r in pairs.select("doc_b").distinct().collect()}
    want = {r.doc_id for r in docs.select("doc_id").collect()} - dup_b
    base = _tmpbase("kdp-r10-autoc-")
    try:
        bounds = [15, 30, 45, 60, 75, 90]  # 6 equal batches
        _stage_batches(docs, "doc_id", bounds, f"{base}/stage")
        stream = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{base}/stage")
        )
        run_writer_available_now(
            minhash_dedup_ingest(
                stream, f"{base}/index", f"{base}/landed",
                k=3, num_hashes=16, bands=4, threshold=0.5,
                auto_compact=True,
            ),
            f"{base}/ckpt",
        )
        vers = [
            n
            for n in os.listdir(f"{base}/index")
            if n.startswith("ver=")
        ]
        # equal-size batches under the doubling rule fold often: far
        # fewer ver dirs than batches
        assert len(vers) < len(bounds), vers
        landed = {
            r.doc_id for r in spark.read.parquet(f"{base}/landed").collect()
        }
        assert landed == want
        idx = sorted(
            (r["doc_id"], r["band"], r["bkey"])
            for r in spark.read.parquet(f"{base}/index")
            .dropDuplicates(["doc_id", "band"])
            .collect()
        )
        full = sorted(
            (r["doc_id"], r["band"], r["bkey"])
            for r in minhash_band_table(docs, 3, 16, 4).collect()
        )
        assert idx == full
    finally:
        shutil.rmtree(base, ignore_errors=True)


# ------------------------------------------- state-store observability


def test_state_store_metrics_match_batch_ground_truth(spark):
    """The engine-reported state telemetry equals batch-SQL ground
    truth when nothing evicts: dedup state rows == distinct event_ids,
    tumbling state rows == distinct (hour-window, event_type) groups —
    the exact contract q_stream_state_metrics oracles."""
    from kommunedata_data_pipeline_spark.streaming.observability import (
        state_store_metrics,
        state_store_metrics_full,
    )

    ev = load_table(spark, SF_SMALL, "events")
    n_keys = ev.select("event_id").distinct().count()
    n_groups = (
        ev.select(
            F.window("ts", "1 hour")["start"].alias("w"), "event_type"
        )
        .distinct()
        .count()
    )
    rows = {
        r["stream"]: r
        for r in state_store_metrics(spark, SF_SMALL).collect()
    }
    assert rows["dedup"]["operator"] == "dedupe"
    assert rows["dedup"]["state_rows"] == n_keys
    assert rows["dedup"]["rows_updated"] == n_keys
    assert rows["tumbling"]["operator"] == "stateStoreSave"
    assert rows["tumbling"]["state_rows"] == n_groups

    # the full frame carries the provider-dependent fields: memory is
    # positive (a store that reports 0 bytes for 1000 rows is lying),
    # nothing evicted under the over-wide watermark
    full = state_store_metrics_full(spark, SF_SMALL).collect()
    assert len(full) >= 2
    assert all(r["memory_used_bytes"] > 0 for r in full)
    assert all(r["rows_removed"] == 0 for r in full)


def test_state_metrics_frame_raises_on_undriven_sink(spark):
    """Asking for metrics of a stream that was never driven is an
    error, not an empty frame — silence here hides a broken health
    check."""
    import pytest as _pytest

    from kommunedata_data_pipeline_spark.streaming.observability import (
        state_metrics_frame,
    )

    with _pytest.raises(ValueError, match="no state-metrics stash"):
        state_metrics_frame(
            spark, {"ghost": "never_driven_sink_name"}
        )
