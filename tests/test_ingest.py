"""Tests of the streaming ingests (`streaming/ingest.py`): the six
foreachBatch writers, their persisted stores and the store
declarations that appends and both compaction paths share."""

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from kommunedata_data_pipeline_spark.sources.readers import load_table
from kommunedata_data_pipeline_spark.sources.zones import load_zones
from kommunedata_data_pipeline_spark.streaming import ingest as ing

SF_SMALL = "/root/testdata/sf0.001"


def _stage(df, id_col, bounds, stage):
    """Stage ``df`` as one parquet file per id range [previous bound,
    bound), with increasing mtimes (the file source's arrival order)."""
    os.makedirs(stage, exist_ok=True)
    lo = None
    for hi in bounds:
        part = df.where(F.col(id_col) < hi)
        if lo is not None:
            part = part.where(F.col(id_col) >= lo)
        tmp = f"{stage}__{hi}"
        part.coalesce(1).write.mode("overwrite").parquet(tmp)
        src = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        dst = os.path.join(stage, f"b{hi:06d}.parquet")
        os.replace(os.path.join(tmp, src), dst)
        os.utime(dst, (1_700_000_000 + hi,) * 2)
        shutil.rmtree(tmp)
        lo = hi


def _drain(spark, writer_fn, stage, schema, ckpt):
    """Run ``writer_fn(stream)`` over every file staged under ``stage``
    (one file per trigger), checkpointing at ``ckpt``."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
    )
    ing.run_writer_available_now(writer_fn(stream), ckpt)


def test_auto_compact_resolves_tombstoned_ids_out_of_band_base(
    spark, tmp_path, monkeypatch
):
    """The auto-compaction of the band store folds as
    `compact_band_index` does: a tombstoned id's band rows are gone from
    the compacted base (`ver=0`), not only hidden from candidate reads."""
    docs = (
        load_table(spark, SF_SMALL, "documents")
        .select("doc_id", "text")
        .where(F.col("doc_id") < 120)
    )
    idx, stage = str(tmp_path / "idx"), str(tmp_path / "stage")
    compacted = []
    real = ing.compact_index

    def counting(spark_, path, *a, **kw):
        compacted.append(path)
        return real(spark_, path, *a, **kw)

    monkeypatch.setattr(ing, "compact_index", counting)

    def run(frame, bounds):
        _stage(frame, "doc_id", bounds, stage)
        _drain(
            spark,
            lambda s: ing.minhash_dedup_ingest(
                s, idx, str(tmp_path / "landed"), auto_compact=True
            ),
            stage,
            "doc_id bigint, text string",
            str(tmp_path / "ckpt"),
        )

    run(docs, [30])
    victim = 7
    base = spark.read.schema(ing._BAND_SCHEMA).parquet(idx)
    assert base.where(F.col("doc_id") == victim).count() > 0
    ing.tombstone_index_ids(
        spark, idx, spark.createDataFrame([(victim,)], "doc_id bigint")
    )
    compacted.clear()
    run(docs.where(F.col("doc_id") >= 30), [60, 90, 120])
    assert idx in compacted  # a band compaction ran after the tombstone
    base = spark.read.schema(ing._BAND_SCHEMA).parquet(
        os.path.join(idx, "ver=0")
    )
    assert base.where(F.col("doc_id") == victim).count() == 0
    assert base.where(F.col("doc_id") != victim).count() > 0


def test_auto_compacted_label_store_has_the_explicit_layout(spark, tmp_path):
    """An auto-compacted CC label store is laid out as
    `compact_cc_labels` lays it out: range-partitioned by doc_id with a
    zone manifest over the same per-file doc_id ranges."""
    # the second batch's delta outweighs the first batch's base, so the
    # doubling rule compacts after it
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (30, 31), (40, 41)]
        + [(50, 51), (60, 61), (70, 71), (80, 81)],
        "doc_a bigint, doc_b bigint",
    )
    stage = str(tmp_path / "stage")
    _stage(pairs, "doc_a", [5, 100], stage)
    auto, explicit = str(tmp_path / "auto"), str(tmp_path / "explicit")
    for labels, on in ((auto, True), (explicit, False)):
        _drain(
            spark,
            lambda s: ing.cc_label_ingest(s, labels, auto_compact=on),
            stage,
            "doc_a bigint, doc_b bigint",
            f"{labels}_ckpt",
        )
    ing.compact_cc_labels(spark, explicit)

    def layout(path):
        assert sorted(n for n in os.listdir(path) if n.startswith("ver=")) == [
            "ver=0"
        ]
        return sorted(
            (rel.split("/")[0], sorted(cols.items()))
            for rel, cols in load_zones(path).items()
        )

    assert layout(auto) and layout(auto) == layout(explicit)
    got = {
        tuple(r) for r in ing.read_cc_labels(spark, auto).collect()
    }
    assert got == {
        tuple(r) for r in ing.read_cc_labels(spark, explicit).collect()
    }


def test_stream_ingest_stashes_its_sink_durations(spark):
    """A stream-ingest query stashes its run's summed durations under
    ``{query}_sink``, with the addBatch phase bench.py's exec-vs-wall
    split reads."""
    import __spark_entry__ as m
    from kommunedata_data_pipeline_spark.streaming.windows import (
        LAST_RUN_DURATIONS,
    )

    LAST_RUN_DURATIONS.pop("q_stream_decontaminate_sink", None)
    out = m.q_stream_decontaminate(spark, "/root/testdata/sf0.01")
    assert out.count() > 0
    phases = LAST_RUN_DURATIONS["q_stream_decontaminate_sink"]
    assert phases.get("addBatch", 0) > 0, phases


def test_ingest_dedup_landed_set_invariant_under_batch_split(spark):
    """Incremental ingest (streaming/ingest.py): for id-ordered batch
    splits, the landed set must equal the batch-mode rule (doc never
    appears as the larger id of a verified near-dup pair) — whether the
    corpus arrives as ONE batch or THREE. Also pins that the persisted
    index after the run equals the full band table over every ingested
    doc (kept and dropped alike)."""
    import glob
    import os
    import shutil

    from kommunedata_data_pipeline_spark.operators.dedup import (
        minhash_band_table,
        minhash_lsh_pairs,
    )
    from kommunedata_data_pipeline_spark.streaming.ingest import (
        minhash_dedup_ingest,
        run_writer_available_now,
    )

    docs = (
        load_table(spark, "/root/testdata/sf0.001", "documents")
        .select("doc_id", "text")
        .where(F.col("doc_id") < 90)
    )
    pairs = minhash_lsh_pairs(docs, 3, 16, 4, 0.5)
    dup_b = {r.doc_b for r in pairs.select("doc_b").distinct().collect()}
    want = {r.doc_id for r in docs.select("doc_id").collect()} - dup_b

    def run(split_bounds):
        base = tempfile.mkdtemp(
            prefix="kdp-ingest-test-",
            dir="/dev/shm" if os.path.isdir("/dev/shm") else None,
        )
        stage = f"{base}/stage"
        os.makedirs(stage)
        try:
            lo = 0
            for i, hi in enumerate(split_bounds):
                part = f"{base}/p{i}"
                docs.where(
                    (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
                ).coalesce(1).write.mode("overwrite").parquet(part)
                src = glob.glob(f"{part}/part-*.parquet")[0]
                dst = f"{stage}/b{i}.parquet"
                os.rename(src, dst)
                os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
                lo = hi
            stream = (
                spark.readStream.schema("doc_id bigint, text string")
                .option("maxFilesPerTrigger", "1")
                .parquet(stage)
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
            landed = {
                r.doc_id
                for r in spark.read.parquet(f"{base}/landed").collect()
            }
            idx = sorted(
                (r["doc_id"], r["band"], r["bkey"])
                for r in spark.read.parquet(f"{base}/index").collect()
            )
            return landed, idx
        finally:
            shutil.rmtree(base, ignore_errors=True)

    landed_one, idx_one = run([90])
    landed_three, idx_three = run([30, 60, 90])
    assert landed_one == want
    assert landed_three == want
    full_idx = sorted(
        (r["doc_id"], r["band"], r["bkey"])
        for r in minhash_band_table(docs, 3, 16, 4).collect()
    )
    assert idx_one == full_idx and idx_three == full_idx


def test_ann_ingest_landed_set_invariant_under_batch_split(spark):
    """ANN sibling of the ingest invariant: for id-ordered batch splits
    the landed vector set equals the batch-mode rule (vec never appears
    as the larger id of a verified near-dup pair), one batch or three;
    and the persisted index equals the full band table."""
    import glob
    import os
    import shutil

    from kommunedata_data_pipeline_spark.operators.similarity import (
        ann_band_table,
        embedding_near_dup_pairs_banded,
    )
    from kommunedata_data_pipeline_spark.streaming.ingest import (
        ann_dedup_ingest,
        run_writer_available_now,
    )

    vecs = (
        load_table(spark, "/root/testdata/sf0.001", "embeddings")
        .select("vec_id", "embedding")
        .where(F.col("vec_id") < 45)
    )
    pairs = embedding_near_dup_pairs_banded(vecs, n_bands=4, band_bits=8, threshold=0.3)
    dup_b = {r.vec_b for r in pairs.select("vec_b").distinct().collect()}
    want = {r.vec_id for r in vecs.select("vec_id").collect()} - dup_b

    def run(split_bounds):
        base = tempfile.mkdtemp(
            prefix="kdp-anningest-test-",
            dir="/dev/shm" if os.path.isdir("/dev/shm") else None,
        )
        stage = f"{base}/stage"
        os.makedirs(stage)
        try:
            lo = 0
            for i, hi in enumerate(split_bounds):
                part = f"{base}/p{i}"
                vecs.where(
                    (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
                ).coalesce(1).write.mode("overwrite").parquet(part)
                src = glob.glob(f"{part}/part-*.parquet")[0]
                dst = f"{stage}/b{i}.parquet"
                os.rename(src, dst)
                os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
                lo = hi
            stream = (
                spark.readStream.schema("vec_id bigint, embedding array<float>")
                .option("maxFilesPerTrigger", "1")
                .parquet(stage)
            )
            run_writer_available_now(
                ann_dedup_ingest(
                    stream, f"{base}/index", f"{base}/landed",
                    n_bands=4, band_bits=8, threshold=0.3,
                ),
                f"{base}/ckpt",
            )
            landed = {
                r.vec_id
                for r in spark.read.parquet(f"{base}/landed").collect()
            }
            idx = sorted(
                (r["vec_id"], r["band"], r["bkey"])
                for r in spark.read.parquet(f"{base}/index").collect()
            )
            return landed, idx
        finally:
            shutil.rmtree(base, ignore_errors=True)

    landed_one, idx_one = run([45])
    landed_three, idx_three = run([15, 30, 45])
    assert landed_one == want
    assert landed_three == want
    full_idx = sorted(
        (r["vec_id"], r["band"], r["bkey"])
        for r in ann_band_table(vecs, 4, 8).collect()
    )
    assert idx_one == full_idx and idx_three == full_idx


def test_decontaminate_ingest_landed_equals_batch_and_split_invariant(spark):
    """Stateless streaming decontamination: the landed set must equal
    the batch-mode `decontaminate` answer under BOTH a 1-batch and a
    3-batch split (no arrival-order contract — the eval gram set is
    frozen), and a replayed-looking duplicate batch must land nothing
    new (exactly-once landing)."""
    import glob
    import os
    import shutil

    from kommunedata_data_pipeline_spark.operators.corpus import decontaminate
    from kommunedata_data_pipeline_spark.streaming.ingest import (
        decontaminate_ingest,
        run_writer_available_now,
    )

    d = (
        load_table(spark, "/root/testdata/sf0.001", "documents")
        .select("doc_id", "text")
        .where(F.col("doc_id") < 90)
    )
    train = d.where(F.col("doc_id") % 2 == 0)
    eval_df = d.where(F.col("doc_id") % 2 == 1)
    want = {
        (r.doc_id, r.n_ngrams)
        for r in decontaminate(train, eval_df, n=8).collect()
    }
    assert want  # the slice must actually keep something

    def run(split_bounds):
        base = tempfile.mkdtemp(
            prefix="kdp-decon-test-",
            dir="/dev/shm" if os.path.isdir("/dev/shm") else None,
        )
        stage = f"{base}/stage"
        os.makedirs(stage)
        try:
            lo = 0
            for i, hi in enumerate(split_bounds):
                part = f"{base}/p{i}"
                train.where(
                    (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
                ).coalesce(1).write.mode("overwrite").parquet(part)
                src = glob.glob(f"{part}/part-*.parquet")[0]
                dst = f"{stage}/b{i}.parquet"
                os.rename(src, dst)
                os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
                lo = hi
            stream = (
                spark.readStream.schema("doc_id bigint, text string")
                .option("maxFilesPerTrigger", "1")
                .parquet(stage)
            )
            run_writer_available_now(
                decontaminate_ingest(stream, eval_df, f"{base}/landed", n=8),
                f"{base}/ckpt",
            )
            landed = {
                (r.doc_id, r.n_ngrams)
                for r in spark.read.parquet(f"{base}/landed").collect()
            }
            # replay the whole corpus once more through a FRESH stream
            # (at-least-once delivery): exactly-once landing must hold
            stream2 = (
                spark.readStream.schema("doc_id bigint, text string")
                .option("maxFilesPerTrigger", "1")
                .parquet(stage)
            )
            run_writer_available_now(
                decontaminate_ingest(stream2, eval_df, f"{base}/landed", n=8),
                f"{base}/ckpt2",
            )
            relanded = [
                r.doc_id
                for r in spark.read.parquet(f"{base}/landed").collect()
            ]
            assert len(relanded) == len(set(relanded)) == len(landed)
            return landed
        finally:
            shutil.rmtree(base, ignore_errors=True)

    assert run([90]) == want
    assert run([30, 60, 90]) == want
