"""Round-13 optimization internals: the fused band+ids delta append
(one write job per batch, band-visible-before-ids), the driver-side
small-delta file fold, the AQE-only rebalance hint, and the key-probe
overflow memory.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from kommunedata_data_pipeline_spark.sources.readers import load_table
from kommunedata_data_pipeline_spark.streaming import ingest as ing

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    yield s


def _tmpbase(prefix):
    import tempfile

    return tempfile.mkdtemp(
        prefix=prefix,
        dir="/dev/shm" if os.path.isdir("/dev/shm") else None,
    )


def _stage_batches(df, id_col, bounds, stage):
    lo = None
    for i, hi in enumerate(bounds):
        part = df.where(F.col(id_col) < hi)
        if lo is not None:
            part = part.where(F.col(id_col) >= lo)
        part.coalesce(1).write.mode(
            "append" if i else "overwrite"
        ).parquet(stage)
        os.replace(
            next(
                os.path.join(stage, f)
                for f in sorted(os.listdir(stage))
                if f.endswith(".parquet") and not f.startswith("b")
            ),
            os.path.join(stage, f"b{i}.parquet"),
        )
        lo = hi


def test_delta_pair_one_write_and_small_fold(spark):
    """After a 3-batch minhash ingest: every store delta dir holds ONE
    parquet file (the tiny-delta driver fold), the ids sidecar still
    resolves to the batch ids, and the landed set is unchanged vs the
    batch-mode oracle (the fused append changed the write structure,
    not the data)."""
    from kommunedata_data_pipeline_spark.operators.dedup import (
        minhash_lsh_pairs,
    )

    docs = (
        load_table(spark, SF_SMALL, "documents")
        .select("doc_id", "text")
        .where(F.col("doc_id") < 90)
    )
    base = _tmpbase("kdp-r13-pair-")
    try:
        _stage_batches(docs, "doc_id", [30, 60, 90], f"{base}/stage")
        stream = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{base}/stage")
        )
        ing.run_writer_available_now(
            ing.minhash_dedup_ingest(
                stream, f"{base}/index", f"{base}/landed"
            ),
            f"{base}/ckpt",
        )
        for store in (f"{base}/index", f"{base}/index_ids"):
            vers = sorted(
                n for n in os.listdir(store) if n.startswith("ver=")
            )
            assert vers == ["ver=0", "ver=1", "ver=2"], (store, vers)
            for v in vers:
                parts = [
                    f
                    for f in os.listdir(os.path.join(store, v))
                    if f.endswith(".parquet")
                ]
                assert len(parts) == 1, (store, v, parts)
        # ids sidecar resolves to exactly the ingested ids (extra null
        # band columns in the fused files are pruned by the schema)
        got_ids = {
            r.doc_id
            for r in ing._load_index(
                spark, f"{base}/index_ids", "doc_id bigint"
            ).collect()
        }
        want_ids = {r.doc_id for r in docs.select("doc_id").collect()}
        assert got_ids == want_ids
        # landed set still equals the batch-mode oracle
        pairs = minhash_lsh_pairs(docs, 3, 16, 4, 0.5)
        dup_b = {r.doc_b for r in pairs.select("doc_b").distinct().collect()}
        got = {
            r.doc_id
            for r in spark.read.parquet(f"{base}/landed")
            .select("doc_id")
            .collect()
        }
        assert got == want_ids - dup_b
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_fused_append_visibility_order_land_band_ids(spark):
    """The fused append makes effects visible in the crash-contract
    order: landing files move first, then the band dir renames, then
    the ids dir (an id recorded without its band rows would silently
    lose candidates). Pinned by intercepting os.replace."""
    calls: list[str] = []
    real_replace = os.replace

    def spy(src, dst, *a, **kw):
        calls.append(dst)
        return real_replace(src, dst, *a, **kw)

    base = _tmpbase("kdp-r13-order-")
    kept = spark.createDataFrame(
        [(1, "hello")], "doc_id bigint, text string"
    )
    band = spark.createDataFrame(
        [(1, [1, 2], 0, "k1")],
        "doc_id bigint, sig array<bigint>, band int, bkey string",
    )
    ids = spark.createDataFrame([(1,)], "doc_id bigint")
    try:
        os.replace = spy
        ing._append_landing_and_deltas(
            kept,
            f"{base}/landed",
            band,
            f"{base}/idx",
            ids,
            f"{base}/idx_ids",
            "doc_id",
        )
    finally:
        os.replace = real_replace
    visible = [
        c
        for c in calls
        if (f"{base}/landed/" in c or "/ver=" in c)
        and not c.endswith("_zones.json")
    ]
    assert len(visible) == 3, calls
    assert visible[0].startswith(f"{base}/landed/"), visible
    assert visible[1].startswith(f"{base}/idx/"), visible
    assert visible[2].startswith(f"{base}/idx_ids/"), visible
    # data round-trips through the union schema
    assert spark.read.schema("doc_id bigint, text string").parquet(
        f"{base}/landed"
    ).collect()[0].text == "hello"
    got = ing._load_index(
        spark, f"{base}/idx", "doc_id bigint, sig array<bigint>, "
        "band int, bkey string"
    ).collect()
    assert got[0].bkey == "k1" and got[0].sig == [1, 2]
    shutil.rmtree(base, ignore_errors=True)


def test_fused_append_empty_sides_append_nothing(spark):
    """A replayed batch (everything empty) creates no ver dirs and no
    landing files; a batch with only an ids delta appends only the ids
    side."""
    base = _tmpbase("kdp-r13-empty-")
    schema = "doc_id bigint, sig array<bigint>, band int, bkey string"
    kept_empty = spark.createDataFrame([], "doc_id bigint, text string")
    band_empty = spark.createDataFrame([], schema)
    ids = spark.createDataFrame([(7,)], "doc_id bigint")
    try:
        ing._append_landing_and_deltas(
            kept_empty,
            f"{base}/landed",
            band_empty,
            f"{base}/idx",
            ids,
            f"{base}/idx_ids",
            "doc_id",
        )
        assert not os.path.isdir(f"{base}/landed") or not any(
            f.endswith(".parquet") for f in os.listdir(f"{base}/landed")
        )
        assert not os.path.isdir(f"{base}/idx") or not any(
            n.startswith("ver=") for n in os.listdir(f"{base}/idx")
        )
        assert sorted(
            n for n in os.listdir(f"{base}/idx_ids") if n.startswith("ver=")
        ) == ["ver=0"]
        got = {
            r.doc_id
            for r in ing._load_index(
                spark, f"{base}/idx_ids", "doc_id bigint"
            ).collect()
        }
        assert got == {7}
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_fold_small_delta_files_roundtrip(spark, tmp_path):
    """The driver-side fold merges a multi-file staged delta into one
    parquet file with identical rows (array columns included), and
    leaves an over-threshold delta untouched."""
    d = str(tmp_path / "staged")
    df = spark.createDataFrame(
        [(i, [i, i + 1], i % 4, f"k{i}") for i in range(100)],
        "doc_id bigint, sig array<bigint>, band int, bkey string",
    )
    df.repartition(8).write.mode("overwrite").parquet(d)
    before = sorted(
        r.doc_id for r in spark.read.parquet(d).collect()
    )
    n_parts = len([f for f in os.listdir(d) if f.endswith(".parquet")])
    assert n_parts > 1
    ing._fold_small_delta_files(d)
    parts = [f for f in os.listdir(d) if f.endswith(".parquet")]
    assert len(parts) == 1
    back = spark.read.schema(
        "doc_id bigint, sig array<bigint>, band int, bkey string"
    ).parquet(d)
    assert sorted(r.doc_id for r in back.collect()) == before
    assert back.where(F.col("sig")[0] == F.col("doc_id")).count() == 100
    # over-threshold: untouched
    d2 = str(tmp_path / "staged2")
    df.repartition(4).write.mode("overwrite").parquet(d2)
    old_thresh = ing.SMALL_DELTA_FOLD_BYTES
    try:
        ing.SMALL_DELTA_FOLD_BYTES = 1
        ing._fold_small_delta_files(d2)
    finally:
        ing.SMALL_DELTA_FOLD_BYTES = old_thresh
    assert (
        len([f for f in os.listdir(d2) if f.endswith(".parquet")]) == 4
    )


def test_append_delta_rebalances_only_under_aqe(spark, tmp_path, monkeypatch):
    """With AQE on, the rebalance hint alone lands a tiny multi-partition
    delta as ONE file (the small-delta fold is switched off here); with
    AQE off no hint is given, the delta keeps its partition files, and
    the store reads back the same rows either way."""
    monkeypatch.setattr(ing, "SMALL_DELTA_FOLD_BYTES", 0)
    delta = spark.range(200).selectExpr("id AS doc_id", "id % 7 AS k")
    delta = delta.repartition(8)
    saved = spark.conf.get("spark.sql.adaptive.enabled")
    rows = {}
    try:
        for aqe in ("true", "false"):
            spark.conf.set("spark.sql.adaptive.enabled", aqe)
            store = str(tmp_path / f"aqe_{aqe}")
            ing._append_delta(delta, store)
            files = [
                f
                for f in os.listdir(os.path.join(store, "ver=0"))
                if f.endswith(".parquet")
            ]
            assert (len(files) == 1) == (aqe == "true"), (aqe, files)
            rows[aqe] = sorted(
                tuple(r)
                for r in ing._load_index(
                    spark, store, "doc_id bigint, k bigint"
                ).collect()
            )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", saved)
    assert rows["true"] == rows["false"] == [(i, i % 7) for i in range(200)]


def test_dup_clusters_edge_hint_skips_strategy_count(spark):
    """A caller-known edge bound under the single-task threshold picks
    the fast path WITHOUT spending the strategy count() — and the
    labels are identical to the unhinted call."""
    from pyspark.sql.classic.dataframe import DataFrame as CDF

    from kommunedata_data_pipeline_spark.operators.dedup import (
        dup_clusters,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22)],
        "doc_a bigint, doc_b bigint",
    )
    want = {(r.doc_id, r.cluster_id) for r in dup_clusters(pairs).collect()}
    counts = {"n": 0}
    real = CDF.count

    def spy(self):
        counts["n"] += 1
        return real(self)

    CDF.count = spy
    try:
        hinted = dup_clusters(pairs, max_edges_hint=5)
        assert counts["n"] == 0, "hint must skip the strategy count"
    finally:
        CDF.count = real
    got = {(r.doc_id, r.cluster_id) for r in hinted.collect()}
    assert got == want


def test_dup_span_gram_stream_pinned_once(spark):
    """The span family's gram stream is pinned (one_slot_cached): the
    optimized plan of duplicated_spans reads an InMemoryRelation for
    both gram consumers instead of re-running the upstream explode per
    reference — and the result is identical to a pin-free rebuild."""
    from kommunedata_data_pipeline_spark.operators import corpus as C
    from kommunedata_data_pipeline_spark.operators.dedup import (
        _ONE_SLOT_CACHE,
    )

    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    out = C.duplicated_spans(docs, n=5, min_count=2)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" in plan
    assert any(k.startswith("dupspan_grams:") for k in _ONE_SLOT_CACHE)
    got = {(r.doc_id, r.dup_tokens) for r in out.collect()}
    # pin-free ground truth: a FRESH frame (new identity) builds a new
    # pinned gram table; equality pins pin==rebuild
    docs2 = load_table(spark, SF_SMALL, "documents").select(
        "doc_id", "text"
    )
    got2 = {
        (r.doc_id, r.dup_tokens)
        for r in C.duplicated_spans(docs2, n=5, min_count=2).collect()
    }
    assert got == got2 and got


def test_key_set_probe_overflow_memory(spark, tmp_path):
    """After two consecutive over-cap batches the probe is skipped
    without spending its collect job for PROBE_SKIP_BATCHES batches;
    the next batch probes again — an overflow re-arms the skip, a fit
    resets the state and probing resumes on every batch."""
    from pyspark.sql.classic.dataframe import DataFrame as CDF

    store = str(tmp_path / "idx")
    # enough files that _worth_pruning is True
    spark.range(200).select(
        F.col("id").alias("k")
    ).repartition(20).write.mode("overwrite").parquet(store)
    assert ing._worth_pruning(store)
    big = spark.range(0, 1000).select(F.col("id").alias("k"))
    small = spark.range(0, 10).select(F.col("id").alias("k"))
    state: dict = {}
    # count collect jobs: patch the CLASSIC DataFrame class (Spark 4
    # instances override the pyspark.sql.DataFrame ABC, so patching the
    # ABC would count nothing)
    calls = {"n": 0}
    real = CDF.collect

    def spy(self):
        calls["n"] += 1
        return real(self)

    def probe(frame):
        before = calls["n"]
        got = ing._key_set_probe(frame, "k", store, overflow_state=state)
        return got, calls["n"] - before

    old_cap = ing.PRUNE_MAX_KEYS
    CDF.collect = spy
    try:
        ing.PRUNE_MAX_KEYS = 100
        assert probe(big) == (None, 1) and state["overflows"] == 1
        assert probe(big) == (None, 1) and state["overflows"] == 2
        # skipped up-front, collect not spent
        for _ in range(ing.PROBE_SKIP_BATCHES):
            assert probe(big) == (None, 0)
        # the skip expires: one more probe, which overflows and re-arms
        assert probe(big) == (None, 1)
        for _ in range(ing.PROBE_SKIP_BATCHES):
            assert probe(small) == (None, 0)
        # the next probe fits: state resets and every batch probes
        got, n = probe(small)
        assert got is not None and n == 1 and not state.get("overflows")
        got, n = probe(small)
        assert got == {"k": ("set", list(range(10)))} and n == 1
    finally:
        CDF.collect = real
        ing.PRUNE_MAX_KEYS = old_cap
