"""Round-12 battery: ADVICE r11 fixes (retirement-time vacuum,
beyond-HEAD raise, no session-global AQE toggles) and VERDICT r11
items (anti_join_catalog broadcast gate). The zone-manifest tests of
this round live in tests/test_zones.py."""

import json
import os

import pytest
from pyspark.sql import functions as F


# ------------------------- AQE: explicit-N repartition is never coalesced


def test_explicit_repartition_survives_aqe_coalescing(spark, tmp_path):
    """The layout contract of compact_index/optimize_table rests on
    this: an explicit partition count (REPARTITION_BY_NUM shuffle
    origin) is never merged by AQE partition coalescing, so no
    session-global conf toggle is needed (ADVICE r11 #4)."""
    import glob

    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert (
        spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true")
        == "true"
    )
    d = str(tmp_path / "n16")
    df = spark.range(1000).selectExpr("id", "id % 97 as k")
    df.repartitionByRange(16, "k").sortWithinPartitions("k").write.mode(
        "overwrite"
    ).parquet(d)
    assert len(glob.glob(d + "/*.parquet")) == 16


# ------------------------- vacuum: retirement-time ageing (ADVICE #2)


def test_vacuum_retirement_time_not_mtime(spark, tmp_path):
    """A file whose MTIME is ancient but whose retirement (the commit
    that removed it) is fresh must survive retention — time travel to
    V-1 right after a merge_update would otherwise break under the
    default 24h retention (ADVICE r11 #2)."""
    import time

    from kommunedata_data_pipeline_spark.sources import sinks

    path = str(tmp_path / "tbl")
    sinks.merge_upsert(
        spark.createDataFrame([(1, "a")], "k int, v string"), path, ["k"]
    )
    # make the committed file LOOK 48h old, then retire it now
    old = time.time() - 48 * 3600
    _, files = sinks.committed_files(path)
    for rel in files:
        os.utime(os.path.join(path, rel), (old, old))
    sinks.merge_update(
        spark.createDataFrame([(1, "B")], "k int, v string"), path, ["k"]
    )
    # 24h retention: the retired (mtime-ancient, freshly removed) file
    # survives, and V0 stays readable
    assert sinks.vacuum_uncommitted(path) == 0
    snap0 = sinks.read_committed(spark, path, version=0)
    assert {r["v"] for r in snap0.collect()} == {"a"}


# ------------------------- anti_join_catalog: no forced broadcast


def test_anti_join_catalog_large_side_not_forced_broadcast(spark, sf_dir):
    """anti_join_catalog leaves the catalog side unhinted (VERDICT r11
    wrong #2): with auto-broadcast disabled, a large catalog plans as a
    NON-broadcast anti-join (the binding hint would have forced
    BroadcastHashJoin regardless and OOMed a grown catalog); with the
    default threshold a small catalog still broadcasts at runtime."""
    from kommunedata_data_pipeline_spark.operators.joins import (
        anti_join_catalog,
    )

    new_rows = spark.read.parquet(
        os.path.join(sf_dir, "orders.parquet")
    ).select(F.col("o_orderkey").alias("k"))
    catalog = spark.read.parquet(
        os.path.join(sf_dir, "lineitem.parquet")
    ).select(F.col("l_orderkey").alias("k"))
    out = anti_join_catalog(new_rows, catalog, ["k"])
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # a small catalog still broadcasts — chosen by Spark, not forced
    small = anti_join_catalog(
        new_rows, catalog.limit(10), ["k"]
    )
    plan_small = small._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan_small


# ------------------------- disjoint-commit concurrency (VERDICT #4)


def _count_stagings(monkeypatch, sinks):
    calls = {"n": 0}
    orig = sinks._stage_part_files

    def counted(frame, path, pcols):
        calls["n"] += 1
        return orig(frame, path, pcols)

    monkeypatch.setattr(sinks, "_stage_part_files", counted)
    return calls


def test_disjoint_writers_commit_without_restage(
    spark, tmp_path, monkeypatch
):
    """Two upserts with provably disjoint key ranges racing off the
    same base version BOTH land, one version apart, and the loser
    re-claims at the new head WITHOUT re-planning or re-staging
    (VERDICT r11 missing #2 — Delta/Iceberg-style write-write conflict
    detection)."""
    from kommunedata_data_pipeline_spark.sources import sinks

    path = str(tmp_path / "tbl")
    sinks.merge_upsert(
        spark.createDataFrame([(i, "base") for i in range(10)], "k int, v string"),
        path,
        ["k"],
    )  # v0
    hook_calls = {"a": 0}
    stagings = _count_stagings(monkeypatch, sinks)

    def hook(attempt):
        hook_calls["a"] += 1
        if hook_calls["a"] == 1:
            # writer B lands first, stealing A's version claim
            sinks.merge_upsert(
                spark.createDataFrame(
                    [(i, "B") for i in range(200, 210)], "k int, v string"
                ),
                path,
                ["k"],
            )

    before_stagings = stagings["n"]
    n = sinks.merge_upsert(
        spark.createDataFrame(
            [(i, "A") for i in range(100, 110)], "k int, v string"
        ),
        path,
        ["k"],
        _test_hook=hook,
    )
    assert n == 10
    # A planned/staged exactly once (no full retry), B staged once
    assert hook_calls["a"] == 1
    assert stagings["n"] - before_stagings == 2
    head, _ = sinks.committed_files(path)
    assert head == 2
    got = {
        r["k"]: r["v"]
        for r in sinks.read_committed(spark, path).collect()
    }
    assert len(got) == 30
    assert got[105] == "A" and got[205] == "B" and got[5] == "base"
    # the rebased commit carries its key ranges for FUTURE losers
    hist = sinks._commits_between(path, 1, 2)
    assert hist and hist[0].get("key_ranges", {}).get("k") == [100, 109]


def test_conflicting_writers_still_serialize(spark, tmp_path):
    """Overlapping key ranges: the loser takes the full-retry path
    (re-plans against the winner's snapshot) — duplicate keys lose the
    race instead of landing twice."""
    from kommunedata_data_pipeline_spark.sources import sinks

    path = str(tmp_path / "tbl")
    sinks.merge_upsert(
        spark.createDataFrame([(i, "base") for i in range(10)], "k int, v string"),
        path,
        ["k"],
    )
    hook_calls = {"a": 0}

    def hook(attempt):
        hook_calls["a"] += 1
        if hook_calls["a"] == 1:
            sinks.merge_upsert(
                spark.createDataFrame(
                    [(i, "B") for i in range(105, 115)], "k int, v string"
                ),
                path,
                ["k"],
            )

    sinks.merge_upsert(
        spark.createDataFrame(
            [(i, "A") for i in range(100, 110)], "k int, v string"
        ),
        path,
        ["k"],
        _test_hook=hook,
    )
    assert hook_calls["a"] == 2  # true conflict -> full retry
    got = {
        r["k"]: r["v"]
        for r in sinks.read_committed(spark, path).collect()
    }
    assert len(got) == 25  # 0-9, 100-114, each exactly once
    assert got[105] == "B"  # winner's value survives (B landed first)
    assert got[100] == "A"


def test_disjoint_update_rebase_and_cow_file_conflict(
    spark, tmp_path, monkeypatch
):
    """merge_update racing a disjoint-key update rebases without
    re-staging; but when the interleaved winner retired a file the
    loser also rewrites (CoW blast-radius overlap), the loser takes
    the full retry — its keep-old restage would resurrect the
    winner's rewrite otherwise."""
    from kommunedata_data_pipeline_spark.sources import sinks

    path = str(tmp_path / "tbl")
    # two partitions -> two files: p=1 holds k 0-4, p=2 holds k 10-14
    df = spark.createDataFrame(
        [(k, 1, "x") for k in range(5)]
        + [(k, 2, "x") for k in range(10, 15)],
        "k int, p int, v string",
    )
    sinks.merge_upsert(df, path, ["k"], partition_cols=["p"])
    hook_calls = {"n": 0}

    def hook(attempt):
        hook_calls["n"] += 1
        if hook_calls["n"] == 1:
            sinks.merge_update(
                spark.createDataFrame(
                    [(12, 2, "B")], "k int, p int, v string"
                ),
                path,
                ["k"],
                partition_cols=["p"],
            )

    # disjoint keys, disjoint files (different partitions): rebase
    n_upd, n_ins = sinks.merge_update(
        spark.createDataFrame([(2, 1, "A")], "k int, p int, v string"),
        path,
        ["k"],
        partition_cols=["p"],
        _test_hook=hook,
    )
    assert (n_upd, n_ins) == (1, 0)
    assert hook_calls["n"] == 1  # no full retry
    got = {
        r["k"]: r["v"]
        for r in sinks.read_committed(spark, path).collect()
    }
    assert got[2] == "A" and got[12] == "B" and got[0] == "x"

    # same-file conflict: disjoint keys but SAME physical file — the
    # winner retires the file the loser also rewrites -> full retry.
    # Staging fans each partition dir out over several part files, so
    # pick two keys PROVEN co-located in one file instead of assuming
    # a partition is one file.
    by_file = (
        sinks.read_committed(spark, path)
        .withColumn("__f", F.input_file_name())
        .groupBy("__f")
        .agg(F.collect_list("k").alias("ks"))
        .where(F.size("ks") >= 2)
        .first()
    )
    assert by_file is not None, "fixture needs a 2-key file"
    k_win, k_lose = sorted(by_file["ks"])[:2]
    p_of = {
        r["k"]: r["p"]
        for r in sinks.read_committed(spark, path).collect()
    }
    hook2 = {"n": 0}

    def hook_same_file(attempt):
        hook2["n"] += 1
        if hook2["n"] == 1:
            sinks.merge_update(
                spark.createDataFrame(
                    [(k_win, p_of[k_win], "C")], "k int, p int, v string"
                ),
                path,
                ["k"],
                partition_cols=["p"],
            )

    sinks.merge_update(
        spark.createDataFrame(
            [(k_lose, p_of[k_lose], "D")], "k int, p int, v string"
        ),
        path,
        ["k"],
        partition_cols=["p"],
        _test_hook=hook_same_file,
    )
    assert hook2["n"] == 2  # file overlap forced the full retry
    got = {
        r["k"]: r["v"]
        for r in sinks.read_committed(spark, path).collect()
    }
    assert got[k_win] == "C" and got[k_lose] == "D" and got[2] == "A"
    assert len(got) == 10  # no resurrected/duplicated rows


# ------------------------- schema evolution (VERDICT #5)


def test_schema_evolution_add_and_widen(spark, tmp_path):
    """Add-column + lossless type widening through merge_upsert
    (merge_schema=True): HEAD reads the union schema (old files
    null-fill, int files read as long in place), time travel to V0
    reads the ORIGINAL schema, strict mode raises, incompatible
    evolutions always raise."""
    from kommunedata_data_pipeline_spark.sources import sinks

    path = str(tmp_path / "tbl")
    sinks.merge_upsert(
        spark.createDataFrame([(1, 10), (2, 20)], "k int, v int"),
        path,
        ["k"],
    )
    with pytest.raises(ValueError, match="merge_schema"):
        sinks.merge_upsert(
            spark.createDataFrame(
                [(3, 2**40, "x")], "k int, v long, tag string"
            ),
            path,
            ["k"],
        )
    sinks.merge_upsert(
        spark.createDataFrame(
            [(3, 2**40, "x")], "k int, v long, tag string"
        ),
        path,
        ["k"],
        merge_schema=True,
    )
    head = sinks.read_committed(spark, path)
    types = {f.name: f.dataType.simpleString() for f in head.schema.fields}
    assert types == {"k": "int", "v": "bigint", "tag": "string"}
    got = sorted((r.k, r.v, r.tag) for r in head.collect())
    assert got == [(1, 10, None), (2, 20, None), (3, 2**40, "x")]
    v0 = sinks.read_committed(spark, path, version=0)
    assert [f.name for f in v0.schema.fields] == ["k", "v"]
    assert v0.schema["v"].dataType.simpleString() == "int"
    assert sorted((r.k, r.v) for r in v0.collect()) == [(1, 10), (2, 20)]
    with pytest.raises(ValueError, match="incompatible"):
        sinks.merge_upsert(
            spark.createDataFrame(
                [(4, "oops", "y")], "k int, v string, tag string"
            ),
            path,
            ["k"],
            merge_schema=True,
        )


def test_schema_evolution_optimize_rewrites_latest(spark, tmp_path):
    """OPTIMIZE rewrites every file at the LATEST schema: after it, all
    physical files carry the evolved columns (pre-evolution parquet is
    gone from the manifest), and reads stay identical."""
    import pyarrow.parquet as pq
    from kommunedata_data_pipeline_spark.sources import sinks

    path = str(tmp_path / "tbl")
    sinks.merge_upsert(
        spark.createDataFrame([(1, 10)], "k int, v int"), path, ["k"]
    )
    sinks.merge_upsert(
        spark.createDataFrame([(2, 2**40, "x")], "k int, v long, tag string"),
        path,
        ["k"],
        merge_schema=True,
    )
    before = sorted(
        (r.k, r.v, r.tag)
        for r in sinks.read_committed(spark, path).collect()
    )
    sinks.optimize_table(spark, path, target_file_bytes=1 << 20)
    _, files = sinks.committed_files(path)
    for rel in files:
        sch = pq.read_schema(os.path.join(path, rel))
        assert set(sch.names) >= {"k", "v", "tag"}
        assert str(sch.field("v").type) == "int64"
    after = sorted(
        (r.k, r.v, r.tag)
        for r in sinks.read_committed(spark, path).collect()
    )
    assert after == before


def test_schema_change_conflicts_with_concurrent_writer(
    spark, tmp_path
):
    """A schema-evolving winner forces every concurrent loser to the
    full-retry path (metadata change conflicts with everything, the
    Delta/Iceberg convention) — no rebase may land files planned
    against the old schema."""
    from kommunedata_data_pipeline_spark.sources import sinks

    path = str(tmp_path / "tbl")
    sinks.merge_upsert(
        spark.createDataFrame([(1, 10)], "k int, v int"), path, ["k"]
    )
    hook_calls = {"n": 0}

    def hook(attempt):
        hook_calls["n"] += 1
        if hook_calls["n"] == 1:
            sinks.merge_upsert(
                spark.createDataFrame(
                    [(50, 5, "w")], "k int, v int, tag string"
                ),
                path,
                ["k"],
                merge_schema=True,
            )

    # disjoint keys, but the winner evolved the schema -> full retry
    sinks.merge_upsert(
        spark.createDataFrame([(100, 7)], "k int, v int"),
        path,
        ["k"],
        _test_hook=hook,
    )
    assert hook_calls["n"] == 2
    head = sinks.read_committed(spark, path)
    got = {r.k: (r.v, r.tag) for r in head.collect()}
    assert got == {1: (10, None), 50: (5, "w"), 100: (7, None)}


# ------------------------- deletion vectors (VERDICT #6)


def test_dv_delete_merge_on_read(spark, tmp_path):
    """merge_delete(mode='dv'): rows invisible at HEAD, visible at
    V-1, DATA FILE BYTES UNCHANGED (merge-on-read), replay a no-op,
    OPTIMIZE rewrites without the dead rows and drops the vectors."""
    import glob
    import json
    from kommunedata_data_pipeline_spark.sources import sinks

    path = str(tmp_path / "tbl")
    sinks.merge_upsert(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(20)], "k int, v string"
        ),
        path,
        ["k"],
    )
    _, files_before = sinks.committed_files(path)
    bytes_before = {
        rel: os.path.getsize(os.path.join(path, rel))
        for rel in files_before
    }
    n = sinks.merge_delete(
        spark.createDataFrame([(5,), (7,)], "k int"),
        path,
        ["k"],
        mode="dv",
    )
    assert n == 2
    head = sinks.read_committed(spark, path)
    assert sorted(r.k for r in head.collect()) == [
        k for k in range(20) if k not in (5, 7)
    ]
    # time travel: pre-delete rows visible
    v0 = sinks.read_committed(spark, path, version=0)
    assert v0.count() == 20
    # data files untouched byte-for-byte
    _, files_after = sinks.committed_files(path)
    assert sorted(files_after) == sorted(files_before)
    for rel, b in bytes_before.items():
        assert os.path.getsize(os.path.join(path, rel)) == b
    # the commit is dv_added-only
    logd = os.path.join(path, "_kdp_log")
    rec = json.load(open(sorted(glob.glob(logd + "/0*.json"))[-1]))
    assert rec["added"] == [] and rec.get("dv_added")
    # replay no-op (dv-marked rows invisible to the planning read)
    assert (
        sinks.merge_delete(
            spark.createDataFrame([(5,)], "k int"), path, ["k"], mode="dv"
        )
        == 0
    )
    # a dv-deleted key can be re-upserted (first-write-wins respects dv)
    assert (
        sinks.merge_upsert(
            spark.createDataFrame([(5, "back")], "k int, v string"),
            path,
            ["k"],
        )
        == 1
    )
    # OPTIMIZE folds files, drops vectors, keeps rows identical
    rows_pre = sorted(
        (r.k, r.v) for r in sinks.read_committed(spark, path).collect()
    )
    sinks.optimize_table(spark, path, target_file_bytes=1 << 20)
    assert (
        sorted(
            (r.k, r.v)
            for r in sinks.read_committed(spark, path).collect()
        )
        == rows_pre
    )
    from kommunedata_data_pipeline_spark.sources.sinks import _resolve_log

    dv = _resolve_log(path).dv
    assert dv == {}


def test_dv_vacuum_keeps_live_sidecars(spark, tmp_path):
    """vacuum: live DV sidecars always survive; after OPTIMIZE retires
    their data files they age from the RETIRING commit's ts (not
    sidecar mtime), exactly like retired data files."""
    from kommunedata_data_pipeline_spark.sources import sinks

    path = str(tmp_path / "tbl")
    sinks.merge_upsert(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(10)], "k int, v string"
        ),
        path,
        ["k"],
    )
    sinks.merge_delete(
        spark.createDataFrame([(3,)], "k int"), path, ["k"], mode="dv"
    )
    dv_dir = os.path.join(path, "_kdp_dv")
    sidecars = os.listdir(dv_dir)
    assert len(sidecars) == 1
    # retention 0 must NOT touch the live sidecar
    sinks.vacuum_uncommitted(path, retention_seconds=0)
    assert os.listdir(dv_dir) == sidecars
    assert sorted(
        r.k for r in sinks.read_committed(spark, path).collect()
    ) == [k for k in range(10) if k != 3]
    # OPTIMIZE retires the data files -> sidecar is dead but YOUNG by
    # retirement time: a 1h retention keeps it (time travel window)
    sinks.optimize_table(spark, path, target_file_bytes=1 << 20)
    sinks.vacuum_uncommitted(path, retention_seconds=3600)
    assert os.listdir(dv_dir) == sidecars
    # eager sweep (retention 0): dead sidecar collected
    sinks.vacuum_uncommitted(path, retention_seconds=0)
    assert os.listdir(dv_dir) == []


def test_dv_cost_is_delete_sized_on_scattered_layout(spark, tmp_path):
    """The point of DVs: on a layout where the delete keys scatter
    across every file, CoW rewrites ~all table bytes while DV writes
    only a delete-sized sidecar. Measured here by bytes written."""
    from kommunedata_data_pipeline_spark.sources import sinks

    # keys striped so each of the 8 files holds one of the delete keys;
    # payloads sized so per-file parquet overhead is NOT the story
    df = (
        spark.range(8000)
        .selectExpr(
            "cast(id as int) as k",
            "repeat(uuid(), 4) as v",
        )
        .repartition(8)
    )
    path_cow = str(tmp_path / "cow")
    path_dv = str(tmp_path / "dv")
    for p in (path_cow, path_dv):
        sinks.merge_upsert(df, p, ["k"])
    dels = spark.createDataFrame(
        [(i,) for i in range(0, 8000, 1000)], "k int"
    )

    def table_bytes(p):
        return sum(
            os.path.getsize(os.path.join(r, f))
            for r, _d, fs in os.walk(p)
            for f in fs
            if f.endswith(".parquet")
        )

    b0_cow, b0_dv = table_bytes(path_cow), table_bytes(path_dv)
    assert sinks.merge_delete(dels, path_cow, ["k"]) == 8
    assert sinks.merge_delete(dels, path_dv, ["k"], mode="dv") == 8
    cow_written = table_bytes(path_cow) - b0_cow
    dv_written = table_bytes(path_dv) - b0_dv
    # same visible rows either way
    assert (
        sorted(r.k for r in sinks.read_committed(spark, path_cow).collect())
        == sorted(r.k for r in sinks.read_committed(spark, path_dv).collect())
    )
    # DV wrote an order of magnitude less than the scattered CoW
    assert dv_written * 5 < cow_written


# ------------------------- CDC / incremental reads (VERDICT #7)


def test_read_changes_reconciles_with_snapshot_diff(spark, tmp_path):
    """The change stream between two versions replays an old snapshot
    into the new one exactly, matches snapshot_diff's verdicts, CoW
    keep-old restages cancel out, OPTIMIZE emits ZERO changes, and DV
    deletes appear once."""
    from kommunedata_data_pipeline_spark.operators.relational import (
        snapshot_diff,
    )
    from kommunedata_data_pipeline_spark.sources import sinks

    path = str(tmp_path / "tbl")
    sinks.merge_upsert(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(10)], "k int, v string"
        ),
        path,
        ["k"],
    )  # v0
    sinks.merge_update(
        spark.createDataFrame([(3, "V3"), (11, "v11")], "k int, v string"),
        path,
        ["k"],
    )  # v1: update + insert
    sinks.merge_delete(
        spark.createDataFrame([(7,)], "k int"), path, ["k"]
    )  # v2: cow delete
    sinks.merge_delete(
        spark.createDataFrame([(9,)], "k int"), path, ["k"], mode="dv"
    )  # v3: dv delete
    sinks.optimize_table(spark, path, target_file_bytes=1 << 20)  # v4

    ch = sinks.read_changes(spark, path, 0)
    rows = [(r._commit_version, r._change_type, r.k, r.v) for r in ch.collect()]
    assert sorted(rows) == [
        (1, "delete", 3, "v3"),
        (1, "insert", 3, "V3"),
        (1, "insert", 11, "v11"),
        (2, "delete", 7, "v7"),
        (3, "delete", 9, "v9"),
    ]
    # replay v0 + changes == head
    state = {
        r.k: r.v
        for r in sinks.read_committed(spark, path, version=0).collect()
    }
    for v, kind, k, val in sorted(
        rows, key=lambda t: (t[0], 0 if t[1] == "delete" else 1)
    ):
        if kind == "delete":
            assert state.pop(k) == val
        else:
            state[k] = val
    head = {
        r.k: r.v for r in sinks.read_committed(spark, path).collect()
    }
    assert state == head
    # snapshot_diff oracle: net per-key statuses agree
    old = sinks.read_committed(spark, path, version=0).withColumn(
        "h", F.md5(F.col("v"))
    )
    new = sinks.read_committed(spark, path).withColumn(
        "h", F.md5(F.col("v"))
    )
    diff = {
        r.k: r.status
        for r in snapshot_diff(old, new, "k", "h").collect()
        if r.status != "unchanged"
    }
    assert diff == {3: "changed", 7: "removed", 9: "removed", 11: "added"}
    # empty range and beyond-HEAD
    assert sinks.read_changes(spark, path, 4) is None
    with pytest.raises(ValueError, match="exceeds HEAD"):
        sinks.read_changes(spark, path, 0, to_version=99)


# ------------------------- incremental OPTIMIZE (r12)


def test_incremental_optimize_small_files_only(spark, tmp_path):
    """optimize_table(incremental=True) folds ONLY sub-threshold files:
    right-sized files keep their bytes and manifest entries (the blast
    radius a 100 TB table can afford), rows stay identical, picked
    files' deletion vectors are applied in the rewrite while an
    untouched file's vector survives and still filters, and a second
    pass no-ops."""
    from kommunedata_data_pipeline_spark.sources import sinks
    from kommunedata_data_pipeline_spark.sources.sinks import _resolve_log

    path = str(tmp_path / "tbl")
    big = (
        spark.range(20000)
        .selectExpr("cast(id as int) as k", "repeat(uuid(),3) as v")
        .coalesce(1)
    )
    sinks.merge_upsert(big, path, ["k"])
    for i in range(6):
        sinks.merge_upsert(
            spark.createDataFrame([(100000 + i, "s")], "k int, v string"),
            path,
            ["k"],
        )
    # one dv row in a small (picked) file, one in the big (kept) file
    sinks.merge_delete(
        spark.createDataFrame([(100002,), (17,)], "k int"),
        path,
        ["k"],
        mode="dv",
    )
    _, files = sinks.committed_files(path)
    sizes = {
        rel: os.path.getsize(os.path.join(path, rel)) for rel in files
    }
    big_files = {r for r, s in sizes.items() if s > 100_000}
    assert big_files and len(files) > len(big_files) + 1
    pre = sorted(
        (r.k, r.v) for r in sinks.read_committed(spark, path).collect()
    )
    b, a = sinks.optimize_table(
        spark,
        path,
        target_file_bytes=1 << 20,
        incremental=True,
        small_file_bytes=100_000,
    )
    assert b == len(files) and a == len(big_files) + 1
    _, files2 = sinks.committed_files(path)
    assert big_files <= set(files2)  # untouched, byte-identical entries
    post = sorted(
        (r.k, r.v) for r in sinks.read_committed(spark, path).collect()
    )
    assert post == pre
    dv = _resolve_log(path).dv
    assert set(dv) == big_files  # picked files' vectors dropped
    # convergence: second pass has nothing to fold
    assert sinks.optimize_table(
        spark,
        path,
        target_file_bytes=1 << 20,
        incremental=True,
        small_file_bytes=100_000,
    ) == (a, a)


def test_checkpoint_carries_schema_and_dv(spark, tmp_path):
    """Resolution from a checkpoint manifest (every CHECKPOINT_INTERVAL
    commits) must reproduce schema and live deletion vectors exactly —
    a checkpoint that recorded only the file list would silently shed
    the evolved schema and resurrect dv-deleted rows for any reader
    that starts from it."""
    import glob
    from kommunedata_data_pipeline_spark.sources import sinks

    path = str(tmp_path / "tbl")
    # commit 0: base; commit 1: evolve (+tag col); commit 2: dv delete;
    # commits 3..10+: enough upserts to cross the checkpoint interval
    sinks.merge_upsert(
        spark.createDataFrame([(i, i) for i in range(10)], "k int, v int"),
        path,
        ["k"],
    )
    sinks.merge_upsert(
        spark.createDataFrame([(100, 2**40, "x")], "k int, v long, tag string"),
        path,
        ["k"],
        merge_schema=True,
    )
    sinks.merge_delete(
        spark.createDataFrame([(3,)], "k int"), path, ["k"], mode="dv"
    )
    for i in range(sinks.CHECKPOINT_INTERVAL + 2):
        sinks.merge_upsert(
            spark.createDataFrame([(200 + i, 1, "y")], "k int, v long, tag string"),
            path,
            ["k"],
        )
    ckpts = glob.glob(os.path.join(path, "_kdp_log", "checkpoint-*.json"))
    assert ckpts, "interval crossed but no checkpoint written"
    ck = json.load(open(sorted(ckpts)[-1]))
    assert ck.get("schema") is not None and ck.get("dv")
    # wipe the pre-checkpoint commit files a reader would otherwise
    # walk: resolution must come FROM the checkpoint alone
    ck_v = ck["version"]
    for f in glob.glob(os.path.join(path, "_kdp_log", "0*.json")):
        if int(os.path.basename(f)[:-5]) <= ck_v:
            os.remove(f)
    head = sinks.read_committed(spark, path)
    types = {f.name: f.dataType.simpleString() for f in head.schema.fields}
    assert types == {"k": "int", "v": "bigint", "tag": "string"}
    ks = {r.k for r in head.collect()}
    assert 3 not in ks and 100 in ks and 205 in ks and 0 in ks
