"""Zone manifests (`sources.zones`): every entry is the file's own
parquet footer range, the pruned-read skip rule built on it, and the
ingest paths that keep the manifests of their stores current."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from kommunedata_data_pipeline_spark.sources import zones as Z
from kommunedata_data_pipeline_spark.sources.zones import (
    list_parquet_files,
    load_zones,
    select_pruned_files,
    update_zones,
)
from kommunedata_data_pipeline_spark.streaming import ingest


def _spark_ranges(spark, path, cols):
    """Reference zone entry of one file: Spark's own min/max per column."""
    r = spark.read.parquet(path).agg(
        *[F.min(c).alias(f"lo_{c}") for c in cols],
        *[F.max(c).alias(f"hi_{c}") for c in cols],
    ).first()
    return {c: [r[f"lo_{c}"], r[f"hi_{c}"]] for c in cols}


def test_zone_manifest_update_and_prune(spark, tmp_path):
    """update_zones records per-file min/max; select_pruned_files skips
    exactly the files whose range cannot intersect the probe, always
    keeps unmanifested files, and always skips zero-row files."""
    t = str(tmp_path / "t")
    spark.range(0, 100).withColumnRenamed("id", "k").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{t}/ver=0")
    spark.range(1000, 1100).withColumnRenamed("id", "k").coalesce(
        1
    ).write.mode("append").parquet(f"{t}/ver=1")
    zones = update_zones(t, ["k"])
    assert len(zones) >= 2
    lows = sorted(v["k"][0] for v in zones.values())
    assert lows == [0, 1000]
    # range probe hitting only the first file
    sel = select_pruned_files(t, {"k": ("range", 50, 60)})
    assert len(sel) == 1 and "ver=0" in sel[0]
    # set probe hitting only the second
    sel = select_pruned_files(t, {"k": ("set", [1005, 1050])})
    assert len(sel) == 1 and "ver=1" in sel[0]
    # probe hitting neither
    assert select_pruned_files(t, {"k": ("range", 500, 600)}) == []
    # an UNMANIFESTED new file is always read (crash-lag soundness)
    spark.range(5000, 5100).withColumnRenamed("id", "k").coalesce(
        1
    ).write.mode("append").parquet(f"{t}/ver=2")
    sel = select_pruned_files(t, {"k": ("range", 50, 60)})
    assert len(sel) == 2  # ver=0 match + conservative ver=2
    # zero-row file: recorded with a null range, skipped by every probe
    spark.range(0, 0).withColumnRenamed("id", "k").coalesce(
        1
    ).write.mode("append").parquet(f"{t}/ver=3")
    update_zones(t, ["k"])
    sel = select_pruned_files(t, {"k": ("range", 0, 10_000_000)})
    assert not any("ver=3" in s for s in sel)
    # vanished files drop out of the manifest on the next update
    shutil.rmtree(f"{t}/ver=1")
    zones = update_zones(t, ["k"])
    assert not any("ver=1" in k for k in zones)
    # nonexistent table
    assert select_pruned_files(str(tmp_path / "nope"), {"k": ("range", 0, 1)}) is None


def test_zone_string_keys_and_multi_column(spark, tmp_path):
    """String (md5-hex-like) zone keys prune lexicographically; multiple
    probe columns AND together (skip if ANY proves a miss)."""
    t = str(tmp_path / "t")
    spark.createDataFrame(
        [("aa", 1), ("bb", 2)], "bkey string, doc_id bigint"
    ).coalesce(1).write.mode("overwrite").parquet(f"{t}/ver=0")
    spark.createDataFrame(
        [("xx", 100), ("zz", 200)], "bkey string, doc_id bigint"
    ).coalesce(1).write.mode("append").parquet(f"{t}/ver=1")
    update_zones(t, ["bkey", "doc_id"])
    sel = select_pruned_files(t, {"bkey": ("set", ["ab", "ba"])})
    assert len(sel) == 1 and "ver=0" in sel[0]
    # bkey matches ver=1 but doc_id range excludes it -> skipped
    sel = select_pruned_files(
        t, {"bkey": ("set", ["yy"]), "doc_id": ("range", 0, 50)}
    )
    assert sel == []
    sel = select_pruned_files(
        t, {"bkey": ("set", ["xx"]), "doc_id": ("range", 90, 110)}
    )
    assert len(sel) == 1 and "ver=1" in sel[0]


def test_update_zones_gives_each_file_its_own_footer_range(spark, tmp_path):
    """A file some other writer left unmanifested gets ITS OWN footer
    range when the next writer updates the manifest — never the range
    of the batch that triggered the update — so probing keys that file
    holds still selects it."""
    t = str(tmp_path / "store")

    def write(lo, sub):
        spark.createDataFrame(
            [(i,) for i in range(lo, lo + 10)], "k bigint"
        ).coalesce(1).write.mode("overwrite").parquet(f"{t}/{sub}")
        return [f for f in list_parquet_files(t) if f.startswith(sub)]

    first = write(0, "a")
    update_zones(t, ["k"])
    other = write(100, "b")  # left behind without a manifest update
    mine = write(50, "c")
    zones = update_zones(t, ["k"])
    assert set(zones) == set(first + other + mine)
    assert all(zones[f] == {"k": [0, 9]} for f in first)
    assert all(zones[f] == {"k": [100, 109]} for f in other)
    assert all(zones[f] == {"k": [50, 59]} for f in mine)
    sel = select_pruned_files(t, {"k": ("range", 105, 106)})
    assert {os.path.relpath(p, t) for p in sel} == set(other)
    rows = spark.read.parquet(
        *select_pruned_files(t, {"k": ("set", [100, 108])})
    ).collect()
    assert {r["k"] for r in rows} >= {100, 108}


def test_compaction_installs_manifest_atomically_with_swap(spark, tmp_path):
    """compact_index writes the rebuilt _zones.json INTO the staged dir
    before the swap: immediately after compaction the base is fully
    manifested. With the manifest deliberately removed, the next append
    records the base files with their own footer ranges, not the new
    batch's narrow range, and a probe for base keys still reads them."""
    t = str(tmp_path / "band")
    cols = ["doc_id", "bkey"]
    for lo in (0, 200):
        ingest._append_delta(
            spark.createDataFrame(
                [(i, [i], 0, f"b{i}") for i in range(lo, lo + 50)],
                ingest._BAND_SCHEMA,
            ),
            t,
            zone_cols=cols,
        )
    ingest.compact_band_index(spark, t)
    zones = load_zones(t)
    files = list_parquet_files(t)
    # every base file is manifested the instant the swap lands
    assert files and set(zones) == set(files)
    # simulate a crash window: manifest gone
    os.remove(os.path.join(t, "_zones.json"))
    ingest._append_delta(
        spark.createDataFrame(
            [(500, [500], 0, "b500")], ingest._BAND_SCHEMA
        ),
        t,
        zone_cols=cols,
    )
    zones = load_zones(t)
    base_files = [f for f in list_parquet_files(t) if f.startswith("ver=0")]
    assert base_files
    for f in base_files:
        assert zones[f] == _spark_ranges(spark, os.path.join(t, f), cols)
    sel = select_pruned_files(t, {"doc_id": ("range", 0, 10)})
    rows = spark.read.parquet(*sel).where(F.col("doc_id") <= 10).collect()
    assert {r["doc_id"] for r in rows} == set(range(11))


def test_landing_append_records_each_files_footer_range(spark, tmp_path):
    """A landing whose manifest update was lost (crash between the
    append and the manifest write) is recorded by the next batch's
    update with its own footer id range, not the later batch's — so a
    replay of the crashed batch still finds its landed ids and lands
    zero extra rows."""
    base = str(tmp_path / "ing")
    out, idx = f"{base}/landed", f"{base}/idx"

    def land(rows, ck):
        src = f"{base}/src_{ck}"
        spark.createDataFrame(rows, "doc_id bigint, text string").write.mode(
            "overwrite"
        ).parquet(src)
        stream = spark.readStream.schema("doc_id bigint, text string").parquet(src)
        ingest.run_writer_available_now(
            ingest.minhash_dedup_ingest(stream, idx, out), f"{base}/ck_{ck}"
        )

    land([(i, f"unique text number {i} " * 5) for i in (1, 2, 3)], "b1")
    os.remove(os.path.join(out, "_zones.json"))
    first_files = set(list_parquet_files(out))
    land([(i, f"other fresh text {i} " * 5) for i in (100, 101)], "b2")
    zones = load_zones(out)
    for f in first_files:
        got = zones[f]["doc_id"]
        assert got == _spark_ranges(spark, os.path.join(out, f), ["doc_id"])["doc_id"]
        assert 1 <= got[0] <= got[1] <= 3
    # probing batch 1's id range still reads its files
    sel = select_pruned_files(out, {"doc_id": ("range", 1, 3)})
    rels = {os.path.relpath(p, out) for p in sel}
    assert first_files <= rels
    # and a replay of batch 1 lands zero extra rows
    land([(i, f"unique text number {i} " * 5) for i in (1, 2, 3)], "b1r")
    got = spark.read.parquet(out).groupBy("doc_id").count().collect()
    assert all(r["count"] == 1 for r in got)
    assert {r["doc_id"] for r in got} == {1, 2, 3, 100, 101}


def test_manifest_matches_spark_min_max_on_compacted_band_store(
    spark, tmp_path, monkeypatch
):
    """On a compacted, range-partitioned band store every manifest entry
    equals a Spark min/max of that file — string bkey and bigint
    doc_id."""
    t = str(tmp_path / "band")
    for lo in (0, 150, 300):
        ingest._append_delta(
            spark.range(lo, lo + 150).select(
                F.col("id").alias("doc_id"),
                F.array(F.col("id")).alias("sig"),
                (F.col("id") % 4).cast("int").alias("band"),
                F.md5(F.col("id").cast("string")).alias("bkey"),
            ),
            t,
            zone_cols=["bkey", "doc_id"],
        )
    monkeypatch.setattr(ingest, "COMPACT_TARGET_FILE_BYTES", 4 * 1024)
    ingest.compact_band_index(spark, t)
    zones = load_zones(t)
    files = list_parquet_files(t)
    assert len(files) >= 4 and set(zones) == set(files)
    for f in files:
        assert zones[f] == _spark_ranges(
            spark, os.path.join(t, f), ["bkey", "doc_id"]
        ), f


def test_zero_row_and_statistics_free_files(spark, tmp_path):
    """A zero-row file is recorded as [None, None] and skipped by every
    probe; a file written without column statistics gets no entry for
    the column and is read by every probe."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = str(tmp_path / "t")
    spark.range(0, 100).withColumnRenamed("id", "k").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{t}/ver=0")
    spark.range(0, 0).withColumnRenamed("id", "k").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{t}/ver=1")
    os.makedirs(f"{t}/ver=2")
    pq.write_table(
        pa.table({"k": pa.array(range(1000, 1100), pa.int64())}),
        f"{t}/ver=2/nostats.parquet",
        write_statistics=False,
    )
    zones = update_zones(t, ["k"])
    (empty,) = [f for f in zones if f.startswith("ver=1")]
    assert zones[empty] == {"k": [None, None]}
    assert "k" not in zones["ver=2/nostats.parquet"]
    Z.READ_LOG = []
    try:
        sel = select_pruned_files(t, {"k": ("range", 0, 10_000_000)})
        assert {os.path.relpath(p, t).split("/")[0] for p in sel} == {
            "ver=0",
            "ver=2",
        }
        sel = select_pruned_files(t, {"k": ("set", [5000])})
        assert [os.path.relpath(p, t) for p in sel] == [
            "ver=2/nostats.parquet"
        ]
        assert [(e["selected_files"], e["total_files"]) for e in Z.READ_LOG] == [
            (2, 3),
            (1, 3),
        ]
    finally:
        Z.READ_LOG = None
