#!/usr/bin/env python
"""Measure per-batch store READ volume for the incremental-ingest
family (VERDICT r10 #1 'done' criterion): preload stores of two sizes,
compact (range-partitioned + zone manifests), then ingest ONE fixed
small batch with `sources.zones.READ_LOG` recording how many store
bytes each pruned read actually opened.

Claim under test: bytes-opened-per-batch is bounded by the BATCH's
probe keys (<= B base files of ~target size), NOT by the store — so
the absolute bytes stay ~flat while the store grows, and the opened
FRACTION drops ~linearly with store size. The gram store's documented
amortization point is measured too (batch gram count vs base file
count decides whether pruning can bite).

Usage: python scripts/ingest_read_volume.py  (sf0.1 documents; prints
markdown rows for SCALING.md)
"""

from __future__ import annotations

import glob
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
BATCH = 16  # docs in the measured fresh batch (the tiny-batch contract shape)
TARGET = 16 * 1024  # compaction target file bytes (toy-scale stand-in for 128 MB)


def expand(docs, n_rows):
    """Structure-preserving growth beyond the sf corpus (5000 docs at
    sf0.1): k id-offset copies with shingle-breaking text prefixes, so
    copies are NOT near-dups of their originals and the store grows
    ~linearly with n_rows."""
    k = -(-n_rows // 5000)
    out = None
    for i in range(k):
        part = docs.select(
            (F.col("doc_id") + i * 5000).alias("doc_id"),
            F.concat(F.lit(f"c{i} v"), F.col("text")).alias("text"),
        )
        out = part if out is None else out.union(part)
    return out.where(F.col("doc_id") < n_rows)


def stage_slice(df, lo, hi, dest):
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    part = dest + "__p"
    df.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)).coalesce(
        1
    ).write.mode("overwrite").parquet(part)
    src = glob.glob(f"{part}/part-*.parquet")[0]
    os.rename(src, dest)
    shutil.rmtree(part, ignore_errors=True)


def run_family(spark, docs, family, preload_docs):
    from kommunedata_data_pipeline_spark.sources import zones as Z
    from kommunedata_data_pipeline_spark.streaming import ingest as ing

    base = tempfile.mkdtemp(
        prefix=f"kdp-readvol-{family}-",
        dir="/dev/shm" if os.path.isdir("/dev/shm") else None,
    )
    try:
        grown = expand(docs, preload_docs + BATCH)
        stage_slice(grown, 0, preload_docs, f"{base}/stage/b0.parquet")

        def drive():
            stream = (
                spark.readStream.schema("doc_id bigint, text string")
                .option("maxFilesPerTrigger", "1")
                .parquet(f"{base}/stage")
            )
            if family == "minhash":
                w = ing.minhash_dedup_ingest(
                    stream, f"{base}/idx", f"{base}/landed"
                )
            else:
                w = ing.substring_dedup_ingest(
                    stream, f"{base}/idx", f"{base}/landed"
                )
            ing.run_writer_available_now(w, f"{base}/ckpt")

        drive()
        if family == "minhash":
            ing.BAND_STORES["doc_id"].compact(spark, f"{base}/idx", TARGET)
            ing.id_store("doc_id").compact(spark, f"{base}/idx_ids", TARGET)
        else:
            ing.GRAM_STORE.compact(spark, f"{base}/idx", TARGET)
        stage_slice(
            grown, preload_docs, preload_docs + BATCH,
            f"{base}/stage/b1.parquet",
        )
        Z.READ_LOG = []
        try:
            drive()
            per_label = {}
            for e in Z.READ_LOG:
                lbl = os.path.basename(e["label"])
                agg = per_label.setdefault(
                    lbl, {"sel_b": 0, "tot_b": 0, "sel_f": 0, "tot_f": 0}
                )
                agg["sel_b"] += e["selected_bytes"]
                agg["tot_b"] = max(agg["tot_b"], e["total_bytes"])
                agg["sel_f"] += e["selected_files"]
                agg["tot_f"] = max(agg["tot_f"], e["total_files"])
        finally:
            Z.READ_LOG = None
        return per_label
    finally:
        shutil.rmtree(base, ignore_errors=True)


def main() -> None:
    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
        )
        .appName("ingest-read-volume")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    families = sys.argv[1:] or ["minhash", "substring"]
    print(
        f"| family | store preload | store | bytes opened by one "
        f"{BATCH}-doc batch (files) | fraction |"
    )
    print("|---|---|---|---|---|", flush=True)
    for family in families:
        # the gram store's pruning-can't-bite point is visible by 4x
        # (batch grams >> base files); the 12x tier only pays minutes
        # of gram-pass preload for the same conclusion
        tiers = (
            ((4000, "1x"), (16000, "4x"))
            if family == "substring"
            else ((4000, "1x"), (16000, "4x"), (48000, "12x"))
        )
        for preload, label in tiers:
            res = run_family(spark, docs, family, preload)
            for lbl in sorted(res):
                r = res[lbl]
                frac = r["sel_b"] / max(r["tot_b"], 1)
                print(
                    f"| {family} | {label} ({preload} docs) | {lbl} | "
                    f"{r['sel_b']:,} of {r['tot_b']:,} "
                    f"({r['sel_f']}/{r['tot_f']} files) | {frac:.3f} |",
                    flush=True,
                )


if __name__ == "__main__":
    main()
