"""Batch sources: the declared star-table reads, JSONL/ORC connectors
and binary blobs.

Every source is a declarative `spark.read` so Catalyst gets pushdown,
pruning, and partition discovery for free. The reference's config CSV
(scraper.py:278-298) and URL-list file (get_start_url.py:24-34),
SURVEY §2.1 S1/S2, have no reader here: no query or test reads them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import STAR_SCHEMAS, STAR_TABLES

def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan of one star-schema table. Parquet → predicate pushdown
    + column pruning happen in the scan node (check `PushedFilters` in
    `.explain("formatted")`).

    The read takes the table's declared schema (`schemas.STAR_SCHEMAS`)
    instead of inferring one: a schema-less ``spark.read.parquet`` runs
    a footer-reading Spark job on every call, i.e. once per table per
    query build. A file whose types disagree with the declaration fails
    its scan naming the column; nothing is re-typed silently.

    events.ts is stored as TIMESTAMP(MICROS) without timezone
    (TIMESTAMP_NTZ) and is cast to session-zone TIMESTAMP here, so every
    downstream epoch/window expression sees ONE type; the session pins
    UTC, so the NTZ→LTZ cast is wall-clock-identity and matches DuckDB's
    naive-timestamp epoch.

    Never cached: every caller (each bench-timed query included)
    computes from the parquet scan — the r2-r11 suite-wide
    SPARK_GRAFT_CACHE_TABLES persist was removed in round 12 (caching
    base tables outside the timed region measures the cache, not the
    query)."""
    df = spark.read.schema(STAR_SCHEMAS[name]).parquet(f"{sf_dir}/{name}.parquet")
    if name in ("orders", "events", "documents", "embeddings"):
        # Fact tables in this testdata are single-row-group files = ONE
        # input split (parquet can't split below a row group), so every
        # map-side stage (scan, filter, regex/hash work, partial agg)
        # would run on one core while the other 31 idle. Redistribute up
        # to the session's parallelism: a one-off ~10 MB shuffle buys
        # 32-way map parallelism. At real scale the scan has thousands of
        # natural splits and this branch is a no-op. Catalyst still pushes
        # filters and column pruning through Repartition into the scan.
        #
        # The split count is decided from FILE BYTES on the driver
        # (bytes / maxPartitionBytes ≈ Spark's own split math, open-cost
        # ignored — it only under-counts for many tiny files, where the
        # data is small anyway): the previous `df.rdd.getNumPartitions()`
        # probe converted the plan to an RDD through py4j on EVERY load —
        # a fixed per-query cost once the r12 scan-cache removal made
        # every load one-shot.
        #
        # lineitem stays single-split: one-shot, a map-side partial agg
        # over one 600k-row split beats paying the full-table shuffle
        # before any reduction (measured r2; re-confirmed r12 after the
        # scan-cache removal: repartitioning lineitem at load read
        # q21 1.84->3.82s, q11 0.89->1.16s, q1 ~flat in a same-session
        # A/B — reverted).
        target = spark.sparkContext.defaultParallelism
        if _estimated_splits(spark, f"{sf_dir}/{name}.parquet") < target:
            df = df.repartition(target)
    if name == "events":
        # ts normalization ABOVE the spread exchange (it lands below
        # only when the scan is single-split, i.e. exactly when below
        # means serial): the exchange carries the same 8 bytes either
        # way, and the conversion runs at full parallelism.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _estimated_splits(spark: SparkSession, path: str) -> int:
    """Driver-side estimate of the scan's input-split count, mirroring
    Spark's FilePartition.maxSplitBytes math (ADVICE r12): the actual
    split size is  min(maxPartitionBytes, max(openCostInBytes,
    (totalBytes + nFiles*openCost) / defaultParallelism)) , NOT a flat
    maxPartitionBytes — for mid-size files Spark already scans in
    parallel via the bytesPerCore term, and a flat-divisor estimate
    would trigger an unnecessary full repartition shuffle. Still a
    per-FILE ceiling-sum like Spark's packing (a split never spans
    files); row-group granularity is ignored, so single-row-group files
    can over-count — acceptable: it only errs toward a repartition of a
    file Spark *thinks* it can split but can't."""
    import os

    def _sizes(p: str) -> list[int]:
        if os.path.isdir(p):
            out: list[int] = []
            for f in os.listdir(p):
                if not f.startswith(("_", ".")):
                    out.extend(_sizes(os.path.join(p, f)))
            return out
        try:
            return [os.path.getsize(p)]
        except OSError:
            return []

    def _conf_bytes(key: str, default: str) -> int:
        raw = spark.conf.get(key, default)
        units = {"k": 1024, "m": 1024**2, "g": 1024**3, "t": 1024**4}
        s = raw.strip().lower().removesuffix("b")
        mult = units.get(s[-1:], 1)
        if mult != 1:
            s = s[:-1]
        return max(1, int(float(s)) * mult)

    sizes = _sizes(path)
    if not sizes:
        return 1
    max_bytes = _conf_bytes("spark.sql.files.maxPartitionBytes", "134217728")
    open_cost = _conf_bytes("spark.sql.files.openCostInBytes", "4194304")
    total_padded = sum(sizes) + open_cost * len(sizes)
    bytes_per_core = total_padded // max(1, spark.sparkContext.defaultParallelism)
    split = min(max_bytes, max(open_cost, bytes_per_core))
    return sum(max(1, -(-sz // split)) for sz in sizes)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in STAR_TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register each star table as a temp view for the SQL surface."""
    for name in STAR_TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def read_jsonl(
    spark: SparkSession, path: str, schema: str | None = None
) -> DataFrame:
    """JSON-lines scan — the interchange format every crawl/annotation
    tool emits. ALWAYS pass a schema in production: schema inference
    reads the whole dataset once before the real scan (a full extra pass
    at 100 TB), and a declared schema both skips that and gives Catalyst
    column pruning into the JSON parser (unread fields are never
    materialized). Corrupt lines land in ``_corrupt_record`` instead of
    failing the job (PERMISSIVE), feeding the dead-letter sink."""
    reader = spark.read.option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", "_corrupt_record"
    )
    if schema is not None:
        # the declared schema must carry the corrupt-record column or
        # PERMISSIVE mode silently drops the bad rows
        reader = reader.schema(f"{schema}, _corrupt_record string")
    return reader.json(path)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-lines sink (one object per line, splittable downstream)."""
    df.write.mode(mode).json(path)


def write_orc(
    df: DataFrame,
    path: str,
    partition_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """ORC columnar sink — same pushdown/pruning class as parquet (Spark
    ships the reader/writer natively); for pipelines whose downstream is
    Hive/Trino-flavored. Partitioning mirrors write_partitioned."""
    w = df.write.mode(mode)
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan with predicate pushdown + column pruning (check
    PushedFilters in .explain, same as the parquet path)."""
    return spark.read.orc(path)


def read_binary_blobs(spark: SparkSession, path: str, glob: str = "*.pdf") -> DataFrame:
    """Landed-blob scan (S12 at rest): `binaryFile` gives
    (path, modificationTime, length, content BINARY) — the Spark-native way
    to re-scan what the reference lands on disk/S3 (scraper.py:228-258)."""
    return (
        spark.read.format("binaryFile").option("pathGlobFilter", glob).load(path)
    )
