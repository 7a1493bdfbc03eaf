"""SparkSession factory tuned for both local testing and cluster scale.

Local mode is one JVM with N threads; on a real cluster the same conf
holds except memory/shuffle sizing moves to submit-time. Settings chosen
for the 100 TB design point:

- AQE on (runtime coalesce + skew-join splitting) so static
  ``spark.sql.shuffle.partitions`` only needs to be an upper bound.
- Arrow on for every pandas-UDF boundary.
- Session timezone pinned UTC so timestamp semantics match the DuckDB
  oracle and are cluster-invariant.
- PySpark's DataFrame debugging off
  (``spark.python.sql.dataFrameDebugging.enabled=false``). With it on,
  every Column/DataFrame API call made while building a query walks
  the Python stack and sets and clears a call-site origin in the JVM
  over py4j — hundreds of round trips per query build, about half a
  second for the ten perfbench batch queries. The trade-off: analysis
  and runtime error messages lose the Python call-site context (the
  file and line of the DataFrame call that built the failing
  expression); the Spark-side error itself is unchanged. PySpark reads
  the flag once per process and caches it, so it is set here, when the
  session is built, not later with ``spark.conf.set``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "kommunedata_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        # Fetch UDFs are side-effecting; never speculatively re-execute them
        # (SURVEY §7.4 "Side-effecting fetch in a declarative engine").
        .config("spark.speculation", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
