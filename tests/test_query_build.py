"""Building a query is driver-side only: the star tables' schemas are
declared (`schemas.STAR_SCHEMAS`), not inferred by a Spark job per read,
and the session turns PySpark's per-call DataFrame debugging off."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from kommunedata_data_pipeline_spark.schemas import STAR_SCHEMAS, STAR_TABLES
from kommunedata_data_pipeline_spark.sources.readers import load_table

from conftest import SF_MEDIUM, SF_SMALL

TESTDATA = (SF_SMALL, SF_MEDIUM, os.path.join(os.path.dirname(SF_SMALL), "sf0.1"))


def _schema_mismatches(spark, sf_dir: str) -> list[str]:
    """One line per table column whose declared field differs from the
    field Spark infers from the table's parquet footer."""
    out = []
    for name in STAR_TABLES:
        declared = STAR_SCHEMAS[name]
        inferred = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
        for col in sorted(set(declared.names) | set(inferred.names)):
            d = declared[col] if col in declared.names else None
            i = inferred[col] if col in inferred.names else None
            if d != i:
                out.append(f"{name}.{col}: declared {d}, footer {i}")
        same_cols = sorted(declared.names) == sorted(inferred.names)
        if same_cols and declared.names != inferred.names:
            out.append(f"{name}: column order {declared.names} vs {inferred.names}")
    return out


@pytest.mark.parametrize("sf_dir", TESTDATA)
def test_declared_schemas_match_testdata_footers(spark, sf_dir):
    assert _schema_mismatches(spark, sf_dir) == []


def test_declared_schemas_match_perfbench_tables(spark, tmp_path):
    from perfbench import datagen

    for name, table in datagen.make_tables(0.001).items():
        pq.write_table(table, str(tmp_path / f"{name}.parquet"))
    assert _schema_mismatches(spark, str(tmp_path)) == []


def test_schema_mismatch_is_named_and_fails_the_scan(spark, tmp_path):
    for name in STAR_TABLES:
        src = f"{SF_SMALL}/{name}.parquet"
        if name == "nation":
            t = pq.read_table(src)
            t = t.set_column(0, "n_nationkey", t.column(0).cast(pa.int64()))
            pq.write_table(t, str(tmp_path / "nation.parquet"))
        else:
            os.symlink(src, tmp_path / f"{name}.parquet")
    assert _schema_mismatches(spark, str(tmp_path)) == [
        "nation.n_nationkey: declared StructField('n_nationkey', IntegerType(), True), "
        "footer StructField('n_nationkey', LongType(), True)"
    ]
    # the reader never re-types silently: the scan fails naming the column
    with pytest.raises(Exception, match="n_nationkey"):
        load_table(spark, str(tmp_path), "nation").collect()


# Builds that must run Spark jobs, with the reason.
BUILD_JOBS_EXPECTED = {
    # Iterative: each propagation round truncates its lineage with
    # localCheckpoint, and Spark builds the checkpoint RDD by running
    # the round's shuffle stages (AQE materializes them when the RDD is
    # created), so the build does the rounds' work.
    "q_label_propagation",
}


def test_query_builds_launch_no_jobs(spark):
    """Every perfbench batch query and both of its warm-up queries
    build (no action) without a Spark job."""
    import __spark_entry__ as entry
    from perfbench import workloads

    names = (
        workloads.WARM_QUERIES + workloads.ANALYST_QUERIES + workloads.CURATION_QUERIES
    )
    assert len(names) == 12
    sc = spark.sparkContext
    queries = entry.queries()
    launched = {}
    try:
        for name in names:
            group = f"build-{name}"
            sc.setJobGroup(group, group)
            queries[name](spark, SF_MEDIUM)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            launched[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert {n for n, jobs in launched.items() if jobs} == BUILD_JOBS_EXPECTED, launched


def test_session_turns_dataframe_debugging_off(spark):
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False
