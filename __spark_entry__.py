"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash). Every operator from SURVEY.md §2 that is implemented in
``kommunedata_data_pipeline_spark`` is declared here.

Cross-engine parity rules used throughout:
- every float aggregate is explicitly round()ed identically on both sides
  (double summation order differs between engines in the last ulp);
- every top-k has a total deterministic ordering (rounded measure + unique
  key tiebreak);
- every hash that must match is md5-derived (DuckDB: ('0x'||substr(md5(x
  ),1,8))::BIGINT == Spark: conv(substr(md5(x),1,8),16,10));
- bit extraction is floor(h/2^i)%2 on both sides (DuckDB's double→BIGINT
  cast rounds, Spark's truncates — floor() is identical).
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kommunedata_data_pipeline_spark.functions.dates import parse_meeting_date
from kommunedata_data_pipeline_spark.functions.strings import (
    doc_key,
    municipality_from_url,
)
from kommunedata_data_pipeline_spark.functions.text import (
    fingerprint,
    lang_guess,
    punct_ratio,
    quality_score,
    stopword_ratio,
    token_count,
)
from kommunedata_data_pipeline_spark.operators.dedup import (
    dedup_exact,
    minhash_lsh_pairs,
    minhash_signatures,
    minhash_slot_sql,
    ngram_jaccard_pairs,
    simhash_docs,
)
from kommunedata_data_pipeline_spark.functions.text import (
    bpe_token_count,
    rolling_fingerprint,
    rolling_hashes,
    ROLL_B,
    ROLL_P,
    ROLL_TOK_MOD,
)
from kommunedata_data_pipeline_spark.operators.joins import asof_join, range_join_binned
from kommunedata_data_pipeline_spark.operators.layout import z_value_sql
from kommunedata_data_pipeline_spark.operators.similarity import (
    brute_force_topk,
    embedding_near_dup_pairs_banded,
    ivf_topk,
    lsh_banded_topk,
    semantic_dedup,
)
from kommunedata_data_pipeline_spark.plans.pipeline import flagship_meetings_to_fetch

# --------------------------------------------------------------------------
# registry

_SPARK: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
_SQL: dict[str, str] = {}


def _q(name: str, sql: str | None = None):
    def deco(fn):
        # Collision-proof: a duplicate registration would silently evict
        # the earlier query AND let the survivor inherit a driver row
        # earned by different semantics (this bit round 4: a new CUBE
        # query reused the name q_grouping_sets). Fail loudly instead.
        assert name not in _SPARK, f"duplicate query registration: {name}"
        _SPARK[name] = fn
        if sql is not None:
            _SQL[name] = sql
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from kommunedata_data_pipeline_spark.sources.readers import load_table

    return load_table(spark, sf_dir, name)


def _dec(c: str):
    """Money column as exact DECIMAL(18,2) — decimal sums are
    order-independent, so rounded aggregates can't flip a cent between
    runs/engines the way double partial-sum reordering can (the driver
    hash-compares values; this removes a whole class of flaky diffs)."""
    return F.col(c).cast("decimal(18,2)")


def _rev():
    """round(sum(price * (1 - discount)), 2) in exact decimal, emitted
    as double (both engines convert the identical decimal the same way)."""
    return F.round(
        F.sum(_dec("l_extendedprice") * (1 - _dec("l_discount"))), 2
    ).cast("double")



# --------------------------------------------------------------------------
# relational core (SURVEY §2.2, §2.4-2.8)


@_q(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                          AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)                                       AS sum_base_price,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 2)             AS sum_disc_price,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE), 2) AS sum_charge,
           round(avg(l_quantity), 4)                                          AS avg_qty,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4)                  AS avg_price,
           round(CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4)                  AS avg_disc,
           count(*)                                                           AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape — scan-filter-agg, map-side partial aggregation;
    the filter pushes into the parquet scan (PushedFilters)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.round(
                F.sum(_dec("l_extendedprice") * (1 - _dec("l_discount"))), 2
            ).cast("double").alias("sum_disc_price"),
            F.round(
                F.sum(
                    _dec("l_extendedprice")
                    * (1 - _dec("l_discount"))
                    * (1 + _dec("l_tax"))
                ),
                2,
            ).cast("double").alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(
                F.sum(_dec("l_extendedprice")).cast("double") / F.count("*"), 4
            ).alias("avg_price"),
            F.round(
                F.sum(_dec("l_discount")).cast("double") / F.count("*"), 4
            ).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@_q(
    "q3_shipping_priority",
    """
    SELECT o_orderkey,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 2) AS revenue,
           strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS order_date,
           o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY o_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape — 3-way join + agg + deterministic top-k
    (rounded measure desc, unique key tiebreak)."""
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_rev().alias("revenue"))
        .select(
            "o_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@_q(
    "q5_local_supplier",
    """
    SELECT n_name,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 2) AS revenue
    FROM region
    JOIN nation   ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
    WHERE r_name = 'EUROPE'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape — star join with two broadcast dims; Catalyst
    reorders, AQE fixes skew."""
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    return (
        r.join(F.broadcast(n), n.n_regionkey == r.r_regionkey)
        .join(c, c.c_nationkey == n.n_nationkey)
        .join(o, o.o_custkey == c.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(s, (s.s_suppkey == li.l_suppkey) & (s.s_nationkey == c.c_nationkey))
        .groupBy("n_name")
        .agg(_rev().alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


@_q(
    "q6_forecast_revenue",
    """
    SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape — pure pushed-down filter + global agg (no shuffle
    beyond the final single-row combine)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_discount") >= 0.03)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(_dec("l_extendedprice") * _dec("l_discount")), 2)
        .cast("double")
        .alias("revenue")
    )


@_q(
    "q_topk_per_group",
    """
    SELECT c_mktsegment, o_orderkey, o_totalprice, rank FROM (
      SELECT c_mktsegment, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY o_totalprice DESC, o_orderkey) AS rank
      FROM orders JOIN customer ON o_custkey = c_custkey
    ) WHERE rank <= 3
    ORDER BY c_mktsegment, rank
    """,
)
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 — per-group limit as row_number window (the reference's
    MAX_DOWNLOADS slice, scraper.py:135-137)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select("c_mktsegment", "o_orderkey", "o_totalprice")
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .orderBy("c_mktsegment", "rank")
    )


@_q(
    "q_anti_join_catalog",
    """
    SELECT o_orderkey FROM orders
    WHERE NOT EXISTS (
      SELECT 1 FROM lineitem
      WHERE l_orderkey = o_orderkey AND l_returnflag = 'R'
    )
    ORDER BY o_orderkey
    """,
)
def q_anti_join_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 — the load-bearing idempotency anti-join (scraper.py:210-222):
    'orders not yet landed' = left_anti against the catalog keys."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_anti")
        .select("o_orderkey")
        .orderBy("o_orderkey")
    )


@_q(
    "q_semi_join",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey AND o_totalprice > 400000
    )
    ORDER BY c_custkey
    """,
)
def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 — inclusion semi-join (run_scrapers.py:29-51 script filter)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 400000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@_q(
    "q_set_ops",
    """
    SELECT 'union' AS op, count(*) AS n FROM (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      UNION
      SELECT c_custkey FROM customer WHERE c_acctbal > 5000
    )
    UNION ALL
    SELECT 'intersect' AS op, count(*) AS n FROM (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      INTERSECT
      SELECT c_custkey FROM customer WHERE c_acctbal > 5000
    )
    UNION ALL
    SELECT 'except' AS op, count(*) AS n FROM (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      EXCEPT
      SELECT c_custkey FROM customer WHERE c_acctbal > 5000
    )
    ORDER BY op
    """,
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 — union / intersect / except surface in one checkable result."""
    c = _t(spark, sf_dir, "customer")
    a = c.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = c.where(F.col("c_acctbal") > 5000).select("c_custkey")
    u = a.union(b).distinct().agg(F.count("*").alias("n")).select(F.lit("union").alias("op"), "n")
    i = a.intersect(b).agg(F.count("*").alias("n")).select(F.lit("intersect").alias("op"), "n")
    e = a.exceptAll(b).distinct().agg(F.count("*").alias("n")).select(F.lit("except").alias("op"), "n")
    return u.unionByName(i).unionByName(e).orderBy("op")


@_q(
    "q_dedup_keep_first",
    """
    SELECT l_orderkey, l_linenumber, l_partkey FROM (
      SELECT l_orderkey, l_linenumber, l_partkey,
             row_number() OVER (PARTITION BY l_orderkey
                                ORDER BY l_linenumber, l_partkey) AS rn
      FROM lineitem
    ) WHERE rn = 1
    ORDER BY l_orderkey
    """,
)
def q_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 with O3 order semantics — keep the FIRST row per key under an
    explicit ordering (the reference's first-seen-wins seen-set,
    scraper.py:116-132; order reified as data per SURVEY §7.4)."""
    li = _t(spark, sf_dir, "lineitem")
    # ordering must be TOTAL over the output columns — (l_orderkey,
    # l_linenumber) is not unique in this data, and a tie would make the
    # kept row nondeterministic across runs/engines
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey")
    return (
        li.select("l_orderkey", "l_linenumber", "l_partkey")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
        .orderBy("l_orderkey")
    )


@_q(
    "q_parent_child_assembly",
    """
    SELECT l_orderkey AS o_orderkey,
           count(*) AS n_items,
           string_agg(l_linenumber || ':' || l_partkey, ','
                      ORDER BY l_linenumber, l_partkey) AS items
    FROM lineitem
    GROUP BY l_orderkey
    ORDER BY o_orderkey
    """,
)
def q_parent_child_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4/A4 — ordered parent-child reassembly (meeting × agenda items,
    scraper_copenhagen.py:219-230) via sort_array(collect_list(struct))."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(
            F.count("*").alias("n_items"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("l_linenumber", "l_partkey"))),
                    lambda s: F.concat_ws(":", s["l_linenumber"], s["l_partkey"]),
                ),
                ",",
            ).alias("items"),
        )
        .withColumnRenamed("l_orderkey", "o_orderkey")
    )


@_q(
    "q_metrics_rollup",
    """
    SELECT event_type,
           count(*) AS n,
           count(DISTINCT user_id) AS n_users,
           round(sum(value), 2) AS total_value,
           round(avg(value), 4) AS avg_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_metrics_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2 — run-metrics aggregation shape (run_scrapers.py:59-97)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
        .orderBy("event_type")
    )


@_q(
    "q_rollup_region_nation",
    """
    SELECT coalesce(r_name, 'ALL') AS region,
           coalesce(n_name, 'ALL') AS nation,
           count(*) AS n_customers,
           CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_balance
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    ORDER BY region, nation
    """,
)
def q_rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup (engine surface beyond the reference — SURVEY
    §2.4 notes grouping sets as bench-required)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(_dec("c_acctbal")).cast("double").alias("total_balance"),
        )
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation"),
            "n_customers",
            "total_balance",
        )
        .orderBy("region", "nation")
    )


@_q(
    "q_pivot_event_types",
    """
    SELECT user_id % 10 AS cohort,
           CAST(sum(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
           CAST(sum(CASE WHEN event_type = 'view'     THEN 1 ELSE 0 END) AS BIGINT) AS views,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases,
           CAST(sum(CASE WHEN event_type = 'signup'   THEN 1 ELSE 0 END) AS BIGINT) AS signups,
           CAST(sum(CASE WHEN event_type = 'error'    THEN 1 ELSE 0 END) AS BIGINT) AS errors
    FROM events
    GROUP BY user_id % 10
    ORDER BY cohort
    """,
)
def q_pivot_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot surface expressed as conditional aggregation (portable shape
    of F8 conditional dispatch)."""
    ev = _t(spark, sf_dir, "events")
    agg = [
        F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)).alias(a)
        for t, a in [
            ("click", "clicks"),
            ("view", "views"),
            ("purchase", "purchases"),
            ("signup", "signups"),
            ("error", "errors"),
        ]
    ]
    return (
        ev.groupBy((F.col("user_id") % 10).alias("cohort")).agg(*agg).orderBy("cohort")
    )


@_q(
    "q_window_functions",
    """
    SELECT o_orderkey, o_custkey,
           row_number() OVER w AS seq,
           lag(o_totalprice) OVER w AS prev_price,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS running_total
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ORDER BY o_custkey, seq
    """,
)
def q_window_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 windows beyond row_number: lag + running frame-spec sum
    (engine surface; same window order in both engines → same fold)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.select(
            "o_orderkey",
            "o_custkey",
            F.row_number().over(w).alias("seq"),
            F.lag("o_totalprice").over(w).alias("prev_price"),
            F.sum(_dec("o_totalprice"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double")
            .alias("running_total"),
        )
        .orderBy("o_custkey", "seq")
    )


# --------------------------------------------------------------------------
# scalar-function surface (SURVEY §2.8)


@_q(
    "q_date_parse_multiformat",
    """
    SELECT o_orderkey, strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS meeting_date
    FROM orders
    ORDER BY o_orderkey
    """,
)
def q_date_parse_multiformat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 — the four reference date formats (dd-mm-yyyy scraper.py:168,
    yyyy-mm-dd scraper_billund.py:105, dd.mm.yyyy scraper_copenhagen.py:74,
    Danish '25. november 2025' scraper_svendborg.py:138-152): format each
    order date into the format chosen by orderkey%4, then parse it back
    with the engine's coalesce-of-formats expression. Oracle = the
    original date (round-trip identity)."""
    o = _t(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    danish_month = F.element_at(
        F.array(
            *[
                F.lit(m)
                for m in [
                    "januar", "februar", "marts", "april", "maj", "juni",
                    "juli", "august", "september", "oktober", "november", "december",
                ]
            ]
        ),
        F.month(d),
    )
    raw = (
        F.when(F.col("o_orderkey") % 4 == 0, F.date_format(d, "yyyy-MM-dd"))
        .when(F.col("o_orderkey") % 4 == 1, F.date_format(d, "dd-MM-yyyy"))
        .when(F.col("o_orderkey") % 4 == 2, F.date_format(d, "dd.MM.yyyy"))
        .otherwise(
            F.concat(
                F.dayofmonth(d).cast("string"),
                F.lit(". "),
                danish_month,
                F.lit(" "),
                F.year(d).cast("string"),
                F.lit(" - 15:30"),
            )
        )
    )
    return (
        o.select("o_orderkey", raw.alias("raw_date"))
        .select(
            "o_orderkey",
            F.date_format(parse_meeting_date(F.col("raw_date")), "yyyy-MM-dd").alias(
                "meeting_date"
            ),
        )
    )


@_q(
    "q_doc_key_derivation",
    """
    SELECT lower(n_name) AS municipality,
           strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') || '_' || lower(n_name)
             || '_oekonomiudvalget.pdf' AS doc_key
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderkey % 100 = 0
    ORDER BY doc_key, municipality
    """,
)
def q_doc_key_derivation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3/F5/F11 — URL→municipality munging (scraper.py:301-308) and the
    canonical sink key YYYY-MM-DD_{muni}_{committee}.pdf (scraper.py:172).
    The base_url is synthesized from n_name, run through parse_url HOST +
    prefix/suffix strips; oracle derives the same from lower(n_name)."""
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") % 100 == 0)
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    base_url = F.concat(
        F.lit("https://dagsordener."), F.lower(F.col("n_name")), F.lit(".kommune.dk")
    )
    joined = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    )
    muni = municipality_from_url(base_url)
    return (
        joined.select(
            muni.alias("municipality"),
            F.concat(
                doc_key(F.to_date("o_orderdate"), muni, F.lit("oekonomiudvalget")),
                F.lit(".pdf"),
            ).alias("doc_key"),
        )
        .orderBy("doc_key", "municipality")
    )


@_q(
    "q_json_extract",
    """
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 90
    ORDER BY event_id
    """,
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9 — JSON column surface (events.props is a JSON string;
    reference json.dumps at scraper_svendborg.py:60-66)."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.select("event_id", k.alias("k")).where(F.col("k") > 90)
    )


@_q(
    "q_regexp_extract",
    """
    SELECT o_orderkey,
           regexp_extract(o_orderpriority, '^(\\d+)-(\\w+)', 1) AS prio_num,
           regexp_extract(o_orderpriority, '^(\\d+)-(\\w+)', 2) AS prio_word
    FROM orders
    WHERE o_orderkey % 50 = 0
    ORDER BY o_orderkey
    """,
)
def q_regexp_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 — regexp extraction (UUID/date extraction shape,
    scraper.py:161-178)."""
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") % 50 == 0)
    return o.select(
        "o_orderkey",
        F.regexp_extract("o_orderpriority", r"^(\d+)-(\w+)", 1).alias("prio_num"),
        F.regexp_extract("o_orderpriority", r"^(\d+)-(\w+)", 2).alias("prio_word"),
    ).orderBy("o_orderkey")


@_q(
    "q_incremental_filter",
    """
    SELECT o_orderstatus, count(*) AS n
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1999-06-01 00:00:00'
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def q_incremental_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/ST1 — high-watermark incremental predicate (SCRAPE_MODE=NEW,
    scraper_utils.py:72-87) with a fixed as-of date for determinism."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.where(F.col("o_orderdate") >= F.lit("1999-06-01 00:00:00").cast("timestamp"))
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"))
        .orderBy("o_orderstatus")
    )


# --------------------------------------------------------------------------
# temporal / sessionization (SURVEY §2.10 + north star streaming semantics)


@_q(
    "q_tumbling_window",
    """
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           count(*) AS n,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling time-window agg — the batch shape of the streaming
    tumbling window (streaming module runs the same over readStream)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
        .orderBy("window_start", "event_type")
    )


@_q(
    "q_sliding_window",
    """
    SELECT window_start, count(*) AS n, round(sum(value), 2) AS total_value
    FROM (
      SELECT time_bucket(INTERVAL '30 minutes', ts) AS window_start, value FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes', value FROM events
    )
    GROUP BY window_start
    ORDER BY window_start
    """,
)
def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1 h size, 30 min slide): each event lands in two
    windows. Oracle expands the two window starts explicitly."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "n", "total_value")
        .orderBy("window_start")
    )


@_q(
    "q_sessionize",
    """
    WITH gaps AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 600000000
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts, value,
             CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS session_id
      FROM gaps
    )
    SELECT user_id, session_id, count(*) AS n_events,
           min(ts) AS session_start, max(ts) AS session_end,
           round(sum(value), 2) AS session_value
    FROM sessions
    GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (10-min gap) via lag + cumulative-sum — the batch
    twin of session_window (ST-semantics; SURVEY §2.10). Pure window
    functions, one shuffle on user_id."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wcum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    new_session = F.when(
        gap_us.isNull() | (gap_us > 600_000_000), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        ev.withColumn("new_session", new_session)
        .withColumn("session_id", F.sum("new_session").over(wcum))
        .groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .orderBy("user_id", "session_id")
    )


# --------------------------------------------------------------------------
# flagship pipeline (SURVEY §7.2 minimum slice)


@_q(
    "q_flagship_worklist",
    """
    WITH config AS (
      SELECT c_custkey, c_mktsegment, n_name
      FROM customer JOIN nation ON c_nationkey = n_nationkey
    ), listings AS (
      SELECT lower(n_name) AS municipality,
             lower(c_mktsegment) AS committee,
             o_orderkey AS listing_id,
             CAST(o_orderdate AS DATE) AS meeting_date
      FROM orders JOIN config ON o_custkey = c_custkey
      WHERE o_orderstatus = 'O'
    ), catalog AS (
      SELECT DISTINCT l_orderkey FROM lineitem
      WHERE l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    ), fresh AS (
      SELECT * FROM listings
      WHERE NOT EXISTS (SELECT 1 FROM catalog WHERE l_orderkey = listing_id)
    ), limited AS (
      SELECT *, row_number() OVER (PARTITION BY municipality
                                   ORDER BY meeting_date DESC, listing_id) AS rn
      FROM fresh
    )
    SELECT municipality, committee, listing_id,
           strftime(meeting_date, '%Y-%m-%d') AS meeting_date,
           strftime(meeting_date, '%Y-%m-%d') || '_' || municipality || '_'
             || committee || '.pdf' AS doc_key
    FROM limited WHERE rn <= 10
    ORDER BY municipality, meeting_date, listing_id
    """,
)
def q_flagship_worklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§7.2 — the whole reference dataflow as one plan: fan-out join →
    doc-type filter → anti-join vs landed catalog → per-municipality
    limit → canonical doc_key."""
    return flagship_meetings_to_fetch(spark, sf_dir)


# --------------------------------------------------------------------------
# text analysis (north star)

_NORM_SQL = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^\\w\\s]', '', 'g'), "
    "'\\s+', ' ', 'g'))"
)
_TOKS_SQL = "list_filter(string_split_regex(text, '\\s+'), x -> x <> '')"
_EN_SW = "['the','and','of','to','a','in','is','it','that','for']"
_DA_SW = "['og','i','det','at','en','til','er','som','på','af']"


@_q(
    "q_text_stats",
    f"""
    SELECT doc_id,
           len({_TOKS_SQL}) AS n_tokens,
           length(text) AS n_chars_measured,
           round((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                 / length(text), 6) AS punct_ratio,
           round(len(list_filter(list_transform({_TOKS_SQL}, x -> lower(x)),
                                 t -> list_contains({_EN_SW}, t)))
                 / len({_TOKS_SQL}), 6) AS stopword_ratio
    FROM documents
    ORDER BY doc_id
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting / char stats / punctuation / stopword ratio — the
    quality-signal feature set for corpus filtering, all as codegen'd
    built-ins (no UDFs)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        F.length("text").alias("n_chars_measured"),
        F.round(punct_ratio(F.col("text")), 6).alias("punct_ratio"),
        F.round(stopword_ratio(F.col("text")), 6).alias("stopword_ratio"),
    )


@_q(
    "q_lang_guess",
    f"""
    WITH t AS (
      SELECT doc_id, lang,
             len(list_filter(list_transform({_TOKS_SQL}, x -> lower(x)),
                             t -> list_contains({_EN_SW}, t))) AS n_en,
             len(list_filter(list_transform({_TOKS_SQL}, x -> lower(x)),
                             t -> list_contains({_DA_SW}, t))) AS n_da
      FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN n_en = 0 AND n_da = 0 THEN 'unknown'
                WHEN n_en >= n_da THEN 'en' ELSE 'da' END AS lang_guess
    FROM t ORDER BY doc_id
    """,
)
def q_lang_guess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (stopword voting) — deterministic and
    SQL-twinned; a real n-gram model would be a broadcast lookup table
    with the same plan shape."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", "lang", lang_guess(F.col("text")).alias("lang_guess")
    )


_QUALITY_SQL = f"""round(0.4 * (CASE WHEN length(text) >= 100 THEN 1.0
                             ELSE length(text) / 100.0 END)
                 + 0.3 * (1.0 - (length(text)
                       - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                       / length(text))
                 + 0.3 * (len(list_filter(list_transform({_TOKS_SQL}, x -> lower(x)),
                                          t -> list_contains({_EN_SW}, t)))
                          / len({_TOKS_SQL})), 6)"""


@_q(
    "q_quality_score",
    f"""
    SELECT doc_id, {_QUALITY_SQL} AS quality
    FROM documents
    ORDER BY doc_id
    """,
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite document-quality score for corpus filtering."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", quality_score(F.col("text")).alias("quality"))


@_q(
    "q_fingerprint",
    f"""
    SELECT doc_id, md5({_NORM_SQL}) AS fp
    FROM documents
    ORDER BY doc_id
    """,
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting — md5 over whitespace/punct-normalized text
    (exact-dedup key; byte-identical across engines)."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint(F.col("text")).alias("fp"))


@_q(
    "q_dedup_exact",
    f"""
    SELECT doc_id FROM (
      SELECT doc_id, row_number() OVER (PARTITION BY md5({_NORM_SQL})
                                        ORDER BY doc_id) AS rn
      FROM documents
    ) WHERE rn = 1
    ORDER BY doc_id
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: keep lowest doc_id per normalized-text fingerprint."""
    d = _t(spark, sf_dir, "documents")
    return dedup_exact(d).select("doc_id")


# --------------------------------------------------------------------------
# near-duplicate detection & similarity search (north star)

_SHINGLES_CTE = f"""
    norm AS (SELECT doc_id, {_NORM_SQL} AS t FROM documents),
    toks AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
    shl AS (SELECT doc_id, CASE WHEN len(w) >= 3
            THEN list_transform(range(0, len(w)-2),
                                i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])
            ELSE [array_to_string(w, ' ')] END AS shingles FROM toks),
    sh AS (SELECT DISTINCT doc_id, unnest(shingles) AS shingle FROM shl)
"""


_MINHASH_SLOT_SQL = minhash_slot_sql("seed", "h")
_BASEHASH_CTE = """
    hs AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h
           FROM sh)
"""


@_q(
    "q_minhash_signatures",
    f"""
    WITH {_SHINGLES_CTE},
    {_BASEHASH_CTE},
    seeds AS (SELECT unnest(range(0, 16)) AS seed)
    SELECT doc_id, CAST(seed AS INT) AS seed,
           min({_MINHASH_SLOT_SQL}) AS minhash
    FROM hs CROSS JOIN seeds
    GROUP BY doc_id, seed
    ORDER BY doc_id, seed
    """,
)
def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (16 hash functions over 3-word shingles),
    computed as ONE expression per doc — no row explosion by hash count.
    md5-derived hashes are bit-identical to the DuckDB oracle."""
    d = _t(spark, sf_dir, "documents")
    return minhash_signatures(d, 3, 16).select(
        "doc_id", F.posexplode("sig").alias("seed", "minhash")
    )


_LSH_PAIRS_CTES = f"""{_SHINGLES_CTE},
    {_BASEHASH_CTE},
    seeds AS (SELECT unnest(range(0, 16)) AS seed),
    mh AS (
      SELECT doc_id, seed,
             min({_MINHASH_SLOT_SQL}) AS minhash
      FROM hs CROSS JOIN seeds GROUP BY doc_id, seed
    ),
    banded AS (
      SELECT doc_id, seed // 4 AS band,
             md5(string_agg(minhash::VARCHAR, ',' ORDER BY seed)) AS bkey
      FROM mh GROUP BY doc_id, seed // 4
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    ),
    est AS (
      SELECT c.doc_a, c.doc_b,
             round(sum(CASE WHEN ma.minhash = mb.minhash THEN 1 ELSE 0 END) / 16.0, 6)
               AS est_jaccard
      FROM cand c
      JOIN mh ma ON ma.doc_id = c.doc_a
      JOIN mh mb ON mb.doc_id = c.doc_b AND mb.seed = ma.seed
      GROUP BY c.doc_a, c.doc_b
    ),
    lsh_pairs AS (
      SELECT doc_a, doc_b, est_jaccard FROM est WHERE est_jaccard >= 0.5
    )"""


@_q(
    "q_minhash_lsh_pairs",
    f"""
    WITH {_LSH_PAIRS_CTES}
    SELECT doc_a, doc_b, est_jaccard FROM lsh_pairs
    ORDER BY doc_a, doc_b
    """,
)
def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs: banded signatures → bucket join →
    signature-similarity verify. The sub-quadratic 100 TB dedup path: the
    only full-corpus shuffle is groupBy(band key)."""
    d = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(d, 3, 16, 4, 0.5)


@_q(
    "q_minhash_index_update",
    f"""
    WITH {_LSH_PAIRS_CTES}
    SELECT doc_a, doc_b, est_jaccard FROM lsh_pairs
    WHERE doc_a % 10 >= 8 OR doc_b % 10 >= 8
    ORDER BY doc_a, doc_b
    """,
)
def q_minhash_index_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dedup: the 20% of documents with doc_id%10>=8
    arrive as a fresh batch and are deduped against the stored band-table
    index of the other 80% (operators/dedup.py:minhash_index_update) —
    signatures are computed for the NEW batch only, candidates come from
    a band-key equi-join against the index plus the batch's self-join
    (reference precedent: the J2 anti-join against sink state,
    scraper.py:210-222, lifted to the MinHash level). The oracle is the
    full-rebuild LSH pair set restricted to pairs with a new member —
    update-then-query must equal rebuild exactly."""
    from kommunedata_data_pipeline_spark.operators.dedup import (
        minhash_band_table,
        minhash_index_update,
    )

    d = _t(spark, sf_dir, "documents")
    old = d.where(F.col("doc_id") % 10 < 8)
    new = d.where(F.col("doc_id") % 10 >= 8)
    index = minhash_band_table(old, 3, 16, 4)
    pairs, _updated = minhash_index_update(new, index, 3, 16, 4, 0.5)
    return pairs.orderBy("doc_a", "doc_b")


def _ram_tmp() -> str:
    """Scratch root for the streaming-ingest and transactional-sink
    queries — RAM-backed where available (the stores and sink files
    are bookkeeping, not results: each query pins what it returns
    before it removes the root)."""
    import tempfile

    return tempfile.mkdtemp(
        prefix="kdp-", dir="/dev/shm" if os.path.isdir("/dev/shm") else None
    )


def _stage_id_batches(df: DataFrame, id_col: str, base: str, n: int = 3) -> str:
    """Stage ``df`` as ``n`` id-ordered parquet files with strictly
    increasing mtimes (the file source orders batches by modification
    time, and the ingest queries' keep-first-by-id contract needs
    arrival order = id order). ONE write job: ntile the ids, hash-
    repartition by the tercile column, partitionBy-write — each tercile
    dir gets exactly one file (test scaffolding; the ntile window is a
    one-off staging sort, not part of the measured operator)."""
    import glob as _glob
    import os as _os

    stage = f"{base}/stage"
    _os.makedirs(stage)
    (
        df.withColumn("__b", F.ntile(n).over(Window.orderBy(id_col)))
        .repartition(n, "__b")
        .write.partitionBy("__b")
        .mode("overwrite")
        .parquet(f"{base}/parts")
    )
    for i in range(1, n + 1):
        src = _glob.glob(f"{base}/parts/__b={i}/part-*.parquet")[0]
        dst = f"{stage}/batch{i}.parquet"
        _os.rename(src, dst)
        _os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
    return stage


def _drain_ingest(
    spark: SparkSession, name: str, staged: DataFrame, writer, read_back
) -> DataFrame:
    """One stream-ingest query end to end: stage ``staged`` as three
    id-ordered files (`_stage_id_batches`; the id is its first column)
    under a `_ram_tmp` root, stream them one file per trigger through
    ``writer(stream, base)`` — an un-started ingest writeStream over
    stores under ``base`` — with `run_writer_available_now`, and pin
    ``read_back(base)`` into executor storage before the root is
    removed (the returned frame must not lazily re-read a deleted
    path; localCheckpoint is cluster-side, no driver
    materialization). The run's per-phase durations are stashed under
    ``{name}_sink``, the key bench.py reads for its exec-vs-wall
    split."""
    import shutil

    from kommunedata_data_pipeline_spark.streaming.ingest import (
        run_writer_available_now,
    )

    base = _ram_tmp()
    try:
        stage = _stage_id_batches(staged, staged.columns[0], base)
        stream = (
            spark.readStream.schema(
                ", ".join(
                    f"{f.name} {f.dataType.simpleString()}"
                    for f in staged.schema.fields
                )
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(stage)
        )
        run_writer_available_now(
            writer(stream, base),
            f"{base}/ckpt",
            durations_key=f"{name}_sink",
        )
        return read_back(base).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)


@_q(
    "q_stream_ingest_dedup",
    f"""
    WITH {_LSH_PAIRS_CTES}
    SELECT doc_id FROM documents
    WHERE doc_id NOT IN (SELECT doc_b FROM lsh_pairs)
    ORDER BY doc_id
    """,
)
def q_stream_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING incremental-ingest dedup, end to end: the documents
    table arrives as a 3-batch file stream (maxFilesPerTrigger=1);
    every micro-batch is near-deduped against the PERSISTED band-table
    index via minhash_index_update (signatures for the batch only, one
    band-key equi-join against the store), survivors land exactly once
    (ST2 anti-join vs the landed catalog), and the index is persisted
    between batches (streaming/ingest.py). The drop rule — duplicate
    iff near-dup of ANY smaller-id document ever seen — matches pure
    batch SQL (full-rebuild LSH pairs; landed = docs never appearing
    as doc_b) because the index stores every ingested doc's band rows
    AND batches arrive in id order (id terciles, the crawl-sequence
    analogue: a stream cannot retroactively evict an already-landed
    doc, so keep-first-by-id requires first-arrived = lowest-id —
    exactly the reference's append-only sink discipline). The
    reference shape this composes: per-run NEW filter + sink-state
    anti-join + idempotent landing (scraper.py:181-267) lifted from
    exact URLs to MinHash."""
    from kommunedata_data_pipeline_spark.streaming.ingest import (
        minhash_dedup_ingest,
    )

    landed = _drain_ingest(
        spark,
        "q_stream_ingest_dedup",
        _t(spark, sf_dir, "documents").select("doc_id", "text"),
        lambda stream, base: minhash_dedup_ingest(
            stream,
            f"{base}/index",
            f"{base}/landed",
            k=3,
            num_hashes=16,
            bands=4,
            threshold=0.5,
        ),
        lambda base: spark.read.schema("doc_id bigint").parquet(
            f"{base}/landed"
        ),
    )
    return landed.orderBy("doc_id")


@_q(
    "q_stream_ann_ingest",
    """
    WITH keys AS (
      SELECT vec_id, embedding, CAST(b.b AS INT) AS band,
             CAST(list_sum(list_transform(range(0, 8), i ->
               CASE WHEN embedding[b.b*8 + i + 1] > 0 THEN CAST(pow(2, i) AS BIGINT)
                    ELSE 0 END)) AS BIGINT) AS bkey
      FROM embeddings, (SELECT unnest(range(0, 4)) AS b) b
    ),
    scored AS (
      SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b,
             round(
               list_sum(list_transform(range(1, len(x.embedding) + 1),
                 i -> CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(x.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
                  * sqrt(list_sum(list_transform(y.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))),
               5) AS cosine_sim
      FROM keys x JOIN keys y
        ON x.band = y.band AND x.bkey = y.bkey AND x.vec_id < y.vec_id
    )
    SELECT vec_id FROM embeddings
    WHERE vec_id NOT IN (SELECT vec_b FROM scored WHERE cosine_sim >= 0.3)
    ORDER BY vec_id
    """,
)
def q_stream_ann_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-side STREAMING incremental ingest — the ANN sibling of
    `q_stream_ingest_dedup`: the embeddings table arrives as a 3-batch
    file stream; every micro-batch is near-deduped against the PERSISTED
    banded sign-LSH store via ann_index_update (banding for the batch
    only, one (band, bkey) equi-join against the index, exact-cosine
    verify), survivors land exactly once, the index is persisted between
    batches (streaming/ingest.py:ann_dedup_ingest). Same batch-invariance
    contract: id-ordered arrival makes the landed set a pure function of
    the vector set (drop iff near-dup of ANY smaller-id vector ever
    seen), so one batch or three equals the batch-mode full-rebuild SQL."""
    from kommunedata_data_pipeline_spark.streaming.ingest import (
        ann_dedup_ingest,
    )

    landed = _drain_ingest(
        spark,
        "q_stream_ann_ingest",
        _t(spark, sf_dir, "embeddings").select("vec_id", "embedding"),
        lambda stream, base: ann_dedup_ingest(
            stream,
            f"{base}/index",
            f"{base}/landed",
            n_bands=4,
            band_bits=8,
            threshold=0.3,
        ),
        lambda base: spark.read.schema("vec_id bigint").parquet(
            f"{base}/landed"
        ),
    )
    return landed.orderBy("vec_id")


@_q(
    "q_dup_clusters",
    f"""
    WITH RECURSIVE {_LSH_PAIRS_CTES},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM lsh_pairs
      UNION
      SELECT doc_b, doc_a FROM lsh_pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    reach(node, lab) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.src, r.lab FROM edges e JOIN reach r ON e.dst = r.node
    )
    SELECT node AS doc_id, min(lab) AS cluster_id
    FROM reach GROUP BY node
    """,
)
def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution: connected components over the
    MinHash-LSH pair graph (iterative min-label propagation with
    lineage-truncating checkpoints — a genuinely iterative DataFrame
    algorithm). Oracle: DuckDB recursive CTE computing min reachable id
    per node."""
    from kommunedata_data_pipeline_spark.operators.dedup import dup_clusters

    d = _t(spark, sf_dir, "documents")
    return dup_clusters(minhash_lsh_pairs(d, 3, 16, 4, 0.5))


@_q(
    "q_ngram_jaccard_pairs",
    f"""
    WITH {_SHINGLES_CTE},
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(n_common / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.5
    ORDER BY doc_a, doc_b
    """,
)
def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (shingle equi-join). The
    ground-truth for MinHash; at 100 TB runs with a document-frequency
    cap on hot shingles (df_cap) to bound the join fan-out."""
    d = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(d, 3, 0.5)


@_q(
    "q_simhash",
    f"""
    WITH norm AS (SELECT doc_id, {_NORM_SQL} AS t FROM documents),
    toks AS (SELECT doc_id, list_distinct(string_split(t, ' ')) AS w FROM norm),
    th AS (SELECT doc_id,
                  list_transform(w, t -> ('0x' || substr(md5(t), 1, 8))::BIGINT) AS hs
           FROM toks)
    SELECT doc_id, CAST(list_sum(list_transform(range(0, 32), i ->
      CASE WHEN 2 * list_sum(list_transform(hs,
                     h -> CAST(floor(h / pow(2, i)) AS BIGINT) % 2)) > len(hs)
           THEN CAST(pow(2, i) AS BIGINT) ELSE 0 END)) AS BIGINT) AS simhash
    FROM th ORDER BY doc_id
    """,
)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit bit-majority SimHash per document (near-dup fingerprint).
    Only the fingerprint table is computed; no query generates
    Hamming-distance pairs from it."""
    d = _t(spark, sf_dir, "documents")
    return simhash_docs(d, 32)


_DOT_SQL = (
    "list_sum(list_transform(range(1, len(e.embedding) + 1), "
    "i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.q_embedding[i] AS DOUBLE)))"
)
_NORM_E_SQL = "sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
_NORM_Q_SQL = "sqrt(list_sum(list_transform(q.q_embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"


@_q(
    "q_cosine_topk",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS q_embedding
               FROM embeddings WHERE vec_id < 8),
    scored AS (
      SELECT q.query_id, e.vec_id,
             round({_DOT_SQL} / ({_NORM_E_SQL} * {_NORM_Q_SQL}), 5) AS cosine_sim
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT query_id, vec_id, cosine_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine_sim DESC, vec_id) AS rank
      FROM scored
    )
    SELECT query_id, vec_id, cosine_sim, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 5
    ORDER BY query_id, rank
    """,
)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (exact ANN baseline): broadcast query set
    × corpus, distance fully inside codegen (zip_with + sequential fold —
    deterministic, bit-matches the oracle's list fold)."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    return brute_force_topk(e, q, 5)


@_q(
    "q_ann_lsh_topk",
    f"""
    WITH keys AS (
      SELECT vec_id, embedding, CAST(b.b AS INT) AS band,
             CAST(list_sum(list_transform(range(0, 8), i ->
               CASE WHEN embedding[b.b*8 + i + 1] > 0 THEN CAST(pow(2, i) AS BIGINT)
                    ELSE 0 END)) AS BIGINT) AS bkey
      FROM embeddings, (SELECT unnest(range(0, 4)) AS b) b
    ),
    q AS (SELECT vec_id AS query_id, embedding AS q_embedding, band, bkey
          FROM keys WHERE vec_id < 8),
    scored AS (
      SELECT DISTINCT q.query_id, e.vec_id,
             round({_DOT_SQL} / ({_NORM_E_SQL} * {_NORM_Q_SQL}), 5) AS cosine_sim
      FROM keys e JOIN q ON e.band = q.band AND e.bkey = q.bkey
      WHERE e.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT query_id, vec_id, cosine_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine_sim DESC, vec_id) AS rank
      FROM scored
    )
    SELECT query_id, vec_id, cosine_sim, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 5
    ORDER BY query_id, rank
    """,
)
def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN, banded multi-probe (IVF/LSH-style): each query
    probes 4 bands of 8 sign-bits; candidates are the dedup'd union.
    Band 0 covers the same dims as r1's single bucket, so recall is a
    strict superset; per-bucket fan-out is bounded by band_bits — the
    knob that keeps the in-bucket join sub-quadratic at 100 TB."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    return lsh_banded_topk(e, q, 5, n_bands=4, band_bits=8)


def _ivf_cos_sql(a: str, b: str) -> str:
    """round-5 cosine between list columns ``a`` and ``b`` (DuckDB)."""
    return (
        f"round(list_sum(list_transform(range(1, len({a}) + 1), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))) / "
        f"(sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * "
        f"sqrt(list_sum(list_transform({b}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 5)"
    )


@_q(
    "q_ann_ivf_topk",
    f"""
    WITH cents AS (
      SELECT vec_id AS centroid_id, embedding AS c_embedding
      FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
    ),
    asg AS (
      SELECT e.vec_id, e.embedding, c.centroid_id,
             row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY {_ivf_cos_sql('e.embedding', 'c.c_embedding')} DESC,
                        c.centroid_id
             ) AS rn
      FROM embeddings e CROSS JOIN cents c
    ),
    lists AS (SELECT vec_id, embedding, centroid_id FROM asg WHERE rn = 1),
    pr AS (
      SELECT q.query_id, q.q_embedding, c.centroid_id,
             row_number() OVER (
               PARTITION BY q.query_id
               ORDER BY {_ivf_cos_sql('q.q_embedding', 'c.c_embedding')} DESC,
                        c.centroid_id
             ) AS rn
      FROM (SELECT vec_id AS query_id, embedding AS q_embedding
            FROM embeddings WHERE vec_id < 8) q
      CROSS JOIN cents c
    ),
    scored AS (
      SELECT p.query_id, e.vec_id,
             {_ivf_cos_sql('e.embedding', 'p.q_embedding')} AS cosine_sim
      FROM lists e
      JOIN (SELECT query_id, q_embedding, centroid_id FROM pr WHERE rn <= 2) p
        ON e.centroid_id = p.centroid_id
      WHERE e.vec_id <> p.query_id
    ),
    ranked AS (
      SELECT query_id, vec_id, cosine_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine_sim DESC, vec_id) AS rank
      FROM scored
    )
    SELECT query_id, vec_id, cosine_sim, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 5
    ORDER BY query_id, rank
    """,
)
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-k (the coarse-quantizer family next to the sign-LSH
    one): corpus partitioned into 16 inverted lists by nearest
    deterministic centroid (k smallest md5(vec_id) vectors — replayable
    "training"), queries probe their 2 nearest lists. Assignment is a
    map-side fold over a one-row broadcast centroid array — zero
    shuffles; the only corpus shuffle is the centroid_id equi-join, with
    per-list fan-out ~N/16 (n_centroids bounds it, nprobe buys recall)."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    return ivf_topk(e, q, 5, n_centroids=16, nprobe=2)


@_q(
    "q_ann_recall",
    f"""
    WITH qs AS (SELECT vec_id AS query_id, embedding AS q_embedding
                FROM embeddings WHERE vec_id < 8),
    ex AS (
      SELECT query_id, vec_id FROM (
        SELECT q.query_id, e.vec_id,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY round({_DOT_SQL} / ({_NORM_E_SQL} * {_NORM_Q_SQL}), 5)
                          DESC, e.vec_id) AS rank
        FROM embeddings e CROSS JOIN qs q
        WHERE e.vec_id <> q.query_id)
      WHERE rank <= 5),
    cents AS (
      SELECT vec_id AS centroid_id, embedding AS c_embedding
      FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
    ),
    asg AS (
      SELECT e.vec_id, e.embedding, c.centroid_id,
             row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY {_ivf_cos_sql('e.embedding', 'c.c_embedding')} DESC,
                        c.centroid_id
             ) AS rn
      FROM embeddings e CROSS JOIN cents c
    ),
    lists AS (SELECT vec_id, embedding, centroid_id FROM asg WHERE rn = 1),
    pr AS (
      SELECT q.query_id, q.q_embedding, c.centroid_id,
             row_number() OVER (
               PARTITION BY q.query_id
               ORDER BY {_ivf_cos_sql('q.q_embedding', 'c.c_embedding')} DESC,
                        c.centroid_id
             ) AS rn
      FROM qs q CROSS JOIN cents c
    ),
    ap AS (
      SELECT query_id, vec_id FROM (
        SELECT p.query_id, e.vec_id,
               row_number() OVER (PARTITION BY p.query_id
                 ORDER BY {_ivf_cos_sql('e.embedding', 'p.q_embedding')}
                          DESC, e.vec_id) AS rank
        FROM lists e
        JOIN (SELECT query_id, q_embedding, centroid_id FROM pr WHERE rn <= 2) p
          ON e.centroid_id = p.centroid_id
        WHERE e.vec_id <> p.query_id)
      WHERE rank <= 5),
    h AS (SELECT ex.query_id, count(*) AS n_hits
          FROM ex JOIN ap ON ex.query_id = ap.query_id AND ex.vec_id = ap.vec_id
          GROUP BY ex.query_id),
    en AS (SELECT query_id, count(*) AS n_exact FROM ex GROUP BY query_id)
    SELECT en.query_id, CAST(en.n_exact AS BIGINT) AS n_exact,
           CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           round(coalesce(h.n_hits, 0) * 1.0 / en.n_exact, 6) AS recall
    FROM en LEFT JOIN h ON en.query_id = h.query_id
    ORDER BY en.query_id
    """,
)
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 audit of the IVF approximate path (16 lists, nprobe=2)
    against the exact brute-force baseline — the measurement that
    justifies shipping an ANN index at an operating point, the
    embedding-side sibling of q_minhash_est_err. Both sides rank by
    round-5 cosine with vec_id tiebreak, so the top-k SETS and their
    intersection are engine-exact
    (operators/similarity.py:ann_recall_audit)."""
    from kommunedata_data_pipeline_spark.operators.similarity import (
        ann_recall_audit,
    )

    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    return ann_recall_audit(e, q, 5, n_centroids=16, nprobe=2)


@_q(
    "q_semantic_dedup",
    f"""
    WITH cents AS (
      SELECT vec_id AS centroid_id, embedding AS c_embedding
      FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
    ),
    asg AS (
      SELECT e.vec_id, e.embedding, c.centroid_id,
             row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY {_ivf_cos_sql('e.embedding', 'c.c_embedding')} DESC,
                        c.centroid_id
             ) AS rn
      FROM embeddings e CROSS JOIN cents c
    ),
    lists AS (SELECT vec_id, embedding, centroid_id FROM asg WHERE rn = 1),
    ws AS (
      SELECT l.vec_id, l.centroid_id,
             {_ivf_cos_sql('l.embedding', 'c.c_embedding')} AS centroid_sim,
             list_transform(l.embedding, x -> CAST(x AS DOUBLE) /
               sqrt(list_sum(list_transform(l.embedding,
                 v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) AS nvec
      FROM lists l JOIN cents c USING (centroid_id)
    ),
    dom AS (
      SELECT DISTINCT b.vec_id
      FROM ws a JOIN ws b ON a.centroid_id = b.centroid_id
       AND (a.centroid_sim < b.centroid_sim
            OR (a.centroid_sim = b.centroid_sim AND a.vec_id < b.vec_id))
      WHERE round(list_sum(list_transform(range(1, len(a.nvec) + 1),
              i -> a.nvec[i] * b.nvec[i])), 5) >= 0.3
    )
    SELECT vec_id, centroid_id, centroid_sim FROM ws
    WHERE vec_id NOT IN (SELECT vec_id FROM dom)
    ORDER BY vec_id
    """,
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023): pairwise cosine
    ONLY within IVF clusters (deterministic centroids), drop every vector
    dominated by a higher-priority near-duplicate (priority = lower
    centroid similarity — the paper's keep-the-edge-example rule — with
    vec_id tiebreak). The within-cluster self-join is SemDeDup's own
    O(sum n_c^2) trade: n_centroids scales with the corpus so lists stay
    bounded; no cross-cluster pair is ever scored. Completes the dedup
    family's semantic tier next to exact (N1), MinHash (N3), and
    sign-LSH near-dup (N7)."""
    e = _t(spark, sf_dir, "embeddings")
    return semantic_dedup(e, n_centroids=16, threshold=0.3)


@_q(
    "q_semantic_dedup_2level",
    f"""
    WITH cents AS (
      SELECT vec_id AS centroid_id, embedding AS c_embedding
      FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
    ),
    coarse AS (
      SELECT centroid_id AS coarse_id, c_embedding AS co_emb
      FROM cents ORDER BY md5(CAST(centroid_id AS VARCHAR)), centroid_id LIMIT 4
    ),
    f2c AS (
      SELECT centroid_id, c_embedding, coarse_id FROM (
        SELECT c.centroid_id, c.c_embedding, co.coarse_id,
               row_number() OVER (
                 PARTITION BY c.centroid_id
                 ORDER BY {_ivf_cos_sql('c.c_embedding', 'co.co_emb')} DESC,
                          co.coarse_id
               ) AS rn
        FROM cents c CROSS JOIN coarse co
      ) WHERE rn = 1
    ),
    vc AS (
      SELECT vec_id, embedding, coarse_id FROM (
        SELECT e.vec_id, e.embedding, co.coarse_id,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_ivf_cos_sql('e.embedding', 'co.co_emb')} DESC,
                          co.coarse_id
               ) AS rn
        FROM embeddings e CROSS JOIN coarse co
      ) WHERE rn = 1
    ),
    lists AS (
      SELECT vec_id, embedding, centroid_id FROM (
        SELECT v.vec_id, v.embedding, f.centroid_id,
               row_number() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY {_ivf_cos_sql('v.embedding', 'f.c_embedding')} DESC,
                          f.centroid_id
               ) AS rn
        FROM vc v JOIN f2c f ON v.coarse_id = f.coarse_id
      ) WHERE rn = 1
    ),
    ws AS (
      SELECT l.vec_id, l.centroid_id,
             {_ivf_cos_sql('l.embedding', 'c.c_embedding')} AS centroid_sim,
             list_transform(l.embedding, x -> CAST(x AS DOUBLE) /
               sqrt(list_sum(list_transform(l.embedding,
                 v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) AS nvec
      FROM lists l JOIN cents c USING (centroid_id)
    ),
    dom AS (
      SELECT DISTINCT b.vec_id
      FROM ws a JOIN ws b ON a.centroid_id = b.centroid_id
       AND (a.centroid_sim < b.centroid_sim
            OR (a.centroid_sim = b.centroid_sim AND a.vec_id < b.vec_id))
      WHERE round(list_sum(list_transform(range(1, len(a.nvec) + 1),
              i -> a.nvec[i] * b.nvec[i])), 5) >= 0.3
    )
    SELECT vec_id, centroid_id, centroid_sim FROM ws
    WHERE vec_id NOT IN (SELECT vec_id FROM dom)
    ORDER BY vec_id
    """,
)
def q_semantic_dedup_2level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with TWO-LEVEL centroid assignment (the hierarchical-
    quantizer scale path SCALING.md's K-knob battery motivates): flat
    assignment is O(N*K), which caps how far K can chase the corpus;
    coarse-then-refine folds over sqrt(K) coarse centroids, then only
    the matched coarse's fine group — O(N*2*sqrt(K)) with every lookup
    broadcast, corpus never shuffled for assignment. The oracle replays
    the identical two-level rule (same rounded-cos/lowest-id
    tie-breaks), so the approximate-assignment semantics are pinned
    cross-engine, not just asserted."""
    from kommunedata_data_pipeline_spark.operators.similarity import (
        semantic_dedup_2level,
    )

    e = _t(spark, sf_dir, "embeddings")
    return semantic_dedup_2level(e, n_centroids=16, threshold=0.3)


# --------------------------------------------------------------------------
# relational expansion: subquery / outer-join / cube shapes (TPC-H-style,
# adapted to the trimmed star schema — no partsupp/commitdate/shipmode)


@_q(
    "q4_exists_priority",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q4_exists_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape — EXISTS decorrelates to a left-semi join; at scale
    the orders date filter prunes before the shuffle."""
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@_q(
    "q10_returned_items",
    """
    SELECT c_custkey, c_name, n_name,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 2) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape — 4-way join + group + top-k. nation broadcasts;
    customer⋈orders⋈lineitem shuffle on the keys; deterministic top-20
    (rounded revenue desc, custkey tiebreak)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            _rev().alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@_q(
    "q14_promo_effect",
    """
    SELECT round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
                                  THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))
                                  ELSE 0 END) AS DOUBLE)
                 / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 4) AS promo_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-02-01'
    """,
)
def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape — conditional aggregation ratio over a broadcast
    dim join (part is the small side)."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-02-01").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("promo_pct")
        )
    )


@_q(
    "q16_supplier_cnt",
    """
    SELECT p_brand, p_type, p_size, CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_size IN (1, 5, 9, 13, 17, 21)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (partsupp → lineitem): NOT IN subquery as a
    broadcast left-anti join + count distinct."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").where(F.col("p_size").isin(1, 5, 9, 13, 17, 21))
    bad = _t(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


@_q(
    "q17_small_qty",
    """
    WITH thresh AS (
      SELECT l_partkey AS t_partkey, round(0.2 * avg(l_quantity), 6) AS qty_threshold
      FROM lineitem GROUP BY l_partkey
    )
    SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 2) AS avg_yearly
    FROM lineitem
    JOIN part   ON p_partkey = l_partkey
    JOIN thresh ON t_partkey = l_partkey
    WHERE p_brand = 'Brand#23' AND l_quantity < qty_threshold
    """,
)
def q17_small_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape — correlated scalar subquery (per-part avg
    quantity) decorrelated into an aggregate + re-join; the threshold is
    rounded identically on both engines to pin the float boundary."""
    li = _t(spark, sf_dir, "lineitem")
    thresh = li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        F.round(0.2 * F.avg("l_quantity"), 6).alias("qty_threshold")
    )
    p = _t(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#23")
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(thresh, F.col("t_partkey") == F.col("l_partkey"))
        .where(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
        F.round(F.sum(_dec("l_extendedprice")).cast("double") / 7.0, 2).alias(
            "avg_yearly"
        )
    )
    )


@_q(
    "q18_large_orders",
    """
    SELECT c_name, c_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date,
           o_totalprice, round(sum(l_quantity), 2) AS sum_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                         GROUP BY l_orderkey HAVING sum(l_quantity) > 180)
    GROUP BY c_name, c_custkey, o_orderkey, order_date, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape — IN-subquery with HAVING as a semi join; dates
    emitted as ISO strings (cross-engine timestamp stringification
    differs).

    Every output group key is functionally dependent on o_orderkey, so
    the oracle's re-join of lineitem after the HAVING subquery is
    redundant work: the per-order quantity sum from the HAVING agg IS
    sum_qty. One lineitem aggregation + broadcast of the (rare)
    over-threshold orders onto orders/customer — lineitem is scanned
    and shuffled exactly once, which is the plan that survives 100 TB."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("__s"))
        .where(F.col("__s") > 180)  # threshold on the raw sum, like the oracle
        .select("l_orderkey", F.round("__s", 2).alias("sum_qty"))
    )
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        o.join(F.broadcast(big), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_totalprice",
            "sum_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


@_q(
    "q19_disjunctive",
    """
    SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 2) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1'  AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 15)
       OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 20 AND l_quantity BETWEEN 10 AND 25)
       OR (p_brand = 'Brand#20' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 20 AND 35)
    """,
)
def q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape — disjunction of conjunctive range predicates;
    Catalyst extracts the common l_quantity bounds for scan pushdown and
    the join stays broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 15)
        )
        | (
            (F.col("p_brand") == "Brand#13")
            & F.col("p_size").between(1, 20)
            & F.col("l_quantity").between(10, 25)
        )
        | (
            (F.col("p_brand") == "Brand#20")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(20, 35)
        )
    )
    return j.where(cond).agg(
        _rev().alias("revenue")
    )


@_q(
    "q22_no_orders",
    """
    WITH ab AS (SELECT round(avg(c_acctbal), 2) AS avg_bal
                FROM customer WHERE c_acctbal > 0)
    SELECT n_name, count(*) AS numcust, CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM customer JOIN nation ON c_nationkey = n_nationkey, ab
    WHERE c_acctbal > avg_bal
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY n_name
    ORDER BY n_name
    """,
)
def q22_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape — scalar subquery (global avg, broadcast as a 1-row
    frame) + NOT EXISTS (left-anti on orders)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    ab = c.where(F.col("c_acctbal") > 0).agg(
        F.round(F.avg("c_acctbal"), 2).alias("avg_bal")
    )
    recent = o.where(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
    return (
        c.crossJoin(F.broadcast(ab))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count("*").alias("numcust"),
            F.sum(_dec("c_acctbal")).cast("double").alias("totacctbal"),
        )
        .orderBy("n_name")
    )


@_q(
    "q_outer_join_agg",
    """
    SELECT c_custkey, count(o_orderkey) AS n_orders,
           CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS total_spent
    FROM customer LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY c_custkey
    ORDER BY c_custkey
    """,
)
def q_outer_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join + aggregation with null-preserving counts: every
    customer appears, zero-order customers with n_orders = 0."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, F.col("o_custkey") == F.col("c_custkey"), "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(F.sum(_dec("o_totalprice")), F.lit(0).cast("decimal(18,2)"))
            .cast("double")
            .alias("total_spent"),
        )
        .orderBy("c_custkey")
    )


@_q(
    "q_cube_aggregate",
    """
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           count(*) AS n, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY status, priority
    """,
)
def q_cube_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (all 4 combinations of the two dims) — partial
    aggregation covers all sets in one shuffle."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
        F.count("*").alias("n"),
        F.sum(_dec("o_totalprice")).cast("double").alias("total"),
    )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n",
            "total",
        )
        .orderBy("status", "priority")
    )


# --------------------------------------------------------------------------
# as-of join (extended surface, SURVEY §2.3 note)


@_q(
    "q_asof_join",
    """
    WITH c AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
               FROM events WHERE event_type = 'click'),
    p AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id, ts
                                     ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'purchase') t
      WHERE rn = 1
    )
    SELECT c.event_id, c.user_id,
           epoch_us(c.ts) AS click_ts_us,
           epoch_us(p.ts) AS purchase_ts_us,
           p.event_id AS purchase_event_id,
           round(p.value, 2) AS purchase_value
    FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts
    ORDER BY c.event_id
    """,
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (backward) join: each click paired with the user's latest
    preceding purchase. Spark side is the union-sort-fill plan (one
    shuffle on user_id, no per-key quadratic blowup) — see
    operators.joins.asof_join; oracle uses DuckDB's native ASOF JOIN."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    w = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .select("user_id", "ts", "event_id", "value")
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    j = asof_join(
        clicks, purchases, on="user_id", left_ts="ts", right_ts="ts",
        right_payload=["event_id", "value"],
    )
    return j.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("click_ts_us"),
        F.unix_micros("asof_ts").alias("purchase_ts_us"),
        F.col("asof_event_id").alias("purchase_event_id"),
        F.round("asof_value", 2).alias("purchase_value"),
    )


@_q(
    "q2_min_cost_supplier",
    """
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    j AS (
      SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal
      FROM part
      JOIN ps ON l_partkey = p_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      WHERE p_size = 10
    ),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY p_partkey
                                   ORDER BY s_acctbal, s_suppkey) AS rn
      FROM j
    )
    SELECT p_partkey, p_name, s_suppkey AS best_suppkey,
           s_name AS best_supplier, s_acctbal AS best_acctbal
    FROM r WHERE rn = 1
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (partsupp → distinct lineitem pairs): argmin per
    group — the correlated min subquery decorrelated into a window
    row_number with a unique tiebreak."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").where(F.col("p_size") == 10)
    s = _t(spark, sf_dir, "supplier")
    # push the selective part filter BELOW the distinct: a broadcast
    # semi join prunes lineitem to the ~1/50 of rows whose part
    # qualifies before the (partkey, suppkey) distinct shuffles —
    # Catalyst can't reorder a join below an aggregate on its own, and
    # at 100 TB the difference is shuffling 2% of lineitem vs all of it
    ps = (
        li.join(
            F.broadcast(p.select("p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    j = (
        p.join(ps, F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
    )
    w = Window.partitionBy("p_partkey").orderBy("s_acctbal", "s_suppkey")
    return (
        j.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "p_partkey",
            "p_name",
            F.col("s_suppkey").alias("best_suppkey"),
            F.col("s_name").alias("best_supplier"),
            F.col("s_acctbal").alias("best_acctbal"),
        )
    )


@_q(
    "q_arg_extremes",
    """
    SELECT n_name,
           count(*) AS n_customers,
           max(c_acctbal) AS max_bal,
           max_by(c_name, c_custkey) AS newest_customer,
           min_by(c_name, c_custkey) AS first_customer
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    ORDER BY n_name
    """,
)
def q_arg_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by (argmax/argmin aggregates) over a unique ordering
    key — single-pass, map-side combinable (vs. the window+filter shape
    which shuffles the full row set)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.max("c_acctbal").alias("max_bal"),
            F.max_by("c_name", "c_custkey").alias("newest_customer"),
            F.min_by("c_name", "c_custkey").alias("first_customer"),
        )
        .orderBy("n_name")
    )


@_q(
    "q_ngram_jaccard_capped",
    f"""
    WITH {_SHINGLES_CTE},
    sh_capped AS (
      SELECT doc_id, shingle FROM sh
      WHERE shingle IN (SELECT shingle FROM sh
                        GROUP BY shingle HAVING count(*) <= 20)
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh_capped GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM sh_capped a JOIN sh_capped b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(n_common / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.5
    """,
)
def q_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The df_cap scale guard exercised with an oracle: shingles present
    in more than 20 documents are dropped BEFORE the self-join — at
    100 TB a single boilerplate shingle otherwise makes one join key
    quadratic. Sizes/Jaccard are computed on the capped shingle set."""
    d = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(d, 3, 0.5, df_cap=20)


@_q(
    "q7_volume_shipping",
    """
    SELECT supp_nation, cust_nation, l_year, round(CAST(sum(volume) AS DOUBLE), 2) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS INT) AS l_year,
             CAST(l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l_discount AS DECIMAL(18,2))) AS volume
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
    ) t
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape — bidirectional nation-pair predicate over a 6-way
    join, yearly volume rollup; both nation dims broadcast."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    j = (
        li.join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .where(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return (
        j.select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
            (_dec("l_extendedprice") * (1 - _dec("l_discount"))).alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.round(F.sum("volume").cast("double"), 2).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@_q(
    "q8_market_share",
    """
    WITH volumes AS (
      SELECT CAST(year(o_orderdate) AS INT) AS o_year,
             CAST(l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l_discount AS DECIMAL(18,2))) AS volume,
             n1.n_name AS supp_nation
      FROM lineitem
      JOIN part     ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      JOIN region   ON n2.n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE' AND p_type = 'PROMO'
        AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
    )
    SELECT o_year,
           round(CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume
                               ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                 / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share
    FROM volumes GROUP BY o_year ORDER BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape — national market share: conditional share of an
    8-way join, exact-decimal volumes, ratio emitted as double."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    c = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_regionkey").alias("n2_rkey")
    )
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    vol = (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .join(F.broadcast(r), F.col("n2_rkey") == F.col("r_regionkey"))
        .select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            (_dec("l_extendedprice") * (1 - _dec("l_discount"))).alias("volume"),
            "supp_nation",
        )
    )
    zero = F.lit(0).cast("decimal(18,2)")
    return (
        vol.groupBy("o_year")
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", F.col("volume")).otherwise(zero)
                ).cast("double")
                / F.sum("volume").cast("double"),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@_q(
    "q13_order_distribution",
    """
    SELECT c_count, count(*) AS custdist FROM (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey
    ) GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape — customer order-count histogram: outer join,
    per-customer count, then a second aggregation over the counts."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@_q(
    "q15_top_supplier",
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             sum(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape — top supplier by revenue view with a scalar max
    subquery (exact decimal makes the max comparison tie-safe)."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    s = _t(spark, sf_dir, "supplier")
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_dec("l_extendedprice") * (1 - _dec("l_discount"))).alias("total_revenue")
    )
    mx = revenue.agg(F.max("total_revenue").alias("mx"))
    return (
        s.join(revenue, F.col("s_suppkey") == F.col("supplier_no"))
        .crossJoin(F.broadcast(mx))
        .where(F.col("total_revenue") == F.col("mx"))
        .select(
            "s_suppkey", "s_name", F.col("total_revenue").cast("double").alias("total_revenue")
        )
        .orderBy("s_suppkey")
    )


@_q(
    "q_date_arithmetic",
    """
    SELECT o_orderkey,
           strftime(CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE),
                    '%Y-%m-%d') AS due_date,
           CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01')
                AS INT) AS days_to_epoch_end,
           strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
           CAST(isodow(CAST(o_orderdate AS DATE)) AS INT) AS iso_weekday
    FROM orders WHERE o_orderkey % 500 = 0
    """,
)
def q_date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6/F7 date arithmetic battery: interval add, day diff, month end,
    ISO weekday (Spark weekday()+1 == DuckDB isodow — dayofweek() is
    Sunday-based and differs)."""
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") % 500 == 0)
    d = F.to_date("o_orderdate")
    return o.select(
        "o_orderkey",
        F.date_format(F.date_add(d, 30), "yyyy-MM-dd").alias("due_date"),
        F.datediff(F.lit("2002-01-01").cast("date"), d).alias("days_to_epoch_end"),
        F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
        (F.weekday(d) + 1).alias("iso_weekday"),
    )


@_q(
    "q_first_last_window",
    """
    SELECT o_orderkey, o_custkey,
           first_value(o_orderkey) OVER w AS first_order,
           last_value(o_orderkey) OVER (PARTITION BY o_custkey
                                        ORDER BY o_orderdate, o_orderkey
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND UNBOUNDED FOLLOWING) AS last_order,
           CAST(count(*) OVER (PARTITION BY o_custkey) AS BIGINT) AS n_orders
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def q_first_last_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value with explicit frames (last_value needs the
    full-partition frame — the default frame ends at CURRENT ROW, a
    classic silent-wrong-answer) + partition-wide count."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    wall = Window.partitionBy("o_custkey")
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.first("o_orderkey").over(w).alias("first_order"),
        F.last("o_orderkey").over(wfull).alias("last_order"),
        F.count("*").over(wall).alias("n_orders"),
    )


@_q(
    "q_from_json_struct",
    """
    SELECT event_type,
           CAST(count(*) FILTER (WHERE CAST(json_extract_string(props, '$.k') AS INT)
                                       IS NOT NULL) AS BIGINT) AS n_parsed,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS k_total,
           CAST(max(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS k_max
    FROM events GROUP BY event_type
    """,
)
def q_from_json_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed JSON parsing: from_json with a DECLARED schema (vs
    q_json_extract's path probing) — the struct parses once per row and
    every field access is a cheap struct getter; malformed rows become
    null structs, counted via the FILTER twin."""
    ev = _t(spark, sf_dir, "events")
    parsed = ev.select(
        "event_type", F.from_json("props", "k INT").alias("p")
    )
    return parsed.groupBy("event_type").agg(
        F.count(F.col("p.k")).alias("n_parsed"),
        F.sum(F.col("p.k")).alias("k_total"),
        F.max(F.col("p.k")).alias("k_max"),
    )


@_q(
    "q_calendar_fill",
    """
    WITH bounds AS (
      SELECT date_trunc('month', min(o_orderdate)) AS lo,
             date_trunc('month', max(o_orderdate)) AS hi
      FROM orders
    ),
    months AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS month FROM bounds
    ),
    actual AS (
      SELECT date_trunc('month', o_orderdate) AS month, count(*) AS n
      FROM orders GROUP BY 1
    )
    SELECT strftime(CAST(months.month AS DATE), '%Y-%m') AS month,
           CAST(coalesce(actual.n, 0) AS BIGINT) AS n_orders
    FROM months LEFT JOIN actual ON months.month = actual.month
    ORDER BY month
    """,
)
def q_calendar_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-free time series: a generated month spine (sequence + explode
    from the data's own bounds) left-joined to actual counts, zeros
    filled — the standard calendar-fill pattern; the spine is one row
    then explodes, never a driver-side loop."""
    o = _t(spark, sf_dir, "orders")
    bounds = o.agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("lo"),
        F.date_trunc("month", F.max("o_orderdate")).alias("hi"),
    )
    months = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 MONTH"))
        ).alias("month")
    )
    actual = o.groupBy(F.date_trunc("month", "o_orderdate").alias("month")).agg(
        F.count("*").alias("n")
    )
    return (
        months.join(actual, "month", "left")
        .select(
            F.date_format("month", "yyyy-MM").alias("month"),
            F.coalesce("n", F.lit(0)).alias("n_orders"),
        )
        .orderBy("month")
    )


@_q(
    "q_map_ops",
    """
    SELECT user_id,
           CAST(coalesce(sum(CASE WHEN event_type = 'click' THEN 1 END), 0) AS INT) AS clicks,
           CAST(coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 END), 0) AS INT) AS purchases,
           CAST(count(DISTINCT event_type) AS INT) AS n_types
    FROM events GROUP BY user_id
    """,
)
def q_map_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface: per-user event counts assembled into a
    MAP<STRING,INT> (map_from_entries over collect_list), then probed
    with element_at and map_keys. The oracle recomputes the extracted
    scalars relationally — maps never cross the engine boundary (their
    stringification is engine-specific)."""
    ev = _t(spark, sf_dir, "events")
    per_type = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    m = per_type.groupBy("user_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("event_type", F.col("n").cast("int")))
        ).alias("counts")
    )
    return m.select(
        "user_id",
        F.coalesce(F.element_at("counts", "click"), F.lit(0)).alias("clicks"),
        F.coalesce(F.element_at("counts", "purchase"), F.lit(0)).alias("purchases"),
        F.size(F.map_keys("counts")).alias("n_types"),
    )


@_q(
    "q_unpivot_metrics",
    """
    SELECT l_orderkey, l_linenumber, metric, value FROM (
      SELECT l_orderkey, l_linenumber, 'quantity' AS metric, l_quantity AS value
      FROM lineitem WHERE l_orderkey % 1000 = 0
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice
      FROM lineitem WHERE l_orderkey % 1000 = 0
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'discount', l_discount
      FROM lineitem WHERE l_orderkey % 1000 = 0
    )
    """,
)
def q_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (the inverse of q_pivot_event_types) via the
    native unpivot operator — one pass, no self-union of scans."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 1000 == 0)
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "metric",
        "value",
    ).withColumn("metric", F.regexp_replace("metric", "^l_", ""))


@_q(
    "q_range_join",
    """
    WITH e AS (SELECT event_id AS err_id, CAST(ts AS TIMESTAMP) AS start_ts,
                      CAST(ts AS TIMESTAMP) + INTERVAL 5 MINUTE AS end_ts
               FROM events WHERE event_type = 'error'),
    c AS (SELECT CAST(ts AS TIMESTAMP) AS cts FROM events WHERE event_type = 'click')
    SELECT err_id, CAST(count(cts) AS BIGINT) AS n_clicks
    FROM e LEFT JOIN c ON cts >= start_ts AND cts < end_ts
    GROUP BY err_id
    """,
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval-containment) join: clicks inside each error's 5-min
    window. Spark side is the binned equi-join rewrite (no nested-loop —
    plan-audited in test_plans); oracle is DuckDB's native theta join."""
    ev = _t(spark, sf_dir, "events")
    errs = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 5 MINUTES")).alias("end_ts"),
    )
    clicks = ev.where(F.col("event_type") == "click").select(F.col("ts").alias("cts"))
    j = range_join_binned(clicks, errs, "cts", "start_ts", "end_ts", 300)
    counts = j.groupBy("err_id").agg(F.count("*").alias("n_clicks"))
    return (
        errs.select("err_id")
        .join(counts, "err_id", "left")
        .select("err_id", F.coalesce("n_clicks", F.lit(0).cast("bigint")).alias("n_clicks"))
    )


@_q(
    "q_stream_stateful",
    """
    SELECT user_id, count(*) AS n_events,
           round(sum(coalesce(value, 0.0)), 2) AS total_value
    FROM events GROUP BY user_id
    """,
)
def q_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    per-user running totals in the state store. The events file arrives
    as one micro-batch, so the emitted updates equal a plain groupBy —
    an exact SQL oracle for arbitrary-state streaming."""
    from kommunedata_data_pipeline_spark.streaming.stateful import user_running_totals
    from kommunedata_data_pipeline_spark.streaming.windows import (
        read_events_stream,
        run_to_memory,
    )

    s = user_running_totals(read_events_stream(spark, sf_dir))
    run_to_memory(s, "q_stream_stateful_sink", output_mode="update")
    return spark.table("q_stream_stateful_sink")


def _maybe_register_tws() -> None:
    """q_stream_tws (Spark 4 transformWithStateInPandas — successor API
    to applyInPandasWithState) registers only where the runtime can
    execute it: the TWS Python runner hard-imports google.protobuf.
    compat.pbruntime bootstraps a pure-Python runtime when no pip
    package exists (vendored-runtime probe + runtime_version shim +
    sitecustomize on the worker PYTHONPATH), so on this container the
    gate is now open; it stays closed only where neither a real install
    nor a vendored runtime can be found."""
    from kommunedata_data_pipeline_spark.streaming.stateful import tws_available

    if not tws_available():
        return

    @_q(
        "q_stream_tws",
        """
        SELECT user_id, count(*) AS n_events,
               round(sum(coalesce(value, 0.0)), 2) AS total_value,
               min(value) AS min_value, max(value) AS max_value
        FROM events GROUP BY user_id
        """,
    )
    def q_stream_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Per-user running count/total/min/max in a named typed
        ValueState, RocksDB state store. One micro-batch over the events
        file ⇒ the emitted updates equal a plain groupBy — exact SQL
        oracle. min/max are untouched input doubles (bit-identical both
        engines); the sum is rounded per the parity rules."""
        from kommunedata_data_pipeline_spark.streaming.stateful import (
            TWS_STATE_PARTITIONS,
            enable_tws_workers,
            rocksdb_state_store,
            user_value_stats_tws,
        )
        from kommunedata_data_pipeline_spark.streaming.windows import (
            read_events_stream,
            run_to_memory,
        )

        enable_tws_workers(spark)
        with rocksdb_state_store(spark):
            s = user_value_stats_tws(read_events_stream(spark, sf_dir))
            run_to_memory(
                s,
                "q_stream_tws_sink",
                output_mode="update",
                shuffle_partitions=TWS_STATE_PARTITIONS,
            )
        return spark.table("q_stream_tws_sink")


def _maybe_register_tws_topk() -> None:
    """q_stream_tws_topk — the ListState half of the transformWithState
    surface (ValueState is q_stream_tws). Same capability gate."""
    from kommunedata_data_pipeline_spark.streaming.stateful import tws_available

    if not tws_available():
        return

    @_q(
        "q_stream_tws_topk",
        """
        WITH r AS (
          SELECT user_id, value, event_id,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY value DESC, event_id) AS rnk
          FROM events
          WHERE user_id IS NOT NULL AND value IS NOT NULL
            AND user_id % 5 = 0
        )
        SELECT user_id, CAST(rnk AS INT) AS rnk, value, event_id
        FROM r WHERE rnk <= 3
        """,
    )
    def q_stream_tws_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Per-user running top-3 events by value in a typed ListState
        (bounded k rows per key), RocksDB store. One micro-batch ⇒ the
        standings equal the batch window top-3 — exact oracle. Values
        are untouched input doubles (bit-identical both engines).
        Restricted to the user_id%5 cohort: every ListState get/put is a
        synchronous state-server round trip per key per batch, and this
        bounded demo run pays ~3 of them per key — the cohort bounds
        that chatter while exercising the identical operator shape (a
        real deployment amortizes the same cost over the stream's
        lifetime, not per run)."""
        from kommunedata_data_pipeline_spark.streaming.stateful import (
            TWS_STATE_PARTITIONS,
            enable_tws_workers,
            rocksdb_state_store,
            user_topk_tws,
        )
        from kommunedata_data_pipeline_spark.streaming.windows import (
            read_events_stream,
            run_to_memory,
        )

        enable_tws_workers(spark)
        with rocksdb_state_store(spark):
            s = user_topk_tws(
                read_events_stream(spark, sf_dir).where(
                    F.col("user_id").isNotNull()
                    & F.col("value").isNotNull()
                    & (F.col("user_id") % 5 == 0)
                )
            )
            run_to_memory(
                s,
                "q_stream_tws_topk_sink",
                output_mode="update",
                shuffle_partitions=TWS_STATE_PARTITIONS,
            )
        return spark.table("q_stream_tws_topk_sink")


def _maybe_register_tws_mapstate() -> None:
    """q_stream_tws_mapstate — the MapState member of the typed-state
    family (ValueState: q_stream_tws; ListState: q_stream_tws_topk;
    timers: q_stream_session_parity), completing driver-oracled coverage
    of the whole transformWithState state surface."""
    from kommunedata_data_pipeline_spark.streaming.stateful import tws_available

    if not tws_available():
        return

    @_q(
        "q_stream_tws_mapstate",
        """
        SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
        FROM events
        WHERE user_id IS NOT NULL AND event_type IS NOT NULL
          AND user_id % 11 = 0
        GROUP BY user_id, event_type
        """,
    )
    def q_stream_tws_mapstate(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Per-(user, event_type) running counts in a typed MapState —
        point per-subkey reads/writes (only the types seen this batch),
        the right state shape for sparse large per-key domains. One
        micro-batch ⇒ emissions equal a plain two-key groupBy count —
        exact oracle. Cohort-bounded (user_id % 11) for the same reason
        as q_stream_tws_topk: each touched (user, type) pair is a
        synchronous get+update round trip per batch, a cost a real
        deployment amortizes over the stream lifetime."""
        from kommunedata_data_pipeline_spark.streaming.stateful import (
            TWS_STATE_PARTITIONS,
            enable_tws_workers,
            rocksdb_state_store,
            user_type_counts_tws,
        )
        from kommunedata_data_pipeline_spark.streaming.windows import (
            read_events_stream,
            run_to_memory,
        )

        enable_tws_workers(spark)
        with rocksdb_state_store(spark):
            s = user_type_counts_tws(
                read_events_stream(spark, sf_dir).where(
                    F.col("user_id").isNotNull()
                    & F.col("event_type").isNotNull()
                    & (F.col("user_id") % 11 == 0)
                )
            )
            run_to_memory(
                s,
                "q_stream_tws_mapstate_sink",
                output_mode="update",
                shuffle_partitions=TWS_STATE_PARTITIONS,
            )
        return spark.table("q_stream_tws_mapstate_sink")


def _maybe_register_tws_session_parity() -> None:
    """q_stream_session_parity — cross-validates the two independent
    session implementations: the event-time-timer transformWithState
    processor (streaming/stateful.py:SessionCloseProcessor) against the
    built-in ``session_window`` aggregation. Same capability gate as the
    other TWS queries."""
    from kommunedata_data_pipeline_spark.streaming.stateful import tws_available

    if not tws_available():
        return

    @_q(
        "q_stream_session_parity",
        """
        WITH coh AS (
          SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
          WHERE user_id IS NOT NULL AND ts IS NOT NULL AND user_id % 7 = 0
        ),
        s AS (SELECT user_id, ts,
                CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 600000000
                     THEN 1 ELSE 0 END AS new_s
              FROM coh WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        g AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                         ROWS UNBOUNDED PRECEDING) AS sid
              FROM s)
        SELECT user_id, min(ts) AS session_start,
               max(ts) + INTERVAL 10 MINUTE AS session_end,
               CAST(count(*) AS BIGINT) AS n_events
        FROM g GROUP BY user_id, sid
        HAVING max(ts) + INTERVAL 10 MINUTE <= (SELECT max(ts) FROM coh)
        """,
    )
    def q_stream_session_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Two INDEPENDENT streaming session implementations over the
        same cohort, inner-joined on every output column: the TWS
        event-time-timer processor (emit-on-inactivity + evidence-close)
        and the built-in watermarked ``session_window`` aggregation.
        They agree exactly on a bounded in-order replay — any divergence
        (a session split/merge bug, a timer boundary error) shrinks the
        join and the driver's row-count/hash check goes red. The oracle
        is the batch gaps-and-islands SQL restricted to sessions closed
        before the final watermark (= max cohort ts; watermark delay 0)."""
        from kommunedata_data_pipeline_spark.streaming.stateful import (
            TWS_STATE_PARTITIONS,
            enable_tws_workers,
            rocksdb_state_store,
            session_close_tws,
        )
        from kommunedata_data_pipeline_spark.streaming.windows import (
            finish_to_memory,
            read_events_stream,
            start_to_memory,
        )

        def cohort(df: DataFrame) -> DataFrame:
            return df.where(
                F.col("user_id").isNotNull()
                & F.col("ts").isNotNull()
                & (F.col("user_id") % 7 == 0)
            ).select("user_id", "ts")

        enable_tws_workers(spark)
        # The two session implementations are INDEPENDENT streams over
        # the same bounded input — start both, then drain both (guide
        # §2.6): the serial version paid two full stream lifecycles
        # back-to-back while the cluster idled through each one's
        # planning/WAL/stop floor. Confs are cloned per query at start
        # (start_to_memory), so the TWS query keeps RocksDB + its
        # partition count and the session_window query keeps the
        # default store + 2 partitions, exactly as the serial runs did.
        with rocksdb_state_store(spark):
            s = session_close_tws(
                cohort(read_events_stream(spark, sf_dir)),
                gap="10 minutes",
                watermark="0 seconds",
            )
            h_tws = start_to_memory(
                s,
                "q_tws_sess_par_sink",
                output_mode="append",
                shuffle_partitions=TWS_STATE_PARTITIONS,
            )
        sw = (
            cohort(read_events_stream(spark, sf_dir))
            .withWatermark("ts", "0 seconds")
            .groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                "user_id",
                F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"),
                "n_events",
            )
        )
        try:
            h_sw = start_to_memory(
                sw,
                "q_sw_sess_par_sink",
                output_mode="append",
                shuffle_partitions=2,
            )
        except Exception:
            finish_to_memory(h_tws[0], "q_tws_sess_par_sink", *h_tws[1:])
            raise
        finish_to_memory(h_tws[0], "q_tws_sess_par_sink", *h_tws[1:])
        finish_to_memory(h_sw[0], "q_sw_sess_par_sink", *h_sw[1:])
        # merge the two streams' phase durations under this query's
        # canonical sink key so the bench floor decomposition sees the
        # combined addBatch instead of falling back to wall time
        from kommunedata_data_pipeline_spark.streaming.windows import (
            LAST_RUN_DURATIONS,
        )

        _merged: dict[str, int] = {}
        for _snk in ("q_tws_sess_par_sink", "q_sw_sess_par_sink"):
            for _k, _v in (LAST_RUN_DURATIONS.get(_snk) or {}).items():
                _merged[_k] = _merged.get(_k, 0) + _v
        LAST_RUN_DURATIONS["q_stream_session_parity_sink"] = _merged
        tws = spark.table("q_tws_sess_par_sink").select(
            "user_id",
            F.timestamp_micros(F.col("session_start_us")).alias("session_start"),
            (
                F.timestamp_micros(F.col("session_end_us"))
                + F.expr("INTERVAL 10 MINUTES")
            ).alias("session_end"),
            "n_events",
        )
        both = spark.table("q_sw_sess_par_sink")
        return tws.join(
            both, ["user_id", "session_start", "session_end", "n_events"], "inner"
        )


_maybe_register_tws()
_maybe_register_tws_topk()
_maybe_register_tws_mapstate()
_maybe_register_tws_session_parity()


@_q(
    "q_python_datasource",
    """
    WITH m AS (SELECT i FROM range(3) t(i)),
    c AS (SELECT j FROM range(2) t(j)),
    p AS (SELECT i, j, p FROM m, c, range(3) t(p) WHERE p < 2 + (i+j) % 2),
    r AS (SELECT i, j, p, k FROM p, range(3) t(k))
    SELECT 'm'||i AS municipality, 'c'||j AS committee,
           CAST(p AS INT) AS page_no, CAST(k AS INT) AS pos,
           'https://m'||i||'.dk/c'||j||'/doc'||(p*3+k) AS url,
           CASE WHEN k%2=0 THEN 'Referat' ELSE 'Dagsorden' END AS raw_type
    FROM r WHERE 'm'||i = 'm1'
    """,
)
def q_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end drive of the custom Spark 4 Python DataSource
    (sources/datasource.py — the reference's portal listings as a
    declarative source, S5–S11): a deterministic synthetic portal
    directory is materialized once, read through
    ``spark.read.format("kommunedata_listings")``, and an equality
    filter on municipality exercises source-level pushdown pruning
    (the non-matching portals are never opened — asserted separately in
    tests/test_datasource.py). The fixture is pure arithmetic, so the
    oracle regenerates the identical rows from ``range()`` — an
    engine-independent check of the whole partition/pushdown/read
    path. The fixture is tiny (KBs), content-versioned by path, and
    left in place: the returned DataFrame reads it lazily."""
    import json as _json
    import os as _os
    import tempfile as _tempfile

    from kommunedata_data_pipeline_spark.sources.datasource import register

    base = "/dev/shm" if _os.path.isdir("/dev/shm") else _tempfile.gettempdir()
    d = _os.path.join(base, "kdp_portal_fixture_v1")
    if not _os.path.isdir(d):
        tmp = _tempfile.mkdtemp(prefix="kdp_portal_", dir=base)
        for i in range(3):
            for j in range(2):
                npages = 2 + (i + j) % 2
                pages = [
                    [
                        {
                            "url": f"https://m{i}.dk/c{j}/doc{p * 3 + k}",
                            "raw_date": f"2024-01-{k + 1:02d}",
                            "raw_type": "Referat" if k % 2 == 0 else "Dagsorden",
                        }
                        for k in range(3)
                    ]
                    for p in range(npages)
                ]
                with open(_os.path.join(tmp, f"m{i}__c{j}.json"), "w") as fh:
                    _json.dump(pages, fh)
        try:
            _os.rename(tmp, d)
        except OSError:  # lost a concurrent-creation race: theirs is identical
            import shutil as _shutil

            _shutil.rmtree(tmp, ignore_errors=True)
    register(spark)
    return (
        spark.read.format("kommunedata_listings")
        .option("path", d)
        .load()
        .where(F.col("municipality") == "m1")
        .select(
            "municipality", "committee", "page_no", "pos", "url", "raw_type"
        )
    )


@_q(
    "q_variant_json",
    """
    SELECT event_id, event_type AS t, round(value, 6) AS v,
           user_id AS u, CAST(NULL AS INT) AS miss
    FROM events WHERE user_id IS NOT NULL
    """,
)
def q_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT surface: JSON text → ``parse_json`` → typed
    ``variant_get``/``try_variant_get`` path extraction (the
    semi-structured type that shreds lazily instead of forcing a
    schema up front — the scale answer to ragged JSON columns). The
    JSON is built from the row's own columns, so the oracle recomputes
    every extraction from the originals — a pure round-trip identity
    check (string → variant → typed value == source column).
    try_variant_get on a missing path must yield NULL, not error."""
    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select(
            "event_id",
            F.to_json(
                F.struct(
                    F.col("event_type").alias("t"),
                    F.col("value").alias("v"),
                    F.struct(F.col("user_id").alias("u")).alias("nested"),
                )
            ).alias("js"),
        )
    )
    v = ev.select("event_id", F.parse_json("js").alias("vr"))
    return v.select(
        "event_id",
        F.variant_get("vr", "$.t", "string").alias("t"),
        F.round(F.variant_get("vr", "$.v", "double"), 6).alias("v"),
        F.variant_get("vr", "$.nested.u", "bigint").alias("u"),
        F.try_variant_get("vr", "$.missing", "int").alias("miss"),
    )


@_q(
    "q_pipe_syntax",
    """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS total
    FROM orders WHERE o_orderstatus = 'O'
    GROUP BY o_orderpriority
    """,
)
def q_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL pipe syntax (|>) — the full SQL surface is exposed,
    not just the DataFrame DSL: the same relational program written as
    a linear pipeline (FROM |> WHERE |> AGGREGATE ... GROUP BY).
    Catalyst compiles it to the identical plan as the classic form, so
    the plain-SQL oracle pins the semantics."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_pipe_v")
    return spark.sql(
        """
        FROM orders_pipe_v
        |> WHERE o_orderstatus = 'O'
        |> AGGREGATE count(*) AS n,
                     round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                                AS DOUBLE), 2) AS total
           GROUP BY o_orderpriority
        |> SELECT o_orderpriority, n, total
        """
    )


@_q(
    "q_collation",
    """
    WITH mixed AS (
      SELECT CASE WHEN event_id % 2 = 0 THEN upper(event_type)
                  ELSE lower(event_type) END AS et
      FROM events WHERE event_type IS NOT NULL
    )
    SELECT lower(et) AS event_type_ci, CAST(count(*) AS BIGINT) AS n
    FROM mixed GROUP BY lower(et)
    """,
)
def q_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 collation surface: grouping under UTF8_LCASE compares
    case-insensitively WITHOUT rewriting every row through lower() —
    at scale the collation applies inside the hash aggregate instead
    of materializing a second string column. The case mix is synthetic
    (upper on even event_ids); the emitted key is lowercased so both
    engines pick the same representative."""
    mixed = (
        _t(spark, sf_dir, "events")
        .where(F.col("event_type").isNotNull())
        .select(
            F.when(
                F.col("event_id") % 2 == 0, F.upper("event_type")
            )
            .otherwise(F.lower("event_type"))
            .alias("et")
        )
    )
    return (
        mixed.groupBy(F.collate("et", "UTF8_LCASE").alias("et_ci"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lower(F.col("et_ci")).cast("string").alias("event_type_ci"), "n"
        )
    )


@_q(
    "q_stream_enrich",
    """
    SELECT c_mktsegment, event_type, count(*) AS n,
           round(sum(coalesce(value, 0.0)), 2) AS total_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment, event_type
    """,
)
def q_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the events stream enriched with the customer
    dim (broadcast — the stream side never shuffles for the join), then
    a complete-mode segment×type rollup. Exact oracle: one micro-batch ⇒
    the complete-mode result equals the batch join+aggregate."""
    from kommunedata_data_pipeline_spark.streaming.windows import (
        read_events_stream,
        run_to_memory,
        stream_static_enrich,
    )

    ev = read_events_stream(spark, sf_dir)
    cust = _t(spark, sf_dir, "customer")
    agg = (
        stream_static_enrich(ev, cust, "user_id", "c_custkey")
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.coalesce("value", F.lit(0.0))), 2).alias("total_value"),
        )
    )
    run_to_memory(agg, "q_stream_enrich_sink", output_mode="complete", shuffle_partitions=2)
    return spark.table("q_stream_enrich_sink")


# --------------------------------------------------------------------------
# north-star additions: embedding near-dup, rolling-hash fingerprint,
# BPE-ish token counting


@_q(
    "q_embedding_near_dup",
    f"""
    WITH keys AS (
      SELECT vec_id, embedding, CAST(b.b AS INT) AS band,
             CAST(list_sum(list_transform(range(0, 8), i ->
               CASE WHEN embedding[b.b*8 + i + 1] > 0 THEN CAST(pow(2, i) AS BIGINT)
                    ELSE 0 END)) AS BIGINT) AS bkey
      FROM embeddings, (SELECT unnest(range(0, 4)) AS b) b
    )
    , scored AS (
      SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b,
             round(
               list_sum(list_transform(range(1, len(x.embedding) + 1),
                 i -> CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(x.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
                  * sqrt(list_sum(list_transform(y.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))),
               5) AS cosine_sim
      FROM keys x JOIN keys y
        ON x.band = y.band AND x.bkey = y.bkey AND x.vec_id < y.vec_id
    )
    SELECT vec_a, vec_b, cosine_sim FROM scored
    WHERE cosine_sim >= 0.3
    ORDER BY vec_a, vec_b
    """,
)
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (5th dedup family), banded
    multi-probe: candidates share ANY of 4 bands of 8 sign-bits (union,
    dedup'd), exact cosine verifies. band_bits bounds per-bucket pair
    fan-out — the 100 TB hardening VERDICT r1 asked for."""
    e = _t(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs_banded(e, n_bands=4, band_bits=8, threshold=0.3)


@_q(
    "q_ann_index_update",
    f"""
    WITH keys AS (
      SELECT vec_id, embedding, CAST(b.b AS INT) AS band,
             CAST(list_sum(list_transform(range(0, 8), i ->
               CASE WHEN embedding[b.b*8 + i + 1] > 0 THEN CAST(pow(2, i) AS BIGINT)
                    ELSE 0 END)) AS BIGINT) AS bkey
      FROM embeddings, (SELECT unnest(range(0, 4)) AS b) b
    )
    , scored AS (
      SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b,
             round(
               list_sum(list_transform(range(1, len(x.embedding) + 1),
                 i -> CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(x.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
                  * sqrt(list_sum(list_transform(y.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))),
               5) AS cosine_sim
      FROM keys x JOIN keys y
        ON x.band = y.band AND x.bkey = y.bkey AND x.vec_id < y.vec_id
    )
    SELECT vec_a, vec_b, cosine_sim FROM scored
    WHERE cosine_sim >= 0.3 AND (vec_a % 10 >= 8 OR vec_b % 10 >= 8)
    ORDER BY vec_a, vec_b
    """,
)
def q_ann_index_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL embedding near-dup (VERDICT r6 #4 — the ANN sibling
    of q_minhash_index_update): the 20% of vectors with vec_id%10>=8
    arrive as a fresh batch and are deduped against the stored
    sign-LSH band table of the other 80%
    (operators/similarity.py:ann_index_update) — banding is computed
    for the NEW batch only, candidates come from a (band, bkey)
    equi-join against the index plus the batch's self-join, exact
    cosine verifies. The oracle is the full-rebuild banded pair set
    restricted to pairs with a new member — update-then-query must
    equal rebuild exactly."""
    from kommunedata_data_pipeline_spark.operators.similarity import (
        ann_band_table,
        ann_index_update,
    )

    e = _t(spark, sf_dir, "embeddings")
    old = e.where(F.col("vec_id") % 10 < 8)
    new = e.where(F.col("vec_id") % 10 >= 8)
    index = ann_band_table(old, 4, 8)
    pairs, _updated = ann_index_update(new, index, 4, 8, 0.3)
    return pairs.orderBy("vec_a", "vec_b")


@_q(
    "q_ivf_index_update",
    f"""
    WITH cents AS (
      SELECT vec_id AS centroid_id, embedding AS c_embedding
      FROM embeddings WHERE vec_id % 10 < 8
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
    ),
    asg AS (
      SELECT e.vec_id, c.centroid_id,
             row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY {_ivf_cos_sql('e.embedding', 'c.c_embedding')} DESC,
                        c.centroid_id
             ) AS rn
      FROM embeddings e CROSS JOIN cents c
    )
    SELECT centroid_id, CAST(count(*) AS BIGINT) AS n_vecs,
           min(vec_id) AS min_vec, max(vec_id) AS max_vec,
           CAST(sum(vec_id) AS BIGINT) AS sum_vec
    FROM asg WHERE rn = 1
    GROUP BY centroid_id ORDER BY centroid_id
    """,
)
def q_ivf_index_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF ingest (the inverted-list sibling of
    q_ann_index_update): centroids are FROZEN from the 80% old corpus
    (train once, assign forever — the Faiss add() discipline); the 20%
    new batch is assigned map-side against the broadcast centroid
    array and spliced into the stored assignment table
    (operators/similarity.py:ivf_index_update). The oracle is the
    full-rebuild assignment of ALL vectors under the same frozen
    centroids, summarized per inverted list — update-then-assign must
    equal rebuild exactly."""
    from kommunedata_data_pipeline_spark.operators.similarity import (
        deterministic_centroids,
        ivf_assignment_table,
        ivf_index_update,
    )

    e = _t(spark, sf_dir, "embeddings")
    old = e.where(F.col("vec_id") % 10 < 8)
    new = e.where(F.col("vec_id") % 10 >= 8)
    cents = deterministic_centroids(old, 16)
    index = ivf_assignment_table(old, cents)
    updated = ivf_index_update(new, index, cents)
    return (
        updated.groupBy("centroid_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.min("vec_id").alias("min_vec"),
            F.max("vec_id").alias("max_vec"),
            F.sum("vec_id").cast("bigint").alias("sum_vec"),
        )
        .orderBy("centroid_id")
    )


@_q(
    "q_rolling_fingerprint",
    f"""
    WITH norm AS (SELECT doc_id, {_NORM_SQL} AS t FROM documents),
    th AS (SELECT doc_id,
                  list_transform(string_split(t, ' '),
                    x -> ('0x' || substr(md5(x), 1, 8))::BIGINT % {ROLL_TOK_MOD}) AS h
           FROM norm),
    rh AS (SELECT doc_id, CASE WHEN len(h) >= 4 THEN
             list_transform(range(0, len(h) - 3), i ->
               (h[i+1]*{ROLL_B**3} + h[i+2]*{ROLL_B**2} + h[i+3]*{ROLL_B} + h[i+4])
               % {ROLL_P})
           ELSE [] END AS r FROM th)
    SELECT doc_id, CAST(len(r) AS INT) AS n_windows, list_min(r) AS min_rhash
    FROM rh ORDER BY doc_id
    """,
)
def q_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rabin-Karp rolling-hash document fingerprint (winnowing-style min
    over all 4-token windows) — the fingerprinting family's near-dup
    prefilter; token hashes computed once per doc (let-bound)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(rolling_hashes(F.col("text"), 4)).alias("n_windows"),
        rolling_fingerprint(F.col("text"), 4).alias("min_rhash"),
    )


@_q(
    "q_bpe_token_count",
    f"""
    SELECT doc_id,
           CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS INT)
             AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+'))
             AS INT) AS n_bpe_tokens
    FROM documents ORDER BY doc_id
    """,
)
def q_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting both ways (north star): whitespace tokens and a
    GPT-2-style BPE pre-tokenizer regex — pure regexp_extract_all, stays
    in codegen."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count(F.col("text")).alias("n_ws_tokens"),
        bpe_token_count(F.col("text")).alias("n_bpe_tokens"),
    )


@_q(
    "q_window_frames",
    """
    SELECT o_orderkey, o_custkey,
           CAST(rank() OVER w AS INT) AS rnk,
           CAST(dense_rank() OVER w AS INT) AS drnk,
           CAST(ntile(4) OVER w AS INT) AS quartile,
           lead(o_totalprice) OVER w AS next_price,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey
                                         ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS moving_sum
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def q_window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking family + lead + bounded sliding frame (4-row moving
    sum; a 4-value avg of 2-decimal prices ties at the half-cent and
    rounds differently across engines) — one shuffle on the partition key
    serves every function
    (single Window spec)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wavg = w.rowsBetween(-3, 0)
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.sum(_dec("o_totalprice")).over(wavg).cast("double").alias("moving_sum"),
    )


@_q(
    "q_grouping_sets",
    """
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           CAST(grouping(o_orderstatus) AS INT) AS g_status,
           CAST(grouping(o_orderpriority) AS INT) AS g_priority,
           count(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS with grouping() flags, run through the
    spark.sql() surface on a registered view — identical SQL text runs on
    both engines (the engine exposes the full SQL API, not just the
    DataFrame DSL)."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT coalesce(o_orderstatus, 'ALL') AS status,
               coalesce(o_orderpriority, 'ALL') AS priority,
               CAST(grouping(o_orderstatus) AS INT) AS g_status,
               CAST(grouping(o_orderpriority) AS INT) AS g_priority,
               count(*) AS n
        FROM orders_v
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@_q(
    "q_distinct_two_phase",
    """
    SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY event_type
    """,
)
def q_distinct_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct-count via two hash aggregates (skew-safe scale path
    for COUNT(DISTINCT) on hot keys — see operators.aggregates)."""
    from kommunedata_data_pipeline_spark.operators.aggregates import (
        distinct_count_two_phase,
    )

    ev = _t(spark, sf_dir, "events")
    return distinct_count_two_phase(ev, "event_type", "user_id", "n_users")


@_q(
    "q_percentiles",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.25), 6) AS p25,
           round(quantile_cont(value, 0.50), 6) AS p50,
           round(quantile_cont(value, 0.90), 6) AS p90
    FROM events GROUP BY event_type
    """,
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per key (Spark `percentile` ==
    DuckDB `quantile_cont`, both linear-interpolation). The scale path
    swaps in approx_percentile (t-digest sketch, one pass, mergeable)
    when exactness isn't required."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.25)"), 6).alias("p25"),
        F.round(F.expr("percentile(value, 0.50)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.90)"), 6).alias("p90"),
    )


@_q(
    "q_base64_roundtrip",
    """
    SELECT doc_id, to_base64(encode(text)) AS b64,
           CAST(octet_length(from_base64(to_base64(encode(text)))) AS INT) AS n_bytes
    FROM documents
    """,
)
def q_base64_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10 — base64 encode/decode round trip over UTF-8 bytes (the
    reference decodes CDP PDF payloads, scraper_svendborg.py:268)."""
    d = _t(spark, sf_dir, "documents")
    raw = F.base64(F.col("text").cast("binary"))
    # Spark emits MIME base64 (CRLF every 76 chars); canonicalize to the
    # unwrapped form DuckDB produces. unbase64 accepts both.
    b = F.regexp_replace(raw, "\r\n", "")
    return d.select(
        "doc_id",
        b.alias("b64"),
        F.length(F.unbase64(b)).alias("n_bytes"),
    )


# --------------------------------------------------------------------------
# streaming surface (SURVEY §2.10) — REAL Structured Streaming executions
# (file source → watermark/window → memory sink, driven to completion).
# Every streaming query here has an EXACT batch-SQL oracle: dedup on a
# unique key emits the input relation, and append-mode watermark holdback
# is deterministic over a finite input — emitted windows are exactly
# those with window_end <= max(ts) - watermark, expressible as a HAVING.


@_q(
    "q_stream_dedup",
    """
    SELECT event_id, user_id, event_type FROM events ORDER BY event_id
    """,
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked streaming dropDuplicates on event_id (ST2 exactly-once
    semantics in stream form). event_id is unique, so the emitted stream
    equals the input relation — an exact SQL oracle for a streaming op."""
    from kommunedata_data_pipeline_spark.streaming.windows import (
        read_events_stream,
        run_to_memory,
        streaming_dedup,
    )

    s = streaming_dedup(read_events_stream(spark, sf_dir)).select(
        "event_id", "user_id", "event_type"
    )
    run_to_memory(s, "q_stream_dedup_sink", shuffle_partitions=2)
    return spark.table("q_stream_dedup_sink").orderBy("event_id")


@_q(
    "q_stream_dedup_ttl",
    """
    SELECT event_id, user_id, event_type FROM events ORDER BY event_id
    """,
)
def q_stream_dedup_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` — dedup whose per-key state is
    dropped once the watermark passes first-seen + delay (bounded state
    by contract, vs plain dropDuplicates' unbounded key set; see
    streaming/windows.py:streaming_dedup_within_watermark). event_id is
    unique in the corpus, so the emitted stream equals the input
    relation — the exact oracle; the TTL semantics (late duplicate
    re-emission after state expiry) are pinned in pytest where batch
    boundaries can be controlled."""
    from kommunedata_data_pipeline_spark.streaming.windows import (
        read_events_stream,
        run_to_memory,
        streaming_dedup_within_watermark,
    )

    s = streaming_dedup_within_watermark(read_events_stream(spark, sf_dir)).select(
        "event_id", "user_id", "event_type"
    )
    run_to_memory(s, "q_stream_dedup_ttl_sink", shuffle_partitions=2)
    return spark.table("q_stream_dedup_ttl_sink").orderBy("event_id")


@_q(
    "q_stream_tumbling",
    """
    SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start,
           event_type, count(*) AS n, round(sum(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    HAVING time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) + INTERVAL 1 HOUR
           <= (SELECT max(CAST(ts AS TIMESTAMP)) FROM events) - INTERVAL 2 HOUR
    """,
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window streaming aggregation with a 2h late-data
    watermark, driven to completion over the events file source."""
    from kommunedata_data_pipeline_spark.streaming.windows import (
        read_events_stream,
        run_to_memory,
        tumbling_counts,
    )

    s = tumbling_counts(read_events_stream(spark, sf_dir))
    run_to_memory(s, "q_stream_tumbling_sink", shuffle_partitions=1)
    return spark.table("q_stream_tumbling_sink").orderBy("window_start", "event_type")


@_q(
    "q_stream_sliding",
    """
    WITH w AS (
      SELECT time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP))
               AS window_start, value FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP))
               - INTERVAL '30 minutes', value FROM events
    )
    SELECT window_start, count(*) AS n, round(sum(value), 2) AS total_value
    FROM w
    GROUP BY window_start
    HAVING window_start + INTERVAL 1 HOUR
           <= (SELECT max(CAST(ts AS TIMESTAMP)) FROM events) - INTERVAL 2 HOUR
    """,
)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window (1 h / 30 min) streaming aggregation under a 2 h
    watermark, driven over the events file source — completes the real
    tumbling/sliding/session stream-window family. Append mode: only
    watermark-closed windows emit (the oracle's HAVING mirrors that)."""
    from kommunedata_data_pipeline_spark.streaming.windows import (
        read_events_stream,
        run_to_memory,
        sliding_counts,
    )

    s = sliding_counts(read_events_stream(spark, sf_dir))
    run_to_memory(s, "q_stream_sliding_sink", shuffle_partitions=1)
    return spark.table("q_stream_sliding_sink").orderBy("window_start")


@_q(
    "q_stream_session",
    """
    WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
    s AS (SELECT user_id, ts, value,
            CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 600000000
                 THEN 1 ELSE 0 END AS new_s
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    g AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                     ROWS UNBOUNDED PRECEDING) AS sid FROM s)
    SELECT min(ts) AS session_start, max(ts) + INTERVAL 10 MINUTE AS session_end,
           user_id, count(*) AS n_events, round(sum(value), 2) AS session_value
    FROM g GROUP BY user_id, sid
    HAVING max(ts) + INTERVAL 10 MINUTE
           <= (SELECT max(CAST(ts AS TIMESTAMP)) FROM events) - INTERVAL 30 MINUTE
    """,
)
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user gap-merged session windows (session_window) under a
    watermark — the streaming-native sessionization."""
    from kommunedata_data_pipeline_spark.streaming.windows import (
        read_events_stream,
        run_to_memory,
        session_agg,
    )

    s = session_agg(read_events_stream(spark, sf_dir))
    run_to_memory(s, "q_stream_session_sink", shuffle_partitions=2)
    return spark.table("q_stream_session_sink").orderBy("session_start", "user_id")


# --------------------------------------------------------------------------
# multimodal surface (north star): opaque binary columns + typed metadata.
# The blobs are deterministic functions of doc_id, so the binary
# round-trip (encode → magic-byte sniff → header decode) has a pure-SQL
# arithmetic oracle.


@_q(
    "q_stats_moments",
    """
    SELECT event_type,
           round(stddev_samp(value), 4) AS sd,
           round(var_samp(value), 3) AS var,
           round(corr(value, CAST(user_id AS DOUBLE)), 6) AS corr_uid,
           round(covar_samp(value, CAST(user_id AS DOUBLE)), 4) AS covar_uid
    FROM events GROUP BY event_type
    """,
)
def q_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment aggregates (stddev/variance/correlation/covariance)
    per key — single-pass streaming moments, map-side combinable."""
    ev = _t(spark, sf_dir, "events")
    uid = F.col("user_id").cast("double")
    return ev.groupBy("event_type").agg(
        F.round(F.stddev_samp("value"), 4).alias("sd"),
        F.round(F.var_samp("value"), 3).alias("var"),
        F.round(F.corr(F.col("value"), uid), 6).alias("corr_uid"),
        F.round(F.covar_samp(F.col("value"), uid), 4).alias("covar_uid"),
    )


@_q(
    "q_array_ops",
    """
    SELECT vec_id,
           CAST(len(embedding) AS INT) AS dim,
           round(list_min(list_transform(embedding, x -> CAST(x AS DOUBLE))), 5) AS min_v,
           round(list_max(list_transform(embedding, x -> CAST(x AS DOUBLE))), 5) AS max_v,
           round(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 4) AS sq_norm,
           round(CAST(list_sort(list_transform(embedding,
                 x -> CAST(x AS DOUBLE)))[32] AS DOUBLE), 5) AS p_mid,
           CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_pos
    FROM embeddings
    """,
)
def q_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F13 array-function battery over the embedding column: element
    casts, min/max, sequential-fold squared norm, sort + index (exact
    mid order statistic), predicate count — all codegen'd higher-order
    functions, no UDF."""
    e = _t(spark, sf_dir, "embeddings")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.array_min(dbl), 5).alias("min_v"),
        F.round(F.array_max(dbl), 5).alias("max_v"),
        F.round(
            F.aggregate(dbl, F.lit(0.0), lambda a, x: a + x * x), 4
        ).alias("sq_norm"),
        F.round(F.element_at(F.array_sort(dbl), 32), 5).alias("p_mid"),
        F.size(F.filter(F.col("embedding"), lambda x: x > 0)).alias("n_pos"),
    )


@_q(
    "q_chunk_documents",
    f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS w
      FROM documents
    ),
    ch AS (SELECT doc_id, w,
                  greatest(CAST(ceil((len(w) - 8) / 56.0) AS INT), 1) AS n_chunks
           FROM toks),
    expanded AS (SELECT doc_id, w, unnest(range(0, n_chunks)) AS i FROM ch)
    SELECT doc_id, CAST(i AS INT) AS chunk_id,
           array_to_string(w[CAST(i*56+1 AS BIGINT):CAST(i*56+64 AS BIGINT)], ' ')
             AS chunk_text,
           CAST(least(len(w) - i*56, 64) AS INT) AS n_tokens
    FROM expanded
    """,
)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data chunking: 64-token windows with 8-token overlap
    (stride 56), last window = remainder. One codegen'd pass per doc
    (token array let-bound), then posexplode — no Python."""
    from kommunedata_data_pipeline_spark.functions.text import chunk_spans

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", F.explode(chunk_spans(F.col("text"), 64, 8)).alias("c")
    ).select("doc_id", "c.chunk_id", "c.chunk_text", "c.n_tokens")


@_q(
    "q_tfidf_top_terms",
    f"""
    WITH norm AS (SELECT doc_id, {_NORM_SQL} AS t FROM documents),
    toks AS (SELECT doc_id, unnest(string_split(t, ' ')) AS term FROM norm),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n
    ),
    ranked AS (
      SELECT doc_id, term, tfidf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, term) AS rn
      FROM scored
    )
    SELECT doc_id, term, tfidf, CAST(rn AS INT) AS rank
    FROM ranked WHERE rn <= 3
    """,
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 terms per document: term explode → per-doc TF →
    document-frequency join → score + window top-k. Two shuffles
    (doc-term agg, term df) — the canonical distributed TF-IDF."""
    d = _t(spark, sf_dir, "documents")
    from kommunedata_data_pipeline_spark.functions.text import normalized_text

    toks = d.select(
        "doc_id", F.explode(F.split(normalized_text(F.col("text")), " ")).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("doc_id", "term", "tfidf", "rank")
    )


@_q(
    "q_media_meta",
    """
    SELECT CAST(doc_id AS VARCHAR) AS media_id,
           CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'wav' END AS fmt,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 33 ELSE 36 END AS BIGINT) AS n_bytes,
           CASE WHEN doc_id % 2 = 0 THEN CAST((doc_id % 16 + 1) * 8 AS INT) END AS width,
           CASE WHEN doc_id % 2 = 0 THEN CAST((doc_id % 7 + 1) * 8 AS INT) END AS height,
           CASE WHEN doc_id % 2 = 1 THEN CAST(8000 + (doc_id % 8) * 1000 AS INT) END AS sample_rate,
           CASE WHEN doc_id % 2 = 1 THEN CAST(CASE WHEN doc_id % 4 = 3 THEN 2 ELSE 1 END AS INT) END AS channels
    FROM documents ORDER BY media_id
    """,
)
def q_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal metadata extraction: synthesize PNG/WAV blobs from
    doc_id and header-decode them back in ONE fused Arrow-batched
    mapInPandas pass (the unfused synthesize→extract pair stays available
    as composable operators; fusing halves the Arrow traffic). The oracle
    recomputes the expected metadata by arithmetic — verifying the full
    binary round-trip."""
    from kommunedata_data_pipeline_spark.transforms.multimodal import (
        synthetic_media_meta,
    )

    d = _t(spark, sf_dir, "documents")
    # no orderBy: a global sort's range-partitioner sampling would execute
    # the Python chain twice; the driver compares order-insensitively
    return synthetic_media_meta(d)


def _media_lut_sql() -> str:
    """The synthetic blob (and hence its md5-derived feature vector) is a
    pure function of doc_id mod 112 (lcm of the parity/dimension/rate
    moduli), so a 112-entry VALUES lookup gives the oracle EXACT expected
    features at any scale factor. Each feature is k/65536 with k < 2^16 —
    exactly representable in FLOAT, so both engines emit identical
    values. Computed at import from the same make_png/make_wav/
    _fake_features code the operator uses (no drift possible)."""
    from kommunedata_data_pipeline_spark.transforms.multimodal import (
        _fake_features,
        make_png,
        make_wav,
    )

    rows = []
    for m in range(112):
        if m % 2 == 0:
            blob = make_png((m % 16 + 1) * 8, (m % 7 + 1) * 8)
        else:
            blob = make_wav(8000 + (m % 8) * 1000, 2 if m % 4 == 3 else 1)
        feats = ", ".join(str(int(f * 65536)) for f in _fake_features(blob))
        rows.append(f"({m}, [{feats}])")
    return "lut(m, f) AS (SELECT * FROM (VALUES " + ", ".join(rows) + "))"


@_q(
    "q_media_features",
    f"""
    WITH {_media_lut_sql()}
    SELECT CAST(doc_id AS VARCHAR) AS media_id,
           CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'wav' END AS fmt,
           CAST(to_json(f) AS VARCHAR) AS features_x64k
    FROM documents JOIN lut ON doc_id % 112 = m
    """,
)
def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode → feature-extract plumbing over binary media (stubbed
    deterministic features; real schema/batching/partitioning). The
    oracle recomputes the expected md5-derived vectors via a
    doc_id-mod-112 lookup — the full binary encode→hash→vector round
    trip is value-checked in SQL. Each feature is k/65536 (k < 2^16,
    exact in float32), so k = feature*65536 round-trips exactly; the
    vector crosses the comparison bridge as the JSON string of the int
    k-values — identical text from both engines, and raw list cells
    break the driver's pandas-side canonicalizer."""
    from kommunedata_data_pipeline_spark.transforms.multimodal import (
        synthetic_media_features,
    )

    d = _t(spark, sf_dir, "documents")
    return synthetic_media_features(d).withColumn(
        "features_x64k",
        F.to_json(
            F.transform(
                F.col("features"),
                lambda x: F.round(x.cast("double") * 65536).cast("int"),
            )
        ),
    ).drop("features")


@_q(
    "q_committee_hunt",
    """
    WITH pages AS (
        SELECT doc_id,
               'https://dagsordener.kommune' || (doc_id % 10) || '.dk' AS base,
               CAST(doc_id * 7 % 1000 AS VARCHAR) AS cid
        FROM documents
    )
    SELECT doc_id,
           CASE CAST(doc_id % 4 AS INT)
             WHEN 0 THEN base || '/?request.kriterie.udvalgId=' || cid
             WHEN 1 THEN base || '/meetings?committeeId=' || cid
             WHEN 2 THEN base || '/udvalg/' || cid || '/moeder'
           END AS start_url,
           CASE CAST(doc_id % 4 AS INT)
             WHEN 0 THEN 'data-value'
             WHEN 1 THEN 'committee-href'
             WHEN 2 THEN 'direct-link'
           END AS strategy
    FROM pages
    """,
)
def q_committee_hunt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-strategy committee-page hunt (get_start_url.py:79-127). Pages
    are synthesized per doc_id in four shapes — data-value widget,
    committeeId href, /udvalg/ link, and a no-committee page — and the
    operator's regexp ladder must recover the start URL; the oracle
    recomputes the GROUND TRUTH arithmetically (not by mirroring the
    regexes), so extraction bugs can't cancel out cross-engine."""
    from kommunedata_data_pipeline_spark.operators.discovery import committee_hunt

    d = _t(spark, sf_dir, "documents")
    cid = (F.col("doc_id") * 7 % 1000).cast("string")
    base = F.concat(
        F.lit("https://dagsordener.kommune"),
        (F.col("doc_id") % 10).cast("string"),
        F.lit(".dk"),
    )
    html = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit('<div><span data-value="'), cid,
                F.lit('">Økonomiudvalget</span></div>'),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(
                F.lit('<nav><a href="/meetings?committeeId='), cid,
                F.lit('">Udvalg: Økonomi</a></nav>'),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(
                F.lit('<ul><li><a href="/udvalg/'), cid,
                F.lit('/moeder">ØU</a></li></ul>'),
            ),
        )
        .otherwise(F.lit("<div>Teknik og Miljøudvalget</div>"))
    )
    pages = d.select("doc_id", base.alias("base_url"), html.alias("html"))
    return committee_hunt(pages).select("doc_id", "start_url", "strategy")


@_q(
    "q_full_outer_days",
    """
    WITH c AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d, count(*) AS n_clicks
               FROM events WHERE event_type = 'click' GROUP BY 1),
    e AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d, count(*) AS n_errors
          FROM events WHERE event_type = 'error' GROUP BY 1)
    SELECT CAST(coalesce(c.d, e.d) AS VARCHAR) AS day,
           coalesce(n_clicks, 0) AS n_clicks,
           coalesce(n_errors, 0) AS n_errors
    FROM c FULL OUTER JOIN e ON c.d = e.d
    """,
)
def q_full_outer_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer join shape: per-day click vs error counts, days missing
    on either side surviving with zero fill (join-key coalesce is the
    full-outer footgun the operator layer handles via the name-list join).
    ISO-string day per the parity rules."""
    ev = _t(spark, sf_dir, "events")
    c = (
        ev.where(F.col("event_type") == "click")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.count("*").alias("n_clicks"))
    )
    e = (
        ev.where(F.col("event_type") == "error")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.count("*").alias("n_errors"))
    )
    return (
        c.join(e, ["d"], "full")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.coalesce("n_clicks", F.lit(0).cast("bigint")).alias("n_clicks"),
            F.coalesce("n_errors", F.lit(0).cast("bigint")).alias("n_errors"),
        )
    )


# --------------------------------------------------------------------------
# training-data sampling & mixing (operators/sampling.py) — deterministic
# hash-based, so every one has an exact oracle

_SAMPLE_HASH_SQL = "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100"


@_q(
    "q_sample_bernoulli",
    f"""
    SELECT doc_id, source FROM documents
    WHERE {_SAMPLE_HASH_SQL} < 10
    """,
)
def q_sample_bernoulli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% Bernoulli sample by md5(doc_id): reproducible
    across runs/engines (the property training pipelines need from
    'random' sampling), plans as a pure narrow filter — no shuffle."""
    from kommunedata_data_pipeline_spark.operators.sampling import (
        deterministic_sample,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return deterministic_sample(d, "doc_id", 10)


@_q(
    "q_sample_stratified",
    f"""
    WITH ranked AS (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
                                ORDER BY {_SAMPLE_HASH_SQL}, doc_id) AS rk
      FROM documents
    )
    SELECT doc_id, source FROM ranked WHERE rk <= 5
    """,
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sample: 5 docs per source, hash-ranked (ties broken by
    doc_id — total deterministic order). One shuffle on the stratum key;
    the per-group limit is a window, never a collect."""
    from kommunedata_data_pipeline_spark.operators.sampling import stratified_sample

    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return stratified_sample(d, "source", "doc_id", 5)


@_q(
    "q_mixture_epochs",
    """
    SELECT doc_id, source, CAST(e.epoch AS INT) AS epoch
    FROM documents,
         LATERAL (SELECT unnest(generate_series(1,
             CASE source WHEN 'src0' THEN 3 WHEN 'src1' THEN 2 ELSE 1 END
         )) AS epoch) e
    """,
)
def q_mixture_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture epoch weighting ("see src0 3x, src1 2x, the rest
    1x"): row multiplication via explode(sequence(1, weight)) — weights
    are a literal CASE expression, so no dim join and the blow-up happens
    executor-side after any upstream pruning."""
    from kommunedata_data_pipeline_spark.operators.sampling import mixture_weights

    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return mixture_weights(d, "source", {"src0": 3, "src1": 2})


@_q(
    "q_pack_sequences",
    """
    WITH t AS (
      SELECT doc_id, source,
             CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT doc_id, source, n_tokens,
           CAST(floor(coalesce(sum(n_tokens) OVER (
                 PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               / 2048.0) AS BIGINT) AS pack_id
    FROM t
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length packing: per-source running token prefix-sum binned
    into 2048-token packs (offset binning — one window, deterministic;
    see operators/sampling.py:pack_sequences for the capacity caveat)."""
    from kommunedata_data_pipeline_spark.operators.sampling import pack_sequences

    d = _t(spark, sf_dir, "documents")
    return pack_sequences(d, budget=2048)


# --------------------------------------------------------------------------
# round-2 additions: corpus curation, event-sequence analytics, quantization,
# edit-distance near-dup, skew-safe aggregation, analytic-window battery


def _ngrams_sql(n: int) -> str:
    """DuckDB twin of operators.corpus.word_ngrams (same start-position
    enumeration: DuckDB range() is end-exclusive/1-based, Spark sequence()
    inclusive — both yield i = 1 .. len-n+1)."""
    concat = " || ' ' || ".join(
        f"toks[i+{j}]" if j else "toks[i]" for j in range(n)
    )
    return (
        f"CASE WHEN len(toks) >= {n} THEN "
        f"list_transform(range(1, len(toks) - {n - 2}), i -> {concat}) "
        f"ELSE CAST([] AS VARCHAR[]) END"
    )


@_q(
    "q_repetition_score",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    g AS (SELECT doc_id, {_ngrams_sql(3)} AS grams FROM t)
    SELECT doc_id,
           CAST(len(grams) AS INT) AS n_ngrams,
           CAST(len(list_distinct(grams)) AS INT) AS n_distinct,
           CASE WHEN len(grams) > 0
                THEN round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 6)
                ELSE 0.0 END AS rep_frac
    FROM g
    """,
)
def q_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition fraction (duplicate word-trigram share per
    doc) — narrow, shuffle-free array expressions."""
    from kommunedata_data_pipeline_spark.operators.corpus import repetition_stats

    return repetition_stats(_t(spark, sf_dir, "documents"), n=3)


@_q(
    "q_ngram_novelty",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    g AS (SELECT doc_id, {_ngrams_sql(3)} AS grams FROM t),
    p AS (SELECT DISTINCT doc_id, ngram
          FROM (SELECT doc_id, unnest(grams) AS ngram FROM g)),
    f AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY ngram) AS first_doc FROM p)
    SELECT doc_id, count(*) AS n_ngrams,
           CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           round(CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
                 / count(*), 6) AS novelty
    FROM f GROUP BY doc_id
    """,
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc first-appearance rate of its trigrams across the corpus
    (dedup's curriculum dual); shuffles only on the ngram key."""
    from kommunedata_data_pipeline_spark.operators.corpus import ngram_novelty

    return ngram_novelty(_t(spark, sf_dir, "documents"), n=3)


@_q(
    "q_sql_scripting",
    """
    SELECT CAST(r.r_regionkey AS INT) AS rk,
           CAST(count(c.c_custkey) AS BIGINT) AS cnt
    FROM region r
    LEFT JOIN nation n ON n.n_regionkey = r.r_regionkey
    LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey
    GROUP BY rk ORDER BY rk
    """,
)
def q_sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL SCRIPTING (Spark 4.0 BEGIN/DECLARE/WHILE procedural blocks,
    SQL:2016 PSM) — the engine-surface sibling of q_pipe_syntax and
    q_recursive_cte: a WHILE loop over the region count accumulates
    per-region customer counts into an ARRAY<STRUCT> session variable
    (one scalar subquery per iteration) and the final SELECT explodes
    it. The oracle is the declarative one-GROUP-BY equivalent — the
    scripted control flow must land on exactly the set-oriented answer.
    Control-flow-per-group is NOT the 100 TB shape (the GROUP BY is);
    this query exists to pin that the procedural surface works and
    agrees."""
    for t in ("region", "nation", "customer"):
        _t(spark, sf_dir, t).createOrReplaceTempView(f"scr_{t}")
    return spark.sql(
        """
        BEGIN
          DECLARE n_reg INT;
          DECLARE i INT = 0;
          DECLARE accs ARRAY<STRUCT<rk: INT, cnt: BIGINT>> = array();
          SET n_reg = (SELECT count(*) FROM scr_region);
          WHILE i < n_reg DO
            SET accs = array_append(accs, named_struct(
              'rk', i,
              'cnt', (SELECT count(*) FROM scr_customer c
                      JOIN scr_nation n ON c.c_nationkey = n.n_nationkey
                      WHERE n.n_regionkey = i)));
            SET i = i + 1;
          END WHILE;
          SELECT s.rk AS rk, s.cnt AS cnt
          FROM (SELECT explode(accs) AS s) ORDER BY rk;
        END
        """
    )


@_q(
    "q_dup_spans",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    g AS (
      SELECT doc_id, len(toks) AS n_tokens, i AS s, i + 4 AS e,
             toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
             toks[i+3] || ' ' || toks[i+4] AS gram
      FROM t, UNNEST(range(1, len(toks) - 3)) AS r(i)
      WHERE len(toks) >= 5
    ),
    hot AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
    d AS (SELECT g.* FROM g JOIN hot USING (gram)),
    m AS (
      SELECT doc_id, n_tokens, s, e,
             max(e) OVER (PARTITION BY doc_id ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
      FROM d
    ),
    b AS (SELECT *, CASE WHEN pmax IS NULL OR s > pmax + 1
                         THEN 1 ELSE 0 END AS brk FROM m),
    i2 AS (SELECT *, sum(brk) OVER (PARTITION BY doc_id ORDER BY s
             ROWS UNBOUNDED PRECEDING) AS isl FROM b),
    sp AS (SELECT doc_id, isl, min(n_tokens) AS n_tokens,
                  min(s) AS ss, max(e) AS ee
           FROM i2 GROUP BY doc_id, isl)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
           CAST(sum(ee - ss + 1) AS BIGINT) AS dup_tokens,
           CAST(min(n_tokens) AS BIGINT) AS n_tokens,
           round(CAST(sum(ee - ss + 1) AS BIGINT) * 1.0 / min(n_tokens), 6)
             AS dup_ratio
    FROM sp GROUP BY doc_id ORDER BY doc_id
    """,
)
def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-passage LOCALIZATION (Lee et al.-style
    substring dedup): per document, the maximal token intervals formed
    as the union of all corpus-duplicated 5-gram occurrences (every
    token covered by a >=2x gram; overlapping/touching occurrences
    merge — see the ADVICE-r6 note in operators/corpus.py:
    duplicated_spans), merged gaps-and-islands style per doc. The span
    answer ("cut THESE tokens") complements the doc-level near-dup
    queries ("drop THESE docs"); integer span bounds make it
    engine-exact."""
    from kommunedata_data_pipeline_spark.operators.corpus import (
        duplicated_spans,
    )

    return duplicated_spans(
        _t(spark, sf_dir, "documents"), n=5, min_count=2
    ).orderBy("doc_id")


@_q(
    "q_cut_dup_spans",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    g AS (
      SELECT doc_id, i AS s, i + 4 AS e,
             toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
             toks[i+3] || ' ' || toks[i+4] AS gram
      FROM t, UNNEST(range(1, len(toks) - 3)) AS r(i)
      WHERE len(toks) >= 5
    ),
    hot AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
    d AS (SELECT g.* FROM g JOIN hot USING (gram)),
    m AS (
      SELECT doc_id, s, e,
             max(e) OVER (PARTITION BY doc_id ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
      FROM d
    ),
    b AS (SELECT *, CASE WHEN pmax IS NULL OR s > pmax + 1
                         THEN 1 ELSE 0 END AS brk FROM m),
    i2 AS (SELECT *, sum(brk) OVER (PARTITION BY doc_id ORDER BY s
             ROWS UNBOUNDED PRECEDING) AS isl FROM b),
    sp AS (SELECT doc_id, isl, min(s) AS ss, max(e) AS ee
           FROM i2 GROUP BY doc_id, isl),
    tp AS (SELECT doc_id, i AS p, toks[i] AS tok
           FROM t, UNNEST(range(1, len(toks) + 1)) AS r(i)),
    keep AS (
      SELECT tp.doc_id, tp.p, tp.tok FROM tp
      LEFT JOIN sp ON tp.doc_id = sp.doc_id AND tp.p BETWEEN sp.ss AND sp.ee
      WHERE sp.doc_id IS NULL
    ),
    agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS clean_text,
                   count(*) AS n_keep
            FROM keep GROUP BY doc_id)
    SELECT t.doc_id,
           coalesce(agg.clean_text, '') AS clean_text,
           CAST(len(t.toks) AS BIGINT) AS n_tokens,
           CAST(len(t.toks) - coalesce(agg.n_keep, 0) AS BIGINT)
             AS n_cut_tokens
    FROM t LEFT JOIN agg ON t.doc_id = agg.doc_id
    ORDER BY t.doc_id
    """,
)
def q_cut_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the duplicated-span cut (VERDICT r6 #3): emit the CLEANED
    corpus — every token covered by a corpus-duplicated 5-gram removed,
    one row per input document (operators/corpus.py:
    cut_duplicated_spans). Span intervals come from the same
    gaps-and-islands core as q_dup_spans; the cut is a doc_id equi-join
    of the collected span arrays onto the token arrays and a pure
    array-expression mask (no explode of the token stream, no UDF)."""
    from kommunedata_data_pipeline_spark.operators.corpus import (
        cut_duplicated_spans,
    )

    return cut_duplicated_spans(
        _t(spark, sf_dir, "documents"), n=5, min_count=2
    ).orderBy("doc_id")


@_q(
    "q_curation_e2e",
    f"""
    WITH kept AS (
      SELECT doc_id, text FROM documents
      WHERE (CASE WHEN len(list_filter(list_transform({_TOKS_SQL}, x -> lower(x)),
                                       t -> list_contains({_EN_SW}, t))) = 0
                   AND len(list_filter(list_transform({_TOKS_SQL}, x -> lower(x)),
                                       t -> list_contains({_DA_SW}, t))) = 0
                  THEN 'unknown'
                  WHEN len(list_filter(list_transform({_TOKS_SQL}, x -> lower(x)),
                                       t -> list_contains({_EN_SW}, t)))
                    >= len(list_filter(list_transform({_TOKS_SQL}, x -> lower(x)),
                                       t -> list_contains({_DA_SW}, t)))
                  THEN 'en' ELSE 'da' END) <> 'unknown'
        AND {_QUALITY_SQL} >= 0.71
    ),
    ded AS (
      SELECT doc_id, text FROM (
        SELECT doc_id, text,
               row_number() OVER (PARTITION BY md5({_NORM_SQL})
                                  ORDER BY doc_id) AS rn
        FROM kept) WHERE rn = 1
    ),
    t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM ded),
    g AS (
      SELECT doc_id, i AS s, i + 4 AS e,
             toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
             toks[i+3] || ' ' || toks[i+4] AS gram
      FROM t, UNNEST(range(1, len(toks) - 3)) AS r(i)
      WHERE len(toks) >= 5
    ),
    hot AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
    d AS (SELECT g.* FROM g JOIN hot USING (gram)),
    m AS (
      SELECT doc_id, s, e,
             max(e) OVER (PARTITION BY doc_id ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
      FROM d
    ),
    b AS (SELECT *, CASE WHEN pmax IS NULL OR s > pmax + 1
                         THEN 1 ELSE 0 END AS brk FROM m),
    i2 AS (SELECT *, sum(brk) OVER (PARTITION BY doc_id ORDER BY s
             ROWS UNBOUNDED PRECEDING) AS isl FROM b),
    sp AS (SELECT doc_id, isl, min(s) AS ss, max(e) AS ee
           FROM i2 GROUP BY doc_id, isl),
    tp AS (SELECT doc_id, i AS p, toks[i] AS tok
           FROM t, UNNEST(range(1, len(toks) + 1)) AS r(i)),
    keep AS (
      SELECT tp.doc_id, tp.p, tp.tok FROM tp
      LEFT JOIN sp ON tp.doc_id = sp.doc_id AND tp.p BETWEEN sp.ss AND sp.ee
      WHERE sp.doc_id IS NULL
    ),
    agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS clean_text,
                   count(*) AS n_keep
            FROM keep GROUP BY doc_id)
    SELECT t2.doc_id,
           coalesce(agg.clean_text, '') AS clean_text,
           CAST(len(t2.toks) AS BIGINT) AS n_tokens,
           CAST(len(t2.toks) - coalesce(agg.n_keep, 0) AS BIGINT)
             AS n_cut_tokens
    FROM t AS t2 LEFT JOIN agg ON t2.doc_id = agg.doc_id
    ORDER BY t2.doc_id
    """,
)
def q_curation_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END curation chain — the pipeline a pretraining-data
    build actually runs, composed from the registered operators in the
    production order: language-ID filter (drop 'unknown') → composite
    quality threshold (>= 0.71) → exact dedup (lowest doc_id per
    normalized-text fingerprint) → duplicated-span CUT over the
    surviving corpus (5-gram, min_count 2 — span frequencies counted
    among survivors, which is the corpus the model would train on).
    Emits the cleaned corpus (doc_id, clean_text, n_tokens,
    n_cut_tokens). Every stage is the same operator the standalone
    queries pin, so this row going red localizes to a composition bug,
    not an operator bug. Scale shape: two narrow filters (pure
    map-side), one fingerprint window, then the span-cut's gram
    aggregate + doc_id join — nothing quadratic anywhere."""
    from kommunedata_data_pipeline_spark.functions.text import (
        lang_guess,
        quality_score,
    )
    from kommunedata_data_pipeline_spark.operators.corpus import (
        cut_duplicated_spans,
    )
    from kommunedata_data_pipeline_spark.operators.dedup import dedup_exact

    from kommunedata_data_pipeline_spark.functions.expr import pin_columns

    d = _t(spark, sf_dir, "documents")
    # PIN the two gate scores (functions.expr.pin_columns): as bare
    # where() predicates the optimizer pushes both inlined expressions
    # below the spread exchange into the serial scan stage
    kept = (
        pin_columns(
            d,
            {
                "__lang": lang_guess(F.col("text")),
                "__q": quality_score(F.col("text")),
            },
        )
        .where((F.col("__lang") != "unknown") & (F.col("__q") >= 0.71))
        .drop("__lang", "__q")
    )
    ded = dedup_exact(kept).select("doc_id", "text")
    return cut_duplicated_spans(ded, n=5, min_count=2).orderBy("doc_id")


@_q(
    "q_contamination",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    g AS (SELECT doc_id, {_ngrams_sql(8)} AS grams FROM t),
    te AS (SELECT DISTINCT doc_id, ngram
           FROM (SELECT doc_id, unnest(grams) AS ngram FROM g WHERE doc_id % 2 = 1)),
    tr AS (SELECT DISTINCT ngram
           FROM (SELECT unnest(grams) AS ngram FROM g WHERE doc_id % 2 = 0))
    SELECT te.doc_id, count(*) AS n_ngrams,
           CAST(sum(CASE WHEN tr.ngram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
           round(CAST(sum(CASE WHEN tr.ngram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                 / count(*), 6) AS contamination
    FROM te LEFT JOIN tr ON te.ngram = tr.ngram
    GROUP BY te.doc_id
    """,
)
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test 8-gram-overlap decontamination check (even doc_ids are
    "train", odd are "test"); equi-join on the ngram shards uniformly."""
    from kommunedata_data_pipeline_spark.operators.corpus import contamination_check

    d = _t(spark, sf_dir, "documents")
    return contamination_check(
        d.where(F.col("doc_id") % 2 == 0), d.where(F.col("doc_id") % 2 == 1), n=8
    )


@_q(
    "q_token_zipf",
    rf"""
    WITH tok AS (SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                           x -> x <> '')) AS token
                 FROM documents),
    c AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
    r AS (SELECT token, cnt,
                 CAST(row_number() OVER (ORDER BY cnt DESC, token ASC) AS INT) AS rank
          FROM c)
    SELECT rank, token, cnt FROM r WHERE rank <= 50
    """,
)
def q_token_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global token-frequency head (Zipf sanity check): one explode, one
    map-side-combinable count, TakeOrdered top-50."""
    from kommunedata_data_pipeline_spark.operators.corpus import token_zipf

    return token_zipf(_t(spark, sf_dir, "documents"), k=50)


@_q(
    "q_approx_quantile_bound",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.5), 4) AS p50,
           round(quantile_cont(value, 0.9), 4) AS p90,
           TRUE AS ok_p50, TRUE AS ok_p90
    FROM events WHERE value IS NOT NULL GROUP BY event_type
    """,
)
def q_approx_quantile_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (GK sketch — the mergeable, map-side-combinable
    percentile that replaces the exact per-group sort at 100 TB) with
    its rank-error CONTRACT verified in-engine: for accuracy A the
    sketch guarantees |rank(approx) − p·n| ≤ n/A. The query computes
    the approx values, joins back to count each group's actual ranks
    around them, and emits booleans that are TRUE iff the bound holds
    (±1 for rank/interpolation boundary) — the oracle pins them to
    literal TRUE, so a sketch drifting out of contract turns the row
    red. Exact quantiles ride along for the value comparison."""
    acc = 1000
    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select("event_type", "value")
    )
    ag = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("value", F.lit(0.9)), 4).alias("p90"),
        F.percentile_approx(
            "value", F.array(F.lit(0.5), F.lit(0.9)), F.lit(acc)
        ).alias("ap"),
    )
    ranks = (
        ev.join(
            F.broadcast(ag.select("event_type", "ap")), "event_type"
        )
        .groupBy("event_type")
        .agg(
            F.count_if(F.col("value") <= F.col("ap")[0]).alias("cle50"),
            F.count_if(F.col("value") < F.col("ap")[0]).alias("clt50"),
            F.count_if(F.col("value") <= F.col("ap")[1]).alias("cle90"),
            F.count_if(F.col("value") < F.col("ap")[1]).alias("clt90"),
        )
    )

    def ok(clt, cle, p):
        tol = F.col("n") / acc + 1
        target = F.col("n") * p
        return (F.col(clt) <= target + tol) & (F.col(cle) >= target - tol)

    return (
        ag.join(ranks, "event_type")
        .select(
            "event_type",
            "p50",
            "p90",
            ok("clt50", "cle50", 0.5).alias("ok_p50"),
            ok("clt90", "cle90", 0.9).alias("ok_p90"),
        )
    )


@_q(
    "q_token_pmi",
    r"""
    WITH tok AS (
      SELECT DISTINCT doc_id, token FROM (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                  x -> x <> '')) AS token
        FROM documents)
    ),
    nd AS (SELECT count(*) AS n_docs FROM documents),
    dfreq AS (
      SELECT token, count(*) AS df FROM tok
      GROUP BY token HAVING count(*) BETWEEN 3 AND 1000
    ),
    kept AS (SELECT tok.doc_id, tok.token, df FROM tok JOIN dfreq USING (token)),
    p AS (
      SELECT a.token AS ta, b.token AS tb, a.df AS dfa, b.df AS dfb,
             count(*) AS c_ab
      FROM kept a JOIN kept b ON a.doc_id = b.doc_id AND a.token < b.token
      GROUP BY 1, 2, 3, 4 HAVING count(*) >= 3
    ),
    s AS (
      SELECT ta, tb, CAST(c_ab AS BIGINT) AS c_ab,
             round(ln(c_ab * (SELECT n_docs FROM nd) / (dfa * dfb)), 6) AS pmi
      FROM p
    )
    SELECT CAST(row_number() OVER (ORDER BY pmi DESC, ta, tb) AS INT) AS rank,
           ta, tb, c_ab, pmi
    FROM s QUALIFY rank <= 50
    """,
)
def q_token_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 within-document token collocations by PMI — df-capped
    pair join (see operators/corpus.py:token_pmi_pairs for the scale
    argument), rounded-PMI ranking with full tie-breaks."""
    from kommunedata_data_pipeline_spark.operators.corpus import token_pmi_pairs

    return token_pmi_pairs(_t(spark, sf_dir, "documents"), df_cap=1000)


@_q(
    "q_pii_scrub",
    r"""
    WITH inj AS (
      SELECT doc_id,
             'Contact user' || CAST(doc_id AS VARCHAR) || '@mail.example '
             || CASE WHEN doc_id % 3 = 0
                     THEN '010190-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' '
                     ELSE '' END
             || CASE WHEN doc_id % 5 = 0 THEN '+45 12 34 56 78 ' ELSE '' END
             || text AS text
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9._]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_email,
           CAST(len(regexp_extract_all(text, '\d{6}-\d{4}')) AS INT) AS n_cpr,
           CAST(len(regexp_extract_all(text, '\+45 \d{2} \d{2} \d{2} \d{2}')) AS INT) AS n_phone,
           CAST(length(regexp_replace(regexp_replace(regexp_replace(text,
                '[A-Za-z0-9._]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
                '\d{6}-\d{4}', '[CPR]', 'g'),
                '\+45 \d{2} \d{2} \d{2} \d{2}', '[PHONE]', 'g')) AS INT) AS scrub_len
    FROM inj
    """,
)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (emails / CPR / +45 phones) with per-type redaction
    counts; the PII is injected deterministically from doc_id so the
    operator has nonzero work on the synthetic corpus. Pure regexp
    expressions — no shuffle, no UDF."""
    from kommunedata_data_pipeline_spark.operators.corpus import pii_scrub

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    injected = d.select(
        "doc_id",
        F.concat(
            F.lit("Contact user"),
            did.cast("string"),
            F.lit("@mail.example "),
            F.when(
                did % 3 == 0,
                F.concat(
                    F.lit("010190-"),
                    F.lpad((did % 10000).cast("string"), 4, "0"),
                    F.lit(" "),
                ),
            ).otherwise(F.lit("")),
            F.when(did % 5 == 0, F.lit("+45 12 34 56 78 ")).otherwise(F.lit("")),
            F.col("text"),
        ).alias("text"),
    )
    return pii_scrub(injected).select(
        "doc_id",
        "n_email",
        "n_cpr",
        "n_phone",
        F.length("scrubbed").alias("scrub_len"),
    )


@_q(
    "q_funnel_stages",
    """
    WITH u AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS t0
      FROM events GROUP BY user_id
    ), c AS (
      SELECT e.user_id, min(e.ts) AS t1
      FROM events e JOIN u ON e.user_id = u.user_id
      WHERE e.event_type = 'click' AND e.ts > u.t0
        AND e.ts <= u.t0 + INTERVAL 24 HOURS
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t1
        AND e.ts <= c.t1 + INTERVAL 24 HOURS
      GROUP BY e.user_id
    ), s AS (
      SELECT u.user_id,
             CASE WHEN p.t2 IS NOT NULL THEN 3
                  WHEN c.t1 IS NOT NULL THEN 2
                  WHEN u.t0 IS NOT NULL THEN 1
                  ELSE 0 END AS stage
      FROM u LEFT JOIN c ON u.user_id = c.user_id
             LEFT JOIN p ON u.user_id = p.user_id
    )
    SELECT stage, count(*) AS n_users FROM s GROUP BY stage
    """,
)
def q_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase funnel with a 24 h conversion window
    per hop (earliest-completion chain); the event stream is reduced
    per-user FIRST, so the big table crosses the wire exactly once."""
    from kommunedata_data_pipeline_spark.operators.funnel import funnel_stages

    return funnel_stages(_t(spark, sf_dir, "events"), within="24 hours")


@_q(
    "q_retention_cohorts",
    """
    WITH cohort AS (
      SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
      FROM events GROUP BY user_id
    ), act AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS active_week
      FROM events
    )
    SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
           CAST((active_week - cohort_week) / 7 AS BIGINT) AS week_no,
           count(*) AS n_active
    FROM act JOIN cohort ON act.user_id = cohort.user_id
    GROUP BY 1, 2
    """,
)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention grid; min(ts) per user then a broadcast
    join back onto the distinct (user, week) activity frame."""
    from kommunedata_data_pipeline_spark.operators.funnel import retention_cohorts

    return retention_cohorts(_t(spark, sf_dir, "events"))


@_q(
    "q_analytic_ranks",
    """
    WITH w AS (
      SELECT o_orderkey, o_orderpriority,
             CAST(ntile(4) OVER win AS INT) AS ntile_4,
             round(percent_rank() OVER win, 6) AS pct_rank,
             round(cume_dist() OVER win, 6) AS cume,
             round(lag(o_totalprice) OVER win, 2) AS prev_price,
             round(lead(o_totalprice) OVER win, 2) AS next_price
      FROM orders
      WINDOW win AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    )
    SELECT * FROM w WHERE o_orderkey % 100 = 0
    """,
)
def q_analytic_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic-window battery: ntile / percent_rank / cume_dist /
    lag / lead under one total ordering (price + key tiebreak, so rank
    functions are partitioning-proof)."""
    o = _t(spark, sf_dir, "orders")
    win = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return (
        o.select(
            "o_orderkey",
            "o_orderpriority",
            F.ntile(4).over(win).alias("ntile_4"),
            F.round(F.percent_rank().over(win), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(win), 6).alias("cume"),
            F.round(F.lag("o_totalprice").over(win), 2).alias("prev_price"),
            F.round(F.lead("o_totalprice").over(win), 2).alias("next_price"),
        )
        .where(F.col("o_orderkey") % 100 == 0)
    )


@_q(
    "q_corr_regr",
    """
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
           round(covar_pop(l_quantity, l_extendedprice), 2) AS covar_qp,
           round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 2) AS intercept,
           count(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_corr_regr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistical aggregates (corr / covar_pop / OLS fit) —
    single-pass co-moment aggregation, map-side combinable."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qp"),
        F.round(F.covar_pop("l_quantity", "l_extendedprice"), 2).alias("covar_qp"),
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias("slope"),
        F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 2).alias(
            "intercept"
        ),
        F.count("*").alias("n"),
    )


@_q(
    "q_quantize_embeddings",
    """
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), s AS (
      SELECT vec_id, e,
             list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale
      FROM v
    ), q AS (
      SELECT vec_id, e, scale,
             list_transform(e, x -> CAST(round(x / scale) AS INT)) AS q8
      FROM s WHERE scale > 0
    )
    SELECT vec_id, round(scale, 6) AS scale,
           CAST(to_json(q8) AS VARCHAR) AS q8,
           round(sqrt(list_sum(list_transform(range(1, len(e) + 1),
                 i -> (e[i] - q8[i] * scale) * (e[i] - q8[i] * scale))) / len(e)), 6)
             AS rms_err
    FROM q
    """,
)
def q_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization with per-vector absmax scale
    and round-trip RMS error — narrow HOF folds, deterministic sequential
    summation on both engines. The int8 array crosses the comparison
    bridge as its JSON string ('[1,-3,...]' — identical text from both
    engines for integer arrays; raw list cells break the driver's
    pandas-side canonicalizer)."""
    from kommunedata_data_pipeline_spark.operators.similarity import (
        quantize_embeddings,
    )

    return quantize_embeddings(_t(spark, sf_dir, "embeddings")).withColumn(
        "q8", F.to_json("q8")
    )


@_q(
    "q_edit_distance_topk",
    """
    WITH b AS (
      SELECT doc_id, lang,
             CAST(floor(n_chars / 50) AS BIGINT) AS len_bkt,
             substr(text, 1, 120) AS prefix
      FROM documents
    ), c AS (
      SELECT *, row_number() OVER (PARTITION BY lang, len_bkt ORDER BY doc_id) AS rn
      FROM b
    ), k AS (SELECT * FROM c WHERE rn <= 8)
    SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
           CAST(levenshtein(a.prefix, b2.prefix) AS INT) AS edit_dist
    FROM k a JOIN k b2
      ON a.lang = b2.lang AND a.len_bkt = b2.len_bkt AND a.doc_id < b2.doc_id
    ORDER BY edit_dist, doc_a, doc_b LIMIT 25
    """,
)
def q_edit_distance_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level near-dup: Levenshtein over (lang, length-bucket)
    candidates capped per bucket — the per-bucket cap keeps the O(len²)
    distance work constant per bucket at any corpus size."""
    from kommunedata_data_pipeline_spark.operators.dedup import edit_distance_topk

    return edit_distance_topk(_t(spark, sf_dir, "documents"))


@_q(
    "q_salted_agg",
    """
    SELECT l_suppkey,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty,
           count(*) AS n_rows
    FROM lineitem GROUP BY l_suppkey
    """,
)
def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase SUM (salted partial agg, then re-agg) — result
    identical to the plain GROUP BY the oracle runs; the salt only splits
    hot-key partial state across tasks. Decimal accumulation makes the
    two-phase sum order-independent."""
    from kommunedata_data_pipeline_spark.operators.aggregates import salted_sum

    li = _t(spark, sf_dir, "lineitem").withColumn(
        "qty", F.col("l_quantity").cast("decimal(18,2)")
    )
    out = salted_sum(li, "l_suppkey", "qty", n_salts=8, salt_src="l_orderkey")
    return out.select(
        "l_suppkey",
        F.round(F.col("sum_val").cast("double"), 2).alias("sum_qty"),
        "n_rows",
    )


@_q(
    "q_scd2_apply",
    """
    WITH upd AS (
      -- +10% in exact cents math (floor((cents*11+5)/10) = half-up), so
      -- both engines land on the identical double
      SELECT c_custkey,
             CAST(floor((CAST(round(c_acctbal * 100) AS BIGINT) * 11 + 5)
                        / 10) AS DOUBLE) / 100 AS new_bal
      FROM customer WHERE c_custkey % 7 = 0
    ), closed AS (
      SELECT c.c_custkey, c.c_acctbal, '2024-01-01' AS valid_from,
             CASE WHEN u.c_custkey IS NOT NULL THEN '2024-06-01' END AS valid_to
      FROM customer c LEFT JOIN upd u ON c.c_custkey = u.c_custkey
    ), fresh AS (
      SELECT c_custkey, new_bal AS c_acctbal, '2024-06-01' AS valid_from,
             CAST(NULL AS VARCHAR) AS valid_to
      FROM upd
    )
    SELECT c_custkey, c_acctbal, valid_from, valid_to
    FROM (SELECT * FROM closed UNION ALL SELECT * FROM fresh)
    """,
)
def q_scd2_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-2 versioned upsert: close the superseded customer rows at the
    effective date, open new versions with the updated balance. One
    keyed join + union — the minimum shuffle shape for a keyed merge."""
    from kommunedata_data_pipeline_spark.operators.scd import scd2_apply

    c = _t(spark, sf_dir, "customer")
    dim = c.select(
        "c_custkey",
        "c_acctbal",
        F.lit("2024-01-01").alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
    )
    cents = F.round(F.col("c_acctbal") * 100).cast("bigint")
    updates = c.where(F.col("c_custkey") % 7 == 0).select(
        "c_custkey",
        (F.floor((cents * 11 + 5) / 10).cast("double") / 100).alias("c_acctbal"),
    )
    return scd2_apply(
        dim, updates, "c_custkey", ["c_acctbal"], "2024-06-01"
    ).select("c_custkey", "c_acctbal", "valid_from", "valid_to")


@_q(
    "q_cumulative_users",
    """
    WITH first_seen AS (
      SELECT user_id, CAST(min(ts) AS DATE) AS first_day
      FROM events GROUP BY user_id
    ), per_day AS (
      SELECT strftime(first_day, '%Y-%m-%d') AS day, count(*) AS n_new
      FROM first_seen GROUP BY first_day
    )
    SELECT day, n_new,
           CAST(sum(n_new) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_users
    FROM per_day
    """,
)
def q_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new-user counts with a running total (the growth-curve
    query): min(ts) per user, day rollup, one cumulative window over the
    tiny per-day frame."""
    e = _t(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(
        F.min("ts").cast("date").alias("first_day")
    )
    per_day = first_seen.groupBy("first_day").agg(F.count("*").alias("n_new"))
    w = (
        Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return per_day.select(
        F.date_format("first_day", "yyyy-MM-dd").alias("day"), "n_new"
    ).withColumn("cum_users", F.sum("n_new").over(w))


@_q(
    "q_value_histogram",
    """
    SELECT CAST(floor(value / 10) AS BIGINT) AS bin,
           count(*) AS n,
           round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 2) AS bin_sum
    FROM events
    GROUP BY bin
    """,
)
def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram over the event value stream — map-side
    combinable, decimal-exact bin sums."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy(
        F.floor(F.col("value") / 10).alias("bin")
    ).agg(
        F.count("*").alias("n"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 2
        ).alias("bin_sum"),
    )


_SKETCH_HASH = "('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT"


@_q(
    "q_hll_registers",
    f"""
    WITH h AS (
      SELECT {_SKETCH_HASH} AS h FROM events WHERE user_id IS NOT NULL
    )
    SELECT CAST(floor(h / 67108864) AS BIGINT) AS bucket,
           CAST(max(CASE WHEN h % 67108864 = 0 THEN 27
                         ELSE 27 - length(bin(h % 67108864)) END) AS BIGINT)
             AS max_rho
    FROM h GROUP BY 1
    """,
)
def q_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog register table (m=64) over event users — the mergeable
    sketch state, pure integers. groupBy over 64 keys is map-side
    combinable: at 100 TB each partition reduces to 64 rows before the
    shuffle, which is the whole point of a mergeable sketch."""
    from kommunedata_data_pipeline_spark.operators.sketches import hll_registers

    return hll_registers(_t(spark, sf_dir, "events"), "user_id")


@_q(
    "q_sketch_distinct",
    f"""
    WITH h AS (
      SELECT {_SKETCH_HASH} AS h FROM events WHERE user_id IS NOT NULL
    ), regs AS (
      SELECT floor(h / 67108864) AS bucket,
             max(CASE WHEN h % 67108864 = 0 THEN 27
                      ELSE 27 - length(bin(h % 67108864)) END) AS max_rho
      FROM h GROUP BY 1
    ), hagg AS (
      SELECT sum(pow(2.0, -max_rho)) AS s_present, count(*) AS n_present
      FROM regs
    ), hll AS (
      SELECT round(CASE WHEN (0.709 * 64 * 64 / (s_present + (64 - n_present)))
                             <= 160.0 AND (64 - n_present) > 0
                        THEN 64.0 * ln(64.0 / (64 - n_present))
                        ELSE 0.709 * 64 * 64 / (s_present + (64 - n_present))
                   END, 4) AS est_hll
      FROM hagg
    ), kmins AS (
      SELECT DISTINCT h FROM h ORDER BY h LIMIT 32
    ), kmv AS (
      SELECT round(31.0 / (max(h) / 4294967296.0), 4) AS est_kmv FROM kmins
    ), ex AS (
      SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
      FROM events WHERE user_id IS NOT NULL
    )
    SELECT n_exact, est_kmv, est_hll FROM ex, kmv, hll
    """,
)
def q_sketch_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact vs KMV vs HLL distinct-user counts side by side. The sketch
    math is engine-exact by construction (see operators/sketches.py
    docstring), so even the 'approximate' estimators carry an exact
    oracle. The crossJoins are one-row frames."""
    from kommunedata_data_pipeline_spark.operators.sketches import (
        hll_estimate,
        kmv_estimate,
    )

    e = _t(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    exact = e.agg(F.count_distinct("user_id").cast("bigint").alias("n_exact"))
    return exact.crossJoin(kmv_estimate(e, "user_id", 32)).crossJoin(
        hll_estimate(e, "user_id")
    )


_BLOOM_BIT = (
    "('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), {p}, 8))::BIGINT % 1024"
)


@_q(
    "q_bloom_membership",
    f"""
    WITH neg AS (
      SELECT c_custkey FROM customer WHERE c_acctbal < 0
    ), bits AS (
      SELECT DISTINCT bit FROM (
        SELECT {_BLOOM_BIT.format(p=1)} AS bit FROM neg
        UNION ALL SELECT {_BLOOM_BIT.format(p=9)} FROM neg
        UNION ALL SELECT {_BLOOM_BIT.format(p=17)} FROM neg
      )
    ), probe AS (
      SELECT c_acctbal,
             {_BLOOM_BIT.format(p=1)} AS b0,
             {_BLOOM_BIT.format(p=9)} AS b1,
             {_BLOOM_BIT.format(p=17)} AS b2
      FROM customer
    ), flagged AS (
      SELECT c_acctbal,
             (b0 IN (SELECT bit FROM bits)
              AND b1 IN (SELECT bit FROM bits)
              AND b2 IN (SELECT bit FROM bits)) AS maybe
      FROM probe
    )
    SELECT CAST(count(*) AS BIGINT) AS n_probe,
           CAST(sum(CASE WHEN maybe THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
           CAST(sum(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_true,
           CAST(sum(CASE WHEN maybe AND c_acctbal >= 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_pos
    FROM flagged
    """,
)
def q_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership (m=1024 bits, 3 md5-derived hashes): build
    the bit set from negative-balance customers, probe every customer,
    report flagged / true / false-positive counts. The bit table is tiny
    and broadcast — membership costs the probe side no shuffle; no false
    negatives by construction (n_flagged >= n_true always)."""
    from kommunedata_data_pipeline_spark.operators.sketches import (
        bloom_bits,
        bloom_contains,
    )

    c = _t(spark, sf_dir, "customer")
    neg = c.where(F.col("c_acctbal") < 0).select("c_custkey")
    bits = bloom_bits(neg, "c_custkey", 1024, 3)
    probed = bloom_contains(
        c.select("c_custkey", "c_acctbal"), "c_custkey", bits, 1024, 3
    )
    return probed.agg(
        F.count("*").cast("bigint").alias("n_probe"),
        F.sum(F.when(F.col("maybe_member"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_flagged"),
        F.sum(F.when(F.col("c_acctbal") < 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_true"),
        F.sum(
            F.when(F.col("maybe_member") & (F.col("c_acctbal") >= 0), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_false_pos"),
    )


_CMS_CELL = "('0x' || substr(md5(CAST(user_id AS VARCHAR)), {p}, 8))::BIGINT % 256"


@_q(
    "q_cms_heavy_hitters",
    f"""
    WITH cells AS (
      SELECT r, c, CAST(count(*) AS BIGINT) AS n FROM (
        SELECT 0 AS r, {_CMS_CELL.format(p=1)} AS c
        FROM events WHERE user_id IS NOT NULL
        UNION ALL SELECT 1, {_CMS_CELL.format(p=9)}
        FROM events WHERE user_id IS NOT NULL
        UNION ALL SELECT 2, {_CMS_CELL.format(p=17)}
        FROM events WHERE user_id IS NOT NULL
      ) GROUP BY r, c
    ), exact AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_exact
      FROM events WHERE user_id IS NOT NULL
      GROUP BY user_id ORDER BY n_exact DESC, user_id LIMIT 10
    ), probe AS (
      SELECT user_id, n_exact,
             {_CMS_CELL.format(p=1)} AS c0,
             {_CMS_CELL.format(p=9)} AS c1,
             {_CMS_CELL.format(p=17)} AS c2
      FROM exact
    )
    SELECT p.user_id, p.n_exact, least(m0.n, m1.n, m2.n) AS n_cms
    FROM probe p
    JOIN cells m0 ON m0.r = 0 AND m0.c = p.c0
    JOIN cells m1 ON m1.r = 1 AND m1.c = p.c1
    JOIN cells m2 ON m2.r = 2 AND m2.c = p.c2
    ORDER BY p.n_exact DESC, p.user_id
    """,
)
def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (3x256, md5-derived rows) over event users:
    top-10 exact heavy hitters with their CMS estimates side by side
    (n_cms >= n_exact by construction). The sketch state is mergeable
    and map-side combinable; lookups broadcast the 768-cell table."""
    from kommunedata_data_pipeline_spark.operators.sketches import (
        countmin_lookup,
        countmin_table,
    )

    e = _t(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    cms = countmin_table(e, "user_id", 256, 3)
    top = (
        e.groupBy("user_id")
        .agg(F.count("*").cast("bigint").alias("n_exact"))
        .orderBy(F.desc("n_exact"), "user_id")
        .limit(10)
    )
    return countmin_lookup(top, "user_id", cms, 256, 3).orderBy(
        F.desc("n_exact"), "user_id"
    )


@_q(
    "q_stream_join",
    """
    WITH v AS (SELECT event_id AS view_id, user_id, CAST(ts AS TIMESTAMP) AS ts
               FROM events WHERE event_type = 'view'),
    p AS (SELECT event_id AS purch_id, user_id, CAST(ts AS TIMESTAMP) AS ts
          FROM events WHERE event_type = 'purchase')
    SELECT view_id, purch_id, v.user_id,
           epoch_us(v.ts) AS view_ts_us, epoch_us(p.ts) AS purch_ts_us
    FROM v JOIN p ON v.user_id = p.user_id
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
    """,
)
def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: each view matched to the same user's
    purchases within the following hour. Watermarks on both sides + the
    time-range bound let Spark expire join state (the unbounded-stream
    requirement). Exact oracle: bounded source ⇒ the streamed matches
    equal the batch interval join."""
    from kommunedata_data_pipeline_spark.streaming.windows import (
        read_events_stream,
        run_to_memory,
        stream_stream_interval_join,
    )

    ev = read_events_stream(spark, sf_dir)
    views = ev.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id"),
        F.col("ts").alias("view_ts"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purch_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purch_ts"),
    )
    joined = stream_stream_interval_join(
        views, purchases, "user_id", "p_user", "view_ts", "purch_ts",
        max_lag="1 hour", watermark="2 hours",
    ).select(
        "view_id",
        "purch_id",
        "user_id",
        F.unix_micros("view_ts").alias("view_ts_us"),
        F.unix_micros("purch_ts").alias("purch_ts_us"),
    )
    run_to_memory(joined, "q_stream_join_sink", shuffle_partitions=2)
    return spark.table("q_stream_join_sink")


@_q(
    "q_stream_join_outer",
    """
    WITH v AS (SELECT event_id AS view_id, user_id, CAST(ts AS TIMESTAMP) AS ts
               FROM events WHERE event_type = 'view'),
    p AS (SELECT event_id AS purch_id, user_id, CAST(ts AS TIMESTAMP) AS ts
          FROM events WHERE event_type = 'purchase'),
    wm AS (SELECT least((SELECT max(ts) FROM v), (SELECT max(ts) FROM p))
                  - INTERVAL 2 HOUR AS w),
    m AS (SELECT view_id, purch_id, v.user_id,
                 v.ts AS vts, p.ts AS pts
          FROM v JOIN p ON v.user_id = p.user_id
           AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR)
    SELECT view_id, purch_id, user_id,
           epoch_us(vts) AS view_ts_us, epoch_us(pts) AS purch_ts_us
    FROM m
    UNION ALL
    SELECT view_id, CAST(NULL AS BIGINT), user_id,
           epoch_us(ts), CAST(NULL AS BIGINT)
    FROM v
    WHERE view_id NOT IN (SELECT view_id FROM m)
      AND ts + INTERVAL 1 HOUR < (SELECT w FROM wm)
    """,
)
def q_stream_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the hardest watermark
    semantics: matches emit immediately, while an unmatched view emits
    its null row only once the global watermark (min of both sides'
    event-time maxima minus the delay) proves no purchase can still
    arrive in its [view_ts, view_ts + 1h] window. The oracle is the
    batch interval join UNION the unmatched views whose match window
    provably closed before the final watermark — views whose window is
    still open at end-of-stream emit nothing, exactly as an unbounded
    deployment would hold them."""
    from kommunedata_data_pipeline_spark.streaming.windows import (
        read_events_stream,
        run_to_memory,
        stream_stream_interval_join,
    )

    ev = read_events_stream(spark, sf_dir)
    views = ev.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id"),
        F.col("ts").alias("view_ts"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purch_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purch_ts"),
    )
    joined = stream_stream_interval_join(
        views, purchases, "user_id", "p_user", "view_ts", "purch_ts",
        max_lag="1 hour", watermark="2 hours", how="left_outer",
    ).select(
        "view_id",
        "purch_id",
        "user_id",
        F.unix_micros("view_ts").alias("view_ts_us"),
        F.unix_micros("purch_ts").alias("purch_ts_us"),
    )
    run_to_memory(joined, "q_stream_join_outer_sink", shuffle_partitions=2)
    return spark.table("q_stream_join_outer_sink")


def _pca_oracle_sql(iters: int = 6) -> str:
    """Unrolled power-iteration oracle (same pattern as the PageRank
    oracle below): each fixed step is one generated CTE layer pair
    (per-row dot, then the next iterate per dimension)."""
    layers = [
        """dims AS (SELECT CAST(unnest(range(len(embedding))) AS INT) AS pos
                    FROM (SELECT embedding FROM embeddings LIMIT 1)),
        e AS (SELECT vec_id, dims.pos,
                     CAST(embedding[dims.pos + 1] AS DOUBLE) AS val
              FROM embeddings, dims),
        m AS (SELECT pos, avg(val) AS m FROM e GROUP BY pos),
        c AS (SELECT vec_id, e.pos, e.val - m.m AS val
              FROM e JOIN m ON e.pos = m.pos),
        v0 AS (SELECT pos, 1.0 AS val FROM m)"""
    ]
    for k in range(1, iters + 1):
        layers.append(
            f"""d{k} AS (SELECT c.vec_id, sum(c.val * v.val) AS dot
                  FROM c JOIN v{k - 1} v ON c.pos = v.pos GROUP BY c.vec_id),
        v{k} AS (SELECT c.pos, sum(c.val * d{k}.dot) AS val
                 FROM c JOIN d{k} ON c.vec_id = d{k}.vec_id GROUP BY c.pos)"""
        )
    layers.append(
        f"n AS (SELECT sqrt(sum(val * val)) AS nrm FROM v{iters})"
    )
    return (
        "WITH "
        + ",\n        ".join(layers)
        + f"""
    SELECT pos, round(val / (SELECT nrm FROM n), 4) AS loading
    FROM v{iters} ORDER BY pos"""
    )


@_q("q_pca_power_iteration", _pca_oracle_sql(6))
def q_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding cloud: 6 fixed
    matrix-free power steps on the centered data (never materializes
    the d×d covariance — see operators/similarity.py:pca_top_component
    for the 100 TB argument). The oracle unrolls the identical steps
    as CTE layers, so every join/aggregation of the iteration is
    cross-checked, the same discipline as the PageRank oracle."""
    from kommunedata_data_pipeline_spark.operators.similarity import (
        pca_top_component,
    )

    return pca_top_component(_t(spark, sf_dir, "embeddings"))


def _pagerank_oracle_sql(n_iter: int = 5) -> str:
    """Unrolled integer-PageRank oracle: recursive CTEs can't aggregate
    per step, so each synchronous update is one generated CTE layer."""
    layers = []
    for i in range(1, n_iter + 1):
        layers.append(
            f"""r{i} AS (
      SELECT n.node,
             CAST(150000 + (85 * COALESCE(s.contrib, 0)) // 100 AS BIGINT) AS r
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS node, sum(p.r // d.deg) AS contrib
        FROM edges e
        JOIN r{i-1} p ON p.node = e.src
        JOIN degs d ON d.node = e.src
        GROUP BY e.dst
      ) s ON s.node = n.node
    )"""
        )
    return f"""
    WITH pairs AS (
      SELECT DISTINCT l_suppkey + 1000000 AS s_node, o_custkey AS c_node
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), edges AS (
      SELECT s_node AS src, c_node AS dst FROM pairs
      UNION ALL SELECT c_node, s_node FROM pairs
    ), nodes AS (
      SELECT DISTINCT src AS node FROM edges
      UNION SELECT DISTINCT dst FROM edges
    ), degs AS (
      SELECT src AS node, count(*) AS deg FROM edges GROUP BY src
    ), r0 AS (
      SELECT node, CAST(150000 AS BIGINT) AS r FROM nodes
    ), {", ".join(layers)}
    SELECT node, r FROM r{n_iter} ORDER BY r DESC, node LIMIT 20
    """


@_q("q_pagerank", _pagerank_oracle_sql(5))
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-unit PageRank (5 synchronous iterations) over the
    supplier<->customer transaction graph; top-20 nodes. Integer rank
    units make the iteration exact and partitioning-independent — see
    operators/graph.py. Per iteration: one ranks-onto-edges equi-join +
    one map-side-combinable groupBy(dst)."""
    from kommunedata_data_pipeline_spark.operators.graph import pagerank_integer

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            (F.col("l_suppkey") + 1000000).alias("s_node"),
            F.col("o_custkey").alias("c_node"),
        )
        .distinct()
    )
    edges = pairs.select(
        F.col("s_node").alias("src"), F.col("c_node").alias("dst")
    ).unionAll(
        pairs.select(F.col("c_node").alias("src"), F.col("s_node").alias("dst"))
    )
    ranks = pagerank_integer(edges, 5)
    return ranks.orderBy(F.desc("r"), "node").limit(20)


@_q(
    "q_triangle_count",
    """
    WITH c AS (SELECT c_custkey AS u FROM customer),
    mx AS (SELECT max(u) AS mxu FROM c),
    raw AS (
      SELECT u,
             u + 1 + (('0x' || substr(md5(CAST(u AS VARCHAR) || '#' ||
                                       CAST(k.k AS VARCHAR)), 1, 8))::BIGINT
                      % 211) AS v
      FROM c, (SELECT unnest(range(1, 7)) AS k) k
    ),
    edges AS (SELECT DISTINCT u, v FROM raw, mx WHERE v <= mx.mxu),
    deg AS (
      SELECT n, count(*) AS deg FROM (
        SELECT u AS n FROM edges UNION ALL SELECT v AS n FROM edges
      ) GROUP BY n
    ),
    oriented AS (
      SELECT CASE WHEN (du.deg < dv.deg) OR (du.deg = dv.deg AND u < v)
                  THEN u ELSE v END AS s,
             CASE WHEN (du.deg < dv.deg) OR (du.deg = dv.deg AND u < v)
                  THEN du.deg ELSE dv.deg END AS ds,
             CASE WHEN (du.deg < dv.deg) OR (du.deg = dv.deg AND u < v)
                  THEN v ELSE u END AS t,
             CASE WHEN (du.deg < dv.deg) OR (du.deg = dv.deg AND u < v)
                  THEN dv.deg ELSE du.deg END AS dt
      FROM edges JOIN deg du ON du.n = u JOIN deg dv ON dv.n = v
    ),
    wedges AS (
      SELECT e1.t AS b, e2.t AS c
      FROM oriented e1 JOIN oriented e2 ON e1.s = e2.s
      WHERE (e1.dt < e2.dt) OR (e1.dt = e2.dt AND e1.t < e2.t)
    ),
    tri AS (
      SELECT count(*) AS n_triangles
      FROM wedges w JOIN oriented e ON w.b = e.s AND w.c = e.t
    )
    SELECT CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
           CAST((SELECT count(*) FROM edges) AS BIGINT) AS n_edges,
           CAST(n_triangles AS BIGINT) AS n_triangles
    FROM tri
    """,
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count over a sparse hash-offset graph on the
    customer key space (each node links to ~6 md5-derived neighbors
    within offset 211 — a deterministic stand-in for a real sparse link
    graph; edge count scales linearly with sf). Degree-ordered
    node-iterator: wedges are generated only at each edge's
    lower-(deg,id) endpoint, bounding per-node fan-out by O(sqrt(2m)) —
    the orientation trick that makes triangle counting survive degree
    skew at 100 TB. Integer count, engine-exact."""
    from kommunedata_data_pipeline_spark.operators.graph import triangle_count

    c = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("u"))
    mx = c.agg(F.max("u").alias("mxu"))
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws("#", F.col("u"), F.col("k"))), 1, 8
        ),
        16,
        10,
    ).cast("bigint")
    edges = (
        c.select("u", F.explode(F.sequence(F.lit(1), F.lit(6))).alias("k"))
        .select("u", (F.col("u") + 1 + F.pmod(h, F.lit(211))).alias("v"))
        .crossJoin(F.broadcast(mx))
        .where(F.col("v") <= F.col("mxu"))
        .select("u", "v")
        .distinct()
    )
    return triangle_count(edges)


@_q(
    "q_skyline",
    """
    WITH b AS (
      SELECT o_orderkey, o_totalprice, o_orderdate,
             CAST(floor(o_totalprice / 1000) AS BIGINT) AS bin
      FROM orders
    ),
    bm AS (SELECT bin, min(o_orderdate) AS bin_min FROM b GROUP BY bin),
    hi AS (
      SELECT bin,
             min(bin_min) OVER (ORDER BY bin DESC
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) AS higher_min
      FROM bm
    ),
    sv AS (
      SELECT b.o_orderkey, b.o_totalprice, b.o_orderdate
      FROM b JOIN hi USING (bin)
      WHERE higher_min IS NULL OR o_orderdate < higher_min
    ),
    r AS (
      SELECT o_orderkey, o_totalprice, o_orderdate,
             min(o_orderdate) OVER (
               ORDER BY o_totalprice DESC, o_orderdate ASC, o_orderkey ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_min
      FROM sv
    )
    SELECT o_orderkey, round(o_totalprice, 2) AS price,
           strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS odate
    FROM r WHERE prev_min IS NULL OR o_orderdate < prev_min
    ORDER BY price DESC, odate, o_orderkey
    """,
)
def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier) of orders: highest price, earliest
    date, no other order better on both. Filter-then-refine
    (operators/relational.py:skyline_2d): fixed-width price bins kill
    everything cross-bin-dominated in one combinable shuffle + broadcast
    probe, so the exact cumulative-min refine window runs on a
    few-hundred-row survivor set — the corpus never sees a global sort."""
    from kommunedata_data_pipeline_spark.operators.relational import skyline_2d

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    sky = skyline_2d(o, "o_totalprice", "o_orderdate", "o_orderkey", 1000.0)
    return sky.select(
        "o_orderkey",
        F.round(F.col("o_totalprice"), 2).alias("price"),
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("odate"),
    ).orderBy(F.col("price").desc(), "odate", "o_orderkey")


def _zq_sql(col: str, width: float) -> str:
    return f"least(greatest(CAST(floor({col} / {width}) AS BIGINT), 0), 4095)"


@_q(
    "q_zorder_layout",
    f"""
    WITH q AS (
      SELECT {_zq_sql('o_totalprice', 160.0)} AS qa,
             {_zq_sql("date_diff('day', TIMESTAMP '1992-01-01', o_orderdate)", 1.0)} AS qb
      FROM orders
    ),
    z AS (SELECT qa, qb, {z_value_sql('qa', 'qb')} AS zv FROM q)
    SELECT CAST(floor(zv / 4096) AS BIGINT) AS z_bucket,
           count(*) AS n,
           CAST(min(qa) AS BIGINT) AS a_min, CAST(max(qa) AS BIGINT) AS a_max,
           CAST(min(qb) AS BIGINT) AS b_min, CAST(max(qb) AS BIGINT) AS b_max
    FROM z GROUP BY 1 ORDER BY z_bucket
    """,
)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering audit: interleave quantized (price, order-day)
    into 24-bit z-values, bucket on the top 12 bits, report per-bucket
    extents of BOTH dims — the tightness that makes 2-D partition
    pruning work (operators/layout.py; write path: write_zordered +
    zbox_bucket_range). Pure codegen bit math, one combinable shuffle."""
    from kommunedata_data_pipeline_spark.operators.layout import quantize, z_value

    o = _t(spark, sf_dir, "orders")
    q = o.select(
        quantize(F.col("o_totalprice"), 160.0).alias("qa"),
        quantize(
            F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date")),
            1.0,
        ).alias("qb"),
    )
    z = q.select("qa", "qb", z_value(F.col("qa"), F.col("qb")).alias("zv"))
    return (
        z.groupBy(F.floor(F.col("zv") / F.lit(4096)).cast("bigint").alias("z_bucket"))
        .agg(
            F.count("*").alias("n"),
            F.min("qa").alias("a_min"),
            F.max("qa").alias("a_max"),
            F.min("qb").alias("b_min"),
            F.max("qb").alias("b_max"),
        )
        .orderBy("z_bucket")
    )


@_q(
    "q_priority_sample",
    """
    WITH s AS (
      SELECT o_orderkey AS skey, o_totalprice AS w,
             o_totalprice /
               ((1 + (('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
                      % 1048576)) / 1048577.0) AS priority
      FROM orders
    ),
    r AS (
      SELECT skey, w, priority,
             row_number() OVER (ORDER BY priority DESC, skey) AS rn
      FROM s
    ),
    tau AS (SELECT priority AS tau FROM r WHERE rn = 21)
    SELECT skey, round(w, 2) AS w, round(priority, 4) AS priority,
           round(greatest(w, tau), 4) AS est_weight
    FROM r, tau WHERE rn <= 20
    ORDER BY priority DESC, skey
    """,
)
def q_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority sampling (Duffield–Lund–Thorup) of 20 orders by
    o_totalprice: weight-biased without-replacement sample with unbiased
    subset-sum estimator weights max(w, tau). Engine-exact — md5-derived
    dyadic uniform + one IEEE division, no transcendentals
    (operators/sampling.py:priority_sample); top-(k+1) is a TakeOrdered,
    never a global sort."""
    from kommunedata_data_pipeline_spark.operators.sampling import priority_sample

    o = _t(spark, sf_dir, "orders")
    return priority_sample(o, F.col("o_orderkey"), F.col("o_totalprice"), 20)


@_q(
    "q_split_assign",
    """
    WITH s AS (
      SELECT lang, n_chars,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS h
      FROM documents
    )
    SELECT lang,
           CASE WHEN h < 90 THEN 'train' WHEN h < 95 THEN 'val'
                ELSE 'test' END AS split,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM s GROUP BY lang, split
    """,
)
def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (90/5/5 by md5(doc_id) mod
    100) with per-(lang, split) volume accounting — dataset-versioning
    membership as a pure key function: re-runs and growing corpora never
    migrate a document between splits. Narrow hash+CASE, one
    map-side-combinable rollup shuffle."""
    from kommunedata_data_pipeline_spark.operators.sampling import split_assign

    d = _t(spark, sf_dir, "documents")
    return (
        split_assign(d, "doc_id")
        .groupBy("lang", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


@_q(
    "q_unigram_surprisal",
    r"""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                x -> x <> '')) AS token
      FROM documents
    ),
    vocab AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
    tot AS (SELECT CAST(round(ln(sum(c)) * 1000000) AS BIGINT) AS ln_n FROM vocab),
    per AS (
      SELECT t.doc_id, count(*) AS n_tokens,
             sum(CAST(round(ln(v.c) * 1000000) AS BIGINT)) AS sum_lnc
      FROM tok t JOIN vocab v USING (token)
      GROUP BY t.doc_id
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_tokens * (SELECT ln_n FROM tot) - sum_lnc AS BIGINT)
             AS surprisal_micro,
           round((n_tokens * (SELECT ln_n FROM tot) - sum_lnc)
                 / n_tokens / 1000000.0, 4) AS avg_neg_logp
    FROM per
    """,
)
def q_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc unigram-LM surprisal (mean -log p under the corpus's own
    token distribution) — the cheap pre-model quality score. Each token's
    ln(count) is rounded ONCE to integer micro-nats so every accumulation
    is an exact BIGINT sum (no float summation-order dependence); the
    skewed token->frequency join is split hot/cold with the Zipf head
    broadcast (operators/corpus.py:unigram_surprisal)."""
    from kommunedata_data_pipeline_spark.operators.corpus import unigram_surprisal

    return unigram_surprisal(_t(spark, sf_dir, "documents"))


@_q(
    "q_time_rollup",
    """
    WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, value FROM events),
    b AS (SELECT date_trunc('hour', ts) AS h, date_trunc('day', ts) AS d,
                 date_trunc('week', ts) AS w, value FROM e)
    SELECT CASE WHEN GROUPING(h) = 0 THEN 'hour'
                WHEN GROUPING(d) = 0 THEN 'day' ELSE 'week' END AS grain,
           strftime(COALESCE(h, d, w), '%Y-%m-%d %H:%M:%S') AS bucket_start,
           count(*) AS n, round(sum(value), 2) AS total_value
    FROM b GROUP BY GROUPING SETS ((h), (d), (w))
    """,
)
def q_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour/day/week rollup of the event stream in ONE grouping-sets
    pass (the hypertable continuous-aggregate shape): the fact scan and
    shuffle happen once for all three grains instead of once per grain
    (operators/aggregates.py:time_rollup)."""
    from kommunedata_data_pipeline_spark.operators.aggregates import time_rollup

    return time_rollup(_t(spark, sf_dir, "events"))


@_q(
    "q_minhash_est_err",
    f"""
    WITH {_LSH_PAIRS_CTES},
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    com AS (
      SELECT c.doc_a, c.doc_b, count(*) AS n_common
      FROM cand c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      GROUP BY c.doc_a, c.doc_b
    ),
    ex AS (
      SELECT e.doc_a, e.doc_b, e.est_jaccard,
             round(COALESCE(m.n_common, 0) * 1.0
                   / (sa.n + sb.n - COALESCE(m.n_common, 0)), 6) AS exact_jaccard
      FROM est e
      LEFT JOIN com m ON m.doc_a = e.doc_a AND m.doc_b = e.doc_b
      JOIN sizes sa ON sa.doc_id = e.doc_a
      JOIN sizes sb ON sb.doc_id = e.doc_b
    )
    SELECT doc_a, doc_b, est_jaccard, exact_jaccard,
           round(abs(est_jaccard - exact_jaccard), 6) AS abs_err
    FROM ex
    """,
)
def q_minhash_est_err(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy audit: MinHash Jaccard estimate vs EXACT shingle
    Jaccard with absolute error, for every banded-LSH candidate pair —
    the measurement that calibrates bands/hashes before trusting a
    sketch threshold at corpus scale. Exact side re-joins shingles only
    for candidates (work proportional to the candidate count, never the
    corpus square)."""
    from kommunedata_data_pipeline_spark.operators.dedup import (
        minhash_accuracy_audit,
    )

    return minhash_accuracy_audit(_t(spark, sf_dir, "documents"))


@_q(
    "q_ewma",
    """
    WITH d AS (
      SELECT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
             CAST(sum(CAST(coalesce(value, 0.0) AS DECIMAL(18,2))) * 100
                  AS BIGINT) AS x100
      FROM events WHERE user_id IS NOT NULL
      GROUP BY user_id, date_trunc('day', CAST(ts AS TIMESTAMP))
    ),
    r AS (SELECT *, CAST(row_number() OVER (PARTITION BY user_id
                                            ORDER BY day) AS INT) AS rn
          FROM d),
    b AS (SELECT *, CASE WHEN rn = 1 THEN x100 * 2
                         ELSE x100 * CAST(pow(2, rn - 1) AS BIGINT)
                    END AS reb FROM r)
    SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
           round(x100 / 100.0, 2) AS x,
           CAST(floor(CAST(CAST(sum(reb) OVER (PARTITION BY user_id ORDER BY rn)
                                AS BIGINT) AS DOUBLE)
                      / pow(2, rn) / 100 * 1000000) AS BIGINT) AS ewma_micro
    FROM b
    """,
)
def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user DAILY exponential smoothing (EWMA, α = 1/2) — the
    sequential recurrence S_t = αx_t + (1−α)S_{t−1} turned into ONE
    parallel window pass via exponent re-basing, computed
    INTEGER-EXACT: daily sums land in DECIMAL cents, every re-basing
    factor is a power of two applied as a bigint shift, and the
    cumulative sum folds integers — so the result is bit-identical
    across engines regardless of their window-sum association order
    (a double-valued fold measured 3-4 of 10k values flipping a 6-dp
    round boundary: DuckDB's segment-tree window sums associate
    differently than Spark's sequential fold). Emission is
    floor-to-micro, not round: the exact fold lands values precisely
    on half-way points, where Spark rounds half-up and DuckDB
    half-even. Width budget: series
    length t costs 2^t in the rebased integers — 30 daily points peak
    ~4e16 of bigint's 9.2e18; longer horizons re-base per segment and
    stitch through the carry S·(1−α)^len, the two-phase prefix-scan
    shape of global_running_sum. Generic double-valued operator:
    operators/timeseries.py:ewma_smooth."""
    e = (
        _t(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .groupBy(
            "user_id", F.date_trunc("day", F.col("ts")).alias("day")
        )
        .agg(
            F.sum(F.coalesce(F.col("value"), F.lit(0.0)).cast("decimal(18,2)"))
            .alias("xd")
        )
        .select(
            "user_id",
            "day",
            (F.col("xd") * 100).cast("bigint").alias("x100"),
        )
    )
    wo = Window.partitionBy("user_id").orderBy("day")
    cum = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        e.withColumn("rn", F.row_number().over(wo))
        .withColumn(
            "reb",
            F.when(F.col("rn") == 1, F.col("x100") * 2).otherwise(
                F.expr("shiftleft(x100, rn - 1)")
            ),
        )
        .select(
            "user_id",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.round(F.col("x100") / 100.0, 2).alias("x"),
            # floor-to-micro instead of round-to-6dp: the integer-exact
            # fold makes values land EXACTLY on half-way points, where
            # Spark rounds half-up and DuckDB half-even — floor() of the
            # identical double is tie-free (same convention as the
            # repo's md5 bit extraction)
            F.floor(
                F.sum("reb").over(cum).cast("double")
                / F.pow(F.lit(2.0), F.col("rn"))
                / 100
                * 1_000_000
            )
            .cast("bigint")
            .alias("ewma_micro"),
        )
    )


@_q(
    "q_locf_fill",
    """
    WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value
               FROM events WHERE event_id % 13 = 0),
    daily AS (
      SELECT date_trunc('day', ts) AS day, event_type,
             round(sum(value), 2) AS observed
      FROM e GROUP BY 1, 2
    ),
    bounds AS (SELECT date_trunc('day', min(ts)) AS lo,
                      date_trunc('day', max(ts)) AS hi FROM e),
    days AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day
             FROM bounds),
    spine AS (SELECT day, event_type
              FROM days CROSS JOIN (SELECT DISTINCT event_type FROM e)),
    j AS (SELECT s.day, s.event_type, d.observed
          FROM spine s LEFT JOIN daily d USING (day, event_type))
    SELECT strftime(day, '%Y-%m-%d') AS day, event_type, observed,
           last_value(observed IGNORE NULLS) OVER (
             PARTITION BY event_type ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
    FROM j
    """,
)
def q_locf_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar gap-fill with Last Observation Carried Forward over a
    sparse daily series (ST5 semantics generalized: a missing day is a
    fact to fill, not a row to lose). Dense spine is broadcast-sized by
    construction; the fill window is per-dim, never a global sort
    (operators/timeseries.py:locf_fill)."""
    from kommunedata_data_pipeline_spark.operators.timeseries import locf_fill

    ev = _t(spark, sf_dir, "events").where(F.col("event_id") % 13 == 0)
    return locf_fill(ev, "ts", "value", "event_type")


@_q(
    "q_peak_concurrency",
    """
    WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts FROM events),
    b AS (SELECT ts AS t, 1 AS delta FROM e
          UNION ALL SELECT ts + INTERVAL 30 MINUTE AS t, -1 AS delta FROM e),
    c AS (SELECT t, sum(delta) OVER (ORDER BY t, delta
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
          FROM b)
    SELECT strftime(date_trunc('day', t), '%Y-%m-%d') AS day,
           CAST(max(conc) AS BIGINT) AS peak
    FROM c GROUP BY 1
    """,
)
def q_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line peak concurrency (each event = a 30-minute active
    interval; per day, the max simultaneously-active count at boundary
    events). The global cumulative sum is a distributed two-phase scan —
    range partition, local prefix sums, broadcast per-partition offsets —
    because Spark's bare Window.orderBy would collapse the whole boundary
    stream onto ONE task (operators/timeseries.py:global_running_sum)."""
    from kommunedata_data_pipeline_spark.operators.timeseries import (
        peak_concurrency,
    )

    return peak_concurrency(_t(spark, sf_dir, "events"), "ts")


@_q(
    "q_skew_join",
    """
    WITH u AS (SELECT c_custkey AS user_id,
                      CAST(c_custkey % 10 AS BIGINT) AS segment
               FROM customer)
    SELECT segment, count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events e JOIN u ON e.user_id = u.user_id
    GROUP BY segment
    """,
)
def q_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot/cold split join of the event stream against a user dim:
    fact keys at/above the hot threshold join map-side (their dim rows
    broadcast), the cold tail shuffle-joins with no hot key left — the
    production answer to a power-law key without replicating the dim
    (operators/joins.py:skew_split_join). Oracle is the plain join: the
    split is an execution strategy, not a semantics change."""
    from kommunedata_data_pipeline_spark.operators.joins import skew_split_join

    ev = _t(spark, sf_dir, "events")
    users = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        (F.col("c_custkey") % 10).cast("bigint").alias("segment"),
    )
    return (
        skew_split_join(ev, users, "user_id", hot_count=60)
        .groupBy("segment")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


@_q(
    "q_kmv_set_ops",
    """
    WITH a AS (SELECT DISTINCT
                 ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS h
               FROM events WHERE event_type = 'click'),
    b AS (SELECT DISTINCT
            ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS h
          FROM events WHERE event_type = 'purchase'),
    uh AS (SELECT h FROM a UNION SELECT h FROM b),
    u AS (SELECT h FROM uh ORDER BY h LIMIT 32),
    m AS (SELECT max(h) AS uk, count(*) AS kk FROM u),
    j AS (SELECT count(*) AS nb
          FROM u WHERE h IN (SELECT h FROM a) AND h IN (SELECT h FROM b)),
    ex AS (SELECT
             (SELECT count(*) FROM uh) AS exact_union,
             (SELECT count(*) FROM a WHERE h IN (SELECT h FROM b))
               AS exact_intersection)
    SELECT round((kk - 1) / (uk / 4294967296.0), 4) AS est_union,
           round(nb / CAST(kk AS DOUBLE), 4) AS est_jaccard,
           round(((kk - 1) / (uk / 4294967296.0)) * (nb / CAST(kk AS DOUBLE)), 4)
             AS est_intersection,
           CAST(exact_union AS BIGINT) AS exact_union,
           CAST(exact_intersection AS BIGINT) AS exact_intersection
    FROM m, j, ex
    """,
)
def q_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch set algebra: union/Jaccard/intersection cardinality
    estimates for clicking vs purchasing users from two mergeable
    32-value sketches, with exact hash-space counts as audit columns —
    why KMV over HLL when set EXPRESSIONS matter
    (operators/sketches.py:kmv_set_algebra)."""
    from kommunedata_data_pipeline_spark.operators.sketches import kmv_set_algebra

    ev = _t(spark, sf_dir, "events")
    a = ev.where(F.col("event_type") == "click").select("user_id")
    b = ev.where(F.col("event_type") == "purchase").select("user_id")
    return kmv_set_algebra(a, b, "user_id")


@_q(
    "q_quality_gate",
    f"""
    WITH q AS (SELECT doc_id, source, {_QUALITY_SQL} AS quality FROM documents),
    r AS (SELECT *, percent_rank() OVER (PARTITION BY source
                                         ORDER BY quality DESC, doc_id) AS pr
          FROM q)
    SELECT source, count(*) AS n_kept, round(min(quality), 6) AS min_quality
    FROM r WHERE pr <= 0.5
    GROUP BY source
    """,
)
def q_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality-quantile gate: keep the top half of each
    source by composite quality score (percent_rank with a doc_id
    tiebreak — a total order, so the boundary is engine-deterministic).
    The curation step every corpus build applies source-by-source rather
    than globally (sources have different score distributions)."""
    from kommunedata_data_pipeline_spark.functions.text import quality_score

    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    return (
        d.select("doc_id", "source", quality_score(F.col("text")).alias("quality"))
        .withColumn("pr", F.percent_rank().over(w))
        .where(F.col("pr") <= 0.5)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_kept"),
            F.round(F.min("quality"), 6).alias("min_quality"),
        )
    )


@_q(
    "q_cluster_weights",
    f"""
    WITH RECURSIVE {_LSH_PAIRS_CTES},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM lsh_pairs
      UNION
      SELECT doc_b, doc_a FROM lsh_pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    reach(node, lab) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.src, r.lab FROM edges e JOIN reach r ON e.dst = r.node
    ),
    cl AS (SELECT node AS doc_id, min(lab) AS cluster_id
           FROM reach GROUP BY node)
    SELECT COALESCE(cl.cluster_id, d.doc_id) AS cluster_id,
           min(d.doc_id) AS rep_doc,
           count(*) AS cluster_size
    FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id
    GROUP BY 1
    """,
)
def q_cluster_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware dedup weights: one representative document per
    duplicate cluster (min doc_id) with the cluster size as its training
    weight — the standard alternative to hard-dropping duplicates
    (downweight instead of discard; singletons get weight 1). Composes
    the LSH pair graph + distributed connected components, then one
    keyed rollup."""
    from kommunedata_data_pipeline_spark.operators.dedup import dup_clusters

    d = _t(spark, sf_dir, "documents")
    clusters = dup_clusters(minhash_lsh_pairs(d, 3, 16, 4, 0.5))
    return (
        d.select("doc_id")
        .join(clusters, "doc_id", "left")
        .groupBy(
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id")
        )
        .agg(
            F.min("doc_id").alias("rep_doc"),
            F.count("*").alias("cluster_size"),
        )
    )


@_q(
    "q_dedup_keep_best",
    f"""
    WITH RECURSIVE {_LSH_PAIRS_CTES},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM lsh_pairs
      UNION
      SELECT doc_b, doc_a FROM lsh_pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    reach(node, lab) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.src, r.lab FROM edges e JOIN reach r ON e.dst = r.node
    ),
    cl AS (SELECT node AS doc_id, min(lab) AS cluster_id
           FROM reach GROUP BY node),
    m AS (
      SELECT COALESCE(cl.cluster_id, d.doc_id) AS cluster_id, d.doc_id,
             {_QUALITY_SQL} AS quality
      FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id
    ),
    r AS (
      SELECT *,
             row_number() OVER (PARTITION BY cluster_id
                                ORDER BY quality DESC, doc_id) AS rn,
             count(*) OVER (PARTITION BY cluster_id) AS cluster_size
      FROM m
    )
    SELECT cluster_id, doc_id AS rep_doc, quality,
           CAST(cluster_size AS BIGINT) AS cluster_size
    FROM r WHERE rn = 1
    ORDER BY cluster_id
    """,
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-BEST-quality dedup representative: the production variant of
    q_cluster_weights' keep-first policy — per LSH duplicate cluster,
    keep the member with the highest composite quality score (doc_id
    tiebreak pins a total order), not the smallest id. What corpus
    builds actually do: when near-dups differ in boilerplate/truncation,
    keeping the best copy beats keeping the first. One window pass
    yields both the argmax and the cluster size; singletons are their
    own cluster with size 1."""
    from kommunedata_data_pipeline_spark.functions.text import quality_score
    from kommunedata_data_pipeline_spark.operators.dedup import dup_clusters

    d = _t(spark, sf_dir, "documents")
    clusters = dup_clusters(minhash_lsh_pairs(d, 3, 16, 4, 0.5))
    m = (
        d.select("doc_id", quality_score(F.col("text")).alias("quality"))
        .join(clusters, "doc_id", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", "doc_id"))
    )
    w = Window.partitionBy("cluster_id")
    r = m.withColumn(
        "rn",
        F.row_number().over(w.orderBy(F.desc("quality"), F.asc("doc_id"))),
    ).withColumn("cluster_size", F.count("*").over(w))
    return (
        r.where(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("rep_doc"),
            "quality",
            "cluster_size",
        )
        .orderBy("cluster_id")
    )


@_q(
    "q_decontaminate",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    g AS (SELECT doc_id, {_ngrams_sql(8)} AS grams FROM t),
    tr AS (SELECT doc_id, grams FROM g WHERE doc_id % 2 = 0),
    te AS (SELECT DISTINCT ngram
           FROM (SELECT unnest(grams) AS ngram FROM g WHERE doc_id % 2 = 1)),
    bad AS (
      SELECT DISTINCT doc_id
      FROM (SELECT doc_id, unnest(grams) AS ngram FROM tr) x
      WHERE ngram IN (SELECT ngram FROM te)
    )
    SELECT doc_id, CAST(len(grams) AS INT) AS n_ngrams
    FROM tr WHERE doc_id NOT IN (SELECT doc_id FROM bad)
    ORDER BY doc_id
    """,
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination APPLIED (the detect→act twin of q_contamination,
    same discipline as the span cut): drop every train document (even
    doc_ids) sharing ANY verbatim 8-gram with the eval set (odd
    doc_ids); emit the kept manifest. The eval gram set is tiny next to
    the train corpus — detection is an ngram-keyed semi-join, the keep
    is one doc_id anti-join, and the text column never rejoins
    (operators/corpus.py:decontaminate)."""
    from kommunedata_data_pipeline_spark.operators.corpus import decontaminate

    d = _t(spark, sf_dir, "documents")
    return decontaminate(
        d.where(F.col("doc_id") % 2 == 0), d.where(F.col("doc_id") % 2 == 1), n=8
    )


@_q(
    "q_decontaminate_bloom",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    g AS (SELECT doc_id, {_ngrams_sql(8)} AS grams FROM t),
    tr AS (SELECT doc_id, grams FROM g WHERE doc_id % 3 <> 1),
    te AS (SELECT DISTINCT ngram
           FROM (SELECT unnest(grams) AS ngram FROM g WHERE doc_id % 3 = 1)),
    bad AS (
      SELECT DISTINCT doc_id
      FROM (SELECT doc_id, unnest(grams) AS ngram FROM tr) x
      WHERE ngram IN (SELECT ngram FROM te)
    )
    SELECT doc_id, CAST(len(grams) AS INT) AS n_ngrams
    FROM tr WHERE doc_id NOT IN (SELECT doc_id FROM bad)
    ORDER BY doc_id
    """,
)
def q_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination with a BLOOM-FILTER screen in front of the exact
    ngram semi-join: the eval gram set collapses to one broadcast
    bitmap row (~10 bits/gram, k=4 double-hash probes), train grams are
    screened MAP-SIDE, and only survivors (true hits + ~1% false
    positives) reach the exact semi-join — so the oracle is the same
    EXACT SQL (false negatives are impossible; the bloom changes the
    shuffle volume, not the answer). At 100 TB this cuts the
    train-gram shuffle — the dominant movement — to contaminated-ish
    volume (operators/corpus.py:decontaminate_bloom)."""
    from kommunedata_data_pipeline_spark.operators.corpus import (
        decontaminate_bloom,
    )

    d = _t(spark, sf_dir, "documents")
    return decontaminate_bloom(
        d.where(F.col("doc_id") % 3 != 1),
        d.where(F.col("doc_id") % 3 == 1),
        n=8,
        n_bits=1 << 20,
        k=4,
    )


@_q(
    "q_chunk_dedup",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    c AS (SELECT doc_id,
            list_transform(range(1, (len(toks) + 7) // 8 + 1),
              i -> array_to_string(list_slice(toks, (i-1)*8 + 1, i*8), ' '))
            AS chunks
          FROM t),
    e AS (SELECT doc_id, i - 1 AS ci, chunks[i] AS chunk
          FROM c, UNNEST(range(1, len(chunks) + 1)) AS r(i)),
    f AS (SELECT doc_id, ci, chunk,
            min(doc_id * 1000000 + ci) OVER (PARTITION BY chunk) AS fk
          FROM e),
    rm AS (SELECT doc_id, count(*) AS n_rm FROM f
           WHERE doc_id * 1000000 + ci <> fk GROUP BY doc_id),
    kp AS (SELECT doc_id, string_agg(chunk, ' ' ORDER BY ci) AS clean_text
           FROM f WHERE doc_id * 1000000 + ci = fk GROUP BY doc_id)
    SELECT c.doc_id,
           coalesce(kp.clean_text, '') AS clean_text,
           CAST(len(c.chunks) AS BIGINT) AS n_chunks,
           CAST(coalesce(rm.n_rm, 0) AS BIGINT) AS n_removed_chunks
    FROM c LEFT JOIN kp ON c.doc_id = kp.doc_id
    LEFT JOIN rm ON c.doc_id = rm.doc_id
    ORDER BY c.doc_id
    """,
)
def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style chunk-aligned exact dedup APPLIED with keep-first
    semantics (Raffel et al. 2020 §2.2's three-sentence rule at
    8-token granularity): the globally first occurrence of every
    distinct 8-token chunk survives, later verbatim repeats are cut,
    and the cleaned corpus is emitted — the keep-one complement of
    q_cut_dup_spans (which removes ALL occurrences). One content-keyed
    shuffle (first-occurrence window per chunk); the verdict rejoins
    as a per-doc removed-index array, so text never shuffles
    (operators/corpus.py:chunk_dedup_keep_first)."""
    from kommunedata_data_pipeline_spark.operators.corpus import (
        chunk_dedup_keep_first,
    )

    return chunk_dedup_keep_first(
        _t(spark, sf_dir, "documents"), chunk=8
    ).orderBy("doc_id")


@_q(
    "q_bpe_merge_step",
    f"""
    WITH w AS (SELECT lower(unnest({_TOKS_SQL})) AS word FROM documents),
    v AS (SELECT word, count(*) AS freq FROM w GROUP BY word),
    p AS (SELECT word, freq, word[i] AS l, word[i+1] AS r
          FROM v, UNNEST(range(1, length(word))) AS t(i)
          WHERE length(word) >= 2),
    a AS (SELECT l, r, sum(freq) AS pair_cnt,
                 count(DISTINCT word) AS n_words
          FROM p GROUP BY l, r),
    rk AS (SELECT row_number() OVER (ORDER BY pair_cnt DESC, l, r) AS rank,
                  l, r, pair_cnt, n_words
           FROM a)
    SELECT CAST(rank AS INT) AS rank, l AS left_sym, r AS right_sym,
           CAST(pair_cnt AS BIGINT) AS pair_cnt,
           CAST(n_words AS BIGINT) AS n_words
    FROM rk WHERE rank <= 20 ORDER BY rank
    """,
)
def q_bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE learning step (Sennrich et al. 2016): the ranked
    merge-candidate table — corpus-weighted adjacent character-pair
    counts whose argmax IS the tokenizer trainer's next merge. The
    token explode collapses to the word-frequency vocab FIRST (vocab
    ≪ corpus), pairs enumerate over the vocab only, and both
    aggregates are map-side combinable; the top-20 window runs over an
    alphabet²-bounded table (operators/corpus.py:
    bpe_merge_candidates). Rank is totally ordered (count desc, pair
    asc) so ties cannot flip between engines."""
    from kommunedata_data_pipeline_spark.operators.corpus import (
        bpe_merge_candidates,
    )

    return bpe_merge_candidates(_t(spark, sf_dir, "documents"), k=20)


def _bpe_oracle_sql(merges: int, k_words: int) -> str:
    """Chained-CTE DuckDB twin of operators.corpus.bpe_learn_apply: one
    (pairs → argmax → replace) block per merge round, each recounting
    on the PREVIOUS round's segmentation — the same greedy sequential
    semantics, relying on both engines' identical left-to-right
    non-overlapping replace()."""
    blocks = [
        f"WITH w AS (SELECT lower(unnest({_TOKS_SQL})) AS word FROM documents),",
        "v0 AS (SELECT word, count(*) AS freq,"
        " '|' || array_to_string(list_transform(range(1, length(word) + 1),"
        " i -> word[i]), '||') || '|' AS repr"
        " FROM w WHERE word NOT LIKE '%|%' GROUP BY word)",
    ]
    for j in range(1, merges + 1):
        blocks.append(
            f", s{j} AS (SELECT freq,"
            f" string_split(substr(repr, 2, length(repr) - 2), '||') AS s"
            f" FROM v{j - 1})"
            f", p{j} AS (SELECT s[i] AS l, s[i+1] AS r, sum(freq) AS cnt"
            f" FROM s{j}, UNNEST(range(1, len(s))) AS t(i) GROUP BY l, r)"
            f", m{j} AS (SELECT l, r FROM p{j} ORDER BY cnt DESC, l, r LIMIT 1)"
            f", v{j} AS (SELECT word, freq,"
            f" replace(repr, '|' || m{j}.l || '||' || m{j}.r || '|',"
            f" '|' || m{j}.l || m{j}.r || '|') AS repr"
            f" FROM v{j - 1}, m{j})"
        )
    blocks.append(
        f" SELECT word, CAST(freq AS BIGINT) AS freq,"
        f" replace(replace(repr, '||', ' '), '|', '') AS segmented"
        f" FROM v{merges} ORDER BY freq DESC, word LIMIT {k_words}"
    )
    return "\n".join(blocks)


@_q("q_bpe_apply", _bpe_oracle_sql(3, 15))
def q_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy BPE trained AND applied (the full loop q_bpe_merge_step
    takes one step of): 3 sequential merge rounds, each recounting
    pair frequencies on the current segmentation (true BPE — round 2
    sees round 1's merged symbols), then the final segmentation of the
    15 most frequent words. Each round is one combinable pair
    aggregate over the cached vocab plus a 1-row argmax broadcast back
    via crossJoin (the kmeans_step no-collect pattern); the merge
    itself is a literal string replace over a doubled-separator
    sentinel encoding ('|l||r|' -> '|lr|') whose left-to-right
    non-overlapping scan IS BPE's greedy within-word merge order in
    both engines — single separators would share merge boundaries and
    skip every second merge in a run
    (operators/corpus.py:bpe_learn_apply)."""
    from kommunedata_data_pipeline_spark.operators.corpus import (
        bpe_learn_apply,
    )

    return bpe_learn_apply(
        _t(spark, sf_dir, "documents"), merges=3, k_words=15
    )


@_q(
    "q_logreg_step",
    """
    WITH s AS (
      SELECT count(*) AS n,
             sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS sy,
             sum(n_chars) AS sx,
             sum(n_chars * n_chars) AS sxx,
             sum(CASE WHEN lang = 'en' THEN n_chars ELSE 0 END) AS sxy
      FROM documents)
    SELECT CAST(n AS BIGINT) AS n, CAST(sy AS BIGINT) AS n_pos,
           round(2.0 * (sxx * (2*sy - n) - sx * (2*sxy - sx))
                 / (n * sxx - sx * sx), 6) AS b0,
           round(2.0 * (n * (2*sxy - sx) - sx * (2*sy - n))
                 / (n * sxx - sx * sx), 6) AS b1
    FROM s
    """,
)
def q_logreg_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact Newton step of 2-parameter logistic regression
    (is-English vs document length) from beta = 0, where p = 1/2 makes
    the step closed-form: beta = 4 (X^T X)^{-1} X^T (y - 1/2) over
    FIVE combinable integer sums — the quality-classifier trainer next
    to q_naive_bayes and q_kmeans_step. Halves are cleared
    symbolically so every operand before the final division is a
    BIGINT both engines compute bit-identically
    (operators/statistics.py:logreg_newton_step)."""
    from kommunedata_data_pipeline_spark.operators.statistics import (
        logreg_newton_step,
    )

    d = _t(spark, sf_dir, "documents")
    return logreg_newton_step(
        d, F.col("n_chars"), (F.col("lang") == "en").cast("int")
    )


@_q(
    "q_udtf_lateral",
    """
    WITH base AS (
      SELECT doc_id,
             'u' || doc_id || '_0|2024-01-0' || (1 + doc_id % 5) ||
             ';u' || doc_id || '_1|2024-02-0' || (1 + doc_id % 3) AS payload
      FROM documents
    ),
    s AS (SELECT doc_id, string_split(payload, ';') AS parts FROM base),
    e AS (SELECT doc_id, unnest(range(1, len(parts) + 1)) AS i, parts FROM s)
    SELECT doc_id, CAST(i - 1 AS INT) AS pos,
           trim(string_split(parts[i], '|')[1]) AS url,
           trim(string_split(parts[i], '|')[2]) AS raw_date
    FROM e
    """,
)
def q_udtf_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF exercised through SQL LATERAL: a synthesized listing
    payload ('url|date;url|date') explodes to one row per link with
    order reified as pos (the reference's variable-fan-out row
    extraction, §2.11). Row-at-a-time Python is deliberate here — the
    UDTF is the SQL-surface twin of the Arrow fetch layer, not the
    scale path (harvest_listings is)."""
    from kommunedata_data_pipeline_spark.functions.udtfs import register_udtfs

    register_udtfs(spark)
    d = _t(spark, sf_dir, "documents")
    d.select(
        "doc_id",
        F.concat(
            F.lit("u"), F.col("doc_id"), F.lit("_0|2024-01-0"),
            (1 + F.col("doc_id") % 5).cast("string"),
            F.lit(";u"), F.col("doc_id"), F.lit("_1|2024-02-0"),
            (1 + F.col("doc_id") % 3).cast("string"),
        ).alias("payload"),
    ).createOrReplaceTempView("__q_udtf_payloads")
    return spark.sql(
        """
        SELECT p.doc_id, t.pos, t.url, t.raw_date
        FROM __q_udtf_payloads p,
        LATERAL extract_meeting_links(p.payload) t
        """
    )


@_q(
    "q_hll_daily",
    """
    WITH e AS (
      SELECT strftime(date_trunc('day', CAST(ts AS TIMESTAMP)), '%Y-%m-%d') AS day,
             user_id
      FROM events WHERE user_id IS NOT NULL
    ),
    h AS (SELECT day,
                 ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS h
          FROM e),
    regs AS (
      SELECT day, floor(h / 67108864) AS bucket,
             max(CASE WHEN h % 67108864 = 0 THEN 27
                      ELSE 27 - length(bin(h % 67108864)) END) AS max_rho
      FROM h GROUP BY 1, 2
    ),
    hagg AS (
      SELECT day, sum(pow(2.0, -max_rho)) AS s_present, count(*) AS n_present
      FROM regs GROUP BY day
    ),
    hll AS (
      SELECT day,
             round(CASE WHEN (0.709 * 64 * 64 / (s_present + (64 - n_present)))
                             <= 160.0 AND (64 - n_present) > 0
                        THEN 64.0 * ln(64.0 / (64 - n_present))
                        ELSE 0.709 * 64 * 64 / (s_present + (64 - n_present))
                   END, 4) AS est_hll
      FROM hagg
    ),
    ex AS (SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
           FROM e GROUP BY day)
    SELECT ex.day, n_exact, est_hll FROM ex JOIN hll USING (day)
    """,
)
def q_hll_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per day via per-key HyperLogLog sketches, with the
    exact count as the audit column — the incrementally-maintainable
    dashboard shape: per-day sketches merge associatively, so late files
    update a day without recounting it
    (operators/sketches.py:hll_estimate_by)."""
    from kommunedata_data_pipeline_spark.operators.sketches import hll_estimate_by

    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .withColumn(
            "day", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
        )
    )
    exact = ev.groupBy("day").agg(
        F.count_distinct("user_id").cast("bigint").alias("n_exact")
    )
    return exact.join(hll_estimate_by(ev, "user_id", "day"), "day")


def _profile_events_oracle() -> str:
    cols = [
        ("event_id", "num"),
        ("ts", "ts"),
        ("user_id", "num"),
        ("event_type", "str"),
        ("value", "num"),
        ("props", "str"),
    ]
    parts = []
    for name, kind in cols:
        if kind == "num":
            mn = f"round(CAST(min({name}) AS DOUBLE), 4)"
            mx = f"round(CAST(max({name}) AS DOUBLE), 4)"
            ms = "CAST(NULL AS VARCHAR)"
            xs = "CAST(NULL AS VARCHAR)"
        elif kind == "ts":
            mn = "CAST(NULL AS DOUBLE)"
            mx = "CAST(NULL AS DOUBLE)"
            ms = f"strftime(min({name}), '%Y-%m-%d %H:%M:%S')"
            xs = f"strftime(max({name}), '%Y-%m-%d %H:%M:%S')"
        else:
            mn = "CAST(NULL AS DOUBLE)"
            mx = "CAST(NULL AS DOUBLE)"
            ms = f"CAST(min({name}) AS VARCHAR)"
            xs = f"CAST(max({name}) AS VARCHAR)"
        parts.append(
            f"""SELECT '{name}' AS col_name, count(*) AS n_rows,
           CAST(sum(CASE WHEN {name} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_nulls,
           CAST(count(DISTINCT {name}) AS BIGINT) AS n_distinct,
           {mn} AS min_num, {mx} AS max_num, {ms} AS min_str, {xs} AS max_str
    FROM e"""
        )
    return (
        "WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,"
        " event_type, value, props FROM events)\n    "
        + "\n    UNION ALL\n    ".join(parts)
    )


@_q("q_profile_events", _profile_events_oracle())
def q_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass data-profiling report over the events table: one row
    per column with row/null/exact-distinct counts and type-appropriate
    extremes — ONE aggregation job for the whole table (the oracle's
    union-per-column form is what the operator's literal-array pivot
    avoids at scale; operators/relational.py:profile_table)."""
    from kommunedata_data_pipeline_spark.operators.relational import profile_table

    return profile_table(_t(spark, sf_dir, "events"))


@_q(
    "q_null_semantics",
    """
    WITH e AS (SELECT event_id,
                      CASE WHEN event_id % 7 = 0 THEN NULL
                           ELSE user_id % 20 END AS k
               FROM events),
    a AS (SELECT k, count(*) AS ca FROM e WHERE event_id % 2 = 0 GROUP BY k),
    b AS (SELECT k, count(*) AS cb FROM e WHERE event_id % 2 = 1 GROUP BY k),
    j AS (SELECT a.k AS k, ca, cb
          FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k)
    SELECT k, ca, cb, CAST(ca * cb AS BIGINT) AS pairs,
           CAST(row_number() OVER (ORDER BY k ASC NULLS FIRST) AS INT)
             AS rank_nf,
           CAST(row_number() OVER (ORDER BY k ASC NULLS LAST) AS INT)
             AS rank_nl
    FROM j
    """,
)
def q_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-semantics parity battery: null-safe equality join (<=> /
    IS NOT DISTINCT FROM — the NULL group joins the NULL group) plus
    explicit NULLS FIRST vs NULLS LAST ranking over the same keys.
    Aggregate-before-join keeps the null-key match a 1x1 row pairing
    instead of a null x null row explosion — the same pre-aggregation
    any null-heavy key join needs at scale."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("event_id") % 7 == 0, F.lit(None))
        .otherwise(F.col("user_id") % 20)
        .alias("k"),
    )
    a = (
        ev.where(F.col("event_id") % 2 == 0)
        .groupBy("k")
        .agg(F.count("*").alias("ca"))
    )
    b = (
        ev.where(F.col("event_id") % 2 == 1)
        .groupBy("k")
        .agg(F.count("*").alias("cb"))
        .withColumnRenamed("k", "kb")
    )
    j = a.join(b, a["k"].eqNullSafe(b["kb"])).select("k", "ca", "cb")
    return j.select(
        "k",
        "ca",
        "cb",
        (F.col("ca") * F.col("cb")).cast("bigint").alias("pairs"),
        F.row_number()
        .over(Window.orderBy(F.asc_nulls_first("k")))
        .cast("int")
        .alias("rank_nf"),
        F.row_number()
        .over(Window.orderBy(F.asc_nulls_last("k")))
        .cast("int")
        .alias("rank_nl"),
    )


@_q(
    "q_join_size_est",
    """
    WITH a AS (SELECT user_id FROM events WHERE event_type = 'view'),
    b AS (SELECT user_id FROM events WHERE event_type = 'click'),
    ca AS (
      SELECT r.i AS r,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 8 * r.i + 1, 8))::BIGINT
               % 256 AS c,
             count(*) AS n
      FROM a, (SELECT unnest(range(0, 3)) AS i) r
      GROUP BY 1, 2
    ),
    cb AS (
      SELECT r.i AS r,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 8 * r.i + 1, 8))::BIGINT
               % 256 AS c,
             count(*) AS n
      FROM b, (SELECT unnest(range(0, 3)) AS i) r
      GROUP BY 1, 2
    ),
    dots AS (
      SELECT ca.r, sum(ca.n * cb.n) AS dot
      FROM ca JOIN cb ON ca.r = cb.r AND ca.c = cb.c
      GROUP BY ca.r
    ),
    est AS (SELECT CAST(min(dot) AS BIGINT) AS est_join_size FROM dots),
    ex AS (
      SELECT CAST(sum(fa * fb) AS BIGINT) AS exact_join_size
      FROM (SELECT user_id, count(*) AS fa FROM a GROUP BY 1) xa
      JOIN (SELECT user_id, count(*) AS fb FROM b GROUP BY 1) xb
        USING (user_id)
    )
    SELECT est_join_size, exact_join_size FROM est, ex
    """,
)
def q_join_size_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation from count-min sketch inner products
    (min over depth rows upper-bounds Σ f_A(k)·f_B(k)) — the optimizer
    statistic a planner uses when it cannot scan both sides; exact join
    size rides along as the audit column. Pure integer md5 arithmetic,
    exactly reproducible in the oracle
    (operators/sketches.py:cms_join_size_estimate)."""
    from kommunedata_data_pipeline_spark.operators.sketches import (
        cms_join_size_estimate,
    )

    ev = _t(spark, sf_dir, "events")
    a = ev.where(F.col("event_type") == "view").select("user_id")
    b = ev.where(F.col("event_type") == "click").select("user_id")
    return cms_join_size_estimate(a, b, "user_id")


@_q(
    "q_snapshot_diff",
    """
    WITH a AS (SELECT doc_id, md5(text) AS h FROM documents),
    b_base AS (SELECT doc_id,
                      CASE WHEN doc_id % 13 = 0 THEN md5(text || ' EDIT')
                           ELSE md5(text) END AS h
               FROM documents WHERE doc_id % 17 <> 0),
    b_new AS (SELECT doc_id + 100000 AS doc_id, md5(text || ' NEW') AS h
              FROM documents WHERE doc_id % 19 = 0),
    b AS (SELECT * FROM b_base UNION ALL SELECT * FROM b_new),
    j AS (SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
                 CASE WHEN a.doc_id IS NULL THEN 'added'
                      WHEN b.doc_id IS NULL THEN 'removed'
                      WHEN a.h <> b.h THEN 'changed'
                      ELSE 'unchanged' END AS status
          FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
    SELECT status, count(*) AS n FROM j GROUP BY status
    """,
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data detection between two corpus snapshots (the second
    synthesized deterministically: every 17th doc removed, every 13th
    edited, every 19th re-added as new): per-status counts from ONE
    full-outer key join over (key, content-hash) projections
    (operators/relational.py:snapshot_diff)."""
    from kommunedata_data_pipeline_spark.operators.relational import snapshot_diff

    d = _t(spark, sf_dir, "documents")
    a = d.select("doc_id", F.md5("text").alias("h"))
    b = (
        d.where(F.col("doc_id") % 17 != 0)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 13 == 0, F.md5(F.concat(F.col("text"), F.lit(" EDIT")))
            )
            .otherwise(F.md5("text"))
            .alias("h"),
        )
        .unionByName(
            d.where(F.col("doc_id") % 19 == 0).select(
                (F.col("doc_id") + 100000).alias("doc_id"),
                F.md5(F.concat(F.col("text"), F.lit(" NEW"))).alias("h"),
            )
        )
    )
    return snapshot_diff(a, b, "doc_id", "h").groupBy("status").agg(
        F.count("*").alias("n")
    )


@_q(
    "q_event_transitions",
    """
    WITH o AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
                      event_type
               FROM events),
    s AS (SELECT event_type,
                 lag(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev
          FROM o)
    SELECT prev, event_type AS next, count(*) AS n
    FROM s WHERE prev IS NOT NULL
    GROUP BY 1, 2
    """,
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event transition matrix (Markov first-order counts):
    lag over the per-user time order — the sequence-analytics primitive
    behind path analysis and next-action models. One per-user window
    (event_id tiebreak for same-ts determinism) + one map-side
    combinable rollup."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            F.lag("event_type").over(w).alias("prev"),
            F.col("event_type").alias("next"),
        )
        .where(F.col("prev").isNotNull())
        .groupBy("prev", "next")
        .agg(F.count("*").alias("n"))
    )


@_q(
    "q_session_attribution",
    """
    WITH gaps AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 600000000
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts, event_id, event_type,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS sid
      FROM gaps
    ), per AS (
      SELECT user_id, sid,
             first(event_type ORDER BY ts, event_id) AS first_type,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS converted
      FROM sessions GROUP BY user_id, sid
    )
    SELECT first_type, count(*) AS n_sessions,
           CAST(sum(converted) AS BIGINT) AS n_converted,
           round(sum(converted) * 1.0 / count(*), 6) AS conv_rate
    FROM per GROUP BY first_type
    """,
)
def q_session_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution over gap-merged sessions: each session is
    attributed to its FIRST event type (min_by over the total
    (ts, event_id) order — deterministic at same-ts ties) and counted as
    converted if it contains a purchase; per-first-type conversion
    rates. Composes sessionization + ordered-first + rollup in two
    shuffles (user_id window, then first_type agg)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wcum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    new_session = F.when(
        gap_us.isNull() | (gap_us > 600_000_000), F.lit(1)
    ).otherwise(F.lit(0))
    per = (
        ev.withColumn("new_session", new_session)
        .withColumn("sid", F.sum("new_session").over(wcum))
        .groupBy("user_id", "sid")
        .agg(
            F.min_by("event_type", F.struct("ts", "event_id")).alias("first_type"),
            F.max((F.col("event_type") == "purchase").cast("int")).alias("converted"),
        )
    )
    return per.groupBy("first_type").agg(
        F.count("*").alias("n_sessions"),
        F.sum("converted").cast("bigint").alias("n_converted"),
        F.round(F.sum("converted") / F.count("*"), 6).alias("conv_rate"),
    )


# --------------------------------------------------------------------------
# Adapted TPC-H shapes: Q9/Q11/Q21 need columns the testdata lacks
# (partsupp, commitdate/receiptdate), so these preserve the QUERY SHAPE —
# the join topology, correlation pattern, and aggregation structure the
# optimizer must handle — with available columns. Documented as
# adaptations, not TPC-H parity.


@_q(
    "q9_profit_shape",
    """
    SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                            * (1 - CAST(l_discount AS DECIMAL(18,2)))
                          - CAST(l_quantity AS DECIMAL(18,2))
                            * CAST(p_retailprice AS DECIMAL(18,2)))
                      AS DOUBLE), 2) AS profit
    FROM lineitem
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN nation   ON n_nationkey = s_nationkey
    WHERE p_size % 5 = 0
    GROUP BY 1, 2
    """,
)
def q9_profit_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 SHAPE (adapted: p_retailprice*quantity as the cost term —
    the testdata has no partsupp): 5-way join fanning lineitem through
    part/supplier/orders/nation, profit rolled up by (nation, year) in
    exact decimal. The part predicate prunes before the join chain; all
    dims broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").where(F.col("p_size") % 5 == 0)
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    profit = _dec("l_extendedprice") * (1 - _dec("l_discount")) - _dec(
        "l_quantity"
    ) * _dec("p_retailprice")
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(F.round(F.sum(profit), 2).cast("double").alias("profit"))
    )


@_q(
    "q11_concentration_shape",
    """
    WITH sv AS (
      SELECT l_suppkey,
             sum(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS v
      FROM lineitem GROUP BY l_suppkey
    )
    SELECT l_suppkey AS suppkey, round(CAST(v AS DOUBLE), 2) AS value
    FROM sv
    WHERE v * 1000 > (SELECT sum(v) FROM sv)
    """,
)
def q11_concentration_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 SHAPE (adapted: supplier revenue concentration over
    lineitem — no partsupp): group-level value vs a scalar subquery of
    the GLOBAL total. The threshold compare is v*1000 > total in exact
    decimal (no fractional multiply, so no cross-engine decimal-scale
    edge); the global total is a one-row broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    sv = li.groupBy("l_suppkey").agg(
        F.sum(_dec("l_extendedprice") * (1 - _dec("l_discount"))).alias("v")
    )
    total = sv.agg(F.sum("v").alias("__total"))
    return (
        sv.crossJoin(F.broadcast(total))
        .where(F.col("v") * 1000 > F.col("__total"))
        .select(
            F.col("l_suppkey").alias("suppkey"),
            F.round(F.col("v"), 2).cast("double").alias("value"),
        )
    )


@_q(
    "q21_blame_shape",
    """
    WITH late AS (
      SELECT l_orderkey, l_suppkey, o_orderdate
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      WHERE l_shipdate > o_orderdate + INTERVAL 80 DAY
    ),
    multi AS (
      SELECT l_orderkey FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)
      GROUP BY l_orderkey HAVING count(*) > 1
    ),
    solo_late AS (
      SELECT l_orderkey FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM late)
      GROUP BY l_orderkey HAVING count(*) = 1
    )
    SELECT s_name, count(*) AS numwait
    FROM late
    JOIN supplier ON s_suppkey = l_suppkey
    WHERE l_orderkey IN (SELECT l_orderkey FROM multi)
      AND l_orderkey IN (SELECT l_orderkey FROM solo_late)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
)
def q21_blame_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 SHAPE (adapted: 'late' = shipped >80 days after order —
    no commitdate/receiptdate): suppliers who were the ONLY late
    supplier on a multi-supplier order.

    Rewritten r5 from the two-semi-join form to TWO aggregations over
    ONE lineitem pass: orders joins as an UNHINTED (orderkey,
    orderdate) projection — AQE broadcasts it at test scale where it is
    tiny, but orders is a fact table (~lineitem/4 rows at any TPC-H
    scale), so a FORCED broadcast hint is exactly the merge_upsert r9
    defect and OOMs at 100 TB where a shuffle join is correct (caught
    by test_registry_no_forced_fact_broadcasts, r10); then
    groupBy (orderkey, suppkey) folds each supplier's late-item count,
    and groupBy orderkey derives n_suppliers / n_late_suppliers / the
    unique late supplier + its item count (valid exactly when
    n_late_suppliers == 1, the filter). The old plan shuffled
    lineitem-scale data ~5 times (two distinct+group pipelines + two
    semi joins); this shuffles it twice, both aggregations map-side
    combinable — the shape that survives 100x (the blame query is the
    classic TPC-H shuffle hog). Oracle unchanged: same SQL text."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    flagged = li.join(
        o.select("o_orderkey", "o_orderdate"),
        F.col("o_orderkey") == F.col("l_orderkey"),
    ).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 80 DAYS")
        )
        .cast("int")
        .alias("is_late"),
    )
    per_supp = flagged.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("is_late").alias("supp_late"),
        F.sum("is_late").alias("n_late_items"),
    )
    per_order = (
        per_supp.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_supp"),
            F.sum("supp_late").alias("n_late_supp"),
            F.max(
                F.when(F.col("supp_late") == 1, F.col("l_suppkey"))
            ).alias("late_supp"),
            F.sum(
                F.when(F.col("supp_late") == 1, F.col("n_late_items"))
            ).alias("late_items"),
        )
        .where((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
    )
    return (
        per_order.join(
            F.broadcast(s), F.col("s_suppkey") == F.col("late_supp")
        )
        .groupBy("s_name")
        .agg(F.sum("late_items").cast("bigint").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


@_q(
    "q12_priority_mix_shape",
    """
    SELECT l_linestatus AS ship_class,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate > o_orderdate
      AND l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
    GROUP BY 1 ORDER BY 1
    """,
)
def q12_priority_mix_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 SHAPE (adapted: l_linestatus stands in for the absent
    l_shipmode, shipped-after-ordered for the absent commit/receipt lag
    chain): orders x lineitem join under a one-year ship-date window,
    rolled up into the two-branch CASE counts (high/low priority) per
    class. The CASE sums are map-side combinable; the date window is
    pushed to the lineitem scan."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
        )
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .where(F.col("l_shipdate") > F.col("o_orderdate"))
        .groupBy(F.col("l_linestatus").alias("ship_class"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("ship_class")
    )


@_q(
    "q20_threshold_shape",
    """
    WITH pk AS (SELECT p_partkey FROM part WHERE p_name LIKE 'small%'),
    yearly AS (
      SELECT l_partkey, l_suppkey, sum(l_quantity) AS year_qty
      FROM lineitem
      WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
        AND l_partkey IN (SELECT p_partkey FROM pk)
      GROUP BY 1, 2
    ),
    total AS (
      SELECT l_partkey, sum(l_quantity) AS part_qty
      FROM lineitem
      WHERE l_partkey IN (SELECT p_partkey FROM pk)
      GROUP BY 1
    )
    SELECT s_suppkey, s_name, n_name AS nation
    FROM supplier JOIN nation ON n_nationkey = s_nationkey
    WHERE n_nationkey % 5 = 3
      AND s_suppkey IN (
        SELECT y.l_suppkey FROM yearly y
        JOIN total t ON y.l_partkey = t.l_partkey
        WHERE y.year_qty > 0.1 * t.part_qty)
    ORDER BY s_suppkey
    """,
)
def q20_threshold_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 SHAPE (adapted: the availqty threshold — partsupp is
    absent — becomes 'shipped >10% of the part's all-time quantity in
    one year' (10%, not TPC-H's availqty-derived constant: the uniform
    multi-year spread of the synthetic data caps any one-year share at
    ~12%, so a 30% threshold was provably vacuous — the r9 gate)): the nested IN-subquery chain (name-filtered parts →
    per-(part,supp) year aggregate → correlated threshold against a
    per-part aggregate → supplier semi-join → nation filter) expressed
    as broadcast semi-joins and one agg-vs-agg equi-join, the
    decorrelation every engine applies to Q20. The part-key filter is a
    broadcast semi-join pushed below BOTH lineitem aggregates, so the
    big scans prune before shuffling."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    pk = p.where(F.col("p_name").like("small%")).select("p_partkey")
    li_p = li.join(
        F.broadcast(pk), F.col("l_partkey") == F.col("p_partkey"), "left_semi"
    )
    yearly = (
        li_p.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("year_qty"))
    )
    total = li_p.groupBy("l_partkey").agg(F.sum("l_quantity").alias("part_qty"))
    qualified = (
        yearly.join(total, "l_partkey")
        .where(F.col("year_qty") > 0.1 * F.col("part_qty"))
        .select("l_suppkey")
    )
    return (
        s.join(
            F.broadcast(n.where(F.col("n_nationkey") % 5 == 3)),
            F.col("n_nationkey") == F.col("s_nationkey"),
        )
        .join(qualified, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name", F.col("n_name").alias("nation"))
        .orderBy("s_suppkey")
    )


@_q(
    "q_priority_per_group",
    """
    WITH s AS (
      SELECT lang AS grp, doc_id AS skey, CAST(n_chars AS DOUBLE) AS w,
             CAST(n_chars AS DOUBLE) /
               ((1 + (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                      % 1048576)) / 1048577.0) AS priority
      FROM documents
    ),
    r AS (
      SELECT grp, skey, w, priority,
             row_number() OVER (PARTITION BY grp
                                ORDER BY priority DESC, skey) AS rn
      FROM s
    ),
    t AS (
      SELECT grp, skey, w, priority, rn,
             max(CASE WHEN rn = 9 THEN priority END)
               OVER (PARTITION BY grp) AS tau
      FROM r
    )
    SELECT grp, skey, round(w, 2) AS w, round(priority, 4) AS priority,
           round(greatest(w, COALESCE(tau, w)), 4) AS est_weight
    FROM t WHERE rn <= 8
    """,
)
def q_priority_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language priority sample (8 docs per language, weighted by
    document length) with per-group unbiased estimator weights — the
    stratified variant of q_priority_sample: a global weighted sample
    would starve small strata; this takes k per group in ONE shuffle
    (operators/sampling.py:priority_sample_per_group)."""
    from kommunedata_data_pipeline_spark.operators.sampling import (
        priority_sample_per_group,
    )

    d = _t(spark, sf_dir, "documents")
    return priority_sample_per_group(
        d, "lang", F.col("doc_id"), F.col("n_chars").cast("double"), 8
    )


@_q(
    "q_entropy_report",
    """
    WITH f AS (
      SELECT 'event_type' AS col_name, count(*) AS f
      FROM events WHERE event_type IS NOT NULL GROUP BY event_type
      UNION ALL
      SELECT 'user_id', count(*) FROM events
      WHERE user_id IS NOT NULL GROUP BY user_id
    )
    SELECT col_name, count(*) AS n_keys,
           round(ln(sum(f)) - sum(f * ln(f)) / sum(f), 6) AS entropy,
           round(CASE WHEN count(*) > 1
                 THEN (ln(sum(f)) - sum(f * ln(f)) / sum(f)) / ln(count(*))
                 ELSE 0.0 END, 6) AS norm_entropy
    FROM f GROUP BY col_name
    """,
)
def q_entropy_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon + normalized entropy of the event keys — the
    mixture-balance metric behind corpus reweighting (one log per
    DISTINCT key, never per row;
    operators/statistics.py:entropy_report)."""
    from kommunedata_data_pipeline_spark.operators.statistics import entropy_report

    return entropy_report(
        _t(spark, sf_dir, "events"), ["event_type", "user_id"]
    )


@_q(
    "q_weighted_median",
    """
    WITH r AS (
      SELECT l_returnflag AS grp, l_extendedprice AS v,
             sum(CAST(l_quantity AS BIGINT)) OVER (
               PARTITION BY l_returnflag
               ORDER BY l_extendedprice, l_orderkey * 8 + l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
             sum(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_returnflag) AS tw
      FROM lineitem
    )
    SELECT grp, min(v) AS weighted_median,
           CAST(max(tw) AS BIGINT) AS total_weight
    FROM r WHERE cw * 2 >= tw GROUP BY grp
    """,
)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per return flag — lower weighted
    median via one per-group window cumsum (integer weights ⇒ exact
    threshold arithmetic; unique tiebreak pins the cumsum order;
    operators/statistics.py:weighted_median_by)."""
    from kommunedata_data_pipeline_spark.operators.statistics import (
        weighted_median_by,
    )

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("grp"),
        F.col("l_extendedprice").alias("v"),
        F.col("l_quantity").cast("bigint").alias("wq"),
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("uk"),
    )
    return weighted_median_by(li, "grp", "v", "wq", "uk")


@_q(
    "q_ref_integrity",
    """
    WITH o AS (
      SELECT event_type AS grp, count(*) AS n_orphans
      FROM events e
      WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id)
      GROUP BY event_type
    ), t AS (
      SELECT event_type AS grp, count(*) AS n_rows FROM events GROUP BY event_type
    )
    SELECT t.grp, n_rows, COALESCE(n_orphans, 0) AS n_orphans,
           round(COALESCE(n_orphans, 0) * 1.0 / n_rows, 6) AS orphan_rate
    FROM t LEFT JOIN o ON t.grp = o.grp
    """,
)
def q_ref_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: per event type, fact rows whose
    user_id is absent from the customer dimension (one left-anti join
    against the key-projected dim + two combinable rollups) — the
    partial-dim-load smoke signal
    (operators/statistics.py:referential_orphans)."""
    from kommunedata_data_pipeline_spark.operators.statistics import (
        referential_orphans,
    )

    return referential_orphans(
        _t(spark, sf_dir, "events"),
        _t(spark, sf_dir, "customer"),
        "user_id",
        "c_custkey",
        "event_type",
    )


@_q(
    "q_intersect_except",
    """
    SELECT user_id, event_type, 'intersect' AS setop FROM (
      SELECT user_id, event_type FROM events WHERE event_id % 2 = 0
      INTERSECT ALL
      SELECT user_id, event_type FROM events WHERE event_id % 3 = 0
    )
    UNION ALL
    SELECT user_id, event_type, 'except' AS setop FROM (
      SELECT user_id, event_type FROM events WHERE event_id % 2 = 0
      EXCEPT ALL
      SELECT user_id, event_type FROM events WHERE event_id % 3 = 0
    )
    """,
)
def q_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset INTERSECT ALL / EXCEPT ALL between two event slices —
    the bag-semantics set operators (D3/D4's multiset siblings), each a
    single aggregate-on-both-sides plan, labeled and unioned."""
    e = _t(spark, sf_dir, "events")
    a = e.where(F.col("event_id") % 2 == 0).select("user_id", "event_type")
    b = e.where(F.col("event_id") % 3 == 0).select("user_id", "event_type")
    return a.intersectAll(b).withColumn("setop", F.lit("intersect")).unionByName(
        a.exceptAll(b).withColumn("setop", F.lit("except"))
    )


@_q(
    "q_compaction_plan",
    """
    WITH a AS (
      SELECT lang AS part, doc_id AS f, n_chars AS sz,
             CAST(floor((sum(n_chars) OVER (PARTITION BY lang ORDER BY doc_id)
                         - 1) / 50000) AS BIGINT) AS raw_grp
      FROM documents WHERE lang IS NOT NULL
    ),
    g AS (
      SELECT part, raw_grp, count(*) AS n_files,
             CAST(sum(sz) AS BIGINT) AS total_bytes,
             min(f) AS first_file, max(f) AS last_file
      FROM a GROUP BY part, raw_grp
    )
    SELECT part,
           CAST(dense_rank() OVER (PARTITION BY part ORDER BY raw_grp) - 1
                AS BIGINT) AS grp,
           n_files, total_bytes, first_file, last_file
    FROM g
    """,
)
def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction plan over the documents listing (size =
    n_chars, partition = lang, 50 KB target groups): cumsum-bucket
    bin-packing as ONE per-partition window over metadata rows, group
    ids dense-renumbered per partition — the lake-maintenance work list
    (operators/layout.py:plan_compaction)."""
    from kommunedata_data_pipeline_spark.operators.layout import plan_compaction

    d = _t(spark, sf_dir, "documents").where(F.col("lang").isNotNull())
    return plan_compaction(d, "lang", "n_chars", "doc_id", 50_000)


@_q(
    "q_agg_state_merge",
    """
    WITH shard AS (
      SELECT event_type, event_id % 4 AS shard,
             count(value) AS st_n,
             sum(CAST(value AS DECIMAL(28,6))) AS st_sum,
             min(value) AS st_min, max(value) AS st_max
      FROM events GROUP BY event_type, event_id % 4
    )
    SELECT event_type, CAST(sum(st_n) AS BIGINT) AS n,
           round(CAST(sum(st_sum) AS DOUBLE), 2) AS total_value,
           min(st_min) AS min_value, max(st_max) AS max_value,
           round(CAST(sum(st_sum) AS DOUBLE) / sum(st_n), 4) AS avg_value
    FROM shard GROUP BY event_type
    """,
)
def q_agg_state_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregation: four simulated ingest shards each
    produce a mergeable (count, decimal-sum, min, max) state, and the
    report folds the STATES — never re-scanning history. The decimal
    state makes the merge associative and exact, so the oracle (and any
    shard order) reproduces the one-shot aggregate bit-for-bit
    (operators/aggregates.py:partial_agg_state / merge_agg_states)."""
    from kommunedata_data_pipeline_spark.operators.aggregates import (
        merge_agg_states,
        partial_agg_state,
    )

    e = _t(spark, sf_dir, "events")
    shards = [
        partial_agg_state(
            e.where(F.col("event_id") % 4 == i), ["event_type"], "value"
        )
        for i in range(4)
    ]
    states = shards[0]
    for s in shards[1:]:
        states = states.unionByName(s)
    return merge_agg_states(states, ["event_type"])


@_q(
    "q_debounce",
    """
    WITH d AS (
      SELECT event_id, user_id, event_type, ts,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
                                     ORDER BY ts, event_id) AS prev_us
      FROM events
      WHERE user_id IS NOT NULL AND event_type IS NOT NULL AND ts IS NOT NULL
    )
    SELECT event_id, user_id, event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
    FROM d
    WHERE prev_us IS NULL OR epoch_us(ts) - prev_us > 300 * 1000000
    """,
)
def q_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst debouncing per (user, event type): keep the first event of
    every gap-delimited burst (>5 min silence starts a new burst) — the
    retry-storm / double-fire collapse every ingest needs. One
    partitioned window, lag comparison in codegen
    (operators/relational.py:debounce_bursts)."""
    from kommunedata_data_pipeline_spark.operators.relational import debounce_bursts

    e = _t(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
        & F.col("ts").isNotNull()
    )
    kept = debounce_bursts(e, ["user_id", "event_type"], "ts", 300, "event_id")
    return kept.select(
        "event_id",
        "user_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
    )


@_q(
    "q_bm25_topk",
    f"""
    WITH norm AS (SELECT doc_id, {_NORM_SQL} AS t FROM documents),
    toks AS (SELECT doc_id, unnest(string_split(t, ' ')) AS w FROM norm),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
    st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    tf AS (SELECT doc_id, w, count(*) AS tf FROM toks
           WHERE w IN ('spark', 'vector', 'merge') GROUP BY 1, 2),
    dfq AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
    sc AS (
      SELECT tf.doc_id,
             ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
               * tf * (1.2 + 1.0)
               / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / st.avgdl)) AS s
      FROM tf JOIN dfq USING (w) JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st
    )
    SELECT doc_id, round(sum(s), 4) AS bm25
    FROM sc GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 20
    """,
)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 against a fixed 3-term query — the lexical-retrieval
    probe behind contamination checks and targeted curation. One
    tokenize pass, term filter straight after the explode, tiny
    broadcast df/stats joins (operators/retrieval.py:bm25_topk)."""
    from kommunedata_data_pipeline_spark.operators.retrieval import bm25_topk

    d = _t(spark, sf_dir, "documents")
    return bm25_topk(d, ["spark", "vector", "merge"])


@_q(
    "q_equidepth_histogram",
    """
    WITH v AS (
      SELECT event_type, value, event_id,
             ntile(4) OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS q
      FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
    )
    SELECT event_type, q, count(*) AS n,
           round(min(value), 4) AS lo, round(max(value), 4) AS hi
    FROM v GROUP BY event_type, q
    """,
)
def q_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type equi-depth (quartile) histogram: ntile over a
    deterministic total order (value, event_id), then per-bucket
    min/max/count — the feature-binning shape. The window is PARTITIONED
    by event_type (per-key parallel sort), never a global single-task
    sort; at 100 TB the same report comes from approx quantile
    boundaries + a width-bucket join, trading exactness for one pass."""
    e = _t(spark, sf_dir, "events").where(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return (
        e.select("event_type", "value", F.ntile(4).over(w).alias("q"))
        .groupBy("event_type", "q")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 4).alias("lo"),
            F.round(F.max("value"), 4).alias("hi"),
        )
    )


@_q(
    "q_prefix_jaccard",
    f"""
    WITH {_SHINGLES_CTE},
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(n_common / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.5
    """,
)
def q_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered set-similarity self-join (AllPairs/PPJoin shape)
    at Jaccard ≥ 0.5. The oracle is the BRUTE-FORCE posting-list
    self-join — passing it proves the prefix bound generates every
    qualifying pair (exact result, no LSH recall loss) while joining
    only each document's rarest (1−t)·|doc| tokens
    (operators/dedup.py:prefix_filter_jaccard_pairs)."""
    from kommunedata_data_pipeline_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
    )

    d = _t(spark, sf_dir, "documents")
    return prefix_filter_jaccard_pairs(d, 3, 0.5)


@_q(
    "q_gini_skew",
    """
    WITH f AS (
      SELECT 'user_id' AS col_name, CAST(user_id AS VARCHAR) AS ks, count(*) AS f
      FROM events WHERE user_id IS NOT NULL GROUP BY user_id
      UNION ALL
      SELECT 'event_type', event_type, count(*)
      FROM events WHERE event_type IS NOT NULL GROUP BY event_type
    ), r AS (
      SELECT col_name, f,
             row_number() OVER (PARTITION BY col_name ORDER BY f, ks) AS i
      FROM f
    )
    SELECT col_name, count(*) AS n_keys,
           round(2.0 * sum(i * f) / (count(*) * sum(f))
                 - (count(*) + 1.0) / count(*), 6) AS gini,
           round(max(f) * 1.0 / sum(f), 6) AS top_share
    FROM r GROUP BY col_name
    """,
)
def q_gini_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew report (frequency Gini + top-key share) for the two join
    keys of the events table — the measurement that decides whether a
    key needs the salting/hot-cold valves before a 100 TB shuffle
    (operators/statistics.py:gini_skew_report)."""
    from kommunedata_data_pipeline_spark.operators.statistics import gini_skew_report

    return gini_skew_report(_t(spark, sf_dir, "events"), ["user_id", "event_type"])


@_q(
    "q_chi_square",
    """
    WITH c AS (
      SELECT event_type AS a, EXTRACT(hour FROM ts) AS b, count(*) AS obs
      FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
      GROUP BY 1, 2
    ), ra AS (SELECT a, sum(obs) AS ra FROM c GROUP BY a),
       cb AS (SELECT b, sum(obs) AS cb FROM c GROUP BY b),
       g  AS (SELECT sum(obs) AS nn FROM c),
       e AS (
         SELECT c.a, c.b, c.obs, ra.ra * cb.cb * 1.0 / g.nn AS exp
         FROM c JOIN ra ON c.a = ra.a JOIN cb ON c.b = cb.b CROSS JOIN g
       )
    SELECT count(*) AS n_cells,
           (count(DISTINCT a) - 1) * (count(DISTINCT b) - 1) AS dof,
           round(sum((obs - exp) * (obs - exp) / exp), 4) AS chi2
    FROM e
    """,
)
def q_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence of event type vs hour-of-day — the "is
    the event mix stable across time" drift check, computed from ONE
    contingency aggregation (marginals re-derive from the tiny cell
    table; operators/statistics.py:chi_square_independence)."""
    from kommunedata_data_pipeline_spark.operators.statistics import (
        chi_square_independence,
    )

    e = _t(spark, sf_dir, "events").select(
        "event_type", F.hour("ts").alias("hod")
    )
    return chi_square_independence(e, "event_type", "hod")


@_q(
    "q_kl_divergence",
    """
    WITH c AS (
      SELECT lang AS k,
             sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS f0,
             sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS f1
      FROM documents WHERE lang IS NOT NULL GROUP BY lang
    ), t AS (SELECT sum(f0) AS n0, sum(f1) AS n1, count(*) AS v FROM c),
       p AS (
         SELECT (f0 + 0.5) / (n0 + 0.5 * v) AS p,
                (f1 + 0.5) / (n1 + 0.5 * v) AS q
         FROM c CROSS JOIN t
       )
    SELECT count(*) AS vocab,
           round(sum(p * ln(p / q)), 6) AS kl_pq,
           round(sum(q * ln(q / p)), 6) AS kl_qp
    FROM p
    """,
)
def q_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed symmetric KL divergence between the language mixes of
    the even/odd document split — the distribution-drift detector run
    before trusting a mixture weight across corpus snapshots
    (operators/statistics.py:kl_divergence_splits)."""
    from kommunedata_data_pipeline_spark.operators.statistics import (
        kl_divergence_splits,
    )

    d = _t(spark, sf_dir, "documents")
    return kl_divergence_splits(d, "lang", F.col("doc_id") % 2 == 1)


@_q(
    "q_exact_percentiles",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.5), 4) AS median_value,
           round(quantile_cont(value, 0.9), 4) AS p90_value,
           count(value) AS n_vals
    FROM events GROUP BY event_type
    """,
)
def q_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated per-group percentiles (Spark `percentile` ==
    ANSI percentile_cont == DuckDB quantile_cont). Exact quantiles need
    a per-group sort; at 100 TB swap in approx_percentile (t-digest,
    map-side combinable) when 4-dp exactness isn't required — same call
    shape."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 4).alias("median_value"),
        F.round(F.percentile("value", F.lit(0.9)), 4).alias("p90_value"),
        F.count("value").alias("n_vals"),
    )


@_q(
    "q_cube_dow",
    """
    SELECT event_type, EXTRACT(dow FROM ts) + 1 AS dow,
           count(*) AS n,
           round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 2) AS sum_value,
           CAST(GROUPING(event_type) AS INT) AS g_type,
           CAST(GROUPING(EXTRACT(dow FROM ts) + 1) AS INT) AS g_dow
    FROM events
    WHERE event_type IS NOT NULL AND ts IS NOT NULL
    GROUP BY CUBE(event_type, EXTRACT(dow FROM ts) + 1)
    """,
)
def q_cube_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (event_type, day-of-week) with grouping flags — all four
    grouping sets in ONE pass (Catalyst expands the cube into a single
    Expand + aggregation; no per-set re-scan). Decimal-exact sums; the
    grouping() flags disambiguate rollup nulls from data nulls.

    (Renamed from q_grouping_sets in r5: the r4 registration collided
    with the r2-green GROUPING-SETS-via-spark.sql query of that name,
    silently evicting it — see VERDICT r4 #1. Both now coexist.)"""
    e = (
        _t(spark, sf_dir, "events")
        .where(F.col("event_type").isNotNull() & F.col("ts").isNotNull())
        .select("event_type", F.dayofweek("ts").alias("dow"), "value")
    )
    return e.cube("event_type", "dow").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 2
        ).alias("sum_value"),
        F.grouping("event_type").cast("int").alias("g_type"),
        F.grouping("dow").cast("int").alias("g_dow"),
    )


# --------------------------------------------------------------------------
# round-5 additions: recursive traversal, similarity join on edit
# distance, M4 downsampling, robust outliers

# Deterministic sparse DAG on the customer key space, shared by the two
# BFS queries: node u links to <= 6 pseudo-hash forward offsets (pure
# BIGINT arithmetic — identical in Spark SQL and DuckDB, unlike the
# md5-conversion idioms which differ per engine). Forward-only edges
# (dst > src) make it a DAG, so the UNION ALL recursion terminates even
# without UNION-distinct (which Spark 4.1 recursive CTEs don't support).
# Depth is bounded at 5: path count <= sources * 6^5, SF-independent.
_BFS_GRAPH_CTE = """
WITH RECURSIVE mx AS (SELECT max(c_custkey) AS mxu FROM customer),
ks AS (SELECT 1 AS k UNION ALL SELECT 2 UNION ALL SELECT 3
       UNION ALL SELECT 4 UNION ALL SELECT 5 UNION ALL SELECT 6),
edges AS (
  SELECT DISTINCT c_custkey AS src,
         c_custkey + 1 + ((c_custkey * 1103515245 + k * 12345) % 2147483647) % 211 AS dst
  FROM customer, ks, mx
  WHERE c_custkey + 1 + ((c_custkey * 1103515245 + k * 12345) % 2147483647) % 211 <= mx.mxu
),
srcs AS (SELECT c_custkey AS node FROM customer ORDER BY c_custkey LIMIT 3),
walk AS (
  SELECT node, 0 AS lvl FROM srcs
  UNION ALL
  SELECT e.dst AS node, w.lvl + 1 AS lvl
  FROM walk w JOIN edges e ON e.src = w.node
  WHERE w.lvl < 5
),
lv AS (SELECT node, min(lvl) AS lvl FROM walk GROUP BY node)
"""

_RECURSIVE_CTE_SQL = _BFS_GRAPH_CTE + """
SELECT CAST(lvl AS INT) AS lvl, CAST(count(*) AS BIGINT) AS n_nodes,
       min(node) AS min_node, max(node) AS max_node
FROM lv GROUP BY lvl ORDER BY lvl
"""

# The recursive member run by Spark — textually the walk/lv CTEs of
# _BFS_GRAPH_CTE over pre-materialized edge/source views. The BROADCAST
# hint rides in a comment (DuckDB ignores it); it pins the per-level
# join to broadcast even at driver-default shuffle partitions.
_RECURSIVE_WALK_SQL = """
WITH RECURSIVE walk AS (
  SELECT node, 0 AS lvl FROM bfs_srcs
  UNION ALL
  SELECT /*+ BROADCAST(e) */ e.dst AS node, w.lvl + 1 AS lvl
  FROM walk w JOIN bfs_edges e ON e.src = w.node
  WHERE w.lvl < 5
),
lv AS (SELECT node, min(lvl) AS lvl FROM walk GROUP BY node)
SELECT CAST(lvl AS INT) AS lvl, CAST(count(*) AS BIGINT) AS n_nodes,
       min(node) AS min_node, max(node) AS max_node
FROM lv GROUP BY lvl ORDER BY lvl
"""


def _bfs_graph(spark: SparkSession, sf_dir: str):
    """(edges, sources) DataFrames of the shared BFS DAG — the exact
    DataFrame translation of _BFS_GRAPH_CTE's edges/srcs CTEs."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("u"))
    mx = c.agg(F.max("u").alias("mxu"))
    edges = (
        c.select("u", F.explode(F.sequence(F.lit(1), F.lit(6))).alias("k"))
        .crossJoin(F.broadcast(mx))
        .select(
            F.col("u").alias("src"),
            F.expr(
                "u + 1 + ((u * 1103515245 + k * 12345) % 2147483647) % 211"
            ).alias("dst"),
            "mxu",
        )
        .where(F.col("dst") <= F.col("mxu"))
        .select("src", "dst")
        .distinct()
    )
    sources = c.orderBy("u").limit(3).select(F.col("u").alias("node"))
    return edges, sources


@_q("q_recursive_cte", _RECURSIVE_CTE_SQL)
def q_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4.1 ``WITH RECURSIVE``) breadth-first
    reachability over a deterministic sparse DAG: per-level histogram of
    minimum hop distance from the 3 smallest customer nodes. The
    recursive walk/lv text is shared verbatim with the DuckDB oracle
    (which additionally derives the graph in-CTE); Spark materializes
    the edge/source views ONCE first — UnionLoopExec re-evaluates the
    anchor side's CTE chain at every recursion level, and the measured
    cost of leaving the DISTINCT-bearing edges derivation inline is 2×
    (2.8 s vs 1.4 s warm at sf0.1). The DataFrame twin q_bfs_levels
    runs the same traversal as an explicit frontier loop — the scale
    path when path-counting UNION ALL recursion would explode (rows
    are PATHS until the final min(lvl) dedup; the frontier loop dedups
    every round)."""
    edges, sources = _bfs_graph(spark, sf_dir)
    edges.localCheckpoint(eager=True).createOrReplaceTempView("bfs_edges")
    sources.localCheckpoint(eager=True).createOrReplaceTempView("bfs_srcs")
    return spark.sql(_RECURSIVE_WALK_SQL)


@_q(
    "q_bfs_levels",
    _BFS_GRAPH_CTE + """
SELECT node, CAST(lvl AS INT) AS lvl FROM lv ORDER BY node
""",
)
def q_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Level-synchronous frontier BFS (operators/graph.py:bfs_levels)
    over the same DAG as q_recursive_cte: (node, min hop level) from
    the 3 smallest customer nodes, depth <= 5. Per round: broadcast the
    frontier onto the cached edges (edge rows never move), distinct,
    anti-join vs visited — the Pregel traversal shape that survives
    graphs where recursive-CTE path enumeration is exponential."""
    from kommunedata_data_pipeline_spark.operators.graph import bfs_levels

    edges, sources = _bfs_graph(spark, sf_dir)
    return bfs_levels(edges, sources, 5, early_exit=False).orderBy("node")


@_q(
    "q_fuzzy_join_edit",
    """
    WITH s AS (
      SELECT c_custkey AS sid, c_name AS str, length(c_name) AS n FROM customer
    ),
    vi AS (
      SELECT sid, str, unnest(range(0, n + 1)) AS i FROM s
    ),
    v AS (
      SELECT DISTINCT sid,
             CASE WHEN i = 0 THEN str
                  ELSE substr(str, 1, CAST(i AS INT) - 1)
                       || substr(str, CAST(i AS INT) + 1)
             END AS var
      FROM vi
    ),
    cand AS (
      SELECT DISTINCT a.sid AS id_a, b.sid AS id_b
      FROM v a JOIN v b ON a.var = b.var AND a.sid < b.sid
    ),
    p AS (
      SELECT id_a, id_b, levenshtein(sa.str, sb.str) AS edit_dist
      FROM cand
      JOIN s sa ON sa.sid = id_a
      JOIN s sb ON sb.sid = id_b
    )
    SELECT CAST(edit_dist AS INT) AS edit_dist,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(id_a) AS BIGINT) AS sum_a,
           CAST(sum(id_b) AS BIGINT) AS sum_b
    FROM p WHERE edit_dist <= 1
    GROUP BY 1 ORDER BY 1
    """,
)
def q_fuzzy_join_edit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT edit-distance<=1 similarity self-join over ALL customer
    names via deletion-neighborhood signatures (FastSS/SymSpell —
    operators/dedup.py:deletion_neighborhood_join), fingerprinted per
    distance as (pair count, key sums). Signature buckets only hold
    strings one aligned edit apart, so candidates track the true match
    count on any data — including this zero-padded keyspace, where
    q-gram prefix filtering degenerates (see q_edit_join_prefix for
    the general-k Ed-Join on a bounded slice, and the pytest
    brute-force crosschecks pinning both operators' recall)."""
    from kommunedata_data_pipeline_spark.operators.dedup import (
        deletion_neighborhood_join,
    )

    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    pairs = deletion_neighborhood_join(c, "c_custkey", "c_name")
    return (
        pairs.groupBy("edit_dist")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum("id_a").cast("bigint").alias("sum_a"),
            F.sum("id_b").cast("bigint").alias("sum_b"),
        )
        .orderBy("edit_dist")
    )


@_q(
    "q_edit_join_prefix",
    """
    WITH c AS (
      SELECT c_custkey, c_name FROM customer WHERE c_custkey % 10 = 0
    )
    SELECT CAST(levenshtein(a.c_name, b.c_name) AS INT) AS edit_dist,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(a.c_custkey) AS BIGINT) AS sum_a,
           CAST(sum(b.c_custkey) AS BIGINT) AS sum_b
    FROM c a JOIN c b ON a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 1
    GROUP BY 1 ORDER BY 1
    """,
)
def q_edit_join_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General-k Ed-Join (positional q-gram prefix filter —
    operators/dedup.py:edit_distance_join) on the c_custkey % 10 slice,
    against the brute-force O(n²) levenshtein oracle: the filter chain
    must lose NOTHING for the integer pair sums to agree. Bounded to a
    decimated slice because BOTH roads are super-linear on this
    low-entropy keyspace — the all-pairs oracle by construction, and
    gram-prefix candidates because zero-padded serials share their
    "rare" grams in blocks (the deletion-signature fast path in
    q_fuzzy_join_edit covers the full table)."""
    from kommunedata_data_pipeline_spark.operators.dedup import edit_distance_join

    c = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_custkey") % 10 == 0)
        .select("c_custkey", "c_name")
    )
    pairs = edit_distance_join(c, "c_custkey", "c_name", k=1, q=3)
    return (
        pairs.groupBy("edit_dist")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum("id_a").cast("bigint").alias("sum_a"),
            F.sum("id_b").cast("bigint").alias("sum_b"),
        )
        .orderBy("edit_dist")
    )


@_q(
    "q_m4_downsample",
    """
    WITH rng AS (
      SELECT epoch_us(min(ts)) AS t0, epoch_us(max(ts)) + 1 AS t1 FROM events
    ),
    p AS (
      SELECT event_type AS series,
             CAST(least(99, (epoch_us(ts) - t0) * 100 // (t1 - t0)) AS INT)
               AS bucket,
             epoch_us(ts) AS t_us, event_id AS pid, value AS v
      FROM events, rng
    ),
    w AS (
      SELECT *,
             row_number() OVER (PARTITION BY series, bucket
                                ORDER BY t_us, pid) AS rf,
             row_number() OVER (PARTITION BY series, bucket
                                ORDER BY t_us DESC, pid DESC) AS rl
      FROM p
    ),
    mm AS (
      SELECT series, bucket, CAST(count(*) AS BIGINT) AS n_points,
             min(v) AS v_min, max(v) AS v_max
      FROM p GROUP BY series, bucket
    )
    SELECT mm.series, mm.bucket, mm.n_points,
           f.t_us AS t_open_us, round(f.v, 6) AS v_open,
           round(mm.v_min, 6) AS v_min, round(mm.v_max, 6) AS v_max,
           l.t_us AS t_close_us, round(l.v, 6) AS v_close
    FROM mm
    JOIN (SELECT * FROM w WHERE rf = 1) f
      ON f.series = mm.series AND f.bucket = mm.bucket
    JOIN (SELECT * FROM w WHERE rl = 1) l
      ON l.series = mm.series AND l.bucket = mm.bucket
    """,
)
def q_m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 downsampling (operators/timeseries.py:m4_downsample): per
    event_type and 100-bucket slice of the global time range, the four
    rendering-exact points (first/last/min/max). One map-side-combinable
    hash aggregate — no window sort; integer microsecond buckets and
    id-tiebroken struct min/max make it engine-exact (the oracle takes
    the window-function road to the same four points)."""
    from kommunedata_data_pipeline_spark.operators.timeseries import m4_downsample

    ev = _t(spark, sf_dir, "events")
    out = m4_downsample(ev, "event_type", "ts", "value", "event_id", 100)
    return out.select(
        "series",
        "bucket",
        F.col("n_points").cast("bigint").alias("n_points"),
        "t_open_us",
        F.round("v_open", 6).alias("v_open"),
        F.round("v_min", 6).alias("v_min"),
        F.round("v_max", 6).alias("v_max"),
        "t_close_us",
        F.round("v_close", 6).alias("v_close"),
    )


@_q(
    "q_robust_outliers",
    """
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ),
    dev AS (
      SELECT e.event_type, abs(e.value - m.med) AS ad
      FROM events e JOIN med m USING (event_type)
    ),
    mad AS (
      SELECT event_type, quantile_cont(ad, 0.5) AS mad
      FROM dev GROUP BY event_type
    )
    SELECT d.event_type, CAST(count(*) AS BIGINT) AS n,
           round(any_value(me.med), 6) AS med,
           round(any_value(ma.mad), 6) AS mad,
           CAST(sum(CASE WHEN d.ad > 4.4478 * ma.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM dev d
    JOIN mad ma USING (event_type)
    JOIN med me USING (event_type)
    GROUP BY d.event_type
    """,
)
def q_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust outlier report per event_type
    (operators/statistics.py:robust_outliers): exact interpolated
    medians (parity pinned by q_percentiles/q_exact_percentiles), MAD,
    and the strict-threshold outlier count at 3·1.4826·MAD. Identical
    double ops on identical operands on both engines — the comparison
    and count are bit-reproducible."""
    from kommunedata_data_pipeline_spark.operators.statistics import robust_outliers

    return robust_outliers(
        _t(spark, sf_dir, "events"), "event_type", "value"
    ).select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        "med",
        "mad",
        F.col("n_outliers").cast("bigint").alias("n_outliers"),
    )


@_q(
    "q_sssp_bounded",
    """
    WITH RECURSIVE mx AS (SELECT max(c_custkey) AS mxu FROM customer),
    ks AS (SELECT 1 AS k UNION ALL SELECT 2 UNION ALL SELECT 3
           UNION ALL SELECT 4 UNION ALL SELECT 5 UNION ALL SELECT 6),
    edges AS (
      SELECT DISTINCT src, dst, 1 + (src * 31 + dst * 17) % 97 AS w
      FROM (
        SELECT c_custkey AS src,
               c_custkey + 1 + ((c_custkey * 1103515245 + k * 12345)
                                % 2147483647) % 211 AS dst
        FROM customer, ks
      ), mx
      WHERE dst <= mx.mxu
    ),
    src0 AS (SELECT min(c_custkey) AS node FROM customer),
    walk AS (
      SELECT node, CAST(0 AS BIGINT) AS dist, 0 AS hops FROM src0
      UNION ALL
      SELECT e.dst AS node, w.dist + e.w AS dist, w.hops + 1 AS hops
      FROM walk w JOIN edges e ON e.src = w.node
      WHERE w.hops < 6
    )
    SELECT node, min(dist) AS dist FROM walk GROUP BY node ORDER BY node
    """,
)
def q_sssp_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded Bellman-Ford (operators/graph.py:sssp_bounded): minimum
    path cost within 6 hops from the smallest customer node, over the
    shared BFS DAG with deterministic integer weights
    w = 1 + (src*31 + dst*17) % 97. Unlike q_bfs_levels a label can
    IMPROVE after first reach (cheaper longer-hop path), so the loop
    relaxes changed labels and keeps per-node integer min — exact,
    partitioning-independent, and oracled by bounded path enumeration
    (the hop bound is part of the semantics, making the recursive-CTE
    reference finite)."""
    from kommunedata_data_pipeline_spark.operators.graph import sssp_bounded

    edges, _ = _bfs_graph(spark, sf_dir)
    wedges = edges.withColumn(
        "w", F.expr("1 + (src * 31 + dst * 17) % 97")
    )
    c = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("u"))
    src0 = c.agg(F.min("u").alias("node"))
    return sssp_bounded(wedges, src0, 6, early_exit=False).orderBy("node")


@_q(
    "q_assoc_rules",
    """
    WITH tx AS (
      SELECT DISTINCT l_orderkey AS b, l_partkey % 100 AS item FROM lineitem
    ),
    nb AS (SELECT count(DISTINCT b) AS n_baskets FROM tx),
    isup AS (SELECT item, count(*) AS n_item FROM tx GROUP BY item),
    freq AS (SELECT item FROM isup WHERE n_item >= 5),
    ftx AS (SELECT b, item FROM tx WHERE item IN (SELECT item FROM freq)),
    pair AS (
      SELECT x.item AS item_a, y.item AS item_b, count(*) AS n_ab
      FROM ftx x JOIN ftx y ON x.b = y.b AND x.item <> y.item
      GROUP BY 1, 2 HAVING count(*) >= 5
    )
    SELECT item_a, item_b, CAST(n_ab AS BIGINT) AS n_ab,
           round(n_ab / n_baskets, 6) AS support,
           round(n_ab / sa.n_item, 6) AS confidence,
           round((n_ab * n_baskets) / (sa.n_item * sb.n_item), 6) AS lift
    FROM pair
    JOIN isup sa ON sa.item = pair.item_a
    JOIN isup sb ON sb.item = pair.item_b
    CROSS JOIN nb
    ORDER BY lift DESC, item_a, item_b LIMIT 30
    """,
)
def q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise association rules over order baskets (basket =
    l_orderkey, item = part category l_partkey % 100) —
    operators/corpus.py:association_rules. Top-30 by lift with the
    standard total tie-break (rounded measure + unique pair key).
    Apriori item-support pruning runs BEFORE the per-basket pair join;
    ratios are double divisions of exact BIGINT counts."""
    from kommunedata_data_pipeline_spark.operators.corpus import association_rules

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("b"),
        (F.col("l_partkey") % 100).alias("item"),
    )
    rules = association_rules(li, "b", "item", 5, 5)
    return rules.orderBy(F.desc("lift"), "item_a", "item_b").limit(30)


_GROUP_BY_ALL_SQL = """
SELECT o_orderstatus, o_orderpriority,
       count(*) AS n,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS sum_price
FROM orders GROUP BY ALL ORDER BY ALL
"""


@_q("q_group_by_all", _GROUP_BY_ALL_SQL)
def q_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL / ORDER BY ALL (Spark 4 SQL surface): grouping keys
    inferred from the non-aggregate select list, total output order
    inferred from all columns. IDENTICAL SQL text runs on both engines
    (the q_grouping_sets convention); decimal-exact sum emitted as
    double."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_GROUP_BY_ALL_SQL)


_LATERAL_TOPK_SQL = """
SELECT c.c_custkey, t.o_orderkey, t.o_totalprice AS price
FROM customer c, LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
) t
WHERE c.c_custkey % 20 = 0
ORDER BY c.c_custkey, t.o_orderkey
"""


@_q("q_lateral_topk", _LATERAL_TOPK_SQL)
def q_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-row ORDER BY + LIMIT — the
    SQL-surface road to top-k-per-group (the DSL road is
    q_topk_per_group's rank window). IDENTICAL text on both engines;
    Catalyst decorrelates the lateral into a ranked join rather than
    re-executing the subquery per outer row. Full tie-break inside the
    lateral (price DESC, key) pins the kept rows. Values are stored
    doubles — no arithmetic, no rounding needed."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_LATERAL_TOPK_SQL)


@_q(
    "q_table_fingerprint",
    """
    SELECT count(*) AS n_rows,
           bit_xor(h) AS xor_fp,
           CAST(sum(h % 1000000007) AS BIGINT) AS sum_fp
    FROM (
      SELECT ('0x' || substr(md5(r), 1, 14))::BIGINT AS h FROM (
        SELECT concat_ws('|', CAST(o_orderkey AS VARCHAR),
               CAST(o_custkey AS VARCHAR), o_orderstatus, o_orderpriority,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
               CAST(CAST(o_orderdate AS DATE) AS VARCHAR)) AS r
        FROM orders)
    )
    """,
)
def q_table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent content fingerprint of the orders table
    (operators/statistics.py:table_fingerprint) — count + hash-XOR +
    modular hash-sum over an engine-canonical row string. THE
    migration-validation primitive: the oracle computing the same
    single row from the same parquet via a different engine IS the
    use case (source/target comparison without moving data)."""
    from kommunedata_data_pipeline_spark.operators.statistics import (
        table_fingerprint,
    )

    o = _t(spark, sf_dir, "orders")
    row_repr = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.col("o_orderpriority"),
        F.col("o_totalprice").cast("decimal(18,2)").cast("string"),
        F.col("o_orderdate").cast("date").cast("string"),
    )
    return table_fingerprint(o, row_repr)


@_q(
    "q_benford",
    """
    WITH c AS (
      SELECT CAST(floor(o_totalprice
                        / power(10, floor(log10(o_totalprice)))) AS INT)
               AS digit,
             count(*) AS n
      FROM orders WHERE o_totalprice > 0 GROUP BY 1
    ),
    t AS (SELECT sum(n) AS n_total FROM c)
    SELECT digit, CAST(n AS BIGINT) AS n,
           round(n / n_total, 6) AS pct,
           round(log10(1 + 1 / digit), 6) AS benford_pct,
           round(n / n_total - log10(1 + 1 / digit), 6) AS dev
    FROM c, t ORDER BY digit
    """,
)
def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit screen over order totals
    (operators/statistics.py:benford_report) — data-forensics check
    for fabricated/truncated values. Digit extraction and shares are
    identical double ops on identical operands on both engines. (The
    synthetic totals are NOT Benford-distributed — the point is the
    report, and its large deviations prove it's measuring.)"""
    from kommunedata_data_pipeline_spark.operators.statistics import benford_report

    return benford_report(
        _t(spark, sf_dir, "orders"), "o_totalprice"
    ).orderBy("digit")


@_q(
    "q_time_weighted_avg",
    """
    WITH o AS (
      SELECT event_type, value,
             epoch_us(lead(ts) OVER (PARTITION BY event_type
                                     ORDER BY ts, value))
               - epoch_us(ts) AS dur_us
      FROM events
    ),
    a AS (
      SELECT event_type, count(*) AS n_intervals,
             CAST(sum(dur_us) AS BIGINT) AS total_us,
             sum(CAST(value AS DECIMAL(18,6)) * dur_us) AS wsum
      FROM o WHERE dur_us IS NOT NULL GROUP BY event_type
    )
    SELECT event_type, CAST(n_intervals AS BIGINT) AS n_intervals,
           total_us,
           round(CAST(wsum AS DOUBLE) / total_us, 6) AS twa
    FROM a
    """,
)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCF time-weighted average per event_type
    (operators/timeseries.py:time_weighted_avg — the TimescaleDB
    time_weight statistic): each value weighted by microseconds until
    the key's next event. One lead() window + one aggregate; the
    weighted sum accumulates in exact DECIMAL so partitioning cannot
    move the answer, with a single double division at the end."""
    from kommunedata_data_pipeline_spark.operators.timeseries import (
        time_weighted_avg,
    )

    out = time_weighted_avg(_t(spark, sf_dir, "events"), "event_type", "ts", "value")
    return out.select(
        "event_type",
        F.col("n_intervals").cast("bigint").alias("n_intervals"),
        "total_us",
        "twa",
    )


@_q(
    "q_rolling_median",
    """
    SELECT event_type, epoch_us(ts) AS t_us, value,
           round(quantile_cont(value, 0.5) OVER (
             PARTITION BY event_type ORDER BY ts, value
             ROWS BETWEEN 9 PRECEDING AND CURRENT ROW), 6) AS roll_med
    FROM events WHERE user_id % 50 = 0
    ORDER BY event_type, t_us, value
    """,
)
def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling median (10-row window) per event_type over a
    deterministic user slice (operators/timeseries.py:rolling_median)
    — the robust smoother next to q_ewma's exponential mean. Windowed
    interpolated percentile; cross-engine interpolation parity is the
    same contract q_percentiles pins."""
    from kommunedata_data_pipeline_spark.operators.timeseries import rolling_median

    ev = _t(spark, sf_dir, "events").where(F.col("user_id") % 50 == 0)
    out = rolling_median(ev, "event_type", "ts", "value", 9)
    return out.select(
        "event_type",
        F.unix_micros("ts").alias("t_us"),
        "value",
        "roll_med",
    ).orderBy("event_type", "t_us", "value")


@_q(
    "q_media_frames",
    """
    WITH ks AS (SELECT 0 AS i UNION ALL SELECT 1 UNION ALL SELECT 2
                UNION ALL SELECT 3),
    m AS (
      SELECT CAST(doc_id AS VARCHAR) AS media_id,
             CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'wav' END AS fmt,
             1000 + ((CASE WHEN doc_id % 2 = 0 THEN 33 ELSE 36 END) * 37)
               % 9000 AS dur
      FROM documents
    )
    SELECT media_id, fmt, CAST(4 AS INT) AS n_frames,
           CAST(i AS INT) AS frame_idx,
           CAST((i * dur) // 4 AS BIGINT) AS t_ms,
           ('0x' || substr(md5(media_id || '#'
                               || CAST((i * dur) // 4 AS VARCHAR)), 1, 8))::BIGINT
             AS frame_fp
    FROM m, ks
    """,
)
def q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over synthesized video/audio blobs
    (transforms/multimodal.py:synthetic_frame_sample): the 1-row-in,
    n-frames-out mapInPandas shape — evenly spaced integer-ms
    timestamps, md5-derived frame fingerprints standing in for decoded
    pixels (decode stubbed, plumbing real). The oracle recomputes
    every frame row by arithmetic from doc_id — blob length, duration,
    timestamps, and fingerprint must all survive the binary
    round-trip."""
    from kommunedata_data_pipeline_spark.transforms.multimodal import (
        synthetic_frame_sample,
    )

    return synthetic_frame_sample(_t(spark, sf_dir, "documents"), 4)


@_q(
    "q_winsorize",
    """
    WITH pct AS (
      SELECT event_type, quantile_cont(value, 0.05) AS p_lo,
             quantile_cont(value, 0.95) AS p_hi
      FROM events GROUP BY event_type
    ),
    c AS (
      SELECT e.event_type, e.value AS v, p.p_lo, p.p_hi,
             least(greatest(e.value, p.p_lo), p.p_hi) AS w
      FROM events e JOIN pct p USING (event_type)
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN v < p_lo THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_low,
           CAST(sum(CASE WHEN v > p_hi THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_high,
           round(any_value(p_lo), 6) AS p_lo,
           round(any_value(p_hi), 6) AS p_hi,
           round(CAST(sum(CAST(w AS DECIMAL(18,6))) AS DOUBLE), 4)
             AS winsorized_sum
    FROM c GROUP BY event_type
    """,
)
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type winsorization summary at [p05, p95]
    (operators/statistics.py:winsorize_report): exact interpolated
    clip bounds broadcast back onto the scan, strict clip counts, and
    a DECIMAL-exact clipped sum — the heavy-tail tamer that keeps row
    counts intact (unlike outlier dropping)."""
    from kommunedata_data_pipeline_spark.operators.statistics import (
        winsorize_report,
    )

    return winsorize_report(
        _t(spark, sf_dir, "events"), "event_type", "value", 0.05, 0.95
    )


@_q(
    "q_seasonal_residuals",
    """
    WITH base AS (
      SELECT event_type AS k, dayofweek(ts) AS dow, hour(ts) AS hod,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*)
               AS baseline
      FROM events GROUP BY 1, 2, 3
    ),
    scored AS (
      SELECT e.event_type, e.event_id AS pid, e.value AS v,
             round(b.baseline, 6) AS baseline,
             round(e.value - b.baseline, 6) AS residual,
             round(abs(e.value - b.baseline), 6) AS abs_res
      FROM events e
      JOIN base b ON b.k = e.event_type AND b.dow = dayofweek(e.ts)
                 AND b.hod = hour(e.ts)
    )
    SELECT * FROM scored ORDER BY abs_res DESC, pid LIMIT 20
    """,
)
def q_seasonal_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive anomaly screen
    (operators/timeseries.py:seasonal_residuals): top-20 observations
    by deviation from their own (type, day-of-week, hour) cell mean.
    The cell table broadcasts back onto the scan (never a data-sized
    window); DECIMAL cell sums + one double division keep residuals
    bit-identical across engines. (Engines label day-of-week
    differently — irrelevant: cells only need to PARTITION rows the
    same way, and they do.)"""
    from kommunedata_data_pipeline_spark.operators.timeseries import (
        seasonal_residuals,
    )

    return seasonal_residuals(
        _t(spark, sf_dir, "events"), "event_type", "ts", "value", "event_id", 20
    )


@_q(
    "q_edit_join_k2",
    """
    WITH c AS (
      SELECT c_custkey, c_name FROM customer WHERE c_custkey % 25 = 0
    )
    SELECT CAST(levenshtein(a.c_name, b.c_name) AS INT) AS edit_dist,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(a.c_custkey) AS BIGINT) AS sum_a,
           CAST(sum(b.c_custkey) AS BIGINT) AS sum_b
    FROM c a JOIN c b ON a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 2
    GROUP BY 1 ORDER BY 1
    """,
)
def q_edit_join_k2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ed-Join at k=2 (the general-k claim under driver evidence, not
    just pytest): distance-2 pairs on the c_custkey % 25 slice, per
    distance (count, key sums) vs the brute-force oracle — the k*q+1
    prefix, 2-position band, and |len|<=2 filter must jointly lose
    nothing."""
    from kommunedata_data_pipeline_spark.operators.dedup import edit_distance_join

    c = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_custkey") % 25 == 0)
        .select("c_custkey", "c_name")
    )
    pairs = edit_distance_join(c, "c_custkey", "c_name", k=2, q=2)
    return (
        pairs.groupBy("edit_dist")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum("id_a").cast("bigint").alias("sum_a"),
            F.sum("id_b").cast("bigint").alias("sum_b"),
        )
        .orderBy("edit_dist")
    )


@_q(
    "q_k_anonymity",
    """
    WITH classes AS (
      SELECT c_mktsegment, c_nationkey,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bkt,
             count(*) AS sz,
             count(DISTINCT c_custkey % 7) AS lv
      FROM customer GROUP BY 1, 2, 3
    )
    SELECT CAST(count(*) AS BIGINT) AS n_classes,
           CAST(sum(sz) AS BIGINT) AS n_rows,
           CAST(min(sz) AS BIGINT) AS min_class_size,
           CAST(min(lv) AS BIGINT) AS min_l_diversity,
           CAST(sum(CASE WHEN sz < 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS classes_below_k,
           CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT)
             AS rows_below_k,
           CAST(sum(CASE WHEN lv < 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS classes_below_l,
           round(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) / sum(sz), 6)
             AS suppression_rate
    FROM classes
    """,
)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity release audit
    (operators/statistics.py:k_anonymity_report) over customer
    quasi-identifiers (segment, nation, account-balance bucket) with a
    derived sensitive attribute: class counts, k=5 / l=2 violations,
    and the suppression rate a k-anonymous release would pay. One
    combinable groupBy; the class table is bounded by quasi-id
    cardinality, never data-sized."""
    from kommunedata_data_pipeline_spark.operators.statistics import (
        k_anonymity_report,
    )

    c = _t(spark, sf_dir, "customer").select(
        "c_mktsegment",
        "c_nationkey",
        F.expr("CAST(floor(c_acctbal / 1000) AS BIGINT)").alias("bal_bkt"),
        (F.col("c_custkey") % 7).alias("sens"),
    )
    return k_anonymity_report(
        c, ["c_mktsegment", "c_nationkey", "bal_bkt"], "sens", 5, 2
    )


@_q(
    "q_interval_union",
    """
    WITH iv AS (
      SELECT event_type AS k, epoch_us(ts) AS s,
             epoch_us(ts) + 1800000000 AS e
      FROM events
    ),
    marked AS (
      SELECT k, s, e,
             max(e) OVER (PARTITION BY k ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max_e
      FROM iv
    ),
    flagged AS (
      SELECT k, s, e,
             CASE WHEN prev_max_e IS NULL OR s > prev_max_e
                  THEN 1 ELSE 0 END AS new_island
      FROM marked
    ),
    islands AS (
      SELECT k, s, e,
             sum(new_island) OVER (PARTITION BY k ORDER BY s, e
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS island
      FROM flagged
    ),
    agg AS (
      SELECT k, island, max(e) - min(s) AS len_us
      FROM islands GROUP BY k, island
    )
    SELECT k AS event_type, CAST(count(*) AS BIGINT) AS n_islands,
           CAST(sum(len_us) AS BIGINT) AS covered_us
    FROM agg GROUP BY k
    """,
)
def q_interval_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total covered time per event_type when each event spans 30
    minutes (operators/timeseries.py:interval_union_length) —
    union-of-intervals coverage, the statistic a naive duration sum
    double-counts wherever sessions overlap. Gaps-and-islands on
    integer microseconds; the exact complement to q_peak_concurrency's
    sweep-line (how MUCH overlap vs how LONG anything was active)."""
    from kommunedata_data_pipeline_spark.operators.timeseries import (
        interval_union_length,
    )

    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    return interval_union_length(
        ev, "event_type", us, us + 1_800_000_000
    )


@_q(
    "q_sliding_distinct",
    """
    WITH du AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
      FROM events
    ),
    bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM du),
    contrib AS (
      SELECT day + CAST(6 - i AS INT) AS win_day, user_id
      FROM (SELECT day, user_id, unnest(range(0, 7)) AS i FROM du), bounds
      WHERE day + CAST(6 - i AS INT) BETWEEN d0 AND d1
    )
    SELECT CAST(win_day AS VARCHAR) AS day,
           CAST(count(DISTINCT user_id) AS BIGINT) AS active_7d
    FROM contrib GROUP BY win_day ORDER BY win_day
    """,
)
def q_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT trailing-7-day distinct active users per day — the exact
    twin of q_hll_daily's sketch-merge rollup. Sliding DISTINCT cannot
    merge like sums, so each (day, user) contributes itself to the 7
    window-days it falls in (bounded 7x explode of the already-deduped
    daily table — NOT of raw events) and one distinct-count per window
    day finishes it. Scale shape: daily dedup (combinable) -> 7x
    day-spine explode -> two-phase distinct count; window length bounds
    the blow-up, never the data."""
    ev = _t(spark, sf_dir, "events")
    du = (
        ev.select(
            F.date_trunc("day", "ts").cast("date").alias("day"), "user_id"
        )
        .distinct()
    )
    bounds = du.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    contrib = (
        du.select(
            "day", "user_id",
            F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"),
        )
        .crossJoin(F.broadcast(bounds))
        .select(
            F.date_add(F.col("day"), F.expr("6 - i")).alias("win_day"),
            "user_id", "d0", "d1",
        )
        .where(F.col("win_day").between(F.col("d0"), F.col("d1")))
    )
    from kommunedata_data_pipeline_spark.operators.aggregates import (
        distinct_count_two_phase,
    )

    out = distinct_count_two_phase(
        contrib.select(F.col("win_day").cast("string").alias("day"), "user_id"),
        "day",
        "user_id",
        "active_7d",
    )
    return out.orderBy("day")


@_q(
    "q_path_trigrams",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS e2,
             lead(event_type, 2) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS e3
      FROM events
    )
    SELECT event_type AS e1, e2, e3, CAST(count(*) AS BIGINT) AS n
    FROM seq WHERE e2 IS NOT NULL AND e3 IS NOT NULL
    GROUP BY 1, 2, 3
    ORDER BY n DESC, e1, e2, e3 LIMIT 15
    """,
)
def q_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top event-type TRIGRAM paths across per-user ordered streams —
    sequence mining one order above q_event_transitions' bigram
    matrix. Two lead() taps on ONE per-user window sort (unique
    event_id tiebreak pins the order), then a combinable trigram
    count; path vocabulary is |types|³-bounded, never data-sized."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("e1"),
        F.lead("event_type").over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    )
    return (
        seq.where(F.col("e2").isNotNull() & F.col("e3").isNotNull())
        .groupBy("e1", "e2", "e3")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(F.desc("n"), "e1", "e2", "e3")
        .limit(15)
    )


@_q(
    "q_record_linkage",
    """
    WITH s AS (
      SELECT c_custkey AS sid, c_name AS str, length(c_name) AS n FROM customer
    ),
    vi AS (SELECT sid, str, unnest(range(0, n + 1)) AS i FROM s),
    v AS (
      SELECT DISTINCT sid,
             CASE WHEN i = 0 THEN str
                  ELSE substr(str, 1, CAST(i AS INT) - 1)
                       || substr(str, CAST(i AS INT) + 1)
             END AS var
      FROM vi
    ),
    cand AS (
      SELECT DISTINCT a.sid AS id_a, b.sid AS id_b
      FROM v a JOIN v b ON a.var = b.var AND a.sid < b.sid
    ),
    p AS (
      SELECT id_a, id_b FROM cand
      JOIN s sa ON sa.sid = id_a
      JOIN s sb ON sb.sid = id_b
      WHERE levenshtein(sa.str, sb.str) <= 1
    ),
    nn AS (SELECT count(*) AS n FROM customer),
    sq1 AS (SELECT sum(c * c) AS sq_seg FROM
            (SELECT count(*) AS c FROM customer GROUP BY c_mktsegment)),
    sq2 AS (SELECT sum(c * c) AS sq_nat FROM
            (SELECT count(*) AS c FROM customer GROUP BY c_nationkey)),
    j AS (
      SELECT p.id_a, p.id_b,
             CAST(ca.c_mktsegment = cb.c_mktsegment AS INT)
               AS agree_c_mktsegment,
             CAST(ca.c_nationkey = cb.c_nationkey AS INT)
               AS agree_c_nationkey,
             round(
               (CASE WHEN ca.c_mktsegment = cb.c_mktsegment
                     THEN ln(0.875 / (sq_seg / (n * n)))
                     ELSE ln(0.125 / (1 - sq_seg / (n * n))) END)
               + (CASE WHEN ca.c_nationkey = cb.c_nationkey
                       THEN ln(0.875 / (sq_nat / (n * n)))
                       ELSE ln(0.125 / (1 - sq_nat / (n * n))) END),
               6) AS score
      FROM p
      JOIN customer ca ON ca.c_custkey = id_a
      JOIN customer cb ON cb.c_custkey = id_b
      CROSS JOIN nn CROSS JOIN sq1 CROSS JOIN sq2
    )
    SELECT * FROM j ORDER BY score DESC, id_a, id_b LIMIT 20
    """,
)
def q_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter record linkage
    (operators/dedup.py:linkage_scores): deletion-neighborhood name
    candidates scored by per-field agreement log-likelihood weights,
    with u-probabilities (random-pair agreement) estimated exactly
    from value-frequency collision sums. Top-20 by score. m = 0.875 —
    deliberately a dyadic rational so 1−m is the identical double on
    both engines (0.9 would make the disagree weight differ in the
    last ulp between Python float and SQL decimal subtraction)."""
    from kommunedata_data_pipeline_spark.operators.dedup import (
        deletion_neighborhood_join,
        linkage_scores,
    )

    c = _t(spark, sf_dir, "customer")
    pairs = deletion_neighborhood_join(
        c.select("c_custkey", "c_name"), "c_custkey", "c_name"
    ).select("id_a", "id_b")
    scored = linkage_scores(
        pairs, c, "c_custkey", ["c_mktsegment", "c_nationkey"], 0.875
    )
    return scored.orderBy(F.desc("score"), "id_a", "id_b").limit(20)


@_q(
    "q_cusum_changepoint",
    """
    WITH s AS (
      SELECT event_type AS k, ts, event_id AS pid,
             CAST(value AS DECIMAL(18,6)) AS v
      FROM events
    ),
    sc AS (
      SELECT k, pid,
             sum(v) OVER (PARTITION BY k ORDER BY ts, pid
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS run,
             row_number() OVER (PARTITION BY k ORDER BY ts, pid) AS i,
             count(*) OVER (PARTITION BY k) AS n,
             sum(v) OVER (PARTITION BY k) AS all_sum
      FROM s
    ),
    t AS (
      SELECT k, pid, i, n, abs(n * run - i * all_sum) AS a FROM sc
    ),
    r AS (
      SELECT k, pid, i, n, a,
             row_number() OVER (PARTITION BY k
                                ORDER BY a DESC, pid DESC, i DESC) AS rn
      FROM t
    )
    SELECT k AS event_type, CAST(n AS BIGINT) AS n, pid AS peak_id,
           CAST(i AS BIGINT) AS peak_pos,
           round(CAST(a AS DOUBLE) / n, 4) AS peak_cusum
    FROM r WHERE rn = 1
    """,
)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point locator per event_type
    (operators/timeseries.py:cusum_changepoint): the position where
    the cumulative deviation from the series mean peaks. The running
    statistic is scaled by n (T_i = n·Σ_{j≤i}v − i·Σv) so the whole
    walk is DECIMAL-exact with NO division until the one rounded
    report value — decimal-division scale rules, the usual
    cross-engine trap, never fire."""
    from kommunedata_data_pipeline_spark.operators.timeseries import (
        cusum_changepoint,
    )

    return cusum_changepoint(
        _t(spark, sf_dir, "events"), "event_type", "ts", "value", "event_id"
    )


@_q(
    "q_ab_ztest",
    """
    WITH u AS (
      SELECT user_id,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2
               AS arm,
             max(CASE WHEN event_type = 'purchase' AND value > 200
                      THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY user_id
    ),
    a AS (
      SELECT sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n0,
             sum(CASE WHEN arm = 0 AND converted = 1 THEN 1 ELSE 0 END) AS c0,
             sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n1,
             sum(CASE WHEN arm = 1 AND converted = 1 THEN 1 ELSE 0 END) AS c1
      FROM u
    )
    SELECT CAST(n0 AS BIGINT) AS n0, CAST(c0 AS BIGINT) AS c0,
           CAST(n1 AS BIGINT) AS n1, CAST(c1 AS BIGINT) AS c1,
           round(c0 / n0, 6) AS rate0,
           round(c1 / n1, 6) AS rate1,
           round(c1 / n1 - c0 / n0, 6) AS lift,
           round(CASE WHEN n0 > 0 AND n1 > 0
                           AND (c0 + c1) / (n0 + n1) > 0
                           AND (c0 + c1) / (n0 + n1) < 1
                      THEN (c1 / n1 - c0 / n0)
                           / sqrt((c0 + c1) / (n0 + n1)
                                  * (1 - (c0 + c1) / (n0 + n1))
                                  * (1 / n0 + 1 / n1)) END, 4) AS z
    FROM a
    """,
)
def q_ab_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout
    (operators/statistics.py:ab_proportions_ztest): users hash-split
    into two arms (md5 parity — the deterministic cross-engine
    assignment every experiment platform uses), conversion = any
    purchase over 200; per-arm counts, rates, lift, and the
    pooled-variance z statistic — all double expressions over exact
    integer counts, computed once on the one-row aggregate."""
    from kommunedata_data_pipeline_spark.functions.strings import md5_bigint
    from kommunedata_data_pipeline_spark.operators.statistics import (
        ab_proportions_ztest,
    )

    units = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("value") > 200),
                    1,
                ).otherwise(0)
            ).alias("converted")
        )
        .select(
            F.pmod(md5_bigint(F.col("user_id").cast("string")), F.lit(2)).alias(
                "arm"
            ),
            "converted",
        )
    )
    return ab_proportions_ztest(units)


@_q(
    "q_grid_nn",
    """
    WITH pts AS (
      SELECT c_custkey AS pid, (c_custkey * 7919 + 13) % 10000 AS x,
             (c_custkey * 104729 + 7) % 10000 AS y
      FROM customer
    ),
    hub AS (
      SELECT s_suppkey AS hid, (s_suppkey * 4409 + 3) % 10000 AS hx,
             (s_suppkey * 9973 + 11) % 10000 AS hy
      FROM supplier
    ),
    cand AS (
      SELECT p.pid, h.hid,
             (x - hx) * (x - hx) + (y - hy) * (y - hy) AS d2
      FROM pts p JOIN hub h
        ON abs(x - hx) <= 500 AND abs(y - hy) <= 500
    ),
    rk AS (
      SELECT pid, hid, d2,
             row_number() OVER (PARTITION BY pid ORDER BY d2, hid) AS rn
      FROM cand
    )
    SELECT CAST(count(*) AS BIGINT) AS n_points,
           CAST(count(r.hid) AS BIGINT) AS n_matched,
           CAST(sum(r.d2) AS BIGINT) AS sum_d2,
           CAST(max(r.d2) AS BIGINT) AS max_d2,
           CAST(sum(p.pid * r.hid) AS BIGINT) AS link_checksum
    FROM pts p LEFT JOIN (SELECT * FROM rk WHERE rn = 1) r USING (pid)
    """,
)
def q_grid_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-indexed bounded-radius nearest neighbor
    (operators/joins.py:grid_nearest): each customer (synthetic
    integer plane coordinates) matched to its nearest supplier hub
    within one 500-unit grid cell, or unmatched. The 9-cell hub
    replication makes the candidate join a pure EQUI-join on cell keys
    (the oracle brute-forces the same bounded search as a theta join);
    integer squared distances + hub-id tie-break are engine-exact.
    Reported as a coverage fingerprint (counts, distance sums, link
    checksum)."""
    from kommunedata_data_pipeline_spark.operators.joins import grid_nearest

    pts = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("pid"),
        F.expr("(c_custkey * 7919 + 13) % 10000").alias("x"),
        F.expr("(c_custkey * 104729 + 7) % 10000").alias("y"),
    )
    hubs = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("hid"),
        F.expr("(s_suppkey * 4409 + 3) % 10000").alias("hx"),
        F.expr("(s_suppkey * 9973 + 11) % 10000").alias("hy"),
    )
    nn = grid_nearest(pts, hubs, 500)
    return nn.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        F.count("hub_id").cast("bigint").alias("n_matched"),
        F.sum("dist2").cast("bigint").alias("sum_d2"),
        F.max("dist2").cast("bigint").alias("max_d2"),
        F.sum(F.col("pid") * F.col("hub_id")).cast("bigint").alias(
            "link_checksum"
        ),
    )


_DANISH_WORDS = [
    "Aalborg", "Aarhus", "Ærø", "Ølgod", "Åbenrå", "Odense",
    "Ikast", "Høje-Taastrup", "Vejle", "Skærbæk", "Østerbro", "Ålborg",
]


@_q(
    "q_danish_collation",
    """
    WITH w AS (
      SELECT CASE c_custkey % 12
               WHEN 0 THEN 'Aalborg' WHEN 1 THEN 'Aarhus'
               WHEN 2 THEN 'Ærø' WHEN 3 THEN 'Ølgod'
               WHEN 4 THEN 'Åbenrå' WHEN 5 THEN 'Odense'
               WHEN 6 THEN 'Ikast' WHEN 7 THEN 'Høje-Taastrup'
               WHEN 8 THEN 'Vejle' WHEN 9 THEN 'Skærbæk'
               WHEN 10 THEN 'Østerbro' ELSE 'Ålborg' END AS word
      FROM customer
    ),
    g AS (SELECT word, count(*) AS n FROM w GROUP BY word)
    SELECT CAST(row_number() OVER (ORDER BY word COLLATE da, word) AS INT)
             AS rnk,
           word, CAST(n AS BIGINT) AS n
    FROM g ORDER BY rnk
    """,
)
def q_danish_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Danish-locale ICU collation (the reference's home domain): rank
    municipality names under ``COLLATE da``, where å sorts LAST and —
    the classic — 'Aa' in Aalborg collates as å, after Ø, not before
    Odense. The rank VALUE pins the locale sort order into the
    comparison (the driver hashes order-insensitively); Spark 4 ICU
    locale collations vs DuckDB's ICU extension must agree letter for
    letter. Binary tie-break after the collated key keeps tertiary-
    equal strings deterministic."""
    words = _t(spark, sf_dir, "customer").select(
        F.element_at(
            F.array(*[F.lit(x) for x in _DANISH_WORDS]),
            (F.col("c_custkey") % 12 + 1).cast("int"),
        ).alias("word")
    )
    g = words.groupBy("word").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return g.select(
        F.expr(
            "CAST(row_number() OVER (ORDER BY word COLLATE da, word) AS INT)"
        ).alias("rnk"),
        "word",
        "n",
    ).orderBy("rnk")


@_q(
    "q_random_projection",
    """
    WITH ex AS (
      SELECT vec_id,
             unnest(range(1, len(embedding) + 1)) AS d,
             unnest(embedding) AS x
      FROM embeddings
    ),
    h AS (
      SELECT vec_id,
             ('0x' || substr(md5('rp#' || CAST(d AS VARCHAR)), 1, 8))::BIGINT
               AS hv,
             CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS xi
      FROM ex
    )
    SELECT vec_id,
           CAST(sum((1 - 2 * (CAST(floor(hv / 1) AS BIGINT) % 2)) * xi)
                AS BIGINT) AS p0_micro,
           CAST(sum((1 - 2 * (CAST(floor(hv / 2) AS BIGINT) % 2)) * xi)
                AS BIGINT) AS p1_micro,
           CAST(sum((1 - 2 * (CAST(floor(hv / 4) AS BIGINT) % 2)) * xi)
                AS BIGINT) AS p2_micro,
           CAST(sum((1 - 2 * (CAST(floor(hv / 8) AS BIGINT) % 2)) * xi)
                AS BIGINT) AS p3_micro
    FROM h GROUP BY vec_id
    """,
)
def q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss random-sign projection of the embedding
    table to 4 components
    (operators/similarity.py:random_sign_projection) — the index-free
    dimensionality reducer next to PCA (iterative) and int8
    quantization (per-vector). md5-derived ±1 matrix over inputs
    floor-quantized to integer micro-units (FLOAT→DECIMAL casts
    diverge between engines — DuckDB goes through the shortest
    round-trip string, Spark through the exact binary expansion — but
    double multiply + floor never do); components are pure BIGINT
    sums."""
    from kommunedata_data_pipeline_spark.operators.similarity import (
        random_sign_projection,
    )

    return random_sign_projection(_t(spark, sf_dir, "embeddings"), 4)


@_q(
    "q_tree_rollup",
    """
    WITH RECURSIVE c AS (SELECT c_custkey AS u FROM customer),
    up AS (
      SELECT u AS descn, u AS anc, 0 AS dist FROM c
      UNION ALL
      SELECT descn, anc // 3 AS anc, dist + 1 FROM up
      WHERE anc >= 1 AND dist < 16
    ),
    agg AS (
      SELECT anc, count(*) AS subtree_n, sum(descn % 97) AS subtree_val
      FROM up GROUP BY anc
    )
    SELECT anc, CAST(subtree_n AS BIGINT) AS subtree_n,
           CAST(subtree_val AS BIGINT) AS subtree_val
    FROM agg ORDER BY subtree_val DESC, anc LIMIT 20
    """,
)
def q_tree_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtree rollup over the ternary tree parent(u) =
    u div 3 on the customer keyspace: per ancestor, the descendant
    count and integer value sum, top-20. The Spark side builds the
    ancestor-descendant closure by POINTER DOUBLING
    (operators/graph.py:ancestor_pairs_doubling — 4 log-step
    self-joins instead of 9 frontier rounds; the oracle walks each
    chain upward with a recursive CTE). Exact integer values; in a
    tree, paths are unique so the doubling min-dist is THE dist.
    The closure is reflexive over ALL nodes it sees — parent-only
    values included — while the oracle seeds dist-0 rows only from
    customer keys, so the descendant side is semi-joined back to the
    customer key set before aggregating. (Testdata keys start at 0,
    so the root IS a customer and survives the semi-join; on a 1-based
    universe the root's spurious self-pair is what this drops.)"""
    from kommunedata_data_pipeline_spark.operators.graph import (
        ancestor_pairs_doubling,
    )

    c = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("u"))
    parents = c.where(F.col("u") >= 1).select(
        F.col("u").alias("child"), F.expr("u div 3").alias("parent")
    )
    pairs = ancestor_pairs_doubling(parents, 16).join(
        F.broadcast(c), F.col("desc") == F.col("u"), "left_semi"
    )
    return (
        pairs.groupBy("anc")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("subtree_n"),
            F.sum(F.col("desc") % 97).cast("bigint").alias("subtree_val"),
        )
        .orderBy(F.desc("subtree_val"), "anc")
        .limit(20)
    )


@_q(
    "q_dbscan_classify",
    """
    WITH pts AS (
      SELECT c_custkey AS pid, (c_custkey * 7919 + 13) % 10000 AS x,
             (c_custkey * 104729 + 7) % 10000 AS y
      FROM customer
    ),
    neigh AS (
      SELECT a.pid, b.pid AS qid
      FROM pts a JOIN pts b
        ON (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
           <= 300 * 300
    ),
    core AS (
      SELECT pid, count(*) >= 4 AS is_core FROM neigh GROUP BY pid
    ),
    nearc AS (
      SELECT n.pid, max(CASE WHEN c.is_core THEN 1 ELSE 0 END)
               AS has_core_nb
      FROM neigh n JOIN core c ON c.pid = n.qid
      WHERE n.pid <> n.qid GROUP BY n.pid
    ),
    cls AS (
      SELECT p.pid,
             CASE WHEN c.is_core THEN 'core'
                  WHEN coalesce(nc.has_core_nb, 0) = 1 THEN 'border'
                  ELSE 'noise' END AS cls
      FROM pts p JOIN core c ON c.pid = p.pid
      LEFT JOIN nearc nc ON nc.pid = p.pid
    )
    SELECT cls, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(pid) AS BIGINT) AS pid_checksum
    FROM cls GROUP BY cls ORDER BY cls
    """,
)
def q_dbscan_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN density classification (core/border/noise at eps=300,
    minPts=4) over the synthetic customer plane
    (operators/joins.py:dbscan_classify) — the density step of
    density-based clustering as grid equi-joins (cell = eps, 9-cell
    replication: provably complete for the radius), vs the oracle's
    brute-force theta join. Integer squared distances; class counts +
    id checksums are engine-exact. (The core-graph components step is
    dup_clusters' union-find.)"""
    from kommunedata_data_pipeline_spark.operators.joins import dbscan_classify

    pts = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("pid"),
        F.expr("(c_custkey * 7919 + 13) % 10000").alias("x"),
        F.expr("(c_custkey * 104729 + 7) % 10000").alias("y"),
    )
    out = dbscan_classify(pts, 300, 4)
    return (
        out.groupBy("cls")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("pid").cast("bigint").alias("pid_checksum"),
        )
        .orderBy("cls")
    )


@_q(
    "q_kmeans_step",
    """
    WITH pts AS (
      SELECT c_custkey AS pid, (c_custkey * 7919 + 13) % 10000 AS x,
             (c_custkey * 104729 + 7) % 10000 AS y
      FROM customer
    ),
    cent AS (
      SELECT k,
             ('0x' || substr(md5('kmx#' || CAST(k AS VARCHAR)), 1, 8))::BIGINT
               % 10000 AS mx,
             ('0x' || substr(md5('kmy#' || CAST(k AS VARCHAR)), 1, 8))::BIGINT
               % 10000 AS my
      FROM (SELECT unnest(range(0, 8)) AS k)
    ),
    assign AS (
      SELECT pid, x, y, k, d2,
             row_number() OVER (PARTITION BY pid ORDER BY d2, k) AS rn
      FROM (
        SELECT p.pid, p.x, p.y, c.k,
               (p.x - c.mx) * (p.x - c.mx) + (p.y - c.my) * (p.y - c.my)
                 AS d2
        FROM pts p CROSS JOIN cent c
      )
    )
    SELECT k, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(x) AS BIGINT) AS sum_x,
           CAST(sum(y) AS BIGINT) AS sum_y,
           CAST(sum(d2) AS BIGINT) AS inertia
    FROM assign WHERE rn = 1 GROUP BY k ORDER BY k
    """,
)
def q_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact Lloyd (k-means) step on the synthetic customer plane:
    assign every point to its nearest of 8 md5-derived centroids
    (integer squared distance, centroid-id tie-break) and emit each
    cluster's SUFFICIENT STATISTICS — count, coordinate sums, inertia
    — as exact integers (the new centroid is sum/n, a division the
    CALLER does; emitting the sums keeps the oracle exact and is also
    precisely what a distributed k-means shuffles). Plan: broadcast
    the k-row centroid table onto the scan, min-struct assignment, one
    combinable aggregate — the IVF assignment shape
    (operators/similarity.py) with the update half added."""
    pts = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("pid"),
        F.expr("(c_custkey * 7919 + 13) % 10000").alias("x"),
        F.expr("(c_custkey * 104729 + 7) % 10000").alias("y"),
    )
    from kommunedata_data_pipeline_spark.functions.strings import md5_bigint

    cent = (
        spark.range(8)
        .select(
            F.col("id").cast("int").alias("k"),
            F.pmod(
                md5_bigint(F.concat(F.lit("kmx#"), F.col("id").cast("string"))),
                F.lit(10000),
            ).alias("mx"),
            F.pmod(
                md5_bigint(F.concat(F.lit("kmy#"), F.col("id").cast("string"))),
                F.lit(10000),
            ).alias("my"),
        )
    )
    # one-row broadcast centroid ARRAY + map-side array_min assignment
    # (the exact IVF shape, similarity.py:build_ivf_lists): the r5 form
    # crossJoined the k-row table and re-grouped by pid — a full N*k-row
    # shuffle the map-side min makes unnecessary; now the only shuffle
    # is the k-group sufficient-statistics aggregate.
    carr = cent.agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("k"), F.col("mx"), F.col("my")))
        ).alias("cents")
    )
    best = pts.crossJoin(F.broadcast(carr)).select(
        "x",
        "y",
        F.array_min(
            F.transform(
                F.col("cents"),
                lambda c: F.struct(
                    (
                        (F.col("x") - c["mx"]) * (F.col("x") - c["mx"])
                        + (F.col("y") - c["my"]) * (F.col("y") - c["my"])
                    ).alias("d2"),
                    c["k"].alias("k"),
                ),
            )
        ).alias("best"),
    )
    return (
        best.groupBy(F.col("best.k").alias("k"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("x").cast("bigint").alias("sum_x"),
            F.sum("y").cast("bigint").alias("sum_y"),
            F.sum("best.d2").cast("bigint").alias("inertia"),
        )
        .select(F.col("k").cast("bigint").alias("k"), "n", "sum_x", "sum_y", "inertia")
        .orderBy("k")
    )


@_q(
    "q_naive_bayes",
    """
    WITH tr AS (
      SELECT doc_id, lang, text FROM documents WHERE doc_id % 2 = 0
    ),
    te AS (
      SELECT doc_id, lang, text FROM documents WHERE doc_id % 2 = 1
    ),
    trt AS (
      SELECT lang, unnest(string_split(text, ' ')) AS t FROM tr
    ),
    trtok AS (SELECT lang, t FROM trt WHERE t <> ''),
    classes AS (SELECT DISTINCT lang AS c FROM tr),
    vocab AS (SELECT count(DISTINCT t) AS v FROM trtok),
    ctotal AS (SELECT lang AS c, count(*) AS tok_c FROM trtok GROUP BY lang),
    prior AS (
      SELECT lang AS c,
             CAST(floor(1000000 * ln(
               count(*) * 1.0 / (SELECT count(*) FROM tr))) AS BIGINT)
               AS prior_micro
      FROM tr GROUP BY lang
    ),
    tc AS (
      SELECT t, lang AS c, count(*) AS cnt FROM trtok GROUP BY t, lang
    ),
    logp AS (
      SELECT tc.t, tc.c,
             CAST(floor(1000000 * ln(
               (tc.cnt + 1) * 1.0 / (ct.tok_c + vocab.v))) AS BIGINT)
               AS lp
      FROM tc JOIN ctotal ct ON ct.c = tc.c CROSS JOIN vocab
    ),
    dflt AS (
      SELECT ct.c,
             CAST(floor(1000000 * ln(1.0 / (ct.tok_c + vocab.v))) AS BIGINT)
               AS lp0
      FROM ctotal ct CROSS JOIN vocab
    ),
    tet AS (
      SELECT doc_id, lang AS true_lang, unnest(string_split(text, ' ')) AS t
      FROM te
    ),
    tetok AS (SELECT doc_id, true_lang, t FROM tet WHERE t <> ''),
    scored AS (
      SELECT k.doc_id, k.true_lang, k.c,
             sum(coalesce(l.lp, d.lp0)) AS tok_score
      FROM (SELECT doc_id, true_lang, t, c FROM tetok CROSS JOIN classes) k
      LEFT JOIN logp l ON l.t = k.t AND l.c = k.c
      JOIN dflt d ON d.c = k.c
      GROUP BY k.doc_id, k.true_lang, k.c
    ),
    total AS (
      SELECT s.doc_id, s.true_lang, s.c,
             s.tok_score + p.prior_micro AS score
      FROM scored s JOIN prior p ON p.c = s.c
    ),
    pred AS (
      SELECT doc_id, true_lang, c AS pred_lang,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, c) AS rn
      FROM total
    )
    SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n
    FROM pred WHERE rn = 1
    GROUP BY true_lang, pred_lang ORDER BY true_lang, pred_lang
    """,
)
def q_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed multinomial Naive Bayes, end to end: train
    Laplace-smoothed token-class statistics on even doc_ids, classify
    odd doc_ids, emit the confusion matrix. The engine-exactness trick
    is INTEGER LOG-MICRO scores — every ln() of an exact-integer ratio
    is floored to micro-units BEFORE summation, so per-document score
    sums are integer (order/partition-independent) and the argmax
    (score desc, class asc) is pinned. Scale shape: train stats are
    map-side-combinable counts reducing to a (vocab × classes) table;
    classification is one bounded ×|classes| explode + a left join
    onto the stats + one combinable sum. (Synthetic word-salad langs
    are not separable — the CLASSIFIER's distributed exactness is
    what's under test, not accuracy.)"""
    docs = _t(spark, sf_dir, "documents")
    tr = docs.where(F.col("doc_id") % 2 == 0)
    te = docs.where(F.col("doc_id") % 2 == 1)
    trtok = tr.select(
        "lang", F.explode(F.split("text", " ")).alias("t")
    ).where(F.col("t") != "")
    classes = tr.select(F.col("lang").alias("c")).distinct()
    vocab = trtok.agg(F.count_distinct("t").alias("v"))
    ctotal = trtok.groupBy(F.col("lang").alias("c")).agg(
        F.count(F.lit(1)).alias("tok_c")
    )
    n_tr = tr.agg(F.count(F.lit(1)).alias("n_docs"))
    prior = (
        tr.groupBy(F.col("lang").alias("c"))
        .agg(F.count(F.lit(1)).alias("n_c"))
        .crossJoin(F.broadcast(n_tr))
        .select(
            "c",
            F.floor(
                1000000 * F.log(F.col("n_c") * 1.0 / F.col("n_docs"))
            ).cast("bigint").alias("prior_micro"),
        )
    )
    tc = trtok.groupBy("t", F.col("lang").alias("c")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    logp = (
        tc.join(F.broadcast(ctotal), "c")
        .crossJoin(F.broadcast(vocab))
        .select(
            "t", "c",
            F.floor(
                1000000
                * F.log((F.col("cnt") + 1) * 1.0 / (F.col("tok_c") + F.col("v")))
            ).cast("bigint").alias("lp"),
        )
    )
    dflt = (
        ctotal.crossJoin(F.broadcast(vocab))
        .select(
            "c",
            F.floor(
                1000000 * F.log(1.0 / (F.col("tok_c") + F.col("v")))
            ).cast("bigint").alias("lp0"),
        )
    )
    tetok = te.select(
        "doc_id",
        F.col("lang").alias("true_lang"),
        F.explode(F.split("text", " ")).alias("t"),
    ).where(F.col("t") != "")
    scored = (
        tetok.crossJoin(F.broadcast(classes))
        # no broadcast HINT on logp: it is (vocab x classes) rows —
        # unbounded in corpus size — so forcing it driver-side is a
        # scale hazard; AQE broadcasts it when it measures small and
        # shuffle-joins when the vocabulary is genuinely large
        .join(logp, ["t", "c"], "left")
        .join(F.broadcast(dflt), "c")
        .groupBy("doc_id", "true_lang", "c")
        .agg(F.sum(F.coalesce("lp", "lp0")).alias("tok_score"))
        .join(F.broadcast(prior), "c")
        .select(
            "doc_id", "true_lang", "c",
            (F.col("tok_score") + F.col("prior_micro")).alias("score"),
        )
    )
    pred = (
        scored.groupBy("doc_id", "true_lang")
        .agg(F.min(F.struct((-F.col("score")).alias("neg"), F.col("c").alias("c"))).alias("b"))
        .select("true_lang", F.col("b.c").alias("pred_lang"))
    )
    return (
        pred.groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy("true_lang", "pred_lang")
    )


@_q(
    "q_bootstrap_ci",
    """
    WITH reps AS (SELECT unnest(range(0, 32)) AS b),
    w AS (
      SELECT r.b, e.value,
             CASE (('0x' || substr(md5(CAST(e.event_id AS VARCHAR) || '#'
                    || CAST(r.b AS VARCHAR)), 1, 8))::BIGINT) % 8
               WHEN 0 THEN 0 WHEN 1 THEN 0 WHEN 2 THEN 0
               WHEN 3 THEN 1 WHEN 4 THEN 1 WHEN 5 THEN 1
               WHEN 6 THEN 2 ELSE 3 END AS wt
      FROM events e CROSS JOIN reps r
    ),
    means AS (
      SELECT b,
             CAST(sum(CAST(value AS DECIMAL(18,6)) * wt) AS DOUBLE)
               / sum(wt) AS m
      FROM w GROUP BY b
    )
    SELECT CAST(count(*) AS BIGINT) AS n_replicates,
           round(min(m), 6) AS lo,
           round(quantile_cont(m, 0.5), 6) AS mid,
           round(max(m), 6) AS hi,
           round(quantile_cont(m, 0.05), 6) AS p05,
           round(quantile_cont(m, 0.95), 6) AS p95
    FROM means
    """,
)
def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for mean(value) — the
    bootstrap that scales (no per-resample pass over the data): each
    of 32 replicates weights every row by a DETERMINISTIC
    pseudo-Poisson(1) weight from md5(event_id, replicate)
    (0/1/2/3 at 3:3:1:1 eighths), so all replicates reduce in ONE
    combinable aggregate over a bounded ×32 map-side explode.
    Weighted sums accumulate in DECIMAL (partitioning cannot move
    them); one double division per replicate; the CI summarizes the
    32-row means table. Deterministic end to end — the oracle
    recomputes the identical resamples."""
    ev = _t(spark, sf_dir, "events")
    from kommunedata_data_pipeline_spark.functions.strings import md5_bigint

    h = F.pmod(
        md5_bigint(
            F.concat(
                F.col("event_id").cast("string"), F.lit("#"),
                F.col("b").cast("string"),
            )
        ),
        F.lit(8),
    )
    wt = (
        F.when(h <= 2, 0).when(h <= 5, 1).when(h == 6, 2).otherwise(3)
    )
    means = (
        ev.select("event_id", "value")
        .crossJoin(F.broadcast(spark.range(32).select(F.col("id").alias("b"))))
        .select("b", "value", wt.alias("wt"))
        .groupBy("b")
        .agg(
            (
                F.sum(F.col("value").cast("decimal(18,6)") * F.col("wt")).cast(
                    "double"
                )
                / F.sum("wt")
            ).alias("m")
        )
    )
    return means.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_replicates"),
        F.round(F.min("m"), 6).alias("lo"),
        F.round(F.expr("percentile(m, 0.5D)"), 6).alias("mid"),
        F.round(F.max("m"), 6).alias("hi"),
        F.round(F.expr("percentile(m, 0.05D)"), 6).alias("p05"),
        F.round(F.expr("percentile(m, 0.95D)"), 6).alias("p95"),
    )


@_q(
    "q_logreg_apply",
    """
    WITH s AS (
      SELECT count(*) AS n,
             sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS sy,
             sum(n_chars) AS sx,
             sum(n_chars * n_chars) AS sxx,
             sum(CASE WHEN lang = 'en' THEN n_chars ELSE 0 END) AS sxy
      FROM documents),
    b AS (
      SELECT round(2.0 * (sxx * (2*sy - n) - sx * (2*sxy - sx))
                   / (n * sxx - sx * sx), 6) AS b0,
             round(2.0 * (n * (2*sxy - sx) - sx * (2*sy - n))
                   / (n * sxx - sx * sx), 6) AS b1,
             round(ln(CAST(sy AS DOUBLE) / (n - sy)), 6) AS pl
      FROM s)
    SELECT d.doc_id, CAST(d.n_chars AS BIGINT) AS x,
           CAST(CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS INT) AS label,
           round(b.b0 + b.b1 * d.n_chars, 6) AS logit
    FROM documents d CROSS JOIN b
    WHERE round(b.b0 + b.b1 * d.n_chars, 6) > b.pl
    ORDER BY d.doc_id
    """,
)
def q_logreg_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality classifier trained AND applied (the detect→act twin of
    q_logreg_step, same discipline as the span cut and decontaminate):
    the one-step Newton betas score every document with the linear
    logit b0 + b1·n_chars and the rows beating the trained class
    prior's logit (the self-calibrating gate — an absolute 0-threshold
    never fires when the positive class is a minority everywhere; the
    r9 non-vacuousness gate caught that) come back as the kept
    manifest. The betas frame is one row broadcast onto
    the corpus scan — the apply pass is pure map-side filter+project;
    determinism holds because both engines score with the SAME
    round6 betas and exact integer features
    (operators/statistics.py:logreg_apply)."""
    from kommunedata_data_pipeline_spark.operators.statistics import (
        logreg_apply,
    )

    d = _t(spark, sf_dir, "documents")
    return logreg_apply(
        d,
        F.col("n_chars"),
        (F.col("lang") == "en").cast("int"),
        gate="prior",
    )


@_q(
    "q_oov_rate",
    f"""
    WITH t AS (
      SELECT doc_id, lang, {_TOKS_SQL} AS toks,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               % 100 AS h
      FROM documents),
    tr AS (SELECT unnest(toks) AS token FROM t WHERE h >= 20),
    vocab AS (
      SELECT token FROM (
        SELECT token, count(*) AS cnt FROM tr GROUP BY token)
      ORDER BY cnt DESC, token ASC LIMIT 500),
    held AS (SELECT lang, unnest(toks) AS token FROM t WHERE h < 20)
    SELECT h.lang, CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_oov,
           round(CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) AS oov_rate
    FROM held h LEFT JOIN vocab v USING (token)
    GROUP BY h.lang ORDER BY h.lang
    """,
)
def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-coverage audit: top-500 word vocab learned on the
    deterministic md5 train split (hash >= 20), out-of-vocab rate per
    language measured on the held-out 20% — the measurement that sizes
    a vocab before tokenizing a 100 TB corpus. Vocab is a combinable
    count aggregate cut at (count DESC, token ASC) and broadcast back
    onto the held-out token stream, so membership probing never
    shuffles the corpus (operators/corpus.py:vocab_oov_audit)."""
    from kommunedata_data_pipeline_spark.operators.corpus import (
        vocab_oov_audit,
    )

    return vocab_oov_audit(
        _t(spark, sf_dir, "documents"), vocab_size=500, holdout_pct=20
    )


@_q(
    "q_dsir_select",
    f"""
    WITH t AS (
      SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS tgt,
             unnest({_TOKS_SQL}) AS token
      FROM documents),
    b AS (SELECT doc_id, tgt,
                 ('0x' || substr(md5(token), 1, 8))::BIGINT % 64 AS bucket
          FROM t),
    c AS (SELECT bucket, sum(tgt) AS c_t, sum(1 - tgt) AS c_s
          FROM b GROUP BY bucket),
    tot AS (SELECT sum(c_t) AS tot_t, sum(c_s) AS tot_s FROM c),
    w AS (SELECT bucket,
                 CAST(floor(1000000.0 * ln(
                   CAST((c_t + 1) * (tot_s + 64) AS DOUBLE)
                   / CAST((c_s + 1) * (tot_t + 64) AS DOUBLE)))
                 AS BIGINT) AS w_micro
          FROM c CROSS JOIN tot),
    s AS (SELECT b.doc_id, sum(w.w_micro) AS score_micro,
                 count(*) AS n_tokens
          FROM b JOIN w USING (bucket) WHERE b.tgt = 0
          GROUP BY b.doc_id)
    SELECT doc_id, CAST(score_micro AS BIGINT) AS score_micro,
           CAST(n_tokens AS BIGINT) AS n_tokens
    FROM s ORDER BY score_micro DESC, doc_id ASC LIMIT 100
    """,
)
def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (Xie et al. 2023): hashed-unigram
    bag models for the TARGET slice (lang='en') and the raw pool, per-
    bucket importance weights floor(1e6·ln(p_t/p_s)) as BIGINTs (the
    q_naive_bayes integer-log-micro discipline — floored BEFORE
    summation so per-doc scores are partition-order-independent), and
    the top-100 raw docs by integer score. One token-explode pass
    feeds both 64-bucket models; the weight table broadcasts back, so
    the only corpus-sized shuffle is the per-doc combinable sum
    (operators/corpus.py:dsir_select)."""
    from kommunedata_data_pipeline_spark.operators.corpus import dsir_select

    return dsir_select(
        _t(spark, sf_dir, "documents"),
        target_pred=(F.col("lang") == "en"),
        n_buckets=64,
        top_n=100,
    )


@_q(
    "q_stream_decontaminate",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    g AS (SELECT doc_id, {_ngrams_sql(8)} AS grams FROM t),
    tr AS (SELECT doc_id, grams FROM g WHERE doc_id % 2 = 0),
    te AS (SELECT DISTINCT ngram
           FROM (SELECT unnest(grams) AS ngram FROM g WHERE doc_id % 2 = 1)),
    bad AS (
      SELECT DISTINCT doc_id
      FROM (SELECT doc_id, unnest(grams) AS ngram FROM tr) x
      WHERE ngram IN (SELECT ngram FROM te)
    )
    SELECT doc_id, CAST(len(grams) AS INT) AS n_ngrams
    FROM tr WHERE doc_id NOT IN (SELECT doc_id FROM bad)
    ORDER BY doc_id
    """,
)
def q_stream_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING decontamination: the train corpus (even doc_ids)
    arrives as a 3-batch file stream; each micro-batch drops documents
    sharing any verbatim 8-gram with the frozen eval set (odd doc_ids)
    and survivors land exactly once. The stateless member of the
    ingest family — the eval gram set is materialized once at builder
    time, so batching provably cannot change the landed set (unlike
    the index-carrying MinHash/ANN ingests, no arrival-order contract
    is even needed); landed ≡ q_decontaminate's batch answer
    (streaming/ingest.py:decontaminate_ingest)."""
    from kommunedata_data_pipeline_spark.streaming.ingest import (
        DECONTAMINATE_LANDED_SCHEMA,
        decontaminate_ingest,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    landed = _drain_ingest(
        spark,
        "q_stream_decontaminate",
        d.where(F.col("doc_id") % 2 == 0),
        lambda stream, base: decontaminate_ingest(
            stream, d.where(F.col("doc_id") % 2 == 1), f"{base}/landed", n=8
        ),
        lambda base: spark.read.schema(DECONTAMINATE_LANDED_SCHEMA).parquet(
            f"{base}/landed"
        ),
    )
    return landed.orderBy("doc_id")


def _pq_d2u_sql(a: str, b: str, d: int = 16) -> str:
    """DuckDB twin of similarity._d2_micro over two length-``d`` list
    exprs: squared L2 in doubles, integerized to BIGINT 1e-5 units."""
    t = f"(CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
    return (
        f"CAST(floor(list_sum(list_transform(range(1, {d + 1}), "
        f"i -> {t} * {t})) * 100000.0 + 0.5) AS BIGINT)"
    )


@_q(
    "q_pq_topk",
    f"""
    WITH seeds AS (
      SELECT embedding,
             row_number() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS code
      FROM (SELECT vec_id, embedding FROM embeddings
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16)),
    books AS (
      SELECT s.s AS subspace, code,
             list_slice(embedding, s.s*16 + 1, s.s*16 + 16) AS c_sub
      FROM seeds, (SELECT unnest(range(0, 4)) AS s) s),
    sv AS (
      SELECT e.vec_id, s.s AS subspace,
             list_slice(e.embedding, s.s*16 + 1, s.s*16 + 16) AS sub
      FROM embeddings e, (SELECT unnest(range(0, 4)) AS s) s),
    enc AS (
      SELECT vec_id, subspace, code FROM (
        SELECT sv.vec_id, sv.subspace, b.code,
               row_number() OVER (PARTITION BY sv.vec_id, sv.subspace
                 ORDER BY {_pq_d2u_sql('sv.sub', 'b.c_sub')}, b.code) AS rn
        FROM sv JOIN books b USING (subspace))
      WHERE rn = 1),
    qsv AS (
      SELECT vec_id AS query_id, s.s AS subspace,
             list_slice(embedding, s.s*16 + 1, s.s*16 + 16) AS sub
      FROM embeddings, (SELECT unnest(range(0, 4)) AS s) s
      WHERE vec_id < 8),
    lut AS (
      SELECT q.query_id, q.subspace, b.code,
             {_pq_d2u_sql('q.sub', 'b.c_sub')} AS du
      FROM qsv q JOIN books b USING (subspace)),
    adc AS (
      SELECT l.query_id, e.vec_id, CAST(sum(l.du) AS BIGINT) AS dist_u
      FROM enc e JOIN lut l ON e.subspace = l.subspace AND e.code = l.code
      WHERE e.vec_id <> l.query_id
      GROUP BY l.query_id, e.vec_id)
    SELECT query_id, vec_id, round(dist_u / 100000.0, 5) AS adc_d2,
           CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY dist_u, vec_id) AS rank
          FROM adc)
    WHERE rank <= 5 ORDER BY query_id, rank
    """,
)
def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k (Jégou et al. 2011 — the IVF-PQ
    search shape): 4 subspaces × 16 deterministic codes; the corpus
    encodes map-side to 4 codes/vector, each query precomputes its
    4×16 integer-micro distance LUT (broadcast), and scoring is 4
    array lookups per (vector, query) over the CODES table — the raw
    embeddings never rejoin the scan. Distances stay BIGINT 1e-5
    units end to end, so ranks are exact in both engines
    (operators/similarity.py:pq_codebooks/pq_encode/pq_adc_topk)."""
    from kommunedata_data_pipeline_spark.operators.similarity import (
        pq_adc_topk,
    )

    e = _t(spark, sf_dir, "embeddings")
    qs = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    return pq_adc_topk(e, qs, m=4, k_codes=16, d_sub=16, k=5)


@_q(
    "q_pq_rerank",
    f"""
    WITH seeds AS (
      SELECT embedding,
             row_number() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS code
      FROM (SELECT vec_id, embedding FROM embeddings
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16)),
    books AS (
      SELECT s.s AS subspace, code,
             list_slice(embedding, s.s*16 + 1, s.s*16 + 16) AS c_sub
      FROM seeds, (SELECT unnest(range(0, 4)) AS s) s),
    sv AS (
      SELECT e.vec_id, s.s AS subspace,
             list_slice(e.embedding, s.s*16 + 1, s.s*16 + 16) AS sub
      FROM embeddings e, (SELECT unnest(range(0, 4)) AS s) s),
    enc AS (
      SELECT vec_id, subspace, code FROM (
        SELECT sv.vec_id, sv.subspace, b.code,
               row_number() OVER (PARTITION BY sv.vec_id, sv.subspace
                 ORDER BY {_pq_d2u_sql('sv.sub', 'b.c_sub')}, b.code) AS rn
        FROM sv JOIN books b USING (subspace))
      WHERE rn = 1),
    qsv AS (
      SELECT vec_id AS query_id, s.s AS subspace,
             list_slice(embedding, s.s*16 + 1, s.s*16 + 16) AS sub
      FROM embeddings, (SELECT unnest(range(0, 4)) AS s) s
      WHERE vec_id < 8),
    lut AS (
      SELECT q.query_id, q.subspace, b.code,
             {_pq_d2u_sql('q.sub', 'b.c_sub')} AS du
      FROM qsv q JOIN books b USING (subspace)),
    adc AS (
      SELECT l.query_id, e.vec_id, CAST(sum(l.du) AS BIGINT) AS dist_u
      FROM enc e JOIN lut l ON e.subspace = l.subspace AND e.code = l.code
      WHERE e.vec_id <> l.query_id
      GROUP BY l.query_id, e.vec_id),
    cand AS (
      SELECT query_id, vec_id
      FROM (SELECT *, row_number() OVER (
              PARTITION BY query_id ORDER BY dist_u, vec_id) AS rn
            FROM adc)
      WHERE rn <= 20),
    qs AS (SELECT vec_id AS query_id, embedding AS q_emb
           FROM embeddings WHERE vec_id < 8),
    ex AS (
      SELECT c.query_id, c.vec_id,
             {_pq_d2u_sql('e.embedding', 'q.q_emb', 64)} AS d2u
      FROM cand c
      JOIN embeddings e ON e.vec_id = c.vec_id
      JOIN qs q ON q.query_id = c.query_id)
    SELECT query_id, vec_id, round(d2u / 100000.0, 5) AS exact_d2,
           CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY d2u, vec_id) AS rank
          FROM ex)
    WHERE rank <= 5 ORDER BY query_id, rank
    """,
)
def q_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full two-stage IVF-PQ retrieval shape: ADC over the encoded
    corpus shortlists 20 candidates per query (codes table only — m
    integer lookups per vector), then ONLY the shortlist rejoins the
    raw embeddings for an exact integer-micro squared-L2 re-rank to
    the final top-5. Stage 2 touches shortlist·|Q| full-width vectors
    instead of N·|Q| — the bound that makes PQ retrieval work at
    100 TB (operators/similarity.py:pq_rerank_topk)."""
    from kommunedata_data_pipeline_spark.operators.similarity import (
        pq_rerank_topk,
    )

    e = _t(spark, sf_dir, "embeddings")
    qs = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    return pq_rerank_topk(e, qs, m=4, k_codes=16, d_sub=16, shortlist=20, k=5)


@_q(
    "q_hard_negatives",
    f"""
    WITH qs AS (SELECT vec_id AS query_id, embedding AS q_embedding,
                       label AS q_label
                FROM embeddings WHERE vec_id < 8)
    SELECT query_id, vec_id, neg_label, sim AS cosine_sim,
           CAST(rank AS INT) AS rank
    FROM (
      SELECT q.query_id, e.vec_id, CAST(e.label AS INT) AS neg_label,
             {_ivf_cos_sql('e.embedding', 'q.q_embedding')} AS sim,
             row_number() OVER (PARTITION BY q.query_id
               ORDER BY {_ivf_cos_sql('e.embedding', 'q.q_embedding')} DESC,
                        e.vec_id) AS rank
      FROM embeddings e CROSS JOIN qs q
      WHERE e.vec_id <> q.query_id AND e.label <> q.q_label)
    WHERE rank <= 5 ORDER BY query_id, rank
    """,
)
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per query vector,
    the 5 most cosine-similar corpus vectors with a DIFFERENT label —
    the negatives an embedding trainer actually needs. Broadcast scan
    with a map-side label filter; (round5 sim, vec_id) determinism as
    the whole cosine family (operators/similarity.py:hard_negatives)."""
    from kommunedata_data_pipeline_spark.operators.similarity import (
        hard_negatives,
    )

    e = _t(spark, sf_dir, "embeddings")
    qs = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
        F.col("label").alias("q_label"),
    )
    return hard_negatives(e, qs, k=5)


@_q(
    "q_prototype_classify",
    """
    WITH ds AS (
      SELECT label, i.i - 1 AS pos,
             CAST(sum(CAST(floor(CAST(embedding[i.i] AS DOUBLE)
                                 * 1000000.0) AS BIGINT)) AS BIGINT) AS s_u,
             count(*) AS n
      FROM embeddings, (SELECT unnest(range(1, 65)) AS i) i
      GROUP BY label, i.i),
    pv AS (
      SELECT label AS p_label,
             list((s_u / n) / 1000000.0 ORDER BY pos) AS p_vec
      FROM ds GROUP BY label),
    asg AS (
      SELECT e.vec_id, CAST(e.label AS INT) AS label,
             CAST(p.p_label AS INT) AS p_label,
             round(list_sum(list_transform(range(1, 65),
                     i -> CAST(e.embedding[i] AS DOUBLE) * p.p_vec[i]))
                   / (sqrt(list_sum(list_transform(e.embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                      * sqrt(list_sum(list_transform(p.p_vec,
                        x -> x * x)))), 5) AS sim
      FROM embeddings e CROSS JOIN pv p),
    best AS (
      SELECT label, p_label AS predicted FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                    ORDER BY sim DESC, p_label) AS rn
        FROM asg)
      WHERE rn = 1)
    SELECT label, predicted, CAST(count(*) AS BIGINT) AS n
    FROM best GROUP BY label, predicted ORDER BY label, predicted
    """,
)
def q_prototype_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-class-prototype confusion table — the quick linear-probe
    stand-in that scores embedding quality without a trainer: per-label
    mean vectors from integer-micro per-dimension sums (exact,
    partition-order-independent), one-row broadcast prototype array,
    map-side argmax-cosine assignment, combinable confusion counts
    (operators/similarity.py:prototype_classify)."""
    from kommunedata_data_pipeline_spark.operators.similarity import (
        prototype_classify,
    )

    return prototype_classify(_t(spark, sf_dir, "embeddings"))


@_q(
    "q_calibration_bins",
    """
    WITH s AS (
      SELECT count(*) AS n,
             sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS sy,
             sum(n_chars) AS sx,
             sum(n_chars * n_chars) AS sxx,
             sum(CASE WHEN lang = 'en' THEN n_chars ELSE 0 END) AS sxy
      FROM documents),
    b AS (
      SELECT round(2.0 * (sxx * (2*sy - n) - sx * (2*sxy - sx))
                   / (n * sxx - sx * sx), 6) AS b0,
             round(2.0 * (n * (2*sxy - sx) - sx * (2*sy - n))
                   / (n * sxx - sx * sx), 6) AS b1
      FROM s),
    scored AS (
      SELECT d.doc_id,
             CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS label,
             CAST(floor((b.b0 + b.b1 * d.n_chars) * 1000000.0) AS BIGINT)
               AS score_u
      FROM documents d CROSS JOIN b),
    binned AS (
      SELECT *, ntile(10) OVER (ORDER BY score_u, doc_id) AS bin
      FROM scored)
    SELECT CAST(bin AS INT) AS bin, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(label) AS BIGINT) AS n_pos,
           round(CAST(sum(label) AS DOUBLE) / count(*), 6) AS pos_rate,
           round((CAST(sum(score_u) AS BIGINT) / count(*)) / 1000000.0, 6)
             AS avg_score
    FROM binned GROUP BY bin ORDER BY bin
    """,
)
def q_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability table for the one-step logreg scorer: logits in
    integer micro-units, 10 equal-frequency ntile bins over the total
    (score, doc_id) order, per-bin count / positive rate / exact mean
    score — the calibration readout that justifies (or vetoes) the
    q_logreg_apply gate threshold. Bin means are exact integer sums;
    the global ntile sort is the audit-scale shape (at 100 TB the bin
    boundaries come from approx_percentile, per-bin aggregate
    unchanged) (operators/statistics.py:calibration_bins)."""
    from kommunedata_data_pipeline_spark.operators.statistics import (
        calibration_bins,
        logreg_newton_step,
    )

    d = _t(spark, sf_dir, "documents")
    betas = logreg_newton_step(
        d, F.col("n_chars"), (F.col("lang") == "en").cast("int")
    ).select("b0", "b1")
    scored = d.crossJoin(F.broadcast(betas)).select(
        "doc_id",
        (F.col("lang") == "en").cast("int").alias("label"),
        F.floor(
            (F.col("b0") + F.col("b1") * F.col("n_chars")) * 1000000.0
        )
        .cast("bigint")
        .alias("score_u"),
    )
    return calibration_bins(
        scored, score_col="score_u", label_col="label", id_col="doc_id"
    )


@_q(
    "q_substring_cut",
    """
    WITH d AS (SELECT doc_id, text AS t FROM documents),
    g0 AS (SELECT doc_id, t,
                  unnest(range(1, CAST(length(t) AS BIGINT) - 25 + 2)) AS p
           FROM d),
    g AS (SELECT doc_id, p,
          CAST(('0x' || substr(md5(substr(t, p, 25)), 1, 8)) AS BIGINT) AS h1,
          CAST(('0x' || substr(md5(substr(t, p, 25)), 9, 8)) AS BIGINT) AS h2
          FROM g0),
    fo AS (SELECT h1, h2, min(doc_id) AS md FROM g GROUP BY h1, h2),
    cov AS (SELECT g.doc_id, p AS s, p + 24 AS e
            FROM g JOIN fo USING (h1, h2) WHERE fo.md < g.doc_id),
    isl AS (SELECT doc_id, s, e,
            CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id
                 ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND
                 1 PRECEDING), s - 2) + 1 THEN 1 ELSE 0 END AS ni
            FROM cov),
    isl2 AS (SELECT doc_id, s, e,
             sum(ni) OVER (PARTITION BY doc_id ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
             FROM isl),
    spans AS (SELECT doc_id, min(s) AS ss, max(e) AS ee
              FROM isl2 GROUP BY doc_id, island),
    segs AS (
      SELECT spans.doc_id, ss AS ord,
             substr(t, CAST(coalesce(lag(ee) OVER (PARTITION BY
                 spans.doc_id ORDER BY ss), 0) + 1 AS INT),
               CAST(ss - coalesce(lag(ee) OVER (PARTITION BY spans.doc_id
                 ORDER BY ss), 0) - 1 AS INT)) AS seg
      FROM spans JOIN d ON spans.doc_id = d.doc_id),
    tails AS (
      SELECT m.doc_id, CAST(length(t) + 1 AS BIGINT) AS ord,
             substr(t, CAST(last_e + 1 AS INT),
                    CAST(greatest(length(t) - last_e, 0) AS INT)) AS seg
      FROM (SELECT doc_id, max(ee) AS last_e FROM spans GROUP BY doc_id) m
      JOIN d ON m.doc_id = d.doc_id),
    rebuilt AS (
      SELECT doc_id, string_agg(seg, '' ORDER BY ord) AS nt
      FROM (SELECT * FROM segs UNION ALL SELECT * FROM tails)
      GROUP BY doc_id)
    SELECT d.doc_id, CAST(length(t) AS BIGINT) AS n_chars,
           CAST(length(t) - length(coalesce(nt, t)) AS BIGINT) AS cut_chars,
           md5(coalesce(nt, t)) AS new_fp
    FROM d LEFT JOIN rebuilt ON d.doc_id = rebuilt.doc_id
    ORDER BY d.doc_id
    """,
)
def q_substring_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-grain substring dedup APPLIED (keep-first-by-id): every
    character covered by a >= 25-char gram that also occurs in a
    smaller-id document is CUT, the text rebuilt by lag-segment
    concatenation, and the manifest emits exact cut counts plus the
    md5 of the surviving text (blobs never leave the engine). The
    detect→act completion of the ExactSubstr family
    (operators/corpus.py:substring_cut_keep_first)."""
    from kommunedata_data_pipeline_spark.operators.corpus import (
        substring_cut_keep_first,
    )

    return substring_cut_keep_first(
        _t(spark, sf_dir, "documents"), min_len=25
    )


@_q(
    "q_histogram_merge",
    """
    WITH h AS (
      SELECT event_type, CAST(floor(value / 10.0) AS BIGINT) AS bin,
             count(*) AS n
      FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
      GROUP BY 1, 2
    ),
    c AS (
      SELECT event_type, bin, n,
             sum(n) OVER (PARTITION BY event_type ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
             sum(n) OVER (PARTITION BY event_type) AS total_n
      FROM h),
    q1 AS (
      SELECT event_type, 0.5 AS q, bin, cum_n, total_n,
             row_number() OVER (PARTITION BY event_type ORDER BY bin) AS rn
      FROM c WHERE cum_n >= ceil(0.5 * total_n - 1e-9)),
    q2 AS (
      SELECT event_type, 0.9 AS q, bin, cum_n, total_n,
             row_number() OVER (PARTITION BY event_type ORDER BY bin) AS rn
      FROM c WHERE cum_n >= ceil(0.9 * total_n - 1e-9))
    SELECT event_type, q, bin,
           round(bin * 10.0, 6) AS bin_lo,
           round((bin + 1) * 10.0, 6) AS bin_hi,
           CAST(cum_n AS BIGINT) AS cum_n,
           CAST(total_n AS BIGINT) AS total_n
    FROM (SELECT * FROM q1 UNION ALL SELECT * FROM q2)
    WHERE rn = 1 ORDER BY event_type, q
    """,
)
def q_histogram_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable histogram state, exercised the incremental way: the
    events table is split into two id-parity SHARDS, each builds its
    own equi-width histogram state, the states MERGE by adding counts
    (the commutative-monoid contract of merge_agg_states extended to
    distribution shape), and per-type p50/p90 quantile BINS come off
    the merged state with exact integer cum-count comparisons — the
    quantile path continuous ingestion uses instead of re-scanning
    history (operators/aggregates.py:histogram_state)."""
    from kommunedata_data_pipeline_spark.operators.aggregates import (
        histogram_state,
        merge_histogram_states,
        quantile_bins_from_histogram,
    )

    ev = _t(spark, sf_dir, "events").where(
        F.col("event_type").isNotNull()
    )
    s0 = histogram_state(
        ev.where(F.col("event_id") % 2 == 0), ["event_type"], "value", 10.0
    )
    s1 = histogram_state(
        ev.where(F.col("event_id") % 2 == 1), ["event_type"], "value", 10.0
    )
    merged = merge_histogram_states(s0.unionByName(s1), ["event_type"])
    return quantile_bins_from_histogram(
        merged, ["event_type"], [0.5, 0.9], 10.0
    )


@_q(
    "q_centroid_drift",
    """
    WITH el AS (
      SELECT CAST(vec_id % 2 AS INT) AS s,
             unnest(range(1, len(embedding) + 1)) AS d,
             embedding AS e
      FROM embeddings
    ),
    el2 AS (
      SELECT s, d,
             CAST(floor(CAST(e[d] AS DOUBLE) * 100000.0) AS BIGINT) AS xu
      FROM el),
    sums AS (
      SELECT d,
             sum(CASE WHEN s = 0 THEN xu ELSE 0 END) AS sa,
             sum(CASE WHEN s = 1 THEN xu ELSE 0 END) AS sb
      FROM el2 GROUP BY d),
    agg AS (
      SELECT sum(sa * sb) AS dot, sum(sa * sa) AS na2,
             sum(sb * sb) AS nb2
      FROM sums),
    cnt AS (
      SELECT CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_b
      FROM embeddings)
    SELECT n_a, n_b,
           round(CASE WHEN na2 > 0 AND nb2 > 0 THEN
             CAST(dot AS DOUBLE)
             / (sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE)))
           END, 6) AS centroid_cosine,
           round(CASE WHEN nb2 > 0 AND n_a > 0 AND n_b > 0 THEN
             (sqrt(CAST(na2 AS DOUBLE)) / n_a)
             / (sqrt(CAST(nb2 AS DOUBLE)) / n_b)
           END, 6) AS centroid_norm_ratio
    FROM cnt CROSS JOIN agg
    """,
)
def q_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift between the two vec_id-parity
    halves: cosine between split centroids + centroid-norm ratio —
    the first-line monitor for a re-embedded or newly-crawled corpus.
    Elements quantized to integer 1e-5 units BEFORE any sum (float
    sums are order-dependent; integer sums aren't), products in
    DECIMAL, the only floats are the final IEEE-exact sqrt/divide
    (operators/similarity.py:centroid_drift)."""
    from kommunedata_data_pipeline_spark.operators.similarity import (
        centroid_drift,
    )

    e = _t(spark, sf_dir, "embeddings")
    return centroid_drift(e, F.col("vec_id") % 2)


@_q(
    "q_cpr_valid",
    """
    WITH cand AS (
      SELECT c_nationkey,
             lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS d
      FROM customer
    ),
    v AS (
      SELECT c_nationkey,
             CASE WHEN regexp_matches(d, '^[0-9]{10}$') THEN
               CASE WHEN list_sum(list_transform(range(1, 11), i ->
                 CAST(substr(d, CAST(i AS INT), 1) AS INT)
                 * ([4,3,2,7,6,5,4,3,2,1])[i])) % 11 = 0
               THEN 1 ELSE 0 END
             END AS ok
      FROM cand)
    SELECT c_nationkey,
           CAST(count(*) AS BIGINT) AS n_candidates,
           CAST(sum(ok) AS BIGINT) AS n_valid
    FROM v GROUP BY c_nationkey ORDER BY c_nationkey
    """,
)
def q_cpr_valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Danish CPR modulus-11 validation (the reference's home-domain
    PII check, the precision sibling of q_luhn_pii's mod-10): 10-digit
    candidates derived from customer keys, validated with the official
    (4,3,2,7,6,5,4,3,2,1) weight vector, counted per nation. Pure
    integer expression — no UDF
    (functions/strings.py:cpr_mod11_valid)."""
    from kommunedata_data_pipeline_spark.functions.strings import (
        cpr_mod11_valid,
    )

    c = _t(spark, sf_dir, "customer").select(
        "c_nationkey",
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("d"),
    )
    return (
        c.select("c_nationkey", cpr_mod11_valid(F.col("d")).alias("ok"))
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
            F.sum("ok").cast("bigint").alias("n_valid"),
        )
        .orderBy("c_nationkey")
    )


@_q(
    "q_theil_sen",
    """
    WITH d AS (
      SELECT event_type AS grp,
             CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
             CAST(sum(CAST(coalesce(value, 0.0) AS DECIMAL(18,2))) * 100
                  AS BIGINT) AS y
      FROM events WHERE event_type IS NOT NULL
      GROUP BY 1, 2
    ),
    s AS (SELECT grp, CAST(day - DATE '1970-01-01' AS BIGINT) AS x, y
          FROM d),
    p AS (
      SELECT a.grp, a.x AS xi, b.x AS xj,
             CAST(b.y - a.y AS DOUBLE) / (b.x - a.x) AS slope
      FROM s a JOIN s b ON a.grp = b.grp AND a.x < b.x
    ),
    r AS (
      SELECT grp, slope,
             row_number() OVER (PARTITION BY grp
               ORDER BY slope, xi, xj) AS rn,
             count(*) OVER (PARTITION BY grp) AS cnt
      FROM p
    ),
    n AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_points
          FROM s GROUP BY grp)
    SELECT r.grp, n_points, CAST(cnt AS BIGINT) AS n_pairs,
           round(slope, 6) AS slope
    FROM r JOIN n ON r.grp = n.grp
    WHERE rn = (cnt + 1) // 2
    ORDER BY r.grp
    """,
)
def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of daily event value per event_type —
    the median of all pairwise day-slopes (breakdown ~29%), immune to
    the outlier days that drag the q_corr_regr OLS line. Daily DECIMAL
    cent totals (exact), one bounded days² pair join per group, lower
    median by rank over the (slope, xi, xj) total order
    (operators/timeseries.py:theil_sen_trend)."""
    from kommunedata_data_pipeline_spark.operators.timeseries import (
        theil_sen_trend,
    )

    ev = _t(spark, sf_dir, "events").where(F.col("event_type").isNotNull())
    daily = ev.groupBy(
        F.col("event_type").alias("grp"),
        F.to_date("ts").alias("day"),
    ).agg(
        (
            F.sum(F.coalesce(F.col("value"), F.lit(0.0)).cast("decimal(18,2)"))
            * 100
        ).cast("bigint").alias("y")
    ).select(
        "grp", F.datediff(F.col("day"), F.lit("1970-01-01")).cast("bigint").alias("x"), "y"
    )
    return theil_sen_trend(daily, "grp", "x", "y")


@_q(
    "q_stream_substring_ingest",
    """
    WITH d AS (SELECT doc_id, text AS t FROM documents),
    g0 AS (SELECT doc_id, t,
                  unnest(range(1, CAST(length(t) AS BIGINT) - 25 + 2)) AS p
           FROM d),
    g AS (SELECT doc_id, p,
          CAST(('0x' || substr(md5(substr(t, p, 25)), 1, 8)) AS BIGINT) AS h1,
          CAST(('0x' || substr(md5(substr(t, p, 25)), 9, 8)) AS BIGINT) AS h2
          FROM g0),
    fo AS (SELECT h1, h2, min(doc_id) AS md FROM g GROUP BY h1, h2),
    cov AS (SELECT g.doc_id, p AS s, p + 24 AS e
            FROM g JOIN fo USING (h1, h2) WHERE fo.md < g.doc_id),
    isl AS (SELECT doc_id, s, e,
            CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id
                 ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND
                 1 PRECEDING), s - 2) + 1 THEN 1 ELSE 0 END AS ni
            FROM cov),
    isl2 AS (SELECT doc_id, s, e,
             sum(ni) OVER (PARTITION BY doc_id ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
             FROM isl),
    spans AS (SELECT doc_id, min(s) AS ss, max(e) AS ee
              FROM isl2 GROUP BY doc_id, island),
    dup AS (SELECT doc_id, CAST(sum(ee - ss + 1) AS BIGINT) AS dup_chars
            FROM spans GROUP BY doc_id),
    stats AS (
      SELECT d.doc_id, CAST(length(t) AS BIGINT) AS n_chars,
             coalesce(dup_chars, 0) AS dup_chars
      FROM d LEFT JOIN dup ON d.doc_id = dup.doc_id)
    SELECT doc_id, n_chars, dup_chars
    FROM stats
    WHERE CAST(dup_chars AS DOUBLE) < 0.5 * n_chars
    ORDER BY doc_id
    """,
)
def q_stream_substring_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING char-grain substring dedup ingest: the documents table
    arrives as a 3-batch id-ordered file stream; each micro-batch's
    L-gram hashes are screened against the PERSISTED (h1, h2, min_doc)
    gram store, documents with >= 50% of characters covered by grams
    of smaller-id documents are dropped, survivors land exactly once,
    and the store min-merges the batch (idempotent on replay). The
    drop rule is a pure function of the document set under id-ordered
    arrival, so the landed set equals this one-batch SQL
    (streaming/ingest.py:substring_dedup_ingest)."""
    from kommunedata_data_pipeline_spark.streaming.ingest import (
        SUBSTRING_LANDED_SCHEMA,
        substring_dedup_ingest,
    )

    landed = _drain_ingest(
        spark,
        "q_stream_substring_ingest",
        _t(spark, sf_dir, "documents").select("doc_id", "text"),
        lambda stream, base: substring_dedup_ingest(
            stream,
            f"{base}/index",
            f"{base}/landed",
            min_len=25,
            max_dup_ratio=0.5,
        ),
        lambda base: spark.read.schema(SUBSTRING_LANDED_SCHEMA).parquet(
            f"{base}/landed"
        ),
    )
    return landed.orderBy("doc_id")


@_q(
    "q_hybrid_rrf",
    f"""
    WITH norm AS (SELECT doc_id, {_NORM_SQL} AS t FROM documents),
    toks AS (SELECT doc_id, unnest(string_split(t, ' ')) AS w FROM norm),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
    st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    tf AS (SELECT doc_id, w, count(*) AS tf FROM toks
           WHERE w IN ('spark', 'vector', 'merge') GROUP BY 1, 2),
    dfq AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
    sc AS (
      SELECT tf.doc_id,
             ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
               * tf * (1.2 + 1.0)
               / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / st.avgdl)) AS s
      FROM tf JOIN dfq USING (w) JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN st
    ),
    bm AS (SELECT doc_id, round(sum(s), 4) AS bm25
           FROM sc GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 20),
    r1 AS (SELECT doc_id,
                  row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank
           FROM bm),
    dtoks AS (SELECT DISTINCT doc_id, w FROM toks),
    per AS (SELECT doc_id, count(*) AS n_set,
                   sum(CASE WHEN w IN ('spark', 'vector', 'merge')
                       THEN 1 ELSE 0 END) AS inter
            FROM dtoks GROUP BY doc_id),
    tj AS (SELECT doc_id,
                  round(inter / CAST(n_set + 3 - inter AS DOUBLE), 6) AS tj
           FROM per WHERE inter > 0
           ORDER BY tj DESC, doc_id LIMIT 20),
    r2 AS (SELECT doc_id,
                  row_number() OVER (ORDER BY tj DESC, doc_id) AS rank
           FROM tj),
    fused AS (
      SELECT doc_id, CAST(count(*) AS INT) AS n_lists,
             CAST(sum(1000000000 // (60 + rank)) AS BIGINT) AS rrf_u
      FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2)
      GROUP BY doc_id)
    SELECT doc_id, n_lists, rrf_u
    FROM fused ORDER BY rrf_u DESC, doc_id LIMIT 10
    """,
)
def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal Rank Fusion of two lexical rankers over the same
    3-term query — BM25 (tf-weighted) fused with term-set Jaccard
    (overlap) by score = Σ 1e9 div (60 + rank), the hybrid-search
    combiner (Cormack 2009) every lexical+vector stack ships. Integer
    reciprocals → bit-identical fusion both engines; inputs are
    constant-size top-20 frames (operators/retrieval.py:rrf_fuse)."""
    from kommunedata_data_pipeline_spark.operators.retrieval import (
        bm25_topk,
        rrf_fuse,
        term_jaccard_topk,
    )

    d = _t(spark, sf_dir, "documents")
    terms = ["spark", "vector", "merge"]
    b = bm25_topk(d, terms)
    r1 = b.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("bm25"), "doc_id"))
        .alias("rank"),
    )
    j = term_jaccard_topk(d, terms)
    r2 = j.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("tj"), "doc_id"))
        .alias("rank"),
    )
    return rrf_fuse([r1, r2], k0=60, topk=10)


@_q(
    "q_event_pattern",
    """
    WITH coded AS (
      SELECT user_id AS u,
             CASE event_type WHEN 'view' THEN 'V' WHEN 'click' THEN 'C'
                  WHEN 'purchase' THEN 'P' WHEN 'signup' THEN 'S'
                  WHEN 'error' THEN 'E' END AS c,
             ts AS t, event_id AS i
      FROM events WHERE event_type IN
        ('view', 'click', 'purchase', 'signup', 'error')
    ),
    hist AS (
      SELECT u, string_agg(c, '' ORDER BY t, i) AS h
      FROM coded GROUP BY u
    ),
    flagged AS (
      SELECT CAST(regexp_matches(h, 'V[^P]*C.*P') AS INT) AS m FROM hist
    )
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(m) AS BIGINT) AS n_matched,
           round(CAST(sum(m) AS DOUBLE) / count(*), 6) AS match_rate
    FROM flagged
    """,
)
def q_event_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style behavioral regex over per-user event
    histories: encode events as single chars in (ts, event_id) total
    order, match 'V[^P]*C.*P' (a view, then a click with no purchase
    in between, then an eventual purchase) — the pattern grammar a
    fixed funnel can't express. One ordered per-user collect + one
    regex per user (operators/funnel.py:event_pattern_match)."""
    from kommunedata_data_pipeline_spark.operators.funnel import (
        event_pattern_match,
    )

    ev = _t(spark, sf_dir, "events")
    return event_pattern_match(
        ev,
        {
            "view": "V",
            "click": "C",
            "purchase": "P",
            "signup": "S",
            "error": "E",
        },
        "V[^P]*C.*P",
    )


@_q(
    "q_ks_test",
    """
    WITH g AS (
      SELECT n_chars AS s, count(*) AS cnt,
             sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c1
      FROM documents GROUP BY n_chars
    ),
    c AS (
      SELECT s, cnt, c1,
             sum(c1) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS k1,
             sum(cnt - c1) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS k0,
             sum(c1) OVER () AS n1,
             sum(cnt - c1) OVER () AS n0
      FROM g),
    a AS (
      SELECT CAST(max(abs(k1 * n0 - k0 * n1)) AS DOUBLE) AS md,
             CAST(max(n0) AS BIGINT) AS n0,
             CAST(max(n1) AS BIGINT) AS n1
      FROM c)
    SELECT n0, n1,
           round(CASE WHEN n0 > 0 AND n1 > 0
                 THEN md / (CAST(n0 AS DOUBLE) * n1) END, 6) AS d,
           CASE WHEN n0 > 0 AND n1 > 0 THEN
             CAST(md * md * 1000000.0 >
                  1844164.0 * (CAST(n0 AS DOUBLE) + n1) * n0 * n1 AS INT)
           END AS reject_05
    FROM a
    """,
)
def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov D over the en-vs-rest length
    distributions — the distribution-SHAPE drift audit next to
    q_rank_sum_test (location) and q_kl_divergence (smoothed global):
    histogram collapse, integer cross-product CDF gaps in DECIMAL, the
    α=0.05 Smirnov decision compared in squared space (no sqrt, no
    transcendentals — bit-identical both engines)
    (operators/statistics.py:ks_test)."""
    from kommunedata_data_pipeline_spark.operators.statistics import ks_test

    d = _t(spark, sf_dir, "documents").select(
        F.col("n_chars").alias("score"),
        (F.col("lang") == "en").cast("int").alias("grp"),
    )
    return ks_test(d, "score", "grp")


@_q(
    "q_token_keyness",
    r"""
    WITH tok AS (
      SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS ia,
             unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                x -> x <> '')) AS token
      FROM documents),
    c AS (
      SELECT token, CAST(sum(ia) AS BIGINT) AS a,
             CAST(sum(1 - ia) AS BIGINT) AS b
      FROM tok GROUP BY token),
    g AS (SELECT sum(a) AS na, sum(b) AS nb FROM c),
    t AS (
      SELECT token, a, b, na, nb
      FROM c CROSS JOIN g WHERE a + b >= 5),
    s AS (
      SELECT token, a AS n_a, b AS n_b,
             CASE WHEN CAST(a AS DOUBLE) * nb >= CAST(b AS DOUBLE) * na
                  THEN 1 ELSE -1 END AS direction,
             round(2.0 * (
               (CASE WHEN a > 0 THEN CAST(a AS DOUBLE) *
                 ln(CAST(a AS DOUBLE) * (na + nb)
                    / (na * (CAST(a AS DOUBLE) + b))) ELSE 0.0 END)
               + (CASE WHEN b > 0 THEN CAST(b AS DOUBLE) *
                 ln(CAST(b AS DOUBLE) * (na + nb)
                    / (nb * (CAST(a AS DOUBLE) + b))) ELSE 0.0 END)
             ), 6) AS g2
      FROM t)
    SELECT token, n_a, n_b, direction, g2
    FROM s ORDER BY g2 DESC, token ASC LIMIT 40
    """,
)
def q_token_keyness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-40 Dunning log-likelihood (G²) keyness tokens between the
    en sub-corpus and the rest — the corpus-comparison statistic for
    domain/style drift, next to q_kl_divergence (distribution grain)
    and q_token_pmi (within-doc association). One explode, one
    combinable (token, a, b) aggregate, pooled-corpus totals as a
    broadcast 1-row aggregate of the UNFILTERED vocab (computed before
    the min_count cut, so expectations include the singleton tail),
    TakeOrdered on the ROUNDED g2 (the token_pmi tie discipline)
    (operators/corpus.py:token_keyness)."""
    from kommunedata_data_pipeline_spark.operators.corpus import (
        token_keyness,
    )

    return token_keyness(
        _t(spark, sf_dir, "documents"),
        F.col("lang") == "en",
        min_count=5,
        k=40,
    )


@_q(
    "q_clustering_depth",
    """
    WITH f1 AS (SELECT o_orderkey // 4096 AS fid, o_orderdate AS v
                FROM orders),
    g1 AS (SELECT fid, min(v) AS f_min, max(v) AS f_max
           FROM f1 GROUP BY fid),
    e1 AS (SELECT f_min AS v, 1 AS delta FROM g1
           UNION ALL SELECT f_max AS v, -1 AS delta FROM g1),
    d1 AS (SELECT sum(delta) OVER (ORDER BY v ASC, delta DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS depth
           FROM e1),
    a1 AS (SELECT 'by_key' AS layout,
                  CAST((SELECT count(*) FROM g1) AS BIGINT) AS n_files,
                  CAST(max(depth) AS BIGINT) AS max_depth
           FROM d1),
    f2 AS (SELECT year(o_orderdate) * 12 + month(o_orderdate) AS fid,
                  o_orderdate AS v
           FROM orders),
    g2 AS (SELECT fid, min(v) AS f_min, max(v) AS f_max
           FROM f2 GROUP BY fid),
    e2 AS (SELECT f_min AS v, 1 AS delta FROM g2
           UNION ALL SELECT f_max AS v, -1 AS delta FROM g2),
    d2 AS (SELECT sum(delta) OVER (ORDER BY v ASC, delta DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS depth
           FROM e2),
    a2 AS (SELECT 'by_date' AS layout,
                  CAST((SELECT count(*) FROM g2) AS BIGINT) AS n_files,
                  CAST(max(depth) AS BIGINT) AS max_depth
           FROM d2)
    SELECT layout, n_files, max_depth
    FROM (SELECT * FROM a1 UNION ALL SELECT * FROM a2)
    ORDER BY layout
    """,
)
def q_clustering_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-depth audit of the same two orders layouts as
    q_zone_map_skip: worst-case number of overlapping file [min,max]
    zones (OPTIMIZE ZORDER's metric — depth 1 = point predicates touch
    one file, depth ≈ n_files = zone maps prune nothing). Sweep-line
    over file BOUNDARY events with file-metadata-sized windows; the
    max is tie-order invariant
    (operators/layout.py:clustering_depth)."""
    from kommunedata_data_pipeline_spark.operators.layout import (
        clustering_depth,
    )

    o = _t(spark, sf_dir, "orders")
    return clustering_depth(
        o,
        {
            "by_key": F.floor(F.col("o_orderkey") / 4096),
            "by_date": F.year("o_orderdate") * 12 + F.month("o_orderdate"),
        },
        "o_orderdate",
    )


@_q(
    "q_substring_dedup",
    """
    WITH d AS (SELECT doc_id, text AS t FROM documents),
    g0 AS (
      SELECT doc_id, t,
             unnest(range(1, CAST(length(t) AS BIGINT) - 30 + 2)) AS p
      FROM d),
    g AS (
      SELECT doc_id, p,
             CAST(('0x' || substr(md5(substr(t, p, 30)), 1, 8)) AS BIGINT)
               AS h1,
             CAST(('0x' || substr(md5(substr(t, p, 30)), 9, 8)) AS BIGINT)
               AS h2
      FROM g0),
    dup AS (SELECT h1, h2 FROM g GROUP BY h1, h2 HAVING count(*) >= 2),
    cov AS (SELECT doc_id, p AS s, p + 29 AS e
            FROM g JOIN dup USING (h1, h2)),
    isl AS (
      SELECT doc_id, s, e,
             CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id
                    ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND
                    1 PRECEDING), s - 2) + 1 THEN 1 ELSE 0 END AS ni
      FROM cov),
    isl2 AS (
      SELECT doc_id, s, e,
             sum(ni) OVER (PARTITION BY doc_id ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM isl)
    SELECT doc_id, CAST(min(s) AS INT) AS span_start,
           CAST(max(e) AS INT) AS span_end
    FROM isl2 GROUP BY doc_id, island ORDER BY doc_id, span_start
    """,
)
def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-grain exact repeated-substring cover (Lee et al. 2022
    ExactSubstr, the suffix-array half of the span family): per doc,
    the merged 1-based char ranges covered by any >= 30-char substring
    occurring twice anywhere in the corpus. Linear L-gram hash pass +
    combinable duplicate count + gaps-and-islands interval union under
    doc-partitioned windows — no suffix array, no quadratic contact
    (operators/corpus.py:substring_dup_spans)."""
    from kommunedata_data_pipeline_spark.operators.corpus import (
        substring_dup_spans,
    )

    return substring_dup_spans(_t(spark, sf_dir, "documents"), min_len=30)


@_q(
    "q_calibration_bins_hist",
    """
    WITH s AS (
      SELECT count(*) AS n,
             sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS sy,
             sum(n_chars) AS sx,
             sum(n_chars * n_chars) AS sxx,
             sum(CASE WHEN lang = 'en' THEN n_chars ELSE 0 END) AS sxy
      FROM documents),
    b AS (
      SELECT round(2.0 * (sxx * (2*sy - n) - sx * (2*sxy - sx))
                   / (n * sxx - sx * sx), 6) AS b0,
             round(2.0 * (n * (2*sxy - sx) - sx * (2*sy - n))
                   / (n * sxx - sx * sx), 6) AS b1
      FROM s),
    scored AS (
      SELECT d.doc_id,
             CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS label,
             CAST(floor((b.b0 + b.b1 * d.n_chars) * 1000000.0) AS BIGINT)
               AS score_u
      FROM documents d CROSS JOIN b),
    g AS (
      SELECT score_u AS sc, count(*) AS cnt, sum(label) AS pos
      FROM scored GROUP BY score_u),
    r AS (
      SELECT sc, cnt, pos,
             coalesce(sum(cnt) OVER (ORDER BY sc ROWS BETWEEN
                 UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb,
             sum(cnt) OVER () AS ntot
      FROM g)
    SELECT CAST((cb * 10) // ntot + 1 AS INT) AS bin,
           CAST(sum(cnt) AS BIGINT) AS n,
           CAST(sum(pos) AS BIGINT) AS n_pos,
           round(CAST(sum(pos) AS DOUBLE) / sum(cnt), 6) AS pos_rate,
           round((CAST(sum(sc * cnt) AS DOUBLE) / sum(cnt)) / 1000000.0, 6)
             AS avg_score
    FROM r GROUP BY 1 ORDER BY bin
    """,
)
def q_calibration_bins_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB reliability table: same logreg micro-unit scores as
    q_calibration_bins, but equal-frequency bins at HISTOGRAM grain —
    the corpus collapses to the distinct-score histogram in one
    combinable groupBy, bin boundaries come from cumulative counts
    over that bounded table (integer DIV arithmetic, exact in both
    engines), and no per-doc global sort exists anywhere in the plan.
    Ties never split across bins, so bin sizes deviate from n/n_bins
    by at most the largest tie group — the exact-ntile twin
    (q_calibration_bins) is the audit-scale cross-check
    (operators/statistics.py:calibration_bins_hist)."""
    from kommunedata_data_pipeline_spark.operators.statistics import (
        calibration_bins_hist,
        logreg_newton_step,
    )

    d = _t(spark, sf_dir, "documents")
    betas = logreg_newton_step(
        d, F.col("n_chars"), (F.col("lang") == "en").cast("int")
    ).select("b0", "b1")
    scored = d.crossJoin(F.broadcast(betas)).select(
        "doc_id",
        (F.col("lang") == "en").cast("int").alias("label"),
        F.floor(
            (F.col("b0") + F.col("b1") * F.col("n_chars")) * 1000000.0
        )
        .cast("bigint")
        .alias("score_u"),
    )
    return calibration_bins_hist(
        scored, score_col="score_u", label_col="label"
    )


@_q(
    "q_domain_temperature",
    """
    WITH c AS (SELECT source, count(*) AS n_docs FROM documents
               GROUP BY source),
    t AS (SELECT sum(n_docs) AS n_total FROM c),
    m AS (SELECT source, n_docs, n_total,
                 CAST(floor(1000000000.0
                   * pow(CAST(n_docs AS DOUBLE) / n_total, 0.3))
                 AS BIGINT) AS s_u
          FROM c CROSS JOIN t),
    d AS (SELECT sum(s_u) AS sum_u FROM m)
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
           round(CAST(n_docs AS DOUBLE) / n_total, 6) AS share,
           round(CAST(s_u AS DOUBLE) / sum_u, 6) AS temp_share,
           CAST(floor(CAST(s_u AS DOUBLE) / sum_u * 10000 + 0.5)
                AS BIGINT) AS quota
    FROM m CROSS JOIN d ORDER BY source
    """,
)
def q_domain_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain mixture (the XLM-R multilingual
    recipe): per-source shares flattened to p^0.3 and turned into
    document quotas at a 10k budget — the derivation step that
    PRODUCES the weights q_mixture_epochs consumes. Flattened masses
    are integerized per SOURCE (floor(1e9·p^α) BIGINTs) so the
    normalizing sum is exact and order-independent; pow runs once per
    source, never per row (operators/sampling.py:temperature_mixture)."""
    from kommunedata_data_pipeline_spark.operators.sampling import (
        temperature_mixture,
    )

    return temperature_mixture(
        _t(spark, sf_dir, "documents"), alpha=0.3, quota_docs=10000
    )


@_q(
    "q_quality_rules",
    r"""
    WITH t AS (
      SELECT text,
             list_filter(string_split_regex(lower(text), '\s+'),
                         x -> x <> '') AS w
      FROM documents),
    f AS (
      SELECT
        CASE WHEN len(w) < 5 THEN 1 ELSE 0 END AS f1,
        CASE WHEN length(text) < 20 THEN 1 ELSE 0 END AS f2,
        CASE WHEN COALESCE(list_max(list_transform(w, x -> length(x))), 0)
                  > 20 THEN 1 ELSE 0 END AS f3,
        CASE WHEN 5 * len(list_distinct(w)) < 2 * len(w)
             THEN 1 ELSE 0 END AS f4,
        CASE WHEN len(list_filter(w, x -> list_contains(
               ['the','and','of','to','a','in','is','it','that','for',
                'og','i','det','at','en','til','er','som','på','af'], x)))
               = 0 THEN 1 ELSE 0 END AS f5
      FROM t),
    g AS (SELECT f1, f2, f3, f4, f5,
                 greatest(f1, f2, f3, f4, f5) AS f6 FROM f),
    a AS (SELECT count(*) AS n, sum(f1) AS s1, sum(f2) AS s2,
                 sum(f3) AS s3, sum(f4) AS s4, sum(f5) AS s5,
                 sum(f6) AS s6
          FROM g),
    u AS (
      SELECT 'min_tokens' AS rule, s1 AS n_fail, n FROM a
      UNION ALL SELECT 'min_chars', s2, n FROM a
      UNION ALL SELECT 'long_word', s3, n FROM a
      UNION ALL SELECT 'repetition', s4, n FROM a
      UNION ALL SELECT 'no_stopword', s5, n FROM a
      UNION ALL SELECT 'any_fail', s6, n FROM a)
    SELECT rule, CAST(n_fail AS BIGINT) AS n_fail,
           round(CAST(n_fail AS DOUBLE) / n, 6) AS fail_rate
    FROM u ORDER BY rule
    """,
)
def q_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Gopher-style quality-rule battery with per-rule drop
    accounting: five integer/boolean rules (min tokens, min chars,
    over-long word, duplicate-token fraction, no-stopword gibberish
    guard) plus the OR row a gate would actually drop on — computed in
    ONE corpus pass (one combinable aggregate, then a 6-row unpivot);
    zero float-parity exposure because every test is integer
    arithmetic (operators/corpus.py:quality_rules_report)."""
    from kommunedata_data_pipeline_spark.operators.corpus import (
        quality_rules_report,
    )

    return quality_rules_report(_t(spark, sf_dir, "documents"))


@_q(
    "q_bigram_surprisal",
    r"""
    WITH tk AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'),
                         x -> x <> '') AS w
      FROM documents),
    pr AS (SELECT doc_id,
                  unnest(list_transform(range(1, len(w)),
                         i -> {'w1': w[i], 'w2': w[i+1]})) AS p
           FROM tk WHERE len(w) >= 2),
    prs AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM pr),
    uni AS (SELECT unnest(w) AS token FROM tk WHERE doc_id % 2 = 0),
    u AS (SELECT token, count(*) AS cu FROM uni GROUP BY token),
    tot AS (SELECT CAST(round(ln(sum(cu)) * 1000000.0) AS BIGINT) AS ln_n
            FROM u),
    bg AS (
      SELECT tp.w1, tp.w2,
             CAST(round(ln(u.cu) * 1000000.0) AS BIGINT)
           - CAST(round(ln(tp.c2) * 1000000.0) AS BIGINT) AS bg_micro
      FROM (SELECT w1, w2, count(*) AS c2 FROM prs
            WHERE doc_id % 2 = 0 GROUP BY w1, w2) tp
      JOIN u ON u.token = tp.w1),
    sc AS (
      SELECT s.doc_id,
             COALESCE(b.bg_micro,
                      t.ln_n - CAST(round(ln(u2.cu) * 1000000.0) AS BIGINT)
                        + 916291,
                      t.ln_n + 916291) AS s_micro,
             CASE WHEN b.bg_micro IS NULL THEN 1 ELSE 0 END AS is_back
      FROM prs s
      LEFT JOIN bg b ON b.w1 = s.w1 AND b.w2 = s.w2
      LEFT JOIN u u2 ON u2.token = s.w2
      CROSS JOIN tot t
      WHERE s.doc_id % 2 = 1)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(is_back) AS BIGINT) AS n_backoff,
           CAST(sum(s_micro) AS BIGINT) AS surprisal_micro,
           round(CAST(sum(s_micro) AS BIGINT) / count(*) / 1000000.0, 4)
             AS avg_neg_logp
    FROM sc GROUP BY doc_id ORDER BY doc_id
    """,
)
def q_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out bigram-LM surprisal with stupid backoff (Brants et al.
    2007) — the CCNet-style reference-LM quality proxy one step up
    from q_unigram_surprisal: bigram/unigram counts trained on even
    doc_ids, odd docs scored; backoff to λ·p_uni on unseen bigrams
    with -ln λ as a shared integer literal. ln(count) integerized once
    on the MODEL tables (vocab-sized joins), the corpus pair stream
    does one flat (w1,w2) equi-join, per-doc sums exact BIGINTs
    (operators/corpus.py:bigram_surprisal)."""
    from kommunedata_data_pipeline_spark.operators.corpus import (
        bigram_surprisal,
    )

    return bigram_surprisal(_t(spark, sf_dir, "documents"))


@_q(
    "q_dup_source_matrix",
    f"""
    WITH {_LSH_PAIRS_CTES},
    lab AS (
      SELECT least(da.source, db.source) AS source_a,
             greatest(da.source, db.source) AS source_b,
             p.est_jaccard
      FROM lsh_pairs p
      JOIN documents da ON da.doc_id = p.doc_a
      JOIN documents db ON db.doc_id = p.doc_b)
    SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs,
           round(avg(est_jaccard), 6) AS avg_jaccard
    FROM lab GROUP BY source_a, source_b ORDER BY source_a, source_b
    """,
)
def q_dup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source near-duplication matrix: verified LSH pairs joined
    back to both documents' sources, one row per unordered source pair
    with pair count and mean est_jaccard — the diagnostic separating
    within-source boilerplate from cross-source mirroring (decides
    per-source vs global dedup before paying the global bill).
    est_jaccard is a multiple of 1/16, so cell sums are binary-exact
    in any order (operators/dedup.py:dup_source_matrix)."""
    from kommunedata_data_pipeline_spark.operators.dedup import (
        dup_source_matrix,
    )

    return dup_source_matrix(_t(spark, sf_dir, "documents"))


@_q(
    "q_surprisal_gate",
    r"""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                x -> x <> '')) AS token
      FROM documents
    ),
    vocab AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
    tot AS (SELECT CAST(round(ln(sum(c)) * 1000000) AS BIGINT) AS ln_n
            FROM vocab),
    per AS (
      SELECT t.doc_id, count(*) AS n_tokens,
             sum(CAST(round(ln(v.c) * 1000000) AS BIGINT)) AS sum_lnc
      FROM tok t JOIN vocab v USING (token)
      GROUP BY t.doc_id
    ),
    sc AS (
      SELECT d.doc_id, d.source,
             CAST(n_tokens * (SELECT ln_n FROM tot) - sum_lnc AS BIGINT)
               AS sm
      FROM per JOIN documents d USING (doc_id)
    ),
    r AS (SELECT *, percent_rank() OVER (PARTITION BY source
                                         ORDER BY sm, doc_id) AS pr
          FROM sc)
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN pr >= 0.1 AND pr <= 0.9 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN pr < 0.1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_drop_low,
           CAST(sum(CASE WHEN pr > 0.9 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_drop_high
    FROM r GROUP BY source
    """,
)
def q_surprisal_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity band filter APPLIED: per-source percent
    rank of exact integer surprisal, drop the boilerplate (lowest 10%)
    and garbage (highest 10%) tails, keep the band — all-integer cut
    accounting (operators/corpus.py:surprisal_gate)."""
    from kommunedata_data_pipeline_spark.operators.corpus import surprisal_gate

    return surprisal_gate(_t(spark, sf_dir, "documents"), lo=0.1, hi=0.9)


@_q(
    "q_blocking_recall",
    """
    WITH s AS (SELECT c_custkey AS sid, c_name AS str,
                      length(c_name) AS n FROM customer),
    vi AS (SELECT sid, str, unnest(range(0, n + 1)) AS i FROM s),
    v AS (
      SELECT DISTINCT sid,
             CASE WHEN i = 0 THEN str
                  ELSE substr(str, 1, CAST(i AS INT) - 1)
                       || substr(str, CAST(i AS INT) + 1)
             END AS var
      FROM vi
    ),
    exact AS (
      SELECT DISTINCT a.sid AS id_a, b.sid AS id_b
      FROM v a JOIN v b ON a.var = b.var AND a.sid < b.sid
      JOIN s sa ON sa.sid = a.sid JOIN s sb ON sb.sid = b.sid
      WHERE levenshtein(sa.str, sb.str) <= 1
    ),
    r AS (SELECT sid, str,
                 row_number() OVER (ORDER BY str, sid) AS rn FROM s),
    pr AS (SELECT sid AS sid_a, str AS str_a,
                  unnest(range(rn + 1, rn + 10)) AS probe FROM r),
    sn AS (
      SELECT DISTINCT least(sid_a, b.sid) AS id_a,
             greatest(sid_a, b.sid) AS id_b
      FROM pr JOIN r b ON b.rn = pr.probe
      WHERE levenshtein(str_a, b.str) <= 1
    ),
    fl AS (
      SELECT e.id_a, e.id_b,
             CASE WHEN sn.id_a IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM exact e LEFT JOIN sn
        ON sn.id_a = e.id_a AND sn.id_b = e.id_b
    )
    SELECT CAST(count(*) AS BIGINT) AS n_exact,
           CAST(sum(hit) AS BIGINT) AS n_found,
           CAST(count(*) - sum(hit) AS BIGINT) AS n_missed,
           round(CAST(sum(hit) AS DOUBLE) / count(*), 6) AS recall
    FROM fl
    """,
)
def q_blocking_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-method recall audit (text twin of q_ann_recall): pairs
    the window-10 sorted-neighborhood pass finds vs the EXACT lev<=1
    ground truth from the deletion-neighborhood join — the measurement
    that justifies (or rejects) the cheap blocking pass at an operating
    point (operators/dedup.py:sorted_neighborhood_pairs,
    deletion_neighborhood_join)."""
    from kommunedata_data_pipeline_spark.operators.dedup import (
        deletion_neighborhood_join,
        sorted_neighborhood_pairs,
    )

    c = _t(spark, sf_dir, "customer")
    exact = deletion_neighborhood_join(c, "c_custkey", "c_name").select(
        "id_a", "id_b"
    )
    sn = (
        sorted_neighborhood_pairs(c, "c_custkey", "c_name", window=10)
        .select("id_a", "id_b")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return exact.join(sn, ["id_a", "id_b"], "left").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exact"),
        F.coalesce(F.sum("hit"), F.lit(0)).cast("bigint").alias("n_found"),
        (F.count(F.lit(1)) - F.coalesce(F.sum("hit"), F.lit(0)))
        .cast("bigint")
        .alias("n_missed"),
        F.round(
            F.coalesce(F.sum("hit"), F.lit(0)) / F.count(F.lit(1)), 6
        ).alias("recall"),
    )


@_q(
    "q_sorted_blocking",
    """
    WITH s AS (SELECT c_custkey AS sid, c_name AS str FROM customer),
    r AS (SELECT sid, str,
                 row_number() OVER (ORDER BY str, sid) AS rn FROM s),
    pr AS (SELECT sid AS sid_a, str AS str_a,
                  unnest(range(rn + 1, rn + 10)) AS probe FROM r),
    cand AS (
      SELECT sid_a, str_a, b.sid AS sid_b, b.str AS str_b
      FROM pr JOIN r b ON b.rn = pr.probe
    )
    SELECT least(sid_a, sid_b) AS id_a,
           greatest(sid_a, sid_b) AS id_b,
           CAST(levenshtein(str_a, str_b) AS INT) AS lev
    FROM cand WHERE levenshtein(str_a, str_b) <= 1
    """,
)
def q_sorted_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo merge/purge):
    window-10 neighbor comparison in customer-name sort order, lev<=1
    verify — the third blocking family next to the deletion join and
    LSH; global rank via range-partitioned two-phase offsets (the
    RangePartitioner samples the keyspace, so the shared c_name prefix
    cannot collapse the bucketing), window probing via an
    explode + rank equi-join
    (operators/dedup.py:sorted_neighborhood_pairs)."""
    from kommunedata_data_pipeline_spark.operators.dedup import (
        sorted_neighborhood_pairs,
    )

    return sorted_neighborhood_pairs(
        _t(spark, sf_dir, "customer"), "c_custkey", "c_name", window=10
    )


@_q(
    "q_winnowing_overlap",
    f"""
    WITH norm AS (SELECT doc_id, {_NORM_SQL} AS t FROM documents),
    th AS (SELECT doc_id,
                  list_transform(string_split(t, ' '),
                    x -> ('0x' || substr(md5(x), 1, 8))::BIGINT
                         % {ROLL_TOK_MOD}) AS h
           FROM norm),
    rh AS (SELECT doc_id, CASE WHEN len(h) >= 4 THEN
             list_transform(range(0, len(h) - 3), i ->
               (h[i+1]*{ROLL_B**3} + h[i+2]*{ROLL_B**2}
                + h[i+3]*{ROLL_B} + h[i+4]) % {ROLL_P})
           ELSE [] END AS r FROM th),
    wn AS (SELECT doc_id, CASE
             WHEN len(r) >= 5 THEN list_transform(
               range(1, len(r) - 3), i -> list_min(r[i:i+4]))
             WHEN len(r) > 0 THEN [list_min(r)]
             ELSE CAST([] AS BIGINT[]) END AS mins FROM rh),
    fp AS (SELECT DISTINCT doc_id, unnest(mins) AS fp FROM wn)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING count(*) >= 3
    """,
)
def q_winnowing_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint overlap (Schleimer et al. 2003, MOSS):
    per-window minimum of Rabin-Karp rolling hashes — the locality
    guarantee a global-min fingerprint lacks; pairs sharing >= 3
    selected fingerprints (operators/dedup.py:winnowing_overlap_pairs)."""
    from kommunedata_data_pipeline_spark.operators.dedup import (
        winnowing_overlap_pairs,
    )

    return winnowing_overlap_pairs(
        _t(spark, sf_dir, "documents"), w=4, window=5, min_shared=3
    )


@_q(
    "q_curriculum_schedule",
    f"""
    WITH q AS (
      SELECT doc_id, CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens,
             {_QUALITY_SQL} AS quality
      FROM documents
    ),
    r AS (SELECT *, row_number() OVER (ORDER BY quality DESC, doc_id)
                      AS rn,
                 count(*) OVER () AS n
          FROM q),
    t AS (SELECT *, CAST(floor((rn - 1) * 4.0 / n) + 1 AS INT) AS tile
          FROM r),
    a AS (SELECT n_tokens, quality, unnest(range(tile, 5)) AS epoch
          FROM t)
    SELECT CAST(epoch AS INT) AS epoch,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           round(min(quality), 6) AS min_quality
    FROM a GROUP BY epoch
    """,
)
def q_curriculum_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Competence-based curriculum data schedule: quality-rank quartile
    tiles, epoch e admits tiles 1..e — per-epoch admitted doc/token
    counts. The global rank is the two-phase bucket-offset plan, never
    a global window (operators/sampling.py:curriculum_schedule)."""
    from kommunedata_data_pipeline_spark.operators.sampling import (
        curriculum_schedule,
    )

    return curriculum_schedule(_t(spark, sf_dir, "documents"), n_tiles=4)


@_q(
    "q_containment_pairs",
    f"""
    WITH {_SHINGLES_CTE},
    hot AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) > 50),
    shc AS (SELECT doc_id, shingle FROM sh
            WHERE shingle NOT IN (SELECT shingle FROM hot)),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM shc a JOIN shc b
        ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(n_common AS BIGINT) AS n_common,
           CAST(n_sh AS BIGINT) AS n_sh_a,
           round(CAST(n_common AS DOUBLE) / n_sh, 6) AS containment
    FROM common JOIN sizes ON sizes.doc_id = common.doc_a
    WHERE round(CAST(n_common AS DOUBLE) / n_sh, 6) >= 0.8
    """,
)
def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed shingle-containment near-dup pairs: C(A→B) =
    |S(A)∩S(B)|/|S(A)| ≥ 0.8 — inclusion/quotation detection that
    symmetric Jaccard misses for size-mismatched docs; df-capped
    shingle join (cap shrinks the numerator only — the denominator is
    the TRUE pre-cap |S(A)|, so the metric is a conservative lower
    bound), never all-pairs
    (operators/dedup.py:shingle_containment_pairs)."""
    from kommunedata_data_pipeline_spark.operators.dedup import (
        shingle_containment_pairs,
    )

    return shingle_containment_pairs(
        _t(spark, sf_dir, "documents"), k=3, threshold=0.8, df_cap=50
    )


@_q(
    "q_stump_split",
    f"""
    WITH f AS (
      SELECT 'chars' AS feature, CAST(n_chars // 16 AS BIGINT) AS bin,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents
      UNION ALL
      SELECT 'tokens', CAST(len({_TOKS_SQL}) // 4 AS BIGINT),
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END
      FROM documents
    ),
    hist AS (
      SELECT feature, bin, count(*) AS cnt, sum(y) AS pos
      FROM f GROUP BY 1, 2
    ),
    h AS (
      SELECT feature, bin,
             sum(cnt) OVER (PARTITION BY feature ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cnt,
             sum(pos) OVER (PARTITION BY feature ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos,
             sum(cnt) OVER (PARTITION BY feature) AS tot_cnt,
             sum(pos) OVER (PARTITION BY feature) AS tot_pos
      FROM hist
    )
    SELECT feature, CAST(bin AS BIGINT) AS threshold_bin,
           CAST(cum_cnt AS BIGINT) AS n_left,
           CAST(cum_pos AS BIGINT) AS n_pos_left,
           CAST(least(cum_pos, cum_cnt - cum_pos)
                + least(tot_pos - cum_pos,
                        (tot_cnt - cum_cnt) - (tot_pos - cum_pos))
             AS BIGINT) AS err
    FROM h WHERE cum_cnt < tot_cnt
    ORDER BY err, feature, threshold_bin LIMIT 5
    """,
)
def q_stump_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-based decision-stump split finder (the XGBoost-approx /
    LightGBM per-node primitive): is-English vs binned length features;
    top-5 candidate thresholds by exact integer misclassification error
    — one row scan, one histogram aggregate, prefix sums over bins
    (operators/statistics.py:stump_split_finder)."""
    from kommunedata_data_pipeline_spark.operators.statistics import (
        stump_split_finder,
    )
    from kommunedata_data_pipeline_spark.functions.text import token_count

    d = _t(spark, sf_dir, "documents")
    return stump_split_finder(
        d,
        {
            "chars": F.floor(F.col("n_chars") / 16),
            "tokens": F.floor(token_count(F.col("text")) / 4),
        },
        y=(F.col("lang") == "en").cast("int"),
        k=5,
    )


@_q(
    "q_dedup_tier_venn",
    f"""
    WITH {_LSH_PAIRS_CTES},
    nearset AS (
      SELECT DISTINCT doc_id FROM (
        SELECT doc_a AS doc_id FROM lsh_pairs
        UNION ALL SELECT doc_b FROM lsh_pairs)
    ),
    keys AS (
      SELECT vec_id, embedding, CAST(b.b AS INT) AS band,
             CAST(list_sum(list_transform(range(0, 8), i ->
               CASE WHEN embedding[b.b*8 + i + 1] > 0
                    THEN CAST(pow(2, i) AS BIGINT) ELSE 0 END))
               AS BIGINT) AS bkey
      FROM embeddings, (SELECT unnest(range(0, 4)) AS b) b
    ),
    semscored AS (
      SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b,
             round(
               list_sum(list_transform(range(1, len(x.embedding) + 1),
                 i -> CAST(x.embedding[i] AS DOUBLE)
                      * CAST(y.embedding[i] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(x.embedding,
                    v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
                  * sqrt(list_sum(list_transform(y.embedding,
                    v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))),
               5) AS cosine_sim
      FROM keys x JOIN keys y
        ON x.band = y.band AND x.bkey = y.bkey AND x.vec_id < y.vec_id
    ),
    semset AS (
      SELECT DISTINCT doc_id FROM (
        SELECT vec_a AS doc_id FROM semscored WHERE cosine_sim >= 0.3
        UNION ALL SELECT vec_b FROM semscored WHERE cosine_sim >= 0.3)
    ),
    fl AS (
      SELECT d.doc_id,
             CAST(CASE WHEN count(*) OVER (PARTITION BY md5({_NORM_SQL}))
                       > 1 THEN 1 ELSE 0 END AS INT) AS is_exact,
             CAST(CASE WHEN n.doc_id IS NOT NULL THEN 1 ELSE 0 END AS INT)
               AS is_near,
             CAST(CASE WHEN s.doc_id IS NOT NULL THEN 1 ELSE 0 END AS INT)
               AS is_sem
      FROM documents d
      LEFT JOIN nearset n ON n.doc_id = d.doc_id
      LEFT JOIN semset s ON s.doc_id = d.doc_id
    )
    SELECT is_exact, is_near, is_sem, CAST(count(*) AS BIGINT) AS n_docs
    FROM fl GROUP BY 1, 2, 3
    """,
)
def q_dedup_tier_venn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-tier agreement audit: the 8-cell Venn of exact-fingerprint
    vs MinHash-LSH vs embedding-cosine dup flags per document — the
    marginal-value diagnostic for choosing a dedup stack; each tier
    keeps its standalone sub-quadratic plan
    (operators/dedup.py:dedup_tier_venn)."""
    from kommunedata_data_pipeline_spark.operators.dedup import dedup_tier_venn

    return dedup_tier_venn(
        _t(spark, sf_dir, "documents"), _t(spark, sf_dir, "embeddings")
    )


@_q(
    "q_cdc_dedup",
    f"""
    WITH t AS (SELECT doc_id, source, {_TOKS_SQL} AS toks FROM documents),
    bp AS (SELECT doc_id, source, toks,
             list_filter(range(1, len(toks) + 1),
               i -> ('0x' || substr(md5(toks[i]), 1, 8))::BIGINT % 16 = 0)
               AS bpos
           FROM t WHERE len(toks) > 0),
    en AS (SELECT doc_id, source, toks,
             CASE WHEN bpos[-1] = len(toks) THEN bpos
                  ELSE list_append(bpos, len(toks)) END AS ends
           FROM bp),
    ch AS (SELECT source,
             unnest(list_transform(range(1, len(ends) + 1),
               i -> array_to_string(
                 toks[(CASE WHEN i = 1 THEN 1 ELSE ends[i-1] + 1 END)
                      :ends[i]], ' '))) AS chunk
           FROM en),
    pc AS (SELECT source, chunk, count(*) AS cnt FROM ch GROUP BY 1, 2)
    SELECT source,
           CAST(sum(cnt) AS BIGINT) AS n_chunks,
           CAST(count(*) AS BIGINT) AS n_distinct,
           CAST(sum(cnt * length(chunk)) AS BIGINT) AS bytes_total,
           CAST(sum(length(chunk)) AS BIGINT) AS bytes_distinct,
           round(1.0 - CAST(sum(length(chunk)) AS DOUBLE)
                 / sum(cnt * length(chunk)), 6) AS dedup_ratio
    FROM pc GROUP BY source
    """,
)
def q_cdc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup accounting (LBFS/FastCDC family):
    boundaries from a per-token content hash (md5 % 16 == 0), so edits
    re-chunk only to the next surviving boundary; per-source
    content-addressable-store savings over the chunk stream
    (operators/corpus.py:cdc_chunk_arrays,cdc_dedup_stats)."""
    from kommunedata_data_pipeline_spark.operators.corpus import cdc_dedup_stats

    return cdc_dedup_stats(_t(spark, sf_dir, "documents"))


@_q(
    "q_token_budget_select",
    f"""
    WITH q AS (
      SELECT doc_id, source,
             CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens,
             {_QUALITY_SQL} AS quality
      FROM documents
    ),
    c AS (
      SELECT doc_id, source, n_tokens, quality,
             CAST(sum(n_tokens) OVER (
                   ORDER BY quality DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_tokens
      FROM q
    )
    SELECT * FROM c WHERE cum_tokens <= 6000
    """,
)
def q_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus selection: the best-quality documents whose
    inclusive running token sum fits a 6000-token budget ("train on the
    best N tokens") — quality ordering with a doc_id tiebreak is a
    total order, so the greedy prefix is engine-deterministic
    (operators/sampling.py:token_budget_select)."""
    from kommunedata_data_pipeline_spark.operators.sampling import (
        token_budget_select,
    )

    return token_budget_select(_t(spark, sf_dir, "documents"), budget=6000)


@_q(
    "q_epoch_shuffle",
    """
    WITH e AS (
      SELECT d.doc_id, ep.epoch
      FROM documents d CROSS JOIN (SELECT unnest([0, 1]) AS epoch) ep
    ),
    h AS (
      SELECT doc_id, epoch,
             (doc_id * 2654435761
              + (CAST(epoch AS BIGINT) + 1) * 1099087573)
               % 2147483647 AS h
      FROM e
    )
    SELECT CAST(epoch AS INT) AS epoch,
           CAST(h % 8 AS INT) AS shard,
           CAST(row_number() OVER (
                 PARTITION BY epoch, h % 8 ORDER BY h, doc_id)
             AS INT) AS position,
           doc_id,
           CAST(h AS BIGINT) AS h
    FROM h
    """,
)
def q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded per-epoch shuffle + sharding: deterministic integer-hash
    rank per (doc, epoch), shard = h % 8, within-shard read order — the
    epoch data-order plan a trainer consumes, reproducible with no RNG
    state and no materialized permutation
    (operators/sampling.py:epoch_shuffle)."""
    from kommunedata_data_pipeline_spark.operators.sampling import epoch_shuffle

    return epoch_shuffle(
        _t(spark, sf_dir, "documents"), n_epochs=2, n_shards=8
    )


# --------------------------------------------------------------------------
# round 8: evaluation metrics, applied ER/splits, layout audits, multimodal
# dedup, matryoshka retrieval

_SCORED_DOCS_CTE = """
    g AS (
      SELECT n_chars AS s, count(*) AS cnt,
             sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS pos
      FROM documents GROUP BY n_chars
    )"""


@_q(
    "q_auc_exact",
    f"""
    WITH {_SCORED_DOCS_CTE},
    r AS (
      SELECT s, cnt, pos,
             2 * coalesce(sum(cnt) OVER (ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + cnt + 1 AS rank2
      FROM g
    ),
    a AS (
      SELECT CAST(sum(pos) AS BIGINT) AS np,
             CAST(sum(cnt - pos) AS BIGINT) AS nn,
             CAST(sum(pos * rank2) AS BIGINT) AS r2
      FROM r
    )
    SELECT np AS n_pos, nn AS n_neg,
           round(CASE WHEN np > 0 AND nn > 0
                 THEN (r2 / 2.0 - np * (np + 1) / 2.0) / (np * nn) END, 6)
             AS auc
    FROM a
    """,
)
def q_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-aware ROC AUC (Mann-Whitney identity, AVERAGE ranks on
    ties in doubled-integer units) of the n_chars score against the
    lang='en' label — the ranking-quality audit for any classifier-
    driven curation gate. The corpus collapses to the distinct-score
    histogram in one combinable groupBy; the rank window runs over that
    bucket table only (operators/statistics.py:auc_exact)."""
    from kommunedata_data_pipeline_spark.operators.statistics import auc_exact

    d = _t(spark, sf_dir, "documents").select(
        F.col("n_chars").alias("score"),
        (F.col("lang") == "en").cast("int").alias("label"),
    )
    return auc_exact(d, "score", "label")


@_q(
    "q_pr_curve",
    f"""
    WITH {_SCORED_DOCS_CTE},
    c AS (
      SELECT s AS threshold,
             sum(pos) OVER (ORDER BY s DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
             sum(cnt - pos) OVER (ORDER BY s DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp,
             sum(pos) OVER () AS tot_pos
      FROM g
    )
    SELECT threshold,
           CAST(tp AS BIGINT) AS tp,
           CAST(fp AS BIGINT) AS fp,
           CAST(tot_pos - tp AS BIGINT) AS fn,
           round(tp / CAST(tp + fp AS DOUBLE), 6) AS precision,
           round(CASE WHEN tot_pos > 0
                 THEN tp / CAST(tot_pos AS DOUBLE) END, 6) AS recall,
           round(CASE WHEN tp > 0
                 THEN 2.0 * tp / (tp + fp + tot_pos) ELSE 0.0 END, 6) AS f1
    FROM c
    """,
)
def q_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact precision/recall/F1 at EVERY distinct score threshold
    (predict positive when score >= t) — the full PR curve a gate
    threshold is chosen from. Cumulative-from-the-top integer counts
    over the distinct-score bucket table; ratios are single divisions
    on emission (operators/statistics.py:pr_curve)."""
    from kommunedata_data_pipeline_spark.operators.statistics import pr_curve

    d = _t(spark, sf_dir, "documents").select(
        F.col("n_chars").alias("score"),
        (F.col("lang") == "en").cast("int").alias("label"),
    )
    return pr_curve(d, "score", "label")


@_q(
    "q_ridge_regression",
    f"""
    WITH a AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(n_chars) AS BIGINT) AS sx,
             CAST(sum(n_chars * n_chars) AS BIGINT) AS sxx,
             CAST(sum(len({_TOKS_SQL})) AS BIGINT) AS sy,
             CAST(sum(n_chars * len({_TOKS_SQL})) AS BIGINT) AS sxy
      FROM documents
    )
    SELECT n,
           round((sy * (sxx + 1.0) - sx * sxy)
                 / (n * (sxx + 1.0) - sx * sx), 6) AS beta0,
           round((n * sxy - sx * sy)
                 / (n * (sxx + 1.0) - sx * sx), 6) AS beta1,
           1.0 AS lambda
    FROM a
    """,
)
def q_ridge_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form ridge regression (slope-penalized 2x2 Cramer solve,
    token count ~ n_chars): the linear-trainer sibling of the logistic
    Newton step — five combinable integer sums, zero iterations, betas
    are a handful of double ops on the one-row aggregate
    (operators/statistics.py:ridge_closed_form)."""
    from kommunedata_data_pipeline_spark.operators.statistics import (
        ridge_closed_form,
    )
    from kommunedata_data_pipeline_spark.functions.text import token_count

    d = _t(spark, sf_dir, "documents").select(
        F.col("n_chars").alias("x"), token_count(F.col("text")).alias("y")
    )
    return ridge_closed_form(d, "x", "y", lam=1.0)


@_q(
    "q_cohens_kappa",
    f"""
    WITH t AS (
      SELECT CASE WHEN n_en = 0 AND n_da = 0 THEN 'unknown'
                  WHEN n_en >= n_da THEN 'en' ELSE 'da' END AS ra,
             lang AS rb
      FROM (
        SELECT lang,
               len(list_filter(list_transform({_TOKS_SQL}, x -> lower(x)),
                               t -> list_contains({_EN_SW}, t))) AS n_en,
               len(list_filter(list_transform({_TOKS_SQL}, x -> lower(x)),
                               t -> list_contains({_DA_SW}, t))) AS n_da
        FROM documents)
    ),
    cm AS (SELECT ra, rb, count(*) AS cnt FROM t GROUP BY ra, rb),
    ma AS (SELECT ra, sum(cnt) AS row_n FROM cm GROUP BY ra),
    mb AS (SELECT rb, sum(cnt) AS col_n FROM cm GROUP BY rb),
    ex AS (SELECT CAST(sum(row_n * col_n) AS BIGINT) AS s_e
           FROM ma JOIN mb ON ma.ra = mb.rb),
    b AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN ra = rb THEN cnt ELSE 0 END) AS BIGINT)
                   AS n_agree
          FROM cm)
    SELECT n, n_agree,
           round(n_agree / CAST(n AS DOUBLE), 6) AS po,
           round(s_e / CAST(n * n AS DOUBLE), 6) AS pe,
           round(CASE WHEN s_e < n * n THEN
                 (n_agree / CAST(n AS DOUBLE) - s_e / CAST(n * n AS DOUBLE))
                 / (1 - s_e / CAST(n * n AS DOUBLE)) END, 6) AS kappa
    FROM b CROSS JOIN ex
    """,
)
def q_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the stopword-voting language-ID heuristic
    and the labeled lang column — chance-corrected annotation
    agreement, the standard heuristic-labeler audit. The corpus
    collapses to the |classes|^2 confusion table in one combinable
    groupBy (operators/statistics.py:cohens_kappa)."""
    from kommunedata_data_pipeline_spark.operators.statistics import (
        cohens_kappa,
    )

    d = _t(spark, sf_dir, "documents").select(
        lang_guess(F.col("text")).alias("ra"), F.col("lang").alias("rb")
    )
    return cohens_kappa(d, "ra", "rb")


@_q(
    "q_tokenizer_fertility",
    f"""
    WITH a AS (
      SELECT lang,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len({_TOKS_SQL})) AS BIGINT) AS n_words,
             CAST(sum(len(regexp_extract_all(text,
               ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+'))) AS BIGINT)
               AS n_bpe_tokens,
             CAST(sum(length(text)) AS BIGINT) AS n_chars
      FROM documents GROUP BY lang
    )
    SELECT lang, n_docs, n_words, n_bpe_tokens, n_chars,
           round(n_bpe_tokens / CAST(n_words AS DOUBLE), 6) AS fertility,
           round(n_chars / CAST(n_bpe_tokens AS DOUBLE), 6)
             AS chars_per_token
    FROM a ORDER BY lang
    """,
)
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility audit per language: BPE-ish tokens per
    whitespace word and chars per BPE token — the multi-lingual
    tokenizer-efficiency readout (high fertility = that language pays
    more compute per byte). One combinable aggregate over three per-row
    integer counts (operators/corpus.py:tokenizer_fertility)."""
    from kommunedata_data_pipeline_spark.operators.corpus import (
        tokenizer_fertility,
    )

    return tokenizer_fertility(_t(spark, sf_dir, "documents"))


@_q(
    "q_corpus_datasheet",
    f"""
    WITH r AS (
      SELECT source, lang, doc_id,
             len({_TOKS_SQL}) AS n_toks, length(text) AS n_ch,
             CASE WHEN row_number() OVER (PARTITION BY md5({_NORM_SQL})
                    ORDER BY doc_id) > 1 THEN 1 ELSE 0 END AS is_dup
      FROM documents
    ),
    pl AS (SELECT source, lang, count(*) AS lang_n FROM r GROUP BY 1, 2),
    top AS (
      SELECT source, lang AS top_lang, lang_n AS top_n FROM (
        SELECT *, row_number() OVER (PARTITION BY source
                    ORDER BY lang_n DESC, lang) AS rn
        FROM pl) WHERE rn = 1
    ),
    base AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_toks) AS BIGINT) AS n_tokens,
             CAST(sum(n_ch) AS BIGINT) AS n_chars,
             CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(sum(is_dup) AS BIGINT) AS n_dups
      FROM r GROUP BY source
    )
    SELECT source, n_docs, n_tokens, n_chars, n_langs, top_lang,
           round(top_n / CAST(n_docs AS DOUBLE), 6) AS top_lang_share,
           round(n_dups / CAST(n_docs AS DOUBLE), 6) AS exact_dup_rate,
           round(n_chars / CAST(n_docs AS DOUBLE), 6) AS mean_chars
    FROM base JOIN top USING (source)
    ORDER BY source
    """,
)
def q_corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus datasheet (Datasheets-for-Datasets applied):
    volume, language concentration, exact-dup rate, mean length — the
    dataset-card table a curation run publishes next to the corpus.
    One scan + fingerprint window + combinable per-source rollup
    (operators/corpus.py:corpus_datasheet)."""
    from kommunedata_data_pipeline_spark.operators.corpus import (
        corpus_datasheet,
    )

    return corpus_datasheet(_t(spark, sf_dir, "documents"))


@_q(
    "q_shard_balance",
    f"""
    WITH s AS (SELECT doc_id, len({_TOKS_SQL}) AS n_tokens FROM documents),
    r AS (SELECT *, row_number() OVER (ORDER BY n_tokens DESC, doc_id)
            AS rn FROM s),
    a AS (
      SELECT CASE WHEN (rn - 1) % 16 < 8 THEN (rn - 1) % 16
                  ELSE 15 - ((rn - 1) % 16) END AS shard,
             n_tokens
      FROM r
    ),
    g AS (
      SELECT CAST(shard AS INT) AS shard,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS n_tokens
      FROM a GROUP BY shard
    )
    SELECT shard, n_docs, n_tokens,
           round(n_tokens * 8 / CAST((SELECT sum(n_tokens) FROM g)
             AS DOUBLE), 6) AS balance
    FROM g ORDER BY shard
    """,
)
def q_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-balanced shard packing: docs dealt onto 8 shards in SNAKE
    order of descending token count (the one-pass LPT approximation
    that keeps trainer data-loader ranks finishing together). Global
    rank via ranged_global_rank — range-sampled two-phase offsets,
    never a single-task sort (operators/sampling.py:shard_balance)."""
    from kommunedata_data_pipeline_spark.operators.sampling import (
        shard_balance,
    )

    return shard_balance(_t(spark, sf_dir, "documents"), n_shards=8)


@_q(
    "q_er_clusters",
    """
    WITH RECURSIVE s AS (
      SELECT c_custkey AS sid, c_name AS str, length(c_name) AS n
      FROM customer
    ),
    vi AS (SELECT sid, str, unnest(range(0, n + 1)) AS i FROM s),
    v AS (
      SELECT DISTINCT sid,
             CASE WHEN i = 0 THEN str
                  ELSE substr(str, 1, CAST(i AS INT) - 1)
                       || substr(str, CAST(i AS INT) + 1)
             END AS var
      FROM vi
    ),
    cand AS (
      SELECT DISTINCT a.sid AS id_a, b.sid AS id_b
      FROM v a JOIN v b ON a.var = b.var AND a.sid < b.sid
    ),
    p AS (
      SELECT id_a, id_b FROM cand
      JOIN s sa ON sa.sid = id_a
      JOIN s sb ON sb.sid = id_b
      JOIN customer ca ON ca.c_custkey = id_a
      JOIN customer cb ON cb.c_custkey = id_b
      WHERE levenshtein(sa.str, sb.str) <= 1
        AND ca.c_mktsegment = cb.c_mktsegment
        AND ca.c_nationkey = cb.c_nationkey
    ),
    edges AS MATERIALIZED (
      SELECT id_a AS src, id_b AS dst FROM p
      UNION
      SELECT id_b, id_a FROM p
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    reach(node, lab) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.src, r.lab FROM edges e JOIN reach r ON e.dst = r.node
    ),
    cc AS (SELECT node, min(lab) AS entity_id FROM reach GROUP BY node),
    lab AS (
      SELECT c_custkey AS rid, coalesce(cc.entity_id, c_custkey) AS entity_id
      FROM customer LEFT JOIN cc ON cc.node = c_custkey
    ),
    sz AS (SELECT entity_id, CAST(count(*) AS BIGINT) AS n_members
           FROM lab GROUP BY entity_id)
    SELECT rid, entity_id, n_members FROM lab JOIN sz USING (entity_id)
    """,
)
def q_er_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution APPLIED: match pairs under the full
    Fellegi-Sunter decision rule — lev<=1 name (deletion-signature
    equi-join, exact and never all-pairs) AND agreement on segment +
    nation — transitively closed into entities (union-find / min-label
    CC on the matched-pair graph only), one row per record with its
    canonical entity id and entity size: the record-dedup action after
    record_linkage's detection (operators/dedup.py:er_clusters)."""
    from kommunedata_data_pipeline_spark.operators.dedup import er_clusters

    return er_clusters(
        _t(spark, sf_dir, "customer"),
        "c_custkey",
        "c_name",
        agree_cols=("c_mktsegment", "c_nationkey"),
    )


@_q(
    "q_leakproof_split",
    f"""
    WITH RECURSIVE {_LSH_PAIRS_CTES},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM lsh_pairs
      UNION
      SELECT doc_b, doc_a FROM lsh_pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    reach(node, lab) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.src, r.lab FROM edges e JOIN reach r ON e.dst = r.node
    ),
    cc AS (SELECT node, min(lab) AS cluster_id FROM reach GROUP BY node),
    l AS (
      SELECT d.doc_id, coalesce(cc.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN cc ON cc.node = d.doc_id
    ),
    h AS (
      SELECT doc_id, cluster_id,
             ('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8))::BIGINT
               % 100 AS hv
      FROM l
    )
    SELECT doc_id, cluster_id,
           CASE WHEN hv < 90 THEN 'train' WHEN hv < 95 THEN 'val'
                ELSE 'test' END AS split
    FROM h
    """,
)
def q_leakproof_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: membership assigned per
    NEAR-DUP CLUSTER (MinHash-LSH pairs -> connected components), so
    two near-duplicates can never land on opposite sides of the cut —
    the decontamination-correct variant of split_assign (which leaks
    eval content whenever the corpus has near-dups)
    (operators/sampling.py:leakproof_split)."""
    from kommunedata_data_pipeline_spark.operators.sampling import (
        leakproof_split,
    )

    d = _t(spark, sf_dir, "documents")
    return leakproof_split(d, minhash_lsh_pairs(d, 3, 16, 4, 0.5))


@_q(
    "q_media_dedup",
    """
    WITH r AS (
      SELECT CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'wav' END AS fmt,
             CASE WHEN doc_id % 2 = 0 THEN doc_id % 112
                  ELSE doc_id % 8 END AS cls,
             CASE WHEN doc_id % 2 = 0 THEN 33 ELSE 36 END AS n_bytes
      FROM documents
    ),
    pd AS (SELECT fmt, cls, count(*) AS n, min(n_bytes) AS n_bytes
           FROM r GROUP BY fmt, cls)
    SELECT fmt,
           CAST(sum(n) AS BIGINT) AS n_blobs,
           CAST(count(*) AS BIGINT) AS n_unique,
           CAST(sum(n * n_bytes) AS BIGINT) AS bytes_total,
           CAST(sum(n_bytes) AS BIGINT) AS bytes_stored,
           round(1 - sum(n_bytes) / CAST(sum(n * n_bytes) AS DOUBLE), 6)
             AS savings_ratio
    FROM pd GROUP BY fmt ORDER BY fmt
    """,
)
def q_media_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-blob exact dedup savings per media format: md5 over the
    BINARY column (JVM-side, computed where the blob lives), distinct-
    digest counts, content-addressed-store savings — the multimodal
    sibling of text dedup_exact. The oracle recomputes the expected
    duplicate classes by arithmetic on the synthesis moduli (PNG blobs
    are a function of doc_id mod 112, WAV of doc_id mod 8) — verifying
    the binary hash path end-to-end
    (transforms/multimodal.py:media_dedup_stats)."""
    from kommunedata_data_pipeline_spark.transforms.multimodal import (
        media_dedup_stats,
    )

    return media_dedup_stats(_t(spark, sf_dir, "documents"))


_MATRYOSHKA_PRE_DOT = (
    "list_sum(list_transform(range(1, 17), "
    "i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.q_embedding[i] AS DOUBLE)))"
)
_MATRYOSHKA_PRE_NE = (
    "sqrt(list_sum(list_transform(e.embedding[1:16], "
    "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
)
_MATRYOSHKA_PRE_NQ = (
    "sqrt(list_sum(list_transform(q.q_embedding[1:16], "
    "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
)


@_q(
    "q_matryoshka_rerank",
    f"""
    WITH qs AS (SELECT vec_id AS query_id, embedding AS q_embedding
                FROM embeddings WHERE vec_id < 8),
    s1 AS (
      SELECT q.query_id, e.vec_id, e.embedding, q.q_embedding,
             round({_MATRYOSHKA_PRE_DOT}
                   / ({_MATRYOSHKA_PRE_NE} * {_MATRYOSHKA_PRE_NQ}), 5)
               AS prefix_sim
      FROM embeddings e CROSS JOIN qs q
      WHERE e.vec_id <> q.query_id
    ),
    short AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                     ORDER BY prefix_sim DESC, vec_id) AS srn
        FROM s1) WHERE srn <= 20
    ),
    r2 AS (
      SELECT query_id, vec_id, prefix_sim,
             round({_DOT_SQL.replace("q.q_embedding", "short.q_embedding")
                           .replace("e.embedding", "short.embedding")}
                   / ({_NORM_E_SQL.replace("e.embedding", "short.embedding")}
                      * {_NORM_Q_SQL.replace("q.q_embedding",
                                             "short.q_embedding")}), 5)
               AS cosine_sim
      FROM short
    )
    SELECT query_id, vec_id, prefix_sim, cosine_sim,
           CAST(rank AS INT) AS rank
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                   ORDER BY cosine_sim DESC, vec_id) AS rank
      FROM r2) WHERE rank <= 5
    ORDER BY query_id, rank
    """,
)
def q_matryoshka_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka two-stage retrieval: shortlist-20 per query on the
    FIRST 16 embedding dims only (an MRL prefix is a coarse
    representation — stage 1 reads a quarter of the vector bytes),
    exact full-dim rerank of the shortlist to top-5. The dim-sliced
    sibling of PQ's ADC->exact two-stage; (round5 sim, vec_id) total
    order in both stages
    (operators/similarity.py:matryoshka_rerank)."""
    from kommunedata_data_pipeline_spark.operators.similarity import (
        matryoshka_rerank,
    )

    e = _t(spark, sf_dir, "embeddings")
    qs = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    return matryoshka_rerank(e, qs, prefix_dims=16, shortlist=20, k=5)


@_q(
    "q_luhn_pii",
    """
    WITH c AS (
      SELECT c_nationkey,
             lpad(CAST(c_custkey AS VARCHAR), 12, '0')
               || CAST(c_custkey % 10 AS VARCHAR) AS cand
      FROM customer
    ),
    v AS (
      SELECT c_nationkey,
             list_sum(list_transform(range(1, length(cand) + 1), i ->
               CASE WHEN i % 2 = 0 THEN
                 CASE WHEN CAST(substr(reverse(cand), CAST(i AS INT), 1)
                             AS INT) * 2 > 9
                      THEN CAST(substr(reverse(cand), CAST(i AS INT), 1)
                             AS INT) * 2 - 9
                      ELSE CAST(substr(reverse(cand), CAST(i AS INT), 1)
                             AS INT) * 2 END
               ELSE CAST(substr(reverse(cand), CAST(i AS INT), 1) AS INT)
               END)) % 10 AS checksum
      FROM c
    )
    SELECT CAST(c_nationkey AS INT) AS nationkey,
           CAST(count(*) AS BIGINT) AS n_candidates,
           CAST(sum(CASE WHEN checksum = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_luhn_valid,
           round(sum(CASE WHEN checksum = 0 THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6) AS valid_ratio
    FROM v GROUP BY c_nationkey ORDER BY nationkey
    """,
)
def q_luhn_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checksum-validated identifier detection (the precision upgrade
    over q_pii_scrub's regex-only pass): candidate 13-digit identifiers
    derived from customer keys, validated with the Luhn mod-10 check
    (ISO/IEC 7812 — what separates a real card/IMEI-style number from
    a random digit run), counted per nation. Pure integer expression
    over the reversed digit sequence — no UDF
    (functions/strings.py:luhn_checksum)."""
    from kommunedata_data_pipeline_spark.functions.strings import (
        luhn_checksum,
    )

    c = _t(spark, sf_dir, "customer").select(
        "c_nationkey",
        F.concat(
            F.lpad(F.col("c_custkey").cast("string"), 12, "0"),
            (F.col("c_custkey") % 10).cast("string"),
        ).alias("cand"),
    )
    valid = (luhn_checksum(F.col("cand")) == 0).cast("int")
    return (
        c.groupBy(F.col("c_nationkey").cast("int").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
            F.sum(valid).cast("bigint").alias("n_luhn_valid"),
        )
        .withColumn(
            "valid_ratio",
            F.round(F.col("n_luhn_valid") / F.col("n_candidates"), 6),
        )
        .orderBy("nationkey")
    )


@_q(
    "q_zone_map_skip",
    """
    WITH f1 AS (SELECT o_orderkey // 4096 AS fid, o_orderdate AS v
                FROM orders),
    g1 AS (SELECT fid, count(*) AS n_rows, min(v) AS f_min, max(v) AS f_max
           FROM f1 GROUP BY fid),
    a1 AS (
      SELECT 'by_key' AS layout,
             CAST(count(*) AS BIGINT) AS n_files,
             CAST(sum(CASE WHEN f_max < TIMESTAMP '1997-01-01 00:00:00'
                        OR f_min > TIMESTAMP '1997-12-31 23:59:59'
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_files_skipped,
             CAST(sum(n_rows) AS BIGINT) AS n_rows,
             CAST(sum(CASE WHEN f_max < TIMESTAMP '1997-01-01 00:00:00'
                        OR f_min > TIMESTAMP '1997-12-31 23:59:59'
                      THEN n_rows ELSE 0 END) AS BIGINT) AS n_rows_skipped
      FROM g1
    ),
    f2 AS (SELECT year(o_orderdate) * 12 + month(o_orderdate) AS fid,
                  o_orderdate AS v
           FROM orders),
    g2 AS (SELECT fid, count(*) AS n_rows, min(v) AS f_min, max(v) AS f_max
           FROM f2 GROUP BY fid),
    a2 AS (
      SELECT 'by_date' AS layout,
             CAST(count(*) AS BIGINT) AS n_files,
             CAST(sum(CASE WHEN f_max < TIMESTAMP '1997-01-01 00:00:00'
                        OR f_min > TIMESTAMP '1997-12-31 23:59:59'
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_files_skipped,
             CAST(sum(n_rows) AS BIGINT) AS n_rows,
             CAST(sum(CASE WHEN f_max < TIMESTAMP '1997-01-01 00:00:00'
                        OR f_min > TIMESTAMP '1997-12-31 23:59:59'
                      THEN n_rows ELSE 0 END) AS BIGINT) AS n_rows_skipped
      FROM g2
    )
    SELECT layout, n_files, n_files_skipped, n_rows, n_rows_skipped,
           round(n_rows_skipped / CAST(n_rows AS DOUBLE), 6)
             AS row_skip_ratio
    FROM (SELECT * FROM a1 UNION ALL SELECT * FROM a2)
    ORDER BY layout
    """,
)
def q_zone_map_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (min/max file-statistics) pruning audit: for two
    candidate physical layouts of the orders table — key-clustered
    (insertion order) vs date-clustered files — how many files/rows a
    one-year date predicate could skip on footer stats alone. The
    measurement behind every sort-key/partition/Z-order decision:
    skip_ratio IS the scan cost saved at 100 TB, and the key-clustered
    layout prunes ~nothing because every file straddles the date range
    (operators/layout.py:zone_map_skip_stats)."""
    from kommunedata_data_pipeline_spark.operators.layout import (
        zone_map_skip_stats,
    )

    o = _t(spark, sf_dir, "orders")
    return zone_map_skip_stats(
        o,
        {
            "by_key": F.floor(F.col("o_orderkey") / 4096),
            "by_date": F.year("o_orderdate") * 12 + F.month("o_orderdate"),
        },
        "o_orderdate",
        F.lit("1997-01-01 00:00:00").cast("timestamp"),
        F.lit("1997-12-31 23:59:59").cast("timestamp"),
    )


@_q(
    "q_padding_waste",
    f"""
    WITH t AS (SELECT len({_TOKS_SQL}) AS n FROM documents),
    b AS (
      SELECT n,
             CASE WHEN n <= 64 THEN 64 WHEN n <= 128 THEN 128
                  WHEN n <= 256 THEN 256 WHEN n <= 512 THEN 512
                  WHEN n <= 1024 THEN 1024 ELSE 2048 END AS bucket
      FROM t
    ),
    g AS (
      SELECT CAST(bucket AS BIGINT) AS bucket,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n) AS BIGINT) AS n_tokens,
             CAST(sum(bucket - least(n, bucket)) AS BIGINT) AS n_padding,
             CAST(sum(n - least(n, bucket)) AS BIGINT) AS n_truncated
      FROM b GROUP BY bucket
    )
    SELECT bucket, n_docs, n_tokens, n_padding, n_truncated,
           round(n_padding / CAST(n_docs * bucket AS DOUBLE), 6)
             AS pad_ratio
    FROM g ORDER BY bucket
    """,
)
def q_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching audit: per power-of-two bucket, the
    padding tokens a fixed-length batcher burns and the truncation
    loss beyond the largest bucket — the measurement that justifies
    (or kills) sequence packing vs plain bucketing. Pure integer CASE
    chain + one combinable aggregate
    (operators/sampling.py:padding_waste)."""
    from kommunedata_data_pipeline_spark.operators.sampling import (
        padding_waste,
    )

    return padding_waste(_t(spark, sf_dir, "documents"))


@_q(
    "q_negative_sampling",
    f"""
    WITH toks AS (SELECT unnest({_TOKS_SQL}) AS token FROM documents),
    v AS (
      SELECT token, CAST(count(*) AS BIGINT) AS cnt
      FROM toks GROUP BY token
      ORDER BY cnt DESC, token LIMIT 50
    ),
    p AS (
      SELECT token, cnt,
             CAST(floor(1e9 * pow(CAST(cnt AS DOUBLE), 0.75)) AS BIGINT)
               AS p9
      FROM v
    ),
    s AS (SELECT CAST(sum(p9) AS BIGINT) AS tot9 FROM p)
    SELECT token, cnt,
           CAST((p9 * CAST(1000000 AS BIGINT)) // tot9 AS BIGINT)
             AS quota_micro
    FROM p CROSS JOIN s
    ORDER BY cnt DESC, token
    """,
)
def q_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word2vec negative-sampling distribution: top-50 vocab with
    quota ∝ count^0.75 (Mikolov's Zipf-head smoothing), integerized
    to floor(1e9·c^α) BEFORE the normalizing sum so the quota is pure
    integer division — the alias-sampler input table a trainer builds
    (operators/sampling.py:negative_sampling_table)."""
    from kommunedata_data_pipeline_spark.operators.sampling import (
        negative_sampling_table,
    )

    return negative_sampling_table(_t(spark, sf_dir, "documents"))


@_q(
    "q_label_propagation",
    f"""
    WITH RECURSIVE {_LSH_PAIRS_CTES},
    edges AS MATERIALIZED (
      SELECT doc_a AS src, doc_b AS dst FROM lsh_pairs
      UNION
      SELECT doc_b, doc_a FROM lsh_pairs
    ),
    l0 AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN lang END AS label,
             CASE WHEN doc_id % 3 = 0 THEN 0 END AS round_assigned
      FROM documents
    ),
    v1 AS (
      SELECT e.src AS doc_id, l.label, count(*) AS n
      FROM edges e JOIN l0 l ON l.doc_id = e.dst
      WHERE l.label IS NOT NULL GROUP BY e.src, l.label
    ),
    w1 AS (
      SELECT doc_id, label AS new_label FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                    ORDER BY n DESC, label) AS rn FROM v1) WHERE rn = 1
    ),
    l1 AS (
      SELECT l0.doc_id,
             coalesce(l0.label, w1.new_label) AS label,
             coalesce(l0.round_assigned,
                      CASE WHEN w1.new_label IS NOT NULL THEN 1 END)
               AS round_assigned
      FROM l0 LEFT JOIN w1 ON w1.doc_id = l0.doc_id
    ),
    v2 AS (
      SELECT e.src AS doc_id, l.label, count(*) AS n
      FROM edges e JOIN l1 l ON l.doc_id = e.dst
      WHERE l.label IS NOT NULL GROUP BY e.src, l.label
    ),
    w2 AS (
      SELECT doc_id, label AS new_label FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                    ORDER BY n DESC, label) AS rn FROM v2) WHERE rn = 1
    )
    SELECT l1.doc_id,
           coalesce(l1.label, w2.new_label) AS label,
           CAST(coalesce(l1.round_assigned,
                    CASE WHEN w2.new_label IS NOT NULL THEN 2 END)
             AS INT) AS round_assigned
    FROM l1 LEFT JOIN w2 ON w2.doc_id = l1.doc_id
    """,
)
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label propagation over the MinHash-LSH near-dup
    graph: docs with doc_id%3=0 are audited seeds (their lang label),
    two synchronous majority-vote rounds spread labels to unlabeled
    neighbours (count DESC, label ASC total order — engine-identical
    rounds); the curation move that amplifies a small audited label
    set across near-duplicates (operators/graph.py:label_propagation)."""
    from kommunedata_data_pipeline_spark.operators.graph import (
        label_propagation,
    )

    d = _t(spark, sf_dir, "documents")
    nodes = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, F.col("lang")).alias("seed_label"),
    )
    return label_propagation(nodes, minhash_lsh_pairs(d, 3, 16, 4, 0.5), 2)


def _kcenter_oracle_sql(k: int = 5) -> str:
    """Unrolled greedy k-center in DuckDB: round i computes every
    vector's min integer-micro distance to the selected set s_{{i-1}}
    (correlated scalar subquery) and picks the (max mind, min vec_id)
    row. Generated by loop so the per-round SQL cannot drift between
    rounds."""
    d2 = _pq_d2u_sql("e.embedding", "s.embedding", 64)
    parts = [
        """c1 AS (SELECT vec_id, embedding, 1 AS pick,
              CAST(NULL AS BIGINT) AS radius_micro
       FROM embeddings WHERE vec_id = (SELECT min(vec_id) FROM embeddings)),
    s1 AS (SELECT vec_id, embedding FROM c1)"""
    ]
    for i in range(2, k + 1):
        parts.append(
            f"""m{i} AS (
      SELECT e.vec_id, min({d2}) AS mind
      FROM embeddings e, s{i - 1} s
      WHERE e.vec_id NOT IN (SELECT vec_id FROM s{i - 1})
      GROUP BY e.vec_id),
    c{i} AS (
      SELECT emb.vec_id, emb.embedding, {i} AS pick, m.mind AS radius_micro
      FROM (SELECT vec_id, mind FROM m{i}
            ORDER BY mind DESC, vec_id LIMIT 1) m
      JOIN embeddings emb USING (vec_id)),
    s{i} AS (SELECT vec_id, embedding FROM s{i - 1}
             UNION ALL SELECT vec_id, embedding FROM c{i})"""
        )
    union = " UNION ALL ".join(
        f"SELECT pick, vec_id, radius_micro FROM c{i}" for i in range(1, k + 1)
    )
    return (
        "\n    WITH "
        + ",\n    ".join(parts)
        + f"\n    SELECT CAST(pick AS INT) AS pick, vec_id, radius_micro"
        + f"\n    FROM ({union}) ORDER BY pick\n    "
    )


@_q("q_kcenter_coreset", _kcenter_oracle_sql(5))
def q_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset (Gonzalez farthest-point traversal,
    k=5): the diversity-selection dual of semantic dedup — pick the
    maximally spread embedding subset (annotation-budget / active-
    learning selection). Integer-micro distances end to end, so both
    engines replay the identical greedy trajectory; each round is one
    map-side corpus pass against a broadcast <=k center set
    (operators/similarity.py:kcenter_coreset)."""
    from kommunedata_data_pipeline_spark.operators.similarity import (
        kcenter_coreset,
    )

    return kcenter_coreset(_t(spark, sf_dir, "embeddings"), k=5)


_QROUTE_RULES_SQL = """
      SELECT doc_id, length(text) AS n_chars,
             CASE WHEN len(w) < 5 THEN 'min_tokens'
                  WHEN length(text) < 20 THEN 'min_chars'
                  WHEN 5 * len(list_distinct(w)) < 2 * len(w)
                    THEN 'repetition' END AS reason
      FROM (SELECT doc_id, text,
                   list_filter(string_split_regex(lower(text), '\\s+'),
                               x -> x <> '') AS w
            FROM documents)
"""


@_q(
    "q_stream_quality_route",
    f"""
    WITH r AS ({_QROUTE_RULES_SQL})
    SELECT doc_id, n_chars,
           CASE WHEN reason IS NULL THEN 'kept' ELSE 'dead_letter' END
             AS route,
           reason
    FROM r ORDER BY doc_id
    """,
)
def q_stream_quality_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING quality gate with a dead-letter side output: the doc
    corpus arrives as a 3-batch file stream; each micro-batch routes
    kept docs to the landing sink and rule-failing docs to a reject
    sink WITH the first failing rule as the reason (the reference's
    dead-letter discipline, C5/S18, made streaming). Stateless, so
    batching provably cannot change either landed set; both sinks are
    exactly-once (streaming/ingest.py:quality_route_ingest)."""
    from kommunedata_data_pipeline_spark.streaming.ingest import (
        QUALITY_KEPT_SCHEMA,
        QUALITY_REJECTS_SCHEMA,
        quality_route_ingest,
    )

    def routed(base: str) -> DataFrame:
        kept = spark.read.schema(QUALITY_KEPT_SCHEMA).parquet(f"{base}/kept")
        rejects = spark.read.schema(QUALITY_REJECTS_SCHEMA).parquet(
            f"{base}/rejects"
        )
        return kept.select(
            "doc_id",
            "n_chars",
            F.lit("kept").alias("route"),
            F.lit(None).cast("string").alias("reason"),
        ).unionAll(
            rejects.select(
                "doc_id",
                "n_chars",
                F.lit("dead_letter").alias("route"),
                "reason",
            )
        )

    return _drain_ingest(
        spark,
        "q_stream_quality_route",
        _t(spark, sf_dir, "documents").select("doc_id", "text"),
        lambda stream, base: quality_route_ingest(
            stream, f"{base}/kept", f"{base}/rejects"
        ),
        routed,
    ).orderBy("doc_id")


@_q(
    "q_stream_state_metrics",
    """
    SELECT 'dedup' AS stream, 'dedupe' AS operator,
           CAST(count(DISTINCT event_id) AS BIGINT) AS state_rows,
           CAST(count(DISTINCT event_id) AS BIGINT) AS rows_updated
    FROM events
    UNION ALL
    SELECT 'tumbling' AS stream, 'stateStoreSave' AS operator, n, n
    FROM (
      SELECT CAST(count(*) AS BIGINT) AS n FROM (
        SELECT DISTINCT
               time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)),
               event_type
        FROM events)
    )
    ORDER BY stream, operator
    """,
)
def q_stream_state_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-store observability as a query (the 100 TB streaming
    health check): drive the two canonical stateful shapes — a
    watermarked dropDuplicates and a tumbling windowed agg in update
    mode — over the events file source, then surface the engine's own
    per-operator state metrics (StreamingQueryProgress.stateOperators)
    for the final data batch. With a watermark wider than the corpus's
    time span nothing evicts, so state_rows/rows_updated are EXACTLY
    the batch-SQL distinct-key counts — the oracle pins that the
    reported telemetry equals ground truth, which is precisely what an
    operator trusts it for (streaming/observability.py)."""
    from kommunedata_data_pipeline_spark.streaming.observability import (
        state_store_metrics,
    )

    return state_store_metrics(spark, sf_dir)


@_q(
    "q_rank_sum_test",
    """
    WITH g AS (
      SELECT n_chars AS s, count(*) AS cnt,
             sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c1
      FROM documents GROUP BY n_chars
    ),
    r AS (
      SELECT s, cnt, c1,
             2 * coalesce(sum(cnt) OVER (ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + cnt + 1 AS rank2
      FROM g
    ),
    a AS (
      SELECT CAST(sum(cnt - c1) AS BIGINT) AS n0,
             CAST(sum(c1) AS BIGINT) AS n1,
             CAST(sum(c1 * rank2) AS BIGINT) AS r1_2,
             CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS tie3
      FROM r
    )
    SELECT n0, n1,
           round(r1_2 / 2.0 - n1 * (n1 + 1) / 2.0, 1) AS u1,
           round(CASE WHEN n0 > 0 AND n1 > 0 AND
                 (n0 * n1 / 12.0 * (((n0 + n1) + 1)
                    - tie3 / ((n0 + n1) * ((n0 + n1) - 1)))) > 0
                 THEN ((r1_2 / 2.0 - n1 * (n1 + 1) / 2.0)
                       - n0 * n1 / 2.0)
                      / sqrt(n0 * n1 / 12.0 * (((n0 + n1) + 1)
                          - tie3 / ((n0 + n1) * ((n0 + n1) - 1))))
                 END, 4) AS z
    FROM a
    """,
)
def q_rank_sum_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test (tie-corrected normal
    approximation): does the en-language length distribution
    stochastically dominate the rest? The nonparametric A/B sibling of
    q_ab_ztest — doubled-integer average ranks over the distinct-score
    bucket table, exact BIGINT tie correction, one sqrt at the end
    (operators/statistics.py:rank_sum_test)."""
    from kommunedata_data_pipeline_spark.operators.statistics import (
        rank_sum_test,
    )

    d = _t(spark, sf_dir, "documents").select(
        F.col("n_chars").alias("score"),
        (F.col("lang") == "en").cast("int").alias("grp"),
    )
    return rank_sum_test(d, "score", "grp")


@_q(
    "q_freshness_weights",
    """
    WITH mx AS (SELECT max(CAST(ts AS DATE)) AS mxd FROM events),
    aged AS (
      SELECT event_type, datediff('day', CAST(ts AS DATE), mxd) AS age
      FROM events CROSS JOIN mx
    ),
    pa AS (SELECT event_type, age, CAST(count(*) AS BIGINT) AS n
           FROM aged GROUP BY event_type, age),
    pw AS (
      SELECT event_type, n,
             CAST(floor(1e9 * pow(2.0, -CAST(age AS DOUBLE) / 30.0))
               AS BIGINT) AS w9
      FROM pa
    ),
    pt AS (
      SELECT event_type, CAST(sum(n) AS BIGINT) AS n_events,
             CAST(sum(n * w9) AS BIGINT) AS wsum9
      FROM pw GROUP BY event_type
    ),
    t AS (SELECT CAST(sum(wsum9) AS BIGINT) AS tot9 FROM pt)
    SELECT event_type, n_events, wsum9 AS weight_sum_micro9,
           round(wsum9 / tot9, 6) AS share
    FROM pt CROSS JOIN t ORDER BY event_type
    """,
)
def q_freshness_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-decayed sampling quotas per event type: weight
    2^(-age_days/30) relative to the newest event, integerized BEFORE
    summation (floor(1e9·w), pow once per distinct age) — the
    "prefer recent data" mixing step, exact in both engines
    (operators/timeseries.py:freshness_weights)."""
    from kommunedata_data_pipeline_spark.operators.timeseries import (
        freshness_weights,
    )

    return freshness_weights(_t(spark, sf_dir, "events"), half_life_days=30)


@_q(
    "q_stratified_kfold",
    """
    WITH s AS (
      SELECT lang AS stratum, doc_id AS rid,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               AS h
      FROM documents
    ),
    r AS (
      SELECT stratum,
             row_number() OVER (PARTITION BY stratum ORDER BY h, rid) - 1
               AS rnk
      FROM s
    )
    SELECT stratum, CAST(rnk % 5 AS INT) AS fold,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM r GROUP BY stratum, fold ORDER BY stratum, fold
    """,
)
def q_stratified_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified 5-fold assignment: hash-ordered round-robin within
    every language stratum, so each fold carries the corpus class
    balance and per-stratum fold sizes differ by at most 1. The
    within-stratum rank derives from ONE ranged_global_rank over
    (stratum, hash, id) — no per-stratum single-task window even under
    stratum skew (operators/sampling.py:stratified_kfold)."""
    from kommunedata_data_pipeline_spark.operators.sampling import (
        stratified_kfold,
    )

    return stratified_kfold(_t(spark, sf_dir, "documents"), "lang", k=5)


@_q(
    "q_partition_skew",
    """
    WITH b1 AS (
      SELECT ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 8))::BIGINT
               % 32 AS bucket
      FROM orders
    ),
    g1 AS (SELECT bucket, count(*) AS n FROM b1 GROUP BY bucket),
    a1 AS (
      SELECT 'o_custkey' AS key_name,
             CAST(sum(n) AS BIGINT) AS n_rows,
             CAST(count(*) AS BIGINT) AS n_buckets_hit,
             CAST(max(n) AS BIGINT) AS max_bucket
      FROM g1
    ),
    b2 AS (
      SELECT ('0x' || substr(md5(CAST(o_orderstatus AS VARCHAR)), 1, 8))::BIGINT
               % 32 AS bucket
      FROM orders
    ),
    g2 AS (SELECT bucket, count(*) AS n FROM b2 GROUP BY bucket),
    a2 AS (
      SELECT 'o_orderstatus' AS key_name,
             CAST(sum(n) AS BIGINT) AS n_rows,
             CAST(count(*) AS BIGINT) AS n_buckets_hit,
             CAST(max(n) AS BIGINT) AS max_bucket
      FROM g2
    )
    SELECT key_name, n_rows, n_buckets_hit, max_bucket,
           round(max_bucket / (n_rows / CAST(n_buckets_hit AS DOUBLE)), 6)
             AS skew_ratio,
           round(max_bucket / CAST(n_rows AS DOUBLE), 6) AS top_share
    FROM (SELECT * FROM a1 UNION ALL SELECT * FROM a2)
    ORDER BY key_name
    """,
)
def q_partition_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew audit: hash-bucket occupancy (max/mean ratio,
    top-bucket share) for two candidate join/agg keys — the
    high-cardinality o_custkey shards evenly while the 3-value
    o_orderstatus serializes one reducer; the measurement behind every
    salting / AQE-skew decision
    (operators/layout.py:partition_skew_audit)."""
    from kommunedata_data_pipeline_spark.operators.layout import (
        partition_skew_audit,
    )

    o = _t(spark, sf_dir, "orders")
    return partition_skew_audit(
        o,
        {
            "o_custkey": F.col("o_custkey"),
            "o_orderstatus": F.col("o_orderstatus"),
        },
        n_buckets=32,
    )


@_q(
    "q_dict_encoding_audit",
    """
    WITH c1 AS (
      SELECT CAST(o_orderpriority AS VARCHAR) AS v FROM orders
    ),
    p1 AS (SELECT v, count(*) AS n FROM c1 GROUP BY v),
    a1 AS (
      SELECT 'o_orderpriority' AS column,
             CAST(sum(n) AS BIGINT) AS n_rows,
             CAST(count(*) AS BIGINT) AS n_distinct,
             CAST(sum(length(v) * n) AS BIGINT) AS raw_bytes,
             CAST(sum(length(v)) + 4 * sum(n) AS BIGINT) AS dict_bytes
      FROM p1
    ),
    c2 AS (SELECT CAST(o_orderkey AS VARCHAR) AS v FROM orders),
    p2 AS (SELECT v, count(*) AS n FROM c2 GROUP BY v),
    a2 AS (
      SELECT 'o_orderkey' AS column,
             CAST(sum(n) AS BIGINT) AS n_rows,
             CAST(count(*) AS BIGINT) AS n_distinct,
             CAST(sum(length(v) * n) AS BIGINT) AS raw_bytes,
             CAST(sum(length(v)) + 4 * sum(n) AS BIGINT) AS dict_bytes
      FROM p2
    )
    SELECT "column", n_rows, n_distinct, raw_bytes, dict_bytes,
           round(dict_bytes / CAST(raw_bytes AS DOUBLE), 6) AS est_ratio
    FROM (SELECT * FROM a1 UNION ALL SELECT * FROM a2)
    ORDER BY "column"
    """,
)
def q_dict_encoding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary-encodability audit: exact cardinality + estimated
    dict-encoding ratio per column — the 5-value o_orderpriority
    dict-encodes to a fraction of raw bytes while the unique
    o_orderkey would EXPAND under a dictionary; the storage-layout
    decision next to zone maps and Z-order
    (operators/layout.py:dict_encoding_audit)."""
    from kommunedata_data_pipeline_spark.operators.layout import (
        dict_encoding_audit,
    )

    return dict_encoding_audit(
        _t(spark, sf_dir, "orders"), ["o_orderpriority", "o_orderkey"]
    )


@_q(
    "q_delete_amplification",
    """
    WITH f1 AS (
      SELECT CAST(ts AS DATE) AS fid,
             CASE WHEN user_id % 97 = 0 THEN 1 ELSE 0 END AS is_del
      FROM events
    ),
    g1 AS (SELECT fid, count(*) AS n_rows, sum(is_del) AS n_del
           FROM f1 GROUP BY fid),
    a1 AS (
      SELECT 'by_date' AS layout,
             CAST(count(*) AS BIGINT) AS n_files,
             CAST(sum(CASE WHEN n_del > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_files_touched,
             CAST(sum(n_rows) AS BIGINT) AS n_rows,
             CAST(sum(n_del) AS BIGINT) AS n_rows_deleted,
             CAST(sum(CASE WHEN n_del > 0 THEN n_rows - n_del ELSE 0 END)
               AS BIGINT) AS n_rows_rewritten
      FROM g1
    ),
    f2 AS (
      SELECT user_id // 256 AS fid,
             CASE WHEN user_id % 97 = 0 THEN 1 ELSE 0 END AS is_del
      FROM events
    ),
    g2 AS (SELECT fid, count(*) AS n_rows, sum(is_del) AS n_del
           FROM f2 GROUP BY fid),
    a2 AS (
      SELECT 'by_user' AS layout,
             CAST(count(*) AS BIGINT) AS n_files,
             CAST(sum(CASE WHEN n_del > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_files_touched,
             CAST(sum(n_rows) AS BIGINT) AS n_rows,
             CAST(sum(n_del) AS BIGINT) AS n_rows_deleted,
             CAST(sum(CASE WHEN n_del > 0 THEN n_rows - n_del ELSE 0 END)
               AS BIGINT) AS n_rows_rewritten
      FROM g2
    )
    SELECT layout, n_files, n_files_touched, n_rows, n_rows_deleted,
           n_rows_rewritten,
           round(n_rows_rewritten / CAST(n_rows_deleted AS DOUBLE), 6)
             AS amplification
    FROM (SELECT * FROM a1 UNION ALL SELECT * FROM a2)
    ORDER BY layout
    """,
)
def q_delete_amplification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten cost audit: copy-on-write delete of one
    user cohort (user_id % 97 = 0) against two physical layouts —
    date-clustered files are ALL touched (every file holds every
    user's rows; amplification = rewrite nearly the whole table) while
    user-clustered files confine the rewrite to the deleted users'
    own files. The clustering-by-delete-key / deletion-vector decision
    measurement (operators/layout.py:delete_amplification_audit)."""
    from kommunedata_data_pipeline_spark.operators.layout import (
        delete_amplification_audit,
    )

    e = _t(spark, sf_dir, "events")
    return delete_amplification_audit(
        e,
        F.col("user_id") % 97 == 0,
        {
            "by_date": F.to_date(F.col("ts")),
            "by_user": F.floor(F.col("user_id") / 256),
        },
    )


@_q(
    "q_gmm_em_step",
    f"""
    WITH g AS (
      SELECT n_chars AS x, CAST(count(*) AS BIGINT) AS cnt
      FROM documents GROUP BY n_chars
    ),
    r AS (
      SELECT x, cnt,
             CAST(floor(1e6 / (1.0 + exp(-(
               ((CAST(x AS DOUBLE) - 500.0) * (CAST(x AS DOUBLE) - 500.0)
                - (CAST(x AS DOUBLE) - 1500.0) * (CAST(x AS DOUBLE) - 1500.0))
               / (2.0 * 400.0 * 400.0) + ln(1.0))))) AS BIGINT) AS r6
      FROM g
    ),
    a AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS n,
             CAST(sum(cnt * r6) AS BIGINT) AS sr,
             CAST(sum(cnt * r6 * x) AS BIGINT) AS srx,
             CAST(sum(cnt * (1000000 - r6)) AS BIGINT) AS sq,
             CAST(sum(cnt * (1000000 - r6) * x) AS BIGINT) AS sqx
      FROM r
    )
    SELECT n,
           round(sqx / CAST(sq AS DOUBLE), 6) AS mu0_new,
           round(srx / CAST(sr AS DOUBLE), 6) AS mu1_new,
           round(sr / (1e6 * n), 6) AS pi1_new
    FROM a
    """,
)
def q_gmm_em_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One EM step of a two-component equal-variance Gaussian mixture
    over document lengths (mu 500/1500, sigma 400, pi 0.5) — the
    soft-assignment member of the trainer-step family next to
    q_kmeans_step (hard) and q_logreg_step (supervised):
    responsibilities via the logistic identity ONCE per distinct
    length, integerized to floor(1e6 r) BEFORE the weighted M-step
    sums (operators/statistics.py:gmm_em_step)."""
    from kommunedata_data_pipeline_spark.operators.statistics import (
        gmm_em_step,
    )

    d = _t(spark, sf_dir, "documents")
    return gmm_em_step(d, "n_chars", mu0=500.0, mu1=1500.0, sigma=400.0)


@_q(
    "q_ngram_lang_id",
    f"""
    WITH norm AS (
      SELECT doc_id, lang, doc_id % 3 = 0 AS seed, {_NORM_SQL} AS t
      FROM documents
    ),
    tr AS (
      SELECT doc_id, lang, seed,
             list_distinct(CASE WHEN length(t) >= 3
               THEN list_transform(range(1, length(t) - 1),
                                   i -> substr(t, CAST(i AS INT), 3))
               ELSE [t] END) AS tris
      FROM norm
    ),
    st AS (SELECT lang, unnest(tris) AS tri FROM tr WHERE seed),
    pc AS (SELECT lang, tri, count(*) AS cnt FROM st GROUP BY lang, tri),
    prof AS (
      SELECT lang AS p_lang, tri FROM (
        SELECT *, row_number() OVER (PARTITION BY lang
                    ORDER BY cnt DESC, tri) AS rn
        FROM pc) WHERE rn <= 50
    ),
    tt AS (SELECT doc_id, lang, unnest(tris) AS tri FROM tr WHERE NOT seed),
    sc AS (SELECT doc_id, lang, p_lang, count(*) AS score
           FROM tt JOIN prof USING (tri) GROUP BY doc_id, lang, p_lang),
    best AS (
      SELECT doc_id, p_lang AS predicted FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                    ORDER BY score DESC, p_lang) AS rn
        FROM sc) WHERE rn = 1
    ),
    lab AS (
      SELECT t.doc_id, t.lang, coalesce(b.predicted, 'unknown') AS predicted
      FROM (SELECT doc_id, lang FROM tr WHERE NOT seed) t
      LEFT JOIN best b ON b.doc_id = t.doc_id
    )
    SELECT lang, predicted, CAST(count(*) AS BIGINT) AS n
    FROM lab GROUP BY lang, predicted ORDER BY lang, predicted
    """,
)
def q_ngram_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram language ID (Cavnar-Trenkle profiles): top-50
    trigram profiles from the labeled seed third of the corpus,
    distinct-overlap argmax classification of the rest, confusion
    table vs true labels — the published n-gram upgrade over the
    stopword-voting heuristic (q_lang_guess), same broadcast-profile
    plan shape (operators/corpus.py:ngram_lang_id)."""
    from kommunedata_data_pipeline_spark.operators.corpus import (
        ngram_lang_id,
    )

    return ngram_lang_id(
        _t(spark, sf_dir, "documents"), F.col("doc_id") % 3 == 0
    )


def _mmr_oracle_sql(lam: float = 0.7, shortlist: int = 20, k: int = 5) -> str:
    """Unrolled greedy MMR in DuckDB (loop-generated, the kcenter
    discipline). The redundancy complement embeds repr(1-lam) so the
    double constant is bit-identical to Spark's F.lit(1.0 - lam)."""
    cos = f"round({_DOT_SQL} / ({_NORM_E_SQL} * {_NORM_Q_SQL}), 5)"
    cos_ab = (
        "round(list_sum(list_transform(range(1, len(a.embedding) + 1), "
        "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))"
        " / (sqrt(list_sum(list_transform(a.embedding, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * "
        "sqrt(list_sum(list_transform(b.embedding, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 5)"
    )
    parts = [
        f"""qs AS (SELECT vec_id AS query_id, embedding AS q_embedding
       FROM embeddings WHERE vec_id < 8),
    sc AS (
      SELECT q.query_id, e.vec_id, e.embedding, {cos} AS sim
      FROM embeddings e CROSS JOIN qs q WHERE e.vec_id <> q.query_id),
    cands AS (
      SELECT query_id, vec_id, embedding, sim FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY sim DESC, vec_id) AS srn
        FROM sc) WHERE srn <= {shortlist}),
    pair AS (
      SELECT a.query_id, a.vec_id AS va, b.vec_id AS vb, {cos_ab} AS sim_ab
      FROM cands a JOIN cands b
        ON a.query_id = b.query_id AND a.vec_id <> b.vec_id),
    c1 AS (
      SELECT query_id, vec_id, sim AS cosine_sim, sim AS mmr_score, 1 AS rank
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY sim DESC, vec_id) AS rn
            FROM cands) WHERE rn = 1),
    sel1 AS (SELECT query_id, vec_id FROM c1)"""
    ]
    for i in range(2, k + 1):
        parts.append(
            f"""m{i} AS (
      SELECT c.query_id, c.vec_id, c.sim,
             {lam!r} * c.sim - {1.0 - lam!r} * max(p.sim_ab) AS mmr
      FROM cands c
      JOIN pair p ON p.query_id = c.query_id AND p.va = c.vec_id
      JOIN sel{i - 1} s ON s.query_id = p.query_id AND s.vec_id = p.vb
      WHERE NOT EXISTS (SELECT 1 FROM sel{i - 1} s2
                        WHERE s2.query_id = c.query_id
                          AND s2.vec_id = c.vec_id)
      GROUP BY c.query_id, c.vec_id, c.sim),
    c{i} AS (
      SELECT query_id, vec_id, sim AS cosine_sim,
             round(mmr, 5) AS mmr_score, {i} AS rank
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY mmr DESC, vec_id) AS rn
            FROM m{i}) WHERE rn = 1),
    sel{i} AS (SELECT query_id, vec_id FROM sel{i - 1}
               UNION ALL SELECT query_id, vec_id FROM c{i})"""
        )
    union = " UNION ALL ".join(
        f"SELECT query_id, vec_id, cosine_sim, mmr_score, rank FROM c{i}"
        for i in range(1, k + 1)
    )
    return (
        "\n    WITH "
        + ",\n    ".join(parts)
        + "\n    SELECT query_id, vec_id, cosine_sim, mmr_score,"
        + "\n           CAST(rank AS INT) AS rank"
        + f"\n    FROM ({union}) ORDER BY query_id, rank\n    "
    )


@_q("q_mmr_rerank", _mmr_oracle_sql(0.7, 20, 5))
def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance diversity re-rank (Carbonell &
    Goldstein): per query, greedy top-5 maximizing 0.7 relevance -
    0.3 redundancy over a cosine top-20 shortlist — the re-rank that
    stops near-dup-heavy retrieval returning five copies of one
    paragraph. One corpus-sized shortlist stage; every MMR round runs
    on the constant-size shortlist pair table; round5/vec_id total
    order in both engines (operators/similarity.py:mmr_rerank)."""
    from kommunedata_data_pipeline_spark.operators.similarity import (
        mmr_rerank,
    )

    e = _t(spark, sf_dir, "embeddings")
    qs = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    return mmr_rerank(e, qs, lam=0.7, shortlist=20, k=5)


_ER_CC_CTES = """s AS (
      SELECT c_custkey AS sid, c_name AS str, length(c_name) AS n
      FROM customer
    ),
    vi AS (SELECT sid, str, unnest(range(0, n + 1)) AS i FROM s),
    v AS (
      SELECT DISTINCT sid,
             CASE WHEN i = 0 THEN str
                  ELSE substr(str, 1, CAST(i AS INT) - 1)
                       || substr(str, CAST(i AS INT) + 1)
             END AS var
      FROM vi
    ),
    cand AS (
      SELECT DISTINCT a.sid AS id_a, b.sid AS id_b
      FROM v a JOIN v b ON a.var = b.var AND a.sid < b.sid
    ),
    p AS (
      SELECT id_a, id_b FROM cand
      JOIN s sa ON sa.sid = id_a
      JOIN s sb ON sb.sid = id_b
      JOIN customer ca ON ca.c_custkey = id_a
      JOIN customer cb ON cb.c_custkey = id_b
      WHERE levenshtein(sa.str, sb.str) <= 1
        AND ca.c_mktsegment = cb.c_mktsegment
        AND ca.c_nationkey = cb.c_nationkey
    ),
    edges AS MATERIALIZED (
      SELECT id_a AS src, id_b AS dst FROM p
      UNION
      SELECT id_b, id_a FROM p
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    reach(node, lab) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.src, r.lab FROM edges e JOIN reach r ON e.dst = r.node
    ),
    cc AS (SELECT node, min(lab) AS entity_id FROM reach GROUP BY node),
    lab AS (
      SELECT c_custkey AS rid, coalesce(cc.entity_id, c_custkey) AS entity_id
      FROM customer LEFT JOIN cc ON cc.node = c_custkey
    )"""


@_q(
    "q_golden_record",
    f"""
    WITH RECURSIVE {_ER_CC_CTES}
    SELECT entity_id,
           CAST(count(*) AS BIGINT) AS n_members,
           min(c_name) AS canonical_c_name,
           min(c_mktsegment) AS c_mktsegment,
           min(c_nationkey) AS c_nationkey,
           round(max(c_acctbal), 2) AS max_c_acctbal
    FROM lab JOIN customer ON c_custkey = rid
    GROUP BY entity_id ORDER BY entity_id
    """,
)
def q_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship — the golden-record merge completing the MDM chain
    (record_linkage detects, er_clusters resolves, THIS merges): one
    row per entity with deterministic survivorship rules (min-string
    canonical name, max numeric, agreement attributes carried — every
    member agrees by construction of the match rule)
    (operators/dedup.py:golden_records)."""
    from kommunedata_data_pipeline_spark.operators.dedup import (
        golden_records,
    )

    return golden_records(
        _t(spark, sf_dir, "customer"),
        "c_custkey",
        "c_name",
        agree_cols=("c_mktsegment", "c_nationkey"),
        value_cols=("c_acctbal",),
    )


@_q(
    "q_ann_ndcg",
    f"""
    WITH qs AS (SELECT vec_id AS query_id, embedding AS q_embedding
                FROM embeddings WHERE vec_id < 8),
    ex AS (
      SELECT query_id, vec_id, rank FROM (
        SELECT q.query_id, e.vec_id,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY round({_DOT_SQL} / ({_NORM_E_SQL} * {_NORM_Q_SQL}), 5)
                          DESC, e.vec_id) AS rank
        FROM embeddings e CROSS JOIN qs q
        WHERE e.vec_id <> q.query_id)
      WHERE rank <= 5),
    cents AS (
      SELECT vec_id AS centroid_id, embedding AS c_embedding
      FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
    ),
    asg AS (
      SELECT e.vec_id, e.embedding, c.centroid_id,
             row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY {_ivf_cos_sql('e.embedding', 'c.c_embedding')} DESC,
                        c.centroid_id
             ) AS rn
      FROM embeddings e CROSS JOIN cents c
    ),
    lists AS (SELECT vec_id, embedding, centroid_id FROM asg WHERE rn = 1),
    pr AS (
      SELECT q.query_id, q.q_embedding, c.centroid_id,
             row_number() OVER (
               PARTITION BY q.query_id
               ORDER BY {_ivf_cos_sql('q.q_embedding', 'c.c_embedding')} DESC,
                        c.centroid_id
             ) AS rn
      FROM qs q CROSS JOIN cents c
    ),
    ap AS (
      SELECT query_id, vec_id, rank AS pos FROM (
        SELECT p.query_id, e.vec_id,
               row_number() OVER (PARTITION BY p.query_id
                 ORDER BY {_ivf_cos_sql('e.embedding', 'p.q_embedding')}
                          DESC, e.vec_id) AS rank
        FROM lists e
        JOIN (SELECT query_id, q_embedding, centroid_id FROM pr WHERE rn <= 2) p
          ON e.centroid_id = p.centroid_id
        WHERE e.vec_id <> p.query_id)
      WHERE rank <= 5),
    rel AS (
      SELECT ap.query_id, ap.pos,
             coalesce(6 - ex.rank, 0) AS rel
      FROM ap LEFT JOIN ex
        ON ex.query_id = ap.query_id AND ex.vec_id = ap.vec_id),
    d AS (
      SELECT query_id,
             list_sum(list(CAST(rel AS DOUBLE)
               / log2(CAST(pos AS DOUBLE) + 1) ORDER BY pos)) AS dcg
      FROM rel GROUP BY query_id),
    i AS (
      SELECT list_sum(list_transform(range(1, 6), r ->
               CAST(6 - r AS DOUBLE) / log2(CAST(r AS DOUBLE) + 1)))
        AS idcg)
    SELECT query_id, round(dcg, 6) AS dcg, round(idcg, 6) AS idcg,
           round(dcg / idcg, 6) AS ndcg
    FROM d CROSS JOIN i ORDER BY query_id
    """,
)
def q_ann_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@5 audit of the IVF path vs the exact ranking — the
    position-aware upgrade over q_ann_recall's set overlap (gain
    6−exact_rank, 1/log2(pos+1) discount); DCG/IDCG are SEQUENTIAL
    pos-ordered folds so no unordered float summation exists
    (operators/similarity.py:ann_ndcg_audit)."""
    from kommunedata_data_pipeline_spark.operators.similarity import (
        ann_ndcg_audit,
    )

    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    return ann_ndcg_audit(e, q, 5, n_centroids=16, nprobe=2)


@_q(
    "q_cc_index_update",
    f"""
    WITH RECURSIVE {_LSH_PAIRS_CTES},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM lsh_pairs
      UNION
      SELECT doc_b, doc_a FROM lsh_pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    reach(node, lab) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.src, r.lab FROM edges e JOIN reach r ON e.dst = r.node
    )
    SELECT node AS doc_id, min(lab) AS cluster_id
    FROM reach GROUP BY node
    """,
)
def q_cc_index_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL connected components: the stored label table covers
    the old 80% of the near-dup graph; the 20%-touching pairs arrive
    as a batch and are folded in via label-space contraction (CC runs
    on the batch-sized contracted graph only; the historical edge list
    is never re-read). Oracle = full CC rebuild over the union — the
    update theorem this operator implements
    (operators/dedup.py:cc_index_update)."""
    from kommunedata_data_pipeline_spark.operators.dedup import (
        cc_index_update,
        dup_clusters,
    )

    d = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(d, 3, 16, 4, 0.5).select("doc_a", "doc_b")
    pairs = pairs.localCheckpoint(eager=False)
    old = (F.col("doc_a") % 10 < 8) & (F.col("doc_b") % 10 < 8)
    stored = dup_clusters(pairs.where(old))
    return cc_index_update(stored, pairs.where(~old)).orderBy("doc_id")


@_q(
    "q_tfidf_knn",
    f"""
    WITH norm AS (SELECT doc_id, {_NORM_SQL} AS t FROM documents),
    toks AS (SELECT doc_id, doc_id < 8 AS q, unnest(string_split(t, ' '))
               AS term
             FROM norm),
    tf AS (SELECT doc_id, q, term, count(*) AS tf
           FROM toks WHERE term <> '' GROUP BY doc_id, q, term),
    dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
    nn AS (SELECT count(*) AS n FROM documents),
    idf AS (
      SELECT term, CAST(floor(1e3 * ln(n / df)) AS BIGINT) AS idf3
      FROM dfq CROSS JOIN nn
    ),
    w AS (SELECT doc_id, q, term, tf * idf3 AS w FROM tf JOIN idf USING (term)),
    norms AS (SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS n2
              FROM w GROUP BY doc_id),
    qw AS (SELECT doc_id AS query_id, term, w AS wq FROM w WHERE q),
    dots AS (
      SELECT qw.query_id, w.doc_id, CAST(sum(wq * w.w) AS BIGINT) AS dot
      FROM qw JOIN w USING (term)
      WHERE qw.query_id <> w.doc_id
      GROUP BY qw.query_id, w.doc_id
    ),
    sc AS (
      SELECT d.query_id, d.doc_id,
             round(d.dot / (sqrt(nq.n2) * sqrt(nd.n2)), 5) AS cosine_sim
      FROM dots d
      JOIN norms nq ON nq.doc_id = d.query_id
      JOIN norms nd ON nd.doc_id = d.doc_id
    )
    SELECT query_id, doc_id, cosine_sim, CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY cosine_sim DESC, doc_id) AS rank
          FROM sc)
    WHERE rank <= 5
    ORDER BY query_id, rank
    """,
)
def q_tfidf_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine kNN via the inverted index: milli-integer
    idf weights (ln once per term), integer dot/norms (no unordered
    float sums), ONE term equi-join of the 8 query docs' postings
    against the corpus postings. Registered UNCAPPED: the synthetic
    corpus draws from a 31-term vocabulary, so a df cap is either
    vacuous or empties the posting list — here the tiny query set
    bounds the join instead; the df_cap valve exists in the operator
    for query sets that scale with the corpus
    (operators/retrieval.py:tfidf_knn)."""
    from kommunedata_data_pipeline_spark.operators.retrieval import (
        tfidf_knn,
    )

    return tfidf_knn(
        _t(spark, sf_dir, "documents"), F.col("doc_id") < 8, k=5,
        df_cap=None,
    )


@_q(
    "q_lsh_pr_audit",
    f"""
    WITH RECURSIVE {_LSH_PAIRS_CTES},
    hot AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) > 50),
    shc AS (SELECT doc_id, shingle FROM sh
            WHERE shingle NOT IN (SELECT shingle FROM hot)),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM shc GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM shc a JOIN shc b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT doc_a, doc_b FROM common
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE round(CAST(n_common AS DOUBLE)
                  / (sa.n_sh + sb.n_sh - n_common), 6) >= 0.5
    ),
    pred AS (SELECT doc_a, doc_b FROM lsh_pairs),
    h AS (SELECT count(*) AS n_hit FROM truth
          WHERE EXISTS (SELECT 1 FROM pred p
                        WHERE p.doc_a = truth.doc_a
                          AND p.doc_b = truth.doc_b)),
    a AS (
      SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_truth,
             CAST((SELECT count(*) FROM pred) AS BIGINT) AS n_pred,
             CAST((SELECT n_hit FROM h) AS BIGINT) AS n_hit
    )
    SELECT n_truth, n_pred, n_hit,
           round(CASE WHEN n_pred > 0
                 THEN n_hit / CAST(n_pred AS DOUBLE) END, 6) AS precision,
           round(CASE WHEN n_truth > 0
                 THEN n_hit / CAST(n_truth AS DOUBLE) END, 6) AS recall,
           round(CASE WHEN n_pred > 0 AND n_truth > 0 AND n_hit > 0
                 THEN 2.0 * n_hit / (n_pred + n_truth)
                 ELSE 0.0 END, 6) AS f1
    FROM a
    """,
)
def q_lsh_pr_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall of the shipped MinHash-LSH operating point
    (16 hashes, 4 bands, est >= 0.5) against the EXACT shingle-Jaccard
    >= 0.5 ground truth — the end-to-end detector audit combining
    banding misses and estimator threshold flips; both pair streams
    are the registered sub-quadratic plans
    (operators/dedup.py:lsh_pr_audit)."""
    from kommunedata_data_pipeline_spark.operators.dedup import lsh_pr_audit

    return lsh_pr_audit(_t(spark, sf_dir, "documents"))


@_q(
    "q_stream_cc_ingest",
    f"""
    WITH RECURSIVE {_LSH_PAIRS_CTES},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM lsh_pairs
      UNION
      SELECT doc_b, doc_a FROM lsh_pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    reach(node, lab) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.src, r.lab FROM edges e JOIN reach r ON e.dst = r.node
    )
    SELECT node AS doc_id, min(lab) AS cluster_id
    FROM reach GROUP BY node
    """,
)
def q_stream_cc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING cluster-store maintenance: the LSH near-dup pair
    stream arrives as a 3-batch file stream and each micro-batch folds
    into the persisted label store via label-space contraction
    (cc_index_update) — the CC member of the incremental-ingest family
    next to the MinHash/ANN index ingests. Batch-invariant with NO
    arrival-order contract at all (edge unions are commutative); the
    landed store ≡ the full-rebuild CC oracle
    (streaming/ingest.py:cc_label_ingest)."""
    from kommunedata_data_pipeline_spark.streaming.ingest import (
        cc_label_ingest,
        read_cc_labels,
    )

    d = _t(spark, sf_dir, "documents")
    # the resolved view of the delta-append store (min-per-doc = the
    # latest label; labels only decrease under min-label merges)
    labels = _drain_ingest(
        spark,
        "q_stream_cc_ingest",
        minhash_lsh_pairs(d, 3, 16, 4, 0.5).select("doc_a", "doc_b"),
        lambda stream, base: cc_label_ingest(stream, f"{base}/labels"),
        lambda base: read_cc_labels(spark, f"{base}/labels"),
    )
    return labels.orderBy("doc_id")


@_q(
    "q_rfm_segments",
    """
    WITH base AS (
      SELECT o_custkey,
             max(CAST(o_orderdate AS DATE)) AS last_d,
             CAST(count(*) AS BIGINT) AS freq,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
               AS DECIMAL(28,2)) AS mon
      FROM orders GROUP BY o_custkey
    ),
    mx AS (SELECT max(last_d) AS mxd FROM base),
    feats AS (
      SELECT o_custkey,
             -datediff('day', last_d, mxd) AS neg_rec, freq, mon
      FROM base CROSS JOIN mx
    ),
    n AS (SELECT count(*) AS nn FROM feats),
    t1 AS (SELECT f.*, CAST(((row_number() OVER (ORDER BY neg_rec,
                o_custkey) - 1) * 5) // nn + 1 AS INT) AS r_tile
           FROM feats f CROSS JOIN n),
    t2 AS (SELECT t1.*, CAST(((row_number() OVER (ORDER BY freq,
                o_custkey) - 1) * 5) // nn + 1 AS INT) AS f_tile
           FROM t1 CROSS JOIN n),
    t3 AS (SELECT t2.*, CAST(((row_number() OVER (ORDER BY mon,
                o_custkey) - 1) * 5) // nn + 1 AS INT) AS m_tile
           FROM t2 CROSS JOIN n)
    SELECT r_tile, f_tile, m_tile,
           CAST(count(*) AS BIGINT) AS n_customers,
           floor(CAST(sum(mon) * 100 AS BIGINT) / count(*)) / 100.0
             AS avg_monetary
    FROM t3 GROUP BY r_tile, f_tile, m_tile
    ORDER BY r_tile, f_tile, m_tile
    """,
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (recency/frequency/monetary
    quintiles): exact DECIMAL revenue, explicit floor-tile formula over
    ranged_global_rank per dimension (no ntile, no single-task global
    window), per-(R,F,M)-cell sizes and average spend — the classic
    analytics rollup (operators/aggregates.py:rfm_segments)."""
    from kommunedata_data_pipeline_spark.operators.aggregates import (
        rfm_segments,
    )

    return rfm_segments(_t(spark, sf_dir, "orders"), n_tiles=5)


@_q(
    "q_lakehouse_merge_roundtrip",
    """
    WITH base AS (SELECT doc_id, lang, source, n_chars FROM documents),
    upd AS (
      SELECT doc_id, lang, source,
             CASE WHEN doc_id % 7 = 0 THEN n_chars + 1000
                  ELSE n_chars END AS n_chars
      FROM base),
    ins AS (
      SELECT doc_id + 1000000 AS doc_id, 'syn' AS lang, source, n_chars
      FROM base WHERE doc_id % 13 = 0),
    merged AS (SELECT * FROM upd UNION ALL SELECT * FROM ins),
    afterdel AS (SELECT * FROM merged WHERE NOT (doc_id % 11 = 0)),
    final AS (SELECT * FROM afterdel WHERE NOT (doc_id % 5 = 3))
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           (SELECT CAST(count(*) AS BIGINT) FROM final) AS meta_total,
           (SELECT CAST(min(doc_id) AS BIGINT) FROM final) AS min_id,
           (SELECT CAST(max(doc_id) AS BIGINT) FROM final) AS max_id
    FROM final GROUP BY lang ORDER BY lang
    """,
)
def q_lakehouse_merge_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Full MERGE lifecycle on the transactional sink, oracle-exact
    end to end (S14/N212/N220/N221/N224/N227 as ONE query instead of
    pytest-only): load `documents` as version 0, MERGE-update the
    doc_id%7 rows (+1000 chars) while inserting synthetic doc_id%13
    twins, copy-on-write-delete doc_id%11, deletion-vector-delete
    doc_id%5==3 (merge-on-read — data files untouched), then OPTIMIZE
    with range clustering. The output aggregates the final snapshot
    per language AND pins the commit log's metadata-only answers
    against the oracle: `meta_total` is `metadata_count` (row count
    from footer stats minus DV counts, zero data files opened) and
    `min_id`/`max_id` are `metadata_min_max` — exact here because
    OPTIMIZE rewrote the DV'd files (sources/sinks.py; reference
    parity: the idempotent skip-if-exists landing of
    scraper_utils.py:25-70, upgraded to a versioned table)."""
    import shutil

    from kommunedata_data_pipeline_spark.sources import sinks

    base = _ram_tmp()
    try:
        path = os.path.join(base, "tbl")
        d = _t(spark, sf_dir, "documents").select(
            "doc_id", "lang", "source", "n_chars"
        )
        sinks.merge_upsert(d, path, ["doc_id"])
        upd = d.where(F.col("doc_id") % 7 == 0).withColumn(
            "n_chars", F.col("n_chars") + F.lit(1000)
        )
        ins = d.where(F.col("doc_id") % 13 == 0).select(
            (F.col("doc_id") + F.lit(1000000)).alias("doc_id"),
            F.lit("syn").alias("lang"),
            F.col("source"),
            F.col("n_chars"),
        )
        sinks.merge_update(upd.unionByName(ins), path, ["doc_id"])
        snap = sinks.read_committed(spark, path)
        sinks.merge_delete(
            snap.where(F.col("doc_id") % 11 == 0).select("doc_id"),
            path,
            ["doc_id"],
        )
        snap = sinks.read_committed(spark, path)
        sinks.merge_delete(
            snap.where(F.col("doc_id") % 5 == 3).select("doc_id"),
            path,
            ["doc_id"],
            mode="dv",
        )
        sinks.optimize_table(
            spark, path, target_file_bytes=1 << 22, cluster_by=["doc_id"]
        )
        meta_total = sinks.metadata_count(path)
        lo, hi, _exact = sinks.metadata_min_max(path, "doc_id")
        res = (
            sinks.read_committed(spark, path)
            .groupBy("lang")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("n_chars").cast("long").alias("sum_chars"),
            )
            .withColumn("meta_total", F.lit(meta_total).cast("long"))
            .withColumn("min_id", F.lit(lo).cast("long"))
            .withColumn("max_id", F.lit(hi).cast("long"))
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return res.orderBy("lang")


@_q(
    "q_lakehouse_cdc_replay",
    """
    WITH base AS (SELECT doc_id, lang, n_chars FROM documents),
    upd AS (
      SELECT doc_id, lang,
             CASE WHEN doc_id % 9 = 0 THEN n_chars + 5
                  ELSE n_chars END AS n_chars
      FROM base),
    ins AS (
      SELECT doc_id + 2000000 AS doc_id, 'cdc' AS lang, n_chars
      FROM base WHERE doc_id % 17 = 0),
    final AS (
      SELECT * FROM (SELECT * FROM upd UNION ALL SELECT * FROM ins)
      WHERE NOT (doc_id % 6 = 1))
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs_replay,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars_replay,
           CAST(count(*) AS BIGINT) AS n_docs_snap,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars_snap
    FROM final GROUP BY lang ORDER BY lang
    """,
)
def q_lakehouse_cdc_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC feed consumed through the durable cursor and replayed to a
    snapshot, oracle-exact (N225+N230 as one query): build a table
    with an upsert, a MERGE update+insert and a deletion-vector
    delete; then `consume_changes` polls the commit log ONE version at
    a time (the backlog-slicing path) through a cursor file, the
    delivered windows union into the full change stream, and a
    keyed fold (latest version wins, insert beats its paired delete)
    reconstructs the final state. The output carries the replayed
    aggregate AND the direct-snapshot aggregate side by side — the
    oracle emits each number twice, so replay==snapshot is part of
    the hash, not just a pytest (streaming/cdc.py:consume_changes,
    sources/sinks.py:read_changes)."""
    import shutil

    from pyspark.sql import Window
    from kommunedata_data_pipeline_spark.sources import sinks
    from kommunedata_data_pipeline_spark.streaming import consume_changes

    base = _ram_tmp()
    try:
        path = os.path.join(base, "tbl")
        d = _t(spark, sf_dir, "documents").select(
            "doc_id", "lang", "n_chars"
        )
        sinks.merge_upsert(d, path, ["doc_id"])
        upd = d.where(F.col("doc_id") % 9 == 0).withColumn(
            "n_chars", F.col("n_chars") + F.lit(5)
        )
        ins = d.where(F.col("doc_id") % 17 == 0).select(
            (F.col("doc_id") + F.lit(2000000)).alias("doc_id"),
            F.lit("cdc").alias("lang"),
            F.col("n_chars"),
        )
        sinks.merge_update(upd.unionByName(ins), path, ["doc_id"])
        snap = sinks.read_committed(spark, path)
        sinks.merge_delete(
            snap.where(F.col("doc_id") % 6 == 1).select("doc_id"),
            path,
            ["doc_id"],
            mode="dv",
        )
        windows: list[DataFrame] = []

        def handler(df: DataFrame, frm: int, to: int) -> None:
            windows.append(df.localCheckpoint(eager=True))

        state = os.path.join(base, "cursor")
        while True:
            frm, to = consume_changes(
                spark, path, state, handler, max_versions=1
            )
            if frm == to:
                break
        changes = windows[0]
        for w_ in windows[1:]:
            changes = changes.unionByName(w_)
        # replay fold: per key, the newest version wins; within a
        # version an update's insert(new) supersedes its delete(old)
        w = Window.partitionBy("doc_id").orderBy(
            F.desc("_commit_version"), F.desc("_change_type")
        )
        live = (
            changes.withColumn("rn", F.row_number().over(w))
            .where((F.col("rn") == 1) & (F.col("_change_type") == "insert"))
            .drop("rn", "_change_type", "_commit_version")
        )
        rep = live.groupBy("lang").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs_replay"),
            F.sum("n_chars").cast("long").alias("sum_chars_replay"),
        )
        snap_agg = (
            sinks.read_committed(spark, path)
            .groupBy("lang")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs_snap"),
                F.sum("n_chars").cast("long").alias("sum_chars_snap"),
            )
        )
        res = rep.join(snap_agg, "lang").localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return res.orderBy("lang")


@_q(
    "q_stream_table_cdc",
    """
    WITH base AS (SELECT doc_id, lang, n_chars FROM documents),
    u AS (SELECT doc_id, n_chars + 5 AS n_chars FROM base
          WHERE doc_id % 9 = 0),
    i AS (SELECT doc_id + 2000000 AS doc_id, n_chars FROM base
          WHERE doc_id % 17 = 0),
    cur AS (
      SELECT doc_id,
             CASE WHEN doc_id % 9 = 0 THEN n_chars + 5
                  ELSE n_chars END AS n_chars
      FROM base
      UNION ALL SELECT doc_id, n_chars FROM i),
    v0 AS (SELECT 0 AS version, 'insert' AS change_type,
                  CAST(count(*) AS BIGINT) AS n_rows,
                  CAST(sum(n_chars) AS BIGINT) AS sum_chars
           FROM base),
    v1d AS (SELECT 1, 'delete', CAST(count(*) AS BIGINT),
                   CAST(sum(n_chars) AS BIGINT)
            FROM base WHERE doc_id % 9 = 0),
    v1i AS (SELECT 1, 'insert', CAST(count(*) AS BIGINT),
                   CAST(sum(n_chars) AS BIGINT)
            FROM (SELECT n_chars FROM u UNION ALL
                  SELECT n_chars FROM i)),
    v2d AS (SELECT 2, 'delete', CAST(count(*) AS BIGINT),
                   CAST(sum(n_chars) AS BIGINT)
            FROM cur WHERE doc_id % 6 = 1)
    SELECT * FROM (
      SELECT * FROM v0 UNION ALL SELECT * FROM v1d
      UNION ALL SELECT * FROM v1i UNION ALL SELECT * FROM v2d)
    ORDER BY version, change_type
    """,
)
def q_stream_table_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The committed table consumed as a REAL Structured Streaming
    source (N231 — `readStream.format("kdp_table_changes")`, the
    Delta "table as a stream source" shape on Spark 4's Python
    DataSource streaming API): build a table with an upsert, a MERGE
    update+insert and a deletion-vector delete, subscribe to its
    commit log as a stream, and aggregate the delivered change feed
    per (commit version, change type). The oracle prices every
    commit's CDC granularity exactly — version 0's inserts, the
    update's delete+insert pair counts (copy-on-write-restaged
    unchanged rows cancel, so ONLY the changed rows appear), and the
    DV delete's marked rows — pinning the stream's offset/diff
    machinery to SQL, not just to pytest parity with `read_changes`
    (sources/table_stream.py)."""
    import shutil

    from kommunedata_data_pipeline_spark.sources.table_stream import (
        CHANGE_COLS,
        read_table_changes_stream,
    )
    from kommunedata_data_pipeline_spark.sources import sinks

    base = _ram_tmp()
    try:
        path = os.path.join(base, "tbl")
        d = _t(spark, sf_dir, "documents").select(
            "doc_id", "lang", "n_chars"
        )
        sinks.merge_upsert(d, path, ["doc_id"])
        upd = d.where(F.col("doc_id") % 9 == 0).withColumn(
            "n_chars", F.col("n_chars") + F.lit(5)
        )
        ins = d.where(F.col("doc_id") % 17 == 0).select(
            (F.col("doc_id") + F.lit(2000000)).alias("doc_id"),
            F.lit("cdc").alias("lang"),
            F.col("n_chars"),
        )
        sinks.merge_update(upd.unionByName(ins), path, ["doc_id"])
        snap = sinks.read_committed(spark, path)
        sinks.merge_delete(
            snap.where(F.col("doc_id") % 6 == 1).select("doc_id"),
            path,
            ["doc_id"],
            mode="dv",
        )
        # Drop any previous attempt's phase stash BEFORE starting (the
        # windows.py runner's stale-stash discipline): if the stash
        # below fails, bench.py must fall back to wall, not silently
        # reuse the prior attempt's addBatch durations (ADVICE r12).
        from kommunedata_data_pipeline_spark.streaming.windows import (
            LAST_RUN_DURATIONS as _DURS,
        )

        _DURS.pop("q_stream_table_cdc_sink", None)
        q = (
            read_table_changes_stream(spark, path)
            .writeStream.format("parquet")
            .option("path", os.path.join(base, "out"))
            .option(
                "checkpointLocation", os.path.join(base, "ckpt")
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        # stash per-phase durations under the bench's canonical sink
        # key so exec reflects addBatch instead of falling back to wall
        try:
            import json as _json

            from kommunedata_data_pipeline_spark.streaming.windows import (
                LAST_RUN_DURATIONS,
            )

            _phases: dict = {}
            for _p in q.recentProgress:
                _d = _json.loads(_p.json) if hasattr(_p, "json") else _p
                for _k, _v in (_d.get("durationMs") or {}).items():
                    _phases[_k] = _phases.get(_k, 0) + int(_v)
            LAST_RUN_DURATIONS["q_stream_table_cdc_sink"] = _phases
        except Exception:
            pass
        res = (
            spark.read.schema(f"n_chars bigint, {CHANGE_COLS}")
            .parquet(os.path.join(base, "out"))
            .groupBy(
                F.col("_commit_version").cast("int").alias("version"),
                F.col("_change_type").alias("change_type"),
            )
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("n_chars").cast("long").alias("sum_chars"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return res.orderBy("version", "change_type")


@_q(
    "q_lakehouse_time_travel",
    """
    WITH base AS (SELECT doc_id, lang, n_chars FROM documents),
    v0 AS (
      SELECT 0 AS version, lang,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             CAST(NULL AS BIGINT) AS n_flagged
      FROM base GROUP BY lang),
    upd AS (
      SELECT doc_id, lang,
             CASE WHEN doc_id % 4 = 0 THEN n_chars + 7
                  ELSE n_chars END AS n_chars,
             CASE WHEN doc_id % 4 = 0 THEN 1 ELSE NULL END AS flag
      FROM base),
    ins AS (
      SELECT doc_id + 3000000 AS doc_id, 'new' AS lang, n_chars, 2 AS flag
      FROM base WHERE doc_id % 19 = 0),
    head AS (
      SELECT * FROM (SELECT * FROM upd UNION ALL SELECT * FROM ins)
      WHERE NOT (doc_id % 10 = 2)),
    vh AS (
      SELECT 3 AS version, lang,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             CAST(count(flag) AS BIGINT) AS n_flagged
      FROM head GROUP BY lang)
    SELECT CAST(version AS INT) AS version, lang, n_docs, sum_chars,
           n_flagged
    FROM (SELECT * FROM v0 UNION ALL SELECT * FROM vh)
    ORDER BY version, lang
    """,
)
def q_lakehouse_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel across a schema evolution, oracle-exact
    (N219+N223 as one query): version 0 loads `documents`; version 1
    is a `merge_upsert(merge_schema=True)` that ADDS a `flag` column
    by inserting doc_id%19 twins (upsert is first-write-wins, so
    evolution rides the INSERT commit); version 2 MERGE-updates the
    doc_id%4 rows at the evolved schema (+7 chars, flag=1); version 3
    copy-on-write-deletes doc_id%10==2. `read_committed` AS OF
    version 0 serves the table with the columns it actually had (no
    `flag` — the output's version-0 rows carry NULL n_flagged by
    construction), while HEAD shows evolved rows with old rows
    null-filled. Both versions aggregate per language into one frame;
    the version numbers themselves are part of the hash, pinning the
    single-writer commit sequence (sources/sinks.py:read_committed/
    table_schema)."""
    import shutil

    from kommunedata_data_pipeline_spark.sources import sinks

    base = _ram_tmp()
    try:
        path = os.path.join(base, "tbl")
        d = _t(spark, sf_dir, "documents").select(
            "doc_id", "lang", "n_chars"
        )
        sinks.merge_upsert(d, path, ["doc_id"])
        ins = d.where(F.col("doc_id") % 19 == 0).select(
            (F.col("doc_id") + F.lit(3000000)).alias("doc_id"),
            F.lit("new").alias("lang"),
            F.col("n_chars"),
            F.lit(2).cast("int").alias("flag"),
        )
        sinks.merge_upsert(ins, path, ["doc_id"], merge_schema=True)
        evolved = d.where(F.col("doc_id") % 4 == 0).select(
            "doc_id",
            "lang",
            (F.col("n_chars") + F.lit(7)).alias("n_chars"),
            F.lit(1).cast("int").alias("flag"),
        )
        sinks.merge_update(evolved, path, ["doc_id"])
        snap = sinks.read_committed(spark, path)
        sinks.merge_delete(
            snap.where(F.col("doc_id") % 10 == 2).select("doc_id"),
            path,
            ["doc_id"],
        )
        head, _files = sinks.committed_files(path)
        v0 = (
            sinks.read_committed(spark, path, version=0)
            .groupBy("lang")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("n_chars").cast("long").alias("sum_chars"),
            )
            .select(
                F.lit(0).cast("int").alias("version"),
                "lang",
                "n_docs",
                "sum_chars",
                F.lit(None).cast("long").alias("n_flagged"),
            )
        )
        vh = (
            sinks.read_committed(spark, path)
            .groupBy("lang")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("n_chars").cast("long").alias("sum_chars"),
                F.count("flag").cast("long").alias("n_flagged"),
            )
            .select(
                F.lit(head).cast("int").alias("version"),
                "lang",
                "n_docs",
                "sum_chars",
                "n_flagged",
            )
        )
        res = v0.unionByName(vh).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return res.orderBy("version", "lang")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return flagship_meetings_to_fetch(spark, "/root/testdata/sf0.001")


# The driver checks only the first ~50 queries that queries() returns
# against their oracles, so the registry rotates: queries with no green
# driver row come first, then ascending latest green round. That round
# comes from the driver's committed CORRECTNESS_rNN.json records next to
# this file — committing a round's record is the whole per-round step.
_RECORDS_DIR = os.path.dirname(os.path.abspath(__file__))
_RECORD_NAME = re.compile(r"CORRECTNESS_r(\d+)\.json")


def _latest_rounds(records_dir: str = _RECORDS_DIR) -> dict[str, int]:
    """{query: latest round whose driver record has ``hash_match: true``
    for it}. Rounds are parsed as integers (r100 is newer than r11); a
    query with no green row in any record is absent. A record that is
    not a JSON object of row objects raises ValueError naming it."""
    latest: dict[str, int] = {}
    for fname in os.listdir(records_dir):
        m = _RECORD_NAME.fullmatch(fname)
        if m is None:
            continue
        path = os.path.join(records_dir, fname)
        try:
            with open(path) as f:
                rows = json.load(f)
        except ValueError as e:
            raise ValueError(f"{path}: not valid JSON ({e})") from e
        if not isinstance(rows, dict) or not all(
            isinstance(r, dict) for r in rows.values()
        ):
            raise ValueError(f"{path}: expected an object of per-query rows")
        rnd = int(m.group(1))
        for name, row in rows.items():
            if row.get("hash_match") is True and rnd > latest.get(name, 0):
                latest[name] = rnd
    return latest


def _rotation(records_dir: str = _RECORDS_DIR) -> list[str]:
    """Registered names, never-checked first, then by ascending latest
    green round; the sort is stable, so registration order holds within
    each tier."""
    latest = _latest_rounds(records_dir)
    return sorted(_SPARK, key=lambda n: latest.get(n, 0))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in oracle
    rotation order (see _rotation): the driver's ~50-row check window
    lands on the queries whose driver row is missing or oldest."""
    return {n: _SPARK[n] for n in _rotation()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each query (omitted only for
    genuinely non-SQL-expressible ops)."""
    return dict(_SQL)
