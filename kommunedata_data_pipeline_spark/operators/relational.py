"""Relational combinators (SURVEY §2.2 filters/projections, §2.5 windows,
§2.6 sorts/limits, §2.7 set ops/dedup).

Each operator is a named, tested function over DataFrames, expressed with
built-ins so Catalyst can push filters into scans and fuse projections
into whole-stage codegen. At 100 TB the only shuffles here are the
explicit ones: the window partitionBy, the groupBy/join of the skyline
and the full outer join of the snapshot diff.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def filter_doc_type(df: DataFrame, keep: str = "referat", col: str = "doc_type") -> DataFrame:
    """P2 — keep rows whose type contains `referat` (drop agendas);
    reference scraper_svendborg.py:119-122 et al. Case-insensitive."""
    return df.where(F.lower(F.col(col)).contains(keep.lower()))


def filter_municipality(df: DataFrame, needle: str | None, col: str = "municipality") -> DataFrame:
    """P3 — env MUNICIPALITY_FILTER case-insensitive substring
    (scraper.py:346-351). None/empty → no-op (reference semantics)."""
    if not needle:
        return df
    return df.where(F.upper(F.col(col)).contains(needle.upper()))


def dedup_keep_first(df: DataFrame, keys: list[str], order: list[Column]) -> DataFrame:
    """Deterministic dedup: keep the first row per key under an explicit
    ordering (the reference keeps first-seen page order, O3 — Spark must
    reify order as data, SURVEY §7.4)."""
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def per_group_limit(
    df: DataFrame, partition_cols: list[str], order: list[Column], n: int | None
) -> DataFrame:
    """W1/W2 — per-source LIMIT (MAX_DOWNLOADS slice, scraper.py:135-137,
    380-381). Applied AFTER filters/dedup: the limit counts post-filter rows
    (scraper_svendborg.py:171-189 — W2 semantics). None → unlimited
    (DOWNLOAD_LIMIT env unset, scraper_utils.py:89-97)."""
    if n is None:
        return df
    w = Window.partitionBy(*partition_cols).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= n)
        .drop("__rn")
    )


def skyline_2d(
    df: DataFrame,
    max_col: str,
    min_col: str,
    id_col: str,
    bin_width: float,
) -> DataFrame:
    """2-D Pareto frontier: rows not dominated by any other row (dominator
    has ``max_col`` >=, ``min_col`` <=, at least one strict; exact
    (max_col, min_col) duplicates collapse to the min-``id_col``
    representative).

    Filter-then-refine, the distributed skyline shape: bin ``max_col``
    into fixed-width ranges, take each bin's min ``min_col`` (one
    map-side-combinable shuffle over ~range/bin_width groups), run a
    cumulative min over the strictly-higher bins (tiny aggregate frame),
    and keep only rows that beat it — everything cross-bin-dominated
    dies here, so the exact refine window sees a few-hundred-row
    survivor set instead of the corpus. The refine is the classic sorted
    cumulative-min pass: sort by (max desc, min asc, id), keep a row iff
    its ``min_col`` beats every preceding row's. No false drops: the
    prefilter only removes rows with a strictly-higher-bin dominator.

    Caveat: the refine window is unpartitioned over the SURVIVOR set —
    frontier-sized in practice, but an adversarial input where the
    frontier is O(n) (perfectly anti-correlated dimensions) makes the
    refine a single-task sort; pick ``bin_width`` so survivors stay
    small, or pre-aggregate such inputs."""
    b = df.select(
        id_col,
        max_col,
        min_col,
        F.floor(F.col(max_col) / F.lit(bin_width)).alias("__bin"),
    )
    bin_mins = b.groupBy("__bin").agg(F.min(min_col).alias("__bin_min"))
    wb = (
        Window.orderBy(F.col("__bin").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    higher = bin_mins.select(
        "__bin", F.min("__bin_min").over(wb).alias("__higher_min")
    )
    survivors = b.join(F.broadcast(higher), "__bin").where(
        F.col("__higher_min").isNull() | (F.col(min_col) < F.col("__higher_min"))
    )
    wr = (
        Window.orderBy(
            F.col(max_col).desc(), F.col(min_col).asc(), F.col(id_col).asc()
        )
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        survivors.select(
            id_col,
            max_col,
            min_col,
            F.min(min_col).over(wr).alias("__prev_min"),
        )
        .where(F.col("__prev_min").isNull() | (F.col(min_col) < F.col("__prev_min")))
        .select(id_col, max_col, min_col)
    )


def profile_table(df: DataFrame, cols_per_pass: int | None = None) -> DataFrame:
    """Single-pass data-profiling summary: one row per column with row /
    null / exact-distinct counts and type-appropriate min/max (numerics
    rounded to 4 dp in ``min_num``/``max_num``; strings, dates and
    timestamps as ISO strings in ``min_str``/``max_str``) — the
    first-contact quality report every ingest runs.

    Scale shape: ONE aggregation job computes every column's stats in a
    single scan (count/count-nulls/min/max are all map-side combinable;
    count_distinct rewrites to a partial-distinct expand under the same
    aggregate), then a literal-array explode pivots the single stats row
    into per-column rows — no per-column scans, no driver loop over
    queries. At 100 TB this is exactly one pass over the table.

    ``cols_per_pass`` bounds the per-aggregation expression count for
    very wide tables (a 1000-column table would otherwise put ~5000
    aggregate expressions in one projection — past codegen's method-size
    limits and the planner's O(n²) cliffs). Columns are profiled in
    batches of at most ``cols_per_pass``, one aggregation per batch,
    results unioned in schema order. Because parquet is columnar and
    each batch prunes its scan to just that batch's columns, total bytes
    read stay ≈ one full pass — the batching costs scan *setup* per
    batch, not repeated IO. None (default) = single pass.
    """
    fields = list(df.schema.fields)
    if cols_per_pass is not None and 0 < cols_per_pass < len(fields):
        batches = [
            fields[i : i + cols_per_pass]
            for i in range(0, len(fields), cols_per_pass)
        ]
        out = _profile_pass(df, batches[0])
        for batch in batches[1:]:
            out = out.unionByName(_profile_pass(df, batch))
        return out
    return _profile_pass(df, fields)


def _profile_pass(df: DataFrame, fields) -> DataFrame:
    """One aggregation over ``fields`` (a subset of df's schema) pivoted
    to per-column profile rows — the unit profile_table batches."""
    from pyspark.sql import types as T

    # prune the scan to this batch's columns (plus nothing): the
    # projection is what lets N batches over a columnar source cost the
    # same total IO as one pass
    df = df.select(*[f.name for f in fields])
    aggs: list[Column] = [F.count(F.lit(1)).alias("__rows")]
    for f in fields:
        c = F.col(f.name)
        aggs.append(F.sum(c.isNull().cast("long")).alias(f"__null_{f.name}"))
        aggs.append(F.count_distinct(c).alias(f"__dist_{f.name}"))
        if isinstance(f.dataType, T.NumericType):
            aggs.append(F.round(F.min(c).cast("double"), 4).alias(f"__min_{f.name}"))
            aggs.append(F.round(F.max(c).cast("double"), 4).alias(f"__max_{f.name}"))
        elif isinstance(f.dataType, (T.TimestampType, T.TimestampNTZType)):
            aggs.append(
                F.date_format(F.min(c), "yyyy-MM-dd HH:mm:ss").alias(f"__min_{f.name}")
            )
            aggs.append(
                F.date_format(F.max(c), "yyyy-MM-dd HH:mm:ss").alias(f"__max_{f.name}")
            )
        elif isinstance(f.dataType, (T.StringType, T.DateType)):
            aggs.append(F.min(c).cast("string").alias(f"__min_{f.name}"))
            aggs.append(F.max(c).cast("string").alias(f"__max_{f.name}"))
        else:  # binary/array/map: extremes undefined, profile counts only
            aggs.append(F.lit(None).cast("string").alias(f"__min_{f.name}"))
            aggs.append(F.lit(None).cast("string").alias(f"__max_{f.name}"))
    stats = df.agg(*aggs)
    return _pivot_profile(stats, fields)


def _pivot_profile(stats: DataFrame, fields) -> DataFrame:
    from pyspark.sql import types as T

    def _entry(f) -> Column:
        numeric = isinstance(f.dataType, T.NumericType)
        return F.struct(
            F.lit(f.name).alias("col_name"),
            F.col("__rows").alias("n_rows"),
            F.col(f"__null_{f.name}").alias("n_nulls"),
            F.col(f"__dist_{f.name}").alias("n_distinct"),
            (F.col(f"__min_{f.name}") if numeric else F.lit(None).cast("double")).alias("min_num"),
            (F.col(f"__max_{f.name}") if numeric else F.lit(None).cast("double")).alias("max_num"),
            (F.lit(None).cast("string") if numeric else F.col(f"__min_{f.name}")).alias("min_str"),
            (F.lit(None).cast("string") if numeric else F.col(f"__max_{f.name}")).alias("max_str"),
        )

    return stats.select(
        F.explode(F.array(*[_entry(f) for f in fields])).alias("p")
    ).select("p.*")


def snapshot_diff(
    old: DataFrame, new: DataFrame, key: str, hash_col: str, dedup_guard: bool = False
) -> DataFrame:
    """Table-diff between two snapshots: one row per key with status
    added / removed / changed / unchanged, decided by a full outer join
    on the key and a content-hash comparison — the change-data-detection
    primitive behind incremental syncs and audit reports when no CDC log
    exists.

    Scale shape: ONE full-outer equi-join on the key (both sides carry
    only key+hash — the projection every diff should push down); status
    is a codegen'd CASE. At 100 TB pre-bucketing both snapshots by the
    key makes the join exchange-free (see sinks.write_bucketed).

    Contract: ``key`` MUST be unique within each snapshot — a snapshot
    IS a keyed table state, so a duplicated key means the input is not a
    snapshot; the outer join would multiply such rows and silently
    over/under-count statuses. Callers who cannot guarantee uniqueness
    pass ``dedup_guard=True``: a dropDuplicates on (key, hash) then
    collapses exact duplicates and bounds a conflicting key (two
    different hashes — a caller bug this operator cannot repair) to one
    row per distinct hash instead of a cartesian blow-up. The guard is
    opt-in because it costs one extra shuffle per side on inputs that
    honor the contract.
    """
    a = old.select(F.col(key).alias("__ka"), F.col(hash_col).alias("__ha"))
    b = new.select(F.col(key).alias("__kb"), F.col(hash_col).alias("__hb"))
    if dedup_guard:
        a = a.dropDuplicates(["__ka", "__ha"])
        b = b.dropDuplicates(["__kb", "__hb"])
    return a.join(b, a["__ka"] == b["__kb"], "full_outer").select(
        F.coalesce(F.col("__ka"), F.col("__kb")).alias(key),
        F.when(F.col("__ka").isNull(), "added")
        .when(F.col("__kb").isNull(), "removed")
        .when(F.col("__ha") != F.col("__hb"), "changed")
        .otherwise("unchanged")
        .alias("status"),
    )


def debounce_bursts(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    gap_seconds: int,
    tiebreak: str,
) -> DataFrame:
    """Keep one row per key-burst: a row survives iff its predecessor in
    (ts, tiebreak) order within the same key is more than ``gap_seconds``
    older (or absent). Bursts CHAIN — a run of events each within the
    gap of the next collapses to its first row no matter the total span
    (the session-dedup semantics of UI debouncing, retry storms,
    double-fire webhooks).

    Scale shape: one window over partitionBy(keys) — per-key parallel
    sort, no global ordering; the lag comparison is codegen. The first
    row of every gap-delimited burst is exactly a row whose previous-row
    gap exceeds the threshold, so NO second pass / cumsum is needed to
    realize keep-first-per-burst.
    """
    w = Window.partitionBy(*keys).orderBy(ts_col, tiebreak)
    prev_us = F.lag(F.unix_micros(F.col(ts_col))).over(w)
    return (
        df.withColumn("__prev_us", prev_us)
        .where(
            F.col("__prev_us").isNull()
            | (
                F.unix_micros(F.col(ts_col)) - F.col("__prev_us")
                > gap_seconds * 1_000_000
            )
        )
        .drop("__prev_us")
    )
