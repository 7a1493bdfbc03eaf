"""Aggregation operators beyond SURVEY §2.4 A1-A5 (the queries do those
inline with groupBy, conditional sums, collect_list and distinct).

All hash-aggregates with map-side partial aggregation (Spark default) —
the reference's counter variables and set-accumulators become one
shuffle-then-final-agg each.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def distinct_count_two_phase(
    df: DataFrame, key: str, distinct_col: str, alias: str = "n_distinct"
) -> DataFrame:
    """Exact COUNT(DISTINCT x) per key as two hash aggregates:
    distinct (key, x) pairs first (map-side combine collapses dups before
    the shuffle), then a count per key.

    At 100 TB this is the skew-safe exact-distinct: a direct
    count(distinct) on a hot key funnels that key's whole value set
    through one task's expand, while phase 1 here shards (key, x) pairs
    uniformly across the cluster; phase 2 sees pre-shrunk rows."""
    return (
        df.select(key, distinct_col)
        # COUNT(DISTINCT x) ignores NULL x; dropDuplicates would keep one
        # NULL row per key and count(*) would count it — filter first.
        .where(F.col(distinct_col).isNotNull())
        .dropDuplicates([key, distinct_col])
        .groupBy(key)
        .agg(F.count("*").alias(alias))
    )


def salted_sum(
    df: DataFrame,
    key: str,
    value_col: str,
    n_salts: int = 8,
    salt_src: str | None = None,
    alias: str = "sum_val",
) -> DataFrame:
    """Skew-safe SUM per key as two aggregates: a salted partial
    (key, salt) aggregate sharded ``n_salts`` ways, then the final
    re-aggregate per key. Result is identical to a plain GROUP BY —
    the salt only splits the hot key's partial state across tasks.

    This is the manual valve for the one case AQE's skew handling does
    not cover (skewed *aggregation* rather than skewed join): a key
    holding 1% of a 100 TB table funnels ~1 TB through one task in a
    plain hash agg, but 1/n_salts of that here. The salt column is any
    deterministic int (a row-id modulus by default) — its distribution,
    not its values, is what matters.
    """
    salt = (
        F.pmod(F.col(salt_src), F.lit(n_salts))
        if salt_src
        else F.pmod(F.monotonically_increasing_id(), F.lit(n_salts))
    )
    partial = (
        df.withColumn("__salt", salt)
        .groupBy(key, "__salt")
        .agg(
            F.sum(value_col).alias("__psum"),
            F.count("*").alias("__pcnt"),
        )
    )
    return (
        partial.groupBy(key)
        .agg(
            F.sum("__psum").alias(alias),
            F.sum("__pcnt").alias("n_rows"),
        )
    )


def time_rollup(
    events: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    grains: tuple[str, ...] = ("hour", "day", "week"),
) -> DataFrame:
    """Multi-granularity time rollup in ONE pass — the hypertable
    continuous-aggregate shape: counts and value sums at every grain
    (hour/day/week) computed via GROUPING SETS, so the fact stream is
    scanned and shuffled once (Catalyst's Expand duplicates each input
    row per grain map-side; the aggregate stays map-side combinable)
    instead of once per grain.

    Output: (grain, bucket_start ISO-string, n, total_value). At 100 TB
    a per-grain union of three groupBys would triple the scan + shuffle;
    the grouping-sets plan's shuffle carries one partial-agg row per
    (grain, bucket) per map task — a constant factor over any one grain.
    """
    truncs = {g: F.date_trunc(g, F.col(ts_col)).alias(f"__{g}") for g in grains}
    base = events.select(
        *truncs.values(), F.col(value_col).alias("__v")
    )
    sets = [[f"__{g}"] for g in grains]
    # grouping() is only legal inside the aggregate expression list, so
    # the grain label is computed as an agg output, not a post-select
    grain_expr = None
    for g in grains:
        cond = F.grouping(f"__{g}") == 0
        grain_expr = F.when(cond, g) if grain_expr is None else grain_expr.when(cond, g)
    rolled = (
        base.groupingSets(sets, *[F.col(f"__{g}") for g in grains])
        .agg(
            grain_expr.alias("grain"),
            F.count("*").alias("n"),
            F.round(F.sum("__v"), 2).alias("total_value"),
        )
        .select(
            "grain",
            F.date_format(
                F.coalesce(*[F.col(f"__{g}") for g in grains]),
                "yyyy-MM-dd HH:mm:ss",
            ).alias("bucket_start"),
            "n",
            "total_value",
        )
    )
    return rolled


def partial_agg_state(
    df: DataFrame, keys: list[str], value_col: str
) -> DataFrame:
    """Mergeable aggregate state for one shard/run: per key, the
    (count, sum, min, max) tuple that any further shard can be folded
    into. The incremental-aggregation half of the pattern; see
    merge_agg_states.

    The sum is carried as DECIMAL(28,6) so state merging is associative
    AND exact — a double sum would drift by merge order, breaking the
    "merged shards == one-shot aggregate" contract this pattern exists
    for."""
    return df.groupBy(*keys).agg(
        F.count(value_col).alias("st_n"),
        F.sum(F.col(value_col).cast("decimal(28,6)")).alias("st_sum"),
        F.min(value_col).alias("st_min"),
        F.max(value_col).alias("st_max"),
    )


def merge_agg_states(states: DataFrame, keys: list[str]) -> DataFrame:
    """Fold any number of per-shard aggregate states into final
    aggregates — the incremental pattern behind continuous ingestion at
    100 TB: each run aggregates ONLY its new partition into a state
    table (partial_agg_state), and the report re-aggregates the small
    state tables instead of re-scanning history. count/sum/min/max are
    all mergeable (avg derives as sum/count at the end — never merge
    averages); the same shape extends to any commutative monoid state
    (HLL registers, KMV sketches — operators/sketches.py).

    Input: a union of partial_agg_state outputs; output: one row per key
    with final n / total (rounded 2 dp) / min / max / avg (rounded 4)."""
    return (
        states.groupBy(*keys)
        .agg(
            F.sum("st_n").alias("n"),
            F.sum("st_sum").alias("__total"),
            F.min("st_min").alias("min_value"),
            F.max("st_max").alias("max_value"),
        )
        .select(
            *keys,
            "n",
            F.round(F.col("__total").cast("double"), 2).alias("total_value"),
            "min_value",
            "max_value",
            # divide AFTER the double cast: decimal/bigint division has
            # engine-specific result-scale rules; double/bigint doesn't
            F.round(
                F.col("__total").cast("double") / F.col("n"), 4
            ).alias("avg_value"),
        )
    )


def rfm_segments(
    orders: DataFrame,
    n_tiles: int = 5,
) -> DataFrame:
    """RFM customer segmentation — the classic marketing-analytics
    rollup: per customer Recency (days from their last order to the
    corpus max date), Frequency (order count), Monetary (exact DECIMAL
    revenue sum), each cut into ``n_tiles`` equal-frequency tiles, and
    the segment table (r_tile, f_tile, m_tile) with sizes and average
    monetary value.

    Exactness discipline: monetary sums are DECIMAL(18,2) (order-
    independent); every tile comes from the explicit floor-tile
    formula floor((rn−1)·k/n) over a `ranged_global_rank` on
    (metric, custkey) — the same no-global-window, no-ntile plan as
    curriculum_schedule, exact in both engines. Higher tile = more
    recent / more frequent / more spend. Output: one row per occupied
    (r_tile, f_tile, m_tile): (..., n_customers, avg_monetary)."""
    from ..operators.dedup import ranged_global_rank

    base = orders.groupBy("o_custkey").agg(
        F.max(F.to_date("o_orderdate")).alias("last_d"),
        F.count(F.lit(1)).cast("bigint").alias("freq"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("mon"),
    )
    mx = base.agg(F.max("last_d").alias("mxd"))
    feats = base.crossJoin(F.broadcast(mx)).select(
        "o_custkey",
        (-F.datediff(F.col("mxd"), F.col("last_d"))).alias("neg_rec"),
        "freq",
        "mon",
    )
    # the tile denominator is ONE number (the customer count) — compute
    # it once as a 1-row aggregate and broadcast it, the same pattern as
    # `mxd` above. A count-over-all window here would move the whole
    # per-customer frame to a single task, three times.
    ncust = feats.agg(F.count(F.lit(1)).cast("bigint").alias("__n"))

    def tile(df: DataFrame, metric: str, out: str) -> DataFrame:
        ranked = ranged_global_rank(df, [metric, "o_custkey"], "rn")
        return ranked.crossJoin(F.broadcast(ncust)).select(
            *df.columns,
            (
                F.floor((F.col("rn") - 1) * n_tiles / F.col("__n")) + 1
            ).cast("int").alias(out),
        )
    t = tile(feats, "neg_rec", "r_tile")
    t = tile(t, "freq", "f_tile")
    t = tile(t, "mon", "m_tile")
    return (
        t.groupBy("r_tile", "f_tile", "m_tile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum("mon").alias("__s"),
        )
        .select(
            "r_tile",
            "f_tile",
            "m_tile",
            "n_customers",
            # avg from the EXACT decimal sum via integer cents +
            # floor: round(double, 2) hits the HALF_UP-vs-half-even
            # divergence on last-cent halves (caught by the sf0.001
            # oracle battery: 2537150.175 -> .18 vs .17); the floored
            # cent is the same double in both engines
            (
                F.floor(
                    (F.col("__s") * 100).cast("bigint")
                    / F.col("n_customers")
                )
                / 100.0
            ).alias("avg_monetary"),
        )
        .orderBy("r_tile", "f_tile", "m_tile")
    )


def histogram_state(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    bin_width: float,
) -> DataFrame:
    """Mergeable equi-width HISTOGRAM state — the distribution-shaped
    member of the incremental-aggregation family (`partial_agg_state`
    carries count/sum/min/max; quantile questions need shape): one row
    per (keys..., bin) with the bin count, where bin = floor(value /
    bin_width). Map-side combinable, and states from disjoint shards
    merge by ADDING counts (`merge_histogram_states`) — so continuous
    ingestion keeps per-shard states and answers quantile-grain
    questions without re-scanning history. NULL values are excluded
    (stated)."""
    return (
        df.where(F.col(value_col).isNotNull())
        .groupBy(
            *keys,
            F.floor(F.col(value_col) / F.lit(bin_width))
            .cast("bigint")
            .alias("bin"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


def merge_histogram_states(states: DataFrame, keys: list[str]) -> DataFrame:
    """Fold any number of per-shard histogram states into one: counts
    add per (keys..., bin) — the commutative-monoid merge, same
    contract as `merge_agg_states`."""
    return states.groupBy(*keys, "bin").agg(
        F.sum("n").cast("bigint").alias("n")
    )


def quantile_bins_from_histogram(
    hist: DataFrame,
    keys: list[str],
    qs: list[float],
    bin_width: float,
) -> DataFrame:
    """Per-key quantile BINS from a (merged) histogram state: for each
    q, the first bin whose cumulative count reaches ceil(q·total) —
    the histogram-grain quantile (error bounded by bin_width, the
    stated contract; exact integer cum-count comparisons, so both
    engines pick the identical bin). Windows run over the
    histogram-sized frame partitioned by key. Output: one row per
    (keys..., q) with (bin, bin_lo, bin_hi, cum_n, total_n)."""
    wc = (
        Window.partitionBy(*keys)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy(*keys)
    cum = hist.withColumn("cum_n", F.sum("n").over(wc)).withColumn(
        "total_n", F.sum("n").over(wall)
    )
    outs = []
    for q in qs:
        # epsilon before ceil: q*total is an IEEE double, and an exact
        # integer product can land a hair ABOVE the true value (0.07 *
        # 100 = 7.000000000000001), which would round the needed count
        # UP one row — the same guard prefix_filter_jaccard_pairs uses
        # (mirrored in the q_histogram_merge DuckDB twin)
        need = F.ceil(F.lit(q) * F.col("total_n") - F.lit(1e-9))
        hit = cum.where(F.col("cum_n") >= need)
        wq = Window.partitionBy(*keys).orderBy("bin")
        outs.append(
            hit.withColumn("rn", F.row_number().over(wq))
            .where(F.col("rn") == 1)
            .select(
                *keys,
                F.lit(q).alias("q"),
                "bin",
                F.round(F.col("bin") * bin_width, 6).alias("bin_lo"),
                F.round((F.col("bin") + 1) * bin_width, 6).alias("bin_hi"),
                "cum_n",
                "total_n",
            )
        )
    u = outs[0]
    for o in outs[1:]:
        u = u.unionByName(o)
    return u.orderBy(*keys, "q")
