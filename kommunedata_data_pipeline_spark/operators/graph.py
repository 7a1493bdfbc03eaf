"""Iterative graph algorithms as DataFrame programs.

`dup_clusters` (operators/dedup.py) covers connected components; this
module adds rank propagation — PageRank in *integer* rank units so the
result is bit-identical across engines and partitionings:

- ranks live as BIGINT "micro-rank" units (base 150000 = 0.15 scaled by
  1e6 per the damping convention below);
- a node's contribution is ``rank div out_degree`` (exact integer
  division — the floor'd remainder is defined away by the algorithm
  statement, not a float rounding accident);
- update: ``150000 + (85 * sum(contribs)) div 100`` == damping 0.85
  with base 0.15, all in integers.

Float PageRank sums doubles in partition order — irreproducible across
engines AND across partitionings of the same engine; integer sums are
associative-commutative-exact, which is what makes an exact DuckDB
oracle (and a deterministic distributed run) possible.

Scale shape per iteration: one equi-join of ranks onto edges (both
sharded by src — co-partitioned after the first shuffle), one groupBy
dst (map-side combinable sum). Edges and degrees are computed once and
cached; no driver-side state, no full-graph collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import one_slot_cached

PR_BASE = 150000       # 0.15 in micro-rank units
PR_DAMP_NUM = 85       # damping 0.85 as a ratio
PR_DAMP_DEN = 100


def pagerank_integer(
    edges: DataFrame, n_iter: int = 5, shuffle_partitions: int | None = None
) -> DataFrame:
    """(node, r) integer PageRank after ``n_iter`` synchronous updates
    over ``edges(src, dst)``. Dangling nodes (no out-edges) simply leak
    their mass — the standard simplification, stated not hidden.

    ``shuffle_partitions`` is scoped to the iteration loop (the eager
    checkpoints materialize every round inside the scope): an iterative
    solver makes ~3 shuffles per round, so partition count must track
    the GRAPH size, not the session default — under a 200-partition
    session a 16k-node graph otherwise pays thousands of near-empty
    tasks per query. Defaults to the cluster's default parallelism.
    Results are partitioning-independent (integer math), only speed
    changes."""
    spark = edges.sparkSession
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    target = shuffle_partitions or spark.sparkContext.defaultParallelism
    spark.conf.set(key, str(target))
    try:
        return _pagerank_loop(edges, n_iter)
    finally:
        spark.conf.set(key, prev)


# Above this many nodes the per-round rank table stops being broadcast
# and the loop falls back to shuffle joins (co-partitioned on src after
# the first round). ~2M (node BIGINT, r BIGINT) rows ≈ 32 MB serialized —
# comfortably under executor broadcast budgets.
_PR_BROADCAST_MAX_NODES = 2_000_000


def _pagerank_loop(raw: DataFrame, n_iter: int) -> DataFrame:
    edges = one_slot_cached("graph_edges", raw, lambda: raw.select("src", "dst"))
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_nodes = nodes.count()
    small = n_nodes <= _PR_BROADCAST_MAX_NODES
    degs = edges.groupBy("src").agg(F.count("*").alias("deg"))
    # Degree is loop-invariant: staple it onto each edge ONCE so the
    # per-round plan is a single join with the rank table, not two.
    edges_deg = one_slot_cached(
        "pagerank_edges_deg",
        edges,
        lambda: edges.join(degs, "src").select("src", "dst", "deg"),
    )
    ranks = nodes.select("node", F.lit(PR_BASE).cast("bigint").alias("r"))
    for _ in range(n_iter):
        # The rank table is bounded by the NODE count — tiny next to the
        # edge set. While it fits the broadcast budget, shipping it to
        # the (cached, never-reshuffled) edges each round means the only
        # shuffle per iteration is the map-side-combinable groupBy(dst):
        # edge rows never move. Beyond the threshold (billion-edge
        # graphs) the same loop runs as shuffle joins.
        r = F.broadcast(ranks) if small else ranks
        contribs = (
            edges_deg.join(r, edges_deg["src"] == r["node"])
            .select(F.col("dst").alias("node"), F.expr("r div deg").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("contrib"))
        )
        contribs = F.broadcast(contribs) if small else contribs
        ranks = nodes.join(contribs, "node", "left").select(
            "node",
            (
                F.lit(PR_BASE)
                + F.expr(
                    f"({PR_DAMP_NUM} * coalesce(contrib, 0)) div {PR_DAMP_DEN}"
                )
            )
            .cast("bigint")
            .alias("r"),
        )
        # materialize + truncate lineage each round: without this the
        # plan for iteration i re-embeds (and re-executes) every prior
        # join/agg — O(n^2) work and an exploding DAG (same device as
        # dedup.dup_clusters)
        ranks = ranks.localCheckpoint(eager=True)
    return ranks


def triangle_count(edges: DataFrame) -> DataFrame:
    """Exact triangle count over undirected ``edges(u, v)`` (distinct,
    u < v) — one row ``(n_nodes, n_edges, n_triangles)``, all BIGINT.

    Degree-ordered node-iterator (Schank–Wagner; the MapReduce classic):
    orient every edge from its lower-(degree, id) endpoint to the
    higher one, generate wedges only at each node's oriented
    out-neighborhood, close against the oriented edge set. Out-degree
    is bounded by O(sqrt(2m)) under this orientation, so wedge fan-out
    per node — the quadratic step — is capped regardless of how skewed
    the raw degree distribution is (a celebrity node's millions of
    followers generate NO wedges at the celebrity; its edges are all
    inbound). Three shuffles total: degree groupBy, wedge self-join on
    apex, closing equi-join. Integer count — engine/partition exact."""
    deg = (
        edges.select(F.col("u").alias("n"))
        .unionAll(edges.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("deg"))
    )
    du = deg.select(F.col("n").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("deg").alias("dv"))
    oriented = (
        edges.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(
                    F.col("u").alias("s"), F.col("du").alias("ds"),
                    F.col("v").alias("t"), F.col("dv").alias("dt"),
                ),
            )
            .otherwise(
                F.struct(
                    F.col("v").alias("s"), F.col("dv").alias("ds"),
                    F.col("u").alias("t"), F.col("du").alias("dt"),
                )
            )
            .alias("e")
        )
        .select("e.s", "e.ds", "e.t", "e.dt")
    )
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    # wedge legs ordered by the same (deg, id) total order the edges are
    # oriented by, so the closing edge is guaranteed to point b -> c
    wedges = e1.join(e2, "s").where(
        (F.col("e1.dt") < F.col("e2.dt"))
        | ((F.col("e1.dt") == F.col("e2.dt")) & (F.col("e1.t") < F.col("e2.t")))
    ).select(F.col("e1.t").alias("b"), F.col("e2.t").alias("c"))
    closing = oriented.select(F.col("s").alias("b"), F.col("t").alias("c"))
    tri = wedges.join(closing, ["b", "c"]).agg(
        F.count("*").cast("bigint").alias("n_triangles")
    )
    stats = edges.agg(
        F.count("*").cast("bigint").alias("n_edges"),
    ).crossJoin(deg.agg(F.count("*").cast("bigint").alias("n_nodes")))
    return stats.crossJoin(tri).select("n_nodes", "n_edges", "n_triangles")


def bfs_levels(
    edges: DataFrame,
    sources: DataFrame,
    max_depth: int,
    shuffle_partitions: int | None = None,
    early_exit: bool = True,
) -> DataFrame:
    """(node, lvl) minimum hop distance (BIGINT, INT) from any node in
    ``sources(node)`` over directed ``edges(src, dst)``, explored to at
    most ``max_depth`` hops. Level-synchronous frontier BFS — the
    textbook Pregel traversal expressed as DataFrame rounds:

    - the frontier (nodes first reached in round i) joins onto the
      cached edge set; frontiers are bounded by the node count, so
      while small they broadcast and the (never-reshuffled) edge rows
      stay put — the only shuffle per round is the min-label groupBy;
    - "first reach wins" is the min over (visited ∪ newly-reached):
      levels only grow with rounds, so one map-side-combinable
      ``min(lvl)`` both dedups re-reached nodes and preserves the
      original label — and the next frontier is simply the rows
      labelled with the current depth, a filter over the materialized
      result instead of an anti-join job;
    - ``localCheckpoint(eager=True)`` per round truncates the lineage
      (same device as the pagerank loop above — without it round i
      re-executes every prior round);
    - with ``early_exit`` the loop stops when a frontier comes back
      empty, so ``max_depth`` is a guard for deep chains, not a forced
      cost; ``early_exit=False`` is the fixed-depth mode (the depth IS
      the semantics and frontiers never empty early) — it trades the
      per-round frontier count() job, pure scheduler floor when rounds
      are few, for ONE upfront node-count bound that pins the
      broadcast decision (any frontier is a subset of the nodes).

    Integer levels, first-reach dedup → result independent of
    partitioning and engine. Scale shape per round: one equi-join
    (frontier onto edges, broadcast while small) and one
    map-side-combinable groupBy — bounded by frontier x out-degree
    plus the visited set, never by the full edge set.

    Like the pagerank loop, shuffle partitions are scoped to the
    traversal (the eager checkpoints materialize every round inside
    the scope), and default to an ADAPTIVE count derived from the
    graph's node bound (~250k state rows per partition, floor 2, cap
    cluster parallelism): per-round state is node-bounded and narrow,
    so a 32-task round over an 800-node frontier is pure task-launch
    floor — measured 2x end-to-end. Results are
    partitioning-independent."""
    spark = edges.sparkSession
    raw = edges
    edges = one_slot_cached("graph_edges", raw, lambda: raw.select("src", "dst"))
    n_bound = _node_count_bound(edges)
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    target = shuffle_partitions or _adaptive_partitions(spark, n_bound)
    spark.conf.set(key, str(target))
    try:
        return _bfs_loop(edges, sources, max_depth, early_exit, n_bound)
    finally:
        spark.conf.set(key, prev)


def _node_count_bound(edges: DataFrame) -> int:
    return (
        edges.select(F.col(edges.columns[0]).alias("n"))
        .unionAll(edges.select(F.col(edges.columns[1]).alias("n")))
        .distinct()
        .count()
    )


# Per-round state tables are node-bounded and narrow (two BIGINTs):
# target enough rows per shuffle partition that task-launch floor never
# dominates, capped at the cluster's parallelism for big graphs.
_ROWS_PER_LOOP_PARTITION = 250_000


def _adaptive_partitions(spark, n_rows: int) -> int:
    return max(
        2,
        min(
            spark.sparkContext.defaultParallelism,
            -(-n_rows // _ROWS_PER_LOOP_PARTITION),
        ),
    )


def _bfs_loop(
    edges: DataFrame,
    sources: DataFrame,
    max_depth: int,
    early_exit: bool,
    n_bound: int,
) -> DataFrame:
    visited = (
        sources.select(F.col("node").cast("bigint"))
        .distinct()
        .select("node", F.lit(0).alias("lvl"))
        .localCheckpoint(eager=True)
    )
    if early_exit:
        n_bound = visited.count()
    frontier = visited
    for depth in range(1, max_depth + 1):
        f = (
            F.broadcast(frontier.select("node"))
            if n_bound <= _PR_BROADCAST_MAX_NODES
            else frontier.select("node")
        )
        reached = (
            f.join(edges, F.col("node") == F.col("src"))
            .select(F.col("dst").alias("node"), F.lit(depth).alias("lvl"))
        )
        # ONE shuffle + ONE materialization per round: min(lvl) over
        # (visited ∪ reached) IS first-reach-wins (lvl only grows), and
        # the next frontier falls out as the rows labelled this depth —
        # a filter over the checkpointed result, not an anti-join job.
        visited = (
            visited.unionAll(reached)
            .groupBy("node")
            .agg(F.min("lvl").alias("lvl"))
            .localCheckpoint(eager=True)
        )
        frontier = visited.where(F.col("lvl") == depth)
        if early_exit:
            n_bound = frontier.count()
            if n_bound == 0:
                break
    return visited.select("node", F.col("lvl").cast("int").alias("lvl"))


def sssp_bounded(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int,
    shuffle_partitions: int | None = None,
    early_exit: bool = True,
) -> DataFrame:
    """(node, dist) minimum path COST (BIGINT) from any node in
    ``sources(node)`` over weighted ``edges(src, dst, w)``, restricted
    to paths of at most ``max_hops`` edges — bounded Bellman-Ford as
    synchronous DataFrame rounds. The hop bound makes the semantics
    exact and oracle-able (the reference enumerates all bounded paths);
    on a DAG run it to the diameter for the unbounded answer.

    Unlike bfs_levels (first reach wins), a node's label here can
    IMPROVE in later rounds (a longer-hop path may be cheaper), so each
    round is: relax every current label across every edge, union the
    previous labels, keep the per-node min — three bounded steps (one
    equi-join, one map-side-combinable min) with the same
    broadcast-while-small + eager-checkpoint discipline as the
    pagerank loop. Integer weights keep min() associative and
    engine-exact. Frontier optimization: only labels that CHANGED last
    round are re-relaxed (unchanged labels cannot produce new
    improvements), so late rounds touch the still-moving subgraph
    only. Shuffle partitions are scoped to the loop and sized from the
    node bound, like bfs_levels."""
    spark = edges.sparkSession
    raw = edges
    edges = one_slot_cached(
        "graph_edges_w", raw, lambda: raw.select("src", "dst", "w")
    )
    n_bound = _node_count_bound(edges)
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    target = shuffle_partitions or _adaptive_partitions(spark, n_bound)
    spark.conf.set(key, str(target))
    try:
        return _sssp_loop(edges, sources, max_hops, early_exit, n_bound)
    finally:
        spark.conf.set(key, prev)


def _sssp_loop(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int,
    early_exit: bool,
    n_bound: int,
) -> DataFrame:
    dist = (
        sources.select(F.col("node").cast("bigint"))
        .distinct()
        .select("node", F.lit(0).cast("bigint").alias("dist"))
        .localCheckpoint(eager=True)
    )
    if early_exit:
        # changed-label counts drive early exit; the broadcast decision
        # then tracks the live frontier instead of the whole-graph bound
        n_bound = dist.count()
    frontier = dist
    for _ in range(max_hops):
        f = (
            F.broadcast(frontier)
            if n_bound <= _PR_BROADCAST_MAX_NODES
            else frontier
        )
        relaxed = f.join(edges, F.col("node") == F.col("src")).select(
            F.col("dst").alias("node"),
            (F.col("dist") + F.col("w")).alias("dist"),
            F.lit(1).alias("gen"),
        )
        # ONE shuffle + ONE materialization per round: tag old labels
        # gen=0 and relaxations gen=1, keep min(struct(dist, gen)) —
        # a strict improvement (or a brand-new node) surfaces gen=1, a
        # tie keeps the old label (gen 0 < 1). The changed-label
        # frontier then falls out as a filter over the materialized
        # result instead of a separate outer-join job.
        dist = (
            dist.select("node", "dist", F.lit(0).alias("gen"))
            .unionAll(relaxed)
            .groupBy("node")
            .agg(F.min(F.struct("dist", "gen")).alias("s"))
            .select("node", F.col("s.dist").alias("dist"), F.col("s.gen").alias("gen"))
            .localCheckpoint(eager=True)
        )
        frontier = dist.where(F.col("gen") == 1).select("node", "dist")
        if early_exit:
            n_bound = frontier.count()
            if n_bound == 0:
                break
    return dist.select("node", "dist")


def ancestor_pairs_doubling(
    parents: DataFrame, max_depth: int
) -> DataFrame:
    """All (ancestor, descendant) pairs of a forest ``parents(child,
    parent)`` up to ``max_depth`` levels, by POINTER DOUBLING: round k
    holds every pair at distance ≤ 2^k, and composing the relation
    with itself doubles the reach — ceil(log2(depth)) joins instead of
    depth frontier rounds. The third traversal shape next to
    bfs_levels (linear rounds) and recursive CTEs (path enumeration):
    the right tool when the graph is DEEP but the pair set is small
    (trees/forests: n·depth pairs), because join count is logarithmic
    in depth.

    Per round: one self equi-join of the pair set (descendant side of
    one onto ancestor side of the other), a union with the previous
    set, and a distinct — eager-checkpointed with the loop-scoped
    shuffle sizing the other iterative operators use. Self-pairs
    (node, node, 0) are included so the composition is reflexive;
    output is (anc, desc, dist) with exact integer distances
    (min-dist under DAG sharing — in a forest paths are unique)."""
    spark = parents.sparkSession
    base = parents.select(
        F.col("parent").cast("bigint").alias("anc"),
        F.col("child").cast("bigint").alias("desc"),
        F.lit(1).alias("dist"),
    )
    nodes = (
        base.select(F.col("anc").alias("n"))
        .unionAll(base.select(F.col("desc").alias("n")))
        .distinct()
    )
    pairs = (
        nodes.select(
            F.col("n").alias("anc"), F.col("n").alias("desc"),
            F.lit(0).alias("dist"),
        )
        .unionAll(base)
    )
    n_bound = _node_count_bound(base.select("anc", "desc"))
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(_adaptive_partitions(spark, n_bound * max_depth)))
    try:
        pairs = pairs.localCheckpoint(eager=True)
        reach = 1
        while reach < max_depth:
            a = pairs.select(
                F.col("anc"), F.col("desc").alias("mid"),
                F.col("dist").alias("d1"),
            )
            b = pairs.select(
                F.col("anc").alias("mid"), F.col("desc"),
                F.col("dist").alias("d2"),
            )
            composed = a.join(b, "mid").select(
                "anc", "desc", (F.col("d1") + F.col("d2")).alias("dist")
            )
            pairs = (
                composed.groupBy("anc", "desc")
                .agg(F.min("dist").alias("dist"))
                .localCheckpoint(eager=True)
            )
            reach *= 2
        return pairs.where(F.col("dist") <= max_depth)
    finally:
        spark.conf.set(key, prev)


def label_propagation(
    nodes: DataFrame,
    pairs: DataFrame,
    n_rounds: int = 2,
) -> DataFrame:
    """Semi-supervised label propagation over an undirected pair graph
    (Zhu & Ghahramani 2002, in its deterministic majority-vote form):
    ``nodes`` is (doc_id, seed_label) with seed_label NULL for
    unlabeled nodes; each synchronous round, every still-unlabeled
    node adopts the MAJORITY label among its labeled neighbours (ties
    broken on the lexicographically smallest label); seeds never
    change. ``n_rounds`` bounds propagation depth — the curation use
    is spreading a small audited label set (spam / quality / domain)
    across the near-dup graph, where components are shallow.

    Determinism: the vote is (count DESC, label ASC) per node — a
    total order, so both engines replay identical rounds. Unlabeled
    nodes with no labeled neighbour stay NULL (reported with
    round_assigned NULL).

    Scale shape per round: one equi-join of current labels onto the
    edge list + one (node, label) count groupBy + one argmax window
    partitioned by node; labels checkpoint-pinned per round (the
    iterative-DataFrame lineage discipline). Output: (doc_id, label,
    round_assigned)."""
    from pyspark.sql import Window

    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    edges = edges.unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    labels = nodes.select(
        F.col("doc_id"),
        F.col("seed_label").alias("label"),
        F.when(F.col("seed_label").isNotNull(), 0)
        .cast("int")
        .alias("round_assigned"),
    ).localCheckpoint(eager=False)
    for r in range(1, n_rounds + 1):
        votes = (
            edges.join(
                labels.where(F.col("label").isNotNull()).select(
                    F.col("doc_id").alias("dst"), "label"
                ),
                "dst",
            )
            .groupBy(F.col("src").alias("doc_id"), "label")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        wv = Window.partitionBy("doc_id").orderBy(
            F.col("n").desc(), F.col("label").asc()
        )
        winner = (
            votes.withColumn("rn", F.row_number().over(wv))
            .where(F.col("rn") == 1)
            .select("doc_id", F.col("label").alias("new_label"))
        )
        labels = (
            labels.join(winner, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce(F.col("label"), F.col("new_label")).alias(
                    "label"
                ),
                F.coalesce(
                    F.col("round_assigned"),
                    F.when(F.col("new_label").isNotNull(), r).cast("int"),
                ).alias("round_assigned"),
            )
            .localCheckpoint(eager=False)
        )
    return labels
