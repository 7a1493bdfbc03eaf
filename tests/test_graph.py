"""Integer PageRank operator (operators/graph.py) vs a pure-Python
reference implementation of the same integer algorithm."""

from __future__ import annotations

from kommunedata_data_pipeline_spark.operators.graph import (
    PR_BASE,
    PR_DAMP_DEN,
    PR_DAMP_NUM,
    pagerank_integer,
)

EDGES = [(1, 2), (2, 3), (3, 1), (3, 2), (4, 3)]


def _reference(edges, n_iter):
    nodes = sorted({n for e in edges for n in e})
    out_deg = {}
    for s, _ in edges:
        out_deg[s] = out_deg.get(s, 0) + 1
    ranks = {n: PR_BASE for n in nodes}
    for _ in range(n_iter):
        contrib = {n: 0 for n in nodes}
        for s, d in edges:
            contrib[d] += ranks[s] // out_deg[s]
        ranks = {
            n: PR_BASE + (PR_DAMP_NUM * contrib[n]) // PR_DAMP_DEN for n in nodes
        }
    return ranks


def test_pagerank_matches_reference(spark):
    df = spark.createDataFrame(EDGES, "src long, dst long")
    got = {r.node: r.r for r in pagerank_integer(df, 5, shuffle_partitions=4).collect()}
    assert got == _reference(EDGES, 5)


def test_pagerank_restores_shuffle_conf(spark):
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    df = spark.createDataFrame(EDGES, "src long, dst long")
    pagerank_integer(df, 2, shuffle_partitions=4)
    assert spark.conf.get(key) == before


def test_triangle_count_matches_bruteforce(spark):
    from itertools import combinations

    from kommunedata_data_pipeline_spark.operators.graph import triangle_count

    # K4 on {1..4} (4 triangles) + a pendant (5) + a 5-cycle {6..10}
    # (0 triangles) + one chord 6-8 (1 triangle)
    und = sorted(
        {tuple(sorted(e)) for e in combinations([1, 2, 3, 4], 2)}
        | {(4, 5), (6, 7), (7, 8), (8, 9), (9, 10), (6, 10), (6, 8)}
    )
    adj = {tuple(e) for e in und}
    expect = sum(
        1
        for a, b, c in combinations(sorted({n for e in und for n in e}), 3)
        if (a, b) in adj and (b, c) in adj and (a, c) in adj
    )
    row = triangle_count(spark.createDataFrame(und, "u long, v long")).collect()[0]
    assert row.n_triangles == expect == 5
    assert row.n_nodes == 10 and row.n_edges == len(und)


def test_bfs_levels_matches_reference_bfs(spark):
    from collections import deque

    from kommunedata_data_pipeline_spark.operators.graph import bfs_levels

    # diamond + chain + an unreachable island {20, 21}; 8 is reachable
    # two ways (levels must take the min), 9 only via the long chain
    edges = [
        (1, 2), (1, 3), (2, 4), (3, 4), (4, 5), (5, 8),
        (2, 8), (8, 9), (20, 21),
    ]

    def ref(srcs, max_depth):
        adj = {}
        for s, d in edges:
            adj.setdefault(s, []).append(d)
        lvl = {s: 0 for s in srcs}
        dq = deque(srcs)
        while dq:
            n = dq.popleft()
            if lvl[n] >= max_depth:
                continue
            for m in adj.get(n, []):
                if m not in lvl:
                    lvl[m] = lvl[n] + 1
                    dq.append(m)
        return lvl

    e = spark.createDataFrame(edges, "src long, dst long")
    for srcs, depth in [([1], 10), ([1], 2), ([1, 20], 10)]:
        s = spark.createDataFrame([(x,) for x in srcs], "node long")
        got = {r.node: r.lvl for r in bfs_levels(e, s, depth).collect()}
        assert got == ref(srcs, depth), (srcs, depth)


def test_bfs_levels_first_reach_wins_not_relabelled(spark):
    from kommunedata_data_pipeline_spark.operators.graph import bfs_levels

    # node 3 reachable at level 1 (1->3) and level 2 (1->2->3): must be 1
    e = spark.createDataFrame([(1, 2), (1, 3), (2, 3)], "src long, dst long")
    s = spark.createDataFrame([(1,)], "node long")
    got = {r.node: r.lvl for r in bfs_levels(e, s, 5).collect()}
    assert got == {1: 0, 2: 1, 3: 1}


def test_sssp_bounded_matches_reference(spark):
    from kommunedata_data_pipeline_spark.operators.graph import sssp_bounded

    # 1->2->4 (cost 1+1=2) beats direct 1->4 (cost 10): the label of 4
    # must IMPROVE after first reach; 5 only via the expensive edge
    edges = [(1, 2, 1), (2, 4, 1), (1, 4, 10), (4, 5, 2), (1, 3, 7)]

    def ref(srcs, max_hops):
        import itertools

        best = {s: 0 for s in srcs}
        frontier = {s: 0 for s in srcs}
        for _ in range(max_hops):
            nxt = {}
            for (u, v, w) in edges:
                if u in frontier:
                    cand = frontier[u] + w
                    if cand < best.get(v, 1 << 60):
                        best[v] = cand
                        nxt[v] = cand
            frontier = nxt
        return best

    e = spark.createDataFrame(edges, "src long, dst long, w long")
    for srcs, hops in [([1], 10), ([1], 1), ([1, 4], 10)]:
        s = spark.createDataFrame([(x,) for x in srcs], "node long")
        got = {
            r.node: r.dist
            for r in sssp_bounded(e, s, hops, shuffle_partitions=4).collect()
        }
        assert got == ref(srcs, hops), (srcs, hops)


def test_sssp_hop_bound_is_semantic(spark):
    from kommunedata_data_pipeline_spark.operators.graph import sssp_bounded

    # chain 1->2->3->4 (cost 1 each) + shortcut 1->4 cost 5: with
    # max_hops=2 the chain can't reach 4, so dist(4) = 5; with 3 it's 3
    e = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 1), (3, 4, 1), (1, 4, 5)],
        "src long, dst long, w long",
    )
    s = spark.createDataFrame([(1,)], "node long")
    two = {r.node: r.dist for r in sssp_bounded(e, s, 2, 4).collect()}
    three = {r.node: r.dist for r in sssp_bounded(e, s, 3, 4).collect()}
    assert two[4] == 5 and three[4] == 3


def test_bfs_and_sssp_random_dags_match_reference(spark):
    """Randomized DAGs (seeded): frontier BFS and bounded Bellman-Ford
    vs plain-Python references — covers multi-parent min-label merges,
    unreachable islands, and label improvement chains the hand graphs
    can't enumerate."""
    import random

    from kommunedata_data_pipeline_spark.operators.graph import (
        bfs_levels,
        sssp_bounded,
    )

    rng = random.Random(7)
    for trial in range(3):
        n = rng.randint(8, 20)
        edges = []
        for u in range(n):
            for v in range(u + 1, n):
                if rng.random() < 0.25:
                    edges.append((u, v, rng.randint(1, 9)))
        if not edges:
            continue
        srcs = [0, rng.randrange(n)]
        depth = rng.randint(1, 4)

        lvl = {s: 0 for s in srcs}
        frontier = set(srcs)
        for d in range(1, depth + 1):
            nxt = set()
            for (u, v, _) in edges:
                if u in frontier and v not in lvl:
                    nxt.add(v)
            for v in nxt:
                lvl[v] = d
            frontier = nxt

        dist = {s: 0 for s in srcs}
        fr = dict(dist)
        for _ in range(depth):
            nxt = {}
            for (u, v, w) in edges:
                if u in fr and fr[u] + w < min(dist.get(v, 1 << 60), nxt.get(v, 1 << 60)):
                    nxt[v] = fr[u] + w
            for v, c in nxt.items():
                if c < dist.get(v, 1 << 60):
                    dist[v] = c
            fr = nxt

        e = spark.createDataFrame(edges, "src long, dst long, w long")
        s = spark.createDataFrame([(x,) for x in set(srcs)], "node long")
        got_lvl = {
            r.node: r.lvl
            for r in bfs_levels(e.select("src", "dst"), s, depth, 4).collect()
        }
        assert got_lvl == lvl, (trial, depth)
        got_dist = {r.node: r.dist for r in sssp_bounded(e, s, depth, 4).collect()}
        assert got_dist == dist, (trial, depth)


def test_ancestor_pairs_doubling_matches_reference(spark):
    from kommunedata_data_pipeline_spark.operators.graph import (
        ancestor_pairs_doubling,
    )

    # forest: a chain 1->2->3->4->5 (parent is the LOWER id) + a
    # star 10->{11,12} + an isolated edge 20->21
    parents = [(2, 1), (3, 2), (4, 3), (5, 4), (11, 10), (12, 10), (21, 20)]

    def ref(max_depth):
        par = {c: p for c, p in parents}
        nodes = {n for e in parents for n in e}
        out = {}
        for n in nodes:
            cur, d = n, 0
            out[(n, n)] = 0
            while cur in par and d < max_depth:
                cur, d = par[cur], d + 1
                out[(cur, n)] = d
        return out

    df = spark.createDataFrame(parents, "child long, parent long")
    for depth in (1, 2, 16):
        got = {
            (r.anc, r.desc): r.dist
            for r in ancestor_pairs_doubling(df, depth).collect()
        }
        assert got == ref(depth), depth


def _cache_pins(spark) -> int:
    """Persistent RDDs that are cache pins: localCheckpoint also persists
    its RDD (freed by the context cleaner on GC, not by the operator), so
    those are left out of the count."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    return sum(
        1
        for k in rdds.keySet().toArray()
        if not rdds.get(k).rdd().isLocallyCheckpointed()
    )


def test_pagerank_releases_edge_pins_between_calls(spark):
    """Each call caches its edge tables through the shared one-slot
    cache, so a second call on a fresh edge frame evicts the first
    call's pins instead of adding to them."""
    def run():
        df = spark.createDataFrame(EDGES, "src long, dst long")
        pagerank_integer(df, 2, shuffle_partitions=4).collect()
        return _cache_pins(spark)

    first = run()
    assert run() <= first
