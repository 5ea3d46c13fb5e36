"""Tests for fixed-point PageRank (operators/graph.py): agreement with
a pure-Python replay of the integer iteration, stationary cycle,
dangling-mass convention, partition invariance (bit-exactness), and
the checkpointed path."""

from __future__ import annotations

from collections import Counter, defaultdict

import pytest

from pandas_rust_algos_spark.operators.graph import pagerank_fixed

SCALE = 1_000_000


def _ref(edges, n_iter=5, damping_pct=85, scale=SCALE):
    es = sorted(set(edges))
    nodes = sorted({n for e in es for n in e})
    deg = Counter(s for s, _ in es)
    rank = {n: scale for n in nodes}
    base = (100 - damping_pct) * scale // 100
    for _ in range(n_iter):
        sums = defaultdict(int)
        for s, d in es:
            sums[d] += rank[s] // deg[s]
        rank = {n: base + damping_pct * sums.get(n, 0) // 100 for n in nodes}
    return rank


def _run(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {r["node"]: r["rank"]
            for r in pagerank_fixed(df, **kw).collect()}


def test_cycle_is_stationary(spark):
    got = _run(spark, [(1, 2), (2, 3), (3, 1)], n_iter=4)
    assert got == {1: SCALE, 2: SCALE, 3: SCALE}


def test_star_matches_reference(spark):
    edges = [(i, 0) for i in range(1, 6)] + [(0, 1)]
    assert _run(spark, edges, n_iter=5) == _ref(edges, n_iter=5)
    # hub receives everything -> must outrank the spokes
    got = _run(spark, edges, n_iter=5)
    assert got[0] > got[2]


def test_dangling_mass_leaks(spark):
    # 1 -> 2, 2 has no out-edges: total mass shrinks per iteration
    edges = [(1, 2)]
    got = _run(spark, edges, n_iter=3)
    assert got == _ref(edges, n_iter=3)
    assert sum(got.values()) < 2 * SCALE


def test_partition_invariance_bit_exact(spark):
    edges = [(i, (i * 7) % 23) for i in range(100)] + \
            [((i * 3) % 23, i) for i in range(50)]
    df = spark.createDataFrame(edges, "src long, dst long")
    a = {r["node"]: r["rank"]
         for r in pagerank_fixed(df, n_iter=4).collect()}
    b = {r["node"]: r["rank"]
         for r in pagerank_fixed(df.repartition(17), n_iter=4).collect()}
    assert a == b == _ref(edges, n_iter=4)


def test_bad_args(spark):
    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError):
        pagerank_fixed(df, damping_pct=101)
    with pytest.raises(ValueError):
        pagerank_fixed(df, n_iter=-1)


# ------------------------------------------------------- BFS (round 4)


def test_shortest_hops_line_graph(spark):
    from pandas_rust_algos_spark.operators.graph import shortest_hops

    # 1→2→3→4→5 directed line; from node 1 dist = index-1
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 5)], "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {r["node"]: r["hops"]
           for r in shortest_hops(edges, seeds, max_hops=10).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4}
    # max_hops truncates reachability
    got3 = {r["node"]: r["hops"]
            for r in shortest_hops(edges, seeds, max_hops=2).collect()}
    assert got3 == {1: 0, 2: 1, 3: 2}


def test_shortest_hops_min_distance_and_multisource(spark):
    from pandas_rust_algos_spark.operators.graph import shortest_hops

    # diamond with a shortcut: 1→2→4, 1→3→4, 1→4 — node 4 is at hop 1,
    # NOT 2 (first visit wins); 9→9 self loop isolated component
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4), (1, 4), (9, 9)],
        "src long, dst long")
    seeds = spark.createDataFrame([(1,), (9,)], "node long")
    got = {r["node"]: r["hops"]
           for r in shortest_hops(edges, seeds, max_hops=5).collect()}
    assert got == {1: 0, 9: 0, 2: 1, 3: 1, 4: 1}


# ----------------------------------------- triangle counts (round 5)


def _tri_ref(edges):
    """Brute-force per-node triangle counts over undirected edges."""
    from itertools import combinations

    adj = defaultdict(set)
    for s, d in edges:
        if s != d:
            adj[s].add(d)
            adj[d].add(s)
    counts = Counter()
    for x, y, z in combinations(sorted(adj), 3):
        if y in adj[x] and z in adj[x] and z in adj[y]:
            counts[x] += 1
            counts[y] += 1
            counts[z] += 1
    return dict(counts)


def _tri_run(spark, edges):
    from pandas_rust_algos_spark.operators.graph import triangle_counts

    df = spark.createDataFrame(edges, "src long, dst long")
    return {r["node"]: r["n_triangles"]
            for r in triangle_counts(df).collect()}


def test_triangle_single(spark):
    assert _tri_run(spark, [(1, 2), (2, 3), (3, 1)]) == {1: 1, 2: 1, 3: 1}


def test_triangle_none_in_bipartite_or_tree(spark):
    # a star (tree) and a 4-cycle (bipartite) are triangle-free
    assert _tri_run(spark, [(0, 1), (0, 2), (0, 3)]) == {}
    assert _tri_run(spark, [(1, 2), (2, 3), (3, 4), (4, 1)]) == {}


def test_triangle_dedup_reverse_and_self_edges(spark):
    # duplicate, reversed, and self edges collapse to one triangle
    edges = [(1, 2), (2, 1), (2, 3), (3, 1), (1, 3), (1, 1), (3, 3)]
    assert _tri_run(spark, edges) == {1: 1, 2: 1, 3: 1}


def test_triangle_k4_and_pendant(spark):
    # K4: every vertex is in C(3,2)=3 triangles; a pendant joins none
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    got = _tri_run(spark, k4 + [(3, 9)])
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_triangle_matches_bruteforce_random(spark):
    import random

    rng = random.Random(7)
    edges = list({(rng.randrange(12), rng.randrange(12))
                  for _ in range(40)})
    assert _tri_run(spark, edges) == _tri_ref(edges)
