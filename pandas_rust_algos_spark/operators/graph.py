"""Link-graph analytics: distributed PageRank in FIXED-POINT integer
arithmetic.

The engine already has one iterative graph operator — connected
components via hash-min label propagation (``dedup.dup_clusters``,
used to resolve near-dup clusters). PageRank adds the other classic:
node centrality by power iteration, the standard way to weight crawl
frontiers and score document authority in a web-scale corpus
pipeline.

Why fixed point: float PageRank sums ``rank/out_degree`` doubles whose
addition order differs per partitioning — results drift between runs,
engines, and cluster sizes, so a float implementation can only ever be
"approximately tested". Here ranks are BIGINT micro-units
(``scale = 1e6`` ⇒ rank 1.0 ≡ 1_000_000): each edge carries
``rank DIV out_degree`` (integer division) and the damping update is
``(100-p)·scale/100 + p·Σcontribs DIV 100`` — all integer ops, so the
result is BIT-IDENTICAL regardless of partitioning or engine, and a
DuckDB oracle can replay the exact iteration (see
``sql_pagerank_fixed``). Quantization error is ≤ out_degree
micro-units per node per iteration — noise for ranking purposes, zero
for determinism purposes.

Scale shape: each iteration is the canonical 2-shuffle pagerank step
(edges⋈ranks on src, then Σ by dst). Edges are hash-partitioned on
``src`` ONCE up front so every iteration's join reuses that exchange
(Spark reuses the sorted/partitioned side; only the rank table — one
row per NODE, far smaller than edges — moves per iteration).
``checkpoint_every`` truncates the growing lineage with
``localCheckpoint`` exactly like ``dup_clusters`` does; iteration
count is fixed (power iteration, not convergence-tested), so the
driver never inspects data — there is no ``collect()`` anywhere.

Dangling nodes (no out-edges) contribute nothing — their mass leaks,
i.e. the common "non-normalized" convention; document scores are
relative so renormalization is a consumer choice. Pinned by tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from pandas_rust_algos_spark import cachelife

__all__ = [
    "pagerank_fixed",
    "shortest_hops",
    "sql_pagerank_fixed",
    "sql_triangle_counts",
    "triangle_counts",
]


def shortest_hops(
    edges: DataFrame,
    sources: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
    max_hops: int = 4,
) -> DataFrame:
    """Multi-source BFS: minimum hop count from any ``sources`` node to
    every node reachable within ``max_hops``; returns ``(node, hops)``
    (sources themselves at hops 0). The third classic iterative graph
    op next to PageRank and connected components — reachability /
    k-hop neighborhood expansion (crawl frontiers, fraud rings,
    lineage blast radius).

    BFS visits each node at its minimum distance by construction (the
    frontier for hop ``h`` is anti-joined against everything already
    visited), so the result equals the recursive-CTE ``MIN(hops)``
    closure an SQL engine computes — which is what makes this
    iterative operator fully value-hash-oracleable.

    Scale shape: edges are deduped and hash-partitioned on ``src``
    once; each of the ``max_hops`` iterations joins only the CURRENT
    FRONTIER (never the full visited set) against that partitioned
    edge list, then anti-joins the visited set to drop re-reached
    nodes. Frontiers shrink as the reachable set saturates — and an
    empty frontier is detected via the join becoming empty, with zero
    driver-side data inspection (no collect; the loop is a fixed
    ``max_hops`` unroll). ``localCheckpoint`` truncates each WAVE's
    lineage; the visited set is a flat union of those checkpointed
    waves, which needs no checkpoint of its own (every leaf is
    already in memory — materializing the union too paid a second
    eager job per wave for nothing, r12)."""
    if max_hops < 0:
        raise ValueError(f"max_hops must be >= 0, got {max_hops}")
    from pyspark import StorageLevel

    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .repartition("src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    visited = (
        sources.select(F.col(node).alias("node")).distinct()
        .withColumn("hops", F.lit(0).cast("long"))
        .localCheckpoint(eager=True)
    )
    frontier = visited
    try:
        for h in range(1, max_hops + 1):
            nxt = (
                frontier.join(e, frontier.node == e.src)
                .select(F.col("dst").alias("node"))
                .distinct()
                .join(visited, "node", "left_anti")
                .withColumn("hops", F.lit(h).cast("long"))
                .localCheckpoint(eager=True)
            )
            visited = visited.unionByName(nxt)
            frontier = nxt
    finally:
        # every wave is eagerly checkpointed, so the returned union
        # never re-reads e — release it before returning
        e.unpersist(blocking=False)
    return visited


def pagerank_fixed(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    damping_pct: int = 85,
    n_iter: int = 5,
    scale: int = 1_000_000,
    checkpoint_every: int = 0,
    broadcast_ranks: bool = False,
) -> DataFrame:
    """PageRank over directed ``edges``; returns ``(node, rank)`` with
    ``rank`` in integer ``scale``-units (1.0 ≡ ``scale``).

    ``damping_pct`` is the damping factor in percent (85 ⇒ 0.85) so the
    update stays in integer arithmetic end-to-end.

    ``broadcast_ranks=True`` adds an explicit broadcast hint on the
    per-iteration rank⋈edges join for clusters where the edge-side
    exchange demonstrably dominates. Default off: the rank table's
    size statistics already let Catalyst/AQE pick a broadcast join on
    their own, and measured locally the forced hint is *slower* (a
    driver collect+rebroadcast round-trip per iteration). Results are
    bit-identical either way.
    """
    if not 0 <= damping_pct <= 100:
        raise ValueError(f"damping_pct must be in [0,100], got {damping_pct}")
    if n_iter < 0:
        raise ValueError(f"n_iter must be >= 0, got {n_iter}")
    from pyspark import StorageLevel

    # Persist the loop invariants: without this, lazy evaluation
    # re-runs the whole edge lineage (scan + distinct + repartition)
    # and the degree/node aggregations once PER ITERATION — the #1
    # iterative-algorithm mistake on Spark. MEMORY_AND_DISK because at
    # graph scale the edge set may not fit in executor memory. All
    # three caches are referenced by the RETURNED lazy plan (the
    # iteration unroll), so they are tracked for deferred release by
    # the materializing caller.
    e = cachelife.track(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        # the one edge shuffle, reused every iteration: partition by
        # DST — the rank⋈edge join broadcasts the rank side (tiny), so
        # the edge partitioning survives the join and the per-iteration
        # contribution groupBy("dst") reuses it with NO new exchange
        # (guide §2.4 "two operations keyed the same way share one
        # exchange"); keyed by src it was re-shuffled every iteration
        .repartition("dst")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    nodes = cachelife.track(
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # out-degree FOLDED ONTO the persisted edges once (a src-keyed
    # count window over the cached edge partitions — no join): the
    # former per-iteration ``contribs ⋈ deg`` ran n_iter times, and at
    # graph scale deg is node-sized (NOT broadcastable), so each
    # iteration paid a full edge⋈deg shuffle join. The window costs
    # one src-keyed exchange at setup; ``ed`` then re-partitions by
    # dst so the per-iteration contribution groupBy("dst") still
    # reuses the cached partitioning with no new exchange (guide §1.2
    # "remove per-iteration work", §2.4).
    ed = cachelife.track(
        e.withColumn(
            "deg",
            F.count(F.lit(1)).over(
                Window.partitionBy("src")),
        )
        .repartition("dst")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    base = (100 - damping_pct) * scale // 100
    ranks = nodes.withColumn("rank", F.lit(scale).cast("long"))
    for i in range(n_iter):
        r = F.broadcast(ranks) if broadcast_ranks else ranks
        contribs = (
            ed.join(r, ed.src == r.node)
            .select("dst", F.expr("rank div deg").alias("c"))
        )
        sums = contribs.groupBy("dst").agg(F.sum("c").alias("s"))
        ranks = (
            nodes.join(sums, nodes.node == sums.dst, "left")
            .select(
                "node",
                (F.lit(base)
                 + F.expr(f"({damping_pct} * coalesce(s, 0L)) div 100"))
                .cast("long").alias("rank"),
            )
        )
        if checkpoint_every and (i + 1) % checkpoint_every == 0:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


def triangle_counts(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node triangle counts over an undirected graph: ``(node,
    n_triangles)`` for every node in at least one triangle. The fourth
    classic graph op next to PageRank, components, and BFS — local
    clustering / community density (link-farm and bot-ring detection
    in a crawl corpus).

    Degree-ordered EDGE-ITERATOR enumeration (the standard distributed
    algorithm, MPC/vertex-centric form): canonicalize to undirected
    distinct edges, orient every edge from its lower endpoint to its
    higher endpoint under the total order ``(degree, node)`` — the
    oriented graph is a DAG whose out-degrees are bounded by
    O(sqrt(m)), so hub nodes get IN-edges only and no adjacency list
    explodes — then count, per oriented edge ``u→v``, the out-neighbor
    intersection ``N+(u) ∩ N+(v)``. A triangle with oriented edges
    ``x→y, x→z, y→z`` is found exactly once, at edge ``(x,y)`` (its
    two orientation-lowest vertices): ``z`` is in both out-lists,
    while edges ``(x,z)`` and ``(y,z)`` see empty intersections.

    Why intersections instead of materializing wedges: a wedge
    self-join shuffles Σ C(outdeg,2) rows (41M on the sf0.1 basket
    graph) just to semi-join most of them away; intersecting
    adjacency ARRAYS touches the same pairs as vectorized in-memory
    hash probes and only materializes actual triangles (3 rows per
    triangle, 7× fewer here — measured 1.6× faster end-to-end).

    Scale shape: one distinct-edge shuffle, one degree aggregation,
    one ``collect_list`` adjacency build (per-node lists bounded
    O(sqrt(m)) by the orientation), two edge⋈adjacency hash joins —
    no collect, no iteration, and the result (a per-node count) is
    partitioning-independent, which is why this enumeration strategy
    can be oracled against a plain 3-way SQL join over the canonical
    ``a < b`` edge list."""
    from pyspark import StorageLevel

    # Persist the reused frames (guide §5, the pagerank_fixed recipe):
    # without this, lazy evaluation re-derives the canonical edge list
    # — including whatever expensive lineage produced ``edges`` (the
    # basket gate's collect_set + pair expansion) — once per reference:
    # ``e`` feeds the degree union (×2), the orientation join, and
    # through ``o`` both adjacency probes, so the edge derivation ran
    # ~6× (measured: a 419-operator plan with the scan→aggregate→
    # explode→distinct subtree repeated in every branch). MEMORY_AND_DISK
    # because at graph scale the edge set may not fit in memory. All
    # four caches ride the RETURNED plan → tracked for deferred release.
    e = cachelife.track(
        edges.where(F.col(src) != F.col(dst))
        .select(
            F.least(src, dst).alias("a"),
            F.greatest(src, dst).alias("b"),
        )
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    deg = cachelife.track(
        e.select(F.col("a").alias("v"))
        .union(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    da = deg.select(F.col("v").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("deg").alias("db"))
    low = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    o = cachelife.track(
        e.join(da, "a").join(db, "b")
        .select(
            F.when(low, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(low, F.col("b")).otherwise(F.col("a")).alias("v"),
        )
        # referenced by the adjacency build AND the intersection probe
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    from pyspark.sql.types import ArrayType

    # referenced twice (both endpoints' out-list probes)
    adj = cachelife.track(
        o.groupBy("u").agg(F.collect_list("v").alias("nbrs"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    empty = F.array().cast(ArrayType(e.schema["a"].dataType))
    au = adj.select("u", F.col("nbrs").alias("nu"))
    av = adj.select(F.col("u").alias("v"), F.col("nbrs").alias("nv"))
    # left joins: orientation-maximal nodes (graph-global sinks) have
    # no out-list; their edges still probe the OTHER endpoint's list
    tw = (
        o.join(au, "u", "left").join(av, "v", "left")
        .select(
            "u", "v",
            F.array_intersect(
                F.coalesce("nu", empty), F.coalesce("nv", empty)
            ).alias("ws"),
        )
    )
    third = tw.select(F.explode("ws").alias("node"),
                      F.lit(1).cast("long").alias("c"))
    ends = tw.where(F.size("ws") > 0).select(
        F.explode(F.array("u", "v")).alias("node"),
        F.size("ws").cast("long").alias("c"),
    )
    return (
        third.union(ends)
        .groupBy("node")
        .agg(F.sum("c").cast("long").alias("n_triangles"))
    )


def sql_triangle_counts(edges_sql: str) -> str:
    """DuckDB twin of :func:`triangle_counts`: the canonical ``a < b``
    edge list 3-way-joined (each triangle ``x < y < z`` found once via
    edges ``(x,y), (y,z), (x,z)``), exploded to per-node counts. The
    Spark side's degree orientation is an execution strategy only —
    the triangle SET is identical. ``edges_sql`` must select columns
    ``src, dst``."""
    return f"""
    WITH e AS (
      SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      FROM ({edges_sql}) WHERE src <> dst
    ),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM e e1
      JOIN e e2 ON e2.a = e1.b
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM (
      SELECT x AS node FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri
    )
    GROUP BY node
    """


def sql_pagerank_fixed(
    edges_sql: str,
    *,
    damping_pct: int = 85,
    n_iter: int = 5,
    scale: int = 1_000_000,
) -> str:
    """DuckDB twin replaying the exact integer iteration: the power
    loop unrolls into ``n_iter`` CTE layers (plain GROUP BYs — no
    recursive-CTE aggregation restrictions), bit-identical to
    :func:`pagerank_fixed` because every op is integer. ``edges_sql``
    must select columns ``src, dst``."""
    base = (100 - damping_pct) * scale // 100
    parts = [
        f"e AS (SELECT DISTINCT src, dst FROM ({edges_sql}))",
        "nodes AS (SELECT DISTINCT node FROM "
        "(SELECT src AS node FROM e UNION ALL SELECT dst FROM e))",
        "deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src)",
        f"pr0 AS (SELECT node, CAST({scale} AS BIGINT) AS rank FROM nodes)",
    ]
    for i in range(n_iter):
        parts.append(
            f"c{i} AS (SELECT e.dst AS node, SUM(p.rank // d.deg) AS s "
            f"FROM e JOIN pr{i} p ON e.src = p.node "
            f"JOIN deg d ON e.src = d.src GROUP BY e.dst)"
        )
        parts.append(
            f"pr{i + 1} AS (SELECT n.node, CAST({base} + "
            f"({damping_pct} * COALESCE(c.s, 0)) // 100 AS BIGINT) AS rank "
            f"FROM nodes n LEFT JOIN c{i} c ON n.node = c.node)"
        )
    return "WITH " + ",\n".join(parts) + f"\nSELECT node, rank FROM pr{n_iter}"
