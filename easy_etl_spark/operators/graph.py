"""Graph algorithms over edge DataFrames: PageRank (the second graph
op next to dedup.duplicate_clusters' connected components).

Determinism design: ranks are carried as INTEGER units of 1e-15 —
per-edge contributions use integer division by out-degree, damping is
the exact rational 17/20, and every aggregation is an integer sum, so
the result is bit-identical under any partitioning AND engine (a
float PageRank drifts in the 12th digit per accumulation order, which
a value-hash gate would flag). Dangling-node mass is dropped (the
simplified textbook variant), documented rather than redistributed.

Scale shape: each iteration is one join of the edge list with the
current ranks (shuffle keyed by src) plus one dst-keyed aggregate —
the standard Pregel-on-relational layout. Iterations unroll into the
lineage; for tens of iterations insert localCheckpoint like
duplicate_clusters does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: rank unit = 1e-15 of total mass
UNIT = 10**15


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    iters: int = 3,
    node_col: str = "node",
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Integer-unit PageRank with damping 0.85 (= 17/20 exactly).

    ``nodes``: one row per vertex (isolated vertices included);
    ``edges``: distinct directed (src, dst). Returns (node, rank_units)
    where rank_units ≈ rank · 1e15.

    Fixed ``iters`` keeps bit-exact parity with SQL oracles that unroll
    the recurrence; when the iteration count should instead track the
    data (bigger graphs need more rounds), use :func:`pagerank_until`,
    which runs this exact recurrence to an integer-exact tolerance.
    """
    n = nodes.count()
    r0 = UNIT // n
    base = (3 * UNIT) // (20 * n)  # (1 - 17/20) / n in units

    deg = edges.groupBy(src_col).agg(F.count(F.lit(1)).alias("__deg"))
    ranks = nodes.select(F.col(node_col)).withColumn("rank_units", F.lit(r0))
    for _ in range(iters):
        contrib = (
            edges.join(ranks, edges[src_col] == ranks[node_col])
            .join(deg, src_col)
            .select(
                F.col(dst_col).alias("__dst"),
                F.expr("rank_units div __deg").alias("__c"),
            )
        )
        incoming = contrib.groupBy("__dst").agg(F.sum("__c").alias("__m"))
        ranks = (
            nodes.select(F.col(node_col))
            .join(incoming, F.col(node_col) == F.col("__dst"), "left")
            .select(
                node_col,
                (
                    F.lit(base)
                    + F.expr("17 * coalesce(__m, 0L) div 20")
                ).alias("rank_units"),
            )
        )
    return ranks


def pagerank_until(
    nodes: DataFrame,
    edges: DataFrame,
    tol_units: int = 10**9,
    max_iter: int = 50,
    node_col: str = "node",
    src_col: str = "src",
    dst_col: str = "dst",
) -> "tuple[DataFrame, int, int]":
    """Convergence-checked PageRank: iterate the same integer recurrence
    as :func:`pagerank` until the max per-node change is ≤ ``tol_units``
    (exact — ranks are integers, so the test is free of float noise;
    ``tol_units=0`` detects a true fixed point) or ``max_iter`` rounds.
    Returns (ranks, rounds_run, final_max_delta).

    Bound: per-round changes contract by the damping factor 17/20, so
    rounds ≤ log_{20/17}(U/tol) ≈ 9·ln(U/tol) — e.g. ~130 rounds to
    tol 1e9 from a cold start in the worst case, far fewer on real
    graphs. Each round localCheckpoints (constant-size lineage) and
    runs one extra max-|Δ| aggregate — the price of not silently
    under-iterating when the data is 100× bigger than the test graph.
    """
    n = nodes.count()
    r0 = UNIT // n
    base = (3 * UNIT) // (20 * n)

    deg = edges.groupBy(src_col).agg(F.count(F.lit(1)).alias("__deg"))
    ranks = (
        nodes.select(F.col(node_col))
        .withColumn("rank_units", F.lit(r0))
        .localCheckpoint()
    )
    rounds, delta = 0, UNIT
    for rounds in range(1, max_iter + 1):
        contrib = (
            edges.join(ranks, edges[src_col] == ranks[node_col])
            .join(deg, src_col)
            .select(
                F.col(dst_col).alias("__dst"),
                F.expr("rank_units div __deg").alias("__c"),
            )
        )
        incoming = contrib.groupBy("__dst").agg(F.sum("__c").alias("__m"))
        new_ranks = (
            nodes.select(F.col(node_col))
            .join(incoming, F.col(node_col) == F.col("__dst"), "left")
            .select(
                node_col,
                (F.lit(base) + F.expr("17 * coalesce(__m, 0L) div 20")).alias(
                    "rank_units"
                ),
            )
            .localCheckpoint()
        )
        delta = int(
            new_ranks.alias("n")
            .join(ranks.alias("o"), node_col)
            .agg(
                F.max(
                    F.abs(F.col("n.rank_units") - F.col("o.rank_units"))
                ).alias("d")
            )
            .first()["d"]
        )
        ranks = new_ranks
        if delta <= tol_units:
            break
    return ranks, rounds, delta


def bfs_hops_adjacency(
    adj: DataFrame,
    source=None,
    max_hops: int = 8,
    node_col: str = "v",
    neighbors_col: str = "ns",
) -> DataFrame:
    """Frontier BFS over an UNDIRECTED adjacency-list frame
    ``(v, ns: array)`` (round 11; see
    catalog/graph.py::_copurchase_adjacency — every edge must appear in
    both endpoints' lists). Returns (v, d) with the exact minimum hop
    distance (<= max_hops) from ``source`` (default: smallest node id).

    Each round joins only the CURRENT FRONTIER — node-scale, with
    cache-known stats so AQE broadcasts it while it is small and falls
    back to a shuffle join when it is not — against the adjacency and
    explodes neighbor lists in-task. In an undirected graph adjacent
    nodes' distances differ by at most 1, so a neighbor of the
    (h-1)-frontier has distance h-2, h-1, or h: anti-joining against
    just the previous TWO frontiers (not the whole visited set) keeps
    exactly the new nodes, and keeps each round's plan referencing a
    bounded window of cached frames instead of an ever-growing visited
    chain. First discovery IS the minimum distance, so no
    min-aggregate is needed. Compared to the edge-list formulation
    (bfs_hops) this removes the per-round Exchange of edge-scale rows
    and the per-round localCheckpoint (whose dead blocks pile up in
    executor storage until GC — the round-11 degradation finding).
    Frontiers ride track_cache, so the caller's release_caches()
    reclaims them."""
    from ..session import track_cache

    spark = adj.sparkSession
    adj = adj.select(
        F.col(node_col).alias("v"), F.col(neighbors_col).alias("ns")
    )
    if source is None:
        source = adj.agg(F.min("v")).first()[0]
    # seed frame takes the adjacency's OWN node type (ADVICE r11: a
    # hardcoded "v long" type-mismatched non-long node ids despite the
    # operator exposing node_col generality)
    f0 = track_cache(
        spark.createDataFrame([(source,)], adj.select("v").schema)
    )
    frontiers = [f0]  # frontiers[h] = nodes first seen at hop h
    for h in range(1, max_hops + 1):
        nxt = (
            adj.join(frontiers[-1], "v")
            .select(F.explode("ns").alias("v"))
            .distinct()
        )
        for prev in frontiers[-2:]:
            nxt = nxt.join(prev, "v", "left_anti")
        frontier = track_cache(nxt)
        if frontier.count() == 0:
            break
        frontiers.append(frontier)
    dist = frontiers[0].withColumn("d", F.lit(0).cast("long"))
    for h, f in enumerate(frontiers[1:], start=1):
        dist = dist.unionAll(f.withColumn("d", F.lit(h).cast("long")))
    return dist


def bfs_hops(
    edges: DataFrame,
    source,
    max_hops: int = 8,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Bounded BFS: exact hop distance (<= max_hops) from ``source``
    over a DIRECTED edge list (pass both directions for undirected
    graphs). Returns (v, d).

    Pregel-on-relational frontier expansion: each round joins the
    current distance set with the edge list (shuffle keyed by the
    node id) and keeps the min distance. A node's distance is final
    the round it first appears, so a stable node count means
    convergence — the early exit makes max_hops a cap, not a cost.
    localCheckpoint truncates the growing lineage like pagerank_until.

    The edge list is persisted for the duration of the loop: its
    lineage may be expensive (bfs_hop_histogram feeds a distinct'd
    self-join) and every round re-reads it, so without the persist an
    h-hop BFS pays the edge construction h+1 times (measured 38 s →
    17 s at sf1 on the co-purchase graph). The cache is dropped
    before returning — each round's ``dist`` is eagerly
    localCheckpointed, so the returned frame never re-reads edges.
    """
    spark = edges.sparkSession
    dist = spark.createDataFrame([(source, 0)], ["v", "d"]).select(
        F.col("v").cast("long"), F.col("d").cast("long")
    )
    edges = edges.persist()
    try:
        n_prev = 1
        for _ in range(max_hops):
            nxt = dist.join(edges, dist["v"] == edges[src_col]).select(
                F.col(dst_col).alias("v"), (F.col("d") + 1).alias("d")
            )
            dist = (
                dist.unionAll(nxt)
                .groupBy("v")
                .agg(F.min("d").alias("d"))
                .localCheckpoint()
            )
            n_now = dist.count()
            if n_now == n_prev:
                break
            n_prev = n_now
    finally:
        edges.unpersist()
    return dist
