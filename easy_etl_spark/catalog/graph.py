"""Graph family: PageRank, triangle count, BFS hop histogram,
k-core, label propagation and degree assortativity over the
customer–supplier and part co-purchase graphs.

The co-purchase builders (``_basket_pair_edges``,
``_copurchase_edges``, ``_copurchase_adjacency``) live here; the
basket pair expansion they share with the relational family lives in
``catalog.common``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.graph import bfs_hops_adjacency
from ..queries import register
from ..session import load_table, track_cache
from .common import _basket_pairs_per_order


@register(
    "pagerank_top20",
    """
    WITH e AS (
      SELECT DISTINCT 'C' || o_custkey AS src, 'S' || l_suppkey AS dst
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    nodes AS (
      SELECT 'C' || c_custkey AS node FROM customer
      UNION ALL
      SELECT 'S' || s_suppkey FROM supplier
    ),
    p AS (SELECT count(*) AS n FROM nodes),
    deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
    r0 AS (SELECT node, 1000000000000000 // (SELECT n FROM p) AS r FROM nodes),
    i1 AS (
      SELECT nodes.node,
             (3000000000000000 // (20 * (SELECT n FROM p)))
             + (17 * coalesce(m.m, 0)) // 20 AS r
      FROM nodes LEFT JOIN (
        SELECT e.dst AS node, sum(r0.r // deg.d) AS m
        FROM e JOIN r0 ON e.src = r0.node JOIN deg ON e.src = deg.src
        GROUP BY e.dst
      ) m USING (node)
    ),
    i2 AS (
      SELECT nodes.node,
             (3000000000000000 // (20 * (SELECT n FROM p)))
             + (17 * coalesce(m.m, 0)) // 20 AS r
      FROM nodes LEFT JOIN (
        SELECT e.dst AS node, sum(i1.r // deg.d) AS m
        FROM e JOIN i1 ON e.src = i1.node JOIN deg ON e.src = deg.src
        GROUP BY e.dst
      ) m USING (node)
    ),
    i3 AS (
      SELECT nodes.node,
             (3000000000000000 // (20 * (SELECT n FROM p)))
             + (17 * coalesce(m.m, 0)) // 20 AS r
      FROM nodes LEFT JOIN (
        SELECT e.dst AS node, sum(i2.r // deg.d) AS m
        FROM e JOIN i2 ON e.src = i2.node JOIN deg ON e.src = deg.src
        GROUP BY e.dst
      ) m USING (node)
    )
    SELECT node, CAST(r AS BIGINT) AS rank_units
    FROM i3 ORDER BY r DESC, node LIMIT 20
    """,
)
def pagerank_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three integer-exact PageRank iterations (operators/graph.py)
    over the customer→supplier purchase graph; top-20 vertices by
    rank. The oracle unrolls the identical integer recurrence as three
    CTE iterations — bit-equality proves the distributed loop."""
    from ..operators.graph import pagerank

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    edges = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.concat(F.lit("C"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("S"), F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    nodes = (
        load_table(spark, sf_dir, "customer")
        .select(F.concat(F.lit("C"), F.col("c_custkey")).alias("node"))
        .unionByName(
            load_table(spark, sf_dir, "supplier").select(
                F.concat(F.lit("S"), F.col("s_suppkey")).alias("node")
            )
        )
    )
    r = pagerank(nodes, edges, iters=3)
    return r.orderBy(F.col("rank_units").desc(), "node").limit(20)


# ----------------------------------------------------------------------
# Graph metrics: triangles + clustering coefficient
# ----------------------------------------------------------------------

@register(
    "triangle_count",
    """
    WITH edges AS (
      SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
      FROM lineitem l1 JOIN lineitem l2
        ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
    ),
    nodes AS (
      SELECT a AS v FROM edges UNION ALL SELECT b AS v FROM edges
    ),
    deg AS (SELECT v, count(*) AS d FROM nodes GROUP BY v),
    oriented AS (
      SELECT CASE WHEN (da.d, a) < (db.d, b) THEN a ELSE b END AS src,
             CASE WHEN (da.d, a) < (db.d, b) THEN b ELSE a END AS dst
      FROM edges JOIN deg da ON da.v = a JOIN deg db ON db.v = b
    ),
    tri AS (
      SELECT count(*) AS n_triangles
      FROM oriented e1
      JOIN oriented e2 ON e1.src = e2.src AND e1.dst < e2.dst
      JOIN edges c ON c.a = e1.dst AND c.b = e2.dst
    )
    SELECT (SELECT count(*) FROM deg) AS n_nodes,
           (SELECT count(*) FROM edges) AS n_edges,
           (SELECT CAST(sum(CAST(d * (d - 1) / 2 AS BIGINT)) AS BIGINT) FROM deg)
             AS n_wedges,
           n_triangles,
           round(3.0 * n_triangles
                 / (SELECT CAST(sum(CAST(d * (d - 1) / 2 AS BIGINT)) AS BIGINT)
                    FROM deg), 6) AS global_clustering
    FROM tri
    """,
)
def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the part
    co-purchase graph (parts appearing in the same order are adjacent).

    Scale: the classic degree-ordered orientation — every undirected
    edge points from its (degree, id)-smaller endpoint, so each
    triangle is enumerated EXACTLY once from its minimum vertex and the
    wedge fan-out is bounded by OUT-degree, O(sqrt(m)) per node instead
    of the raw degree (the difference between hours and seconds on
    power-law graphs).

    Shape: basket-style pair generation (per-order sorted item array,
    in-row pair expansion), ONE-shuffle undirected-adjacency build
    (collect_set per node = edge dedup + neighbor lists + degrees in a
    single aggregation), and the EDGE-ITERATOR close — per oriented
    edge (u,w), |N+(u) ∩ N+(w)| on sorted out-adjacency arrays — so
    the wedge set (Σ outdeg²; 148M pre-oriented wedges on the sf0.1
    graph) never materializes or shuffles. vs the round-3 self-join +
    wedge-join formulation: 11.7 s → 7.7 s cold, ~2.6 s warm at sf0.1
    (same counts bit-for-bit), and at cluster scale it removes the one
    shuffle that grows quadratically with degree — the difference
    between a dense co-occurrence graph job that finishes and one that
    doesn't. The degree join carries NO broadcast hint on purpose: the
    degree table is node-count-sized, and a forced broadcast would OOM
    the driver on a billion-node graph — AQE picks broadcast when it
    is actually small."""
    _PAIRS = (
        "flatten(transform({c}, (x, i) -> "
        "transform(slice({c}, i + 2, size({c})), y -> struct(x AS a, y AS b))))"
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ps")
    )
    raw = baskets.select(F.explode(F.expr(_PAIRS.format(c="ps"))).alias("e")).select(
        "e.a", "e.b"
    )
    # ONE shuffle builds the undirected adjacency: emit both directions
    # and collect_set per node — edge dedup, neighbor lists, and
    # degrees (= list size) all come out of the same aggregation, where
    # the join formulation needed distinct + a separate degree shuffle
    both = raw.select(F.col("a").alias("v"), F.col("b").alias("n")).unionAll(
        raw.select(F.col("b").alias("v"), F.col("a").alias("n"))
    )
    adj0 = track_cache(both.groupBy("v").agg(F.collect_set("n").alias("ns")))
    deg = adj0.select("v", F.size("ns").alias("d"))
    stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.sum("d") / 2).cast("bigint").alias("n_edges"),
        F.sum((F.col("d") * (F.col("d") - 1) / 2).cast("bigint")).alias("w"),
    )
    # orientation: explode each node's list, keep only (degree, id)-
    # larger neighbors, regroup to the sorted OUT-adjacency. The degree
    # side is node-count-sized with no broadcast hint — AQE broadcasts
    # it when small and shuffle-joins on a billion-node graph
    ex = adj0.select("v", F.size("ns").alias("dv"), F.explode("ns").alias("n"))
    exd = ex.join(deg.select(F.col("v").alias("n"), F.col("d").alias("dn")), "n")
    keep = exd.filter(
        (F.col("dv") < F.col("dn"))
        | ((F.col("dv") == F.col("dn")) & (F.col("v") < F.col("n")))
    )
    adj_o = keep.groupBy("v").agg(F.array_sort(F.collect_set("n")).alias("ds"))
    # edge-iterator close: per oriented edge (u,w), triangles counted
    # at their orientation-minimal apex = |N+(u) ∩ N+(w)| on the sorted
    # out-adjacency arrays — the wedge set never materializes or
    # shuffles; the intersection is per-row CPU inside one stage.
    # The adjacency side carries a shuffle_hash hint: it is node-count
    # rows × O(sqrt(m)) arrays, and AQE's sizeInBytes for nested-array
    # aggregates underestimates badly enough that it elected to
    # BROADCAST it at the 25× local rung — driver OOM (observed), and
    # on a real cluster the same. Shuffled-hash keeps it executor-side
    # at every scale; per-key adjacency lists make the hash build cheap.
    eo = adj_o.select("v", F.col("ds").alias("du"), F.explode("ds").alias("w"))
    closed = eo.join(
        adj_o.select(F.col("v").alias("w"), F.col("ds").alias("dw")).hint(
            "shuffle_hash"
        ),
        "w",
        "left",
    ).select(
        F.when(F.col("dw").isNull(), F.lit(0))
        .otherwise(F.size(F.array_intersect("du", "dw")))
        .alias("t")
    )
    tri = closed.agg(
        F.coalesce(F.sum("t"), F.lit(0)).cast("bigint").alias("n_triangles")
    )
    return tri.crossJoin(F.broadcast(stats)).select(
        "n_nodes",
        "n_edges",
        F.col("w").alias("n_wedges"),
        "n_triangles",
        F.round(F.lit(3.0) * F.col("n_triangles") / F.col("w"), 6).alias(
            "global_clustering"
        ),
    )


def _basket_pair_edges(li: DataFrame) -> DataFrame:
    """Distinct (a < b) part pairs co-appearing in at least one order
    (see _basket_pairs_per_order)."""
    return _basket_pairs_per_order(li).distinct()


def _copurchase_edges(li: DataFrame) -> DataFrame:
    """Undirected co-purchase edges (both directions) between parts
    appearing in the same order (see _basket_pair_edges)."""
    pairs = _basket_pair_edges(li)
    return pairs.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionAll(
        pairs.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )


def _copurchase_adjacency(li: DataFrame) -> DataFrame:
    """(v, ns) adjacency lists of the undirected co-purchase graph,
    built with ONE shuffle (round 11, guide §2.3/§8: shuffle the edge
    bytes once, then iterate on node-scale rows): basket pairs → both
    directions → collect_set per node. collect_set dedups parallel
    edges, so this equals grouping _copurchase_edges by src — the
    iterative consumers (lpa_communities, kcore_hindex,
    bfs_hop_histogram) then JOIN node-scale frames (|V| rows) per
    round and explode neighbor lists in-task, instead of re-shuffling
    the edge list every round. Same representation triangle_count
    already uses; per-node arrays are raw-degree-sized, bounded here
    by baskets-per-part × parts-per-basket (TPC-H: ~120 at any SF) —
    a graph with billion-degree hubs would need the hot rows split
    (salted sub-lists) before this layout, documented not implemented.
    Cached via track_cache; released by the caller's release_caches().
    """
    baskets = li.select("l_orderkey", "l_partkey").groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ps")
    )
    raw = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(ps, (x, i) ->"
                " transform(slice(ps, i + 2, size(ps)), y ->"
                "  struct(x AS a, y AS b))))"
            )
        ).alias("p")
    ).select("p.a", "p.b")
    both = raw.select(F.col("a").alias("v"), F.col("b").alias("n")).unionAll(
        raw.select(F.col("b").alias("v"), F.col("a").alias("n"))
    )

    return track_cache(both.groupBy("v").agg(F.collect_set("n").alias("ns")))


@register(
    "bfs_hop_histogram",
    """
    WITH RECURSIVE
    li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e0 AS (
      SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
      FROM li l1 JOIN li l2
        ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
    ),
    edges AS (
      SELECT a AS src, b AS dst FROM e0
      UNION SELECT b AS src, a AS dst FROM e0
    ),
    walk AS (
      SELECT (SELECT min(src) FROM edges) AS v, 0 AS d
      UNION
      SELECT e.dst AS v, w.d + 1 AS d
      FROM walk w JOIN edges e ON w.v = e.src
      WHERE w.d < 4
    ),
    dist AS (SELECT v, min(d) AS d FROM walk GROUP BY v)
    SELECT CAST(d AS BIGINT) AS hops, count(*) AS n_nodes
    FROM dist GROUP BY d
    """,
)
def bfs_hop_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop-distance histogram of a bounded BFS (4 hops) from the
    smallest part id over the co-purchase graph — the traversal
    primitive behind reachability, ego networks, and influence radius.

    Scale (round 11): frontier expansion over the one-shuffle
    adjacency (operators/graph.bfs_hops_adjacency) — per round one
    node-scale join + in-task neighbor explode, early exit when the
    frontier empties. The DuckDB oracle replays the identical bounded
    walk as a recursive CTE."""
    li = load_table(spark, sf_dir, "lineitem")
    # Round 11: frontier BFS over the one-shuffle adjacency (guide
    # §2.3/§2.4) — each round joins only the FRONTIER (node-scale,
    # AQE-broadcastable) against the cached adjacency and explodes
    # neighbor lists in-task, instead of re-shuffling the full edge
    # list against the whole visited set with a min-aggregate +
    # localCheckpoint per round (measured 6.98 s → ~4.4 s at sf0.1;
    # plan: per-round Exchange of edge-scale rows removed). A node's
    # distance is final the round it first appears (anti-join keeps
    # first discovery = min hop), so the histogram is identical to
    # the min-aggregate formulation and the oracle's recursive CTE.
    adj = _copurchase_adjacency(li)
    dist = bfs_hops_adjacency(adj, max_hops=4)
    return dist.groupBy(F.col("d").alias("hops")).agg(
        F.count(F.lit(1)).alias("n_nodes")
    )


def _kcore_oracle(rounds: int = 3) -> str:
    """DuckDB twin of kcore_hindex: degree init + `rounds` h-index
    iterations unrolled (H over neighbor values via max(least(rn, c))
    on a desc row_number — order among equal values cannot change H)."""
    step = """
    r{t} AS (
      SELECT src AS v, max(least(rn, c)) AS c FROM (
        SELECT e.src, p.c,
               row_number() OVER (PARTITION BY e.src ORDER BY p.c DESC) AS rn
        FROM edges e JOIN r{p} p ON p.v = e.dst
      ) GROUP BY src
    )"""
    parts = [
        "li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)",
        """e0 AS (
      SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
      FROM li l1 JOIN li l2
        ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
    )""",
        "edges AS (SELECT a AS src, b AS dst FROM e0 UNION ALL SELECT b, a FROM e0)",
        "r0 AS (SELECT src AS v, count(*) AS c FROM edges GROUP BY src)",
    ]
    for t in range(1, rounds + 1):
        parts.append(step.format(t=t, p=t - 1))
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
    SELECT CAST(c AS BIGINT) AS coreness, count(*) AS n_nodes
    FROM r{rounds} GROUP BY c
    """
    )


@register("kcore_hindex", _kcore_oracle())
def kcore_hindex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coreness (k-core number) histogram of the co-purchase graph via
    the iterated H-index (Lue et al. 2016: repeatedly replacing each
    node's value with the H-index of its neighbors' values converges
    from degrees to coreness) — the degeneracy/density screen behind
    community pruning and influence seeding. The registered query pins
    THREE rounds so the DuckDB oracle can unroll them as CTEs; the
    production path loops the same step to an exact fixpoint
    (convergence = zero changed values, like dedup_clusters).

    Round-8 rewrite: the per-round H-index no longer sorts an
    edge-sized frame. H over a neighbor-value multiset equals
    ``max over distinct values v of min(v, n_ge(v))`` where ``n_ge`` is
    the count of neighbors with value >= v (checking only the distinct
    values suffices: for any integer h between values, min(h, n_ge(h))
    is dominated by the next value up). Each round aggregates to
    (src, value, count) first — map-side combinable, output bounded by
    distinct values per node, not degree.

    Round-11 rewrite (guide §2.3/§2.4): the adjacency is built with
    ONE edge-byte shuffle (_copurchase_adjacency); each round joins it
    with the NODE-scale value frame and explodes neighbor lists
    in-task, so no edge-scale frame is ever re-shuffled. The
    descending cumulative-count window became an IN-ROW fold: collect
    the (value, count) pairs per node (second exchange, bounded by
    distinct values per node) and run the same max(min(c, n_ge))
    recurrence over the desc-sorted array with `aggregate` — the
    window's sort+Exchange disappear. Degrees fall out of the
    adjacency for free (size(ns)). No per-round localCheckpoint:
    three fixed rounds stay one lazy plan (AQE sees real exchange
    sizes; no dead checkpoint blocks — the round-11 degradation
    finding). Measured 7.83 s → ~4.4 s at sf0.1."""

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    adj = _copurchase_adjacency(li)
    c = adj.select("v", F.size("ns").cast("long").alias("c"))
    for _ in range(3):
        # Round 12 (guide §2.4): ONE src-keyed exchange per round — the
        # (src, value) pre-count plus its second exchange fold into a
        # single collect_list of RAW neighbor values with the same
        # desc-sorted H-index recurrence run positionally (min(v_i, i)
        # over the 1-based desc order; identical to the (value, count)
        # fold expanded). Byte trade recorded: the raw list forgoes the
        # (src, c)→count map-side combining, but neighbor values are
        # near-distinct per node here (multiplicity ~1), and the
        # whole second exchange disappears. Parity asserted at
        # sf0.001/sf0.1/sf1 (tools/exp_graph_r12.py); same-window A/B:
        # med 7.72 → 5.68 s at sf0.1, flat at sf1.
        c = (
            adj.join(c, "v")
            .select(F.explode("ns").alias("src"), "c")
            .groupBy(F.col("src").alias("v"))
            .agg(F.collect_list("c").alias("vs"))
            .select(
                "v",
                F.expr(
                    "aggregate(reverse(array_sort(vs)), "
                    "named_struct('i', 0L, 'best', 0L), "
                    "(a, x) -> named_struct('i', a.i + 1L, "
                    "'best', greatest(a.best, least(x, a.i + 1L))), "
                    "a -> a.best)"
                ).alias("c"),
            )
        )
    return c.groupBy(F.col("c").cast("bigint").alias("coreness")).agg(
        F.count(F.lit(1)).alias("n_nodes")
    )


# ----------------------------------------------------------------------
# label propagation communities
# ----------------------------------------------------------------------


def _lpa_oracle(rounds: int = 3) -> str:
    step = """
    r{t} AS (
      SELECT src AS v, label FROM (
        SELECT e.src, p.label,
               row_number() OVER (PARTITION BY e.src
                                  ORDER BY count(*) DESC, p.label) AS rn
        FROM edges e JOIN r{p} p ON p.v = e.dst
        GROUP BY e.src, p.label
      ) WHERE rn = 1
    )"""
    parts = [
        "li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)",
        """e0 AS (
      SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
      FROM li l1 JOIN li l2
        ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
    )""",
        "edges AS (SELECT a AS src, b AS dst FROM e0 UNION ALL SELECT b, a FROM e0)",
        "r0 AS (SELECT DISTINCT src AS v, src AS label FROM edges)",
    ]
    for t in range(1, rounds + 1):
        parts.append(step.format(t=t, p=t - 1))
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
    SELECT CAST(n_members AS BIGINT) AS n_members,
           count(*) AS n_communities
    FROM (SELECT label, count(*) AS n_members FROM r{rounds} GROUP BY label)
    GROUP BY n_members
    """
    )


@register("lpa_communities", _lpa_oracle())
def lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community-size histogram of the co-purchase graph under
    synchronous label propagation (Raghavan et al. 2007): labels start
    as node ids; each round every node adopts the most frequent label
    among its neighbors, ties broken by the smallest label — the
    deterministic variant, so 3 pinned rounds unroll as oracle CTEs
    (production loops to a change-count fixpoint, like dedup_clusters'
    min-label components — LPA differs by finding DENSE groups inside
    one component, not connectivity).

    Scale (round 11 rewrite, guide §2.3/§2.4): the adjacency is built
    with ONE edge-byte shuffle (_copurchase_adjacency) and each round
    is a NODE-scale join (labels × adjacency, |V| rows each side) with
    the neighbor lists exploded in-task, followed by two map-side-
    combinable aggregates — count per (node, label), then max_by for
    the most-frequent/smallest label (replacing the row_number window:
    max of the struct (cnt, -label) is exactly "highest count, then
    smallest label", and the struct is unique per group so the pick is
    deterministic). No per-round localCheckpoint: three fixed rounds
    stay one lazy plan, so AQE sees real sizes at every exchange —
    broadcast where small, shuffle at scale — and no dead checkpoint
    blocks pile up in executor storage (the round-11 degradation
    finding). Measured 10.97 s → ~5.7 s at sf0.1; per-round plan went
    from 3 Exchanges of edge-scale rows + sort to 1 node-scale join +
    2 aggregate Exchanges."""

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    adj = _copurchase_adjacency(li)
    lab = adj.select("v", F.col("v").alias("label"))
    for _ in range(3):
        # Round 12 (guide §2.4): the most-frequent/smallest-label pick
        # is exactly Spark 4's deterministic `mode(label, true)` —
        # highest count, ties to the LOWEST value — so the two
        # aggregates per round (count per (src, label), then max_by
        # per src) fold into ONE: a single src-keyed exchange whose
        # map-side partials are per-node label→count maps. Parity with
        # the max_by form asserted at sf0.001/sf0.1/sf1
        # (tools/exp_graph_r12.py); same-window A/B: med 8.78 → 6.54 s
        # at sf0.1, 32.0 → 24.4 s at sf1.
        lab = (
            adj.join(lab, "v")
            .select(F.explode("ns").alias("src"), "label")
            .groupBy(F.col("src").alias("v"))
            .agg(F.expr("mode(label, true)").alias("label"))
        )
    sizes = lab.groupBy("label").agg(F.count(F.lit(1)).alias("n_members"))
    return sizes.groupBy(F.col("n_members").cast("bigint").alias("n_members")).agg(
        F.count(F.lit(1)).alias("n_communities")
    )


# ----------------------------------------------------------------------
# Degree assortativity of the co-purchase graph
# ----------------------------------------------------------------------


@register(
    "degree_assortativity",
    """
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS (
      SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    nodes AS (SELECT a AS v FROM edges UNION ALL SELECT b AS v FROM edges),
    deg AS (SELECT v, count(*) AS d FROM nodes GROUP BY v),
    ed AS (
      SELECT da.d AS x, db.d AS y
      FROM edges JOIN deg da ON da.v = a JOIN deg db ON db.v = b
    ),
    s AS (
      SELECT count(*) AS m,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x + y) AS BIGINT) AS sxpy,
             CAST(sum(x * x + y * y) AS BIGINT) AS sx2y2
      FROM ed
    )
    SELECT (SELECT count(*) FROM deg) AS n_nodes,
           m AS n_edges, sxy, sxpy, sx2y2,
           CASE WHEN sx2y2 * 1.0 / (2 * m)
                     - (sxpy * 1.0 / (2 * m)) * (sxpy * 1.0 / (2 * m)) > 0
                THEN round((sxy * 1.0 / m
                            - (sxpy * 1.0 / (2 * m)) * (sxpy * 1.0 / (2 * m)))
                           / (sx2y2 * 1.0 / (2 * m)
                              - (sxpy * 1.0 / (2 * m))
                                * (sxpy * 1.0 / (2 * m))), 6)
                END AS r
    FROM s
    """,
)
def degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman degree-mixing coefficient r of the part co-purchase
    graph: the Pearson correlation of endpoint degrees over edges
    (each undirected edge contributing both orientations via the
    symmetric sums). r > 0 means hub parts co-sell with hubs.

    Scale: edge generation is the in-row basket pair expansion
    (_basket_pair_edges — cost Σ basket², never
    corpus², one basket shuffle instead of a self-join); degrees are
    one groupBy over both edge directions; the degree lookup joins are
    node-keyed with NO broadcast hint on the array-free narrow table
    (AQE sizes it accurately — contrast triangle_count's nested-array
    adjacency, which is hinted). All sums exact int64; r is a single
    guarded float expression."""

    li = load_table(spark, sf_dir, "lineitem")
    edges = _basket_pair_edges(li.select("l_orderkey", "l_partkey"))
    nodes = edges.select(F.col("a").alias("v")).unionAll(
        edges.select(F.col("b").alias("v"))
    )
    deg = nodes.groupBy("v").agg(F.count(F.lit(1)).alias("d"))
    ed = edges.join(
        deg.select(F.col("v").alias("a"), F.col("d").alias("x")), "a"
    ).join(deg.select(F.col("v").alias("b"), F.col("d").alias("y")), "b")
    s = ed.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") + F.col("y")).cast("bigint").alias("sxpy"),
        F.sum(F.col("x") * F.col("x") + F.col("y") * F.col("y"))
        .cast("bigint")
        .alias("sx2y2"),
    )
    nn = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    mean = F.col("sxpy") * 1.0 / (2 * F.col("m"))
    var = F.col("sx2y2") * 1.0 / (2 * F.col("m")) - mean * mean
    cov = F.col("sxy") * 1.0 / F.col("m") - mean * mean
    return s.crossJoin(F.broadcast(nn)).select(
        "n_nodes",
        F.col("m").alias("n_edges"),
        "sxy",
        "sxpy",
        "sx2y2",
        F.when(var > 0, F.round(cov / var, 6)).alias("r"),
    )
