"""Round-12 regression gates (VERDICT r11 items 1/3 + ADVICE r11).

* ADVICE r11 medium: duplicate_clusters' DECIMAL(38,0) label-sum
  convergence probe is only valid for numeric id types — string ids
  cast to NULL, both round sums are None, and the loop exited after
  one round with under-propagated components. The probe now guards on
  a numeric label dtype and falls back to the exact changed-count
  comparison for everything else.
* VERDICT r11 item 3: the in-row pair expansion family
  (dedup._pair_intersections, the LSH bucket candidate expansion)
  must not materialize a hot key's |ids|²/2 struct array in ONE
  allocation — a 50k-member stop-shingle/celebrity bucket is a ~20 GB
  single-row array under the round-11 flatten(transform(...)) shape.
  The round-12 two-level explode keeps per-row memory O(|ids|) while
  producing the identical pair multiset.
* ADVICE r11 lows: bfs_hops_adjacency must derive its seed-frontier
  schema from the adjacency (not hardcode "v long");
  recursive_org_rollup must not leak its scoped temp view into the
  session catalog.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_duplicate_clusters_string_ids_propagate(spark):
    """String doc ids: a 3-node chain must fully propagate the min
    label (the broken DECIMAL probe converged after ONE round, leaving
    the far end of the chain labeled with the middle node)."""
    from easy_etl_spark.operators.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [("b", "c"), ("c", "d"), ("x", "y")], ["id_a", "id_b"]
    )
    out = {
        r["doc_id"]: r["cluster_id"]
        for r in duplicate_clusters(pairs).collect()
    }
    # chain b-c-d needs TWO propagation rounds for d -> "b"
    assert out == {"b": "b", "c": "b", "d": "b", "x": "x", "y": "x"}


def test_duplicate_clusters_bigint_ids_unchanged(spark):
    """The numeric fast path (one job per round, label-sum probe) must
    keep producing exact components for long ids."""
    from easy_etl_spark.operators.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [(2, 3), (3, 4), (4, 5), (10, 11)], ["id_a", "id_b"]
    )
    out = {
        r["doc_id"]: r["cluster_id"]
        for r in duplicate_clusters(pairs).collect()
    }
    assert out == {2: 2, 3: 2, 4: 2, 5: 2, 10: 10, 11: 10}


def test_pair_intersections_hot_key_parity(spark):
    """A 2000-member hot shingle through _pair_intersections: exactly
    S(S-1)/2 pairs, every count 1, id_a < id_b — the pair multiset the
    round-11 single-shot expansion produced."""
    from easy_etl_spark.operators.dedup import _pair_intersections

    s = 2000
    idx = spark.range(s).select(
        F.col("id").alias("__id"), F.lit("hot").alias("__sh")
    )
    pairs = _pair_intersections(idx)
    agg = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("__inter").alias("lo"),
        F.max("__inter").alias("hi"),
        F.sum(F.when(F.col("id_a") < F.col("id_b"), 0).otherwise(1)).alias(
            "bad_order"
        ),
    ).first()
    assert agg["n"] == s * (s - 1) // 2
    assert agg["lo"] == 1 and agg["hi"] == 1
    assert agg["bad_order"] == 0


def test_pair_expansion_streams_50k_member_hot_key(spark):
    """VERDICT r11 item 3's memory bound: a 50k-member list expands to
    its 1.25e9 pairs STREAMING — per-row peak memory is one O(|ids|)
    slice (~400 KB), never the |ids|²/2 struct array (~20-40 GB, a
    guaranteed task OOM at any executor size this side of absurd; the
    expansion below completes inside the 8 GB test JVM with room to
    spare precisely because no such allocation exists). Counting the
    generated pairs forces full evaluation of the Generate chain."""
    from easy_etl_spark.operators.dedup import _expand_sorted_pairs

    s = 50_000
    grouped = spark.range(1).select(
        F.sequence(F.lit(1), F.lit(s)).alias("ids")
    )
    n = _expand_sorted_pairs(grouped).agg(F.count(F.lit(1)).alias("n")).first()["n"]
    assert n == s * (s - 1) // 2


def test_bfs_hops_adjacency_non_long_ids(spark):
    """ADVICE r11: the seed frontier must take the adjacency's own node
    type — string ids used to type-mismatch against the hardcoded
    'v long' frame."""
    from easy_etl_spark.operators.graph import bfs_hops_adjacency

    adj = spark.createDataFrame(
        [("a", ["b"]), ("b", ["a", "c"]), ("c", ["b"])],
        ["v", "ns"],
    )
    out = {r["v"]: r["d"] for r in bfs_hops_adjacency(adj, source="a").collect()}
    assert out == {"a": 0, "b": 1, "c": 2}


def test_org_rollup_drops_scoped_view(spark, sf_dir):
    """ADVICE r11: the rollup's scoped customer view must not linger in
    the session catalog after the query is built."""
    from easy_etl_spark.queries import QUERIES

    df = QUERIES["recursive_org_rollup"](spark, sf_dir)
    assert df.count() > 0
    names = {t.name for t in spark.catalog.listTables()}
    assert not any("__org_customer" in n for n in names)
