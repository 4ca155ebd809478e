"""Wave-37 pins: semantic contracts for the CMS twin, bloom join
pruning, label propagation, and JL projection (the DuckDB oracle is
the primary gate; these pin what a twin query can't — sketch
overcount structure, the no-false-negative bloom guarantee, hand-built
community geometry, the JL concentration bound)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from easy_etl_spark.queries import QUERIES
from easy_etl_spark.session import load_table


def test_cms_overestimates_never_under(spark, sf_dir):
    """CMS structural guarantee: the point estimate can only
    overcount (collisions add, never subtract)."""
    rows = QUERIES["cms_heavy_hitters"](spark, sf_dir).collect()
    assert 1 <= len(rows) <= 20
    assert all(r.overcount >= 0 for r in rows)
    assert all(r.cms_est >= r.exact_cnt for r in rows)


def test_cms_exact_when_no_collisions(spark):
    """A single heavy key alone in the sketch is counted exactly: with
    one distinct key there is nothing to collide with, so every row's
    landed counter equals the true count and the min does too."""
    from easy_etl_spark.operators.sketches import _md5_u32
    from easy_etl_spark.catalog.stats import CMS_D, CMS_W

    ev = spark.range(137).select(F.lit(42).alias("user_id"))
    keyed = ev.select(
        F.posexplode(
            F.array(
                *[
                    (
                        _md5_u32(
                            F.concat(F.lit(f"{d}:"), F.col("user_id").cast("string"))
                        )
                        % CMS_W
                    )
                    for d in range(CMS_D)
                ]
            )
        ).alias("d", "idx")
    )
    regs = keyed.groupBy("d", "idx").agg(F.count(F.lit(1)).alias("reg"))
    got = regs.agg(F.min("reg"), F.max("reg")).first()
    assert got == (137, 137)


def test_bloom_no_false_negatives_and_fp_accounting(spark, sf_dir):
    """Bloom guarantee: every true member passes (n_bloom_pass >=
    n_true_match), false positives are exactly the surplus, and
    n_true_match matches an independently computed join count."""
    row = QUERIES["bloom_prune_join"](spark, sf_dir).first()
    assert row.n_bloom_pass >= row.n_true_match
    assert row.n_false_pos == row.n_bloom_pass - row.n_true_match
    cust = load_table(spark, sf_dir, "customer")
    seg = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders")
    n_true = orders.join(
        seg, orders["o_custkey"] == seg["c_custkey"], "left_semi"
    ).count()
    assert row.n_true_match == n_true
    assert row.n_probe == orders.count()
    assert 0 <= row.pass_rate_bp <= 10000


def test_lpa_disconnected_triangles(spark):
    """Hand-built geometry: two disconnected triangles converge (well
    within 3 rounds) to one community each — every node adopts its
    triangle's minimum id, sizes are {3, 3}."""
    tri = [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12)]
    both = tri + [(b, a) for a, b in tri]
    edges = spark.createDataFrame(both, ["src", "dst"]).persist()
    lab = (
        edges.select(F.col("src").alias("v"))
        .distinct()
        .withColumn("label", F.col("v"))
    )
    for _ in range(3):
        w = Window.partitionBy("src").orderBy(F.col("cnt").desc(), "label")
        lab = (
            edges.join(lab, edges["dst"] == lab["v"])
            .groupBy("src", "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("src").alias("v"), "label")
        )
    got = {r.v: r.label for r in lab.collect()}
    edges.unpersist()
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}


def test_lpa_registered_histogram_accounts_all_nodes(spark, sf_dir):
    """The community-size histogram partitions the node set: sum of
    n_members * n_communities equals the number of graph nodes."""
    from easy_etl_spark.catalog.graph import _copurchase_edges

    rows = QUERIES["lpa_communities"](spark, sf_dir).collect()
    assert rows and all(r.n_members >= 1 for r in rows)
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    n_nodes = _copurchase_edges(li).select("src").distinct().count()
    assert sum(r.n_members * r.n_communities for r in rows) == n_nodes


def test_jl_distortion_concentrates_around_one(spark, sf_dir):
    """JL concentration: the decile histogram covers every pair once,
    and the weighted mean ratio sits near 1.0 (E d2p = k * d2o for
    +-1 sign rows) — pinned loosely at [0.5, 2.0] since k=8 is a
    coarse sketch."""
    from easy_etl_spark.catalog.similarity import JL_SAMPLE

    rows = QUERIES["jl_projection_distortion"](spark, sf_dir).collect()
    n_ids = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < JL_SAMPLE)
        .count()
    )
    total = sum(r.n_pairs for r in rows)
    assert total == n_ids * (n_ids - 1) // 2  # no degenerate d2o==0 pairs here
    assert all(r.ratio_decile >= 0 for r in rows)
    mean_ratio = sum((r.ratio_decile + 0.5) / 10.0 * r.n_pairs for r in rows) / total
    assert 0.5 <= mean_ratio <= 2.0
