"""Wave-39 pins: prefix-filter pruning evidence and the exact-boundary
theorem edge, FD panel semantics, and the CMS join-size overcount
guarantee (the DuckDB oracle is the primary gate — notably the
jaccard_prefix_join oracle is the UNFILTERED quadratic join, so the
hash match itself proves no-false-negatives; these pin the rest)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from easy_etl_spark.queries import QUERIES
from easy_etl_spark.session import load_table, release_caches


def test_prefix_filter_prunes_candidates(spark, sf_dir):
    """The point of the filter: the prefix-x-prefix candidate set is
    strictly smaller than the full inverted-index pair set on the
    synthetic corpus (which plants high-overlap near-dups)."""
    from easy_etl_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    idx = dedup._shingle_index(docs, "text", "doc_id", 3).cache()
    try:
        a, b = idx.alias("a"), idx.alias("b")
        full = (
            a.join(
                b,
                (F.col("a.__sh") == F.col("b.__sh"))
                & (F.col("a.__id") < F.col("b.__id")),
            )
            .select("a.__id", "b.__id")
            .distinct()
            .count()
        )
        freq = idx.groupBy("__sh").agg(F.count(F.lit(1)).alias("__df"))
        sizes = idx.groupBy("__id").agg(F.count(F.lit(1)).alias("__n"))
        ranked = idx.join(freq, "__sh").withColumn(
            "__rn",
            F.row_number().over(Window.partitionBy("__id").orderBy("__df", "__sh")),
        )
        prefix = (
            ranked.join(sizes, "__id")
            .filter(
                F.col("__rn")
                <= F.col("__n")
                - F.expr("CAST((8000 * __n + 9999) DIV 10000 AS INT)")
                + 1
            )
            .select("__id", "__sh")
        )
        pa, pb = prefix.alias("a"), prefix.alias("b")
        cand = (
            pa.join(
                pb,
                (F.col("a.__sh") == F.col("b.__sh"))
                & (F.col("a.__id") < F.col("b.__id")),
            )
            .select("a.__id", "b.__id")
            .distinct()
            .count()
        )
    finally:
        idx.unpersist()
    assert cand < full
    assert cand >= QUERIES["jaccard_prefix_join"](spark, sf_dir).count()
    release_caches()


def test_prefix_join_equals_full_inverted_index(spark, sf_dir):
    """Same pair set (and exact intersections) as the unfiltered
    inverted-index operator at the same threshold."""
    from easy_etl_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    got = {
        (r.id_a, r.id_b, r.inter)
        for r in QUERIES["jaccard_prefix_join"](spark, sf_dir).collect()
    }
    full = {
        (r.id_a, r.id_b)
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    assert {(a, b) for a, b, _ in got} == full
    release_caches()


def test_prefix_filter_exact_threshold_boundary(spark):
    """The theorem's worst case: two 9-shingle docs sharing exactly 8
    shingles sit at Jaccard = 8/10 = 0.8000 — ON the threshold with
    tiny sets, where a sloppy prefix length would drop the pair."""
    from easy_etl_spark.catalog.dedup import prefix_filtered_jaccard_pairs

    t = [f"w{i}" for i in range(11)]
    doc_a = " ".join(t[:11])  # shingles (t0..t2)..(t8,t9,t10): 9
    doc_b = " ".join(t[:10] + ["zz"])  # 8 shared + (t8,t9,zz): 9
    docs = spark.createDataFrame(
        [(1, doc_a), (2, doc_b)], "doc_id long, text string"
    )
    rows = prefix_filtered_jaccard_pairs(docs).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.id_a, r.id_b, r.inter, r.jaccard_bp) == (1, 2, 8, 8000)
    release_caches()


def test_fd_panel_semantics(spark, sf_dir):
    """Key-lhs dependencies hold exactly; the priority -> status
    hypothesis fails with at most 5 lhs groups (the TPC-H domain)."""
    rows = {(r.lhs, r.rhs): r for r in QUERIES["fd_discovery"](spark, sf_dir).collect()}
    assert rows[("o_orderkey", "o_custkey")].holds == 1
    assert rows[("o_orderkey", "o_orderstatus")].n_violating_groups == 0
    bad = rows[("o_orderpriority", "o_orderstatus")]
    assert bad.holds == 0 and bad.n_groups <= 5 and bad.n_surplus_values > 0
    for r in rows.values():
        assert (r.holds == 1) == (r.n_surplus_values == 0)
        assert r.n_violating_groups <= r.n_surplus_values


def test_join_size_estimate_never_undercounts(spark, sf_dir):
    """AGMS/CMS inner-product guarantee: collisions only add cross
    terms, so every hash row's estimate >= the exact join size; the
    exact size matches an independent per-key computation."""
    rows = QUERIES["join_size_cms"](spark, sf_dir).collect()
    assert len(rows) == 4
    assert all(r.overcount >= 0 for r in rows)
    assert all(r.est_join == r.exact_join + r.overcount for r in rows)
    ev = load_table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "click").groupBy("user_id").count()
    b = ev.filter(F.col("event_type") == "purchase").groupBy("user_id").count()
    exact = (
        a.join(b.withColumnRenamed("count", "cb"), "user_id")
        .agg(F.sum(F.col("count") * F.col("cb")))
        .first()[0]
    )
    assert rows[0].exact_join == exact
