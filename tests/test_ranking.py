"""Banded global ranking primitives (operators/ranking.py): value
parity with the single-partition window forms they replace, plus plan
shape — no Sort -> Exchange SinglePartition anywhere."""

from __future__ import annotations

import random

from pyspark.sql import Row, Window
from pyspark.sql import functions as F

from easy_etl_spark.operators.ranking import global_prior_max, global_row_number


def _global_sorts(df) -> int:
    s = df._jdf.queryExecution().executedPlan().toString()
    lines = s.splitlines()
    return sum(
        1
        for i, line in enumerate(lines)
        if "Exchange SinglePartition" in line
        and "Sort [" in " ".join(lines[max(0, i - 2) : i])
    )


def test_global_row_number_matches_window_incl_ties(spark):
    rng = random.Random(7)
    rows = [Row(k=i, v=rng.randrange(50)) for i in range(500)]  # heavy ties
    df = spark.createDataFrame(rows).repartition(13)
    banded = global_row_number(df, [F.col("v"), F.col("k")], num_partitions=8)
    w = Window.orderBy(F.col("v"), F.col("k"))
    expect = {
        (r.v, r.k): r.rn
        for r in df.withColumn("rn", F.row_number().over(w)).collect()
    }
    got = {(r.v, r.k): r.rn for r in banded.collect()}
    assert got == expect
    assert _global_sorts(banded) == 0


def test_global_row_number_desc_and_total(spark):
    df = spark.createDataFrame([Row(k=i, v=i % 7) for i in range(100)])
    banded, total = global_row_number(
        df, [F.col("v").desc(), F.col("k")], with_total=True, num_partitions=5
    )
    assert total == 100
    w = Window.orderBy(F.col("v").desc(), F.col("k"))
    expect = {r.k: r.rn for r in df.withColumn("rn", F.row_number().over(w)).collect()}
    assert {r.k: r.rn for r in banded.collect()} == expect


def test_global_row_number_more_partitions_than_rows(spark):
    df = spark.createDataFrame([Row(k=i) for i in range(3)])
    got = sorted(
        (r.k, r.rn)
        for r in global_row_number(df, [F.col("k")], num_partitions=16).collect()
    )
    assert got == [(0, 1), (1, 2), (2, 3)]


def test_global_row_number_empty(spark):
    df = spark.createDataFrame([], "k long")
    banded, total = global_row_number(df, [F.col("k")], with_total=True)
    assert total == 0 and banded.count() == 0
    assert "rn" in banded.columns


def test_global_prior_max_matches_exclusive_window(spark):
    rng = random.Random(11)
    rows = [Row(k=i, v=rng.randrange(-40, 40)) for i in range(300)]
    df = spark.createDataFrame(rows).repartition(7)
    banded = global_prior_max(df, "v", [F.col("k")], num_partitions=6)
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, -1)
    expect = {
        r.k: r.pm
        for r in df.withColumn("pm", F.max("v").over(w)).collect()
    }
    got = {r.k: r.prior_max for r in banded.collect()}
    assert got == expect  # includes the globally-first NULL
    assert got[min(got)] is None
    assert _global_sorts(banded) == 0


def test_global_prior_max_single_partition_input(spark):
    df = spark.createDataFrame([Row(k=1, v=5), Row(k=2, v=3), Row(k=3, v=9)])
    got = {r.k: r.prior_max for r in global_prior_max(df, "v", [F.col("k")]).collect()}
    assert got == {1: None, 2: 5, 3: 5}


def test_global_row_number_null_keys_match_window(spark):
    """NULL order keys: RangePartitioner and Window.orderBy use the
    same SortOrder null placement (nulls first asc, last desc) — the
    banded rank must agree with the window form in both directions."""
    rows = [Row(k=i, v=(None if i % 7 == 0 else i % 5)) for i in range(60)]
    df = spark.createDataFrame(rows, "k long, v long").repartition(5)
    for order in ("asc", "desc"):
        cols = [F.col("v") if order == "asc" else F.col("v").desc(), F.col("k")]
        banded = global_row_number(df, cols, num_partitions=4)
        w = Window.orderBy(*cols)
        expect = {
            r.k: r.rn for r in df.withColumn("rn", F.row_number().over(w)).collect()
        }
        assert {r.k: r.rn for r in banded.collect()} == expect, order


def test_banded_rank_deterministic_on_large_raw_scan(spark, tmp_path):
    """Regression: RangePartitioner's boundary sampling is seeded by
    the physical RDD id, so the offsets pass and the final pass of an
    UNPERSISTED banded rank could draw different boundaries whenever a
    partition holds more rows than the sample size — duplicate and
    skipped ranks (reproduced on a raw 15k-row scan before _banded
    pinned the frame with a tracked persist). The rank must be a
    permutation of 1..n and stable across invocations."""
    import random

    from easy_etl_spark.session import release_caches

    rng = random.Random(17)
    rows = [(rng.randrange(10_000_000), i) for i in range(15000)]
    spark.createDataFrame(rows, "v long, k long").repartition(2).write.parquet(
        str(tmp_path / "raw")
    )
    df = spark.read.parquet(str(tmp_path / "raw"))
    outs = []
    for _ in range(2):
        ranked = global_row_number(df, [F.col("v"), F.col("k")], num_partitions=16)
        got = {r.k: r.rn for r in ranked.collect()}
        assert sorted(got.values()) == list(range(1, 15001)), "ranks not a permutation"
        outs.append(got)
        release_caches()
    assert outs[0] == outs[1], "rank assignment drifted between invocations"


def test_surrogate_consumer_reads_the_pin_as_a_scan(spark, tmp_path):
    """Keyed-dimension ids are positions in the pinned partitions: a
    consumer of ``with_surrogate_id`` plans no Window and no
    ``Exchange hashpartitioning(__pid)`` over the pinned scan, and reads
    a dimension-sized pin in one coalesced task."""
    from easy_etl_spark.operators.links import clear_surrogate_cache, with_surrogate_id

    path = str(tmp_path / "dim")
    spark.range(300).selectExpr("id * 7 % 300 AS k", "concat('v', id) AS v").write.parquet(path)
    clear_surrogate_cache()
    keyed = with_surrogate_id(spark.read.parquet(path), "k")
    consumer = keyed.groupBy("v").agg(F.min("id").alias("id"))
    plan = consumer._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan and "hashpartitioning(__pid" not in plan
    assert keyed.rdd.getNumPartitions() == 1
    assert sorted((r.k, r.id) for r in keyed.collect()) == [(k, k + 1) for k in range(300)]
    clear_surrogate_cache()
