"""Round-12 graph-family second pass (VERDICT r11 item 8): measure
candidate per-round shapes for lpa_communities / kcore_hindex against
the shipped round-11 forms, same-window interleaved.

Variants:
  lpa:   shipped  groupBy(src,label).count -> groupBy(src).max_by
         mode1x   groupBy(src).agg(mode(label, true))  [ONE exchange/round]
  kcore: shipped  groupBy(src,c).count -> groupBy(src).collect_list fold
         raw1x    groupBy(src).agg(collect_list(c)) + in-row desc fold
                  over RAW values  [ONE exchange/round]

Each variant must produce byte-identical final histograms (asserted on
the first rep against the shipped form).

Usage: python tools/exp_graph_r12.py [--reps 3] [--sf-dir DIR]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import DataFrame, functions as F  # noqa: E402


def lpa(spark, sf_dir: str, variant: str) -> DataFrame:
    from easy_etl_spark.catalog.graph import _copurchase_adjacency
    from easy_etl_spark.session import load_table

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    adj = _copurchase_adjacency(li)
    lab = adj.select("v", F.col("v").alias("label"))
    for _ in range(3):
        ex = adj.join(lab, "v").select(F.explode("ns").alias("src"), "label")
        if variant == "shipped":
            lab = (
                ex.groupBy("src", "label")
                .agg(F.count(F.lit(1)).alias("cnt"))
                .groupBy(F.col("src").alias("v"))
                .agg(
                    F.max_by(
                        "label",
                        F.struct(F.col("cnt"), (-F.col("label")).alias("nl")),
                    ).alias("label")
                )
            )
        elif variant == "mode1x":
            lab = ex.groupBy(F.col("src").alias("v")).agg(
                F.expr("mode(label, true)").alias("label")
            )
        else:
            raise ValueError(variant)
    sizes = lab.groupBy("label").agg(F.count(F.lit(1)).alias("n_members"))
    return sizes.groupBy(
        F.col("n_members").cast("bigint").alias("n_members")
    ).agg(F.count(F.lit(1)).alias("n_communities"))


def kcore(spark, sf_dir: str, variant: str) -> DataFrame:
    from easy_etl_spark.catalog.graph import _copurchase_adjacency
    from easy_etl_spark.session import load_table

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    adj = _copurchase_adjacency(li)
    c = adj.select("v", F.size("ns").cast("long").alias("c"))
    for _ in range(3):
        ex = adj.join(c, "v").select(F.explode("ns").alias("src"), "c")
        if variant == "shipped":
            c = (
                ex.groupBy("src", "c")
                .agg(F.count(F.lit(1)).alias("n"))
                .groupBy(F.col("src").alias("v"))
                .agg(F.collect_list(F.struct("c", "n")).alias("vs"))
                .select(
                    "v",
                    F.expr(
                        "aggregate(reverse(array_sort(vs)), "
                        "named_struct('acc', 0L, 'best', 0L), "
                        "(a, x) -> named_struct('acc', a.acc + x.n, "
                        "'best', greatest(a.best, least(x.c, a.acc + x.n))), "
                        "a -> a.best)"
                    ).alias("c"),
                )
            )
        elif variant == "raw1x":
            c = (
                ex.groupBy(F.col("src").alias("v"))
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
        else:
            raise ValueError(variant)
    return c.groupBy(F.col("c").cast("bigint").alias("coreness")).agg(
        F.count(F.lit(1)).alias("n_nodes")
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    args = ap.parse_args()

    from easy_etl_spark.session import get_spark, reclaim_blocks, release_caches

    spark = get_spark("exp-graph-r12")
    jobs = {
        "lpa:shipped": lambda d: lpa(spark, d, "shipped"),
        "lpa:mode1x": lambda d: lpa(spark, d, "mode1x"),
        "kcore:shipped": lambda d: kcore(spark, d, "shipped"),
        "kcore:raw1x": lambda d: kcore(spark, d, "raw1x"),
    }
    warm = "/root/testdata/sf0.001"
    # parity check at the warm rung AND the target rung's first rep
    for fam in ("lpa", "kcore"):
        a = sorted(map(tuple, jobs[f"{fam}:shipped"](warm).collect()))
        b_name = "mode1x" if fam == "lpa" else "raw1x"
        b = sorted(map(tuple, jobs[f"{fam}:{b_name}"](warm).collect()))
        release_caches()
        assert a == b, f"{fam} variant mismatch at warm rung: {a} vs {b}"
        print(f"parity {fam}: OK ({len(a)} rows)")
    spark.read.parquet(os.path.join(args.sf_dir, "lineitem.parquet")).count()

    walls: dict[str, list[float]] = {k: [] for k in jobs}
    for rep in range(args.reps):
        order = list(jobs) if rep % 2 == 0 else list(reversed(list(jobs)))
        for name in order:
            spark.sparkContext.setJobDescription(f"exp-graph {name} rep{rep}")
            t0 = time.perf_counter()
            jobs[name](args.sf_dir).write.mode("overwrite").format("noop").save()
            walls[name].append(round(time.perf_counter() - t0, 3))
            release_caches()
            reclaim_blocks(spark)
    # target-rung parity too (cheap relative to the timing reps)
    for fam, alt in (("lpa", "mode1x"), ("kcore", "raw1x")):
        a = sorted(map(tuple, jobs[f"{fam}:shipped"](args.sf_dir).collect()))
        release_caches()
        b = sorted(map(tuple, jobs[f"{fam}:{alt}"](args.sf_dir).collect()))
        release_caches()
        assert a == b, f"{fam} variant mismatch at {args.sf_dir}"
        print(f"parity {fam} @ target rung: OK ({len(a)} rows)")
    out = {
        k: {"runs": v, "min": min(v), "med": round(statistics.median(v), 3)}
        for k, v in walls.items()
    }
    out["sf_dir"] = args.sf_dir
    print(json.dumps(out))


if __name__ == "__main__":
    main()
