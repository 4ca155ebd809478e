"""Optimization profiler: time named queries end-to-end with the bench
methodology (fresh session, sf0.001 warmup pass, noop sink, caches
released between runs) and dump their `.explain("formatted")` plans to
plans/<round>/<query>_<tag>.txt.

Usage:
  python tools/profile_queries.py --round r12 --tag before [--runs 3] [--sf-dir DIR] q1 q2 ...
  python tools/profile_queries.py --round r12 --tag before --section v3   # whole bench section

The file is not named profile.py: run as a script, that would shadow
the stdlib `profile` module, which pyspark loads through cProfile.

Prints one line per query: min/median wall seconds over the runs plus
plan-shape counters (exchanges / SMJ / BHJ / Python-eval nodes), and a
final JSON line for scripting.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)



def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--section", action="append", default=[])
    ap.add_argument("--round", required=True, help="round label, e.g. r12")
    ap.add_argument("--tag", default=None, help="write plans/<round>/<q>_<tag>.txt")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--no-warm", action="store_true")
    args = ap.parse_args()
    plan_dir = os.path.join(REPO, "plans", args.round)

    from bench import SECTIONS, _prime_ivf
    from easy_etl_spark.plans.explain import plan_facts
    from easy_etl_spark.queries import QUERIES
    from easy_etl_spark.session import get_spark, reclaim_blocks, release_caches

    names = list(args.names)
    for sec in args.section:
        names.extend(n for n in SECTIONS[sec] if n not in names)

    spark = get_spark(f"profile-{args.round}")
    warm_dir = "/root/testdata/sf0.001"
    if not args.no_warm and os.path.isdir(warm_dir):
        for name in names:
            try:
                QUERIES[name](spark, warm_dir).write.mode("overwrite").format("noop").save()
            except Exception as e:
                print(f"warmup {name}: {type(e).__name__}: {e}", file=sys.stderr)
        release_caches()
    spark.read.parquet(os.path.join(args.sf_dir, "lineitem.parquet")).count()
    if any(n.startswith("knn_ivf") for n in names):
        _prime_ivf(spark, args.sf_dir)
    if "link_closest_shipdate" in names:
        QUERIES["link_closest_shipdate"](spark, args.sf_dir)

    if args.tag:
        os.makedirs(plan_dir, exist_ok=True)

    results = {}
    for name in names:
        fn = QUERIES[name]
        walls = []
        for _ in range(args.runs):
            spark.sparkContext.setJobDescription(f"{args.round}-profile: {name}")
            t0 = time.perf_counter()
            fn(spark, args.sf_dir).write.mode("overwrite").format("noop").save()
            walls.append(round(time.perf_counter() - t0, 3))
            release_caches()
            reclaim_blocks(spark)
        spark.sparkContext.setJobDescription(None)
        facts = plan_facts(fn(spark, args.sf_dir))
        release_caches()
        if args.tag:
            with open(os.path.join(plan_dir, f"{name}_{args.tag}.txt"), "w") as fh:
                fh.write(facts.text)
        walls.sort()
        med = walls[len(walls) // 2]
        py_nodes = (
            facts.text.count("BatchEvalPython")
            + facts.text.count("ArrowEvalPython")
            + facts.text.count("MapInPandas")
            + facts.text.count("PythonMapInArrow")
            + facts.text.count("MapInArrow")
        )
        results[name] = {
            "min": walls[0], "med": med, "runs": walls,
            "exch": facts.exchanges, "smj": facts.sort_merge_joins,
            "bhj": facts.broadcast_joins, "cart": facts.cartesian,
            "py": py_nodes,
        }
        print(
            f"{name:32s} min={walls[0]:7.3f} med={med:7.3f} "
            f"exch={facts.exchanges:2d} smj={facts.sort_merge_joins} "
            f"bhj={facts.broadcast_joins} cart={facts.cartesian} py={py_nodes}",
            flush=True,
        )
    print(json.dumps({"sf_dir": args.sf_dir, "results": results}))


if __name__ == "__main__":
    main()
