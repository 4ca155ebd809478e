"""Generate PLANS.md: physical-plan facts for every headline query —
the reviewable evidence that each plan has the shape we claim
(broadcasts for dims, pushdown/pruning at the scan, no cartesian or
accidental sort-merge joins, wide codegen spans).

Usage: python tools/plan_report.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import HEADLINE, HEADLINE_V2
from easy_etl_spark.plans.explain import executed_plan_facts
from easy_etl_spark.queries import QUERIES
from easy_etl_spark.session import get_spark, register_views


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("plan-report")
    register_views(spark, sf_dir)
    lines = [
        "# PLANS — physical-plan facts for the headline queries",
        "",
        f"Generated by `python tools/plan_report.py {sf_dir}`. Columns: broadcast",
        "hash joins / sort-merge joins / cartesian products / shuffle exchanges /",
        "whole-stage-codegen spans, plus the filters pushed into each parquet scan.",
        "The regression gate for these properties is `tests/test_plan_quality.py`.",
        "",
        "| query | BHJ | SMJ | cart | exch | codegen | pushed filters |",
        "|---|---|---|---|---|---|---|",
    ]
    for name in HEADLINE + HEADLINE_V2:
        try:
            f = executed_plan_facts(QUERIES[name](spark, sf_dir))
        except Exception as e:  # pragma: no cover - report tool
            lines.append(f"| {name} | — | — | — | — | — | error: {e} |")
            continue
        pushed = "; ".join(p[:60] for p in f.pushed_filters[:3]) or "—"
        lines.append(
            f"| {name} | {f.broadcast_joins} | {f.sort_merge_joins} | {f.cartesian} "
            f"| {f.exchanges} | {f.codegen_stages} | {pushed} |"
        )
    with open(os.path.join(REPO, "PLANS.md"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
