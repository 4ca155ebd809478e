"""Catalog helpers shared by more than one family module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _basket_pairs_per_order(li: DataFrame) -> DataFrame:
    """One row per (order, part pair a < b) co-appearing in that order,
    via IN-ROW pair expansion of each order's sorted distinct-part
    array (the same shape as frequent_part_triples' level-3 expansion)
    instead of an items self-join — one map-side-combinable basket
    shuffle + explode replaces two scans plus an order-keyed join,
    halving shuffle volume; output verified bit-identical to the join
    form, ~30% faster at sf1 (BASELINE.md round 8). Support counters
    (frequent_part_pairs, association_rules) aggregate this directly;
    graph builders go through _basket_pair_edges/_copurchase_edges."""
    baskets = li.select("l_orderkey", "l_partkey").groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ps")
    )
    return baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(ps, (x, i) ->"
                " transform(slice(ps, i + 2, size(ps)), y ->"
                "  struct(x AS a, y AS b))))"
            )
        ).alias("p")
    ).select("p.a", "p.b")
