"""Relational catalog family: the TPC-H queries, the delegated SQL
surface (joins, set ops, grouping sets, windows, pivots, recursion)
and the relational analytics built on the TPC-H tables (market
baskets, statistical tests, privacy and data-layout audits).

A query lands here when it calls no operator family module and its
first table is a TPC-H table. Hash-safety follows the conventions in
the ``easy_etl_spark.queries`` docstring.
"""

from __future__ import annotations

from math import gcd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import dec_avg, dec_sum, qlog, sql_avg, sql_sum
from ..operators.ranking import global_prior_max, global_row_number, global_running_offset
from ..operators.scale import salted_join
from ..queries import register
from ..session import load_table, track_cache
from .common import _basket_pairs_per_order


# ----------------------------------------------------------------------
# Core relational surface (reference delegates these to the source SQL
# engine — easy_etl/README.md:18; our source engine is Spark SQL)
# ----------------------------------------------------------------------

@register(
    "q1_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {sql_sum('l_quantity')} AS sum_qty,
           {sql_sum('l_extendedprice')} AS sum_base_price,
           {sql_sum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {sql_sum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           {sql_avg('l_quantity')} AS avg_qty,
           {sql_avg('l_extendedprice')} AS avg_price,
           {sql_avg('l_discount')} AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary. Single scan → partial-agg →
    final agg: the filter and the 4-column projection push into the
    parquet scan; map-side combine keeps the shuffle at |groups|."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dec_sum("l_quantity").alias("sum_qty"),
            dec_sum("l_extendedprice").alias("sum_base_price"),
            dec_sum(disc_price).alias("sum_disc_price"),
            dec_sum(disc_price * (1 + F.col("l_tax"))).alias("sum_charge"),
            dec_avg("l_quantity").alias("avg_qty"),
            dec_avg("l_extendedprice").alias("avg_price"),
            dec_avg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q3_top_orders",
    f"""
    SELECT o.o_orderkey,
           {sql_sum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d')                   AS orderdate,
           o.o_orderpriority
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l.l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style shipping priority. customer is dimension-sized →
    broadcast into orders; only the orders⋈lineitem equi-join shuffles.
    Deterministic top-10 via (revenue DESC, key) tiebreak."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp"))
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select(
            "o_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@register(
    "q5_region_volume",
    f"""
    SELECT n.n_name,
           {sql_sum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n.n_name
    """,
)
def q5_region_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style local-supplier volume. All dims broadcast; the
    only shuffles are lineitem⋈orders and the final 25-group agg."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


@register(
    "q6_revenue_delta",
    f"""
    SELECT {sql_sum('l_extendedprice * l_discount')} AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-style flat filter-agg: every predicate pushes to the
    parquet scan (row-group pruning on shipdate at scale)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(dec_sum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"))
    )


@register(
    "topk_per_group",
    """
    SELECT c_mktsegment, c_custkey, round(c_acctbal, 2) AS acctbal, rnk
    FROM (
      SELECT c_mktsegment, c_custkey, c_acctbal,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY c_acctbal DESC, c_custkey) AS rnk
      FROM customer
    )
    WHERE rnk <= 3
    """,
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via ranked window; Spark pushes a per-partition
    top-k (WindowGroupLimit) below the shuffle, so the exchange carries
    k rows per group, not the whole table."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    return (
        c.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("c_mktsegment", "c_custkey", F.round("c_acctbal", 2).alias("acctbal"), "rnk")
    )


@register(
    "running_total",
    """
    SELECT o_custkey, o_orderkey,
           CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                OVER (PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey
                      ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 100.0 AS running_spend
    FROM orders
    """,
)
def running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer running spend. Partitioned window — parallel by
    custkey, no global sort."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        # exact integer-unit window sum: DuckDB evaluates windowed float
        # aggregates with a segment tree (different addition order than
        # Spark's running accumulator), so double sums here are not
        # cross-engine stable even though each engine alone is ordered
        (
            F.sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("bigint"))
            .over(w)
            .cast("double")
            / 100.0
        ).alias("running_spend"),
    )


@register(
    "grouping_sets_rollup",
    f"""
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           {sql_sum('l_quantity')} AS sum_qty,
           count(*)                      AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def grouping_sets_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation (reference's delegated GROUP BY surface,
    superset). Spark expands grouping sets in one pass."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(dec_sum("l_quantity").alias("sum_qty"), F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n",
        )
    )


@register(
    "set_ops_except",
    """
    SELECT c_custkey FROM customer
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders
    """,
)
def set_ops_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no orders: EXCEPT (≡ left-anti join; Catalyst
    plans it as one)."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return c.exceptAll(o).distinct()


@register(
    "semi_anti_join",
    """
    SELECT p.p_brand, count(*) AS n_parts
    FROM part p
    WHERE p.p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity >= 45)
    GROUP BY p.p_brand
    """,
)
def semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (IN-subquery surface)."""
    p = load_table(spark, sf_dir, "part")
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 45).select("l_partkey")
    return (
        p.join(l, p.p_partkey == l.l_partkey, "left_semi")
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )


@register(
    "q4_order_priority",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 48)
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS → left-semi join (Catalyst decorrelates)."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 48).select("l_orderkey")
    return (
        o.join(l, o.o_orderkey == l.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "q10_returned_customers",
    f"""
    SELECT c.c_custkey, c.c_name,
           {sql_sum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           n.n_name
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-style: returned-item revenue by customer, top 20."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@register(
    "q14_promo_share",
    f"""
    SELECT round(100.0 * {sql_sum("CASE WHEN p.p_type = 'ECONOMY' THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END", scale=6)}
                 / {sql_sum('l.l_extendedprice * (1 - l.l_discount)', scale=6)}, 4) AS promo_share
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1996-02-01 00:00:00'
    """,
)
def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation ratio (Q14 shape) — part broadcasts."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-02-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg(
            F.round(
                100.0
                * dec_sum(F.when(F.col("p_type") == "ECONOMY", rev).otherwise(0.0), scale=6)
                / dec_sum(rev, scale=6),
                4,
            ).alias("promo_share")
        )
    )


@register(
    "q18_large_orders",
    f"""
    SELECT o.o_orderkey, o.o_custkey, round(o.o_totalprice, 2) AS totalprice, t.sum_qty
    FROM orders o
    JOIN (SELECT l_orderkey, {sql_sum('l_quantity')} AS sum_qty
          FROM lineitem GROUP BY l_orderkey
          HAVING sum(CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT)) > 21000) t
      ON o.o_orderkey = t.l_orderkey
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 shape: agg-subquery with HAVING joined back to orders."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    big = (
        l.groupBy("l_orderkey")
        .agg(dec_sum("l_quantity").alias("sum_qty"))
        # exact decimal sum makes the HAVING threshold cross-engine
        # stable too (a float sum straddling 210 would flip row counts)
        .filter(F.col("sum_qty") > 210)
    )
    return o.join(big, o.o_orderkey == big.l_orderkey).select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("totalprice"), "sum_qty"
    )


@register(
    "q19_disjunctive",
    f"""
    SELECT {sql_sum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30 AND l.l_quantity BETWEEN 10 AND 30)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 50 AND l.l_quantity BETWEEN 20 AND 40)
    """,
)
def q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 shape: disjunctive mixed-table predicates after a broadcast
    join — Catalyst splits the single-table conjuncts out and pushes
    them below the join."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    j = l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(1, 20))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(10, 30) & F.col("l_quantity").between(10, 30))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(20, 50) & F.col("l_quantity").between(20, 40))
    )
    return j.filter(cond).agg(
        dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
    )


@register(
    "cube_agg",
    f"""
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           count(*) AS n,
           {sql_sum('o_totalprice')} AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), dec_sum("o_totalprice").alias("total"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n",
            "total",
        )
    )


@register(
    "distinct_agg",
    """
    SELECT l_returnflag,
           count(DISTINCT l_suppkey) AS n_suppliers,
           count(DISTINCT l_partkey) AS n_parts,
           count(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag
    """,
)
def distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple distinct aggregates — Spark plans an expand + two-phase
    agg; at scale prefer approx_count_distinct (one pass)."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "outer_join_counts",
    f"""
    SELECT c.c_custkey, count(o.o_orderkey) AS n_orders,
           coalesce({sql_sum('o.o_totalprice')}, 0.0) AS total_spend
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey
    """,
)
def outer_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer join preserving order-less customers (count 0)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(dec_sum("o_totalprice"), F.lit(0.0)).alias("total_spend"),
        )
    )


@register(
    "scalar_functions",
    """
    SELECT o_orderkey,
           year(o_orderdate)                                  AS yr,
           month(o_orderdate)                                 AS mo,
           date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS days_since,
           abs(o_totalprice - 100000.0)                       AS abs_delta,
           CAST(ceil(o_totalprice / 1000.0) AS BIGINT)        AS price_k_ceil,
           CAST(floor(o_totalprice / 1000.0) AS BIGINT)       AS price_k_floor,
           round(sqrt(o_totalprice), 4)                       AS price_sqrt,
           round(ln(o_totalprice + 1.0), 4)                   AS price_ln,
           substr(o_orderstatus, 1, 1)                        AS status_c,
           concat(o_orderstatus, '-', o_orderpriority)        AS status_prio,
           length(o_orderpriority)                            AS prio_len,
           reverse(o_orderstatus)                             AS status_rev,
           greatest(o_totalprice, 50000.0)                    AS at_least_50k,
           CASE WHEN o_totalprice > 200000 THEN 'big'
                WHEN o_totalprice > 100000 THEN 'mid'
                ELSE 'small' END                              AS size_band
    FROM orders
    """,
)
def scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function breadth (date/math/string/conditional) — the
    delegated SQL surface every extract can use."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp")).cast("bigint").alias("days_since"),
        F.abs(F.col("o_totalprice") - 100000.0).alias("abs_delta"),
        F.ceil(F.col("o_totalprice") / 1000.0).alias("price_k_ceil"),
        F.floor(F.col("o_totalprice") / 1000.0).alias("price_k_floor"),
        F.round(F.sqrt("o_totalprice"), 4).alias("price_sqrt"),
        F.round(F.log(F.col("o_totalprice") + 1.0), 4).alias("price_ln"),
        F.substring("o_orderstatus", 1, 1).alias("status_c"),
        F.concat_ws("-", "o_orderstatus", "o_orderpriority").alias("status_prio"),
        F.length("o_orderpriority").alias("prio_len"),
        F.reverse("o_orderstatus").alias("status_rev"),
        F.greatest(F.col("o_totalprice"), F.lit(50000.0)).alias("at_least_50k"),
        F.when(F.col("o_totalprice") > 200000, "big")
        .when(F.col("o_totalprice") > 100000, "mid")
        .otherwise("small")
        .alias("size_band"),
    )


def _rev():
    return (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume")


@register(
    "q7_nation_volume",
    f"""
    SELECT supp_nation, cust_nation, l_year,
           {sql_sum('volume')} AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l.l_shipdate) AS l_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume
      FROM supplier s
      JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
      WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bidirectional nation-pair trade volume by year.
    Five-way join; both nation legs broadcast."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    n1 = F.broadcast(n.select(F.col("n_nationkey").alias("sk"), F.col("n_name").alias("supp_nation")))
    n2 = F.broadcast(n.select(F.col("n_nationkey").alias("ck"), F.col("n_name").alias("cust_nation")))
    pair = (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2") | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    return (
        l.join(s, l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n1, F.col("s_nationkey") == F.col("sk"))
        .join(n2, F.col("c_nationkey") == F.col("ck"))
        .filter(pair)
        .select("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"), _rev())
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(dec_sum("volume").alias("revenue"))
    )


@register(
    "q8_market_share",
    f"""
    SELECT o_year,
           round({sql_sum("CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END", scale=6)}
                 / {sql_sum('volume', scale=6)}, 4) AS mkt_share
    FROM (
      SELECT year(o.o_orderdate) AS o_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume,
             n1.n_name AS nation
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
      JOIN region r   ON n2.n_regionkey = r.r_regionkey
      JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
      WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY'
    ) all_nations
    GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of regional volume per year —
    conditional-sum ratio over a seven-way join."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    n2 = F.broadcast(
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
            F.col("n_nationkey").alias("ck")
        )
    )
    n1 = F.broadcast(n.select(F.col("n_nationkey").alias("sk"), F.col("n_name").alias("nation")))
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n2, F.col("c_nationkey") == F.col("ck"))  # region semi-filter
        .join(n1, F.col("s_nationkey") == F.col("sk"))
        .select(F.year("o_orderdate").alias("o_year"), _rev(), "nation")
        .groupBy("o_year")
        .agg(
            F.round(
                dec_sum(
                    F.when(F.col("nation") == "NATION_3", F.col("volume")).otherwise(F.lit(0.0)),
                    scale=6,
                )
                / dec_sum("volume", scale=6),
                4,
            ).alias("mkt_share")
        )
    )


@register(
    "q9_profit_by_nation",
    f"""
    SELECT nation, o_year,
           {sql_sum('amount')} AS sum_profit
    FROM (
      SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
             l.l_extendedprice * (1 - l.l_discount) AS amount
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN nation n   ON s.s_nationkey = n.n_nationkey
      WHERE p.p_name LIKE '%red%'
    ) profit
    GROUP BY nation, o_year
    """,
)
def q9_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: product-line profit by supplier nation and year;
    LIKE-filtered part scan prunes before the fact join."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    nb = F.broadcast(n.select(F.col("n_nationkey").alias("sk"), F.col("n_name").alias("nation")))
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(nb, F.col("s_nationkey") == F.col("sk"))
        .select("nation", F.year("o_orderdate").alias("o_year"), _rev().alias("amount"))
        .groupBy("nation", "o_year")
        .agg(dec_sum("amount").alias("sum_profit"))
    )


@register(
    "q11_nation_concentration",
    f"""
    SELECT n.n_name AS n_name,
           {sql_sum('s.s_acctbal')} AS total_bal
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
    HAVING {sql_sum('s.s_acctbal')}
           > (SELECT {sql_sum('s_acctbal')} * 0.05 FROM supplier)
    """,
)
def q11_nation_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (partsupp-free): groups exceeding a fraction of
    the global total — scalar aggregate subquery in HAVING, expressed
    as a broadcast cross-join against the 1-row global aggregate."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    total = s.agg((dec_sum("s_acctbal") * 0.05).alias("__cut"))
    per_nation = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(dec_sum("s_acctbal").alias("total_bal"))
    )
    return (
        per_nation.join(F.broadcast(total))
        .filter(F.col("total_bal") > F.col("__cut"))
        .select("n_name", "total_bal")
    )


@register(
    "q13_customer_distribution",
    """
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c.c_custkey AS c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey
    ) c_orders
    GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: distribution of customers by order count. The outer
    join keeps zero-order customers (count() over NULL keys = 0)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "q15_top_supplier",
    f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             {sql_sum('l_extendedprice * (1 - l_discount)')} AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) with max quarterly revenue — aggregated
    'view' reused twice; the scalar MAX arrives as a 1-row broadcast,
    not a global sort."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    s = load_table(spark, sf_dir, "supplier")
    # exact decimal sum matters doubly here: the WHERE compares revenue
    # for *equality* against the max, so last-ulp noise would drop rows
    revenue = l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_revenue")
    )
    mx = revenue.agg(F.max("total_revenue").alias("__mx"))
    return (
        revenue.join(F.broadcast(mx), F.col("total_revenue") == F.col("__mx"))
        .join(s, F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "q17_small_quantity_revenue",
    f"""
    SELECT round({sql_sum('l.l_extendedprice')} / 7.0, 2) AS avg_yearly
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#13'
      AND l.l_quantity < (
        SELECT 0.2 * ({sql_sum('l2.l_quantity', scale=6)} / count(l2.l_quantity))
        FROM lineitem l2
        WHERE l2.l_partkey = p.p_partkey)
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: correlated scalar-avg subquery, decorrelated into a
    per-part average joined back (what Catalyst itself would emit)."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#13").select("p_partkey")
    # exact avg (decimal sum / count): the threshold compare must agree
    # bit-for-bit with the oracle or boundary rows flip in/out
    avg_qty = l.groupBy(F.col("l_partkey").alias("__pk")).agg(
        (0.2 * (dec_sum("l_quantity", scale=6) / F.count("l_quantity"))).alias("__cut")
    )
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(avg_qty, F.col("l_partkey") == F.col("__pk"))
        .filter(F.col("l_quantity") < F.col("__cut"))
        .agg(F.round(dec_sum("l_extendedprice") / F.lit(7.0), 2).alias("avg_yearly"))
    )


@register(
    "q21_exclusive_returns",
    """
    SELECT s.s_name AS s_name, count(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    WHERE l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s.s_name
    ORDER BY numwait DESC, s_name
    LIMIT 10
    """,
)
def q21_exclusive_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (date columns absent → returnflag stands in):
    suppliers solely responsible for returns in multi-supplier orders.
    The EXISTS / NOT EXISTS pair collapses into one per-order aggregate
    (distinct suppliers, distinct returning suppliers) — one shuffle
    instead of two correlated self-joins."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    # one shuffle instead of aggregate+join-back: per-order distinct
    # supplier sets via collect_set window (no Expand, no re-join of
    # lineitem against its own aggregate)
    w = Window.partitionBy("l_orderkey")
    l2 = (
        l.select("l_orderkey", "l_suppkey", "l_returnflag")
        .withColumn("__n_supp", F.size(F.collect_set("l_suppkey").over(w)))
        .withColumn(
            "__r_supp",
            F.size(
                F.collect_set(
                    F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
                ).over(w)
            ),
        )
    )
    return (
        l2.filter(
            (F.col("l_returnflag") == "R")
            & (F.col("__n_supp") >= 2)
            & (F.col("__r_supp") == 1)
        )
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(10)
    )


@register(
    "q22_idle_customers",
    f"""
    SELECT cntrycode, count(*) AS numcust,
           {sql_sum('c_acctbal')} AS totacctbal
    FROM (
      SELECT substring(c.c_name, 13, 3) AS cntrycode, c.c_acctbal AS c_acctbal
      FROM customer c
      WHERE c.c_acctbal > (SELECT {sql_sum('c_acctbal', scale=6)} / count(c_acctbal)
                           FROM customer WHERE c_acctbal > 0.0)
        AND NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = c.c_custkey
                          AND o.o_totalprice > 400000)
    ) custsale
    GROUP BY cntrycode
    """,
)
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers with no orders —
    scalar avg subquery (1-row broadcast) + anti-join. The driver
    data gives every customer at least one order, so the anti-join is
    against *high-value* orders to keep the result non-trivial."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cut = c.filter(F.col("c_acctbal") > 0.0).agg(
        (dec_sum("c_acctbal", scale=6) / F.count("c_acctbal")).alias("__avg")
    )
    return (
        c.join(F.broadcast(cut))
        .filter(F.col("c_acctbal") > F.col("__avg"))
        .join(
            o.filter(F.col("o_totalprice") > 400000).select("o_custkey"),
            c.c_custkey == F.col("o_custkey"),
            "left_anti",
        )
        .select(F.substring("c_name", 13, 3).alias("cntrycode"), "c_acctbal")
        .groupBy("cntrycode")
        .agg(F.count(F.lit(1)).alias("numcust"), dec_sum("c_acctbal").alias("totacctbal"))
    )


@register(
    "pivot_status_by_flag",
    f"""
    SELECT l_returnflag,
           {sql_sum("CASE WHEN l_linestatus = 'F' THEN l_quantity END")} AS F,
           {sql_sum("CASE WHEN l_linestatus = 'O' THEN l_quantity END")} AS O
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def pivot_status_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide): quantity by linestatus column per returnflag.
    Explicit value list → no extra distinct-values job; compiles to one
    conditional aggregate (same plan as the CASE-sum oracle)."""
    l = load_table(spark, sf_dir, "lineitem")
    piv = (
        l.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(dec_sum("l_quantity"))
    )
    return piv


def _pct_cents_sql(q: float) -> str:
    """DuckDB spelling of the portable interpolated percentile over the
    ranked CTE `r(v, rn, n)`: floor/ceil neighbors of (n-1)·q, linear
    interpolation, floor-quantized to cents (identical IEEE ops to the
    Spark twin `_pct_cents_col` — see percentiles_exact docstring)."""
    lo = f"CAST(floor((n - 1) * {q}) AS BIGINT) + 1"
    lo_v = f"max(CASE WHEN rn = {lo} THEN v END)"
    hi_v = f"max(CASE WHEN rn = least({lo} + 1, n) THEN v END)"
    frac = f"((max(n) - 1) * {q} - floor((max(n) - 1) * {q}))"
    return f"floor(({lo_v} + ({hi_v} - {lo_v}) * {frac}) * 100.0 + 0.5) / 100.0"


def _pct_cents_col(q: float):
    """Spark twin of `_pct_cents_sql` (same arithmetic, same order)."""
    lo = F.floor((F.col("n") - 1) * q).cast("bigint") + 1
    lo_v = F.max(F.when(F.col("rn") == lo, F.col("v")))
    hi_v = F.max(F.when(F.col("rn") == F.least(lo + 1, F.col("n")), F.col("v")))
    frac = (F.max("n") - 1) * q - F.floor((F.max("n") - 1) * q)
    return F.floor((lo_v + (hi_v - lo_v) * frac) * 100.0 + 0.5) / 100.0


@register(
    "percentiles_exact",
    f"""
    WITH r AS (
      SELECT l_returnflag, l_extendedprice AS v,
             row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn,
             count(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem
    )
    SELECT l_returnflag,
           {_pct_cents_sql(0.5)} AS p50,
           {_pct_cents_sql(0.95)} AS p95,
           {_pct_cents_sql(0.99)} AS p99
    FROM r
    GROUP BY l_returnflag
    """,
)
def percentiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolated percentiles per group, computed with
    an explicitly engine-portable formula: rank each value, pick the
    floor/ceil neighbors of (n-1)·q, interpolate, quantize via
    floor(x·100 + 0.5). Spark's `percentile` and DuckDB's
    `quantile_cont` implement the same definition but differ in the
    last ulp of the interpolation arithmetic — and p50 midpoints of
    2-decimal prices sit exactly ON .xx5 rounding boundaries, so the
    builtin pair flips digits between engines (caught at sf0.001).
    The approximate path for 100 TB is `approx_percentile` (t-digest,
    mergeable, one pass) — this exact twin is the oracle-checkable one.
    """
    from pyspark.sql import Window as W

    l = load_table(spark, sf_dir, "lineitem")
    w = W.partitionBy("l_returnflag")
    r = l.select(
        "l_returnflag",
        F.col("l_extendedprice").alias("v"),
        F.row_number().over(w.orderBy("l_extendedprice")).alias("rn"),
        F.count(F.lit(1)).over(w).alias("n"),
    )
    return r.groupBy("l_returnflag").agg(
        _pct_cents_col(0.5).alias("p50"),
        _pct_cents_col(0.95).alias("p95"),
        _pct_cents_col(0.99).alias("p99"),
    )


@register(
    "systematic_sample",
    f"""
    SELECT count(*) AS n,
           {sql_sum('o_totalprice')} AS sampled_total
    FROM orders WHERE o_orderkey % 20 = 0
    """,
)
def systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 1-in-20 systematic sample on the key — the
    reproducible, engine-portable stand-in for TABLESAMPLE (whose RNG
    never matches across engines). At scale this predicate pushes to
    the scan like any filter."""
    o = load_table(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderkey") % 20 == 0).agg(
        F.count(F.lit(1)).alias("n"), dec_sum("o_totalprice").alias("sampled_total")
    )


@register(
    "corr_stats",
    """
    WITH q AS (
      SELECT CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT) AS qx,
             CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS qy
      FROM lineitem
    ),
    s AS (
      SELECT count(*) AS n,
             CAST(sum(CAST(qx AS HUGEINT)) AS DOUBLE) AS sx,
             CAST(sum(CAST(qy AS HUGEINT)) AS DOUBLE) AS sy,
             CAST(sum(CAST(qx * qx AS HUGEINT)) AS DOUBLE) AS sxx,
             CAST(sum(CAST(qy * qy AS HUGEINT)) AS DOUBLE) AS syy,
             CAST(sum(CAST(qx * qy AS HUGEINT)) AS DOUBLE) AS sxy
      FROM q
    )
    SELECT n AS n_rows,
           round(sx / n / 100.0, 4) AS mean_qty,
           round(sy / n / 100.0, 4) AS mean_price,
           round((n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6) + 0.0
             AS corr_qty_price
    FROM s
    """,
)
def corr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent Pearson correlation + means: co-moment sums
    accumulate as exact decimal(38,0) integers (built-in corr()
    accumulates doubles in partition order — nondeterministic at the
    4th decimal across AQE re-plans), then ONE double conversion per
    sum feeds an identical closed-form expression in both engines, so
    the result is bit-stable under any partitioning AND engine."""
    li = load_table(spark, sf_dir, "lineitem")
    qx = F.floor(F.col("l_quantity") * 100.0 + 0.5).cast("bigint")
    qy = F.floor(F.col("l_extendedprice") * 100.0 + 0.5).cast("bigint")
    q = li.select(qx.alias("qx"), qy.alias("qy"))
    dec = "decimal(38,0)"
    s = q.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("qx").cast(dec)).cast("double").alias("sx"),
        F.sum(F.col("qy").cast(dec)).cast("double").alias("sy"),
        F.sum((F.col("qx") * F.col("qx")).cast(dec)).cast("double").alias("sxx"),
        F.sum((F.col("qy") * F.col("qy")).cast(dec)).cast("double").alias("syy"),
        F.sum((F.col("qx") * F.col("qy")).cast(dec)).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    return s.select(
        n.alias("n_rows"),
        F.round(sx / n / 100.0, 4).alias("mean_qty"),
        F.round(sy / n / 100.0, 4).alias("mean_price"),
        F.round(
            (n * F.col("sxy") - sx * sy)
            / (F.sqrt(n * F.col("sxx") - sx * sx) * F.sqrt(n * F.col("syy") - sy * sy)),
            6,
        ).alias("corr_qty_price"),
    )


@register(
    "window_rank_functions",
    """
    SELECT o_custkey, o_orderkey,
           rank()         OVER w AS rnk,
           dense_rank()   OVER w AS drnk,
           ntile(4)       OVER w AS quartile,
           lag(o_orderkey)  OVER w AS prev_key,
           lead(o_orderkey) OVER w AS next_key,
           round(percent_rank() OVER w, 6) AS prank,
           round(cume_dist()    OVER w, 6) AS cdist,
           first_value(o_orderkey) OVER w AS best_key
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def window_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ranking-window family (rank/dense_rank/ntile/lag/lead/
    percent_rank/cume_dist/first_value) over a deterministic total
    order — one window shuffle keyed by customer. Rounds the two
    rational-valued functions so the exact small fractions hash
    identically."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.lag("o_orderkey").over(w).alias("prev_key"),
        F.lead("o_orderkey").over(w).alias("next_key"),
        F.round(F.percent_rank().over(w), 6).alias("prank"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
        F.first("o_orderkey").over(w).alias("best_key"),
    )


@register(
    "frequent_part_pairs",
    """
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )
    SELECT part_a, part_b, count(*) AS n_orders
    FROM pairs GROUP BY part_a, part_b
    HAVING count(*) >= 2
    ORDER BY n_orders DESC, part_a, part_b
    LIMIT 50
    """,
)
def frequent_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence mining: part pairs appearing
    together in ≥2 orders, ranked by support. Pairs come from the
    in-row expansion of each order's sorted distinct-part array
    (common._basket_pairs_per_order) — cost Σ basket² (baskets
    are tiny — ≤7 items in TPC-H-shaped data), never corpus², one
    basket shuffle instead of a self-join; support counting is one
    pair-keyed aggregate — the first pass of any FP-growth-style
    miner."""

    li = load_table(spark, sf_dir, "lineitem")
    pairs = _basket_pairs_per_order(li.select("l_orderkey", "l_partkey")).select(
        F.col("a").alias("part_a"), F.col("b").alias("part_b")
    )
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
        .orderBy(F.col("n_orders").desc(), "part_a", "part_b")
        .limit(50)
    )


@register(
    "association_rules",
    """
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n_orders AS (SELECT count(DISTINCT l_orderkey) AS n FROM items),
    item_support AS (
      SELECT l_partkey, count(*) AS s FROM items GROUP BY l_partkey
    ),
    pair_support AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS s_ab
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 3
    )
    SELECT part_a, part_b, s_ab,
           round(CAST(s_ab AS DOUBLE) / sa.s, 6) AS confidence,
           round(CAST(s_ab AS DOUBLE) * (SELECT n FROM n_orders)
                 / (sa.s * sb.s), 6) AS lift
    FROM pair_support
    JOIN item_support sa ON part_a = sa.l_partkey
    JOIN item_support sb ON part_b = sb.l_partkey
    ORDER BY lift DESC, part_a, part_b
    LIMIT 25
    """,
)
def association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules a→b over the basket pairs: confidence
    s(ab)/s(a) and lift s(ab)·N/(s(a)·s(b)), top-25 by lift. All
    inputs are exact integer supports; each output is one double
    division — deterministic on any engine. The two support joins
    broadcast (item supports are part-dimension-sized)."""

    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    n_orders = items.select("l_orderkey").distinct().count()
    item_s = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("s"))
    # pair supports from the in-row basket expansion (one row per
    # order-pair), not an items self-join — see _basket_pairs_per_order
    pair_s = (
        _basket_pairs_per_order(li.select("l_orderkey", "l_partkey"))
        .groupBy(F.col("a").alias("part_a"), F.col("b").alias("part_b"))
        .agg(F.count(F.lit(1)).alias("s_ab"))
        .filter(F.col("s_ab") >= 3)
    )
    sa = F.broadcast(item_s.select(F.col("l_partkey").alias("part_a"), F.col("s").alias("sa")))
    sb = F.broadcast(item_s.select(F.col("l_partkey").alias("part_b"), F.col("s").alias("sb")))
    return (
        pair_s.join(sa, "part_a")
        .join(sb, "part_b")
        .select(
            "part_a",
            "part_b",
            "s_ab",
            F.round(F.col("s_ab").cast("double") / F.col("sa"), 6).alias("confidence"),
            F.round(
                F.col("s_ab").cast("double") * F.lit(n_orders) / (F.col("sa") * F.col("sb")), 6
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "part_a", "part_b")
        .limit(25)
    )


@register(
    "skew_salted_join",
    f"""
    SELECT s_name,
           count(*) AS n_items,
           {sql_sum("l_extendedprice * (1 - l_discount)")} AS revenue
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_name
    ORDER BY s_name
    """,
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resilient salted join (operators/scale.salted_join): the
    lineitem fan-out across 16 salt replicas of supplier must aggregate
    to exactly the plain-join totals — the oracle IS the plain join."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("s_suppkey"), "l_extendedprice", "l_discount"
    )
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    joined = salted_join(li, sup, key="s_suppkey", salt=16)
    return (
        joined.groupBy("s_name")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        )
        .orderBy("s_name")
    )


@register(
    "q2_min_cost_supplier",
    """
    WITH unit AS (
      SELECT l_partkey, l_suppkey,
             min(l_extendedprice / l_quantity) AS min_unit
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    best AS (
      SELECT l_partkey, min(min_unit) AS best_unit FROM unit GROUP BY l_partkey
    )
    SELECT p.p_partkey, s.s_name, s.s_acctbal, n.n_name,
           round(u.min_unit, 4) AS unit_price
    FROM part p
    JOIN unit u ON u.l_partkey = p.p_partkey
    JOIN best b ON b.l_partkey = u.l_partkey AND u.min_unit = b.best_unit
    JOIN supplier s ON s.s_suppkey = u.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE p.p_size >= 45 AND p.p_type = 'STANDARD'
    ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey
    LIMIT 100
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-style minimum-cost supplier. The correlated min
    subquery decorrelates into a per-(part, supplier) aggregate plus
    an equality join against the per-part min — both aggregates
    partial-merge map-side, and the min-unit equality join keys on
    l_partkey so it rides the same shuffle as the aggregate. part /
    supplier / nation broadcast. The min is over identical double
    divisions on both engines, so the equality filter is bit-exact."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_size") >= 45) & (F.col("p_type") == "STANDARD")
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    unit = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("min_unit")
    )
    best = unit.groupBy("l_partkey").agg(F.min("min_unit").alias("best_unit"))
    return (
        unit.join(best, ["l_partkey"])
        .filter(F.col("min_unit") == F.col("best_unit"))
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            "p_partkey",
            "s_name",
            "s_acctbal",
            "n_name",
            F.round("min_unit", 4).alias("unit_price"),
        )
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@register(
    "q12_latency_buckets",
    """
    SELECT CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                               CAST(l.l_shipdate AS DATE)) > 30
                THEN 'slow' ELSE 'fast' END AS ship_bucket,
           count(*) AS n_lines,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_priority_lines,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_priority_lines
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
)
def q12_latency_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-style dual conditional counts per shipping bucket
    (ship latency replaces the absent shipmode column). One fact-fact
    equi-join, then a 2-group CASE aggregate — the conditional sums
    partial-aggregate before the exchange, so the shuffle carries two
    rows per map partition."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    bucket = F.when(
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 30, "slow"
    ).otherwise("fast")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(bucket.alias("ship_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.when(high, 1).otherwise(0)).alias("high_priority_lines"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_priority_lines"),
        )
    )


@register(
    "q16_supplier_counts",
    """
    SELECT p.p_brand, p.p_size,
           count(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_type <> 'PROMO'
      AND l.l_suppkey NOT IN (
            SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_size
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_size
    LIMIT 40
    """,
)
def q16_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-style supplier counts per part attribute with a
    NOT-IN exclusion: the subquery compiles to a broadcast anti-join
    (complaint-supplier list is dimension-sized), the distinct count
    expands to a two-phase aggregate keyed by (brand, size, suppkey)
    then (brand, size) — no Expand node, both phases partial-merge."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") != "PROMO")
    bad = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select(F.col("s_suppkey").alias("l_suppkey"))
    )
    return (
        li.join(F.broadcast(bad), "l_suppkey", "left_anti")
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_size")
        .limit(40)
    )


@register(
    "q20_promo_excess_suppliers",
    f"""
    WITH promo AS (SELECT p_partkey FROM part WHERE p_type = 'PROMO'),
    shipped AS (
      SELECT l_suppkey, {sql_sum("l_quantity")} AS qty
      FROM lineitem
      WHERE l_partkey IN (SELECT p_partkey FROM promo)
        AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s.s_name, s.s_acctbal, n.n_name
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE s.s_suppkey IN (SELECT l_suppkey FROM shipped WHERE qty > 100)
    ORDER BY s.s_name
    """,
)
def q20_promo_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-style nested-IN chain: promo-parts slice → broadcast
    semi-join restricts the lineitem scan → per-supplier shipped
    quantity → threshold → semi-join back to supplier. Every IN is a
    (broadcast) left-semi; the only shuffle is the per-supplier
    aggregate. The date filter pushes to the parquet scan."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    promo = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "PROMO")
        .select(F.col("p_partkey").alias("l_partkey"))
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    excess = (
        li.join(F.broadcast(promo), "l_partkey", "left_semi")
        .groupBy("l_suppkey")
        .agg(dec_sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 100)
        .select(F.col("l_suppkey").alias("s_suppkey"))
    )
    return (
        s.join(F.broadcast(excess), "s_suppkey", "left_semi")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_name", "s_acctbal", "n_name")
        .orderBy("s_name")
    )


@register(
    "null_safe_join",
    """
    WITH a AS (
      SELECT nullif(c_nationkey % 5, 0) AS k, count(*) AS n_customers
      FROM customer GROUP BY 1
    ),
    b AS (
      SELECT nullif(s_nationkey % 5, 0) AS k, count(*) AS n_suppliers
      FROM supplier GROUP BY 1
    )
    SELECT CAST(a.k AS INTEGER) AS k, a.n_customers, b.n_suppliers
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
)
def null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): the NULL
    bucket must match the NULL bucket, which a plain equi-join drops
    silently. Spark plans eqNullSafe as a hash join on a
    null-canonicalized key — same shuffle shape as ordinary equality,
    no nested-loop degradation."""
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    a = (
        c.select(F.nullif(F.col("c_nationkey") % 5, F.lit(0)).alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    b = (
        s.select(F.nullif(F.col("s_nationkey") % 5, F.lit(0)).alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )
    return a.join(b, a["k"].eqNullSafe(b["k"])).select(
        a["k"].alias("k"), "n_customers", "n_suppliers"
    )


@register(
    "unpivot_part_measures",
    """
    SELECT p_partkey, measure, round(value, 2) AS value
    FROM (
      SELECT p_partkey,
             CAST(p_size AS DOUBLE) AS size,
             p_retailprice AS retailprice
      FROM part WHERE p_partkey < 100
    )
    UNPIVOT (value FOR measure IN (size, retailprice))
    """,
)
def unpivot_part_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long melt (the inverse of pivot_status_by_flag): Spark's
    unpivot/melt against DuckDB's UNPIVOT. Map-side only — one row in,
    two out, no shuffle."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") < 100)
    wide = p.select(
        "p_partkey",
        F.col("p_size").cast("double").alias("size"),
        F.col("p_retailprice").alias("retailprice"),
    )
    return wide.unpivot(
        "p_partkey", ["size", "retailprice"], "measure", "value"
    ).select("p_partkey", "measure", F.round("value", 2).alias("value"))


@register(
    "histogram_order_totals",
    """
    SELECT CASE WHEN o_totalprice < 0 THEN 0
                WHEN o_totalprice >= 600000 THEN 13
                ELSE CAST(floor(o_totalprice / 50000.0) AS BIGINT) + 1 END AS bucket,
           count(*) AS n_orders,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi
    FROM orders GROUP BY 1
    """,
)
def histogram_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram over order totals (width_bucket semantics,
    spelled as explicit floor division so BOTH engines evaluate the
    identical IEEE expression — this DuckDB build lacks width_bucket).
    Pure map expression; the only shuffle is the ≤14-group aggregate."""
    o = load_table(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 0, 0)
        .when(F.col("o_totalprice") >= 600000, 13)
        .otherwise(F.floor(F.col("o_totalprice") / 50000.0).cast("long") + 1)
    )
    return (
        o.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


# ----------------------------------------------------------------------
# ABC / Pareto analysis: revenue concentration by customer decile
# ----------------------------------------------------------------------

@register(
    "pareto_revenue_deciles",
    """
    WITH rev AS (
      SELECT o_custkey,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT o_custkey, cents,
             row_number() OVER (ORDER BY cents DESC, o_custkey) AS rn,
             (SELECT count(*) FROM rev) AS n,
             (SELECT CAST(sum(cents) AS BIGINT) FROM rev) AS total
      FROM rev
    ),
    deciles AS (
      -- explicit floor: DuckDB's double->int CAST rounds, Spark's truncates
      SELECT CAST(floor((rn - 1) * 10 / n) AS BIGINT) + 1 AS decile,
             count(*) AS n_customers,
             CAST(sum(cents) AS BIGINT) AS dec_cents,
             max(total) AS total
      FROM ranked GROUP BY 1
    ),
    cum AS (
      SELECT decile, n_customers, dec_cents, total,
             CAST(sum(dec_cents) OVER (ORDER BY decile) AS BIGINT) AS cum_cents
      FROM deciles
    )
    SELECT decile, n_customers,
           dec_cents / 100.0 AS revenue,
           round(CAST(dec_cents AS DOUBLE) / total, 6) AS share,
           round(CAST(cum_cents AS DOUBLE) / total, 6) AS cum_share
    FROM cum
    """,
)
def pareto_revenue_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto concentration: customers ranked by lifetime revenue
    and split into 10 equal-count deciles; each decile's revenue share
    and the cumulative share (the 80/20 curve). Revenue is exact cents
    end-to-end; shares are one double division.

    Scale: the ranking runs on the POST-AGGREGATION customer frame
    (|customers| rows, not |orders|) through the BANDED global
    row_number (operators/ranking.py — range-partition on the rank
    key, per-partition row_number, broadcast prefix offsets), so a
    10^9-customer frame never funnels through one task. The 10-row
    decile cumulative is a broadcast triangular self-join — no global
    window anywhere in the plan."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    rev = o.groupBy("o_custkey").agg(F.sum(cents).alias("cents"))
    totals = rev.agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("total")
    )
    ranked = global_row_number(
        rev, [F.col("cents").desc(), F.col("o_custkey")], out_col="rn"
    ).crossJoin(F.broadcast(totals))
    deciles = (
        ranked.groupBy(
            F.floor((F.col("rn") - 1) * 10 / F.col("n")).cast("bigint").alias("__dm1")
        )
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("cents").alias("dec_cents"),
            F.max("total").alias("total"),
        )
        .select(
            (F.col("__dm1") + 1).alias("decile"),
            "n_customers",
            "dec_cents",
            "total",
        )
    )
    # 10-row cumulative share: broadcast triangular self-join instead
    # of a global ORDER BY window (the frame is 10 rows, but the plan
    # shape must stay single-partition-free for the catalog gate and
    # for composition into larger plans)
    a, b = deciles.alias("a"), deciles.alias("b")
    cum = (
        a.join(F.broadcast(b), F.col("b.decile") <= F.col("a.decile"))
        .groupBy(F.col("a.decile").alias("decile"))
        .agg(
            F.max(F.col("a.n_customers")).alias("n_customers"),
            F.max(F.col("a.dec_cents")).alias("dec_cents"),
            F.max(F.col("a.total")).alias("total"),
            F.sum(F.col("b.dec_cents")).alias("cum_cents"),
        )
    )
    return cum.select(
        "decile",
        "n_customers",
        (F.col("dec_cents") / F.lit(100.0)).alias("revenue"),
        F.round(F.col("dec_cents").cast("double") / F.col("total"), 6).alias("share"),
        F.round(F.col("cum_cents").cast("double") / F.col("total"), 6).alias(
            "cum_share"
        ),
    )


# ----------------------------------------------------------------------
# Skyline: 2-D Pareto frontier (minimize price, maximize size)
# ----------------------------------------------------------------------

@register(
    "skyline_parts",
    """
    WITH groups AS (
      SELECT p_retailprice AS price, max(p_size) AS gmax
      FROM part GROUP BY 1
    ),
    run AS (
      SELECT price, gmax,
             max(gmax) OVER (ORDER BY price
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prior_max
      FROM groups
    )
    SELECT p.p_partkey, p.p_retailprice, p.p_size
    FROM part p JOIN run ON p.p_retailprice = run.price
    WHERE p.p_size = run.gmax
      AND (run.prior_max IS NULL OR run.prior_max < p.p_size)
    """,
)
def skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto-frontier) query: parts for which no other part
    is both cheaper-or-equal AND larger-or-equal (strictly better in
    one dimension) — minimize p_retailprice, maximize p_size. Classic
    OLAP operator; equal (price, size) points are mutually
    non-dominated and all kept.

    The 2-D skyline is a sort + running max, not a quadratic dominance
    self-join: collapse to one row per price (max size), scan prices
    ascending keeping the best size seen strictly before — a part
    survives iff it tops its price group and beats every cheaper group.
    Scale: the exclusive running max is the BANDED global_prior_max
    (operators/ranking.py) — range-partition by price, per-partition
    exclusive max window, driver prefix-merge of the numPartitions
    per-partition maxima — so the price frame never collapses onto one
    task at any cardinality."""
    p = load_table(spark, sf_dir, "part")
    groups = p.groupBy(F.col("p_retailprice").alias("price")).agg(
        F.max("p_size").alias("gmax")
    )
    run = global_prior_max(
        groups, "gmax", [F.col("price")], out_col="prior_max"
    )
    return (
        p.join(F.broadcast(run), p.p_retailprice == run.price)
        .filter(
            (F.col("p_size") == F.col("gmax"))
            & (F.col("prior_max").isNull() | (F.col("prior_max") < F.col("p_size")))
        )
        .select("p_partkey", "p_retailprice", "p_size")
    )


@register(
    "join_key_skew_profile",
    """
    WITH k AS (SELECT o_custkey, count(*) AS n FROM orders GROUP BY 1),
    t AS (SELECT count(*) AS n_keys, CAST(sum(n) AS BIGINT) AS total FROM k)
    SELECT o_custkey, n,
           round(CAST(n AS DOUBLE) / total, 6) AS share,
           round(CAST(n AS DOUBLE) * n_keys / total, 4) AS skew_factor
    FROM k, t ORDER BY n DESC, o_custkey LIMIT 10
    """,
)
def join_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics: the 10 hottest o_custkey values with
    their row share and skew factor (multiple of the mean key load) —
    what you run BEFORE deciding whether a join needs salting
    (operators/scale.salted_join) or AQE's skew split.

    Scale: per-key counts are one map-side-combined aggregate; the
    top-10 is TakeOrderedAndProject (per-partition heaps merged on the
    driver — no global sort, no single-partition window)."""
    o = load_table(spark, sf_dir, "orders")
    k = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))
    t = k.agg(
        F.count(F.lit(1)).alias("n_keys"), F.sum("n").alias("total")
    )
    return (
        k.crossJoin(F.broadcast(t))
        .select(
            "o_custkey",
            "n",
            F.round(F.col("n").cast("double") / F.col("total"), 6).alias("share"),
            F.round(
                F.col("n").cast("double") * F.col("n_keys") / F.col("total"), 4
            ).alias("skew_factor"),
        )
        .orderBy(F.col("n").desc(), "o_custkey")
        .limit(10)
    )


@register(
    "recursive_org_rollup",
    """
    WITH RECURSIVE org AS (
      SELECT CAST(1 AS BIGINT) AS k, CAST(0 AS BIGINT) AS depth,
             (SELECT c_acctbal FROM customer WHERE c_custkey = 1) AS bal
      UNION ALL
      SELECT c.c_custkey, o.depth + 1, c.c_acctbal
      FROM org o JOIN customer c
        ON c.c_custkey = 2 * o.k OR c.c_custkey = 2 * o.k + 1
    )
    SELECT depth, count(*) AS n,
           CAST(sum(CAST(floor(bal * 100 + 0.5) AS BIGINT)) AS BIGINT) AS bal_cents
    FROM org GROUP BY depth
    """,
)
def recursive_org_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy traversal with the engine's NATIVE recursive CTE
    (Spark 4's WITH RECURSIVE): customers form an implicit binary org
    tree (parent of k = k div 2), and the recursion descends from the
    root collecting per-depth headcount and account-balance cents —
    the org-chart / BOM-rollup query shape that previously required a
    driver-side loop. The DuckDB oracle runs an independently-phrased
    recursive SQL (OR-join step) over the same tree.

    Scale: the recursive step EXPLODES each frontier node into its two
    child keys and equi-joins them against the customer dim — a hash
    join per level, never a nested-loop scan. (The naive phrasing
    `ON c_custkey = 2*k OR c_custkey = 2*k+1` is a non-equi predicate
    that Spark must plan as a broadcast nested-loop join each level —
    measured 15.7x slower at sf1: 157 s vs 10 s for this form.) The
    engine materializes level by level exactly like the hand-written
    Pregel loops (graph.bfs_hops) but plans/reuses it internally;
    depth is log2(|customers|), so ~30 levels even at billions of
    rows. The (c_custkey, c_acctbal) PROJECTION of the dim rides
    track_cache (round 11, guide §5): every recursion level hash-joins
    against it, so without the cache a depth-d tree re-reads and
    re-decodes the parquet d times — released by the caller's
    release_caches. The cache is the pruned projection under a scoped
    view name, NOT the verbatim base table under "customer": caching
    the raw load_table made Spark's CacheManager substitute the
    InMemoryRelation into EVERY later customer scan in the session
    (q3's c_mktsegment pushdown vanished — caught by the full-suite
    plan gate), and re-registering "customer" stomped the session
    view."""
    track_cache(
        load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    ).createOrReplaceTempView("__org_customer_r11")
    df = spark.sql(
        """
        WITH RECURSIVE org AS (
          SELECT CAST(1 AS BIGINT) AS k, CAST(0 AS BIGINT) AS depth,
                 (SELECT c_acctbal FROM __org_customer_r11
                  WHERE c_custkey = 1) AS bal
          UNION ALL
          SELECT c.c_custkey, f.depth + 1, c.c_acctbal
          FROM (SELECT explode(array(2 * k, 2 * k + 1)) AS child, depth
                FROM org) f
          JOIN __org_customer_r11 c ON c.c_custkey = f.child
        )
        SELECT depth, count(*) AS n,
               CAST(sum(CAST(floor(bal * 100 + 0.5) AS BIGINT)) AS BIGINT)
                 AS bal_cents
        FROM org GROUP BY depth
        """
    )
    # spark.sql analyzes eagerly, so the resolved plan keeps the cached
    # projection; drop the scoped view so it cannot linger in the
    # session catalog across queries (ADVICE r11)
    spark.catalog.dropTempView("__org_customer_r11")
    return df


@register(
    "item_recommendations",
    """
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pop AS (SELECT l_partkey AS p, count(*) AS n FROM li GROUP BY 1),
    anchors AS (
      SELECT p, n FROM (
        SELECT p, n, row_number() OVER (ORDER BY n DESC, p) AS r FROM pop
      ) WHERE r <= 20
    ),
    co AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS nab
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey != b.l_partkey
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT co.pa AS part, co.pb AS rec, co.nab,
             CAST(floor(co.nab / sqrt(CAST(anchors.n AS DOUBLE) * pop.n)
                        * 1000000 + 0.5) AS BIGINT) AS cosine_units
      FROM co
      JOIN anchors ON anchors.p = co.pa
      JOIN pop ON pop.p = co.pb
    )
    SELECT part, rec, nab, cosine_units, CAST(rnk AS BIGINT) AS rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY part
                                   ORDER BY cosine_units DESC, rec) AS rnk
      FROM scored
    ) WHERE rnk <= 3
    """,
)
def item_recommendations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """"Customers also bought": for the 20 most-purchased parts, the 3
    most-similar parts by co-occurrence cosine n_ab/sqrt(n_a*n_b) —
    the serving-side recommendation list that association_rules'
    confidence/lift mining feeds. The cosine quantizes to exact
    micro-units BEFORE ranking, so the top-3 (ties by part id) is
    engine-portable.

    Scale: co-occurrence pairs come from the order-keyed self-join
    (bounded by items-per-basket, never all parts x parts); anchor
    parts and popularity counts broadcast; the top-3 window partitions
    by the anchor part."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).distinct()
    pop = li.groupBy(F.col("l_partkey").alias("p")).agg(
        F.count(F.lit(1)).alias("n")
    )
    # anchor selection is a TakeOrderedAndProject (distributed
    # per-partition top-20 + tiny driver merge), NOT an unpartitioned
    # rank window — the same swap priority_sample got: a global-window
    # row_number here would funnel every part through one task
    anchors = pop.orderBy(F.col("n").desc(), "p").limit(20).select("p", "n")
    # co-occurrence counts from the in-row basket expansion (one row
    # per order-pair, both orientations via the swapped union) instead
    # of an items self-join — see common._basket_pairs_per_order

    up = _basket_pairs_per_order(li)
    co = (
        up.select(F.col("a").alias("pa"), F.col("b").alias("pb"))
        .unionAll(up.select(F.col("b").alias("pa"), F.col("a").alias("pb")))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("nab"))
    )
    an = anchors.select(F.col("p").alias("pa"), F.col("n").alias("na"))
    pb = pop.select(F.col("p").alias("pb"), F.col("n").alias("nb"))
    scored = (
        co.join(F.broadcast(an), "pa")
        .join(F.broadcast(pb), "pb")
        .select(
            F.col("pa").alias("part"),
            F.col("pb").alias("rec"),
            "nab",
            F.floor(
                F.col("nab")
                / F.sqrt(F.col("na").cast("double") * F.col("nb"))
                * 1000000
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("cosine_units"),
        )
    )
    w = Window.partitionBy("part").orderBy(F.col("cosine_units").desc(), "rec")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 3)
        .select("part", "rec", "nab", "cosine_units", "rnk")
    )


@register(
    "orphan_routing",
    """
    WITH routed AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_custkey IS NOT NULL
                       AND o_custkey IN (SELECT c_custkey FROM customer
                                         WHERE c_custkey % 97 <> 0)
                  THEN 'clean' ELSE 'quarantine' END AS route
      FROM orders
    )
    SELECT route, count(*) AS n_rows,
           CAST(sum(o_orderkey) AS BIGINT) AS key_checksum
    FROM routed GROUP BY route
    """,
)
def orphan_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter routing: orders whose customer FK resolves load as
    'clean'; NULL or unmatched keys route to 'quarantine' instead of
    silently joining away or poisoning the load — the ETL pattern that
    keeps referential breakage visible and replayable (every c_custkey
    divisible by 97 stands in for a purged parent row — the exact
    aftermath of a delete_where GDPR purge). Emits per-route counts
    plus an order-key checksum pinning EXACTLY which rows took each
    path.

    Scale: one broadcast(ish) semi-join against the parent key set and
    a 2-group rollup; the routed frames would each feed their own sink
    (clean -> fact table, quarantine -> replay queue)."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    keys = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 97 != 0)
        .select(F.col("c_custkey").alias("o_custkey"))
        .distinct()
    )
    matched = o.join(F.broadcast(keys), "o_custkey", "left_semi")
    clean_ids = matched.select("o_orderkey")
    # route via semi/anti against the matched set (null-safe: NULL FKs
    # never match the semi-join, so they quarantine)
    quarantine = o.join(clean_ids, "o_orderkey", "left_anti")
    clean = o.join(clean_ids, "o_orderkey", "left_semi")
    c = clean.agg(
        F.lit("clean").alias("route"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").alias("key_checksum"),
    )
    q = quarantine.agg(
        F.lit("quarantine").alias("route"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").alias("key_checksum"),
    )
    return c.unionAll(q)


@register("file_health_report")  # rows-only: the oracle views cannot
# surface DuckDB's filename pseudo-column; ground truth is pinned by a
# pyarrow footer replay in tests instead
def file_health_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lake health: rows per backing parquet file plus each file's
    balance factor (multiple of the mean file load) — the report that
    says when a table has degraded into small or skewed files and
    ParquetSink.compact should run. File identity via input_file_name()
    (metadata column, no extra scan work); rows-only in the gate — a
    SQL view cannot surface file identity — with the per-file counts
    pinned exactly against the parquet footers via pyarrow in tests.

    Scale: one map-side-combined aggregate keyed by file — exactly as
    many groups as files."""
    li = load_table(spark, sf_dir, "lineitem")
    per_file = (
        li.select(
            F.regexp_extract(F.input_file_name(), "[^/]+$", 0).alias("file_name")
        )
        .groupBy("file_name")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    tot = per_file.agg(
        F.count(F.lit(1)).alias("n_files"), F.sum("n_rows").alias("total")
    )
    return per_file.crossJoin(F.broadcast(tot)).select(
        "file_name",
        "n_rows",
        F.round(
            F.col("n_rows").cast("double") * F.col("n_files") / F.col("total"), 4
        ).alias("balance_factor"),
    )


@register(
    "incremental_join_maintenance",
    """
    SELECT o.o_orderkey, o.o_custkey, c.c_name,
           round(o.o_totalprice, 2) AS totalprice
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    """,
)
def incremental_join_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN materialized view under
    deltas on BOTH sides — the classic IVM identity
    Δ(A ⋈ B) = ΔA ⋈ B_old  ∪  A_old ⋈ ΔB  ∪  ΔA ⋈ ΔB:
    the stored view (old orders ⋈ old customers) is brought up to date
    by joining only the deltas, never re-joining the old ⋈ old bulk —
    at 100 TB that is the difference between a delta-sized nightly job
    and a full recompute. Splits are deterministic (orderkey/custkey
    mod), every join is the same custkey equi-join (dims broadcast
    under AQE), and the oracle is the full-recompute join the
    maintained view must equal exactly."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("totalprice")
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    a_old = o.filter(F.col("o_orderkey") % 4 != 0)
    da = o.filter(F.col("o_orderkey") % 4 == 0)
    b_old = c.filter(F.col("c_custkey") % 5 != 0)
    db = c.filter(F.col("c_custkey") % 5 == 0)
    on = F.col("c_custkey") == F.col("o_custkey")

    def j(left, right):
        return left.join(right, on).select(
            "o_orderkey", "o_custkey", "c_name", "totalprice"
        )

    view_old = j(a_old, b_old)  # the stored view
    delta = j(da, b_old).unionByName(j(a_old, db)).unionByName(j(da, db))
    return view_old.unionByName(delta)


@register(
    "skew_salted_join_hot",
    f"""
    WITH hot AS (
      SELECT CASE WHEN l_orderkey % 10 < 7 THEN 1 ELSE l_suppkey END AS s_suppkey,
             l_extendedprice, l_discount
      FROM lineitem
    )
    SELECT s_name,
           count(*) AS n_items,
           {sql_sum("l_extendedprice * (1 - l_discount)")} AS revenue
    FROM hot JOIN supplier USING (s_suppkey)
    GROUP BY s_name
    ORDER BY s_name
    """,
)
def skew_salted_join_hot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join under ENGINEERED skew: 70% of lineitem rows are
    remapped onto ONE hot supplier key (deterministic l_orderkey % 10
    rule, so the oracle replays it), then joined through
    operators/scale.salted_join — the hot key's rows scatter across 16
    salt replicas instead of one straggler reducer. The oracle is the
    plain join over the same remapping: salting must be a pure
    physical-plan rewrite with zero value drift.

    Scale evidence: tools/skew_bench.py measures this dataset with
    plain vs salted shuffle joins (broadcast + AQE skew-split disabled
    to simulate the big x big regime where neither applies) and
    BASELINE.md records the straggler-vs-salted wall ratio; this
    catalog entry keeps the salted path correctness-gated and in the
    bench v2 set at every round."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_orderkey") % 10 < 7, F.lit(1))
        .otherwise(F.col("l_suppkey"))
        .alias("s_suppkey"),
        "l_extendedprice",
        "l_discount",
    )
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    joined = salted_join(li, sup, key="s_suppkey", salt=16)
    return (
        joined.groupBy("s_name")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
        )
        .orderBy("s_name")
    )


@register(
    "feature_matrix_pit",
    """
    WITH o AS (
      SELECT o_orderkey, o_custkey, o_orderdate,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    )
    SELECT o_orderkey, o_custkey,
           strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS order_date,
           CAST(count(*) OVER wprev AS BIGINT) AS n_prior_orders,
           CAST(coalesce(sum(cents) OVER wprev, 0) AS BIGINT) AS prior_rev_cents,
           CAST(date_diff('day', CAST(lag(o_orderdate) OVER wo AS DATE),
                          CAST(o_orderdate AS DATE)) AS INTEGER) AS days_since_prev,
           cents AS label_cents
    FROM o
    WINDOW wo AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
           wprev AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    """,
)
def feature_matrix_pit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time training matrix (the feature-store backfill
    pattern): one row per order with features computed ONLY from that
    customer's strictly-earlier history — prior order count, prior
    revenue cents, days since the previous order — plus the label.
    Leakage-correctness is the whole point: the frame ends at 1
    PRECEDING, so no feature ever sees its own label's row (the as-of
    discipline train/serve skew audits demand).

    Scale: every window is PARTITIONED BY customer with bounded
    per-entity frames — no global sort, shuffle keyed on the entity
    exactly once; revenue stays integer cents end-to-end."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )
    wo = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wprev = wo.rowsBetween(Window.unboundedPreceding, -1)
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        F.count(F.lit(1)).over(wprev).alias("n_prior_orders"),
        F.coalesce(F.sum("cents").over(wprev), F.lit(0)).alias("prior_rev_cents"),
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag(F.col("o_orderdate").cast("date")).over(wo),
        ).alias("days_since_prev"),
        F.col("cents").alias("label_cents"),
    )


@register(
    "psi_feature_drift",
    """
    WITH o AS (
      SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             CASE WHEN o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
                  THEN 'base' ELSE 'target' END AS period
      FROM orders
    ),
    bucketed AS (
      SELECT least(9, cents // 5000000) AS bucket, period FROM o
    ),
    counts AS (
      SELECT g.b AS bucket,
             CAST(coalesce(sum(CASE WHEN period = 'base' THEN 1 END), 0)
                  AS BIGINT) AS n_base,
             CAST(coalesce(sum(CASE WHEN period = 'target' THEN 1 END), 0)
                  AS BIGINT) AS n_target
      FROM UNNEST(generate_series(0, 9)) AS g(b)
      LEFT JOIN bucketed ON bucketed.bucket = g.b
      GROUP BY 1
    ),
    tot AS (SELECT sum(n_base) AS tb, sum(n_target) AS tt FROM counts)
    SELECT bucket, n_base, n_target,
           round((CAST(n_base + 1 AS DOUBLE) / (tb + 10)
                  - CAST(n_target + 1 AS DOUBLE) / (tt + 10))
                 * ln((CAST(n_base + 1 AS DOUBLE) / (tb + 10))
                      / (CAST(n_target + 1 AS DOUBLE) / (tt + 10))) + 0.0,
                 6) AS psi_contrib
    FROM counts, tot
    """,
)
def psi_feature_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per bucket — the standard production
    feature-drift monitor: order value distribution in a base period
    vs a target period over 10 fixed-width buckets, add-one smoothed
    (integer counts, so the smoothed shares are rationals of integers
    and both engines feed ln identical doubles — the unigram_logprob
    exactness pattern). Sum psi_contrib >= 0.2 is the usual alarm.

    Scale: one map-side-combined bucket x period count (20 rows), a
    10-row scaffold join so empty buckets participate, broadcast
    totals — nothing beyond the initial aggregate touches data."""
    o = load_table(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
        F.when(
            F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"),
            F.lit("base"),
        )
        .otherwise(F.lit("target"))
        .alias("period"),
    )
    counts = (
        o.select(
            F.least(F.lit(9), F.floor(F.col("cents") / 5000000)).alias("bucket"),
            "period",
        )
        .groupBy("bucket")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("period") == "base", 1)), F.lit(0)
            ).alias("n_base"),
            F.coalesce(
                F.sum(F.when(F.col("period") == "target", 1)), F.lit(0)
            ).alias("n_target"),
        )
    )
    scaffold = spark.range(10).select(F.col("id").alias("bucket"))
    full = (
        scaffold.join(F.broadcast(counts), "bucket", "left")
        .select(
            "bucket",
            F.coalesce("n_base", F.lit(0)).alias("n_base"),
            F.coalesce("n_target", F.lit(0)).alias("n_target"),
        )
    )
    tot = full.agg(
        F.sum("n_base").alias("tb"), F.sum("n_target").alias("tt")
    )
    p = (F.col("n_base") + 1).cast("double") / (F.col("tb") + 10)
    q = (F.col("n_target") + 1).cast("double") / (F.col("tt") + 10)
    return full.crossJoin(F.broadcast(tot)).select(
        "bucket",
        "n_base",
        "n_target",
        F.round((p - q) * F.log(p / q) + F.lit(0.0), 6).alias("psi_contrib"),
    )


@register(
    "equi_depth_histogram",
    """
    WITH o AS (
      SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             o_orderkey
      FROM orders
    ),
    r AS (
      SELECT cents,
             row_number() OVER (ORDER BY cents, o_orderkey) AS rn,
             count(*) OVER () AS n
      FROM o
    )
    SELECT CAST((rn - 1) * 10 // n AS BIGINT) AS bucket,
           count(*) AS n_rows,
           min(cents) AS lo_cents,
           max(cents) AS hi_cents
    FROM r GROUP BY 1
    """,
)
def equi_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equi-depth (10-bucket) histogram of order values — the
    boundary statistics an optimizer / data profiler collects, computed
    with EXACT ranks rather than approxQuantile. Second consumer of the
    banded global_row_number (operators/ranking.py): range-partitioned
    rank + broadcast prefix offsets, total count free from the offsets
    pass — no single-partition sort at any cardinality."""
    o = load_table(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
        "o_orderkey",
    )
    ranked, total = global_row_number(
        o, [F.col("cents"), F.col("o_orderkey")], out_col="rn", with_total=True
    )
    return (
        ranked.groupBy(
            F.floor((F.col("rn") - 1) * 10 / F.lit(total)).cast("bigint").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("cents").alias("lo_cents"),
            F.max("cents").alias("hi_cents"),
        )
    )


@register(
    "ks_two_sample",
    """
    WITH o AS (
      SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             CASE WHEN o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
                  THEN 1 ELSE 0 END AS is_base
      FROM orders
    ),
    per_v AS (
      SELECT cents,
             CAST(sum(is_base) AS BIGINT) AS nb,
             CAST(sum(1 - is_base) AS BIGINT) AS nt
      FROM o GROUP BY cents
    ),
    tot AS (SELECT CAST(sum(nb) AS BIGINT) AS n_base,
                   CAST(sum(nt) AS BIGINT) AS n_target FROM per_v),
    cum AS (
      SELECT cents,
             CAST(sum(nb) OVER (ORDER BY cents) AS BIGINT) AS cb,
             CAST(sum(nt) OVER (ORDER BY cents) AS BIGINT) AS ct
      FROM per_v
    ),
    d AS (
      SELECT cents, abs(cb * n_target - ct * n_base) AS dnum
      FROM cum, tot
    ),
    best AS (SELECT cents, dnum FROM d ORDER BY dnum DESC, cents LIMIT 1)
    SELECT n_base, n_target, best.cents AS at_cents,
           round(CAST(dnum AS DOUBLE) / (n_base * n_target), 6) AS ks
    FROM best, tot
    """,
)
def ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift statistic between the base
    and target periods' order-value distributions: KS = max over the
    value domain of |ECDF_base - ECDF_target|, kept EXACT by comparing
    the integer cross products |cum_base*n_target - cum_target*n_base|
    and dividing once at the end. Complements psi_feature_drift
    (binned, localization) with the classic distribution-free test.

    Scale: the cumulative counts run through the BANDED global prefix
    sum (ranking.global_running_offset — third consumer) over the
    distinct-value frame, so the CDF never funnels through one task
    even when |distinct values| ~ |rows|; the argmax is a bounded-heap
    TakeOrdered, and totals broadcast."""
    o = load_table(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
        F.when(
            F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"), 1
        )
        .otherwise(0)
        .alias("is_base"),
    )
    per_v = o.groupBy("cents").agg(
        F.sum("is_base").cast("bigint").alias("nb"),
        F.sum(1 - F.col("is_base")).cast("bigint").alias("nt"),
    )
    tot = per_v.agg(
        F.sum("nb").cast("bigint").alias("n_base"),
        F.sum("nt").cast("bigint").alias("n_target"),
    )
    cb = global_running_offset(per_v, "nb", "cents", out_col="nb_excl")
    both = global_running_offset(cb, "nt", "cents", out_col="nt_excl")
    d = (
        both.crossJoin(F.broadcast(tot))
        .select(
            "cents",
            "n_base",
            "n_target",
            F.abs(
                (F.col("nb_excl") + F.col("nb")) * F.col("n_target")
                - (F.col("nt_excl") + F.col("nt")) * F.col("n_base")
            ).alias("dnum"),
        )
    )
    best = d.orderBy(F.col("dnum").desc(), "cents").limit(1)
    return best.select(
        "n_base",
        "n_target",
        F.col("cents").alias("at_cents"),
        F.round(
            F.col("dnum").cast("double") / (F.col("n_base") * F.col("n_target")), 6
        ).alias("ks"),
    )


@register(
    "benford_first_digit",
    """
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                          AS VARCHAR), 1, 1) AS INTEGER) AS digit
      FROM orders
      WHERE o_totalprice > 0
    ),
    tot AS (SELECT count(*) AS n FROM d)
    SELECT digit,
           count(*) AS n_obs,
           round(CAST(count(*) AS DOUBLE) / n, 6) AS obs_share,
           round(log10(1.0 + 1.0 / digit), 6) AS benford_share
    FROM d, tot
    GROUP BY digit, n
    """,
)
def benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order values — the classic
    fraud / synthetic-data smell test a data-quality suite runs over
    monetary columns: observed first-significant-digit shares next to
    the Benford expectation log10(1 + 1/d). First digits come from the
    integer-cents string (no float log extraction to drift); shares
    are one division; the expected shares are constants both engines
    compute identically.

    Scale: one map-side-combined 9-group aggregate plus a broadcast
    total — a single pass at any size."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    d = o.select(
        F.substring(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("bigint")
            .cast("string"),
            1,
            1,
        )
        .cast("int")
        .alias("digit")
    )
    tot = d.agg(F.count(F.lit(1)).alias("n"))
    return (
        d.crossJoin(F.broadcast(tot))
        .groupBy("digit", "n")
        .agg(F.count(F.lit(1)).alias("n_obs"))
        .select(
            "digit",
            "n_obs",
            F.round(F.col("n_obs").cast("double") / F.col("n"), 6).alias(
                "obs_share"
            ),
            F.round(F.log10(1.0 + 1.0 / F.col("digit")), 6).alias("benford_share"),
        )
    )


@register(
    "woe_information_value",
    """
    WITH base AS (
      SELECT least(CAST(floor(o_totalprice / 60000.0) AS BIGINT), 9) AS bucket,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS bad
      FROM orders
    ),
    bins AS (
      SELECT bucket, CAST(sum(1 - bad) AS BIGINT) AS n_good,
             CAST(sum(bad) AS BIGINT) AS n_bad
      FROM base GROUP BY bucket
    ),
    tot AS (
      SELECT CAST(sum(n_good) AS BIGINT) AS g_tot,
             CAST(sum(n_bad) AS BIGINT) AS b_tot,
             count(*) AS k FROM bins
    )
    SELECT bucket, n_good, n_bad,
           CAST(floor((CAST(floor(ln((n_good + 1) * 1.0 / (g_tot + k)) * 1000000 + 0.5)
                       AS BIGINT)
                - CAST(floor(ln((n_bad + 1) * 1.0 / (b_tot + k)) * 1000000 + 0.5)
                       AS BIGINT)) / 100.0 + 0.5) AS BIGINT) / 10000.0 + 0.0 AS woe,
           round(((n_good + 1) * 1.0 / (g_tot + k)
                 - (n_bad + 1) * 1.0 / (b_tot + k))
                 * (CAST(floor(ln((n_good + 1) * 1.0 / (g_tot + k)) * 1000000 + 0.5)
                         AS BIGINT)
                  - CAST(floor(ln((n_bad + 1) * 1.0 / (b_tot + k)) * 1000000 + 0.5)
                         AS BIGINT)) / 1000000.0, 6) + 0.0 AS iv_contrib
    FROM bins CROSS JOIN tot
    """,
)
def woe_information_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence / information-value profile of order value
    vs fulfillment status — the credit-scoring-style predictive-power
    screen run before binning a feature into a model: per fixed-width
    price bucket, WOE = ln(p(bucket|good)/p(bucket|bad)) with add-one
    smoothing and the bucket's IV contribution (sum >= 0.1 — weak,
    >= 0.3 — strong predictor). Integer-quantized ln of rationals of
    counts keeps engines bit-identical.

    Scale: one map-side-combined bucket x label count (<= 10 rows),
    broadcast totals — nothing after the first aggregate touches
    data."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        F.least(F.floor(F.col("o_totalprice") / 60000.0).cast("long"), F.lit(9)).alias(
            "bucket"
        ),
        (F.col("o_orderstatus") == "F").cast("long").alias("bad"),
    )
    bins = base.groupBy("bucket").agg(
        F.sum(1 - F.col("bad")).alias("n_good"), F.sum("bad").alias("n_bad")
    )
    tot = bins.agg(
        F.sum("n_good").alias("g_tot"),
        F.sum("n_bad").alias("b_tot"),
        F.count(F.lit(1)).alias("k"),
    )

    pg = (F.col("n_good") + 1) / (F.col("g_tot") + F.col("k"))
    pb = (F.col("n_bad") + 1) / (F.col("b_tot") + F.col("k"))
    units = qlog(pg) - qlog(pb)
    return bins.crossJoin(F.broadcast(tot)).select(
        "bucket",
        "n_good",
        "n_bad",
        # integer-space half-up to 1e-4 (see lang/source pmi note)
        (
            F.floor(units / F.lit(100.0) + F.lit(0.5)).cast("bigint")
            / F.lit(10000.0)
            + F.lit(0.0)
        ).alias("woe"),
        (F.round((pg - pb) * units / 1e6, 6) + F.lit(0.0)).alias("iv_contrib"),
    )


@register(
    "ewma_revenue_trend",
    """
    WITH daily AS (
      SELECT date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS day,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS rev_cents
      FROM orders GROUP BY 1
    ),
    pairs AS (
      SELECT cur.day, src.rev_cents,
             CAST(2**(19 - (cur.day - src.day)) AS BIGINT) AS w
      FROM daily cur JOIN daily src
        ON src.day BETWEEN cur.day - 19 AND cur.day
    ),
    agg AS (
      SELECT day, CAST(sum(rev_cents * w) AS BIGINT) AS num,
             CAST(sum(w) AS BIGINT) AS den
      FROM pairs GROUP BY day
    )
    SELECT d.day, d.rev_cents,
           ((num // den) * 10000
            + ((num % den) * 20000 + den) // (2 * den)) / 10000.0
             AS ewma_cents
    FROM daily d JOIN agg USING (day)
    ORDER BY d.day LIMIT 100
    """,
)
def ewma_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of daily revenue with
    dyadic half-life-1-day weights over a bounded 20-day lookback —
    the smoothing/trend primitive behind monitoring dashboards,
    computed EXACTLY: weights 2^(19-lag) and revenue cents are
    integers, so numerator/denominator are exact BIGINTs and the
    single final division is the only float op (identical IEEE
    rounding on both engines). First 100 days shown (TakeOrdered).

    Scale: daily totals are one map-side-combined aggregate (rows =
    distinct days, not orders); the lookback is a bounded equi-ish
    range self-join over that DAY-COUNT-sized frame — the classic
    bounded-lag pattern that never touches raw rows twice."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date")
        ).alias("day")
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("rev_cents")
    )
    cur, src = daily.alias("cur"), daily.alias("src")
    pairs = cur.join(
        src,
        (F.col("src.day") >= F.col("cur.day") - 19)
        & (F.col("src.day") <= F.col("cur.day")),
    ).select(
        F.col("cur.day").alias("day"),
        F.col("src.rev_cents").alias("rev_cents"),
        F.pow(F.lit(2.0), (F.lit(19) - (F.col("cur.day") - F.col("src.day"))).cast("double"))
        .cast("long")
        .alias("w"),
    )
    agg = pairs.groupBy("day").agg(
        F.sum(F.col("rev_cents") * F.col("w")).alias("num"),
        F.sum("w").alias("den"),
    )
    return (
        daily.join(agg, "day")
        .select(
            "day",
            "rev_cents",
            # round-half-up at 4 decimals in INTEGER space via the
            # quotient/remainder split (num*20000 would overflow int64
            # at larger rungs; the remainder is < den <= 2^20 so its
            # scaled rounding term never does), then one exact
            # integer-to-double division — round(double, 4) at 14+
            # significant digits is engine-divergent at representability
            # knife edges (caught by the round-8 sf1 sweep)
            (
                F.expr(
                    "(num div den) * 10000"
                    " + ((num % den) * 20000 + den) div (2 * den)"
                )
                / 10000.0
            ).alias("ewma_cents"),
        )
        .orderBy("day")
        .limit(100)
    )


# ----------------------------------------------------------------------
# zone-map prunability audit
# ----------------------------------------------------------------------

ZM_BUCKET = 1000  # orderkeys per bucket (row-group stand-in)


ZM_BANDS = 20  # predicate bands across each column's global range


def _zonemap_oracle() -> str:
    cols = {
        "l_orderkey": "l_orderkey",
        "l_partkey": "l_partkey",
        "l_shipdate_days": "(CAST(l_shipdate AS DATE) - DATE '1970-01-01')",
    }
    mm = ",\n             ".join(
        f"min({e}) AS mn_{c}, max({e}) AS mx_{c}" for c, e in cols.items()
    )
    gl = ",\n             ".join(
        f"min(mn_{c}) AS lo_{c}, max(mx_{c}) AS hi_{c}" for c in cols
    )
    w = {c: f"((g.hi_{c} - g.lo_{c}) // {ZM_BANDS} + 1)" for c in cols}
    ov = ",\n             ".join(
        f"sum((b.mx_{c} - g.lo_{c}) // {w[c]}"
        f" - (b.mn_{c} - g.lo_{c}) // {w[c]} + 1) AS ov_{c}"
        for c in cols
    )
    rows = "\n      UNION ALL\n".join(
        f"""      SELECT '{c}' AS column_name, n_buckets,
             CAST({ZM_BANDS} AS BIGINT) AS n_bands,
             CAST(ov_{c} AS BIGINT) AS n_overlaps,
             CAST(10000 - (10000 * ov_{c}) // (n_buckets * {ZM_BANDS}) AS BIGINT)
               AS prunable_bp
      FROM o"""
        for c in cols
    )
    return f"""
    WITH b AS (
      SELECT l_orderkey // {ZM_BUCKET} AS bkt,
             {mm}
      FROM lineitem GROUP BY 1
    ),
    g AS (SELECT {gl} FROM b),
    o AS (
      SELECT count(*) AS n_buckets,
             {ov}
      FROM b CROSS JOIN g
    )
{rows}
    """


@register("zonemap_pruning", _zonemap_oracle())
def zonemap_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map prunability audit: collect per-bucket (orderkey-range,
    the row-group stand-in) min/max stats for three columns, split each
    column's global range into 20 equal bands, and count exactly how
    many bands each bucket's [min, max] zone overlaps — closed form
    band(max) - band(min) + 1, no join. `prunable_bp` is the fraction
    of (bucket, band-predicate) pairs a stats-aware scan skips:
    ~9500 bp for the layout-clustered l_orderkey, ~0 for the
    uncorrelated l_shipdate — the measurement that tells you which
    predicates your file layout can serve and which need re-clustering
    (see zorder_key_lineitem for the fix).

    Scale: ONE map-side-combinable min/max aggregation with one row
    per bucket (exactly a lakehouse stats collection pass), a 1-row
    global reduce, and arithmetic — no per-row state after the scan."""
    li = load_table(spark, sf_dir, "lineitem")
    cols = {
        "l_orderkey": F.col("l_orderkey"),
        "l_partkey": F.col("l_partkey"),
        "l_shipdate_days": F.datediff(
            F.to_date("l_shipdate"), F.lit("1970-01-01").cast("date")
        ).cast("bigint"),
    }
    proj = li.select(
        (F.col("l_orderkey") / ZM_BUCKET).cast("bigint").alias("bkt"),
        *[e.alias(c) for c, e in cols.items()],
    )
    b = proj.groupBy("bkt").agg(
        *[
            f(c).alias(f"{p}_{c}")
            for c in cols
            for p, f in (("mn", F.min), ("mx", F.max))
        ]
    )
    g = b.agg(
        *[F.min(f"mn_{c}").alias(f"lo_{c}") for c in cols],
        *[F.max(f"mx_{c}").alias(f"hi_{c}") for c in cols],
    )
    o = b.crossJoin(F.broadcast(g)).agg(
        F.count(F.lit(1)).alias("n_buckets"),
        *[
            F.sum(
                F.expr(
                    f"(mx_{c} - lo_{c}) DIV ((hi_{c} - lo_{c}) DIV {ZM_BANDS} + 1)"
                    f" - (mn_{c} - lo_{c}) DIV ((hi_{c} - lo_{c}) DIV {ZM_BANDS} + 1)"
                    " + 1"
                )
            ).alias(f"ov_{c}")
            for c in cols
        ],
    )
    stack = ", ".join(f"'{c}', ov_{c}" for c in cols)
    return o.select(
        F.expr(f"stack({len(cols)}, {stack})").alias("column_name", "n_overlaps"),
        "n_buckets",
    ).select(
        "column_name",
        F.col("n_buckets").cast("bigint").alias("n_buckets"),
        F.lit(ZM_BANDS).cast("bigint").alias("n_bands"),
        F.col("n_overlaps").cast("bigint").alias("n_overlaps"),
        F.expr(
            f"CAST(10000 - (10000 * n_overlaps) DIV (n_buckets * {ZM_BANDS})"
            " AS BIGINT)"
        ).alias("prunable_bp"),
    )


# ----------------------------------------------------------------------
# columnar encoding advisor
# ----------------------------------------------------------------------


def _ceil_log2_sql(x: str, max_bits: int = 25) -> str:
    """Smallest b with 2^b >= x, as an exact comparison chain (float
    log2 is fragile at exact powers on either engine)."""
    cases = " ".join(
        f"WHEN {x} <= {1 << b} THEN {b}" for b in range(max_bits)
    )
    return f"(CASE {cases} ELSE {max_bits} END)"


ENC_COLS = {
    "l_returnflag": "l_returnflag",
    "l_linestatus": "l_linestatus",
    "l_shipdate": "strftime(CAST(l_shipdate AS DATE), '%Y-%m-%d')",
    "l_quantity": "CAST(CAST(floor(l_quantity) AS BIGINT) AS VARCHAR)",
}


def _encoding_oracle() -> str:
    lags = ",\n             ".join(
        f"v_{c},\n             "
        f"CASE WHEN lag(v_{c}) OVER w IS NULL OR v_{c} <> lag(v_{c}) OVER w"
        f" THEN 1 ELSE 0 END AS rs_{c}"
        for c in ENC_COLS
    )
    aggs = ",\n             ".join(
        f"sum(rs_{c}) AS runs_{c}, sum(strlen(v_{c})) AS pb_{c},"
        f" count(DISTINCT v_{c}) AS ndv_{c}"
        for c in ENC_COLS
    )
    dbytes = ",\n    ".join(
        f"db_{c} AS (SELECT sum(strlen(v)) AS b FROM"
        f" (SELECT DISTINCT v_{c} AS v FROM t))"
        for c in ENC_COLS
    )
    rows = []
    for c in ENC_COLS:
        bits = _ceil_log2_sql(f"a.ndv_{c}")
        rows.append(
            f"""      SELECT '{c}' AS column_name,
             CAST(a.n_values AS BIGINT) AS n_values,
             CAST(a.ndv_{c} AS BIGINT) AS ndv,
             CAST(a.runs_{c} AS BIGINT) AS n_runs,
             CAST(a.pb_{c} AS BIGINT) AS plain_bytes,
             CAST((a.n_values * {bits} + 7) // 8 + db_{c}.b AS BIGINT)
               AS dict_bytes,
             CAST((a.runs_{c} * ({bits} + 32) + 7) // 8 + db_{c}.b AS BIGINT)
               AS rle_bytes
      FROM a, db_{c}"""
        )
    union = "\n      UNION ALL\n".join(rows)
    sel = ",\n           ".join(f"{e} AS v_{c}" for c, e in ENC_COLS.items())
    return f"""
    WITH t AS (
      SELECT l_orderkey // {ZM_BUCKET} AS bkt, l_orderkey, l_linenumber,
           {sel}
      FROM lineitem
    ),
    r AS (
      SELECT bkt,
             {lags}
      FROM t
      WINDOW w AS (PARTITION BY bkt ORDER BY l_orderkey, l_linenumber,
                  v_l_returnflag, v_l_linestatus, v_l_shipdate, v_l_quantity)
    ),
    a AS (
      SELECT count(*) AS n_values,
             {aggs}
      FROM r
    ),
    {dbytes}
    SELECT u.column_name, u.n_values, u.ndv, u.n_runs, u.plain_bytes,
           u.dict_bytes, u.rle_bytes,
           CASE WHEN u.plain_bytes <= u.dict_bytes
                 AND u.plain_bytes <= u.rle_bytes THEN 'plain'
                WHEN u.dict_bytes <= u.rle_bytes THEN 'dict'
                ELSE 'rle' END AS best
    FROM (
{union}
    ) u
    """


@register("encoding_advisor", _encoding_oracle())
def encoding_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar encoding size advisor — the ANALYZE pass a format
    writer (parquet/ORC) runs to pick per-column encodings: exact run
    counts under the physical sort order (runs are row-group-local,
    per orderkey bucket, exactly like parquet pages), exact NDV, and
    byte estimates for plain (sum of value bytes), dictionary
    (ceil_log2(ndv) bits/value + dictionary chars) and RLE
    (runs * (index_bits + 32-bit length) + dictionary chars). The
    winner lands in `best`: low-cardinality flags -> rle/dict, the
    uncorrelated date -> dict, etc.

    Scale: one bucket-keyed window pass (no global sort — runs are
    defined within row groups, matching how an actual writer encodes
    page-locally) + one map-side-combinable aggregate; the per-column
    distinct-bytes scalars are dictionary-sized, broadcast back."""
    li = load_table(spark, sf_dir, "lineitem")
    spark_exprs = {
        "l_returnflag": F.col("l_returnflag"),
        "l_linestatus": F.col("l_linestatus"),
        "l_shipdate": F.date_format(F.to_date("l_shipdate"), "yyyy-MM-dd"),
        "l_quantity": F.floor("l_quantity").cast("bigint").cast("string"),
    }
    t = li.select(
        (F.col("l_orderkey") / ZM_BUCKET).cast("bigint").alias("bkt"),
        "l_orderkey",
        "l_linenumber",
        *[e.alias(f"v_{c}") for c, e in spark_exprs.items()],
    )
    w = Window.partitionBy("bkt").orderBy(
        "l_orderkey",
        "l_linenumber",
        *[f"v_{c}" for c in ENC_COLS],
    )
    r = t.select(
        *[F.col(f"v_{c}") for c in ENC_COLS],
        *[
            (
                F.lag(f"v_{c}").over(w).isNull()
                | (F.col(f"v_{c}") != F.lag(f"v_{c}").over(w))
            )
            .cast("int")
            .alias(f"rs_{c}")
            for c in ENC_COLS
        ],
    )
    a = r.agg(
        F.count(F.lit(1)).alias("n_values"),
        *[F.sum(f"rs_{c}").alias(f"runs_{c}") for c in ENC_COLS],
        *[F.sum(F.octet_length(f"v_{c}")).alias(f"pb_{c}") for c in ENC_COLS],
    )
    # Round 11 (guide §1.2/§2.3): ndv + dictionary bytes for all four
    # columns come from ONE exploded-pairs distinct pass — the previous
    # shape paid four extra lineitem scans (one distinct+sum per
    # column) AND a 5x Expand on the window output (4-way
    # countDistinct in the main aggregate). count("v")/sum skip nulls,
    # matching countDistinct's non-null semantics.
    cols = list(ENC_COLS)
    pairs = t.select(
        F.posexplode(F.array(*[F.col(f"v_{c}") for c in cols])).alias("i", "v")
    ).distinct()
    dstats = pairs.groupBy("i").agg(
        F.count("v").alias("ndv"), F.sum(F.octet_length("v")).alias("db")
    )
    wide = dstats.agg(
        *[
            F.max(F.when(F.col("i") == idx, F.col("ndv"))).alias(f"ndv_{c}")
            for idx, c in enumerate(cols)
        ],
        *[
            F.max(F.when(F.col("i") == idx, F.col("db"))).alias(f"db_{c}")
            for idx, c in enumerate(cols)
        ],
    )
    a = a.crossJoin(F.broadcast(wide))
    rows = []
    for c in ENC_COLS:
        bits = _ceil_log2_sql(f"ndv_{c}")
        rows.append(
            a.select(
                F.lit(c).alias("column_name"),
                F.col("n_values").cast("bigint").alias("n_values"),
                F.col(f"ndv_{c}").cast("bigint").alias("ndv"),
                F.col(f"runs_{c}").cast("bigint").alias("n_runs"),
                F.col(f"pb_{c}").cast("bigint").alias("plain_bytes"),
                F.expr(
                    f"CAST((n_values * {bits} + 7) DIV 8 + db_{c} AS BIGINT)"
                ).alias("dict_bytes"),
                F.expr(
                    f"CAST((runs_{c} * ({bits} + 32) + 7) DIV 8 + db_{c}"
                    " AS BIGINT)"
                ).alias("rle_bytes"),
            )
        )
    out = rows[0]
    for x in rows[1:]:
        out = out.unionByName(x)
    return out.withColumn(
        "best",
        F.when(
            (F.col("plain_bytes") <= F.col("dict_bytes"))
            & (F.col("plain_bytes") <= F.col("rle_bytes")),
            F.lit("plain"),
        )
        .when(F.col("dict_bytes") <= F.col("rle_bytes"), F.lit("dict"))
        .otherwise(F.lit("rle")),
    )


# ----------------------------------------------------------------------
# functional-dependency discovery
# ----------------------------------------------------------------------

FD_PANEL = [
    ("o_orderkey", "o_custkey"),  # key -> anything: holds
    ("o_orderkey", "o_orderstatus"),  # holds (key lhs)
    ("o_custkey", "o_orderpriority"),  # fails: customers reorder
    ("o_orderpriority", "o_orderstatus"),  # fails: 5 -> 3 values
]


def _fd_oracle() -> str:
    rows = "\n      UNION ALL\n".join(
        f"""      SELECT '{a}' AS lhs, '{b}' AS rhs,
             count(*) AS n_groups,
             CAST(sum(CASE WHEN ndv > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating_groups,
             CAST(sum(ndv - 1) AS BIGINT) AS n_surplus_values,
             CAST(CASE WHEN sum(ndv - 1) = 0 THEN 1 ELSE 0 END AS BIGINT)
               AS holds
      FROM (SELECT {a}, count(DISTINCT {b}) AS ndv FROM orders GROUP BY 1)"""
        for a, b in FD_PANEL
    )
    return rows


@register("fd_discovery", _fd_oracle())
def fd_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency profiling: for each A -> B hypothesis in
    the panel, the exact number of A-groups carrying more than one B
    value and the total surplus — the schema-inference pass a catalog
    crawler runs to find keys and denormalization opportunities.
    holds=1 iff the dependency is exact.

    Scale: each hypothesis is one (A, B) distinct-count aggregation —
    map-side combinable, shuffle keyed on A; the panel is fixed-size,
    so the whole audit is a handful of independent scans Catalyst can
    share via cache or run concurrently."""
    orders = load_table(spark, sf_dir, "orders")
    outs = []
    for a, b in FD_PANEL:
        g = orders.groupBy(a).agg(F.countDistinct(b).alias("ndv"))
        outs.append(
            g.agg(
                F.lit(a).alias("lhs"),
                F.lit(b).alias("rhs"),
                F.count(F.lit(1)).alias("n_groups"),
                F.sum((F.col("ndv") > 1).cast("int"))
                .cast("bigint")
                .alias("n_violating_groups"),
                F.sum(F.col("ndv") - 1).cast("bigint").alias("n_surplus_values"),
            ).select(
                "lhs",
                "rhs",
                "n_groups",
                "n_violating_groups",
                "n_surplus_values",
                F.when(F.col("n_surplus_values") == 0, 1)
                .otherwise(0)
                .cast("bigint")
                .alias("holds"),
            )
        )
    out = outs[0]
    for x in outs[1:]:
        out = out.unionByName(x)
    return out


K_ANON = 10  # release threshold


def _kanon_oracle() -> str:
    return f"""
    WITH cells AS (
      SELECT o_orderpriority, o_orderstatus,
             date_trunc('month', o_orderdate) AS m,
             count(*) AS sz,
             count(DISTINCT CAST(floor(o_totalprice / 50000) AS BIGINT)) AS l_div
      FROM orders GROUP BY 1, 2, 3
    )
    SELECT CAST(sum(sz) AS BIGINT) AS n_records,
           count(*) AS n_cells,
           CAST(sum(CASE WHEN sz < {K_ANON} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating_cells,
           CAST(sum(CASE WHEN sz < {K_ANON} THEN sz ELSE 0 END) AS BIGINT)
             AS n_records_at_risk,
           CAST((10000 * sum(CASE WHEN sz < {K_ANON} THEN sz ELSE 0 END))
                // sum(sz) AS BIGINT) AS suppression_bp,
           CAST(min(CASE WHEN sz >= {K_ANON} THEN l_div END) AS BIGINT)
             AS min_l_released,
           CAST(sum(CASE WHEN sz >= {K_ANON} AND l_div < 3 THEN 1 ELSE 0 END)
                AS BIGINT) AS released_cells_low_diversity
    FROM cells
    """


@register("k_anonymity_audit", _kanon_oracle())
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity + l-diversity release audit for the quasi-identifier
    (priority, status, order-month) with k=10 and the price band
    (50k buckets) as the sensitive attribute: how many QI cells are
    too small to release, how many records they hold (= the exact
    suppression cost of reaching k), and — for the cells that WOULD be
    released — the minimum sensitive diversity (a k-anonymous cell
    with one price band still leaks; Machanavajjhala 2007).

    Scale: one (QI) -> (count, distinct-sensitive) aggregation plus a
    7-value reduce — map-side combinable, shuffle keyed on the QI,
    output size bounded by the QI domain regardless of input rows."""
    o = load_table(spark, sf_dir, "orders")
    cells = o.groupBy(
        "o_orderpriority",
        "o_orderstatus",
        F.date_trunc("month", F.col("o_orderdate").cast("timestamp")).alias("m"),
    ).agg(
        F.count(F.lit(1)).alias("sz"),
        F.countDistinct(
            F.floor(F.col("o_totalprice") / 50000).cast("bigint")
        ).alias("l_div"),
    )
    viol = F.col("sz") < K_ANON
    return cells.agg(
        F.sum("sz").cast("bigint").alias("n_records"),
        F.count(F.lit(1)).alias("n_cells"),
        F.sum(viol.cast("int")).cast("bigint").alias("n_violating_cells"),
        F.sum(F.when(viol, F.col("sz")).otherwise(0))
        .cast("bigint")
        .alias("n_records_at_risk"),
        F.min(F.when(~viol, F.col("l_div"))).cast("bigint").alias("min_l_released"),
        F.sum((~viol & (F.col("l_div") < 3)).cast("int"))
        .cast("bigint")
        .alias("released_cells_low_diversity"),
    ).select(
        "n_records",
        "n_cells",
        "n_violating_cells",
        "n_records_at_risk",
        F.expr("CAST((10000 * n_records_at_risk) DIV n_records AS BIGINT)").alias(
            "suppression_bp"
        ),
        "min_l_released",
        "released_cells_low_diversity",
    )


QI_SETS = [
    ("o_orderpriority",),
    ("o_orderpriority", "o_orderstatus"),
    ("o_orderpriority", "o_orderstatus", "o_orderdate"),
]


def _reident_oracle() -> str:
    rows = "\n      UNION ALL\n".join(
        f"""      SELECT CAST({len(qi)} AS BIGINT) AS qi_width,
             '{",".join(qi)}' AS qi_cols,
             count(*) AS n_cells,
             CAST(sum(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_singleton_cells,
             CAST((10000 * sum(CASE WHEN sz = 1 THEN 1 ELSE 0 END))
                  // sum(sz) AS BIGINT) AS unicity_bp
      FROM (SELECT count(*) AS sz FROM orders GROUP BY {", ".join(qi)})"""
        for qi in QI_SETS
    )
    return rows


@register("reidentification_risk", _reident_oracle())
def reidentification_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicity growth as the quasi-identifier widens: a record alone in
    its QI cell is individually re-identifiable by anyone who knows
    those attributes. Three nested QI sets (priority; +status; +exact
    order date) show risk compounding from zero to material — the
    empirical heart of de Montjoye 2013-style unicity studies, exact
    here rather than sampled.

    Scale: one count aggregation per QI set (the sets are nested, so a
    cluster run could roll coarser sets up from the finest — kept as
    independent map-side-combinable aggs for clarity; each output is
    one row)."""
    o = load_table(spark, sf_dir, "orders")
    outs = []
    for qi in QI_SETS:
        sz = o.groupBy(*qi).agg(F.count(F.lit(1)).alias("sz"))
        outs.append(
            sz.agg(
                F.lit(len(qi)).cast("bigint").alias("qi_width"),
                F.lit(",".join(qi)).alias("qi_cols"),
                F.count(F.lit(1)).alias("n_cells"),
                F.sum((F.col("sz") == 1).cast("int"))
                .cast("bigint")
                .alias("n_singleton_cells"),
                F.sum("sz").alias("__n"),
            ).select(
                "qi_width",
                "qi_cols",
                "n_cells",
                "n_singleton_cells",
                F.expr(
                    "CAST((10000 * n_singleton_cells) DIV __n AS BIGINT)"
                ).alias("unicity_bp"),
            )
        )
    out = outs[0]
    for x in outs[1:]:
        out = out.unionByName(x)
    return out


# ----------------------------------------------------------------------
# sorted-neighborhood record linkage
# ----------------------------------------------------------------------

SNM_W = 5  # rank window


def _snm_oracle() -> str:
    return f"""
    WITH names AS (SELECT DISTINCT s_name AS v FROM supplier),
    r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM names)
    SELECT a.v AS name_a, b.v AS name_b,
           CAST(b.rn - a.rn AS BIGINT) AS rank_gap,
           CAST(levenshtein(a.v, b.v) AS BIGINT) AS edit_dist
    FROM r a JOIN r b
      ON b.rn > a.rn AND b.rn <= a.rn + {SNM_W}
    WHERE levenshtein(a.v, b.v) <= 1
    """


@register("snm_candidate_pairs", _snm_oracle())
def snm_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood record linkage (Hernandez & Stolfo 1995):
    rank distinct names, compare each only to its w=5 rank successors,
    keep edit-distance <= 1 — O(n*w) candidate generation instead of
    O(n^2). The oracle replays the STRATEGY exactly (SNM is a
    candidate generator, not ground truth); the pytest MEASURES its
    recall against the exact deletion-neighborhood pair set
    (fuzzy_name_pairs): suffix edits sort adjacently and are caught,
    early-character edits sort far apart and are SNM's documented
    blind spot (production adds a second pass on a reversed/phonetic
    key and unions — still O(n*w)).

    Scale: ranking rides operators/ranking.global_row_number (banded,
    no single-partition sort); the window join is an explode of w
    rank offsets -> equi-join on rank, so candidates stay n*w even at
    100 TB. Multi-pass SNM (second sort key, e.g. reversed name)
    unions another n*w — still linear."""
    names = (
        load_table(spark, sf_dir, "supplier").select(F.col("s_name").alias("v")).distinct()
    )
    r = global_row_number(names, [F.col("v")], out_col="rn")
    probes = r.select(
        "v",
        F.explode(
            F.array(*[F.col("rn") + F.lit(i) for i in range(1, SNM_W + 1)])
        ).alias("rn_b"),
        F.col("rn").alias("rn_a"),
    )
    b = r.select(F.col("v").alias("name_b"), F.col("rn").alias("rn_b"))
    return (
        probes.join(b, "rn_b")
        .select(
            F.col("v").alias("name_a"),
            "name_b",
            (F.col("rn_b") - F.col("rn_a")).cast("bigint").alias("rank_gap"),
            F.levenshtein(F.col("v"), F.col("name_b")).cast("bigint").alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= 1)
    )


# ----------------------------------------------------------------------
# rank-biased overlap
# ----------------------------------------------------------------------

RBO_K = 10  # lcm(1..10)*10^10 ~ 2.5e13 keeps every weighted sum in int64


RBO_P_NUM, RBO_P_DEN = 9, 10  # p = 0.9


def _lcm(a: int, b: int) -> int:
    return a * b // gcd(a, b)


def _rbo_weights() -> tuple[list[int], int]:
    """Integer RBO weights: RBO@k = (1-p) * sum_{d=1..k} p^(d-1) A_d
    with A_d = overlap_d / d. Over the common denominator
    D = lcm(1..k) * den^k, the weight of overlap_d is
    w_d = (den-num) * num^(d-1) * den^(k-d) * (lcm/d) — all integers,
    so sum_d w_d * overlap_d is exact; micro-units divide by D DIV 1e6."""
    L = 1
    for d in range(1, RBO_K + 1):
        L = _lcm(L, d)
    ws = [
        (RBO_P_DEN - RBO_P_NUM)
        * (RBO_P_NUM ** (d - 1))
        * (RBO_P_DEN ** (RBO_K - d))
        * (L // d)
        for d in range(1, RBO_K + 1)
    ]
    D = L * RBO_P_DEN**RBO_K
    return ws, D


def _rbo_oracle() -> str:
    ws, D = _rbo_weights()
    w_case = " ".join(f"WHEN {d} THEN {w}" for d, w in enumerate(ws, start=1))
    return f"""
    WITH m AS (
      SELECT l_partkey,
             sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
                 * (100 - CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT)))
               AS rev_c,
             CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS BIGINT) AS qty
      FROM lineitem GROUP BY 1
    ),
    ra AS (
      SELECT l_partkey, row_number() OVER (ORDER BY rev_c DESC, l_partkey) AS rk
      FROM m QUALIFY rk <= {RBO_K}
    ),
    rb AS (
      SELECT l_partkey, row_number() OVER (ORDER BY qty DESC, l_partkey) AS rk
      FROM m QUALIFY rk <= {RBO_K}
    ),
    depths AS (SELECT unnest(generate_series(1, {RBO_K})) AS d),
    ov AS (
      SELECT dp.d,
             (SELECT count(*) FROM ra JOIN rb USING (l_partkey)
              WHERE ra.rk <= dp.d AND rb.rk <= dp.d) AS overlap_d
      FROM depths dp
    )
    SELECT CAST(d AS BIGINT) AS depth,
           CAST(overlap_d AS BIGINT) AS overlap_d,
           CAST(sum((CASE d {w_case} END) * overlap_d) OVER (ORDER BY d)
                // {D // 1_000_000} AS BIGINT) AS rbo_prefix_micro
    FROM ov
    """


@register("rbo_rank_overlap", _rbo_oracle())
def rbo_rank_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (Webber et al. 2010) between the top-10
    parts by revenue and by quantity, p=0.9, in EXACT integer
    arithmetic (weights over lcm(1..10)*10^10, reported as cumulative
    micro-RBO per depth) — the top-weighted rank-similarity metric a
    reporting/retrieval pipeline tracks across releases, where
    Kendall/Spearman over-weight the tail.

    Scale: one part-keyed aggregate; both top-10s are TakeOrdered
    (orderBy().limit(k) — no global sort materializes); the depth
    table is 10 rows, so the overlap triangle join is constant-size
    regardless of data."""
    ws, D = _rbo_weights()
    li = load_table(spark, sf_dir, "lineitem")
    m = li.groupBy("l_partkey").agg(
        F.sum(
            F.floor(F.col("l_extendedprice") * 100.0 + 0.5).cast("bigint")
            * (100 - F.floor(F.col("l_discount") * 100.0 + 0.5).cast("bigint"))
        ).alias("rev_c"),
        F.sum(F.floor(F.col("l_quantity") + 0.5).cast("bigint")).alias("qty"),
    )
    ra = (
        m.orderBy(F.col("rev_c").desc(), "l_partkey")
        .limit(RBO_K)
        .select(
            "l_partkey",
            F.row_number()
            .over(Window.orderBy(F.col("rev_c").desc(), "l_partkey"))
            .alias("rk_a"),
        )
    )
    rb = (
        m.orderBy(F.col("qty").desc(), "l_partkey")
        .limit(RBO_K)
        .select(
            "l_partkey",
            F.row_number()
            .over(Window.orderBy(F.col("qty").desc(), "l_partkey"))
            .alias("rk_b"),
        )
    )
    both = ra.join(rb, "l_partkey").select("rk_a", "rk_b")
    depths = spark.range(1, RBO_K + 1).select(F.col("id").alias("depth"))
    ov = (
        depths.join(
            F.broadcast(both),
            (F.col("rk_a") <= F.col("depth")) & (F.col("rk_b") <= F.col("depth")),
            "left",
        )
        .groupBy("depth")
        .agg(F.sum(F.when(F.col("rk_a").isNotNull(), 1).otherwise(0)).alias("overlap_d"))
    )
    w_case = " ".join(f"WHEN {d} THEN {w}" for d, w in enumerate(ws, start=1))
    wov = ov.select(
        F.col("depth").cast("bigint").alias("depth"),
        F.col("overlap_d").cast("bigint").alias("overlap_d"),
        F.expr(f"(CASE depth {w_case} END) * overlap_d").alias("__wov"),
    )
    # prefix sum over the 10-row depth frame via a bounded self-join —
    # an unpartitioned running window would be a global sort in the plan
    contrib = wov.select(F.col("depth").alias("d2"), F.col("__wov").alias("w2"))
    return (
        wov.join(F.broadcast(contrib), F.col("d2") <= F.col("depth"))
        .groupBy("depth", "overlap_d")
        .agg(
            F.expr(f"CAST(sum(w2) DIV {D // 1_000_000} AS BIGINT)").alias(
                "rbo_prefix_micro"
            )
        )
    )


# ----------------------------------------------------------------------
# Kaplan-Meier reorder survival
# ----------------------------------------------------------------------


@register(
    "kaplan_meier_retention",
    """
    WITH horizon AS (SELECT max(CAST(o_orderdate AS DATE)) AS h FROM orders),
    seq AS (
      SELECT o_custkey,
             CAST(o_orderdate AS DATE) AS d,
             lead(CAST(o_orderdate AS DATE))
               OVER (PARTITION BY o_custkey
                     ORDER BY CAST(o_orderdate AS DATE), o_orderkey) AS nxt
      FROM orders
    ),
    dur AS (
      SELECT CASE WHEN nxt IS NULL
                  THEN datediff('day', d, (SELECT h FROM horizon))
                  ELSE datediff('day', d, nxt) END AS gap_days,
             CASE WHEN nxt IS NULL THEN 0 ELSE 1 END AS event
      FROM seq
    ),
    wk AS (
      SELECT CAST(gap_days // 7 AS BIGINT) AS t_week,
             CAST(sum(event) AS BIGINT) AS n_event,
             CAST(count(*) - sum(event) AS BIGINT) AS n_censored,
             count(*) AS n
      FROM dur GROUP BY 1
    ),
    km AS (
      SELECT t_week, n_event, n_censored,
             CAST(sum(n) OVER (ORDER BY t_week DESC) AS BIGINT) AS n_risk
      FROM wk
    )
    SELECT t_week, n_risk, n_event, n_censored,
           CASE WHEN max(CASE WHEN n_event >= n_risk THEN 1 ELSE 0 END)
                     OVER (ORDER BY t_week) = 1
                THEN 0.0
                ELSE round(exp(
                       CAST(sum(CASE WHEN n_event < n_risk AND n_event > 0
                                THEN CAST(floor(ln(1.0 - n_event * 1.0 / n_risk)
                                          * 1000000.0 + 0.5) AS BIGINT)
                                ELSE 0 END)
                            OVER (ORDER BY t_week) AS DOUBLE)
                       / 1000000.0), 6) END AS survival
    FROM km
    """,
)
def kaplan_meier_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier estimate of the time-to-next-order curve, weekly
    buckets. Each order contributes one duration: to the customer's
    next order (event) or to the corpus horizon (right-censored) —
    the textbook product-limit estimator with censoring handled
    properly, not dropped.

    Scale: ONE window pass over orders partitioned by customer (the
    natural shuffle key, no skew — order counts per customer are
    bounded), then every downstream cumulative over the week-count-
    sized aggregate rides the BANDED prefix primitives
    (`ranking.global_running_offset` / `ranking.global_prior_max`) —
    no Sort→Exchange-SinglePartition stage anywhere, so the catalog's
    global-sort gate holds even though the frame is provably tiny.
    The log-hazard is quantized to integer micro-nats (the
    unigram_logprob convention) so its prefix sum is EXACT integer
    arithmetic — order-free, engine-identical. Survival is
    exp(Σunits/1e6) with d==n handled by an explicit sticky zero flag,
    because Spark's ln(0) is NULL while SQL engines return -inf — the
    guard makes both emit exactly 0.0 from the first exhausted week
    onward."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.to_date("o_orderdate").alias("d"), "o_orderkey"
    )
    w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    seq = orders.withColumn("nxt", F.lead("d").over(w))
    horizon = orders.agg(F.max("d").alias("h"))
    dur = seq.crossJoin(F.broadcast(horizon)).select(
        F.when(F.col("nxt").isNull(), F.datediff("h", "d"))
        .otherwise(F.datediff("nxt", "d"))
        .alias("gap_days"),
        F.when(F.col("nxt").isNull(), F.lit(0)).otherwise(F.lit(1)).alias("event"),
    )
    wk = dur.groupBy(
        F.floor(F.col("gap_days") / 7).cast("bigint").alias("t_week")
    ).agg(
        F.sum("event").cast("bigint").alias("n_event"),
        (F.count(F.lit(1)) - F.sum("event")).cast("bigint").alias("n_censored"),
        F.count(F.lit(1)).alias("n"),
    )
    # the KM table is week-count-sized from here on, but cumulatives
    # still ride the BANDED primitives — never an unpartitioned window
    total = wk.agg(F.sum("n").cast("bigint").alias("__N"))
    km = (
        global_running_offset(wk, "n", "t_week", out_col="__before")
        .crossJoin(F.broadcast(total))
        .withColumn("n_risk", (F.col("__N") - F.col("__before")).cast("bigint"))
    )
    hazard_units = F.when(
        (F.col("n_event") < F.col("n_risk")) & (F.col("n_event") > 0),
        F.floor(
            F.log(1.0 - F.col("n_event") / F.col("n_risk")) * 1000000.0 + F.lit(0.5)
        ).cast("bigint"),
    ).otherwise(F.lit(0).cast("bigint"))
    km = km.withColumn("__h", hazard_units).withColumn(
        "__dead", F.when(F.col("n_event") >= F.col("n_risk"), 1).otherwise(0)
    )
    km = global_running_offset(km, "__h", "t_week", out_col="__h_before")
    km = global_prior_max(km, "__dead", [F.col("t_week")], out_col="__dead_before")
    dead = F.greatest(F.coalesce(F.col("__dead_before"), F.lit(0)), F.col("__dead"))
    h_incl = (F.col("__h_before") + F.col("__h")).cast("double") / 1000000.0
    return km.select(
        "t_week",
        "n_risk",
        "n_event",
        "n_censored",
        F.when(dead == 1, F.lit(0.0))
        .otherwise(F.round(F.exp(h_incl), 6))
        .alias("survival"),
    )


# ----------------------------------------------------------------------
# Cohort LTV curve
# ----------------------------------------------------------------------


@register(
    "cohort_ltv_curve",
    """
    WITH f AS (
      SELECT o_custkey, min(CAST(o_orderdate AS DATE)) AS fd
      FROM orders GROUP BY o_custkey
    ),
    coh AS (
      SELECT CAST(year(fd) AS BIGINT) AS cohort_year, count(*) AS n_cust
      FROM f GROUP BY 1
    ),
    o AS (
      SELECT CAST(year(f.fd) AS BIGINT) AS cohort_year,
             CAST((year(CAST(o.o_orderdate AS DATE)) * 12
                   + month(CAST(o.o_orderdate AS DATE)))
                  - (year(f.fd) * 12 + month(f.fd)) AS BIGINT) AS month_offset,
             CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
      FROM orders o JOIN f ON f.o_custkey = o.o_custkey
    ),
    cell AS (
      SELECT cohort_year, month_offset, count(*) AS n_orders,
             sum(cents) AS cents
      FROM o GROUP BY 1, 2
    ),
    cum AS (
      SELECT cohort_year, month_offset, CAST(n_orders AS BIGINT) AS n_orders,
             CAST(sum(cents) OVER (PARTITION BY cohort_year
                                   ORDER BY month_offset) AS BIGINT) AS cum_cents
      FROM cell
    )
    SELECT cohort_year, month_offset, n_orders,
           CAST((cum_cents * 200 + n_cust) // (2 * n_cust) AS BIGINT)
             / 10000.0 AS ltv_per_customer
    FROM cum JOIN coh USING (cohort_year)
    """,
)
def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average cumulative revenue per customer by annual first-order
    cohort and month offset — the LTV curve. Revenue is quantized to
    exact integer cents per order BEFORE any aggregation (the
    functions.exact convention), so the running totals are
    order-independent integers and the only float op is the final
    per-customer division.

    Scale: first-order dates are one groupBy(custkey); the orders→
    cohort join is customer-keyed; the running total windows over the
    (cohorts × offsets)-sized aggregate, partitioned by cohort — a
    dims-sized frame at any corpus size."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.to_date("o_orderdate").alias("d"), "o_totalprice"
    )
    f = orders.groupBy("o_custkey").agg(F.min("d").alias("fd"))
    coh = f.groupBy(F.year("fd").cast("bigint").alias("cohort_year")).agg(
        F.count(F.lit(1)).alias("n_cust")
    )
    o = orders.join(f, "o_custkey").select(
        F.year("fd").cast("bigint").alias("cohort_year"),
        (
            (F.year("d") * 12 + F.month("d")) - (F.year("fd") * 12 + F.month("fd"))
        ).cast("bigint").alias("month_offset"),
        F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("bigint").alias("cents"),
    )
    cell = o.groupBy("cohort_year", "month_offset").agg(
        F.count(F.lit(1)).alias("n_orders"), F.sum("cents").alias("cents")
    )
    w = (
        Window.partitionBy("cohort_year")
        .orderBy("month_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = cell.select(
        "cohort_year",
        "month_offset",
        F.col("n_orders").cast("bigint").alias("n_orders"),
        F.sum("cents").over(w).cast("bigint").alias("cum_cents"),
    )
    return cum.join(F.broadcast(coh), "cohort_year").select(
        "cohort_year",
        "month_offset",
        "n_orders",
        # round-half-up at 4 decimals computed in INTEGER space, then
        # one exact-integer-to-double division: round(double, 4) on a
        # 13-significant-digit quotient is a representability knife
        # edge across engines (caught by the round-8 sf1 sweep: one
        # row differed in the last ulp)
        (
            F.expr("(cum_cents * 200 + n_cust) div (2 * n_cust)") / 10000.0
        ).alias("ltv_per_customer"),
    )


# ----------------------------------------------------------------------
# Exact decision-stump split scan
# ----------------------------------------------------------------------


@register(
    "decision_stump_scan",
    """
    WITH base AS (
      SELECT 'quantity' AS feature,
             CAST(floor(l_quantity + 0.5) AS BIGINT) AS thr,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pos
      FROM lineitem
      UNION ALL
      SELECT 'discount_cents' AS feature,
             CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT) AS thr,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pos
      FROM lineitem
    ),
    hist AS (
      SELECT feature, thr, count(*) AS n, CAST(sum(pos) AS BIGINT) AS p
      FROM base GROUP BY 1, 2
    ),
    tot AS (
      SELECT feature, CAST(sum(n) AS BIGINT) AS nt, CAST(sum(p) AS BIGINT) AS pt
      FROM hist GROUP BY feature
    ),
    cum AS (
      SELECT feature, thr,
             CAST(sum(n) OVER (PARTITION BY feature ORDER BY thr)
                  AS BIGINT) AS n_le,
             CAST(sum(p) OVER (PARTITION BY feature ORDER BY thr)
                  AS BIGINT) AS p_le
      FROM hist
    )
    SELECT c.feature, c.thr, c.n_le, c.p_le,
           t.nt - c.n_le AS n_gt, t.pt - c.p_le AS p_gt,
           round(
             (c.n_le * (1.0 - (c.p_le * 1.0 / c.n_le) * (c.p_le * 1.0 / c.n_le)
                        - ((c.n_le - c.p_le) * 1.0 / c.n_le)
                          * ((c.n_le - c.p_le) * 1.0 / c.n_le))
              + (t.nt - c.n_le)
                * (1.0 - ((t.pt - c.p_le) * 1.0 / (t.nt - c.n_le))
                         * ((t.pt - c.p_le) * 1.0 / (t.nt - c.n_le))
                       - (((t.nt - c.n_le) - (t.pt - c.p_le)) * 1.0
                          / (t.nt - c.n_le))
                         * (((t.nt - c.n_le) - (t.pt - c.p_le)) * 1.0
                            / (t.nt - c.n_le))))
             / t.nt, 6) AS weighted_gini
    FROM cum c JOIN tot t USING (feature)
    WHERE t.nt > c.n_le
    """,
)
def decision_stump_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted-Gini decision-stump scan: for every candidate
    threshold of two features (integer quantity, discount in cents),
    the impurity of the <=thr / >thr split for predicting
    l_returnflag = 'R'. The argmin row is the best single-feature
    rule; the full curve is the feature screen.

    Scale: two map-side-combined histograms over the fact scan (one
    union, one groupBy — thresholds come from the data, never a
    per-threshold pass); the cumulative and Gini arithmetic run on
    the ≤(distinct thresholds)-sized histogram, windowed per feature.
    Counts are exact integers; the Gini expression tree is written
    identically on both engines and rounded at 6."""
    li = load_table(spark, sf_dir, "lineitem")
    pos = F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("pos")
    base = (
        li.select(
            F.lit("quantity").alias("feature"),
            F.floor(F.col("l_quantity") + 0.5).cast("bigint").alias("thr"),
            pos,
        )
    ).unionAll(
        li.select(
            F.lit("discount_cents").alias("feature"),
            F.floor(F.col("l_discount") * 100.0 + 0.5).cast("bigint").alias("thr"),
            pos,
        )
    )
    hist = base.groupBy("feature", "thr").agg(
        F.count(F.lit(1)).alias("n"), F.sum("pos").cast("bigint").alias("p")
    )
    tot = hist.groupBy("feature").agg(
        F.sum("n").cast("bigint").alias("nt"), F.sum("p").cast("bigint").alias("pt")
    )
    w = (
        Window.partitionBy("feature")
        .orderBy("thr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.select(
        "feature",
        "thr",
        F.sum("n").over(w).cast("bigint").alias("n_le"),
        F.sum("p").over(w).cast("bigint").alias("p_le"),
    )
    j = cum.join(F.broadcast(tot), "feature").where(F.col("nt") > F.col("n_le"))
    n_le, p_le = F.col("n_le"), F.col("p_le")
    n_gt = F.col("nt") - n_le
    p_gt = F.col("pt") - p_le

    def gini(t, p):
        return 1.0 - (p * 1.0 / t) * (p * 1.0 / t) - ((t - p) * 1.0 / t) * (
            (t - p) * 1.0 / t
        )

    weighted = (n_le * gini(n_le, p_le) + n_gt * gini(n_gt, p_gt)) / F.col("nt")
    return j.select(
        "feature",
        "thr",
        "n_le",
        "p_le",
        n_gt.alias("n_gt"),
        p_gt.alias("p_gt"),
        F.round(weighted, 6).alias("weighted_gini"),
    )


# ----------------------------------------------------------------------
# Simpson's paradox scan
# ----------------------------------------------------------------------


@register(
    "simpsons_paradox_scan",
    """
    WITH base AS (
      SELECT l_returnflag AS grp,
             CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT) AS x,
             CAST(floor(l_quantity + 0.5) AS BIGINT) AS y
      FROM lineitem
    ),
    g AS (
      SELECT grp, count(*) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy,
             CAST(sum(x * y) AS BIGINT) AS sxy
      FROM base GROUP BY grp
    ),
    o AS (
      SELECT CAST(sum(n) AS BIGINT) AS n,
             CAST(sum(sx) AS BIGINT) AS sx, CAST(sum(sy) AS BIGINT) AS sy,
             CAST(sum(sxx) AS BIGINT) AS sxx,
             CAST(sum(syy) AS BIGINT) AS syy,
             CAST(sum(sxy) AS BIGINT) AS sxy
      FROM g
    ),
    rg AS (
      SELECT grp, n,
             CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
                  THEN round((n * sxy - sx * sy)
                             / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                                    * (n * syy - sy * sy)), 6)
                  END AS r_group
      FROM g
    ),
    ro AS (
      SELECT CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
                  THEN round((n * sxy - sx * sy)
                             / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                                    * (n * syy - sy * sy)), 6)
                  END AS r_overall
      FROM o
    )
    SELECT grp, n, r_group, ro.r_overall,
           (r_group IS NOT NULL AND ro.r_overall IS NOT NULL
            AND ((r_group > 0 AND ro.r_overall < 0)
                 OR (r_group < 0 AND ro.r_overall > 0))) AS sign_flip
    FROM rg CROSS JOIN ro
    """,
)
def simpsons_paradox_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson-reversal audit for the discount→quantity relationship:
    Pearson r within each return-flag stratum vs the pooled r. A
    sign_flip row is the textbook aggregation trap — the pooled trend
    contradicts every stratum — and means the pooled number must not
    ship without stratification.

    Scale: one map-side-combined moment aggregate per stratum (six
    int64 sums), the pooled row is the 3-row sum of those — nothing
    after the first aggregate touches raw rows; each r is a single
    guarded float expression."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_returnflag").alias("grp"),
        F.floor(F.col("l_discount") * 100.0 + 0.5).cast("bigint").alias("x"),
        F.floor(F.col("l_quantity") + 0.5).cast("bigint").alias("y"),
    )
    g = base.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )

    def pearson(n, sx, sy, sxx, syy, sxy):
        vx = n * sxx - sx * sx
        vy = n * syy - sy * sy
        num = n * sxy - sx * sy
        return F.when(
            (vx > 0) & (vy > 0), F.round(num / F.sqrt(vx.cast("double") * vy), 6)
        )

    rg = g.select(
        "grp",
        "n",
        pearson(
            F.col("n"), F.col("sx"), F.col("sy"), F.col("sxx"), F.col("syy"), F.col("sxy")
        ).alias("r_group"),
    )
    o = g.agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum("sx").cast("bigint").alias("sx"),
        F.sum("sy").cast("bigint").alias("sy"),
        F.sum("sxx").cast("bigint").alias("sxx"),
        F.sum("syy").cast("bigint").alias("syy"),
        F.sum("sxy").cast("bigint").alias("sxy"),
    )
    ro = o.select(
        pearson(
            F.col("n"), F.col("sx"), F.col("sy"), F.col("sxx"), F.col("syy"), F.col("sxy")
        ).alias("r_overall")
    )
    flip = (
        F.col("r_group").isNotNull()
        & F.col("r_overall").isNotNull()
        & (
            ((F.col("r_group") > 0) & (F.col("r_overall") < 0))
            | ((F.col("r_group") < 0) & (F.col("r_overall") > 0))
        )
    )
    return rg.crossJoin(F.broadcast(ro)).select(
        "grp", "n", "r_group", "r_overall", flip.alias("sign_flip")
    )


# ----------------------------------------------------------------------
# Log-rank test between two reorder-gap survival curves
# ----------------------------------------------------------------------


@register(
    "logrank_test",
    """
    WITH horizon AS (SELECT max(CAST(o_orderdate AS DATE)) AS h FROM orders),
    seq AS (
      SELECT o_custkey, o_custkey % 2 AS grp,
             CAST(o_orderdate AS DATE) AS d,
             lead(CAST(o_orderdate AS DATE))
               OVER (PARTITION BY o_custkey
                     ORDER BY CAST(o_orderdate AS DATE), o_orderkey) AS nxt
      FROM orders
    ),
    dur AS (
      SELECT grp,
             CAST((CASE WHEN nxt IS NULL
                   THEN datediff('day', d, (SELECT h FROM horizon))
                   ELSE datediff('day', d, nxt) END) // 7 AS BIGINT) AS t_week,
             CASE WHEN nxt IS NULL THEN 0 ELSE 1 END AS event
      FROM seq
    ),
    wk AS (
      SELECT t_week,
             CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0w,
             CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1w,
             CAST(sum(CASE WHEN grp = 0 THEN event ELSE 0 END) AS BIGINT) AS d0,
             CAST(sum(CASE WHEN grp = 1 THEN event ELSE 0 END) AS BIGINT) AS d1
      FROM dur GROUP BY t_week
    ),
    risk AS (
      SELECT t_week, d0, d1,
             CAST(sum(n0w) OVER (ORDER BY t_week DESC) AS BIGINT) AS r0,
             CAST(sum(n1w) OVER (ORDER BY t_week DESC) AS BIGINT) AS r1
      FROM wk
    ),
    terms AS (
      SELECT CAST(sum(d1) AS BIGINT) AS o1,
             sum((d0 + d1) * 1.0 * r1 / (r0 + r1)) AS e1,
             sum(CASE WHEN r0 + r1 > 1
                 THEN ((d0 + d1) * 1.0 * r0 * r1
                       * ((r0 + r1) - (d0 + d1)))
                      / ((r0 + r1) * 1.0 * (r0 + r1) * ((r0 + r1) - 1))
                 ELSE 0.0 END) AS v
      FROM risk WHERE d0 + d1 > 0
    )
    SELECT o1, round(e1, 6) AS e1,
           round(v, 6) AS var_o1,
           CASE WHEN v > 0 THEN round((o1 - e1) / sqrt(v), 6) END AS z
    FROM terms
    """,
)
def logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mantel-Haenszel log-rank test comparing reorder-gap survival
    between even and odd customer cohorts — same durations and weekly
    buckets as `kaplan_meier_retention`, with per-event-week
    hypergeometric expected counts and variance. z near 0 says the
    cohorts reorder at indistinguishable rates (they should — the
    split is arbitrary), so this doubles as an A/A calibration of the
    test machinery.

    Scale: one customer-partitioned window builds durations; the
    at-risk tail sums and O−E terms all run on the week-count-sized
    table (the oracle uses plain windows there; the Spark side rides
    the banded prefix primitive so no plan compiles to an
    unpartitioned window)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.col("o_custkey") % 2).alias("grp"),
        F.to_date("o_orderdate").alias("d"),
        "o_orderkey",
    )

    w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    seq = orders.withColumn("nxt", F.lead("d").over(w))
    horizon = orders.agg(F.max("d").alias("h"))
    dur = seq.crossJoin(F.broadcast(horizon)).select(
        "grp",
        F.floor(
            F.when(F.col("nxt").isNull(), F.datediff("h", "d"))
            .otherwise(F.datediff("nxt", "d"))
            / 7
        )
        .cast("bigint")
        .alias("t_week"),
        F.when(F.col("nxt").isNull(), F.lit(0)).otherwise(F.lit(1)).alias("event"),
    )
    wk = dur.groupBy("t_week").agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).cast("bigint").alias("n0w"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).cast("bigint").alias("n1w"),
        F.sum(F.when(F.col("grp") == 0, F.col("event")).otherwise(0))
        .cast("bigint")
        .alias("d0"),
        F.sum(F.when(F.col("grp") == 1, F.col("event")).otherwise(0))
        .cast("bigint")
        .alias("d1"),
    )
    tot = wk.agg(
        F.sum("n0w").cast("bigint").alias("N0"),
        F.sum("n1w").cast("bigint").alias("N1"),
    )
    risk = (
        global_running_offset(
            global_running_offset(wk, "n0w", "t_week", out_col="__b0"),
            "n1w",
            "t_week",
            out_col="__b1",
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "t_week",
            "d0",
            "d1",
            (F.col("N0") - F.col("__b0")).cast("bigint").alias("r0"),
            (F.col("N1") - F.col("__b1")).cast("bigint").alias("r1"),
        )
    )
    r0, r1, d0, d1 = F.col("r0"), F.col("r1"), F.col("d0"), F.col("d1")
    dd, rr = d0 + d1, r0 + r1
    e1_t = dd * 1.0 * r1 / rr
    v_t = F.when(
        rr > 1,
        (dd * 1.0 * r0 * r1 * (rr - dd)) / (rr * 1.0 * rr * (rr - 1)),
    ).otherwise(F.lit(0.0))
    terms = risk.where(dd > 0).agg(
        F.sum("d1").cast("bigint").alias("o1"),
        F.sum(e1_t).alias("e1"),
        F.sum(v_t).alias("v"),
    )
    return terms.select(
        "o1",
        F.round("e1", 6).alias("e1"),
        F.round("v", 6).alias("var_o1"),
        F.when(F.col("v") > 0, F.round((F.col("o1") - F.col("e1")) / F.sqrt("v"), 6)).alias(
            "z"
        ),
    )


# ----------------------------------------------------------------------
# Spearman rank correlation with midrank ties
# ----------------------------------------------------------------------


@register(
    "spearman_rho",
    """
    WITH base AS (
      SELECT CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT) AS x,
             CAST(floor(l_quantity + 0.5) AS BIGINT) AS y
      FROM lineitem
    ),
    xr AS (
      SELECT x, count(*) AS t,
             CAST(2 * coalesce(sum(count(*)) OVER (ORDER BY x
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  + count(*) + 1 AS BIGINT) AS rx2
      FROM base GROUP BY x
    ),
    yr AS (
      SELECT y, count(*) AS t,
             CAST(2 * coalesce(sum(count(*)) OVER (ORDER BY y
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  + count(*) + 1 AS BIGINT) AS ry2
      FROM base GROUP BY y
    ),
    cells AS (SELECT x, y, count(*) AS c FROM base GROUP BY x, y),
    j AS (
      SELECT cells.c, xr.rx2, yr.ry2 FROM cells
      JOIN xr USING (x) JOIN yr USING (y)
    ),
    s AS (
      SELECT CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(CAST(c AS DECIMAL(38, 0)) * rx2) AS DOUBLE) AS sx,
             CAST(sum(CAST(c AS DECIMAL(38, 0)) * ry2) AS DOUBLE) AS sy,
             CAST(sum(CAST(c AS DECIMAL(38, 0)) * rx2 * rx2) AS DOUBLE) AS sxx,
             CAST(sum(CAST(c AS DECIMAL(38, 0)) * ry2 * ry2) AS DOUBLE) AS syy,
             CAST(sum(CAST(c AS DECIMAL(38, 0)) * rx2 * ry2) AS DOUBLE) AS sxy
      FROM j
    )
    SELECT n,
           CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
                THEN round((n * sxy - sx * sy)
                           / sqrt((n * sxx - sx * sx)
                                  * (n * syy - sy * sy)), 6)
                END AS rho
    FROM s
    """,
)
def spearman_rho(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between discount and quantity with
    midrank tie handling: per-value doubled midranks (2·below + t + 1,
    exact integers) join back to rows, then rho is Pearson over the
    doubled ranks — the ×2 cancels. The monotone-association
    complement to Pearson `corr_stats`.

    Scale: ranks come from per-value histograms (value-domain-sized)
    via the BANDED exclusive prefix sum; the fact table collapses to
    (x, y) CELLS before any rank arithmetic, so the moment reduce
    runs over ≤|domain(x)|·|domain(y)| rows. Moments accumulate in
    DECIMAL(38,0) (sxy ≤ 4N³ overflows int64 past ~1.3e6 rows; the
    decimal path is exact to 10³⁸ on both engines) and convert to
    double once, deterministically, before the single rho expression
    (the oracle uses plain windows over the same bounded grids)."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        F.floor(F.col("l_discount") * 100.0 + 0.5).cast("bigint").alias("x"),
        F.floor(F.col("l_quantity") + 0.5).cast("bigint").alias("y"),
    )
    xh = base.groupBy("x").agg(F.count(F.lit(1)).alias("t"))
    xr = global_running_offset(xh, "t", "x", out_col="__bx").select(
        "x", (2 * F.col("__bx") + F.col("t") + 1).cast("bigint").alias("rx2")
    )
    yh = base.groupBy("y").agg(F.count(F.lit(1)).alias("t"))
    yr = global_running_offset(yh, "t", "y", out_col="__by").select(
        "y", (2 * F.col("__by") + F.col("t") + 1).cast("bigint").alias("ry2")
    )
    cells = base.groupBy("x", "y").agg(F.count(F.lit(1)).alias("c"))
    j = cells.join(F.broadcast(xr), "x").join(F.broadcast(yr), "y")
    cdec = F.col("c").cast("decimal(38,0)")
    s = j.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(cdec * F.col("rx2")).cast("double").alias("sx"),
        F.sum(cdec * F.col("ry2")).cast("double").alias("sy"),
        F.sum(cdec * F.col("rx2") * F.col("rx2")).cast("double").alias("sxx"),
        F.sum(cdec * F.col("ry2") * F.col("ry2")).cast("double").alias("syy"),
        F.sum(cdec * F.col("rx2") * F.col("ry2")).cast("double").alias("sxy"),
    )
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return s.select(
        "n",
        F.when((vx > 0) & (vy > 0), F.round(num / F.sqrt(vx * vy), 6)).alias("rho"),
    )


# ----------------------------------------------------------------------
# Price/volume/mix revenue bridge
# ----------------------------------------------------------------------

BRIDGE_Y0, BRIDGE_Y1 = 1996, 1997


@register(
    "revenue_bridge_decomposition",
    f"""
    WITH li AS (
      SELECT l_partkey,
             year(CAST(l_shipdate AS DATE)) AS yr,
             CAST(floor(l_extendedprice * (1 - l_discount) * 100.0 + 0.5)
                  AS BIGINT) AS cents,
             CAST(floor(l_quantity + 0.5) AS BIGINT) AS qty
      FROM lineitem
      WHERE year(CAST(l_shipdate AS DATE)) IN ({BRIDGE_Y0}, {BRIDGE_Y1})
    ),
    per_part AS (
      SELECT l_partkey,
             CAST(sum(CASE WHEN yr = {BRIDGE_Y0} THEN cents ELSE 0 END)
                  AS BIGINT) AS c0,
             CAST(sum(CASE WHEN yr = {BRIDGE_Y0} THEN qty ELSE 0 END)
                  AS BIGINT) AS q0,
             CAST(sum(CASE WHEN yr = {BRIDGE_Y1} THEN cents ELSE 0 END)
                  AS BIGINT) AS c1,
             CAST(sum(CASE WHEN yr = {BRIDGE_Y1} THEN qty ELSE 0 END)
                  AS BIGINT) AS q1
      FROM li GROUP BY l_partkey
    ),
    eff AS (
      SELECT
        CAST(sum(c0) AS BIGINT) AS rev0_cents,
        CAST(sum(c1) AS BIGINT) AS rev1_cents,
        CAST(sum(CASE WHEN q0 > 0 AND q1 > 0
             THEN CAST(floor(c1 * q0 * 10000.0 / q1 + 0.5) AS BIGINT)
                  - c0 * 10000 ELSE 0 END) AS BIGINT) AS price_u,
        CAST(sum(CASE WHEN q0 > 0 AND q1 > 0
             THEN CAST(floor(c0 * (q1 - q0) * 10000.0 / q0 + 0.5) AS BIGINT)
             ELSE 0 END) AS BIGINT) AS vol_u,
        CAST(sum(CASE WHEN q0 > 0 AND q1 > 0
             THEN CAST(floor(c1 * (q1 - q0) * 10000.0 / q1 + 0.5) AS BIGINT)
                  - CAST(floor(c0 * (q1 - q0) * 10000.0 / q0 + 0.5) AS BIGINT)
             ELSE 0 END) AS BIGINT) AS cross_u,
        CAST(sum(CASE WHEN q0 = 0 THEN c1 ELSE 0 END) AS BIGINT)
          AS new_cents,
        CAST(sum(CASE WHEN q1 = 0 THEN c0 ELSE 0 END) AS BIGINT)
          AS gone_cents
      FROM per_part
    )
    SELECT round(rev0_cents / 100.0, 2) AS revenue_y0,
           round(rev1_cents / 100.0, 2) AS revenue_y1,
           CAST(floor(price_u / 100.0 + 0.5) AS BIGINT) / 10000.0
             AS price_effect,
           CAST(floor(vol_u / 100.0 + 0.5) AS BIGINT) / 10000.0
             AS volume_effect,
           CAST(floor(cross_u / 100.0 + 0.5) AS BIGINT) / 10000.0
             AS cross_effect,
           round(new_cents / 100.0, 2) AS new_parts,
           round(gone_cents / 100.0, 2) AS discontinued_parts,
           CAST(floor(((rev1_cents - rev0_cents) * 10000
                       - (price_u + vol_u + cross_u
                          + (new_cents - gone_cents) * 10000)) / 100.0 + 0.5)
                AS BIGINT) / 10000.0
             + 0.0 AS residual
    FROM eff
    """,
)
def revenue_bridge_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price/volume/mix bridge from {y0} to {y1} revenue at part
    grain: for parts sold both years, ΔRev splits into price effect
    (Δunit-price × old volume), volume effect (old price × Δvolume)
    and the cross term; parts sold only in one year land in the
    new/discontinued buckets. Every per-part effect is quantized to
    exact integer 10⁻⁴-cent units (floor(x·10⁴ + 0.5) of a rational
    whose numerator stays far inside 2⁵³), so the effect SUMS are
    order-free integers and hash identically on any engine; the
    bridge identity ΔRev = price + volume + cross + new − discontinued
    holds up to the reported `residual`, which is pure per-part
    quantization (≤10⁻⁴ cents × parts) — anything larger means the
    decomposition itself broke.

    Scale: one filtered scan (year predicate pushed to parquet), one
    part-keyed aggregate, one 7-number integer reduce. Unit prices
    are the only divisions.
    """.format(y0=BRIDGE_Y0, y1=BRIDGE_Y1)
    li = load_table(spark, sf_dir, "lineitem")
    yr = F.year(F.to_date("l_shipdate"))
    base = li.where(yr.isin(BRIDGE_Y0, BRIDGE_Y1)).select(
        "l_partkey",
        yr.alias("yr"),
        F.floor(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100.0 + F.lit(0.5)
        )
        .cast("bigint")
        .alias("cents"),
        F.floor(F.col("l_quantity") + 0.5).cast("bigint").alias("qty"),
    )

    def ysum(col, y):
        return F.sum(F.when(F.col("yr") == y, F.col(col)).otherwise(0)).cast("bigint")

    per_part = base.groupBy("l_partkey").agg(
        ysum("cents", BRIDGE_Y0).alias("c0"),
        ysum("qty", BRIDGE_Y0).alias("q0"),
        ysum("cents", BRIDGE_Y1).alias("c1"),
        ysum("qty", BRIDGE_Y1).alias("q1"),
    )
    both = (F.col("q0") > 0) & (F.col("q1") > 0)

    def qdiv(num, den):
        # exact half-up quantization of a rational to 1e-4-cent units;
        # the double numerator stays far inside 2^53 at any rung
        return F.floor(num * 10000.0 / den + F.lit(0.5)).cast("bigint")

    dq = F.col("q1") - F.col("q0")
    price_u = F.when(
        both, qdiv(F.col("c1") * F.col("q0"), F.col("q1")) - F.col("c0") * 10000
    ).otherwise(F.lit(0))
    vol_u = F.when(both, qdiv(F.col("c0") * dq, F.col("q0"))).otherwise(F.lit(0))
    cross_u = F.when(
        both, qdiv(F.col("c1") * dq, F.col("q1")) - qdiv(F.col("c0") * dq, F.col("q0"))
    ).otherwise(F.lit(0))
    eff = per_part.agg(
        F.sum("c0").cast("bigint").alias("rev0_cents"),
        F.sum("c1").cast("bigint").alias("rev1_cents"),
        F.sum(price_u).cast("bigint").alias("price_u"),
        F.sum(vol_u).cast("bigint").alias("vol_u"),
        F.sum(cross_u).cast("bigint").alias("cross_u"),
        F.sum(F.when(F.col("q0") == 0, F.col("c1")).otherwise(0))
        .cast("bigint")
        .alias("new_cents"),
        F.sum(F.when(F.col("q1") == 0, F.col("c0")).otherwise(0))
        .cast("bigint")
        .alias("gone_cents"),
    )
    def q4(col):
        # half-up to 1e-4 dollars IN INTEGER SPACE, then one double
        # division: engine-independent, unlike round(x, 4) on a double
        # (Spark's BigDecimal half-up vs DuckDB's binary rounding
        # disagree on exact .5 ties — caught by the sf5 sweep when the
        # residual landed on -5650e-6, a 4-decimal tie)
        return F.floor(col / F.lit(100.0) + F.lit(0.5)).cast("bigint") / F.lit(10000.0)

    return eff.select(
        F.round(F.col("rev0_cents") / 100.0, 2).alias("revenue_y0"),
        F.round(F.col("rev1_cents") / 100.0, 2).alias("revenue_y1"),
        q4(F.col("price_u")).alias("price_effect"),
        q4(F.col("vol_u")).alias("volume_effect"),
        q4(F.col("cross_u")).alias("cross_effect"),
        F.round(F.col("new_cents") / 100.0, 2).alias("new_parts"),
        F.round(F.col("gone_cents") / 100.0, 2).alias("discontinued_parts"),
        (
            q4(
                (F.col("rev1_cents") - F.col("rev0_cents")) * 10000
                - (
                    F.col("price_u")
                    + F.col("vol_u")
                    + F.col("cross_u")
                    + (F.col("new_cents") - F.col("gone_cents")) * 10000
                )
            )
            + F.lit(0.0)
        ).alias("residual"),
    )


# ----------------------------------------------------------------------
# Business-day latency
# ----------------------------------------------------------------------

# Monday anchor: 1995-01-02 is a Monday; weekdays_before(d) counts
# Mon-Fri days in [anchor, d)
_ANCHOR = "1995-01-02"


def _wb_sql(col: str) -> str:
    return (
        f"(5 * (datediff('day', DATE '{_ANCHOR}', {col}) // 7)"
        f" + least(datediff('day', DATE '{_ANCHOR}', {col}) % 7, 5))"
    )


@register(
    "business_days_latency",
    f"""
    WITH li AS (
      SELECT o.o_orderpriority AS priority,
             CAST(o.o_orderdate AS DATE) AS cd,
             CAST(l.l_shipdate AS DATE) AS rd
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE l.l_shipdate >= o.o_orderdate
        AND o.o_orderdate >= TIMESTAMP '{_ANCHOR} 00:00:00'
    ),
    scored AS (
      SELECT priority,
             CAST({_wb_sql('rd')} - {_wb_sql('cd')} AS BIGINT) AS bdays
      FROM li
    )
    SELECT priority, count(*) AS n,
           CAST(sum(bdays) AS BIGINT) AS total_bdays,
           round(sum(bdays) * 1.0 / count(*), 4) AS avg_bdays
    FROM scored GROUP BY priority
    """,
)
def business_days_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average order→ship latency in BUSINESS days (Mon-Fri) per
    order priority, using the closed-form weekday count from a Monday
    anchor: weekdays_before(d) = 5·(days//7) + min(days%7, 5). Pure
    integer arithmetic — no calendar-dimension scan, no UDF, and
    bit-identical across engines.

    Scale: one fact-fact equi-join (orderkey) and one
    map-side-combined aggregate per priority; the date predicates push
    to the parquet scan."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.to_date("l_shipdate").alias("rd")
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("priority"),
        F.to_date("o_orderdate").alias("cd"),
    )
    anchor = F.lit(_ANCHOR).cast("date")

    def wb(c):
        days = F.datediff(F.col(c), anchor)
        return 5 * F.floor(days / 7).cast("bigint") + F.least(
            (days % 7).cast("bigint"), F.lit(5).cast("bigint")
        )

    scored = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .where((F.col("rd") >= F.col("cd")) & (F.col("cd") >= anchor))
        .select("priority", (wb("rd") - wb("cd")).cast("bigint").alias("bdays"))
    )
    return scored.groupBy("priority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("bdays").cast("bigint").alias("total_bdays"),
        F.round(F.sum("bdays") * 1.0 / F.count(F.lit(1)), 4).alias("avg_bdays"),
    )


# ----------------------------------------------------------------------
# Whole-schema referential integrity audit
# ----------------------------------------------------------------------

FK_EDGES = (
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
)


def _ri_oracle() -> str:
    sels = []
    for child, fk, parent, pk in FK_EDGES:
        sels.append(
            f"""
    SELECT '{child}.{fk}' AS fk_edge,
           '{parent}.{pk}' AS references_pk,
           (SELECT count(*) FROM {child}) AS n_child_rows,
           (SELECT count(*) FROM {child} c
            WHERE c.{fk} IS NOT NULL
              AND NOT EXISTS (SELECT 1 FROM {parent} p
                              WHERE p.{pk} = c.{fk})) AS n_orphans,
           (SELECT count(*) FROM {child} WHERE {fk} IS NULL) AS n_null_fk"""
        )
    return "\nUNION ALL".join(sels)


@register("referential_integrity_audit", _ri_oracle())
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan and null-FK counts for every foreign-key edge in the
    schema, in one result set — the post-load data-quality gate. On
    the driver's generated data every count must be 0; on a real lake
    nonzero rows name exactly which feed broke integrity.

    Scale: each edge is ONE pass over the child (round 11, guide
    §1.2/§2.3): the child pre-aggregates to (fk, multiplicity) — a
    map-side-combined count whose shuffle is DISTINCT-FK-sized, not
    row-sized — then LEFT-joins the parent's distinct key column
    (distinct keeps NOT-EXISTS semantics even if a parent key were
    duplicated) and one aggregate weights rows, null FKs and orphans
    by multiplicity. The previous shape paid a second child scan +
    aggregate per edge for the row/null counts and shipped child ROWS
    into the anti-join. Even a fact-fact edge now joins two key-count
    frames. The generator of edges is the static FK catalog, not
    data."""
    out = None
    for child, fk, parent, pk in FK_EDGES:
        c = (
            load_table(spark, sf_dir, child)
            .groupBy(fk)
            .agg(F.count(F.lit(1)).alias("__cnt"))
        )
        p = (
            load_table(spark, sf_dir, parent)
            .select(F.col(pk).alias("__pk"))
            .distinct()
        )
        row = (
            c.join(p, c[fk] == p["__pk"], "left")
            .agg(
                F.coalesce(F.sum("__cnt"), F.lit(0))
                .cast("bigint")
                .alias("n_child_rows"),
                F.coalesce(
                    F.sum(
                        F.when(
                            F.col(fk).isNotNull() & F.col("__pk").isNull(),
                            F.col("__cnt"),
                        ).otherwise(0)
                    ),
                    F.lit(0),
                )
                .cast("bigint")
                .alias("n_orphans"),
                F.coalesce(
                    F.sum(F.when(F.col(fk).isNull(), F.col("__cnt")).otherwise(0)),
                    F.lit(0),
                )
                .cast("bigint")
                .alias("n_null_fk"),
            )
            .select(
                F.lit(f"{child}.{fk}").alias("fk_edge"),
                F.lit(f"{parent}.{pk}").alias("references_pk"),
                "n_child_rows",
                "n_orphans",
                "n_null_fk",
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


# ----------------------------------------------------------------------
# Frequent part triples
# ----------------------------------------------------------------------

TRIPLE_MIN_SUPPORT = 2


TRIPLE_TOP = 50


@register(
    "frequent_part_triples",
    f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    pairs AS (
      SELECT a.l_orderkey, a.l_partkey AS part_a, b.l_partkey AS part_b
      FROM items a
      JOIN items b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    triples AS (
      -- each join step carries its own equi-key: the original 3-way
      -- form joined c on a.l_orderkey while filtering on b.l_partkey,
      -- which lets a cost model pick the (b x c) inequality pair first
      -- and degrade to an O(n^2) interval join (observed: DuckDB wedged
      -- 30 cores for 35+ min at sf1; this form runs in ~1 s)
      SELECT p.part_a, p.part_b, c.l_partkey AS part_c
      FROM pairs p
      JOIN items c ON p.l_orderkey = c.l_orderkey AND p.part_b < c.l_partkey
    )
    SELECT part_a, part_b, part_c, count(*) AS n_orders
    FROM triples GROUP BY 1, 2, 3
    HAVING count(*) >= {TRIPLE_MIN_SUPPORT}
    ORDER BY n_orders DESC, part_a, part_b, part_c
    LIMIT {TRIPLE_TOP}
    """,
)
def frequent_part_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-3 frequent itemsets over order baskets, support ≥ 2, top
    50 by (support, lexical) — the level-3 pass of an FP-growth-style
    miner.

    Scale: triples come from IN-ROW expansion of each order's sorted
    distinct-part array (one groupBy + one explode — cost Σ C(b,3)
    with b ≤ 7 in TPC-H-shaped baskets), NOT from the oracle's 3-way
    self-join: the join formulation shuffles the items table three
    times and re-derives the basket per level, where the array form
    pays one shuffle total at any scale."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ps")
    )
    # in-row triple expansion over the sorted array: i < j < k
    expr = (
        "flatten(flatten(transform(ps, (x, i) ->"
        " transform(slice(ps, i + 2, size(ps)), (y, j) ->"
        "  transform(slice(ps, i + j + 3, size(ps)), z ->"
        "   struct(x AS part_a, y AS part_b, z AS part_c))))))"
    )
    tri = baskets.select(F.explode(F.expr(expr)).alias("t")).select(
        "t.part_a", "t.part_b", "t.part_c"
    )
    return (
        tri.groupBy("part_a", "part_b", "part_c")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= TRIPLE_MIN_SUPPORT)
        .orderBy(F.col("n_orders").desc(), "part_a", "part_b", "part_c")
        .limit(TRIPLE_TOP)
    )
