"""Statistics family: sketches (HLL, theta, count-min, Bloom),
sampling and splits, column profiling, data-quality rules, time-series
resampling and differential-privacy histograms (operators.sketches,
sampling, profiling, timeseries, quality).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import sql_sum
from ..operators.sampling import knuth_bucket, md5_uniform
from ..operators.sketches import _md5_u32
from ..queries import register
from ..session import load_table


@register("sketch_distinct_users")  # rows-only: sketch estimates have no exact oracle
def sketch_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct counting, the 100 TB cardinality path:
    approx_count_distinct (HyperLogLog++, one mergeable partial-agg
    pass — no shuffle of distinct values) plus a DataSketches HLL
    sketch column (hll_sketch_agg) whose binary sketches can be merged
    across partitions/days (hll_union_agg) without re-scanning. The
    error-bound contract vs exact is pinned in
    tests/test_scale_stateful.py."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
            F.expr("hll_sketch_estimate(hll_sketch_agg(user_id, 14))").alias("hll_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("event_type")
    )


@register("sketch_quantiles_theta")  # rows-only: sketch estimates
def sketch_quantiles_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch quantiles + distinct counts (DataSketches KLL /
    theta): the one-pass, partial-aggregable versions of
    percentile/countDistinct. At 100 TB these are the only viable
    forms — sketches merge across partitions, days, and tables without
    re-scanning raw data (unlike exact percentile, which must shuffle
    every value). Error bounds vs exact are pinned in
    tests/test_scale_stateful.py."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_returnflag")
        .agg(
            F.expr(
                "kll_sketch_get_quantile_double(kll_sketch_agg_double(l_extendedprice), 0.5)"
            ).alias("p50_est"),
            F.expr(
                "kll_sketch_get_quantile_double(kll_sketch_agg_double(l_extendedprice), 0.95)"
            ).alias("p95_est"),
            F.expr("theta_sketch_estimate(theta_sketch_agg(l_orderkey))").alias("orders_est"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "stratified_source_mix",
    """
    WITH b AS (
      SELECT source, doc_id,
             (doc_id * 2654435761) % 4294967296 % 100 AS bucket,
             CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0 THEN 30 ELSE 10 END AS rate
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS total,
           CAST(sum(CASE WHEN bucket < rate THEN 1 ELSE 0 END) AS BIGINT) AS kept,
           CAST(sum(CASE WHEN bucket < rate THEN doc_id ELSE 0 END) AS BIGINT) AS kept_id_sum
    FROM b GROUP BY source
    """,
)
def stratified_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic source re-weighting audit: per-source total vs
    kept under a Knuth-hash bucket rule (even-numbered sources 30%,
    odd 10%). One scan + one small aggregate; the keep decision is
    pure integer arithmetic, so it is reproducible across engines,
    runs, and partitionings (see operators/sampling.py)."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = knuth_bucket(F.col("doc_id"))
    rate = F.when(
        F.substring("source", 4, 10).cast("int") % 2 == 0, F.lit(30)
    ).otherwise(F.lit(10))
    kept = (bucket < rate).cast("long")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(kept).alias("kept"),
        F.sum(kept * F.col("doc_id")).alias("kept_id_sum"),
    )


@register(
    "profile_columns",
    """
    SELECT 'o_orderstatus' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_distinct
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT o_orderpriority) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'o_custkey', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT o_custkey) AS BIGINT)
    FROM orders
    """,
)
def profile_columns_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift / data-quality profile: per-column row, null, and
    distinct counts in one scan (operators/profiling.py; the oracle's
    three scans are the naive SQL equivalent). exact=True here for the
    oracle; the approx_count_distinct twin is the no-Expand standing
    profile at scale."""
    from ..operators.profiling import profile_columns

    orders = load_table(spark, sf_dir, "orders")
    prof = profile_columns(orders, ["o_orderstatus", "o_orderpriority", "o_custkey"])
    return prof.select(
        "col_name",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_null").cast("long").alias("n_null"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
    )


@register(
    "events_resample_fill",
    f"""
    WITH hourly AS (
      SELECT event_type AS k, date_trunc('hour', ts) AS h,
             count(*) AS n_events, {sql_sum("value")} AS sv
      FROM events GROUP BY 1, 2
    ),
    b AS (
      SELECT date_trunc('hour', min(ts)) AS h0, date_trunc('hour', max(ts)) AS h1
      FROM events
    ),
    hours AS (
      SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM b
    ),
    grid AS (
      SELECT k, h
      FROM (SELECT DISTINCT event_type AS k FROM events), hours
    ),
    j AS (
      SELECT g.k, g.h, coalesce(hourly.n_events, 0) AS n_events, hourly.sv
      FROM grid g LEFT JOIN hourly ON g.k = hourly.k AND g.h = hourly.h
    )
    SELECT k AS event_type,
           strftime(h, '%Y-%m-%d %H:%M:%S') AS hour_start,
           n_events,
           coalesce(sv, 0.0) AS sum_value,
           last_value(sv IGNORE NULLS)
             OVER (PARTITION BY k ORDER BY h ROWS UNBOUNDED PRECEDING) AS locf_value
    FROM j
    """,
)
def events_resample_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly resample with dense grid, zero-fill, and LOCF forward
    fill (operators/timeseries.resample_fill) — the gap-filling /
    continuous-aggregate shape time-series stores provide."""
    from ..operators.timeseries import resample_fill

    return resample_fill(load_table(spark, sf_dir, "events"))


@register(
    "data_quality_checks",
    """
    SELECT 'unique:o_orderkey' AS check_name,
           CAST((SELECT count(*) - count(DISTINCT o_orderkey) FROM orders) AS BIGINT)
             AS n_violations,
           (SELECT count(*) = count(DISTINCT o_orderkey) FROM orders) AS passed
    UNION ALL
    SELECT 'not_null:o_custkey',
           (SELECT count(*) FILTER (WHERE o_custkey IS NULL) FROM orders),
           (SELECT count(*) FILTER (WHERE o_custkey IS NULL) FROM orders) = 0
    UNION ALL
    SELECT 'fk:o_custkey->c_custkey',
           (SELECT count(*) FROM orders
            WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)),
           (SELECT count(*) FROM orders
            WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)) = 0
    UNION ALL
    SELECT 'range:l_discount',
           (SELECT count(*) FILTER (WHERE l_discount IS NULL
                                    OR l_discount < 0 OR l_discount > 0.1)
            FROM lineitem),
           (SELECT count(*) FILTER (WHERE l_discount IS NULL
                                    OR l_discount < 0 OR l_discount > 0.1)
            FROM lineitem) = 0
    UNION ALL
    SELECT 'accepted:o_orderstatus',
           (SELECT count(*) FILTER (WHERE o_orderstatus IS NULL
                                    OR o_orderstatus NOT IN ('O','F','P'))
            FROM orders),
           (SELECT count(*) FILTER (WHERE o_orderstatus IS NULL
                                    OR o_orderstatus NOT IN ('O','F','P'))
            FROM orders) = 0
    UNION ALL
    SELECT 'range:o_totalprice_under_400k',
           (SELECT count(*) FILTER (WHERE o_totalprice IS NULL
                                    OR o_totalprice < 0 OR o_totalprice > 400000)
            FROM orders),
           (SELECT count(*) FILTER (WHERE o_totalprice IS NULL
                                    OR o_totalprice < 0 OR o_totalprice > 400000)
            FROM orders) = 0
    ORDER BY check_name
    """,
)
def data_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative validation suite (operators/quality.py): uniqueness,
    null, referential-integrity, range, and accepted-values checks over
    the star schema, one report row each. The deliberately-tight
    price-ceiling check reports real violations — proving the report
    counts rather than rubber-stamps."""
    from ..operators import quality as Q

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    report = Q.run_checks(
        [
            Q.unique(o, ["o_orderkey"]),
            Q.not_null(o, "o_custkey"),
            Q.foreign_key(o, "o_custkey", c, "c_custkey"),
            Q.in_range(li, "l_discount", 0.0, 0.1),
            Q.accepted_values(o, "o_orderstatus", ["O", "F", "P"]),
            Q.in_range(o, "o_totalprice", 0.0, 400000.0, name="range:o_totalprice_under_400k"),
        ]
    )
    return report.orderBy("check_name")


@register(
    "weighted_doc_sample",
    """
    WITH d AS (
      SELECT source, doc_id, n_chars,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 2000 AS u,
             least(n_chars, 2000) AS w
      FROM documents
    )
    SELECT source,
           count(*) AS n_kept,
           CAST(sum(n_chars) AS BIGINT) AS chars_kept
    FROM d WHERE u < w
    GROUP BY source ORDER BY source
    """,
)
def weighted_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-proportional importance sampling
    (sampling.weighted_bernoulli): each doc keeps with probability
    min(n_chars, 2000)/2000, decided by the engine-portable md5 hash
    of its id — the DuckDB oracle reproduces the exact keep set, which
    no rand()-based sample could."""
    from ..operators.sampling import weighted_bernoulli

    docs = load_table(spark, sf_dir, "documents")
    kept = weighted_bernoulli(
        docs, F.least(F.col("n_chars"), F.lit(2000)), max_weight=2000
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").alias("chars_kept"),
        )
        .orderBy("source")
    )


# ----------------------------------------------------------------------
# Dataset splitting: deterministic 80/10/10 with per-split census
# ----------------------------------------------------------------------

@register(
    "train_val_test_split",
    """
    WITH tagged AS (
      SELECT source, n_chars,
             CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM (
        SELECT source, n_chars,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
                 AS b
        FROM documents
      )
    )
    SELECT split, source, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM tagged GROUP BY 1, 2
    """,
)
def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (80/10/10) keyed on the
    portable md5 hash of doc_id — stable across runs, engines, and
    partition layouts (rand()-based splits are none of those), and
    membership is computable from the id alone, so downstream jobs
    never need a split-table join. Emits the per-split, per-source
    census used to sanity-check the assignment.

    Scale: a per-row map plus one map-side-combined aggregate — no
    shuffle beyond |splits| x |sources| groups."""
    docs = load_table(spark, sf_dir, "documents")
    b = md5_uniform(F.col("doc_id"), 100)
    split = F.when(b < 80, "train").when(b < 90, "val").otherwise("test")
    return docs.groupBy(split.alias("split"), "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@register(
    "learning_curve_subsets",
    """
    WITH hashed AS (
      SELECT source, n_chars,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
               AS b
      FROM documents
    ),
    fanned AS (
      SELECT source, n_chars, pct
      FROM hashed, UNNEST([10, 25, 50, 100]) AS p(pct)
      WHERE b < pct
    )
    SELECT CAST(pct AS BIGINT) AS subset_pct, source,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM fanned GROUP BY 1, 2
    """,
)
def learning_curve_subsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scaling-law experiment ladder: nested 10/25/50/100% corpus
    subsets keyed on the SAME md5 bucket, so each rung strictly
    contains the previous one (train-on-10% is a true subset of
    train-on-25% — unnested random subsets confound scaling curves
    with sample variance). Emits the per-rung, per-source census.

    Scale: one per-row hash + a 4x fan-out of the survivors + one
    map-side-combined aggregate; membership at ANY rung recomputes
    from the id alone."""
    docs = load_table(spark, sf_dir, "documents")
    b = md5_uniform(F.col("doc_id"), 100)
    fanned = (
        docs.select("source", "n_chars", b.alias("b"))
        .select(
            "source",
            "n_chars",
            "b",
            F.explode(F.array(F.lit(10), F.lit(25), F.lit(50), F.lit(100))).alias(
                "pct"
            ),
        )
        .filter(F.col("b") < F.col("pct"))
    )
    return fanned.groupBy(
        F.col("pct").cast("bigint").alias("subset_pct"), "source"
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@register(
    "contrastive_negatives",
    """
    WITH a AS (
      SELECT doc_id AS anchor_id, source AS a_src
      FROM documents WHERE doc_id < 30
    ),
    p AS (
      SELECT doc_id AS neg_id, source AS n_src FROM documents
      WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 50 = 0
    ),
    c AS (
      SELECT anchor_id, neg_id,
             ('0x' || substr(md5(concat_ws('-',
                 CAST(anchor_id AS VARCHAR),
                 CAST(neg_id AS VARCHAR))), 1, 8))::BIGINT AS rk
      FROM a JOIN p ON a_src <> n_src
    )
    SELECT anchor_id, neg_id, CAST(rn AS INTEGER) AS neg_rank
    FROM (
      SELECT anchor_id, neg_id,
             row_number() OVER (PARTITION BY anchor_id
                                ORDER BY rk, neg_id) AS rn
      FROM c
    )
    WHERE rn <= 3
    """,
)
def contrastive_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training: per
    anchor doc, 3 negatives drawn from a BOUNDED md5-hash candidate
    pool (2% of the corpus), restricted to a different source and
    ranked by a portable per-pair md5 — replayable, seedless, and
    stable across engines/retries (the property that makes training
    runs reproducible).

    Scale: the pool is hash-sampled to a bounded size BEFORE any join
    (no anchor x corpus blow-up) and broadcast; the per-anchor rank
    window is pool-sized. Swap the pool rate, per-source caps, or a
    hard-negative scorer in without touching the shape."""
    docs = load_table(spark, sf_dir, "documents")
    anchors = docs.filter(F.col("doc_id") < 30).select(
        F.col("doc_id").alias("anchor_id"), F.col("source").alias("a_src")
    )
    pool = docs.filter(md5_uniform(F.col("doc_id"), 50) == 0).select(
        F.col("doc_id").alias("neg_id"), F.col("source").alias("n_src")
    )
    rk = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "-",
                    F.col("anchor_id").cast("string"),
                    F.col("neg_id").cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    cand = anchors.join(
        F.broadcast(pool), F.col("a_src") != F.col("n_src")
    ).withColumn("rk", rk)
    w = Window.partitionBy("anchor_id").orderBy("rk", "neg_id")
    return (
        cand.withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= 3)
        .select("anchor_id", "neg_id", F.col("neg_rank").cast("int"))
    )


def _hll_oracle() -> str:
    """DuckDB twin of sketches.hll_md5_distinct over events.user_id
    per event_type: identical md5 hashing, integer rank chain, exact
    dyadic register sums, same literal-arithmetic estimator."""
    rank_case = "CASE " + " ".join(
        f"WHEN rem >= {1 << (26 - rank)} THEN {rank}" for rank in range(1, 27)
    ) + " ELSE 27 END"
    alpha = (
        "(CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE)"
        " + CAST(1.079 AS DOUBLE) / CAST(64.0 AS DOUBLE)))"
    )
    return f"""
    WITH h AS (
      SELECT event_type, user_id,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS h
      FROM events
    ),
    k AS (
      SELECT event_type, user_id, h % 64 AS idx,
             (SELECT {rank_case} FROM (SELECT h // 64 AS rem)) AS rank
      FROM h
    ),
    regs AS (
      SELECT event_type, idx, max(rank) AS m
      FROM k GROUP BY event_type, idx
    ),
    sums AS (
      SELECT event_type,
             CAST(sum(CAST(2**(27 - m) AS BIGINT)) AS BIGINT) AS s_present,
             count(*) AS n_idx
      FROM regs GROUP BY event_type
    ),
    est AS (
      SELECT event_type,
             s_present + (64 - n_idx) * CAST(134217728 AS BIGINT) AS s_int,
             CAST(64 - n_idx AS BIGINT) AS v_zero
      FROM sums
    ),
    fin AS (
      SELECT event_type, v_zero,
             {alpha} * CAST(4096.0 AS DOUBLE) * CAST(134217728.0 AS DOUBLE)
               / s_int AS e_raw
      FROM est
    ),
    ex AS (
      SELECT event_type, count(DISTINCT user_id) AS exact_distinct,
             count(*) AS n_rows
      FROM events GROUP BY event_type
    )
    SELECT fin.event_type,
           round(CASE WHEN e_raw <= CAST(160.0 AS DOUBLE) AND v_zero > 0
                      THEN CAST(64.0 AS DOUBLE)
                           * ln(CAST(64.0 AS DOUBLE) / v_zero)
                      ELSE e_raw END, 4) + 0.0 AS est_distinct,
           exact_distinct, n_rows
    FROM fin JOIN ex ON ex.event_type = fin.event_type
    """


@register("hll_distinct_md5", _hll_oracle())
def hll_distinct_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked HyperLogLog (operators/sketches.hll_md5_distinct):
    the engine-portable twin of the DataSketches surface
    (sketch_distinct_users stays rows-only) — md5-derived 32-bit
    hashes, 64 integer registers, exact dyadic indicator sums, the
    standard linear-counting correction; DuckDB replays register
    state AND the estimate bit-for-bit."""
    from ..operators.sketches import hll_md5_distinct

    return hll_md5_distinct(
        load_table(spark, sf_dir, "events"), "user_id", ["event_type"]
    )


# ----------------------------------------------------------------------
# count-min sketch
# ----------------------------------------------------------------------

CMS_D = 4  # hash rows (salts)


CMS_W = 64  # buckets per row


_H32 = "(('0x' || substr(md5({s}), 1, 8))::BIGINT)"


def _cms_oracle() -> str:
    h = _H32.format(s="CAST(ds.d AS VARCHAR) || ':' || CAST({k} AS VARCHAR)")
    return f"""
    WITH ev AS (SELECT user_id FROM events),
    ds AS (SELECT unnest([0, 1, 2, 3]) AS d),
    regs AS (
      SELECT ds.d, {h.format(k="ev.user_id")} % {CMS_W} AS idx,
             count(*) AS reg
      FROM ev CROSS JOIN ds GROUP BY 1, 2
    ),
    exact AS (SELECT user_id, count(*) AS exact_cnt FROM ev GROUP BY user_id),
    cand AS (SELECT * FROM exact ORDER BY exact_cnt DESC, user_id LIMIT 20),
    pos AS (
      SELECT c.user_id, c.exact_cnt, ds.d,
             {h.format(k="c.user_id")} % {CMS_W} AS idx
      FROM cand c CROSS JOIN ds
    )
    SELECT p.user_id, CAST(p.exact_cnt AS BIGINT) AS exact_cnt,
           CAST(min(r.reg) AS BIGINT) AS cms_est,
           CAST(min(r.reg) - p.exact_cnt AS BIGINT) AS overcount
    FROM pos p JOIN regs r ON r.d = p.d AND r.idx = p.idx
    GROUP BY p.user_id, p.exact_cnt
    """


@register("cms_heavy_hitters", _cms_oracle())
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch point estimates for the top-20 users by event
    count: d=4 md5-salted hash rows x w=64 counters, estimate =
    min over rows of the landed counter (Cormode & Muthukrishnan
    2005). Registers are exact integers, so the DuckDB oracle replays
    the sketch bit-for-bit; `overcount` (always >= 0 — CMS can only
    overestimate) is published for error accounting, the same move as
    the HLL twin's exact_distinct column.

    Scale: register build is ONE map-side-combinable aggregation whose
    result is d*w = 256 rows regardless of input size, mergeable
    across partitions/days by plain +. The exact top-20 candidate pass
    is the only part that wouldn't survive 100 TB — at scale the
    candidates come from the sketch itself or a sampled prefilter;
    the register path shuffles nothing but counter rows."""
    ev = load_table(spark, sf_dir, "events").select("user_id")

    def idx(col, d):
        return (
            _md5_u32(F.concat(F.lit(f"{d}:"), col.cast("string"))) % CMS_W
        ).alias(f"i{d}")

    keyed = ev.select(
        F.posexplode(
            F.array(*[idx(F.col("user_id"), d) for d in range(CMS_D)])
        ).alias("d", "idx")
    )
    regs = keyed.groupBy("d", "idx").agg(F.count(F.lit(1)).alias("reg"))
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_cnt"))
    cand = exact.orderBy(F.col("exact_cnt").desc(), "user_id").limit(20)
    pos = cand.select(
        "user_id",
        "exact_cnt",
        F.posexplode(
            F.array(*[idx(F.col("user_id"), d) for d in range(CMS_D)])
        ).alias("d", "idx"),
    )
    return (
        pos.join(F.broadcast(regs), ["d", "idx"])
        .groupBy("user_id", "exact_cnt")
        .agg(F.min("reg").alias("cms_est"))
        .select(
            "user_id",
            F.col("exact_cnt").cast("bigint").alias("exact_cnt"),
            F.col("cms_est").cast("bigint").alias("cms_est"),
            (F.col("cms_est") - F.col("exact_cnt")).cast("bigint").alias("overcount"),
        )
    )


# ----------------------------------------------------------------------
# bloom-filter runtime join pruning
# ----------------------------------------------------------------------

BLOOM_M = 65536  # bits


BLOOM_K = 3  # hash functions


def _bloom_oracle() -> str:
    def probe_bit(j: int) -> str:
        s = f"'{j}:' || CAST(o.o_custkey AS VARCHAR)"
        return f"{_H32.format(s=s)} % {BLOOM_M}"

    joins = "\n".join(
        f"      LEFT JOIN bits b{j} ON b{j}.bit = {probe_bit(j)}"
        for j in range(BLOOM_K)
    )
    passed = " AND ".join(f"b{j}.bit IS NOT NULL" for j in range(BLOOM_K))
    build_bit = _H32.format(
        s="CAST(salts.j AS VARCHAR) || ':' || CAST(seg.c_custkey AS VARCHAR)"
    )
    return f"""
    WITH seg AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
    salts AS (SELECT unnest([0, 1, 2]) AS j),
    bits AS (
      SELECT DISTINCT {build_bit} % {BLOOM_M} AS bit
      FROM seg CROSS JOIN salts
    ),
    p AS (
      SELECT o.o_orderkey,
             ({passed}) AS pass,
             (s.c_custkey IS NOT NULL) AS member
      FROM orders o
{joins}
      LEFT JOIN seg s ON s.c_custkey = o.o_custkey
    )
    SELECT CAST(count(*) AS BIGINT) AS n_probe,
           CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_pass,
           CAST(sum(CASE WHEN member THEN 1 ELSE 0 END) AS BIGINT) AS n_true_match,
           CAST(sum(CASE WHEN pass AND NOT member THEN 1 ELSE 0 END) AS BIGINT)
             AS n_false_pos,
           CAST((10000 * sum(CASE WHEN pass THEN 1 ELSE 0 END)) // count(*) AS BIGINT)
             AS pass_rate_bp
    FROM p
    """


@register("bloom_prune_join", _bloom_oracle())
def bloom_prune_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter join pruning made explicit: the build side
    (BUILDING-segment customers) sets k=3 md5 bits in an m=65536 bloom
    set; every order is probed per-row through THREE broadcast hash
    joins (one per hash function) — the executable form of Spark's
    InjectRuntimeFilter / row-level bloom might_contain, with the
    no-false-negative guarantee visible as n_bloom_pass >=
    n_true_match and the cost visible as n_false_pos.

    Scale: the bit set is bounded by m (<= 65536 rows ~ 0.5 MB)
    independent of data size, so all three probe joins broadcast and
    the probe side never shuffles — pruning happens before any
    keyed exchange, exactly where a 100 TB scan wants it. A cluster
    deployment sizes m from an approx build-side count (m ~ 1.44 k n);
    m is pinned here so the oracle replays the identical bit set."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    seg = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")

    def pos(col, j):
        return _md5_u32(F.concat(F.lit(f"{j}:"), col.cast("string"))) % BLOOM_M

    bits = seg.select(
        F.explode(
            F.array(*[pos(F.col("c_custkey"), j) for j in range(BLOOM_K)])
        ).alias("bit")
    ).distinct()
    p = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    for j in range(BLOOM_K):
        bj = bits.select(F.col("bit").alias(f"b{j}"), F.lit(1).alias(f"hit{j}"))
        p = p.withColumn(f"b{j}", pos(F.col("o_custkey"), j)).join(
            F.broadcast(bj), f"b{j}", "left"
        )
    member = seg.select(
        F.col("c_custkey").alias("o_custkey"), F.lit(1).alias("is_member")
    )
    p = p.join(F.broadcast(member), "o_custkey", "left")
    passed = F.lit(True)
    for j in range(BLOOM_K):
        passed = passed & F.col(f"hit{j}").isNotNull()
    is_member = F.col("is_member").isNotNull()
    flags = p.select(
        passed.cast("int").alias("pass_f"),
        is_member.cast("int").alias("member_f"),
        (passed & ~is_member).cast("int").alias("fp_f"),
    )
    return flags.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_probe"),
        F.sum("pass_f").cast("bigint").alias("n_bloom_pass"),
        F.sum("member_f").cast("bigint").alias("n_true_match"),
        F.sum("fp_f").cast("bigint").alias("n_false_pos"),
    ).select(
        "n_probe",
        "n_bloom_pass",
        "n_true_match",
        "n_false_pos",
        F.expr("CAST((10000 * n_bloom_pass) DIV n_probe AS BIGINT)").alias(
            "pass_rate_bp"
        ),
    )


# ----------------------------------------------------------------------
# rendezvous (HRW) shard assignment
# ----------------------------------------------------------------------

N_SHARDS = 16  # current shard count; the audit adds one (-> 17)


def _hrw_oracle() -> str:
    h = _H32.format(s="CAST(s.s AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR)")
    return f"""
    WITH d AS (SELECT doc_id, n_chars FROM documents),
    hs AS (
      SELECT d.doc_id, d.n_chars, s.s, {h} AS h
      FROM d CROSS JOIN (SELECT unnest(generate_series(0, {N_SHARDS})) AS s) s
    ),
    s16 AS (
      SELECT doc_id, n_chars, s AS shard_now FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY h DESC, s DESC) AS rn
        FROM hs WHERE s < {N_SHARDS}
      ) WHERE rn = 1
    ),
    s17 AS (
      SELECT doc_id, s AS shard_grown FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY h DESC, s DESC) AS rn
        FROM hs
      ) WHERE rn = 1
    )
    SELECT CAST(a.shard_now AS BIGINT) AS shard,
           count(*) AS n_docs,
           CAST(sum(a.n_chars) AS BIGINT) AS total_chars,
           CAST(sum(CASE WHEN b.shard_grown <> a.shard_now
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_moved,
           CAST(sum(CASE WHEN b.shard_grown <> a.shard_now
                          AND b.shard_grown <> {N_SHARDS}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_moved_elsewhere
    FROM s16 a JOIN s17 b USING (doc_id)
    GROUP BY 1
    """


def _hrw_shard(key: Column, n_shards: int) -> Column:
    """argmax over shards of md5(shard:key) — the HRW winner. Struct
    array_max compares (h, s) lexicographically, matching the oracle's
    ORDER BY h DESC, s DESC tie-break."""
    return F.array_max(
        F.array(
            *[
                F.struct(
                    _md5_u32(F.concat(F.lit(f"{s}:"), key.cast("string"))).alias("h"),
                    F.lit(s).alias("s"),
                )
                for s in range(n_shards)
            ]
        )
    ).getField("s")


@register("shard_rendezvous", _hrw_oracle())
def shard_rendezvous(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous / highest-random-weight shard placement audit
    (Thaler & Ravishankar 1998): every document goes to the shard with
    the highest md5(shard:doc_id) weight. Unlike modulo placement,
    growing the fleet from 16 to 17 shards relocates ONLY the docs the
    new shard wins (~1/17 of the corpus): `n_moved_elsewhere` — docs
    that changed shard but NOT to the new one — is structurally zero,
    because adding a candidate can never change the argmax among the
    old candidates. That invariant is published per shard so the
    oracle re-proves it on real data.

    Scale: placement is a per-row map (17 md5s, no shuffle) followed
    by one 16-row aggregation — at 100 TB this IS how you route docs
    to writer tasks/buckets with minimal movement on resize; no
    coordination state beyond the shard count."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    placed = d.select(
        "n_chars",
        _hrw_shard(F.col("doc_id"), N_SHARDS).alias("shard_now"),
        _hrw_shard(F.col("doc_id"), N_SHARDS + 1).alias("shard_grown"),
    )
    moved = F.col("shard_grown") != F.col("shard_now")
    return placed.groupBy(
        F.col("shard_now").cast("bigint").alias("shard")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum(moved.cast("int")).cast("bigint").alias("n_moved"),
        F.sum(
            (moved & (F.col("shard_grown") != N_SHARDS)).cast("int")
        )
        .cast("bigint")
        .alias("n_moved_elsewhere"),
    )


# ----------------------------------------------------------------------
# sketch-based join cardinality estimation
# ----------------------------------------------------------------------


def _join_size_oracle() -> str:
    h = _H32.format(s="CAST(ds.d AS VARCHAR) || ':' || CAST({k} AS VARCHAR)")
    return f"""
    WITH ds AS (SELECT unnest([0, 1, 2, 3]) AS d),
    a AS (SELECT user_id FROM events WHERE event_type = 'click'),
    b AS (SELECT user_id FROM events WHERE event_type = 'purchase'),
    ra AS (
      SELECT ds.d, {h.format(k="a.user_id")} % {CMS_W} AS idx, count(*) AS reg
      FROM a CROSS JOIN ds GROUP BY 1, 2
    ),
    rb AS (
      SELECT ds.d, {h.format(k="b.user_id")} % {CMS_W} AS idx, count(*) AS reg
      FROM b CROSS JOIN ds GROUP BY 1, 2
    ),
    est AS (
      SELECT ra.d, sum(ra.reg * rb.reg) AS est_join
      FROM ra JOIN rb ON ra.d = rb.d AND ra.idx = rb.idx
      GROUP BY 1
    ),
    ex AS (
      SELECT sum(ca.c * cb.c) AS exact_join FROM
        (SELECT user_id, count(*) AS c FROM a GROUP BY 1) ca
        JOIN (SELECT user_id, count(*) AS c FROM b GROUP BY 1) cb
        USING (user_id)
    )
    SELECT CAST(est.d AS BIGINT) AS d,
           CAST(est.est_join AS BIGINT) AS est_join,
           CAST(ex.exact_join AS BIGINT) AS exact_join,
           CAST(est.est_join - ex.exact_join AS BIGINT) AS overcount
    FROM est CROSS JOIN ex
    """


@register("join_size_cms", _join_size_oracle())
def join_size_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join cardinality estimation from count-min sketches (the
    AGMS-style inner product): |clicks join purchases on user_id| =
    sum_k a_k*b_k is estimated per hash row as sum_w A[d][w]*B[d][w]
    — computable from two 256-counter sketches BEFORE running the
    join, which is how an optimizer decides broadcast vs shuffle vs
    skew handling. Hash collisions only ADD cross terms, so every
    row's estimate is >= the exact size (overcount >= 0, published
    per row; the serving estimate takes the min).

    Scale: each side's sketch is one map-side-combinable aggregate
    into d*w = 256 counters regardless of input size, mergeable
    across partitions; the estimate is a 256-row join. The exact
    column is the audit — at 100 TB you'd publish only the sketch."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")

    def regs(df: DataFrame) -> DataFrame:
        keyed = df.select(
            F.posexplode(
                F.array(
                    *[
                        (
                            _md5_u32(
                                F.concat(
                                    F.lit(f"{d}:"), F.col("user_id").cast("string")
                                )
                            )
                            % CMS_W
                        )
                        for d in range(CMS_D)
                    ]
                )
            ).alias("d", "idx")
        )
        return keyed.groupBy("d", "idx").agg(F.count(F.lit(1)).alias("reg"))

    a = ev.filter(F.col("event_type") == "click")
    b = ev.filter(F.col("event_type") == "purchase")
    ra = regs(a)
    rb = regs(b).select("d", "idx", F.col("reg").alias("reg_b"))
    est = (
        ra.join(rb, ["d", "idx"])
        .groupBy("d")
        .agg(F.sum(F.col("reg") * F.col("reg_b")).alias("est_join"))
    )
    ca = a.groupBy("user_id").agg(F.count(F.lit(1)).alias("ca"))
    cb = b.groupBy("user_id").agg(F.count(F.lit(1)).alias("cb"))
    ex = (
        ca.join(cb, "user_id")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("exact_join"))
    )
    return est.crossJoin(F.broadcast(ex)).select(
        F.col("d").cast("bigint").alias("d"),
        F.col("est_join").cast("bigint").alias("est_join"),
        F.col("exact_join").cast("bigint").alias("exact_join"),
        (F.col("est_join") - F.col("exact_join")).cast("bigint").alias("overcount"),
    )


TWO32 = 1 << 32


TWO31 = 1 << 31


def _dp_oracle() -> str:
    h = _H32.format(s="'noise:' || o_orderpriority")
    qln = "CAST(floor(ln(CAST({x} AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)"
    # inverse-CDF Laplace(b=1): x = -sgn(p-.5) * ln(1 - 2|p-.5|),
    # p = h/2^32; 1-2|p-.5| = (2^32 - |2h - 2^32|)/2^32, kept odd (+1)
    # so the quantized ln never sees zero.
    return f"""
    WITH c AS (
      SELECT o_orderpriority, count(*) AS exact_count,
             {h} AS h
      FROM orders GROUP BY 1
    ),
    n AS (
      SELECT o_orderpriority, exact_count,
             CASE WHEN h >= {TWO31} THEN 1 ELSE -1 END AS sgn,
             {TWO32} - abs(2 * h - {TWO32}) + 1 AS r_odd
      FROM c
    )
    SELECT o_orderpriority,
           CAST(exact_count AS BIGINT) AS exact_count,
           CAST(sgn * ({qln.format(x=TWO32)} - {qln.format(x="r_odd")})
                AS BIGINT) AS noise_micro,
           CAST(exact_count * 1000000
                + sgn * ({qln.format(x=TWO32)} - {qln.format(x="r_odd")})
                AS BIGINT) AS noisy_count_micro
    FROM n
    """


@register("dp_histogram", _dp_oracle())
def dp_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private histogram release (epsilon=1 Laplace
    mechanism over a count query, sensitivity 1): per-group counts
    plus a Laplace(1) draw in exact micro-units, via the inverse CDF
    -sgn(p-1/2)*ln(1-2|p-1/2|) evaluated on an md5-DERANDOMIZED
    uniform — bit-replayable by the oracle, so the correctness of the
    mechanism's plumbing (scale, symmetry, inverse-CDF algebra) is
    hash-gated. A production release swaps the hash for true
    randomness (the derandomized draw is NOT private — it's the
    audit/simulation mode, same plan shape).

    Scale: one map-side-combinable count per group + per-group O(1)
    noise arithmetic; the release size is the group domain, not the
    data."""
    o = load_table(spark, sf_dir, "orders")

    c = o.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("exact_count"))
    h = _md5_u32(F.concat(F.lit("noise:"), F.col("o_orderpriority")))
    qln32 = "CAST(floor(ln(CAST(4294967296 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)"
    n = c.select(
        "o_orderpriority",
        F.col("exact_count").cast("bigint").alias("exact_count"),
        F.when(h >= TWO31, 1).otherwise(-1).alias("sgn"),
        (F.lit(TWO32) - F.abs(2 * h - TWO32) + 1).alias("r_odd"),
    )
    noise = F.expr(
        f"sgn * ({qln32}"
        " - CAST(floor(ln(CAST(r_odd AS DOUBLE)) * 1000000 + 0.5) AS BIGINT))"
    )
    return n.select(
        "o_orderpriority",
        "exact_count",
        noise.cast("bigint").alias("noise_micro"),
        (F.col("exact_count") * 1000000 + noise).cast("bigint").alias(
            "noisy_count_micro"
        ),
    )
