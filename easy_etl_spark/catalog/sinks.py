"""Sink family: SCD2 history, snapshot diffs, CDC apply, sink
compaction and time travel, transactional merge, incremental
aggregate maintenance and dimension builders (sources.sinks, txn,
operators.scd, dimensions). Queries with side effects write into
unique temp directories and return read-back frames.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import dec_sum, sql_sum
from ..operators import scd
from ..queries import register
from ..session import load_table


_T1, _T2 = "2024-01-01 00:00:00", "2024-02-01 00:00:00"


def _history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic two-snapshot type-2 history over customer:
    snapshot 1 = the table as-is; snapshot 2 bumps acctbal by +100 for
    custkey % 3 == 0 (change), drops custkey % 7 == 0 (delete under
    full_snapshot), and re-keys nothing (no inserts — the oracle stays
    a pure customer-table expression)."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    hist = scd.scd2_init(c, _T1)
    snap2 = c.filter(F.col("c_custkey") % 7 != 0).withColumn(
        "c_acctbal",
        F.when(F.col("c_custkey") % 3 == 0, F.col("c_acctbal") + 100).otherwise(
            F.col("c_acctbal")
        ),
    )
    return scd.scd2_merge(
        hist, snap2, keys=["c_custkey"], tracked=["c_acctbal"], ts=_T2, full_snapshot=True
    )


@register(
    "scd2_history",
    f"""
    WITH c AS (
      SELECT c_custkey, c_acctbal,
             (c_custkey % 3 = 0 AND c_custkey % 7 <> 0) AS changed,
             (c_custkey % 7 = 0) AS deleted
      FROM customer
    )
    SELECT count(*) + count(*) FILTER (WHERE changed) AS n_rows,
           count(*) FILTER (WHERE NOT deleted) AS n_current,
           count(*) FILTER (WHERE changed OR deleted) AS n_closed,
           {sql_sum("CASE WHEN changed THEN c_acctbal + 100 WHEN deleted THEN NULL ELSE c_acctbal END")} AS cur_acctbal
    FROM c
    """,
)
def scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 merge invariants after a change+delete snapshot: row
    counts per state and the open slice's acctbal total (which must
    reflect the +100 updates and exclude deletions)."""
    h = _history(spark, sf_dir)
    return h.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("is_current"), 1)).alias("n_current"),
        F.count(F.when(~F.col("is_current"), 1)).alias("n_closed"),
        dec_sum(F.when(F.col("is_current"), F.col("c_acctbal"))).alias("cur_acctbal"),
    )


@register(
    "scd2_asof_view",
    f"""
    SELECT count(*) AS n_dim_rows,
           {sql_sum("c_acctbal")} AS acctbal_asof
    FROM customer
    """,
)
def scd2_asof_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension view: as of a timestamp between the two
    snapshots, the history must read back exactly like snapshot 1 —
    every key present, original acctbal values."""
    h = _history(spark, sf_dir)
    asof = scd.scd2_asof(h, "2024-01-15 00:00:00")
    return asof.agg(
        F.count(F.lit(1)).alias("n_dim_rows"),
        dec_sum("c_acctbal").alias("acctbal_asof"),
    )


@register(
    "snapshot_diff_orders",
    """
    WITH c AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 13 = 0 THEN 'deleted'
                  WHEN o_orderkey % 5 = 0 THEN 'changed'
                  ELSE 'unchanged' END AS diff_status
      FROM orders
    )
    SELECT diff_status, count(*) AS n
    FROM (
      SELECT diff_status FROM c
      UNION ALL
      SELECT 'inserted' FROM orders WHERE o_orderkey % 17 = 0
    )
    GROUP BY diff_status ORDER BY diff_status
    """,
)
def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC snapshot diff (operators/scd.snapshot_diff): the new
    snapshot deterministically deletes %13 keys, reprices %5 keys, and
    inserts re-keyed %17 rows; the per-status counts must match the
    rule applied directly to the source table."""
    from ..operators.scd import snapshot_diff

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    new = (
        o.filter(F.col("o_orderkey") % 13 != 0)
        .withColumn(
            "o_totalprice",
            F.when(F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") + 1).otherwise(
                F.col("o_totalprice")
            ),
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 17 == 0).withColumn(
                "o_orderkey", F.col("o_orderkey") + 100_000_000
            )
        )
    )
    d = snapshot_diff(o, new, keys=["o_orderkey"])
    return d.groupBy("diff_status").agg(F.count(F.lit(1)).alias("n")).orderBy("diff_status")


@register(
    "sink_compaction",
    """
    SELECT 2 * count(*) AS n_rows,
           CAST(2 * sum(n_nationkey) AS BIGINT) AS key_sum,
           1 AS n_files_after,
           true AS rows_preserved
    FROM nation
    """,
)
def sink_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction (ParquetSink.compact): a fragmented table
    (two appends written across many partitions) compacts to a single
    file with rows and values bit-identical — the standing maintenance
    job of incremental ingest, proven by read-back checksums."""
    import shutil
    import tempfile

    from ..sources.sinks import ParquetSink

    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    root = tempfile.mkdtemp(prefix="easy_etl_compact_")
    try:
        sink = ParquetSink(spark, root + "/t")
        sink.append(n.repartition(8))
        sink.append(n.repartition(8))

        def stats(df):
            r = df.agg(
                F.count(F.lit(1)).alias("n"), F.sum("n_nationkey").cast("bigint").alias("s")
            ).first()
            return int(r["n"]), int(r["s"])

        before = stats(sink.read())
        files_after = sink.compact(target_rows_per_file=10**9)
        after = stats(sink.read())
    finally:
        # the result is already materialized scalars — the scratch sink
        # must not outlive the call (repeated bench runs leak TMPDIR)
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        [(after[0], after[1], files_after, before == after)],
        "n_rows bigint, key_sum bigint, n_files_after int, rows_preserved boolean",
    )


@register(
    "sink_time_travel",
    """
    SELECT 'current' AS state, 2 * count(*) AS n_rows,
           CAST(2 * sum(n_nationkey) AS BIGINT) AS key_sum
    FROM nation
    UNION ALL
    SELECT 'v1', count(*), CAST(sum(n_nationkey) AS BIGINT) FROM nation
    ORDER BY state
    """,
)
def sink_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Versioned sink time travel (ParquetSink keep_versions): after
    two appends the current table holds both batches while version 1
    still reads back as the first state — audit/backfill reads without
    a transaction log. Oracle derives both states from the source."""
    import shutil
    import tempfile

    from ..sources.sinks import ParquetSink

    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    root = tempfile.mkdtemp(prefix="easy_etl_tt_")
    try:
        sink = ParquetSink(spark, root + "/t", keep_versions=2)
        sink.append(n)
        sink.append(n)

        def state(df, tag):
            return df.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("n_nationkey").cast("bigint").alias("key_sum"),
            ).select(F.lit(tag).alias("state"), "n_rows", "key_sum")

        out = state(sink.read(), "current").unionByName(
            state(sink.read(version=1), "v1")
        ).orderBy("state")
        rows, schema = out.collect(), out.schema
    finally:
        # materialize the 2 result rows before dropping the scratch
        # sink (the read plan is lazy; TMPDIR must not leak per run)
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


@register(
    "incremental_agg_maintenance",
    f"""
    SELECT event_type,
           count(*) AS n_events,
           {sql_sum("value")} AS sum_value
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: a stored per-type
    aggregate built from the first half of the stream is merged with
    the delta batch's partial aggregate (count-sum merge via keyed
    upsert into a ParquetSink) and must read back equal to the full
    recompute — the mergeable-partial property that lets a 100 TB
    rollup absorb each new partition without re-scanning history.
    """
    import shutil
    import tempfile

    from ..functions.exact import dec_sum as _ds
    from ..sources.sinks import ParquetSink

    e = load_table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-15 00:00:00").cast("timestamp")

    def agg(df):
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"), _ds("value").alias("sum_value")
        )

    root = tempfile.mkdtemp(prefix="easy_etl_ivm_")
    try:
        sink = ParquetSink(spark, root + "/t")
        sink.append(agg(e.filter(F.col("ts") < cutoff)))
        stored = sink.read().select("event_type", "n_events", "sum_value")
        delta = agg(e.filter(F.col("ts") >= cutoff))
        merged = (
            stored.unionByName(delta)
            .groupBy("event_type")
            .agg(
                F.sum("n_events").alias("n_events"),
                # sums of already-quantized decimals: plain sum re-merges
                # exactly (the quantization happened once per raw row)
                F.round(F.sum("sum_value"), 2).alias("sum_value"),
            )
        )
        sink.upsert(merged, keys=["event_type"])
        out = sink.read().select("event_type", "n_events", "sum_value").orderBy("event_type")
        rows, schema = out.collect(), out.schema
    finally:
        # materialize the per-type rows before dropping the scratch
        # sink (lazy read plan; TMPDIR must not leak per run)
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


@register(
    "date_dimension",
    """
    WITH span AS (
      SELECT CAST(min(o_orderdate) AS DATE) AS d0,
             CAST(max(o_orderdate) AS DATE) AS d1
      FROM orders
    ),
    days AS (
      SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS d FROM span
    )
    SELECT CAST(year(d) * 10000 + month(d) * 100 + day(d) AS INTEGER) AS date_key,
           d AS date,
           CAST(year(d) AS INTEGER) AS year,
           CAST(quarter(d) AS INTEGER) AS quarter,
           CAST(month(d) AS INTEGER) AS month,
           CAST(day(d) AS INTEGER) AS day,
           CAST(isodow(d) AS INTEGER) AS iso_dow,
           CAST(week(d) AS INTEGER) AS week_of_year,
           monthname(d) AS month_name,
           isodow(d) IN (6, 7) AS is_weekend,
           day(d) = 1 AS is_month_start,
           d = last_day(d) AS is_month_end
    FROM days
    """,
)
def date_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kimball calendar dimension spanning the orders fact table
    (operators/dimensions.date_dimension) — the canonical dimension of
    the reference's star-schema domain (easy_etl/README.md:98,161-165
    links facts to a date dimension). One bounded min/max aggregate +
    sequence/explode; no driver loop."""
    from ..operators.dimensions import date_dimension as build

    dim = build(load_table(spark, sf_dir, "orders"), "o_orderdate")
    return dim.select(
        "date_key", "date", "year", "quarter", "month", "day", "iso_dow",
        "week_of_year", "month_name", "is_weekend", "is_month_start",
        "is_month_end",
    )


def _zorder_oracle(bits: int = 16) -> str:
    """DuckDB twin of dimensions.zorder_key — the interleave generated
    from the same bit positions."""
    terms = " + ".join(
        f"(((a >> {i}) & 1) << {2 * i + 1}) + (((b >> {i}) & 1) << {2 * i})"
        for i in range(bits)
    )
    return f"""
    WITH x AS (
      SELECT l_orderkey, l_linenumber,
             l_partkey % 65536 AS a, l_suppkey % 65536 AS b
      FROM lineitem WHERE l_orderkey < 200
    )
    SELECT l_orderkey, l_linenumber, CAST({terms} AS BIGINT) AS zkey
    FROM x
    """


@register("zorder_key_lineitem", _zorder_oracle())
def zorder_key_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton keys over (partkey, suppkey) (dimensions.zorder_key):
    the write-side clustering primitive that makes BOTH columns'
    row-group min/max statistics selective — multi-dimensional file
    skipping for the two-predicate scans a star schema issues. The
    oracle replays the bit interleave exactly."""
    from ..operators.dimensions import zorder_key

    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 200)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        zorder_key(F.col("l_partkey") % 65536, F.col("l_suppkey") % 65536).alias("zkey"),
    )


@register(
    "orders_by_calendar",
    f"""
    WITH span AS (
      SELECT CAST(min(o_orderdate) AS DATE) AS d0,
             CAST(max(o_orderdate) AS DATE) AS d1
      FROM orders
    ),
    days AS (
      SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS d FROM span
    ),
    dim AS (
      SELECT d, CAST(year(d) AS INTEGER) AS year,
             CAST(quarter(d) AS INTEGER) AS quarter,
             isodow(d) IN (6, 7) AS is_weekend
      FROM days
    )
    SELECT dim.year, dim.quarter, dim.is_weekend,
           count(*) AS n_orders,
           {sql_sum("o.o_totalprice")} AS total_price
    FROM orders o JOIN dim ON CAST(o.o_orderdate AS DATE) = dim.d
    GROUP BY 1, 2, 3
    """,
)
def orders_by_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Kimball loop closed: facts joined to the GENERATED calendar
    dimension (dimensions.date_dimension) on the date key, rolled up
    by its attributes — the reference's star-schema pattern with the
    dimension built by the engine instead of hand-loaded. The dim is
    dimension-sized by construction (one row per day) → broadcast;
    the only shuffle is the ≤40-group aggregate."""
    from ..operators.dimensions import date_dimension as build

    o = load_table(spark, sf_dir, "orders")
    dim = build(o, "o_orderdate").select("date", "year", "quarter", "is_weekend")
    return (
        o.join(F.broadcast(dim), F.to_date("o_orderdate") == F.col("date"))
        .groupBy("year", "quarter", "is_weekend")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dec_sum("o_totalprice").alias("total_price"),
        )
    )


@register(
    "cdc_apply_changes",
    """
    WITH base AS (
      SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS totalprice FROM orders
    ),
    changes AS (
      SELECT o_orderkey, o_custkey, round(o_totalprice + 100.0, 2) AS totalprice,
             'U' AS op, 1 AS seq
      FROM orders WHERE o_orderkey % 10 = 0
      UNION ALL
      SELECT o_orderkey, o_custkey, round(o_totalprice, 2), 'D', 2
      FROM orders WHERE o_orderkey % 20 = 0
      UNION ALL
      SELECT o_orderkey, o_custkey, round(o_totalprice, 2), 'D', 1
      FROM orders WHERE o_orderkey % 10 = 3
      UNION ALL
      SELECT o_orderkey + 1000000000, o_custkey, round(o_totalprice + 7.0, 2), 'I', 1
      FROM orders WHERE o_orderkey % 10 = 7
    ),
    latest AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY o_orderkey
                                     ORDER BY seq DESC, op ASC) AS rn
        FROM changes
      ) WHERE rn = 1
    )
    SELECT b.o_orderkey, b.o_custkey, b.totalprice
    FROM base b WHERE b.o_orderkey NOT IN (SELECT o_orderkey FROM latest)
    UNION ALL
    SELECT o_orderkey, o_custkey, totalprice FROM latest WHERE op != 'D'
    """,
)
def cdc_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog application (operators/scd.py:apply_changes — the
    lakehouse APPLY CHANGES INTO primitive): a synthesized Debezium-
    style I/U/D feed with out-of-order multi-change keys merges into
    the orders base. Exercises every path: same-key D(seq 2) beating
    U(seq 1), plain updates, deletes, brand-new inserted keys, and
    untouched survivors. One delta-sized window + one keyed anti-join;
    the oracle replays the identical latest-change-wins merge."""
    from ..operators.scd import apply_changes

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("totalprice")
    )

    def change(pred, price, op, seq):
        src = load_table(spark, sf_dir, "orders").filter(pred)
        return src.select(
            F.col("o_orderkey") + (1_000_000_000 if op == "I" else 0),
            "o_custkey",
            F.round(price, 2).alias("totalprice"),
            F.lit(op).alias("op"),
            F.lit(seq).alias("seq"),
        ).toDF("o_orderkey", "o_custkey", "totalprice", "op", "seq")

    p = F.col("o_totalprice")
    changes = (
        change(F.col("o_orderkey") % 10 == 0, p + 100.0, "U", 1)
        .unionByName(change(F.col("o_orderkey") % 20 == 0, p, "D", 2))
        .unionByName(change(F.col("o_orderkey") % 10 == 3, p, "D", 1))
        .unionByName(change(F.col("o_orderkey") % 10 == 7, p + 7.0, "I", 1))
    )
    return apply_changes(o, changes, keys=["o_orderkey"], seq_col="seq", op_col="op")


@register(
    "txn_sink_merge",
    """
    SELECT 'current' AS state, n_nationkey,
           CASE WHEN n_nationkey < 10 THEN lower(n_name) ELSE n_name END AS name
    FROM nation
    UNION ALL
    SELECT 'v1', n_nationkey, n_name FROM nation
    """,
)
def txn_sink_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transactional sink end-to-end (sources/txn.py): append commits
    v1, a keyed upsert (lower-cased names for keys < 10) commits v2 via
    the atomic os.link claim, and BOTH states read back — the current
    merge result plus v1 through time travel. The oracle derives both
    states from the source table; the concurrency/crash protocol
    itself is covered by test_txn_sink.py (not SQL-expressible)."""
    import shutil
    import tempfile

    from ..sources.txn import TransactionalParquetSink

    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    root = tempfile.mkdtemp(prefix="easy_etl_txn_")
    try:
        sink = TransactionalParquetSink(spark, root + "/t")
        sink.append(n.withColumnRenamed("n_name", "name"))
        sink.upsert(
            n.filter(F.col("n_nationkey") < 10).select(
                "n_nationkey", F.lower("n_name").alias("name")
            ),
            keys=["n_nationkey"],
        )
        out = (
            sink.read().select(F.lit("current").alias("state"), "n_nationkey", "name")
            .unionByName(
                sink.read(version=1).select(
                    F.lit("v1").alias("state"), "n_nationkey", "name"
                )
            )
        )
        rows, schema = out.collect(), out.schema
    finally:
        # materialize before dropping the scratch dir (lazy read plans)
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(rows, schema)
