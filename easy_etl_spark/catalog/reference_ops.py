"""Reference-operator family: the easy-etl facade (O1–O17 in
COVERAGE.md) — extract, casts, per-field transforms, falsy defaults,
links and as-of links, ignore, upsert, watermark extract, middleware,
pipeline reset/reuse and file-format sources.

Write-path behaviours (drop-sync / ensure / safe, load metrics, reset)
are surfaced as read-back queries: each performs the real write into a
unique throwaway temp directory, reads the result back and returns
values derivable from the source tables alone, so DuckDB can check
them end to end.
"""

from __future__ import annotations

import tempfile

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..operators.links import asof_link, link, with_surrogate_id
from ..pipeline import EtlPipeline
from ..queries import register
from ..session import load_table
from ..sources.readers import incremental_sql_extract
from ..sources.sinks import ParquetSink


# ----------------------------------------------------------------------
# Reference operators (SURVEY.md §2.1)
# ----------------------------------------------------------------------

@register(
    "transform_strings",
    """
    SELECT c_custkey,
           upper(c_name)                                   AS name_upper,
           replace(c_name, 'Customer#', 'C-')              AS name_replaced,
           lower(trim(c_mktsegment))                       AS segment_lower,
           upper(substr(lower(c_mktsegment), 1, 1)) ||
             substr(lower(c_mktsegment), 2)                AS segment_title,
           lpad(CAST(c_nationkey AS VARCHAR), 4, '0')      AS nation_padded
    FROM customer
    """,
)
def transform_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-field transform pipeline (O6): whitelisted native Column
    expressions — zero Python in the hot path (cf. the reference's
    per-row getattr dispatch, easy_etl/__init__.py:179-191)."""
    c = load_table(spark, sf_dir, "customer")
    seg = F.lower(F.col("c_mktsegment"))
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.replace(F.col("c_name"), F.lit("Customer#"), F.lit("C-")).alias("name_replaced"),
        F.lower(F.trim(F.col("c_mktsegment"))).alias("segment_lower"),
        F.concat(F.upper(F.substring(seg, 1, 1)), F.substring(seg, 2, 1000)).alias("segment_title"),
        F.lpad(F.col("c_nationkey").cast("string"), 4, "0").alias("nation_padded"),
    )


@register(
    "cast_types",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(l_quantity AS BIGINT)     AS qty_int,
           CAST(l_orderkey AS VARCHAR)    AS orderkey_str,
           round(CAST(l_extendedprice AS DOUBLE) / 100.0, 4) AS price_hundreds
    FROM lineitem
    """,
)
def cast_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """types= per-column casts (O4) as native Column casts."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("bigint").alias("qty_int"),
        F.col("l_orderkey").cast("string").alias("orderkey_str"),
        F.round(F.col("l_extendedprice").cast("double") / 100.0, 4).alias("price_hundreds"),
    )


@register(
    "default_falsy",
    """
    SELECT event_id,
           CASE WHEN value IS NULL OR value = 0 THEN -1.0 ELSE value END AS value_defaulted,
           CASE WHEN event_type IS NULL OR event_type = '' THEN 'unknown'
                ELSE event_type END AS type_defaulted
    FROM events
    """,
)
def default_falsy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`default` builtin with reference falsy semantics (`data or x`,
    easy_etl/__init__.py:147): 0/''/NULL all replaced, type-aware."""
    from ..functions.transforms import falsy_default

    e = load_table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        falsy_default(e, "value", -1.0).alias("value_defaulted"),
        falsy_default(e, "event_type", "unknown").alias("type_defaulted"),
    )


@register(
    "ignore_drop",
    """
    SELECT o_orderkey, o_custkey, o_orderstatus
    FROM orders
    """,
)
def ignore_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ignore (O11): column drop — compiles to a narrower projection
    that prunes the parquet scan itself."""
    o = load_table(spark, sf_dir, "orders")
    return o.drop("o_totalprice", "o_orderdate", "o_orderpriority")


@register(
    "python_source",
    """
    SELECT * FROM (VALUES ('widget', CAST(10 AS BIGINT), CAST(1.5 AS DOUBLE)),
                          ('gadget', CAST(20 AS BIGINT), CAST(2.5 AS DOUBLE)),
                          ('gizmo',  CAST(30 AS BIGINT), CAST(3.5 AS DOUBLE))) AS t(name, qty, weight)
    """,
)
def python_source(spark_: SparkSession, sf_dir: str) -> DataFrame:
    """extract_override (O3): arbitrary Python callable returning
    list-of-dicts becomes a driver-local DataFrame."""
    from ..sources.readers import python_source as src

    rows = lambda: [
        {"name": "widget", "qty": 10, "weight": 1.5},
        {"name": "gadget", "qty": 20, "weight": 2.5},
        {"name": "gizmo", "qty": 30, "weight": 3.5},
    ]
    return src(spark_, rows).select("name", "qty", "weight")


@register(
    "link_customer_nation",
    """
    WITH dim AS (
      SELECT row_number() OVER (ORDER BY n_nationkey) AS id, n_nationkey, n_name
      FROM nation
    )
    SELECT c.c_custkey, c.c_name, d.id AS nation_id
    FROM customer c LEFT JOIN dim d ON c.c_nationkey = d.n_nationkey
    """,
)
def link_customer_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """link (O9): broadcast left equi-join projecting the dimension
    surrogate id — replaces the reference's per-row SELECT loop
    (easy_etl/__init__.py:119-136) with one hash join."""
    c = load_table(spark, sf_dir, "customer")
    dim = with_surrogate_id(load_table(spark, sf_dir, "nation"), "n_nationkey")
    return link(c, dim, "c_nationkey", "n_nationkey", name="nation_id").select(
        "c_custkey", "c_name", "nation_id"
    )


@register(
    "link_closest_shipdate",
    """
    WITH dim AS (
      SELECT row_number() OVER (ORDER BY d) AS id, d
      FROM (SELECT DISTINCT o_orderdate AS d FROM orders)
    ),
    vals AS (SELECT DISTINCT l_shipdate AS v FROM lineitem),
    best AS (
      SELECT vals.v, min(dim.d) AS bd
      FROM vals LEFT JOIN dim ON dim.d >= vals.v
      GROUP BY vals.v
    ),
    map AS (
      SELECT b.v, min(d2.id) AS date_id
      FROM best b LEFT JOIN dim d2 ON d2.d = b.bd
      GROUP BY b.v
    )
    SELECT l.l_orderkey, l.l_linenumber, m.date_id
    FROM lineitem l LEFT JOIN map m ON l.l_shipdate = m.v
    """,
)
def link_closest_shipdate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """link_closest (O10): directional as-of join — smallest order-date
    ≥ each shipdate (date-dimension use case, easy_etl/README.md:161-173).
    Late shipdates past the last order date yield NULL (no-match →
    None parity)."""
    li = load_table(spark, sf_dir, "lineitem")
    dim = with_surrogate_id(
        load_table(spark, sf_dir, "orders").select(F.col("o_orderdate").alias("d")).distinct(), "d"
    )
    out = asof_link(li, dim, "l_shipdate", "d", name="date_id", method=">=")
    return out.select("l_orderkey", "l_linenumber", "date_id")


@register(
    "merge_upsert",
    """
    WITH src AS (
      SELECT o_orderkey, o_custkey, round(o_totalprice + 100.0, 2) AS totalprice
      FROM orders WHERE o_orderstatus = 'O'
    ),
    tgt AS (SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS totalprice FROM orders)
    SELECT t.o_orderkey, t.o_custkey, t.totalprice
    FROM tgt t WHERE t.o_orderkey NOT IN (SELECT o_orderkey FROM src)
    UNION ALL
    SELECT s.o_orderkey, s.o_custkey, s.totalprice FROM src s
    """,
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsert (O13) as a pure relational plan: survivors (anti-join) ∪
    updates — the same plan ParquetSink.upsert executes, minus the
    write. The anti-join shuffles on the merge key only."""
    o = load_table(spark, sf_dir, "orders")
    # +100.0 keeps 2-decimal money exact — multiplying would create
    # half-cent boundaries where Spark's round (shortest-string
    # BigDecimal) and DuckDB's round (binary value) legitimately differ.
    src = o.filter(F.col("o_orderstatus") == "O").select(
        "o_orderkey", "o_custkey", F.round(F.col("o_totalprice") + 100.0, 2).alias("totalprice")
    )
    tgt = o.select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("totalprice"))
    survivors = tgt.join(src.select("o_orderkey"), "o_orderkey", "left_anti")
    return survivors.unionByName(src)


@register(
    "incremental_watermark",
    """
    SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS totalprice
    FROM orders
    WHERE o_orderkey > (SELECT coalesce(max(o_orderkey), 0) FROM orders WHERE o_orderkey <= 5000)
    """,
)
def incremental_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental extract (O2): MAX(pk)-watermark substituted into the
    extract SQL's {} placeholder (easy_etl/__init__.py:77-87); the
    resulting predicate pushes down to the scan."""
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders")
    target = o.filter(F.col("o_orderkey") <= 5000)  # simulated loaded target
    sql = (
        "SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS totalprice "
        "FROM orders WHERE o_orderkey > {}"
    )
    return incremental_sql_extract(spark, sql, target, "o_orderkey")


@register(
    "udf_pandas_scalar",
    """
    SELECT doc_id, reverse(lower(text)) AS rev_text,
           length(text) % 97 AS len_mod
    FROM documents
    """,
)
def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized scalar pandas UDF (the `func` builtin's fast
    path, easy_etl/__init__.py:151-154 → vectorized)."""

    @pandas_udf("string")
    def rev_lower(s: pd.Series) -> pd.Series:
        return s.str.lower().map(lambda x: x[::-1])

    @pandas_udf("long")
    def len_mod(s: pd.Series) -> pd.Series:
        return s.str.len() % 97

    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", rev_lower("text").alias("rev_text"), len_mod("text").alias("len_mod"))


@register(
    "middleware_pandas",
    """
    SELECT event_id, event_type, CAST(floor(value / 50.0) AS BIGINT) AS value_bucket
    FROM events
    """,
)
def middleware_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-resultset middleware (O5) through the mapInPandas escape
    hatch: arbitrary Python over Arrow batches, schema change included."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    pipe = EtlPipeline(spark).extract("SELECT event_id, event_type, value FROM events")

    def bucketize(df: DataFrame) -> DataFrame:
        import math

        def run(batches):
            for pdf in batches:
                pdf["value_bucket"] = pdf["value"].map(lambda v: math.floor(v / 50.0))
                yield pdf[["event_id", "event_type", "value_bucket"]]

        return df.mapInPandas(run, "event_id bigint, event_type string, value_bucket bigint")

    pipe.middleware(bucketize)
    return pipe.dataframe()


@register(
    "pipeline_end_to_end",
    """
    WITH dim AS (
      SELECT row_number() OVER (ORDER BY n_nationkey) AS id, n_nationkey FROM nation
    )
    SELECT c.c_custkey,
           upper(replace(c.c_name, 'Customer#', 'C-')) AS c_name,
           d.id AS nation_id
    FROM customer c LEFT JOIN dim d ON c.c_nationkey = d.n_nationkey
    """,
)
def pipeline_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EtlPipeline facade itself inside the correctness gate:
    extract → chained transforms → link → ignore, compiled to one
    lineage."""
    for t in ("customer", "nation"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    pipe = EtlPipeline(spark).extract(
        "SELECT c_custkey, c_name, c_mktsegment, c_nationkey FROM customer"
    )
    pipe.transform("c_name").replace("Customer#", "C-").upper()
    dim = with_surrogate_id(spark.table("nation"), "n_nationkey")
    pipe.link("c_nationkey", dim, "n_nationkey", name="nation_id")
    pipe.ignore("c_mktsegment")
    return pipe.dataframe().select("c_custkey", "c_name", "nation_id")


def _tmp_sink(spark: SparkSession, name: str) -> ParquetSink:
    return ParquetSink(spark, tempfile.mkdtemp(prefix=f"easy_etl_{name}_") + "/t")


@register(
    "load_drop_sync",
    """
    SELECT 2 * count(*) AS n_rows,
           count(*) AS n_null_nation,
           'c_custkey,c_name,c_nationkey,id' AS cols
    FROM customer
    """,
)
def load_drop_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O14: second append lacks c_acctbal (drop-synced away, safe=False
    default, easy_etl/__init__.py:113-117) and adds c_nationkey
    (ensure: new columns created, README.md:182-187). Read-back proves
    the target schema converged and old rows null-fill the new column.
    """
    c = load_table(spark, sf_dir, "customer")
    sink = _tmp_sink(spark, "dropsync")
    sink.append(c.select("c_custkey", "c_name", "c_acctbal"))
    sink.append(c.select("c_custkey", "c_name", "c_nationkey"))
    out = sink.read()
    return out.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("c_nationkey").isNull(), 1)).alias("n_null_nation"),
        F.lit(",".join(sorted(out.columns))).alias("cols"),
    )


@register(
    "load_metrics",
    """
    SELECT count(*) AS rows_loaded, count(*) AS rows_on_disk
    FROM orders WHERE o_totalprice > 400000
    """,
)
def load_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O16: Observation-based load metrics (rows ride the write itself,
    no second scan — pipeline.py load()). rows_loaded comes from the
    accumulator, rows_on_disk from reading the sink back; the oracle
    pins both to the source count."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    sink = _tmp_sink(spark, "metrics")
    p = EtlPipeline(spark)
    p.extract_df(o)
    p.load(sink)
    rows_loaded = int(p.last_load_metrics["rows_loaded"])
    rows_on_disk = sink.read().count()
    return spark.createDataFrame(
        [(rows_loaded, rows_on_disk)], "rows_loaded bigint, rows_on_disk bigint"
    )


@register(
    "source_formats_roundtrip",
    """
    SELECT 'csv' AS fmt, count(*) AS n_rows,
           CAST(sum(n_nationkey) AS BIGINT) AS key_sum,
           count(DISTINCT n_name) AS n_names
    FROM nation
    UNION ALL
    SELECT 'json', count(*), CAST(sum(n_nationkey) AS BIGINT), count(DISTINCT n_name)
    FROM nation
    UNION ALL
    SELECT 'orc', count(*), CAST(sum(n_nationkey) AS BIGINT), count(DISTINCT n_name)
    FROM nation
    """,
)
def source_formats_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-format breadth: nation is written to csv/json/orc and
    read back through readers.file_scan (format dispatch + csv header/
    inferSchema defaults). The per-format checksums must match the
    parquet source — proving each format path round-trips values, not
    just schemas. Beyond the reference (live-DB only); these are the
    file formats a lake deployment actually ingests."""
    from ..sources.readers import file_scan

    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    out = None
    base = tempfile.mkdtemp(prefix="easy_etl_formats_")
    for fmt in ("csv", "json", "orc"):
        path = f"{base}/{fmt}"
        writer = n.write.mode("overwrite").format(fmt)
        if fmt == "csv":
            writer = writer.option("header", "true")
        writer.save(path)
        back = file_scan(spark, path, fmt)
        row = back.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("n_nationkey").cast("bigint").alias("key_sum"),
            F.countDistinct("n_name").alias("n_names"),
        ).select(F.lit(fmt).alias("fmt"), "n_rows", "key_sum", "n_names")
        out = row if out is None else out.unionByName(row)
    return out


@register(
    "pipeline_reset_reuse",
    """
    SELECT (SELECT count(*) FROM customer) AS n_first,
           (SELECT count(*) FROM nation) AS n_second,
           (SELECT count(*) FROM customer) AS n_lowered,
           CAST(0 AS BIGINT) AS n_second_lowered
    """,
)
def pipeline_reset_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O17: one EtlPipeline object drives two loads (reference contract:
    the process object is reusable, easy_etl/__init__.py:64-70). The
    first load stages a lower() transform; the second must NOT inherit
    it — nation names stay uppercase (n_second_lowered = 0) only if
    load() reset the staged state."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    s1, s2 = _tmp_sink(spark, "reuse1"), _tmp_sink(spark, "reuse2")
    p = EtlPipeline(spark)
    p.extract_df(c.select("c_custkey", "c_name")).transform("c_name").lower()
    p.load(s1)
    p.extract_df(n.select("n_nationkey", "n_name"))
    p.load(s2)
    first, second = s1.read(), s2.read()
    return spark.createDataFrame(
        [
            (
                first.count(),
                second.count(),
                first.filter(F.col("c_name") == F.lower(F.col("c_name"))).count(),
                second.filter(F.col("n_name") == F.lower(F.col("n_name"))).count(),
            )
        ],
        "n_first bigint, n_second bigint, n_lowered bigint, n_second_lowered bigint",
    )
