"""Extract surface: raw-SQL extract (string or .sql file), Python
source, file-format scans, and the incremental high-watermark extract.

Reference parity:
  - ``extract(sql)`` pushes a raw SQL string (or the contents of a
    ``*.sql`` file, detected by suffix) to the source engine
    (easy_etl/__init__.py:17-25). Here the source engine *is* Spark
    SQL over registered views (session.register_views), so the entire
    delegated surface (joins/filters/aggregates/windows,
    easy_etl/README.md:18) comes built-in and Catalyst-optimized.
  - ``extract(sql, write_pk_field=pk)`` substitutes the target's
    MAX(pk) into the SQL's ``{}`` placeholder; missing/empty target ⇒ 0
    (easy_etl/__init__.py:77-87).
  - ``extract_override(f)`` accepts any callable returning list-of-dicts
    (easy_etl/__init__.py:46-47, README.md:53-64) — or, superset, a
    DataFrame.
"""

from __future__ import annotations

import os
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import read_parquet


def resolve_sql(sql: str) -> str:
    """``*.sql`` path → file contents; anything else verbatim
    (easy_etl/__init__.py:19-21). A missing ``.sql`` file raises, as
    the reference's ``open()`` would — silently executing the *path*
    as SQL would mask the typo."""
    if sql.endswith(".sql"):
        with open(sql) as fh:
            return fh.read()
    return sql


def sql_extract(spark: SparkSession, sql: str) -> DataFrame:
    return spark.sql(resolve_sql(sql))


def python_source(spark: SparkSession, f: Callable[[], Any]) -> DataFrame:
    """Custom Python source. list-of-dicts → DataFrame; DataFrame passes
    through."""
    data = f()
    if isinstance(data, DataFrame):
        return data
    if not data:
        # empty resultset: schema-less empty frame; load()'s truthiness
        # gate (easy_etl/__init__.py:37) will skip the write.
        from pyspark.sql.types import StructType

        return spark.createDataFrame([], StructType([]))
    return spark.createDataFrame(data)


def file_scan(spark: SparkSession, path: str, fmt: str | None = None, **options: Any) -> DataFrame:
    """Format-dispatched scan (parquet/csv/json/orc/text). Beyond the
    reference (it only reads live DBs, easy_etl/tests/conftest.py:19-20)
    but required for the parquet star schema."""
    if fmt is None:
        ext = os.path.splitext(path)[1].lstrip(".").lower()
        fmt = {"pq": "parquet", "txt": "text"}.get(ext, ext or "parquet")
    if fmt == "parquet" and not options:
        return read_parquet(spark, path)
    reader = spark.read
    if fmt == "csv":
        options.setdefault("header", "true")
        options.setdefault("inferSchema", "true")
    return reader.format(fmt).options(**options).load(path)


def jdbc_extract(spark: SparkSession, url: str, query: str, **options: Any) -> DataFrame:
    """Real-RDBMS extract parity: pushes the query to the source DB
    (predicate/agg execute remotely, like easy_etl/__init__.py:25)."""
    return spark.read.format("jdbc").option("url", url).option("query", resolve_sql(query)).options(**options).load()


def high_watermark(target: DataFrame | None, pk_field: str) -> int:
    """MAX(pk) of the target, 0 when target missing/empty/NULL
    (easy_etl/__init__.py:77-86). One tiny agg job — the scan prunes to
    the single pk column (columnar parquet), and at scale this becomes a
    metadata-only max on sorted/partitioned storage."""
    if target is None:
        return 0
    row = target.agg(F.max(F.col(pk_field)).alias("m")).first()
    return row["m"] if row and row["m"] is not None else 0


def incremental_sql_extract(
    spark: SparkSession, sql: str, target: DataFrame | None, pk_field: str
) -> DataFrame:
    """Watermarked delta scan: the ``{}`` placeholder is replaced with
    MAX(pk) like easy_etl/__init__.py:87. The predicate lands inside
    the SQL, so Catalyst pushes it down to the parquet scan
    (partition/row-group pruning at scale).

    Targeted ``str.replace`` rather than ``str.format``: SQL with
    literal braces (struct/map literals, JSON-path predicates) must
    pass through untouched, where .format would raise KeyError."""
    return spark.sql(
        resolve_sql(sql).replace("{}", str(high_watermark(target, pk_field)))
    )


def binary_file_scan(spark: SparkSession, path: str, glob: str | None = None) -> DataFrame:
    """Raw-binary ingest (images/audio/model shards) via Spark's
    built-in `binaryFile` source: one row per file with (path,
    modificationTime, length, content). The multimodal entry point —
    feed the `content` column to operators/multimodal.py. Filter on
    `length`/`path` BEFORE touching `content`: those come from file
    metadata and prune without reading payload bytes."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)
