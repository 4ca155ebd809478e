"""Query catalog: every implemented operator exposed as
``(spark, sf_dir) -> DataFrame`` plus a DuckDB-equivalent oracle SQL.

This is the engine's public proof-of-capability surface
(SURVEY.md §2): core relational (the reference's delegated SQL surface,
easy_etl/README.md:18), the reference's own operators (links, as-of
links, transforms, casts, defaults, merge/upsert, incremental
watermark), and the scale extensions (dedup / similarity / text /
events) registered by the family modules in ``catalog/``.

Hash-safety conventions (driver compares order-insensitive value
hashes, column-name aligned):
  - every computed column is aliased identically in Spark and SQL;
  - double GROUP-BY/window aggregates go through functions.exact
    (per-row decimal quantization → exact order-independent sum;
    rounding alone is NOT enough — IEEE summation-order noise can
    flip a rounded digit, see functions/exact.py);
  - timestamps in outputs are formatted to strings in both engines;
  - rounded outputs that can be TINY NEGATIVES get `+ 0.0` appended on
    both engines: Spark's BigDecimal round drops IEEE -0.0's sign while
    DuckDB keeps it, and the hash compare distinguishes them (found via
    embedding_covariance; also applied to slope/intercept, growth_pct,
    centroid, corr).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, SparkQuery] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn: SparkQuery) -> SparkQuery:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# Each family module registers its queries on import, so this order is
# the registration order (``__spark_entry__._PRIORITY`` fixes the head
# of the driver-visible order).
from .catalog import tpch  # noqa: E402,F401
from .catalog import reference_ops  # noqa: E402,F401
from .catalog import events  # noqa: E402,F401
from .catalog import dedup  # noqa: E402,F401
from .catalog import similarity  # noqa: E402,F401
from .catalog import text  # noqa: E402,F401
from .catalog import multimodal  # noqa: E402,F401
from .catalog import graph  # noqa: E402,F401
from .catalog import stats  # noqa: E402,F401
from .catalog import sinks  # noqa: E402,F401
