"""Global offsets without a single-partition stage: dense surrogate
ids, banded global rank, running sum and prior max.

``row_number() OVER (ORDER BY ...)`` (and any running aggregate) with
an empty PARTITION BY plans as Sort -> Exchange SinglePartition: every
row funnels through ONE task — fine on a dimension-sized frame at
sf0.1, fatal when the frame is billions of rows at 100 TB. Every
helper here produces the identical values with the partition-offset
scheme (RDD ``zipWithIndex`` in DataFrame terms), implemented once in
``_prior``:

1. tag each row with its partition id ``__pid``, in global order:
   ``repartitionByRange`` on the order key (Spark's RangePartitioner
   assigns globally ordered, non-overlapping key ranges, so partition
   id order == global key order; rows stay distributed) — or, for
   ``dense_ids``, whose order is arbitrary, the frame's own partitions;
2. a numPartitions-row per-partition aggregate (count / sum / max) is
   collected and prefix-combined on the driver IN ``__pid`` ORDER —
   bounded metadata, never data rows — and comes back as a literal
   ``create_map(pid -> prior)[__pid]`` lookup;
3. each row combines its partition's prior with an intra-partition
   window PARTITIONED BY ``__pid`` — embarrassingly parallel.

Correctness notes:
  - equal keys land in one partition (RangePartitioner binary-searches
    boundary values), so ties never straddle an offset boundary; NULL
    keys sort first and land in the first partition(s) like any key;
  - the range-partitioned frame is PINNED via an eager
    localCheckpoint (session.pin_frame) before the offsets pass. This
    is load-bearing, not an optimization: RangePartitioner's reservoir
    sampling is seeded by the physical RDD id, so two separate actions
    over an unpinned plan instantiate DIFFERENT boundaries whenever
    a partition holds more rows than the sample size — offsets from
    pass one would then misalign with pass two's partitions, yielding
    duplicate/skipped ranks (reproduced on a raw 15k-row scan; small
    aggregated frames only escape because the sampler takes every
    row). localCheckpoint materializes ONE instantiation and truncates
    lineage, so no later event — cache eviction, an intervening
    session.release_caches(), a re-plan — can ever re-draw the
    boundaries; the blocks are GC-reclaimed when the frame dies;
  - the offsets are eager on purpose: computing them lazily inside the
    consuming plan (a broadcast join of the per-partition aggregate)
    adds jobs to every sink write (15 instead of 12 per upsert).

Reference parity: the reference's load step gives every inserted row
an auto-increment ``id`` (easy_etl/README.md:180) — ``dense_ids`` —
and delegates ranking wholesale to its source database
(easy_etl/README.md:18); the banded helpers are the scale-path
equivalents of the SQL it would push down.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import pin_frame


def _banded(df: DataFrame, order_by: list[Column], num_partitions: int | None):
    if num_partitions is None:
        num_partitions = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
    # pin_frame (eager localCheckpoint) is LOAD-BEARING: it materializes
    # ONE physical instantiation of the sampled range boundaries and
    # truncates lineage, so neither cache eviction nor a stray
    # release_caches() between the offsets pass and the consuming
    # action can re-draw boundaries (see module docstring)
    return pin_frame(
        df.repartitionByRange(num_partitions, *order_by).withColumn(
            "__pid", F.spark_partition_id()
        )
    )


def _add(acc, v):
    return acc + (v or 0)


def _prior(part: DataFrame, value: Column, combine, first):
    """The combined ``value`` of every partition before this row's, as
    a Column lookup on ``__pid``, plus the combination over all
    partitions. ``part`` carries ``__pid`` in global order; ``first``
    is the prior of the first partition. A NULL prior (and an empty
    ``part``) looks up as NULL."""
    acc, entries = first, []
    stats = part.groupBy("__pid").agg(value.alias("__v")).collect()
    for pid, v in sorted(stats, key=lambda r: r[0]):
        if acc is not None:
            entries += [F.lit(pid), F.lit(acc)]
        acc = combine(acc, v)
    prior = F.create_map(*entries)[F.col("__pid")] if entries else F.lit(None)
    return prior, acc


def dense_ids(df: DataFrame, id_col: str = "id", offset: int = 0) -> DataFrame:
    """Dense BIGINT ids ``offset + 1 ..`` in the frame's own partition
    order (see the module docstring for the scheme). Requires a
    deterministic input plan (the frame is evaluated twice);
    parquet-backed lineage qualifies."""
    part = df.withColumn("__pid", F.spark_partition_id()).withColumn(
        "__ord", F.monotonically_increasing_id()
    )
    start, _ = _prior(part, F.count(F.lit(1)), _add, offset)
    w = Window.partitionBy("__pid").orderBy("__ord")
    return part.withColumn(
        id_col, F.row_number().over(w).cast("long") + start
    ).select(id_col, *df.columns)


def global_row_number(
    df: DataFrame,
    order_by: list[Column],
    *,
    out_col: str = "rn",
    num_partitions: int | None = None,
    with_total: bool = False,
):
    """Exact global ``row_number()`` in ``order_by`` order with no
    single-partition sort. Ties order arbitrarily within their key
    (exactly like the window form). With ``with_total=True`` returns
    ``(df, total_rows)`` — the row count falls out of the offsets pass
    for free (saves callers a second scan for ``count(*) OVER ()``)."""
    part = _banded(df, order_by, num_partitions)
    start, total = _prior(part, F.count(F.lit(1)), _add, 0)
    w = Window.partitionBy("__pid").orderBy(*order_by)
    out = part.withColumn(
        out_col, F.row_number().over(w).cast("long") + start
    ).drop("__pid")
    return (out, total) if with_total else out


def global_prior_max(
    df: DataFrame,
    val_col: str,
    order_by: list[Column],
    *,
    out_col: str = "prior_max",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exclusive global running max — ``max(val) OVER (ORDER BY ...
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)`` — banded.
    NULL for the globally-first rows, exactly like the window form."""
    part = _banded(df, order_by, num_partitions)
    prior, _ = _prior(
        part,
        F.max(val_col),
        lambda acc, m: acc if m is None or (acc is not None and acc >= m) else m,
        None,
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # greatest() skips NULLs: rows with no intra-partition predecessor
    # still see the cross-partition prefix max
    out = F.greatest(prior, F.max(val_col).over(w))
    return part.withColumn(out_col, out).drop("__pid")


def global_running_offset(
    df: DataFrame,
    val_col: str,
    order_col: str,
    *,
    out_col: str = "start_ofs",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exclusive exact global prefix sum of ``val_col`` in ``order_col``
    order — ``sum(val) OVER (ORDER BY order_col ROWS BETWEEN UNBOUNDED
    PRECEDING AND 1 PRECEDING)`` with 0 for the first row — banded."""
    part = _banded(df, [F.col(order_col)], num_partitions)
    start, _ = _prior(part, F.sum(val_col), _add, 0)
    w = (
        Window.partitionBy("__pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return part.withColumn(
        out_col, (F.sum(val_col).over(w) - F.col(val_col) + start).cast("long")
    ).drop("__pid")
