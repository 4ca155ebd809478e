"""Round-6 regression pins for the advisor findings:

1. (high) JdbcSink's no-RENAME fallback must write from the
   materialized STAGING table, never re-execute the self-referential
   merged plan (which Spark's drop-first JDBC overwrite would zero).
2. (high, part 2) a post-swap DROP failure must NOT route into the
   fallback and duplicate the already-swapped table.
3. (medium) JdbcSink.read() distinguishes 'table missing' (catalog
   metadata) from transient read failures, which now propagate.
4. (medium) banded rank / prefix-sum frames survive an intervening
   release_caches() — the partition pin is a lineage-truncating
   localCheckpoint, not a releasable cache.
5. (low) release_caches(since=mark) releases only entries added after
   the mark (foreachBatch handlers must not free unrelated caches).
6. (low) JDBC load metrics pre-count the incoming frame BEFORE the
   load instead of recounting the (possibly self-referential) extract
   afterwards.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from easy_etl_spark.session import cache_mark, release_caches, track_cache
from easy_etl_spark.sources.jdbc_sink import JdbcSink

DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


@pytest.fixture()
def jdbc_url(tmp_path):
    return f"jdbc:derby:{tmp_path / 'db'};create=true"


def _rows(sink):
    return sorted(tuple(r) for r in sink.read().select("k", "v").collect())


class _NoRename(JdbcSink):
    """Simulates an engine without RENAME TABLE (Postgres/Oracle/SQL
    Server all spell rename differently) on top of Derby."""

    def _execute(self, conn, sql):
        if sql.upper().startswith("RENAME TABLE"):
            raise RuntimeError("syntax error: RENAME TABLE unsupported")
        super()._execute(conn, sql)


class _DropFails(JdbcSink):
    """Swap succeeds, but the post-swap DROP TABLE __OLD fails."""

    def _execute(self, conn, sql):
        up = sql.upper()
        if up.startswith("DROP TABLE") and "__OLD" in up:
            raise RuntimeError("lock timeout on DROP")
        super()._execute(conn, sql)


def test_no_rename_fallback_preserves_existing_rows(spark, jdbc_url):
    """The advisor's data-loss shape: on a no-RENAME engine, upsert
    into an existing table must keep the pre-existing survivors. The
    old code re-executed the merged plan (which lazily READS the
    target) under mode('overwrite'), so Spark dropped the target
    before the scan ran and every old row vanished."""
    sink = _NoRename(spark, jdbc_url, "T_FALLBACK", driver=DRIVER)
    sink.append(spark.createDataFrame([Row(k=1, v="a"), Row(k=2, v="b")]))
    sink.upsert(spark.createDataFrame([Row(k=2, v="B"), Row(k=3, v="c")]), keys=["k"])
    assert _rows(sink) == [(1, "a"), (2, "B"), (3, "c")]


def test_no_rename_fallback_append(spark, jdbc_url):
    sink = _NoRename(spark, jdbc_url, "T_FB_APPEND", driver=DRIVER)
    sink.append(spark.createDataFrame([Row(k=1, v="a")]))
    sink.append(spark.createDataFrame([Row(k=2, v="b")]))
    assert _rows(sink) == [(1, "a"), (2, "b")]


def test_post_swap_drop_failure_does_not_duplicate(spark, jdbc_url):
    """A failed DROP TABLE __OLD after a SUCCESSFUL swap used to route
    into the overwrite fallback, re-running the merged plan against the
    already-swapped table — duplicating rows/ids. Now cleanup is
    best-effort and never re-writes."""
    sink = _DropFails(spark, jdbc_url, "T_DROPFAIL", driver=DRIVER)
    sink.append(spark.createDataFrame([Row(k=1, v="a")]))
    sink.upsert(spark.createDataFrame([Row(k=1, v="A"), Row(k=2, v="b")]), keys=["k"])
    assert _rows(sink) == [(1, "A"), (2, "b")]
    ids = [r[0] for r in sink.read().select(sink.id_col).collect()]
    assert len(ids) == len(set(ids)) == 2, "duplicate surrogate ids after failed DROP"


def test_read_missing_table_returns_none(spark, jdbc_url):
    sink = JdbcSink(spark, jdbc_url, "T_NOT_THERE", driver=DRIVER)
    assert sink.read() is None


def test_read_transient_failure_raises_not_none(spark, jdbc_url):
    """A connection blip mid-read must RAISE, not report 'table
    missing' — append/upsert interpret None as create-fresh-table,
    which would replace the real table with only the incoming batch."""
    sink = JdbcSink(spark, jdbc_url, "T_EXISTS", driver=DRIVER)
    sink.append(spark.createDataFrame([Row(k=1, v="a")]))

    broken = JdbcSink(spark, jdbc_url, "T_EXISTS", driver=DRIVER)

    def boom(rw, dbtable):  # the table EXISTS; the load blips
        raise RuntimeError("connection reset")

    broken._options = boom
    with pytest.raises(RuntimeError, match="connection reset"):
        broken.read()


def test_banded_rank_survives_release_caches(spark):
    """The medium advisor item: collect offsets, release every tracked
    cache, THEN consume the banded frame — ranks must still be exact
    and unique (the pin is a localCheckpoint outside the registry)."""
    from easy_etl_spark.operators.ranking import global_row_number

    df = spark.range(0, 15000).withColumn(
        "key", (F.col("id") * 2654435761) % 1000003
    )
    ranked = global_row_number(df, [F.col("key"), F.col("id")], num_partitions=8)
    release_caches()  # simulate an unrelated blanket release mid-flight
    got = ranked.select("rn").groupBy().agg(
        F.count("rn").alias("n"),
        F.countDistinct("rn").alias("d"),
        F.min("rn").alias("lo"),
        F.max("rn").alias("hi"),
    ).first()
    assert (got.n, got.d, got.lo, got.hi) == (15000, 15000, 1, 15000)


def test_running_offset_survives_release_caches(spark):
    from easy_etl_spark.operators.ranking import global_running_offset

    df = spark.range(0, 12000).withColumn("w", F.col("id") % 7 + 1)
    out = global_running_offset(df, "w", "id", num_partitions=8)
    release_caches()
    rows = out.orderBy("id").select("id", "w", "start_ofs").collect()
    acc = 0
    for r in rows:
        assert r.start_ofs == acc, f"offset drifted at id={r.id}"
        acc += r.w


def test_release_caches_scoped_by_mark(spark):
    # structurally distinct plans: cache entries are keyed by the
    # CANONICALIZED plan (column names erased), so two same-shape
    # frames would share one entry and defeat the test
    outer = track_cache(spark.range(10).withColumn("a", F.col("id") + 1))
    outer.count()
    mark = cache_mark()
    inner = track_cache(spark.range(20).withColumn("b", F.col("id") * 2))
    inner.count()
    assert release_caches(since=mark) == 1
    assert outer.storageLevel.useMemory, "scoped release freed an outer cache"
    assert not inner.storageLevel.useMemory
    assert release_caches() >= 1  # cleanup


def test_jdbc_load_metrics_precount(spark, jdbc_url):
    """Pipeline metrics over a non-observing sink come from ONE count
    taken before the load — exact and never re-reading post-load
    state."""
    from easy_etl_spark.pipeline import EtlPipeline

    src = spark.createDataFrame([Row(k=i, v=str(i)) for i in range(7)])
    src.createOrReplaceTempView("r6_metrics_src")
    sink = JdbcSink(spark, jdbc_url, "T_METRICS", driver=DRIVER)
    assert sink.observes_writes is False
    p = EtlPipeline(spark)
    p.extract("SELECT * FROM r6_metrics_src")
    p.load(sink)
    assert p.last_load_metrics["rows_loaded"] == 7
    assert sink.read().count() == 7
