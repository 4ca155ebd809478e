"""Live-JDBC extract parity.

The reference's whole test suite runs against a real MySQL server
(reference tests/conftest.py:19-20, Vagrantfile:12). This container has
no network, but Spark ships Apache Derby — a real embedded JDBC
database — so the extract path is exercised against a live JDBC source
end-to-end: seed over JDBC, extract with a remotely-executed query,
run the result through the EtlPipeline facade into a parquet sink.

Identifier note: Spark's JDBC writer quotes column names, so Derby
stores them case-sensitively — queries must quote them back.
"""

from __future__ import annotations

import pytest

from easy_etl_spark.pipeline import EtlPipeline
from easy_etl_spark.sources import readers
from easy_etl_spark.sources.sinks import ParquetSink

DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


@pytest.fixture(scope="module")
def jdbc_url(spark, tmp_path_factory):
    db = tmp_path_factory.mktemp("derby") / "db"
    url = f"jdbc:derby:{db};create=true"
    seed = spark.createDataFrame(
        [(1, 5.0, "keep"), (2, 250.0, "keep"), (3, 999.0, "drop")],
        "order_id int, amount double, tag string",
    )
    (
        seed.write.format("jdbc")
        .option("url", url)
        .option("dbtable", "ORDERS_SRC")
        .option("driver", DRIVER)
        .mode("overwrite")
        .save()
    )
    return url


def test_jdbc_extract_pushes_query_to_source(spark, jdbc_url):
    out = readers.jdbc_extract(
        spark,
        jdbc_url,
        'SELECT "order_id", "amount" FROM ORDERS_SRC WHERE "amount" > 100',
        driver=DRIVER,
    )
    rows = sorted(tuple(r) for r in out.collect())
    assert rows == [(2, 250.0), (3, 999.0)]
    # the filter ran in the source DB: the scan node is a JDBC relation
    # scoped to the pushed query, not a full-table read
    plan = out._jdf.queryExecution().simpleString()
    assert "JDBCRelation" in plan


def test_jdbc_extract_through_pipeline_facade(spark, jdbc_url, tmp_path):
    sink = ParquetSink(spark, str(tmp_path / "jdbc_out"))
    p = EtlPipeline(spark)
    (
        # Spark's JDBC writer maps StringType → CLOB in Derby; the pushed
        # predicate casts it back to a comparable VARCHAR
        p.extract_jdbc(
            jdbc_url,
            'SELECT "order_id", "amount", CAST("tag" AS VARCHAR(32)) AS "tag" '
            "FROM ORDERS_SRC WHERE CAST(\"tag\" AS VARCHAR(32)) = 'keep'",
            driver=DRIVER,
        )
        .transform("tag")
        .upper()
    )
    p.ignore("amount")
    p.load(sink)
    got = {(r["order_id"], r["tag"]) for r in sink.read().select("order_id", "tag").collect()}
    assert got == {(1, "KEEP"), (2, "KEEP")}
    assert p.last_load_metrics["rows_loaded"] == 2


# ----------------------------------------------------------------------
# JdbcSink: the reference's LOAD surface against a live JDBC database
# ----------------------------------------------------------------------

def _sink(spark, tmp_path_factory, name):
    from easy_etl_spark.sources.jdbc_sink import JdbcSink

    db = tmp_path_factory.mktemp("derby_sink") / "db"
    return JdbcSink(
        spark, f"jdbc:derby:{db};create=true", name, driver=DRIVER
    )


def _rows(sink, *cols):
    return sorted(tuple(r[c] for c in cols) for r in sink.read().collect())


def test_jdbc_sink_append_creates_table_with_surrogate_ids(
    spark, tmp_path_factory
):
    sink = _sink(spark, tmp_path_factory, "T_APPEND")
    assert sink.read() is None
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    sink.append(df)
    got = sink.read()
    assert set(got.columns) == {"id", "k", "v"}
    ids = [r["id"] for r in got.collect()]
    assert sorted(ids) == [1, 2]  # dense ids from 1, reference parity
    # second append continues the id sequence past the current max
    sink.append(spark.createDataFrame([(3, "c")], "k int, v string"))
    assert _rows(sink, "k", "id") == [(1, 1), (2, 2), (3, 3)]


def test_jdbc_sink_upsert_updates_inserts_and_keeps_ids(
    spark, tmp_path_factory
):
    sink = _sink(spark, tmp_path_factory, "T_UPSERT")
    sink.append(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    before = {r["k"]: r["id"] for r in sink.read().collect()}
    sink.upsert(
        spark.createDataFrame([(2, "B"), (3, "c")], "k int, v string"),
        keys=["k"],
    )
    assert _rows(sink, "k", "v") == [(1, "a"), (2, "B"), (3, "c")]
    after = {r["k"]: r["id"] for r in sink.read().collect()}
    assert after[1] == before[1] and after[2] == before[2]
    assert after[3] not in before.values()


def test_jdbc_sink_ensure_and_drop_sync_semantics(spark, tmp_path_factory):
    sink = _sink(spark, tmp_path_factory, "T_SCHEMA")
    sink.append(
        spark.createDataFrame([(1, "a", "x")], "k int, v string, legacy string")
    )
    # ensure (default): new column appears; drop-sync: stale column goes
    sink.append(spark.createDataFrame([(2, "b", 9.5)], "k int, v string, score double"))
    got = sink.read()
    assert "score" in got.columns and "legacy" not in got.columns
    # safe=True: stale target columns survive (reference safe kwarg)
    sink.append(
        spark.createDataFrame([(3, "c")], "k int, v string"), safe=True
    )
    assert "score" in sink.read().columns
    # ensure=False: incoming extras are dropped instead of added
    sink.append(
        spark.createDataFrame([(4, "d", True)], "k int, v string, extra boolean"),
        ensure=False,
        safe=True,
    )
    assert "extra" not in sink.read().columns
    assert _rows(sink, "k") == [(1,), (2,), (3,), (4,)]


def test_jdbc_sink_through_pipeline_facade(spark, jdbc_url, tmp_path_factory):
    """The reference deployment end-to-end on a LIVE database: extract
    FROM a JDBC source, transform, load INTO a JDBC target through the
    same EtlPipeline facade — pipeline.load() is duck-typed over the
    sink, nothing else changes."""
    sink = _sink(spark, tmp_path_factory, "T_PIPE")
    pipe = EtlPipeline(spark).extract_jdbc(
        jdbc_url,
        'SELECT "order_id", "amount" FROM ORDERS_SRC WHERE "amount" > 100',
        driver=DRIVER,
    )
    pipe.load(sink, upsert_fields=["order_id"])
    assert _rows(sink, "order_id", "amount") == [(2, 250.0), (3, 999.0)]
    # replay the same load through the facade: upsert converges
    pipe2 = EtlPipeline(spark).extract_jdbc(
        jdbc_url,
        'SELECT "order_id", "amount" FROM ORDERS_SRC WHERE "amount" > 100',
        driver=DRIVER,
    )
    pipe2.load(sink, upsert_fields=["order_id"])
    assert _rows(sink, "order_id", "amount") == [(2, 250.0), (3, 999.0)]


# ----------------------------------------------------------------------
# One load contract for every sink: all of them build their new table
# state from the shared merge plan in sources/sinks.py
# ----------------------------------------------------------------------

def _contract_sink(kind, spark, tmp_path_factory):
    if kind == "parquet":
        return ParquetSink(spark, str(tmp_path_factory.mktemp("contract") / "t"))
    if kind == "txn":
        from easy_etl_spark.sources.txn import TransactionalParquetSink

        return TransactionalParquetSink(spark, str(tmp_path_factory.mktemp("contract") / "t"))
    return _sink(spark, tmp_path_factory, "T_CONTRACT")


@pytest.mark.parametrize("kind", ["parquet", "txn", "jdbc"])
def test_sink_contract_append_then_keyed_and_id_keyed_upsert(
    spark, tmp_path_factory, kind
):
    sink = _contract_sink(kind, spark, tmp_path_factory)
    sink.append(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    assert _rows(sink, "id", "k", "v") == [(1, 1, "a"), (2, 2, "b")]
    # natural-key upsert: the match keeps its id, the insert gets the next one
    sink.upsert(spark.createDataFrame([(2, "B"), (3, "c")], "k int, v string"), ["k"])
    assert _rows(sink, "id", "k", "v") == [(1, 1, "a"), (2, 2, "B"), (3, 3, "c")]
    # id-keyed upsert: incoming ids are authoritative, for updates and inserts
    sink.upsert(
        spark.createDataFrame([(3, 3, "C"), (4, 4, "d")], "id long, k int, v string"),
        ["id"],
    )
    assert _rows(sink, "id", "k", "v") == [
        (1, 1, "a"), (2, 2, "B"), (3, 3, "C"), (4, 4, "d")
    ]
