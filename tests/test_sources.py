"""File-format source coverage (parquet/CSV/JSON round-trips) — a
capability superset of the reference, which reads only live DBs
(easy_etl/tests/conftest.py:19-20)."""

from __future__ import annotations

import pyspark.sql.functions as F

from easy_etl_spark.sources.readers import file_scan


def test_csv_roundtrip(spark, tmp_path):
    src = spark.createDataFrame([(1, "a", 1.5), (2, "b", 2.5)], "id long, name string, v double")
    path = str(tmp_path / "t_csv")
    src.write.option("header", "true").csv(path)
    back = file_scan(spark, path, "csv")
    assert back.count() == 2
    assert {r["name"] for r in back.collect()} == {"a", "b"}
    assert dict(back.dtypes)["v"] == "double"  # inferSchema default on


def test_json_roundtrip(spark, tmp_path):
    src = spark.createDataFrame([(1, {"k": "x"}), (2, {"k": "y"})], "id long, props map<string,string>")
    path = str(tmp_path / "t_json")
    src.write.json(path)
    back = file_scan(spark, path, "json")
    assert back.count() == 2
    assert back.filter(F.col("props.k") == "x").count() == 1


def test_parquet_format_inferred_from_extension(spark, sf_dir):
    df = file_scan(spark, f"{sf_dir}/region.parquet")
    assert df.count() == 5


def test_format_inferred_from_each_extension(spark, tmp_path):
    """No ``fmt``: the extension picks the reader for every format the
    docstring promises, ``.txt`` included (Spark's source is ``text``)."""
    src = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    src.write.option("header", "true").csv(str(tmp_path / "t.csv"))
    src.write.json(str(tmp_path / "t.json"))
    src.write.parquet(str(tmp_path / "t.parquet"))
    src.select("name").write.text(str(tmp_path / "t.txt"))
    for ext in ("csv", "json", "parquet"):
        back = file_scan(spark, str(tmp_path / f"t.{ext}"))
        assert sorted((r["id"], r["name"]) for r in back.collect()) == [(1, "a"), (2, "b")], ext
    lines = file_scan(spark, str(tmp_path / "t.txt"))
    assert lines.columns == ["value"]
    assert sorted(r["value"] for r in lines.collect()) == ["a", "b"]


def test_sliding_stream_job(spark, sf_dir, tmp_path):
    """Sliding-window streaming twin of windows.sliding."""
    import shutil

    from easy_etl_spark.session import table_path
    from easy_etl_spark.streaming import jobs

    d = tmp_path / "ev"
    d.mkdir()
    shutil.copy(table_path(sf_dir, "events"), d / "p.parquet")
    stream = jobs.read_events_stream(spark, str(d))
    agg = jobs.sliding_counts_stream(stream, length_min=60, slide_min=30)
    jobs.run_to_memory(agg, "t_sliding")
    got = {r["window_start"]: r["n_events"] for r in spark.table("t_sliding").collect()}
    from easy_etl_spark.session import load_table
    from easy_etl_spark.streaming import windows

    batch = {
        r["window_start"]: r["n_events"]
        for r in windows.sliding(load_table(spark, sf_dir, "events")).collect()
    }
    assert got == batch and got


def test_sink_version_retention_and_pruning(spark, tmp_path):
    from easy_etl_spark.sources.sinks import ParquetSink

    sink = ParquetSink(spark, str(tmp_path / "t"), keep_versions=2)
    df = spark.range(3).withColumnRenamed("id", "k")
    for _ in range(4):  # 4 swaps: first write creates, 3 replace
        sink.append(df)
    # retention window: only the 2 newest snapshots survive
    assert len(sink.versions()) == 2
    vs = sink.versions()
    # current = 4 appends; newest snapshot = 3; the one before = 2
    assert sink.read().count() == 12
    assert sink.read(version=vs[-1]).count() == 9
    assert sink.read(version=vs[0]).count() == 6
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not retained"):
        sink.read(version=99)


def test_sink_unversioned_leaves_no_snapshots(spark, tmp_path):
    from easy_etl_spark.sources.sinks import ParquetSink

    sink = ParquetSink(spark, str(tmp_path / "t"))
    df = spark.range(2).withColumnRenamed("id", "k")
    sink.append(df)
    sink.append(df)
    assert sink.versions() == []


def test_compact_shrinks_files_preserves_values(spark, tmp_path):
    from easy_etl_spark.sources.sinks import ParquetSink

    sink = ParquetSink(spark, str(tmp_path / "t"))
    # keep the "id" column so the append writes the explicit 10-way
    # partitioning as-is (the dense-id path would re-shuffle and AQE
    # would coalesce this tiny frame to one file)
    df = spark.range(100)
    sink.append(df.repartition(10))
    assert len(sink.data_files()) > 1
    before = sorted(r.id for r in sink.read().collect())
    n_files = sink.compact(target_rows_per_file=1_000)
    assert n_files == 1 and len(sink.data_files()) == 1
    assert sorted(r.id for r in sink.read().collect()) == before
    # target smaller than the table SPLITS the single compacted file —
    # the grow direction needs repartition (coalesce can only merge)
    sink.compact(target_rows_per_file=40)  # ceil(100/40) = 3
    assert len(sink.data_files()) == 3
    assert sorted(r.id for r in sink.read().collect()) == before


def test_sink_states_build_without_jobs(spark, tmp_path):
    """Below the size gate a load's new table state is one lazy plan:
    building ``upsert_state`` / ``append_state`` runs no Spark job."""
    from easy_etl_spark.sources.sinks import ParquetSink, append_state, upsert_state

    sink = ParquetSink(spark, str(tmp_path / "t"))
    sink.append(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    current = sink.read()
    spark.createDataFrame([(2, "B"), (3, "c")], "k int, v string").write.parquet(str(tmp_path / "b"))
    batch = spark.read.parquet(str(tmp_path / "b"))  # file-backed: sized below the gate
    sc = spark.sparkContext
    sc.setJobGroup("sink-state-build", "build only")
    try:
        states = [upsert_state(current, batch, ["k"]), append_state(current, batch)]
        jobs = sc.statusTracker().getJobIdsForGroup("sink-state-build")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs == []
    assert sorted(tuple(r) for r in states[0].select("id", "k", "v").collect()) == [
        (1, 1, "a"), (2, 2, "B"), (3, 3, "c")
    ]
    assert sorted(r["id"] for r in states[1].collect()) == [1, 2, 3, 4]
