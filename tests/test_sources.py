"""File-format source coverage (parquet/CSV/JSON round-trips) — a
capability superset of the reference, which reads only live DBs
(easy_etl/tests/conftest.py:19-20)."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

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


# -- the parquet schema resolver (session.read_parquet) -----------------


def _built_with_jobs(spark, group, build):
    """``build()``'s result and the Spark jobs it ran, counted under its
    own job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "build only")
    try:
        out = build()
        return out, sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _write(path, **cols):
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(cols), path)


def test_load_table_of_unchanged_table_runs_no_job(spark, tmp_path):
    from easy_etl_spark.session import load_table

    _write(str(tmp_path / "t.parquet" / "part-0.parquet"), k=[1, 2, 3], v=["a", "b", "c"])
    first = load_table(spark, str(tmp_path), "t")
    again, jobs = _built_with_jobs(spark, "resolver-unchanged", lambda: load_table(spark, str(tmp_path), "t"))
    assert jobs == []
    assert again.schema == first.schema
    assert again.semanticHash() == first.semanticHash()
    assert sorted(r.k for r in again.collect()) == [1, 2, 3]


def test_sink_read_after_same_schema_upsert_runs_no_job(spark, tmp_path):
    from easy_etl_spark.sources.sinks import ParquetSink

    sink = ParquetSink(spark, str(tmp_path / "t"))
    sink.append(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    spark.createDataFrame([(2, "B"), (3, "c")], "k int, v string").write.parquet(str(tmp_path / "b"))
    sink.upsert(spark.read.parquet(str(tmp_path / "b")), ["k"])
    sink.read()
    sink.upsert(spark.read.parquet(str(tmp_path / "b")), ["k"])
    back, jobs = _built_with_jobs(spark, "resolver-upsert", sink.read)
    assert jobs == []
    assert sorted(tuple(r) for r in back.select("id", "k", "v").collect()) == [
        (1, 1, "a"), (2, 2, "B"), (3, 3, "c")
    ]


def test_sink_read_sees_a_column_an_ensure_load_adds(spark, tmp_path):
    from easy_etl_spark.sources.sinks import ParquetSink

    sink = ParquetSink(spark, str(tmp_path / "t"))
    sink.append(spark.createDataFrame([(1, "a")], "k int, v string"))
    assert "w" not in sink.read().columns
    sink.append(spark.createDataFrame([(2, "b", 2.5)], "k int, v string, w double"), ensure=True)
    back = sink.read()
    assert "w" in back.columns
    assert sorted((r.k, r.w) for r in back.collect()) == [(1, None), (2, 2.5)]


def test_mixed_footers_fall_back_to_sparks_own_choice(spark, tmp_path):
    """Spark infers from the file first by path; with differing footers
    the resolver must not pick for it."""
    from easy_etl_spark.session import read_parquet

    d = str(tmp_path / "mixed")
    _write(f"{d}/a.parquet", x=[1], y=["s"])
    _write(f"{d}/b.parquet", x=[2], z=[0.5])
    assert read_parquet(spark, d).columns == spark.read.parquet(d).columns == ["x", "y"]
    # names swapped: the first file now carries z
    os.remove(f"{d}/a.parquet")
    os.rename(f"{d}/b.parquet", f"{d}/a.parquet")
    _write(f"{d}/b.parquet", x=[1], y=["s"])
    assert read_parquet(spark, d).columns == spark.read.parquet(d).columns == ["x", "z"]


def test_new_partition_value_reinfers_the_partition_type(spark, tmp_path):
    from easy_etl_spark.session import read_parquet

    d = str(tmp_path / "parts")
    _write(f"{d}/p=1/f.parquet", v=[1])
    assert dict(read_parquet(spark, d).dtypes)["p"] == "int"
    _write(f"{d}/p=abc/f.parquet", v=[2])
    back = read_parquet(spark, d)
    assert dict(back.dtypes)["p"] == "string"
    assert sorted(r.p for r in back.collect()) == ["1", "abc"]


def test_inference_confs_are_part_of_the_key(spark, tmp_path):
    import pyarrow as pa

    from easy_etl_spark.session import read_parquet

    nanos = "spark.sql.legacy.parquet.nanosAsLong"
    binary = "spark.sql.parquet.binaryAsString"
    p = str(tmp_path / "b.parquet")
    _write(p, b=pa.array([b"x"], pa.binary()))
    assert dict(read_parquet(spark, p).dtypes)["b"] == "binary"
    spark.conf.set(binary, "true")
    try:
        assert dict(read_parquet(spark, p).dtypes)["b"] == "string"
    finally:
        spark.conf.unset(binary)
    assert dict(read_parquet(spark, p).dtypes)["b"] == "binary"

    p = str(tmp_path / "ns.parquet")
    _write(p, ts=pa.array([1], pa.timestamp("ns")))
    assert dict(read_parquet(spark, p).dtypes)["ts"] == "bigint"
    saved = spark.conf.get(nanos, None)
    spark.conf.unset(nanos)
    try:
        # Spark's own inference refuses nanoseconds without the conf;
        # a schema remembered under the conf must not hide that
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
            read_parquet(spark, p)
    finally:
        spark.conf.set(nanos, saved or "true")


def test_rewrite_from_micros_to_nanos_is_converted(spark, tmp_path):
    """A path first read with a timestamp[us] column, then rewritten
    with timestamp[ns], must come back as TIMESTAMP, not as the raw
    nanosecond long."""
    import pyarrow as pa

    from easy_etl_spark.session import load_table

    p = str(tmp_path / "ev.parquet" / "part-0.parquet")
    _write(p, ts=pa.array([1_500_000], pa.timestamp("us")))
    first = load_table(spark, str(tmp_path), "ev")
    assert dict(first.dtypes)["ts"] == "timestamp"
    _write(p, ts=pa.array([1_500_000_123], pa.timestamp("ns")))
    back = load_table(spark, str(tmp_path), "ev")
    assert dict(back.dtypes)["ts"] == "timestamp"
    assert back.selectExpr("unix_micros(ts) AS us").first().us == 1_500_000


def _parquet_read_calls(tree):
    """``<x>.read…parquet(…)`` and ``<x>.read…format("parquet")`` calls:
    the attribute chain under the call reaches ``.read`` (a batch read;
    ``write``, ``readStream`` and ``writeStream`` chains are not reads
    of a table)."""
    import ast

    for call in ast.walk(tree):
        if not isinstance(call, ast.Call) or not isinstance(call.func, ast.Attribute):
            continue
        f = call.func
        fmt = [a.value for a in call.args if isinstance(a, ast.Constant)]
        if f.attr != "parquet" and not (f.attr == "format" and fmt == ["parquet"]):
            continue
        node = f.value
        while isinstance(node, (ast.Call, ast.Attribute)):
            if isinstance(node, ast.Call):
                node = node.func
            elif node.attr in ("write", "readStream", "writeStream"):
                break
            elif node.attr == "read":
                yield call.lineno
                break
            else:
                node = node.value


def test_parquet_tables_are_read_only_through_the_resolver():
    """Every engine parquet read goes through ``session.read_parquet``,
    so no second read path skips the remembered schema."""
    import ast
    import glob

    pkg = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "easy_etl_spark")
    sites = []
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        if os.path.relpath(path, pkg) == "session.py":
            continue
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        sites += [f"{os.path.relpath(path, pkg)}:{n}" for n in _parquet_read_calls(tree)]
    assert sites == []
    # the scan itself finds what it must
    probe = ast.parse(
        "spark.read.parquet(p)\nspark.read.schema(s).parquet(p)\n"
        "spark.read.format('parquet').load(p)\ndf.write.mode('x').parquet(p)\n"
        "spark.readStream.format('parquet').load(p)\n"
    )
    assert list(_parquet_read_calls(probe)) == [1, 2, 3]


def test_resolver_memo_stays_bounded_under_threads(monkeypatch):
    """Concurrent loads (a foreachBatch handler beside a query) share
    the resolver's memos; eviction must neither raise nor overrun."""
    import sys
    import threading

    from easy_etl_spark import session

    monkeypatch.setattr(session, "_MEMO_CAP", 8)
    memo, errors = {}, []

    def hammer(t):
        try:
            for i in range(2000):
                session._remember(memo, (t, i % 50), i)
        except Exception as e:  # pragma: no cover - the failure under test
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=hammer, args=(t,)) for t in range(16)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert errors == [] and len(memo) <= 8
