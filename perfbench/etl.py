"""``etl_upsert``: seeded cycles of the engine's own staged ETL job.

Each cycle, one client in a closed loop:

1. registers the cycle's new inputs through the session layer (a batch
   of updates plus inserts, and the next slice of an append-only event
   source);
2. keys the two dimensions (``with_surrogate_id``, served from the
   surrogate cache after the first call);
3. upserts the batch: SQL extract -> ``types`` -> ``strip``/``lower``/
   ``default`` transforms -> equi ``link`` to the supplier dimension ->
   as-of ``link_closest`` to a weekly date dimension -> ``ignore`` ->
   ``load(sink, upsert_fields=["l_key"])``;
4. appends the new events with a watermark extract
   (``extract(..., write_pk_field="event_id")`` -> ``load(sink2)``);
5. re-reads the rewritten target through ``load_table`` and checks its
   row count, key count, quantity sum and id range against a model of
   the feed.

After the timed cycles both targets are compared with a DuckDB merge of
the base table and every batch (and with every event), and surrogate
ids are checked unique, dense and unchanged for the base table's keys.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np

from perfbench import gen, probe

#: base table rows.  The sf0.1 lineitem shape (600k rows) costs ~20 s
#: per setup and ~7 s per upsert on a 4-core host, more than a run can
#: spend; at 50k rows a cycle still rewrites the whole table.
N_BASE = 50_000
#: rows per batch (3% of the table; half updates, half inserts)
N_BATCH = 1_500
#: initial rows of the append-only event source, and rows per cycle
N_EVENTS0, N_EVENTS = 10_000, 500

#: untimed (but checked) cycles before the timed ones.  The first pays
#: the cold start; after it, cycle walls and CPU keep falling as the JIT
#: compiles (CPU per cycle halves over the next ten cycles on a 4-core
#: host), and a cycle that still carries compile work needs more cores,
#: so it is slowed most by other load on the host.
WARM_CYCLES = 4
#: wall of one cycle after the warm-up on a 4-core host
CYCLE_S = 3.6

UPSERT_SQL = (
    "SELECT l_key, l_orderkey, l_suppkey, l_quantity, l_extendedprice, l_shipdate, "
    "l_comment, l_shipmode, l_note FROM {view}"
)
APPEND_SQL = "SELECT event_id, ts, user_id, event_type, value FROM events_src WHERE event_id > {}"


class SinkProbe:
    """Stands in for a ``ParquetSink`` passed to ``load()``: when tracing,
    times the sink call under its own span and diffs the table's data
    files; otherwise it only forwards the call."""

    def __init__(self, sink, tracer, sizes: dict):
        self._sink = sink
        self._tr = tracer
        self._sizes = sizes  # out: write figures of the last call

    def __getattr__(self, name):
        return getattr(self._sink, name)

    def _files(self) -> dict[str, int]:
        return {f: os.path.getsize(f) for f in self._sink.data_files()} if self._sink.exists() else {}

    def _call(self, kind: str, *args, **kwargs):
        if not self._tr.enabled:
            return getattr(self._sink, kind)(*args, **kwargs)
        before = self._files()
        with self._tr.span("sinks", kind):
            t0 = time.perf_counter()
            getattr(self._sink, kind)(*args, **kwargs)
            self._sizes["write_s"] = time.perf_counter() - t0
        after = self._files()
        new = {f: s for f, s in after.items() if before.get(f) != s}
        self._sizes.update(
            bytes_written=sum(new.values()), files_written=len(new), table_bytes=sum(after.values())
        )

    def upsert(self, *args, **kwargs):
        self._call("upsert", *args, **kwargs)

    def append(self, *args, **kwargs):
        self._call("append", *args, **kwargs)


class Etl:
    """One ``etl_upsert`` run: setup, ``WARM_CYCLES`` untimed cycles,
    then ``run.timed_ops(CYCLE_S)`` timed cycles and the end-of-run
    check."""

    def __init__(self, run, n_base=N_BASE, n_batch=N_BATCH, n_events0=N_EVENTS0, n_events=N_EVENTS):
        self.run = run
        self.sizes = dict(n_base=n_base, n_batch=n_batch, n_events0=n_events0, n_events=n_events)
        self.tr = probe.Tracer()
        self.tracer = probe.Tracer()
        self.layer: dict[str, list[float]] = {}

    # -- inputs and staging ---------------------------------------------
    def view(self, name: str) -> None:
        """Register ``<dir>/<name>.parquet`` as a temp view via the session layer."""
        from easy_etl_spark.session import load_table

        with self.tr.span("session", f"load_table:{name}"):
            t0 = time.perf_counter()
            load_table(self.run.spark, self.dir, name).createOrReplaceTempView(name)
            self._add("session.load_table_s", time.perf_counter() - t0)

    def key_dims(self) -> None:
        from easy_etl_spark.operators import links
        from easy_etl_spark.session import load_table

        spark = self.run.spark
        with self.tr.span("links", "with_surrogate_id"):
            t0 = time.perf_counter()
            n0 = len(links._SURROGATE_CACHE)
            self.sup = links.with_surrogate_id(load_table(spark, self.dir, "supplier_dim"), "s_suppkey")
            self.dates = links.with_surrogate_id(load_table(spark, self.dir, "date_dim"), "d_date")
            misses = len(links._SURROGATE_CACHE) - n0
            self._add("links.surrogate_s", time.perf_counter() - t0)
            self._add("links.surrogate_hit_ratio", (2 - misses) / 2)

    def upsert_pipeline(self, view: str):
        from easy_etl_spark import EtlPipeline

        pipe = EtlPipeline(self.run.spark).extract(
            UPSERT_SQL.format(view=view), types={"l_quantity": float}
        )
        pipe.transform("l_comment").strip().lower()
        pipe.transform("l_shipmode").default("UNKNOWN")
        pipe.link("l_suppkey", self.sup, "s_suppkey", name="supp_id")
        pipe.link_closest("l_shipdate", self.dates, "d_date", name="week_id", method=">=")
        pipe.ignore("l_note")
        return pipe

    def append_pipeline(self):
        from easy_etl_spark import EtlPipeline

        return EtlPipeline(self.run.spark).extract(
            APPEND_SQL, write_pk_field="event_id", target=self.sink2
        )

    def load(self, kind: str, pipe, sink, **kw) -> tuple[float, dict]:
        """One ``load()``; returns its wall and the sink figures."""
        figs: dict = {}
        with self.tr.span("pipeline", f"load:{kind}"):
            t0 = time.perf_counter()
            pipe.load(SinkProbe(sink, self.tr, figs), **kw)
            wall = time.perf_counter() - t0
        return wall, figs

    # -- setup ----------------------------------------------------------
    def setup_once(self, rep: int) -> None:
        from easy_etl_spark import ParquetSink

        run = self.run
        run.start_session()
        self.dir = d = os.path.join(run.work, f"etl{rep}")
        self.feed = gen.EtlFeed(run.seed, self.sizes["n_base"], self.sizes["n_batch"], self.sizes["n_events"])
        base = self.feed.base()
        self.inputs = {
            "base": gen.write(base, f"{d}/base.parquet"),
            "supplier_dim": gen.write(self.feed.suppliers(), f"{d}/supplier_dim.parquet"),
            "date_dim": gen.write(self.feed.dates(), f"{d}/date_dim.parquet"),
            "events_src": gen.write(
                self.feed.events(0, self.sizes["n_events0"]), f"{d}/events_src.parquet/part-00000.parquet"
            ),
        }
        # the existing targets the job loads into: the base table and the
        # event source as the pipeline would have loaded them, with ids
        # 1..n in key order (so base key k carries id k + 1)
        con = _duckdb(run)
        for sub in ("target.parquet", "events_tgt.parquet"):
            os.makedirs(f"{d}/{sub}")
        con.execute(
            f"COPY (SELECT row_number() OVER (ORDER BY l_key) AS id, * REPLACE "
            f"(CAST(l_shipdate AS TIMESTAMPTZ) AS l_shipdate) FROM ({expected_sql(d, 0)})) "
            f"TO '{d}/target.parquet/part-0.parquet'"
        )
        con.execute(
            f"COPY (SELECT row_number() OVER (ORDER BY event_id) AS id, event_id, "
            f"CAST(ts AS TIMESTAMPTZ) AS ts, user_id, event_type, value "
            f"FROM '{d}/events_src.parquet/*.parquet') TO '{d}/events_tgt.parquet/part-0.parquet'"
        )
        con.close()
        self.target = ParquetSink(run.spark, f"{d}/target.parquet")
        self.sink2 = ParquetSink(run.spark, f"{d}/events_tgt.parquet")
        self.key_dims()
        # model of the target for the per-cycle read-back check
        self.qty = np.zeros(self.sizes["n_base"], dtype=np.int64)
        self.qty[base["l_key"].to_numpy()] = base["l_quantity"].to_numpy()
        self.n_rows = self.sizes["n_base"]

    # -- one cycle ----------------------------------------------------------
    def cycle(self, c: int) -> dict:
        from easy_etl_spark.session import load_table
        from pyspark.sql import functions as F

        batch = self.feed.batch(c)
        events = self.feed.events(c + 1)
        batch_bytes = gen.write(batch, f"{self.dir}/batch{c}.parquet")
        gen.write(events, f"{self.dir}/events_src.parquet/part-{c + 1:05d}.parquet")
        out = {"rows": batch.num_rows + events.num_rows}
        with self.tr.span("bench", f"cycle{c}"):
            t0 = time.perf_counter()
            self.view(f"batch{c}")
            self.view("events_src")
            self.key_dims()
            out["upsert_s"], figs = self.load(
                "upsert", self.upsert_pipeline(f"batch{c}"), self.target, upsert_fields=["l_key"]
            )
            out["append_s"], _ = self.load("append", self.append_pipeline(), self.sink2)
            t1 = time.perf_counter()
            with self.tr.span("queries", "readback"):
                df = load_table(self.run.spark, self.dir, "target").agg(
                    F.count(F.lit(1)).alias("n"),
                    F.countDistinct("l_key").alias("keys"),
                    F.sum("l_quantity").alias("qty"),
                    F.min("id").alias("id_min"),
                    F.max("id").alias("id_max"),
                )
            t2 = time.perf_counter()
            with self.tr.span("exec", "readback"):
                got = df.collect()[0].asDict()
            out["query_s"] = time.perf_counter() - t1
            out["cycle_s"] = time.perf_counter() - t0
        # advance the model by this batch, then check the read-back
        keys = batch["l_key"].to_numpy()
        self.n_rows += int((keys >= self.n_rows).sum())
        self.qty = np.resize(self.qty, self.n_rows)  # inserts extend the key range
        self.qty[keys] = batch["l_quantity"].to_numpy()
        want = {"n": self.n_rows, "keys": self.n_rows, "qty": float(self.qty.sum()),
                "id_min": 1, "id_max": self.n_rows}
        self.run.outcome(f"cycle{c} readback", got == want, f"{got} != {want}")
        if self.tr.enabled:
            self._add("queries.build_s", t2 - t1)
            self._add("pipeline.pre_sink_s", out["upsert_s"] - figs["write_s"])
            self._add("sinks.write_s", figs["write_s"])
            self._add("sinks.bytes_written", figs["bytes_written"])
            self._add("sinks.files_written", figs["files_written"])
            self._add("sinks.write_amp", figs["bytes_written"] / batch_bytes)
            self._add("sinks.table_bytes", figs["table_bytes"])
            with self.tr.span("plan", "readback"):
                for k, v in probe.plan_figures(df).items():
                    self._add(f"plan.{k}" if k == "python_nodes" else f"plan.{k}_s", v)
        return out

    def _add(self, key: str, v: float) -> None:
        if self.tr.enabled:
            self.layer.setdefault(key, []).append(v)

    # -- end-of-run verification -------------------------------------------
    def verify(self, n_cycles: int) -> None:
        d = self.dir
        con = _duckdb(self.run)
        con.execute(f"CREATE TEMP TABLE expected AS {expected_sql(d, n_cycles)}")
        con.execute(
            f"CREATE TEMP TABLE got AS SELECT * REPLACE (CAST(l_shipdate AS TIMESTAMP) AS l_shipdate) "
            f"FROM '{d}/target.parquet/*.parquet'"
        )
        self._same(con, "target rows", "expected", "(SELECT * EXCLUDE (id) FROM got)")
        self._dense(con, "target ids", "got")
        moved = con.execute(
            f"SELECT count(*) FROM got WHERE l_key < {self.sizes['n_base']} AND id <> l_key + 1"
        ).fetchone()[0]
        self.run.outcome("target ids kept by base keys", moved == 0, f"{moved} ids moved")

        con.execute(
            f"CREATE TEMP TABLE got2 AS SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) "
            f"FROM '{d}/events_tgt.parquet/*.parquet'"
        )
        cols = "event_id, ts, user_id, event_type, value"
        self._same(con, "event target rows", f"(SELECT {cols} FROM '{d}/events_src.parquet/*.parquet')",
                   f"(SELECT {cols} FROM got2)")
        self._dense(con, "event target ids", "got2")
        con.close()

    def _same(self, con, what: str, want: str, got: str) -> None:
        diff = con.execute(
            f"SELECT count(*) FROM ((SELECT * FROM {want} EXCEPT ALL SELECT * FROM {got}) "
            f"UNION ALL (SELECT * FROM {got} EXCEPT ALL SELECT * FROM {want}))"
        ).fetchone()[0]
        self.run.outcome(what, diff == 0, f"{diff} rows differ from the expected merge")

    def _dense(self, con, what: str, table: str) -> None:
        n, distinct, lo, hi = con.execute(
            f"SELECT count(*), count(DISTINCT id), min(id), max(id) FROM {table}"
        ).fetchone()
        ok = n == distinct and lo == 1 and hi == n
        self.run.outcome(what, ok, f"rows {n}, distinct ids {distinct}, range {lo}..{hi}")

    # -- run ----------------------------------------------------------------
    def execute(self) -> dict:
        run = self.run
        setup = []
        for rep in range(3):
            t0 = time.perf_counter()
            self.setup_once(rep)
            setup.append(time.perf_counter() - t0)
        run.env["inputs"] = {**self.inputs, **self.sizes}
        run.phase("setup")
        for c in range(WARM_CYCLES):
            self.cycle(c)
        run.phase("warm-up cycles")
        if run.trace:
            self.tracer = probe.Tracer(run.spark, enabled=True)

        cycles: list[dict] = []
        with probe.RssSampler(run.trace) as rss:
            while len(cycles) < run.timed_ops(CYCLE_S):
                traced = run.trace and len(cycles) % 2 == 1
                self.tr = self.tracer if traced else probe.Tracer()
                cpu0, cpu_w = probe.tree_cpu_s(), probe.pyworker_cpu_s() if traced else 0.0
                try:
                    out = self.cycle(WARM_CYCLES + len(cycles))
                except Exception as e:  # the target's state is unknown: stop
                    run.outcome(f"cycle{WARM_CYCLES + len(cycles)}", False, f"raised {e!r}")
                    break
                out["cpu_s"] = probe.tree_cpu_s() - cpu0
                out["traced"] = traced
                if traced:
                    self._add("pyworker.cpu_s", probe.pyworker_cpu_s() - cpu_w)
                cycles.append(out)
        self.tr = probe.Tracer()
        if not cycles or (run.trace and len(cycles) < 2):
            raise RuntimeError(f"no figures: {run.failures}")
        run.env["cycles"] = [
            {k: round(v, 4) for k, v in c.items() if k.endswith("_s")} for c in cycles
        ]
        run.phase(f"{len(cycles)} timed cycles")
        table_bytes = sum(os.path.getsize(f) for f in self.target.data_files())
        self.verify(WARM_CYCLES + len(cycles))
        run.phase("verify")

        if run.trace:
            return self.layer_metrics(cycles, rss.peak)
        # per-cycle figures, median over cycles: a cycle slowed by a burst
        # of contention on the host does not move them
        def med(key: str) -> float:
            return statistics.median(c[key] for c in cycles)

        for c in cycles:
            c["rows_per_s"] = c["rows"] / (c["upsert_s"] + c["append_s"])
        return {
            "setup_s": probe.metric(statistics.median(setup), "s"),
            "load_p50_s": probe.metric(med("upsert_s"), "s"),
            "rows_per_s": probe.metric(med("rows_per_s"), "rows/s"),
            "queries_per_s": probe.metric(1 / med("cycle_s"), "1/s"),
            "query_p50_s": probe.metric(med("query_s"), "s"),
            "cpu_s_per_op": probe.metric(med("cpu_s"), "s"),
            "stored_bytes_per_row": probe.metric(table_bytes / self.n_rows, "B"),
        }

    def layer_metrics(self, cycles: list[dict], rss_peak: int) -> dict:
        run = self.run
        traced = [c for c in cycles if c["traced"]]
        app = run.spark.sparkContext.applicationId
        run.stop()  # flushes the event log
        log = probe.event_log_path(os.path.join(run.work, "eventlog"), app)
        groups = probe.parse_event_log(log) if log else {}
        out = probe.layer_metrics(self.tracer, groups, len(traced))
        out.update({k: statistics.median(v) for k, v in self.layer.items()})
        # the pipeline and sink figures describe the upsert load, the
        # subject of load_p50_s
        jobs = probe.jobs_by_span(self.tracer, groups)
        spans = self.tracer.spans
        sink_jobs = {s["parent"]: jobs[s["id"]] for s in spans if s["layer"] == "sinks"}
        upserts = [s["id"] for s in spans if s["name"] == "load:upsert"]
        out["sinks.jobs"] = statistics.median(sink_jobs[i] for i in upserts)
        out["pipeline.pre_sink_jobs"] = statistics.median(jobs[i] - sink_jobs[i] for i in upserts)
        untraced = [c["cycle_s"] for c in cycles if not c["traced"]]
        out["trace.overhead_frac"] = (
            statistics.median(c["cycle_s"] for c in traced) / statistics.median(untraced) - 1
        )
        out["proc.peak_rss_mb"] = rss_peak / 2**20
        self.tracer.dump(run.trace_file(), {"groups": groups, "cycles": cycles})
        return probe.finish_layer(out)


def _duckdb(run):
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(f"SET temp_directory='{os.path.join(run.work, 'tmp')}'")
    return con


def expected_sql(d: str, n_cycles: int) -> str:
    """DuckDB query for the target after ``n_cycles`` upserts: the
    latest version of every key across the base table and the batches,
    with the pipeline's transforms and links applied."""
    versions = " UNION ALL ".join(
        [f"SELECT *, 0 AS v FROM '{d}/base.parquet'"]
        + [f"SELECT *, {c + 1} AS v FROM '{d}/batch{c}.parquet'" for c in range(n_cycles)]
    )
    return f"""
        WITH latest AS (
          SELECT * FROM ({versions})
          QUALIFY row_number() OVER (PARTITION BY l_key ORDER BY v DESC) = 1),
        sup AS (SELECT s_suppkey, row_number() OVER (ORDER BY s_suppkey) AS id
                FROM '{d}/supplier_dim.parquet'),
        wk AS (SELECT d_date, row_number() OVER (ORDER BY d_date) AS id
               FROM '{d}/date_dim.parquet')
        SELECT l.l_key, l.l_orderkey, l.l_suppkey, CAST(l.l_quantity AS DOUBLE) AS l_quantity,
               l.l_extendedprice, l.l_shipdate,
               lower(regexp_replace(l.l_comment, '^\\s+|\\s+$', '', 'g')) AS l_comment,
               CASE WHEN l.l_shipmode IS NULL OR l.l_shipmode = '' THEN 'UNKNOWN'
                    ELSE l.l_shipmode END AS l_shipmode,
               sup.id AS supp_id,
               (SELECT min_by(wk.id, wk.d_date) FROM wk WHERE wk.d_date >= l.l_shipdate) AS week_id
        FROM latest l LEFT JOIN sup ON sup.s_suppkey = l.l_suppkey"""
