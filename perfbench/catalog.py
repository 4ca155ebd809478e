"""``catalog_pyboundary``: repeated passes over the catalog queries whose
executed plan holds a Python evaluation node, on seeded inputs.  Each
pass first (re)loads every input table through the session layer
(``load_table`` + temp view), then builds each query with
``QUERIES[name](spark, sf_dir)`` and materializes it through its own
``QueryExecution`` (``toRdd().count()``), so the plan that ran is the
one the traced run inspects.

Closed loop, one client.  Every output is checked in the first two
untimed warm-up passes against the query's DuckDB oracle on the same files,
with the order-insensitive multiset of ``tools/compare_oracle.py``.
"""

from __future__ import annotations

import os
import random
import statistics
import time

from perfbench import gen, probe

#: catalog scale: 10k events; documents and embeddings are 500 rows at
#: every scale
SF = 0.01

#: Queries whose executed plan has a Python evaluation node and which
#: have a DuckDB oracle, one per kind of Python boundary: the linear
#: scorer (Arrow UDF), embedding cosine dedup, ``mapInPandas``
#: middleware, a pandas scalar UDF, a Python UDTF and audio decoding.
#: All 21 such queries cost 36 s cold and 18 s warm per pass on a
#: 4-core host, more than a run can spend.
PYBOUNDARY = [
    "inference_batch_score", "dedup_embedding_cosine", "middleware_pandas",
    "udf_pandas_scalar", "udtf_chunk_tokens", "audio_flac_windows",
]

#: input tables each query reads (recorded by wrapping the parquet
#: reader); a pass loads the union of these through the session layer.
TABLES_READ = {
    "inference_batch_score": ("embeddings",),
    "dedup_embedding_cosine": ("embeddings",),
    "audio_flac_windows": ("documents",),
    "middleware_pandas": ("events",),
    "udf_pandas_scalar": ("documents",),
    "udtf_chunk_tokens": ("documents",),
}

#: untimed passes before the timed ones.  Pass walls and CPU keep
#: falling for several passes after the cold one as the JIT compiles.
WARM_PASSES = 5
#: wall of one warm pass over ``PYBOUNDARY`` on a 4-core host
PASS_S = 2.7


class Catalog:
    """One ``catalog_pyboundary`` run: setup, ``WARM_PASSES`` untimed
    passes (the first two check every output), then
    ``run.timed_ops(PASS_S)`` timed passes."""

    def __init__(self, run, sf: float = SF):
        self.run = run
        self.sf = sf
        self.names = list(PYBOUNDARY)
        self.tables = tuple(sorted({t for n in self.names for t in TABLES_READ[n]}))
        self.rng = random.Random(run.seed)
        self.sf_dir = ""
        self.tracer = probe.Tracer()  # the traced passes' spans
        self.tr = probe.Tracer()  # tracer of the pass in progress
        self.expected: dict[str, tuple] = {}
        self.walls: dict[str, list[float]] = {n: [] for n in self.names}
        self.loads: list[float] = []
        self.layer: dict[str, list[float]] = {}

    # -- setup --------------------------------------------------------
    def setup_once(self, rep: int) -> None:
        self.run.start_session()
        self.sf_dir = os.path.join(self.run.work, f"inputs{rep}")
        tables = gen.catalog_tables(self.run.seed, self.sf)
        self.sizes = gen.write_tables({t: tables[t] for t in self.tables}, self.sf_dir)
        self.register(timed=False)

    def register(self, timed: bool) -> None:
        from easy_etl_spark.session import load_table

        for t in self.tables:
            with self.tr.span("session", f"load_table:{t}"):
                t0 = time.perf_counter()
                load_table(self.run.spark, self.sf_dir, t).createOrReplaceTempView(t)
                dt = time.perf_counter() - t0
            if timed:
                self.loads.append(dt)
                if self.tr.enabled:
                    self._add("session.load_table_s", dt)

    # -- verification -------------------------------------------------
    def oracle(self, con, name: str):
        from easy_etl_spark.queries import ORACLES
        from tools.compare_oracle import frame_multiset

        res = con.execute(ORACLES[name])
        return frame_multiset([d[0] for d in res.description], res.fetchall())

    def check(self, name: str, df) -> None:
        from tools.compare_oracle import frame_multiset

        try:
            got = frame_multiset(df.columns, [tuple(r) for r in df.collect()])
        except Exception as e:  # the query itself failed
            self.run.outcome(name, False, f"spark error: {e}")
            return
        want = self.expected[name]
        ok = got == want
        detail = ""
        if not ok:
            detail = (
                f"columns {got[0]} vs {want[0]}" if got[0] != want[0]
                else f"rows {len(got[1])} vs {len(want[1])}, multiset differs"
            )
        self.run.outcome(name, ok, detail)

    # -- one query ----------------------------------------------------
    def query(self, name: str, verify: bool) -> float | None:
        """Build and materialize one query; its wall, or None if it raised."""
        from easy_etl_spark.queries import QUERIES
        from easy_etl_spark.session import release_caches

        spark = self.run.spark
        tr = self.tr
        traced = tr.enabled
        cpu0 = probe.pyworker_cpu_s() if traced else 0.0
        with tr.span("bench", name):
            t0 = time.perf_counter()
            try:
                with tr.span("queries", name):
                    df = QUERIES[name](spark, self.sf_dir)
                t1 = time.perf_counter()
                with tr.span("exec", name):
                    # df's own QueryExecution: a write would plan it anew
                    df._jdf.queryExecution().toRdd().count()
                wall = time.perf_counter() - t0
            except Exception as e:
                self.run.outcome(name, False, f"spark error: {e}")
                release_caches()
                return None
        if traced:
            self._add("queries.build_s", t1 - t0)
            self._add("pyworker.cpu_s", probe.pyworker_cpu_s() - cpu0)
            with tr.span("plan", name):
                for k, v in probe.plan_figures(df).items():
                    self._add(f"plan.{k}" if k == "python_nodes" else f"plan.{k}_s", v)
        if verify:
            self.check(name, df)
        release_caches()
        return wall

    def _add(self, key: str, v: float) -> None:
        self.layer.setdefault(key, []).append(v)

    # -- run ------------------------------------------------------------
    def execute(self) -> dict:
        import duckdb

        run = self.run
        setup = []
        for rep in range(3):
            t0 = time.perf_counter()
            self.setup_once(rep)
            setup.append(time.perf_counter() - t0)
        run.env["inputs"] = self.sizes
        run.phase("setup")
        rows = {t: self.sizes[t]["rows"] for t in self.tables}

        con = duckdb.connect()
        con.execute(f"SET temp_directory='{os.path.join(run.work, 'tmp')}'")
        for t in self.tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        for n in self.names:
            self.expected[n] = self.oracle(con, n)
        con.close()
        run.phase("oracles")

        if run.trace:
            self.tracer = probe.Tracer(run.spark, enabled=True)
        order = list(self.names)
        self.rng.shuffle(order)
        # untimed passes: the first pays the cold start; the first two
        # check every output, the second on warm, cached paths; the rest
        # take the steepest part of the JIT's warm-up out of the timed
        # window
        cold = {n: self.query(n, verify=True) for n in order}
        run.env["cold_walls_s"] = {n: round(w, 4) for n, w in cold.items() if w is not None}
        for p in range(1, WARM_PASSES):
            for n in order:
                self.query(n, verify=p == 1)
        run.phase("warm-up passes")

        passes: list[dict] = []
        with probe.RssSampler(run.trace) as rss:
            while len(passes) < run.timed_ops(PASS_S):
                self.tr = self.tracer if run.trace and len(passes) % 2 == 1 else probe.Tracer()
                p = {"traced": self.tr.enabled, "ops": 0, "rows": 0, "query_s": 0.0}
                p0, cpu0 = time.perf_counter(), probe.tree_cpu_s()
                self.register(timed=True)
                self.rng.shuffle(order)
                for n in order:
                    w = self.query(n, verify=False)
                    if w is not None:
                        self.walls[n].append(w)
                        p["ops"] += 1
                        p["rows"] += sum(rows[t] for t in TABLES_READ[n])
                        p["query_s"] += w
                p["wall_s"] = time.perf_counter() - p0
                p["cpu_s"] = probe.tree_cpu_s() - cpu0
                passes.append(p)
        run.env["passes"] = passes
        run.env["query_walls_s"] = {n: round(statistics.median(w), 4) for n, w in self.walls.items() if w}
        run.phase(f"{len(passes)} timed passes")
        if not all(p["ops"] for p in passes):
            raise RuntimeError(f"a timed pass completed no query: {run.failures}")

        if run.trace:
            return self.layer_metrics(passes, rss.peak)
        # per-pass figures, median over passes: a pass slowed by a burst
        # of contention on the host does not move them
        return {
            "setup_s": probe.metric(statistics.median(setup), "s"),
            "load_p50_s": probe.metric(statistics.median(self.loads), "s"),
            "rows_per_s": probe.metric(statistics.median(p["rows"] / p["query_s"] for p in passes), "rows/s"),
            "queries_per_s": probe.metric(statistics.median(p["ops"] / p["wall_s"] for p in passes), "1/s"),
            "query_p50_s": probe.metric(
                statistics.median(statistics.median(w) for w in self.walls.values() if w), "s"
            ),
            "cpu_s_per_op": probe.metric(statistics.median(p["cpu_s"] / p["ops"] for p in passes), "s"),
            "stored_bytes_per_row": probe.metric(
                sum(s["bytes"] for s in self.sizes.values()) / sum(rows.values()), "B"
            ),
        }

    def layer_metrics(self, passes: list[dict], rss_peak: int) -> dict:
        run = self.run
        n_ops = sum(1 for s in self.tracer.spans if s["layer"] == "bench")
        app = run.spark.sparkContext.applicationId
        run.stop()  # flushes the event log
        log = probe.event_log_path(os.path.join(run.work, "eventlog"), app)
        groups = probe.parse_event_log(log) if log else {}
        out = probe.layer_metrics(self.tracer, groups, n_ops)
        for k, vs in self.layer.items():
            out[k] = statistics.median(vs) if k == "session.load_table_s" else sum(vs) / n_ops
        out["trace.overhead_frac"] = (
            statistics.median(p["wall_s"] for p in passes if p["traced"])
            / statistics.median(p["wall_s"] for p in passes if not p["traced"]) - 1
        )
        out["proc.peak_rss_mb"] = rss_peak / 2**20
        self.tracer.dump(run.trace_file(), {"groups": groups})
        return probe.finish_layer(out)
