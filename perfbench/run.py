"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_upsert --seed 1 --seconds 10 --trace 0

Runs one workload against the engine in this checkout and prints, as the
last stdout line, ``{"correct", "attempted", "failed", "metrics"}``:
the end-to-end metrics with ``--trace 0`` and the per-layer metrics with
``--trace 1``.  The line before it is ``{"env": ...}``: CPUs, Spark
parallelism, versions, seed, input sizes and load averages.  Workloads,
metrics and the layer map are described in ``perfbench/README.md``.

All scratch state (inputs, Spark local dirs, event logs) lives under
``.perfbench_work/`` in the checkout and is removed on exit; a traced
run leaves its span file in ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class Run:
    """State of one benchmark run: arguments, scratch dirs, the live
    Spark session and the failure ledger."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self._t = time.perf_counter()
        self.env: dict = {
            "workload": workload,
            "seed": seed,
            "trace": int(trace),
            "cpus": len(os.sched_getaffinity(0)),
            "python": platform.python_version(),
            "loadavg_start": os.getloadavg(),
        }

    # -- environment ------------------------------------------------
    def configure(self) -> None:
        """Point every scratch location of Spark, its JVM, DuckDB and
        Python's tempfile into the run's work dir."""
        for sub in ("local", "warehouse", "tmp", "eventlog"):
            os.makedirs(os.path.join(self.work, sub), exist_ok=True)
        os.environ["SPARK_GRAFT_CPUS"] = str(self.env["cpus"])
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(self.work, "warehouse")
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}"
        os.environ["PYSPARK_PYTHON"] = sys.executable
        if self.trace:
            os.environ["SPARK_GRAFT_EVENTLOG_DIR"] = os.path.join(self.work, "eventlog")
        else:
            os.environ.pop("SPARK_GRAFT_EVENTLOG_DIR", None)
        import tempfile

        tempfile.tempdir = None  # re-read TMPDIR
        if ROOT not in sys.path:
            sys.path.insert(0, ROOT)

    def start_session(self):
        """(Re)start the Spark session; the JVM stays up across restarts."""
        from easy_etl_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(f"perfbench-{self.workload}")
        self.spark.sparkContext.setLogLevel("ERROR")
        sc = self.spark.sparkContext
        self.env.update(
            spark=self.spark.version,
            default_parallelism=sc.defaultParallelism,
            master=sc.master,
            java=sc._jvm.System.getProperty("java.version"),
        )
        return self.spark

    def stop(self) -> None:
        """Stop Spark and wait for the JVM (and with it the Python
        workers) to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        try:
            self.spark.stop()
        finally:  # a JVM that already died still has to be reaped
            self.spark = None
            gw = SparkContext._gateway
            proc = getattr(gw, "proc", None)
            if gw is not None:
                gw.shutdown()
                SparkContext._gateway = None
                SparkContext._jvm = None
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)

    def phase(self, what: str) -> None:
        """Log the wall since the previous phase to stderr."""
        now = time.perf_counter()
        print(f"perfbench: {what} {now - self._t:.1f}s", file=sys.stderr, flush=True)
        self._t = now

    def timed_ops(self, op_s: float) -> int:
        """Passes (cycles) in the timed window: ``--seconds`` worth at
        ``op_s``, the workload's wall of one on a 4-core host.  A fixed
        count, not a deadline, so both sides of a comparison measure the
        same passes of the JIT's warm-up curve; a traced run needs two
        (one traced)."""
        return max(2, round(self.seconds / op_s))

    def trace_file(self) -> str:
        return os.path.join(ROOT, ".perfbench_out", f"trace-{self.workload}-{self.seed}.json")

    # -- outcome ledger ---------------------------------------------
    def outcome(self, what: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{what}: {detail}"[:300])
            print(f"FAIL {what}: {detail}", file=sys.stderr, flush=True)


def _engine_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "easy_etl_spark", "__init__.py")) and os.path.isfile(
        os.path.join(ROOT, "tools", "compare_oracle.py")
    )


def main(argv: list[str] | None = None) -> int:
    from perfbench import catalog, etl

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["etl_upsert", "catalog_pyboundary"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not _engine_present():
        print("engine sources (easy_etl_spark/, tools/) not found next to perfbench/", file=sys.stderr)
        return 2

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    run.configure()
    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        job = etl.Etl(run) if args.workload == "etl_upsert" else catalog.Catalog(run)
        metrics = job.execute()
    finally:
        try:
            run.stop()
        finally:
            shutil.rmtree(run.work, ignore_errors=True)
            parent = os.path.dirname(run.work)
            if os.path.isdir(parent) and not os.listdir(parent):
                os.rmdir(parent)
    run.env["loadavg_end"] = os.getloadavg()
    run.env["failures"] = run.failures
    print(json.dumps({"env": run.env}))
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    t0 = time.time()
    code = main()
    print(f"perfbench: {time.time() - t0:.1f}s", file=sys.stderr)
    sys.exit(code)
