"""Self-test of the benchmark itself (not of the engine).

    python3 perfbench/selftest.py

Runs every workload of ``BENCHMARK.json`` at a tiny size (catalog at
sf0.001, ETL on a 2k-row table, two timed passes or cycles),
untraced and traced, and asserts that each run is correct and emits
exactly the end-to-end (untraced) or per-layer (traced) metrics named
in ``BENCHMARK.json``, each with its unit.  Then it corrupts one
output of each workload and asserts that the run counts it as failed.
Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import catalog, etl  # noqa: E402
from perfbench.run import Run  # noqa: E402

TINY_ETL = dict(n_base=2_000, n_batch=100, n_events0=200, n_events=20)


def tiny_run(workload: str, trace: bool, corrupt: bool = False) -> tuple[Run, dict]:
    run = Run(workload, seed=7, seconds=0, trace=trace)
    run.configure()
    try:
        if workload == "etl_upsert":
            job = etl.Etl(run, **TINY_ETL)
            if corrupt:
                job.cycle = _drop_target_row(job, job.cycle)
        else:
            job = catalog.Catalog(run, sf=0.001)
            if corrupt:
                job.check = _drop_output_row(job.check)
        metrics = job.execute()
    finally:
        run.stop()
        shutil.rmtree(run.work, ignore_errors=True)
    return run, metrics


def _drop_target_row(job, cycle):
    """After the first cycle, delete one row of the target table."""

    def corrupted(c):
        out = cycle(c)
        if c == 0:
            job.target.delete_where("l_key = 0")
        return out

    return corrupted


def _drop_output_row(check):
    """Check the first query's output with one row removed."""
    state = {"done": False}

    def corrupted(name, df):
        if not state["done"]:
            state["done"] = True
            df = df.limit(max(df.count() - 1, 0))
        return check(name, df)

    return corrupted


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    want = {
        False: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        True: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    problems = []
    for w in [x["name"] for x in spec["workloads"]]:
        found = []
        for trace in (False, True):
            run, metrics = tiny_run(w, trace)
            got = {k: v["unit"] for k, v in metrics.items()}
            if got != want[trace]:
                found.append(f"{w} trace={int(trace)}: metrics {sorted(got.items())} "
                             f"!= {sorted(want[trace].items())}")
            if run.failed or not run.attempted:
                found.append(f"{w} trace={int(trace)}: {run.failed}/{run.attempted} failed: "
                             f"{run.failures}")
            bad = [k for k, v in metrics.items() if not isinstance(v["value"], float)]
            if bad:
                found.append(f"{w}: non-numeric values {bad}")
        run, _ = tiny_run(w, False, corrupt=True)
        if run.failed == 0:
            found.append(f"{w}: a corrupted output was not counted as failed")
        print(f"selftest: {w}", "ok" if not found else "FAILED", flush=True)
        problems += found
    for p in problems:
        print("FAIL", p)
    print("selftest:", "FAILED" if problems else "all checks passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
