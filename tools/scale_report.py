"""Scaling evidence: time a query set across scale-factor rungs and
print per-query seconds + rung-over-rung ratios.

A query whose runtime grows ~linearly with SF (ratio ≈ rung size
ratio, minus fixed per-query overhead) scales; one whose ratio blows
past the data ratio has a super-linear stage (all-pairs join, driver
collect, single-partition funnel) and is a 100 TB bug regardless of
its absolute sf0.1 time.

Session isolation (round 8, matching bench.py): each rung runs in its
OWN subprocess with a fresh JVM — round 7's single-session sweep let
accumulated GC/shuffle pressure from earlier rungs inflate later-rung
walls 3-8x on heavy queries, so rung-over-rung ratios measured JVM
fatigue, not operators.

Usage: python tools/scale_report.py [dir ...]   (default: sf0.01,
sf0.1 from /root/testdata + the repo's generated testdata_sf1)

Prints one JSON line: {"dirs": [...], "rows": {query: [sec, ...]},
"totals": [...], "ratios": {query: [r1, ...]}} — ratios are
consecutive-rung runtime ratios.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import HEADLINE, HEADLINE_V2  # noqa: E402

DEFAULT_DIRS = [
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
    os.path.join(REPO, "testdata_sf1"),
]

NAMES = HEADLINE + HEADLINE_V2


def _parse_names(argv: list[str]) -> list[str]:
    """--names a,b,c restricts the sweep (family-targeted ladders —
    e.g. the graph family at rungs too big to sweep everything)."""
    if "--names" in argv:
        picked = argv[argv.index("--names") + 1].split(",")
        unknown = [n for n in picked if n not in NAMES]
        if unknown:
            # targeted ladders may name queries outside the headline
            # sets; resolve against the full registry instead
            from easy_etl_spark.queries import QUERIES

            missing = [n for n in picked if n not in QUERIES]
            if missing:
                sys.exit(f"scale_report: unknown queries {missing}")
        return picked
    return NAMES


def run_rung(d: str, names: list[str] | None = None) -> dict[str, float | None]:
    """Fresh-session timing of every query at one rung dir."""
    from easy_etl_spark.queries import QUERIES
    from easy_etl_spark.session import get_spark, release_caches

    names = NAMES if names is None else names
    spark = get_spark("easy-etl-spark-scale-report")
    warm = "/root/testdata/sf0.001"
    warm = warm if os.path.isdir(warm) else d
    for name in names:
        try:
            QUERIES[name](spark, warm).write.mode("overwrite").format("noop").save()
        except Exception:
            pass
    release_caches()

    out: dict[str, float | None] = {}
    for name in names:
        # one query failing at one rung (OOM at the largest SF, a
        # missing optional table) must not discard every timing
        # already collected — record None and keep sweeping
        t0 = time.perf_counter()
        try:
            QUERIES[name](spark, d).write.mode("overwrite").format("noop").save()
            out[name] = round(time.perf_counter() - t0, 3)
        except Exception as e:
            print(f"FAIL {name} @ {d}: {e}", file=sys.stderr)
            out[name] = None
        release_caches()
    return out


def main() -> None:
    names = _parse_names(sys.argv)
    if "--rung" in sys.argv:
        d = sys.argv[sys.argv.index("--rung") + 1]
        print(json.dumps(run_rung(d, names)))
        return

    args = list(sys.argv[1:])
    if "--names" in args:
        i = args.index("--names")
        del args[i : i + 2]
    dirs = [d for d in (args or DEFAULT_DIRS) if os.path.isdir(d)]
    if not dirs:
        sys.exit(
            "scale_report: no rung directory exists — pass parquet dirs as "
            "arguments or generate one with tools/gen_sf.py"
        )
    rows: dict[str, list] = {n: [] for n in names}
    for d in dirs:
        cmd = [sys.executable, os.path.abspath(__file__), "--rung", d]
        if names is not NAMES:
            cmd += ["--names", ",".join(names)]
        proc = subprocess.run(
            cmd,
            capture_output=True,
            text=True,
            timeout=7200,
        )
        # always forward per-query FAIL diagnostics: a query that dies
        # inside a rung leaves the subprocess at rc=0 with its cause
        # only on stderr
        fails = "\n".join(
            l for l in proc.stderr.splitlines() if l.startswith("FAIL")
        )
        if proc.returncode:
            sys.stderr.write(proc.stderr[-2000:])
        elif fails:
            sys.stderr.write(fails + "\n")
        line = ""
        for cand in reversed(proc.stdout.strip().splitlines()):
            if cand.strip().startswith("{"):
                line = cand.strip()
                break
        rung = json.loads(line) if line else {}
        for n in names:
            rows[n].append(rung.get(n))

    ratios = {
        n: [
            round(v[i + 1] / v[i], 2) if v[i] and v[i + 1] else None
            for i in range(len(v) - 1)
        ]
        for n, v in rows.items()
    }
    print(
        json.dumps(
            {
                "dirs": dirs,
                "rows": rows,
                "totals": [
                    round(sum(v[i] for v in rows.values() if v[i] is not None), 3)
                    for i in range(len(dirs))
                ],
                "ratios": ratios,
            }
        )
    )


if __name__ == "__main__":
    main()
