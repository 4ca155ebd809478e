"""Round-10 regression gates for the ADVICE items.

* compare_via_parquet must flag a -0.0 vs 0.0 divergence (DuckDB's
  EXCEPT ALL treats them equal; the collect/repr path flags them — the
  parquet path now carries a signbit shadow column).
* compare_via_parquet must flag a silent type coercion (VARCHAR oracle
  vs BIGINT spark) even when the rendered values would match.
* compare_oracle must NOT rmtree a caller-owned SPARK_GRAFT_ORACLE_TMP.
* range_join_binned's probe/count disambiguation uses an explicit
  marker column, so a NULL user_id span group survives to the output.
"""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile

import duckdb
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

import compare_oracle as co


@pytest.fixture()
def duck():
    con = duckdb.connect()
    yield con
    con.close()


def test_parquet_compare_flags_negative_zero(spark, duck, tmp_path, capsys):
    sdf = spark.createDataFrame([(1, -0.0)], "id int, v double")
    ok = co.compare_via_parquet(
        duck, spark, "negzero", sdf, "SELECT 1 AS id, 0.0::DOUBLE AS v", str(tmp_path)
    )
    assert not ok
    assert "multiset-differing" in capsys.readouterr().out


def test_parquet_compare_passes_identical_zero(spark, duck, tmp_path):
    sdf = spark.createDataFrame([(1, 0.0), (2, -0.0)], "id int, v double")
    ok = co.compare_via_parquet(
        duck,
        spark,
        "zeros",
        sdf,
        "SELECT 1 AS id, 0.0::DOUBLE AS v UNION ALL SELECT 2, -0.0::DOUBLE",
        str(tmp_path),
    )
    assert ok


def test_parquet_compare_flags_type_coercion(spark, duck, tmp_path, capsys):
    # values render identically ('1'), types differ: VARCHAR vs BIGINT
    sdf = spark.createDataFrame([(1,)], "v long")
    ok = co.compare_via_parquet(
        duck, spark, "typedrift", sdf, "SELECT '1' AS v", str(tmp_path)
    )
    assert not ok
    assert "type-class mismatch" in capsys.readouterr().out


def test_parquet_compare_allows_width_difference(spark, duck, tmp_path):
    # INT spark vs BIGINT oracle is the same class — must still pass
    sdf = spark.createDataFrame([(7,)], "v int")
    ok = co.compare_via_parquet(
        duck, spark, "width", sdf, "SELECT 7::BIGINT AS v", str(tmp_path)
    )
    assert ok


def test_env_owned_oracle_tmp_survives_clean_exit():
    owned = tempfile.mkdtemp(prefix="caller_owned_")
    canary = os.path.join(owned, "unrelated.txt")
    with open(canary, "w") as f:
        f.write("do not delete")
    env = dict(os.environ, SPARK_GRAFT_ORACLE_TMP=owned, SPARK_GRAFT_CPUS="4")
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "tools", "compare_oracle.py"),
            "/root/testdata/sf0.001",
            "scalar_functions",
        ],
        capture_output=True,
        text=True,
        env=env,
        cwd=REPO,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
    assert os.path.exists(canary), "caller-owned SPARK_GRAFT_ORACLE_TMP was deleted"
    import shutil

    shutil.rmtree(owned)


def test_bench_drift_guard_retries_once_and_labels_window(monkeypatch):
    """bench.py's host-drift guard (round 11: controls BRACKET the
    section): a degraded control pair — either control over the limit,
    or leading/trailing disagreeing >1.5x — triggers exactly one section
    re-run; the better attempt wins; the window label and both attempts'
    control pairs land in the payload (VERDICT r9 item 1 + r10 item 1)."""
    import bench

    calls = []

    def fake_spawn(controls):
        it = iter(controls)

        def spawn(section, sf_dir):
            c_start, c_end = next(it)
            calls.append(section)
            return {
                "section": section,
                "control_q1": c_start,
                "control_q1_end": c_end,
                "total": 10.0 + (c_start or 0),
                "queries": {"q1_pricing_summary": c_start or 0},
            }

        return spawn

    monkeypatch.setenv("SPARK_GRAFT_CONTROL_REF", "1.0")

    # ok window (both controls under limit, agreeing): no retry
    calls.clear()
    r = bench.spawn_with_drift_guard("v1", "/x", spawn=fake_spawn([(1.2, 1.1)]))
    assert r["host_window"] == "ok" and len(calls) == 1
    assert r["control_attempts"] == [[1.2, 1.1]] and r["control_ref"] == 1.0

    # degraded then ok: one retry, second attempt kept, labeled ok
    calls.clear()
    r = bench.spawn_with_drift_guard(
        "v1", "/x", spawn=fake_spawn([(2.0, 0.9), (0.9, 1.0)])
    )
    assert len(calls) == 2
    assert r["control_q1"] == 0.9 and r["host_window"] == "ok"
    assert r["control_attempts"] == [[2.0, 0.9], [0.9, 1.0]]

    # NEW round 11: leading control ok but TRAILING control degraded
    # (contention arrived mid-section — the r10 sequence_packing case):
    # must retry even though the leading control alone looked fine
    calls.clear()
    r = bench.spawn_with_drift_guard(
        "v1", "/x", spawn=fake_spawn([(0.9, 2.4), (1.0, 1.1)])
    )
    assert len(calls) == 2 and r["host_window"] == "ok"
    assert r["control_attempts"] == [[0.9, 2.4], [1.0, 1.1]]

    # NEW round 11: both controls under the absolute limit but
    # disagreeing >1.5x -> degraded, retried
    calls.clear()
    r = bench.spawn_with_drift_guard(
        "v1", "/x", spawn=fake_spawn([(0.8, 1.4), (1.0, 1.0)])
    )
    assert len(calls) == 2 and r["host_window"] == "ok"

    # degraded twice: only ONE retry, labeled degraded honestly
    calls.clear()
    r = bench.spawn_with_drift_guard(
        "v1", "/x", spawn=fake_spawn([(2.0, 2.0), (1.8, 1.9)])
    )
    assert len(calls) == 2 and r["host_window"] == "degraded"
    assert r["control_q1"] == 1.8

    # control missing (section error): unknown, no retry
    calls.clear()
    r = bench.spawn_with_drift_guard("v1", "/x", spawn=fake_spawn([(None, None)]))
    assert len(calls) == 1 and r["host_window"] == "unknown"


def test_bench_history_flags_inflated_queries(monkeypatch):
    """Round 11: a query reading >2x its cross-round floor inside an
    ok-labeled window (the exact r10 sequence_packing failure: 2.93 s
    recorded vs 1.48 s idle truth, window 'ok') triggers one re-run and
    the flag is recorded in the payload either way."""
    import bench

    history = {"sequence_packing": 1.48, "q1_pricing_summary": 0.85}

    calls = []

    def fake_spawn(payloads):
        it = iter(payloads)

        def spawn(section, sf_dir):
            calls.append(section)
            return dict(next(it))

        return spawn

    monkeypatch.setenv("SPARK_GRAFT_CONTROL_REF", "1.0")
    good = {
        "control_q1": 0.9,
        "control_q1_end": 0.95,
        "total": 2.4,
        "queries": {"sequence_packing": 1.5, "q1_pricing_summary": 0.9},
    }
    bad = {
        "control_q1": 0.9,
        "control_q1_end": 0.95,
        "total": 3.9,
        "queries": {"sequence_packing": 2.93, "q1_pricing_summary": 0.9},
    }

    # inflated query in an ok window: retried once, clean attempt wins
    r = bench.spawn_with_drift_guard(
        "v1", "/x", spawn=fake_spawn([bad, good]), history=history
    )
    assert len(calls) == 2
    assert r["history_flagged"] == [] and r["queries"]["sequence_packing"] == 1.5

    # inflated in BOTH attempts: flag survives into the payload so the
    # artifact self-labels instead of recording a silent 2x reading
    calls.clear()
    r = bench.spawn_with_drift_guard(
        "v1", "/x", spawn=fake_spawn([bad, dict(bad)]), history=history
    )
    assert len(calls) == 2
    assert r["history_flagged"] == ["sequence_packing"]

    # clean run: no retry, no flags
    calls.clear()
    r = bench.spawn_with_drift_guard(
        "v1", "/x", spawn=fake_spawn([good]), history=history
    )
    assert len(calls) == 1 and r["history_flagged"] == []


def test_bench_load_history_takes_min_across_rounds(tmp_path):
    """load_history floors = min across artifacts; sf1-rung sections are
    excluded (their times are not sf0.1 floors)."""
    import json as _json

    import bench

    a = tmp_path / "BENCH_r01.json"
    a.write_text(_json.dumps({"queries": {"q1": 2.64, "knn_ivf": 2.68}}))
    b = tmp_path / "BENCH_DETAIL.json"
    b.write_text(
        _json.dumps(
            {
                "sections": {
                    "v1": {"sf_dir": "/x/sf0.1", "queries": {"q1": 0.85, "knn_ivf": 2.9}},
                    "sf1": {
                        "sf_dir": "/x/testdata_sf1",
                        "queries": {"q1": 0.1},  # must NOT lower the floor
                    },
                }
            }
        )
    )
    floors = bench.load_history([str(a), str(b)])
    assert floors["q1"] == 0.85
    assert floors["knn_ivf"] == 2.68


def test_bench_load_history_default_is_detail_file():
    """With no paths, the floors come from BENCH_DETAIL.json alone."""
    import bench

    floors = bench.load_history()
    assert floors and floors == bench.load_history([bench.DETAIL_PATH])


def test_chaos_retry_hash_identical_under_task_failures():
    """Forced task failures + retries (local[N,4]) must not change any
    output bit: the round-5 double-evaluation class (driver-collected
    boundary metadata vs re-evaluated partitions) is exactly what task
    retry resurfaces. Own subprocess — the retry budget is a master-URL
    property fixed at session build."""
    import json

    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "tools", "chaos_retry.py"),
            "/root/testdata/sf0.001",
            "range_join_binned",
            "kcore_hindex",
        ],
        capture_output=True,
        text=True,
        cwd=REPO,
        env=dict(os.environ, SPARK_GRAFT_CPUS="8"),
        timeout=900,
    )
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-2000:]
    lines = [json.loads(l) for l in proc.stdout.splitlines() if l.startswith("{")]
    per_query = [l for l in lines if "query" in l]
    assert len(per_query) == 2
    for r in per_query:
        assert r["ok"], r
        assert r["chaos"]["injected_failures"] > 0, r


def test_spill_gate_flags_superlinear_growth(tmp_path):
    """spill_report's gate: shuffle/spill growing faster than slack x
    data-ratio fails; proportional growth and sub-GiB noise pass."""
    import spill_report as sr

    def ledger(path, shuffle, spill):
        with open(path, "w") as f:
            json.dump(
                {
                    "results": {
                        "q": {
                            "query": "q",
                            "shuffle_write_bytes": shuffle,
                            "memory_bytes_spilled": spill,
                            "disk_bytes_spilled": 0,
                        }
                    }
                },
                f,
            )

    import json

    small, big = str(tmp_path / "s.json"), str(tmp_path / "b.json")
    GIB = 1 << 30

    # proportional growth at ratio 2: OK
    ledger(small, 10 * GIB, 0)
    ledger(big, 20 * GIB, 0)
    assert sr.gate(small, big, ratio=2.0, slack=2.0) == 0

    # 10x shuffle growth at ratio 2 (allowed 4x): FAIL
    ledger(big, 100 * GIB, 0)
    assert sr.gate(small, big, ratio=2.0, slack=2.0) == 1

    # spill appearing from nothing above the 1 GiB floor: FAIL
    ledger(small, 10 * GIB, 0)
    ledger(big, 20 * GIB, 2 * GIB)
    assert sr.gate(small, big, ratio=2.0, slack=2.0) == 1

    # sub-floor spill is noise: OK
    ledger(big, 20 * GIB, GIB // 2)
    assert sr.gate(small, big, ratio=2.0, slack=2.0) == 0


def test_spill_report_run_mode_collects_task_metrics():
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "tools", "spill_report.py"),
            "run",
            "/root/testdata/sf0.001",
            "q1_pricing_summary",
        ],
        capture_output=True,
        text=True,
        cwd=REPO,
        env=dict(os.environ, SPARK_GRAFT_CPUS="8"),
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    import json

    line = [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
    rec = json.loads(line)
    assert rec["tasks"] > 0
    assert rec["input_bytes"] > 0
    assert rec["peak_execution_memory"] > 0


def test_dec_avg_half_tie_is_engine_portable(spark, duck):
    """The sf5 sweep caught unigram_logprob doc 658: quantized mean
    -73096.5/1e4 — an EXACT decimal half-tie where Spark's round()
    (HALF_UP) says -7.3097 and DuckDB's double round says -7.3096.
    dec_avg/sql_avg now quantize the display in integer space
    (floor(x·10^d + 0.5) evaluated on integers), so both engines must
    produce the identical value on the exact tie."""
    from pyspark.sql import functions as F

    from easy_etl_spark.functions.exact import dec_avg, sql_avg

    # two rows whose 1e-6-unit sum is -153502650 over n=21... simpler:
    # values v with sum q(v*1e6) = -1465, n=2 -> mean*1e4 = -73.25 ->
    # no tie; construct a real tie: S=-1050, n=1 -> S + 50 = -1000,
    # D=100 -> q=-10 -> -0.0010? mean*1e4 = -10.5 -> floor(-10.5+.5)=-10
    cases = [
        ([-0.00105], -0.001),       # -10.5 -> -10 (half toward +inf)
        ([0.00105], 0.0011),        # +10.5 -> 11
        ([-0.00115], -0.0011),      # -11.5 -> -11
        ([-7.30965] * 21, -7.3096), # the doc-658 shape
        ([1.5, 2.5], 2.0),          # plain mean, no tie at 1e-4
    ]
    for vals, expected in cases:
        df = spark.createDataFrame([(v,) for v in vals], "v double")
        got = df.agg(dec_avg("v", ndigits=4, scale=6).alias("a")).collect()[0]["a"]
        assert got == expected, f"{vals}: spark {got} != {expected}"
        vals_sql = " UNION ALL ".join(f"SELECT {v!r}::DOUBLE AS v" for v in vals)
        o = duck.execute(
            f"SELECT {sql_avg('v', ndigits=4, scale=6)} FROM ({vals_sql})"
        ).fetchone()[0]
        assert o == expected, f"{vals}: duckdb {o} != {expected}"


def test_range_join_binned_keeps_null_user_group(spark, tmp_path):
    """A span group with NULL user_id must not be silently dropped now
    that probe rows are marked explicitly instead of via user_id IS NULL."""
    import pandas as pd

    from easy_etl_spark.catalog import events as w35

    ev = pd.DataFrame(
        {
            "event_id": [1, 2, 3, 4],
            "user_id": pd.array([None, None, 5, 5], dtype="Int64"),
            "event_type": ["view", "error", "view", "view"],
            "ts": pd.to_datetime(
                [
                    "2024-01-01 10:00:00",
                    "2024-01-01 10:10:00",
                    "2024-01-01 10:05:00",
                    "2024-01-01 11:00:00",
                ]
            ),
            "amount": [1.0, 2.0, 3.0, 4.0],
        }
    )
    d = str(tmp_path / "rung")
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(ev).write.mode("overwrite").parquet(
        os.path.join(d, "events.parquet")
    )
    out = w35.range_join_binned(spark, d).collect()
    by_user = {r["user_id"]: r["n_incidents"] for r in out}
    assert None in by_user, f"NULL user group dropped: {sorted(by_user)}"
    # NULL-user span 10:00-10:10 overlaps the 10:10-10:40 error window?
    # strict overlap: i_start < s_end is 10:10 < 10:10 = False -> 0
    assert by_user[None] == 0
    # user 5 span 10:05-11:00 overlaps incident (10:10, 10:40) -> 1
    assert by_user[5] == 1
