"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on
DuckDB over the same parquet tables, then compares row count, sorted
column names, and an order-insensitive value multiset (with a small
float tolerance report so IEEE noise is visible before it becomes a
hash mismatch).

Usage: python tools/compare_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from easy_etl_spark.session import (
    TABLES,
    get_spark,
    register_views,
    reclaim_blocks,
    release_caches,
    table_path,
)


def norm_value(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # normalize -0.0 / int-valued floats
        if v == int(v) and abs(v) < 1e15:
            return repr(float(v))
        return repr(v)
    return repr(v)


def frame_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(norm_value(r[i]) for i in order) for r in rows)
    return [cols[i] for i in order], out


def _type_class(duck_type: str) -> str:
    """Collapse a DuckDB column type to a comparable class so silent
    coercion (e.g. VARCHAR vs BIGINT) is flagged without false-failing
    on legitimate width differences (INT vs BIGINT, DECIMAL scales)."""
    t = duck_type.upper()
    if t.endswith("[]") or t.startswith(("STRUCT", "MAP", "LIST", "UNION")):
        return "nested"
    if t.startswith("DECIMAL"):
        return "decimal"
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return "integer"
    if t in ("FLOAT", "REAL", "DOUBLE"):
        return "float"
    if t in ("VARCHAR", "TEXT", "STRING", "CHAR", "BPCHAR"):
        return "string"
    if t == "BOOLEAN":
        return "bool"
    if t == "DATE":
        return "date"
    if t.startswith(("TIMESTAMP", "TIME")):
        return "timestamp"
    if t in ("BLOB", "BYTEA", "BINARY", "VARBINARY"):
        return "binary"
    return t


def compare_via_parquet(con, spark, name, sdf, oracle, scratch):
    """Bounded-memory compare for full-row-output queries: Spark writes
    its result to parquet, DuckDB materializes the oracle ONCE into a
    temp table, and the order-insensitive multiset check is two
    EXCEPT ALL passes — nothing ever round-trips through a Python list.
    Strictness matches the collect path: doubles must be bit-identical
    INCLUDING sign of zero (DuckDB's EXCEPT ALL treats -0.0 == 0.0, so
    float/double columns get a shadow ``signbit(c)`` comparator column;
    set ops treat NULL=NULL and NaN=NaN, like the repr multiset).
    Column TYPES are also checked (by class), not just names — DuckDB
    implicit coercion would otherwise mask type drift.
    """
    t0 = time.time()
    out = os.path.join(scratch, f"spark_out_{name}")
    sdf.write.mode("overwrite").parquet(out)
    con.execute(
        f"CREATE OR REPLACE VIEW __spark_out AS SELECT * FROM '{out}/*.parquet'"
    )
    con.execute(f"CREATE OR REPLACE TEMP TABLE __oracle AS {oracle}")
    odesc = {r[0]: r[1] for r in con.execute("DESCRIBE __oracle").fetchall()}
    sdesc = {r[0]: r[1] for r in con.execute("DESCRIBE __spark_out").fetchall()}
    ocols = list(odesc)
    scols = sdf.columns
    if sorted(scols) != sorted(ocols):
        print(f"FAIL {name}: columns spark={sorted(scols)} oracle={sorted(ocols)}")
        return False
    tmis = [
        (c, sdesc[c], odesc[c])
        for c in sorted(scols)
        if _type_class(sdesc[c]) != _type_class(odesc[c])
    ]
    if tmis:
        print(f"FAIL {name}: column type-class mismatch: {tmis}")
        return False
    sel_parts = []
    for c in sorted(scols):
        sel_parts.append(f'"{c}"')
        if _type_class(sdesc[c]) == "float":
            # -0.0 vs 0.0 strictness: EXCEPT ALL sees them equal, the
            # repr-multiset path does not — compare the sign bit too
            sel_parts.append(f'CASE WHEN "{c}" = 0 THEN signbit("{c}") END')
    sel = ", ".join(sel_parts)
    n_s = con.execute("SELECT count(*) FROM __spark_out").fetchone()[0]
    n_o = con.execute("SELECT count(*) FROM __oracle").fetchone()[0]
    if n_s != n_o:
        print(f"FAIL {name}: rowcount spark={n_s} oracle={n_o}")
        return False
    diff = con.execute(
        f"SELECT count(*) FROM ("
        f"(SELECT {sel} FROM __spark_out EXCEPT ALL SELECT {sel} FROM __oracle)"
        f" UNION ALL "
        f"(SELECT {sel} FROM __oracle EXCEPT ALL SELECT {sel} FROM __spark_out))"
    ).fetchone()[0]
    if diff:
        print(f"FAIL {name}: {diff} multiset-differing rows of {n_s}")
        return False
    print(f"OK   {name} ({n_s} rows via parquet, {time.time()-t0:.1f}s)")
    return True


def main():
    argv = [a for a in sys.argv[1:] if a != "--via-parquet"]
    via_parquet = "--via-parquet" in sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import __spark_entry__ as entrymod

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()

    spark = get_spark("oracle-compare")
    register_views(spark, sf_dir)

    con = duckdb.connect()
    # per-process spill dir: concurrent sweep streams sharing the
    # cwd-relative default (".tmp/duckdb_temp_storage-*") corrupt each
    # other's spill files once an oracle is big enough to spill.
    # SPARK_GRAFT_ORACLE_TMP lets an orchestrator own the dir so it can
    # reap it even when this process is SIGKILLed mid-spill (a timed-out
    # sf2.5 corpus replay leaks ~30 GB otherwise).
    env_tmp = os.environ.get("SPARK_GRAFT_ORACLE_TMP")
    tmp = env_tmp or tempfile.mkdtemp(prefix="duckdb_oracle_")
    os.makedirs(tmp, exist_ok=True)
    con.execute(f"SET temp_directory='{tmp}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_path(sf_dir, t)}'")

    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        if via_parquet and oracles.get(name) is not None:
            try:
                ok = compare_via_parquet(con, spark, name, fn(spark, sf_dir), oracles[name], tmp)
            except Exception as e:
                print(f"FAIL {name}: {e}")
                ok = False
            finally:
                release_caches()
                reclaim_blocks(spark)
            if not ok:
                failures.append(name)
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            # NOTE: collects the query's full result to the driver — this
            # is a TEST tool for sf<=0.01; add a LIMIT guard before
            # pointing it at larger scale factors.
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        finally:
            release_caches()  # operator-internal caches: no cross-query leak
            reclaim_blocks(spark)
        oracle = oracles.get(name)
        if oracle is None:
            print(f"SKIP {name}: rows-only ({len(srows)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            res = con.execute(oracle)
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            continue
        ok = True
        if len(srows) != len(orows):
            print(f"FAIL {name}: rowcount spark={len(srows)} oracle={len(orows)}")
            ok = False
        sc, sm = frame_multiset(scols, srows)
        oc, om = frame_multiset(ocols, orows)
        if sc != oc:
            print(f"FAIL {name}: columns spark={sc} oracle={oc}")
            ok = False
        elif ok and sm != om:
            diff = [(a, b) for a, b in zip(sm, om) if a != b]
            print(f"FAIL {name}: {len(diff)} differing rows; first: spark={diff[0][0]} oracle={diff[0][1]}")
            ok = False
        if ok:
            print(f"OK   {name} ({len(srows)} rows, {time.time()-t0:.1f}s)")
        else:
            failures.append(name)
    print("\n==", "ALL OK" if not failures else f"FAILURES: {failures}")
    # only reap a dir WE created: when SPARK_GRAFT_ORACLE_TMP points at a
    # caller-owned (possibly shared) dir, cleanup belongs to the
    # orchestrator — rmtree'ing it here would delete unrelated files
    if not env_tmp:
        shutil.rmtree(tmp, ignore_errors=True)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
