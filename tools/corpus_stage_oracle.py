"""Stage-wise, parquet-mediated DuckDB oracle for corpus_build_report
(round 11, VERDICT r10 item 5).

The registered monolithic oracle (catalog/dedup.py) replays the whole
corpus pipeline as ONE recursive CTE tree. At sf5 that query needs
>90 GB of DuckDB spill (it filled the disk twice in round 10): every
CTE — shingles, the quadratic shingle self-join, the pair-count hash
table, the gram/benchmark join — is in flight at once. This tool
replays the SAME per-stage SQL, stage by stage, each stage in a FRESH
DuckDB connection that reads the previous stage's parquet output and
writes its own, so at most one stage's working set occupies memory/
spill at a time.

The one stage that is irreducibly quadratic — pair-counting the
shingle self-join — is additionally chunked BY PAIR OWNER: chunk k
joins only shingle rows whose left doc_id satisfies
``doc_id % K = k`` against the full shingle table. Because the
pair-count group key (id_a, id_b) is a function of id_a, every chunk
sees ALL shingle matches for its pairs, so the Jaccard threshold can
be applied INSIDE the chunk and only surviving pairs (a handful) are
ever written — the 10^9-row intermediate pair table never exists on
disk. This is an exact partition of the monolithic GROUP BY, not an
approximation.

Semantics are bit-identical to the registered oracle: every stage
lifts its CTE verbatim (same trigram construction, same NULL-shingle
behavior for short docs, same md5 split). The ``check`` mode proves it
by running the monolithic oracle side by side at a small rung.

Usage:
  python tools/corpus_stage_oracle.py run SF_DIR [--workdir DIR]
      [--pair-chunks K] [--memory-limit 24GB] [--out LEDGER.json]
      [--skip-engine]          # oracle only, no Spark comparison
  python tools/corpus_stage_oracle.py check SF_DIR   # vs monolithic oracle
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BUDGET_PER_SOURCE = 5000  # catalog.dedup.BUDGET_PER_SOURCE

# ---- per-stage SQL (each fragment lifted verbatim from the registered
# ---- monolithic oracle in catalog/dedup.py, re-rooted on parquet) ----

TOKS = "string_split(trim(text), ' ')"


def _connect(memory_limit: str | None, tmp: str):
    import duckdb

    con = duckdb.connect()
    con.execute(f"PRAGMA temp_directory='{tmp}'")
    if memory_limit:
        con.execute(f"PRAGMA memory_limit='{memory_limit}'")
    threads = os.environ.get("CORPUS_ORACLE_THREADS")
    if threads:
        con.execute(f"PRAGMA threads={int(threads)}")
    return con


def _stage(ledger: dict, name: str):
    class _Timer:
        def __enter__(self):
            self.t0 = time.time()
            return self

        def __exit__(self, *exc):
            ledger.setdefault("stages", {})[name] = {
                "secs": round(time.time() - self.t0, 1),
                "ok": exc[0] is None,
            }
            print(f"stage {name}: {ledger['stages'][name]}", flush=True)
            return False

    return _Timer()


def run_stages(
    sf_dir: str,
    workdir: str,
    pair_chunks: int,
    memory_limit: str | None,
    ledger: dict,
) -> list[tuple]:
    """Replay every stage into parquet under workdir; return the final
    5-row census [(stage_ord, stage, n_docs, n_tokens), ...]."""
    docs = os.path.join(sf_dir, "documents.parquet")
    p = lambda name: os.path.join(workdir, name)  # noqa: E731

    def fresh(stage_name: str):
        tmp = p(f"spill_{stage_name}")
        os.makedirs(tmp, exist_ok=True)
        return _connect(memory_limit, tmp)

    # -- stage meta: tokenized census columns, quality, exact-dup key --
    with _stage(ledger, "meta"):
        con = fresh("meta")
        con.execute(
            f"""
            COPY (
              WITH t AS (SELECT doc_id, source, text, {TOKS} AS toks
                         FROM '{docs}')
              SELECT doc_id, source, CAST(len(toks) AS BIGINT) AS n_tok,
                     round(least(len(toks) / 100.0, 1.0)
                           * (1 - len(list_filter(toks, x -> x IN ('the','a'))) * 1.0
                              / len(toks)), 4) AS quality,
                     md5(lower(trim(text))) AS text_md5
              FROM t
            ) TO '{p("meta.parquet")}' (FORMAT PARQUET)
            """
        )
        con.close()

    # -- stage g2: quality gate + exact-dedup survivors --
    with _stage(ledger, "g2"):
        con = fresh("g2")
        con.execute(
            f"""
            COPY (
              WITH good AS (SELECT doc_id, text_md5 FROM '{p("meta.parquet")}'
                            WHERE quality >= 0.5),
              ex AS (SELECT min(doc_id) AS doc_id FROM good GROUP BY text_md5)
              SELECT good.doc_id FROM good JOIN ex USING (doc_id)
            ) TO '{p("g2_ids.parquet")}' (FORMAT PARQUET)
            """
        )
        con.close()

    # -- stage shingles: distinct trigrams of the g2 survivors + sizes.
    # generate_series is INCLUSIVE and greatest(len-2,1) keeps one row
    # for short docs whose trigram is NULL ('a'||' '||NULL) — sizes
    # must count that row, exactly as the monolithic oracle does. --
    with _stage(ledger, "shingles"):
        con = fresh("shingles")
        con.execute(
            f"""
            COPY (
              WITH t AS (SELECT doc_id, {TOKS} AS toks FROM '{docs}'
                         WHERE doc_id IN (SELECT doc_id FROM '{p("g2_ids.parquet")}'))
              SELECT DISTINCT doc_id,
                     toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS s
              FROM t, UNNEST(generate_series(1, greatest(len(toks)-2, 1))) AS gg(i)
            ) TO '{p("sh.parquet")}' (FORMAT PARQUET)
            """
        )
        con.execute(
            f"""
            COPY (
              SELECT doc_id, count(*) AS n FROM '{p("sh.parquet")}' GROUP BY 1
            ) TO '{p("sizes.parquet")}' (FORMAT PARQUET)
            """
        )
        con.close()

    # -- stage pairs: the quadratic self-join, chunked by pair owner.
    # Chunk k counts shared shingles ONLY for pairs whose id_a % K = k;
    # (id_a, id_b) groups are complete within their chunk, so the
    # Jaccard >= 0.8 filter runs inside the chunk and only surviving
    # pairs are written. Exact partition of the monolithic GROUP BY. --
    with _stage(ledger, "pairs"):
        chunk_files = []
        for k in range(pair_chunks):
            con = fresh(f"pairs_{k}")
            out_k = p(f"pairs_chunk_{k}.parquet")
            con.execute(
                f"""
                COPY (
                  WITH inter AS (
                    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
                    FROM (SELECT doc_id, s FROM '{p("sh.parquet")}'
                          WHERE doc_id % {pair_chunks} = {k}
                            AND s IS NOT NULL) a
                    JOIN (SELECT doc_id, s FROM '{p("sh.parquet")}'
                          WHERE s IS NOT NULL) b
                      ON a.s = b.s AND a.doc_id < b.doc_id
                    GROUP BY 1, 2
                  )
                  SELECT id_a, id_b FROM inter
                  JOIN '{p("sizes.parquet")}' sa ON sa.doc_id = id_a
                  JOIN '{p("sizes.parquet")}' sb ON sb.doc_id = id_b
                  WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8
                ) TO '{out_k}' (FORMAT PARQUET)
                """
            )
            con.close()
            chunk_files.append(out_k)
            print(f"  pairs chunk {k + 1}/{pair_chunks} done", flush=True)
        con = fresh("pairs_merge")
        con.execute(
            f"""
            COPY (SELECT id_a, id_b FROM read_parquet({chunk_files!r}))
            TO '{p("pairs.parquet")}' (FORMAT PARQUET)
            """
        )
        con.close()
        for f in chunk_files:
            os.remove(f)

    # -- stage curated: connected components over the near-dup pairs
    # (recursive reach on a tiny edge set), survivors = non-minima
    # removed, exactly the monolithic labels/curated CTEs --
    with _stage(ledger, "curated"):
        con = fresh("curated")
        con.execute(
            f"""
            COPY (
              WITH RECURSIVE
              pairs AS (SELECT id_a, id_b FROM '{p("pairs.parquet")}'),
              edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                        UNION SELECT id_b, id_a FROM pairs),
              reach AS (SELECT src AS node, src AS m FROM edges
                        UNION SELECT r.node, e.dst FROM reach r JOIN edges e ON r.m = e.src),
              labels AS (SELECT node, min(m) AS cluster_id FROM reach GROUP BY node)
              SELECT doc_id FROM '{p("g2_ids.parquet")}'
              WHERE doc_id NOT IN (SELECT node FROM labels WHERE node != cluster_id)
            ) TO '{p("curated_ids.parquet")}' (FORMAT PARQUET)
            """
        )
        con.close()

    # -- stage decon: benchmark decontamination. traincands' distinct
    # trigrams and the benchmark slice's distinct trigrams land in
    # parquet once; the membership join streams from parquet with only
    # the (small, saturated) benchmark gram set as the build side --
    with _stage(ledger, "decon"):
        con = fresh("decon")
        con.execute(
            f"""
            COPY (SELECT doc_id FROM '{p("curated_ids.parquet")}'
                  WHERE doc_id % 50 <> 0)
            TO '{p("traincands.parquet")}' (FORMAT PARQUET)
            """
        )
        con.execute(
            f"""
            COPY (
              WITH t AS (SELECT doc_id, {TOKS} AS toks FROM '{docs}'
                         WHERE doc_id IN (SELECT doc_id FROM '{p("traincands.parquet")}'))
              SELECT doc_id,
                     unnest(list_distinct(list_transform(range(1, len(toks) - 1),
                            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS gram
              FROM t
            ) TO '{p("grams.parquet")}' (FORMAT PARQUET)
            """
        )
        con.execute(
            f"""
            COPY (
              WITH t AS (SELECT doc_id, {TOKS} AS toks FROM '{docs}'
                         WHERE doc_id % 50 = 0)
              SELECT DISTINCT
                     unnest(list_distinct(list_transform(range(1, len(toks) - 1),
                            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS gram
              FROM t
            ) TO '{p("bg.parquet")}' (FORMAT PARQUET)
            """
        )
        con.execute(
            f"""
            COPY (
              SELECT doc_id FROM '{p("traincands.parquet")}'
              WHERE doc_id NOT IN (
                SELECT DISTINCT g.doc_id
                FROM '{p("grams.parquet")}' g
                JOIN '{p("bg.parquet")}' bg USING (gram)
              )
            ) TO '{p("decon_ids.parquet")}' (FORMAT PARQUET)
            """
        )
        con.close()

    # -- stage capped + train + census assembly --
    with _stage(ledger, "census"):
        con = fresh("census")
        con.execute(
            f"""
            COPY (
              SELECT doc_id, n_tok FROM (
                SELECT m.source, m.doc_id, m.n_tok,
                       sum(m.n_tok) OVER (
                         PARTITION BY m.source
                         ORDER BY m.n_tok DESC, m.doc_id
                         ROWS UNBOUNDED PRECEDING) AS cum
                FROM '{p("meta.parquet")}' m
                JOIN '{p("decon_ids.parquet")}' USING (doc_id)
              ) WHERE cum <= {BUDGET_PER_SOURCE}
            ) TO '{p("capped.parquet")}' (FORMAT PARQUET)
            """
        )
        rows = con.execute(
            f"""
            WITH train AS (
              SELECT doc_id, n_tok FROM '{p("capped.parquet")}'
              WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 80
            )
            SELECT * FROM (
              SELECT CAST(1 AS BIGINT) AS stage_ord, 'raw' AS stage,
                     count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
              FROM '{p("meta.parquet")}'
              UNION ALL
              SELECT 2, 'curated', count(*), CAST(sum(n_tok) AS BIGINT)
              FROM '{p("meta.parquet")}' JOIN '{p("curated_ids.parquet")}' USING (doc_id)
              UNION ALL
              SELECT 3, 'decontaminated', count(*), CAST(sum(n_tok) AS BIGINT)
              FROM '{p("meta.parquet")}' JOIN '{p("decon_ids.parquet")}' USING (doc_id)
              UNION ALL
              SELECT 4, 'capped', count(*), CAST(sum(n_tok) AS BIGINT)
              FROM '{p("capped.parquet")}'
              UNION ALL
              SELECT 5, 'train_split', count(*), CAST(sum(n_tok) AS BIGINT) FROM train
            ) ORDER BY stage_ord
            """
        ).fetchall()
        con.close()
    return rows


# n_tokens at stage 1/2/3 uses meta.n_tok = len(toks); the monolithic
# oracle recomputes sum(len(toks)) from t — identical by construction.


def _norm(rows) -> list[list]:
    return [[int(r[0]), str(r[1]), int(r[2]), int(r[3]) if r[3] is not None else None] for r in rows]


def engine_rows(sf_dir: str) -> list[list]:
    """The Spark engine's 5-row census (fresh session, collect)."""
    from easy_etl_spark.queries import QUERIES
    from easy_etl_spark.session import get_spark, release_caches

    spark = get_spark("corpus-stage-oracle")
    df = QUERIES["corpus_build_report"](spark, sf_dir).orderBy("stage_ord")
    rows = [[r[0], r[1], r[2], r[3]] for r in df.collect()]
    release_caches()
    return _norm(rows)


def monolithic_rows(sf_dir: str) -> list[list]:
    """The registered single-CTE oracle, as the driver runs it."""
    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql()["corpus_build_report"]
    con = duckdb.connect()
    for t in ("documents",):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf_dir, t)}.parquet'"
        )
    rows = con.execute(f"SELECT * FROM ({sql}) ORDER BY 1").fetchall()
    con.close()
    return _norm(rows)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["run", "check"])
    ap.add_argument("sf_dir")
    ap.add_argument("--workdir", default=None)
    ap.add_argument("--pair-chunks", type=int, default=8)
    ap.add_argument("--memory-limit", default=None, help="per-stage DuckDB memory_limit, e.g. 24GB")
    ap.add_argument("--out", default=None)
    ap.add_argument("--skip-engine", action="store_true")
    args = ap.parse_args()
    sf_dir = os.path.abspath(args.sf_dir)

    workdir = args.workdir or tempfile.mkdtemp(prefix="corpus_stage_")
    own_workdir = args.workdir is None
    os.makedirs(workdir, exist_ok=True)
    ledger: dict = {
        "sf_dir": sf_dir,
        "pair_chunks": args.pair_chunks,
        "memory_limit": args.memory_limit,
    }
    t0 = time.time()
    try:
        rows = _norm(
            run_stages(sf_dir, workdir, args.pair_chunks, args.memory_limit, ledger)
        )
        ledger["census"] = rows
        ledger["total_secs"] = round(time.time() - t0, 1)

        if args.mode == "check":
            mono = monolithic_rows(sf_dir)
            ledger["monolithic"] = mono
            ledger["match_monolithic"] = rows == mono
            print(f"stage-wise:  {rows}")
            print(f"monolithic:  {mono}")
            print(f"MATCH: {ledger['match_monolithic']}")
            ok = ledger["match_monolithic"]
        elif args.skip_engine:
            print(f"stage-wise:  {rows}")
            ok = True
        else:
            eng = engine_rows(sf_dir)
            ledger["engine"] = eng
            ledger["match_engine"] = rows == eng
            print(f"stage-wise oracle: {rows}")
            print(f"spark engine:      {eng}")
            print(f"MATCH: {ledger['match_engine']}")
            ok = ledger["match_engine"]
    finally:
        if own_workdir:
            shutil.rmtree(workdir, ignore_errors=True)
    out = args.out or os.path.join(
        REPO, f"CORPUS_STAGE_ORACLE_{os.path.basename(os.path.normpath(sf_dir))}.json"
    )
    with open(out, "w") as f:
        json.dump(ledger, f, indent=1, sort_keys=True)
    print(f"ledger -> {out}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
