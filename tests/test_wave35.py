"""Wave-35 pins: independent Python replays and property checks for
the round-5 queries (the DuckDB oracle is the primary gate; these pin
the SEMANTIC contracts — coverage, leakage, determinism — an identical
twin query can't express)."""

from __future__ import annotations

from pyspark.sql import functions as F

from easy_etl_spark.queries import QUERIES
from easy_etl_spark.session import load_table


def test_sliding_chunks_cover_every_token_with_overlap(spark, sf_dir):
    """Every token position must land in >=1 chunk; interior chunk
    starts advance by exactly the stride; the tail is covered."""
    from easy_etl_spark.operators.textops import sliding_chunks

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 30)
    toks = {
        r.doc_id: len(r.text.split(" "))
        for r in docs.select("doc_id", F.trim("text").alias("text")).collect()
    }
    rows = sliding_chunks(docs, window=8, stride=4).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, n in toks.items():
        chunks = sorted(by_doc[doc_id], key=lambda r: r.chunk_idx)
        covered = set()
        for c in chunks:
            assert c.start_tok == c.chunk_idx * 4
            assert 1 <= c.n_tokens <= 8
            covered.update(range(c.start_tok, c.start_tok + c.n_tokens))
        assert covered == set(range(n)), f"doc {doc_id}: gaps in coverage"
        # the last chunk must reach the final token
        last = chunks[-1]
        assert last.start_tok + last.n_tokens == n


def test_feature_matrix_pit_is_leakage_free(spark, sf_dir):
    """Python replay for a handful of customers: every feature must be
    derivable from STRICTLY earlier orders only."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    got = {
        r.o_orderkey: r
        for r in QUERIES["feature_matrix_pit"](spark, sf_dir).collect()
    }
    sample_cust = [r.o_custkey for r in orders.limit(5).collect()]
    hist = (
        orders.filter(F.col("o_custkey").isin(sample_cust))
        .collect()
    )
    by_cust: dict = {}
    for r in hist:
        by_cust.setdefault(r.o_custkey, []).append(r)
    checked = 0
    for cust, rows in by_cust.items():
        rows.sort(key=lambda r: (r.o_orderdate, r.o_orderkey))
        acc_n, acc_cents = 0, 0
        prev_date = None
        for r in rows:
            g = got[r.o_orderkey]
            assert g.n_prior_orders == acc_n
            assert g.prior_rev_cents == acc_cents
            if prev_date is None:
                assert g.days_since_prev is None
            else:
                assert g.days_since_prev == (r.o_orderdate.date() - prev_date).days
            cents = int(r.o_totalprice * 100 + 0.5)
            acc_n += 1
            acc_cents += cents
            prev_date = r.o_orderdate.date()
            checked += 1
    assert checked >= 5


def test_contrastive_negatives_contract(spark, sf_dir):
    """Different-source constraint, <=3 per anchor, and bit-stable
    across invocations (the reproducibility property)."""
    docs = {
        r.doc_id: r.source
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", "source")
        .collect()
    }
    a = sorted(map(tuple, QUERIES["contrastive_negatives"](spark, sf_dir).collect()))
    b = sorted(map(tuple, QUERIES["contrastive_negatives"](spark, sf_dir).collect()))
    assert a == b and a
    per_anchor: dict = {}
    for anchor, neg, rank in a:
        assert docs[anchor] != docs[neg], "negative shares the anchor's source"
        per_anchor.setdefault(anchor, []).append(rank)
    for anchor, ranks in per_anchor.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)) and len(ranks) <= 3


def test_semantic_dedup_kept_set_is_pairwise_distinct(spark, sf_dir):
    """Python replay over the collected quantized vectors: no two KEPT
    vectors in the same cell may be closer than the threshold, and
    every pruned vector must have a kept-or-smaller neighbor under it."""
    from easy_etl_spark.catalog.similarity import _SD_T

    out = {r.vec_id: (r.cell, r.kept) for r in QUERIES["semantic_dedup"](spark, sf_dir).collect()}
    emb = load_table(spark, sf_dir, "embeddings").collect()
    # exact quantize replay (floor(x*1e6 + 0.5))
    import math

    q = {
        r.vec_id: [int(math.floor(float(x) * 1e6 + 0.5)) for x in r.embedding]
        for r in emb
    }
    cells: dict = {}
    for vid, (cell, kept) in out.items():
        cells.setdefault(cell, []).append((vid, kept))
    pruned_justified = 0
    for cell, members in cells.items():
        for i, (va, ka) in enumerate(members):
            for vb, kb in members[i + 1 :]:
                lo, hi = (va, vb) if va < vb else (vb, va)
                d2 = sum((x - y) ** 2 for x, y in zip(q[lo], q[hi]))
                if d2 <= _SD_T:
                    # the larger id of a close pair must be pruned
                    klo = out[lo][1]
                    khi = out[hi][1]
                    assert not (klo and khi), f"close pair both kept: {lo},{hi}"
                    pruned_justified += 1
    assert pruned_justified > 0, "threshold pruned nothing — test is vacuous"


def test_range_join_binned_matches_bruteforce(spark, sf_dir):
    """Brute-force python overlap count over the collected intervals
    must equal the binned rewrite exactly."""
    e = load_table(spark, sf_dir, "events")
    spans = (
        e.groupBy("user_id", F.col("ts").cast("date").cast("string").alias("day"))
        .agg(F.min("ts").alias("s"), F.max("ts").alias("t"))
        .collect()
    )
    import datetime

    incidents = [
        (r.ts, r.ts + datetime.timedelta(minutes=30))
        for r in e.filter(F.col("event_type") == "error").select("ts").collect()
    ]
    want = {}
    for r in spans:
        n = sum(1 for (a, b) in incidents if r.s < b and a < r.t)
        want[(r.user_id, r.day)] = n
    got = {
        (r.user_id, r.day): r.n_incidents
        for r in QUERIES["range_join_binned"](spark, sf_dir).collect()
    }
    assert got == want and any(v == 0 for v in want.values()) and any(
        v > 0 for v in want.values()
    )
