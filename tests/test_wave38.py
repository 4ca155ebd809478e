"""Wave-38 pins: semantic contracts for rendezvous sharding, zone-map
prunability, character entropy, and the encoding advisor (the DuckDB
oracle is the primary gate; these pin the structural guarantees a twin
query can't — the HRW minimal-movement theorem, clustered-vs-random
prunability contrast, entropy extremes on hand-built text, and
encoding-size orderings)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from easy_etl_spark.queries import QUERIES


def test_hrw_minimal_movement_invariant(spark, sf_dir):
    """The rendezvous theorem on real data: growing 16 -> 17 shards
    never moves a doc between two OLD shards (adding a candidate can't
    change the argmax among the incumbents), and the stolen fraction
    is in the right ballpark (~1/17, far below 16/17 = what modulo
    resharding would move)."""
    rows = QUERIES["shard_rendezvous"](spark, sf_dir).collect()
    assert all(r.n_moved_elsewhere == 0 for r in rows)
    n = sum(r.n_docs for r in rows)
    moved = sum(r.n_moved for r in rows)
    assert 0 < moved < n / 4  # E[moved] = n/17; modulo would move ~15n/16
    assert {r.shard for r in rows} <= set(range(16))


def test_hrw_balance(spark, sf_dir):
    """md5 weights spread the corpus: no shard owns more than 4x the
    fair share (a loose bound even at sf0.001's small doc count)."""
    rows = QUERIES["shard_rendezvous"](spark, sf_dir).collect()
    n = sum(r.n_docs for r in rows)
    assert max(r.n_docs for r in rows) <= max(4 * n / 16, 8)


def test_zonemap_clustered_vs_uncorrelated(spark, sf_dir):
    """The audit's whole point: the bucketing key's own zones are
    near-perfectly prunable, while a column uncorrelated with layout
    prunes nothing. Also the closed-form bounds: every bucket overlaps
    at least 1 and at most all bands."""
    rows = {r.column_name: r for r in QUERIES["zonemap_pruning"](spark, sf_dir).collect()}
    assert set(rows) == {"l_orderkey", "l_partkey", "l_shipdate_days"}
    for r in rows.values():
        assert r.n_buckets <= r.n_overlaps <= r.n_buckets * r.n_bands
        assert 0 <= r.prunable_bp <= 10000 - 10000 // r.n_bands
    # perfectly layout-clustered: each bucket overlaps ~bands/buckets + 1
    # bands -> prunable ~= 1 - 1/buckets - 1/bands (4750 bp at the
    # sf0.001 2-bucket rung, 9300+ once buckets outnumber bands)
    ok = rows["l_orderkey"]
    ideal_bp = 10000 - 10000 // ok.n_buckets - 10000 // ok.n_bands
    assert ok.prunable_bp >= ideal_bp - 500
    assert rows["l_shipdate_days"].prunable_bp <= 500
    assert rows["l_shipdate_days"].prunable_bp < ok.prunable_bp


def test_entropy_extremes_match_formula(spark, sf_dir):
    """Hand-built docs pin the integer-entropy math: a single repeated
    character has entropy exactly 0 (band 0); a string of n distinct
    characters has entropy exactly qln(n) DIV 1 micro-nats = ln(n)
    within quantization. Computed through the same registered pipeline
    shape (explode -> counts -> quantized ln), on a temp table."""
    import easy_etl_spark.catalog.text as w38

    docs = spark.createDataFrame(
        [(1, "aaaaaaaaaaaaaaaa", "en", "t", 16), (2, "abcdefghijklmnop", "en", "t", 16)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        docs.write.parquet(os.path.join(td, "documents.parquet"))
        out = {
            r.entropy_band: r
            for r in QUERIES["doc_char_entropy"](spark, td).collect()
        }
    # repeated char: H = 0 -> band 0; 16 distinct: H = ln(16) = 2.77 nats
    # -> 2_772_589 unats -> band 11 at 250k-unat bands
    expected_hi = math.floor(math.log(16) * 1e6 + 0.5) * 16 // 16 // w38.ENT_BAND_UNATS
    assert 0 in out and out[0].n_docs == 1
    assert expected_hi in out and out[expected_hi].n_docs == 1


def test_encoding_advisor_orderings(spark, sf_dir):
    """Size-model sanity on real data: run counts never exceed value
    counts; low-cardinality flag columns compress (dict_bytes <
    plain_bytes) and pick a non-plain encoding; NDV orderings match
    the TPC-H column domains (2 statuses, 3 flags, ~50 quantities,
    many dates)."""
    rows = {r.column_name: r for r in QUERIES["encoding_advisor"](spark, sf_dir).collect()}
    assert set(rows) == {"l_returnflag", "l_linestatus", "l_shipdate", "l_quantity"}
    for r in rows.values():
        assert 1 <= r.n_runs <= r.n_values
        assert r.ndv <= r.n_values
        assert r.plain_bytes >= r.n_values  # every value >= 1 byte
    assert rows["l_linestatus"].ndv == 2
    assert rows["l_returnflag"].ndv == 3
    assert rows["l_linestatus"].ndv <= rows["l_quantity"].ndv <= rows["l_shipdate"].ndv
    for c in ("l_returnflag", "l_linestatus"):
        assert rows[c].dict_bytes < rows[c].plain_bytes
        assert rows[c].best in ("dict", "rle")
    # fixed-width date strings: plain is exactly 10 bytes/value
    assert rows["l_shipdate"].plain_bytes == 10 * rows["l_shipdate"].n_values


def test_encoding_runs_invariant_to_layout(spark, sf_dir):
    """Run counts are defined by the (bucket, key, values) total order,
    not physical partitioning: duplicate (orderkey, linenumber) keys
    exist in the synthetic data, and the window's value-column
    tie-break makes tied rows value-identical, so a reshuffled run
    yields bit-equal output."""
    base = {
        tuple(r) for r in QUERIES["encoding_advisor"](spark, sf_dir).collect()
    }
    again = {
        tuple(r) for r in QUERIES["encoding_advisor"](spark, sf_dir).collect()
    }
    assert base == again
