"""Dedup + similarity operator tests: synthetic frames with known
ground truth, plus cross-checks between the exact and approximate
paths on the driver's documents/embeddings tables.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from easy_etl_spark.operators import dedup, similarity
from easy_etl_spark.session import load_table


@pytest.fixture(scope="module")
def docs_small(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),          # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat"),          # near dup of 1
        (4, "completely different text about spark engines here"),
        (5, "the quick brown fox jumps over the lazy dog today"),    # near dup of 1
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_exact(spark, docs_small):
    out = dedup.dedup_exact(docs_small)
    survivors = {r["doc_id"]: r["n_copies"] for r in out.collect()}
    assert survivors[1] == 2          # docs 1+2 collapse, min id survives
    assert out.count() == 4


def test_ngram_jaccard_finds_near_dups(spark, docs_small):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
             dedup.ngram_jaccard_pairs(docs_small, threshold=0.5).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0   # exact dup
    assert (1, 5) in pairs                            # superset doc
    assert all(4 not in p for p in pairs)             # unrelated doc excluded


def test_minhash_lsh_matches_exact_on_real_docs(spark, sf_dir):
    """LSH candidates verified with exact jaccard must equal the
    brute-force jaccard pairs at the same threshold (banding at
    b=16,r=3 has ≥0.9988 per-pair recall at j≥0.7)."""
    docs = load_table(spark, sf_dir, "documents")
    exact = {(r["id_a"], r["id_b"]) for r in
             dedup.ngram_jaccard_pairs(docs, threshold=0.7).collect()}
    lsh = {(r["id_a"], r["id_b"]) for r in
           dedup.minhash_lsh_pairs(docs, threshold=0.7).collect()}
    assert lsh == exact and exact  # non-empty: generator plants dups


def test_simhash_near_dups(spark, docs_small):
    pairs = {(r["id_a"], r["id_b"]) for r in
             dedup.simhash_pairs(docs_small, max_hamming=16).collect()}
    assert (1, 2) in pairs  # identical docs have identical simhash
    sigs = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs_small).collect()}
    assert sigs[1] == sigs[2]


def _incremental(docs, index_dir=None):
    """docs 1-3 are the base corpus, 4-5 the arriving batch."""
    n = F.regexp_extract(F.col("doc_id").cast("string"), r"(\d+)$", 1).cast("int")
    base, new = docs.filter(n <= 3), docs.filter(n > 3)
    if index_dir is None:
        return dedup.incremental_jaccard_dups(base, new, threshold=0.5)
    dedup.write_shingle_index(base, index_dir)
    index = docs.sparkSession.read.parquet(index_dir)
    return dedup.incremental_dups_against_index(index, new, threshold=0.5)


_PAIR_OPS = {
    "ngram_jaccard_pairs": lambda d, _: dedup.ngram_jaccard_pairs(d, threshold=0.5),
    "containment_pairs": lambda d, _: dedup.containment_pairs(d, threshold=0.5),
    "minhash_lsh_pairs": lambda d, _: dedup.minhash_lsh_pairs(d, threshold=0.5),
    "simhash_pairs": lambda d, _: dedup.simhash_pairs(d, max_hamming=16),
    "prefix_filtered_jaccard_pairs": lambda d, _: dedup.prefix_filtered_jaccard_pairs(
        d, threshold_bp=5000
    ),
    "incremental_jaccard_dups": lambda d, _: _incremental(d),
    "incremental_dups_against_index": _incremental,
}


@pytest.mark.parametrize("op", sorted(_PAIR_OPS))
def test_pair_operators_keep_string_ids(spark, docs_small, tmp_path, op):
    """id_col is generic: "d<N>" string ids give the same pairs and
    scores as the long ids N (the ids order the same way)."""
    as_str = docs_small.select(
        F.concat(F.lit("d"), F.col("doc_id").cast("string")).alias("doc_id"), "text"
    )
    run = _PAIR_OPS[op]
    want = {
        (f"d{r[0]}", f"d{r[1]}", *r[2:])
        for r in run(docs_small, str(tmp_path / "long")).collect()
    }
    got = {tuple(r) for r in run(as_str, str(tmp_path / "str")).collect()}
    assert got == want and want


def test_embedding_dup_pairs(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0]),   # near dup of 1
        (3, [0.0, 1.0, 0.0]),      # orthogonal
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {(r["id_a"], r["id_b"]): r["cosine"] for r in
             dedup.embedding_dup_pairs(emb, threshold=0.9).collect()}
    assert set(pairs) == {(1, 2)} and pairs[(1, 2)] > 0.99


def test_embedding_dup_pairs_no_driver_collect(spark, monkeypatch):
    """Scale gate: building the pair plan must not pull the corpus to
    the driver (round-1 did a full .collect() → 100 TB driver OOM)."""
    from pyspark.sql import DataFrame

    def boom(self, *a, **kw):  # pragma: no cover - fails the test if hit
        raise AssertionError("driver-side materialization during plan construction")

    monkeypatch.setattr(DataFrame, "collect", boom)
    monkeypatch.setattr(DataFrame, "toPandas", boom)
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.0]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    df = dedup.embedding_dup_pairs(emb, threshold=0.99)  # lazy build only
    assert df.schema.simpleString() == "struct<id_a:bigint,id_b:bigint,cosine:double>"


def test_embedding_dup_pairs_equi_join_plan(spark):
    """Scale gate: block-pair enumeration must plan as a hash-
    partitionable EQUI-join on the exploded (bl, br) pair key — never
    a BroadcastNestedLoopJoin/CartesianProduct, which would collect
    the packed corpus through the driver (the round-7 sf2.5 rung
    measured that theta-join at 2× the O(n²) compute envelope)."""
    emb = spark.createDataFrame(
        [(i, [float(i % 7), 1.0, 0.0]) for i in range(200)],
        "vec_id long, embedding array<float>",
    )
    df = dedup.embedding_dup_pairs(emb, threshold=0.99, n_blocks=8)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_embedding_dup_pairs_cross_block(spark):
    """Pairs spanning different blocks (id % n_blocks differs) and both
    orientations must each be emitted exactly once, canonicalized."""
    rows = [(i, [1.0, 0.0]) for i in range(10)]  # all identical → all pairs
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = sorted(
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_dup_pairs(emb, threshold=0.9, n_blocks=3).collect()
    )
    want = sorted((a, b) for a in range(10) for b in range(a + 1, 10))
    assert got == want


def test_brute_force_topk_against_numpy(spark, sf_dir):
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter("vec_id < 2")
    out = similarity.brute_force_topk(emb, q, k=5).collect()
    local = {r["vec_id"]: np.array(r["embedding"], dtype="float64") for r in emb.collect()}
    for qid in (0, 1):
        sims = {
            cid: float(v @ local[qid] / (np.linalg.norm(v) * np.linalg.norm(local[qid])))
            for cid, v in local.items() if cid != qid
        }
        expect = sorted(sims, key=lambda c: (-round(sims[c], 6), c))[:5]
        got = [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rnk"]) if r["query_id"] == qid]
        assert got == expect


def test_lsh_neighbors_subset_of_exact_scores(spark, sf_dir):
    """Approximate neighbors must report the same cosine as the exact
    path for the same (query, neighbor) pair."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter("vec_id < 3")
    brute = {(r["query_id"], r["neighbor_id"]): r["cosine"]
             for r in similarity.brute_force_topk(emb, q, k=500).collect()}
    approx = similarity.lsh_bucketed_neighbors(emb, q, k=5).collect()
    assert approx  # buckets are non-degenerate on real data
    for r in approx:
        assert math.isclose(brute[(r["query_id"], r["neighbor_id"])], r["cosine"], abs_tol=1e-9)


def test_duplicate_clusters_chain_and_islands(spark):
    # chain 1-2-3-4 must collapse to one component (transitivity);
    # 10-11 is a separate island; all label to their min id
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    got = {
        (r["doc_id"], r["cluster_id"])
        for r in dedup.duplicate_clusters(pairs).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)}


def test_dedup_survivors_keep_canonical(spark, docs_small):
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    clusters = dedup.duplicate_clusters(pairs)
    kept = sorted(
        r["doc_id"] for r in dedup.dedup_survivors(docs_small, clusters).collect()
    )
    all_ids = sorted(r["doc_id"] for r in docs_small.collect())
    assert kept == [i for i in all_ids if i != 2]


def test_curate_corpus_lsh_path_matches_exact(spark, sf_dir):
    """The 100 TB pair generator (MinHash+LSH) must curate the exact
    same survivor set as the exhaustive Jaccard path."""
    from easy_etl_spark.operators.curation import curate_corpus

    docs = load_table(spark, sf_dir, "documents")
    exact = {r["doc_id"] for r in curate_corpus(docs, 0.5, 0.8).collect()}
    lsh = {r["doc_id"] for r in curate_corpus(docs, 0.5, 0.8, use_lsh=True).collect()}
    assert lsh == exact and exact


def test_quantize_int8_roundtrip_bound(spark):
    from easy_etl_spark.operators.similarity import quantize_int8
    
    emb = spark.createDataFrame(
        [(1, [0.0, 1.0, 2.0, 255.0]), (2, [-1.5, 0.0, 1.5, 3.0]), (3, [7.0, 7.0, 7.0, 7.0])],
        "vec_id bigint, embedding array<float>",
    )
    q = quantize_int8(emb)
    rows = {r.vec_id: r for r in q.collect()}
    # codes span the int8 range endpoints
    assert rows[1].codes[0] == 0 and rows[1].codes[-1] == 255
    # constant vector: zero scale, zero codes
    assert rows[3].vscale == 0.0 and set(rows[3].codes) == {0}
    # reconstruction error bounded by scale/2 everywhere
    src = {r.vec_id: r.embedding for r in emb.collect()}
    for vid, r in rows.items():
        for x, c in zip(src[vid], r.codes):
            err = abs(x - (r.vmin + c * r.vscale))
            assert err <= r.vscale / 2 + 1e-9, (vid, x, c, err)


def test_leakage_safe_splits_never_separate_near_dups(spark, sf_dir):
    """THE property: every near-dup pair lands in the same split, all
    docs are assigned exactly once, and proportions are roughly
    80/10/10 (cluster-level hashing keeps them close)."""
    from easy_etl_spark.operators.curation import leakage_safe_splits
    from easy_etl_spark.operators.dedup import ngram_jaccard_pairs
    from easy_etl_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = leakage_safe_splits(docs)
    rows = {r.doc_id: (r.cluster_id, r.split) for r in out.collect()}
    assert len(rows) == docs.count()  # total, exactly once
    pairs = ngram_jaccard_pairs(docs, threshold=0.8).collect()
    assert pairs, "corpus should contain planted near-dups"
    for p in pairs:
        assert rows[p.id_a][1] == rows[p.id_b][1], (p.id_a, p.id_b)
        assert rows[p.id_a][0] == rows[p.id_b][0]
    n = len(rows)
    from collections import Counter

    c = Counter(s for (_, s) in rows.values())
    assert 0.6 * n < c["train"] < 0.95 * n
    assert c["val"] > 0 and c["test"] > 0
