"""Wave-4 operators: PII redaction, repetition signal, stratified
deterministic sampling (operators/textops.py, operators/sampling.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from easy_etl_spark.operators.sampling import (
    BUCKETS,
    KNUTH,
    knuth_bucket,
    sample_by_rates,
    stratified_sample,
)
from easy_etl_spark.operators.textops import (
    dup_bigram_fraction,
    pii_count,
    redact_pii,
)


def test_redact_pii_all_classes(spark):
    df = spark.createDataFrame(
        [
            ("mail bob.smith+x@sub.example.co.uk now", "mail [EMAIL] now"),
            ("from 192.168.0.1 and 10.0.3.77", "from [IP] and [IP]"),
            ("call 555-0042 today", "call [PHONE] today"),
            ("a@b.io at 1.2.3.4 tel 555-9999", "[EMAIL] at [IP] tel [PHONE]"),
            ("no pii here", "no pii here"),
        ],
        ["t", "expected"],
    )
    rows = df.select(redact_pii(F.col("t")).alias("red"), "expected").collect()
    for r in rows:
        assert r.red == r.expected


def test_pii_counts(spark):
    df = spark.createDataFrame(
        [("a@b.io c@d.net at 1.2.3.4 tel 555-9999",)], ["t"]
    )
    row = df.select(
        pii_count(F.col("t"), "email").alias("e"),
        pii_count(F.col("t"), "ip").alias("i"),
        pii_count(F.col("t"), "phone").alias("p"),
    ).first()
    assert (row.e, row.i, row.p) == (2, 1, 1)


def test_dup_bigram_fraction_handcomputed(spark):
    df = spark.createDataFrame(
        [
            # bigrams: [a b, b a, a b, b a, a b] -> 5 total, 2 distinct
            ("a b a b a b", 1.0 - 2.0 / 5.0),
            ("all words are unique here", 0.0),
            ("single", 0.0),  # <2 tokens: guarded, not sequence(1, 0)
        ],
        ["t", "expected"],
    )
    for r in df.select(dup_bigram_fraction(F.col("t")).alias("f"), "expected").collect():
        assert abs(r.f - r.expected) < 1e-12


def test_stratified_sample_matches_python_rule(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rates = {"src0": 100, "src1": 50, "src2": 0}
    kept = stratified_sample(docs, rates, default_rate=25)
    got = {r.doc_id for r in kept.select("doc_id").collect()}
    expect = {
        r.doc_id
        for r in docs.select("doc_id", "source").collect()
        if (r.doc_id * KNUTH) % 2**32 % BUCKETS < rates.get(r.source, 25)
    }
    assert got == expect
    # deterministic: identical on re-run
    again = {r.doc_id for r in stratified_sample(docs, rates, default_rate=25).select("doc_id").collect()}
    assert again == got


def test_knuth_bucket_range(spark):
    df = spark.range(0, 10_000).select(knuth_bucket(F.col("id")).alias("b"))
    row = df.agg(F.min("b").alias("lo"), F.max("b").alias("hi")).first()
    assert 0 <= row.lo and row.hi < BUCKETS
    # buckets spread, not collapsed onto a few values
    assert df.distinct().count() == BUCKETS


def test_sample_by_rates_restricts_strata(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = sample_by_rates(docs, {"src0": 1.0, "src1": 0.5})
    strata = {r.source for r in out.select("source").distinct().collect()}
    assert strata <= {"src0", "src1"}
    n_src0 = out.filter(F.col("source") == "src0").count()
    assert n_src0 == docs.filter(F.col("source") == "src0").count()


def test_token_ngrams_and_short_docs(spark):
    from easy_etl_spark.operators.textops import token_ngrams

    df = spark.createDataFrame([("a b c d",), ("a b",), ("a",)], ["t"])
    rows = df.select(token_ngrams(F.col("t"), 3).alias("g")).collect()
    assert rows[0].g == ["a b c", "b c d"]
    assert rows[1].g == []
    assert rows[2].g == []


def test_decontaminate_handchecked(spark):
    from easy_etl_spark.operators.curation import decontaminate

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps")], ["doc_id", "text"]
    )
    train = spark.createDataFrame(
        [
            # shares "the quick brown" and "quick brown fox"
            (1, "x the quick brown fox y"),
            (2, "totally different words here now"),
            # shares "brown fox jumps"; repeated occurrence counted once
            (3, "brown fox jumps and brown fox jumps"),
        ],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r.n_shared_grams for r in decontaminate(train, bench, n=3).collect()}
    assert got == {1: 2, 3: 1}


def test_global_running_offset_matches_naive(spark):
    from easy_etl_spark.operators.ranking import global_running_offset

    rows = [(i, (i * 7) % 13 + 1) for i in range(97)]
    df = spark.createDataFrame(rows, ["doc_id", "n"])
    out = global_running_offset(df, "n", "doc_id", num_partitions=7)
    got = {r.doc_id: r.start_ofs for r in out.collect()}
    acc = 0
    for i, n in rows:
        assert got[i] == acc
        acc += n
    # NULL order keys sort first, like the window form: a partition
    # holding only NULL keys must still take its place in __pid order
    nulls = spark.createDataFrame(
        [(i, None if i < 400 else i, 1) for i in range(1000)],
        "row long, doc_id long, n long",
    )
    got = global_running_offset(nulls, "n", "doc_id", num_partitions=8).collect()
    assert sorted(r.start_ofs for r in got) == list(range(1000))
    assert all(r.start_ofs == r.doc_id for r in got if r.doc_id is not None)


def test_pack_sequences_boundaries(spark):
    from easy_etl_spark.operators.packing import pack_sequences

    # token counts 60,60,60: offsets 0,60,120 -> seqs 0,0,1 at seq_len=100
    df = spark.createDataFrame([(1, 60), (2, 60), (3, 60)], ["doc_id", "n"])
    out = {r.doc_id: r.seq_id for r in pack_sequences(df, 100, n_col="n").collect()}
    assert out == {1: 0, 2: 0, 3: 1}


def test_batch_score_matches_python_sigmoid(spark, sf_dir):
    import math

    from easy_etl_spark.operators.inference import batch_score, default_weights

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    w = default_weights(64)
    got = {r.vec_id: r.score for r in batch_score(emb, w, bias=0.25).collect()}
    for row in emb.collect():
        z = sum(float(x) * wj for x, wj in zip(row.embedding, w)) + 0.25
        assert abs(got[row.vec_id] - 1.0 / (1.0 + math.exp(-z))) < 1e-9


def test_batch_score_iterator_handles_many_batches(spark, sf_dir):
    # force several small Arrow batches through one task: the per-task
    # setup must run once and every batch must still be scored
    from easy_etl_spark.operators.inference import batch_score, default_weights

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").coalesce(1)
        out = batch_score(emb, default_weights(64))
        assert out.count() == emb.count()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_profile_columns_exact_and_approx(spark, sf_dir):
    from easy_etl_spark.operators.profiling import profile_columns

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    prof = {r.col_name: r for r in profile_columns(docs, ["lang", "source"]).collect()}
    n = docs.count()
    assert prof["lang"].n_rows == n and prof["source"].n_rows == n
    assert prof["lang"].n_null == 0
    assert prof["lang"].n_distinct == docs.select("lang").distinct().count()
    assert prof["source"].n_distinct == docs.select("source").distinct().count()
    # approx twin: within HLL++ default error of exact
    ap = {r.col_name: r.n_distinct for r in profile_columns(docs, ["lang", "source"], exact=False).collect()}
    assert abs(ap["source"] - prof["source"].n_distinct) <= max(2, 0.05 * prof["source"].n_distinct)


def test_build_vocab_and_encode_roundtrip(spark):
    from easy_etl_spark.operators.textops import build_vocab, encode_tokens

    docs = spark.createDataFrame(
        [(1, "b b b a a c"), (2, "a b rare")], ["doc_id", "text"]
    )
    vocab = {r.tok: r.token_id for r in build_vocab(docs, top_n=2).collect()}
    # freq: b=4, a=3, c=1, rare=1 -> top2 = b:1, a:2 (count desc, tok asc)
    assert vocab == {"b": 1, "a": 2}
    enc = encode_tokens(docs, build_vocab(docs, top_n=2))
    got = {(r.doc_id, r.pos): r.token_id for r in enc.collect()}
    assert got == {
        (1, 1): 1, (1, 2): 1, (1, 3): 1, (1, 4): 2, (1, 5): 2, (1, 6): 0,
        (2, 1): 2, (2, 2): 1, (2, 3): 0,
    }


def test_build_vocab_tie_break_deterministic(spark):
    from easy_etl_spark.operators.textops import build_vocab

    docs = spark.createDataFrame([(1, "z y x z y x")], ["doc_id", "text"])
    v1 = [(r.tok, r.token_id) for r in build_vocab(docs, 3).orderBy("token_id").collect()]
    assert v1 == [("x", 1), ("y", 2), ("z", 3)]  # equal counts -> token asc
