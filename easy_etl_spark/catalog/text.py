"""Text family: tokenization, n-gram and repetition statistics, PII
redaction, language id, BPE training and encoding, sequence packing,
UDTF chunking and corpus statistics over the ``documents`` table
(operators.textops, bpe, packing, functions.udtfs).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import sql_avg
from ..operators import textops
from ..operators.bpe import bpe_encode_oracle_sql, bpe_oracle_sql
from ..operators.ranking import global_row_number
from ..operators.scale import ensure_min_partitions
from ..operators.textops import (
    destutter,
    gram_novelty,
    pii_count,
    redact_pii,
    sliding_chunks,
    tokens,
)
from ..queries import register
from ..session import load_table


# ----------------------------------------------------------------------
# Text analysis
# ----------------------------------------------------------------------

@register(
    "text_profile",
    """
    WITH t AS (SELECT doc_id, text, string_split(trim(text), ' ') AS toks FROM documents)
    SELECT doc_id,
           len(toks) AS n_tokens,
           length(text) AS n_chars_computed,
           round(len(list_filter(toks, x -> x IN ('the','a'))) * 1.0 / len(toks), 4) AS stop_ratio,
           round(least(len(toks) / 100.0, 1.0)
                 * (1 - len(list_filter(toks, x -> x IN ('the','a'))) * 1.0 / len(toks)), 4) AS quality,
           CASE
             WHEN len(list_filter(toks, x -> x IN ('the','a','fast','slow','big')))
                  >= len(list_filter(toks, x -> x IN ('data','table','row','column','value')))
              AND len(list_filter(toks, x -> x IN ('the','a','fast','slow','big')))
                  >= len(list_filter(toks, x -> x IN ('join','merge','group','sort','hash')))
             THEN 'en'
             WHEN len(list_filter(toks, x -> x IN ('data','table','row','column','value')))
                  >= len(list_filter(toks, x -> x IN ('join','merge','group','sort','hash')))
             THEN 'es'
             ELSE 'de'
           END AS lang_guess,
           md5(lower(trim(text))) AS fp_md5
    FROM t
    """,
)
def text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID + quality + token counts + fingerprint in one
    narrow per-row pass (textops.text_profile)."""
    return textops.text_profile(load_table(spark, sf_dir, "documents"))


@register(
    "text_stats_by_lang",
    """
    SELECT lang, source, count(*) AS n_docs,
           round(sum(n_chars) * 1.0 / count(*), 4) AS avg_chars,
           CAST(sum(len(string_split(trim(text), ' '))) AS BIGINT) AS total_tokens
    FROM documents
    GROUP BY lang, source
    """,
)
def text_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # integer sum / one division: exact in any accumulation order —
    # round(avg(double)) was the round-1 flaky hash (VERDICT.md #2)
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.sum("n_chars") * 1.0 / F.count(F.lit(1)), 4).alias("avg_chars"),
        F.sum(textops.token_count(F.col("text"))).alias("total_tokens"),
    )


@register(
    "udtf_chunk_tokens",
    """
    WITH t AS (
      SELECT doc_id, string_split(trim(text), ' ') AS toks
      FROM documents WHERE doc_id < 50
    )
    SELECT doc_id, i AS chunk_idx,
           array_to_string(toks[(i*8+1):(i*8+8)], ' ') AS chunk_text,
           len(toks[(i*8+1):(i*8+8)]) AS n_tokens
    FROM t, unnest(generate_series(0, CAST(ceil(len(toks) / 8.0) AS INT) - 1)) AS g(i)
    """,
)
def udtf_chunk_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document → fixed-token-window chunks via a Python UDTF (Spark 4
    table function, LATERAL-joined) — context-window chunking for
    training pipelines (functions/udtfs.py)."""
    from ..functions.udtfs import register_udtfs

    register_udtfs(spark)
    docs = load_table(spark, sf_dir, "documents")
    docs.filter(F.col("doc_id") < 50).createOrReplaceTempView("__chunk_in")
    return spark.sql(
        """
        SELECT c.doc_id, c.chunk_idx, c.chunk_text, c.n_tokens
        FROM __chunk_in t, LATERAL chunk_tokens(t.doc_id, t.text) c
        """
    )


@register(
    "pii_redaction",
    r"""
    WITH seeded AS (
      SELECT doc_id,
             concat(text, ' contact user', doc_id, '@example.com from 10.',
                    doc_id % 256, '.3.', doc_id % 100, ' call 555-',
                    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')) AS t
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(t, '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}')) AS BIGINT) AS n_ip,
           CAST(len(regexp_extract_all(t, '\b\d{3}-\d{4}\b')) AS BIGINT) AS n_phone,
           md5(regexp_replace(regexp_replace(regexp_replace(t,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
               '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}', '[IP]', 'g'),
               '\b\d{3}-\d{4}\b', '[PHONE]', 'g')) AS red_md5
    FROM seeded
    """,
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over the corpus: typed placeholder redaction (emails →
    IPs → phones, order-significant) plus per-class match counts.
    Single narrow projection, zero shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            d.cast("string"),
            F.lit("@example.com from 10."),
            (d % 256).cast("string"),
            F.lit(".3."),
            (d % 100).cast("string"),
            F.lit(" call 555-"),
            F.lpad((d % 10000).cast("string"), 4, "0"),
        ).alias("t"),
    )
    t = F.col("t")
    return seeded.select(
        "doc_id",
        pii_count(t, "email").cast("long").alias("n_email"),
        pii_count(t, "ip").cast("long").alias("n_ip"),
        pii_count(t, "phone").cast("long").alias("n_phone"),
        F.md5(redact_pii(t)).alias("red_md5"),
    )


@register(
    "text_repetition",
    """
    WITH bg AS (
      SELECT doc_id,
             list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]) AS b
      FROM (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents)
    )
    SELECT doc_id,
           CAST(len(b) AS BIGINT) AS n_bigrams,
           round(CASE WHEN len(b) > 0
                      THEN 1.0 - CAST(len(list_distinct(b)) AS DOUBLE) / len(b)
                      ELSE 0.0 END, 4) AS rep_fraction
    FROM bg
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signal: per-doc fraction of
    bigram occurrences that repeat an earlier bigram. Higher-order
    array functions only — JVM-side, per-row, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    from ..operators.textops import array_ngrams, dup_fraction

    # pre-materialize split + grams: no CSE inside HOF lambdas
    with_bg = docs.withColumn("__t", tokens(F.col("text"))).withColumn(
        "__bg", array_ngrams(F.col("__t"), 2)
    )
    return with_bg.select(
        "doc_id",
        F.size("__bg").cast("long").alias("n_bigrams"),
        F.round(dup_fraction(F.col("__bg")), 4).alias("rep_fraction"),
    )


@register(
    "sequence_packing",
    """
    WITH toks AS (
      SELECT doc_id, len(string_split(trim(text), ' ')) AS n FROM documents
    ),
    ofs AS (
      SELECT doc_id, n,
             sum(n) OVER (ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n
               AS start_ofs
      FROM toks
    )
    SELECT CAST(start_ofs // 512 AS BIGINT) AS seq_id,
           CAST(count(*) AS BIGINT) AS docs_started,
           CAST(sum(n) AS BIGINT) AS tokens
    FROM ofs GROUP BY 1
    """,
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-split sequence packing audit: docs are laid out on a
    global token stream in doc_id order and each doc is assigned the
    512-token training sequence its first token lands in; per-sequence
    doc and token counts. The oracle's global window cumsum is
    replaced by the partition-offset prefix sum in
    operators/packing.py — no single-partition stage."""
    from ..operators.packing import pack_sequences
    from ..operators.textops import token_count

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", token_count(F.col("text")).alias("n"))
    packed = pack_sequences(toks, 512, n_col="n", order_col="doc_id")
    return packed.groupBy(F.col("seq_id").cast("long").alias("seq_id")).agg(
        F.count(F.lit(1)).alias("docs_started"),
        F.sum("n").alias("tokens"),
    )


@register(
    "vocab_encode",
    """
    WITH tok AS (
      SELECT doc_id, pos, tok FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t)+1),
                      i -> {'pos': i, 'tok': t[i]}), recursive := true)
        FROM (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents)
      )
    ),
    vocab AS (
      SELECT tok, CAST(row_number() OVER (ORDER BY cnt DESC, tok) AS BIGINT) AS token_id
      FROM (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok)
      ORDER BY cnt DESC, tok
      LIMIT 16
    )
    SELECT t.doc_id, CAST(t.pos AS BIGINT) AS pos,
           CAST(coalesce(v.token_id, 0) AS BIGINT) AS token_id
    FROM tok t LEFT JOIN vocab v USING (tok)
    """,
)
def vocab_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize-to-ids: frequency-ranked top-16 vocabulary (small on
    purpose so OOV→UNK=0 actually occurs in the corpus), then encode
    every doc to (doc_id, pos, token_id). The vocab join is broadcast;
    the token stream never shuffles (operators/textops.py:build_vocab,
    encode_tokens)."""
    from ..operators.textops import build_vocab, encode_tokens

    docs = load_table(spark, sf_dir, "documents")
    vocab = build_vocab(docs, top_n=16)
    return encode_tokens(docs, vocab)


# integer-space half-up mean (functions/exact.sql_avg): the sf5 sweep
# caught a doc whose mean ln-prob is an exact 1e-4 half-tie, where
# round() diverges between Spark and DuckDB
_SQL_AVG_LP = sql_avg("ln(c * 1.0 / t)", ndigits=4, scale=6)


@register(
    "unigram_logprob",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok FROM documents
    ),
    freq AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
    tot AS (SELECT count(*) AS t FROM toks)
    SELECT doc_id, count(*) AS n_tokens,
           {_SQL_AVG_LP} AS avg_logprob
    FROM toks JOIN freq USING (tok) CROSS JOIN tot
    GROUP BY doc_id
    """,
)
def unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM mean log-prob per doc (perplexity-proxy quality
    filter; textops.unigram_logprob_scores)."""
    return textops.unigram_logprob_scores(load_table(spark, sf_dir, "documents"))


@register(
    "quality_rules",
    """
    WITH t AS (
      SELECT doc_id, trim(text) AS tx, string_split(trim(text), ' ') AS toks
      FROM documents
    )
    SELECT doc_id,
           len(toks) AS n_tokens,
           round((length(tx) - (len(toks) - 1)) * 1.0 / len(toks), 4) AS mean_tok_len,
           round(length(regexp_replace(tx, '[A-Za-z0-9 ]', '', 'g')) * 1.0
                 / length(tx), 4) AS symbol_ratio,
           len(list_filter(toks, x -> x IN ('the','a'))) AS n_stopwords,
           (len(toks) >= 5 AND len(toks) <= 5000
            AND (length(tx) - (len(toks) - 1)) >= 2 * len(toks)
            AND (length(tx) - (len(toks) - 1)) <= 12 * len(toks)
            AND 20 * length(regexp_replace(tx, '[A-Za-z0-9 ]', '', 'g')) <= length(tx)
           ) AS passes_quality
    FROM t
    """,
)
def quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style integer-exact rule filter (textops.quality_rules)."""
    return textops.quality_rules(load_table(spark, sf_dir, "documents"))


@register(
    "winnow_fingerprints",
    """
    WITH t AS (
      SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents
      WHERE len(string_split(trim(text), ' ')) >= 3
    ),
    sh AS (
      SELECT doc_id, g.i AS pos, len(toks) - 2 AS n_sh,
             md5(toks[g.i] || ' ' || toks[g.i+1] || ' ' || toks[g.i+2]) AS h
      FROM t, UNNEST(generate_series(1, len(toks) - 2)) AS g(i)
    ),
    w AS (
      SELECT doc_id, pos, n_sh,
             min(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
      FROM sh
    ),
    fps AS (
      SELECT DISTINCT doc_id, fp FROM w
      WHERE pos <= greatest(n_sh - 4, 0) + 1
    )
    SELECT doc_id, count(*) AS n_fingerprints, min(fp) AS min_fp
    FROM fps GROUP BY doc_id
    """,
)
def winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed (window-min) shingle-hash fingerprints per doc
    (textops.winnow_fingerprints; k=3 shingles, w=4 windows)."""
    return textops.winnow_fingerprints(load_table(spark, sf_dir, "documents"))


def _lang_id_oracle() -> str:
    """DuckDB twin of textops.lang_id: profile-overlap counts +
    priority argmax, generated from LANG_PROFILES so the two can't
    drift."""
    counts = {
        lang: (
            "len(list_filter(toks, x -> x IN ("
            + ", ".join(f"'{w}'" for w in words)
            + ")))"
        )
        for lang, words in textops.LANG_PROFILES.items()
    }
    return f"""
    WITH t AS (
      SELECT lang, string_split(trim(text), ' ') AS toks FROM documents
    ),
    s AS (
      SELECT lang, {counts['en']} AS en, {counts['es']} AS es,
             {counts['de']} AS de
      FROM t
    )
    SELECT lang,
           CASE WHEN en >= es AND en >= de THEN 'en'
                WHEN es >= de THEN 'es'
                ELSE 'de' END AS predicted,
           count(*) AS n
    FROM s GROUP BY 1, 2
    """


@register("language_id", _lang_id_oracle())
def language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion counts: textops.lang_id (profile-overlap
    argmax with fixed priority tie-break) against the labeled lang
    column. Pure Column algebra per row (split/filter/size — zero
    UDFs, embarrassingly parallel); the only shuffle is the final
    ≤15-group aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", textops.lang_id(F.col("text")).alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register("bpe_merges", bpe_oracle_sql(k=4))
def bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, first 4 merges (operators/bpe.py):
    weighted adjacent-symbol pair counts over the word-frequency vocab,
    (count DESC, pair ASC) argmax, replace-to-fixpoint merge — the
    DuckDB oracle replays the whole training loop bit-for-bit,
    recursive-CTE fixpoint included. The corpus is touched once (word
    counts); every merge iteration runs on the dimension-sized vocab."""
    from ..operators.bpe import train_merges

    return train_merges(load_table(spark, sf_dir, "documents"), k=4)


@register("bpe_encode_stats", bpe_encode_oracle_sql(k=4))
def bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language subword compression after the 4 trained BPE merges
    (operators/bpe.encode_stats): the encode is one join of
    (lang, word) counts against the trained vocab state — the oracle
    retrains and re-encodes from scratch, so the whole train+apply
    path is value-hash-checked."""
    from ..operators.bpe import encode_stats

    return encode_stats(load_table(spark, sf_dir, "documents"), k=4)


@register(
    "temperature_mix",
    """
    WITH src AS (
      SELECT source, count(*) AS n_docs,
             CAST(floor(sqrt(count(*)) * 1000000 + 0.5) AS BIGINT) AS wq
      FROM documents GROUP BY source
    ),
    tot AS (SELECT CAST(sum(wq) AS BIGINT) AS w_all, count(*) AS n_src FROM src),
    base AS (
      SELECT source, n_docs, wq,
             (1000 * wq) // w_all AS floor_share,
             (1000 * wq) % w_all AS rem
      FROM src, tot
    ),
    ranked AS (
      SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rr,
             CAST((SELECT 1000 - sum(floor_share) FROM base) AS BIGINT) AS leftover
      FROM base
    )
    SELECT source, n_docs,
           CAST(floor_share + CASE WHEN rr <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS target_docs
    FROM ranked
    """,
)
def temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted training mix (T5-style): per-source budget
    ∝ n^0.5, allocated by largest-remainder rounding to exactly 1000
    docs. Integer-exact throughout — sqrt quantizes to fixed-point
    BEFORE the sum, so the total weight is an integer sum (order-free)
    and every share is integer division; no float accumulation ever
    crosses a floor boundary differently per engine. The whole
    computation runs on the per-source summary (dimension-sized); the
    corpus contributes one count aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    src = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs")).withColumn(
        "wq", F.floor(F.sqrt(F.col("n_docs")) * 1000000 + F.lit(0.5)).cast("long")
    )
    tot = src.agg(F.sum("wq").cast("long").alias("w_all"))
    base = src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        F.expr("1000 * wq div w_all").alias("floor_share"),
        ((F.lit(1000) * F.col("wq")) % F.col("w_all")).alias("rem"),
    )
    leftover = base.agg((F.lit(1000) - F.sum("floor_share")).cast("long").alias("lo"))

    # largest-remainder rank is the BANDED global row_number — the
    # per-source frame is dimension-sized today, but the plan carries
    # no single-partition sort at any cardinality
    return (
        global_row_number(
            base.crossJoin(F.broadcast(leftover)),
            [F.col("rem").desc(), F.col("source")],
            out_col="rr",
        )
        .select(
            "source",
            "n_docs",
            (
                F.col("floor_share")
                + F.when(F.col("rr") <= F.col("lo"), 1).otherwise(0)
            ).cast("long").alias("target_docs"),
        )
    )


# ----------------------------------------------------------------------
# Keyword extraction: top-3 TF-IDF terms per document
# ----------------------------------------------------------------------

@register(
    "keyword_tfidf_top3",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok FROM documents
    ),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
    df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
    nd AS (SELECT count(DISTINCT doc_id) AS n FROM tf),
    scored AS (
      SELECT doc_id, tok, tf, df,
             CAST(floor(tf * ln((n + 1.0) / (df + 1.0)) * 1000000.0 + 0.5)
                  AS BIGINT) AS score_units
      FROM tf JOIN df USING (tok) CROSS JOIN nd
    ),
    ranked AS (
      SELECT doc_id, tok, tf, df, score_units,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score_units DESC, tok) AS rnk
      FROM scored
    )
    SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, tok, tf, df, score_units
    FROM ranked WHERE rnk <= 3
    """,
)
def keyword_tfidf_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: the 3 highest TF-IDF terms
    (smoothed idf = ln((N+1)/(df+1)), quantized to exact micro-units
    before ranking so the order — and the emitted score — is
    engine-portable; ties break lexicographically).

    Scale: term frequencies are one map-side-combined aggregate; the
    document-frequency table is vocab-sized (bounded by language, not
    corpus) and broadcasts; the top-3 window partitions by doc_id.
    This is the per-doc sibling of the corpus-wide BM25 index in
    operators/search.py."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    nd = tf.agg(F.countDistinct("doc_id").alias("n"))
    scored = (
        tf.join(F.broadcast(df), "tok")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "tok",
            "tf",
            "df",
            F.floor(
                F.col("tf")
                * F.log((F.col("n") + 1.0) / (F.col("df") + 1.0))
                * 1000000.0
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("score_units"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score_units").desc(), "tok")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "rnk", "tok", "tf", "df", "score_units")
    )


# ----------------------------------------------------------------------
# Cleaning: collapse consecutive repeated tokens (de-stutter)
# ----------------------------------------------------------------------

@register(
    "destutter_tokens",
    """
    WITH toks AS (
      SELECT doc_id, i AS pos, t[i] AS tok
      FROM (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
           UNNEST(generate_series(1, len(t))) AS g(i)
    ),
    marked AS (
      SELECT doc_id, pos, tok,
             lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
      FROM toks
    ),
    kept AS (
      SELECT doc_id, pos, tok FROM marked
      WHERE prev IS NULL OR tok <> prev
    )
    SELECT m.doc_id,
           count(*) AS n_before,
           (SELECT count(*) FROM kept k WHERE k.doc_id = m.doc_id) AS n_after,
           (SELECT md5(string_agg(k.tok, ' ' ORDER BY k.pos))
            FROM kept k WHERE k.doc_id = m.doc_id) AS cleaned_fp
    FROM marked m
    GROUP BY m.doc_id
    """,
)
def destutter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token de-stutter cleaning: collapse runs of consecutive repeated
    tokens ("the the the" -> "the") — a standard crawl-text cleanup
    ahead of tokenizer training. Emits before/after token counts and
    the md5 fingerprint of the cleaned text (content-checkable without
    shipping megabyte strings through the result).

    Scale: see operators/textops.destutter (posexplode -> per-doc lag
    window -> deterministic sort_array re-assembly; everything
    partitions by doc_id)."""
    docs = load_table(spark, sf_dir, "documents")
    return destutter(docs).select("doc_id", "n_before", "n_after", "cleaned_fp")


# ----------------------------------------------------------------------
# Training-objective construction: deterministic masked-LM corpus
# ----------------------------------------------------------------------

@register(
    "mlm_masking",
    """
    WITH toks AS (
      SELECT doc_id, i AS pos, t[i] AS tok
      FROM (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
           UNNEST(generate_series(1, len(t))) AS g(i)
    ),
    marked AS (
      SELECT doc_id, pos, tok,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR)), 1, 8))::BIGINT % 5 = 0
               AS masked
      FROM toks
    )
    SELECT doc_id,
           count(*) AS n_tokens,
           CAST(sum(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
           md5(string_agg(CASE WHEN masked THEN '<X>' ELSE tok END,
                          ' ' ORDER BY pos)) AS corrupted_fp,
           md5(coalesce(string_agg(CASE WHEN masked THEN tok END,
                                   ' ' ORDER BY pos), '')) AS targets_fp
    FROM marked GROUP BY doc_id
    """,
)
def mlm_masking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Masked-LM corpus construction: every token is masked with
    probability 1/5 decided by the portable md5 hash of (doc_id, pos) —
    the SAME tokens mask on every run, engine, and partition layout, so
    a training corpus built twice is bit-identical (rand()-based
    masking is not reproducible, and irreproducible corpora make
    training regressions undebuggable). Emits mask counts plus md5
    fingerprints of the corrupted text and the mask targets.

    Scale: posexplode -> per-row hash -> per-doc re-assembly via
    sort_array over (pos, token) structs; everything partitions by
    doc_id."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.col("doc_id"), F.col("pos"))), 1, 8
        ),
        16,
        10,
    ).cast("bigint")
    marked = toks.withColumn("masked", F.pmod(h, F.lit(5)) == 0)
    corrupted = F.concat_ws(
        " ",
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "pos",
                        F.when(F.col("masked"), "<X>").otherwise(F.col("tok")).alias(
                            "out"
                        ),
                    )
                )
            ),
            lambda s: s["out"],
        ),
    )
    targets = F.concat_ws(
        " ",
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(F.col("masked"), F.struct("pos", "tok"))
                )
            ),
            lambda s: s["tok"],
        ),
    )
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("masked"), 1).otherwise(0)).alias("n_masked"),
        F.md5(corrupted).alias("corrupted_fp"),
        F.md5(targets).alias("targets_fp"),
    )


@register(
    "vocab_coverage_curve",
    """
    WITH toks AS (
      SELECT unnest(string_split(trim(text), ' ')) AS tok FROM documents
    ),
    freq AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
    ranked AS (
      SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS rnk,
             CAST(sum(c) OVER (ORDER BY c DESC, tok) AS BIGINT) AS cum,
             (SELECT CAST(sum(c) AS BIGINT) FROM freq) AS total
      FROM freq
    )
    SELECT pct AS coverage_pct,
           CAST(min(CASE WHEN cum * 100 >= pct * total THEN rnk END) AS BIGINT)
             AS vocab_size,
           max(total) AS total_tokens
    FROM ranked, UNNEST([50, 90, 99]) AS p(pct)
    GROUP BY pct
    """,
)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage knees: the number of distinct tokens
    (frequency-ranked, ties lexicographic) needed to cover 50/90/99%
    of all token occurrences — the long-tail profile that sizes
    tokenizer vocabularies and OOV budgets. The threshold test uses
    exact integer cross-multiplication (cum*100 >= pct*total), no
    float share.

    Scale: token counting is map-side combined; rank and cumulative
    coverage ride the BANDED global machinery (ranking.
    global_row_number over (c desc, tok), then packing.
    global_running_offset over the unique rank) — no single-partition
    sort even when the vocabulary itself is huge. The 3-way fan-out
    rides the ranked frame."""
    from ..operators.packing import global_running_offset

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    total = freq.agg(F.sum("c").alias("total"))
    by_rank = global_row_number(
        freq, [F.col("c").desc(), F.col("tok")], out_col="rnk"
    )
    # inclusive cumulative = exclusive banded prefix sum + own count
    ranked = (
        global_running_offset(by_rank, "c", "rnk", out_col="_ofs")
        .withColumn("cum", (F.col("_ofs") + F.col("c")).cast("long"))
        .drop("_ofs")
        .crossJoin(F.broadcast(total))
    )
    fanned = ranked.select(
        "rnk",
        "cum",
        "total",
        F.explode(F.array(F.lit(50), F.lit(90), F.lit(99))).alias("pct"),
    )
    return fanned.groupBy(F.col("pct").cast("bigint").alias("coverage_pct")).agg(
        F.min(
            F.when(F.col("cum") * 100 >= F.col("pct") * F.col("total"), F.col("rnk"))
        )
        .cast("bigint")
        .alias("vocab_size"),
        F.max("total").alias("total_tokens"),
    )


@register(
    "epoch_shuffle_plan",
    """
    WITH keyed AS (
      SELECT e.epoch, doc_id,
             ('0x' || substr(md5(CAST(e.epoch AS VARCHAR) || ':' ||
                                 CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS k
      FROM documents, (SELECT unnest(generate_series(0, 2)) AS epoch) e
    ),
    firsts AS (
      SELECT epoch, doc_id, k FROM (
        SELECT *, row_number() OVER (PARTITION BY epoch ORDER BY k, doc_id) AS r
        FROM keyed
      ) WHERE r <= 5
    )
    SELECT keyed.epoch AS epoch, count(*) AS n_docs,
           CAST(sum(k) AS BIGINT) AS key_checksum,
           (SELECT md5(string_agg(CAST(f.doc_id AS VARCHAR), ','
                                  ORDER BY f.k, f.doc_id))
            FROM firsts f WHERE f.epoch = keyed.epoch) AS head_fp
    FROM keyed GROUP BY keyed.epoch
    """,
)
def epoch_shuffle_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic multi-epoch shuffle plan: epoch e orders the
    corpus by the 32-bit md5(e, doc_id) key (32 bits keeps the exact
    key_checksum inside BIGINT even at billions of docs) — a different
    but perfectly reproducible
    permutation per epoch, recomputable from ids alone on any engine /
    run / partitioning (rand()-seeded shuffles are none of those, and
    an irreproducible data order makes training runs uncomparable).
    Emits per-epoch doc counts, the exact key checksum, and the md5
    fingerprint of the first five docs in epoch order.

    Scale: the sort key is a per-row hash; the training loader sorts
    within range partitions of k (a repartitionByRange write), never
    globally — here only the 5-row head per epoch is ranked, via a
    per-epoch-partitioned window."""
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(2))).alias("epoch"),
    ).select(
        "epoch",
        "doc_id",
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("epoch"), F.col("doc_id"))), 1, 8
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias("k"),
    )

    w = Window.partitionBy("epoch").orderBy("k", "doc_id")
    firsts = (
        keyed.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= 5)
        .groupBy("epoch")
        .agg(
            F.md5(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("k", "doc_id"))
                        ),
                        lambda s: s["doc_id"].cast("string"),
                    ),
                )
            ).alias("head_fp")
        )
    )
    sums = keyed.groupBy("epoch").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("k").alias("key_checksum")
    )
    return sums.join(firsts, "epoch").select(
        F.col("epoch").cast("bigint").alias("epoch"),
        "n_docs",
        "key_checksum",
        "head_fp",
    )


@register(
    "source_length_gini",
    """
    WITH t AS (
      SELECT source, doc_id, CAST(n_chars AS BIGINT) AS x FROM documents
    ),
    r AS (
      SELECT source, x,
             row_number() OVER (PARTITION BY source ORDER BY x, doc_id)
               AS i,
             count(*) OVER (PARTITION BY source) AS n
      FROM t
    ),
    s AS (
      SELECT source, max(n) AS n,
             CAST(sum(x) AS BIGINT) AS total,
             CAST(sum((2 * i - n - 1) * x) AS BIGINT) AS wsum
      FROM r GROUP BY source
    )
    SELECT source, n AS n_docs, total AS total_chars,
           round(CAST(wsum AS DOUBLE) / (CAST(n AS DOUBLE) * total), 6) + 0.0
             AS gini
    FROM s
    """,
)
def source_length_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of document length per source (0 = all docs
    equal, ->1 = one giant doc holds everything): the inequality index
    that predicts how hard a source is hit by per-doc truncation or
    per-source caps, and the standard balance check before weighting a
    training mix. Computed from the exact rank form
    G = Σ(2i−n−1)·x_i / (n·Σx) — integer until the final division.

    Scale: the rank window partitions by source; one aggregate after.
    (Ties in x order by doc_id; any tie order yields the same sum —
    the weight Σ(2i−n−1) over a tied run is invariant.)"""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("source", "doc_id", F.col("n_chars").cast("bigint").alias("x"))
    ws = Window.partitionBy("source")
    r = t.select(
        "source",
        "x",
        F.row_number().over(ws.orderBy("x", "doc_id")).alias("i"),
        F.count(F.lit(1)).over(ws).alias("n"),
    )
    s = r.groupBy("source").agg(
        F.max("n").alias("n"),
        F.sum("x").alias("total"),
        F.sum((2 * F.col("i") - F.col("n") - 1) * F.col("x")).alias("wsum"),
    )
    gini = F.col("wsum").cast("double") / (
        F.col("n").cast("double") * F.col("total")
    )
    return s.select(
        "source",
        F.col("n").alias("n_docs"),
        F.col("total").alias("total_chars"),
        (F.round(gini, 6) + F.lit(0.0)).alias("gini"),
    )


K = 50


#: md5_uniform modulus — large so priority ties are hash collisions only
M = 1_000_000_007


@register(
    "priority_sample",
    f"""
    WITH pri AS (
      SELECT doc_id, source, n_chars,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                  % {M} AS DOUBLE) / n_chars AS priority
      FROM documents WHERE n_chars > 0
    )
    , topk AS (
      SELECT * FROM pri ORDER BY priority, doc_id LIMIT {K}
    )
    SELECT doc_id, source, CAST(n_chars AS BIGINT) AS weight,
           round(priority, 6) AS priority,
           CAST(row_number() OVER (ORDER BY priority, doc_id) AS BIGINT) AS rnk
    FROM topk
    """,
)
def priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential Poisson / priority sampling (Ohlsson): every doc gets
    priority u/w (u = portable md5 uniform, w = its length weight) and
    the K smallest priorities form a fixed-size weighted sample without
    replacement — heavier docs sample more often, the sample size is
    EXACTLY K (the Bernoulli sampler's is only K in expectation), and
    the whole draw replays from ids alone on any engine or run.

    Scale: priority is a per-row map; the top-K is ORDER BY + LIMIT,
    which compiles to TakeOrderedAndProject (per-partition heaps merged
    on the driver — plan-gated); only the K survivors see the final
    rank window. (The first cut ranked the full corpus with a global
    row_number — a real scale hazard the plan gates caught.)"""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = F.pmod(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
            "bigint"
        ),
        F.lit(M),
    )
    pri = docs.select(
        "doc_id",
        "source",
        "n_chars",
        (u.cast("double") / F.col("n_chars")).alias("priority"),
    )
    topk = pri.orderBy("priority", "doc_id").limit(K)
    w = Window.orderBy("priority", "doc_id")
    return (
        topk.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .select(
            "doc_id",
            "source",
            F.col("n_chars").cast("bigint").alias("weight"),
            F.round("priority", 6).alias("priority"),
            "rnk",
        )
    )


@register(
    "curriculum_order",
    """
    WITH d AS (
      SELECT doc_id,
             CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tok
      FROM documents
    ),
    t AS (SELECT CAST(sum(n_tok) AS BIGINT) AS a, count(*) AS c FROM d),
    s AS (
      SELECT doc_id, n_tok,
             CASE WHEN n_tok * 2 * c <= a THEN 1
                  WHEN n_tok * c <= a THEN 2
                  WHEN n_tok * c <= 2 * a THEN 3
                  ELSE 4 END AS stage
      FROM d, t
    )
    SELECT doc_id, n_tok, CAST(stage AS INT) AS stage,
           CAST(row_number() OVER (
             PARTITION BY stage
             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
           ) AS BIGINT) AS stage_rank
    FROM s
    """,
)
def curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum training order: documents staged easy→hard by length
    relative to the corpus mean (stage 1 ≤ half the mean … stage 4 >
    twice the mean), deterministically shuffled WITHIN each stage by
    the portable md5 hash — the schedule a curriculum-learning data
    loader consumes. All bucketing is INTEGER comparison against the
    corpus total (n·c vs Σn), so no float boundary can flip a stage
    between engines; ranks come from stage-partitioned windows (never
    a global sort — the catalog's standing rule). One scan + a
    broadcast 1-row aggregate + one partitioned window."""

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens(F.col("text"))).cast("bigint").alias("n_tok")
    )
    tot = d.agg(F.sum("n_tok").alias("a"), F.count(F.lit(1)).alias("c"))
    j = d.crossJoin(F.broadcast(tot))
    n, a, c = F.col("n_tok"), F.col("a"), F.col("c")
    stage = (
        F.when(n * 2 * c <= a, 1)
        .when(n * c <= a, 2)
        .when(n * c <= 2 * a, 3)
        .otherwise(4)
    )
    w = Window.partitionBy("stage").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        j.withColumn("stage", stage)
        .withColumn("stage_rank", F.row_number().over(w).cast("bigint"))
        .select("doc_id", "n_tok", "stage", "stage_rank")
    )


@register(
    "doc_chunks_overlap",
    """
    WITH t AS (
      SELECT doc_id, string_split(trim(text), ' ') AS toks
      FROM documents WHERE doc_id < 50
    ),
    c AS (
      SELECT doc_id, toks,
             1 + (greatest(len(toks) - 8, 0) + 3) // 4 AS n_chunks
      FROM t
    )
    SELECT doc_id, g.i AS chunk_idx,
           CAST(g.i * 4 AS BIGINT) AS start_tok,
           array_to_string(toks[(g.i * 4 + 1):(g.i * 4 + 8)], ' ') AS chunk_text,
           CAST(len(toks[(g.i * 4 + 1):(g.i * 4 + 8)]) AS BIGINT) AS n_tokens
    FROM c, UNNEST(generate_series(0, CAST(n_chunks AS INT) - 1)) AS g(i)
    """,
)
def doc_chunks_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping sliding-window chunking (window 8, stride 4) — the
    RAG / context-window variant of udtf_chunk_tokens: stride < window
    keeps every boundary n-gram inside some chunk. Chunk i starts at
    token i*stride; the tail is always covered with no fully-contained
    trailing chunks. Pure JVM column algebra (sequence + explode +
    slice): the token arrays never leave the scan stage and nothing
    shuffles — at 100 TB this is a map-only pass."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    out = sliding_chunks(docs, window=8, stride=4)
    return out.withColumn("chunk_idx", F.col("chunk_idx").cast("int"))


@register(
    "gram_novelty",
    """
    WITH t AS (
      SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents
    ),
    p AS (
      SELECT DISTINCT doc_id, array_to_string(toks[g.i:g.i + 7], ' ') AS g
      FROM t, UNNEST(generate_series(1, greatest(len(toks) - 7, 1))) AS g(i)
    ),
    dfc AS (SELECT g, count(*) AS df FROM p GROUP BY g)
    SELECT doc_id, count(*) AS n_grams,
           CAST(sum(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
           round(1.0 - CAST(sum(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                         / count(*), 4) AS novelty_ratio
    FROM p JOIN dfc USING (g) GROUP BY doc_id
    """,
)
def gram_novelty_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-internal novelty / memorization scan: per doc, the share
    of its DISTINCT 8-grams that occur in at least one OTHER document
    (decontaminate() is train-vs-benchmark; this is corpus-vs-itself —
    the dup-leakage metric curation pipelines threshold).

    Scale: one distinct (doc, gram) explode; gram document-frequency
    is a map-side-combined count; the join back is co-partitioned on
    the gram key; the per-doc rollup is the only other shuffle — no
    all-pairs comparison, no corpus-sized broadcast."""
    return gram_novelty(load_table(spark, sf_dir, "documents"), n=8)


@register(
    "tfidf_keywords",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok FROM documents
    ),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
    dfq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
    nd AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
    scored AS (
      SELECT doc_id, tok AS keyword, tf,
             tf * CAST(floor(ln((n + 1) * 1.0 / (df + 1)) * 1000000 + 0.5)
                       AS BIGINT) AS score_units
      FROM tf JOIN dfq USING (tok) CROSS JOIN nd
    )
    SELECT doc_id, keyword, tf, score_units, rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                 ORDER BY score_units DESC, keyword) AS rnk
      FROM scored
    ) WHERE rnk <= 3
    """,
)
def tfidf_keywords_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc tf-idf keyword extraction (operators/textops.
    tfidf_keywords): integer-quantized idf, exact integer scores,
    alphabetic tie-break — the baseline lexical summarizer, replayed
    verbatim by the oracle."""
    from ..operators.textops import tfidf_keywords

    return tfidf_keywords(load_table(spark, sf_dir, "documents"), top_k=3)


@register(
    "mutual_information_lang_source",
    """
    WITH cells AS (
      SELECT lang, source, count(*) AS n FROM documents GROUP BY lang, source
    ),
    rl AS (SELECT lang, CAST(sum(n) AS BIGINT) AS nl FROM cells GROUP BY lang),
    cs AS (SELECT source, CAST(sum(n) AS BIGINT) AS ns FROM cells GROUP BY source),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_tot FROM cells)
    SELECT c.lang, c.source, CAST(c.n AS BIGINT) AS n_docs,
           CAST(floor((CAST(floor(ln(CAST(c.n AS DOUBLE) * n_tot) * 1000000 + 0.5) AS BIGINT)
                - CAST(floor(ln(CAST(nl AS DOUBLE) * ns) * 1000000 + 0.5) AS BIGINT))
                 / 100.0 + 0.5) AS BIGINT) / 10000.0 + 0.0 AS pmi,
           c.n * (CAST(floor(ln(CAST(c.n AS DOUBLE) * n_tot) * 1000000 + 0.5) AS BIGINT)
                - CAST(floor(ln(CAST(nl AS DOUBLE) * ns) * 1000000 + 0.5) AS BIGINT))
             AS mi_contrib_units
    FROM cells c JOIN rl USING (lang) JOIN cs USING (source) CROSS JOIN tot
    """,
)
def mutual_information_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information between the lang and source
    columns — the dependence screen behind feature selection and
    stratification checks: pmi = ln(p(l,s)/(p(l)p(s))) per cell plus
    the cell's exact integer contribution to total MI
    (Σ contrib / N / 1e6 nats). Integer-quantized ln of rationals of
    counts (the unigram_logprob pattern) keeps both engines
    bit-identical.

    Scale: one map-side-combined cell count (|langs|x|sources| rows),
    two margin reduces over the CELLS (not the data), a broadcast
    total — nothing after the first aggregate touches raw rows."""
    d = load_table(spark, sf_dir, "documents")
    cells = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n"))
    rl = cells.groupBy("lang").agg(F.sum("n").alias("nl"))
    cs = cells.groupBy("source").agg(F.sum("n").alias("ns"))
    tot = cells.agg(F.sum("n").alias("n_tot"))

    def qln(x):
        return F.floor(F.log(x) * 1e6 + F.lit(0.5)).cast("long")

    units = qln(F.col("n").cast("double") * F.col("n_tot")) - qln(
        F.col("nl").cast("double") * F.col("ns")
    )
    return (
        cells.join(rl, "lang")
        .join(cs, "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "source",
            F.col("n").cast("bigint").alias("n_docs"),
            # integer-space half-up to 1e-4 (engine-independent; round()
            # on a double diverges between engines at exact .5 ties)
            (
                F.floor(units / F.lit(100.0) + F.lit(0.5)).cast("bigint")
                / F.lit(10000.0)
                + F.lit(0.0)
            ).alias("pmi"),
            (F.col("n") * units).alias("mi_contrib_units"),
        )
    )


# ----------------------------------------------------------------------
# per-document character entropy
# ----------------------------------------------------------------------

ENT_BAND_UNATS = 250_000  # quarter-nat entropy bands


def _entropy_oracle() -> str:
    qln = "CAST(floor(ln(CAST({x} AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)"
    return f"""
    WITH d AS (
      SELECT doc_id, lang, text, length(text) AS n
      FROM documents WHERE length(text) >= 1
    ),
    pos AS (
      SELECT doc_id, text, unnest(generate_series(1, n)) AS i FROM d
    ),
    ch AS (
      SELECT doc_id, substr(text, CAST(i AS INTEGER), 1) AS ch FROM pos
    ),
    cc AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY 1, 2),
    ent AS (
      SELECT cc.doc_id,
             (any_value(d.n) * {qln.format(x="any_value(d.n)")}
              - sum(cc.c * {qln.format(x="cc.c")})) // any_value(d.n)
               AS h_unats,
             any_value(d.lang) AS lang,
             any_value(d.n) AS n
      FROM cc JOIN d USING (doc_id)
      GROUP BY cc.doc_id
    )
    SELECT lang,
           CAST(h_unats // {ENT_BAND_UNATS} AS BIGINT) AS entropy_band,
           count(*) AS n_docs,
           CAST(sum(n) AS BIGINT) AS total_chars
    FROM ent GROUP BY 1, 2
    """


@register("doc_char_entropy", _entropy_oracle())
def doc_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character Shannon entropy in exact micro-nats:
    H = ln(n) - (1/n) sum c_i ln c_i, computed as the integer
    (n*qln(n) - sum c_i*qln(c_i)) DIV n over exact character counts
    with the catalog's floor(ln*1e6+0.5) quantization — the classic
    cheap quality signal (low entropy = stutter/boilerplate, the top
    band = hash-like gibberish), banded per language in quarter-nats.
    Complements text_repetition (n-gram repeats) and unigram_logprob
    (corpus-level LM) with a corpus-free per-doc signal.

    Scale: explode to (doc, char) then two keyed aggregations — the
    shuffle carries one row per distinct (doc, char), bounded by
    alphabet size per doc, far below text bytes; the input is fanned
    out across cores before the explode (scan partitioning sizes by
    pre-explode bytes). Round 11 (guide §4.2-adjacent CPU shape): the
    chars come from ONE split(text, '') per doc — the previous
    sequence-explode called substring(text, i, 1) per position, an
    O(n) codepoint walk per call ⇒ O(n²) per doc. split('') splits on
    codepoints (non-BMP chars stay whole, verified), exactly matching
    length(text) counting."""
    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", "text", F.length("text").alias("n"))
        .filter(F.col("n") >= 1)
    )

    def qln(x: Column) -> Column:
        return F.floor(F.log(x.cast("double")) * 1000000 + F.lit(0.5)).cast("bigint")

    cc = (
        ensure_min_partitions(d)
        .select(
            "doc_id",
            "lang",
            "n",
            F.explode(F.split("text", "")).alias("ch"),
        )
        .groupBy("doc_id", "lang", "n", "ch")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    qn_sql = "CAST(floor(ln(CAST(n AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)"
    ent = (
        cc.groupBy("doc_id", "lang", "n")
        .agg(F.sum(F.col("c") * qln(F.col("c"))).alias("s"))
        .select(
            "lang",
            "n",
            F.expr(f"CAST((n * {qn_sql} - s) DIV n AS BIGINT)").alias("h_unats"),
        )
    )
    return ent.groupBy(
        "lang",
        F.expr(f"CAST(h_unats DIV {ENT_BAND_UNATS} AS BIGINT)").alias("entropy_band"),
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n").cast("bigint").alias("total_chars"),
    )


# ----------------------------------------------------------------------
# Heaps'-law vocabulary growth
# ----------------------------------------------------------------------

HEAPS_STEPS = 10  # corpus deciles by doc_id


def _heaps_oracle() -> str:
    return f"""
    WITH d AS (SELECT doc_id, text FROM documents),
    bounds AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM d),
    dd AS (
      SELECT doc_id,
             least(CAST(({HEAPS_STEPS} * (doc_id - b.lo))
                        // (b.hi - b.lo + 1) AS BIGINT) + 1,
                   {HEAPS_STEPS}) AS decile,
             text
      FROM d CROSS JOIN bounds b
    ),
    tok AS (
      SELECT decile, doc_id, unnest(string_split(trim(text), ' ')) AS tok
      FROM dd
    ),
    occ AS (SELECT decile, count(*) AS occs FROM tok GROUP BY 1),
    first_seen AS (SELECT tok, min(decile) AS first_decile FROM tok GROUP BY 1),
    new_vocab AS (
      SELECT first_decile AS decile, count(*) AS new_types
      FROM first_seen GROUP BY 1
    ),
    steps AS (SELECT unnest(generate_series(1, {HEAPS_STEPS})) AS decile)
    SELECT CAST(s.decile AS BIGINT) AS decile,
           CAST(sum(o.occs) AS BIGINT) AS corpus_tokens,
           CAST(sum(coalesce(v.new_types, 0)) AS BIGINT) AS vocab_size
    FROM steps s
    JOIN occ o ON o.decile <= s.decile
    LEFT JOIN new_vocab v ON v.decile = o.decile
    GROUP BY 1
    """


@register("heaps_law_curve", _heaps_oracle())
def heaps_law_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth: cumulative corpus size (token
    occurrences) and vocabulary size (distinct types) at each corpus
    decile, computed from each type's FIRST-occurrence decile — one
    pass, no per-milestone rescan. The curve's flattening rate is what
    sizes tokenizer vocabularies for the NEXT crawl increment, where
    vocab_coverage_curve profiles the corpus you already have.

    Scale: token explode -> (per-decile occurrence counts) + (per-type
    min-decile) — both map-side combinable; the decile join is over
    10 x 10 bounded rows. First-occurrence via min() is the standard
    trick that turns 10 cumulative-distinct problems into one
    aggregation."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    b = d.agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
    dd = d.crossJoin(F.broadcast(b)).select(
        F.least(
            F.expr(
                f"CAST(({HEAPS_STEPS} * (doc_id - lo)) DIV (hi - lo + 1) AS BIGINT)"
            )
            + 1,
            F.lit(HEAPS_STEPS).cast("bigint"),
        ).alias("decile"),
        "text",
    )
    tok = dd.select("decile", F.explode(tokens(F.col("text"))).alias("tok"))
    occ = tok.groupBy("decile").agg(F.count(F.lit(1)).alias("occs"))
    new_vocab = (
        tok.groupBy("tok")
        .agg(F.min("decile").alias("decile"))
        .groupBy("decile")
        .agg(F.count(F.lit(1)).alias("new_types"))
    )
    per = occ.join(new_vocab, "decile", "left").na.fill({"new_types": 0})
    steps = spark.range(1, HEAPS_STEPS + 1).select(F.col("id").alias("decile"))
    return (
        steps.join(F.broadcast(per), per["decile"] <= steps["decile"])
        .groupBy(steps["decile"].cast("bigint").alias("decile"))
        .agg(
            F.sum("occs").cast("bigint").alias("corpus_tokens"),
            F.sum("new_types").cast("bigint").alias("vocab_size"),
        )
    )


# ----------------------------------------------------------------------
# Quantile normalization of per-source doc lengths
# ----------------------------------------------------------------------


@register(
    "quantile_normalize_values",
    """
    WITH d AS (SELECT doc_id, source, n_chars FROM documents),
    s AS (SELECT source, count(*) AS n_s FROM d GROUP BY 1),
    t AS (SELECT count(*) AS n FROM d),
    wr AS (
      SELECT doc_id, source, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars, doc_id) AS r
      FROM d
    ),
    pr AS (
      SELECT n_chars AS norm_val,
             row_number() OVER (ORDER BY n_chars, doc_id) AS grn
      FROM d
    ),
    m AS (
      SELECT wr.source, wr.r, s.n_s,
             1 + ((wr.r - 1) * (t.n - 1)) // greatest(s.n_s - 1, 1) AS pos
      FROM wr JOIN s USING (source) CROSS JOIN t
    ),
    j AS (SELECT m.source, m.r, m.n_s, pr.norm_val
          FROM m JOIN pr ON pr.grn = m.pos)
    SELECT source,
           count(*) AS n_docs,
           round(sum(norm_val) * 1.0 / count(*), 6) AS avg_norm,
           CAST(max(CASE WHEN r = (n_s + 1) // 2 THEN norm_val END)
                AS BIGINT) AS median_norm
    FROM j GROUP BY source
    """,
)
def quantile_normalize_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-normalize each source's doc-length distribution onto
    the pooled corpus distribution: a doc at within-source rank r maps
    to the pooled value at position 1 + (r-1)(N-1)//(n_s-1) — pure
    integer arithmetic, so the mapping is identical on any engine.
    Reported per source: mean and median of the NORMALIZED lengths
    (after normalization all sources should sit on near-identical
    summaries — the residual spread IS the discretization error).

    Scale: the within-source rank is a window partitioned by source
    (each source shuffles independently); the pooled rank is the
    banded `global_row_number` — per-partition local sort + bounded
    offset scan, NO single-partition stage; the rank→value mapping is
    a corpus×corpus equi-join on a dense integer key AQE handles like
    any fact-fact join."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    n_s = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    wr = d.withColumn("r", F.row_number().over(w))
    ranked, total = global_row_number(
        d.select("n_chars", "doc_id"), [F.col("n_chars"), F.col("doc_id")],
        out_col="grn", with_total=True,
    )
    pooled = ranked.select(F.col("n_chars").alias("norm_val"), "grn")
    # `div` is true integer floor division on both engines; a double
    # `/` + floor() could round a just-below-integer quotient up
    m = wr.join(F.broadcast(n_s), "source").withColumn(
        "pos",
        (
            1
            + F.expr(
                f"((r - 1) * CAST({int(total) - 1} AS BIGINT))"
                " div greatest(n_s - 1, 1)"
            )
        ).cast("bigint"),
    )
    j = m.join(pooled, m["pos"] == pooled["grn"])
    return j.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.sum("norm_val") * 1.0 / F.count(F.lit(1)), 6).alias("avg_norm"),
        F.max(
            F.when(F.col("r") == F.expr("(n_s + 1) div 2"), F.col("norm_val"))
        ).cast("bigint").alias("median_norm"),
    )


# ----------------------------------------------------------------------
# Hill tail-index (Zipf alpha) of token frequencies
# ----------------------------------------------------------------------

HILL_K = 100


@register(
    "zipf_tail_alpha",
    f"""
    WITH tok AS (
      SELECT unnest(string_split(trim(text), ' ')) AS t FROM documents
    ),
    freq AS (SELECT t, count(*) AS f FROM tok GROUP BY t),
    top AS (SELECT f FROM freq ORDER BY f DESC, t LIMIT {HILL_K}),
    xmin AS (SELECT min(f) AS fmin FROM top)
    SELECT {HILL_K} AS k,
           CAST(fmin AS BIGINT) AS f_min,
           round(sum(ln(f * 1.0 / fmin)), 6) AS sum_ln,
           CASE WHEN sum(ln(f * 1.0 / fmin)) > 0
                THEN round(1.0 + {HILL_K} / sum(ln(f * 1.0 / fmin)), 6)
                END AS alpha
    FROM top CROSS JOIN xmin
    GROUP BY fmin
    """,
)
def zipf_tail_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the Zipf tail exponent over the 100 most
    frequent tokens: alpha = 1 + k / Σ ln(f_i / f_min). The
    head-heaviness gauge for a crawl — alpha near 2 is classic
    natural-language Zipf; far higher means a synthetic or
    template-heavy corpus.

    Scale: token frequency is the vocab explode+groupBy every text op
    pays; the top-k cut is TakeOrderedAndProject (distributed partial
    top-k, deterministic (f DESC, token) tie-break); everything after
    runs on k rows."""
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(F.split(F.trim("text"), " ")).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    top = freq.orderBy(F.col("f").desc(), "t").limit(HILL_K).select("f")
    fmin = top.agg(F.min("f").cast("bigint").alias("f_min"))
    # per-row ln over the k frequencies, then one sum — association
    # order is irrelevant at round(6) for k=100 O(1)-sized terms
    ex = top.crossJoin(F.broadcast(fmin))
    s = ex.agg(
        F.max("f_min").alias("f_min"),
        F.sum(F.log(F.col("f") * 1.0 / F.col("f_min"))).alias("s"),
    )
    return s.select(
        F.lit(HILL_K).alias("k"),
        "f_min",
        F.round("s", 6).alias("sum_ln"),
        F.when(F.col("s") > 0, F.round(1.0 + F.lit(HILL_K) / F.col("s"), 6)).alias(
            "alpha"
        ),
    )


# ----------------------------------------------------------------------
# PMI bigram collocations
# ----------------------------------------------------------------------

PMI_MIN_COUNT = 5


PMI_TOP = 20


@register(
    "collocation_pmi",
    f"""
    WITH t AS (SELECT string_split(trim(text), ' ') AS w FROM documents),
    uni AS (SELECT unnest(w) AS tok FROM t),
    ucnt AS (SELECT tok, count(*) AS u FROM uni GROUP BY tok),
    utot AS (SELECT count(*) AS t_toks FROM uni),
    bi AS (
      SELECT w[i] AS w1, w[i+1] AS w2
      FROM t, UNNEST(generate_series(1, len(w) - 1)) AS g(i)
    ),
    bcnt AS (SELECT w1, w2, count(*) AS b FROM bi GROUP BY 1, 2),
    btot AS (SELECT count(*) AS t_bi FROM bi),
    scored AS (
      SELECT w1, w2, b,
             CAST(floor(ln(CAST(b AS DOUBLE) * t_toks * t_toks) * 1e6 + 0.5)
                  AS BIGINT)
             - CAST(floor(ln(CAST(t_bi AS DOUBLE) * ua.u * ub.u) * 1e6 + 0.5)
                    AS BIGINT) AS units
      FROM bcnt
      JOIN ucnt ua ON ua.tok = w1
      JOIN ucnt ub ON ub.tok = w2
      CROSS JOIN utot CROSS JOIN btot
      WHERE b >= {PMI_MIN_COUNT}
    )
    SELECT w1, w2, CAST(b AS BIGINT) AS n_pair,
           CAST(floor(units / 100.0 + 0.5) AS BIGINT) / 10000.0 + 0.0 AS pmi
    FROM scored
    ORDER BY units DESC, w1, w2 LIMIT {PMI_TOP}
    """,
)
def collocation_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 bigram collocations by pointwise mutual information,
    min support 5: pmi = ln(b·T² / (B·u1·u2)) over exact unigram and
    adjacent-bigram counts. High-PMI pairs are the multi-word
    expressions worth merging into single vocab entries before BPE
    training.

    Scale: one token explode feeds the unigram count, one positional
    transform feeds the bigram count (both map-side-combined
    groupBys); the scoring joins are token-keyed (vocabulary-sized,
    not corpus-sized), totals ride a 1-row broadcast, and the final
    cut is TakeOrderedAndProject on the deterministic
    (units DESC, w1, w2) key."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.split(F.trim("text"), " ").alias("w"))
    uni = toks.select(F.explode("w").alias("tok"))
    ucnt = uni.groupBy("tok").agg(F.count(F.lit(1)).alias("u"))
    # round 11 (guide §1.2): the totals are row counts of the exploded
    # streams, i.e. exact array-length sums — one explode-free scan
    # each (sum(size(w))) instead of re-running the corpus explode a
    # second time per stream
    utot = toks.agg(F.sum(F.size("w")).cast("bigint").alias("t_toks"))
    bi = (
        toks.where(F.size("w") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 1),"
                    " i -> struct(w[i-1] AS w1, w[i] AS w2))"
                )
            ).alias("g")
        )
        .select("g.w1", "g.w2")
    )
    bcnt = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("b"))
    btot = toks.where(F.size("w") >= 2).agg(
        F.sum(F.size("w") - 1).cast("bigint").alias("t_bi")
    )

    def qln(x):
        return F.floor(F.log(x) * 1e6 + F.lit(0.5)).cast("bigint")

    ua = ucnt.select(F.col("tok").alias("w1"), F.col("u").alias("u1"))
    ub = ucnt.select(F.col("tok").alias("w2"), F.col("u").alias("u2"))
    scored = (
        bcnt.where(F.col("b") >= PMI_MIN_COUNT)
        .join(ua, "w1")
        .join(ub, "w2")
        .crossJoin(F.broadcast(utot))
        .crossJoin(F.broadcast(btot))
        .withColumn(
            "units",
            qln(F.col("b").cast("double") * F.col("t_toks") * F.col("t_toks"))
            - qln(F.col("t_bi").cast("double") * F.col("u1") * F.col("u2")),
        )
    )
    return (
        scored.orderBy(F.col("units").desc(), "w1", "w2")
        .limit(PMI_TOP)
        .select(
            "w1",
            "w2",
            F.col("b").cast("bigint").alias("n_pair"),
            # integer-space half-up to 1e-4: round() on a double
            # diverges between engines at exact .5 ties (the sf5
            # revenue-bridge lesson, applied to every units/1e6 site)
            (
                F.floor(F.col("units") / F.lit(100.0) + F.lit(0.5)).cast("bigint")
                / F.lit(10000.0)
                + F.lit(0.0)
            ).alias("pmi"),
        )
    )


# ----------------------------------------------------------------------
# Pairwise 1-D Wasserstein distances between source length profiles
# ----------------------------------------------------------------------


@register(
    "wasserstein_source_pairs",
    """
    WITH d AS (SELECT source, n_chars AS v FROM documents),
    vals AS (SELECT DISTINCT v FROM d),
    srcs AS (SELECT source, count(*) AS n FROM d GROUP BY source),
    grid AS (SELECT s.source, s.n, vals.v FROM srcs s CROSS JOIN vals),
    cnt AS (SELECT source, v, count(*) AS c FROM d GROUP BY source, v),
    cum AS (
      SELECT g.source, g.n, g.v,
             CAST(sum(coalesce(cnt.c, 0))
                  OVER (PARTITION BY g.source ORDER BY g.v) AS BIGINT) AS cdf
      FROM grid g LEFT JOIN cnt ON cnt.source = g.source AND cnt.v = g.v
    ),
    stepped AS (
      SELECT source, n, v, cdf,
             lead(v) OVER (PARTITION BY source ORDER BY v) - v AS gap
      FROM cum
    ),
    paired AS (
      SELECT a.source AS source_a, b.source AS source_b,
             a.n AS na, b.n AS nb,
             CAST(sum(abs(a.cdf * b.n - b.cdf * a.n) * a.gap) AS BIGINT)
               AS emd_units
      FROM stepped a
      JOIN stepped b ON b.v = a.v AND a.source < b.source
      WHERE a.gap IS NOT NULL
      GROUP BY 1, 2, 3, 4
    )
    SELECT source_a, source_b, emd_units,
           round(emd_units * 1.0 / (na * nb), 6) AS w1
    FROM paired
    """,
)
def wasserstein_source_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise W₁ (earth-mover) distance between per-source
    doc-length distributions via the CDF-area identity: on the merged
    value grid, Σ |cdf_a·n_b − cdf_b·n_a| · Δv is an exact integer
    (emd_units); w1 divides once by n_a·n_b. Unlike the KS statistic
    (already in the catalog), W₁ weighs how FAR mass moved — the
    right metric for ranking which feeds drifted most.

    Scale: the corpus collapses to a (source × distinct-value) grid
    first (histogram shuffle); CDFs are windows partitioned by source
    over that bounded grid; the pair join is value-keyed over the
    grid, never over documents. emd_units stays inside int64 for any
    realistic length domain (cdf·n ≤ N², ×Δv, summed over the grid —
    ~1e17 at the 25× local rung)."""
    d = load_table(spark, sf_dir, "documents").select(
        "source", F.col("n_chars").alias("v")
    )
    vals = d.select("v").distinct()
    srcs = d.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    # |sources| is bounded (a handful of feeds); broadcasting it turns
    # the source x distinct-value grid build into a BroadcastNestedLoop
    # replicated map-side against the value stream — no cartesian
    # shuffle even when the length domain grows with scale.
    grid = F.broadcast(srcs).crossJoin(vals)
    cnt = d.groupBy("source", "v").agg(F.count(F.lit(1)).alias("c"))
    w = (
        Window.partitionBy("source")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        grid.join(cnt, ["source", "v"], "left")
        .withColumn("cdf", F.sum(F.coalesce("c", F.lit(0))).over(w).cast("bigint"))
    )
    lw = Window.partitionBy("source").orderBy("v")
    stepped = cum.select(
        "source", "n", "v", "cdf", (F.lead("v").over(lw) - F.col("v")).alias("gap")
    ).where(F.col("gap").isNotNull())
    a = stepped.select(
        F.col("source").alias("source_a"),
        F.col("n").alias("na"),
        "v",
        F.col("cdf").alias("cdfa"),
        "gap",
    )
    b = stepped.select(
        F.col("source").alias("source_b"),
        F.col("n").alias("nb"),
        "v",
        F.col("cdf").alias("cdfb"),
    )
    paired = (
        a.join(b, "v")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b", "na", "nb")
        .agg(
            F.sum(
                F.abs(F.col("cdfa") * F.col("nb") - F.col("cdfb") * F.col("na"))
                * F.col("gap")
            )
            .cast("bigint")
            .alias("emd_units")
        )
    )
    return paired.select(
        "source_a",
        "source_b",
        "emd_units",
        F.round(F.col("emd_units") * 1.0 / (F.col("na") * F.col("nb")), 6).alias("w1"),
    )


# ----------------------------------------------------------------------
# Mann-Whitney U rank-sum test
# ----------------------------------------------------------------------

MW_SRC_A = "src0"


MW_SRC_B = "src1"


@register(
    "mann_whitney_u",
    f"""
    WITH d AS (
      SELECT n_chars AS v,
             CASE WHEN source = '{MW_SRC_A}' THEN 1 ELSE 0 END AS g1
      FROM documents WHERE source IN ('{MW_SRC_A}', '{MW_SRC_B}')
    ),
    byv AS (
      SELECT v, count(*) AS t, CAST(sum(g1) AS BIGINT) AS t1
      FROM d GROUP BY v
    ),
    ranked AS (
      SELECT v, t, t1,
             CAST(coalesce(sum(t) OVER (ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS below
      FROM byv
    ),
    s AS (
      SELECT CAST(sum(t1) AS BIGINT) AS n1,
             CAST(sum(t - t1) AS BIGINT) AS n2,
             CAST(sum(t1 * (2 * below + t + 1)) AS BIGINT) AS r1_x2,
             CAST(sum(t * t * t - t) AS BIGINT) AS tie_cubes
      FROM ranked
    )
    SELECT n1, n2,
           r1_x2 - n1 * (n1 + 1) AS u1_x2,
           round(((r1_x2 - n1 * (n1 + 1)) / 2.0 - n1 * 1.0 * n2 / 2.0)
                 / sqrt((n1 * 1.0 * n2 / 12.0)
                        * ((n1 + n2 + 1)
                           - tie_cubes * 1.0
                             / ((n1 + n2) * 1.0 * (n1 + n2 - 1)))), 6) AS z
    FROM s
    """,
)
def mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U comparing doc lengths of two sources, with
    midrank tie handling (doubled midranks stay integer: 2·midrank =
    2·count_below + tie_size + 1) and the tie-corrected normal
    approximation. U is reported ×2 so the statistic is an exact
    integer; z is the standard large-sample test value.

    Scale: one histogram shuffle to per-value counts, one BANDED
    exclusive prefix sum over the value grid (bounded by the length
    domain — and still never an unpartitioned window), one 4-number
    reduce."""
    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("source").isin(MW_SRC_A, MW_SRC_B))
        .select(
            F.col("n_chars").alias("v"),
            F.when(F.col("source") == MW_SRC_A, 1).otherwise(0).alias("g1"),
        )
    )
    byv = d.groupBy("v").agg(
        F.count(F.lit(1)).alias("t"), F.sum("g1").cast("bigint").alias("t1")
    )
    # exclusive below-count via the BANDED prefix sum — the frame is
    # value-domain-sized, but the catalog convention is that even
    # dims-sized cumulatives never compile to an unpartitioned window
    from ..operators.packing import global_running_offset

    ranked = global_running_offset(byv, "t", "v", out_col="__below").withColumn(
        "below", F.col("__below").cast("bigint")
    )
    s = ranked.agg(
        F.sum("t1").cast("bigint").alias("n1"),
        F.sum(F.col("t") - F.col("t1")).cast("bigint").alias("n2"),
        F.sum(F.col("t1") * (2 * F.col("below") + F.col("t") + 1))
        .cast("bigint")
        .alias("r1_x2"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("bigint")
        .alias("tie_cubes"),
    )
    u1_x2 = F.col("r1_x2") - F.col("n1") * (F.col("n1") + 1)
    n1, n2 = F.col("n1"), F.col("n2")
    mean_shift = u1_x2 / 2.0 - n1 * 1.0 * n2 / 2.0
    var = (n1 * 1.0 * n2 / 12.0) * (
        (n1 + n2 + 1)
        - F.col("tie_cubes") * 1.0 / ((n1 + n2) * 1.0 * (n1 + n2 - 1))
    )
    return s.select(
        "n1",
        "n2",
        u1_x2.alias("u1_x2"),
        F.round(mean_shift / F.sqrt(var), 6).alias("z"),
    )


# ----------------------------------------------------------------------
# Smoothed unigram cross-entropy between sources
# ----------------------------------------------------------------------


@register(
    "cross_entropy_matrix",
    """
    WITH toks AS (
      SELECT source, unnest(string_split(trim(text), ' ')) AS tok
      FROM documents
    ),
    cnt AS (SELECT source, tok, count(*) AS c FROM toks GROUP BY 1, 2),
    tot AS (SELECT source, CAST(count(*) AS BIGINT) AS t FROM toks GROUP BY 1),
    voc AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v FROM toks),
    grid AS (
      SELECT a.source AS source_a, a.tok, a.c AS ca, s.source AS source_b
      FROM cnt a CROSS JOIN (SELECT source FROM tot) s
    ),
    scored AS (
      SELECT g.source_a, g.source_b, g.ca,
             CAST(floor(ln((coalesce(b.c, 0) + 1) * 1.0 / (tb.t + voc.v))
                        * 1000000.0 + 0.5) AS BIGINT) AS qlnq
      FROM grid g
      LEFT JOIN cnt b ON b.source = g.source_b AND b.tok = g.tok
      JOIN tot tb ON tb.source = g.source_b
      CROSS JOIN voc
    )
    SELECT source_a, source_b,
           CAST(sum(ca * qlnq) AS BIGINT) AS units,
           round(-(CAST(sum(ca * qlnq) AS DOUBLE) / 1000000.0)
                 / ta.t, 4) AS cross_entropy_nats
    FROM scored JOIN tot ta ON ta.source = source_a
    GROUP BY source_a, source_b, ta.t
    """,
)
def cross_entropy_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram cross-entropy H(a‖b) = −Σ_t p_a(t)·ln q_b(t) for every
    ordered source pair, with add-one smoothing on the model side
    (q_b(t) = (c_b(t)+1)/(T_b+V)) so unseen tokens cost a finite,
    deterministic penalty. The diagonal is each source's own entropy
    (+smoothing bias); off-diagonal asymmetry is directional KL. This
    is the content-drift matrix; `wasserstein_source_pairs` is the
    length-drift one.

    Scale: everything after the token explode is vocabulary-sized —
    counts, the S-way grid, and the token-keyed LEFT join; per-pair
    contributions are exact integer unit sums (the quantized-ln
    convention), divided once per cell."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split(F.trim("text"), " ")).alias("tok")
    )
    cnt = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    tot = toks.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    voc = toks.agg(F.count_distinct("tok").cast("bigint").alias("v"))
    srcs = tot.select("source")
    grid = (
        cnt.select(
            F.col("source").alias("source_a"), "tok", F.col("c").alias("ca")
        )
        .crossJoin(F.broadcast(srcs.select(F.col("source").alias("source_b"))))
    )
    b = cnt.select(
        F.col("source").alias("source_b"), "tok", F.col("c").alias("cb")
    )
    tb = tot.select(F.col("source").alias("source_b"), F.col("t").alias("tb"))
    scored = (
        grid.join(b, ["source_b", "tok"], "left")
        .join(F.broadcast(tb), "source_b")
        .crossJoin(F.broadcast(voc))
        .withColumn(
            "qlnq",
            F.floor(
                F.log(
                    (F.coalesce(F.col("cb"), F.lit(0)) + 1)
                    * 1.0
                    / (F.col("tb") + F.col("v"))
                )
                * 1000000.0
                + F.lit(0.5)
            ).cast("bigint"),
        )
    )
    ta = tot.select(F.col("source").alias("source_a"), F.col("t").alias("ta"))
    return (
        scored.groupBy("source_a", "source_b")
        .agg(F.sum(F.col("ca") * F.col("qlnq")).cast("bigint").alias("units"))
        .join(F.broadcast(ta), "source_a")
        .select(
            "source_a",
            "source_b",
            "units",
            F.round(
                -(F.col("units").cast("double") / 1000000.0) / F.col("ta"), 4
            ).alias("cross_entropy_nats"),
        )
    )


# ----------------------------------------------------------------------
# Quality (unigram-LM logprob) threshold sweep
# ----------------------------------------------------------------------

QUALITY_CUTS_MICRO = tuple(range(-7_500_000, -5_499_999, 500_000))


@register(
    "quality_threshold_sweep",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok FROM documents
    ),
    freq AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
    tot AS (SELECT count(*) AS t FROM toks),
    scored AS (
      SELECT doc_id, count(*) AS n_tokens,
             CAST(sum(CAST(floor(ln(c * 1.0 / t) * 1000000.0 + 0.5) AS BIGINT))
                  AS BIGINT) AS units
      FROM toks JOIN freq USING (tok) CROSS JOIN tot
      GROUP BY doc_id
    ),
    grid AS (SELECT unnest([{", ".join(str(c) for c in QUALITY_CUTS_MICRO)}])
                    AS cut_micro),
    kept AS (
      SELECT g.cut_micro,
             count(*) AS n_docs_kept,
             CAST(sum(s.n_tokens) AS BIGINT) AS n_tokens_kept
      FROM grid g JOIN scored s ON s.units >= g.cut_micro * s.n_tokens
      GROUP BY g.cut_micro
    ),
    tot_docs AS (SELECT count(*) AS nd FROM scored)
    SELECT CAST(g.cut_micro AS BIGINT) AS cut_micro,
           CAST(coalesce(k.n_docs_kept, 0) AS BIGINT) AS n_docs_kept,
           CAST(coalesce(k.n_tokens_kept, 0) AS BIGINT) AS n_tokens_kept,
           round(coalesce(k.n_docs_kept, 0) * 1.0 / td.nd, 6) AS doc_keep_rate
    FROM grid g LEFT JOIN kept k ON k.cut_micro = g.cut_micro
    CROSS JOIN tot_docs td
    """,
)
def quality_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents and tokens retained at five unigram-LM mean-logprob
    cutoffs (−7.5 to −5.5 nats, integer micro-nat units) — the
    filter-calibration table behind a perplexity-style quality gate.
    The keep test compares exact integer unit SUMS against
    cut·n_tokens, so no per-doc float division ever happens: the same
    doc is kept or dropped on every engine, bit-for-bit.

    Scale: one token explode + vocab join (the unigram_logprob
    machinery), one 5-row broadcast sweep over the per-doc score
    table."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.trim("text"), " ")).alias("tok")
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    tot = toks.agg(F.count(F.lit(1)).alias("t"))
    scored = (
        toks.join(freq, "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.floor(
                    F.log(F.col("c") * 1.0 / F.col("t")) * 1000000.0 + F.lit(0.5)
                ).cast("bigint")
            )
            .cast("bigint")
            .alias("units"),
        )
    )
    grid = spark.range(1).select(
        F.explode(F.array(*[F.lit(c) for c in QUALITY_CUTS_MICRO])).alias("cut_micro")
    )
    kept = (
        scored.crossJoin(F.broadcast(grid))
        .where(F.col("units") >= F.col("cut_micro") * F.col("n_tokens"))
        .groupBy("cut_micro")
        .agg(
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens_kept"),
        )
    )
    td = scored.agg(F.count(F.lit(1)).alias("nd"))
    return (
        grid.join(kept, "cut_micro", "left")
        .crossJoin(F.broadcast(td))
        .select(
            F.col("cut_micro").cast("bigint").alias("cut_micro"),
            F.coalesce("n_docs_kept", F.lit(0)).cast("bigint").alias("n_docs_kept"),
            F.coalesce("n_tokens_kept", F.lit(0))
            .cast("bigint")
            .alias("n_tokens_kept"),
            F.round(
                F.coalesce("n_docs_kept", F.lit(0)) * 1.0 / F.col("nd"), 6
            ).alias("doc_keep_rate"),
        )
    )
