"""Similarity family: exact and approximate k-NN (brute force, LSH,
IVF, PQ), lexical and hybrid search, fuzzy matching, batched
inference, embedding statistics and retrieval evaluation
(operators.similarity, search, inference, fuzzy, and queries over the
``embeddings`` table).

Oracle notes: cosine math is written with explicit double casts on
both sides (DuckDB's list_cosine_similarity is float32 — NOT used).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import similarity
from ..operators.similarity import _d2_int, covariance_partials, qvec
from ..operators.textops import tokens
from ..queries import register
from ..session import load_table


# ----------------------------------------------------------------------
# Similarity search
# ----------------------------------------------------------------------

@register(
    "knn_brute_force",
    """
    WITH v AS (
      SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS e FROM embeddings
    ),
    n AS (SELECT vec_id, e, sqrt(list_sum([x*x FOR x IN e])) AS nrm FROM v),
    q AS (SELECT * FROM n WHERE vec_id < 5),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(list_sum(list_zip(q.e, c.e).apply(p -> p[1]*p[2])) / (q.nrm*c.nrm), 6) AS cosine
      FROM q JOIN n c ON c.vec_id != q.vec_id
    )
    SELECT query_id, neighbor_id, cosine, rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM scored
    ) WHERE rnk <= 10
    """,
)
def knn_brute_force(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    return similarity.brute_force_topk(emb, queries_df, k=10).select(
        "query_id", "neighbor_id", "cosine", "rnk"
    )


# k-NN oracles: quantize to BIGINT (floor(x*1e6 + 0.5)), md5-derived
# ±1 planes, argmin integer-d² cells — every candidate decision the
# Spark side makes is an exact integer the oracle recomputes
# bit-for-bit (the dedup_simhash_md5 pattern applied to similarity);
# the re-rank is integer d² or brute_force_topk's rounded cosine.

_QV = "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))"

#: the cosine re-rank's per-vector columns: the double vector and its norm
_E = (
    ", [CAST(x AS DOUBLE) FOR x IN embedding] AS e,"
    " sqrt(list_sum([CAST(x AS DOUBLE)*CAST(x AS DOUBLE) FOR x IN embedding])) AS nrm"
)


_PAIR_D2 = "CAST(list_sum(list_zip({a}, {b}).apply(p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT)"


_SIGN = (
    "(CASE WHEN ('0x' || substr(md5(CAST({p} AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 8))::BIGINT"
    " % 2 = 1 THEN 1 ELSE -1 END)"
)


def _rerank(cosine: bool, c: str) -> tuple[str, str, str]:
    """The k-NN oracles' shared re-rank of candidate pairs (qs, c):
    (the columns a vector row carries past q, the score column of
    `scored`, the ranked top-10 over `scored`), by integer d² or by
    brute_force_topk's rounded cosine."""
    if cosine:
        score = f"round(list_sum(list_zip(qs.e, {c}.e).apply(p -> p[1]*p[2])) / (qs.nrm*{c}.nrm), 6)"
        carry, col, order = ", e, nrm", "cosine", "cosine DESC, neighbor_id"
    else:
        carry, col, order = "", "d2", "d2, neighbor_id"
        score = _PAIR_D2.format(a="qs.q", b=f"{c}.q")
    return carry, f"{score} AS {col}", f"""
    SELECT query_id, neighbor_id, {col}, rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY {order}) AS rnk
      FROM scored
    ) WHERE rnk <= 10
    """


def _lsh_int_oracle(n_planes: int = 8, cosine: bool = False) -> str:
    """DuckDB twin of similarity.int_lsh_neighbors (or, with cosine,
    lsh_bucketed_neighbors): per-plane integer Rademacher projections
    via the (x, i) indexed lambda."""
    bucket = "\n           + ".join(
        f"CASE WHEN list_sum(list_transform(q, (x, i) -> x * {_SIGN.format(p=p)})) >= 0"
        f" THEN {1 << p} ELSE 0 END"
        for p in range(n_planes)
    )
    carry, score, top10 = _rerank(cosine, "c")
    return f"""
    WITH v AS (SELECT vec_id, {_QV} AS q{_E if cosine else ""} FROM embeddings),
    b AS (
      SELECT vec_id, q{carry},
           {bucket} AS bucket
      FROM v
    ),
    scored AS (
      SELECT qs.vec_id AS query_id, c.vec_id AS neighbor_id,
             {score}
      FROM (SELECT * FROM b WHERE vec_id < 5) qs
      JOIN b c ON c.bucket = qs.bucket AND c.vec_id != qs.vec_id
    ){top10}"""


def _ivf_int_oracle(n_lists: int = 8, n_probe: int = 1, cosine: bool = False) -> str:
    """DuckDB twin of similarity.int_ivf_neighbors (or, with cosine,
    ivf_neighbors): pinned lowest-id seeds, argmin integer-d²
    assignment (tie → lowest cell); a query probes its n_probe
    nearest cells under the same tie rule."""
    carry, score, top10 = _rerank(cosine, "a")
    qs = "SELECT * FROM assign WHERE vec_id < 5"
    if n_probe > 1:
        qs = f"""
        SELECT vec_id, q{carry}, c AS cell FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, c) AS rn
          FROM dist WHERE vec_id < 5
        ) WHERE rn <= {n_probe}
      """
    return f"""
    WITH v AS (SELECT vec_id, {_QV} AS q{_E if cosine else ""} FROM embeddings),
    cent AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, q AS cq
      FROM (SELECT vec_id, q FROM v ORDER BY vec_id LIMIT {n_lists})
    ),
    dist AS (
      SELECT v.vec_id, v.q{carry}, cent.c,
             {_PAIR_D2.format(a="v.q", b="cent.cq")} AS d2
      FROM v, cent
    ),
    assign AS (
      SELECT vec_id, q{carry}, c AS cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, c) AS rn
        FROM dist
      ) WHERE rn = 1
    ),
    scored AS (
      SELECT qs.vec_id AS query_id, a.vec_id AS neighbor_id,
             {score}
      FROM ({qs}) qs
      JOIN assign a ON a.cell = qs.cell AND a.vec_id != qs.vec_id
    ){top10}"""


def _lsh_multi_oracle(n_planes: int = 8, n_tables: int = 2) -> str:
    """DuckDB twin of similarity.int_lsh_multi_neighbors: n_tables
    independent plane sets (table t uses global plane indices
    t*n_planes + p), a candidate qualifies if it shares a bucket in ANY
    table (the OR-join is the SQL form of the Spark side's
    union-then-distinct), then one exact integer-d² re-rank."""
    buckets = []
    for t in range(n_tables):
        b = "\n           + ".join(
            f"CASE WHEN list_sum(list_transform(q, (x, i) -> x * {_SIGN.format(p=t * n_planes + p)})) >= 0"
            f" THEN {1 << p} ELSE 0 END"
            for p in range(n_planes)
        )
        buckets.append(f"{b} AS b{t}")
    bucket_cols = ",\n           ".join(buckets)
    any_match = " OR ".join(f"c.b{t} = qs.b{t}" for t in range(n_tables))
    return f"""
    WITH v AS (SELECT vec_id, {_QV} AS q FROM embeddings),
    b AS (
      SELECT vec_id, q,
           {bucket_cols}
      FROM v
    ),
    scored AS (
      SELECT qs.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_PAIR_D2.format(a="qs.q", b="c.q")} AS d2
      FROM (SELECT * FROM b WHERE vec_id < 5) qs
      JOIN b c ON ({any_match}) AND c.vec_id != qs.vec_id
    ){_rerank(False, "c")[2]}"""


@register("knn_lsh_bucketed", _lsh_int_oracle(cosine=True))
def knn_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate cosine neighbors (similarity.lsh_bucketed_neighbors):
    knn_lsh_int's bucket candidates re-ranked by exact cosine."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    return similarity.lsh_bucketed_neighbors(emb, queries_df, k=10).select(
        "query_id", "neighbor_id", "cosine", "rnk"
    )


@register("knn_ivf", _ivf_int_oracle(n_probe=3, cosine=True))
def knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate cosine neighbors (similarity.ivf_neighbors): the
    query's 3 nearest of knn_ivf_int's 8 cells, re-ranked by exact
    cosine."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    return similarity.ivf_neighbors(emb, queries_df, k=10, n_lists=8, n_probe=3).select(
        "query_id", "neighbor_id", "cosine", "rnk"
    )


@register("knn_lsh_int", _lsh_int_oracle())
def knn_lsh_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH neighbors by integer d² (similarity.int_lsh_neighbors):
    knn_lsh_bucketed's candidates under the integer re-rank."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    return similarity.int_lsh_neighbors(emb, queries_df, k=10).select(
        "query_id", "neighbor_id", "d2", "rnk"
    )


@register("knn_lsh_multi", _lsh_multi_oracle())
def knn_lsh_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked multi-table LSH (similarity.int_lsh_multi_
    neighbors): 2 independent plane sets, candidates unioned across
    tables before the exact re-rank — the standard recall amplifier,
    value-hash-verified against the OR-join SQL form."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    return similarity.int_lsh_multi_neighbors(
        emb, queries_df, k=10, n_tables=2
    ).select("query_id", "neighbor_id", "d2", "rnk")


@register("knn_ivf_int", _ivf_int_oracle())
def knn_ivf_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF neighbors by integer d² (similarity.int_ivf_neighbors):
    knn_ivf's cells, probing 1 cell, under the integer re-rank."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    return similarity.int_ivf_neighbors(emb, queries_df, k=10).select(
        "query_id", "neighbor_id", "d2", "rnk"
    )


@register(
    "array_ops_embeddings",
    """
    SELECT vec_id,
           round(sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))), 4) AS l2_norm,
           len(list_filter(embedding, x -> x > 0)) AS n_positive,
           round(CAST(list_max(embedding) AS DOUBLE), 4) AS max_component
    FROM embeddings
    WHERE vec_id < 100
    """,
)
def array_ops_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions over the embedding column — the
    JVM-side (no-UDF) path for vector math: transform/aggregate/filter
    stay inside whole-stage codegen."""
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    sq = F.transform(F.col("embedding"), lambda x: x.cast("double") * x)
    return e.select(
        "vec_id",
        F.round(F.sqrt(F.aggregate(sq, F.lit(0.0), lambda a, x: a + x)), 4).alias("l2_norm"),
        F.size(F.filter(F.col("embedding"), lambda x: x > 0)).alias("n_positive"),
        F.round(F.array_max("embedding").cast("double"), 4).alias("max_component"),
    )


@register(
    "inference_batch_score",
    f"""
    SELECT vec_id,
           round(1.0 / (1.0 + exp(-list_dot_product(
                 list_transform(embedding, x -> CAST(x AS DOUBLE)),
                 {'[' + ', '.join(str(((j % 7) - 3) / 10.0) for j in range(64)) + ']'}))), 4) AS score
    FROM embeddings
    """,
)
def inference_batch_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched model inference: sigmoid(emb . w) via mapInPandas
    with per-task model setup and broadcast parameters — the quality-
    classifier/reward-scorer shape (operators/inference.py). The
    linear model is deliberately trivial so DuckDB can replay it;
    the Spark plumbing (iterator pattern, broadcast, vectorized
    batches) is the real artifact."""
    from ..operators.inference import batch_score, default_weights

    emb = load_table(spark, sf_dir, "embeddings")
    scored = batch_score(emb, default_weights(64))
    return scored.select("vec_id", F.round("score", 4).alias("score"))


@register(
    "knn_filtered",
    """
    WITH v AS (
      SELECT vec_id, label, [CAST(x AS DOUBLE) FOR x IN embedding] AS e FROM embeddings
    ),
    n AS (SELECT vec_id, label, e, sqrt(list_sum([x*x FOR x IN e])) AS nrm FROM v),
    q AS (SELECT * FROM n WHERE vec_id < 5),
    c AS (SELECT * FROM n WHERE label = 1),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(list_sum(list_zip(q.e, c.e).apply(p -> p[1]*p[2])) / (q.nrm*c.nrm), 6) AS cosine
      FROM q JOIN c ON c.vec_id != q.vec_id
    )
    SELECT query_id, neighbor_id, cosine, rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM scored
    ) WHERE rnk <= 10
    """,
)
def knn_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid (filtered) vector search: exact top-k cosine among only
    the corpus vectors passing a metadata predicate (label = 1) — the
    filter composes BEFORE the distance work and pushes to the parquet
    scan, so the excluded vectors are never read, let alone scored.
    Same broadcast-query / partial-top-k shape as knn_brute_force."""
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("label") == 1)
    queries_df = emb.filter(F.col("vec_id") < 5)
    return similarity.brute_force_topk(corpus, queries_df, k=10).select(
        "query_id", "neighbor_id", "cosine", "rnk"
    )


@register(
    "fuzzy_name_pairs",
    """
    WITH v AS (SELECT DISTINCT s_name FROM supplier)
    SELECT a.s_name AS name_a, b.s_name AS name_b,
           levenshtein(a.s_name, b.s_name) AS dist
    FROM v a, v b
    WHERE a.s_name < b.s_name AND levenshtein(a.s_name, b.s_name) <= 1
    """,
)
def fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-1 entity pairs via deletion-neighborhood blocking
    (operators/fuzzy.fuzzy_self_pairs). The oracle is the O(n²)
    levenshtein cross join over DISTINCT names — fuzzy_self_pairs
    declares distinct-VALUE pairs, and the two only coincide while
    names are unique (sf1's replicated copies exposed the old
    row-pair oracle as 100x over: 10 duplicate rows per name on each
    side). The blocked path must find exactly the same value pairs
    without ever materializing n²."""
    from ..operators.fuzzy import fuzzy_self_pairs

    return fuzzy_self_pairs(load_table(spark, sf_dir, "supplier"), "s_name")


@register(
    "lexical_search_topk",
    """
    WITH tf AS (
      SELECT doc_id, tok AS term, count(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok
            FROM documents)
      GROUP BY doc_id, tok
    )
    SELECT doc_id,
           CAST(sum(tf) AS BIGINT) AS total_tf,
           count(*) AS n_terms_matched
    FROM tf WHERE term IN ('vector', 'hash', 'merge')
    GROUP BY doc_id
    ORDER BY total_tf DESC, n_terms_matched DESC, doc_id
    LIMIT 10
    """,
)
def lexical_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index lexical search (operators/search.lexical_topk):
    integer-exact query-term-frequency ranking with a total-order
    tie-break. The float-BM25 twin (search.bm25_topk) is pytest-pinned
    against a driver-side reference; this spelling is the
    cross-engine-hashable one."""
    from ..operators.search import lexical_topk

    docs = load_table(spark, sf_dir, "documents")
    return lexical_topk(docs, ["vector", "hash", "merge"], k=10)


@register(
    "hybrid_search_rrf",
    """
    WITH tf AS (
      SELECT doc_id, tok AS term, count(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok
            FROM documents)
      GROUP BY doc_id, tok
    ),
    lex AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY total_tf DESC, n_terms DESC, doc_id)
               AS rank
      FROM (
        SELECT doc_id, sum(tf) AS total_tf, count(*) AS n_terms
        FROM tf WHERE term IN ('vector', 'hash', 'merge')
        GROUP BY doc_id
        ORDER BY total_tf DESC, n_terms DESC, doc_id LIMIT 20
      )
    ),
    v AS (
      SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS e FROM embeddings
    ),
    n AS (SELECT vec_id, e, sqrt(list_sum([x*x FOR x IN e])) AS nrm FROM v),
    q AS (SELECT * FROM n WHERE vec_id = 0),
    vec AS (
      SELECT doc_id, row_number() OVER (ORDER BY cosine DESC, doc_id) AS rank
      FROM (
        SELECT c.vec_id AS doc_id,
               round(list_sum(list_zip(q.e, c.e).apply(p -> p[1]*p[2]))
                     / (q.nrm*c.nrm), 6) AS cosine
        FROM q JOIN n c ON c.vec_id != q.vec_id
        ORDER BY cosine DESC, doc_id LIMIT 20
      )
    )
    SELECT doc_id,
           round(sum(1.0 / (60 + rank)), 6) AS rrf_score,
           count(*) AS n_sources
    FROM (SELECT * FROM lex UNION ALL SELECT * FROM vec)
    GROUP BY doc_id
    ORDER BY rrf_score DESC, doc_id
    LIMIT 10
    """,
)
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: lexical top-20 (term frequency) and vector
    top-20 (cosine around the vec_id=0 embedding) fused by reciprocal
    rank (search.rrf_fuse, k=60). The synthetic corpora align doc i
    with embedding i, so both retrievers rank the same id space. Each
    retrieval keeps its own scale shape; fusion itself is a tiny
    union + groupBy."""
    from ..operators.search import lexical_topk, rrf_fuse
    from ..operators.similarity import brute_force_topk

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")

    lex = lexical_topk(docs, ["vector", "hash", "merge"], k=20)
    lex_ranked = lex.select(
        "doc_id",
        F.row_number()
        .over(
            # 20-row frame: single-partition window is intended
            Window.partitionBy(F.lit(0)).orderBy(
                F.col("total_tf").desc(), F.col("n_terms_matched").desc(), F.col("doc_id")
            )
        )
        .alias("rank"),
    )
    vec = brute_force_topk(emb, emb.filter(F.col("vec_id") == 0), k=20)
    vec_ranked = vec.select(F.col("neighbor_id").alias("doc_id"), F.col("rnk").alias("rank"))
    return rrf_fuse([lex_ranked, vec_ranked], id_col="doc_id", k=60).limit(10)


@register(
    "embedding_quantize_error",
    """
    WITH v AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    q AS (
      SELECT vec_id, label, v, list_min(v) AS mn,
             (list_max(v) - list_min(v)) / 255.0 AS sc
      FROM v
    ),
    e AS (
      SELECT label, len(v) AS d,
             CASE WHEN sc = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
                  ELSE list_transform(v, x ->
                    CAST(floor(abs(x - (mn + floor((x - mn) / sc + 0.5) * sc))
                               * 1000000000.0 + 0.5) AS BIGINT)) END AS qe
      FROM q
    )
    SELECT label, count(*) AS n_vecs,
           round(CAST(sum(list_sum(qe)) AS DOUBLE) / sum(d) / 1000000000.0, 6)
             AS avg_abs_err,
           round(CAST(max(list_max(qe)) AS DOUBLE) / 1000000000.0, 6)
             AS max_abs_err
    FROM e GROUP BY label ORDER BY label
    """,
)
def embedding_quantize_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 vector compression quality (similarity.quantize_int8): per
    label, mean and max absolute reconstruction error. Errors are
    quantized to integer nano-units per element, so the per-vector and
    per-label reductions are exact integer sums — engine- and
    partition-order-independent. One map-only pass plus a label-keyed
    aggregate."""
    from ..operators.similarity import quantize_int8

    e = load_table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    src = e.select("vec_id", "label", v.alias("__v"))
    q = quantize_int8(e)
    j = src.join(q, "vec_id")
    recon_err = F.zip_with(
        F.col("__v"),
        F.col("codes"),
        lambda x, c: F.floor(
            F.abs(x - (F.col("vmin") + c.cast("double") * F.col("vscale")))
            * F.lit(1_000_000_000.0)
            + F.lit(0.5)
        ).cast("bigint"),
    )
    per_vec = j.select(
        "label",
        F.size("__v").alias("d"),
        recon_err.alias("qe"),
    ).select(
        "label",
        "d",
        F.aggregate("qe", F.lit(0).cast("bigint"), lambda a, x: a + x).alias("sum_qe"),
        F.array_max("qe").alias("max_qe"),
    )
    return (
        per_vec.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(
                F.sum("sum_qe").cast("double") / F.sum("d") / 1_000_000_000.0, 6
            ).alias("avg_abs_err"),
            F.round(F.max("max_qe").cast("double") / 1_000_000_000.0, 6).alias(
                "max_abs_err"
            ),
        )
        .orderBy("label")
    )


# ----------------------------------------------------------------------
# Embedding classification: per-label centroids + nearest-centroid
# ----------------------------------------------------------------------

@register(
    "label_centroids",
    """
    WITH dims AS (
      SELECT unnest(range(1, (SELECT CAST(max(len(embedding)) + 1 AS BIGINT)
                              FROM embeddings))) AS d
    ),
    ex AS (
      SELECT label, d,
             CAST(floor(CAST(embedding[d] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS xq
      FROM embeddings CROSS JOIN dims
    ),
    agg AS (
      SELECT label, d, count(*) AS n_vecs, CAST(sum(xq) AS BIGINT) AS s
      FROM ex GROUP BY 1, 2
    )
    SELECT label, d - 1 AS dim, n_vecs,
           round(CAST(s AS DOUBLE) / n_vecs / 1000000.0, 6) + 0.0 AS centroid
    FROM agg
    """,
)
def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class mean embedding (class centroids — the building block
    of centroid classifiers, semantic sharding, and prototype search).
    Each float is quantized to exact micro-units per (label, dim) so the
    mean is an integer sum divided once — order-independent and
    engine-portable. posexplode is map-side only; the single shuffle
    carries |labels| x dims groups."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label", F.posexplode("embedding").alias("dim", "xv")
    ).select(
        "label",
        "dim",
        F.floor(F.col("xv").cast("double") * 1000000 + F.lit(0.5))
        .cast("bigint")
        .alias("xq"),
    )
    agg = ex.groupBy("label", "dim").agg(
        F.count(F.lit(1)).alias("n_vecs"), F.sum("xq").alias("s")
    )
    return agg.select(
        "label",
        "dim",
        "n_vecs",
        (
            F.round(
                F.col("s").cast("double") / F.col("n_vecs") / F.lit(1000000.0), 6
            )
            + F.lit(0.0)
        ).alias("centroid"),
    )


@register(
    "nearest_centroid_confusion",
    """
    WITH dims AS (
      SELECT unnest(range(1, (SELECT CAST(max(len(embedding)) + 1 AS BIGINT)
                              FROM embeddings))) AS d
    ),
    ex AS (
      SELECT vec_id, label, d,
             CAST(floor(CAST(embedding[d] AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS xq
      FROM embeddings CROSS JOIN dims
    ),
    cents AS (
      SELECT label AS pred_label, d,
             CAST(floor(CAST(sum(xq) AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS cq
      FROM ex GROUP BY 1, 2
    ),
    dist AS (
      SELECT ex.vec_id, ex.label, cents.pred_label,
             CAST(sum((xq - cq) * (xq - cq)) AS BIGINT) AS dist
      FROM ex JOIN cents ON ex.d = cents.d
      GROUP BY 1, 2, 3
    ),
    best AS (
      SELECT vec_id, label, pred_label,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY dist, pred_label) AS rn
      FROM dist
    )
    SELECT label AS true_label, pred_label, count(*) AS n
    FROM best WHERE rn = 1 GROUP BY 1, 2
    """,
)
def nearest_centroid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classification with a confusion matrix: every
    vector is assigned to the closest class centroid (squared L2 in
    exact milli-unit integers — distances, and thus the argmin, are
    engine-portable; ties break toward the lower label).

    Scale: centroids are |labels| x dims rows — broadcast. The explode
    + join + per-vector aggregate is one linear pass; the argmin window
    partitions by vec_id. No all-pairs anywhere; the train step is the
    same single aggregate as label_centroids."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("dim", "xv")
    ).select(
        "vec_id",
        "label",
        "dim",
        F.floor(F.col("xv").cast("double") * 1000 + F.lit(0.5))
        .cast("bigint")
        .alias("xq"),
    )
    cents = (
        ex.groupBy(F.col("label").alias("pred_label"), "dim")
        .agg(F.count(F.lit(1)).alias("nv"), F.sum("xq").alias("s"))
        .select(
            "pred_label",
            "dim",
            F.floor(F.col("s").cast("double") / F.col("nv") + F.lit(0.5))
            .cast("bigint")
            .alias("cq"),
        )
    )
    d = F.col("xq") - F.col("cq")
    dist = (
        ex.join(F.broadcast(cents), "dim")
        .groupBy("vec_id", "label", "pred_label")
        .agg(F.sum(d * d).alias("dist"))
    )
    w = Window.partitionBy("vec_id").orderBy("dist", "pred_label")
    best = dist.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return best.groupBy(
        F.col("label").alias("true_label"), "pred_label"
    ).agg(F.count(F.lit(1)).alias("n"))


# ----------------------------------------------------------------------
# Retrieval evaluation: NDCG@10 of exact kNN vs label relevance
# ----------------------------------------------------------------------

@register(
    "ndcg_retrieval_eval",
    """
    WITH v AS (
      SELECT vec_id, label, [CAST(x AS DOUBLE) FOR x IN embedding] AS e
      FROM embeddings
    ),
    n AS (SELECT vec_id, label, e, sqrt(list_sum([x*x FOR x IN e])) AS nrm FROM v),
    q AS (SELECT * FROM n WHERE vec_id < 5),
    scored AS (
      SELECT q.vec_id AS query_id, q.label AS qlabel,
             c.vec_id AS neighbor_id, c.label AS nlabel,
             round(list_sum(list_zip(q.e, c.e).apply(p -> p[1]*p[2]))
                   / (q.nrm*c.nrm), 6) AS cosine
      FROM q JOIN n c ON c.vec_id != q.vec_id
    ),
    top AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rnk
        FROM scored
      ) WHERE rnk <= 10
    ),
    dcg AS (
      SELECT query_id,
             CAST(sum(CASE WHEN qlabel = nlabel THEN
               CAST(floor(1000000.0 / (ln(rnk + 1) / ln(2)) + 0.5) AS BIGINT)
               ELSE 0 END) AS BIGINT) AS dcg_units
      FROM top GROUP BY query_id
    ),
    corpus AS (SELECT label, count(*) AS cnt FROM v GROUP BY label),
    nrel AS (
      SELECT q.vec_id AS query_id, corpus.cnt - 1 AS n_rel
      FROM q JOIN corpus ON corpus.label = q.label
    ),
    ideal AS (
      SELECT query_id, n_rel,
             CAST(sum(CAST(floor(1000000.0 / (ln(i + 1) / ln(2)) + 0.5) AS BIGINT))
                  AS BIGINT) AS idcg_units
      FROM nrel, UNNEST(generate_series(1, 10)) AS g(i)
      WHERE i <= n_rel
      GROUP BY query_id, n_rel
    )
    SELECT dcg.query_id, CAST(n_rel AS BIGINT) AS n_rel, dcg_units, idcg_units,
           round(CAST(dcg_units AS DOUBLE) / idcg_units, 6) AS ndcg
    FROM dcg JOIN ideal USING (query_id)
    """,
)
def ndcg_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation: NDCG@10 of the exact cosine kNN
    (same ranking as knn_brute_force) where a neighbor is relevant iff
    it shares the query's label. Per-rank discounts 1/log2(rank+1) are
    quantized to micro-units BEFORE summing, so DCG/IDCG are exact
    integers and the one double division at the end is deterministic.
    The ideal DCG uses min(k, #relevant-in-corpus) ranks — textbook
    NDCG, not the top-k-only shortcut.

    Scale: rides brute_force_topk (the intentionally-exact verifier);
    evaluating an ANN variant swaps one input. Label counts and the
    query frame broadcast; everything downstream of the kNN is
    |queries| x k rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    top = similarity.brute_force_topk(emb, queries_df, k=10)
    qlab = queries_df.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("qlabel")
    )
    nlab = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nlabel")
    )
    discount = lambda rank: (  # noqa: E731 — shared spelling, see module doc
        F.floor(
            F.lit(1000000.0) / (F.log(rank + 1) / F.log(F.lit(2.0))) + F.lit(0.5)
        ).cast("bigint")
    )
    rel = top.join(F.broadcast(qlab), "query_id").join(nlab, "neighbor_id")
    dcg = rel.groupBy("query_id").agg(
        F.sum(
            F.when(F.col("qlabel") == F.col("nlabel"), discount(F.col("rnk"))).otherwise(
                F.lit(0)
            )
        ).alias("dcg_units")
    )
    corpus = emb.groupBy("label").agg(F.count(F.lit(1)).alias("cnt"))
    nrel = qlab.join(
        F.broadcast(corpus), qlab.qlabel == corpus.label
    ).select("query_id", (F.col("cnt") - 1).alias("n_rel"))
    ideal = (
        nrel.select(
            "query_id", "n_rel", F.explode(F.sequence(F.lit(1), F.lit(10))).alias("i")
        )
        .filter(F.col("i") <= F.col("n_rel"))
        .groupBy("query_id", "n_rel")
        .agg(F.sum(discount(F.col("i"))).alias("idcg_units"))
    )
    return dcg.join(ideal, "query_id").select(
        "query_id",
        F.col("n_rel").cast("bigint").alias("n_rel"),
        "dcg_units",
        "idcg_units",
        F.round(F.col("dcg_units").cast("double") / F.col("idcg_units"), 6).alias(
            "ndcg"
        ),
    )


# ----------------------------------------------------------------------
# Drift monitoring: per-label centroid shift between two cohorts
# ----------------------------------------------------------------------

@register(
    "embedding_drift",
    """
    WITH dims AS (
      SELECT unnest(range(1, (SELECT CAST(max(len(embedding)) + 1 AS BIGINT)
                              FROM embeddings))) AS d
    ),
    ex AS (
      SELECT label, vec_id % 2 AS half, d,
             CAST(floor(CAST(embedding[d] AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
               AS xq
      FROM embeddings CROSS JOIN dims
    ),
    cents AS (
      SELECT label, half, d,
             CAST(floor(CAST(sum(xq) AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS c,
             count(*) AS nv
      FROM ex GROUP BY 1, 2, 3
    ),
    paired AS (
      SELECT a.label, a.d, a.c AS c0, b.c AS c1, a.nv AS nv0, b.nv AS nv1
      FROM cents a JOIN cents b
        ON a.label = b.label AND a.d = b.d AND a.half = 0 AND b.half = 1
    )
    SELECT label,
           CAST(min(nv0) AS BIGINT) AS n_even,
           CAST(min(nv1) AS BIGINT) AS n_odd,
           CAST(sum((c0 - c1) * (c0 - c1)) AS BIGINT) AS shift2_units,
           round(sqrt(CAST(sum((c0 - c1) * (c0 - c1)) AS BIGINT)) / 1000000.0, 6)
             AS drift_l2
    FROM paired GROUP BY label
    """,
)
def embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift monitor: per-label L2 distance between the
    centroids of two cohorts (even vs odd vec_id — stand-ins for
    last-week vs this-week batches). The production alarm for "the
    upstream encoder changed" / "the data distribution moved":
    centroids are exact micro-unit integers, the squared shift is an
    exact bigint, and the single sqrt is correctly-rounded IEEE on
    both engines.

    Scale: one aggregate to |labels| x 2 x dims centroids, one
    self-pair join on that tiny frame — the fact-sized work is the
    same single exploded pass as label_centroids."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode("embedding").alias("d", "xv"),
    ).select(
        "label",
        "half",
        "d",
        F.floor(F.col("xv").cast("double") * 1000000 + F.lit(0.5))
        .cast("bigint")
        .alias("xq"),
    )
    cents = ex.groupBy("label", "half", "d").agg(
        F.floor(F.sum("xq").cast("double") / F.count(F.lit(1)) + F.lit(0.5))
        .cast("bigint")
        .alias("c"),
        F.count(F.lit(1)).alias("nv"),
    )
    a = cents.filter(F.col("half") == 0).select(
        "label", "d", F.col("c").alias("c0"), F.col("nv").alias("nv0")
    )
    b = cents.filter(F.col("half") == 1).select(
        "label", "d", F.col("c").alias("c1"), F.col("nv").alias("nv1")
    )
    paired = a.join(b, ["label", "d"])
    shift2 = F.sum((F.col("c0") - F.col("c1")) * (F.col("c0") - F.col("c1")))
    return paired.groupBy("label").agg(
        F.min("nv0").cast("bigint").alias("n_even"),
        F.min("nv1").cast("bigint").alias("n_odd"),
        shift2.alias("shift2_units"),
        F.round(F.sqrt(shift2) / F.lit(1000000.0), 6).alias("drift_l2"),
    )


# ----------------------------------------------------------------------
# Contrastive training data: hard negatives per anchor
# ----------------------------------------------------------------------

@register(
    "hard_negative_mining",
    """
    WITH v AS (
      SELECT vec_id, label, [CAST(x AS DOUBLE) FOR x IN embedding] AS e
      FROM embeddings
    ),
    n AS (SELECT vec_id, label, e, sqrt(list_sum([x*x FOR x IN e])) AS nrm FROM v),
    q AS (SELECT * FROM n WHERE vec_id < 5),
    scored AS (
      SELECT q.vec_id AS query_id, q.label AS query_label,
             c.vec_id AS negative_id, c.label AS negative_label,
             round(list_sum(list_zip(q.e, c.e).apply(p -> p[1]*p[2]))
                   / (q.nrm*c.nrm), 6) AS cosine
      FROM q JOIN n c ON c.label != q.label
    )
    SELECT query_id, query_label, negative_id, negative_label, cosine, rnk
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, negative_id) AS rnk
      FROM scored
    ) WHERE rnk <= 5
    """,
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard negatives for contrastive training: each anchor's 5
    most-similar vectors with a DIFFERENT label (the near-misses that
    actually teach a margin — random negatives are trivially
    separable). Same broadcast-scan + per-query top-k window as
    brute_force_topk; the label inequality lives in the join, so
    same-label pairs never materialize (operators/similarity.
    hard_negatives)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    return similarity.hard_negatives(emb, queries_df, k=5).select(
        "query_id", "query_label", "negative_id", "negative_label", "cosine", "rnk"
    )


def _mmr_oracle_sql(k_out: int = 5) -> str:
    """Unrolled greedy MMR in DuckDB SQL: step k scores every
    unselected candidate as 0.5*rel - 0.5*greatest(sim to each prior
    pick) and takes the (score DESC, id) argmax."""
    head = """
    WITH v AS (
      SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS e FROM embeddings
    ),
    n AS (SELECT vec_id, e, sqrt(list_sum([x*x FOR x IN e])) AS nrm FROM v),
    q AS (SELECT * FROM n WHERE vec_id < 5),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(list_sum(list_zip(q.e, c.e).apply(p -> p[1]*p[2]))
                   / (q.nrm*c.nrm), 6) AS cosine
      FROM q JOIN n c ON c.vec_id != q.vec_id
    ),
    top AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rnk
        FROM scored
      ) WHERE rnk <= 10
    ),
    pair AS (
      SELECT t1.query_id, t1.neighbor_id AS a, t2.neighbor_id AS b,
             list_sum(list_zip(va.e, vb.e).apply(p -> p[1]*p[2]))
               / (va.nrm*vb.nrm) AS sim
      FROM top t1
      JOIN top t2 ON t1.query_id = t2.query_id AND t1.neighbor_id != t2.neighbor_id
      JOIN n va ON va.vec_id = t1.neighbor_id
      JOIN n vb ON vb.vec_id = t2.neighbor_id
    ),
    s1 AS (
      SELECT query_id, neighbor_id AS p1, cosine AS rel1,
             CAST(floor(0.5 * cosine * 1000000 + 0.5) AS BIGINT) AS u1
      FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS r
        FROM top
      ) WHERE r = 1
    )"""
    parts = [head]
    for k in range(2, k_out + 1):
        prior = ", ".join(f"s{j}" for j in range(1, k))
        sim_joins = "\n".join(
            f"      JOIN pair q{j} ON q{j}.query_id = top.query_id"
            f" AND q{j}.a = top.neighbor_id AND q{j}.b = s{j}.p{j}"
            for j in range(1, k)
        )
        on_query = "\n".join(
            f"        AND s{j}.query_id = top.query_id" for j in range(1, k)
        )
        not_in = " AND ".join(
            f"top.neighbor_id != s{j}.p{j}" for j in range(1, k)
        )
        maxsim = (
            f"greatest({', '.join(f'q{j}.sim' for j in range(1, k))})"
            if k > 2
            else "q1.sim"
        )
        parts.append(
            f""",
    c{k} AS (
      SELECT top.query_id, top.neighbor_id, top.cosine,
             0.5 * top.cosine - 0.5 * {maxsim} AS score
      FROM top, {prior}
{sim_joins}
      WHERE {not_in}
{on_query}
    ),
    s{k} AS (
      SELECT query_id, neighbor_id AS p{k}, cosine AS rel{k},
             CAST(floor(score * 1000000 + 0.5) AS BIGINT) AS u{k}
      FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, neighbor_id) AS r
        FROM c{k}
      ) WHERE r = 1
    )"""
        )
    selects = "\n    UNION ALL ".join(
        f"SELECT query_id, CAST({k} AS BIGINT) AS pick_rank, p{k} AS neighbor_id,"
        f" rel{k} AS rel, u{k} AS mmr_units FROM s{k}"
        for k in range(1, k_out + 1)
    )
    return "".join(parts) + f"\n    {selects}"


@register("mmr_rerank_topk", _mmr_oracle_sql(5))
def mmr_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity re-ranking of the exact kNN with Maximal Marginal
    Relevance (lambda = 0.5, 10 candidates -> 5 picks) — the standard
    fix for retrieval result sets full of near-duplicates of the same
    answer. The greedy per-query loop runs in applyInPandas
    (operators/similarity.mmr_rerank — the custom-operator tier for
    logic Spark built-ins can't express); the oracle replays the same
    greedy UNROLLED, one CTE per pick.

    Scale: per-query work only — k_cand rows per group, partitioned by
    query_id; candidate generation is the swappable kNN front end."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    return similarity.mmr_rerank(emb, queries_df, k_cand=10, k_out=5, lam=0.5)


@register(
    "embedding_covariance",
    """
    WITH dims AS (
      SELECT unnest(range(1, (SELECT CAST(max(len(embedding)) + 1 AS BIGINT)
                              FROM embeddings))) AS d
    ),
    ex AS (
      SELECT vec_id, d,
             CAST(floor(CAST(embedding[d] AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS xq
      FROM embeddings CROSS JOIN dims
    ),
    sx AS (SELECT d, CAST(sum(xq) AS BIGINT) AS s FROM ex GROUP BY d),
    tot AS (SELECT count(*) AS n FROM embeddings),
    sxy AS (
      SELECT a.d AS d1, b.d AS d2, CAST(sum(a.xq * b.xq) AS BIGINT) AS sxy
      FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.d <= b.d
      GROUP BY 1, 2
    )
    SELECT d1 - 1 AS dim1, d2 - 1 AS dim2, tot.n AS n,
           round(CAST(tot.n * sxy - sa.s * sb.s AS DOUBLE)
                 / (CAST(tot.n AS DOUBLE) * (tot.n - 1)) / 1000000.0, 6) + 0.0
             AS cov
    FROM sxy
    JOIN sx sa ON sa.d = sxy.d1
    JOIN sx sb ON sb.d = sxy.d2, tot
    """,
)
def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact sample covariance matrix of the embedding dimensions
    (upper triangle) — the input to PCA, whitening, and Mahalanobis
    scoring. Cross-moments are exact integer sums: each Arrow batch
    contributes one int64 X^T X matmul (operators/similarity.
    covariance_partials) and the d² partial cells merge by integer
    addition, so the matrix is bit-identical under any partitioning;
    sample covariance (n·Sxy − Sx·Sy)/(n(n−1)) is one double
    expression per cell.

    Scale: one linear pass over the vectors; the shuffle carries
    (#batches × d²) partial rows — independent of corpus size per
    batch — and per-dim sums ride a cheap posexplode aggregate. The
    DuckDB oracle replays the same integers via a dimension
    self-join."""
    emb = load_table(spark, sf_dir, "embeddings")
    partials = covariance_partials(emb)
    sxy = partials.groupBy("d1", "d2").agg(F.sum("sxy").alias("sxy"))
    ex = emb.select(F.posexplode("embedding").alias("d", "xv")).select(
        "d",
        F.floor(F.col("xv").cast("double") * 1000 + F.lit(0.5))
        .cast("bigint")
        .alias("xq"),
    )
    sx = ex.groupBy("d").agg(F.sum("xq").alias("s"))
    tot = emb.agg(F.count(F.lit(1)).alias("n"))
    sa = sx.select(F.col("d").alias("d1"), F.col("s").alias("s1"))
    sb = sx.select(F.col("d").alias("d2"), F.col("s").alias("s2"))
    cov = (
        F.col("n") * F.col("sxy") - F.col("s1") * F.col("s2")
    ).cast("double") / (F.col("n").cast("double") * (F.col("n") - 1)) / F.lit(
        1000000.0
    )
    return (
        sxy.join(F.broadcast(sa), "d1")
        .join(F.broadcast(sb), "d2")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("d1").cast("bigint").alias("dim1"),
            F.col("d2").cast("bigint").alias("dim2"),
            "n",
            (F.round(cov, 6) + F.lit(0.0)).alias("cov"),  # +0.0: -0.0 -> 0.0 both engines
        )
    )


@register("pca_project_2d")  # rows-only: eigendecomposition has no SQL replay
def pca_project_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D PCA projection of the embedding corpus (dimensionality
    reduction for visualization / cheap indexing): components come
    from the exact integer covariance, eigen-factorized once on the
    driver and sign-canonicalized, then broadcast into a linear
    mapInPandas projection pass. Rows-only in the gate (DuckDB cannot
    replay an eigendecomposition); determinism and correctness are
    pinned by the numpy-replay pytest instead."""
    from ..operators.similarity import pca_project

    emb = load_table(spark, sf_dir, "embeddings")
    return pca_project(emb, k=2)


BUDGET = 64


@register(
    "rag_context_assembly",
    f"""
    WITH v AS (
      SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS e FROM embeddings
    ),
    n AS (SELECT vec_id, e, sqrt(list_sum([x*x FOR x IN e])) AS nrm FROM v),
    q AS (SELECT * FROM n WHERE vec_id < 5),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(list_sum(list_zip(q.e, c.e).apply(p -> p[1]*p[2]))
                   / (q.nrm*c.nrm), 6) AS cosine
      FROM q JOIN n c ON c.vec_id != q.vec_id
    ),
    top AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rnk
        FROM scored
      ) WHERE rnk <= 3
    ),
    toks AS (
      SELECT top.query_id, top.rnk, string_split(trim(d.text), ' ') AS t
      FROM top JOIN documents d ON d.doc_id = top.neighbor_id
    ),
    budgeted AS (
      SELECT query_id, rnk, t,
             CAST(len(t) AS BIGINT) AS n_tok,
             CAST(sum(len(t)) OVER (PARTITION BY query_id ORDER BY rnk)
                  AS BIGINT) AS cum
      FROM toks
    ),
    sliced AS (
      SELECT query_id, rnk,
             CAST(least(greatest({BUDGET} - (cum - n_tok), 0), n_tok) AS BIGINT)
               AS take_n,
             array_to_string(list_slice(t, 1,
               CAST(least(greatest({BUDGET} - (cum - n_tok), 0), n_tok) AS BIGINT)),
               ' ') AS piece
      FROM budgeted
    )
    SELECT query_id,
           CAST(sum(CASE WHEN take_n > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_used,
           CAST(sum(take_n) AS BIGINT) AS n_tokens,
           md5(string_agg(piece, ' ' ORDER BY rnk) FILTER (WHERE take_n > 0))
             AS context_fp
    FROM sliced GROUP BY query_id
    """,
)
def rag_context_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG context assembly: for each query vector, retrieve the top-3
    documents (exact cosine, the swappable ANN slot) and concatenate
    their text in rank order under a 64-token budget, truncating the
    document that crosses it — the serving-side sibling of
    sequence_packing's training-side concat-and-split. Emits docs-used
    and token counts plus the md5 fingerprint of the assembled context
    (content-checked without shipping the strings).

    Scale: retrieval is the broadcast-scan kNN; the assembly touches
    k rows per query with a query-partitioned cumulative window and a
    deterministic sort_array re-assembly."""
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    queries_df = emb.filter(F.col("vec_id") < 5)
    top = similarity.brute_force_topk(emb, queries_df, k=3).select(
        "query_id", "neighbor_id", "rnk"
    )
    toks = top.join(
        docs.select(F.col("doc_id").alias("neighbor_id"), "text"), "neighbor_id"
    ).select("query_id", "rnk", tokens(F.col("text")).alias("t"))
    w = Window.partitionBy("query_id").orderBy("rnk")
    budgeted = toks.select(
        "query_id",
        "rnk",
        "t",
        F.size("t").cast("bigint").alias("n_tok"),
        F.sum(F.size("t")).over(w).cast("bigint").alias("cum"),
    )
    take_n = F.least(
        F.greatest(F.lit(BUDGET) - (F.col("cum") - F.col("n_tok")), F.lit(0)),
        F.col("n_tok"),
    ).cast("int")
    sliced = budgeted.select(
        "query_id",
        "rnk",
        take_n.cast("bigint").alias("take_n"),
        F.concat_ws(
            " ", F.expr("slice(t, 1, int(least(greatest({b} - (cum - n_tok), 0), n_tok)))".format(b=BUDGET))
        ).alias("piece"),
    )
    assembled = F.concat_ws(
        " ",
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(F.col("take_n") > 0, F.struct("rnk", "piece"))
                )
            ),
            lambda s: s["piece"],
        ),
    )
    return sliced.groupBy("query_id").agg(
        F.sum(F.when(F.col("take_n") > 0, 1).otherwise(0)).alias("n_docs_used"),
        F.sum("take_n").alias("n_tokens"),
        F.md5(assembled).alias("context_fp"),
    )


def _recall_oracle(n_planes: int = 8, k: int = 10) -> str:
    bucket = "\n           + ".join(
        f"CASE WHEN list_sum(list_transform(q, (x, i) -> x * {_SIGN.format(p=p)})) >= 0"
        f" THEN {1 << p} ELSE 0 END"
        for p in range(n_planes)
    )
    return f"""
    WITH v AS (SELECT vec_id, {_QV} AS q FROM embeddings),
    b AS (
      SELECT vec_id, q,
           {bucket} AS bucket
      FROM v
    ),
    lsh AS (
      SELECT query_id, neighbor_id FROM (
        SELECT qs.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY qs.vec_id
                 ORDER BY {_PAIR_D2.format(a="qs.q", b="c.q")}, c.vec_id) AS rnk
        FROM (SELECT * FROM b WHERE vec_id < 5) qs
        JOIN b c ON c.bucket = qs.bucket AND c.vec_id != qs.vec_id
      ) WHERE rnk <= {k}
    ),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT qs.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY qs.vec_id
                 ORDER BY {_PAIR_D2.format(a="qs.q", b="c.q")}, c.vec_id) AS rnk
        FROM (SELECT * FROM v WHERE vec_id < 5) qs
        JOIN v c ON c.vec_id != qs.vec_id
      ) WHERE rnk <= {k}
    )
    SELECT e.query_id, CAST({k} AS BIGINT) AS k,
           CAST(sum(CASE WHEN l.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hit,
           round(sum(CASE WHEN l.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                 / {k}.0, 4) AS recall
    FROM exact e LEFT JOIN lsh l
      ON l.query_id = e.query_id AND l.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    """


@register("ann_recall_at_10", _recall_oracle())
def ann_recall_at_10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN fidelity gate: recall@10 of the integer-exact LSH retrieval
    (similarity.int_lsh_neighbors) against the integer-exact brute
    force over the same quantized vectors — how much of the TRUE top-10
    the index surfaces. NDCG evaluates relevance of results; recall@k
    evaluates the index itself, and because both retrievals are
    engine-portable integer math the whole evaluation is value-hash
    oracle-checked (most ANN benchmarks can only sample-audit this).

    Scale: exact search is the intentionally-quadratic verifier run on
    the 5-query panel; the LSH side is the production path. The recall
    join touches |queries| x k rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    k = 10
    lsh = similarity.int_lsh_neighbors(emb, queries_df, k=k).select(
        "query_id", "neighbor_id"
    )
    corpus = emb.select(F.col("vec_id").alias("__id"), qvec(F.col("embedding")).alias("__q"))
    q = queries_df.select(
        F.col("vec_id").alias("query_id"), qvec(F.col("embedding")).alias("__qq")
    )
    scored = (
        corpus.join(F.broadcast(q), F.col("query_id") != F.col("__id"))
        .select(
            "query_id",
            F.col("__id").alias("neighbor_id"),
            _d2_int(F.col("__qq"), F.col("__q")).alias("d2"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("d2", "neighbor_id")
    exact = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id")
    )
    hit = lsh.withColumn("__hit", F.lit(1))
    joined = exact.join(hit, ["query_id", "neighbor_id"], "left")
    return joined.groupBy("query_id").agg(
        F.lit(k).cast("bigint").alias("k"),
        F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_hit"),
        F.round(
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))) / F.lit(float(k)), 4
        ).alias("recall"),
    )


_SD_QV = (
    "list_transform(embedding, x -> "
    "CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))"
)


_SD_D2 = (
    "CAST(list_sum(list_zip({a}, {b}).apply(p -> (p[1]-p[2])*(p[1]-p[2])))"
    " AS BIGINT)"
)


_SD_T = 1_100_000_000_000


@register(
    "semantic_dedup",
    f"""
    WITH v AS (SELECT vec_id, {_SD_QV} AS q FROM embeddings),
    cent AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, q AS cq
      FROM (SELECT vec_id, q FROM v ORDER BY vec_id LIMIT 8)
    ),
    dist AS (
      SELECT v.vec_id, v.q, cent.c, {_SD_D2.format(a="v.q", b="cent.cq")} AS d2
      FROM v, cent
    ),
    assign AS (
      SELECT vec_id, q, c AS cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, c) AS rn
        FROM dist
      ) WHERE rn = 1
    ),
    losers AS (
      SELECT DISTINCT b.vec_id AS loser
      FROM assign a JOIN assign b
        ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE {_SD_D2.format(a="a.q", b="b.q")} <= {_SD_T}
    )
    SELECT vec_id, CAST(cell AS INTEGER) AS cell,
           vec_id NOT IN (SELECT loser FROM losers) AS kept
    FROM assign
    """,
)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup over the embeddings table
    (operators/similarity.semantic_dedup_int): IVF-cell coarse
    quantization bounds candidates to within-cell pairs, integer-d²
    threshold marks redundant vectors, min-id survivor kept — the
    embedding-space member of the dedup family, riding the same
    pinned-seed integer-exact machinery as knn_ivf_int so the DuckDB
    oracle replays quantize -> assign -> pairs -> survivors
    bit-for-bit."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.semantic_dedup_int(emb, d2_threshold=_SD_T, n_lists=8)


def _pq_int_oracle(m: int = 4, ks: int = 16, sub: int = 16) -> str:
    """DuckDB twin of similarity.int_pq_neighbors: pinned lowest-id
    codebooks, argmin integer-d² encoding (tie → lowest codeword),
    exact integer ADC sums."""
    return f"""
    WITH v AS (SELECT vec_id, {_QV} AS q FROM embeddings),
    seeds AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, q
      FROM (SELECT vec_id, q FROM v ORDER BY vec_id LIMIT {ks})
    ),
    cw AS (
      SELECT j, s.mi, q[(s.mi * {sub} + 1):(s.mi * {sub} + {sub})] AS cv
      FROM seeds, UNNEST(generate_series(0, {m - 1})) AS s(mi)
    ),
    subs AS (
      SELECT vec_id, s.mi, q[(s.mi * {sub} + 1):(s.mi * {sub} + {sub})] AS sub
      FROM v, UNNEST(generate_series(0, {m - 1})) AS s(mi)
    ),
    enc AS (
      SELECT vec_id, mi, j AS code FROM (
        SELECT subs.vec_id, subs.mi, cw.j,
               row_number() OVER (PARTITION BY subs.vec_id, subs.mi
                 ORDER BY {_PAIR_D2.format(a="subs.sub", b="cw.cv")}, cw.j) AS rn
        FROM subs JOIN cw ON cw.mi = subs.mi
      ) WHERE rn = 1
    ),
    adc AS (
      SELECT qs.vec_id AS query_id, e.vec_id AS neighbor_id,
             CAST(sum({_PAIR_D2.format(a="qs.sub", b="cw.cv")}) AS BIGINT)
               AS adc_d2
      FROM (SELECT * FROM subs WHERE vec_id < 5) qs
      JOIN enc e ON e.mi = qs.mi AND e.vec_id != qs.vec_id
      JOIN cw ON cw.mi = e.mi AND cw.j = e.code
      GROUP BY qs.vec_id, e.vec_id
    )
    SELECT query_id, neighbor_id, adc_d2, rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc_d2, neighbor_id) AS rnk
      FROM adc
    ) WHERE rnk <= 10
    """


@register("knn_pq_int", _pq_int_oracle())
def knn_pq_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked product-quantization ANN
    (similarity.int_pq_neighbors): 4 sub-spaces x 16 pinned codewords,
    asymmetric-distance scoring — the compressed-index search mode
    that completes the ANN family next to brute force / LSH / IVF."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    return similarity.int_pq_neighbors(emb, queries_df, k=10).select(
        "query_id", "neighbor_id", "adc_d2", "rnk"
    )


def _k_center_oracle(k: int = 8) -> str:
    """DuckDB twin of similarity.int_k_center_select: the k-1 greedy
    farthest-point rounds unrolled as chained CTEs (argmax md, tie →
    lowest id; running least() of distances to chosen centers)."""
    d2 = _PAIR_D2
    parts = [
        f"v AS (SELECT vec_id, {_QV} AS q FROM embeddings)",
        "c0 AS (SELECT vec_id, q FROM v ORDER BY vec_id LIMIT 1)",
        "m0 AS (SELECT v.vec_id, v.q, "
        + d2.format(a="v.q", b="c0.q")
        + " AS md FROM v, c0)",
    ]
    for r in range(1, k):
        parts.append(
            f"c{r} AS (SELECT vec_id, q, md FROM m{r-1} "
            "ORDER BY md DESC, vec_id LIMIT 1)"
        )
        if r < k - 1:
            parts.append(
                f"m{r} AS (SELECT m.vec_id, m.q, least(m.md, "
                + d2.format(a="m.q", b=f"c{r}.q")
                + f") AS md FROM m{r-1} m, c{r})"
            )
    sels = [
        "SELECT 0 AS rank, vec_id AS center_id,"
        " CAST(0 AS BIGINT) AS radius_d2 FROM c0"
    ] + [
        f"SELECT {r} AS rank, vec_id AS center_id,"
        f" CAST(md AS BIGINT) AS radius_d2 FROM c{r}"
        for r in range(1, k)
    ]
    return "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL ".join(sels)


@register("k_center_coreset", _k_center_oracle())
def k_center_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset selection (similarity.
    int_k_center_select): 8 farthest-point rounds over the embedding
    corpus, exact integer distances, radii non-increasing — the
    diversity-maximizing data-selection primitive, oracle-replayed by
    unrolled CTE rounds."""
    return similarity.int_k_center_select(
        load_table(spark, sf_dir, "embeddings"), k=8
    )


# ----------------------------------------------------------------------
# Johnson-Lindenstrauss sign projection
# ----------------------------------------------------------------------

JL_K = 8  # target dimensions


JL_D = 64  # source dimensions


JL_SAMPLE = 50  # vec_ids in the distortion sample


def _jl_signs() -> list[list[int]]:
    """Deterministic +-1 sign matrix (k x d) from md5 parity — computed
    once at import and baked as LITERALS into both the Spark plan and
    the oracle SQL, so engine hash portability is moot."""
    return [
        [
            1
            if int(hashlib.md5(f"{j}:{i}".encode()).hexdigest()[:8], 16) % 2 == 0
            else -1
            for i in range(JL_D)
        ]
        for j in range(JL_K)
    ]


def _jl_oracle() -> str:
    signs = _jl_signs()
    proj = ",\n             ".join(
        "CAST(list_sum(list_zip(q, {lits}).apply(p -> p[1] * p[2])) AS BIGINT)"
        " AS p{j}".format(lits=str(signs[j]), j=j)
        for j in range(JL_K)
    )
    d2p = " + ".join(f"(a.p{j} - b.p{j}) * (a.p{j} - b.p{j})" for j in range(JL_K))
    d2o = (
        "CAST(list_sum(list_zip(a.q, b.q).apply(p -> (p[1]-p[2])*(p[1]-p[2])))"
        " AS BIGINT)"
    )
    return f"""
    WITH v AS (
      SELECT vec_id, {_QV} AS q FROM embeddings WHERE vec_id < {JL_SAMPLE}
    ),
    pv AS (
      SELECT vec_id, q,
             {proj}
      FROM v
    ),
    pairs AS (
      SELECT {d2o} AS d2o, ({d2p}) AS d2p
      FROM pv a JOIN pv b ON a.vec_id < b.vec_id
    )
    SELECT CAST((10 * d2p) // ({JL_K} * d2o) AS BIGINT) AS ratio_decile,
           count(*) AS n_pairs
    FROM pairs WHERE d2o > 0
    GROUP BY 1
    """


@register("jl_projection_distortion", _jl_oracle())
def jl_projection_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss sign projection (Achlioptas 2003: +-1
    entries suffice; E||Rq||^2 = k||q||^2): project the 64-dim
    embeddings onto k=8 sign rows and histogram the pairwise distance
    ratio d2_proj / (k * d2_orig) in deciles over a pinned 50-vector
    sample — the dimensionality-reduction audit run before committing
    an ANN index to a reduced space. The sign matrix is md5-parity,
    baked as identical literals into both engines; distances stay
    exact BIGINTs, the decile is integer division.

    Scale: the projection is a per-row map (64*8 multiply-adds, no
    shuffle) — at 100 TB it runs in the scan stage; the pair join is
    over the bounded 50-row sample (broadcast nested loop on a frame
    whose size is fixed by construction, not by data). Round 11
    (guide §5.2): the 50-row projected frame rides track_cache — the
    self-join's two branches each re-scanned and re-projected the
    embeddings parquet (array decode is the dominant cost; row-group
    stats cannot prune vec_id<50 inside a row group)."""
    from ..session import track_cache

    signs = _jl_signs()
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < JL_SAMPLE)
        .select(
            "vec_id",
            F.transform(
                "embedding",
                lambda x: F.floor(x.cast("double") * 1000000 + F.lit(0.5)).cast(
                    "bigint"
                ),
            ).alias("q"),
        )
    )
    proj_cols = [
        F.aggregate(
            F.zip_with(
                F.col("q"),
                F.array(*[F.lit(s) for s in signs[j]]),
                lambda a, b: a * b.cast("bigint"),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias(f"p{j}")
        for j in range(JL_K)
    ]
    pv = track_cache(emb.select("vec_id", "q", *proj_cols))
    a, b = pv.alias("a"), pv.alias("b")
    d2o = F.aggregate(
        F.zip_with(F.col("a.q"), F.col("b.q"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    d2p = None
    for j in range(JL_K):
        term = (F.col(f"a.p{j}") - F.col(f"b.p{j}")) * (
            F.col(f"a.p{j}") - F.col(f"b.p{j}")
        )
        d2p = term if d2p is None else d2p + term
    pairs = (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(d2o.alias("d2o"), d2p.alias("d2p"))
        .filter(F.col("d2o") > 0)
    )
    return pairs.select(
        F.expr(f"CAST((10 * d2p) DIV ({JL_K} * d2o) AS BIGINT)").alias("ratio_decile")
    ).groupBy("ratio_decile").agg(F.count(F.lit(1)).alias("n_pairs"))
