"""End-to-end corpus curation: the flagship training-data pipeline
composed from the engine's own operators —

    quality filter  →  exact dedup  →  near-dup clustering  →
    canonical survivors

Each stage is an already-verified operator (textops.text_profile,
dedup.dedup_exact, dedup.ngram_jaccard_pairs, dedup.duplicate_clusters,
dedup.dedup_survivors); this module only wires them, so the DuckDB
oracle for the composition is the composition of their oracles.

Scale shape: one scan of the corpus feeds the profile; the quality
filter prunes before any pairwise work; exact dedup is one hash
shuffle; near-dup pairing runs on the deduplicated remainder only
(at 100 TB swap the exact-Jaccard pair generator for
dedup.minhash_lsh_pairs — same downstream contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.exact import qlog
from .dedup import dedup_exact, dedup_survivors, duplicate_clusters, minhash_lsh_pairs, ngram_jaccard_pairs
from .textops import text_profile


def curate_corpus(
    docs: DataFrame,
    quality_threshold: float = 0.5,
    jaccard_threshold: float = 0.8,
    use_lsh: bool = False,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Return (doc_id, quality) for documents that survive curation:
    quality ≥ threshold, not an exact duplicate (min-id survivor per
    fingerprint), and the canonical member of any near-dup cluster.

    ``use_lsh=True`` swaps the exact pair generator for MinHash+LSH —
    identical contract, sub-quadratic candidates (the 100 TB path).
    """
    prof = text_profile(docs).select(id_col, "quality")
    good = docs.join(prof, id_col).filter(F.col("quality") >= quality_threshold)

    # exact dedup: keep the min-id survivor per normalized fingerprint
    survivors = dedup_exact(good, text_col, id_col).select(id_col)
    g2 = good.join(survivors, id_col, "left_semi")

    pair_fn = minhash_lsh_pairs if use_lsh else ngram_jaccard_pairs
    pairs = pair_fn(g2, threshold=jaccard_threshold, text_col=text_col, id_col=id_col)
    clusters = duplicate_clusters(pairs)
    clean = dedup_survivors(g2, clusters, id_col)
    return clean.select(id_col, "quality")


def leakage_safe_splits(
    docs: DataFrame,
    threshold: float = 0.8,
    weights: tuple[int, int, int] = (80, 10, 10),
    text_col: str = "text",
    id_col: str = "doc_id",
    use_lsh: bool = False,
) -> DataFrame:
    """Train/val/test assignment that cannot leak near-duplicates
    across splits: documents are first resolved into near-dup clusters
    (n-gram Jaccard ≥ threshold → connected components), then the
    SPLIT IS DECIDED PER CLUSTER — every member hashes on its cluster
    canonical's id, so a training document's near-twin can never land
    in the eval split (the classic contamination bug a per-document
    hash split ships silently). Isolated documents are their own
    cluster. Returns (doc_id, cluster_id, split).

    The hash is the engine-portable md5_uniform (sampling.py), so the
    assignment is deterministic across runs, engines and partition
    layouts, and a DuckDB oracle replays it exactly. Scale: pair
    generation is the only super-linear stage — ``use_lsh=True`` swaps
    in MinHash+LSH banding (same downstream contract); the split
    decision itself is one left join + per-row hash, no extra
    shuffle beyond the cluster resolution."""
    from .sampling import md5_uniform

    lo, mid = weights[0], weights[0] + weights[1]
    modulus = sum(weights)
    pair_fn = minhash_lsh_pairs if use_lsh else ngram_jaccard_pairs
    pairs = pair_fn(docs, threshold=threshold, text_col=text_col, id_col=id_col)
    clusters = duplicate_clusters(pairs)
    assign = docs.select(id_col).join(clusters, id_col, "left").select(
        id_col,
        F.coalesce(F.col("cluster_id"), F.col(id_col)).alias("cluster_id"),
    )
    bucket = md5_uniform(F.col("cluster_id"), modulus)
    return assign.select(
        id_col,
        "cluster_id",
        F.when(bucket < lo, "train")
        .when(bucket < mid, "val")
        .otherwise("test")
        .alias("split"),
    )


def cap_sources_by_budget(
    docs: DataFrame,
    budget_tokens: int,
    source_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Training-mix construction: cap every source (domain/crawl/feed)
    at a token budget, keeping its longest documents first. Returns the
    kept rows with ``n_tok`` (doc token count) and ``cum_tok`` (running
    source total including the doc).

    Docs are ranked inside each source by token count descending
    (doc_id ascending tie-break — fully integer-exact, so the kept set
    is identical on any engine; a production mix would rank by a model
    quality score instead, same shape). The only shuffle is the
    per-source window — parallelism tracks the source dimension, and a
    single pathological source is the same straggler an aggregation
    over it would be (salt by a hash band if one source dominates).
    """
    from .textops import token_count

    w = (
        Window.partitionBy(source_col)
        .orderBy(F.col("__n_tok").desc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        docs.withColumn("__n_tok", token_count(F.col(text_col)).cast("bigint"))
        .withColumn("__cum", F.sum("__n_tok").over(w))
        .filter(F.col("__cum") <= budget_tokens)
        .select(
            source_col,
            id_col,
            F.col("__n_tok").alias("n_tok"),
            F.col("__cum").alias("cum_tok"),
        )
    )


def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    *,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any token
    n-gram with an eval/benchmark corpus (the n-gram-overlap rule used
    for LM training-set hygiene). Returns (id, n_shared_grams) for
    contaminated docs only.

    Scale shape: both sides explode to distinct per-doc n-grams
    map-side; the benchmark gram set is tiny relative to training data
    (eval suites are small), so it is BROADCAST — the exploded
    training grams are never shuffled, only the rare matches are
    (groupBy id after the broadcast inner join).
    """
    from .scale import ensure_min_partitions
    from .textops import array_ngrams, tokens

    def grams(df: DataFrame) -> DataFrame:
        # pre-split into a real column: Catalyst won't CSE an inline
        # split() inside the n-gram lambda (5x, see array_ngrams)
        return (
            df.withColumn("__t", tokens(F.col(text_col)))
            .select(
                id_col,
                F.explode(F.array_distinct(array_ngrams(F.col("__t"), n))).alias("gram"),
            )
        )

    bench_grams = F.broadcast(grams(benchmark).select("gram").distinct())
    return (
        grams(ensure_min_partitions(train))
        .join(bench_grams, "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


def dsir_select(
    docs: DataFrame,
    target_filter,
    n_select: int = 200,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al.
    2023): score every raw document by how much its unigram
    distribution resembles a TARGET slice rather than the raw corpus,
    then Gumbel-top-k sample ``n_select`` docs with probability
    proportional to exp(score) — the standard way to tilt a web-scale
    corpus toward a quality/domain distribution without hard filters.

    ``target_filter`` is a Column predicate over ``docs`` defining the
    target slice (e.g. ``F.col("lang") == "en"``).

    Exactness contract (the unigram_logprob pattern): per-token
    log-likelihood ratios are integer-quantized BEFORE summation —
    lr_units(tok) = qlog((c_t+1)/(T+V)) - qlog((c_r+1)/(R+V)) with
    qlog(x) = floor(ln(x)*1e6 + 0.5) as BIGINT — so doc scores are
    exact integer sums, reproducible under any partitioning and
    bit-replayable by the DuckDB oracle. The Gumbel noise is
    derandomized the same way: u = (md5int(doc_id) % 1e6 + 0.5)/1e6,
    g_units = -qlog(-qlog(u)/1e6); selection key = score_units +
    g_units (Gumbel-max ~ sampling w/o replacement proportional to
    exp(score)). All inputs to ln are rationals of integers, so both
    engines feed ln identical doubles.

    Scale: one token explode (fanned out across cores), ONE
    map-side-combined count per token carrying a target-flag sum, a
    token-keyed join back (both sides shuffled by token), a per-doc
    sum, and a TakeOrdered top-k — no broadcast of corpus-sized
    state, no global sort."""
    from .scale import ensure_min_partitions
    from .textops import tokens

    toks = ensure_min_partitions(
        docs.select(id_col, text_col, target_filter.alias("__is_t"))
    ).select(
        id_col,
        F.explode(tokens(F.col(text_col))).alias("tok"),
        F.col("__is_t").cast("long").alias("__is_t"),
    )
    cnt = toks.groupBy("tok").agg(
        F.count(F.lit(1)).alias("__cr"), F.sum("__is_t").alias("__ct")
    )
    tot = cnt.agg(
        F.sum("__cr").alias("__R"),
        F.sum("__ct").alias("__T"),
        F.count(F.lit(1)).alias("__V"),
    )
    lr = cnt.crossJoin(F.broadcast(tot)).select(
        "tok",
        (
            qlog((F.col("__ct") + 1) / (F.col("__T") + F.col("__V")))
            - qlog((F.col("__cr") + 1) / (F.col("__R") + F.col("__V")))
        ).alias("__lr"),
    )
    scored = (
        toks.join(lr, "tok")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("__lr").alias("score_units"),
        )
    )
    u = (
        (
            F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
            .cast("long")
            % 1000000
        )
        + F.lit(0.5)
    ) / 1e6
    keyed = scored.withColumn(
        "key_units", F.col("score_units") - qlog(-qlog(u) / 1e6)
    )
    return (
        keyed.orderBy(F.desc("key_units"), id_col)
        .limit(n_select)
        .select(
            id_col,
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            "score_units",
            (
                F.round(F.col("score_units") / 1e6 / F.col("n_tokens"), 4)
                + F.lit(0.0)  # kill IEEE -0.0 (catalog hash convention)
            ).alias("avg_logratio"),
            "key_units",
        )
    )
