"""Dedup and curation family: exact, n-gram, MinHash/LSH, SimHash,
containment, substring-span and CDC-chunk dedup, clustering, corpus
curation, decontamination, source budgets and leakage-safe splits
(operators.dedup and operators.curation).

``dedup_simhash`` hashes with xxhash64, which DuckDB cannot replay, and
registers rows-only; its md5 twin ``dedup_simhash_md5`` is
oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import dedup
from ..operators.curation import cap_sources_by_budget, decontaminate, dsir_select
from ..operators.curation import curate_corpus as _curate
from ..operators.dedup import (
    _shingle_index,
    array_shingles,
    cdc_chunk_dedup,
    duplicate_substring_spans,
)
from ..operators.sampling import md5_uniform
from ..operators.textops import tokens
from ..queries import register
from ..session import load_table, track_cache


# ----------------------------------------------------------------------
# Deduplication
# ----------------------------------------------------------------------

@register(
    "dedup_exact",
    """
    SELECT md5(lower(trim(text))) AS fp, min(doc_id) AS doc_id, count(*) AS n_copies
    FROM documents GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.dedup_exact(docs).select("fp", "doc_id", "n_copies")


@register(
    "dedup_ngram_jaccard",
    """
    WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
      FROM toks, UNNEST(generate_series(1, greatest(len(t)-2, 1))) AS g(i)
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(i * 1.0 / (sa.n + sb.n - i), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index n-gram Jaccard self-join, threshold 0.8 (the
    planted near-dup pairs sit ≈0.99)."""
    return dedup.ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"), threshold=0.8)


@register(
    "dedup_minhash_lsh",
    # The LSH stage only *generates candidates* (deterministically —
    # seeded xxhash64 signatures); every candidate is then verified
    # with EXACT shingle Jaccard. DuckDB can't replay the xxhash64
    # bands, but it can compute the ground truth the verified output
    # must equal when recall is complete: all pairs with Jaccard ≥
    # threshold. The round-8 default banding (r=4, b=8, knee 0.59)
    # put only 89% candidate probability at j=0.7 and MEASURABLY
    # missed one true j=0.80 pair at sf1 (2559/2560 — found by the
    # round-9 full-registry sf1 sweep). The banding now runs r=3,
    # b=16 (knee ≈ 0.40, P(candidate) ≥ 0.9988 for every j ≥ the 0.7
    # verification threshold; ≥ 1−1e−5 at the corpus's lowest planted
    # pair, j=0.80): re-measured 2560/2560 at sf1 and hash-equal to
    # the exact ground truth at every rung, with recall additionally
    # pinned by pytest against the exact inverted-index path.
    """
    WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
      FROM toks, UNNEST(generate_series(1, greatest(len(t)-2, 1))) AS g(i)
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(i * 1.0 / (sa.n + sb.n - i), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.7
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_pairs(load_table(spark, sf_dir, "documents"), threshold=0.7)


@register("dedup_simhash")  # rows-only: xxhash64-based
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_pairs(load_table(spark, sf_dir, "documents"), max_hamming=3)


@register(
    "dedup_embedding_cosine",
    """
    WITH v AS (
      SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS e FROM embeddings
    ),
    n AS (
      SELECT vec_id, e, sqrt(list_sum([x*x FOR x IN e])) AS nrm FROM v
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_sum(list_zip(a.e, b.e).apply(p -> p[1]*p[2])) / (a.nrm*b.nrm), 6) AS cosine
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE list_sum(list_zip(a.e, b.e).apply(p -> p[1]*p[2])) / (a.nrm*b.nrm) >= 0.45
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise cosine near-dup (double precision both sides)."""
    return dedup.embedding_dup_pairs(load_table(spark, sf_dir, "embeddings"), threshold=0.45)


@register(
    "dedup_clusters",
    """
    WITH RECURSIVE
    toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
      FROM toks, UNNEST(generate_series(1, greatest(len(t)-2, 1))) AS g(i)
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach AS (
      SELECT src AS node, src AS m FROM edges
      UNION
      SELECT r.node, e.dst AS m FROM reach r JOIN edges e ON r.m = e.src
    )
    SELECT node AS doc_id, min(m) AS cluster_id FROM reach GROUP BY node
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs (n-gram Jaccard ≥ 0.8) resolved into duplicate
    clusters via distributed connected components; the DuckDB oracle
    computes the same components with a recursive transitive closure."""
    pairs = dedup.ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"), threshold=0.8)
    return dedup.duplicate_clusters(pairs)


@register(
    "curate_corpus",
    """
    WITH RECURSIVE
    t AS (SELECT doc_id, text, string_split(trim(text), ' ') AS toks FROM documents),
    q AS (
      SELECT doc_id, text, toks,
             round(least(len(toks) / 100.0, 1.0)
                   * (1 - len(list_filter(toks, x -> x IN ('the','a'))) * 1.0 / len(toks)), 4) AS quality
      FROM t
    ),
    good AS (SELECT * FROM q WHERE quality >= 0.5),
    ex AS (SELECT min(doc_id) AS doc_id FROM good GROUP BY md5(lower(trim(text)))),
    g2 AS (SELECT good.* FROM good JOIN ex USING (doc_id)),
    sh AS (
      SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS s
      FROM g2, UNNEST(generate_series(1, greatest(len(toks)-2, 1))) AS gg(i)
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
      WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8
    ),
    edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach AS (SELECT src AS node, src AS m FROM edges
              UNION SELECT r.node, e.dst FROM reach r JOIN edges e ON r.m = e.src),
    labels AS (SELECT node, min(m) AS cluster_id FROM reach GROUP BY node)
    SELECT doc_id, quality FROM g2
    WHERE doc_id NOT IN (SELECT node FROM labels WHERE node != cluster_id)
    """,
)
def curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship curation pipeline: quality filter → exact dedup →
    near-dup clustering → canonical survivors (operators/curation.py),
    oracle-checked end to end."""
    docs = load_table(spark, sf_dir, "documents")
    return _curate(docs, quality_threshold=0.5, jaccard_threshold=0.8)


@register(
    "decontaminate_overlap",
    """
    WITH g AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(t) - 1),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS gram
      FROM (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents)
    ),
    bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0)
    SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_shared_grams
    FROM g JOIN bench USING (gram)
    WHERE g.doc_id % 50 <> 0
    GROUP BY g.doc_id
    """,
)
def decontaminate_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs (doc_id % 50 != 0)
    sharing any token n-gram with the held-out benchmark slice
    (doc_id % 50 == 0). Production uses n=8..13; n=3 here so the
    synthetic small-vocab corpus yields non-trivial overlap. The
    benchmark gram set is broadcast — training grams never shuffle
    (operators/curation.py:decontaminate)."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    train = docs.filter(F.col("doc_id") % 50 != 0)
    return decontaminate(train, bench, n=3)


@register(
    "source_token_budget",
    """
    WITH t AS (
      SELECT source, doc_id,
             CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tok
      FROM documents
    ),
    c AS (
      SELECT source, doc_id, n_tok,
             sum(n_tok) OVER (PARTITION BY source ORDER BY n_tok DESC, doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum
      FROM t
    )
    SELECT source,
           count(*) AS n_docs_kept,
           CAST(sum(n_tok) AS BIGINT) AS tokens_kept,
           CAST(max(cum) AS BIGINT) AS max_cum
    FROM c WHERE cum <= 20000
    GROUP BY source
    """,
)
def source_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cap every source at 20k tokens, longest docs first
    (curation.cap_sources_by_budget), aggregated per source."""
    docs = load_table(spark, sf_dir, "documents")
    kept = cap_sources_by_budget(docs, budget_tokens=20_000)
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs_kept"),
        F.sum("n_tok").alias("tokens_kept"),
        F.max("cum_tok").alias("max_cum"),
    )


def _simhash32_oracle() -> str:
    """DuckDB twin of dedup.md5_simhash32: 32 bit-vote aggregates over
    the md5-derived token hash, generated rather than hand-typed."""
    votes = ",\n             ".join(
        f"sum(CASE WHEN (hv >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(32)
    )
    pack = "\n             + ".join(
        f"CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(32)
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(trim(text), ' ')) AS t FROM documents
    ),
    h AS (
      SELECT doc_id, ('0x' || substr(md5(t), 1, 8))::BIGINT AS hv FROM tok
    ),
    votes AS (
      SELECT doc_id,
             {votes}
      FROM h GROUP BY doc_id
    )
    SELECT doc_id,
           CAST({pack} AS BIGINT) AS simhash32
    FROM votes
    """


@register("dedup_simhash_md5", _simhash32_oracle())
def dedup_simhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-portable SimHash signatures (dedup.md5_simhash32): the
    md5-derived 32-bit twin of the xxhash64 simhash, recomputed
    bit-for-bit by the DuckDB oracle — turning the simhash family from
    rows-only into value-hash-checked."""
    from ..operators.dedup import md5_simhash32

    return md5_simhash32(load_table(spark, sf_dir, "documents"))


@register(
    "dedup_containment",
    """
    WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
      FROM toks, UNNEST(generate_series(1, greatest(len(t)-2, 1))) AS g(i)
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(i * 1.0 / least(sa.n, sb.n), 4) AS containment
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE i * 1.0 / least(sa.n, sb.n) >= 0.9
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-superset dedup (dedup.containment_pairs):
    |A∩B| / min(|A|,|B|) ≥ 0.9 — catches excerpts and boilerplate
    wrappers whose symmetric Jaccard stays tiny. Same inverted-index
    self-join posture as dedup_ngram_jaccard."""
    from ..operators import dedup as D

    return D.containment_pairs(load_table(spark, sf_dir, "documents"), threshold=0.9)


# ----------------------------------------------------------------------
# Incremental dedup: new batch vs already-indexed base corpus
# ----------------------------------------------------------------------

@register(
    "dedup_incremental",
    """
    WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
      FROM toks, UNNEST(generate_series(1, greatest(len(t)-2, 1))) AS g(i)
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT nw.doc_id AS new_id, b.doc_id AS base_id, count(*) AS i
      FROM sh nw JOIN sh b ON nw.s = b.s
      WHERE nw.doc_id % 10 >= 8 AND b.doc_id % 10 < 8
      GROUP BY 1, 2
    )
    SELECT new_id, base_id,
           round(i * 1.0 / (sn.n + sb.n - i), 4) AS jaccard
    FROM inter
    JOIN sizes sn ON sn.doc_id = new_id
    JOIN sizes sb ON sb.doc_id = base_id
    WHERE round(i * 1.0 / (sn.n + sb.n - i), 4) >= 0.8
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingestion dedup: which docs of an arriving batch
    (doc_id % 10 >= 8 stands in for 'today's crawl') near-duplicate the
    already-indexed base corpus? Unlike the self-join dedups, cost is
    proportional to the BATCH (new-index x base-index equi-join on the
    shingle key — never base x base), which is what keeps daily dedup
    affordable against a 100 TB historical index."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 10 < 8)
    new = docs.filter(F.col("doc_id") % 10 >= 8)
    return dedup.incremental_jaccard_dups(base, new, threshold=0.8)


# ----------------------------------------------------------------------
# Corpus audit: which sources near-duplicate each other?
# ----------------------------------------------------------------------

@register(
    "source_overlap_matrix",
    """
    WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
      FROM toks, UNNEST(generate_series(1, greatest(len(t)-2, 1))) AS g(i)
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE round(i * 1.0 / (sa.n + sb.n - i), 4) >= 0.8
    )
    SELECT least(da.source, db.source) AS source_a,
           greatest(da.source, db.source) AS source_b,
           count(*) AS n_dup_pairs
    FROM pairs
    JOIN documents da ON da.doc_id = pairs.id_a
    JOIN documents db ON db.doc_id = pairs.id_b
    GROUP BY 1, 2
    """,
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination audit: how many near-duplicate doc
    pairs (shingle Jaccard >= 0.8) join each unordered pair of sources
    — the first question a corpus curator asks before weighting or
    deduplicating sources against each other (a source that mirrors
    another contributes no new information at its listed size).

    Scale: rides the same inverted-index pair generation as the dedup
    family (cost sum over shingle buckets, never all-pairs); the
    source lookup joins the doc dimension twice on its key and the
    final rollup is |sources|^2 groups."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.8)
    src = docs.select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("id_a"), F.col("source").alias("sa"))
    sb = src.select(F.col("doc_id").alias("id_b"), F.col("source").alias("sb"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .groupBy(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_dup_pairs"))
    )


BUDGET_PER_SOURCE = 5000


@register(
    "corpus_build_report",
    f"""
    WITH RECURSIVE
    t AS (SELECT doc_id, source, text, string_split(trim(text), ' ') AS toks
          FROM documents),
    q AS (
      SELECT doc_id, text, toks,
             round(least(len(toks) / 100.0, 1.0)
                   * (1 - len(list_filter(toks, x -> x IN ('the','a'))) * 1.0
                      / len(toks)), 4) AS quality
      FROM t
    ),
    good AS (SELECT * FROM q WHERE quality >= 0.5),
    ex AS (SELECT min(doc_id) AS doc_id FROM good GROUP BY md5(lower(trim(text)))),
    g2 AS (SELECT good.* FROM good JOIN ex USING (doc_id)),
    sh AS (
      SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS s
      FROM g2, UNNEST(generate_series(1, greatest(len(toks)-2, 1))) AS gg(i)
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
      WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8
    ),
    edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach AS (SELECT src AS node, src AS m FROM edges
              UNION SELECT r.node, e.dst FROM reach r JOIN edges e ON r.m = e.src),
    labels AS (SELECT node, min(m) AS cluster_id FROM reach GROUP BY node),
    curated AS (
      SELECT doc_id FROM g2
      WHERE doc_id NOT IN (SELECT node FROM labels WHERE node != cluster_id)
    ),
    traincands AS (SELECT doc_id FROM curated WHERE doc_id % 50 <> 0),
    g AS (
      SELECT tt.doc_id,
             unnest(list_distinct(list_transform(range(1, len(toks) - 1),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS gram
      FROM t tt JOIN traincands USING (doc_id)
    ),
    bg AS (
      SELECT DISTINCT unnest(list_distinct(list_transform(range(1, len(toks) - 1),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS gram
      FROM t WHERE doc_id % 50 = 0
    ),
    flagged AS (SELECT DISTINCT g.doc_id FROM g JOIN bg USING (gram)),
    decon AS (
      SELECT doc_id FROM traincands
      WHERE doc_id NOT IN (SELECT doc_id FROM flagged)
    ),
    capped AS (
      SELECT doc_id, n_tok FROM (
        SELECT tt.source, tt.doc_id, CAST(len(toks) AS BIGINT) AS n_tok,
               sum(CAST(len(toks) AS BIGINT)) OVER (
                 PARTITION BY tt.source
                 ORDER BY len(toks) DESC, tt.doc_id
                 ROWS UNBOUNDED PRECEDING) AS cum
        FROM t tt JOIN decon USING (doc_id)
      ) WHERE cum <= {BUDGET_PER_SOURCE}
    ),
    train AS (
      SELECT doc_id, n_tok FROM capped
      WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 80
    )
    SELECT * FROM (
      SELECT CAST(1 AS BIGINT) AS stage_ord, 'raw' AS stage,
             count(*) AS n_docs, CAST(sum(len(toks)) AS BIGINT) AS n_tokens
      FROM t
      UNION ALL
      SELECT 2, 'curated', count(*), CAST(sum(len(toks)) AS BIGINT)
      FROM t JOIN curated USING (doc_id)
      UNION ALL
      SELECT 3, 'decontaminated', count(*), CAST(sum(len(toks)) AS BIGINT)
      FROM t JOIN decon USING (doc_id)
      UNION ALL
      SELECT 4, 'capped', count(*), CAST(sum(n_tok) AS BIGINT) FROM capped
      UNION ALL
      SELECT 5, 'train_split', count(*), CAST(sum(n_tok) AS BIGINT) FROM train
    )
    """,
)
def corpus_build_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The assembled training-corpus pipeline, stage by stage: raw ->
    quality curation + exact/near dedup survivors (curate_corpus) ->
    benchmark decontamination (n-gram overlap vs the held-out slice,
    benchmark docs excluded) -> per-source token caps (longest-first)
    -> deterministic md5 train split. Emits the per-stage doc/token
    census; the oracle replays every stage AND their composition.

    Scale: each stage is an already-audited operator (their individual
    entries carry the plan posture); the composition adds only id
    anti-joins/semi-joins between stages."""
    docs = load_table(spark, sf_dir, "documents")
    ntok = F.size(tokens(F.col("text"))).cast("bigint")
    # Round 11 (guide §1.2: don't recompute what you already have):
    # the three id-census rows each re-tokenized their doc subset —
    # tokenize ONCE into a tiny cached (doc_id, n_tok) frame and make
    # every census an aggregate over id joins against it. Same tokens()
    # expression, so the sums are bit-identical.
    meta = track_cache(docs.select("doc_id", ntok.alias("__n_tok")))

    def census(ids: DataFrame | None, ord_: int, name: str) -> DataFrame:
        joined = meta if ids is None else meta.join(ids.select("doc_id"), "doc_id")
        return joined.agg(
            F.lit(ord_).cast("bigint").alias("stage_ord"),
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__n_tok").alias("n_tokens"),
        )

    # each stage feeds BOTH its census row and the next stage — persist
    # the small id frames so the curation/shingle chain runs once
    curated = track_cache(
        _curate(docs, quality_threshold=0.5, jaccard_threshold=0.8)
    )
    traincands = curated.filter(F.col("doc_id") % 50 != 0).select("doc_id")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    flagged = decontaminate(
        docs.join(traincands, "doc_id"), bench, n=3
    ).select("doc_id")
    decon = track_cache(traincands.join(flagged, "doc_id", "left_anti"))
    capped = track_cache(cap_sources_by_budget(
        docs.join(decon, "doc_id"), budget_tokens=BUDGET_PER_SOURCE
    ))
    train = capped.filter(md5_uniform(F.col("doc_id"), 100) < 80)

    capped_census = capped.agg(
        F.lit(4).cast("bigint").alias("stage_ord"),
        F.lit("capped").alias("stage"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
    )
    train_census = train.agg(
        F.lit(5).cast("bigint").alias("stage_ord"),
        F.lit("train_split").alias("stage"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
    )
    return (
        census(None, 1, "raw")
        .unionAll(census(curated, 2, "curated"))
        .unionAll(census(decon, 3, "decontaminated"))
        .unionAll(capped_census)
        .unionAll(train_census)
    )


@register(
    "dedup_pair_explain",
    """
    WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
      FROM toks, UNNEST(generate_series(1, greatest(len(t)-2, 1))) AS g(i)
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             count(*) AS n_shared, min(a.s) AS sample_shingle
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, n_shared,
           CAST(sa.n AS BIGINT) AS size_a, CAST(sb.n AS BIGINT) AS size_b,
           round(n_shared * 1.0 / (sa.n + sb.n - n_shared), 4) AS jaccard,
           sample_shingle
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE round(n_shared * 1.0 / (sa.n + sb.n - n_shared), 4) >= 0.8
    """,
)
def dedup_pair_explain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup explainability: every near-dup pair (Jaccard >= 0.8) with
    the EVIDENCE a reviewer needs — shared-shingle count, both set
    sizes, the resulting Jaccard, and a deterministic sample of the
    shared material (the lexicographically smallest shared shingle).
    The dedup family says WHICH pairs merge; this is the merge-queue
    view that says WHY.

    Scale: identical inverted-index pair generation as the Jaccard
    dedup (min() rides the same aggregate — no extra pass for the
    sample)."""
    docs = load_table(spark, sf_dir, "documents")
    idx = _shingle_index(docs, "text", "doc_id", 3)
    sizes = idx.groupBy("__id").agg(F.count(F.lit(1)).alias("n"))
    a, b = idx.alias("a"), idx.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.__sh") == F.col("b.__sh"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .groupBy(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .agg(
            F.count(F.lit(1)).alias("n_shared"),
            F.min(F.col("a.__sh")).alias("sample_shingle"),
        )
    )
    sa = sizes.select(F.col("__id").alias("id_a"), F.col("n").alias("size_a"))
    sb = sizes.select(F.col("__id").alias("id_b"), F.col("n").alias("size_b"))
    jac = F.round(
        F.col("n_shared")
        / (F.col("size_a") + F.col("size_b") - F.col("n_shared")),
        4,
    )
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= 0.8)
        .select(
            "id_a",
            "id_b",
            "n_shared",
            F.col("size_a").cast("bigint").alias("size_a"),
            F.col("size_b").cast("bigint").alias("size_b"),
            "jaccard",
            "sample_shingle",
        )
    )


@register(
    "leakage_safe_splits",
    """
    WITH RECURSIVE
    toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
      FROM toks, UNNEST(generate_series(1, greatest(len(t)-2, 1))) AS g(i)
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach AS (
      SELECT src AS node, src AS m FROM edges
      UNION
      SELECT r.node, e.dst AS m FROM reach r JOIN edges e ON r.m = e.src
    ),
    clusters AS (SELECT node AS doc_id, min(m) AS cluster_id FROM reach GROUP BY node),
    assign AS (
      SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id
    )
    SELECT doc_id, cluster_id,
           CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
    FROM (
      SELECT doc_id, cluster_id,
             ('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
      FROM assign
    )
    """,
)
def leakage_safe_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination-proof train/val/test assignment
    (operators/curation.py:leakage_safe_splits): near-dup clusters
    (Jaccard ≥ 0.8 → connected components) decide the split as a unit —
    a training doc's near-twin can never land in eval. The oracle
    replays clustering with a recursive transitive closure and the
    split with the same portable md5 bucket; the no-leak property
    itself is additionally pinned by pytest."""
    from ..operators.curation import leakage_safe_splits as op

    return op(load_table(spark, sf_dir, "documents"))


@register(
    "dedup_substring_spans",
    """
    WITH t AS (
      SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents
    ),
    g AS (
      SELECT doc_id, i.i AS pos, array_to_string(toks[i.i:i.i + 7], ' ') AS g
      FROM t, UNNEST(generate_series(1, len(toks) - 7)) AS i(i)
      WHERE len(toks) >= 8
    ),
    occ AS (SELECT g, count(*) AS occ FROM g GROUP BY g),
    d AS (SELECT doc_id, pos FROM g JOIN occ USING (g) WHERE occ > 1),
    r AS (
      SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
                  THEN 0 ELSE 1 END AS new_run
      FROM d
    ),
    runs AS (
      SELECT doc_id, pos,
             sum(new_run) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
      FROM r
    ),
    spans AS (
      SELECT doc_id, run, max(pos) - min(pos) + 8 AS span_toks
      FROM runs GROUP BY doc_id, run
    ),
    per_doc AS (
      SELECT doc_id, count(*) AS n_dup_spans,
             CAST(sum(span_toks) AS BIGINT) AS dup_tokens
      FROM spans GROUP BY doc_id
    )
    SELECT t.doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(coalesce(n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
           CAST(coalesce(dup_tokens, 0) AS BIGINT) AS dup_tokens,
           round(coalesce(dup_tokens, 0) * 1.0 / len(toks), 4) AS dup_frac
    FROM t LEFT JOIN per_doc USING (doc_id)
    """,
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring dedup summary (operators/dedup.
    duplicate_substring_spans): per doc, the maximal token spans
    covered by 8-grams occurring more than once corpus-wide — the
    span-removal accounting of Lee et al. 2022, with positional
    n-grams as the distributed stand-in for the paper's suffix array.
    The DuckDB oracle replays the identical seed/merge pipeline."""
    return duplicate_substring_spans(
        load_table(spark, sf_dir, "documents"), min_len=8
    )


@register(
    "dsir_importance_select",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_t
      FROM documents
    ),
    cnt AS (SELECT tok, count(*) AS cr, sum(is_t) AS ct FROM toks GROUP BY tok),
    tot AS (SELECT sum(cr) AS R, sum(ct) AS T, count(*) AS V FROM cnt),
    lr AS (
      SELECT tok,
             CAST(floor(ln((ct + 1) * 1.0 / (T + V)) * 1000000 + 0.5) AS BIGINT)
           - CAST(floor(ln((cr + 1) * 1.0 / (R + V)) * 1000000 + 0.5) AS BIGINT)
             AS lr
      FROM cnt CROSS JOIN tot
    ),
    scored AS (
      SELECT doc_id, count(*) AS n_tokens, CAST(sum(lr) AS BIGINT) AS score_units
      FROM toks JOIN lr USING (tok) GROUP BY doc_id
    ),
    keyed AS (
      SELECT *,
             score_units - CAST(floor(ln(
               -CAST(floor(ln(
                 ((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                   % 1000000) + 0.5) / 1000000.0
               ) * 1000000 + 0.5) AS BIGINT) / 1000000.0
             ) * 1000000 + 0.5) AS BIGINT) AS key_units
      FROM scored
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, score_units,
           round(score_units / 1000000.0 / n_tokens, 4) + 0.0 AS avg_logratio,
           key_units
    FROM keyed ORDER BY key_units DESC, doc_id LIMIT 200
    """,
)
def dsir_importance_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling toward the English slice
    (operators/curation.dsir_select): integer-quantized unigram
    log-likelihood ratios, md5-derandomized Gumbel-top-k — 200 docs
    sampled proportional to exp(score), bit-replayed by the oracle."""
    return dsir_select(
        load_table(spark, sf_dir, "documents"),
        F.col("lang") == "en",
        n_select=200,
    )


@register(
    "cdc_chunk_dedup",
    """
    WITH t AS (
      SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents
    ),
    th AS (
      SELECT doc_id, toks,
             list_transform(toks,
               x -> ('0x' || substr(md5(x), 1, 8))::BIGINT % 1048576) AS hs
      FROM t
    ),
    rl AS (
      SELECT doc_id, toks,
             list_transform(generate_series(1, len(hs)), i ->
               (list_sum(list_transform(generate_series(greatest(1, i - 7), i),
                  j -> hs[j] * CAST(2**(i - j) AS BIGINT))) % 2147483647)) AS roll
      FROM th
    ),
    pos AS (
      SELECT doc_id, i.i AS pos, toks[i.i] AS tok,
             CASE WHEN roll[i.i] % 32 = 0 THEN 1 ELSE 0 END AS cut
      FROM rl, UNNEST(generate_series(1, len(toks))) AS i(i)
    ),
    ch AS (
      SELECT doc_id, pos, tok,
             coalesce(sum(cut) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk
      FROM pos
    ),
    fp AS (
      SELECT doc_id, chunk, md5(string_agg(tok, ' ' ORDER BY pos)) AS fp
      FROM ch GROUP BY doc_id, chunk
    ),
    occ AS (SELECT fp, count(*) AS occ FROM fp GROUP BY fp)
    SELECT doc_id, count(*) AS n_chunks,
           CAST(sum(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS dup_chunks,
           round(sum(CASE WHEN occ > 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
             AS dup_frac
    FROM fp JOIN occ USING (fp) GROUP BY doc_id
    """,
)
def cdc_chunk_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup (operators/dedup.cdc_chunk_dedup):
    FastCDC-style rolling-hash cuts at token granularity, md5 chunk
    fingerprints, per-doc chunk-duplication accounting — the
    storage-level dedup mode (backup systems, dataset versioning)
    whose cuts survive offset-shifting edits. The DuckDB oracle
    replays hash/cut/fingerprint decisions bit-for-bit."""
    return cdc_chunk_dedup(load_table(spark, sf_dir, "documents"))


# ----------------------------------------------------------------------
# prefix-filtered exact Jaccard join
# ----------------------------------------------------------------------

PF_BP = 8000  # Jaccard threshold in basis points (0.8)


def _prefix_join_oracle() -> str:
    # The UNFILTERED inverted-index answer: if the Spark side's prefix
    # filter dropped a true pair, the hashes cannot match.
    return f"""
    WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
      FROM toks, UNNEST(generate_series(1, greatest(len(t)-2, 1))) AS g(i)
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, CAST(i AS BIGINT) AS inter,
           CAST((10000 * i) // (sa.n + sb.n - i) AS BIGINT) AS jaccard_bp
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE (10000 * i) // (sa.n + sb.n - i) >= {PF_BP}
    """


def prefix_filtered_jaccard_pairs(
    docs: DataFrame,
    threshold_bp: int = PF_BP,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact Jaccard-threshold pairs via prefix filtering: shingles are
    canonically ordered by (global frequency asc, shingle asc); a doc
    with n shingles indexes only its first p = n - ceil(t*n) + 1. Two
    docs with J >= t share > (1-t)(na+nb)/(1+t) shingles, so their
    rarest-p prefixes must intersect — candidates come from the
    prefix-x-prefix join, then exact intersections are computed only
    for candidates. Returns (id_a, id_b, inter, jaccard_bp).

    Scale: the prefix index is ~(1-t) of the full inverted index and
    skips the head of the shingle frequency distribution entirely (the
    rarest shingles are the prefix), so the candidate join avoids the
    hot buckets that dominate a full index self-join; every stage is
    an equi-join or keyed window — no all-pairs anywhere."""
    # the index feeds FOUR consumers (freq, ranking, sizes, both
    # intersection probes) — cache so tokenize+explode runs once
    idx = track_cache(dedup._shingle_index(docs, text_col, id_col, k))
    freq = idx.groupBy("__sh").agg(F.count(F.lit(1)).alias("__df"))
    ranked = idx.join(freq, "__sh").withColumn(
        "__rn",
        F.row_number().over(
            Window.partitionBy("__id").orderBy("__df", "__sh")
        ),
    )
    sizes = idx.groupBy("__id").agg(F.count(F.lit(1)).alias("__n"))
    t_num, t_den = threshold_bp, 10000
    prefix = (
        ranked.join(sizes, "__id")
        # p = n - ceil(t*n) + 1, ceil via (t_num*n + t_den-1) DIV t_den
        .filter(
            F.col("__rn")
            <= F.col("__n")
            - F.expr(f"CAST(({t_num} * __n + {t_den - 1}) DIV {t_den} AS INT)")
            + 1
        )
        .select("__id", "__sh")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(b, (F.col("a.__sh") == F.col("b.__sh")) & (F.col("a.__id") < F.col("b.__id")))
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )
    ia = idx.select(F.col("__id").alias("id_a"), F.col("__sh").alias("__sha"))
    ib = idx.select(F.col("__id").alias("id_b"), F.col("__sh").alias("__shb"))
    inter = (
        cand.join(ia, "id_a")
        .join(ib, ["id_b"])
        .filter(F.col("__sha") == F.col("__shb"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("__id").alias("id_a"), F.col("__n").alias("__na"))
    sb = sizes.select(F.col("__id").alias("id_b"), F.col("__n").alias("__nb"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard_bp",
            F.expr("CAST((10000 * inter) DIV (__na + __nb - inter) AS BIGINT)"),
        )
        .filter(F.col("jaccard_bp") >= threshold_bp)
        .select("id_a", "id_b", F.col("inter").cast("bigint").alias("inter"), "jaccard_bp")
    )


@register("jaccard_prefix_join", _prefix_join_oracle())
def jaccard_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard >= 0.8 pairs via PPJoin-style prefix filtering;
    the oracle runs the UNFILTERED quadratic inverted-index join, so a
    hash match proves the prefix filter's no-false-negative theorem on
    real data (see prefix_filtered_jaccard_pairs for the scale
    argument; pytest additionally pins candidate-count < full-index
    pair count — the pruning evidence)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return prefix_filtered_jaccard_pairs(docs)


# ----------------------------------------------------------------------
# Cross-source duplication matrix
# ----------------------------------------------------------------------

_JACCARD_PAIRS_SQL = """
    toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
      FROM toks, UNNEST(generate_series(1, greatest(len(t)-2, 1))) AS g(i)
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id_a, id_b, round(i * 1.0 / (sa.n + sb.n - i), 4) AS jaccard
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8
    )
"""


@register(
    "dup_source_matrix",
    f"""
    WITH {_JACCARD_PAIRS_SQL}
    SELECT least(da.source, db.source) AS source_a,
           greatest(da.source, db.source) AS source_b,
           count(*) AS n_pairs,
           round(avg(p.jaccard), 6) AS avg_jaccard
    FROM pairs p
    JOIN documents da ON da.doc_id = p.id_a
    JOIN documents db ON db.doc_id = p.id_b
    GROUP BY 1, 2
    """,
)
def dup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplication rolled up to the source level: every exact
    n-gram-Jaccard pair (threshold 0.8, the `dedup_ngram_jaccard`
    contract) contributes one cell count to the unordered
    (source_a, source_b) matrix. A diagonal-heavy matrix means
    within-feed re-posts; a hot off-diagonal cell means one feed
    mirrors another and can be dropped wholesale before training.

    Scale: pair generation is the inverted shingle index self-join
    (sub-quadratic, shared-shingle pairs only); the rollup adds two
    dim-sized joins to fetch sources (the doc->source map is tiny
    relative to the text it drops) and a groupBy over at most
    |sources|² cells."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.8)
    src = docs.select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("id_a"), F.col("source").alias("__sa"))
    sb = src.select(F.col("doc_id").alias("id_b"), F.col("source").alias("__sb"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .groupBy(
            F.least("__sa", "__sb").alias("source_a"),
            F.greatest("__sa", "__sb").alias("source_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.avg("jaccard"), 6).alias("avg_jaccard"),
        )
    )


# ----------------------------------------------------------------------
# Boilerplate trigram detection
# ----------------------------------------------------------------------

BOILERPLATE_TOP = 20


def _exact_top_df_trigrams(sh: DataFrame, k: int) -> DataFrame:
    """Top-k trigrams by exact document frequency (ties: lexical),
    candidate-pruned — see boilerplate_trigrams docstring for the
    soundness argument. ``sh`` should be cached by the caller: the
    candidate pass, the exact-df pass, and the caller's hit join all
    re-read it. Returns a k-row LITERAL frame with column ``s`` (the
    winners are bounded metadata — k strings — so materializing them
    driver-side lets the caller's final action skip re-running both
    aggregation passes)."""
    spark = sh.sparkSession
    hashed = sh.withColumn("__h", F.xxhash64("s"))
    cnts = hashed.groupBy("__h").agg(F.count(F.lit(1)).alias("__cnt"))
    p = 512
    while True:
        cand_rows = (
            cnts.orderBy(F.col("__cnt").desc(), "__h").limit(p).collect()
        )  # bounded: p rows of (hash, count)
        vocab_covered = len(cand_rows) < p
        if not cand_rows:
            return spark.createDataFrame([], "s string")
        cand_hashes = spark.createDataFrame(
            [(r["__h"],) for r in cand_rows], "__h long"
        )
        top_rows = (
            hashed.join(F.broadcast(cand_hashes), "__h")
            .groupBy("s")
            .agg(F.count_distinct("doc_id").alias("df"))
            .orderBy(F.col("df").desc(), "s")
            .limit(k)
            .collect()
        )  # bounded: k rows
        m = min(r["__cnt"] for r in cand_rows)
        if (
            vocab_covered
            or p > 32768
            or (len(top_rows) == k and min(r["df"] for r in top_rows) > m)
        ):
            if not vocab_covered and p > 32768:
                # pruning unprovable (flat df plateau at rank k; never
                # observed on natural corpora): exact full-vocab pass
                top_rows = (
                    sh.groupBy("s")
                    .agg(F.count_distinct("doc_id").alias("df"))
                    .orderBy(F.col("df").desc(), "s")
                    .limit(k)
                    .collect()
                )
            return spark.createDataFrame([(r["s"],) for r in top_rows], "s string")
        p *= 4


@register(
    "boilerplate_trigrams",
    f"""
    WITH toks AS (SELECT doc_id, source, string_split(trim(text), ' ') AS t
                  FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, source, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
      FROM toks, UNNEST(generate_series(1, greatest(len(t)-2, 1))) AS g(i)
    ),
    top AS (
      SELECT s FROM (
        SELECT s, count(DISTINCT doc_id) AS df FROM sh GROUP BY s
      ) ORDER BY df DESC, s LIMIT {BOILERPLATE_TOP}
    ),
    hit AS (
      SELECT DISTINCT sh.doc_id, sh.source FROM sh JOIN top USING (s)
    ),
    per_src AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source)
    SELECT p.source,
           p.n_docs,
           CAST(count(h.doc_id) AS BIGINT) AS n_docs_boilerplate,
           round(count(h.doc_id) * 1.0 / p.n_docs, 6) AS boilerplate_share
    FROM per_src p
    LEFT JOIN hit h ON h.source = p.source
    GROUP BY p.source, p.n_docs
    """,
)
def boilerplate_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style boilerplate audit: the 20 most document-frequent word
    trigrams in the corpus (ties broken lexically, so the cut is
    deterministic), and per source the share of documents containing
    at least one — the per-feed nav-bar/banner contamination signal
    curation uses to decide where line-level stripping is needed.

    Scale (round 8, VERDICT r7 item 4): the document-frequency pass was
    the biggest absolute wall of the wave-42 additions (14.5 s sf1 /
    44.7 s sf2.5) because ``count_distinct(doc_id) GROUP BY s`` shuffles
    every (trigram-string, doc_id) pair twice. The df computation is now
    CANDIDATE-PRUNED and still exact:

      1. occurrence counts by ``xxhash64(s)`` — partial-aggregated
         map-side, 8-byte shuffle keys instead of trigram strings;
      2. top-P candidate hashes by count (TakeOrdered, P starts at 512);
      3. exact df only for candidate-hash rows (broadcast semi-join,
         then the count_distinct shuffle touches candidates only);
      4. soundness gate: any non-candidate s has df(s) <= cnt(s) <= m
         (m = min candidate count; hash collisions only RAISE cnt_h, so
         the bound survives them) — accept iff the 20th candidate df
         beats m, else escalate P x4; if the whole vocab fits in P the
         prune is vacuously exact. Unprovable after escalation (never
         observed; needs a near-uniform df plateau at rank 20) falls
         back to the original full plan.

    The gate's driver-side cost is bounded metadata (a 20-row collect
    per attempt); the hit test joins the shingle stream against the
    20-row broadcast as before. Nothing data-sized on the driver,
    nothing quadratic."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source", F.split(F.trim("text"), " ").alias("__t")
    )
    # the shingle stream feeds three passes (candidate counts, exact
    # candidate df, hit join) — cache it so the explode runs once; a
    # performance cache only (released by release_caches, recompute-safe)
    sh = track_cache(
        toks.select(
            "doc_id", "source", F.explode(array_shingles(F.col("__t"), 3)).alias("s")
        )
    )
    top = _exact_top_df_trigrams(sh, BOILERPLATE_TOP)
    hit = sh.join(F.broadcast(top), "s").select("doc_id", "source").distinct()
    per_src = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        per_src.join(hit, "source", "left")
        .groupBy("source", "n_docs")
        .agg(
            F.count("doc_id").cast("bigint").alias("n_docs_boilerplate"),
            F.round(F.count("doc_id") / F.col("n_docs"), 6).alias("boilerplate_share"),
        )
    )


# ----------------------------------------------------------------------
# LSH (bands x rows) S-curve planner
# ----------------------------------------------------------------------

LSH_TOTAL_HASHES = 48


LSH_ROW_CHOICES = (1, 2, 3, 4, 6, 8)


LSH_T_GRID = tuple(x / 10.0 for x in range(1, 10))  # 0.1 .. 0.9


@register(
    "lsh_parameter_plan",
    f"""
    WITH layouts AS (
      SELECT unnest([{", ".join(str(r) for r in LSH_ROW_CHOICES)}]) AS rows_per_band
    ),
    grid AS (
      SELECT CAST(unnest([{", ".join(str(t) for t in LSH_T_GRID)}]) AS DOUBLE)
             AS jaccard
    )
    SELECT CAST(l.rows_per_band AS BIGINT) AS rows_per_band,
           CAST({LSH_TOTAL_HASHES} // l.rows_per_band AS BIGINT) AS n_bands,
           g.jaccard,
           round(1.0 - power(1.0 - power(g.jaccard, l.rows_per_band),
                             {LSH_TOTAL_HASHES} // l.rows_per_band), 6)
             AS p_candidate
    FROM layouts l CROSS JOIN grid g
    """,
)
def lsh_parameter_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collision-probability table 1−(1−t^r)^b for every (r, b)
    layout of the catalog's 48 MinHash functions at a Jaccard grid —
    the planning table behind `dedup_minhash_lsh`'s r=3, b=16 choice
    (knee near t≈0.40, candidate probability ≥0.9988 at the 0.7
    verification threshold — the layout whose recall gamble the
    round-9 sf1 sweep retired). Deterministic pure math; takes
    sf_dir only to honor the catalog signature.

    Scale: 45 rows of closed-form arithmetic — the point is the
    DECISION it encodes for the operators that do scale."""
    rows = (
        spark.range(1)
        .select(
            F.explode(
                F.array(*[F.lit(r) for r in LSH_ROW_CHOICES])
            ).alias("rows_per_band")
        )
    )
    grid = spark.range(1).select(
        F.explode(F.array(*[F.lit(t) for t in LSH_T_GRID])).alias("jaccard")
    )
    b = (F.lit(LSH_TOTAL_HASHES) / F.col("rows_per_band")).cast("bigint")
    p = 1.0 - F.pow(
        1.0 - F.pow(F.col("jaccard"), F.col("rows_per_band")), b
    )
    return (
        rows.crossJoin(grid)
        .select(
            F.col("rows_per_band").cast("bigint").alias("rows_per_band"),
            b.alias("n_bands"),
            "jaccard",
            F.round(p, 6).alias("p_candidate"),
        )
    )


# ----------------------------------------------------------------------
# Dedup threshold sweep
# ----------------------------------------------------------------------

SWEEP_THRESHOLDS = (0.5, 0.6, 0.7, 0.8, 0.9)


@register(
    "dedup_threshold_sweep",
    f"""
    WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
      FROM toks, UNNEST(generate_series(1, greatest(len(t)-2, 1))) AS g(i)
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      -- round(…, 4) BEFORE the filter: the Spark operator filters on
      -- its rounded output column, so the replay must too
      SELECT id_a, id_b, round(i * 1.0 / (sa.n + sb.n - i), 4) AS j
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE round(i * 1.0 / (sa.n + sb.n - i), 4) >= 0.5
    ),
    grid AS (SELECT CAST(unnest([{", ".join(str(t) for t in SWEEP_THRESHOLDS)}])
                         AS DOUBLE) AS threshold),
    hit AS (
      SELECT g.threshold, p.id_a, p.id_b FROM grid g
      JOIN pairs p ON p.j >= g.threshold
    ),
    docs_hit AS (
      SELECT threshold, count(DISTINCT d) AS n_docs_in_pairs FROM (
        SELECT threshold, id_a AS d FROM hit
        UNION ALL SELECT threshold, id_b FROM hit
      ) GROUP BY threshold
    ),
    pair_cnt AS (SELECT threshold, count(*) AS n_pairs FROM hit GROUP BY threshold)
    SELECT g.threshold,
           CAST(coalesce(pc.n_pairs, 0) AS BIGINT) AS n_pairs,
           CAST(coalesce(dh.n_docs_in_pairs, 0) AS BIGINT) AS n_docs_in_pairs
    FROM grid g
    LEFT JOIN pair_cnt pc ON pc.threshold = g.threshold
    LEFT JOIN docs_hit dh ON dh.threshold = g.threshold
    """,
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pair count and affected-document count at five Jaccard
    thresholds, from ONE inverted-index pair pass at the loosest
    threshold — the curve that shows where the corpus's duplication
    knee sits before anyone commits a threshold to production.

    Scale: the expensive step (exact shingle pair join) runs once at
    0.5; the sweep itself is a 5-row broadcast against the pair list,
    which is candidate-sized, not corpus-sized. Round 11 (guide §5):
    the PAIR LIST rides track_cache — it is candidate-sized (bounded,
    small at any scale) and feeds two aggregate consumers (pair counts
    + distinct-doc counts), each of which otherwise re-ran the whole
    shingle pipeline; a 4-variant same-window bisect measured this
    40% faster than the previous shape (med 5.30 → 3.14 s), and
    caching the pairs instead of the exploded INDEX is the only
    combination that also fits memory at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = track_cache(
        dedup.ngram_jaccard_pairs(docs, threshold=0.5).select(
            "id_a", "id_b", F.col("jaccard").alias("j")
        )
    )
    grid = spark.range(1).select(
        F.explode(F.array(*[F.lit(t) for t in SWEEP_THRESHOLDS])).alias("threshold")
    )
    hit = pairs.crossJoin(F.broadcast(grid)).where(F.col("j") >= F.col("threshold"))
    pair_cnt = hit.groupBy("threshold").agg(F.count(F.lit(1)).alias("n_pairs"))
    docs_hit = (
        hit.select("threshold", F.col("id_a").alias("d"))
        .unionAll(hit.select("threshold", F.col("id_b").alias("d")))
        .groupBy("threshold")
        .agg(F.count_distinct("d").alias("n_docs_in_pairs"))
    )
    return (
        grid.join(pair_cnt, "threshold", "left")
        .join(docs_hit, "threshold", "left")
        .select(
            "threshold",
            F.coalesce("n_pairs", F.lit(0)).cast("bigint").alias("n_pairs"),
            F.coalesce("n_docs_in_pairs", F.lit(0))
            .cast("bigint")
            .alias("n_docs_in_pairs"),
        )
    )
