"""Deduplication operators: exact, shingle-set (n-gram Jaccard,
containment, MinHash+LSH, prefix filter, incremental), SimHash, and
embedding-cosine near-dup.

Training-data-pipeline extensions (no reference counterpart).

Every shingle-set operator is a candidate generator followed by one
exact verifier (Chaudhuri et al., ICDE 2006: a set-similarity join is
a candidate step plus a verification step):

  - generators produce (id_a, id_b, |A∩B|) rows:
      * _pair_intersections: the inverted index grouped by shingle,
        each group's sorted member list expanded in-row into its
        (a < b) pairs (ngram_jaccard_pairs, containment_pairs). Cost
        is Σ bucket², not n²;
      * MinHash bands: per-doc signatures min(xxhash64(shingle, i)),
        banded into (band, band_hash) buckets whose members pair up
        the same way (minhash_lsh_pairs);
      * the PPJoin prefix: each doc indexes only its rarest
        n - ceil(t*n) + 1 shingles, and two docs with J >= t must
        share a prefix shingle (prefix_filtered_jaccard_pairs);
      * the batch-vs-base join: an arriving batch's index equi-joins
        the base index on the shingle key, never base × base
        (incremental_jaccard_dups, incremental_dups_against_index).
    The MinHash and prefix candidates carry no count yet;
    _candidate_intersections joins the index per candidate pair to
    count |A∩B| for candidates only.
  - _scored_pairs is the one verifier: it joins both set sizes to the
    intersections, computes the score (_jaccard, rounded to 4 places,
    or containment, or integer basis points) and keeps pairs at or
    above the threshold. The dedup_pair_explain query's self-join
    (which carries a sample shared shingle) goes through it too.

Other operators:

  - exact: hash-groupBy on a fingerprint — one shuffle keyed by md5,
    perfectly balanced (hash keys are uniform).
  - SimHash: _bit_vote explodes tokens, sums a ±1 vote per bit of the
    token hash and packs the signs (64-bit xxhash64 in simhash, 32-bit
    md5 in md5_simhash32, which DuckDB can replay); candidates via
    pigeonhole band join, verify by popcount(xor) ≤ k.
  - embedding cosine: exact pairwise restricted by a blocking key; the
    ANN path lives in similarity.py.

Everything except embedding_dup_pairs is DataFrame-native (explode /
groupBy / join / bit ops); no Python in the hot path. Ids are generic:
any orderable id_col type (long or string) works.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import track_cache
from .textops import fingerprint_md5, tokens


def array_shingles(t: Column, k: int = 3) -> Column:
    """Distinct k-token shingles over an ALREADY-SPLIT token array.
    Hot paths must materialize the split as a real column first:
    Catalyst does not CSE inside higher-order-function lambdas, so an
    inline split() is re-evaluated per reference (measured 3-5x)."""
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(t) - k, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(t, i + 1, k)),
        )
    )


def shingles(text: Column, k: int = 3) -> Column:
    """Distinct k-token shingles of a document (from raw text)."""
    return array_shingles(tokens(text), k)


def dedup_exact(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: keep the lowest id per normalized-text fingerprint.
    Deterministic survivor choice (min id) — `dropDuplicates` would be
    arbitrary-per-run."""
    fp = fingerprint_md5(F.col(text_col)).alias("fp")
    return (
        docs.select(F.col(id_col), fp)
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
    )


def _fan_out(docs: DataFrame, id_col: str) -> DataFrame:
    """Spread docs across cores before CPU-bound shingle/hash work.

    Small corpora often arrive as one parquet file → one partition →
    serial execution; at 100 TB the input is already thousands of
    splits and AQE keeps this a no-op-sized shuffle."""
    parallelism = docs.sparkSession.sparkContext.defaultParallelism
    return docs.repartition(parallelism, F.col(id_col))


def _shingle_index(docs: DataFrame, text_col: str, id_col: str, k: int) -> DataFrame:
    return (
        _fan_out(docs, id_col)
        .withColumn("__t", tokens(F.col(text_col)))
        .select(
            F.col(id_col).alias("__id"),
            F.explode(array_shingles(F.col("__t"), k)).alias("__sh"),
        )
    )


def _inrow_shingle_sizes(
    docs: DataFrame, text_col: str, id_col: str, k: int, id_out: str, n_out: str
) -> DataFrame:
    """(id, |shingle set|) per doc WITHOUT building the inverted index:
    array_shingles is distinct in-row, so the set size is one size()
    in the scan projection — no explode, no groupBy(doc) aggregate
    (round 11, guide §1.2/§2.3). Identical to counting index rows:
    the index explodes exactly this array."""
    return (
        docs.withColumn("__t", tokens(F.col(text_col)))
        .select(
            F.col(id_col).alias(id_out),
            F.size(array_shingles(F.col("__t"), k)).alias(n_out),
        )
    )


def _expand_sorted_pairs(grouped: DataFrame, ids_col: str = "ids") -> DataFrame:
    """Expand each row's sorted member list into its (id_a < id_b)
    pairs with O(|ids|) — not O(|ids|²) — peak memory per row
    (round 12, guide §2.5, VERDICT r11 item 3): posexplode anchors
    id_a at each position, a second explode streams the tail slice as
    id_b, and whole-stage codegen pipelines both Generate nodes row by
    row. The round-11 single-shot ``flatten(transform(...))`` built
    the ENTIRE |ids|²/2 struct array in one allocation before
    exploding — a 50k-member stop-shingle / celebrity LSH bucket is a
    ~20-40 GB single-row array there, i.e. a guaranteed task OOM at
    any realistic executor, vs a ≤|ids|-element slice here. The pair
    MULTISET is identical (positions (i, j>i) of the sorted list), so
    every consumer's aggregate is unchanged. A hot key's S²/2 pair
    ROWS still stream through the one task that owns it — that
    straggler bound is inherent to by-key pair generation (the join
    form has it too) and is documented at the call sites."""
    return grouped.select(
        F.col(ids_col), F.posexplode(ids_col).alias("__i", "id_a")
    ).select(
        "id_a",
        F.explode(
            F.expr(f"slice({ids_col}, __i + 2, size({ids_col}))")
        ).alias("id_b"),
    )


def _pair_intersections(idx: DataFrame) -> DataFrame:
    """(id_a, id_b, __inter) shared-shingle counts from a (__id, __sh)
    inverted index, id_a < id_b. Round 11 (guide §2.3/§2.4): the index
    self-join on the shingle key became ONE aggregation — group each
    shingle's sorted doc-id list and expand the (a < b) pairs IN-ROW
    (the basket-pairs trick of
    catalog/common.py::_basket_pairs_per_order), so the index is
    shuffled once instead of twice and pair rows are born inside the
    task that owns the shingle, partially aggregated before the only
    pair-keyed exchange. Pair count (and hot-shingle skew) is
    identical to the join form — a stop-shingle shared by S docs still
    costs S²/2 — only the number of exchanges changes. Round 12: the
    expansion streams via _expand_sorted_pairs, so the hot key costs
    task TIME, never a task-sized allocation."""
    return (
        _expand_sorted_pairs(
            idx.groupBy("__sh")
            .agg(F.sort_array(F.collect_list("__id")).alias("ids"))
            .filter(F.size("ids") >= 2)
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__inter"))
    )


def _index_sizes(idx: DataFrame) -> DataFrame:
    """(__id, __n) shingle-set size per doc of a (__id, __sh) index:
    index rows are distinct (doc, shingle) pairs."""
    return idx.groupBy("__id").agg(F.count(F.lit(1)).alias("__n"))


def _candidate_intersections(cand: DataFrame, idx: DataFrame) -> DataFrame:
    """(id_a, id_b, __inter) for the (id_a, id_b) candidate pairs only:
    |A∩B| via a pair-restricted index join instead of the whole index
    self-join (candidates are a vanishing fraction of all pairs)."""
    ia = idx.select(F.col("__id").alias("id_a"), F.col("__sh").alias("__sha"))
    ib = idx.select(F.col("__id").alias("__idb"), F.col("__sh").alias("__shb"))
    return (
        cand.join(ia, "id_a")
        .join(ib, (F.col("id_b") == F.col("__idb")) & (F.col("__sha") == F.col("__shb")))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__inter"))
    )


def _jaccard(inter: Column, na: Column, nb: Column) -> Column:
    """|A∩B| / |A∪B| rounded to 4 places (the oracles round the same
    way)."""
    return F.round(inter / (na + nb - inter), 4)


def _containment(inter: Column, na: Column, nb: Column) -> Column:
    return F.round(inter / F.least(na, nb), 4)


def _jaccard_bp(inter: Column, na: Column, nb: Column) -> Column:
    """Jaccard in integer basis points, floor(10000·|A∩B| / |A∪B|)."""
    return F.call_function("div", F.lit(10000) * inter, na + nb - inter).cast("bigint")


def _sides(sizes: DataFrame) -> tuple[DataFrame, DataFrame]:
    """A (__id, __n) size frame keyed for both sides of an (id_a, id_b)
    pair: (id_a, __na) and (id_b, __nb)."""
    return (
        sizes.select(F.col("__id").alias("id_a"), F.col("__n").alias("__na")),
        sizes.select(F.col("__id").alias("id_b"), F.col("__n").alias("__nb")),
    )


def _scored_pairs(
    inter: DataFrame,
    sa: DataFrame,
    sb: DataFrame,
    score: Callable[[Column, Column, Column], Column],
    name: str,
    threshold: float,
    out: Sequence[str | Column] | None = None,
) -> DataFrame:
    """The one exact verifier of every shingle-set operator.

    ``inter`` holds (a, b, intersection, ...) rows from a candidate
    generator; ``sa`` and ``sb`` hold (a, size) and (b, size). Joins
    both set sizes on, adds ``name`` = score(intersection, size_a,
    size_b), keeps rows with ``name`` >= threshold and selects ``out``
    (default a, b, name). The sizes join back after the pair
    aggregate, which stays a skinny count: carrying them through that
    hot aggregate as min() columns measured 2x slower at sf0.1."""
    a, b, i = inter.columns[:3]
    na, nb = sa.columns[1], sb.columns[1]
    return (
        inter.join(sa, a)
        .join(sb, b)
        .withColumn(name, score(F.col(i), F.col(na), F.col(nb)))
        .filter(F.col(name) >= threshold)
        .select(*(out or (a, b, name)))
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """All pairs with shingle-set Jaccard ≥ threshold, via inverted
    index (pairs only materialize for docs sharing ≥1 shingle).
    Returns (id_a, id_b, jaccard) with id_a < id_b.

    The index is deliberately NOT cached: its two consumers (pair
    groups + per-doc sizes) re-run the tokenize+explode subtree, which
    a 6-rep same-window bisect measured ~15-20% FASTER than
    materializing the exploded index into the cache (med 2.61 vs
    3.20 s at sf0.1) — and at 100 TB an exploded-inverted-index cache
    cannot fit memory, so uncached is also the only shape that scales."""
    idx = _shingle_index(docs, text_col, id_col, k)
    return _scored_pairs(
        _pair_intersections(idx), *_sides(_index_sizes(idx)), _jaccard, "jaccard", threshold
    )


def _batch_vs_base(
    new: DataFrame,
    base_idx: DataFrame,
    base_sizes: DataFrame,
    threshold: float,
    k: int,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """(new_id, base_id, jaccard) of an arriving batch against a base
    index ``base_idx`` (__bid, __sh) with sizes (base_id, __nb): the
    batch builds only its own index and equi-joins the base on the
    shingle key. Batch set sizes come in-row off the docs frame."""
    ni = _shingle_index(new, text_col, id_col, k).select(
        F.col("__id").alias("__nid"), "__sh"
    )
    inter = (
        ni.join(base_idx, "__sh")
        .groupBy(F.col("__nid").alias("new_id"), F.col("__bid").alias("base_id"))
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    n_sizes = _inrow_shingle_sizes(new, text_col, id_col, k, "new_id", "__nn")
    return _scored_pairs(inter, n_sizes, base_sizes, _jaccard, "jaccard", threshold)


def incremental_jaccard_dups(
    base: DataFrame,
    new: DataFrame,
    threshold: float = 0.8,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental near-dup check: which NEW docs duplicate an already-
    indexed BASE corpus (shingle Jaccard ≥ threshold)?

    The production shape of continuous corpus ingestion: the base
    shingle index is built once (and at scale persisted/bucketed by
    shingle); each arriving batch builds only ITS index and equi-joins
    the base on the shingle key — cost is proportional to the batch,
    not the corpus, and never new×new or base×base. Returns
    (new_id, base_id, jaccard). Both sides' set sizes are
    size(array_shingles) straight off the docs frame: no second
    tokenize pass, no groupBy(doc)."""
    bi = _shingle_index(base, text_col, id_col, k).select(
        F.col("__id").alias("__bid"), "__sh"
    )
    b_sizes = _inrow_shingle_sizes(base, text_col, id_col, k, "base_id", "__nb")
    return _batch_vs_base(new, bi, b_sizes, threshold, k, text_col, id_col)


def containment_pairs(
    docs: DataFrame,
    threshold: float = 0.9,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """All pairs where the SMALLER doc's shingle set is ≥ threshold
    contained in the other: containment = |A∩B| / min(|A|, |B|) — the
    asymmetric near-superset relation (quotes, excerpts, boilerplate
    wrappers) that symmetric Jaccard under-scores: a 50-shingle doc
    fully quoted inside a 5000-shingle doc has Jaccard ≈ 0.01 but
    containment 1.0. Same generator and uncached index as
    ngram_jaccard_pairs; only the score differs."""
    idx = _shingle_index(docs, text_col, id_col, k)
    return _scored_pairs(
        _pair_intersections(idx),
        *_sides(_index_sizes(idx)),
        _containment,
        "containment",
        threshold,
    )


def _signatures_from_index(idx: DataFrame, num_perm: int, id_col: str) -> DataFrame:
    """(id_col, sig, __n): num_perm MinHash values per doc as one array,
    sig[i] = min over shingles of xxhash64(xxhash64(shingle), i), plus
    the shingle-set size.

    The shingle STRING is hashed once and the num_perm permutation
    hashes derive from that 8-byte value: xxhash64 over a fixed-width
    long is ~an order of magnitude cheaper than re-hashing a ~20-byte
    string per permutation, and (hash of independent-seeded hash) is
    the same minwise family (recall is pinned by the ==-exact-path
    pytest). Codegen'd hash+min aggregates beat interpreted
    higher-order array expressions ~4x on cold JVMs. Index rows are
    distinct (doc, shingle) pairs, so the count folded into the same
    aggregate IS the set size — the verifier needs no extra groupBy."""
    idx = idx.withColumn("__h0", F.xxhash64(F.col("__sh")))
    aggs = [F.min(F.xxhash64(F.col("__h0"), F.lit(i))).alias(f"h{i}") for i in range(num_perm)]
    wide = idx.groupBy(F.col("__id").alias(id_col)).agg(
        *aggs, F.count(F.lit(1)).alias("__n")
    )
    return wide.select(
        id_col, F.array(*[f"h{i}" for i in range(num_perm)]).alias("sig"), F.col("__n")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.7,
    num_perm: int = 48,
    bands: int = 16,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash + banded LSH candidate generation, then exact Jaccard
    verification of candidates only. Sub-quadratic: candidate pairs
    come from the (band, band_hash) buckets.

    Banding choice (round 9): the verification stage is exact, so the
    banding's only job is recall AT the verification threshold — its
    50% knee must sit well BELOW it. r=3, b=16 puts the knee at
    (1/16)^(1/3) ≈ 0.40, giving P(candidate) = 1−(1−j³)¹⁶ ≈ 0.9988 at
    j=0.7 and ≈ 1−1e−5 at j=0.8, while still suppressing dissimilar
    mass (P ≈ 0.043 at j=0.3 vs 0.27 for an r=2 layout with the same
    recall). The previous default (r=4, b=8, knee 0.59) gambled an 11%
    per-pair miss at j=0.7 — measured at sf1: one true pair at j=0.80
    missed out of 2560 (caught by the full-registry oracle sweep);
    r=3, b=16 re-measured 2560/2560 with no wall regression (the 2×
    band rows are dwarfed by shingle work).

    The shingle inverted index is built once and persisted — it feeds
    both the signature aggregation and the exact verification, and the
    verification joins it *per candidate pair* rather than self-joining
    the whole index (shingle work is the dominant cost; candidates are
    a vanishing fraction of the corpus at any scale)."""
    rows_per_band = num_perm // bands
    idx = track_cache(_shingle_index(docs, text_col, id_col, k))
    sigs = track_cache(_signatures_from_index(idx, num_perm, id_col))
    # band hash = xxhash64 of the band's signature slice (arrays hash
    # as a whole); one explode to (id, band, bh) bucket rows
    band_cols = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda bi: F.struct(
            bi.alias("band"),
            F.xxhash64(F.slice(F.col("sig"), bi * rows_per_band + 1, rows_per_band)).alias("bh"),
        ),
    )
    buckets = sigs.select(F.col(id_col).alias("__id"), F.explode(band_cols).alias("b")).select(
        "__id", F.col("b.band").alias("band"), F.col("b.bh").alias("bh")
    )
    # bucket pairs by in-row expansion of each bucket's sorted member
    # list (the _pair_intersections trick): ONE exchange of the
    # docs×bands bucket stream instead of the two a self-join on
    # (band, bh) pays, same (id_a < id_b) pairs. An interleaved A/B
    # against the self-join measured the two within noise (sf0.1 and
    # sf1); this form has the better plan (BHJ 10→8, one bucket
    # exchange). The expansion streams (see _expand_sorted_pairs): a
    # celebrity bucket never allocates its |ids|²/2 pairs as one array.
    cand = _expand_sorted_pairs(
        buckets.groupBy("band", "bh")
        .agg(F.sort_array(F.collect_list("__id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    ).distinct()
    # sizes ride along on the (already materialized) signature frame
    sizes = sigs.select(F.col(id_col).alias("__id"), "__n")
    return _scored_pairs(
        _candidate_intersections(cand, idx), *_sides(sizes), _jaccard, "jaccard", threshold
    )


def prefix_filtered_jaccard_pairs(
    docs: DataFrame,
    threshold_bp: int = 8000,
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
    for candidates. Returns (id_a, id_b, inter, jaccard_bp), the
    threshold and score in integer basis points.

    Scale: the prefix index is ~(1-t) of the full inverted index and
    skips the head of the shingle frequency distribution entirely (the
    rarest shingles are the prefix), so the candidate join avoids the
    hot buckets that dominate a full index self-join; every stage is
    an equi-join or keyed window — no all-pairs anywhere."""
    # the index feeds FOUR consumers (freq, ranking, sizes, both
    # intersection probes) — cache so tokenize+explode runs once
    idx = track_cache(_shingle_index(docs, text_col, id_col, k))
    freq = idx.groupBy("__sh").agg(F.count(F.lit(1)).alias("__df"))
    ranked = idx.join(freq, "__sh").withColumn(
        "__rn",
        F.row_number().over(
            Window.partitionBy("__id").orderBy("__df", "__sh")
        ),
    )
    sizes = _index_sizes(idx)
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
    return _scored_pairs(
        _candidate_intersections(cand, idx),
        *_sides(sizes),
        _jaccard_bp,
        "jaccard_bp",
        threshold_bp,
        out=("id_a", "id_b", F.col("__inter").cast("bigint").alias("inter"), "jaccard_bp"),
    )


def duplicate_clusters(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b", max_iter: int = 20
) -> DataFrame:
    """Resolve near-dup *pairs* into duplicate *clusters*: connected
    components by iterative min-label propagation. Returns
    (doc_id, cluster_id) for every doc appearing in a pair, where
    cluster_id = the smallest doc id in its component (the canonical
    survivor).

    Scale design: each iteration is one shuffle (join on node +
    min-aggregate); iterations needed = component diameter, and
    near-dup clusters are small and dense (diameter 1-3 in practice),
    so the loop converges in a handful of rounds. Round 11 (guide
    §1.2/§2.4): per-round cost fell from two jobs (eager
    localCheckpoint materialize + comparison-join count) to ONE —
    min-label propagation is monotone (every new label =
    min(old, neighbor labels) <= old), so the exact DECIMAL(38,0) sum
    of labels strictly decreases iff any label changed, and the agg
    that materializes each round's LAZY localCheckpoint doubles as the
    convergence probe: no comparison join, no separate materialize
    job. localCheckpoint (not persist) is load-bearing for plan size —
    each round's plan nests its parent's, so caching alone grows the
    logical plan exponentially with rounds (measured: corpus's 4-round
    loop hit 84k Exchange nodes and 4x wall in pure planning);
    truncation keeps every round's plan constant-size. Convergence is
    still exact, so the `max_iter` cap is a safety valve, not a
    correctness knob. For adversarial billion-edge graphs swap in
    hash-to-min (O(log n) rounds); for training-data dedup this is the
    right simple tool.
    """
    # both edge directions from ONE pass over pairs (round 11, guide
    # §1.2): the old fwd/rev unionByName re-ran the entire upstream
    # pair pipeline once per branch inside the edges materialization
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(id_a).alias("src"), F.col(id_b).alias("dst")),
                    F.struct(F.col(id_b).alias("src"), F.col(id_a).alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
        .persist()
    )
    labels = edges.select(F.col("src").alias("node")).distinct().withColumn(
        "label", F.col("node")
    ).localCheckpoint(eager=False)
    # The one-job-per-round label-sum convergence probe is only valid
    # for NUMERIC ids: a non-numeric label (string doc ids are legal —
    # id_col is generic) casts to NULL, both round sums are None, and
    # None == None would exit after one round with under-propagated
    # components (ADVICE r11, medium). Guard on the dtype; non-numeric
    # ids take the exact changed-count comparison join instead (the
    # pre-round-11 probe: one extra node-scale join per round).
    from pyspark.sql import types as _T

    numeric_ids = isinstance(labels.schema["label"].dataType, _T.NumericType)

    # exact label-sum (doc ids can be ~1e10 over ~1e9 nodes: a long sum
    # could overflow, DECIMAL(38,0) cannot); the single .first() action
    # both materializes the lazy checkpoint and reads the signature
    def _sig(df: DataFrame):
        r = df.agg(F.sum(F.col("label").cast("decimal(38,0)")).alias("s")).first()
        return r["s"]

    prev_sum = _sig(labels) if numeric_ids else None
    for _ in range(max_iter):
        neigh = (
            edges.join(labels, edges.dst == labels.node)
            .select(F.col("src").alias("node"), "label")
        )
        new_labels = (
            labels.unionByName(neigh).groupBy("node").agg(F.min("label").alias("label"))
        ).localCheckpoint(eager=False)
        if numeric_ids:
            new_sum = _sig(new_labels)  # one job: materializes + sums
            converged = new_sum == prev_sum
            prev_sum = new_sum
        else:
            # min-propagation is monotone under ANY total order, so
            # "no label changed" is exact here too; the comparison join
            # doubles as the materializing action for the lazy
            # checkpoint
            converged = (
                new_labels.alias("n")
                .join(labels.alias("o"), "node")
                .where(F.col("n.label") != F.col("o.label"))
                .limit(1)
                .count()
                == 0
            )
        labels = new_labels
        if converged:
            break
    edges.unpersist()
    # superseded rounds' checkpoint blocks are reclaimed by the
    # ContextCleaner once Python drops the refs (session.reclaim_blocks
    # makes that prompt between queries)
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


def dedup_survivors(
    docs: DataFrame, clusters: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Drop every clustered doc except its cluster's canonical (min-id)
    member: one broadcast-able anti-join against the losers list."""
    losers = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias(id_col)
    )
    return docs.join(losers, id_col, "left_anti")


def _bit_vote(
    docs: DataFrame,
    hash_of: Callable[[Column], Column],
    width: int,
    name: str,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """(id_col, name) SimHash per doc: explode tokens (with
    multiplicity weight) → ``width`` ±1 vote sums over the low bits of
    hash_of(token) → sign → packed bigint (bit 63 packs as the sign
    bit). All codegen'd aggregates."""
    tok = _fan_out(docs, id_col).select(
        F.col(id_col).alias("__id"), F.explode(tokens(F.col(text_col))).alias("__t")
    ).withColumn("__h", hash_of(F.col("__t")))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("__h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(width)
    ]
    agg = tok.groupBy("__id").agg(*votes)
    packed = sum(
        (
            F.when(
                F.col(f"b{b}") > 0, F.lit(-(1 << 63) if b == 63 else 1 << b).cast("long")
            ).otherwise(F.lit(0).cast("long"))
            for b in range(width)
        ),
        F.lit(0).cast("long"),
    )
    return agg.select(F.col("__id").alias(id_col), packed.alias(name))


def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per doc over xxhash64 token hashes."""
    return _bit_vote(docs, F.xxhash64, 64, "simhash", text_col, id_col)


def simhash_pairs(
    docs: DataFrame, max_hamming: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ max_hamming.
    Candidates via pigeonhole: split 64 bits into max_hamming+1 chunks;
    any pair within distance must agree on ≥1 chunk → equi-join per
    chunk, union, verify popcount(xor)."""
    chunks = max_hamming + 1
    width = 64 // chunks
    sigs = simhash(docs, text_col, id_col)
    pieces = sigs.select(
        F.col(id_col).alias("__id"),
        F.col("simhash"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("chunk"),
                    F.shiftrightunsigned(F.col("simhash"), c * width)
                    .bitwiseAND(F.lit((1 << width) - 1)).alias("piece"),
                )
                for c in range(chunks)
            ])
        ).alias("p"),
    ).select("__id", "simhash", F.col("p.chunk").alias("chunk"), F.col("p.piece").alias("piece"))
    l, r = pieces.alias("l"), pieces.alias("r")
    cand = (
        l.join(r, (F.col("l.chunk") == F.col("r.chunk")) & (F.col("l.piece") == F.col("r.piece"))
               & (F.col("l.__id") < F.col("r.__id")))
        .select(
            F.col("l.__id").alias("id_a"), F.col("r.__id").alias("id_b"),
            F.col("l.simhash").alias("sa"), F.col("r.simhash").alias("sb"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def embedding_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int | None = None,
    max_pairs: float | None = None,
) -> DataFrame:
    """Exact pairwise cosine near-dup over embeddings as a DISTRIBUTED
    block-matrix similarity join: each vector fans out to its
    B(B+1)/2-triangle pair keys with an L/R side tag, ONE hash
    shuffle on (bl, br) clusters each block pair at its task, and
    applyInPandas assembles the two matrices and matmuls them with
    numpy (Arrow batch in, BLAS dgemm, sparse thresholded pairs out).

    Pair enumeration is hash-partitioned, never driver-brokered: a
    vector in block ``b`` is the L side of pairs ``(b, r) for r ≥ b``
    and the R side of ``(l, b) for l ≤ b``, so every unordered block
    pair materializes exactly once, directly from vector-sized rows.
    Two prior shapes measured worse at the 25× local rung: a
    ``L.__b <= R.__b`` theta-join over collect_list-packed blocks
    plans as BroadcastNestedLoopJoin (collects the packed corpus
    through the driver — the exact 100 TB OOM this operator exists to
    avoid; 2× the O(n²) compute envelope), and an equi-join over the
    packed rows spends its wall sort-merging multi-MB nested cells
    (UnsafeRow (de)serialization of giant rows). Shuffle volume is
    B+1 corpus replicas of plain vector rows; peak task memory is two
    blocks only at matmul time. Exact all-pairs is inherently O(n²)
    compute at any layout; for corpora beyond dim-table size generate
    candidates with similarity.lsh_bucketed_neighbors / minhash bands
    and verify only those pairs — this operator is the exact path and
    the per-bucket verifier.

    ``n_blocks=None`` (default) sizes blocks adaptively from Catalyst's
    plan-stats ``sizeInBytes`` — a DRIVER-SIDE estimate (file splits ×
    compression factor), so building the pair plan stays fully lazy:
    no count job, no input scan (round 2 paid an eager ``emb.count()``
    here, ~0.4 s of pure job overhead per call). Target ≈8 MB of scan
    bytes per block keeps a block pair comfortably in task memory; a
    dim-sized corpus collapses to one matmul task while block count
    still grows linearly with the corpus. When stats are unusable
    (non-file lineage reporting the 8 EiB default), fall back to one
    cheap 1-column count job.

    ``max_pairs`` (default env ``SPARK_GRAFT_EXACT_COSINE_MAX_PAIRS``,
    1e11) is the blast-radius guard: exact all-pairs is the VERIFIER,
    and this budget makes sure it cannot be pointed at a full corpus by
    accident — estimated n(n-1)/2 above the budget raises immediately
    (plan-build time, before any job) with the bucketed scale paths
    named. The estimate divides the same lazy plan-stats byte figure by
    a deliberately LOW 128 bytes/vector (measured parquet rows run
    170–1000+ B), so it over-counts vectors and fires early — the safe
    direction for an O(n²) refusal. 1e11 pairs ≈ 450k vectors ≈ hours
    of single-node matmul: every test rung passes with >40× headroom
    (sf2.5 = 50k vectors ≈ 2.2e9 estimated pairs) while anything
    corpus-shaped (1e8+ vectors → 1e15+ pairs) is refused by orders of
    magnitude. Pass ``max_pairs=float("inf")`` to opt out explicitly.
    """
    import math
    import os

    import numpy as np

    try:
        # py4j maps the scala BigInt to a plain int; str() also
        # covers JavaObject-shaped returns on other Spark builds
        size = int(str(emb._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
        if size <= 0 or size > (1 << 50):
            size = None
    except Exception:
        size = None
    exact_n = emb.select(id_col).count() if size is None else None

    if max_pairs is None:
        max_pairs = float(
            os.environ.get("SPARK_GRAFT_EXACT_COSINE_MAX_PAIRS", "1e11")
        )
    est_n = float(exact_n) if exact_n is not None else size / 128.0
    est_pairs = est_n * max(est_n - 1.0, 0.0) / 2.0
    if est_pairs > max_pairs:
        raise ValueError(
            f"embedding_dup_pairs: estimated {est_pairs:.3g} candidate pairs "
            f"(~{est_n:.3g} vectors) exceeds the exact-verifier budget "
            f"max_pairs={max_pairs:.3g}. This operator is O(n^2) by contract "
            "— run it only on candidate subsets. Scale paths: "
            "similarity.semantic_dedup (IVF-cell-bucketed), "
            "dedup.minhash_lsh_dup_pairs / lsh_bucketed_neighbors "
            "(banded equi-joins), then verify ONLY those candidates here. "
            "Raise SPARK_GRAFT_EXACT_COSINE_MAX_PAIRS or pass "
            "max_pairs=float('inf') to override deliberately."
        )

    if n_blocks is None:
        block_bytes = 8 << 20
        parallelism = emb.sparkSession.sparkContext.defaultParallelism
        if size is None:
            n_blocks = max(1, math.ceil(exact_n / 4096))
        else:
            # block count serves TWO masters:
            #  - bytes: ≥1 block per ~8 MB of scan so a block pair fits
            #    in task memory (dominates at cluster scale);
            #  - CPU: B(B+1)/2 ≥ 4×parallelism so the matmul stage has
            #    enough tasks to saturate the cluster — the stage is
            #    compute-bound but byte-LIGHT, the exact shape AQE's
            #    byte-based coalescing mis-sizes (measured at the 25×
            #    local rung: B=4 → 10 pairs coalesced onto 3 tasks,
            #    2.4× the fixed wall), capped so a block never drops
            #    under ~256 KB of vectors (tiny-matmul overhead).
            min_blocks = 4 if size > (256 << 10) else 1
            b_bytes = math.ceil(size / block_bytes)
            b_cpu = math.ceil((math.sqrt(1.0 + 32.0 * parallelism) - 1) / 2)
            b_cap = max(1, size // (256 << 10))
            n_blocks = max(min_blocks, min(1024, max(b_bytes, min(b_cpu, b_cap))))

    v = emb.select(
        F.col(id_col).alias("__id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
    )
    # fan each VECTOR (not a packed block) out to its pair keys with a
    # left/right side tag: a vector in block b is the L side of pairs
    # (b, r>=b) and the R side of pairs (l<=b, b). One explode + one
    # hash shuffle on the (bl, br) key, then applyInPandas assembles
    # both block matrices directly inside the pair's task. vs packing
    # blocks with collect_list and equi-joining packed rows: no
    # multi-MB nested cells riding a sort-merge join (UnsafeRow
    # (de)serialization of giant rows dominated that plan's wall),
    # identical B+1 corpus-copy shuffle volume, and the rows crossing
    # the wire stay vector-sized so task memory is two blocks only at
    # matmul time.
    b = F.pmod(F.col("__id"), F.lit(n_blocks)).cast("long")
    lkeys = F.transform(
        F.sequence(b, F.lit(n_blocks - 1).cast("long")),
        lambda r: F.struct(b.alias("bl"), r.alias("br"), F.lit(0).alias("side")),
    )
    rkeys = F.transform(
        F.sequence(F.lit(0).cast("long"), b),
        lambda l: F.struct(l.alias("bl"), b.alias("br"), F.lit(1).alias("side")),
    )
    ex = v.select(
        F.explode(F.concat(lkeys, rkeys)).alias("__k"), "__id", "__v"
    ).select(
        F.col("__k.bl").alias("bl"),
        F.col("__k.br").alias("br"),
        F.col("__k.side").alias("side"),
        "__id",
        "__v",
    )
    # pin the pair partitioning EXPLICITLY: the matmul stage is
    # compute-bound but byte-light, the exact shape AQE's byte-based
    # coalescing mis-sizes; a user repartition(n, keys) is exempt
    # from coalescing and satisfies applyInPandas' clustering
    # requirement, so no second exchange is added
    # floor of 2 partitions: repartition(1, keys) compiles to Exchange
    # SinglePartition — the exact shape the catalog's global-sort gate
    # (rightly) flags; at 2 the plan stays hash-partitioned and the
    # single-block case just leaves one empty slot
    n_pairs = n_blocks * (n_blocks + 1) // 2
    ex = ex.repartition(min(max(n_pairs, 2), 4096), "bl", "br")

    def block_pair(key, pdf):
        import pandas as pd

        bl, br = key[0], key[1]
        lmask = pdf["side"].to_numpy() == 0
        li = pdf["__id"].to_numpy()[lmask]
        ri = pdf["__id"].to_numpy()[~lmask]
        if len(li) == 0 or len(ri) == 0:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
            )
        vecs = pdf["__v"].to_numpy()
        lm = np.stack(vecs[lmask])
        rm = np.stack(vecs[~lmask])
        lm /= np.linalg.norm(lm, axis=1, keepdims=True)
        rm /= np.linalg.norm(rm, axis=1, keepdims=True)
        sims = lm @ rm.T
        mask = sims >= threshold
        if bl == br:
            # diagonal block: each unordered pair once
            mask &= li[:, None] < ri[None, :]
        else:
            # off-diagonal: every cross pair appears exactly once
            # (in arbitrary orientation) — canonicalize below
            mask &= li[:, None] != ri[None, :]
        ai, bj = np.nonzero(mask)
        a, bb = li[ai], ri[bj]
        return pd.DataFrame(
            {
                "id_a": np.minimum(a, bb),
                "id_b": np.maximum(a, bb),
                "cosine": np.round(sims[ai, bj], 6),
            }
        )

    return ex.groupBy("bl", "br").applyInPandas(
        block_pair, "id_a bigint, id_b bigint, cosine double"
    )


def md5_simhash32(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """32-bit SimHash whose token hash is md5-derived — the engine-
    portable twin of `simhash` (xxhash64 is Spark-only; md5 is
    bit-identical in Spark, DuckDB, and Python, so an oracle engine
    can recompute the signature exactly). Same bit vote, half the
    width; use the 64-bit xxhash version for production throughput and
    this one where cross-engine reproducibility is the requirement."""
    return _bit_vote(
        docs,
        lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("bigint"),
        32,
        "simhash32",
        text_col,
        id_col,
    )


def write_shingle_index(
    docs: DataFrame, path: str, k: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> None:
    """Materialize the corpus shingle index as parquet laid out FOR the
    incremental join: repartitioned by the shingle key with in-file
    sort, so the daily batch-vs-index equi-join scans co-located,
    run-length-friendly buckets instead of re-deriving shingles for
    the whole corpus every day. (On a lakehouse deployment this is a
    bucketed table; plain parquet keeps the test environment simple.)"""
    idx = _shingle_index(docs, text_col, id_col, k).select(
        F.col("__id").alias("doc_id"), F.col("__sh").alias("shingle")
    )
    idx.repartition(F.col("shingle")).sortWithinPartitions("shingle").write.mode(
        "overwrite"
    ).parquet(path)


def incremental_dups_against_index(
    base_index: DataFrame,
    new: DataFrame,
    threshold: float = 0.8,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """incremental_jaccard_dups against a PRE-BUILT base index (the
    production shape: the index is written once by write_shingle_index
    and only the arriving batch computes shingles). base_index columns:
    (doc_id, shingle). Returns (new_id, base_id, jaccard) — identical
    results to the recompute-from-docs path (pytest-pinned)."""
    bi = base_index.select(
        F.col("doc_id").alias("__bid"), F.col("shingle").alias("__sh")
    )
    # the base side is a stored (doc_id, shingle) index, so its sizes
    # need one aggregate, but over the index read, not a tokenize pass
    b_sizes = bi.groupBy("__bid").agg(F.count(F.lit(1)).alias("__nb"))
    return _batch_vs_base(
        new, bi, b_sizes.withColumnRenamed("__bid", "base_id"), threshold, k, text_col, id_col
    )


def duplicate_substring_spans(
    docs: DataFrame,
    min_len: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact substring deduplication summary (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better"
    operator, token-granular): for every doc, the maximal token spans
    covered by some ``min_len``-gram that occurs MORE THAN ONCE in the
    whole corpus (other docs or elsewhere in the same doc — both are
    memorization risks). Returns one row per doc:
    (doc_id, n_tokens, n_dup_spans, dup_tokens, dup_frac) where
    dup_tokens counts tokens inside the merged spans — the exact
    amount a span-removal pass would cut.

    The reference paper builds a corpus-wide suffix array; that is a
    sequential construction with no good shuffle decomposition. The
    Spark-first equivalent: positional min_len-grams are the
    suffix-array match seeds (any duplicated substring of length >=
    min_len is a run of duplicated min_len-grams and vice versa), so
    exploding (doc, pos, gram), counting gram occurrences, and merging
    surviving positions into intervals reproduces the same maximal
    spans with three keyed shuffles — gram count (map-side combined),
    join back on gram, per-doc interval merge (window PARTITIONED by
    doc). Interval merge: positions p, p' (p < p') coalesce while
    p' - p <= min_len (their [p, p+min_len-1] coverage windows touch
    or overlap), so a run's covered tokens are contiguous. The
    explode is fanned out across cores first (scan partitioning is
    sized by pre-explode bytes)."""
    from .scale import ensure_min_partitions

    L = min_len
    base = ensure_min_partitions(docs.select(id_col, text_col)).select(
        F.col(id_col), tokens(F.col(text_col)).alias("__t")
    )
    grams = base.select(
        id_col,
        F.explode(
            F.when(
                F.size("__t") >= L,
                F.transform(
                    F.sequence(F.lit(1), F.size("__t") - (L - 1)),
                    lambda i: F.struct(
                        i.alias("pos"),
                        F.array_join(F.slice("__t", i, L), " ").alias("g"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<pos:int,g:string>>"))
        ).alias("pg"),
    ).select(id_col, F.col("pg.pos").alias("pos"), F.col("pg.g").alias("g"))
    occ = grams.groupBy("g").agg(F.count(F.lit(1)).alias("__occ"))
    dup_pos = grams.join(occ.filter(F.col("__occ") > 1), "g").select(id_col, "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    runs = (
        dup_pos.withColumn(
            "__new",
            F.when(
                (F.col("pos") - F.lag("pos").over(w)) <= L, F.lit(0)
            ).otherwise(F.lit(1)),
        )
        .withColumn(
            "__run",
            F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy(id_col, "__run")
        .agg((F.max("pos") - F.min("pos") + L).alias("__span_toks"))
    )
    per_doc = runs.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.sum("__span_toks").alias("dup_tokens"),
    )
    return (
        base.select(id_col, F.size("__t").cast("bigint").alias("n_tokens"))
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.coalesce(F.col("n_dup_spans"), F.lit(0)).cast("bigint").alias(
                "n_dup_spans"
            ),
            F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("bigint").alias(
                "dup_tokens"
            ),
            F.round(
                F.coalesce(F.col("dup_tokens"), F.lit(0)) / F.col("n_tokens"), 4
            ).alias("dup_frac"),
        )
    )


def cdc_chunk_dedup(
    docs: DataFrame,
    window: int = 8,
    mask_bits: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Content-defined chunking dedup (the FastCDC/Gear idea at token
    granularity): cut every doc into variable-size chunks at positions
    where a rolling hash of the last ``window`` token hashes lands on
    a ``mask_bits``-zero residue, fingerprint each chunk, and report
    per doc how much of it is chunk-level duplicated corpus-wide.
    Content-defined cuts survive insertions/deletions that shift
    offsets — the property fixed-size blocks lack and the reason
    backup/dataset-versioning systems chunk this way; a one-token edit
    re-fingerprints only the chunk it lands in.

    Returns (doc_id, n_chunks, dup_chunks, dup_frac) where dup_chunks
    counts chunks whose fingerprint occurs MORE THAN ONCE in the whole
    corpus (other docs or elsewhere in the same doc).

    Portability contract: token hashes are md5-derived integers mod
    2^20, the rolling hash is an integer windowed sum of shifted token
    hashes mod 2147483647, and fingerprints are md5 of the chunk text
    — every cut decision is an exact integer the DuckDB oracle replays
    bit-for-bit.

    Scale shape: hashes and boundary flags are per-row Column algebra
    (O(window) per token, no shuffle); chunk assembly is one per-doc
    window prefix-sum + one groupBy (both PARTITIONED by doc);
    fingerprint occurrence is a map-side-combined count joined back on
    the fingerprint key. The token explode is fanned out across cores
    first (pre-explode-bytes scan partitioning, as in gram_novelty)."""
    from .scale import ensure_min_partitions

    P = 2147483647
    mask = 1 << mask_bits
    base = ensure_min_partitions(docs.select(id_col, text_col)).select(
        F.col(id_col), tokens(F.col(text_col)).alias("__t")
    )
    th = F.transform(
        F.col("__t"),
        lambda x: F.conv(F.substring(F.md5(x), 1, 8), 16, 10).cast("long")
        % F.lit(1 << 20),
    )
    hashed = base.withColumn("__th", th)
    # rolling gear hash at i: sum of the last `window` token hashes,
    # each shifted by its distance (2^(i-j) exact in a double up to
    # 2^53; window stays far below), mod P
    roll = F.transform(
        F.sequence(F.lit(1), F.size("__th")),
        lambda i: F.aggregate(
            F.sequence(F.greatest(F.lit(1), i - (window - 1)), i),
            F.lit(0).cast("long"),
            lambda acc, j: acc
            + F.element_at(F.col("__th"), j)
            * F.pow(F.lit(2.0), (i - j).cast("double")).cast("long"),
        )
        % F.lit(P),
    )
    pos = (
        hashed.withColumn("__roll", roll)
        .select(
            id_col,
            F.posexplode(
                F.zip_with(
                    F.col("__t"),
                    F.col("__roll"),
                    lambda t, r: F.struct(
                        t.alias("tok"), (r % mask == 0).alias("cut")
                    ),
                )
            ).alias("pos0", "pc"),
        )
        .select(
            id_col,
            F.col("pos0").alias("pos"),
            F.col("pc.tok").alias("tok"),
            F.col("pc.cut").cast("long").alias("cut"),
        )
    )
    w = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunks = (
        pos.withColumn("__chunk", F.coalesce(F.sum("cut").over(w), F.lit(0)))
        .groupBy(id_col, "__chunk")
        .agg(
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                        lambda s: s["tok"],
                    ),
                    " ",
                )
            ).alias("fp")
        )
    )
    # Round 11 (guide §2.3/§2.4, the gram_novelty complement): a
    # fingerprint with corpus-wide occurrence 1 has exactly one owning
    # chunk, recoverable as min(doc_id) INSIDE the fp aggregate, so
    # dup_chunks = n_chunks − (#occ==1 fps owned) and the md5-string
    # chunk stream crosses ONE map-side-combined exchange instead of
    # also being re-shuffled through the occurrence join-back. The
    # chunk frame feeds both aggregates — tracked-cached so the
    # rolling-hash + md5 assembly runs once, not per consumer
    # (released by the caller's release_caches).
    chunks = track_cache(chunks)
    totals = chunks.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_chunks"))
    uniq = (
        chunks.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("__occ"), F.min(id_col).alias("__owner"))
        .filter(F.col("__occ") == 1)
        .groupBy(F.col("__owner").alias(id_col))
        .agg(F.count(F.lit(1)).alias("__n_unique"))
    )
    return (
        totals.join(uniq, id_col, "left")
        .select(
            id_col,
            "n_chunks",
            (
                F.col("n_chunks") - F.coalesce(F.col("__n_unique"), F.lit(0))
            ).alias("dup_chunks"),
        )
        .select(
            id_col,
            "n_chunks",
            "dup_chunks",
            F.round(F.col("dup_chunks") / F.col("n_chunks"), 4).alias("dup_frac"),
        )
    )
