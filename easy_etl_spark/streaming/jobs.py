"""Structured Streaming jobs over the events stream.

The reference is batch-only by philosophy (easy_etl/README.md:3); this
module is the engine's streaming extension. Each job is readStream →
event-time transformation → sink, with watermarks for late data and
state cleanup. The batch twins in streaming/windows.py share the same
windowing math — the DuckDB oracle that validates those validates
these aggregations' semantics.

Jobs are exercised in tests with a file source over the driver's
events parquet and Trigger.AvailableNow into a memory sink — the same
code runs unmodified against Kafka/files on a cluster with a real
checkpoint location.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from ..session import read_parquet
from .windows import _dec_sum


def read_events_stream(
    spark: SparkSession, path: str, schema=None, options: dict | None = None
) -> DataFrame:
    """File-based stream over an events parquet directory. On a real
    deployment this is the Kafka/file-drop source; schema must be
    explicit for streaming reads. ``options`` are SOURCE options
    (e.g. maxFilesPerTrigger — a reader knob, not a writer one)."""
    # pin the nanosecond-parquet conf and UTC so this works under any
    # caller's session, not just get_spark()'s (same as load_table)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if schema is None:
        schema = read_parquet(spark, path).schema
    reader = spark.readStream.schema(schema)
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    df = reader.format("parquet").load(path)
    # nanosecond-timestamp parquet arrives as long under nanosAsLong
    if dict(df.dtypes).get("ts") == "bigint":
        # integer `div` (float division would round the >2^53 ns long)
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif dict(df.dtypes).get("ts") == "timestamp_ntz":
        # naive-UTC micros (current testdata): watermarks require LTZ;
        # cast keeps the wall time under the UTC session
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def tumbling_counts_stream(events: DataFrame, minutes: int = 60, watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window aggregation: late events beyond the
    watermark are dropped and window state is evicted — bounded state
    at unbounded input."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", f"{minutes} minutes"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"), _dec_sum("value").alias("sum_value"))
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_counts_stream(
    events: DataFrame, length_min: int = 60, slide_min: int = 30, watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked sliding-window aggregation (F.window with slide) —
    streaming twin of windows.sliding."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", f"{length_min} minutes", f"{slide_min} minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"), _dec_sum("value").alias("sum_value"))
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
            "sum_value",
        )
    )


def session_window_stream(events: DataFrame, gap_minutes: int = 30, watermark: str = "2 hours") -> DataFrame:
    """Native session windows (F.session_window) with watermark-driven
    state expiry — the streaming twin of windows.sessionize."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", f"{gap_minutes} minutes"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"), _dec_sum("value").alias("sum_value"))
        .select(
            "user_id",
            F.date_format(F.col("session_window.start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


def dedup_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup on event_id within the watermark horizon —
    dropDuplicates with bounded state."""
    return events.withWatermark("ts", watermark).dropDuplicates(["event_id"])


def ohlc_stream(events: DataFrame, minutes: int = 60, watermark: str = "2 hours") -> DataFrame:
    """Watermarked OHLC candles per (window, event_type) — streaming
    twin of the batch `ohlc_hourly` query. Open/close use min_by /
    max_by over the TOTAL (ts, event_id) order, which are incremental
    declarative aggregates (unlike the batch twin's row_number rank,
    which streaming can't run) yet pick the identical rows because the
    order is total; prices are exact integer cents. State per key is
    five scalars — bounded by the watermark horizon."""
    cents = F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("bigint")
    ordk = F.struct("ts", "event_id")
    return (
        events.withWatermark("ts", watermark)
        .select("event_type", "ts", "event_id", cents.alias("cents"))
        .groupBy(F.window("ts", f"{minutes} minutes"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min_by("cents", ordk).cast("bigint").alias("open_cents"),
            F.max("cents").cast("bigint").alias("high_cents"),
            F.min("cents").cast("bigint").alias("low_cents"),
            F.max_by("cents", ordk).cast("bigint").alias("close_cents"),
        )
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "hour_start"
            ),
            "event_type",
            "n_events",
            "open_cents",
            "high_cents",
            "low_cents",
            "close_cents",
        )
    )


def run_to_memory(stream_df: DataFrame, name: str) -> None:
    """Drain a stream into an in-memory table with AvailableNow (test
    harness; a deployment points this at a real sink + checkpoint)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete" if stream_df.isStreaming and _has_agg(stream_df) else "append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _has_agg(df: DataFrame) -> bool:
    """True only for a STREAMING aggregation (needs complete mode).
    An Aggregate inside a static dimension joined onto the stream
    (enrich_stream) must NOT trigger complete — append is the only
    valid mode there. The analyzed plan prints top-down, so a
    streaming aggregation's Aggregate node appears above (before) the
    streaming relation; a static-side Aggregate prints after it."""
    plan = df._jdf.queryExecution().analyzed().toString()
    agg = plan.find("Aggregate")
    if agg < 0:
        return False
    stream_rel = plan.find("StreamingRelation")
    return stream_rel < 0 or agg < stream_rel


def _each_batch(stream_df: DataFrame, checkpoint: str, handle) -> DataStreamWriter:
    """The foreachBatch writer every ``foreach_batch_*`` job returns:
    ``handle(batch_df, batch_id)`` runs on each non-empty micro-batch,
    with the checkpoint and an AvailableNow trigger."""
    def run(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            handle(batch_df, batch_id)

    return (
        stream_df.writeStream.foreachBatch(run)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def foreach_batch_upsert(stream_df: DataFrame, sink, keys: list[str], checkpoint: str) -> DataStreamWriter:
    """Streaming upsert: each micro-batch merges into the target via
    ParquetSink.upsert (Delta MERGE on a real deployment) — reuses the
    batch merge plan inside foreachBatch."""
    return _each_batch(stream_df, checkpoint, lambda batch_df, _: sink.upsert(batch_df, keys))


def foreach_batch_scd2(
    stream_df: DataFrame,
    sink,
    keys: list[str],
    tracked: list[str],
    ts_of_batch,
    checkpoint: str,
) -> DataStreamWriter:
    """Streaming SCD Type-2 maintenance: each micro-batch of dimension
    updates merges into the type-2 history via operators/scd.scd2_merge
    (changed keys close + reopen, new keys open) and the result swaps
    into the sink. ``ts_of_batch(batch_id) -> ISO timestamp`` stamps
    each batch's effective time. Composes the batch merge plan inside
    foreachBatch — the same pattern as foreach_batch_upsert, with
    history semantics instead of overwrite."""
    from ..operators import scd

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        ts = ts_of_batch(batch_id)
        current = sink.read()
        if current is None:
            hist = scd.scd2_init(batch_df, ts)
        else:
            hist = scd.scd2_merge(current, batch_df, keys=keys, tracked=tracked, ts=ts)
        # _swap_write stages to a side dir first, so the merge plan can
        # read the sink path it replaces
        sink._swap_write(hist)

    return _each_batch(stream_df, checkpoint, handle)


def foreach_batch_apply_changes(
    stream_df: DataFrame,
    sink,
    keys: list[str],
    seq_col: str,
    checkpoint: str,
    op_col: str = "op",
) -> DataStreamWriter:
    """Streaming CDC consumer: each micro-batch of I/U/D change rows
    merges into the target via operators/scd.apply_changes (the APPLY
    CHANGES INTO shape — latest-change-wins per key). Sequential
    application of seq-ordered batches is equivalent to applying the
    whole log at once because the merge is latest-wins and later
    batches carry higher sequence numbers (pinned by
    test_streaming_apply_changes_matches_batch); replay of an
    already-applied batch is idempotent for the same reason. Composes
    the batch merge plan inside foreachBatch, same pattern as
    foreach_batch_upsert/scd2."""
    from ..operators.scd import apply_changes

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        current = sink.read()
        if current is None:
            current = batch_df.drop(op_col, seq_col).limit(0)
        state = apply_changes(current, batch_df, keys=keys, seq_col=seq_col, op_col=op_col)
        # _swap_write stages to a side dir, so the merge plan can read
        # the sink path it replaces
        sink._swap_write(state)

    return _each_batch(stream_df, checkpoint, handle)


def interval_join_stream(
    left: DataFrame,
    right: DataFrame,
    left_type: str = "click",
    right_type: str = "purchase",
    minutes: int = 30,
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join with an event-time range condition — the
    canonical Spark pattern: both sides watermarked, and the time-bound
    in the join predicate lets the engine evict buffered rows once the
    watermark passes left.ts + interval (bounded state). Streaming twin
    of windows.interval_pairs.

    ``how="left_outer"`` adds watermark-driven NULL emission: a left
    row with no match is held in state until the watermark passes its
    join window's end, then emitted once with NULL right columns —
    exactly the batch LEFT JOIN result, just incremental (parity
    pytest: test_streaming_interval_join_left_outer_matches_batch,
    including the late-arrival null rows a final no-data batch
    flushes). The same eviction bound that caps inner-join state also
    bounds the null-row delay: max delay = interval + watermark."""
    if how not in ("inner", "left_outer", "leftOuter"):
        raise ValueError(f"unsupported interval join type {how!r}")
    a = (
        left.filter(F.col("event_type") == left_type)
        .select("user_id", F.col("event_id").alias("left_id"), F.col("ts").alias("lts"))
        .withWatermark("lts", watermark)
    )
    b = (
        right.filter(F.col("event_type") == right_type)
        .select(F.col("user_id").alias("uid2"), F.col("event_id").alias("right_id"), F.col("ts").alias("rts"))
        .withWatermark("rts", watermark)
    )
    return a.join(
        b,
        (F.col("user_id") == F.col("uid2"))
        & (F.col("rts") >= F.col("lts"))
        & (F.col("rts") < F.col("lts") + F.expr(f"INTERVAL {minutes} MINUTES")),
        how,
    ).select(
        "user_id",
        "left_id",
        "right_id",
        # NTZ-tolerant (see windows.interval_pairs): unix_micros is
        # LTZ-only; the cast is a no-op for LTZ inputs. In the outer
        # case an unmatched row's gap is NULL (rts NULL propagates).
        (F.unix_micros(F.col("rts").cast("timestamp"))
         - F.unix_micros(F.col("lts").cast("timestamp"))).alias("gap_us"),
    )


def enrich_stream(
    stream: DataFrame, dim: DataFrame, key: str = "user_id", how: str = "left"
) -> DataFrame:
    """Stream-static enrichment: join each micro-batch against a static
    dimension (feature/profile lookup — the standard serving pattern).
    The static side re-resolves per micro-batch (a refreshed dimension
    is picked up on the next batch) and broadcasts when dimension-sized
    — no streaming state at all, unlike stream-stream joins."""
    return stream.join(F.broadcast(dim), key, how)


def foreach_batch_dedup_ingest(
    stream_df: DataFrame,
    sink,
    checkpoint: str,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataStreamWriter:
    """Continuous corpus ingestion with incremental dedup: every
    micro-batch is (1) self-deduplicated (min-id survivor per near-dup
    cluster within the batch) and (2) checked against the ALREADY
    LANDED corpus via the batch-vs-index join
    (operators/dedup.incremental_jaccard_dups) — only novel documents
    append. This is the streaming production shape of the
    dedup_incremental query: per-trigger cost tracks the batch, never
    the corpus (at scale the sink keeps a persisted/bucketed shingle
    index instead of re-deriving it per batch)."""
    from ..operators.dedup import (
        dedup_survivors,
        duplicate_clusters,
        incremental_jaccard_dups,
        ngram_jaccard_pairs,
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        # snapshot the registry so the per-batch release below frees
        # ONLY caches this handler created — the registry is
        # session-global, and a blanket release_caches() would
        # unpersist entries owned by unrelated concurrent work on the
        # same driver (another query mid-build)
        from ..session import cache_mark, release_caches

        mark = cache_mark()
        # intra-batch near-dups: keep cluster canonicals (min id)
        pairs = ngram_jaccard_pairs(batch_df, threshold=threshold, text_col=text_col, id_col=id_col)
        batch = dedup_survivors(batch_df, duplicate_clusters(pairs), id_col)
        base = sink.read()
        if base is not None:
            dup_new = incremental_jaccard_dups(
                base, batch, threshold=threshold, text_col=text_col, id_col=id_col
            ).select(F.col("new_id").alias(id_col)).distinct()
            batch = batch.join(dup_new, id_col, "left_anti")
        if not batch.isEmpty():
            sink.append(batch, safe=True)
        # the pair generator tracked-caches its shingle index; release
        # per batch (scoped to this handler's entries) so an unbounded
        # stream never accumulates storage
        release_caches(since=mark)

    return _each_batch(stream_df, checkpoint, handle)


def foreach_batch_image_dedup_ingest(
    media_stream: DataFrame,
    sink,
    checkpoint: str,
    max_hamming: int = 4,
    id_col: str = "doc_id",
) -> DataStreamWriter:
    """Continuous IMAGE ingestion with perceptual dedup — the
    multimodal twin of foreach_batch_dedup_ingest: every micro-batch
    of (doc_id, media) blobs is (1) dHash-fingerprinted with the
    native decoders (operators/multimodal.dhash_images — per-partition
    mapInPandas, blobs never shuffle), (2) self-deduplicated (min-id
    survivor per within-batch near-dup pair set), and (3) checked
    against the ALREADY LANDED fingerprints via the banded Hamming
    join — only perceptually novel images append, stored WITH their
    hash so the landed table IS the fingerprint index and per-trigger
    cost tracks the batch, never the corpus."""
    from ..operators.multimodal import (
        dhash_cross_dups,
        dhash_images,
        dhash_near_dup_pairs,
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.join(dhash_images(batch_df), id_col)
        # intra-batch: keep the min-id side of every near-dup pair
        pairs = dhash_near_dup_pairs(
            batch.select(id_col, "dhash"), max_hamming=max_hamming
        )
        batch = batch.join(
            pairs.select(F.col("id_b").alias(id_col)).distinct(),
            id_col,
            "left_anti",
        )
        base = sink.read()
        if base is not None:
            # new-vs-index candidates ride the cross-frame banded join
            # (no id-ordering predicate, so a replayed blob still
            # matches its landed twin — replay converges)
            dup_new = dhash_cross_dups(
                base.select(F.col(id_col), F.col("dhash")),
                batch.select(id_col, "dhash"),
                max_hamming=max_hamming,
            ).withColumnRenamed("new_id", id_col)
            batch = batch.join(dup_new, id_col, "left_anti")
        if not batch.isEmpty():
            sink.append(batch, safe=True)

    return _each_batch(media_stream, checkpoint, handle)
