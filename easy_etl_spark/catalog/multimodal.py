"""Multimodal family: binary payload features, PNG/JPEG/FLAC/WAV
decoding, audio windows and fingerprints, image hashes and video
frame sampling (operators.multimodal, jpegcodec, flaccodec).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import multimodal
from ..operators.multimodal import pcm_window_energy, with_binary_payload
from ..queries import register
from ..session import load_table


# ----------------------------------------------------------------------
# Multimodal plumbing
# ----------------------------------------------------------------------

@register(
    "multimodal_features",
    """
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS content_hash
    FROM documents
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column pipeline: encode → mapInPandas featurize; the
    byte-length and content-hash columns are oracle-checked (the fake
    feature vector itself is covered by unit tests)."""
    media = multimodal.with_binary_payload(load_table(spark, sf_dir, "documents"))
    return multimodal.featurize(media).select("doc_id", "n_bytes", "content_hash")


@register(
    "multimodal_decode",
    """
    WITH d AS (
      SELECT doc_id, 8 + doc_id % 5 AS w, 6 + doc_id % 3 AS h
      FROM documents WHERE doc_id < 100
    ),
    idx AS (
      SELECT doc_id, w, h, unnest(range(w * h * 3)) AS p FROM d
    ),
    px AS (
      SELECT doc_id, w, h, p % 3 AS c, (doc_id * 7 + p * 13) % 256 AS v
      FROM idx
    )
    SELECT doc_id,
           CAST(any_value(w) AS INTEGER) AS width,
           CAST(any_value(h) AS INTEGER) AS height,
           CAST(sum(v) FILTER (WHERE c = 0) AS BIGINT) AS r_sum,
           CAST(sum(v) FILTER (WHERE c = 1) AS BIGINT) AS g_sum,
           CAST(sum(v) FILTER (WHERE c = 2) AS BIGINT) AS b_sum,
           round(CAST(sum(v) FILTER (WHERE c = 0) AS DOUBLE) / (any_value(w) * any_value(h)), 4) AS mean_r,
           round(CAST(sum(v) FILTER (WHERE c = 1) AS DOUBLE) / (any_value(w) * any_value(h)), 4) AS mean_g,
           round(CAST(sum(v) FILTER (WHERE c = 2) AS DOUBLE) / (any_value(w) * any_value(h)), 4) AS mean_b
    FROM px GROUP BY doc_id
    """,
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode end-to-end: encode deterministic P6 PPM bytes
    per doc (multimodal.synth_ppm_images), parse them back with the
    pure-numpy decoder (multimodal.decode_image), and emit pixel-exact
    per-channel sums/means. The oracle never touches bytes — it replays
    the pixel formula as integer SQL, so any header/stride/channel
    mis-parse in the decoder shifts a sum and fails the hash."""
    media = multimodal.synth_ppm_images(load_table(spark, sf_dir, "documents"), max_docs=100)
    return multimodal.image_stats(media)


# ----------------------------------------------------------------------
# Multimodal audio analog: windowed PCM energy over binary payloads
# ----------------------------------------------------------------------

@register(
    "audio_rms_windows",
    """
    WITH chars AS (
      SELECT doc_id, CAST(floor((i - 1) / 64) AS BIGINT) AS win,
             ascii(substr(text, i, 1)) AS code
      FROM documents, UNNEST(generate_series(1, length(text))) AS g(i)
    )
    SELECT doc_id, win, count(*) AS n_samples,
           CAST(sum(code * code) AS BIGINT) AS energy,
           CAST(max(code * code) AS BIGINT) AS peak
    FROM chars GROUP BY 1, 2
    """,
)
def audio_rms_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature extraction shape, end to end: build the binary
    payload column (with_binary_payload), ship it through Arrow into a
    mapInPandas numpy int8 decode, and emit per-64-sample-window
    energy and peak — the loudness profile a real audio pipeline
    computes per frame (operators/multimodal.pcm_window_energy).

    The Spark side does REAL binary work on the blob; the signal is
    synthetic (ascii text bytes as PCM), which is exactly what lets
    DuckDB replay the integer energies character-by-character — the
    one multimodal query whose pixel/sample math is oracle-checked
    rather than rows-only. (The char-by-char replay relies on the
    corpus being ASCII — true of the driver testdata; a non-ASCII
    regen would need octet-level DuckDB functions instead.) Scale: pure map-side, one output row per
    window, no shuffle before the (doc, win) aggregate inside the
    UDF's vectorized pass."""
    docs = load_table(spark, sf_dir, "documents")
    return pcm_window_energy(with_binary_payload(docs), window=64)


@register(
    "video_frame_sample",
    """
    SELECT doc_id, CAST(g.off AS BIGINT) AS frame_offset,
           ascii(substr(text, g.off + 1, 1)) AS sample_byte
    FROM documents,
         UNNEST(generate_series(0, length(text) - 1, 64)) AS g(off)
    """,
)
def video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over binary payloads (the video analog: one blob
    -> one row per sampled frame offset), via the mapInPandas template
    in operators/multimodal.frame_sample — real byte indexing over
    Arrow-delivered blobs, with the synthetic text-byte signal letting
    DuckDB replay each sampled byte character-by-character (the same
    trick that makes audio_rms_windows' sample math oracle-checked
    instead of rows-only; like it, the replay assumes the ASCII corpus
    the driver generates).

    Scale: pure map-side — one vectorized pass per Arrow batch, one
    output row per frame, no shuffle at all."""
    from ..operators.multimodal import frame_sample

    docs = load_table(spark, sf_dir, "documents")
    out = frame_sample(with_binary_payload(docs), every_n_bytes=64)
    return out.select(
        "doc_id",
        F.col("offset").cast("bigint").alias("frame_offset"),
        F.col("sample_byte").cast("int").alias("sample_byte"),
    )


@register(
    "multimodal_decode_png",
    """
    WITH d AS (
      SELECT doc_id, 7 + doc_id % 6 AS w, 5 + doc_id % 4 AS h
      FROM documents WHERE doc_id < 100
    ),
    idx AS (
      SELECT doc_id, w, h, unnest(range(w * h * 3)) AS p FROM d
    ),
    px AS (
      SELECT doc_id, w, h, p % 3 AS c, (doc_id * 11 + p * 17) % 256 AS v
      FROM idx
    )
    SELECT doc_id,
           CAST(any_value(w) AS INTEGER) AS width,
           CAST(any_value(h) AS INTEGER) AS height,
           CAST(sum(v) FILTER (WHERE c = 0) AS BIGINT) AS r_sum,
           CAST(sum(v) FILTER (WHERE c = 1) AS BIGINT) AS g_sum,
           CAST(sum(v) FILTER (WHERE c = 2) AS BIGINT) AS b_sum,
           round(CAST(sum(v) FILTER (WHERE c = 0) AS DOUBLE) / (any_value(w) * any_value(h)), 4) AS mean_r,
           round(CAST(sum(v) FILTER (WHERE c = 1) AS DOUBLE) / (any_value(w) * any_value(h)), 4) AS mean_g,
           round(CAST(sum(v) FILTER (WHERE c = 2) AS DOUBLE) / (any_value(w) * any_value(h)), 4) AS mean_b
    FROM px GROUP BY doc_id
    """,
)
def multimodal_decode_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-image decode end-to-end: encode deterministic
    8-bit RGB PNGs per doc (multimodal.synth_png_images — zlib-deflated
    scanlines, CRC-correct chunks, per-row filter types cycling through
    all five PNG predictors), parse them back with the pure
    stdlib-zlib + numpy decoder (multimodal.decode_png), and emit
    pixel-exact per-channel sums/means. The oracle never touches
    bytes — it replays the pixel formula as integer SQL, so any
    inflate, unfilter (Sub/Up/Average/Paeth), stride, or channel
    mistake in the decoder shifts a sum and fails the hash."""
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.synth_png_images(docs, max_docs=100)
    return multimodal.image_stats(media)


@register(
    "multimodal_decode_jpeg",
    """
    WITH d AS (
      SELECT doc_id, 8 * (2 + doc_id % 3) AS w, 8 * (1 + doc_id % 2) AS h
      FROM documents WHERE doc_id < 100
    ),
    blk AS (
      SELECT doc_id, w, h, unnest(range((w // 8) * (h // 8))) AS b FROM d
    ),
    px AS (
      SELECT doc_id, w, h,
             64 * (2 * ((doc_id * 13 + b * 29) % 128)) AS bsum
      FROM blk
    )
    SELECT doc_id,
           CAST(any_value(w) AS INTEGER) AS width,
           CAST(any_value(h) AS INTEGER) AS height,
           CAST(sum(bsum) AS BIGINT) AS r_sum,
           CAST(sum(bsum) AS BIGINT) AS g_sum,
           CAST(sum(bsum) AS BIGINT) AS b_sum,
           round(CAST(sum(bsum) AS DOUBLE) / (any_value(w) * any_value(h)), 4) AS mean_r,
           round(CAST(sum(bsum) AS DOUBLE) / (any_value(w) * any_value(h)), 4) AS mean_g,
           round(CAST(sum(bsum) AS DOUBLE) / (any_value(w) * any_value(h)), 4) AS mean_b
    FROM px GROUP BY doc_id
    """,
)
def multimodal_decode_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG decode end-to-end: encode deterministic
    greyscale JPEGs per doc (multimodal.synth_jpeg_images — quantized
    DCT, Huffman entropy coding, real SOF0 bitstreams), parse them back
    with the pure-numpy decoder (operators/jpegcodec.py), and emit
    pixel-exact channel sums. Constant even-valued 8x8 blocks survive
    the lossy pipeline bit-exactly (jpegcodec module docstring proves
    why), so the oracle replays the block formula as integer SQL — any
    marker, Huffman, dequantization or IDCT bug in the decoder shifts a
    sum and fails the hash. Lossy accuracy on arbitrary images is
    pytest-bounded (test_text_multimodal.py)."""
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.synth_jpeg_images(docs, max_docs=100)
    return multimodal.image_stats(media)


@register(
    "audio_wav_windows",
    """
    WITH d AS (
      SELECT doc_id, 256 + 64 * (doc_id % 5) AS n
      FROM documents WHERE doc_id < 100
    ),
    idx AS (SELECT doc_id, unnest(range(n)) AS i FROM d),
    s AS (
      SELECT doc_id, i // 64 AS win,
             ((doc_id * 31 + i * 17) % 65536) - 32768 AS v
      FROM idx
    )
    SELECT doc_id, CAST(win AS BIGINT) AS win, count(*) AS n_samples,
           CAST(sum(v * v) AS BIGINT) AS energy,
           CAST(max(v * v) AS BIGINT) AS peak
    FROM s GROUP BY doc_id, win
    """,
)
def audio_wav_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio-container decode end-to-end: encode deterministic
    16-bit mono RIFF/WAVE blobs per doc (multimodal.synth_wav_audio),
    parse them back with the stdlib-struct + numpy codec
    (multimodal.decode_wav — chunk walk, fmt validation, PCM decode),
    and emit integer-exact windowed energy/peak loudness. The oracle
    replays the sample formula as pure integer SQL — any header,
    alignment, stride or sign error in the decoder moves an energy
    sum. Extends the native-codec story (PPM/BMP/PNG/JPEG) to audio;
    compressed FLAC decodes natively too (audio_flac_windows,
    operators/flaccodec.py) while MP3 refuses by contract."""
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.synth_wav_audio(docs, max_docs=100)
    return multimodal.wav_window_energy(media, window=64)


@register(
    "audio_flac_windows",
    """
    WITH d AS (
      SELECT doc_id, 192 + 64 * (doc_id % 4) AS n
      FROM documents WHERE doc_id < 100
    ),
    idx AS (SELECT doc_id, unnest(range(n)) AS i FROM d),
    s AS (
      SELECT doc_id, i // 64 AS win,
             ((doc_id * 37 + i * 23) % 65536) - 32768 AS v
      FROM idx
    )
    SELECT doc_id, CAST(win AS BIGINT) AS win, count(*) AS n_samples,
           CAST(sum(v * v) AS BIGINT) AS energy,
           CAST(max(v * v) AS BIGINT) AS peak
    FROM s GROUP BY doc_id, win
    """,
)
def audio_flac_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-audio decode end-to-end: encode deterministic
    16-bit mono FLAC streams per doc (multimodal.synth_flac_audio — the
    subframe strategy cycles auto/quantized-LPC/verbatim and the block
    size cycles 64/96/128 across docs), parse them back with the pure
    stdlib+numpy FLAC decoder (flaccodec.decode_flac: Rice partitions,
    fixed + LPC predictors, CRC-8 header / CRC-16 frame verification,
    multi-frame reassembly), and emit integer windowed energies. The
    oracle replays the SAMPLE FORMULA, never the codec — a decoder bug
    anywhere in the bit reader, predictors, or CRC path moves an
    energy sum. 12/20-bit depths and reserved structures refuse loudly
    (pytest-bound in tests/test_flac.py).

    Scale: synth → decode → window stats is one mapInPandas chain —
    blobs never shuffle; only the (tiny) per-window stats aggregate.
    Reference parity: the reference has no media path (easy-etl is
    RDBMS-row ETL); this is the multimodal extension family."""
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.synth_flac_audio(docs, max_docs=100)
    return multimodal.flac_window_energy(media, window=64)


@register(
    "image_dhash_pairs",
    """
    WITH d AS (SELECT doc_id, doc_id % 4 AS grp, doc_id % 8 AS bx,
                      (doc_id // 8) % 8 AS by
               FROM documents WHERE doc_id < 100),
    px AS (
      SELECT doc_id, gx.x AS x, gy.y AS y,
             CASE WHEN gx.x // 3 = bx AND gy.y // 3 = by
                  THEN ((grp * 37 + gx.x * 5 + gy.y * 11) % 256 + 96) % 256
                  ELSE (grp * 37 + gx.x * 5 + gy.y * 11) % 256 END AS v
      FROM d, UNNEST(generate_series(0, 23)) AS gx(x),
              UNNEST(generate_series(0, 23)) AS gy(y)
    ),
    blocks AS (
      SELECT doc_id, y // 3 AS i, x // 3 AS j, CAST(sum(v) // 9 AS BIGINT) AS m
      FROM px GROUP BY 1, 2, 3
    ),
    bits AS (
      SELECT l.doc_id, l.i, l.j, CASE WHEN r.m > l.m THEN 1 ELSE 0 END AS bit
      FROM blocks l JOIN blocks r
        ON r.doc_id = l.doc_id AND r.i = l.i AND r.j = l.j + 1
    ),
    hashes AS (
      SELECT doc_id,
             CAST(sum(bit * (CAST(1 AS BIGINT)
                             << CAST(55 - (i * 7 + j) AS INTEGER))) AS BIGINT) AS h
      FROM bits GROUP BY doc_id
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.h, b.h)) AS INTEGER) AS hamming
    FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.h, b.h)) <= 4
    """,
)
def image_dhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-dup pairs over REAL compressed images:
    synth deterministic grayscale PNGs (four wrapped-gradient base
    patterns, one perturbed 3x3 block per doc), decode them with the
    native PNG codec, fingerprint with a 56-bit block-mean dHash
    (integer luma, floor block means, horizontal gradient sign bits),
    and report pairs within Hamming distance 4 via BANDED candidate
    generation (7 bands x 8 bits — pigeonhole-complete for distance
    <= 6, so nothing under the threshold is missed) + exact
    bit_count(xor) verification. The oracle replays pixels -> blocks ->
    bits -> hash -> pairs in pure integer SQL: any codec, luma, block
    boundary, or banding mistake moves the pair set.

    Scale: one fingerprint per blob inside mapInPandas (blobs never
    shuffle), then dedup runs on the hash table — the standard recipe
    for petabyte image-corpus dedup (a 100 TB image set reduces to a
    few GB of hashes; the band join is an equi-join on 8-bit keys)."""
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.synth_neardup_png_images(docs, max_docs=100)
    hashes = multimodal.dhash_images(media, rows=8, cols=7)
    return multimodal.dhash_near_dup_pairs(
        hashes, max_hamming=4, band_bits=8, n_bands=7
    )


@register(
    "audio_fingerprint_pairs",
    """
    WITH d AS (
      SELECT doc_id, doc_id % 3 AS g, doc_id % 8 AS w0
      FROM documents WHERE doc_id < 60
    ),
    idx AS (SELECT doc_id, g, w0, unnest(range(256)) AS i FROM d),
    s AS (
      SELECT doc_id, i // 32 AS win,
             ((g * 53 + i * 29) % 4096) - 2048
             + CASE WHEN i // 32 = w0 THEN 512 ELSE 0 END AS v
      FROM idx
    ),
    e AS (SELECT doc_id, win, CAST(sum(v * v) AS BIGINT) AS energy
          FROM s GROUP BY 1, 2),
    m AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_match
      FROM e a JOIN e b
        ON a.win = b.win AND a.energy = b.energy AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, n_match, CAST(8 AS BIGINT) AS n_windows
    FROM m WHERE n_match >= 6
    """,
)
def audio_fingerprint_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-duplicate detection over REAL decoded audio: synth
    grouped 16-bit WAVs (three base waveforms, one perturbed window
    per doc), decode with the native RIFF/WAVE codec, fingerprint each
    32-sample window by its exact integer energy, and find pairs
    agreeing on >= 6 of 8 windows via an inverted-index (window,
    energy) equi-join — the audio twin of image_dhash_pairs, and like
    it the oracle replays samples -> windows -> energies -> pairs in
    pure integer SQL, so any decode or windowing error moves the pair
    set. No all-pairs comparison anywhere: candidates come keyed."""
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.synth_group_wav_audio(docs, max_docs=60)
    en = multimodal.wav_window_energy(media, window=32)
    return multimodal.audio_fingerprint_pairs(en, n_windows=8, min_match=6)


# ----------------------------------------------------------------------
# Variance-of-Laplacian blur score (PPM fixtures)
# ----------------------------------------------------------------------


@register(
    "image_blur_laplacian",
    """
    WITH d AS (
      SELECT doc_id, 8 + doc_id % 5 AS w, 6 + doc_id % 3 AS h
      FROM documents WHERE doc_id < 100
    ),
    idx AS (
      SELECT doc_id, w, h, unnest(range((w - 2) * (h - 2))) AS q FROM d
    ),
    pt AS (
      SELECT doc_id, w, h,
             1 + q % (w - 2) AS x,
             1 + q // (w - 2) AS y
      FROM idx
    ),
    lap AS (
      SELECT doc_id, w, h,
             (4 * ((doc_id * 7 + (3 * (y * w + x) + 1) * 13) % 256)
              - ((doc_id * 7 + (3 * (y * w + x - 1) + 1) * 13) % 256)
              - ((doc_id * 7 + (3 * (y * w + x + 1) + 1) * 13) % 256)
              - ((doc_id * 7 + (3 * ((y - 1) * w + x) + 1) * 13) % 256)
              - ((doc_id * 7 + (3 * ((y + 1) * w + x) + 1) * 13) % 256)) AS l
      FROM pt
    )
    SELECT doc_id,
           CAST(any_value(w) AS INTEGER) AS width,
           CAST(any_value(h) AS INTEGER) AS height,
           count(*) AS n_interior,
           CAST(sum(l) AS BIGINT) AS lap_sum,
           CAST(sum(l * l) AS BIGINT) AS lap_sq_sum,
           round(CAST(count(*) * sum(l * l) - sum(l) * sum(l) AS DOUBLE)
                 / (count(*) * count(*)), 4) AS lap_var
    FROM lap GROUP BY doc_id
    """,
)
def image_blur_laplacian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-of-Laplacian blur score over REAL decoded images:
    encode deterministic P6 PPM bytes (multimodal.synth_ppm_images),
    decode them with the pure-numpy parser, convolve the green
    channel with the 4-neighbor Laplacian, and emit integer-exact
    variance terms. The oracle replays the closed-form pixel formula
    as SQL over the interior grid — a header/stride/channel mistake
    anywhere in the decode path moves lap_sum and fails the hash."""
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.synth_ppm_images(docs, max_docs=100)
    return multimodal.image_blur_scores(media)


# ----------------------------------------------------------------------
# Zero-crossing / peak / RMS audio triage (WAV fixtures)
# ----------------------------------------------------------------------


@register(
    "audio_zero_crossing",
    """
    WITH d AS (
      SELECT doc_id, 256 + 64 * (doc_id % 5) AS n
      FROM documents WHERE doc_id < 100
    ),
    smp AS (
      SELECT doc_id, n, unnest(range(n)) AS i FROM d
    ),
    s AS (
      SELECT doc_id, n, i,
             ((doc_id * 31 + i * 17) % 65536) - 32768 AS v
      FROM smp
    ),
    seq AS (
      SELECT doc_id, n, v,
             lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
      FROM s
    )
    SELECT doc_id,
           CAST(any_value(n) AS BIGINT) AS n_samples,
           CAST(sum(CASE WHEN pv IS NOT NULL
                         AND ((v >= 0) != (pv >= 0)) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_zero_crossings,
           round(sum(CASE WHEN pv IS NOT NULL
                          AND ((v >= 0) != (pv >= 0)) THEN 1 ELSE 0 END)
                 * 1.0 / (any_value(n) - 1), 6) AS zcr,
           CAST(max(abs(v)) AS BIGINT) AS peak_abs,
           round(sqrt(CAST(sum(v * v) AS DOUBLE) / any_value(n)), 4) AS rms
    FROM seq GROUP BY doc_id
    """,
)
def audio_zero_crossing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-crossing rate, peak amplitude and RMS over REAL decoded
    16-bit PCM: encode deterministic RIFF/WAVE blobs
    (multimodal.synth_wav_audio), decode with the chunk-walking
    parser, and emit integer-exact counts/energies. The oracle
    replays the closed-form sample formula with a lag() window — any
    sign/stride/header mistake in decode_wav moves the crossing count
    or the energy sum."""
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.synth_wav_audio(docs, max_docs=100)
    return multimodal.audio_zcr_stats(media)
