"""Multimodal columns: image/audio/video as opaque `binary` columns
with typed metadata, decoded and measured by pure-numpy codecs.

The codecs are real: binary PPM (P6), uncompressed 24-bit BMP, 8-bit
PNG (stdlib zlib inflate + full None/Sub/Up/Average/Paeth scanline
unfiltering, CRC-verified chunks), baseline JPEG (operators/jpegcodec.py
— marker walk, Huffman entropy decode, dequant + IDCT, chroma
upsampling), RIFF/WAVE PCM and FLAC (operators/flaccodec.py) all decode
natively — no external codec libraries — so `image_stats` and the
audio windows do actual pixel and sample math end-to-end on compressed
input. Unsupported VARIANTS (progressive JPEG, 16-bit PNG, Adam7)
refuse loudly; `fake_feature_extract` remains the deterministic
byte-level stand-in where format-agnostic features are wanted.

The Python boundary. No native expression decodes these formats, so
every per-blob operator here runs in Python workers — and crosses into
them in one place, `map_blobs(media_df, rows_of, schema)`, which
- projects `doc_id, media`, so no other column reaches a worker;
- ships this module, jpegcodec and flaccodec to the executors by value
  (cloudpickle), so a worker never needs easy_etl_spark importable;
- streams the blobs through mapInPandas in Arrow record batches
  (columnar transfer, no per-row pickling; batch size is
  spark.sql.execution.arrow.maxRecordsPerBatch);
- calls `rows_of(doc_id, blob)` per blob and builds one frame per batch
  from the tuples it yields, with the schema's column names, so a batch
  that yields no rows still matches the schema.

An operator keeps only its per-blob math. Each is per-partition (no
shuffle); downstream joins key on the derived metadata, never the blob.
The `synth_*` fixtures cross the same boundary through `_synth` and keep
only their closed-form pixel or sample formula — the formula the DuckDB
oracles replay as integer SQL. The dHash band join and the audio
fingerprint join are native Spark over the derived integers.
"""

from __future__ import annotations

import hashlib
import sys
from typing import Callable, Iterable, Iterator

import numpy as np
import pandas as pd

from pyspark import cloudpickle
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from . import flaccodec, jpegcodec
# by name, not as flaccodec.* / jpegcodec.*: a shipped closure then
# pickles only these functions' call graph instead of the whole module
from .flaccodec import decode_flac, encode_flac
from .jpegcodec import decode_jpeg, encode_jpeg

#: output schema of featurize(): metadata + fixed-width feature vector
FEATURE_SCHEMA = (
    "doc_id bigint, n_bytes int, content_hash string, features array<double>"
)
#: output schema of the windowed-loudness operators (PCM, WAV, FLAC)
WINDOW_SCHEMA = (
    "doc_id bigint, win bigint, n_samples bigint, energy bigint, peak bigint"
)


def map_blobs(
    media_df: DataFrame,
    rows_of: Callable[[int, bytes], Iterable[tuple]],
    schema: str,
) -> DataFrame:
    """The module's one crossing into Python workers (see the module
    docstring): `rows_of(doc_id, blob)` yields output tuples in
    `schema` order, zero or more per blob."""
    for module in (sys.modules[__name__], jpegcodec, flaccodec):
        cloudpickle.register_pickle_by_value(module)
    out_schema = StructType.fromDDL(schema)
    names = out_schema.names

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                row
                for doc_id, blob in zip(pdf["doc_id"], pdf["media"])
                for row in rows_of(doc_id, bytes(blob))
            ]
            yield pd.DataFrame(rows, columns=names)

    return media_df.select("doc_id", "media").mapInPandas(run, out_schema)


def with_binary_payload(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Build a multimodal-shaped frame from the documents table: the
    utf-8 bytes of `text` stand in for an image/audio blob, plus typed
    metadata — the schema a real ingest would produce."""
    return docs.select(
        "doc_id",
        F.encode(F.col(text_col), "utf-8").alias("media"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.length(F.col(text_col)).alias("orig_len"),
        ).alias("meta"),
    )


def fake_feature_extract(data: bytes, n_features: int = 8) -> list[float]:
    """Deterministic stand-in for a feature extractor: fixed-width
    vector from byte statistics of equal-width chunks."""
    if not data:
        return [0.0] * n_features
    chunk = max(1, len(data) // n_features)
    out = []
    for i in range(n_features):
        piece = data[i * chunk : (i + 1) * chunk] or b"\x00"
        out.append(round(sum(piece) / len(piece) / 255.0, 6))
    return out


def featurize(media_df: DataFrame, n_features: int = 8) -> DataFrame:
    """Feature extraction over the binary column: byte length, md5 and
    the fixed-width `fake_feature_extract` vector per blob — the
    template a real decode/resize/frame-sample op follows."""
    def rows_of(doc_id, blob):
        yield (
            doc_id,
            len(blob),
            hashlib.md5(blob).hexdigest(),
            fake_feature_extract(blob, n_features),
        )

    return map_blobs(media_df, rows_of, FEATURE_SCHEMA)


def frame_sample(media_df: DataFrame, every_n_bytes: int = 64) -> DataFrame:
    """'Frame sampling' template: emit one row per sampled offset of
    each blob (the video-frame analog: one input row → many output
    rows, and an empty blob → none)."""
    def rows_of(doc_id, blob):
        for off in range(0, len(blob), every_n_bytes):
            yield doc_id, off, blob[off]

    return map_blobs(media_df, rows_of, "doc_id bigint, offset int, sample_byte int")


def resize_image(data: bytes, width: int, height: int) -> bytes:
    """Real nearest-neighbor resize for natively-decodable formats:
    decode (PPM/BMP/PNG), index-sample to (height, width), re-encode
    as PPM. JPEG inputs raise via decode_image's contract."""
    a = _rgb(decode_image(data))
    h, w, _ = a.shape
    ys = (np.arange(height) * h) // height
    xs = (np.arange(width) * w) // width
    return encode_ppm(a[ys][:, xs])


def fake_resize(data: bytes, factor: int = 4) -> bytes:
    """Deterministic stand-in for resize: keep every factor-th byte —
    same contract shape (binary in → smaller binary out)."""
    return bytes(data[::factor])


def resize(media_df: DataFrame, factor: int = 4) -> DataFrame:
    """Resize template: binary in → binary out with updated metadata.
    Swap fake_resize for resize_image when the input is a decodable
    image; nothing else changes."""
    def rows_of(doc_id, blob):
        small = fake_resize(blob, factor)
        yield doc_id, small, len(small)

    return map_blobs(media_df, rows_of, "doc_id bigint, media binary, n_bytes int")


# ----------------------------------------------------------------------
# Real decoders (pure numpy — uncompressed formats need no codec libs)
# ----------------------------------------------------------------------

def encode_ppm(pixels) -> bytes:
    """(h, w, 3) uint8 array → binary PPM (P6, maxval 255)."""
    import numpy as np

    a = np.asarray(pixels, dtype="uint8")
    h, w, _ = a.shape
    return b"P6\n%d %d\n255\n" % (w, h) + a.tobytes()


def decode_ppm(data: bytes):
    """Parse a binary PPM (P6): header of whitespace-separated tokens
    (with ``#`` comments) then a raw RGB payload. Returns an (h, w, 3)
    uint8 numpy array. Pure numpy — a REAL parser (magic, comments,
    arbitrary whitespace, payload-length validation), not a stub."""
    import numpy as np

    if data[:2] != b"P6":
        raise ValueError("not a binary PPM (P6) payload")
    # tokenize the header: 4 fields (magic, w, h, maxval); comments run
    # from '#' to end-of-line; a single whitespace byte ends the header
    tokens, i, n = [], 2, len(data)
    while len(tokens) < 3 and i < n:
        c = data[i : i + 1]
        if c == b"#":
            while i < n and data[i : i + 1] not in (b"\n", b"\r"):
                i += 1
        elif c.isspace():
            i += 1
        else:
            j = i
            while j < n and not data[j : j + 1].isspace() and data[j : j + 1] != b"#":
                j += 1
            tokens.append(data[i:j])
            i = j
    if len(tokens) < 3:
        raise ValueError("truncated PPM header")
    w, h, maxval = (int(t) for t in tokens)
    if maxval > 255:
        raise ValueError("16-bit PPM not supported")
    i += 1  # exactly one whitespace byte separates header and payload
    payload = data[i : i + w * h * 3]
    if len(payload) != w * h * 3:
        raise ValueError(f"payload is {len(payload)} bytes, expected {w * h * 3}")
    return np.frombuffer(payload, dtype="uint8").reshape(h, w, 3)


def decode_bmp(data: bytes):
    """Parse an uncompressed 24-bit BMP (BITMAPINFOHEADER, BI_RGB):
    bottom-up rows, 4-byte row padding, BGR order → (h, w, 3) uint8 RGB
    array. Covers the uncompressed-format class alongside PPM."""
    import struct

    import numpy as np

    if data[:2] != b"BM":
        raise ValueError("not a BMP payload")
    off = struct.unpack_from("<I", data, 10)[0]
    hdr = struct.unpack_from("<I", data, 14)[0]
    if hdr < 40:
        raise ValueError("BITMAPCOREHEADER not supported")
    w, h = struct.unpack_from("<ii", data, 18)
    planes, bpp = struct.unpack_from("<HH", data, 26)
    comp = struct.unpack_from("<I", data, 30)[0]
    if bpp != 24 or comp != 0:
        raise NotImplementedError("only uncompressed 24-bit BMP supported")
    flipped, h = h < 0, abs(h)
    stride = (w * 3 + 3) & ~3
    rows = np.frombuffer(data, dtype="uint8", count=h * stride, offset=off)
    rows = rows.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if not flipped:
        rows = rows[::-1]  # bottom-up storage → top-down array
    return rows[:, :, ::-1].copy()  # BGR → RGB


def encode_bmp(pixels) -> bytes:
    """(h, w, 3) uint8 RGB array → uncompressed 24-bit BMP (bottom-up,
    padded rows) — the fixture generator for decode_bmp."""
    import struct

    import numpy as np

    a = np.asarray(pixels, dtype="uint8")
    h, w, _ = a.shape
    stride = (w * 3 + 3) & ~3
    body = np.zeros((h, stride), dtype="uint8")
    body[:, : w * 3] = a[::-1, :, ::-1].reshape(h, w * 3)  # top-down RGB → bottom-up BGR
    raw = body.tobytes()
    header = struct.pack("<2sIHHI", b"BM", 54 + len(raw), 0, 0, 54) + struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(raw), 2835, 2835, 0, 0
    )
    return header + raw


# -- PNG: real stdlib-zlib + numpy codec (no external libraries) -------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _paeth_vec(a, b, c):
    """Vectorized Paeth predictor (PNG spec §9, filter type 4)."""
    import numpy as np

    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


def encode_png(pixels, row_filters=None) -> bytes:
    """(h, w, C) uint8 array (C = 1 gray / 3 RGB / 4 RGBA) → a real PNG:
    8-bit, non-interlaced, zlib-deflated scanlines with correct chunk
    CRCs. ``row_filters`` picks the per-scanline filter type; the
    default cycles 0→4 so round-trip tests exercise EVERY unfilter path
    (None/Sub/Up/Average/Paeth), not just the trivial one. Filtering is
    fully vectorized — predictors read the original (reconstructed)
    bytes, so encoding has no sequential dependency."""
    import struct
    import zlib

    import numpy as np

    a = np.asarray(pixels, dtype="uint8")
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, ch = a.shape
    color = {1: 0, 3: 2, 4: 6}[ch]
    flat = a.reshape(h, w * ch).astype(np.int32)
    stride = w * ch
    rows = []
    for r in range(h):
        f = (r % 5) if row_filters is None else int(row_filters[r])
        cur = flat[r]
        prev = flat[r - 1] if r else np.zeros(stride, dtype=np.int32)
        left = np.concatenate([np.zeros(ch, dtype=np.int32), cur[:-ch]])
        upleft = np.concatenate([np.zeros(ch, dtype=np.int32), prev[:-ch]])
        if f == 0:
            filt = cur
        elif f == 1:
            filt = cur - left
        elif f == 2:
            filt = cur - prev
        elif f == 3:
            filt = cur - ((left + prev) >> 1)
        elif f == 4:
            filt = cur - _paeth_vec(left, prev, upleft)
        else:
            raise ValueError(f"invalid PNG filter type {f}")
        rows.append(bytes([f]) + (filt & 255).astype("uint8").tobytes())
    body = zlib.compress(b"".join(rows))

    def chunk(ctype: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload))
            + ctype
            + payload
            + struct.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return _PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", body) + chunk(b"IEND", b"")


def decode_png(data: bytes):
    """REAL PNG decode with stdlib zlib + numpy: chunk walk with CRC
    verification, IDAT concatenation, inflate, and full scanline
    unfiltering (None/Sub/Up/Average/Paeth). Supports the formats an
    LLM-ingest pipeline actually meets from standard encoders — 8-bit
    greyscale / RGB / RGBA, non-interlaced — and refuses the rest
    loudly (16-bit, palette, Adam7). Returns (h, w, C) uint8 with C in
    {1, 3, 4}.

    Per-scanline cost: Up is one vector add, Sub is a per-channel
    cumulative sum; Average/Paeth are inherently sequential along the
    row (each pixel needs the RECONSTRUCTED left neighbor — true in
    every PNG codec, usually hidden inside C). At 100 TB this runs
    embarrassingly parallel inside mapInPandas Arrow batches: cost
    scales with pixels per executor, zero shuffle."""
    import struct
    import zlib

    import numpy as np

    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    i, n = 8, len(data)
    ihdr, idat = None, []
    while i + 12 <= n:
        (ln,) = struct.unpack_from(">I", data, i)
        ctype = data[i + 4 : i + 8]
        payload = data[i + 8 : i + 8 + ln]
        (crc,) = struct.unpack_from(">I", data, i + 8 + ln)
        if zlib.crc32(ctype + payload) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG {ctype!r} chunk CRC mismatch")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", payload)
        elif ctype == b"IDAT":
            idat.append(payload)
        elif ctype == b"IEND":
            break
        i += 12 + ln
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    w, h, depth, color, comp, filt_method, interlace = ihdr
    if depth != 8:
        raise NotImplementedError(f"{depth}-bit PNG not supported (8-bit only)")
    if interlace != 0:
        raise NotImplementedError("Adam7-interlaced PNG not supported")
    channels = {0: 1, 2: 3, 6: 4}.get(color)
    if channels is None:
        raise NotImplementedError(f"PNG color type {color} not supported")
    raw = zlib.decompress(b"".join(idat))
    stride = w * channels
    if len(raw) != h * (1 + stride):
        raise ValueError(
            f"inflated size {len(raw)}, expected {h * (1 + stride)}"
        )
    arr = np.frombuffer(raw, dtype="uint8").reshape(h, 1 + stride)
    ftypes, rows = arr[:, 0], arr[:, 1:].astype(np.int32)
    recon = np.zeros((h, stride), dtype=np.int32)
    bpp = channels
    for r in range(h):
        f, cur = int(ftypes[r]), rows[r]
        prev = recon[r - 1] if r else np.zeros(stride, dtype=np.int32)
        if f == 0:
            recon[r] = cur
        elif f == 1:  # Sub: per-channel cumulative sum along the row
            recon[r] = cur.reshape(w, bpp).cumsum(axis=0).reshape(stride) & 255
        elif f == 2:  # Up
            recon[r] = (cur + prev) & 255
        elif f == 3:  # Average — sequential: needs reconstructed left
            line = cur.copy()
            for x in range(stride):
                left = line[x - bpp] if x >= bpp else 0
                line[x] = (line[x] + ((left + prev[x]) >> 1)) & 255
            recon[r] = line
        elif f == 4:  # Paeth — sequential: needs reconstructed left
            line = cur.copy()
            for x in range(stride):
                a = int(line[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[x] = (line[x] + pred) & 255
            recon[r] = line
        else:
            raise ValueError(f"invalid PNG filter type {f} on row {r}")
    return recon.astype("uint8").reshape(h, w, channels)


def decode_image(data: bytes):
    """Decode an image payload by magic number: binary PPM (P6),
    uncompressed 24-bit BMP, 8-bit PNG (stdlib zlib + numpy
    unfiltering) and baseline JPEG (operators/jpegcodec.py — pure
    numpy Huffman+IDCT) all decode natively, no codec libraries.
    Unrecognized formats raise NotImplementedError by contract;
    unsupported VARIANTS of a recognized format (progressive JPEG,
    16-bit or Adam7 PNG) raise from their codec with the specific
    reason."""
    if data[:2] == b"P6":
        return decode_ppm(data)
    if data[:2] == b"BM":
        return decode_bmp(data)
    if data[:8] == _PNG_SIG:
        return decode_png(data)
    if data[:2] == b"\xff\xd8":
        return decode_jpeg(data)
    raise NotImplementedError(
        "unrecognized image format; PPM (P6), 24-bit BMP, 8-bit PNG and "
        "baseline JPEG decode natively"
    )


def _synth(
    docs: DataFrame, max_docs: int, blob_of: Callable[[int], bytes]
) -> DataFrame:
    """Fixture column (doc_id, media) for the docs with doc_id <
    max_docs, media = blob_of(doc_id). The scan reads only doc_id: the
    empty literal fills map_blobs' media slot and is never read."""
    ids = docs.filter(F.col("doc_id") < max_docs).select(
        "doc_id", F.lit(b"").alias("media")
    )
    return map_blobs(
        ids, lambda doc_id, _empty: [(doc_id, blob_of(doc_id))], "doc_id bigint, media binary"
    )


def _rgb(a):
    """(h, w, C) decoded image → (h, w, 3): greyscale replicated into
    RGB, alpha dropped."""
    if a.shape[2] == 1:
        a = np.repeat(a, 3, axis=2)
    return a[:, :, :3]


def synth_ppm_images(docs: DataFrame, max_docs: int = 100) -> DataFrame:
    """Deterministic PPM fixture column: doc_id → a real encoded P6
    image whose pixel p (row-major, interleaved RGB) is
    (doc_id*7 + p*13) % 256, with w = 8 + doc_id%5, h = 6 + doc_id%3.
    The formula is replayable as pure integer SQL, so an oracle can
    verify stats computed from the DECODED bytes without any codec —
    if the decoder mis-parses the header or strides, every sum moves."""
    def blob_of(doc_id):
        w, h = 8 + doc_id % 5, 6 + doc_id % 3
        p = np.arange(w * h * 3, dtype="int64")
        return encode_ppm(((doc_id * 7 + p * 13) % 256).astype("uint8").reshape(h, w, 3))

    return _synth(docs, max_docs, blob_of)


def synth_png_images(docs: DataFrame, max_docs: int = 100) -> DataFrame:
    """Deterministic PNG fixture column: doc_id → a REAL 8-bit RGB PNG
    (zlib-deflated, CRC-correct, per-row filter types cycling 0→4 so
    every unfilter path runs) whose pixel p (row-major, interleaved
    RGB) is (doc_id*11 + p*17) % 256, with w = 7 + doc_id%6,
    h = 5 + doc_id%4. Same replayable-formula trick as
    synth_ppm_images: an oracle can verify stats computed from the
    DECODED bytes as pure integer SQL — any inflate/unfilter/stride
    mistake in decode_png moves a channel sum."""
    def blob_of(doc_id):
        w, h = 7 + doc_id % 6, 5 + doc_id % 4
        p = np.arange(w * h * 3, dtype="int64")
        return encode_png(((doc_id * 11 + p * 17) % 256).astype("uint8").reshape(h, w, 3))

    return _synth(docs, max_docs, blob_of)


def synth_jpeg_images(docs: DataFrame, max_docs: int = 100) -> DataFrame:
    """Deterministic baseline-JPEG fixture column: doc_id → a REAL
    greyscale JPEG (SOF0, Huffman entropy coding, quantized DCT) built
    from constant 8x8 blocks whose value is
    2·((doc_id·13 + blockindex·29) % 128), with w = 8·(2 + doc_id%3),
    h = 8·(1 + doc_id%2). Constant EVEN-valued blocks survive the lossy
    pipeline bit-exactly (see jpegcodec module docstring), so a DuckDB
    oracle replays the decoded pixel sums as pure integer SQL — any
    marker/Huffman/dequant/IDCT bug moves a sum. The lossy path on
    arbitrary images is pinned by round-trip tolerance pytests."""
    def blob_of(doc_id):
        bw, bh = 2 + doc_id % 3, 1 + doc_id % 2
        bidx = np.arange(bw * bh, dtype="int64").reshape(bh, bw)  # row-major
        blocks = 2 * ((doc_id * 13 + bidx * 29) % 128)
        img = np.repeat(np.repeat(blocks, 8, axis=0), 8, axis=1)
        return encode_jpeg(img.astype("uint8"))

    return _synth(docs, max_docs, blob_of)


def image_stats(media_df: DataFrame) -> DataFrame:
    """REAL decode + pixel math over the binary column: parse each blob
    with decode_image, emit width/height and integer-exact per-channel
    sums plus rounded channel means — the shape of a 100 TB
    thumbnail/EXIF pass (blobs are never moved, only their derived
    metadata is)."""
    def rows_of(doc_id, blob):
        a = _rgb(decode_image(blob))
        h, w, _ = a.shape
        sums = [int(s) for s in a.reshape(-1, 3).sum(axis=0, dtype="int64")]
        yield (doc_id, w, h, *sums, *(round(s / (w * h), 4) for s in sums))

    return map_blobs(
        media_df,
        rows_of,
        "doc_id bigint, width int, height int, r_sum bigint, g_sum bigint, "
        "b_sum bigint, mean_r double, mean_g double, mean_b double",
    )


# -- WAV: real RIFF/PCM audio codec (stdlib struct + numpy) ------------

def encode_wav(samples, sample_rate: int = 16000, bits: int = 16) -> bytes:
    """(n,) or (n, channels) integer samples → a real RIFF/WAVE file
    (PCM format 1, 8-bit unsigned or 16-bit signed little-endian) —
    the fixture generator for decode_wav."""
    import struct

    import numpy as np

    a = np.asarray(samples)
    if a.ndim == 1:
        a = a[:, None]
    n, ch = a.shape
    if bits == 16:
        payload = a.astype("<i2").tobytes()
    elif bits == 8:
        payload = a.astype(np.uint8).tobytes()
    else:
        raise ValueError("PCM bits must be 8 or 16")
    block = ch * bits // 8
    fmt = struct.pack("<HHIIHH", 1, ch, sample_rate, sample_rate * block, block, bits)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(payload)) + payload
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(data: bytes):
    """REAL RIFF/WAVE parse: chunk walk (unknown chunks skipped, word-
    aligned), fmt validation, PCM payload decode. Supports format 1
    (integer PCM) at 8-bit unsigned / 16-bit signed little-endian, any
    channel count. Returns (samples, sample_rate) with samples int32
    of shape (n_frames, channels) — 8-bit input is recentred to signed
    (−128..127) so downstream energy math is format-independent.
    MP3 / IEEE-float WAV refuse loudly; compressed FLAC has its own
    native decoder (operators/flaccodec.decode_flac)."""
    import struct

    import numpy as np

    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    i, n = 12, len(data)
    fmt = None
    payload = None
    while i + 8 <= n:
        cid = data[i : i + 4]
        (ln,) = struct.unpack_from("<I", data, i + 4)
        body = data[i + 8 : i + 8 + ln]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            payload = body
        i += 8 + ln + (ln & 1)  # chunks are word-aligned
    if fmt is None or payload is None:
        raise ValueError("WAVE missing fmt/data chunk")
    audio_format, ch, rate, _byte_rate, _block, bits = fmt
    if audio_format != 1:
        raise NotImplementedError(
            f"WAVE format {audio_format} not supported (integer PCM only)"
        )
    if bits == 16:
        a = np.frombuffer(payload, dtype="<i2").astype(np.int32)
    elif bits == 8:
        a = np.frombuffer(payload, dtype=np.uint8).astype(np.int32) - 128
    else:
        raise NotImplementedError(f"{bits}-bit PCM not supported")
    frames = len(a) // ch
    return a[: frames * ch].reshape(frames, ch), rate


def synth_wav_audio(docs: DataFrame, max_docs: int = 100) -> DataFrame:
    """Deterministic WAV fixture column: doc_id → a real 16-bit mono
    RIFF/WAVE blob whose sample i is ((doc_id*31 + i*17) % 65536) −
    32768, with n = 256 + 64·(doc_id % 5) frames. Same replayable-
    formula pattern as the image fixtures: an oracle can verify
    windowed energies computed from the DECODED samples as pure
    integer SQL — any header/stride/sign mistake in decode_wav moves
    an energy sum."""
    def blob_of(doc_id):
        i = np.arange(256 + 64 * (doc_id % 5), dtype="int64")
        return encode_wav(((doc_id * 31 + i * 17) % 65536) - 32768, bits=16)

    return _synth(docs, max_docs, blob_of)


def synth_flac_audio(docs: DataFrame, max_docs: int = 100) -> DataFrame:
    """Deterministic FLAC fixture column: doc_id → a real compressed
    FLAC stream (operators/flaccodec.py) whose decoded sample i is
    ((doc_id*37 + i*23) % 65536) − 32768, with n = 192 + 64·(doc_id %
    4) frames. The ENCODING varies per doc — subframe strategy cycles
    auto/lpc/verbatim and the block size cycles 64/96/128 — so the
    oracle replay exercises fixed-predictor, quantized-LPC and
    verbatim decode paths plus multi-frame reassembly; any Rice/CRC/
    predictor mistake in decode_flac moves a window energy."""
    def blob_of(doc_id):
        i = np.arange(192 + 64 * (doc_id % 4), dtype="int64")
        return encode_flac(
            ((doc_id * 37 + i * 23) % 65536) - 32768,
            bits=16,
            block_size=64 + 32 * (doc_id % 3),
            subframe=("auto", "lpc", "verbatim")[doc_id % 3],
        )

    return _synth(docs, max_docs, blob_of)


def _window_energy(
    media_df: DataFrame, window: int, samples_of: Callable[[bytes], np.ndarray]
) -> DataFrame:
    """Windowed loudness over the int64 mono samples that
    `samples_of(blob)` decodes: per fixed-length window, the sample
    count, energy (Σ sample²) and peak (max sample²) — the RMS/peak
    profile an audio-curation pipeline computes per frame. Integer
    outputs end-to-end, no float accumulation to drift."""
    def rows_of(doc_id, blob):
        mono = samples_of(blob)
        for start in range(0, len(mono), window):
            sq = mono[start : start + window] ** 2
            yield doc_id, start // window, len(sq), int(sq.sum()), int(sq.max())

    return map_blobs(media_df, rows_of, WINDOW_SCHEMA)


def flac_window_energy(media_df: DataFrame, window: int = 64) -> DataFrame:
    """Windowed loudness over REAL compressed audio: each blob decoded
    with flaccodec.decode_flac (Rice residuals, predictors, CRCs and
    all), channels mixed by integer sum — the wav_window_energy profile
    over a compressed codec."""
    return _window_energy(
        media_df,
        window,
        lambda blob: decode_flac(blob)[0].sum(axis=1, dtype=np.int64),
    )


def wav_window_energy(media_df: DataFrame, window: int = 64) -> DataFrame:
    """Windowed loudness over a REAL container format: each blob
    decoded with decode_wav, channels mixed by integer sum."""
    return _window_energy(
        media_df, window, lambda blob: decode_wav(blob)[0].sum(axis=1, dtype=np.int64)
    )


def pcm_window_energy(media_df: DataFrame, window: int = 64) -> DataFrame:
    """Windowed loudness over raw binary payloads read as signed 8-bit
    PCM. The decode is real binary work (a numpy int8 view over the
    Arrow-delivered bytes); only the SIGNAL is synthetic (text bytes as
    PCM), which is what lets a SQL oracle replay the exact energies
    from the characters."""
    return _window_energy(
        media_df, window, lambda blob: np.frombuffer(blob, dtype=np.int8).astype(np.int64)
    )


# ----------------------------------------------------------------------
# Perceptual image dedup: dHash over REAL decoded pixels
# ----------------------------------------------------------------------

def _dhash_of_pixels(px, rows: int, cols: int) -> int:
    """Difference hash of one decoded (H, W, C) uint8 image: integer
    luma -> (rows x cols+1) block-mean grid (floor boundaries, floor
    mean) -> horizontal gradient sign bits, MSB-first. Every step is
    integer-exact so a SQL oracle can replay it bit-for-bit."""
    a = px.astype(np.int64)
    if a.shape[2] >= 3:
        gray = (299 * a[:, :, 0] + 587 * a[:, :, 1] + 114 * a[:, :, 2]) // 1000
    else:
        gray = a[:, :, 0]
    H, W = gray.shape
    if H < rows or W < cols + 1:
        raise ValueError(
            f"image {W}x{H} too small for a {rows}x{cols + 1} dHash grid"
        )
    rb = [i * H // rows for i in range(rows + 1)]
    cb = [j * W // (cols + 1) for j in range(cols + 2)]
    m = [[0] * (cols + 1) for _ in range(rows)]
    for i in range(rows):
        for j in range(cols + 1):
            blk = gray[rb[i] : rb[i + 1], cb[j] : cb[j + 1]]
            m[i][j] = int(blk.sum()) // blk.size
    h = 0
    nbits = rows * cols
    for i in range(rows):
        for j in range(cols):
            if m[i][j + 1] > m[i][j]:
                h |= 1 << (nbits - 1 - (i * cols + j))
    return h


def dhash_images(media_df: DataFrame, rows: int = 8, cols: int = 7) -> DataFrame:
    """Perceptual fingerprint per image blob: REAL decode (PPM/BMP/
    PNG/JPEG via decode_image) -> 56-bit dHash (8x7 default keeps the
    hash inside a signed BIGINT on every engine). The scale path for
    petabyte image corpora is exactly this: one cheap integer
    fingerprint per blob, then dedup on the (tiny) hash table."""
    def rows_of(doc_id, blob):
        yield doc_id, _dhash_of_pixels(decode_image(blob), rows, cols)

    return map_blobs(media_df, rows_of, "doc_id bigint, dhash bigint")


def _hash_bands(
    hashes: DataFrame,
    side: str,
    max_hamming: int,
    band_bits: int,
    n_bands: int,
    id_col: str,
    hash_col: str,
) -> DataFrame:
    """One row per band of each hash: (<side>_id, <side>_h, band, val),
    val = the hash's ``band_bits`` bits at band ``band``. Two hashes
    within ``max_hamming`` bits agree on at least one band whenever
    max_hamming < n_bands (pigeonhole), so an equi-join on (band, val)
    finds every qualifying pair and the exact bit_count(xor) check runs
    on candidates only; any wider radius is refused."""
    if max_hamming >= n_bands:
        raise ValueError(
            f"banding is only complete for max_hamming < n_bands "
            f"({max_hamming} >= {n_bands})"
        )
    mask = (1 << band_bits) - 1
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col(hash_col), band_bits * b)
                .bitwiseAND(F.lit(mask))
                .alias("val"),
            )
            for b in range(n_bands)
        ]
    )
    return hashes.select(
        F.col(id_col).alias(f"{side}_id"),
        F.col(hash_col).alias(f"{side}_h"),
        F.explode(bands).alias("bd"),
    ).select(f"{side}_id", f"{side}_h", "bd.band", "bd.val")


def dhash_near_dup_pairs(
    hashes: DataFrame,
    max_hamming: int = 4,
    band_bits: int = 8,
    n_bands: int = 7,
    id_col: str = "doc_id",
    hash_col: str = "dhash",
) -> DataFrame:
    """Near-duplicate image pairs by Hamming distance on dHash —
    BANDED, not all-pairs (see _hash_bands). Returns
    (id_a, id_b, hamming) with id_a < id_b."""
    spec = (max_hamming, band_bits, n_bands, id_col, hash_col)
    cand = (
        _hash_bands(hashes, "a", *spec)
        .join(_hash_bands(hashes, "b", *spec), ["band", "val"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select(F.col("a_id").alias("id_a"), F.col("b_id").alias("id_b"), "a_h", "b_h")
        .dropDuplicates(["id_a", "id_b"])
    )
    ham = F.bit_count(F.col("a_h").bitwiseXOR(F.col("b_h")))
    return (
        cand.withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def synth_neardup_png_images(
    docs: DataFrame, max_docs: int = 100, size: int = 24
) -> DataFrame:
    """Near-duplicate PNG fixture: four base patterns (doc_id % 4,
    wrapped integer gradients so groups differ structurally, not by a
    dHash-invariant constant shift), each doc perturbing ONE 3x3 block
    (+96 mod 256) at a doc-derived position — so same-group docs are a
    few dHash bits apart and cross-group docs are far. Grayscale PNG,
    luma == pixel value, every step SQL-replayable."""
    def blob_of(doc_id):
        y, x = np.mgrid[0:size, 0:size]
        v = ((doc_id % 4) * 37 + x * 5 + y * 11) % 256
        bx, by = doc_id % 8, (doc_id // 8) % 8
        blk = (slice(by * 3, by * 3 + 3), slice(bx * 3, bx * 3 + 3))
        v[blk] = (v[blk] + 96) % 256
        return encode_png(v.astype("uint8"))

    return _synth(docs, max_docs, blob_of)


def synth_group_wav_audio(docs: DataFrame, max_docs: int = 60) -> DataFrame:
    """Near-duplicate WAV fixture: three base waveforms (doc_id % 3),
    each doc perturbing ONE 32-sample window (+512) at a doc-derived
    position — so same-group docs share identical energies on every
    unperturbed window and an exact inverted-index join finds them.
    16-bit mono RIFF/WAVE, 256 samples; fully SQL-replayable."""
    def blob_of(doc_id):
        i = np.arange(256, dtype="int64")
        s = ((doc_id % 3) * 53 + i * 29) % 4096 - 2048
        return encode_wav(s + np.where(i // 32 == doc_id % 8, 512, 0), bits=16)

    return _synth(docs, max_docs, blob_of)


def audio_fingerprint_pairs(
    energies: DataFrame, n_windows: int, min_match: int
) -> DataFrame:
    """Audio near-dup pairs from a windowed-energy table (doc_id, win,
    energy): candidates via an INVERTED-INDEX equi-join on the exact
    (window, energy) key — never an all-pairs comparison — then keep
    pairs agreeing on at least ``min_match`` windows. The audio twin
    of the dHash band join: at 100 TB the per-window fingerprint table
    is tiny next to the media, and the join is keyed equi-work only."""
    e = energies.select("doc_id", "win", "energy")
    a, b = e.alias("a"), e.alias("b")
    return (
        a.join(
            b,
            (F.col("a.win") == F.col("b.win"))
            & (F.col("a.energy") == F.col("b.energy"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_match"))
        .filter(F.col("n_match") >= min_match)
        .withColumn("n_windows", F.lit(n_windows).cast("bigint"))
    )


def dhash_cross_dups(
    index_hashes: DataFrame,
    new_hashes: DataFrame,
    max_hamming: int = 4,
    band_bits: int = 8,
    n_bands: int = 7,
    id_col: str = "doc_id",
    hash_col: str = "dhash",
) -> DataFrame:
    """New-vs-index near-dup check (the incremental-ingest shape): new
    ids whose dHash is within ``max_hamming`` of ANY already-indexed
    hash. Unlike dhash_near_dup_pairs this is a CROSS-frame banded
    join with no id-ordering predicate, so a replayed blob (same id,
    same hash) still matches its landed twin. Returns distinct
    (new_id) rows."""
    spec = (max_hamming, band_bits, n_bands, id_col, hash_col)
    cand = (
        _hash_bands(new_hashes, "new", *spec)
        .join(_hash_bands(index_hashes, "idx", *spec), ["band", "val"])
        .dropDuplicates(["new_id", "idx_id"])
    )
    ham = F.bit_count(F.col("new_h").bitwiseXOR(F.col("idx_h")))
    return cand.filter(ham <= max_hamming).select("new_id").distinct()


def image_blur_scores(media_df: DataFrame) -> DataFrame:
    """Variance-of-Laplacian sharpness/blur score over the DECODED
    green channel — the classic curation signal for dropping blurry
    images before vision-model training. The 4-neighbor Laplacian and
    its variance are computed in exact int64 (var = (n·Σl² − (Σl)²)
    / n², one float division at the end), so an oracle replaying the
    fixture's closed-form pixels verifies the whole decode→convolve
    pipeline bit-for-bit."""
    def rows_of(doc_id, blob):
        g = _rgb(decode_image(blob))[:, :, 1].astype("int64")
        h, w = g.shape
        lap = (
            4 * g[1:-1, 1:-1]
            - g[1:-1, :-2]
            - g[1:-1, 2:]
            - g[:-2, 1:-1]
            - g[2:, 1:-1]
        )
        n, sl, sl2 = int(lap.size), int(lap.sum()), int((lap * lap).sum())
        yield doc_id, w, h, n, sl, sl2, round(float(n * sl2 - sl * sl) / (n * n), 4)

    return map_blobs(
        media_df,
        rows_of,
        "doc_id bigint, width int, height int, n_interior bigint,"
        " lap_sum bigint, lap_sq_sum bigint, lap_var double",
    )


def audio_zcr_stats(media_df: DataFrame) -> DataFrame:
    """Zero-crossing rate + peak + RMS over DECODED PCM samples — the
    first-line audio quality triage (silence, clipping, noisiness)
    before audio-model training. Crossing = sign change of the
    (s ≥ 0) indicator between consecutive samples; counts and energy
    sums are exact int64 so the fixture oracle replays them as pure
    integer SQL."""
    def rows_of(doc_id, blob):
        # (n_frames, channels) → flat stream (fixtures are mono;
        # multi-channel would interleave, still exact)
        s = decode_wav(blob)[0].astype("int64").reshape(-1)
        zc = int(np.abs(np.diff((s >= 0).astype("int64"))).sum())
        n, e = int(s.size), int((s * s).sum())
        zcr, rms = round(zc / (n - 1), 6), round((e / n) ** 0.5, 4)
        yield doc_id, n, zc, zcr, int(np.abs(s).max()), rms

    return map_blobs(
        media_df,
        rows_of,
        "doc_id bigint, n_samples bigint, n_zero_crossings bigint,"
        " zcr double, peak_abs bigint, rms double",
    )
