from __future__ import annotations

import pytest

import pyspark.sql.functions as F

from easy_etl_spark.operators import multimodal, textops
from easy_etl_spark.session import load_table


def test_text_profile_columns_and_values(spark):
    docs = spark.createDataFrame(
        [(1, "the fast big table"), (2, "data table row value column")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in textops.text_profile(docs).collect()}
    assert out[1]["n_tokens"] == 4
    assert out[1]["lang_guess"] == "en"       # 'the','fast','big' hit en profile
    assert out[2]["lang_guess"] == "es"       # data/table/row/value/column
    assert out[1]["stop_ratio"] == 0.25       # 'the' of 4 tokens
    assert 0.0 < out[1]["quality"] <= 1.0


def test_fingerprint_normalization(spark):
    docs = spark.createDataFrame([(1, "  Hello World "), (2, "hello world")], "doc_id long, text string")
    fps = [r["fp"] for r in docs.select(textops.fingerprint_md5(F.col("text")).alias("fp")).collect()]
    assert fps[0] == fps[1]


def test_rolling_min_hash_deterministic(spark):
    docs = spark.createDataFrame([(1, "a b c d e f")], "doc_id long, text string")
    a = docs.select(textops.rolling_min_hash(F.col("text")).alias("h")).first()["h"]
    b = docs.select(textops.rolling_min_hash(F.col("text")).alias("h")).first()["h"]
    assert a == b and isinstance(a, int)


def test_multimodal_featurize_shapes(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(20)
    media = multimodal.with_binary_payload(docs)
    assert dict(media.dtypes)["media"] == "binary"
    out = multimodal.featurize(media, n_features=8)
    rows = out.collect()
    assert len(rows) == 20
    assert all(len(r["features"]) == 8 for r in rows)
    assert all(0.0 <= x <= 1.0 for r in rows for x in r["features"])
    # n_bytes equals utf-8 length of the source text
    joined = out.join(docs, "doc_id").filter(F.col("n_bytes") != F.length("text")).count()
    assert joined == 0


def test_multimodal_featurize_deterministic(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(5)
    media = multimodal.with_binary_payload(docs)
    a = sorted(map(tuple, ((r["doc_id"], tuple(r["features"])) for r in multimodal.featurize(media).collect())))
    b = sorted(map(tuple, ((r["doc_id"], tuple(r["features"])) for r in multimodal.featurize(media).collect())))
    assert a == b


def test_frame_sample_rows(spark):
    docs = spark.createDataFrame([(1, "x" * 200)], "doc_id long, text string")
    out = multimodal.frame_sample(multimodal.with_binary_payload(docs), every_n_bytes=64).collect()
    assert [r["offset"] for r in sorted(out, key=lambda r: r["offset"])] == [0, 64, 128, 192]
    # an empty blob yields no rows, beside a non-empty one and on its own
    docs = spark.createDataFrame([(1, "x" * 200), (2, "")], "doc_id long, text string")
    out = multimodal.frame_sample(multimodal.with_binary_payload(docs), every_n_bytes=64).collect()
    assert sorted((r["doc_id"], r["offset"]) for r in out) == [(1, 0), (1, 64), (1, 128), (1, 192)]
    docs = spark.createDataFrame([(1, ""), (2, "")], "doc_id long, text string")
    assert multimodal.frame_sample(multimodal.with_binary_payload(docs), every_n_bytes=64).collect() == []


def test_decode_image_unknown_format_contracted():
    # unrecognized magic numbers must refuse loudly
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"GIF89a......")
    with pytest.raises(ValueError):
        # JPEG SOI but truncated garbage: real codec, real parse error
        multimodal.decode_image(b"\xff\xd8\xff\xe0JFIF")


def test_bpe_ish_token_count_splits_punctuation(spark):
    import pyspark.sql.functions as F

    from easy_etl_spark.operators.textops import bpe_ish_token_count, token_count

    docs = spark.createDataFrame([(1, "hello,world. how are you?")], "doc_id long, text string")
    ws = docs.select(token_count(F.col("text")).alias("n")).first()["n"]
    bpe = docs.select(bpe_ish_token_count(F.col("text")).alias("n")).first()["n"]
    assert ws == 4          # whitespace sees 4 blobs
    assert bpe == 7         # punctuation boundaries add splits


def test_udtf_chunk_tokens_windows(spark):
    from easy_etl_spark.functions.udtfs import register_udtfs

    register_udtfs(spark)
    spark.createDataFrame(
        [(1, "a b c d e f g h i j")], "doc_id long, text string"
    ).createOrReplaceTempView("__t")
    rows = spark.sql(
        "SELECT c.* FROM __t, LATERAL chunk_tokens(doc_id, text) c ORDER BY chunk_idx"
    ).collect()
    assert [(r["chunk_idx"], r["chunk_text"], r["n_tokens"]) for r in rows] == [
        (0, "a b c d e f g h", 8),
        (1, "i j", 2),
    ]


def test_resize_template_shrinks_blobs(spark):
    docs = spark.createDataFrame([(1, "abcdefgh" * 8)], "doc_id long, text string")
    media = multimodal.with_binary_payload(docs)
    out = multimodal.resize(media, factor=4).first()
    assert out["n_bytes"] == 16 and bytes(out["media"]) == b"aeaeaeaeaeaeaeae"
    with pytest.raises(NotImplementedError):
        multimodal.resize_image(b"\x89PNG", 32, 32)


def test_unigram_logprob_orders_rarity(spark):
    docs = spark.createDataFrame(
        [(1, "a a a a"), (2, "a a a rare")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in textops.unigram_logprob_scores(docs).collect()}
    assert out[1]["n_tokens"] == 4 and out[2]["n_tokens"] == 4
    # doc 2 contains the rare token → strictly lower mean log-prob
    assert out[2]["avg_logprob"] < out[1]["avg_logprob"] < 0.0


def test_quality_rules_flags(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over a lazy dog"),  # passes
            (2, "a b"),                                        # too short + short tokens
            (3, "@@@@ #### $$$$ %%%% ^^^^ &&&& !!!!"),          # symbol budget blown
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["passes_quality"] for r in textops.quality_rules(docs).collect()}
    assert out == {1: True, 2: False, 3: False}


def test_winnow_fingerprints_coverage(spark):
    # winnowing guarantee: docs sharing a run of >= w + k - 1 tokens
    # (here 4 + 3 - 1 = 6) share at least one fingerprint
    shared = "alpha beta gamma delta epsilon zeta"
    docs = spark.createDataFrame(
        [
            (1, f"one two {shared} three"),
            (2, f"{shared} nine ten eleven twelve"),
            (3, "totally different words with no overlap at all here"),
        ],
        "doc_id long, text string",
    )
    from easy_etl_spark.operators.textops import tokens, array_ngrams
    from pyspark.sql import Window as W

    fps = (
        docs.withColumn("__t", tokens(F.col("text")))
        .withColumn("__n", F.size("__t"))
        .select("doc_id", "__n", F.posexplode(array_ngrams(F.col("__t"), 3)).alias("pos0", "s"))
        .withColumn("__h", F.md5("s"))
        .withColumn("__fp", F.min("__h").over(W.partitionBy("doc_id").orderBy("pos0").rowsBetween(0, 3)))
        .filter(F.col("pos0") <= F.greatest(F.col("__n") - 2 - 4, F.lit(0)))
        .select("doc_id", "__fp")
        .distinct()
        .collect()
    )
    sets = {}
    for r in fps:
        sets.setdefault(r["doc_id"], set()).add(r["__fp"])
    assert sets[1] & sets[2], "shared 6-token run must share a fingerprint"
    assert not (sets[1] & sets[3])
    # per-doc stats operator agrees with the set sizes
    out = {r["doc_id"]: r["n_fingerprints"] for r in textops.winnow_fingerprints(docs).collect()}
    assert out == {d: len(s) for d, s in sets.items()}


# -- real codecs -------------------------------------------------------

def test_ppm_roundtrip_with_comments_and_whitespace():
    import numpy as np

    from easy_etl_spark.operators import multimodal as M

    rng = np.arange(5 * 4 * 3, dtype="uint8").reshape(4, 5, 3)
    assert (M.decode_ppm(M.encode_ppm(rng)) == rng).all()
    # real PPM headers allow comments and arbitrary whitespace
    hdr = b"P6 # comment\n# another\n 5\t4 # trailing\n255\n" + rng.tobytes()
    assert (M.decode_ppm(hdr) == rng).all()


def test_bmp_roundtrip_padding_and_bottom_up():
    import numpy as np

    from easy_etl_spark.operators import multimodal as M

    # width 3 → stride 12 (padding exercised); values per channel distinct
    a = (np.arange(3 * 7 * 3, dtype="uint8") * 5 % 251).reshape(7, 3, 3)
    assert (M.decode_bmp(M.encode_bmp(a)) == a).all()


def test_decode_image_dispatch_and_contract():
    import numpy as np
    import pytest

    from easy_etl_spark.operators import multimodal as M

    from easy_etl_spark.operators.jpegcodec import encode_jpeg

    a = np.full((2, 2, 3), 9, dtype="uint8")
    assert (M.decode_image(M.encode_ppm(a)) == a).all()
    assert (M.decode_image(M.encode_bmp(a)) == a).all()
    assert (M.decode_image(M.encode_png(a)) == a).all()
    # JPEG routes through the baseline codec (even constant -> exact)
    j = np.full((8, 8), 42, dtype="uint8")
    assert (M.decode_image(encode_jpeg(j))[:, :, 0] == j).all()
    with pytest.raises(NotImplementedError):
        M.decode_image(b"GIF89a......")  # no codec for this format
    with pytest.raises(ValueError):
        M.decode_ppm(b"P6\n2 2\n255\n\x00")  # truncated payload


def test_png_roundtrip_every_filter_and_color_type():
    """The stdlib-zlib PNG codec must reconstruct pixels exactly under
    EVERY scanline filter (None/Sub/Up/Average/Paeth) for RGB, RGBA and
    greyscale — including 1-pixel-wide images where the left neighbor
    is always zero."""
    import numpy as np

    from easy_etl_spark.operators import multimodal as M

    rng = np.random.RandomState(42)
    for shape in [(6, 5, 3), (4, 9, 4), (5, 3, 1), (1, 1, 3), (7, 1, 4)]:
        a = rng.randint(0, 256, size=shape).astype("uint8")
        for f in [None, [0] * shape[0], [1] * shape[0], [2] * shape[0],
                  [3] * shape[0], [4] * shape[0]]:
            got = M.decode_png(M.encode_png(a, f))
            assert got.shape == shape and np.array_equal(got, a), (shape, f)
    # 2-d greyscale input encodes as color type 0 and round-trips
    g = rng.randint(0, 256, size=(4, 7)).astype("uint8")
    assert np.array_equal(M.decode_png(M.encode_png(g)), g[:, :, None])


def test_png_rejects_corruption_and_unsupported_variants():
    import struct
    import zlib

    import numpy as np
    import pytest

    from easy_etl_spark.operators import multimodal as M

    a = np.arange(4 * 3 * 3, dtype="uint8").reshape(4, 3, 3)
    good = bytearray(M.encode_png(a))
    good[40] ^= 0xFF  # flip a byte inside IDAT -> CRC must catch it
    with pytest.raises(ValueError, match="CRC"):
        M.decode_png(bytes(good))

    def png_with_ihdr(depth, color, interlace):
        ihdr = struct.pack(">IIBBBBB", 3, 4, depth, color, 0, 0, interlace)
        chunk = (
            struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr
            + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF)
        )
        body = zlib.compress(b"\x00" * 100)
        idat = (
            struct.pack(">I", len(body)) + b"IDAT" + body
            + struct.pack(">I", zlib.crc32(b"IDAT" + body) & 0xFFFFFFFF)
        )
        return b"\x89PNG\r\n\x1a\n" + chunk + idat

    with pytest.raises(NotImplementedError, match="16-bit"):
        M.decode_png(png_with_ihdr(16, 2, 0))
    with pytest.raises(NotImplementedError, match="Adam7"):
        M.decode_png(png_with_ihdr(8, 2, 1))
    with pytest.raises(NotImplementedError, match="color type"):
        M.decode_png(png_with_ihdr(8, 3, 0))  # palette


def test_image_stats_handles_png_rgba_and_grey(spark):
    """image_stats must decode PNG blobs and normalize channels: RGBA
    drops alpha, greyscale replicates into R=G=B."""
    import numpy as np

    from easy_etl_spark.operators import multimodal as M

    rgba = np.zeros((2, 2, 4), dtype="uint8")
    rgba[..., 0], rgba[..., 1], rgba[..., 2], rgba[..., 3] = 10, 20, 30, 255
    grey = np.full((3, 3), 7, dtype="uint8")
    df = spark.createDataFrame(
        [(1, bytearray(M.encode_png(rgba))), (2, bytearray(M.encode_png(grey)))],
        "doc_id long, media binary",
    )
    got = {r["doc_id"]: r for r in M.image_stats(df).collect()}
    assert (got[1]["r_sum"], got[1]["g_sum"], got[1]["b_sum"]) == (40, 80, 120)
    assert (got[1]["width"], got[1]["height"]) == (2, 2)
    assert (got[2]["r_sum"], got[2]["g_sum"], got[2]["b_sum"]) == (63, 63, 63)


def test_resize_image_nearest_neighbor():
    import numpy as np

    from easy_etl_spark.operators import multimodal as M

    a = np.arange(8 * 8 * 3, dtype="uint8").reshape(8, 8, 3)
    out = M.decode_ppm(M.resize_image(M.encode_ppm(a), 4, 2))
    assert out.shape == (2, 4, 3)
    # nearest-neighbor: output pixel (y, x) = input (y*8//2, x*8//4)
    ys, xs = (np.arange(2) * 8) // 2, (np.arange(4) * 8) // 4
    assert (out == a[ys][:, xs]).all()


def test_jpeg_constant_even_blocks_roundtrip_exactly():
    """Constant 8x8 blocks of EVEN value survive the lossy JPEG
    pipeline bit-exactly (DC-only spectrum, boundary-safe floor
    rounding at q_dc=16) — the property the SQL oracle replays."""
    import numpy as np

    from easy_etl_spark.operators.jpegcodec import decode_jpeg, encode_jpeg

    img = np.zeros((16, 24), dtype="uint8")
    for by in range(2):
        for bx in range(3):
            img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = 2 * ((by * 7 + bx * 29) % 128)
    got = decode_jpeg(encode_jpeg(img))
    assert got.shape == (16, 24, 1)
    assert np.array_equal(got[:, :, 0], img)


def test_jpeg_lossy_roundtrip_within_tolerance():
    """Arbitrary (smooth) images survive encode->decode within a small
    error band — the real AC/Huffman/color path, greyscale and RGB,
    including non-multiple-of-8 dims (pad + crop)."""
    import numpy as np

    from easy_etl_spark.operators.jpegcodec import decode_jpeg, encode_jpeg

    y, x = np.arange(16), np.arange(24)
    grey = ((np.add.outer(y * 3, x * 2)) % 200 + 20).astype("uint8")
    dg = decode_jpeg(encode_jpeg(grey))[:, :, 0].astype(int)
    assert np.abs(dg - grey.astype(int)).max() <= 8

    rgb = np.zeros((16, 16, 3), dtype="uint8")
    rgb[:, :, 0] = np.add.outer(y * 5, np.arange(16) * 3) % 256
    rgb[:, :, 1] = 100
    rgb[:, :, 2] = np.add.outer(y * 2, np.arange(16) * 7) % 256
    dc = decode_jpeg(encode_jpeg(rgb)).astype(int)
    assert dc.shape == (16, 16, 3)
    assert np.abs(dc - rgb.astype(int)).max() <= 12

    odd = ((np.add.outer(np.arange(13) * 5, np.arange(19) * 3)) % 200).astype("uint8")
    do = decode_jpeg(encode_jpeg(odd))
    assert do.shape == (13, 19, 1)
    assert np.abs(do[:, :, 0].astype(int) - odd.astype(int)).max() <= 10


def test_jpeg_refuses_progressive_and_12bit():
    import struct

    import numpy as np
    import pytest

    from easy_etl_spark.operators.jpegcodec import decode_jpeg, encode_jpeg

    base = bytearray(encode_jpeg(np.full((8, 8), 100, dtype="uint8")))
    sof_at = bytes(base).find(b"\xff\xc0")
    assert sof_at > 0
    prog = bytearray(base)
    prog[sof_at + 1] = 0xC2  # SOF2: progressive
    with pytest.raises(NotImplementedError, match="baseline"):
        decode_jpeg(bytes(prog))
    deep = bytearray(base)
    deep[sof_at + 4] = 12  # precision byte inside SOF payload
    with pytest.raises(NotImplementedError, match="12-bit"):
        decode_jpeg(bytes(deep))
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"not a jpeg")


def test_jpeg_image_stats_dispatch(spark):
    """image_stats must route JPEG blobs through the real decoder:
    greyscale constant image -> exact replicated channel sums."""
    import numpy as np

    from easy_etl_spark.operators import multimodal as M
    from easy_etl_spark.operators.jpegcodec import encode_jpeg

    img = np.full((8, 16), 50, dtype="uint8")  # even value -> exact
    df = spark.createDataFrame(
        [(1, bytearray(encode_jpeg(img)))], "doc_id long, media binary"
    )
    r = M.image_stats(df).collect()[0]
    assert (r["width"], r["height"]) == (16, 8)
    assert r["r_sum"] == r["g_sum"] == r["b_sum"] == 50 * 8 * 16


# -- BPE merge training ------------------------------------------------

def test_bpe_merges_handcomputed(spark):
    from easy_etl_spark.operators.bpe import train_merges

    docs = spark.createDataFrame([(1, "aaab aaab ab ab ab")], "doc_id bigint, text string")
    got = [tuple(r) for r in train_merges(docs, k=2).collect()]
    # vocab: aaab×2 ("a a a b": pairs aa,aa,ab), ab×3 ("a b": pair ab)
    # pair counts: (a,a)=4, (a,b)=2+3=5 → merge 1 = "a b"→ab support 5
    # then aaab=" a a ab ", ab=" ab ": (a,a)=2, (a,ab)=2 → tie, "a a" < "a ab"
    assert got == [(1, "a b", "ab", 5), (2, "a a", "aa", 2)]


def test_bpe_fixpoint_equals_greedy_on_odd_runs(spark):
    from easy_etl_spark.operators.bpe import train_merges

    docs = spark.createDataFrame([(1, "aaa")], "doc_id bigint, text string")
    got = [tuple(r) for r in train_merges(docs, k=2).collect()]
    # "a a a": greedy merges the FIRST (a,a) only → " aa a ", so merge 2
    # must see (aa, a), not (a, aa) — the left-to-right fixpoint property
    assert got == [(1, "a a", "aa", 2), (2, "aa a", "aaa", 1)]


def test_wav_roundtrip_formats_and_alignment():
    """RIFF/WAVE codec: 16-bit mono and 8-bit stereo round-trips
    (8-bit recentred to signed), unknown chunks skipped with word
    alignment, and loud refusals for non-PCM/truncated input."""
    import struct

    import numpy as np
    import pytest

    from easy_etl_spark.operators import multimodal as M

    s = (np.arange(300) * 17 % 65536 - 32768).astype(np.int64)
    a, rate = M.decode_wav(M.encode_wav(s, 22050, 16))
    assert rate == 22050 and a.shape == (300, 1) and np.array_equal(a[:, 0], s)

    st = np.stack([np.arange(100) % 256, (np.arange(100) * 3) % 256], axis=1)
    b, _ = M.decode_wav(M.encode_wav(st, 8000, 8))
    assert b.shape == (100, 2) and np.array_equal(b, st - 128)

    # odd-length JUNK chunk before data: parser must word-align past it
    raw = M.encode_wav(s[:10], 8000, 16)
    junk = b"JUNK" + struct.pack("<I", 3) + b"abc" + b"\x00"
    patched = raw[:12] + junk + raw[12:]
    patched = patched[:4] + struct.pack("<I", len(patched) - 8) + patched[8:]
    c, _ = M.decode_wav(patched)
    assert np.array_equal(c[:, 0], s[:10])

    with pytest.raises(ValueError, match="RIFF"):
        M.decode_wav(b"not audio at all")
    # IEEE-float WAV (format 3): real format, unsupported codec path
    fmt = struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt + b"data" + struct.pack("<I", 0)
    with pytest.raises(NotImplementedError, match="integer PCM"):
        M.decode_wav(b"RIFF" + struct.pack("<I", len(body)) + body)


def test_wav_window_energy_spark_path(spark):
    """wav_window_energy must decode through the real WAV parser: a
    known constant signal gives exact integer energies."""
    import numpy as np

    from easy_etl_spark.operators import multimodal as M

    s = np.full(128, 100, dtype=np.int64)  # two windows of 64, s^2=10000
    df = spark.createDataFrame(
        [(1, bytearray(M.encode_wav(s, 16000, 16)))], "doc_id long, media binary"
    )
    rows = sorted(map(tuple, M.wav_window_energy(df, window=64).collect()))
    assert rows == [(1, 0, 64, 640000, 10000), (1, 1, 64, 640000, 10000)]


def test_dhash_matches_naive_replay_rgb_and_odd_sizes():
    """_dhash_of_pixels vs an independent per-pixel replay: RGB luma,
    floor block boundaries on non-divisible sizes, MSB-first bits."""
    import numpy as np

    from easy_etl_spark.operators.multimodal import _dhash_of_pixels

    rng = np.random.RandomState(5)
    for (H, W, C) in [(24, 24, 1), (17, 23, 3), (8, 8, 3), (31, 9, 1)]:
        px = rng.randint(0, 256, (H, W, C)).astype("uint8")
        rows, cols = 8, 7
        a = px.astype(np.int64)
        gray = (
            (299 * a[:, :, 0] + 587 * a[:, :, 1] + 114 * a[:, :, 2]) // 1000
            if C >= 3
            else a[:, :, 0]
        )
        want = 0
        for i in range(rows):
            r0, r1 = i * H // rows, (i + 1) * H // rows
            means = []
            for j in range(cols + 1):
                c0, c1 = j * W // (cols + 1), (j + 1) * W // (cols + 1)
                blk = gray[r0:r1, c0:c1]
                means.append(int(blk.sum()) // blk.size)
            for j in range(cols):
                if means[j + 1] > means[j]:
                    want |= 1 << (56 - 1 - (i * cols + j))
        assert _dhash_of_pixels(px, rows, cols) == want


def test_dhash_refuses_too_small_images():
    import numpy as np
    import pytest

    from easy_etl_spark.operators.multimodal import _dhash_of_pixels

    with pytest.raises(ValueError, match="too small"):
        _dhash_of_pixels(np.zeros((4, 4, 1), dtype="uint8"), 8, 7)


def test_dhash_banded_pairs_equal_brute_force(spark):
    """The banded candidate join must find EXACTLY the brute-force
    Hamming pairs for every distance under the pigeonhole bound."""
    import random

    import pytest
    from pyspark.sql import Row

    from easy_etl_spark.operators.multimodal import dhash_near_dup_pairs

    rng = random.Random(31)
    base = rng.getrandbits(56)
    hashes = [base]
    for _ in range(40):
        h = hashes[rng.randrange(len(hashes))]
        for _ in range(rng.randrange(0, 7)):
            h ^= 1 << rng.randrange(56)
        hashes.append(h)
    df = spark.createDataFrame([Row(doc_id=i, dhash=h) for i, h in enumerate(hashes)])
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in dhash_near_dup_pairs(df, max_hamming=4).collect()
    }
    want = {
        (i, j, bin(hashes[i] ^ hashes[j]).count("1"))
        for i in range(len(hashes))
        for j in range(i + 1, len(hashes))
        if bin(hashes[i] ^ hashes[j]).count("1") <= 4
    }
    assert got == want and want
    with pytest.raises(ValueError, match="pigeonhole|banding"):
        dhash_near_dup_pairs(df, max_hamming=7, n_bands=7)


def test_dhash_spark_path_decodes_real_pngs(spark, sf_dir):
    """End-to-end: synth near-dup PNGs, decode + hash in executors;
    same-group unperturbed-identical docs must collide exactly and the
    planted intra-group near-dups must appear within distance 4."""
    from easy_etl_spark.operators.multimodal import (
        dhash_images,
        dhash_near_dup_pairs,
        synth_neardup_png_images,
    )
    from easy_etl_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents")
    media = synth_neardup_png_images(docs, max_docs=40)
    hashes = dhash_images(media)
    pairs = dhash_near_dup_pairs(hashes, max_hamming=4).collect()
    assert pairs
    for r in pairs:
        assert r.id_a % 4 == r.id_b % 4, "cross-group false positive"
