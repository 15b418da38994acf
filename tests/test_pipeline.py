"""Unit tests for the LLM-pipeline operators on tiny in-memory frames.

The cross-engine correctness (vs DuckDB) is pinned by the contract harness
(scripts/verify_local.py); these pin semantics and edge cases.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sydradb_spark.pipeline import dedup, multimodal, similarity, text


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),  # near-dup of 1
        (3, "completely different content about spark engines"),
        (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (5, "xy"),  # shorter than one shingle
        (6, ""),  # empty
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_exact_dedup(docs):
    groups = dedup.exact_dedup_groups(docs).collect()
    by_keep = {r["keep_id"]: r["n_copies"] for r in groups}
    assert by_keep[1] == 2  # docs 1 and 4 collapse, min doc_id kept
    assert by_keep[2] == 1
    kept = sorted(r["doc_id"] for r in dedup.exact_dedup(docs).collect())
    assert kept == [1, 2, 3, 5, 6]


def test_word_shingles_short_docs(docs):
    out = {
        r["doc_id"]: r["n"]
        for r in docs.select(
            "doc_id", F.size(dedup.word_shingles(F.col("text"))).alias("n")
        ).collect()
    }
    assert out[5] == 0 and out[6] == 0
    assert out[1] == 7  # 9 tokens → 7 trigrams


def test_kgram_strings_exact_values(spark):
    """Pin the slice/zip_with k-gram fold (round-8 replacement for the
    element_at-in-lambda shape) against hand-computed grams: ordering,
    duplicates kept, n == k edge, whitespace runs collapsed by the split,
    and the word_shingles guard for n < k."""
    rows = [
        (1, "a b c d"),          # 4 tokens
        (2, "x  y\tz"),          # whitespace runs / tabs → 3 tokens
        (3, "p q r"),            # n == k exactly
        (4, "one two"),          # n < k → empty under word_shingles
        (5, "a b a b a"),        # duplicate grams preserved pre-distinct
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["g"]
        for r in df.select(
            "doc_id",
            F.when(
                F.size(F.split(F.trim("text"), r"\s+")) >= 3,
                dedup.kgram_strings(F.col("text"), 3),
            )
            .otherwise(F.array().cast("array<string>"))
            .alias("g"),
        ).collect()
    }
    assert got[1] == ["a b c", "b c d"]
    assert got[2] == ["x y z"]
    assert got[3] == ["p q r"]
    assert got[4] == []
    assert got[5] == ["a b a", "b a b", "a b a"]  # duplicates, in order
    # and the distinct'd public wrapper agrees with a python reference
    for doc_id, text in rows:
        toks = text.split()
        want = sorted({" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)})
        shingles = (
            df.where(F.col("doc_id") == doc_id)
            .select(dedup.word_shingles(F.col("text")).alias("s"))
            .collect()[0]["s"]
        )
        assert sorted(shingles) == want, doc_id


def test_kgram_strings_total_without_guard(spark):
    """kgram_strings is total (r9): docs shorter than k yield an empty
    array with NO caller-side when(n >= k) guard — the slice length is
    clamped internally, so the former guard requirement cannot be tripped
    by a future caller."""
    rows = [(1, "one two"), (2, ""), (3, "solo"), (4, "a b c d")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["g"]
        for r in df.select(
            "doc_id", dedup.kgram_strings(F.col("text"), 3).alias("g")
        ).collect()
    }
    assert got[1] == [] and got[3] == []
    assert got[4] == ["a b c", "b c d"]
    # empty string: split(trim("")) yields [""], still < k → empty
    assert got[2] == []


def test_minhash_finds_near_dup(docs):
    pairs = {(r["a"], r["b"]): r["jaccard"] for r in dedup.minhash_near_dups(docs, 0.5).collect()}
    assert (1, 4) in pairs and pairs[(1, 4)] == 1.0  # exact dup always survives LSH
    assert (1, 2) in pairs and 0.5 <= pairs[(1, 2)] < 1.0
    assert all(a != 3 and b != 3 for a, b in pairs)


def test_simhash_identical_and_near(docs):
    pairs = {
        (r["a"], r["b"]): r["hamming"]
        for r in dedup.simhash_near_pairs(docs, max_hamming=3).collect()
    }
    assert pairs[(1, 4)] == 0  # identical text → identical simhash


def test_simhash_kernel_exact_vs_hof_and_duckdb(spark):
    """The r16 Arrow fold kernel must equal the r15 per-bit HOF aggregate
    AND the DuckDB oracle twin exactly — integer arithmetic, so equality
    is total, including the edges: NULL text → 0, empty/whitespace text
    → simhash of the [''] token, single token, and real-shaped docs."""
    import operator
    from functools import reduce

    from sydradb_spark.pipeline.hashing import hash64

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, None),
        (4, ""),
        (5, "   "),
        (6, "one"),
        (7, " ".join(f"tok{i % 97}" for i in range(500))),
    ]
    frame = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["simhash"] for r in dedup.simhash(frame).collect()}

    # HOF twin (the pre-r16 in-JVM shape, reconstructed)
    th = frame.select(
        "doc_id",
        F.transform(
            F.array_distinct(F.split(F.trim(F.col("text")), r"\s+")),
            lambda t: hash64(t),
        ).alias("__th"),
    )
    bit_cols = []
    for i in range(dedup.SIMHASH_BITS):
        s = F.aggregate(
            F.col("__th"),
            F.lit(0).cast("long"),
            lambda acc, x: acc
            + F.when(
                F.shiftright(x, i).bitwiseAND(F.lit(1)) == 1, F.lit(1)
            ).otherwise(F.lit(-1)),
        )
        bit_cols.append(
            F.when(s > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
        )
    hof = {
        r["doc_id"]: r["s"]
        for r in th.select(
            "doc_id", reduce(operator.add, bit_cols).alias("s")
        ).collect()
    }
    assert got == hof

    # DuckDB twin (the oracle's CTE chain over the same rows)
    import duckdb

    from sydradb_spark.contract.pipeline import _SIMHASH_SQL

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, {'NULL' if t is None else repr(t)})" for i, t in rows
        )
        + ") AS t(doc_id, text)"
    )
    duck = dict(
        con.sql(f"WITH {_SIMHASH_SQL} SELECT doc_id, simhash FROM sim").fetchall()
    )
    # PRE-EXISTING oracle-side edge (r15 and earlier, NOT changed by the
    # kernel — the HOF assertion above already pins kernel == old engine):
    # the dtok CTE emits NO rows for NULL text and for empty/whitespace
    # text (its length(trim)=0 guard yields []), so those docs are absent
    # from the oracle's sim, while the engine keeps NULL text at 0 and
    # hashes the [''] token Spark's split(trim('')) produces. Unreachable
    # with the corpus generators (no NULL/empty documents). Compare the
    # engines where the oracle emits rows:
    assert set(duck) == {1, 2, 6, 7}
    assert {k: got[k] for k in duck} == duck
    assert got[3] == 0  # NULL text: every when() falls to 0


def test_ngram_jaccard(docs):
    out = {
        (r["a"], r["b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs.where("doc_id <= 4")).collect()
    }
    assert out[(1, 4)] == 1.0
    assert 0.5 < out[(1, 2)] < 1.0
    assert out[(1, 3)] == 0.0


@pytest.fixture(scope="module")
def emb(spark):
    rows = [
        (0, [1.0, 0.2, 0.0]),  # sign bucket 0b11 = 3
        (1, [0.0, 1.0, 0.0]),  # bucket 0b10 = 2
        (10, [0.9, 0.1, 0.0]),  # closest to 0, same bucket 3
        (11, [0.1, 0.9, 0.0]),  # closest to 1, bucket 3
        (12, [-1.0, 0.0, 0.0]),  # opposite of 0, bucket 0
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()


def test_knn_brute(emb):
    out = similarity.knn_brute(
        emb.where("vec_id < 10"), emb.where("vec_id >= 10"), k=1
    ).collect()
    top = {r["query_id"]: r["vec_id"] for r in out}
    assert top == {0: 10, 1: 11}


def test_knn_rank_order(emb):
    out = similarity.knn_brute(
        emb.where("vec_id = 0"), emb.where("vec_id >= 10"), k=3
    ).collect()
    ranked = [r["vec_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert ranked == [10, 11, 12]  # cosine 0.994, 0.110, -1.0


def test_ann_sign_lsh_prunes(emb):
    # two explicit hyperplanes for the 3-dim fixture: the opposite vector 12
    # flips BOTH sign bits (Hamming 2), so even multi-probe (Hamming <= 1)
    # must exclude it while near-neighbour 10 shares the exact bucket
    planes = [[1, 1, 1], [1, -1, 1]]
    out = similarity.ann_sign_lsh(
        emb.where("vec_id = 0"), emb.where("vec_id >= 10"), k=3, planes=planes
    ).collect()
    got = {r["vec_id"] for r in out}
    assert 10 in got and 12 not in got


def test_text_stats_and_lang(spark):
    rows = [
        (1, "the cat and the dog run to the house"),
        (2, "der Hund und die Katze sind auf der Straße"),
        (3, "zzz qqq www"),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in text.with_text_stats(df).collect()}
    assert out[1]["lang_guess"] == "en"
    assert out[2]["lang_guess"] == "de"
    assert out[3]["lang_guess"] == "und"
    assert out[4]["n_tokens"] == 0 and out[4]["quality"] == pytest.approx(0.5 / 3)
    assert len(out[1]["fp"]) == 16
    assert out[3]["distinct_ratio"] == 1.0


def test_multimodal_features(spark):
    docs = spark.createDataFrame(
        [(1, "hello world"), (2, "x")], "doc_id long, text string"
    )
    media = multimodal.docs_as_media(docs)
    meta = {r["media_id"]: r for r in multimodal.media_metadata(media).collect()}
    assert meta[1]["n_bytes"] == 11
    assert len(meta[1]["sha256"]) == 64
    feats = {r["media_id"]: r for r in multimodal.extract_image_features(media).collect()}
    # deterministic fake: width = 64 + len%64, height = 64 + first_byte%64
    assert feats[1]["width"] == 64 + 11 % 64
    assert feats[1]["height"] == 64 + (ord("h") % 64)
    assert feats[2]["mean_luma"] == pytest.approx(ord("x") / 255.0)


def test_audio_features(spark):
    docs = spark.createDataFrame(
        [(1, "hello world"), (2, "x")], "doc_id long, text string"
    )
    media = multimodal.docs_as_media(docs, kind="audio")
    feats = {r["media_id"]: r for r in multimodal.extract_audio_features(media).collect()}
    # deterministic fake: rate from first byte, duration = n/(2*rate)
    rate1 = 8000 + (ord("h") % 4) * 8000
    assert feats[1]["sample_rate"] == rate1
    assert feats[1]["duration_s"] == pytest.approx(11 / (2.0 * rate1))
    assert feats[2]["rms"] == pytest.approx(ord("x") / 255.0)
    # image rows are excluded from the audio path
    assert multimodal.extract_audio_features(
        multimodal.docs_as_media(docs)
    ).count() == 0


def test_video_sampling_stub_raises(spark):
    docs = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
    media = multimodal.docs_as_media(docs)  # kind=image, not video
    with pytest.raises(Exception, match="NotImplementedError|demuxer"):
        multimodal.sample_video_frames(media).collect()


def test_bpe_ish_token_count(spark):
    df = spark.createDataFrame(
        [(1, "abc123 def"), (2, "hello world"), (3, "x1y2")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["n"]
        for r in df.select(
            "doc_id", text.bpe_ish_token_count(F.col("text")).alias("n")
        ).collect()
    }
    assert out[1] == 3  # abc | 123 | def
    assert out[2] == 2
    assert out[3] == 4  # x | 1 | y | 2


def test_ann_ivf_recall(spark):
    """IVF with clustered synthetic vectors: full-probe == brute force;
    1-probe recall stays high because queries sit inside clean clusters."""
    import random

    rng = random.Random(5)
    centers = [[10.0, 0.0, 0.0, 0.0], [0.0, 10.0, 0.0, 0.0], [0.0, 0.0, 10.0, 0.0]]
    rows = []
    for i in range(120):
        c = centers[i % 3]
        rows.append((i, [v + rng.uniform(-0.5, 0.5) for v in c]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()
    queries = emb.where("vec_id < 3")
    corpus = emb.where("vec_id >= 3")

    assigned, cents = similarity.ivf_index(corpus, k=3, seed=1)
    brute = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in similarity.knn_brute(queries, corpus, k=5).collect()
    }
    full_probe = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in similarity.ann_ivf(queries, assigned, cents, k=5, n_probe=3).collect()
    }
    assert full_probe == brute  # probing every list == exact

    one_probe = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in similarity.ann_ivf(queries, assigned, cents, k=5, n_probe=1).collect()
    }
    overlap = len(set(one_probe.values()) & set(brute.values()))
    assert overlap >= 12  # >=80% recall@5 across the 3 queries


def test_embedding_near_dups(spark):
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.5, 0.1]),
            (2, [0.99, 0.51, 0.1]),   # near-dup of 1, same sign bucket
            (3, [-1.0, -0.5, 0.2]),   # different bucket
            (4, [1.0, 0.5, -0.9]),    # same bucket as 1 (dims 1-2 +, dim3 sign differs but bucket uses 8 dims → dim3 - means bit2 unset... )
        ],
        "vec_id long, embedding array<float>",
    )
    pairs = {(r["a"], r["b"]): r["cosine"] for r in dedup.embedding_near_dups(emb, 0.95).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.999
    assert all(3 not in p for p in pairs)


def test_winnow_containment_property(spark):
    """Winnowing guarantee: a substring of length >= k+w-1 shares at least
    one fingerprint with any superstring; identical text → identical set."""
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the dog"),
            (2, "PREFIX the quick brown fox jumps over the dog SUFFIX"),
            (3, "the quick brown fox jumps over the dog"),
            (4, "short"),
        ],
        "doc_id long, text string",
    )
    fps = {
        r["doc_id"]: set(r["fp"])
        for r in df.select(
            "doc_id", text.winnow_fingerprints(F.col("text")).alias("fp")
        ).collect()
    }
    assert fps[1] == fps[3] and fps[1]
    assert fps[1] <= fps[2]  # superstring keeps every fingerprint of the core
    assert fps[4] == set()


def test_resize_images_plumbing(spark):
    docs = spark.createDataFrame([(1, "x" * 10), (2, "")], "doc_id long, text string")
    out = {
        r["media_id"]: r
        for r in multimodal.resize_images(
            multimodal.docs_as_media(docs), width=4, height=2
        ).collect()
    }
    assert out[1]["width"] == 4 and out[1]["height"] == 2
    assert len(out[1]["payload"]) == 8 == len(out[2]["payload"])
    assert out[1]["payload"] == b"xxxxxxxx" and out[2]["payload"] == b"\0" * 8


def test_resize_images_real_png(spark):
    """REAL resize on a real PNG payload: decode → nearest-neighbor → PNG
    re-encode. The output payload decodes back through our own decoder to
    exactly (height, width) with the pixel values the index map predicts."""
    import numpy as np

    rng = np.random.RandomState(23)
    px = rng.randint(0, 256, size=(12, 16, 3), dtype=np.uint8)
    png = multimodal._encode_png(px, 3)
    # encoder/decoder round-trip is lossless
    w0, h0, c0, back = multimodal._decode_png_pixels(png)
    assert (w0, h0, c0) == (16, 12, 3) and np.array_equal(back, px)

    media = spark.createDataFrame(
        [(1, "image", bytearray(png), "image/png", len(png))],
        multimodal.MEDIA_SCHEMA,
    )
    out = multimodal.resize_images(media, width=8, height=6).collect()[0]
    assert out["width"] == 8 and out["height"] == 6
    w, h, c, got = multimodal._decode_png_pixels(bytes(out["payload"]))
    assert (w, h, c) == (8, 6, 3)
    ys = np.minimum((np.arange(6) * (12 / 6)).astype(int), 11)
    xs = np.minimum((np.arange(8) * (16 / 8)).astype(int), 15)
    assert np.array_equal(got, px[ys][:, xs])
    # upscale works too (index map repeats source pixels)
    up = multimodal.resize_images(media, width=32, height=24).collect()[0]
    w, h, c, gotu = multimodal._decode_png_pixels(bytes(up["payload"]))
    assert (w, h) == (32, 24) and np.array_equal(gotu[0, 0], px[0, 0])


def test_video_frame_sampling_real_streams(spark):
    """REAL frame extraction from MJPEG-style concatenated streams: every
    sampled frame is a complete, individually decodable image with its
    original stream index; opaque payloads keep the byte-slice fake."""
    import numpy as np

    frames_px = [
        np.full((2, 2, 3), 10 * i, dtype=np.uint8) for i in range(7)
    ]
    pngs = [multimodal._encode_png(p, 3) for p in frames_px]
    concat_png = b"".join(pngs)
    # minimal JPEG-ish frames: SOI + filler + EOI (marker-scan only)
    jpegs = [b"\xff\xd8" + bytes([i]) * 5 + b"\xff\xd9" for i in range(5)]
    concat_jpeg = b"".join(jpegs)
    media = spark.createDataFrame(
        [
            (1, "video", bytearray(concat_png), "video/x-png-stream", len(concat_png)),
            (2, "video", bytearray(concat_jpeg), "video/x-mjpeg", len(concat_jpeg)),
            (3, "video", bytearray(b"opaquebytes" * 3), "application/octet-stream", 33),
        ],
        multimodal.MEDIA_SCHEMA,
    )
    out = multimodal.sample_video_frames(media, every_n=3).collect()
    by_media: dict = {}
    for r in out:
        by_media.setdefault(r["media_id"], {})[r["frame_idx"]] = bytes(
            r["frame_payload"]
        )
    # PNG stream: frames 0, 3, 6 sampled, each decodes to its exact pixels
    assert sorted(by_media[1]) == [0, 3, 6]
    for i in sorted(by_media[1]):
        assert by_media[1][i] == pngs[i]
        w, h, c, px = multimodal._decode_png_pixels(by_media[1][i])
        assert (w, h) == (2, 2) and px[0, 0, 0] == 10 * i
    # MJPEG: frames 0 and 3, complete SOI..EOI units
    assert sorted(by_media[2]) == [0, 3]
    assert by_media[2][0] == jpegs[0] and by_media[2][3] == jpegs[3]
    # opaque payload: deterministic byte-slice fallback
    assert by_media[3][0] == b"opa"


def test_mjpeg_split_exif_thumbnail_eoi():
    """Marker-conformant MJPEG frames whose APP1/EXIF segment embeds a
    complete nested thumbnail JPEG (standard camera output): the nested
    EOI inside the length-delimited segment must NOT end the frame — a
    naive first-FFD9 scan truncates mid-header and desynchronizes every
    later frame boundary."""
    thumb = b"\xff\xd8\x01\x02\x03\xff\xd9"  # nested thumbnail with EOI
    app1_payload = b"Exif\x00\x00" + thumb
    app1 = b"\xff\xe1" + (2 + len(app1_payload)).to_bytes(2, "big") + app1_payload
    # minimal SOS header + entropy data with FF00 stuffing and an RST mark
    sos = b"\xff\xda" + (2 + 3).to_bytes(2, "big") + b"\x01\x00\x00"
    entropy = b"\x12\x34\xff\x00\x56\xff\xd0\x78"
    frames = [
        b"\xff\xd8" + app1 + sos + entropy + b"\xff\xd9",
        b"\xff\xd8" + sos + b"\x01\x01\x01\x01" + b"\xff\xd9",
    ]
    for i in range(2, 5):
        frames.append(b"\xff\xd8" + app1 + sos + bytes([i]) * 4 + b"\xff\xd9")
    got = multimodal._split_frames(b"".join(frames))
    assert got == frames
    # non-conformant filler frames keep the lenient byte-scan behavior
    fillers = [b"\xff\xd8" + bytes([i]) * 5 + b"\xff\xd9" for i in range(3)]
    assert multimodal._split_frames(b"".join(fillers)) == fillers
    # payload starting with FF but carrying a bogus segment length must
    # ALSO fall back per-frame (not merge with the next frame): the
    # walker reads len 0x0099, runs off the end, and the caller's
    # lenient EOI scan recovers this frame's boundary
    bogus = b"\xff\xd8\xff\x41\x00\x99junk\xff\xd9"
    plain = b"\xff\xd8\x01\x02\x03\xff\xd9"
    assert multimodal._split_frames(bogus + plain) == [bogus, plain]


def test_png_split_signature_inside_idat():
    """A PNG whose IDAT zlib stream happens to contain the 8 PNG signature
    bytes (forced here with a deflate STORED block) must split at its IEND
    chunk, not at the embedded signature — the pre-r08 signature scan
    mis-split this frame and desynchronized every later boundary."""
    import struct
    import zlib

    def chunk(typ: bytes, body: bytes) -> bytes:
        return (
            len(body).to_bytes(4, "big")
            + typ
            + body
            + struct.pack(">I", zlib.crc32(typ + body))
        )

    # 16x1 grayscale: one filter byte + 16 pixels, with the signature
    # verbatim inside the pixel bytes; a STORED deflate block keeps the
    # raw bytes (and the embedded signature) verbatim in the IDAT stream
    raw = b"\x00" + bytes(range(4)) + multimodal._PNG_SIG + bytes(4)
    idat = (
        b"\x78\x01\x01"
        + struct.pack("<HH", len(raw), 0xFFFF ^ len(raw))
        + raw
        + struct.pack(">I", zlib.adler32(raw))
    )
    assert zlib.decompress(idat) == raw and multimodal._PNG_SIG in idat
    ihdr = struct.pack(">IIBBBBB", 16, 1, 8, 0, 0, 0, 0)
    tricky = (
        multimodal._PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat) + chunk(b"IEND", b"")
    )
    import numpy as np

    plain = multimodal._encode_png(np.full((2, 2, 3), 7, dtype=np.uint8), 3)
    got = multimodal._split_frames(tricky + plain + tricky)
    assert got == [tricky, plain, tricky]
    # both frame shapes stay individually decodable after the split
    assert multimodal._decode_png_pixels(got[0])[:2] == (16, 1)
    assert multimodal._decode_png_pixels(got[1])[:2] == (2, 2)
    # structurally broken stream (bogus chunk length) falls back to the
    # lenient signature scan per-frame instead of merging frames
    broken = multimodal._PNG_SIG + b"\xff\xff\xff\xffIHDRxxxx"
    assert multimodal._split_frames(broken + plain) == [broken, plain]
    # trailing non-PNG bytes fold into the last frame (pre-walker shape)
    assert multimodal._split_frames(plain + b"tail") == [plain + b"tail"]


def _box(typ: bytes, body: bytes, large: bool = False) -> bytes:
    if large:  # size==1 + 64-bit largesize encoding
        return (1).to_bytes(4, "big") + typ + (16 + len(body)).to_bytes(8, "big") + body
    return (8 + len(body)).to_bytes(4, "big") + typ + body


def _build_mp4(samples, sync_1based, large_mdat=False, co64=False, uniform=None):
    """Minimal ISO-BMFF file: ftyp + mdat(2 chunks of 3 samples, junk gap
    between chunks so offsets are honored, not inferred) + moov with an
    audio trak FIRST (selection must skip it) and the video trak's full
    stbl. Returns (file_bytes, expected_samples)."""
    b4 = lambda v: v.to_bytes(4, "big")  # noqa: E731
    ftyp = _box(b"ftyp", b"isom" + b4(0) + b"isom")
    half = len(samples) // 2
    c1, gap, c2 = b"".join(samples[:half]), b"JUNK", b"".join(samples[half:])
    mdat_hdr = 16 if large_mdat else 8
    off1 = len(ftyp) + mdat_hdr
    off2 = off1 + len(c1) + len(gap)
    mdat = _box(b"mdat", c1 + gap + c2, large=large_mdat)
    full = b4(0)  # version+flags
    hdlr_v = _box(b"hdlr", full + b4(0) + b"vide" + bytes(12) + b"v\x00")
    hdlr_a = _box(b"hdlr", full + b4(0) + b"soun" + bytes(12) + b"s\x00")
    stsd = _box(b"stsd", full + b4(1) + _box(b"mp4v", bytes(16)))
    stts = _box(b"stts", full + b4(1) + b4(len(samples)) + b4(100))
    stsc = _box(b"stsc", full + b4(1) + b4(1) + b4(half) + b4(1))
    if uniform:
        stsz = _box(b"stsz", full + b4(uniform) + b4(len(samples)))
    else:
        stsz = _box(
            b"stsz", full + b4(0) + b4(len(samples)) + b"".join(b4(len(s)) for s in samples)
        )
    if co64:
        stco = _box(b"co64", full + b4(2) + off1.to_bytes(8, "big") + off2.to_bytes(8, "big"))
    else:
        stco = _box(b"stco", full + b4(2) + b4(off1) + b4(off2))
    stss = _box(b"stss", full + b4(len(sync_1based)) + b"".join(b4(s) for s in sync_1based))
    stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco + stss)
    minf = _box(b"minf", stbl)
    trak_v = _box(b"trak", _box(b"tkhd", bytes(84)) + _box(b"mdia", hdlr_v + minf))
    trak_a = _box(b"trak", _box(b"mdia", hdlr_a + _box(b"minf", b"")))
    moov = _box(b"moov", trak_a + trak_v)
    return ftyp + mdat + moov


def test_mp4_demux_sample_tables():
    """Real MP4 demux: the moov sample-table walk (stsz/stsc/stco/stss)
    recovers every stored access unit and its sync flag — chunk offsets
    honored (junk between chunks never leaks into a sample), audio trak
    skipped, co64/largesize/uniform-stsz encodings all parsed."""
    samples = [bytes([i]) * (3 + i) for i in range(6)]
    mp4 = _build_mp4(samples, [1, 4])
    got = multimodal._mp4_video_samples(mp4)
    assert got is not None
    assert got[0] == samples
    assert got[1] == [True, False, False, True, False, False]
    # _split_frames routes ftyp payloads through the demuxer
    assert multimodal._split_frames(mp4) == samples
    # co64 (64-bit chunk offsets) and largesize mdat encodings
    alt = _build_mp4(samples, [2], large_mdat=True, co64=True)
    got = multimodal._mp4_video_samples(alt)
    assert got[0] == samples and got[1][1] and not got[1][0]
    # uniform stsz (sample_size != 0, no per-sample table)
    usamples = [bytes([i]) * 4 for i in range(6)]
    uni = _build_mp4(usamples, [1], uniform=4)
    assert multimodal._mp4_video_samples(uni)[0] == usamples
    # structural anomalies return None, never a partial split: offsets
    # past the payload (truncated mdat) and a missing moov
    trunc = _build_mp4(samples, [1])
    trunc = trunc.replace(samples[5], b"", 1)
    assert multimodal._mp4_video_samples(trunc) is None
    no_moov = mp4[: mp4.rindex(b"moov") - 4]
    assert multimodal._mp4_video_samples(no_moov) is None


def test_mp4_keyframe_extraction(spark):
    """extract_keyframes: MP4 emits ONLY stss-marked sync samples with
    their stream indices; PNG streams emit every frame (all intra);
    opaque payloads emit nothing (no fake keyframes)."""
    import numpy as np

    samples = [bytes([64 + i]) * 5 for i in range(6)]
    mp4 = _build_mp4(samples, [1, 4])
    pngs = [
        multimodal._encode_png(np.full((2, 2, 3), 9 * i, dtype=np.uint8), 3)
        for i in range(3)
    ]
    media = spark.createDataFrame(
        [
            (1, "video", bytearray(mp4), "video/mp4", len(mp4)),
            (2, "video", bytearray(b"".join(pngs)), "video/x-png-stream", 3),
            (3, "video", bytearray(b"opaque" * 5), "application/octet-stream", 30),
        ],
        multimodal.MEDIA_SCHEMA,
    )
    rows = multimodal.extract_keyframes(media).collect()
    by_media: dict = {}
    for r in rows:
        by_media.setdefault(r["media_id"], {})[r["frame_idx"]] = bytes(r["frame_payload"])
    assert by_media[1] == {0: samples[0], 3: samples[3]}
    assert by_media[2] == {i: pngs[i] for i in range(3)}
    assert 3 not in by_media  # opaque: no honest keyframes
    # sample_video_frames also rides the real demux for MP4 payloads
    sampled = multimodal.sample_video_frames(
        media.where("media_id = 1"), every_n=2
    ).collect()
    assert {r["frame_idx"]: bytes(r["frame_payload"]) for r in sampled} == {
        0: samples[0], 2: samples[2], 4: samples[4]
    }
    with pytest.raises(Exception, match="real demuxer"):
        multimodal.extract_keyframes(
            spark.createDataFrame(
                [(9, "image", bytearray(b"x"), "image/png", 1)],
                multimodal.MEDIA_SCHEMA,
            )
        ).collect()


def test_ann_lsh_recall(spark):
    """Sign-LSH with seeded Rademacher hyperplanes + multi-probe: recall@5
    vs brute force pinned on clustered synthetic vectors at a fixed seed."""
    import random

    rng = random.Random(9)
    dim = 16
    centers = []
    for c in range(4):
        centers.append([rng.uniform(-1, 1) * 10 for _ in range(dim)])
    rows = []
    for i in range(160):
        c = centers[i % 4]
        rows.append((i, [v + rng.uniform(-0.5, 0.5) for v in c]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()
    queries = emb.where("vec_id < 4")
    corpus = emb.where("vec_id >= 4")
    planes = similarity.hyperplanes(dim=dim, bits=6, seed=3)

    brute = {}
    for r in similarity.knn_brute(queries, corpus, k=5).collect():
        brute.setdefault(r["query_id"], set()).add(r["vec_id"])
    ann = {}
    for r in similarity.ann_sign_lsh(queries, corpus, k=5, planes=planes).collect():
        ann.setdefault(r["query_id"], set()).add(r["vec_id"])

    recalls = [
        len(brute[q] & ann.get(q, set())) / len(brute[q]) for q in brute
    ]
    recall = sum(recalls) / len(recalls)
    assert recall >= 0.8, f"multi-probe sign-LSH recall@5 = {recall:.2f}"

    # single-probe is strictly weaker — multi-probe must not hurt
    single = {}
    for r in similarity.ann_sign_lsh(
        queries, corpus, k=5, planes=planes, multi_probe=False
    ).collect():
        single.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls_single = [
        len(brute[q] & single.get(q, set())) / len(brute[q]) for q in brute
    ]
    assert recall >= sum(recalls_single) / len(recalls_single)


def test_cluster_pairs_components(spark):
    """min-label CC: chains collapse to the component min; separate
    components stay separate; convergence needs multiple rounds for a
    chain (diameter > 1)."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (7, 8), (9, 9)], "a long, b long"
    )
    out = {r["doc_id"]: r["cluster_id"] for r in dedup.cluster_pairs(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 8: 7, 9: 9}


def test_ann_indexed_equals_inline(spark):
    """ann_sign_lsh_indexed over a prebuilt sign_index returns exactly the
    inline ann_sign_lsh results (the serving shape is a pure refactor)."""
    import random

    rng = random.Random(11)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(80)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()
    queries = emb.where("vec_id < 3")
    corpus = emb.where("vec_id >= 3")
    planes = similarity.hyperplanes(dim=16, bits=6, seed=3)

    inline = similarity.ann_sign_lsh(queries, corpus, k=4, planes=planes)
    idx = similarity.sign_index(corpus, planes=planes).cache()
    indexed = similarity.ann_sign_lsh_indexed(queries, idx, k=4, planes=planes)
    a = sorted(map(tuple, inline.collect()))
    b = sorted(map(tuple, indexed.collect()))
    assert a == b and len(a) > 0


def test_ivf_indexed_equals_inline(spark, tmp_path):
    """ann_ivf_indexed over a materialized write_ivf_index table (parquet
    partitioned by cluster + centroids sidecar) returns exactly the inline
    ann_ivf results — the serving split is a pure refactor, mirroring
    sign_index (VERDICT r05 item 5)."""
    import random

    rng = random.Random(17)
    centers = [[8.0, 0.0, 0.0, 0.0], [0.0, 8.0, 0.0, 0.0], [0.0, 0.0, 8.0, 0.0]]
    rows = [
        (i, [v + rng.uniform(-0.5, 0.5) for v in centers[i % 3]])
        for i in range(150)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()
    queries = emb.where("vec_id < 3")
    corpus = emb.where("vec_id >= 3")

    path = str(tmp_path / "ivf")
    cents = similarity.write_ivf_index(corpus, path, k=3, sample=64)
    idx, cents_loaded = similarity.read_ivf_index(spark, path)
    assert cents_loaded == cents  # JSON round-trip exact (repr floats)
    # the stored table is physically partitioned by cluster
    assert sorted(p.name for p in (tmp_path / "ivf" / "assignments").glob("cluster=*")) == [
        "cluster=0", "cluster=1", "cluster=2",
    ]

    inline_assigned = corpus.withColumn(
        "cluster", similarity.assign_cluster(F.col("embedding"), cents)
    )
    inline = similarity.ann_ivf(queries, inline_assigned, cents, k=5, n_probe=2)
    indexed = similarity.ann_ivf_indexed(queries, idx, cents, k=5, n_probe=2)
    a = sorted(map(tuple, inline.collect()))
    b = sorted(map(tuple, indexed.collect()))
    assert a == b and len(a) == 15  # 3 queries x k=5


def test_audio_features_real_wav(spark):
    """VERDICT r05 item 7: a real RIFF/WAVE payload goes through the stdlib
    wave decode — sample_rate/duration from the header, RMS from the actual
    samples (sine amplitude/sqrt(2)) — while non-WAV payloads keep the
    deterministic fake fallback in the same batch."""
    import io
    import math
    import struct
    import wave

    rate, dur, amp, freq = 8000, 0.5, 0.25, 440.0
    n = int(rate * dur)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(
            b"".join(
                struct.pack(
                    "<h", int(amp * 32767 * math.sin(2 * math.pi * freq * i / rate))
                )
                for i in range(n)
            )
        )
    wav_bytes = buf.getvalue()

    media = spark.createDataFrame(
        [
            (1, "audio", wav_bytes, "audio/wav", len(wav_bytes)),
            (2, "audio", b"hello not a wav", "application/octet-stream", 15),
        ],
        multimodal.MEDIA_SCHEMA,
    )
    feats = {
        r["media_id"]: r
        for r in multimodal.extract_audio_features(media).collect()
    }
    assert feats[1]["sample_rate"] == rate
    assert feats[1]["duration_s"] == pytest.approx(dur)
    assert feats[1]["rms"] == pytest.approx(amp / math.sqrt(2), rel=1e-2)
    # the non-WAV row in the same batch took the deterministic fake path
    fake_rate = 8000 + (ord("h") % 4) * 8000
    assert feats[2]["sample_rate"] == fake_rate
    assert feats[2]["rms"] == pytest.approx(ord("h") / 255.0)


def test_curate_corpus_end_to_end(spark):
    """The capstone composition: quality gate -> exact dedup -> near-dup
    collapse, each stage's effect observable in the survivor set."""
    good = (
        "the quick brown fox jumps over the lazy dog and runs far away home "
        "with many fine words of a reasonable length for quality scoring"
    )
    near = good + " plus a tiny tail"
    rows = [
        (1, good),        # keeper (min doc_id of exact+near group)
        (2, good),        # exact dup of 1 -> dropped
        (3, near),        # near dup of 1 -> dropped
        (4, "x"),         # fails the quality gate -> dropped
        (5, "an entirely different document about completely other topics "
            "discussing spark catalyst optimizer internals in plain words "
            "written long enough to pass the quality gate easily today"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    persisted_before = set(
        spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    )
    out = dedup.curate_corpus(docs, min_quality=0.6, near_dup_threshold=0.4)
    kept = sorted(r["doc_id"] for r in out.collect())
    assert kept == [1, 5]
    assert all(r["quality"] >= 0.6 for r in out.collect())
    # persist hygiene (the r07 minhash-leak class): curate_corpus must not
    # leave a named persist behind — the exact-dedup materialization is an
    # eager localCheckpoint whose blocks the ContextCleaner frees when the
    # caller drops the frame, never an unpersisted .persist(). Checkpoint
    # RDDs of live frames may appear in getPersistentRDDs; assert every NEW
    # entry IS a localCheckpoint RDD, so a single reintroduced plain
    # .persist() fails the test (r8 ADVICE tightened the former "<= 2
    # new entries" bound, which could not catch exactly that regression).
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for entry in jmap.entrySet().toArray():
        if entry.getKey() in persisted_before:
            continue
        assert entry.getValue().rdd().isLocallyCheckpointed(), (
            f"curate_corpus leaked a non-checkpoint persist: RDD "
            f"{entry.getKey()} ({entry.getValue().name()})"
        )


def test_cluster_pairs_driver_and_distributed_agree(spark):
    """The union-find fast path and the distributed min-label loop produce
    identical components (driver_threshold=0 forces the loop)."""
    import random

    rng = random.Random(3)
    edges = [(rng.randint(0, 60), rng.randint(0, 60)) for _ in range(80)]
    pairs = spark.createDataFrame(edges, "a long, b long")
    fast = {
        (r["doc_id"], r["cluster_id"])
        for r in dedup.cluster_pairs(pairs).collect()
    }
    slow = {
        (r["doc_id"], r["cluster_id"])
        for r in dedup.cluster_pairs(pairs, driver_threshold=0).collect()
    }
    assert fast == slow and len(fast) > 0


@pytest.mark.parametrize(
    "seed,n_nodes,n_edges,hubby",
    [(7, 40, 60, False), (11, 80, 50, True), (13, 30, 120, False)],
)
def test_cluster_pairs_star_rounds_randomized(spark, seed, n_nodes, n_edges, hubby):
    """Randomized large-star/small-star vs the driver union-find across
    sparse, hub-heavy, and dense graph shapes (the composition-fixpoint
    argument is empirical — this is its armor)."""
    import random

    rng = random.Random(seed)
    if hubby:
        hubs = [rng.randrange(n_nodes) for _ in range(3)]
        edges = [
            (rng.choice(hubs), rng.randrange(n_nodes)) for _ in range(n_edges)
        ]
    else:
        edges = [
            (rng.randrange(n_nodes), rng.randrange(n_nodes))
            for _ in range(n_edges)
        ]
    pairs = spark.createDataFrame(edges, "a long, b long")
    fast = {
        (r["doc_id"], r["cluster_id"])
        for r in dedup.cluster_pairs(pairs).collect()
    }
    dist = {
        (r["doc_id"], r["cluster_id"])
        for r in dedup.cluster_pairs(pairs, driver_threshold=0).collect()
    }
    assert fast == dist and len(fast) > 0


def test_cluster_pairs_star_stress_distributed(spark):
    """VERDICT r06 item 6: a 100k-edge star component (one viral
    boilerplate cluster) through the distributed large-star/small-star
    path. The algorithm never collects a neighbor list, so the hot node is
    a streaming join key, not an in-memory array; correctness: every leaf
    labels to the center's component min, and a side chain hanging off the
    star merges into the same component."""
    n = 100_000
    center = 50  # NOT the min — forces re-pointing through the center
    rows = [(center, i) for i in range(1000, 1000 + n)]
    rows += [(center, 7)]          # the true component min sits on a spoke
    rows += [(2_000_000 + i, 2_000_000 + i + 1) for i in range(8)]  # chain
    pairs = spark.createDataFrame(rows, "a long, b long")
    out = dedup.cluster_pairs(pairs, driver_threshold=0)
    labels = {r["doc_id"]: r["cluster_id"] for r in out.collect()}
    assert len(labels) == n + 2 + 9  # leaves + center + 7 + chain nodes
    star_nodes = [center, 7] + list(range(1000, 1000 + n))
    assert all(labels[x] == 7 for x in star_nodes)
    assert all(labels[2_000_000 + i] == 2_000_000 for i in range(9))


def test_cluster_pairs_long_chain_converges(spark):
    """A 200-node path graph: the r06 min-label loop needed ~200 rounds
    (diameter); large-star/small-star converges inside the 64-round cap
    (O(log n)) with every node labeled to the chain min."""
    rows = [(i, i + 1) for i in range(200)]
    pairs = spark.createDataFrame(rows, "a long, b long")
    labels = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.cluster_pairs(pairs, driver_threshold=0).collect()
    }
    assert len(labels) == 201 and set(labels.values()) == {0}


# --- curation: decontamination, PII redaction, hash sampling ------------------
from sydradb_spark.pipeline import curation


@pytest.fixture(scope="module")
def curation_docs(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon nothing else here"),  # shares 5-gram w/ 1
        (3, "totally unrelated text about query planners and shuffles"),
        (4, "one two"),  # too short for a 5-gram
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_decontaminate_drops_benchmark_overlap(spark, curation_docs):
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon is a benchmark prompt")],
        "doc_id long, text string",
    )
    report = {
        r["doc_id"]: r["n_contaminated"]
        for r in curation.contamination_report(curation_docs, bench).collect()
    }
    # docs 1 and 2 share the 'alpha beta gamma delta epsilon' 5-gram
    assert set(report) == {1, 2}
    assert report[1] >= 1 and report[2] >= 1
    clean = sorted(r["doc_id"] for r in curation.decontaminate(curation_docs, bench).collect())
    assert clean == [3, 4]


def test_redact_pii_counts_and_text(spark):
    rows = [
        (1, "mail bob.smith+x@corp.example.org and carol@ex.io from 10.1.2.3 now"),
        (2, "no pii here at all"),
        (3, "ip only 192.168.0.254 twice 192.168.0.254"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in curation.pii_redact_docs(df).collect()}
    assert out[1]["n_emails"] == 2 and out[1]["n_ips"] == 1
    assert out[1]["redacted"] == "mail <EMAIL> and <EMAIL> from <IP> now"
    assert out[2]["n_emails"] == 0 and out[2]["n_ips"] == 0
    assert out[2]["redacted"] == "no pii here at all"
    assert out[3]["n_ips"] == 2 and out[3]["redacted"] == "ip only <IP> twice <IP>"


def test_hash_sample_deterministic_and_nested(spark):
    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    s10 = set(r["doc_id"] for r in curation.hash_sample(df, 0.10).collect())
    s10_again = set(r["doc_id"] for r in curation.hash_sample(df, 0.10).collect())
    s30 = set(r["doc_id"] for r in curation.hash_sample(df, 0.30).collect())
    assert s10 == s10_again  # replayable
    assert s10 <= s30  # thresholds nest at the same salt
    assert 0.05 < len(s10) / 2000 < 0.15 and 0.25 < len(s30) / 2000 < 0.35
    other_salt = set(r["doc_id"] for r in curation.hash_sample(df, 0.10, salt="s1").collect())
    assert other_salt != s10  # salts are independent


def test_train_split_partitions_everything(spark):
    df = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    out = curation.train_split(df, test_fraction=0.1)
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert counts["test"] + counts["train"] == 1000
    assert 50 < counts["test"] < 150
    # same salt → same membership on a rerun
    again = curation.train_split(df, test_fraction=0.1)
    assert out.exceptAll(again).count() == 0


def test_mix_corpus_weight_semantics(spark):
    rows = [(i, f"src{i % 4}") for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = curation.mix_corpus(
        df, {"src0": 0.0, "src1": 0.5, "src2": 2.0, "src3": 2.5}, salt="t0"
    )
    per = {
        r["source"]: r["n"]
        for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert "src0" not in per  # weight 0 drops the source
    assert 30 < per["src1"] < 70  # ~50% of 100
    assert per["src2"] == 200  # exactly 2 epochs, no fractional tail
    assert 230 < per["src3"] < 270  # 2 full epochs + ~50% third
    # epoch column: src2 rows appear once per epoch 0 and 1
    epochs = sorted(
        r["epoch"]
        for r in out.where(F.col("doc_id") == 2).select("epoch").collect()
    )
    assert epochs == [0, 1]
    # deterministic: rerun is identical
    again = curation.mix_corpus(
        df, {"src0": 0.0, "src1": 0.5, "src2": 2.0, "src3": 2.5}, salt="t0"
    )
    assert out.exceptAll(again).count() == 0 and again.exceptAll(out).count() == 0
    # unlisted sources default to weight 1.0
    out2 = curation.mix_corpus(df, {"src0": 3.0}, salt="t0")
    per2 = {
        r["source"]: r["n"]
        for r in out2.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert per2["src1"] == per2["src2"] == per2["src3"] == 100
    assert per2["src0"] == 300


def test_pack_sequences_greedy(spark):
    rows = [
        ("s1", 1, "a b c"),          # 3 tokens
        ("s1", 2, "a b c d"),        # 4
        ("s1", 3, "a b"),            # 2
        ("s1", 4, "a b c d e f g h i j k l"),  # 12 > budget → own bin
        ("s1", 5, "a"),              # 1
        ("s2", 6, "a b c d e"),      # 5
    ]
    df = spark.createDataFrame(rows, "source string, doc_id long, text string")
    out = {
        (r["grp"], r["doc_id"]): (r["bin_id"], r["bin_fill"])
        for r in curation.pack_sequences(df, budget=8).collect()
    }
    # budget 8, s1 in doc order: 3 → bin0(3); +4=7 → bin0(7); +2 would be 9
    # → bin1(2); 12 oversized → bin2(12); +1 would be 13 → bin3(1)
    assert out[("s1", 1)] == (0, 3)
    assert out[("s1", 2)] == (0, 7)
    assert out[("s1", 3)] == (1, 2)
    assert out[("s1", 4)] == (2, 12)
    assert out[("s1", 5)] == (3, 1)
    assert out[("s2", 6)] == (0, 5)
    # deterministic under repartitioning
    again = {
        (r["grp"], r["doc_id"]): (r["bin_id"], r["bin_fill"])
        for r in curation.pack_sequences(df.repartition(7), budget=8).collect()
    }
    assert again == out


def test_curate_corpus_optional_stages(spark, curation_docs):
    # defaults unchanged: no benchmark, no redaction
    base = dedup.curate_corpus(curation_docs, min_quality=0.0, near_dup_threshold=0.9)
    base_ids = set(r["doc_id"] for r in base.collect())
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon anything")], "doc_id long, text string"
    )
    decon = dedup.curate_corpus(
        curation_docs, min_quality=0.0, near_dup_threshold=0.9, benchmark=bench
    )
    decon_ids = set(r["doc_id"] for r in decon.collect())
    assert decon_ids == base_ids - {1, 2}  # benchmark 5-gram overlap dropped
    pii = spark.createDataFrame(
        [(7, "seven words here to pass every gate contact me bob@x.io ok")],
        "doc_id long, text string",
    )
    red = dedup.curate_corpus(pii, min_quality=0.0, near_dup_threshold=0.9, redact=True)
    assert "<EMAIL>" in red.collect()[0]["text"]


def test_repetition_stats(spark):
    rows = [
        (1, "line one\nline two\nline one\n\nline two"),   # 4 non-empty, 2 dups
        (2, "spam spam spam spam spam"),                    # one bigram dominates
        (3, "all words here are different okay"),
        (4, "x"),                                           # no bigrams, one line
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in text.repetition_stats(df).collect()}
    assert out[1]["n_lines"] == 4
    assert out[1]["dup_line_ratio"] == pytest.approx(0.5)
    assert out[2]["top_bigram_ratio"] == pytest.approx(1.0)  # 'spam spam' x4
    assert out[3]["dup_line_ratio"] == 0.0
    assert out[3]["top_bigram_ratio"] == pytest.approx(0.2)  # 5 bigrams all unique
    assert out[4]["n_lines"] == 1 and out[4]["top_bigram_ratio"] == 0.0
    assert out[5]["n_lines"] == 0 and out[5]["dup_line_ratio"] == 0.0


def test_remove_boilerplate_lines(spark):
    cookie = "accept our cookies"
    rows = [
        (1, f"{cookie}\nunique content one\nfooter inc"),
        (2, f"{cookie}\nunique content two\nfooter inc"),
        (3, f"{cookie}\nunique content three\nfooter inc"),
        (4, "standalone doc\n\nwith a blank line"),
        (5, cookie),  # nothing but boilerplate
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in curation.remove_boilerplate_lines(df, 2).collect()}
    # cookie + footer appear in 3 docs (> 2) → removed everywhere
    assert out[1]["text"] == "unique content one"
    assert out[1]["n_lines_removed"] == 2
    assert out[2]["text"] == "unique content two"
    # blank lines are never counted as boilerplate
    assert out[4]["text"] == "standalone doc\n\nwith a blank line"
    assert out[4]["n_lines_removed"] == 0
    # fully-boilerplate doc survives with empty text
    assert out[5]["text"] == "" and out[5]["n_lines_removed"] == 1


def test_domain_extraction_and_blocklist(spark):
    rows = [
        (1, "see https://Example.COM/page and http://other.org/x?y=1"),
        (2, "plain text no urls"),
        (3, "dup https://example.com/a https://example.com/b"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    stats = {r["domain"]: r["n_docs"] for r in curation.domain_stats(df).collect()}
    assert stats == {"example.com": 2, "other.org": 1}
    kept = sorted(
        r["doc_id"]
        for r in curation.filter_blocked_domains(df, ["EXAMPLE.com"]).collect()
    )
    assert kept == [2]


def test_curate_corpus_boilerplate_stage(spark):
    footer = "all rights reserved by someone"
    rows = [
        (1, f"unique interesting document text one here\n{footer}"),
        (2, f"unique interesting document text two here\n{footer}"),
        (3, f"unique interesting document text three here\n{footer}"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r["text"]
        for r in dedup.curate_corpus(
            df, min_quality=0.0, near_dup_threshold=0.95, boilerplate_max_docs=2
        ).collect()
    }
    assert set(out) == {1, 2, 3}
    for t in out.values():
        assert footer not in t


def test_corpus_sketch_stats_accuracy(spark):
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    row = text.corpus_sketch_stats(docs).collect()[0]
    exact_vocab = (
        docs.select(F.explode(text.tokens(F.col("text"))).alias("t"))
        .distinct()
        .count()
    )
    assert row["n_docs"] == 500
    assert abs(row["approx_vocab"] - exact_vocab) / exact_vocab < 0.1
    # percentiles bracket the exact median from both sides loosely
    ns = sorted(
        r["n"] for r in docs.select(F.size(text.tokens(F.col("text"))).alias("n")).collect()
    )
    assert abs(row["p50_tokens"] - ns[len(ns) // 2]) <= max(2, ns[len(ns) // 2] * 0.05)
    assert row["p90_tokens"] <= row["p99_tokens"] <= ns[-1]
    assert row["total_tokens"] == sum(ns)


def test_chunk_documents_coverage_and_overlap(spark):
    rows = [
        (1, " ".join(f"w{i}" for i in range(10))),   # 10 toks: starts 0,6 @ size 8 stride 6
        (2, "only three tokens"),                     # single short chunk
        (3, ""),                                      # no chunks
        (4, " ".join(f"t{i}" for i in range(16))),   # 16 toks: starts 0,6,12? smax: n>size -> ceil((16-8)/6)*6=12 -> 0,6,12
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = text.chunk_documents(df, chunk_size=8, overlap=2)
    got = {
        (r["doc_id"], r["chunk_idx"]): r
        for r in out.collect()
    }
    assert set(got) == {(1, 0), (1, 1), (2, 0), (4, 0), (4, 1), (4, 2)}
    # full coverage: every token appears in some chunk; overlap tokens shared
    assert got[(1, 0)]["chunk_text"].split() == [f"w{i}" for i in range(8)]
    assert got[(1, 1)]["chunk_text"].split() == [f"w{i}" for i in range(6, 10)]
    assert got[(1, 1)]["chunk_start"] == 6
    assert got[(1, 1)]["n_chunk_tokens"] == 4
    assert got[(2, 0)]["n_chunk_tokens"] == 3
    assert got[(4, 2)]["chunk_text"].split() == [f"t{i}" for i in range(12, 16)]
    # invalid params refused
    import pytest as _pytest

    with _pytest.raises(ValueError):
        text.chunk_documents(df, chunk_size=4, overlap=4)


def test_chunk_documents_is_narrow(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    plan = text.chunk_documents(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # pure per-row expansion, zero shuffles


def test_normalize_docs(spark):
    from sydradb_spark.pipeline import curation

    rows = [
        (1, "á plain line"),                      # NFC composes to á
        (2, "dos\r\nline\rold mac"),                     # CRLF + lone CR
        (3, "ctrl\x00\x08here"),                         # control chars stripped
        (4, "wide   \t gaps"),                           # run collapse
        (5, "  trim me  \n\n\n\nnext para  "),          # trim + paragraph collapse
        (6, "already clean"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in curation.normalize_docs(df).collect()}
    assert out[1]["text"] == "á plain line" and out[1]["changed"]
    assert out[2]["text"] == "dos\nline\nold mac" and out[2]["changed"]
    assert out[3]["text"] == "ctrlhere" and out[3]["changed"]
    assert out[4]["text"] == "wide gaps" and out[4]["changed"]
    assert out[5]["text"] == "trim me\n\nnext para" and out[5]["changed"]
    assert out[6]["text"] == "already clean" and not out[6]["changed"]
    assert out[3]["n_chars_before"] == 10 and out[3]["n_chars_after"] == 8
    # pure-codegen path (nfc=False) agrees on ASCII input
    ascii_df = df.where(F.col("doc_id") >= 2)
    a = {r["doc_id"]: r["text"] for r in curation.normalize_docs(ascii_df, nfc=False).collect()}
    assert a == {k: v["text"] for k, v in out.items() if k >= 2}


def test_vocab_topk_oracle(spark):
    """vocab_topk against a DuckDB oracle on the real sf0.01 corpus: same
    (token, count) multiset, deterministic tie-broken ranks, and the
    TakeOrderedAndProject fusion in the plan (no global sort)."""
    import duckdb

    n = 200
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    got = text.vocab_topk(docs, n=n).collect()
    oracle = duckdb.sql(
        f"""
        WITH toks AS (
          SELECT CASE WHEN length(trim(text)) = 0 THEN []
                 ELSE regexp_split_to_array(trim(text), '\\s+') END AS tk
          FROM read_parquet('/root/testdata/sf0.01/documents.parquet')
        ),
        c AS (SELECT u.t AS token, count(*) AS cnt FROM toks, unnest(tk) AS u(t) GROUP BY 1)
        SELECT token, cnt, row_number() OVER (ORDER BY cnt DESC, token) AS rank
        FROM c ORDER BY cnt DESC, token LIMIT {n}
        """
    ).fetchall()
    assert [(r["token"], r["count"], r["rank"]) for r in sorted(got, key=lambda r: r["rank"])] == [
        (t, c, r) for t, c, r in oracle
    ]
    plan = text.vocab_topk(docs, n=n)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_token_coverage(spark):
    docs = spark.createDataFrame(
        [(1, "a b c a"), (2, "a d"), (3, "")], "doc_id long, text string"
    )
    vocab = spark.createDataFrame([("a",), ("b",)], "token string")
    row = text.token_coverage(docs, vocab).collect()[0]
    assert row["total_tokens"] == 6
    assert row["covered_tokens"] == 4  # a,b,a + a
    assert abs(row["coverage"] - round(4 / 6, 6)) < 1e-12
    # full-vocab coverage is exactly 1
    full = text.vocab_topk(docs, n=100).select("token")
    row2 = text.token_coverage(docs, full).collect()[0]
    assert row2["coverage"] == 1.0


def test_write_training_shards(spark, tmp_path):
    from sydradb_spark.pipeline import curation

    docs = spark.createDataFrame(
        [(i, f"doc {i} body") for i in range(200)], "doc_id long, text string"
    )
    out = str(tmp_path / "shards")
    curation.write_training_shards(docs, out, n_shards=4)
    back = spark.read.parquet(out)
    assert back.count() == 200
    # every row in the shard its hash says; assignment is a pure row function
    from sydradb_spark.pipeline.hashing import hash64

    expect = docs.select(
        "doc_id",
        F.pmod(hash64(F.concat(F.lit("shard0:"), F.col("doc_id").cast("string"))), F.lit(4))
        .cast("int")
        .alias("shard"),
    )
    mismatch = (
        back.select("doc_id", F.col("shard").cast("int").alias("shard"))
        .exceptAll(expect)
        .count()
    )
    assert mismatch == 0
    # shards are sorted within files (deterministic batch order)
    import glob

    one = sorted(glob.glob(f"{out}/shard=*/*.parquet"))[0]
    import pyarrow.parquet as pq

    ids = pq.read_table(one, columns=["doc_id"]).column("doc_id").to_pylist()
    assert ids == sorted(ids)
    # re-export with the same salt is byte-identical assignment
    out2 = str(tmp_path / "shards2")
    curation.write_training_shards(docs, out2, n_shards=4)
    again = spark.read.parquet(out2).select("doc_id", "shard")
    assert again.exceptAll(back.select("doc_id", "shard")).count() == 0


def test_incremental_dedup(spark, tmp_path):
    """Continuous-crawl dedup: batch 2 drops docs whose content is already
    in the index built from batch 1, in-batch dups collapse, and appending
    the survivors' hashes makes the index catch them in batch 3."""
    b1 = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id long, text string"
    )
    idx_path = str(tmp_path / "fpidx")
    dedup.build_fingerprint_index(b1).write.parquet(idx_path)
    idx = spark.read.parquet(idx_path)

    b2 = spark.createDataFrame(
        [(10, "alpha"), (11, "gamma"), (12, "gamma"), (13, "delta")],
        "doc_id long, text string",
    )
    out = dedup.incremental_dedup(b2, idx)
    assert sorted(r["doc_id"] for r in out.collect()) == [11, 13]
    # maintain: append survivors' hashes, batch 3 sees them
    dedup.build_fingerprint_index(out).write.mode("append").parquet(idx_path)
    idx2 = spark.read.parquet(idx_path)
    b3 = spark.createDataFrame(
        [(20, "gamma"), (21, "epsilon")], "doc_id long, text string"
    )
    out3 = dedup.incremental_dedup(b3, idx2)
    assert sorted(r["doc_id"] for r in out3.collect()) == [21]


def test_winnow_overlap_pairs_containment(spark):
    """winnow_overlap_pairs against an independent pure-Python winnow oracle,
    plus the motivating property: a paragraph CONTAINED in a much larger
    document scores high overlap while whole-doc Jaccard is low."""

    def py_winnow(t, k=text.WINNOW_K, w=text.WINNOW_W):
        t = t.strip()
        if len(t) < k + w - 1:
            return set()
        base, mod = text.WINNOW_BASE, text.WINNOW_MOD
        lead = pow(base, k - 1, mod)
        codes = [ord(c) for c in t]
        h = 0
        for c in codes[:k]:
            h = (h * base + c) % mod
        hs = [h]
        for i in range(k, len(t)):
            h = ((h - codes[i - k] * lead) * base + codes[i]) % mod
            hs.append(h)
        return {min(hs[i : i + w]) for i in range(len(hs) - w + 1)}

    para = "the quick brown fox jumps over the lazy dog again and again"
    big = " ".join(f"filler{i} content body" for i in range(60)) + " " + para
    rows = [
        (1, para),                      # the paragraph alone
        (2, big),                       # contains it verbatim
        (3, "completely unrelated text about spark plans and shuffles"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["a"], r["b"]): (r["shared"], r["overlap"])
        for r in text.winnow_overlap_pairs(df, min_shared=1).collect()
    }
    fps = {i: py_winnow(t) for i, t in rows}
    expect = {}
    for a in (1, 2, 3):
        for b in range(a + 1, 4):
            sh = len(fps[a] & fps[b])
            if sh >= 1:
                expect[(a, b)] = (sh, round(sh / min(len(fps[a]), len(fps[b])), 6))
    assert got == expect
    # containment property: (1,2) overlap is high though doc 2 is much larger
    assert got[(1, 2)][1] > 0.8
    # and trigram whole-doc Jaccard would call them near-disjoint
    from sydradb_spark.pipeline import dedup as dd

    jac = {
        (r["a"], r["b"]): r["jaccard"]
        for r in dd.ngram_jaccard_pairs(df.where(F.col("doc_id") < 3)).collect()
    }
    assert jac.get((1, 2), 0.0) < 0.2


def test_funnel_oracle_real_events(spark):
    """funnel/funnel_stages against an INDEPENDENT exact oracle (full
    feasible-set DP: every stage keeps ALL achievable last-matched
    timestamps — O(n·k), obviously correct) over the real sf0.01 events
    (view -> click -> purchase, 1h gaps)."""
    import duckdb

    from sydradb_spark.pipeline.events import funnel, funnel_stages
    from sydradb_spark.tables import load_table

    steps, within = ["view", "click", "purchase"], 3600.0
    ev = load_table(spark, "/root/testdata/sf0.01", "events")
    got_stage = {
        r["user"]: r["stage"] for r in funnel_stages(ev, steps, within).collect()
    }
    got = {r["step_idx"]: r["n_users"] for r in funnel(ev, steps, within).collect()}

    raw = duckdb.sql(
        "SELECT user_id, epoch(ts) AS ts, event_type FROM "
        "'/root/testdata/sf0.01/events.parquet' WHERE event_type IN "
        "('view','click','purchase') ORDER BY user_id, ts, event_type"
    ).fetchall()
    byuser: dict = {}
    for u, ts, ty in raw:
        byuser.setdefault(u, []).append((float(ts), ty))

    def exact_stage(seq):
        # feasible-SET DP: reach[i] = all last-ts values achievable at stage i
        k = len(steps)
        idx = {s: i for i, s in enumerate(steps)}
        reach = [set() for _ in range(k + 1)]
        for ts, ty in seq:
            i = idx[ty]
            if i == 0:
                reach[1].add(ts)
            elif any(t < ts <= t + within for t in reach[i]):
                reach[i + 1].add(ts)
        for i in range(k, 0, -1):
            if reach[i]:
                return i
        return 0

    expect_stage = {u: exact_stage(seq) for u, seq in byuser.items()}
    assert got_stage == expect_stage
    for i in range(1, 4):
        assert got[i] == sum(1 for s in expect_stage.values() if s >= i)
    assert got[1] > got[3] >= 0


def test_funnel_semantics_synthetic(spark):
    from sydradb_spark.pipeline.events import funnel_stages

    rows = [
        # user 1 completes in order within gaps
        (1, 10.0, "a"), (1, 20.0, "b"), (1, 25.0, "c"),
        # user 2: b before a doesn't count; later b does
        (2, 5.0, "b"), (2, 10.0, "a"), (2, 12.0, "b"),
        # user 3: gap too large between a and b
        (3, 0.0, "a"), (3, 100.0, "b"),
        # user 4: simultaneous a,b at same ts -> b NOT strictly after a
        (4, 7.0, "a"), (4, 7.0, "b"),
        # user 5: stalled first attempt must not block the restart
        # (a@0 stalls, a@95 -> b@100 completes within 10)
        (5, 0.0, "a"), (5, 95.0, "a"), (5, 100.0, "b"),
        # user 6: tie at the top — a@5, a@10, b@10: only a@5 is strictly
        # before b@10, and 10 <= 5 + 30 -> stage 2 via the second-max path
        (6, 5.0, "a"), (6, 10.0, "a"), (6, 10.0, "b"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts double, event_type string")
    got = {
        r["user"]: r["stage"]
        for r in funnel_stages(df, ["a", "b", "c"], within=30.0).collect()
    }
    assert got == {1: 3, 2: 2, 3: 1, 4: 1, 5: 2, 6: 2}
    # and the within=10 restart case specifically
    got10 = {
        r["user"]: r["stage"]
        for r in funnel_stages(df, ["a", "b"], within=10.0).collect()
    }
    assert got10[5] == 2  # a@95 -> b@100
    assert got10[3] == 1


def test_funnel_repeated_step_types(spark):
    """steps with a repeated event type (a -> b -> a) must walk every
    matching position, not just the last (the advisor's r06 finding: the
    old dict-index mapped 'a' only to position 2, so stage 1 was
    unreachable and every user reported stage 0)."""
    from sydradb_spark.pipeline.events import _funnel_dp, funnel_stages

    # direct DP: the advisor's exact repro
    assert _funnel_dp([(0.0, "a"), (1.0, "b"), (2.0, "a")], ["a", "b", "a"], 100.0) \
        == (3, 0.0, 2.0)
    # one event must NOT chain with itself across adjacent same-type steps
    assert _funnel_dp([(0.0, "a"), (1.0, "a")], ["a", "a"], 100.0)[0] == 2
    assert _funnel_dp([(0.0, "a")], ["a", "a"], 100.0)[0] == 1
    # and through the Spark kernel
    rows = [
        (1, 0.0, "a"), (1, 1.0, "b"), (1, 2.0, "a"),   # full a->b->a
        (2, 0.0, "a"), (2, 1.0, "b"),                   # stalls at 2
        (3, 5.0, "b"), (3, 6.0, "a"),                   # b first: stage 1
    ]
    df = spark.createDataFrame(rows, "user_id long, ts double, event_type string")
    got = {
        r["user"]: r["stage"]
        for r in funnel_stages(df, ["a", "b", "a"], within=100.0).collect()
    }
    assert got == {1: 3, 2: 2, 3: 1}


def test_funnel_max_events_per_user_cap(spark):
    """Hot-key guard: one synthetic mega-user's sequence is truncated to
    the earliest N events before the per-user collect, so the DP array is
    bounded; semantics = the funnel of the truncated prefix."""
    from sydradb_spark.pipeline.events import funnel_stages

    # mega-user 1: 5000 'a' events then ONE 'b' at the very end — under a
    # cap of 100 the b is cut, so the user reads stage 1 not 2.
    rows = [(1, float(t), "a") for t in range(5000)] + [(1, 5000.0, "b")]
    # user 2 completes inside the cap window
    rows += [(2, 0.0, "a"), (2, 1.0, "b")]
    df = spark.createDataFrame(rows, "user_id long, ts double, event_type string")
    uncapped = {
        r["user"]: r["stage"]
        for r in funnel_stages(df, ["a", "b"], within=1e9).collect()
    }
    capped = {
        r["user"]: r["stage"]
        for r in funnel_stages(
            df, ["a", "b"], within=1e9, max_events_per_user=100
        ).collect()
    }
    assert uncapped == {1: 2, 2: 2}
    assert capped == {1: 1, 2: 2}  # mega-user truncated to earliest 100 'a's
    import pytest as _pytest

    with _pytest.raises(ValueError):
        funnel_stages(df, ["a"], 1.0, max_events_per_user=0)


def test_retention_cohorts_oracle(spark):
    """retention_cohorts against a DuckDB twin over the real sf0.01 events."""
    import duckdb

    from sydradb_spark.pipeline.events import retention_cohorts
    from sydradb_spark.tables import load_table

    w = 86400  # daily cohorts
    ev = load_table(spark, "/root/testdata/sf0.01", "events")
    got = {
        (r["cohort"], r["age"]): r["n_users"]
        for r in retention_cohorts(ev, bucket_seconds=w).collect()
    }
    oracle = duckdb.sql(
        f"""
        WITH ev AS (
          SELECT DISTINCT user_id AS u,
                 CAST(floor(epoch(ts) / {w}) * {w} AS BIGINT) AS b
          FROM '/root/testdata/sf0.01/events.parquet'
        ),
        first AS (SELECT u, min(b) AS cohort FROM ev GROUP BY 1)
        SELECT cohort, CAST((b - cohort) / {w} AS BIGINT) AS age,
               count(DISTINCT ev.u) AS n
        FROM ev JOIN first ON ev.u = first.u GROUP BY 1, 2
        """
    ).fetchall()
    assert got == {(c, a): n for c, a, n in oracle}
    # age-0 row exists for every cohort and dominates its curve
    for (c, a), n in got.items():
        assert got[(c, 0)] >= 1
        assert n <= got[(c, 0)] or a == 0


def test_json_key_stats_oracle(spark):
    """json_key_stats against a pure-Python json.loads oracle over varied
    shapes (ints, floats, bools, strings, nulls, nested, non-object rows),
    plus the real sf0.01 events props column."""
    import json as _json

    from sydradb_spark.pipeline.jsonprof import json_key_stats

    rows = [
        (1, '{"a": 1, "b": "x", "c": true}'),
        (2, '{"a": 2.5, "b": null, "d": [1,2]}'),
        (3, '{"a": "oops", "e": {"nested": 1}}'),
        (4, '{"a": -3, "b": "y"}'),
        (5, "not json at all"),
        (6, '{"f": 1e5}'),
    ]
    df = spark.createDataFrame(rows, "id long, props string")
    got = {r["key"]: r.asDict() for r in json_key_stats(df, "props").collect()}

    def classify(v):
        if v is None:
            return "n_null"
        if isinstance(v, bool):
            return "n_bool"
        if isinstance(v, int):
            return "n_int"
        if isinstance(v, float):
            return "n_float"
        return "n_string"  # strings, nested objects/arrays

    expect: dict = {}
    for _, p in rows:
        try:
            obj = _json.loads(p)
        except ValueError:
            continue
        if not isinstance(obj, dict):
            continue
        for k, v in obj.items():
            e = expect.setdefault(
                k,
                {"n_rows": 0, "n_int": 0, "n_float": 0, "n_bool": 0, "n_string": 0, "n_null": 0},
            )
            e["n_rows"] += 1
            e[classify(v)] += 1
    assert {k: {kk: vv for kk, vv in v.items() if kk != "key"} for k, v in got.items()} == expect
    # real events table: the single key 'k' is int-typed on every row
    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    real = {r["key"]: r for r in json_key_stats(ev, "props").collect()}
    assert real["k"]["n_rows"] == 10000 and real["k"]["n_int"] == 10000


def test_minhash_recall_measured(spark):
    """Empirical recall of the banded candidate generation vs brute-force
    ground truth on a deterministic 120-doc corpus with planted near-dups.
    Theory for 16 hashes in 8 bands of 2: P(candidate) = 1-(1-j^2)^8
    (≈0.92 at j=0.5, ≈0.997 at j=0.7); the planted pairs sit at j≈0.6-0.9,
    so measured recall must clear 0.9 — a distributional guarantee the
    per-pair oracle entry can't express."""
    import itertools

    base_docs = []
    rnd_words = [f"w{i}" for i in range(400)]
    for i in range(40):
        words = [rnd_words[(i * 7 + k) % 400] for k in range(40)]
        base_docs.append((i, " ".join(words)))
    variants = []
    for i, t in base_docs:
        words = t.split()
        # two high-similarity variants per base (edit a few words)
        for v in (1, 2):
            w2 = list(words)
            for k in range(3 * v):
                w2[(k * 11) % len(w2)] = f"x{i}_{v}_{k}"
            variants.append((1000 * v + i, " ".join(w2)))
    docs = spark.createDataFrame(
        base_docs + variants, "doc_id long, text string"
    )
    pairs = {
        (r["a"], r["b"]): r["jaccard"]
        for r in dedup.minhash_near_dups(docs, threshold=0.5).collect()
    }
    # brute-force ground truth over all pairs
    rows = dict(base_docs + variants)

    def sh(t):
        w = t.split()
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    shs = {i: sh(t) for i, t in rows.items()}
    truth = {}
    for a, b in itertools.combinations(sorted(rows), 2):
        inter = len(shs[a] & shs[b])
        un = len(shs[a] | shs[b])
        j = inter / un if un else 0.0
        if j >= 0.5:
            truth[(a, b)] = j
    assert truth, "corpus must contain true near-dup pairs"
    found = sum(1 for p in truth if p in pairs)
    recall = found / len(truth)
    assert recall >= 0.9, (recall, len(truth))
    # and every reported pair is verified-exact (no false positives at all)
    for (a, b), j in pairs.items():
        assert abs(truth.get((a, b), -1) - j) < 1e-9 or j >= 0.5


def test_bpe_train_matches_reference(spark):
    """bpe_train against a pure-Python reference trainer (same tie-breaks)
    on a small corpus, and bpe_encode round-trips through the merges."""
    from collections import Counter

    from sydradb_spark.pipeline import bpe

    rows = [
        (1, "low low low lower lower newest newest newest newest widest"),
        (2, "newest widest widest low lowest"),
        (3, "low low newest"),
    ]
    df = spark.createDataFrame(
        rows + [(4, "")], "doc_id long, text string"  # empty doc: ([], 0)
    )

    def apply_one(syms, l, r):
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                out.append(l + r)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return out

    def ref_train(texts, n):
        wf = Counter(w for t in texts for w in t.split())
        table = {tuple(list(w) + [bpe.END]): f for w, f in wf.items()}
        merges = []
        for _ in range(n):
            pc = Counter()
            for syms, f in table.items():
                for a, b in zip(syms, syms[1:]):
                    pc[(a, b)] += f
            eligible = {p: c for p, c in pc.items() if c >= 2}
            if not eligible:
                break
            top = max(eligible.values())
            l, r = sorted(" ".join(p) for p, c in eligible.items() if c == top)[0].split(" ")
            merges.append((l, r))
            table = {
                tuple(apply_one(list(s), l, r)): f for s, f in table.items()
            }
        return merges

    got = bpe.bpe_train(df, n_merges=12)
    want = ref_train([t for _, t in rows], 12)
    assert got == want, (got, want)
    # encoding: concatenating each word's tokens reproduces word + END marker
    persisted_before = set(
        spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    )
    enc_df = bpe.bpe_encode(df, got)
    enc = {r["doc_id"]: r for r in enc_df.collect()}
    for doc_id, text in rows:
        toks = enc[doc_id]["tokens"]
        rebuilt = "".join(toks).replace(bpe.END, " ").strip()
        assert rebuilt == " ".join(text.split())
        assert enc[doc_id]["n_tokens"] == len(toks)
    # merges compress: tokenized length strictly below char count
    assert enc[1]["n_tokens"] < sum(len(w) + 1 for w in rows[0][1].split())
    # the zero-token doc is still emitted, with an empty encoding
    assert enc[4]["tokens"] == [] and enc[4]["n_tokens"] == 0
    # the advisor's r06 cache-leak finding: bpe_encode must not leave the
    # corpus-wide exploded frame persisted after it returns. The ONE
    # allowed addition is the eager localCheckpoint of the result (freed by
    # the ContextCleaner when enc_df is dropped); the old code left two.
    persisted_after = set(
        spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    )
    assert len(persisted_after - persisted_before) <= 1


def test_lm_score_oracle(spark):
    """train_bigram_lm + lm_score_docs against a DuckDB twin over the real
    sf0.01 corpus, plus the discriminative property: natural text outscores
    shuffled-vocabulary gibberish under a model trained on the corpus."""
    import duckdb

    from sydradb_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    lm = text.train_bigram_lm(docs)
    got = {
        r["doc_id"]: (r["n_bigrams"], r["avg_logprob"])
        for r in text.lm_score_docs(docs, lm).collect()
    }
    a, v = 0.4, 100_000
    oracle = duckdb.sql(
        f"""
        WITH toks AS (
          SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []
                 ELSE regexp_split_to_array(trim(text), '\\s+') END AS tk
          FROM '/root/testdata/sf0.01/documents.parquet'
        ),
        bg AS (
          SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2
          FROM toks, unnest(generate_series(1, greatest(len(tk) - 1, 0))) AS u(i)
          WHERE len(tk) >= 2
        ),
        m AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
        un AS (SELECT w1, sum(c12) AS c1 FROM m GROUP BY 1)
        SELECT bg.doc_id,
               count(*) AS nb,
               round(avg(ln(coalesce(m.c12, 0) + {a}) - ln(coalesce(un.c1, 0) + {a * v})), 6) AS lp
        FROM bg LEFT JOIN m ON bg.w1 = m.w1 AND bg.w2 = m.w2
                LEFT JOIN un ON bg.w1 = un.w1
        GROUP BY 1
        """
    ).fetchall()
    expect = {d: (nb, lp) for d, nb, lp in oracle}
    assert set(got) == set(expect)
    for d in got:
        assert got[d][0] == expect[d][0]
        assert abs(got[d][1] - expect[d][1]) < 1e-6, (d, got[d], expect[d])
    # discriminativeness: shuffled-word gibberish scores below real docs
    import random as _r

    rnd = _r.Random(3)
    sample = docs.limit(20).collect()
    vocab = [w for r in sample for w in r["text"].split()][:2000]
    gib = " ".join(rnd.choice(vocab) for _ in range(300))
    both = spark.createDataFrame(
        [(900001, sample[0]["text"]), (900002, gib)], "doc_id long, text string"
    )
    s = {r["doc_id"]: r["avg_logprob"] for r in text.lm_score_docs(both, lm).collect()}
    assert s[900001] > s[900002]
    # short docs are emitted with 0 bigrams and NULL score, not dropped
    short = spark.createDataFrame([(1, "word"), (2, "")], "doc_id long, text string")
    sr = {r["doc_id"]: r for r in text.lm_score_docs(short, lm).collect()}
    assert set(sr) == {1, 2}
    assert sr[1]["n_bigrams"] == 0 and sr[1]["avg_logprob"] is None
    assert sr[2]["n_bigrams"] == 0 and sr[2]["avg_logprob"] is None


def test_image_features_real_png(spark):
    """A pure-Python-encoded PNG (mixed row filters) decodes through the
    image kernel with exact dimensions and mean luma."""
    import struct
    import zlib

    import numpy as np

    from sydradb_spark.pipeline import multimodal

    def chunk(typ, body):
        return (
            struct.pack(">I", len(body))
            + typ
            + body
            + struct.pack(">I", zlib.crc32(typ + body) & 0xFFFFFFFF)
        )

    def encode_png(px):  # px: h x w x 3 uint8
        h, w, _ = px.shape
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        raw = b""
        prev = np.zeros(w * 3, dtype=np.int64)
        for y in range(h):
            line = px[y].reshape(-1).astype(np.int64)
            if y % 2 == 0:  # filter 0 (None)
                raw += b"\x00" + bytes(line.astype(np.uint8))
            else:  # filter 2 (Up)
                raw += b"\x02" + bytes(((line - prev) % 256).astype(np.uint8))
            prev = line
        idat = zlib.compress(raw)
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", idat)
            + chunk(b"IEND", b"")
        )

    rng = np.random.RandomState(11)
    px = rng.randint(0, 256, size=(13, 17, 3), dtype=np.uint8)
    png = encode_png(px)
    # direct kernel check (exact luma)
    w, h, luma = multimodal._decode_png(png)
    assert (w, h) == (17, 13)
    want = float(
        (0.299 * px[:, :, 0] + 0.587 * px[:, :, 1] + 0.114 * px[:, :, 2]).mean() / 255.0
    )
    assert abs(luma - want) < 1e-12
    # through the Spark op: real decode for the PNG row, fake for the other
    media = spark.createDataFrame(
        [
            (1, "image", bytearray(png), "image/png", len(png)),
            (2, "image", bytearray(b"notapng"), "application/octet-stream", 7),
        ],
        multimodal.MEDIA_SCHEMA,
    )
    out = {r["media_id"]: r for r in multimodal.extract_image_features(media).collect()}
    assert (out[1]["width"], out[1]["height"]) == (17, 13)
    assert abs(out[1]["mean_luma"] - want) < 1e-12
    assert out[2]["width"] == 64 + (7 % 64)  # fake path unchanged


def test_training_pipeline_end_to_end(spark, tmp_path):
    """Capstone composition over the real sf0.001 corpus: normalize →
    curate (quality gate + exact dedup + near-dup collapse) → decontaminate
    → chunk → pack → export shards. Asserts the global invariants each
    stage owes the next: no duplicate content survives, every chunk
    respects the token window, no pack bin overfills, the shard export is
    lossless and deterministic."""
    from sydradb_spark.pipeline import bpe, curation, dedup, text
    from sydradb_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text", "source"
    )
    n0 = docs.count()

    norm = curation.normalize_docs(docs).select("doc_id", "text")
    norm = norm.join(docs.select("doc_id", "source"), on="doc_id")

    curated = dedup.curate_corpus(norm, min_quality=0.3, near_dup_threshold=0.5)
    n1 = curated.count()
    assert 0 < n1 <= n0
    # invariant: no two survivors share content
    assert curated.select(F.md5("text")).distinct().count() == n1

    bench_docs = norm.where(F.col("doc_id") % 13 == 0)
    clean = curation.decontaminate(curated, bench_docs)
    # invariant: nothing sharing a 5-gram with the benchmark set remains
    assert curation.contamination_report(clean, bench_docs).count() == 0

    chunks = text.chunk_documents(clean, chunk_size=64, overlap=8)
    assert chunks.where(F.col("n_chunk_tokens") > 64).count() == 0
    # every surviving doc with >= 1 token is chunked
    with_tokens = clean.where(F.size(text.tokens(F.col("text"))) > 0).count()
    assert chunks.select("doc_id").distinct().count() == with_tokens

    packed = curation.pack_sequences(
        chunks.select(
            F.lit("all").alias("source"),
            (F.col("doc_id") * 1000 + F.col("chunk_idx")).alias("doc_id"),
            F.col("n_chunk_tokens").alias("n"),
        ),
        budget=256,
        tokens_col="n",
    )
    over = (
        packed.groupBy("grp", "bin_id")
        .agg(F.sum("n_tokens").alias("t"), F.count("*").alias("m"))
        .where((F.col("t") > 256) & (F.col("m") > 1))
        .count()
    )
    assert over == 0  # only single oversized chunks may exceed the budget

    out = str(tmp_path / "final_shards")
    curation.write_training_shards(clean, out, n_shards=3)
    back = spark.read.parquet(out)
    assert back.count() == clean.count()
    assert sorted(r["doc_id"] for r in back.select("doc_id").collect()) == sorted(
        r["doc_id"] for r in clean.select("doc_id").collect()
    )


def test_value_histogram_oracle(spark):
    """value_histogram against a DuckDB twin over the real sf0.01 events."""
    import duckdb

    from sydradb_spark.functions.timeseries import value_histogram

    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    got = {
        r["bin"]: (r["n"], r["lo"], r["hi"])
        for r in value_histogram(ev, lo=0.0, hi=100.0, n_bins=10).collect()
    }
    oracle = duckdb.sql(
        """
        SELECT least(greatest(CAST(floor(value / 10.0) AS BIGINT), 0), 9) AS bin,
               count(*) AS n
        FROM '/root/testdata/sf0.01/events.parquet'
        WHERE value IS NOT NULL GROUP BY 1
        """
    ).fetchall()
    assert {b: n for b, n in oracle} == {b: n for b, (n, _, _) in got.items()}
    assert sum(n for n, _, _ in got.values()) == ev.where(F.col("value").isNotNull()).count()
    for b, (_, lo, hi) in got.items():
        assert abs(lo - b * 10.0) < 1e-9 and abs(hi - (b + 1) * 10.0) < 1e-9
    import pytest as _p

    with _p.raises(ValueError):
        value_histogram(ev, lo=5.0, hi=5.0)


def test_anomalies_zscore(spark):
    from sydradb_spark.functions.timeseries import anomalies_zscore

    rows = (
        [(1, i, 10.0 + (i % 3)) for i in range(50)]  # tame series
        + [(1, 99, 1000.0)]                           # one wild outlier
        + [(2, i, 5.0) for i in range(10)]            # constant series
    )
    df = spark.createDataFrame(rows, "series_id long, ts long, value double")
    out = anomalies_zscore(df, threshold=3.0).collect()
    assert [(r["series_id"], r["ts"]) for r in out] == [(1, 99)]
    assert out[0]["zscore"] > 3.0
    # python oracle for the zscore value
    import statistics

    vals = [v for s, _, v in rows if s == 1]
    mu = statistics.fmean(vals)
    sd = statistics.pstdev(vals)
    assert abs(out[0]["zscore"] - round((1000.0 - mu) / sd, 6)) < 1e-9


def test_lttb_downsampling(spark):
    """LTTB against a pure-Python reference on a noisy series with planted
    spikes: exact pick-for-pick equality, endpoints preserved, spikes
    survive where plain bucket-averaging would flatten them."""
    import numpy as np

    from sydradb_spark.functions.timeseries import lttb

    rng = np.random.RandomState(5)
    n = 500
    vals = np.sin(np.arange(n) / 20.0) + rng.normal(0, 0.05, n)
    vals[123] = 8.0  # spikes
    vals[377] = -7.0
    rows = [(1, int(i), float(v)) for i, v in enumerate(vals)] + [
        (2, i, float(i)) for i in range(10)  # short series: passthrough
    ]
    df = spark.createDataFrame(rows, "series_id long, ts long, value double")
    out = lttb(df, n_out=50)
    got = {
        s: sorted((r["ts"], r["value"]) for r in grp)
        for s, grp in __import__("itertools").groupby(
            sorted(out.collect(), key=lambda r: (r["series_id"], r["ts"])),
            key=lambda r: r["series_id"],
        )
    }

    def ref_lttb(t, v, n_out):
        n = len(t)
        if n <= n_out:
            return list(range(n))
        edges = np.linspace(1, n - 1, n_out - 1).astype(int)
        keep, prev = [0], 0
        for b in range(n_out - 2):
            s, e = edges[b], edges[b + 1]
            ns, ne = edges[b + 1], (edges[b + 2] if b + 2 < len(edges) else n)
            cx = t[ns:ne].mean() if ne > ns else t[e - 1]
            cy = v[ns:ne].mean() if ne > ns else v[e - 1]
            area = np.abs((t[prev] - cx) * (v[s:e] - v[prev]) - (t[prev] - t[s:e]) * (cy - v[prev]))
            prev = s + int(area.argmax())
            keep.append(prev)
        keep.append(n - 1)
        return keep

    t = np.arange(n, dtype="float64")
    want = [(int(i), float(vals[i])) for i in ref_lttb(t, vals, 50)]
    assert got[1] == sorted(want)
    assert len(got[1]) == 50
    assert got[1][0][0] == 0 and got[1][-1][0] == n - 1  # endpoints kept
    picked_ts = {ts for ts, _ in got[1]}
    assert 123 in picked_ts and 377 in picked_ts  # spikes survive
    assert len(got[2]) == 10  # short series passes through untouched


def test_detect_gaps_and_stale_series(spark):
    """Gap detection against a DuckDB lag twin on synthetic outages, and
    the stale-series sweep."""
    import duckdb

    from sydradb_spark.functions.timeseries import detect_gaps, stale_series

    rows = (
        [(1, 100 + i * 10) for i in range(10)]        # healthy until 190
        + [(1, 500), (1, 510)]                         # 310s outage, resume
        + [(2, 100), (2, 4000)]                        # one huge gap
        + [(3, 100)]                                   # single point: no gap
    )
    df = spark.createDataFrame(rows, "series_id long, ts long").withColumn(
        "value", F.lit(1.0)
    )
    got = sorted(
        (r["series"], r["gap_start"], r["gap_end"], r["gap_s"])
        for r in detect_gaps(df, max_gap_s=60).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE p(s BIGINT, ts BIGINT)")
    con.executemany("INSERT INTO p VALUES (?, ?)", rows)
    want = sorted(
        tuple(r)
        for r in con.execute(
            """
            SELECT s, prev, ts, ts - prev FROM (
              SELECT s, ts, lag(ts) OVER (PARTITION BY s ORDER BY ts) AS prev
              FROM p)
            WHERE prev IS NOT NULL AND ts - prev > 60
            """
        ).fetchall()
    )
    assert got == want and len(got) == 2
    stale = {
        r["series"]: (r["last_ts"], r["age_s"])
        for r in stale_series(df, now_ts=5000, timeout_s=1500).collect()
    }
    # series 1 last=510 (age 4490), series 3 last=100 (age 4900); series 2
    # last=4000 (age 1000, healthy)
    assert stale == {1: (510, 4490), 3: (100, 4900)}


def test_lttb_hand_computed_picks(spark):
    """LTTB on a 7-point series with a spike and a dip whose picks are
    derivable by hand (independent of the implementation, unlike the
    transcribed reference in the other test): n_out=4 → bucket edges
    [1,3,6]; bucket 1 picks the spike at t=2 (area 44 vs 6), bucket 2 the
    dip at t=4 (area 52 vs 26/6); endpoints always kept → ts [0,2,4,6]."""
    from sydradb_spark.functions.timeseries import lttb

    v = [0.0, 1.0, 10.0, 1.0, -8.0, 1.0, 0.0]
    df = spark.createDataFrame(
        [(1, i, x) for i, x in enumerate(v)], "series_id long, ts long, value double"
    )
    got = sorted(r["ts"] for r in lttb(df, n_out=4).collect())
    assert got == [0, 2, 4, 6]


def test_nan_robustness_monitoring_ops(spark):
    """One NaN reading must not flood (batch zscore), miscount (histogram),
    or permanently poison (streaming Welford state) the monitoring ops."""
    from sydradb_spark.functions.timeseries import anomalies_zscore, value_histogram

    rows = [(1, i, 10.0 + (i % 3) * 0.1) for i in range(30)] + [
        (1, 50, float("nan")),
        (1, 51, 500.0),  # genuine outlier after the NaN
    ]
    df = spark.createDataFrame(rows, "series_id long, ts long, value double")
    out = anomalies_zscore(df, threshold=3.0).collect()
    assert [(r["ts"], r["value"]) for r in out] == [(51, 500.0)]
    h = value_histogram(df, lo=0.0, hi=20.0, n_bins=4)
    # 30 clean in-bin points + the clamped 500.0; the NaN contributes nowhere
    assert sum(r["n"] for r in h.collect()) == 31


def test_streaming_anomalies_survives_nan(spark, tmp_path):
    import json

    from sydradb_spark.streaming.stateful import streaming_anomalies

    src = tmp_path / "nan_src"
    src.mkdir()
    batch = (
        [{"series_id": 1, "ts": i, "value": 10.0 + (i % 4) * 0.1} for i in range(15)]
        + [{"series_id": 1, "ts": 20, "value": None}]       # glitch
        + [{"series_id": 1, "ts": 21, "value": 400.0}]       # real outlier
    )
    (src / "b.ndjson").write_text("\n".join(map(json.dumps, batch)) + "\n")
    stream = spark.readStream.schema("series_id long, ts long, value double").json(
        str(src)
    )
    out_path = str(tmp_path / "nan_out")
    q = (
        streaming_anomalies(stream, threshold=3.0, min_points=10)
        .writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", str(tmp_path / "nan_ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.read.parquet(out_path).collect()
    assert [(r["ts"], r["value"]) for r in rows] == [(21, 400.0)]


def test_curate_corpus_lm_gate(spark):
    """The optional perplexity gate drops shuffled-vocabulary gibberish the
    closed-form quality score happily accepts, defaults stay untouched."""
    import random as _r

    from sydradb_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    lm = text.train_bigram_lm(docs)
    rnd = _r.Random(9)
    vocab = [w for r in docs.limit(10).collect() for w in r["text"].split()][:1500]
    gib = " ".join(rnd.choice(vocab) for _ in range(200))
    with_gib = docs.unionByName(
        spark.createDataFrame([(900001, gib)], "doc_id long, text string")
    )
    base = dedup.curate_corpus(with_gib, min_quality=0.3, near_dup_threshold=0.5)
    base_ids = {r["doc_id"] for r in base.select("doc_id").collect()}
    assert 900001 in base_ids  # closed-form quality does NOT catch it
    # threshold between the corpus' scores and the gibberish score
    s = {
        r["doc_id"]: r["avg_logprob"]
        for r in text.lm_score_docs(with_gib, lm).collect()
    }
    cutoff = s[900001] + 1e-6  # just above the gibberish score
    gated = dedup.curate_corpus(
        with_gib, min_quality=0.3, near_dup_threshold=0.5, lm=lm,
        lm_min_logprob=cutoff,
    )
    gated_ids = {r["doc_id"] for r in gated.select("doc_id").collect()}
    assert 900001 not in gated_ids
    below = {k for k, v in s.items() if v is not None and v < cutoff}
    assert below and not (below & gated_ids)
    # the staged gate ≡ filtering the input up front (dropping a doc before
    # dedup may promote a different near-dup keeper, so compare against the
    # pipeline run on the pre-filtered corpus, not base_ids - below)
    hand = dedup.curate_corpus(
        with_gib.where(~F.col("doc_id").isin(list(below))),
        min_quality=0.3,
        near_dup_threshold=0.5,
    )
    assert gated_ids == {r["doc_id"] for r in hand.select("doc_id").collect()}
    assert base_ids  # base run still referenced: gibberish passed without the gate


def test_compression_ratio(spark):
    """compression_ratio against the same stdlib zlib call (deterministic
    for a fixed level), plus the filtering property: repetitive boilerplate
    compresses far below natural text."""
    import zlib

    natural = " ".join(f"assorted word{i} with varied content {i*7%13}" for i in range(60))
    boiler = "click here to accept cookies " * 60
    rows = [(1, natural), (2, boiler), (3, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in text.compression_ratio(df).collect()}
    for doc_id, t in rows:
        b = t.encode("utf-8")
        if not b:
            assert got[doc_id]["ratio"] is None and got[doc_id]["n_bytes"] == 0
            continue
        c = len(zlib.compress(b, 6))
        assert got[doc_id]["n_bytes"] == len(b)
        assert got[doc_id]["n_compressed"] == c
        assert abs(got[doc_id]["ratio"] - round(c / len(b), 6)) < 1e-12
    assert got[2]["ratio"] < got[1]["ratio"] / 2  # boilerplate is an outlier


def test_stratified_sample(spark):
    """Strata are score-ordered and equal-population; per-stratum keep
    rates honor the requested fractions via the deterministic hash bucket
    (replayable: a rerun keeps exactly the same rows)."""
    from sydradb_spark.pipeline import curation

    docs = spark.createDataFrame(
        [(i, float(i)) for i in range(4000)], "doc_id long, q double"
    )
    out = curation.stratified_sample(docs, "q", fractions=[0.05, 0.2, 1.0])
    rows = out.collect()
    by_stratum: dict = {}
    for r in rows:
        by_stratum.setdefault(r["stratum"], []).append(r["doc_id"])
    # stratum ordering: every stratum-0 doc scores below every stratum-2 doc
    assert max(by_stratum[0]) < min(by_stratum[2])
    # fraction ordering holds with slack (hash-binomial noise on ~1333 rows)
    n0, n2 = len(by_stratum[0]), len(by_stratum[2])
    assert n2 > 1200  # fraction 1.0 keeps its whole stratum
    assert 20 <= n0 <= 140  # ~5% of ~1333
    assert len(by_stratum.get(1, [])) > n0
    # replayability: identical rerun
    again = sorted(r["doc_id"] for r in
                   curation.stratified_sample(docs, "q", fractions=[0.05, 0.2, 1.0]).collect())
    assert again == sorted(r["doc_id"] for r in rows)
    # NULL scores dropped
    with_null = docs.withColumn("q", F.when(F.col("doc_id") % 2 == 0, F.col("q")))
    kept = curation.stratified_sample(with_null, "q", fractions=[1.0]).collect()
    assert all(r["doc_id"] % 2 == 0 for r in kept)


def test_semantic_dedup_semdedup(spark):
    """SemDeDup: synthetic well-separated clusters checked against an
    independent numpy oracle (same deterministic sample-kmeans, cosine,
    keeper rule), plus invariants on the real embeddings table."""
    import numpy as np

    rng = np.random.RandomState(7)
    centers = np.eye(3, 8) * 10.0  # 3 orthogonal, well-separated centers
    rows = []
    vid = 0
    truth_vecs = {}
    for c in range(3):
        base = centers[c] + rng.normal(0, 0.2, 8)
        for j in range(3):
            # j=0 base; j=1 near-dup of base (tiny perturbation);
            # j=2 same cluster but angularly distinct
            if j == 0:
                v = base
            elif j == 1:
                v = base + rng.normal(0, 1e-3, 8)
            else:
                v = base + rng.normal(0, 3.0, 8)
            rows.append((vid, [float(x) for x in v]))
            truth_vecs[vid] = np.asarray(v, dtype=np.float64)
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = dedup.semantic_dedup(
        emb, threshold=0.99, n_clusters=3, sample_n=9, max_cluster=100
    ).collect()

    # independent oracle: same sample-kmeans (first-9 rows = all), numpy
    from sydradb_spark.pipeline.similarity import kmeans_fit_sample

    cents = np.asarray(
        kmeans_fit_sample([rows[i][1] for i in range(9)], k=3), dtype=np.float64
    )
    d2 = {
        v: float(((truth_vecs[v][None, :] - cents) ** 2).sum(axis=1).min())
        for v in truth_vecs
    }
    assign = {
        v: int(((truth_vecs[v][None, :] - cents) ** 2).sum(axis=1).argmin())
        for v in truth_vecs
    }
    # expected pairs: same assigned cluster, cosine >= 0.99
    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    exp_pairs = {
        (a, b)
        for a in truth_vecs
        for b in truth_vecs
        if a < b
        and assign[a] == assign[b]
        and cos(truth_vecs[a], truth_vecs[b]) >= 0.99
    }
    # each (3k, 3k+1) near-dup pair must be found, the distinct member not
    for k in range(3):
        assert (3 * k, 3 * k + 1) in exp_pairs  # sanity of the construction
    # union-find over expected pairs -> groups -> keeper = max d2, tie min id
    parent = {v: v for v in truth_vecs}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in exp_pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    exp_group = {v: find(v) for v in truth_vecs}
    exp_keep = {}
    for g in set(exp_group.values()):
        members = [v for v in truth_vecs if exp_group[v] == g]
        best = max(members, key=lambda v: (d2[v], -v))
        for v in members:
            exp_keep[v] = v == best
    got = {r["vec_id"]: r for r in out}
    assert set(got) == set(truth_vecs)
    for v in truth_vecs:
        assert got[v]["group_id"] == exp_group[v], (v, got[v], exp_group[v])
        assert got[v]["keep"] == exp_keep[v], (v, got[v].asDict(), exp_keep[v])
        assert got[v]["cluster"] == assign[v]

    # invariants on the real table + hot-cluster bypass semantics
    from sydradb_spark.tables import load_table

    real = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    res = dedup.semantic_dedup(real, threshold=0.95, n_clusters=4, sample_n=256)
    per_group = res.groupBy("group_id").agg(
        F.sum(F.col("keep").cast("int")).alias("n_keep"),
        F.count("*").alias("n"),
    )
    bad = per_group.where(F.col("n_keep") != 1).count()
    assert bad == 0  # exactly one keeper per group
    # bypass: max_cluster=1 makes every cluster hot -> no pairs -> all kept
    # AND (r10) every row must SAY it was bypassed — the silent version of
    # this path let the operator quietly no-op on a large corpus (r9
    # verdict finding 1)
    allkept = dedup.semantic_dedup(
        real, threshold=0.95, n_clusters=4, sample_n=256, max_cluster=1
    )
    assert allkept.where(~F.col("keep")).count() == 0
    assert allkept.where(~F.col("bypassed")).count() == 0
    # and with the default max_cluster nothing on this corpus is hot
    assert res.where(F.col("bypassed")).count() == 0


def test_semantic_dedup_partial_bypass_and_derived_k(spark, caplog):
    """One hot cluster bypasses (members kept verbatim, marked) while the
    other cluster still dedups; the bypass is logged; and the default
    n_clusters derives from corpus size / target_cluster_size."""
    import logging

    import numpy as np

    rng = np.random.RandomState(11)
    rows = []
    # cluster A: 30 mutually-similar vectors (hot at max_cluster=10)
    base_a = np.array([10.0, 0.0, 0.0, 0.0])
    for i in range(30):
        v = base_a + rng.normal(0, 0.01, 4)
        rows.append((i, [float(x) for x in v]))
    # cluster B: 3 vectors, two of them near-dups
    base_b = np.array([0.0, 10.0, 0.0, 0.0])
    rows.append((100, [float(x) for x in base_b]))
    rows.append((101, [float(x) for x in base_b + rng.normal(0, 1e-3, 4)]))
    rows.append((102, [float(x) for x in base_b + np.array([0.0, 0.0, 8.0, 0.0])]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with caplog.at_level(logging.WARNING, logger="sydradb_spark.pipeline.dedup"):
        out = {
            r["vec_id"]: r
            for r in dedup.semantic_dedup(
                emb, threshold=0.99, n_clusters=2, sample_n=33, max_cluster=10
            ).collect()
        }
    assert any("bypassed dedup" in m for m in caplog.messages)
    a_ids = [i for i in range(30)]
    assert all(out[i]["bypassed"] for i in a_ids)
    assert all(out[i]["keep"] for i in a_ids)  # bypass keeps verbatim
    assert all(out[i]["group_id"] == i for i in a_ids)  # no grouping either
    for i in (100, 101, 102):
        assert not out[i]["bypassed"]
    # cluster B still dedups: 100/101 group together, one keeper
    assert out[100]["group_id"] == out[101]["group_id"] == 100
    assert out[100]["keep"] != out[101]["keep"]
    assert out[102]["keep"] and out[102]["group_id"] == 102

    # derived default k: 33 vectors / target 4 -> ceil = 9, within
    # [8, sample_n//8 = 16] -> 9 clusters, observable via the cluster ids
    derived = dedup.semantic_dedup(
        emb, threshold=0.99, sample_n=128, target_cluster_size=4
    )
    n_clusters_seen = derived.select("cluster").distinct().count()
    assert derived.agg(F.max("cluster")).first()[0] <= 8
    assert n_clusters_seen >= 2  # kmeans found real structure
    # floor: huge target -> k clamps to the floor of 8, never 1
    floor = dedup.semantic_dedup(
        emb, threshold=0.99, sample_n=128, target_cluster_size=10**6
    )
    assert floor.agg(F.max("cluster")).first()[0] <= 7


def test_minhash_index_split_matches_fused(spark, tmp_path):
    """The build/query split must answer EXACTLY what the fused
    minhash_near_dups answers, and append-only maintenance must equal a
    full rebuild (shingle/band rows are doc-local, like BM25 postings)."""
    from sydradb_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    fused = {
        (r["a"], r["b"]): round(r["jaccard"], 9)
        for r in dedup.minhash_near_dups(docs, threshold=0.2).collect()
    }
    path = str(tmp_path / "mh_idx")
    dedup.minhash_write_index(docs, path)
    sh, bands = dedup.minhash_read_index(spark, path)
    split = {
        (r["a"], r["b"]): round(r["jaccard"], 9)
        for r in dedup.minhash_query_index(sh, bands, threshold=0.2).collect()
    }
    assert split == fused and len(fused) > 0

    # append-only maintenance: index(b1) ++ index(b2) == index(all)
    p2 = str(tmp_path / "mh_idx_inc")
    b1 = docs.where(F.col("doc_id") % 2 == 0)
    b2 = docs.where(F.col("doc_id") % 2 == 1)
    dedup.minhash_write_index(b1, p2)
    dedup.shingle_arrays(b2).write.mode("append").parquet(f"{p2}/arrays")
    dedup.minhash_band_signatures(dedup.shingle_table(b2)).write.mode(
        "append"
    ).parquet(f"{p2}/bands")
    shi, bai = dedup.minhash_read_index(spark, p2)
    inc = {
        (r["a"], r["b"]): round(r["jaccard"], 9)
        for r in dedup.minhash_query_index(shi, bai, threshold=0.2).collect()
    }
    assert inc == fused


def test_minhash_index_version_guard(spark, tmp_path):
    """minhash_read_index must refuse a stale on-disk layout instead of
    letting mode='append' maintenance build a mixed-schema directory
    (r9 changed arr from array<string> to array<long> unmarked)."""
    import pytest

    from sydradb_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(20)
    path = str(tmp_path / "idx")
    dedup.minhash_write_index(docs, path)
    assert (
        open(f"{path}/_INDEX_VERSION").read().strip()
        == str(dedup.MINHASH_INDEX_VERSION)
    )
    dedup.minhash_read_index(spark, path)  # current layout reads fine

    # stale sidecar -> fail fast with rebuild guidance
    with open(f"{path}/_INDEX_VERSION", "w") as fh:
        fh.write("1\n")
    with pytest.raises(ValueError, match="rebuild"):
        dedup.minhash_read_index(spark, path)

    # unversioned pre-r9 layout (string shingles, no sidecar) -> fail fast
    p2 = str(tmp_path / "idx_v1")
    docs.select(
        "doc_id", F.split(F.col("text"), r"\s+").alias("arr")
    ).write.parquet(f"{p2}/arrays")
    dedup.minhash_band_signatures(dedup.shingle_table(docs)).write.parquet(
        f"{p2}/bands"
    )
    with pytest.raises(ValueError, match="rebuild"):
        dedup.minhash_read_index(spark, p2)


def test_winnow_index_split_matches_fused(spark, tmp_path):
    """winnow_query_index against a materialized index must answer exactly
    what the fused winnow_overlap_pairs answers for pairs involving the
    probes; the scan must prune to the probes' fingerprint partitions;
    append-only maintenance must equal a full rebuild."""
    from sydradb_spark.pipeline import text as T
    from sydradb_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    fused = {
        frozenset((r["a"], r["b"])): (r["shared"], round(r["overlap"], 9))
        for r in T.winnow_overlap_pairs(docs, min_shared=2).collect()
    }
    assert fused  # construction sanity: the table has containment pairs

    path = str(tmp_path / "wn_idx")
    T.winnow_write_index(docs, path)
    idx = T.winnow_read_index(spark, path)
    assert "fpb" in idx.columns

    probes = docs.where(F.pmod(F.col("doc_id"), F.lit(7)) == 0)
    probe_ids = {r["doc_id"] for r in probes.select("doc_id").collect()}
    q = T.winnow_query_index(idx, probes, min_shared=2)
    got = {
        frozenset((r["probe_id"], r["doc_id"])): (
            r["shared"],
            round(r["overlap"], 9),
        )
        for r in q.collect()
    }
    exp = {
        pair: v
        for pair, v in fused.items()
        if pair & probe_ids
        # pairs where BOTH sides are probes come back twice (once per
        # direction) but collapse to the same frozenset entry
    }
    assert got == exp and len(got) > 0

    # the executed plan prunes to the probes' fingerprint buckets
    plan = q._jdf.queryExecution().executedPlan().toString()
    pf = (
        plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
        if "PartitionFilters" in plan
        else ""
    )
    assert "fpb" in pf, plan[:2000]

    # append-only maintenance == full rebuild
    p2 = str(tmp_path / "wn_idx_inc")
    b1 = docs.where(F.col("doc_id") % 2 == 0)
    b2 = docs.where(F.col("doc_id") % 2 == 1)
    T.winnow_write_index(b1, p2)
    T.winnow_index(b2).withColumn(
        "fpb", T.winnow_fp_bucket(F.col("fp"))
    ).write.mode("append").partitionBy("fpb").parquet(f"{p2}/fps")
    inc = {
        frozenset((r["probe_id"], r["doc_id"])): (
            r["shared"],
            round(r["overlap"], 9),
        )
        for r in T.winnow_query_index(
            T.winnow_read_index(spark, p2), probes, min_shared=2
        ).collect()
    }
    assert inc == exp

    # version guard
    import pytest

    with open(f"{path}/_INDEX_VERSION", "w") as fh:
        fh.write("99\n")
    with pytest.raises(ValueError, match="rebuild"):
        T.winnow_read_index(spark, path)


def test_semantic_dedup_string_ids(spark):
    """The keeper tie-break must work for ANY orderable id type (the
    pre-r08 (-id) trick silently required numeric ids): exact-duplicate
    vectors tie on centroid_d2, so the keeper is the MIN string id."""
    rows = [
        ("b", [1.0, 0.0, 0.0]),
        ("a", [1.0, 0.0, 0.0]),  # exact dup of "b" -> d2 tie -> min id "a"
        ("z", [0.0, 1.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    out = {
        r["vec_id"]: r
        for r in dedup.semantic_dedup(
            emb, threshold=0.999, n_clusters=1, sample_n=3, max_cluster=10
        ).collect()
    }
    assert out["a"]["group_id"] == "a" and out["b"]["group_id"] == "a"
    assert out["a"]["keep"] is True and out["b"]["keep"] is False
    assert out["z"]["keep"] is True and out["z"]["group_id"] == "z"


def test_lsh_tuning_s_curve():
    """(b, r) selection follows the MMDS S-curve: midpoint (1/b)^(1/r)
    sits at/just below the target threshold, and the chosen curve gives
    pairs AT the threshold a high candidate probability."""
    for threshold in (0.2, 0.5, 0.8, 0.95):
        b, r, mid = dedup.lsh_tuning(threshold)
        assert b * r == dedup.NUM_HASHES
        assert mid == (1.0 / b) ** (1.0 / r)
        p_at_t = 1.0 - (1.0 - threshold**r) ** b
        assert p_at_t >= 0.5, (threshold, b, r, p_at_t)
        # no other divisor pair with midpoint <= threshold sits closer
        for r2 in range(1, dedup.NUM_HASHES + 1):
            if dedup.NUM_HASHES % r2:
                continue
            b2 = dedup.NUM_HASHES // r2
            mid2 = (1.0 / b2) ** (1.0 / r2)
            if mid2 <= threshold:
                assert threshold - mid <= threshold - mid2 + 1e-12
    # the shipped default (8 bands x 2 rows) is what mid-range targeting
    # picks (its S-curve midpoint is (1/8)^(1/2) = 0.354)
    assert dedup.lsh_tuning(0.4)[:2] == (8, 2)
    assert dedup.lsh_tuning(0.5)[:2] == (8, 2)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        dedup.lsh_tuning(0.0)


def test_hot_bucket_guard_opt_in(spark):
    """Opt-in max_bucket on simhash/embedding candidate generation:
    default None keeps pigeonhole-exact output; a small cap drops the
    degenerate bucket's pairs (documented recall trade-off) and bounds
    the self-join."""
    # 40 identical docs (one simhash bucket) + 2 distinct near-dup docs
    rows = [(i, "common boilerplate page text here") for i in range(40)]
    rows += [(100, "alpha beta gamma delta epsilon"), (101, "alpha beta gamma delta zeta")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    exact = dedup.simhash_near_pairs(docs, max_hamming=3)
    n_exact = exact.count()
    assert n_exact >= 40 * 39 // 2  # identical docs all pair up
    capped = dedup.simhash_near_pairs(docs, max_hamming=3, max_bucket=8)
    n_capped = capped.count()
    assert n_capped < n_exact
    # the boilerplate block never materializes: no pair among doc_ids 0..39
    assert capped.where((F.col("a") < 40) & (F.col("b") < 40)).count() == 0

    emb_rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(20)]
    emb_rows += [(50, [0.0, 1.0, 0.1, 0.0]), (51, [0.0, 1.0, 0.11, 0.0])]
    emb = spark.createDataFrame(emb_rows, "vec_id long, embedding array<double>")
    full = dedup.embedding_near_dups(emb, threshold=0.99)
    assert full.count() >= 20 * 19 // 2
    capped_e = dedup.embedding_near_dups(emb, threshold=0.99, max_bucket=5)
    assert capped_e.where((F.col("a") < 20) & (F.col("b") < 20)).count() == 0
    # the small genuine pair survives the cap in both paths
    assert capped_e.where((F.col("a") == 50) & (F.col("b") == 51)).count() == 1


def test_sign_bucket_short_dims_cross_engine(spark):
    """Vectors shorter than the default plane dim must spread across
    buckets (a NULL-padded zip_with used to poison the projection and
    collapse EVERY short vector into bucket 0 — cartesian blowup), and
    the Spark bucket must equal the DuckDB twin for any dim."""
    import duckdb

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.1, 0.0]),
        (2, [-1.0, 0.5, 0.0, 2.0]),
        (3, [0.3, -2.0, 1.0, 0.5]),
        (4, [2.0, 2.0, -3.0, 0.25]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r["vec_id"]: r["b"]
        for r in emb.select(
            "vec_id", similarity.sign_bucket(F.col("embedding")).alias("b")
        ).collect()
    }
    assert len(set(got.values())) > 1  # no single-bucket collapse
    con = duckdb.connect()
    sql = similarity.sign_bucket_sql("embedding")
    for vid, vec in rows:
        lit = "[" + ", ".join(repr(v) for v in vec) + "]"
        d = con.sql(f"SELECT {sql.replace('embedding', lit)}").fetchone()[0]
        assert got[vid] == d, (vid, got[vid], d)
    # a NULL element must contribute 0 on BOTH engines (Spark coalesce ==
    # DuckDB list_sum NULL-skip), not poison the Spark sum into bucket 0
    nvec = [None, 1.0, -2.0, 0.5]
    nemb = spark.createDataFrame([(9, nvec)], "vec_id long, embedding array<double>")
    ngot = nemb.select(similarity.sign_bucket(F.col("embedding")).alias("b")).first()["b"]
    nlit = "[NULL, 1.0, -2.0, 0.5]"
    nd = con.sql(f"SELECT {sql.replace('embedding', nlit)}").fetchone()[0]
    assert ngot == nd and ngot != 0, (ngot, nd)


def test_with_sign_bucket_norm_bit_exact_vs_hof(spark):
    """The vectorized Arrow bucket+norm kernel (r16) must be BIT-for-bit
    equal to the interpreted sign_bucket/_norm HOF folds on every edge:
    real-shaped vectors, float32 and float64 payloads, NULL vector
    (HOF → bucket 0 + NULL norm), NaN element (Spark's NaN-greatest
    `d > 0` → all bits set, NaN norm), empty array, NULL element
    (contributes +0.0 to the dot, poisons the norm), and lengths shorter
    and longer than the plane dim. Doubles are compared by raw IEEE bits."""
    import math
    import struct

    planes = similarity.hyperplanes()
    dim = len(planes[0])
    rows = [
        (0, [(-1.0) ** i * (0.37 + 0.01 * i) for i in range(dim)]),
        (1, [1e-3] * dim),
        (2, None),
        (3, []),
        (4, [float("nan")] + [0.5] * (dim - 1)),
        (5, [0.25, None, -1.5] + [0.125] * (dim - 3)),
        (6, [0.25] * (dim // 2)),
        (7, [0.75] * (dim + 3)),
    ]
    for elem_t in ("float", "double"):
        emb = spark.createDataFrame(
            rows, f"vec_id long, embedding array<{elem_t}>"
        )
        hof = {
            r["vec_id"]: (r["b"], r["n"])
            for r in emb.select(
                "vec_id",
                similarity.sign_bucket(F.col("embedding"), planes).alias("b"),
                similarity._norm(F.col("embedding")).alias("n"),
            ).collect()
        }
        kern = {
            r["vec_id"]: (r["b"], r["n"])
            for r in similarity.with_sign_bucket_norm(
                emb, "embedding", "b", "n", planes
            ).collect()
        }

        def bits(x):
            return None if x is None else struct.pack(">d", x).hex()

        for vid in hof:
            hb, hn = hof[vid]
            kb, kn = kern[vid]
            assert hb == kb, (elem_t, vid, hb, kb)
            assert bits(hn) == bits(kn), (elem_t, vid, hn, kn)
        # sanity on the pinned edge semantics themselves
        assert hof[2] == (0, None)
        assert hof[4][0] == (1 << len(planes)) - 1 and math.isnan(hof[4][1])


def test_with_sign_bucket_norm_row_slices_bit_exact_vs_hof(spark, monkeypatch):
    """The kernel's fast path folds a uniform batch in row slices bounded by
    ``SIGN_BUCKET_SLICE_BYTES``. With the budget cut to 3 rows of products,
    one 10-row Arrow batch spans 4 slices and must still equal the HOF folds
    bit for bit."""
    import struct

    planes = similarity.hyperplanes()
    dim = len(planes[0])
    monkeypatch.setattr(similarity, "SIGN_BUCKET_SLICE_BYTES", 3 * 8 * len(planes) * dim)
    rows = [
        (i, [((-1.0) ** (i + j)) * (0.1 + 0.013 * i * j) for j in range(dim)])
        for i in range(10)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>").coalesce(1)

    def bits(x):
        return struct.pack(">d", x).hex()

    hof = {
        r["vec_id"]: (r["b"], bits(r["n"]))
        for r in emb.select(
            "vec_id",
            similarity.sign_bucket(F.col("embedding"), planes).alias("b"),
            similarity._norm(F.col("embedding")).alias("n"),
        ).collect()
    }
    kern = {
        r["vec_id"]: (r["b"], bits(r["n"]))
        for r in similarity.with_sign_bucket_norm(emb, "embedding", "b", "n", planes).collect()
    }
    assert kern == hof and len(set(b for b, _ in hof.values())) > 1


def test_bm25_search_duckdb_oracle(spark):
    """BM25 (Lucene-classic k1=1.2, b=0.75) against a DuckDB twin of the
    whole pipeline — tokenize, postings, df/idf, per-doc score, top-k —
    on the real documents table. Scores compared at 1e-9 (summation
    order differs across engines), ranking must agree exactly."""
    import duckdb

    from sydradb_spark.pipeline import retrieval
    from sydradb_spark.tables import load_table

    sf = "/root/testdata/sf0.01"
    docs = load_table(spark, sf, "documents")
    idx = retrieval.bm25_index(docs)
    n, avgdl = retrieval.bm25_corpus_stats(idx)
    query = "the data model and system"
    got = retrieval.bm25_search(idx, query, k=15, n_docs=n, avgdl=avgdl).collect()

    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet')"
    )
    q_terms = retrieval.query_terms(spark, query)  # the engine's analyzer
    terms_lit = ", ".join(f"'{t}'" for t in q_terms)
    oracle = con.sql(
        f"""
WITH stripped AS (
  SELECT doc_id, regexp_replace(lower(text), '^[ \\t\\n\\x0b\\f\\r]+|[ \\t\\n\\x0b\\f\\r]+$', '', 'g') AS t
  FROM documents
), toks AS (
  SELECT doc_id,
         CASE WHEN length(t) = 0 THEN []
              ELSE regexp_split_to_array(t, '[ \\t\\n\\x0b\\f\\r]+') END AS tk
  FROM stripped
), post AS (
  SELECT doc_id, len(tk) AS dl, unnest(tk) AS term FROM toks
), tf AS (
  SELECT term, doc_id, dl, count(*) AS tf FROM post GROUP BY 1, 2, 3
), stats AS (
  SELECT count(*) AS n, avg(dl) AS avgdl FROM (SELECT DISTINCT doc_id, dl FROM tf)
), dfreq AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tf
  WHERE term IN ({terms_lit}) GROUP BY 1
), scored AS (
  SELECT tf.doc_id,
         sum(ln(1.0 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
             * CAST(tf.tf AS DOUBLE) * (1.2 + 1.0)
             / (CAST(tf.tf AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * CAST(tf.dl AS DOUBLE) / stats.avgdl))
         ) AS score
  FROM tf JOIN dfreq USING (term), stats
  GROUP BY 1
)
SELECT doc_id, score FROM scored ORDER BY score DESC, doc_id ASC LIMIT 15"""
    ).fetchall()

    assert [r["doc_id"] for r in got] == [r[0] for r in oracle]
    for g, o in zip(got, oracle):
        assert abs(g["score"] - o[1]) < 1e-9, (g, o)
    assert len(got) == 15 and got[0]["score"] > got[-1]["score"]


def test_bm25_postings_filter_pushdown(spark, tmp_path):
    """The query-term filter must reach the parquet scan of a materialized
    postings index (PushedFilters with In(term, ...)), so a term-
    partitioned index at scale reads only the query's buckets."""
    from sydradb_spark.pipeline import retrieval
    from sydradb_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    path = str(tmp_path / "bm25_idx")
    retrieval.bm25_index(docs).write.mode("overwrite").parquet(path)
    idx = spark.read.parquet(path)
    n, avgdl = retrieval.bm25_corpus_stats(idx)
    plan = retrieval.bm25_search(idx, "data system", k=5, n_docs=n, avgdl=avgdl)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "In(term" in plan, plan[:2000]


def test_bm25_partitioned_index_prunes_and_matches(spark, tmp_path):
    """bm25_write_index's term-hash layout: a search must read ONLY the
    query terms' partitions (PartitionFilters on tb — directory-level
    prune, the inverted-index seek) and return exactly what the
    unpartitioned index returns."""
    from sydradb_spark.pipeline import retrieval
    from sydradb_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    flat_idx = retrieval.bm25_index(docs)
    n, avgdl = retrieval.bm25_corpus_stats(flat_idx)

    path = str(tmp_path / "bm25_part")
    retrieval.bm25_write_index(docs, path)
    pidx = retrieval.bm25_read_index(spark, path)
    assert "tb" in pidx.columns

    query = "data system model"
    plain = retrieval.bm25_search(flat_idx, query, k=10, n_docs=n, avgdl=avgdl)
    part = retrieval.bm25_search(pidx, query, k=10, n_docs=n, avgdl=avgdl)
    assert [(r["doc_id"], round(r["score"], 9)) for r in plain.collect()] == [
        (r["doc_id"], round(r["score"], 9)) for r in part.collect()
    ]
    plan = part._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "tb" in plan.split("PartitionFilters", 1)[1].split("]", 1)[0], plan[:2000]
    # the data filter still reaches the row groups too
    assert "In(term" in plan
    # stats agree across layouts (tb is a partition column, not a posting)
    n2, avgdl2 = retrieval.bm25_corpus_stats(pidx)
    assert (n, avgdl) == (n2, avgdl2)


def test_bm25_tokenizer_edge_cases(spark):
    """Trailing/leading non-space whitespace must not create phantom ''
    tokens or inflate dl; query tokenization matches Java \\s exactly
    (no Unicode-whitespace splitting Python's str.split would do)."""
    from sydradb_spark.pipeline import retrieval

    docs = spark.createDataFrame(
        [
            (1, "hello world\n"),
            (2, "\n"),
            (3, "  a\tb  "),
            (4, ""),
            (5, None),
        ],
        "doc_id long, text string",
    )
    idx = retrieval.bm25_index(docs).collect()
    by_doc: dict = {}
    for r in idx:
        by_doc.setdefault(r["doc_id"], {})[r["term"]] = (r["tf"], r["dl"])
    assert by_doc[1] == {"hello": (1, 2), "world": (1, 2)}
    assert 2 not in by_doc and 4 not in by_doc and 5 not in by_doc
    assert by_doc[3] == {"a": (1, 2), "b": (1, 2)}
    n, avgdl = retrieval.bm25_corpus_stats(
        retrieval.bm25_index(docs)
    )
    assert n == 2 and avgdl == 2.0
    # query twin: NBSP is NOT a separator (matches the index's Java \s)
    assert retrieval.query_terms(spark, "data\u00a0system other\n") == [
        "data\u00a0system",
        "other",
    ]
    # vertical tab IS a separator in Java \s (and in the oracle's twin class)
    assert retrieval.query_terms(spark, "a\x0bb") == ["a", "b"]
    # empty-query fast path keeps the index's doc_id type
    sidx = retrieval.bm25_index(
        spark.createDataFrame([("k1", "x y")], "doc_id string, text string")
    )
    empty = retrieval.bm25_search(sidx, "   ")
    assert empty.schema["doc_id"].dataType.simpleString() == "string"
    assert empty.count() == 0


def test_bm25_repeated_query_term_scores_per_occurrence(spark):
    """A query term appearing twice contributes twice (Lucene-classic: a
    duplicated term is a duplicated BooleanQuery clause) — the r07 build
    silently collapsed duplicates to one contribution."""
    from sydradb_spark.pipeline import retrieval

    docs = spark.createDataFrame(
        [(1, "apple banana"), (2, "banana cherry"), (3, "cherry date")],
        "doc_id long, text string",
    )
    idx = retrieval.bm25_index(docs)
    n, avgdl = retrieval.bm25_corpus_stats(idx)
    assert retrieval.query_term_freqs(spark, "banana apple banana") == [
        ("apple", 1),
        ("banana", 2),
    ]
    single = {
        r["doc_id"]: r["score"]
        for r in retrieval.bm25_scores(idx, "banana", n_docs=n, avgdl=avgdl).collect()
    }
    double = {
        r["doc_id"]: r["score"]
        for r in retrieval.bm25_scores(
            idx, "banana banana", n_docs=n, avgdl=avgdl
        ).collect()
    }
    assert set(single) == set(double) == {1, 2}
    for d in single:
        assert abs(double[d] - 2.0 * single[d]) < 1e-12
    # mixed query: repeated term doubled, unique term unchanged
    mixed = {
        r["doc_id"]: r["score"]
        for r in retrieval.bm25_scores(
            idx, "apple banana banana", n_docs=n, avgdl=avgdl
        ).collect()
    }
    apple_only = {
        r["doc_id"]: r["score"]
        for r in retrieval.bm25_scores(idx, "apple", n_docs=n, avgdl=avgdl).collect()
    }
    assert abs(mixed[1] - (apple_only[1] + 2.0 * single[1])) < 1e-12
    assert abs(mixed[2] - 2.0 * single[2]) < 1e-12


def test_bm25_incremental_append_exact(spark):
    """Postings are doc-local (tf, dl depend only on their own doc), so
    append-only index maintenance is EXACT: index(batch1) ++
    index(batch2) equals index(batch1 ++ batch2) row for row — the
    crawl-scenario maintenance story needs no rebuild and no merge
    logic, just a parquet append."""
    from sydradb_spark.pipeline import retrieval
    from sydradb_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    b1 = docs.where(F.col("doc_id") % 2 == 0)
    b2 = docs.where(F.col("doc_id") % 2 == 1)
    merged = retrieval.bm25_index(b1).unionByName(retrieval.bm25_index(b2))
    full = retrieval.bm25_index(docs)
    assert merged.exceptAll(full).isEmpty() and full.exceptAll(merged).isEmpty()
    # stats recompute from the appended postings, and search agrees
    n, avgdl = retrieval.bm25_corpus_stats(merged)
    n2, avgdl2 = retrieval.bm25_corpus_stats(full)
    assert (n, avgdl) == (n2, avgdl2)
    a = retrieval.bm25_search(merged, "data model", k=5, n_docs=n, avgdl=avgdl).collect()
    b = retrieval.bm25_search(full, "data model", k=5, n_docs=n2, avgdl=avgdl2).collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in a] == [
        (r["doc_id"], round(r["score"], 9)) for r in b
    ]


def test_bpe_train_batched_equals_sequential(spark):
    """Batched training (VERDICT r10 item 2): top-m symbol-disjoint merges
    per round. On a corpus whose hot pairs are symbol-disjoint and context-
    spread (no merge-cascade pair out-ranks the batch), batched ≡ sequential
    exactly; m=1 preserves the classic tie-break contract (pinned separately
    against the pure-Python reference)."""
    from sydradb_spark.pipeline import bpe

    p1 = ["gabh", "iabj", "kabl", "mabn", "oabp"]  # (a,b) x4 -> count 20
    p2 = ["qcdr", "scdt", "ucdv", "wcdx", "ycdz"]  # (c,d) x3 -> count 15
    p3 = ["0ef1", "2ef3", "4ef5", "6ef7", "8ef9"]  # (e,f) x2 -> count 10
    rows = [
        (1, " ".join(p1 * 4)),
        (2, " ".join(p2 * 3)),
        (3, " ".join(p3 * 2)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    seq = bpe.bpe_train(df, n_merges=3)  # batch_size=1: exact classic BPE
    assert seq == [("a", "b"), ("c", "d"), ("e", "f")]
    for m in (2, 3, 8):
        assert bpe.bpe_train(df, n_merges=3, batch_size=m) == seq, m
    # early stop still works batched: a corpus with no repeating pair at all
    lone = spark.createDataFrame([(9, "qz wx")], "doc_id long, text string")
    assert bpe.bpe_train(lone, n_merges=50, batch_size=4) == []


def test_funnel_hot_user_cap_default_and_verdict(spark):
    """The hot-user guard is ON by default (1M cap, far beyond test data —
    truncated=false everywhere) and an explicit small cap marks capped users
    with the truncated verdict while keeping within-cap users exact."""
    from sydradb_spark.pipeline import events as ev_ops

    rows = (
        # bot user 1: 6 'a' events then the 'b' that would convert it
        [(1, "a", float(t)) for t in range(6)]
        + [(1, "b", 6.5)]
        # human user 2: clean a->b
        + [(2, "a", 1.0), (2, "b", 2.0)]
    )
    df = spark.createDataFrame(rows, "user_id long, event_type string, ts double")
    # default cap: nothing truncated at this scale
    dflt = {r["user"]: r for r in ev_ops.funnel_stages(df, ["a", "b"], 100.0).collect()}
    assert not dflt[1]["truncated"] and not dflt[2]["truncated"]
    assert dflt[1]["stage"] == 2 and dflt[2]["stage"] == 2
    # cap=3: user 1 keeps only its first 3 'a' events -> never reaches 'b';
    # the verdict column says exactly who was capped
    capped = {
        r["user"]: r
        for r in ev_ops.funnel_stages(
            df, ["a", "b"], 100.0, max_events_per_user=3
        ).collect()
    }
    assert capped[1]["truncated"] and capped[1]["stage"] == 1
    assert not capped[2]["truncated"] and capped[2]["stage"] == 2


def test_knn_brute_arrow_equals_hof(spark):
    """knn_brute_arrow (numpy matmul kernel) == knn_brute (oracle-identical
    HOF fold) at the contract's 1e-6 rounding, including zero-norm null
    semantics and vec_id tie-breaks."""
    import math
    import random

    from sydradb_spark.pipeline import similarity as S

    rng = random.Random(11)
    dim = 16
    rows = [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(40)]
    rows.append((40, [0.0] * dim))  # zero-norm corpus vector -> null cosine
    rows.append((41, rows[10][1]))  # exact duplicate -> cosine tie, id break
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.where("vec_id < 3")
    c = emb.where("vec_id >= 3")

    def keyed(df):
        return {
            (r["query_id"], r["vec_id"]): (
                None if r["cosine"] is None else round(r["cosine"], 6),
                r["rank"],
            )
            for r in df.collect()
        }

    a = keyed(S.knn_brute(q, c, k=41))  # k > corpus: nulls must appear last
    b = keyed(S.knn_brute_arrow(q, c, k=41))
    assert a == b
    a5 = keyed(S.knn_brute(q, c, k=5))
    b5 = keyed(S.knn_brute_arrow(q, c, k=5))
    assert a5 == b5
    # empty query set: empty frame with the contract schema
    empty = S.knn_brute_arrow(q.where("vec_id < 0"), c, k=5)
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == [
        "query_id",
        "vec_id",
        "cosine",
        "rank",
    ]


def test_stratified_sample_frozen_cuts(spark):
    """Explicit cuts freeze the boundaries: membership equals the estimated
    path when the cuts match, stays consistent for an incremental batch
    stratified against corpus-wide boundaries, and validates length."""
    import pytest as _pytest

    from sydradb_spark.pipeline import curation

    docs = spark.createDataFrame(
        [(i, float(i)) for i in range(300)], "doc_id long, q double"
    )
    est = {
        (r["doc_id"], r["stratum"])
        for r in curation.stratified_sample(docs, "q", [0.05, 0.2, 1.0]).collect()
    }
    # freezing the exact cuts the estimator produced reproduces it
    sketch = docs.agg(
        F.percentile_approx("q", [1 / 3, 2 / 3]).alias("c")
    ).collect()[0]["c"]
    froz = {
        (r["doc_id"], r["stratum"])
        for r in curation.stratified_sample(
            docs, "q", [0.05, 0.2, 1.0], cuts=[float(c) for c in sketch]
        ).collect()
    }
    assert froz == est
    cuts = [100.0, 200.0]
    # an incremental batch stratified against the SAME frozen cuts lands in
    # the stratum the full corpus would give it (score 250 -> top stratum)
    batch = spark.createDataFrame([(1000, 250.0)], "doc_id long, q double")
    got = curation.stratified_sample(batch, "q", [1.0, 1.0, 1.0], cuts=cuts).collect()
    assert [(r["doc_id"], r["stratum"]) for r in got] == [(1000, 2)]
    with _pytest.raises(ValueError):
        curation.stratified_sample(docs, "q", [0.5, 0.5], cuts=[1.0, 2.0])


def test_text_stats_arrow_bit_identical(spark):
    """The fused Arrow kernel reproduces the expression battery (as fused by
    the text_stats contract entry) BIT-IDENTICALLY — raw doubles compared
    with ==, no rounding — across whitespace/unicode/punct edge cases."""
    from sydradb_spark.pipeline import text as T

    docs = spark.createDataFrame(
        [
            (0, ""),
            (1, " "),
            (2, "\t"),
            (3, "a"),
            (4, "a b a b b"),
            (5, "x\r\ny\n\nz "),
            (6, "  tab\tsep  mixed \t ws "),
            (7, "a1b2 and 12ab34 go"),
            (8, "line one\nline one\nline two\n\n  \n"),
            (9, "café naïve café café"),
            (10, ".,;:!?'\"()[]{}- mixed! (punct)."),
            (11, "\x0bvertical\x0btab"),
            (12, "spam spam spam spam ham"),
            # null text is deliberately NOT pinned here: F.size(null) is
            # session-dependent (-1 legacy, null ANSI); the kernel follows
            # ANSI (counts null, ratios 0.0) and real corpora are non-null
            (13, "...---...  '\"quoted\"'"),
            (14, "ends with newline\n"),
            (15, "one two one two one two one"),
        ],
        "doc_id long, text string",
    )
    t = F.col("text")
    pre = docs.select(
        "doc_id",
        t.alias("__t"),
        T.tokens(t).alias("__toks"),
        T.lines_nonempty(t).alias("__lines"),
    ).select(
        "doc_id",
        "__t",
        "__toks",
        "__lines",
        F.array_sort(T.word_bigrams(F.col("__t"), F.col("__toks"))).alias("__sbg"),
    )
    q = T.quality_columns(F.col("__t"), toks=F.col("__toks"))
    r = T.repetition_columns(
        F.col("__t"), lines=F.col("__lines"), sorted_bigrams=F.col("__sbg")
    )
    expr = pre.select(
        "doc_id",
        q["n_chars"].alias("n_chars"),
        q["n_tokens"].alias("n_tokens"),
        T.bpe_ish_token_count(F.col("__t")).cast("long").alias("n_tokens_bpe"),
        q["distinct_ratio"].alias("distinct_ratio"),
        q["mean_word_len"].alias("mean_word_len"),
        q["space_ratio"].alias("space_ratio"),
        q["punct_ratio"].alias("punct_ratio"),
        r["n_lines"].alias("n_lines"),
        r["dup_line_ratio"].alias("dup_line_ratio"),
        r["top_bigram_ratio"].alias("top_bigram_ratio"),
    )
    a = {r2["doc_id"]: r2.asDict() for r2 in expr.collect()}
    b = {r2["doc_id"]: r2.asDict() for r2 in T.text_stats_arrow(docs).collect()}
    assert a == b, {k: (a[k], b[k]) for k in a if a[k] != b[k]}


def test_pack_sequences_sharded(spark):
    """shards>1 (hot-group guard): every doc packed exactly once, fills
    respect the budget, bins never span shards (bin_id high bits = shard),
    and membership is deterministic across repartitioning."""
    from sydradb_spark.pipeline import curation

    docs = spark.createDataFrame(
        [(i, "s", " ".join(["w"] * (1 + i % 7))) for i in range(200)],
        "doc_id long, source string, text string",
    )
    out = curation.pack_sequences(docs, budget=10, shards=4).collect()
    assert len(out) == 200 and len({r["doc_id"] for r in out}) == 200
    fills = {}
    for r in out:
        fills.setdefault(r["bin_id"], 0)
        fills[r["bin_id"]] += r["n_tokens"]
        assert r["bin_fill"] <= 10
    assert all(v <= 10 for v in fills.values())
    # shard recoverable from the high bits; 4 shards all non-empty here
    assert {r["bin_id"] >> 40 for r in out} == {0, 1, 2, 3}
    # deterministic under input repartitioning
    again = curation.pack_sequences(docs.repartition(7), budget=10, shards=4)
    assert {(r["doc_id"], r["bin_id"], r["bin_fill"]) for r in again.collect()} == {
        (r["doc_id"], r["bin_id"], r["bin_fill"]) for r in out
    }
    # shards=1 unchanged: bin ids stay small (no shard offset)
    base = curation.pack_sequences(docs, budget=10).collect()
    assert max(r["bin_id"] for r in base) < 1 << 40


def test_bpe_train_local_equals_distributed_exact(spark):
    """bpe_train_local (one word-count job + in-memory incremental-delta
    training) must be BIT-equal to the exact per-merge-job trainer
    (bpe_train batch_size=1): same tie-breaks, same rewrites, same stop."""
    import random

    from sydradb_spark.pipeline import bpe

    corpora = [
        # the reference-pinned corpus (ties + cascades)
        [
            (1, "low low low lower lower newest newest newest newest widest"),
            (2, "newest widest widest low lowest"),
            (3, "low low newest"),
            (4, ""),
        ],
        # the disjoint-pair corpus from the batched test
        [
            (1, " ".join(["gabh", "iabj", "kabl", "mabn", "oabp"] * 4)),
            (2, " ".join(["qcdr", "scdt", "ucdv", "wcdx", "ycdz"] * 3)),
        ],
    ]
    rng = random.Random(23)
    vocab = ["".join(rng.choice("abcdef") for _ in range(rng.randint(1, 6))) for _ in range(40)]
    corpora.append(
        [(i, " ".join(rng.choice(vocab) for _ in range(30))) for i in range(12)]
    )
    for rows in corpora:
        df = spark.createDataFrame(rows, "doc_id long, text string")
        for n in (5, 25):
            want = bpe.bpe_train(df, n, batch_size=1)
            got = bpe.bpe_train_local(df, n)
            assert got == want, (n, got[:6], want[:6])
    # overlapping self-pair rewrites ("aaaa") are delta-counted exactly
    df = spark.createDataFrame([(1, "aaaa aaaa aa")], "doc_id long, text string")
    assert bpe.bpe_train_local(df, 4) == bpe.bpe_train(df, 4, batch_size=1)


def test_quality_score_arrow_bit_identical(spark):
    """quality_score_arrow == the expression quality_score on raw doubles
    across whitespace/length/diversity edges (null text excluded: the
    expression's null output is session-dependent via size(null))."""
    from sydradb_spark.pipeline import text as T

    docs = spark.createDataFrame(
        [
            (0, ""),
            (1, " "),
            (2, "one"),
            (3, "a a a a a"),
            (4, " ".join(f"w{i}" for i in range(250))),  # len_score saturates
            (5, "tiny xy"),
            (6, "averageish words here make sense"),
            (7, "\tlead mixed\tws trail "),
            (8, "superlongsingletokenexceedingwordlenbounds"),
        ],
        "doc_id long, text string",
    )
    a = {r["doc_id"]: r["q"] for r in docs.select("doc_id", T.quality_score(F.col("text")).alias("q")).collect()}
    b = {r["doc_id"]: r["q"] for r in docs.select("doc_id", T.quality_score_arrow(F.col("text")).alias("q")).collect()}
    assert a == b, {k: (a[k], b[k]) for k in a if a[k] != b[k]}


def test_bpe_select_disjoint_skips_output_collisions():
    """ADVICE r11 (low): symbol-disjointness alone is not independence — a
    candidate whose SYMBOL is another taken pair's concatenated OUTPUT
    (('a','b') then ('x','ab')) would chain-merge with tokens the round's
    count never saw; a candidate whose OUTPUT is another taken pair's
    symbol (('ab','c') then ('a','b')) feeds it the same way. Both are
    deferred to a later round."""
    from sydradb_spark.pipeline.bpe import _select_disjoint

    # symbol == earlier output: ('x','ab') deferred, next disjoint taken
    got = _select_disjoint([("a b", 10), ("x ab", 9), ("c d", 8)], 3)
    assert got == [("a", "b"), ("c", "d")]
    # output == earlier symbol: ('a','b') -> 'ab' collides with taken 'ab'
    got = _select_disjoint([("ab c", 10), ("a b", 9), ("e f", 8)], 3)
    assert got == [("ab", "c"), ("e", "f")]
    # output == earlier OUTPUT: ('a','bc') and ('ab','c') both make 'abc'
    got = _select_disjoint([("a bc", 10), ("ab c", 9)], 2)
    assert got == [("a", "bc")]
    # plain symbol overlap still skipped (pre-existing behavior)
    got = _select_disjoint([("a b", 10), ("b c", 9), ("d e", 8)], 3)
    assert got == [("a", "b"), ("d", "e")]


def test_winnow_fingerprints_vectorized_matches_python_reference(spark):
    """r16: winnow_fingerprints' vectorized closed-form kernel must be
    bit-identical to the original per-character rolling-hash loop (which
    the DuckDB oracle mirrors 1:1) — including ordering (sorted distinct),
    boundary lengths, unicode code points, and NULL text."""
    k, w = text.WINNOW_K, text.WINNOW_W
    base, mod = text.WINNOW_BASE, text.WINNOW_MOD

    def py_ref(t):  # the pre-r16 implementation, verbatim semantics
        t = (t or "").strip()
        n = len(t)
        if n < k + w - 1:
            return []
        lead = pow(base, k - 1, mod)
        codes = [ord(c) for c in t]
        h = 0
        for c in codes[:k]:
            h = (h * base + c) % mod
        hs = [h]
        for i in range(k, n):
            h = ((h - codes[i - k] * lead) * base + codes[i]) % mod
            hs.append(h)
        return sorted({min(hs[i : i + w]) for i in range(len(hs) - w + 1)})

    rows = [
        (1, None),
        (2, ""),
        (3, "   "),
        (4, "a" * (k + w - 2)),   # one char short of the minimum
        (5, "a" * (k + w - 1)),   # exactly the minimum: one window
        (6, "ab" * 64),
        (7, "  padded with whitespace to strip  "),
        (8, "héllo wörld ü 日本語テキスト" * 8),
        (9, chr(0x10FFFF) * (k + w)),  # max code point
        (10, "the quick brown fox jumps over the lazy dog " * 5),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: list(r["fp"])
        for r in df.select(
            "doc_id", text.winnow_fingerprints(F.col("text")).alias("fp")
        ).collect()
    }
    for doc_id, t in rows:
        assert got[doc_id] == py_ref(t), f"doc {doc_id} diverged"


def test_partitioned_index_writes_one_file_per_bucket(spark, tmp_path):
    """r16 (guide §6): the fingerprint/term-partitioned index writes must
    cluster rows by the partition column before writing — otherwise every
    upstream task writes a file into every bucket dir (tasks × buckets
    files; measured 2048 data files for a 540k-row winnow index)."""
    import glob
    import os

    docs = spark.createDataFrame(
        [(i, f"document number {i} with some shared words body " * 4)
         for i in range(40)],
        "doc_id long, text string",
    )
    wn = str(tmp_path / "wn")
    text.winnow_write_index(docs, wn)
    for bucket_dir in glob.glob(os.path.join(wn, "fps", "fpb=*")):
        parts = glob.glob(os.path.join(bucket_dir, "part-*.parquet"))
        assert len(parts) == 1, f"{bucket_dir}: {len(parts)} files"

    from sydradb_spark.pipeline import retrieval

    bm = str(tmp_path / "bm")
    retrieval.bm25_write_index(docs, bm)
    for bucket_dir in glob.glob(os.path.join(bm, "tb=*")):
        parts = glob.glob(os.path.join(bucket_dir, "part-*.parquet"))
        assert len(parts) == 1, f"{bucket_dir}: {len(parts)} files"


def test_minhash_signature_kernel_matches_exploded_route(spark):
    """r16: the doc-local signature kernel (minhash_signatures_from_arrays)
    must equal the exploded-route aggregation (explode + 16 min-aggs over
    (A·h+B) mod p) EXACTLY — pure int64 arithmetic, so equality is total.
    Edges: empty array (doc too short to shingle) and NULL text produce NO
    signature row on either route (the explode drops them); single-shingle,
    unicode, and long docs must agree value-for-value; string doc ids keep
    the id type through the kernel."""
    from sydradb_spark.tables import load_table

    real = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    crafted = spark.createDataFrame(
        [
            (900001, ""),                        # no shingles → dropped
            (900002, "one two"),                 # < k tokens → dropped
            (900003, "one two three"),           # exactly one shingle
            (900004, None),                      # NULL text → dropped
            (900005, "a b c d e f g h i j " * 40),
            (900006, "héllo wörld ünïcode tokens über alles"),
            (900007, "  x   y z   w  "),         # whitespace runs
        ],
        "doc_id long, text string",
    )
    docs = real.unionByName(crafted)
    arr = dedup.shingle_arrays(docs)
    old = dedup.minhash_signatures_hashed(
        arr.select("doc_id", F.explode("arr").alias("__h64"))
    )
    new = dedup.minhash_signatures_from_arrays(arr)
    assert old.exceptAll(new).isEmpty() and new.exceptAll(old).isEmpty()
    n = new.count()
    assert n == old.count() and n > 0
    # dropped-doc semantics: the too-short and NULL docs have no row
    present = {
        r["doc_id"]
        for r in new.where(F.col("doc_id") >= 900000).select("doc_id").collect()
    }
    assert present == {900003, 900005, 900006, 900007}

    # keep_arr passthrough: same signatures, arr identical to the input's
    carried = dedup.minhash_signatures_from_arrays(arr, keep_arr=True)
    assert carried.drop("arr").exceptAll(new).isEmpty()
    joined = (
        carried.select("doc_id", F.col("arr").alias("carried"))
        .join(arr, on="doc_id")
        .where(F.col("carried") != F.col("arr"))
    )
    assert joined.isEmpty()

    # string doc ids survive the kernel with their type
    sdocs = docs.where(F.col("text").isNotNull()).select(
        F.concat(F.lit("d"), F.col("doc_id").cast("string")).alias("doc_id"),
        "text",
    )
    sarr = dedup.shingle_arrays(sdocs)
    sold = dedup.minhash_signatures_hashed(
        sarr.select("doc_id", F.explode("arr").alias("__h64"))
    )
    snew = dedup.minhash_signatures_from_arrays(sarr)
    assert snew.schema["doc_id"].dataType.simpleString() == "string"
    assert sold.exceptAll(snew).isEmpty() and snew.exceptAll(sold).isEmpty()


def test_minhash_fused_verify_matches_join_route(spark):
    """r16: the carried-array verify (bands ride each doc's shingle set;
    no bands ⋈ arrays join) must answer exactly what the join-route
    bucket_verified_pairs answers — which is also what minhash_query_index
    still runs against the on-disk layout."""
    from sydradb_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    arr = dedup.shingle_arrays(docs)
    joined_route = dedup.bucket_verified_pairs(
        dedup.band_signatures(dedup.minhash_signatures_from_arrays(arr)),
        arr,
        0.2,
    )
    fused = dedup.minhash_near_dups(docs, 0.2)
    assert joined_route.exceptAll(fused).isEmpty()
    assert fused.exceptAll(joined_route).isEmpty()
    assert fused.count() > 0
    # no arr column leaks into the pair output
    assert fused.columns == ["a", "b", "jaccard"]


def test_token_coverage_from_counts_matches_stream(spark):
    """r16: coverage derived from the aggregated (token, count) table must
    equal the stream form exactly — integer occurrence sums — including an
    empty corpus, an empty vocab, and full coverage."""
    rows = [
        (1, "a b a c"),
        (2, "b b d"),
        (3, ""),
        (4, None),
        (5, "é é ü"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    counts = text.word_freq_table(docs).select(
        F.col("word").alias("token"), F.col("freq").alias("count")
    )
    for vocab_rows in ([("a",), ("b",), ("é",)], [], [("zzz",)], [("a",), ("a",)]):
        vocab = spark.createDataFrame(vocab_rows, "token string")
        want = text.token_coverage(docs, vocab).collect()[0].asDict()
        got = text.token_coverage_from_counts(counts, vocab).collect()[0].asDict()
        assert got == want, (vocab_rows, got, want)
    empty = docs.where(F.lit(False))
    ec = text.word_freq_table(empty).select(
        F.col("word").alias("token"), F.col("freq").alias("count")
    )
    vocab = spark.createDataFrame([("a",)], "token string")
    want = text.token_coverage(empty, vocab).collect()[0].asDict()
    got = text.token_coverage_from_counts(ec, vocab).collect()[0].asDict()
    assert got == want == {
        "total_tokens": 0,
        "covered_tokens": 0,
        "coverage": 0.0,
    }
    # vocab_topk delegation: same rows through the counts form
    a = text.vocab_topk(docs, n=3).collect()
    b = text.vocab_topk_from_counts(counts, n=3).collect()
    assert a == b
