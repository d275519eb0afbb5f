"""Multimodal plumbing + ANN recall tests."""

from __future__ import annotations

import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from lakerunner_spark.dataops.multimodal import (
    MEDIA_SCHEMA,
    byte_histogram_features,
    extract_features,
    frame_sample,
)
from lakerunner_spark.dataops.similarity import cosine_topk, ivf_topk, lsh_bucket_topk
from lakerunner_spark.testdata import load_table


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (1, "image", 8, 8, None, bytes(range(64))),
        (2, "image", 4, 4, None, bytes([255] * 16)),
        (3, "video", None, None, 5_000, b"\x00\x01" * 100),
        (4, "audio", None, None, 2_000, None),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_extract_features_with_injected_decoder(media):
    def fake_decode(payload: bytes) -> list[float]:
        return [float(len(payload)), float(payload[0])]

    out = {r.media_id: r for r in extract_features(media, decoder=fake_decode).collect()}
    assert out[1].features == [64.0, 0.0]
    assert out[2].features == [16.0, 255.0]
    assert out[4].features is None  # null payload passes through
    assert out[1].n_bytes == 64


def test_extract_features_without_codec_raises(media):
    with pytest.raises(Exception, match="(?i)codec|NotImplemented"):
        extract_features(media).collect()


def test_byte_histogram_pure_spark(media):
    df = byte_histogram_features(media, buckets=4)
    # every column but the payload passes through, then the features
    assert df.columns == [
        "media_id", "media_type", "width", "height", "duration_ms",
        "n_bytes", "features",
    ]
    out = {r.media_id: r for r in df.collect()}
    # payload bytes(range(64)) -> all in bucket 0
    assert out[1].features[0] == 1.0 and sum(out[1].features) == 1.0
    # payload all-255 -> all in bucket 3
    assert out[2].features[3] == 1.0
    assert (out[1].width, out[3].duration_ms) == (8, 5_000)


@pytest.mark.parametrize("buckets", [0, -4, 3, 7, 100, 257, 512])
def test_byte_histogram_rejects_buckets_not_dividing_256(media, buckets):
    with pytest.raises(ValueError, match="divide 256"):
        byte_histogram_features(media, buckets=buckets)


@pytest.mark.parametrize("buckets", [1, 4, 16, 256])
def test_byte_histogram_matches_numpy_bincount(spark, buckets):
    """Exact float equality with numpy. The 64 KiB payload also pins
    linear time: a per-byte re-hex of the payload is quadratic in it.
    An empty payload reads as DuckDB's x / 0 (NULL features) instead of
    failing the whole query with ANSI's DIVIDE_BY_ZERO."""
    payloads = {
        1: bytes(range(256)),
        2: b"\\]^-[\n\r",  # regex-special bytes and line terminators
        3: np.random.default_rng(11).integers(0, 256, 65536, np.uint8).tobytes(),
        4: b"",
        5: None,
    }
    df = spark.createDataFrame(
        [(mid, "image", p) for mid, p in payloads.items()],
        "media_id long, media_type string, payload binary",
    )
    out = {r.media_id: r for r in byte_histogram_features(df, buckets).collect()}
    w = 256 // buckets
    for mid, p in payloads.items():
        if not p:
            assert out[mid].n_bytes == (None if p is None else 0)
            assert out[mid].features == [None] * buckets
            continue
        b = np.frombuffer(p, np.uint8)
        want = np.bincount(b // w, minlength=buckets) / len(p)
        assert out[mid].n_bytes == len(p)
        assert out[mid].features == want.tolist(), mid


def test_frame_sample_bounded(media):
    frames = frame_sample(media, every_ms=1_000, max_frames=4).collect()
    by_id = {}
    for r in frames:
        by_id.setdefault(r.media_id, []).append(r.frame_offset_ms)
    # 5s video at 1s cadence capped at 4 frames
    assert sorted(by_id[3]) == [0, 1_000, 2_000, 3_000]
    assert set(by_id) == {3}  # only videos


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").cache()


def _recall(approx_rows, exact_rows) -> float:
    exact = {}
    for r in exact_rows:
        exact.setdefault(r.qid, set()).add(r.cid)
    hit = tot = 0
    for r in approx_rows:
        if r.cid in exact.get(r.qid, set()):
            hit += 1
    tot = sum(len(v) for v in exact.values())
    return hit / tot


def test_ivf_recall_vs_brute_force(emb):
    q = emb.filter(F.col("vec_id") < 10)
    c = emb.filter(F.col("vec_id") >= 10)
    exact = cosine_topk(q, c, k=5).collect()
    approx = ivf_topk(q, c, k=5, n_cells=16, n_probe=8).collect()
    assert _recall(approx, exact) >= 0.6  # half the cells probed


def test_lsh_recall_vs_brute_force(emb):
    q = emb.filter(F.col("vec_id") < 10)
    c = emb.filter(F.col("vec_id") >= 10)
    exact = cosine_topk(q, c, k=5).collect()
    rng = random.Random(42)
    tables = [
        [[rng.uniform(-1, 1) for _ in range(64)] for _ in range(3)]
        for _ in range(6)
    ]
    approx = lsh_bucket_topk(q, c, tables, k=5).collect()
    # 6 tables x 3 bits, OR-amplified: ~1/8 of pairs scored per table
    assert _recall(approx, exact) >= 0.5


def test_lsh_candidates_bucket_cap(spark, sf_dir):
    """Capping hot buckets only removes pairs from oversized buckets."""
    from lakerunner_spark.dataops.dedup import (
        lsh_candidates,
        minhash_signatures,
        shingles,
    )
    from lakerunner_spark.testdata import load_table

    d = load_table(spark, sf_dir, "documents")
    sh = shingles(d, "text", "doc_id", n=3)
    sig = minhash_signatures(sh, "doc_id", num_hashes=8)
    uncapped = lsh_candidates(sig, "doc_id")
    capped = lsh_candidates(sig, "doc_id", max_bucket_size=2)
    u = {(r.doc_a, r.doc_b) for r in uncapped.collect()}
    c = {(r.doc_a, r.doc_b) for r in capped.collect()}
    assert c <= u  # capping never invents pairs


def test_resize_images_with_injected_resizer(media):
    from lakerunner_spark.dataops.multimodal import resize_images

    def fake_resize(payload: bytes, w: int, h: int) -> bytes:
        return payload[: w * h]  # deterministic stand-in

    out = {
        r.media_id: r
        for r in resize_images(media, 2, 3, resizer=fake_resize).collect()
    }
    assert set(out) == {1, 2}  # images only
    assert out[1].width == 2 and out[1].height == 3
    assert bytes(out[1].payload) == bytes(range(6))
    assert bytes(out[2].payload) == bytes([255] * 6)


def test_resize_without_codec_raises(media):
    from lakerunner_spark.dataops.multimodal import resize_images

    with pytest.raises(Exception, match="(?i)codec|NotImplemented"):
        resize_images(media, 2, 2).collect()


# ---------------------------------------------------------------------------
# stdlib PNG codec (round-3: de-stubbed image decode)
# ---------------------------------------------------------------------------


def test_png_roundtrip_and_filters():
    import random
    import struct
    import zlib

    from lakerunner_spark.dataops.multimodal import (
        PNG_SIGNATURE,
        _png_chunk,
        decode_png,
        encode_png,
    )

    rgb = bytes((y * 17 + x * 5 + c * 11) % 256
                for y in range(8) for x in range(8) for c in range(3))
    w, h, ch, samples = decode_png(encode_png(8, 8, rgb))
    assert (w, h, ch) == (8, 8, 3) and samples == rgb

    # hand-build a PNG exercising every scanline filter type (0-4)
    random.seed(7)
    rgb = bytes(random.randrange(256) for _ in range(3 * 16 * 16))
    stride = 48
    out = bytearray()
    prev = bytearray(stride)
    for y in range(16):
        line = bytearray(rgb[y * stride:(y + 1) * stride])
        ft = (0, 1, 2, 3, 4)[y % 5]
        enc = bytearray(line)
        if ft == 1:
            for i in range(stride - 1, 2, -1):
                enc[i] = (line[i] - line[i - 3]) & 0xFF
        elif ft == 2:
            for i in range(stride):
                enc[i] = (line[i] - prev[i]) & 0xFF
        elif ft == 3:
            for i in range(stride):
                left = line[i - 3] if i >= 3 else 0
                enc[i] = (line[i] - ((left + prev[i]) >> 1)) & 0xFF
        elif ft == 4:
            for i in range(stride):
                a = line[i - 3] if i >= 3 else 0
                b = prev[i]
                c = prev[i - 3] if i >= 3 else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc[i] = (line[i] - pred) & 0xFF
        out += bytes([ft]) + bytes(enc)
        prev = line
    ihdr = struct.pack(">IIBBBBB", 16, 16, 8, 2, 0, 0, 0)
    png = (PNG_SIGNATURE + _png_chunk(b"IHDR", ihdr)
           + _png_chunk(b"IDAT", zlib.compress(bytes(out)))
           + _png_chunk(b"IEND", b""))
    assert decode_png(png)[3] == rgb


def test_decode_image_dispatch():
    import pytest

    from lakerunner_spark.dataops.multimodal import (
        decode_image,
        encode_png,
        png_features,
    )

    rgb = bytes(range(0, 192))
    png = encode_png(8, 8, rgb)
    assert decode_image(png) == png_features(png)
    with pytest.raises(NotImplementedError):
        decode_image(b"\xff\xd8\xff\xe0 not a png")


# ---------------------------------------------------------------------------
# stdlib WAV codec + native PNG resize (round-3 continuation)
# ---------------------------------------------------------------------------


def test_wav_roundtrip_and_features():
    from lakerunner_spark.dataops.multimodal import (
        decode_image,
        decode_wav,
        encode_wav,
        wav_features,
    )

    samples = [0, 1000, -1000, 32767, -32768, 5, -5, 0]
    wav = encode_wav(16000, samples)
    rate, channels, back = decode_wav(wav)
    assert (rate, channels, back) == (16000, 1, samples)

    feats = wav_features(wav)
    assert feats[0] == 1000.0 * 8 / 16000   # duration_ms
    assert feats[1] == 16000.0              # sample_rate
    assert feats[3] == 32768.0              # peak_abs
    # zcr: sign flips in [0,1000,-1000,32767,-32768,5,-5,0] at pairs
    # (1000,-1000),(-1000,32767),(32767,-32768),(-32768,5),(5,-5),(-5,0)
    assert feats[4] == 6 / 7
    # the generic seam routes RIFF/WAVE to the wav decoder
    assert decode_image(wav) == feats

    import pytest as _pytest
    with _pytest.raises(ValueError):
        decode_wav(b"RIFFxxxxNOPE")


def test_wav_truncated_data_chunk_raises():
    """A data chunk whose declared length overruns the payload is a
    cut-off upload: it must raise, not silently decode the prefix into
    wrong duration/rms/zcr features."""
    import pytest as _pytest

    from lakerunner_spark.dataops.multimodal import decode_wav, encode_wav

    wav = encode_wav(16000, list(range(-100, 100)))
    truncated = wav[: len(wav) - 37]
    with _pytest.raises(ValueError, match="truncated"):
        decode_wav(truncated)
    # a short fmt chunk is equally malformed
    with _pytest.raises(ValueError, match="truncated|short fmt"):
        decode_wav(wav[:20])


def test_png_native_resize_nearest_neighbor():
    from lakerunner_spark.dataops.multimodal import (
        decode_png,
        encode_png,
        resize_payload,
    )

    # 4x4 image with per-pixel distinct red channel
    rgb = bytes(
        v for y in range(4) for x in range(4) for v in (y * 4 + x, 0, 255)
    )
    png = encode_png(4, 4, rgb)
    out = resize_payload(png, 2, 2)
    w, h, ch, samples = decode_png(out)
    assert (w, h, ch) == (2, 2, 3)
    # nearest neighbor picks source pixels (0,0),(0,2),(2,0),(2,2)
    reds = [samples[i * 3] for i in range(4)]
    assert reds == [0, 2, 8, 10]
    assert all(samples[i * 3 + 2] == 255 for i in range(4))


def test_resize_images_native_png(spark):
    from lakerunner_spark.dataops.multimodal import (
        MEDIA_SCHEMA,
        decode_png,
        encode_png,
        resize_images,
    )

    rows = [
        (1, "image", 4, 4, None,
         bytearray(encode_png(4, 4, bytes(48 * [7])))),
        (2, "audio", None, None, 10, bytearray(b"RIFF1234WAVE")),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = resize_images(media, 2, 2).collect()
    assert len(out) == 1  # audio row filtered by media_type
    w, h, ch, samples = decode_png(bytes(out[0]["payload"]))
    assert (w, h) == (2, 2) and set(samples) == {7}


def test_quantize_roundtrip_bounds(spark):
    """int8 quantization: values clamp to ±127, zero vectors survive,
    and reconstruction error is bounded by scale/2 per element."""
    from lakerunner_spark.dataops.similarity import (
        dequantize_embeddings,
        quantize_embeddings,
    )

    rows = [
        (1, [1.0, -1.0, 0.5, 0.0]),
        (2, [0.0, 0.0, 0.0, 0.0]),      # zero vector
        (3, [100.0, -0.001, 50.0, 3.3]),
    ]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    qd = quantize_embeddings(df)
    got = {r["vec_id"]: r for r in qd.collect()}
    assert all(-127 <= v <= 127 for r in got.values() for v in r["qvec"])
    assert got[2]["scale"] == 0.0 and got[2]["qvec"] == [0, 0, 0, 0]
    assert got[1]["qvec"] == [127, -127, 64, 0]  # 0.5/ (1/127) = 63.5 -> 64

    back = {
        r["vec_id"]: r["embedding"]
        for r in dequantize_embeddings(qd).collect()
    }
    for vid, vec in rows:
        scale = got[vid]["scale"]
        for orig, rec in zip(vec, back[vid]):
            assert abs(orig - rec) <= scale / 2 + 1e-12


def test_bmp_roundtrip_matches_png_features():
    """encode_bmp -> decode_bmp recovers exact pixels (odd width
    exercises row padding); the same pixels through the PNG codec give
    identical features — cross-codec consistency; truncation raises."""
    from lakerunner_spark.dataops.multimodal import (
        bmp_features,
        decode_bmp,
        decode_image,
        encode_bmp,
        encode_png,
        png_features,
    )

    w, h = 5, 4  # odd 3*w = 15 -> stride pads to 16
    rgb = bytes((x * 7 + 3) % 256 for x in range(3 * w * h))
    bmp = encode_bmp(w, h, rgb)
    gw, gh, ch, samples = decode_bmp(bmp)
    assert (gw, gh, ch) == (w, h, 3)
    assert samples == rgb

    assert bmp_features(bmp) == png_features(encode_png(w, h, rgb))
    assert decode_image(bmp) == bmp_features(bmp)

    import pytest as _pytest
    with _pytest.raises(ValueError, match="truncated"):
        decode_bmp(bmp[:-8])
    with _pytest.raises(ValueError, match="not a BMP"):
        decode_bmp(b"XX123456")


def test_bmp_top_down_and_32bit():
    """A hand-built top-down 32-bit BMP decodes with RGBA channel order
    and no row flip."""
    import struct

    from lakerunner_spark.dataops.multimodal import decode_bmp

    w, h = 2, 2
    # pixels top-down, BGRA on disk
    px = [
        (10, 20, 30, 40), (50, 60, 70, 80),
        (90, 100, 110, 120), (130, 140, 150, 160),
    ]
    body = b"".join(bytes(p) for p in px)
    hdr = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(body), 0, 0, 54)
    hdr += struct.pack("<IiiHHIIiiII", 40, w, -h, 1, 32, 0, len(body),
                       2835, 2835, 0, 0)
    gw, gh, ch, samples = decode_bmp(hdr + body)
    assert (gw, gh, ch) == (w, h, 4)
    # first pixel: disk BGRA (10,20,30,40) -> RGBA (30,20,10,40)
    assert tuple(samples[:4]) == (30, 20, 10, 40)
    assert tuple(samples[-4:]) == (150, 140, 130, 160)


def test_ivf_with_kmeans_centroids(emb):
    """IVF over TRAINED centroids (kmeans_centroids -> ivf_topk
    composition): recall at the same probe budget should be at least as
    good as the naive lowest-id seeding (trained cells partition the
    space instead of clumping around the first ids), and never below
    the naive floor."""
    from lakerunner_spark.dataops.similarity import kmeans_centroids

    q = emb.filter(F.col("vec_id") < 10)
    c = emb.filter(F.col("vec_id") >= 10)
    exact = cosine_topk(q, c, k=5).collect()
    cents = kmeans_centroids(c, n_clusters=16, iters=3)
    assert cents.count() <= 16  # empty clusters may drop out
    trained = ivf_topk(
        q, c, k=5, n_cells=16, n_probe=8, centroids=cents
    ).collect()
    naive = ivf_topk(q, c, k=5, n_cells=16, n_probe=8).collect()
    r_trained, r_naive = _recall(trained, exact), _recall(naive, exact)
    assert r_trained >= 0.6
    assert r_trained >= r_naive - 0.05  # never meaningfully worse


def test_kmeans_rejects_zero_iters(spark):
    """iters=0 has no assignment to return — explicit ValueError, not
    an AttributeError crash deep in the plan builder."""
    import pytest as _pytest

    from lakerunner_spark.dataops.similarity import (
        kmeans_assign,
        kmeans_centroids,
    )

    df = spark.createDataFrame(
        [(1, [0.0, 1.0]), (2, [1.0, 0.0])], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    with _pytest.raises(ValueError, match="iters"):
        kmeans_assign(df, n_clusters=2, iters=0)
    with _pytest.raises(ValueError, match="iters"):
        kmeans_centroids(df, n_clusters=2, iters=0)


# ------------------------------ AVI codec ----------------------------------


def _avi_frames(n=4, w=6, h=5, key=0):
    return [
        bytes(
            (key * 37 + f * 23 + y * 17 + x * 5 + c * 11) % 256
            for y in range(h)
            for x in range(w)
            for c in range(3)
        )
        for f in range(n)
    ]


def test_avi_roundtrip_every_frame():
    from lakerunner_spark.dataops.multimodal import (
        avi_info,
        decode_avi_frame,
        encode_avi,
    )

    frames = _avi_frames(5, 6, 5)
    p = encode_avi(6, 5, frames, fps=4)
    assert avi_info(p) == (6, 5, 5, 250000)
    for i, f in enumerate(frames):
        assert decode_avi_frame(p, i) == f


def test_avi_odd_width_padding():
    # width 3 -> 9-byte rows padded to 12: the stride math must not
    # bleed pad bytes into pixels
    from lakerunner_spark.dataops.multimodal import decode_avi_frame, encode_avi

    frames = _avi_frames(2, 3, 4, key=5)
    p = encode_avi(3, 4, frames)
    assert decode_avi_frame(p, 1) == frames[1]


def test_avi_out_of_range_and_garbage():
    import pytest

    from lakerunner_spark.dataops.multimodal import (
        avi_info,
        decode_avi_frame,
        encode_avi,
    )

    p = encode_avi(4, 4, _avi_frames(2, 4, 4))
    with pytest.raises(ValueError):
        decode_avi_frame(p, 2)
    with pytest.raises(ValueError):
        avi_info(b"RIFX" + p[4:])


def test_pq_recall_vs_exact_l2(emb):
    """PQ ranks by (asymmetric) L2, so the baseline is exact L2 top-k
    — not cosine. Sampled 16-codeword books over 8 subspaces must
    still put most true neighbors in the approximate top-5."""
    from pyspark.sql import Window

    from lakerunner_spark.dataops.similarity import pq_topk
    from lakerunner_spark.functions.rounding import portable_round

    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("_qv")
    )
    c = emb.filter(F.col("vec_id") >= 10)
    l2 = F.expr(
        "aggregate(zip_with(_qv, embedding, (x, y) ->"
        " (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"
        " * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))),"
        " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("_d").asc(), F.col("cid").asc()
    )
    exact = (
        q.crossJoin(c.select(F.col("vec_id").alias("cid"), "embedding"))
        .select("qid", "cid", portable_round(l2, 6).alias("_d"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 5)
        .collect()
    )
    approx = pq_topk(
        q.select(F.col("qid").alias("vec_id"), F.col("_qv").alias("embedding")),
        c, k=5, m=16, n_codes=32, dim=64, shortlist=32,
    ).collect()
    # measured 0.78 at this config; pure-ADC (no re-rank) is ~0.5 at
    # the same shortlist budget — the re-rank stage is what converts
    # ADC's coarse ordering into usable head recall
    assert _recall(approx, exact) >= 0.7


def test_image_dhash_neardup_planted(spark):
    """ddm1's contract on the planted fixture: brightness-shifted
    copies (dHash's invariance — the re-encode analogue) pair at
    hamming 0, single-tile edits within 2 bits, and NO unrelated base
    pair survives the banded join + popcount verify. Also asserts the
    plan is the bucketed shape: no CartesianProduct / BNLJ anywhere —
    candidates come from the equi-join on (band, word)."""
    import lakerunner_spark.queries_multimodal as qm

    df = qm.ddm1_image_neardup(spark, "unused")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    pairs = {(r["media_a"], r["media_b"]): r["hamming"]
             for r in df.collect()}
    for m in (0, 1, 2):
        assert pairs[(m, 100 + m)] == 0, "brightness shift must not move dHash"
        assert pairs[(m, 200 + m)] <= 2, "tile edit flips at most 2 bits"
    bases = {0, 1, 2, 3, 4, 5, 6, 7}
    for (a, b) in pairs:
        assert not (a in bases and b in bases), f"false positive {a},{b}"


def test_hamming_neardup_pairs_verifies_exact_distance(spark):
    """The banded join may candidate any pair sharing one band; the
    popcount verify must compute the TRUE Hamming distance across all
    bands and drop pairs above the threshold."""
    from lakerunner_spark.dataops.dedup import hamming_neardup_pairs

    rows = [
        (1, 0, 0b1010), (1, 1, 0b0001),
        (2, 0, 0b1010), (2, 1, 0b1110),   # shares band 0; xor band 1 = 0b1111
        (3, 0, 0b1010), (3, 1, 0b0001),   # identical to 1
        (4, 0, 0b0101), (4, 1, 0b0110),   # shares nothing: never a candidate
    ]
    words = spark.createDataFrame(rows, "media_id long, band long, word long")
    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in hamming_neardup_pairs(words, max_hamming=2).collect()}
    assert got == {(1, 3): 0}
    loose = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in hamming_neardup_pairs(words, max_hamming=8).collect()}
    assert loose == {(1, 3): 0, (1, 2): 4, (2, 3): 4}


def test_ann_frontier_floors(spark, sf_dir):
    """sim8's standing frontier: per-method recall@5 floors on the
    planted fixture (sf0.001: sim1 1.0, sim4 0.93, sim7 0.87, sim3/
    sim6 0.67, sim2 0.6 — floors sit a step below the measured values
    so genuine regressions fail but fixture-size jitter doesn't). The
    r6 sim7 redesign (0.06 -> 0.78) is the event this guards against."""
    import lakerunner_spark.queries_multimodal as qm

    rows = {r["method"]: r for r in
            qm.sim8_ann_frontier(spark, sf_dir).collect()}
    floors = {
        "sim1_cosine_topk": 1.0,     # the exact baseline itself
        "sim2_ivf_topk": 0.5,
        "sim3_lsh_topk": 0.55,
        "sim4_quantized_topk": 0.85,
        "sim6_random_projection": 0.55,
        "sim7_pq_topk": 0.7,
        # the frontier curve: narrower ADC shortlists trade recall
        "sim7_pq_topk_sl16": 0.55,
        "sim7_pq_topk_sl8": 0.4,
    }
    assert set(rows) == set(floors)
    for method, floor in floors.items():
        r = rows[method]
        assert r["n_exact"] == 15  # 3 queries x top-5, always
        assert r["recall5"] >= floor, (method, r["recall5"], floor)
    # a wider candidate budget can never LOWER recall on this fixture
    assert (rows["sim7_pq_topk_sl8"]["recall5"]
            <= rows["sim7_pq_topk_sl16"]["recall5"]
            <= rows["sim7_pq_topk"]["recall5"])


def test_hamming_rejects_band_count_mismatch(spark):
    """Two ids whose SHARED bands are identical but whose band SETS
    differ (different image heights -> different band counts) must not
    pair: an inner verify join would compare only the shared bands and
    report hamming 0 — the band-cardinality check rejects the pair as
    a structural non-match instead."""
    from lakerunner_spark.dataops.dedup import hamming_neardup_pairs

    rows = [
        (1, 0, 7), (1, 1, 9),
        (2, 0, 7), (2, 1, 9), (2, 2, 42),   # superset geometry
        (3, 0, 7), (3, 1, 9),               # true match for 1
    ]
    words = spark.createDataFrame(rows, "media_id long, band long, word long")
    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in hamming_neardup_pairs(words, max_hamming=64).collect()}
    assert got == {(1, 3): 0}


def test_dhash_wide_image_clamps_to_declared_grid(spark):
    """An image WIDER than grid_cols*patch must hash identically to
    its crop at the declared grid — extra tiles' bit positions would
    otherwise wrap into the next bit-row inside the band word,
    corrupting every word in a mixed-dimension corpus — and every
    emitted word must fit the declared band width."""
    from lakerunner_spark.dataops.multimodal import encode_bmp, image_dhash_bands

    patch, grid_cols, band_rows = 4, 9, 2
    w_base, w_wide, h = patch * grid_cols, patch * 12, patch * 4
    rng = __import__("random").Random(5)
    base_px = [
        [bytes(rng.randrange(256) for _ in range(3)) for _ in range(w_base)]
        for _ in range(h)
    ]
    wide_px = [
        row + [bytes(rng.randrange(256) for _ in range(3))
               for _ in range(w_wide - w_base)]
        for row in base_px
    ]

    def bmp(px, w):
        return encode_bmp(w, h, b"".join(b"".join(r) for r in px))

    media = spark.createDataFrame(
        [(0, bytearray(bmp(base_px, w_base))),
         (1, bytearray(bmp(wide_px, w_wide)))],
        "media_id long, payload binary",
    )
    words = image_dhash_bands(media, patch, grid_cols, band_rows).collect()
    per_id = {}
    for r in words:
        per_id.setdefault(r["media_id"], set()).add((r["band"], r["word"]))
    assert per_id[0] == per_id[1]
    for _, w in per_id[0]:
        assert 0 <= w < 1 << (band_rows * (grid_cols - 1))


def test_rank_buckets_rejects_degenerate_boundaries(spark):
    """Duplicate or out-of-range boundaries silently produce
    unreachable labels — they must raise instead."""
    import pytest as _pytest

    from lakerunner_spark.dataops.sampling import rank_buckets

    df = spark.createDataFrame([(1, "a", 0.5)], "id long, g string, score double")
    with _pytest.raises(ValueError, match="strictly ascending"):
        rank_buckets(df, "score", "g", [0.5, 0.5], ["x", "y", "z"])
    with _pytest.raises(ValueError, match=r"\(0, 1\]"):
        rank_buckets(df, "score", "g", [0.0, 0.5], ["x", "y", "z"])
    with _pytest.raises(ValueError, match=r"\(0, 1\]"):
        rank_buckets(df, "score", "g", [0.5, 1.5], ["x", "y", "z"])


def test_video_neardup_temporal_runs_planted(spark):
    """ddm3's contract on the planted fixture: the re-encoded copy
    (uniform brightness) matches all 8 frames at offset 0, the
    head-trimmed clip its 6 surviving frames at offset +2, and the
    single coincidentally-shared frame (video 102 frame 0 == video 2
    frame 5) IS found by the frame-pair stage but rejected by the
    min_run=3 temporal verify."""
    import lakerunner_spark.queries_multimodal as qm
    from lakerunner_spark.dataops.dedup import frame_hamming_runs
    from lakerunner_spark.dataops.multimodal import video_frame_dhash_bands

    media = qm._ddm3_media(spark)
    words = video_frame_dhash_bands(
        media, stride=1, max_frames=8, patch=4,
        grid_cols=qm._DDM3_W // 4, band_rows=2,
    )
    # min_run=1: the frame-pair stage's full output, runs included
    all_runs = {
        (r["video_a"], r["video_b"], r["offset"]): r["longest_run"]
        for r in frame_hamming_runs(
            words, max_hamming=qm._DDM3_MAX_HAMMING, min_run=1,
            frame_key=1000,
        ).collect()
    }
    assert all_runs[(0, 100, 0)] == 8   # re-encode: every frame
    assert all_runs[(1, 101, 2)] == 6   # trim: surviving frames
    assert all_runs[(2, 102, 5)] == 1   # the single shared frame

    # the registered query (min_run=3) keeps only the true clips
    rows = {
        (r["video_a"], r["video_b"], r["offset"]): r["longest_run"]
        for r in qm.ddm3_video_neardup(spark, "unused").collect()
    }
    assert rows == {(0, 100, 0): 8, (1, 101, 2): 6}


def test_video_frame_patches_matches_image_path(spark):
    """A one-frame AVI and the same pixels as a BMP must produce
    identical patch features (the video path reuses the image tile
    contract), and non-video rows are ignored."""
    from lakerunner_spark.dataops.multimodal import (
        MEDIA_SCHEMA,
        encode_avi,
        encode_bmp,
        image_patch_features,
        video_frame_patches,
    )

    rgb = bytes((y * 17 + x * 5 + c * 11) % 256
                for y in range(8) for x in range(8) for c in range(3))
    media = spark.createDataFrame(
        [(1, "video", 8, 8, 100, bytearray(encode_avi(8, 8, [rgb]))),
         (2, "image", 8, 8, None, bytearray(encode_bmp(8, 8, rgb)))],
        MEDIA_SCHEMA,
    )
    vid = video_frame_patches(media, patch=4).collect()
    img = image_patch_features(media.filter("media_id = 2"), patch=4).collect()
    assert {r["frame_idx"] for r in vid} == {0}
    vmap = {(r["patch_row"], r["patch_col"]):
            (r["mean_r"], r["mean_g"], r["mean_b"], r["mean_gray"])
            for r in vid}
    imap = {(r["patch_row"], r["patch_col"]):
            (r["mean_r"], r["mean_g"], r["mean_b"], r["mean_gray"])
            for r in img}
    assert vmap == imap


def test_semantic_image_dedup_catches_what_dhash_misses(spark):
    """ddm4's reason to exist: the six planted micro-contrast variants
    flip 32-33 of 64 dHash bits — ddm1's banded Hamming join (max 8)
    finds NONE of them — while SemDeDup over the same mm7 features
    drops exactly the six against their bases."""
    import lakerunner_spark.queries_multimodal as qm
    from lakerunner_spark.dataops.dedup import hamming_neardup_pairs
    from lakerunner_spark.dataops.multimodal import image_dhash_bands

    media = qm._ddm4_media(spark)
    words = image_dhash_bands(media, patch=4, grid_cols=qm._DDM4_GW,
                              band_rows=2)
    dhash_pairs = {
        (r["id_a"], r["id_b"])
        for r in hamming_neardup_pairs(words, "media_id",
                                       max_hamming=8).collect()
    }
    planted = {(i, 100 + i) for i in range(qm._DDM4_VARIANTS)}
    assert not (dhash_pairs & planted)  # the perceptual hash misses all

    dropped = {
        (r["keep_id"], r["drop_id"])
        for r in qm.ddm4_semantic_image_dedup(spark, "unused").collect()
    }
    assert dropped == planted  # the semantic route catches exactly them


def test_audio_neardup_temporal_runs_planted(spark):
    """ddm5's contract on the planted fixture: the double-amplitude
    copy matches all 15 frames at offset 0 (energy-difference signs
    are scale-invariant), the head-trimmed clip its 13 surviving
    frames at offset +2, and the single copied first frame of audio
    102 IS found by the frame stage but rejected by min_run=3."""
    import lakerunner_spark.queries_multimodal as qm
    from lakerunner_spark.dataops.dedup import frame_hamming_runs
    from lakerunner_spark.dataops.multimodal import audio_fingerprint_words

    media = qm._ddm5_media(spark)
    words = audio_fingerprint_words(
        media, frame=qm._DDM5_FRAME, hop=qm._DDM5_HOP,
        bands=qm._DDM5_BANDS, row_width=qm._DDM5_ROW_WIDTH,
    )
    all_runs = {
        (r["video_a"], r["video_b"], r["offset"]): r["longest_run"]
        for r in frame_hamming_runs(
            words, max_hamming=qm._DDM5_MAX_HAMMING, min_run=1,
            frame_key=1000,
        ).collect()
    }
    assert all_runs[(0, 100, 0)] == 15  # volume change: every frame
    assert all_runs[(1, 101, 2)] == 13  # trim: surviving frames
    assert all_runs[(2, 102, 0)] == 1   # the single copied frame

    rows = {
        (r["audio_a"], r["audio_b"], r["offset"]): r["longest_run"]
        for r in qm.ddm5_audio_neardup(spark, "unused").collect()
    }
    assert rows == {(0, 100, 0): 15, (1, 101, 2): 13}


def test_frame_hamming_runs_matches_bruteforce(spark):
    """frame_hamming_runs against a direct python reference on a
    deterministic pseudo-random word table: candidate recall contract
    (pairs sharing >= 1 exact band word), exact popcount, same-video
    exclusion, diagonal islands, and the min_run threshold."""
    import random

    from lakerunner_spark.dataops.dedup import frame_hamming_runs

    rng = random.Random(7)
    rows = []
    words = {}  # (vid, f) -> [w0, w1]
    for vid in range(6):
        nf = rng.randint(3, 7)
        for f in range(nf):
            ws = [rng.randrange(0, 16) for _ in range(2)]  # 4-bit words:
            rows += [(vid, f, 0, ws[0]), (vid, f, 1, ws[1])]
            words[(vid, f)] = ws  # collisions are COMMON by design

    df = spark.createDataFrame(
        rows, "media_id long, frame_idx long, band long, word long"
    )
    got = {
        (r["video_a"], r["video_b"], r["offset"]): r["longest_run"]
        for r in frame_hamming_runs(
            df, max_hamming=2, min_run=2, frame_key=1000
        ).collect()
    }

    # reference: banded candidates -> hamming -> diagonals -> runs
    keys = sorted(words)
    matches = set()
    for i, ka in enumerate(keys):
        for kb in keys[i + 1 :]:
            wa, wb = words[ka], words[kb]
            if ka[0] == kb[0]:
                continue  # same video
            if not any(a == b for a, b in zip(wa, wb)):
                continue  # no shared band word: not a candidate
            ham = sum(bin(a ^ b).count("1") for a, b in zip(wa, wb))
            if ham <= 2:
                matches.add((ka[0], ka[1], kb[0], kb[1]))
    runs: dict[tuple, int] = {}
    for va, i, vb, j in matches:
        run = 1
        fi, fj = i + 1, j + 1
        while (va, fi, vb, fj) in matches:
            run += 1
            fi += 1
            fj += 1
        if (va, i - 1, vb, j - 1) in matches:
            continue  # not a run head
        key = (va, vb, i - j)
        runs[key] = max(runs.get(key, 0), run)
    expect = {k: v for k, v in runs.items() if v >= 2}
    assert got == expect
    assert expect  # 4-bit words must collide enough to exercise runs


def test_frame_hamming_runs_rejects_packing_violations(spark):
    """The packing contract fails LOUDLY on every class of violation —
    frame out of [0, frame_key), negative ids, and (the r9 ADVICE
    gap) a video id large enough that video*frame_key + frame would
    silently wrap past int64 and misattribute matches."""
    import pytest

    from lakerunner_spark.dataops.dedup import frame_hamming_runs

    frame_key = 1000
    max_video = (2**63 - 1 - (frame_key - 1)) // frame_key
    bad_rows = [
        (0, frame_key, 0, 1),      # frame at the key: wraps to video 1
        (0, -1, 0, 1),             # negative frame
        (-1, 0, 0, 1),             # negative video
        (max_video + 1, 0, 0, 1),  # int64 overflow in the pack
    ]
    for row in bad_rows:
        df = spark.createDataFrame(
            [row], "media_id long, frame_idx long, band long, word long"
        )
        with pytest.raises(Exception, match="packing contract"):
            frame_hamming_runs(df, frame_key=frame_key).collect()

    # the boundary itself is legal: max_video at the last frame packs
    # to exactly int64 max, no error
    ok = spark.createDataFrame(
        [(max_video, frame_key - 1, 0, 1)],
        "media_id long, frame_idx long, band long, word long",
    )
    assert frame_hamming_runs(ok, frame_key=frame_key).collect() == []


def test_dhash_band_word_errors_name_the_public_entry_point(spark):
    """_dhash_band_words is shared by three public functions; its
    validation errors must name the one the user actually called
    (audio with row_width 64 is an audio misconfiguration, not an
    image one)."""
    import pytest

    from lakerunner_spark.dataops.multimodal import (
        MEDIA_SCHEMA,
        audio_fingerprint_words,
        image_dhash_bands,
        video_frame_dhash_bands,
    )

    media = spark.createDataFrame([], MEDIA_SCHEMA)
    with pytest.raises(ValueError, match="^audio_fingerprint_words:"):
        audio_fingerprint_words(media, frame=512, bands=64, row_width=64)
    with pytest.raises(ValueError, match="^image_dhash_bands:"):
        image_dhash_bands(media, grid_cols=64, band_rows=1)
    with pytest.raises(ValueError, match="^video_frame_dhash_bands:"):
        video_frame_dhash_bands(media, grid_cols=9, band_rows=0)
