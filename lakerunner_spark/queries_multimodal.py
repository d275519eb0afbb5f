"""Multimodal + ANN scale-path query catalog.

``mm1`` exercises the binary-column plumbing end-to-end with an exact
oracle (payloads synthesized from ASCII text, histogram over bytes read
as Latin-1 chars); ``mm2`` decodes real PNGs with the stdlib codec. The ANN
variants carry EXACT DuckDB oracles (centroid assignment / hyperplane
sign buckets reproduced step-for-step); recall-vs-brute-force is
additionally asserted in tests/test_multimodal_ann.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import lakerunner_spark.queries_dataops  # noqa: F401 — registers sim1/sim6,
# whose oracles sim8's composed frontier oracle reads at import time
from lakerunner_spark.dataops.multimodal import byte_histogram_features
from lakerunner_spark.dataops.similarity import ivf_topk, lsh_bucket_topk
from lakerunner_spark.functions.rounding import portable_round as _pr
from lakerunner_spark.queries import register
from lakerunner_spark.testdata import load_table


@register(
    "mm1_byte_histogram",
    """
    SELECT lang,
           CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
           pround(avg(h0), 6) AS avg_h0, pround(avg(h1), 6) AS avg_h1,
           pround(avg(h2), 6) AS avg_h2, pround(avg(h3), 6) AS avg_h3
    FROM (
      SELECT lang, length(text) AS n_bytes,
             len(list_filter(bytes, b -> b // 64 = 0)) * 1.0 / length(text) AS h0,
             len(list_filter(bytes, b -> b // 64 = 1)) * 1.0 / length(text) AS h1,
             len(list_filter(bytes, b -> b // 64 = 2)) * 1.0 / length(text) AS h2,
             len(list_filter(bytes, b -> b // 64 = 3)) * 1.0 / length(text) AS h3
      FROM (
        SELECT lang, text,
               list_transform(range(1, length(text) + 1),
                              i -> ord(substr(text, i, 1))) AS bytes
        FROM documents
      )
    )
    GROUP BY lang
    """,
)
def mm1_byte_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal: opaque binary payload -> codec-free byte-histogram
    features, aggregated per lang. Payload synthesized from the ASCII
    text column so the oracle can reproduce byte values exactly."""
    d = load_table(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("media_type"),
        F.encode("text", "utf-8").alias("payload"),
        "lang",
    )
    feats = byte_histogram_features(media, buckets=4)
    return feats.groupBy("lang").agg(
        F.sum("n_bytes").alias("total_bytes"),
        *[
            _pr(F.avg(F.element_at("features", i + 1)), 6).alias(f"avg_h{i}")
            for i in range(4)
        ],
    )


@register(
    "sim2_ivf_topk",
    """
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 3),
    c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 3),
    cents AS (SELECT vec_id AS cell, embedding FROM c ORDER BY vec_id ASC LIMIT 16),
    qf AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
           FROM q CROSS JOIN unnest(range(1, 65)) AS t(i)),
    cf AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
           FROM c CROSS JOIN unnest(range(1, 65)) AS t(i)),
    kf AS (SELECT cell, i, CAST(embedding[i] AS DOUBLE) AS v
           FROM cents CROSS JOIN unnest(range(1, 65)) AS t(i)),
    qn AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM qf GROUP BY vec_id),
    cn AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM cf GROUP BY vec_id),
    kn AS (SELECT cell, sqrt(sum(v * v)) AS nrm FROM kf GROUP BY cell),
    c_sim AS (
      SELECT cf.vec_id AS cid, kf.cell,
             pround(sum(cf.v * kf.v) / (cn.nrm * kn.nrm), 12) AS sim
      FROM cf JOIN kf ON cf.i = kf.i
      JOIN cn ON cn.vec_id = cf.vec_id JOIN kn ON kn.cell = kf.cell
      GROUP BY cf.vec_id, kf.cell, cn.nrm, kn.nrm
    ),
    c_assign AS (
      SELECT cid, cell FROM (
        SELECT cid, cell, row_number() OVER (
          PARTITION BY cid ORDER BY sim DESC, cell ASC) AS rn
        FROM c_sim
      ) WHERE rn <= 1
    ),
    q_sim AS (
      SELECT qf.vec_id AS qid, kf.cell,
             pround(sum(qf.v * kf.v) / (qn.nrm * kn.nrm), 12) AS sim
      FROM qf JOIN kf ON qf.i = kf.i
      JOIN qn ON qn.vec_id = qf.vec_id JOIN kn ON kn.cell = kf.cell
      GROUP BY qf.vec_id, kf.cell, qn.nrm, kn.nrm
    ),
    q_probe AS (
      SELECT qid, cell FROM (
        SELECT qid, cell, row_number() OVER (
          PARTITION BY qid ORDER BY sim DESC, cell ASC) AS rn
        FROM q_sim
      ) WHERE rn <= 8
    ),
    pairs AS (
      SELECT DISTINCT q_probe.qid, c_assign.cid
      FROM q_probe JOIN c_assign USING (cell)
    ),
    dots AS (
      SELECT p.qid, p.cid, sum(qf.v * cf.v) AS dot
      FROM pairs p
      JOIN qf ON qf.vec_id = p.qid JOIN cf ON cf.vec_id = p.cid AND cf.i = qf.i
      GROUP BY p.qid, p.cid
    )
    SELECT qid, cid, cosine FROM (
      SELECT d.qid, d.cid,
             pround(d.dot / (qn.nrm * cn.nrm), 4) AS cosine,
             row_number() OVER (PARTITION BY d.qid
                                ORDER BY pround(d.dot / (qn.nrm * cn.nrm), 4) DESC,
                                         d.cid ASC) AS rn
      FROM dots d JOIN qn ON qn.vec_id = d.qid JOIN cn ON cn.vec_id = d.cid
    ) WHERE rn <= 5
    """,
)
def sim2_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path: IVF cells + multi-probe, EXACT oracle — centroid
    selection (16 lowest-id corpus vectors), max-cosine cell assignment,
    8-cell probes, and final rounded-cosine ranking are all reproduced
    step-for-step in DuckDB (assignment argmax on 12-dp-rounded sims so
    float summation order can't flip a cell across engines). Recall vs
    brute force additionally asserted in tests."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    c = emb.filter(F.col("vec_id") >= 3)
    return ivf_topk(q, c, k=5, n_cells=16, n_probe=8)


def _sim3_tables() -> list[list[list[float]]]:
    """Deterministic pseudo-random hyperplanes: 6 tables of 3 bits."""
    import random

    rng = random.Random(42)
    return [
        [[rng.uniform(-1, 1) for _ in range(64)] for _ in range(3)]
        for _ in range(6)
    ]


def _sim3_oracle() -> str:
    """DuckDB twin of the full LSH pipeline: the SAME hyperplane
    literals (repr round-trips doubles exactly), sign-bit buckets,
    OR-amplified candidate join, rounded-cosine ranking."""
    rows = []
    for t, planes in enumerate(_sim3_tables()):
        for p_idx, plane in enumerate(planes):
            for i, w in enumerate(plane):
                rows.append(f"({t},{p_idx},{i + 1},{w!r})")
    planes_values = ",\n      ".join(rows)
    return f"""
    WITH planes(tbl, p, i, w) AS (VALUES
      {planes_values}
    ),
    q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 3),
    c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 3),
    qf AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
           FROM q CROSS JOIN unnest(range(1, 65)) AS t(i)),
    cf AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
           FROM c CROSS JOIN unnest(range(1, 65)) AS t(i)),
    qn AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM qf GROUP BY vec_id),
    cn AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM cf GROUP BY vec_id),
    qdots AS (
      SELECT qf.vec_id, pl.tbl, pl.p, sum(qf.v * pl.w) AS dot
      FROM qf JOIN planes pl ON qf.i = pl.i GROUP BY 1, 2, 3
    ),
    cdots AS (
      SELECT cf.vec_id, pl.tbl, pl.p, sum(cf.v * pl.w) AS dot
      FROM cf JOIN planes pl ON cf.i = pl.i GROUP BY 1, 2, 3
    ),
    qb AS (
      SELECT vec_id AS qid, tbl,
             CAST(sum(CASE WHEN pround(dot, 12) >= 0 THEN 1 ELSE 0 END
                      * (1 << (2 - p))) AS BIGINT) AS bucket
      FROM qdots GROUP BY 1, 2
    ),
    cb AS (
      SELECT vec_id AS cid, tbl,
             CAST(sum(CASE WHEN pround(dot, 12) >= 0 THEN 1 ELSE 0 END
                      * (1 << (2 - p))) AS BIGINT) AS bucket
      FROM cdots GROUP BY 1, 2
    ),
    pairs AS (SELECT DISTINCT qid, cid FROM qb JOIN cb USING (tbl, bucket)),
    dots AS (
      SELECT pr.qid, pr.cid, sum(qf.v * cf.v) AS dot
      FROM pairs pr
      JOIN qf ON qf.vec_id = pr.qid JOIN cf ON cf.vec_id = pr.cid AND cf.i = qf.i
      GROUP BY 1, 2
    )
    SELECT qid, cid, cosine FROM (
      SELECT d.qid, d.cid,
             pround(d.dot / (qn.nrm * cn.nrm), 4) AS cosine,
             row_number() OVER (PARTITION BY d.qid
                                ORDER BY pround(d.dot / (qn.nrm * cn.nrm), 4) DESC,
                                         d.cid ASC) AS rn
      FROM dots d JOIN qn ON qn.vec_id = d.qid JOIN cn ON cn.vec_id = d.cid
    ) WHERE rn <= 5
    """


@register("sim3_lsh_topk", _sim3_oracle())
def sim3_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path: random-hyperplane LSH buckets (OR-amplified),
    EXACT oracle — hyperplane literals, sign-bit bucket ids, the
    (table, bucket) candidate join, and rounded-cosine ranking all
    reproduced in DuckDB. Recall vs brute force asserted in tests."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    c = emb.filter(F.col("vec_id") >= 3)
    return lsh_bucket_topk(q, c, _sim3_tables(), k=5)


@register(
    "sim4_quantized_topk",
    """
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 3),
    c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 3),
    cf AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
           FROM c CROSS JOIN unnest(range(1, 65)) AS t(i)),
    mx AS (SELECT vec_id, max(abs(v)) / 127.0 AS scale FROM cf GROUP BY vec_id),
    dq AS (
      SELECT cf.vec_id, cf.i,
             CASE WHEN scale = 0 THEN 0
                  ELSE greatest(-127, least(127, floor(v / scale + 0.5)))
             END * scale AS dv
      FROM cf JOIN mx USING (vec_id)
    ),
    qf AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
           FROM q CROSS JOIN unnest(range(1, 65)) AS t(i)),
    qn AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM qf GROUP BY vec_id),
    cn AS (SELECT vec_id, sqrt(sum(dv * dv)) AS nrm FROM dq GROUP BY vec_id),
    dots AS (
      SELECT qf.vec_id AS qid, dq.vec_id AS cid, sum(qf.v * dq.dv) AS dot
      FROM qf JOIN dq ON qf.i = dq.i GROUP BY 1, 2
    )
    SELECT qid, cid, cosine FROM (
      SELECT d.qid, d.cid,
             pround(d.dot / (qn.nrm * cn.nrm), 4) AS cosine,
             row_number() OVER (PARTITION BY d.qid
                                ORDER BY pround(d.dot / (qn.nrm * cn.nrm), 4) DESC,
                                         d.cid ASC) AS rn
      FROM dots d JOIN qn ON qn.vec_id = d.qid JOIN cn ON cn.vec_id = d.cid
    ) WHERE rn <= 5
    """,
)
def sim4_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8-quantized candidate scoring: the corpus is symmetric-int8
    quantized (4x smaller), dequantized, and exact cosine top-k runs
    over the reconstruction — the oracle reproduces the quantize ->
    dequantize -> rank pipeline value-for-value, proving the
    quantization math is engine-exact (floor-half-up rounding, clamped
    ±127, per-vector scale)."""
    from lakerunner_spark.dataops.similarity import (
        cosine_topk,
        dequantize_embeddings,
        quantize_embeddings,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    c = emb.filter(F.col("vec_id") >= 3)
    dq = dequantize_embeddings(quantize_embeddings(c))
    return cosine_topk(q, dq, k=5)


_MM2_PX = """
      SELECT m, y, x, c,
             CAST((m*37 + y*17 + x*5 + c*11) % 256 AS DOUBLE) AS v
      FROM range(0, 10) t0(m) CROSS JOIN range(0, 8) t1(y)
           CROSS JOIN range(0, 8) t2(x) CROSS JOIN range(0, 3) t3(c)
"""


@register(
    "mm2_png_features",
    f"""
    WITH px AS ({_MM2_PX}),
    gray AS (SELECT m, y, x, avg(v) AS g FROM px GROUP BY 1, 2, 3),
    chan AS (
      SELECT m, avg(CASE WHEN c = 0 THEN v END) AS mean_r,
             avg(CASE WHEN c = 1 THEN v END) AS mean_g,
             avg(CASE WHEN c = 2 THEN v END) AS mean_b
      FROM px GROUP BY m
    ),
    g2 AS (SELECT m, avg(g) AS mean_gray, min(g) AS min_gray,
                  max(g) AS max_gray
           FROM gray GROUP BY m)
    SELECT m AS media_id, 8.0 AS width, 8.0 AS height,
           pround(mean_r, 6) AS mean_r, pround(mean_g, 6) AS mean_g,
           pround(mean_b, 6) AS mean_b, pround(mean_gray, 6) AS mean_gray,
           pround(min_gray, 6) AS min_gray, pround(max_gray, 6) AS max_gray
    FROM chan JOIN g2 USING (m)
    """,
)
def mm2_png_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real image decode, no injection: deterministic 8x8 RGB PNGs are
    encoded and decoded with the engine's stdlib PNG codec
    (zlib+struct, multimodal.decode_png) inside mapInPandas; the oracle
    computes the same pixel statistics in closed form from the generator
    formula — any codec defect breaks the hash."""
    from lakerunner_spark.dataops.multimodal import (
        MEDIA_SCHEMA,
        encode_png,
        extract_features,
    )

    rows = []
    for m in range(10):
        rgb = bytes(
            (m * 37 + y * 17 + x * 5 + c * 11) % 256
            for y in range(8)
            for x in range(8)
            for c in range(3)
        )
        rows.append((m, "image", 8, 8, None, bytearray(encode_png(8, 8, rgb))))
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = extract_features(media)
    names = [
        "width", "height", "mean_r", "mean_g", "mean_b",
        "mean_gray", "min_gray", "max_gray",
    ]
    return feats.select(
        "media_id",
        *[
            _pr(F.element_at("features", i + 1), 6).alias(n)
            for i, n in enumerate(names)
        ],
    )


_MM3_RATE = 8000
_MM3_N = 256

# deterministic PCM16 sample generator shared by query and oracle
_MM3_SAMPLES = f"""
      SELECT m, i, CAST(((m*31 + i*7) % 2001) - 1000 AS DOUBLE) AS v
      FROM range(0, 10) t0(m) CROSS JOIN range(0, {_MM3_N}) t1(i)
"""


@register(
    "mm3_wav_features",
    f"""
    WITH s AS ({_MM3_SAMPLES}),
    zc AS (
      SELECT m, sum(CASE WHEN (v < 0) != (pv < 0) THEN 1 ELSE 0 END) AS flips
      FROM (SELECT m, v, lag(v) OVER (PARTITION BY m ORDER BY i) AS pv FROM s)
      WHERE pv IS NOT NULL GROUP BY m
    )
    SELECT s.m AS media_id,
           pround(1000.0 * {_MM3_N} / {_MM3_RATE}, 6) AS duration_ms,
           CAST({_MM3_RATE} AS DOUBLE) AS sample_rate,
           pround(sqrt(avg(s.v * s.v)), 6) AS rms,
           max(abs(s.v)) AS peak_abs,
           pround(any_value(zc.flips) * 1.0 / ({_MM3_N} - 1), 6) AS zcr
    FROM s JOIN zc ON zc.m = s.m
    GROUP BY s.m
    """,
)
def mm3_wav_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real audio decode, no injection: deterministic 16-bit PCM WAVs
    are encoded and decoded with the engine's stdlib WAV codec
    (multimodal.encode_wav/decode_wav) inside mapInPandas; the oracle
    computes duration/rms/peak/zero-crossing-rate in closed form from
    the same sample generator — any codec defect breaks the hash."""
    from lakerunner_spark.dataops.multimodal import (
        MEDIA_SCHEMA,
        encode_wav,
        extract_features,
    )

    rows = []
    for m in range(10):
        samples = [((m * 31 + i * 7) % 2001) - 1000 for i in range(_MM3_N)]
        rows.append(
            (
                m,
                "audio",
                None,
                None,
                1000 * _MM3_N // _MM3_RATE,
                bytearray(encode_wav(_MM3_RATE, samples)),
            )
        )
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = extract_features(media)
    names = ["duration_ms", "sample_rate", "rms", "peak_abs", "zcr"]
    return feats.select(
        "media_id",
        *[
            _pr(F.element_at("features", i + 1), 6).alias(n)
            for i, n in enumerate(names)
        ],
    )


@register(
    "mm4_bmp_features",
    f"""
    WITH px AS ({_MM2_PX}),
    gray AS (SELECT m, y, x, avg(v) AS g FROM px GROUP BY 1, 2, 3),
    chan AS (
      SELECT m, avg(CASE WHEN c = 0 THEN v END) AS mean_r,
             avg(CASE WHEN c = 1 THEN v END) AS mean_g,
             avg(CASE WHEN c = 2 THEN v END) AS mean_b
      FROM px GROUP BY m
    ),
    g2 AS (SELECT m, avg(g) AS mean_gray, min(g) AS min_gray,
                  max(g) AS max_gray
           FROM gray GROUP BY m)
    SELECT m AS media_id, 8.0 AS width, 8.0 AS height,
           pround(mean_r, 6) AS mean_r, pround(mean_g, 6) AS mean_g,
           pround(mean_b, 6) AS mean_b, pround(mean_gray, 6) AS mean_gray,
           pround(min_gray, 6) AS min_gray, pround(max_gray, 6) AS max_gray
    FROM chan JOIN g2 USING (m)
    """,
)
def mm4_bmp_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real BMP decode, no injection: the SAME deterministic pixel
    formula as mm2 is encoded with the stdlib BMP codec (bottom-up
    padded BGR rows) and decoded inside mapInPandas — the shared oracle
    proves the two codecs agree pixel-for-pixel on top of the PNG
    proof."""
    from lakerunner_spark.dataops.multimodal import (
        MEDIA_SCHEMA,
        encode_bmp,
        extract_features,
    )

    rows = []
    for m in range(10):
        rgb = bytes(
            (m * 37 + y * 17 + x * 5 + c * 11) % 256
            for y in range(8)
            for x in range(8)
            for c in range(3)
        )
        rows.append((m, "image", 8, 8, None, bytearray(encode_bmp(8, 8, rgb))))
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = extract_features(media)
    names = [
        "width", "height", "mean_r", "mean_g", "mean_b",
        "mean_gray", "min_gray", "max_gray",
    ]
    return feats.select(
        "media_id",
        *[
            _pr(F.element_at("features", i + 1), 6).alias(n)
            for i, n in enumerate(names)
        ],
    )


_MM5_PX = """
      SELECT m, f, y, x, c,
             CAST((m*37 + f*23 + y*17 + x*5 + c*11) % 256 AS DOUBLE) AS v
      FROM range(0, 6) t0(m) CROSS JOIN unnest([0, 2, 4]) t1(f)
           CROSS JOIN range(0, 8) t2(y) CROSS JOIN range(0, 8) t3(x)
           CROSS JOIN range(0, 3) t4(c)
"""


@register(
    "mm5_avi_frame_stats",
    f"""
    WITH px AS ({_MM5_PX}),
    chan AS (
      SELECT m, f, avg(CASE WHEN c = 0 THEN v END) AS mean_r,
             avg(CASE WHEN c = 1 THEN v END) AS mean_g,
             avg(CASE WHEN c = 2 THEN v END) AS mean_b
      FROM px GROUP BY m, f
    ),
    gray AS (
      SELECT m, f, avg(g) AS mean_gray
      FROM (SELECT m, f, y, x, avg(v) AS g FROM px GROUP BY 1, 2, 3, 4)
      GROUP BY m, f
    )
    SELECT m AS media_id, CAST(f AS INT) AS frame_idx,
           pround(mean_r, 6) AS mean_r, pround(mean_g, 6) AS mean_g,
           pround(mean_b, 6) AS mean_b, pround(mean_gray, 6) AS mean_gray
    FROM chan JOIN gray USING (m, f)
    """,
)
def mm5_avi_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real video-container decode, no injection: deterministic 6-frame
    8x8 videos are packed into honest RIFF/AVI files (uncompressed DIB
    '00db' frames, bottom-up padded BGR) by the stdlib encoder and
    frame-SAMPLED back out (stride 2, frames 0/2/4) — the metadata pass
    (avi_info) plans the sample and only sampled frames are sliced and
    decoded (decode_avi_frame), the shape that matters when the video
    column is TBs: rows out are proportional to the sample, payload
    bytes never shuffle. The oracle computes the same per-frame channel
    and grayscale means in closed form from the generator formula — a
    codec defect (row order, BGR swap, stride padding, chunk walk)
    breaks the hash."""
    from lakerunner_spark.dataops.multimodal import (
        MEDIA_SCHEMA,
        encode_avi,
        video_frame_stats,
    )

    rows = []
    for m in range(6):
        frames = [
            bytes(
                (m * 37 + f * 23 + y * 17 + x * 5 + c * 11) % 256
                for y in range(8)
                for x in range(8)
                for c in range(3)
            )
            for f in range(6)
        ]
        rows.append(
            (m, "video", 8, 8, 600, bytearray(encode_avi(8, 8, frames, fps=10)))
        )
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    stats = video_frame_stats(media, stride=2, max_frames=3)
    return stats.select(
        "media_id", "frame_idx",
        _pr(F.col("mean_r"), 6).alias("mean_r"),
        _pr(F.col("mean_g"), 6).alias("mean_g"),
        _pr(F.col("mean_b"), 6).alias("mean_b"),
        _pr(F.col("mean_gray"), 6).alias("mean_gray"),
    )


_MM6_FRAME = 64
_MM6_HOP = 32
_MM6_NF = (_MM3_N - _MM6_FRAME) // _MM6_HOP + 1


@register(
    "mm6_audio_frames",
    f"""
    WITH s AS ({_MM3_SAMPLES}),
    fr AS (SELECT f FROM range(0, {_MM6_NF}) t(f)),
    joined AS (
      SELECT s.m, fr.f, s.i - fr.f * {_MM6_HOP} AS j, s.v
      FROM s JOIN fr
        ON s.i >= fr.f * {_MM6_HOP}
       AND s.i <  fr.f * {_MM6_HOP} + {_MM6_FRAME}
    ),
    zc AS (
      SELECT m, f,
             sum(CASE WHEN (v < 0) != (pv < 0) THEN 1 ELSE 0 END) AS flips
      FROM (SELECT m, f, v,
                   lag(v) OVER (PARTITION BY m, f ORDER BY j) AS pv
            FROM joined)
      WHERE pv IS NOT NULL GROUP BY m, f
    )
    SELECT j.m AS media_id, j.f AS frame_idx,
           pround(1000.0 * j.f * {_MM6_HOP} / {_MM3_RATE}, 6) AS start_ms,
           pround(sqrt(sum(j.v * j.v) / {_MM6_FRAME}), 6) AS rms,
           CAST(max(abs(j.v)) AS BIGINT) AS peak_abs,
           pround(any_value(zc.flips) / {_MM6_FRAME - 1}.0, 6) AS zcr
    FROM joined j JOIN zc USING (m, f)
    GROUP BY j.m, j.f
    """,
)
def mm6_audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed audio analysis frames (the preprocessing shape every
    audio model consumes: a 64-sample window hops by 32 and each
    position emits one feature row — per-frame RMS energy, peak
    amplitude, zero-crossing rate). The WAVs are the mm3
    fixture, encoded AND decoded by the engine's stdlib PCM16 codec;
    the oracle recomputes every frame from the closed-form sample
    generator, so a codec defect or an off-by-one in the framing
    breaks the hash. Frame math is numpy over a strided (n_frames,
    frame) view; 16-bit samples make the energy sums exact integers,
    immune to summation order.

    Scale: mapInPandas over the media scan — payloads never shuffle,
    output rows proportional to audio duration, partition-parallel."""
    from lakerunner_spark.dataops.multimodal import (
        MEDIA_SCHEMA,
        audio_frame_features,
        encode_wav,
    )

    rows = []
    for m in range(10):
        samples = [((m * 31 + i * 7) % 2001) - 1000 for i in range(_MM3_N)]
        rows.append(
            (
                m,
                "audio",
                None,
                None,
                1000 * _MM3_N // _MM3_RATE,
                bytearray(encode_wav(_MM3_RATE, samples)),
            )
        )
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = audio_frame_features(media, frame=_MM6_FRAME, hop=_MM6_HOP)
    return feats.select(
        "media_id",
        "frame_idx",
        _pr(F.col("start_ms"), 6).alias("start_ms"),
        _pr(F.col("rms"), 6).alias("rms"),
        "peak_abs",
        _pr(F.col("zcr"), 6).alias("zcr"),
    )


@register(
    "mm7_image_patches",
    f"""
    WITH px AS ({_MM2_PX})
    SELECT m AS media_id, y // 4 AS patch_row, x // 4 AS patch_col,
           pround(sum(CASE WHEN c = 0 THEN v END) / 16.0, 6) AS mean_r,
           pround(sum(CASE WHEN c = 1 THEN v END) / 16.0, 6) AS mean_g,
           pround(sum(CASE WHEN c = 2 THEN v END) / 16.0, 6) AS mean_b,
           pround(sum(v) / 48.0, 6) AS mean_gray
    FROM px GROUP BY 1, 2, 3
    """,
)
def mm7_image_patches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ViT-style patch grid over the mm4 BMP fixture: each 8x8 image
    splits into four 4x4 tiles and every tile emits per-channel and
    gray means — the image-model counterpart of mm6's audio framing.
    The payloads are encoded AND decoded by the engine's stdlib BMP
    codec; the oracle recomputes every tile from the closed-form pixel
    generator, so codec or tiling defects break the hash. 8-bit pixels
    + power-of-two tile size make every mean an exact double in both
    engines (integer sums / 16; gray divides by 48 once)."""
    from lakerunner_spark.dataops.multimodal import (
        MEDIA_SCHEMA,
        encode_bmp,
        image_patch_features,
    )

    rows = []
    for m in range(10):
        rgb = bytes(
            (m * 37 + y * 17 + x * 5 + c * 11) % 256
            for y in range(8)
            for x in range(8)
            for c in range(3)
        )
        rows.append((m, "image", 8, 8, None, bytearray(encode_bmp(8, 8, rgb))))
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = image_patch_features(media, patch=4)
    return feats.select(
        "media_id",
        "patch_row",
        "patch_col",
        _pr(F.col("mean_r"), 6).alias("mean_r"),
        _pr(F.col("mean_g"), 6).alias("mean_g"),
        _pr(F.col("mean_b"), 6).alias("mean_b"),
        _pr(F.col("mean_gray"), 6).alias("mean_gray"),
    )


def _sim7_oracle(shortlist: int = 32) -> str:
    """sim7's oracle, parameterized by the ADC shortlist width (the
    recall/cost dial sim8's frontier sweeps)."""
    return f"""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 3),
    c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 3),
    cents AS (SELECT vec_id AS code, embedding FROM c
              ORDER BY vec_id ASC LIMIT 32),
    csub AS (
      SELECT vec_id AS cid, s,
             list_transform(range(1, 5),
                            j -> CAST(embedding[s*4 + j] AS DOUBLE)) AS sv
      FROM c CROSS JOIN range(0, 16) t(s)
    ),
    qsub AS (
      SELECT vec_id AS qid, s,
             list_transform(range(1, 5),
                            j -> CAST(embedding[s*4 + j] AS DOUBLE)) AS sv
      FROM q CROSS JOIN range(0, 16) t(s)
    ),
    ksub AS (
      SELECT code, s,
             list_transform(range(1, 5),
                            j -> CAST(embedding[s*4 + j] AS DOUBLE)) AS kv
      FROM cents CROSS JOIN range(0, 16) t(s)
    ),
    cdist AS (
      SELECT cid, s, code,
             pround(list_sum(list_transform(range(1, 5),
                    j -> (sv[j] - kv[j]) * (sv[j] - kv[j]))), 12) AS d
      FROM csub JOIN ksub USING (s)
    ),
    codes AS (
      SELECT cid, s, code FROM (
        SELECT cid, s, code, row_number() OVER (
          PARTITION BY cid, s ORDER BY d ASC, code ASC) AS rn
        FROM cdist
      ) WHERE rn = 1
    ),
    qtab AS (
      SELECT qid, s, code,
             pround(list_sum(list_transform(range(1, 5),
                    j -> (sv[j] - kv[j]) * (sv[j] - kv[j]))), 12) AS d
      FROM qsub JOIN ksub USING (s)
    ),
    adc AS (
      SELECT qid, cid, pround(sum(d), 6) AS pq_dist
      FROM codes JOIN qtab USING (s, code)
      GROUP BY qid, cid
    ),
    short AS (
      SELECT qid, cid FROM (
        SELECT qid, cid, row_number() OVER (
          PARTITION BY qid ORDER BY pq_dist ASC, cid ASC) AS rn
        FROM adc
      ) WHERE rn <= {shortlist}
    ),
    rer AS (
      SELECT s.qid, s.cid,
             pround(list_sum(list_transform(range(1, 65),
                    i -> (CAST(qe.embedding[i] AS DOUBLE)
                          - CAST(ce.embedding[i] AS DOUBLE))
                       * (CAST(qe.embedding[i] AS DOUBLE)
                          - CAST(ce.embedding[i] AS DOUBLE)))), 6) AS l2_dist
      FROM short s
      JOIN q qe ON qe.vec_id = s.qid
      JOIN c ce ON ce.vec_id = s.cid
    )
    SELECT qid, cid, l2_dist FROM (
      SELECT qid, cid, l2_dist, row_number() OVER (
        PARTITION BY qid ORDER BY l2_dist ASC, cid ASC) AS rn
      FROM rer
    ) WHERE rn <= 5
    """


@register("sim7_pq_topk", _sim7_oracle())
def sim7_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jegou et al. 2011) over the sim2
    fixture split: 64-dim vectors divide into 16 four-dim subspaces,
    corpus subvectors are replaced by nearest-codeword ids (codebooks
    = the 32 lowest-id corpus vectors' subvectors, the ivf_topk
    seeding convention), queries rank by ASYMMETRIC distance — exact
    query->codeword subdistance tables summed at the corpus codes —
    and the ADC top-32 shortlist re-ranks by exact L2 (recall@5 >=
    0.7 asserted in tests/test_multimodal_ann.py). Completes the ANN
    family: brute cosine (sim1), IVF (sim2), LSH (sim3), int8 scalar
    quantization (sim4), k-means-trained IVF (sim5), JL random
    projection (sim6), PQ+re-rank (sim7). The oracle reproduces
    codebook, encoding argmin, ADC, shortlist, and re-rank step for
    step (12-dp rounding before every argmin, id tiebreaks)."""
    from lakerunner_spark.dataops.similarity import pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    c = emb.filter(F.col("vec_id") >= 3)
    return pq_topk(q, c, k=5, m=16, n_codes=32, dim=64, shortlist=32)


# ddm1 fixture: 14 BMP images (36x32 = a 9x8 grid of 4x4 tiles), pixel
# values from a squared-mod generator (nonlinear, so base images get
# DISTINCT gradient hashes — a linear ramp would hash every image
# identically). Planted near-duplicates: ids 100-102 are ids 0-2 with
# +10 uniform brightness (dHash-invariant — the re-encode analogue);
# ids 200-202 are ids 0-2 with one tile (+50 on tile row 3, col 4)
# locally edited, flipping at most the two bits whose comparisons
# touch that tile. All values stay < 250: no clipping, so the oracle's
# integer generator reproduces every byte.
_DDM1_IDS = [0, 1, 2, 3, 4, 5, 6, 7, 100, 101, 102, 200, 201, 202]
_DDM1_W, _DDM1_H = 36, 32
_DDM1_MAX_HAMMING = 8


def _ddm1_pixel(m: int, y: int, x: int, c: int) -> int:
    e = (m % 100) * 97 + y * 31 + x * 61 + c * 13 + 5
    v = (e * e) % 199
    if 100 <= m < 200:
        v += 10
    if m >= 200 and y // 4 == 3 and x // 4 == 4:
        v += 50
    return v



def _fixture_memo(spark: SparkSession, name: str, build) -> DataFrame:
    """Planted oracle fixtures are deterministic constants, but
    rebuilding them per call re-pays the Python byte generation
    (pixel/sample loops + BMP/AVI/WAV encode) AND the createDataFrame
    py4j serialization on EVERY bench iteration — the r9 verdict's
    driver-latency cluster (ddm1/ddm3/ddm5 main entries are 0.3-1.7s
    queries where this fixed cost is a visible, noisy fraction). See
    plans/probe_cache.session_memo."""
    from lakerunner_spark.plans.probe_cache import session_memo

    return session_memo(spark, f"fixture:{name}", build)


def _ddm1_media(spark: SparkSession) -> DataFrame:
    """The shared planted image fixture (ddm1/ddm2): encode every
    _DDM1_IDS image from the closed-form pixel generator."""
    from lakerunner_spark.dataops.multimodal import MEDIA_SCHEMA, encode_bmp

    def build() -> DataFrame:
        rows = []
        for m in _DDM1_IDS:
            rgb = bytes(
                _ddm1_pixel(m, y, x, c)
                for y in range(_DDM1_H)
                for x in range(_DDM1_W)
                for c in range(3)
            )
            rows.append(
                (m, "image", _DDM1_W, _DDM1_H, None,
                 bytearray(encode_bmp(_DDM1_W, _DDM1_H, rgb)))
            )
        return spark.createDataFrame(rows, MEDIA_SCHEMA)

    return _fixture_memo(spark, "ddm1", build)


@register(
    "ddm1_image_neardup",
    f"""
    WITH ids AS (SELECT unnest([{", ".join(str(i) for i in _DDM1_IDS)}]) AS m),
    px AS (
      SELECT m, y, x, c,
             (((m % 100)*97 + y*31 + x*61 + c*13 + 5)
              * ((m % 100)*97 + y*31 + x*61 + c*13 + 5)) % 199
             + CASE WHEN m >= 100 AND m < 200 THEN 10 ELSE 0 END
             + CASE WHEN m >= 200 AND y // 4 = 3 AND x // 4 = 4
                    THEN 50 ELSE 0 END AS v
      FROM ids CROSS JOIN range(0, {_DDM1_H}) t1(y)
           CROSS JOIN range(0, {_DDM1_W}) t2(x)
           CROSS JOIN range(0, 3) t3(c)
    ),
    tiles AS (
      SELECT m, y // 4 AS r, x // 4 AS col, sum(v) / 16.0 AS g
      FROM px GROUP BY 1, 2, 3
    ),
    bits AS (
      SELECT a.m, a.r, a.col,
             CASE WHEN a.g < b.g THEN 1 ELSE 0 END AS bit
      FROM tiles a
      JOIN tiles b ON b.m = a.m AND b.r = a.r AND b.col = a.col + 1
    ),
    words AS (
      SELECT m, r // 2 AS band,
             CAST(sum(bit * CAST(power(2, (r % 2) * 8 + col) AS BIGINT))
                  AS BIGINT) AS word
      FROM bits GROUP BY 1, 2
    ),
    cand AS (
      SELECT a.m AS media_a, b.m AS media_b
      FROM words a
      JOIN words b ON b.band = a.band AND b.word = a.word AND a.m < b.m
      GROUP BY 1, 2
    ),
    ham AS (
      SELECT c.media_a, c.media_b,
             CAST(sum(bit_count(xor(x.word, y.word))) AS BIGINT) AS hamming
      FROM cand c
      JOIN words x ON x.m = c.media_a
      JOIN words y ON y.m = c.media_b AND y.band = x.band
      GROUP BY 1, 2
    )
    SELECT media_a, media_b, hamming
    FROM ham WHERE hamming <= {_DDM1_MAX_HAMMING}
    """,
)
def ddm1_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image near-duplicate detection — the multimodal
    x dedup cell: BMP payloads decode through the engine's stdlib
    codec into 4x4 tile means (mm7's ViT patch machinery), reduce to a
    dHash (bit = horizontal gray-gradient sign — invariant to the
    uniform brightness/contrast shifts re-encodes introduce, which
    byte- or pixel-exact dedup misses), and near-dup pairs come from
    the banded Hamming join (dedup.hamming_neardup_pairs: equi-join on
    exact 16-bit band words — bucketed, NEVER all-pairs — then exact
    popcount verify). Planted: brightness-shifted copies land at
    hamming 0, single-tile edits at 1-2 bits, unrelated images nowhere
    (unit-asserted in tests/test_multimodal_ann.py). Integer pixel
    math end to end: the oracle regenerates every byte, tile mean,
    hash bit, band word, candidate, and popcount.

    100 TB design: decode+hash is one mapInPandas scan (payloads never
    shuffle, output is 4 band-word rows per image); the only shuffles
    key on (band, word) — near-unique except genuine duplicates — and
    the bounded candidate set. The pair stage is the dd2/dd4 banding
    asymptote with the same hot-bucket story."""
    _words, pairs = ddm_words_and_pairs(_ddm1_media(spark))
    return pairs.select(
        F.col("id_a").alias("media_a"),
        F.col("id_b").alias("media_b"),
        "hamming",
    )


# sim8: the ANN quality frontier — per retrieval method, its candidate
# budget and measured recall@5 against the exact baseline of ITS OWN
# target metric (cosine for sim1-4/6, L2 for sim7's PQ). sim5 is a
# clustering census, not retrieval, so it has no recall to report.
_SIM8_METHODS = [
    ("sim1_cosine_topk", "full corpus, float cosine", "cos"),
    ("sim2_ivf_topk", "IVF: 8 of 16 cells probed", "cos"),
    ("sim3_lsh_topk", "LSH: 6 tables x 3-bit buckets", "cos"),
    ("sim4_quantized_topk", "full corpus, int8 vectors", "cos"),
    ("sim6_random_projection", "JL 64->24d, shortlist 64 + exact re-rank", "cos"),
    ("sim7_pq_topk", "PQ ADC, shortlist 32 + exact L2 re-rank", "l2"),
]

# the frontier CURVE: the same PQ pipeline at narrower ADC shortlists —
# recall@5 vs candidate budget as data, not prose (sim7's registered
# point is shortlist 32; these rows show what each halving costs)
_SIM8_PQ_SWEEP = (8, 16)

_SIM8_L2_EXACT = """
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 3),
    c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 3),
    qf AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
           FROM q CROSS JOIN unnest(range(1, 65)) AS t(i)),
    cf AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
           FROM c CROSS JOIN unnest(range(1, 65)) AS t(i)),
    d AS (
      SELECT qf.vec_id AS qid, cf.vec_id AS cid,
             pround(sum((qf.v - cf.v) * (qf.v - cf.v)), 6) AS l2_dist
      FROM qf JOIN cf ON cf.i = qf.i
      GROUP BY 1, 2
    )
    SELECT qid, cid FROM (
      SELECT qid, cid, row_number() OVER (
        PARTITION BY qid ORDER BY l2_dist ASC, cid ASC) AS rn
      FROM d
    ) WHERE rn <= 5
"""


def _sim8_entries() -> list[tuple[str, str, str, str]]:
    """(label, budget, metric, oracle_sql) rows: the registered
    methods plus the PQ shortlist sweep (same pipeline, narrower ADC
    shortlists — the frontier's cost axis)."""
    from lakerunner_spark.queries import ORACLE

    entries = [
        (name, budget, metric, ORACLE[name])
        for name, budget, metric in _SIM8_METHODS
    ]
    for sl in _SIM8_PQ_SWEEP:
        entries.append(
            (
                f"sim7_pq_topk_sl{sl}",
                f"PQ ADC, shortlist {sl} + exact L2 re-rank",
                "l2",
                _sim7_oracle(sl),
            )
        )
    return entries


def _sim8_oracle() -> str:
    """Composes the REGISTERED sim oracles (each already an exact,
    driver-verified replica of its method) as CTE subqueries and counts
    per-method overlap with the exact baseline of its metric."""
    ctes = [f"exact_l2 AS ({_SIM8_L2_EXACT})"]
    selects = []
    for name, budget, metric, sql in _sim8_entries():
        ctes.append(f"{name}_full AS ({sql})")
        ctes.append(
            f"{name}_ids AS (SELECT qid, cid FROM {name}_full)"
        )
        exact = "exact_cos_ids" if metric == "cos" else "exact_l2"
        selects.append(f"""
    SELECT '{name}' AS method, '{budget}' AS budget,
           CAST((SELECT count(*) FROM {name}_ids JOIN {exact}
                 USING (qid, cid)) AS BIGINT) AS n_hits,
           CAST((SELECT count(*) FROM {exact}) AS BIGINT) AS n_exact,
           pround((SELECT count(*) FROM {name}_ids JOIN {exact}
                   USING (qid, cid)) * 1.0
                  / (SELECT count(*) FROM {exact}), 6) AS recall5
        """)
    from lakerunner_spark.queries import ORACLE

    # the cosine ground truth IS sim1's registered oracle
    ctes.insert(1, "exact_cos_ids AS (SELECT qid, cid FROM sim1_cosine_topk_full)")
    # sim1_cosine_topk_full must be defined before exact_cos_ids
    ctes.insert(1, f"sim1_cosine_topk_full AS ({ORACLE['sim1_cosine_topk']})")
    # drop the duplicate definition added by the loop
    seen, dedup = set(), []
    for c in ctes:
        key = c.split(" AS ")[0].strip()
        if key in seen:
            continue
        seen.add(key)
        dedup.append(c)
    return "WITH " + ",\n    ".join(dedup) + "\nUNION ALL".join(selects)


@register("sim8_ann_frontier", _sim8_oracle())
def sim8_ann_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN quality frontier (the dd15 funnel pattern applied to
    sim*): one standing report row per retrieval method — its candidate
    budget and its measured recall@5 against the EXACT baseline of its
    own target metric (brute cosine for sim1/2/3/4/6; brute L2 for
    sim7, whose PQ ranks by L2 — sim7's r6 redesign was caught by
    exactly this measurement, 0.06 -> 0.78). Recall is a deterministic
    overlap count on the planted fixture, so the whole frontier is
    exact-oracle; per-method floors are asserted in
    tests/test_multimodal_ann.py so a regression in any method's
    recall fails the suite, not just this report. The PQ rows sweep
    the ADC shortlist (8/16/32) so the report carries the frontier
    CURVE — what each halving of the candidate budget costs in
    recall — not just one point per method.

    Scale: every method's plan is its registered query's plan (budgets
    in the report are the knobs those plans carry); the report itself
    aggregates 6 x 15 id pairs — nothing here grows with the corpus
    beyond the member queries' own contracts."""
    from lakerunner_spark.dataops.similarity import (
        _pq_ranked,
        _pq_rerank,
        cosine_topk,
        dequantize_embeddings,
        l2_topk,
        lsh_bucket_topk,
        quantize_embeddings,
    )
    from lakerunner_spark.functions.rounding import portable_round
    from lakerunner_spark.operators.skew import (
        VEC_ROWS_PER_PART,
        spread_small_scan,
    )
    from lakerunner_spark.queries_dataops import _sim6_topk

    emb = load_table(spark, sf_dir, "embeddings")
    # (r13 #3, reworked) ONE corpus materialization feeds every member
    # plan. The first r13 attempt checkpointed each member's 15-row
    # OUTPUT as its own job; that cost the cross-member scan/stage
    # reuse the old single-union execution got for free — the bench's
    # own work-adjudicated diff caught it (sf1 input_rows 120K -> 620K,
    # tasks 90 -> 512, x3.5 normalized; sf10 shuffle 199MB -> 2.5GB,
    # x4.5: every member job re-scanned, re-spread and re-derived the
    # corpus). Instead the shared LEAVES are materialized once — the
    # 3-row query set and the sized-spread corpus — and all nine
    # member plans are built over those checkpoints by the SAME
    # operators the registered sim1-7 queries call with the same
    # parameters, composed into one union report (a single execution,
    # so identical member subtrees — e.g. the three PQ rows' codebook
    # training — stay eligible for AQE stage reuse). Member semantics
    # are unchanged: each operator is deterministic in its input ROWS
    # (partitioning only affects execution), which the oracle gate and
    # the recall-floor suite re-certify. The internal sized spreads of
    # the operators no-op on the checkpointed corpus (skew.py: a
    # derived relation keeps its producer's partitioning).
    #
    # The two exact baselines are 15-row results the union reads once
    # per method row (6x cosine, 3x L2) through ALIASED branches —
    # exchange reuse never fires on those (the dd11/ddm1 lesson) — so
    # each is ALSO materialized once; sim1's approx row reuses the
    # checkpointed cosine baseline (it IS that query).
    q3 = (
        emb.filter(F.col("vec_id") < 3)
        .select("vec_id", "embedding")
        .localCheckpoint(eager=True)
    )
    corpus = (
        spread_small_scan(
            emb.filter(F.col("vec_id") >= 3).select("vec_id", "embedding"),
            rows_per_part=VEC_ROWS_PER_PART,
        )
        .localCheckpoint(eager=True)
    )
    # Everything below q3/corpus runs CONCURRENTLY in one small pool
    # (guide §2.6 — actions are only sequential because driver code
    # calls them sequentially): the two exact baselines, the shared
    # PQ ADC ranking (built and executed ONCE for the three shortlist
    # sweep rows — _pq_ranked; its (qid, cid) volume is the PQ
    # member's own contract), and each member's 15-row output. Each
    # job is a handful of tiny stages over the in-memory corpus, so
    # overlapping them collapses the old union's ~45 back-to-back
    # micro-stages into a few concurrent jobs, and the report reads 9
    # checkpointed 15-row tables. sim1 IS the checkpointed cosine
    # baseline — no extra job.
    from concurrent.futures import ThreadPoolExecutor

    def _ck(df):
        return df.localCheckpoint(eager=True)

    with ThreadPoolExecutor(max_workers=4) as pool:
        f_cos = pool.submit(
            lambda: _ck(cosine_topk(q3, corpus, k=5).select("qid", "cid"))
        )
        f_l2 = pool.submit(
            lambda: _ck(l2_topk(q3, corpus, k=5).select("qid", "cid"))
        )
        # materialize only the ADC rows any sweep can read (_rn up to
        # the widest shortlist): the rerank stages filter _rn <= sl
        # anyway, so checkpointing the full q x n ranking would write
        # corpus-proportional rows for nothing
        _sl_max = max((32, *_SIM8_PQ_SWEEP))
        f_ranked = pool.submit(
            lambda: _ck(
                _pq_ranked(q3, corpus, m=16, n_codes=32, dim=64)[0].filter(
                    F.col("_rn") <= _sl_max
                )
            )
        )

        fns = {
            "sim2_ivf_topk": lambda: ivf_topk(
                q3, corpus, k=5, n_cells=16, n_probe=8
            ),
            "sim3_lsh_topk": lambda: lsh_bucket_topk(
                q3, corpus, _sim3_tables(), k=5
            ),
            "sim4_quantized_topk": lambda: cosine_topk(
                q3, dequantize_embeddings(quantize_embeddings(corpus)), k=5
            ),
            "sim6_random_projection": lambda: _sim6_topk(q3, corpus),
        }
        for sl in (32, *_SIM8_PQ_SWEEP):
            fns[f"sim7_pq_topk_sl{sl}"] = (
                lambda s: lambda: _pq_rerank(
                    f_ranked.result(), q3, corpus, shortlist=s, k=5
                )
            )(sl)
        fns["sim7_pq_topk"] = fns.pop("sim7_pq_topk_sl32")

        def _materialize(name: str):
            return _ck(
                fns[name]().select(
                    F.lit(name).alias("method"), "qid", "cid"
                )
            )

        futs = {n: pool.submit(_materialize, n) for n in fns}
        exact_cos = f_cos.result()
        exact_l2 = f_l2.result()
        member = {n: f.result() for n, f in futs.items()}
        member["sim1_cosine_topk"] = exact_cos.select(
            F.lit("sim1_cosine_topk").alias("method"), "qid", "cid"
        )

    entries = _sim8_entries()

    approx = None
    exact = None
    for name, _, metric, _sql in entries:
        a = member[name]
        e = (exact_cos if metric == "cos" else exact_l2).select(
            F.lit(name).alias("method"), "qid", "cid"
        )
        approx = a if approx is None else approx.unionByName(a)
        exact = e if exact is None else exact.unionByName(e)

    hits = (
        approx.join(exact, ["method", "qid", "cid"])
        .groupBy("method")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    totals = exact.groupBy("method").agg(
        F.count(F.lit(1)).alias("n_exact")
    )
    budget = None
    for name, b, _, _sql in _sim8_entries():
        w = F.when(F.col("method") == name, F.lit(b))
        budget = w if budget is None else budget.when(
            F.col("method") == name, F.lit(b)
        )
    return (
        totals.join(hits, "method", "left")
        .select(
            "method",
            budget.alias("budget"),
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            F.col("n_exact").cast("long").alias("n_exact"),
            portable_round(
                F.coalesce(F.col("n_hits"), F.lit(0)) * F.lit(1.0)
                / F.col("n_exact"),
                6,
            ).alias("recall5"),
        )
    )


def _ddm2_oracle() -> str:
    from lakerunner_spark.queries import ORACLE

    n = len(_DDM1_IDS)
    return f"""
    WITH RECURSIVE pairs AS (
      SELECT media_a AS id_a, media_b AS id_b
      FROM ({ORACLE["ddm1_image_neardup"]})
    ),
    edges AS (SELECT id_a AS u, id_b AS v FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    walk(u, label) AS (
      SELECT DISTINCT u, u FROM edges
      UNION
      SELECT e2.u, w.label FROM edges e2 JOIN walk w ON w.u = e2.v
    ),
    comp AS (SELECT u AS node, min(label) AS component FROM walk GROUP BY u)
    SELECT CAST({n} AS BIGINT) AS n_images,
           CAST(count(*) AS BIGINT) AS n_clustered,
           CAST(count(DISTINCT component) AS BIGINT) AS n_clusters,
           CAST(count(*) - count(DISTINCT component) AS BIGINT) AS n_dropped
    FROM comp
    """


def ddm_words_and_pairs(media: DataFrame):
    """Shared ddm1 core (registered fixture AND bench scale
    overrides run the SAME code): decode -> dHash band words ->
    banded Hamming join. Returns (words, pairs)."""
    from lakerunner_spark.dataops.dedup import hamming_neardup_pairs
    from lakerunner_spark.dataops.multimodal import image_dhash_bands

    words = image_dhash_bands(media, patch=4, grid_cols=9, band_rows=2)
    pairs = hamming_neardup_pairs(
        words, "media_id", max_hamming=_DDM1_MAX_HAMMING
    )
    return words, pairs


def ddm2_census(media: DataFrame) -> DataFrame:
    """Shared ddm2 pipeline body (pairs -> connected components ->
    keep-first census) — the bench scale override must measure
    EXACTLY the oracle-checked pipeline, so there is one copy."""
    from lakerunner_spark.dataops.graph import neardup_clusters

    _words, pairs = ddm_words_and_pairs(media)
    clusters = neardup_clusters(pairs, "id_a", "id_b")
    total = media.agg(F.count(F.lit(1)).alias("n_images"))
    report = clusters.agg(
        F.count(F.lit(1)).cast("long").alias("n_clustered"),
        F.countDistinct("component").cast("long").alias("n_clusters"),
        (F.count(F.lit(1)) - F.countDistinct("component"))
        .cast("long")
        .alias("n_dropped"),
    )
    return report.crossJoin(F.broadcast(total)).select(
        "n_images", "n_clustered", "n_clusters", "n_dropped"
    )


@register("ddm2_image_dedup_pipeline", _ddm2_oracle())
def ddm2_image_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The image-corpus analogue of dd10's end-to-end dedup pipeline:
    dHash band words (decode once, mapInPandas) -> banded Hamming
    candidates + exact popcount verify (ddm1) -> connected components
    (dataops/graph.py min-label propagation; the oracle replays them
    with a recursive CTE) -> keep-first census: each cluster keeps its
    lowest media_id, the rest land on the delete list. One row:
    (n_images, n_clustered, n_clusters, n_dropped) — on the planted
    fixture the three original/brightness/tile-edit triples collapse
    to 3 clusters dropping 6 images.

    100 TB design: same contracts as the member stages — decode never
    shuffles, the pair stage is band-bucketed, components run one
    shuffle per round over EDGE rows only (pairs, a vanishing fraction
    of images), and the census is a single aggregate."""
    return ddm2_census(_ddm1_media(spark))


# ddm3 fixture: 9 AVI videos (24x16 = a 6x4 grid of 4x4 tiles), 8 frames
# each (101 has 6), pixels from the ddm1-style squared-mod generator with
# the FRAME index inside so frames differ. Planted: 100 is 0 re-encoded
# (+10 uniform brightness on every frame -> per-frame hamming 0, a full
# 8-frame run at offset 0); 101 is 1 head-TRIMMED (its frame f is 1's
# frame f+2 -> a 6-frame run at offset +2); 102 shares exactly ONE frame
# with 2 (its frame 0 is 2's frame 5, brightness-shifted) — a real match
# the frame-pair stage finds but a 1-frame "clip" the min_run=3 temporal
# verify must reject. All values stay < 250: no clipping.
_DDM3_VIDS = [(0, 8), (1, 8), (2, 8), (3, 8), (4, 8), (5, 8),
              (100, 8), (101, 6), (102, 8)]
_DDM3_W, _DDM3_H = 24, 16
_DDM3_MAX_HAMMING = 2
_DDM3_MIN_RUN = 3


def _ddm3_base(m: int, f: int) -> tuple[int, int, int]:
    """(base video, base frame, brightness) for the planted mapping."""
    if m == 100:
        return 0, f, 10
    if m == 101:
        return 1, f + 2, 0
    if m == 102 and f == 0:
        return 2, 5, 10
    return m, f, 0


def _ddm3_pixel(m: int, f: int, y: int, x: int, c: int) -> int:
    bv, bf, br = _ddm3_base(m, f)
    e = bv * 97 + bf * 53 + y * 31 + x * 61 + c * 13 + 7
    return (e * e) % 199 + br


def _ddm3_media(spark: SparkSession) -> DataFrame:
    """The planted video fixture: honest RIFF/AVI containers (the mm5
    encoder) from the closed-form pixel generator."""
    from lakerunner_spark.dataops.multimodal import MEDIA_SCHEMA, encode_avi

    def build() -> DataFrame:
        rows = []
        for m, nf in _DDM3_VIDS:
            frames = [
                bytes(
                    _ddm3_pixel(m, f, y, x, c)
                    for y in range(_DDM3_H)
                    for x in range(_DDM3_W)
                    for c in range(3)
                )
                for f in range(nf)
            ]
            rows.append(
                (m, "video", _DDM3_W, _DDM3_H, nf * 100,
                 bytearray(encode_avi(_DDM3_W, _DDM3_H, frames, fps=10)))
            )
        return spark.createDataFrame(rows, MEDIA_SCHEMA)

    return _fixture_memo(spark, "ddm3", build)


def _frame_runs_oracle_tail(max_hamming: int, min_run: int,
                            out_a: str, out_b: str) -> str:
    """Shared oracle tail replaying dedup.frame_hamming_runs (packed
    ordering with frame_key=1000, banded candidates, popcount verify,
    cross-id filter, diagonal gaps-and-islands, min_run): ddm3 (video)
    and ddm5 (audio) both append this to their own ``words(vid, f,
    band, word)`` CTE chain, so a fix to the run logic lands in ONE
    place for both oracles — mirroring the engine, where both queries
    call the one frame_hamming_runs."""
    return f"""
    cand AS (
      SELECT a.vid AS va, a.f AS fa, b.vid AS vb, b.f AS fb
      FROM words a
      JOIN words b ON b.band = a.band AND b.word = a.word
                  AND a.vid * 1000 + a.f < b.vid * 1000 + b.f
      GROUP BY 1, 2, 3, 4
    ),
    ham AS (
      SELECT c.va, c.fa, c.vb, c.fb,
             CAST(sum(bit_count(xor(x.word, y.word))) AS BIGINT) AS hamming
      FROM cand c
      JOIN words x ON x.vid = c.va AND x.f = c.fa
      JOIN words y ON y.vid = c.vb AND y.f = c.fb AND y.band = x.band
      GROUP BY 1, 2, 3, 4
    ),
    mt AS (
      SELECT va AS id_a, vb AS id_b, fa AS i, fb AS j
      FROM ham WHERE hamming <= {max_hamming} AND va != vb
    ),
    isl AS (
      SELECT id_a, id_b, i - j AS off, i,
             i - row_number() OVER (PARTITION BY id_a, id_b, i - j
                                    ORDER BY i) AS island
      FROM mt
    ),
    runs AS (
      SELECT id_a, id_b, off, island, count(*) AS rl
      FROM isl GROUP BY 1, 2, 3, 4
    )
    SELECT CAST(id_a AS BIGINT) AS {out_a},
           CAST(id_b AS BIGINT) AS {out_b},
           CAST(off AS BIGINT) AS "offset",
           CAST(max(rl) AS BIGINT) AS longest_run
    FROM runs GROUP BY 1, 2, 3
    HAVING max(rl) >= {min_run}
    """


@register(
    "ddm3_video_neardup",
    f"""
    WITH vids AS (
      SELECT * FROM (VALUES {", ".join(f"({m}, {nf})" for m, nf in _DDM3_VIDS)})
        v(vid, nf)
    ),
    fr AS (
      SELECT vid, f FROM vids CROSS JOIN range(0, 8) t(f) WHERE f < nf
    ),
    base AS (
      SELECT vid, f,
             CASE WHEN vid = 100 THEN 0 WHEN vid = 101 THEN 1
                  WHEN vid = 102 AND f = 0 THEN 2 ELSE vid END AS bv,
             CASE WHEN vid = 101 THEN f + 2
                  WHEN vid = 102 AND f = 0 THEN 5 ELSE f END AS bf,
             CASE WHEN vid = 100 OR (vid = 102 AND f = 0)
                  THEN 10 ELSE 0 END AS br
      FROM fr
    ),
    px AS (
      SELECT vid, f, y, x, c,
             ((bv*97 + bf*53 + y*31 + x*61 + c*13 + 7)
              * (bv*97 + bf*53 + y*31 + x*61 + c*13 + 7)) % 199 + br AS v
      FROM base CROSS JOIN range(0, {_DDM3_H}) t1(y)
           CROSS JOIN range(0, {_DDM3_W}) t2(x)
           CROSS JOIN range(0, 3) t3(c)
    ),
    tiles AS (
      SELECT vid, f, y // 4 AS r, x // 4 AS col, sum(v) / 16.0 AS g
      FROM px GROUP BY 1, 2, 3, 4
    ),
    bits AS (
      SELECT a.vid, a.f, a.r, a.col,
             CASE WHEN a.g < b.g THEN 1 ELSE 0 END AS bit
      FROM tiles a
      JOIN tiles b ON b.vid = a.vid AND b.f = a.f AND b.r = a.r
                  AND b.col = a.col + 1
    ),
    words AS (
      SELECT vid, f, r // 2 AS band,
             CAST(sum(bit * CAST(power(2, (r % 2) * 5 + col) AS BIGINT))
                  AS BIGINT) AS word
      FROM bits GROUP BY 1, 2, 3
    ),
    {_frame_runs_oracle_tail(_DDM3_MAX_HAMMING, _DDM3_MIN_RUN,
                             "video_a", "video_b").strip()}
    """,
)
def ddm3_video_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-duplicate detection — the remaining multimodal x
    dedup cell: AVI payloads frame-sample through the mm5 container
    walk (avi_info plans, decode_avi_frame slices), every sampled
    frame reduces to the ddm1 dHash band words
    (multimodal.video_frame_dhash_bands — same gradient bits, same
    integer exactness), frames match through the banded Hamming join
    at (video, frame) granularity, and matches stitch into TEMPORAL
    runs of consecutive frames (dedup.frame_hamming_runs — the dd11v
    gaps-and-islands shape on frame index). Planted: the re-encoded
    copy (uniform brightness shift) yields a full 8-frame run at
    offset 0; the head-trimmed clip a 6-frame run at offset +2; a
    single coincidentally-shared frame stays below min_run=3 and is
    rejected. The oracle regenerates every pixel, tile mean, hash
    bit, band word, candidate, popcount, diagonal, and run length.

    100 TB design: decode+hash is one mapInPandas scan (payload bytes
    never shuffle; output is bands x sampled-frames rows per video);
    the only shuffles key on (band, word) and the bounded candidate
    set; run windows partition per (pair, diagonal) — bounded by one
    video's sampled frames, never the corpus."""
    from lakerunner_spark.dataops.dedup import frame_hamming_runs
    from lakerunner_spark.dataops.multimodal import video_frame_dhash_bands

    media = _ddm3_media(spark)
    words = video_frame_dhash_bands(
        media, stride=1, max_frames=8, patch=4,
        grid_cols=_DDM3_W // 4, band_rows=2,
    )
    return frame_hamming_runs(
        words,
        "media_id",
        "frame_idx",
        max_hamming=_DDM3_MAX_HAMMING,
        min_run=_DDM3_MIN_RUN,
        frame_key=1000,
    )


# ddm4 fixture: 24 base images (ids 0-23) + 6 micro-contrast variants
# (ids 100-105 of bases 0-5), 36x32 px, pixel value CONSTANT per 4x4
# tile so the mm7 gray mean is the tile value exactly. Tiles come in
# horizontally EQUAL pairs (t(r,2i) == t(r,2i+1)); the variant adds +2
# to odd columns, which flips every tie-broken dHash gradient bit —
# measured hamming 32-33 of 64, far past ddm1's max_hamming=8, so the
# perceptual hash MISSES these near-identical images — while the
# feature vectors move by <= 2 on half their dims: cosine >= 0.99995
# vs a 0.9634 max between unrelated bases. SemDeDup over the SAME mm7
# features catches exactly the planted six.
_DDM4_BASES, _DDM4_VARIANTS = 24, 6
_DDM4_GH, _DDM4_GW = 8, 9
_DDM4_K, _DDM4_CELLS, _DDM4_MOD, _DDM4_ITERS = 5, 2, 2, 2
_DDM4_THRESHOLD = 0.999


def _ddm4_tile(m: int, r: int, c: int) -> int:
    mp = m - 100 if m >= 100 else m
    e = mp * 37 + r * 11 + (c // 2) * 7
    u = (e * e) % 97 + 60
    if m >= 100 and c % 2 == 1:
        u += 2
    return u


def _ddm4_media(spark: SparkSession) -> DataFrame:
    from lakerunner_spark.dataops.multimodal import MEDIA_SCHEMA, encode_bmp

    def build() -> DataFrame:
        ids = list(range(_DDM4_BASES)) + [
            100 + i for i in range(_DDM4_VARIANTS)
        ]
        rows = []
        for m in ids:
            rgb = bytes(
                _ddm4_tile(m, y // 4, x // 4)
                for y in range(_DDM4_GH * 4)
                for x in range(_DDM4_GW * 4)
                for _c in range(3)
            )
            rows.append(
                (m, "image", _DDM4_GW * 4, _DDM4_GH * 4, None,
                 bytearray(encode_bmp(_DDM4_GW * 4, _DDM4_GH * 4, rgb)))
            )
        return spark.createDataFrame(rows, MEDIA_SCHEMA)

    return _fixture_memo(spark, "ddm4", build)


_DDM4_LONG = f"""
      SELECT m AS _id, r * {_DDM4_GW} + c AS pos,
             CAST(((CASE WHEN m >= 100 THEN m - 100 ELSE m END) * 37
                    + r * 11 + (c // 2) * 7)
                  * ((CASE WHEN m >= 100 THEN m - 100 ELSE m END) * 37
                    + r * 11 + (c // 2) * 7) % 97 + 60
                  + CASE WHEN m >= 100 AND c % 2 = 1 THEN 2 ELSE 0 END
                  AS DOUBLE) AS val
      FROM (SELECT unnest([{", ".join(
          str(i) for i in list(range(_DDM4_BASES))
          + [100 + i for i in range(_DDM4_VARIANTS)])}]) AS m)
      CROSS JOIN range(0, {_DDM4_GH}) tr(r)
      CROSS JOIN range(0, {_DDM4_GW}) tc(c)
"""


def _ddm4_oracle() -> str:
    from lakerunner_spark.queries_dataops import _dd12s_oracle

    return _dd12s_oracle(
        n_clusters=_DDM4_K,
        coarse_cells=_DDM4_CELLS,
        sample_mod=_DDM4_MOD,
        iters=_DDM4_ITERS,
        threshold=_DDM4_THRESHOLD,
        long_cte=_DDM4_LONG,
    )


@register("ddm4_semantic_image_dedup", _ddm4_oracle())
def ddm4_semantic_image_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic image dedup — SemDeDup over image features, proving
    the dedup plane is modality-generic with ~zero new operator code:
    BMP payloads decode through mm7's patch grid ONCE (the only
    Python), each image's tile gray means assemble into its feature
    vector declaratively (the txt13 rebuild shape: collect_list +
    array_sort, exact — gray means are integer tile sums / 48.0), and
    dd12s's sampled two-level SemDeDup route runs UNCHANGED on the
    result. Planted: six micro-contrast variants whose dHash hamming
    is 32-33 of 64 — ddm1's perceptual hash MISSES all six
    (unit-asserted) — yet cosine >= 0.99995 against their bases vs
    0.9634 max between unrelated images, so the semantic route drops
    exactly the six. The oracle replays the feature generator closed
    form and every Lloyd/assignment/pair step of the dd12s machinery.

    100 TB design: identical to ddm1's decode contract (payloads
    never shuffle; one mapInPandas) + dd12s's scale contract
    (sample-trained k-means, two-level assignment, cluster-localized
    pairs — k grows with n, nothing all-pairs)."""
    from lakerunner_spark.dataops.dedup import semantic_dedup_sampled
    from lakerunner_spark.dataops.multimodal import image_patch_features

    media = _ddm4_media(spark)
    patches = image_patch_features(media, patch=4)
    vecs = (
        patches.groupBy(F.col("media_id").alias("vec_id"))
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct("patch_row", "patch_col", "mean_gray")
                )
            ).alias("_ps")
        )
        .select(
            "vec_id",
            F.expr("transform(_ps, x -> x.mean_gray)").alias("embedding"),
        )
        # materialize the feature table ONCE (r13 #5): the sampled
        # SemDeDup route reads its corpus from three separate jobs
        # (train collect, assignment seam, pair attach), and each
        # re-ran the decode seam + collect_list rebuild (measured 3x
        # ~0.8s of ddm4's 3.9s). Same narrow-corpus-table
        # materialization contract as hamming_neardup_pairs' words
        # checkpoint (the dd12 lesson): one row per image, vector-wide.
        .localCheckpoint(eager=True)
    )
    return semantic_dedup_sampled(
        vecs,
        n_clusters=_DDM4_K,
        coarse_cells=_DDM4_CELLS,
        sample_mod=_DDM4_MOD,
        iters=_DDM4_ITERS,
        threshold=_DDM4_THRESHOLD,
    )


# ddm5 fixture: 9 mono 16-bit WAV clips (4096 samples at 8 kHz), sample
# values from the make_media-style nonlinear generator (squared MINSTD
# phase, integer-divided before the mod so values depend on the full
# magnitude). Planted: 100 is 0 at DOUBLE AMPLITUDE (energy-difference
# signs are scale-invariant -> hamming 0 on every frame, a full run at
# offset 0 — the volume-change/re-encode analogue); 101 is 1 HEAD-
# TRIMMED by two hops (its frame f is 1's frame f+2 -> a 13-frame run
# at offset +2); 102 shares exactly its FIRST frame with 2 (samples
# 0..511 copied, the rest its own noise) — found by the frame stage,
# rejected by the min_run=3 temporal verify.
_DDM5_AUDS = [(0, 4096), (1, 4096), (2, 4096), (3, 4096), (4, 4096),
              (5, 4096), (100, 4096), (101, 3584), (102, 4096)]
_DDM5_FRAME, _DDM5_HOP = 512, 256
_DDM5_BANDS, _DDM5_ROW_WIDTH = 32, 16
_DDM5_MAX_HAMMING = 2
_DDM5_MIN_RUN = 3


def _ddm5_sample(a: int, i: int) -> int:
    if a == 100:
        ba, bi, sc = 0, i, 2
    elif a == 101:
        ba, bi, sc = 1, i + 2 * _DDM5_HOP, 1
    elif a == 102 and i < 2 * _DDM5_HOP:
        ba, bi, sc = 2, i, 1
    else:
        ba, bi, sc = a, i, 1
    e = (ba * 48271 + bi * 16807) % 2147483647
    return (((e * e) // 1009) % 1024 - 512) * sc


def _ddm5_media(spark: SparkSession) -> DataFrame:
    from lakerunner_spark.dataops.multimodal import MEDIA_SCHEMA, encode_wav

    def build() -> DataFrame:
        rows = []
        for a, n in _DDM5_AUDS:
            samples = [_ddm5_sample(a, i) for i in range(n)]
            rows.append(
                (a, "audio", None, None, n * 1000 // 8000,
                 bytearray(encode_wav(8000, samples)))
            )
        return spark.createDataFrame(rows, MEDIA_SCHEMA)

    return _fixture_memo(spark, "ddm5", build)


@register(
    "ddm5_audio_neardup",
    f"""
    WITH auds AS (
      SELECT * FROM (VALUES {", ".join(f"({a}, {n})" for a, n in _DDM5_AUDS)})
        v(a, n)
    ),
    s AS (
      SELECT a, i,
             ((((CASE WHEN a = 100 THEN 0 WHEN a = 101 THEN 1
                      WHEN a = 102 AND i < {2 * _DDM5_HOP} THEN 2
                      ELSE a END) * 48271
                + (CASE WHEN a = 101 THEN i + {2 * _DDM5_HOP}
                        ELSE i END) * 16807) % 2147483647)
              * (((CASE WHEN a = 100 THEN 0 WHEN a = 101 THEN 1
                        WHEN a = 102 AND i < {2 * _DDM5_HOP} THEN 2
                        ELSE a END) * 48271
                  + (CASE WHEN a = 101 THEN i + {2 * _DDM5_HOP}
                          ELSE i END) * 16807) % 2147483647)
              // 1009) % 1024 - 512 AS v0,
             CASE WHEN a = 100 THEN 2 ELSE 1 END AS sc
      FROM auds CROSS JOIN range(0, 4096) t(i) WHERE i < n
    ),
    fr AS (
      SELECT a, f FROM auds
      CROSS JOIN range(0, 15) t(f)
      WHERE f * {_DDM5_HOP} + {_DDM5_FRAME} <= n
    ),
    e AS (
      SELECT s.a, fr.f,
             (s.i - fr.f * {_DDM5_HOP}) // {_DDM5_FRAME // _DDM5_BANDS}
               AS band,
             sum(CAST(v0 * sc AS BIGINT) * (v0 * sc)) AS en
      FROM s JOIN fr ON s.a = fr.a
         AND s.i >= fr.f * {_DDM5_HOP}
         AND s.i < fr.f * {_DDM5_HOP} + {_DDM5_FRAME}
      GROUP BY 1, 2, 3
    ),
    bits AS (
      SELECT x.a, x.f, x.band // {_DDM5_ROW_WIDTH} AS r,
             x.band % {_DDM5_ROW_WIDTH} AS col_,
             CASE WHEN x.en < y.en THEN 1 ELSE 0 END AS bit
      FROM e x
      JOIN e y ON y.a = x.a AND y.f = x.f AND y.band = x.band + 1
      WHERE x.band % {_DDM5_ROW_WIDTH} < {_DDM5_ROW_WIDTH - 1}
    ),
    words AS (
      SELECT a AS vid, f, r AS band,
             CAST(sum(bit * CAST(power(2, col_) AS BIGINT)) AS BIGINT)
               AS word
      FROM bits GROUP BY 1, 2, 3
    ),
    {_frame_runs_oracle_tail(_DDM5_MAX_HAMMING, _DDM5_MIN_RUN,
                             "audio_a", "audio_b").strip()}
    """,
)
def ddm5_audio_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-duplicate detection — the audio x dedup cell,
    completing the modality row (text dd2/dd11, image ddm1/ddm4,
    video ddm3): WAV payloads decode through the engine's stdlib PCM
    codec, each analysis frame reduces to band-energy fingerprint
    words (audio_fingerprint_words — the Haitsma-Kalker family: a bit
    per adjacent-band energy comparison, packed by the SAME
    declarative gradient/word core the image dHash uses), and frames
    match through the banded Hamming join + temporal-run verify
    (dedup.frame_hamming_runs, REUSED VERBATIM at (audio, frame)
    granularity). Planted: the double-amplitude copy (energy signs
    are scale-invariant) yields a full 15-frame run at offset 0; the
    head-trimmed clip a 13-frame run at offset +2; a single shared
    frame stays below min_run=3 and is rejected. The oracle
    regenerates every sample, band energy, bit, word, candidate,
    popcount, diagonal, and run.

    100 TB design: decode+fingerprint is one mapInPandas scan
    (payload bytes never shuffle; output is 2 words per frame); the
    only shuffles key on (band, word) and the bounded candidate set;
    run windows are (pair, diagonal)-bounded — identical contracts to
    ddm1/ddm3 because it IS the same machinery."""
    from lakerunner_spark.dataops.dedup import frame_hamming_runs
    from lakerunner_spark.dataops.multimodal import audio_fingerprint_words

    media = _ddm5_media(spark)
    words = audio_fingerprint_words(
        media,
        frame=_DDM5_FRAME,
        hop=_DDM5_HOP,
        bands=_DDM5_BANDS,
        row_width=_DDM5_ROW_WIDTH,
    )
    runs = frame_hamming_runs(
        words,
        "media_id",
        "frame_idx",
        max_hamming=_DDM5_MAX_HAMMING,
        min_run=_DDM5_MIN_RUN,
        frame_key=1000,
    )
    return runs.select(
        F.col("video_a").alias("audio_a"),
        F.col("video_b").alias("audio_b"),
        "offset",
        "longest_run",
    )
