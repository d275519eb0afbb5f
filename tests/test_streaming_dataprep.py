"""Streaming data-prep parity: the map-side text operators (chunking,
quality gating, winnow fingerprinting) run unchanged inside Structured
Streaming — a readStream over the corpus produces the exact rows the
batch plan does. This is the ingest-side shape of a 100 TB pipeline:
documents arrive continuously and the prep operators must not need a
batch re-run."""

from __future__ import annotations

from pyspark.sql import functions as F


def _stream_vs_batch(spark, tmp_path, build):
    """Write the sf docs as a file source, run `build` on both a batch
    read and a readStream (memory sink, availableNow), compare row
    sets."""
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
    )
    indir = str(tmp_path / "in")
    docs.write.parquet(indir)
    schema = spark.read.parquet(indir).schema

    batch_rows = {tuple(r) for r in build(spark.read.parquet(indir)).collect()}

    stream = spark.readStream.schema(schema).parquet(indir)
    name = "dataprep_parity"
    q = (
        build(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream_rows = {
        tuple(r) for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    return batch_rows, stream_rows


def test_streaming_chunking_matches_batch(spark, tmp_path):
    from lakerunner_spark.dataops.sampling import chunk_documents

    def build(df):
        return chunk_documents(df, "text", "doc_id", chunk_tokens=32, overlap=8)

    batch_rows, stream_rows = _stream_vs_batch(spark, tmp_path, build)
    assert batch_rows == stream_rows and batch_rows


def test_streaming_quality_gate_matches_batch(spark, tmp_path):
    from lakerunner_spark.dataops.text import quality_components

    def build(df):
        qc = quality_components(F.col("text"))
        return df.select(
            "doc_id",
            F.round(qc["stopword_ratio"], 6).alias("stop_ratio"),
            F.round(qc["uniq_token_ratio"], 6).alias("uniq_ratio"),
        ).filter(F.col("uniq_ratio") >= 0.3)

    batch_rows, stream_rows = _stream_vs_batch(spark, tmp_path, build)
    assert batch_rows == stream_rows and batch_rows


def test_streaming_winnow_fingerprints_matches_batch(spark, tmp_path):
    """The dedup-index build also streams: per-doc fingerprints are
    map-side (the distinct is per-document inside the array), so the
    winnowing pass emits identical rows incrementally."""
    from lakerunner_spark.dataops.text import winnow_fingerprints

    def build(df):
        return winnow_fingerprints(df, "text", "doc_id", k=5, w=4)

    batch_rows, stream_rows = _stream_vs_batch(spark, tmp_path, build)
    assert batch_rows == stream_rows and batch_rows


def test_streaming_native_histogram_build_matches_batch(spark, tmp_path):
    """The mergeable-sketch contract under Structured Streaming: a
    native-histogram build (plain groupBy count over bucket indexes) is
    a streaming-legal aggregation — a readStream over the events source
    in complete mode produces exactly the batch bucket rows. This is
    the ingest shape for continuously-arriving telemetry: the sketch
    state IS the aggregation state, no batch re-run needed."""
    from lakerunner_spark.operators.native_histogram import (
        native_histogram_agg,
    )

    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .select("event_type", "value")
    )
    indir = str(tmp_path / "ev_in")
    ev.write.parquet(indir)
    schema = spark.read.parquet(indir).schema

    batch_rows = {
        tuple(r)
        for r in native_histogram_agg(
            spark.read.parquet(indir), ["event_type"], "value"
        ).collect()
    }

    stream = spark.readStream.schema(schema).parquet(indir)
    name = "nh_stream_parity"
    q = (
        native_histogram_agg(stream, ["event_type"], "value")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream_rows = {
        tuple(r) for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    assert batch_rows == stream_rows and batch_rows


def test_streaming_downscaled_build_matches_batch_downscale(spark, tmp_path):
    """Cross-schema ingest shape under streaming: Structured Streaming
    allows ONE aggregation per query, so a coarse histogram is built by
    applying the downscale mapping to the fine bucket INDEX before the
    single groupBy — legal because downscale commutes with the build
    (ceil(ceil(x)/2^k) = ceil(x/2^k), the property nh_downscale's
    batch tests pin). The streamed schema-5-indexed/downscaled-2 rows
    must equal batch nh_downscale(schema-5 build, 2)."""
    from pyspark.sql import functions as F

    from lakerunner_spark.operators.native_histogram import (
        _downscaled_bucket,
        gamma_for_schema,
        native_histogram_agg,
        nh_bucket_index,
        nh_downscale,
    )

    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .select("event_type", "value")
    )
    indir = str(tmp_path / "ev_ds_in")
    ev.write.parquet(indir)
    schema = spark.read.parquet(indir).schema

    batch_rows = {
        tuple(r)
        for r in nh_downscale(
            native_histogram_agg(
                spark.read.parquet(indir), ["event_type"], "value",
                schema=5,
            ),
            ["event_type"],
            steps=2,
        ).collect()
    }

    g5 = gamma_for_schema(5)
    stream = spark.readStream.schema(schema).parquet(indir)
    coarse = (
        stream.filter(F.col("value").isNotNull())
        .withColumn(
            "bucket",
            _downscaled_bucket(nh_bucket_index("value", g5), F.lit(2)),
        )
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("count"))
    )
    name = "nh_downscale_parity"
    q = (
        coarse.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream_rows = {
        tuple(r) for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    assert batch_rows == stream_rows and batch_rows


def test_streaming_sampling_keys_match_batch(spark, tmp_path):
    """ds13's Efraimidis-Spirakis sample keys and dd14's paragraph
    hash keys are stateless map-side expressions: a streaming ingest
    computes the identical keys the batch pass would, which is the
    restart-safe-reproducibility claim both operators make (any
    worker, any time, same key)."""
    from lakerunner_spark.functions.hashing import portable_hash64
    from lakerunner_spark.functions.rounding import portable_round

    def build(df):
        u = (
            portable_hash64(F.col("doc_id").cast("string"), seed=13)
            % 1000000
            + 1
        ) / F.lit(1000001.0)
        key = F.log(u) / F.length("text")
        first_para = F.expr(
            "concat_ws(' ', slice(filter(split(trim(text), ' '),"
            " t -> t != ''), 1, 8))"
        )
        return df.filter(F.length("text") > 0).select(
            "doc_id",
            portable_round(key * 1000000, 6).alias("es_key_ppm"),
            F.md5(first_para).alias("p0_hash"),
        )

    batch_rows, stream_rows = _stream_vs_batch(spark, tmp_path, build)
    assert batch_rows == stream_rows and batch_rows


def test_streaming_image_patches_match_batch(spark, tmp_path):
    """ddm1's ingest half is stateless: BMP decode -> tile means via
    mapInPandas runs unchanged under readStream (images arriving
    continuously produce the same patch rows the batch scan does). The
    band/verify joins run per-microbatch in foreachBatch, the
    streaming/dedup.py pattern — the decode is what must be
    stream-transparent."""
    from lakerunner_spark.dataops.multimodal import (
        encode_bmp,
        image_patch_features,
    )
    from lakerunner_spark.queries_multimodal import (
        _DDM1_H,
        _DDM1_IDS,
        _DDM1_W,
        _ddm1_pixel,
    )

    rows = [
        (
            m,
            bytearray(
                encode_bmp(
                    _DDM1_W,
                    _DDM1_H,
                    bytes(
                        _ddm1_pixel(m, y, x, c)
                        for y in range(_DDM1_H)
                        for x in range(_DDM1_W)
                        for c in range(3)
                    ),
                )
            ),
        )
        for m in _DDM1_IDS[:4]
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    indir = str(tmp_path / "media_in")
    media.write.parquet(indir)
    schema = spark.read.parquet(indir).schema

    def build(df):
        return image_patch_features(df, patch=4)

    batch_rows = {tuple(r) for r in build(spark.read.parquet(indir)).collect()}
    q = (
        build(spark.readStream.schema(schema).parquet(indir))
        .writeStream.format("memory")
        .queryName("img_patch_parity")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream_rows = {
        tuple(r)
        for r in spark.sql("SELECT * FROM img_patch_parity").collect()
    }
    assert batch_rows == stream_rows
    assert len(batch_rows) == 4 * (_DDM1_W // 4) * (_DDM1_H // 4)


def test_rank_buckets_in_foreachbatch_matches_batch(spark, tmp_path):
    """rank_buckets' documented streaming contract
    (dataops/sampling.py): BOTH routes contain analytic windows
    Structured Streaming can't run directly, so streaming filtering
    runs inside foreachBatch, where each microbatch is a plain batch
    DataFrame — the streaming/dedup.py pattern, proven here for
    rank_buckets: a one-shot availableNow stream bucketed per batch
    produces exactly the batch run's rows (sketch mode — the scale
    route; per-microbatch thresholds equal whole-corpus thresholds
    here because availableNow delivers one batch)."""
    from lakerunner_spark.dataops.sampling import rank_buckets

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "lang", F.length("text").alias("score"))
        .withColumn("score", F.col("score").cast("double"))
    )
    indir = str(tmp_path / "rb_in")
    docs.write.parquet(indir)
    schema = spark.read.parquet(indir).schema

    args = ("score", "lang", [1 / 3, 2 / 3], ["head", "middle", "tail"])
    batch_rows = {
        (r.doc_id, r.bucket)
        for r in rank_buckets(
            spark.read.parquet(indir), *args, mode="sketch"
        ).collect()
    }

    got: list[tuple] = []

    def bucket_batch(batch_df, batch_id):
        got.extend(
            (r.doc_id, r.bucket)
            for r in rank_buckets(batch_df, *args, mode="sketch").collect()
        )

    q = (
        spark.readStream.schema(schema)
        .parquet(indir)
        .writeStream.foreachBatch(bucket_batch)
        .option("checkpointLocation", str(tmp_path / "rb_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert set(got) == batch_rows and batch_rows


def test_streaming_video_frame_patches_match_batch(spark, tmp_path):
    """ddm3's ingest half is stateless too: AVI frame-sample decode ->
    per-frame tile means via mapInPandas runs unchanged under
    readStream (videos arriving continuously produce the same frame
    patch rows the batch scan does); the banded join + temporal-run
    windows run per-microbatch in foreachBatch, the streaming/dedup.py
    pattern — the 14th stream==batch suite."""
    from lakerunner_spark.dataops.multimodal import video_frame_patches
    from lakerunner_spark.queries_multimodal import _ddm3_media

    media = _ddm3_media(spark).limit(4)
    indir = str(tmp_path / "video_in")
    media.write.parquet(indir)
    schema = spark.read.parquet(indir).schema

    def build(df):
        return video_frame_patches(df, stride=1, max_frames=8, patch=4)

    batch_rows = {
        tuple(r) for r in build(spark.read.parquet(indir)).collect()
    }
    q = (
        build(spark.readStream.schema(schema).parquet(indir))
        .writeStream.format("memory")
        .queryName("video_patch_parity")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream_rows = {
        tuple(r)
        for r in spark.sql("SELECT * FROM video_patch_parity").collect()
    }
    assert batch_rows == stream_rows
    assert batch_rows  # 4 videos x 8 frames x 54 tiles
