"""Structured Streaming ingest tests (T1-T4): the streaming pre-agg must
equal the batch pre-agg, and checkpointed restarts must not double-count
(effective exactly-once)."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from lakerunner_spark.ingest.preagg import preaggregate_metrics
from lakerunner_spark.streaming.pipeline import run_cook_stream, run_file_ingest_stream
from lakerunner_spark.testdata import events_stream


def test_cook_stream_builds_tiered_layout(spark, sf_dir, tmp_path):
    """foreachBatch cook: streamed batches land as tiered segments whose
    merged totals equal the batch cook of all input."""
    raw = events_stream(spark, sf_dir).select(
        "chq_timestamp",
        F.col("event_type").alias("metric_name"),
        F.col("user_id").cast("string").alias("attr_user"),
        "value",
    )
    indir, base, ckpt = (
        str(tmp_path / "in"), str(tmp_path / "cooked"), str(tmp_path / "ck")
    )
    raw.write.parquet(indir)
    schema = spark.read.parquet(indir).schema

    q = run_cook_stream(
        spark, indir, base, ckpt, schema,
        tiers_ms=[10_000, 60_000],
    )
    q.awaitTermination(180)

    cooked = spark.read.parquet(f"{base}/metrics")
    tiers = {r.frequency_ms for r in cooked.select("frequency_ms").distinct().collect()}
    assert tiers == {10_000, 60_000}
    t60 = cooked.filter(F.col("frequency_ms") == 60_000)
    got = t60.agg(
        F.round(F.sum("chq_rollup_sum"), 4), F.sum("chq_rollup_count")
    ).first()
    want = raw.agg(F.round(F.sum("value"), 4), F.count("value")).first()
    assert (got[0], got[1]) == (want[0], want[1])

    # checkpointed restart with no new input cooks nothing new
    before = cooked.count()
    q = run_cook_stream(
        spark, indir, base, ckpt, schema,
        tiers_ms=[10_000, 60_000],
    )
    q.awaitTermination(120)
    assert spark.read.parquet(f"{base}/metrics").count() == before


def _batch_expected(events):
    return {
        tuple(r)
        for r in preaggregate_metrics(events, ["event_type"], value_col="value")
        .select(
            "chq_timestamp",
            "event_type",
            F.round("chq_rollup_sum", 6),
            "chq_rollup_count",
            F.round("chq_rollup_min", 6),
            F.round("chq_rollup_max", 6),
        )
        .collect()
    }


def test_stream_preagg_matches_batch_and_is_exactly_once(spark, sf_dir, tmp_path):
    events = events_stream(spark, sf_dir)
    indir = str(tmp_path / "in")
    outdir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    # chunks arrive in event-time order (data older than the watermark
    # would be dropped as late — T2 semantics, asserted separately below)
    mid_ts, max_ts = (
        events.agg(
            F.expr("percentile(chq_timestamp, 0.5)"), F.max("chq_timestamp")
        ).first()
    )
    half1 = events.filter(F.col("chq_timestamp") <= mid_ts)
    half2 = events.filter(F.col("chq_timestamp") > mid_ts)
    half1.write.mode("overwrite").parquet(indir)
    schema = spark.read.parquet(indir).schema

    q = run_file_ingest_stream(
        spark, indir, outdir, ckpt, schema, ["event_type"], available_now=True
    )
    q.awaitTermination(120)

    # second chunk arrives later; restart from checkpoint processes ONLY it
    half2.write.mode("append").parquet(indir)
    q = run_file_ingest_stream(
        spark, indir, outdir, ckpt, schema, ["event_type"], available_now=True
    )
    q.awaitTermination(120)

    # append mode holds the newest windows in state until the watermark
    # passes them; a far-future sentinel row flushes the tail
    sentinel = spark.createDataFrame(
        [("sentinel", int(max_ts) + 600_000, 0.0)],
        ["event_type", "chq_timestamp", "value"],
    )
    for f in schema.fieldNames():
        if f not in sentinel.columns:
            sentinel = sentinel.withColumn(
                f, F.lit(None).cast(schema[f].dataType)
            )
    sentinel.select(*schema.fieldNames()).write.mode("append").parquet(indir)
    q = run_file_ingest_stream(
        spark, indir, outdir, ckpt, schema, ["event_type"], available_now=True
    )
    q.awaitTermination(120)

    got = spark.read.parquet(outdir).filter(F.col("event_type") != "sentinel")
    # each micro-batch appended its own windows; final state = sum of partials
    merged = {
        tuple(r)
        for r in got.groupBy("chq_timestamp", "event_type")
        .agg(
            F.round(F.sum("chq_rollup_sum"), 6).alias("s"),
            F.sum("chq_rollup_count").alias("c"),
            F.round(F.min("chq_rollup_min"), 6).alias("mn"),
            F.round(F.max("chq_rollup_max"), 6).alias("mx"),
        )
        .collect()
    }
    expected = _batch_expected(events)
    assert merged == expected

    # re-running with the same checkpoint and no new input adds nothing
    before = got.count()
    q = run_file_ingest_stream(
        spark, indir, outdir, ckpt, schema, ["event_type"], available_now=True
    )
    q.awaitTermination(120)
    assert spark.read.parquet(outdir).count() == before

    shutil.rmtree(indir, ignore_errors=True)


def test_cook_stream_batch_replay_is_idempotent(spark, sf_dir, tmp_path):
    """Replaying a micro-batch (crash between cook and checkpoint
    commit) must OVERWRITE its own batch partitions, not append
    duplicates — ingest_batch partition + dynamic overwrite."""
    from lakerunner_spark.ingest.cook import cook_metrics

    raw = events_stream(spark, sf_dir).limit(1000).select(
        "chq_timestamp",
        F.col("event_type").alias("metric_name"),
        "value",
    ).withColumn("ingest_batch", F.lit(7))
    base = str(tmp_path / "cooked")
    cook_metrics(raw, base, tiers_ms=[10_000],
                 extra_dims=["ingest_batch"], write_mode="overwrite")
    first = spark.read.parquet(f"{base}/metrics")
    n1 = first.count()
    s1 = first.agg(F.round(F.sum("chq_rollup_sum"), 6)).first()[0]
    # replay the same batch id
    cook_metrics(raw, base, tiers_ms=[10_000],
                 extra_dims=["ingest_batch"], write_mode="overwrite")
    again = spark.read.parquet(f"{base}/metrics")
    assert again.count() == n1
    assert again.agg(F.round(F.sum("chq_rollup_sum"), 6)).first()[0] == s1


def test_cook_stream_sketch_matches_batch(spark, tmp_path):
    """Streaming sketch-carrying ingest parity (14th stream==batch
    suite): run_cook_stream with sketch_accuracy + sketch_percentiles
    produces, per (tier, bucket, series), the SAME chq_sketch wire
    blob and the SAME sketch-derived p* columns the batch cook writes
    over identical rows — the reference's streaming consumers write
    the same sketch column per ingest batch."""
    from lakerunner_spark.ingest.cook import cook_metrics
    from lakerunner_spark.sources.chq_sketch import decode_chq_sketch

    rows = [
        (int(i // 12) * 1000, "m" + str(i % 2), ((i * 37) % 83 - 41) / 3.0)
        for i in range(240)
    ]
    raw = spark.createDataFrame(
        rows, "chq_timestamp long, metric_name string, value double"
    )
    staged = str(tmp_path / "staged")
    raw.coalesce(1).write.parquet(staged)  # one file -> one micro-batch

    out = str(tmp_path / "stream_out")
    q = run_cook_stream(
        spark, staged, out, str(tmp_path / "ck"),
        spark.read.parquet(staged).schema,
        tiers_ms=[10_000, 20_000],
        sketch_accuracy=0.01, sketch_percentiles=True,
    )
    q.awaitTermination()

    batch_base = str(tmp_path / "batch_out")
    cook_metrics(
        raw, batch_base, tiers_ms=[10_000, 20_000],
        sketch_accuracy=0.01, sketch_percentiles=True,
    )

    def snapshot(path):
        seg = spark.read.parquet(f"{path}/metrics")
        out = {}
        for r in seg.collect():
            key = (r.frequency_ms, r.chq_timestamp, r.metric_name)
            sk = decode_chq_sketch(bytes(r.chq_sketch))
            out[key] = (
                sk["zero_count"], tuple(sorted(sk["pos"].items())),
                tuple(sorted(sk["neg"].items())),
                r.chq_rollup_count,
                r.chq_rollup_p25, r.chq_rollup_p50, r.chq_rollup_p75,
                r.chq_rollup_p90, r.chq_rollup_p95, r.chq_rollup_p99,
            )
        return out

    s, b = snapshot(out), snapshot(batch_base)
    assert s and s == b
