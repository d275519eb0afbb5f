"""Streaming ingest: file/Kafka source -> 10s pre-agg -> parquet segments.

Reference lifecycle (§3.3): S3 event -> Kafka ``ingest`` topic ->
consumer downloads the object -> normalize -> 10s pre-aggregate ->
sorted parquet per dateint partition -> segment registration, with
at-least-once delivery made effectively exactly-once by an offset
tracker table (docs/design/OVERVIEW.md:254-263, T1-T4).

Spark-first:
- source: ``readStream`` file source (the S3-notification analogue —
  new objects under a prefix become micro-batch input) or
  ``format("kafka")`` with the same downstream graph;
- offset tracking / exactly-once: the **checkpoint** plus the parquet
  sink's transactional manifest replace the reference's
  kafka_offset_tracker table (T4);
- late data: event-time watermark on the 10s window agg (T2) — rows
  land in their event-time bucket whenever they arrive, and the
  watermark bounds state;
- trigger: ``availableNow`` for batch-catchup runs (the boxer/hunter
  batching T3 collapses into micro-batch boundaries).

Aggregation in streams uses update-mode-safe ``groupBy(window(...))``.
The percentile columns of the batch pre-agg (A1) are not computable
incrementally without a sketch UDAF; the streaming tier writes
sum/count/min/max (the mergeable core), and the rollup chain (A2)
fills percentile columns in the scheduled batch pass — mirroring the
reference, where sketches merge in batch rollups too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


def preagg_stream(
    stream: DataFrame,
    dims: list[str],
) -> DataFrame:
    """T1/T2: watermarked tumbling-window pre-aggregation (streaming A1)."""
    with_event_time = stream.withColumn(
        "_event_time", F.timestamp_millis(F.col("chq_timestamp"))
    ).withWatermark("_event_time", "60 seconds")
    win = F.window("_event_time", "10 seconds")
    return (
        with_event_time.groupBy(win.alias("_w"), *dims)
        .agg(
            F.sum("value").alias("chq_rollup_sum"),
            F.count("value").alias("chq_rollup_count"),
            F.min("value").alias("chq_rollup_min"),
            F.max("value").alias("chq_rollup_max"),
        )
        .select(
            F.unix_millis(F.col("_w.start")).alias("chq_timestamp"),
            *dims,
            "chq_rollup_sum",
            "chq_rollup_count",
            "chq_rollup_min",
            "chq_rollup_max",
            (F.col("chq_rollup_sum") / F.col("chq_rollup_count")).alias(
                "chq_rollup_avg"
            ),
        )
    )


def run_cook_stream(
    spark: SparkSession,
    input_path: str,
    base_path: str,
    checkpoint_path: str,
    schema,
    tiers_ms: list[int] | None = None,
    available_now: bool = True,
    sketch_accuracy: float | None = None,
    sketch_percentiles: bool = False,
) -> StreamingQuery:
    """Streaming ingest into the FULL cooked layout via foreachBatch.

    Each micro-batch runs the batch cook (translate -> pre-agg ->
    rollup cascade -> tier-partitioned sorted segments) — the
    reference's consumer loop (§3.3) with the checkpoint supplying
    exactly-once batch tracking. Append-only per batch; the scheduled
    compaction job merges small per-batch segments afterwards, exactly
    like the reference's boxer/compact cycle.

    ``sketch_accuracy`` / ``sketch_percentiles`` pass through to the
    batch cook: every micro-batch's rollup rows then carry the
    chq_sketch wire blobs (and, with percentiles, the sketch-derived
    p* columns) — the reference's streaming consumers write the same
    sketch column per ingest batch. Per-batch sketches are exact for
    each batch's own rows; cross-batch merge is the compaction job's
    contract, exactly as in the reference.
    """
    from lakerunner_spark.ingest.cook import cook_metrics

    def _cook(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # batch-scoped idempotence: the batch id becomes an innermost
        # partition column written with dynamic overwrite, so a batch
        # replayed after a crash between cook and checkpoint-commit
        # OVERWRITES its own partitions instead of appending every
        # tier's rows a second time (same contract streaming/dedup.py
        # uses; the checkpoint alone only dedups FULLY committed batches)
        cook_metrics(
            batch_df.withColumn("ingest_batch", F.lit(batch_id)),
            base_path,
            tiers_ms=tiers_ms,
            extra_dims=["ingest_batch"],
            write_mode="overwrite",
            sketch_accuracy=sketch_accuracy,
            sketch_percentiles=sketch_percentiles,
        )

    stream = spark.readStream.schema(schema).format("parquet").load(input_path)
    writer = stream.writeStream.foreachBatch(_cook).option(
        "checkpointLocation", checkpoint_path
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_file_ingest_stream(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    schema,
    dims: list[str],
    available_now: bool = True,
) -> StreamingQuery:
    """End-to-end file-source ingest: watch a directory, pre-aggregate,
    append parquet segments. ``availableNow`` processes the backlog and
    stops (batch-catchup); drop it for a long-running stream."""
    stream = (
        spark.readStream.schema(schema).format("parquet").load(input_path)
    )
    agg = preagg_stream(stream, dims)
    # CAVEAT (inherent to append-mode watermarked aggregation): windows
    # ending after (max event time - watermark) stay in state, so an
    # availableNow catch-up run withholds the trailing ~60 s (the watermark) of
    # windows until strictly newer-timestamped data arrives on a later
    # run. For a one-shot "cook everything and stop" job, use
    # run_cook_stream — its foreachBatch cook aggregates each batch
    # completely with no watermark withholding.
    writer = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
