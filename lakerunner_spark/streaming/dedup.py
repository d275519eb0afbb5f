"""Streaming incremental deduplication: micro-batched corpus ingest
that exact-dedups documents across batches.

A training-data pipeline rarely sees its corpus at once — crawls land
continuously, and dedup has to be *incremental*: a new document is kept
only if its content hash has never been seen in any earlier batch. The
reference's ingest loop has the same shape for telemetry (Kafka batch
-> normalize -> register exactly-once, docs/design/OVERVIEW.md:254-263);
here the unit of exactly-once is the document hash.

Design (Spark-first):
- ``foreachBatch`` over a file (or Kafka) stream; each batch runs plain
  batch dedup DataFrame ops — no custom stateful operator needed.
- The cross-batch "seen" state is a **hash store on the lake** (parquet
  partitioned by ``batch``), not executor memory: restart-safe, shared
  by any number of readers, and its size is bounded by distinct-hash
  count, not corpus size. ``applyInPandasWithState`` would pin the same
  state in executors and lose it on teardown; the lake store is the
  production-grade choice at 100 TB.
- Per batch: intra-batch dedup (window row_number per hash), then a
  left-anti join against the store. The store carries only
  (hash, batch) — a narrow table; Spark shuffles on near-unique md5
  keys (uniform, skew-free) or broadcasts while the store is small.
- **Idempotent retry**: output and state land in ``batch=<id>``
  partition directories written with dynamic overwrite, and the
  anti-join excludes rows the *current* batch id wrote — so a batch
  retried after a partial state write neither duplicates nor loses
  documents (same manifest idea test_streaming proves for T4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.utils import AnalysisException


def dedup_batch_against_store(
    batch_df: DataFrame,
    batch_id: int,
    state_path: str,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """One micro-batch's novel rows: intra-batch dedup (lowest id per
    content hash wins), then drop hashes already in the store — except
    those recorded by this very batch id, which makes a retried batch
    re-emit its own rows instead of losing them."""
    spark = batch_df.sparkSession
    h = batch_df.withColumn("_h", F.md5(F.col(text_col)))
    w = Window.partitionBy("_h").orderBy(F.col(id_col).asc())
    first = (
        h.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    try:
        seen = (
            spark.read.parquet(state_path)
            .filter(F.col("batch") != batch_id)
            .select("_h")
        )
    except AnalysisException:  # first batch: no store yet
        return first
    return first.join(seen, "_h", "left_anti")


def run_dedup_stream(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    state_path: str,
    checkpoint_path: str,
    schema,
    available_now: bool = True,
) -> StreamingQuery:
    """Incremental exact dedup over a document stream.

    Novel documents append to ``output_path/batch=<id>``; their hashes
    append to the ``state_path`` store. Restarting with new input files
    emits only never-seen documents; the union of all output batches
    covers exactly the same distinct TEXTS as batch-mode ``exact_dedup``
    over everything ingested so far. The kept ROW per text differs by
    construction: the stream keeps the first-ARRIVED occurrence (lowest
    id within its batch), while batch mode keeps the globally lowest id
    — an inherent property of incremental dedup (the keeper is decided
    when first seen; a "better" id arriving later is a duplicate).
    """
    def _dedup(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        novel = dedup_batch_against_store(
            batch_df, batch_id, state_path, "text", "doc_id"
        ).withColumn("batch", F.lit(batch_id))
        # one computation, two narrow writes (output rows + hash store);
        # dynamic partition overwrite keeps retries idempotent
        novel.persist()
        try:
            novel.drop("_h").write.mode("overwrite").option(
                "partitionOverwriteMode", "dynamic"
            ).partitionBy("batch").parquet(output_path)
            novel.select("_h", "batch").write.mode("overwrite").option(
                "partitionOverwriteMode", "dynamic"
            ).partitionBy("batch").parquet(state_path)
        finally:
            novel.unpersist()

    stream = spark.readStream.schema(schema).format("parquet").load(input_path)
    writer = stream.writeStream.foreachBatch(_dedup).option(
        "checkpointLocation", checkpoint_path
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
