"""Rollup chain: 10s -> 60s -> 300s -> 1200s -> 3600s (A2).

Reference: metric_rollup_processor.go:694-705 re-aggregates each tier
from the next finer tier; sums/counts/min/max compose exactly, avg is
recomputed as sum/count, percentiles from merged sketches.

Spark-first: the same groupBy over the coarser bucket. Percentile
composition: built-in KLL state isn't a mergeable column, so re-rolled
tiers don't carry p* columns here; for exact mergeable quantiles
across tiers attach a map-typed DDSketch column instead
(operators/ddsketch.py with_sketch_column / merge_sketch_column /
sketch_column_quantile — merge-equals-direct is tested), the typed
analogue of the reference's chq_sketch bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lakerunner_spark.functions.timeops import bucket_ts


def rollup_tier(
    df: DataFrame,
    dims: list[str],
    target_grain_ms: int,
    sketch_col: str | None = None,
) -> DataFrame:
    """Re-aggregate a finer tier into target_grain_ms buckets.

    ``sketch_col`` (the ``array<struct<b,c>>`` occupied-bucket pair
    list of the fused sketch cascade — operators/ddsketch.py
    fold_bucket_list folds the pre-agg's per-sample list at the 10s
    grain, merge_bucket_pairs re-canonicalizes between tiers), when
    set, merges through THIS same groupBy: the ≤(coarser/finer) finer
    rows under one coarser group concatenate via
    flatten(collect_list(...)) — an exact DDSketch merge (bucket
    counts are additive; duplicate buckets are summed downstream)
    with zero extra shuffles (the pre-fusion path paid a per-tier
    explode/re-agg pair plus a null-safe join back), and per-group
    state bounded by tier-ratio x occupied buckets, never samples.
    Deliberately built-ins only, no lambda expressions IN THE AGG: the
    downstream blob encoder is a Python UDF, and a Python UDF argument
    that embeds a lambda closure breaks ExtractPythonUDFs (see
    preagg.preaggregate_metrics) — the folds live strictly between
    shuffle barriers in ingest/cook.py."""
    aggs = [
        F.sum("chq_rollup_sum").alias("chq_rollup_sum"),
        F.sum("chq_rollup_count").alias("chq_rollup_count"),
        F.min("chq_rollup_min").alias("chq_rollup_min"),
        F.max("chq_rollup_max").alias("chq_rollup_max"),
    ]
    if sketch_col is not None:
        aggs.append(
            F.flatten(F.collect_list(sketch_col)).alias(sketch_col)
        )
    return (
        df.groupBy(
            bucket_ts("chq_timestamp", target_grain_ms).alias("chq_timestamp"),
            *[d for d in dims if d in df.columns],
        )
        .agg(*aggs)
        .withColumn(
            "chq_rollup_avg", F.col("chq_rollup_sum") / F.col("chq_rollup_count")
        )
        .withColumn("frequency_ms", F.lit(target_grain_ms))
    )
