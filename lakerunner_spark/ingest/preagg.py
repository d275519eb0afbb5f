"""Ingest 10s pre-aggregation (A1).

Reference: internal/metricsprocessing/metric_ingest_duckdb.go:351-459 —
GROUP BY all dimension columns + 10s bucket, ddsketch_stats_agg(value)
exploded into chq_rollup_{sum,count,avg,min,max,p25..p99} + chq_sketch.

Spark-first: one groupBy over (10s bucket, dims) with built-in
aggregates; quantiles via percentile_approx (KLL sketch — same
mergeable-relative-error contract as DDSketch for a fresh engine,
SURVEY §7.4.3). Map-side partial aggregation halves the shuffle before
it happens; at 100 TB the group key (tid × 10s bucket) is uniform so
no skew handling is needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lakerunner_spark.functions.timeops import bucket_ts
from lakerunner_spark.schema import dateint

PERCENTILES = [0.25, 0.50, 0.75, 0.90, 0.95, 0.99]
_P_NAMES = ["p25", "p50", "p75", "p90", "p95", "p99"]
GRAIN_MS = 10_000  # the ingest tier: raw samples land in 10s buckets


def preaggregate_metrics(
    df: DataFrame,
    dims: list[str],
    value_col: str = "value",
    sketch_gamma: float | None = None,
    percentiles: bool = True,
) -> DataFrame:
    """Raw samples -> 10s pre-aggregated rollup rows (one per series-bucket).

    ``sketch_gamma``, when set, collects the per-row DDSketch bucket
    ids into ``_sk_list`` (array<bigint>) INSIDE this same groupBy —
    the reference computes its chq_sketch in the single ingest pass
    (metric_ingest_duckdb.go:351-459 ddsketch_stats_agg next to the
    rollup stats), and the fused form costs one collected long per
    sample on a shuffle that already carries ObjectHashAggregate
    state for percentile_approx, instead of a SECOND full shuffle of
    the raw rows plus a join-back (the r10 ingest profile's verdict).
    The list stays a LIST (not a map) deliberately: the histogram
    fold happens inside the Arrow encode seam (sources/chq_sketch.py
    sketch_blob_udf from_list) because a JVM histogram expression
    needs a nested lambda closure, and a Python UDF whose argument
    carries one breaks ExtractPythonUDFs — the UDF stays in the
    projection and is unevaluable at runtime (pinned by
    tests/test_cook.py::test_sketch_udf_input_stays_lambda_free).

    ``percentiles=False`` drops the KLL percentile_approx columns —
    the reference-faithful sketch-stats path (cook_metrics
    sketch_percentiles=True) derives p25..p99 FROM the sketch
    instead, the way the reference's ddsketch_stats_agg does."""
    aggs = [
        F.sum(value_col).alias("chq_rollup_sum"),
        F.count(value_col).alias("chq_rollup_count"),
        F.avg(value_col).alias("chq_rollup_avg"),
        F.min(value_col).alias("chq_rollup_min"),
        F.max(value_col).alias("chq_rollup_max"),
    ]
    if percentiles:
        aggs.append(
            F.percentile_approx(value_col, PERCENTILES, accuracy=10_000).alias(
                "_pcts"
            )
        )
    if sketch_gamma is not None:
        from lakerunner_spark.operators.ddsketch import (  # noqa: PLC0415
            bucket_index,
        )

        # collect_list skips NULL values, matching the pre-fusion
        # filter(isNotNull) — sketches count values, not rows
        aggs.append(
            F.collect_list(bucket_index(value_col, sketch_gamma)).alias(
                "_sk_list"
            )
        )
    agg = df.groupBy(
        bucket_ts("chq_timestamp", GRAIN_MS).alias("chq_timestamp"), *dims
    ).agg(*aggs)
    if percentiles:
        for i, name in enumerate(_P_NAMES):
            agg = agg.withColumn(f"chq_rollup_{name}", F.col("_pcts")[i])
        agg = agg.drop("_pcts")
    return (
        agg.withColumn("frequency_ms", F.lit(GRAIN_MS))
        .withColumn("dateint", dateint(F.col("chq_timestamp")))
    )
