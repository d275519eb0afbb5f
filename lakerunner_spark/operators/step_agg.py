"""Step aggregation (A3/A4): raw/rollup rows -> per-(bucket, labels) series.

Reference: promql/sql_builder.go:529-578 (buildStepAggNoWindow) emits

    SELECT ts - ts % step AS bucket_ts, <labels>,
           SUM(chq_rollup_sum) sum, SUM(COALESCE(chq_rollup_count,0)) count,
           MIN(chq_rollup_min) min, MAX(chq_rollup_max) max
    GROUP BY bucket_ts, <labels>

In Spark this is a single groupBy — Catalyst plans it as partial
HashAggregate (map-side combine) + final HashAggregate after a shuffle
on the group key, which is exactly the reference's worker-partial /
API-merge split (A17) without any custom code. At 100 TB the shuffle
key (bucket_ts, labels) is high-cardinality and uniform, so no salting
is needed; AQE coalesces small post-shuffle partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lakerunner_spark.functions.timeops import bucket_ts


def step_agg(
    df: DataFrame,
    step_ms: int,
    labels: list[str],
    ts_col: str = "chq_timestamp",
) -> DataFrame:
    """Per-(bucket_ts, labels): sum/count/min/max partial aggregates."""
    return (
        df.groupBy(bucket_ts(ts_col, step_ms).alias("bucket_ts"), *labels)
        .agg(
            F.sum("chq_rollup_sum").alias("sum"),
            F.sum(F.coalesce(F.col("chq_rollup_count"), F.lit(0))).alias("count"),
            F.min("chq_rollup_min").alias("min"),
            F.max("chq_rollup_max").alias("max"),
        )
    )


def step_agg_raw(
    df: DataFrame,
    step_ms: int,
    labels: list[str],
    ts_col: str = "chq_timestamp",
    value_col: str = "value",
) -> DataFrame:
    """Step aggregation over raw (un-pre-aggregated) samples."""
    return (
        df.groupBy(bucket_ts(ts_col, step_ms).alias("bucket_ts"), *labels)
        .agg(
            F.sum(value_col).alias("sum"),
            F.count(value_col).alias("count"),
            F.min(value_col).alias("min"),
            F.max(value_col).alias("max"),
        )
    )


def count_only_agg(
    df: DataFrame,
    step_ms: int,
    labels: list[str],
) -> DataFrame:
    """Count-only densified aggregation (A4; sql_builder.go:629-750)."""
    return (
        df.groupBy(bucket_ts("chq_timestamp", step_ms).alias("bucket_ts"), *labels)
        .agg(F.count(F.lit(1)).alias("count"))
    )
