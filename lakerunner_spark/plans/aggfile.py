"""A13: pre-aggregated side files + count-query routing.

Reference: at log ingest, counts per (10s bucket, log_level, stream_id)
are written as companion ``agg_*`` Parquet files
(internal/parquetwriter/factories/logs.go:107-244, logs_agg.go:58-140);
the worker answers count-only queries from them when the query's
dimensions are a subset of the agg dims (promql/sql_builder.go:374-470
CanUseAggFile, queryworker/request_planner.go:83-92).

Spark-first: the side file is a materialized aggregate table; the
router is a plan-time rule — Spark has no automatic MV routing, so the
check mirrors CanUseAggFile: count-only + dims ⊆ agg dims + filters on
agg dims only. At 100 TB the agg table is ~10^4× smaller than raw
(10s × few dims), so routed queries skip the raw scan entirely.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lakerunner_spark.functions.timeops import bucket_ts

AGG_GRAIN_MS = 10_000  # 10s, matching ingest pre-aggregation (A1)


def build_agg_table(
    df: DataFrame,
    dims: list[str],
) -> DataFrame:
    """Companion aggregate: counts per (10s bucket, dims)."""
    return (
        df.groupBy(bucket_ts("chq_timestamp", AGG_GRAIN_MS).alias("agg_bucket"), *dims)
        .agg(F.count(F.lit(1)).alias("agg_count"))
    )


def can_use_agg_table(
    agg_dims: list[str],
    query_dims: list[str],
    filter_dims: list[str],
) -> bool:
    """CanUseAggFile (sql_builder.go:374-409): count-only query whose
    grouping and filter columns are all covered by the agg dims."""
    cover = set(agg_dims)
    return set(query_dims) <= cover and set(filter_dims) <= cover


def route_count_query(
    raw: DataFrame,
    agg: DataFrame,
    agg_dims: list[str],
    step_ms: int,
    query_dims: list[str],
    filters: list | None = None,
    filter_dims: list[str] | None = None,
) -> tuple[DataFrame, bool]:
    """Answer ``count by (query_dims) per step bucket``, from the agg
    table when eligible, else from raw. Returns (df, used_agg).

    step must be a multiple of the 10s agg grain (always true for the
    reference's step ladder).
    """
    eligible = (
        step_ms % AGG_GRAIN_MS == 0
        and can_use_agg_table(agg_dims, query_dims, filter_dims or [])
    )
    if eligible:
        src = agg
        for f in filters or []:
            src = src.filter(f)
        out = (
            src.groupBy(
                bucket_ts("agg_bucket", step_ms).alias("bucket_ts"), *query_dims
            )
            .agg(F.sum("agg_count").alias("count"))
        )
        return out, True
    src = raw
    for f in filters or []:
        src = src.filter(f)
    out = (
        src.groupBy(bucket_ts("chq_timestamp", step_ms).alias("bucket_ts"), *query_dims)
        .agg(F.count(F.lit(1)).alias("count"))
    )
    return out, False
