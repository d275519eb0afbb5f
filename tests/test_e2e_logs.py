"""Logs-family E2E: raw lines -> translator (fingerprint) -> sorted
segments + agg side file + fingerprint index -> routed/pruned queries
equal direct computation (SURVEY §3.2/§3.3 log path)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from lakerunner_spark.ingest.translate import translate_logs
from lakerunner_spark.plans.aggfile import build_agg_table, route_count_query
from lakerunner_spark.plans.pruning import build_fingerprint_index, pruned_scan
from lakerunner_spark.schema import dateint
from lakerunner_spark.sources.writers import write_segments
from lakerunner_spark.testdata import events_stream


@pytest.fixture(scope="module")
def logs_layout(spark, sf_dir, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("logs_cooked"))
    e = events_stream(spark, sf_dir)
    logs = e.select(
        "chq_timestamp",
        (F.col("chq_timestamp") * 1_000_000).alias("chq_tsns"),
        F.concat(
            F.col("event_type"), F.lit(" user="), F.col("user_id"),
            F.lit(" props="), F.col("props"),
        ).alias("log_message"),
        F.col("event_type").alias("log_level"),
        F.col("event_type").alias("service_identifier"),
    )
    logs = translate_logs(logs)
    logs = logs.withColumn("org_id", F.lit("org1")).withColumn(
        "dateint", dateint(F.col("chq_timestamp"))
    )
    write_segments(logs, f"{base}/logs", "logs")

    cooked = spark.read.parquet(f"{base}/logs")
    # companion agg file (A13) + fingerprint index (J6) built at ingest
    agg = build_agg_table(cooked, ["log_level", "chq_fingerprint"])
    agg.write.mode("overwrite").parquet(f"{base}/logs_agg")
    idx = build_fingerprint_index(cooked, "service_identifier", "log_message")
    idx.write.mode("overwrite").parquet(f"{base}/logs_index")
    return base


def test_logs_layout_sorted_by_stream(spark, logs_layout):
    part = None
    for root, dirs, files in os.walk(f"{logs_layout}/logs"):
        pq = [f for f in files if f.endswith(".parquet")]
        if pq:
            part = os.path.join(root, pq[0])
            break
    rows = (
        spark.read.parquet(part)
        .select("service_identifier", "chq_fingerprint", "chq_tsns")
        .collect()
    )
    keys = [(r[0], r[1], r[2]) for r in rows]
    assert keys == sorted(keys)


def test_agg_file_routed_count_matches_raw(spark, logs_layout):
    cooked = spark.read.parquet(f"{logs_layout}/logs")
    agg = spark.read.parquet(f"{logs_layout}/logs_agg")
    out, used = route_count_query(
        raw=cooked,
        agg=agg,
        agg_dims=["log_level", "chq_fingerprint"],
        step_ms=3_600_000,
        query_dims=["log_level"],
        filters=[F.col("log_level") == "error"],
        filter_dims=["log_level"],
    )
    assert used
    direct = (
        cooked.filter(F.col("log_level") == "error")
        .groupBy(
            (F.col("chq_timestamp") - F.col("chq_timestamp") % 3_600_000).alias(
                "bucket_ts"
            )
        )
        .agg(F.count(F.lit(1)).alias("count"))
    )
    got = {(r.bucket_ts, r["count"]) for r in out.select("bucket_ts", "count").collect()}
    want = {(r.bucket_ts, r["count"]) for r in direct.collect()}
    assert got == want


def test_index_pruned_line_filter_matches_full_scan(spark, logs_layout):
    cooked = spark.read.parquet(f"{logs_layout}/logs")
    idx = spark.read.parquet(f"{logs_layout}/logs_index")
    needle = "purchase"
    pruned = pruned_scan(cooked, idx, "service_identifier", needle).filter(
        F.col("log_message").contains(needle)
    )
    full = cooked.filter(F.col("log_message").contains(needle))
    assert pruned.count() == full.count() > 0
    # and pruning actually skipped segments: only the matching service
    # survives the semi-join
    kept = {r.service_identifier for r in pruned.select("service_identifier").distinct().collect()}
    assert kept == {"purchase"}
