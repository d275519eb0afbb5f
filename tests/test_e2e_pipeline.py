"""End-to-end ingest->layout->query pipeline (SURVEY §3.3 + §3.1).

Raw events -> normalized metrics family (TID, dateint) -> 10s pre-agg
-> sorted partitioned segments + 60s rollup tier -> tier-routed step
query over the cooked layout == the same query computed directly from
raw rows."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from lakerunner_spark.functions.hashing import compute_tid
from lakerunner_spark.ingest.preagg import preaggregate_metrics
from lakerunner_spark.ingest.rollup import rollup_tier
from lakerunner_spark.operators.step_agg import step_agg
from lakerunner_spark.plans.tiers import pick_rollup_tier
from lakerunner_spark.schema import dateint
from lakerunner_spark.sources.writers import write_segments
from lakerunner_spark.testdata import events_stream


@pytest.fixture(scope="module")
def cooked(spark, sf_dir, tmp_path_factory):
    """Ingest events as the metrics family into a tiered cooked layout."""
    base = str(tmp_path_factory.mktemp("cooked"))
    e = events_stream(spark, sf_dir).select(
        F.col("chq_timestamp"),
        F.col("event_type").alias("metric_name"),
        F.col("user_id").cast("string").alias("attr_user"),
        F.col("value"),
    )
    e = e.withColumn("chq_tid", compute_tid("metric_name", "attr_user"))
    e = e.withColumn("org_id", F.lit("org1"))

    for grain, src in ((10_000, None), (60_000, "t10")):
        if src is None:
            t = preaggregate_metrics(
                e, ["metric_name", "chq_tid", "attr_user"], value_col="value"
            )
            t10 = t
        else:
            t = rollup_tier(t10, ["metric_name", "chq_tid", "attr_user"], 60_000)
        t = (
            t.withColumn("org_id", F.lit("org1"))
            .withColumn("dateint", dateint(F.col("chq_timestamp")))
            .withColumn("frequency_ms", F.lit(grain))
        )
        write_segments(t, f"{base}/metrics", "metrics")
    return base


def test_layout_partitions(cooked):
    # org/dateint/frequency hive dirs exist for both tiers
    tiers = set()
    for root, dirs, files in os.walk(f"{cooked}/metrics"):
        for d in dirs:
            if d.startswith("frequency_ms="):
                tiers.add(d)
    assert tiers == {"frequency_ms=10000", "frequency_ms=60000"}


def test_tier_routed_query_matches_raw(spark, sf_dir, cooked):
    step = 600_000  # 10m step -> coarsest available tier dividing it
    tier = pick_rollup_tier(step, tiers=[10_000, 60_000])
    assert tier == 60_000

    cooked_df = spark.read.parquet(f"{cooked}/metrics").filter(
        F.col("frequency_ms") == tier
    )
    routed = step_agg(cooked_df, step, ["metric_name"]).select(
        "bucket_ts",
        "metric_name",
        F.round("sum", 4).alias("s"),
        F.col("count").alias("c"),
        F.round("min", 4).alias("mn"),
        F.round("max", 4).alias("mx"),
    )

    raw = events_stream(spark, sf_dir)
    direct = (
        raw.groupBy(
            (F.col("chq_timestamp") - F.col("chq_timestamp") % step).alias(
                "bucket_ts"
            ),
            F.col("event_type").alias("metric_name"),
        )
        .agg(
            F.round(F.sum("value"), 4).alias("s"),
            F.count("value").alias("c"),
            F.round(F.min("value"), 4).alias("mn"),
            F.round(F.max("value"), 4).alias("mx"),
        )
    )
    got = {tuple(r) for r in routed.collect()}
    want = {tuple(r) for r in direct.collect()}
    assert got == want


def test_partition_pruning_in_plan(spark, cooked):
    df = spark.read.parquet(f"{cooked}/metrics").filter(
        (F.col("frequency_ms") == 60_000) & (F.col("dateint") == 20240115)
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    # directory-partition filters must reach the scan as PartitionFilters
    assert "PartitionFilters" in plan
    assert "dateint" in plan.split("PartitionFilters", 1)[1][:300]
