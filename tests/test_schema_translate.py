"""Schema + translator tests (P15/F16 glue)."""

from __future__ import annotations

from lakerunner_spark.ingest.translate import (
    normalize_columns,
    translate_logs,
    translate_metrics,
)
from lakerunner_spark.schema import normalize_name


def test_normalize_name_rules():
    assert normalize_name("service.name") == "service_name"
    assert normalize_name("HTTP-Status!!") == "http_status"
    assert normalize_name("__weird__") == "weird"
    assert normalize_name("...") == "_"


def test_normalize_columns(spark):
    df = spark.createDataFrame([(1, 2)], ["User.Id", "HTTP-Code"])
    out = normalize_columns(df)
    assert out.columns == ["user_id", "http_code"]


def test_translate_logs_fingerprint_groups_templates(spark):
    df = spark.createDataFrame(
        [
            ("user 123 logged in", "api"),
            ("user 456 logged in", "api"),
            ("disk 9 full", "api"),
        ],
        ["log_message", "service_identifier"],
    )
    out = translate_logs(df).collect()
    fps = [r.chq_fingerprint for r in out]
    assert fps[0] == fps[1]  # same template, different numbers
    assert fps[0] != fps[2]


def test_translate_metrics_tid(spark):
    df = spark.createDataFrame(
        [("cpu", "api", "us"), ("cpu", "web", "us")],
        ["metric_name", "attr_svc", "attr_region"],
    )
    out = translate_metrics(df).collect()
    assert out[0].chq_tid != out[1].chq_tid
    # explicit attr list, order-insensitive
    out2 = translate_metrics(df, attr_cols=["attr_region", "attr_svc"]).collect()
    assert [r.chq_tid for r in out] == [r.chq_tid for r in out2]


def test_normalize_columns_collision_disambiguated(spark):
    from lakerunner_spark.ingest.translate import normalize_columns

    df = spark.createDataFrame([(1, 2, 3)], ["Host-Name", "host.name", "x"])
    out = normalize_columns(df)
    assert out.columns == ["host_name", "host_name_2", "x"]
    row = out.collect()[0]
    assert (row["host_name"], row["host_name_2"], row["x"]) == (1, 2, 3)


def test_flatten_collision_disambiguated(spark):
    from lakerunner_spark.sources.readers import flatten

    df = spark.sql("SELECT named_struct('b', 1) AS a, 2 AS a_b")
    out = flatten(df)
    assert sorted(out.columns) == ["a_b", "a_b_2"]
    row = out.collect()[0]
    assert {row["a_b"], row["a_b_2"]} == {1, 2}


def test_pick_rollup_tier_rejects_nondividing_step():
    import pytest

    from lakerunner_spark.plans.tiers import pick_rollup_tier

    assert pick_rollup_tier(60_000) == 60_000
    assert pick_rollup_tier(20_000) == 10_000
    with pytest.raises(ValueError, match="no rollup tier divides"):
        pick_rollup_tier(15_000, tiers=[10_000, 60_000])


def test_cook_metrics_rejects_non_nested_tiers(spark, tmp_path):
    import pytest

    from lakerunner_spark.ingest.cook import cook_metrics

    df = spark.createDataFrame(
        [(1_700_000_000_000, "m", 1.0)],
        "chq_timestamp LONG, metric_name STRING, value DOUBLE",
    )
    with pytest.raises(ValueError, match="not a multiple"):
        cook_metrics(df, str(tmp_path / "t"), tiers_ms=[10_000, 25_000])


def test_cook_metrics_default_dims_keep_series_distinct(spark, tmp_path):
    """A gauge and a counter sharing a name, and histogram buckets, must
    stay distinct series under the default dims."""
    from lakerunner_spark.ingest.cook import cook_metrics

    rows = [
        (1_700_000_000_000, "m", "gauge", None, 1.0),
        (1_700_000_000_000, "m", "count", None, 10.0),
        (1_700_000_000_000, "h", "histogram", 0.5, 3.0),
        (1_700_000_000_000, "h", "histogram", float("inf"), 5.0),
    ]
    df = spark.createDataFrame(
        rows,
        "chq_timestamp LONG, metric_name STRING, chq_metric_type STRING,"
        " bucket_le DOUBLE, value DOUBLE",
    )
    cook_metrics(df, str(tmp_path / "cooked"), tiers_ms=[10_000])
    back = spark.read.parquet(str(tmp_path / "cooked" / "metrics"))
    # 4 distinct series rows at the 10s tier, not merged
    assert back.count() == 4
    got = {
        (r["metric_name"], r["chq_metric_type"], r["bucket_le"],
         r["chq_rollup_sum"])
        for r in back.collect()
    }
    assert ("m", "gauge", None, 1.0) in got
    assert ("m", "count", None, 10.0) in got
    assert ("h", "histogram", 0.5, 3.0) in got
