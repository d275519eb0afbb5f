"""Source/sink tests: CSV/JSON.gz round-trips, OTLP
decode plumbing with an injected fake decoder, and the sorted
partitioned segment writer."""

from __future__ import annotations

import gzip
import json
import os

import pytest
from pyspark.sql import functions as F

from lakerunner_spark.sources.otel import read_otlp_logs
from lakerunner_spark.sources.readers import read_csv, read_jsonlines
from lakerunner_spark.sources.writers import write_segments


def test_csv_gz_roundtrip(spark, tmp_path):
    p = tmp_path / "in.csv.gz"
    with gzip.open(p, "wt") as f:
        f.write("Event.Type,User-Id,value\nerror,1,2.5\nclick,2,3.5\n")
    df = read_csv(spark, str(p))
    assert df.columns == ["event_type", "user_id", "value"]
    rows = sorted(df.collect(), key=lambda r: r.user_id)
    assert rows[0].event_type == "error" and rows[0].value == 2.5


def test_jsonlines_gz_flattens_nested(spark, tmp_path):
    p = tmp_path / "in.json.gz"
    recs = [
        {"ts": 1, "resource": {"service": {"name": "api"}}, "msg": "a"},
        {"ts": 2, "resource": {"service": {"name": "web"}}, "msg": "b"},
    ]
    with gzip.open(p, "wt") as f:
        f.write("\n".join(json.dumps(r) for r in recs))
    df = read_jsonlines(spark, str(p))
    assert "resource_service_name" in df.columns
    names = {r.resource_service_name for r in df.collect()}
    assert names == {"api", "web"}


def test_otlp_plumbing_with_fake_decoder(spark, tmp_path):
    # defined inside the test so cloudpickle ships it by value (the
    # tests package isn't importable from executor python workers)
    def _fake_decoder(payload: bytes) -> list[dict]:
        n = payload[0]
        return [
            {
                "chq_timestamp": 1_700_000_000_000 + i,
                "chq_tsns": (1_700_000_000_000 + i) * 1_000_000,
                "log_message": f"line-{n}-{i}",
                "log_level": "INFO",
                "resource_service_name": f"svc-{n}",
                "attr_keys": ["k"],
                "attr_values": [str(i)],
            }
            for i in range(n)
        ]

    d = tmp_path / "otlp"
    d.mkdir()
    (d / "a.binpb").write_bytes(bytes([3]) + b"x" * 10)
    (d / "b.binpb.gz").write_bytes(gzip.compress(bytes([2]) + b"y" * 10))
    df = read_otlp_logs(spark, str(d), decoder=_fake_decoder)
    rows = df.collect()
    assert len(rows) == 5  # 3 + 2 across both files, gz transparent
    assert {r.resource_service_name for r in rows} == {"svc-3", "svc-2"}
    assert all(r.chq_tsns == r.chq_timestamp * 1_000_000 for r in rows)


def test_otlp_metrics_and_traces_plumbing(spark, tmp_path):
    from lakerunner_spark.sources.otel import read_otlp_metrics, read_otlp_traces

    d = tmp_path / "otlp_mt"
    d.mkdir()
    (d / "m.binpb").write_bytes(bytes([2]))

    def fake_metrics(payload: bytes) -> list[dict]:
        return [
            {
                "chq_timestamp": 1_700_000_000_000,
                "metric_name": "m",
                "chq_metric_type": "histogram",
                "value": float(i),
                "bucket_le": [0.5, float("inf")][i],
                "resource_service_name": "svc",
                "attr_keys": [],
                "attr_values": [],
            }
            for i in range(payload[0])
        ]

    mdf = read_otlp_metrics(spark, str(d), decoder=fake_metrics)
    rows = mdf.collect()
    assert len(rows) == 2 and rows[1].bucket_le == float("inf")

    def fake_traces(payload: bytes) -> list[dict]:
        return [
            {
                "chq_timestamp": 1,
                "chq_tsns": 1_000_000,
                "span_trace_id": "ab",
                "span_id": "01",
                "span_parent_span_id": None,
                "span_name": "op",
                "span_kind": "2",
                "span_status_code": "0",
                "span_duration": 42,
                "resource_service_name": "svc",
            }
        ]

    tdf = read_otlp_traces(spark, str(d), decoder=fake_traces)
    t = tdf.collect()
    assert len(t) == 1 and t[0].span_duration == 42


def test_otlp_malformed_payload_raises(spark, tmp_path):
    d = tmp_path / "otlp2"
    d.mkdir()
    # truncated varint: a continuation byte with no successor
    (d / "a.binpb").write_bytes(bytes([0x80]))
    df = read_otlp_logs(spark, str(d))  # built-in wire decoder
    with pytest.raises(Exception, match="(?i)index|varint|range"):
        df.collect()


def test_write_segments_layout(spark, tmp_path, sf_dir):
    from lakerunner_spark.schema import dateint
    from lakerunner_spark.testdata import events_stream

    e = events_stream(spark, sf_dir).withColumn(
        "org_id", F.lit("org1")
    ).withColumn("dateint", dateint(F.col("chq_timestamp")))
    e = e.withColumnRenamed("event_type", "metric_name").withColumn(
        "chq_tid", F.col("user_id").cast("long")
    )
    out = str(tmp_path / "segments")
    write_segments(e, out, "metrics")

    # hive partition dirs exist
    orgs = os.listdir(out)
    assert any(p.startswith("org_id=") for p in orgs)
    part_dirs = []
    for root, dirs, files in os.walk(out):
        if any(f.endswith(".parquet") for f in files):
            part_dirs.append(root)
    assert part_dirs and all("dateint=" in p for p in part_dirs)

    back = spark.read.parquet(out)
    assert back.count() == e.count()

    # in-file clustering: rows sorted by (metric_name, chq_tid, ts)
    one = spark.read.parquet(
        os.path.join(
            part_dirs[0],
            next(
                f
                for f in os.listdir(part_dirs[0])
                if f.endswith(".parquet")
            ),
        )
    ).select("metric_name", "chq_tid", "chq_timestamp").collect()
    keys = [(r.metric_name, r.chq_tid, r.chq_timestamp) for r in one]
    assert keys == sorted(keys)


def test_configure_s3a_sets_hadoop_and_sql_conf(spark):
    from lakerunner_spark.sources.objectstore import configure_s3a

    skipped: list = []
    configure_s3a(
        spark,
        endpoint="http://minio:9000",
        path_style_access=True,
        skipped_out=skipped,
    )
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    assert hconf.get("fs.s3a.committer.name") == "magic"
    assert hconf.get("fs.s3a.endpoint") == "http://minio:9000"
    assert hconf.get("fs.s3a.path.style.access") == "true"
    assert hconf.get("fs.s3a.experimental.input.fadvise") == "random"
    # committer classes need the spark-hadoop-cloud jar; in this sandbox
    # they must be skipped (not raise), and recorded
    for k in skipped:
        assert k.startswith("spark.sql.")
