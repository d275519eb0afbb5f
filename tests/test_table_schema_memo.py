"""``load_table`` infers a table's Parquet schema once per file listing.

A later call over an unchanged listing reads with the remembered
schema and runs no Spark job; any add, delete or rewrite of a file
changes the listing and re-infers. Each call still builds a fresh
relation, so requests see changed tables and self-joins resolve.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import jobs_in_group

from lakerunner_spark import testdata
from lakerunner_spark.api import QueryAPI
from lakerunner_spark.testdata import _listing, load_table


def _events(sf_dir) -> pa.Table:
    return pq.read_table(f"{sf_dir}/events.parquet")


def _with_event_type(t: pa.Table, value: str) -> pa.Table:
    i = t.schema.get_field_index("event_type")
    return t.set_column(i, "event_type", pa.array([value] * t.num_rows))


def _logs_series(api) -> list:
    return [s["event_type"] for s in api.handle("/api/v1/logs/series")["series"]]


def test_unchanged_table_second_load_runs_no_job(spark, sf_dir, tmp_path):
    pq.write_table(_events(sf_dir), tmp_path / "events.parquet")
    d = str(tmp_path)
    first, first_jobs = jobs_in_group(
        spark, lambda: load_table(spark, d, "events")
    )
    second, second_jobs = jobs_in_group(
        spark, lambda: load_table(spark, d, "events")
    )
    assert first_jobs >= 1  # the inference job the memo saves
    assert second_jobs == 0
    assert second.schema == first.schema
    assert second.count() == first.count() == 1000


def test_memo_schema_matches_inference_on_every_table(spark, sf_dir):
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        load_table(spark, sf_dir, t)
        assert load_table(spark, sf_dir, t).schema == spark.read.parquet(
            f"{sf_dir}/{t}.parquet"
        ).schema, t


def test_rewritten_single_file_table_shows_new_column(spark, sf_dir, tmp_path):
    full = _events(sf_dir)
    path = tmp_path / "events.parquet"
    pq.write_table(full.drop(["props"]), path)
    api = QueryAPI(spark, str(tmp_path))
    with pytest.raises(Exception, match="props"):
        api.handle("/api/v1/logs/series")
    assert "props" not in load_table(spark, str(tmp_path), "events").columns
    pq.write_table(full, path)
    assert sorted(_logs_series(api)) == sorted(set(full["event_type"].to_pylist()))
    assert "props" in load_table(spark, str(tmp_path), "events").columns


def test_added_part_file_is_seen_by_next_request(spark, sf_dir, tmp_path):
    t = _events(sf_dir)
    table = tmp_path / "events.parquet"
    table.mkdir()
    pq.write_table(t.slice(0, 500), table / "part-0.parquet")
    api = QueryAPI(spark, str(tmp_path))
    before = _logs_series(api)
    assert "zz_added" not in before
    pq.write_table(_with_event_type(t.slice(500), "zz_added"), table / "part-1.parquet")
    assert _logs_series(api) == sorted(set(before) | {"zz_added"})


def test_deleted_part_file_is_dropped_by_next_request(spark, sf_dir, tmp_path):
    t = _events(sf_dir)
    table = tmp_path / "events.parquet"
    table.mkdir()
    pq.write_table(t.slice(0, 500), table / "part-0.parquet")
    pq.write_table(_with_event_type(t.slice(500), "zz_gone"), table / "part-1.parquet")
    api = QueryAPI(spark, str(tmp_path))
    assert "zz_gone" in _logs_series(api)
    os.remove(table / "part-1.parquet")
    want = sorted(set(t.slice(0, 500)["event_type"].to_pylist()))
    assert _logs_series(api) == want  # no FileNotFoundException either


def test_object_store_paths_are_not_memoized(tmp_path):
    for uri in ("s3a://bucket/sf/events.parquet", "s3://b/t.parquet",
                "gs://b/t.parquet", "hdfs://nn:8020/t.parquet"):
        assert _listing(uri) is None
    f = tmp_path / "t.parquet"
    pq.write_table(pa.table({"k": [1]}), f)
    listed = _listing(str(f))
    assert listed and _listing(f"file://{f}") == listed

    class _Reader:
        schema_calls = 0

        def parquet(self, path):
            return type("DF", (), {"schema": "inferred", "path": path})()

        def schema(self, s):
            _Reader.schema_calls += 1
            return self

    class _Session:
        read = _Reader()
        conf = type("Conf", (), {"set": lambda self, k, v: None})()

    s = _Session()
    for _ in range(2):
        load_table(s, "s3a://bucket/sf", "events")
    assert _Reader.schema_calls == 0
    assert s not in testdata._SCHEMAS


def test_two_loads_of_one_table_self_join(spark, tmp_path):
    pq.write_table(
        pa.table({"k": [1, 2, 2, 3], "v": [10, 20, 21, 30]}),
        tmp_path / "kv.parquet",
    )
    a = load_table(spark, str(tmp_path), "kv")
    b = load_table(spark, str(tmp_path), "kv")  # memo hit
    got = sorted(
        tuple(r)
        for r in a.join(b, a["k"] == b["k"]).select(a["v"], b["v"]).collect()
    )
    assert got == [
        (10, 10), (20, 20), (20, 21), (21, 20), (21, 21), (30, 30)
    ]
