"""``events_stream`` normalises either ``ts`` encoding to epoch-ms,
taking the encoding from the schema its read used.

The testdata's ``ts`` is TIMESTAMP(NANOS) (read as an epoch-ns long)
or TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ), depending on the
generator. A memoized table answers the type from the remembered
schema, so a request asks the JVM for no schema; a rewrite that
changes the encoding changes the file listing, and the next request
reads the new type.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from lakerunner_spark.testdata import events_stream, load_table

ENCODINGS = {"epoch_ns_long": pa.timestamp("ns"), "timestamp_ntz": pa.timestamp("us")}
SPARK_TYPE = {"epoch_ns_long": "bigint", "timestamp_ntz": "timestamp_ntz"}


def _write(sf_dir, tmp_path, encoding) -> dict:
    """events with ``ts`` in ``encoding``; returns event_id -> epoch ms."""
    t = pq.read_table(f"{sf_dir}/events.parquet")
    i = t.schema.get_field_index("ts")
    t = t.set_column(i, "ts", t["ts"].cast(ENCODINGS[encoding]))
    pq.write_table(t, tmp_path / "events.parquet")
    us = t["ts"].cast(pa.timestamp("us")).cast(pa.int64()).to_pylist()
    return dict(zip(t["event_id"].to_pylist(), (u // 1000 for u in us)))


def _epoch_ms(spark, d) -> dict:
    return {
        r.event_id: r.chq_timestamp
        for r in events_stream(spark, d).select("event_id", "chq_timestamp").collect()
    }


@pytest.mark.parametrize("encoding", sorted(ENCODINGS))
def test_both_encodings_give_epoch_ms(spark, sf_dir, tmp_path, encoding):
    want = _write(sf_dir, tmp_path, encoding)
    d = str(tmp_path)
    assert dict(load_table(spark, d, "events").dtypes)["ts"] == SPARK_TYPE[encoding]
    assert _epoch_ms(spark, d) == want


def test_memo_hit_asks_the_jvm_for_no_schema(spark, sf_dir, tmp_path, monkeypatch):
    want = _write(sf_dir, tmp_path, "epoch_ns_long")
    d = str(tmp_path)
    load_table(spark, d, "events")  # remembers the schema
    df_type = type(load_table(spark, d, "events"))

    def _no_schema(self):
        raise AssertionError("schema fetched from the JVM")

    monkeypatch.setattr(df_type, "schema", property(_no_schema))
    out = events_stream(spark, d)
    monkeypatch.undo()
    assert {r.event_id: r.chq_timestamp for r in out.collect()} == want


def test_rewritten_ts_encoding_is_picked_up(spark, sf_dir, tmp_path):
    d = str(tmp_path)
    want_ns = _write(sf_dir, tmp_path, "epoch_ns_long")
    assert _epoch_ms(spark, d) == want_ns
    assert _epoch_ms(spark, d) == want_ns  # memo hit
    want_ntz = _write(sf_dir, tmp_path, "timestamp_ntz")
    assert want_ntz == want_ns
    assert _epoch_ms(spark, d) == want_ntz
    assert dict(load_table(spark, d, "events").dtypes)["ts"] == "timestamp_ntz"
