"""The listing handlers sort their distinct values on the driver.

Their answer must equal Spark's ``distinct().orderBy(...)`` (ascending,
NULLS FIRST, NaN greatest, strings in UTF-8 byte order) on awkward
values, and ``logs_series`` must run two jobs, not the four a range
sort's sampling pass costs.
"""

from __future__ import annotations

import math

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import jobs_in_group

from lakerunner_spark.api import QueryAPI
from lakerunner_spark.catalog import default_log_source, default_metric_catalog

TYPES = [None, "é", "Z", "a", "日本", "ä", "", "zz", "Ωmega", "a "]
VALUES = [float("nan"), None, -1.5, 0.0, -0.0, float("inf"), float("-inf"), 2.0, 1e-300]


@pytest.fixture(scope="module")
def odd_dir(spark, sf_dir, tmp_path_factory):
    t = pq.read_table(f"{sf_dir}/events.parquet").slice(0, 100)
    n = t.num_rows

    def put(t, name, vals, typ):
        i = t.schema.get_field_index(name)
        return t.set_column(
            i, name, pa.array([vals[j % len(vals)] for j in range(n)], typ)
        )

    t = put(t, "event_type", TYPES, pa.string())
    t = put(t, "value", VALUES, pa.float64())
    t = put(t, "user_id", [None, 3, -7, 12], pa.int64())
    d = tmp_path_factory.mktemp("odd")
    pq.write_table(t, d / "events.parquet")
    return str(d)


def _norm(vals):
    """NaN-safe comparison form (NaN != NaN in Python)."""
    return [
        ("nan",) if isinstance(v, float) and math.isnan(v) else (type(v).__name__, v)
        for v in vals
    ]


def _order_by(df, *cols):
    return [tuple(r) for r in df.select(*cols).distinct().orderBy(*cols).collect()]


def test_listings_match_spark_order_by(spark, odd_dir):
    api = QueryAPI(spark, odd_dir)
    logs = default_log_source(spark, odd_dir).df
    leaf = default_metric_catalog(spark, odd_dir).resolve("events").df
    spans = api._spans()
    cases = [
        (api.services({})["services"], _order_by(logs, "event_type")),
        (api.logs_series({})["series"], _order_by(logs, "event_type")),
        (api.logs_tagvalues({"tag": "event_type"})["values"], _order_by(logs, "event_type")),
        (api.logs_tagvalues({"tag": "user_id"})["values"], _order_by(logs, "user_id")),
        (api.spans_tagvalues({"tag": "span_name"})["values"], _order_by(spans, "span_name")),
        (api.spans_tagvalues({"tag": "user_id"})["values"], _order_by(spans, "user_id")),
    ]
    for tag in ("event_type", "user_id", "value"):
        got = api.metrics_tagvalues({"metric": "events", "tag": tag})["values"]
        cases.append((got, _order_by(leaf, tag)))
    for got, want in cases:
        got = [tuple(g.values()) if isinstance(g, dict) else (g,) for g in got]
        assert [_norm(r) for r in got] == [_norm(r) for r in want]
    # the awkward values are really there: NULL first, NaN last, non-ASCII
    types = api.services({})["services"]
    assert types[0] is None and "日本" in types and "é" in types
    values = api.metrics_tagvalues({"metric": "events", "tag": "value"})["values"]
    assert values[0] is None and math.isnan(values[-1])


def test_logs_series_runs_two_jobs(spark, sf_dir):
    api = QueryAPI(spark, sf_dir)
    want = api.logs_series({})  # infers the schema outside the group
    got, jobs = jobs_in_group(spark, lambda: api.logs_series({}))
    assert got == want
    assert jobs == 2
