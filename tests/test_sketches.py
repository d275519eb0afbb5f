"""Sketch operator contracts (A5/A6/X4): tolerance vs exact answers and
the merge identity that makes tiered rollups sound."""

from __future__ import annotations

import math
import random

import pytest
from conftest import jobs_in_group
from pyspark.sql import functions as F

from lakerunner_spark.operators.sketches import (
    hll_estimate,
    hll_sketch_merge,
    hll_sketch_rollup,
    quantile_sketch_agg,
)
from lakerunner_spark.testdata import events_stream


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return events_stream(spark, sf_dir).cache()


def test_quantile_sketch_close_to_exact(events):
    approx = {
        r.event_type: r
        for r in quantile_sketch_agg(events, ["event_type"], "value").collect()
    }
    exact = {
        r.event_type: r
        for r in events.groupBy("event_type")
        .agg(
            *[
                F.percentile("value", q).alias(f"p{int(q * 100)}")
                for q in (0.25, 0.5, 0.75, 0.9, 0.95, 0.99)
            ]
        )
        .collect()
    }
    assert set(approx) == set(exact)
    # KLL's contract is RANK error, not value error: the fraction of
    # values <= the sketch's answer must sit within eps of q.
    values = {
        et: sorted(
            r.value
            for r in events.filter(F.col("event_type") == et)
            .select("value")
            .collect()
        )
        for et in approx
    }
    for et, a in approx.items():
        vs = values[et]
        n = len(vs)
        for q, col in [(0.25, "p25"), (0.5, "p50"), (0.75, "p75"),
                       (0.9, "p90"), (0.95, "p95"), (0.99, "p99")]:
            got = getattr(a, col)
            rank = sum(1 for v in vs if v <= got) / n
            eps = max(0.01, 2.0 / n)  # sketch eps + discreteness of small n
            assert q - eps <= rank <= q + eps, (et, col, got, rank, q)
    # and the sketch answers must be actual sample values
    for et, a in approx.items():
        assert all(getattr(a, c) in values[et] for c in ("p25", "p50", "p99"))


def test_hll_cardinality_close_to_exact(events):
    approx = {
        r.event_type: r.cardinality
        for r in hll_estimate(
            hll_sketch_rollup(events, ["event_type"], "user_id")
        ).collect()
    }
    exact = {
        r.event_type: r.n
        for r in events.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    for et, n in exact.items():
        assert abs(approx[et] - n) <= max(2, 0.05 * n), (et, approx[et], n)


def test_hll_sketch_merge_identity(events):
    """union-of-sketches == sketch-of-union: the property that lets the
    rollup chain (A2) merge tiers without raw rescans."""
    fine = hll_sketch_rollup(events, ["event_type", "user_id"], "event_id")
    merged = hll_estimate(hll_sketch_merge(fine, ["event_type"]))
    direct = hll_estimate(hll_sketch_rollup(events, ["event_type"], "event_id"))
    m = {r.event_type: r.cardinality for r in merged.collect()}
    d = {r.event_type: r.cardinality for r in direct.collect()}
    assert m == d  # identical sketch state -> identical estimate


def _random_series(spark, partitions):
    """5 buckets x 200 series with many value ties, a few NaN and NULL
    samples, spread over ``partitions`` partitions."""
    rng = random.Random(11)

    def value():
        r = rng.random()
        if r < 0.03:
            return float("nan")
        if r < 0.06:
            return None
        return float(rng.randint(0, 40))

    rows = [
        (b * 1000, f"s{i:03d}", value()) for b in range(5) for i in range(200)
    ]
    df = spark.createDataFrame(
        rows, "bucket_ts LONG, series STRING, value DOUBLE"
    ).repartition(partitions)
    return rows, df


def _ranked_reference(rows, k, descending):
    """Per bucket, the first k finite samples by value, ties broken by
    series name."""
    by_bucket: dict = {}
    for b, series, v in rows:
        if v is not None and not math.isnan(v):
            by_bucket.setdefault(b, []).append((v, series))
    out = set()
    for b, samples in by_bucket.items():
        samples.sort(key=lambda t: (-t[0] if descending else t[0], t[1]))
        out |= {(b, series, v) for v, series in samples[:k]}
    return out


def test_topk_bottomk_match_a_per_bucket_reference(spark):
    """The rank does not depend on partitioning: over 16 partitions the
    rows equal a plain-Python per-bucket sort (NaN and NULL skipped,
    ties broken by the label columns)."""
    from lakerunner_spark.operators.vector_agg import bottomk, topk

    rows, df = _random_series(spark, 16)
    for fn, descending in ((topk, True), (bottomk, False)):
        got = {(r.bucket_ts, r.series, r.value) for r in fn(df, 7).collect()}
        assert got == _ranked_reference(rows, 7, descending)
        assert len(got) == 35


def test_topk_plans_one_exchange_between_window_group_limits(spark):
    """Catalyst's WindowGroupLimit does the two-phase rank: a Partial
    limit below the one exchange keeps each partition's first k rows
    per bucket, a Final one above it; no per-partition salt."""
    from lakerunner_spark.operators.vector_agg import bottomk, topk

    df = spark.range(0, 3000, numPartitions=8).select(
        ((F.col("id") % 3) * 1000).alias("bucket_ts"),
        F.concat(F.lit("s"), F.col("id").cast("string")).alias("series"),
        F.rand(7).alias("value"),
    )
    for fn in (topk, bottomk):
        plan = fn(df, 5)._jdf.queryExecution().executedPlan().toString()
        lines = plan.splitlines()
        exchanges = [i for i, ln in enumerate(lines) if "Exchange" in ln]
        assert len(exchanges) == 1, plan
        # the tree prints parents first: Final above, Partial below
        final, partial = [
            i for i, ln in enumerate(lines) if "WindowGroupLimit" in ln
        ]
        assert lines[final].endswith("Final"), plan
        assert lines[partial].endswith("Partial"), plan
        assert final < exchanges[0] < partial, plan
        assert "SPARK_PARTITION_ID" not in plan.upper()


def test_building_topk_runs_no_job(spark):
    from lakerunner_spark.operators.vector_agg import bottomk, topk

    _, df = _random_series(spark, 4)
    for fn in (topk, bottomk):
        _, jobs = jobs_in_group(spark, lambda: fn(df, 3))
        assert jobs == 0


@pytest.mark.parametrize(
    "path,inner",
    [
        ("/api/v1/query_range",
         "sum by (event_type) (sum_over_time(events[1h]))"),
        ("/api/v1/logs/query",
         'sum by (event_type) (count_over_time({event_type=~".+"}[1h]))'),
    ],
    ids=["promql", "logql"],
)
def test_topk_request_adds_only_the_rank_shuffle(spark, sf_dir, path, inner):
    """A topk request runs the jobs of its inner query plus the one
    shuffle stage of the rank window (AQE submits each shuffle stage as
    a job); nothing runs to pick a plan."""
    from lakerunner_spark.api import QueryAPI

    api = QueryAPI(spark, sf_dir)
    lo, hi = events_stream(spark, sf_dir).agg(
        F.min("chq_timestamp"), F.max("chq_timestamp")
    ).first()

    def request(query):
        out = api.handle(path, {
            "query": query, "start_ms": int(lo), "end_ms": int(hi) + 1,
            "step_ms": 3_600_000,
        })
        return out["data"]["result"] if "data" in out else out["result"]

    outer = f"topk(2, {inner})"
    request(inner)  # the table schema is inferred outside the groups
    inner_out, inner_jobs = jobs_in_group(spark, lambda: request(inner))
    outer_out, outer_jobs = jobs_in_group(spark, lambda: request(outer))
    assert inner_out and outer_out
    assert outer_jobs == inner_jobs + 1
