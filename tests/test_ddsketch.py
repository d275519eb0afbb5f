"""DDSketch contract tests: relative-error bound vs exact quantiles and
merge associativity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lakerunner_spark.operators.ddsketch import (
    DEFAULT_RELATIVE_ACCURACY,
    ddsketch_agg,
    ddsketch_merge,
    ddsketch_quantile,
)
from lakerunner_spark.testdata import events_stream


@pytest.fixture(scope="module")
def absvals(spark, sf_dir):
    return (
        events_stream(spark, sf_dir)
        .select("event_type", "user_id", F.abs("value").alias("v"))
        .cache()
    )


def test_relative_error_bound(absvals):
    """DDSketch contract: the answer is within relative_accuracy of the
    sample at rank floor(q*(n-1)) — the same rank rule the sketch uses
    (no interpolation)."""
    acc = DEFAULT_RELATIVE_ACCURACY
    sk = ddsketch_agg(absvals, ["event_type"], "v")
    samples: dict[str, list[float]] = {}
    for r in absvals.select("event_type", "v").collect():
        samples.setdefault(r.event_type, []).append(r.v)
    for vs in samples.values():
        vs.sort()
    for q in (0.5, 0.9, 0.95, 0.99):
        approx = {
            r.event_type: r.value
            for r in ddsketch_quantile(sk, ["event_type"], q).collect()
        }
        for et, vs in samples.items():
            true = vs[int(q * (len(vs) - 1))]
            if true == 0:
                continue
            assert abs(approx[et] - true) <= 1.05 * acc * true, (
                q, et, approx[et], true
            )


def test_merge_equals_direct(absvals):
    fine = ddsketch_agg(absvals, ["event_type", "user_id"], "v")
    merged = ddsketch_merge(fine, ["event_type"])
    direct = ddsketch_agg(absvals, ["event_type"], "v")
    m = {(r.event_type, r.bucket): r["count"] for r in merged.collect()}
    d = {(r.event_type, r.bucket): r["count"] for r in direct.collect()}
    assert m == d  # sketch state identical -> any quantile identical


def test_quantiles_one_walk_matches_repeated_single(absvals):
    """ddsketch_quantiles (rank_buckets' sketch-route multi-threshold
    read: several quantiles from ONE cumulative walk) must return
    bit-identical values to running ddsketch_quantile once per q —
    same rank rule, same mid-bucket estimate, one aggregation."""
    from lakerunner_spark.operators.ddsketch import ddsketch_quantiles

    qs = [1 / 3, 0.5, 2 / 3, 0.95]
    sk = ddsketch_agg(absvals, ["event_type"], "v")
    multi = {
        r.event_type: [r[f"q{i}"] for i in range(len(qs))]
        for r in ddsketch_quantiles(sk, ["event_type"], qs).collect()
    }
    for i, q in enumerate(qs):
        single = {
            r.event_type: r.value
            for r in ddsketch_quantile(sk, ["event_type"], q).collect()
        }
        for et, v in single.items():
            assert multi[et][i] == v, (q, et, multi[et][i], v)


def test_quantiles_validates_arguments(absvals):
    from lakerunner_spark.operators.ddsketch import ddsketch_quantiles

    with pytest.raises(ValueError, match="at least one"):
        ddsketch_quantiles(None, ["g"], [])
    with pytest.raises(ValueError, match="out_cols"):
        ddsketch_quantiles(None, ["g"], [0.5], out_cols=["a", "b"])


def test_zero_and_negative_values(spark):
    df = spark.createDataFrame(
        [("a", 0.0), ("a", 0.0), ("a", -5.0), ("a", 10.0)], ["g", "v"]
    )
    import math

    from lakerunner_spark.operators.ddsketch import (
        _NEG_BASE,
        DEFAULT_RELATIVE_ACCURACY,
        gamma_for,
    )

    sk = ddsketch_agg(df, ["g"], "v")
    buckets = {r.bucket: r["count"] for r in sk.collect()}
    assert buckets[-2_000_000_000] == 2  # zeros tracked separately
    # negatives live in the mirrored store: _NEG_BASE - ceil(log_g(5))
    g = gamma_for(DEFAULT_RELATIVE_ACCURACY)
    neg_bucket = _NEG_BASE - math.ceil(math.log(5.0) / math.log(g))
    assert buckets[neg_bucket] == 1
    assert neg_bucket < -2_000_000_000  # sorts below the zero bucket
    q0 = ddsketch_quantile(sk, ["g"], 0.5).first().value
    assert q0 == 0.0  # rank 1 (of 4) lands in the zero bucket


def test_sketch_column_tier_merge(absvals):
    """Map-typed sketch columns: attach per fine group, merge to coarse,
    quantile — equals building the sketch directly at the coarse level
    (the rollup chain's percentile path without raw rescans)."""
    from lakerunner_spark.operators.ddsketch import (
        merge_sketch_column,
        sketch_column_quantile,
        with_sketch_column,
    )

    fine = with_sketch_column(
        absvals.withColumnRenamed("v", "value"), ["event_type", "user_id"]
    )
    coarse = merge_sketch_column(fine, ["event_type"])
    via_tiers = {
        r.event_type: r.value
        for r in sketch_column_quantile(coarse, ["event_type"], 0.9).collect()
    }
    direct = {
        r.event_type: r.value
        for r in ddsketch_quantile(
            ddsketch_agg(absvals, ["event_type"], "v"), ["event_type"], 0.9
        ).collect()
    }
    assert via_tiers == direct and via_tiers


def test_ddsketch_negative_store(spark):
    """Mixed-sign data: the mirrored negative store answers quantiles
    with the same relative-error contract on |x| (no NaN cliff —
    r3 review fix); bucket order must follow value order."""
    import math

    from lakerunner_spark.operators.ddsketch import (
        ddsketch_agg,
        ddsketch_quantile,
    )

    vals = [-1000.0, -10.0, -0.5, 0.0, 0.5, 10.0, 1000.0, -333.3, 42.0]
    df = spark.createDataFrame([(1, v) for v in vals], ["g", "value"])
    sk = ddsketch_agg(df, ["g"])
    for q in (0.0, 0.25, 0.5, 0.75, 1.0):
        got = ddsketch_quantile(sk, ["g"], q).collect()[0].value
        rank = math.floor(q * (len(vals) - 1))
        truth = sorted(vals)[rank]
        if truth == 0:
            assert got == 0.0, q
        else:
            assert got * truth > 0, (q, got, truth)  # sign preserved
            assert abs(got - truth) / abs(truth) < 0.0102, (q, got, truth)
