"""Remaining A9/W3 range functions + without-aggregation, oracle-checked.

Completes the range-function inventory (promql/leaf_node.go:164-430):
increase, sum_over_time, count_over_time, min_over_time, last_over_time
(rate/avg_over_time/max_over_time/irate/quantile_over_time are covered
by a9_* / pqs4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from lakerunner_spark.functions.rounding import portable_round as _pr
from lakerunner_spark.operators.range_agg import range_agg
from lakerunner_spark.operators.step_agg import step_agg_raw
from lakerunner_spark.queries import register
from lakerunner_spark.testdata import EVENTS_MS_SQL, events_stream

_E = f"({EVENTS_MS_SQL})"

_BASE = f"""
      SELECT chq_timestamp - chq_timestamp % 60000 AS bucket_ts, event_type,
             sum(value) AS s, count(value) AS c,
             min(value) AS mn, max(value) AS mx
      FROM {_E} e
      GROUP BY 1, 2
"""

_W = """WINDOW w AS (PARTITION BY event_type ORDER BY bucket_ts
                 RANGE BETWEEN 240000 PRECEDING AND CURRENT ROW)"""

_GATE = """CASE WHEN bucket_ts - min(bucket_ts) OVER (PARTITION BY event_type)
                     >= 240000"""


def _ranged(spark: SparkSession, sf_dir: str, fn: str) -> DataFrame:
    e = events_stream(spark, sf_dir)
    s = step_agg_raw(e, 60_000, ["event_type"])
    return range_agg(s, fn, 300_000, 60_000, ["event_type"])


@register(
    "a9_increase",
    f"""
    WITH base AS ({_BASE})
    SELECT bucket_ts, event_type,
           {_GATE} THEN pround(sum(s) OVER w, 4) END AS value
    FROM base {_W}
    """,
)
def a9_increase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: increase — windowed sum, coverage-gated (leaf_node.go Eval)."""
    return _ranged(spark, sf_dir, "increase").withColumn("value", _pr("value", 4))


@register(
    "a9_sum_over_time",
    f"""
    WITH base AS ({_BASE})
    SELECT bucket_ts, event_type,
           {_GATE} THEN pround(sum(s) OVER w, 4) END AS value
    FROM base {_W}
    """,
)
def a9_sum_over_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: sum_over_time — windowed sum, coverage-gated like every
    windowed range fn (leaf_node.go:357 gates the whole case list)."""
    return _ranged(spark, sf_dir, "sum_over_time").withColumn(
        "value", _pr("value", 4)
    )


@register(
    "a9_count_over_time",
    f"""
    WITH base AS ({_BASE})
    SELECT bucket_ts, event_type,
           {_GATE} THEN CAST(sum(c) OVER w AS DOUBLE) END AS value
    FROM base {_W}
    """,
)
def a9_count_over_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: count_over_time — windowed sample count, coverage-gated."""
    return _ranged(spark, sf_dir, "count_over_time")


@register(
    "a9_min_over_time",
    f"""
    WITH base AS ({_BASE})
    SELECT bucket_ts, event_type,
           {_GATE} THEN pround(min(mn) OVER w, 4) END AS value
    FROM base {_W}
    """,
)
def a9_min_over_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: min_over_time — the reference's min-deque as a window MIN,
    coverage-gated (leaf_node.go:394)."""
    return _ranged(spark, sf_dir, "min_over_time").withColumn(
        "value", _pr("value", 4)
    )


@register(
    "w3_last_over_time",
    f"""
    WITH base AS ({_BASE})
    SELECT bucket_ts, event_type,
           {_GATE} THEN pround(s / c, 6) END AS value
    FROM base {_W}
    """,
)
def w3_last_over_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: last_over_time ≈ latest bucket's average (leaf_node.go:346-356),
    coverage-gated like the rest of its case list (leaf_node.go:357)."""
    return _ranged(spark, sf_dir, "last_over_time").withColumn(
        "value", _pr("value", 6)
    )


@register(
    "pqs9_without_agg",
    f"""
    SELECT bucket_ts, user_id, pround(sum(value), 6) AS value
    FROM (
      SELECT chq_timestamp - chq_timestamp % 3600000 AS bucket_ts,
             event_type, user_id, avg(value) AS value
      FROM {_E} e GROUP BY 1, 2, 3
    )
    GROUP BY 1, 2
    """,
)
def pqs9_without_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 'without': group key = label complement, via the front-end
    (sum without (event_type) drops event_type, keeps user_id)."""
    from lakerunner_spark.catalog import default_metric_catalog
    from lakerunner_spark.promql.compiler import compile_promql

    df = compile_promql(
        "sum without (event_type) (events)",
        default_metric_catalog(spark, sf_dir),
        3_600_000,
    )
    return df.withColumn("value", _pr("value", 6))


@register(
    "a9_sparse_sum_over_time",
    f"""
    WITH base AS (
      SELECT chq_timestamp - chq_timestamp % 30000 AS bucket_ts, event_type,
             sum(value) AS s
      FROM {_E} e GROUP BY 1, 2
    ), spans AS (
      SELECT *, greatest(10000, coalesce(bucket_ts - lag(bucket_ts)
               OVER (PARTITION BY event_type ORDER BY bucket_ts), 10000))
               AS eff_span
      FROM base
    ), frames AS (
      SELECT event_type, bucket_ts, eff_span,
             list(struct_pack(ts := bucket_ts, s := s,
                              cut := bucket_ts + eff_span - 60000))
               OVER (PARTITION BY event_type ORDER BY bucket_ts
                     RANGE BETWEEN 50000 PRECEDING AND CURRENT ROW) AS entries
      FROM spans
    ), kept AS (
      SELECT event_type, bucket_ts, eff_span,
             list_filter(entries, e -> len(list_filter(entries,
                 e2 -> e2.ts >= e.ts AND e.ts < e2.cut)) = 0) AS k
      FROM frames
    )
    SELECT event_type, bucket_ts,
           CASE WHEN len(k) > 0 AND bucket_ts - k[1].ts + eff_span >= 60000
                THEN pround(list_sum(list_transform(k, x -> x.s)), 4)
           END AS value
    FROM kept
    """,
)
def a9_sparse_sum_over_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 sparse-cadence path: series bucketed at 30s, queried at step
    10s / range 60s, so eff_span (leaf_node.go:287-306 inferSpanMs) is
    the inferred 30s cadence, not the step. Both engines evaluate the
    identical eviction/coverage rule over identically-ordered lists, so
    the fold order of the double sum matches bit-for-bit."""
    from lakerunner_spark.operators.range_agg import range_agg_sparse

    e = events_stream(spark, sf_dir)
    s = step_agg_raw(e, 30_000, ["event_type"])
    out = range_agg_sparse(s, "sum_over_time", 60_000, 10_000, ["event_type"])
    return out.withColumn("value", _pr("value", 4))


# ---------------------------------------------------------------------------
# Extension range functions (beyond the reference's list): classic
# PromQL analytics over the per-step values. Engine: the same
# declarative window frame as every A9 function (operators/range_agg.py
# _step_value_range_agg); oracles mirror the formulas term for term.
# ---------------------------------------------------------------------------

_B2 = """
  b2 AS (SELECT bucket_ts, event_type, s / c AS y,
                min(bucket_ts) OVER (PARTITION BY event_type) AS t0
         FROM base)
"""


def _ranged_ext(
    spark: SparkSession, sf_dir: str, fn: str, param: float | None = None
) -> DataFrame:
    e = events_stream(spark, sf_dir)
    s = step_agg_raw(e, 60_000, ["event_type"])
    return range_agg(s, fn, 300_000, 60_000, ["event_type"], param=param)


@register(
    "a9x_delta",
    f"""
    WITH base AS ({_BASE}), {_B2}
    SELECT bucket_ts, event_type,
           CASE WHEN bucket_ts - t0 >= 240000 THEN
             pround(y - first_value(y) OVER w, 6) END AS value
    FROM b2 {_W}
    """,
)
def a9x_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """delta (extension): current step value minus the first value in
    the window — gauge difference over per-step averages."""
    return _ranged_ext(spark, sf_dir, "delta").withColumn("value", _pr("value", 6))


_DERIV_WD = f"""
    base AS ({_BASE}),
    b3 AS (SELECT bucket_ts, event_type,
                  (bucket_ts - min(bucket_ts) OVER (PARTITION BY event_type))
                    / 1000.0 AS x,
                  s / c AS y,
                  min(bucket_ts) OVER (PARTITION BY event_type) AS t0
           FROM base),
    wd AS (SELECT bucket_ts, event_type, x, t0,
                  CAST(count(*) OVER w AS DOUBLE) AS n,
                  sum(x) OVER w AS sx, sum(y) OVER w AS sy,
                  sum(x * y) OVER w AS sxy, sum(x * x) OVER w AS sxx
           FROM b3 {_W})
"""


@register(
    "a9x_deriv",
    f"""
    WITH {_DERIV_WD}
    SELECT bucket_ts, event_type,
           CASE WHEN bucket_ts - t0 >= 240000 THEN
             pround(CASE WHEN n * sxx - sx * sx != 0
                         THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END, 6)
           END AS value
    FROM wd
    """,
)
def a9x_deriv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """deriv (extension): least-squares slope of the per-step values,
    time axis re-based per series before squaring (see range_agg)."""
    return _ranged_ext(spark, sf_dir, "deriv").withColumn("value", _pr("value", 6))


@register(
    "a9x_predict_linear",
    f"""
    WITH {_DERIV_WD}
    SELECT bucket_ts, event_type,
           CASE WHEN bucket_ts - t0 >= 240000 THEN
             pround(CASE WHEN n * sxx - sx * sx != 0
                         THEN sy / n + ((n * sxy - sx * sy) / (n * sxx - sx * sx))
                              * (x + 600 - sx / n) END, 6)
           END AS value
    FROM wd
    """,
)
def a9x_predict_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """predict_linear (extension): regression line extrapolated 600 s
    past the current step."""
    return _ranged_ext(spark, sf_dir, "predict_linear", param=600.0).withColumn(
        "value", _pr("value", 6)
    )


_FLAGGED = """
  b2 AS (SELECT bucket_ts, event_type, pround(s / c, 6) AS y,
                min(bucket_ts) OVER (PARTITION BY event_type) AS t0
         FROM base),
  fl AS (SELECT bucket_ts, event_type, t0,
                coalesce(CAST({cmp} AS BIGINT), 0) AS flag
         FROM (SELECT *, lag(y) OVER (PARTITION BY event_type
                                      ORDER BY bucket_ts) AS prev
               FROM b2))
"""


@register(
    "a9x_resets",
    f"""
    WITH base AS ({_BASE}),
    {_FLAGGED.format(cmp="y < prev")}
    SELECT bucket_ts, event_type,
           CASE WHEN bucket_ts - t0 >= 240000 THEN
             CAST(sum(flag) OVER w - first_value(flag) OVER w AS DOUBLE)
           END AS value
    FROM fl {_W}
    """,
)
def a9x_resets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """resets (extension): adjacent-pair decreases inside the window
    (frame sum minus the frame's first flag drops the one pair that
    reaches outside). Step values compared after 6-decimal rounding —
    the defined portable semantics (see range_agg)."""
    return _ranged_ext(spark, sf_dir, "resets")


@register(
    "a9x_changes",
    f"""
    WITH base AS ({_BASE}),
    {_FLAGGED.format(cmp="y != prev")}
    SELECT bucket_ts, event_type,
           CASE WHEN bucket_ts - t0 >= 240000 THEN
             CAST(sum(flag) OVER w - first_value(flag) OVER w AS DOUBLE)
           END AS value
    FROM fl {_W}
    """,
)
def a9x_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """changes (extension): adjacent-pair value changes inside the
    window, same rounded-comparison semantics as resets."""
    return _ranged_ext(spark, sf_dir, "changes")


@register(
    "a9x_stddev_over_time",
    f"""
    WITH base AS ({_BASE}), {_B2}
    SELECT bucket_ts, event_type,
           CASE WHEN bucket_ts - t0 >= 240000 THEN
             pround(sqrt(greatest(
               sum(y * y) OVER w / CAST(count(*) OVER w AS DOUBLE)
               - (sum(y) OVER w / CAST(count(*) OVER w AS DOUBLE))
                 * (sum(y) OVER w / CAST(count(*) OVER w AS DOUBLE)), 0.0)), 6)
           END AS value
    FROM b2 {_W}
    """,
)
def a9x_stddev_over_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stddev_over_time (extension): population stddev of the per-step
    values via windowed sum-of-squares."""
    return _ranged_ext(spark, sf_dir, "stddev_over_time").withColumn(
        "value", _pr("value", 6)
    )


@register(
    "a9x_stdvar_over_time",
    f"""
    WITH base AS ({_BASE}), {_B2}
    SELECT bucket_ts, event_type,
           CASE WHEN bucket_ts - t0 >= 240000 THEN
             pround(greatest(
               sum(y * y) OVER w / CAST(count(*) OVER w AS DOUBLE)
               - (sum(y) OVER w / CAST(count(*) OVER w AS DOUBLE))
                 * (sum(y) OVER w / CAST(count(*) OVER w AS DOUBLE)), 0.0), 6)
           END AS value
    FROM b2 {_W}
    """,
)
def a9x_stdvar_over_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stdvar_over_time (extension): population variance twin of
    a9x_stddev_over_time."""
    return _ranged_ext(spark, sf_dir, "stdvar_over_time").withColumn(
        "value", _pr("value", 6)
    )
