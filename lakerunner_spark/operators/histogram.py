"""Classic le-bucket histogram_quantile (Prometheus interpolation).

Extension beyond the reference: its histogram_quantile serves exact
per-bucket quantiles from raw value distributions (the cooked layout
stores samples, not le-buckets — promql/quantile_node.go:35-114), so
Prometheus-style ``_bucket`` series with cumulative counts per ``le``
have no evaluator there. OTLP histograms DO arrive as exploded buckets
(sources/otel.py read_otlp_metrics), and dashboards ported from
Prometheus use ``histogram_quantile(q, sum by (le, ...) (rate(
x_bucket[5m])))`` — this operator closes that path.

Semantics follow Prometheus's bucketQuantile (prometheus/promql/
quantile.go): buckets ordered by upper bound ``le`` (cumulative
counts), rank = q * total (the +Inf bucket's count); the target bucket
is the first whose cumulative count reaches the rank, and the result
interpolates linearly inside it:

- target is the +Inf bucket -> the largest finite ``le``;
- target is the first bucket -> ``le`` itself when ``le <= 0``, else
  interpolate from a 0 lower bound;
- otherwise -> prev_le + (le - prev_le) * (rank - prev_cum)/(cum - prev_cum).

Spark-first: one window pass per (bucket_ts, labels) group ordered by
the numeric ``le`` — lag() supplies the previous bound/count, a
max-over-partition supplies the total, and the single target row is
selected by ``cum >= rank AND (prev is null OR prev_cum < rank)``. No
arrays, no UDFs; everything whole-stage-codegen window expressions on
post-aggregation data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_NON_LABELS = ("bucket_ts", "le", "value")


def cumulate_buckets(df: DataFrame) -> DataFrame:
    """Per-bucket counts -> cumulative counts (running sum by ``le``).

    OTLP histograms carry NON-cumulative bucket_counts (sources/otel.py
    explodes them one row per bound); Prometheus le-bucket semantics —
    and :func:`histogram_quantile_buckets` — expect cumulative counts.
    One narrow window pass per series converts between the two."""
    keys = [c for c in df.columns if c not in _NON_LABELS]
    w = (
        Window.partitionBy("bucket_ts", *keys)
        .orderBy(F.col("le").cast("double"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return df.withColumn("value", F.sum("value").over(w))


def histogram_quantile_buckets(
    df: DataFrame,
    q: float,
) -> DataFrame:
    """``histogram_quantile(q, v)`` for a vector carrying an ``le``
    label with cumulative bucket counts (the OTLP per-bucket shape
    goes through :func:`cumulate_buckets` first).

    Input columns: ``bucket_ts``, the label columns (including
    ``le``), ``value``. Output: the same labels WITHOUT ``le``,
    plus ``value``. Prometheus-rule guards, all yielding ABSENT rows
    where Prometheus yields NaN:

    - groups whose top bucket is not ``+Inf`` drop out (bucketQuantile
      requires it — without it "total" is a guess);
    - empty histograms (total = 0) drop out;
    - cumulative counts are made monotone first (running max — the
      ensureMonotonic fixup for rate()-induced dips); without it the
      target predicate can match several buckets and emit conflicting
      duplicate rows per series.
    """
    if not 0.0 <= q <= 1.0:
        raise ValueError("histogram_quantile q must be in [0, 1]")
    keys = [c for c in df.columns if c not in _NON_LABELS]
    # "+Inf"/"inf" cast to Infinity in both Spark and DuckDB
    le_num = F.col("le").cast("double")
    d = df.withColumn("_le", le_num).filter(F.col("_le").isNotNull())

    inf = float("inf")
    wp = Window.partitionBy("bucket_ts", *keys)
    w = wp.orderBy("_le")
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    # ensureMonotonic: running max over the le-ordered cumulative counts
    d = d.withColumn("_cum", F.max("value").over(wrun))
    has_inf = F.max(F.when(F.col("_le") == inf, 1).otherwise(0)).over(wp)
    total = F.max("_cum").over(wp)  # monotone -> the +Inf bucket's count
    rank = F.lit(q) * total
    prev_le = F.lag("_le").over(w)
    prev_v = F.lag("_cum").over(w)
    cum = F.col("_cum")

    is_target = (cum >= rank) & (prev_v.isNull() | (prev_v < rank))
    value = (
        F.when(F.col("_le") == inf, prev_le)  # +Inf bucket -> largest finite le
        .when(
            prev_le.isNull(),
            F.when(F.col("_le") <= 0, F.col("_le")).otherwise(
                F.col("_le") * rank / cum
            ),
        )
        .otherwise(
            # no /0 possible: the target predicate requires
            # prev_v < rank <= cum, so cum > prev_v here
            prev_le
            + (F.col("_le") - prev_le) * (rank - prev_v) / (cum - prev_v)
        )
    )
    out = (
        d.withColumn("_t", is_target & (total > 0) & (has_inf == 1))
        .withColumn("_q", value)
        # window expressions must land in columns before the filter
        .filter(F.col("_t"))
        # a lone +Inf bucket has no finite bound to report (Prometheus
        # NaN) -> absent row in this engine's model
        .filter(F.col("_q").isNotNull())
        .select("bucket_ts", *keys, F.col("_q").alias("value"))
    )
    return out


def with_inf_bucket(df: DataFrame) -> DataFrame:
    """Append an empty ``+Inf`` bucket per series group.

    OTLP exponential histograms carry no +Inf bucket (the decode
    explodes only observed finite bounds, sources/otel.py), but
    :func:`histogram_quantile_buckets` requires the +Inf top — without
    it "total" is a guess — so this bridge completes the classic-bucket
    shape: one distinct-keys pass, union of a single zero-count row per
    (bucket, labels) group. Adding zero to the cumulative top keeps
    total == observed count exactly."""
    keys = [c for c in df.columns if c not in _NON_LABELS]
    inf_rows = (
        df.select("bucket_ts", *keys)
        .distinct()
        .withColumn("le", F.lit(float("inf")))
        .withColumn("value", F.lit(0.0))
        .select(df.columns)
    )
    return df.unionByName(inf_rows)
