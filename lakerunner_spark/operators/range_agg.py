"""Range functions over pre-bucketed series (A9/W1/W3/W4).

Reference: promql/leaf_node.go:54-430 slides a window of width ``range``
over per-series step buckets, maintaining sum/count and a min/max deque,
and gates the result on coverage (NaN until the window spans the full
range from the series' first sample).

Spark-first: a time-RANGE window frame over the step_agg output —

    Window.partitionBy(series).orderBy(bucket_ts)
          .rangeBetween(-(range - step), 0)

This keeps everything inside whole-stage codegen (no UDF), and the
window runs after the step_agg shuffle re-using the same partitioning
(partitionBy(series) ⊂ groupBy(bucket_ts, series) keys, so Catalyst
inserts one extra exchange on the much smaller aggregated data — at
100 TB the raw-data shuffle happens once, the window shuffle touches
only series×buckets rows).

Coverage gate: the reference yields NaN until the window covers the
full range (leaf_node.go:308-430). We reproduce it as
``bucket_ts - first_bucket(series) >= range - step`` → else NULL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# rangeAggOp -> (windowed value expression builder)
RANGE_FUNCS = [
    "rate",
    "irate",
    "increase",
    "sum_over_time",
    "count_over_time",
    "avg_over_time",
    "min_over_time",
    "max_over_time",
    "last_over_time",
    "rate_counter",
    # extensions beyond the reference (which stops at the list above):
    # classic PromQL gauge/counter analytics over the per-step values
    # (the bucket average, consistent with last_over_time's bucket-avg
    # convention). All stay declarative window expressions.
    "delta",
    "deriv",
    "predict_linear",
    "resets",
    "changes",
    "stddev_over_time",
    "stdvar_over_time",
    "first_over_time",
    "holt_winters",  # (alias double_exponential_smoothing)
    "mad_over_time",  # raw-sample exact path (exact_mad_over_time)
    "idelta",
]

# extensions computed from per-step values (need the _avg/_flag helpers)
_STEP_VALUE_FUNCS = {
    "delta",
    "deriv",
    "predict_linear",
    "resets",
    "changes",
    "stddev_over_time",
    "stdvar_over_time",
    "first_over_time",
}


def range_agg(
    df: DataFrame,
    func: str,
    range_ms: int,
    step_ms: int,
    series_labels: list[str],
    param: float | None = None,
) -> DataFrame:
    """Apply a PromQL range function over step_agg output.

    Input df columns: bucket_ts, *series_labels, sum, count, min, max.
    Output: bucket_ts, *series_labels, value. ``param`` is the extra
    scalar of parameterized functions (predict_linear's horizon, in
    seconds).
    """
    if func == "holt_winters":
        sf, tf = param
        return holt_winters_range_agg(
            df, range_ms, step_ms, series_labels, sf, tf
        )
    if func in _STEP_VALUE_FUNCS:
        return _step_value_range_agg(
            df, func, range_ms, step_ms, series_labels, param
        )

    w = (
        Window.partitionBy(*series_labels)
        .orderBy(F.col("bucket_ts"))
        .rangeBetween(-(range_ms - step_ms), 0)
    )
    wfull = Window.partitionBy(*series_labels).orderBy(F.col("bucket_ts"))

    range_sec = range_ms / 1000.0
    wsum = F.sum("sum").over(w)
    wcount = F.sum("count").over(w)

    if func == "rate":
        value: Column = wsum / F.lit(range_sec)
    elif func == "increase":
        value = wsum
    elif func == "sum_over_time":
        value = wsum
    elif func == "count_over_time":
        value = wcount.cast("double")
    elif func == "avg_over_time":
        value = wsum / wcount
    elif func == "min_over_time":
        value = F.min("min").over(w)
    elif func == "max_over_time":
        value = F.max("max").over(w)
    elif func == "last_over_time":
        # reference approximates with the latest bucket's avg
        # (leaf_node.go:346-356)
        value = F.col("sum") / F.col("count")
    elif func == "rate_counter":
        # LogQL rate_counter: the reference rewrites it to plain PromQL
        # "rate" over the unwrapped synthetic metric
        # (rewrite_result.go:73 `case "rate_counter": fam, promOp =
        # SynthLogUnwrap, "rate"`) — windowed sum / range seconds, no
        # counter-reset special-casing. Reference-exact.
        value = wsum / F.lit(range_sec)
    elif func in ("irate", "idelta"):
        # Extension beyond the reference (whose irate degenerates to
        # rate — sql_builder.go:51 "same SQL as rate; API can do
        # last-two-samples nuance later"): instant rate / difference
        # from the two most recent buckets. Both must lie within the
        # range window, whose frame holds buckets back to range-step —
        # a previous bucket range_ms back would already be outside it.
        prev_ts = F.lag("bucket_ts", 1).over(wfull)
        dt_ms = F.col("bucket_ts") - prev_ts
        in_window = prev_ts.isNotNull() & (dt_ms <= F.lit(range_ms - step_ms))
        if func == "irate":
            value = F.when(in_window, F.col("sum") / (dt_ms / 1000.0))
        else:
            # idelta: difference of the two latest per-step values
            # (bucket-average convention, like last_over_time)
            avg = F.col("sum") / F.col("count")
            prev_avg = F.lag(F.col("sum") / F.col("count"), 1).over(wfull)
            value = F.when(in_window, avg - prev_avg)
    else:
        raise ValueError(f"unsupported range function: {func}")

    out = df.withColumn("value", value)

    # The reference gates EVERY windowed range function on coverage —
    # evalRangeAwareScalar returns NaN while covered < range for
    # sum/count/avg/min/max/last_over_time, rate, and increase alike
    # (leaf_node.go:357,394) — so tier/path choice can't change results.
    # irate/idelta stay ungated (per-pair guard above; the reference
    # has no true instant-pair path to mirror).
    if func not in ("irate", "idelta"):
        first_bucket = F.min("bucket_ts").over(
            Window.partitionBy(*series_labels)
            .orderBy("bucket_ts")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        covered = (F.col("bucket_ts") - first_bucket) >= F.lit(range_ms - step_ms)
        out = out.withColumn("value", F.when(covered, F.col("value")))

    return out.select("bucket_ts", *series_labels, "value")


def _step_value_range_agg(
    df: DataFrame,
    func: str,
    range_ms: int,
    step_ms: int,
    series_labels: list[str],
    param: float | None,
) -> DataFrame:
    """Extension range functions over the per-step series values.

    The "sample" here is each step bucket's average (sum/count) — the
    same per-step value convention last_over_time already uses — so
    every function is a plain window expression over the aggregated
    series, never a raw-sample array:

    - delta: current step value minus the first value in the window
      (gauge difference; no extrapolation — the window endpoints ARE
      step boundaries here).
    - deriv / predict_linear: least-squares slope over (t, value)
      points in the window; predict_linear extrapolates
      ``param`` seconds past the current step. The time axis is
      re-based to the series' first bucket BEFORE squaring —
      epoch-millisecond x values make n*Σx² - (Σx)² cancel
      catastrophically in doubles (x² ~ 3e18, true denominator ~ 1e5);
      translation doesn't change the slope but keeps every
      intermediate exactly representable.
    - resets / changes: count of adjacent-pair decreases / differences
      inside the window. Per-row flags compare each bucket to its
      predecessor; the frame sum minus the frame's FIRST flag drops
      exactly the one pair that reaches outside the window.
    - stddev/stdvar_over_time: population variance of the step values
      via windowed Σy and Σy² (small magnitudes — no cancellation
      hazard at telemetry scales).
    """
    w = (
        Window.partitionBy(*series_labels)
        .orderBy(F.col("bucket_ts"))
        .rangeBetween(-(range_ms - step_ms), 0)
    )
    wfull = Window.partitionBy(*series_labels).orderBy(F.col("bucket_ts"))
    wseries = (
        Window.partitionBy(*series_labels)
        .orderBy("bucket_ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )

    out = df.withColumn("_avg", F.col("sum") / F.col("count"))
    y = F.col("_avg")

    if func == "delta":
        value: Column = y - F.first("_avg").over(w)
    elif func == "first_over_time":
        # earliest step value in the window (dual of last_over_time's
        # latest-bucket-average convention)
        value = F.first("_avg").over(w)
    elif func in ("deriv", "predict_linear"):
        series_t0 = F.min("bucket_ts").over(wseries)
        out = out.withColumn("_x", (F.col("bucket_ts") - series_t0) / 1000.0)
        x = F.col("_x")
        n = F.count("_avg").over(w).cast("double")
        sx = F.sum(x).over(w)
        sy = F.sum(y).over(w)
        sxy = F.sum(x * y).over(w)
        sxx = F.sum(x * x).over(w)
        den = n * sxx - sx * sx
        slope = F.when(den != 0, (n * sxy - sx * sy) / den)
        if func == "deriv":
            value = slope
        else:
            horizon = float(param if param is not None else 0.0)
            value = sy / n + slope * (x + F.lit(horizon) - sx / n)
    elif func in ("resets", "changes"):
        # compare step values rounded to 6 decimals: the bucket sums
        # underneath are float reductions whose order is not fixed
        # (hash-agg partials), so exact </!= on them is run-to-run and
        # engine-to-engine unstable exactly at ties — the rounded
        # comparison is the defined (portable) semantics.
        #
        # NaN contract (explicit — portable_round's floor would
        # otherwise silently collapse NaN samples to 0 and fabricate
        # transitions against real zeros): a NaN sample is a real
        # sample. changes: NaN<->number differs, NaN<->NaN does not
        # (upstream 3.x behavior). resets: a decrease between two
        # numbers, or recovering from a NaN gap (NaN -> number),
        # counts; number -> NaN does not (upstream 3.x funcResets
        # shape for float samples).
        from lakerunner_spark.functions.rounding import portable_round

        yr = F.when(F.isnan(y), y).otherwise(portable_round(y, 6))
        prev = F.lag(yr).over(wfull)
        num = ~F.isnan(yr) & ~F.isnan(prev)
        if func == "resets":
            cmp = (F.isnan(prev) & ~F.isnan(yr)) | (num & (yr < prev))
        else:
            cmp = (F.isnan(yr) != F.isnan(prev)) | (num & (yr != prev))
        out = out.withColumn(
            "_flag", F.coalesce(cmp.cast("long"), F.lit(0))
        )
        value = (
            F.sum("_flag").over(w) - F.first("_flag").over(w)
        ).cast("double")
    else:  # stddev_over_time / stdvar_over_time
        n = F.count("_avg").over(w).cast("double")
        mean = F.sum(y).over(w) / n
        var = F.sum(y * y).over(w) / n - mean * mean
        # fp cancellation can land epsilon-negative for constant series
        var = F.greatest(var, F.lit(0.0))
        value = F.sqrt(var) if func == "stddev_over_time" else var

    out = out.withColumn("value", value)
    first_bucket = F.min("bucket_ts").over(wseries)
    covered = (F.col("bucket_ts") - first_bucket) >= F.lit(range_ms - step_ms)
    out = out.withColumn("value", F.when(covered, F.col("value")))
    return out.select("bucket_ts", *series_labels, "value")


def exact_quantile_over_time(
    df: DataFrame,
    labels: list[str],
    range_ms: int,
    step_ms: int,
    q: float,
    ts_col: str = "chq_timestamp",
    value_col: str = "value",
) -> DataFrame:
    """Exact interpolated quantile over a sliding range window of RAW
    samples (identical to SQL quantile_cont, so DuckDB can oracle it):
    per-bucket raw values kept as arrays, the window flattens the
    trailing range's arrays, and the quantile is computed with array
    expressions (sort + linear interpolation). The per-row array is
    bounded by samples-per-series within the range — callers owning a
    large-range path (the PromQL compiler's DDSketch route) must gate
    BEFORE calling this. Shared by the PromQL quantile_over_time short-
    range path and LogQL's unwrap quantile_over_time.
    """
    from lakerunner_spark.functions.timeops import bucket_ts

    # NULL samples carry no value; dropping them up front also keeps
    # the bucket set identical to the sketch route's (a bucket whose
    # samples are all NULL yields no output row on either path)
    b = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(bucket_ts(ts_col, step_ms).alias("bucket_ts"), *labels)
        .agg(F.collect_list(value_col).alias("_vals"))
    )
    w = (
        Window.partitionBy(*labels)
        .orderBy("bucket_ts")
        .rangeBetween(-(range_ms - step_ms), 0)
    )
    arr = F.array_sort(F.flatten(F.collect_list("_vals").over(w)))
    val = _interp_at(arr, F.size(arr), q)
    return b.withColumn("value", val).select("bucket_ts", *labels, "value")


def _interp_at(arr: Column, n: Column, q: float) -> Column:
    """quantile_cont interpolation at q over a SORTED array (the same
    formula exact_quantile_over_time inlines — shared so MAD's two
    medians stay bit-identical to DuckDB's)."""
    idx = (n - 1) * F.lit(q)
    lo = F.floor(idx).cast("int")
    frac = idx - F.floor(idx)
    return F.element_at(arr, lo + 1) + frac * (
        F.element_at(arr, F.least(lo + 2, n)) - F.element_at(arr, lo + 1)
    )


def exact_mad_over_time(
    df: DataFrame,
    labels: list[str],
    range_ms: int,
    step_ms: int,
    ts_col: str = "chq_timestamp",
    value_col: str = "value",
) -> DataFrame:
    """Median absolute deviation over a sliding range window of RAW
    samples (extension: Prometheus's experimental mad_over_time):
    ``median(|x - median(x)|)`` with both medians interpolated exactly
    like quantile_cont, so DuckDB's ``mad()`` window aggregate oracles
    it bit-for-bit. Same bounded-array contract as
    :func:`exact_quantile_over_time` — per-row arrays hold the trailing
    range's raw samples, so callers must keep ranges short (there is no
    sketch route: MAD's inner re-centering is not servable from a
    mergeable sketch)."""
    from lakerunner_spark.functions.timeops import bucket_ts

    b = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(bucket_ts(ts_col, step_ms).alias("bucket_ts"), *labels)
        .agg(F.collect_list(value_col).alias("_vals"))
    )
    w = (
        Window.partitionBy(*labels)
        .orderBy("bucket_ts")
        .rangeBetween(-(range_ms - step_ms), 0)
    )
    arr = F.array_sort(F.flatten(F.collect_list("_vals").over(w)))
    out = b.withColumn("_arr", arr).withColumn(
        "_med", _interp_at(F.col("_arr"), F.size("_arr"), 0.5)
    )
    dev = F.array_sort(
        F.transform(F.col("_arr"), lambda x: F.abs(x - F.col("_med")))
    )
    out = out.withColumn(
        "value", _interp_at(dev, F.size("_arr"), 0.5)
    )
    return out.select("bucket_ts", *labels, "value")


def holt_winters_range_agg(
    df: DataFrame,
    range_ms: int,
    step_ms: int,
    series_labels: list[str],
    sf: float,
    tf: float,
) -> DataFrame:
    """holt_winters / double_exponential_smoothing (extension beyond
    the reference): Prometheus's trend-aware exponential smoothing fold
    over the window's per-step values (the bucket-average sample
    convention every _STEP_VALUE_FUNCS extension uses).

    The recurrence (level s, trend b; Prometheus funcHoltWinters):

        s[0] = v[0]; b[0] = v[1] - v[0]
        for i >= 1:
            b' = b                     if i == 1
               = tf*(s1-s0) + (1-tf)*b otherwise
            s0, s1 = s1, sf*v[i] + (1-sf)*(s1 + b')

    is inherently sequential per window, so it runs as one
    ``aggregate`` fold over the ts-sorted window array — interpreted
    per element (HOFs are CodegenFallback), but each array holds at
    most range/step step-values of AGGREGATED series data, never raw
    samples, so the per-row cost is a few dozen float ops. Windows with
    fewer than two samples yield NULL (Prometheus drops them)."""
    w = (
        Window.partitionBy(*series_labels)
        .orderBy(F.col("bucket_ts"))
        .rangeBetween(-(range_ms - step_ms), 0)
    )
    wseries = (
        Window.partitionBy(*series_labels)
        .orderBy("bucket_ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = df.withColumn("_avg", F.col("sum") / F.col("count"))
    # struct sort key = (ts, value): ts leads, so array_sort restores
    # time order regardless of collect_list's partition order
    ent = F.struct(F.col("bucket_ts").alias("ts"), F.col("_avg").alias("v"))
    out = out.withColumn(
        "_vals",
        F.transform(F.array_sort(F.collect_list(ent).over(w)), lambda e: e["v"]),
    )
    # literals are precomputed in Python and injected with full
    # precision so the oracle can inject the *same* doubles
    sfl, omsf = repr(float(sf)), repr(1.0 - float(sf))
    tfl, omtf = repr(float(tf)), repr(1.0 - float(tf))
    fold = (
        "aggregate("
        " slice(_vals, 2, size(_vals) - 1),"
        " named_struct('i', 1, 's0', CAST(0.0 AS DOUBLE),"
        "              's1', element_at(_vals, 1),"
        "              'b', element_at(_vals, 2) - element_at(_vals, 1)),"
        " (acc, x) -> named_struct("
        "   'i', acc.i + 1,"
        "   's0', acc.s1,"
        f"  's1', {sfl} * x + {omsf} * (acc.s1 +"
        f"        (CASE WHEN acc.i = 1 THEN acc.b"
        f"              ELSE {tfl} * (acc.s1 - acc.s0) + {omtf} * acc.b END)),"
        f"  'b', CASE WHEN acc.i = 1 THEN acc.b"
        f"            ELSE {tfl} * (acc.s1 - acc.s0) + {omtf} * acc.b END),"
        " acc -> acc.s1)"
    )
    value = F.when(F.size("_vals") >= 2, F.expr(fold))
    out = out.withColumn("value", value)
    first_bucket = F.min("bucket_ts").over(wseries)
    covered = (F.col("bucket_ts") - first_bucket) >= F.lit(range_ms - step_ms)
    out = out.withColumn("value", F.when(covered, F.col("value")))
    return out.select("bucket_ts", *series_labels, "value")


SPARSE_FUNCS = [
    "rate",
    "increase",
    "sum_over_time",
    "count_over_time",
    "avg_over_time",
    "min_over_time",
    "max_over_time",
]


def range_agg_sparse(
    df: DataFrame,
    func: str,
    range_ms: int,
    step_ms: int,
    series_labels: list[str],
) -> DataFrame:
    """Range function with the reference's exact sparse-series semantics.

    The reference (promql/leaf_node.go:287-306 inferSpanMs, :308-430
    evalRangeAwareScalar) adapts to series whose bucket cadence is
    coarser than the query step: per bucket,

    - ``eff_span = max(step, ts - prev_ts)`` (first bucket: step);
    - entries with ``e.ts < ts + eff_span - range`` are evicted — and
      stay evicted (running state), even if a later bucket's smaller
      eff_span would re-admit them; a gap wider than the range evicts
      the current bucket itself;
    - ``covered = (ts - first_kept) + eff_span``; the value is NaN
      until ``covered >= range``.

    :func:`range_agg`'s fixed RANGE frame equals this exactly when the
    series cadence <= step (dense data). This variant reproduces the
    sparse case declaratively: collect the fixed frame (always a
    superset of the survivor set, since eff_span >= step), then apply
    the eviction rule as a pairwise array filter — entry ``e`` survives
    at the current row iff no bucket ``e2`` processed at or after
    ``e`` (``e2.ts >= e.ts``) had an eviction cutoff above ``e.ts``.
    Everything stays JVM-side (higher-order functions, no UDF); the
    arrays hold at most range/step entries per row of *aggregated*
    series-resolution data, so the O(n^2) filter is on tiny n.
    """
    if func not in SPARSE_FUNCS:
        raise ValueError(f"unsupported sparse range function: {func}")

    wfull = Window.partitionBy(*series_labels).orderBy(F.col("bucket_ts"))
    wrange = wfull.rangeBetween(-(range_ms - step_ms), 0)

    prev_ts = F.lag("bucket_ts", 1).over(wfull)
    delta = F.col("bucket_ts") - prev_ts
    eff_span = F.greatest(F.lit(step_ms), F.coalesce(delta, F.lit(step_ms)))

    # per-bucket eviction cutoff, collected alongside the stats so the
    # pairwise survival test can see every later bucket's cutoff
    cut = F.col("bucket_ts") + eff_span - F.lit(range_ms)
    stats = F.struct(
        F.col("bucket_ts").alias("ts"),
        F.col("sum").alias("s"),
        F.col("count").alias("c"),
        F.col("min").alias("mn"),
        F.col("max").alias("mx"),
        cut.alias("cut"),
    )
    entries = F.collect_list(stats).over(wrange)

    df2 = (
        df.withColumn("eff_span", eff_span)
        .withColumn("entries", entries)
        .withColumn(
            "kept",
            F.expr(
                "filter(entries, e -> !exists(entries,"
                " e2 -> e2.ts >= e.ts AND e.ts < e2.cut))"
            ),
        )
        .withColumn(
            "covered",
            F.when(
                F.size("kept") > 0,
                F.col("bucket_ts") - F.element_at("kept", 1)["ts"] + F.col("eff_span"),
            ).otherwise(F.lit(0)),
        )
    )

    ksum = F.expr("aggregate(kept, 0D, (a, e) -> a + e.s)")
    kcnt = F.expr("aggregate(kept, 0D, (a, e) -> a + e.c)")
    if func == "rate":
        value = ksum / F.lit(range_ms / 1000.0)
    elif func in ("increase", "sum_over_time"):
        value = ksum
    elif func == "count_over_time":
        value = kcnt
    elif func == "avg_over_time":
        value = F.when(kcnt != 0, ksum / kcnt)
    elif func == "min_over_time":
        value = F.expr("array_min(transform(kept, e -> e.mn))")
    else:  # max_over_time
        value = F.expr("array_max(transform(kept, e -> e.mx))")

    gated = F.when(F.col("covered") >= F.lit(range_ms), value)
    return df2.withColumn("value", gated).select(
        "bucket_ts", *series_labels, "value"
    )
