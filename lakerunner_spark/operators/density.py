"""The exact-vs-DDSketch route for ``quantile_over_time`` and the
density refusal for ``mad_over_time``: the one place the PromQL leaf,
the PromQL subquery and the LogQL unwrap decide it.

The exact interpolated quantile/MAD path (operators/range_agg.py
``exact_quantile_over_time`` / ``exact_mad_over_time``) materializes one
array per output row holding every raw sample of the trailing range for
that series.  The range-size gate (``QUANTILE_SKETCH_MIN_BUCKETS`` step
buckets) bounds how many *step buckets* the window spans, but says
nothing about how many samples land in each bucket: a 100 Hz raw series
under a 10 s step packs ~1,000 samples per bucket, so a "short" 10-bucket
window still builds 10k-element arrays per row.  The reference never hits
this because it serves quantiles from stored DDSketches
(promql/quantile_node.go:35-114); our exact path exists only because it
can be oracled bit-for-bit, so it must refuse data dense enough to make
its arrays a memory hazard.

This module supplies the missing half of the gate: a one-pass estimate of
samples-per-series within one range window.  Cost: a single aggregate job
over the already-filtered leaf (columns pruned to ``ts_col`` + labels,
map-side partial agg, a few-row shuffle) — the quantile query scans the
same data immediately after, so the estimate at most doubles the scan and
only for quantile/MAD queries that passed the bucket-count gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# quantile_over_time routing: ranges spanning more than this many step
# buckets are served from the DDSketch bucket algebra (merge in
# O(occupied buckets), no raw-value arrays — the reference's contract,
# promql/quantile_node.go:35-114); smaller ranges use the exact
# interpolated path, whose per-row array is bounded by
# samples-per-series within the short range.
QUANTILE_SKETCH_MIN_BUCKETS = 60

# Max estimated raw samples per series per range window on the exact
# interpolated path.  Above this the per-row arrays are routed to the
# DDSketch bucket algebra (quantile) or rejected (MAD, which has no
# mergeable-sketch form).  4096 doubles ≈ 32 KiB per output row — safely
# inside executor memory even with thousands of series per partition,
# while ~50× above the densest synthetic fixture so test-data routing is
# stable across scale factors.
QUANTILE_EXACT_MAX_SAMPLES = 4096


def estimate_range_samples(
    df: DataFrame,
    labels: list[str],
    range_ms: int,
    ts_col: str,
    value_col: str,
    probe_before_ms: int | None = None,
) -> float:
    """Estimated non-null samples per series within one range window.

    One aggregate pass over ``df`` (which the caller has already
    time/label-filtered): total sample count, approximate distinct series
    count (HLL, 5% default error — routing needs an order of magnitude,
    not a census), and the time span.  Samples per series per window is
    then ``n / series / max(1, span / range)`` — when the span is shorter
    than the range every sample is in one window.

    Returns 0.0 for an empty input (either route handles empty).

    ``probe_before_ms``: when the caller knows the query window, pass
    ``start + range`` to clip the estimate scan to roughly one range
    window of data (row-group stats prune the rest) — density is
    near-stationary, so the first window estimates the rest at a
    fraction of the full-span scan.
    """
    sid = (
        F.approx_count_distinct(F.struct(*[F.col(l) for l in labels]))
        if labels
        else F.lit(1).cast("long")
    )
    if probe_before_ms is not None:
        df = df.filter(F.col(ts_col) < probe_before_ms)
    row = (
        df.filter(F.col(value_col).isNotNull())
        .agg(
            F.count(value_col).alias("n"),
            sid.alias("s"),
            F.min(ts_col).alias("lo"),
            F.max(ts_col).alias("hi"),
        )
        .first()
    )
    if row is None or not row["n"]:
        return 0.0
    span_ms = (row["hi"] or 0) - (row["lo"] or 0)
    n_windows = max(1.0, span_ms / range_ms) if range_ms > 0 else 1.0
    return row["n"] / max(row["s"] or 1, 1) / n_windows


def exact_too_dense(
    df: DataFrame,
    labels: list[str],
    range_ms: int,
    ts_col: str,
    value_col: str,
    probe_before_ms: int | None,
) -> float | None:
    """The estimated raw samples per series per window when they exceed
    :data:`QUANTILE_EXACT_MAX_SAMPLES` (the exact path's per-row arrays
    would be a memory hazard), else None. One aggregate job."""
    est = estimate_range_samples(
        df, labels, range_ms, ts_col, value_col, probe_before_ms=probe_before_ms
    )
    return est if est > QUANTILE_EXACT_MAX_SAMPLES else None


def quantile_over_time(
    df: DataFrame,
    labels: list[str],
    range_ms: int,
    step_ms: int,
    q: float,
    ts_col: str,
    value_col: str,
    probe_before_ms: int | None,
    *,
    raw_samples: bool,
) -> DataFrame:
    """``quantile_over_time`` on the route its window allows: the exact
    interpolated quantile (identical to quantile_cont, so DuckDB can
    oracle it) while a window spans at most
    :data:`QUANTILE_SKETCH_MIN_BUCKETS` step buckets and, for raw
    samples, holds at most :data:`QUANTILE_EXACT_MAX_SAMPLES` per
    series; the DDSketch bucket algebra otherwise. The bucket count
    alone does not bound raw arrays (a 100 Hz series under a 10 s step
    packs ~1,000 samples per bucket), so raw input also runs the
    density estimate. ``raw_samples=False`` marks one value per series
    per step (a subquery's inner grid): there the bucket gate is the
    density gate, and no estimate job runs."""
    from lakerunner_spark.operators.ddsketch import ddsketch_quantile_over_time
    from lakerunner_spark.operators.range_agg import exact_quantile_over_time

    sketch = range_ms // step_ms > QUANTILE_SKETCH_MIN_BUCKETS or (
        raw_samples
        and exact_too_dense(
            df, labels, range_ms, ts_col, value_col, probe_before_ms
        )
        is not None
    )
    build = ddsketch_quantile_over_time if sketch else exact_quantile_over_time
    return build(
        df, labels, range_ms, step_ms, q, ts_col=ts_col, value_col=value_col
    )
