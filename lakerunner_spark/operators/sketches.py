"""Sketch aggregations (A5/A6/X1/X4): mergeable quantiles + cardinality.

The reference attaches a DDSketch (relative-error quantiles) and
HyperLogLog to every rollup row (promql/eval_types.go:22-33,
promql/aggregator.go:34-60) and merges them across segments/tiers.

Spark-first equivalents with the same algebraic contract (mergeable,
bounded error):

- quantiles: ``percentile_approx`` — Spark's KLL-backed approximate
  percentile whose internal state IS a mergeable sketch; Catalyst
  plans partial/final merge across partitions automatically, which is
  exactly the reference's worker-partial -> API-merge topology (A17).
- cardinality: ``approx_count_distinct`` (HLL++) for one-shot, and the
  Datasketches ``hll_sketch_agg`` / ``hll_union_agg`` /
  ``hll_sketch_estimate`` family when sketch *bytes* must be stored in
  rollup tiers and re-merged later (X4) — the binary-column analogue of
  the reference's ``chq_sketch``.

Exactness note: the correctness oracle can't compare approximate
sketches across engines bit-for-bit; these operators are verified by
tolerance tests against exact quantiles/counts and by the merge
identity (union-of-sketches == sketch-of-union) in tests/test_sketches.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_QUANTILES = [0.25, 0.5, 0.75, 0.9, 0.95, 0.99]


def quantile_sketch_agg(
    df: DataFrame,
    group_cols: list[str],
    value_col: str = "value",
    quantiles: list[float] | None = None,
) -> DataFrame:
    """A5: per-group approximate quantiles from a mergeable sketch.

    Output columns: group_cols + p25/p50/... (one per requested q).
    accuracy=10000 ≈ 0.01% rank error — comparable to DDSketch's 1%
    relative-error contract on the value axis for telemetry-shaped data.
    """
    qs = quantiles or DEFAULT_QUANTILES
    aggs = [
        F.percentile_approx(value_col, q, accuracy=10_000).alias(_q_label(q))
        for q in qs
    ]
    return df.groupBy(*group_cols).agg(*aggs)


def _q_label(q: float) -> str:
    """Quantile -> column label: p50, p99, p99_9, p57.

    round-then-format, never int(q*100): binary floats truncate (0.57
    would label as p56) and 3-decimal quantiles would collide (0.999
    and 0.99 both as p99)."""
    pct = round(q * 1000) / 10  # exact to 0.1%
    if pct == int(pct):
        return f"p{int(pct)}"
    return f"p{int(pct)}_{round(pct * 10) % 10}"


def hll_sketch_rollup(
    df: DataFrame,
    group_cols: list[str],
    col: str,
) -> DataFrame:
    """A6/X4 (tiered): per-group Datasketches HLL sketch **bytes**.

    The returned ``hll_sketch`` binary column is the engine's
    ``chq_sketch`` analogue: store it in a rollup tier, then re-merge
    coarser tiers with :func:`hll_sketch_merge` — no raw-data rescan.
    """
    return df.groupBy(*group_cols).agg(
        F.hll_sketch_agg(F.col(col), F.lit(12)).alias("hll_sketch")
    )


def hll_sketch_merge(
    df: DataFrame,
    group_cols: list[str],
) -> DataFrame:
    """Merge stored HLL sketches to a coarser grouping (rollup chain A2)."""
    return df.groupBy(*group_cols).agg(
        F.hll_union_agg(F.col("hll_sketch")).alias("hll_sketch")
    )


def hll_estimate(df: DataFrame) -> DataFrame:
    """Decode sketch bytes -> cardinality estimate."""
    return df.withColumn(
        "cardinality", F.hll_sketch_estimate(F.col("hll_sketch"))
    ).drop("hll_sketch")
