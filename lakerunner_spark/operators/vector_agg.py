"""Vector aggregation (A7) and topk/bottomk (A8/W2).

Reference: promql/agg_node.go:30-314 — second-stage aggregation over
series at each bucket; ``by`` keeps listed labels, ``without`` drops
them from the group key. promql/top_k_node.go:25-100 keeps k series per
bucket ordered by value.

Spark-first: plain groupBy for by/without (the compiler resolves the
concrete column set — Spark needs static columns), and a ranking window
for topk. Both stay in whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

def _var_pop(c):
    """Population variance via explicit windowed-sum formula (not
    F.var_pop): the Sum/SumSq composition is reproducible term-for-term
    in the DuckDB oracle, where Welford-style built-ins can differ in
    final ulps. Values are telemetry-scale, so the textbook formula has
    no cancellation hazard; epsilon-negative results clamp to 0.

    All-NULL groups yield NULL like every other aggregator (the
    absent-sample convention for coverage-gate warm-up rows) — without
    the count guard, F.greatest(NULL, 0.0) would skip the NULL and
    fabricate 0.0."""
    n = F.count(c).cast("double")
    mean = F.sum(c) / n
    return F.when(
        F.count(c) > 0,
        F.greatest(F.sum(c * c) / n - mean * mean, F.lit(0.0)),
    )


def _nan_skipping(agg):
    """Prometheus min/max semantics: NaN entries are ignored unless the
    group is ALL-NaN (the upstream loop replaces a NaN accumulator with
    any value: `if h.value < v || math.IsNaN(h.value)`). Spark's native
    max treats NaN as greater than every number, so an unguarded
    F.max would return NaN whenever one sample is NaN. sum/avg keep
    NaN-propagation — upstream propagates there too."""
    def f(c):
        nn = F.when(~F.isnan(c), c)
        return F.when(
            F.count(c) > 0, F.coalesce(agg(nn), F.lit(float("nan")))
        )
    return f


_AGG_FUNCS = {
    "sum": F.sum,
    "avg": F.avg,
    "min": _nan_skipping(F.min),
    "max": _nan_skipping(F.max),
    "count": lambda c: F.count(c).cast("double"),
    "stddev": lambda c: F.sqrt(_var_pop(c)),
    "stdvar": _var_pop,
    # PromQL `group`: 1 for every group with at least one present
    # sample; all-NULL groups stay NULL (absent) like the rest
    "group": lambda c: F.when(F.count(c) > 0, F.lit(1.0)),
}


def vector_agg(
    df: DataFrame,
    func: str,
    by: list[str] | None = None,
) -> DataFrame:
    """PromQL ``<func> by (labels) (vector)`` at each bucket."""
    if func not in _AGG_FUNCS:
        raise ValueError(f"unsupported vector aggregation: {func}")
    return (
        df.groupBy("bucket_ts", *(by or []))
        .agg(_AGG_FUNCS[func](F.col("value")).alias("value"))
    )


def _ranked(
    df: DataFrame,
    k: int,
    ascending: bool,
    tiebreak: list[str] | None,
) -> DataFrame:
    """Per-bucket rank-and-keep-k: one ``row_number`` window per bucket.

    Catalyst's ``InferWindowGroupLimit`` turns the ``rank <= k`` filter
    into a ``WindowGroupLimit`` pair: a Partial one keeps each input
    partition's first k rows per bucket before the exchange, a Final
    one after it. So a bucket's window task receives at most k rows
    per upstream partition, never every series: the two-phase rank
    with no extra shuffle, for k up to
    ``spark.sql.optimizer.windowGroupLimitThreshold`` (1000 by default).
    """
    # absent samples (coverage-gate NULLs) and NaN never occupy a rank
    # slot: the reference collects "scalar, finite entries only"
    # (top_k_node.go Eval skips NaN); without this, Spark's ASC NULLS
    # FIRST would hand bottomk's k slots to warm-up NULLs
    df = df.filter(F.col("value").isNotNull() & ~F.isnan("value"))
    order = [F.col("value").asc() if ascending else F.col("value").desc()]
    # deterministic tiebreak so results are stable across engines/runs
    tiebreak = tiebreak or [
        c for c in df.columns if c not in ("bucket_ts", "value")
    ]
    order += [F.col(c).asc() for c in tiebreak]
    w = Window.partitionBy("bucket_ts").orderBy(*order)
    return (
        df.withColumn("_rank", F.row_number().over(w))
        .filter(F.col("_rank") <= k)
        .drop("_rank")
    )


def topk(
    df: DataFrame,
    k: int,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Per-bucket top-k series by value (top_k_node.go:25-100).

    Ranking is GLOBAL per bucket even when the query carries a by/
    without grouping: the reference's parser drops Grouping for
    topk/bottomk (parser.go:404-419) and TopKNode ranks the whole
    child map, so `topk(2, x) by (job)` ranks across all jobs —
    reference-faithful, diverging from upstream Prometheus's per-group
    ranking by design.
    """
    return _ranked(df, k, False, tiebreak)


def bottomk(
    df: DataFrame,
    k: int,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    return _ranked(df, k, True, tiebreak)
