"""DDSketch quantiles as declarative DataFrame ops (X1, A5, F13).

The reference's ``ddsketch_stats_agg`` (DuckDB extension;
internal/metricsprocessing/metric_ingest_duckdb.go:127,385-407) builds a
DDSketch per rollup row, stores its bytes in ``chq_sketch``, and merges
sketches across segments/tiers for quantile queries
(promql/aggregator.go:83-217, quantile_node.go:35-114).

A DDSketch IS a log-bucketed histogram: bucket(x) = ceil(log_gamma(x)),
quantile answered from cumulative bucket counts with relative error
(gamma-1)/(gamma+1). That histogram is representable as plain columns —
(bucket_index, count) rows — so the whole sketch lifecycle becomes
groupBy/window algebra:

- build:    groupBy(keys, bucket) count          -- one shuffle, codegen
- merge:    groupBy(keys, bucket) sum(count)     -- tier rollup, A2
- quantile: cumulative-count window walk         -- no UDF anywhere

This keeps sketch state exact and engine-portable: the DuckDB oracle
reproduces bucket indexes and counts bit-for-bit (integer buckets,
integer counts), unlike opaque sketch bytes. Zero/negative values go to
a reserved zero bucket and a mirrored negative store (true DDSketch
keeps the same two-store shape), so mixed-sign data quantiles carry the
relative-error contract on |x|.

At 100 TB: sketch state is ~(groups × occupied buckets) rows — a few
hundred buckets span 9 decades at 1% error — and both build and merge
are single-shuffle partial aggregations.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_RELATIVE_ACCURACY = 0.01

_ZERO_BUCKET = -2_000_000_000  # reserved index for x == 0
# Negative store (real DDSketch keeps a mirrored second store): x < 0
# maps to _NEG_BASE - ceil(log_gamma(-x)), which keeps the TOTAL order
# of bucket indexes aligned with the order of values — every negative
# bucket sorts below _ZERO_BUCKET, and within negatives a more negative
# x gets a smaller index — so one cumulative walk answers quantiles
# over mixed-sign data with the same relative-error contract on |x|.
_NEG_BASE = -2_005_000_000


def gamma_for(relative_accuracy: float) -> float:
    return (1 + relative_accuracy) / (1 - relative_accuracy)


def bucket_index(value, gamma: float):
    """ceil(log_gamma(x)) for x > 0; mirrored negative store for x < 0;
    reserved zero bucket.

    Finite-input contract: ±Inf/NaN values are out of contract —
    Spark's ceil saturates an infinite log at ±2^63-1 while DuckDB
    REJECTS the cast, so a non-finite measurement would diverge (or
    error) across engines rather than mis-bucket silently. Telemetry
    values are finite by construction; filter non-finite upstream if a
    source can produce them."""
    c = F.col(value) if isinstance(value, str) else value
    log_gamma = math.log(gamma)
    return (
        F.when(c > 0, F.ceil(F.log(c) / F.lit(log_gamma)).cast("long"))
        .when(c == 0, F.lit(_ZERO_BUCKET))
        .otherwise(
            F.lit(_NEG_BASE) - F.ceil(F.log(-c) / F.lit(log_gamma)).cast("long")
        )
    )


def bucket_index_sql(value_sql: str, gamma: float) -> str:
    """DuckDB twin of :func:`bucket_index` (oracle parity)."""
    lg = repr(math.log(gamma))
    return (
        f"CASE WHEN {value_sql} > 0"
        f" THEN CAST(ceil(ln({value_sql}) / {lg}) AS BIGINT)"
        f" WHEN {value_sql} = 0 THEN {_ZERO_BUCKET}"
        f" ELSE {_NEG_BASE} - CAST(ceil(ln(-({value_sql})) / {lg}) AS BIGINT)"
        f" END"
    )


_EMPTY_PAIRS = "cast(array() as array<struct<b:bigint,c:bigint>>)"


def _bind(arr_expr, fn):
    """Let-binding for higher-order-function bodies: evaluate
    ``arr_expr`` ONCE per row and expose it to ``fn`` as a lambda
    VARIABLE. Spark does no common-subexpression elimination inside
    lambda bodies — an expression subtree referenced per element is
    re-evaluated per element (a sort_array referenced from a transform
    lambda turns an O(n log n) fold into O(n^2 log n); measured as a
    timeout on 300K-sample groups) — but a lambda-variable reference
    is an O(1) lookup. ``transform(array(x), v -> body)[0]`` is that
    let-binding with built-ins only."""
    return F.get(F.transform(F.array(arr_expr), fn), 0)


def fold_bucket_list(col):
    """``array<bigint>`` of per-sample bucket ids -> canonical
    ``array<struct<b:bigint,c:bigint>>`` (occupied bucket, count)
    pairs, ascending-b, one entry per distinct bucket.

    This is the state-bounding fold of the fused ingest cascade (r11
    verdict #1): the 10s pre-agg's ``collect_list`` holds one long PER
    SAMPLE per 10s group (bounded by series cadence x 10s — small),
    and this fold — applied BETWEEN the 10s aggregate and the next
    tier's groupBy, never in the same projection region as the blob
    Python UDF (lambda-closure extraction hazard, ingest/preagg.py) —
    turns it into occupied-bucket entries so coarser tiers carry
    O(buckets), not O(samples), per aggregation group. A true DDSketch
    store keeps the same bounded shape (sketches-go store; reference
    metric_ingest_duckdb.go:351-459 merges bounded sketch state).

    Pure built-in higher-order functions (sorted run-length): JVM-side,
    codegen'd, no shuffle, no Python. NULL in -> NULL out; empty list
    (a group whose values were all NULL) -> empty pairs.
    """
    c = F.col(col) if isinstance(col, str) else col

    def body(s):
        starts_expr = F.filter(
            F.sequence(F.lit(0), F.size(s) - 1),
            lambda i: (i == 0) | (F.get(s, i) != F.get(s, i - 1)),
        )
        return _bind(
            starts_expr,
            lambda starts: F.transform(
                starts,
                lambda st, j: F.struct(
                    F.get(s, st).alias("b"),
                    (F.coalesce(F.get(starts, j + 1), F.size(s)) - st)
                    .cast("long")
                    .alias("c"),
                ),
            ),
        )

    return (
        F.when(c.isNull(), F.lit(None).cast("array<struct<b:bigint,c:bigint>>"))
        .when(F.size(c) == 0, F.expr(_EMPTY_PAIRS))
        .otherwise(_bind(F.sort_array(c), body))
    )


def merge_bucket_pairs(col):
    """Canonicalize an ``array<struct<b:bigint,c:bigint>>`` that may
    hold duplicate buckets (the ``flatten(collect_list(...))`` output
    of a rollup tier concatenating its finer groups' pair lists) back
    to one ascending entry per distinct bucket with counts summed —
    the exact DDSketch merge (counts are additive), as a built-in
    expression.

    Applied between one tier's aggregate and the NEXT tier's groupBy
    (both shuffle barriers), so per-group aggregation state at every
    tier stays <= (tier ratio) x occupied buckets. Deliberately NOT
    applied inside ``rollup_tier``'s own ``.agg`` or anywhere a
    projection could collapse into the blob UDF's argument (the
    lambda-closure extraction hazard — see ingest/preagg.py).
    """
    c = F.col(col) if isinstance(col, str) else col

    def body(s):
        starts_expr = F.filter(
            F.sequence(F.lit(0), F.size(s) - 1),
            lambda i: (i == 0) | (F.get(s, i)["b"] != F.get(s, i - 1)["b"]),
        )
        return _bind(
            starts_expr,
            lambda starts: F.transform(
                starts,
                lambda st, j: F.struct(
                    F.get(s, st)["b"].alias("b"),
                    F.aggregate(
                        F.slice(
                            s,
                            st + 1,
                            F.coalesce(F.get(starts, j + 1), F.size(s)) - st,
                        ),
                        F.lit(0).cast("long"),
                        lambda acc, e: acc + e["c"],
                    ).alias("c"),
                ),
            ),
        )

    return (
        F.when(c.isNull(), F.lit(None).cast("array<struct<b:bigint,c:bigint>>"))
        .when(F.size(c) == 0, F.expr(_EMPTY_PAIRS))
        .otherwise(_bind(F.sort_array(c), body))
    )


def ddsketch_agg(
    df: DataFrame,
    group_cols: list[str],
    value_col: str = "value",
) -> DataFrame:
    """Build per-group sketches: (group_cols..., bucket, count) rows.

    NULL values are excluded up front — a sketch counts values, and a
    NULL bucket row would sort nulls-first in Spark's cumulative walk
    but nulls-last in DuckDB's, silently shifting every quantile.
    """
    gamma = gamma_for(DEFAULT_RELATIVE_ACCURACY)
    return (
        df.filter(F.col(value_col).isNotNull())
        .withColumn("bucket", bucket_index(value_col, gamma))
        .groupBy(*group_cols, "bucket")
        .agg(F.count(F.lit(1)).alias("count"))
    )


def ddsketch_merge(df: DataFrame, group_cols: list[str]) -> DataFrame:
    """Merge sketches to a coarser grouping: counts add per bucket (the
    DDSketch merge operation — associative, order-free)."""
    return df.groupBy(*group_cols, "bucket").agg(F.sum("count").alias("count"))


def ddsketch_quantile(
    sketch: DataFrame,
    group_cols: list[str],
    q: float,
    out_col: str = "value",
) -> DataFrame:
    """Quantile per group from sketch rows.

    DDSketch rule: the target rank is floor(q * (n - 1)); the answer is
    the value of the first bucket whose cumulative count exceeds it,
    estimated as 2*gamma^i/(gamma+1) (mid-bucket, relative-error bound).
    Implemented as a cumulative-sum window + first matching row.
    """
    gamma = gamma_for(DEFAULT_RELATIVE_ACCURACY)
    w = (
        Window.partitionBy(*group_cols)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    totals = Window.partitionBy(*group_cols)
    cum = (
        sketch.withColumn("cum", F.sum("count").over(w))
        .withColumn("n", F.sum("count").over(totals))
    )
    rank = F.floor(F.lit(q) * (F.col("n") - 1))
    hit = cum.filter(F.col("cum") > rank)
    first_hit = hit.groupBy(*group_cols).agg(F.min("bucket").alias("bucket"))
    value = (
        F.when(
            F.col("bucket") > F.lit(_ZERO_BUCKET),
            F.lit(2.0)
            * F.pow(F.lit(gamma), F.col("bucket"))
            / F.lit(gamma + 1),
        )
        .when(F.col("bucket") == F.lit(_ZERO_BUCKET), F.lit(0.0))
        .otherwise(  # negative store: mid-bucket of |x|, sign restored
            F.lit(-2.0)
            * F.pow(F.lit(gamma), F.lit(_NEG_BASE) - F.col("bucket"))
            / F.lit(gamma + 1)
        )
    )
    return first_hit.withColumn(out_col, value).drop("bucket")


def _bucket_value(bucket_col, gamma: float):
    """Mid-bucket value estimate for a bucket index column (the
    2*gamma^i/(gamma+1) DDSketch rule, zero/negative stores included)."""
    return (
        F.when(
            bucket_col > F.lit(_ZERO_BUCKET),
            F.lit(2.0) * F.pow(F.lit(gamma), bucket_col) / F.lit(gamma + 1),
        )
        .when(bucket_col == F.lit(_ZERO_BUCKET), F.lit(0.0))
        .otherwise(  # negative store: mid-bucket of |x|, sign restored
            F.lit(-2.0)
            * F.pow(F.lit(gamma), F.lit(_NEG_BASE) - bucket_col)
            / F.lit(gamma + 1)
        )
    )


def ddsketch_quantiles(
    sketch: DataFrame,
    group_cols: list[str],
    qs: list[float],
    out_cols: list[str] | None = None,
    n_col: str | None = None,
) -> DataFrame:
    """Several quantiles per group from ONE cumulative walk of the
    sketch (the multi-threshold shape rank_buckets' sketch route needs:
    CCNet terciles read q=1/3 and q=2/3 from the same sketch). One row
    per group with one value column per quantile; same per-quantile
    rule as :func:`ddsketch_quantile` (min bucket whose cumulative
    count exceeds floor(q*(n-1)), mid-bucket estimate), folded into a
    single aggregation via min(CASE WHEN cum > rank THEN bucket END)
    so the walk is paid once regardless of len(qs). ``n_col`` also
    emits the group's total count from the same walk (it is already
    computed for the rank thresholds) — callers that need n alongside
    quantiles (chq1's n_samples) avoid a separate aggregation+join."""
    if not qs:
        raise ValueError("ddsketch_quantiles: need at least one quantile")
    out_cols = out_cols or [f"q{i}" for i in range(len(qs))]
    if len(out_cols) != len(qs):
        raise ValueError("ddsketch_quantiles: len(out_cols) != len(qs)")
    gamma = gamma_for(DEFAULT_RELATIVE_ACCURACY)
    w = (
        Window.partitionBy(*group_cols)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    totals = Window.partitionBy(*group_cols)
    cum = (
        sketch.withColumn("cum", F.sum("count").over(w))
        .withColumn("n", F.sum("count").over(totals))
    )
    aggs = [
        F.min(
            F.when(
                F.col("cum") > F.floor(F.lit(q) * (F.col("n") - 1)),
                F.col("bucket"),
            )
        ).alias(f"_b{i}")
        for i, q in enumerate(qs)
    ]
    if n_col is not None:
        aggs.append(F.max("n").cast("long").alias(n_col))
    hit = cum.groupBy(*group_cols).agg(*aggs)
    return hit.select(
        *group_cols,
        *([n_col] if n_col is not None else []),
        *[
            _bucket_value(F.col(f"_b{i}"), gamma).alias(out_cols[i])
            for i in range(len(qs))
        ],
    )


def ddsketch_quantiles_sql(
    base_sql: str,
    group_cols: list[str],
    value_sql: str,
    qs: list[float],
    out_cols: list[str] | None = None,
) -> str:
    """DuckDB oracle twin of :func:`ddsketch_quantiles` — build +
    one-walk multi-quantile over ``base_sql`` rows."""
    if not qs:
        raise ValueError("ddsketch_quantiles_sql: need at least one quantile")
    out_cols = out_cols or [f"q{i}" for i in range(len(qs))]
    gamma = gamma_for(DEFAULT_RELATIVE_ACCURACY)
    keys = ", ".join(group_cols)
    b = bucket_index_sql(value_sql, gamma)
    hits = ",\n             ".join(
        # CAST: DuckDB parses the bare literal as exact DECIMAL, whose
        # product floors differently from the IEEE double Spark uses
        # whenever q*(n-1) is decimal-integral (1/3 * 69 = 22.99..97
        # decimal vs 23.0 double)
        f"min(CASE WHEN cum > floor(CAST({q!r} AS DOUBLE) * (n - 1))"
        f" THEN bucket END)"
        f" AS _b{i}"
        for i, q in enumerate(qs)
    )
    vals = ",\n           ".join(
        f"CASE WHEN _b{i} > {_ZERO_BUCKET}"
        f" THEN 2.0 * power({gamma!r}, _b{i}) / ({gamma!r} + 1)"
        f" WHEN _b{i} = {_ZERO_BUCKET} THEN 0.0"
        f" ELSE -2.0 * power({gamma!r}, {_NEG_BASE} - _b{i})"
        f" / ({gamma!r} + 1) END AS {out_cols[i]}"
        for i in range(len(qs))
    )
    return f"""
    WITH rows_b AS (
      SELECT {keys}, {b} AS bucket FROM ({base_sql})
      WHERE {value_sql} IS NOT NULL
    ),
    sk AS (
      SELECT {keys}, bucket, count(*) AS cnt FROM rows_b GROUP BY {keys}, bucket
    ),
    cum AS (
      SELECT {keys}, bucket,
             sum(cnt) OVER (PARTITION BY {keys} ORDER BY bucket
                            ROWS UNBOUNDED PRECEDING) AS cum,
             sum(cnt) OVER (PARTITION BY {keys}) AS n
      FROM sk
    ),
    hit AS (
      SELECT {keys},
             {hits}
      FROM cum GROUP BY {keys}
    )
    SELECT {keys},
           {vals}
    FROM hit
    """


def ddsketch_quantile_over_time(
    df: DataFrame,
    labels: list[str],
    range_ms: int,
    step_ms: int,
    q: float,
    ts_col: str = "chq_timestamp",
    value_col: str = "value",
) -> DataFrame:
    """Sliding-range quantile served from the DDSketch bucket algebra.

    The reference answers large-range quantiles by merging stored
    DDSketches per output bucket (promql/quantile_node.go:35-114,
    aggregator.go:83-217) — never by re-sorting raw samples. This is
    that plan, declaratively:

    1. build one sketch per (series, step bucket): groupBy count over
       log-bucketed values — the A1 ingest shape;
    2. each step-bucket sketch row contributes to every OCCUPIED output
       bucket of its series within the trailing range — an equi-join on
       the series labels against the series' own (distinct) step grid,
       range-filtered (the tumbling→sliding expansion);
    3. merge per output bucket: groupBy sum(count) — the DDSketch merge;
    4. quantile via the cumulative-count walk (:func:`ddsketch_quantile`).

    No per-row raw-value arrays anywhere (contrast the exact
    interpolated path, which flattens ``collect_list`` arrays and holds
    every raw sample of the trailing range in one row): state here is
    (series x step-buckets x occupied sketch buckets) rows, each O(1).

    The expansion is the series-grid join, NOT an ``explode`` over the
    ``sequence`` of all range/step trailing lattice points (the r11
    shape): both produce pairs (sketch row, T) with T on the step
    lattice and T - _bts in [0, (k-1)*step], but the explode emits
    every lattice T — including output buckets no sample of the series
    occupies — and a left-semi join against the occupied grid then
    discarded them AFTER the shuffle. On the high-cardinality series
    shape (bench fixture: ~200K series with ~1 sample each) that was
    120x pure waste — sf1: 24.1M exploded rows, 24.1M merged groups,
    ~200K survivors (OPTIMIZATION_r12.md). The join produces exactly
    the surviving multiset, so the result is identical row-for-row; the
    dense-series regime is unchanged (grid_s x in-range sketch rows =
    the surviving contribution volume either way).
    """
    gamma = gamma_for(DEFAULT_RELATIVE_ACCURACY)
    k = max(1, range_ms // step_ms)
    # NO spread_small_scan here (r12, measured): the log-bucket math is
    # cheap columnar compute and the groupBy's map-side partial
    # aggregation collapses rows BEFORE any shuffle — the probed spread
    # added a full-row exchange for nothing (pqs18 sf1 4.92 -> 9.22s,
    # tasks 15 -> 81, +13.6MB shuffle; the guide §2.3 class).
    rows = df.filter(F.col(value_col).isNotNull())
    bts = F.col(ts_col) - F.col(ts_col) % F.lit(step_ms)
    sk = (
        rows.select(
            bts.alias("_bts"), *labels, bucket_index(value_col, gamma).alias("bucket")
        )
        .groupBy("_bts", *labels, "bucket")
        .agg(F.count(F.lit(1)).alias("count"))
    )
    # occupied (bucket_ts, series) set comes from the ALREADY-AGGREGATED
    # sketch rows — identical set to a raw re-scan, orders of magnitude
    # smaller input
    actual = sk.select(F.col("_bts").alias("bucket_ts"), *labels).distinct()
    if labels:
        # banded interval join: joining on the labels alone would make
        # the sort-merge join compare |sk_s| x |grid_s| pairs per series
        # — quadratic for a DENSE low-cardinality-label series (the
        # logql stream-label route). Banding by window-width blocks
        # bounds the equi-group to the 1-2 blocks a contribution can
        # land in (a row spans two blocks only when its trailing window
        # crosses a boundary), so comparisons stay linear in the
        # surviving volume. Every valid (row, T) pair matches exactly
        # once — T's own block is within [b1, b2] — so the contribution
        # multiset is unchanged.
        span = k * step_ms
        sk_b = sk.withColumn(
            "_blk",
            F.explode(
                F.sequence(
                    F.expr(f"_bts div {span}"),
                    F.expr(f"(_bts + {(k - 1) * step_ms}) div {span}"),
                )
            ),
        )
        act_b = actual.withColumn("_blk", F.expr(f"bucket_ts div {span}"))
        contrib = (
            sk_b.join(act_b, [*labels, "_blk"])
            .filter(
                (F.col("bucket_ts") >= F.col("_bts"))
                & (
                    F.col("bucket_ts")
                    <= F.col("_bts") + F.lit((k - 1) * step_ms)
                )
            )
            .drop("_bts", "_blk")
        )
    else:
        # label-free series: the grid join would be a cartesian product;
        # keep the lattice explode + semi-join (one series, bounded grid)
        contrib = sk.withColumn(
            "bucket_ts",
            F.explode(
                F.sequence(
                    F.col("_bts"),
                    F.col("_bts") + F.lit((k - 1) * step_ms),
                    F.lit(step_ms),
                )
            ),
        ).drop("_bts").join(actual, ["bucket_ts"], "left_semi")
    merged = contrib.groupBy("bucket_ts", *labels, "bucket").agg(
        F.sum("count").alias("count")
    )
    return ddsketch_quantile(merged, ["bucket_ts", *labels], q)


def ddsketch_quantile_over_time_sql(
    base_sql: str,
    labels: list[str],
    range_ms: int,
    step_ms: int,
    q: float,
) -> str:
    """DuckDB oracle twin of :func:`ddsketch_quantile_over_time`."""
    gamma = gamma_for(DEFAULT_RELATIVE_ACCURACY)
    k = max(1, range_ms // step_ms)
    keys = ", ".join(labels)
    return f"""
    WITH rows_v AS (
      SELECT chq_timestamp - chq_timestamp % {step_ms} AS _bts, {keys}, value AS _v
      FROM ({base_sql}) WHERE value IS NOT NULL
    ),
    sk AS (
      SELECT _bts, {keys}, {bucket_index_sql('_v', gamma)} AS bucket,
             count(*) AS cnt
      FROM rows_v GROUP BY ALL
    ),
    contrib AS (
      SELECT _bts + o.off * {step_ms} AS bucket_ts, {keys}, bucket, cnt
      FROM sk CROSS JOIN (SELECT unnest(range(0, {k})) AS off) o
    ),
    actual AS (SELECT DISTINCT _bts AS bucket_ts, {keys} FROM sk),
    merged AS (
      SELECT c.bucket_ts, {', '.join('c.' + l for l in labels)}, c.bucket,
             sum(c.cnt) AS cnt
      FROM contrib c JOIN actual a USING (bucket_ts, {keys})
      GROUP BY ALL
    ),
    cum AS (
      SELECT bucket_ts, {keys}, bucket, cnt,
             sum(cnt) OVER (PARTITION BY bucket_ts, {keys} ORDER BY bucket
                            ROWS UNBOUNDED PRECEDING) AS cum,
             sum(cnt) OVER (PARTITION BY bucket_ts, {keys}) AS n
      FROM merged
    ),
    hit AS (
      SELECT bucket_ts, {keys}, min(bucket) AS bucket
      FROM cum WHERE cum > floor(CAST({q!r} AS DOUBLE) * (n - 1))
      GROUP BY ALL
    )
    SELECT bucket_ts, {keys},
           CASE WHEN bucket > {_ZERO_BUCKET}
                THEN 2.0 * power({gamma!r}, bucket) / ({gamma!r} + 1)
                WHEN bucket = {_ZERO_BUCKET} THEN 0.0
                ELSE -2.0 * power({gamma!r}, {_NEG_BASE} - bucket)
                     / ({gamma!r} + 1) END AS value
    FROM hit
    """


def with_sketch_column(
    df: DataFrame,
    group_cols: list[str],
) -> DataFrame:
    """Attach a map<bucket,count> DDSketch column per group — the
    engine's ``chq_sketch`` analogue as a TYPED column (no opaque
    bytes): rollup rows carry their distribution and coarser tiers
    merge exactly with :func:`merge_sketch_column`."""
    gamma = gamma_for(DEFAULT_RELATIVE_ACCURACY)
    per_bucket = (
        df.filter(F.col("value").isNotNull())  # sketches count values
        .withColumn("_b", bucket_index("value", gamma))
        .groupBy(*group_cols, "_b")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    return per_bucket.groupBy(*group_cols).agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("_b"), F.col("_c")))
        ).alias("chq_sketch")
    )


def merge_sketch_column(
    df: DataFrame,
    group_cols: list[str],
) -> DataFrame:
    """Merge map-typed sketches to a coarser grouping: explode entries,
    sum counts per bucket, re-assemble — exact DDSketch merge (A2's
    percentile path without raw rescans)."""
    exploded = df.select(
        *group_cols, F.explode(F.col("chq_sketch")).alias("_b", "_c")
    )
    summed = exploded.groupBy(*group_cols, "_b").agg(F.sum("_c").alias("_c"))
    return summed.groupBy(*group_cols).agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("_b"), F.col("_c")))
        ).alias("chq_sketch")
    )


def sketch_column_quantile(
    df: DataFrame,
    group_cols: list[str],
    q: float,
) -> DataFrame:
    """Quantile from a map-typed sketch column."""
    rows = df.select(
        *group_cols, F.explode(F.col("chq_sketch")).alias("bucket", "count")
    )
    return ddsketch_quantile(rows, group_cols, q)


def ddsketch_quantile_sql(
    base_sql: str,
    group_cols: list[str],
    value_sql: str,
    q: float,
    out_col: str = "value",
) -> str:
    """DuckDB oracle for build+quantile over ``base_sql`` rows."""
    gamma = gamma_for(DEFAULT_RELATIVE_ACCURACY)
    keys = ", ".join(group_cols)
    b = bucket_index_sql(value_sql, gamma)
    return f"""
    WITH rows_b AS (
      SELECT {keys}, {b} AS bucket FROM ({base_sql})
      WHERE {value_sql} IS NOT NULL
    ),
    sk AS (
      SELECT {keys}, bucket, count(*) AS cnt FROM rows_b GROUP BY {keys}, bucket
    ),
    cum AS (
      SELECT {keys}, bucket, cnt,
             sum(cnt) OVER (PARTITION BY {keys} ORDER BY bucket
                            ROWS UNBOUNDED PRECEDING) AS cum,
             sum(cnt) OVER (PARTITION BY {keys}) AS n
      FROM sk
    ),
    hit AS (
      SELECT {keys}, min(bucket) AS bucket
      FROM cum WHERE cum > floor(CAST({q!r} AS DOUBLE) * (n - 1))
      GROUP BY {keys}
    )
    SELECT {keys},
           CASE WHEN bucket > {_ZERO_BUCKET}
                THEN 2.0 * power({gamma!r}, bucket) / ({gamma!r} + 1)
                WHEN bucket = {_ZERO_BUCKET} THEN 0.0
                ELSE -2.0 * power({gamma!r}, {_NEG_BASE} - bucket)
                     / ({gamma!r} + 1) END AS {out_col}
    FROM hit
    """
