"""Prometheus native histograms as declarative bucket algebra (F13 ext).

Native histograms (Prometheus 2.40+, stable in 3.x) replace fixed
``le``-bucket series with exponential buckets: at ``schema`` s the base
is gamma = 2^(2^-s) and bucket i covers (gamma^(i-1), gamma^i] — double
resolution per +1 schema step. The reference engine has no native-
histogram evaluator (its histogram_quantile serves raw-sample
distributions, promql/quantile_node.go:35-114); this module is the
engine's extension, built on the SAME mergeable rows-of-(bucket, count)
contract the DDSketch path uses (operators/ddsketch.py, X1/A5) — a
native histogram IS a DDSketch with gamma pinned to 2^(2^-s), plus the
carried ``count``/``sum`` fields the PromQL accessor functions expose.

Representation: one row per (group..., bucket) with an integer count —
build is groupBy-count, merge is groupBy-sum (associative, tier-safe),
and both engines reproduce bucket indexes bit-for-bit for generic
doubles, so the DuckDB oracles are exact. (The one caveat, fuzz-proven
in tests/test_native_histogram.py: a value lying within an ulp of an
EXACT bucket boundary — x = gamma^i as a floating-point double — may
index one bucket apart across engines because JVM and libm ln()
disagree in the final ulp precisely there. Measure-zero inputs; the
divergence is bounded to ±1 bucket and asserted as such.) ``count``/``sum``/``avg`` come from a plain
companion aggregation over the same scan (upstream stores them as
histogram fields; an engine that builds histograms from raw samples
aggregates them alongside).

Function semantics follow prometheus/model/histogram + promql quantile:

- histogram_count / histogram_sum / histogram_avg: the carried fields
  (count is ALSO derivable as the bucket-row sum — the build test
  asserts the two agree, which is what makes merge trustworthy).
- histogram_quantile(q, h): rank = q * count; first bucket whose
  cumulative count reaches the rank, EXPONENTIAL interpolation inside
  the bucket — Prometheus 3.x (PR #14677) interpolates standard
  exponential buckets in log space (value = gamma^(i-1+frac) for a
  positive bucket, mirrored for negative), reserving linear
  interpolation for custom-bucket histograms, which this module never
  builds. q < 0 -> -Inf, q > 1 -> +Inf, NaN -> NaN. The zero bucket
  here holds exact zeros only (build-side; no zero_threshold
  widening), so a rank landing in it yields 0.0.
- histogram_fraction(lo, hi, h): sum over buckets of count * (overlap
  of [lo, hi] with the bucket, measured in LOG space — the same
  PR #14677 exponential-interpolation contract), divided by count.
  lo > hi -> 0; (-Inf, +Inf) -> 1. The overlap is computed in bucket-
  exponent coordinates (clamp(log_gamma(bound), i-1, i)) with the
  bound logs evaluated in PYTHON and planted as literals, so neither
  engine evaluates a per-row transcendental and the DuckDB twin is
  bit-exact by construction.
- histogram_stddev / histogram_stdvar: observations sit at the
  bucket's GEOMETRIC midpoint sqrt(lower*upper) = gamma^(i-0.5)
  (upstream for standard exponential buckets; the arithmetic midpoint
  applies only to custom buckets), 0 for the zero bucket, mirrored
  negative for the negative store.
- Cross-schema merge: same-schema histograms merge by bucket-count
  addition; mixed schemas first DOWNSCALE to the coarsest schema in
  the group — bucket i at schema s maps to ceil(i / 2^k) at s-k
  (upstream model/histogram reduceResolution), which commutes with
  the build (ceil(ceil(x)/2) = ceil(x/2)) so a downscaled-then-merged
  histogram equals one built directly at the coarse schema.

Negative observations live in a mirrored negative store exactly as in
DDSketch (index ordering keeps one cumulative walk correct over
mixed-sign data).

At 100 TB: identical scale story to the DDSketch path — state is
(groups x occupied buckets) rows, build/merge are single-shuffle
partial aggregations, quantile/fraction are window/agg passes over
post-aggregation sketch rows (a few hundred per group at schema 3
across 9 decades), never over raw samples.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from lakerunner_spark.operators.ddsketch import _NEG_BASE, _ZERO_BUCKET

DEFAULT_SCHEMA = 3  # gamma = 2^(1/8) ~ 1.0905, ~4.3% bucket width


def gamma_for_schema(schema: int) -> float:
    if not -4 <= schema <= 8:
        raise ValueError(f"native histogram schema out of range: {schema}")
    return 2.0 ** (2.0 ** -schema)


def _logg(x: float, gamma: float) -> float:
    """log_gamma(x) for a NON-NEGATIVE plan-time bound: 0 -> -inf,
    +inf -> +inf. Evaluated in Python so the result lands in both
    engines as the same literal."""
    if x <= 0.0:
        return float("-inf")
    if math.isinf(x):
        return float("inf")
    return math.log(x) / math.log(gamma)


def nh_bucket_index(value, gamma: float) -> Column:
    """ceil(log_gamma(x)) positive store; mirrored negative store;
    reserved zero bucket — same index layout as DDSketch so one
    cumulative walk spans mixed signs."""
    c = F.col(value) if isinstance(value, str) else value
    lg = math.log(gamma)
    return (
        F.when(c > 0, F.ceil(F.log(c) / F.lit(lg)).cast("long"))
        .when(c == 0, F.lit(_ZERO_BUCKET))
        .otherwise(
            F.lit(_NEG_BASE) - F.ceil(F.log(-c) / F.lit(lg)).cast("long")
        )
    )


def nh_bucket_index_sql(value_sql: str, gamma: float) -> str:
    lg = repr(math.log(gamma))
    return (
        f"CASE WHEN {value_sql} > 0"
        f" THEN CAST(ceil(ln({value_sql}) / {lg}) AS BIGINT)"
        f" WHEN {value_sql} = 0 THEN {_ZERO_BUCKET}"
        f" ELSE {_NEG_BASE} - CAST(ceil(ln(-({value_sql})) / {lg}) AS BIGINT)"
        f" END"
    )


def native_histogram_agg(
    df: DataFrame,
    group_cols: list[str],
    value_col: str = "value",
    schema: int = DEFAULT_SCHEMA,
) -> DataFrame:
    """Build per-group native histograms: (group..., bucket, count)
    rows plus the carried fields as (group..., h_count, h_sum) — one
    scan, two partial aggregations. Returns the BUCKET rows; call
    :func:`native_histogram_stats` on the same input for the fields."""
    gamma = gamma_for_schema(schema)
    return (
        df.filter(F.col(value_col).isNotNull())
        .withColumn("bucket", nh_bucket_index(value_col, gamma))
        .groupBy(*group_cols, "bucket")
        .agg(F.count(F.lit(1)).alias("count"))
    )


def native_histogram_merge(df: DataFrame, group_cols: list[str]) -> DataFrame:
    """Merge same-schema histograms to a coarser grouping (counts add
    per bucket — associative and order-free, the rollup-tier
    contract). Mixed schemas must go through
    :func:`native_histogram_merge_mixed` first."""
    return df.groupBy(*group_cols, "bucket").agg(F.sum("count").alias("count"))


def _downscaled_bucket(bucket: Column, k: Column) -> Column:
    """Map a bucket index down ``k`` schema steps: ceil(i / 2^k) on the
    positive store, mirrored on the negative store, zero bucket fixed
    (upstream model/histogram reduceResolution). 2^k and the sums stay
    exact in doubles for every legal index (|i| < 2^21 at schema 8),
    so the floor form is integer-exact and has a character-identical
    DuckDB twin."""
    two_k = F.pow(F.lit(2.0), k.cast("double"))

    def up(i: Column) -> Column:  # ceil(i / 2^k) for integer i
        return F.floor((i + two_k - 1) / two_k).cast("long")

    j = F.lit(_NEG_BASE) - bucket
    return (
        F.when(bucket == _ZERO_BUCKET, bucket)
        .when(bucket > _ZERO_BUCKET, up(bucket))
        .otherwise(F.lit(_NEG_BASE) - up(j))
    )


def nh_downscale(
    df: DataFrame, group_cols: list[str], steps: int
) -> DataFrame:
    """Re-bucket histogram rows ``steps`` schemas coarser (gamma ->
    gamma^(2^steps)) and re-sum counts: bucket i maps to ceil(i/2^k).
    Commutes with the build — downscaling a schema-s histogram equals
    building at schema s-steps directly — which is what makes
    mixed-schema merge (below) well-defined."""
    if steps < 0:
        raise ValueError(f"nh_downscale: steps must be >= 0, got {steps}")
    if steps == 0:
        return df
    mapped = df.withColumn(
        "bucket", _downscaled_bucket(F.col("bucket"), F.lit(steps))
    )
    return mapped.groupBy(*group_cols, "bucket").agg(
        F.sum("count").alias("count")
    )


def native_histogram_merge_mixed(
    df: DataFrame,
    group_cols: list[str],
    target_schema: int | None = None,
) -> DataFrame:
    """Merge bucket rows whose per-row ``schema`` may differ within
    a group: resolve each group to its COARSEST schema (upstream
    merges mixed-schema series by reducing resolution to the lowest
    schema present), downscale every row by its own schema gap, and
    sum counts per target bucket. Returns (group..., schema, bucket,
    count) at the resolved schema.

    ``target_schema`` pins EVERY group to one schema instead of the
    per-group min — the right mode when a downstream evaluation
    hardcodes its gamma (a per-group min leaves a group whose series
    are all finer at that finer schema, and evaluating those buckets
    with the coarser gamma silently squares the value scale). Rows
    finer than the target downscale; a row COARSER than the target
    cannot be refined and raises.

    Scale: the per-group target table is one row per group — bounded
    by group cardinality, joined back UNhinted (AQE broadcasts it when
    small, the ds8/dd10 rule) — and the re-bucketing is a map-side
    expression; the only corpus-sized shuffle is the final partial-agg
    groupBy, same as the same-schema merge. With ``target_schema`` the
    join disappears entirely (the gap is a per-row expression)."""
    if target_schema is not None:
        k = (F.col("schema") - F.lit(target_schema)).cast("int")
        mapped = df.withColumn(
            "bucket",
            F.when(
                F.col("schema") < target_schema,
                F.raise_error(
                    F.concat(
                        F.lit(
                            "native_histogram_merge_mixed: row schema "
                        ),
                        F.col("schema").cast("string"),
                        F.lit(f" is coarser than target {target_schema}"),
                    )
                ).cast("long"),
            ).otherwise(_downscaled_bucket(F.col("bucket"), k)),
        )
        return (
            mapped.groupBy(
                *group_cols,
                F.lit(target_schema).alias("schema"),
                "bucket",
            )
            .agg(F.sum("count").alias("count"))
        )
    tgt = df.groupBy(*group_cols).agg(F.min("schema").alias("_tgt"))
    j = df.join(tgt, group_cols)
    k = (F.col("schema") - F.col("_tgt")).cast("int")
    return (
        j.withColumn("bucket", _downscaled_bucket(F.col("bucket"), k))
        .groupBy(*group_cols, F.col("_tgt").alias("schema"), "bucket")
        .agg(F.sum("count").alias("count"))
    )


def native_histogram_stats(
    df: DataFrame,
    group_cols: list[str],
    value_col: str = "value",
) -> DataFrame:
    """The carried count/sum fields (+ avg): histogram_count,
    histogram_sum, histogram_avg accessors in one aggregation."""
    c = F.col(value_col)
    return (
        df.filter(c.isNotNull())
        .groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("h_count"),
            F.sum(c).alias("h_sum"),
            (F.sum(c) / F.count(F.lit(1))).alias("h_avg"),
        )
    )



def histogram_quantile_native(
    sketch: DataFrame,
    group_cols: list[str],
    q: float,
    schema: int = DEFAULT_SCHEMA,
) -> DataFrame:
    """Native-histogram quantile per group from bucket rows.

    rank = q * count; the answer interpolates EXPONENTIALLY inside the
    first bucket whose cumulative count reaches the rank — Prometheus
    3.x (PR #14677) interpolates standard exponential buckets in log
    space: a positive bucket yields gamma^(i-1+frac) (frac=0 is the
    lower bound, frac=1 the upper), a negative bucket mirrors to
    -gamma^(j-frac). Linear interpolation survives upstream only for
    custom-bucket histograms, which this module never builds. q
    outside [0, 1] follows upstream: -Inf / +Inf; NaN propagates."""
    if math.isnan(q):
        return sketch.groupBy(*group_cols).agg(
            F.lit(float("nan")).alias("value")
        )
    if q < 0:
        return sketch.groupBy(*group_cols).agg(
            F.lit(float("-inf")).alias("value")
        )
    if q > 1:
        return sketch.groupBy(*group_cols).agg(
            F.lit(float("inf")).alias("value")
        )
    gamma = gamma_for_schema(schema)
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
    rank = F.lit(q) * F.col("n")
    # first bucket whose cumulative count reaches the rank (ties at
    # rank==cum resolve INTO the bucket, matching upstream's >=); the
    # q==0 edge needs its own filter — rank 0 satisfies pcum < rank
    # nowhere — and lands on the first occupied bucket's lower bound.
    # Occupied buckets have count >= 1, so cum is strictly increasing
    # and exactly one row per group survives — no dedupe pass needed.
    cum = cum.withColumn("pcum", F.col("cum") - F.col("count"))
    if q == 0:
        first = cum.filter(F.col("pcum") == 0)
    else:
        first = cum.filter((F.col("cum") >= rank) & (F.col("pcum") < rank))
    frac = (rank - F.col("pcum")) / F.col("count")
    b = F.col("bucket")
    value = (
        F.when(b == _ZERO_BUCKET, F.lit(0.0))
        .when(b > _ZERO_BUCKET, F.pow(F.lit(gamma), b - 1 + frac))
        .otherwise(-F.pow(F.lit(gamma), (F.lit(_NEG_BASE) - b) - frac))
    )
    return first.select(*group_cols, value.alias("value"))


def histogram_fraction(
    sketch: DataFrame,
    group_cols: list[str],
    lo: float,
    hi: float,
    out_col: str = "fraction",
) -> DataFrame:
    """Estimated fraction of observations in [lo, hi] per group
    (upstream histogramFraction, Prometheus 3.x): each bucket
    contributes its count scaled by the EXPONENTIAL (log-space)
    overlap of [lo, hi] with its bounds — PR #14677's interpolation
    contract for standard exponential buckets; the zero bucket (exact
    zeros here) contributes fully iff lo <= 0 <= hi. lo > hi yields 0
    (upstream returns 0 for inverted bounds).

    The overlap is computed in bucket-exponent coordinates: a point x
    inside positive bucket i sits at log_gamma(x) in [i-1, i], so the
    covered fraction is clamp(log_gamma(hi)) - clamp(log_gamma(lo)).
    The bound logs are Python-evaluated literals — no per-row
    transcendental, so the DuckDB twin is arithmetic-identical."""
    if math.isnan(lo) or math.isnan(hi):
        return sketch.groupBy(*group_cols).agg(
            F.lit(float("nan")).alias(out_col)
        )
    gamma = gamma_for_schema(DEFAULT_SCHEMA)
    if lo > hi:
        overlap = F.lit(0.0)
    else:
        zero_in = 1.0 if (lo <= 0.0 <= hi) else 0.0
        b = F.col("bucket")

        def clamp(x: float, lo_i: Column, hi_i: Column) -> Column:
            if x == float("inf"):
                return hi_i
            if x == float("-inf"):
                return lo_i
            return F.greatest(lo_i, F.least(hi_i, F.lit(x)))

        bd = b.cast("double")
        pos = clamp(_logg(hi, gamma), bd - 1, bd) - clamp(
            _logg(max(lo, 0.0), gamma), bd - 1, bd
        )
        jd = (F.lit(_NEG_BASE) - b).cast("double")
        neg = clamp(
            _logg(-lo, gamma) if lo < 0 else float("-inf"), jd - 1, jd
        ) - clamp(
            _logg(-hi, gamma) if hi < 0 else float("-inf"), jd - 1, jd
        )
        overlap = (
            F.when(b == _ZERO_BUCKET, F.lit(zero_in))
            .when(b > _ZERO_BUCKET, pos)
            .otherwise(neg)
        )
    agg = sketch.groupBy(*group_cols).agg(
        F.sum(F.col("count") * overlap).alias("_in"),
        F.sum("count").alias("_n"),
    )
    return agg.select(
        *group_cols, (F.col("_in") / F.col("_n")).alias(out_col)
    )


# ---------------------------- DuckDB twins ----------------------------------



def downscaled_bucket_sql(bucket_sql: str, steps: int) -> str:
    """DuckDB twin of :func:`_downscaled_bucket` for a CONSTANT step
    count: same zero/negative-store handling, same floor form (2^k and
    the sums are double-exact for every legal index)."""
    two_k = f"power(2.0, {float(steps)!r})"
    b = f"({bucket_sql})"

    def up(i: str) -> str:
        return f"CAST(floor(({i} + {two_k} - 1) / {two_k}) AS BIGINT)"

    return (
        f"CASE WHEN {b} = {_ZERO_BUCKET} THEN {b}"
        f" WHEN {b} > {_ZERO_BUCKET} THEN {up(b)}"
        f" ELSE {_NEG_BASE} - {up(f'{_NEG_BASE} - {b}')} END"
    )


def native_histogram_quantile_from_rows_sql(
    rows_sql: str,
    group_cols: list[str],
    q: float,
    schema: int = DEFAULT_SCHEMA,
) -> str:
    """Native quantile over a query producing one row per OBSERVATION
    as (group..., bucket) — the seam that lets oracles feed
    downscaled / mixed-schema bucket streams into the same cumulative
    walk :func:`native_histogram_quantile_sql` uses."""
    gamma = gamma_for_schema(schema)
    keys = ", ".join(group_cols)
    return f"""
    WITH rows_b AS ({rows_sql}),
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
      SELECT {keys}, bucket, cnt, cum - cnt AS pcum, {q} * n AS rank
      FROM cum
      WHERE {"cum - cnt = 0" if q == 0
             else f"cum >= {q} * n AND cum - cnt < {q} * n"}
    )
    SELECT {keys},
           CASE WHEN bucket = {_ZERO_BUCKET} THEN 0.0
                WHEN bucket > {_ZERO_BUCKET}
                  THEN power({gamma!r}, bucket - 1 + ((rank - pcum) / cnt))
                ELSE -power({gamma!r},
                            ({_NEG_BASE} - bucket) - ((rank - pcum) / cnt))
           END AS value
    FROM hit
    """


def native_histogram_quantile_sql(
    base_sql: str,
    group_cols: list[str],
    value_sql: str,
    q: float,
) -> str:
    """DuckDB oracle for build + native quantile over ``base_sql``."""
    gamma = gamma_for_schema(DEFAULT_SCHEMA)
    keys = ", ".join(group_cols)
    b = nh_bucket_index_sql(value_sql, gamma)
    rows = (
        f"SELECT {keys}, {b} AS bucket FROM ({base_sql})"
        f" WHERE {value_sql} IS NOT NULL"
    )
    return native_histogram_quantile_from_rows_sql(rows, group_cols, q)


def histogram_fraction_sql(
    base_sql: str,
    group_cols: list[str],
    value_sql: str,
    lo: float,
    hi: float,
    out_col: str = "fraction",
) -> str:
    """DuckDB oracle for build + fraction-in-[lo, hi] over ``base_sql``
    (exponential overlap, arithmetic-identical to
    :func:`histogram_fraction` — same clamp form, same Python-literal
    bound logs)."""
    gamma = gamma_for_schema(DEFAULT_SCHEMA)
    keys = ", ".join(group_cols)
    b = nh_bucket_index_sql(value_sql, gamma)
    if lo > hi:
        overlap = "0.0"
    else:
        zero_in = "1.0" if (lo <= 0.0 <= hi) else "0.0"

        def clamp(x: float, lo_i: str, hi_i: str) -> str:
            # parenthesized: results are SUBTRACTION operands below
            if x == float("inf"):
                return f"({hi_i})"
            if x == float("-inf"):
                return f"({lo_i})"
            return f"greatest({lo_i}, least({hi_i}, {x!r}))"

        bd = "CAST(bucket AS DOUBLE)"
        pos = (
            f"({clamp(_logg(hi, gamma), f'{bd} - 1', bd)}"
            f" - {clamp(_logg(max(lo, 0.0), gamma), f'{bd} - 1', bd)})"
        )
        jd = f"CAST({_NEG_BASE} - bucket AS DOUBLE)"
        nhi = _logg(-lo, gamma) if lo < 0 else float("-inf")
        nlo = _logg(-hi, gamma) if hi < 0 else float("-inf")
        neg = (
            f"({clamp(nhi, f'{jd} - 1', jd)}"
            f" - {clamp(nlo, f'{jd} - 1', jd)})"
        )
        overlap = (
            f"CASE WHEN bucket = {_ZERO_BUCKET} THEN {zero_in}"
            f" WHEN bucket > {_ZERO_BUCKET} THEN {pos}"
            f" ELSE {neg} END"
        )
    return f"""
    WITH rows_b AS (
      SELECT {keys}, {b} AS bucket FROM ({base_sql})
      WHERE {value_sql} IS NOT NULL
    ),
    sk AS (
      SELECT {keys}, bucket, count(*) AS cnt FROM rows_b GROUP BY {keys}, bucket
    )
    SELECT {keys}, sum(cnt * ({overlap})) / sum(cnt) AS {out_col}
    FROM sk GROUP BY {keys}
    """


def histogram_stddev_stdvar(
    sketch: DataFrame,
    stats: DataFrame,
    group_cols: list[str],
) -> DataFrame:
    """histogram_stddev / histogram_stdvar (upstream funcHistogramStdDev/
    StdVar): every observation in a bucket is assumed at the bucket's
    GEOMETRIC midpoint sqrt(lower*upper) = gamma^(i-0.5) — upstream's
    rule for standard exponential buckets (the arithmetic midpoint
    survives only for custom buckets); the zero bucket sits at 0 and
    negative buckets mirror to -gamma^(j-0.5). The variance is the
    count-weighted squared deviation from the TRUE mean (the carried
    sum/count, not a bucket estimate):

        variance = sum_b count_b * (gamma^(i_b - 0.5) - sum/count)^2
                   / count

    Returns (group..., h_stdvar, h_stddev). Joins the one-row-per-group
    stats table back to the bucket rows — the join side is bounded by
    group cardinality, never corpus rows."""
    gamma = gamma_for_schema(DEFAULT_SCHEMA)
    b = F.col("bucket")
    mid = (
        F.when(b == _ZERO_BUCKET, F.lit(0.0))
        .when(b > _ZERO_BUCKET, F.pow(F.lit(gamma), b.cast("double") - 0.5))
        .otherwise(-F.pow(F.lit(gamma), (F.lit(_NEG_BASE) - b).cast("double") - 0.5))
    )
    j = sketch.join(stats.select(*group_cols, "h_count", "h_sum"), group_cols)
    delta = mid - F.col("h_sum") / F.col("h_count")
    agg = j.groupBy(*group_cols).agg(
        (F.sum(F.col("count") * delta * delta) / F.max("h_count")).alias(
            "h_stdvar"
        )
    )
    return agg.withColumn("h_stddev", F.sqrt(F.col("h_stdvar")))


def histogram_stddev_sql(
    base_sql: str,
    group_cols: list[str],
    value_sql: str,
) -> str:
    """DuckDB oracle: build + stddev/stdvar over ``base_sql`` rows
    (geometric midpoint, arithmetic-identical to
    :func:`histogram_stddev_stdvar`)."""
    gamma = gamma_for_schema(DEFAULT_SCHEMA)
    keys = ", ".join(group_cols)
    b = nh_bucket_index_sql(value_sql, gamma)
    mid = (
        f"CASE WHEN bucket = {_ZERO_BUCKET} THEN 0.0"
        f" WHEN bucket > {_ZERO_BUCKET}"
        f" THEN power({gamma!r}, CAST(bucket AS DOUBLE) - 0.5)"
        f" ELSE -power({gamma!r},"
        f" CAST({_NEG_BASE} - bucket AS DOUBLE) - 0.5) END"
    )
    return f"""
    WITH rows_b AS (
      SELECT {keys}, {b} AS bucket, {value_sql} AS v FROM ({base_sql})
      WHERE {value_sql} IS NOT NULL
    ),
    sk AS (
      SELECT {keys}, bucket, count(*) AS cnt FROM rows_b GROUP BY {keys}, bucket
    ),
    st AS (
      SELECT {keys}, count(*) AS n, sum(v) AS s FROM rows_b GROUP BY {keys}
    ),
    dv AS (
      SELECT sk.*, st.n, ({mid}) - st.s / st.n AS delta
      FROM sk JOIN st USING ({keys})
    ),
    var AS (
      SELECT {keys}, sum(cnt * delta * delta) / max(n) AS h_stdvar
      FROM dv GROUP BY {keys}
    )
    SELECT {keys}, h_stdvar, sqrt(h_stdvar) AS h_stddev FROM var
    """
