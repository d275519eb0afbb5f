"""PromQL AST -> DataFrame compiler.

Replaces the reference's exec planner + eval-node tree + worker SQL
generator (promql/exec_planner.go:116-385, promql/sql_builder.go,
promql/*_node.go) with one declarative DataFrame plan per query:

    leaf selector -> matcher filters (P4) -> step aggregation (A3)
      -> range window (A9) -> node tree (A7/A8/J1-J5/F9-F11) -> result

Catalyst handles what the reference hand-builds: predicate pushdown into
the scan, partial aggregation, join strategy (broadcast for the tiny
aggregated sides), and shuffle planning. There are no process
boundaries — worker partials and the API-side merge (A17) are Spark's
partial/final HashAggregate pair.

Instant-vector semantics: a bare selector yields the bucket's average
(sum/count), matching the reference's last_over_time approximation of
"current value" over pre-aggregated buckets (promql/leaf_node.go:346-356).

Scale notes (100 TB): every leaf shuffles ONCE on (bucket_ts, labels)
to series resolution; all node-tree operators then run on
series×buckets rows (orders of magnitude smaller), where Catalyst/AQE
broadcast-joins the tiny sides. The range window re-uses the series
partitioning (partitionBy ⊂ groupBy keys).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lakerunner_spark.functions.regexops import expand_replacement, java_pattern
from lakerunner_spark.functions.timeops import bucket_ts
from lakerunner_spark.logql import stages
from lakerunner_spark.operators.binary import (
    vector_and,
    vector_match,
    vector_or,
    vector_scalar,
    vector_unless,
)
from lakerunner_spark.operators.density import (
    QUANTILE_EXACT_MAX_SAMPLES,
    exact_too_dense,
    quantile_over_time,
)
from lakerunner_spark.operators.range_agg import (
    SPARSE_FUNCS,
    range_agg,
    range_agg_sparse,
)
from lakerunner_spark.operators.step_agg import step_agg, step_agg_raw
from lakerunner_spark.operators.vector_agg import bottomk, topk, vector_agg
from lakerunner_spark.promql import parser as ast
from lakerunner_spark.promql.parser import parse_promql

# ---------------------------------------------------------------------------
# Catalog: metric name -> leaf table
# ---------------------------------------------------------------------------


@dataclass
class LeafSource:
    """A queryable metric: raw samples OR pre-aggregated rollup rows.

    ``df`` must expose ``ts_col`` (epoch ms), the ``labels`` columns,
    and either ``value_col`` (raw) or the ``chq_rollup_{sum,count,min,
    max}`` columns (``pre_aggregated=True`` — a rollup tier from the
    cooked layout; step aggregation then composes partials with
    sum/sum/min/max exactly like A3 over worker rollups). Matchers may
    also reference label columns not listed in ``labels`` (they filter
    but don't group). quantile_over_time/histogram_quantile need raw
    samples and reject pre-aggregated sources.
    """

    df: DataFrame
    labels: list[str]
    value_col: str = "value"
    ts_col: str = "chq_timestamp"
    pre_aggregated: bool = False
    # bucket cadence of a pre-aggregated tier (ms). When coarser than
    # the query step, range functions switch to the sparse-cadence
    # semantics (leaf_node.go inferSpanMs) instead of the fixed frame.
    frequency_ms: int | None = None


class MetricCatalog:
    """metric name -> LeafSource (the segment-index lookup, J6/§3.1 step 4)."""

    def __init__(self, sources: dict[str, LeafSource]):
        self._sources = sources

    def resolve(self, metric: str) -> LeafSource:
        if metric not in self._sources:
            raise KeyError(f"unknown metric: {metric!r}")
        return self._sources[metric]


def step_for_duration(span_ms: int) -> int:
    """The reference's step ladder (queryapi/dates.go:23-42)."""
    if span_ms <= 65 * 60_000:
        return 10_000
    if span_ms <= 12 * 3_600_000:
        return 60_000
    if span_ms <= 24 * 3_600_000:
        return 300_000
    if span_ms <= 3 * 86_400_000:
        return 1_200_000
    return 3_600_000


# ---------------------------------------------------------------------------
# Compiler
# ---------------------------------------------------------------------------


@dataclass
class _Vec:
    """A compiled vector: (bucket_ts, *labels, value)."""

    df: DataFrame
    labels: list[str]


class _TimeScalar:
    """``time()`` (and scalar expressions containing it): a PromQL
    SCALAR whose value is the evaluation timestamp in seconds — it
    varies per bucket but carries no labels, so it must NOT become a
    vector (``time() - m`` keeps m's labels, unlike vector matching).
    ``build`` maps the bucket_ts Column (ms) to the expression's value
    Column; scalar arithmetic composes builds, and vector⋈time ops
    inline the built column through the Column-aware vector_scalar."""

    def __init__(self, build=None):
        self.build = build or (
            lambda ts: ts.cast("double") / F.lit(1000.0)
        )


# Prometheus date/time component functions (all UTC; the session
# timezone is pinned to UTC in lakerunner_spark.session). Input is a
# unix-seconds value, truncated to whole seconds like Go's
# time.Unix(int64(v), 0); Spark dayofweek is 1=Sunday..7, Prometheus
# wants 0=Sunday..6.
_DATE_COLS = {
    "minute": F.minute,
    "hour": F.hour,
    "day_of_week": lambda t: F.dayofweek(t) - 1,
    "day_of_month": F.dayofmonth,
    "day_of_year": F.dayofyear,
    "days_in_month": lambda t: F.dayofmonth(F.last_day(t)),
    "month": F.month,
    "year": F.year,
}


def _date_component(fn: str, seconds: Column) -> Column:
    ts = F.timestamp_seconds(seconds.cast("long"))
    return _DATE_COLS[fn](ts).cast("double")


def _go_log(logfn):
    """Go math.Log semantics: log(0) = -Inf, log(<0) = NaN. Spark's
    log/log2/log10 return NULL for non-positive input, which would read
    as an ABSENT sample downstream — wrong for Prometheus conformance
    (functions.test expects -Inf/NaN values, not dropped series)."""

    def wrapped(c):
        # NULL (absent sample) propagates as NULL — only real values
        # map to the -Inf/NaN domain results
        return F.when(
            c.isNotNull(),
            F.when(c > 0, logfn(c))
            .when(c == 0, F.lit(float("-inf")))
            .otherwise(F.lit(float("nan"))),
        )

    return wrapped


_UNARY_COLS = {
    "abs": F.abs,
    "ceil": F.ceil,
    "floor": F.floor,
    "exp": F.exp,
    "ln": _go_log(F.log),
    "log2": _go_log(F.log2),
    "log10": _go_log(F.log10),
    "sqrt": F.sqrt,
    "sgn": F.signum,
    # extensions beyond the reference: Prometheus trig / hyperbolic /
    # angle functions, all JVM-side builtins (java.lang.Math semantics
    # — out-of-domain inputs yield NaN, matching Go's math package)
    "sin": F.sin,
    "cos": F.cos,
    "tan": F.tan,
    "asin": F.asin,
    "acos": F.acos,
    "atan": F.atan,
    "sinh": F.sinh,
    "cosh": F.cosh,
    "tanh": F.tanh,
    "asinh": F.asinh,
    "acosh": F.acosh,
    "atanh": F.atanh,
    "deg": F.degrees,
    "rad": F.radians,
}


class _Compiler:
    def __init__(
        self,
        catalog: MetricCatalog,
        step_ms: int,
        start_ms: int | None,
        end_ms: int | None,
        push_grouping: bool = False,
    ):
        self.catalog = catalog
        self.step = step_ms
        self.start = start_ms
        self.end = end_ms
        self.push_grouping = push_grouping
        # leaf dedup (promql/exec_planner.go:387-459 dedupeBaseExprs):
        # identical selectors return the SAME DataFrame object, so Spark
        # reuses the exchange/subquery for the shared scan+aggregation
        self._leaf_memo: dict[tuple, tuple[DataFrame, LeafSource]] = {}
        self._instant_memo: dict[tuple, _Vec] = {}

    @staticmethod
    def _sel_key(sel: ast.Selector) -> tuple:
        return (
            sel.metric,
            tuple((m.label, m.op, m.value) for m in sel.matchers),
            sel.range_ms,
            sel.offset_ms,
            sel.at_ms,
        )

    def _resolve_at(self, sel: ast.Selector) -> int | None:
        """`@` modifier -> pinned evaluation time in ms (None = unset).

        start()/end() resolve against the explicit query window;
        @ end() pins at the last grid bucket (the window is
        right-open)."""
        if sel.at_ms is None:
            return None
        if sel.at_ms in ("start", "end"):
            if self.start is None or self.end is None:
                raise ValueError(
                    "promql: @ start()/end() need an explicit query window"
                )
            return self.start if sel.at_ms == "start" else self.end - 1
        return sel.at_ms

    def _grid_expand(self, df: DataFrame, labels: list[str], at_bucket: int) -> DataFrame:
        """Broadcast the pinned bucket's vector to every output step —
        an explode over the grid sequence (Generate; no join, so no
        cartesian in the plan)."""
        if self.start is None or self.end is None:
            raise ValueError(
                "promql: the @ modifier needs an explicit query window "
                "(start/end) to define the output grid"
            )
        g0 = self.start - self.start % self.step
        g1 = (self.end - 1) - (self.end - 1) % self.step
        seq = F.explode(
            F.expr(f"sequence({g0}L, {g1}L, {self.step}L)")
        ).alias("bucket_ts")
        return df.filter(F.col("bucket_ts") == at_bucket).select(
            seq, *labels, "value"
        )

    # -- leaves ------------------------------------------------------------

    def _leaf_rows(self, sel: ast.Selector) -> tuple[DataFrame, LeafSource]:
        """Raw rows for a selector: matchers + offset shift + time range."""
        key = self._sel_key(sel)
        if key in self._leaf_memo:
            return self._leaf_memo[key]
        out = self._leaf_rows_uncached(sel)
        self._leaf_memo[key] = out
        return out

    def _leaf_rows_uncached(self, sel: ast.Selector) -> tuple[DataFrame, LeafSource]:
        src = self.catalog.resolve(sel.metric)
        df = src.df
        if sel.offset_ms:
            # value at t comes from t-offset -> shift data forward
            df = df.withColumn(src.ts_col, F.col(src.ts_col) + sel.offset_ms)
        at = self._resolve_at(sel)
        if at is not None:
            # @ pins evaluation: fetch exactly the pinned bucket's
            # trailing range, regardless of the query window
            ab = at - at % self.step
            df = df.filter(
                (F.col(src.ts_col) >= ab - (sel.range_ms or 0))
                & (F.col(src.ts_col) < ab + self.step)
            )
        else:
            if self.start is not None:
                lo = self.start - (sel.range_ms or 0)
                df = df.filter(F.col(src.ts_col) >= lo)
            if self.end is not None:
                df = df.filter(F.col(src.ts_col) < self.end)
        for m in sel.matchers:
            df = stages.label_matcher(df, m.label, m.op, m.value)
        return df, src

    def _leaf_instant(self, sel: ast.Selector) -> _Vec:
        key = self._sel_key(sel)
        if key in self._instant_memo:
            return self._instant_memo[key]
        df, src = self._leaf_rows(sel)
        s = self._step(df, src)
        out = s.select(
            "bucket_ts", *src.labels, (F.col("sum") / F.col("count")).alias("value")
        )
        at = self._resolve_at(sel)
        if at is not None:
            out = self._grid_expand(out, src.labels, at - at % self.step)
        vec = _Vec(out, src.labels)
        self._instant_memo[key] = vec
        return vec

    def _step(self, df: DataFrame, src: LeafSource) -> DataFrame:
        """A3 step aggregation; rollup partials compose via step_agg."""
        if src.pre_aggregated:
            return step_agg(df, self.step, src.labels, src.ts_col)
        return step_agg_raw(df, self.step, src.labels, src.ts_col, src.value_col)

    def _leaf_range(self, fn: str, sel: ast.Selector, q: float | None = None) -> _Vec:
        if sel.range_ms is None:
            raise ValueError(f"promql: {fn} requires a range selector")
        df, src = self._leaf_rows(sel)
        if fn == "quantile_over_time":
            if sel.at_ms is not None:
                raise ValueError(
                    "promql: the @ modifier is not supported with "
                    "quantile_over_time"
                )
            if src.pre_aggregated:
                raise ValueError(
                    "promql: quantile_over_time needs raw samples, not a rollup tier"
                )
            out = quantile_over_time(
                df,
                src.labels,
                sel.range_ms,
                self.step,
                q,
                src.ts_col,
                src.value_col,
                None if self.start is None else self.start + sel.range_ms,
                raw_samples=True,
            )
            return _Vec(out, src.labels)
        s = self._step(df, src)
        if (
            src.pre_aggregated
            and src.frequency_ms is not None
            and src.frequency_ms > self.step
            and fn in SPARSE_FUNCS
        ):
            # rollup tier coarser than the step: the reference infers the
            # series cadence and widens eviction/coverage accordingly
            r = range_agg_sparse(s, fn, sel.range_ms, self.step, src.labels)
        else:
            r = range_agg(s, fn, sel.range_ms, self.step, src.labels, param=q)
        at = self._resolve_at(sel)
        if at is not None:
            r = self._grid_expand(
                r.select("bucket_ts", *src.labels, "value"),
                src.labels,
                at - at % self.step,
            )
        return _Vec(r, src.labels)

    def _presence_over_time(self, node: ast.Call) -> _Vec:
        """absent_over_time / present_over_time (extensions beyond the
        reference's range-function list).

        Engine bucket convention: a sample landing in step bucket ``s``
        makes the trailing range window of every step in
        ``[s, s + range - step]`` non-empty — the same frame
        :func:`range_agg` uses. present_over_time explodes each sample
        bucket into that step span (at most range/step extra rows per
        aggregated bucket, deduped per series — never raw-sample
        cardinality); absent_over_time anti-joins the union of those
        spans against the explicit query grid and, like absent(),
        therefore needs start/end bounds. Neither is coverage-gated
        (Prometheus semantics: presence is defined from the first
        sample).
        """
        fn = node.fn
        (arg,) = node.args
        if not isinstance(arg, ast.Selector) or arg.range_ms is None:
            raise ValueError(f"promql: {fn} expects a range selector")
        range_ms = arg.range_ms
        df, src = self._leaf_rows(arg)
        s = self._step(df, src)
        # range < step degenerates to the bucket itself (the trailing
        # window never reaches a neighboring step)
        span_ms = max(range_ms - self.step, 0)
        span = F.sequence(
            F.col("bucket_ts"),
            F.col("bucket_ts") + F.lit(span_ms),
            F.lit(self.step),
        )
        steps = s.select(F.explode(span).alias("bucket_ts"), *src.labels)
        if self.start is not None:
            lo = -(-self.start // self.step) * self.step
            steps = steps.filter(F.col("bucket_ts") >= F.lit(lo))
        if self.end is not None:
            hi = (self.end // self.step) * self.step
            steps = steps.filter(F.col("bucket_ts") < F.lit(hi))
        if fn == "present_over_time":
            out = steps.distinct().withColumn("value", F.lit(1.0))
            return _Vec(out, src.labels)
        if self.start is None or self.end is None:
            raise ValueError(
                "promql: absent_over_time() needs an explicit query "
                "window (start/end)"
            )
        spark = s.sparkSession
        lo = -(-self.start // self.step) * self.step
        hi = (self.end // self.step) * self.step
        grid = spark.range(lo, hi, self.step).select(
            F.col("id").alias("bucket_ts")
        )
        present = steps.select("bucket_ts").distinct()
        out = grid.join(present, "bucket_ts", "left_anti").withColumn(
            "value", F.lit(1.0)
        )
        return _Vec(out, [])

    def _subquery_range(
        self, fn: str, sub: ast.Subquery, q: float | None = None
    ) -> _Vec:
        """Range function over a subquery ``expr[range:step]``
        (extension — the reference parser has no subquery form).

        The inner expression compiles with the subquery step as ITS
        query step (window widened by the subquery range so trailing
        windows are fully fed); its per-substep samples then feed the
        outer range function exactly like step-aggregated leaf buckets
        (sum=value, count=1 — each substep contributes one sample).
        When the substep differs from the query step, output rows are
        aligned to the query-step grid.
        """
        substep = sub.step_ms or self.step
        if self.step % substep != 0:
            # the output grid is the substep positions filtered to the
            # query grid; a non-dividing substep would silently drop
            # query steps (Prometheus evaluates at every step) — reject
            # rather than return an almost-empty series
            raise ValueError(
                f"promql: subquery step ({substep}ms) must divide the "
                f"query step ({self.step}ms)"
            )
        inner_start = None if self.start is None else self.start - sub.range_ms
        inner = _Compiler(
            self.catalog,
            substep,
            inner_start,
            self.end,
            push_grouping=self.push_grouping,
        ).compile(sub.expr)
        if isinstance(inner, float):
            raise ValueError("promql: subquery over a scalar")
        # NULL inner samples (coverage warm-ups) are absent, not zero
        df = inner.df.filter(F.col("value").isNotNull())
        if fn == "quantile_over_time":
            out = quantile_over_time(
                df.withColumnRenamed("bucket_ts", "_sts"),
                inner.labels,
                sub.range_ms,
                substep,
                q,
                "_sts",
                "value",
                None,
                raw_samples=False,
            )
        elif fn == "mad_over_time":
            from lakerunner_spark.operators.range_agg import (
                exact_mad_over_time,
            )

            out = exact_mad_over_time(
                df.withColumnRenamed("bucket_ts", "_sts"),
                inner.labels,
                sub.range_ms,
                substep,
                ts_col="_sts",
                value_col="value",
            )
        else:
            s = df.select(
                "bucket_ts",
                *inner.labels,
                F.col("value").alias("sum"),
                F.lit(1).cast("long").alias("count"),
                F.col("value").alias("min"),
                F.col("value").alias("max"),
            )
            out = range_agg(
                s, fn, sub.range_ms, substep, inner.labels, param=q
            )
        if substep != self.step:
            out = out.filter(F.col("bucket_ts") % F.lit(self.step) == 0)
        return _Vec(out, inner.labels)

    # -- nodes -------------------------------------------------------------

    def compile(self, node) -> _Vec | float:
        if isinstance(node, ast.Num):
            return node.value
        if isinstance(node, ast.Subquery):
            raise ValueError(
                "promql: a subquery (expr[range:step]) must be the "
                "argument of a range function"
            )
        if isinstance(node, ast.Selector):
            return self._leaf_instant(node)
        if isinstance(node, ast.Call):
            return self._compile_call(node)
        if isinstance(node, ast.Agg):
            return self._compile_agg(node)
        if isinstance(node, ast.Binary):
            return self._compile_binary(node)
        raise TypeError(f"promql: unknown AST node {type(node).__name__}")

    def _compile_call(self, node: ast.Call) -> _Vec | float:
        fn = node.fn
        if fn == "pi":
            if node.args:
                raise ValueError("promql: pi() takes no arguments")
            import math

            return math.pi
        if fn == "time":
            if node.args:
                raise ValueError("promql: time() takes no arguments")
            return _TimeScalar()
        if fn in _DATE_COLS:
            # date component of a unix-seconds vector; zero-arg form
            # (and the time() argument) applies to the evaluation time
            if len(node.args) > 1:
                raise ValueError(f"promql: {fn}(v) takes at most one argument")
            arg = self.compile(node.args[0]) if node.args else _TimeScalar()
            if isinstance(arg, _TimeScalar):
                inner = arg.build
                return _TimeScalar(
                    lambda ts, _i=inner: _date_component(fn, _i(ts))
                )
            if isinstance(arg, float):
                import calendar
                import datetime as _dt

                d = _dt.datetime.fromtimestamp(int(arg), _dt.timezone.utc)
                return float(
                    {
                        "minute": d.minute,
                        "hour": d.hour,
                        "day_of_week": (d.weekday() + 1) % 7,
                        "day_of_month": d.day,
                        "day_of_year": d.timetuple().tm_yday,
                        "days_in_month": calendar.monthrange(d.year, d.month)[1],
                        "month": d.month,
                        "year": d.year,
                    }[fn]
                )
            out = arg.df.withColumn(
                "value", _date_component(fn, F.col("value"))
            )
            return _Vec(out, arg.labels)
        if fn in ("absent_over_time", "present_over_time"):
            return self._presence_over_time(node)
        if fn in ast.RANGE_FUNCS:
            if fn == "quantile_over_time":
                qv, sel = node.args
                if isinstance(qv, ast.Num) and isinstance(sel, ast.Subquery):
                    if not 0.0 <= qv.value <= 1.0:
                        raise ValueError(
                            "promql: quantile_over_time q must be in [0, 1]"
                        )
                    return self._subquery_range(fn, sel, qv.value)
                if not isinstance(qv, ast.Num) or not isinstance(sel, ast.Selector):
                    raise ValueError("promql: quantile_over_time(q, selector[range])")
                if not 0.0 <= qv.value <= 1.0:
                    # out-of-range q would index past the sample array
                    # at execution (ANSI error); reject at compile time
                    raise ValueError(
                        "promql: quantile_over_time q must be in [0, 1]"
                    )
                return self._leaf_range(fn, sel, qv.value)
            if fn == "predict_linear":
                # predict_linear(selector[range], t_seconds) — horizon
                # is the SECOND argument (unlike quantile_over_time)
                sel, tv = node.args
                if not isinstance(tv, ast.Num):
                    raise ValueError("promql: predict_linear(selector[range], t)")
                if isinstance(sel, ast.Subquery):
                    return self._subquery_range(fn, sel, tv.value)
                if not isinstance(sel, ast.Selector):
                    raise ValueError("promql: predict_linear(selector[range], t)")
                return self._leaf_range(fn, sel, tv.value)
            if fn in ("holt_winters", "double_exponential_smoothing"):
                # holt_winters(v[range], sf, tf) — Prometheus 3.x renames
                # it double_exponential_smoothing; both accepted
                sel, sfv, tfv = node.args
                if not isinstance(sfv, ast.Num) or not isinstance(tfv, ast.Num):
                    raise ValueError(
                        "promql: holt_winters(v[range], sf, tf)"
                    )
                if not 0.0 < sfv.value < 1.0 or not 0.0 < tfv.value < 1.0:
                    raise ValueError(
                        "promql: holt_winters smoothing factors must be "
                        "in (0, 1)"
                    )
                param = (sfv.value, tfv.value)
                if isinstance(sel, ast.Subquery):
                    return self._subquery_range("holt_winters", sel, param)
                if not isinstance(sel, ast.Selector):
                    raise ValueError(
                        "promql: holt_winters(v[range], sf, tf)"
                    )
                return self._leaf_range("holt_winters", sel, param)
            if fn == "mad_over_time":
                # extension (Prometheus experimental): exact interpolated
                # MAD over raw samples — no sketch route exists (the
                # inner re-centering isn't mergeable), so this shares
                # the exact quantile path's bounded-range contract
                (sel,) = node.args
                from lakerunner_spark.operators.range_agg import (
                    exact_mad_over_time,
                )

                if isinstance(sel, ast.Subquery):
                    return self._subquery_range(fn, sel)
                if not isinstance(sel, ast.Selector):
                    raise ValueError(
                        "promql: mad_over_time(selector[range])"
                    )
                if sel.range_ms is None:
                    raise ValueError("promql: mad_over_time requires a range")
                df, src = self._leaf_rows(sel)
                if src.pre_aggregated:
                    raise ValueError(
                        "promql: mad_over_time needs raw samples, not a "
                        "rollup tier"
                    )
                est = exact_too_dense(
                    df, src.labels, sel.range_ms, src.ts_col, src.value_col,
                    None if self.start is None else self.start + sel.range_ms,
                )
                if est is not None:
                    # MAD's inner re-centering is not servable from a
                    # mergeable sketch, so there is no bounded-memory
                    # route for dense series — fail closed rather than
                    # build unbounded per-row arrays
                    raise ValueError(
                        "promql: mad_over_time over a series this dense "
                        f"(~{est:.0f} samples per window, limit "
                        f"{QUANTILE_EXACT_MAX_SAMPLES}) would buffer "
                        "every raw sample of the range per output row; "
                        "narrow the range or pre-aggregate"
                    )
                out = exact_mad_over_time(
                    df,
                    src.labels,
                    sel.range_ms,
                    self.step,
                    ts_col=src.ts_col,
                    value_col=src.value_col,
                )
                return _Vec(out, src.labels)
            if fn == "median_over_time":
                # Extension beyond the reference (its rewriter marks
                # median_over_time unsupported); delegates to
                # quantile_over_time q=0.5, sharing its route selection.
                (sel,) = node.args
                if isinstance(sel, ast.Subquery):
                    return self._subquery_range("quantile_over_time", sel, 0.5)
                if not isinstance(sel, ast.Selector):
                    raise ValueError("promql: median_over_time(selector[range])")
                return self._leaf_range("quantile_over_time", sel, 0.5)
            (sel,) = node.args
            if isinstance(sel, ast.Subquery):
                return self._subquery_range(fn, sel)
            if not isinstance(sel, ast.Selector):
                raise ValueError(f"promql: {fn} argument must be a range selector")
            return self._leaf_range(fn, sel)
        if fn in _UNARY_COLS:
            (arg,) = node.args
            v = self.compile(arg)
            if isinstance(v, _TimeScalar):
                inner = v.build

                def build(ts, _i=inner, _fn=fn):
                    col = _UNARY_COLS[_fn](_i(ts))
                    if _fn in ("ceil", "floor"):
                        col = col.cast("double")
                    return col

                return _TimeScalar(build)
            if isinstance(v, float):
                raise ValueError(f"promql: {fn} over scalars not supported")
            col = _UNARY_COLS[fn](F.col("value"))
            if fn in ("ceil", "floor"):
                col = col.cast("double")
            return _Vec(v.df.withColumn("value", col), v.labels)
        if fn in ("clamp_min", "clamp_max"):
            arg, bound = node.args
            if not isinstance(bound, ast.Num):
                raise ValueError(f"promql: {fn} bound must be a number")
            v = self.compile(arg)
            op = F.greatest if fn == "clamp_min" else F.least
            return _Vec(
                v.df.withColumn("value", op(F.col("value"), F.lit(bound.value))),
                v.labels,
            )
        if fn == "clamp":
            # clamp(v, lo, hi) — 3-arg generalization of clamp_min/max
            # (extension: the reference parser stops at the 2-arg forms)
            arg, lo, hi = node.args
            if not isinstance(lo, ast.Num) or not isinstance(hi, ast.Num):
                raise ValueError("promql: clamp bounds must be numbers")
            v = self.compile(arg)
            if isinstance(v, float):
                raise ValueError("promql: clamp over scalars not supported")
            if lo.value > hi.value:  # Prometheus drops all elements
                return _Vec(v.df.filter(F.lit(False)), v.labels)
            col = F.least(
                F.greatest(F.col("value"), F.lit(lo.value)), F.lit(hi.value)
            )
            return _Vec(v.df.withColumn("value", col), v.labels)
        if fn == "round":
            # round(v[, to_nearest]) — nearest multiple, ties away from
            # the floor (Prometheus: floor(v/to + 0.5) * to)
            if len(node.args) == 1:
                (arg,), to = node.args, 1.0
            else:
                arg, tv = node.args
                if not isinstance(tv, ast.Num):
                    raise ValueError("promql: round to_nearest must be a number")
                to = tv.value
            if to == 0.0:
                raise ValueError("promql: round to_nearest must be non-zero")
            v = self.compile(arg)
            if isinstance(v, float):
                raise ValueError("promql: round over scalars not supported")
            # Spark's floor() over doubles returns LONG, so NaN would
            # silently become 0 and ±Inf would clamp to Long.MIN/MAX —
            # Prometheus propagates non-finite values through round
            finite = F.floor(F.col("value") / F.lit(to) + F.lit(0.5)) * F.lit(to)
            col = F.when(
                F.isnan("value") | (F.abs("value") == F.lit(float("inf"))),
                F.col("value"),
            ).otherwise(finite)
            return _Vec(v.df.withColumn("value", col.cast("double")), v.labels)
        if fn == "timestamp":
            # timestamp(v): each element's evaluation timestamp in
            # seconds — here the step bucket's epoch seconds
            (arg,) = node.args
            v = self.compile(arg)
            if isinstance(v, float):
                raise ValueError("promql: timestamp over scalars not supported")
            col = (F.col("bucket_ts") / F.lit(1000.0)).cast("double")
            return _Vec(v.df.withColumn("value", col), v.labels)
        if fn == "label_join":
            varg, dst, sep, *srcs = node.args
            if not isinstance(dst, ast.Str) or not isinstance(sep, ast.Str) or not all(
                isinstance(s, ast.Str) for s in srcs
            ):
                raise ValueError(
                    "promql: label_join(v, dst, separator, src...)"
                )
            v = self.compile(varg)
            if isinstance(v, float):
                raise ValueError("promql: label_join over scalars not supported")
            # absent source labels join as empty strings (PromQL treats
            # missing as empty); an all-empty result removes dst
            parts = [
                F.coalesce(F.col(s.value).cast("string"), F.lit(""))
                if s.value in v.df.columns
                else F.lit("")
                for s in srcs
            ]
            joined = F.concat_ws(sep.value, *parts) if parts else F.lit("")
            new_dst = F.nullif(joined, F.lit(""))
            labels = v.labels + ([dst.value] if dst.value not in v.labels else [])
            return _Vec(v.df.withColumn(dst.value, new_dst), labels)
        if fn == "absent":
            # extension: 1 at every evaluation step where the inner
            # vector has NO samples. The engine materializes only
            # buckets with data, so the step grid must come from the
            # query window — absent() therefore requires explicit
            # start/end bounds (alerting evaluators always have them).
            # Labels: none (the Prometheus equality-matcher fill-in is
            # not reproduced; documented extension semantics).
            (arg,) = node.args
            if isinstance(arg, ast.Selector) and arg.range_ms is not None:
                raise ValueError(
                    "promql: absent() expects an instant vector, not a "
                    "range selector (use absent_over_time)"
                )
            v = self.compile(arg)
            if isinstance(v, float):
                raise ValueError("promql: absent over scalars not supported")
            if self.start is None or self.end is None:
                raise ValueError(
                    "promql: absent() needs an explicit query window "
                    "(start/end)"
                )
            spark = v.df.sparkSession
            # only FULLY-covered steps: the leaf filter drops samples
            # outside [start, end), so a partially-covered boundary
            # bucket could look falsely absent — ceil-align the grid's
            # start, floor-align its end
            lo = -(-self.start // self.step) * self.step
            hi = (self.end // self.step) * self.step
            grid = spark.range(lo, hi, self.step).select(
                F.col("id").alias("bucket_ts")
            )
            present = v.df.select("bucket_ts").distinct()
            out = grid.join(present, "bucket_ts", "left_anti").withColumn(
                "value", F.lit(1.0)
            )
            return _Vec(out, [])
        if fn == "scalar":
            (arg,) = node.args
            v = self.compile(arg)
            if not v.labels:
                return v  # label-free vector acts as a per-bucket scalar
            # upstream funcScalar: exactly one element at the step ->
            # its value, otherwise NaN (never an error)
            out = v.df.groupBy("bucket_ts").agg(
                F.when(F.count("value") == 1, F.max("value"))
                .otherwise(F.lit(float("nan")))
                .alias("value")
            )
            # Prometheus evaluates funcScalar at EVERY grid step — a
            # step where the vector has no samples still yields NaN, so
            # downstream arithmetic propagates NaN instead of dropping
            # the step. Densify against the evaluation grid when the
            # query window is known; without an explicit window there
            # is no grid to densify against (coverage-gated deviation:
            # only observed buckets are emitted, as before).
            if self.start is not None and self.end is not None:
                spark = v.df.sparkSession
                g0 = self.start - self.start % self.step
                g1 = (self.end - 1) - (self.end - 1) % self.step
                grid = spark.range(g0, g1 + 1, self.step).select(
                    F.col("id").alias("bucket_ts")
                )
                out = grid.join(out, "bucket_ts", "left").select(
                    "bucket_ts",
                    F.coalesce("value", F.lit(float("nan"))).alias("value"),
                )
            return _Vec(out, [])
        if fn == "vector":
            (arg,) = node.args
            if isinstance(arg, ast.Num):
                # vector(1): a label-free constant vector over the query
                # grid (Prometheus alert-rule staple). Needs the explicit
                # window — a literal has no time axis of its own.
                if self.start is None or self.end is None:
                    raise ValueError(
                        "promql: vector(literal) needs an explicit query "
                        "window (start/end) or a real selector"
                    )
                from pyspark.sql import SparkSession

                g0 = self.start - self.start % self.step
                g1 = (self.end - 1) - (self.end - 1) % self.step
                spark = SparkSession.getActiveSession()
                grid = spark.range(g0, g1 + 1, self.step).select(
                    F.col("id").alias("bucket_ts"),
                    F.lit(float(arg.value)).alias("value"),
                )
                return _Vec(grid, [])
            inner = self.compile(arg)
            if isinstance(inner, float):
                raise ValueError(
                    "promql: vector() over a computed scalar is not "
                    "supported; pass a literal or a vector"
                )
            return inner
        if fn in ("sort", "sort_desc"):
            # Presentation-order operator: orders each evaluation bucket's
            # elements by value. Sorting is a property of the returned rows
            # (Spark preserves ORDER BY into collect), not of the values —
            # verified by unit test; value parity via the oracle.
            (arg,) = node.args
            v = self.compile(arg)
            if isinstance(v, float):
                raise ValueError(f"promql: {fn} over scalars not supported")
            val = F.col("value").desc() if fn == "sort_desc" else F.col("value").asc()
            return _Vec(v.df.orderBy(F.col("bucket_ts").asc(), val), v.labels)
        if fn in ("sort_by_label", "sort_by_label_desc"):
            # Presentation-order extension (Prometheus experimental
            # feature): order each bucket's elements by the given label
            # values. Absent labels sort as empty (first ascending).
            varg, *labs = node.args
            if not labs or not all(isinstance(s, ast.Str) for s in labs):
                raise ValueError(f"promql: {fn}(v, label, ...)")
            v = self.compile(varg)
            if isinstance(v, float):
                raise ValueError(f"promql: {fn} over scalars not supported")
            desc = fn.endswith("_desc")
            keys = []
            for s in labs:
                if s.value not in v.df.columns:
                    continue  # missing label = constant empty, no effect
                c = F.col(s.value)
                keys.append(c.desc_nulls_last() if desc else c.asc_nulls_first())
            return _Vec(v.df.orderBy(F.col("bucket_ts").asc(), *keys), v.labels)
        if fn == "label_replace":
            varg, dst, repl, srcl, regex = node.args
            for a in (dst, repl, srcl, regex):
                if not isinstance(a, ast.Str):
                    raise ValueError(
                        "promql: label_replace(v, dst, replacement, src, regex)"
                    )
            v = self.compile(varg)
            if isinstance(v, float):
                raise ValueError("promql: label_replace over scalars not supported")
            # PromQL semantics: regex is fully anchored against src's value
            # (absent label or NULL value = ""); on match dst becomes the
            # RE2-expanded replacement (empty expansion removes the label —
            # Prometheus treats empty label values as absent), otherwise
            # the series is unchanged.
            src_col = (
                F.coalesce(F.col(srcl.value).cast("string"), F.lit(""))
                if srcl.value in v.df.columns
                else F.lit("")
            )
            anchored = f"\\A(?:{regex.value})\\z"
            expanded = F.nullif(
                expand_replacement(src_col, anchored, repl.value, regex.value),
                F.lit(""),
            )
            matched = src_col.rlike(java_pattern(anchored))
            if dst.value in v.df.columns:
                new_dst = F.when(matched, expanded).otherwise(
                    F.col(dst.value).cast("string")
                )
            else:
                new_dst = F.when(matched, expanded)
            labels = v.labels + ([dst.value] if dst.value not in v.labels else [])
            return _Vec(v.df.withColumn(dst.value, new_dst), labels)
        if fn == "histogram_quantile":
            qv, arg = node.args
            if not isinstance(qv, ast.Num):
                raise ValueError("promql: histogram_quantile q must be a number")
            if not isinstance(arg, ast.Selector):
                # extension: Prometheus-style le-bucket interpolation
                # for a computed vector carrying an `le` label (e.g.
                # sum by (le, ...) (rate(x_bucket[5m]))). CONTRACT: the
                # vector's counts are CUMULATIVE per le (Prometheus
                # _bucket semantics). OTLP explodes NON-cumulative
                # bucket counts — run operators/histogram.py
                # cumulate_buckets when cooking OTLP buckets into a
                # catalog metric (test_otlp_histogram_to_quantile shows
                # the composition); feeding raw OTLP counts here would
                # silently misrank. The reference only evaluates the
                # selector form below.
                from lakerunner_spark.operators.histogram import (
                    histogram_quantile_buckets,
                )

                v = self.compile(arg)
                if isinstance(v, float) or "le" not in v.labels:
                    raise ValueError(
                        "promql: histogram_quantile needs a selector or a "
                        "vector with an 'le' label"
                    )
                out = histogram_quantile_buckets(v.df, qv.value)
                return _Vec(out, [c for c in v.labels if c != "le"])
            # cooked data stores value distributions, not le-buckets
            # (F13; quantile_node.go:35-114) -> per-bucket exact quantile
            df, src = self._leaf_rows(arg)
            if src.pre_aggregated:
                raise ValueError(
                    "promql: histogram_quantile needs raw samples, not a rollup tier"
                )
            out = df.groupBy(
                bucket_ts(src.ts_col, self.step).alias("bucket_ts"), *src.labels
            ).agg(F.percentile(src.value_col, qv.value).alias("value"))
            return _Vec(out, src.labels)
        if fn in (
            "histogram_count", "histogram_sum", "histogram_avg",
            "histogram_stddev", "histogram_stdvar", "histogram_fraction",
        ):
            # Native-histogram accessor family (extension): upstream
            # reads these fields off stored native-histogram samples;
            # this engine stores raw samples (F13 convention), so the
            # per-step "native histogram" is SYNTHESIZED from the step
            # bucket's samples — count/sum/avg are the carried fields,
            # stddev/stdvar/fraction run the bucket algebra
            # (operators/native_histogram.py) per (step, series).
            if fn == "histogram_fraction":
                lo_n, hi_n, arg = node.args

                def _fold_neg(n):
                    # unary minus parses as (0 - x); fold to a literal
                    if (
                        isinstance(n, ast.Binary)
                        and n.op == "-"
                        and isinstance(n.lhs, ast.Num)
                        and n.lhs.value == 0.0
                        and isinstance(n.rhs, ast.Num)
                    ):
                        return ast.Num(-n.rhs.value)
                    return n

                lo_n, hi_n = _fold_neg(lo_n), _fold_neg(hi_n)
                if not isinstance(lo_n, ast.Num) or not isinstance(hi_n, ast.Num):
                    raise ValueError(
                        "promql: histogram_fraction bounds must be numbers"
                    )
            else:
                (arg,) = node.args
            if not isinstance(arg, ast.Selector):
                raise ValueError(f"promql: {fn} needs a selector")
            df, src = self._leaf_rows(arg)
            if src.pre_aggregated:
                raise ValueError(
                    f"promql: {fn} needs raw samples, not a rollup tier"
                )
            keys = ["bucket_ts", *src.labels]
            rows = df.select(
                bucket_ts(src.ts_col, self.step).alias("bucket_ts"),
                *src.labels,
                F.col(src.value_col).alias("value"),
            )
            if fn in ("histogram_count", "histogram_sum", "histogram_avg"):
                agg = {
                    "histogram_count": F.count("value").cast("double"),
                    "histogram_sum": F.sum("value"),
                    "histogram_avg": F.avg("value"),
                }[fn]
                out = rows.groupBy(*keys).agg(agg.alias("value"))
                return _Vec(out, src.labels)
            from lakerunner_spark.operators.native_histogram import (
                histogram_fraction as nh_fraction,
                histogram_stddev_stdvar,
                native_histogram_agg,
                native_histogram_stats,
            )

            sk = native_histogram_agg(rows, keys, "value")
            if fn == "histogram_fraction":
                out = nh_fraction(
                    sk, keys, float(lo_n.value), float(hi_n.value),
                    out_col="value",
                )
                return _Vec(out, src.labels)
            st = native_histogram_stats(rows, keys, "value")
            res = histogram_stddev_stdvar(sk, st, keys)
            col = "h_stddev" if fn == "histogram_stddev" else "h_stdvar"
            out = res.select(*keys, F.col(col).alias("value"))
            return _Vec(out, src.labels)
        raise ValueError(f"promql: unsupported function {fn!r}")

    # range fns linear in the windowed sums — safe to pre-group
    _PUSHABLE_FNS = {"rate", "increase", "sum_over_time", "count_over_time"}

    def _try_push_grouping(self, node: ast.Agg) -> _Vec | None:
        """Grouping pushdown (promql/exec_planner.go:92-115): for
        ``sum by (g) (linear_range_fn(sel[r]))`` aggregate the leaf
        directly by g — the raw-data shuffle lands on g-cardinality
        keys instead of full series cardinality, and the window state
        shrinks accordingly. Mirrors the reference's pushed-down
        semantics: the coverage gate applies at GROUP level (the group
        is the worker's series once GroupBy is pushed).
        """
        if not (self.push_grouping and node.op == "sum" and node.by is not None):
            return None
        # the pushed-down path has no pin-and-expand step; fall back
        if any(
            isinstance(a, ast.Selector) and a.at_ms is not None
            for a in getattr(node.expr, "args", [])
        ):
            return None
        expr = node.expr
        if not (
            isinstance(expr, ast.Call)
            and expr.fn in self._PUSHABLE_FNS
            and len(expr.args) == 1
            and isinstance(expr.args[0], ast.Selector)
        ):
            return None
        sel = expr.args[0]
        if sel.range_ms is None:
            return None
        df, src = self._leaf_rows(sel)
        labels = list(node.by)
        s = step_agg_raw(df, self.step, labels, src.ts_col, src.value_col) \
            if not src.pre_aggregated \
            else step_agg(df, self.step, labels, src.ts_col)
        if (
            src.pre_aggregated
            and src.frequency_ms is not None
            and src.frequency_ms > self.step
            and expr.fn in SPARSE_FUNCS
        ):
            r = range_agg_sparse(s, expr.fn, sel.range_ms, self.step, labels)
        else:
            r = range_agg(s, expr.fn, sel.range_ms, self.step, labels)
        return _Vec(r, labels)

    def _compile_agg(self, node: ast.Agg) -> _Vec:
        pushed = self._try_push_grouping(node)
        if pushed is not None:
            return pushed
        v = self.compile(node.expr)
        if isinstance(v, float):
            raise ValueError("promql: aggregation over a scalar")
        if node.op in ("topk", "bottomk"):
            k = int(node.param)
            fn = topk if node.op == "topk" else bottomk
            return _Vec(fn(v.df, k, tiebreak=sorted(v.labels)), v.labels)
        if node.op == "quantile":
            keys = self._agg_keys(node, v)
            out = v.df.groupBy("bucket_ts", *keys).agg(
                F.percentile("value", node.param).alias("value")
            )
            return _Vec(out, keys)
        if node.op in ("limitk", "limit_ratio"):
            # Extensions: Prometheus 3.x experimental sampling
            # aggregators. Upstream picks series pseudo-randomly; here
            # the picks are DETERMINISTIC so the oracle can restate
            # them — limitk keeps the k first series in label-tuple
            # order per (bucket, group); limit_ratio keeps series whose
            # fnv64a(label identity) bucket lands under the ratio
            # (negative ratio = the complement, as upstream).
            from pyspark.sql import Window

            from lakerunner_spark.functions.hashing import fnv64a

            keys = self._agg_keys(node, v)
            if node.op == "limitk":
                k = int(node.param)
                if k <= 0:
                    raise ValueError("promql: limitk k must be positive")
                w = Window.partitionBy("bucket_ts", *keys).orderBy(
                    *[F.col(c).asc() for c in sorted(v.labels)]
                )
                out = (
                    v.df.withColumn("_rn", F.row_number().over(w))
                    .filter(F.col("_rn") <= k)
                    .drop("_rn")
                )
                return _Vec(out, v.labels)
            r = float(node.param)
            if not -1.0 <= r <= 1.0:
                raise ValueError(
                    "promql: limit_ratio must be in [-1, 1]"
                )
            ident = F.concat_ws(
                "\x1f",
                *[
                    F.coalesce(F.col(c).cast("string"), F.lit(""))
                    for c in sorted(v.labels)
                ],
            )
            b = F.pmod(fnv64a(ident), F.lit(1000)).cast("double") / 1000.0
            keep = (b < r) if r >= 0 else (b >= 1.0 + r)
            return _Vec(v.df.filter(keep), v.labels)
        if node.op == "count_values":
            # extension: histogram of sample values — each distinct
            # value becomes a label. Integral doubles format without the
            # trailing ".0" (Prometheus renders with Go's shortest-form
            # FormatFloat: 1 -> "1", 1.5 -> "1.5"); extreme-magnitude
            # values keep the engine's double rendering (E-notation),
            # which can differ from Go's — documented engine semantics.
            dst = node.param_str
            keys = self._agg_keys(node, v)
            if dst in keys or dst in ("bucket_ts", "value"):
                raise ValueError(
                    f"promql: count_values destination {dst!r} collides "
                    "with a grouping label or result column"
                )
            val = F.col("value")
            compact = F.when(
                ~F.isnan(val)
                & (val == F.floor(val))
                & (F.abs(val) < F.lit(1e15)),
                val.cast("decimal(20,0)").cast("string"),
            ).otherwise(val.cast("string"))
            out = (
                v.df.withColumn(dst, compact)
                .groupBy("bucket_ts", *keys, dst)
                .agg(F.count(F.lit(1)).cast("double").alias("value"))
            )
            return _Vec(out, keys + [dst])
        keys = self._agg_keys(node, v)
        out = vector_agg(v.df, node.op, by=keys)
        return _Vec(out, keys)

    @staticmethod
    def _agg_keys(node: ast.Agg, v: _Vec) -> list[str]:
        if node.without is not None:
            return [c for c in v.labels if c not in set(node.without)]
        if node.by is not None:
            return list(node.by)
        return []

    def _compile_binary(self, node: ast.Binary) -> _Vec | float:
        lhs = self.compile(node.lhs)
        rhs = self.compile(node.rhs)
        op = node.op

        if isinstance(lhs, _TimeScalar) or isinstance(rhs, _TimeScalar):
            return self._binary_with_time(node, lhs, rhs)

        if isinstance(lhs, float) and isinstance(rhs, float):
            if op in _fold_scalar.CMP_OPS and not node.bool_mode:
                raise ValueError(
                    "promql: comparisons between scalars must use BOOL modifier"
                )
            return _fold_scalar(op, lhs, rhs)

        if isinstance(rhs, float):
            return _Vec(
                vector_scalar(lhs.df, op, rhs, bool_mode=node.bool_mode), lhs.labels
            )
        if isinstance(lhs, float):
            return _Vec(
                vector_scalar(
                    rhs.df, op, lhs, scalar_on_left=True, bool_mode=node.bool_mode
                ),
                rhs.labels,
            )

        match = self._match_labels(node, lhs, rhs)
        if op == "or":
            return _Vec(vector_or(lhs.df, rhs.df, match), match)
        if op == "and":
            return _Vec(vector_and(lhs.df, rhs.df, match), lhs.labels)
        if op == "unless":
            return _Vec(vector_unless(lhs.df, rhs.df, match), lhs.labels)
        if getattr(node, "group", None):
            # many-to-one matching (extension; Prometheus semantics —
            # the reference rejects group modifiers)
            from lakerunner_spark.operators.binary import vector_match_grouped

            extras = list(node.group_labels or [])
            if set(extras) & set(match):
                raise ValueError(
                    "promql: group_" + node.group + " labels must not "
                    "overlap the match labels"
                )
            many = lhs if node.group == "left" else rhs
            out = vector_match_grouped(
                lhs.df,
                rhs.df,
                op,
                match,
                many_labels=many.labels,
                group=node.group,
                extra_labels=extras,
                bool_mode=node.bool_mode,
            )
            labels = [c for c in many.labels if c not in extras]
            labels += [c for c in match if c not in labels]
            labels += extras
            return _Vec(out, labels)
        out = vector_match(lhs.df, rhs.df, op, match, bool_mode=node.bool_mode)
        return _Vec(out, match)

    def _binary_with_time(self, node: ast.Binary, lhs, rhs):
        """Binary op where at least one side is a time()-derived scalar.

        scalar⋈scalar stays a composed _TimeScalar (lazy column build);
        vector⋈scalar inlines the built bucket_ts column through the
        Column-aware vector_scalar, so ``time() - m`` keeps m's labels
        and needs no join."""
        from lakerunner_spark.operators.binary import _apply_op

        op = node.op
        if op in ("and", "or", "unless"):
            raise ValueError(f"promql: set operator {op} needs vector operands")

        def as_build(side):
            if isinstance(side, _TimeScalar):
                return side.build
            return lambda ts, _v=float(side): F.lit(_v)

        l_vec = isinstance(lhs, _Vec)
        r_vec = isinstance(rhs, _Vec)
        if not l_vec and not r_vec:
            if op in _fold_scalar.CMP_OPS and not node.bool_mode:
                raise ValueError(
                    "promql: comparisons between scalars must use BOOL modifier"
                )
            lb, rb = as_build(lhs), as_build(rhs)

            def build(ts, _lb=lb, _rb=rb, _op=op, _bm=node.bool_mode):
                value, _keep = _apply_op(_op, _lb(ts), _rb(ts), _bm)
                return value

            return _TimeScalar(build)
        vec = lhs if l_vec else rhs
        t = rhs if l_vec else lhs
        scalar_col = as_build(t)(F.col("bucket_ts"))
        return _Vec(
            vector_scalar(
                vec.df,
                op,
                scalar_col,
                scalar_on_left=not l_vec,
                bool_mode=node.bool_mode,
            ),
            vec.labels,
        )

    @staticmethod
    def _match_labels(node: ast.Binary, lhs: _Vec, rhs: _Vec) -> list[str]:
        """J1 match key: on(...) subset, else shared labels minus ignoring
        (binary_node.go matchKey:314 — all labels minus __name__)."""
        if node.on is not None:
            return sorted(node.on)
        common = set(lhs.labels) & set(rhs.labels)
        if node.ignoring:
            common -= set(node.ignoring)
        return sorted(common)


def _fold_scalar(op: str, a: float, b: float) -> float:
    import math
    import operator as _op

    # scalar / 0 is IEEE-style in PromQL: ±Inf by sign, 0/0 = NaN —
    # Python's truediv would raise ZeroDivisionError instead
    if op == "/" and b == 0.0:
        return math.nan if a == 0.0 else math.copysign(math.inf, a)
    if op == "%" and b == 0.0:
        return math.nan
    # '%' is Go math.Mod (sign follows the DIVIDEND) in PromQL — like
    # Spark's vector-side '%' and C fmod, unlike Python's operator.mod
    # whose result sign follows the divisor: (-5) % 3 must be -2, not 1
    if op == "^":
        # Go math.Pow semantics where Python raises: negative base with
        # fractional exponent -> NaN; 0 to a negative power -> +Inf;
        # finite overflow -> ±Inf (negative only for odd-integer exps)
        try:
            return float(math.pow(a, b))
        except ValueError:
            if a == 0.0 and b < 0.0:
                return math.inf
            return math.nan
        except OverflowError:
            neg = a < 0.0 and b == int(b) and int(b) % 2 == 1
            return -math.inf if neg else math.inf
    table = {
        "+": _op.add, "-": _op.sub, "*": _op.mul, "/": _op.truediv,
        "%": math.fmod, ">": _op.gt, ">=": _op.ge, "<": _op.lt,
        "<=": _op.le, "==": _op.eq, "!=": _op.ne,
        "atan2": math.atan2,
    }
    out = table[op](a, b)
    return float(out)


_fold_scalar.CMP_OPS = {">", ">=", "<", "<=", "==", "!="}


def compile_promql(
    query,
    catalog: MetricCatalog,
    step_ms: int,
    start_ms: int | None = None,
    end_ms: int | None = None,
    push_grouping: bool = False,
) -> DataFrame:
    """Compile a PromQL string (or parsed AST) into a DataFrame plan.

    Result columns: ``bucket_ts``, the output label set, ``value``.

    ``push_grouping`` enables the reference's GroupBy pushdown for
    ``sum by (g)`` over linear range functions — the leaf aggregates
    straight to g-cardinality (coverage gating then applies per group,
    matching the reference's pushed-down worker semantics).
    """
    node = parse_promql(query) if isinstance(query, str) else query
    vec = _Compiler(
        catalog, step_ms, start_ms, end_ms, push_grouping=push_grouping
    ).compile(node)
    if isinstance(vec, float):
        raise ValueError("promql: query evaluates to a constant scalar")
    if isinstance(vec, _TimeScalar):
        # a bare time()/date expression: materialize over the explicit
        # query grid (there is no vector to supply the time axis)
        if start_ms is None or end_ms is None:
            raise ValueError(
                "promql: a bare time()/date expression needs an explicit "
                "query window (start/end) or a vector operand"
            )
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        grid = spark.range(start_ms, end_ms, step_ms).select(
            F.col("id").alias("bucket_ts"),
            vec.build(F.col("id")).alias("value"),
        )
        return grid
    return vec.df
