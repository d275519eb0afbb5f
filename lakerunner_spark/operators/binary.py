"""PromQL binary operations: vector matching and set ops (J1-J5, F11).

Reference: promql/binary_node.go —
- arithmetic/comparison between two vectors is a per-timestamp INNER
  hash join on the label match key (all labels minus __name__, or the
  on(...)/ignoring(...) subset) (:55-133);
- ``or``  = union preferring LHS on key collision (:247-276);
- ``and`` = LHS rows whose key exists in RHS (:277-292);
- ``unless`` = LHS rows whose key is absent from RHS (:293-308);
- division by zero drops the row (applyArith:459 returns not-ok);
- comparisons filter, or emit 1.0/0.0 with the ``bool`` modifier.

Spark-first: inner / full-outer+coalesce / left_semi / left_anti joins
on (bucket_ts, match_labels). Both sides of a PromQL binop are already
aggregated (tiny relative to raw data), so at 100 TB these joins are
series×buckets-sized; Catalyst broadcast-joins when one side is small
and AQE converts to broadcast at runtime otherwise.
"""

from __future__ import annotations

import operator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_ARITH = {
    "+": operator.add,
    "-": operator.sub,
    "*": operator.mul,
    "/": operator.truediv,
    "%": operator.mod,
    # extensions beyond the reference's operator set: PromQL '^' and
    # 'atan2' (java.lang.Math semantics == Go math: (-8)^0.5 -> NaN,
    # 0^0 -> 1, atan2 defined for all finite pairs — no row dropping)
    "^": F.pow,
    "atan2": F.atan2,
}
_CMP = {
    ">": operator.gt,
    ">=": operator.ge,
    "<": operator.lt,
    "<=": operator.le,
    "==": operator.eq,
    "!=": operator.ne,
}


def _apply_op(op: str, left: Column, right: Column, bool_mode: bool) -> tuple[Column, Column | None]:
    """Return (value, keep_filter)."""
    if op in _ARITH:
        value = _ARITH[op](left, right)
        if op in ("/", "%"):
            # /0 drops the row (binary_node.go applyArith)
            return value, right != 0
        return value, None
    if op in _CMP:
        cond = _CMP[op](left, right)
        # IEEE NaN semantics: NaN compares unequal to everything
        # (including itself), so == < <= > >= are false and != is true
        # when either side is NaN. Spark diverges here (NaN = NaN is
        # true and NaN sorts above all doubles) — without this guard
        # `m == bool m` would emit 1.0 for NaN samples.
        nan = F.isnan(left) | F.isnan(right)
        cond = F.when(nan, F.lit(op == "!=")).otherwise(cond)
        if bool_mode:
            return F.when(cond, 1.0).otherwise(0.0), None
        return left, cond
    raise ValueError(f"unsupported binary op: {op}")


def _null_safe_cond(keys: list[str]):
    """Join condition with NULL-safe label equality: a series missing a
    label (NULL column) must match a series missing it on the other side
    — Prometheus identity treats an absent label as present-and-empty,
    and the reference matches Go maps where both sides simply lack the
    key (binary_node.go matchKey). Plain `=` would NULL out and silently
    drop such series from every binary op."""
    cond = None
    for k in keys:
        c = F.col(f"_l.{k}").eqNullSafe(F.col(f"_r.{k}"))
        cond = c if cond is None else cond & c
    return cond


def vector_match(
    left: DataFrame,
    right: DataFrame,
    op: str,
    match_labels: list[str],
    bool_mode: bool = False,
) -> DataFrame:
    """vector <op> vector: inner join on (bucket, match key) (J1)."""
    keys = ["bucket_ts", *match_labels]
    lhs = left.select(*keys, F.col("value").alias("_lv")).alias("_l")
    rhs = right.select(*keys, F.col("value").alias("_rv")).alias("_r")
    joined = lhs.join(rhs, _null_safe_cond(keys), "inner")
    value, keep = _apply_op(op, F.col("_lv"), F.col("_rv"), bool_mode)
    out = joined.withColumn("value", value)
    if keep is not None:
        out = out.filter(keep)
    return out.select(*[F.col(f"_l.{k}").alias(k) for k in keys], "value")


def vector_match_grouped(
    left: DataFrame,
    right: DataFrame,
    op: str,
    match_labels: list[str],
    many_labels: list[str],
    group: str,
    extra_labels: list[str] | None = None,
    bool_mode: bool = False,
) -> DataFrame:
    """Many-to-one vector matching (extension: the reference rejects
    group_left/right, promql parser.go:455-460; Prometheus defines it).

    ``group='left'``: the LHS is the many side — each LHS series joins
    its single RHS partner on (bucket, match key); output labels are the
    many side's labels plus ``extra_labels`` copied from the one side
    (absent labels copy as NULL = removed). ``group='right'`` mirrors.
    The one side MUST be unique per match key — duplicates make the
    query ambiguous, and the plan raises at execution exactly like
    Prometheus's "found duplicate series for the match group" (a window
    count over the one side feeds a raise_error filter; the one side is
    post-aggregation tiny, so the extra exchange is negligible).
    """
    extra_labels = extra_labels or []
    keys = ["bucket_ts", *match_labels]
    many_df, one_df = (left, right) if group == "left" else (right, left)

    one_cols = [*keys, F.col("value").alias("_ov")]
    for lbl in extra_labels:
        col = F.col(lbl) if lbl in one_df.columns else F.lit(None).cast("string")
        one_cols.append(col.alias(f"_x_{lbl}"))
    one = one_df.select(*one_cols)
    from pyspark.sql import Window

    one = one.withColumn(
        "_n", F.count(F.lit(1)).over(Window.partitionBy(*keys))
    ).alias("_r")

    many_keep = [c for c in many_labels if c not in extra_labels]
    many = many_df.select(
        *dict.fromkeys([*keys, *many_keep]),
        F.col("value").alias("_mv"),
    ).alias("_l")

    joined = many.join(one, _null_safe_cond(keys), "inner").filter(
        F.when(
            F.col("_n") > 1,
            F.raise_error(
                F.lit(
                    "promql: found duplicate series for the match group on "
                    "the one side of group_" + group
                )
            ).cast("boolean"),
        ).otherwise(F.lit(True))
    )
    lv, rv = (
        (F.col("_mv"), F.col("_ov"))
        if group == "left"
        else (F.col("_ov"), F.col("_mv"))
    )
    value, keep = _apply_op(op, lv, rv, bool_mode)
    out = joined.withColumn("value", value)
    if keep is not None:
        out = out.filter(keep)
    out_cols = [F.col(f"_l.{k}").alias(k) for k in keys]
    out_cols += [F.col(f"_l.{c}").alias(c) for c in many_keep if c not in keys]
    out_cols += [F.col(f"_x_{lbl}").alias(lbl) for lbl in extra_labels]
    return out.select(*out_cols, "value")


def vector_scalar(
    df: DataFrame,
    op: str,
    scalar: float | Column,
    scalar_on_left: bool = False,
    bool_mode: bool = False,
) -> DataFrame:
    """vector <op> scalar (J5): broadcast the scalar to every series.

    ``scalar`` may be a Column over the df's own columns — the PromQL
    compiler passes ``time()`` expressions as bucket_ts-derived columns
    so scalar semantics stay per-bucket without a join."""
    s = scalar if isinstance(scalar, Column) else F.lit(scalar)
    lv = s if scalar_on_left else F.col("value")
    rv = F.col("value") if scalar_on_left else s
    value, keep = _apply_op(op, lv, rv, bool_mode)
    if scalar_on_left and op in _CMP and not bool_mode:
        # filter comparisons keep the VECTOR element's value; _apply_op
        # returns `left`, which here is the scalar constant
        value = F.col("value")
    out = df.withColumn("value", value)
    if keep is not None:
        out = out.filter(keep)
    return out


def vector_or(
    left: DataFrame,
    right: DataFrame,
    match_labels: list[str],
) -> DataFrame:
    """LHS ∪ RHS preferring LHS on key collision (J2)."""
    keys = ["bucket_ts", *match_labels]
    lhs = left.select(*keys, F.col("value").alias("_lv")).alias("_l")
    rhs = right.select(*keys, F.col("value").alias("_rv")).alias("_r")
    joined = lhs.join(rhs, _null_safe_cond(keys), "full_outer")
    # matched rows have null-safely-equal keys, so coalesce picks the
    # same identity from whichever side is present (a both-NULL matched
    # label stays NULL, correctly)
    out_keys = [
        F.coalesce(F.col(f"_l.{k}"), F.col(f"_r.{k}")).alias(k) for k in keys
    ]
    return joined.select(
        *out_keys, F.coalesce("_lv", "_rv").alias("value")
    )


def vector_and(
    left: DataFrame,
    right: DataFrame,
    match_labels: list[str],
) -> DataFrame:
    """LHS rows whose (bucket, key) exists in RHS (J3) — left_semi."""
    keys = ["bucket_ts", *match_labels]
    lhs = left.alias("_l")
    rhs = right.select(*keys).distinct().alias("_r")
    return lhs.join(rhs, _null_safe_cond(keys), "left_semi")


def vector_unless(
    left: DataFrame,
    right: DataFrame,
    match_labels: list[str],
) -> DataFrame:
    """LHS rows whose (bucket, key) is absent from RHS (J4) — left_anti."""
    keys = ["bucket_ts", *match_labels]
    lhs = left.alias("_l")
    rhs = right.select(*keys).distinct().alias("_r")
    return lhs.join(rhs, _null_safe_cond(keys), "left_anti")
