"""LogQL AST -> DataFrame compiler.

Two modes, matching the reference (queryapi/querier.go + logql/parser.go:62-78):

- **Exemplar** (raw log lines): selector + pipeline -> filtered rows,
  ordered by timestamp with a global limit (O1/O2;
  logql/worker_sql.go:24-163).
- **Aggregate**: the pipeline is rewritten onto the PromQL range/vector
  machinery over synthetic per-row values (promql/rewrite_result.go:32-110
  rewrites onto __logql_logs_total / __logql_log_bytes_total /
  __logql_unwrap_value) — here the synthetic value is just a column:
  1.0 for count/rate, length(line) for bytes_*, the unwrapped numeric
  for unwrap aggs.

The pipeline chain itself is P4-P13 DataFrame transforms; Catalyst
stages filters at their earliest valid point (the reference's
ParserIdx bookkeeping, worker_sql.go:215-266, is subsumed by
dependency-aware filter pushdown).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lakerunner_spark.logql import stages as st
from lakerunner_spark.logql.parser import (
    DecolorizeStage,
    UnpackStage,
    DropStage,
    JsonStage,
    LabelReplaceStage,
    KeepStage,
    LabelFilter,
    LabelFilterOr,
    LabelFormatStage,
    LineFilter,
    LineFormatStage,
    LogfmtStage,
    LogLeaf,
    LogRangeAgg,
    LogVectorAgg,
    RegexpStage,
    parse_logql,
)
from lakerunner_spark.operators.density import quantile_over_time
from lakerunner_spark.operators.range_agg import range_agg
from lakerunner_spark.operators.step_agg import step_agg_raw
from lakerunner_spark.operators.vector_agg import bottomk, topk, vector_agg


@dataclass
class LogSource:
    """The logs table: a line column plus stream-label columns."""

    df: DataFrame
    labels: list[str]
    line_col: str = "log_message"
    ts_col: str = "chq_timestamp"


import re as _re

_TMPL_RE = _re.compile(r"\{\{\s*\.([A-Za-z_][A-Za-z0-9_]*)\s*\}\}")


def _template_column(template: str) -> F.Column:
    """'x={{.a}}!' -> concat(lit('x='), col('a'), lit('!')) —
    the Go-template-to-expression compile (logql/sql_builder.go:652-953)."""
    parts: list[F.Column] = []
    pos = 0
    for m in _TMPL_RE.finditer(template):
        if m.start() > pos:
            parts.append(F.lit(template[pos:m.start()]))
        parts.append(F.coalesce(F.col(m.group(1)).cast("string"), F.lit("")))
        pos = m.end()
    if pos < len(template):
        parts.append(F.lit(template[pos:]))
    return F.concat(*parts) if parts else F.lit("")


def _apply_pipeline(df: DataFrame, leaf: LogLeaf, src: LogSource) -> tuple[DataFrame, list[str]]:
    """Run matchers + stages; return (rows, extracted label columns).

    keep/drop restrict which labels survive into the series identity
    (P13); label_format/line_format compile templates to expressions
    (P10/P11).
    """
    stream = list(src.labels)
    extracted: list[str] = []
    # Loki __error__ semantics, materialized only when the pipeline
    # references it: the json stage emits __error__ per line, and a
    # filter on __error__ with no parser upstream sees the empty string
    wants_error = any(
        (isinstance(s_, LabelFilter) and s_.label == "__error__")
        or (isinstance(s_, LabelFilterOr)
            and any(term.label == "__error__" for term in s_.terms))
        for s_ in leaf.stages
    )
    for m in leaf.matchers:
        df = st.label_matcher(df, m.label, m.op, m.value)
    for stage in leaf.stages:
        if isinstance(stage, KeepStage):
            keep = set(stage.labels)
            removed = [c for c in stream + extracted if c not in keep]
            stream = [c for c in stream if c in keep]
            extracted = [c for c in extracted if c in keep]
            # the label is GONE, not merely hidden from the series
            # identity: a later filter on it must see the absent-label
            # empty value (Loki's missing-label convention), not the
            # pre-keep/drop column
            df = df.drop(*removed)
            continue
        if isinstance(stage, DropStage):
            dropped = set(stage.labels)
            removed = [c for c in stream + extracted if c in dropped]
            stream = [c for c in stream if c not in dropped]
            extracted = [c for c in extracted if c not in dropped]
            df = df.drop(*removed)
            continue
        if isinstance(stage, LabelFormatStage):
            for out, value, is_template in stage.assignments:
                col = _template_column(value) if is_template else F.col(value)
                df = st.label_format(df, out, col)
                if out not in extracted:
                    extracted.append(out)
            continue
        if isinstance(stage, LineFormatStage):
            df = st.line_format(df, _template_column(stage.template),
                                line_col=src.line_col)
            continue
        if isinstance(stage, DecolorizeStage):
            df = st.decolorize(df, line_col=src.line_col)
            continue
        if isinstance(stage, UnpackStage):
            df, keys = st.unpack(df, line_col=src.line_col)
            extracted += [c_ for c_ in keys if c_ not in extracted]
            continue
        if isinstance(stage, LabelReplaceStage):
            df = st.label_replace(df, stage.dst, stage.repl, stage.src, stage.regex)
            if stage.dst not in extracted and stage.dst not in stream:
                extracted.append(stage.dst)
            continue
        if isinstance(stage, LineFilter):
            if stage.ors:
                head = ("ip" if stage.is_ip else "str", stage.needle)
                df = st.line_filter_or(
                    df, stage.op, head, stage.ors, line_col=src.line_col
                )
            elif stage.is_ip:
                df = st.ip_line_filter(
                    df, stage.needle, negate=(stage.op == "!="),
                    line_col=src.line_col,
                )
            else:
                df = st.line_filter(
                    df, stage.op, stage.needle, line_col=src.line_col
                )
        elif isinstance(stage, JsonStage):
            if wants_error and "__error__" not in df.columns:
                df = st.json_error_label(df, line_col=src.line_col)
            if stage.mappings:
                df = st.json_parser(df, stage.mappings, line_col=src.line_col)
                extracted += [c for c in stage.mappings if c not in extracted]
            else:  # | json auto-discovery
                df, keys = st.json_parser_auto(df, line_col=src.line_col)
                extracted += [c for c in keys if c not in extracted]
        elif isinstance(stage, LogfmtStage):
            if wants_error and "__error__" not in df.columns:
                df = st.logfmt_error_label(df, line_col=src.line_col)
            if stage.keys:
                df = st.logfmt_parser(df, stage.keys, line_col=src.line_col)
                extracted += [c for c in stage.keys if c not in extracted]
            else:  # | logfmt auto-discovery
                df, keys = st.logfmt_parser_auto(df, line_col=src.line_col)
                extracted += [c for c in keys if c not in extracted]
        elif isinstance(stage, RegexpStage):
            df = st.regexp_parser(df, stage.pattern, stage.groups, line_col=src.line_col)
            extracted += [c for c in stage.groups if c not in extracted]
        elif isinstance(stage, LabelFilterOr):
            for term in stage.terms:
                if term.label not in df.columns:
                    # same absent-label rule as the single-predicate
                    # branch below: compare against the empty value
                    df = df.withColumn(term.label, F.lit(""))
            df = st.label_filter_or(
                df,
                [(term.label, term.op, term.value, term.conv)
                 for term in stage.terms],
            )
        elif isinstance(stage, LabelFilter):
            if stage.label not in df.columns:
                # __error__: no error-emitting parser ran (json and
                # logfmt emit their own; Loki's regexp/pattern parsers
                # never set __error__) -> every line is clean. Any
                # other absent label filters as the empty value (Loki
                # semantics: `=` never matches, `!=` matches; numeric/
                # unit/ip conversions of "" yield no-match) — an auto-
                # discovery parser that sampled zero rows must not turn
                # into an unresolved-column error
                df = df.withColumn(stage.label, F.lit(""))
            if stage.conv == "ip":
                df = st.ip_label_filter(df, stage.label, stage.op, stage.value)
            elif stage.conv in ("duration", "bytes"):
                df = st.converted_label_filter(
                    df, stage.label,
                    "==" if stage.op == "=" else stage.op,
                    stage.value, stage.conv,
                )
            elif isinstance(stage.value, float):
                df = st.numeric_label_filter(
                    df, stage.label, "==" if stage.op == "=" else stage.op, stage.value
                )
            else:
                df = st.label_matcher(df, stage.label, stage.op, stage.value)
        else:
            raise TypeError(f"logql: unknown stage {type(stage).__name__}")
    return df, stream + [c for c in extracted if c not in stream]


def compile_logql_lines(query, source: LogSource) -> DataFrame:
    """Line mode: the selector+pipeline applied with no ordering or
    limit — the building block under exemplar mode, exposed for callers
    that aggregate the parsed lines themselves."""
    leaf = parse_logql(query) if isinstance(query, str) else query
    if not isinstance(leaf, LogLeaf):
        raise ValueError("logql: line mode takes a selector+pipeline query")
    if leaf.range_ms is not None:
        raise ValueError("logql: line query cannot have a [range]")
    df, _labels = _apply_pipeline(source.df, leaf, source)
    return df


def compile_logql_exemplar(
    query,
    source: LogSource,
    limit: int = 100,
    descending: bool = True,
    tiebreak: list[str] | None = None,
    start_ms: int | None = None,
    end_ms: int | None = None,
) -> DataFrame:
    """Exemplar mode: raw matching lines, newest-first with a global limit.

    Spark plans the order+limit as TakeOrderedAndProject (per-partition
    top-n + single merge — the reference's k-way heap merge O3 with the
    API-side global limit O2, without the custom coordinator).
    """
    leaf = parse_logql(query) if isinstance(query, str) else query
    if not isinstance(leaf, LogLeaf):
        raise ValueError("logql: exemplar mode takes a selector+pipeline query")
    if leaf.range_ms is not None:
        raise ValueError("logql: exemplar query cannot have a [range]")
    rows = source.df
    if start_ms is not None:
        rows = rows.filter(F.col(source.ts_col) >= start_ms)
    if end_ms is not None:
        rows = rows.filter(F.col(source.ts_col) < end_ms)
    df, _labels = _apply_pipeline(rows, leaf, source)
    cols = [source.ts_col, *(tiebreak or [])]
    order = [F.col(c).desc() if descending else F.col(c).asc() for c in cols]
    return df.orderBy(*order).limit(limit)


def compile_logql(
    query,
    source: LogSource,
    step_ms: int,
    start_ms: int | None = None,
    end_ms: int | None = None,
) -> DataFrame:
    """Aggregate mode: range agg (A10) with optional vector agg on top.

    Result columns: bucket_ts, <group labels>, value.
    """
    node = parse_logql(query) if isinstance(query, str) else query
    if isinstance(node, LogLeaf):
        raise ValueError("logql: aggregate mode needs a range aggregation")
    if isinstance(node, (LogRangeAgg, LogVectorAgg)):
        df, _labels = _compile_node(node, source, step_ms, start_ms, end_ms)
        return df
    raise TypeError(f"logql: unknown node {type(node).__name__}")


def _compile_node(
    node, source: LogSource, step_ms: int,
    start_ms: int | None, end_ms: int | None,
) -> tuple[DataFrame, list[str]]:
    """Recursive compile: range agg leaf or (possibly nested) vector
    agg — Loki allows topk(1, sum by (x) (count_over_time(...)))."""
    if isinstance(node, LogRangeAgg):
        return _compile_range(node, source, step_ms, start_ms, end_ms)
    inner_df, labels = _compile_node(
        node.inner, source, step_ms, start_ms, end_ms
    )
    if node.op in ("topk", "bottomk"):
        fn = topk if node.op == "topk" else bottomk
        return fn(inner_df, int(node.param), tiebreak=sorted(labels)), labels
    if node.without is not None:
        keys = [c for c in labels if c not in set(node.without)]
    elif node.by is not None:
        keys = list(node.by)
    else:
        keys = []
    out = vector_agg(
        inner_df.filter(F.col("value").isNotNull()), node.op, by=keys
    )
    return out, keys


def _compile_range(
    node: LogRangeAgg,
    source: LogSource,
    step_ms: int,
    start_ms: int | None,
    end_ms: int | None,
) -> tuple[DataFrame, list[str]]:
    leaf = node.leaf
    df = source.df
    if leaf.offset_ms:
        # value at t comes from t-offset -> shift data forward (same
        # contract as the PromQL leaf; exec_planner.go:71)
        df = df.withColumn(source.ts_col, F.col(source.ts_col) + leaf.offset_ms)
    if start_ms is not None:
        df = df.filter(F.col(source.ts_col) >= start_ms - (leaf.range_ms or 0))
    if end_ms is not None:
        df = df.filter(F.col(source.ts_col) < end_ms)
    df, labels = _apply_pipeline(df, leaf, source)

    # synthetic metric family (rewrite_result.go:32-110); an unwrapped
    # rate takes the unwrap branch instead (Loki: per-second rate of the
    # sum of the unwrapped values — same rewrite the reference applies
    # to rate_counter, rewrite_result.go:73)
    if node.fn == "count_over_time" or (
        node.fn == "rate" and leaf.unwrap is None
    ):
        df = df.withColumn("_v", F.lit(1.0))
        fn = {"count_over_time": "sum_over_time", "rate": "rate"}[node.fn]
    elif node.fn in ("bytes_over_time", "bytes_rate"):
        # byte length, not character count: Loki sums len(entry.Line)
        # in BYTES; F.length counts chars and undercounts non-ASCII
        df = df.withColumn(
            "_v", F.octet_length(F.col(source.line_col)).cast("double")
        )
        fn = {"bytes_over_time": "sum_over_time", "bytes_rate": "rate"}[node.fn]
    else:  # unwrap aggs
        u = leaf.unwrap
        df = st.unwrap(df, u.label, conv=u.conv, out_col="_v")
        df = df.filter(F.col("_v").isNotNull())
        # the unwrapped label becomes the sample value and leaves the
        # series identity (LogQL unwrap semantics)
        labels = [l for l in labels if l != u.label]
        fn = node.fn
        if fn == "quantile_over_time":
            # extension: quantile over the RAW unwrapped samples in the
            # window (Loki semantics), on the PromQL path's route
            out = quantile_over_time(
                df,
                labels,
                leaf.range_ms,
                step_ms,
                node.param,
                source.ts_col,
                "_v",
                None if start_ms is None else start_ms + leaf.range_ms,
                raw_samples=True,
            )
            return out, labels

    s = step_agg_raw(df, step_ms, labels, source.ts_col, "_v")
    out = range_agg(s, fn, leaf.range_ms, step_ms, labels, param=node.param)
    return out, labels
