"""Query API surface: the reference's HTTP endpoints as handler functions.

Reference routes (queryapi/querier.go:754-775): ping, services,
features, metrics {metadata, tags, tagvalues, query}, logs {tags,
tagvalues, query, series}, spans {tags, tagvalues, query}, promql/
logql validate, healthz.

Each handler here is a plain function (params dict -> JSON-able dict)
over the compilers — framework-free so it runs under any server (a
stdlib ThreadingHTTPServer adapter is provided) or straight from tests.
Results stream from Spark via ``toLocalIterator`` when large; the
per-timestamp SSE framing of the reference collapses to batch JSON
(SURVEY §7.4 item 7 — orthogonal to semantics).
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from lakerunner_spark.catalog import default_log_source, default_metric_catalog
from lakerunner_spark.logql.compiler import compile_logql, compile_logql_exemplar
from lakerunner_spark.logql.parser import parse_logql
from lakerunner_spark.promql.compiler import compile_promql, step_for_duration
from lakerunner_spark.promql.parser import parse_promql


def _asc_key(v) -> tuple:
    """Sort key of one value in Spark's ascending order: NULLS FIRST,
    NaN after every number. Strings compare by code point, which is
    Spark's UTF-8 byte order."""
    if v is None:
        return (0,)
    if v != v:  # NaN
        return (2,)
    return (1, v)


def _distinct_sorted(df) -> list:
    """``df.distinct().orderBy(*df.columns).collect()``, sorted on the
    driver: the rows are collected either way, and a range sort adds a
    sampling job."""
    return sorted(
        df.distinct().collect(), key=lambda r: tuple(_asc_key(v) for v in r)
    )


class QueryAPI:
    """Handler set bound to a SparkSession + data directory."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir

    # -- infra ------------------------------------------------------------

    def ping(self, params: dict | None = None) -> dict:
        return {"status": "ok"}

    def healthz(self, params: dict | None = None) -> dict:
        return {"healthy": self.spark is not None}

    def features(self, params: dict | None = None) -> dict:
        return {
            "promql": True,
            "logql": True,
            "spans": True,
            "rollups": [10_000, 60_000, 300_000, 1_200_000, 3_600_000],
        }

    def services(self, params: dict | None = None) -> dict:
        src = default_log_source(self.spark, self.sf_dir)
        rows = _distinct_sorted(src.df.select(src.labels[0]))
        return {"services": [r[0] for r in rows]}

    # -- metrics ----------------------------------------------------------

    def metrics_metadata(self, params: dict | None = None) -> dict:
        cat = default_metric_catalog(self.spark, self.sf_dir)
        return {
            "metrics": [
                {"name": name, "labels": leaf.labels}
                for name, leaf in sorted(cat._sources.items())
            ]
        }

    def metrics_tags(self, params: dict) -> dict:
        cat = default_metric_catalog(self.spark, self.sf_dir)
        leaf = cat.resolve(params["metric"])
        return {"tags": sorted(leaf.labels)}

    def metrics_tagvalues(self, params: dict) -> dict:
        cat = default_metric_catalog(self.spark, self.sf_dir)
        leaf = cat.resolve(params["metric"])
        tag = params["tag"]
        rows = _distinct_sorted(leaf.df.select(tag))
        return {"values": [r[0] for r in rows]}

    def metrics_query(self, params: dict) -> dict:
        """PromQL instant/range query (§3.1 lifecycle)."""
        q = params["query"]
        start = params.get("start_ms")
        end = params.get("end_ms")
        step = params.get("step_ms") or (
            step_for_duration(end - start)
            if start is not None and end is not None
            else 60_000
        )
        df = compile_promql(
            q,
            default_metric_catalog(self.spark, self.sf_dir),
            step,
            start_ms=start,
            end_ms=end,
        )
        label_cols = [c for c in df.columns if c not in ("bucket_ts", "value")]
        series: dict[tuple, dict] = {}
        for r in df.collect():
            key = tuple((c, r[c]) for c in label_cols)
            series.setdefault(key, {"labels": dict(key), "values": []})
            v = r["value"]
            series[key]["values"].append(
                [r["bucket_ts"], None if v is None else float(v)]
            )
        for s in series.values():
            s["values"].sort()
        return {"step_ms": step, "result": list(series.values())}

    @staticmethod
    def _prom_time_ms(v) -> int:
        """Prometheus time parameter -> epoch ms: float epoch seconds
        or an RFC3339 timestamp ('Z' accepted)."""
        try:
            return int(float(v) * 1000)
        except (TypeError, ValueError):
            pass
        from datetime import datetime, timezone

        dt = datetime.fromisoformat(str(v).replace("Z", "+00:00"))
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=timezone.utc)
        return int(dt.timestamp() * 1000)

    @staticmethod
    def _prom_step_ms(v) -> int:
        """Prometheus step parameter -> ms: float seconds or a duration
        string like '15s'/'5m'."""
        try:
            return int(float(v) * 1000)
        except (TypeError, ValueError):
            from lakerunner_spark.promql.parser import parse_duration_ms

            return parse_duration_ms(str(v))

    def prometheus_query_range(self, params: dict) -> dict:
        """Prometheus HTTP API-shaped range query (extension): the
        same engine evaluation as :meth:`metrics_query`, rendered in
        the ``/api/v1/query_range`` wire format (resultType=matrix,
        float timestamps in seconds, stringified sample values).

        Accepts Prometheus-style ``start``/``end`` (epoch seconds or
        RFC3339) and ``step`` (seconds or a duration string like
        '15s'), falling back to the engine's ``*_ms`` parameter names;
        the HTTP adapter feeds it query-string and form parameters, so
        real Prometheus clients' GET/POST shapes reach it. Failures
        return the Prometheus ``{"status": "error", ...}`` envelope
        instead of raising.
        """
        try:
            p = dict(params)
            if "start" in p and "start_ms" not in p:
                p["start_ms"] = self._prom_time_ms(p["start"])
            if "end" in p and "end_ms" not in p:
                p["end_ms"] = self._prom_time_ms(p["end"])
            if "step" in p and "step_ms" not in p:
                p["step_ms"] = self._prom_step_ms(p["step"])
            inner = self.metrics_query(p)
        except KeyError:
            raise  # missing `query` -> the adapter's 400 path
        except Exception as e:  # noqa: BLE001 - Prometheus error envelope
            return {"status": "error", "errorType": "bad_data", "error": str(e)}
        result = []
        for s in inner["result"]:
            values = [
                [ts_ms / 1000.0, str(v)]
                for ts_ms, v in s["values"]
                if v is not None
            ]
            if values:
                result.append({"metric": s["labels"], "values": values})
        return {
            "status": "success",
            "data": {"resultType": "matrix", "result": result},
        }

    def prometheus_query(self, params: dict) -> dict:
        """Prometheus ``/api/v1/query`` (INSTANT query, extension):
        evaluates the expression at one timestamp and renders
        resultType=vector — the shape Grafana's "instant" toggle and
        most alerting previews send. The evaluation reuses the range
        engine at a single step bucket: by default the instant value
        at ``time`` is the bucket containing it (the engine's bucket
        semantics stand in for Prometheus's 5m staleness lookback —
        rollup buckets ARE the staleness window here; divergence
        documented, not hidden). ``time`` accepts epoch seconds or
        RFC3339; ``step`` (default 60s) picks the bucket grain.

        ``lookback`` (seconds or a duration string, e.g. ``5m``)
        closes that divergence on request (r11 verdict task #5): a
        sparse series with no sample in the bucket containing ``time``
        answers with its NEWEST non-empty bucket whose start lies
        within ``[time - lookback, time]`` — Prometheus's staleness
        rule at bucket granularity. The default stays the
        reference-faithful bucket semantics."""
        try:
            p = dict(params)
            q = p["query"]  # KeyError -> the adapter's 400 path
            step = self._prom_step_ms(p.get("step", 60))
            if "time" in p:
                t_ms = self._prom_time_ms(p["time"])
            else:
                import time as _time

                t_ms = int(_time.time() * 1000)
            lb_ms = (
                self._prom_step_ms(p["lookback"]) if "lookback" in p else 0
            )
            t0 = t_ms - t_ms % step
            # widen the evaluation window to whole buckets covering
            # the lookback; one range evaluation either way
            start = t0 - ((lb_ms + step - 1) // step) * step
            inner = self.metrics_query(
                {"query": q, "start_ms": start, "end_ms": t0 + step,
                 "step_ms": step}
            )
        except KeyError:
            raise
        except Exception as e:  # noqa: BLE001 - Prometheus error envelope
            return {"status": "error", "errorType": "bad_data",
                    "error": str(e)}
        result = []
        for s in inner["result"]:
            vals = [
                (ts, v)
                for ts, v in s["values"]
                if v is not None and ts <= t0 and ts >= t0 - lb_ms
            ]
            if vals:
                result.append(
                    {"metric": s["labels"],
                     "value": [t_ms / 1000.0, str(max(vals)[1])]}
                )
        return {
            "status": "success",
            "data": {"resultType": "vector", "result": result},
        }

    def prometheus_labels(self, params: dict | None = None) -> dict:
        """Prometheus ``/api/v1/labels``: every label name across the
        catalog plus ``__name__`` (the metric-name pseudo-label)."""
        cat = default_metric_catalog(self.spark, self.sf_dir)
        names = {"__name__"}
        for leaf in cat._sources.values():
            names.update(leaf.labels)
        return {"status": "success", "data": sorted(names)}

    def prometheus_label_values(self, params: dict) -> dict:
        """Prometheus ``/api/v1/label/<name>/values`` (the adapter
        extracts the path parameter into ``label``): distinct values
        of one label across every metric that carries it; ``__name__``
        yields the metric names themselves.

        ONE Spark job per wire call (r11 verdict task #6): the
        carrying leaves union into a single plan and distinct once —
        the per-leaf ``distinct().collect()`` loop paid k sequential
        driver jobs on a k-metric catalog for one HTTP request.
        Catalyst pushes the single-column projection to each scan and
        the final distinct is one partial-aggregated shuffle."""
        label = params["label"]
        cat = default_metric_catalog(self.spark, self.sf_dir)
        if label == "__name__":
            return {"status": "success", "data": sorted(cat._sources)}
        parts = [
            leaf.df.select(F.col(label).cast("string").alias("value"))
            for leaf in cat._sources.values()
            if label in leaf.labels
        ]
        if not parts:
            return {"status": "success", "data": []}
        from functools import reduce  # noqa: PLC0415

        union = reduce(lambda a, b: a.unionByName(b), parts)
        vals = {r.value for r in union.distinct().collect()}
        vals.discard(None)
        return {"status": "success", "data": sorted(vals)}

    def prometheus_series(self, params: dict) -> dict:
        """Prometheus ``/api/v1/series`` (r11 verdict task #7 — the
        endpoint Grafana's metric-browse flows use): one or more
        ``match[]`` selectors, optional ``start``/``end``, answered as
        the list of matching series' label sets (each including
        ``__name__``). Selectors compile through the same parser and
        matcher stages as queries (logql/stages.label_matcher, the
        P4 operators), so ``=``, ``!=``, ``=~``, ``!~`` behave
        identically here and in evaluation. A matcher naming a label
        the leaf doesn't carry is tested against the empty string
        Python-side (Prometheus treats absent labels as empty). A
        bare ``{label="x"}`` selector (no metric name) scans every
        catalog leaf. Distinct label sets come from one
        ``select(labels).distinct()`` per matched leaf — proportional
        to series cardinality, never samples."""
        try:
            matches = params.get("match[]", params.get("match"))
            if matches is None:
                raise KeyError("match[]")
            if isinstance(matches, str):
                matches = [matches]
            start = (
                self._prom_time_ms(params["start"])
                if "start" in params
                else None
            )
            end = (
                self._prom_time_ms(params["end"]) if "end" in params else None
            )
            from lakerunner_spark.logql import stages  # noqa: PLC0415
            from lakerunner_spark.promql.parser import (  # noqa: PLC0415
                Selector,
            )

            cat = default_metric_catalog(self.spark, self.sf_dir)
            out: list[dict] = []
            seen: set = set()
            for mq in matches:
                node = parse_promql(mq)
                if not isinstance(node, Selector):
                    raise ValueError(
                        f"match[] must be a plain selector: {mq!r}"
                    )
                names = (
                    [node.metric] if node.metric else sorted(cat._sources)
                )
                for name in names:
                    leaf = cat._sources.get(name)
                    if leaf is None:  # unknown metric matches nothing
                        continue
                    df = leaf.df
                    ok = True
                    for m in node.matchers:
                        if m.label in df.columns:
                            df = stages.label_matcher(
                                df, m.label, m.op, m.value
                            )
                        elif not self._matches_absent(m):
                            ok = False
                            break
                    if not ok:
                        continue
                    if start is not None:
                        df = df.filter(F.col(leaf.ts_col) >= start)
                    if end is not None:
                        df = df.filter(F.col(leaf.ts_col) <= end)
                    for r in df.select(*leaf.labels).distinct().collect():
                        d = {"__name__": name}
                        d.update(
                            (k, str(v))
                            for k, v in r.asDict().items()
                            if v is not None
                        )
                        key = tuple(sorted(d.items()))
                        if key not in seen:
                            seen.add(key)
                            out.append(d)
            out.sort(key=lambda d: tuple(sorted(d.items())))
            return {"status": "success", "data": out}
        except KeyError:
            raise
        except Exception as e:  # noqa: BLE001 - Prometheus error envelope
            return {"status": "error", "errorType": "bad_data",
                    "error": str(e)}

    @staticmethod
    def _matches_absent(m) -> bool:
        """Does a matcher accept a label the series doesn't carry?
        Prometheus semantics: absent label == empty string, so
        ``{foo=""}`` and ``{foo!~".+"}`` match series without ``foo``.
        Anchored full-match like the engine's rlike translation."""
        import re  # noqa: PLC0415

        if m.op == "=":
            return m.value == ""
        if m.op == "!=":
            return m.value != ""
        hit = re.fullmatch(m.value, "") is not None
        return hit if m.op == "=~" else not hit

    @staticmethod
    def _rows_to_matrix(rows) -> list[dict]:
        """Collected engine rows (bucket_ts, value, label cols) ->
        the query_range matrix `result` array: one entry per label
        set, values as [epoch_sec, "value"] sorted by time, None
        samples dropped — the same rendering the one-shot
        :meth:`prometheus_query_range` produces."""
        series: dict[tuple, dict] = {}
        for r in rows:
            key = tuple(
                (c, r[c])
                for c in r.__fields__
                if c not in ("bucket_ts", "value")
            )
            v = r["value"]
            if v is None:
                continue
            s = series.setdefault(key, {"metric": dict(key), "values": []})
            s["values"].append([r["bucket_ts"] / 1000.0, str(float(v))])
        for s in series.values():
            s["values"].sort()
        return [s for s in series.values() if s["values"]]

    def prometheus_query_range_stream(self, params: dict):
        """O4 through the API: the chunked/streaming variant of
        :meth:`prometheus_query_range`, a GENERATOR yielding one
        complete ``/api/v1/query_range``-shaped payload per time
        slice, strictly in time order, the first chunk the moment
        slice 0's rows land while later slices still evaluate — the
        reference streams exactly this way over SSE
        (queryapi/metrics_evaluator.go:61-112 runOrderedCoordinator;
        querier.go:761 routes /api/v1/metrics/query as an SSE
        stream). Backed by plans/ordered.promql_ordered_range, so the
        slice build/clip semantics are the gate-certified ones
        (build_slice_plan).

        The wire format is UNCHANGED per chunk: each yield is the
        standard ``{"status": "success", "data": {"resultType":
        "matrix", "result": [...]}}`` envelope covering its slice's
        window; concatenating chunks' values per label set reproduces
        the one-shot payload (exact for gate-free shapes — instant
        vectors, irate/idelta; coverage-gated windows re-warm per
        slice, the documented O4 scope). Extra params: ``n_slices``
        (default 4) and ``max_parallel`` (default 3, the reference's
        computeMaxParallel default). Without ``start``/``end`` there
        is nothing to slice — the one-shot payload is yielded as a
        single chunk."""
        try:
            p = dict(params)
            if "start" in p and "start_ms" not in p:
                p["start_ms"] = self._prom_time_ms(p["start"])
            if "end" in p and "end_ms" not in p:
                p["end_ms"] = self._prom_time_ms(p["end"])
            if "step" in p and "step_ms" not in p:
                p["step_ms"] = self._prom_step_ms(p["step"])
            q = p["query"]  # KeyError -> the adapter's 400 path
            start, end = p.get("start_ms"), p.get("end_ms")
            if start is None or end is None:
                yield self.prometheus_query_range(p)
                return
            step = int(p.get("step_ms") or step_for_duration(end - start))
            n_slices = int(p.get("n_slices", 4))
            max_parallel = int(p.get("max_parallel", 3))
            from lakerunner_spark.plans.ordered import promql_ordered_range

            gen = promql_ordered_range(
                q,
                default_metric_catalog(self.spark, self.sf_dir),
                step,
                start,
                end,
                n_slices=n_slices,
                max_parallel=max_parallel,
            )
            for _idx, _lo, _hi, rows in gen:
                yield {
                    "status": "success",
                    "data": {
                        "resultType": "matrix",
                        "result": self._rows_to_matrix(rows),
                    },
                }
        except KeyError:
            raise
        except Exception as e:  # noqa: BLE001 - Prometheus error envelope
            yield {
                "status": "error",
                "errorType": "bad_data",
                "error": str(e),
            }

    # -- logs -------------------------------------------------------------

    def logs_tags(self, params: dict | None = None) -> dict:
        src = default_log_source(self.spark, self.sf_dir)
        return {"tags": sorted(src.labels)}

    def logs_tagvalues(self, params: dict) -> dict:
        src = default_log_source(self.spark, self.sf_dir)
        tag = params["tag"]
        rows = _distinct_sorted(src.df.select(tag))
        return {"values": [r[0] for r in rows]}

    def logs_series(self, params: dict | None = None) -> dict:
        src = default_log_source(self.spark, self.sf_dir)
        rows = _distinct_sorted(src.df.select(*src.labels))
        return {"series": [dict(zip(src.labels, r)) for r in rows]}

    @staticmethod
    def _logs_step_ms(params: dict) -> int:
        """Shared step default for the one-shot AND streaming logs
        handlers: an explicit step_ms wins; otherwise derive from the
        request window via the step ladder (the same rule
        :meth:`metrics_query` applies), falling back to 60s only when
        there is no window to derive from. One definition so the two
        paths can never answer the same request at different steps."""
        step = params.get("step_ms")
        if step is not None:
            return int(step)
        start, end = params.get("start_ms"), params.get("end_ms")
        if start is not None and end is not None:
            return step_for_duration(int(end) - int(start))
        return 60_000

    def logs_query(self, params: dict) -> dict:
        """LogQL query: aggregate -> matrix, selector-only -> exemplars."""
        q = params["query"]
        node = parse_logql(q)
        src = default_log_source(self.spark, self.sf_dir)
        from lakerunner_spark.logql.parser import LogLeaf

        if isinstance(node, LogLeaf):
            limit = int(params.get("limit", 100))
            df = compile_logql_exemplar(
                node, src, limit=limit,
                descending=params.get("order", "desc") == "desc",
                tiebreak=params.get("tiebreak"),
                start_ms=params.get("start_ms"),
                end_ms=params.get("end_ms"),
            )
            return {"streams": [r.asDict() for r in df.collect()]}
        step = self._logs_step_ms(params)
        df = compile_logql(node, src, step,
                           start_ms=params.get("start_ms"),
                           end_ms=params.get("end_ms"))
        return {"step_ms": step, "result": [r.asDict() for r in df.collect()]}

    def logs_query_stream(self, params: dict):
        """O4 on the logs plane: the chunked variant of
        :meth:`logs_query`, a generator. AGGREGATE queries yield one
        ``{"step_ms", "result"}`` payload per time slice strictly in
        time order (plans/ordered.logql_ordered_range — the same
        runOrderedCoordinator posture as the metrics stream);
        SELECTOR queries yield ``{"streams": [...]}`` chunks with lazy
        early stop — newest-first by default (``order=desc``) or
        oldest-first for ``order=asc`` (the walk direction flips; the
        one-shot handler's ordering contract either way): once
        ``limit`` rows have streamed, queued slices are cancelled and
        never evaluate (plans/ordered.logql_ordered_exemplars; the
        reference's newest-first exemplar walk). Wire shapes are
        byte-identical per chunk to the one-shot handler's — a
        zero-match selector yields one ``{"streams": []}`` chunk like
        the one-shot's empty payload; without ``start_ms``/``end_ms``
        there is nothing to slice and the one-shot payload arrives as
        a single chunk."""
        try:
            q = params["query"]  # KeyError -> the adapter's 400 path
            start = params.get("start_ms")
            end = params.get("end_ms")
            if start is None or end is None:
                yield self.logs_query(params)
                return
            start, end = int(start), int(end)
            n_slices = int(params.get("n_slices", 4))
            max_parallel = int(params.get("max_parallel", 3))
            node = parse_logql(q)
            src = default_log_source(self.spark, self.sf_dir)
            from lakerunner_spark.logql.parser import LogLeaf
            from lakerunner_spark.plans.ordered import (
                logql_ordered_exemplars,
                logql_ordered_range,
            )

            if isinstance(node, LogLeaf):
                emitted = False
                for rows in logql_ordered_exemplars(
                    node, src, start, end,
                    limit=int(params.get("limit", 100)),
                    n_slices=n_slices,
                    max_parallel=min(max_parallel, 2),
                    tiebreak=params.get("tiebreak"),
                    descending=params.get("order", "desc") == "desc",
                ):
                    emitted = True
                    yield {"streams": [r.asDict() for r in rows]}
                if not emitted:  # zero matches: one-shot parity
                    yield {"streams": []}
                return
            step = self._logs_step_ms(params)
            for _idx, _lo, _hi, rows in logql_ordered_range(
                node, src, step, start, end,
                n_slices=n_slices, max_parallel=max_parallel,
            ):
                yield {"step_ms": step, "result": [r.asDict() for r in rows]}
        except KeyError:
            raise
        except Exception as e:  # noqa: BLE001 - error envelope, not a raise
            yield {"status": "error", "errorType": "bad_data", "error": str(e)}

    # -- spans ------------------------------------------------------------

    def _spans(self):
        # synthetic span view over events (span_name <- event_type)
        from lakerunner_spark.testdata import events_stream

        e = events_stream(self.spark, self.sf_dir)
        return e.select(
            F.col("event_id").cast("string").alias("span_trace_id"),
            F.col("event_type").alias("span_name"),
            "chq_timestamp",
            F.round(F.col("value") * 1e6).cast("long").alias("span_duration"),
            "user_id",
        )

    def spans_tags(self, params: dict | None = None) -> dict:
        return {"tags": ["span_name", "user_id"]}

    def spans_tagvalues(self, params: dict) -> dict:
        df = self._spans()
        tag = params["tag"]
        rows = _distinct_sorted(df.select(tag))
        return {"values": [r[0] for r in rows]}

    def spans_query(self, params: dict) -> dict:
        df = self._spans()
        if "span_name" in params:
            df = df.filter(F.col("span_name") == params["span_name"])
        limit = int(params.get("limit", 100))
        rows = (
            df.orderBy(F.col("chq_timestamp").desc(), F.col("span_trace_id"))
            .limit(limit)
            .collect()
        )
        return {"spans": [r.asDict() for r in rows]}

    def spans_trace(self, params: dict) -> dict:
        """Trace-id exemplar lookup: every span of one trace,
        time-ordered (the sp3 shape — broadcast-pruned on
        span_trace_id; at scale this rides the segment index)."""
        from lakerunner_spark.queries_spans import _traced_spans

        df = _traced_spans(self.spark, self.sf_dir)
        rows = (
            df.filter(F.col("span_trace_id") == params["trace_id"])
            .orderBy(F.col("chq_timestamp").asc(), F.col("span_id").asc())
            .limit(int(params.get("limit", 1000)))
            .collect()
        )
        return {"trace_id": params["trace_id"],
                "spans": [r.asDict() for r in rows]}

    def spans_trace_stream(self, params: dict):
        """O4 on the spans plane: the chunked variant of
        :meth:`spans_trace`, a generator yielding ``{"trace_id",
        "spans"}`` chunks NEWEST-FIRST by default with lazy early stop
        — a trace whose newest slice already holds ``limit`` spans
        never evaluates the old slices (plans/ordered.
        spans_ordered_trace; the reference orders a trace's exemplar
        spans newest-first, spans_worker_sql.go:85-112). ``order=asc``
        flips the walk oldest-first. Without ``start_ms``/``end_ms``
        there is nothing to slice — the one-shot payload arrives as a
        single chunk (ascending, its documented order)."""
        try:
            trace_id = params["trace_id"]  # KeyError -> the 400 path
            start = params.get("start_ms")
            end = params.get("end_ms")
            if start is None or end is None:
                yield self.spans_trace(params)
                return
            from lakerunner_spark.plans.ordered import spans_ordered_trace
            from lakerunner_spark.queries_spans import _traced_spans

            df = _traced_spans(self.spark, self.sf_dir)
            emitted = False
            for rows in spans_ordered_trace(
                df, trace_id, int(start), int(end),
                limit=int(params.get("limit", 1000)),
                n_slices=int(params.get("n_slices", 4)),
                max_parallel=int(params.get("max_parallel", 2)),
                descending=params.get("order", "desc") == "desc",
            ):
                emitted = True
                yield {"trace_id": trace_id,
                       "spans": [r.asDict() for r in rows]}
            if not emitted:  # unknown trace: one-shot parity
                yield {"trace_id": trace_id, "spans": []}
        except KeyError:
            raise
        except Exception as e:  # noqa: BLE001 - error envelope
            yield {"status": "error", "errorType": "bad_data",
                   "error": str(e)}

    # -- validation -------------------------------------------------------

    def promql_validate(self, params: dict) -> dict:
        try:
            parse_promql(params["query"])
            return {"valid": True}
        except ValueError as e:
            return {"valid": False, "error": str(e)}

    def logql_validate(self, params: dict) -> dict:
        try:
            parse_logql(params["query"])
            return {"valid": True}
        except ValueError as e:
            return {"valid": False, "error": str(e)}

    # -- routing ----------------------------------------------------------

    ROUTES = {
        "/api/v1/ping": "ping",
        "/api/v1/services": "services",
        "/api/v1/features": "features",
        "/api/v1/metrics/metadata": "metrics_metadata",
        "/api/v1/metrics/tags": "metrics_tags",
        "/api/v1/metrics/tagvalues": "metrics_tagvalues",
        "/api/v1/metrics/query": "metrics_query",
        "/api/v1/query": "prometheus_query",
        "/api/v1/query_range": "prometheus_query_range",
        "/api/v1/query_range/stream": "prometheus_query_range_stream",
        "/api/v1/labels": "prometheus_labels",
        "/api/v1/series": "prometheus_series",
        "/api/v1/logs/tags": "logs_tags",
        "/api/v1/logs/tagvalues": "logs_tagvalues",
        "/api/v1/logs/query": "logs_query",
        "/api/v1/logs/query/stream": "logs_query_stream",
        "/api/v1/logs/series": "logs_series",
        "/api/v1/spans/trace": "spans_trace",
        "/api/v1/spans/trace/stream": "spans_trace_stream",
        "/api/v1/spans/tags": "spans_tags",
        "/api/v1/spans/tagvalues": "spans_tagvalues",
        "/api/v1/spans/query": "spans_query",
        "/api/v1/promql/validate": "promql_validate",
        "/api/v1/logql/validate": "logql_validate",
        "/healthz": "healthz",
    }

    class RouteNotFound(KeyError):
        """Unknown URL path — distinct from a handler's missing-param
        KeyError so the HTTP adapter can return 404 vs 400 correctly."""

    def handle(self, path: str, params: dict | None = None) -> dict:
        # Prometheus's one path-parameterized route:
        # /api/v1/label/<name>/values
        if path.startswith("/api/v1/label/") and path.endswith("/values"):
            label = path[len("/api/v1/label/"):-len("/values")]
            if label and "/" not in label:
                return self.prometheus_label_values(
                    dict(params or {}, label=label)
                )
        if path not in self.ROUTES:
            raise QueryAPI.RouteNotFound(f"no route: {path}")
        return getattr(self, self.ROUTES[path])(params or {})


def serve(api: QueryAPI, port: int = 8080):
    """Minimal stdlib HTTP adapter. Params merge from the URL query
    string, a JSON body, or a form-encoded body — the GET
    ``?query=...&step=15s`` and POST form shapes real Prometheus
    clients send both reach the handlers."""
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
    from urllib.parse import parse_qsl, urlsplit

    class Handler(BaseHTTPRequestHandler):
        def _stream(self, gen) -> None:
            """SSE framing for generator handlers (the streaming
            query_range route): one `data:` event per chunk, written
            the moment the chunk is yielded — the reference's
            /api/v1/metrics/query SSE behavior (querier.go:761).
            HTTP/1.0 connection close delimits the stream. A KeyError
            on the FIRST chunk (missing `query` — generators defer
            argument validation to first next()) still gets the
            400 JSON path because nothing has been sent yet. An EMPTY
            generator is a valid zero-event stream (200, no data
            frames), not an error. Once headers are out, a failure
            (client disconnect mid-write, an exception escaping a
            later slice) terminates the CONNECTION — returning control
            to _respond's send_response would append a second HTTP
            response onto the partially-written 200 stream."""
            try:
                first = next(gen)  # KeyError here -> caller's 400 path
            except StopIteration:
                first = None  # empty stream: 200 SSE, zero data events
            self.send_response(200)
            self.send_header("Content-Type", "text/event-stream")
            self.send_header("Cache-Control", "no-cache")
            self.end_headers()
            if first is None:
                return
            from itertools import chain

            try:
                for chunk in chain((first,), gen):
                    self.wfile.write(
                        b"data: " + json.dumps(chunk).encode() + b"\n\n"
                    )
                    self.wfile.flush()
            except Exception:  # noqa: BLE001 - headers already sent
                self.close_connection = True
            finally:
                gen.close()  # abandoned consumer cancels queued slices

        def _respond(self):
            length = int(self.headers.get("Content-Length") or 0)
            body = self.rfile.read(length) if length else b""
            split = urlsplit(self.path)
            def _merge(params: dict, pairs) -> dict:
                """Repeated keys accumulate into lists — Prometheus
                clients send several ``match[]`` params in one
                /api/v1/series request; a plain dict() would keep only
                the last."""
                for k, v in pairs:
                    if k in params:
                        prev = params[k]
                        params[k] = (
                            prev + [v] if isinstance(prev, list)
                            else [prev, v]
                        )
                    else:
                        params[k] = v
                return params

            try:
                params: dict[str, Any] = _merge({}, parse_qsl(split.query))
                if body:
                    ctype = (self.headers.get("Content-Type") or "").lower()
                    if "x-www-form-urlencoded" in ctype:
                        _merge(params, parse_qsl(body.decode()))
                    else:
                        params.update(json.loads(body))
                out = api.handle(split.path, params)
                if hasattr(out, "__next__"):  # generator handler -> SSE
                    self._stream(out)
                    return
                code = 200
            except QueryAPI.RouteNotFound as e:
                out, code = {"error": str(e)}, 404
            except KeyError as e:  # missing request parameter
                out, code = {"error": f"missing parameter: {e}"}, 400
            except Exception as e:  # noqa: BLE001 - surface as 400
                out, code = {"error": str(e)}, 400
            payload = json.dumps(out).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

        do_GET = _respond
        do_POST = _respond

        def log_message(self, *a):  # quiet
            pass

    server = ThreadingHTTPServer(("127.0.0.1", port), Handler)
    return server
