"""The QueryAPI requests of the ``query`` workload (``wl_query``):
query string in -> rendered JSON out, through ``QueryAPI.handle``.

A fixed rotation of request kinds over an sf0.1-sized ``events`` table:
a PromQL range query, a PromQL instant query, a LogQL aggregate whose
window equals its step, a LogQL line-filter exemplar, and the label /
series listings. Each round of the rotation moves the query windows to
the next day. Every response is checked against results computed here,
independently, from the same parquet with pandas.
"""

from __future__ import annotations

import json
import math
import os

import pandas as pd

import gen
from workload import Workload

N_EVENTS = 100_000
HOUR_MS = 3_600_000
DAY_MS = gen.DAY_MS
T0 = gen.EPOCH_2024_MS
KINDS = ("range", "instant", "logs_agg", "exemplar", "labels", "label_values", "series", "logs_series")
EXEMPLAR_NEEDLE = '"k": 7'
EXEMPLAR_LIMIT = 20


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)


class QueryApi(Workload):
    def inputs(self, work: str, seed: int, n_ops: int, digest: gen.Digest) -> None:
        self.sf = os.path.join(work, "sf")
        gen.write_tables(self.sf, seed, {"events": N_EVENTS}, digest)
        ev = pd.read_parquet(os.path.join(self.sf, "events.parquet"))
        ev["ms"] = ev["ts"].astype("int64") // 1000
        ev["bucket"] = ev["ms"] // HOUR_MS * HOUR_MS
        self.ev = ev
        self.requests = [self._request(i) for i in range(n_ops)]
        empty = [i for i, r in enumerate(self.requests) if not r[3]]
        if empty:
            raise RuntimeError(f"requests {empty} have an empty expected result on these inputs")

    def _request(self, i: int) -> tuple[str, dict, str, object, int]:
        """Op ``i`` -> (path, params, kind, expected, input rows).
        Windows follow the engine's bucket convention: a ``[1h]`` range
        at a 1h step over ``[start, end)`` reports buckets
        ``start - 1h .. end - 1h``, each holding ``[b, b + 1h)``."""
        ev = self.ev
        kind = KINDS[i % len(KINDS)]
        day = 1 + (i // len(KINDS)) % 28
        start, end = T0 + day * DAY_MS, T0 + (day + 1) * DAY_MS
        win = ev[(ev.ms >= start - HOUR_MS) & (ev.ms < end)]
        if kind == "range":
            g = win.groupby(["event_type", "bucket"]).value.sum()
            want = {(t, b): v for (t, b), v in g.items()}
            return ("/api/v1/query_range",
                    {"query": "sum by (event_type) (sum_over_time(events[1h]))",
                     "start_ms": start, "end_ms": end, "step_ms": HOUR_MS},
                    kind, want, len(win))
        if kind == "instant":
            t0 = start + (i % 24) * HOUR_MS
            hour = ev[(ev.ms >= t0) & (ev.ms < t0 + HOUR_MS)]
            want = hour.groupby("event_type").size().astype(float).to_dict()
            return ("/api/v1/query",
                    {"query": "sum by (event_type) (count_over_time(events[1h]))",
                     "time": (t0 + HOUR_MS // 2) / 1000.0, "step": "1h"},
                    kind, want, len(hour))
        if kind == "logs_agg":
            g = win.groupby(["event_type", "bucket"]).size()
            want = {(t, b): float(v) for (t, b), v in g.items()}
            return ("/api/v1/logs/query",
                    {"query": 'sum by (event_type) (count_over_time({event_type=~".+"}[1h]))',
                     "start_ms": start, "end_ms": end, "step_ms": HOUR_MS},
                    kind, want, len(win))
        if kind == "exemplar":
            day_ev = ev[(ev.ms >= start) & (ev.ms < end) & (ev.event_type == "error")]
            hits = day_ev[day_ev.props.str.contains(EXEMPLAR_NEEDLE, regex=False)]
            want = sorted(hits.ms.tolist(), reverse=True)[:EXEMPLAR_LIMIT]
            return ("/api/v1/logs/query",
                    {"query": '{event_type="error"} |= "%s"' % EXEMPLAR_NEEDLE.replace('"', '\\"'),
                     "start_ms": start, "end_ms": end, "limit": EXEMPLAR_LIMIT},
                    kind, want, len(day_ev))
        if kind == "labels":
            return "/api/v1/labels", {}, kind, ["__name__", "event_type", "user_id"], 0
        if kind == "label_values":
            return ("/api/v1/label/event_type/values", {}, kind,
                    sorted(ev.event_type.unique().tolist()), len(ev))
        if kind == "series":
            users = ev[ev.event_type == "error"].user_id.unique()
            want = sorted(str(u) for u in users)
            return ("/api/v1/series", {"match[]": 'events{event_type="error"}'}, kind, want, len(ev))
        want = sorted(ev.event_type.unique().tolist())
        return "/api/v1/logs/series", {}, kind, want, len(ev)

    def prepare(self, ctx) -> None:
        from lakerunner_spark import api as api_mod

        for attr in ("default_metric_catalog", "default_log_source"):
            ctx.patch(api_mod, attr, "catalog.open")
        ctx.patch(api_mod, "compile_promql", "promql.compile", "jobs")
        ctx.patch(api_mod, "compile_logql", "logql.compile", "jobs")
        ctx.patch(api_mod, "compile_logql_exemplar", "logql.compile", "jobs")
        ctx.patch(api_mod, "parse_logql", "logql.parse")
        ctx.trace_parsers()
        self.api = api_mod.QueryAPI(ctx.spark, self.sf)

    def op(self, i: int, ctx) -> tuple[bool, int]:
        path, params, kind, want, rows = self.requests[i]
        with ctx.layer("api.handle", "exec"):
            resp = self.api.handle(path, params)
        with ctx.layer("api.render") as s:
            body = json.dumps(resp).encode()
        if s is not None:
            s.counts["api.response_bytes"] = len(body)
        ok = check(kind, resp, want)
        if not ok:
            ctx.note(f"op {i} ({kind}): response does not match the expected result")
        return ok, rows

    def kind(self, i: int) -> str:
        return KINDS[i % len(KINDS)]


def check(kind: str, resp: dict, want) -> bool:
    """Does a response carry exactly the expected result? An empty
    expected result never passes: it would time an empty answer."""
    if not want:
        return False
    if kind == "range":
        got = {}
        for s in resp["data"]["result"]:
            for ts, v in s["values"]:
                got[(s["metric"]["event_type"], int(round(ts * 1000)))] = float(v)
        return got.keys() == want.keys() and all(_close(got[k], want[k]) for k in want)
    if kind == "instant":
        got = {s["metric"]["event_type"]: float(s["value"][1]) for s in resp["data"]["result"]}
        return got.keys() == want.keys() and all(_close(got[k], want[k]) for k in want)
    if kind == "logs_agg":
        got = {(r["event_type"], r["bucket_ts"]): r["value"] for r in resp["result"] if r["value"]}
        return got.keys() == want.keys() and all(_close(got[k], want[k]) for k in want)
    if kind == "exemplar":
        return [r["chq_timestamp"] for r in resp["streams"]] == want
    if kind in ("labels", "label_values"):
        return resp["data"] == want
    if kind == "series":
        return sorted(s["user_id"] for s in resp["data"]) == want
    return sorted(s["event_type"] for s in resp["series"]) == want
