"""The benchmark traces the API by patching module globals of
``lakerunner_spark.api`` (``perfbench/wl_api.py``). Each patched name
must exist there and be what the handlers call, or the trace silently
reports zero for its layer. The harness's own self-tests run here too.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from lakerunner_spark import api as api_mod
from lakerunner_spark import catalog
from lakerunner_spark.logql import compiler as logql_compiler
from lakerunner_spark.logql import parser as logql_parser
from lakerunner_spark.promql import compiler as promql_compiler

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HOOKS = {
    "default_metric_catalog": catalog,
    "default_log_source": catalog,
    "compile_promql": promql_compiler,
    "compile_logql": logql_compiler,
    "compile_logql_exemplar": logql_compiler,
    "parse_logql": logql_parser,
}
DAY_MS = 86_400_000
T0 = 1_704_067_200_000
# the request kinds of the benchmark's query workload -> hooks each must hit
REQUESTS = {
    "range": (
        "/api/v1/query_range",
        {"query": "sum by (event_type) (sum_over_time(events[1h]))",
         "start_ms": T0, "end_ms": T0 + DAY_MS, "step_ms": 3_600_000},
        {"default_metric_catalog", "compile_promql"},
    ),
    "instant": (
        "/api/v1/query",
        {"query": "sum by (event_type) (count_over_time(events[1h]))",
         "time": (T0 + 1_800_000) / 1000.0, "step": "1h"},
        {"default_metric_catalog", "compile_promql"},
    ),
    "logs_agg": (
        "/api/v1/logs/query",
        {"query": 'sum by (event_type) (count_over_time({event_type=~".+"}[1h]))',
         "start_ms": T0, "end_ms": T0 + DAY_MS, "step_ms": 3_600_000},
        {"default_log_source", "parse_logql", "compile_logql"},
    ),
    "exemplar": (
        "/api/v1/logs/query",
        {"query": '{event_type="error"} |= "\\"k\\": 7"',
         "start_ms": T0, "end_ms": T0 + DAY_MS, "limit": 20},
        {"default_log_source", "parse_logql", "compile_logql_exemplar"},
    ),
    "labels": ("/api/v1/labels", {}, {"default_metric_catalog"}),
    "label_values": (
        "/api/v1/label/event_type/values", {}, {"default_metric_catalog"}
    ),
    "series": (
        "/api/v1/series",
        {"match[]": 'events{event_type="error"}'},
        {"default_metric_catalog"},
    ),
    "logs_series": ("/api/v1/logs/series", {}, {"default_log_source"}),
}


def test_hooked_names_are_the_api_module_globals():
    for name, home in HOOKS.items():
        assert getattr(api_mod, name) is getattr(home, name), name


@pytest.mark.parametrize("path,params,hooks", REQUESTS.values(), ids=list(REQUESTS))
def test_handlers_call_the_hooked_globals(spark, sf_dir, monkeypatch, path, params, hooks):
    called = set()
    for name in HOOKS:
        real = getattr(api_mod, name)

        def wrapper(*a, _name=name, _real=real, **kw):
            called.add(_name)
            return _real(*a, **kw)

        monkeypatch.setattr(api_mod, name, wrapper)
    out = api_mod.QueryAPI(spark, sf_dir).handle(path, params)
    assert out.get("status") != "error", out
    assert hooks <= called, (path, called)


def test_perfbench_harness_self_tests_pass():
    r = subprocess.run(
        [sys.executable, "-m", "pytest", "perfbench/test_harness.py", "-q",
         "-p", "no:cacheprovider"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 0, r.stdout[-2000:] + r.stderr[-2000:]
