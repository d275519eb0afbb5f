"""Self-tests of the benchmark harness (no Spark needed).

    python3 -m pytest perfbench/test_harness.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import stats  # noqa: E402
from spans import Span, Tracer, covered, parse_metric, self_times  # noqa: E402

# -- percentile rule ---------------------------------------------------------


def test_p90_needs_ten_samples_beyond():
    assert stats.beyond(100, 90) == 10
    assert stats.reportable(100, 90)
    assert stats.beyond(99, 90) == 9
    assert not stats.reportable(99, 90)
    assert not stats.reportable(30, 90)
    assert stats.reportable(20, 50)


def test_nearest_rank_percentile():
    vals = list(range(1, 101))
    assert stats.percentile(vals, 50) == 50
    assert stats.percentile(vals, 90) == 90
    assert stats.percentile([3.0, 1.0, 2.0], 50) == 2.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


# -- failure counting --------------------------------------------------------


def test_failures_count_once_per_op():
    o = stats.Outcomes()
    o.record(0, None, True)
    o.record(1, "Traceback ...", False)   # raised
    o.record(2, None, False)              # wrong output
    o.record(3, None, True)
    o.mark_wrong([1, 3, 99])              # 1 already failed; 99 never ran
    assert o.attempted == 4
    assert o.failed == 3
    assert o.fail_ratio == 0.75


def test_no_ops_no_ratio():
    assert stats.Outcomes().fail_ratio == 0.0


def test_spread_matches_statistics_quantiles():
    s = stats.spread([10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 17.0, 18.0, 19.0])
    assert s["median"] == 14.5
    assert s["q1"] == 11.75 and s["q3"] == 17.25
    assert s["iqr_share"] == pytest.approx(5.5 / 14.5)
    assert s["range_share"] == pytest.approx(9 / 14.5)


# -- span arithmetic ---------------------------------------------------------


def test_covered_merges_overlaps_and_clips():
    assert covered((0, 10), [(1, 3), (2, 5), (8, 12)]) == pytest.approx(6)
    assert covered((0, 10), []) == 0
    assert covered((0, 10), [(-5, 20)]) == 10
    assert covered((0, 10), [(11, 12)]) == 0


def _span(sid, name, a, b, parent, op=0):
    s = Span(sid, name, a, parent, op)
    s.end = b
    return s


def test_self_time_subtracts_direct_children_only():
    spans = [
        _span(0, "op", 0, 10, None),
        _span(1, "api.handle", 1, 7, 0),
        _span(2, "promql.compile", 2, 4, 1),
        _span(3, "promql.parse", 2, 3, 2),
        _span(4, "api.render", 7, 9, 0),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(2)      # 10 - (6 + 2)
    assert st[1] == pytest.approx(4)      # 6 - 2
    assert st[2] == pytest.approx(1)      # 2 - 1
    assert st[3] == pytest.approx(1)
    assert st[4] == pytest.approx(2)
    assert sum(st.values()) == pytest.approx(10)


def test_tracer_nesting_layer_totals_and_coverage():
    t = [0.0]
    tr = Tracer(enabled=True, clock=lambda: t[0])
    tr.op = 7
    with tr.span("op"):
        t[0] = 1
        with tr.span("api.handle"):
            t[0] = 2
            with tr.span("catalog.open"):
                t[0] = 3
            t[0] = 6
        with tr.span("trace.read"):
            t[0] = 8
        t[0] = 9
    assert [(s.name, s.parent) for s in tr.spans] == [
        ("op", None), ("api.handle", 0), ("catalog.open", 1), ("trace.read", 0)]
    tot = tr.layer_totals()
    assert tot["api.handle"] == pytest.approx(4)
    assert tot["catalog.open"] == pytest.approx(1)
    assert tot["op"] == pytest.approx(2)
    # layers cover 5 of the op's 9 - 2 (trace.read) = 7 seconds
    assert tr.coverage() == pytest.approx(5 / 7)


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("op") as s:
        assert s is None
    assert tr.spans == []


# -- status-store metric text ------------------------------------------------


def test_parse_metric_text():
    agg = "total (min, med, max (stageId: taskId))\n4.3 s (2.1 s, 2.2 s, 2.2 s (stage 0.0: task 0))"
    assert parse_metric(agg) == pytest.approx(4300)
    assert parse_metric("9 ms") == 9
    assert parse_metric("4,200") == 4200
    assert parse_metric("340.1 KiB") == pytest.approx(340.1 * 1024)
    assert parse_metric("1.5 m") == pytest.approx(90_000)


# -- seeded inputs -----------------------------------------------------------


def test_same_seed_same_bytes(tmp_path):
    digests = []
    for run in ("a", "b", "c"):
        d = gen.Digest()
        gen.write_tables(str(tmp_path / run), 3 if run != "c" else 4,
                         {"events": 500, "documents": 50}, d)
        digests.append(d.hexdigest())
    assert digests[0] == digests[1] != digests[2]


def test_otlp_batch_totals_do_not_depend_on_seed():
    import numpy as np

    a = gen.otlp_batch(np.random.default_rng(1), 0, 0, 2, 3, 4, 5)
    b = gen.otlp_batch(np.random.default_rng(2), 0, 0, 2, 3, 4, 5)
    assert (a.n_points, a.n_records) == (b.n_points, b.n_records) == (2 * 3 * 4 * 3, 10)
    assert a.metrics != b.metrics


def test_dateint():
    assert gen.dateint(gen.EPOCH_2024_MS) == 20240101
    assert gen.dateint(gen.EPOCH_2024_MS + 31 * gen.DAY_MS) == 20240201


# -- API response checks -------------------------------------------------------


def test_api_check_rejects_empty_and_mismatch():
    from wl_api import check

    resp = {"data": {"result": [{"metric": {"event_type": "error"}, "value": [1.0, "3.0"]}]}}
    assert check("instant", resp, {"error": 3.0})
    assert not check("instant", resp, {"error": 4.0})
    assert not check("instant", resp, {})
    assert not check("labels", {"data": []}, [])


# -- BENCHMARK.json agrees with what the runner prints --------------------------


def test_benchmark_json_matches_runner():
    import json

    import run
    from spans import Tracer

    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E_UNITS
    layer = run.layer_metrics(Tracer(False), [], 1.0, 1.0, (1.0, 1.0), (1.0, 1.0), {}, {})
    layer["peak_rss_mb"] = (1.0, "MB")
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == {k: u for k, (_v, u) in layer.items()}
    assert {w["name"] for w in bench["workloads"]} == {"ingest_otlp", "query"}


def test_overhead_compares_like_kinds():
    import run

    traced = {"a": [1.2, 1.2], "b": [2.2]}
    plain = {"a": [1.0], "b": [2.0], "c": [5.0]}
    assert run.overhead_pct(traced, plain) == pytest.approx(15.0)
    assert run.overhead_pct({"a": [1.0]}, {"b": [1.0]}) == 0.0


# -- query rotation ----------------------------------------------------------


def test_query_rotation_walks_each_family_in_order():
    import wl_api
    import wl_dataprep
    from wl_query import ROUND, slot

    n = 3 * len(ROUND)
    seen = {"api": [], "prep": []}
    for i in range(n):
        family, j = slot(i)
        seen[family].append(j)
    assert seen["api"] == list(range(3 * len(wl_api.KINDS)))
    assert seen["prep"] == list(range(3 * len(wl_dataprep.ROTATION)))
