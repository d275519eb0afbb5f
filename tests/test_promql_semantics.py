"""Regression tests for PromQL/LogQL semantic edge cases the synthetic
oracle corpus cannot exercise: NULL (absent) labels, scalar-on-left
comparisons, NULL-valued ranking input, non-ASCII string literals,
scientific notation, scalar folding at /0."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from lakerunner_spark.operators.binary import (
    vector_and,
    vector_match,
    vector_or,
    vector_scalar,
    vector_unless,
)
from lakerunner_spark.operators.vector_agg import bottomk, topk


@pytest.fixture()
def null_label_pair(spark):
    """Two vectors sharing a series whose `job` label is absent (NULL)."""
    lhs = spark.createDataFrame(
        [(0, None, 10.0), (0, "api", 1.0)], ["bucket_ts", "job", "value"]
    )
    rhs = spark.createDataFrame(
        [(0, None, 4.0), (0, "web", 2.0)], ["bucket_ts", "job", "value"]
    )
    return lhs, rhs


def test_null_label_series_match_each_other(spark, null_label_pair):
    """An absent label matches an absent label — Prometheus identity
    treats missing as present-and-empty; plain `=` joins drop it."""
    lhs, rhs = null_label_pair
    got = vector_match(lhs, rhs, "+", ["job"]).collect()
    assert {(r["job"], r["value"]) for r in got} == {(None, 14.0)}

    anded = vector_and(lhs, rhs, ["job"]).collect()
    assert [(r["job"], r["value"]) for r in anded] == [(None, 10.0)]

    unl = vector_unless(lhs, rhs, ["job"]).collect()
    assert [(r["job"], r["value"]) for r in unl] == [("api", 1.0)]

    ored = vector_or(lhs, rhs, ["job"]).collect()
    assert {(r["job"], r["value"]) for r in ored} == {
        (None, 10.0),  # LHS wins the NULL-keyed collision
        ("api", 1.0),
        ("web", 2.0),
    }


def test_scalar_on_left_comparison_keeps_vector_value(spark):
    df = spark.createDataFrame(
        [(0, "a", 1.0), (0, "b", 5.0)], ["bucket_ts", "job", "value"]
    )
    # 3 > value filters to value<3 and KEEPS the vector's value
    got = vector_scalar(df, ">", 3.0, scalar_on_left=True).collect()
    assert [(r["job"], r["value"]) for r in got] == [("a", 1.0)]
    # bool mode still emits 1.0/0.0
    got = vector_scalar(df, ">", 3.0, scalar_on_left=True, bool_mode=True)
    assert {(r["job"], r["value"]) for r in got.collect()} == {
        ("a", 1.0), ("b", 0.0),
    }


def test_ranking_skips_null_and_nan(spark):
    df = spark.createDataFrame(
        [(0, "a", None), (0, "b", 2.0), (0, "c", 1.0),
         (0, "d", float("nan")), (0, "e", 3.0)],
        "bucket_ts LONG, job STRING, value DOUBLE",
    )
    bot = bottomk(df, 2, tiebreak=["job"]).collect()
    assert [(r["job"], r["value"]) for r in bot] == [("c", 1.0), ("b", 2.0)]
    top = topk(df, 2, tiebreak=["job"]).collect()
    assert [(r["job"], r["value"]) for r in top] == [("e", 3.0), ("b", 2.0)]


def test_label_matcher_absent_equals_empty(spark):
    from lakerunner_spark.logql import stages

    df = spark.createDataFrame(
        [(1, None), (2, "api"), (3, "")],
        "id LONG, job STRING",
    )
    eq_empty = stages.label_matcher(df, "job", "=", "")
    assert sorted(r["id"] for r in eq_empty.collect()) == [1, 3]
    re_all = stages.label_matcher(df, "job", "=~", ".*")
    assert sorted(r["id"] for r in re_all.collect()) == [1, 2, 3]
    ne_empty = stages.label_matcher(df, "job", "!=", "")
    assert sorted(r["id"] for r in ne_empty.collect()) == [2]
    nre = stages.label_matcher(df, "job", "!~", "api")
    assert sorted(r["id"] for r in nre.collect()) == [1, 3]


def test_unquote_preserves_non_ascii():
    from lakerunner_spark.logql.parser import _unquote as lq_unquote
    from lakerunner_spark.promql.parser import _unquote as pq_unquote

    assert pq_unquote('"caña"') == "caña"
    assert pq_unquote('"tab\\tend"') == "tab\tend"
    assert pq_unquote('"\\u20ac and €"') == "€ and €"
    assert lq_unquote('"héllo\\n"') == "héllo\n"
    assert lq_unquote("`raw\\n`") == "raw\\n"  # backtick = no escapes


def test_scientific_notation_literals():
    from lakerunner_spark.promql.parser import parse_promql

    node = parse_promql("1e3")
    assert node.value == 1000.0
    node = parse_promql("2.5e-2")
    assert node.value == 0.025


def test_fold_scalar_division_by_zero():
    from lakerunner_spark.promql.compiler import _fold_scalar

    assert _fold_scalar("/", 1.0, 0.0) == math.inf
    assert _fold_scalar("/", -1.0, 0.0) == -math.inf
    assert math.isnan(_fold_scalar("/", 0.0, 0.0))
    assert math.isnan(_fold_scalar("%", 5.0, 0.0))


def test_fold_scalar_mod_sign_follows_dividend():
    """PromQL '%' is Go math.Mod: the result's sign follows the
    DIVIDEND (like Spark's vector-side '%'), not the divisor as
    Python's operator.mod would give."""
    from lakerunner_spark.promql.compiler import _fold_scalar

    assert _fold_scalar("%", -5.0, 3.0) == -2.0
    assert _fold_scalar("%", 5.0, -3.0) == 2.0
    assert _fold_scalar("%", 5.0, 3.0) == 2.0


def test_bytes_over_time_counts_bytes(spark):
    """bytes_* must count UTF-8 bytes, not characters (Loki len(line))."""
    from lakerunner_spark.logql.compiler import LogSource, compile_logql

    df = spark.createDataFrame(
        [(0, "err", "héllo"), (60_000, "err", "ascii")],
        "chq_timestamp LONG, event_type STRING, log_message STRING",
    )
    src = LogSource(df=df, labels=["event_type"])
    out = compile_logql(
        'sum by (event_type) (bytes_over_time({event_type="err"}[1m]))',
        src,
        60_000,
    ).collect()
    by_ts = {r["bucket_ts"]: r["value"] for r in out}
    assert by_ts[0] == 6.0  # "héllo" = 6 UTF-8 bytes, 5 chars


def test_extension_range_funcs_on_synthetic_series(spark):
    """deriv of an exact line recovers its slope; delta is last-first;
    resets counts drops; predict_linear extrapolates the line; stddev
    of a constant series is 0 (coverage-gated rows only)."""
    from lakerunner_spark.operators.range_agg import range_agg

    rows = []
    for i in range(10):
        ts = 1_000_000 + i * 60_000
        rows.append((ts, "lin", float(2 * i), 1.0))      # y = 2*i
        rows.append((ts, "const", 7.0, 1.0))
        rows.append((ts, "saw", float(i % 3), 1.0))       # drops at i%3==0
    df = spark.createDataFrame(
        rows, ["bucket_ts", "series", "sum", "count"]
    ).withColumn("min", F.col("sum")).withColumn("max", F.col("sum"))

    def vals(fn, param=None):
        out = range_agg(df, fn, 300_000, 60_000, ["series"], param=param)
        return {
            (r.series, r.bucket_ts): r.value
            for r in out.collect()
            if r.value is not None
        }

    last_ts = 1_000_000 + 9 * 60_000
    d = vals("deriv")
    assert abs(d[("lin", last_ts)] - 2 / 60.0) < 1e-12   # 2 per minute
    assert abs(d[("const", last_ts)]) < 1e-12
    dl = vals("delta")
    assert dl[("lin", last_ts)] == 8.0                    # 18 - 10
    assert dl[("const", last_ts)] == 0.0
    pl = vals("predict_linear", param=600.0)
    # line continues: value at t+600s = y_now + slope*600
    assert abs(pl[("lin", last_ts)] - (18.0 + (2 / 60.0) * 600)) < 1e-9
    rs = vals("resets")
    # saw: 0,1,2,0,1,2,0,1,2,0 -> window of 5 ending at i=9 covers
    # values 2,0,1,2,0: pairs (2,0),(0,1),(1,2),(2,0) -> two drops
    assert rs[("saw", last_ts)] == 2.0
    assert rs[("lin", last_ts)] == 0.0
    ch = vals("changes")
    assert ch[("const", last_ts)] == 0.0
    assert ch[("lin", last_ts)] == 4.0
    sd = vals("stddev_over_time")
    assert sd[("const", last_ts)] == 0.0


def test_predict_linear_parses_and_validates():
    from lakerunner_spark.promql.parser import parse_promql

    node = parse_promql('predict_linear(events{a="b"}[10m], 600)')
    assert node.fn == "predict_linear"
    import pytest

    from lakerunner_spark.promql.compiler import MetricCatalog, compile_promql

    with pytest.raises(ValueError, match="predict_linear"):
        compile_promql(
            "predict_linear(events[10m], events[5m])",
            MetricCatalog({}),
            60_000,
        )


def test_round_label_join_clamp_semantics(spark):
    """round ties go away from the floor; clamp with lo > hi drops all
    elements; label_join of absent labels yields empty -> dst removed."""
    from lakerunner_spark.promql.compiler import (
        LeafSource,
        MetricCatalog,
        compile_promql,
    )

    df = spark.createDataFrame(
        [(0, "a", 1.25), (0, "b", -1.25), (0, "c", 2.75)],
        "chq_timestamp LONG, job STRING, value DOUBLE",
    )
    cat = MetricCatalog({"m": LeafSource(df=df, labels=["job"])})

    vals = {
        r.job: r.value
        for r in compile_promql("round(m, 0.5)", cat, 60_000).collect()
    }
    # floor(v/0.5 + 0.5)*0.5: 1.25 -> 1.5 (tie up), -1.25 -> -1.0, 2.75 -> 3.0
    assert vals == {"a": 1.5, "b": -1.0, "c": 3.0}

    assert compile_promql("clamp(m, 5, 1)", cat, 60_000).count() == 0

    rows = compile_promql(
        'label_join(m, "k", "-", "job", "missing")', cat, 60_000
    ).collect()
    assert {r.k for r in rows} == {"a-", "b-", "c-"}

    ts = compile_promql("timestamp(m)", cat, 60_000).collect()
    assert all(r.value == 0.0 for r in ts)


def test_group_left_right_semantics(spark):
    """Many-to-one matching: value order follows the written operands,
    extra labels copy from the one side, a duplicate one side raises,
    and a bare group modifier (no on/ignoring) is still rejected."""
    from lakerunner_spark.promql.compiler import (
        LeafSource,
        MetricCatalog,
        compile_promql,
    )

    many = spark.createDataFrame(
        [(0, "a", "u1", 2.0), (0, "a", "u2", 6.0), (0, "b", "u1", 10.0)],
        "chq_timestamp LONG, et STRING, uid STRING, value DOUBLE",
    )
    one = spark.createDataFrame(
        [(0, "a", 4.0, "o1"), (0, "b", 5.0, "o2")],
        "chq_timestamp LONG, et STRING, value DOUBLE, owner STRING",
    )
    cat = MetricCatalog(
        {
            "m": LeafSource(df=many, labels=["et", "uid"]),
            "o": LeafSource(df=one, labels=["et", "owner"]),
        }
    )

    rows = compile_promql(
        "sum by (et, uid) (m) / on(et) group_left"
        " sum by (et) (o)", cat, 60_000
    ).collect()
    got = {(r.et, r.uid): r.value for r in rows}
    assert got == {("a", "u1"): 0.5, ("a", "u2"): 1.5, ("b", "u1"): 2.0}

    # group_right mirrors: one side on the left
    rows = compile_promql(
        "sum by (et) (o) / on(et) group_right"
        " sum by (et, uid) (m)", cat, 60_000
    ).collect()
    got = {(r.et, r.uid): r.value for r in rows}
    assert got == {("a", "u1"): 2.0, ("a", "u2"): 4.0 / 6.0, ("b", "u1"): 0.5}

    # extra label copied from the one side
    rows = compile_promql(
        "sum by (et, uid) (m) + on(et) group_left(owner)"
        " sum by (et, owner) (o)", cat, 60_000
    ).collect()
    assert {(r.et, r.uid, r.owner) for r in rows} == {
        ("a", "u1", "o1"), ("a", "u2", "o1"), ("b", "u1", "o2"),
    }

    # duplicate series on the one side -> runtime error
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    dup = spark.createDataFrame(
        [(0, "a", "x", 1.0), (0, "a", "y", 2.0)],
        "chq_timestamp LONG, et STRING, extra STRING, value DOUBLE",
    )
    cat2 = MetricCatalog(
        {
            "m": LeafSource(df=many, labels=["et", "uid"]),
            "o": LeafSource(df=dup, labels=["et", "extra"]),
        }
    )
    with pytest.raises((SparkRuntimeException, Py4JJavaError)):
        compile_promql(
            "sum by (et, uid) (m) / on(et) group_left"
            " sum by (et, extra) (o)", cat2, 60_000
        ).collect()

    # overlap between group labels and match labels rejected
    with pytest.raises(ValueError, match="overlap"):
        compile_promql(
            "sum by (et, uid) (m) / on(et) group_left(et)"
            " sum by (et) (o)", cat, 60_000
        )


def test_all_null_groups_stay_absent(spark):
    """group/stddev/stdvar must yield NULL for groups whose samples are
    all NULL (coverage warm-up rows), like every other aggregator —
    never fabricate 1.0 / 0.0."""
    from lakerunner_spark.operators.vector_agg import vector_agg

    df = spark.createDataFrame(
        [(0, "a", None), (0, "b", None), (60_000, "a", 2.0)],
        "bucket_ts LONG, job STRING, value DOUBLE",
    )
    for fn, present in [("group", 1.0), ("stdvar", 0.0), ("stddev", 0.0)]:
        rows = {r.bucket_ts: r.value for r in vector_agg(df, fn, by=[]).collect()}
        assert rows[0] is None, fn
        assert rows[60_000] == present, fn


def test_group_modifier_rejected_on_set_ops():
    import pytest

    from lakerunner_spark.promql.parser import parse_promql

    for op in ("and", "or", "unless"):
        with pytest.raises(ValueError, match="no grouping"):
            parse_promql(f"a {op} on(x) group_left b")


def test_quantile_over_time_q_range_validated():
    import pytest

    from lakerunner_spark.promql.compiler import MetricCatalog, compile_promql

    with pytest.raises(ValueError, match=r"\[0, 1\]"):
        compile_promql(
            "quantile_over_time(1.5, m[5m])", MetricCatalog({}), 60_000
        )
    from lakerunner_spark.logql.parser import parse_logql

    with pytest.raises(ValueError, match=r"\[0, 1\]"):
        parse_logql('quantile_over_time(1.5, {a="b"} | unwrap v [5m])')


def test_histogram_quantile_le_buckets(spark):
    """le-bucket interpolation (extension): Prometheus bucketQuantile
    rules — in-bucket interpolation, +Inf falls back to the largest
    finite le, rank-in-first-bucket interpolates from 0 (or returns le
    when le <= 0), and it routes through the compiler for non-selector
    args carrying an `le` label."""
    from lakerunner_spark.operators.histogram import histogram_quantile_buckets
    from lakerunner_spark.promql.compiler import (
        LeafSource,
        MetricCatalog,
        compile_promql,
    )

    rows = [
        # series "j": buckets 10/20/+Inf with cum 5/15/20; q=0.5 ->
        # rank 10, target le=20: 10 + (20-10)*(10-5)/(15-5) = 15
        (0, "j", "10", 5.0), (0, "j", "20", 15.0), (0, "j", "+Inf", 20.0),
        # series "k": everything in the first bucket; q=0.5 -> rank 5,
        # target le=10: 10 * 5/10 = 5 (interpolate from 0)
        (0, "k", "10", 10.0), (0, "k", "20", 10.0), (0, "k", "+Inf", 10.0),
        # series "n": negative-bound first bucket; rank falls there ->
        # return le itself (-1)
        (0, "n", "-1", 8.0), (0, "n", "5", 10.0), (0, "n", "+Inf", 10.0),
        # series "inf": rank lands in +Inf -> largest finite le (30)
        (0, "inf", "30", 1.0), (0, "inf", "+Inf", 10.0),
    ]
    df = spark.createDataFrame(
        rows, "bucket_ts LONG, job STRING, le STRING, value DOUBLE"
    )
    got = {
        r.job: r.value
        for r in histogram_quantile_buckets(df, 0.5).collect()
    }
    assert got == {"j": 15.0, "k": 5.0, "n": -1.0, "inf": 30.0}

    # compiler path: non-selector arg with le label
    leaf = df.withColumnRenamed("bucket_ts", "chq_timestamp")
    cat = MetricCatalog({"m_bucket": LeafSource(df=leaf, labels=["job", "le"])})
    out = compile_promql(
        "histogram_quantile(0.5, sum by (job, le) (m_bucket))", cat, 60_000
    ).collect()
    assert {r.job: r.value for r in out} == {"j": 15.0, "k": 5.0, "n": -1.0,
                                            "inf": 30.0}
    assert all(not hasattr(r, "le") for r in out)

    # a vector without le is rejected
    import pytest

    with pytest.raises(ValueError, match="le"):
        compile_promql(
            "histogram_quantile(0.5, sum by (job) (m_bucket))", cat, 60_000
        )


def test_histogram_quantile_prometheus_guards(spark):
    """ensureMonotonic fixup (one target row despite a dip), missing
    +Inf top bucket -> absent, and cumulate_buckets turns OTLP-style
    per-bucket counts cumulative first."""
    from lakerunner_spark.operators.histogram import (
        cumulate_buckets,
        histogram_quantile_buckets,
    )

    # dip at le=20 (rate artifact): running max -> [5,5,6]; q=0.5 ->
    # rank 3, first bucket (cum 5 >= 3, prev null), le=10 > 0:
    # 10 * 3/5 = 6
    dip = spark.createDataFrame(
        [(0, "d", "10", 5.0), (0, "d", "20", 2.0), (0, "d", "+Inf", 6.0)],
        "bucket_ts LONG, job STRING, le STRING, value DOUBLE",
    )
    rows = histogram_quantile_buckets(dip, 0.5).collect()
    assert len(rows) == 1 and rows[0].value == 6.0

    # no +Inf bucket -> Prometheus NaN -> absent row
    no_inf = spark.createDataFrame(
        [(0, "x", "10", 5.0), (0, "x", "20", 9.0)],
        "bucket_ts LONG, job STRING, le STRING, value DOUBLE",
    )
    assert histogram_quantile_buckets(no_inf, 0.5).count() == 0

    # OTLP per-bucket counts [1,2,3] -> cumulative [1,3,6]; q=0.5 ->
    # rank 3, target le=2.5: 0.5 + 2*(3-1)/(3-1) = 2.5
    otlp = spark.createDataFrame(
        [(0, "o", "0.5", 1.0), (0, "o", "2.5", 2.0), (0, "o", "+Inf", 3.0)],
        "bucket_ts LONG, job STRING, le STRING, value DOUBLE",
    )
    rows = histogram_quantile_buckets(cumulate_buckets(otlp), 0.5).collect()
    assert len(rows) == 1 and rows[0].value == 2.5


def test_count_values_semantics(spark):
    """count_values: value histogram as a label; `by` keeps listed
    labels, bare form drops all; destination collisions rejected."""
    from lakerunner_spark.promql.compiler import (
        LeafSource,
        MetricCatalog,
        compile_promql,
    )

    df = spark.createDataFrame(
        [(0, "a", 1.0), (0, "b", 1.0), (0, "c", 2.0)],
        "chq_timestamp LONG, job STRING, value DOUBLE",
    )
    cat = MetricCatalog({"m": LeafSource(df=df, labels=["job"])})

    rows = compile_promql('count_values("v", m)', cat, 60_000).collect()
    assert {(r.v, r.value) for r in rows} == {("1", 2.0), ("2", 1.0)}

    rows = compile_promql(
        'count_values("v", m) by (job)', cat, 60_000
    ).collect()
    assert {(r.job, r.v, r.value) for r in rows} == {
        ("a", "1", 1.0), ("b", "1", 1.0), ("c", "2", 1.0),
    }

    import pytest

    with pytest.raises(ValueError, match="collides"):
        compile_promql('count_values("job", m) by (job)', cat, 60_000)
    with pytest.raises(ValueError, match="count_values"):
        compile_promql("count_values(1, m)", cat, 60_000)


def test_absent_requires_window_and_flags_gaps(spark):
    from lakerunner_spark.promql.compiler import (
        LeafSource,
        MetricCatalog,
        compile_promql,
    )

    df = spark.createDataFrame(
        [(0, "a", 1.0), (120_000, "a", 2.0)],
        "chq_timestamp LONG, job STRING, value DOUBLE",
    )
    cat = MetricCatalog({"m": LeafSource(df=df, labels=["job"])})
    rows = compile_promql(
        "absent(m)", cat, 60_000, start_ms=0, end_ms=240_000
    ).collect()
    # buckets 0 and 120000 have data; 60000 and 180000 are absent
    assert {r.bucket_ts: r.value for r in rows} == {60_000: 1.0, 180_000: 1.0}

    import pytest

    with pytest.raises(ValueError, match="window"):
        compile_promql("absent(m)", cat, 60_000)


def test_absent_alignment_and_range_rejection(spark):
    """absent() evaluates only FULLY-covered steps (a sample excluded
    by the window filter must not make its partially-covered boundary
    bucket read as absent), and range selectors are rejected."""
    from lakerunner_spark.promql.compiler import (
        LeafSource,
        MetricCatalog,
        compile_promql,
    )

    df = spark.createDataFrame(
        [(70_000, "a", 1.0)],
        "chq_timestamp LONG, job STRING, value DOUBLE",
    )
    cat = MetricCatalog({"m": LeafSource(df=df, labels=["job"])})
    rows = compile_promql(
        "absent(m)", cat, 60_000, start_ms=90_000, end_ms=250_000
    ).collect()
    # grid covers only fully-inside steps 120000..240000; bucket 60000
    # (holding the excluded ts=70000 sample) is NOT falsely reported
    assert {r.bucket_ts for r in rows} == {120_000, 180_000}

    import pytest

    with pytest.raises(ValueError, match="instant vector"):
        compile_promql(
            "absent(m[5m])", cat, 60_000, start_ms=0, end_ms=240_000
        )
    with pytest.raises(ValueError, match="collides"):
        compile_promql('count_values("value", m)', cat, 60_000)


def test_subquery_range_semantics(spark):
    """expr[range:step]: the inner vector samples at the substep, the
    outer range function windows those samples, output aligns to the
    query-step grid; quantile_over_time works over subqueries; a plain
    range on a non-selector still errors with a subquery hint."""
    from lakerunner_spark.promql.compiler import (
        LeafSource,
        MetricCatalog,
        compile_promql,
    )

    rows = [
        (i * 60_000, "a", float(i)) for i in range(12)  # 0..11 by minute
    ]
    df = spark.createDataFrame(
        rows, "chq_timestamp LONG, job STRING, value DOUBLE"
    )
    cat = MetricCatalog({"m": LeafSource(df=df, labels=["job"])})

    # max of the inner sums over a trailing 4m window at 2m substeps,
    # reported on the 4m query grid
    out = compile_promql(
        "max_over_time((sum by (job) (m))[4m:2m])", cat, 240_000
    ).collect()
    got = {r.bucket_ts: r.value for r in out if r.value is not None}
    # instant vector = bucket AVERAGE (the engine's leaf convention):
    # substep 2m bucket holds samples i, i+1 -> avg = i + 0.5; the 4m
    # window covers 2 substeps; gate passes from ts 240k:
    # max(avg@120k=2.5, avg@240k=4.5) = 4.5; at 480k: max(6.5, 8.5)
    assert got == {240_000: 4.5, 480_000: 8.5}

    q = compile_promql(
        "quantile_over_time(0.5, (sum by (job) (m))[4m:2m])", cat, 240_000
    ).collect()
    assert all(r.value is not None for r in q)

    import pytest

    with pytest.raises(ValueError, match="subqueries"):
        compile_promql("rate(sum by (job) (m)[5m])", cat, 60_000)


def test_subquery_error_paths(spark):
    """Subqueries fail closed: non-dividing substeps, subqueries
    outside range functions, range selectors inside subqueries, and
    malformed step tokens all raise ValueError; median_over_time
    accepts subqueries like quantile_over_time does."""
    import pytest

    from lakerunner_spark.promql.compiler import (
        LeafSource,
        MetricCatalog,
        compile_promql,
    )
    from lakerunner_spark.promql.parser import parse_promql

    df = spark.createDataFrame(
        [(0, "a", 1.0)], "chq_timestamp LONG, job STRING, value DOUBLE"
    )
    cat = MetricCatalog({"m": LeafSource(df=df, labels=["job"])})

    with pytest.raises(ValueError, match="divide"):
        compile_promql("max_over_time(m[6m:3m])", cat, 240_000)
    with pytest.raises(ValueError, match="range function"):
        compile_promql("sum by (job) (m[5m:1m])", cat, 60_000)
    with pytest.raises(ValueError, match="range selector"):
        parse_promql("rate(m[5m][1h:1m])")
    with pytest.raises(ValueError, match="bad subquery step"):
        parse_promql("m[1h:5minutes]")
    # median delegates to the quantile subquery path
    out = compile_promql("median_over_time(m[4m:2m])", cat, 120_000)
    assert out.count() >= 0
    # first_over_time now routes through the PromQL front end
    out = compile_promql("first_over_time(m[4m])", cat, 120_000)
    assert out.count() >= 0


def test_pow_operator_semantics(spark):
    """'^': right-associative, tighter than unary minus, Go math.Pow
    scalar folding at the edge cases Python raises on."""
    from lakerunner_spark.promql.compiler import (
        LeafSource,
        MetricCatalog,
        compile_promql,
        _fold_scalar,
    )

    # scalar folds (Go math.Pow semantics)
    assert _fold_scalar("^", 0.0, 0.0) == 1.0
    assert _fold_scalar("^", 0.0, -1.0) == math.inf
    assert math.isnan(_fold_scalar("^", -8.0, 0.5))
    assert _fold_scalar("^", 1e308, 2.0) == math.inf
    assert _fold_scalar("^", -1e308, 3.0) == -math.inf
    assert _fold_scalar("atan2", 1.0, 2.0) == math.atan2(1.0, 2.0)

    df = spark.createDataFrame(
        [(0, "a", 3.0)], "chq_timestamp LONG, job STRING, value DOUBLE"
    )
    cat = MetricCatalog({"m": LeafSource(df=df, labels=["job"])})
    # right-assoc: 2^3^2 = 2^(3^2) = 512, not (2^3)^2 = 64
    rows = compile_promql("m ^ 3 ^ 2", cat, 60_000).collect()
    assert rows[0].value == 3.0 ** 9
    # '-m ^ 2' parses as -(m^2)
    rows = compile_promql("- m ^ 2", cat, 60_000).collect()
    assert rows[0].value == -9.0
    # vector atan2 scalar
    rows = compile_promql("m atan2 2", cat, 60_000).collect()
    assert rows[0].value == math.atan2(3.0, 2.0)
    # java.lang.Math.pow NaN case on the vector side
    rows = compile_promql("(0 - m) ^ 0.5", cat, 60_000).collect()
    assert math.isnan(rows[0].value)


def test_pi_and_zero_arg_guards(spark):
    from lakerunner_spark.promql.compiler import (
        LeafSource,
        MetricCatalog,
        compile_promql,
    )

    df = spark.createDataFrame(
        [(0, "a", 2.0)], "chq_timestamp LONG, job STRING, value DOUBLE"
    )
    cat = MetricCatalog({"m": LeafSource(df=df, labels=["job"])})
    rows = compile_promql("m * pi()", cat, 60_000).collect()
    assert rows[0].value == 2.0 * math.pi
    with pytest.raises(ValueError):
        compile_promql("pi(m)", cat, 60_000)
    with pytest.raises(ValueError):
        compile_promql("abs()", cat, 60_000)  # zero-arg non-pi fails closed
    with pytest.raises(ValueError):
        compile_promql("pi() + pi()", cat, 60_000)  # constant-only query


def test_presence_over_time_semantics(spark):
    """present_over_time spans [s, s+range-step] per sample bucket
    (degenerating to the bucket itself when range < step);
    absent_over_time needs the explicit grid."""
    from lakerunner_spark.promql.compiler import (
        LeafSource,
        MetricCatalog,
        compile_promql,
    )

    df = spark.createDataFrame(
        [(0, "a", 1.0), (300_000, "a", 2.0)],
        "chq_timestamp LONG, job STRING, value DOUBLE",
    )
    cat = MetricCatalog({"m": LeafSource(df=df, labels=["job"])})
    rows = compile_promql("present_over_time(m[3m])", cat, 60_000).collect()
    # sample buckets 0 and 300000; each covers itself + 2 later steps
    assert {r.bucket_ts for r in rows} == {
        0, 60_000, 120_000, 300_000, 360_000, 420_000
    }
    assert all(r.value == 1.0 and r.job == "a" for r in rows)

    # range < step: only the sample buckets themselves
    rows = compile_promql("present_over_time(m[1m])", cat, 300_000).collect()
    assert {r.bucket_ts for r in rows} == {0, 300_000}

    rows = compile_promql(
        "absent_over_time(m[2m])", cat, 60_000, start_ms=0, end_ms=360_000
    ).collect()
    # present spans: 0,60000 and 300000(,360000 clipped); absent: 120k..240k
    assert {r.bucket_ts for r in rows} == {120_000, 180_000, 240_000}

    with pytest.raises(ValueError, match="window"):
        compile_promql("absent_over_time(m[2m])", cat, 60_000)
    with pytest.raises(ValueError, match="range selector"):
        compile_promql("present_over_time(m)", cat, 60_000)


def test_sort_by_label_ordering(spark):
    from lakerunner_spark.promql.compiler import (
        LeafSource,
        MetricCatalog,
        compile_promql,
    )

    df = spark.createDataFrame(
        [(0, "b", 1.0), (0, "a", 2.0), (0, None, 3.0), (0, "c", 4.0)],
        "chq_timestamp LONG, job STRING, value DOUBLE",
    )
    cat = MetricCatalog({"m": LeafSource(df=df, labels=["job"])})
    got = [r.job for r in
           compile_promql('sort_by_label(m, "job")', cat, 60_000).collect()]
    assert got == [None, "a", "b", "c"]  # absent label sorts first asc
    got = [r.job for r in
           compile_promql('sort_by_label_desc(m, "job")', cat, 60_000).collect()]
    assert got == ["c", "b", "a", None]
    # unknown label: no-op ordering key, query still valid
    compile_promql('sort_by_label(m, "nope")', cat, 60_000).collect()
    with pytest.raises(ValueError):
        compile_promql("sort_by_label(m)", cat, 60_000)


def test_trig_unary_domain_edges(spark):
    """Out-of-domain trig inputs follow java.lang.Math (NaN), matching
    Go's math package: asin(2) = NaN, acosh(0.5) = NaN."""
    from lakerunner_spark.promql.compiler import (
        LeafSource,
        MetricCatalog,
        compile_promql,
    )

    df = spark.createDataFrame(
        [(0, "a", 2.0)], "chq_timestamp LONG, job STRING, value DOUBLE"
    )
    cat = MetricCatalog({"m": LeafSource(df=df, labels=["job"])})
    assert math.isnan(compile_promql("asin(m)", cat, 60_000).collect()[0].value)
    assert math.isnan(
        compile_promql("acosh(m / 4)", cat, 60_000).collect()[0].value
    )
    v = compile_promql("deg(rad(m))", cat, 60_000).collect()[0].value
    assert abs(v - 2.0) < 1e-12
    v = compile_promql("atanh(tanh(m))", cat, 60_000).collect()[0].value
    assert abs(v - 2.0) < 1e-9
