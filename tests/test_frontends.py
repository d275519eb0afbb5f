"""PromQL/LogQL front-end tests: parser shapes, error cases, and
compile paths the oracle queries don't exercise (offset, start/end
windows, step ladder)."""

from __future__ import annotations

import pytest

from lakerunner_spark.catalog import default_log_source, default_metric_catalog
from lakerunner_spark.functions.timeops import step_for_duration
from lakerunner_spark.logql.compiler import compile_logql_exemplar
from lakerunner_spark.logql.parser import (
    JsonStage,
    LabelFilter,
    LineFilter,
    LogLeaf,
    LogRangeAgg,
    LogVectorAgg,
    parse_logql,
)
from lakerunner_spark.promql.compiler import compile_promql
from lakerunner_spark.promql.parser import (
    Agg,
    Binary,
    Call,
    Num,
    Selector,
    parse_duration_ms,
    parse_promql,
)


# ---------------------------------------------------------------------------
# PromQL parser
# ---------------------------------------------------------------------------

def test_parse_duration():
    assert parse_duration_ms("5m") == 300_000
    assert parse_duration_ms("1h30m") == 5_400_000
    assert parse_duration_ms("250ms") == 250


def test_parse_selector_matchers_range_offset():
    e = parse_promql('rate(events{event_type="error",user_id!~"1.*"}[5m] offset 1m)')
    assert isinstance(e, Call) and e.fn == "rate"
    sel = e.args[0]
    assert isinstance(sel, Selector)
    assert sel.metric == "events"
    assert [(m.label, m.op, m.value) for m in sel.matchers] == [
        ("event_type", "=", "error"),
        ("user_id", "!~", "1.*"),
    ]
    assert sel.range_ms == 300_000
    assert sel.offset_ms == 60_000


def test_parse_agg_by_without_and_param():
    e = parse_promql("sum by (a, b) (events)")
    assert isinstance(e, Agg) and e.op == "sum" and e.by == ["a", "b"]
    e = parse_promql("avg without (c) (events)")
    assert e.without == ["c"]
    e = parse_promql("topk(3, events)")
    assert e.op == "topk" and e.param == 3.0
    e = parse_promql("quantile(0.9, events)")
    assert e.param == 0.9


def test_parse_binary_precedence_and_bool():
    e = parse_promql("a + b * c")
    assert isinstance(e, Binary) and e.op == "+"
    assert isinstance(e.rhs, Binary) and e.rhs.op == "*"
    e = parse_promql("a > bool 100")
    assert e.op == ">" and e.bool_mode and isinstance(e.rhs, Num)
    e = parse_promql("a / on(x, y) b")
    assert e.on == ["x", "y"]
    e = parse_promql("a and ignoring(z) b")
    assert e.op == "and" and e.ignoring == ["z"]


def test_group_left_rejected_like_reference():
    with pytest.raises(ValueError, match="group_left"):
        parse_promql("a / group_left b")


def test_parse_errors():
    with pytest.raises(ValueError):
        parse_promql("sum by (a) (")
    with pytest.raises(ValueError):
        parse_promql("topk(events)")  # missing k
    with pytest.raises(ValueError):
        parse_promql("{__}")  # matcherless selector body
    # rate without a range parses fine; the compiler rejects it
    assert isinstance(parse_promql("rate(events)"), Call)


def test_step_ladder_matches_reference():
    # queryapi/dates.go:23-42
    assert step_for_duration(60 * 60_000) == 10_000
    assert step_for_duration(2 * 3_600_000) == 60_000
    assert step_for_duration(18 * 3_600_000) == 300_000
    assert step_for_duration(2 * 86_400_000) == 1_200_000
    assert step_for_duration(10 * 86_400_000) == 3_600_000


# ---------------------------------------------------------------------------
# LogQL parser
# ---------------------------------------------------------------------------

def test_parse_logql_leaf_pipeline():
    leaf = parse_logql('{event_type="error"} |= "x" != "y" | json k="$.k" | k > 10')
    assert isinstance(leaf, LogLeaf)
    assert [(m.label, m.op, m.value) for m in leaf.matchers] == [
        ("event_type", "=", "error")
    ]
    assert isinstance(leaf.stages[0], LineFilter) and leaf.stages[0].op == "|="
    assert isinstance(leaf.stages[1], LineFilter) and leaf.stages[1].op == "!="
    assert isinstance(leaf.stages[2], JsonStage)
    assert leaf.stages[2].mappings == {"k": "$.k"}
    assert isinstance(leaf.stages[3], LabelFilter)
    assert leaf.stages[3].value == 10.0


def test_parse_logql_range_and_vector_agg():
    q = 'sum by (event_type) (rate({event_type=~"a|b"}[10m]))'
    node = parse_logql(q)
    assert isinstance(node, LogVectorAgg) and node.op == "sum"
    assert node.by == ["event_type"]
    assert isinstance(node.inner, LogRangeAgg) and node.inner.fn == "rate"
    assert node.inner.leaf.range_ms == 600_000


def test_parse_logql_unwrap():
    node = parse_logql('max_over_time({a="b"} | unwrap duration(lat) [5m])')
    assert node.leaf.unwrap.label == "lat"
    assert node.leaf.unwrap.conv == "duration"


def test_parse_logql_regexp_named_groups():
    leaf = parse_logql('{a="b"} | regexp "(?P<verb>[A-Z]+) (?P<path>/\\\\S*)"')
    stage = leaf.stages[0]
    assert stage.groups == {"verb": 1, "path": 2}
    assert "?P<" not in stage.pattern


def test_parse_logql_errors():
    with pytest.raises(ValueError, match="unwrap"):
        parse_logql('sum_over_time({a="b"}[5m])')
    with pytest.raises(ValueError, match="range"):
        parse_logql('rate({a="b"})')
    with pytest.raises(ValueError, match="does not take"):
        parse_logql('count_over_time({a="b"} | unwrap k [5m])')


# ---------------------------------------------------------------------------
# Compile paths without oracle coverage
# ---------------------------------------------------------------------------

def test_compile_offset_and_window(spark, sf_dir):
    cat = default_metric_catalog(spark, sf_dir)
    base = compile_promql('sum by (event_type) (events)', cat, 3_600_000)
    offs = compile_promql(
        'sum by (event_type) (events offset 1h)', cat, 3_600_000
    )
    b = {(r.bucket_ts, r.event_type): r.value for r in base.collect()}
    o = {(r.bucket_ts, r.event_type): r.value for r in offs.collect()}
    # offset shifts every bucket forward by exactly 1h
    assert all(
        o.get((ts + 3_600_000, et)) == pytest.approx(v) for (ts, et), v in b.items()
    )


def test_compile_time_range_bounds(spark, sf_dir):
    cat = default_metric_catalog(spark, sf_dir)
    full = compile_promql('sum by (event_type) (events)', cat, 3_600_000)
    lo = min(r.bucket_ts for r in full.collect())
    bounded = compile_promql(
        'sum by (event_type) (events)', cat, 3_600_000,
        start_ms=lo + 7_200_000, end_ms=lo + 10_800_000,
    )
    ts = {r.bucket_ts for r in bounded.collect()}
    assert ts and all(lo + 7_200_000 <= t < lo + 10_800_000 for t in ts)


def test_compile_rate_requires_range(spark, sf_dir):
    cat = default_metric_catalog(spark, sf_dir)
    with pytest.raises(ValueError, match="range"):
        compile_promql("rate(events)", cat, 60_000)


def test_line_format_and_keep(spark, sf_dir):
    from pyspark.sql import functions as F

    from lakerunner_spark.catalog import default_log_source
    from lakerunner_spark.logql.compiler import compile_logql_exemplar

    src = default_log_source(spark, sf_dir)
    df = compile_logql_exemplar(
        '{event_type="error"} | json k="$.k"'
        ' | line_format "k is {{.k}}" | keep event_type',
        src,
        limit=5,
        tiebreak=["event_id"],
    )
    rows = df.collect()
    assert len(rows) == 5
    assert all(r.log_message.startswith("k is ") for r in rows)


def test_push_grouping_plan_shape(spark, sf_dir):
    """Pushed grouping aggregates ONCE at the leaf (group cardinality);
    the unpushed plan has a second aggregate over series. Pushed-down
    value semantics (group-level windows/gate — the reference's
    keepsAll behavior, which differs from per-series windows when
    series are sparse within the range) are pinned by the
    pqs13_pushed_sum_rate oracle."""
    cat = default_metric_catalog(spark, sf_dir)
    q = "sum by (event_type) (sum_over_time(events[5m]))"
    pushed = compile_promql(q, cat, 60_000, push_grouping=True)
    unpushed = compile_promql(q, cat, 60_000)
    assert pushed.count() > 0
    pp = pushed._jdf.queryExecution().executedPlan().toString()
    up = unpushed._jdf.queryExecution().executedPlan().toString()
    assert pp.count("HashAggregate") < up.count("HashAggregate")
    # pushed output exposes exactly the by-labels
    assert set(pushed.columns) == {"bucket_ts", "event_type", "value"}


def test_logfmt_auto_discovery(spark, sf_dir):
    from pyspark.sql import functions as F

    from lakerunner_spark.logql.compiler import LogSource, compile_logql

    ev = events_stream_for_logfmt(spark, sf_dir)
    src = LogSource(ev, ["event_type"], line_col="log_message")
    df = compile_logql(
        'sum by (event_type) (count_over_time({event_type="error"} '
        '| logfmt | lvl = "error" [10m]))',
        src,
        600_000,
    )
    rows = df.collect()
    assert rows and all(r.value > 0 for r in rows)


def events_stream_for_logfmt(spark, sf_dir):
    from pyspark.sql import functions as F

    from lakerunner_spark.testdata import events_stream

    e = events_stream(spark, sf_dir)
    return e.withColumn(
        "log_message",
        F.concat(F.lit("lvl="), F.col("event_type"),
                 F.lit(" uid="), F.col("user_id").cast("string")),
    )


def test_nested_vector_aggs(spark, sf_dir):
    """max by (..) over sum by (..) — nested Agg nodes compose."""
    cat = default_metric_catalog(spark, sf_dir)
    df = compile_promql(
        "max by (event_type) (sum by (event_type, user_id) (events))",
        cat,
        3_600_000,
    )
    inner = compile_promql(
        "sum by (event_type, user_id) (events)", cat, 3_600_000
    )
    got = {(r.bucket_ts, r.event_type): r.value for r in df.collect()}
    by_bucket: dict = {}
    for r in inner.collect():
        key = (r.bucket_ts, r.event_type)
        by_bucket[key] = max(by_bucket.get(key, float("-inf")), r.value)
    assert got == by_bucket and got


def test_set_op_chain_via_frontend(spark, sf_dir):
    """(A and B) unless C — set ops chain left-associatively."""
    cat = default_metric_catalog(spark, sf_dir)
    q = (
        'sum by (user_id) (events{event_type="error"})'
        ' and sum by (user_id) (events{event_type="click"})'
        ' unless sum by (user_id) (events{event_type="purchase"})'
    )
    df = compile_promql(q, cat, 3_600_000)
    err = compile_promql('sum by (user_id) (events{event_type="error"})', cat, 3_600_000)
    clk = compile_promql('sum by (user_id) (events{event_type="click"})', cat, 3_600_000)
    pur = compile_promql('sum by (user_id) (events{event_type="purchase"})', cat, 3_600_000)
    e = {(r.bucket_ts, r.user_id): r.value for r in err.collect()}
    c = {(r.bucket_ts, r.user_id) for r in clk.collect()}
    p = {(r.bucket_ts, r.user_id) for r in pur.collect()}
    want = {k: v for k, v in e.items() if k in c and k not in p}
    got = {(r.bucket_ts, r.user_id): r.value for r in df.collect()}
    assert got == want and got


def test_arithmetic_chain_precedence(spark, sf_dir):
    """v * 2 + 1 evaluates (v*2)+1 per series."""
    cat = default_metric_catalog(spark, sf_dir)
    base = compile_promql("sum by (event_type) (events)", cat, 3_600_000)
    df = compile_promql("sum by (event_type) (events) * 2 + 1", cat, 3_600_000)
    got = {(r.bucket_ts, r.event_type): r.value for r in df.collect()}
    want = {(r.bucket_ts, r.event_type): r.value * 2 + 1 for r in base.collect()}
    assert got == pytest.approx(want)


def test_exemplar_ascending(spark, sf_dir):
    src = default_log_source(spark, sf_dir)
    df = compile_logql_exemplar(
        '{event_type="error"}', src, limit=10, descending=False,
        tiebreak=["event_id"],
    )
    rows = df.collect()
    ts = [r.chq_timestamp for r in rows]
    assert len(rows) == 10 and ts == sorted(ts)


# ---------------------------------------------------------------------------
# round-3 additions: sort ordering, quantile sketch routing, label_replace
# ---------------------------------------------------------------------------


def test_sort_desc_ordering(spark, sf_dir):
    """sort_desc's only observable behavior is row order: within each
    bucket_ts, collected values must be non-increasing (and sort asc
    non-decreasing) — the oracle compares order-insensitively, so this
    is the ordering's sole verification."""
    cat = default_metric_catalog(spark, sf_dir)
    rows = compile_promql(
        "sort_desc(sum by (event_type) (events))", cat, 3_600_000
    ).collect()
    assert rows
    by_bucket: dict = {}
    for r in rows:
        by_bucket.setdefault(r.bucket_ts, []).append(r.value)
    assert all(vs == sorted(vs, reverse=True) for vs in by_bucket.values())

    rows = compile_promql(
        "sort(sum by (event_type) (events))", cat, 3_600_000
    ).collect()
    by_bucket = {}
    for r in rows:
        by_bucket.setdefault(r.bucket_ts, []).append(r.value)
    assert all(vs == sorted(vs) for vs in by_bucket.values())


def test_quantile_sketch_route_plan(spark, sf_dir):
    """Large-range quantile_over_time must NOT materialize raw-value
    arrays: the sketch route's physical plan has no collect_list /
    array_sort, while the short-range exact path keeps them."""
    cat = default_metric_catalog(spark, sf_dir)
    big = compile_promql(
        'quantile_over_time(0.95, events{event_type="purchase"}[2h])',
        cat, 60_000,
    )
    plan = big._jdf.queryExecution().executedPlan().toString()
    assert "collect_list" not in plan and "array_sort" not in plan

    small = compile_promql(
        'quantile_over_time(0.9, events{event_type="purchase"}[10m])',
        cat, 60_000,
    )
    plan_small = small._jdf.queryExecution().executedPlan().toString()
    assert "collect_list" in plan_small


def test_quantile_sketch_route_accuracy(spark, sf_dir):
    """Sketch-served quantiles honor DDSketch's relative-error contract:
    within 1% of the DISCRETE rank sample (value at rank
    floor(q*(n-1)) of the trailing window), computed independently in
    Python from the raw rows."""
    import math

    cat = default_metric_catalog(spark, sf_dir)
    step, rng, q = 60_000, 7_200_000, 0.95
    sketch = {
        (r.bucket_ts, r.user_id): r.value
        for r in compile_promql(
            'quantile_over_time(0.95, events{event_type="purchase"}[2h])',
            cat, step,
        ).collect()
    }
    src = cat.resolve("events")
    raw = (
        src.df.filter(src.df.event_type == "purchase")
        .select(src.ts_col, "user_id", src.value_col)
        .collect()
    )
    per_user: dict = {}
    for r in raw:
        bts = r[0] - r[0] % step
        per_user.setdefault(r[1], []).append((bts, r[2]))
    checked = 0
    for (bucket_ts, user), got in sketch.items():
        vals = sorted(
            v
            for b, v in per_user[user]
            if bucket_ts - (rng - step) <= b <= bucket_ts
        )
        truth = vals[math.floor(q * (len(vals) - 1))]
        if truth > 0:
            assert abs(got - truth) / truth < 0.0102
            checked += 1
    assert checked > 50


def test_label_replace_null_src_label(spark, sf_dir):
    """A NULL src-label value follows PromQL's absent-label semantics:
    it matches as the empty string (ADVICE r2)."""
    cat = default_metric_catalog(spark, sf_dir)
    # klass only exists on err* series -> NULL elsewhere; a second
    # label_replace against klass with an empty-matching regex must
    # set dst on those NULL rows.
    q = ('label_replace(label_replace(sum by (event_type) (events), '
         '"klass", "$1-class", "event_type", "(err).*"), '
         '"filled", "none", "klass", "")')
    rows = compile_promql(q, cat, 3_600_000).collect()
    assert rows
    for r in rows:
        if r.klass is None:
            assert r.filled == "none"
        else:
            assert r.filled is None


def test_label_replace_replacement_translation():
    """RE2 Expand tokenization (ADVICE r2 + r3 review fixes): group
    counting skips char-classes, braced numeric refs stay unambiguous,
    names resolve via the scanner (not literal text match)."""
    from lakerunner_spark.functions.regexops import (
        replacement_parts,
        scan_groups,
    )

    assert replacement_parts("$1-x", "(a)(b)") == [1, "-x"]
    assert replacement_parts("$3", "(a)(b)") == []          # out of range
    assert replacement_parts("$$", "(a)") == ["$"]          # literal $
    assert replacement_parts("x$", "(a)") == ["x$"]         # dangling $
    assert replacement_parts("${1}", "(a)") == [1]
    assert replacement_parts("$1foo", "(a)") == []          # name "1foo"
    assert replacement_parts("${name}", "(?P<name>a)") == [1]
    assert replacement_parts("${nope}", "(?P<name>a)") == []
    assert replacement_parts("a\\b", "(x)") == ["a\\b"]
    # braced ref followed by a digit: group 1 + literal "0", never $10
    assert replacement_parts("${1}0", "(a)(b)(c)(d)(e)(f)(g)(h)(i)(j)") == [1, "0"]
    # '(' inside a character class is not a group
    assert scan_groups("[(](a)")[0] == 1
    assert replacement_parts("$2", "[(](a)") == []          # out of range
    # literal "<name>" text is not a named group
    assert replacement_parts("$b", "x<b>y(q)") == []
    assert scan_groups("(?P<v>a)(?:x)(?<=y)(w)") == (2, {"v": 1})


def test_label_replace_empty_expansion_removes_label(spark, sf_dir):
    """Empty expansion removes the dst label (Prometheus: empty label
    value == absent label) -> NULL, not empty string."""
    cat = default_metric_catalog(spark, sf_dir)
    q = ('label_replace(sum by (event_type) (events), '
         '"klass", "$2", "event_type", "(err).*")')  # $2 out of range -> ""
    rows = compile_promql(q, cat, 3_600_000).collect()
    assert rows and all(r.klass is None for r in rows)


def test_parse_decolorize_and_pipeline_label_replace():
    from lakerunner_spark.logql.parser import (
        DecolorizeStage,
        KeepStage,
        LabelReplaceStage,
    )

    leaf = parse_logql('{a="b"} | decolorize | json k="$.k"')
    assert any(isinstance(s, DecolorizeStage) for s in leaf.stages)

    leaf = parse_logql(
        '{a="b"} | label_replace(dst, "$1-x", src, "(v).*") | keep_labels dst'
    )
    lr = [s for s in leaf.stages if isinstance(s, LabelReplaceStage)][0]
    assert (lr.dst, lr.repl, lr.src, lr.regex) == ("dst", "$1-x", "src", "(v).*")
    assert any(isinstance(s, KeepStage) and s.labels == ["dst"] for s in leaf.stages)


def test_decolorize_stage_strips_ansi(spark):
    from lakerunner_spark.logql.stages import decolorize

    df = spark.createDataFrame(
        [("\x1b[31mred\x1b[0m plain \x1b[1;32mbold-green\x1b[m",)],
        ["log_message"],
    )
    out = decolorize(df).collect()[0].log_message
    assert out == "red plain bold-green"


def test_label_replace_underscore_named_group(spark, sf_dir):
    """RE2 names may contain '_' (illegal in Java group names): the
    pattern must execute with names STRIPPED, references resolved by
    index (r3 review fix)."""
    cat = default_metric_catalog(spark, sf_dir)
    q = ('label_replace(sum by (event_type) (events), '
         '"klass", "${the_kind}!", "event_type", "(?P<the_kind>err).*")')
    rows = compile_promql(q, cat, 3_600_000).collect()
    assert rows
    assert {r.klass for r in rows if r.event_type == "error"} == {"err!"}
    assert all(r.klass is None for r in rows if r.event_type != "error")


def test_replacement_parts_unicode_digits():
    """Go RE2 Expand unicode semantics: name chars are unicode
    letters/Nd digits/underscore; numeric refs are ASCII-only; '²'
    (Number-other, not Nd) is not a name char; an invalid ${...} is
    literal."""
    from lakerunner_spark.functions.regexops import replacement_parts

    assert replacement_parts("$²", "(a)") == ["$²"]     # not a name char
    assert replacement_parts("$１", "(a)") == []         # name "１" unknown -> empty
    assert replacement_parts("${²}", "(a)") == ["${²}"]  # $ literal + rescan
    assert replacement_parts("$aé", "(a)") == []         # name "aé" unknown -> empty
    # Go numeric refs: ASCII digits, no leading zeros ('01' is a NAME)
    assert replacement_parts("$0", "(a)") == [0]
    assert replacement_parts("$00", "(a)") == []
    assert replacement_parts("$01", "(a)") == []
    assert replacement_parts("${01}", "(a)") == []
    # invalid braced content re-scans: refs inside still expand
    assert replacement_parts("${x$1}", "(a)") == ["${x", 1, "}"]


def test_java_pattern_strips_names():
    from lakerunner_spark.functions.regexops import java_pattern

    assert java_pattern("(?P<foo_bar>x)(y)") == "(x)(y)"
    assert java_pattern("(?<a1>x)") == "(x)"
    assert java_pattern("(?<=x)(?<!y)(?:z)") == "(?<=x)(?<!y)(?:z)"
    assert java_pattern(r"\(?P<not>") == r"\(?P<not>"
    assert java_pattern("[(?P<c>]") == "[(?P<c>]"


def test_named_group_regex_in_matchers_and_line_filters(spark, sf_dir):
    """RE2 named groups inside matcher / line-filter regexes execute
    (names stripped for Java) instead of crashing Pattern.compile."""
    src = default_log_source(spark, sf_dir)
    df = compile_logql_exemplar(
        '{event_type=~"(?P<err_kind>err).*"} |~ "(?P<num_7>7)"',
        src,
        limit=5,
        tiebreak=["event_id"],
    )
    rows = df.collect()
    assert len(rows) == 5
    assert all(r.event_type == "error" and "7" in r.log_message for r in rows)


def test_pattern_translator_cases():
    from lakerunner_spark.logql.stages import pattern_to_regex

    pat, groups = pattern_to_regex('{"k": <kv>}')
    assert pat == '^\\{"k": (.*?)\\}$' and groups == {"kv": 1}
    # end-anchored like Loki: trailing content fails a literal-final
    # template
    import re as _re
    assert _re.match(pat, '{"k": 7}')
    assert not _re.match(pat, '{"k": 7} trailing')
    # final capture takes the remainder (greedy), anon groups don't count
    pat, groups = pattern_to_regex('<ip> - - <_> "<method> <rest>')
    assert pat.endswith("(.*)") and groups == {"ip": 1, "method": 2, "rest": 3}
    import pytest

    with pytest.raises(ValueError, match="separated by literals"):
        pattern_to_regex("<a><b>")
    with pytest.raises(ValueError, match="at least one"):
        pattern_to_regex("no captures here")
    with pytest.raises(ValueError, match="duplicate"):
        pattern_to_regex("<a> x <a>")


def test_pattern_stage_in_pipeline(spark):
    from lakerunner_spark.logql.compiler import LogSource, compile_logql_lines

    df = spark.createDataFrame(
        [
            (0, "err", "10.0.0.1 - GET /a 200"),
            (1, "err", "10.0.0.2 - POST /b 500"),
            (2, "err", "garbage line"),
        ],
        "chq_timestamp LONG, event_type STRING, log_message STRING",
    )
    src = LogSource(df=df, labels=["event_type"])
    out = compile_logql_lines(
        '{event_type="err"} | pattern "<ip> - <method> <uri> <status>"', src
    )
    rows = {r.chq_timestamp: (r.ip, r.method, r.uri, r.status) for r in out.collect()}
    assert rows[0] == ("10.0.0.1", "GET", "/a", "200")
    assert rows[1] == ("10.0.0.2", "POST", "/b", "500")
    # unmatched lines extract empty strings (same contract as | regexp)
    assert rows[2] == ("", "", "", "")


def test_logql_quantile_large_range_routes_to_sketch(spark, sf_dir):
    """A LogQL quantile over a range spanning more than
    QUANTILE_SKETCH_MIN_BUCKETS step buckets must plan through the
    DDSketch bucket algebra — no collect_list raw-value arrays."""
    from lakerunner_spark.catalog import default_log_source
    from lakerunner_spark.logql.compiler import compile_logql

    src = default_log_source(spark, sf_dir)
    # 10m range / 5s step = 120 buckets > 60 threshold
    df = compile_logql(
        'quantile_over_time(0.9, {event_type="purchase"}'
        ' | json k="$.k" | unwrap k [10m])',
        src,
        5_000,
    )
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "collect_list" not in plan
    assert df.count() >= 0  # executes


def test_pattern_line_filters(spark):
    """|> / !> pattern line filters (reference logql/parser.go:347-350
    maps them onto regex filters): anchored template matching with
    captures as wildcards; malformed templates fail closed."""
    import pytest

    from lakerunner_spark.logql.compiler import LogSource, compile_logql_lines

    rows = [
        (0, "w", "GET /api 200"),
        (1, "w", "POST /api 500"),
        (2, "w", "GET /img 200 extra"),
        (3, "w", "GET /health 200"),
    ]
    df = spark.createDataFrame(
        rows, "chq_timestamp LONG, app STRING, log_message STRING"
    )
    src = LogSource(df, ["app"])

    got = compile_logql_lines('{app="w"} |> "GET <_> 200"', src).collect()
    # anchored at both ends: the "extra"-suffixed line must not match
    assert sorted(r.log_message for r in got) == [
        "GET /api 200",
        "GET /health 200",
    ]

    got = compile_logql_lines(
        '{app="w"} |> "GET <_> 200" !> "<_>health<_>"', src
    ).collect()
    assert [r.log_message for r in got] == ["GET /api 200"]

    # template-final capture consumes the remainder (no end anchor)
    got = compile_logql_lines('{app="w"} |> "GET <path> <_>"', src).collect()
    assert len(got) == 3

    with pytest.raises(ValueError, match="separated by literals"):
        compile_logql_lines('{app="w"} |> "<a><b>"', src).collect()
    with pytest.raises(ValueError, match="needs a string"):
        compile_logql_lines('{app="w"} |> 42', src).collect()


def test_duration_bytes_ip_filters(spark):
    """Loki unit-typed label filters and ip() matchers (extensions; the
    reference degrades duration/bytes literals to NULL casts)."""
    from lakerunner_spark.logql.compiler import LogSource, compile_logql_lines

    rows = [
        (0, "w", "conn from 192.168.4.10 latency=300ms size=2kb addr=192.168.4.10"),
        (1, "w", "conn from 10.1.2.3 latency=100ms size=500b addr=10.1.2.3"),
        (2, "w", "no ip latency=1.5s size=3MiB addr=not-an-ip"),
    ]
    df = spark.createDataFrame(
        rows, "chq_timestamp LONG, app STRING, log_message STRING"
    )
    src = LogSource(df, ["app"])

    def run(q):
        return sorted(r.chq_timestamp for r in compile_logql_lines(q, src).collect())

    assert run('{app="w"} | logfmt | latency > 250ms') == [0, 2]
    assert run('{app="w"} | logfmt | latency <= 1s') == [0, 1]
    assert run('{app="w"} | logfmt | size > 1kb') == [0, 2]
    assert run('{app="w"} | logfmt | size >= 500B') == [0, 1, 2]
    assert run('{app="w"} |= ip("192.168.0.0/16")') == [0]
    assert run('{app="w"} != ip("192.168.0.0/16")') == [1, 2]
    assert run('{app="w"} | logfmt | addr = ip("192.168.4.5-192.168.4.20")') == [0]
    # non-IP label value never matches =, always matches !=
    assert run('{app="w"} | logfmt | addr != ip("0.0.0.0/0")') == [2]

    import pytest

    # IPv6 patterns are supported since r5 (family-matched: a v6
    # pattern never matches these v4-only lines)
    assert run('{app="w"} |= ip("2001:db8::/32")') == []
    with pytest.raises(ValueError, match="unsupported ip"):
        run('{app="w"} |= ip("not-an-ip")')
    with pytest.raises(ValueError, match="= and !="):
        run('{app="w"} | logfmt | addr =~ ip("10.0.0.0/8")')


def test_json_error_label(spark):
    """__error__ semantics: json stage marks malformed lines; filters on
    __error__ without a parser see the empty string."""
    from lakerunner_spark.logql.compiler import LogSource, compile_logql_lines

    rows = [(0, "w", '{"k": 1}'), (1, "w", "not json"), (2, "w", '{"k": 3}')]
    df = spark.createDataFrame(
        rows, "chq_timestamp LONG, app STRING, log_message STRING"
    )
    src = LogSource(df, ["app"])

    def run(q):
        return sorted(r.chq_timestamp for r in compile_logql_lines(q, src).collect())

    assert run('{app="w"} | json k="$.k" | __error__ = ""') == [0, 2]
    assert run('{app="w"} | json k="$.k" | __error__ != ""') == [1]
    assert run('{app="w"} | __error__ = ""') == [0, 1, 2]
