"""Property-based tests (hypothesis) for the engine's pure kernels:
bucket math, duration parsing, hashing, and trigram pruning soundness."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from lakerunner_spark.functions.hashing import fnv64a_py, java_string_hash_py
from lakerunner_spark.plans.pruning import query_trigrams, trigrams
from lakerunner_spark.promql.parser import parse_duration_ms


# -- bucket math -------------------------------------------------------------

@given(ts=st.integers(min_value=0, max_value=2**53), step=st.sampled_from(
    [10_000, 60_000, 300_000, 1_200_000, 3_600_000]))
def test_bucket_invariants(ts, step):
    bucket = ts - ts % step
    assert bucket <= ts < bucket + step
    assert bucket % step == 0


# -- duration parsing --------------------------------------------------------

@given(
    parts=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=999),
            st.sampled_from(["ms", "s", "m", "h", "d", "w"]),
        ),
        min_size=1,
        max_size=3,
        unique_by=lambda p: p[1],
    )
)
def test_duration_parse_is_sum_of_parts(parts):
    unit_ms = {"ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000,
               "d": 86_400_000, "w": 604_800_000}
    text = "".join(f"{n}{u}" for n, u in parts)
    assert parse_duration_ms(text) == sum(n * unit_ms[u] for n, u in parts)


# -- hashing -----------------------------------------------------------------

@given(s=st.text(max_size=200))
def test_fnv64a_in_int64_range(s):
    h = fnv64a_py(s)
    assert -(2**63) <= h < 2**63


@given(s=st.text(max_size=200))
def test_java_hash_in_int32_range(s):
    h = java_string_hash_py(s)
    assert -(2**31) <= h < 2**31


@given(s=st.text(min_size=1, max_size=50))
def test_hashes_deterministic(s):
    assert fnv64a_py(s) == fnv64a_py(s)
    assert java_string_hash_py(s) == java_string_hash_py(s)


# -- trigram pruning soundness ----------------------------------------------

@settings(max_examples=200)
@given(
    text=st.text(
        alphabet=st.sampled_from("abc d efg"), min_size=0, max_size=60
    ),
    needle=st.text(
        alphabet=st.sampled_from("abcdefg"), min_size=1, max_size=8
    ),
)
def test_trigram_prune_never_false_negative(text, needle):
    """If needle appears in text (case-insensitive substring), every
    PRUNABLE gram of the needle must appear in the text's index gram
    set — the invariant that makes index pruning semantics-preserving
    (J6). query_trigrams returning [] means 'don't prune', always safe."""
    if needle.lower() not in text.lower():
        return
    text_grams = set(trigrams(text))
    for g in query_trigrams(needle):
        assert g in text_grams, (text, needle, g)


@settings(max_examples=300)
@given(
    repl=st.text(
        alphabet=st.sampled_from("$ab1{}_\\0"), min_size=0, max_size=20
    ),
    pattern=st.sampled_from(
        ["(a)", "(a)(b)", "[(](a)", "(?P<n>x)(y)", "(?:z)(q)", "a"]
    ),
)
def test_replacement_parts_total_and_wellformed(repl, pattern):
    """replacement_parts never throws, emits only literals and in-range
    group indexes, and literal-only replacements reassemble verbatim."""
    from lakerunner_spark.functions.regexops import (
        replacement_parts,
        scan_groups,
    )

    parts = replacement_parts(repl, pattern)
    n, _names = scan_groups(pattern)
    for p in parts:
        if isinstance(p, int):
            assert 0 <= p <= n
        else:
            assert isinstance(p, str) and p != ""
    if "$" not in repl:
        assert parts == ([repl] if repl else [])


# --------------------------- PII pattern properties -------------------------
# PII_PATTERNS is the shared artifact between the Spark scrub and the
# DuckDB oracle (Java-regex/RE2 common subset, which Python `re` also
# implements identically); these properties validate the pattern SET —
# masks never create new matches, and the scrub is idempotent.

import re as _re

from lakerunner_spark.dataops.text import PII_PATTERNS


def _py_scrub(s: str) -> str:
    for _, pat, mask in PII_PATTERNS:
        s = _re.sub(pat, mask, s)
    return s


_PII_SNIPPETS = st.sampled_from([
    "bob.smith+x@sub.example.org", "a@b.co", "10.0.3.7",
    "192.168.001.254", "+1-555-0042", "+44-800-555-0199",
])
_FILLER = st.text(
    alphabet="abcdefghijklmnop QRSTUV.,-", min_size=0, max_size=30
)


@settings(max_examples=300)
@given(parts=st.lists(st.one_of(_PII_SNIPPETS, _FILLER), max_size=6))
def test_pii_scrub_idempotent_and_complete(parts):
    s = " ".join(parts)
    once = _py_scrub(s)
    # complete: no pattern still matches after the scrub
    for _, pat, _m in PII_PATTERNS:
        assert not _re.search(pat, once), (pat, once)
    # idempotent: masks never assemble into new matches
    assert _py_scrub(once) == once


# ---------------------------------------------------------------------------
# | pattern template translation
# ---------------------------------------------------------------------------

_LIT = st.text(
    alphabet=st.characters(
        codec="utf-8", blacklist_characters="<>\n"
    ),
    min_size=1,
    max_size=8,
)
_NAME = st.from_regex(r"[a-z][a-z0-9_]{0,6}", fullmatch=True)


@given(
    lits=st.lists(_LIT, min_size=2, max_size=5),
    names=st.lists(_NAME, min_size=1, max_size=4, unique=True),
    vals=st.lists(
        st.text(
            alphabet=st.characters(codec="utf-8", blacklist_characters="<>\n"),
            max_size=6,
        ),
        min_size=1,
        max_size=4,
    ),
)
@settings(max_examples=120, deadline=None)
def test_pattern_roundtrip_extracts_planted_values(lits, names, vals):
    """Build `lit0 <n0> lit1 <n1> ... litK`, plant capture values that
    don't contain any separating literal, and verify the generated
    regex extracts exactly the planted values (Python re on the
    RE2/Java-portable pattern)."""
    import re as _re

    from lakerunner_spark.logql.stages import pattern_to_regex

    k = min(len(names), len(vals), len(lits) - 1)
    names, vals, seps = names[:k], vals[:k], lits[: k + 1]
    # a capture is non-greedy up to the NEXT literal: planted values
    # must not contain the literal that follows them
    vals = [v for v, nxt in zip(vals, seps[1:]) if nxt not in v] or None
    if vals is None or len(vals) < k:
        return  # generator collision; skip this example
    template = seps[0] + "".join(
        f"<{n}>{lit}" for n, lit in zip(names, seps[1:])
    )
    line = seps[0] + "".join(v + lit for v, lit in zip(vals, seps[1:]))
    pattern, groups = pattern_to_regex(template)
    m = _re.match(pattern, line)
    assert m is not None, (template, line, pattern)
    for name, val in zip(names, vals):
        got = m.group(groups[name])
        # non-greedy stops at the FIRST occurrence of the next literal;
        # the planted value is recovered exactly when unambiguous
        assert got == val or val.startswith(got) or got.startswith(val)


@given(s=st.text(max_size=120))
@settings(max_examples=80, deadline=None)
def test_batch_hash_kernels_match_python(s):
    """The vectorized numpy kernels agree with the per-byte Python
    goldens on arbitrary unicode, including empty strings."""
    import pandas as pd

    from lakerunner_spark.functions.hashing import (
        fnv64a_batch,
        java_string_hash_batch,
    )

    ser = pd.Series([s, None, s + "x"], dtype="object")
    fb = fnv64a_batch(ser)
    jb = java_string_hash_batch(ser)
    assert fb[0] == fnv64a_py(s) and jb[0] == java_string_hash_py(s)
    assert fb[1] is pd.NA and jb[1] is pd.NA
    assert fb[2] == fnv64a_py(s + "x")


@given(s=st.text(alphabet=st.sampled_from(
    'abce(){}[]<>|=!~+-*/%,."\' 0123456789_ms'), max_size=60))
@settings(max_examples=400, deadline=None)
def test_parsers_fail_closed_on_garbage(s):
    """Random near-grammar garbage must either parse or raise
    ValueError — never IndexError/KeyError/AttributeError (fail-closed
    front ends; the API validate endpoints rely on it)."""
    from lakerunner_spark.logql.parser import parse_logql
    from lakerunner_spark.promql.parser import parse_promql

    for parse in (parse_promql, parse_logql):
        try:
            parse(s)
        except ValueError:
            pass


@given(
    st.floats(min_value=0.001, max_value=1e6, allow_nan=False),
    st.sampled_from(["b", "B", "kb", "KB", "kib", "KiB", "mb", "MB",
                     "MiB", "gb", "GiB", "tb", "pb", "eb"]),
)
def test_parse_bytes_unit_algebra(num, unit):
    """parse_bytes: decimal units scale by 1000^k, binary by 1024^k,
    case-insensitively; the numeric part scales linearly."""
    from lakerunner_spark.promql.parser import parse_bytes

    got = parse_bytes(f"{num}{unit}")
    u = unit.lower()
    if u == "b":
        expect = num
    else:
        base = 1024.0 if u.endswith("ib") else 1000.0
        expect = num * base ** ("kmgtpe".index(u[0]) + 1)
    assert abs(got - expect) <= 1e-9 * max(1.0, abs(expect))


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=999),
            st.sampled_from(["ms", "s", "m", "h", "d", "w"]),
        ),
        min_size=1,
        max_size=4,
    )
)
def test_parse_duration_s_composite(parts):
    """Composite duration literals sum their segments in seconds."""
    from lakerunner_spark.promql.parser import parse_duration_s

    text = "".join(f"{n}{u}" for n, u in parts)
    mult = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
            "d": 86400.0, "w": 604800.0}
    expect = sum(n * mult[u] for n, u in parts)
    assert abs(parse_duration_s(text) - expect) <= 1e-9 * max(1.0, expect)


@given(st.text(alphabet="ab<>_ x", min_size=1, max_size=30))
@settings(max_examples=200)
def test_pattern_filter_never_crashes_or_lies(template):
    """pattern_to_regex(as_filter=True) either raises ValueError
    (fail-closed) or returns an anchored regex with no capture groups
    (filters keep no columns) that Python's re engine accepts."""
    import re as _re

    from lakerunner_spark.logql.stages import pattern_to_regex

    try:
        pat, groups = pattern_to_regex(template, as_filter=True)
    except ValueError:
        return
    assert groups == {}
    compiled = _re.compile(pat)
    assert compiled.groups == 0
    assert pat.startswith("^")


@given(st.integers(min_value=0, max_value=2**32 - 1))
def test_ip_pattern_single_address_bounds(n):
    """A single-address ip() pattern has lo == hi == its numeric value."""
    from lakerunner_spark.logql.stages import ip_pattern_bounds

    addr = ".".join(str((n >> s) & 0xFF) for s in (24, 16, 8, 0))
    fam, lo, hi = ip_pattern_bounds(addr)
    assert fam == "v4"
    assert int(lo) == int(hi) == n


@given(st.integers(min_value=0, max_value=2**32 - 1),
       st.integers(min_value=0, max_value=32))
def test_ip_pattern_cidr_contains_network(n, bits):
    """CIDR bounds bracket the (masked) network address and span
    exactly 2^(32-bits) addresses."""
    from lakerunner_spark.logql.stages import ip_pattern_bounds

    addr = ".".join(str((n >> s) & 0xFF) for s in (24, 16, 8, 0))
    fam, lo, hi = ip_pattern_bounds(f"{addr}/{bits}")
    assert fam == "v4"
    assert int(hi) - int(lo) + 1 == 2 ** (32 - bits)
    assert int(lo) <= n <= int(hi)


@given(st.integers(min_value=0, max_value=2**128 - 1))
def test_ip_pattern_ipv6_single_address_bounds(n):
    """A single-address IPv6 pattern round-trips through the 32-hex
    bound encoding (lexicographic == numeric order by construction)."""
    import ipaddress

    from lakerunner_spark.logql.stages import ip_pattern_bounds

    addr = str(ipaddress.IPv6Address(n))
    fam, lo, hi = ip_pattern_bounds(addr)
    assert fam == "v6"
    assert lo == hi == format(n, "032x")


@given(st.integers(min_value=0, max_value=2**128 - 1),
       st.integers(min_value=0, max_value=128))
def test_ip_pattern_ipv6_cidr_contains_network(n, bits):
    """IPv6 CIDR bounds bracket the address and span 2^(128-bits)."""
    import ipaddress

    from lakerunner_spark.logql.stages import ip_pattern_bounds

    addr = str(ipaddress.IPv6Address(n))
    fam, lo, hi = ip_pattern_bounds(f"{addr}/{bits}")
    assert fam == "v6"
    assert int(hi, 16) - int(lo, 16) + 1 == 2 ** (128 - bits)
    assert int(lo, 16) <= n <= int(hi, 16)


_QUERY_TOKENS = [
    "{", "}", "[", "]", "(", ")", "|=", "!=", "|~", "!~", "|>", "!>", "|",
    "ip", "or", "and", ",", "=", "=~", '"a"', '"10.0.0.0/8"', "5m", "1h",
    ":", "json", "logfmt", "unwrap", "label_format", "line_format", "keep",
    "drop", "pattern", "regexp", "unpack", "decolorize", "label_replace",
    "__error__", "rate", "sum", "topk", "by", "without", "offset", "@",
    "start()", "end()", "app", "dur", ">=", "2", "0.5", "count_over_time",
    "vector", "time()", "bool", "on", "ignoring", "group_left", "250ms",
    "2kb", "m", "-", "+", "*", "/", "^", "%",
]


@given(st.lists(st.sampled_from(_QUERY_TOKENS), min_size=1, max_size=25))
@settings(max_examples=300)
def test_logql_parser_fails_closed(tokens):
    """Arbitrary token soup either parses or raises ValueError — never
    IndexError/KeyError/AttributeError (a front-end that crashes with
    an internal error on malformed queries is an API-surface bug)."""
    from lakerunner_spark.logql.parser import parse_logql

    try:
        parse_logql(" ".join(tokens))
    except ValueError:
        pass


@given(st.lists(st.sampled_from(_QUERY_TOKENS), min_size=1, max_size=25))
@settings(max_examples=300)
def test_promql_parser_fails_closed(tokens):
    from lakerunner_spark.promql.parser import parse_promql

    try:
        parse_promql(" ".join(tokens))
    except ValueError:
        pass


@given(st.text(alphabet='{}[]()|=~!<>"\' abcdefm5s,._:@-+*/0123456789',
               min_size=1, max_size=40))
@settings(max_examples=300)
def test_parsers_fail_closed_on_raw_text(s):
    from lakerunner_spark.logql.parser import parse_logql
    from lakerunner_spark.promql.parser import parse_promql

    for parse in (parse_logql, parse_promql):
        try:
            parse(s)
        except ValueError:
            pass


@given(
    scores=st.lists(
        st.floats(min_value=0.01, max_value=1e6,
                  allow_nan=False, allow_infinity=False),
        min_size=2, max_size=60,
    ),
    q=st.floats(min_value=0.05, max_value=0.95),
)
@settings(max_examples=300, deadline=None)
def test_grouped_rank_sketch_contract(scores, q):
    """The grouped-rank routes' correctness CONTRACT, as algebra (the
    Spark tests check the implementation matches this math; this checks
    the math itself over random inputs): the DDSketch threshold route
    (bucket = ceil(ln s / ln gamma), cum walk to rank floor(q*(n-1)),
    mid-bucket threshold 2*gamma^i/(gamma+1), keep-low = s <= t) may
    disagree with the exact percent_rank route ONLY for scores within
    one bucket (the relative-error band, ~±1% at acc=0.01) of the
    rank-selected value. Everywhere else the buckets agree exactly."""
    import math
    from collections import Counter

    from lakerunner_spark.operators.ddsketch import gamma_for

    gamma = gamma_for(0.01)
    lg = math.log(gamma)
    n = len(scores)
    rank = math.floor(q * (n - 1))
    # sketch threshold from the cumulative bucket walk
    counts = Counter(math.ceil(math.log(s) / lg) for s in scores)
    cum, hit = 0, None
    for b in sorted(counts):
        cum += counts[b]
        if cum > rank:
            hit = b
            break
    t = 2.0 * gamma ** hit / (gamma + 1.0)
    # exact route: percent_rank(s) = (rank(s)-1)/(n-1), SQL rank ties
    v = sorted(scores)[rank]  # the rank-selected value
    for s in scores:
        pr = sum(1 for y in scores if y < s) / (n - 1)
        exact_low = pr <= q
        sketch_low = s <= t
        if exact_low != sketch_low:
            assert v / gamma**2 <= s <= v * gamma**2, (s, v, t, q)
