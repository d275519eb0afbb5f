"""LogQL pipeline stages as DataFrame transforms (P1-P13).

The reference compiles a LogQL pipeline left→right into stacked CTEs
``s0..sN`` (logql/worker_sql.go:24-101). In Spark each stage is a
``df.filter`` / ``df.withColumn``; Catalyst collapses the chain into a
single projection+filter and pushes predicates to the Parquet scan as
far as stage dependencies allow — the reference's hand-built "earliest
valid point" filter staging (worker_sql.go:215-266) falls out for free.

Regex note: LogQL uses RE2; Spark uses Java regex. The subset used by
these builders (literal alternation, character classes, capture groups)
is dialect-portable; named-group translation lives in the caller.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lakerunner_spark.functions.unwrap import bytes_to_bytes, duration_to_seconds

# Rows ``| json``/``| logfmt``/``| unpack`` auto mode samples to discover
# keys: the bound on that discovery's driver-side collect.
KEY_SAMPLE_ROWS = 1000


def time_range(df: DataFrame, start_ms: int, end_ms: int) -> DataFrame:
    """P3: ``ts >= start AND ts < end`` — pushed to partition/row-group pruning."""
    ts = F.col("chq_timestamp")
    return df.filter((ts >= start_ms) & (ts < end_ms))


def label_matcher(df: DataFrame, label: str, op: str, value: str) -> DataFrame:
    """P4: selector matchers ``= != =~ !~`` on a label column.

    Regex matchers are fully anchored — Prometheus/LogQL matcher
    semantics (the reference compiles them to DuckDB ``~`` =
    regexp_full_match; logql/sql_builder.go:592-606). Line filters
    (P6) stay unanchored.

    An absent label (NULL column) compares as the EMPTY STRING, the
    Prometheus/Loki rule: ``{job=""}`` selects rows without the label,
    ``{job=~".*"}`` keeps them, ``{job!=""}`` excludes them. Without
    the coalesce every comparison over NULL is NULL and those rows
    silently fall out of all four operators.
    """
    from lakerunner_spark.functions.regexops import java_pattern

    c = F.coalesce(F.col(label).cast("string"), F.lit(""))
    if op == "=":
        return df.filter(c == value)
    if op == "!=":
        return df.filter(c != value)
    # RE2 named groups in a matcher regex would crash Java's
    # Pattern.compile (name charset differs) — strip names, groups are
    # never referenced from matchers
    if op == "=~":
        return df.filter(c.rlike(java_pattern(f"\\A(?:{value})\\z")))
    if op == "!~":
        return df.filter(~c.rlike(java_pattern(f"\\A(?:{value})\\z")))
    raise ValueError(f"unsupported matcher op: {op}")


def numeric_label_filter(df: DataFrame, label: str, op: str, value: float) -> DataFrame:
    """P5: ``try_cast(label AS DOUBLE) <op> n`` (sql_builder.go:572-580)."""
    return df.filter(label_filter_expr(label, op, float(value)))


def line_match_expr(op: str, needle: str, line_col: str = "log_message"):
    """POSITIVE match Column for one line-filter term — the op's
    pattern class with negation stripped (the caller applies negation
    once, after any `or` disjunction is composed — Loki negates the
    whole chain)."""
    from lakerunner_spark.functions.regexops import java_pattern

    c = F.col(line_col)
    if op in ("|=", "!="):
        return c.contains(needle)
    if op in ("|~", "!~"):
        return c.rlike(java_pattern(needle))
    if op in ("|>", "!>"):
        # pattern line filters (Loki 3.x): the reference maps
        # LineMatchPattern/LineMatchNotPattern onto regex line filters
        # (logql/parser.go:347-350); the template compiles through the
        # same translation as the ``| pattern`` parser stage, with all
        # captures demoted to wildcards
        pattern, _ = pattern_to_regex(needle, as_filter=True)
        return c.rlike(pattern)
    raise ValueError(f"unsupported line filter op: {op}")


def line_filter(df: DataFrame, op: str, needle: str, line_col: str = "log_message") -> DataFrame:
    """P6: line filters ``|= != |~ !~ |> !>`` on the message body.
    Regex needles are RE2 — group names stripped for Java execution."""
    m = line_match_expr(op, needle, line_col)
    return df.filter(~m if op in ("!=", "!~", "!>") else m)


def line_filter_or(
    df: DataFrame,
    op: str,
    head,  # ("ip"|"str", value) — the chain's first term
    ors: "list[tuple[str, str]]",
    line_col: str = "log_message",
) -> DataFrame:
    """Loki `or` chains: ``|= "a" or "b" or ip("...")`` keeps lines
    matching ANY term; negated ops (``!= "a" or "b"``) negate the
    WHOLE disjunction — lines matching none of the terms (Loki 3.x
    semantics). Terms may mix strings and ip() patterns."""
    m = None
    for kind, value in [head] + list(ors):
        term = (
            ip_line_match_expr(value, line_col)
            if kind == "ip"
            else line_match_expr(op, value, line_col)
        )
        m = term if m is None else (m | term)
    return df.filter(~m if op in ("!=", "!~", "!>") else m)


def json_parser(df: DataFrame, keys: dict[str, str], line_col: str = "log_message") -> DataFrame:
    """P7: per-key ``get_json_object`` extraction.

    ``keys`` maps output column -> JSON path (e.g. {"status": "$.status"}).
    Only the keys the pipeline needs are extracted (the reference's
    needKeys look-ahead, worker_sql.go:455-530, becomes: the compiler
    passes exactly the needed keys here; Catalyst prunes the rest).
    """
    out = df
    for col_name, path in keys.items():
        out = out.withColumn(col_name, F.get_json_object(F.col(line_col), path))
    return out


def discover_json_keys(
    df: DataFrame, line_col: str = "log_message"
) -> list[str]:
    """Auto-discover top-level JSON keys from a row sample.

    The reference's ``| json`` without mappings extracts every
    discovered key (logql/worker_sql.go:455-530 needKeys auto mode);
    here discovery is a bounded sample scan at plan-construction time
    (one tiny job), then extraction compiles to static columns.
    """
    rows = (
        df.limit(KEY_SAMPLE_ROWS)
        .select(F.explode(F.json_object_keys(F.col(line_col))).alias("k"))
        .distinct()
        .collect()
    )
    return sorted(r.k for r in rows)


def json_parser_auto(
    df: DataFrame, line_col: str = "log_message"
) -> tuple[DataFrame, list[str]]:
    """P7 auto mode: discover keys, then extract each (normalized names)."""
    from lakerunner_spark.schema import normalize_name

    keys = discover_json_keys(df, line_col)
    mappings = {normalize_name(k): f"$.{k}" for k in keys}
    return json_parser(df, mappings, line_col=line_col), sorted(mappings)


def logfmt_parser(df: DataFrame, keys: list[str], line_col: str = "log_message") -> DataFrame:
    """P8: per-key ``regexp_extract(body, 'key=value')`` (worker_sql.go:599-704)."""
    out = df
    for key in keys:
        pat = rf"(?:^|\s){key}=(?:\"([^\"]*)\"|([^\s\"]*))"
        # unquoted group wins when quoted group is empty
        quoted = F.regexp_extract(F.col(line_col), pat, 1)
        bare = F.regexp_extract(F.col(line_col), pat, 2)
        out = out.withColumn(
            key, F.when(quoted != "", quoted).otherwise(bare)
        )
    return out


def discover_logfmt_keys(
    df: DataFrame, line_col: str = "log_message"
) -> list[str]:
    """Auto-discover logfmt keys (``key=``) from a row sample."""
    rows = (
        df.limit(KEY_SAMPLE_ROWS)
        .select(
            F.explode(
                F.expr(
                    f"regexp_extract_all({line_col},"
                    " '(?:^|\\\\s)([A-Za-z_][A-Za-z0-9_]*)=', 1)"
                )
            ).alias("k")
        )
        .distinct()
        .collect()
    )
    return sorted(r.k for r in rows)


def logfmt_parser_auto(
    df: DataFrame, line_col: str = "log_message"
) -> tuple[DataFrame, list[str]]:
    """P8 auto mode: discover keys then extract each."""
    keys = discover_logfmt_keys(df, line_col)
    return logfmt_parser(df, keys, line_col=line_col), keys


def regexp_parser(
    df: DataFrame, pattern: str, groups: dict[str, int], line_col: str = "log_message"
) -> DataFrame:
    """P9: capture groups -> columns (worker_sql.go:377-454)."""
    out = df
    for col_name, idx in groups.items():
        out = out.withColumn(col_name, F.regexp_extract(F.col(line_col), pattern, idx))
    return out


# regex metacharacters escaped identically in Java regex and RE2 —
# pattern templates translate to the dialect-portable subset
_REGEX_META = set(".^$*+?()[]{}|\\")


def _escape_literal(lit: str) -> str:
    return "".join("\\" + ch if ch in _REGEX_META else ch for ch in lit)


import re as _re

_PATTERN_CAP = _re.compile(r"<(_|[A-Za-z_][A-Za-z0-9_]*)>")


def pattern_to_regex(
    template: str, as_filter: bool = False
) -> tuple[str, dict[str, int]]:
    """Loki ``| pattern`` template -> (anchored regex, name -> group idx).

    ``as_filter=True`` compiles the template for the ``|>`` / ``!>``
    pattern LINE FILTERS (the reference maps those onto regex line
    filters, logql/parser.go:347-350): every capture — named or ``<_>``
    — becomes a non-capturing wildcard (a filter keeps no columns) and
    the named-capture requirement is dropped; anchoring and the
    adjacent-captures rejection are unchanged.

    Extension beyond the reference's stage list (logql/parser.go:677
    stops at regexp/json/logfmt/...): ``<name>`` captures the shortest
    run up to the next literal (non-greedy), ``<_>`` skips one, and the
    final capture — when the template ends with one — takes the line's
    remainder. The pattern is anchored at BOTH ends like Loki's: a
    template ending in a literal only matches lines that end with it
    (append ``<_>`` to skip trailing content). Literals must separate
    captures (adjacent captures are ambiguous and rejected, as in
    Loki). The emitted regex uses only the Java/RE2-portable subset, so
    the same string drives Spark's regexp_extract and a DuckDB
    oracle."""
    caps = list(_PATTERN_CAP.finditer(template))
    if not caps:
        raise ValueError("logql: | pattern needs at least one <capture>")
    parts: list[str] = []
    groups: dict[str, int] = {}
    prev_end = 0
    for m in caps:
        if m.start() == prev_end and parts and parts[-1].endswith(")"):
            raise ValueError(
                "logql: | pattern captures must be separated by literals"
            )
        parts.append(_escape_literal(template[prev_end : m.start()]))
        is_final = m.end() == len(template) and m is caps[-1]
        body = ".*" if is_final else ".*?"
        name = m.group(1)
        if name == "_" or as_filter:
            parts.append(f"(?:{body})")
        else:
            if name in groups:
                raise ValueError(f"logql: | pattern duplicate capture <{name}>")
            groups[name] = len(groups) + 1
            parts.append(f"({body})")
        prev_end = m.end()
    tail = template[prev_end:]
    parts.append(_escape_literal(tail))
    if not groups and not as_filter:
        raise ValueError("logql: | pattern needs at least one named <capture>")
    # end-anchor when the template ends in a literal (a template-final
    # capture already consumes the remainder via its greedy .*)
    suffix = "$" if tail else ""
    return "^" + "".join(parts) + suffix, groups


def label_format(df: DataFrame, out_col: str, expr: Column) -> DataFrame:
    """P10: label_format template compiled to a scalar Column expression."""
    return df.withColumn(out_col, expr)


def line_format(df: DataFrame, expr: Column, line_col: str = "log_message") -> DataFrame:
    """P11: rewrite the message body from a template (worker_sql.go:771-814)."""
    return df.withColumn(line_col, expr)


def unwrap(df: DataFrame, label: str, conv: str = "", out_col: str = "_unwrapped") -> DataFrame:
    """P12: extract a numeric from a label; conv ∈ {"", "duration", "bytes"}."""
    c = F.col(label)
    if conv == "duration":
        value = duration_to_seconds(c)
    elif conv == "bytes":
        value = bytes_to_bytes(c)
    elif conv == "":
        value = c.try_cast("double")
    else:
        raise ValueError(f"unsupported unwrap conversion: {conv}")
    return df.withColumn(out_col, value)


def keep_fields(df: DataFrame, fields: list[str]) -> DataFrame:
    """P13: restrict returned columns — Catalyst prunes the scan to match."""
    return df.select(*fields)


# ANSI SGR (Select Graphic Rendition) escape: ESC [ <params> m
_ANSI_SGR_PATTERN = "\x1b\\[[0-9;]*m"


def decolorize(df: DataFrame, line_col: str = "log_message") -> DataFrame:
    """``| decolorize``: strip ANSI color sequences from the line
    (pipeline stage accepted by the reference, logql/parser.go:677).
    Pure regexp_replace — whole-stage codegen."""
    return df.withColumn(
        line_col, F.regexp_replace(F.col(line_col), _ANSI_SGR_PATTERN, "")
    )


def decolorize_sql(line_sql: str) -> str:
    """DuckDB oracle twin of :func:`decolorize`."""
    return f"regexp_replace({line_sql}, e'\\x1b\\\\[[0-9;]*m', '', 'g')"


def label_replace(
    df: DataFrame, dst: str, repl: str, src: str, regex: str
) -> DataFrame:
    """PromQL label_replace semantics applied as a pipeline stage: the
    regex is fully anchored against src's value (absent label or NULL =
    ""); on match dst becomes the RE2-expanded replacement (empty
    expansion removes the label — Prometheus treats empty label values
    as absent), otherwise the row is unchanged (dst keeps its value, or
    stays NULL)."""
    from lakerunner_spark.functions.regexops import (
        expand_replacement,
        java_pattern,
    )

    src_col = (
        F.coalesce(F.col(src).cast("string"), F.lit(""))
        if src in df.columns
        else F.lit("")
    )
    anchored = f"\\A(?:{regex})\\z"
    expanded = F.nullif(expand_replacement(src_col, anchored, repl, regex), F.lit(""))
    matched = src_col.rlike(java_pattern(anchored))
    if dst in df.columns:
        new_dst = F.when(matched, expanded).otherwise(F.col(dst).cast("string"))
    else:
        new_dst = F.when(matched, expanded)
    return df.withColumn(dst, new_dst)


# -- Loki ip() matchers and unit-typed label filters (extensions; the
# reference degrades duration/bytes literals to NULL casts and has no
# ip() path — sql_builder.go:572-580 asNumericSQL) -----------------------

# exact IPv4 (octets 0-255); used both to validate label values and to
# extract candidate addresses from line bodies
_IPV4 = r"(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
IPV4_RE = rf"{_IPV4}\.{_IPV4}\.{_IPV4}\.{_IPV4}"
# candidate IPv6 token: >=2 colons of hex groups, optional dotted-quad
# tail (::ffff:1.2.3.4). Over-extracts by design — _ipv6_valid_sql
# filters garbage; an extraction regex that is also a full validator is
# the classic unmaintainable IPv6 monster, so validate structurally
# instead.
IPV6_CAND_RE = (
    r"(?<![0-9a-zA-Z:.])"
    r"((?:[0-9a-fA-F]{0,4}:){2,}(?:(?:\d{1,3}\.){3}\d{1,3}|[0-9a-fA-F]{0,4}))"
    r"(?![0-9a-zA-Z:.])"
)


def ip_pattern_bounds(pattern: str) -> tuple[str, str, str]:
    """Loki ip() pattern -> (family, lo, hi) inclusive bounds.

    Accepts a single address ("10.0.0.1", "2001:db8::1"), CIDR
    ("192.168.0.0/16", "2001:db8::/32"), or an inclusive range
    ("192.168.4.5-192.168.4.20"). IPv4 bounds are decimal-integer
    strings; IPv6 bounds are the 32-hex-digit fully-expanded form
    (lexicographic order on that form == numeric order, which is how
    the Spark-side comparison avoids 128-bit arithmetic). Values match
    only patterns of the same address family (Loki netaddr semantics:
    a v4 pattern never matches a v6 literal and vice versa)."""
    import ipaddress

    def one(addr: str):
        a = ipaddress.ip_address(addr.strip())
        return a.version, int(a)

    def fmt(version: int, v: int) -> str:
        return str(v) if version == 4 else format(v, "032x")

    try:
        if "-" in pattern:
            # '-' never appears inside a v4 or v6 literal, so the split
            # is unambiguous for both families
            lo_s, hi_s = (p.strip() for p in pattern.split("-", 1))
            (ver, lo), (ver2, hi) = one(lo_s), one(hi_s)
            if ver != ver2:
                raise ValueError("range endpoints mix address families")
            if hi < lo:
                raise ValueError("range upper bound below lower bound")
            return (f"v{ver}", fmt(ver, lo), fmt(ver, hi))
        if "/" in pattern:
            net = ipaddress.ip_network(pattern.strip(), strict=False)
            ver = net.version
            return (
                f"v{ver}",
                fmt(ver, int(net.network_address)),
                fmt(ver, int(net.broadcast_address)),
            )
        ver, a = one(pattern)
        return (f"v{ver}", fmt(ver, a), fmt(ver, a))
    except ValueError as e:
        # ipaddress raises plain ValueError for unparseable text and
        # AddressValueError/NetmaskValueError subclasses for the rest
        raise ValueError(
            f"logql: unsupported ip() pattern {pattern!r}: {e}"
        ) from None


def _sql_re(regex: str) -> str:
    """Escape a Java-regex string for embedding in a SQL string literal
    (Spark's literal parser consumes one level of backslashes)."""
    return regex.replace("\\", "\\\\")


def _ipv4_num_sql(expr: str) -> str:
    """SQL fragment: dotted-quad string expr -> numeric value (long)."""
    # try_cast: the caller may apply this to non-IP values under a
    # validity guard, and Spark's strict-ANSI CAST would error before
    # the guard short-circuits
    return (
        f"aggregate(split({expr}, '\\\\.'), 0L, "
        "(acc, o) -> acc * 256 + coalesce(try_cast(o AS LONG), 9999L))"
    )


def _ipv6_expanded_sql(expr: str) -> str:
    """SQL fragment: textual IPv6 form -> canonical pre-expansion form
    (lowercased, IPv4-mapped tail rewritten to two hex groups). Shared
    scaffolding for the hex-expansion and validity fragments."""
    x = f"lower({expr})"
    quad = f"regexp_extract({x}, '(?<=:)({_sql_re(IPV4_RE)})$', 0)"
    quadnum = _ipv4_num_sql(quad)
    return (
        f"CASE WHEN {quad} != '' THEN concat("
        f"substring({x}, 1, length({x}) - length({quad})), "
        f"lower(lpad(hex(({quadnum}) div 65536), 4, '0')), ':', "
        f"lower(lpad(hex(({quadnum}) % 65536), 4, '0'))) "
        f"ELSE {x} END"
    )


def _ipv6_pieces(expr: str) -> tuple[str, str, str, str]:
    x2 = _ipv6_expanded_sql(expr)
    halves = f"split({x2}, '::')"
    groups = f"split({x2}, ':')"
    left = f"filter(split(get({halves}, 0), ':'), g -> g != '')"
    right = f"filter(split(get({halves}, 1), ':'), g -> g != '')"
    return halves, groups, left, right


def _ipv6_valid_sql(expr: str) -> str:
    """SQL fragment: true iff expr is a well-formed IPv6 textual
    address (at most one '::', '::' covers >= 1 group, exactly 8
    groups once expanded, every group 1-4 hex digits). Zone-scoped
    forms ('fe80::1%eth0') fail closed — link-local scopes have no
    meaning in a stored log line."""
    halves, groups, left, right = _ipv6_pieces(expr)
    hexg = "g -> g rlike '^[0-9a-f]{1,4}$'"
    return (
        f"(CASE WHEN size({halves}) > 2 THEN false "
        f"WHEN size({halves}) = 2 THEN "
        f"size({left}) + size({right}) <= 7 "
        f"AND forall(concat({left}, {right}), {hexg}) "
        f"ELSE size({groups}) = 8 AND forall({groups}, {hexg}) END)"
    )


def _ipv6_hex_sql(expr: str) -> str:
    """SQL fragment: IPv6 textual form -> 32-hex-digit fully-expanded
    string (defined only when _ipv6_valid_sql holds; lexicographic
    order on the output == 128-bit numeric order, so range tests are
    plain string BETWEEN — no 128-bit arithmetic)."""
    halves, groups, left, right = _ipv6_pieces(expr)
    full = (
        f"CASE WHEN size({halves}) = 2 THEN concat({left}, "
        f"array_repeat('0', 8 - size({left}) - size({right})), {right}) "
        f"ELSE {groups} END"
    )
    return f"concat_ws('', transform({full}, g -> lpad(g, 4, '0')))"


def ip_line_match_expr(pattern: str, line_col: str = "log_message"):
    """POSITIVE match Column for ``ip("...")`` on the line body: true
    when ANY address the line contains falls inside the pattern (same
    family). Pure expression plan: regexp_extract_all pulls candidate
    tokens — boundary lookarounds reject addresses embedded in longer
    dotted-digit / hex runs ('1.2.3.4567', 'v1.2.3.45-build7') — and
    an `exists` lambda does the range test. No UDF."""
    fam, lo, hi = ip_pattern_bounds(pattern)
    if fam == "v4":
        # boundary lookarounds: an address embedded in a longer
        # dotted-digit or alphanumeric run ('1.2.3.4567',
        # 'v1.2.3.45-build7') is a version/id string, not an IP; a ':'
        # prefix means it's the dotted tail of a v4-mapped IPv6 literal
        # (the v6 family path owns those). ':' AFTER stays allowed —
        # '1.2.3.4:8080' is an IP with a port.
        cand = rf"(?<![0-9A-Za-z.:])(?:{IPV4_RE})(?![0-9A-Za-z.])"
        num = _ipv4_num_sql("x")
        match = F.expr(
            f"exists(regexp_extract_all({line_col}, '({_sql_re(cand)})', 0), "
            f"x -> {num} BETWEEN {lo}L AND {hi}L)"
        )
    else:
        valid = _ipv6_valid_sql("x")
        hexv = _ipv6_hex_sql("x")
        match = F.expr(
            f"exists(regexp_extract_all({line_col}, "
            f"'{_sql_re(IPV6_CAND_RE)}', 1), "
            f"x -> {valid} AND {hexv} BETWEEN '{lo}' AND '{hi}')"
        )
    return match


def ip_line_filter(
    df: DataFrame, pattern: str, negate: bool = False,
    line_col: str = "log_message",
) -> DataFrame:
    """``|= ip("...")`` / ``!= ip("...")`` — see
    :func:`ip_line_match_expr` for the plan shape."""
    match = ip_line_match_expr(pattern, line_col)
    return df.filter(~match if negate else match)


def ip_label_filter(
    df: DataFrame, label: str, op: str, pattern: str
) -> DataFrame:
    """``| addr = ip("...")`` / ``!=``: the label value must be exactly
    one address of the pattern's family inside (=) / outside or non-IP
    (!=) the pattern."""
    return df.filter(label_filter_expr(label, op, pattern, "ip"))


def label_filter_expr(label: str, op: str, value, conv: str = ""):
    """Full predicate Column for one label-filter term — negation
    included, NULL-safe (absent / unparseable label values never
    satisfy a positive comparison; string ops see absent as the empty
    string, matching Prometheus/Loki). This is the unit the `or`
    disjunction stage composes; the single-predicate df.filter
    functions delegate here so both paths share one semantics."""
    if conv == "ip":
        fam, lo, hi = ip_pattern_bounds(value)
        if fam == "v4":
            is_ip = F.col(label).rlike(f"^{IPV4_RE}$")
            num = F.expr(_ipv4_num_sql(label))
            match = is_ip & num.between(int(lo), int(hi))
        else:
            match = (
                F.col(label).contains(":")
                & F.expr(_ipv6_valid_sql(label))
                & F.expr(_ipv6_hex_sql(label)).between(lo, hi)
            )
        m = F.coalesce(match, F.lit(False))
        if op == "=":
            return m
        if op == "!=":
            return ~m
        raise ValueError("logql: ip() label matcher supports = and != only")
    if conv in ("duration", "bytes"):
        from lakerunner_spark.functions.unwrap import (
            bytes_to_bytes,
            duration_to_seconds,
        )

        c = (
            duration_to_seconds(F.col(label))
            if conv == "duration"
            else bytes_to_bytes(F.col(label))
        )
    elif isinstance(value, float):
        c = F.col(label).try_cast("double")
    else:
        # string matcher semantics (anchored regexes, absent == "")
        from lakerunner_spark.functions.regexops import java_pattern

        s = F.coalesce(F.col(label).cast("string"), F.lit(""))
        if op == "=":
            return s == value
        if op == "!=":
            return s != value
        if op == "=~":
            return s.rlike(java_pattern(f"\\A(?:{value})\\z"))
        if op == "!~":
            return ~s.rlike(java_pattern(f"\\A(?:{value})\\z"))
        raise ValueError(f"unsupported string label filter op: {op}")
    op = "==" if op == "=" else op
    ops = {">": c > value, ">=": c >= value, "<": c < value, "<=": c <= value,
           "==": c == value, "!=": c != value}
    if op not in ops:
        raise ValueError(f"unsupported {conv or 'numeric'} filter op: {op}")
    return F.coalesce(ops[op], F.lit(False))


def converted_label_filter(
    df: DataFrame, label: str, op: str, value: float, conv: str
) -> DataFrame:
    """Duration/bytes label filters (``| latency > 250ms``,
    ``| size >= 1kb``): the LABEL value is unit-parsed (the same
    conversion tables unwrap uses) and compared in seconds/bytes.
    Unparseable labels convert to NULL and never match — fail-safe."""
    return df.filter(label_filter_expr(label, op, value, conv))


def label_filter_or(
    df: DataFrame, terms: "list[tuple[str, str, object, str]]"
) -> DataFrame:
    """Loki label-filter disjunction (``| dur >= 20ms or size ==
    20kb``): the row passes when ANY (label, op, value, conv)
    predicate holds — each predicate carries its own negation."""
    m = None
    for label, op, value, conv in terms:
        e = label_filter_expr(label, op, value, conv)
        m = e if m is None else (m | e)
    return df.filter(m)


def json_error_label(
    df: DataFrame, line_col: str = "log_message"
) -> DataFrame:
    """Loki ``__error__`` label for the JSON parser: lines that are not
    valid JSON get ``__error__="JSONParserErr"`` (Loki's errJSON), valid
    lines get the empty string — so ``| __error__ = ""`` drops broken
    lines and ``| __error__ != ""`` selects them. Validity via
    try_parse_json (variant parse, NULL on malformed) — JVM-side."""
    return df.withColumn(
        "__error__",
        F.when(
            F.try_parse_json(F.col(line_col).cast("string")).isNull(),
            F.lit("JSONParserErr"),
        ).otherwise(F.lit("")),
    )


def logfmt_error_label(
    df: DataFrame, line_col: str = "log_message"
) -> DataFrame:
    """Loki ``__error__`` label for the logfmt parser: lines whose
    logfmt syntax is malformed get ``__error__="LogfmtParserErr"``
    (go-logfmt's decode error), clean lines the empty string. The
    go-logfmt decoder's error cases are unterminated quoted values and
    stray quotes inside bare values; both leave an odd number of
    *delimiter* double-quote characters on the line, which is the
    structural test used here (pure length arithmetic, JVM-side).
    Backslash-escaped characters are stripped first — logfmt quoted
    values use Go string escapes, so the escaped quote in
    ``a="x\\""`` is value content, not a delimiter, and counting it
    would flip the parity and misclassify the line (escaped
    backslashes are removed by the same pass before they can shield a
    following real quote)."""
    line = F.coalesce(F.col(line_col).cast("string"), F.lit(""))
    # drop every 2-char escape sequence (\" \\ \n ...) before counting
    bare = F.regexp_replace(line, r"\\.", "")
    quotes = F.length(bare) - F.length(F.regexp_replace(bare, '"', ""))
    return df.withColumn(
        "__error__",
        F.when(quotes % 2 == 1, F.lit("LogfmtParserErr")).otherwise(F.lit("")),
    )


def unpack(
    df: DataFrame, line_col: str = "log_message"
) -> "tuple[DataFrame, list[str]]":
    """Loki ``| unpack`` (promtail pack format): the line is a JSON
    object; ``_entry`` holds the original line and replaces the body,
    every other key becomes a label. Key discovery is a bounded sample
    scan (same pattern as ``| json`` auto mode); extraction compiles to
    static get_json_object columns. Lines that are not valid pack
    objects keep their body and yield NULL labels (Loki leaves
    non-packed lines untouched)."""
    keys = [k for k in discover_json_keys(df, line_col) if k != "_entry"]
    out = df
    for k in keys:
        out = out.withColumn(k, F.get_json_object(F.col(line_col), f"$.{k}"))
    entry = F.get_json_object(F.col(line_col), "$._entry")
    out = out.withColumn(line_col, F.coalesce(entry, F.col(line_col)))
    return out, keys
