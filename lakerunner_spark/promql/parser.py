"""PromQL recursive-descent parser -> AST.

Covers the construct set the reference supports (promql/parser.go:180-479):
selectors with matchers, range/offset, the range functions of A9, the
unary math functions F9, clamp_min/max F10, scalar(), number literals,
vector aggregation with by/without (A7), topk/bottomk/quantile (A8),
binary arithmetic/comparison with the ``bool`` modifier and vector
matching via on/ignoring (J1-J5), and set ops and/or/unless (J2-J4).
Beyond the reference, extensions cover the classic PromQL surface its
parser rejects: group_left/group_right many-to-one matching (valid only
with on/ignoring, as in Prometheus), delta/deriv/predict_linear/resets/
changes/stddev_over_time/stdvar_over_time, stddev/stdvar/group
aggregations, round/clamp/label_join/timestamp, and median_over_time.

RE2-vs-Java-regex note: matcher regexes execute via ``rlike`` with RE2
group names stripped (functions/regexops.java_pattern — Java's name
charset is stricter); the common subset (alternation, classes, anchors,
quantifiers) is dialect-portable.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field


# ---------------------------------------------------------------------------
# AST
# ---------------------------------------------------------------------------

@dataclass
class Num:
    value: float


@dataclass
class Str:
    value: str


@dataclass
class Matcher:
    label: str
    op: str  # = != =~ !~
    value: str


@dataclass
class Selector:
    metric: str
    matchers: list[Matcher] = field(default_factory=list)
    range_ms: int | None = None
    offset_ms: int = 0
    # `@ <unix-seconds>` modifier: pin evaluation at a fixed time; the
    # strings "start"/"end" are the @ start()/@ end() forms, resolved
    # against the query window at compile time
    at_ms: "int | str | None" = None


@dataclass
class Call:
    fn: str
    args: list  # mix of AST nodes


@dataclass
class Agg:
    op: str  # sum avg min max count topk bottomk quantile
    expr: object
    by: list[str] | None = None
    without: list[str] | None = None
    param: float | None = None  # k for topk/bottomk, q for quantile
    param_str: str | None = None  # destination label for count_values


@dataclass
class Subquery:
    """``expr[range:step]`` (extension) — the inner expression sampled
    at ``step_ms`` (None = the query step), consumed by a range
    function over ``range_ms``."""

    expr: object
    range_ms: int
    step_ms: int | None = None


@dataclass
class Binary:
    op: str  # + - * / > >= < <= == != and or unless
    lhs: object
    rhs: object
    bool_mode: bool = False
    on: list[str] | None = None
    ignoring: list[str] | None = None
    # many-to-one matching (extension; None = strict one-to-one)
    group: str | None = None  # "left" | "right"
    group_labels: list[str] | None = None


RANGE_FUNCS = {
    "rate", "irate", "increase",
    "sum_over_time", "count_over_time", "avg_over_time",
    "min_over_time", "max_over_time", "last_over_time",
    "quantile_over_time", "median_over_time",
    # extensions beyond the reference parser (promql/parser.go:362
    # stops at the list above): classic PromQL analytics over the
    # per-step values — see operators/range_agg.py
    "delta", "deriv", "predict_linear", "resets", "changes",
    "stddev_over_time", "stdvar_over_time", "first_over_time",
    "mad_over_time", "holt_winters", "double_exponential_smoothing",
    "idelta",
}
UNARY_FUNCS = {"abs", "ceil", "floor", "exp", "ln", "log2", "log10", "sqrt", "sgn",
               # extensions beyond the reference: Prometheus trig /
               # hyperbolic / angle-conversion functions (all map to
               # JVM-side Spark built-ins — promql/compiler._UNARY_COLS)
               "sin", "cos", "tan", "asin", "acos", "atan",
               "sinh", "cosh", "tanh", "asinh", "acosh", "atanh",
               "deg", "rad"}
AGG_OPS = {"sum", "avg", "min", "max", "count", "topk", "bottomk", "quantile",
           # extensions beyond the reference (its parser maps only the
           # list above): Prometheus stddev/stdvar/group/count_values,
           # plus the 3.x experimental limitk/limit_ratio
           "stddev", "stdvar", "group", "count_values",
           "limitk", "limit_ratio"}
_CMP_OPS = {">", ">=", "<", "<=", "==", "!="}

_DUR_UNITS = {"ns": 1e-6, "us": 1e-3, "µs": 1e-3,
              "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000,
              "d": 86_400_000, "w": 604_800_000}


def parse_duration_s(text: str) -> float:
    """'250ms' / '1h30m' / '1.5s' -> seconds as float (Loki label-filter
    duration literals compare in seconds)."""
    total = 0.0
    matched = False
    for num, unit in re.findall(
        r"(\d+(?:\.\d+)?)(ns|us|µs|ms|s|m|h|d|w)", text
    ):
        total += float(num) * _DUR_UNITS[unit]
        matched = True
    if not matched:
        raise ValueError(f"bad duration: {text!r}")
    return total / 1000.0


def parse_bytes(text: str) -> float:
    """'1kb' -> 1000, '3MiB' -> 3*1024^2, '512b' -> 512 (Loki/humanize
    byte-size literals: decimal for kb/mb/..., binary for kib/mib/...)."""
    m = re.fullmatch(r"(\d+(?:\.\d+)?)([a-zA-Zµ]*)", text.strip())
    if not m:
        raise ValueError(f"bad byte size: {text!r}")
    num, unit = float(m.group(1)), m.group(2).lower()
    if unit in ("", "b"):
        return num
    if not unit.endswith("b"):
        raise ValueError(f"bad byte size: {text!r}")
    unit = unit[:-1]
    base = 1024.0 if unit.endswith("i") else 1000.0
    if unit.endswith("i"):
        unit = unit[:-1]
    try:
        exp = "kmgtpe".index(unit) + 1
    except ValueError:
        raise ValueError(f"bad byte size: {text!r}") from None
    return num * base**exp


def parse_duration_ms(text: str) -> int:
    """'5m30s' -> 330000 (promql duration syntax; fractional segments
    like '1.5h' accepted — Go ParseDuration allows them)."""
    total = 0.0
    for num, unit in re.findall(
        r"(\d+(?:\.\d+)?)(ns|us|µs|ms|s|m|h|d|w)", text
    ):
        total += float(num) * _DUR_UNITS.get(unit, 0)
    if int(total) <= 0:
        # sub-millisecond durations ('500us', '1ns') truncate to 0 ms —
        # a zero-length range/offset would silently compile to a no-op
        # (or a rate() division by zero), so reject them like zero
        raise ValueError(f"bad duration: {text!r} (below 1ms resolution)")
    return int(total)


# ---------------------------------------------------------------------------
# Tokenizer
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""
    (?P<WS>\s+)
  | (?P<DUR>\d+(?:ms|s|m|h|d|w)(?:\d+(?:ms|s|m|h|d|w))*)
  | (?P<NUM>(?:\d+\.\d+|\d+|\.\d+)(?:[eE][+-]?\d+)?)
  | (?P<ID>[a-zA-Z_:][a-zA-Z0-9_:]*)
  | (?P<STR>"(?:\\.|[^"\\])*"|'(?:\\.|[^'\\])*')
  | (?P<OP>=~|!~|==|!=|>=|<=|[-+*/%^(){}\[\],=<>@])
    """,
    re.VERBOSE,
)


@dataclass
class Tok:
    kind: str
    text: str


def _tokenize(q: str) -> list[Tok]:
    toks, pos = [], 0
    while pos < len(q):
        m = _TOKEN_RE.match(q, pos)
        if not m:
            raise ValueError(f"promql: unexpected char {q[pos]!r} at {pos}")
        pos = m.end()
        kind = m.lastgroup
        if kind == "WS":
            continue
        toks.append(Tok(kind, m.group()))
    toks.append(Tok("EOF", ""))
    return toks


def _unquote(s: str) -> str:
    body = s[1:-1]
    # latin-1 + backslashreplace keeps non-ASCII text intact through the
    # escape decode: a bare .encode() would UTF-8-encode 'ñ' and
    # unicode_escape would then read those bytes as latin-1 mojibake;
    # this round-trips every char while still decoding \n, \", \uXXXX
    return body.encode("latin-1", "backslashreplace").decode("unicode_escape")


# ---------------------------------------------------------------------------
# Parser
# ---------------------------------------------------------------------------

class _Parser:
    def __init__(self, toks: list[Tok]):
        self.toks = toks
        self.i = 0

    def peek(self) -> Tok:
        return self.toks[self.i]

    def next(self) -> Tok:
        t = self.toks[self.i]
        self.i += 1
        return t

    def expect(self, text: str) -> Tok:
        t = self.next()
        if t.text != text:
            raise ValueError(f"promql: expected {text!r}, got {t.text!r}")
        return t

    # precedence climbing: or < and/unless < comparison < +- < */%
    def parse_expr(self) -> object:
        return self._parse_or()

    def _parse_or(self):
        lhs = self._parse_and()
        while self.peek().text == "or":
            self.next()
            mods = self._match_modifiers(set_op="or")
            lhs = Binary("or", lhs, self._parse_and(), **mods)
        return lhs

    def _parse_and(self):
        lhs = self._parse_cmp()
        while self.peek().text in ("and", "unless"):
            op = self.next().text
            mods = self._match_modifiers(set_op=op)
            lhs = Binary(op, lhs, self._parse_cmp(), **mods)
        return lhs

    def _parse_cmp(self):
        lhs = self._parse_add()
        while self.peek().text in _CMP_OPS:
            op = self.next().text
            bool_mode = False
            if self.peek().text == "bool":
                self.next()
                bool_mode = True
            mods = self._match_modifiers()
            lhs = Binary(op, lhs, self._parse_add(), bool_mode=bool_mode, **mods)
        return lhs

    def _parse_add(self):
        lhs = self._parse_mul()
        while self.peek().text in ("+", "-"):
            op = self.next().text
            mods = self._match_modifiers()
            lhs = Binary(op, lhs, self._parse_mul(), **mods)
        return lhs

    def _parse_mul(self):
        lhs = self._parse_unary()
        # atan2 is an infix binary operator at * precedence
        # (Prometheus operator table; extension beyond the reference)
        while self.peek().text in ("*", "/", "%", "atan2"):
            op = self.next().text
            mods = self._match_modifiers()
            lhs = Binary(op, lhs, self._parse_unary(), **mods)
        return lhs

    def _match_modifiers(self, set_op: str | None = None) -> dict:
        """on(...) / ignoring(...) with optional group_left/right.

        The reference rejects group modifiers outright (parser.go:455-
        460); here they are supported as an extension, but — exactly as
        in Prometheus — only in combination with on(...)/ignoring(...)
        (a bare group modifier has no defined match key) and never on
        and/or/unless ('no grouping allowed for set operations').
        """
        mods: dict = {}
        if self.peek().text in ("on", "ignoring"):
            kw = self.next().text
            labels = self._label_list()
            mods["on" if kw == "on" else "ignoring"] = labels
        if self.peek().text in ("group_left", "group_right"):
            kw = self.next().text
            if set_op is not None:
                raise ValueError(
                    f"promql: no grouping ({kw}) allowed for {set_op!r}"
                )
            if not mods:
                raise ValueError(
                    f"promql: {kw} requires on(...) or ignoring(...)"
                )
            mods["group"] = "left" if kw == "group_left" else "right"
            # optional label list copied from the one side
            mods["group_labels"] = (
                self._label_list() if self.peek().text == "(" else []
            )
        return mods

    def _parse_unary(self):
        if self.peek().text == "-":
            self.next()
            return Binary("-", Num(0.0), self._parse_unary())
        if self.peek().text == "+":
            self.next()
            return self._parse_unary()
        return self._parse_pow()

    def _parse_pow(self):
        # '^' binds tighter than unary minus and is right-associative
        # (Prometheus: -x^2 == -(x^2), 2^3^2 == 2^(3^2)); the rhs may
        # itself be signed, hence the recursion into _parse_unary
        lhs = self._parse_postfix()
        if self.peek().text == "^":
            self.next()
            mods = self._match_modifiers()
            return Binary("^", lhs, self._parse_unary(), **mods)
        return lhs

    def _parse_postfix(self):
        node = self._parse_atom()
        # [range] and offset postfix
        while True:
            t = self.peek()
            if t.text == "[":
                self.next()
                dur = self.next()
                if dur.kind != "DUR":
                    raise ValueError(f"promql: expected duration, got {dur.text!r}")
                # subquery form expr[range:step] — ':' / ':<dur>'
                # tokenizes as an ID because ':' is in the ID charset
                if self.peek().kind == "ID" and self.peek().text.startswith(":"):
                    stok = self.next().text
                    if len(stok) > 1:
                        # strict duration syntax: parse_duration_ms
                        # skips garbage ('5minutes' would silently read
                        # as 5m), so fullmatch the token first
                        if not re.fullmatch(
                            r"(?:\d+(?:ms|s|m|h|d|w))+", stok[1:]
                        ):
                            raise ValueError(
                                f"promql: bad subquery step {stok[1:]!r}"
                            )
                        sub_step = parse_duration_ms(stok[1:])
                    else:
                        sub_step = None
                    self.expect("]")
                    if isinstance(node, Selector) and node.range_ms is not None:
                        raise ValueError(
                            "promql: subquery over a range selector "
                            "(expr[range][range:step]) is not allowed"
                        )
                    node = Subquery(
                        node, parse_duration_ms(dur.text), sub_step
                    )
                    continue
                self.expect("]")
                if not isinstance(node, Selector):
                    raise ValueError(
                        "promql: range applies only to selectors "
                        "(use expr[range:step] for subqueries)"
                    )
                node.range_ms = parse_duration_ms(dur.text)
            elif t.text == "offset":
                self.next()
                # negative offsets look into the future relative to the
                # evaluation time (Prometheus 2.x feature flag, default
                # since 3.0)
                neg = False
                if self.peek().text == "-":
                    self.next()
                    neg = True
                dur = self.next()
                if dur.kind != "DUR":
                    raise ValueError(f"promql: expected duration, got {dur.text!r}")
                if not isinstance(node, Selector):
                    raise ValueError("promql: offset applies only to selectors")
                node.offset_ms = parse_duration_ms(dur.text)
                if neg:
                    node.offset_ms = -node.offset_ms
            elif t.text == "@":
                self.next()
                if not isinstance(node, Selector):
                    raise ValueError("promql: @ applies only to selectors")
                v = self.next()
                if v.kind == "NUM":
                    node.at_ms = int(float(v.text) * 1000)
                elif v.kind == "ID" and v.text in ("start", "end") \
                        and self.peek().text == "(":
                    self.next()
                    self.expect(")")
                    node.at_ms = v.text
                else:
                    raise ValueError(
                        "promql: @ takes a unix timestamp or start()/end()"
                    )
            else:
                return node

    def _parse_atom(self):
        t = self.peek()
        if t.text == "(":
            self.next()
            inner = self.parse_expr()
            self.expect(")")
            return inner
        if t.kind == "NUM":
            self.next()
            return Num(float(t.text))
        if t.kind == "DUR":  # bare number like 5m only valid as durations
            raise ValueError(f"promql: unexpected duration {t.text!r}")
        if t.kind == "STR":  # string literal (label_replace arguments)
            self.next()
            return Str(_unquote(t.text))
        if t.kind == "ID":
            name = self.next().text
            if name in AGG_OPS:
                return self._parse_agg(name)
            if name in RANGE_FUNCS or name in UNARY_FUNCS or name in (
                "clamp_min", "clamp_max", "clamp", "scalar", "histogram_quantile",
                # native-histogram accessor family (extension; the
                # engine synthesizes the per-step histogram from raw
                # samples — promql/compiler.py)
                "histogram_count", "histogram_sum", "histogram_avg",
                "histogram_stddev", "histogram_stdvar", "histogram_fraction",
                "vector", "sort", "sort_desc", "sort_by_label",
                "sort_by_label_desc", "label_replace", "label_join",
                "round", "timestamp", "absent", "absent_over_time",
                "present_over_time", "pi", "time",
                # date/time component functions (UTC, like Prometheus)
                "minute", "hour", "day_of_week", "day_of_month",
                "day_of_year", "days_in_month", "month", "year"
            ):
                self.expect("(")
                args = []
                if self.peek().text != ")":
                    args = [self.parse_expr()]
                    while self.peek().text == ",":
                        self.next()
                        args.append(self.parse_expr())
                self.expect(")")
                return Call(name, args)
            return self._parse_selector(name)
        if t.text == "{":
            return self._parse_selector("")
        raise ValueError(f"promql: unexpected token {t.text!r}")

    def _parse_agg(self, op: str) -> Agg:
        by = without = None
        if self.peek().text in ("by", "without"):
            kw = self.next().text
            labels = self._label_list()
            if kw == "by":
                by = labels
            else:
                without = labels
        self.expect("(")
        param = None
        param_str = None
        first = self.parse_expr()
        if self.peek().text == ",":
            self.next()
            second = self.parse_expr()
            # fold a unary-negated literal (parsed as 0 - x) so negative
            # parameters work, e.g. limit_ratio(-0.5, v)
            if (
                isinstance(first, Binary)
                and first.op == "-"
                and isinstance(first.lhs, Num)
                and first.lhs.value == 0.0
                and isinstance(first.rhs, Num)
            ):
                first = Num(-first.rhs.value)
            if op == "count_values":
                if not isinstance(first, Str):
                    raise ValueError(
                        'promql: count_values("label", vector)'
                    )
                param_str, expr = first.value, second
            elif not isinstance(first, Num):
                raise ValueError(f"promql: {op} parameter must be a number")
            else:
                param, expr = first.value, second
        else:
            expr = first
        self.expect(")")
        if by is None and without is None and self.peek().text in ("by", "without"):
            kw = self.next().text
            labels = self._label_list()
            if kw == "by":
                by = labels
            else:
                without = labels
        if op in ("topk", "bottomk", "quantile", "limitk",
                  "limit_ratio") and param is None:
            raise ValueError(f"promql: {op} requires a parameter")
        if op == "count_values" and param_str is None:
            raise ValueError('promql: count_values("label", vector)')
        return Agg(op, expr, by=by, without=without, param=param,
                   param_str=param_str)

    def _label_list(self) -> list[str]:
        self.expect("(")
        labels = []
        while self.peek().text != ")":
            t = self.next()
            if t.kind != "ID":
                raise ValueError(f"promql: expected label, got {t.text!r}")
            labels.append(t.text)
            if self.peek().text == ",":
                self.next()
        self.expect(")")
        return labels

    def _parse_selector(self, metric: str) -> Selector:
        matchers: list[Matcher] = []
        if self.peek().text == "{":
            self.next()
            while self.peek().text != "}":
                label = self.next()
                if label.kind != "ID":
                    raise ValueError(f"promql: expected label, got {label.text!r}")
                op = self.next().text
                if op not in ("=", "!=", "=~", "!~"):
                    raise ValueError(f"promql: bad matcher op {op!r}")
                val = self.next()
                if val.kind != "STR":
                    raise ValueError("promql: matcher value must be a string")
                matchers.append(Matcher(label.text, op, _unquote(val.text)))
                if self.peek().text == ",":
                    self.next()
            self.expect("}")
        if not metric and not matchers:
            raise ValueError("promql: empty selector")
        return Selector(metric, matchers)


def parse_promql(query: str):
    """Parse a PromQL expression string into the AST."""
    p = _Parser(_tokenize(query))
    expr = p.parse_expr()
    if p.peek().kind != "EOF":
        raise ValueError(f"promql: trailing input at {p.peek().text!r}")
    return expr
