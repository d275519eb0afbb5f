"""Engine-portable rounding for cross-engine result parity.

Spark's ROUND rounds the double's shortest decimal representation
(BigDecimal.valueOf -> Double.toString), while DuckDB rounds the exact
binary value; they disagree on half-boundary values like 0.0626875.
``portable_round`` = floor(x*10^dp + 0.5)/10^dp is computed identically
by both engines given identical input doubles, so results hash-match.

``pround_sql`` emits the same floor construction as SQL text; it is
the one source of that text, used by ``compile_pround`` (which rewrites
the ``pround(expr, dp)`` pseudo-function in oracle SQL strings) and by
SQL-built engine expressions such as the LSH sign bits.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def portable_round_finite(col: Column | str, dp: int) -> Column:
    """Branchless floor-round for arguments the CALLER GUARANTEES are
    finite. On NaN the Spark side collapses to 0.0 (floor routes
    through LONG) while DuckDB's pround keeps NaN — so this variant is
    only parity-safe when non-finite inputs are unreachable.

    It exists because :func:`portable_round`'s NaN/Inf ``when`` branch
    references its argument ~4x in the expression tree, and Catalyst
    re-evaluates each reference when the argument is not a bare
    attribute. For cheap arguments that is noise; for the interpreted
    higher-order folds on the similarity/dedup hot paths (zip_with +
    aggregate cosine/L2 over a quadratic pair scan) it measured 1.67x
    wall-clock on dd12 (2.74s -> 4.58s at sf0.1, restored by this
    form). Use THIS at per-row fold sites whose value is finite by
    construction (sums/products of finite floats; cosines guarded by a
    zero-norm filter), and :func:`portable_round` everywhere NaN or
    ±Inf can genuinely occur (range functions, scalar(), user math)."""
    scale = 10**dp
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c * scale + F.lit(0.5)) / scale


def portable_round(col: Column | str, dp: int) -> Column:
    """NaN/±Inf pass through untouched: Spark's floor() goes through a
    LONG, so floor(NaN) is 0 and floor(±Inf) saturates at ±2^63-1 —
    which would silently turn a NaN result into 0.0 (and ±Inf into
    ±9.2e12) while DuckDB's floor keeps NaN/Inf, a cross-engine parity
    trap (this exact collapse fabricated changes()/resets()
    transitions before range_agg.py guarded it locally).

    The ``when`` branch references the argument ~4x; keep expensive
    arguments out of it — either bind them to a column first or, when
    the value is finite by construction, use
    :func:`portable_round_finite` (see its docstring for the measured
    dd12 regression this distinction exists for)."""
    c = F.col(col) if isinstance(col, str) else col
    rounded = portable_round_finite(c, dp)
    return F.when(F.isnan(c) | (F.abs(c) == float("inf")), c).otherwise(
        rounded
    )


def pround_sql(expr: str, dp: int) -> str:
    """SQL text of ``portable_round_finite(expr, dp)``."""
    scale = 10**dp
    return f"(floor(({expr}) * {scale} + 0.5) / {scale})"


def compile_pround(sql: str) -> str:
    """Rewrite pround(expr, dp) -> (floor((expr) * SCALE + 0.5) / SCALE)."""
    out = []
    i = 0
    token = "pround("
    while True:
        j = sql.find(token, i)
        if j < 0:
            out.append(sql[i:])
            return "".join(out)
        out.append(sql[i:j])
        depth = 1
        k = j + len(token)
        comma = -1
        while depth > 0:
            ch = sql[k]
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "," and depth == 1:
                comma = k
            k += 1
        expr = compile_pround(sql[j + len(token) : comma])
        out.append(pround_sql(expr, int(sql[comma + 1 : k - 1].strip())))
        i = k
