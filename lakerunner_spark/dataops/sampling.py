"""Deterministic dataset splitting, sampling, and sequence packing.

Training pipelines need *reproducible* membership decisions — the same
document must land in the same split on every run, on any cluster size,
without coordination. All operators here key off a multiplicative
integer hash of the stable document id (Knuth's 2654435761 = closest
prime to 2^32/phi), so membership is a pure per-row expression: no
shuffle, no RNG state, no driver involvement, and the DuckDB oracle
reproduces it bit-for-bit with the same arithmetic.

Sequence packing (greedy fill of fixed token budgets) is inherently
sequential *within* a stream, so it is parallelized the way production
packers do: hash-partition documents into independent streams, pack
each stream with a linear greedy pass (Arrow-batched applyInPandas),
emit (doc -> pack) assignments. Pack quality loses nothing — packing
efficiency depends on the token-length distribution, which is identical
in every hash bucket.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

KNUTH = 2654435761  # 2^32 / golden ratio, prime
MOD = 4294967296  # 2^32


def id_hash(id_col: Column, salt: int = 0) -> Column:
    """Deterministic uniform hash of a BIGINT id into [0, 2^32).

    ``(id + salt) * 2654435761 mod 2^32`` evaluated WITHOUT int64
    overflow or sign surprises, for the full BIGINT id space: the naive
    product wraps for |id| >= ~3.47e9 (Spark wraps silently, DuckDB
    raises — breaking oracle parity) and Spark's ``%`` follows the
    dividend's sign, so negative ids would hash negative and land in
    the first split / every sample. The id is first reduced to
    a = ((id+salt) mod 2^32 + 2^32) mod 2^32, then multiplied in
    16-bit halves (each partial < 2^48, exact in int64):

        h = ((a>>16) * K * 2^16 + (a & 0xFFFF) * K) mod 2^32

    The high 32 bits fold in additively first (ids that differ only in
    their high word — timestamp-prefixed snowflakes, multiples of 2^32 —
    must not collide), using arithmetic-shift+mask, which Spark's
    ``shiftright`` and DuckDB's ``>>`` evaluate identically on the
    two's-complement pattern. Identical integer algebra runs on DuckDB
    (see id_hash_sql); for ids < 2^16 the whole chain reduces to the
    original single multiply, so existing split assignments for small
    id spaces are unchanged.
    """
    b = id_col.cast("long") + F.lit(salt)
    lo32 = b.bitwiseAND(F.lit(MOD - 1))
    hi32 = F.shiftright(b, 32).bitwiseAND(F.lit(MOD - 1))
    a = (lo32 + hi32) % F.lit(MOD)
    hi = (a / F.lit(65536)).cast("long")  # a >> 16, a is non-negative
    lo = a % F.lit(65536)
    return (
        (hi * F.lit(KNUTH) % F.lit(MOD)) * F.lit(65536) + lo * F.lit(KNUTH)
    ) % F.lit(MOD)


def id_hash_sql(id_expr: str, salt: int = 0) -> str:
    b = f"(CAST({id_expr} AS BIGINT) + {salt})"
    a = f"((({b} & {MOD - 1}) + (({b} >> 32) & {MOD - 1})) % {MOD})"
    hi = f"CAST(floor({a} / 65536) AS BIGINT)"
    lo = f"({a} % 65536)"
    return f"((({hi} * {KNUTH} % {MOD}) * 65536 + {lo} * {KNUTH}) % {MOD})"


def hash_split(
    id_col: Column, weights: Iterable[tuple[str, float]]
) -> Column:
    """Assign each id to a named split with the given weights.

    weights: ordered (name, fraction) pairs summing to 1.0. The split
    boundary thresholds are integer cutoffs on the 32-bit hash, so
    assignment is exact and stable under re-runs and data growth.
    """
    h = id_hash(id_col)
    expr = None
    acc = 0.0
    items = list(weights)
    for name, frac in items[:-1]:
        acc += frac
        cutoff = int(acc * MOD)
        cond = h < F.lit(cutoff)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = items[-1][0]
    return F.lit(last) if expr is None else expr.otherwise(F.lit(last))


def hash_split_sql(id_expr: str, weights: Iterable[tuple[str, float]]) -> str:
    h = id_hash_sql(id_expr)
    items = list(weights)
    parts = []
    acc = 0.0
    for name, frac in items[:-1]:
        acc += frac
        parts.append(f"WHEN {h} < {int(acc * MOD)} THEN '{name}'")
    return "CASE " + " ".join(parts) + f" ELSE '{items[-1][0]}' END"


def hash_sample(id_col: Column, fraction: Column | float, salt: int = 0) -> Column:
    """Boolean keep-mask retaining ~fraction of ids, deterministically.

    fraction may be a per-row Column (stratified sampling: different
    rates per stratum). Subset property: sample(0.1) ⊂ sample(0.2) at
    the same salt, which makes growing a sample cheap.
    """
    frac = F.lit(fraction) if isinstance(fraction, float) else fraction
    # explicit floor: Spark's double->long cast truncates but DuckDB's
    # rounds, so a computed fractional cutoff would disagree at the
    # boundary hash value without it
    return id_hash(id_col, salt) < F.floor(frac * F.lit(MOD)).cast("long")


def hash_sample_sql(id_expr: str, fraction_expr: str, salt: int = 0) -> str:
    return f"{id_hash_sql(id_expr, salt)} < CAST(floor({fraction_expr} * {MOD}) AS BIGINT)"


_PACK_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.LongType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_tokens", T.LongType()),
        T.StructField("pack_id", T.LongType()),
    ]
)


def sequence_pack(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    budget: int,
    num_buckets: int = 8,
) -> DataFrame:
    """Greedy sequence packing into fixed token budgets.

    Documents are hash-partitioned into `num_buckets` independent
    streams (bucket = id mod num_buckets), each stream ordered by id
    and packed greedily: a pack closes when the next document would
    exceed `budget` (an oversized document occupies a pack alone).
    Returns (bucket, doc_id, n_tokens, pack_id) — pack identity is
    (bucket, pack_id).

    Scale: each bucket packs independently inside one Arrow-batched
    applyInPandas task — the only shuffle is the hash partition. At
    100 TB, num_buckets rises to O(cores); greedy-within-bucket packing
    efficiency is unaffected because each bucket sees the same length
    distribution. Deterministic: no RNG, order is (bucket, id).
    """
    prepared = df.select(
        (F.col(id_col) % F.lit(num_buckets)).alias("bucket"),
        F.col(id_col).alias("doc_id"),
        F.col(tokens_col).cast("long").alias("n_tokens"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        pack_ids = []
        pid, acc = 0, 0
        for t in pdf["n_tokens"]:
            if acc > 0 and acc + t > budget:
                pid += 1
                acc = 0
            acc += t
            pack_ids.append(pid)
        pdf["pack_id"] = pd.Series(pack_ids, dtype="int64")
        return pdf

    return prepared.groupBy("bucket").applyInPandas(pack, schema=_PACK_SCHEMA)


def token_budget_cap(
    df: DataFrame,
    group_col: str,
    tokens_col: str,
    budget: int,
) -> DataFrame:
    """Deterministic per-group token-budget capping: within each group
    (domain/source), keep documents in id-hash order until the running
    token sum would exceed ``budget`` — the standard pretraining-mixture
    downsampling step ("cap each source at N tokens").

    Hash order (not id order) makes the kept set an unbiased sample of
    the group; determinism + the cumulative-window formulation mean the
    same corpus always caps to the same set, and GROWING the corpus only
    swaps docs whose hash falls below the cut. One window pass per
    group — no collect, no iteration; at 100 TB the shuffle key is the
    group column (bounded domain cardinality; a skewed mega-domain is
    one partition of (id, n_tokens) pairs, not of document bodies —
    project before capping).

    Keep rule: a doc stays if the cumulative tokens of all
    hash-earlier docs (exclusive) is < budget — so the cap overshoots
    by at most one document rather than stranding budget (matches the
    greedy accumulate-then-stop reading of "cap at N")."""
    from pyspark.sql import Window

    h = id_hash(F.col("doc_id"))
    w = (
        Window.partitionBy(group_col)
        .orderBy(h.asc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prior = F.coalesce(F.sum(tokens_col).over(w), F.lit(0))
    return df.withColumn("_prior", prior).filter(
        F.col("_prior") < budget
    ).drop("_prior")


def token_budget_cap_sql(
    base_sql: str,
    group_col: str,
    tokens_expr: str,
    budget: int,
) -> str:
    """DuckDB oracle twin of :func:`token_budget_cap` (same hash, same
    exclusive cumulative window, same keep rule)."""
    h = id_hash_sql("doc_id")
    return f"""
    SELECT * EXCLUDE (_prior) FROM (
      SELECT *, coalesce(sum({tokens_expr}) OVER (
        PARTITION BY {group_col}
        ORDER BY {h} ASC, doc_id ASC
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS _prior
      FROM ({base_sql})
    ) WHERE _prior < {budget}
    """


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 32,
    overlap: int = 8,
) -> DataFrame:
    """Split documents into fixed-size overlapping token windows — the
    sequence-prep step between cleaning and packing in a pretraining
    pipeline (a chunk is one training-sequence candidate; the overlap
    preserves cross-boundary context).

    Chunk starts are 0, stride, 2*stride, ... with stride =
    chunk_tokens - overlap; the chunk count is
    ceil(max(n - overlap, 1) / stride), so the final (possibly short)
    window always covers the document tail and a doc shorter than one
    chunk yields exactly one chunk. Empty docs yield none. Returns
    (id_col, chunk_idx, n_tokens, chunk_text).

    Scale: pure array expressions inside one narrow projection — the
    token array is built once per doc, windows are slices of it, and
    the explode is map-side (Generate, no shuffle anywhere). Chunk
    rows inherit the scan's partitioning for whatever shuffles the
    caller adds downstream.
    """
    if overlap >= chunk_tokens:
        raise ValueError(
            f"chunk_documents: overlap ({overlap}) must be < "
            f"chunk_tokens ({chunk_tokens})"
        )
    stride = chunk_tokens - overlap
    toks = F.expr(
        f"filter(split(trim({text_col}), ' +'), t -> t != '')"
    )
    d = df.select(F.col(id_col), toks.alias("_toks")).filter(
        F.size("_toks") >= 1
    )
    chunks = F.expr(
        f"transform(sequence(0, CAST(ceil(greatest(size(_toks) - {overlap},"
        f" 1) / {stride}.0) AS INT) - 1),"
        f" i -> slice(_toks, i * {stride} + 1, {chunk_tokens}))"
    )
    return d.select(
        id_col, F.posexplode(chunks).alias("chunk_idx", "_ck")
    ).select(
        id_col,
        "chunk_idx",
        F.size("_ck").cast("long").alias("n_tokens"),
        F.concat_ws(" ", "_ck").alias("chunk_text"),
    )


def grouped_quantile_thresholds(
    df: DataFrame,
    score_col: str,
    by: str,
    qs: list[float],
) -> DataFrame:
    """Per-group score thresholds at each quantile in ``qs`` from the
    engine's DDSketch bucket algebra (operators/ddsketch.py): one
    groupBy-count sketch build over log buckets, ONE cumulative walk,
    every quantile read from it. Output is one row per group —
    (by, _th0.._thN) — bounded by the group-label
    cardinality, not the corpus; callers join it back unhinted (AQE
    broadcasts it when small) and compare scores against thresholds,
    which is what removes the per-group sort entirely."""
    from lakerunner_spark.operators.ddsketch import (
        ddsketch_agg,
        ddsketch_quantiles,
    )

    sk = ddsketch_agg(df, [by], score_col)
    return ddsketch_quantiles(
        sk, [by], qs, out_cols=[f"_th{i}" for i in range(len(qs))]
    )


def rank_buckets(
    df: DataFrame,
    score_col: str,
    by: str,
    boundaries: list[float],
    labels: list[str],
    mode: str,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Assign each row its per-group rank bucket (the CCNet
    head/middle/tail tercile shape, and any per-group quantile binning
    generally): a row whose within-group rank position first satisfies
    ``rank <= boundaries[i]`` gets ``labels[i]``; rows above every
    boundary get ``labels[-1]``. Returns the input columns plus
    ``bucket``.

    The caller picks one of two physical routes (the
    :func:`percentile_filter` trade applied to bucketing); the data
    never picks it, so a query keeps its route as its corpus grows:

    ``mode="window"`` — exact: ``percent_rank() OVER (PARTITION BY by
    ORDER BY score[, tiebreak])`` compared against each boundary. One
    task per group — a global sort of the majority group when one
    group is most of a 100 TB corpus (CCNet's own setting: one
    language dominates any real crawl).

    ``mode="sketch"`` — shuffle-free: per-group thresholds at each
    boundary quantile from ONE DDSketch walk
    (:func:`grouped_quantile_thresholds`), joined back unhinted;
    bucket = first threshold the score does not exceed. No per-group
    sort of corpus rows anywhere; membership near each cutoff differs
    from the exact route by the sketch's relative-error contract (the
    ds9s trade, property-tested in tests/test_dataprep_ops.py)."""
    if len(labels) != len(boundaries) + 1:
        raise ValueError(
            "rank_buckets: need len(labels) == len(boundaries) + 1"
        )
    if any(b2 <= b1 for b1, b2 in zip(boundaries, boundaries[1:])):
        raise ValueError(
            "rank_buckets: boundaries must be strictly ascending — a "
            "duplicate boundary would make its earlier label unreachable"
        )
    if boundaries and not (0.0 < boundaries[0] and boundaries[-1] <= 1.0):
        raise ValueError("rank_buckets: boundaries must lie in (0, 1]")
    if mode not in ("window", "sketch"):
        raise ValueError(
            f"rank_buckets: unknown mode {mode!r} (pass 'window' or 'sketch')"
        )
    if mode == "window":
        from pyspark.sql import Window

        order = [F.col(score_col).asc()]
        if tiebreak_col:
            order.append(F.col(tiebreak_col).asc())
        w = Window.partitionBy(by).orderBy(*order)
        rank = F.percent_rank().over(w)
        expr = F.lit(labels[-1])
        for b, lab in zip(reversed(boundaries), reversed(labels[:-1])):
            expr = F.when(rank <= F.lit(b), lab).otherwise(expr)
        return df.withColumn("bucket", expr)
    th = grouped_quantile_thresholds(
        df, score_col, by, list(boundaries)
    )
    j = _nullsafe_attach(df, th, by)
    expr = F.lit(labels[-1])
    for i, lab in zip(
        reversed(range(len(boundaries))), reversed(labels[:-1])
    ):
        expr = F.when(
            F.col(score_col) <= F.col(f"_th{i}"), lab
        ).otherwise(expr)
    # NULL scores: the window route orders them FIRST (Spark asc
    # nulls-first), so they land in the lowest bucket; mirror that
    # here (NULL <= threshold is NULL, which would otherwise fall
    # through to labels[-1] and make the routes disagree). Scope: the
    # mirror is exact only while a group's NULL fraction stays within
    # boundaries[0] — beyond that the window route spills NULL rows
    # into higher buckets (and with tiebreak_col set, percent_rank
    # gives NULL rows DISTINCT ranks, spreading them), while this
    # route pins all of them to labels[0]. The route-equivalence
    # contract (tests/test_properties.py) is therefore stated over
    # non-NULL scores; NULL-heavy corpora should filter or impute
    # scores before bucketing.
    expr = F.when(F.col(score_col).isNull(), F.lit(labels[0])).otherwise(expr)
    return j.withColumn("bucket", expr).drop(
        *[f"_th{i}" for i in range(len(boundaries))]
    )


def _nullsafe_attach(df: DataFrame, th: DataFrame, by: str) -> DataFrame:
    """Attach a per-group table by ``by`` WITHOUT dropping rows: a
    plain inner equi-join discards NULL keys, but groupBy keeps a NULL
    group (and the window routes keep a NULL partition), so the sketch
    routes must match — joined LEFT with the null-safe equality
    (``<=>``, still a hash-joinable equi-condition). LEFT also keeps
    rows of groups whose every score is NULL (no sketch row exists for
    them); their thresholds come back NULL, which only the NULL-score
    rule ever touches."""
    th2 = th.withColumnRenamed(by, "_gq_by")
    return df.join(
        th2, F.col(by).eqNullSafe(F.col("_gq_by")), "left"
    ).drop("_gq_by")


def percentile_filter(
    df: DataFrame,
    score_col: str,
    by: str,
    p: float,
    mode: str,
    keep_pct: str | None = None,
) -> DataFrame:
    """Keep rows at or above the ``p`` quantile of ``score_col`` WITHIN
    each ``by`` group (the DataComp/DCLM shape: per-source quality
    cutoffs instead of one global threshold). Returns the input columns,
    filtered.

    The caller picks one of two physical routes, identical intent:

    ``mode="window"`` — exact: ``percent_rank() OVER (PARTITION BY by
    ORDER BY score)`` and keep ``pct >= p``. One task per group — fine
    while every group fits a task, a straggler when one source is most
    of a 100 TB corpus.

    ``mode="sketch"`` — shuffle-free: per-group score thresholds from
    the DDSketch bucket algebra (operators/ddsketch.py, the x1/pqs18
    quantile path: groupBy-count build, cumulative-walk quantile), then
    one scan keeping ``score >= threshold``. The threshold table is one
    row per group — bounded by the source-label cardinality, not the
    corpus — and joins back unhinted (AQE broadcasts it when small).
    The kept set can differ from the window route near the cutoff by
    the sketch's relative-error contract: the documented trade of rank
    exactness for removing the per-group sort entirely.

    Both routes contain analytic windows Structured Streaming can't
    run directly — streaming filtering belongs inside ``foreachBatch``
    (each microbatch is a batch DataFrame), the same pattern as
    streaming/dedup.py.

    ``keep_pct``: window-route-only — also emit the exact percent_rank
    under this name (the sketch route has no rank to report and
    raises).
    """
    if mode not in ("window", "sketch"):
        raise ValueError(
            f"percentile_filter: unknown mode {mode!r} "
            "(pass 'window' or 'sketch')"
        )
    if keep_pct and mode != "window":
        raise ValueError(
            "percentile_filter: keep_pct requires mode='window' — the "
            "sketch route computes thresholds, not ranks"
        )
    if mode == "window":
        from pyspark.sql import Window

        w = Window.partitionBy(by).orderBy(F.col(score_col).asc())
        out = df.withColumn("_pct", F.percent_rank().over(w)).filter(
            F.col("_pct") >= p
        )
        if keep_pct:
            return out.withColumnRenamed("_pct", keep_pct)
        return out.drop("_pct")
    th = grouped_quantile_thresholds(
        df, score_col, by, [p]
    )
    return (
        _nullsafe_attach(df, th, by)
        .filter(F.col(score_col) >= F.col("_th0"))
        .drop("_th0")
    )


def prefix_sum(
    df: DataFrame,
    key_col: str,
    val_col: str,
    out_col: str = "cum_excl",
    buckets: int = 256,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Distributed EXCLUSIVE prefix sum over the deterministic total
    order (key_col, tiebreak_col) — WITHOUT a single-task global
    window (`Window.orderBy(...)` with no partition moves the whole
    corpus to one task; this is the two-pass pattern that doesn't).

    ``key_col`` must be an :func:`id_hash`-style key in [0, 2^32).
    Pass 1: rows land in ``buckets`` STATIC key ranges (bucket =
    key div (2^32/buckets)) — a monotonic function of the key, so
    every row in bucket b orders before every row in bucket b+1 —
    and a per-bucket window computes local exclusive sums in
    parallel. Pass 2: per-bucket totals (<= ``buckets`` rows, a
    constant) get their own exclusive cumsum on one task, and the
    offsets broadcast-join back: global = offset + local.

    Integer values make every sum exact in any engine and any
    order; an oracle can use a plain global-window cumsum — the
    SEMANTICS are a total-order prefix sum, only the execution
    differs. One data shuffle (by bucket); skew is bounded by the
    hash's uniformity."""
    span = MOD // buckets
    from pyspark.sql import Window

    order = [F.col(key_col).asc()]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col).asc())
    local_w = (
        Window.partitionBy("_psb")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = df.withColumn(
        "_psb", F.expr(f"{key_col} div {span}")
    ).withColumn(
        "_lc", F.coalesce(F.sum(val_col).over(local_w), F.lit(0))
    )
    off_w = (
        Window.orderBy(F.col("_psb").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = (
        local.groupBy("_psb")
        .agg(F.sum(val_col).alias("_bt"))
        .select(
            "_psb",
            F.coalesce(F.sum("_bt").over(off_w), F.lit(0)).alias("_off"),
        )
    )
    return (
        local.join(F.broadcast(offs), "_psb")
        .withColumn(out_col, (F.col("_off") + F.col("_lc")).cast("long"))
        .drop("_psb", "_lc", "_off")
    )
