"""Skew-resistant aggregation: two-phase salted groupBy.

AQE's skew-join splitting handles joins, but a groupBy with one giant
key still funnels that key's rows through a single reducer. Salting
splits each key into ``salt_n`` subkeys for the first (wide) exchange,
then merges the tiny per-salt partials — the standard remedy when a
telemetry tenant or dedup bucket dominates (SURVEY 'skewed keys hurt').

Only algebraic aggregates are offered (sum/count/min/max — the
engine's rollup core), because they compose across salts exactly.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MERGE = {
    "sum": F.sum,
    "count": F.sum,  # counts add across salts
    "min": F.min,
    "max": F.max,
}
_PARTIAL = {
    "sum": F.sum,
    "count": lambda c: F.count(c),
    "min": F.min,
    "max": F.max,
}


# Rows of scan input that justify one spread task: per-task batch
# sizes, not core counts (cores enter only through the
# defaultParallelism cap). Vector rows carry ~64 doubles and their
# consumers do k*d work per row; media rows carry whole payloads and a
# Python decode each — so smaller batches pay there.
ROWS_PER_PART = 1536
VEC_ROWS_PER_PART = 640
MEDIA_ROWS_PER_PART = 256


def scan_rows(df: DataFrame) -> int | None:
    """Row count of ``df``'s file scan from parquet footer metadata —
    driver-side only, no Spark job, no data pages read. None when the
    relation is not a local parquet file set (in-memory test frames,
    object-store URIs) or has more than 64 files (enough partitions
    that no spread would fire)."""
    try:
        files = df.inputFiles()
    except Exception:  # streaming/local relations
        return None
    if not files or len(files) > 64:
        return None
    import pyarrow.parquet as pq  # noqa: PLC0415

    total = 0
    for uri in files:
        path = uri[7:] if uri.startswith("file://") else uri
        path = path[5:] if path.startswith("file:") else path
        if not os.path.isfile(path):
            return None
        try:
            total += pq.ParquetFile(path).metadata.num_rows
        except Exception:
            return None
    return total


_SCAN_NODES = frozenset(
    {"Project", "Filter", "SubqueryAlias", "LogicalRelation", "View"}
)


def _scan_like(df: DataFrame) -> bool:
    """True when ``df``'s analyzed plan is a pure scan tree —
    projections/filters/aliases over file relations, nothing else.
    Driver-side metadata walk with early exit; no job, no execution.
    Anything else (joins, aggregates, checkpoints, streams) has rows
    that are not the file's rows, and building its ``.rdd`` may run
    work: a broadcast exchange executes during RDD construction."""
    try:
        stack = [df._jdf.queryExecution().analyzed()]
        while stack:
            node = stack.pop()
            if node.nodeName() not in _SCAN_NODES:
                return False
            children = node.children()
            for i in range(children.size()):
                stack.append(children.apply(i))
        return True
    except Exception:  # pragma: no cover - py4j surface drift
        return False


def spread_small_scan(
    df: DataFrame,
    rows_per_part: int = ROWS_PER_PART,
    floor: int = 1,
) -> DataFrame:
    """Round-robin repartition a small parquet scan so the map work
    next to it runs on more than one task.

    Rule: when ``df`` is a pure scan tree, the target is
    ``min(defaultParallelism, max(floor, ceil(footer rows /
    rows_per_part)))``, or ``min(defaultParallelism, floor)`` when its
    rows are unknown (more than 64 files, object-store URIs), and ``df``
    is repartitioned only when that exceeds its partition count and 1.
    Anything else (derived, checkpointed, in-memory or streaming
    relations, scans already split that far) passes through with no
    exchange.
    Round-robin stays retry-deterministic through Spark's
    sort-before-repartition (on by default, SPARK-23207).

    A site keeps the call only when the same-host A/B in
    SPREAD_AUDIT.md measured it paying (sf1 wall saved, 4 cores): minhash
    signatures 71%, jaccard verify 17%, winnow fingerprints 50%,
    unigram LM 44% (batch 24576: no-op below sf1), dd14 paragraphs 46%,
    ds12 50%, sim6 59%, sim8's shared corpus 36%, cosine/IVF/LSH/
    k-means/PQ vector scans 36-52% (:data:`VEC_ROWS_PER_PART`), image
    patches 12% on the sf1 media decade (:data:`MEDIA_ROWS_PER_PART`);
    sampled semantic dedup read 5% raw / 12% normalised and stays
    unresolved.

    ``floor``: minimum target for ds12, whose spread exchange is also
    the AQE reuse boundary of its shared corpus pass: a
    single-partition child satisfies every hash distribution, so with
    no exchange Spark plans that subtree once per consumer. It holds
    also when the rows cannot be known.
    """
    if rows_per_part < 1:
        raise ValueError(
            f"spread_small_scan: rows_per_part must be >= 1, got {rows_per_part}"
        )
    if not _scan_like(df):
        return df
    rows = scan_rows(df)
    # unknown rows (many files, object store): only the floor is known
    want = floor if rows is None else max(floor, -(-rows // rows_per_part))
    target = min(df.sparkSession.sparkContext.defaultParallelism, want)
    if target <= 1 or target <= df.rdd.getNumPartitions():
        return df
    return df.repartition(target)


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, str]],
    salt_n: int = 16,
) -> DataFrame:
    """Two-phase aggregation: groupBy(keys + salt) then groupBy(keys).

    ``aggs`` maps output column -> (func, input column), func in
    {sum, count, min, max}. Result is EXACTLY equal to the direct
    groupBy (tested), with the first shuffle's key cardinality
    multiplied by salt_n so no reducer owns a whole hot key.

    The salt is a DETERMINISTIC function of (map partition, row), never
    ``rand()``: a random salt is a nondeterministic shuffle key, and a
    fetch-failure map-stage retry would re-salt rows differently —
    reducers that committed partials from the first attempt then
    double-count (or drop) rows silently. ``spark_partition_id()`` is
    retry-deterministic (the same map partition recomputes with the
    same id) and spreads a hot key across as many salts as the input
    partitions holding it, independent of value cardinality — hashing
    the aggregated columns ALONE collapses to a handful of salts when a
    hot key's values are low-cardinality (e.g. a 0/1 flag under count),
    silently defeating the mitigation. The value-column hash is mixed
    in on top so a single giant input partition still fans out.
    """
    for func, _ in aggs.values():
        if func not in _PARTIAL:
            raise ValueError(f"salted_agg: non-algebraic func {func!r}")
    in_cols = sorted({col for _, col in aggs.values()})
    salted = df.withColumn(
        "_salt",
        F.pmod(
            F.xxhash64(F.spark_partition_id(), *[F.col(c) for c in in_cols]),
            salt_n,
        ),
    )
    partial = salted.groupBy(*keys, "_salt").agg(
        *[
            _PARTIAL[func](F.col(col)).alias(out)
            for out, (func, col) in aggs.items()
        ]
    )
    return partial.groupBy(*keys).agg(
        *[
            _MERGE[func](F.col(out)).alias(out)
            for out, (func, _col) in aggs.items()
        ]
    )
