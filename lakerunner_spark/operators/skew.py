"""Small-scan spread: give the map work next to a small parquet scan
more than one task.

Spark plans one task per input split, so a scan of one small file
runs the expensive per-row work beside it (MinHash signatures, vector
math, media decodes) on a single core however many the cluster has.
:func:`spread_small_scan` round-robins such a scan to a partition count
sized from its parquet footer row count, and leaves every other
relation alone; :func:`scan_rows` reads that count without a job.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


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
