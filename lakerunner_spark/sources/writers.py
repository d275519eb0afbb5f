"""Sorted partitioned Parquet segment writer (S7, O5).

Reference: internal/parquetwriter writes ZSTD Parquet sorted by the
family sort key, splitting at a record budget but never splitting a
TID/trace group across files (splitter.go:119-360).

Spark-first: ``repartition(partition cols)`` to co-locate each output
partition, ``sortWithinPartitions(sort keys)`` for the in-file
clustering (compression + row-group pruning), ``maxRecordsPerFile``
for the size budget. Group-boundary preservation falls out of the
sort: a group is contiguous, and Spark splits files between rows of
the sorted run, so a group spans at most two files only at the exact
budget boundary — for query correctness (unlike the reference's
DuckDB-per-file execution) files are not an execution boundary, so
this is a layout nicety, not a semantics requirement.

At 100 TB: partitionBy(org_id, dateint[, frequency_ms]) gives directory
partition pruning; the per-partition sort gives Parquet min/max stats
on the sort keys → row-group skipping on (metric_name, tid, ts).
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame

from lakerunner_spark.schema import PARTITION_COLUMNS, SEGMENT_SORT_KEYS

# serializes the plannedWrite toggle-and-plan window: the conf is
# session-global, so two concurrent write_segments calls interleaving
# set/restore could plan one write WITH plannedWrite enabled —
# EliminateSorts then drops its sortWithinPartitions and that file's
# clustering is silently lost
_write_lock = threading.Lock()

# rows per segment file: Spark splits a partition's output at this count
MAX_RECORDS_PER_FILE = 2_000_000


def write_segments(
    df: DataFrame,
    path: str,
    family: str,
    mode: str = "append",
) -> None:
    """Write a cooked table family as sorted, partitioned segments."""
    partition_cols = [c for c in PARTITION_COLUMNS[family] if c in df.columns]
    sort_keys = [c for c in SEGMENT_SORT_KEYS[family] if c in df.columns]

    out = df
    if partition_cols:
        out = out.repartition(*partition_cols)
    if sort_keys:
        out = out.sortWithinPartitions(*(partition_cols + sort_keys))

    writer = (
        out.write.mode(mode)
        .option("compression", "zstd")
        .option("maxRecordsPerFile", MAX_RECORDS_PER_FILE)
    )
    if mode == "overwrite" and partition_cols:
        # overwrite only the partitions THIS write produces (the
        # idempotent-retry contract for batch-scoped streaming writes),
        # never the whole table
        writer = writer.option("partitionOverwriteMode", "dynamic")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)

    # plannedWrite (Spark 3.4+) injects its own partition-column sort and
    # EliminateSorts then drops ours — silently losing the in-file
    # clustering. Disable it for the duration of the write, under a
    # process lock (see _write_lock).
    spark = df.sparkSession
    with _write_lock:
        prev = spark.conf.get(
            "spark.sql.optimizer.plannedWrite.enabled", "true"
        )
        spark.conf.set("spark.sql.optimizer.plannedWrite.enabled", "false")
        try:
            writer.parquet(path)
        finally:
            spark.conf.set(
                "spark.sql.optimizer.plannedWrite.enabled", prev
            )
