"""Ingest translators: reader output -> canonical cooked-table columns.

Reference: readers are wrapped with translators that normalize
attribute names, coerce timestamps, and compute identity columns —
``chq_fingerprint`` for log streams (internal/metricsprocessing/
log_translator.go:49-105) and ``chq_tid`` for metric series
(internal/oteltools/pkg/fingerprinter/tid.go:69-117) — before rows
reach the family writer.

Spark-first: each translator is a column-expression pass (narrow, no
shuffle); name normalization is pure metadata.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lakerunner_spark.dataops.text import structural_fingerprint
from lakerunner_spark.functions.hashing import compute_tid, java_string_hash_fast
from lakerunner_spark.schema import normalize_name


def normalize_columns(df: DataFrame) -> DataFrame:
    """P15: rename every column to the canonical [a-z0-9_] form.

    Distinct raw names can normalize to the SAME canonical name (e.g.
    'Host-Name' and 'host.name' -> host_name); without disambiguation
    the duplicate column poisons every later F.col() reference and
    write.parquet aborts the batch. Collisions get a deterministic
    ``_2``/``_3`` suffix in source-column order.
    """
    taken: set[str] = set()
    cols = []
    for old in df.columns:
        new = normalize_name(old)
        if new in taken:
            k = 2
            while f"{new}_{k}" in taken:
                k += 1
            new = f"{new}_{k}"
        taken.add(new)
        # one select, not chained withColumnRenamed: the chained form
        # passes through transient duplicate-name states that rename
        # both columns at once. Backtick-quote so 'host.name' stays a
        # top-level column reference, not a struct path.
        quoted = old.replace("`", "``")
        cols.append(F.col(f"`{quoted}`").alias(new))
    return df.select(*cols)


def translate_logs(
    df: DataFrame,
) -> DataFrame:
    """Logs family: structural fingerprint of the message template
    (F16; trie-cluster stand-in: mask variable parts -> hash) as the
    stream identity used for sorting and index pruning.

    Hashes via the vectorized Arrow kernel — the same bits as the JVM
    expression hash, ~200x/core — so the executors need
    pandas/pyarrow/numpy."""
    masked = structural_fingerprint(F.col("log_message"))
    return df.withColumn(
        "chq_fingerprint", java_string_hash_fast(masked).cast("long")
    ).withColumn(
        "service_identifier",
        F.coalesce(
            F.col("service_identifier")
            if "service_identifier" in df.columns
            else F.lit(None),
            F.lit("unknown"),
        ),
    )


def translate_metrics(
    df: DataFrame,
    metric_col: str = "metric_name",
    attr_cols: list[str] | None = None,
) -> DataFrame:
    """Metrics family: TID = fnv64a over sorted k=v attribute pairs.

    Uses the vectorized Arrow kernel — identical bits to the expression
    path, measured ~200x per-core — so the executors need
    pandas/pyarrow/numpy."""
    attrs = attr_cols or [c for c in df.columns if c.startswith("attr_")]
    return df.withColumn("chq_tid", compute_tid(metric_col, *attrs, fast=True))
