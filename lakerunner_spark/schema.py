"""Canonical column namespace, schemas, and normalization rules.

Mirrors the reference's data model (SURVEY §1):

- six scalar types (string/long/double/bool/binary + passthrough) —
  reference: internal/filereader/schema.go:63-75
- attribute names normalized to ``[a-z0-9_]`` with prefix conventions
  ``resource_* / scope_* / attr_*`` — reference: pipeline/wkk/intern.go:36-60,
  internal/filereader/FIELD-NAMES.md:33-80
- timestamps are Unix epoch **milliseconds** as LongType (``chq_timestamp``)
  with a nanosecond companion ``chq_tsns`` — reference:
  internal/filereader/schema.go:432-456
- type promotion on merge: long+double→double, anything+string→string —
  reference: internal/filereader/schema.go:211-257
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Column name normalization (reference: pipeline/wkk/intern.go:36-60)
# ---------------------------------------------------------------------------

_NORMALIZE_RE = re.compile(r"[^a-z0-9_]+")


def normalize_name(name: str) -> str:
    """Lowercase, non-alphanumeric runs -> single underscore, trimmed.

    ``service.name`` -> ``service_name``; ``HTTP-Status`` -> ``http_status``.
    """
    out = _NORMALIZE_RE.sub("_", name.lower()).strip("_")
    return out or "_"


def otel_attr_column(scope: str, key: str) -> str:
    """OTEL attribute -> canonical column (reference: otel_schema.go:140-170).

    scope in {"resource", "scope", "attr", "metric"}.
    """
    return f"{scope}_{normalize_name(key)}"


# ---------------------------------------------------------------------------
# Canonical logs schema and the layout of the three cooked table families
# (SURVEY §1.1/§1.3)
# ---------------------------------------------------------------------------

_COMMON_FIELDS = [
    T.StructField("chq_timestamp", T.LongType(), False),  # epoch ms
    T.StructField("chq_tsns", T.LongType(), True),  # epoch ns companion
    T.StructField("org_id", T.StringType(), True),
]

LOGS_BASE_SCHEMA = T.StructType(
    _COMMON_FIELDS
    + [
        T.StructField("log_message", T.StringType(), True),
        T.StructField("log_level", T.StringType(), True),
        T.StructField("chq_fingerprint", T.LongType(), True),
        T.StructField("service_identifier", T.StringType(), True),
    ]
)

# Partition columns per family (reference layout: docs/design/OVERVIEW.md:62-75)
# ingest_batch (innermost, present only on streaming cooks) scopes each
# micro-batch's output to its own partition directories so a retried
# batch OVERWRITES its previous attempt instead of appending duplicates
PARTITION_COLUMNS = {
    "logs": ["org_id", "dateint", "ingest_batch"],
    "metrics": ["org_id", "dateint", "frequency_ms", "ingest_batch"],
    "spans": ["org_id", "dateint", "ingest_batch"],
}

# Sort order within segment files (reference §2.6 O5)
SEGMENT_SORT_KEYS = {
    "logs": ["service_identifier", "chq_fingerprint", "chq_tsns"],
    "metrics": ["metric_name", "chq_tid", "chq_timestamp"],
    "spans": ["span_trace_id", "chq_tsns"],
}


# ---------------------------------------------------------------------------
# Timestamp coercion (reference: internal/filereader/schema.go:432-456)
# ---------------------------------------------------------------------------

def normalize_timestamp_ms(col: F.Column) -> F.Column:
    """Coerce an epoch of unknown unit (s/ms/us/ns) to epoch milliseconds.

    Magnitude heuristic matching the reference's normalizeTimestampValue:
    values < 1e11 are seconds, < 1e14 ms, < 1e17 us, else ns.
    """
    c = col.cast("double")
    return (
        F.when(c < F.lit(1e11), (c * 1000).cast("long"))
        .when(c < F.lit(1e14), c.cast("long"))
        .when(c < F.lit(1e17), (c / 1000).cast("long"))
        .otherwise((c / 1000000).cast("long"))
    )


def dateint(ts_ms: F.Column) -> F.Column:
    """UTC YYYYMMDD int from epoch ms (reference: queryapi/dates.go:50-120)."""
    return F.from_unixtime(ts_ms / 1000, "yyyyMMdd").cast("int")


# ---------------------------------------------------------------------------
# Type promotion (reference: internal/filereader/schema.go:211-257)
# ---------------------------------------------------------------------------

_PROMOTION_RANK = {
    T.BooleanType(): 0,
    T.LongType(): 1,
    T.DoubleType(): 2,
    T.StringType(): 3,
}


def promote_types(a: T.DataType, b: T.DataType) -> T.DataType:
    """Merge two observed column types: long+double→double, *+string→string."""
    if a == b:
        return a
    ra = _PROMOTION_RANK.get(a)
    rb = _PROMOTION_RANK.get(b)
    if ra is None or rb is None:
        return T.StringType()
    if {a, b} == {T.LongType(), T.DoubleType()}:
        return T.DoubleType()
    if {a, b} == {T.BooleanType(), T.LongType()} or {a, b} == {
        T.BooleanType(),
        T.DoubleType(),
    }:
        # bool mixes with numerics only via string in the reference
        return T.StringType()
    return T.StringType()


def conform(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Project df onto schema: missing columns become typed nulls, present
    columns are cast (reference normalizeRow, schema.go:259-316).
    """
    cols = []
    have = {f.name: f for f in df.schema.fields}
    for field in schema.fields:
        if field.name in have:
            cols.append(F.col(field.name).cast(field.dataType).alias(field.name))
        else:
            cols.append(F.lit(None).cast(field.dataType).alias(field.name))
    # passthrough extra attribute columns (wide, sparse model)
    declared = {f.name for f in schema.fields}
    for name in df.columns:
        if name not in declared:
            cols.append(F.col(name))
    return df.select(*cols)
