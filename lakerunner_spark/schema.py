"""Canonical column namespace, schemas, and normalization rules.

Mirrors the reference's data model (SURVEY §1):

- attribute names normalized to ``[a-z0-9_]`` with prefix conventions
  ``resource_* / scope_* / attr_*`` — reference: pipeline/wkk/intern.go:36-60,
  internal/filereader/FIELD-NAMES.md:33-80
- timestamps are Unix epoch **milliseconds** as LongType (``chq_timestamp``)
  with a nanosecond companion ``chq_tsns`` — reference:
  internal/filereader/schema.go:432-456
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

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


# ---------------------------------------------------------------------------
# Layout of the three cooked table families
# (SURVEY §1.1/§1.3)
# ---------------------------------------------------------------------------

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
