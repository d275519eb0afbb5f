"""Time bucketing and the step ladder.

Reference semantics:
- bucket math is integer modulo on epoch-ms, not calendar windows
  (promql/sql_builder.go:533-537): ``bucket_ts = ts - ts % step``.
- step ladder by query span (queryapi/dates.go:23-42):
  <=65m -> 10s, <=12h -> 1m, <=24h -> 5m, <=3d -> 20m, else 1h.
- rollup chain (metric_rollup_processor.go:694-705): 10s ingest grain,
  then 60s -> 300s -> 1200s -> 3600s.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ingest grain first, then the rollup cascade
ROLLUP_CHAIN_MS: list[int] = [10_000, 60_000, 300_000, 1_200_000, 3_600_000]

_STEP_LADDER = [
    (65 * 60 * 1000, 10_000),
    (12 * 3600 * 1000, 60_000),
    (24 * 3600 * 1000, 300_000),
    (3 * 24 * 3600 * 1000, 1_200_000),
]


def step_for_duration(span_ms: int) -> int:
    """Step (ms) for a query span (reference: queryapi/dates.go:23-42)."""
    for limit, step in _STEP_LADDER:
        if span_ms <= limit:
            return step
    return 3_600_000


def bucket_ts(ts_ms: Column | str, step_ms: int) -> Column:
    """``ts - ts % step`` epoch-ms tumbling bucket (F14)."""
    c = F.col(ts_ms) if isinstance(ts_ms, str) else ts_ms
    return (c - c % F.lit(step_ms)).cast("long")
