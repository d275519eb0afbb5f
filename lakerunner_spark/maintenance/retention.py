"""Retention sweeping over the partitioned layout.

Reference: expiry jobs drop aged segments per org/signal via the
Postgres index (docs/design/OVERVIEW.md lifecycle; lrdb expiry
tables). With Hive-partitioned parquet the dateint directory IS the
index: the sweep is a partition-directory delete — no data scan.
"""

from __future__ import annotations

import os
import re
import shutil
from datetime import datetime, timedelta, timezone

_DATEINT_RE = re.compile(r"^dateint=(\d{8})$")


def expired_partitions(
    table_path: str,
    retention_days: int,
    now_ms: int | None = None,
) -> list[str]:
    """List dateint partition dirs older than the retention horizon."""
    now = (
        datetime.fromtimestamp(now_ms / 1000, tz=timezone.utc)
        if now_ms is not None
        else datetime.now(timezone.utc)
    )
    cutoff = int((now - timedelta(days=retention_days)).strftime("%Y%m%d"))
    out: list[str] = []
    for root, dirs, _files in os.walk(table_path):
        for d in list(dirs):
            m = _DATEINT_RE.match(d)
            if m and int(m.group(1)) < cutoff:
                out.append(os.path.join(root, d))
                dirs.remove(d)  # don't descend into doomed partitions
    return sorted(out)


def sweep_retention(
    table_path: str,
    retention_days: int,
    now_ms: int | None = None,
) -> list[str]:
    """Delete expired dateint partitions; returns the removed paths
    (:func:`expired_partitions` lists them without deleting)."""
    doomed = expired_partitions(table_path, retention_days, now_ms)
    for path in doomed:
        shutil.rmtree(path)
    return doomed
