"""Deterministic per-query WORK counters from Spark's AppStatusStore.

Three rounds of bench-flag adjudication (r8 phantom sf10 flags, r9's
cluster, r10's 8 same-code sf1 flags) all traced to VM noise that the
wall-clock calibration anchor cannot fully cancel — the anchor itself
swung 26% within minutes on this VM. Wall time is a NOISY proxy for
"did the plan regress"; the quantities that actually change when a
plan regresses — tasks launched, shuffle bytes read/written, input
rows/bytes scanned, spill — are DETERMINISTIC for a fixed plan over
fixed data. bench.py records them per query alongside wall time, and
tools/bench_diff.py flags a regression only when a work metric moved;
wall-only moves are annotated as environment (r10 verdict task #2).

Mechanism: the driver-side AppStatusStore (present even with the UI
server disabled) aggregates per-stage metrics; stage ids are globally
monotonic, so "the work of one query" is the sum over stages with
``stageId > cursor`` where the cursor is the max stage id seen before
the query ran. Reading via py4j costs ~1ms and happens OUTSIDE the
timed window. The status listener updates asynchronously, so reads
poll until two consecutive snapshots agree (bounded).

``codegen_compiles`` is the change in Spark's JVM-wide
``CodegenMetrics`` compilation count over the same window: how many
generated classes Janino compiled because the codegen cache missed.
Unlike the stage counters it depends on what ran before in the JVM
(a warm cache compiles nothing), so it is reported, never compared
(tools/bench_diff.py). In local mode driver and executors share one
JVM and the count covers both; on a cluster it is the driver's only.
"""

from __future__ import annotations

import time
from typing import NamedTuple

# (result key, v1.StageData getter) — getters resolved defensively so
# a Spark version that renames one degrades to 0 instead of crashing
# the bench
FIELDS = (
    ("tasks", "numCompleteTasks"),
    ("shuffle_read_b", "shuffleReadBytes"),
    ("shuffle_write_b", "shuffleWriteBytes"),
    ("input_rows", "inputRecords"),
    ("input_b", "inputBytes"),
    ("output_b", "outputBytes"),
    ("spill_b", "diskBytesSpilled"),
)


class Cursor(NamedTuple):
    """The pre-query marker: max stage id and codegen compile count
    (None when ``CodegenMetrics`` is unreachable)."""

    stage_id: int
    compiles: int | None


def _compiles(spark) -> int | None:
    try:
        jvm = spark.sparkContext._jvm
        metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
        return metrics.METRIC_COMPILATION_TIME().getCount()
    except Exception:  # noqa: BLE001 - advisory counter, never fatal
        return None


def _stage_seq(spark):
    sc = spark.sparkContext
    gw = sc._gateway
    store = sc._jsc.sc().statusStore()
    # Scala default args don't exist at the JVM boundary: pass the
    # full stageList(statuses, details, withSummaries, quantiles,
    # taskStatus) signature explicitly
    return store.stageList(
        gw.jvm.java.util.ArrayList(),
        False,
        False,
        gw.new_array(gw.jvm.double, 0),
        gw.jvm.java.util.ArrayList(),
    )


def _read(spark, cursor: int) -> tuple[dict, int]:
    """One pass over stages with ``stageId > cursor``. stageList is
    id-descending, so the walk early-breaks at the cursor — a py4j
    round trip costs ~0.2ms and the retained-stage list grows to
    1000, so touching only the current query's handful of new stages
    is what keeps this ~ms instead of seconds. A few stale entries
    are tolerated before breaking in case eviction ever perturbs the
    order."""
    tot = {k: 0 for k, _g in FIELDS}
    max_id = cursor
    stale = 0
    it = _stage_seq(spark).iterator()
    while it.hasNext():
        s = it.next()
        sid = s.stageId()
        if sid > max_id:
            max_id = sid
        if sid <= cursor:
            stale += 1
            if stale >= 3:
                break
            continue
        for key, getter in FIELDS:
            try:
                tot[key] += getattr(s, getter)()
            except Exception:  # noqa: BLE001 - version-renamed getter
                pass
    return tot, max_id


def totals_since(
    spark, cursor: Cursor, settle_s: float = 1.0
) -> tuple[dict, Cursor]:
    """Work totals over stages with ``stageId > cursor.stage_id``, plus
    ``codegen_compiles`` since the cursor, polled until two
    consecutive reads agree (the status listener drains its event
    queue asynchronously; a read taken the instant collect() returns
    can be a few events short). Returns ``(totals, new_cursor)``.
    Never raises — on any py4j failure returns ``(None, cursor)`` so
    the bench records wall time without work counters."""
    try:
        prev, max_id = _read(spark, cursor.stage_id)
        deadline = time.monotonic() + settle_s
        while time.monotonic() < deadline:
            time.sleep(0.05)
            cur, max_id = _read(spark, cursor.stage_id)
            if cur == prev:
                break
            prev = cur
    except Exception:  # noqa: BLE001 - advisory counters, never fatal
        return None, cursor
    # the count is kept synchronously by the compiling thread, so it
    # is final once the measured action has returned
    compiles = _compiles(spark)
    if compiles is not None and cursor.compiles is not None:
        prev["codegen_compiles"] = compiles - cursor.compiles
    return prev, Cursor(max_id, compiles)


def cursor(spark) -> Cursor | None:
    """Current max stage id and compile count (the pre-query marker),
    the stage id polled stable so a previous query's still-draining
    events land BEHIND the cursor; None when the status store is
    unreachable."""

    def _max_id() -> int:
        m, seen = -1, 0
        it = _stage_seq(spark).iterator()
        while it.hasNext() and seen < 3:  # id-descending: head suffices
            sid = it.next().stageId()
            m = max(m, sid)
            seen += 1
        return m

    try:
        prev = _max_id()
        for _ in range(6):
            time.sleep(0.05)
            cur = _max_id()
            if cur == prev:
                break
            prev = cur
    except Exception:  # noqa: BLE001 - advisory counters, never fatal
        return None
    return Cursor(prev, _compiles(spark))


def compact(work: dict) -> dict:
    """Human-scale rendering for the bench record: bytes -> MB (3dp)."""
    out = {}
    for k, v in work.items():
        if k.endswith("_b"):
            out[k[:-2] + "_mb"] = round(v / 1048576, 3)
        else:
            out[k] = int(v)
    return out


def section_totals(per_query: dict[str, dict]) -> dict:
    """Sum per-query compact work into one small dict that fits the
    driver's tail window (so BENCH_r{N} artifacts carry work evidence
    even though the full per-query map lives in BENCH_LATEST.json)."""
    tot: dict[str, float] = {}
    for w in per_query.values():
        for k, v in w.items():
            tot[k] = tot.get(k, 0) + v
    return {k: round(v, 1) if isinstance(v, float) else v
            for k, v in tot.items()}
