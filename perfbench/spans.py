"""Spans around the calls into each engine layer, and the Spark work
done inside them.

Spans live in memory (name, start, end, parent, op id) and are written
out once, when the run ends. A layer's self time is its span's duration
minus the part of that interval its child spans cover.

Spark work for a span is read after the span closes, for the job and
stage ids the span created: the DAG scheduler's id counters are read at
the span edges (exact, synchronous), and each stage and SQL execution
is read from the status stores once the listener has recorded it as
finished. This is valid because the benchmark runs one op at a time
with one client.
"""

from __future__ import annotations

import contextlib
import json
import re
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError

# -- spans -------------------------------------------------------------------


class Span:
    __slots__ = ("name", "start", "end", "parent", "op", "sid", "counts")

    def __init__(self, sid: int, name: str, start: float, parent: int | None, op: int | None):
        self.sid = sid
        self.name = name
        self.start = start
        self.end: float | None = None
        self.parent = parent
        self.op = op
        self.counts: dict[str, float] = {}

    def as_dict(self) -> dict:
        return {
            "id": self.sid, "name": self.name, "start": self.start,
            "end": self.end, "parent": self.parent, "op": self.op,
            "counts": self.counts,
        }


def covered(interval: tuple[float, float], parts: list[tuple[float, float]]) -> float:
    """Length of ``interval`` covered by the union of ``parts``."""
    lo, hi = interval
    clipped = sorted((max(lo, a), min(hi, b)) for a, b in parts if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the time its children cover."""
    kids: dict[int | None, list[Span]] = defaultdict(list)
    for s in spans:
        kids[s.parent].append(s)
    return {
        s.sid: (s.end - s.start)
        - covered((s.start, s.end), [(c.start, c.end) for c in kids[s.sid]])
        for s in spans
    }


class Tracer:
    """Records spans when enabled; a no-op context otherwise."""

    def __init__(self, enabled: bool, clock=time.perf_counter) -> None:
        self.enabled = enabled
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.op: int | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].sid if self._stack else None
        s = Span(len(self.spans), name, self.clock(), parent, self.op)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = self.clock()
            self._stack.pop()

    def layer_totals(self) -> dict[str, float]:
        """Layer name -> total self time in seconds over every traced
        op; the root ``op`` span's own self time is what no layer
        covered."""
        st = self_times(self.spans)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.name] += st[s.sid]
        return dict(out)

    def counts(self) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            for k, v in s.counts.items():
                out[k] += v
        return dict(out)

    def coverage(self) -> float:
        """Share of root ``op`` span time covered by layer spans. Time
        the tracer spent reading Spark's status stores (``trace.read``
        spans directly under the op) is the tracer's, not the op's, so
        it is left out of both sides."""
        num = den = 0.0
        for s in self.spans:
            if s.name == "op":
                kids = [c for c in self.spans if c.parent == s.sid]
                reads = [(c.start, c.end) for c in kids if c.name == "trace.read"]
                layers = [(c.start, c.end) for c in kids if c.name != "trace.read"]
                num += covered((s.start, s.end), layers)
                den += (s.end - s.start) - covered((s.start, s.end), reads)
        return num / den if den else 0.0

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.as_dict()) + "\n")


# -- Spark work windows ---------------------------------------------------------

_UNIT_MS = {"ms": 1.0, "s": 1000.0, "m": 60_000.0, "h": 3_600_000.0}
_UNIT_B = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def parse_metric(text: str) -> float:
    """A formatted SQL metric value -> a number (ms for timings, bytes
    for sizes). Aggregated metrics read ``total (min, med, max ...)\\n
    <total> (...)``; the total is the first value after the newline."""
    body = text.split("\n", 1)[-1].strip()
    m = re.match(r"([-0-9.,]+)\s*([A-Za-z]*)", body)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _UNIT_MS:
        return num * _UNIT_MS[unit]
    return num * _UNIT_B.get(unit, 1)


STAGE_FIELDS = (
    ("tasks", "numCompleteTasks"),
    ("input_rows", "inputRecords"),
    ("shuffle_read_bytes", "shuffleReadBytes"),
    ("shuffle_write_bytes", "shuffleWriteBytes"),
    ("spill_bytes", "diskBytesSpilled"),
    ("gc_ms", "jvmGcTime"),
)


class SparkWork:
    """Reads the work of a span from the driver's status stores."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._gw = sc._gateway
        jsc = sc._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def mark(self) -> tuple[int, int, int]:
        return (
            int(self._dag.nextJobId()),
            int(self._dag.nextStageId()),
            int(self._sql.executionsCount()),
        )

    def _settled(self, get, done, deadline: float):
        """``get()`` once ``done(value)`` holds (the status listeners
        drain their queue asynchronously), or the last value seen when
        the deadline passes; None when never recorded."""
        while True:
            try:
                v = get()
            except Py4JJavaError:  # not recorded yet
                v = None
            if (v is not None and done(v)) or time.monotonic() > deadline:
                return v
            time.sleep(0.002)

    def since(self, mark: tuple[int, int, int], timeout_s: float = 2.0) -> dict[str, float]:
        """Work of the jobs, stages and SQL executions started after
        ``mark``: every stage id the scheduler handed out since, and
        every SQL execution listed since, read once each is final."""
        job0, stage0, exec0 = mark
        job1, stage1 = int(self._dag.nextJobId()), int(self._dag.nextStageId())
        deadline = time.monotonic() + timeout_s
        tot = {k: 0.0 for k, _ in STAGE_FIELDS}
        tot.update(stages=0, jobs=job1 - job0, python_ms=0.0, python_rows=0.0)
        for sid in range(stage0, stage1):
            st = self._settled(
                lambda sid=sid: self._store.lastStageAttempt(sid),
                lambda v: str(v.status()) in ("COMPLETE", "SKIPPED", "FAILED"),
                deadline,
            )
            if st is None or str(st.status()) == "SKIPPED":
                continue
            tot["stages"] += 1
            for key, getter in STAGE_FIELDS:
                tot[key] += getattr(st, getter)()
        n = int(self._sql.executionsCount()) - exec0
        if n > 0:
            it = self._sql.executionsList(exec0, n).iterator()
            while it.hasNext():
                eid = it.next().executionId()
                e = self._settled(
                    lambda eid=eid: self._sql.execution(eid).get(),
                    lambda v: v.completionTime().isDefined(),
                    deadline,
                )
                if e is not None:
                    self._add_python(e, tot)
        return tot

    def _add_python(self, e, tot: dict[str, float]) -> None:
        """Python worker time and Python-node output rows of one SQL
        execution (formatted SQL metric text, parsed)."""
        if "time to run Python workers" not in e.metrics().toString():
            return  # one py4j call for the common, Python-free case
        names = {}
        mi = e.metrics().iterator()
        while mi.hasNext():
            m = mi.next()
            names[m.accumulatorId()] = m.name()
        python_rows = set()
        nodes = self._sql.planGraph(e.executionId()).allNodes().iterator()
        while nodes.hasNext():
            node = nodes.next()
            if "Python" in node.name() or "Pandas" in node.name():
                ni = node.metrics().iterator()
                while ni.hasNext():
                    m = ni.next()
                    if m.name() == "number of output rows":
                        python_rows.add(m.accumulatorId())
        vi = self._sql.executionMetrics(e.executionId()).iterator()
        while vi.hasNext():
            kv = vi.next()
            acc, text = kv._1(), kv._2()
            if names.get(acc) == "time to run Python workers":
                tot["python_ms"] += parse_metric(text)
            elif acc in python_rows:
                tot["python_rows"] += parse_metric(text)
