"""Seeded input generation for the benchmark.

Everything the engine is fed is made here, from the ``--seed`` alone,
before any clock starts:

- ``events`` / ``documents`` parquet tables with the same schemas and
  value distributions as the synthetic sf tables the engine's queries
  are written against (events: 30 days of five event types; documents:
  30-word vocabulary with 5% near-duplicates);
- OTLP batches (metrics: gauge, sum and explicit histogram kinds; logs)
  encoded to protobuf wire bytes by a small encoder of the benchmark's
  own, so the read-back check does not trust the engine's encoder.

Row counts and distributions do not depend on the seed, only the
values do, so runs with different seeds do the same amount of work.
"""

from __future__ import annotations

import hashlib
import os
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DAY_MS = 86_400_000
EPOCH_2024_MS = 1_704_067_200_000


class Digest:
    """Running sha256 over every input byte the engine is given."""

    def __init__(self) -> None:
        self._h = hashlib.sha256()

    def add_file(self, path: str) -> None:
        with open(path, "rb") as f:
            self._h.update(f.read())

    def add_bytes(self, b: bytes) -> None:
        self._h.update(b)

    def hexdigest(self) -> str:
        return self._h.hexdigest()[:16]


# -- tables -----------------------------------------------------------------


def events_table(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    ts_us = np.sort(rng.integers(0, 30 * DAY_MS * 1000, n)) + EPOCH_2024_MS * 1000
    value = np.round(np.minimum(rng.exponential(50.0, n), 560.0), 2)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts_us, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n).astype(np.int64)),
            "event_type": pa.array(
                [EVENT_TYPES[i] for i in rng.integers(0, len(EVENT_TYPES), n)]
            ),
            "value": pa.array(value),
            "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, n)]),
        }
    )


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    # Lengths and near-duplicate positions are fixed; only the words
    # and which earlier document is copied come from the seed, so every
    # seed gives the dedup and byte-histogram queries the same work.
    texts: list[str] = []
    for i in range(n):
        if i % 20 == 19:
            # near-duplicate: an earlier document plus one marker token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), 10 + (i * 37) % 90)
            texts.append(" ".join(VOCAB[w] for w in words))
    langs = rng.choice(len(LANGS), n, p=LANG_P)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array([LANGS[i] for i in langs]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def write_tables(out_dir: str, seed: int, sizes: dict[str, int], digest: Digest) -> None:
    """Write the named tables (``events``/``documents`` -> row count)
    as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    makers = {
        "events": lambda n: events_table(rng, n, max(1, n * 3 // 200)),
        "documents": lambda n: documents_table(rng, n),
    }
    for name in sorted(sizes):
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(makers[name](sizes[name]), path)
        digest.add_file(path)


# -- OTLP wire encoding -----------------------------------------------------


def _vint(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _tag(field: int, wtype: int) -> bytes:
    return _vint(field << 3 | wtype)


def _len(field: int, payload: bytes) -> bytes:
    return _tag(field, 2) + _vint(len(payload)) + payload


def _str(field: int, s: str) -> bytes:
    return _len(field, s.encode())


def _fixed64(field: int, v: int) -> bytes:
    return _tag(field, 1) + struct.pack("<Q", v)


def _double(field: int, v: float) -> bytes:
    return _tag(field, 1) + struct.pack("<d", v)


def _kv(key: str, val: str) -> bytes:
    return _str(1, key) + _len(2, _str(1, val))


def _resource(service: str) -> bytes:
    return _len(1, _kv("service.name", service))


class OtlpBatch:
    """One ingest batch: encoded payloads plus the totals a correct
    ingest must make queryable."""

    def __init__(self, day: int, metrics: list[bytes], logs: list[bytes],
                 n_points: int, n_records: int, counter_total: float) -> None:
        self.day = day
        self.metrics = metrics
        self.logs = logs
        self.n_points = n_points          # datapoints (a histogram point is one)
        self.n_records = n_records        # log records
        self.counter_total = counter_total  # sum of every bench_requests value

    @property
    def start_ms(self) -> int:
        return EPOCH_2024_MS + self.day * DAY_MS

    @property
    def end_ms(self) -> int:
        return self.start_ms + DAY_MS


HIST_BOUNDS = [1.0, 5.0, 25.0, 100.0]


def otlp_batch(rng: np.random.Generator, day: int, batch_in_day: int,
               services: int, series: int, points: int, records: int) -> OtlpBatch:
    """``services`` resources each carrying ``series`` label sets of a
    gauge, a monotonic sum and a histogram, ``points`` datapoints each
    10 s apart, plus ``records`` log records per service. Batches of
    the same day cover disjoint hours so their samples never collide."""
    base_ms = EPOCH_2024_MS + day * DAY_MS + batch_in_day * 3_600_000
    metrics, logs = [], []
    n_points = n_records = 0
    counter_total = 0.0
    levels = ["INFO", "INFO", "INFO", "WARN", "ERROR"]
    for s in range(services):
        svc = f"svc{s}"
        gauge_dps, sum_dps, hist_dps = b"", b"", b""
        for k in range(series):
            attr = _len(7, _kv("host", f"h{k}"))
            for p in range(points):
                t_ns = (base_ms + p * 10_000) * 1_000_000
                g = float(np.round(rng.uniform(0, 100), 3))
                c = float(rng.integers(0, 50))
                counter_total += c
                gauge_dps += _len(1, attr + _fixed64(3, t_ns) + _double(4, g))
                sum_dps += _len(1, attr + _fixed64(3, t_ns) + _double(4, c))
                counts = rng.integers(0, 20, len(HIST_BOUNDS) + 1)
                hist_dps += _len(
                    1,
                    _len(9, _kv("host", f"h{k}"))
                    + _fixed64(3, t_ns)
                    + _fixed64(4, int(counts.sum()))
                    + _len(6, b"".join(struct.pack("<Q", int(x)) for x in counts))
                    + _len(7, b"".join(struct.pack("<d", b) for b in HIST_BOUNDS)),
                )
                n_points += 3
        ms = (
            _len(2, _str(1, "bench_cpu") + _len(5, gauge_dps))
            + _len(2, _str(1, "bench_requests") + _len(7, sum_dps))
            + _len(2, _str(1, "bench_latency") + _len(9, hist_dps))
        )
        metrics.append(_len(1, _len(1, _resource(svc)) + _len(2, ms)))
        recs = b""
        for r in range(records):
            t_ns = (base_ms + r * 1_000 + s) * 1_000_000
            lvl = levels[int(rng.integers(0, len(levels)))]
            msg = f"request {int(rng.integers(0, 10_000))} {lvl.lower()} in {int(rng.integers(1, 900))}ms"
            recs += _len(2, _fixed64(1, t_ns) + _str(3, lvl) + _len(5, _str(1, msg)))
            n_records += 1
        logs.append(_len(1, _len(1, _resource(svc)) + _len(2, recs)))
    return OtlpBatch(day, metrics, logs, n_points, n_records, counter_total)


def write_batch(batch: OtlpBatch, out_dir: str, digest: Digest) -> tuple[str, str]:
    """Write one batch's payloads as ``.binpb`` files; returns the
    (metrics, logs) directories."""
    mdir, ldir = os.path.join(out_dir, "metrics"), os.path.join(out_dir, "logs")
    for d, payloads in ((mdir, batch.metrics), (ldir, batch.logs)):
        os.makedirs(d, exist_ok=True)
        for i, p in enumerate(payloads):
            with open(os.path.join(d, f"part-{i:03d}.binpb"), "wb") as f:
                f.write(p)
            digest.add_bytes(p)
    return mdir, ldir


def dateint(ms: int) -> int:
    """UTC YYYYMMDD of an epoch-ms instant (the layout's day partition)."""
    import datetime

    d = datetime.datetime.fromtimestamp(ms / 1000, tz=datetime.timezone.utc)
    return d.year * 10_000 + d.month * 100 + d.day
