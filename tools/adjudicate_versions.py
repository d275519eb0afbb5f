"""Same-window A/B of two source trees on registered queries.

Three rounds of flag adjudication (r8/r9/r10) plus the r11 dd13/txt12s
question all ended the same way: a wall-clock elevation that repeated
across measurement windows was the MACHINE, not the code. The protocol
that settles it — alternating fresh-JVM probes of the two code
versions within one wall-clock session, so both versions sample the
same noise distribution — lives here.

Usage (run from the tree under test; OLD is any other checkout):
    git clone -q . /tmp/old && git -C /tmp/old checkout -q <old-commit>
    python tools/adjudicate_versions.py /tmp/old \
        dd13_substring_decontaminate=/path/to/sf1 \
        txt12s_ccnet_sketch_buckets=/path/to/sf0.1

Each query=sf_dir pair is warmed once, then timed best-of-2 as a
``noop``-sink write of the full result (NOT ``count()``: Catalyst
prunes every column a count does not need, which removes exactly the
scan-adjacent map work most A/B questions are about). Every probe
carries a same-child calibration anchor and the work counters of its
fastest run, codegen compiles included (tools/work_metrics.py). HEAD
and OLD alternate for three round-trips
(``SPARK_GRAFT_ADJUDICATE_TRIPS``). Each probe runs with its own tree
as working directory and ``PYTHONPATH``, so the Python workers import
that tree's code too. Read the output as
per-round-trip normalized ratios: a code regression shows HEAD/old
above the band in EVERY pairing, with the work counters showing what
moved; ratios straddling 1.0 with equal counters are environment.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

_CHILD = r'''
import json, os, sys, time
sys.path.insert(0, os.getcwd())
from lakerunner_spark.session import get_spark
from tools import work_metrics as wm
import __spark_entry__ as m
spark = get_spark(app_name="adjudicate")
qs = m.queries()
pairs = [a.split("=", 1) for a in sys.argv[1:]]
out = {}
def run(name, sf):
    qs[name](spark, sf).write.format("noop").mode("overwrite").save()
def calib():
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        spark.range(2_000_000_000).selectExpr(
            "sum((id % 100003) * 3 + (id % 13))").collect()
        best = min(best, time.perf_counter() - t0)
    return best
for name, sf in pairs:  # warmup pass first (codegen/broadcast)
    run(name, sf)
out["calib"] = round(calib(), 3)
for name, sf in pairs:
    best, work = float("inf"), None
    for _ in range(2):
        cur = wm.cursor(spark)
        t0 = time.perf_counter()
        run(name, sf)
        dt = time.perf_counter() - t0
        if dt < best:
            best = dt
            tot, _ = wm.totals_since(spark, cur) if cur is not None else (None, 0)
            work = wm.compact(tot) if tot else None
    out[f"{name}@{os.path.basename(sf.rstrip('/'))}"] = {
        "wall": round(best, 3), "work": work}
print(json.dumps(out))
'''


def probe(repo: str, pairs: list[str]) -> dict:
    repo = os.path.abspath(repo)
    env = dict(os.environ, PYTHONPATH=repo)
    p = subprocess.run(
        [sys.executable, "-c", _CHILD, *pairs],
        capture_output=True,
        text=True,
        cwd=repo,
        env=env,
    )
    if p.returncode != 0:
        raise RuntimeError(p.stderr[-500:])
    return json.loads(p.stdout.strip().splitlines()[-1])


def main() -> None:
    old_repo = sys.argv[1]
    pairs = sys.argv[2:]
    if not pairs:
        raise SystemExit(__doc__)
    rows = []
    for rt in range(int(os.environ.get("SPARK_GRAFT_ADJUDICATE_TRIPS", "3"))):
        for tag, repo in (("HEAD", "."), ("old", old_repo)):
            r = probe(repo, pairs)
            r["version"], r["rt"] = tag, rt
            rows.append(r)
            print(json.dumps(r), flush=True)
    # per-round-trip normalized HEAD/old ratios
    keys = [k for k in rows[0] if k not in ("calib", "version", "rt")]
    for key in keys:
        ratios = []
        for rt in range(len(rows) // 2):
            h = next(r for r in rows if r["rt"] == rt and r["version"] == "HEAD")
            o = next(r for r in rows if r["rt"] == rt and r["version"] == "old")
            ratios.append(round(
                (h[key]["wall"] / h["calib"]) / (o[key]["wall"] / o["calib"]), 3
            ))
        print(json.dumps({"query": key, "head_over_old_norm": ratios}))


if __name__ == "__main__":
    main()
