"""Steadiness and warm-up evidence for the benchmark.

    python3 perfbench/steady.py spread --workload query --seeds 1-10 [--trace 0]
    python3 perfbench/steady.py curve  --workload query --ops 66 [--seed 1]

``spread`` runs the benchmark once per seed, one run at a time, and
reports for every metric its median, quartiles (as
``statistics.quantiles(values, n=4)`` gives them), the quartile
distance as a share of the median, and the max/min spread; it also
records each run's wall time. ``curve`` runs one process with no warm
ops and prints the latency of every op in order: the per-repetition
curve the warm-op counts are chosen from. Results are appended, one
JSON object a line, to the file given by ``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402


def seeds(spec: str) -> list[int]:
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in spec.split(",")]


def one_run(workload: str, seed: int, seconds: int, trace: int, extra=()) -> tuple[dict, str, float]:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace), *extra]
    t = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t
    if p.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {p.returncode}:\n{p.stderr[-2000:]}")
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), p.stdout, wall


def spread(args) -> dict:
    runs, walls, lats, calib = [], [], [], []
    for s in seeds(args.seeds):
        res, out, wall = one_run(args.workload, s, args.seconds, args.trace)
        runs.append(res)
        walls.append(wall)
        lats.append(json.loads(re.search(r"timed ops=\d+ latencies_ms=(\[.*\])", out).group(1)))
        calib.append([float(x) for x in re.search(r"calib_ms=([0-9.]+)->([0-9.]+)", out).groups()])
        vals = {k: round(v["value"], 4) for k, v in res["metrics"].items()}
        print(f"seed {s}: wall {wall:.1f}s correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']} {vals}", flush=True)
    summary = {}
    for k in runs[0]["metrics"]:
        summary[k] = stats.spread([r["metrics"][k]["value"] for r in runs])
    summary["wall_s"] = stats.spread(walls)
    # the host's own speed over the same runs (a fixed Python loop)
    summary["env.calib_ms"] = stats.spread([(a + b) / 2 for a, b in calib])
    for k, v in summary.items():
        print(f"{k:28s} median {v['median']:12.4f}  q1 {v['q1']:12.4f}  q3 {v['q3']:12.4f}  "
              f"iqr/median {v['iqr_share']:.3f}  (max-min)/median {v['range_share']:.3f}")
    return {
        "kind": "spread", "workload": args.workload, "seeds": args.seeds,
        "seconds": args.seconds, "trace": args.trace, "when": time.strftime("%Y-%m-%dT%H:%MZ", time.gmtime()),
        "all_correct": all(r["correct"] for r in runs), "summary": summary,
        "runs": [{k: v["value"] for k, v in r["metrics"].items()} for r in runs],
        "walls_s": walls, "op_latencies_ms": lats, "calib_ms_start_end": calib,
    }


def curve(args) -> dict:
    _res, out, wall = one_run(args.workload, args.seed, args.seconds, 0,
                              ("--warm-ops", "0", "--timed-ops", str(args.ops)))
    m = re.search(r"timed ops=\d+ latencies_ms=(\[.*\])", out)
    lat = json.loads(m.group(1))
    print(f"{args.workload} seed {args.seed} ({wall:.0f}s): {lat}")
    return {"kind": "curve", "workload": args.workload, "seed": args.seed,
            "when": time.strftime("%Y-%m-%dT%H:%MZ", time.gmtime()), "latencies_ms": lat}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("mode", choices=("spread", "curve"))
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--ops", type=int, default=40)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--out", default=None)
    args = p.parse_args()
    rec = spread(args) if args.mode == "spread" else curve(args)
    if args.out:
        with open(args.out, "a") as f:
            f.write(json.dumps(rec) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
