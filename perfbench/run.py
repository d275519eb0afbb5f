"""End-to-end benchmark of the lakerunner_spark engine.

    python3 perfbench/run.py --workload <ingest_otlp|query>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One process runs one closed-loop
workload with a single client on ``local[<cpus>]``:

1. inputs are generated from ``--seed`` (before any clock starts) and
   their digest is printed, so two runs can be shown to have fed
   identical work;
2. the set-up clock runs from here: Spark session start, program-side
   set-up, and a fixed count of untimed warm ops (the same on every
   run, chosen from the per-repetition curves in ``curves.json``);
3. a fixed count of timed ops (``--seconds`` x the workload's nominal
   ops per second, so the same work on every run); each op's output is
   checked, and a raise or a wrong output counts as failed;
4. untimed end-of-run checks, ``# name = value unit`` lines for every
   end-to-end figure, then one JSON line.

With ``--trace 0`` the JSON carries the end-to-end metrics; with
``--trace 1`` every other timed op is traced and the JSON
carries the per-layer metrics (spans are written to
``.perfbench/spans/<workload>-seed<n>/spans.jsonl``). Every file the
run writes stays under ``.perfbench`` in the checkout; the run's own
directory is removed at exit. ``NOTES.md`` defines every metric.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import stats  # noqa: E402
from spans import SparkWork, Tracer  # noqa: E402

CPUS = len(os.sched_getaffinity(0))
DRIVER_MEMORY = "2g"


def calibrate_ms() -> float:
    """A fixed CPU-bound loop: the host's speed at this moment
    (diagnostic only; nothing is normalized by it)."""
    t = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i % 7
    return (time.perf_counter() - t) * 1000.0


class Ctx:
    """What a workload's op needs: the session, the tracer and the
    Spark-work reader."""

    def __init__(self, spark, tracer: Tracer, trace: bool) -> None:
        self.spark = spark
        self.tracer = tracer
        self.work = SparkWork(spark) if trace else None

    def note(self, msg: str) -> None:
        print(f"# {msg}", file=sys.stderr, flush=True)

    @contextlib.contextmanager
    def layer(self, name: str, work: str | None = None):
        """A span named ``name``. ``work="jobs"`` counts the Spark jobs
        started inside it as ``<name>_jobs``; ``work="<prefix>"`` adds
        every stage/SQL counter as ``<prefix>.<counter>``. The status
        store is read after the span closes, under a ``trace.read``
        span, so the reading cost is visible and never billed to the
        layer."""
        with self.tracer.span(name) as s:
            mark = self.work.mark() if s is not None and work else None
            yield s
        if mark is None:
            return
        if work == "jobs":
            s.counts[f"{name}_jobs"] = self.work.mark()[0] - mark[0]
            return
        with self.tracer.span("trace.read"):
            for k, v in self.work.since(mark).items():
                s.counts[f"{work}.{k}"] = v

    def traced(self, name: str, fn, work: str | None = None):
        """``fn`` under ``layer(name, work)`` in trace runs; ``fn``
        itself otherwise."""
        if self.work is None:
            return fn

        def call(*a, **kw):
            with self.layer(name, work):
                return fn(*a, **kw)

        call.__wrapped__ = fn
        return call

    def patch(self, module, attr: str, name: str, work: str | None = None) -> None:
        """Trace a function the engine calls through a module global
        (e.g. the parser a compiler calls); trace runs only."""
        setattr(module, attr, self.traced(name, getattr(module, attr), work))

    def trace_parsers(self) -> None:
        from lakerunner_spark.logql import compiler as logql_compiler
        from lakerunner_spark.promql import compiler as promql_compiler

        self.patch(promql_compiler, "parse_promql", "promql.parse")
        self.patch(logql_compiler, "parse_logql", "logql.parse")


def make_workload(name: str):
    if name == "ingest_otlp":
        from wl_ingest import Ingest

        return Ingest()
    if name == "query":
        from wl_query import Query

        return Query()
    raise SystemExit(f"unknown workload {name!r}")


def peak_rss_mb(spark) -> float:
    """Peak RSS of the driver JVM plus this Python process."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def isolate(run_dir: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    the run's directory, and let Spark's Python workers import the
    engine."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ.pop("SPARK_GRAFT_DF_DEBUGGING", None)
    os.environ.pop("SPARK_GRAFT_CONSOLE_PROGRESS", None)


def start_spark(run_dir: str):
    from lakerunner_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM (and with it the
    Python workers it forked) to exit: the JVM leaves when its stdin
    pipe closes."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_op(wl, i: int, ctx) -> tuple[str | None, bool, int]:
    """(error, output ok, input records) of op ``i``. A raise is
    recorded, not propagated: a failed op counts, the run goes on."""
    try:
        ok, n = wl.op(i, ctx)
        return None, ok, n
    except Exception:  # noqa: BLE001 - counted in failed, reported on stderr
        err = traceback.format_exc(limit=3)
        ctx.note(f"op {i} raised:\n{err}")
        return err, False, 0


def run(args) -> dict:
    if not os.path.isdir(os.path.join(ROOT, "lakerunner_spark")):
        raise SystemExit(f"no lakerunner_spark package under {ROOT}")
    wl = make_workload(args.workload)
    n_warm = wl.warm_ops if args.warm_ops is None else args.warm_ops
    n_timed = args.timed_ops or max(1, round(args.seconds * wl.ops_per_second))

    out_dir = os.path.join(ROOT, ".perfbench", "spans", f"{args.workload}-seed{args.seed}")
    run_dir = os.path.join(ROOT, ".perfbench", "run", str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    isolate(run_dir)

    tracer = Tracer(enabled=False)  # switched on per traced timed op
    spark = None
    try:
        digest = gen.Digest()
        wl.inputs(os.path.join(run_dir, "work"), args.seed, n_warm + n_timed, digest)
        print(f"# {args.workload} seed={args.seed} inputs sha256:{digest.hexdigest()} "
              f"warm_ops={n_warm} timed_ops={n_timed}", flush=True)

        env0 = (calibrate_ms(), os.getloadavg()[0])
        t_setup = time.perf_counter()
        spark = start_spark(run_dir)
        session_s = time.perf_counter() - t_setup
        ctx = Ctx(spark, tracer, bool(args.trace))
        wl.prepare(ctx)
        t_warm = time.perf_counter()
        outcomes = stats.Outcomes()
        warm_lat = []
        for i in range(n_warm):
            t = time.perf_counter()
            err, ok, _n = run_op(wl, i, ctx)
            warm_lat.append(time.perf_counter() - t)
            if err is not None or not ok:
                outcomes.record(i, err, ok)  # a broken warm op still counts as failed
        # start the timed phase from the same heap state on every run
        spark.sparkContext._jvm.System.gc()
        gc.collect()
        setup_end = time.perf_counter()
        setup_s = setup_end - t_setup

        lat, traced_lat, plain_lat, records = [], {}, {}, 0
        traced_ops: list[int] = []
        t0 = time.perf_counter()
        for j in range(n_timed):
            i = n_warm + j
            # trace every other timed op: with these rotations (odd
            # lengths) every op kind then has traced and untraced
            # samples, and the ingest compaction op is traced
            on = bool(args.trace) and j % 2 == 0
            tracer.enabled = on
            tracer.op = i if on else None
            wl.before_op(i, ctx)
            t = time.perf_counter()
            with tracer.span("op") as root:
                err, ok, n = run_op(wl, i, ctx)
            dt = time.perf_counter() - t
            wl.after_op(i, ctx, root)
            outcomes.record(i, err, ok)
            records += n if err is None else 0
            lat.append(dt)
            (traced_lat if on else plain_lat).setdefault(wl.kind(i), []).append(dt)
            if on:
                traced_ops.append(i)
        timed_wall = time.perf_counter() - t0
        tracer.enabled = False

        outcomes.mark_wrong(wl.finish(ctx))
        env1 = (calibrate_ms(), os.getloadavg()[0])
        rss = peak_rss_mb(spark)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted, failed = outcomes.attempted, outcomes.failed
    e2e = {
        name: (value, E2E_UNITS[name])
        for name, value in (
            ("setup_s", setup_s),
            ("op_p50_ms", statistics.median(lat) * 1000.0),
            ("throughput_per_s", n_timed / timed_wall),
            ("events_per_s", records / timed_wall),
        )
    }
    # peak RSS repeats only within about +-20% between runs (JVM heap
    # growth follows GC timing), so it is a per-layer figure
    extra = {"fail_ratio": (failed / attempted, "ratio"), "peak_rss_mb": (rss, "MB")}
    if stats.reportable(len(lat), 90):
        extra["op_p90_ms"] = (stats.percentile(lat, 90) * 1000.0, "ms")
    for k, (v, u) in {**e2e, **extra}.items():
        print(f"# {k} = {v:.6g} {u}", flush=True)
    print(f"# timed ops={len(lat)} latencies_ms={[round(x * 1000, 1) for x in lat]}", flush=True)
    print(f"# warm latencies_ms={[round(x * 1000, 1) for x in warm_lat]}", flush=True)
    print(f"# env calib_ms={env0[0]:.1f}->{env1[0]:.1f} loadavg={env0[1]:.2f}->{env1[1]:.2f}", flush=True)

    if args.trace:
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, "spans.jsonl"))
        print(f"# spans written to {os.path.relpath(out_dir, ROOT)}/spans.jsonl", flush=True)
        metrics = layer_metrics(
            tracer, traced_ops, session_s, setup_end - t_warm, env0, env1,
            traced_lat, plain_lat,
        )
        metrics["peak_rss_mb"] = (rss, "MB")
    else:
        metrics = e2e
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


E2E_UNITS = {"setup_s": "s", "op_p50_ms": "ms", "throughput_per_s": "1/s", "events_per_s": "1/s"}

# per-layer time metric (ms per traced op) -> the span whose self time it is
LAYER_TIMES = {
    "sources.decode_ms": "sources",
    "ingest.cook_metrics_ms": "ingest.cook_metrics",
    "ingest.cook_logs_ms": "ingest.cook_logs",
    "maintenance.plan_ms": "maintenance.plan",
    "maintenance.compact_ms": "maintenance.compact",
    "catalog.open_ms": "catalog.open",
    "promql.parse_ms": "promql.parse",
    "promql.compile_ms": "promql.compile",
    "logql.parse_ms": "logql.parse",
    "logql.compile_ms": "logql.compile",
    "api.handle_ms": "api.handle",
    "api.render_ms": "api.render",
    "dataops.build_ms": "dataops.build",
    "exec.plan_ms": "exec.plan",
    "exec.run_ms": "exec.run",
}
# per-layer count metric (per traced op) -> (unit, span counter(s) summed)
LAYER_COUNTS = {
    "sources.decode_rows": ("count", "sources.python_rows"),
    "sources.python_ms": ("ms", "sources.python_ms"),
    "ingest.tasks": ("count", "ingest.tasks"),
    "ingest.shuffle_write_bytes": ("bytes", "ingest.shuffle_write_bytes"),
    "ingest.spill_bytes": ("bytes", "ingest.spill_bytes"),
    "writers.files_written": ("count", "writers.files_written"),
    "writers.bytes_written": ("bytes", "writers.bytes_written"),
    "maintenance.files_in": ("count", "maintenance.files_in"),
    "maintenance.files_out": ("count", "maintenance.files_out"),
    "promql.compile_jobs": ("count", "promql.compile_jobs"),
    "logql.compile_jobs": ("count", "logql.compile_jobs"),
    "api.response_bytes": ("bytes", "api.response_bytes"),
    "dataops.build_jobs": ("count", "dataops.build_jobs"),
    "exec.tasks": ("count", "exec.tasks"),
    "exec.stages": ("count", "exec.stages"),
    "exec.input_rows": ("count", "exec.input_rows"),
    "exec.shuffle_bytes": ("bytes", ("exec.shuffle_read_bytes", "exec.shuffle_write_bytes")),
    "exec.spill_bytes": ("bytes", "exec.spill_bytes"),
    "exec.python_ms": ("ms", "exec.python_ms"),
    "exec.gc_ms": ("ms", "exec.gc_ms"),
}


def overhead_pct(traced: dict[str, list[float]], plain: dict[str, list[float]]) -> float:
    """Traced versus untraced op wall time: the median over op kinds
    of (median traced latency / median untraced latency), as a percent
    above 1. Kinds without both samples are skipped."""
    ratios = [
        statistics.median(traced[k]) / statistics.median(plain[k])
        for k in traced if k in plain
    ]
    return (statistics.median(ratios) - 1.0) * 100.0 if ratios else 0.0


def layer_metrics(tracer, ops, session_s, warm_s, env0, env1, traced_lat, plain_lat) -> dict:
    """Per-layer record: layer self times and counters as per-op means
    over the traced ops, plus set-up parts and diagnostics."""
    n = max(1, len(ops))
    times = tracer.layer_totals()
    counts = tracer.counts()
    out = {
        "session.start_s": (session_s, "s"),
        "setup.warm_s": (warm_s, "s"),
    }
    for metric, span in LAYER_TIMES.items():
        out[metric] = (times.get(span, 0.0) * 1000.0 / n, "ms")
    for metric, (unit, keys) in LAYER_COUNTS.items():
        keys = keys if isinstance(keys, tuple) else (keys,)
        out[metric] = (sum(counts.get(k, 0.0) for k in keys) / n, unit)
    out["env.calib_ms"] = ((env0[0] + env1[0]) / 2, "ms")
    out["env.loadavg"] = ((env0[1] + env1[1]) / 2, "load")
    out["trace.overhead_pct"] = (overhead_pct(traced_lat, plain_lat), "%")
    out["trace.coverage_pct"] = (tracer.coverage() * 100.0, "%")
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # tuning only (per-repetition curves); the benchmark never passes these
    p.add_argument("--warm-ops", type=int, default=None)
    p.add_argument("--timed-ops", type=int, default=None)
    args = p.parse_args(argv)
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
