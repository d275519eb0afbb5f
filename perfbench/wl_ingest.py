"""ingest_otlp: OTLP bytes in -> queryable segments out.

Each op takes one pre-encoded batch (metrics of gauge, sum and
histogram kinds, plus logs), decodes and cooks both families into the
run's own layout, compacts the day's partitions on every third op (the
last batch of each day), and reads back one PromQL and one LogQL total
over the day, which must equal what was generated.
"""

from __future__ import annotations

import os

import numpy as np

import gen
from workload import Workload

TIERS_MS = [10_000, 60_000]
BATCHES_PER_DAY = 3
HOUR_MS = 3_600_000
SHAPE = {"services": 2, "series": 5, "points": 60, "records": 300}
METRIC_LABELS = ["metric_name", "attr_host", "resource_service_name", "chq_metric_type", "bucket_le"]


def _parquet_files(root: str) -> dict[str, int]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


class Ingest(Workload):
    name = "ingest_otlp"
    # the cold op and the first day's other two batches (its compaction
    # included), up to the knee of the curve in curves.json; the timed
    # ops are the second day's three batches
    warm_ops = 3
    ops_per_second = 0.15

    def inputs(self, work: str, seed: int, n_ops: int, digest: gen.Digest) -> None:
        rng = np.random.default_rng(seed)
        self.layout = os.path.join(work, "layout")
        self.batches = []
        for i in range(n_ops):
            b = gen.otlp_batch(rng, i // BATCHES_PER_DAY, i % BATCHES_PER_DAY, **SHAPE)
            mdir, ldir = gen.write_batch(b, os.path.join(work, "in", f"b{i:03d}"), digest)
            self.batches.append((b, mdir, ldir))
        # running per-day totals the read-back must equal after op i
        self.expect = []
        day_tot: dict[int, list[float]] = {}
        for b, _m, _l in self.batches:
            t = day_tot.setdefault(b.day, [0.0, 0])
            t[0] += b.counter_total
            t[1] += b.n_records
            self.expect.append((t[0], t[1]))
        self._files: dict[str, int] = {}

    def prepare(self, ctx) -> None:
        from pyspark.sql import functions as F

        from lakerunner_spark.catalog import layout_metric_catalog
        from lakerunner_spark.ingest.cook import cook_logs, cook_metrics
        from lakerunner_spark.logql.compiler import LogSource, compile_logql
        from lakerunner_spark.maintenance.compaction import (
            compact_segments,
            plan_table_compaction,
        )
        from lakerunner_spark.promql.compiler import compile_promql
        from lakerunner_spark.sources.otel import read_otlp_logs, read_otlp_metrics

        self.F = F
        self.LogSource = LogSource
        self.read_metrics = read_otlp_metrics
        self.read_logs = read_otlp_logs
        self.cook_metrics = ctx.traced("ingest.cook_metrics", cook_metrics, "ingest")
        self.cook_logs = ctx.traced("ingest.cook_logs", cook_logs, "ingest")
        self.plan = ctx.traced("maintenance.plan", plan_table_compaction)
        self.compact = compact_segments
        self.layout_catalog = ctx.traced("catalog.open", layout_metric_catalog)
        self.compile_promql = ctx.traced("promql.compile", compile_promql, "jobs")
        self.compile_logql = ctx.traced("logql.compile", compile_logql, "jobs")
        ctx.trace_parsers()

    def _sources(self, ctx, mdir: str, ldir: str):
        F = self.F
        with ctx.layer("sources", "sources"):
            m = self.read_metrics(ctx.spark, mdir).withColumn(
                "attr_host", F.element_at("attr_values", 1)
            ).drop("attr_keys", "attr_values")
            lg = self.read_logs(ctx.spark, ldir).withColumn(
                "service_identifier", F.col("resource_service_name")
            ).drop("attr_keys", "attr_values")
            if ctx.tracer.enabled:
                # the decode layer on its own, materialized as the
                # caller would get it (traced ops only)
                m.write.format("noop").mode("overwrite").save()
                lg.write.format("noop").mode("overwrite").save()
        return m, lg

    def _total(self, ctx, df) -> float:
        with ctx.layer("exec.run", "exec"):
            rows = df.collect()
        return sum(r["value"] or 0.0 for r in rows)

    def _compact_day(self, ctx, day: str) -> None:
        for family in ("metrics", "logs"):
            tasks = [t for t in self.plan(os.path.join(self.layout, family)) if day in t["dir"]]
            for t in tasks:
                with ctx.layer("maintenance.compact") as s:
                    out = self.compact(ctx.spark, t, family)
                if s is not None:
                    s.counts["maintenance.files_in"] = len(t["files"])
                    s.counts["maintenance.files_out"] = out

    def op(self, i: int, ctx) -> tuple[bool, int]:
        b, mdir, ldir = self.batches[i]
        m, lg = self._sources(ctx, mdir, ldir)
        self.cook_metrics(m, self.layout, tiers_ms=TIERS_MS)
        paths = self.cook_logs(lg, self.layout, incremental=True)
        if i % BATCHES_PER_DAY == BATCHES_PER_DAY - 1:
            self._compact_day(ctx, f"dateint={gen.dateint(b.start_ms)}")
        cat = self.layout_catalog(
            ctx.spark, os.path.join(self.layout, "metrics"), HOUR_MS, METRIC_LABELS,
            available_tiers=TIERS_MS,
        )
        counter = self._total(ctx, self.compile_promql(
            "sum(sum_over_time(bench_requests[1h]))", cat, HOUR_MS,
            start_ms=b.start_ms, end_ms=b.end_ms,
        ))
        with ctx.layer("catalog.open"):
            src = self.LogSource(
                ctx.spark.read.parquet(paths["segments"]), ["service_identifier"], line_col="log_message"
            )
        records = self._total(ctx, self.compile_logql(
            'sum(count_over_time({service_identifier=~".+"}[1h]))', src, HOUR_MS,
            start_ms=b.start_ms, end_ms=b.end_ms,
        ))
        want_counter, want_records = self.expect[i]
        ok = counter == want_counter and records == want_records and want_records > 0
        if not ok:
            ctx.note(f"op {i}: read-back {counter}/{records} != generated {want_counter}/{want_records}")
        return ok, b.n_points + b.n_records

    def kind(self, i: int) -> str:
        return "compact" if i % BATCHES_PER_DAY == BATCHES_PER_DAY - 1 else "cook"

    def before_op(self, i: int, ctx) -> None:
        if ctx.tracer.enabled:
            self._files = _parquet_files(self.layout)

    def after_op(self, i: int, ctx, span) -> None:
        """Files the op left on disk that were not there before it."""
        if span is None:
            return
        now = _parquet_files(self.layout)
        new = [p for p in now if p not in self._files]
        span.counts["writers.files_written"] = len(new)
        span.counts["writers.bytes_written"] = sum(now[p] for p in new)
