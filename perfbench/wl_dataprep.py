"""The data-prep queries of the ``query`` workload (``wl_query``):
registered data-prep queries, materialized as the
caller gets them (a ``noop`` sink, never ``count()``, which Catalyst
would prune).

A fixed rotation of executor-bound queries over a seeded ``documents``
table. Before the clock, each query's DuckDB ``oracle_sql()`` must give
a non-empty answer on the generated data. The first warm round collects
each query's full Spark result and compares it with that answer (once
per run, never in a timed op); a mismatch fails every timed op of that
query.
"""

from __future__ import annotations

import math
import os

import duckdb

import gen
from workload import Workload

N_DOCS = 300
ROTATION = (
    "dd10_dedup_pipeline",
    "dd2_minhash_lsh",
    "mm1_byte_histogram",
)


def _norm(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, float) and v == int(v) and abs(v) < 2**53:
        return float(v)
    return v


def rows(df) -> list[tuple]:
    """Order-insensitive, column-order-insensitive row list."""
    df = df[sorted(df.columns)]
    out = [tuple(_norm(v) for v in r) for r in df.itertuples(index=False)]
    return sorted(out, key=lambda r: tuple((x is None, str(type(x)), x) for x in r))


def same(spark_pdf, oracle_pdf) -> bool:
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns) or len(spark_pdf) != len(oracle_pdf):
        return False
    return rows(spark_pdf) == rows(oracle_pdf)


class DataPrep(Workload):
    def inputs(self, work: str, seed: int, n_ops: int, digest: gen.Digest) -> None:
        import __spark_entry__ as entry

        self.sf = os.path.join(work, "sf")
        gen.write_tables(self.sf, seed, {"documents": N_DOCS}, digest)
        self.queries = entry.queries()
        self.oracle_sql = entry.oracle_sql()
        self.plan = [ROTATION[i % len(ROTATION)] for i in range(n_ops)]
        self.oracle = {}
        con = duckdb.connect()
        try:
            con.execute(
                f"CREATE VIEW documents AS SELECT * FROM read_parquet('{self.sf}/documents.parquet')"
            )
            for name in ROTATION:
                self.oracle[name] = con.execute(self.oracle_sql[name]).df()
                if self.oracle[name].empty:
                    raise RuntimeError(f"{name}: empty expected result on these inputs")
        finally:
            con.close()
        self.timed: dict[str, list[int]] = {}
        self.wrong: set[str] = set()

    def op(self, i: int, ctx) -> tuple[bool, int]:
        name = self.plan[i]
        if i < len(ROTATION):
            return self._check(name, ctx), N_DOCS
        self.timed.setdefault(name, []).append(i)
        with ctx.layer("dataops.build", "jobs"):
            df = self.queries[name](ctx.spark, self.sf)
        if ctx.tracer.enabled:
            with ctx.layer("exec.plan"):
                df._jdf.queryExecution().executedPlan()
        with ctx.layer("exec.run", "exec"):
            df.write.format("noop").mode("overwrite").save()
        return True, N_DOCS

    def kind(self, i: int) -> str:
        return self.plan[i]

    def _check(self, name: str, ctx) -> bool:
        """The first warm round: the full Spark result of each query,
        compared with its DuckDB oracle (untimed: set-up, not an op)."""
        got = self.queries[name](ctx.spark, self.sf).toPandas()
        if same(got, self.oracle[name]):
            return True
        ctx.note(f"{name}: Spark result differs from oracle_sql()")
        self.wrong.add(name)
        return False

    def finish(self, ctx) -> set[int]:
        """Timed ops of a query whose checked result was wrong."""
        return {i for name in self.wrong for i in self.timed.get(name, [])}
