"""``connected_components`` picks its route with one bounded action.

``e.take(local_threshold + 1)`` both decides between the driver-side
union-find and the distributed star rounds and, on the local path,
fetches the edges: no separate ``count()`` job, and never more than
``local_threshold + 1`` edges on the driver.
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from lakerunner_spark.dataops import graph

# a chain, a 3-cycle, a reversed duplicate and a self-loop: 33 distinct
# undirected edges once normalised
EDGES = (
    [(i, i + 1) for i in range(30)]
    + [(100, 101), (101, 102), (102, 100)]
    + [(1, 0), (5, 5)]
)
N_EDGES = 33


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    time.sleep(0.5)  # the status listener drains asynchronously
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _labels(df) -> set:
    return {(r.node, r.component) for r in df.collect()}


def _edges(spark):
    return spark.createDataFrame(EDGES, ["src", "dst"])


def test_local_route_runs_one_job_beyond_the_checkpoint(spark):
    edges = _edges(spark)
    # the checkpoint connected_components materializes before routing
    _, ckpt_jobs = _jobs_in_group(
        spark,
        "cc-checkpoint-only",
        lambda: edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .where(F.col("a") != F.col("b"))
        .select(F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v"))
        .distinct()
        .localCheckpoint(eager=True),
    )
    comp, cc_jobs = _jobs_in_group(
        spark, "cc-local-route", lambda: graph.connected_components(edges)
    )
    # count() + collect() ran 3 jobs here (AQE submits count's shuffle
    # stage as its own job); the bounded take runs one
    assert cc_jobs == ckpt_jobs + 1
    assert len(_labels(comp)) == 31 + 3


def test_threshold_boundary_picks_the_route(spark, monkeypatch):
    calls = []
    real = graph._local_components

    def spy(rows):
        calls.append(len(rows))
        return real(rows)

    monkeypatch.setattr(graph, "_local_components", spy)
    edges = _edges(spark)
    local = _labels(graph.connected_components(edges, local_threshold=N_EDGES))
    assert calls == [N_EDGES]  # every edge fetched by the one take
    star = _labels(
        graph.connected_components(edges, local_threshold=N_EDGES - 1)
    )
    assert calls == [N_EDGES]  # the star rounds ran instead
    assert local == star
    want = {(i, 0) for i in range(31)} | {(n, 100) for n in (100, 101, 102)}
    assert local == want
