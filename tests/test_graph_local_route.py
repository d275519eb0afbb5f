"""``connected_components`` picks its route with one bounded action.

``e.coalesce(1).take(local_threshold + 1)`` both decides between the
driver-side union-find and the distributed star rounds and, on the
local path, fetches the edges: no separate ``count()`` job, and never
more than ``local_threshold + 1`` edges on the driver. The
``coalesce(1)`` keeps it one job however many partitions the edge
checkpoint has: a bare ``take`` scans one partition, then 4x, then 20x
more, and the local path has to read them all.
"""

from __future__ import annotations

from conftest import jobs_in_group
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


def _labels(df) -> set:
    return {(r.node, r.component) for r in df.collect()}


def _edges(spark):
    return spark.createDataFrame(EDGES, ["src", "dst"])


def _checkpoint(edges):
    """The edge checkpoint connected_components materializes before
    routing."""
    return (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .where(F.col("a") != F.col("b"))
        .select(F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )


def test_local_route_runs_one_job_beyond_the_checkpoint(spark):
    edges = _edges(spark)
    _, ckpt_jobs = jobs_in_group(spark, lambda: _checkpoint(edges))
    comp, cc_jobs = jobs_in_group(
        spark, lambda: graph.connected_components(edges)
    )
    # count() + collect() ran 3 jobs here (AQE submits count's shuffle
    # stage as its own job); the bounded take runs one
    assert cc_jobs == ckpt_jobs + 1
    assert len(_labels(comp)) == 31 + 3


def test_many_partition_checkpoint_still_routes_in_one_job(spark):
    # without partition coalescing the distinct leaves the checkpoint
    # with spark.sql.shuffle.partitions partitions
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    edges = _edges(spark)
    try:
        ckpt, ckpt_jobs = jobs_in_group(spark, lambda: _checkpoint(edges))
        comp, cc_jobs = jobs_in_group(
            spark, lambda: graph.connected_components(edges)
        )
    finally:
        spark.conf.set(key, old)
    assert ckpt.rdd.getNumPartitions() >= 4
    # a bare take ran 2 jobs on 4 partitions and 3 on 8
    assert cc_jobs == ckpt_jobs + 1
    pairs = {(max(a, b), min(a, b)) for a, b in EDGES if a != b}
    assert _labels(comp) == set(graph._local_components(sorted(pairs)))


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
