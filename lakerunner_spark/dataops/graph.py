"""Distributed connected components for near-duplicate clustering.

The candidates->verify dedup stages (dedup.py) emit *pairs*; turning
pairs into delete lists needs the transitive closure — every doc in a
near-dup cluster maps to one canonical id. This is the step production
dedup pipelines run between pair generation and filtering.

Algorithm: the alternating large-star / small-star scheme (Kiveris et
al., "Connected Components in MapReduce and Beyond", SoCC'14). Each
round rewires the edge list itself — large-star hangs every
strictly-larger neighbor off the neighborhood minimum, small-star
collapses the smaller neighbors onto it — and the fixed point is a
forest of stars whose centers are the component minima. Convergence is
O(log^2 n) rounds regardless of graph shape. We previously ran
min-label (HashMin) propagation, but that is O(diameter) and real
near-dup graphs built from similarity thresholds contain long
random-id chains: on the bench graph HashMin needed 16 rounds (and a
`max_rounds` cliff would silently truncate components); the star
scheme closes it in 6. Pointer-jumping on top of HashMin does NOT fix
this: the propagated label is typically a *local* minimum whose own
label is itself, so label(label(u)) == label(u) and the jump is a
no-op on exactly the chains that hurt.

Scale notes (100 TB): each round is two groupBy-min shuffles plus two
AQE-picked joins over the *edge* table, which only ever shrinks (the
star transforms never add edges beyond the symmetric closure) and is
far smaller than the corpus — only docs with at least one near-dup
pair appear. Each round is materialized with an eager
`localCheckpoint`, which BOTH avoids recomputing prior rounds AND
truncates the logical plan — without lineage truncation the self-joined
plan grows every round and Catalyst re-analysis (constraint
propagation over the upstream candidate-pair expressions) blows up the
driver long before the data does. On a real cluster with executor loss
concerns, pass ``checkpoint_dir=`` (a cluster-FS path) to switch every
round to reliable ``checkpoint()``. Loop control compares a cheap
(count, sum(u), sum(v)) signature between rounds, then confirms the
true fixed point with one exact set comparison before returning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _large_star(d: DataFrame) -> DataFrame:
    """Hang every strictly-larger neighbor off min(closed neighborhood).

    Input/output edges are directed larger→smaller (u > v). Duplicate
    output edges are tolerated — the following small-star groupBy-min
    absorbs them, so no distinct (= no extra shuffle) here.
    """
    s = d.unionByName(d.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = (
        s.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least("mn", F.col("u")).alias("m"))
    )
    return (
        s.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
    )


def _small_star(d: DataFrame) -> DataFrame:
    """Collapse each node's smaller neighbors onto their minimum."""
    mins = d.groupBy("u").agg(F.min("v").alias("m"))
    return (
        d.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .unionByName(mins.select("u", F.col("m").alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


# Below this many distinct edges the transitive closure is solved with
# exact union-find on the driver (one bounded take, ~tens of MB) instead of
# O(log^2 n) distributed rounds, each of which costs 2-3 shuffles plus
# a materialization barrier. The EDGE table here is pairs that survived
# candidate generation + verification — orders of magnitude smaller
# than the corpus — so even 100 TB corpora often land under this. The
# distributed star rounds remain the path for genuinely huge pair sets.
LOCAL_EDGE_THRESHOLD = 500_000


def _local_components(edge_rows) -> list[tuple]:
    """Exact union-find (path compression; roots keep the minimum id).

    Same semantics as the star fixed point: every node labels with the
    min reachable id. Comparison is the ids' natural Python ordering,
    matching greatest/least in the distributed path for both numeric
    and string ids."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    nodes = set()
    for u, v in edge_rows:
        nodes.add(u)
        nodes.add(v)
        ru, rv = find(u), find(v)
        if ru == rv:
            continue
        if rv < ru:
            ru, rv = rv, ru
        parent[rv] = ru  # smaller id becomes the root
    return [(x, find(x)) for x in sorted(nodes)]


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 50,
    local_threshold: int = LOCAL_EDGE_THRESHOLD,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(node, component) for every node in `edges`; component = min
    reachable node id. Small edge sets (post-verify pair tables are
    tiny relative to the corpus) solve exactly on the driver; larger
    ones run the alternating star algorithm — pure DataFrame ops,
    O(log^2 n) rounds (see module docstring).

    ``checkpoint_dir``: when set, per-round materialization uses
    reliable ``checkpoint()`` into that directory (cluster FS) so round
    state survives executor loss — the right mode on a real cluster,
    where losing an executor mid-round would otherwise recompute from a
    lineage this function deliberately truncated. When None (default),
    executor-local ``localCheckpoint`` — cheaper, correct on local mode
    and on clusters where a failed round can simply be re-run.
    """
    if checkpoint_dir is not None:
        edges.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)

    def _materialize(df: DataFrame) -> DataFrame:
        if checkpoint_dir is not None:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=True)

    # Eager checkpoint cuts the (possibly enormous) candidate-pair
    # lineage out of every round's plan; see module docstring.
    e = _materialize(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a") != F.col("b"))
        .select(F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v"))
        .distinct()
    )
    # One bounded action decides the route and fetches the local
    # path's rows: at most local_threshold + 1 edges reach the driver.
    # coalesce(1) keeps it one job: a bare take scans 1 partition, then
    # 4x, then 20x more, and the local path must read them all.
    rows = e.coalesce(1).take(local_threshold + 1)
    if len(rows) <= local_threshold:
        from pyspark.sql import types as T

        rows = [(r["u"], r["v"]) for r in rows]
        schema = T.StructType(
            [
                T.StructField("node", e.schema["u"].dataType),
                T.StructField("component", e.schema["v"].dataType),
            ]
        )
        comps = _local_components(rows)
        sess = e.sparkSession
        # size the slices by the data, not the core count: the default
        # parallelize fans even a 150-row labeling into one near-empty
        # task per core, and every downstream consumer (cluster-size
        # aggregation, delete-list join) inherits that map-task count —
        # measured as pure scheduling overhead at bench scale (r13 #2,
        # guide §2.1). 64k labelings per task keeps the whole local
        # path a couple of tasks up to the threshold.
        n_slices = max(1, min(
            sess.sparkContext.defaultParallelism, 1 + len(comps) // 65536
        ))
        return sess.createDataFrame(
            sess.sparkContext.parallelize(comps, n_slices), schema
        )
    # Decimal sums so huge id spaces can't wrap 64-bit arithmetic into a
    # false signature match.
    sig_aggs = [
        F.count(F.lit(1)),
        F.sum(F.col("u").cast("decimal(38,0)")),
        F.sum(F.col("v").cast("decimal(38,0)")),
    ]
    prev = None
    prev_sig = None
    converged = False
    for _ in range(max_rounds):
        e = _materialize(_small_star(_large_star(e)))
        sig = tuple(e.agg(*sig_aggs).first())
        if sig == prev_sig:
            # Signature collision is theoretically possible; confirm the
            # exact fixed point once (both sides are checkpointed stars,
            # tiny by now).
            if prev is not None and e.exceptAll(prev).unionByName(
                prev.exceptAll(e)
            ).isEmpty():
                converged = True
                break
        prev, prev_sig = e, sig
    if not converged:
        # Returning a non-star edge set would hand nodes MULTIPLE
        # conflicting component labels and delete-lists could then drop
        # canonical keepers — the exact silent-truncation failure this
        # module's docstring criticizes; fail loudly instead. The star
        # scheme converges in O(log^2 n) rounds, so 50 rounds covers any
        # conceivable graph (2^50-scale chains); reaching here means a
        # bug or an adversarial input, not normal data.
        raise RuntimeError(
            f"connected_components: no fixed point after {max_rounds} "
            "rounds; refusing to emit a non-converged labeling"
        )
    # At the fixed point every edge points node→component-min; centers
    # map to themselves.
    return (
        e.select(F.col("u").alias("node"), F.col("v").alias("component"))
        .unionByName(
            e.select(F.col("v").alias("node"), F.col("v").alias("component"))
        )
        .distinct()
    )


def neardup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Cluster verified near-dup pairs: (node, component, cluster_size).

    The canonical keeper of each cluster is `component` (the min id);
    the delete list is every node where node != component.

    The size-attach join is deliberately UNhinted: `sizes` is one row
    per cluster, which at web scale is itself huge (hundreds of
    millions of clusters over a crawl), so a compile-time broadcast
    hint would bypass Spark's size checks. Both sides are keyed on
    `component` and AQE's runtime size check still broadcasts when the
    cluster count actually is small.
    """
    comp = connected_components(pairs, src=id_a, dst=id_b)
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return comp.join(sizes, "component").select(
        "node", "component", "cluster_size"
    )
