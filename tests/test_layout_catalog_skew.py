"""Tier-aware layout catalog through the PromQL front-end + small-scan spread."""

from __future__ import annotations

import pytest
from conftest import jobs_in_group
from pyspark.sql import functions as F

from lakerunner_spark.catalog import layout_metric_catalog
from lakerunner_spark.promql.compiler import compile_promql
from lakerunner_spark.testdata import events_stream


@pytest.fixture(scope="module")
def cooked_metrics(spark, sf_dir, tmp_path_factory):
    """Tiered layout of events-as-metrics (10s + 60s), like test_e2e."""
    from lakerunner_spark.ingest.preagg import preaggregate_metrics
    from lakerunner_spark.ingest.rollup import rollup_tier
    from lakerunner_spark.schema import dateint
    from lakerunner_spark.sources.writers import write_segments

    base = str(tmp_path_factory.mktemp("layout"))
    e = events_stream(spark, sf_dir).select(
        "chq_timestamp",
        F.col("event_type").alias("metric_name"),
        F.col("user_id").cast("string").alias("attr_user"),
        "value",
    )
    t10 = preaggregate_metrics(e, ["metric_name", "attr_user"], value_col="value")
    t60 = rollup_tier(t10, ["metric_name", "attr_user"], 60_000)
    for grain, t in ((10_000, t10), (60_000, t60)):
        out = (
            t.withColumn("org_id", F.lit("org1"))
            .withColumn("dateint", dateint(F.col("chq_timestamp")))
            .withColumn("frequency_ms", F.lit(grain))
        )
        write_segments(out, f"{base}/metrics", "metrics")
    return f"{base}/metrics"


def test_promql_over_layout_matches_raw(spark, sf_dir, cooked_metrics):
    """The same PromQL string over the 60s rollup tier and over raw
    samples must agree (rollup partials compose exactly)."""
    step = 600_000
    q = 'sum by (attr_user) (rate(purchase[30m]))'
    layout_cat = layout_metric_catalog(
        spark, cooked_metrics, step, ["metric_name", "attr_user"],
        available_tiers=[10_000, 60_000],
    )
    got = compile_promql(q, layout_cat, step)

    raw = events_stream(spark, sf_dir).select(
        "chq_timestamp",
        F.col("event_type").alias("metric_name"),
        F.col("user_id").cast("string").alias("attr_user"),
        "value",
    )
    from lakerunner_spark.promql.compiler import LeafSource, MetricCatalog

    raw_cat = MetricCatalog(
        {"purchase": LeafSource(
            raw.filter(F.col("metric_name") == "purchase"),
            ["metric_name", "attr_user"],
        )}
    )
    want = compile_promql(q, raw_cat, step)

    g = {(r.bucket_ts, r.attr_user): round(r.value, 9) if r.value is not None else None
         for r in got.collect()}
    w = {(r.bucket_ts, r.attr_user): round(r.value, 9) if r.value is not None else None
         for r in want.collect()}
    assert g == w and len(g) > 0


def test_layout_rejects_raw_only_functions(spark, cooked_metrics):
    cat = layout_metric_catalog(
        spark, cooked_metrics, 60_000, ["metric_name", "attr_user"],
        available_tiers=[10_000, 60_000],
    )
    with pytest.raises(ValueError, match="raw samples"):
        compile_promql("quantile_over_time(0.9, purchase[10m])", cat, 60_000)
    with pytest.raises(ValueError, match="raw samples"):
        compile_promql("histogram_quantile(0.9, purchase)", cat, 60_000)


def test_coarse_tier_routes_to_sparse_semantics(spark, cooked_metrics):
    """When only a tier coarser than the step survives (retention ate the
    fine tiers), the front-end must use the sparse-cadence range path:
    eff_span = the 60s tier cadence, so coverage completes as soon as
    the kept buckets actually span the range — earlier than the fixed
    frame's first_bucket + range - step gate."""
    from lakerunner_spark.operators.range_agg import range_agg, range_agg_sparse
    from lakerunner_spark.operators.step_agg import step_agg

    step = 10_000
    cat = layout_metric_catalog(
        spark, cooked_metrics, step, ["metric_name", "attr_user"],
        available_tiers=[60_000],
    )
    got = compile_promql("sum_over_time(purchase[5m])", cat, step)

    tier_rows = (
        spark.read.parquet(cooked_metrics)
        .filter((F.col("frequency_ms") == 60_000)
                & (F.col("metric_name") == "purchase"))
    )
    s = step_agg(tier_rows, step, ["metric_name", "attr_user"])
    want_sparse = range_agg_sparse(
        s, "sum_over_time", 300_000, step, ["metric_name", "attr_user"]
    )
    want_fixed = range_agg(
        s, "sum_over_time", 300_000, step, ["metric_name", "attr_user"]
    )

    def to_map(df):
        return {
            (r.bucket_ts, r.attr_user): None if r.value is None else round(r.value, 9)
            for r in df.collect()
        }

    g, ws = to_map(got), to_map(want_sparse)
    assert g == ws and len(g) > 0
    # the fixed frame ungates later on the ramp — routing must have
    # actually changed the result (sum_over_time is ungated on the fixed
    # path, but the sparse path gates on true coverage)
    assert g != to_map(want_fixed)


def test_zipf_fixture_and_dd14_shape_equivalence(spark, tmp_path):
    """tools/measure_skew.py's zipf corpus: the banner chunks must be
    genuine corpus-global hot keys (multiplicity = the hot doc slice,
    orders of magnitude above the organic tail), and dd14's shipped
    groupBy+join shape must return exactly the window shape's rows —
    the harness times SHAPES of one computation, not two computations."""
    from tools.measure_skew import HOT_LT, HOT_MOD, _shapes, make_skew

    dst = make_skew("/root/testdata/sf0.001", str(tmp_path / "skew"),
                    replicas=2)
    keyed, shapes = _shapes(spark, dst)
    k = keyed()
    from pyspark.sql import functions as F

    hot = (
        k.groupBy("h").agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc()).limit(5).collect()
    )
    n_docs = k.select("doc_id").distinct().count()
    expect_hot = sum(
        1 for r in k.select("doc_id").distinct().collect()
        if (r["doc_id"] % 1_000_000_000) % HOT_MOD < HOT_LT
    )
    # 4 banner chunks, each carried by every hot doc exactly once
    assert [r["n"] for r in hot[:4]] == [expect_hot] * 4
    assert hot[4]["n"] < expect_hot / 10  # organic tail is far behind
    assert expect_hot / n_docs == pytest.approx(HOT_LT / HOT_MOD, abs=0.05)
    a = {tuple(r) for r in shapes["groupby"]().collect()}
    b = {tuple(r) for r in shapes["window"]().collect()}
    assert a == b


def test_spread_small_scan_sizes_target_by_scan_rows(spark, sf_dir):
    """r13 #1: the spread's repartition target is ceil(rows /
    rows_per_part) capped at defaultParallelism — a tiny scan stays
    un-spread (no exchange at all), a medium one gets a couple of
    tasks, and only a scan with a core's worth of rows per task fans
    fully (the r12 behavior, which cost +93% main-section tasks at
    bench scale for near-empty task fan-outs)."""
    from lakerunner_spark.operators.skew import scan_rows, spread_small_scan

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert scan_rows(docs) == 500
    # 500 rows / 1536-per-part -> target 1 <= current 1: NO-OP (same plan)
    assert spread_small_scan(docs).rdd.getNumPartitions() == 1
    assert "Exchange" not in spread_small_scan(docs)._jdf.queryExecution(
    ).executedPlan().toString()
    # explicit small batch -> sized fan-out, NOT the full core count
    assert spread_small_scan(docs, rows_per_part=100).rdd.getNumPartitions() == 5
    # rows unknowable (derived/in-memory relation) -> NO-OP: the spread
    # is a small-FILE-SCAN remedy; whoever produced a derived relation
    # already chose its partitioning. (The earlier cap-only fallback
    # blind-fanned txt13's rebuilt corpus to every core — sf1 x2.06
    # normalized, +387MB sf10 shuffle — and re-fanned sim8's already
    # sized checkpointed corpus inside every member operator; both
    # caught by the r13 full-bench work diff.)
    local = spark.createDataFrame([(1, "a")], "id long, t string").coalesce(1)
    assert scan_rows(local) is None
    spread = spread_small_scan(local)
    assert spread.rdd.getNumPartitions() == 1
    assert "Exchange" not in spread._jdf.queryExecution(
    ).executedPlan().toString()


def test_spread_small_scan_keeps_floor_when_rows_unknown(spark, sf_dir, monkeypatch):
    """A scan whose rows cannot be known (more than 64 files, object
    store) still gets ds12's ``floor`` exchange, its reuse boundary;
    with the default floor it stays un-spread."""
    from lakerunner_spark.operators import skew

    monkeypatch.setattr(skew, "scan_rows", lambda df: None)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert docs.rdd.getNumPartitions() == 1

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    assert "RoundRobinPartitioning(2)" in plan(skew.spread_small_scan(docs, floor=2))
    assert "Exchange" not in plan(skew.spread_small_scan(docs, floor=1))


def test_spread_small_scan_rejects_bad_batch_before_any_probe(spark, sf_dir):
    """A ``rows_per_part`` below 1 is a caller error, raised before the
    spread looks at the plan: no path may reach the ``.rdd`` partition
    probe without the scan-likeness gate, because building the RDD of
    a broadcast-join plan runs the broadcast."""
    from lakerunner_spark.operators.skew import spread_small_scan

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ids = spark.range(10).withColumnRenamed("id", "doc_id")
    join = docs.select("doc_id", "text").join(
        F.broadcast(ids), "doc_id", "left_semi"
    )

    def bad_batch():
        with pytest.raises(ValueError, match="rows_per_part"):
            spread_small_scan(join, rows_per_part=0)

    _, jobs = jobs_in_group(spark, bad_batch)
    assert jobs == 0


def test_cc_local_path_slices_by_volume(spark):
    """r13 #2: the union-find local path parallelizes its labeling by
    data volume, not core count — a 4-edge graph must not fan to
    defaultParallelism near-empty tasks (every downstream consumer
    inherits the map-task count)."""
    from lakerunner_spark.dataops.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (12, 12)], "src long, dst long"
    )
    comp = connected_components(edges)
    assert comp.rdd.getNumPartitions() == 1
    got = {(r["node"], r["component"]) for r in comp.collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}
