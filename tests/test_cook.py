"""One-call cook API: raw rows -> queryable cooked layout end-to-end,
then the full §3.1 lifecycle (string -> tier-routed plan -> result)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lakerunner_spark.catalog import layout_metric_catalog
from lakerunner_spark.ingest.cook import cook_logs, cook_metrics
from lakerunner_spark.promql.compiler import compile_promql
from lakerunner_spark.testdata import events_stream


@pytest.fixture(scope="module")
def raw_metrics(spark, sf_dir):
    return events_stream(spark, sf_dir).select(
        "chq_timestamp",
        F.col("event_type").alias("metric_name"),
        F.col("user_id").cast("string").alias("attr_user"),
        "value",
    )


def test_cook_metrics_then_promql_lifecycle(spark, raw_metrics, tmp_path):
    base = str(tmp_path / "cooked")
    tiers = cook_metrics(
        raw_metrics, base, org_id="t1", tiers_ms=[10_000, 60_000, 300_000]
    )
    assert tiers == [10_000, 60_000, 300_000]

    # full lifecycle: query STRING -> tier pick (300s divides 600s) -> plan
    step = 600_000
    cat = layout_metric_catalog(
        spark, f"{base}/metrics", step,
        ["metric_name", "attr_user"], available_tiers=tiers,
    )
    got = compile_promql("sum by (attr_user) (increase(error[30m]))", cat, step)

    # ground truth from raw rows
    from lakerunner_spark.promql.compiler import LeafSource, MetricCatalog

    raw_cat = MetricCatalog(
        {"error": LeafSource(
            raw_metrics.filter(F.col("metric_name") == "error"),
            ["metric_name", "attr_user"],
        )}
    )
    want = compile_promql("sum by (attr_user) (increase(error[30m]))", raw_cat, step)

    g = {(r.bucket_ts, r.attr_user): None if r.value is None else round(r.value, 9)
         for r in got.collect()}
    w = {(r.bucket_ts, r.attr_user): None if r.value is None else round(r.value, 9)
         for r in want.collect()}
    assert g == w and g


def test_cook_logs_companions(spark, sf_dir, tmp_path):
    e = events_stream(spark, sf_dir)
    logs = e.select(
        "chq_timestamp",
        (F.col("chq_timestamp") * 1_000_000).alias("chq_tsns"),
        F.concat(F.col("event_type"), F.lit(" user="), F.col("user_id")).alias(
            "log_message"
        ),
        F.col("event_type").alias("log_level"),
        F.col("event_type").alias("service_identifier"),
    )
    paths = cook_logs(logs, str(tmp_path / "cooked"), org_id="t1")
    seg = spark.read.parquet(paths["segments"])
    agg = spark.read.parquet(paths["agg"])
    idx = spark.read.parquet(paths["index"])
    assert seg.count() == logs.count()
    assert {"agg_bucket", "log_level", "chq_fingerprint", "agg_count"} <= set(
        agg.columns
    )
    assert {"segment_key", "fingerprint"} == set(idx.columns)
    # agg table counts sum to the segment row count
    assert agg.agg(F.sum("agg_count")).first()[0] == seg.count()


def test_cook_metrics_rejects_missing_10s(raw_metrics, tmp_path):
    with pytest.raises(ValueError, match="10s"):
        cook_metrics(raw_metrics, str(tmp_path / "x"), tiers_ms=[60_000])


def test_cook_logs_incremental_matches_rebuild(spark, sf_dir, tmp_path):
    """Two incremental batches must answer the agg route identically to
    one full-rebuild cook over the same rows (append-built companions:
    consumers re-sum agg_count / distinct the index)."""
    from lakerunner_spark.ingest.cook import cook_logs
    from lakerunner_spark.plans.aggfile import route_count_query
    from lakerunner_spark.testdata import events_stream

    e = events_stream(spark, sf_dir).limit(2000).withColumnRenamed(
        "props", "log_message"
    ).withColumn("service_identifier", F.col("event_type"))
    b1 = e.filter(F.col("event_id") % 2 == 0)
    b2 = e.filter(F.col("event_id") % 2 == 1)

    inc = str(tmp_path / "inc")
    cook_logs(b1, inc, incremental=True)
    cook_logs(b2, inc, incremental=True)

    full = str(tmp_path / "full")
    cook_logs(e, full)

    def agg_counts(base):
        agg = spark.read.parquet(f"{base}/logs_agg")
        dims = [c for c in agg.columns if c not in ("agg_bucket", "agg_count")]
        df, used = route_count_query(None, agg, dims, 600_000, [])
        assert used
        return {r["bucket_ts"]: r["count"] for r in df.collect()}

    assert agg_counts(inc) == agg_counts(full)


def test_cook_metrics_sketch_column_interop(spark, tmp_path):
    """sketch_accuracy wires the chq_sketch BINARY column through the
    cascade: every tier's rollup rows carry wire-format blobs that the
    reference-artifact decode path reads back to the EXACT per-bucket
    distribution of that row's raw samples — including mixed signs,
    zeros, and a NULL attribute value (the null-safe join must not
    drop that series' sketch)."""
    import math

    from lakerunner_spark.operators.ddsketch import (
        _NEG_BASE,
        _ZERO_BUCKET,
        gamma_for,
    )
    from lakerunner_spark.sources.chq_sketch import decode_chq_sketch

    rows = []
    for i in range(240):
        v = 0.0 if i % 40 == 0 else ((i * 37) % 83 - 41) / 3.0
        attr = None if i % 3 == 0 else f"u{i % 2}"
        rows.append((int(i // 12) * 1000, "m", attr, v))
    raw = spark.createDataFrame(
        rows, "chq_timestamp long, metric_name string, attr_u string, value double"
    )
    base = str(tmp_path / "cooked_sk")
    cook_metrics(
        raw, base, org_id="t", tiers_ms=[10_000, 20_000],
        sketch_accuracy=0.01,
    )
    gamma = gamma_for(0.01)
    lg = math.log(gamma)

    def want_buckets(vals):
        out = {}
        for v in vals:
            if v == 0:
                b = _ZERO_BUCKET
            elif v > 0:
                b = math.ceil(math.log(v) / lg)
            else:
                b = _NEG_BASE - math.ceil(math.log(-v) / lg)
            out[b] = out.get(b, 0.0) + 1.0
        return out

    seg = spark.read.parquet(f"{base}/metrics")
    for grain in (10_000, 20_000):
        got = seg.filter(seg.frequency_ms == grain).collect()
        assert got
        for r in got:
            assert r.chq_sketch is not None
            sk = decode_chq_sketch(bytes(r.chq_sketch))
            back = {i + 1: c for i, c in sk["pos"].items()}
            if sk["zero_count"]:
                back[_ZERO_BUCKET] = sk["zero_count"]
            back.update(
                {_NEG_BASE - (i + 1): c for i, c in sk["neg"].items()}
            )
            vals = [
                v
                for ts, m, a, v in rows
                if ts - ts % grain == r.chq_timestamp
                and (a == r.attr_u or (a is None and r.attr_u is None))
            ]
            assert back == want_buckets(vals), (grain, r.chq_timestamp, r.attr_u)
        # the NULL-attr series kept its sketch through the null-safe join
        assert any(r.attr_u is None for r in got)

    # default path unchanged: no sketch column, no Python in the plan
    base2 = str(tmp_path / "cooked_nosk")
    cook_metrics(raw, base2, org_id="t", tiers_ms=[10_000, 20_000])
    assert "chq_sketch" not in spark.read.parquet(f"{base2}/metrics").columns


def test_sketch_udf_input_stays_lambda_free(spark, raw_metrics, tmp_path):
    """Regression pin for the r11 fusion: the blob-encode Python UDF's
    argument must be a plain column, never an expression embedding a
    lambda closure — ExtractPythonUDFs skips such a UDF and the plan
    then dies at runtime with INTERNAL_ERROR 'Cannot evaluate
    expression' (reproduced when the histogram fold was a JVM
    transform/filter closure). Asserts the executed shape: the encode
    UDF runs in an ArrowEvalPython node over the raw _sk_list column."""
    from pyspark.sql import functions as F

    from lakerunner_spark.ingest.preagg import preaggregate_metrics
    from lakerunner_spark.ingest.translate import translate_metrics
    from lakerunner_spark.operators.ddsketch import gamma_for
    from lakerunner_spark.sources.chq_sketch import sketch_blob_udf

    cooked = translate_metrics(raw_metrics, "metric_name", ["attr_user"])
    g = gamma_for(0.01)
    tier = preaggregate_metrics(
        cooked, ["metric_name", "chq_tid", "attr_user"], sketch_gamma=g
    )
    out = tier.withColumn(
        "chq_sketch", sketch_blob_udf(g, from_list=True)(F.col("_sk_list"))
    ).drop("_sk_list")
    plan = out.repartition("metric_name")._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan
    # the enc UDF argument is the raw attribute — no lambdafunction
    # anywhere in the plan above the aggregate
    enc_frag = plan[plan.index("enc("):][:400]
    assert "lambdafunction" not in enc_frag, enc_frag
    # and the write path actually executes end to end in this session
    base = str(tmp_path / "lfree")
    cook_metrics(
        raw_metrics.limit(500), base, org_id="t",
        tiers_ms=[10_000, 60_000], sketch_accuracy=0.01,
    )
    seg = spark.read.parquet(f"{base}/metrics")
    assert seg.filter("chq_sketch IS NOT NULL").count() > 0


def test_sketch_percentiles_every_tier(spark, tmp_path):
    """sketch_percentiles=True (the reference-faithful
    ddsketch_stats_agg surface): EVERY tier's rollup rows carry
    p25..p99 derived from the sketch — the KLL path only has p* at the
    10s grain — and the values equal the engine bucket algebra's
    quantile over each row's own samples. The flag without
    sketch_accuracy is rejected."""
    import math

    import pytest as _pytest

    from lakerunner_spark.operators.ddsketch import gamma_for
    from lakerunner_spark.sources.chq_sketch import (
        decode_chq_sketch,
        engine_bucket_quantiles,
    )

    rows = [
        (int(i // 12) * 1000, "m", ((i * 37) % 83 - 41) / 3.0)
        for i in range(240)
    ]
    raw = spark.createDataFrame(
        rows, "chq_timestamp long, metric_name string, value double"
    )
    with _pytest.raises(ValueError, match="sketch_percentiles"):
        cook_metrics(raw, str(tmp_path / "x"), sketch_percentiles=True)

    base = str(tmp_path / "cooked_sp")
    cook_metrics(
        raw, base, org_id="t", tiers_ms=[10_000, 20_000],
        sketch_accuracy=0.01, sketch_percentiles=True,
    )
    gamma = gamma_for(0.01)
    seg = spark.read.parquet(f"{base}/metrics")
    pcols = [f"chq_rollup_p{p}" for p in (25, 50, 75, 90, 95, 99)]
    for grain in (10_000, 20_000):
        got = seg.filter(seg.frequency_ms == grain).collect()
        assert got
        for r in got:
            # p* present at EVERY tier, equal to the bucket-algebra
            # quantiles of this row's own decoded sketch
            sk = decode_chq_sketch(bytes(r.chq_sketch))
            from lakerunner_spark.operators.ddsketch import (
                _NEG_BASE,
                _ZERO_BUCKET,
            )

            buckets = {i + 1: c for i, c in sk["pos"].items()}
            if sk["zero_count"]:
                buckets[_ZERO_BUCKET] = sk["zero_count"]
            buckets.update(
                {_NEG_BASE - (i + 1): c for i, c in sk["neg"].items()}
            )
            want = engine_bucket_quantiles(
                buckets, gamma, [0.25, 0.5, 0.75, 0.9, 0.95, 0.99]
            )
            for col, w in zip(pcols, want):
                assert math.isclose(getattr(r, col), w, rel_tol=1e-12), (
                    grain, col)


def test_bucket_pair_fold_matches_counter(spark):
    """fold_bucket_list == Counter of the list; merge_bucket_pairs sums
    duplicate buckets; NULL/empty are preserved (a group whose values
    were all NULL must still encode to a NULL blob downstream)."""
    from collections import Counter

    from lakerunner_spark.operators.ddsketch import (
        fold_bucket_list,
        merge_bucket_pairs,
    )

    lists = [[5, 5, 3, 5, -2, 3], [], None, [7], [0] * 40 + [1] * 2]
    df = spark.createDataFrame([(x,) for x in lists], "xs array<bigint>")
    got = df.select(fold_bucket_list("xs").alias("p")).collect()
    for xs, row in zip(lists, got):
        if xs is None:
            assert row.p is None
            continue
        pairs = [(e.b, e.c) for e in row.p]
        assert pairs == sorted(Counter(xs).items())

    # merge over a concat holding duplicate buckets (the tier shape)
    concat = spark.createDataFrame(
        [([(3, 2), (5, 1), (3, 4), (-2, 7), (5, 1)],)],
        "p array<struct<b:bigint,c:bigint>>",
    )
    m = concat.select(merge_bucket_pairs("p").alias("m")).collect()[0].m
    assert [(e.b, e.c) for e in m] == [(-2, 7), (3, 6), (5, 2)]


def test_blob_pairs_udf_matches_fold(spark):
    """The combined codec seam (blob + canonical pairs in ONE Arrow
    UDF — the r12 replacement for the per-tier JVM fold) must emit
    pair lists bit-identical to the fold_bucket_list /
    merge_bucket_pairs operators it displaced from ingest/cook.py,
    including the NULL/empty contracts, and blobs identical to
    sketch_blob_udf's."""
    from pyspark.sql import functions as F

    from lakerunner_spark.operators.ddsketch import (
        fold_bucket_list,
        gamma_for,
        merge_bucket_pairs,
    )
    from lakerunner_spark.sources.chq_sketch import (
        sketch_blob_pairs_udf,
        sketch_blob_udf,
    )

    g = gamma_for(0.01)
    lists = [[5, 5, 3, 5, -2, 3], [], None, [7], [0] * 40 + [1] * 2]
    df = spark.createDataFrame([(x,) for x in lists], "xs array<bigint>")
    got = df.select(
        sketch_blob_pairs_udf(g, from_list=True)("xs").alias("st"),
        fold_bucket_list("xs").alias("fold"),
        sketch_blob_udf(g, from_list=True)("xs").alias("blob"),
    ).collect()
    for r in got:
        assert r.st.pairs == r.fold
        assert r.st.chq_sketch == r.blob

    dup = spark.createDataFrame(
        [([(3, 2), (5, 1), (3, 4), (-2, 7), (5, 1)],), ([],), (None,)],
        "p array<struct<b:bigint,c:bigint>>",
    )
    got = dup.select(
        sketch_blob_pairs_udf(g, from_pairs=True)("p").alias("st"),
        merge_bucket_pairs("p").alias("merge"),
        sketch_blob_udf(g, from_pairs=True)("p").alias("blob"),
    ).collect()
    for r in got:
        assert r.st.pairs == r.merge
        assert r.st.chq_sketch == r.blob

    # cook's coarser-tier UDF argument stays the plain aggregate
    # output (the ExtractPythonUDFs lambda hazard): with the fold gone
    # there is no lambda anywhere near the seam by construction, but
    # pin the executed shape anyway
    import pytest as _pytest

    with _pytest.raises(ValueError, match="exactly one"):
        sketch_blob_pairs_udf(g)


def test_sketch_cascade_bounded_state_high_rate_series(spark, tmp_path):
    """r11 verdict #1 acceptance: a high-rate series (300K samples into
    ONE 1h aggregation group) cooks under the test session's default
    heap with per-group cascade state bounded by occupied buckets —
    the pre-fold shape held one long PER SAMPLE in the 1h group
    (unbounded in cadence); the reference's DDSketch store holds
    occupied buckets (sketches-go store, metric_ingest_duckdb.go:
    351-459). Exactness: rollup_count is exact and p50 FROM the
    sketch lands within the DDSketch relative-error contract."""
    import math

    from pyspark.sql import functions as F

    from lakerunner_spark.ingest.preagg import preaggregate_metrics
    from lakerunner_spark.ingest.rollup import rollup_tier
    from lakerunner_spark.ingest.translate import translate_metrics
    from lakerunner_spark.operators.ddsketch import (
        fold_bucket_list,
        gamma_for,
        merge_bucket_pairs,
    )

    n = 300_000
    base_ts = 1_700_000_000_000
    raw = (
        spark.range(n)
        .select(
            (F.lit(base_ts) + (F.col("id") * 3_600_000 / n).cast("long"))
            .alias("chq_timestamp"),
            F.lit("hot_metric").alias("metric_name"),
            F.lit("u1").alias("attr_user"),
            (F.lit(1.0) + (F.col("id") % 997).cast("double")).alias("value"),
        )
    )

    # structural bound: the 1h tier's concatenated pair list (the
    # aggregation state the groupBy carries per group) holds occupied-
    # bucket entries, not samples
    g = gamma_for(0.01)
    cooked = translate_metrics(raw, "metric_name", ["attr_user"])
    dims = ["metric_name", "chq_tid", "attr_user"]
    t10 = preaggregate_metrics(cooked, dims, sketch_gamma=g, percentiles=False)
    t10 = t10.withColumn("_sk_pairs", fold_bucket_list(F.col("_sk_list"))).drop(
        "_sk_list"
    )
    t60 = rollup_tier(t10, dims, 60_000, sketch_col="_sk_pairs")
    t60 = t60.withColumn("_sk_pairs", merge_bucket_pairs(F.col("_sk_pairs")))
    t1h = rollup_tier(t60, dims, 3_600_000, sketch_col="_sk_pairs")
    sizes = t1h.select(F.size("_sk_pairs").alias("s")).collect()
    assert len(sizes) <= 2  # one series, <= 2 hour buckets
    distinct_buckets = 997  # values 1..997 -> at most 997 occupied buckets
    assert max(r.s for r in sizes) <= 60 * distinct_buckets
    assert max(r.s for r in sizes) < n / 10

    # end-to-end under the default session: exact counts, p50 in contract
    base = str(tmp_path / "hot")
    cook_metrics(
        raw, base, org_id="t",
        tiers_ms=[10_000, 60_000, 3_600_000],
        sketch_accuracy=0.01, sketch_percentiles=True,
    )
    seg = spark.read.parquet(f"{base}/metrics")
    h = seg.filter(F.col("frequency_ms") == 3_600_000).collect()
    assert sum(r.chq_rollup_count for r in h) == n
    assert all(r.chq_sketch is not None for r in h)
    # values are uniform over 1..997 -> true p50 ~ 499; DDSketch
    # mid-bucket estimate carries rel error <= (gamma-1)/(gamma+1)=1%
    # plus one bucket width of rank slack -> allow 3%
    total = sum(r.chq_rollup_count for r in h)
    p50 = sum(r.chq_rollup_p50 * r.chq_rollup_count for r in h) / total
    assert math.isclose(p50, 499.0, rel_tol=0.03), p50


def test_sketch_pairs_udf_input_stays_lambda_free(spark, raw_metrics):
    """The coarser-tier twin of the _sk_list plan pin: the blob UDF's
    argument at every tier past 10s is the plain ``_sk_pairs``
    aggregate-output attribute — the fold/merge lambda expressions
    live strictly below the tier's shuffle, so ExtractPythonUDFs sees
    a lambda-free UDF argument (the r11 planner hazard)."""
    from pyspark.sql import functions as F

    from lakerunner_spark.ingest.preagg import preaggregate_metrics
    from lakerunner_spark.ingest.rollup import rollup_tier
    from lakerunner_spark.ingest.translate import translate_metrics
    from lakerunner_spark.operators.ddsketch import fold_bucket_list, gamma_for
    from lakerunner_spark.sources.chq_sketch import sketch_blob_udf

    cooked = translate_metrics(raw_metrics, "metric_name", ["attr_user"])
    g = gamma_for(0.01)
    dims = ["metric_name", "chq_tid", "attr_user"]
    t10 = preaggregate_metrics(cooked, dims, sketch_gamma=g, percentiles=False)
    t10 = t10.withColumn("_sk_pairs", fold_bucket_list(F.col("_sk_list"))).drop(
        "_sk_list"
    )
    t60 = rollup_tier(t10, dims, 60_000, sketch_col="_sk_pairs")
    out = t60.withColumn(
        "chq_sketch", sketch_blob_udf(g, from_pairs=True)(F.col("_sk_pairs"))
    ).drop("_sk_pairs")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan
    enc_frag = plan[plan.index("enc(") :][:400]
    assert "lambdafunction" not in enc_frag, enc_frag
    # and it executes: blobs decode to the same distribution the raw
    # samples produce (exact merge end to end)
    row = out.filter(F.col("chq_sketch").isNotNull()).limit(1).collect()[0]
    from lakerunner_spark.sources.chq_sketch import decode_chq_sketch

    sk = decode_chq_sketch(bytes(row.chq_sketch))
    assert sum(sk["pos"].values()) + sk["zero_count"] + sum(
        sk["neg"].values()
    ) == float(row.chq_rollup_count)


def _otlp_log_batch(spark, raw, decoder=None):
    from lakerunner_spark.sources.otel import read_otlp_logs

    return (
        read_otlp_logs(spark, str(raw), decoder=decoder)
        .withColumn("service_identifier", F.col("resource_service_name"))
        .drop("attr_keys", "attr_values")
    )


def test_cook_logs_incremental_decodes_each_payload_once(spark, tmp_path):
    """The incremental batch feeds three writes (segments, agg, index);
    the OTLP decode behind it runs once per payload file, and the
    tables equal the uncached full-rebuild cook of the same files."""
    from lakerunner_spark.sources.otel import decode_otlp_logs_payload
    from tests.test_e2e_otlp import BASE_NS, _payload, _record

    raw = tmp_path / "raw"
    raw.mkdir()
    for k, svc in enumerate(("checkout", "billing", "search")):
        recs = [
            _record(BASE_NS + i * 10_000_000_000 + k, f"{svc} req {i} ok", lvl)
            for i, lvl in enumerate(["INFO", "INFO", "ERROR"] * 4)
        ]
        (raw / f"{svc}.binpb").write_bytes(_payload(svc, recs))

    decoded = spark.sparkContext.accumulator(0)

    def counting(payload):
        decoded.add(1)
        return decode_otlp_logs_payload(payload)

    inc = cook_logs(
        _otlp_log_batch(spark, raw, counting), str(tmp_path / "inc"),
        incremental=True,
    )
    assert decoded.value == 3

    full = cook_logs(_otlp_log_batch(spark, raw), str(tmp_path / "full"))
    for table in ("segments", "agg", "index"):
        got = spark.read.parquet(inc[table])
        want = spark.read.parquet(full[table])
        assert got.count() == want.count() > 0
        assert got.exceptAll(want).count() == 0 == want.exceptAll(got).count()


def _persistent_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_cook_metrics_failed_write_releases_tier_caches(
    spark, raw_metrics, tmp_path, monkeypatch
):
    """A tier write that fails after the 10s tier cache materialized
    must not leave that cache pinned (a streaming retry would pile one
    up per attempt)."""
    from lakerunner_spark.ingest import cook

    write_segments = cook.write_segments
    calls = []

    def second_write_fails(df, *args, **kwargs):
        calls.append(1)
        if len(calls) == 2:
            raise RuntimeError("forced tier write failure")
        return write_segments(df, *args, **kwargs)

    monkeypatch.setattr(cook, "write_segments", second_write_fails)
    before = _persistent_rdds(spark)
    with pytest.raises(RuntimeError, match="forced"):
        cook_metrics(raw_metrics, str(tmp_path / "x"), tiers_ms=[10_000, 60_000])
    assert len(calls) == 2
    assert _persistent_rdds(spark) == before


def test_cook_logs_failed_write_releases_batch_cache(
    spark, sf_dir, tmp_path, monkeypatch
):
    from lakerunner_spark.ingest import cook

    def index_fails(*args, **kwargs):
        raise RuntimeError("forced index failure")

    logs = events_stream(spark, sf_dir).limit(200).select(
        "chq_timestamp",
        F.col("props").alias("log_message"),
        F.col("event_type").alias("service_identifier"),
    )
    monkeypatch.setattr(cook, "build_fingerprint_index", index_fails)
    before = _persistent_rdds(spark)
    with pytest.raises(RuntimeError, match="forced"):
        cook_logs(logs, str(tmp_path / "x"), incremental=True)
    assert _persistent_rdds(spark) == before
