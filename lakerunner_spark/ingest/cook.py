"""One-call ingest: raw rows -> cooked, queryable table families.

The reference's ingest consumer pipeline (§3.3) as two entry points a
user drives per batch (or from foreachBatch in streaming):

- ``cook_metrics``: translate (TID) -> 10s pre-agg (A1) -> rollup
  cascade (A2) -> sorted tier-partitioned segments (S7/O5). The output
  is immediately queryable through ``layout_metric_catalog`` + the
  PromQL front-end.
- ``cook_logs``: translate (fingerprint) -> sorted segments + the two
  companion tables the planner routes to: the 10s count agg file (A13)
  and the trigram fingerprint index (J6).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lakerunner_spark.ingest.preagg import preaggregate_metrics
from lakerunner_spark.ingest.rollup import rollup_tier
from lakerunner_spark.ingest.translate import translate_logs, translate_metrics
from lakerunner_spark.operators.ddsketch import gamma_for
from lakerunner_spark.plans.aggfile import build_agg_table
from lakerunner_spark.plans.pruning import build_fingerprint_index
from lakerunner_spark.schema import dateint
from lakerunner_spark.sources.writers import write_segments

DEFAULT_TIERS_MS = [10_000, 60_000, 300_000, 1_200_000, 3_600_000]


def cook_metrics(
    df: DataFrame,
    base_path: str,
    org_id: str = "default",
    metric_col: str = "metric_name",
    attr_cols: list[str] | None = None,
    value_col: str = "value",
    tiers_ms: list[int] | None = None,
    extra_dims: list[str] | None = None,
    write_mode: str = "append",
    sketch_accuracy: float | None = None,
    sketch_percentiles: bool = False,
) -> list[int]:
    """Cook raw metric samples into the tiered segment layout.

    Returns the tier list written. The cascade re-aggregates each
    coarser tier from the previous one (never from raw), so total work
    is ~2x the 10s pass regardless of tier count.

    ``extra_dims`` are carried through the aggregation WITHOUT joining
    the TID (series identity) — used by the streaming path to thread
    the constant ``ingest_batch`` column through to partitioning.
    ``write_mode="overwrite"`` + a batch-scoped partition column makes
    a retried micro-batch idempotent (dynamic partition overwrite).

    ``sketch_accuracy`` (e.g. ``0.01``), when set, attaches a
    ``chq_sketch`` BINARY column to every rollup row — the reference's
    sketches-go wire format (writer_metrics_duckdb.go writes the same
    column), so reference query workers can read engine-cooked
    segments. The distribution is FUSED into the ingest aggregation
    (r11): the pre-agg groupBy also collects the per-sample DDSketch
    bucket ids, the cascade concatenates them per coarser group
    inside rollup_tier's own shuffle (exact merge — counts are
    additive), and bytes are produced once per rollup row at the
    write boundary via one Arrow codec seam (sources/chq_sketch.py
    sketch_blob_udf). The default ``None`` keeps the ingest hot path
    Python-free (X3's plan-asserted contract).

    ``sketch_percentiles=True`` (requires ``sketch_accuracy``) is the
    REFERENCE-FAITHFUL stats surface: chq_rollup_p25..p99 come FROM
    the DDSketch (the reference's ddsketch_stats_agg explodes the
    window sketch into the p* columns next to chq_sketch,
    metric_ingest_duckdb.go:351-459) instead of the KLL
    percentile_approx — every tier then carries p* (exact sketch
    merge), where the KLL path only has p* at the 10s grain (KLL
    state isn't a mergeable column), and the pre-agg shuffle drops
    the KLL state entirely."""
    if attr_cols is None:
        # default dims must keep DISTINCT SERIES distinct: the OTLP
        # decoder emits chq_metric_type (gauge vs counter sharing a
        # name), bucket_le (histogram buckets — one row per bucket), and
        # resource_service_name alongside attr_* — omitting any of them
        # would silently merge those series during pre-aggregation
        attrs = [c for c in df.columns if c.startswith("attr_")] + [
            c
            for c in ("chq_metric_type", "bucket_le", "resource_service_name")
            if c in df.columns
        ]
    else:
        attrs = attr_cols
    tiers = sorted(tiers_ms or DEFAULT_TIERS_MS)
    if tiers[0] != 10_000:
        raise ValueError("cook_metrics: the 10s ingest grain must be first")
    for finer, coarser in zip(tiers, tiers[1:]):
        # each tier re-aggregates from the previous one, which is only
        # exact when every finer bucket nests inside one coarser bucket
        if coarser % finer:
            raise ValueError(
                f"cook_metrics: tier {coarser}ms is not a multiple of "
                f"{finer}ms — re-aggregation would split buckets across "
                "boundaries"
            )

    cooked = translate_metrics(df, metric_col, attrs)
    dims = [metric_col, "chq_tid", *attrs, *(extra_dims or [])]
    # FUSED sketch build (r10 verdict task #1): the DDSketch map is an
    # aggregate of the SAME pre-agg groupBy (the reference's single
    # ingest pass — metric_ingest_duckdb.go:351-459 computes
    # ddsketch_stats_agg next to the rollup stats) and travels the
    # cascade inside rollup_tier's own shuffle. The pre-fusion shape —
    # a second full groupBy of the raw rows plus a per-tier
    # explode/re-agg/null-safe-join (operators/ddsketch.py
    # with_sketch_column / merge_sketch_column, kept as the standalone
    # operator surface) — was the dominant term of the 122s
    # batch_sketch delta in the r10 ingest profile (PLANS.md).
    if sketch_percentiles and sketch_accuracy is None:
        raise ValueError(
            "cook_metrics: sketch_percentiles requires sketch_accuracy"
        )
    gamma = gamma_for(sketch_accuracy) if sketch_accuracy is not None else None
    tier_df = preaggregate_metrics(
        cooked, dims, value_col=value_col, sketch_gamma=gamma,
        percentiles=not sketch_percentiles,
    )
    persisted: list[DataFrame] = []
    try:
        for grain in tiers:
            first = grain == 10_000
            last = grain == tiers[-1]
            if not first:
                tier_df = rollup_tier(
                    tier_df, dims, grain,
                    sketch_col="_sk_pairs" if gamma is not None else None,
                )
            sk_col = "_sk_list" if first else "_sk_pairs"
            out = (
                tier_df.withColumn("org_id", F.lit(org_id))
                .withColumn("dateint", dateint(F.col("chq_timestamp")))
                .withColumn("frequency_ms", F.lit(grain))
            )
            if gamma is not None:
                # wire bytes once per rollup row at the write boundary —
                # the single Arrow codec seam of this path (histogram fold
                # included: see sketch_blob_udf from_list/from_pairs). The
                # stats variant additionally derives p25..p99 from the
                # same fold — blob + percentiles in ONE seam. Tiers that
                # feed a coarser tier ALSO emit the canonical
                # occupied-bucket pair list from that same fold (the
                # state-bounding cascade state, r11 verdict #1) — the pair
                # list used to be a second, interpreted JVM higher-order
                # fold over every tier row, measured at ~1.5x normalized
                # on the 2-tier chq2 cook (OPTIMIZATION_r12.md); per-group
                # state at every coarser tier stays <= tier-ratio x
                # occupied buckets, independent of cadence. The UDF
                # argument is always the raw aggregate-output attribute
                # (never a folded expression — the lambda-closure
                # extraction hazard, ingest/preagg.py).
                if sketch_percentiles:
                    from lakerunner_spark.ingest.preagg import (  # noqa: PLC0415
                        PERCENTILES,
                        _P_NAMES,
                    )
                    from lakerunner_spark.sources.chq_sketch import (  # noqa: PLC0415
                        sketch_stats_udf,
                    )

                    stats = sketch_stats_udf(
                        gamma,
                        {
                            f"chq_rollup_{n}": q
                            for n, q in zip(_P_NAMES, PERCENTILES)
                        },
                        from_pairs=not first,
                        with_pairs=not last,
                    )
                    out = out.withColumn("_st", stats(F.col(sk_col))).drop(
                        sk_col
                    )
                elif not last:
                    from lakerunner_spark.sources.chq_sketch import (  # noqa: PLC0415
                        sketch_blob_pairs_udf,
                    )

                    out = out.withColumn(
                        "_st",
                        sketch_blob_pairs_udf(
                            gamma, from_list=first, from_pairs=not first
                        )(F.col(sk_col)),
                    ).drop(sk_col)
                else:
                    from lakerunner_spark.sources.chq_sketch import (  # noqa: PLC0415
                        sketch_blob_udf,
                    )

                    out = out.withColumn(
                        "chq_sketch",
                        sketch_blob_udf(
                            gamma, from_list=first, from_pairs=not first
                        )(F.col(sk_col)),
                    ).drop(sk_col)
            if len(tiers) > 1:
                # Each tier feeds TWO actions — its own segment write and
                # the next tier's re-aggregation. Unpersisted, every tier's
                # write recomputed the whole lineage from the raw scan
                # (the r12 ingest probe measured input_rows = tiers x
                # events), so a 5-tier cascade paid the 10s pre-agg five
                # times. Persist is the idiomatic Spark cascade shape:
                # cached state is rollup rows (series x buckets — orders
                # of magnitude smaller than raw), MEMORY_AND_DISK spills
                # instead of OOMing, and the finer tier's cache is
                # released as soon as its coarser consumer materializes.
                # The persist sits AFTER the codec seam so the Python UDF
                # runs once per row for both consumers (write + rollup).
                if not last:
                    # the LAST tier has no coarser consumer — its only
                    # action is its own segment write, so caching it would
                    # be a pure extra materialization (r13)
                    out = out.persist(StorageLevel.MEMORY_AND_DISK)
                    persisted.append(out)
            wout = out
            if "_st" in out.columns:
                wout = out.select("*", "_st.*").drop("_st")
                if "pairs" in wout.columns:
                    wout = wout.drop("pairs")
            write_segments(
                wout, f"{base_path}/metrics", "metrics", mode=write_mode
            )
            if len(persisted) > 1:
                # this write materialized the CURRENT tier's cache from
                # the previous tier's — the finer cache has no consumer
                # left and its memory funds the next tier
                persisted.pop(0).unpersist()
            if not last:
                tier_df = out
                if gamma is not None:
                    tier_df = tier_df.withColumn(
                        "_sk_pairs", F.col("_st.pairs")
                    ).drop("_st")
    finally:
        # also on a failed write: a streaming foreachBatch retry would
        # otherwise pin one more set of tier caches per attempt
        for df in persisted:
            df.unpersist()
    return tiers


def cook_logs(
    df: DataFrame,
    base_path: str,
    org_id: str = "default",
    incremental: bool = False,
) -> dict[str, str]:
    """Cook raw log rows into segments + planner companion tables.

    Returns the written table paths: segments, agg (A13 routing), and
    index (J6 pruning).

    ``incremental=True`` (the foreachBatch streaming mode) builds the
    companion tables from THIS batch's rows and appends — per-batch
    cost stays O(batch). Both consumers tolerate the appended
    duplicates by construction: the agg route re-sums ``agg_count`` per
    key (plans/aggfile.py route_count_query) and the pruning index is
    consumed via semi-join/count_distinct (plans/pruning.py). The
    batch is cached for its three writes, so its source is read and
    decoded once. The default full-rebuild mode re-reads all segments
    and overwrites — O(total), but self-healing if a previous companion
    write was lost.
    """
    cooked = translate_logs(df)
    cooked = cooked.withColumn("org_id", F.lit(org_id)).withColumn(
        "dateint", dateint(F.col("chq_timestamp"))
    )
    paths = {
        "segments": f"{base_path}/logs",
        "agg": f"{base_path}/logs_agg",
        "index": f"{base_path}/logs_index",
    }
    if incremental:
        # the batch feeds three writes (segments, agg, index); cached,
        # the scan, the OTLP decode and the fingerprint hash run once
        cooked = cooked.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        write_segments(cooked, paths["segments"], "logs")
        if incremental:
            src, mode = cooked, "append"
        else:
            src = cooked.sparkSession.read.parquet(paths["segments"])
            mode = "overwrite"
        dims = [c for c in ("log_level", "chq_fingerprint") if c in src.columns]
        build_agg_table(src, dims).write.mode(mode).parquet(paths["agg"])
        build_fingerprint_index(
            src, "service_identifier", "log_message"
        ).write.mode(mode).parquet(paths["index"])
    finally:
        if incremental:
            cooked.unpersist()
    return paths
