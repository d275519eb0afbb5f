"""Engine-wide physical-plan invariants over the ENTIRE query catalog.

Two global guarantees the scale story depends on, enforced as tests so
no future operator regresses them silently:

1. No Python evaluation (BatchEvalPython / ArrowEvalPython / MapInPandas)
   in any registered query plan, except the explicitly documented Arrow
   seams (sequence packing's applyInPandas stream and the multimodal
   decode stage) — "UDFs are the slow path" as a checked invariant, not
   a convention.
2. No CartesianProduct join anywhere except the queries that broadcast
   a bounded side by design (documented candidate-bounded all-pairs /
   query-broadcast ANN shapes, which plan as BroadcastNestedLoopJoin).
"""

from __future__ import annotations

import pytest

# Arrow/Pandas seams that are the documented design (linear, partition-
# parallel, Arrow-batched), not accidental slow paths:
PYTHON_ALLOWED = {
    "ds3_sequence_pack",   # applyInPandas greedy packer (inherently sequential per stream)
    "mm2_png_features",    # mapInPandas image decode (codec work is Python by design)
    "mm3_wav_features",    # mapInPandas audio decode (stdlib WAV codec)
    "mm4_bmp_features",    # mapInPandas image decode (stdlib BMP codec)
    "mm5_avi_frame_stats", # mapInPandas video frame-sample decode (stdlib AVI)
    "mm6_audio_frames",    # mapInPandas windowed audio framing (stdlib WAV
                           # codec; per-sample math numpy over strided views)
    "mm7_image_patches",   # mapInPandas ViT-style patch grid (stdlib BMP
                           # codec; per-pixel math one numpy reshape+sum)
    "chq1_sketch_interop_quantile",  # mapInPandas sketches-go binary
                           # decode (the S10/X1 interop seam: wire
                           # decode is Python by design, Arrow-batched)
    "chq2_cooked_sketch_segments",  # the WRITE-side twin: sketches-go
                           # blob ENCODE at the segment-write boundary
                           # (Arrow codec seam, sketch_blob_udf) + the
                           # same decode seam reading the cooked
                           # segments back
    "otlp1_exp_histogram_quantile",  # mapInPandas OTLP protobuf decode
                           # (the S5/S6 source seam: wire decode is
                           # Python by design, Arrow-batched per file)
    "ddm1_image_neardup",  # mapInPandas BMP decode feeding the dHash
                           # (stdlib codec; hash/band/verify stages are
                           # all JVM-side DataFrame ops — plan-asserted
                           # bucketed in test_multimodal_ann)
    "ddm2_image_dedup_pipeline",  # same decode seam (ddm1 + components)
    "ddm3_video_neardup",  # mapInPandas AVI frame-sample decode feeding
                           # the per-frame dHash (the mm5 container walk;
                           # linear in sampled frames, payloads never
                           # shuffle; joins/windows are all JVM-side)
    "ddm4_semantic_image_dedup",  # same mm7 decode seam feeding the
                           # dd12s SemDeDup route (kmeans/assignment/
                           # pairs all JVM-side)
    "ddm5_audio_neardup",  # mapInPandas WAV decode feeding the band-
                           # energy fingerprint (stdlib PCM codec;
                           # linear in frames; joins/windows JVM-side)
    "cook1_metrics_tid",   # fnv64a_fast Arrow kernel: deliberate vectorized
                           # ingest path, ~200x/core vs the expression fold
                           # (functions/hashing.py module note; bit-identity
                           # fuzz-tested in test_hashing)
    "dd12_semantic_dedup",  # r12: the quadratic per-cluster cosine scan
                           # is a numpy applyInPandas seam (one batch per
                           # cluster, vectors shuffled ONCE) — bit-exact
                           # vs the JVM fold join it replaced (engine=
                           # "jvm" retained; test_dataprep_ops.py::
                           # test_semantic_pair_engines_equal), measured
                           # 4x on the fixture (OPTIMIZATION_r12.md)
    "dd12s_semantic_dedup_sampled",  # same pair-scan seam (dd12s routes
                           # assignment two-level, pair stage identical;
                           # ddm4 — already allowed for its decode seam —
                           # picks the pair-scan seam up through dd12s)
    # r12: the winnow tokenize→fold→window pipeline is one numpy
    # mapInArrow seam over (id, text) — bit-exact vs the retained JVM
    # HOF engine (test_dataprep_ops.py::test_winnow_engines_equal),
    # measured 10.3-11.0s → 1.5-1.8s on the 10x corpus. Every
    # winnow-transitive query:
    "dd6_winnow_fingerprints",
    "dd11_substring_dedup",
    "dd11v_substring_verify",
    "dd13_substring_decontaminate",
    "dd16_substring_remove",
    "dd17_decontaminate_spans",
    "dd18_substring_pipeline",
}

# Bounded all-pairs / broadcast shapes where a nested-loop join with a
# broadcast side is the intended plan:
NLJ_ALLOWED = {
    "dd5_embedding_neardup",  # candidate pairs on a bounded slice
    "sim1_cosine_topk",       # broadcast queries x corpus scan
    "sim2_ivf_topk",          # broadcast centroids assignment
    "sim3_lsh_topk",          # broadcast hyperplanes
    "sim4_quantized_topk",    # broadcast queries x dequantized corpus (cosine_topk)
    "mm2_png_features",       # tiny literal DF
    "mm4_bmp_features",       # tiny literal DF
    "pqs26_histogram_quantile_buckets",  # broadcast 4-row le-bounds literal
    "tpch_q22_idle_rich_customers",  # broadcast 1-row scalar threshold
    "tpch_q11_important_parts",      # broadcast 1-row scalar threshold
    "lqs23_or_line_filter",          # 1-row x 1-row count crossJoin
    "txt9_unigram_logprob",          # broadcast 1-row sample-total scalar
    "txt12_ccnet_buckets",           # same txt9 scoring core (1-row
                                     # sample-total scalar crossJoin)
    "txt12s_ccnet_sketch_buckets",   # same txt9 scoring core (1-row
                                     # sample-total scalar crossJoin)
    "txt12n_sketch_buckets_null_keys",  # txt12s over NULL-planted keys
                                     # (r11 gate variant) — same 1-row
                                     # scalar crossJoin (txt13n hides
                                     # its copy behind txt13's eager
                                     # localCheckpoint, so it is not
                                     # listed)
    "txt13_ccnet_pipeline",          # same txt9 scoring core (1-row
                                     # sample-total scalar crossJoin)
    "sim6_random_projection",        # broadcast queries x corpus scan
    "sim8_ann_frontier",             # composes sim1/4/6 + exact-L2
                                     # baseline: each a broadcast
                                     # 3-query x corpus scan
    "ddm2_image_dedup_pipeline",     # 1-row census x 1-row total
                                     # crossJoin (the txt9 pattern)
    "txt10_bm25",                    # broadcast 1-row idf-map/stats scalar
    "ds10_temperature_mixture",      # 1-row total/normalizer scalars x
                                     # the sources-row rate table (both
                                     # bounded by source-label count)
}


def _plans(spark, sf_dir):
    import __spark_entry__ as entry

    for name, fn in entry.queries().items():
        try:
            df = fn(spark, sf_dir)
        except Exception as e:  # pragma: no cover - registry must compile
            pytest.fail(f"{name}: plan construction failed: {e}")
        yield name, df._jdf.queryExecution().executedPlan().toString()


def test_no_python_eval_outside_allowlist(spark, sf_dir):
    offenders = []
    for name, plan in _plans(spark, sf_dir):
        if name in PYTHON_ALLOWED:
            continue
        if any(
            tok in plan
            for tok in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                        "FlatMapGroupsInPandas", "MapInArrow")
        ):
            offenders.append(name)
    assert not offenders, f"Python eval leaked into: {offenders}"


def test_no_cartesian_product_outside_allowlist(spark, sf_dir):
    offenders = []
    for name, plan in _plans(spark, sf_dir):
        if "CartesianProduct" in plan:
            offenders.append(name)  # a TRUE cartesian is never acceptable
        elif "BroadcastNestedLoopJoin" in plan and name not in NLJ_ALLOWED:
            offenders.append(name + " (BNLJ)")
    assert not offenders, f"unbounded join shapes in: {offenders}"


def test_ds8_no_forced_broadcast(spark, sf_dir):
    """ds8's rep table is one row per CLUSTERED doc — corpus-
    proportional at web scale (near-dup clusters cover 30-50% of a
    crawl), so a compile-time broadcast hint on it would bypass
    Spark's size checks and OOM the driver at 100 TB. The rep-attach
    join must stay unhinted: AQE's runtime size check is the only
    broadcast gate. This asserts no hint node anywhere in the analyzed
    plan (the query adds none elsewhere either)."""
    import __spark_entry__ as entry

    df = entry.queries()["ds8_leakage_free_split"](spark, sf_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "Hint" not in analyzed, (
        "ds8 carries a join-strategy hint; the rep join must be "
        "unhinted so runtime size checks decide:\n" + analyzed
    )


def test_txt12s_windowless_route(spark, sf_dir):
    """txt12's per-language percent_rank is one task per language — a
    global sort of the majority language when one language IS most of
    the corpus (CCNet's own setting; the r7 verdict weak). The sketch
    route must carry NO rank window anywhere: the only analytic
    windows it may run are the DDSketch cumulative walk, which
    partitions by (lang) over OCCUPIED-BUCKET rows (a few hundred per
    language regardless of corpus size), never over corpus rows."""
    import __spark_entry__ as entry

    df = entry.queries()["txt12s_ccnet_sketch_buckets"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "percent_rank" not in plan, (
        "txt12s plans a rank window — the per-language corpus sort "
        "the sketch route exists to remove:\n" + plan
    )
    # the exact route, by contrast, IS the rank window (pinned mode)
    df_exact = entry.queries()["txt12_ccnet_buckets"](spark, sf_dir)
    assert "percent_rank" in (
        df_exact._jdf.queryExecution().executedPlan().toString()
    )


def test_dd10_no_forced_broadcast(spark, sf_dir):
    """dd10's delete list is one row per non-representative clustered
    doc — at real web-dedup rates that is 30-50% of the corpus, the
    same magnitude as ds8's rep table. A compile-time broadcast hint
    would bypass AQE's size check exactly as ds8's did; the
    delete-list attach join must stay unhinted."""
    import __spark_entry__ as entry

    df = entry.queries()["dd10_dedup_pipeline"](spark, sf_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "Hint" not in analyzed, (
        "dd10 carries a join-strategy hint; the delete-list join must "
        "be unhinted so runtime size checks decide:\n" + analyzed
    )


def test_ds12_single_corpus_pass(spark, sf_dir):
    """ds12's two distributions (per-bucket totals and per-doc bucket
    counts) must derive from ONE (doc_id, tgt, b) aggregation so the
    expensive subtree (scan -> tokenize -> explode -> md5 hash) runs
    once: the target flag rides as a group KEY — a per-branch aggregate
    function would be column-pruned differently per consumer, splitting
    the exchange and recomputing the corpus pass (the r12 regression
    this pins). Reuse is an AQE runtime decision, so the assertion runs
    the query and checks the final adaptive plan. The assertion
    (ADVICE r12, robustness): reuse is evidenced EITHER by a
    `ReusedExchange` node OR by the plan carrying a single parquet
    scan — the former is the normal AQE spelling, the latter covers a
    plan-string respelling. A bare scan count alone is NOT reliable
    here: executedPlan().toString() prints subquery executions inline,
    textually duplicating the shared subtree even when only one
    physical pass runs (the sf10 work counters — input_rows == one
    corpus scan — are the ground truth the r12/r13 round logs
    adjudicated with)."""
    import __spark_entry__ as entry

    df = entry.queries()["ds12_dsir_selection"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_scans = plan.count("FileScan parquet")
    assert "ReusedExchange" in plan or n_scans == 1, (
        f"ds12 final plan has no ReusedExchange and {n_scans} parquet "
        "scans — the bigram scan/explode/hash subtree is being "
        "computed once per distribution instead of shared:\n" + plan
    )


def test_mm1_single_scan_no_join(spark, sf_dir):
    """mm1 carries ``lang`` through ``byte_histogram_features`` with the
    media columns, so it reads ``documents`` once and joins nothing: the
    final adaptive plan has one parquet scan and no join. The histogram
    itself must stay a linear, codegen'd projection: no per-byte
    ``sequence``/``transform`` array and no ``hex`` of the payload (the
    quadratic route: one hex string rebuilt for every byte)."""
    import __spark_entry__ as entry

    from lakerunner_spark.dataops.multimodal import byte_histogram_features

    df = entry.queries()["mm1_byte_histogram"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("FileScan parquet") == 1, plan
    assert "Join" not in final and "CartesianProduct" not in final, plan

    media = spark.createDataFrame([(1, b"ab")], "media_id long, payload binary")
    proj = (
        byte_histogram_features(media)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    for token in ("sequence(", "transform(", "hex("):
        assert token not in proj, f"{token} in the histogram projection:\n{proj}"
