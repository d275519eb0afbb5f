#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Measurement hygiene: the parent process NEVER touches Spark. Each bench
section (sf0.1 headline, sf1 scale step) runs in its own fresh child
process (fresh JVM, fresh codegen cache, no leftover GC pressure from
whatever ran before — pytest in the same session was measured to inflate
individual queries up to 2.6x). Inside the child every query gets one
untimed warmup execution before the timed best-of-N loop, plus a spread
second pass min-merged over the main section.

Residual noise floor (measured over repeated back-to-back runs): whole
runs drift ±10-15% TOGETHER — uniform multiplicative VM frequency/steal
drift, not per-query noise; section totals agree within ~5-10% and
per-query ratios within a run are stable. The per-section "calib_sec"
(a fixed CPU-bound JVM workload timed in the same child) is the
normalization anchor: compare query_sec/calib_sec across rounds before
calling a cross-round delta a regression.

Survivable emission (the r9 lesson — BENCH_r09 was rc=124/parsed-null):
the per-round driver keeps only a ~2000-char TAIL of merged
stdout+stderr and parses the bench JSON from that window, so
  * after EVERY section the cumulative full record prints AND a
    compact summary line (guaranteed to fit the window: section
    totals, calibs, slowest per-query timings that fit) prints LAST;
  * while a section child runs, a parent heartbeat re-prints the
    compact snapshot every SPARK_GRAFT_BENCH_HEARTBEAT (20) seconds,
    so a kill at any moment leaves a parseable line in the tail;
  * the cumulative full record also lands in BENCH_LATEST.json
    (gitignored; committed each round as BENCH_BASELINE.json);
  * SPARK_GRAFT_BENCH_BUDGET (seconds, default 1350, 0 = unlimited)
    drops sections rather than letting the driver truncate them:
    sf10 is skipped before sf1, main always runs. Skips are recorded
    in "skipped_sections". Full local runs: SPARK_GRAFT_BENCH_BUDGET=0.
"""

from __future__ import annotations

import glob
import json
import os
import re
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# headline set: one per engine plane — scan-agg, window rate, vector join,
# multi-join relational, topk, dedup pipeline, ANN, text stats, plus the
# PromQL/LogQL front-ends and the planner-routing paths
HEADLINE = [
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier",
    "tpch_q6_forecast_revenue",
    "tpch_q9_product_profit",
    "tpch_q10_returned_items",
    "tpch_q13_order_distribution",
    "tpch_q16_supplier_cnt",
    "tpch_q18_large_volume",
    "tpch_q21_waiting_supplier",
    "cook1_metrics_tid",
    "a3_step_agg",
    "a9_rate",
    "a9_sparse_sum_over_time",
    "a8_topk",
    "j1_vector_arith",
    "a14_summary",
    "o1_order_limit",
    "pqs1_sum_rate",
    "pqs18_quantile_sketch_route",
    "pqs20_predict_linear",
    "pqs23_group_left_share",
    "lqs3_unwrap_max",
    "lqs12_pattern",
    "lqs10_label_replace",
    "a13_aggfile_route",
    "a6_cardinality",
    "x1_ddsketch_p95",
    "dd2_minhash_lsh",
    "dd3_jaccard_verify",
    "dd4_simhash",
    "dd5_embedding_neardup",
    "sim1_cosine_topk",
    "txt1_text_stats",
    "mm1_byte_histogram",
    "fp1_structural_fingerprint",
    "dd7_neardup_clusters",
    "ds1_hash_split",
    "ds3_sequence_pack",
    "dd8_decontaminate",
    "ds4_domain_mixture",
    "txt5_repetition_filter",
    "txt7_quality_pipeline",
    "dd10_dedup_pipeline",
    "dd11_substring_dedup",
    "dd12_semantic_dedup",
    "dd12s_semantic_dedup_sampled",
    "dd16_substring_remove",
    "sim6_random_projection",
    "txt9_unigram_logprob",
    "ds6_chunk_documents",
    "txt10_bm25",
    "ds8_leakage_free_split",
    "ds9s_quality_sketch_filter",
    "txt12s_ccnet_sketch_buckets",
    "txt13_ccnet_pipeline",
    "dd11v_substring_verify",
    "dd17_decontaminate_spans",
    "ddm1_image_neardup",
    "ddm2_image_dedup_pipeline",
    "sim8_ann_frontier",
    "pqs43_native_histogram_quantile",
    "maint1_compaction_requery",
    "sp8_error_trace_spans",
    "dd14_global_paragraph_dedup",
    "dd14w_paragraph_dedup_window",
    "ds12_dsir_selection",
    "ds13_weighted_sample",
    "ds14_shard_manifest",
    "chq1_sketch_interop_quantile",
    "dd18_substring_pipeline",
    "ddm3_video_neardup",
    "ddm4_semantic_image_dedup",
    "ddm5_audio_neardup",
    "chq2_cooked_sketch_segments",
    "chq3_sketch_stats_segments",
    "o4_ordered_slices_concat",
]

# the heaviest plans, re-run at sf1 (10× rows) as the measured scale
# step — wall time should grow ~linearly if the plan audit is honest.
# r5 adds the telemetry plane (a9 rate windows, LogQL log-rate, agg-file
# routing, sketch-route quantile) so the scale story covers all planes.
SF1_HEADLINE = [
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier",
    "tpch_q9_product_profit",
    "tpch_q18_large_volume",
    "tpch_q21_waiting_supplier",
    "dd2_minhash_lsh",
    "dd3_jaccard_verify",
    "dd7_neardup_clusters",
    "dd10_dedup_pipeline",
    "dd11_substring_dedup",
    "dd13_substring_decontaminate",
    "pqs18_quantile_sketch_route",
    "a9_rate",
    "lqs1_log_rate",
    "a13_aggfile_route",
    "a8_topk",
    # r6 additions: the exact-substring verify pass and the windowless
    # percentile route, both new this round
    "dd11v_substring_verify",
    "ds9s_quality_sketch_filter",
    # late-r6 additions: corpus-wide paragraph dedup (skew-shaped
    # groupBy+join) and DSIR selection (two-scan distribution/scoring)
    "dd14_global_paragraph_dedup",
    "ds12_dsir_selection",
    # r7: prefix-sum manifest, the maintenance plane, and the sampled
    # SemDeDup route (k scaled with n via SECTION_OVERRIDES — the
    # SemDeDup contract holds n/k constant)
    "ds14_shard_manifest",
    "maint1_compaction_requery",
    "dd12s_semantic_dedup_sampled",
    "dd16_substring_remove",
    # r8: span-level decontamination (dd13 x dd16 composition) and the
    # end-to-end CCNet pipeline (dedup -> rebuild -> langid -> LM ->
    # sketch terciles in one plan)
    "dd17_decontaminate_spans",
    "txt13_ccnet_pipeline",
    # r9: the full Lee et al. substring pipeline, the r8 surface's
    # decades (image near-dup + pipeline over the scaled make_media
    # corpus via SECTION_OVERRIDES, ANN frontier, CCNet sketch router,
    # windowed paragraph dedup), per the r8 verdict ask
    "dd18_substring_pipeline",
    "ddm1_image_neardup",
    "ddm2_image_dedup_pipeline",
    "sim8_ann_frontier",
    "txt12s_ccnet_sketch_buckets",
    "dd14w_paragraph_dedup_window",
    # late-r9: the ingest-plane write path's first scale step (cook
    # two tiers + chq_sketch encode + segment write + read-back;
    # probed 6.7s sf0.1 -> 25s sf1 warm, sub-linear)
    "chq2_cooked_sketch_segments",
]

# second measured decade (100× the default bench size, deterministic
# replication like sf1): the heaviest data-prep pipelines only — the
# point is catching plans whose shape survives 10× but flips at 100×
# (and turning the "per-task volume held constant" docstring claims
# into measurements). One cold iteration each; at multi-second
# runtimes the one-off codegen cost is noise.
SF10_HEADLINE = [
    "dd2_minhash_lsh",
    "dd3_jaccard_verify",
    "dd11_substring_dedup",
    "dd13_substring_decontaminate",
    "pqs18_quantile_sketch_route",
    # late-r6: the skew-shaped paragraph dedup's second decade (the
    # groupBy+join form must hold where a hash-partition window would
    # straggle on hot boilerplate keys)
    "dd14_global_paragraph_dedup",
    # r7: second decade for the round-6 heavies (the verdict ask) —
    # exact-substring verify, DSIR, prefix-sum manifest, compaction
    # requery, and SemDeDup via the sampled two-level route (the flat
    # route's Lloyd term is n*d*k with k ∝ n — measured >10 min at
    # sf10, which is WHY dd12s exists; see PLANS.md dd12s)
    "dd11v_substring_verify",
    "ds12_dsir_selection",
    "ds14_shard_manifest",
    "maint1_compaction_requery",
    "dd12s_semantic_dedup_sampled",
    # r7: the full dedup pipeline's decade with the delete-list join
    # UNhinted (the r6 weak #2 fix) — 35.5s cold, probe-verified
    "dd10_dedup_pipeline",
    # r7: exact-substring span removal (recorded BENCH_r07: 11.2s sf1 /
    # 60.8s sf10 — sub-linear decades but the sf10 single cold sample is
    # noisy across runs, 43-61s observed; spans stay pair-bounded)
    "dd16_substring_remove",
    # r8: span-level decontamination's decade (broadcast bench side +
    # candidate-pruned grams — should stay well under dd16) and the
    # end-to-end CCNet pipeline (probe: 1.9 -> 6.4 -> 24.6s across the
    # three sizes — sub-linear per decade; the dedup shuffle and the
    # LM scan dominate, both linear-parallel)
    "dd17_decontaminate_spans",
    "txt13_ccnet_pipeline",
    # r9: second decades for the same set (ddm over the 10k-image
    # corpus; the others at 100x rows)
    "dd18_substring_pipeline",
    "ddm1_image_neardup",
    "ddm2_image_dedup_pipeline",
    "sim8_ann_frontier",
    "txt12s_ccnet_sketch_buckets",
    "dd14w_paragraph_dedup_window",
]


def _dd12s_scaled(k: int, c: int, mod: int):
    """SemDeDup contract at scale: k grows with n to hold n/k ~ 250.
    sample_mod=127 is deliberately COPRIME to make_sf1's replica id
    shift (2000): a divisor-of-shift stride samples the SAME original
    vectors from every replica — the train slice then holds only ~16
    distinct points, Lloyd collapses to mega-clusters, and the pair
    stage goes quadratic (measured: the 125-stride slice produced 16
    clusters of 12.5k at sf10). 127 samples across originals."""

    def run(spark, sf_dir):
        from lakerunner_spark.dataops.dedup import semantic_dedup_sampled
        from lakerunner_spark.testdata import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        return semantic_dedup_sampled(
            emb, n_clusters=k, coarse_cells=c, sample_mod=mod,
            iters=3, threshold=0.3,
        )

    return run


def _media_dir(n_base: int) -> str:
    return os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        f".localdata/media_{n_base}",
    )


def _ddm1_scaled(n_base: int):
    """ddm1 at corpus scale: the registered 14-image fixture proves
    exactness; the decade runs the SAME plan (decode -> dHash band
    words -> banded Hamming join -> popcount verify) over the
    make_media corpus (n_base bases + n_base/5 planted near-dups, so
    candidate volume grows linearly with n). The parquet is
    pre-generated in section setup — generation never pollutes the
    timed window."""

    def run(spark, sf_dir):
        from lakerunner_spark.queries_multimodal import ddm_words_and_pairs

        media = spark.read.parquet(
            os.path.join(_media_dir(n_base), "media.parquet")
        )
        return ddm_words_and_pairs(media)[1]

    return run


def _ddm2_scaled(n_base: int):
    """ddm2's full pipeline (pairs -> connected components ->
    keep-first census) over the same scaled corpus."""

    def run(spark, sf_dir):
        from lakerunner_spark.queries_multimodal import ddm2_census

        media = spark.read.parquet(
            os.path.join(_media_dir(n_base), "media.parquet")
        )
        return ddm2_census(media)

    return run


# scaled-media corpus size per section (main keeps the oracle fixture)
MEDIA_N = {"sf1": 1_000, "sf10": 10_000}

# per-section query overrides: same operator, scale-contract params
# (main runs the registered defaults; the scale steps grow k with n)
SECTION_OVERRIDES = {
    "sf1": {
        "dd12s_semantic_dedup_sampled": _dd12s_scaled(80, 9, 127),
        "ddm1_image_neardup": _ddm1_scaled(MEDIA_N["sf1"]),
        "ddm2_image_dedup_pipeline": _ddm2_scaled(MEDIA_N["sf1"]),
    },
    "sf10": {
        "dd12s_semantic_dedup_sampled": _dd12s_scaled(800, 28, 127),
        "ddm1_image_neardup": _ddm1_scaled(MEDIA_N["sf10"]),
        "ddm2_image_dedup_pipeline": _ddm2_scaled(MEDIA_N["sf10"]),
    },
}


def _run_section(section: str) -> dict:
    """Child-process entry: run one bench section against a fresh JVM."""
    from lakerunner_spark.session import get_spark

    import __spark_entry__ as entry_mod

    spark = get_spark(app_name=f"lakerunner_bench_{section}")
    queries = entry_mod.queries()

    if section == "main":
        sf_dir, names = SF_DIR, HEADLINE
        # partial second main pass (r13): the parent passes the subset
        # it could afford — the child runs the identical methodology
        # (warmup + adaptive best-of-N + spread pass) over fewer names
        sub = os.environ.get("SPARK_GRAFT_MAIN_SUBSET", "")
        if sub:
            want = {n for n in sub.split(",") if n}
            names = [n for n in HEADLINE if n in want]
    elif section.startswith("sf10"):
        from tools.make_sf1 import make_sf1

        sf_dir = make_sf1(
            SF_DIR,
            os.path.join(os.path.dirname(__file__), ".localdata/sf10"),
            replicas=100,
        )
        if section == "sf10rot":
            # the per-round rotating re-witness subset (r10 verdict
            # task #3): names chosen by the parent, passed via env
            names = [
                n
                for n in os.environ.get(
                    "SPARK_GRAFT_SF10ROT_NAMES", ""
                ).split(",")
                if n
            ]
        else:
            names = SF10_HEADLINE
    else:
        from tools.make_sf1 import make_sf1

        sf_dir = make_sf1(
            SF_DIR, os.path.join(os.path.dirname(__file__), ".localdata/sf1")
        )
        names = SF1_HEADLINE

    # sf10rot inherits sf10's scale-contract overrides and media corpus
    scale_key = "sf10" if section == "sf10rot" else section
    if scale_key in MEDIA_N and any(n.startswith("ddm") for n in names):
        # scaled image corpus for the ddm overrides — generated (and
        # disk-cached) OUTSIDE the timed window, like make_sf1
        from tools.make_media import make_media

        make_media(MEDIA_N[scale_key], _media_dir(MEDIA_N[scale_key]))

    # JVM/codegen warmup outside the measured window (steady-state is
    # what a long-running cluster serves)
    from lakerunner_spark.testdata import load_table

    load_table(spark, sf_dir, "lineitem").limit(1000).count()
    load_table(spark, sf_dir, "events").limit(1000).count()

    # Calibration anchor: a fixed CPU-bound JVM workload timed in this
    # same child. Back-to-back whole runs drift ±10-15% together (VM
    # frequency/steal — uniform multiplicative, not per-query noise);
    # comparing query_sec/calib_sec across rounds cancels that drift,
    # so use the RATIO before calling a cross-round delta a regression.
    def _calibrate() -> float:
        calib = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            # modulo keeps the 2B-row sum far inside int64 (ANSI overflow)
            spark.range(2_000_000_000).selectExpr(
                "sum((id % 100003) * 3 + (id % 13))"
            ).collect()
            calib = min(calib, time.perf_counter() - t0)
        return calib

    calib = _calibrate()

    min_iters = int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "2"))
    max_iters = int(os.environ.get("SPARK_GRAFT_BENCH_MAX_ITERS", "7"))
    # Two full passes over the query list, min-merged: run-level drift
    # (GC pressure building through the section, VM steal/frequency
    # wander) is correlated across CONSECUTIVE samples of one query but
    # not across samples a whole pass apart — a second spread pass
    # tightens the recorded min far more per second spent than more
    # back-to-back iterations of the same query would. Within a pass,
    # adaptive best-of-N: fast queries iterate until the measured
    # budget covers runtime several times (slow queries stop at
    # min_iters — their relative jitter is small).
    timings: dict[str, float] = {}
    rows: dict[str, int] = {}
    samples: dict[str, int] = {}  # timed iterations per query (all passes)
    # Deterministic WORK counters per query (r10 verdict task #2):
    # tasks / shuffle / input / spill from the AppStatusStore, plus
    # codegen compiles, measured around ONE iteration per query (work
    # is plan-deterministic; wall is not). Reads happen OUTSIDE the
    # timed window. bench_diff flags regressions on these (compiles
    # excepted); wall-only moves annotate as environment.
    work: dict[str, dict] = {}
    try:
        from tools import work_metrics as _wm
    except Exception:  # pragma: no cover - advisory counters
        _wm = None
    # sf1's queries are heavy (multi-second, small relative jitter, and
    # expensive to repeat) — one pass; the sub-second-dominated main
    # list gets the spread second pass.
    budgets = (1.5, 0.75) if section == "main" else (1.5,)
    if section == "sf1":
        # r11: no untimed warmup pass at sf1 — it re-ran the full
        # multi-minute list once for a sub-second codegen shave per
        # query. min_iters=2 keeps the recorded min at the warm
        # sample for every sub-20s query (all of sf1), and the saved
        # ~230s funds the sf10 rotation section under the driver
        # budget (r10 verdict task #3).
        budgets = (0.0,)
    if section.startswith("sf10"):
        # pass 0 runs each query COLD (runtimes are tens of seconds;
        # warmup would double a multi-minute section to shave sub-1%
        # codegen noise). Pass 1 is the r9 verdict's paired-sample
        # requirement: a SPREAD second sample per query, min-merged —
        # single cold sf10 samples shipped noise-inflated baselines
        # (pqs18 160.1s recorded vs 110.3s on the judge's re-probe).
        # The second pass yields to the section budget when the parent
        # passes one (driver runs), never silently: the skip is logged
        # and iters records which entries stayed single-sample.
        budgets, min_iters, max_iters = (0.0, 0.0), 1, 1
    sec_t0 = time.perf_counter()
    sec_budget = float(
        os.environ.get("SPARK_GRAFT_BENCH_SECTION_BUDGET", "0") or 0
    )
    overrides = SECTION_OVERRIDES.get(scale_key, {})
    for pass_no, budget in enumerate(budgets):
        if pass_no and section.startswith("sf10") and sec_budget:
            elapsed = time.perf_counter() - sec_t0
            if elapsed * 2 + 60 > sec_budget:
                print(
                    f"# sf10 paired pass skipped: {elapsed:.0f}s elapsed"
                    f" of {sec_budget:.0f}s section budget",
                    file=sys.stderr,
                )
                break
        for name in names:
            fn = overrides.get(name) or queries[name]
            if pass_no == 0:
                if section == "main":
                    # untimed warmup: pays one-off codegen/compile/
                    # broadcast costs so the timed loop measures
                    # steady-state (the scale sections run their
                    # first timed sample cold and min-merge a second
                    # — see above)
                    rows[name] = fn(spark, sf_dir).count()
            elif section == "main" and timings[name] >= 1.5:
                continue  # ≥3 samples already; repeat cost outweighs gain
            best, iters = timings.get(name, float("inf")), 0
            measured = 0.0
            while iters < min_iters or (measured < budget and iters < max_iters):
                need_work = _wm is not None and name not in work
                if need_work:
                    w_cursor = _wm.cursor(spark)
                t0 = time.perf_counter()
                df = fn(spark, sf_dir)
                n = df.count()
                dt = time.perf_counter() - t0
                if need_work and w_cursor is not None:
                    tot, _ = _wm.totals_since(spark, w_cursor)
                    if tot is not None:
                        work[name] = _wm.compact(tot)
                best = min(best, dt)
                measured += dt
                iters += 1
                if dt >= 20.0:
                    # 20s+ queries: relative jitter is small (the
                    # same rationale as the >=1.5s pass-2 skip), and a
                    # second sample of a 50s sf1 pipeline costs more
                    # wall than it buys in precision. The bar sits
                    # WELL above the 8-12s band where a single
                    # VM-steal spike could both inflate the sample
                    # and suppress the correcting second iteration.
                    break
            if name not in rows:  # sf10 runs without a warmup pass
                rows[name] = n
            timings[name] = best
            samples[name] = samples.get(name, 0) + iters
            print(
                f"# {section} p{pass_no} {name}: {best:.3f}s"
                f" ({rows[name]} rows, {iters} iters)",
                file=sys.stderr,
            )
    timings = {k: round(v, 3) for k, v in timings.items()}
    result = {
        "queries": timings,
        "total": round(sum(timings.values()), 3),
        "calib_sec": round(calib, 3),
        # a SECOND calibration after the section: steal varies WITHIN
        # a multi-minute section, and a start-only anchor taken during
        # a fast moment inflates every normalized ratio (an r8 sf10
        # run flagged 7 queries that same-calib re-runs cleared —
        # calib 0.469 at section start vs 0.55+ all day). bench_diff
        # normalizes on the mean of the two when both exist.
        "calib_end_sec": round(_calibrate(), 3),
        # sample counts let bench_diff annotate single-sample entries
        # (a 20s+ early break or the sf10 cold pass): a flag from one
        # sample reads "re-run before believing", not proof
        "iters": samples,
    }
    if work:
        result["work"] = work
        # tiny digest that survives the driver's ~2000-char tail
        if _wm is not None:
            result["work_totals"] = _wm.section_totals(work)

    # Cross-round regression diff + CONFIRMATION PASS, in the child —
    # the only place a flagged query can be re-run in the same JVM with
    # a calibration taken in the same instants. r7/r8 both shipped
    # flags that judge re-runs cleared (anchor drift, not regressions);
    # now a flag ships only if an immediate paired sample ALSO crosses
    # the threshold, and both samples are recorded either way.
    try:
        from tools.bench_diff import compare_to_previous, confirm_flags

        sf_tag = SF_DIR.rstrip("/").split("sf")[-1]
        sf_val = float(sf_tag) if sf_tag.replace(".", "").isdigit() else None
        # sf10rot re-witnesses entries of the committed sf10 section:
        # its diff compares against the sf10 baseline numbers
        diff = compare_to_previous(
            timings,
            result["calib_sec"],
            sf=sf_val,
            section=scale_key,
            iters=samples,
            calib_end_sec=result["calib_end_sec"],
            work=work or None,
        )
        if diff and diff.get("flagged"):

            def _rerun(name: str) -> float:
                fn = overrides.get(name) or queries[name]
                best = float("inf")
                for _ in range(2):
                    t0 = time.perf_counter()
                    fn(spark, sf_dir).count()
                    dt = time.perf_counter() - t0
                    best = min(best, dt)
                    if dt >= 20.0:  # same early-break bar as the main loop
                        break
                return best

            diff = confirm_flags(diff, _rerun, _calibrate)
            for name, d in diff.get("cleared", {}).items():
                print(
                    f"# {section} flag CLEARED on re-run {name}:"
                    f" {d['cur']}s (x{d['norm_ratio']}) ->"
                    f" {d['confirm_sec']}s (x{d['confirm_norm_ratio']})",
                    file=sys.stderr,
                )
            # the confirmation sample is just another best-of-N sample
            # of the same query — min-merge it into the recorded
            # timing (the diff keeps the original `cur` as evidence).
            # A query whose every in-section sample landed in a steal
            # spike would otherwise ship the spike as its headline
            # number even after the re-run proved it healthy.
            for name, d in {
                **diff.get("cleared", {}),
                **diff["flagged"],
            }.items():
                # work-evidenced flags skip the wall re-run and carry
                # no confirm_sec
                if d.get("confirm_sec") is not None and d[
                    "confirm_sec"
                ] < result["queries"].get(name, float("inf")):
                    result["queries"][name] = d["confirm_sec"]
            result["total"] = round(sum(result["queries"].values()), 3)
        result["diff"] = diff
    except Exception as e:  # pragma: no cover - advisory path
        print(f"# bench_diff[{section}] child skipped: {e}", file=sys.stderr)
    return result


TAIL_WINDOW = 2000  # chars of merged output the driver keeps & parses from


def compact_summary(out: dict, limit: int = 1700) -> dict:
    """A summary of the cumulative record whose JSON line is
    guaranteed to fit (with margin) inside the driver's ~2000-char
    parse window: metric/value/unit/sf, every section total and
    calibration anchor, skip records, and as many of the SLOWEST
    per-query timings as fit. The full per-query record lives in
    BENCH_LATEST.json / the committed BENCH_BASELINE.json."""
    c: dict = {
        "metric": out.get("metric", "headline_queries_total"),
        "value": out.get("value"),
        "unit": "sec",
        "sf": out.get("sf"),
    }
    for k in (
        "calib_sec",
        "calib_end_sec",
        "sf1_total_sec",
        "sf1_calib_sec",
        "sf10_total_sec",
        "sf10_calib_sec",
        "budget_sec",
        "elapsed_sec",
        "skipped_sections",
        "section_errors",
        "work_totals",
        "sf1_work_totals",
        "sf10_work_totals",
        "sf10rot_queries",
        "sf10rot_total_sec",
        "sf10rot_calib_sec",
        "main_passes",
        "main2_total_sec",
        "main2_calib_sec",
        "main2_subset_n",
    ):
        if out.get(k) is not None:
            c[k] = out[k]
    q = out.get("queries") or {}
    c["queries_n"] = len(q)
    c["full_record"] = "BENCH_LATEST.json"
    picked: dict = {}
    c["queries"] = picked
    c["queries_truncated"] = True
    for name, sec in sorted(q.items(), key=lambda kv: -kv[1]):
        picked[name] = sec
        if len(json.dumps(c)) > limit:
            del picked[name]
            break
    else:
        c["queries_truncated"] = False
    return c


def _emit_lines(out: dict) -> None:
    """Cumulative emission after every section: the FULL record first
    (humans + the BENCH_LATEST.json file), then the compact summary as
    the LAST stdout line — the driver parses the last complete JSON
    line inside its tail window, which the full line outgrew in r5."""
    full = json.dumps(out)
    sys.stdout.write("\n" + full + "\n")
    sys.stdout.write(json.dumps(compact_summary(out)) + "\n")
    sys.stdout.flush()
    path = os.environ.get("SPARK_GRAFT_BENCH_LATEST") or os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_LATEST.json"
    )
    try:
        with open(path, "w") as f:
            f.write(full + "\n")
    except OSError as e:  # advisory file; never fail the run over it
        print(f"# BENCH_LATEST write skipped: {e}", file=sys.stderr)


class _Heartbeat:
    """While a section child runs (minutes of wall inside the driver's
    window), re-print the compact snapshot every ``interval`` seconds:
    a kill at ANY moment leaves a complete JSON line within the tail
    (r9's kill-time tail held nothing but child stderr). The leading
    newline guards against landing mid-line in the merged stream."""

    def __init__(self, snapshot_fn, interval: float | None = None):
        import threading

        self._fn = snapshot_fn
        self._interval = interval if interval is not None else float(
            os.environ.get("SPARK_GRAFT_BENCH_HEARTBEAT", "20")
        )
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            try:
                sys.stdout.write("\n" + self._fn() + "\n")
                sys.stdout.flush()
            except Exception:  # pragma: no cover - never kill the bench
                return

    def __enter__(self) -> "_Heartbeat":
        if self._interval > 0:
            self._t.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._t.is_alive():
            self._t.join(timeout=5)


def _spawn(
    section: str,
    section_budget: float | None = None,
    extra_env: dict[str, str] | None = None,
) -> dict:
    """One fresh subprocess per section, so no prior JVM / pytest
    state pollutes the measurement. Child stderr flows through to the
    caller's; the section result is the child's last stdout line."""
    env = dict(os.environ)
    if section_budget:
        env["SPARK_GRAFT_BENCH_SECTION_BUDGET"] = str(int(section_budget))
    if extra_env:
        env.update(extra_env)
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--section", section],
        stdout=subprocess.PIPE,
        stderr=sys.stderr,
        env=env,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"bench section {section} failed rc={proc.returncode}")
    return json.loads(proc.stdout.decode().strip().splitlines()[-1])


def _previous_full() -> dict:
    """The most recent bench record for the budget logic's
    section-duration estimates: the committed BENCH_BASELINE.json
    overlaid with BENCH_LATEST.json's keys. The overlay matters in
    both directions — a fresher 0.1 run's totals supersede the
    committed ones, while a smoke run at another sf (which writes
    BENCH_LATEST but carries no sf1/sf10 totals) must NOT erase the
    baseline's estimates."""
    here = os.path.dirname(os.path.abspath(__file__))
    merged: dict = {}
    for name in ("BENCH_BASELINE.json", "BENCH_LATEST.json"):
        try:
            with open(os.path.join(here, name)) as f:
                merged.update(json.load(f))
        except (OSError, ValueError):
            continue
    return merged


def _sf10_rotation(prev: dict, remaining: float | None) -> list[str]:
    """The per-round sf10 re-witness subset (r10 verdict task #3):
    sf10 lives in the committed baseline because a full decade section
    (~11 min) never fits the driver budget — so every round rotates
    2-3 of its 21 entries through a small official re-measurement,
    round-robin by round number, and each decade number gets
    re-witnessed by a driver artifact every ~7-10 rounds. Entries are
    taken greedily in rotation order while their baseline-projected
    cost (two paired samples + drift headroom) fits the remaining
    wall budget — an entry too big for this round's leftover is
    skipped, not silently truncated."""
    rounds = [
        int(m.group(1))
        for p in glob.glob(
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "BENCH_r*.json")
        )
        if (m := re.search(r"BENCH_r(\d+)\.json$", p))
    ]
    rnd = (max(rounds) + 1) if rounds else 0
    base = prev.get("sf10_queries") or {}
    n = len(SF10_HEADLINE)
    picked: list[str] = []
    est = 120.0  # JVM start + data-cache check + calibration
    for i in range(n):
        name = SF10_HEADLINE[(rnd * 3 + i) % n]
        cost = base.get(name, 60.0) * 2 * 1.3
        if remaining is not None and est + cost > remaining:
            continue  # try a smaller entry further along the rotation
        picked.append(name)
        est += cost
        if len(picked) == 3:
            break
    return picked


def merge_main_pass(out: dict, main_res: dict, res2: dict) -> dict:
    """Min-merge a SECOND main-section child into the cumulative
    record (r11 verdict task #4): per-query min across the two passes
    (each already a min over its own iterations), iters summed, the
    second pass's total/calibs recorded as ``main2_*`` and
    ``main_passes: 2`` so the artifact shows the discipline. Returns
    the res-shaped dict for re-adjudicating the cross-round diff on
    the merged mins — pass-1 work counters stand (the plan is the
    plan); one effective calib anchor per pass, averaged by
    compare_to_previous's start/end mean."""
    merged = {
        k: min(v, res2["queries"].get(k, v))
        for k, v in out["queries"].items()
    }
    out["queries"] = merged
    out["value"] = round(sum(merged.values()), 3)
    out["iters"] = {
        k: v + res2.get("iters", {}).get(k, 0)
        for k, v in out["iters"].items()
    }
    out["main_passes"] = 2
    out["main2_total_sec"] = res2["total"]
    out["main2_calib_sec"] = res2["calib_sec"]
    out["main2_calib_end_sec"] = res2["calib_end_sec"]
    return {
        "queries": merged,
        "calib_sec": (main_res["calib_sec"] + main_res["calib_end_sec"]) / 2,
        "calib_end_sec": (res2["calib_sec"] + res2["calib_end_sec"]) / 2,
        "iters": out["iters"],
        "work": main_res.get("work"),
    }


def pick_main2_subset(
    queries: dict[str, float],
    flagged: list[str],
    remaining: float,
    overhead: float = 150.0,
) -> tuple[list[str] | None, float]:
    """Choose the partial second-main-pass subset (r12 verdict task #4:
    the full-pass estimate `main_wall*1.2+30` never fit a driver
    window). Flagged queries first — a min-merged second sample is
    exactly what adjudicates a flag — then the slowest, greedily while
    the per-query cost estimate (~3.5x the recorded best, covering the
    untimed warmup + best-of-2 + the <1.5s spread pass) fits what is
    left after a fixed JVM-start+calibration allowance. Returns (None,
    0) when fewer than 5 entries fit — a 2-3 query pass would spend
    its whole wall on JVM start."""
    order = flagged + [
        n
        for n, _ in sorted(queries.items(), key=lambda kv: -kv[1])
        if n not in flagged
    ]
    est, picked = overhead, []
    for n in order:
        cost = queries.get(n, 1.0) * 3.5 + 1.0
        if est + cost > remaining:
            continue
        picked.append(n)
        est += cost
    if len(picked) < 5:
        return None, 0.0
    return picked, est


def _estimate_sec(section: str, prev: dict) -> float:
    """Projected wall for a scale section: last recorded total with
    headroom for drift plus a data-(re)generation allowance (the
    .localdata caches may be cold on a fresh machine)."""
    base = prev.get(f"{section}_total_sec")
    if base:
        return base * 1.5 + (120.0 if section == "sf1" else 300.0)
    return 500.0 if section == "sf1" else 1200.0


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--section":
        # child mode: emit the section result as the last stdout line
        print(json.dumps(_run_section(sys.argv[2])))
        return

    t0 = time.monotonic()
    wall_budget = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET", "1350"))
    prev = _previous_full()
    sf_tag = SF_DIR.rstrip("/").split("sf")[-1]
    sf_val = float(sf_tag) if sf_tag.replace(".", "").isdigit() else sf_tag
    out: dict = {
        "metric": "headline_queries_total",
        "value": None,
        "unit": "sec",
        "sf": sf_val,
    }
    if wall_budget:
        out["budget_sec"] = wall_budget

    def snapshot(section: str) -> str:
        snap = compact_summary(out)
        snap["in_progress"] = section
        snap["elapsed_sec"] = round(time.monotonic() - t0, 1)
        return json.dumps(snap)

    # main is never sacrificed: no budget check, just the heartbeat
    t_main0 = time.monotonic()
    with _Heartbeat(lambda: snapshot("main")):
        main_res = _spawn("main")
    main_wall = time.monotonic() - t_main0
    out.update(
        value=main_res["total"],
        queries=main_res["queries"],
        calib_sec=main_res["calib_sec"],
        calib_end_sec=main_res["calib_end_sec"],
        iters=main_res["iters"],
    )
    for wk in ("work", "work_totals"):
        if main_res.get(wk):
            out[wk] = main_res[wk]

    # Cross-round regression flagging (tools/bench_diff.py): the CHILD
    # computed the diff and ran the confirmation pass (flag -> immediate
    # paired re-run in the same JVM; only confirmed crossings stay in
    # "flagged", cleared ones move to "cleared" with both samples).
    # The parent just surfaces it. Fallback: recompute without
    # confirmation if an old/failed child didn't attach one.
    # Advisory only: never fails the run.
    def diff_section(res: dict, section: str, out_key: str) -> None:
        try:
            diff = res.get("diff")
            if diff is None:
                from tools.bench_diff import compare_to_previous

                diff = compare_to_previous(
                    res["queries"],
                    res["calib_sec"],
                    sf=sf_val if isinstance(sf_val, float) else None,
                    section=section,
                    iters=res.get("iters"),
                    calib_end_sec=res.get("calib_end_sec"),
                    work=res.get("work"),
                )
            if diff is not None:
                out[out_key] = diff
                for name, d in diff["flagged"].items():
                    single = " SINGLE-SAMPLE" if d.get("single_sample") else ""
                    if d.get("work_moved") or d.get("work_only"):
                        confirm = f" WORK-CONFIRMED {d.get('work')}"
                    elif d.get("confirmed"):
                        confirm = (
                            f" CONFIRMED {d['confirm_sec']}s"
                            f" (x{d['confirm_norm_ratio']})"
                        )
                    else:
                        confirm = ""
                    print(
                        f"# REGRESSION? [{section}] {name}: {d['prev']}s"
                        f" -> {d['cur']}s (norm x{d['norm_ratio']},"
                        f" vs r{diff['vs_round']}){single}{confirm}",
                        file=sys.stderr,
                    )
                for name, d in (diff.get("env_flags") or {}).items():
                    print(
                        f"# environment [{section}] {name}: wall"
                        f" x{d['norm_ratio']} but work unchanged"
                        f" ({d.get('work')})",
                        file=sys.stderr,
                    )
        except Exception as e:  # pragma: no cover - advisory path
            print(f"# bench_diff[{section}] skipped: {e}", file=sys.stderr)

    diff_section(main_res, "main", "bench_diff")
    _emit_lines(out)

    # scale sections, cheapest first; each is (a) cumulative-emitted
    # the moment it completes, (b) skipped — never truncated mid-run —
    # when the remaining wall budget can't cover its estimate (sf10
    # drops before sf1 by running after it), (c) survivable: a section
    # child failure records the error and the run continues.
    # sf1: heaviest queries at 10× the default bench size
    # (deterministic key-shifted replication of sf0.1 — tools/make_sf1.py)
    # sf10: heaviest data-prep pipelines at 100× (cold pass + a spread
    # paired pass when the budget allows; growth per decade is the
    # recorded signal)
    if out["sf"] == 0.1:
        for section in ("sf1", "sf10"):
            if os.environ.get(f"SPARK_GRAFT_{section.upper()}", "1") == "0":
                continue
            remaining = (
                wall_budget - (time.monotonic() - t0) if wall_budget else None
            )
            est = _estimate_sec(section, prev)
            if remaining is not None and remaining < est:
                out.setdefault("skipped_sections", {})[section] = {
                    "est_sec": round(est, 1),
                    "remaining_sec": round(remaining, 1),
                }
                print(
                    f"# {section} skipped: est {est:.0f}s >"
                    f" remaining budget {remaining:.0f}s",
                    file=sys.stderr,
                )
                _emit_lines(out)
                continue
            try:
                with _Heartbeat(lambda s=section: snapshot(s)):
                    res = _spawn(section, section_budget=remaining)
            except Exception as e:  # noqa: BLE001 - keep what we have
                out.setdefault("section_errors", {})[section] = str(e)[:200]
                print(f"# {section} FAILED: {e}", file=sys.stderr)
                _emit_lines(out)
                continue
            out[f"{section}_queries"] = res["queries"]
            out[f"{section}_total_sec"] = res["total"]
            out[f"{section}_calib_sec"] = res["calib_sec"]
            out[f"{section}_calib_end_sec"] = res["calib_end_sec"]
            out[f"{section}_iters"] = res["iters"]
            for wk in ("work", "work_totals"):
                if res.get(wk):
                    out[f"{section}_{wk}"] = res[wk]
            diff_section(res, section, f"bench_diff_{section}")
            _emit_lines(out)

        # sf10 rotation (r10 verdict task #3): when the full sf10
        # section was skipped for budget (the driver norm), re-witness
        # 2-3 of its entries round-robin so every decade number gets
        # an official artifact every few rounds.
        if (
            "sf10" in out.get("skipped_sections", {})
            and os.environ.get("SPARK_GRAFT_SF10", "1") != "0"
        ):
            remaining = (
                wall_budget - (time.monotonic() - t0) if wall_budget else None
            )
            names = _sf10_rotation(prev, remaining)
            if not names:
                out["skipped_sections"]["sf10_rotation"] = {
                    "remaining_sec": round(remaining or 0, 1)
                }
                _emit_lines(out)
            else:
                print(
                    f"# sf10 rotation this round: {','.join(names)}",
                    file=sys.stderr,
                )
                try:
                    with _Heartbeat(lambda: snapshot("sf10rot")):
                        res = _spawn(
                            "sf10rot",
                            section_budget=remaining,
                            extra_env={
                                "SPARK_GRAFT_SF10ROT_NAMES": ",".join(names)
                            },
                        )
                except Exception as e:  # noqa: BLE001 - keep what we have
                    out.setdefault("section_errors", {})["sf10rot"] = (
                        str(e)[:200]
                    )
                    print(f"# sf10rot FAILED: {e}", file=sys.stderr)
                    _emit_lines(out)
                else:
                    out["sf10rot_queries"] = res["queries"]
                    out["sf10rot_total_sec"] = res["total"]
                    out["sf10rot_calib_sec"] = res["calib_sec"]
                    out["sf10rot_calib_end_sec"] = res["calib_end_sec"]
                    out["sf10rot_iters"] = res["iters"]
                    for wk in ("work", "work_totals"):
                        if res.get(wk):
                            out[f"sf10rot_{wk}"] = res[wk]
                    diff_section(res, "sf10", "bench_diff_sf10rot")
                    _emit_lines(out)

        # Second min-merged main pass (r11 verdict task #4): driver
        # windows regularly end with unspent budget (BENCH_r11 skipped
        # sf10 with 398s left) while the single-window main total runs
        # raw-elevated vs the committed quiet baseline (99.6s vs 69.8
        # in r11 — all crossings work-demoted to environment). A whole
        # SECOND main child minutes later samples a different noise
        # window; min-merging per query is the committed baseline's
        # own min-of-three discipline applied inside the driver run.
        # Runs only under a budget (local unlimited runs just rerun),
        # only when the leftover covers the first pass's wall + 20%.
        if wall_budget:
            remaining = wall_budget - (time.monotonic() - t0)
            est2 = main_wall * 1.2 + 30
            subset: list[str] | None = None
            if remaining <= est2:
                # Full pass never fit a driver window (r12: 462s left
                # vs est 673 — the estimate inherits the first pass's
                # noise-inflated wall). r13: min-merge a PARTIAL pass
                # instead (pick_main2_subset).
                picked, est = pick_main2_subset(
                    out["queries"],
                    list((out.get("bench_diff") or {}).get("flagged") or {}),
                    remaining,
                )
                if picked:
                    subset, est2 = picked, est
            if remaining > est2:
                label = f"partial x{len(subset)}" if subset else "full"
                print(
                    f"# second main pass ({label}): {remaining:.0f}s left"
                    f" covers est {est2:.0f}s",
                    file=sys.stderr,
                )
                try:
                    with _Heartbeat(lambda: snapshot("main2")):
                        res2 = _spawn(
                            "main",
                            extra_env=(
                                {"SPARK_GRAFT_MAIN_SUBSET": ",".join(subset)}
                                if subset
                                else None
                            ),
                        )
                except Exception as e:  # noqa: BLE001 - keep pass 1
                    out.setdefault("section_errors", {})["main2"] = (
                        str(e)[:200]
                    )
                    print(f"# main2 FAILED: {e}", file=sys.stderr)
                    _emit_lines(out)
                else:
                    if subset:
                        out["main2_subset_n"] = len(subset)
                    merged_res = merge_main_pass(out, main_res, res2)
                    diff_section(merged_res, "main", "bench_diff")
                    _emit_lines(out)
            else:
                print(
                    f"# second main pass skipped: {remaining:.0f}s left"
                    f" < est {est2:.0f}s",
                    file=sys.stderr,
                )


if __name__ == "__main__":
    main()
