#!/usr/bin/env python
"""Regenerate PLANS.md from .explain("formatted") of representative queries."""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

COMMENT = {
    "tpch_q3_shipping_priority": (
        "3-way join + top-n. Both joins are BroadcastHashJoin (no shuffle "
        "join): the filtered customer dim broadcasts, and AQE converts the "
        "orders-lineitem join to broadcast at runtime from actual sizes. The "
        "final orderBy+limit plans as TakeOrderedAndProject — per-partition "
        "top-10 + single driver merge, no global sort."
    ),
    "a9_rate": (
        "The PromQL leaf shape: ONE shuffle to (bucket_ts, event_type) with "
        "partial_sum/count/min/max map-side (HashAggregate pair = the "
        "reference's worker-partial/API-merge), then the range window runs "
        "on aggregated series-resolution rows. The window's exchange is on "
        "event_type only (series partitioning) — tiny data by then."
    ),
    "s1_scan_project_filter": (
        "Filters reach the parquet scan as PushedFilters (row-group "
        "skipping) and the scan reads exactly the 5 referenced columns "
        "(ReadSchema pruning). The whole query is one WholeStageCodegen "
        "span: scan -> filter -> project without materialization."
    ),
    "a13_aggfile_route": (
        "The routed plan never touches raw events: it scans the 10s agg "
        "side table (~10^4x smaller at scale) and re-buckets with a single "
        "HashAggregate pair."
    ),
    "dd2_minhash_lsh": (
        "Narrow MinHash: signatures are per-row array expressions over the "
        "corpus scan — NO shingle explode, NO shingle shuffle; the only "
        "pre-join exchange is the tiny doc-keyed signature table, which "
        "the LSH self-join then reuses (ReusedExchange) instead of "
        "re-hashing the corpus per side. The join shuffles on (band,sig) "
        "— near-unique keys, skew-free; AQE splits any hot bucket."
    ),
    "dd3_jaccard_verify": (
        "Array-form verify: each candidate side pulls its distinct "
        "shingle ARRAY by doc id and array_intersect computes |A∩B| "
        "in-place — the exploded shingle table (corpus×tokens rows, "
        "which the classic form must distinct() and join by shingle) "
        "never exists. Candidate pairs are small, so both attach joins "
        "broadcast; at 100 TB they become id-keyed SMJs over the "
        "corpus-sized array table, still never token-sized."
    ),
    "txt7_quality_pipeline": (
        "The composed C4/Gopher cleaning pass: every gate (length, "
        "stopword ratio, uniq-token ratio, dup-3-gram ratio) is a "
        "per-row array expression, so the whole filter is ONE narrow "
        "map over the corpus scan — exactly one Exchange in the plan, "
        "the final per-source aggregate of a handful of rows."
    ),
    "tpch_q13_order_distribution": (
        "Outer-join + double aggregation: orders' ON-clause filter is "
        "pushed below the join (Filter (3) under the build side), the "
        "outer join broadcasts at this scale, and each HashAggregate pair "
        "does map-side partial counts so Exchange (9) carries one row per "
        "(custkey) and Exchange (12) one row per distinct count value. At "
        "100 TB the join becomes an SMJ on custkey and the first agg then "
        "reuses its partitioning."
    ),
    "pqs18_quantile_sketch_route": (
        "Large-range quantile served from the DDSketch bucket algebra: "
        "NO collect_list / raw-value arrays anywhere in the plan. The "
        "sketch builds with one HashAggregate pair on (step-bucket, "
        "series, log-bucket); the tumbling->sliding expansion is a "
        "map-side Generate (explode), re-merged by a second partial/final "
        "aggregate; the quantile walk is two window functions over "
        "(bucket_ts, series) — per-row state is O(1) regardless of how "
        "many raw samples the 2h range holds, which is exactly what the "
        "exact interpolated path could not guarantee."
    ),
    "cook1_metrics_tid": (
        "TID hashing entirely inside the JVM: the fold over UTF-8 bytes "
        "is expression-only (aggregate HOF; no BatchEvalPython / "
        "ArrowEvalPython anywhere), so ingest hashing scales with cores, "
        "not with Python serialization. One HashAggregate pair groups by "
        "the computed chq_tid."
    ),
    "dd11_substring_dedup": (
        "Substring-duplication candidates via winnowing collisions: ONE "
        "winnowing pass (tokenize->token-hash->gram-fold->window-min, all "
        "array expressions — each token char-folded once and gram hashes "
        "folded from k token hashes, no gram strings materialized: 2x "
        "the r4 throughput), a count window on the fingerprint "
        "partitioning applies the document-frequency cap (<= 50 docs — "
        "boilerplate phrases are the quadratic hot-key risk), and the "
        "capped fingerprint table materializes once before the pair "
        "self-join (exchange reuse misses aliased self-join branches; in "
        "production this table is persisted like the trigram index). The "
        "join shuffles on fingerprint at ~1/w of shingle volume."
    ),
    "dd12_semantic_dedup": (
        "SemDeDup: the unrolled-Lloyd assignment (broadcast centroid "
        "joins, two keyed shuffles per iteration) materializes once "
        "(localCheckpoint — aliased self-join branches don't reuse "
        "exchanges), then the pairwise cosine scan joins the clustered "
        "table to itself on the CLUSTER key only: the quadratic work is "
        "confined within a cluster's task, embeddings stay packed "
        "arrays (zip_with dot, no posexplode), and cross-cluster pairs "
        "never exist. At 100 TB, k grows with n to hold n/k — and so "
        "per-task pair count — constant. MEASURED (r6, sf1 = 10x "
        "vectors, k grown 8->80 to hold n/k at 250): 34.7s vs 7.0s "
        "cold at sf0.1 — ~5x per decade with the contract honored, "
        "route-invariant dup sets. Also measured and REJECTED: a "
        "packed-array distance route (n*k rows, in-row zip_with fold) "
        "ran 50.2s vs the long form's 34.7s at the same k=80 — "
        "higher-order-function folds are interpreted, while the long "
        "form's per-dim join pipeline is whole-stage-codegen'd and its "
        "map-side partial aggregation already collapses the shuffle to "
        "n*k rows, so the n*d*k intermediate rows never leave the "
        "codegen stage. The long form IS the scale plan."
    ),
    "dd13_substring_decontaminate": (
        "Substring-level benchmark decontamination: both sides reuse the "
        "winnowing scan (token-hash folds, no gram strings, no row-level "
        "distinct); the benchmark fingerprint set is tiny and BROADCAST, "
        "so the corpus side is flagged map-side and the only shuffle is "
        "the final per-doc count on the doc key. At 100 TB the persisted "
        "dd11 fingerprint table replaces the corpus-side scan entirely."
    ),
    "txt10_bm25": (
        "BM25 with zero corpus shuffles: term frequencies are array "
        "expressions over the token array (no explode), the stats pass "
        "reduces to ONE broadcast row carrying N/avgdl/idf-map, scoring "
        "is map-side against that row, and the top-20 is "
        "TakeOrderedAndProject. Two scans total; the plan shows exactly "
        "one 1-row exchange."
    ),
    "ds8_leakage_free_split": (
        "Leakage-free split: the split hash is computed on the cluster "
        "REPRESENTATIVE so cluster cohesion is by construction. The "
        "rep-attach join is deliberately UNhinted (r6): rep is one row "
        "per clustered doc — corpus-proportional at web scale, where a "
        "forced broadcast would OOM the driver — so the join keys on "
        "the scan's own doc_id and AQE's runtime size check picks "
        "broadcast only when rep actually is small (it is here). "
        "Plan-guarded: tests/test_plan_guards.py asserts no hint node."
    ),
    "ds9s_quality_sketch_filter": (
        "The windowless percentile-filter route: per-source score "
        "thresholds from the DDSketch bucket algebra (one HashAggregate "
        "pair to (source, bucket) rows, cumulative walk over a few "
        "hundred sketch rows per source), joined back as a one-row-per-"
        "source table. NO per-source sort of corpus rows anywhere — the "
        "one-task-per-source straggler the exact percent_rank route "
        "(ds9) hits when one source dominates is gone. The caller "
        "picks the route; nothing probes the corpus to choose it."
    ),
    "dd11v_substring_verify": (
        "Exact-substring verification: grams materialize ONLY for docs "
        "in candidate pairs (left-semi prune — a vanishing corpus "
        "fraction after dd11's frequency cap), matched on literal gram "
        "strings (hash collisions cannot survive), and the gaps-and-"
        "islands windows partition by (pair, diagonal) — bounded by the "
        "shorter document, never the corpus."
    ),
    "pqs43_native_histogram_quantile": (
        "Native histogram_quantile: the same shape as x1's DDSketch "
        "walk — one HashAggregate pair builds (series, bucket) counts "
        "map-side, the cumulative window runs over sketch rows only, "
        "and the linear in-bucket interpolation is pure expressions. "
        "Raw samples never shuffle; rollup tiers merge these rows by "
        "summing counts."
    ),
    "maint1_compaction_requery": (
        "Maintenance cycle (the benched part is the whole job: "
        "fragment write -> plan -> staged compaction -> swap -> "
        "re-query): the recorded plan is the re-query — a single "
        "HashAggregate pair over the compacted partition scan, "
        "certifying via the oracle hash that the crash-safe protocol "
        "lost nothing."
    ),
    "sp7_operation_latency_sketch": (
        "Metrics-from-traces through the DDSketch algebra: raw span "
        "durations reduce MAP-SIDE into (operation, bucket) counts (one "
        "HashAggregate pair), so only sketch rows — not spans — ever "
        "shuffle, and rollup tiers merge by summing counts. The "
        "quantile walk is a window over the few bucket rows per "
        "operation. sp1's exact percentile needs raw durations "
        "co-located; this is the shape that survives 100 TB of spans."
    ),
    "a8_topk": (
        "Per-bucket top-k: Spark plans the rank window as a "
        "WindowGroupLimit Partial/Final pair — a map-side top-k "
        "pre-filter before the exchange, so the per-bucket window task "
        "receives at most k rows per upstream partition, not every "
        "series. That is the two-phase rank with no extra shuffle, so "
        "the engine runs no cardinality probe and has no second route. "
        "Catalyst inserts the pair for k up to "
        "spark.sql.optimizer.windowGroupLimitThreshold (1000); above it "
        "the plan is one full window per bucket."
    ),
    "sp5_trace_rollup": (
        "Trace-tree rollup: the BFS unrolls one join per heap level, "
        "each statically pruned to ranks [2^i, 2^(i+1)) — every span "
        "row participates in exactly one join — and every join/window "
        "keys on span_trace_id, the column the span table is already "
        "laid out by, so at 100 TB all rounds reuse one partitioning. "
        "Round count comes from a one-row max-rank probe, not a "
        "driver-side loop over data."
    ),
    "tpch_q21_waiting_supplier": (
        "Decorrelated EXISTS/NOT EXISTS: lineitem is scanned once per "
        "role, each pruned to 2 columns at the scan (ReadSchema), with "
        "the non-equi suppkey residual evaluated inside the semi/anti "
        "joins. At sf0.1 every build side broadcasts (zero shuffles "
        "before the final agg); at 100 TB AQE plans the three as SMJs "
        "sharing one orderkey partitioning. The final top-20 is "
        "TakeOrderedAndProject."
    ),
    "sp8_error_trace_spans": (
        "Cross-signal correlation (error logs -> implicated traces): "
        "the trace-reference list from the log side semi-joins the span "
        "table UNhinted — at web scale every trace can carry an error, "
        "so the reference list is corpus-proportional and only AQE's "
        "runtime size check may broadcast it (the ds8 lesson). "
        "LeftSemi prunes spans before any aggregation; spans shuffle "
        "at most once, on their own trace key."
    ),
    "dd14_global_paragraph_dedup": (
        "Corpus-wide paragraph dedup (CCNet), shaped for SKEW: the hot "
        "paragraph hash IS the workload (boilerplate repeats across a "
        "large corpus fraction), so first-occurrence selection is "
        "groupBy(hash).min — whose map-side partial agg collapses hot "
        "keys to one row per mapper BEFORE the shuffle — then an "
        "unhinted join back on the hash, where AQE's skew-join splits "
        "the probe side against the 1-row-per-key build. A "
        "min-over-window on the hash partition (the tempting one-"
        "exchange form) would put every copy of the hottest paragraph "
        "in one task with no partial aggregation. Only the narrow "
        "(doc_id, source, hash, pk, length) projection shuffles — "
        "paragraph text never leaves the scan. r8 MEASURED the claim "
        "on a zipf fixture (tools/measure_skew.py; PLANS.md carries "
        "the full note): at local[32] the window form is 2.4x FASTER "
        "— this shape scans twice and the 18x-skewed hot partition "
        "costs only ~0.1s — with the crossover at cluster parallelism "
        "where the hot window partition becomes one sequential "
        "multi-billion-row task."
    ),
    "txt12s_ccnet_sketch_buckets": (
        "Windowless CCNet terciles (the r7 weak, fixed): per-language "
        "head/middle/tail boundaries come from TWO DDSketch quantile "
        "thresholds read from ONE cumulative walk over (lang, bucket) "
        "sketch rows — a few hundred per language regardless of corpus "
        "size — joined back unhinted (one row per language; AQE "
        "broadcasts). NO percent_rank anywhere in the plan "
        "(plan-guarded): the majority language of a real crawl never "
        "sorts in one task. Shares rank_buckets' sketch route with "
        "txt13; txt12 pins the exact window route."
    ),
    "dd17_decontaminate_spans": (
        "Span-level decontamination (dd13 x dd16): the benchmark "
        "fingerprint side is tiny and BROADCAST, so candidate flagging "
        "never shuffles the corpus; grams materialize only for flagged "
        "docs and their benchmark partners (left-semi prune inside the "
        "gram-run core); every window partitions by (pair, diagonal) "
        "or by one doc's own spans. Cuts only the verified >=20-token "
        "span from the corpus doc — no whole-document over-deletion."
    ),
    "ddm1_image_neardup": (
        "Perceptual-hash image dedup: ONE decode pass (payloads never "
        "shuffle; gradient bits via lead() over per-image-row windows, "
        "not a tile self-join) emits 4 band words per image, "
        "materialized once (localCheckpoint — the pair stage reads it "
        "through four joins with different key sets, whose pushed "
        "filters defeat exchange reuse; r8 review measured the "
        "un-materialized form decoding 8x). The recorded plan below "
        "is the PAIR stage over the checkpointed words — zero "
        "MapInPandas, candidates from an equi-join on (band, word) — "
        "bucketed, never all-pairs, the dd2/dd4 banding asymptote — "
        "and the popcount verify re-keys only the bounded candidate "
        "set. Plan-asserted: no BNLJ/CartesianProduct anywhere."
    ),
    "sim8_ann_frontier": (
        "ANN quality frontier: a report plan that unions the six "
        "retrieval methods' own registered plans (each with its "
        "broadcast-queries x corpus-scan shape) against the exact "
        "baselines of their target metrics, then aggregates 6 x 15 id "
        "pairs — the report itself adds nothing corpus-sized."
    ),
    "ds12_dsir_selection": (
        "DSIR importance selection: two corpus scans (the algorithm's "
        "own distribution-pass/scoring-pass shape). Bucket counts "
        "reduce to a B=64-row table — bounded by a constant, not the "
        "corpus — whose grand totals come from a single-partition "
        "window over those same 64 rows (no nested-loop join in the "
        "plan) and which re-joins by broadcast HASH join; per-document "
        "scoring shuffles once on (doc_id, bucket) with map-side "
        "partial counts; the final selection is TakeOrderedAndProject. "
        "Per-bucket log ratios are rounded once to integer ppm so "
        "per-document weights are integer sums — bit-exact in any "
        "engine and any summation order."
    ),
    "ds13_weighted_sample": (
        "Weighted sampling without replacement via deterministic "
        "Efraimidis-Spirakis keys: the whole operator is map-side key "
        "computation + TakeOrderedAndProject (per-partition heads, "
        "driver merge) — ZERO exchanges at any corpus size, and the "
        "hash-derived uniform makes the sample reproducible and "
        "restart-safe with no RNG state or coordination."
    ),
    "mm6_audio_frames": (
        "Windowed audio framing: mapInPandas over the media scan — "
        "payload bytes never shuffle, output rows are proportional to "
        "audio duration, and the per-sample math is numpy over a "
        "strided (n_frames, frame) view (the codec alone is Python by "
        "design). 16-bit samples make the energy sums exact integers, "
        "immune to summation order across engines."
    ),
    "sim7_pq_topk": (
        "Product quantization: the m*n_codes codebook is a CONSTANT-"
        "size broadcast; corpus encoding is one broadcast-hash-join "
        "pass over the scan (PQ's point — the stored index is codes, "
        "a fraction of the raw vectors); the per-query ADC table "
        "broadcasts; the shortlist re-rank is a point-lookup join "
        "over shortlist*n_queries raw vectors, unhinted. Per-query "
        "top-k windows run over shortlist-bounded groups."
    ),
    "dd15_dedup_funnel": (
        "Funnel report: every dedup stage (corpus count, exact dups, "
        "LSH candidates, verified near-dups) reduces to ONE row before "
        "the union, so the plan is four independent 1-row aggregates "
        "stacked — the heavy stages keep the same bucketed/candidate-"
        "restricted shapes dd1/dd2/dd3 are benched with, and no "
        "stage's intermediate crosses into another's."
    ),
    "chq1_sketch_interop_quantile": (
        "Binary sketch interop: the sketches-go blob decode is "
        "mapInPandas over the blob scan (payload bytes never shuffle; "
        "output rows ~ occupied buckets, not samples), the per-metric "
        "merge of multiple blobs is one (metric, bucket)-keyed "
        "HashAggregate pair — the mergeability contract — and the "
        "quantile walk windows over per-metric bucket rows, O(buckets) "
        "regardless of how many samples the sketches absorbed."
    ),
    "ds14_shard_manifest": (
        "Training-shard assignment via the two-pass distributed "
        "prefix sum: a naive global-window cumsum is a single-task "
        "sort over the corpus; instead rows bucket into 256 STATIC "
        "key ranges (monotonic in the order key), each bucket "
        "cumsums in parallel under a PARTITIONED window, the 256 "
        "bucket totals cumsum on one task (constant-size), and the "
        "offsets broadcast-join back. One data shuffle; integer "
        "sums are engine-exact, so the oracle can use the plain "
        "global-window form — same semantics, scalable execution."
    ),
    "mm7_image_patches": (
        "ViT-style patch grid: mapInPandas over the media scan — one "
        "numpy reshape to (grid_h, patch, grid_w, patch, 3) + axis "
        "sums per image; output rows proportional to image area over "
        "patch squared. 8-bit pixels and a power-of-two tile make "
        "every mean an exact double in both engines."
    ),
}


def main() -> None:
    import __spark_entry__ as entry_mod
    from lakerunner_spark.session import get_spark

    spark = get_spark(app_name="gen_plans")
    qs = entry_mod.queries()
    out = [
        "# PLANS — physical plans of representative queries (sf0.1, local[32])",
        "",
        "Generated from `.explain('formatted')`; commentary explains why each",
        "plan is the one we want at 100 TB. Regenerate: `python tools/gen_plans.py`.",
        "",
        "## Scale step: sf1 (10× rows, tools/make_sf1.py)",
        "",
        "`bench.py` re-runs the heaviest queries at sf1 (deterministic",
        "key-shifted ×10 replication of sf0.1; document replicas word-perturbed",
        "so cross-replica shingle sets are disjoint) and reports them under",
        "`sf1_queries` in the JSON line — since r5 each bench section runs in",
        "a FRESH subprocess with an untimed per-query warmup, so recorded",
        "growth is measurement, not leftover-JVM noise. Measured growth is",
        "≤9× for every query at 10× data (several sub-2× — fixed-overhead",
        "dominated at this size).",
        "",
        "r5 extends the sf1 section to the telemetry plane: a9_rate 1.2×,",
        "lqs1_log_rate ~1.3×, a13_aggfile_route 1.1×, a8_topk 1.2× at 10×",
        "rows — the PromQL/LogQL leaf shape (one HashAggregate pair to",
        "series resolution, then windows over aggregated rows) absorbs a",
        "10× denser fleet almost entirely in the map-side partial, and the",
        "agg-file route's cost tracks the 10s side table, not raw events.",
        "Plan shapes for all four are IDENTICAL at both sizes (verified",
        "post-execution executedPlan — no broadcast flips, no new",
        "exchanges).",
        "",
        "Late-r6 additions, measured at sf1 (fresh exclusive section run,",
        "calib 0.51): dd14_global_paragraph_dedup 0.37→3.72s (10.1× — linear,",
        "as a one-shuffle full-corpus op should be; plan shape identical at",
        "both sizes per check_sf1_plans, the groupBy+join skew shape holds),",
        "ds12_dsir_selection 1.28→8.04s (6.3× — sub-linear; the 64-row",
        "bucket table and its window totals are size-invariant, only the",
        "two corpus scans and the (doc,bucket) partial-agg shuffle grow).",
        "",
        "Plan shapes under AQE at sf1, vs sf0.1 (post-execution `executedPlan`):",
        "",
        "- **tpch_q3**: the orders⋈lineitem join flips BroadcastHashJoin →",
        "  SortMergeJoin; the customer dim join stays broadcast. This is the",
        "  desired asymptote — fact⋈fact shuffles on the join key, dims",
        "  broadcast — and it happened at runtime from actual sizes, no hints.",
        "- **tpch_q21**: the two lineitem self-joins flip to SortMergeJoin; the",
        "  supplier/nation dim joins stay broadcast. Same story.",
        "- **q5, q9, q18, dd2, dd3, dd10, pqs18**: identical shapes at both",
        "  sizes (dims still under the broadcast threshold; the dedup pipeline's",
        "  joins are candidate-restricted and stay small relative to the corpus).",
        "",
        "No plan degraded to BroadcastNestedLoopJoin/CartesianProduct at the",
        "larger size, and no broadcast exceeded the driver threshold.",
        "",
        "## Second decade: sf10 (100× rows, make_sf1(replicas=100))",
        "",
        "r6 adds a second measured decade for the heaviest data-prep",
        "pipelines (bench.py sf10 section, one cold iteration each).",
        "Measured per-decade growth sf1→sf10: dd11 3.9×, dd13 4.6×,",
        "dd2 ~3.8×, dd3 ~3.5× — all sub-linear per decade (the",
        "\"per-task volume held constant\" docstring claims are now",
        "measurements); pqs18 ~82× at 100× total (linear: 32 cores",
        "saturate in the second decade — the sub-linear sf1 ratio was",
        "parallel slack, not algorithmic savings).",
        "",
        "Plan shapes at sf10 (tools/check_sf1_plans.py --sf10):",
        "dd2's band-bucket self-join and pqs18's series join flip",
        "BHJ→SMJ under AQE (the desired fact⋈fact asymptote), dd3 keeps",
        "its candidate-attach broadcasts, dd11/dd13 are shape-identical",
        "across all three sizes. Zero BNLJ/CartesianProduct at sf10.",
        "",
        "Late-r6: dd14_global_paragraph_dedup's second decade measures",
        "4.39s→14.55s (3.3×/decade, sub-linear) with an IDENTICAL plan",
        "shape — the groupBy(hash).min 'firsts' side stays under the",
        "broadcast threshold because DISTINCT paragraph hashes grow far",
        "slower than paragraph rows (dedup is the point); when a real",
        "crawl pushes it past the threshold, the unhinted join flips to",
        "SMJ with AQE skew-split, which is the designed asymptote.",
        "",
    ]
    for name, note in COMMENT.items():
        df = qs[name](spark, SF)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        tree = buf.getvalue().split("\n\n")[0]
        out += [f"## {name}", "", note, "", "```", tree.strip(), "```", ""]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("PLANS.md regenerated")


if __name__ == "__main__":
    main()
