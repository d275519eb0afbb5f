"""tools/bench_diff.py: the cross-round regression comparator that the
r6 dd12 regression motivated — it must (a) parse driver BENCH_r*.json
artifacts whose tail is a truncated JSON line with repeated query names
across main/sf1/sf10 sections, (b) calib-normalize, (c) flag >1.3x, and
(d) never diff across scale factors."""

from __future__ import annotations

import json
import os

from tools.bench_diff import (
    _parse_artifact,
    compare_to_previous,
    confirm_flags,
    find_previous,
)


def _artifact(tmp_path, rnd, queries, calib, sf=0.1, truncate=0,
              sf1=None, bench_diff=None):
    line = {
        "metric": "headline_queries_total",
        "value": sum(queries.values()),
        "unit": "sec",
        "queries": queries,
        "calib_sec": calib,
    }
    if bench_diff:
        line["bench_diff"] = bench_diff
    line["sf"] = sf
    if sf1:
        line["sf1_queries"] = sf1
        line["sf1_calib_sec"] = calib
    tail = json.dumps(line)[truncate:]
    doc = {"n": rnd, "rc": 0, "cpus": 32, "sf": sf, "tail": tail,
           "parsed": None}
    p = os.path.join(tmp_path, f"BENCH_r{rnd:02d}.json")
    with open(p, "w") as f:
        json.dump(doc, f)
    return p


def test_parse_scrapes_main_section_only(tmp_path):
    """sf1 sections repeat main query names at 10x the data — the
    scrape must not let them overwrite main-section timings."""
    p = _artifact(
        str(tmp_path), 3, {"q_a": 1.0, "q_b": 2.0}, 0.5,
        sf1={"q_a": 9.0},
    )
    art = _parse_artifact(p)
    assert art["queries"]["q_a"] == 1.0
    assert art["calib_sec"] == 0.5 and art["sf"] == 0.1


def test_parse_ignores_embedded_bench_diff_block(tmp_path):
    """r7+ artifacts carry their own bench_diff block; its
    prev/cur/norm_ratio numbers must not scrape as phantom queries."""
    p = _artifact(
        str(tmp_path), 7, {"q_a": 1.0}, 0.5,
        bench_diff={
            "vs_round": 6, "threshold": 1.3, "calib_ratio": 1.0,
            "flagged": {"q_b": {"prev": 1.0, "cur": 2.0,
                                "norm_ratio": 2.0}},
        },
    )
    art = _parse_artifact(p)
    assert set(art["queries"]) == {"q_a"}
    assert art["calib_sec"] == 0.5


def test_truncation_inside_bench_diff_yields_no_phantom_baseline(tmp_path):
    """Front-truncation can land INSIDE the embedded bench_diff block,
    removing the cut marker itself — the residue numbers (prev/cur/
    norm_ratio/...) must not become a phantom baseline; with no real
    query keys left the artifact is rejected entirely."""
    import json as _json

    line = _json.dumps({
        "metric": "headline_queries_total", "value": 1.0, "unit": "sec",
        "queries": {"q_a": 1.0}, "calib_sec": 0.5,
        "bench_diff": {"vs_round": 6, "threshold": 1.3,
                       "calib_ratio": 1.0,
                       "flagged": {"q_b": {"prev": 1.0, "cur": 2.0,
                                           "norm_ratio": 2.0}}},
        "sf": 0.1,
    })
    cut = line.find('"flagged"')  # tail starts mid-bench_diff
    doc = {"n": 8, "rc": 0, "cpus": 32, "sf": 0.1, "tail": line[cut:],
           "parsed": None}
    p = os.path.join(str(tmp_path), "BENCH_r08.json")
    with open(p, "w") as f:
        _json.dump(doc, f)
    assert _parse_artifact(p) is None
    assert find_previous(str(tmp_path), sf=0.1) is None


def test_parse_survives_front_truncation(tmp_path):
    """Driver artifacts keep only the LINE TAIL; keys cut off the front
    simply don't compare."""
    p = _artifact(
        str(tmp_path), 4, {"q_a": 1.0, "q_b": 2.0, "q_c": 3.0}, 0.5,
        truncate=60,
    )
    art = _parse_artifact(p)
    assert "q_c" in art["queries"] and art["calib_sec"] == 0.5


def test_flags_calib_normalized_regressions(tmp_path):
    _artifact(str(tmp_path), 5, {"slow": 2.0, "same": 1.0, "tiny": 0.01},
              calib=0.5)
    # current run: calib halved (machine 2x slower) -> raw 2x is NOT a
    # regression; 'slow' grew 4x raw = 2x normalized -> flagged; 'tiny'
    # grew but sits under the 150ms floor.
    diff = compare_to_previous(
        {"slow": 8.0, "same": 2.0, "tiny": 0.1}, calib_sec=1.0,
        repo_dir=str(tmp_path), sf=0.1,
    )
    assert diff["vs_round"] == 5 and diff["calib_normalized"]
    assert list(diff["flagged"]) == ["slow"]
    assert diff["flagged"]["slow"]["norm_ratio"] == 2.0


def test_sf_mismatch_yields_no_baseline(tmp_path):
    _artifact(str(tmp_path), 6, {"q": 1.0}, 0.5, sf=0.1)
    assert find_previous(str(tmp_path), sf=0.001) is None
    assert compare_to_previous({"q": 9.0}, 0.5, repo_dir=str(tmp_path),
                               sf=0.001) is None


def test_retro_catches_the_r6_dd12_regression(tmp_path):
    """The motivating case: r6's own artifact vs r5's must flag dd12
    (2.74s -> 4.54s, ~2x calib-normalized)."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r5, r6 = (os.path.join(repo, f"BENCH_r0{n}.json") for n in (5, 6))
    if not (os.path.isfile(r5) and os.path.isfile(r6)):
        import pytest

        pytest.skip("round artifacts not present")
    import shutil

    shutil.copy(r5, str(tmp_path))
    cur = _parse_artifact(r6)
    diff = compare_to_previous(
        cur["queries"], cur["calib_sec"], repo_dir=str(tmp_path), sf=0.1
    )
    assert "dd12_semantic_dedup" in diff["flagged"]
    assert diff["flagged"]["dd12_semantic_dedup"]["norm_ratio"] > 1.8


def test_sections_parse_and_compare_against_r7_artifact(tmp_path):
    """r8 extends the comparator to the sf1/sf10 sections. The REAL r7
    artifact's tail carries both sections intact (only the main section
    is front-truncated); parsing must recover them, and a section diff
    against them must flag a planted 2x regression while leaving the
    honest entries unflagged."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r7 = os.path.join(repo, "BENCH_r07.json")
    if not os.path.isfile(r7):
        import pytest

        pytest.skip("round artifact not present")
    art = _parse_artifact(r7)
    assert art["sf1_queries"]["dd16_substring_remove"] == 11.22
    assert art["sf10_queries"]["dd12s_semantic_dedup_sampled"] == 170.954
    assert art["sf1_calib_sec"] == 0.567 and art["sf10_calib_sec"] == 0.536

    import shutil

    shutil.copy(r7, str(tmp_path))
    cur = {k: v for k, v in art["sf10_queries"].items()}
    cur["dd14_global_paragraph_dedup"] *= 2.0  # planted regression
    diff = compare_to_previous(
        cur, art["sf10_calib_sec"], repo_dir=str(tmp_path), sf=0.1,
        section="sf10", iters={k: 1 for k in cur},
    )
    assert list(diff["flagged"]) == ["dd14_global_paragraph_dedup"]
    assert diff["flagged"]["dd14_global_paragraph_dedup"]["single_sample"]
    assert diff["vs_round"] == 7 and diff["calib_ratio"] == 1.0


def test_end_calibration_mean_absorbs_intra_section_drift(tmp_path):
    """The r8 sf10 scenario: the machine sped up for the START
    calibration moment (0.47 vs 0.55+ all day) while the section ran
    slow — a start-only anchor inflated every normalized ratio and
    flagged 7 healthy queries. With an end-of-section calibration
    recorded, normalization uses the MEAN and the phantom flags
    vanish; a genuine 2x regression still flags."""
    _artifact(str(tmp_path), 9, {"q_a": 10.0, "q_b": 10.0}, calib=0.55)
    # current run: queries 30% slower raw; start calib caught a fast
    # moment (0.47 -> ratio 0.855 -> norm 1.3/0.855 = 1.52 would flag)
    # but the end calib (0.80) reveals the section-average slowdown
    flagged_start_only = compare_to_previous(
        {"q_a": 13.0, "q_b": 20.0}, calib_sec=0.47,
        repo_dir=str(tmp_path), sf=0.1,
    )
    assert "q_a" in flagged_start_only["flagged"]  # the phantom
    diff = compare_to_previous(
        {"q_a": 13.0, "q_b": 20.0}, calib_sec=0.47, calib_end_sec=0.80,
        repo_dir=str(tmp_path), sf=0.1,
    )
    # mean calib 0.635 -> ratio 1.155 -> q_a norm 1.3/1.155 = 1.13: clean
    assert "q_a" not in diff["flagged"]
    assert "q_b" in diff["flagged"]  # 2x raw stays flagged


def test_confirmation_pass_retro_against_r8_artifact(tmp_path):
    """r9: a flag ships only after an immediate paired re-run confirms
    it (r7 AND r8 both shipped flags that judge re-runs cleared — all
    anchor artifacts). Against the REAL r8 sf10 section: a planted 2x
    regression whose re-run reproduces stays flagged with both samples
    recorded; a one-sample spike whose re-run returns to baseline is
    moved to 'cleared' instead of shipping."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r8 = os.path.join(repo, "BENCH_r08.json")
    if not os.path.isfile(r8):
        import pytest

        pytest.skip("round artifact not present")
    import shutil

    shutil.copy(r8, str(tmp_path))
    art = _parse_artifact(r8)
    cur = dict(art["sf10_queries"])
    cur["dd16_substring_remove"] *= 2.0  # real regression: reproduces
    cur["dd2_minhash_lsh"] *= 2.0  # one-sample spike: re-run clears it
    diff = compare_to_previous(
        cur, art["sf10_calib_sec"], repo_dir=str(tmp_path), sf=0.1,
        section="sf10", iters={k: 1 for k in cur},
        calib_end_sec=art.get("sf10_calib_end_sec"),
    )
    assert set(diff["flagged"]) == {"dd16_substring_remove",
                                    "dd2_minhash_lsh"}
    assert diff["prev_calib"] > 0  # carried for the confirmation pass

    rerun = {
        "dd16_substring_remove":
            art["sf10_queries"]["dd16_substring_remove"] * 2.0,
        "dd2_minhash_lsh": art["sf10_queries"]["dd2_minhash_lsh"],
    }
    out = confirm_flags(diff, lambda n: rerun[n],
                        lambda: diff["prev_calib"])
    assert list(out["flagged"]) == ["dd16_substring_remove"]
    d = out["flagged"]["dd16_substring_remove"]
    assert d["confirmed"] and d["confirm_norm_ratio"] > 1.8
    c = out["cleared"]["dd2_minhash_lsh"]
    assert c["confirm_norm_ratio"] < 1.3  # paired sample at baseline
    assert c["confirm_sec"] == round(rerun["dd2_minhash_lsh"], 3)
    assert "confirmed" not in c
    # input diff not mutated; no-flag diffs pass through untouched
    assert len(diff["flagged"]) == 2
    assert confirm_flags(None, None, None) is None
    clean = {"vs_round": 8, "flagged": {}}
    assert confirm_flags(clean, None, None) is clean


def test_baseline_snapshot_preferred_over_truncated_artifact(tmp_path):
    """BENCH_BASELINE.json (a committed FULL bench line) must win over
    an equal-round truncated artifact and lose to a newer artifact;
    a baseline at a different sf must not qualify."""
    import json as _json

    # truncated round-8 artifact that lost its main section entirely
    _artifact(str(tmp_path), 8, {"q_a": 1.0}, 0.5, truncate=10_000,
              sf1={"q_s": 3.0})
    base = {"round": 8, "sf": 0.1, "queries": {"q_a": 1.2, "q_b": 2.0},
            "calib_sec": 0.5, "calib_end_sec": 0.5}
    with open(tmp_path / "BENCH_BASELINE.json", "w") as f:
        _json.dump(base, f)

    rnd, art = find_previous(str(tmp_path), sf=0.1, section="main")
    assert rnd == 8 and art["queries"]["q_b"] == 2.0  # full baseline won

    # a newer artifact that DOES carry main wins over the baseline
    _artifact(str(tmp_path), 9, {"q_a": 9.9}, 0.5)
    rnd, art = find_previous(str(tmp_path), sf=0.1, section="main")
    assert rnd == 9 and art["queries"]["q_a"] == 9.9

    # sf mismatch disqualifies the baseline
    assert find_previous(str(tmp_path), sf=0.001, section="main") is None


def test_repo_baseline_provides_full_main_section():
    """The committed snapshot itself: main-section diffs must no
    longer fall back to r7's 15-query front fragment."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if not os.path.isfile(os.path.join(repo, "BENCH_BASELINE.json")):
        import pytest

        pytest.skip("baseline not present")
    rnd, art = find_previous(repo, sf=0.1, section="main")
    assert rnd >= 9
    assert len(art["queries"]) >= 70  # the FULL main section


def test_raw_floor_blocks_anchor_manufactured_flags(tmp_path):
    """A fast-moment calibration must not manufacture a regression out
    of a query whose WALL time matches the baseline (r10's sim8
    confirm: raw x1.01 was 'confirmed' at norm x1.3+ because the
    confirm-time anchor measured 26% below the section's). Both the
    initial pass and the confirmation pass require the raw ratio to
    clear RAW_FLOOR; genuinely slower-in-wall queries still flag."""
    import json

    from tools.bench_diff import compare_to_previous, confirm_flags

    baseline = {
        "round": 9,
        "sf": 0.1,
        "queries": {"q_fixed_latency": 5.0, "q_real_regression": 5.0},
        "calib_sec": 0.6,
        "calib_end_sec": 0.6,
        "value": 10.0,
    }
    (tmp_path / "BENCH_BASELINE.json").write_text(json.dumps(baseline))

    # machine 25% faster (calib 0.45): q_fixed_latency's wall is
    # UNCHANGED (driver-latency bound — the anchor over-corrects it to
    # x1.33); q_real_regression is genuinely 40% slower in wall.
    diff = compare_to_previous(
        {"q_fixed_latency": 5.0, "q_real_regression": 7.0},
        0.45,
        repo_dir=str(tmp_path),
        sf=0.1,
        calib_end_sec=0.45,
    )
    assert "q_fixed_latency" not in diff["flagged"]  # raw x1.0: blocked
    assert "q_real_regression" in diff["flagged"]    # raw x1.4: flagged

    # confirmation pass: same rule — a confirm sample at raw x1.0
    # clears even when a fast confirm anchor inflates its norm ratio
    confirmed = confirm_flags(
        {
            "vs_round": 9,
            "prev_calib": 0.6,
            "flagged": {
                "q_fixed_latency": {"prev": 5.0, "cur": 6.8, "norm_ratio": 1.5},
                "q_real_regression": {"prev": 5.0, "cur": 7.0, "norm_ratio": 1.4},
            },
        },
        rerun=lambda n: 5.05 if n == "q_fixed_latency" else 7.1,
        recalib=lambda: 0.4,  # fast moment: norm would cross for both
    )
    assert "q_fixed_latency" in confirmed["cleared"]
    assert confirmed["flagged"]["q_real_regression"]["confirmed"] is True


# -- work-metric adjudication (r10 verdict task #2) ---------------------


def _baseline(tmp_path, rnd, queries, calib, work=None, sf=0.1):
    doc = {
        "round": rnd,
        "metric": "headline_queries_total",
        "value": sum(queries.values()),
        "unit": "sec",
        "sf": sf,
        "queries": queries,
        "calib_sec": calib,
    }
    if work:
        doc["work"] = work
    with open(os.path.join(tmp_path, "BENCH_BASELINE.json"), "w") as f:
        json.dump(doc, f)


_W = {"tasks": 120, "shuffle_read_mb": 40.0, "shuffle_write_mb": 40.0,
      "input_rows": 6_000_000, "input_mb": 300.0, "output_mb": 0.0,
      "spill_mb": 0.0}


def test_wall_flag_with_unchanged_work_is_environment(tmp_path):
    """The r10 noise pattern (8 same-code sf1 flags at norm x1.3-2.2)
    must produce ZERO flags when the work counters agree: identical
    work means the plan did the same thing — the wall moved because
    the machine did."""
    _baseline(str(tmp_path), 10, {"q_a": 1.0}, 0.5, work={"q_a": _W})
    diff = compare_to_previous(
        {"q_a": 2.0}, 0.5, repo_dir=str(tmp_path), sf=0.1,
        work={"q_a": dict(_W)},
    )
    assert diff["flagged"] == {}
    assert "q_a" in diff["env_flags"]
    assert diff["env_flags"]["q_a"]["environment"] is True
    assert diff["env_flags"]["q_a"]["work"]["tasks"] == [120, 120]


def test_wall_flag_with_moved_work_is_confirmed_regression(tmp_path):
    """Wall crossing + shuffle bytes moved past the band: a real
    regression, flagged with the work evidence attached and exempt
    from the wall confirmation re-run (deterministic evidence)."""
    _baseline(str(tmp_path), 10, {"q_a": 1.0}, 0.5, work={"q_a": _W})
    cur_w = dict(_W, shuffle_read_mb=140.0)  # 80 -> 180 MB total
    diff = compare_to_previous(
        {"q_a": 2.0}, 0.5, repo_dir=str(tmp_path), sf=0.1,
        work={"q_a": cur_w},
    )
    assert diff["flagged"]["q_a"]["work_moved"] is True
    assert diff.get("env_flags") is None

    # confirm pass: work-evidenced flags ship confirmed, no re-run
    calls = []
    out = confirm_flags(
        diff, lambda name: calls.append(name) or 0.1, lambda: 0.5
    )
    assert out["flagged"]["q_a"]["confirmed"] is True
    assert calls == []  # the wall re-run never happened


def test_strong_work_move_flags_without_wall_crossing(tmp_path):
    """A plan regression on a simultaneously faster machine: wall
    ratio under threshold, shuffle bytes x3 — flags on work alone
    (the planted-regression 'Done' criterion)."""
    _baseline(str(tmp_path), 10, {"q_a": 1.0}, 0.5, work={"q_a": _W})
    cur_w = dict(_W, shuffle_read_mb=200.0, shuffle_write_mb=40.0)
    diff = compare_to_previous(
        {"q_a": 1.05}, 0.5, repo_dir=str(tmp_path), sf=0.1,
        work={"q_a": cur_w},
    )
    assert diff["flagged"]["q_a"]["work_only"] is True


def test_small_work_jitter_under_floors_does_not_flag(tmp_path):
    """Absolute floors: a 2-task probe gaining a task or a 0.1 MB
    shuffle wobble is not a plan move."""
    _baseline(
        str(tmp_path), 10, {"q_a": 1.0}, 0.5,
        work={"q_a": {"tasks": 2, "shuffle_read_mb": 0.1,
                       "shuffle_write_mb": 0.1, "input_rows": 100,
                       "input_mb": 0.5}},
    )
    diff = compare_to_previous(
        {"q_a": 2.0}, 0.5, repo_dir=str(tmp_path), sf=0.1,
        work={"q_a": {"tasks": 3, "shuffle_read_mb": 0.3,
                       "shuffle_write_mb": 0.2, "input_rows": 150,
                       "input_mb": 0.9}},
    )
    # wall crossed but sub-floor work deltas adjudicate it as env
    assert diff["flagged"] == {}
    assert "q_a" in diff["env_flags"]


def test_missing_work_on_either_side_keeps_wall_behavior(tmp_path):
    """First round with counters vs an old baseline without them (or
    vice versa): the wall-based flag + confirmation pass stands."""
    _baseline(str(tmp_path), 10, {"q_a": 1.0}, 0.5)  # no work
    diff = compare_to_previous(
        {"q_a": 2.0}, 0.5, repo_dir=str(tmp_path), sf=0.1,
        work={"q_a": _W},
    )
    assert "q_a" in diff["flagged"]
    assert "work_moved" not in diff["flagged"]["q_a"]


def _ing(sec, calib, work=None):
    s = {"sec": sec}
    if work is not None:
        s["work"] = work
    return s


def test_ingest_diff_demotes_wall_only_crossings():
    """r11 verdict task #2: the ingest probe's cross-artifact diff
    flags a surface's wall crossing ONLY when its deterministic work
    counters also moved; wall-only crossings (this VM's unchanged
    cascade swung 63-125s across windows) demote to env_flags."""
    from tools.ingest_throughput import ingest_diff, surcharges

    w = {"tasks": 200, "shuffle_read_mb": 50.0, "shuffle_write_mb": 50.0,
         "input_rows": 10_000_000, "input_mb": 80.0, "output_mb": 5.0,
         "spill_mb": 0.0}
    prev = {
        "calib_sec": 0.5,
        "surfaces": {
            "batch_cascade": _ing(60.0, 0.5, w),
            "batch_sketch": _ing(100.0, 0.5, w),
        },
    }
    # same work, 2x wall on one surface -> environment, not regression
    cur = {
        "calib_sec": 0.5,
        "surfaces": {
            "batch_cascade": _ing(120.0, 0.5, dict(w)),
            "batch_sketch": _ing(101.0, 0.5, dict(w)),
        },
    }
    d = ingest_diff(prev, cur)
    assert d["flagged"] == {}
    assert "batch_cascade" in d["env_flags"]
    assert d["env_flags"]["batch_cascade"]["environment"] is True

    # work moved (shuffle doubled, above floor+ratio) -> real flag
    w2 = dict(w, shuffle_read_mb=120.0, shuffle_write_mb=120.0)
    cur2 = {
        "calib_sec": 0.5,
        "surfaces": {"batch_cascade": _ing(120.0, 0.5, w2)},
    }
    d2 = ingest_diff(prev, cur2)
    assert "batch_cascade" in d2["flagged"]
    assert "work_evidence" in d2["flagged"]["batch_cascade"]

    # calib normalization: machine uniformly 2x slower -> no crossing
    cur3 = {
        "calib_sec": 1.0,
        "surfaces": {"batch_cascade": _ing(120.0, 1.0, dict(w))},
    }
    assert ingest_diff(prev, cur3)["flagged"] == {}

    # no previous artifact -> no diff
    assert ingest_diff(None, cur) is None
    assert ingest_diff({}, cur) is None


def test_ingest_surcharges_report_paired_work_deltas():
    from tools.ingest_throughput import surcharges

    wa = {"tasks": 100, "shuffle_read_mb": 10.0}
    wb = {"tasks": 130, "shuffle_read_mb": 25.0}
    s = surcharges({
        "batch_10s": _ing(30.0, 0.5, wa),
        "batch_cascade": _ing(60.0, 0.5, wb),
        "batch_sketch": _ing(100.0, 0.5),  # no work -> wall-only entry
    })
    assert s["cascade_over_10s"]["wall_sec"] == 30.0
    assert s["cascade_over_10s"]["work_delta"]["tasks"] == 30
    assert s["cascade_over_10s"]["work_delta"]["shuffle_read_mb"] == 15.0
    assert s["sketch_over_cascade"] == {"wall_sec": 40.0}
    assert "stats_over_sketch" not in s


def test_ingest_diff_raw_floor_blocks_calib_artifacts():
    """A surface whose RAW wall improved cannot flag no matter what a
    fast-moment calibration says (bench_diff's RAW_FLOOR rule in the
    ingest probe — reproduces the first r12 sf1 run: raw x0.7
    normalized to x1.97 by a polluted calib)."""
    from tools.ingest_throughput import ingest_diff

    prev = {"calib_sec": 0.5, "surfaces": {"batch_10s": {"sec": 8.9}}}
    cur = {"calib_sec": 1.7, "surfaces": {"batch_10s": {"sec": 6.3}}}
    d = ingest_diff(prev, cur)
    assert d["flagged"] == {} and "env_flags" not in d
    # but a genuine raw growth without work evidence still surfaces
    cur2 = {"calib_sec": 0.5, "surfaces": {"batch_10s": {"sec": 13.0}}}
    assert "batch_10s" in ingest_diff(prev, cur2)["flagged"]


def test_codegen_compiles_never_decide_a_flag(tmp_path):
    """Codegen compiles count cache misses, which move with what ran
    earlier in the JVM: a jump in them is neither a work-only flag nor
    evidence that turns a wall crossing into a regression."""
    _baseline(str(tmp_path), 10, {"q_a": 1.0}, 0.5,
              work={"q_a": dict(_W, codegen_compiles=0)})
    cur_w = dict(_W, codegen_compiles=500)
    quiet = compare_to_previous(
        {"q_a": 1.05}, 0.5, repo_dir=str(tmp_path), sf=0.1,
        work={"q_a": cur_w},
    )
    assert quiet["flagged"] == {}
    crossed = compare_to_previous(
        {"q_a": 2.0}, 0.5, repo_dir=str(tmp_path), sf=0.1,
        work={"q_a": cur_w},
    )
    assert crossed["flagged"] == {}
    assert crossed["env_flags"]["q_a"]["environment"] is True
