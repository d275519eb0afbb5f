"""Cross-round bench regression comparator.

The dd12 regression (2.74s -> 4.58s, round 6) shipped in a round whose
own BENCH artifact contained the evidence — nobody diffed it against
the previous round. This module automates that diff: bench.py's parent
mode calls :func:`compare_to_previous` once per SECTION (main, sf1,
sf10) with the freshly measured timings, and any query whose
CALIB-NORMALIZED time grew beyond the threshold lands in the emitted
JSON under ``bench_diff`` / ``bench_diff_sf1`` / ``bench_diff_sf10``.
The decade sections are where scale regressions would surface first —
and where single-iteration noise needs the calib anchor most.

Calib normalization is the load-bearing part: whole runs drift ±10-15%
together with VM frequency/steal (bench.py module docstring), so raw
wall-clock ratios cross rounds are noise — query_sec/calib_sec cancels
the uniform drift. The threshold (1.3x) sits above the residual
per-query jitter band; sub-150ms queries are skipped (their relative
jitter exceeds any signal). Entries measured from a single sample in
the CURRENT run (the sf10 cold pass, 20s+ early-break queries) are
annotated ``"single_sample": true`` so a flag there is read as "re-run
before believing" rather than proof.

Parsing is ALLOW-LISTED: per-section timings are read only from inside
the literal ``"queries": {...}`` / ``"sf1_queries": {...}`` /
``"sf10_queries": {...}`` blocks of the artifact's (possibly
front-truncated) JSON line, and a scraped value must be a decimal
float — iteration counts and other future integer fields can never
masquerade as timings. Only the main section's FRONT fragment (its
opener can be cut off by the driver's tail truncation) falls back to a
marker-bounded scrape with a deny-list for embedded bench_diff
residue.
"""

from __future__ import annotations

import glob
import json
import os
import re

# flag when calib-normalized time grows beyond this
RATIO_THRESHOLD = 1.3
# WORK-metric thresholds (r10 verdict task #2): work counters (tasks,
# shuffle bytes, input rows — tools/work_metrics.py) are DETERMINISTIC
# for a fixed plan over fixed data, so they adjudicate wall flags:
# a wall crossing whose work is unchanged is an ENVIRONMENT note, not
# a regression; a strong work move flags even without a wall crossing
# (a plan regression on a faster machine). Absolute floors keep
# sub-noise counters (a 2-task probe gaining a task) from flagging.
WORK_RATIO = 1.25  # work moved => a wall flag is a real regression
WORK_STRONG_RATIO = 1.5  # work moved this much => flag wall-independent
# ``codegen_compiles`` is recorded beside these but never compared: it
# counts codegen-cache misses, which move with what ran earlier in the
# JVM (cache state), not with the plan.
WORK_FLOORS = {"tasks": 16, "shuffle_mb": 1.0, "input_rows": 10_000,
               "input_mb": 8.0}
# ...but only when the RAW wall ratio also exceeds this floor. The
# anchor exists to EXCUSE slowness on a slower machine, not to
# manufacture slowness on a faster one: a sample whose wall time is
# within 10% of the baseline's cannot evidence a regression, yet a
# fast-moment calibration (anchors measured 26% apart within minutes
# on this VM — r10's sim8 confirm: raw x1.01 "confirmed" at norm
# x1.3+) pushes its normalized ratio over the threshold. The floor
# masks a real regression only when the machine is simultaneously
# >=18% faster AND the code >=30% slower — a combination the next
# round's comparison surfaces anyway.
RAW_FLOOR = 1.1
# ignore queries faster than this (seconds) in the CURRENT run:
# relative jitter on sub-150ms queries exceeds the signal
MIN_CURRENT_SEC = 0.15

# timings are json floats (round(v, 3) of a float always serializes
# with a decimal point); integer-valued fields (iters, rows, vs_round)
# can therefore never scrape as a timing
_PAIR_RE = re.compile(r'"([A-Za-z0-9_]+)": ([0-9]+\.[0-9]+)')

# (section key, start-calib key, end-calib key) in the bench line
SECTIONS = {
    "main": ("queries", "calib_sec", "calib_end_sec"),
    "sf1": ("sf1_queries", "sf1_calib_sec", "sf1_calib_end_sec"),
    "sf10": ("sf10_queries", "sf10_calib_sec", "sf10_calib_end_sec"),
}

# per-section key of the per-query work-counter map in the bench line
WORK_KEYS = {"main": "work", "sf1": "sf1_work", "sf10": "sf10_work"}

# structural markers that bound the main section's front fragment:
# everything at or after the first of these is NOT a main timing
_CUT_MARKERS = (
    '"iters"', '"bench_diff"', '"flagged"', '"cleared"', '"sf1_queries"',
    '"sf1_iters"', '"sf10_queries"', '"sf10_iters"', '"calib_sec"',
    '"bench_diff_sf1"', '"bench_diff_sf10"', '"work"', '"work_totals"',
    '"sf1_work"', '"sf10_work"', '"env_flags"',
)

# meta floats that can precede the markers in a deep truncation
_DENY = ("value", "prev", "cur", "norm_ratio", "threshold",
         "calib_ratio", "sf", "calib_sec", "sf1_calib_sec",
         "sf10_calib_sec", "sf1_total_sec", "sf10_total_sec",
         "calib_end_sec", "sf1_calib_end_sec", "sf10_calib_end_sec",
         "prev_calib", "confirm_sec", "confirm_calib_sec",
         "confirm_norm_ratio",
         # work-counter floats (a truncation inside a work block must
         # never scrape as a query timing)
         "shuffle_read_mb", "shuffle_write_mb", "input_mb", "output_mb",
         "spill_mb", "shuffle_mb", "ratio")


def _parse_artifact(path: str) -> dict | None:
    """Extract per-section {queries, calib} maps from a driver
    BENCH_r*.json, which wraps the bench JSON line as {"tail": ...,
    "parsed": ...} — tail keeps only the LAST ~2000 chars, so the main
    section's opener is usually cut while sf1/sf10 survive intact."""
    try:
        with open(path) as f:
            doc = json.load(f)
    except (OSError, json.JSONDecodeError):
        return None
    sf = doc.get("sf")
    parsed = doc.get("parsed")
    if isinstance(parsed, dict) and "queries" in parsed:
        out = {"sf": parsed.get("sf", sf)}
        for qk, ck, cek in SECTIONS.values():
            if isinstance(parsed.get(qk), dict):
                out[qk] = parsed[qk]
                out[ck] = parsed.get(ck)
                out[cek] = parsed.get(cek)
        for wk in WORK_KEYS.values():
            if isinstance(parsed.get(wk), dict):
                out[wk] = parsed[wk]
        return out
    tail = doc.get("tail") or ""
    out = {"sf": sf}
    for qk, ck, cek in SECTIONS.values():
        m = re.search(r'"%s": \{([^{}]*)\}' % qk, tail)
        if m:
            qmap = {k: float(v) for k, v in _PAIR_RE.findall(m.group(1))}
            if qmap:
                out[qk] = qmap
        for key in (ck, cek):
            m = re.search(r'"%s": ([0-9.]+)' % key, tail)
            if m:
                out[key] = float(m.group(1))
    if "queries" not in out:
        # the main opener was truncated off the front: scrape the
        # fragment BEFORE the first structural marker (missing keys
        # just don't compare), deny-listing meta floats — a truncation
        # landing inside a non-queries block leaves either markers
        # (cut to empty) or integer pairs (rejected by the float rule)
        frag = tail
        for marker in _CUT_MARKERS:
            cut = frag.find(marker)
            if cut >= 0:
                frag = frag[:cut]
        qmap = {k: float(v) for k, v in _PAIR_RE.findall(frag)}
        for meta in _DENY:
            qmap.pop(meta, None)
        m = re.search(r'"sf": ([0-9.]+)', tail)
        if m:
            out["sf"] = float(m.group(1))
        if qmap:
            out["queries"] = qmap
    if not any(qk in out for qk, _ck, _cek in SECTIONS.values()):
        return None  # nothing real survived the truncation
    return out


def _load_baseline(repo_dir: str) -> tuple[int, dict] | None:
    """BENCH_BASELINE.json: a deliberately committed FULL bench line
    ({"round": N, ...parent-mode output...}) snapshotted once per
    round. Exists because driver BENCH_r*.json artifacts keep only
    the last ~2000 chars of the line — since r8 the main section no
    longer survives the truncation at all, so main-section diffs were
    stuck comparing against r7's partial front-fragment (15 of 70+
    queries). The baseline restores a complete same-round-or-newer
    reference for every section."""
    path = os.path.join(repo_dir, "BENCH_BASELINE.json")
    try:
        with open(path) as f:
            doc = json.load(f)
    except (OSError, json.JSONDecodeError):
        return None
    rnd = doc.get("round")
    if not isinstance(rnd, int) or not isinstance(doc.get("queries"), dict):
        return None
    return rnd, doc


def find_previous(
    repo_dir: str, sf=None, section: str = "main"
) -> tuple[int, dict] | None:
    """Latest recorded numbers carrying the requested section: the
    highest-round source among driver BENCH_r{N}.json artifacts and
    the committed BENCH_BASELINE.json snapshot (which wins ties —
    it is the complete line the artifact truncates). When ``sf`` is
    given, only records at the same scale factor qualify — a sf0.001
    smoke must not diff against a sf0.1 round (everything would
    compare meaninglessly faster)."""
    qk = SECTIONS[section][0]
    best = None
    for path in glob.glob(os.path.join(repo_dir, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        if best is None or rnd > best[0]:
            parsed = _parse_artifact(path)
            if not (parsed and parsed.get(qk)):
                continue
            if sf is not None and parsed.get("sf") not in (None, sf):
                continue
            best = (rnd, parsed)
    base = _load_baseline(repo_dir)
    if base is not None:
        rnd, doc = base
        if (
            doc.get(qk)
            and (sf is None or doc.get("sf") in (None, sf))
            and (best is None or rnd >= best[0])
        ):
            best = (rnd, doc)
    return best


def _work_moved(
    prev_w: dict, cur_w: dict, ratio_threshold: float
) -> tuple[bool, dict]:
    """Did the DETERMINISTIC work of a query grow past the threshold?
    Compares tasks, shuffle bytes (read+write), input rows and input
    bytes — the counters a plan regression moves. Spill and output
    never decide (spill depends on memory pressure, i.e. environment),
    nor do codegen compiles (cache state). Returns (moved, evidence);
    evidence carries [prev, cur] for each compared counter so the
    artifact shows the adjudication."""
    def derive(w: dict) -> dict:
        return {
            "tasks": w.get("tasks", 0),
            "shuffle_mb": round(
                w.get("shuffle_read_mb", 0) + w.get("shuffle_write_mb", 0), 3
            ),
            "input_rows": w.get("input_rows", 0),
            "input_mb": w.get("input_mb", 0),
        }

    p, c = derive(prev_w), derive(cur_w)
    moved = False
    evidence = {}
    for key, floor in WORK_FLOORS.items():
        pv, cv = p[key], c[key]
        evidence[key] = [pv, cv]
        if cv - pv > floor and (pv <= 0 or cv / pv > ratio_threshold):
            moved = True
    return moved, evidence


def _effective_calib(start: float | None, end: float | None) -> float | None:
    """One anchor per section for normalization: the MEAN of the
    start/end calibrations when both exist (steal varies WITHIN a
    multi-minute section — a start-only anchor caught at a fast moment
    inflates every normalized ratio; r8 measured exactly that on an
    sf10 run), else whichever exists."""
    vals = [v for v in (start, end) if v]
    return sum(vals) / len(vals) if vals else None


def compare_to_previous(
    queries: dict[str, float],
    calib_sec: float | None,
    repo_dir: str | None = None,
    sf=None,
    section: str = "main",
    iters: dict[str, int] | None = None,
    calib_end_sec: float | None = None,
    work: dict[str, dict] | None = None,
) -> dict | None:
    """Diff this run's timings for one section against the latest
    recorded round that carries that section. Returns a summary dict
    for the bench JSON line (or None when no prior artifact exists):

        {"vs_round": N, "calib_ratio": cur/prev,
         "flagged": {name: {"prev": s, "cur": s, "norm_ratio": r}},
         "env_flags": {name: {..., "environment": True}}}

    norm_ratio = (cur/cur_calib) / (prev/prev_calib); > 1.3 crosses.
    When either calib is missing the raw ratio is used and marked.
    ``iters`` (current run's per-query sample counts) marks flagged
    single-sample entries — one VM-steal spike during the only sample
    both lands in the artifact AND trips this flag, so those read as
    "re-run before believing".

    ``work`` (per-query deterministic counters, tools/work_metrics.py)
    is the ADJUDICATOR when both rounds carry it: a wall crossing
    whose work counters are unchanged lands in ``env_flags`` (machine
    noise by construction — the plan did the same work), not
    ``flagged``; a wall crossing whose work also moved is a confirmed
    regression; and a STRONG work move flags even without a wall
    crossing (a plan regression masked by a faster machine). Without
    work on either side, the wall-based behavior stands unchanged."""
    repo_dir = repo_dir or os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    prev = find_previous(repo_dir, sf=sf, section=section)
    if prev is None:
        return None
    rnd, art = prev
    qk, ck, cek = SECTIONS[section]
    prev_q = art[qk]
    prev_work = art.get(WORK_KEYS[section]) or {}
    cur_work = work or {}
    prev_calib = _effective_calib(art.get(ck), art.get(cek))
    cur_calib = _effective_calib(calib_sec, calib_end_sec)
    have_calib = bool(cur_calib) and bool(prev_calib)
    calib_ratio = (cur_calib / prev_calib) if have_calib else None
    flagged = {}
    env_flags = {}
    for name, cur in queries.items():
        p = prev_q.get(name)
        pw, cw = prev_work.get(name), cur_work.get(name)
        wall_entry = None
        if p is not None and p > 0 and cur >= MIN_CURRENT_SEC:
            ratio = (cur / p) / calib_ratio if have_calib else cur / p
            if ratio > RATIO_THRESHOLD and cur / p > RAW_FLOOR:
                wall_entry = {
                    "prev": p,
                    "cur": cur,
                    "norm_ratio": round(ratio, 3),
                }
                if iters is not None and iters.get(name, 0) <= 1:
                    wall_entry["single_sample"] = True
        if pw and cw:
            moved, evidence = _work_moved(pw, cw, WORK_RATIO)
            strong, _ = _work_moved(pw, cw, WORK_STRONG_RATIO)
            if wall_entry is not None:
                wall_entry["work"] = evidence
                if moved:
                    wall_entry["work_moved"] = True
                    flagged[name] = wall_entry
                else:
                    wall_entry["environment"] = True
                    env_flags[name] = wall_entry
            elif strong and p is not None:
                flagged[name] = {
                    "prev": p,
                    "cur": cur,
                    "norm_ratio": round(
                        (cur / p) / calib_ratio if have_calib else cur / p, 3
                    ) if p else None,
                    "work": evidence,
                    "work_only": True,
                }
        elif wall_entry is not None:
            flagged[name] = wall_entry
    flagged = dict(
        sorted(flagged.items(), key=lambda kv: -(kv[1]["norm_ratio"] or 0))
    )
    out = {
        "vs_round": rnd,
        "threshold": RATIO_THRESHOLD,
        "calib_normalized": have_calib,
        "flagged": flagged,
    }
    if env_flags:
        out["env_flags"] = dict(
            sorted(env_flags.items(), key=lambda kv: -kv[1]["norm_ratio"])
        )
    if calib_ratio is not None:
        out["calib_ratio"] = round(calib_ratio, 3)
    if prev_calib is not None:
        # carried for confirm_flags: the confirmation sample normalizes
        # against the SAME previous-round anchor the first pass used
        out["prev_calib"] = round(prev_calib, 3)
    return out


def confirm_flags(diff: dict | None, rerun, recalib) -> dict | None:
    """Confirmation pass for threshold crossings: every flag gets an
    immediate second paired sample before it ships in the artifact.

    r7 and r8 both shipped flags the judge had to adjudicate by hand —
    and every one turned out to be an anchor artifact (the calibration
    itself drifted 24% WITHIN one sf1 section, so a 1.3x normalized
    threshold sits inside the anchor's own noise for a start/end-mean
    anchor taken minutes away from the query). The fix is structural:
    when a query crosses the threshold, re-run it RIGHT NOW with a
    calibration taken in the same instants (``recalib()`` immediately
    before ``rerun(name)``), and keep the flag only if the paired
    sample also crosses. Both samples are recorded either way —
    confirmed flags under ``flagged`` (with ``confirmed: true``),
    cleared ones under ``cleared`` — so the artifact carries the
    adjudication instead of deferring it to the judge.

    ``rerun(name) -> float``: fresh best-of-N wall seconds for the
    query, measured by the caller in the same process/JVM.
    ``recalib() -> float``: fresh calibration anchor seconds.
    Returns a new diff dict; ``diff`` itself is not mutated.
    """
    if not diff or not diff.get("flagged"):
        return diff
    prev_calib = diff.get("prev_calib")
    confirmed: dict[str, dict] = {}
    cleared: dict[str, dict] = {}
    for name, d in diff["flagged"].items():
        if d.get("work_moved") or d.get("work_only"):
            # work counters are deterministic — the evidence IS the
            # confirmation; a wall re-run could only muddy it (and a
            # fast re-run must never clear a real plan regression)
            confirmed[name] = dict(d, confirmed=True)
            continue
        re_calib = recalib()
        re_sec = rerun(name)
        if prev_calib and re_calib:
            ratio = (re_sec / re_calib) / (d["prev"] / prev_calib)
        else:
            ratio = re_sec / d["prev"]
        d = dict(
            d,
            confirm_sec=round(re_sec, 3),
            confirm_calib_sec=round(re_calib, 3),
            confirm_norm_ratio=round(ratio, 3),
        )
        if ratio > RATIO_THRESHOLD and re_sec / d["prev"] > RAW_FLOOR:
            d["confirmed"] = True
            confirmed[name] = d
        else:
            cleared[name] = d
    out = dict(diff)
    out["flagged"] = confirmed
    if cleared:
        out["cleared"] = cleared
    return out
