#!/usr/bin/env python
"""Per-query bench regression guard.

The shared box drifts ±30% run-to-run, so TOTAL wall-clock comparisons
need a human eye — but a >2x single-query regression is almost always a
real plan change (lost broadcast, lost pushdown, lost cache), not box
noise.  This script makes that check mechanical:

    python scripts/check_bench.py                 # run bench.py, compare
    python scripts/check_bench.py CURRENT.json    # compare an existing run
    python scripts/check_bench.py --record [CURRENT.json]
                                                  # (re)write the recorded
                                                  # per-query reference

The recorded reference is ``BENCH_RECORDED.json`` at the repo root: one
flat ``{query: best_of_N_seconds}`` map over headline + secondary sets,
captured at sf0.1 on this box.  Comparison rules:

- **box-speed normalization**: bench.py runs a fixed-shape calibration
  probe (same synthetic job every round) and stamps its best-of-3 into
  the run; when both the recorded reference and the current run carry
  one, every current timing is divided by
  ``clamp(cal_current / cal_recorded, 0.5, 3.0)`` before comparison —
  a uniformly slower box (round 6 measured -40%) cancels out, while a
  single-query plan regression does not (the probe moved, the query
  moved MORE);
- **scheduling-constant normalization** (round-10 VERDICT item 3): the
  compute probe is blind to per-job scheduling drift — round 10's
  driver run had the compute probe at 1.25x while 40-141-job entries
  (recursive-CTE ladders, ALS sweeps) sat 3-4.4x. bench.py therefore
  also runs a scheduling probe (seconds per trivial single-task job,
  best-of-3) and stamps it as ``scheduling``; entries whose RECORDED
  ``jobs`` count exceeds the threshold (default 12,
  ``BENCH_GUARD_JOBS_THRESHOLD``) are normalized by
  ``clamp(sched_current / sched_recorded, 0.5, 5.0)`` — or, when both
  probes moved the same direction, by ``max(cal, sched)`` (round-11
  ADVICE: a job-heavy but compute-DOMINATED entry on a uniformly
  compute-slower box would otherwise false-flag; drift on either axis
  is genuine box movement and may cancel).  Flagged job-heavy entries
  print BOTH per-axis normalized values for cheap adjudication.
  Entries recorded before jobs/scheduling stamping fall back to the
  compute ratio;
- **intra-run drift** (round-11 VERDICT item 2): bench.py re-samples
  its probes at start/mid/end and stamps ``probe_spread`` (max/min
  per probe); a spread above ``BENCH_GUARD_DRIFT_SPREAD`` (default
  1.5) annotates the comparison as unreliable, and ``--record``
  REFUSES such a run (override: ``BENCH_GUARD_ALLOW_DRIFT=1``) — a
  reference captured while the box is changing speed poisons every
  future comparison.  Round 13: the drift measure is the SETTLED
  spread (max/min over ``samples[1:]``) when the artifact carries
  sample arrays — every session's FIRST probe sample rides ~1.4-2.3x
  of systematic JIT warm-up (measured in four independent runs), so
  the full spread would flag every honest run; start->mid decay is
  warm-up, mid->end movement is genuine drift.  A third, I/O-shaped probe (fixed tmp-parquet
  write+read) rides the same stamps as ``io`` — STAMP-ONLY, no
  normalization routes through it (routing would need a per-entry I/O
  classification, whose misclassification re-creates the failure modes
  the other axes fixed), but it makes staging-latency drift — the axis
  the round-11 driver run's four false flags moved on while both other
  probes sat flat — visible in every artifact;
- flag when ``normalized > ratio * recorded + slack`` AND
  ``normalized > floor`` (default ratio 2.0, floor 0.5 s, slack 0.3 s).
  The additive slack (round 13) models the per-run jitter of the
  ~0.3 s/job scheduling constant: entries recorded near the floor are
  scheduling-bound regardless of job count, so a purely multiplicative
  threshold flags them on ordinary jitter — every sub-1 s flag across
  rounds 12-13 (cramers_v_pairs, kendall_w_concordance,
  token_burstiness, centroid_drift, higher_moments_report, ...)
  adjudicated clear with solo raw re-measures at 1.0-1.7x, while every
  adjudication-worthy excursion (>=2 s absolute move) still clears the
  slack. A real regression on a tiny entry still flags: 0.3 s -> 3 s
  exceeds 2x + 0.3 s comfortably;
- queries present only on one side are reported informationally, never
  fatal (new operators land before they're recorded);
- every comparison also writes ``BENCH_FLAGS.json`` — a
  machine-readable flags block (entry, raw/normalized ratio, axis,
  drift annotation) that ``scripts/adjudicate.py --from-check``
  consumes directly, so a flag can never sit un-adjudicated because
  entry names had to be re-typed (round-12 VERDICT item 5);
- exit 1 iff at least one query is flagged.

Env knobs: ``BENCH_GUARD_RATIO``, ``BENCH_GUARD_FLOOR``,
``BENCH_GUARD_NO_CAL=1`` (disable normalization).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RECORDED_PATH = os.path.join(REPO, "BENCH_RECORDED.json")
SECONDARY_PATH = os.path.join(REPO, "BENCH_SECONDARY.json")
ALLQ_PATH = os.path.join(REPO, "BENCH_ALLQ.json")
FLAGS_PATH = os.path.join(REPO, "BENCH_FLAGS.json")


def flags_block(
    regs: list[tuple[str, float, float]],
    rec_jobs: dict[str, int],
    cal: float,
    sched: float | None,
    jobs_threshold: int,
    headline: dict,
    drifty: dict[str, float],
    ratio: float,
    floor: float,
) -> dict:
    """Machine-readable flags artifact (round-12 VERDICT item 5): every
    comparison writes this beside its printed output so
    ``adjudicate.py --from-check`` consumes the EXACT flag set the
    guard computed — a driver-run flag can no longer sit un-adjudicated
    for a round because someone had to re-type entry names.  Pure
    function, pinned in tests/test_bench_guard.py."""
    flags = []
    for name, rec, cur in regs:
        njobs = int(rec_jobs.get(name, 0))
        denom, axis = effective_denom(cal, sched, njobs, jobs_threshold)
        flags.append({
            "name": name,
            "recorded": rec,
            "current": cur,
            "raw_ratio": round(cur / rec, 3),
            "normalized": round(cur / denom / rec, 3),
            "axis": axis,
            "jobs": njobs,
        })
    return {
        "note": "bench-guard flags for scripts/adjudicate.py --from-check",
        "run_id": headline.get("run_id"),
        "sf": headline.get("sf"),
        "ratio": ratio,
        "floor": floor,
        "cal_ratio": round(cal, 4),
        "sched_ratio": round(sched, 4) if sched is not None else None,
        "drift_unreliable": sorted(drifty),
        "flags": flags,
    }


def effective_denom(
    cal_ratio: float,
    sched_ratio: float | None,
    njobs: int,
    jobs_threshold: int = 12,
) -> tuple[float, str]:
    """(denominator, axis label) normalizing one entry's current time.

    Few-job entries (or runs without a scheduling probe) divide by the
    compute ratio.  Job-heavy entries are scheduling-shaped — but a
    job-heavy, compute-DOMINATED entry on a uniformly compute-slower
    box would false-flag if only the scheduling ratio applied (round-11
    ADVICE, the mirror image of the round-10 failure the axis fixed).
    So when both probes moved the same direction, the entry divides by
    ``max(cal, sched)``: genuine box drift on EITHER axis cancels,
    while a query that moved beyond both still flags.  When the probes
    moved in opposite directions the scheduling ratio alone applies
    (the pre-round-12 behavior — there is no coherent combined model
    for contrary drift, and main() prints both normalized values so a
    flag is cheap to adjudicate either way)."""
    if sched_ratio is None or njobs <= jobs_threshold:
        return cal_ratio, "box"
    if (cal_ratio - 1.0) * (sched_ratio - 1.0) >= 0:
        denom = max(cal_ratio, sched_ratio)
        return denom, ("sched" if denom == sched_ratio else "box(max)")
    return sched_ratio, "sched"


def compare(
    recorded: dict[str, float],
    current: dict[str, float],
    ratio: float = 2.0,
    floor: float = 0.5,
    cal_ratio: float = 1.0,
    sched_ratio: float | None = None,
    jobs_recorded: dict[str, int] | None = None,
    jobs_threshold: int = 12,
    slack: float = 0.3,
) -> tuple[list[tuple[str, float, float]], list[str], list[str]]:
    """Return (regressions, only_recorded, only_current).

    A regression is (name, recorded_s, current_s) where the
    box-normalized current time exceeds ``ratio * recorded + slack``
    and the absolute ``floor``.  The additive ``slack`` (round 13)
    absorbs the per-run jitter of the scheduling constant on entries
    recorded near the floor — a multiplicative bar alone lets a 0.3 s
    entry "double" on ~0.3 s of ordinary jitter (nine such flags
    across rounds 12-13, every one adjudicated clear at 1.0-1.7x solo
    raw).  The normalizing denominator per entry is
    :func:`effective_denom` — the compute-probe ratio for few-job
    entries, the scheduling axis (or the same-direction max of both
    axes, round-11 ADVICE) for entries whose RECORDED ``jobs`` count
    exceeds ``jobs_threshold``.  ``sched_ratio=None`` (no probe on one
    side) falls back to ``cal_ratio`` for every entry.
    """
    jobs_recorded = jobs_recorded or {}
    regressions = []
    for name in sorted(set(recorded) & set(current)):
        rec, cur = float(recorded[name]), float(current[name])
        denom, _ = effective_denom(
            cal_ratio, sched_ratio, int(jobs_recorded.get(name, 0)),
            jobs_threshold,
        )
        ncur = cur / denom
        if ncur > floor and ncur > ratio * rec + slack:
            regressions.append((name, rec, cur))
    only_recorded = sorted(set(recorded) - set(current))
    only_current = sorted(set(current) - set(recorded))
    return regressions, only_recorded, only_current


def calibration_ratio(
    recorded_cal: float | None, current_cal: float | None
) -> float:
    """Probe-based box-speed ratio, clamped to [0.5, 3.0] so probe
    noise or a pathological probe run can't swing the guard more than
    the box plausibly drifts.  Returns 1.0 (no normalization) when
    either side lacks a probe measurement or it is non-positive."""
    if not recorded_cal or not current_cal:
        return 1.0
    if recorded_cal <= 0 or current_cal <= 0:
        return 1.0
    return min(3.0, max(0.5, float(current_cal) / float(recorded_cal)))


def scheduling_ratio(
    recorded_sched: float | None, current_sched: float | None
) -> float | None:
    """Scheduling-constant current/recorded ratio, clamped to
    [0.5, 5.0] — wider than the compute clamp because the observed
    drift is wider (round-10: 3-4.4x on job-count-dominated entries at
    a 1.25x compute probe).  Returns None (caller falls back to the
    compute ratio) when either side lacks a probe value."""
    if not recorded_sched or not current_sched:
        return None
    if recorded_sched <= 0 or current_sched <= 0:
        return None
    return min(5.0, max(0.5, float(current_sched) / float(recorded_sched)))


def _flatten_run(headline_line: dict, *sidecars: dict | None) -> dict:
    """One flat {query: seconds} map from bench.py's stdout JSON line
    plus its sidecar files (BENCH_SECONDARY.json and the merged
    BENCH_ALLQ.json).

    The given run is authoritative: sidecars only FILL names it lacks
    (so feeding an old artifact never has its values silently replaced
    by a newer sidecar's).  A sidecar is only consulted when BOTH its
    ``sf`` and its ``run_id`` match the run's — a stale sidecar from a
    different scale factor would seed the reference with numbers that
    flag every query (the round-5 incident: an sf0.001 sidecar under an
    sf0.1 headline), and a sidecar from a DIFFERENT run/commit would
    silently attribute another build's timings to the given artifact
    (the commit-axis twin of the same incident).  Artifacts predating
    run_id stamping get no sidecar fill, with a note."""
    flat = dict(headline_line.get("queries", {}))
    run_id = headline_line.get("run_id")
    for sc in sidecars:
        if not sc:
            continue
        if sc.get("sf") != headline_line.get("sf"):
            print(
                f"note  skipping sidecar ({sc.get('metric')}):"
                f" sf={sc.get('sf')} != run sf={headline_line.get('sf')}",
                file=sys.stderr,
            )
            continue
        if run_id is None or sc.get("run_id") != run_id:
            print(
                f"note  skipping sidecar ({sc.get('metric')}):"
                f" run_id={sc.get('run_id')} != run's {run_id} — "
                "sidecars only complete the run that wrote them",
                file=sys.stderr,
            )
            continue
        for name, secs in sc.get("queries", {}).items():
            flat.setdefault(name, secs)
    return flat


def _sidecar_meta(
    headline: dict, *sidecars: dict | None
) -> tuple[dict[str, int], float | None]:
    """(jobs map, scheduling probe) for a run: the per-query ``jobs``
    counts and the scheduling probe ride the merged ALLQ sidecar; the
    same run_id discipline as the timing fill applies (a sidecar from a
    different run must not attribute its jobs/probe to this artifact).
    The headline's own ``scheduling`` stamp, when present, wins."""
    jobs: dict[str, int] = {}
    sched = headline.get("scheduling")
    for sc in sidecars:
        if sc and sc.get("run_id") == headline.get("run_id") \
                and headline.get("run_id") is not None:
            jobs.update(sc.get("jobs", {}))
            if sched is None:
                sched = sc.get("scheduling")
    return jobs, sched


def settled_drift(doc: dict) -> dict[str, float]:
    """Per-probe spread over the SETTLED samples only (mid/end —
    ``samples[1:]``), from an artifact's ``*_samples`` arrays.

    Round-13 refinement of the round-12 full-spread gate: the first
    probe sample of every session rides ~1.4-2.3x of JIT/codegen
    warm-up that decays over the first dozens of jobs — measured
    identically in the driver's round-12 run (cal [0.549, 0.415,
    0.379]), the round-13 record run ([0.598, 0.424, 0.348]), and
    three solo adjudication sessions.  A full max/min spread therefore
    flags EVERY honest run as "drifty" and would block re-records
    forever; the start->mid decay is systematic, while mid->end
    movement is genuine box drift.  Returns {} when an artifact lacks
    sample arrays (pre-round-12) or has fewer than 2 settled samples."""
    out: dict[str, float] = {}
    for probe in ("calibration", "scheduling", "io"):
        samples = [
            float(s) for s in (doc.get(f"{probe}_samples") or [])[1:]
            if s and s > 0
        ]
        if len(samples) >= 2:
            out[probe] = round(max(samples) / min(samples), 3)
    return out


def run_drift(headline: dict, *sidecars: dict | None) -> dict[str, float]:
    """Intra-run probe drift for each probe — round-11 VERDICT item 2:
    the start-of-run probe cannot see the box changing speed DURING the
    run, which manufactured 2x "regressions" three rounds running.

    Prefers the SETTLED spread (:func:`settled_drift` over the
    artifact's ``*_samples``, excluding the systematically
    warm-up-inflated start sample); falls back to the stamped full
    ``probe_spread`` for artifacts predating sample stamping.  Sidecar
    stamps are consulted under the same run_id discipline as the
    timing fill.  Artifacts with neither return {} (no annotation)."""
    docs = [headline] + [
        sc for sc in sidecars
        if sc and headline.get("run_id") is not None
        and sc.get("run_id") == headline.get("run_id")
    ]
    for doc in docs:
        settled = settled_drift(doc)
        if settled:
            return settled
    for doc in docs:
        spread = doc.get("probe_spread")
        if spread:
            return {k: float(v) for k, v in spread.items() if v}
    return {}


def _run_bench() -> dict:
    print("# running bench.py (a few minutes at sf0.1)...", file=sys.stderr)
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        capture_output=True,
        text=True,
        cwd=REPO,
    )
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
        raise SystemExit(f"bench.py failed rc={out.returncode}")
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
    return json.loads(line)


def main(argv: list[str]) -> int:
    record = "--record" in argv
    argv = [a for a in argv if a != "--record"]
    ratio = float(os.environ.get("BENCH_GUARD_RATIO", "2.0"))
    floor = float(os.environ.get("BENCH_GUARD_FLOOR", "0.5"))
    slack = float(os.environ.get("BENCH_GUARD_SLACK", "0.3"))

    if argv:
        with open(argv[0]) as f:
            headline = json.load(f)
    else:
        headline = _run_bench()
    sidecars = []
    for path in (SECONDARY_PATH, ALLQ_PATH):
        if os.path.exists(path):
            with open(path) as f:
                sidecars.append(json.load(f))
    current = _flatten_run(headline, *sidecars)
    if not current:
        raise SystemExit("no per-query timings in the current run")
    cur_jobs, cur_sched = _sidecar_meta(headline, *sidecars)

    drift_limit = float(os.environ.get("BENCH_GUARD_DRIFT_SPREAD", "1.5"))
    drift = run_drift(headline, *sidecars)
    drifty = {k: v for k, v in drift.items() if v > drift_limit}
    if drifty:
        print(
            "note  INTRA-RUN PROBE DRIFT: "
            + ", ".join(f"{k} spread {v:.2f}x" for k, v in drifty.items())
            + f" (limit {drift_limit:g}x) — the box changed speed DURING"
            " this run; per-query flags from it are unreliable either"
            " way (round-11 VERDICT item 2)",
            file=sys.stderr,
        )

    if record:
        # io is a stamp-only DIAGNOSTIC axis: nothing normalizes by it,
        # so its spread annotates but does not veto a record (its start
        # sample also carries a known warm-up inflation — measured 2.6x
        # start-vs-settled on an otherwise-stable box)
        drifty = {k: v for k, v in drifty.items() if k != "io"}
        if drifty and not os.environ.get("BENCH_GUARD_ALLOW_DRIFT"):
            raise SystemExit(
                "refusing --record: intra-run probe spread "
                + ", ".join(f"{k}={v:.2f}x" for k, v in drifty.items())
                + f" exceeds {drift_limit:g}x — a reference captured"
                " while the box is changing speed poisons every future"
                " comparison. Re-run on an idle box, or set"
                " BENCH_GUARD_ALLOW_DRIFT=1 to override."
            )
        with open(RECORDED_PATH, "w") as f:
            json.dump(
                {
                    "note": "per-query best-of-N reference for "
                    "scripts/check_bench.py (sf0.1, local[32])",
                    "sf": headline.get("sf"),
                    "calibration": headline.get("calibration"),
                    "scheduling": cur_sched,
                    "io": headline.get("io"),
                    "calibration_samples":
                        headline.get("calibration_samples"),
                    "scheduling_samples": headline.get("scheduling_samples"),
                    "io_samples": headline.get("io_samples"),
                    "probe_spread": headline.get("probe_spread"),
                    "jobs": cur_jobs,
                    "queries": current,
                },
                f,
                indent=1,
                sort_keys=True,
            )
        print(f"recorded {len(current)} query timings -> {RECORDED_PATH}")
        return 0

    if not os.path.exists(RECORDED_PATH):
        raise SystemExit(
            f"{RECORDED_PATH} missing — run with --record first"
        )
    with open(RECORDED_PATH) as f:
        rec_doc = json.load(f)
    recorded = rec_doc["queries"]
    if rec_doc.get("sf") != headline.get("sf"):
        raise SystemExit(
            f"recorded reference is sf={rec_doc.get('sf')} but the current "
            f"run is sf={headline.get('sf')} — not comparable; re-record or "
            "rerun bench.py at the recorded scale factor"
        )

    if os.environ.get("BENCH_GUARD_NO_CAL"):
        cal, sched = 1.0, None
    else:
        cal = calibration_ratio(
            rec_doc.get("calibration"), headline.get("calibration")
        )
        sched = scheduling_ratio(rec_doc.get("scheduling"), cur_sched)
    if cal != 1.0:
        print(
            f"note  box-speed normalization: probe "
            f"{rec_doc.get('calibration')}s recorded vs "
            f"{headline.get('calibration')}s current -> dividing current "
            f"timings by {cal:.2f}"
        )
    jobs_threshold = int(os.environ.get("BENCH_GUARD_JOBS_THRESHOLD", "12"))
    rec_jobs = rec_doc.get("jobs") or {}
    if sched is not None:
        n_sched = sum(
            1 for n in set(recorded) & set(current)
            if int(rec_jobs.get(n, 0)) > jobs_threshold
        )
        print(
            f"note  scheduling normalization: probe "
            f"{rec_doc.get('scheduling')}s/job recorded vs "
            f"{cur_sched}s/job current -> dividing the {n_sched} "
            f">{jobs_threshold}-job entries by {sched:.2f}"
        )

    regs, only_rec, only_cur = compare(
        recorded, current, ratio, floor, cal,
        sched_ratio=sched, jobs_recorded=rec_jobs,
        jobs_threshold=jobs_threshold, slack=slack,
    )
    for name in only_rec:
        print(f"note  {name}: recorded but not in current run")
    for name in only_cur:
        print(f"note  {name}: new (unrecorded) — {current[name]:.3f}s")
    for name, rec, cur in regs:
        njobs = int(rec_jobs.get(name, 0))
        denom, axis = effective_denom(cal, sched, njobs, jobs_threshold)
        line = (
            f"REGRESSION  {name}: {rec:.3f}s -> {cur:.3f}s "
            f"({cur / rec:.1f}x raw, {cur / denom / rec:.1f}x "
            f"{axis}-normalized, ratio {ratio:g}, floor {floor:g}s, "
            f"slack {slack:g}s"
        )
        if sched is not None and njobs > jobs_threshold:
            # print BOTH axes for job-heavy entries (round-11 ADVICE):
            # a false flag is then cheap to adjudicate from the output
            line += (
                f"; per-axis {cur / cal / rec:.1f}x box /"
                f" {cur / sched / rec:.1f}x sched, jobs={njobs}"
            )
        print(line + ")")
    block = flags_block(
        regs, rec_jobs, cal, sched, jobs_threshold, headline, drifty,
        ratio, floor,
    )
    with open(FLAGS_PATH, "w") as f:
        json.dump(block, f, indent=1, sort_keys=True)
    if regs:
        print(
            f"{len(regs)} per-query regression(s) — adjudicate with: "
            f"python scripts/adjudicate.py --from-check {FLAGS_PATH}"
        )
        return 1
    print(
        f"OK: {len(set(recorded) & set(current))} compared, "
        f"none above {ratio:g}x (floor {floor:g}s, cal {cal:.2f})"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
