"""Run every workload untraced and traced for one seed, print every
end-to-end metric with its unit, and write the traced-run record.

    python3 perfbench/report.py [--seed 1] [--seconds 10] [--plant wrong|raise]

The record (``perfbench/results/traced_run.json``) holds, per
workload: the end-to-end metrics of the untraced run, the per-layer
metrics of the traced run, the self time of each span name per op, the
tracing overhead (traced minus untraced op and pass times) and the
reconciliation of span self times with op wall time. With ``--plant`` only
the untraced runs are made, with the fault injected, and nothing is
written.
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import statistics
import subprocess
import sys

import run
import spans

#: the span self times of an op must add up to its wall time within this
#: share of it, or within RECONCILE_SLACK_S on ops too short for a share to
#: cover the tracer's own py4j calls (a few ms)
RECONCILE_TOLERANCE = 0.02
RECONCILE_SLACK_S = 0.01
RECORD = os.path.join(run.HERE, "results", "traced_run.json")


def invoke(workload: str, seed: int, seconds: float, trace: int,
           plant: str | None = None) -> tuple[dict, dict]:
    """(run details line, result line) of one benchmark run."""
    cmd = [sys.executable, os.path.join(run.HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    if plant:
        cmd += ["--plant", plant]
    out = subprocess.run(cmd, cwd=run.ROOT, capture_output=True, text=True, check=True)
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def reconcile(trace: list[spans.Span], op_s: list[float]) -> dict:
    """Per op: wall time minus the sum of its spans' self times."""
    self_sum: dict[str, float] = collections.defaultdict(float)
    for s, self_s in zip(trace, spans.self_times(trace)):
        self_sum[s.op] += self_s
    gaps = [wall - self_sum[f"op{i}"] for i, wall in enumerate(op_s)]
    return {"max_gap_s": max(gaps),
            "max_gap_share": max(g / wall for g, wall in zip(gaps, op_s)),
            "tolerance": RECONCILE_TOLERANCE, "slack_s": RECONCILE_SLACK_S,
            "ok": all(abs(g) <= max(RECONCILE_TOLERANCE * wall, RECONCILE_SLACK_S)
                      for g, wall in zip(gaps, op_s))}


def self_time_by_span(trace: list[spans.Span], n_ops: int) -> dict[str, float]:
    """Mean self time per measured op of each span name."""
    measured = {f"op{i}" for i in range(n_ops)}
    out: dict[str, float] = collections.defaultdict(float)
    for s, self_s in zip(trace, spans.self_times(trace)):
        if s.op in measured:
            out[s.name] += self_s / n_ops
    return dict(sorted(out.items(), key=lambda kv: -kv[1]))


def main() -> int:
    bench = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--plant", choices=("wrong", "raise"))
    args = ap.parse_args()

    record = {"seed": args.seed, "seconds": args.seconds, "workloads": {}}
    for workload in run.WORKLOADS:
        info, result = invoke(workload, args.seed, args.seconds, 0, args.plant)
        print(f"{workload}: attempted {result['attempted']}, failed {result['failed']}, "
              f"correct {result['correct']}")
        for name, m in result["metrics"].items():
            print(f"  {name:12s} {m['value']:12.4f} {m['unit']}")
        print(f"  {'op_tail_s':12s} {info['op_tail_s']:12.4f} s   "
              f"(p{info['op_tail_percentile']} of {info['ops']} ops, "
              f"{info['op_tail_samples_beyond']} beyond)")
        print(f"  {'error_rate':12s} {info['error_rate']:12.4f} ratio")
        if args.plant:
            continue
        tinfo, traced = invoke(workload, args.seed, args.seconds, 1)
        path = os.path.join(run.WORK, f"trace-{workload}-{args.seed}.json")
        trace = [spans.Span(**s) for s in json.load(open(path))]
        e2e = {k: m["value"] for k, m in result["metrics"].items()}
        traced_e2e = {"op_p50_s": statistics.median(tinfo["op_s"]),
                      "pass_s": statistics.median(tinfo["pass_s"])}
        record["workloads"][workload] = {
            "env": info["env"],
            "end_to_end": e2e,
            "error_rate": info["error_rate"],
            "op_tail": {"s": info["op_tail_s"], "percentile": info["op_tail_percentile"],
                        "samples_beyond": info["op_tail_samples_beyond"], "ops": info["ops"]},
            "tracing_overhead_s": {k: v - e2e[k] for k, v in traced_e2e.items()},
            "per_layer": {k: m["value"] for k, m in traced["metrics"].items()},
            "self_time_per_op_s": self_time_by_span(trace, len(tinfo["op_s"])),
            "reconciliation": reconcile(trace, tinfo["op_s"]),
            "traced_correct": traced["correct"],
        }
        print(f"  tracing overhead {record['workloads'][workload]['tracing_overhead_s']}")
        print(f"  reconciliation {record['workloads'][workload]['reconciliation']}")
    if not args.plant:
        os.makedirs(os.path.dirname(RECORD), exist_ok=True)
        with open(RECORD, "w") as f:
            json.dump(record, f, indent=1, sort_keys=True)
            f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
