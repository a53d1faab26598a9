"""Steadiness check: run each workload repeatedly, each run with its own seed,
and print every end-to-end metric's spread next to its bound.

    python3 perfbench/steady.py --runs 10 [--workload tile_join] [--trace]

Run from the root of a checkout. Run i uses seed i. The spread is the
distance between the first and third quartile (statistics.quantiles(values,
n=4)) as a share of the median, and the exit code is 1 when any metric's
spread exceeds its bound in BENCHMARK.json. With --trace,
one more traced run per workload prints its per-layer metrics and the tracing
overhead: traced op_p50_ms against the untraced median. Runs go one at a
time, each in its own process.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(cfg: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = cfg["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(cfg["run_seconds"]), "--trace", str(trace),
    ]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    # the run's own one-line summary and per-kind op times, as they finish
    for line in p.stderr.splitlines():
        if line.startswith("perfbench:"):
            print("   ", line[len("perfbench:"):].strip(), flush=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    return json.loads(lines[-1])


def spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        cfg = json.load(f)
    names = args.workload or [w["name"] for w in cfg["workloads"]]
    worst = 0.0
    for name in names:
        runs = [
            one_run(cfg, name, seed, 0)["metrics"] for seed in range(1, args.runs + 1)
        ]
        print(f"{name}: {args.runs} runs, seeds 1..{args.runs}")
        for m in cfg["end_to_end"]:
            vals = [r[m["name"]]["value"] for r in runs]
            s = spread(vals)
            worst = max(worst, s / m["bound"])
            print(
                f"  {m['name']:<16} median {statistics.median(vals):12.4f} {m['unit']:<8}"
                f" spread {s:7.2%}  bound {m['bound']:.0%}"
                f"  values {' '.join(f'{v:.4g}' for v in vals)}"
            )
        if args.trace:
            traced = one_run(cfg, name, 1, 1)["metrics"]
            base = statistics.median(r["op_p50_ms"]["value"] for r in runs)
            over = traced["trace.op_p50_ms"]["value"] / base - 1.0
            print(f"  tracing overhead: traced op_p50_ms {traced['trace.op_p50_ms']['value']:.1f}"
                  f" vs untraced median {base:.1f} ({over:+.1%})")
            for k, v in traced.items():
                print(f"    {k:<28} {v['value']:14.4f} {v['unit']}")
    print(f"largest spread / bound: {worst:.2f}")
    return 0 if worst <= 1.0 else 1


if __name__ == "__main__":
    sys.exit(main())
