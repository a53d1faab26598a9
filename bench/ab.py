#!/usr/bin/env python3
"""Interleaved A/B of the repository benchmark between two git refs.

    python3 bench/ab.py BASE HEAD --workload serve_mixed --pairs 10 [--seed 1]

Exports each ref's committed tree into a fresh temporary directory (`git
archive`, so nothing uncommitted in this checkout leaks into either side),
then runs `perfbench/run.py` from each export, one pair at a time, for
the `run_seconds` that `BENCHMARK.json` gives every run. Pair i
runs both sides with seed `--seed + i`, and the side that goes first
alternates between pairs, so slow drift of the host taxes both sides
alike. For each end-to-end metric in `BENCHMARK.json` it prints each side's
median and interquartile range, how many pairs HEAD won, and a verdict:

- `worse`: HEAD's median is worse than BASE's by more than the bound;
- `gain`: HEAD won at least 9 in 10 pairs and its median is better by more
  than BASE's interquartile range;
- `unresolved`: BASE's interquartile range is wider than the bound, and
  not every HEAD run is better than every BASE run;
- `ok`: none of these.

It ends with one traced run per side (`--trace 1`, seed `--seed`) and
prints, for every span either side opened, the HEAD - BASE deltas of its
median `jobs`, `task_s` and `gap_ms`, next to each side's `host.steal_frac`
and `host.calib_s`: one run, so a pointer to where a change went, not a
claim. The exports are removed at the end. Run it from the root of a checkout;
the exit code is 1 if any run failed its checks or any metric is `worse`.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("base")
    p.add_argument("head")
    p.add_argument("--workload", required=True)
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--seed", type=int, default=1, help="seed of the first pair")
    return p.parse_args(argv)


def export(ref: str, dest: str) -> str:
    """Extract ref's committed tree into dest -> the commit's sha."""
    sha = subprocess.run(
        ["git", "rev-parse", "--verify", f"{ref}^{{commit}}"],
        cwd=ROOT, check=True, capture_output=True, text=True,
    ).stdout.strip()
    tar = subprocess.run(["git", "archive", sha], cwd=ROOT, check=True, capture_output=True)
    os.makedirs(dest)
    with tarfile.open(fileobj=io.BytesIO(tar.stdout)) as t:
        t.extractall(dest)
    return sha


def run_once(
    checkout: str, workload: str, seed: int, seconds: float, trace: int = 0
) -> dict | None:
    """One perfbench run -> {metric: value}, or None if it failed."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=checkout, env=env, capture_output=True, text=True,
    )
    lines = p.stdout.strip().splitlines()
    out = json.loads(lines[-1]) if lines else {}
    if p.returncode != 0 or not out.get("correct"):
        sys.stderr.write(p.stderr[-3000:])
        return None
    return {k: m["value"] for k, m in out["metrics"].items()}


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    return tuple(statistics.quantiles(xs, n=4)) if len(xs) > 1 else (xs[0],) * 3


def summarize(metric: dict, pairs: list[tuple[dict, dict]]) -> tuple[str, str]:
    """(report line, verdict) for one end-to-end metric over complete pairs."""
    name, bound = metric["name"], metric["bound"]
    sign = 1.0 if metric["better"] == "higher" else -1.0
    base = [b[name] for b, _ in pairs]
    head = [h[name] for _, h in pairs]
    bq1, bmed, bq3 = quartiles(base)
    hq1, hmed, hq3 = quartiles(head)
    wins = sum(sign * (h - b) > 0 for b, h in zip(base, head))
    change = sign * (hmed - bmed) / abs(bmed) if bmed else 0.0
    if change < -bound:
        verdict = "worse"
    elif wins * 10 >= 9 * len(pairs) and sign * (hmed - bmed) > bq3 - bq1:
        verdict = "gain"
    elif (bq3 - bq1) > bound * abs(bmed) and not min(
        sign * h for h in head
    ) > max(sign * b for b in base):
        verdict = "unresolved"
    else:
        verdict = "ok"
    line = (
        f"{name:>15}: base {bmed:.4g} (IQR {bq1:.4g}-{bq3:.4g})"
        f"  head {hmed:.4g} (IQR {hq1:.4g}-{hq3:.4g})"
        f"  {change:+.1%} better, head won {wins}/{len(pairs)}"
        f", bound {bound:.0%}: {verdict}"
    )
    return line, verdict


def span_deltas(base: dict, head: dict) -> list[str]:
    """Per-span HEAD - BASE lines from one traced run per side."""
    spans = sorted({k.split(".")[0] for k in base if k.endswith(".wall_ms")})
    lines = [
        f"{span:>15}: "
        + ", ".join(
            f"{m} {base[f'{span}.{m}']:.4g} -> {head[f'{span}.{m}']:.4g}"
            f" ({head[f'{span}.{m}'] - base[f'{span}.{m}']:+.4g})"
            for m in ("jobs", "task_s", "gap_ms")
        )
        for span in spans
        if base[f"{span}.wall_ms"] or head[f"{span}.wall_ms"]
    ]
    host = ("host.steal_frac", "host.calib_s")
    return lines + [
        f"{'host':>15}: " + ", ".join(f"{m[5:]} {base[m]:.4g} -> {head[m]:.4g}" for m in host)
    ]


def main(argv=None) -> int:
    args = parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    work = tempfile.mkdtemp(prefix="ab-")
    try:
        sides = {}
        for side, ref in (("base", args.base), ("head", args.head)):
            sides[side] = os.path.join(work, side)
            print(f"{side}: {ref} = {export(ref, sides[side])}", flush=True)
        pairs, failed = [], 0
        for i in range(args.pairs):
            seed = args.seed + i
            order = ("base", "head") if i % 2 == 0 else ("head", "base")
            got = {s: run_once(sides[s], args.workload, seed, seconds) for s in order}
            if None in got.values():
                failed += 1
                print(f"pair {i + 1} seed {seed}: a run failed", flush=True)
                continue
            pairs.append((got["base"], got["head"]))
            print(
                f"pair {i + 1} seed {seed} ({order[0]} first): "
                + ", ".join(
                    f"{m['name']} {got['base'][m['name']]:.4g} -> {got['head'][m['name']]:.4g}"
                    for m in bench["end_to_end"]
                ),
                flush=True,
            )
        traced = {s: run_once(sides[s], args.workload, args.seed, seconds, trace=1) for s in sides}
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"{args.workload}: {len(pairs)} complete pairs, {failed} with a failed run")
    worse = False
    for metric in bench["end_to_end"] if pairs else []:
        line, verdict = summarize(metric, pairs)
        worse |= verdict == "worse"
        print(line)
    if None in traced.values():
        failed += 1
        print(f"traced seed {args.seed}: a run failed")
    else:
        print(f"traced seed {args.seed}, per-span median, base -> head (delta):")
        print("\n".join(span_deltas(traced["base"], traced["head"])))
    return 1 if failed or worse else 0


if __name__ == "__main__":
    sys.exit(main())
