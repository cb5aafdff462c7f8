"""Steadiness helper: repeat a workload over several seeds and print, per
metric, the median, quartiles and spreads that set BENCHMARK.json's bounds.

    python3 perfbench/steady.py --workload analytics --runs 10 [--trace 1]

Runs are sequential, each a fresh ``run.py`` process with seed
``first_seed + i`` and BENCHMARK.json's ``run_seconds``.  ``iqr/med`` is the quartile distance as a share of
the median (what the bound must exceed); ``range/med`` is max minus min.
With ``--trace 1`` it also runs the untraced command for the same seeds
and prints the tracing overhead: the drop of ``trace.ops_per_s`` against
the untraced ``ops_per_s``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.stats import spread  # noqa: E402


def run_seconds() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)["run_seconds"]


def run_once(workload: str, seed: int, trace: int) -> tuple[dict, float]:
    cmd = [
        sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(run_seconds()), "--trace", str(trace),
    ]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=False)
    wall = time.perf_counter() - t0
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"seed {seed}: exit code {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1]), wall


def collect(args, trace: int) -> dict[str, list[float]]:
    values: dict[str, list[float]] = {"wall_s": []}
    for i in range(args.runs):
        res, wall = run_once(args.workload, args.first_seed + i, trace)
        if not res["correct"] or res["failed"]:
            print(f"seed {args.first_seed + i}: {res['failed']}/{res['attempted']} failed")
        values["wall_s"].append(wall)
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {args.first_seed + i} trace {trace}: {wall:.1f} s", flush=True)
    return values


def report(values: dict[str, list[float]]) -> None:
    print(f"{'metric':44s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'iqr/med':>8s} {'range/med':>9s}")
    for name, vs in values.items():
        if len(vs) < 2 or not any(vs):
            continue
        s = spread(vs)
        print(
            f"{name:44s} {s['median']:12.5g} {s['q1']:12.5g} {s['q3']:12.5g} "
            f"{s['iqr_share']:8.3f} {s['range_share']:9.3f}"
        )


def main() -> None:
    ap = argparse.ArgumentParser(description="repeat a workload and print metric spreads")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    values = collect(args, args.trace)
    report(values)
    if args.trace:
        plain = collect(args, 0)
        report(plain)
        traced = spread(values["trace.ops_per_s"])["median"]
        untraced = spread(plain["ops_per_s"])["median"]
        print(
            f"tracing overhead: ops_per_s {untraced:.5g} untraced, {traced:.5g} traced "
            f"({100 * (1 - traced / untraced):+.2f}%)"
        )


if __name__ == "__main__":
    main()
