#!/usr/bin/env python3
"""Steadiness check: run a workload over several seeds, once or twice,
and test every end-to-end metric against its bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload ingest_stream --seeds 10 --sets 2

A set is one run per seed. Within a set, a metric's spread is the
distance between its first and third quartile as a share of its median
(`statistics.quantiles(values, n=4)`); it must stay within the bound
(setup_s is exempt). Between two sets, the second median may not be
worse than the first by more than the bound. Runs are sequential, so
they never contend for the machine.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(values: list[float]) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def worse_by(first: list[float], second: list[float], better: str) -> float:
    """How much worse the second median is than the first, as a share
    of the first (negative when it is better)."""
    a, b = statistics.median(first), statistics.median(second)
    if a == 0:
        return 0.0 if b == a else float("inf")
    return (b - a) / a if better == "lower" else (a - b) / a


def check(sets: list[dict[str, list[float]]], spec: list[dict]) -> list[str]:
    """Problems found in one or two sets of runs ({metric: values})."""
    problems = []
    for m in spec:
        name, bound = m["name"], m["bound"]
        if name != "setup_s":
            for i, s in enumerate(sets):
                sp = spread(s[name])
                if sp > bound:
                    problems.append(f"set {i + 1}: {name} spread {sp:.3f} > bound {bound}")
        if len(sets) == 2:
            w = worse_by(sets[0][name], sets[1][name], m["better"])
            if w > bound:
                problems.append(f"{name}: second median worse by {w:.3f} > bound {bound}")
    return problems


def run_once(workload: str, seed: int, seconds: int) -> tuple[dict, float, str]:
    """(result line, wall seconds, the run's CPU-steal note)."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
    steal = next((ln[2:] for ln in proc.stderr.splitlines() if ln.startswith("# cpu steal")), "")
    return json.loads(proc.stdout.strip().splitlines()[-1]), wall, steal


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--sets", type=int, choices=(1, 2), default=1)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    spec = bench["end_to_end"]
    sets = []
    for k in range(args.sets):
        values: dict[str, list[float]] = {m["name"]: [] for m in spec}
        for seed in range(args.first_seed, args.first_seed + args.seeds):
            res, wall, steal = run_once(args.workload, seed, bench["run_seconds"])
            row = {name: res["metrics"][name]["value"] for name in values}
            print(json.dumps({"set": k + 1, "seed": seed, "wall_s": round(wall, 1), "note": steal,
                              "correct": res["correct"], "attempted": res["attempted"],
                              "failed": res["failed"], **row}),
                  flush=True)
            for name, v in row.items():
                values[name].append(v)
        for name, vs in values.items():
            print(f"# set {k + 1} {name}: median {statistics.median(vs):.4g} "
                  f"spread {spread(vs):.3f}", flush=True)
        sets.append(values)
    problems = check(sets, spec)
    for p in problems:
        print(f"# FAIL {p}")
    print("# steady" if not problems else "# not steady")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
