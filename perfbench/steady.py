"""Steadiness check: two sets of benchmark runs of the same code.

    python3 perfbench/steady.py [--runs 10] [--workload NAME ...] [--sets 2]

Run from the repository root.  For every workload in BENCHMARK.json (or
the ones named), runs ``--runs`` untraced runs per set, each with another
seed, and prints, per end-to-end metric and set, the median, quartiles and
spread (interquartile distance over median), with a verdict: every
metric's spread must stay within its bound, and each later set's median
may not be worse than the first set's by more than the bound.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time


def quartiles(values: list[float]) -> tuple[float, float, float]:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values: list[float]) -> float:
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med


def worse_by(first: float, later: float, better: str) -> float:
    """Share by which ``later`` is worse than ``first`` (negative: better)."""
    return (later - first) / first if better == "lower" else (first - later) / first


def run_once(bench: dict, workload: str, seed: int) -> dict:
    cmd = bench["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(bench["run_seconds"]), "--trace", "0",
    ]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--seed0", type=int, default=1)
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    names = args.workload or [w["name"] for w in bench["workloads"]]
    ok = True
    for wl in names:
        sets: list[dict[str, list[float]]] = []
        for s in range(args.sets):
            vals: dict[str, list[float]] = {}
            for i in range(args.runs):
                seed = args.seed0 + s * args.runs + i
                t0 = time.perf_counter()
                res = run_once(bench, wl, seed)
                took = time.perf_counter() - t0
                if not res["correct"]:
                    print(f"{wl} seed {seed}: {res['failed']} of {res['attempted']} failed")
                    ok = False
                for k, m in res["metrics"].items():
                    vals.setdefault(k, []).append(m["value"])
                print(f"  {wl} set {s} seed {seed} ({took:.0f} s): "
                      + " ".join(f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()),
                      flush=True)
            sets.append(vals)
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            meds = []
            for s, vals in enumerate(sets):
                q1, med, q3 = quartiles(vals[name])
                sp = spread(vals[name])
                meds.append(med)
                within = sp <= bound
                ok &= within
                print(f"{wl:14s} {name:14s} set {s}: median {med:.4g} q1 {q1:.4g} q3 {q3:.4g} "
                      f"spread {sp:.3f} (bound {bound}, a third {bound / 3:.3f}) "
                      f"{'ok' if within else 'TOO WIDE'}")
            for s in range(1, len(meds)):
                w = worse_by(meds[0], meds[s], m["better"])
                good = w <= bound
                ok &= good
                print(f"{wl:14s} {name:14s} set {s} vs set 0: worse by {w:+.3f} "
                      f"{'ok' if good else 'OUT OF BOUND'}")
    print("steady" if ok else "NOT steady")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
