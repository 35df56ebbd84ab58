"""A/A steadiness check: two (or more) sets of runs of one commit.

    python3 perfbench/aa.py [--workload W ...] [--runs 10] [--sets 2] [--traced 1]

Runs ``perfbench/run.py`` once per seed, one process at a time, with each
set on its own seeds. For every workload and end-to-end metric it prints
each set's median and quartiles, the spread (interquartile distance over
the median, as ``statistics.quantiles(n=4)`` gives them) against the
metric's bound from BENCHMARK.json, and the worst median shift between
sets. A metric passes when every set's spread is within its bound and no
set's median is worse than the first set's
by more than the bound; ``steady`` marks a spread under a third of the
bound. ``--traced N`` adds N traced runs per workload and prints the
tracing overhead: traced ``trace.latency_p50_s`` median minus the
untraced ``latency_p50_s`` median.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"run failed: {' '.join(cmd)} (exit {p.returncode})")
    return json.loads(lines[-1])


def spread(values: list) -> tuple:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3, (q3 - q1) / med if med else float("inf")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", action="append",
                    help="repeatable; default: every workload in BENCHMARK.json")
    ap.add_argument("--runs", type=int, default=10, help="runs per set")
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--traced", type=int, default=0, help="traced runs per workload")
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--seed0", type=int, default=1)
    args = ap.parse_args()
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    metrics = bench["end_to_end"]
    ok = True
    for wl in workloads:
        sets = []
        for k in range(args.sets):
            results = []
            for i in range(args.runs):
                seed = args.seed0 + 1000 * k + i
                r = run_once(wl, seed, args.seconds, 0)
                results.append(r)
                print(f"# {wl} set {k} seed {seed}: correct={r['correct']} "
                      f"failed={r['failed']}/{r['attempted']} "
                      + " ".join(f"{n}={m['value']:.4g}" for n, m in r["metrics"].items()),
                      flush=True)
                ok &= r["correct"]
            sets.append(results)
        for m in metrics:
            name, bound, lower = m["name"], m["bound"], m["better"] == "lower"
            rows, meds = [], []
            for k, results in enumerate(sets):
                vals = [r["metrics"][name]["value"] for r in results]
                q1, med, q3, sp = spread(vals)
                meds.append(med)
                within = sp <= bound
                ok &= within
                rows.append(f"set{k} median={med:.4g} q1={q1:.4g} q3={q3:.4g} "
                            f"spread={sp:.3f} {'steady' if sp < bound / 3 else ('ok' if within else 'FAIL')}")
            worse = max(((b - meds[0]) if lower else (meds[0] - b)) / meds[0] for b in meds[1:]) \
                if len(meds) > 1 and meds[0] else 0.0
            ok &= worse <= bound
            print(f"{wl} {name} [{m['unit']}] bound={bound}: " + "; ".join(rows)
                  + f"; worst median shift={worse:+.3f} {'ok' if worse <= bound else 'FAIL'}",
                  flush=True)
        if args.traced:
            traced = [run_once(wl, args.seed0 + 1000 * args.sets + i, args.seconds, 1)
                      for i in range(args.traced)]
            t_med = statistics.median(r["metrics"]["trace.latency_p50_s"]["value"] for r in traced)
            u_med = statistics.median(r["metrics"]["latency_p50_s"]["value"] for s in sets for r in s)
            print(f"{wl} tracing overhead: traced latency_p50_s median {t_med:.4g} s - "
                  f"untraced {u_med:.4g} s = {t_med - u_med:+.4g} s", flush=True)
    print("A/A: " + ("PASS" if ok else "FAIL"))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
