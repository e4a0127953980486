#!/usr/bin/env python3
"""Run one workload several times, one seed per run, and print each
metric's quartiles and spread, to set and re-check the bounds in
BENCHMARK.json.

    python3 perfbench/repeat.py --workload search_served --runs 10 [--seconds 15] [--trace 0]

Seeds are first-seed .. first-seed + runs - 1. The spread is
(Q3 - Q1) / median with Python's statistics.quantiles(values, n=4); the
failed share is failed / attempted per run, which must not move.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    if a.seconds is None:
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
            a.seconds = json.load(fh)["run_seconds"]
    values, shares = {}, []
    for seed in range(a.first_seed, a.first_seed + a.runs):
        out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                              "--workload", a.workload, "--seed", str(seed),
                              "--seconds", str(a.seconds), "--trace", str(a.trace)],
                             stdout=subprocess.PIPE, text=True)
        if out.returncode != 0:
            raise SystemExit("seed %d: run failed" % seed)
        r = json.loads(out.stdout.strip().splitlines()[-1])
        shares.append(r["failed"] / r["attempted"])
        print("seed %d: correct=%s attempted=%d failed=%d" % (
            seed, r["correct"], r["attempted"], r["failed"]), flush=True)
        for k, m in r["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    print("%-34s %12s %12s %12s %8s" % ("metric", "Q1", "median", "Q3", "spread"))
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0],) * 3
        spread = (q3 - q1) / med if med else 0.0
        print("%-34s %12.4f %12.4f %12.4f %8.3f" % (k, q1, med, q3, spread))
    print("failed share per run: %s" % sorted(set(shares)))


if __name__ == "__main__":
    main()
