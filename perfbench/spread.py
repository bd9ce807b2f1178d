#!/usr/bin/env python3
"""Run one workload N times with different seeds and print each metric's
spread: median, first and third quartile, and the quartile distance as a
share of the median (the steadiness figure a bound is compared with).

    python3 perfbench/spread.py --workload lake_merge --runs 10 [--first-seed 1]
        [--seconds 6] [--trace 0]

Run from the root of the checkout, like run.py. `--seconds` defaults to
BENCHMARK.json's run_seconds.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    seconds = a.seconds
    bounds = {}
    if os.path.exists("BENCHMARK.json"):
        spec = json.load(open("BENCHMARK.json"))
        seconds = seconds or spec["run_seconds"]
        bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    if seconds is None:
        sys.exit("--seconds is required without BENCHMARK.json")
    run = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
    values, bad = {}, 0
    for seed in range(a.first_seed, a.first_seed + a.runs):
        p = subprocess.run([sys.executable, run, "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(seconds),
                            "--trace", str(a.trace)],
                           stdout=subprocess.PIPE, text=True)
        if p.returncode != 0:
            print(f"seed {seed}: exit {p.returncode}", file=sys.stderr)
            bad += 1
            continue
        res = json.loads(p.stdout.strip().splitlines()[-1])
        bad += 0 if res["correct"] and res["failed"] == 0 else 1
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: " + ", ".join(f"{k}={v['value']:.4g}"
                                           for k, v in res["metrics"].items()),
              flush=True)
    print(f"\n{a.workload}: {a.runs} runs, {bad} incorrect or failed")
    print(f"{'metric':<32}{'median':>12}{'q1':>12}{'q3':>12}{'iqr/med':>10}{'bound':>8}")
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0],) * 3
        share = (q3 - q1) / med if med else float("nan")
        b = bounds.get(k)
        print(f"{k:<32}{med:>12.5g}{q1:>12.5g}{q3:>12.5g}{share:>10.3f}"
              f"{'' if b is None else f'{b:>8}'}")


if __name__ == "__main__":
    main()
