#!/usr/bin/env python3
"""Steadiness check: run one workload N times, one seed each, and print
every metric's median, quartiles, interquartile spread and (max-min) spread
as shares of the median, next to the bound BENCHMARK.json fixes for it.

    python3 perfbench/steady.py --workload serve_point --runs 10 [--first-seed 1]

Run from the checkout root, like run.py. A metric is steady when its
interquartile spread stays below a third of its bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def summarize(values):
    """(median, q1, q3, iqr share of median, range share of median)."""
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    rel = (lambda d: d / med) if med else (lambda d: float("nan"))
    return med, q1, q3, rel(q3 - q1), rel(max(values) - min(values))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    bench = {}
    if os.path.exists("BENCHMARK.json"):
        with open("BENCHMARK.json") as f:
            bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench.get("end_to_end", [])}
    seconds = bench.get("run_seconds", 15)
    values, walls, bad = {}, [], 0
    for seed in range(args.first_seed, args.first_seed + args.runs):
        t = time.time()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", args.workload, "--seed", str(seed),
                            "--seconds", str(seconds), "--trace", str(args.trace)],
                           capture_output=True, text=True)
        walls.append(time.time() - t)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
            bad += 1
            continue
        res = json.loads(lines[-1])
        if not res["correct"] or res["failed"]:
            bad += 1
        print(f"seed {seed}: {walls[-1]:.0f} s, correct={res['correct']} "
              f"attempted={res['attempted']} failed={res['failed']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()
                       if k in bounds or args.trace == 0), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"\n{args.workload}: {args.runs} runs, {bad} with failures, "
          f"wall per run median {statistics.median(walls):.0f} s, max {max(walls):.0f} s")
    print(f"{'metric':36s} {'median':>12s} {'q1':>12s} {'q3':>12s} "
          f"{'iqr/med':>8s} {'rng/med':>8s} {'bound':>6s}")
    for k, vs in values.items():
        if len(vs) < 2:
            continue
        med, q1, q3, iqr, rng = summarize(vs)
        b = bounds.get(k)
        flag = "" if b is None else ("  ok" if iqr < b / 3 else
                                     "  within bound" if iqr < b else "  TOO NOISY")
        print(f"{k:36s} {med:12.5g} {q1:12.5g} {q3:12.5g} {iqr:8.3f} {rng:8.3f} "
              f"{'' if b is None else b:>6}{flag}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
