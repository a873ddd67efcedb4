#!/usr/bin/env python3
"""Steadiness check: runs the benchmark once per seed on each workload and
reports, per end-to-end metric, the median, the quartiles and the
interquartile spread as a share of the median, next to the metric's
bound in BENCHMARK.json.

Usage (from the root of a checkout):
  python3 perfbench/steady.py [--seeds 10] [--first-seed 1] [--workload NAME ...]
"""
import argparse
import json
import statistics
import subprocess
import sys
import time


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append")
    a = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    workloads = a.workload or [w["name"] for w in bench["workloads"]]
    report = {}
    for w in workloads:
        values = {m: [] for m in bounds}
        for seed in range(a.first_seed, a.first_seed + a.seeds):
            cmd = bench["command"] + ["--workload", w, "--seed", str(seed),
                                      "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            t0 = time.monotonic()
            p = subprocess.run(cmd, capture_output=True, text=True)
            took = time.monotonic() - t0
            if p.returncode != 0:
                sys.exit(f"{w} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
            res = json.loads(p.stdout.strip().splitlines()[-1])
            if not res["correct"] or res["failed"]:
                sys.exit(f"{w} seed {seed}: incorrect result {res}")
            for m in bounds:
                values[m].append(res["metrics"][m]["value"])
            print(w, seed, {m: round(v[-1], 4) for m, v in values.items()}, f"run {took:.0f} s", flush=True)
        report[w] = {}
        for m, v in values.items():
            q1, q2, q3 = statistics.quantiles(v, n=4)
            report[w][m] = {"median": q2, "q1": q1, "q3": q3,
                            "spread": (q3 - q1) / q2, "bound": bounds[m]}
    print(json.dumps(report, indent=1))


if __name__ == "__main__":
    main()
