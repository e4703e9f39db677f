#!/usr/bin/env python3
"""Summarise the runs recorded under perfbench/.work/results.

Usage: python3 perfbench/summarize.py [result.json ...]

For each workload and end-to-end metric: the untraced runs' median, the
quartile spread as a share of the median (statistics.quantiles, n=4),
the bound from BENCHMARK.json, and the tracing overhead, i.e. the traced
runs' median minus the untraced median.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(paths):
    runs = []
    for p in paths:
        with open(p) as fh:
            runs.append(json.load(fh))
    return runs


def main():
    paths = sys.argv[1:] or sorted(glob.glob(os.path.join(HERE, ".work", "results", "*.json")))
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    runs = load(paths)
    workloads = sorted({r["workload"] for r in runs})
    print(f"{'workload':18} {'metric':20} {'n':>3} {'median':>12} {'spread':>7} "
          f"{'bound':>6} {'traced-untraced':>16}")
    for w in workloads:
        plain = [r for r in runs if r["workload"] == w and r["trace"] == 0 and r["failed"] == 0]
        traced = [r for r in runs if r["trace"] == 1 and r["workload"] == w]
        for m in spec["end_to_end"]:
            name = m["name"]
            vals = [r["readings"][name] for r in plain]
            if not vals:
                continue
            med = statistics.median(vals)
            spread = "-"
            if len(vals) >= 2:
                q1, _, q3 = statistics.quantiles(vals, n=4)
                spread = f"{(q3 - q1) / med:.3f}"
            tvals = [r["readings"][name] for r in traced]
            over = f"{statistics.median(tvals) - med:+.4g}" if tvals else "-"
            print(f"{w:18} {name:20} {len(vals):>3} {med:>12.4g} {spread:>7} "
                  f"{m['bound']:>6} {over:>16}")


if __name__ == "__main__":
    main()
