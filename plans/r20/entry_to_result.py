#!/usr/bin/env python3
"""Wall time of every untraced perfbench run of a parent and a change.

    python3 plans/r20/entry_to_result.py <before dir> <after dir> <workload>

Prints, per seed present on both sides, each run's `entry_to_result_s`
(from the benchmark's entry to its printed result: build check, input
generation, set-up, warm-up, timed loop and output checks), then the
medians and the change's median over the parent's, as a markdown table.
"""
import glob
import json
import os
import re
import statistics
import sys


def load(d, w):
    out = {}
    for p in glob.glob(os.path.join(d, f"{w}-seed*-trace0.json")):
        with open(p) as f:
            out[int(re.search(r"seed(\d+)", p).group(1))] = \
                json.load(f)["entry_to_result_s"]
    return out


def main():
    before, after, w = sys.argv[1:4]
    b, a = load(before, w), load(after, w)
    seeds = sorted(set(b) & set(a))
    print(f"| {w} seed | parent entry_to_result_s | change entry_to_result_s |")
    print("|---|---|---|")
    for s in seeds:
        print(f"| {s} | {b[s]:.1f} | {a[s]:.1f} |")
    pm = statistics.median(b[s] for s in seeds)
    cm = statistics.median(a[s] for s in seeds)
    print(f"| median | {pm:.1f} | {cm:.1f} (÷ parent {cm / pm:.3f}) |")


if __name__ == "__main__":
    main()
