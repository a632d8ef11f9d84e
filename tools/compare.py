#!/usr/bin/env python3
"""Compare untraced perfbench result files of a parent and a change.

    python3 tools/compare.py <before dir> <after dir> <workload>

Pairs the files `<workload>-seed<n>-trace0.json` present on both sides
by seed. For every end-to-end metric it prints the parent's median and
quartiles (statistics.quantiles, n=4), the change's median, the pairs
the change wins (ties count for neither side), and the median pair
difference, as a markdown table; then each request kind's p50 (the
median over seeds) and each pair's op_p50_ms and op_p90_ms.
"""
import glob
import json
import os
import re
import statistics
import sys

LOWER = {"setup_s", "op_p50_ms", "op_p90_ms", "bytes_per_doc", "live_heap_mb"}


def load(d, w):
    out = {}
    for p in glob.glob(os.path.join(d, f"{w}-seed*-trace0.json")):
        seed = int(re.search(r"seed(\d+)", p).group(1))
        with open(p) as f:
            out[seed] = json.load(f)
    return out


def main():
    before, after, w = sys.argv[1:4]
    b, a = load(before, w), load(after, w)
    seeds = sorted(set(b) & set(a))
    print(f"{w}: {len(seeds)} pairs, failed parent "
          f"{[b[s]['failed'] for s in seeds]}, change "
          f"{[a[s]['failed'] for s in seeds]}")
    print("| metric | parent median | parent Q1 | parent Q3 | change median "
          "| change ÷ parent | pairs won by change | median pair difference "
          "| parent Q3−Q1 |")
    print("|---|---|---|---|---|---|---|---|---|")
    for m in b[seeds[0]]["end_to_end"]:
        pv = [b[s]["end_to_end"][m]["value"] for s in seeds]
        cv = [a[s]["end_to_end"][m]["value"] for s in seeds]
        q1, _, q3 = statistics.quantiles(pv, n=4)
        diffs = [c - p for p, c in zip(pv, cv)]
        better = (lambda d: d < 0) if m in LOWER else (lambda d: d > 0)
        won = sum(1 for d in diffs if d != 0 and better(d))
        ties = sum(1 for d in diffs if d == 0)
        tie = f" ({ties} ties)" if ties else ""
        pm, cm = statistics.median(pv), statistics.median(cv)
        print(f"| {m} | {pm:.4g} | {q1:.4g} | {q3:.4g} | {cm:.4g} "
              f"| {cm / pm:.3f} | {won}/{len(seeds)}{tie} "
              f"| {statistics.median(diffs):+.4g} | {q3 - q1:.4g} |")
    kinds = sorted(b[seeds[0]]["untraced_window"].get("per_kind", {}))
    if kinds:
        print()
        print("| request kind | parent p50_ms (median over seeds) "
              "| change p50_ms (median over seeds) | change ÷ parent |")
        print("|---|---|---|---|")
        for k in kinds:
            kp = statistics.median(
                b[s]["untraced_window"]["per_kind"][k]["p50_ms"] for s in seeds)
            kc = statistics.median(
                a[s]["untraced_window"]["per_kind"][k]["p50_ms"] for s in seeds)
            print(f"| {k} | {kp:.1f} | {kc:.1f} | {kc / kp:.3f} |")
    print()
    print("| seed | parent op_p50_ms | change op_p50_ms | parent op_p90_ms "
          "| change op_p90_ms |")
    print("|---|---|---|---|---|")
    for s in seeds:
        e = lambda r, m: r[s]["end_to_end"][m]["value"]
        print(f"| {s} | {e(b, 'op_p50_ms'):.1f} | {e(a, 'op_p50_ms'):.1f} "
              f"| {e(b, 'op_p90_ms'):.1f} | {e(a, 'op_p90_ms'):.1f} |")


if __name__ == "__main__":
    main()
