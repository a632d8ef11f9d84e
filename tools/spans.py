#!/usr/bin/env python3
"""Per-span job counts of two traced perfbench runs.

    python3 tools/spans.py <parent spans.jsonl> <change spans.jsonl>

For every span name it prints the call count, the set of distinct job
counts per call and the median task count per call, parent then
change, as a markdown table.
"""
import json
import statistics
import sys


def summary(path):
    by = {}
    with open(path) as f:
        for line in f:
            s = json.loads(line)
            by.setdefault(s["name"], []).append(s)
    return by


def main():
    b, a = summary(sys.argv[1]), summary(sys.argv[2])
    print("| span | calls parent | calls change | jobs/call parent (set) "
          "| jobs/call change (set) | tasks/call parent (median) "
          "| tasks/call change (median) |")
    print("|---|---|---|---|---|---|---|")
    for name in sorted(set(b) | set(a)):
        pb, pa = b.get(name, []), a.get(name, [])
        jobs = lambda ss: sorted({s["jobs"] for s in ss})
        tasks = lambda ss: statistics.median(s["tasks"] for s in ss) if ss else "-"
        print(f"| {name} | {len(pb)} | {len(pa)} | {jobs(pb)} | {jobs(pa)} "
              f"| {tasks(pb)} | {tasks(pa)} |")


if __name__ == "__main__":
    main()
