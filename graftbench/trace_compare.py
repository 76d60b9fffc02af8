#!/usr/bin/env python3
"""Diff two traced runs of graft's benchmark, per workload and per layer.

    python3 graftbench/trace_compare.py BEFORE AFTER

BEFORE and AFTER are trace files written by `run.py --trace 1`
(`.graftbench/runs/trace-<workload>-<seed>.json`) or directories holding
them. Traces are paired by workload; for each per-layer metric the tool
prints both values, the change and the change as a share of BEFORE. It
then prints, per traced call, its time, Spark jobs, driver self time and
task time on both sides, and for each side the tracing overhead (traced
pass minus untraced pass).
"""
import argparse
import glob
import json
import os
import sys


def load(path):
    files = sorted(glob.glob(os.path.join(path, "trace-*.json"))) if os.path.isdir(path) else [path]
    traces = {}
    for f in files:
        with open(f) as fh:
            t = json.load(fh)
        traces.setdefault(t["workload"], t)  # first trace per workload
    return traces


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("before")
    ap.add_argument("after")
    args = ap.parse_args()
    before, after = load(args.before), load(args.after)
    common = sorted(set(before) & set(after))
    if not common:
        sys.exit("trace_compare: no workload is traced on both sides")
    for w in sorted(set(before) ^ set(after)):
        print(f"{w}: traced on one side only")
    for w in common:
        b, a = before[w]["layers"], after[w]["layers"]
        print(f"\n== {w} (seed {before[w]['seed']} vs {after[w]['seed']})")
        print(f"{'layer':28} {'before':>12} {'after':>12} {'change':>12} {'share':>8}")
        for k in sorted(set(b) | set(a)):
            x, y = b.get(k, 0.0), a.get(k, 0.0)
            share = (y - x) / x if x else (0.0 if y == x else float("inf"))
            print(f"{k:28} {x:12.4g} {y:12.4g} {y - x:+12.4g} {share:+8.1%}")
        bc, ac = before[w].get("calls", {}), after[w].get("calls", {})
        for call in sorted(set(bc) & set(ac)):
            for k in ("seconds", "sched.jobs", "driver.self_s", "exec.task_s"):
                x, y = bc[call].get(k, 0.0), ac[call].get(k, 0.0)
                share = (y - x) / x if x else (0.0 if y == x else float("inf"))
                print(f"{call + ' ' + k:42} {x:10.4g} {y:10.4g} {share:+8.1%}")
        print(f"tracing overhead: before {b.get('trace.overhead_s', 0.0):+.3f} s, "
              f"after {a.get('trace.overhead_s', 0.0):+.3f} s")


if __name__ == "__main__":
    main()
