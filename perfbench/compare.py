#!/usr/bin/env python3
"""Diff two sets of benchmark reports, per workload and per metric.

    python3 perfbench/compare.py <A> <B>

A and B are each a report file written by run.py (`<build dir>/results/*.json`),
a directory of them, or a glob. Every numeric figure of a report is
compared: the end-to-end metrics, the workload-specific ones, and with
traced reports the per-layer ones. For each side it prints the median and
the quartiles over that side's runs, then the change of the median. A change
smaller than either side's quartile spread is marked `~` (unresolved).
"""
import glob
import json
import os
import statistics
import sys


def load(arg):
    paths = (sorted(glob.glob(os.path.join(arg, "*.json"))) if os.path.isdir(arg)
             else sorted(glob.glob(arg)))
    if not paths:
        sys.exit(f"compare: no report files match {arg}")
    reports = []
    for p in paths:
        with open(p) as f:
            reports.append(json.load(f))
    return reports


def flatten(prefix, v, out):
    if isinstance(v, bool):
        return
    if isinstance(v, (int, float)):
        out[prefix] = float(v)
    elif isinstance(v, dict):
        for k, x in v.items():
            flatten(f"{prefix}.{k}" if prefix else k, x, out)


def figures(report):
    out = {}
    for section in ("end_to_end", "workload_metrics", "per_layer"):
        flatten("", report.get(section, {}), out)
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sides = [load(a) for a in sys.argv[1:]]
    by_wl = [{}, {}]
    for i, reports in enumerate(sides):
        for r in reports:
            key = (r["workload"], "traced" if r.get("trace") else "timed")
            by_wl[i].setdefault(key, []).append(figures(r))
    for key in sorted(set(by_wl[0]) | set(by_wl[1])):
        a, b = by_wl[0].get(key, []), by_wl[1].get(key, [])
        print(f"\n== {key[0]} ({key[1]}): A {len(a)} runs, B {len(b)} runs")
        if not a or not b:
            continue
        names = sorted(set().union(*a, *b))
        print(f"{'metric':48s} {'A q1':>11s} {'A p50':>11s} {'A q3':>11s} "
              f"{'B q1':>11s} {'B p50':>11s} {'B q3':>11s} {'delta':>8s}")
        for n in names:
            xa = [f[n] for f in a if n in f]
            xb = [f[n] for f in b if n in f]
            if not xa or not xb or not any(xa + xb):
                continue  # absent on a side, or a figure this workload does not have
            a1, a2, a3 = quartiles(xa)
            b1, b2, b3 = quartiles(xb)
            delta = (b2 - a2) / abs(a2) if a2 else float("nan") if b2 else 0.0
            resolved = abs(b2 - a2) > max(a3 - a1, b3 - b1)
            print(f"{n:48s} {a1:11.4g} {a2:11.4g} {a3:11.4g} {b1:11.4g} {b2:11.4g} {b3:11.4g} "
                  f"{delta:+8.1%}{'' if resolved else ' ~'}")


if __name__ == "__main__":
    main()
