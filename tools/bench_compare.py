#!/usr/bin/env python3
"""Compare two bench archives (the file `graft.Bench` writes to
SPARK_GRAFT_BENCH_OUT, committed as bench/BENCH_LOCAL_r{N}.json):
common-subset total and per-query ratios, calibration-adjusted. When both
archives carry the per-query `layers` split, also print the layer totals
over the common queries, each layer's delta for the worst queries, and the
exact `jobs`/`stages`/`tasks` deltas of every query whose counts moved.
When both archives have their plan directories (`<archive stem>.plans/`),
list the queries whose plan changed, with expression ids (`#123`),
`plan_id=` and RDD numbers and the fixture stage dir's suffix set aside.
Usage:
  python3 tools/bench_compare.py bench/BENCH_LOCAL_r20.json bench/BENCH_LOCAL_r20c.json
"""
import json
import os
import re
import sys

WORST = 8
COUNTS = ("jobs", "stages", "tasks")
# expression ids, AQE plan ids, RDD ids and the per-JVM fixture stage dir
# (SparkEntry.stageRoot) differ between any two runs of one plan
PLAN_IDS = re.compile(r"#\d+|(?<=plan_id=)\d+|(?<=RDD\[)\d+|(?<=graft_stage_)\d+")


def load(p):
    with open(p) as f:
        return json.load(f)


def best(archive):
    # the file archive keys the best-of-5 map `queries_best`; Bench's stdout
    # `total` line keys it `queries`
    qs = archive.get("queries_best", archive.get("queries", {}))
    return {k: v for k, v in qs.items() if v > 0}


def layer_fields(layers):
    return [k for k, v in next(iter(layers.values())).items()
            if isinstance(v, (int, float))]


def plan_text(archive_path, query):
    p = os.path.join(os.path.splitext(archive_path)[0] + ".plans", query + ".txt")
    if not os.path.isfile(p):
        return None
    with open(p) as f:
        return PLAN_IDS.sub("", f.read())


def changed_plans(old_path, new_path, queries):
    """Queries whose plan file differs; None when either side has no plan."""
    changed, compared = [], 0
    for k in queries:
        o, n = plan_text(old_path, k), plan_text(new_path, k)
        if o is None or n is None:
            continue
        compared += 1
        if o != n:
            changed.append(k)
    return changed if compared else None


def main(old_path, new_path):
    old, new = load(old_path), load(new_path)
    oq, nq = best(old), best(new)
    common = sorted(set(oq) & set(nq))
    if not common:
        print("no query has a positive best in both archives")
        return
    ot = sum(oq[k] for k in common)
    nt = sum(nq[k] for k in common)
    ocal = old.get("calibration_s") or 0
    ncal = new.get("calibration_s") or 0
    print(f"common subset: {len(common)} queries")
    print(f"old total {ot:8.1f} s   new total {nt:8.1f} s   raw ratio {nt/ot:5.2f}")
    if ocal and ncal:
        print(f"calibration old {ocal:.3f} new {ncal:.3f}  shift {ncal/ocal:5.2f}"
              f"  adjusted ratio {(nt/ot)/(ncal/ocal):5.2f}")
    only_new = sorted(set(nq) - set(oq))
    if only_new:
        print("new queries:", ", ".join(f"{k}={nq[k]:.2f}s" for k in only_new))
    worst = sorted(common, key=lambda k: nq[k] / oq[k], reverse=True)[:WORST]
    print("worst per-query ratios (new/old):")
    for k in worst:
        print(f"  {k:28s} {oq[k]:7.2f} -> {nq[k]:7.2f}  x{nq[k]/oq[k]:.2f}")

    changed = changed_plans(old_path, new_path, common)
    if changed is not None:
        print(f"plans changed (ids aside): {len(changed)}"
              + (": " + ", ".join(changed) if changed else ""))

    ol, nl = old.get("layers") or {}, new.get("layers") or {}
    layered = [k for k in common if k in ol and k in nl]
    if not layered:
        return
    moved = [k for k in layered
             if any(ol[k].get(f, 0) != nl[k].get(f, 0) for f in COUNTS)]
    print(f"job/stage/task counts moved on {len(moved)} queries (old -> new):")
    for k in moved:
        print(f"  {k:28s} " + "  ".join(
            f"{f} {ol[k].get(f, 0)} -> {nl[k].get(f, 0)} ({nl[k].get(f, 0) - ol[k].get(f, 0):+d})"
            for f in COUNTS))
    fields = layer_fields(nl)
    print(f"layer totals over {len(layered)} common queries (old -> new):")
    for f in fields:
        o = sum(ol[k].get(f, 0) for k in layered)
        n = sum(nl[k].get(f, 0) for k in layered)
        print(f"  {f:22s} {o:14,} -> {n:14,}  {n - o:+,}")
    print("per-layer deltas for the worst queries (old -> new):")
    for k in (q for q in worst if q in layered):
        print(f"  {k}")
        for f in fields:
            o, n = ol[k].get(f, 0), nl[k].get(f, 0)
            print(f"    {f:20s} {o:14,} -> {n:14,}  {n - o:+,}")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])
