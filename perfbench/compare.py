#!/usr/bin/env python3
"""Compare two sets of benchmark results (e.g. a parent commit and a change).

Usage: python3 perfbench/compare.py BASE_DIR NEW_DIR

Each directory holds full result files as run.py writes them
(perfbench/out/results/<workload>-seed<n>-trace0.json). For every workload
and end-to-end metric it prints both medians, their quartiles and the
change, and flags a change worse than the metric's bound in
BENCHMARK.json. Per-operation medians show which operations moved.

Results are refused (exit 2) unless every run fingerprint agrees on the
machine and session shape: processors, local[N], shuffle partitions, heap,
JVM, Spark and Scala versions, and run length. Commit and seed may differ.
"""
import glob
import json
import os
import statistics
import sys

SHAPE = ["nproc", "nproc_os", "master", "shuffle_partitions", "xmx", "jvm", "spark", "scala",
         "run_seconds"]


def load(d):
    runs = {}
    for f in sorted(glob.glob(os.path.join(d, "*-trace0.json"))):
        r = json.load(open(f))
        runs.setdefault(r["fingerprint"]["workload"], []).append(r)
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def main(base_dir, new_dir):
    here = os.path.dirname(os.path.abspath(__file__))
    spec = json.load(open(os.path.join(os.path.dirname(here), "BENCHMARK.json")))
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    base, new = load(base_dir), load(new_dir)
    shapes = {json.dumps({k: r["fingerprint"].get(k) for k in SHAPE}, sort_keys=True)
              for runs in list(base.values()) + list(new.values()) for r in runs}
    if len(shapes) != 1:
        print("refused: run fingerprints differ in machine or session shape:")
        for s in sorted(shapes):
            print("  " + s)
        return 2
    worse = 0
    for w in sorted(set(base) & set(new)):
        print(f"== {w}: {len(base[w])} base runs, {len(new[w])} new runs")
        for m, bound in bounds.items():
            b = quartiles([r["end_to_end"][m] for r in base[w]])
            n = quartiles([r["end_to_end"][m] for r in new[w]])
            change = n[1] / b[1] - 1
            flag = "WORSE" if change > bound else ""
            worse += bool(flag)
            print(f"  {m:14s} base {b[1]:.4g} [{b[0]:.4g}, {b[2]:.4g}]  new {n[1]:.4g} "
                  f"[{n[0]:.4g}, {n[2]:.4g}]  {change:+.1%} (bound {bound:.0%}) {flag}")
        ops = sorted(set(base[w][0]["ops"]) & set(new[w][0]["ops"]))
        moved = []
        for op in ops:
            b = statistics.median(r["ops"][op]["median_s"] for r in base[w])
            n = statistics.median(r["ops"][op]["median_s"] for r in new[w])
            moved.append((n / b - 1, op, b, n))
        for change, op, b, n in sorted(moved, key=lambda x: -abs(x[0]))[:8]:
            print(f"    {op:34s} {b:.3f} s -> {n:.3f} s ({change:+.1%})")
    return 1 if worse else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
