#!/usr/bin/env python3
"""Compare two sets of benchmark results written with run.py --out.

    python3 perfbench/compare.py base1.json base2.json ... -- new1.json new2.json ...

Prints, per workload and metric, each side's median and quartiles and
the change of the medians. Results from different host shapes (cores,
cgroup quota, heap, JDK, Spark) are refused: a 32-core figure says
nothing about a 4-core one.
"""
import json
import statistics
import sys

SHAPE = ("nproc", "cgroup_quota_cores", "task_threads", "heap_bytes", "jdk", "spark")


def load(paths):
    out = []
    for p in paths:
        with open(p) as f:
            out.append(json.load(f))
    return out


def main(argv):
    if "--" not in argv:
        raise SystemExit(__doc__)
    i = argv.index("--")
    base, new = load(argv[:i]), load(argv[i + 1:])
    if not base or not new:
        raise SystemExit("compare: both sides need at least one result")
    shapes = {tuple(r["host"].get(k) for k in SHAPE) for r in base + new}
    if len(shapes) > 1:
        raise SystemExit("compare: refused, the results come from different host shapes: "
                         + "; ".join(", ".join(f"{k}={v}" for k, v in zip(SHAPE, s))
                                     for s in sorted(shapes, key=str)))
    for w in sorted({r["workload"] for r in base + new}):
        for name in sorted(base[0]["result"]["metrics"]):
            sides = []
            for rs in (base, new):
                xs = [r["result"]["metrics"][name]["value"] for r in rs
                      if r["workload"] == w and name in r["result"]["metrics"]]
                sides.append(xs)
            if not all(sides):
                continue
            cells = []
            for xs in sides:
                q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
                cells.append(f"{statistics.median(xs):.4g} [{q[0]:.4g}, {q[2]:.4g}] n={len(xs)}")
            mb, mn = statistics.median(sides[0]), statistics.median(sides[1])
            change = f"{(mn / mb - 1) * 100:+.1f}%" if mb else "n/a"
            print(f"{w:12s} {name:22s} {cells[0]:36s} -> {cells[1]:36s} {change}")


if __name__ == "__main__":
    main(sys.argv[1:])
