#!/usr/bin/env python3
"""Layer diff of two sets of benchmark results.

    python3 perfbench/layerdiff.py BASE NEW

BASE and NEW are result files written by perfbench/run.py
(.bench_build/perfbench/results/<workload>-seed<n>-trace<t>.json) or
directories of them. For every workload in both, it takes the median of
each metric over the files, prints the end-to-end deltas, ranks the
per-layer deltas, and names the layer that moved: the layer whose self time
per pass changed most. Self times are additive (they sum to each
operation's wall time), so their deltas split the traced pass-time delta
between layers; the per-stage or per-family rows show where inside the
workload it moved.
"""
import glob
import json
import os
import statistics
import sys
from collections import defaultdict


def load(path):
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    by_wl = defaultdict(list)
    for f in files:
        if f.endswith(".spans.json"):
            continue
        with open(f) as fh:
            r = json.load(fh)
        by_wl[r["workload"]].append(r)
    return by_wl


def medians(results):
    e2e = defaultdict(list)
    layer = defaultdict(list)
    ops = defaultdict(list)
    for r in results:
        for k, v in r["end_to_end"].items():
            if r["trace"] == 0:
                e2e[k].append(v)
        for k, v in r["per_layer"].items():
            layer[k].append(v)
        for g, m in r["groups"].items():
            for k, v in m.items():
                if k.startswith("self."):
                    ops[(g, k[len("self."):-len("_s")])].append(v)
    med = lambda d: {k: statistics.median(v) for k, v in d.items()}  # noqa: E731
    return med(e2e), med(layer), med(ops)


def rel(a, b):
    return (b - a) / abs(a) if a else (0.0 if b == a else float("inf"))


def diff(wl, base, new, out):
    be, bl, bo = medians(base)
    ne, nl, no = medians(new)
    out.append(f"== {wl}  ({len(base)} base files, {len(new)} new files)")
    for k in sorted(set(be) & set(ne)):
        out.append(f"  {k:<24} {be[k]:>12.4f} -> {ne[k]:>12.4f}  {rel(be[k], ne[k]):+8.1%}")
    selfs = sorted(((nl[k] - bl[k], k) for k in set(bl) & set(nl) if k.startswith("self.")),
                   key=lambda x: -abs(x[0]))
    if selfs:
        d, k = selfs[0]
        total = sum(x for x, _ in selfs)
        share = f", {d / total:.0%} of the {total:+.3f} s self-time change" if total else ""
        out.append(f"  layer that moved: {k[len('self.'):-len('_s')]} "
                   f"({d:+.3f} s per pass{share})")
    ranked = sorted(((rel(bl[k], nl[k]), k) for k in set(bl) & set(nl) if bl[k] != nl[k]),
                    key=lambda x: -abs(x[0]) if x[0] != float("inf") else -1e18)
    out.append("  per-layer deltas, largest relative change first:")
    for r, k in ranked:
        out.append(f"    {k:<28} {bl[k]:>12.4f} -> {nl[k]:>12.4f}  {r:+8.1%}")
    rows = sorted(((no[k] - bo[k], k) for k in set(bo) & set(no)), key=lambda x: -abs(x[0]))
    if rows:
        out.append("  self-time deltas by stage or family and layer (s per pass):")
        for d, (g, lyr) in rows[:12]:
            out.append(f"    {g:<24} {lyr:<10} {bo[(g, lyr)]:>9.3f} -> {no[(g, lyr)]:>9.3f}  {d:+.3f}")


def main(argv):
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    base, new = load(argv[1]), load(argv[2])
    out = []
    for wl in sorted(set(base) & set(new)):
        diff(wl, base[wl], new[wl], out)
    if not out:
        print("no workload in both result sets", file=sys.stderr)
        return 1
    print("\n".join(out))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
