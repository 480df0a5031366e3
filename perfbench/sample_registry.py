#!/usr/bin/env python3
"""Writes perfbench/registry_queries.txt, the registry_sf0.01 workload's
query sample, from graft's SparkEntry.queries by a fixed rule.

    python3 perfbench/sample_registry.py   (from the repo root)

The rule, stratified by operator module:
  1. An entry's module is the first `Module.` object its right-hand side
     calls (`"q1_agg" -> (Olap.q1Agg _)` is Olap).
  2. A module of n of the registry's N entries gets
     max(1, floor(SIZE * n / N + 0.5)) picks, so every module is present
     and the rest are in proportion.
  3. A module's a picks are its entries at positions
     floor((k + 0.5) * n / a), k = 0..a-1, in Bench's order: spread evenly.
  4. The sample runs in Bench's order: by name, with the composite evals
     that re-read their family's caches last (graft.Bench's runLast).

The file is generated once and kept fixed, so that a later change to the
registry does not change what the workload measures.
"""
import math
import os
import re
import sys
from collections import Counter

SIZE = 16
RUN_LAST = {"dedup_method_agreement", "dedup_minhash_est_eval", "dedup_threshold_sweep"}
OUT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "registry_queries.txt")


def registry(root):
    """{query name: module} of every SparkEntry.queries entry."""
    with open(os.path.join(root, "src/main/scala/graft/SparkEntry.scala")) as f:
        src = f.read()
    start = src.index("def queries")
    body = src[start:src.index("\n  )\n", start)]
    entries = re.findall(r'^\s*"(\w+)"\s*->\s*(.*?)(?=^\s*"\w+"\s*->|\Z)', body, re.M | re.S)
    out = {}
    for name, rhs in entries:
        m = re.search(r"\b([A-Z]\w*)\.[a-z]", rhs)
        if not m:
            raise ValueError(f"no module call in the registry entry {name}")
        out[name] = m.group(1)
    return out


def bench_order(names):
    return sorted(names, key=lambda n: (n in RUN_LAST, n))


def sample(modules, size=SIZE):
    counts = Counter(modules.values())
    picked = set()
    for mod, n in counts.items():
        a = max(1, math.floor(size * n / len(modules) + 0.5))
        members = bench_order(q for q, m in modules.items() if m == mod)
        picked.update(members[math.floor((k + 0.5) * n / a)] for k in range(a))
    return bench_order(picked)


def main():
    modules = registry(os.getcwd())
    chosen = sample(modules)
    full, part = Counter(modules.values()), Counter(modules[q] for q in chosen)
    lines = [
        "# The registry_sf0.01 workload: a stratified sample of SparkEntry.queries,",
        "# run in this order once per pass, each materialized through the noop sink.",
        "# Generated by perfbench/sample_registry.py, which states the rule; do not edit.",
        f"# {len(chosen)} of {len(modules)} entries; per module, sample / registry:",
    ]
    lines += [f"#   {mod:<14} {part[mod]:>2} / {n}" for mod, n in full.most_common()]
    lines += [f"{q:<32}# {modules[q]}" for q in chosen]
    with open(OUT, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"{len(chosen)} queries written to {OUT}")


if __name__ == "__main__":
    try:
        main()
    except (OSError, ValueError) as e:
        print(e, file=sys.stderr)
        sys.exit(1)
