#!/usr/bin/env python3
"""Paired A/B comparison of two checkouts with the same benchmark.

    python3 perfbench/ab.py --parent ../parent-checkout --change . --pairs 10 \
        --workload catalog_analytics

Each checkout runs its own copy of the benchmark, and the tool
refuses to compare when the copies differ: a change that claims a
gain may not edit the benchmark. Each pair runs both sides on the
same seed, alternating which side runs first. Per end-to-end metric it reports each side's
median and quartiles, the change's wins, and a verdict:

* ``gain``: at least ten pairs, the change wins at least nine tenths
  of them (ties count for neither) and the medians differ by more than
  the parent's own quartile distance;
* ``regression``: the change's median is worse than the parent's by
  more than the metric's bound;
* ``unresolved``: the parent's spread is wider than the bound, unless
  every run of the change reads better than every run of the parent;
* ``flat`` otherwise.
"""

from __future__ import annotations

import argparse
import filecmp
import json
import os
import sys

from steady import load_spec, quartiles, run_once

MIN_PAIRS = 10  # fewer pairs never call a gain


def same_benchmark(a: str, b: str, paths: list[str]) -> bool:
    for rel in paths:
        cmp = filecmp.dircmp(os.path.join(a, rel), os.path.join(b, rel),
                             ignore=["_work", "__pycache__"])
        stack = [cmp]
        while stack:
            c = stack.pop()
            if c.left_only or c.right_only or c.diff_files or c.funny_files:
                return False
            stack.extend(c.subdirs.values())
    return filecmp.cmp(os.path.join(a, "BENCHMARK.json"), os.path.join(b, "BENCHMARK.json"),
                       shallow=False)


def verdict(metric: dict, parent: list[float], change: list[float]) -> dict:
    lower = metric["better"] == "lower"
    wins = sum((c < p) if lower else (c > p) for p, c in zip(parent, change))
    pq1, pmed, pq3 = quartiles(parent)
    cq1, cmed, cq3 = quartiles(change)
    worse_by = ((cmed - pmed) if lower else (pmed - cmed)) / pmed
    all_better = max(change) < min(parent) if lower else min(change) > max(parent)
    n = len(parent)
    if n >= MIN_PAIRS and wins >= 0.9 * n and abs(cmed - pmed) > (pq3 - pq1):
        v = "gain"
    elif worse_by > metric["bound"]:
        v = "regression"
    elif (pq3 - pq1) / pmed > metric["bound"] and not all_better:
        v = "unresolved"
    else:
        v = "flat"
    return {"parent": {"median": pmed, "q1": pq1, "q3": pq3},
            "change": {"median": cmed, "q1": cq1, "q3": cq3},
            "wins": wins, "pairs": n, "worse_by": worse_by, "verdict": v}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--parent", required=True, help="root of the parent checkout")
    p.add_argument("--change", required=True, help="root of the changed checkout")
    p.add_argument("--workload", required=True)
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--seed0", type=int, default=1000,
                   help="seeds seed0..seed0+pairs-1; use seeds not used while developing")
    args = p.parse_args(argv)
    parent, change = os.path.abspath(args.parent), os.path.abspath(args.change)
    spec = load_spec(change)
    if not same_benchmark(parent, change, spec["paths"]):
        print("the two checkouts carry different benchmark files", file=sys.stderr)
        return 2
    runs = {"parent": [], "change": []}
    for i in range(args.pairs):
        seed = args.seed0 + i
        order = [("parent", parent), ("change", change)]
        if i % 2:
            order.reverse()
        for side, root in order:
            r = run_once(root, spec, args.workload, seed)
            if "error" in r or not r["correct"]:
                print(f"{side} seed={seed} failed: {r.get('error', r)}", file=sys.stderr)
                return 1
            runs[side].append({k: v["value"] for k, v in r["metrics"].items()})
            print(f"pair {i} {side} seed={seed} {json.dumps(runs[side][-1])}", flush=True)
    report = {}
    for m in spec["end_to_end"]:
        name = m["name"]
        report[name] = verdict(m, [r[name] for r in runs["parent"]],
                               [r[name] for r in runs["change"]])
        r = report[name]
        print(f"  {name:12s} parent={r['parent']['median']:.4g} "
              f"change={r['change']['median']:.4g} wins={r['wins']}/{r['pairs']} "
              f"{r['verdict']}", flush=True)
    print(json.dumps({"workload": args.workload, "metrics": report}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
