#!/usr/bin/env python3
"""Steadiness check: run each workload N times, each with another
seed, and report every end-to-end metric's median, quartiles and
spread (quartile distance over median) against its bound in
``BENCHMARK.json``.

    python3 perfbench/steady.py --runs 10 [--workload catalog_ingest] [--seed0 1]

Run from the repository root. A spread must stay within the metric's
bound (``setup_s`` excepted), and should stay below a third of it.
Prints one JSON summary line last; exits 1 if any run failed or was
incorrect.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_spec(root: str = ROOT) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_once(root: str, spec: dict, workload: str, seed: int, trace: int = 0,
             seconds: int | None = None) -> dict:
    """Run the benchmark command in ``root``; returns its result line,
    or ``{"error": ...}``."""
    cmd = [*spec["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds or spec["run_seconds"]), "--trace", str(trace)]
    try:
        proc = subprocess.run(cmd, cwd=root, capture_output=True, text=True, timeout=900)
    except subprocess.TimeoutExpired:
        return {"error": "timeout"}
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        return {"error": f"exit {proc.returncode}: {proc.stderr.strip()[-400:]}"}
    return json.loads(lines[-1])


def quartiles(values: list[float]) -> tuple[float, float, float]:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def summarize(spec: dict, results: list[dict]) -> dict:
    """Per end-to-end metric: median, quartiles, spread, bound, verdict."""
    out = {}
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in results if "metrics" in r]
        if len(vals) < 2:
            continue
        q1, med, q3 = quartiles(vals)
        spread = (q3 - q1) / med if med else float("inf")
        out[m["name"]] = {
            "median": med, "q1": q1, "q3": q3, "spread": spread, "bound": m["bound"],
            "within_bound": spread <= m["bound"] or m["name"] == "setup_s",
            "below_third": spread < m["bound"] / 3,
        }
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--workload", action="append",
                   help="workload name (repeatable); default: all in BENCHMARK.json")
    p.add_argument("--seed0", type=int, default=1, help="seeds are seed0..seed0+runs-1")
    args = p.parse_args(argv)
    spec = load_spec()
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    report, bad = {}, False
    for w in workloads:
        results = []
        for i in range(args.runs):
            r = run_once(ROOT, spec, w, args.seed0 + i)
            ok = "error" not in r and r["correct"]
            bad |= not ok
            vals = {k: v["value"] for k, v in r.get("metrics", {}).items()}
            print(f"{w} seed={args.seed0 + i} ok={ok} "
                  + (r.get("error", "") or json.dumps(vals)), flush=True)
            results.append(r)
        report[w] = summarize(spec, results)
        for name, s in report[w].items():
            flag = "ok" if s["below_third"] else ("WITHIN BOUND" if s["within_bound"] else "OVER")
            print(f"  {w:18s} {name:12s} median={s['median']:.4g} "
                  f"q1={s['q1']:.4g} q3={s['q3']:.4g} spread={s['spread']:.3f} "
                  f"bound={s['bound']} {flag}", flush=True)
    print(json.dumps(report))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
