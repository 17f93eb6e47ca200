#!/usr/bin/env python3
"""Self-tests of the benchmark itself, at tiny sizes.

    python3 perfbench/selftest.py          # generators and metric names
    python3 perfbench/selftest.py --live   # also runs every declared workload briefly

Checks that the same seed produces byte-identical inputs (and another
seed different ones), and that the metric names and units the
benchmark prints are exactly the ones ``BENCHMARK.json`` declares.
``--live`` runs each declared workload for one second with tracing
off and on and checks the printed result line. Exits 1 on any failure.
"""

from __future__ import annotations

import argparse
import filecmp
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen_corpus  # noqa: E402
import gen_ingest  # noqa: E402
import gen_tables  # noqa: E402
import run  # noqa: E402
from steady import load_spec, run_once  # noqa: E402

SCRATCH = os.path.join(HERE, "_work", "selftest")


def _gen_all(out: str, seed: int) -> None:
    os.makedirs(f"{out}/exports")
    os.makedirs(f"{out}/tables")
    exports = gen_ingest.Exports(f"{out}/exports", seed, n_collections=20, updates=2,
                                 resends=1, new=1)
    for _ in range(3):
        exports.next_delta()
    gen_tables.generate(f"{out}/tables", seed, scale=0.01)
    gen_corpus.generate(f"{out}/corpus.parquet", seed, n_docs=50)


def _same_tree(a: str, b: str) -> bool:
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    for n in names:
        pa_, pb = os.path.join(a, n), os.path.join(b, n)
        same = _same_tree(pa_, pb) if os.path.isdir(pa_) else filecmp.cmp(pa_, pb, shallow=False)
        if not same:
            return False
    return True


def check_determinism() -> list[str]:
    shutil.rmtree(SCRATCH, ignore_errors=True)
    runs = {name: os.path.join(SCRATCH, name) for name in ("a", "b", "c")}
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        _gen_all(runs[name], seed)
    errors = []
    if not _same_tree(runs["a"], runs["b"]):
        errors.append("the same seed produced different inputs")
    for sub in ("exports/initial.csv", "tables/lineitem.parquet", "corpus.parquet"):
        if filecmp.cmp(f"{runs['a']}/{sub}", f"{runs['c']}/{sub}", shallow=False):
            errors.append(f"seeds 7 and 8 produced the same {sub}")
    shutil.rmtree(SCRATCH, ignore_errors=True)
    return errors


def check_expected_counts() -> list[str]:
    """The generator's expected counts follow merge semantics: nothing
    is ever deleted, and every delta adds its new collections."""
    shutil.rmtree(SCRATCH, ignore_errors=True)
    os.makedirs(SCRATCH)
    inp = gen_ingest.Exports(SCRATCH, 3, n_collections=20, updates=2, resends=1, new=1)
    for _ in range(3):
        inp.next_delta()
    shutil.rmtree(SCRATCH, ignore_errors=True)
    errors = []
    for before, after in zip(inp.expected, inp.expected[1:]):
        if any(after[t] < before[t] for t in before):
            errors.append("an expected table count shrank after a delta")
        if after["product_collection"] != before["product_collection"] + 1:
            errors.append("a delta did not add exactly its one new collection")
    return errors


def check_declared(spec: dict) -> list[str]:
    errors = []
    for key, printed in (("end_to_end", run.E2E), ("per_layer", run.PER_LAYER)):
        declared = {m["name"]: m["unit"] for m in spec[key]}
        if declared != printed:
            errors.append(f"{key}: printed {sorted(set(printed) ^ set(declared))} "
                          f"or units differ from BENCHMARK.json")
    unknown = {w["name"] for w in spec["workloads"]} - set(run.WORKLOADS)
    if unknown:
        errors.append(f"BENCHMARK.json declares workloads run.py does not know: {unknown}")
    return errors


def check_live(spec: dict) -> list[str]:
    errors = []
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            r = run_once(ROOT, spec, w["name"], seed=1, trace=trace, seconds=1)
            if "error" in r:
                errors.append(f"{w['name']} trace={trace}: {r['error']}")
                continue
            names = set(r["metrics"])
            declared = {m["name"] for m in spec[key]}
            if names != declared:
                errors.append(f"{w['name']} trace={trace}: printed and declared "
                              f"metrics differ by {sorted(names ^ declared)}")
            if not r["correct"] or r["failed"] or r["attempted"] < 1:
                errors.append(f"{w['name']} trace={trace}: incorrect result {r}")
    return errors


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--live", action="store_true")
    args = p.parse_args(argv)
    spec = load_spec()
    errors = check_determinism() + check_expected_counts() + check_declared(spec)
    if args.live:
        errors += check_live(spec)
    for e in errors:
        print("FAIL", e)
    print("selftest", "failed" if errors else "passed")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
