#!/usr/bin/env python3
"""Benchmark of record for the product engine.

    python3 perfbench/run.py --workload catalog_ingest --seed 1 --seconds 12 --trace 0

Run from the repository root. Generates the workload's inputs from
the seed, sets up a Spark session on ``local[<cores>]``, runs the
workload's closed loop until its timed operations add up to
``--seconds`` (finishing the operation in flight, and at least the
workload's minimum), checks every output, and prints one JSON line
last: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
they are the per-layer ones, from spans the run also writes to
``perfbench/_work/spans-<workload>.json``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

import wl_analytics  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")

WORKLOADS = {
    "catalog_ingest": "wl_ingest",
    "catalog_analytics": "wl_analytics",
    "corpus_curation": "wl_curation",
}

#: End-to-end metrics every workload prints (``--trace 0``). What the
#: "operation" and the "item" are depends on the workload; see README.
E2E = {
    "setup_s": "s",
    "op_p50_s": "s",
    "items_per_s": "1/s",
    "peak_rss_mb": "MiB",
}

#: Per-layer metrics every traced run prints (``--trace 1``); a layer
#: the workload never calls reads 0.
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "session.load_tables_s": "s",
    "sources.read_raw_products_s": "s",
    "sources.rows": "count",
    "operators.split.split_master_variants_s": "s",
    "pipelines.ingest.build_tables_s": "s",
    "pipelines.ingest.run_ingest_s": "s",
    "pipelines.ingest.jobs": "count",
    "operators.upsert.merge_s": "s",
    "operators.upsert.merge_max_table_s": "s",
    "operators.upsert.jobs": "count",
    "operators.upsert.files_written": "count",
    "operators.upsert.bytes_written_per_input_byte": "B/B",
    "pipelines.verification.run_warehouse_checks_s": "s",
    "pipelines.verification.jobs": "count",
    "pipelines.verification.checks_failed": "count",
    "plans.build_s": "s",
    "plans.exec_s": "s",
    "plans.jobs_per_query": "count",
    "plans.tasks_per_query": "count",
    "plans.shuffle_bytes_per_query": "B",
    "plans.task_busy_share": "share",
    **{f"plans.{q}.exec_s": "s" for q in wl_analytics.MIX},
    "functions.text.filters_s": "s",
    "functions.text.docs_kept_share": "share",
    "operators.dedup.minhash_signatures_s": "s",
    "operators.dedup.lsh_candidate_pairs_s": "s",
    "operators.dedup.candidates": "count",
    "operators.dedup.jaccard_pairs_s": "s",
    "operators.dedup.confirmed_pairs": "count",
    "operators.dedup.candidate_precision": "share",
    "operators.dedup.remove_duplicate_segments_s": "s",
    "operators.dedup.shuffle_bytes": "B",
    "operators.sampling.split_write_s": "s",
    "trace.overhead_s": "s",
}


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def git_commit() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def prepare_work_dir() -> None:
    shutil.rmtree(WORK, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, sub))
    # Everything Spark, the JVM and Python write goes under the work dir.
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # Neither JVM spark-submit starts may write hsperfdata to /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # Python workers import the engine from the checkout too.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "product_etl_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    prepare_work_dir()
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import importlib

    from harness import Bench, Ctx

    ctx = Ctx(workload=args.workload, seed=args.seed, seconds=args.seconds,
              trace=bool(args.trace), work=WORK, t_start=T_START,
              cores=len(os.sched_getaffinity(0)))
    bench = Bench(ctx)
    try:
        out = importlib.import_module(WORKLOADS[args.workload]).run(bench)
        env = {**bench.environment(), "commit": git_commit(), "seed": args.seed,
               "seconds": args.seconds, "trace": args.trace}
        if ctx.trace:
            bench.write_spans()
    finally:
        bench.stop()
        shutdown_jvm()

    if ctx.trace:
        layers = {**{k: 0 for k in PER_LAYER}, **out["layers"]}
        layers["session.get_spark_s"] = bench.setup_steps["get_spark"]
        layers["session.warmup_s"] = bench.setup_steps["warmup"]
        layers["session.load_tables_s"] = bench.setup_steps["load_tables"]
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        values = {**out["e2e"], "setup_s": bench.setup_s,
                  "peak_rss_mb": bench.peak_rss_mb()}
        metrics = {k: {"value": values[k], "unit": u} for k, u in E2E.items()}

    print("# environment " + json.dumps(env))
    print("# info " + json.dumps({**out["info"], "e2e": out["e2e"], "gen_s": bench.gen_s,
                                  "run_s": time.monotonic() - T_START}))
    print(f"# error_rate {bench.failed / max(1, bench.attempted)} "
          f"({bench.failed} of {bench.attempted} operations failed)")
    for f in bench.failures:
        print(f"# FAILED {f}")
    for name, m in metrics.items():
        print(f"# {name} = {m['value']} {m['unit']}")
    print(json.dumps({"correct": bench.failed == 0, "attempted": bench.attempted,
                      "failed": bench.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
