"""``catalog_analytics``: a closed loop of read-only catalog queries.

One client runs a fixed mix of ``plans.CATALOG`` queries over seeded
TPC-H-like tables, one after another, each built and collected: one
pass over the mix, in catalog order, in the freshly started JVM, so
its queries pay plan compilation and JIT warm-up as a new session's
first queries do. The pass is the workload's unit of work and is not
repeated: later passes in the same JVM would be warm, and their
queries, mostly scheduling latency on these small tables, slowed by
half or more whenever a shared 4-core machine was busy, where the cold
pass, mostly compilation, moved by a third (see README). The order
is fixed because whichever queries run first absorb the one-time
costs. After the pass (untimed) the rows each query returned are
checked against its DuckDB oracle: collecting rather than a ``noop``
write lets one execution serve both the timing and the check.

A traced run also measures the ``functions.text``, ``operators.dedup``
and ``operators.sampling`` layers on a seeded corpus, after the pass
(see ``wl_curation.probe``); no timed query runs while it does.
"""

from __future__ import annotations

import os
import time

import gen_tables
import wl_curation
from harness import Bench, duration, median, percentile

#: The mix, by catalog number: product-domain; TPC-H scan, join and
#: aggregate; windows and time; vector and lexical search.
MIX = [
    "q21", "q38", "q39", "q40", "q59",
    "q01", "q71", "q72", "q73", "q88",
    "q14", "q24", "q96", "q100",
    "q35", "q116", "q117",
]
SCALE = 0.05


def run(bench: Bench) -> dict:
    from product_etl_spark import plans
    from product_etl_spark.plans.parity import compare
    from product_etl_spark.session import load_tables

    ctx = bench.ctx
    data = os.path.join(ctx.work, "tables")
    os.makedirs(data)
    t0 = time.monotonic()
    gen_tables.generate(data, ctx.seed, SCALE)
    bench.gen_s = time.monotonic() - t0

    names = {q: next(n for n in plans.CATALOG if n.startswith(q + "_")) for q in MIX}
    fns = {q: plans.CATALOG[names[q]]["fn"] for q in MIX}

    def prepare(spark):
        load_tables(spark, data)

    bench.start_session(prepare)
    spark = bench.spark

    walls: list[float] = []
    results: dict[str, tuple] = {}  # query -> (columns, rows) it returned
    t_pass = time.monotonic()
    for q in MIX:
        t_op = time.monotonic()
        try:
            with bench.span("plans.query", q, q=q) as sid:
                with bench.span("plans.build", q, parent=sid, q=q):
                    df = fns[q](spark, data)
                with bench.span("plans.exec", q, parent=sid, q=q):
                    rows = df.collect()
        except Exception as exc:  # a raising query is a failed operation
            bench.record(False, f"{q}: {exc!r}")
            continue
        walls.append(time.monotonic() - t_op)
        results[q] = (df.columns, rows)  # recorded once its rows are checked
    pass_s = time.monotonic() - t_pass

    oracles = plans.oracle_sql()
    t_check = time.monotonic()
    for q, (columns, rows) in results.items():
        try:
            ok, msg = compare(_Collected(columns, rows), oracles[names[q]], data)
        except Exception as exc:  # a raising oracle or compare fails the check
            ok, msg = False, repr(exc)
        bench.record(ok, f"{q} oracle check: {msg}")
    check_s = time.monotonic() - t_check

    e2e = {
        "op_p50_s": median(walls),
        "items_per_s": len(walls) / pass_s,
    }
    info = {"queries": len(walls), "query_p90_s": percentile(walls, 90), "pass_s": pass_s,
            "query_s": dict(zip(results, walls)), "check_s": check_s}
    layers = {}
    if ctx.trace:
        trace_cost_s = bench.trace_cost_s
        corpus = wl_curation.probe(bench)
        bench.collect_job_metrics()
        layers = {**corpus.layers(0.0), **_layers(bench, len(walls), trace_cost_s)}
    return {"e2e": e2e, "info": info, "layers": layers}


class _Collected:
    """Rows a query returned, in the shape ``plans.parity.compare``
    reads from a DataFrame (``columns`` and ``collect()``), so the check
    does not execute the query again."""

    def __init__(self, columns: list[str], rows: list):
        self.columns = columns
        self._rows = rows

    def collect(self) -> list:
        return self._rows


def _layers(bench: Bench, n_ops: int, trace_cost_s: float) -> dict:
    cores = bench.ctx.cores
    builds = bench.spans_named("plans.build")
    execs = bench.spans_named("plans.exec")
    queries = bench.spans_named("plans.query")
    n = max(1, len(queries))
    out = {
        "plans.build_s": median([duration(s) for s in builds]),
        "plans.exec_s": median([duration(s) for s in execs]),
        "plans.jobs_per_query": sum(s["jobs"] for s in builds + execs) / n,
        "plans.tasks_per_query": sum(s["tasks"] for s in builds + execs) / n,
        "plans.shuffle_bytes_per_query":
            sum(s["shuffle_write_bytes"] for s in builds + execs) / n,
        "plans.task_busy_share":
            sum(s["executor_run_ms"] for s in execs) / 1000.0
            / max(1e-9, sum(duration(s) for s in execs) * cores),
        "trace.overhead_s": trace_cost_s / max(1, n_ops),
    }
    for q in MIX:
        out[f"plans.{q}.exec_s"] = median([duration(s) for s in execs if s["q"] == q])
    return out
