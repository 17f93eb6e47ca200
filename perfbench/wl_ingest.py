"""``catalog_ingest``: an initial product export, then small deltas.

The run loads the seeded initial export (about 19k raw rows) into a
fresh warehouse, then merges delta exports (about 1.8k rows each) one
after another until the delta merges add up to the run's seconds, and
at least ``MIN_DELTAS``. ``run_warehouse_checks`` follows every batch,
and any failed check fails the batch; the checks are not part of the
merge time. Per-table row counts are compared with the generator's
after the initial load and after the last delta (untimed).

Each delta is about a tenth of the warehouse, so the cost of
rewriting whole tables on every merge shows.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

import gen_ingest
import pyarrow.dataset as pads
from harness import Bench, duration, materialize, median

N_COLLECTIONS = 2500  # ~19k raw rows in the initial export
DELTA = {"updates": 120, "resends": 60, "new": 60}  # ~1.8k raw rows per delta
MIN_DELTAS = 2


def run(bench: Bench) -> dict:
    from product_etl_spark.pipelines import ingest as ingest_mod
    from product_etl_spark.pipelines.verification import run_warehouse_checks
    from product_etl_spark.sources.csv_reader import read_raw_products

    ctx = bench.ctx
    in_dir = os.path.join(ctx.work, "exports")
    wh = os.path.join(ctx.work, "warehouse")
    os.makedirs(in_dir)
    t0 = time.monotonic()
    inputs = gen_ingest.Exports(in_dir, ctx.seed, N_COLLECTIONS, **DELTA)
    bench.gen_s = time.monotonic() - t0

    bench.start_session(lambda spark: None)
    spark = bench.spark
    tracer = _IngestTracer(bench, ingest_mod)

    def check_counts(k: int, label: str) -> None:
        """Row counts of the published tables, read from their parquet
        footers rather than asked of the engine."""
        got = {name: pads.dataset(os.path.join(wh, name), format="parquet",
                                  partitioning="hive").count_rows()
               for name in inputs.expected[k]}
        ok = got == inputs.expected[k]
        bench.record(ok, f"{label} row counts: {got} != {inputs.expected[k]}")

    def batch(path: str, label: str):
        """One batch: read, run_ingest, then the warehouse checks."""
        t_batch = time.monotonic()
        with bench.span("catalog_ingest.batch", label) as op:
            with bench.span("sources.read_raw_products", label, parent=op):
                raw = read_raw_products(spark, path)
            with bench.span("pipelines.ingest.run_ingest", label, parent=op) as sid:
                tracer.parent = sid
                tracer.op = label
                result = ingest_mod.run_ingest(spark, raw, wh)
        t_merged = time.monotonic()
        with bench.span("pipelines.verification.run_warehouse_checks", label) as vid:
            checks = run_warehouse_checks(result.tables)
        t_verified = time.monotonic()
        failed = [c for c in checks if not c.ok]
        if vid is not None:
            bench.spans[-1]["checks_failed"] = len(failed)
        bench.record(not failed, f"{label} checks: {[(c.name, c.details) for c in failed]}")
        tracer.note_files(label, t_batch, os.path.getsize(path))
        return t_merged - t_batch, t_verified - t_merged

    with tracer.installed():
        initial_s, verify0 = batch(inputs.initial_path, "initial")
        check_counts(0, "initial")
        merges, verifies = [], [verify0]
        k = 0
        while k < MIN_DELTAS or sum(merges) < ctx.seconds:
            merge_s, verify_s = batch(inputs.next_delta(), f"delta{k}")
            merges.append(merge_s)
            verifies.append(verify_s)
            k += 1
        check_counts(k, f"after delta{k - 1}")
    trace_cost_s = bench.trace_cost_s
    if ctx.trace:
        tracer.probe_layers(inputs.initial_path, wh + "_probe")

    e2e = {
        "op_p50_s": median(merges),
        "items_per_s": inputs.initial_rows / initial_s,
    }
    info = {"initial_rows": inputs.initial_rows, "initial_s": initial_s, "deltas": k,
            "delta_rows": sum(inputs.delta_rows[:k]), "verify_s": median(verifies),
            "merge_s": merges, "checks_s": verifies}
    layers = {}
    if ctx.trace:
        bench.collect_job_metrics()
        layers = tracer.layers(trace_cost_s / (k + 1))
    return {"e2e": e2e, "info": info, "layers": layers}


class _IngestTracer:
    """Traced-run instrumentation of the ingest layers.

    ``run_ingest`` merges its tables from a thread pool; wrapping the
    ``upsert_parquet`` name the ingest module calls gives each merge
    its own span and job group, with the ``run_ingest`` span as
    parent."""

    def __init__(self, bench: Bench, ingest_mod):
        self.bench = bench
        self.mod = ingest_mod
        self.parent = None
        self.op = ""
        self.files: dict[str, tuple[int, int]] = {}  # batch -> (files, csv bytes)
        self.self_s: dict[str, float] = {}

    @contextmanager
    def installed(self):
        if not self.bench.ctx.trace:
            yield
            return
        original = self.mod.upsert_parquet

        def traced(spark, updates, path, keys, *args, **kwargs):
            with self.bench.span("operators.upsert.upsert_parquet", self.op,
                                 parent=self.parent, table=os.path.basename(path)):
                return original(spark, updates, path, keys, *args, **kwargs)

        self.mod.upsert_parquet = traced
        try:
            yield
        finally:
            self.mod.upsert_parquet = original

    def note_files(self, label: str, since: float, csv_bytes: int) -> None:
        if not self.bench.ctx.trace:
            return
        wh = os.path.join(self.bench.ctx.work, "warehouse")
        wall_since = time.time() - (time.monotonic() - since)
        n = 0
        for root, _, files in os.walk(wh):
            for f in files:
                if f.endswith(".parquet") and os.path.getmtime(os.path.join(root, f)) >= wall_since:
                    n += 1
        self.files[label] = (n, csv_bytes)

    def probe_layers(self, path: str, scratch_wh: str) -> None:
        """Layer self times on the initial export, once the JVM is warm."""
        from product_etl_spark.operators.split import split_master_variants
        from product_etl_spark.sources.csv_reader import read_raw_products

        b, spark = self.bench, self.bench.spark
        (raw,), self.self_s["sources"] = b.probe(
            "sources", lambda: read_raw_products(spark, path), [])
        raw = materialize(raw)
        _, self.self_s["split"] = b.probe(
            "split", lambda: split_master_variants(raw), [raw])
        # run_ingest splits internally, so each table's write includes
        # the split window over the in-memory export
        _, self.self_s["build"] = b.probe(
            "build",
            lambda: list(self.mod.run_ingest(spark, raw, scratch_wh, write=False)
                         .tables.values()),
            [raw])
        self.self_s["rows"] = raw.count()

    def layers(self, overhead_s: float) -> dict:
        b = self.bench
        deltas = [s for s in b.spans_named("pipelines.ingest.run_ingest")
                  if s["op"].startswith("delta")]
        merge_s, max_table_s, up_jobs, files, amp, ingest_jobs = [], [], [], [], [], []
        for s in deltas:
            ups = [c for c in b.spans if c["parent"] == s["id"]]
            # the union of the overlapping merge intervals
            merge_s.append(duration(s) - b.self_time(s))
            max_table_s.append(max(duration(c) for c in ups))
            up_jobs.append(sum(c["jobs"] for c in ups))
            n_files, csv_bytes = self.files[s["op"]]
            files.append(n_files)
            amp.append(sum(c["output_bytes"] for c in ups) / csv_bytes)
            ingest_jobs.append(sum(c["jobs"] for c in b.subtree(s)))
        verify = b.spans_named("pipelines.verification.run_warehouse_checks")
        return {
            "sources.read_raw_products_s": self.self_s["sources"],
            "sources.rows": self.self_s["rows"],
            "operators.split.split_master_variants_s": self.self_s["split"],
            "pipelines.ingest.build_tables_s": self.self_s["build"],
            "pipelines.ingest.run_ingest_s": median([duration(s) for s in deltas]),
            "pipelines.ingest.jobs": median(ingest_jobs),
            "operators.upsert.merge_s": median(merge_s),
            "operators.upsert.merge_max_table_s": median(max_table_s),
            "operators.upsert.jobs": median(up_jobs),
            "operators.upsert.files_written": median(files),
            "operators.upsert.bytes_written_per_input_byte": median(amp),
            "pipelines.verification.run_warehouse_checks_s":
                median([duration(s) for s in verify]),
            "pipelines.verification.jobs": median([s["jobs"] for s in verify]),
            "pipelines.verification.checks_failed": sum(s["checks_failed"] for s in verify),
            "trace.overhead_s": overhead_s,
        }
