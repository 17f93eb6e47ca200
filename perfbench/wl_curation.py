"""``corpus_curation``: the training-corpus curation chain.

Each operation runs ``pipelines.corpus.curate_corpus`` with near-dup
(MinHash-LSH) dedup and segment dedup on a seeded corpus, then writes
train and validation to parquet, until the timed curations add up to
the run's seconds, and at least ``MIN_OPS``. There is no untimed
warm-up: the first curation runs in the freshly started JVM, compiling
the chain's plans as a user's first call would. After each operation
(untimed) the written ids are checked against the generator's ground
truth: planted near-duplicates are removed with recall and precision
above fixed floors, junk documents are filtered, each boilerplate
paragraph survives at most once, and train and validation are
disjoint.

``BENCHMARK.json`` does not declare this workload; ``probe`` measures
its layers in the traced ``catalog_analytics`` run instead.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

import gen_corpus
from harness import Bench, materialize, median, noop, percentile

N_DOCS = 300
MIN_OPS = 1
RECALL_FLOOR = 0.95
PRECISION_FLOOR = 0.95


def _config():
    from product_etl_spark.pipelines.corpus import CurateConfig

    return CurateConfig(dedup_strategy="near", segment_dedup_words=gen_corpus.SEG_WORDS,
                        test_fraction=0.1)


def run(bench: Bench) -> dict:
    from product_etl_spark.pipelines import corpus as corpus_mod

    ctx = bench.ctx
    path = os.path.join(ctx.work, "corpus.parquet")
    out_dir = os.path.join(ctx.work, "curated")
    t0 = time.monotonic()
    corpus = gen_corpus.generate(path, ctx.seed, N_DOCS)
    bench.gen_s = time.monotonic() - t0

    docs = None

    def prepare(spark):
        nonlocal docs
        docs = spark.read.parquet(path)
        docs.limit(1).collect()

    bench.start_session(prepare)
    spark = bench.spark
    tracer = _CurationTracer(bench, corpus_mod)

    def check(train_path: str, val_path: str, label: str) -> None:
        train = spark.read.parquet(train_path).select("doc_id", "text").collect()
        val = spark.read.parquet(val_path).select("doc_id", "text").collect()
        t_ids, v_ids = {r[0] for r in train}, {r[0] for r in val}
        removed = set(range(corpus.n_docs)) - t_ids - v_ids
        hits = len(removed & corpus.dup_ids)
        recall = hits / max(1, len(corpus.dup_ids))
        precision = hits / max(1, len(removed - corpus.junk_ids))
        texts = [r[1] for r in train + val]
        boiler = [sum(b in t for t in texts) for b in corpus.boilerplates]
        problems = []
        if recall < RECALL_FLOOR or precision < PRECISION_FLOOR:
            problems.append(f"dup recall {recall:.3f} precision {precision:.3f}")
        if t_ids & v_ids:
            problems.append(f"{len(t_ids & v_ids)} ids in both train and validation")
        if (t_ids | v_ids) & corpus.junk_ids:
            problems.append("junk documents kept")
        if max(boiler, default=0) > 1:
            problems.append(f"boilerplate kept {boiler} times")
        bench.record(not problems, f"{label}: {problems}")

    def curate(label: str) -> float:
        """One operation: curate, write both splits, check (untimed)."""
        train_path, val_path = f"{out_dir}/train-{label}", f"{out_dir}/val-{label}"
        tracer.op = label
        t_op = time.monotonic()
        with bench.span("pipelines.corpus.curate_corpus", label) as op:
            tracer.parent = op
            train, val, _ = corpus_mod.curate_corpus(docs, "text", "doc_id", _config())
            with bench.span("operators.sampling.write", label, parent=op):
                train.write.parquet(train_path)
                val.write.parquet(val_path)
        wall = time.monotonic() - t_op
        check(train_path, val_path, label)
        return wall

    walls = []
    with tracer.installed():
        while len(walls) < MIN_OPS or sum(walls) < ctx.seconds:
            walls.append(curate(f"op{len(walls)}"))
        trace_cost_s = bench.trace_cost_s
        if ctx.trace:
            tracer.probe_layers(docs, f"{out_dir}/probe")

    e2e = {
        "op_p50_s": median(walls),
        "op_p90_s": percentile(walls, 90),
        "items_per_s": corpus.n_docs / median(walls),
    }
    info = {"docs": corpus.n_docs, "ops": len(walls), "op_s": walls, "planted_dups": len(corpus.dup_ids),
            "junk": len(corpus.junk_ids)}
    layers = {}
    if ctx.trace:
        bench.collect_job_metrics()
        layers = tracer.layers(trace_cost_s / len(walls))
    return {"e2e": e2e, "info": info, "layers": layers}


def probe(bench: Bench) -> "_CurationTracer":
    """Probe the curation layers in another workload's traced run, on
    the corpus this workload would curate: ``corpus_curation`` is not
    declared in ``BENCHMARK.json`` (its runs would not fit the run
    budget), so its layers are measured here. Returns the tracer; its
    ``layers()`` is read once the run's job metrics are collected."""
    from product_etl_spark.pipelines import corpus as corpus_mod

    ctx = bench.ctx
    path = os.path.join(ctx.work, "corpus.parquet")
    gen_corpus.generate(path, ctx.seed, N_DOCS)
    tracer = _CurationTracer(bench, corpus_mod)
    with tracer.installed():
        tracer.probe_layers(bench.spark.read.parquet(path), os.path.join(ctx.work, "probe"))
    return tracer


class _CurationTracer:
    """Traced-run instrumentation of the curation layers.

    ``curate_corpus`` calls ``train_test_split`` by its module name;
    the wrapper gives the call a span and, in the probe run, swaps the
    input for a materialized copy so the split and the writes can be
    timed on their own."""

    def __init__(self, bench: Bench, corpus_mod):
        self.bench = bench
        self.mod = corpus_mod
        self.op = ""
        self.parent = None
        self.capture = None  # set to a dict during the sampling probe
        self.self_s: dict[str, float] = {}
        self.counts: dict[str, int] = {}

    @contextmanager
    def installed(self):
        if not self.bench.ctx.trace:
            yield
            return
        original = self.mod.train_test_split

        def traced(df, *args, **kwargs):
            if self.capture is not None:
                df = self.capture["input"] = materialize(df)
            t0 = time.monotonic()
            with self.bench.span("operators.sampling.train_test_split", self.op,
                                 parent=self.parent):
                out = original(df, *args, **kwargs)
            if self.capture is not None:
                self.capture["split_s"] = time.monotonic() - t0
            return out

        self.mod.train_test_split = traced
        try:
            yield
        finally:
            self.mod.train_test_split = original

    def probe_layers(self, docs, out: str) -> None:
        """Layer self times, once the JVM is warm: the filter battery
        ``curate_corpus`` applies, the public chain ``dedup_corpus``
        runs on the filtered frame, then the split and the two writes."""
        from pyspark.sql import functions as F

        from product_etl_spark.functions import text as T
        from product_etl_spark.operators import dedup as D

        b, cfg = self.bench, _config()

        def filters(df):
            df = df.withColumn("lang_id", T.detect_script("text"))
            df = df.withColumn("quality", T.quality_score("text")).filter(
                F.col("quality") >= cfg.min_quality)
            df = df.filter(T.gopher_quality_flags("text")["keep"])
            return df.filter(T.line_repetition_ratio("text") <= cfg.max_line_repetition)

        docs = materialize(docs)
        (cur,), self.self_s["filters"] = b.probe("filters", lambda: filters(docs), [docs])
        cur = materialize(cur)
        (sig,), self.self_s["minhash"] = b.probe(
            "minhash", lambda: D.minhash_signatures(cur, "text", "doc_id", k=8), [cur])
        sig = materialize(sig)
        (cand,), self.self_s["lsh"] = b.probe(
            "lsh", lambda: D.lsh_candidate_pairs(sig, "doc_id", bands=4, rows_per_band=2),
            [sig])
        cand = materialize(cand)
        (conf,), self.self_s["jaccard"] = b.probe(
            "jaccard", lambda: D.jaccard_pairs(cur, "text", "doc_id",
                                               threshold=cfg.jaccard_threshold,
                                               candidates=cand), [cur, cand])
        deduped = materialize(D.dedup_corpus(cur, "text", "doc_id", strategy="near",
                                             jaccard_threshold=cfg.jaccard_threshold))
        _, self.self_s["segments"] = b.probe(
            "segments", lambda: D.remove_duplicate_segments(
                deduped, "text", "doc_id", seg_words=cfg.segment_dedup_words), [deduped])
        self.counts = {"docs": docs.count(), "kept": cur.count(),
                       "candidates": cand.count(), "confirmed": conf.count()}

        self.capture, self.op, self.parent = {}, "probe", None
        train, val, _ = self.mod.curate_corpus(docs, "text", "doc_id", cfg)
        pre, split_s = self.capture["input"], self.capture["split_s"]
        self.capture = None
        t0 = time.monotonic()
        with b.span("probe.sampling.input", "probe"):
            noop(pre)
        scan = time.monotonic() - t0
        t0 = time.monotonic()
        with b.span("probe.sampling.exec", "probe"):
            train.write.parquet(f"{out}/train")
            val.write.parquet(f"{out}/val")
        self.self_s["split_write"] = split_s + time.monotonic() - t0 - 2 * scan

    def layers(self, overhead_s: float) -> dict:
        b, c, t = self.bench, self.counts, self.self_s
        chain = ["probe.minhash.exec", "probe.lsh.exec", "probe.jaccard.exec",
                 "probe.segments.exec"]
        return {
            "functions.text.filters_s": t["filters"],
            "functions.text.docs_kept_share": c["kept"] / c["docs"],
            "operators.dedup.minhash_signatures_s": t["minhash"],
            "operators.dedup.lsh_candidate_pairs_s": t["lsh"],
            "operators.dedup.candidates": c["candidates"],
            "operators.dedup.jaccard_pairs_s": t["jaccard"],
            "operators.dedup.confirmed_pairs": c["confirmed"],
            "operators.dedup.candidate_precision": c["confirmed"] / max(1, c["candidates"]),
            "operators.dedup.remove_duplicate_segments_s": t["segments"],
            "operators.dedup.shuffle_bytes":
                sum(s["shuffle_write_bytes"] for s in b.spans if s["name"] in chain),
            "operators.sampling.split_write_s": t["split_write"],
            "trace.overhead_s": overhead_s,
        }
