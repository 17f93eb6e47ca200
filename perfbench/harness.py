"""Shared machinery of the benchmark: timed session set-up, spans with
Spark job attribution, the monitoring REST client, memory and
percentiles.

Nothing here knows a workload. A workload module builds a
:class:`Bench`, asks it for a session, and records its operations and
spans on it.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Ctx:
    """Run parameters, fixed by ``run.py`` before any workload code runs."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    work: str  # scratch directory inside the checkout
    t_start: float  # time.monotonic() at process start
    cores: int

    @property
    def master(self) -> str:
        return f"local[{self.cores}]"


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def percentile(xs: list[float], p: int) -> float:
    """Linear-interpolated ``p``-th percentile (inclusive method)."""
    if not xs:
        return float("nan")
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[p - 1]


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set (``VmHWM``) of a process in MiB, 0 if gone."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class Bench:
    """One benchmark process: session, operation log, spans."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.spark = None
        self.setup_s = float("nan")
        #: per set-up step: get_spark, warm-up query, input registration
        self.setup_steps: dict[str, float] = {}
        self.gen_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.spans: list[dict] = []
        self._span_seq = 0
        self._span_lock = threading.Lock()  # spans open from pool threads too
        self._rss_jvm_mb = 0.0
        #: wall time spent in span bookkeeping (job-group calls, records)
        self.trace_cost_s = 0.0

    # ---- session -------------------------------------------------------

    def spark_conf(self) -> dict[str, str]:
        work = self.ctx.work
        # The heap is fixed at 2 GiB (-Xms = the cap), with a fixed
        # 256 MiB young generation and old-generation marking started at
        # a fixed 30 % occupancy. Resident memory then counts the pages
        # the JVM has touched: the young generation, which is reused,
        # plus the old-generation regions live data fills between
        # marking cycles, so peak_rss_mb follows what the engine keeps
        # live. Left to G1's own timing (a heap that starts small and is
        # grown for GC time, or an adaptive marking threshold), the
        # touched heap differed from run to run by up to 0.7 GiB.
        conf = {
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": "-Xms2g -Xmn256m -XX:-G1UseAdaptiveIHOP "
                                             "-XX:InitiatingHeapOccupancyPercent=30 "
                                             f"-Djava.io.tmpdir={work}/tmp "
                                             f"-Dderby.system.home={work}/tmp",
            "spark.local.dir": f"{work}/spark-local",
            "spark.sql.warehouse.dir": f"{work}/spark-warehouse",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.ctx.trace:
            # The monitoring REST API lives on the UI server; port 0
            # picks a free localhost port.
            conf.update({
                "spark.ui.enabled": "true",
                "spark.ui.port": "0",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.ui.retainedTasks": "1000",
            })
        return conf

    def start_session(self, prepare) -> None:
        """Set up the session, cold, and time it: from process start
        (minus input generation) through the Python imports, the JVM
        launch, ``get_spark``, a warm-up query and ``prepare``, which
        registers the workload's inputs."""
        from product_etl_spark.session import get_spark

        ctx = self.ctx
        t_get = time.monotonic()
        spark = get_spark(f"perfbench-{ctx.workload}", master=ctx.master,
                          shuffle_partitions=ctx.cores, extra_conf=self.spark_conf())
        spark.sparkContext.setLogLevel("ERROR")
        t_warm = time.monotonic()
        spark.range(1_000_000).selectExpr("sum(id)").collect()
        t_load = time.monotonic()
        prepare(spark)
        t1 = time.monotonic()
        self.setup_steps = {"get_spark": t_warm - t_get, "warmup": t_load - t_warm,
                            "load_tables": t1 - t_load}
        self.setup_s = t1 - ctx.t_start - self.gen_s
        self.spark = spark

    @staticmethod
    def _jvm_pid() -> int | None:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        return getattr(proc, "pid", None)

    def peak_rss_mb(self) -> float:
        return self._rss_jvm_mb + vm_hwm_mb("self")

    def stop(self) -> None:
        """Stop the session, first reading the JVM's peak memory."""
        if self.spark is not None:
            pid = self._jvm_pid()
            if pid:
                self._rss_jvm_mb = vm_hwm_mb(pid)
            self.spark.stop()
            self.spark = None

    def environment(self) -> dict:
        sc = self.spark.sparkContext
        jvm = sc._jvm
        return {
            "nproc": len(os.sched_getaffinity(0)),
            "master": sc.master,
            "shuffle_partitions": self.spark.conf.get("spark.sql.shuffle.partitions"),
            "spark": self.spark.version,
            "java": jvm.java.lang.System.getProperty("java.version"),
        }

    # ---- operations ----------------------------------------------------

    def record(self, ok: bool, what: str) -> None:
        """Count one attempted operation; a failed check counts as failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)

    # ---- tracing -------------------------------------------------------

    @contextmanager
    def span(self, name: str, op_id: str, parent: int | None = None, **attrs):
        """Record a span and tag the Spark jobs it starts with its own
        job group. Yields the span id (``None`` when tracing is off)."""
        if not self.ctx.trace:
            yield None
            return
        t_in = time.monotonic()
        with self._span_lock:
            self._span_seq += 1
            sid = self._span_seq
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(f"span-{sid}", name)
        t0 = time.monotonic()
        try:
            yield sid
        finally:
            t1 = time.monotonic()
            sc.setLocalProperty("spark.jobGroup.id", prev)
            self.spans.append({"id": sid, "name": name, "op": op_id, "parent": parent,
                               "start": t0, "end": t1, **attrs})
            with self._span_lock:
                self.trace_cost_s += (t0 - t_in) + (time.monotonic() - t1)

    def collect_job_metrics(self) -> None:
        """Attach job, task and REST stage metrics to every span."""
        if not self.ctx.trace or not self.spans:
            return
        sc = self.spark.sparkContext
        try:
            sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:  # not reachable on this build: give the bus a moment
            time.sleep(1.0)
        rest = _RestClient(sc.uiWebUrl, sc.applicationId)
        stages = rest.stages()
        for s in self.spans:
            group = f"span-{s['id']}"
            job_ids = list(sc.statusTracker().getJobIdsForGroup(group))
            stage_ids = [sid for j in rest.jobs_in_group(group) for sid in j["stageIds"]]
            s["jobs"] = len(job_ids)
            acc = {"tasks": 0, "executor_run_ms": 0, "shuffle_read_bytes": 0,
                   "shuffle_write_bytes": 0, "output_bytes": 0, "input_bytes": 0}
            for sid in stage_ids:
                for st in stages.get(sid, []):
                    acc["tasks"] += st.get("numCompleteTasks", 0)
                    acc["executor_run_ms"] += st.get("executorRunTime", 0)
                    acc["shuffle_read_bytes"] += st.get("shuffleReadBytes", 0)
                    acc["shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
                    acc["output_bytes"] += st.get("outputBytes", 0)
                    acc["input_bytes"] += st.get("inputBytes", 0)
            s.update(acc)

    def write_spans(self) -> str:
        path = os.path.join(self.ctx.work, f"spans-{self.ctx.workload}.json")
        with open(path, "w") as fh:
            json.dump(self.spans, fh)
        return path

    def probe(self, name: str, call, inputs: list) -> tuple[list, float]:
        """Self time of one layer call, in a traced run.

        ``inputs`` are materialized frames the call reads. The probe
        times the call (planning) and a noop write of each output: the
        layer's prefix time. Each output's write scans the inputs
        again, so one scan of every input is subtracted per output.
        Returns the outputs and the self time."""
        scan = 0.0
        for df in inputs:
            t0 = time.monotonic()
            with self.span(f"probe.{name}.input", "probe"):
                noop(df)
            scan += time.monotonic() - t0
        t0 = time.monotonic()
        with self.span(f"probe.{name}.plan", "probe"):
            outs = call()
        outs = list(outs) if isinstance(outs, (list, tuple)) else [outs]
        with self.span(f"probe.{name}.exec", "probe"):
            for df in outs:
                noop(df)
        return outs, time.monotonic() - t0 - len(outs) * scan

    # ---- span arithmetic -------------------------------------------------

    def spans_named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_time(self, span: dict) -> float:
        """Duration minus the union of the intervals its children cover;
        children of one span may overlap (threads), so the union is
        what the parent waited on."""
        kids = sorted((c["start"], c["end"]) for c in self.spans if c["parent"] == span["id"])
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (span["end"] - span["start"]) - covered

    def subtree(self, span: dict) -> list[dict]:
        out, frontier = [span], [span["id"]]
        while frontier:
            kids = [s for s in self.spans if s["parent"] in frontier]
            out += kids
            frontier = [k["id"] for k in kids]
        return out


def duration(span: dict) -> float:
    return span["end"] - span["start"]


def noop(df) -> None:
    """Force a DataFrame without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def materialize(df):
    """An in-memory copy of ``df`` whose scan no longer recomputes its
    lineage."""
    return df.localCheckpoint(eager=True)


class _RestClient:
    """Spark's monitoring REST API on the local UI server."""

    def __init__(self, ui_url: str, app_id: str):
        self.base = f"{ui_url}/api/v1/applications/{app_id}"
        self._jobs = None

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def jobs_in_group(self, group: str) -> list[dict]:
        if self._jobs is None:
            self._jobs = self._get("/jobs")
        return [j for j in self._jobs if j.get("jobGroup") == group]

    def stages(self) -> dict[int, list[dict]]:
        out: dict[int, list[dict]] = {}
        for st in self._get("/stages?details=false"):
            out.setdefault(st["stageId"], []).append(st)
        return out
