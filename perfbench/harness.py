"""Shared benchmark machinery: session set-up inside the checkout, summary
statistics, Spark job/stage/task accounting and in-memory trace spans."""

from __future__ import annotations

import json
import math
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile of a non-empty sample."""
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return quantile(values, 0.5)


def operation_latency(ops: list[float]) -> dict:
    """Latencies of a client's operations, which differ in kind: the
    geometric mean (a median would jump between kinds from run to run)
    and the slowest operation."""
    return {"latency_s": math.exp(sum(math.log(x) for x in ops) / len(ops)),
            "tail_s": max(ops)}


def configure_environment(root: str, work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    ``work``, and let Python workers import the program from ``root``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    import tempfile
    tempfile.tempdir = None  # re-read TMPDIR

    from pyspark.sql import SparkSession
    (SparkSession.builder
     .config("spark.local.dir", os.environ["SPARK_LOCAL_DIRS"])
     .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
     .config("spark.driver.extraJavaOptions",
             f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
     .config("spark.ui.enabled", "false")
     .config("spark.ui.retainedJobs", "100000")
     .config("spark.ui.retainedStages", "100000"))


# The host probe's time in a fast spell of the 4-vCPU host the benchmark was
# tuned on: normalized figures equal raw ones at this host speed.
PROBE_REF_S = 0.016


def host_probe() -> float:
    """Seconds a fixed pure-Python loop takes now.  The program's code and
    settings cannot change it, so it follows only the speed of the host,
    which on a shared host drifts by half or more within a minute."""
    t = time.perf_counter()
    x = 0
    for j in range(200_000):
        x += j * j
    return time.perf_counter() - t


def floor_job(spark) -> float:
    """range -> sum -> noop: the fixed per-query floor and host-drift yardstick."""
    t = time.perf_counter()
    (spark.range(1_000_000).selectExpr("sum(id)")
     .write.format("noop").mode("overwrite").save())
    return time.perf_counter() - t


@dataclass
class Session:
    spark: object
    master: str
    setups_s: list[float]  # the cold set-up, then each rebuild
    floor_s: float

    def rebuild(self) -> None:
        """Stop the session and build it again on the running JVM, then run
        the warm-up job; the seconds taken join ``setups_s``."""
        from oanda_stream_processor_spark.session import get_spark
        t = time.perf_counter()
        self.spark.stop()
        self.spark = get_spark(app_name="perfbench", master=self.master)
        floor_job(self.spark)
        self.setups_s.append(time.perf_counter() - t)


def start_session(t_process: float, nproc: int) -> Session:
    """Cold set-up (process start -> session ready -> warm-up job), then
    two rebuilds of the session.  ``setups_s`` holds the cold set-up first."""
    from oanda_stream_processor_spark.session import get_spark
    master = f"local[{nproc}]"
    spark = get_spark(app_name="perfbench", master=master)
    floor_job(spark)
    sess = Session(spark, master, [time.perf_counter() - t_process], 0.0)
    for _ in range(2):
        sess.rebuild()
    sess.floor_s = median([floor_job(sess.spark) for _ in range(3)])
    return sess


def jvm_peak_heap_mb(spark) -> float:
    """Peak bytes used over the JVM's heap memory pools, in MiB."""
    jvm = spark.sparkContext._jvm
    heap = jvm.java.lang.management.MemoryType.HEAP
    total = 0
    for pool in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans():
        if pool.getType() == heap:
            total += pool.getPeakUsage().getUsed()
    return total / 2**20


def environment_record(spark, master: str, nproc: int, seed: int, trace: bool,
                       floor_s: float) -> dict:
    import pyspark
    sc = spark.sparkContext
    return {"nproc": nproc, "spark.master": sc.master, "requested_master": master,
            "defaultParallelism": sc.defaultParallelism,
            "pyspark": pyspark.__version__, "seed": seed, "traced": trace,
            "session.floor_s": floor_s}


# -- Spark accounting --------------------------------------------------------

class SparkCounters:
    """Exact job/stage/task counts and executor-side totals over the jobs and
    stages started after ``start()``, read from the status store, plus
    per-job-group counts from the status tracker."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._first_job = self._first_stage = 0

    def _store(self):
        return self._sc._jsc.sc().statusStore()

    def _stages(self, store) -> list:
        no_quantiles = self._sc._gateway.new_array(self._sc._jvm.double, 0)
        return _scala_list(store.stageList(None, False, False, no_quantiles, None))

    def start(self) -> None:
        store = self._store()
        jobs = [j.jobId() for j in _scala_list(store.jobsList(None))]
        stages = [s.stageId() for s in self._stages(store)]
        self._first_job = max(jobs) + 1 if jobs else 0
        self._first_stage = max(stages) + 1 if stages else 0

    def group_counts(self, group: str) -> dict:
        """Jobs, stages and tasks of every job run under ``group``."""
        tracker = self._sc.statusTracker()
        jobs = stages = tasks = 0
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks:
                    stages += 1
                    tasks += st.numCompletedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks}

    def totals(self) -> dict:
        """Counts, executor run/CPU/GC time, input bytes and busy wall time
        (the union of stage intervals) since ``start()``."""
        store = self._store()
        jobs = sum(1 for j in _scala_list(store.jobsList(None))
                   if j.jobId() >= self._first_job)
        stages = tasks = run_ms = gc_ms = cpu_ns = in_bytes = 0
        spans: list[tuple[int, int]] = []
        for s in self._stages(store):
            if s.stageId() < self._first_stage or s.status().toString() == "SKIPPED":
                continue
            stages += 1
            tasks += s.numCompleteTasks()
            run_ms += s.executorRunTime()
            cpu_ns += s.executorCpuTime()
            gc_ms += s.jvmGcTime()
            in_bytes += s.inputBytes()
            sub, done = s.submissionTime(), s.completionTime()
            if sub.isDefined() and done.isDefined():
                spans.append((sub.get().getTime(), done.get().getTime()))
        busy_ms, end = 0, None
        for a, b in sorted(spans):
            if end is None or a > end:
                busy_ms += b - a
                end = b
            elif b > end:
                busy_ms += b - end
                end = b
        return {"jobs": jobs, "stages": stages, "tasks": tasks,
                "task_run_s": run_ms / 1e3, "task_cpu_s": cpu_ns / 1e9,
                "task_gc_s": gc_ms / 1e3, "input_mb": in_bytes / 2**20,
                "stage_busy_s": busy_ms / 1e3}


def _scala_list(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


# -- tracing -----------------------------------------------------------------

@dataclass
class Tracer:
    """In-memory spans (name, start, end, parent, run id), written at exit.
    Disabled tracers record nothing, so untraced runs pay no cost."""

    enabled: bool
    run_id: str
    spans: list[dict] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def record(self, name: str, start: float, end: float,
               parent: int | None = None, **attrs) -> int:
        """Add a finished span measured elsewhere (e.g. from Spark's own
        progress events, in wall-clock seconds); returns its id."""
        if not self.enabled:
            return -1
        sid = len(self.spans)
        self.spans.append({"id": sid, "name": name, "run": self.run_id, "parent": parent,
                           "start": start, "end": end, **attrs})
        return sid

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child[s["id"]]
        return out

    def write(self, path: str) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)
