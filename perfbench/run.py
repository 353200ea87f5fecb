"""spark-graft benchmark: one fresh process per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (BENCHMARK.json says why each is there):
  tick-replay  closed loop, repeated drains of a seeded 20k-line capture
               through ``run_pipeline``, alternating the single and the
               partitioned publisher
  query-store  closed loop, one client: 16 registry queries, one per
               operator module, then BM25 store writes, a compaction and a
               served read; the sequence repeats until --seconds has
               passed

Every run prints, on stdout, an ``{"env": ...}`` line (nproc, effective
master, defaultParallelism, pyspark version, seed, floor, traced), a
``{"detail": ...}`` line with the workload's own breakdown, and last the
result line ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end ones:

  setup_s           session set-up on the running JVM: the median of four
                    rebuilds (``spark.stop()``, ``session.get_spark``, then
                    the range->sum->noop warm-up job), two after the cold
                    start and two after the workload.  JVM launch and
                    imports happen once per process; that cold start is the
                    per-layer ``session.cold_setup_s``
  throughput_per_s  tick-replay: published frames per second of drain
                    wall time over every drain after the warm-up;
                    query-store: operations per second of operation time
                    over every pass (a query's build + execute, a store
                    write, the compaction, the gate probe + read)

The throughput is normalized to a reference host speed.  The speed of a
shared host drifts by half or more in spells of tens of seconds, which can
spread raw rates from run to run by more than any bound a gated metric may
have.  A fixed pure-Python loop (``harness.host_probe``), which the program
cannot change, is timed just before each operation while Spark is idle, and
the rate is multiplied by the run's median probe time over
``harness.PROBE_REF_S``.  The detail line's ``host`` entry holds the raw
rate and the probe.

With ``--trace 1`` the same workload runs with spans and Spark accounting
on and the metrics are the per-layer ones (session, Spark scheduler and
executor layers over the measured phase).  A failed output check makes
``correct`` false and the exit code 1; an error before a result exists
exits 2 without a result line.  All files live under the checkout:
``.perfbench_work/`` (removed at exit) and ``.perfbench_out/`` (traces).
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.harness import (  # noqa: E402
    PROBE_REF_S, SparkCounters, Tracer, configure_environment, environment_record,
    host_probe, jvm_peak_heap_mb, median, start_session)

END_TO_END = ["setup_s", "throughput_per_s"]
PER_LAYER = ["session.cold_setup_s", "session.floor_s", "session.jvm_peak_heap_mb",
             "spark.jobs", "spark.stages", "spark.tasks", "spark.jobs_per_op",
             "spark.stage_busy_s", "spark.outside_stages_s", "spark.task_run_s",
             "spark.task_cpu_s", "spark.input_mb"]
UNITS = {"setup_s": "s",
         "throughput_per_s": "1/s", "session.cold_setup_s": "s", "session.floor_s": "s",
         "session.jvm_peak_heap_mb": "MiB", "spark.jobs": "count", "spark.stages": "count",
         "spark.tasks": "count", "spark.jobs_per_op": "count", "spark.stage_busy_s": "s",
         "spark.outside_stages_s": "s", "spark.task_run_s": "s", "spark.task_cpu_s": "s",
         "spark.input_mb": "MiB"}


class Context:
    """What a workload gets: the session, its seed and window, a work
    directory, the tracer and the Spark counters."""

    def __init__(self, root, work, seed, seconds, trace, spark):
        self.root, self.work, self.seed = root, work, seed
        self.seconds, self.trace, self.spark = seconds, trace, spark
        self.tracer = Tracer(trace, f"{seed}-{os.getpid()}")
        self.counters = SparkCounters(spark)
        self.n_ops = 0
        self.probes: list[float] = []
        self.extra_failed = 0
        self.totals: dict = {}
        self._t_measure = 0.0
        self.measured_s = 0.0

    def probe(self) -> None:
        """Sample the host's speed; workloads call it before each operation."""
        self.probes.append(host_probe())

    def counters_start(self) -> None:
        if self.trace:
            self.counters.start()
        self._t_measure = time.perf_counter()

    def measure_end(self) -> None:
        self.measured_s = time.perf_counter() - self._t_measure
        if self.trace:
            self.totals = self.counters.totals()


def _workloads():
    from perfbench import querymix, ticks
    return {"tick-replay": ticks.tick_replay, "query-store": querymix.query_store}


def metrics_of(result: dict, sess, ctx) -> dict:
    if not ctx.trace:
        vals = {"setup_s": median(sess.setups_s[1:]),
                "throughput_per_s": result["rate_per_s"] * median(ctx.probes) / PROBE_REF_S}
    else:
        t = ctx.totals
        vals = {"session.cold_setup_s": sess.setups_s[0], "session.floor_s": sess.floor_s,
                "session.jvm_peak_heap_mb": jvm_peak_heap_mb(ctx.spark),
                "spark.jobs": t["jobs"], "spark.stages": t["stages"], "spark.tasks": t["tasks"],
                "spark.jobs_per_op": t["jobs"] / max(1, ctx.n_ops),
                "spark.stage_busy_s": t["stage_busy_s"],
                "spark.outside_stages_s": ctx.measured_s - t["stage_busy_s"],
                "spark.task_run_s": t["task_run_s"], "spark.task_cpu_s": t["task_cpu_s"],
                "spark.input_mb": t["input_mb"]}
    return {k: {"value": vals[k], "unit": UNITS[k]} for k in vals}


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM the gateway launched, and wait for it."""
    from pyspark import SparkContext
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — a JVM that will not exit is killed
            proc.kill()
            proc.wait()


def main(argv: list[str]) -> int:
    workloads = _workloads()
    ap = argparse.ArgumentParser(description="spark-graft benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(workloads))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    trace = bool(args.trace)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    sess = None
    try:
        configure_environment(ROOT, work)
        nproc = os.cpu_count() or 1
        sess = start_session(T_PROCESS, nproc)
        ctx = Context(ROOT, work, args.seed, args.seconds, trace, sess.spark)
        env = environment_record(sess.spark, sess.master, nproc, args.seed, trace,
                                 sess.floor_s)
        env["setups_s"] = sess.setups_s
        print(json.dumps({"env": env}), flush=True)

        result = workloads[args.workload](ctx)
        # two more set-up samples at the far end of the run, so that a slow
        # spell of the host at one end moves the median less
        sess.spark = ctx.spark
        for _ in range(2):
            sess.rebuild()
        ctx.spark = sess.spark
        metrics = metrics_of(result, sess, ctx)
        failed = result["failed"] + ctx.extra_failed
        detail = {"workload": args.workload, "measured_s": ctx.measured_s, "ops": result["n_ops"],
                  "latency_s": result["latency_s"], "latency_tail_s": result.get("tail_s"),
                  "host": {"probe_ref_s": PROBE_REF_S, "probe_median_s": median(ctx.probes),
                           "raw_throughput_per_s": result["rate_per_s"]},
                  "setups_s": sess.setups_s,
                  **result["detail"]}
        if trace:
            detail["spark_totals"] = ctx.totals
            detail["self_s"] = ctx.tracer.self_times()
            ctx.tracer.write(os.path.join(
                ROOT, ".perfbench_out", f"trace-{args.workload}-{args.seed}.json"))
        print(json.dumps({"detail": detail}, default=str), flush=True)
    except Exception:  # noqa: BLE001 — the process boundary: report and fail
        traceback.print_exc()
        return 2
    finally:
        if sess is not None:
            stop_jvm(ctx.spark if "ctx" in locals() else sess.spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work directory is still there
    print(json.dumps({"correct": failed == 0, "attempted": result["attempted"],
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
