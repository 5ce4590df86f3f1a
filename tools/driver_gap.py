"""Where a steady benchmark op spends its time outside Spark jobs.

Usage (from the root of a checkout):
    python3 tools/driver_gap.py --workload doc_dedup --seed 1 --ops 5

Generates the perfbench input of ``--workload`` for ``--seed`` in a
temporary directory, starts one session, runs ``WARMUP_OPS`` untimed
ops, then ``--ops`` steady ops. For each steady op it prints one line:

- ``wall_s``: the op's wall time;
- ``jobs`` and ``tasks``: jobs submitted during the op and the tasks
  they ran (status store);
- ``busy_s`` / ``idle_s``: wall time covered by at least one running
  job (union of the jobs' submission–completion intervals) and the
  rest, when no job runs and the driver plans, analyses or waits;
- ``py_cpu_s``: CPU time of this Python process (the PySpark client);
- ``py4j``: py4j commands the client sent (round trips to the JVM,
  including the garbage-collection thread's object releases);
- ``compiles``: whole-stage and expression codegen compilations
  (``CodegenMetrics``), i.e. codegen cache misses;
- ``jit_cpu_s``: CPU time of the JVM's C1/C2 JIT compiler threads,
  from ``/proc/<jvm pid>/task/*/stat`` (Linux only). A compiler
  thread the JVM retires during the op takes its CPU with it, so
  this can undercount.

A last line holds the median of each field. The workloads and the
input generator are imported from ``perfbench/`` unchanged, so an op
here is the op the benchmark times.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WARMUP_OPS = 2
FIELDS = ("wall_s", "jobs", "tasks", "busy_s", "idle_s", "py_cpu_s",
          "py4j", "compiles", "jit_cpu_s")
# Thread names as /proc truncates them (15 characters).
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")
CLK_TCK = os.sysconf("SC_CLK_TCK")


def _jobs_after(store, last_job: int) -> list:
    jobs = store.jobsList(None)
    return [jobs.apply(i) for i in range(jobs.size())
            if jobs.apply(i).jobId() > last_job]


def _busy_seconds(jobs, start_ms: float, end_ms: float) -> float:
    """Length of the union of the jobs' run intervals inside the op."""
    spans = []
    for job in jobs:
        sub, done = job.submissionTime(), job.completionTime()
        lo = sub.get().getTime() if sub.isDefined() else start_ms
        hi = done.get().getTime() if done.isDefined() else end_ms
        spans.append((max(lo, start_ms), min(hi, end_ms)))
    busy, reach = 0.0, start_ms
    for lo, hi in sorted(spans):
        lo = max(lo, reach)
        if hi > lo:
            busy += hi - lo
            reach = hi
    return busy / 1000.0


def _jit_cpu(pid: int) -> dict[int, float]:
    """CPU seconds so far of each live JIT compiler thread, by tid."""
    cpu = {}
    for task in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{task}/stat") as f:
                stat = f.read()
        except FileNotFoundError:  # the thread ended
            continue
        name = stat[stat.index("(") + 1:stat.rindex(")")]
        if name.startswith(JIT_THREADS):
            utime, stime = stat[stat.rindex(")") + 2:].split()[11:13]
            cpu[int(task)] = (int(utime) + int(stime)) / CLK_TCK
    return cpu


class Probe:
    """Counters read around one op: status-store jobs, py4j commands,
    codegen compilations, the client's CPU time and the JVM's JIT
    compiler CPU time."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._codegen = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._client = sc._gateway._gateway_client
        self._jvm_pid = sc._jvm.java.lang.ProcessHandle.current().pid()
        self.sent = 0

    def _last_job(self) -> int:
        self._jsc.listenerBus().waitUntilEmpty()
        jobs = self._store.jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())),
                   default=-1)

    def _compiles(self) -> int:
        return self._codegen.METRIC_COMPILATION_TIME().getCount()

    def measure(self, fn) -> dict:
        last_job, compiles = self._last_job(), self._compiles()
        jit0 = _jit_cpu(self._jvm_pid)
        original = self._client.send_command
        self.sent = 0

        def counted(*args, **kwargs):
            self.sent += 1
            return original(*args, **kwargs)

        cpu0 = os.times()
        start = time.time()
        self._client.send_command = counted
        try:
            fn()
        finally:
            self._client.send_command = original
            end = time.time()
            cpu1 = os.times()
            jit1 = _jit_cpu(self._jvm_pid)
        sent = self.sent
        self._last_job()  # drain the listener bus before reading jobs
        jobs = _jobs_after(self._store, last_job)
        busy = _busy_seconds(jobs, start * 1000, end * 1000)
        return {
            "wall_s": end - start,
            "jobs": len(jobs),
            "tasks": sum(j.numCompletedTasks() + j.numFailedTasks()
                         for j in jobs),
            "busy_s": busy,
            "idle_s": end - start - busy,
            "py_cpu_s": (cpu1.user + cpu1.system) - (cpu0.user + cpu0.system),
            "py4j": sent,
            "compiles": self._compiles() - compiles,
            "jit_cpu_s": sum(c - jit0.get(t, 0.0) for t, c in jit1.items()),
        }


def _line(label: str, row: dict) -> str:
    return label + "  " + "  ".join(
        f"{k}={row[k]:.3f}" if isinstance(row[k], float) else f"{k}={row[k]}"
        for k in FIELDS
    )


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--ops", type=int, default=5)
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
    from workloads import WORKLOADS

    from big_data_processing_spark.session import get_spark

    work = tempfile.mkdtemp(prefix="driver_gap-")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ.setdefault("SPARK_LOCAL_DIRS", os.path.join(work, "spark-local"))
    spark = None
    try:
        wl = WORKLOADS[args.workload](os.path.join(work, "data"), work, args.seed)
        wl.generate()
        wl.prepare()
        spark = get_spark(app_name="driver_gap", extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        })
        for i in range(WARMUP_OPS):
            wl.op(spark, -1 - i)
        probe = Probe(spark)
        rows = []
        for i in range(args.ops):
            rows.append(probe.measure(lambda: wl.op(spark, i)))
            print(_line(f"op {i}", rows[-1]), flush=True)
        print(_line("median", {
            k: statistics.median(r[k] for r in rows) for k in FIELDS
        }))
    finally:
        if spark is not None:
            spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
