"""Engine benchmark: one workload, one seed, one closed-loop client.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 10 --trace 0

The run generates its inputs from ``--seed`` under
``.perfbench_work/`` in the checkout and sets the session up
``SETUP_REPS`` times: start the session, run a first trivial job, run
one untimed warm-up op. ``setup_s`` is the median of those set-ups; the
first includes the JVM launch. The last warm-up op's output is checked
in depth, then ops run back to back for ``--seconds``. The last line
printed is one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics``; the line before it holds the inputs' properties, the
environment and every sample.

``--trace 0`` reports the end-to-end metrics named in BENCHMARK.json.
``--trace 1`` alternates untraced and traced ops on the same input and
reports the per-layer metrics (spans around calls into each engine
layer, Spark status-store counters at the same boundaries) and the
tracing overhead; the spans are written to ``.perfbench_work/runs``.

A failed op (exception, per-op timeout, failed output check) is
counted, never dropped: it counts as taking the whole per-op limit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
SETUP_REPS = 3
OP_TIMEOUT_S = 45.0
LOOP_DEADLINE_S = 120.0  # no op starts later than this after launch
DRIVER_HEAP = "2g"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="tiny inputs and one set-up: a quick functional check")
    return p.parse_args(argv)


def benchmark_spec() -> dict:
    with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as fh:
        return json.load(fh)


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def cpu_seconds(pid: int) -> float:
    """CPU time used so far by the JVM ``pid`` and by this process.
    Time the host steals from the VM is not in it, so it stays steady
    where wall time does not."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    own = os.times()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK") + own.user + own.system


def jvm_peak_rss_mb(spark) -> float:
    pid = jvm_pid(spark)
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for JVM pid {pid}")


def stop_jvm() -> None:
    """Stop the session and the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


@contextmanager
def cancel_after(spark, seconds: float):
    """Cancel every running Spark job if the block outlives ``seconds``."""
    timer = threading.Timer(seconds, spark.sparkContext.cancelAllJobs)
    timer.start()
    try:
        yield
    finally:
        timer.cancel()


def describe(e: Exception) -> str:
    return f"{type(e).__name__}: {str(e)[:300]}"


class Loop:
    """Closed loop, one client: the next op starts when the last ends."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.times: list[float] = []
        self.cpu: list[float] = []
        self.rows = 0
        self.ok = 0
        self.failed = 0
        self.errors: list[str] = []

    def run(self, fn, *args) -> None:
        pid = jvm_pid(self.spark)
        c0 = cpu_seconds(pid)
        t0 = time.perf_counter()
        try:
            with cancel_after(self.spark, OP_TIMEOUT_S):
                rows = fn(*args)
            dt = time.perf_counter() - t0
            if dt > OP_TIMEOUT_S:
                raise TimeoutError(f"op took {dt:.1f}s")
            self.rows += rows
            self.ok += 1
            self.cpu.append(cpu_seconds(pid) - c0)
        except Exception as e:  # noqa: BLE001 - every failure is counted
            dt = OP_TIMEOUT_S  # a failure misses any latency limit
            self.failed += 1
            self.errors.append(describe(e))
        self.times.append(dt)

    @property
    def attempted(self) -> int:
        return self.ok + self.failed


def set_up(wl, extra_conf: dict, reps: int, errors: list[str]):
    """Start the session ``reps`` times, each with a first trivial job
    and one untimed warm-up op. Returns the live session, the set-up
    times and the session start times."""
    from big_data_processing_spark.session import get_spark

    spark = None
    setup_s: list[float] = []
    session_s: list[float] = []
    for rep in range(reps):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench", extra_conf=extra_conf)
        spark.range(1).count()
        t1 = time.perf_counter()
        try:
            with cancel_after(spark, OP_TIMEOUT_S):
                wl.op(spark, -1 - rep)
        except Exception as e:  # noqa: BLE001 - reported as incorrect
            errors.append(f"warm-up: {describe(e)}")
        setup_s.append(time.perf_counter() - t0)
        session_s.append(t1 - t0)
    return spark, setup_s, session_s


def layer_values(wl, tracer, spans_by_op, session_s, plain, traced) -> dict:
    from spans import median_summary, op_summary

    def per_op(fn):
        return statistics.median(fn(op) for op in spans_by_op)

    return {
        **median_summary([op_summary(op) for op in spans_by_op]),
        **wl.layer_metrics(spans_by_op),
        "session.start_s": statistics.median(session_s),
        "partitioning.pinned_bytes": per_op(
            lambda op: sum(s.attrs.get("pinned_bytes", 0) for s in op)),
        "sources.input_bytes": per_op(
            lambda op: sum(s.counters.get("input_bytes", 0) for s in op if s.parent is None)),
        "sources.bytes_written": per_op(
            lambda op: sum(s.attrs.get("bytes_written", 0) for s in op)),
        "trace.overhead_s": statistics.median(traced.times) - statistics.median(plain.times),
        "trace.spans_per_op": len(tracer.spans) / len(spans_by_op),
    }


def main(argv=None) -> int:
    launched = time.perf_counter()
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "big_data_processing_spark")):
        print("run from the root of a checkout holding big_data_processing_spark/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_HEAP)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    extra_conf = {
        # the heap is committed up front, so peak RSS does not follow
        # the collector's run-to-run resizing decisions
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{heap}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    wl = WORKLOADS[args.workload](os.path.join(work, "data"), work, args.seed)
    try:
        return run(args, wl, root, extra_conf, launched)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


def run(args, wl, root: str, extra_conf: dict, launched: float) -> int:
    import pyspark

    from spans import Tracer

    props = wl.generate(wl.scale / 10 if args.smoke else None)
    wl.prepare()
    errors: list[str] = []
    spark, setup_s, session_s = set_up(wl, extra_conf, 1 if args.smoke else SETUP_REPS, errors)
    try:
        wl.check(spark)
    except Exception as e:  # noqa: BLE001 - reported as incorrect
        errors.append(f"check: {describe(e)}")
    correct = not errors

    plain, traced = Loop(spark), Loop(spark)
    tracer = Tracer(spark) if args.trace else None
    spans_by_op: list = []
    start = time.perf_counter()
    k = 0
    while (time.perf_counter() - start < args.seconds or not plain.times
           or (args.trace and not traced.times)):
        if plain.times and time.perf_counter() - launched > LOOP_DEADLINE_S:
            break
        plain.run(wl.op, spark, k)
        if args.trace:
            first = len(tracer.spans)
            tracer.op = k
            traced.run(wl.traced_op, spark, tracer, k)
            tracer.release()
            spans_by_op.append(tracer.spans[first:])
        k += 1
    loop_s = time.perf_counter() - start

    if args.trace:
        values = layer_values(wl, tracer, spans_by_op, session_s, plain, traced)
        runs = os.path.join(root, ".perfbench_work", "runs")
        tracer.dump(os.path.join(runs, f"spans-{args.workload}-{args.seed}.json"))
        wanted = benchmark_spec()["per_layer"]
        loops = (plain, traced)
    else:
        op_time = sum(plain.times)
        values = {
            "setup_s": statistics.median(setup_s),
            "op_p50_s": statistics.median(plain.times),
            "op_cpu_s": statistics.median(plain.cpu) if plain.cpu else OP_TIMEOUT_S,
            "rows_per_s": plain.rows / op_time,
            "jvm_peak_rss_mb": jvm_peak_rss_mb(spark),
        }
        wanted = benchmark_spec()["end_to_end"]
        loops = (plain,)

    failed = sum(lp.failed for lp in loops)
    print(json.dumps({
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "inputs": props,
        "nproc": len(os.sched_getaffinity(0)),
        "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
        "driver_heap": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "spark_version": pyspark.__version__,
        "setup_samples_s": setup_s,
        "op_samples_s": plain.times,
        "op_cpu_samples_s": plain.cpu,
        "traced_op_samples_s": traced.times,
        "loop_s": loop_s,
        "errors": (errors + [e for lp in loops for e in lp.errors])[:10],
    }))
    # a layer the workload never calls reads 0 in the traced run
    metrics = {m["name"]: {"value": values[m["name"]] if not args.trace
                           else values.get(m["name"], 0.0), "unit": m["unit"]}
               for m in wanted}
    print(json.dumps({
        "correct": correct and failed == 0,
        "attempted": sum(lp.attempted for lp in loops),
        "failed": failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
