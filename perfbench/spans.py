"""Spans and Spark status-store counters for the traced run.

A span records one call into an engine layer: its name
(``<layer>.<call>``), start and end, its parent span and the op it
belongs to. At both boundaries the tracer reads Spark's status store
(jobs and stages, diffed by id) and the block manager's storage
totals, so every span carries the jobs, tasks, GC time, spilled,
shuffled, read and cached bytes that ran inside it. Spans stay in
memory and are written out once, when the run ends.

The layer wrappers below are installed by replacing module-level
names the engine's job functions call (``patch``); every
DataFrame-returning layer call is forced right after it returns, so
the execution it triggers is charged to that layer and not to
whichever later action would have run it.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame

COUNTERS = (
    "jobs",
    "tasks",
    "gc_s",
    "spill_bytes",
    "shuffle_write_bytes",
    "input_bytes",
    "run_s",
)

@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    id: int = 0
    counters: dict = field(default_factory=dict)
    attrs: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.rsplit(".", 1)[0]

    @property
    def duration(self) -> float:
        return self.end - self.start


class StatusStore:
    """Stage and job counters read from Spark's status store.

    Stage and job lists come back newest first, so a boundary reads
    only the entries created since the previous one; finished stages
    are cached by id and never read twice."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self._stages: dict[int, dict] = {}

    def _stage_list(self):
        empty = self._jvm.java.util.ArrayList
        return self._store.stageList(empty(), False, False, self._no_quantiles, empty())

    def last_ids(self) -> tuple[int, int]:
        stages = self._stage_list()
        jobs = self._store.jobsList(None)
        last_stage = stages.apply(0).stageId() if stages.size() else -1
        last_job = jobs.apply(0).jobId() if jobs.size() else -1
        return last_stage, last_job

    def counters_since(self, last_stage: int, last_job: int) -> dict:
        out = dict.fromkeys(COUNTERS, 0)
        jobs = self._store.jobsList(None)
        i = 0
        while i < jobs.size() and jobs.apply(i).jobId() > last_job:
            out["jobs"] += 1
            i += 1
        stages = self._stage_list()
        i = 0
        while i < stages.size():
            s = stages.apply(i)
            sid = s.stageId()
            if sid <= last_stage:
                break
            i += 1
            key = sid * 1000 + s.attemptId()
            data = self._stages.get(key)
            if data is None:
                data = {
                    "tasks": s.numCompleteTasks() + s.numFailedTasks(),
                    "gc_s": s.jvmGcTime() / 1000.0,
                    "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                    "shuffle_write_bytes": s.shuffleWriteBytes(),
                    "input_bytes": s.inputBytes(),
                    "run_s": s.executorRunTime() / 1000.0,
                }
                if str(s.status()) in ("COMPLETE", "SKIPPED", "FAILED"):
                    self._stages[key] = data
            for k, v in data.items():
                out[k] += v
        return out

    def stored_bytes(self) -> int:
        """Bytes the block manager holds for cached/checkpointed RDDs."""
        return sum(r.memSize() + r.diskSize() for r in self._sc.getRDDStorageInfo())


class Tracer:
    def __init__(self, spark) -> None:
        self.store = StatusStore(spark)
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.op: int | None = None
        self.forced: list[DataFrame] = []

    @contextmanager
    def span(self, name: str, **attrs):
        ids = self.store.last_ids()
        parent = self._stack[-1].id if self._stack else None
        sp = Span(name, time.perf_counter(), parent=parent, op=self.op,
                  id=len(self.spans), attrs=dict(attrs))
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            sp.counters = self.store.counters_since(*ids)

    def force(self, df: DataFrame) -> tuple[DataFrame, int]:
        """Materialize ``df`` once (cache + count) so downstream layers
        read its result instead of re-running it; returns its rows."""
        df = df.cache()
        self.forced.append(df)
        return df, df.count()

    def release(self) -> None:
        for df in self.forced:
            df.unpersist()
        self.forced.clear()

    # -- wrappers -------------------------------------------------------

    def frame_call(self, name: str, fn):
        """Wrap a layer call returning a DataFrame: span = call + force."""

        def wrapped(*args, **kwargs):
            with self.span(name) as sp:
                out, sp.attrs["rows_out"] = self.force(fn(*args, **kwargs))
            return out

        return wrapped

    def plan_call(self, fn):
        """Wrap a query builder: build, physical planning and execution
        (``noop`` sink, nothing kept) as three spans of the plans layer."""

        def wrapped(*args, **kwargs):
            with self.span("plans.build"):
                out = fn(*args, **kwargs)
            with self.span("plans.plan"):
                out._jdf.queryExecution().executedPlan()
            with self.span("plans.exec"):
                out.write.format("noop").mode("overwrite").save()
            return out

        return wrapped

    def plain_call(self, name: str, fn):
        def wrapped(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapped

    def pin_call(self, name: str, fn):
        """Wrap a call that pins blocks: records the bytes it added."""

        def wrapped(*args, **kwargs):
            before = self.store.stored_bytes()
            with self.span(name) as sp:
                out = fn(*args, **kwargs)
                sp.attrs["pinned_bytes"] = self.store.stored_bytes() - before
            return out

        return wrapped

    def sink_call(self, caller: str, fn):
        """Wrap a sink: first force its input (charged to the calling
        layer, e.g. the aggregate fan-out, with the bytes that filled
        the caller's cache), then time the write."""

        def wrapped(df, path, *args, **kwargs):
            before = self.store.stored_bytes()
            with self.span(caller) as sp:
                df.write.format("noop").mode("overwrite").save()
                sp.attrs["cached_bytes"] = self.store.stored_bytes() - before
            with self.span("sources.write") as sp:
                fn(df, path, *args, **kwargs)
                sp.attrs["bytes_written"] = dir_bytes(path)
            return None

        return wrapped

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


@contextmanager
def patch(module, name: str, wrapper):
    """Temporarily replace ``module.name`` (skipped if absent)."""
    original = getattr(module, name, None)
    if original is None:
        yield
        return
    setattr(module, name, wrapper(original))
    try:
        yield
    finally:
        setattr(module, name, original)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def self_values(spans: list[Span]) -> list[dict]:
    """Per span: duration and counters minus those of its children."""
    out = [dict(s.counters, self_s=s.duration) for s in spans]
    by_id = {s.id: i for i, s in enumerate(spans)}
    for s in spans:
        if s.parent is None or s.parent not in by_id:
            continue
        parent = out[by_id[s.parent]]
        parent["self_s"] -= s.duration
        for k in COUNTERS:
            parent[k] -= s.counters.get(k, 0)
    return out


def op_summary(spans: list[Span]) -> dict[str, float]:
    """One traced op's per-layer numbers: inclusive time per span name
    (``<name>_s``), and per layer its self time and self counters."""
    out: dict[str, float] = {}
    for s, own in zip(spans, self_values(spans)):
        out[f"{s.name}_s"] = out.get(f"{s.name}_s", 0.0) + s.duration
        for k in ("self_s",) + COUNTERS:
            key = f"{s.layer}.{k}"
            out[key] = out.get(key, 0) + own[k]
    return out


def median_summary(per_op: list[dict[str, float]]) -> dict[str, float]:
    keys = {k for d in per_op for k in d}
    return {k: statistics.median(d.get(k, 0.0) for d in per_op) for k in keys}
