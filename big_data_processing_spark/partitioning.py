"""Partitioning utilities: align partition count with COMPUTE, not
bytes, for CPU-dense operators, and the one pin lifecycle of the
package.

Spark sizes scan partitions by input bytes
(``spark.sql.files.maxPartitionBytes``) and AQE coalesces shuffle
partitions by output bytes — both correct for IO-bound relational
work, both wrong for operators that do orders of magnitude more CPU
per byte (shingling, pairwise set similarity, vector math). A small
input arrives as ONE partition and the whole operator runs on one
core of a 1000-core cluster.

Pins
----
A pin is a local checkpoint: its blocks live in executor storage
and its lineage is cut, so neither ``spark.catalog.clearCache()``
nor JVM GC frees it while the frame is reachable. Every pin in the
package is made here (:func:`pin`, :func:`pin_now`), and one rule
frees them: a pin lives until the :func:`pin_scope` that made it
closes. An op opens one scope around its whole body; a pin that must
outlive the op (a session-level memo) leaves the scope with
:func:`keep`, and an iterative loop frees a superseded round at once
with :func:`unpin`. Pins made outside any scope are not tracked, so
a caller holding a returned frame (the query registry's external
driver) never sees its blocks freed under it.
"""

from __future__ import annotations

from contextlib import contextmanager
from contextvars import ContextVar
from typing import Iterator

from pyspark import SparkContext
from pyspark.sql import DataFrame

# RDD ids pinned in each open scope of this thread, innermost last.
_scopes: ContextVar[tuple[set[int], ...]] = ContextVar("pins", default=())


def _rdd_id(pinned: DataFrame) -> int:
    """Id of the checkpointed RDD a pinned frame scans."""
    return pinned._jdf.queryExecution().analyzed().rdd().id()


def pin(df: DataFrame) -> DataFrame:
    """Lazy local checkpoint of ``df``: its blocks are written by the
    first action that runs the pinned frame, and later actions scan
    them instead of re-running ``df``'s plan. Chains spell it
    ``df.transform(partitioning.pin)``. Recorded in the innermost
    open :func:`pin_scope`, which frees it on exit."""
    out = df.localCheckpoint(eager=False)
    scopes = _scopes.get()
    if scopes:
        scopes[-1].add(_rdd_id(out))
    return out


def pin_now(df: DataFrame) -> DataFrame:
    """Materialize ``df`` NOW as a local checkpoint and return the
    pinned frame — the safe spelling of ``localCheckpoint(eager=True)``.
    Same lifecycle as :func:`pin`.

    Measured at sf0.1/local[32] on a pinned per-document aggregate:
    ``eager=True`` materializes through ``Dataset.checkpoint``'s
    internal ``rdd.count()`` and cost 8.0 s executor CPU, against
    1.3 s for executing the identical plan as a normal query. A lazy
    checkpoint followed by one ``count()`` action materializes the
    same blocks exactly once — same lineage truncation, same
    pinned-block semantics (the count scans the blocks it just wrote)
    — while the materializing execution keeps whole-stage codegen +
    AQE. Use this anywhere a frame is referenced by
    concurrently-launched consumer jobs (broadcast sides race a purely
    lazy pin and rebuild the frame per side)."""
    out = pin(df)
    out.count()
    return out


def keep(pinned: DataFrame) -> DataFrame:
    """Take a pinned frame out of every open scope, so it outlives
    them: a session-level materialized view such as the memoized
    cluster frames. Returns ``pinned``."""
    rid = _rdd_id(pinned)
    for pins in _scopes.get():
        pins.discard(rid)
    return pinned


def unpin(pinned: DataFrame) -> None:
    """Free the blocks of a pinned frame now. The frame is UNUSABLE
    afterwards — only call on frames nothing references anymore (a
    superseded loop round). ``SparkContext.unpersistRDD`` frees the
    blocks as ``RDD.unpersist`` does, without its per-call warning
    that a locally checkpointed RDD cannot be recomputed."""
    rid = _rdd_id(keep(pinned))
    pinned.sparkSession.sparkContext._jsc.sc().unpersistRDD(rid, False)


@contextmanager
def pin_scope() -> Iterator[None]:
    """Free every pin made inside the block (and not :func:`keep`-ed)
    when it exits, whether it returns, raises or is cancelled. The
    record is per thread and per context, so concurrent callers each
    free only their own pins."""
    pins: set[int] = set()
    token = _scopes.set((*_scopes.get(), pins))
    try:
        yield
    finally:
        _scopes.reset(token)
        sc = SparkContext._active_spark_context
        if pins and sc is not None:
            jsc = sc._jsc.sc()
            for rid in pins:
                jsc.unpersistRDD(rid, False)


def spread(df: DataFrame, *cols: str) -> DataFrame:
    """Repartition to the session's default parallelism, hashed on
    ``cols``, or round-robin with no ``cols``.

    Use immediately before CPU-dense per-row work. The exchange
    itself is tiny for the narrow projections these operators feed
    (ids + short text / id pairs); on inputs that are already wide
    (100 TB corpora, thousands of scan partitions) it rebalances the
    same row count and costs one narrow shuffle — measure before
    removing it, skew in upstream partitioning usually makes it a
    win there too.

    Frames whose BYTES are small but whose per-row work is not
    (candidate pairs entering exact set-similarity verification:
    ~20 bytes/row shuffled, an ``array_intersect`` per row computed)
    are spread with no ``cols``. A keyed exchange whose child is
    already hash-partitioned on the same columns is ELIMINATED as
    redundant at planning time, and the surviving upstream exchange
    is then AQE-coalesced by BYTES — measured at sf0.1: a 582k-row
    candidate set (~5 MB) coalesced to 4 post-shuffle partitions,
    putting 2/3 of the query's CPU on 4 of 32 cores (verify stage
    17 s wall instead of ~1 s). A keyless round-robin exchange has a
    different output partitioning, so it can never be eliminated,
    and its explicit numPartitions is exempt from AQE coalescing. It
    also pre-sorts its rows (``spark.sql.execution.sortBeforeRepartition``)
    so task retries reproduce the same assignment."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *cols)


def spread_arrow(df: DataFrame, *cols: str, target_bytes: int = 8 << 20
                 ) -> DataFrame:
    """Partition count for Arrow/Python kernel inputs sized by input
    BYTES, not core count (r12, guide §2/§4): every ``mapInPandas``
    task pays a fixed Python-worker/Arrow round-trip (measured at
    sf0.1: ~10 ms warm, ~280 ms after worker churn — 32 tasks of a
    2000-row GEMM spent 8.9 s cumulative runtime on 0.8 s CPU), and
    AQE cannot size an opaque kernel stage. ``ceil(plan-estimated
    bytes / target_bytes)`` clamped to [1, 10 × defaultParallelism]
    keeps byte-small frames in a handful of tasks while a 100 TB
    input still fans out to thousands; when Catalyst has no estimate
    the default parallelism is kept. Kernel outputs here are
    per-row/batch-local (each function rounds before any cut), so
    partition count never changes results — the same invariance the
    8-core driver bench already exercises."""
    import math

    n_default = df.sparkSession.sparkContext.defaultParallelism
    try:
        size = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:  # noqa: BLE001 — stats unavailable for some plans
        size = None
    if size is None or size >= 1 << 62:  # unknown ≠ huge (see below)
        n = n_default
    else:
        n = max(1, min(10 * n_default, math.ceil(size / target_bytes)))
    return df.repartition(n, *cols) if cols else df.repartition(n)


def warn_if_quadratic(
    df: DataFrame,
    what: str,
    ceiling_bytes: int = 2 << 30,
    allow_quadratic: bool = False,
) -> None:
    """Soft scale guard for the EXACT quadratic baselines (r7
    verdict #4): the uncapped/unblocked exact paths
    (``ngram_jaccard_pairs`` with ``max_df=None``,
    ``cosine_near_dup_pairs``, flat ``kmeans_assign``) are kept as
    value-checked ground truth beside their scale valves
    (df-capped / IVF-celled / two-level), but nothing stopped a
    caller from pointing the quadratic baseline at a 100 TB corpus.
    This mirrors ``dsum``'s overflow-note pattern — document the
    ceiling where the caller meets it, and make it impossible to
    cross silently.

    Emits one ``RuntimeWarning`` when the input's Catalyst size
    estimate exceeds ``ceiling_bytes`` (default 2 GiB ≈ sf2 of this
    corpus family — past measured slopes of 40-130x per 10x data,
    the exact baselines stop finishing in bench-scale time well
    before that). ``allow_quadratic=True`` acknowledges the cost and
    silences the warning. The estimate is driver-side plan metadata
    (file sizes for scans) — no job is launched, so the guard is
    free at any scale and never fails the caller (stats may be
    unavailable for some plans)."""
    if allow_quadratic:
        return
    try:
        size = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return
    # Catalyst reports spark.sql.defaultSizeInBytes (Long.MaxValue
    # by default) when it has NO estimate for a plan — that's
    # "unknown", not "huge"; warning on it would fire for every
    # in-memory test relation
    if size >= 1 << 62:
        return
    if size > ceiling_bytes:
        import warnings

        warnings.warn(
            f"{what}: input size estimate {size >> 20} MiB exceeds the "
            f"{ceiling_bytes >> 20} MiB ceiling documented for this "
            "EXACT quadratic baseline — candidate work grows with the "
            "square of block size (measured 40-130x per 10x data; "
            "SCALE.md 'Measured scaling slopes'). Use the scale path "
            "(max_df cap / IVF cells / two-level k-means), or pass "
            "allow_quadratic=True to acknowledge the cost.",
            RuntimeWarning,
            stacklevel=3,
        )
