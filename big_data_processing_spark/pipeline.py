"""End-to-end batch ETL pipeline: the engine's equivalent of the
reference's orchestrator (`/root/reference/src/main.py:88-309`).

Stages (same DAG, Spark-first execution):
  scan → schema gate → {single-pass quality metrics ‖ F1 range clean
  → F2 IQR fences → P1-P3 enrichment → {processed sink ‖ ONE
  grouping-sets aggregate (A1 vendor / A2 category / A3 payment) →
  {vendor ‖ category ‖ payment ‖ A10 summary} sinks}}, parquet + CSV.

Differences from the reference, by design:
- Validation is one aggregation pass, not ~2+2·ncols jobs
  (`data_validator.py:102-155`).
- Sinks are path-scheme-agnostic ``DataFrameWriter`` calls — a
  ``file://`` / ``hdfs://`` / ``s3a://`` prefix picks the filesystem
  (collapses LocalFileManager / the dead ``write_to_hdfs``,
  `local_file_manager.py:37-54`, `main.py:140-145`).
- No ``toPandas`` round-trips: aggregates are written distributed;
  only the metric row and the few grouped-stats rows are collected.

Scale notes
-----------
- The cleaned+enriched table is NOT cached. Its two consumers, the
  ``processed`` sink and the stats aggregate, each re-run the pruned
  scan → clean → enrich, which is cheaper than building a cache the
  size of the table (a one-task job here, and at 100 TB a cache
  that would not fit).
- The three group-bys are one ``groupingSets`` aggregate told apart
  by ``grouping_id()``: one scan and one partial-agg shuffle instead
  of three, and no range-sampling job per ordered sink. Its result
  holds one row per key value, so it is cached and collected once;
  each stats sink is a filter over it, sorted in one partition, and
  ``clean_rows`` is the sum of the vendor rows' counts.

Scheduling
----------
Each action is submitted to one thread pool as soon as its inputs
exist, so Spark runs the tasks of independent jobs side by side
instead of leaving cores idle behind one-task stages::

    quality pass ─────────────────────────────────────────┐
    IQR fences ─┬─ processed sink ────────────────────────┤
                └─ stats collect ─┬─ vendor / category /  ├─ result
                                  └─ payment / summary ───┘

The fences are the only gate: nothing waits for the quality pass,
whose result is read only to build ``PipelineResult``. The stats
sinks wait for the collect because they read its cache; started
earlier, each would re-run the cache's shared stage. Every pool
thread inherits the caller's local properties, so every job stays
in the caller's job group (and is cancelled with it), and every
action ends before the first failure is re-raised and the cache is
released.
"""

from __future__ import annotations

from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass, field
from functools import partial
from typing import Any, Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from big_data_processing_spark.monitoring import PipelineMonitor
from big_data_processing_spark.operators.cleaning import (
    CLEAN_RULES,
    clean,
    iqr_filter,
)
from big_data_processing_spark.operators.enrichment import enrich
from big_data_processing_spark.sources.catalog import load_table
from big_data_processing_spark.sources.files import write_csv, write_parquet
from big_data_processing_spark.validation import (
    quality_metrics,
    validate_schema,
)

EXPECTED_COLUMNS = {c for c, *_ in CLEAN_RULES} | {"l_returnflag", "l_linestatus"}
CRITICAL_COLUMNS = {"l_extendedprice", "l_quantity"}


@dataclass
class PipelineResult:
    """Stage-by-stage outcome of one pipeline run."""

    schema_valid: bool
    quality: dict[str, Any]
    raw_rows: int
    clean_rows: int
    outputs: dict[str, str] = field(default_factory=dict)


# Output names, one sink each.
SINKS = ("processed", "vendor_stats", "category_stats", "payment_stats", "summary")
# Keys of the grouped-stats sinks, in ``groupingSets`` column order.
STATS_KEYS = ("l_returnflag", "qty_category", "l_linestatus")


def _grouping_id(key: str) -> int:
    """``grouping_id()`` of the grouping set ``[key]``: one bit per
    ``STATS_KEYS`` column, first column highest, set where that
    column is aggregated away."""
    n = len(STATS_KEYS)
    return sum(1 << (n - 1 - j) for j, k in enumerate(STATS_KEYS) if k != key)


def _grouped_stats(enhanced: DataFrame) -> DataFrame:
    """A1-A3 as one aggregate: a row per value of each key, tagged
    with its grouping set's ``__gid``."""
    price = F.col("l_extendedprice")
    return enhanced.groupingSets([[k] for k in STATS_KEYS], *STATS_KEYS).agg(
        F.grouping_id().alias("__gid"),
        F.count(F.lit(1)).alias("total_trips"),
        F.sum(price).alias("total_revenue"),
        F.avg("l_quantity").alias("avg_quantity"),
        F.avg(price).alias("avg_price"),
        F.avg("price_per_unit").alias("avg_price_per_unit"),
        F.avg("l_discount").alias("__avg_discount"),
    )


def _stats_for(stats: DataFrame, key: str, *cols: str | Column) -> DataFrame:
    """One grouping set's rows, ordered by ``key`` in one partition."""
    return (
        stats.filter(F.col("__gid") == _grouping_id(key))
        .select(key, *cols)
        .coalesce(1)
        .sortWithinPartitions(key)
    )


def _stats_sinks(stats: DataFrame) -> list[tuple[str, DataFrame, Callable]]:
    """(name, frame, writer) of the four sinks read from ``stats``."""
    vendor = _stats_for(
        stats, "l_returnflag",
        "total_trips", "total_revenue", "avg_quantity", "avg_price",
    )
    category = _stats_for(
        stats, "qty_category", "total_trips", "avg_price", "avg_price_per_unit"
    )
    payment = _stats_for(
        stats, "l_linestatus", "total_trips", "avg_price",
        F.round(F.col("__avg_discount") / F.col("avg_price") * 100.0, 6)
        .alias("discount_price_ratio_pct"),
    )
    summary = vendor.agg(
        F.sum("total_trips").alias("total_total_trips"),
        F.round(F.sum("total_revenue"), 2).alias("total_total_revenue"),
        F.round(F.avg("avg_quantity"), 6).alias("mean_avg_quantity"),
        F.round(F.avg("avg_price"), 6).alias("mean_avg_price"),
    )
    return [
        ("vendor_stats", vendor, write_parquet),
        ("category_stats", category, write_parquet),
        ("payment_stats", payment, write_parquet),
        ("summary", summary, write_csv),
    ]


def _submit(pool: ThreadPoolExecutor, spark: SparkSession, action: Callable) -> Future:
    """Run ``action`` on ``pool`` with its own copy of the caller's
    local properties (job group, scheduler pool), so its jobs are the
    caller's. Each action needs its own copy: Spark sets the SQL
    execution id in a thread's local properties."""
    return pool.submit(inheritable_thread_target(spark)(action))


def _label_jobs(spark: SparkSession, label: str) -> None:
    """Name this thread's next jobs ``label``: their description and
    call site. PySpark sets a job's call site only while no other
    thread is inside an action (one process-wide depth counter), so an
    action would otherwise carry the call site of the action another
    thread started first."""
    spark.sparkContext.setJobDescription(label)
    spark.sparkContext._jsc.setCallSite(label)


# The local properties ``_label_jobs`` sets on the caller's thread.
_LABEL_PROPERTIES = ("spark.job.description", "callSite.short")


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    table: str = "lineitem",
    monitor: "PipelineMonitor | None" = None,
) -> PipelineResult:
    """Run the full ETL DAG over ``{sf_dir}/{table}.parquet`` and
    write aggregate outputs under ``out_dir`` (any Hadoop-supported
    scheme). Returns per-stage metrics.

    Pass a ``monitoring.PipelineMonitor`` to record per-stage
    wall/cpu/rss/task metrics (reference `pipeline_monitor.py:1-18`
    role); omit for zero overhead.

    Every job is named after its stage (``_label_jobs``); the
    caller's job description and call site are restored on return
    and on raise."""
    if monitor is None:
        monitor = PipelineMonitor()  # record locally, discard
    sc = spark.sparkContext
    caller_labels = {k: sc.getLocalProperty(k) for k in _LABEL_PROPERTIES}
    try:
        return _run_pipeline(spark, sf_dir, out_dir, table, monitor)
    finally:
        for key, value in caller_labels.items():
            sc.setLocalProperty(key, value)


def _run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    table: str,
    monitor: PipelineMonitor,
) -> PipelineResult:
    _label_jobs(spark, "scan")
    raw = load_table(spark, sf_dir, table)

    with monitor.stage("schema_gate"):
        gate = validate_schema(raw, EXPECTED_COLUMNS, CRITICAL_COLUMNS)
        if not gate.valid:
            raise ValueError(
                f"schema gate failed: missing critical {gate.missing_critical}"
            )

    rules = [
        ("invalid_price", F.col("l_extendedprice") > 100000),
        ("invalid_qty", F.col("l_quantity") >= 50),
        ("invalid_discount", F.col("l_discount") > 0.08),
    ]

    def measure_quality() -> dict[str, Any]:
        _label_jobs(spark, "quality_metrics")
        with monitor.stage("quality_metrics") as mrec:
            quality = quality_metrics(raw, rules).first().asDict()
            mrec.rows = int(quality["total_rows"])
        return quality

    outputs = {name: f"{out_dir}/{name}" for name in SINKS}

    def sink(name: str, df: DataFrame, write: Callable) -> None:
        _label_jobs(spark, f"sink:{name}")
        with monitor.stage(f"sink:{name}"):
            write(df, outputs[name])

    stats = None
    try:
        with ThreadPoolExecutor(max_workers=1 + len(SINKS)) as pool:
            quality_done = _submit(pool, spark, measure_quality)
            _label_jobs(spark, "iqr_fences")
            enhanced = enrich(
                iqr_filter(clean(raw), "l_extendedprice", exact=False)
            )
            processed = partial(sink, "processed", enhanced, write_parquet)
            sinks_done = [_submit(pool, spark, processed)]

            stats = _grouped_stats(enhanced).cache()
            _label_jobs(spark, "aggregates")
            with monitor.stage("aggregates") as arec:
                vendor_gid = _grouping_id("l_returnflag")
                clean_rows = sum(
                    r["total_trips"]
                    for r in stats.collect()
                    if r["__gid"] == vendor_gid
                )
                arec.rows = clean_rows

            sinks_done += [
                _submit(pool, spark, partial(sink, *s)) for s in _stats_sinks(stats)
            ]
    finally:
        if stats is not None:
            stats.unpersist()

    quality = quality_done.result()
    for done in sinks_done:
        done.result()
    return PipelineResult(
        schema_valid=True,
        quality=quality,
        raw_rows=int(quality["total_rows"]),
        clean_rows=clean_rows,
        outputs=outputs,
    )
