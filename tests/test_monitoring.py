"""Monitoring hook: per-stage wall/cpu/rss/rows/task metrics
(reference parity `pipeline_monitor.py:1-18`)."""

from __future__ import annotations

from big_data_processing_spark.monitoring import PipelineMonitor
from big_data_processing_spark.pipeline import run_pipeline
from tests.conftest import SF0001


def test_monitor_records_stages(spark):
    mon = PipelineMonitor(spark)
    with mon.stage("count") as rec:
        rec.rows = spark.range(1000).count()
    with mon.stage("noop"):
        pass
    rep = mon.report()
    assert [r["name"] for r in rep] == ["count", "noop"]
    assert rep[0]["rows"] == 1000
    assert rep[0]["wall_sec"] > 0
    assert rep[0]["cpu_sec"] >= 0
    assert rep[0]["peak_rss_mb"] > 0
    # the count ran at least one Spark task
    assert rep[0]["spark_tasks"] is None or rep[0]["spark_tasks"] >= 1
    lines = mon.log_lines()
    assert len(lines) == 2 and "wall=" in lines[0]


def test_monitor_records_failure_stage(spark):
    mon = PipelineMonitor()
    try:
        with mon.stage("boom"):
            raise RuntimeError("x")
    except RuntimeError:
        pass
    # the stage is still recorded (finally path)
    assert mon.report()[0]["name"] == "boom"


def test_pipeline_with_monitor(spark, tmp_path):
    mon = PipelineMonitor(spark)
    result = run_pipeline(spark, SF0001, str(tmp_path / "out"), monitor=mon)
    names = [r["name"] for r in mon.report()]
    assert "schema_gate" in names
    assert "quality_metrics" in names
    assert "sink:processed" in names
    assert "aggregates" in names
    assert {n for n in names if n.startswith("sink:")} == {
        f"sink:{s}" for s in result.outputs
    }
    # the quality stage reported the raw row count
    qrec = next(r for r in mon.report() if r["name"] == "quality_metrics")
    assert qrec["rows"] == result.raw_rows


def test_countmin_never_undercounts(spark):
    """CM estimates are exact-or-over for every probed key, and
    exact when width >> distinct keys (no collisions possible in
    expectation check: verify est == true for a tiny vocab)."""
    from pyspark.sql import functions as F

    from big_data_processing_spark.functions.sketches import (
        countmin_estimate,
        countmin_table,
    )

    rows = [(w,) for w in "a b c a b a d e f a b c".split()]
    df = spark.createDataFrame(rows, "token string")
    sketch = countmin_table(df, "token", width=4096, depth=4)
    truth = df.groupBy("token").agg(F.count(F.lit(1)).alias("t"))
    est = countmin_estimate(
        truth.select("token"), sketch, "token", width=4096, depth=4
    )
    j = {r.token: (r.t, r.est) for r in truth.join(est, "token").collect()}
    assert len(j) == 6
    for t, e in j.values():
        assert e >= t
    # wide sketch over 6 keys: overwhelmingly exact
    assert sum(e - t for t, e in j.values()) == 0
    # narrow sketch forces collisions but keeps the lower bound
    s2 = countmin_table(df, "token", width=2, depth=2)
    e2 = countmin_estimate(
        truth.select("token"), s2, "token", width=2, depth=2
    )
    for r in truth.join(e2, "token").collect():
        assert r.est >= r.t
