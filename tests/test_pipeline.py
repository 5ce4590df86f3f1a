from __future__ import annotations

import glob
import os
import subprocess
import sys
import threading
import time

import duckdb
import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import big_data_processing_spark.pipeline as pipeline
from big_data_processing_spark.operators.cleaning import CLEAN_WHERE
from big_data_processing_spark.pipeline import run_pipeline
from tests.conftest import SF0001, jobs_since


def test_pipeline_end_to_end(spark, tmp_path):
    out = tmp_path / "out"
    result = run_pipeline(spark, SF0001, str(out))

    assert result.schema_valid
    assert result.raw_rows > 0
    assert 0 < result.clean_rows <= result.raw_rows
    assert result.quality["quality_score"] > 0

    # sinks exist and read back consistently
    processed = spark.read.parquet(result.outputs["processed"])
    assert processed.count() == result.clean_rows
    assert "qty_category" in processed.columns

    vendor = spark.read.parquet(result.outputs["vendor_stats"])
    assert vendor.count() > 0
    summary = (
        spark.read.option("header", True).csv(result.outputs["summary"])
    )
    assert summary.count() == 1


def test_pipeline_schema_gate_fails_on_wrong_table(spark, tmp_path):
    with pytest.raises(ValueError, match="schema gate"):
        run_pipeline(spark, SF0001, str(tmp_path / "x"), table="region")


def _rows_in_file_order(path: str) -> list[tuple]:
    """A parquet sink's rows, files in name order, rows in file order."""
    rows: list[tuple] = []
    for f in sorted(glob.glob(f"{path}/*.parquet")):
        rows += [tuple(r.values()) for r in pq.read_table(f).to_pylist()]
    return rows


def _assert_rows_close(got: list[tuple], want: list[tuple], n_exact: int) -> None:
    """First ``n_exact`` columns equal, the rest within rtol 1e-9."""
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g[:n_exact] == w[:n_exact], (g, w)
        assert np.allclose(g[n_exact:], w[n_exact:], rtol=1e-9), (g, w)


def test_pipeline_outputs_match_duckdb(spark, tmp_path):
    """The grouped stats and the summary equal DuckDB's recomputation
    over the written ``processed`` rows, each stats sink in key order."""
    out = str(tmp_path / "out")
    result = run_pipeline(spark, SF0001, out)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW p AS SELECT * FROM read_parquet('{out}/processed/*.parquet')"
    )
    assert con.execute("SELECT count(*) FROM p").fetchone()[0] == result.clean_rows

    expected = {
        "vendor_stats": """SELECT l_returnflag, count(*), sum(l_extendedprice),
                   avg(l_quantity), avg(l_extendedprice)
            FROM p GROUP BY 1 ORDER BY 1""",
        "category_stats": """SELECT qty_category, count(*), avg(l_extendedprice),
                   avg(price_per_unit)
            FROM p GROUP BY 1 ORDER BY 1""",
        "payment_stats": """SELECT l_linestatus, count(*), avg(l_extendedprice),
                   round(avg(l_discount) / avg(l_extendedprice) * 100.0, 6)
            FROM p GROUP BY 1 ORDER BY 1""",
    }
    for name, sql in expected.items():
        got = _rows_in_file_order(result.outputs[name])
        assert [g[0] for g in got] == sorted(g[0] for g in got), name
        _assert_rows_close(got, con.execute(sql).fetchall(), n_exact=2)

    want = con.execute("""
        SELECT sum(n), round(sum(rev), 2), round(avg(qty), 6), round(avg(price), 6)
        FROM (SELECT count(*) AS n, sum(l_extendedprice) AS rev,
                     avg(l_quantity) AS qty, avg(l_extendedprice) AS price
              FROM p GROUP BY l_returnflag)""").fetchall()
    got = con.execute(
        f"SELECT * FROM read_csv('{out}/summary/*.csv', header = true)"
    ).fetchall()
    _assert_rows_close(got, want, n_exact=1)


def _duckdb_answer(path: str) -> tuple[dict, int]:
    """DuckDB's quality counts and IQR-cleaned row count for one
    lineitem file (NULL fences keep no rows)."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{path}')")
    quality = con.execute("""
        SELECT count(*),
               count(*) FILTER (WHERE l_extendedprice > 100000),
               count(*) FILTER (WHERE l_quantity >= 50),
               count(*) FILTER (WHERE l_discount > 0.08)
        FROM lineitem""").fetchone()
    clean = con.execute(f"""
        WITH f AS (
          SELECT q[1] - 1.5 * (q[2] - q[1]) AS lo, q[2] + 1.5 * (q[2] - q[1]) AS hi
          FROM (SELECT quantile_cont(l_extendedprice, [0.25, 0.75]) AS q
                FROM lineitem WHERE {CLEAN_WHERE}))
        SELECT count(*) FROM lineitem, f
        WHERE {CLEAN_WHERE} AND l_extendedprice BETWEEN lo AND hi""").fetchone()[0]
    names = ("total_rows", "invalid_price", "invalid_qty", "invalid_discount")
    return dict(zip(names, quality)), clean


@pytest.mark.parametrize("case", ["empty", "all_fail_range_clean"])
def test_pipeline_degenerate_input(spark, tmp_path, case):
    """No row survives cleaning: NULL IQR fences keep nothing, every
    aggregate sink is empty and the summary row holds NULL totals."""
    table = pq.read_table(f"{SF0001}/lineitem.parquet")
    if case == "empty":
        table = table.slice(0, 0)
    else:
        table = table.slice(0, 50)
        qty = table.schema.get_field_index("l_quantity")
        table = table.set_column(
            qty, "l_quantity", pc.add(table["l_quantity"], 100.0)
        )
    data = tmp_path / "data"
    os.makedirs(data)
    pq.write_table(table, str(data / "lineitem.parquet"))
    quality, clean_rows = _duckdb_answer(str(data / "lineitem.parquet"))
    assert clean_rows == 0

    result = run_pipeline(spark, str(data), str(tmp_path / "out"))
    assert {k: int(result.quality[k]) for k in quality} == quality
    assert result.raw_rows == table.num_rows
    assert result.clean_rows == 0
    for name in ("processed", "vendor_stats", "category_stats", "payment_stats"):
        assert spark.read.parquet(result.outputs[name]).count() == 0, name
    summary = spark.read.option("header", True).csv(result.outputs["summary"])
    rows = summary.collect()
    assert len(rows) == 1
    assert all(v is None for v in rows[0])


def test_pipeline_jobs_stay_in_caller_group_and_failure_cleans_up(spark, tmp_path):
    """Jobs submitted from the pipeline's threads inherit the caller's
    job group; a failing sink raises, leaves no cached RDD behind and
    the next run succeeds."""
    sc = spark.sparkContext
    last_job = max((j for j, _ in jobs_since(sc, -1)), default=-1)
    persistent = set(sc._jsc.getPersistentRDDs().keySet())
    sc.setJobGroup("etl", "run_pipeline job-group check")
    try:
        run_pipeline(spark, SF0001, str(tmp_path / "out"))
    finally:
        sc._jsc.sc().clearJobGroup()
    jobs = jobs_since(sc, last_job)
    assert jobs
    assert [j for j, g in jobs if g != "etl"] == []
    assert set(sc._jsc.getPersistentRDDs().keySet()) == persistent

    blocker = tmp_path / "a_file"
    blocker.write_text("not a directory")
    with pytest.raises(Exception):
        run_pipeline(spark, SF0001, str(blocker / "out"))
    assert set(sc._jsc.getPersistentRDDs().keySet()) == persistent

    result = run_pipeline(spark, SF0001, str(tmp_path / "out2"))
    assert result.clean_rows > 0


def test_pool_jobs_carry_their_action_label(spark, tmp_path):
    """Every job of the call is named after its stage: its description
    and call site. PySpark sets a call site only when no other thread
    is inside an action, so without the labels the pool's quality-pass
    and sink jobs, and the caller's stats collect, carried the call
    site of the concurrent IQR fence job, and every job the caller's
    description. The caller's description is back after the call."""
    sc = spark.sparkContext
    # each label, and the file of PySpark's own call site of its action
    own_site = {"scan": "NativeMethodAccessorImpl", "quality_metrics": "pipeline.py",
                "iqr_fences": "cleaning.py", "aggregates": "pipeline.py"}
    own_site.update({f"sink:{name}": "pipeline.py" for name in pipeline.SINKS})
    run_pipeline(spark, SF0001, str(tmp_path / "warm"))
    last_job = max((j for j, _ in jobs_since(sc, -1)), default=-1)
    sc.setJobGroup("etl-labels", "caller")
    try:
        run_pipeline(spark, SF0001, str(tmp_path / "out"))
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc._jsc.sc().clearJobGroup()
    store = sc._jsc.sc().statusStore()
    described = []
    for job_id, _group in jobs_since(sc, last_job):
        job = store.job(job_id)
        desc = job.description()
        described.append((job.name(), desc.get() if desc.isDefined() else None))
    assert {desc for _name, desc in described} == set(own_site), described
    for name, desc in described:
        assert name == desc or own_site[desc] in name, (name, desc)


def test_processed_sink_does_not_wait_for_the_quality_pass(spark, tmp_path, monkeypatch):
    """Only the IQR fences gate the sinks: the quality pass blocks
    until the ``processed`` sink has been written, which deadlocks
    (and times out) if that sink waits for the quality pass."""
    processed_written = threading.Event()
    quality_metrics, write_parquet = pipeline.quality_metrics, pipeline.write_parquet

    class GatedFrame:
        def __init__(self, df):
            self._df = df

        def first(self):
            if not processed_written.wait(60):
                raise TimeoutError("the processed sink waited for the quality pass")
            return self._df.first()

    def write_then_signal(df, path):
        write_parquet(df, path)
        if path.endswith("/processed"):
            processed_written.set()

    monkeypatch.setattr(
        pipeline, "quality_metrics", lambda *a: GatedFrame(quality_metrics(*a))
    )
    monkeypatch.setattr(pipeline, "write_parquet", write_then_signal)
    result = run_pipeline(spark, SF0001, str(tmp_path / "out"))
    assert result.raw_rows > 0
    assert processed_written.is_set()


def _pool_threads() -> list[str]:
    return [t.name for t in threading.enumerate()
            if t.name.startswith("ThreadPoolExecutor")]


def _assert_nothing_left_running(sc, persistent: set) -> None:
    """No job still active, no cached RDD and no pool thread left."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getActiveJobsIds()) == []
    assert set(sc._jsc.getPersistentRDDs().keySet()) == persistent
    assert _pool_threads() == []


def test_pipeline_quality_failure_cleans_up(spark, tmp_path, monkeypatch):
    """A failing quality action raises only after every other action
    has ended, and leaves nothing behind."""
    sc = spark.sparkContext
    persistent = set(sc._jsc.getPersistentRDDs().keySet())
    monkeypatch.setattr(
        pipeline, "quality_metrics",
        lambda raw, rules: raw.select(F.raise_error(F.lit("quality pass failed"))),
    )
    with pytest.raises(Exception, match="quality pass failed"):
        run_pipeline(spark, SF0001, str(tmp_path / "out"))
    _assert_nothing_left_running(sc, persistent)

    monkeypatch.undo()
    assert run_pipeline(spark, SF0001, str(tmp_path / "out2")).clean_rows > 0


@pytest.mark.parametrize("cancel_at", ["first_job", "stats_cached"])
def test_pipeline_cancelled_job_group_cleans_up(spark, tmp_path, cancel_at):
    """Cancelling the caller's job group mid-run (with the jobs it would
    still submit) makes the call raise, and leaves nothing behind."""
    sc = spark.sparkContext
    jsc, tracker = sc._jsc.sc(), sc.statusTracker()
    persistent = set(sc._jsc.getPersistentRDDs().keySet())
    group = f"etl-cancel-{cancel_at}"

    def ready() -> bool:
        if cancel_at == "first_job":
            return bool(set(tracker.getJobIdsForGroup(group))
                        & set(tracker.getActiveJobsIds()))
        return set(sc._jsc.getPersistentRDDs().keySet()) != persistent

    done = threading.Event()

    def cancel_when_ready() -> None:
        while not done.is_set():
            if ready():
                jsc.cancelJobGroupAndFutureJobs(group, "cancelled by test")
                return
            time.sleep(0.005)

    watcher = threading.Thread(target=cancel_when_ready)
    sc.setJobGroup(group, "run_pipeline cancel check")
    try:
        watcher.start()
        with pytest.raises(Exception, match="cancel"):
            run_pipeline(spark, SF0001, str(tmp_path / "out"))
    finally:
        done.set()
        watcher.join(30)
        jsc.clearJobGroup()
    assert not watcher.is_alive()
    _assert_nothing_left_running(sc, persistent)

    assert run_pipeline(spark, SF0001, str(tmp_path / "out2")).clean_rows > 0


def test_pipeline_import_loads_no_query_plans():
    """``pipeline`` does not import the query registry."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    loaded = subprocess.run(
        [sys.executable, "-c",
         "import sys, big_data_processing_spark.pipeline; "
         "print(*sorted(m for m in sys.modules "
         "if m.startswith('big_data_processing_spark.plans')))"],
        cwd=root, capture_output=True, text=True, check=True,
    ).stdout.split()
    assert loaded == []
