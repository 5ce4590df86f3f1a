from __future__ import annotations

import dataclasses
import glob
import os
import threading
import time

import duckdb
import pytest
from pyspark.sql import functions as F

from big_data_processing_spark.functions.dedup import (
    dedup_by_fingerprint,
    minhash_near_duplicates,
)
from big_data_processing_spark.functions.text import lang_id, quality_score, token_count
from big_data_processing_spark.pipeline_documents import (
    run_document_pipeline,
)
from big_data_processing_spark.sources.catalog import load_table
from big_data_processing_spark.sources.files import write_parquet
from tests.conftest import SF0001, jobs_since

LANGS = ("en", "de", "fr", "es")


def test_document_pipeline_end_to_end(spark, tmp_path):
    res = run_document_pipeline(spark, SF0001, str(tmp_path))

    # monotone funnel
    assert (
        res.raw_docs
        >= res.after_quality
        >= res.after_lang
        >= res.after_exact_dedup
        >= res.after_near_dedup
        >= res.sampled
    )
    assert res.raw_docs > 0 and res.sampled > 0

    out = spark.read.parquet(res.out_path)
    # partitioned by predicted language; only kept languages present
    assert set(r.lang_pred for r in out.select("lang_pred").distinct().collect()) <= {
        "en", "de", "fr", "es"
    }
    # quality gate actually applied
    assert out.filter("quality < 0.3").count() == 0
    # exact dedup: no two rows share a normalized-text fingerprint
    from big_data_processing_spark.functions.text import md5_fingerprint

    fps = out.select(md5_fingerprint(F.col("text")).alias("fp"))
    assert fps.count() == fps.distinct().count()


def _chain(spark, sf_dir, out_dir):
    """The pipeline's stages spelled out with a plain ``count()`` per
    stage: the same operators and defaults, its own corpus write."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "text", "lang", "source",
        token_count(F.col("text")).alias("n_tokens"),
        quality_score(F.col("text")).alias("quality"),
        lang_id(F.col("text")).alias("lang_pred"),
    )
    quality_ok = scored.filter((F.col("quality") >= 0.3) & (F.col("n_tokens") >= 5))
    lang_ok = quality_ok.filter(F.col("lang_pred").isin(*LANGS))
    keepers = dedup_by_fingerprint(lang_ok, "text", "doc_id").select("doc_id")
    exact = lang_ok.join(keepers, on="doc_id")
    pairs = minhash_near_duplicates(exact, "text", "doc_id", threshold=0.6)
    drop_ids = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    near = exact.join(drop_ids, on="doc_id", how="left_anti")
    sampled = near.sampleBy("lang_pred", {lang: 0.5 for lang in LANGS}, seed=42)
    out_path = os.path.join(out_dir, "corpus")
    write_parquet(sampled, out_path, partition_by=["lang_pred"])
    counts = {
        "raw_docs": docs.count(),
        "after_quality": quality_ok.count(),
        "after_lang": lang_ok.count(),
        "after_exact_dedup": exact.count(),
        "after_near_dedup": near.count(),
    }
    return counts, out_path


def _written(out_path: str) -> list[tuple]:
    """(doc_id, lang_pred) of the written corpus, read by DuckDB."""
    if not glob.glob(os.path.join(out_path, "**", "*.parquet"), recursive=True):
        return []
    return duckdb.sql(
        f"select doc_id, lang_pred from read_parquet('{out_path}/**/*.parquet', "
        "hive_partitioning = true) order by doc_id"
    ).fetchall()


def test_observed_counts_match_counted_chain(spark, tmp_path, monkeypatch):
    """Every stage count observed on the write equals a plain count()
    of that stage, ``sampled`` is what DuckDB reads back, and the
    written rows are the ones a count-per-stage chain writes. The
    observed nodes must not keep Catalyst from pushing the near-dup
    anti join below the exact-dedup join, as it does in the chain:
    ``sampleBy`` draws by row order, so the plan below it matters."""
    import big_data_processing_spark.pipeline_documents as pipeline

    written_frames = []

    def capture(df, path, **kwargs):
        written_frames.append(df)
        write_parquet(df, path, **kwargs)

    monkeypatch.setattr(pipeline, "write_parquet", capture)
    res = run_document_pipeline(spark, SF0001, str(tmp_path / "new"))
    plan = written_frames[0]._jdf.queryExecution().optimizedPlan().toString()
    assert plan.index("Join LeftAnti") > plan.index("Join Inner"), plan
    counts, chain_path = _chain(spark, SF0001, str(tmp_path / "chain"))
    written = _written(res.out_path)

    assert {k: getattr(res, k) for k in counts} == counts
    assert res.sampled == len(written) > 0
    assert written == _written(chain_path)


@pytest.mark.parametrize(
    "kwargs, empty_from",
    [
        ({"keep_langs": ("xx",)}, "after_lang"),
        ({"near_dup_threshold": 1.01}, None),
        ({"sample_fraction": 0.0}, "sampled"),
    ],
    ids=["no_kept_language", "no_near_dup_pairs", "zero_sample"],
)
def test_degenerate_inputs(spark, tmp_path, kwargs, empty_from):
    """A stage that keeps nothing reads 0 from there on and leaves an
    empty corpus; zero near-dup pairs remove nothing."""
    res = run_document_pipeline(spark, SF0001, str(tmp_path), **kwargs)
    fields = ["raw_docs", "after_quality", "after_lang", "after_exact_dedup",
              "after_near_dedup", "sampled"]
    got = [getattr(res, f) for f in fields]
    empty = fields.index(empty_from) if empty_from else len(fields)
    assert all(n > 0 for n in got[:empty]), got
    assert all(n == 0 for n in got[empty:]), got
    assert res.sampled == len(_written(res.out_path))
    if empty_from is None:
        assert res.after_near_dedup == res.after_exact_dedup


def test_document_pipeline_job_count(spark, tmp_path):
    """The call submits the jobs of two passes over the data (the
    MinHash shingle pin and the write): 18 on SF0001 with 4 shuffle
    partitions, at any core count. A per-stage count() or a read-back
    of the corpus adds jobs (47 with both), and so does a vocabulary
    statistic in the near-dup operator (27 with its gram table and
    collect)."""
    sc = spark.sparkContext
    last_job = max((j for j, _ in jobs_since(sc, -1)), default=-1)
    run_document_pipeline(spark, SF0001, str(tmp_path))
    assert len(jobs_since(sc, last_job)) <= 18


def _storage(spark) -> tuple[set[int], int]:
    """Persistent RDD ids and the bytes the block manager stores."""
    jsc = spark.sparkContext._jsc
    stored = sum(r.memSize() + r.diskSize() for r in jsc.sc().getRDDStorageInfo())
    return set(jsc.getPersistentRDDs().keySet()), stored


def _counts(res) -> dict:
    return {k: v for k, v in dataclasses.asdict(res).items() if k != "out_path"}


def test_document_pipeline_frees_its_pins(spark, tmp_path):
    """No pin outlives its call: after each call the persistent RDDs
    and stored bytes are what they were before it. The near-dup
    operator's shingle pin outlived the call before the call became
    one pin scope."""
    results = []
    for i in range(3):
        before = _storage(spark)
        results.append(_counts(run_document_pipeline(spark, SF0001, str(tmp_path / str(i)))))
        assert _storage(spark) == before
    assert results[0] == results[1] == results[2]


@pytest.mark.parametrize("cancel_at", ["first_job", "pinned"])
def test_document_pipeline_cancelled_job_group_cleans_up(spark, tmp_path, cancel_at):
    """Cancelling the caller's job group (with the jobs it would still
    submit) at its first running job, or once the call has pinned a
    frame, makes the call raise and leaves nothing behind: no active
    job, no pin. The next call gives the same result as an
    uncancelled one."""
    sc = spark.sparkContext
    jsc, tracker = sc._jsc.sc(), sc.statusTracker()
    want = _counts(run_document_pipeline(spark, SF0001, str(tmp_path / "before")))
    persistent = set(sc._jsc.getPersistentRDDs().keySet())
    group = f"docs-cancel-{cancel_at}"

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
    sc.setJobGroup(group, "run_document_pipeline cancel check")
    try:
        watcher.start()
        with pytest.raises(Exception, match="cancel"):
            run_document_pipeline(spark, SF0001, str(tmp_path / "cancelled"))
    finally:
        done.set()
        watcher.join(30)
        jsc.clearJobGroup()
    assert not watcher.is_alive()
    jsc.listenerBus().waitUntilEmpty()
    assert list(tracker.getActiveJobsIds()) == []
    assert set(sc._jsc.getPersistentRDDs().keySet()) == persistent

    assert _counts(run_document_pipeline(spark, SF0001, str(tmp_path / "after"))) == want


def _round_trips(spark, fn) -> int:
    """py4j commands the client sends while ``fn`` runs."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent = 0

    def counted(*args, **kwargs):
        nonlocal sent
        sent += 1
        return send(*args, **kwargs)

    client.send_command = counted
    try:
        fn()
    finally:
        client.send_command = send
    return sent


def test_document_pipeline_round_trips(spark, tmp_path):
    """A warm call reuses the Column expressions the first call built
    (``session.column_cache``) instead of rebuilding them at about one
    py4j round trip per expression node. Second of two calls on
    SF0001: about 5,500 round trips when every expression is rebuilt,
    1,250–1,450 with the cached builders, about 2,950 when only the
    scoring columns are rebuilt."""
    run_document_pipeline(spark, SF0001, str(tmp_path / "first"))
    sent = _round_trips(spark, lambda: run_document_pipeline(
        spark, SF0001, str(tmp_path / "second")))
    assert sent <= 2000, sent


def test_column_cache_rebuilds_for_a_new_gateway(spark, monkeypatch):
    """Cached Columns are reused while the gateway JVM lives and
    rebuilt once it is replaced: a stopped JVM's handles are dead."""
    from pyspark import SparkContext

    from big_data_processing_spark.session import column_cache

    built = []

    @column_cache
    def build(n):
        built.append(n)
        return F.lit(n)

    first = build(1)
    assert build(1) is first and built == [1]
    monkeypatch.setattr(SparkContext, "_gateway", object())
    assert build(1) is not first and built == [1, 1]
