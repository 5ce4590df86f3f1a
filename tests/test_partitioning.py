"""The pin lifecycle of ``partitioning``: a pin lives until the
``pin_scope`` that made it closes, unless it is kept or unpinned."""

from __future__ import annotations

import os
import re
import threading

import pytest

from big_data_processing_spark import partitioning
from big_data_processing_spark.plans import doc_clusters
from tests.conftest import SF0001

PACKAGE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "big_data_processing_spark",
)


def _pinned(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_scope_frees_lazy_and_eager_pins_on_exit(spark):
    before = _pinned(spark)
    with partitioning.pin_scope():
        lazy = spark.range(10).transform(partitioning.pin)
        now = partitioning.pin_now(spark.range(20))
        assert lazy.count() == 10 and now.count() == 20
        assert len(_pinned(spark) - before) == 2
    assert _pinned(spark) == before


def test_scope_frees_its_pins_when_the_block_raises(spark):
    before = _pinned(spark)
    with pytest.raises(RuntimeError, match="boom"):
        with partitioning.pin_scope():
            partitioning.pin_now(spark.range(5))
            raise RuntimeError("boom")
    assert _pinned(spark) == before


def test_kept_pin_outlives_the_scope_and_unpin_frees_at_once(spark):
    before = _pinned(spark)
    with partitioning.pin_scope():
        with partitioning.pin_scope():
            kept = partitioning.keep(partitioning.pin_now(spark.range(7)))
            partitioning.pin_now(spark.range(8))
        outer = partitioning.pin_now(spark.range(9))
        # the inner scope freed its own pin, not the outer one's
        assert _pinned(spark) - before == {
            partitioning._rdd_id(kept), partitioning._rdd_id(outer)
        }
        partitioning.unpin(outer)
        assert _pinned(spark) - before == {partitioning._rdd_id(kept)}
    assert _pinned(spark) - before == {partitioning._rdd_id(kept)}
    assert kept.count() == 7
    partitioning.unpin(kept)
    assert _pinned(spark) == before


def test_pins_outside_a_scope_or_in_another_thread_are_not_tracked(spark):
    before = _pinned(spark)
    untracked = [partitioning.pin_now(spark.range(3))]
    with partitioning.pin_scope():
        # a thread starts with no open scope, whatever this one has
        worker = threading.Thread(
            target=lambda: untracked.append(partitioning.pin_now(spark.range(4)))
        )
        worker.start()
        worker.join()
    assert len(_pinned(spark) - before) == 2
    assert [df.count() for df in untracked] == [3, 4]
    for df in untracked:
        partitioning.unpin(df)
    assert _pinned(spark) == before


def test_package_pins_only_through_partitioning():
    """Every local checkpoint of the package is made by
    ``partitioning.pin``, so ``pin_scope`` sees every pin."""
    raw = re.compile(r"\.localCheckpoint\(")
    found = []
    for root, _dirs, files in os.walk(PACKAGE):
        for name in files:
            path = os.path.join(root, name)
            if not name.endswith(".py") or path.endswith("partitioning.py"):
                continue
            with open(path) as fh:
                found += [
                    f"{os.path.relpath(path, PACKAGE)}:{i}"
                    for i, line in enumerate(fh, 1) if raw.search(line)
                ]
    assert found == []


def test_cluster_memo_keeps_only_the_cluster_frame(spark, monkeypatch):
    """Building the memoized near-dup clusters inside a scope leaves
    one pinned RDD: the kept cluster frame. The edge list, the label
    rounds (the last one still holds the ``__old`` column of the
    convergence check) and the pair-side pins are freed."""
    monkeypatch.setattr(doc_clusters, "_CACHE", {})
    before = _pinned(spark)
    with partitioning.pin_scope():
        clusters = doc_clusters.doc_near_dup_clusters(spark, SF0001)
    assert _pinned(spark) - before == {partitioning._rdd_id(clusters)}
    assert clusters.columns == ["id", "cluster_id", "is_representative"]
    assert clusters.count() > 0
    partitioning.unpin(clusters)
