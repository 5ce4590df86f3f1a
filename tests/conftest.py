from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from big_data_processing_spark import get_spark  # noqa: E402

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    session = get_spark(app_name="tests", shuffle_partitions=4)
    yield session
    session.stop()


def jobs_since(sc, last_job: int) -> list[tuple[int, str | None]]:
    """(job id, job group) of every job after ``last_job``."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs = jsc.statusStore().jobsList(None)
    out = []
    for i in range(jobs.size()):
        job = jobs.apply(i)
        if job.jobId() > last_job:
            group = job.jobGroup()
            out.append((job.jobId(), group.get() if group.isDefined() else None))
    return out
