from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from engine.io import get_spark

    s = get_spark(app="engine-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    from tests.oracle import DEFAULT_SF_DIR

    return DEFAULT_SF_DIR


@pytest.fixture()
def count_jobs(spark):
    """``count_jobs(fn)`` returns ``(fn(), Spark jobs started while fn
    ran)``, diffed on the newest job id in the status store. A job group
    would miss a streaming query's micro-batch jobs, which run under the
    query's own group; job ids are sequential, so the diff counts them
    too."""
    sc = spark.sparkContext._jsc.sc()

    def newest() -> int:
        sc.listenerBus().waitUntilEmpty()  # the store is fed asynchronously
        jobs = sc.statusStore().jobsList(None)  # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    def count(fn):
        before = newest()
        out = fn()
        return out, newest() - before

    return count
