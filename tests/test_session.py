"""session.concurrently: results in input order, errors only after every
sibling finished, and every thread's jobs in the caller's job group."""

from __future__ import annotations

import sys
import time
from collections import Counter
from functools import partial

import pytest

from clinical_data_platform_spark.session import concurrently


def test_results_come_back_in_input_order(spark):
    def late(i):
        time.sleep(0.05 * (3 - i))  # the first thunk finishes last
        return i

    assert concurrently(spark, [partial(late, i) for i in range(4)]) == [0, 1, 2, 3]
    assert concurrently(spark, []) == []


def test_error_raises_after_siblings_finish(spark):
    finished = []

    def boom():
        raise ValueError("boom")

    def slow():
        time.sleep(0.3)
        finished.append("slow")

    with pytest.raises(ValueError, match="boom"):
        concurrently(spark, [boom, slow])
    assert finished == ["slow"]


def test_jobs_keep_callers_job_group(spark):
    """Each thread (and a thread it starts through the helper) submits its
    jobs in the caller's job group; none escape it."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs(group):
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(tracker.getJobIdsForGroup(group))

    def count(n):
        return spark.range(n).count()

    def nested():
        return sum(concurrently(spark, [partial(count, 5), partial(count, 6)]))

    ungrouped = jobs(None)
    sc.setJobGroup("concurrently-group", "concurrently")
    try:
        got = concurrently(spark, [partial(count, n) for n in (10, 20, 30)] + [nested])
    finally:
        sc._jsc.clearJobGroup()
    assert got == [10, 20, 30, 11]
    assert len(jobs("concurrently-group")) >= 5
    assert jobs(None) - ungrouped == set()


def test_more_threads_than_cores_under_fast_switching(spark):
    """More thunks than cores, each appending to one shared list while the
    interpreter switches threads as often as it can: every append lands and
    the results keep input order."""
    shared = []

    def work(i):
        for _ in range(200):
            shared.append(i)
        return i

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        got = concurrently(spark, [partial(work, i) for i in range(16)])
    finally:
        sys.setswitchinterval(interval)
    assert got == list(range(16))
    assert Counter(shared) == {i: 200 for i in range(16)}
