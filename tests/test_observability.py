"""The per-query profiler, histogram formatting, and the streaming
progress listener."""

from __future__ import annotations

import json
import time

import __spark_entry__ as E
from clinical_data_platform_spark.observability import (
    LatencyHistogram,
    make_streaming_listener,
    profile_query,
)

SF = "/root/testdata/sf0.001"

RECORD_FIELDS = {
    "name", "runs", "wall_s", "plans.builder_s", "plans.builder_jobs",
    "sched.jobs", "sched.stages", "sched.tasks", "sched.failed_tasks",
    "exec.run_s", "exec.cpu_s", "exec.gc_s", "io.input_bytes",
    "shuffle.read_bytes", "shuffle.write_bytes", "spill.disk_bytes",
    "spill.mem_bytes",
}


def _profile(spark, name, repeat=1):
    qs = E.queries()
    return profile_query(spark, name, lambda: qs[name](spark, SF), repeat)


def test_profile_query_record_fields(spark):
    q5 = _profile(spark, "q5_revenue_by_nation", repeat=2)
    assert set(q5) == RECORD_FIELDS
    assert json.loads(json.dumps(q5)) == q5
    assert q5["name"] == "q5_revenue_by_nation"
    assert len(q5["runs"]) == 2 and q5["wall_s"] == min(q5["runs"])
    assert 0 <= q5["plans.builder_s"] <= q5["wall_s"]
    assert q5["sched.tasks"] >= q5["sched.stages"] >= 1
    assert q5["sched.jobs"] >= 1 and q5["sched.failed_tasks"] == 0
    assert q5["exec.run_s"] > 0 and q5["io.input_bytes"] > 0
    assert q5["shuffle.write_bytes"] > 0  # the join/aggregate exchanges

    # PageRank's localCheckpointed iterations run inside the builder: the
    # record counts those jobs, which a walk of the final plan never saw
    pr = _profile(spark, "nation_trade_pagerank")
    assert set(pr) == RECORD_FIELDS
    assert 0 < pr["plans.builder_jobs"] < pr["sched.jobs"]


def test_profile_query_failure_is_a_record(spark):
    sc = spark.sparkContext
    sc.setJobGroup("caller-group", "the caller's own group")
    try:
        def boom():
            raise RuntimeError("builder failed\nsecond line")

        assert profile_query(spark, "boom", boom) == {
            "name": "boom",
            "runs": [],
            "error": "RuntimeError: builder failed\nsecond line",
        }
        bad = profile_query(
            spark, "raise_error", lambda: spark.range(3).selectExpr("raise_error('no') AS x")
        )
        assert bad["runs"] == [] and "no" in bad["error"]
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller-group"
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    ok = _profile(spark, "event_type_counts")
    assert "error" not in ok and ok["sched.jobs"] >= 1


def test_latency_histogram_matches_reference_ladder(spark):
    h = LatencyHistogram()
    for s in (0.004, 0.02, 0.3, 42.0):
        h.observe(s)
    text = h.to_prometheus()
    assert 'le="0.005"} 1' in text
    assert 'le="0.025"} 2' in text
    assert 'le="0.5"} 3' in text
    assert 'le="+Inf"} 4' in text
    assert "query_duration_seconds_count 4" in text
    # 14 finite buckets, same ladder as the reference's REQUEST_DURATION
    assert text.count("_bucket") == 15


def test_streaming_listener_sees_progress(spark):
    from clinical_data_platform_spark.streaming.events_stream import hourly_counts

    events: list = []
    listener = make_streaming_listener(events)
    spark.streams.addListener(listener)
    try:
        hourly_counts(spark, SF)
        # listener callbacks are async; give the bus a moment
        deadline = time.time() + 15
        while time.time() < deadline:
            if any(k == "progress" and n > 0 for k, n in events):
                break
            time.sleep(0.25)
        assert any(k == "started" for k, n in events)
        assert any(k == "progress" and n > 0 for k, n in events), events
    finally:
        spark.streams.removeListener(listener)
