"""Observability: a per-query profiler, a Prometheus-style latency
histogram, and a streaming progress listener.

Parity targets in the reference: api/telemetry.py:27-31 (REQUEST_DURATION
histogram, 14 buckets 5ms..10s), observability/freshness_sli.json (SLI
artifact shape — the freshness SLI itself lives in the validation layer),
and the Prometheus middleware counters. Here the instrumented unit is a
QUERY rather than an HTTP request: ``profile_query`` runs it under its own
job group and reads what Spark did from its status store (jobs, stages,
tasks, executor time, input/shuffle/spill bytes), so the numbers cover
every job the query ran, including the eager ones its builder ran before
the final plan, not wrapper-side guesses.
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass, field
from typing import Callable

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession

# the reference's REQUEST_DURATION bucket ladder (api/telemetry.py:27-31)
LATENCY_BUCKETS_S = [
    0.005, 0.01, 0.025, 0.05, 0.075, 0.1, 0.25, 0.5,
    0.75, 1.0, 2.5, 5.0, 7.5, 10.0,
]

# status-store StageData getter -> record field (BENCHMARK.json per_layer name)
_STAGE_FIELDS = {
    "numTasks": "sched.tasks",
    "numFailedTasks": "sched.failed_tasks",
    "executorRunTime": "exec.run_s",
    "executorCpuTime": "exec.cpu_s",
    "jvmGcTime": "exec.gc_s",
    "inputBytes": "io.input_bytes",
    "shuffleReadBytes": "shuffle.read_bytes",
    "shuffleWriteBytes": "shuffle.write_bytes",
    "diskBytesSpilled": "spill.disk_bytes",
    "memoryBytesSpilled": "spill.mem_bytes",
}
# run and GC time are milliseconds, CPU time nanoseconds
_TO_SECONDS = {"exec.run_s": 1e-3, "exec.gc_s": 1e-3, "exec.cpu_s": 1e-9}
# the local properties setJobGroup sets; saved and restored around a profile
_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


def _group_jobs(sc, group: str) -> list[int]:
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _group_layers(sc, group: str) -> dict:
    """Jobs, stages and executor totals over every stage that ran in
    ``group``'s jobs; skipped stages never ran and are left out."""
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    jobs = _group_jobs(sc, group)
    stage_ids = set()
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = {"sched.jobs": len(jobs), "sched.stages": 0}
    out.update(dict.fromkeys(_STAGE_FIELDS.values(), 0))
    for sid in stage_ids:
        try:
            stage = store.lastStageAttempt(sid)
        except Py4JJavaError:  # a stage never attempted has no attempt to read
            continue
        if stage.status().toString() == "SKIPPED":
            continue
        out["sched.stages"] += 1
        for getter, key in _STAGE_FIELDS.items():
            out[key] += getattr(stage, getter)()
    for key, scale in _TO_SECONDS.items():
        out[key] = round(out[key] * scale, 3)
    return out


def profile_query(
    spark: SparkSession, name: str, build: Callable[[], DataFrame], repeat: int = 1
) -> dict:
    """Run ``build()`` and force its DataFrame with the noop sink (every
    output column evaluated, nothing shipped to the driver), ``repeat``
    times, each run under its own job group. Returns one JSON-able record:

    - ``runs``: each run's wall seconds; ``wall_s``: their minimum;
    - the fastest run's layers, named as BENCHMARK.json's ``per_layer``:
      ``plans.builder_s`` and ``plans.builder_jobs`` (the time and jobs
      spent inside ``build()`` — eager checkpoints and collects that a walk
      of the final plan never sees); ``sched.jobs``, ``sched.stages`` and
      ``sched.tasks`` over the whole run; executor run, CPU and GC seconds
      and input, shuffle and spill bytes.

    A build or write that raises yields ``{"name", "runs", "error"}``. The
    caller's job group is restored either way, so the next call runs."""
    sc = spark.sparkContext
    saved = {k: sc.getLocalProperty(k) for k in _GROUP_PROPS}
    rec: dict = {"name": name, "runs": []}
    best = None
    try:
        for _ in range(repeat):
            group = f"profile-{uuid.uuid4().hex}-{name}"
            sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            df = build()
            builder_s = time.perf_counter() - t0
            builder_jobs = len(_group_jobs(sc, group))  # off the clock
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            wall = round(builder_s + time.perf_counter() - t1, 3)
            rec["runs"].append(wall)
            if best is None or wall < best[0]:
                best = (wall, round(builder_s, 3), builder_jobs, group)
    except Exception as e:  # noqa: BLE001 - a failure is per query
        rec["error"] = f"{type(e).__name__}: {e}"[:2000]
        return rec
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)
    rec["wall_s"], rec["plans.builder_s"], rec["plans.builder_jobs"], group = best
    rec.update(_group_layers(sc, group))
    return rec


@dataclass
class LatencyHistogram:
    """Prometheus-text histogram with the reference's bucket ladder."""

    name: str = "query_duration_seconds"
    counts: list[int] = field(default_factory=lambda: [0] * (len(LATENCY_BUCKETS_S) + 1))
    total: float = 0.0
    n: int = 0

    def observe(self, seconds: float) -> None:
        self.n += 1
        self.total += seconds
        for i, b in enumerate(LATENCY_BUCKETS_S):
            if seconds <= b:
                self.counts[i] += 1
                return
        self.counts[-1] += 1

    def to_prometheus(self) -> str:
        lines = [f"# TYPE {self.name} histogram"]
        cum = 0
        for b, c in zip(LATENCY_BUCKETS_S, self.counts):
            cum += c
            lines.append(f'{self.name}_bucket{{le="{b}"}} {cum}')
        cum += self.counts[-1]
        lines.append(f'{self.name}_bucket{{le="+Inf"}} {cum}')
        lines.append(f"{self.name}_sum {round(self.total, 6)}")
        lines.append(f"{self.name}_count {self.n}")
        return "\n".join(lines)


def make_streaming_listener(events: list):
    """A StreamingQueryListener that appends (event_kind, rows) tuples to
    ``events`` — progress rows come from Spark's own query progress, the
    streaming analogue of SQLMetrics."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _L(StreamingQueryListener):
        def onQueryStarted(self, e):
            events.append(("started", 0))

        def onQueryProgress(self, e):
            events.append(("progress", int(e.progress.numInputRows)))

        def onQueryIdle(self, e):
            pass

        def onQueryTerminated(self, e):
            events.append(("terminated", 0))

    return _L()
