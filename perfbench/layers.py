"""Layer attribution read from outside the program.

Two sources, both read around the benchmark's own calls:

* Spark's status store, keyed by job group: every operation runs under its
  own group, and right after it finishes the stages of that group's jobs are
  read with ``statusStore().lastStageAttempt``. Reading per operation keeps
  the reads inside Spark's stage retention (a ``core50`` pass creates about
  as many stages as the default retention of 1000).
* ``/proc``: CPU of the driver JVM and of the Python worker processes below
  it, and the JVM's peak resident set.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")

# status-store StageData getter -> per-layer metric it sums into
_STAGE_FIELDS = {
    "numTasks": "sched.tasks",
    "numFailedTasks": "sched.failed_tasks",
    "executorRunTime": "exec.run_s",
    "executorCpuTime": "exec.cpu_s",
    "jvmGcTime": "exec.gc_s",
    "inputBytes": "io.input_bytes",
    "outputBytes": "io.output_bytes",
    "shuffleReadBytes": "shuffle.read_bytes",
    "shuffleWriteBytes": "shuffle.write_bytes",
    "diskBytesSpilled": "spill.disk_bytes",
    "memoryBytesSpilled": "spill.mem_bytes",
}
# unit conversions: run and GC time are milliseconds, CPU time nanoseconds
_SCALE = {"exec.run_s": 1e-3, "exec.gc_s": 1e-3, "exec.cpu_s": 1e-9}


def group_jobs(sc, group: str) -> list[int]:
    """Ids of the jobs Spark has registered under ``group`` so far."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def group_totals(sc, group: str) -> dict[str, float]:
    """Scheduler and executor totals over every stage that ran in
    ``group``'s jobs. Skipped stages never ran and are left out."""
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    jobs = group_jobs(sc, group)
    stage_ids = set()
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    tot = dict.fromkeys(_STAGE_FIELDS.values(), 0.0)
    tot["sched.jobs"] = float(len(jobs))
    tot["sched.stages"] = 0.0
    for sid in stage_ids:
        try:
            stage = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 - py4j raises for a stage never attempted
            continue
        if stage.status().toString() == "SKIPPED":
            continue
        tot["sched.stages"] += 1
        for getter, name in _STAGE_FIELDS.items():
            tot[name] += getattr(stage, getter)() * _SCALE.get(name, 1)
    return tot


def _proc_stat(pid: int) -> tuple[int, list[int]]:
    """(parent pid, [utime, stime, cutime, cstime] in clock ticks)."""
    with open(f"/proc/{pid}/stat") as fh:
        raw = fh.read()
    fields = raw[raw.rindex(")") + 2 :].split()
    return int(fields[1]), [int(x) for x in fields[11:15]]


def jvm_pid(sc) -> int:
    """Pid of the driver JVM that the py4j gateway launched."""
    return sc._gateway.proc.pid


def process_cpu(root: int) -> tuple[float, float]:
    """CPU seconds (user + sys) of ``root`` itself and of every process
    below it, live or already reaped. Python workers run under the JVM, so
    for the JVM this is (JVM, Python workers)."""
    stats = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                stats[int(entry)] = _proc_stat(int(entry))
            except (OSError, ValueError):
                continue  # exited while we listed /proc
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    if root not in stats:
        return 0.0, 0.0
    own = sum(stats[root][1][:2]) / _TICK
    below = sum(stats[root][1][2:]) / _TICK  # reaped children
    todo = list(children.get(root, []))
    while todo:
        pid = todo.pop()
        below += sum(stats[pid][1]) / _TICK
        todo.extend(children.get(pid, []))
    return own, below


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0

