"""Run the benchmark over several seeds and write a record.

    python3 perfbench/record.py --out perfbench/RECORD_4core.json

Three phases, each over every workload in turn: a first set of ``RUNS``
untraced runs on seeds 1..RUNS, then ``TRACED_RUNS`` traced runs on seeds
1..TRACED_RUNS, then a second set of ``RUNS`` untraced runs on the same
seeds. For each end-to-end metric the record holds, per set, the median and
the quartile spread ((q3 - q1) / median, quartiles from
``statistics.quantiles(n=4)``), and the ratio of the second set's median to
the first's: two sets of the same code agree when that ratio stays within the
metric's bound. It also holds the median of each per-layer metric over the
traced runs under ``<workload>.<layer>.<metric>`` names, and the tracing
overhead (median traced ``trace.wall_s`` minus the median untraced
``wall_s`` over both sets).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workloads as W  # noqa: E402

RUNS = 10
# Host speed drifts by several percent between runs, so one traced run
# against the untraced median can misstate the tracing overhead by more than
# the tracer costs; the median of three traced runs does not.
TRACED_RUNS = 3


def bench(workload: str, seed: int, trace: int, seconds: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=True,
    )
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2].split(" ", 1)[1]), json.loads(lines[-1])


def collect(workload: str, runs: int, trace: int, seconds: int) -> tuple[dict, dict]:
    """The last run's info line, and each metric's values over ``runs``
    runs on seeds 1..runs; stops at the first run with a failed operation."""
    values: dict[str, list[float]] = {}
    for seed in range(1, runs + 1):
        info, res = bench(workload, seed, trace, seconds)
        if not res["correct"]:
            raise SystemExit(f"{workload} seed {seed} trace {trace}: {info['failures']}")
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        if not trace:
            print(workload, seed, {k: round(v[-1], 3) for k, v in values.items()}, flush=True)
    return info, values


def summary(values: list[float]) -> dict:
    med = statistics.median(values)
    q = statistics.quantiles(values, n=4)
    return {"median": med, "spread": (q[2] - q[0]) / med, "values": values}


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--out", default=os.path.join(HERE, "RECORD_4core.json"))
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        seconds = json.load(fh)["run_seconds"]
    first = {w: collect(w, RUNS, 0, seconds)[1] for w in W.WORKLOADS}
    traced = {w: collect(w, TRACED_RUNS, 1, seconds) for w in W.WORKLOADS}
    second = {w: collect(w, RUNS, 0, seconds)[1] for w in W.WORKLOADS}
    record: dict = {"runs": RUNS, "sets": 2, "seconds": seconds, "workloads": {}}
    for w in W.WORKLOADS:
        info, layer_values = traced[w]
        end_to_end = {}
        for name in first[w]:
            sets = [summary(first[w][name]), summary(second[w][name])]
            end_to_end[name] = {
                "sets": sets,
                "median_ratio": sets[1]["median"] / sets[0]["median"],
            }
        layer = {f"{w}.{k}": statistics.median(vs) for k, vs in layer_values.items()}
        untraced_wall = statistics.median(first[w]["wall_s"] + second[w]["wall_s"])
        record["workloads"][w] = {
            "environment": {k: info[k] for k in ("cores", "master", "spark", "java", "python")},
            "attempted": info["attempted"],
            "failed": info["failed"],
            "traced_runs": TRACED_RUNS,
            "end_to_end": end_to_end,
            "per_layer": layer,
            "trace_overhead_s": layer[f"{w}.trace.wall_s"] - untraced_wall,
        }
        print(w, {k: [round(s["spread"], 4) for s in v["sets"]] + [round(v["median_ratio"], 4)]
                  for k, v in end_to_end.items()}, flush=True)
    with open(args.out, "w") as fh:
        json.dump(record, fh, indent=1)
        fh.write("\n")


if __name__ == "__main__":
    main()
