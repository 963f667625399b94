"""Cold-vs-warm per-query probe (r10 verdict item 2).

The driver's single-pass protocol pays each query's FIRST-run cost —
JIT/codegen compile of the generated stages — which for the HOF-heavy
queries is 2-4x the warm time (token_spectral 10.9 s cold vs 3.0 s warm
in r9). This tool measures that axis honestly: each named query runs in
its OWN fresh JVM (so no codegen/JIT state leaks between queries), with
the same warmup the bench does (one pass of event_type_counts), then is
timed twice back-to-back. cold = run 1, warm = run 2, tail = cold - warm.

Usage: python tools/qcold.py [--sf DIR] name [name ...]
Prints one JSON line per query and a summary map. A query whose child
times out or fails gets an {"name", "error"} line and the run goes on.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TIMEOUT_S = 600

_CHILD = r"""
import json, os, sys, time
sys.path.insert(0, {here!r})
from clinical_data_platform_spark.session import get_spark
import __spark_entry__ as E
spark = get_spark("qcold")
spark.sparkContext.setLogLevel("ERROR")
qs = E.queries()
qs["event_type_counts"](spark, {sf!r}).write.format("noop").mode("overwrite").save()
times = []
for _ in range(2):
    t0 = time.time()
    qs[{name!r}](spark, {sf!r}).write.format("noop").mode("overwrite").save()
    times.append(round(time.time() - t0, 3))
print(json.dumps({{"name": {name!r}, "cold": times[0], "warm": times[1],
                   "tail": round(times[0] - times[1], 3)}}), flush=True)
spark.stop()
"""


def probe(name: str, sf: str) -> dict:
    code = _CHILD.format(here=HERE, sf=sf, name=name)
    try:
        out = subprocess.run(
            [sys.executable, "-c", code],
            capture_output=True,
            text=True,
            timeout=TIMEOUT_S,
            cwd=HERE,
        )
    except subprocess.TimeoutExpired:
        return {"name": name, "error": f"timed out after {TIMEOUT_S} s"}
    for line in reversed(out.stdout.strip().splitlines()):
        try:
            return json.loads(line)
        except json.JSONDecodeError:
            continue
    print(out.stderr[-2000:], file=sys.stderr)
    return {"name": name, "error": "child failed"}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args()
    summary = {}
    for name in args.names:
        rec = probe(name, args.sf)
        print(json.dumps(rec), flush=True)
        if "error" not in rec:
            summary[name] = rec
    print(
        json.dumps(
            {
                n: {"cold": r["cold"], "warm": r["warm"], "tail": r["tail"]}
                for n, r in summary.items()
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
