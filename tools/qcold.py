"""Cold-vs-warm per-query probe (r10 verdict item 2).

The driver's single-pass protocol pays each query's FIRST-run cost —
JIT/codegen compile of the generated stages — which for the HOF-heavy
queries is 2-4x the warm time (token_spectral 10.9 s cold vs 3.0 s warm
in r9). This tool measures that axis honestly: each named query runs in
its OWN fresh JVM (so no codegen/JIT state leaks between queries), with
the same warmup the bench does (one pass of event_type_counts), then is
profiled twice back-to-back by observability.profile_query. cold = run 1,
warm = run 2, tail = cold - warm.

Usage: python tools/qcold.py [--sf DIR] name [name ...]
Prints one JSON line per query (the profile record plus cold/warm/tail)
and a summary map. A query whose child raises, times out or fails gets a
line with "error" and the run goes on.
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
import json, sys
sys.path.insert(0, {here!r})
from clinical_data_platform_spark.observability import profile_query
from clinical_data_platform_spark.session import get_spark
import __spark_entry__ as E
spark = get_spark("qcold")
spark.sparkContext.setLogLevel("ERROR")
qs = E.queries()
profile_query(spark, "warmup", lambda: qs["event_type_counts"](spark, {sf!r}))
rec = profile_query(spark, {name!r}, lambda: qs[{name!r}](spark, {sf!r}), repeat=2)
if "error" not in rec:
    cold, warm = rec["runs"]
    rec.update(cold=cold, warm=warm, tail=round(cold - warm, 3))
print(json.dumps(rec), flush=True)
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
            summary[name] = {k: rec[k] for k in ("cold", "warm", "tail")}
    print(json.dumps(summary), flush=True)


if __name__ == "__main__":
    main()
