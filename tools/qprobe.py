"""Per-query optimization probe (r9): isolated timing + layer records.

Usage: python tools/qprobe.py [--sf DIR] [--n N] name [name ...]

For each named registered query: runs it N times through
observability.profile_query (noop sink, warm JVM, one warmup pass of
event_type_counts first) and prints its record as one JSON line: per-run
wall seconds, the minimum, builder seconds and jobs, and the
jobs/stages/tasks and executor, shuffle and spill totals of the fastest
run — the job count is the direct measure of the driver/scheduling floor
the optimization guide's §7.3 talks about. An unknown or failing query
gets its error record and the run goes on. Ends with a compact
{name: {"min", "jobs"}} summary map.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--n", type=int, default=2)
    args = ap.parse_args()

    from clinical_data_platform_spark.observability import profile_query
    from clinical_data_platform_spark.session import get_spark

    import __spark_entry__ as E

    spark = get_spark("qprobe")
    spark.sparkContext.setLogLevel("ERROR")
    qs = E.queries()
    # warm the JVM / codegen / parquet footer caches
    profile_query(spark, "warmup", lambda: qs["event_type_counts"](spark, args.sf))

    out: dict[str, dict] = {}
    for name in args.names:
        rec = profile_query(spark, name, lambda: qs[name](spark, args.sf), args.n)
        print(json.dumps(rec), flush=True)
        if "error" not in rec:
            out[name] = {"min": rec["wall_s"], "jobs": rec["sched.jobs"]}
    print(json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
