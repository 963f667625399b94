"""Spark vs DuckDB head-to-head on every oracled query.

The reference's executor IS DuckDB, so this is the literal
"matches-or-beats the reference's single-node throughput" measurement
(BASELINE.md): run each driver query on Spark (observability.profile_query,
noop sink) and its oracle SQL on DuckDB (materialized fetch) at the same
scale factor. A Spark query that raises is reported on stderr and left out
of the serial table.

Two measurements, both reported:

- serial per-query wall-clock: each query alone, parquet re-read each
  time — dominated on the Spark side by the fixed per-job scheduling
  floor (~0.2-0.4 s at this data size);
- batched suite wall-clock: the whole suite submitted through a thread
  pool against cached scans on BOTH engines (Spark: .cache()'d tables +
  concurrent job submission so scheduling floors overlap; DuckDB: one
  cursor per thread over the same process). This is the throughput
  number — how fast either engine clears the workload when it is allowed
  to pipeline, which is how a real analytics service runs a query mix.

Since r9 the run brackets BOTH phases with fixed-work calibration probes
on BOTH engines (bench.py's jvm/scan pair for Spark, plus a DuckDB CPU
probe and the same lineitem-scan aggregate through DuckDB), emitted as a
"calib" block. The r6->r8 serial ratio drifted 0.83 -> 1.00 with no way
to tell Spark-slower from DuckDB-faster from host drift (r8 verdict
"What's wrong" #1); with per-engine probes the attribution is a
division: if duck_scan sped up while spark scan held, DuckDB's side of
the ratio moved, not ours.

Usage: python tools/bench_compare.py [sf_dir] [threads] -> JSON + table.
"""

from __future__ import annotations

import json
import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import duckdb

sys.path.insert(0, ".")

from bench import _calibrate, min_time  # noqa: E402


def _calibrate_duck(sf_dir: str) -> dict[str, float]:
    """DuckDB twin of bench.py's _calibrate: a fixed-work CPU probe
    (Knuth-hash fold over range, mod-reduced to stay in int64) and the
    same lineitem end-to-end scan aggregate, min-of-3 after one untimed
    warmup each, on a fresh connection so no suite state is cached."""
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    cpu_sql = (
        "SELECT sum((i * 2654435761) % 1000000007) "
        "FROM range(100000000) t(i)"
    )
    scan_sql = (
        "SELECT count(*), sum(l_extendedprice), sum(l_quantity) "
        f"FROM read_parquet('{os.path.join(sf_dir, 'lineitem.parquet')}')"
    )
    duck = {
        "cpu_sec": min_time(lambda: con.execute(cpu_sql).fetchall()),
        "scan_sec": min_time(lambda: con.execute(scan_sql).fetchall()),
    }
    con.close()
    return duck


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    threads = int(sys.argv[2]) if len(sys.argv) > 2 else 8

    import __spark_entry__ as E
    from clinical_data_platform_spark import catalog
    from clinical_data_platform_spark.observability import profile_query
    from clinical_data_platform_spark.session import get_spark

    spark = get_spark("bench-compare")
    spark.sparkContext.setLogLevel("ERROR")

    def connect() -> duckdb.DuckDBPyConnection:
        c = duckdb.connect()
        for t in catalog.TABLES:
            c.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        return c

    con = connect()

    qs, oracles = E.queries(), E.oracle_sql()
    names = [n for n in oracles if not n.startswith("stream_")]
    # streaming runtime isn't comparable to a SQL fetch -> excluded

    def run_spark(name: str) -> dict:
        rec = profile_query(spark, name, lambda: qs[name](spark, sf_dir))
        if "error" in rec:
            print(f"FAIL {name}: {rec['error']}", file=sys.stderr, flush=True)
        return rec

    # warmup both engines
    run_spark("event_type_counts")
    con.execute(oracles["event_type_counts"]).fetchall()

    calib_pre_spark = _calibrate(spark, sf_dir)
    calib_pre_duck = _calibrate_duck(sf_dir)

    # --- serial per-query ---------------------------------------------------
    rows = []
    for name in names:
        print(f"serial {name}", file=sys.stderr, flush=True)
        rec = run_spark(name)
        t0 = time.perf_counter()
        con.execute(oracles[name]).fetchall()
        t_duck = time.perf_counter() - t0
        if "error" not in rec:
            rows.append((name, rec["wall_s"], round(t_duck, 3)))

    # --- batched suite (cached scans + concurrent submission) ---------------
    catalog.enable_scan_cache(True)
    for t in catalog.TABLES:  # materialize caches once, off the clock
        catalog.table(spark, sf_dir, t).count()

    # One INDEPENDENT connection per worker thread: cursors of a shared
    # connection contend on its lock/memory budget, and the 8-cursor
    # batched phase livelocked for >1 h on a mix that runs in ~4 min
    # serially (observed on the full 290-oracle suite; per-connection
    # workers finish normally).
    import threading

    _tls = threading.local()

    def _duck() -> duckdb.DuckDBPyConnection:
        if not hasattr(_tls, "con"):
            _tls.con = connect()
        return _tls.con

    def run_duck(name: str) -> None:
        print(f"batch-duck {name}", file=sys.stderr, flush=True)
        _duck().execute(oracles[name]).fetchall()

    t0 = time.perf_counter()
    with ThreadPoolExecutor(max_workers=threads) as pool:
        list(pool.map(run_spark, names))
    batched_spark = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    with ThreadPoolExecutor(max_workers=threads) as pool:
        list(pool.map(run_duck, names))
    batched_duck = round(time.perf_counter() - t0, 2)
    catalog.enable_scan_cache(False)

    calib_post_spark = _calibrate(spark, sf_dir)
    calib_post_duck = _calibrate_duck(sf_dir)
    calib = {
        "spark_jvm_pre": calib_pre_spark["jvm_sec"],
        "spark_scan_pre": calib_pre_spark["scan_sec"],
        "duck_cpu_pre": calib_pre_duck["cpu_sec"],
        "duck_scan_pre": calib_pre_duck["scan_sec"],
        "spark_jvm_post": calib_post_spark["jvm_sec"],
        "spark_scan_post": calib_post_spark["scan_sec"],
        "duck_cpu_post": calib_post_duck["cpu_sec"],
        "duck_scan_post": calib_post_duck["scan_sec"],
    }

    total_s = round(sum(r[1] for r in rows), 2)
    total_d = round(sum(r[2] for r in rows), 2)
    wins = sum(1 for r in rows if r[1] <= r[2])
    print(f"{'query':40s} {'spark_s':>8s} {'duckdb_s':>9s}")
    for name, s, d in sorted(rows, key=lambda r: r[1] - r[2]):
        print(f"{name:40s} {s:8.3f} {d:9.3f}")
    print(
        json.dumps(
            {
                "metric": "spark-vs-duckdb wall-clock",
                "sf_dir": sf_dir,
                "n_queries": len(rows),
                "spark_total_s": total_s,
                "duckdb_total_s": total_d,
                "spark_batched_s": batched_spark,
                "duckdb_batched_s": batched_duck,
                "batch_threads": threads,
                "spark_wins": wins,
                "calib": calib,
                "queries": {r[0]: {"spark": r[1], "duckdb": r[2]} for r in rows},
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
