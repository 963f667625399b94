"""Repository benchmark: one workload per run, every output verified.

    python3 perfbench/run.py --workload core50 --seed 1 --seconds 30 --trace 0

Workloads (see perfbench/README.md for why each exists):

* ``core50``: the frozen 50-query regression subset on the committed sf0.01
  tables; the seed sets the query order.
* ``dedup_scale``: 12 corpus-dedup queries on the sf0.01 corpus replicated
  4x; the seed sets the query order. It is recorded but not gated.
* ``clinical_pipeline``: ``clinical.pipeline.run_demo`` on 20,000 seeded
  synthetic subjects, writing every medallion stage.

A run is one closed loop: one client runs the workload's operations in
sequence in one process on ``local[<host cores>]``. It first sets up (JVM
and session start, input preparation, one small warm-up query), then runs
exactly one pass over the workload in that fresh JVM: the cost a batch user
pays, JIT warm-up included. The sizes are chosen so that one pass takes
about ``--seconds``; the flag is recorded, not used to repeat passes. The
last stdout line is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
operations also report per-layer numbers read from Spark's status store and
``/proc`` (see ``layers.py``). The line before it records the environment,
the seed and any failures.

``--smoke`` runs the small sizes the benchmark's own tests use.
``--refresh-expected`` recomputes ``expected.json`` with the DuckDB oracles.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import layers  # noqa: E402
import workloads as W  # noqa: E402

# The warm-up bench.py uses: one small query outside both query workloads.
WARMUP_QUERY = "event_type_counts"
CLINICAL_STAGES = (
    "generate", "validate", "bronze", "silver", "star", "marts", "analytics", "ml", "dashboard",
)


def metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """Names and units of the end-to-end and per-layer metrics, as
    BENCHMARK.json lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return tuple({m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer"))


def program_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")) and os.path.isdir(
        os.path.join(ROOT, "clinical_data_platform_spark")
    )


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(work: str) -> None:
    """Host cores, and every scratch file of Spark, the JVM and Python
    inside this run's own directory."""
    local, tmp = os.path.join(work, "spark-local"), os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(host_cores())
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(
        ["--driver-java-options", f"-Djava.io.tmpdir={tmp}", "pyspark-shell"]
    )


def remove_work(work: str) -> None:
    """Delete a run's scratch directory, and its parent once empty."""
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:
        pass  # missing, or another run still uses it


def p80(values: list[float]) -> float:
    """80th percentile, interpolated between order statistics; with a
    core50 pass's 50 samples, 10 lie beyond it."""
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=5, method="inclusive")[3]


class Run:
    def __init__(self, args, work: str) -> None:
        self.args = args
        self.work = work
        self.size = W.SIZES[args.workload]["smoke" if args.smoke else "full"]
        self.expected = W.load_expected(args.expected).get(f"{args.workload}@{self.size}")
        self.end_to_end, self.per_layer = metric_units()
        self.layer = dict.fromkeys(self.per_layer, 0.0)
        self.latencies: list[tuple[str, float]] = []  # (operation, seconds)
        self.failures: list[str] = []
        self.attempted = 0
        self.trace_self = 0.0
        self.spark = None

    # -- set-up --------------------------------------------------------------

    def start(self) -> None:
        from clinical_data_platform_spark.session import get_spark

        import __spark_entry__ as E

        t = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.layer["session.start_s"] = time.perf_counter() - t
        self.session_s = time.perf_counter() - T_PROCESS
        self.queries = E.queries()

    def prepare(self) -> None:
        """Input preparation, then the warm-up query. Set-up time runs from
        process start to here."""
        if self.args.workload == "dedup_scale":
            self.data = os.path.join(self.work, "inputs")
            W.replicate_corpus(self.data, self.size)
        else:
            self.data = W.BASE_DIR
        self.queries[WARMUP_QUERY](self.spark, self.data).write.format("noop").mode(
            "overwrite"
        ).save()
        self.setup_s = time.perf_counter() - T_PROCESS

    # -- timed work ------------------------------------------------------------

    def traced(self, fn):
        """Run a tracer read outside the timed segments, charging its time
        to trace.self_s."""
        t = time.perf_counter()
        out = fn()
        self.trace_self += time.perf_counter() - t
        return out

    def run_query(self, group: str, name: str) -> float:
        """One query, forced and collected; returns its latency."""
        sc = self.spark.sparkContext
        fn = self.queries[name]
        if not self.args.trace:
            t = time.perf_counter()
            pdf = fn(self.spark, self.data).toPandas()
            latency = time.perf_counter() - t
        else:
            t = time.perf_counter()
            df = fn(self.spark, self.data)
            builder = time.perf_counter() - t
            jobs = self.traced(lambda: len(layers.group_jobs(sc, group)))
            t = time.perf_counter()
            df._jdf.queryExecution().executedPlan()
            plan = time.perf_counter() - t
            t = time.perf_counter()
            pdf = df.toPandas()
            latency = builder + plan + time.perf_counter() - t
            self.layer["plans.builder_s"] += builder
            self.layer["plans.builder_jobs"] += jobs
            self.layer["catalyst.plan_s"] += plan
        problem = W.check_query(pdf, self.expected[name])
        if problem:
            self.failures.append(f"{name}: {problem}")
        return latency

    def run_pipeline(self) -> float:
        from clinical_data_platform_spark.clinical.pipeline import run_demo

        workdir = os.path.join(self.work, "demo")
        t = time.perf_counter()
        report = run_demo(self.spark, workdir, n_subjects=self.size, seed=self.args.seed)
        latency = time.perf_counter() - t
        marks = [0.0] + [report["stages"][s] for s in CLINICAL_STAGES]
        for s, a, b in zip(CLINICAL_STAGES, marks, marks[1:]):
            self.layer[f"clinical.{s}_s"] += b - a
        for problem in W.check_pipeline(workdir):
            self.failures.append(f"run_demo: {problem}")
        shutil.rmtree(workdir, ignore_errors=True)
        return latency

    def one_pass(self) -> float:
        """Run every operation once; returns the pass's wall time, which
        excludes output checking but includes tracer reads."""
        sc = self.spark.sparkContext
        if self.args.workload == "clinical_pipeline":
            ops = ["run_demo"]
        else:
            ops = W.query_names(self.args.workload, self.args.seed)
        wall = 0.0
        for i, name in enumerate(ops):
            group = f"perfbench-{i}"
            sc.setJobGroup(group, name)
            self.attempted += 1
            failures = len(self.failures)
            t = time.perf_counter()
            try:
                if name == "run_demo":
                    latency = self.run_pipeline()
                else:
                    latency = self.run_query(group, name)
                self.latencies.append((name, latency))
            except Exception:  # noqa: BLE001 - a failure is per operation
                last = traceback.format_exc().strip().splitlines()[-1]
                self.failures.append(f"{name}: raised {last}")
                latency = time.perf_counter() - t
            if len(self.failures) > failures:
                print(f"FAIL {self.failures[-1]}", file=sys.stderr)
            wall += latency
            if self.args.trace:
                totals = self.traced(lambda: layers.group_totals(sc, group))
                for key, value in totals.items():
                    self.layer[key] += value
        self.layer["trace.self_s"] = self.trace_self
        return wall + self.trace_self

    def measure(self) -> None:
        jvm = layers.jvm_pid(self.spark.sparkContext)
        own0, below0 = layers.process_cpu(jvm)
        self.wall_s = self.one_pass()
        own1, below1 = layers.process_cpu(jvm)
        self.cpu_s = own1 - own0 + below1 - below0
        self.layer["python.cpu_s"] = below1 - below0
        self.layer["jvm.peak_rss_mb"] = layers.peak_rss_mb(jvm)

    # -- report ----------------------------------------------------------------

    def metrics(self) -> dict:
        lat = [t for _, t in self.latencies] or [self.wall_s]
        if not self.args.trace:
            values = {
                "setup_s": self.setup_s,
                "wall_s": self.wall_s,
                "cpu_s": self.cpu_s,
                "query_p50_s": statistics.median(lat),
                "query_p80_s": p80(lat),
            }
            units = self.end_to_end
        else:
            values = dict(self.layer)
            values["exec.cpu_util"] = self.layer["exec.cpu_s"] / (self.wall_s * host_cores())
            values["trace.wall_s"] = self.wall_s
            units = self.per_layer
        return {k: {"value": values[k], "unit": u} for k, u in units.items()}

    def info(self) -> dict:
        sc = self.spark.sparkContext
        return {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "seconds": self.args.seconds,
            "trace": self.args.trace,
            "size": self.size,
            "cores": host_cores(),
            "master": sc.master,
            "spark": self.spark.version,
            "java": sc._jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(),
            "wall_s": round(self.wall_s, 4),
            "session_start_s": round(self.session_s, 4),
            "attempted": self.attempted,
            "failed": len(self.failures),
            "fail_frac": len(self.failures) / self.attempted,
            "failures": self.failures,
            "latencies_s": [[n, round(t, 4)] for n, t in self.latencies],
        }

    def stop(self) -> None:
        """Stop Spark, then close the JVM's stdin (the gateway exits on EOF)
        and wait for it."""
        if self.spark is None:
            return
        proc = self.spark.sparkContext._gateway.proc
        self.spark.stop()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def refresh_expected(path: str) -> None:
    """Recompute every expected query signature with the DuckDB oracles
    over the same inputs the runs prepare."""
    import duckdb

    import __spark_entry__ as E
    from clinical_data_platform_spark.catalog import TABLES

    oracles = E.oracle_sql()
    out: dict = {}
    tmp = os.path.join(ROOT, ".perfbench_work", f"refresh-{os.getpid()}")
    try:
        for workload in ("core50", "dedup_scale"):
            names = W.CORE50 if workload == "core50" else W.DEDUP12
            for size in sorted(set(W.SIZES[workload].values())):
                data = os.path.join(tmp, f"{workload}@{size}")
                W.replicate_corpus(data, size)
                con = duckdb.connect()
                for t in TABLES:
                    con.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')"
                    )
                out[f"{workload}@{size}"] = {
                    n: W.result_signature(con.execute(oracles[n]).fetchdf()) for n in names
                }
                con.close()
                print(f"{workload}@{size}: {len(names)} signatures", file=sys.stderr)
    finally:
        remove_work(tmp)
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=W.WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=30.0,
                   help="the run length the sizes are chosen for; recorded only")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="small inputs, for the tests")
    p.add_argument("--expected", default=W.EXPECTED_PATH, help="expected query signatures")
    p.add_argument("--refresh-expected", action="store_true")
    args = p.parse_args(argv)
    if not args.refresh_expected and not args.workload:
        p.error("--workload is required")
    return args


def main(argv=None) -> int:
    args = parse_args(argv)
    if not program_present():
        print("perfbench: the program (__spark_entry__.py, clinical_data_platform_spark/) "
              f"is not in {ROOT}", file=sys.stderr)
        return 2
    if args.refresh_expected:
        refresh_expected(args.expected)
        return 0
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    run = Run(args, work)
    try:
        pin_environment(work)
        run.start()
        run.prepare()
        run.measure()
        info, metrics = run.info(), run.metrics()
    finally:
        run.stop()
        remove_work(work)
    print("perfbench-info " + json.dumps(info))
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
