"""Host-derived defaults and per-item failure handling of the bench tools:
the local master's core count, the bench scripts' base-SF parse, and
qcold's per-query timeout."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from clinical_data_platform_spark import session


def test_get_spark_defaults_to_host_cores(monkeypatch):
    """With SPARK_GRAFT_CPUS unset the master is local[<host cores>] and
    the shuffle fan-out matches it."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    confs = {}

    class Builder:
        def appName(self, name):
            return self

        def master(self, master):
            confs["master"] = master
            return self

        def config(self, key, value):
            confs[key] = value
            return self

        def getOrCreate(self):
            return confs

    class FakeSparkSession:
        builder = Builder()

    monkeypatch.setattr(session, "SparkSession", FakeSparkSession)
    cores = len(os.sched_getaffinity(0))
    got = session.get_spark("host-default")
    assert got["master"] == f"local[{cores}]"
    assert got["spark.sql.shuffle.partitions"] == str(cores)


def test_bench_base_sf_parse():
    import bench
    import bench_scale

    assert bench_scale.base_sf is bench.base_sf  # one parser for both
    assert bench.base_sf("/data/sf0.1") == 0.1
    assert bench.base_sf("/data/sf10/") == 10.0
    assert bench.base_sf("/data/corpus_x") == 0.1


def test_qcold_timeout_is_a_per_query_error(monkeypatch, capsys):
    from tools import qcold

    def fake_run(cmd, **kwargs):
        if "'slow_query'" in cmd[-1]:
            raise subprocess.TimeoutExpired(cmd, kwargs["timeout"])
        rec = {"name": "fast_query", "cold": 2.0, "warm": 1.5, "tail": 0.5}
        return subprocess.CompletedProcess(cmd, 0, json.dumps(rec) + "\n", "")

    monkeypatch.setattr(qcold.subprocess, "run", fake_run)
    monkeypatch.setattr(sys, "argv", ["qcold.py", "slow_query", "fast_query"])
    qcold.main()
    lines = [json.loads(x) for x in capsys.readouterr().out.splitlines()]
    assert lines[0] == {
        "name": "slow_query",
        "error": f"timed out after {qcold.TIMEOUT_S} s",
    }
    assert lines[1]["name"] == "fast_query"
    assert lines[-1] == {"fast_query": {"cold": 2.0, "warm": 1.5, "tail": 0.5}}
