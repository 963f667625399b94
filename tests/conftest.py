from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from clinical_data_platform_spark.session import get_spark  # noqa: E402

N_SUBJECTS = 200


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[8]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def silver(spark):
    """Deterministic synthetic SDTM silver tables (cached as pandas for
    DuckDB registration too)."""
    from clinical_data_platform_spark.clinical.synthetic import generate_all

    dfs = generate_all(spark, n_subjects=N_SUBJECTS, seed=42)
    return {k: v.cache() for k, v in dfs.items()}


@pytest.fixture(scope="session")
def duck(silver):
    """DuckDB connection with the same silver tables registered as views
    (the oracle side)."""
    con = duckdb.connect()
    for name, df in silver.items():
        pdf = df.toPandas()
        con.register(f"pdf_{name.lower()}", pdf)
        con.execute(f"CREATE VIEW {name.lower()} AS SELECT * FROM pdf_{name.lower()}")
    return con


@pytest.fixture(scope="session")
def corpus_duck():
    """DuckDB over the sf0.001 corpus tables (the registered oracles'
    side)."""
    from __spark_entry__ import SF_SMOKE_DIR

    from clinical_data_platform_spark.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_SMOKE_DIR}/{t}.parquet')"
        )
    return con


@pytest.fixture
def force_distributed(monkeypatch):
    """Send every size-gated driver replay down its distributed branch:
    ``driverexact.driver_rows`` sees bound 0, so only an empty input
    still replays on the driver. Returns the branch each gate took, in
    call order ("driver" or "distributed")."""
    from clinical_data_platform_spark.functions import driverexact

    real = driverexact.driver_rows
    branches: list[str] = []

    def forced(df, max_rows):
        cp, tbl = real(df, 0)
        branches.append("driver" if tbl is not None else "distributed")
        return cp, tbl

    monkeypatch.setattr(driverexact, "driver_rows", forced)
    return branches
