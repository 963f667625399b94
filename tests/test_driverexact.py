"""functions/driverexact.driver_rows, the one size gate between a driver
replay and a distributed loop: its boundary, and every gated query
oracle-exact with the gate forced to the distributed branch (the default
branch is covered by test_oracle_parity)."""

from __future__ import annotations

import pytest
from __spark_entry__ import SF_SMOKE_DIR as SF_DIR

from clinical_data_platform_spark.functions import driverexact
from clinical_data_platform_spark.plans import all_oracles, all_queries

from .helpers import assert_frames_match

GATED = [
    "nation_trade_pagerank",
    "textrank_keywords",
    "near_dup_clusters",
    "dup_cluster_canonical_docs",
    "bpe_train_merges",
    "token_spectral_centrality",
    "event_markov_stationary",
]


def test_driver_rows_boundary(spark):
    df = spark.createDataFrame(
        [(i, None if i == 0 else 83 * i) for i in range(5)],
        "k bigint, v bigint",
    )
    cp, tbl = driverexact.driver_rows(df, 5)
    assert tbl.num_rows == 5
    got = sorted(tbl.to_pylist(), key=lambda r: r["k"])
    # a NULL bigint stays None and the others stay ints (no float cast)
    assert got[0] == {"k": 0, "v": None}
    assert got[1]["v"] == 83 and isinstance(got[1]["v"], int)

    cp, tbl = driverexact.driver_rows(df, 4)
    assert tbl is None
    assert cp.count() == 5  # the distributed branch reads the checkpoint

    _, tbl = driverexact.driver_rows(df.limit(0), 3)
    assert tbl.num_rows == 0 and tbl.column_names == ["k", "v"]


@pytest.mark.parametrize("name", GATED)
def test_gated_query_matches_oracle_on_distributed_branch(
    name, spark, corpus_duck, force_distributed
):
    sdf = all_queries()[name](spark, SF_DIR)
    odf = corpus_duck.execute(all_oracles()[name]).fetchdf()
    assert_frames_match(sdf, odf, float_dp=6, context=name)
    assert "distributed" in force_distributed
