"""Wave-67 invariant tests: distance correlation, generalized ESD,
Huber location, BLEU pair scoring, absorbing-chain visits."""

from __future__ import annotations

SF = "/root/testdata/sf0.001"


def test_distance_correlation_bounds(spark):
    from clinical_data_platform_spark.plans.stats import (
        distance_correlation_daily,
    )

    r = distance_correlation_daily(spark, SF).collect()[0]
    assert r.n_days > 100
    assert 0.0 <= r.dcor <= 1.0
    assert -1.0 <= r.pearson_r <= 1.0
    # dCor >= |Pearson| does NOT hold in general, but dCor of genuinely
    # dependent volume/revenue series must clear zero
    assert r.dcor > 0.0


def test_distance_correlation_matches_numpy(spark):
    """Pin the V-statistic identity against the textbook double-centered
    matrix computation in numpy."""
    import numpy as np

    from clinical_data_platform_spark.catalog import table as T
    from clinical_data_platform_spark.plans.stats import (
        distance_correlation_daily,
    )
    import pyspark.sql.functions as F

    o = T(spark, SF, "orders").select("o_orderdate", "o_totalprice")
    day = (
        o.groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("x"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                    "long"
                )
            ).alias("y"),
        )
        .collect()
    )
    x = np.array([r.x for r in day], dtype=float)
    y = np.array([r.y for r in day], dtype=float)

    def vsq(u, v):
        a = np.abs(u[:, None] - u[None, :])
        b = np.abs(v[:, None] - v[None, :])
        A = a - a.mean(0)[None, :] - a.mean(1)[:, None] + a.mean()
        B = b - b.mean(0)[None, :] - b.mean(1)[:, None] + b.mean()
        return (A * B).mean()

    ref = np.sqrt(vsq(x, y) / np.sqrt(vsq(x, x) * vsq(y, y)))
    got = distance_correlation_daily(spark, SF).collect()[0].dcor
    assert abs(got - ref) < 1e-4


def test_generalized_esd_rounds(spark):
    from clinical_data_platform_spark.plans.stats import (
        generalized_esd_outliers,
    )

    rows = sorted(
        generalized_esd_outliers(spark, SF).collect(), key=lambda r: r.round
    )
    assert [r.round for r in rows] == [1, 2, 3, 4, 5]
    days = [r.day for r in rows]
    assert len(set(days)) == 5  # each round removes a different day
    ns = [r.n_used for r in rows]
    assert all(ns[i] - 1 == ns[i + 1] for i in range(4))  # one deletion/round
    for r in rows:
        assert r.r_stat > 0.0
        assert r.flagged == (r.r_stat > 3.5)


def test_huber_shrinks_toward_bulk(spark):
    from clinical_data_platform_spark.plans.stats import huber_robust_location

    rows = huber_robust_location(spark, SF).collect()
    assert len(rows) == 5
    for r in rows:
        assert r.n > 0
        assert 0.0 < r.mean_weight <= 1.0
        # the robust center stays inside the data's convex hull proxy:
        # within 3 naive sds is a generous sanity envelope
        assert abs(r.shift_dollars) < 3 * r.mean_dollars
        assert abs(r.huber_dollars - (r.mean_dollars + r.shift_dollars)) < 0.02


def test_bleu_pairs_bounds(spark):
    from clinical_data_platform_spark.plans.textops import bleu_near_dup_pairs

    rows = bleu_near_dup_pairs(spark, SF).collect()
    assert rows
    assert len(rows) <= 20
    bs = [r.bleu2 for r in rows]
    assert bs == sorted(bs, reverse=True)
    for r in rows:
        assert r.id_a < r.id_b
        assert 0.0 <= r.p1 <= 1.0  # clipped precision is a true precision
        assert 0.0 <= r.p2 <= 1.0
        assert 0.0 <= r.bleu2 <= 1.0
        # BLEU-2 <= geometric mean of the precisions (BP <= 1)
        if r.p1 > 0 and r.p2 > 0:
            assert r.bleu2 <= (r.p1 * r.p2) ** 0.5 + 1e-5


def test_absorbing_visits_structure(spark):
    from clinical_data_platform_spark.plans.events import (
        absorbing_markov_visits,
    )

    rows = absorbing_markov_visits(spark, SF).collect()
    starts = {r.start_state for r in rows}
    targets = {r.target_state for r in rows}
    assert "purchase" not in starts and "purchase" not in targets
    by_start = {}
    for r in rows:
        assert r.expected_visits >= 0.0
        assert 0.0 <= r.truncation_tail < 1.0  # mass leaks to purchase
        by_start.setdefault(r.start_state, {})[r.target_state] = (
            r.expected_visits
        )
    for s, vs in by_start.items():
        # the chain starts at s: >= 1 visit to itself, and the truncated
        # series can only undercount
        assert vs[s] >= 1.0


def test_absorbing_visits_refuses_oversized_transition_table(spark, monkeypatch):
    import pytest

    from clinical_data_platform_spark.plans import events

    monkeypatch.setattr(events, "_MKV_MAX_CELLS", 1)
    with pytest.raises(ValueError, match="more than 1 cells"):
        events.absorbing_markov_visits(spark, SF)
