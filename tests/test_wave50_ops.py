"""Wave-50 plan: spectral centrality of the PPMI co-occurrence graph —
independent numpy power-iteration recount beyond the DuckDB value oracle."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import pandas as pd

SF = "/root/testdata/sf0.001"


def _raw_edges():
    """Symmetrized PPMI edge ROWS as production builds them: each passing
    (a, b) emits (a, b, w) and (b, a, w), so a pair whose two directions
    both pass appears twice (parallel edges, not summed)."""
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    uni = Counter()
    bg = Counter()
    for r in docs.itertuples():
        ws = r.text.strip().split()
        uni.update(ws)
        for a, b in zip(ws, ws[1:]):
            if a != b:
                bg[(a, b)] += 1
    total1 = sum(uni.values())
    total2 = sum(bg.values())
    edges = {}
    for (a, b), c in bg.items():
        if c < 5:
            continue
        pmi = math.log(
            (c / total2) / ((uni[a] / total1) * (uni[b] / total1))
        )
        if pmi > 0:
            edges[(a, b)] = round(pmi, 9)
    return [r for (a, b), w in edges.items() for r in ((a, b, w), (b, a, w))]


def _edges():
    # both directions can independently pass the filter; the symmetrized
    # multigraph SUMS parallel edges (the join+agg does), so accumulate
    sym = defaultdict(float)
    for a, b, w in _raw_edges():
        sym[(a, b)] += w
    return dict(sym)


def _spec_distributed_top20(spark, erows):
    import pyspark.sql.functions as F

    from clinical_data_platform_spark.plans.collocations import (
        _spec_power_distributed,
    )

    e = spark.createDataFrame(erows, "w1 string, w2 string, ppmi double")
    nodes = e.select(F.col("w1").alias("node")).distinct().localCheckpoint()
    v = _spec_power_distributed(e.localCheckpoint(), nodes)
    return [
        (r.token, r.loading)
        for r in v.select(
            F.col("node").alias("token"), F.round("v", 6).alias("loading")
        )
        .orderBy(F.desc("loading"), F.asc("token"))
        .limit(20)
        .collect()
    ]


def test_spectral_recount(spark):
    from clinical_data_platform_spark.plans.collocations import (
        _SPEC_ITERS,
        token_spectral_centrality,
    )

    got = token_spectral_centrality(spark, SF).collect()
    assert len(got) == 20
    sym = _edges()
    nodes = sorted({a for a, _ in sym})
    v = {n: 1.0 for n in nodes}
    for _ in range(_SPEC_ITERS):
        raw = {n: 0.0 for n in nodes}
        for (a, b), w in sym.items():
            raw[a] += w * v[b]
        mx = max(raw.values())
        v = {n: round(raw[n] / mx, 12) for n in nodes}
    want = sorted(
        ((n, round(v[n], 6)) for n in nodes), key=lambda t: (-t[1], t[0])
    )[:20]
    for g, w in zip(got, want):
        assert g.token == w[0], (g, w)
        assert abs(g.loading - w[1]) < 2e-6


def test_spectral_driver_and_distributed_paths_agree(spark):
    """The size-gated driver replay and the distributed mat-vec loop
    must produce identical top-20 rows on the same edge table (r10; the
    bpe/pagerank/markov gate discipline). Uses the sf0.001 PPMI edges
    with parallel edges pre-summed; the un-summed rows are the next
    test."""
    from clinical_data_platform_spark.plans.collocations import (
        _spec_power_driver,
    )

    sym = _edges()  # {(a, b): w} — symmetrized, parallel edges pre-summed
    erows = [(a, b, w) for (a, b), w in sym.items()]
    assert _spec_distributed_top20(spark, erows) == _spec_power_driver(erows)


def test_spectral_paths_agree_on_unsummed_parallel_edges(spark):
    """The edge rows token_spectral_centrality feeds both paths are NOT
    pre-summed: a pair whose two directions pass the PPMI filter arrives
    as two parallel rows, which the driver replay must accumulate exactly
    as the distributed join+agg sums them."""
    from clinical_data_platform_spark.plans.collocations import (
        _spec_power_driver,
    )

    erows = _raw_edges()
    assert len(erows) > len({(a, b) for a, b, _ in erows})  # has parallels
    assert _spec_distributed_top20(spark, erows) == _spec_power_driver(erows)


def test_spectral_loadings_in_unit_interval(spark):
    from clinical_data_platform_spark.plans.collocations import (
        token_spectral_centrality,
    )

    rows = token_spectral_centrality(spark, SF).collect()
    assert rows[0].loading == 1.0  # max-normalized
    assert all(0.0 <= r.loading <= 1.0 for r in rows)
    # descending order with deterministic tie-break
    pairs = [(r.loading, r.token) for r in rows]
    assert pairs == sorted(pairs, key=lambda t: (-t[0], t[1]))
