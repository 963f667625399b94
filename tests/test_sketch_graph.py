"""Invariant tests for the late-r3 operators: Count-Min Sketch,
weighted reservoir sampling, PageRank, and ER blocking. (Their exact
value parity vs DuckDB is covered by test_oracle_parity; these pin the
algorithmic properties the oracle can't express.)"""

from __future__ import annotations

import pyspark.sql.functions as F

from clinical_data_platform_spark.plans.graphops import nation_trade_pagerank
from clinical_data_platform_spark.plans.sketches import (
    _CMS_D,
    _CMS_W,
    cms_heavy_hitters,
    hll_distinct_users,
    weighted_reservoir_sample,
)
from clinical_data_platform_spark.plans.textops import er_blocking_part_pairs

SF_DIR = "/root/testdata/sf0.001"


def test_cms_overcount_is_one_sided(spark):
    """Count-Min can only overestimate: estimate >= exact for every term,
    and the overcount column is exactly their difference."""
    rows = cms_heavy_hitters(spark, SF_DIR).collect()
    assert len(rows) == 20
    for r in rows:
        assert r.cms_estimate >= r.exact_cnt, r
        assert r.overcount == r.cms_estimate - r.exact_cnt


def test_cms_error_bound(spark):
    """CMS error bound: overcount <= total token count * e/w holds with
    prob 1 - e^-d per term; at d=4 a blown bound on ANY of 20 heavy
    terms (p ~ 20*e^-4 with slack 2.72 below) means broken bucketing."""
    total = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select(F.explode(F.split(F.trim("text"), r"\s+")).alias("t"))
        .count()
    )
    bound = 2.718281828 * total / _CMS_W
    for r in cms_heavy_hitters(spark, SF_DIR).collect():
        assert r.overcount <= bound, (r, bound)


def test_reservoir_sample_shape_and_keys(spark):
    """Exactly min(k, group size) rows per source; keys in (0, 1]."""
    df = weighted_reservoir_sample(spark, SF_DIR)
    per_source = {
        r.source: r.n
        for r in df.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    sizes = {
        r.source: r.n
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .groupBy("source")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert per_source == {s: min(5, n) for s, n in sizes.items()}
    for r in df.collect():
        assert 0.0 < r.sample_key <= 1.0


def test_reservoir_favors_heavy_docs(spark):
    """A-Res keys u^(1/w) rise with w: the sampled docs' mean n_chars
    must exceed the corpus mean (weights here span ~3 orders)."""
    sampled = weighted_reservoir_sample(spark, SF_DIR).agg(
        F.avg("n_chars")
    ).first()[0]
    overall = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .agg(F.avg("n_chars"))
        .first()[0]
    )
    assert sampled > overall


def test_hll_estimate_accuracy(spark):
    """64-register HLL: relative error ~1.04/sqrt(64) = 13%; assert every
    group lands within 3 sigma (40%) of truth, and estimates are
    positive. (Exact cross-engine value parity is the oracle test.)"""
    for r in hll_distinct_users(spark, SF_DIR).collect():
        assert r.hll_estimate > 0
        rel = abs(r.hll_estimate - r.true_distinct) / r.true_distinct
        assert rel < 0.40, r


def test_pagerank_is_a_distribution(spark):
    """Ranks form a probability distribution: sum 1 (no dangling mass by
    construction), every rank >= the teleport floor (1-d)/N."""
    rows = nation_trade_pagerank(spark, SF_DIR).collect()
    n = len(rows)
    assert n >= 2
    total = sum(r.pagerank for r in rows)
    assert abs(total - 1.0) < 1e-4, total
    floor = 0.15 / n - 1e-6
    for r in rows:
        assert r.pagerank >= floor, r


def test_pagerank_deterministic(spark):
    """Two evaluations produce identical rounded ranks (iteration
    rounding re-synchronizes float sum order)."""
    a = {r.nation: r.pagerank for r in nation_trade_pagerank(spark, SF_DIR).collect()}
    b = {r.nation: r.pagerank for r in nation_trade_pagerank(spark, SF_DIR).collect()}
    assert a == b


def test_er_blocking_pairs_are_verified_matches(spark):
    """Every emitted pair shares its block key AND clears the Jaccard
    threshold against a brute-force recompute."""
    pairs = er_blocking_part_pairs(spark, SF_DIR).collect()
    assert pairs  # 2 matches exist at sf0.001
    parts = {
        r.p_partkey: sorted(
            set(f"{r.p_name} {r.p_brand} {r.p_type}".lower().split())
        )
        for r in spark.read.parquet(f"{SF_DIR}/part.parquet").collect()
    }
    for p in pairs:
        ta, tb = parts[p.part_a], parts[p.part_b]
        assert ta[:2] == tb[:2]  # same blocking key
        inter = len(set(ta) & set(tb))
        union = len(set(ta) | set(tb))
        assert inter / union >= 0.75
        assert abs(p.jaccard - (inter * 1e6 // union) / 1e6) < 1e-9


def test_cms_sketches_merge_by_addition(spark):
    """CMS mergeability: sketch(A) + sketch(B) counter-wise equals
    sketch(A union B) — the property that makes the sketch shardable
    (partial aggregation / cross-datacenter union are counter adds)."""
    import pyspark.sql.functions as F

    from clinical_data_platform_spark.catalog import table as T
    from clinical_data_platform_spark.functions.text import tokens
    from clinical_data_platform_spark.plans.sketches import _bucket

    docs = T(spark, SF_DIR, "documents")

    def sketch(df):
        toks = df.select(F.explode(tokens(F.col("text"))).alias("tok"))
        rows_i = F.array(*[F.lit(i) for i in range(_CMS_D)])
        return {
            (r.i, r.bucket): r.c
            for r in toks.select(F.explode(rows_i).alias("i"), "tok")
            .select("i", _bucket(F.col("tok"), F.col("i")).alias("bucket"))
            .groupBy("i", "bucket")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        }

    a = sketch(docs.filter(F.col("doc_id") % 2 == 0))
    b = sketch(docs.filter(F.col("doc_id") % 2 == 1))
    merged = {k: a.get(k, 0) + b.get(k, 0) for k in set(a) | set(b)}
    assert merged == sketch(docs)


def test_pagerank_matches_numpy_power_iteration(spark):
    """pagerank_frame vs a dense NumPy power iteration with the same
    damping/rounding on a random seeded graph — pins the operator's
    semantics independently of the DuckDB oracle's chained CTEs."""
    import numpy as np

    from clinical_data_platform_spark.plans.graphops import pagerank_frame

    rng = np.random.default_rng(7)
    n = 20
    edges = [
        (int(s), int(d), int(w))
        for s, d, w in zip(
            rng.integers(0, n, 120), rng.integers(0, n, 120),
            rng.integers(1, 9, 120),
        )
    ]
    df = spark.createDataFrame(edges, ["src", "dst", "w"])
    got = {
        r.node: r.r for r in pagerank_frame(df, iters=5, teleport=0.15).collect()
    }

    # NumPy reference with identical semantics
    agg: dict[tuple[int, int], int] = {}
    for s, d, w in edges:
        agg[(s, d)] = agg.get((s, d), 0) + w
    nodes = sorted({s for s, _, _ in edges})
    node_set = set(nodes)
    e = {k: v for k, v in agg.items() if k[1] in node_set}
    wout: dict[int, int] = {}
    for (s, _), w in e.items():
        wout[s] = wout.get(s, 0) + w
    idx = {v: i for i, v in enumerate(nodes)}
    r = np.full(len(nodes), 1.0 / len(nodes))
    for _ in range(5):
        nxt = np.full(len(nodes), 0.0)
        for (s, d), w in e.items():
            if d in idx:
                nxt[idx[d]] += r[idx[s]] * w / wout[s]
        r = np.round(0.15 / len(nodes) + 0.85 * nxt, 12)
    expected = {v: float(r[idx[v]]) for v in nodes}
    assert set(got) == set(expected)
    for k in got:
        assert abs(got[k] - expected[k]) < 1e-9, (k, got[k], expected[k])


def test_hll_registers_merge_by_max(spark):
    """HLL mergeability: max-merging the registers of two disjoint
    halves reproduces the whole corpus's registers exactly — the
    property that makes per-shard sketches unionable without rescans."""
    import pyspark.sql.functions as F

    from clinical_data_platform_spark.catalog import table as T
    from clinical_data_platform_spark.plans.sketches import (
        hll_registers_frame,
    )

    ev = T(spark, SF_DIR, "events")

    def regs(df):
        return {
            (r.event_type, r.bucket): r.rho
            for r in hll_registers_frame(df, "event_type", "user_id").collect()
        }

    a = regs(ev.filter(F.col("event_id") % 2 == 0))
    b = regs(ev.filter(F.col("event_id") % 2 == 1))
    merged = {k: max(a.get(k, 0), b.get(k, 0)) for k in set(a) | set(b)}
    assert merged == regs(ev)


def test_hll_overlap_estimate_sane(spark):
    """Inclusion-exclusion overlap estimates land within 3x the
    single-sketch sigma band of truth (errors of three estimates
    compound) and never exceed the smaller set by a wild margin."""
    from clinical_data_platform_spark.plans.sketches import (
        hll_user_overlap_pairs,
    )

    rows = hll_user_overlap_pairs(spark, SF_DIR).collect()
    assert len(rows) == 10  # C(5,2) event-type pairs
    for r in rows:
        assert r.exact_overlap > 0
        # 3 estimates x 13% sigma; allow a generous compound band
        assert abs(r.hll_overlap_estimate - r.exact_overlap) \
            <= 0.8 * r.exact_overlap + 10, r


def test_ddsketch_bins_merge_by_addition(spark):
    """DDSketch mergeability: summing the bin counts of two disjoint
    halves reproduces the whole corpus's bins exactly — per-shard
    sketches union with one re-agg, no rescan."""
    import pyspark.sql.functions as F

    from clinical_data_platform_spark.catalog import table as T
    from clinical_data_platform_spark.plans.sketches import dds_bins_frame

    d = T(spark, SF_DIR, "documents")

    def bins(df):
        return {
            (r.lang, r.i): r.cnt
            for r in dds_bins_frame(df, "lang", "n_chars").collect()
        }

    a = bins(d.filter(F.col("doc_id") % 2 == 0))
    b = bins(d.filter(F.col("doc_id") % 2 == 1))
    merged = {k: a.get(k, 0) + b.get(k, 0) for k in set(a) | set(b)}
    assert merged == bins(d)


def test_ddsketch_relative_error_bound(spark):
    """The DDSketch guarantee: every reported quantile is within
    relative error alpha (=0.02) of the exact rank-based quantile
    (plus the 4-dp output rounding)."""
    from clinical_data_platform_spark.plans.sketches import (
        _DDS_ALPHA,
        ddsketch_doc_length_quantiles,
    )

    rows = ddsketch_doc_length_quantiles(spark, SF_DIR).collect()
    assert rows and all(r.n_docs > 0 for r in rows)
    for r in rows:
        for p in (50, 90, 99):
            exact = getattr(r, f"p{p}_exact")
            sketch = getattr(r, f"p{p}_sketch")
            assert abs(sketch - exact) <= _DDS_ALPHA * exact + 1e-3, (r, p)


def test_join_size_cms_one_sided_and_exact(spark):
    """CMS inner product over-estimates the true join size (one-sided,
    like the point estimates), and the exact branch matches a pandas
    recount of sum_k count_A(k) * count_B(k)."""
    from clinical_data_platform_spark.plans.sketches import (
        join_size_cms_estimate,
    )

    sf = "/root/testdata/sf0.001"
    r = join_size_cms_estimate(spark, sf).first()
    ev = spark.read.parquet(f"{sf}/events.parquet").toPandas()
    od = spark.read.parquet(f"{sf}/orders.parquet").toPandas()
    ce = ev.groupby("user_id").size()
    co = od.groupby("o_custkey").size()
    expected = int((ce * co).dropna().sum())
    assert r.exact_join_size == expected
    assert r.cms_estimate >= r.exact_join_size  # one-sided overcount
    assert r.rel_overcount >= 0.0


def test_hits_max_normalized_and_deterministic(spark):
    """Max normalization pins both vectors to [0, 1] with at least one
    exact 1.0 in each; two evaluations agree exactly (per-round rounding
    re-synchronizes float sum order, as in PageRank)."""
    from clinical_data_platform_spark.plans.graphops import trade_hits_scores

    rows = trade_hits_scores(spark, SF_DIR).collect()
    assert len(rows) >= 2
    hubs = [r.hub for r in rows]
    auths = [r.authority for r in rows]
    assert max(hubs) == 1.0 and max(auths) == 1.0
    assert all(0.0 <= v <= 1.0 for v in hubs + auths)
    again = {r.nation: (r.hub, r.authority) for r in trade_hits_scores(spark, SF_DIR).collect()}
    assert {r.nation: (r.hub, r.authority) for r in rows} == again


def test_hits_tracks_brute_force(spark):
    """The distributed a/h rounds match a driver-side numpy power
    iteration on the same weighted adjacency matrix."""
    import numpy as np

    from clinical_data_platform_spark.plans.graphops import trade_hits_scores

    rows = trade_hits_scores(spark, SF_DIR).collect()
    l = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select("l_orderkey", "l_suppkey")
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet").select("o_orderkey", "o_custkey")
    s = spark.read.parquet(f"{SF_DIR}/supplier.parquet").select("s_suppkey", "s_nationkey")
    c = spark.read.parquet(f"{SF_DIR}/customer.parquet").select("c_custkey", "c_nationkey")
    n = spark.read.parquet(f"{SF_DIR}/nation.parquet").select("n_nationkey", "n_name")
    edges = (
        l.join(s, l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n.withColumnRenamed("n_name", "src"), F.col("s_nationkey") == F.col("n_nationkey"))
        .drop("n_nationkey")
        .join(n.withColumnRenamed("n_name", "dst"), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("src", "dst")
        .count()
        .collect()
    )
    names = sorted({e.src for e in edges} | {e.dst for e in edges})
    idx = {nm: i for i, nm in enumerate(names)}
    W = np.zeros((len(names), len(names)))
    for e in edges:
        W[idx[e.src], idx[e.dst]] = e["count"]
    h = np.ones(len(names))
    for _ in range(5):
        a = np.round(W.T @ h / (W.T @ h).max(), 12)
        h = np.round(W @ a / (W @ a).max(), 12)
    got = {r.nation: (r.hub, r.authority) for r in rows}
    for nm in names:
        assert abs(got[nm][0] - round(h[idx[nm]], 6)) < 2e-6, nm
        assert abs(got[nm][1] - round(a[idx[nm]], 6)) < 2e-6, nm
