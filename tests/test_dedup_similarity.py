"""Dedup + similarity operator tests: MinHash-LSH recall vs exact Jaccard,
SimHash Hamming proximity for near-dups, LSH-ANN recall vs brute force."""

from __future__ import annotations

import pyspark.sql.functions as F

from clinical_data_platform_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash64,
)
from clinical_data_platform_spark.operators.similarity import (
    brute_force_topk,
    knn_join,
    lsh_topk,
)

BASE = "the quick brown fox jumps over the lazy dog and runs far away today"


def _docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),                                 # exact dup of 0
        (2, BASE.replace("lazy", "sleepy")),       # near dup of 0
        (3, "completely different text about spark sql engines and shuffles"),
        (4, "another unrelated document mentioning parquet files and arrow"),
        (5, BASE + " with a small suffix added"),  # near dup of 0
    ]
    return spark.createDataFrame(rows, "doc_id BIGINT, text STRING")


def test_exact_dedup(spark):
    d = exact_dedup(_docs(spark), "doc_id", "text").toPandas()
    dup_group = d[d.n_copies > 1]
    assert len(dup_group) == 1
    assert dup_group.iloc[0].keep_id == 0 and dup_group.iloc[0].n_copies == 2


def test_minhash_recall_vs_exact_jaccard(spark):
    docs = _docs(spark)
    exact = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    exact_pairs = {(r.id_a, r.id_b) for r in exact.collect()}
    assert (0, 1) in exact_pairs  # identical docs
    cand = minhash_lsh_candidates(docs, "doc_id", "text", n=3, num_hashes=32, bands=16)
    cand_pairs = {(r.id_a, r.id_b) for r in cand.collect()}
    # banded LSH must recall every high-jaccard pair (16 bands x 2 rows)
    assert exact_pairs <= cand_pairs


def test_simhash_near_dups_close(spark):
    sh = {r.doc_id: r.simhash for r in simhash64(_docs(spark), "doc_id", "text").collect()}
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert ham(sh[0], sh[1]) == 0           # identical
    assert ham(sh[0], sh[2]) <= 12          # near dup
    assert ham(sh[0], sh[3]) > 12           # unrelated


def _embeddings(spark, n=200, dim=16):
    # deterministic pseudo-random embeddings
    import math
    rows = []
    for i in range(n):
        v = [math.sin(0.1 * i * (j + 1)) + 0.01 * j for j in range(dim)]
        rows.append((i, v))
    return spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")


def test_brute_force_and_lsh_topk(spark):
    emb = _embeddings(spark)
    q = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    others = emb.filter(F.col("vec_id") != 0)
    exact = [r.vec_id for r in brute_force_topk(others, q, k=10).collect()]
    assert len(exact) == 10
    approx = [r.vec_id for r in lsh_topk(others, q, dim=16, k=10, bits=4).collect()]
    # LSH with 4 bits keeps ~1/16 of vectors; recall is partial but the
    # returned neighbors must be drawn from the exact ranking's tail or
    # better — assert non-empty overlap plus correct ordering by cosine.
    assert len(approx) > 0
    assert len(set(approx) & set(exact)) >= 1


def test_knn_join(spark):
    emb = _embeddings(spark, n=60)
    queries = emb.limit(3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = knn_join(emb, queries, k=5).toPandas()
    assert set(out.groupby("query_id").size()) == {5}
    # each query's own vector ranks first (cosine 1 with itself)
    top1 = out[out["rank"] == 1]
    assert all(top1.query_id == top1.vec_id)


def test_knn_join_refuses_unbroadcastable_queries(spark):
    """Scale guard: beyond max_query_rows the broadcast-nested-loop would
    silently cartesian, so knn_join must raise and point at LSH/IVF."""
    import pytest

    emb = _embeddings(spark, n=60)
    queries = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    with pytest.raises(ValueError, match="LSH"):
        knn_join(emb, queries, k=5, max_query_rows=10)
    # at exactly the cap it still runs
    assert knn_join(emb, queries.limit(10), k=1, max_query_rows=10).count() == 10


def test_ivf_recall_vs_brute_force(spark):
    from clinical_data_platform_spark.operators.ivf import build_ivf_index

    emb = _embeddings(spark, n=300, dim=16)
    q = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    others = emb.filter(F.col("vec_id") != 0)
    exact = [r.vec_id for r in brute_force_topk(others, q, k=10).collect()]
    index = build_ivf_index(others, k_clusters=8)
    # probing ALL clusters must recover the exact result (sanity)
    full = [r.vec_id for r in index.search(q, k=10, nprobe=8).collect()]
    assert full == exact
    # probing half the clusters keeps decent recall
    half = [r.vec_id for r in index.search(q, k=10, nprobe=4).collect()]
    assert len(set(half) & set(exact)) >= 5


def test_jaccard_inverted_equals_join_impl(spark):
    from clinical_data_platform_spark.operators.dedup import (
        ngram_jaccard_pairs_inverted,
    )

    docs = _docs(spark)
    a = sorted(
        map(tuple, ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.1).collect())
    )
    b = sorted(
        map(
            tuple,
            ngram_jaccard_pairs_inverted(docs, "doc_id", "text", threshold=0.1).collect(),
        )
    )
    assert a == b and len(a) > 0


def test_connected_components_shapes(spark):
    from clinical_data_platform_spark.operators.dedup import connected_components

    # chain 1-2-3-4, star 10-(11,12,13), singleton edge 20-21
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (10, 13), (20, 21)],
        "id_a BIGINT, id_b BIGINT",
    )
    comp = {r.node: r.component for r in connected_components(pairs).collect()}
    assert {comp[i] for i in (1, 2, 3, 4)} == {1}
    assert {comp[i] for i in (10, 11, 12, 13)} == {10}
    assert comp[20] == comp[21] == 20


def test_connected_components_paths_agree(spark, request):
    """connected_components is size-adaptive since r9: below the
    _CC_LOCAL_MAX_PAIRS gate it solves the pair graph with driver-side
    union-find, above it the distributed min-label loop runs. Both must
    produce the identical (node, component=min reachable) table — pin
    them against each other on a graph with a long chain (diameter
    stresses the loop's convergence), a star, overlapping cliques, and
    an isolated edge; plus schema and empty-input contracts."""
    from clinical_data_platform_spark.operators.dedup import (
        connected_components,
    )

    chain = [(i, i + 1) for i in range(30, 40)]
    pairs = spark.createDataFrame(
        chain + [(1, 2), (2, 3), (10, 11), (10, 12), (11, 12), (20, 21)],
        "id_a BIGINT, id_b BIGINT",
    )
    local = {
        (r.node, r.component)
        for r in connected_components(pairs).collect()
    }
    branches = request.getfixturevalue("force_distributed")
    dist = {
        (r.node, r.component) for r in connected_components(pairs).collect()
    }
    assert branches == ["distributed"]
    assert local == dist and len(local) == 19
    assert {c for n, c in local if n >= 30} == {30}

    empty = connected_components(pairs.limit(0))
    assert empty.count() == 0
    assert [f.dataType.simpleString() for f in empty.schema.fields] == [
        "bigint",
        "bigint",
    ]


def test_banded_near_dup_recall_vs_exhaustive(spark):
    """The registered embedding_near_dup_pairs plan is banded sign-LSH
    (equi-join on (band, bucket)); the exhaustive crossJoin is demoted to
    this recall oracle. Candidates must be a subset of the true pairs
    (precision 1 — the cosine filter is exact) with recall >= 0.9, and on
    the shipped testdata the strongest pairs (cos > 0.6) must all survive."""
    from clinical_data_platform_spark.plans.vectorops import (
        embedding_near_dup_pairs,
        embedding_near_dup_pairs_exhaustive,
    )

    sf = "/root/testdata/sf0.001"
    exact = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_near_dup_pairs_exhaustive(spark, sf).collect()
    }
    banded = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_near_dup_pairs(spark, sf).collect()
    }
    assert set(banded) <= set(exact)  # precision 1.0
    assert len(banded) >= 0.9 * len(exact)  # recall floor
    strong = {p for p, c in exact.items() if c > 0.6}
    assert strong <= set(banded)


def test_contrastive_negatives_reject_same_label_and_are_reproducible(spark):
    """Negative sampling never emits a same-label pair, draws at most
    k=4 candidates per anchor, and is fully deterministic (md5-derived
    uniforms, no rand()) — two runs return identical aggregates."""
    from clinical_data_platform_spark.plans.vectorops import (
        _NEG_K,
        contrastive_negative_pairs,
    )

    sf = "/root/testdata/sf0.001"
    rows = sorted(
        contrastive_negative_pairs(spark, sf).collect(),
        key=lambda r: (r.a_label, r.b_label),
    )
    assert rows
    assert all(r.a_label != r.b_label for r in rows)
    n_vectors = 500
    assert sum(r.n_pairs for r in rows) <= n_vectors * _NEG_K
    again = sorted(
        contrastive_negative_pairs(spark, sf).collect(),
        key=lambda r: (r.a_label, r.b_label),
    )
    assert rows == again


def test_ppjoin_prefix_prunes_candidates_losslessly(spark):
    """Prefix filtering must (a) shrink the candidate set well below the
    full inverted-index pair expansion and (b) lose no true pair —
    verified results equal the exhaustive operator's at the same
    threshold. (Driver-side, the DuckDB oracle for ppjoin_near_dup_pairs
    runs the exhaustive join, re-proving (b) value-exactly.)"""
    import pyspark.sql.functions as F

    from clinical_data_platform_spark.catalog import table as T
    from clinical_data_platform_spark.operators.dedup import (
        _ppjoin_candidates,
        _ppjoin_doc_table,
        ngram_jaccard_pairs,
        ppjoin_jaccard_pairs,
        shingle_table,
    )

    sf = "/root/testdata/sf0.001"
    d = T(spark, sf, "documents")
    docs = _ppjoin_doc_table(d, "doc_id", "text", 3)
    n_pref = _ppjoin_candidates(docs, "doc_id", 0.3).count()
    sh = shingle_table(d, "doc_id", "text", 3)
    n_full = (
        sh.select(F.col("doc_id").alias("a"), "shingle")
        .join(sh.select(F.col("doc_id").alias("b"), "shingle"), "shingle")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
        .count()
    )
    assert n_pref < 0.5 * n_full, (n_pref, n_full)
    got = {
        (r.id_a, r.id_b, r.n_common, r.jaccard)
        for r in ppjoin_jaccard_pairs(
            d, "doc_id", "text", n=3, threshold=0.3
        ).collect()
    }
    expect = {
        (r.id_a, r.id_b, r.n_common, r.jaccard)
        for r in ngram_jaccard_pairs(
            d, "doc_id", "text", n=3, threshold=0.3
        ).collect()
    }
    assert got == expect and got


def test_containment_dominates_jaccard_and_is_directed(spark):
    """For every detected pair, containment >= the pair's Jaccard (the
    min-size denominator can only grow the ratio), the contained side is
    never larger than the container, and n_common never exceeds the
    contained set."""
    from clinical_data_platform_spark.catalog import table as T
    from clinical_data_platform_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    sf = "/root/testdata/sf0.001"
    d = T(spark, sf, "documents")
    cont = containment_pairs(d, "doc_id", "text", n=3, threshold=0.5).collect()
    assert cont
    jacc = {
        (min(r.id_a, r.id_b), max(r.id_a, r.id_b)): r.jaccard
        for r in ngram_jaccard_pairs(
            d, "doc_id", "text", n=3, threshold=0.01
        ).collect()
    }
    for r in cont:
        assert r.size_contained <= r.size_container, r
        assert r.n_common <= r.size_contained, r
        key = (
            min(r.id_contained, r.id_container),
            max(r.id_contained, r.id_container),
        )
        assert r.containment >= jacc[key] - 1e-6, (r, jacc[key])


def _brute_pair_counts(elems, cap):
    """{(id_a, id_b): n_common} over keys held by 2..cap ids."""
    from collections import Counter, defaultdict

    holders = defaultdict(list)
    for i, k in elems:
        holders[k].append(i)
    pairs = Counter()
    for ids in holders.values():
        if 2 <= len(ids) <= cap:
            ids = sorted(ids)
            for x in range(len(ids)):
                for y in ids[x + 1:]:
                    pairs[(ids[x], y)] += 1
    return pairs


def test_posting_pair_counts_cap_binds_at_exactly_the_cap(spark, monkeypatch):
    """Both sides of the posting cap against a pure-Python brute force:
    a key held by exactly POSTING_DF_CAP ids contributes all of its
    C(cap, 2) pairs, a key held by POSTING_DF_CAP + 1 ids and a key held
    by one id contribute none. Raising the cap by one lets the over-cap
    key through, with the same brute force at the raised cap."""
    from clinical_data_platform_spark.operators import dedup

    cap = dedup.POSTING_DF_CAP
    elems = (
        [(0, "solo")]
        + [(i, "at_cap") for i in range(cap)]
        + [(i, "over_cap") for i in range(cap + 1)]
    )
    df = spark.createDataFrame(elems, "id BIGINT, key STRING")

    def got():
        pdf = dedup.posting_pair_counts(df, "id", "key").toPandas()
        return dict(zip(zip(pdf.id_a, pdf.id_b), pdf.n_common))

    capped = got()
    assert capped == _brute_pair_counts(elems, cap)
    assert len(capped) == cap * (cap - 1) // 2 == 499_500
    assert set(capped.values()) == {1}

    monkeypatch.setattr(dedup, "POSTING_DF_CAP", cap + 1)
    raised = got()
    assert raised == _brute_pair_counts(elems, cap + 1)
    assert len(raised) == (cap + 1) * cap // 2
    assert set(raised.values()) == {1, 2}


def test_df_cap_is_inert_on_shipped_corpus(spark, monkeypatch):
    """The registered dedup queries run with POSTING_DF_CAP ON (the 100 TB
    quadratic-blowup guard). On the shipped corpus the max shingle
    document-frequency is far below the cap, so cap-on must equal
    cap-off exactly — pinning that the guard changes nothing at test
    scale while the oracle mirror keeps the check value-exact."""
    from clinical_data_platform_spark.catalog import table as T
    from clinical_data_platform_spark.operators import dedup

    sf = "/root/testdata/sf0.001"
    d = T(spark, sf, "documents")
    max_df = (
        dedup.shingle_table(d, "doc_id", "text", 3)
        .groupBy("shingle")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert max_df < dedup.POSTING_DF_CAP, (
        f"corpus max shingle df {max_df} reached the cap"
    )

    key = lambda r: (r.id_a, r.id_b)  # noqa: E731
    ckey = lambda r: (r.id_contained, r.id_container)  # noqa: E731

    def run():
        jac = dedup.ngram_jaccard_pairs_inverted(
            d, "doc_id", "text", n=3, threshold=0.05
        )
        con = dedup.containment_pairs(d, "doc_id", "text", n=3, threshold=0.8)
        return sorted(jac.collect(), key=key), sorted(con.collect(), key=ckey)

    on, con_on = run()
    monkeypatch.setattr(dedup, "POSTING_DF_CAP", 2**31 - 1)
    off, con_off = run()
    assert on == off and on
    assert con_on == con_off and con_on


def test_t80_production_banding_prunes_and_recalls(spark):
    """The production-threshold (tau=0.8) banding must do what its
    registration claims: prune >=99% of all pairs on the shipped corpus,
    and recall EVERY injected near-identical duplicate (the SemDeDup
    use case: true near-dups sit at cos ~1 where per-plane collision
    probability -> 1, so all 16 bands collide barring a near-zero
    projection flip, and one band suffices)."""
    import numpy as np

    from clinical_data_platform_spark.plans.vectorops import (
        _T80_TAU,
        _t80_candidates,
    )

    sf = "/root/testdata/sf0.001"
    e = spark.read.parquet(f"{sf}/embeddings.parquet")
    base_rows = e.select("vec_id", "embedding").collect()
    n_base = len(base_rows)

    # prune >= 99% on the base corpus (no pair exceeds cos 0.51 here,
    # so every candidate is banding "noise" — the audit's prune_ratio)
    cand_base = {
        (r.id_a, r.id_b) for r in _t80_candidates(e).collect()
    }
    total = n_base * (n_base - 1) // 2
    assert len(cand_base) <= 0.01 * total, (len(cand_base), total)

    # inject 10 near-identical duplicates: copy of an existing vector
    # with one dimension nudged by 1e-4 (cos > 0.999999)
    rng = np.random.default_rng(7)
    injected = []
    expect_pairs = set()
    for i in range(10):
        src = base_rows[int(rng.integers(0, n_base))]
        vec = [float(x) for x in src.embedding]
        vec[int(rng.integers(0, len(vec)))] += 1e-4
        new_id = 100000 + i
        injected.append((new_id, vec))
        expect_pairs.add((int(src.vec_id), new_id))
    aug = e.select("vec_id", "embedding").unionByName(
        spark.createDataFrame(
            injected, "vec_id BIGINT, embedding ARRAY<FLOAT>"
        )
    )
    cand_aug = {(r.id_a, r.id_b) for r in _t80_candidates(aug).collect()}
    missing = expect_pairs - cand_aug
    assert not missing, f"injected near-dups not recalled: {missing}"


def test_multi_table_lsh_beats_single_table(spark):
    """lsh_topk_multi's union-of-buckets must (a) return only true
    vectors with exact cosines (precision of the ranking stage) and
    (b) recall at least as much of the true top-10 as one table alone —
    on this corpus one 6-bit bucket recalls 0 of 10 (no pair above
    cos 0.51, membership ~ a 1/64 random sample), 16 tables recall >=5,
    which is what the registered recall band asserts."""
    from clinical_data_platform_spark.operators.similarity import (
        brute_force_topk,
        lsh_topk,
        lsh_topk_multi,
    )

    sf = "/root/testdata/sf0.001"
    e = spark.read.parquet(f"{sf}/embeddings.parquet").filter(
        F.col("vec_id") != 0
    )
    qvec = [
        float(x)
        for x in spark.read.parquet(f"{sf}/embeddings.parquet")
        .filter(F.col("vec_id") == 0)
        .select("embedding")
        .first()[0]
    ]
    exact = {r.vec_id for r in brute_force_topk(e, qvec, k=10).collect()}
    single = {r.vec_id for r in lsh_topk(e, qvec, dim=64, k=10, bits=6).collect()}
    multi_rows = lsh_topk_multi(e, qvec, dim=64, k=10, bits=6, n_tables=16).collect()
    multi = {r.vec_id for r in multi_rows}
    assert len(multi & exact) >= max(5, len(single & exact))
    # every returned cosine is the true cosine (ranking stage is exact)
    truth = {
        r.vec_id: r.cosine
        for r in brute_force_topk(e, qvec, k=len(e.collect())).collect()
    }
    for r in multi_rows:
        assert abs(r.cosine - truth[r.vec_id]) < 1e-9
