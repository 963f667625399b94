"""Dense linear-algebra plans over the embeddings table.

Two operators an embedding-heavy training pipeline runs constantly:

- ``embedding_covariance_matrix`` — the distributed covariance/PCA
  building block: per-partition gram partials (X^T X, column sums,
  count — a few KiB each regardless of partition row count) combined by
  one tiny groupBy. The eigen-decomposition of the resulting 64x64
  matrix (whitening, PCA projection, spectral diagnostics) is driver
  math on 2k numbers; the distributed part — the only part that touches
  the 100 TB — is value-verified against DuckDB's exhaustive
  unnest-self-join computation of the same matrix.

- ``jl_projection_distortion`` — Johnson–Lindenstrauss random sign
  projection (Achlioptas 2003): 64 -> 16 dims via a +-1/sqrt(16) sign
  matrix derived deterministically from md5, then a per-pair audit of
  how well squared distances survive. The projection matrix is a
  broadcast CONSTANT (Spark sees literal arrays; constant-folded into
  the row expression), which is exactly how a JL/ANN-compression pass
  ships R to 1000 executors; the oracle re-derives every sign from the
  same md5 bytes in DuckDB, proving the cross-engine determinism of the
  whole construction.
"""

from __future__ import annotations

import hashlib

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..catalog import table as T
from ..operators.linalg import covariance_long
from .registry import query

_DIM = 64
_JL_DIM = 16
_JL_SCALE = 0.25  # 1 / sqrt(_JL_DIM)


@query(
    "embedding_covariance_matrix",
    oracle=f"""
    WITH x AS (
      SELECT vec_id, i, CAST(embedding[i + 1] AS DOUBLE) AS v
      FROM embeddings, unnest(range(0, {_DIM})) AS u(i)
    )
    SELECT a.i AS i, b.i AS j,
           round(sum(a.v * b.v) / count(*)
                 - (sum(a.v) / count(*)) * (sum(b.v) / count(*)), 7) AS cov
    FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
    GROUP BY 1, 2
    """,
)
def embedding_covariance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population covariance of the 64-dim embedding column, upper
    triangle as (i, j, cov) rows, via per-partition gram partials
    (operators/linalg.py). The oracle computes the identical matrix the
    quadratic way — exploding to (vec, dim) rows and self-joining — so
    the hash match proves the one-pass partial-aggregation plan.

    At 100 TB: the partial pass reads each vector once and shuffles
    ~2 KiB per partition; nothing downstream scales with row count.
    The float-sum order differs across engines (BLAS partials vs
    sequential), hence the 7 dp rounding on both sides."""
    e = T(spark, sf_dir, "embeddings")
    return covariance_long(e, "embedding", _DIM).select(
        F.col("i").cast("long").alias("i"),
        F.col("j").cast("long").alias("j"),
        F.round("cov", 7).alias("cov"),
    )


def jl_sign_matrix(out_dim: int = _JL_DIM, in_dim: int = _DIM) -> list[list[float]]:
    """Deterministic +-1/sqrt(out_dim) sign matrix: the sign of R[k][i]
    is the parity of the first hex digit of md5("k|i") — reproducible
    from any engine or language that can hash bytes."""
    rows = []
    for k in range(out_dim):
        row = []
        for i in range(in_dim):
            digit = int(hashlib.md5(f"{k}|{i}".encode()).hexdigest()[0], 16)
            row.append(_JL_SCALE if digit % 2 == 0 else -_JL_SCALE)
        rows.append(row)
    return rows


_JL_SGN_SQL = (
    "(CASE WHEN (strpos('0123456789abcdef',"
    " substr(md5(CAST(k AS VARCHAR) || '|' || CAST(i AS VARCHAR)), 1, 1))"
    f" - 1) % 2 = 0 THEN {_JL_SCALE}::DOUBLE ELSE -{_JL_SCALE}::DOUBLE END)"
)


@query(
    "jl_projection_distortion",
    oracle=f"""
    WITH p AS (
      SELECT vec_id,
             embedding,
             list_transform(range(0, {_JL_DIM}), k ->
               list_sum(list_transform(range(0, {_DIM}), i ->
                 {_JL_SGN_SQL} * CAST(embedding[i + 1] AS DOUBLE)))) AS y
      FROM embeddings
    )
    SELECT CAST(a.vec_id // 2 AS BIGINT) AS pair_id,
           round(list_sum(list_transform(range(1, {_DIM} + 1), i ->
             pow(CAST(a.embedding[i] AS DOUBLE)
                 - CAST(b.embedding[i] AS DOUBLE), 2))), 6) AS d2_orig,
           round(list_sum(list_transform(range(1, {_JL_DIM} + 1), k ->
             pow(a.y[k] - b.y[k], 2))), 6) AS d2_proj,
           round(list_sum(list_transform(range(1, {_JL_DIM} + 1), k ->
             pow(a.y[k] - b.y[k], 2)))
             / list_sum(list_transform(range(1, {_DIM} + 1), i ->
                 pow(CAST(a.embedding[i] AS DOUBLE)
                     - CAST(b.embedding[i] AS DOUBLE), 2))), 6) AS ratio
    FROM p a JOIN p b ON b.vec_id = a.vec_id + 1
    WHERE a.vec_id % 2 = 0
    """,
)
def jl_projection_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL sign projection 64 -> 16 with a per-pair distance-distortion
    audit over the deterministic pairing (2t, 2t+1): squared distance
    before, after, and their ratio (JL guarantees the ratio concentrates
    around 1). Projection happens map-side against the literal R; the
    only shuffle is the vec_id+1 self-join building audit pairs.

    Exactly oracled: both engines derive R's signs from the same md5
    bytes and fold the projection in the same index order, so every
    double matches before the defensive 6 dp rounding."""
    r_rows = jl_sign_matrix()

    def project(emb: F.Column) -> F.Column:
        comps = []
        for row in r_rows:
            r_lit = F.array(*[F.lit(v) for v in row])
            comps.append(
                F.aggregate(
                    F.zip_with(r_lit, emb, lambda r, x: r * x.cast("double")),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
            )
        return F.array(*comps)

    e = T(spark, sf_dir, "embeddings")
    p = e.select("vec_id", "embedding", project(F.col("embedding")).alias("y"))
    a = p.filter(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("emb_a"),
        F.col("y").alias("y_a"),
    )
    b = p.select(
        (F.col("vec_id") - 1).alias("id_a"),
        F.col("embedding").alias("emb_b"),
        F.col("y").alias("y_b"),
    )
    d2 = lambda u, v: F.aggregate(  # noqa: E731
        F.zip_with(u, v, lambda x, y: (x.cast("double") - y.cast("double")) ** 2),
        F.lit(0.0),
        lambda acc, w: acc + w,
    )
    joined = a.join(b, "id_a").select(
        (F.col("id_a") / 2).cast("long").alias("pair_id"),
        d2(F.col("emb_a"), F.col("emb_b")).alias("d2_orig_raw"),
        d2(F.col("y_a"), F.col("y_b")).alias("d2_proj_raw"),
    )
    return joined.select(
        "pair_id",
        F.round("d2_orig_raw", 6).alias("d2_orig"),
        F.round("d2_proj_raw", 6).alias("d2_proj"),
        F.round(F.col("d2_proj_raw") / F.col("d2_orig_raw"), 6).alias("ratio"),
    )


# --- Wave 63: dominant principal component by matrix squaring ----------------

_PCA_SQUARINGS = 8  # M^(2^8) = M^256: (lam1/lam2)^256 kills a 1.07 gap


def _pca_sq_sql(k: int) -> str:
    return f"""
    sq{k} AS MATERIALIZED (
      SELECT p.i, q.j,
             cast(sum(cast(floor(p.m * q.m * 1e12) AS BIGINT)) AS BIGINT)
               AS mm
      FROM a{k - 1} p JOIN a{k - 1} q ON q.i = p.j
      GROUP BY p.i, q.j
    ),
    s{k} AS (SELECT max(abs(mm)) AS s FROM sq{k}),
    a{k} AS MATERIALIZED (
      SELECT sq.i, sq.j, round(sq.mm::DOUBLE / s.s, 12) AS m
      FROM sq{k} sq, s{k} s
    )"""


@query(
    "pca_top_component",
    oracle=(
        f"""
    WITH x AS (
      SELECT vec_id, i, CAST(embedding[i + 1] AS DOUBLE) AS v
      FROM embeddings, unnest(range(0, {_DIM})) AS u(i)
    ),
    ut AS (
      SELECT a.i AS i, b.i AS j,
             round(sum(a.v * b.v) / count(*)
                   - (sum(a.v) / count(*)) * (sum(b.v) / count(*)), 7) AS m
      FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
      GROUP BY 1, 2
    ),
    a0 AS MATERIALIZED (
      SELECT i, j, m FROM ut
      UNION ALL
      SELECT j, i, m FROM ut WHERE i <> j
    ),"""
        + ",".join(_pca_sq_sql(k) for k in range(1, _PCA_SQUARINGS + 1))
        + f""",
    vraw AS (
      SELECT i, cast(sum(cast(floor(m * 1e12) AS BIGINT)) AS BIGINT) AS u
      FROM a{_PCA_SQUARINGS} GROUP BY i
    ),
    vn AS (SELECT max(abs(u)) AS nrm FROM vraw),
    v AS MATERIALIZED (
      SELECT vraw.i AS j, round(vraw.u::DOUBLE / vn.nrm, 12) AS v
      FROM vraw, vn
    ),
    lam AS (
      SELECT max(abs(cast(s AS BIGINT))) AS l FROM (
        SELECT cast(sum(cast(floor(a0.m * v.v * 1e12) AS BIGINT)) AS BIGINT)
          AS s
        FROM a0 JOIN v ON v.j = a0.j GROUP BY a0.i
      )
    )
    SELECT v.j AS component, round(v.v, 6) AS loading,
           round(lam.l / 1e12, 6) AS lambda_inf
    FROM v, lam
    """
    ),
)
def pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal component of the embedding covariance by
    MATRIX SQUARING: 8 normalized squarings give M^256, whose rows all
    collapse onto the top eigenvector — the right power-iteration
    variant for NEAR-ISOTROPIC embedding spectra (this corpus's
    eigen-gap is ~1.07, so plain per-vector power iteration needs ~100
    data-free rounds; 1.07^256 = 3e7 converges in 8). Output: inf-norm
    loadings of the top PC plus lambda_inf = max|M v| (the dominant
    eigenvalue under max|v| = 1). The eigen-kernel on top of
    embedding_covariance_matrix for whitening and rogue-dimension
    screening; the corpus is touched ONCE by the gram partial pass.

    Exactness: both engines iterate on the IDENTICAL 7-dp-rounded
    covariance (the cross-engine contract the base operator proves);
    every matmul term is floored into 1e-12 fixed-point int64 BEFORE
    the 64-term sums (order-free), each squaring renormalizes by the
    integer max and re-syncs at 12 dp. Scale: dim^2/dim^3 driver-
    trivial state at any corpus size."""
    e = T(spark, sf_dir, "embeddings")
    ut = covariance_long(e, "embedding", _DIM).select(
        "i", "j", F.round("cov", 7).alias("m")
    )
    # r9 optimization: the eight squarings live on a dim^2 = 4,096-row
    # state, but the distributed loop ran ~75 Spark jobs of
    # coalesce(1)+localCheckpoint rounds — pure scheduling floor. The
    # 7-dp-rounded covariance (the cross-engine contract the base
    # operator proves) is collected once and the squarings replayed on
    # the driver: every matmul term is floored into 1e-12 fixed-point
    # int64 BEFORE the row sums exactly as the Spark expressions did
    # (dense float64 numpy ops are the same IEEE binary64 multiply/
    # floor; integer sums are exact), each squaring renormalizes by the
    # integer max and re-syncs through the HALF_UP round replica
    # (functions/driverexact.py). Identical trajectory, pinned by the
    # unchanged chained-CTE oracle at all three SFs.
    import numpy as np

    from ..functions.driverexact import jround

    urows = ut.collect()
    dims = sorted({r["i"] for r in urows} | {r["j"] for r in urows})
    nd = len(dims)
    pos = {d: k for k, d in enumerate(dims)}
    a0 = np.zeros((nd, nd), dtype=np.float64)
    for r in urows:
        a0[pos[r["i"]], pos[r["j"]]] = r["m"]
        a0[pos[r["j"]], pos[r["i"]]] = r["m"]

    def _jround_div(num: "np.ndarray", den: float):
        return np.array(
            [jround(float(x) / den, 12) for x in num.ravel()],
            dtype=np.float64,
        ).reshape(num.shape)

    a = a0
    for _ in range(_PCA_SQUARINGS):
        # mm[i,j] = sum_k floor(a[i,k] * a[k,j] * 1e12)  (exact int64)
        prod = a[:, :, None] * a[None, :, :]
        mm = np.floor(prod * 1e12).astype(np.int64).sum(axis=1)
        sc = int(np.abs(mm).max())
        a = _jround_div(mm.astype(np.float64), float(sc))
    u = np.floor(a * 1e12).astype(np.int64).sum(axis=1)
    nrm = int(np.abs(u).max())
    v = np.array(
        [jround(float(x) / float(nrm), 12) for x in u], dtype=np.float64
    )
    lam_rows = np.floor(a0 * v[None, :] * 1e12).astype(np.int64).sum(axis=1)
    lam = int(np.abs(lam_rows).max())
    rows = [
        (int(dims[k]), jround(float(v[k]), 6), jround(lam / 1e12, 6))
        for k in range(nd)
    ]
    return spark.createDataFrame(
        rows, "component int, loading double, lambda_inf double"
    )
