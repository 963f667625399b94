"""Sketch & sampling plans — the probabilistic-summary operators a
100 TB pipeline uses where exact state would not fit:

- ``cms_heavy_hitters``          — Count-Min Sketch (Cormode & Muthukrishnan
  2005) frequency estimation for the corpus's top terms, reported side by
  side with the exact counts so the one-sided overcount error is visible.
- ``weighted_reservoir_sample``  — Efraimidis–Spirakis A-Res weighted
  sampling (keys u^(1/w)) — top-k per source by key, the standard way to
  draw a quality- or length-weighted subsample in one distributed pass.
- ``hll_distinct_users``         — fully-declarative 64-register
  HyperLogLog (Flajolet et al. 2007) with linear-counting correction,
  shown against the exact distinct count.

All are pure JVM expression plans with exact DuckDB oracles: the hash
family is md5 (both engines produce identical digests), hex digits are
folded to integers with the same arithmetic on both sides, and pow() on
identical doubles is bit-stable across the two engines (verified).

At 100 TB:
- the CMS is the point: its state is d x w counters (4 x 1024 here — a
  few KiB) regardless of vocabulary size, built by one hash-keyed
  partial/final aggregation over the token stream; the exact-count branch
  exists only to oracle the estimates and would be dropped at scale.
- A-Res needs one scan + one top-k per group (TakeOrdered inside each
  hash partition then merged); no global sort, no second pass, and the
  reservoir size bounds executor memory.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..catalog import fan_out_scan, table as T
from ..functions.text import tokens
from .registry import query

# --- Count-Min Sketch --------------------------------------------------------

_CMS_D = 4  # hash rows
_CMS_W = 1024  # buckets per row
_TOP_K = 20

# DuckDB: fold the first 6 hex digits of md5 into an integer (< 2^24).
_HEX6_SQL = (
    "list_sum(list_transform(range(1, 7), k ->"
    " (strpos('0123456789abcdef', substr({h}, k, 1)) - 1)"
    " * (1 << (4 * (6 - k)))))"
)


def _bucket(col: F.Column, i: F.Column) -> F.Column:
    """Row-i CMS bucket: first 6 md5 hex digits of 'i|term', mod width."""
    h = F.md5(F.concat(i.cast("string"), F.lit("|"), col))
    return F.conv(F.substring(h, 1, 6), 16, 10).cast("long") % _CMS_W


@query(
    "cms_heavy_hitters",
    oracle=f"""
    WITH tk AS (
      SELECT unnest(list_transform(string_split_regex(trim(text), '\\s+'),
                                   w -> lower(w))) AS tok
      FROM documents
    ),
    exact AS (
      SELECT tok, count(*) AS exact_cnt FROM tk GROUP BY tok
      ORDER BY exact_cnt DESC, tok LIMIT {_TOP_K}
    ),
    b AS (
      SELECT i,
             {_HEX6_SQL.format(h="md5(cast(i AS VARCHAR) || '|' || tok)")}
               % {_CMS_W} AS bucket
      FROM tk, unnest(range(0, {_CMS_D})) AS u(i)
    ),
    sk AS (SELECT i, bucket, count(*) AS c FROM b GROUP BY 1, 2),
    eb AS (
      SELECT e.tok, e.exact_cnt, u.i,
             {_HEX6_SQL.format(
                 h="md5(cast(u.i AS VARCHAR) || '|' || e.tok)")}
               % {_CMS_W} AS bucket
      FROM exact e, unnest(range(0, {_CMS_D})) AS u(i)
    )
    SELECT eb.tok,
           cast(eb.exact_cnt AS BIGINT) AS exact_cnt,
           cast(min(sk.c) AS BIGINT) AS cms_estimate,
           cast(min(sk.c) - eb.exact_cnt AS BIGINT) AS overcount
    FROM eb JOIN sk ON sk.i = eb.i AND sk.bucket = eb.bucket
    GROUP BY eb.tok, eb.exact_cnt
    """,
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min Sketch term-frequency estimates for the exact top-20
    terms, with the guaranteed-one-sided overcount shown per term.

    Plan: one token explode feeds (a) the exact top-k (partial/final agg
    + TakeOrdered — oracle branch only) and (b) the sketch build — a
    4x1024 counter table via groupBy(i, bucket), i.e. constant state
    regardless of vocabulary. The probe joins the 80-row (term, i) side
    against the <=4096-row sketch — both broadcastable; min over rows is
    the CMS point estimate."""
    toks = fan_out_scan(T(spark, sf_dir, "documents")).select(
        F.explode(
            F.transform(tokens(F.col("text")), lambda w: F.lower(w))
        ).alias("tok")
    )
    exact = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), F.asc("tok"))
        .limit(_TOP_K)
    )
    rows_i = F.array(*[F.lit(i) for i in range(_CMS_D)])
    sketch = (
        toks.select(F.explode(rows_i).alias("i"), "tok")
        .select("i", _bucket(F.col("tok"), F.col("i")).alias("bucket"))
        .groupBy("i", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    probe = exact.select(
        "tok", "exact_cnt", F.explode(rows_i).alias("i")
    ).select(
        "tok", "exact_cnt", "i", _bucket(F.col("tok"), F.col("i")).alias("bucket")
    )
    return (
        probe.join(F.broadcast(sketch), ["i", "bucket"])
        .groupBy("tok", "exact_cnt")
        .agg(F.min("c").alias("cms_estimate"))
        .select(
            "tok",
            F.col("exact_cnt").cast("long").alias("exact_cnt"),
            F.col("cms_estimate").cast("long").alias("cms_estimate"),
            (F.col("cms_estimate") - F.col("exact_cnt"))
            .cast("long")
            .alias("overcount"),
        )
    )


# --- Weighted reservoir sampling (A-Res) -------------------------------------

_RES_K = 5  # sample size per source

# DuckDB: fold the first 8 hex digits of md5 into an integer (< 2^32).
_HEX8_SQL = (
    "list_sum(list_transform(range(1, 9), k ->"
    " (strpos('0123456789abcdef', substr({h}, k, 1)) - 1)"
    " * (1::BIGINT << (4 * (8 - k)))))"
)


@query(
    "weighted_reservoir_sample",
    oracle=f"""
    WITH k AS (
      SELECT source, doc_id, n_chars,
             power(({_HEX8_SQL.format(
                 h="md5(cast(doc_id AS VARCHAR))")} + 1) / 4294967297.0,
                   1.0 / greatest(n_chars, 1)) AS key
      FROM documents
    )
    SELECT source, doc_id, cast(n_chars AS BIGINT) AS n_chars,
           round(key, 6) AS sample_key
    FROM (SELECT *, row_number() OVER
            (PARTITION BY source ORDER BY key DESC, doc_id) AS rn
          FROM k)
    WHERE rn <= {_RES_K}
    """,
)
def weighted_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis–Spirakis A-Res: a 5-doc length-weighted sample per
    source. Key = u^(1/w) with u a deterministic md5-derived uniform in
    (0,1] and w = n_chars; taking the top-k keys per group IS an exact
    weighted sample without replacement.

    Plan: narrow projection computing the key, then a per-source top-k
    (rank window over the group — at scale swap the window for the
    per-partition heap TakeOrdered pattern; the reservoir never exceeds
    k rows per group either way). Deterministic u (not rand()) keeps the
    sample reproducible across retries and engines — a property a real
    pipeline wants anyway for lineage."""
    d = T(spark, sf_dir, "documents")
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("double")
        + 1.0
    ) / 4294967297.0
    key = F.pow(u, 1.0 / F.greatest(F.col("n_chars"), F.lit(1)))
    w = Window.partitionBy("source").orderBy(F.desc("key"), F.asc("doc_id"))
    return (
        d.select("source", "doc_id", "n_chars", key.alias("key"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _RES_K)
        .select(
            "source",
            "doc_id",
            F.col("n_chars").cast("long").alias("n_chars"),
            F.round("key", 6).alias("sample_key"),
        )
    )


# --- HyperLogLog -------------------------------------------------------------

_HLL_M = 64  # registers (b = 6 bits)
_HLL_ALPHA = 0.709  # alpha_64 (Flajolet et al. 2007)

# 32-bit hash splits into 6 bucket bits + 26 rho bits; rho = leading
# zeros in the 26-bit remainder + 1, computed EXACTLY via the binary
# string length (no float log2 at bit boundaries).
_HLL_RHO_SQL = "CASE WHEN {w} = 0 THEN 27 ELSE 27 - length(bin({w})) END"


@query(
    "hll_distinct_users",
    oracle=f"""
    WITH h AS (
      SELECT event_type,
             {_HEX8_SQL.format(h="md5(cast(user_id AS VARCHAR))")} AS hv
      FROM events
    ),
    r AS (
      SELECT event_type, hv % {_HLL_M} AS bucket,
             max({_HLL_RHO_SQL.format(w=f"(hv >> 6)")}) AS rho
      FROM h GROUP BY 1, 2
    ),
    agg AS (
      SELECT event_type,
             sum(1.0::DOUBLE / (1::BIGINT << rho))
               + ({_HLL_M} - count(*))::DOUBLE AS s,
             {_HLL_M} - count(*) AS zeros
      FROM r GROUP BY event_type
    ),
    ex AS (
      SELECT event_type, count(DISTINCT user_id) AS true_distinct
      FROM events GROUP BY 1
    )
    SELECT ex.event_type,
           cast(ex.true_distinct AS BIGINT) AS true_distinct,
           round(CASE WHEN ({_HLL_ALPHA}::DOUBLE * {_HLL_M} * {_HLL_M} / a.s)
                           <= 2.5 * {_HLL_M} AND a.zeros > 0
                      THEN {_HLL_M} * ln({_HLL_M}::DOUBLE / a.zeros)
                      ELSE {_HLL_ALPHA}::DOUBLE * {_HLL_M} * {_HLL_M} / a.s
                 END, 4) AS hll_estimate
    FROM ex JOIN agg a ON a.event_type = ex.event_type
    """,
)
def hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type via a fully-declarative 64-register
    HyperLogLog, next to the exact count so the sketch error is visible.
    Unlike approx_count_distinct (whose Spark-internal sketch has no
    DuckDB twin and is checked rows-only), every step here — md5-derived
    32-bit hash, 6-bit bucketing, exact leading-zero rank via bin()
    length, register max, linear-counting small-range correction — is
    value-verified cross-engine. The register sum is a dyadic-rational
    double sum (denominators 2^27, <=64 terms), so it is EXACT regardless
    of aggregation order.

    At 100 TB this is THE cardinality pattern: per-group state is m
    registers (64 bytes) however many distinct keys exist, built by one
    (group, bucket) max aggregation — and registers merge with max, so
    partial aggregation and cross-shard union are free."""
    ev = T(spark, sf_dir, "events")
    est = hll_estimate_frame(ev, "event_type", "user_id")
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("true_distinct")
    )
    return exact.join(est, "event_type").select(
        "event_type",
        F.col("true_distinct").cast("long").alias("true_distinct"),
        F.round("hll_raw", 4).alias("hll_estimate"),
    )


def hll_registers_frame(
    df: DataFrame, group_col: str, key_col: str
) -> DataFrame:
    """Per-group HLL registers -> (group_col, bucket, rho). Registers
    merge with max — union two sketches by unioning their register rows
    and re-taking max(rho) per (group, bucket)."""
    hv = F.conv(
        F.substring(F.md5(F.col(key_col).cast("string")), 1, 8), 16, 10
    ).cast("long")
    w = F.shiftright(hv, 6)
    rho = F.when(w == 0, 27).otherwise(27 - F.length(F.bin(w)))
    return (
        df.select(group_col, (hv % _HLL_M).alias("bucket"), rho.alias("rho"))
        .groupBy(group_col, "bucket")
        .agg(F.max("rho").alias("rho"))
    )


def hll_estimate_from_registers(
    regs: DataFrame, group_col: str | list[str]
) -> DataFrame:
    """Fold (group, bucket, rho) registers into the HLL point estimate
    (with linear-counting small-range correction) -> (group, hll_raw)."""
    group_cols = [group_col] if isinstance(group_col, str) else group_col
    one = F.lit(1).cast("long")
    agg = regs.groupBy(*group_cols).agg(
        (
            F.sum(F.lit(1.0) / F.call_function("shiftleft", one, F.col("rho")))
            + (_HLL_M - F.count(F.lit(1))).cast("double")
        ).alias("s"),
        (_HLL_M - F.count(F.lit(1))).alias("zeros"),
    )
    raw = F.lit(_HLL_ALPHA) * _HLL_M * _HLL_M / F.col("s")
    est = F.when(
        (raw <= 2.5 * _HLL_M) & (F.col("zeros") > 0),
        _HLL_M * F.log(F.lit(float(_HLL_M)) / F.col("zeros")),
    ).otherwise(raw)
    return agg.select(*group_cols, est.alias("hll_raw"))


def hll_estimate_frame(
    df: DataFrame, group_col: str, key_col: str
) -> DataFrame:
    """Per-group HLL cardinality estimate -> (group_col, hll_raw).

    64 registers built by one (group, bucket) max aggregation — registers
    merge with max, so partial aggregation and cross-shard union are
    free; per-group state is 64 bytes regardless of key cardinality."""
    return hll_estimate_from_registers(
        hll_registers_frame(df, group_col, key_col), group_col
    )


# HLL estimate over a register table, as a SQL fragment: input relation
# must provide the listed group columns plus (bucket, rho).
def _hll_est_sql(rel: str, group_cols: str) -> str:
    return f"""
      SELECT {group_cols},
             CASE WHEN ({_HLL_ALPHA}::DOUBLE * {_HLL_M} * {_HLL_M} / s)
                       <= 2.5 * {_HLL_M} AND zeros > 0
                  THEN {_HLL_M} * ln({_HLL_M}::DOUBLE / zeros)
                  ELSE {_HLL_ALPHA}::DOUBLE * {_HLL_M} * {_HLL_M} / s
             END AS e
      FROM (SELECT {group_cols},
                   sum(1.0::DOUBLE / (1::BIGINT << rho))
                     + ({_HLL_M} - count(*))::DOUBLE AS s,
                   {_HLL_M} - count(*) AS zeros
            FROM {rel} GROUP BY {group_cols})
    """


@query(
    "hll_user_overlap_pairs",
    oracle=f"""
    WITH h AS (
      SELECT event_type,
             {_HEX8_SQL.format(h="md5(cast(user_id AS VARCHAR))")} AS hv
      FROM events
    ),
    r AS (
      SELECT event_type, hv % {_HLL_M} AS bucket,
             max({_HLL_RHO_SQL.format(w="(hv >> 6)")}) AS rho
      FROM h GROUP BY 1, 2
    ),
    est AS ({_hll_est_sql("r", "event_type")}),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b
      FROM (SELECT DISTINCT event_type FROM events) a
      JOIN (SELECT DISTINCT event_type FROM events) b
        ON a.event_type < b.event_type
    ),
    pregs AS (
      SELECT p.type_a, p.type_b, r.bucket, max(r.rho) AS rho
      FROM pairs p JOIN r ON r.event_type IN (p.type_a, p.type_b)
      GROUP BY 1, 2, 3
    ),
    pest AS ({_hll_est_sql("pregs", "type_a, type_b")}),
    du AS (SELECT DISTINCT event_type, user_id FROM events),
    exact AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             cast(count(*) AS BIGINT) AS exact_overlap
      FROM du a JOIN du b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT x.type_a, x.type_b, x.exact_overlap,
           round(ea.e + eb.e - pe.e, 4) AS hll_overlap_estimate
    FROM exact x
    JOIN est ea ON ea.event_type = x.type_a
    JOIN est eb ON eb.event_type = x.type_b
    JOIN pest pe ON pe.type_a = x.type_a AND pe.type_b = x.type_b
    """,
)
def hll_user_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap between every pair of event types, estimated by
    HLL inclusion-exclusion — |A∩B| ~ E(A) + E(B) - E(A∪B), where the
    union estimate comes from max-merging the two groups' registers —
    next to the exact overlap from a distinct self-join.

    This is the sketch-algebra pattern that matters operationally: union
    needs only the 64-byte register vectors, so cross-segment overlap
    matrices at 100 TB are computed from per-segment sketches WITHOUT
    rescanning or joining the raw data (the exact branch here is the
    oracle's foil and would be dropped at scale). The register table is
    group-count x 64 rows; the pair expansion joins it against a
    broadcastable pair list."""
    ev = T(spark, sf_dir, "events")
    regs = hll_registers_frame(ev, "event_type", "user_id")
    est = hll_estimate_from_registers(regs, "event_type")
    types = ev.select("event_type").distinct()
    pairs = (
        types.select(F.col("event_type").alias("type_a"))
        .join(
            types.select(F.col("event_type").alias("type_b")),
            F.col("type_a") < F.col("type_b"),
        )
    )
    pregs = (
        regs.join(
            F.broadcast(pairs),
            (regs.event_type == F.col("type_a"))
            | (regs.event_type == F.col("type_b")),
        )
        .groupBy("type_a", "type_b", "bucket")
        .agg(F.max("rho").alias("rho"))
    )
    pest = hll_estimate_from_registers(pregs, ["type_a", "type_b"])
    du = ev.select("event_type", "user_id").distinct()
    exact = (
        du.alias("a")
        .join(
            du.alias("b"),
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("exact_overlap"))
    )
    ea = est.select(
        F.col("event_type").alias("type_a"), F.col("hll_raw").alias("ea")
    )
    eb = est.select(
        F.col("event_type").alias("type_b"), F.col("hll_raw").alias("eb")
    )
    pe = pest.select("type_a", "type_b", F.col("hll_raw").alias("pe"))
    return (
        exact.join(ea, "type_a")
        .join(eb, "type_b")
        .join(pe, ["type_a", "type_b"])
        .select(
            "type_a",
            "type_b",
            "exact_overlap",
            F.round(
                F.col("ea") + F.col("eb") - F.col("pe"), 4
            ).alias("hll_overlap_estimate"),
        )
    )


# --- DDSketch quantiles ------------------------------------------------------
#
# Relative-error-bounded mergeable quantile sketch (Masson, Rim & Lee,
# VLDB 2019): bin index i = ceil(log_gamma(v)) with gamma = (1+a)/(1-a),
# estimate 2*gamma^i/(gamma+1); any quantile estimate is within relative
# error a of the true quantile value. Bins merge by ADDING counts.
#
# Cross-engine parity: gamma, ln(gamma) and gamma+1 are computed ONCE in
# Python and embedded as identical 17-digit literals on both sides (never
# derived per-engine — ulp drift); ln(v)/ln(gamma) is rounded to 6 dp
# before ceil so a 1-ulp libm difference cannot flip a bin boundary
# (the same re-synchronization trick as the PageRank iteration state).

_DDS_ALPHA = 0.02
_DDS_GAMMA = (1.0 + _DDS_ALPHA) / (1.0 - _DDS_ALPHA)
_DDS_LN_GAMMA = 0.040005334613699206  # math.log(_DDS_GAMMA), pinned
_DDS_GAMMA_P1 = _DDS_GAMMA + 1.0
_DDS_QS = [0.5, 0.9, 0.99]


def dds_bins_frame(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Per-group DDSketch bins -> (group_col, i, cnt). Bins merge by
    summing cnt per (group, i) — union two sketches with one re-agg.
    State per group is O(log(max/min)/log(gamma)) counters (~160 for a
    1..500k value range at a=0.02), independent of row count."""
    v = F.greatest(F.col(value_col).cast("double"), F.lit(1.0))
    i = F.ceil(F.round(F.log(v) / _DDS_LN_GAMMA, 6))
    return (
        df.select(group_col, i.alias("i"))
        .groupBy(group_col, "i")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def dds_quantiles_from_bins(
    bins: DataFrame, group_col: str, qs: list[float]
) -> DataFrame:
    """Fold (group, i, cnt) bins into per-group quantile estimates
    -> (group, n, q_<pct> ...). The window runs over the tiny bin table
    (groups x ~160 rows), never the raw data."""
    w = Window.partitionBy(group_col).orderBy("i")
    wall = Window.partitionBy(group_col)
    cum = bins.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "n", F.sum("cnt").over(wall)
    )
    est = F.lit(2.0) * F.pow(F.lit(_DDS_GAMMA), F.col("i")) / _DDS_GAMMA_P1
    aggs = [F.max("n").alias("n")]
    for q in qs:
        rank = F.ceil(F.lit(q) * F.col("n"))
        aggs.append(
            F.min(F.when(F.col("cum") >= rank, est)).alias(
                f"q{int(q * 100)}_sketch_raw"
            )
        )
    return cum.groupBy(group_col).agg(*aggs)


@query(
    "ddsketch_doc_length_quantiles",
    oracle=f"""
    WITH b AS (
      SELECT lang,
             ceil(round(ln(greatest(n_chars::DOUBLE, 1.0::DOUBLE))
                        / {_DDS_LN_GAMMA!r}, 6)) AS i,
             count(*) AS cnt
      FROM documents GROUP BY 1, 2
    ),
    c AS (
      SELECT lang, i, cnt,
             sum(cnt) OVER (PARTITION BY lang ORDER BY i) AS cum,
             sum(cnt) OVER (PARTITION BY lang) AS n
      FROM b
    ),
    sk AS (
      SELECT lang, max(n) AS n,
             {", ".join(
                 f"min(CASE WHEN cum >= ceil({q!r}::DOUBLE * n) THEN"
                 f" 2.0::DOUBLE * power({_DDS_GAMMA!r}, i)"
                 f" / {_DDS_GAMMA_P1!r} END) AS q{int(q * 100)}_sk"
                 for q in _DDS_QS
             )}
      FROM c GROUP BY lang
    ),
    r AS (
      SELECT lang, n_chars,
             row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS rn,
             count(*) OVER (PARTITION BY lang) AS n
      FROM documents
    ),
    ex AS (
      SELECT lang,
             {", ".join(
                 f"min(CASE WHEN rn = ceil({q!r}::DOUBLE * n) THEN n_chars"
                 f" END) AS q{int(q * 100)}_ex"
                 for q in _DDS_QS
             )}
      FROM r GROUP BY lang
    )
    SELECT sk.lang, cast(sk.n AS BIGINT) AS n_docs,
           {", ".join(
               f"cast(ex.q{int(q * 100)}_ex AS BIGINT)"
               f" AS p{int(q * 100)}_exact,"
               f" round(sk.q{int(q * 100)}_sk, 4)"
               f" AS p{int(q * 100)}_sketch"
               for q in _DDS_QS
           )}
    FROM sk JOIN ex ON ex.lang = sk.lang
    """,
)
def ddsketch_doc_length_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-language p50/p90/p99 of document length via DDSketch, next to
    the exact rank-based quantiles so the <=2% relative-error guarantee
    is visible row by row.

    At 100 TB this is THE quantile pattern: per-group state is a bounded
    counter vector built by one (group, bin) partial/final aggregation —
    no global sort, no percentile over raw data — and bins merge by
    addition, so per-shard sketches union with one tiny re-agg (the
    exact branch here is the oracle's foil and uses a full sort rank;
    it would be dropped at scale). Completes the mergeable-sketch
    family: HLL (distinct), CMS (frequency), A-Res (sampling),
    DDSketch (distribution)."""
    d = T(spark, sf_dir, "documents")
    sk = dds_quantiles_from_bins(
        dds_bins_frame(d, "lang", "n_chars"), "lang", _DDS_QS
    )
    w = Window.partitionBy("lang").orderBy("n_chars")
    wall = Window.partitionBy("lang")
    r = d.select("lang", "n_chars").withColumn(
        "rn", F.row_number().over(w)
    ).withColumn("n", F.count(F.lit(1)).over(wall))
    ex_aggs = [
        F.min(
            F.when(
                F.col("rn") == F.ceil(F.lit(q) * F.col("n")), F.col("n_chars")
            )
        ).alias(f"q{int(q * 100)}_ex")
        for q in _DDS_QS
    ]
    ex = r.groupBy("lang").agg(*ex_aggs)
    cols = [F.col("lang"), F.col("n").cast("long").alias("n_docs")]
    for q in _DDS_QS:
        p = int(q * 100)
        cols.append(F.col(f"q{p}_ex").cast("long").alias(f"p{p}_exact"))
        cols.append(F.round(F.col(f"q{p}_sketch_raw"), 4).alias(f"p{p}_sketch"))
    return sk.join(ex, "lang").select(*cols)


@query(
    "hll_daily_cumulative_users",
    oracle=f"""
    WITH h AS (
      SELECT date_trunc('day', ts) AS day,
             {_HEX8_SQL.format(h="md5(cast(user_id AS VARCHAR))")} AS hv
      FROM events
    ),
    r AS (
      SELECT day, hv % {_HLL_M} AS bucket,
             max({_HLL_RHO_SQL.format(w="(hv >> 6)")}) AS rho
      FROM h GROUP BY 1, 2
    ),
    days AS (SELECT DISTINCT day FROM r),
    cum AS (
      SELECT d.day, r.bucket, max(r.rho) AS rho
      FROM days d JOIN r ON r.day <= d.day
      GROUP BY 1, 2
    ),
    est AS ({_hll_est_sql("cum", "day")}),
    fd AS (
      SELECT user_id, min(date_trunc('day', ts)) AS day
      FROM events GROUP BY 1
    ),
    nc AS (SELECT day, count(*) AS c FROM fd GROUP BY 1),
    dc AS (
      SELECT d.day, coalesce(nc.c, 0) AS c
      FROM days d LEFT JOIN nc USING (day)
    ),
    ex AS (
      SELECT day, cast(sum(c) OVER (ORDER BY day) AS BIGINT) AS exact_cum
      FROM dc
    )
    SELECT e.day, x.exact_cum, round(e.e, 4) AS hll_cumulative
    FROM est e JOIN ex x USING (day)
    """,
)
def hll_daily_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per day from DAILY HLL sketches — the
    time-axis instance of sketch algebra: registers for day d1..dk merge
    with max, so the "users ever seen as of day d" curve is computed
    from 30 64-byte register vectors WITHOUT re-touching raw events per
    day. Incremental by construction: tomorrow's point = today's
    registers max-merged with tomorrow's daily sketch, which is exactly
    what a nightly job persists.

    The exact cumulative curve (first-seen-day + running sum, one
    distinct-shuffle + a 30-row window) rides along as the foil. The
    whole construction — hash, register build, per-day max-merge,
    estimate fold — is value-verified cross-engine; register sums are
    dyadic-exact so only the final estimate needs its 4 dp round."""
    ev = T(spark, sf_dir, "events").select(
        F.date_trunc("day", F.col("ts")).alias("day"), "user_id"
    )
    regs = hll_registers_frame(ev, "day", "user_id")
    days = regs.select("day").distinct()
    r = regs.select(
        F.col("day").alias("rday"), "bucket", "rho"
    )
    cum = (
        days.join(F.broadcast(r), F.col("rday") <= F.col("day"))
        .groupBy("day", "bucket")
        .agg(F.max("rho").alias("rho"))
    )
    est = hll_estimate_from_registers(cum, "day")
    first = ev.groupBy("user_id").agg(F.min("day").alias("day"))
    nc = first.groupBy("day").agg(F.count(F.lit(1)).alias("c"))
    dc = days.join(F.broadcast(nc), "day", "left").select(
        "day", F.coalesce("c", F.lit(0)).alias("c")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    exact = dc.select(
        "day", F.sum("c").over(w).cast("long").alias("exact_cum")
    )
    return est.join(exact, "day").select(
        "day", "exact_cum", F.round("hll_raw", 4).alias("hll_cumulative")
    )


@query(
    "join_size_cms_estimate",
    oracle=f"""
    WITH eb AS (
      SELECT i,
             {_HEX6_SQL.format(
                 h="md5(cast(i AS VARCHAR) || '|' || cast(user_id AS VARCHAR))")}
               % {_CMS_W} AS bucket,
             count(*) AS c
      FROM events, unnest(range(0, {_CMS_D})) AS u(i)
      GROUP BY 1, 2
    ),
    ob AS (
      SELECT i,
             {_HEX6_SQL.format(
                 h="md5(cast(i AS VARCHAR) || '|' || cast(o_custkey AS VARCHAR))")}
               % {_CMS_W} AS bucket,
             count(*) AS c
      FROM orders, unnest(range(0, {_CMS_D})) AS u(i)
      GROUP BY 1, 2
    ),
    est AS (
      SELECT min(p) AS cms_estimate FROM (
        SELECT eb.i, sum(eb.c * ob.c) AS p
        FROM eb JOIN ob ON eb.i = ob.i AND eb.bucket = ob.bucket
        GROUP BY eb.i
      )
    ),
    exact AS (
      SELECT sum(e.c * o.c) AS exact_join_size FROM
        (SELECT user_id AS k, count(*) AS c FROM events GROUP BY 1) e
        JOIN
        (SELECT o_custkey AS k, count(*) AS c FROM orders GROUP BY 1) o
        USING (k)
    )
    SELECT cast(exact_join_size AS BIGINT) AS exact_join_size,
           cast(cms_estimate AS BIGINT) AS cms_estimate,
           floor((cms_estimate - exact_join_size)::DOUBLE
                 / exact_join_size::DOUBLE * 1e6) / 1e6 AS rel_overcount
    FROM exact, est
    """,
)
def join_size_cms_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size estimation by sketch inner product (AMS via Count-Min,
    Alon-Matias-Szegedy 1996 / Cormode-Muthukrishnan 2005): the
    estimated cardinality of events JOIN orders ON user_id = o_custkey
    is min over hash rows of the dot product of the two sides' CMS
    counter rows — the cost-based-optimizer primitive that prices a
    join from two KB-sized sketches WITHOUT touching either table
    again. The exact size (sum over keys of count_A * count_B) rides
    along, and the one-sided relative overcount is reported.

    Each side's sketch is one hash-keyed partial/final aggregation; the
    inner product joins two (d x w)-row tables. Nothing downstream
    scales with table size — which is the point."""
    def cms(df: DataFrame, key: str) -> DataFrame:
        rows = None
        for i in range(_CMS_D):
            part = df.select(
                F.lit(i).alias("i"),
                _bucket(F.col(key).cast("string"), F.lit(i)).alias("bucket"),
            )
            rows = part if rows is None else rows.unionAll(part)
        return rows.groupBy("i", "bucket").agg(F.count(F.lit(1)).alias("c"))

    ev = T(spark, sf_dir, "events")
    od = T(spark, sf_dir, "orders")
    eb = cms(ev, "user_id")
    ob = cms(od, "o_custkey").select(
        F.col("i").alias("oi"), F.col("bucket").alias("ob"), F.col("c").alias("oc")
    )
    est = (
        eb.join(ob, (F.col("i") == F.col("oi")) & (F.col("bucket") == F.col("ob")))
        .groupBy("i")
        .agg(F.sum(F.col("c") * F.col("oc")).alias("p"))
        .agg(F.min("p").alias("cms_estimate"))
    )
    ec = ev.groupBy(F.col("user_id").alias("k")).agg(
        F.count(F.lit(1)).alias("c")
    )
    oc = od.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count(F.lit(1)).alias("c2")
    )
    exact = ec.join(oc, "k").agg(
        F.sum(F.col("c") * F.col("c2")).alias("exact_join_size")
    )
    return exact.crossJoin(F.broadcast(est)).select(
        F.col("exact_join_size").cast("long").alias("exact_join_size"),
        F.col("cms_estimate").cast("long").alias("cms_estimate"),
        (
            F.floor(
                (F.col("cms_estimate") - F.col("exact_join_size")).cast("double")
                / F.col("exact_join_size").cast("double")
                * 1e6
            )
            / 1e6
        ).alias("rel_overcount"),
    )


@query(
    "rolling_7day_active_users",
    oracle=f"""
    WITH du AS (
      SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events
    ),
    days AS (SELECT DISTINCT day FROM du),
    exact AS (
      SELECT d.day, count(DISTINCT du.user_id) AS wau_exact
      FROM days d JOIN du
        ON du.day <= d.day AND du.day >= d.day - INTERVAL 6 DAY
      GROUP BY d.day
    ),
    h AS (
      SELECT date_trunc('day', ts) AS day,
             {_HEX8_SQL.format(h="md5(cast(user_id AS VARCHAR))")} AS hv
      FROM events
    ),
    r AS (
      SELECT day, hv % {_HLL_M} AS bucket,
             max({_HLL_RHO_SQL.format(w="(hv >> 6)")}) AS rho
      FROM h GROUP BY 1, 2
    ),
    win AS (
      SELECT d.day, r.bucket, max(r.rho) AS rho
      FROM days d JOIN r
        ON r.day <= d.day AND r.day >= d.day - INTERVAL 6 DAY
      GROUP BY 1, 2
    ),
    est AS ({_hll_est_sql("win", "day")})
    SELECT e.day, cast(x.wau_exact AS BIGINT) AS wau_exact,
           round(e.e, 4) AS wau_hll
    FROM est e JOIN exact x USING (day)
    """,
)
def rolling_7day_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users (the WAU curve) two ways: the exact
    trailing-window distinct count, and the sketch path — each day's
    64-byte HLL register vector max-merged over the trailing week. The
    sketch path is what survives 100 TB: count-distinct does NOT
    decompose over overlapping windows (yesterday's WAU tells you
    nothing reusable), but registers merge, so the nightly job keeps 7
    daily sketches per granularity and never re-touches raw events.
    Both curves are value-verified cross-engine, registers included."""
    ev = T(spark, sf_dir, "events").select(
        F.date_trunc("day", F.col("ts")).alias("day"), "user_id"
    )
    du = ev.distinct()
    days = du.select("day").distinct()
    trailing = (F.col("dday") >= F.col("day")) & (
        F.col("dday") <= F.date_add(F.col("day").cast("date"), 6).cast(
            "timestamp"
        )
    )
    # exact: trailing-window distinct
    # du is (day, user) distinct pairs — DATA-SIZED. The range join must
    # broadcast the CALENDAR side (bounded, ~|days| rows), never du.
    exact = (
        du.join(
            F.broadcast(days.select(F.col("day").alias("dday"))),
            trailing,
        )
        .groupBy("dday")
        .agg(F.countDistinct("user_id").alias("wau_exact"))
        .select(F.col("dday").alias("day"), "wau_exact")
    )
    # sketch: daily registers max-merged over the trailing week
    regs = hll_registers_frame(ev, "day", "user_id").select(
        F.col("day").alias("rday"), "bucket", "rho"
    )
    win = (
        days.join(
            F.broadcast(regs),
            (F.col("rday") <= F.col("day"))
            & (
                F.col("rday")
                >= F.date_add(F.col("day").cast("date"), -6).cast("timestamp")
            ),
        )
        .groupBy("day", "bucket")
        .agg(F.max("rho").alias("rho"))
    )
    est = hll_estimate_from_registers(win, "day")
    return est.join(exact, "day").select(
        "day",
        F.col("wau_exact").cast("long").alias("wau_exact"),
        F.round("hll_raw", 4).alias("wau_hll"),
    )
