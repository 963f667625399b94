"""Statistical-test plan coverage (SURVEY §2.8 M1/M2): Welch t-test and
Pearson chi-square computed as one-pass Spark aggregations; the oracle
reproduces the identical closed forms (including the A&S erf polynomial) in
DuckDB SQL.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..catalog import fan_out_scan, table as T
from ..functions.driverexact import jround
from ..functions.scalars import (
    NORMAL_SF_SQL,
    NORMAL_UPPER_SF_SQL,
    normal_sf,
    normal_upper_sf,
)
from ..operators.stats import chi_square_test, welch_t_test
from ..session import shuffle_partitions
from .registry import query

_WELCH_ORACLE = """
WITH s AS (
  SELECT avg(o_totalprice)      FILTER (o_orderstatus = 'F') AS mean_a,
         var_samp(o_totalprice) FILTER (o_orderstatus = 'F') AS var_a,
         count(o_totalprice)    FILTER (o_orderstatus = 'F') AS n_a,
         avg(o_totalprice)      FILTER (o_orderstatus = 'O') AS mean_b,
         var_samp(o_totalprice) FILTER (o_orderstatus = 'O') AS var_b,
         count(o_totalprice)    FILTER (o_orderstatus = 'O') AS n_b
  FROM orders
), t AS (
  SELECT *,
         (mean_a - mean_b) / sqrt(var_a/n_a + var_b/n_b) AS t_raw,
         pow(var_a/n_a + var_b/n_b, 2)
           / (pow(var_a/n_a, 2)/(n_a-1) + pow(var_b/n_b, 2)/(n_b-1)) AS dof_raw
  FROM s
)
SELECT round(mean_a, 6) AS mean_a,
       round(mean_b, 6) AS mean_b,
       n_a, n_b,
       round(t_raw, 6)  AS t_stat,
       round(dof_raw, 4) AS dof,
       round({p_sql}, 6) AS p_value
FROM t
""".format(p_sql=NORMAL_SF_SQL.format(z="t_raw"))

_CHI2_ORACLE = """
WITH cells AS (
  SELECT event_type AS r, (value > 50) AS c, cast(count(*) AS DOUBLE) AS o
  FROM events GROUP BY 1, 2
), m AS (
  SELECT o,
         sum(o) OVER (PARTITION BY r) AS row_tot,
         sum(o) OVER (PARTITION BY c) AS col_tot,
         sum(o) OVER ()               AS grand,
         r, c
  FROM cells
), agg AS (
  SELECT sum(pow(o - row_tot*col_tot/grand, 2) / (row_tot*col_tot/grand)) AS chi2,
         count(DISTINCT r) AS nr, count(DISTINCT c) AS nc
  FROM m
), z AS (
  SELECT chi2, cast((nr-1)*(nc-1) AS BIGINT) AS dof,
         (pow(chi2 / ((nr-1)*(nc-1)), 1.0/3.0)
            - (1.0 - 2.0/(9.0*(nr-1)*(nc-1))))
           / sqrt(2.0/(9.0*(nr-1)*(nc-1))) AS z_raw
  FROM agg
)
SELECT round(chi2, 6) AS chi2, dof,
       round(z_raw, 6) AS z_wh,
       round({p_sql}, 6) AS p_value
FROM z
""".format(p_sql=NORMAL_SF_SQL.format(z="z_raw"))


@query("welch_ttest_totalprice", oracle=_WELCH_ORACLE)
def welch_ttest_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's t-test: o_totalprice of finished vs open orders
    (stats_utils.py:9-23 semantics, distributed sufficient statistics)."""
    return welch_t_test(
        T(spark, sf_dir, "orders"), "o_totalprice", "o_orderstatus", "F", "O"
    )


@query("chi_square_event_value", oracle=_CHI2_ORACLE)
def chi_square_event_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square of event_type x (value > 50) with Wilson–Hilferty
    p-value (stats_utils.py:26-41 semantics)."""
    import pyspark.sql.functions as F

    ev = T(spark, sf_dir, "events").select(
        "event_type", (F.col("value") > 50).alias("high_value")
    )
    return chi_square_test(ev, "event_type", "high_value")


# --- M8: dose-response IC50 (reference tests/test_ic50.py:1-31) ----------
#
# The driver's testdata has no dose-response table, so this query builds a
# deterministic in-plan screen (64 compounds x the reference's 8-dose grid,
# generated JVM-side from spark.range — no RNG, no driver data) and fits
# every curve with the distributed applyInPandas 4PL fitter. The returned
# columns are ratios of fitted to generating parameters, rounded to 2dp —
# which turns "the fit recovers the truth" into an EXACT DuckDB value
# oracle over range(64) instead of a weak rows-only check.

_IC50_ORACLE = """
SELECT cast(i AS BIGINT)    AS compound_id,
       cast(8 AS BIGINT)    AS n_points,
       cast(1.0 AS DOUBLE)  AS ic50_ratio,
       cast(1.0 AS DOUBLE)  AS hill_ratio,
       cast(0.1 AS DOUBLE)  AS bottom_fit,
       cast(0.9 AS DOUBLE)  AS top_fit,
       true                 AS fit_ok
FROM range(64) t(i)
ORDER BY compound_id
"""


@query("ic50_dose_response_fits", oracle=_IC50_ORACLE)
def ic50_dose_response_fits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-compound 4-parameter-logistic IC50 fits over a deterministic
    64-compound screen; truth ic50 = 5*(id+1), hill = 0.8 + 0.025*id,
    bottom/top = 0.1/0.9 (the reference curve's constants). sf_dir is
    unused by design — see module comment."""
    import pyspark.sql.functions as F

    from ..operators.dose_response import fit_ic50_per_group

    doses = [5.0, 10.0, 20.0, 40.0, 80.0, 160.0, 320.0, 640.0]
    cid = F.col("compound_id")
    grid = (
        spark.range(64)
        .withColumnRenamed("id", "compound_id")
        .select(
            "compound_id",
            F.explode(F.array(*[F.lit(d) for d in doses])).alias("dose"),
        )
        .withColumn(
            "response",
            F.lit(0.1)
            + F.lit(0.8)
            / (
                F.lit(1.0)
                + F.exp(
                    (F.lit(0.8) + F.lit(0.025) * cid)
                    * (F.log10("dose") - F.log10(cid * 5.0 + 5.0))
                )
            ),
        )
    )
    fits = fit_ic50_per_group(grid, ["compound_id"])
    return fits.select(
        cid,
        F.col("n_points").cast("long").alias("n_points"),
        F.round(F.col("ic50") / (cid * 5.0 + 5.0), 2).alias("ic50_ratio"),
        F.round(F.col("hill") / (F.lit(0.8) + F.lit(0.025) * cid), 2).alias(
            "hill_ratio"
        ),
        F.round("bottom", 2).alias("bottom_fit"),
        F.round("top", 2).alias("top_fit"),
        "fit_ok",
    ).orderBy("compound_id")


_OLS_ORACLE = """
WITH b AS (
  SELECT event_type,
         (epoch(ts) - 1704067200.0) / 86400.0 AS x,
         value AS y
  FROM events
),
a AS (
  SELECT event_type, count(*) AS n,
         sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
  FROM b GROUP BY 1
)
SELECT event_type, cast(n AS BIGINT) AS n,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope_per_day,
       round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
         AS intercept,
       round(pow(n * sxy - sx * sy, 2)
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
FROM a
"""


@query("ols_trend_by_event_type", oracle=_OLS_ORACLE)
def ols_trend_by_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form per-group OLS: slope/intercept/R^2 of event value over
    time (days since the dataset epoch) — the one-pass sufficient-
    statistics form (n, Σx, Σy, Σx², Σxy, Σy²), i.e. trend detection as a
    single partial/final aggregation, no iterative solver.

    At 100 TB this is the canonical "fit a line per key" shape: the five
    sums partial-aggregate map-side, one shuffle on the group key, and
    the closed form runs on the 5-number summary — the same pattern
    extends to any exponential-family sufficient statistic. Days (not
    raw epoch seconds) keep the normal equations well-conditioned so the
    n·Σx² − (Σx)² cancellation stays benign."""
    import pyspark.sql.functions as F

    ev = T(spark, sf_dir, "events")
    x = (F.col("ts").cast("double") - 1704067200.0) / 86400.0
    b = ev.select("event_type", x.alias("x"), F.col("value").alias("y"))
    a = b.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, sxy, syy = F.col("sxx"), F.col("sxy"), F.col("syy")
    slope_raw = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return a.select(
        "event_type",
        n.cast("long").alias("n"),
        F.round(slope_raw, 6).alias("slope_per_day"),
        F.round((sy - slope_raw * sx) / n, 6).alias("intercept"),
        F.round(
            F.pow(n * sxy - sx * sy, 2)
            / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        ).alias("r2"),
    )


_MAD_ORACLE = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY 1
), d AS (
  SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS absdev
  FROM events e JOIN med m USING (event_type)
), md AS (
  SELECT event_type, quantile_cont(absdev, 0.5) AS mad FROM d GROUP BY 1
)
SELECT d.event_type,
       cast(count(*) AS BIGINT) AS n,
       round(max(d.med), 4) AS med,
       round(max(md.mad), 4) AS mad,
       cast(sum(CASE WHEN 0.6745::DOUBLE * d.absdev > 3.5::DOUBLE * md.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       round(CASE WHEN max(md.mad) > 0
                  THEN 0.6745::DOUBLE * max(d.absdev) / max(md.mad) END,
             4) AS max_robust_z
FROM d JOIN md USING (event_type)
GROUP BY 1
"""


@query("value_outliers_mad", oracle=_MAD_ORACLE)
def value_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier detection via median/MAD (the
    Iglewicz-Hoban modified z-score, |0.6745*(x-med)/MAD| > 3.5):
    the monitoring primitive that survives the heavy-tailed value
    distributions where mean/stddev z-scores drown — one extreme value
    moves a mean arbitrarily but moves a median not at all.

    Plan: two exact interpolated percentiles (value, then absolute
    deviation) with the tiny per-group medians broadcast back between
    passes; the outlier predicate is multiplication-only (0.6745*dev >
    3.5*mad) so no division-by-zero path exists, and every comparison
    is computed from identical doubles on both engines. At 100 TB the
    exact percentiles become percentile_approx and the rest of the
    plan is unchanged."""
    import pyspark.sql.functions as F

    ev = T(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    d = ev.join(F.broadcast(med), "event_type").withColumn(
        "absdev", F.abs(F.col("value") - F.col("med"))
    )
    mad = d.groupBy("event_type").agg(
        F.percentile("absdev", F.lit(0.5)).alias("mad")
    )
    j = d.join(F.broadcast(mad), "event_type")
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.max("med"), 4).alias("med"),
        F.round(F.max("mad"), 4).alias("mad"),
        F.sum(
            F.when(
                F.lit(0.6745) * F.col("absdev") > F.lit(3.5) * F.col("mad"), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_outliers"),
        F.round(
            F.when(
                F.max("mad") > 0,
                F.lit(0.6745) * F.max("absdev") / F.max("mad"),
            ),
            4,
        ).alias("max_robust_z"),
    )


_PSI_ORACLE = """
WITH a AS (
  SELECT event_type, least(floor(value / 50.0), 9)::BIGINT AS bin,
         count(*) AS c
  FROM events
  WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-08'
  GROUP BY 1, 2
),
b AS (
  SELECT event_type, least(floor(value / 50.0), 9)::BIGINT AS bin,
         count(*) AS c
  FROM events
  WHERE ts >= TIMESTAMP '2024-01-08' AND ts < TIMESTAMP '2024-01-15'
  GROUP BY 1, 2
),
grid AS (
  SELECT t.event_type, g.bin
  FROM (SELECT DISTINCT event_type FROM events) t,
       unnest(range(0, 10)) AS g(bin)
),
f AS (
  SELECT g.event_type, g.bin,
         coalesce(a.c, 0) AS ca, coalesce(b.c, 0) AS cb
  FROM grid g
  LEFT JOIN a ON a.event_type = g.event_type AND a.bin = g.bin
  LEFT JOIN b ON b.event_type = g.event_type AND b.bin = g.bin
),
t AS (
  SELECT event_type, bin, ca, cb,
         (ca + 0.5::DOUBLE) / (sum(ca) OVER (PARTITION BY event_type)
                               + 5.0::DOUBLE) AS p,
         (cb + 0.5::DOUBLE) / (sum(cb) OVER (PARTITION BY event_type)
                               + 5.0::DOUBLE) AS q
  FROM f
)
SELECT event_type,
       cast(sum(ca) AS BIGINT) AS n_ref,
       cast(sum(cb) AS BIGINT) AS n_cur,
       round(sum((p - q) * ln(p / q)), 6) AS psi
FROM t GROUP BY event_type
"""


@query("value_psi_weekly", oracle=_PSI_ORACLE)
def value_psi_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between two reference weeks of the
    value distribution, per event type — THE production model-monitoring
    metric for input drift (PSI < 0.1 stable, 0.1-0.25 watch, > 0.25
    shifted). Ten fixed-width bins densified against the full
    (type, bin) grid so structurally-empty bins contribute through the
    +0.5 smoothing instead of silently disappearing.

    Plan: two filtered partial/final bin counts, a 50-row grid join,
    and a window-normalized fold — nothing scales beyond |types| x 10
    after the scans, and the scans prune on the ts filter. At 100 TB
    the reference week's bin table is persisted once and only the
    current week is re-counted."""
    import pyspark.sql.functions as F

    ev = T(spark, sf_dir, "events")
    bin_ = F.least(F.floor(F.col("value") / 50.0), F.lit(9)).cast("long")

    def week(lo: str, hi: str) -> DataFrame:
        return (
            ev.filter(
                (F.col("ts") >= F.lit(lo).cast("timestamp"))
                & (F.col("ts") < F.lit(hi).cast("timestamp"))
            )
            .groupBy("event_type", bin_.alias("bin"))
            .agg(F.count(F.lit(1)).alias("c"))
        )

    a = week("2024-01-01", "2024-01-08")
    b = week("2024-01-08", "2024-01-15")
    grid = (
        ev.select("event_type")
        .distinct()
        .crossJoin(spark.range(10).select(F.col("id").alias("bin")))
    )
    f = (
        grid.join(F.broadcast(a.withColumnRenamed("c", "ca")), ["event_type", "bin"], "left")
        .join(F.broadcast(b.withColumnRenamed("c", "cb")), ["event_type", "bin"], "left")
        .select(
            "event_type",
            "bin",
            F.coalesce("ca", F.lit(0)).alias("ca"),
            F.coalesce("cb", F.lit(0)).alias("cb"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("event_type")
    p = (F.col("ca") + 0.5) / (F.sum("ca").over(w) + 5.0)
    q = (F.col("cb") + 0.5) / (F.sum("cb").over(w) + 5.0)
    t = f.select(
        "event_type", "ca", "cb", p.alias("p"), q.alias("q")
    )
    return t.groupBy("event_type").agg(
        F.sum("ca").cast("long").alias("n_ref"),
        F.sum("cb").cast("long").alias("n_cur"),
        F.round(
            F.sum((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))),
            6,
        ).alias("psi"),
    )


_WINSOR_ORACLE = """
WITH q AS (
  SELECT event_type,
         quantile_cont(value, 0.01) AS p01,
         quantile_cont(value, 0.99) AS p99
  FROM events GROUP BY 1
),
w AS (
  SELECT e.event_type, e.value, q.p01, q.p99,
         least(greatest(e.value, q.p01), q.p99) AS wv
  FROM events e JOIN q USING (event_type)
)
SELECT event_type,
       cast(count(*) AS BIGINT) AS n,
       cast(sum(CASE WHEN value < p01 OR value > p99 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_capped,
       round(max(p01), 4) AS p01,
       round(max(p99), 4) AS p99,
       round(avg(value), 4) AS mean_raw,
       round(avg(wv), 4) AS mean_winsorized,
       round(stddev_samp(value), 4) AS std_raw,
       round(stddev_samp(wv), 4) AS std_winsorized
FROM w GROUP BY event_type
"""


@query("value_winsorized_stats", oracle=_WINSOR_ORACLE)
def value_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization audit — the feature-prep standard for taming heavy
    tails without dropping rows: clamp each group's values to its
    [p01, p99] band and report mean/stddev before vs after plus how many
    rows were capped. The before/after deltas ARE the report: a large
    std shrink with a small capped count is the long-tail signature.

    One exact percentile pass (broadcast back), then one aggregation
    over the clamped projection — at 100 TB the percentiles become
    approx and the clamp stays map-side."""
    import pyspark.sql.functions as F

    ev = T(spark, sf_dir, "events")
    q = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.01)).alias("p01"),
        F.percentile("value", F.lit(0.99)).alias("p99"),
    )
    w = ev.join(F.broadcast(q), "event_type").withColumn(
        "wv", F.least(F.greatest(F.col("value"), F.col("p01")), F.col("p99"))
    )
    return w.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            F.when(
                (F.col("value") < F.col("p01"))
                | (F.col("value") > F.col("p99")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_capped"),
        F.round(F.max("p01"), 4).alias("p01"),
        F.round(F.max("p99"), 4).alias("p99"),
        F.round(F.avg("value"), 4).alias("mean_raw"),
        F.round(F.avg("wv"), 4).alias("mean_winsorized"),
        F.round(F.stddev_samp("value"), 4).alias("std_raw"),
        F.round(F.stddev_samp("wv"), 4).alias("std_winsorized"),
    )


def _ab_oracle() -> str:
    from ..functions.scalars import NORMAL_SF_SQL

    z_abs = "abs((p1 - p2) / se)"
    return f"""
    WITH assign AS (
      SELECT user_id,
             (strpos('0123456789abcdef',
                substr(md5(cast(user_id AS VARCHAR) || '|ab'), 1, 1)) - 1)
               % 2 AS variant,
             max(CASE WHEN event_type = 'purchase' AND value > 450.0::DOUBLE
                      THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY 1
    ),
    s AS (
      SELECT count(*) FILTER (variant = 0) AS n1,
             sum(converted) FILTER (variant = 0) AS x1,
             count(*) FILTER (variant = 1) AS n2,
             sum(converted) FILTER (variant = 1) AS x2
      FROM assign
    ),
    t AS (
      SELECT n1, x1, n2, x2,
             x1::DOUBLE / n1 AS p1, x2::DOUBLE / n2 AS p2,
             (x1 + x2)::DOUBLE / (n1 + n2) AS pp
      FROM s
    ),
    u AS (
      SELECT *, sqrt(pp * (1.0 - pp) * (1.0/n1 + 1.0/n2)) AS se FROM t
    )
    SELECT cast(n1 AS BIGINT) AS n_control,
           cast(x1 AS BIGINT) AS conv_control,
           cast(n2 AS BIGINT) AS n_treatment,
           cast(x2 AS BIGINT) AS conv_treatment,
           round(p1, 6) AS rate_control,
           round(p2, 6) AS rate_treatment,
           CASE WHEN se > 0 THEN round((p1 - p2) / se, 6) END AS z,
           CASE WHEN se > 0
                THEN round({NORMAL_SF_SQL.format(z=z_abs)}, 6)
           END AS p_value
    FROM u
    """


@query("ab_test_two_proportion", oracle=_ab_oracle())
def ab_test_two_proportion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on a deterministic 50/50 user split — the
    experimentation readout (completes the stats family next to Welch t
    and chi-square): per-user conversion = any high-value purchase (value > 450), variant
    from an md5 parity (so both engines assign identically and the
    split is reproducible — exactly how a real bucketing service hashes
    user ids), pooled-variance z and two-sided p via the shared A&S erf
    polynomial. The null is true by construction here, so p is
    uniform-ish — the operator is the report, not the verdict.

    One per-user aggregation + one scalar fold; nothing scales past the
    user count."""
    import pyspark.sql.functions as F

    from ..functions.scalars import normal_sf

    ev = T(spark, sf_dir, "events")
    variant = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("user_id").cast("string"), F.lit("|ab"))),
                1,
                1,
            ),
            16,
            10,
        ).cast("int")
        % 2
    )
    assign = ev.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("value") > 450.0),
                1,
            ).otherwise(0)
        ).alias("converted")
    ).withColumn("variant", variant)
    s = assign.agg(
        F.count(F.when(F.col("variant") == 0, 1)).alias("n1"),
        F.sum(F.when(F.col("variant") == 0, F.col("converted"))).alias("x1"),
        F.count(F.when(F.col("variant") == 1, 1)).alias("n2"),
        F.sum(F.when(F.col("variant") == 1, F.col("converted"))).alias("x2"),
    )
    p1 = F.col("x1").cast("double") / F.col("n1")
    p2 = F.col("x2").cast("double") / F.col("n2")
    pp = (F.col("x1") + F.col("x2")).cast("double") / (
        F.col("n1") + F.col("n2")
    )
    se = F.sqrt(
        pp * (1.0 - pp) * (1.0 / F.col("n1") + 1.0 / F.col("n2"))
    )
    z = F.when(se > 0, (p1 - p2) / se)
    return s.select(
        F.col("n1").cast("long").alias("n_control"),
        F.col("x1").cast("long").alias("conv_control"),
        F.col("n2").cast("long").alias("n_treatment"),
        F.col("x2").cast("long").alias("conv_treatment"),
        F.round(p1, 6).alias("rate_control"),
        F.round(p2, 6).alias("rate_treatment"),
        F.round(z, 6).alias("z"),
        F.when(se > 0, F.round(normal_sf(F.abs(z)), 6)).alias(
            "p_value"
        ),
    )


_BENFORD_ORACLE = """
WITH d AS (
  -- floor() explicitly: DuckDB's double->BIGINT cast ROUNDS while
  -- Spark's truncates; floor makes both engines take the same digit
  SELECT substr(cast(cast(floor(value) AS BIGINT) AS VARCHAR), 1, 1) AS digit
  FROM events WHERE value >= 1.0
),
c AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
t AS (SELECT sum(n) AS total FROM c)
SELECT digit,
       cast(n AS BIGINT) AS n,
       floor(n::DOUBLE / t.total::DOUBLE * 1e6) / 1e6 AS observed_freq,
       round(ln(1.0::DOUBLE + 1.0::DOUBLE / digit::DOUBLE)
             / ln(10.0::DOUBLE), 6) AS benford_freq,
       round(abs(n::DOUBLE / t.total::DOUBLE
             - ln(1.0::DOUBLE + 1.0::DOUBLE / digit::DOUBLE)
               / ln(10.0::DOUBLE)), 6) AS abs_deviation
FROM c, t
"""


@query("benford_first_digit_audit", oracle=_BENFORD_ORACLE)
def benford_first_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over the value column — the
    classic anomaly/fabrication screen for financial and metering data:
    observed first-digit frequencies next to log10(1 + 1/d) expected
    ones, with the absolute deviation per digit. (The synthetic uniform
    values violate Benford hard, which is exactly what the report
    should say about uniform data — naturally-occurring multiplicative
    quantities are what follow it.)

    One map-side digit projection + a 9-row rollup; the expected
    frequencies are constants, so the whole comparison costs one
    aggregation pass at any volume."""
    import pyspark.sql.functions as F

    ev = T(spark, sf_dir, "events").filter(F.col("value") >= 1.0)
    digit = F.substring(
        F.floor("value").cast("long").cast("string"), 1, 1
    )
    c = ev.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("n")
    )
    t = c.agg(F.sum("n").alias("total"))
    benford = F.log(1.0 + 1.0 / F.col("digit").cast("double")) / F.log(
        F.lit(10.0)
    )
    return c.crossJoin(F.broadcast(t)).select(
        "digit",
        F.col("n").cast("long").alias("n"),
        (
            F.floor(F.col("n").cast("double") / F.col("total") * 1e6) / 1e6
        ).alias("observed_freq"),
        F.round(benford, 6).alias("benford_freq"),
        F.round(
            F.abs(F.col("n").cast("double") / F.col("total") - benford), 6
        ).alias("abs_deviation"),
    )


# --- Poisson bootstrap -------------------------------------------------------

# Poisson(1) CDF at k = 0..5, pinned as identical 17-digit literals on
# both engines (the inverse-CDF ladder below caps the weight at 6; the
# tail mass beyond 5 is 5.9e-4). Deterministic u from md5 makes every
# replicate reproducible and exactly oracle-checkable.
_POIS_CDF = (
    "0.36787944117144233",
    "0.7357588823428847",
    "0.9196986029286058",
    "0.9810118431238463",
    "0.9963401531726563",
    "0.9994058151824183",
)

_HEX8_DUCK = (
    "list_sum(list_transform(range(1, 9), k ->"
    " (strpos('0123456789abcdef', substr({h}, k, 1)) - 1)"
    " * (1::BIGINT << (4 * (8 - k)))))"
)

_POIS_CASE_SQL = (
    "CASE "
    + " ".join(
        f"WHEN u < {c}::DOUBLE THEN {k}" for k, c in enumerate(_POIS_CDF)
    )
    + " ELSE 6 END"
)


@query(
    "bootstrap_ci_mean",
    oracle=f"""
    WITH rep AS (
      SELECT b,
             cast(round(o_totalprice * 100.0) AS BIGINT) AS cents,
             ({_HEX8_DUCK.format(h="md5(concat(cast(o_orderkey AS VARCHAR), '|', cast(b AS VARCHAR)))")})::DOUBLE
               / 4294967296.0 AS u
      FROM orders, range(64) AS t(b)
    ), w AS (
      SELECT b, cents, {_POIS_CASE_SQL} AS w FROM rep
    ), m AS (
      SELECT b,
             cast(sum(w * cents) AS BIGINT)::DOUBLE
               / (cast(sum(w) AS BIGINT) * 100.0)::DOUBLE AS mean_b
      FROM w GROUP BY b
    ), r AS (
      SELECT mean_b, row_number() OVER (ORDER BY mean_b, b) AS rn FROM m
    ), base AS (
      SELECT cast(count(*) AS BIGINT) AS n_rows,
             cast(sum(cast(round(o_totalprice * 100.0) AS BIGINT)) AS BIGINT)::DOUBLE
               / (count(*) * 100.0)::DOUBLE AS mean_raw
      FROM orders
    )
    SELECT base.n_rows,
           cast(64 AS BIGINT) AS n_replicates,
           floor(base.mean_raw * 1e6) / 1e6 AS mean,
           floor(min(CASE WHEN rn = 2  THEN mean_b END) * 1e6) / 1e6 AS ci_lo_95,
           floor(min(CASE WHEN rn = 63 THEN mean_b END) * 1e6) / 1e6 AS ci_hi_95
    FROM r, base
    GROUP BY base.n_rows, base.mean_raw
    """,
)
def bootstrap_ci_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% bootstrap confidence interval for the mean order price via
    the POISSON bootstrap (Chamandy et al. 2012) — the distributed form
    of resampling: instead of materializing B resamples (impossible when
    one resample is 100 TB), every row draws an independent Poisson(1)
    replication weight per replicate, and each replicate mean is a
    weighted aggregate. 64 replicates; the CI is the 2nd/63rd ranked
    replicate mean (2.5%/97.5% ceil convention, stated explicitly so no
    engine-specific percentile interpolation is involved).

    Exactness discipline: prices become integer cents BEFORE any sum
    (float-sum association across partitions can otherwise land a mean
    exactly on a rounding boundary — the hourly-interpolation lesson),
    weights come from an md5 uniform pushed through a pinned-literal
    inverse-CDF ladder, so every replicate sum is integer-exact on both
    engines and the final division is one bit-stable IEEE op.

    At 100 TB: the explode is map-side (64x row fan-out feeding a
    64-group partial/final aggregate — each partition emits 64 partial
    sums, not 64x rows to the shuffle); no global sort, no second scan
    of the data; ranking 64 replicate means is driver-trivial."""
    o = T(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100.0).cast("long").alias("cents"),
    )
    # single-file corpus: spread the 64x md5 fan-out across all cores
    # (identity no-op on a real multi-split scan)
    rep = fan_out_scan(o).select(
        "o_orderkey",
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(63))).alias("b"),
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("o_orderkey").cast("string"),
                        F.lit("|"),
                        F.col("b").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        / 4294967296.0
    )
    w = F.lit(6)
    for k in range(5, -1, -1):
        w = F.when(u < float(_POIS_CDF[k]), F.lit(k)).otherwise(w)
    m = (
        rep.select("b", "cents", w.alias("w"))
        .groupBy("b")
        .agg(
            (
                F.sum(F.col("w") * F.col("cents")).cast("long").cast("double")
                / (F.sum("w").cast("long") * 100.0)
            ).alias("mean_b")
        )
    )
    r = m.select(
        "mean_b",
        F.row_number().over(Window.orderBy("mean_b", "b")).alias("rn"),
    )
    base = o.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        (
            F.sum("cents").cast("long").cast("double")
            / (F.count(F.lit(1)) * 100.0)
        ).alias("mean_raw"),
    )
    t6 = lambda c: F.floor(c * 1e6) / 1e6  # noqa: E731
    ci = r.agg(
        F.min(F.when(F.col("rn") == 2, F.col("mean_b"))).alias("lo"),
        F.min(F.when(F.col("rn") == 63, F.col("mean_b"))).alias("hi"),
    )
    return base.crossJoin(F.broadcast(ci)).select(
        "n_rows",
        F.lit(64).cast("long").alias("n_replicates"),
        t6(F.col("mean_raw")).alias("mean"),
        t6(F.col("lo")).alias("ci_lo_95"),
        t6(F.col("hi")).alias("ci_hi_95"),
    )


@query(
    "column_mutual_information",
    oracle="""
    WITH cells AS (
      SELECT event_type AS x,
             least(cast(floor(value / 100.0::DOUBLE) AS BIGINT), 4) AS y,
             count(*) AS nxy
      FROM events GROUP BY 1, 2
    ), m AS (
      SELECT x, y, nxy,
             sum(nxy) OVER (PARTITION BY x) AS nx,
             sum(nxy) OVER (PARTITION BY y) AS ny,
             sum(nxy) OVER ()               AS n
      FROM cells
    ), mi AS (
      SELECT cast(max(n) AS BIGINT) AS n_events,
             sum(nxy::DOUBLE / n
                 * ln((nxy::DOUBLE * n) / (nx::DOUBLE * ny))) AS mi_nats
      FROM m
    ), hx AS (
      SELECT -sum(nx::DOUBLE / n * ln(nx::DOUBLE / n)) AS h
      FROM (SELECT x, max(nx) AS nx, max(n) AS n FROM m GROUP BY x)
    ), hy AS (
      SELECT -sum(ny::DOUBLE / n * ln(ny::DOUBLE / n)) AS h
      FROM (SELECT y, max(ny) AS ny, max(n) AS n FROM m GROUP BY y)
    )
    SELECT mi.n_events,
           round(mi.mi_nats, 6) AS mi_nats,
           round(hx.h, 6) AS h_type,
           round(hy.h, 6) AS h_bin,
           round(mi.mi_nats / sqrt(hx.h * hy.h), 6) AS nmi
    FROM mi, hx, hy
    """,
)
def column_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information (nats) between event type and the event's
    value band, with both marginal entropies and the normalized MI —
    the model-free dependence screen feature selection runs before
    committing to a column pair (correlation only sees linear signal;
    MI sees any).

    Plan: one contingency aggregation (cells bounded by |types| x
    |bins|, here 5 x 5), margins via window sums over that tiny cell
    table, and the MI/entropy folds as single aggregates — the data is
    touched once. Every probability is a ratio of exact integer counts,
    products stay under 2^53, and each engine sums the same <=25 ln
    terms, so round 6 absorbs libm ulps.

    At 100 TB: the cell table is the only state; extending to a
    feature-scan (MI of target vs every column) is one such aggregate
    per candidate, all sharing the scan."""
    ev = T(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.col("event_type").alias("x"),
        F.least(F.floor(F.col("value") / 100.0).cast("long"), F.lit(4)).alias(
            "y"
        ),
    ).agg(F.count(F.lit(1)).alias("nxy"))
    wx = Window.partitionBy("x")
    wy = Window.partitionBy("y")
    wall = Window.partitionBy()
    m = cells.select(
        "x",
        "y",
        "nxy",
        F.sum("nxy").over(wx).alias("nx"),
        F.sum("nxy").over(wy).alias("ny"),
        F.sum("nxy").over(wall).alias("n"),
    ).localCheckpoint()
    mi = m.agg(
        F.max("n").cast("long").alias("n_events"),
        F.sum(
            F.col("nxy").cast("double")
            / F.col("n")
            * F.log(
                (F.col("nxy").cast("double") * F.col("n"))
                / (F.col("nx").cast("double") * F.col("ny"))
            )
        ).alias("mi_nats"),
    )
    hx = (
        m.groupBy("x")
        .agg(F.max("nx").alias("nx"), F.max("n").alias("n"))
        .agg(
            (
                -F.sum(
                    F.col("nx").cast("double")
                    / F.col("n")
                    * F.log(F.col("nx").cast("double") / F.col("n"))
                )
            ).alias("h_type")
        )
    )
    hy = (
        m.groupBy("y")
        .agg(F.max("ny").alias("ny"), F.max("n").alias("n"))
        .agg(
            (
                -F.sum(
                    F.col("ny").cast("double")
                    / F.col("n")
                    * F.log(F.col("ny").cast("double") / F.col("n"))
                )
            ).alias("h_bin")
        )
    )
    return (
        mi.crossJoin(F.broadcast(hx))
        .crossJoin(F.broadcast(hy))
        .select(
            "n_events",
            F.round("mi_nats", 6).alias("mi_nats"),
            F.round("h_type", 6).alias("h_type"),
            F.round("h_bin", 6).alias("h_bin"),
            F.round(
                F.col("mi_nats") / F.sqrt(F.col("h_type") * F.col("h_bin")), 6
            ).alias("nmi"),
        )
    )


@query(
    "did_revenue_estimator",
    oracle="""
    WITH cells AS (
      SELECT CASE WHEN c.c_nationkey % 2 = 0 THEN 1 ELSE 0 END AS treated,
             CASE WHEN o.o_orderdate >= TIMESTAMP '1996-01-01'
                  THEN 1 ELSE 0 END AS post,
             o.o_totalprice AS y
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ), m AS (
      SELECT treated, post,
             cast(count(*) AS BIGINT) AS n, avg(y) AS mean_y
      FROM cells GROUP BY 1, 2
    )
    SELECT cast(t.treated AS BIGINT) AS treated,
           t.n_pre, t.n_post,
           round(t.m_pre, 6) AS mean_pre,
           round(t.m_post, 6) AS mean_post,
           round(t.m_post - t.m_pre, 6) AS delta,
           round(max(t.m_post - t.m_pre)
                   FILTER (t.treated = 1) OVER ()
                 - max(t.m_post - t.m_pre)
                   FILTER (t.treated = 0) OVER (), 6) AS did
    FROM (
      SELECT treated,
             max(n)      FILTER (post = 0) AS n_pre,
             max(n)      FILTER (post = 1) AS n_post,
             max(mean_y) FILTER (post = 0) AS m_pre,
             max(mean_y) FILTER (post = 1) AS m_post
      FROM m GROUP BY treated
    ) t
    """,
)
def did_revenue_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: the 2x2 panel estimator (treated =
    even-nation customers, post = orders from 1996 on) — the workhorse
    for policy/rollout effects when randomization isn't available. The
    DiD column repeats the single estimate on both rows: the treated
    group's pre->post change minus the control group's, which nets out
    both the level difference between groups and the common time trend.

    Plan: one fact-dim join (dim broadcast), one 4-cell aggregation,
    then scalar arithmetic on the 4-cell table — the data is touched
    once and every statistic is a mean of one cell. At 100 TB the join
    shuffles nothing (broadcast) and the aggregate is partial/final."""
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    cells = o.join(
        # customer is DATA-SIZED (SFx150k rows): no hint, AQE decides
        c.select("c_custkey", "c_nationkey"),
        o["o_custkey"] == F.col("c_custkey"),
    ).select(
        F.when(F.col("c_nationkey") % 2 == 0, 1).otherwise(0).alias("treated"),
        F.when(
            F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"), 1
        )
        .otherwise(0)
        .alias("post"),
        F.col("o_totalprice").alias("y"),
    )
    m = cells.groupBy("treated", "post").agg(
        F.count(F.lit(1)).cast("long").alias("n"), F.avg("y").alias("mean_y")
    )
    t = m.groupBy("treated").agg(
        F.max(F.when(F.col("post") == 0, F.col("n"))).alias("n_pre"),
        F.max(F.when(F.col("post") == 1, F.col("n"))).alias("n_post"),
        F.max(F.when(F.col("post") == 0, F.col("mean_y"))).alias("m_pre"),
        F.max(F.when(F.col("post") == 1, F.col("mean_y"))).alias("m_post"),
    )
    wall = Window.partitionBy()
    delta = F.col("m_post") - F.col("m_pre")
    did = F.max(F.when(F.col("treated") == 1, delta)).over(wall) - F.max(
        F.when(F.col("treated") == 0, delta)
    ).over(wall)
    return t.select(
        F.col("treated").cast("long").alias("treated"),
        "n_pre",
        "n_post",
        F.round("m_pre", 6).alias("mean_pre"),
        F.round("m_post", 6).alias("mean_post"),
        F.round(delta, 6).alias("delta"),
        F.round(did, 6).alias("did"),
    )


@query(
    "cuped_adjusted_metric",
    oracle="""
    WITH pp AS (
      SELECT user_id,
             sum(CASE WHEN ts >= TIMESTAMP '2024-01-01'
                       AND ts < TIMESTAMP '2024-01-08'
                 THEN value ELSE 0.0::DOUBLE END) AS pre,
             sum(CASE WHEN ts >= TIMESTAMP '2024-01-08'
                       AND ts < TIMESTAMP '2024-01-15'
                 THEN value ELSE 0.0::DOUBLE END) AS post
      FROM events GROUP BY 1
    ), s AS (
      SELECT count(*) AS n,
             avg(pre) AS mpre, avg(post) AS mpost,
             covar_samp(post, pre) AS cov, var_samp(pre) AS vpre,
             var_samp(post) AS vpost
      FROM pp
    ), t AS (
      SELECT *, cov / vpre AS theta FROM s
    )
    SELECT cast(n AS BIGINT) AS n_users,
           round(mpost, 6) AS mean_post,
           round(theta, 6) AS theta,
           round(vpost, 6) AS var_post,
           round(vpost + theta * theta * vpre
                 - 2.0::DOUBLE * theta * cov, 6) AS var_cuped,
           floor((1.0::DOUBLE - (vpost + theta * theta * vpre
                                 - 2.0::DOUBLE * theta * cov) / vpost)
                 * 1e6) / 1e6 AS variance_reduction
    FROM t
    """,
)
def cuped_adjusted_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al. 2013) — the standard
    experimentation trick: adjust each user's experiment-period metric
    by their PRE-period metric (theta = cov/var), shrinking metric
    variance by the squared correlation and cutting required sample
    sizes proportionally. Reported: theta, raw vs adjusted variance,
    and the realized variance-reduction share.

    Plan: one per-user aggregation builds the (pre, post) pairs (both
    periods folded from the same scan — no second pass), then ONE
    moment aggregate (covar_samp/var_samp are single-pass partial/final
    in both engines); the adjusted variance uses the closed form
    var(post) + theta^2 var(pre) - 2 theta cov so no second scan over
    adjusted values is needed. At 100 TB: one user-key shuffle, then
    scalar math."""
    ev = T(spark, sf_dir, "events")
    pre_w = (F.col("ts") >= F.lit("2024-01-01").cast("timestamp")) & (
        F.col("ts") < F.lit("2024-01-08").cast("timestamp")
    )
    post_w = (F.col("ts") >= F.lit("2024-01-08").cast("timestamp")) & (
        F.col("ts") < F.lit("2024-01-15").cast("timestamp")
    )
    pp = ev.groupBy("user_id").agg(
        F.sum(F.when(pre_w, F.col("value")).otherwise(0.0)).alias("pre"),
        F.sum(F.when(post_w, F.col("value")).otherwise(0.0)).alias("post"),
    )
    s = pp.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.avg("pre").alias("mpre"),
        F.avg("post").alias("mpost"),
        F.covar_samp("post", "pre").alias("cov"),
        F.var_samp("pre").alias("vpre"),
        F.var_samp("post").alias("vpost"),
    )
    theta = F.col("cov") / F.col("vpre")
    var_cuped = (
        F.col("vpost")
        + theta * theta * F.col("vpre")
        - 2.0 * theta * F.col("cov")
    )
    return s.select(
        F.col("n").alias("n_users"),
        F.round("mpost", 6).alias("mean_post"),
        F.round(theta, 6).alias("theta"),
        F.round("vpost", 6).alias("var_post"),
        F.round(var_cuped, 6).alias("var_cuped"),
        (F.floor((F.lit(1.0) - var_cuped / F.col("vpost")) * 1e6) / 1e6).alias(
            "variance_reduction"
        ),
    )


_CONF_HEX6 = (
    "list_sum(list_transform(range(1, 7), k ->"
    " (strpos('0123456789abcdef', substr(md5({x}), k, 1)) - 1)"
    " * (1 << (4 * (6 - k)))))"
)


@query(
    "conformal_prediction_intervals",
    oracle=f"""
    WITH b AS (
      SELECT event_type,
             ({_CONF_HEX6.format(x="cast(event_id AS VARCHAR)")}) % 3 AS fold,
             (epoch(ts) - 1704067200.0) / 86400.0 AS x,
             value AS y
      FROM events
    ), fit AS (
      SELECT event_type,
             round((count(*) * sum(x*y) - sum(x) * sum(y))
                   / (count(*) * sum(x*x) - sum(x) * sum(x)), 6) AS slope,
             round((sum(y) - (count(*) * sum(x*y) - sum(x) * sum(y))
                             / (count(*) * sum(x*x) - sum(x) * sum(x))
                             * sum(x)) / count(*), 6) AS icept,
             cast(count(*) AS BIGINT) AS n_fit
      FROM b WHERE fold = 0 GROUP BY event_type
    ), cal AS (
      SELECT b.event_type,
             round(abs(b.y - (f.icept + f.slope * b.x)), 6) AS r
      FROM b JOIN fit f ON f.event_type = b.event_type
      WHERE b.fold = 1
    ), caln AS (
      SELECT event_type, cast(count(*) AS BIGINT) AS n_cal FROM cal GROUP BY 1
    ), q AS (
      SELECT c.event_type, c.r AS qhat
      FROM (SELECT event_type, r,
                   row_number() OVER (PARTITION BY event_type ORDER BY r) AS rn
            FROM cal) c
      JOIN caln n ON n.event_type = c.event_type
      WHERE c.rn = cast(ceil(0.9::DOUBLE * (n.n_cal + 1)) AS BIGINT)
    ), ev AS (
      SELECT b.event_type,
             cast(count(*) AS BIGINT) AS n_eval,
             cast(sum(CASE WHEN round(abs(b.y - (f.icept + f.slope * b.x)), 6)
                               <= q.qhat THEN 1 ELSE 0 END) AS BIGINT)
               AS n_covered
      FROM b
      JOIN fit f ON f.event_type = b.event_type
      JOIN q ON q.event_type = b.event_type
      WHERE b.fold = 2
      GROUP BY b.event_type
    )
    SELECT f.event_type, f.n_fit, n.n_cal, e.n_eval,
           f.slope, f.icept,
           round(q.qhat, 6) AS qhat,
           floor(e.n_covered::DOUBLE / e.n_eval * 1e6) / 1e6 AS coverage
    FROM fit f
    JOIN caln n ON n.event_type = f.event_type
    JOIN q ON q.event_type = f.event_type
    JOIN ev e ON e.event_type = f.event_type
    """,
)
def conformal_prediction_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals (Vovk 2005 / Lei et al.
    2018) around the per-type value trend: fit the OLS line on fold 0,
    take qhat = the ceil(0.9(n+1))-th smallest absolute residual on
    calibration fold 1 (the finite-sample-valid 90% quantile — an
    EXPLICIT order statistic, no engine percentile interpolation), and
    report honest empirical coverage on held-out fold 2. Distribution-
    free uncertainty: the ~90% guarantee needs only exchangeability,
    no Gaussian residual assumption.

    Float discipline: fitted slope/intercept are rounded to 6 dp in
    BOTH engines before any residual is formed (re-synchronizing
    sum-order ulps at the source, the PageRank trick), and residuals
    are rounded to 6 dp BEFORE ranking and BEFORE the coverage compare
    so the order statistic and the <= test are engine-stable.

    At 100 TB: md5 folds are map-side; the fit is the one-pass
    sufficient-statistics aggregate; qhat is a per-type order statistic
    (rank window partitioned by type over calibration rows — swap for
    the bounded-bin locate/resolve of quantity_weighted_median_price if
    a single type's calibration set outgrows a task); coverage is one
    more aggregate."""
    ev = T(spark, sf_dir, "events")
    fold = (
        F.conv(
            F.substring(F.md5(F.col("event_id").cast("string")), 1, 6), 16, 10
        ).cast("long")
        % 3
    )
    x = (F.col("ts").cast("double") - 1704067200.0) / 86400.0
    b = ev.select(
        "event_type",
        fold.alias("fold"),
        x.alias("x"),
        F.col("value").alias("y"),
    ).localCheckpoint()
    f0 = b.filter(F.col("fold") == 0)
    agg = f0.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    slope_raw = (
        F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    ) / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    fit = agg.select(
        F.col("event_type").alias("ft"),
        F.round(slope_raw, 6).alias("slope"),
        F.round(
            (F.col("sy") - slope_raw * F.col("sx")) / F.col("n"), 6
        ).alias("icept"),
        F.col("n").cast("long").alias("n_fit"),
    ).localCheckpoint()
    resid6 = F.round(
        F.abs(F.col("y") - (F.col("icept") + F.col("slope") * F.col("x"))), 6
    )
    cal = (
        b.filter(F.col("fold") == 1)
        .join(F.broadcast(fit), F.col("event_type") == F.col("ft"))
        .select("event_type", resid6.alias("r"))
    )
    caln = cal.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_cal")
    )
    ranked = cal.select(
        "event_type",
        "r",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("r"))
        .alias("rn"),
    )
    q = ranked.join(
        F.broadcast(caln), "event_type"
    ).filter(
        F.col("rn")
        == F.ceil(0.9 * (F.col("n_cal") + 1)).cast("long")
    ).select("event_type", F.col("r").alias("qhat"), "n_cal")
    evl = (
        b.filter(F.col("fold") == 2)
        .join(F.broadcast(fit), F.col("event_type") == F.col("ft"))
        .join(F.broadcast(q.select(F.col("event_type").alias("qt"), "qhat")),
              F.col("event_type") == F.col("qt"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_eval"),
            F.sum(F.when(resid6 <= F.col("qhat"), 1).otherwise(0))
            .cast("long")
            .alias("n_covered"),
        )
    )
    q2 = q.select(
        F.col("event_type").alias("qe"), F.col("qhat"), F.col("n_cal")
    )
    evl2 = evl.select(
        F.col("event_type").alias("ee"), "n_eval", "n_covered"
    )
    return (
        fit.join(F.broadcast(q2), F.col("ft") == F.col("qe"))
        .join(F.broadcast(evl2), F.col("ee") == F.col("ft"))
        .select(
            F.col("ft").alias("event_type"),
            "n_fit",
            "n_cal",
            "n_eval",
            "slope",
            "icept",
            F.round("qhat", 6).alias("qhat"),
            (
                F.floor(
                    F.col("n_covered").cast("double") / F.col("n_eval") * 1e6
                )
                / 1e6
            ).alias("coverage"),
        )
    )


_NEYMAN_BUDGET = 1000


@query(
    "neyman_allocation_plan",
    oracle=f"""
    WITH s AS (
      SELECT o_orderpriority AS stratum,
             cast(count(*) AS BIGINT) AS n_h,
             stddev_samp(o_totalprice) AS sd_h
      FROM orders GROUP BY 1
    ), t AS (
      SELECT *,
             sum(n_h) OVER () AS n_total,
             sum(n_h * sd_h) OVER () AS nsd_total
      FROM s
    )
    SELECT stratum, n_h,
           round(sd_h, 6) AS sd_h,
           cast(floor({_NEYMAN_BUDGET}::DOUBLE * n_h / n_total) AS BIGINT)
             AS alloc_proportional,
           cast(floor({_NEYMAN_BUDGET}::DOUBLE * n_h * sd_h / nsd_total)
                AS BIGINT) AS alloc_neyman,
           round(pow(n_h::DOUBLE / n_total * sd_h, 2)
                 / ({_NEYMAN_BUDGET}::DOUBLE * n_h / n_total), 6)
             AS var_term_proportional,
           round(pow(n_h::DOUBLE / n_total * sd_h, 2)
                 / ({_NEYMAN_BUDGET}::DOUBLE * n_h * sd_h / nsd_total), 6)
             AS var_term_neyman
    FROM t
    """,
)
def neyman_allocation_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sampling allocation (Neyman 1934): for
    a fixed audit budget of {_NEYMAN_BUDGET} samples over order-priority
    strata, allocate n_h proportional to N_h * sigma_h — the allocation
    that minimizes the variance of the stratified mean estimator — shown
    against naive proportional allocation with each stratum's
    contribution to the estimator variance under both plans. This is
    how a 100 TB pipeline decides WHERE to spend a bounded QA/labeling
    budget: volatile strata get disproportionally many samples.

    Plan: one moment aggregation per stratum (count + single-pass
    stddev), window totals over the |strata|-row table, closed-form
    allocations. The expensive part is one partial/final aggregate;
    everything else is arithmetic on a handful of rows."""
    s = T(spark, sf_dir, "orders").groupBy(
        F.col("o_orderpriority").alias("stratum")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_h"),
        F.stddev_samp("o_totalprice").alias("sd_h"),
    )
    wall = Window.partitionBy()
    t = s.select(
        "stratum",
        "n_h",
        "sd_h",
        F.sum("n_h").over(wall).alias("n_total"),
        F.sum(F.col("n_h") * F.col("sd_h")).over(wall).alias("nsd_total"),
    )
    share = F.col("n_h").cast("double") / F.col("n_total")
    prop = F.lit(float(_NEYMAN_BUDGET)) * share
    ney = (
        F.lit(float(_NEYMAN_BUDGET))
        * F.col("n_h")
        * F.col("sd_h")
        / F.col("nsd_total")
    )
    return t.select(
        "stratum",
        "n_h",
        F.round("sd_h", 6).alias("sd_h"),
        F.floor(prop).cast("long").alias("alloc_proportional"),
        F.floor(ney).cast("long").alias("alloc_neyman"),
        F.round(F.pow(share * F.col("sd_h"), 2) / prop, 6).alias(
            "var_term_proportional"
        ),
        F.round(F.pow(share * F.col("sd_h"), 2) / ney, 6).alias(
            "var_term_neyman"
        ),
    )


@query(
    "eb_shrunk_nation_rates",
    oracle="""
    WITH u AS (
      SELECT c.c_nationkey AS nation,
             CASE WHEN o.o_totalprice > 300000.0::DOUBLE THEN 1 ELSE 0 END
               AS big
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ), g AS (
      SELECT nation, cast(count(*) AS BIGINT) AS n,
             cast(sum(big) AS BIGINT) AS k
      FROM u GROUP BY 1
    ), pool AS (
      SELECT sum(k)::DOUBLE / sum(n) AS p0,
             avg(pow(k::DOUBLE / n - (SELECT sum(k)::DOUBLE / sum(n) FROM g),
                     2)) AS between_var,
             avg(1.0::DOUBLE / n) AS inv_n
      FROM g
    ), m AS (
      SELECT p0,
             greatest(between_var - p0 * (1.0::DOUBLE - p0) * inv_n,
                      1e-9::DOUBLE) AS tau2
      FROM pool
    )
    SELECT g.nation, g.n, g.k,
           round(g.k::DOUBLE / g.n, 6) AS raw_rate,
           round((g.k + m.p0 * (m.p0 * (1.0::DOUBLE - m.p0) / m.tau2))
                 / (g.n + m.p0 * (1.0::DOUBLE - m.p0) / m.tau2), 6)
             AS shrunk_rate,
           round(m.p0, 6) AS pooled_rate
    FROM g, m
    """,
)
def eb_shrunk_nation_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes rate shrinkage: each nation's big-order rate
    shrunk toward the pooled rate with a method-of-moments prior
    strength m = p0(1-p0)/tau^2 (beta-binomial pseudo-counts), where
    tau^2 is the between-group variance left after removing expected
    binomial noise. Small-n groups shrink hard toward the pool, big-n
    groups barely move — the principled fix for "this tiny segment has
    a 100% rate" leaderboard artifacts.

    Plan: one fact-dim broadcast join, one per-group count aggregate,
    one scalar moment pass over the |groups|-row table, map-side
    shrinkage arithmetic. At 100 TB only the first aggregate touches
    data."""
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    u = o.join(
        # customer is DATA-SIZED (SFx150k rows): no hint, AQE decides
        c.select("c_custkey", "c_nationkey"),
        o["o_custkey"] == F.col("c_custkey"),
    ).select(
        F.col("c_nationkey").alias("nation"),
        F.when(F.col("o_totalprice") > 300000.0, 1).otherwise(0).alias("big"),
    )
    g = u.groupBy("nation").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("big").cast("long").alias("k"),
    ).localCheckpoint()
    pool0 = g.agg(
        (F.sum("k").cast("double") / F.sum("n")).alias("p0")
    )
    pool = (
        g.crossJoin(F.broadcast(pool0))
        .agg(
            F.max("p0").alias("p0"),
            F.avg(
                F.pow(
                    F.col("k").cast("double") / F.col("n") - F.col("p0"), 2
                )
            ).alias("between_var"),
            F.avg(F.lit(1.0) / F.col("n")).alias("inv_n"),
        )
    )
    m = pool.select(
        "p0",
        F.greatest(
            F.col("between_var")
            - F.col("p0") * (F.lit(1.0) - F.col("p0")) * F.col("inv_n"),
            F.lit(1e-9),
        ).alias("tau2"),
    )
    prior_m = F.col("p0") * (F.lit(1.0) - F.col("p0")) / F.col("tau2")
    return g.crossJoin(F.broadcast(m)).select(
        "nation",
        "n",
        "k",
        F.round(F.col("k").cast("double") / F.col("n"), 6).alias("raw_rate"),
        F.round(
            (F.col("k") + F.col("p0") * prior_m) / (F.col("n") + prior_m), 6
        ).alias("shrunk_rate"),
        F.round("p0", 6).alias("pooled_rate"),
    )


@query(
    "chi_square_cell_residuals",
    oracle="""
    WITH cells AS (
      SELECT event_type AS r, (value > 50) AS c,
             cast(count(*) AS DOUBLE) AS o
      FROM events GROUP BY 1, 2
    ), m AS (
      SELECT r, c, o,
             sum(o) OVER (PARTITION BY r) AS row_tot,
             sum(o) OVER (PARTITION BY c) AS col_tot,
             sum(o) OVER ()               AS grand
      FROM cells
    )
    SELECT r AS event_type, c AS high_value,
           cast(o AS BIGINT) AS observed,
           round(row_tot * col_tot / grand, 6) AS expected,
           round((o - row_tot * col_tot / grand)
                 / sqrt(row_tot * col_tot / grand), 6) AS pearson_resid,
           round((o - row_tot * col_tot / grand)
                 / sqrt(row_tot * col_tot / grand
                        * (1.0::DOUBLE - row_tot / grand)
                        * (1.0::DOUBLE - col_tot / grand)), 6)
             AS adj_resid
    FROM m
    """,
)
def chi_square_cell_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell diagnostics for the chi-square independence test
    (chi_square_event_value's itemized companion): observed vs expected
    counts, Pearson residuals, and Haberman's adjusted standardized
    residuals (approximately N(0,1) under independence — |adj| > 2 names
    WHICH cells drive a significant chi-square, the question the
    omnibus statistic can't answer).

    Plan: the identical one-pass contingency aggregate as the omnibus
    test, window margins over the |r| x |c| cell table, map-side
    residual arithmetic — all statistics are ratios of exact integer
    counts. At 100 TB: one shuffle, then cell-table math."""
    ev = T(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.col("event_type").alias("r"),
        (F.col("value") > 50).alias("c"),
    ).agg(F.count(F.lit(1)).cast("double").alias("o"))
    m = cells.select(
        "r",
        "c",
        "o",
        F.sum("o").over(Window.partitionBy("r")).alias("row_tot"),
        F.sum("o").over(Window.partitionBy("c")).alias("col_tot"),
        F.sum("o").over(Window.partitionBy()).alias("grand"),
    )
    exp = F.col("row_tot") * F.col("col_tot") / F.col("grand")
    return m.select(
        F.col("r").alias("event_type"),
        F.col("c").alias("high_value"),
        F.col("o").cast("long").alias("observed"),
        F.round(exp, 6).alias("expected"),
        F.round((F.col("o") - exp) / F.sqrt(exp), 6).alias("pearson_resid"),
        F.round(
            (F.col("o") - exp)
            / F.sqrt(
                exp
                * (F.lit(1.0) - F.col("row_tot") / F.col("grand"))
                * (F.lit(1.0) - F.col("col_tot") / F.col("grand"))
            ),
            6,
        ).alias("adj_resid"),
    )


_QTE_HEX6 = (
    "list_sum(list_transform(range(1, 7), k ->"
    " (strpos('0123456789abcdef', substr(md5({x}), k, 1)) - 1)"
    " * (1 << (4 * (6 - k)))))"
)


@query(
    "quantile_treatment_effects",
    oracle=f"""
    WITH u AS (
      SELECT user_id,
             CASE WHEN ({_QTE_HEX6.format(x="cast(user_id AS VARCHAR)")}) % 2 = 0
                  THEN 1 ELSE 0 END AS arm,
             round(sum(value), 6) AS outcome
      FROM events GROUP BY 1
    ), n AS (
      SELECT arm, cast(count(*) AS BIGINT) AS n FROM u GROUP BY 1
    ), r AS (
      SELECT arm, outcome,
             row_number() OVER (PARTITION BY arm
                                ORDER BY outcome, user_id) AS rn
      FROM u
    ), qs AS (
      SELECT q FROM (VALUES (0.25), (0.5), (0.75)) t(q)
    ), pick AS (
      SELECT qs.q, r.arm, r.outcome
      FROM qs, r JOIN n ON n.arm = r.arm
      WHERE r.rn = cast(ceil(qs.q * n.n) AS BIGINT)
    )
    SELECT q AS quantile,
           max(CASE WHEN arm = 1 THEN outcome END) AS treated_value,
           max(CASE WHEN arm = 0 THEN outcome END) AS control_value,
           round(max(CASE WHEN arm = 1 THEN outcome END)
                 - max(CASE WHEN arm = 0 THEN outcome END), 6) AS qte
    FROM pick GROUP BY q
    """,
)
def quantile_treatment_effects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effects: the difference between treated and
    control outcome QUANTILES (p25/p50/p75 of per-user total value under
    deterministic md5 assignment) — the distributional readout an
    average treatment effect hides: a rollout can leave the mean flat
    while compressing the lower tail and stretching the upper.

    Each quantile is an explicit ceil(q*n)-th order statistic (no engine
    percentile interpolation), per-user outcomes are rounded to 6 dp
    before ranking so the order — and therefore the picked value — is
    engine-stable (sum-order ulps cannot flip a rank; per-user sums of
    2-dp values sit far from 6-dp rounding boundaries).

    At 100 TB: one user-key aggregate, then a rank window per arm —
    swap for the bounded-bin locate/resolve pattern
    (quantity_weighted_median_price) if one arm outgrows a task."""
    ev = T(spark, sf_dir, "events")
    arm = (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 6), 16, 10
        ).cast("long")
        % 2
        == 0
    )
    u = ev.groupBy("user_id").agg(
        F.round(F.sum("value"), 6).alias("outcome")
    ).select(
        "user_id",
        "outcome",
        F.when(arm, 1).otherwise(0).alias("arm"),
    )
    n = u.groupBy("arm").agg(F.count(F.lit(1)).cast("long").alias("n"))
    r = u.select(
        "arm",
        "outcome",
        F.row_number()
        .over(Window.partitionBy("arm").orderBy("outcome", "user_id"))
        .alias("rn"),
    )
    qs = (
        ev.sparkSession.createDataFrame(
            [(0.25,), (0.5,), (0.75,)], ["q"]
        )
    )
    pick = (
        r.join(F.broadcast(n), "arm")
        .crossJoin(F.broadcast(qs))
        .filter(F.col("rn") == F.ceil(F.col("q") * F.col("n")).cast("long"))
        .select("q", "arm", "outcome")
    )
    return pick.groupBy(F.col("q").alias("quantile")).agg(
        F.max(F.when(F.col("arm") == 1, F.col("outcome"))).alias(
            "treated_value"
        ),
        F.max(F.when(F.col("arm") == 0, F.col("outcome"))).alias(
            "control_value"
        ),
        F.round(
            F.max(F.when(F.col("arm") == 1, F.col("outcome")))
            - F.max(F.when(F.col("arm") == 0, F.col("outcome"))),
            6,
        ).alias("qte"),
    )


@query(
    "ucb_arm_selection",
    oracle="""
    WITH arms AS (
      SELECT event_type AS arm,
             cast(count(*) AS BIGINT) AS n_pulls,
             avg(CASE WHEN value > 250.0::DOUBLE THEN 1.0::DOUBLE
                 ELSE 0.0::DOUBLE END) AS mean_reward
      FROM events GROUP BY 1
    ), t AS (
      SELECT *, sum(n_pulls) OVER () AS n_total FROM arms
    ), s AS (
      SELECT arm, n_pulls, mean_reward,
             mean_reward + sqrt(2.0::DOUBLE * ln(n_total::DOUBLE)
                                / n_pulls) AS ucb
      FROM t
    )
    SELECT arm, n_pulls,
           round(mean_reward, 6) AS mean_reward,
           round(ucb, 6) AS ucb_score,
           CASE WHEN ucb = (SELECT max(ucb) FROM s) THEN 1 ELSE 0 END
             AS selected
    FROM s
    """,
)
def ucb_arm_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UCB1 bandit readout (Auer et al. 2002): per-arm pull counts,
    empirical reward rate (value > 250 as the reward event), and the
    upper-confidence score mean + sqrt(2 ln N / n) — the arm a UCB1
    policy would pull next is flagged. This is the adaptive-allocation
    companion to the fixed-split A/B test (ab_test_two_proportion):
    same sufficient statistics, exploration bonus instead of a p-value.

    Plan: one partial/final aggregate per arm, window total, scalar
    score arithmetic — the entire bandit state is |arms| rows, which is
    exactly why bandit serving layers can update it per-batch at any
    scale."""
    arms = T(spark, sf_dir, "events").groupBy(
        F.col("event_type").alias("arm")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_pulls"),
        F.avg(
            F.when(F.col("value") > 250.0, 1.0).otherwise(0.0)
        ).alias("mean_reward"),
    )
    t = arms.select(
        "arm",
        "n_pulls",
        "mean_reward",
        F.sum("n_pulls").over(Window.partitionBy()).alias("n_total"),
    )
    ucb = F.col("mean_reward") + F.sqrt(
        2.0 * F.log(F.col("n_total").cast("double")) / F.col("n_pulls")
    )
    s = t.select(
        "arm", "n_pulls", "mean_reward", ucb.alias("ucb")
    )
    return s.select(
        "arm",
        "n_pulls",
        F.round("mean_reward", 6).alias("mean_reward"),
        F.round("ucb", 6).alias("ucb_score"),
        F.when(
            F.col("ucb") == F.max("ucb").over(Window.partitionBy()), 1
        )
        .otherwise(0)
        .alias("selected"),
    )


_RD_CUT = 200000.0  # o_totalprice cutoff
_RD_BW = 100000.0  # local-linear bandwidth


@query(
    "rd_discontinuity_estimate",
    oracle=f"""
    WITH w AS (
      SELECT CASE WHEN o_totalprice >= {_RD_CUT} THEN 1 ELSE 0 END AS side,
             (o_totalprice - {_RD_CUT}) / {_RD_BW} AS x,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END AS y
      FROM orders
      WHERE o_totalprice >= {_RD_CUT} - {_RD_BW}
        AND o_totalprice < {_RD_CUT} + {_RD_BW}
    ), fit AS (
      SELECT side, cast(count(*) AS BIGINT) AS n,
             (count(*) * sum(x*y) - sum(x) * sum(y))
               / (count(*) * sum(x*x) - sum(x) * sum(x)) AS slope,
             (sum(y) - (count(*) * sum(x*y) - sum(x) * sum(y))
                       / (count(*) * sum(x*x) - sum(x) * sum(x))
                       * sum(x)) / count(*) AS icept
      FROM w GROUP BY side
    )
    SELECT cast(side AS BIGINT) AS side, n,
           round(icept, 6) AS limit_at_cutoff,
           round(slope, 6) AS local_slope,
           round(max(icept) FILTER (side = 1) OVER ()
                 - max(icept) FILTER (side = 0) OVER (), 6) AS rd_effect
    FROM fit
    """,
)
def rd_discontinuity_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharp regression-discontinuity estimate (Thistlethwaite &
    Campbell 1960): the jump in the urgent-priority rate at the
    200k order-value cutoff, from separate local-linear fits on each
    side within a 100k bandwidth — each side's intercept IS its limit
    at the cutoff (the running variable is centered), and their
    difference is the RD effect. The third member of the causal
    toolkit next to DiD (parallel trends) and IPTW (observed
    confounders): RD needs only that nothing else jumps at the
    threshold.

    Plan: one pruned scan (the bandwidth filter reaches the parquet
    scan), one sufficient-statistics aggregate per side — the same
    one-pass closed-form OLS as ols_trend_by_event_type — then window
    algebra on the 2-row fit table."""
    o = T(spark, sf_dir, "orders").filter(
        (F.col("o_totalprice") >= _RD_CUT - _RD_BW)
        & (F.col("o_totalprice") < _RD_CUT + _RD_BW)
    )
    w = o.select(
        F.when(F.col("o_totalprice") >= _RD_CUT, 1).otherwise(0).alias("side"),
        ((F.col("o_totalprice") - _RD_CUT) / _RD_BW).alias("x"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1.0
        )
        .otherwise(0.0)
        .alias("y"),
    )
    fit = w.groupBy("side").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    icept = (F.col("sy") - slope * F.col("sx")) / F.col("n")
    t = fit.select(
        "side", F.col("n").cast("long").alias("n"),
        icept.alias("icept"), slope.alias("slope"),
    )
    wall = Window.partitionBy()
    return t.select(
        F.col("side").cast("long").alias("side"),
        "n",
        F.round("icept", 6).alias("limit_at_cutoff"),
        F.round("slope", 6).alias("local_slope"),
        F.round(
            F.max(F.when(F.col("side") == 1, F.col("icept"))).over(wall)
            - F.max(F.when(F.col("side") == 0, F.col("icept"))).over(wall),
            6,
        ).alias("rd_effect"),
    )


# z quantiles pinned as identical literals on both sides (power calc)
_Z_ALPHA = "1.959963984540054"  # Phi^-1(0.975)
_Z_BETA = "0.8416212335729143"  # Phi^-1(0.80)


@query(
    "power_sample_size_plan",
    oracle=f"""
    WITH base AS (
      SELECT avg(CASE WHEN o_orderpriority = '1-URGENT'
                 THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END) AS p0
      FROM orders
    ), mde AS (
      SELECT p0, m.rel AS rel_mde, p0 * (1.0::DOUBLE + m.rel) AS p1
      FROM base, (VALUES (0.02::DOUBLE), (0.05::DOUBLE),
                         (0.10::DOUBLE)) m(rel)
    )
    SELECT rel_mde,
           round(p0, 6) AS baseline_rate,
           round(p1, 6) AS target_rate,
           cast(ceil(pow({_Z_ALPHA}::DOUBLE * sqrt(2.0::DOUBLE * ((p0+p1)/2.0)
                           * (1.0::DOUBLE - (p0+p1)/2.0))
                         + {_Z_BETA}::DOUBLE
                           * sqrt(p0*(1.0::DOUBLE-p0) + p1*(1.0::DOUBLE-p1)), 2)
                     / pow(p1 - p0, 2)) AS BIGINT) AS n_per_arm
    FROM mde
    """,
)
def power_sample_size_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment-design power calculation: per-arm sample size for a
    two-proportion test at alpha=0.05 (two-sided), power=0.80, for
    relative MDEs of 2/5/10% over the OBSERVED baseline urgent-order
    rate — the pre-registration table an experimentation platform shows
    before any test launches (the design-time companion to
    ab_test_two_proportion's readout and ucb's adaptive allocation).

    The normal quantiles are pinned 17-digit literals on both engines
    (deriving them from erf would compound approximation error); the
    baseline comes from one aggregate; everything else is scalar
    closed-form arithmetic, so a 100 TB baseline costs one count."""
    base = T(spark, sf_dir, "orders").agg(
        F.avg(
            F.when(F.col("o_orderpriority") == "1-URGENT", 1.0).otherwise(0.0)
        ).alias("p0")
    )
    mdes = base.sparkSession.createDataFrame(
        [(0.02,), (0.05,), (0.10,)], ["rel_mde"]
    )
    t = base.crossJoin(F.broadcast(mdes)).withColumn(
        "p1", F.col("p0") * (F.lit(1.0) + F.col("rel_mde"))
    )
    pbar = (F.col("p0") + F.col("p1")) / 2.0
    za, zb = float(_Z_ALPHA), float(_Z_BETA)
    num = F.pow(
        F.lit(za) * F.sqrt(2.0 * pbar * (F.lit(1.0) - pbar))
        + F.lit(zb)
        * F.sqrt(
            F.col("p0") * (F.lit(1.0) - F.col("p0"))
            + F.col("p1") * (F.lit(1.0) - F.col("p1"))
        ),
        2,
    )
    return t.select(
        "rel_mde",
        F.round("p0", 6).alias("baseline_rate"),
        F.round("p1", 6).alias("target_rate"),
        F.ceil(num / F.pow(F.col("p1") - F.col("p0"), 2))
        .cast("long")
        .alias("n_per_arm"),
    )


@query(
    "distributed_auc_rank_sum",
    oracle="""
    WITH s AS (
      SELECT cast(floor(o_totalprice) AS BIGINT) AS score,
             cast(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                      THEN 1 ELSE 0 END) AS BIGINT) AS p,
             cast(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                      THEN 0 ELSE 1 END) AS BIGINT) AS q
      FROM orders GROUP BY 1
    ), c AS (
      SELECT p, q,
             coalesce(sum(q) OVER (ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS cum_q_before
      FROM s
    ), agg AS (
      SELECT cast(sum(p * (2 * cum_q_before + q)) AS BIGINT) AS num2,
             cast(sum(p) AS BIGINT) AS n_pos,
             cast(sum(q) AS BIGINT) AS n_neg,
             cast(count(*) AS BIGINT) AS n_scores
      FROM c
    )
    SELECT n_pos, n_neg, n_scores,
           floor(num2 * 1e6 / (2 * n_pos * n_neg)) / 1e6 AS auc,
           floor((num2 - n_pos * n_neg) * 1e6
                 / (n_pos * n_neg)) / 1e6 AS gini
    FROM agg
    """,
)
def distributed_auc_rank_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed AUC by the Mann-Whitney rank-sum identity: AUC =
    P(score_pos > score_neg) + P(tie)/2, computed WITHOUT a global
    per-row rank. Rows fold to a per-distinct-score (n_pos, n_neg)
    table; one ordered exclusive cumsum of negatives gives, for each
    score bin, how many negatives rank strictly below — so
    2*AUC*P*N = sum_bins p*(2*cum_neg_below + n_neg_bin), with the
    half-credit tie term exact because everything stays doubled
    integers until one final trunc6. Gini = 2*AUC - 1 falls out of the
    same integers.

    Scale shape: one partial/final aggregate over the data, then a
    window over the DISTINCT-SCORE table (score-cardinality-bounded —
    quantize scores to bound it explicitly at 100 TB); never a global
    row sort, which is how single-node AUC implementations die first."""
    lbl = F.when(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
    ).otherwise(0)
    s = (
        T(spark, sf_dir, "orders")
        .groupBy(
            F.floor(F.col("o_totalprice")).cast("long").alias("score")
        )
        .agg(
            F.sum(lbl).cast("long").alias("p"),
            F.sum(1 - lbl).cast("long").alias("q"),
        )
    )
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    c = s.withColumn(
        "cum_q_before", F.coalesce(F.sum("q").over(w), F.lit(0))
    )
    agg = c.agg(
        F.sum(
            F.col("p") * (2 * F.col("cum_q_before") + F.col("q"))
        )
        .cast("long")
        .alias("num2"),
        F.sum("p").cast("long").alias("n_pos"),
        F.sum("q").cast("long").alias("n_neg"),
        F.count(F.lit(1)).cast("long").alias("n_scores"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        "n_scores",
        (
            F.floor(
                F.col("num2") * F.lit(1e6) / (2 * F.col("n_pos") * F.col("n_neg"))
            )
            / 1e6
        ).alias("auc"),
        (
            F.floor(
                (F.col("num2") - F.col("n_pos") * F.col("n_neg"))
                * F.lit(1e6)
                / (F.col("n_pos") * F.col("n_neg"))
            )
            / 1e6
        ).alias("gini"),
    )


# --- Multiple linear regression via exact normal equations -------------------

# Cramer solve of the 3x3 system X'X b = X'y written ONCE and injected
# into both engines verbatim (selectExpr on the Spark side, a CTE
# projection in the oracle): every input is a sufficient statistic that
# was summed EXACTLY (128-bit decimal/hugeint integer sums) and cast to
# double through one deterministic IEEE rounding, so the closed-form
# arithmetic runs on bit-identical inputs on both sides.
_MLR_DETS = [
    """(n  * (s11 * s22 - s12 * s12)
      - sx1 * (sx1 * s22 - s12 * sx2)
      + sx2 * (sx1 * s12 - s11 * sx2)) AS det""",
    """(sy  * (s11 * s22 - s12 * s12)
      - sx1 * (s1y * s22 - s12 * s2y)
      + sx2 * (s1y * s12 - s11 * s2y)) AS det0""",
    """(n  * (s1y * s22 - s12 * s2y)
      - sy * (sx1 * s22 - s12 * sx2)
      + sx2 * (sx1 * s2y - s1y * sx2)) AS det1""",
    """(n  * (s11 * s2y - s1y * s12)
      - sx1 * (sx1 * s2y - s1y * sx2)
      + sy * (sx1 * s12 - s11 * sx2)) AS det2""",
]
_MLR_SOLVE_SQL = "SELECT *, " + ", ".join(_MLR_DETS) + " FROM s"


@query(
    "order_price_multiple_ols",
    oracle=f"""
    WITH f AS (
      SELECT l_orderkey,
             cast(sum(cast(l_quantity AS BIGINT)) AS BIGINT) AS x1,
             count(*) AS x2
      FROM lineitem GROUP BY 1
    ),
    d AS (
      SELECT f.x1, f.x2,
             cast(round(o.o_totalprice * 100) AS BIGINT) AS y
      FROM f JOIN orders o ON o.o_orderkey = f.l_orderkey
    ),
    s AS (
      SELECT cast(count(*) AS DOUBLE) AS n,
             cast(sum(x1) AS DOUBLE) AS sx1,
             cast(sum(x2) AS DOUBLE) AS sx2,
             cast(sum(y) AS DOUBLE) AS sy,
             cast(sum(x1 * x1) AS DOUBLE) AS s11,
             cast(sum(x1 * x2) AS DOUBLE) AS s12,
             cast(sum(x2 * x2) AS DOUBLE) AS s22,
             cast(sum(x1 * y) AS DOUBLE) AS s1y,
             cast(sum(x2 * y) AS DOUBLE) AS s2y,
             cast(sum(y * y) AS DOUBLE) AS syy
      FROM d
    ),
    c AS ({_MLR_SOLVE_SQL})
    SELECT cast(n AS BIGINT) AS n_orders,
           round(det0 / det, 4) AS beta0_cents,
           round(det1 / det, 4) AS beta1_cents_per_qty,
           round(det2 / det, 4) AS beta2_cents_per_line,
           round(((det0 / det) * sy + (det1 / det) * s1y
                  + (det2 / det) * s2y - sy * sy / n)
                 / (syy - sy * sy / n), 6) AS r2
    FROM c
    """,
)
def order_price_multiple_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed multiple linear regression in closed form: order
    total price (cents) ~ intercept + total quantity + line count, fit
    by the normal equations over EXACT sufficient statistics — the
    10-number summary (n, Σx₁, Σx₂, Σy, Σx₁², Σx₁x₂, Σx₂², Σx₁y, Σx₂y,
    Σy²) is summed in 128-bit integer arithmetic (Spark decimal(38,0),
    DuckDB hugeint — Σy² reaches ~5e20 at sf0.1, past int64), then cast
    to double through one deterministic rounding, and the 3x3 Cramer
    solve + R² run on bit-identical scalars from the SAME injected
    expression text on both engines. Compared to the float-sum OLS
    (ols_trend_by_event_type) this removes sum-order ulp drift entirely
    — the integer-fixed-point lesson from hourly_linear_interpolation
    applied to model fitting.

    At 100 TB: one lineitem shuffle keyed by order for the feature agg,
    one order-key join, then a single partial/final aggregate reduces
    everything to 10 numbers — the canonical "training is an
    aggregation" shape; adding features grows the summary as O(p²),
    never a second data pass. Plan-wise identical to any groupBy: the
    closed-form solve is driver-free scalar math in the projection."""
    li = T(spark, sf_dir, "lineitem")
    f = li.groupBy("l_orderkey").agg(
        F.sum(F.col("l_quantity").cast("long")).alias("x1"),
        F.count(F.lit(1)).alias("x2"),
    )
    o = T(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("y"),
    )
    d = f.join(o, f.l_orderkey == o.o_orderkey).select("x1", "x2", "y")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    s = d.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(dec(F.col("x1"))).cast("double").alias("sx1"),
        F.sum(dec(F.col("x2"))).cast("double").alias("sx2"),
        F.sum(dec(F.col("y"))).cast("double").alias("sy"),
        F.sum(dec(F.col("x1") * F.col("x1"))).cast("double").alias("s11"),
        F.sum(dec(F.col("x1") * F.col("x2"))).cast("double").alias("s12"),
        F.sum(dec(F.col("x2") * F.col("x2"))).cast("double").alias("s22"),
        F.sum(dec(F.col("x1") * F.col("y"))).cast("double").alias("s1y"),
        F.sum(dec(F.col("x2") * F.col("y"))).cast("double").alias("s2y"),
        F.sum(dec(F.col("y") * F.col("y"))).cast("double").alias("syy"),
    )
    c = s.selectExpr("*", *_MLR_DETS)
    n, sy, s1y, s2y, syy = (
        F.col("n"),
        F.col("sy"),
        F.col("s1y"),
        F.col("s2y"),
        F.col("syy"),
    )
    b0 = F.col("det0") / F.col("det")
    b1 = F.col("det1") / F.col("det")
    b2 = F.col("det2") / F.col("det")
    return c.select(
        n.cast("long").alias("n_orders"),
        F.round(b0, 4).alias("beta0_cents"),
        F.round(b1, 4).alias("beta1_cents_per_qty"),
        F.round(b2, 4).alias("beta2_cents_per_line"),
        F.round(
            (b0 * sy + b1 * s1y + b2 * s2y - sy * sy / n)
            / (syy - sy * sy / n),
            6,
        ).alias("r2"),
    )


# --- Logistic regression by fixed-round batch gradient descent ---------------

_GD_ITERS = 6
_GD_LR_F = 0.5  # the one numeric source of truth for the GD step size
_GD_LR = f"{_GD_LR_F}::DOUBLE"  # its SQL literal twin (oracle CTEs)


def _gd_feature_sql() -> str:
    return """
      SELECT (value / 500.0::DOUBLE) AS x1,
             (((epoch_us(ts) // 1000000) % 86400) // 3600)::DOUBLE
               / 24.0::DOUBLE AS x2,
             CASE WHEN event_type = 'purchase'
                  THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END AS y
      FROM events
    """


def _gd_oracle() -> str:
    """Chained-CTE GD: pass k aggregates gradient + log-loss at
    beta^(k); update CTE b{k+1} applies the 12-dp-rounded step. Every
    beta and every loss in the trajectory is value-compared."""
    ctes = [
        "d AS (" + _gd_feature_sql() + ")",
        "b0 AS (SELECT 0.0::DOUBLE AS w0, 0.0::DOUBLE AS w1,"
        " 0.0::DOUBLE AS w2)",
    ]
    for k in range(_GD_ITERS + 1):
        ctes.append(f"""a{k} AS (
          SELECT cast(count(*) AS DOUBLE) AS n,
                 round(sum(1.0::DOUBLE / (1.0::DOUBLE
                     + exp(-(b.w0 + b.w1 * d.x1 + b.w2 * d.x2))) - d.y),
                   8) AS g0,
                 round(sum((1.0::DOUBLE / (1.0::DOUBLE
                     + exp(-(b.w0 + b.w1 * d.x1 + b.w2 * d.x2))) - d.y)
                     * d.x1), 8) AS g1,
                 round(sum((1.0::DOUBLE / (1.0::DOUBLE
                     + exp(-(b.w0 + b.w1 * d.x1 + b.w2 * d.x2))) - d.y)
                     * d.x2), 8) AS g2,
                 floor(round(sum(-(d.y * ln(1.0::DOUBLE / (1.0::DOUBLE
                     + exp(-(b.w0 + b.w1 * d.x1 + b.w2 * d.x2))))
                     + (1.0::DOUBLE - d.y) * ln(1.0::DOUBLE
                       - 1.0::DOUBLE / (1.0::DOUBLE
                         + exp(-(b.w0 + b.w1 * d.x1 + b.w2 * d.x2)))))),
                   6) / cast(count(*) AS DOUBLE) * 1e8) / 1e8 AS loss
          FROM d CROSS JOIN b{k} b
        )""")
        if k < _GD_ITERS:
            ctes.append(f"""b{k + 1} AS (
          SELECT round(b.w0 - {_GD_LR} * a.g0 / a.n, 12) AS w0,
                 round(b.w1 - {_GD_LR} * a.g1 / a.n, 12) AS w1,
                 round(b.w2 - {_GD_LR} * a.g2 / a.n, 12) AS w2
          FROM b{k} b CROSS JOIN a{k} a
        )""")
    rows = "\nUNION ALL\n".join(
        f"SELECT {k} AS iter, b.w0, b.w1, b.w2, a.loss"
        f" FROM b{k} b CROSS JOIN a{k} a"
        for k in range(_GD_ITERS + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + rows


@query(
    "logreg_gd_trajectory",
    oracle=_gd_oracle(),
)
def logreg_gd_trajectory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed logistic regression trained by FIXED-round full-batch
    gradient descent — "training is an aggregation, iterated": each pass
    is one partial/final aggregate producing three 8-dp-rounded gradient
    sums plus the log-loss; the driver holds only the 3-coefficient
    vector (exactly Spark ML's execution shape) and re-injects it as
    literals for the next pass. The returned table is the WHOLE
    trajectory — beta^(k) and loss(beta^(k)) for k = 0..6 — so the
    DuckDB chained-CTE oracle value-verifies every step of the descent,
    not just the final fit (the PageRank discipline applied to ML
    training: gradient sums re-synced at 8 dp, coefficient state at
    12 dp, so float sum-order can never fork the trajectories; the
    reported mean loss is floor-TRUNCATED at 8 dp because a 6-dp
    loss sum divided by a round count lands on exact 1e-8 decimal
    halves, where Spark's HALF_UP and DuckDB's HALF_EVEN round()
    disagree — caught by the oracle on the first run).

    Features (engine-identical by construction): value/500 (raw stored
    double), hour-of-day/24 (integer floor-division of epoch seconds),
    y = purchase indicator. The companion closed-form fit is
    order_price_multiple_ols; this one demonstrates the iterative
    family where no closed form exists. At 100 TB: k passes over a
    cached/columnar scan, each a map-side-combined aggregate to a
    4-number row — no shuffle grows with data, no per-row Python."""
    ev = T(spark, sf_dir, "events")
    d = ev.select(
        (F.col("value") / 500.0).alias("x1"),
        (
            ((F.col("ts").cast("long") % 86400) / F.lit(3600)).cast("int")
            .cast("double")
            / 24.0
        ).alias("x2"),
        F.when(F.col("event_type") == "purchase", 1.0)
        .otherwise(0.0)
        .alias("y"),
    ).localCheckpoint()
    w = [0.0, 0.0, 0.0]
    out = []
    for k in range(_GD_ITERS + 1):
        z = F.lit(w[0]) + F.lit(w[1]) * F.col("x1") + F.lit(w[2]) * F.col(
            "x2"
        )
        p = 1.0 / (1.0 + F.exp(-z))
        r = d.agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.round(F.sum(p - F.col("y")), 8).alias("g0"),
            F.round(F.sum((p - F.col("y")) * F.col("x1")), 8).alias("g1"),
            F.round(F.sum((p - F.col("y")) * F.col("x2")), 8).alias("g2"),
            (
                F.floor(
                    F.round(
                        F.sum(
                            -(
                                F.col("y") * F.log(p)
                                + (1.0 - F.col("y")) * F.log(1.0 - p)
                            )
                        ),
                        6,
                    )
                    / F.count(F.lit(1)).cast("double")
                    * 1e8
                )
                / 1e8
            ).alias("loss"),
        ).collect()[0]
        out.append((k, w[0], w[1], w[2], r["loss"]))
        if k < _GD_ITERS:
            # Driver-exact weight step (r9 optimization): the update is
            # pure scalar arithmetic on the collected 1-row aggregate —
            # round(w - 0.5 * g / n, 12) — so running it through a
            # 1-row Spark job cost 6 scheduler round-trips per query for
            # nothing. jround is the bit-exact replica of Spark's
            # round(double, 12) (HALF_UP over shortest repr); *, / are
            # the same IEEE-754 ops in CPython and codegen.
            lr = _GD_LR_F  # same constant the oracle CTE interpolates
            w = [
                jround(w[0] - lr * r["g0"] / r["n"], 12),
                jround(w[1] - lr * r["g1"] / r["n"], 12),
                jround(w[2] - lr * r["g2"] / r["n"], 12),
            ]
    return d.sparkSession.createDataFrame(
        out, "iter int, w0 double, w1 double, w2 double, loss double"
    )


# --- Histogram-based best-split search (tree induction step) -----------------


@query(
    "gbdt_histogram_best_split",
    oracle="""
    WITH e AS (
      SELECT floor(value)::BIGINT AS value_bin,
             ((epoch_us(ts) // 1000000) % 86400) // 3600 AS hour,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    ),
    longf AS (
      SELECT 'value_bin' AS feature, value_bin AS bin, y FROM e
      UNION ALL
      SELECT 'hour' AS feature, hour AS bin, y FROM e
    ),
    b AS (
      SELECT feature, bin, count(*) AS n,
             cast(sum(y) AS BIGINT) AS p
      FROM longf GROUP BY 1, 2
    ),
    c AS (
      SELECT feature, bin,
             sum(n) OVER (PARTITION BY feature ORDER BY bin) AS n_l,
             sum(p) OVER (PARTITION BY feature ORDER BY bin) AS p_l,
             sum(n) OVER (PARTITION BY feature) AS nn,
             sum(p) OVER (PARTITION BY feature) AS pp
      FROM b
    ),
    g AS (
      SELECT feature, bin,
             cast(n_l AS BIGINT) AS n_left,
             cast(p_l AS BIGINT) AS pos_left,
             floor((
               (1.0::DOUBLE
                 - (pp::DOUBLE / nn::DOUBLE) * (pp::DOUBLE / nn::DOUBLE)
                 - ((nn - pp)::DOUBLE / nn::DOUBLE)
                   * ((nn - pp)::DOUBLE / nn::DOUBLE))
               - (n_l::DOUBLE / nn::DOUBLE) * (1.0::DOUBLE
                 - (p_l::DOUBLE / n_l::DOUBLE) * (p_l::DOUBLE / n_l::DOUBLE)
                 - ((n_l - p_l)::DOUBLE / n_l::DOUBLE)
                   * ((n_l - p_l)::DOUBLE / n_l::DOUBLE))
               - ((nn - n_l)::DOUBLE / nn::DOUBLE) * (1.0::DOUBLE
                 - ((pp - p_l)::DOUBLE / (nn - n_l)::DOUBLE)
                   * ((pp - p_l)::DOUBLE / (nn - n_l)::DOUBLE)
                 - ((nn - n_l - pp + p_l)::DOUBLE / (nn - n_l)::DOUBLE)
                   * ((nn - n_l - pp + p_l)::DOUBLE / (nn - n_l)::DOUBLE))
             ) * 1e9) / 1e9 AS gini_gain
      FROM c WHERE n_l < nn
    ),
    r AS (
      SELECT feature, bin, n_left, pos_left, gini_gain,
             row_number() OVER (
               PARTITION BY feature
               ORDER BY gini_gain DESC, bin ASC
             ) AS rk
      FROM g
    )
    SELECT feature, cast(rk AS BIGINT) AS rk, bin AS threshold,
           n_left, pos_left, gini_gain
    FROM r WHERE rk <= 3
    """,
)
def gbdt_histogram_best_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-based best-split search — the inner loop of distributed
    gradient-boosted-tree training (LightGBM/XGBoost-hist): bin each
    feature map-side (unit value bins, hour of day), aggregate one
    (feature, bin) -> (count, positives) histogram, and evaluate EVERY
    candidate threshold "x <= bin" from cumulative sums over that
    histogram — Gini impurity reduction per split, top-3 per feature.

    The scale argument is the same one LightGBM makes: candidate
    evaluation runs on the HISTOGRAM (|features| x |bins| rows), never
    on data rows, so the cumulative window is bounded by the bin count
    — one map-side-combined shuffle over the events scan and the rest
    is metadata-sized. Growing a whole tree = re-running this with the
    node id in the grouping key. All histogram counts are exact
    integers; the Gini algebra runs in double from identical integers
    with the same expression text on both engines, floor-truncated at
    1e-9 before the rank (gains here are tiny — the corpus target is
    near-independent of both features — so the tie-break needs the
    extra digits), and ties break on the bin value."""
    ev = T(spark, sf_dir, "events")
    y = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    e = ev.select(
        F.floor(F.col("value")).cast("long").alias("value_bin"),
        ((F.col("ts").cast("long") % 86400) / F.lit(3600))
        .cast("long")
        .alias("hour"),
        y.alias("y"),
    )
    longf = e.select(
        F.lit("value_bin").alias("feature"),
        F.col("value_bin").alias("bin"),
        "y",
    ).unionByName(
        e.select(
            F.lit("hour").alias("feature"), F.col("hour").alias("bin"), "y"
        )
    )
    b = longf.groupBy("feature", "bin").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").cast("long").alias("p")
    )
    wcum = Window.partitionBy("feature").orderBy("bin")
    wall = Window.partitionBy("feature")
    c = b.select(
        "feature",
        "bin",
        F.sum("n").over(wcum).alias("n_l"),
        F.sum("p").over(wcum).alias("p_l"),
        F.sum("n").over(wall).alias("nn"),
        F.sum("p").over(wall).alias("pp"),
    )
    dd = lambda col: F.col(col).cast("double")  # noqa: E731
    parent = (
        F.lit(1.0)
        - (dd("pp") / dd("nn")) * (dd("pp") / dd("nn"))
        - ((F.col("nn") - F.col("pp")).cast("double") / dd("nn"))
        * ((F.col("nn") - F.col("pp")).cast("double") / dd("nn"))
    )
    left = (dd("n_l") / dd("nn")) * (
        F.lit(1.0)
        - (dd("p_l") / dd("n_l")) * (dd("p_l") / dd("n_l"))
        - ((F.col("n_l") - F.col("p_l")).cast("double") / dd("n_l"))
        * ((F.col("n_l") - F.col("p_l")).cast("double") / dd("n_l"))
    )
    nr = (F.col("nn") - F.col("n_l")).cast("double")
    pr = (F.col("pp") - F.col("p_l")).cast("double")
    qr = (F.col("nn") - F.col("n_l") - F.col("pp") + F.col("p_l")).cast(
        "double"
    )
    right = (nr / dd("nn")) * (
        F.lit(1.0) - (pr / nr) * (pr / nr) - (qr / nr) * (qr / nr)
    )
    g = c.filter(F.col("n_l") < F.col("nn")).select(
        "feature",
        "bin",
        F.col("n_l").cast("long").alias("n_left"),
        F.col("p_l").cast("long").alias("pos_left"),
        (F.floor((parent - left - right) * 1e9) / 1e9).alias("gini_gain"),
    )
    rk = F.row_number().over(
        Window.partitionBy("feature").orderBy(
            F.col("gini_gain").desc(), F.col("bin").asc()
        )
    )
    return (
        g.withColumn("rk", rk.cast("long"))
        .filter(F.col("rk") <= 3)
        .select(
            "feature", "rk", F.col("bin").alias("threshold"),
            "n_left", "pos_left", "gini_gain",
        )
    )


# --- Wave 36: rank statistics at scale ---------------------------------------


def _frac_ranks2(df: DataFrame, group: str, val: str) -> DataFrame:
    """Doubled fractional (average) ranks per group, computed WITHOUT a
    per-group global sort: (1) value-level counts, (2) a cumulative
    window over integer BINS (floor(value) — state bounded by the value
    RANGE, not the row count, exactly like quantity_weighted_median_price's
    LOCATE phase), (3) a within-bin window seats each distinct value at
    bin_offset + local cumsum. Returns (group, val, r2) where
    r2 = 2*cnt_less + cnt_eq + 1 = twice the average rank — an exact
    integer, so downstream moments can sum in decimal(38,0)."""
    vl = df.groupBy(group, val).agg(F.count(F.lit(1)).alias("cnt"))
    return _frac_ranks2_from_counts(vl, group, val)


def _frac_ranks2_from_counts(vl: DataFrame, group: str, val: str) -> DataFrame:
    """_frac_ranks2 phases 2+3 over a PRE-AGGREGATED value-level count
    table (group, val, cnt) — lets a caller that already holds a
    co-occurrence table derive both rank tables without re-shuffling the
    fact (spearman_quantity_price's one-fact-pass plan).

    The within-bin seating window is CPU-dense per byte (sorting every
    distinct value), the exact stage shape AQE's size-based coalesce
    squeezes onto one task — pin the fan-out with an explicit hash
    repartition on the window key (the join and window then share it:
    one exchange, P-way parallel)."""
    parallelism = shuffle_partitions(vl.sparkSession)
    vl = vl.withColumn("bin", F.floor(F.col(val)).cast("long"))
    binc = vl.groupBy(group, "bin").agg(F.sum("cnt").alias("bc"))
    wb = Window.partitionBy(group).orderBy("bin")
    offs = binc.select(
        group, "bin", (F.sum("bc").over(wb) - F.col("bc")).alias("off")
    )
    wl = Window.partitionBy(group, "bin").orderBy(val)
    return (
        vl.repartition(parallelism, group, "bin")
        .join(F.broadcast(offs), [group, "bin"])
        .select(
            group,
            val,
            (
                2 * (F.col("off") + F.sum("cnt").over(wl) - F.col("cnt"))
                + F.col("cnt")
                + 1
            ).alias("r2"),
        )
    )


_SPEARMAN_ORACLE = """
WITH b AS (
  SELECT l_returnflag AS f, l_quantity AS x, l_extendedprice AS y,
         cast(l_quantity AS BIGINT) AS xi,
         cast(round(l_extendedprice * 100) AS BIGINT) AS yc
  FROM lineitem
),
r AS (
  SELECT f, xi, yc,
         2 * rank() OVER (PARTITION BY f ORDER BY x)
           + count(*) OVER (PARTITION BY f, x) - 1 AS rx,
         2 * rank() OVER (PARTITION BY f ORDER BY y)
           + count(*) OVER (PARTITION BY f, y) - 1 AS ry
  FROM b
),
s AS (
  SELECT f, count(*) AS n,
         sum(rx::HUGEINT) AS sx, sum(ry::HUGEINT) AS sy,
         sum(rx::HUGEINT * rx) AS sxx, sum(ry::HUGEINT * ry) AS syy,
         sum(rx::HUGEINT * ry) AS sxy,
         sum(xi::HUGEINT) AS px, sum(yc::HUGEINT) AS py,
         sum(xi::HUGEINT * xi) AS pxx, sum(yc::HUGEINT * yc) AS pyy,
         sum(xi::HUGEINT * yc) AS pxy
  FROM r GROUP BY 1
)
SELECT f AS l_returnflag, cast(n AS BIGINT) AS n_rows,
       round((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
             / sqrt((n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                    * (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)),
             6) AS spearman_rho,
       round((n::DOUBLE * pxy::DOUBLE - px::DOUBLE * py::DOUBLE)
             / sqrt((n::DOUBLE * pxx::DOUBLE - px::DOUBLE * px::DOUBLE)
                    * (n::DOUBLE * pyy::DOUBLE - py::DOUBLE * py::DOUBLE)),
             6) AS pearson_rho
FROM s
"""


@query(
    "spearman_quantity_price",
    oracle=_SPEARMAN_ORACLE,
)
def spearman_quantity_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation (with its Pearson contrast) between
    quantity and extended price per return flag — the robust monotone-
    association screen that survives the heavy-tailed price column where
    Pearson is leverage-dominated.

    The hard part at scale is RANKING: a naive per-group rank window
    sorts a third of the table on one task. Here ranks come from the
    two-phase binned cumsum (_frac_ranks2): value-level counts, a
    cumulative window whose state is bounded by the integer value RANGE,
    then bin-local seating — no data-sized sort anywhere. Average ranks
    are kept DOUBLED (2*cnt_less + cnt_eq + 1) so every tie-adjusted
    rank is an exact integer, the five rank moments sum losslessly in
    decimal(38,0) (hugeint in the oracle), and rho is computed from
    bit-identical doubles on both engines — the order_price_multiple_ols
    exact-sufficient-statistics discipline applied to rank statistics.
    The doubling cancels in the correlation ratio. Pearson runs on
    integer quantity / integer cents through the same machinery.

    Two data-sized shuffles total (r4 re-fold): value-level count
    tables come straight off the fact as map-side partial aggregates,
    and the y-rank table joins back onto the fact co-partitioned on
    (f, y). An earlier fold collapsed the fact to an (f, x, y)
    co-occurrence spine first, but a near-continuous y makes that
    "collapse" a full-size shuffle + checkpoint for nothing — see the
    in-code note for when each plan wins. Moment products multiply in
    decimal(38,0), so the plan stays exact past the long-overflow point
    of row-level rank products."""
    li = T(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("f"),
        F.col("l_quantity").alias("x"),
        F.col("l_extendedprice").alias("y"),
    )
    parallelism = shuffle_partitions(spark)
    # r4 re-fold: the previous plan collapsed the fact to an (f, x, y)
    # co-occurrence spine first — but extendedprice is near-continuous,
    # so the 600k-row "collapse" reduced nothing and its shuffle +
    # checkpoint were pure overhead (5.4 s -> 3.4 s warm at sf0.1).
    # Value-level counts come straight off the fact (map-side partials),
    # ranks join back onto the fact co-partitioned on (f, y). On a
    # LOW-cardinality pair the co-occurrence collapse is the better
    # plan; with a near-unique y it cannot pay.
    vlx = li.groupBy("f", "x").agg(F.count(F.lit(1)).alias("cnt"))
    vly = li.groupBy("f", "y").agg(F.count(F.lit(1)).alias("cnt"))
    rx = _frac_ranks2_from_counts(vlx, "f", "x").withColumnRenamed("r2", "rx")
    ry = _frac_ranks2_from_counts(vly, "f", "y").withColumnRenamed("r2", "ry")
    rows = (
        li.repartition(parallelism, "f", "y")
        .join(F.broadcast(rx), ["f", "x"])
        .join(ry.repartition(parallelism, "f", "y"), ["f", "y"])
        .select(
            "f", "rx", "ry",
            F.col("x").cast("long").alias("xi"),
            F.round(F.col("y") * 100).cast("long").alias("yc"),
        )
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    s = rows.groupBy("f").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec(F.col("rx"))).alias("sx"),
        F.sum(dec(F.col("ry"))).alias("sy"),
        F.sum(dec(F.col("rx")) * dec(F.col("rx"))).alias("sxx"),
        F.sum(dec(F.col("ry")) * dec(F.col("ry"))).alias("syy"),
        F.sum(dec(F.col("rx")) * dec(F.col("ry"))).alias("sxy"),
        F.sum(dec(F.col("xi"))).alias("px"),
        F.sum(dec(F.col("yc"))).alias("py"),
        F.sum(dec(F.col("xi")) * dec(F.col("xi"))).alias("pxx"),
        F.sum(dec(F.col("yc")) * dec(F.col("yc"))).alias("pyy"),
        F.sum(dec(F.col("xi")) * dec(F.col("yc"))).alias("pxy"),
    )
    d = lambda name: F.col(name).cast("double")  # noqa: E731
    n = d("n")

    def corr(sx, sy, sxx, syy, sxy):
        return (n * d(sxy) - d(sx) * d(sy)) / F.sqrt(
            (n * d(sxx) - d(sx) * d(sx)) * (n * d(syy) - d(sy) * d(sy))
        )

    return s.select(
        F.col("f").alias("l_returnflag"),
        F.col("n").cast("long").alias("n_rows"),
        F.round(corr("sx", "sy", "sxx", "syy", "sxy"), 6).alias(
            "spearman_rho"
        ),
        F.round(corr("px", "py", "pxx", "pyy", "pxy"), 6).alias(
            "pearson_rho"
        ),
    )


# --- Wave 36: two-sample Kolmogorov–Smirnov ----------------------------------

_KS_P_SQL = (
    "greatest(0.0::DOUBLE, least(1.0::DOUBLE, 2.0::DOUBLE * ("
    "exp(-2.0::DOUBLE * ({lam}) * ({lam}))"
    " - exp(-8.0::DOUBLE * ({lam}) * ({lam}))"
    " + exp(-18.0::DOUBLE * ({lam}) * ({lam})))))"
)

_KS_ORACLE = """
WITH d AS (
  SELECT cast(round(o_totalprice * 100) AS BIGINT) AS p,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS a,
         CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END AS b
  FROM orders WHERE o_orderstatus IN ('F', 'O')
),
v AS (
  SELECT p, cast(sum(a) AS BIGINT) AS ca, cast(sum(b) AS BIGINT) AS cb
  FROM d GROUP BY 1
),
t AS (
  SELECT cast(sum(ca) AS BIGINT) AS na, cast(sum(cb) AS BIGINT) AS nb
  FROM v
),
c AS (
  SELECT p,
         cast(sum(ca) OVER (ORDER BY p) AS BIGINT) AS cuma,
         cast(sum(cb) OVER (ORDER BY p) AS BIGINT) AS cumb,
         na, nb
  FROM v CROSS JOIN t
),
m AS (
  SELECT p, na, nb,
         abs(cuma::HUGEINT * nb - cumb::HUGEINT * na) AS num
  FROM c
  ORDER BY num DESC, p ASC LIMIT 1
),
f AS (
  SELECT na, nb,
         num::DOUBLE / (na::DOUBLE * nb::DOUBLE) AS ksd,
         p::DOUBLE / 100.0::DOUBLE AS loc,
         sqrt(na::DOUBLE * nb::DOUBLE / (na::DOUBLE + nb::DOUBLE)) AS en
  FROM m
)
SELECT na AS n_f, nb AS n_o,
       round(ksd, 6) AS ks_d,
       round(loc, 2) AS d_at_price,
       round({p_sql}, 6) AS p_value
FROM f
""".format(
    p_sql=_KS_P_SQL.format(
        lam="(en + 0.12::DOUBLE + 0.11::DOUBLE / en) * ksd"
    )
)


@query(
    "ks_test_price_by_status",
    oracle=_KS_ORACLE,
)
def ks_test_price_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov test on order total price between
    finished ('F') and open ('O') orders: D = sup |ECDF_F - ECDF_O|,
    its location, and the asymptotic Kolmogorov p (Numerical-Recipes
    lambda correction, 3-term alternating series) — the whole-shape
    drift test that PSI's fixed bins blur.

    Distributed ECDF without a global sort: prices collapse to distinct
    cents with per-sample counts, the cumulative window runs over
    $1000 BINS (state bounded by the price range), and bin offsets seat
    the within-bin cumsums — the same LOCATE/RESOLVE shape as the
    weighted median, applied to both ECDFs at once. The argmax is
    exact-integer: maximizing |cumA*nB - cumB*nA| (decimal(38,0)) picks
    the crossing without a single float comparison; ties break to the
    lowest price via TakeOrdered(1). Only D itself and the p-value are
    ever floats, derived from identical integers on both engines."""
    d = (
        T(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus").isin("F", "O"))
        .select(
            F.round(F.col("o_totalprice") * 100).cast("long").alias("p"),
            (F.col("o_orderstatus") == "F").cast("int").alias("a"),
            (F.col("o_orderstatus") == "O").cast("int").alias("b"),
        )
    )
    v = d.groupBy("p").agg(
        F.sum("a").cast("long").alias("ca"),
        F.sum("b").cast("long").alias("cb"),
    )
    tot = v.agg(
        F.sum("ca").cast("long").alias("na"),
        F.sum("cb").cast("long").alias("nb"),
    )
    v = v.withColumn("bin", (F.col("p") / F.lit(100000)).cast("long"))
    binc = v.groupBy("bin").agg(
        F.sum("ca").alias("bca"), F.sum("cb").alias("bcb")
    )
    wb = Window.partitionBy(F.lit(0)).orderBy("bin")
    offs = binc.select(
        "bin",
        (F.sum("bca").over(wb) - F.col("bca")).alias("offa"),
        (F.sum("bcb").over(wb) - F.col("bcb")).alias("offb"),
    )
    wl = Window.partitionBy("bin").orderBy("p")
    c = (
        v.join(offs, "bin")
        .select(
            "p",
            (F.col("offa") + F.sum("ca").over(wl)).alias("cuma"),
            (F.col("offb") + F.sum("cb").over(wl)).alias("cumb"),
        )
        .crossJoin(F.broadcast(tot))
    )
    dec = lambda c_: c_.cast("decimal(38,0)")  # noqa: E731
    m = (
        c.select(
            "p",
            "na",
            "nb",
            F.abs(
                dec(F.col("cuma")) * F.col("nb")
                - dec(F.col("cumb")) * F.col("na")
            ).alias("num"),
        )
        .orderBy(F.col("num").desc(), F.col("p").asc())
        .limit(1)
    )
    nad = F.col("na").cast("double")
    nbd = F.col("nb").cast("double")
    ksd = F.col("num").cast("double") / (nad * nbd)
    en = F.sqrt(nad * nbd / (nad + nbd))
    lam = (en + 0.12 + 0.11 / en) * ksd
    p_val = F.greatest(
        F.lit(0.0),
        F.least(
            F.lit(1.0),
            2.0
            * (
                F.exp(-2.0 * lam * lam)
                - F.exp(-8.0 * lam * lam)
                + F.exp(-18.0 * lam * lam)
            ),
        ),
    )
    return m.select(
        F.col("na").alias("n_f"),
        F.col("nb").alias("n_o"),
        F.round(ksd, 6).alias("ks_d"),
        F.round(F.col("p").cast("double") / 100.0, 2).alias("d_at_price"),
        F.round(p_val, 6).alias("p_value"),
    )


# --- Wave 36: one-way ANOVA --------------------------------------------------

_ANOVA_ORACLE = """
WITH g AS (
  SELECT o_orderpriority,
         count(*) AS n,
         sum(cast(round(o_totalprice * 100) AS BIGINT)::HUGEINT) AS s1,
         sum(cast(round(o_totalprice * 100) AS BIGINT)::HUGEINT
             * cast(round(o_totalprice * 100) AS BIGINT)) AS s2
  FROM orders GROUP BY 1
),
t AS (
  SELECT count(*) AS k, cast(sum(n) AS BIGINT) AS nn,
         sum(s1) AS ts1, sum(s2) AS ts2
  FROM g
),
d AS (
  SELECT max(k) AS k, max(nn) AS nn,
         max(ts1::DOUBLE) AS ts1, max(ts2::DOUBLE) AS ts2,
         sum(n::DOUBLE
             * (s1::DOUBLE / n::DOUBLE - ts1::DOUBLE / nn::DOUBLE)
             * (s1::DOUBLE / n::DOUBLE - ts1::DOUBLE / nn::DOUBLE)) AS ssb
  FROM g CROSS JOIN t
),
f AS (
  SELECT k, nn, ssb,
         ts2 - ts1 * ts1 / nn::DOUBLE AS sst,
         (ssb / (k - 1)::DOUBLE)
           / ((ts2 - ts1 * ts1 / nn::DOUBLE - ssb)
              / (nn - k)::DOUBLE) AS fstat
  FROM d
),
z AS (
  SELECT k, nn, fstat, ssb / sst AS eta,
         (pow(fstat, 1.0::DOUBLE / 3.0::DOUBLE)
          - (1.0::DOUBLE - 2.0::DOUBLE / (9.0::DOUBLE * (k - 1)::DOUBLE)))
         / sqrt(2.0::DOUBLE / (9.0::DOUBLE * (k - 1)::DOUBLE)) AS zwh
  FROM f
)
SELECT cast(k AS BIGINT) AS k_groups, nn AS n_orders,
       round(fstat, 6) AS f_stat,
       round(eta, 6) AS eta_sq,
       round({p_sql}, 6) AS p_approx
FROM z
""".format(p_sql=NORMAL_UPPER_SF_SQL.format(z="zwh"))


@query(
    "anova_f_priority_price",
    oracle=_ANOVA_ORACLE,
)
def anova_f_priority_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of order total price (cents) across the five order
    priorities: F statistic, eta-squared effect size, and a p_approx
    through the same Wilson–Hilferty cube-root normal route as
    chi_square_test (for the huge within-group df here, (k-1)·F is
    chi-square with k-1 df, so z plugs F straight into the WH formula —
    documented approximation, identical expression text both engines).
    Since r9 p_approx is the STRICT UPPER TAIL P(Z > z_WH) =
    erfc(z/sqrt(2))/2 (normal_upper_sf), the correct orientation for an
    inherently one-sided F test — closing the convention caveat carried
    since r3. (chi_square_test itself keeps the two-sided normal_sf
    form deliberately: it mirrors the reference's own demo semantics,
    analytics/stats_utils.py:39-40.)

    Sufficient statistics are exact: per-group (n, Σcents, Σcents²) in
    decimal(38,0)/hugeint. SSB uses the DEVIATION form Σ n_g·(m_g − M)²
    rather than Σ s1²/n − S1²/N — the two huge nearly-equal terms of the
    textbook form would cancel to float noise, while deviations keep
    every addend near the answer's own magnitude (the only float sum is
    k=5 terms wide). One groupBy + a 5-row broadcast — 'the test is an
    aggregation' at any scale."""
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    g = T(spark, sf_dir, "orders").groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents.cast("decimal(38,0)")).alias("s1"),
        F.sum((cents * cents).cast("decimal(38,0)")).alias("s2"),
    )
    t = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").cast("long").alias("nn"),
        F.sum("s1").alias("ts1"),
        F.sum("s2").alias("ts2"),
    )
    j = g.crossJoin(F.broadcast(t))
    mg = F.col("s1").cast("double") / F.col("n").cast("double")
    mm = F.col("ts1").cast("double") / F.col("nn").cast("double")
    d = j.agg(
        F.max("k").alias("k"),
        F.max("nn").alias("nn"),
        F.max(F.col("ts1").cast("double")).alias("ts1"),
        F.max(F.col("ts2").cast("double")).alias("ts2"),
        F.sum(F.col("n").cast("double") * (mg - mm) * (mg - mm)).alias(
            "ssb"
        ),
    )
    kd = (F.col("k") - 1).cast("double")
    sst = F.col("ts2") - F.col("ts1") * F.col("ts1") / F.col("nn").cast(
        "double"
    )
    fstat = (F.col("ssb") / kd) / (
        (sst - F.col("ssb")) / (F.col("nn") - F.col("k")).cast("double")
    )
    zwh = (fstat ** (1.0 / 3.0) - (1.0 - 2.0 / (9.0 * kd))) / F.sqrt(
        2.0 / (9.0 * kd)
    )
    return d.select(
        F.col("k").cast("long").alias("k_groups"),
        F.col("nn").alias("n_orders"),
        F.round(fstat, 6).alias("f_stat"),
        F.round(F.col("ssb") / sst, 6).alias("eta_sq"),
        F.round(normal_upper_sf(zwh), 6).alias("p_approx"),
    )


# --- Wave 37: multiple-testing correction ------------------------------------

_BH_ORACLE = """
WITH oc AS (
  SELECT n.n_name AS nation,
         cast(round(o.o_totalprice * 100) AS BIGINT) AS y
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
),
g AS (
  SELECT nation, count(*) AS n,
         sum(y::HUGEINT) AS s1, sum(y::HUGEINT * y) AS s2
  FROM oc GROUP BY 1
),
t AS (
  SELECT cast(sum(n) AS BIGINT) AS nn, sum(s1) AS ts1, sum(s2) AS ts2,
         count(*) AS m
  FROM g
),
w AS (
  SELECT nation, n AS n1, (nn - n) AS n2, m,
         s1::DOUBLE / n::DOUBLE AS m1,
         (ts1 - s1)::DOUBLE / (nn - n)::DOUBLE AS m2,
         (s2::DOUBLE - s1::DOUBLE * s1::DOUBLE / n::DOUBLE)
           / (n - 1)::DOUBLE AS v1,
         ((ts2 - s2)::DOUBLE
          - (ts1 - s1)::DOUBLE * (ts1 - s1)::DOUBLE / (nn - n)::DOUBLE)
           / (nn - n - 1)::DOUBLE AS v2
  FROM g CROSS JOIN t
),
p AS (
  SELECT nation, n1, m,
         (m1 - m2) / sqrt(v1 / n1::DOUBLE + v2 / n2::DOUBLE) AS z
  FROM w
),
pp AS (SELECT nation, n1, m, {p_sql} AS pv FROM p),
r AS (
  SELECT nation, n1, m, pv,
         row_number() OVER (ORDER BY pv, nation) AS rnk
  FROM pp
),
adj AS (
  SELECT nation, n1, pv, rnk,
         least(1.0::DOUBLE,
               min(m::DOUBLE * pv / rnk::DOUBLE)
                 OVER (ORDER BY rnk DESC)) AS padj
  FROM r
)
SELECT nation, cast(n1 AS BIGINT) AS n_orders,
       cast(rnk AS BIGINT) AS p_rank,
       round(pv, 6) AS p_value,
       round(padj, 6) AS p_adj,
       (padj <= 0.05::DOUBLE) AS rejected
FROM adj
""".format(p_sql=NORMAL_SF_SQL.format(z="z"))


@query(
    "bh_fdr_nation_price",
    oracle=_BH_ORACLE,
)
def bh_fdr_nation_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini–Hochberg FDR correction over a 25-way hypothesis
    screen: each nation's order prices Welch-tested against all other
    nations (one-vs-rest), then the whole p-value family adjusted by the
    step-up procedure — the guard every per-segment dashboard needs
    before coloring 25 cells red at alpha=0.05.

    Per-nation sufficient statistics (n, Σcents, Σcents²) are exact
    decimal/hugeint; the REST group is derived by subtraction in
    integer space BEFORE any double cast, so both engines hand the
    same 6 numbers to the Welch z. The BH step-up is the reversed
    running minimum min_{j>=i}(m·p_(j)/j): one window over m=25 rows
    ordered by p-rank descending — state bounded by the category count,
    nothing data-sized. p-values through the shared A&S normal_sf."""
    oc = (
        T(spark, sf_dir, "orders")
        .join(
            T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(
                T(spark, sf_dir, "nation").select(
                    "n_nationkey", F.col("n_name").alias("nation")
                )
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            "nation",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("y"),
        )
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    g = oc.groupBy("nation").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec(F.col("y"))).alias("s1"),
        F.sum(dec(F.col("y") * F.col("y"))).alias("s2"),
    )
    t = g.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum("s1").alias("ts1"),
        F.sum("s2").alias("ts2"),
        F.count(F.lit(1)).alias("m"),
    )
    j = g.crossJoin(F.broadcast(t))
    d = lambda c: c.cast("double")  # noqa: E731
    n1 = F.col("n")
    n2 = F.col("nn") - F.col("n")
    m1 = d(F.col("s1")) / d(n1)
    m2 = d(F.col("ts1") - F.col("s1")) / d(n2)
    v1 = (d(F.col("s2")) - d(F.col("s1")) * d(F.col("s1")) / d(n1)) / d(
        n1 - 1
    )
    r1 = d(F.col("ts1") - F.col("s1"))
    v2 = (d(F.col("ts2") - F.col("s2")) - r1 * r1 / d(n2)) / d(n2 - 1)
    z = (m1 - m2) / F.sqrt(v1 / d(n1) + v2 / d(n2))
    pp = j.select(
        "nation",
        F.col("n").alias("n1"),
        "m",
        normal_sf(z).alias("pv"),
    )
    r = pp.withColumn(
        "rnk",
        F.row_number().over(Window.orderBy(F.col("pv").asc(), F.col("nation").asc())),
    )
    padj = F.least(
        F.lit(1.0),
        F.min(
            F.col("m").cast("double") * F.col("pv") / F.col("rnk").cast("double")
        ).over(Window.orderBy(F.col("rnk").desc())),
    )
    return r.select(
        "nation",
        F.col("n1").cast("long").alias("n_orders"),
        F.col("rnk").cast("long").alias("p_rank"),
        F.round("pv", 6).alias("p_value"),
        F.round(padj, 6).alias("p_adj"),
        (padj <= 0.05).alias("rejected"),
    )


# --- Wave 45: DeLong variance / CI for the AUC --------------------------------

_Z975 = "1.959963984540054"  # Phi^-1(0.975), pinned literal on both engines


@query(
    "delong_auc_ci",
    oracle=f"""
    WITH s AS (
      SELECT CAST(floor(o_totalprice) AS BIGINT) AS score,
             cast(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                      THEN 1 ELSE 0 END) AS BIGINT) AS p,
             cast(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                      THEN 0 ELSE 1 END) AS BIGINT) AS q
      FROM orders GROUP BY 1
    ),
    c AS (
      SELECT *,
             coalesce(sum(q) OVER (ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cq,
             coalesce(sum(p) OVER (ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cp
      FROM s
    ),
    tot AS (
      SELECT cast(sum(p) AS BIGINT) AS pp, cast(sum(q) AS BIGINT) AS nn
      FROM s
    ),
    moments AS (
      SELECT tot.pp, tot.nn,
             cast(sum(p * (2 * cq + q)) AS BIGINT) AS num2,
             cast(sum(p * (2 * cq + q) * (2 * cq + q)) AS BIGINT) AS sa2,
             cast(sum(q * (2 * (tot.pp - cp - p) + p)
                        * (2 * (tot.pp - cp - p) + p)) AS BIGINT) AS sb2
      FROM c, tot GROUP BY tot.pp, tot.nn
    ),
    stat AS (
      SELECT pp, nn,
             num2 * 1.0 / (2 * pp * nn) AS auc,
             (sa2 * 1.0 / (4.0 * nn * nn)
              - pp * (num2 * 1.0 / (2 * pp * nn))
                   * (num2 * 1.0 / (2 * pp * nn))) / (pp - 1) AS s10,
             (sb2 * 1.0 / (4.0 * pp * pp)
              - nn * (num2 * 1.0 / (2 * pp * nn))
                   * (num2 * 1.0 / (2 * pp * nn))) / (nn - 1) AS s01
      FROM moments
    )
    SELECT pp AS n_pos, nn AS n_neg,
           floor(auc * 1e6) / 1e6 AS auc,
           round(sqrt(s10 / pp + s01 / nn), 6) AS se,
           round(auc - {_Z975} * sqrt(s10 / pp + s01 / nn), 6) AS ci_lo,
           round(auc + {_Z975} * sqrt(s10 / pp + s01 / nn), 6) AS ci_hi
    FROM stat
    """,
)
def delong_auc_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeLong's nonparametric AUC variance and 95% CI (DeLong, DeLong &
    Clarke-Pearson 1988) — the statistically honest companion to
    distributed_auc_rank_sum's point estimate: is AUC 0.52 actually
    distinguishable from coin-flipping at this sample size?

    DeLong's estimator is usually coded as per-observation placement
    loops; here both placement families come from the SAME
    distinct-score table as the AUC itself: a positive's placement
    V10 = (2*neg_below + neg_tied)/(2N) is constant within a score bin,
    so the second moments are bin-weighted integer sums — sum p*a^2 and
    sum q*b^2 with a, b the DOUBLED placement numerators (int64-safe
    through sf0.1's ~1.5M distinct doubled counts; move to decimal(38,0)
    beyond ~2^31 rows per class). S10/S01 then resolve driver-side from
    five exact integers — no float enters until the final scalar row, so
    the whole CI is value-oracled. z_{{0.975}} is the pinned 17-digit
    literal on both engines.

    Scale shape identical to the AUC query: one partial/final agg, one
    window over the distinct-score table, scalar closed form."""
    lbl = F.when(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
    ).otherwise(0)
    s = (
        T(spark, sf_dir, "orders")
        .groupBy(F.floor(F.col("o_totalprice")).cast("long").alias("score"))
        .agg(
            F.sum(lbl).cast("long").alias("p"),
            F.sum(1 - lbl).cast("long").alias("q"),
        )
    )
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    c = s.select(
        "*",
        F.coalesce(F.sum("q").over(w), F.lit(0)).alias("cq"),
        F.coalesce(F.sum("p").over(w), F.lit(0)).alias("cp"),
    )
    tot = s.agg(
        F.sum("p").cast("long").alias("pp"),
        F.sum("q").cast("long").alias("nn"),
    )
    a = 2 * F.col("cq") + F.col("q")
    b = 2 * (F.col("pp") - F.col("cp") - F.col("p")) + F.col("p")
    moments = (
        c.crossJoin(F.broadcast(tot))
        .agg(
            F.max("pp").alias("pp"),
            F.max("nn").alias("nn"),
            F.sum(F.col("p") * a).cast("long").alias("num2"),
            F.sum(F.col("p") * a * a).cast("long").alias("sa2"),
            F.sum(F.col("q") * b * b).cast("long").alias("sb2"),
        )
    )
    auc = F.col("num2") * F.lit(1.0) / (2 * F.col("pp") * F.col("nn"))
    s10 = (
        F.col("sa2") * F.lit(1.0) / (F.lit(4.0) * F.col("nn") * F.col("nn"))
        - F.col("pp") * auc * auc
    ) / (F.col("pp") - 1)
    s01 = (
        F.col("sb2") * F.lit(1.0) / (F.lit(4.0) * F.col("pp") * F.col("pp"))
        - F.col("nn") * auc * auc
    ) / (F.col("nn") - 1)
    se = F.sqrt(s10 / F.col("pp") + s01 / F.col("nn"))
    z = F.lit(float(_Z975))
    return moments.select(
        F.col("pp").alias("n_pos"),
        F.col("nn").alias("n_neg"),
        (F.floor(auc * 1e6) / 1e6).alias("auc"),
        F.round(se, 6).alias("se"),
        F.round(auc - z * se, 6).alias("ci_lo"),
        F.round(auc + z * se, 6).alias("ci_hi"),
    )


# --- Wave 46: trend in proportions + count overdispersion ----------------------


@query(
    "cochran_armitage_trend",
    oracle="""
    WITH g AS (
      SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS w,
             cast(count(*) AS BIGINT) AS n,
             cast(sum(CASE WHEN o_totalprice > 150000.0::DOUBLE
                      THEN 1 ELSE 0 END) AS BIGINT) AS r
      FROM orders GROUP BY 1
    ),
    t AS (
      SELECT cast(count(*) AS BIGINT) AS k,
             cast(sum(n) AS BIGINT) AS nn,
             cast(sum(r) AS BIGINT) AS rr,
             cast(sum(r * w) AS BIGINT) AS srw,
             cast(sum(n * w) AS BIGINT) AS snw,
             cast(sum(n * w * w) AS BIGINT) AS snw2
      FROM g
    ),
    z AS (
      SELECT k, nn, rr,
             (srw - rr * 1.0 * snw / nn) AS tstat,
             (rr * 1.0 / nn) * (1.0::DOUBLE - rr * 1.0 / nn)
               * (snw2 - snw * 1.0 * snw / nn) AS vart
      FROM t
    ),
    s AS (SELECT k, nn, rr, tstat, tstat / sqrt(vart) AS z_raw FROM z)
    SELECT k AS k_groups, nn AS n_orders, rr AS n_high,
           round(tstat, 6) AS trend_stat,
           round(z_raw, 6) AS z,
           round(__PSQL__, 6) AS p_value
    FROM s
    """.replace("__PSQL__", NORMAL_SF_SQL.format(z="z_raw")),
)
def cochran_armitage_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage test for trend (Cochran 1954, Armitage 1955) —
    does the probability of a high-value order move MONOTONICALLY with
    order priority? The omnibus chi-square only says the proportions
    differ somewhere; the trend test spends its single degree of freedom
    on the ordered alternative, which is the question dose-response,
    severity-grade, and priority-tier analyses actually ask.

    Scores w = the priority's leading digit (1..5); T = sum_i w_i (r_i -
    n_i p_bar), Var T = p_bar (1-p_bar) (sum n w^2 - (sum n w)^2 / N).
    Every input is an exact per-group integer (one partial/final agg);
    the five-row group table folds to one scalar row, z and the A&S erf
    p are single-expression doubles, round6 at output. One shuffle."""
    g = (
        T(spark, sf_dir, "orders")
        .groupBy(
            F.substring("o_orderpriority", 1, 1)
            .cast("long")
            .alias("w")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                F.when(F.col("o_totalprice") > 150000.0, 1).otherwise(0)
            )
            .cast("long")
            .alias("r"),
        )
    )
    t = g.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("nn"),
        F.sum("r").cast("long").alias("rr"),
        F.sum(F.col("r") * F.col("w")).cast("long").alias("srw"),
        F.sum(F.col("n") * F.col("w")).cast("long").alias("snw"),
        F.sum(F.col("n") * F.col("w") * F.col("w"))
        .cast("long")
        .alias("snw2"),
    )
    tstat = F.col("srw") - F.col("rr") * F.lit(1.0) * F.col("snw") / F.col("nn")
    pbar = F.col("rr") * F.lit(1.0) / F.col("nn")
    vart = pbar * (F.lit(1.0) - pbar) * (
        F.col("snw2") - F.col("snw") * F.lit(1.0) * F.col("snw") / F.col("nn")
    )
    z = tstat / F.sqrt(vart)
    return t.select(
        F.col("k").alias("k_groups"),
        F.col("nn").alias("n_orders"),
        F.col("rr").alias("n_high"),
        F.round(tstat, 6).alias("trend_stat"),
        F.round(z, 6).alias("z"),
        F.round(normal_sf(z), 6).alias("p_value"),
    )


@query(
    "negbin_overdispersion",
    oracle="""
    WITH h AS (
      SELECT event_type, date_trunc('hour', ts) AS hour,
             cast(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    g AS (
      SELECT event_type,
             cast(count(*) AS BIGINT) AS n,
             cast(sum(x) AS BIGINT) AS s1,
             cast(sum(x * x) AS BIGINT) AS s2
      FROM h GROUP BY 1
    ),
    m AS (
      SELECT event_type, n, s1,
             s1 * 1.0 / n AS mean_x,
             (s2 - s1 * 1.0 * s1 / n) / (n - 1) AS var_x
      FROM g
    ),
    s AS (
      SELECT *,
             var_x / mean_x AS dispersion,
             (n - 1) * var_x / mean_x AS chi2,
             CASE WHEN var_x > mean_x
                  THEN mean_x * mean_x / (var_x - mean_x) END AS nb_r,
             (pow((n - 1) * var_x / mean_x / (n - 1)::DOUBLE,
                  1.0::DOUBLE / 3.0::DOUBLE)
              - (1.0::DOUBLE - 2.0::DOUBLE / (9.0::DOUBLE * (n - 1))))
             / sqrt(2.0::DOUBLE / (9.0::DOUBLE * (n - 1))) AS zwh
      FROM m
    )
    SELECT event_type, n AS n_hours, s1 AS n_events,
           floor(mean_x * 1e6) / 1e6 AS mean_per_hour,
           round(var_x, 6) AS var_per_hour,
           round(dispersion, 6) AS dispersion,
           round(nb_r, 6) AS nb_r,
           round(__PSQL__, 6) AS poisson_p
    FROM s
    """.replace("__PSQL__", NORMAL_SF_SQL.format(z="zwh")),
)
def negbin_overdispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count overdispersion audit with a negative-binomial fallback fit:
    per event type, hourly arrival counts are tested against the Poisson
    assumption (variance == mean) via the dispersion chi-square
    (n-1)s^2/m with a Wilson-Hilferty normal p — the check that decides
    whether rate alerts/CIs can use Poisson math or need NB — and, when
    overdispersed, the method-of-moments NB size r = m^2/(s^2 - m)
    (NULL when not overdispersed, identically on both engines).

    mean/variance come from exact integer (n, S1, S2) sufficient
    statistics (one partial/final agg over the hours-bounded series);
    every reported number is a single-expression double of exact-int
    inputs, so round6/trunc6 outputs match cross-engine. The WH cube
    root uses pow(), whose bit-parity on identical doubles is pinned in
    the verify gotchas (same route as anova_f_priority_price)."""
    h = (
        T(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("hour"))
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    g = h.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s1"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("s2"),
    )
    mean_x = F.col("s1") * F.lit(1.0) / F.col("n")
    var_x = (
        F.col("s2") - F.col("s1") * F.lit(1.0) * F.col("s1") / F.col("n")
    ) / (F.col("n") - 1)
    dispersion = var_x / mean_x
    chi2_over_df = (F.col("n") - 1) * var_x / mean_x / (F.col("n") - 1).cast(
        "double"
    )
    nb_r = F.when(
        var_x > mean_x, mean_x * mean_x / (var_x - mean_x)
    )
    df = (F.col("n") - 1).cast("double")
    zwh = (
        F.pow(chi2_over_df, F.lit(1.0) / F.lit(3.0))
        - (F.lit(1.0) - F.lit(2.0) / (F.lit(9.0) * df))
    ) / F.sqrt(F.lit(2.0) / (F.lit(9.0) * df))
    return g.select(
        "event_type",
        F.col("n").alias("n_hours"),
        F.col("s1").alias("n_events"),
        (F.floor(mean_x * 1e6) / 1e6).alias("mean_per_hour"),
        F.round(var_x, 6).alias("var_per_hour"),
        F.round(dispersion, 6).alias("dispersion"),
        F.round(nb_r, 6).alias("nb_r"),
        F.round(normal_sf(zwh), 6).alias("poisson_p"),
    )


# --- Wave 47: Kendall's tau-b on the bounded cell grid -------------------------


@query(
    "kendall_tau_quantity_price",
    oracle="""
    WITH cells AS (
      SELECT CAST(l_quantity AS BIGINT) AS x,
             CAST(floor(l_extendedprice / 1000.0::DOUBLE) AS BIGINT) AS y,
             cast(count(*) AS BIGINT) AS c
      FROM lineitem GROUP BY 1, 2
    ),
    pairs AS (
      SELECT
        cast(sum(CASE WHEN a.y < b.y THEN a.c * b.c ELSE 0 END) AS BIGINT)
          AS conc,
        cast(sum(CASE WHEN a.y > b.y THEN a.c * b.c ELSE 0 END) AS BIGINT)
          AS disc
      FROM cells a JOIN cells b ON a.x < b.x
    ),
    ties AS (
      SELECT cast(sum(c) AS BIGINT) AS n,
             cast(sum(c * (c - 1)) AS BIGINT) AS t_xy2
      FROM cells
    ),
    tx AS (
      SELECT cast(sum(cx * (cx - 1)) AS BIGINT) AS t_x2
      FROM (SELECT sum(c) AS cx FROM cells GROUP BY x)
    ),
    ty AS (
      SELECT cast(sum(cy * (cy - 1)) AS BIGINT) AS t_y2
      FROM (SELECT sum(c) AS cy FROM cells GROUP BY y)
    ),
    s AS (
      SELECT n, conc, disc,
             n * (n - 1) AS n02,
             t_x2, t_y2
      FROM pairs, ties, tx, ty
    )
    SELECT n AS n_rows, conc AS concordant, disc AS discordant,
           round((conc - disc) * 2.0
                 / (sqrt((n02 - t_x2)::DOUBLE)
                    * sqrt((n02 - t_y2)::DOUBLE)), 6) AS tau_b
    FROM s
    """,
)
def kendall_tau_quantity_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's tau-b between line-item quantity and (1k-binned)
    extended price — the pair-concordance rank correlation that
    completes the correlation family next to Pearson (corr) and
    Spearman (spearman_quantity_price). Naive Kendall is O(n^2) over
    ROWS and unrunnable at scale; both variables here are
    value-range-bounded, so rows fold to a (x, y) CELL GRID first and
    all pair counting happens on the grid: concordant/discordant =
    sum a.c*b.c over cell pairs with a.x < b.x, split by the y order —
    a bounded |grid|^2 comparison (<= ~5.5k cells at any SF — the
    quantize-to-bound-the-grid move the verify gotchas prescribe for
    rank machinery), never a row-pair join. Tie corrections n1/n2 come
    from the grid's marginals.

    Everything is int64-exact until the final tau (doubled pair counts;
    (n0-n1)(n0-n2) would pass 2^63 at sf0.1 so each factor takes its
    sqrt in double separately, identical expression text both engines).
    One corpus aggregation + bounded-grid arithmetic."""
    cells = (
        T(spark, sf_dir, "lineitem")
        .groupBy(
            F.col("l_quantity").cast("long").alias("x"),
            F.floor(F.col("l_extendedprice") / 1000.0)
            .cast("long")
            .alias("y"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint()  # feeds pairs + ties + both marginals
    )
    a, b = cells.alias("a"), cells.alias("b")
    pairs = a.join(b, F.col("a.x") < F.col("b.x")).agg(
        F.sum(
            F.when(
                F.col("a.y") < F.col("b.y"), F.col("a.c") * F.col("b.c")
            ).otherwise(0)
        )
        .cast("long")
        .alias("conc"),
        F.sum(
            F.when(
                F.col("a.y") > F.col("b.y"), F.col("a.c") * F.col("b.c")
            ).otherwise(0)
        )
        .cast("long")
        .alias("disc"),
    )
    ties = cells.agg(
        F.sum("c").cast("long").alias("n"),
    )
    tx = (
        cells.groupBy("x")
        .agg(F.sum("c").alias("cx"))
        .agg(
            F.sum(F.col("cx") * (F.col("cx") - 1)).cast("long").alias("t_x2")
        )
    )
    ty = (
        cells.groupBy("y")
        .agg(F.sum("c").alias("cy"))
        .agg(
            F.sum(F.col("cy") * (F.col("cy") - 1)).cast("long").alias("t_y2")
        )
    )
    s = (
        pairs.crossJoin(F.broadcast(ties))
        .crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
    )
    n02 = F.col("n") * (F.col("n") - 1)
    return s.select(
        F.col("n").alias("n_rows"),
        F.col("conc").alias("concordant"),
        F.col("disc").alias("discordant"),
        F.round(
            (F.col("conc") - F.col("disc"))
            * F.lit(2.0)
            / (
                F.sqrt((n02 - F.col("t_x2")).cast("double"))
                * F.sqrt((n02 - F.col("t_y2")).cast("double"))
            ),
            6,
        ).alias("tau_b"),
    )


# --- Wave 47: fixed-effect meta-analysis with Cochran's Q / I^2 ----------------


@query(
    "fixed_effect_meta",
    oracle="""
    WITH o AS (
      SELECT c.c_nationkey AS nation,
             CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS t,
             cast(round(o.o_totalprice * 100) AS BIGINT) AS cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    g AS (
      SELECT nation,
             cast(sum(t) AS BIGINT) AS n1,
             cast(sum(1 - t) AS BIGINT) AS n0,
             sum(CASE WHEN t = 1 THEN cents::HUGEINT ELSE 0 END) AS s1,
             sum(CASE WHEN t = 0 THEN cents::HUGEINT ELSE 0 END) AS s0,
             sum(CASE WHEN t = 1 THEN cents::HUGEINT * cents ELSE 0 END) AS q1,
             sum(CASE WHEN t = 0 THEN cents::HUGEINT * cents ELSE 0 END) AS q0
      FROM o GROUP BY 1
      HAVING sum(t) >= 2 AND sum(1 - t) >= 2
    ),
    eff AS (
      SELECT nation,
             (s1::DOUBLE / n1 - s0::DOUBLE / n0) / 100.0 AS e,
             ((q1::DOUBLE - s1::DOUBLE * (s1::DOUBLE / n1)) / (n1 - 1) / n1
              + (q0::DOUBLE - s0::DOUBLE * (s0::DOUBLE / n0)) / (n0 - 1) / n0)
               / 10000.0 AS var_e
      FROM g
    ),
    fp AS (
      SELECT nation, e, var_e,
             CAST(floor(1e15 / var_e) AS BIGINT) AS w_fp,
             CAST(floor(e * 1e9 / var_e) AS BIGINT) AS we_fp
      FROM eff
    ),
    pool AS (
      SELECT cast(count(*) AS BIGINT) AS k,
             cast(sum(w_fp) AS BIGINT) AS sw,
             cast(sum(we_fp) AS BIGINT) AS swe
      FROM fp
    ),
    pooled AS (
      SELECT k, sw, swe, swe * 1e6 / sw AS mu FROM pool
    ),
    qterm AS (
      SELECT p.k, p.sw, p.mu,
             cast(sum(CAST(floor((f.e - p.mu) * (f.e - p.mu) * 1e6 / f.var_e)
                           AS BIGINT)) AS BIGINT) AS q_fp
      FROM fp f CROSS JOIN pooled p
      GROUP BY p.k, p.sw, p.mu
    ),
    final AS (
      SELECT k, mu, q_fp / 1e6 AS q,
             sqrt(1e15 / sw) AS se
      FROM qterm
    )
    SELECT k AS k_studies,
           round(mu, 6) AS pooled_effect,
           round(se, 6) AS se,
           round(mu / se, 6) AS z,
           round(q, 6) AS cochran_q,
           CASE WHEN q > (k - 1) THEN floor((q - (k - 1)) * 1e6 / q) / 1e6
                ELSE 0.0::DOUBLE END AS i_squared
    FROM final
    """,
)
def fixed_effect_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-effect (inverse-variance) meta-analysis with Cochran's Q
    and Higgins' I^2 — every nation is a "study" estimating the urgent
    vs non-urgent order-value effect, and the pooled estimate answers
    whether the effect replicates across segments while I^2 says how
    much of the between-study spread is real heterogeneity rather than
    sampling noise. This is the multi-site/multi-segment readout layer
    above the per-segment Welch screen (bh_fdr_nation_price).

    Per-study moments come from exact HUGEINT/decimal(38,0) cents
    sufficient statistics (the ANOVA route — sum of cents^2 passes
    int64); each study's effect and Welch variance are then single
    double expressions. The k-bounded pooling sums are the float-sum
    trap, so every summand is floor-truncated into FIXED-POINT int64
    (w at 1e-15, w*e at 1e-9, Q terms at 1e-6) before summation —
    integer sums are order-free, making the whole pool value-exact
    cross-engine. Studies need >= 2 orders per arm (HAVING, identical
    both engines)."""
    o = (
        T(spark, sf_dir, "orders")
        .join(
            # customer is DATA-SIZED (SFx150k rows): no hint, AQE decides
            T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            F.col("c_nationkey").alias("nation"),
            F.when(F.col("o_orderpriority") == "1-URGENT", 1)
            .otherwise(0)
            .alias("t"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    g = (
        o.groupBy("nation")
        .agg(
            F.sum("t").cast("long").alias("n1"),
            F.sum(1 - F.col("t")).cast("long").alias("n0"),
            F.sum(F.when(F.col("t") == 1, dec(F.col("cents"))).otherwise(
                F.lit(0).cast("decimal(38,0)")
            )).alias("s1"),
            F.sum(F.when(F.col("t") == 0, dec(F.col("cents"))).otherwise(
                F.lit(0).cast("decimal(38,0)")
            )).alias("s0"),
            F.sum(
                F.when(
                    F.col("t") == 1, dec(F.col("cents")) * F.col("cents")
                ).otherwise(F.lit(0).cast("decimal(38,0)"))
            ).alias("q1"),
            F.sum(
                F.when(
                    F.col("t") == 0, dec(F.col("cents")) * F.col("cents")
                ).otherwise(F.lit(0).cast("decimal(38,0)"))
            ).alias("q0"),
        )
        .filter((F.col("n1") >= 2) & (F.col("n0") >= 2))
    )
    s1d, s0d = F.col("s1").cast("double"), F.col("s0").cast("double")
    q1d, q0d = F.col("q1").cast("double"), F.col("q0").cast("double")
    e = (s1d / F.col("n1") - s0d / F.col("n0")) / F.lit(100.0)
    var_e = (
        (q1d - s1d * (s1d / F.col("n1"))) / (F.col("n1") - 1) / F.col("n1")
        + (q0d - s0d * (s0d / F.col("n0"))) / (F.col("n0") - 1) / F.col("n0")
    ) / F.lit(10000.0)
    fp = g.select(
        "nation",
        e.alias("e"),
        var_e.alias("var_e"),
        F.floor(F.lit(1e15) / var_e).cast("long").alias("w_fp"),
        F.floor(e * F.lit(1e9) / var_e).cast("long").alias("we_fp"),
    ).localCheckpoint()  # feeds the pool scalars AND the Q re-scan
    pool = fp.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("w_fp").cast("long").alias("sw"),
        F.sum("we_fp").cast("long").alias("swe"),
    )
    pooled = pool.select(
        "k", "sw", (F.col("swe") * F.lit(1e6) / F.col("sw")).alias("mu")
    )
    qterm = (
        fp.crossJoin(F.broadcast(pooled))
        .groupBy("k", "sw", "mu")
        .agg(
            F.sum(
                F.floor(
                    (F.col("e") - F.col("mu"))
                    * (F.col("e") - F.col("mu"))
                    * F.lit(1e6)
                    / F.col("var_e")
                ).cast("long")
            )
            .cast("long")
            .alias("q_fp")
        )
    )
    q = F.col("q_fp") / F.lit(1e6)
    se = F.sqrt(F.lit(1e15) / F.col("sw"))
    kd = F.col("k") - 1
    return qterm.select(
        F.col("k").alias("k_studies"),
        F.round(F.col("mu"), 6).alias("pooled_effect"),
        F.round(se, 6).alias("se"),
        F.round(F.col("mu") / se, 6).alias("z"),
        F.round(q, 6).alias("cochran_q"),
        F.when(q > kd, F.floor((q - kd) * F.lit(1e6) / q) / 1e6)
        .otherwise(F.lit(0.0))
        .alias("i_squared"),
    )


# --- Wave 48: Mann-Kendall trend + Theil-Sen slope ------------------------------


@query(
    "mann_kendall_trend",
    oracle="""
    WITH h AS (
      SELECT event_type,
             cast(floor(epoch(date_trunc('hour', ts)) / 3600) AS BIGINT) AS t,
             sum(CAST(round(value * 100.0) AS BIGINT)) AS x
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT a.event_type,
             cast(count(*) AS BIGINT) AS n_pairs,
             cast(sum(CASE WHEN b.x > a.x THEN 1
                           WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS mk_s
      FROM h a JOIN h b
        ON a.event_type = b.event_type AND a.t < b.t
      GROUP BY 1
    ),
    n AS (SELECT event_type, cast(count(*) AS BIGINT) AS n FROM h GROUP BY 1),
    ties AS (
      SELECT event_type,
             cast(sum(c * (c - 1) * (2 * c + 5)) AS BIGINT) AS tie_term
      FROM (SELECT event_type, x, count(*) AS c FROM h GROUP BY 1, 2)
      GROUP BY 1
    ),
    z AS (
      SELECT s.event_type, n.n, s.mk_s,
             (n.n * (n.n - 1) * (2 * n.n + 5) - ties.tie_term) / 18.0 AS var_s,
             CASE WHEN s.mk_s > 0 THEN (s.mk_s - 1)
                  WHEN s.mk_s < 0 THEN (s.mk_s + 1)
                  ELSE 0 END
               / sqrt((n.n * (n.n - 1) * (2 * n.n + 5) - ties.tie_term)
                      / 18.0) AS z_raw
      FROM s JOIN n USING (event_type) JOIN ties USING (event_type)
    )
    SELECT event_type, n AS n_hours, mk_s,
           round(z_raw, 6) AS z,
           round(__PSQL__, 6) AS p_value
    FROM z
    """.replace("__PSQL__", NORMAL_SF_SQL.format(z="z_raw")),
)
def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotone-trend test per event type on the hourly
    revenue series — the distribution-free "is this metric drifting"
    test used on exactly this kind of telemetry (no linearity or
    normality assumed, ties handled): S = sum of sign(x_j - x_i) over
    ordered hour pairs, continuity-corrected normal z with the tie-aware
    variance.

    The pair join LOOKS quadratic but is bounded by the TIME SPAN per
    type (hours, not rows — the same argument as the interval sweep and
    the changepoint windows): the corpus-scale work is one (type, hour)
    rollup; the series-pair join is |hours|^2 per type with integer
    cents values, so S, the tie term, and Var numerators are all exact
    integers — the single erf p is the only transcendental. Output one
    row per type."""
    ev = T(spark, sf_dir, "events")
    h = (
        ev.groupBy(
            "event_type",
            F.floor(
                F.col("ts").cast("long") / 3600
            ).alias("t"),
        )
        .agg(
            F.sum(F.round(F.col("value") * 100.0).cast("long")).alias("x")
        )
        .localCheckpoint()  # feeds the pair join, n, and the tie table
    )
    a, b = h.alias("a"), h.alias("b")
    s = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.t") < F.col("b.t")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(
                F.when(F.col("b.x") > F.col("a.x"), 1)
                .when(F.col("b.x") < F.col("a.x"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("mk_s"),
        )
    )
    n = h.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("n"))
    ties = (
        h.groupBy("event_type", "x")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("event_type")
        .agg(
            F.sum(F.col("c") * (F.col("c") - 1) * (2 * F.col("c") + 5))
            .cast("long")
            .alias("tie_term")
        )
    )
    z = s.join(n, "event_type").join(ties, "event_type")
    var_s = (
        F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
        - F.col("tie_term")
    ) / F.lit(18.0)
    s_cc = (
        F.when(F.col("mk_s") > 0, F.col("mk_s") - 1)
        .when(F.col("mk_s") < 0, F.col("mk_s") + 1)
        .otherwise(0)
    )
    z_raw = s_cc / F.sqrt(var_s)
    return z.select(
        "event_type",
        F.col("n").alias("n_hours"),
        "mk_s",
        F.round(z_raw, 6).alias("z"),
        F.round(normal_sf(z_raw), 6).alias("p_value"),
    )


@query(
    "theil_sen_slope",
    oracle="""
    WITH h AS (
      SELECT event_type,
             cast(floor(epoch(date_trunc('hour', ts)) / 3600) AS BIGINT) AS t,
             sum(CAST(round(value * 100.0) AS BIGINT)) AS x
      FROM events GROUP BY 1, 2
    ),
    slopes AS (
      SELECT a.event_type,
             (b.x - a.x) * 1.0 / (b.t - a.t) AS m
      FROM h a JOIN h b
        ON a.event_type = b.event_type AND a.t < b.t
    ),
    ranked AS (
      SELECT event_type, m,
             row_number() OVER (PARTITION BY event_type ORDER BY m) AS rn,
             count(*) OVER (PARTITION BY event_type) AS np
      FROM slopes
    )
    SELECT event_type,
           cast(max(np) AS BIGINT) AS n_pairs,
           floor(avg(m) * 1e4) / 1e6 AS sen_slope
    FROM ranked
    WHERE rn IN ((np + 1) // 2, (np + 2) // 2)
    GROUP BY event_type
    """,
)
def theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend slope per event type — the median of all
    pairwise slopes (Sen 1968), the magnitude estimate reported beside
    the Mann-Kendall p: immune to the outlier hours that wreck an OLS
    slope (29% breakdown point).

    Same bounded shape as Mann-Kendall: the slope set is |hours|^2 per
    type, each slope an exact integer-cents / integer-hours quotient
    (identical doubles cross-engine), and the median is the explicit
    rank-(n+1)/2 / rank-(n+2)/2 average over the per-type window — an
    engine-interpolation-free order statistic (the conformal-intervals
    rule). Output slope in dollars/hour (trunc after the 2-element
    mean: floor(avg*1e4)/1e6 = cents rounded at 1e-4 then shown in
    dollars)."""
    ev = T(spark, sf_dir, "events")
    parallelism = shuffle_partitions(spark)
    # r9: the per-(type, hour) agg coalesces to ONE partition and the
    # checkpoint froze that layout, so the |hours|^2-per-type pair
    # expansion + slope arithmetic (the whole cost) streamed through the
    # broadcast self-join on one core. Fan out BEFORE the checkpoint
    # (guide §2.5 input skew / §6 scan parallelism); the pair SET and
    # the rank-selected medians are layout-independent.
    h = (
        ev.groupBy(
            "event_type",
            F.floor(F.col("ts").cast("long") / 3600).alias("t"),
        )
        .agg(
            F.sum(F.round(F.col("value") * 100.0).cast("long")).alias("x")
        )
        .repartition(parallelism)
        .localCheckpoint()
    )
    a, b = h.alias("a"), h.alias("b")
    slopes = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.t") < F.col("b.t")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        (
            (F.col("b.x") - F.col("a.x"))
            * F.lit(1.0)
            / (F.col("b.t") - F.col("a.t"))
        ).alias("m"),
    )
    wtype = Window.partitionBy("event_type")
    ranked = slopes.select(
        "event_type",
        "m",
        F.row_number().over(wtype.orderBy("m")).alias("rn"),
        F.count(F.lit(1)).over(wtype).alias("np"),
    )
    lo = (F.col("np") + 1).cast("long") / F.lit(2)
    return (
        ranked.filter(
            (F.col("rn") == F.floor((F.col("np") + 1) / 2))
            | (F.col("rn") == F.floor((F.col("np") + 2) / 2))
        )
        .groupBy("event_type")
        .agg(
            F.max("np").cast("long").alias("n_pairs"),
            (F.floor(F.avg("m") * 1e4) / 1e6).alias("sen_slope"),
        )
    )


# --- Wave 49: Theil inequality decomposition ------------------------------------


@query(
    "theil_inequality_decomposition",
    oracle="""
    WITH o AS (
      SELECT c.c_nationkey AS nation,
             cast(round(o.o_totalprice * 100) AS BIGINT) AS cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    tot AS (
      SELECT cast(count(*) AS BIGINT) AS n,
             cast(sum(cents) AS BIGINT) AS s
      FROM o
    ),
    rowterm AS (
      SELECT cast(sum(CAST(floor(
               (cents * 1.0 * tot.n / tot.s)
               * ln(cents * 1.0 * tot.n / tot.s) * 1e9) AS BIGINT))
             AS BIGINT) AS t_fp
      FROM o, tot
    ),
    grp AS (
      SELECT nation,
             cast(count(*) AS BIGINT) AS ng,
             cast(sum(cents) AS BIGINT) AS sg
      FROM o GROUP BY 1
    ),
    betw AS (
      SELECT cast(sum(CAST(floor(
               (sg * 1.0 / tot.s)
               * ln((sg * 1.0 / tot.s) / (ng * 1.0 / tot.n)) * 1e9)
             AS BIGINT)) AS BIGINT) AS b_fp
      FROM grp, tot
    )
    SELECT tot.n AS n_orders,
           floor(rowterm.t_fp / tot.n / 1e3) / 1e6 AS theil_total,
           floor(betw.b_fp / 1e3) / 1e6 AS theil_between,
           floor((rowterm.t_fp / tot.n - betw.b_fp) / 1e3) / 1e6
             AS theil_within
    FROM tot, rowterm, betw
    """,
)
def theil_inequality_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index with the between/within-nation
    decomposition (Theil 1967) — the inequality measure that, unlike
    Gini, decomposes ADDITIVELY: T = T_between + sum_g share_g T_g, so
    the report says how much order-value concentration lives across
    nations vs inside them. Completes the concentration family next to
    user_value_lorenz_deciles.

    T = (1/N) sum (x_i/mu) ln(x_i/mu) needs a per-row transcendental
    summed corpus-wide — THE float-sum-order trap — so every row term is
    floor-truncated into 1e-9 FIXED-POINT int64 before the sum (exact,
    order-free; truncation bias < 1e-9/row is invisible at 6 output dp
    against the 1e3 descale). The between term runs on the nation-
    bounded group table the same way. x_i/mu is computed as the exact
    integer ratio cents*N/S so both engines feed ln identical doubles.
    Two aggregates over one scan + one group table; scalar output."""
    o = (
        T(spark, sf_dir, "orders")
        .join(
            # customer is DATA-SIZED (SFx150k rows): no hint, AQE decides
            T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            F.col("c_nationkey").alias("nation"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .localCheckpoint()  # feeds tot, the row-term scan, and grp
    )
    tot = o.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
    )
    ratio = F.col("cents") * F.lit(1.0) * F.col("n") / F.col("s")
    rowterm = (
        o.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.floor(ratio * F.log(ratio) * F.lit(1e9)).cast("long")
            )
            .cast("long")
            .alias("t_fp")
        )
    )
    grp = o.groupBy("nation").agg(
        F.count(F.lit(1)).cast("long").alias("ng"),
        F.sum("cents").cast("long").alias("sg"),
    )
    sshare = F.col("sg") * F.lit(1.0) / F.col("s")
    nshare = F.col("ng") * F.lit(1.0) / F.col("n")
    betw = (
        grp.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.floor(sshare * F.log(sshare / nshare) * F.lit(1e9)).cast(
                    "long"
                )
            )
            .cast("long")
            .alias("b_fp")
        )
    )
    out = tot.crossJoin(rowterm).crossJoin(betw)
    return out.select(
        F.col("n").alias("n_orders"),
        (F.floor(F.col("t_fp") / F.col("n") / F.lit(1e3)) / 1e6).alias(
            "theil_total"
        ),
        (F.floor(F.col("b_fp") / F.lit(1e3)) / 1e6).alias("theil_between"),
        (
            F.floor(
                (F.col("t_fp") / F.col("n") - F.col("b_fp")) / F.lit(1e3)
            )
            / 1e6
        ).alias("theil_within"),
    )


@query(
    "hhi_market_concentration",
    oracle="""
    WITH rev AS (
      SELECT r.r_name AS region, s.s_suppkey,
             cast(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY 1, 2
    ),
    tot AS (SELECT region, cast(sum(cents) AS BIGINT) AS total FROM rev GROUP BY 1)
    SELECT rev.region,
           cast(count(*) AS BIGINT) AS n_suppliers,
           cast(sum(CAST(floor(
             (rev.cents * 1.0 / tot.total)
             * (rev.cents * 1.0 / tot.total) * 1e12) AS BIGINT))
             AS BIGINT) * 1.0 / 1e8 AS hhi,
           floor(max(rev.cents) * 1e6 / tot.total) / 1e6 AS top_share
    FROM rev JOIN tot USING (region)
    GROUP BY rev.region, tot.total
    """,
)
def hhi_market_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman supplier-concentration index per region —
    the antitrust/market-structure screen (HHI in the conventional
    0-10,000 points scale: sum of squared percentage shares) plus the
    largest supplier's share. The squared-share sum is per-region
    float-sum territory, so each squared share is floor-truncated into
    1e-12 fixed-point int64 before summation (then descaled to points),
    keeping the index value-exact cross-engine.

    One fact-side rollup to (region, supplier) revenue with broadcast
    dims (the q5 join shape), one region-total join, one bounded
    aggregate."""
    li = T(spark, sf_dir, "lineitem").select("l_suppkey", "l_extendedprice")
    # supplier is DATA-SIZED (SFx10k rows): no hint, AQE decides
    s = T(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = F.broadcast(
        T(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    )
    r = F.broadcast(
        T(spark, sf_dir, "region").select(
            "r_regionkey", F.col("r_name").alias("region")
        )
    )
    rev = (
        li.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("region", "s_suppkey")
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    tot = rev.groupBy("region").agg(
        F.sum("cents").cast("long").alias("total")
    )
    share = F.col("cents") * F.lit(1.0) / F.col("total")
    return (
        rev.join(F.broadcast(tot), "region")
        .groupBy("region", "total")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_suppliers"),
            (
                F.sum(
                    F.floor(share * share * F.lit(1e12)).cast("long")
                ).cast("long")
                * F.lit(1.0)
                / 1e8
            ).alias("hhi"),
            (F.floor(F.max("cents") * F.lit(1e6) / F.col("total")) / 1e6)
            .alias("top_share"),
        )
        .drop("total")
    )


# --- Wave 51: Cramer's V effect size --------------------------------------------


@query(
    "cramers_v_type_band",
    oracle="""
    WITH cells AS (
      SELECT event_type AS x,
             least(cast(floor(value / 100.0::DOUBLE) AS BIGINT), 4) AS y,
             cast(count(*) AS BIGINT) AS nxy
      FROM events GROUP BY 1, 2
    ), m AS (
      SELECT x, y, nxy,
             cast(sum(nxy) OVER (PARTITION BY x) AS BIGINT) AS nx,
             cast(sum(nxy) OVER (PARTITION BY y) AS BIGINT) AS ny,
             cast(sum(nxy) OVER () AS BIGINT) AS n
      FROM cells
    ), chi AS (
      SELECT cast(max(n) AS BIGINT) AS n_events,
             cast(count(DISTINCT x) AS BIGINT) AS r,
             cast(count(DISTINCT y) AS BIGINT) AS c,
             sum((nxy * 1.0 * n / (nx * 1.0 * ny) - 1.0::DOUBLE)
                 * (nxy * 1.0 * n / (nx * 1.0 * ny) - 1.0::DOUBLE)
                 * (nx * 1.0 * ny / n)) AS chi2
      FROM m
    )
    SELECT n_events, r AS n_rows_levels, c AS n_col_levels,
           round(chi2, 6) AS chi2,
           round(sqrt(chi2 / (n_events * least(r - 1, c - 1))), 6)
             AS cramers_v
    FROM chi
    """,
)
def cramers_v_type_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramer's V effect size for the event_type x value-band
    contingency — the scale-free [0,1] companion to the chi-square
    p-value (which saturates at any big-data sample size: everything
    is "significant" at 600M rows) and to column_mutual_information's
    nats. V = sqrt(chi2 / (N min(r-1, c-1))) over the same bounded
    contingency table.

    Per-cell chi-square contribution is computed as
    (O/E - 1)^2 * E with O/E the exact ratio n_xy*N/(n_x*n_y), the
    cell sum is bounded by |types| x |bands| (<= 25 doubles summed —
    the ANOVA-scale bounded float sum, ordered identically by the
    single-partition fold on both engines), round6 output."""
    cells = (
        T(spark, sf_dir, "events")
        .groupBy(
            F.col("event_type").alias("x"),
            F.least(
                F.floor(F.col("value") / 100.0).cast("long"), F.lit(4)
            ).alias("y"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("nxy"))
    )
    m = cells.select(
        "x",
        "y",
        "nxy",
        F.sum("nxy").over(Window.partitionBy("x")).cast("long").alias("nx"),
        F.sum("nxy").over(Window.partitionBy("y")).cast("long").alias("ny"),
        F.sum("nxy").over(Window.partitionBy()).cast("long").alias("n"),
    )
    oe = F.col("nxy") * F.lit(1.0) * F.col("n") / (
        F.col("nx") * F.lit(1.0) * F.col("ny")
    )
    chi = m.agg(
        F.max("n").cast("long").alias("n_events"),
        F.countDistinct("x").cast("long").alias("r"),
        F.countDistinct("y").cast("long").alias("c"),
        F.sum(
            (oe - F.lit(1.0))
            * (oe - F.lit(1.0))
            * (F.col("nx") * F.lit(1.0) * F.col("ny") / F.col("n"))
        ).alias("chi2"),
    )
    return chi.select(
        "n_events",
        F.col("r").alias("n_rows_levels"),
        F.col("c").alias("n_col_levels"),
        F.round("chi2", 6).alias("chi2"),
        F.round(
            F.sqrt(
                F.col("chi2")
                / (F.col("n_events") * F.least(F.col("r") - 1, F.col("c") - 1))
            ),
            6,
        ).alias("cramers_v"),
    )


# --- Wave 52: Mantel-Haenszel stratified odds ratio + CMH test -------------------


@query(
    "mantel_haenszel_or",
    oracle="""
    WITH o AS (
      SELECT c.c_nationkey AS stratum,
             CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS t,
             CASE WHEN o.o_totalprice > 150000.0::DOUBLE THEN 1 ELSE 0 END AS y
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    g AS (
      SELECT stratum,
             cast(sum(t * y) AS BIGINT) AS a,
             cast(sum(t * (1 - y)) AS BIGINT) AS b,
             cast(sum((1 - t) * y) AS BIGINT) AS c,
             cast(sum((1 - t) * (1 - y)) AS BIGINT) AS d,
             cast(count(*) AS BIGINT) AS n
      FROM o GROUP BY 1
      HAVING count(*) >= 2
    ),
    fp AS (
      SELECT stratum,
             CAST(floor(a * 1.0 * d / n * 1e6) AS BIGINT) AS ad_fp,
             CAST(floor(b * 1.0 * c / n * 1e6) AS BIGINT) AS bc_fp,
             a,
             CAST(floor((a + b) * 1.0 * (a + c) / n * 1e6) AS BIGINT) AS e_fp,
             CAST(floor((a + b) * 1.0 * (c + d) * (a + c) * (b + d)
                        / (n * 1.0 * n * (n - 1)) * 1e6) AS BIGINT) AS v_fp
      FROM g
    ),
    s AS (
      SELECT cast(count(*) AS BIGINT) AS k,
             cast(sum(a) AS BIGINT) AS sa,
             cast(sum(ad_fp) AS BIGINT) AS sad,
             cast(sum(bc_fp) AS BIGINT) AS sbc,
             cast(sum(e_fp) AS BIGINT) AS se_,
             cast(sum(v_fp) AS BIGINT) AS sv
      FROM fp
    ),
    z AS (
      SELECT k, sa, sad, sbc,
             sad * 1.0 / sbc AS mh_or,
             (abs(sa * 1e6 - se_) - 0.5e6)
               * (abs(sa * 1e6 - se_) - 0.5e6) / (sv * 1e6) AS chi2
      FROM s
    ),
    p AS (SELECT *, sqrt(chi2) AS z_raw FROM z)
    SELECT k AS k_strata,
           floor(mh_or * 1e6) / 1e6 AS mh_odds_ratio,
           round(chi2, 6) AS cmh_chi2,
           round(__PSQL__, 6) AS p_value
    FROM p
    """.replace("__PSQL__", NORMAL_SF_SQL.format(z="z_raw")),
)
def mantel_haenszel_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mantel-Haenszel common odds ratio and the CMH chi-square (Mantel
    & Haenszel 1959) — the stratified 2x2 analysis that asks whether
    urgency associates with high order value AFTER controlling for
    nation (the confounder-adjusted cousin of the pooled chi-square,
    and the epidemiology workhorse the causal family was missing):
    OR_MH = sum(a_i d_i / n_i) / sum(b_i c_i / n_i), CMH chi2 =
    (|sum a - sum E| - 1/2)^2 / sum V with the hypergeometric E and V
    per stratum.

    Every stratum statistic is a single expression of exact integer
    cells; the k-bounded cross-stratum sums are floor-truncated to 1e-6
    fixed-point int64 before summation (the meta-analysis discipline),
    and sum(a) enters the continuity-corrected numerator pre-scaled by
    1e6 so the subtraction stays integer. One key shuffle, one group
    table, scalar output."""
    o = (
        T(spark, sf_dir, "orders")
        .join(
            # customer is DATA-SIZED (SFx150k rows): no hint, AQE decides
            T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            F.col("c_nationkey").alias("stratum"),
            F.when(F.col("o_orderpriority") == "1-URGENT", 1)
            .otherwise(0)
            .alias("t"),
            F.when(F.col("o_totalprice") > 150000.0, 1)
            .otherwise(0)
            .alias("y"),
        )
    )
    g = (
        o.groupBy("stratum")
        .agg(
            F.sum(F.col("t") * F.col("y")).cast("long").alias("a"),
            F.sum(F.col("t") * (1 - F.col("y"))).cast("long").alias("b"),
            F.sum((1 - F.col("t")) * F.col("y")).cast("long").alias("c"),
            F.sum((1 - F.col("t")) * (1 - F.col("y")))
            .cast("long")
            .alias("d"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .filter(F.col("n") >= 2)
    )
    nd = F.col("n").cast("double")
    fp = g.select(
        F.col("a"),
        F.floor(F.col("a") * F.lit(1.0) * F.col("d") / F.col("n") * 1e6)
        .cast("long")
        .alias("ad_fp"),
        F.floor(F.col("b") * F.lit(1.0) * F.col("c") / F.col("n") * 1e6)
        .cast("long")
        .alias("bc_fp"),
        F.floor(
            (F.col("a") + F.col("b"))
            * F.lit(1.0)
            * (F.col("a") + F.col("c"))
            / F.col("n")
            * 1e6
        )
        .cast("long")
        .alias("e_fp"),
        F.floor(
            (F.col("a") + F.col("b"))
            * F.lit(1.0)
            * (F.col("c") + F.col("d"))
            * (F.col("a") + F.col("c"))
            * (F.col("b") + F.col("d"))
            / (nd * nd * (F.col("n") - 1))
            * 1e6
        )
        .cast("long")
        .alias("v_fp"),
    )
    s = fp.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("a").cast("long").alias("sa"),
        F.sum("ad_fp").cast("long").alias("sad"),
        F.sum("bc_fp").cast("long").alias("sbc"),
        F.sum("e_fp").cast("long").alias("se_"),
        F.sum("v_fp").cast("long").alias("sv"),
    )
    dev = F.abs(F.col("sa") * F.lit(1e6) - F.col("se_")) - F.lit(0.5e6)
    chi2 = dev * dev / (F.col("sv") * F.lit(1e6))
    z = F.sqrt(chi2)
    return s.select(
        F.col("k").alias("k_strata"),
        (F.floor(F.col("sad") * F.lit(1.0) / F.col("sbc") * 1e6) / 1e6).alias(
            "mh_odds_ratio"
        ),
        F.round(chi2, 6).alias("cmh_chi2"),
        F.round(normal_sf(z), 6).alias("p_value"),
    )


# --- Wave 53: delete-one-bucket jackknife for ratio metrics ----------------------

_JK_BUCKETS = 20


@query(
    "ratio_metric_jackknife",
    oracle=f"""
    WITH u AS (
      SELECT user_id,
             cast(count(*) AS BIGINT) AS n_events,
             cast(sum(CAST(round(value * 100.0) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY 1
    ),
    b AS (
      SELECT (list_sum(list_transform(range(1, 7), k ->
               (strpos('0123456789abcdef',
                       substr(md5(cast(user_id AS VARCHAR)), k, 1)) - 1)
               * (1 << (4 * (6 - k))))) % {_JK_BUCKETS}) AS bucket,
             cast(sum(n_events) AS BIGINT) AS ne,
             cast(sum(cents) AS BIGINT) AS ce
      FROM u GROUP BY 1
    ),
    tot AS (
      SELECT cast(count(*) AS BIGINT) AS k,
             cast(sum(ne) AS BIGINT) AS tn,
             cast(sum(ce) AS BIGINT) AS tc
      FROM b
    ),
    loo AS (
      SELECT b.bucket,
             CAST(floor((tot.tc - b.ce) * 1.0
                        / (tot.tn - b.ne) * 1e6) AS BIGINT) AS r_fp
      FROM b, tot
    ),
    m AS (
      SELECT cast(sum(r_fp) AS BIGINT) AS sr,
             cast(count(*) AS BIGINT) AS k
      FROM loo
    ),
    v AS (
      SELECT m.k,
             cast(sum(CAST(floor((loo.r_fp - m.sr * 1.0 / m.k)
                                 * (loo.r_fp - m.sr * 1.0 / m.k) / 1e6)
                           AS BIGINT)) AS BIGINT) AS ss_fp
      FROM loo, m GROUP BY m.k
    )
    SELECT tot.k AS k_buckets,
           tot.tn AS n_events,
           floor(tot.tc * 1.0 / tot.tn * 1e4) / 1e6 AS ratio_dollars,
           round(sqrt((v.k - 1.0) / v.k * v.ss_fp / 1e6) / 1e4, 6)
             AS jackknife_se_dollars
    FROM tot, v
    """,
)
def ratio_metric_jackknife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-bucket jackknife standard error for a RATIO metric
    (revenue per event) — the experimentation-platform standard for
    metrics whose numerator and denominator are both random (a ratio of
    sums is NOT a mean of per-user ratios, so the t-test variance is
    wrong; the jackknife over user buckets is how production A/B
    platforms get honest CIs for rates and averages-per-session):
    users hash into {nb} md5 buckets, R_(i) = (C - c_i)/(N - n_i) for
    each left-out bucket, se = sqrt((k-1)/k * sum (R_i - Rbar)^2).

    Each leave-one-out ratio is floor-truncated to 1e-6-cent
    fixed-point int64 at birth; deviations from the bucket mean are
    squared and re-truncated before the k-bounded sum, so the entire
    variance pipeline is integer arithmetic (order-free) and the only
    float ops are the final sqrt/round. One user rollup + one
    bucket-bounded fold."""
    u = (
        T(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.round(F.col("value") * 100.0).cast("long"))
            .cast("long")
            .alias("cents"),
        )
    )
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 6), 16, 10
        ).cast("long")
        % _JK_BUCKETS
    )
    b = u.groupBy(bucket.alias("bucket")).agg(
        F.sum("n_events").cast("long").alias("ne"),
        F.sum("cents").cast("long").alias("ce"),
    ).localCheckpoint()  # feeds tot and the leave-one-out scan
    tot = b.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("ne").cast("long").alias("tn"),
        F.sum("ce").cast("long").alias("tc"),
    )
    loo = b.crossJoin(F.broadcast(tot)).select(
        F.floor(
            (F.col("tc") - F.col("ce"))
            * F.lit(1.0)
            / (F.col("tn") - F.col("ne"))
            * 1e6
        )
        .cast("long")
        .alias("r_fp"),
    ).localCheckpoint()  # feeds the mean and the deviation scan
    m = loo.agg(
        F.sum("r_fp").cast("long").alias("sr"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    dev = F.col("r_fp") - F.col("sr") * F.lit(1.0) / F.col("k")
    v = (
        loo.crossJoin(F.broadcast(m))
        .groupBy("k")
        .agg(
            F.sum(F.floor(dev * dev / F.lit(1e6)).cast("long"))
            .cast("long")
            .alias("ss_fp")
        )
    )
    return (
        tot.crossJoin(v.select(F.col("k").alias("k2"), "ss_fp"))
        .select(
            F.col("k").alias("k_buckets"),
            F.col("tn").alias("n_events"),
            (F.floor(F.col("tc") * F.lit(1.0) / F.col("tn") * 1e4) / 1e6)
            .alias("ratio_dollars"),
            F.round(
                F.sqrt(
                    (F.col("k2") - F.lit(1.0))
                    / F.col("k2")
                    * F.col("ss_fp")
                    / F.lit(1e6)
                )
                / F.lit(1e4),
                6,
            ).alias("jackknife_se_dollars"),
        )
    )


# --- Wave 56: Hill tail index + exact Gini ---------------------------------------

_HILL_K = 200  # tail order statistics used


@query(
    "hill_tail_index",
    oracle=f"""
    WITH v AS (
      SELECT cast(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    topk AS (
      SELECT cents, row_number() OVER (ORDER BY cents DESC) AS rn
      FROM v QUALIFY rn <= {_HILL_K + 1}
    ),
    thresh AS (SELECT cents AS x_k1 FROM topk WHERE rn = {_HILL_K + 1}),
    terms AS (
      SELECT CAST(floor(ln(t.cents * 1.0 / th.x_k1) * 1e9) AS BIGINT)
               AS l_fp
      FROM topk t, thresh th WHERE t.rn <= {_HILL_K}
    )
    SELECT cast(count(*) AS BIGINT) AS k_tail,
           floor(sum(l_fp) * 1.0 / count(*) / 1e3) / 1e6 AS hill_gamma,
           floor(count(*) * 1e6 / (sum(l_fp) * 1.0 / 1e9)) / 1e6
             AS tail_index_alpha
    FROM terms
    """,
)
def hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill (1975) estimator of the Pareto tail index of order values —
    the heavy-tail screen that decides whether means/variances of a
    value column are even stable (alpha <= 2: infinite variance, every
    'average revenue' metric is fiction) and what extreme quantiles
    cost; the extreme-value companion to zipf_law_fit and
    benford_first_digit_audit: gamma = (1/k) sum ln(x_(i)/x_(k+1)) over
    the top-k order statistics, alpha = 1/gamma.

    The only ranked object is the top-(k+1) set — TakeOrdered, never a
    global sort; each log term is ln of an exact integer-cents ratio,
    floor-truncated to 1e-9 fixed-point before the k-bounded sum.
    Output: k, gamma, alpha."""
    v = T(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
    )
    topk = (
        v.orderBy(F.desc("cents"))
        .limit(_HILL_K + 1)
        .select(
            "cents",
            F.row_number()
            .over(Window.orderBy(F.desc("cents")))
            .alias("rn"),
        )
    ).localCheckpoint()  # bounded (k+1 rows); feeds threshold + terms
    thresh = topk.filter(F.col("rn") == _HILL_K + 1).select(
        F.col("cents").alias("x_k1")
    )
    terms = (
        topk.filter(F.col("rn") <= _HILL_K)
        .crossJoin(F.broadcast(thresh))
        .select(
            F.floor(
                F.log(F.col("cents") * F.lit(1.0) / F.col("x_k1")) * F.lit(1e9)
            )
            .cast("long")
            .alias("l_fp")
        )
    )
    return terms.agg(
        F.count(F.lit(1)).cast("long").alias("k_tail"),
        (
            F.floor(F.sum("l_fp") * F.lit(1.0) / F.count(F.lit(1)) / F.lit(1e3))
            / 1e6
        ).alias("hill_gamma"),
        (
            F.floor(
                F.count(F.lit(1))
                * F.lit(1e6)
                / (F.sum("l_fp") * F.lit(1.0) / F.lit(1e9))
            )
            / 1e6
        ).alias("tail_index_alpha"),
    )


@query(
    "exact_gini_coefficient",
    oracle="""
    WITH v AS (
      SELECT cast(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    g AS (
      SELECT cents, cast(count(*) AS BIGINT) AS c FROM v GROUP BY 1
    ),
    r AS (
      SELECT cents, c,
             coalesce(sum(c) OVER (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS rb
      FROM g
    ),
    tot AS (
      SELECT cast(sum(c) AS BIGINT) AS n,
             sum(cents::HUGEINT * c) AS s
      FROM g
    ),
    num AS (
      -- sum over rows of (2i - n - 1) x_(i); within one distinct value
      -- the rank range [rb+1, rb+c] gives sum(2i - n - 1) = c(2rb + c - n)
      SELECT sum(r.cents::HUGEINT * r.c * (2 * r.rb + r.c - tot.n)) AS w
      FROM r, tot
    )
    SELECT tot.n AS n_orders,
           floor(num.w * 1e6 / (tot.n::HUGEINT * tot.s)) / 1e6 AS gini
    FROM tot, num
    """,
)
def exact_gini_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Gini coefficient of order values — not the decile
    approximation user_value_lorenz_deciles draws: G = sum (2i - n - 1)
    x_(i) / (n sum x) needs every row's global rank, which is the
    classic single-node sort; here ranks collapse onto the DISTINCT
    VALUE table (the AUC/rank machinery): a value v with count c
    occupying ranks [rb+1, rb+c] contributes the closed-form
    c(2rb + c - n), so one cumulative window over the value-bounded
    distinct table replaces the global row sort.

    The weighted sum reaches ~1e20 at sf0.1 (rank x cents x rows), so
    it accumulates in HUGEINT/decimal(38,0) — every quantity is integer
    until the single trunc6 division. The inequality-family capstone
    next to Theil (additive decomposition) and Lorenz (the curve)."""
    v = T(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
    )
    g = v.groupBy("cents").agg(F.count(F.lit(1)).cast("long").alias("c"))
    w_prev = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, -1
    )
    r = g.select(
        "cents", "c", F.coalesce(F.sum("c").over(w_prev), F.lit(0)).alias("rb")
    ).localCheckpoint()  # feeds tot and the weighted fold
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    tot = r.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(dec(F.col("cents")) * F.col("c")).alias("s"),
    )
    num = r.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            dec(F.col("cents"))
            * F.col("c")
            * (2 * F.col("rb") + F.col("c") - F.col("n"))
        ).alias("w"),
        F.max("n").alias("n"),
        F.max("s").alias("s"),
    )
    return num.select(
        F.col("n").alias("n_orders"),
        (
            F.floor(
                F.col("w")
                * F.lit(1e6)
                / (dec(F.col("n")) * F.col("s")).cast("double")
            )
            / 1e6
        ).alias("gini"),
    )


# --- Wave 59: rate-ratio test + runs test ------------------------------------------


@query(
    "poisson_rate_ratio_test",
    oracle="""
    WITH b AS (
      SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid_us
      FROM events
    ),
    lab AS (
      SELECT event_type,
             CASE WHEN epoch_us(ts) < b.mid_us THEN 1 ELSE 2 END AS half
      FROM events, b
    ),
    g AS (
      SELECT event_type,
             cast(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
             cast(sum(CASE WHEN half = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
      FROM lab GROUP BY 1
    ),
    z AS (
      SELECT event_type, c1, c2,
             ln(c1 * 1.0 / c2)
               / sqrt(1.0::DOUBLE / c1 + 1.0::DOUBLE / c2) AS z_raw
      FROM g WHERE c1 > 0 AND c2 > 0
    )
    SELECT event_type, c1 AS n_first_half, c2 AS n_second_half,
           floor(c1 * 1e6 / c2) / 1e6 AS rate_ratio,
           round(z_raw, 6) AS z,
           round(__PSQL__, 6) AS p_value
    FROM z
    """.replace("__PSQL__", NORMAL_SF_SQL.format(z="z_raw")),
)
def poisson_rate_ratio_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson rate-ratio test per event type between the corpus' two
    halves (equal exposure windows, so the ratio of counts IS the rate
    ratio): did this event's arrival rate CHANGE, with the standard
    log-rate-ratio z = ln(c1/c2)/sqrt(1/c1 + 1/c2) — the two-period
    alarm arithmetic behind error-budget and traffic-shift monitors,
    complementing the distributional drift ops (PSI/KL) with a pure
    intensity test.

    The half boundary is the integer-microsecond midpoint of min/max
    timestamps (one broadcast scalar row; floor division identical in
    both engines); counts are one partial/final aggregate; z and the A&S erf
    p are scalar doubles of exact integers; zero-count halves drop
    identically via the WHERE guard."""
    ev = T(spark, sf_dir, "events").select(
        "event_type", F.unix_micros(F.col("ts")).alias("us")
    )
    b = ev.agg(
        F.floor((F.min("us") + F.max("us")) / 2).cast("long").alias("mid_us")
    )
    lab = ev.crossJoin(F.broadcast(b)).select(
        "event_type",
        F.when(F.col("us") < F.col("mid_us"), 1).otherwise(2).alias("half"),
    )
    g = lab.groupBy("event_type").agg(
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
        .cast("long")
        .alias("c1"),
        F.sum(F.when(F.col("half") == 2, 1).otherwise(0))
        .cast("long")
        .alias("c2"),
    )
    z = F.log(F.col("c1") * F.lit(1.0) / F.col("c2")) / F.sqrt(
        F.lit(1.0) / F.col("c1") + F.lit(1.0) / F.col("c2")
    )
    return (
        g.filter((F.col("c1") > 0) & (F.col("c2") > 0))
        .select(
            "event_type",
            F.col("c1").alias("n_first_half"),
            F.col("c2").alias("n_second_half"),
            (F.floor(F.col("c1") * F.lit(1e6) / F.col("c2")) / 1e6).alias(
                "rate_ratio"
            ),
            F.round(z, 6).alias("z"),
            F.round(normal_sf(z), 6).alias("p_value"),
        )
    )


@query(
    "runs_test_hourly",
    oracle="""
    WITH h AS (
      SELECT event_type, date_trunc('hour', ts) AS hour,
             sum(CAST(round(value * 100.0) AS BIGINT)) AS x
      FROM events GROUP BY 1, 2
    ),
    med AS (
      SELECT event_type, x,
             row_number() OVER (PARTITION BY event_type ORDER BY x, hour)
               AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM h
    ),
    m AS (
      SELECT event_type, x AS median_x
      FROM med WHERE rn = (n + 1) // 2
    ),
    signs AS (
      SELECT h.event_type, h.hour,
             CASE WHEN h.x > m.median_x THEN 1 ELSE 0 END AS s
      FROM h JOIN m ON m.event_type = h.event_type
      WHERE h.x <> m.median_x
    ),
    runs AS (
      SELECT event_type,
             cast(count(*) AS BIGINT) AS n,
             cast(sum(s) AS BIGINT) AS n_pos,
             cast(1 + sum(CASE WHEN s <> prev_s THEN 1 ELSE 0 END)
                  AS BIGINT) AS r
      FROM (
        SELECT event_type, s,
               lag(s) OVER (PARTITION BY event_type ORDER BY hour) AS prev_s
        FROM signs
      )
      WHERE prev_s IS NOT NULL OR prev_s IS NULL
      GROUP BY event_type
    ),
    z AS (
      SELECT event_type, n, n_pos, n - n_pos AS n_neg, r,
             1.0::DOUBLE + 2.0::DOUBLE * n_pos * (n - n_pos) / n AS er,
             (2.0::DOUBLE * n_pos * (n - n_pos)
              * (2.0::DOUBLE * n_pos * (n - n_pos) - n))
               / (n * 1.0 * n * (n - 1)) AS vr
      FROM runs
    )
    SELECT event_type, n AS n_hours, n_pos, n_neg, r AS n_runs,
           round(er, 6) AS expected_runs,
           round((r - er) / sqrt(vr), 6) AS z,
           round(__PSQL__, 6) AS p_value
    FROM (SELECT *, (r - er) / sqrt(vr) AS z_raw FROM z)
    """.replace("__PSQL__", NORMAL_SF_SQL.format(z="z_raw")),
)
def runs_test_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test per event type on the hourly revenue
    series: are above/below-median hours randomly interleaved, or does
    the series cluster (fewer runs = positive autocorrelation /
    regime-sitting; more runs = oscillation)? The model-free
    autocorrelation screen that says whether the i.i.d. assumptions
    behind the simpler monitors hold at all.

    Median = the explicit (n+1)//2-th order statistic (tie-broken by
    hour, engine-stable); median-equal hours are dropped identically on
    both engines (the textbook treatment); the run count is one lag()
    comparison summed over the hours-bounded series; E[R] and Var[R]
    are closed forms of exact integer counts, the z and erf p scalar
    doubles. One corpus rollup; everything after is series-bounded."""
    ev = T(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(
        F.sum(F.round(F.col("value") * 100.0).cast("long")).alias("x")
    ).localCheckpoint()  # feeds the median pick and the sign walk
    wtype = Window.partitionBy("event_type")
    med = (
        h.select(
            "event_type",
            "x",
            F.row_number().over(wtype.orderBy("x", "hour")).alias("rn"),
            F.count(F.lit(1)).over(wtype).alias("n"),
        )
        .filter(F.col("rn") == F.floor((F.col("n") + 1) / 2))
        .select("event_type", F.col("x").alias("median_x"))
    )
    signs = (
        h.join(F.broadcast(med), "event_type")
        .filter(F.col("x") != F.col("median_x"))
        .select(
            "event_type",
            "hour",
            F.when(F.col("x") > F.col("median_x"), 1).otherwise(0).alias("s"),
        )
    )
    lagged = signs.select(
        "event_type",
        "s",
        F.lag("s").over(wtype.orderBy("hour")).alias("prev_s"),
    )
    runs = lagged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("s").cast("long").alias("n_pos"),
        (
            1
            + F.sum(
                F.when(
                    F.col("prev_s").isNotNull()
                    & (F.col("s") != F.col("prev_s")),
                    1,
                ).otherwise(0)
            )
        )
        .cast("long")
        .alias("r"),
    )
    npnn = F.col("n_pos") * (F.col("n") - F.col("n_pos"))
    er = F.lit(1.0) + F.lit(2.0) * npnn / F.col("n")
    vr = (
        F.lit(2.0)
        * npnn
        * (F.lit(2.0) * npnn - F.col("n"))
        / (F.col("n") * F.lit(1.0) * F.col("n") * (F.col("n") - 1))
    )
    z = (F.col("r") - er) / F.sqrt(vr)
    return runs.select(
        "event_type",
        F.col("n").alias("n_hours"),
        "n_pos",
        (F.col("n") - F.col("n_pos")).alias("n_neg"),
        F.col("r").alias("n_runs"),
        F.round(er, 6).alias("expected_runs"),
        F.round(z, 6).alias("z"),
        F.round(normal_sf(z), 6).alias("p_value"),
    )


# --- Wave 60: Wasserstein-1 distributional drift --------------------------------------


@query(
    "wasserstein_value_drift",
    oracle="""
    WITH b AS (
      SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid_us
      FROM events
    ),
    v AS (
      SELECT event_type,
             CASE WHEN epoch_us(ts) < b.mid_us THEN 1 ELSE 2 END AS half,
             cast(round(value * 100.0) AS BIGINT) AS cents
      FROM events, b
    ),
    g AS (
      SELECT event_type, cents,
             cast(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
             cast(sum(CASE WHEN half = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
      FROM v GROUP BY 1, 2
    ),
    n AS (
      SELECT event_type,
             cast(sum(c1) AS BIGINT) AS n1,
             cast(sum(c2) AS BIGINT) AS n2
      FROM g GROUP BY 1
    ),
    grid AS (
      SELECT g.event_type, g.cents,
             sum(g.c1) OVER (PARTITION BY g.event_type ORDER BY g.cents)
               AS cum1,
             sum(g.c2) OVER (PARTITION BY g.event_type ORDER BY g.cents)
               AS cum2,
             lead(g.cents) OVER (PARTITION BY g.event_type ORDER BY g.cents)
               AS next_cents
      FROM g
    ),
    terms AS (
      SELECT grid.event_type,
             CAST(floor(abs(grid.cum1 * 1.0 / n.n1 - grid.cum2 * 1.0 / n.n2)
                        * (grid.next_cents - grid.cents) * 1e6) AS BIGINT)
               AS w_fp
      FROM grid JOIN n USING (event_type)
      WHERE grid.next_cents IS NOT NULL
    )
    SELECT t.event_type, n.n1 AS n_first_half, n.n2 AS n_second_half,
           floor(sum(t.w_fp) / 1e4) / 1e4 AS w1_dollars
    FROM terms t JOIN n USING (event_type)
    GROUP BY t.event_type, n.n1, n.n2
    """,
)
def wasserstein_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wasserstein-1 (earth-mover) distance between each event type's
    first-half and second-half value distributions — the drift measure
    in the UNITS OF THE METRIC (dollars of distribution movement),
    which PSI and KL cannot give (both are binning-sensitive and
    unitless) and KS truncates to the single worst point: W1 =
    integral |F1 - F2| dv, computed exactly on the distinct-cents grid
    as sum |cum1/n1 - cum2/n2| * (next_value - value).

    The grid is value-range-bounded (distinct cents), the CDFs are one
    ordered cumulative window of integer counts per type, each grid
    term is floor-truncated to fixed-point int64 before the (possibly
    large) grid sum — order-free — and the split boundary is the same
    integer-microsecond midpoint as poisson_rate_ratio_test. Completes
    the drift family: PSI (binned), KL/JS (likelihood), KS (sup-norm),
    W1 (transport)."""
    ev = T(spark, sf_dir, "events").select(
        "event_type",
        F.unix_micros(F.col("ts")).alias("us"),
        F.round(F.col("value") * 100.0).cast("long").alias("cents"),
    )
    b = ev.agg(
        F.floor((F.min("us") + F.max("us")) / 2).cast("long").alias("mid_us")
    )
    v = ev.crossJoin(F.broadcast(b)).select(
        "event_type",
        F.when(F.col("us") < F.col("mid_us"), 1).otherwise(2).alias("half"),
        "cents",
    )
    g = v.groupBy("event_type", "cents").agg(
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
        .cast("long")
        .alias("c1"),
        F.sum(F.when(F.col("half") == 2, 1).otherwise(0))
        .cast("long")
        .alias("c2"),
    ).localCheckpoint()  # feeds totals and the grid walk
    n = g.groupBy("event_type").agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
    )
    wt = Window.partitionBy("event_type").orderBy("cents")
    cum = wt.rowsBetween(Window.unboundedPreceding, 0)
    grid = g.select(
        "event_type",
        "cents",
        F.sum("c1").over(cum).alias("cum1"),
        F.sum("c2").over(cum).alias("cum2"),
        F.lead("cents").over(wt).alias("next_cents"),
    )
    terms = (
        grid.filter(F.col("next_cents").isNotNull())
        .join(F.broadcast(n), "event_type")
        .select(
            "event_type",
            F.floor(
                F.abs(
                    F.col("cum1") * F.lit(1.0) / F.col("n1")
                    - F.col("cum2") * F.lit(1.0) / F.col("n2")
                )
                * (F.col("next_cents") - F.col("cents"))
                * F.lit(1e6)
            )
            .cast("long")
            .alias("w_fp"),
        )
    )
    return (
        terms.groupBy("event_type")
        .agg(F.sum("w_fp").cast("long").alias("w_sum"))
        .join(F.broadcast(n), "event_type")
        .select(
            "event_type",
            F.col("n1").alias("n_first_half"),
            F.col("n2").alias("n_second_half"),
            (F.floor(F.col("w_sum") / F.lit(1e4)) / 1e4).alias("w1_dollars"),
        )
    )


# --- Wave 61: seasonal Mann-Kendall + Gumbel block maxima ---------------------------


@query(
    "seasonal_mann_kendall",
    oracle="""
    WITH h AS (
      SELECT event_type,
             cast(floor(epoch(date_trunc('hour', ts)) / 3600) AS BIGINT) AS t,
             cast(floor(epoch(date_trunc('hour', ts)) / 3600) % 24
                  AS BIGINT) AS season,
             sum(CAST(round(value * 100.0) AS BIGINT)) AS x
      FROM events GROUP BY 1, 2, 3
    ),
    s AS (
      SELECT a.event_type, a.season,
             cast(sum(CASE WHEN b.x > a.x THEN 1
                           WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT)
               AS s_h,
             cast(count(*) AS BIGINT) AS n_pairs
      FROM h a JOIN h b
        ON a.event_type = b.event_type AND a.season = b.season AND a.t < b.t
      GROUP BY 1, 2
    ),
    n AS (
      SELECT event_type, season, cast(count(*) AS BIGINT) AS n
      FROM h GROUP BY 1, 2
    ),
    pert AS (
      SELECT s.event_type,
             cast(sum(s.s_h) AS BIGINT) AS s_tot,
             sum(n.n * 1.0 * (n.n - 1) * (2 * n.n + 5) / 18.0) AS var_tot,
             cast(count(*) AS BIGINT) AS k_seasons
      FROM s JOIN n USING (event_type, season)
      GROUP BY 1
    ),
    z AS (
      SELECT event_type, s_tot, k_seasons,
             CASE WHEN s_tot > 0 THEN (s_tot - 1)
                  WHEN s_tot < 0 THEN (s_tot + 1) ELSE 0 END
               / sqrt(var_tot) AS z_raw
      FROM pert
    )
    SELECT event_type, k_seasons, s_tot,
           round(z_raw, 6) AS z,
           round(__PSQL__, 6) AS p_value
    FROM z
    """.replace("__PSQL__", NORMAL_SF_SQL.format(z="z_raw")),
)
def seasonal_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal Mann-Kendall (Hirsch & Slack 1984) per event type: the
    MK statistic computed WITHIN each hour-of-day season and summed —
    so a strong diurnal cycle (which inflates plain MK's pair count
    with cross-season comparisons that are cycle, not trend) cannot
    masquerade as drift. S_total = sum_h S_h; Var = sum_h n_h(n_h-1)
    (2n_h+5)/18 (no ties correction needed here: integer cents on
    sparse hourly sums — the tie term is retained in plain
    mann_kendall_trend where it matters); continuity-corrected z.

    The pair join is season-bounded (|hours-per-season|^2 x 24 — a 24x
    reduction of plain MK's pair count); S per season is an exact
    integer; the variance is a k-bounded sum folded in one aggregate.
    Reads beside mann_kendall_trend: agreement says the trend is real,
    divergence says it was the cycle."""
    ev = T(spark, sf_dir, "events")
    hour_idx = F.floor(F.col("ts").cast("long") / 3600)
    h = (
        ev.groupBy(
            "event_type",
            hour_idx.alias("t"),
            (hour_idx % 24).alias("season"),
        )
        .agg(
            F.sum(F.round(F.col("value") * 100.0).cast("long")).alias("x")
        )
        .localCheckpoint()
    )
    a, b = h.alias("a"), h.alias("b")
    s = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.season") == F.col("b.season"))
            & (F.col("a.t") < F.col("b.t")),
        )
        .groupBy(
            F.col("a.event_type").alias("event_type"),
            F.col("a.season").alias("season"),
        )
        .agg(
            F.sum(
                F.when(F.col("b.x") > F.col("a.x"), 1)
                .when(F.col("b.x") < F.col("a.x"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s_h")
        )
    )
    n = h.groupBy("event_type", "season").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    pert = (
        s.join(n, ["event_type", "season"])
        .groupBy("event_type")
        .agg(
            F.sum("s_h").cast("long").alias("s_tot"),
            F.sum(
                F.col("n")
                * F.lit(1.0)
                * (F.col("n") - 1)
                * (2 * F.col("n") + 5)
                / F.lit(18.0)
            ).alias("var_tot"),
            F.count(F.lit(1)).cast("long").alias("k_seasons"),
        )
    )
    s_cc = (
        F.when(F.col("s_tot") > 0, F.col("s_tot") - 1)
        .when(F.col("s_tot") < 0, F.col("s_tot") + 1)
        .otherwise(0)
    )
    z = s_cc / F.sqrt(F.col("var_tot"))
    return pert.select(
        "event_type",
        "k_seasons",
        "s_tot",
        F.round(z, 6).alias("z"),
        F.round(normal_sf(z), 6).alias("p_value"),
    )


# Pinned 17-digit literals (identical text on both engines)
_GUMBEL_SQRT6_PI = "0.7796968012336761"  # sqrt(6)/pi
_GUMBEL_EULER = "0.5772156649015329"  # Euler-Mascheroni gamma
_GUMBEL_RETURN_T = 100  # return period in blocks (days)


@query(
    "gumbel_block_maxima",
    oracle=f"""
    WITH d AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             max(CAST(round(value * 100.0) AS BIGINT)) AS mx
      FROM events GROUP BY 1, 2
    ),
    g AS (
      SELECT event_type,
             cast(count(*) AS BIGINT) AS n_days,
             cast(sum(mx) AS BIGINT) AS s1,
             sum(mx::HUGEINT * mx) AS s2
      FROM d GROUP BY 1
    ),
    fit AS (
      SELECT event_type, n_days,
             s1 * 1.0 / n_days / 100.0 AS mean_max,
             sqrt((s2::DOUBLE - s1 * 1.0 * s1 / n_days) / (n_days - 1))
               / 100.0 AS sd_max
      FROM g
    ),
    p AS (
      SELECT event_type, n_days, mean_max, sd_max,
             {_GUMBEL_SQRT6_PI} * sd_max AS beta,
             mean_max - {_GUMBEL_EULER} * ({_GUMBEL_SQRT6_PI} * sd_max) AS mu
      FROM fit
    )
    SELECT event_type, n_days,
           round(mu, 6) AS gumbel_mu,
           round(beta, 6) AS gumbel_beta,
           round(mu - beta * ln(-ln(1.0::DOUBLE
                 - 1.0::DOUBLE / {_GUMBEL_RETURN_T})), 6)
             AS return_level_{_GUMBEL_RETURN_T}d
    FROM p
    """,
)
def gumbel_block_maxima(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel extreme-value fit on daily block maxima per event type
    (Gumbel 1958, method of moments: beta = sd sqrt(6)/pi, mu = mean -
    gamma beta) with the {t}-day return level mu - beta ln(-ln(1-1/T))
    — the capacity-planning question ("what single-event value should
    we expect once per {t} days") that tail quantiles of the POOLED
    distribution answer wrongly, and the block-maxima companion to
    hill_tail_index's threshold view.

    One (type, day) max rollup; mean/sd from exact integer-cents
    (HUGEINT second moment); sqrt(6)/pi and Euler's gamma are 17-digit
    pinned literals so the closed forms are engine-identical; round6
    outputs.""".format(t=_GUMBEL_RETURN_T)
    ev = T(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.max(F.round(F.col("value") * 100.0).cast("long")).alias("mx"))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    g = d.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("mx").cast("long").alias("s1"),
        F.sum(dec(F.col("mx")) * F.col("mx")).alias("s2"),
    )
    mean_max = F.col("s1") * F.lit(1.0) / F.col("n_days") / F.lit(100.0)
    sd_max = F.sqrt(
        (
            F.col("s2").cast("double")
            - F.col("s1") * F.lit(1.0) * F.col("s1") / F.col("n_days")
        )
        / (F.col("n_days") - 1)
    ) / F.lit(100.0)
    beta = F.lit(float(_GUMBEL_SQRT6_PI)) * sd_max
    mu = mean_max - F.lit(float(_GUMBEL_EULER)) * (
        F.lit(float(_GUMBEL_SQRT6_PI)) * sd_max
    )
    rl = mu - beta * F.log(
        -F.log(F.lit(1.0) - F.lit(1.0) / F.lit(_GUMBEL_RETURN_T))
    )
    return g.select(
        "event_type",
        "n_days",
        F.round(mu, 6).alias("gumbel_mu"),
        F.round(beta, 6).alias("gumbel_beta"),
        F.round(rl, 6).alias(f"return_level_{_GUMBEL_RETURN_T}d"),
    )


# --- Wave 63: E-value sensitivity analysis -----------------------------------

_EV_Z = 1.959963984540054  # pinned literal, same as the Greenwood CI


@query(
    "evalue_sensitivity",
    oracle=f"""
    WITH conv AS (
      SELECT user_id,
             max(CASE WHEN event_type = 'purchase' AND value > 450.0
                      THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY user_id
    ),
    arms AS (
      SELECT CASE WHEN ({{hex1}}) % 2 = 0 THEN 0 ELSE 1 END AS variant,
             converted
      FROM conv
    ),
    s AS (
      SELECT cast(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             cast(sum(CASE WHEN variant = 0 THEN converted ELSE 0 END) AS BIGINT) AS x1,
             cast(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             cast(sum(CASE WHEN variant = 1 THEN converted ELSE 0 END) AS BIGINT) AS x2
      FROM arms
    ),
    rrc AS (
      -- both arms must convert at least once or RR/se are undefined
      -- (the sf0.001 sparsity case): emit the counts with NULL effect
      SELECT n1, x1, n2, x2,
             CASE WHEN x1 > 0 AND x2 > 0
                  THEN (x2::DOUBLE / n2) / (x1::DOUBLE / n1) END AS rr,
             CASE WHEN x1 > 0 AND x2 > 0
                  THEN sqrt((1.0::DOUBLE - x1::DOUBLE / n1) / x1
                       + (1.0::DOUBLE - x2::DOUBLE / n2) / x2) END AS se_ln
      FROM s
    ),
    ci AS (
      SELECT *,
             exp(ln(rr) - {_EV_Z!r} * se_ln) AS ci_lo,
             exp(ln(rr) + {_EV_Z!r} * se_ln) AS ci_hi
      FROM rrc
    ),
    ev AS (
      SELECT *,
             CASE WHEN rr >= 1.0 THEN rr ELSE 1.0::DOUBLE / rr END AS rrs,
             CASE WHEN rr IS NULL THEN NULL
                  WHEN ci_lo > 1.0 THEN ci_lo
                  WHEN ci_hi < 1.0 THEN 1.0::DOUBLE / ci_hi
                  ELSE 1.0::DOUBLE END AS rrs_ci
      FROM ci
    )
    SELECT n1 AS n_control, x1 AS conv_control,
           n2 AS n_treatment, x2 AS conv_treatment,
           round(rr, 6) AS risk_ratio,
           round(ci_lo, 6) AS rr_ci_lo,
           round(ci_hi, 6) AS rr_ci_hi,
           round(rrs + sqrt(rrs * (rrs - 1.0)), 6) AS evalue_point,
           round(CASE WHEN rrs_ci IS NULL THEN NULL
                      WHEN rrs_ci > 1.0
                      THEN rrs_ci + sqrt(rrs_ci * (rrs_ci - 1.0))
                      ELSE 1.0::DOUBLE END, 6) AS evalue_ci
    FROM ev
    """.format(
        hex1="(strpos('0123456789abcdef',"
        " substr(md5(cast(user_id AS VARCHAR) || '|ab'), 1, 1)) - 1)"
    ),
)
def evalue_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-value sensitivity analysis (VanderWeele & Ding 2017) for the
    experiment's risk ratio: the minimum strength of association an
    UNMEASURED confounder would need with both arm assignment and
    outcome to explain the observed RR away — E = RR* + sqrt(RR*(RR*-1))
    on the point estimate and on the CI bound closer to the null (1 if
    the CI crosses 1). The standard robustness readout for
    observational effect estimates, completing the causal family
    (DiD, CUPED, IPTW, PSM, RD, QTE) with its sensitivity leg.

    Same md5 bucketing and conversion definition as
    ab_test_two_proportion (the null is true by construction, so the
    expected E-value is ~1 — the operator is the machinery). All
    inputs are integer arm counts; ln/exp/sqrt on identical doubles,
    round 6. One per-user aggregate + one scalar fold."""
    ev = T(spark, sf_dir, "events")
    conv = ev.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("value") > 450.0),
                1,
            ).otherwise(0)
        ).alias("converted")
    )
    variant = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("user_id").cast("string"), F.lit("|ab"))),
                1,
                1,
            ),
            16,
            10,
        ).cast("int")
        % 2
    )
    arms = conv.select(variant.alias("variant"), "converted")
    s = arms.agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("variant") == 0, F.col("converted")).otherwise(0))
        .cast("long")
        .alias("x1"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n2"),
        F.sum(F.when(F.col("variant") == 1, F.col("converted")).otherwise(0))
        .cast("long")
        .alias("x2"),
    )
    p1 = F.col("x1").cast("double") / F.col("n1")
    p2 = F.col("x2").cast("double") / F.col("n2")
    ok = (F.col("x1") > 0) & (F.col("x2") > 0)
    # both arms must convert at least once or RR/se are undefined (the
    # sf0.001 sparsity case) — NULL effect columns, mirrored in the oracle
    rr = F.when(ok, p2 / p1)
    se_ln = F.when(
        ok,
        F.sqrt(
            (F.lit(1.0) - p1) / F.col("x1")
            + (F.lit(1.0) - p2) / F.col("x2")
        ),
    )
    ci_lo = F.exp(F.log(rr) - F.lit(_EV_Z) * se_ln)
    ci_hi = F.exp(F.log(rr) + F.lit(_EV_Z) * se_ln)
    rrs = F.when(rr >= 1.0, rr).otherwise(F.lit(1.0) / rr)
    rrs_ci = F.when(
        ok,
        F.when(ci_lo > 1.0, ci_lo)
        .when(ci_hi < 1.0, F.lit(1.0) / ci_hi)
        .otherwise(F.lit(1.0)),
    )
    return s.select(
        F.col("n1").alias("n_control"),
        F.col("x1").alias("conv_control"),
        F.col("n2").alias("n_treatment"),
        F.col("x2").alias("conv_treatment"),
        F.round(rr, 6).alias("risk_ratio"),
        F.round(ci_lo, 6).alias("rr_ci_lo"),
        F.round(ci_hi, 6).alias("rr_ci_hi"),
        F.round(rrs + F.sqrt(rrs * (rrs - 1.0)), 6).alias("evalue_point"),
        F.round(
            F.when(
                rrs_ci > 1.0, rrs_ci + F.sqrt(rrs_ci * (rrs_ci - 1.0))
            ).otherwise(F.when(ok, F.lit(1.0))),
            6,
        ).alias("evalue_ci"),
    )


# --- Wave 66: Fisher exact test -----------------------------------------------


@query(
    "fisher_exact_supplier_balance",
    oracle="""
    WITH s AS (
      SELECT (r.r_name = 'EUROPE') AS in_eu, (sp.s_acctbal < 0) AS neg
      FROM supplier sp
      JOIN nation n ON sp.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
    ),
    cnt AS (
      SELECT cast(sum(CASE WHEN in_eu AND neg THEN 1 ELSE 0 END) AS BIGINT) AS a,
             cast(sum(CASE WHEN in_eu THEN 1 ELSE 0 END) AS BIGINT) AS r1,
             cast(sum(CASE WHEN neg THEN 1 ELSE 0 END) AS BIGINT) AS c1,
             cast(count(*) AS BIGINT) AS n
      FROM s
    ),
    grid AS (
      SELECT unnest(generate_series(0, (SELECT n FROM cnt))) AS i
    ),
    lf AS (
      SELECT i,
             cast(sum(CASE WHEN i >= 2
                           THEN cast(floor(ln(i) * 1e9) AS BIGINT)
                           ELSE 0 END) OVER (ORDER BY i) AS BIGINT) AS lf
      FROM grid
    ),
    konst AS (
      SELECT c.a, c.r1, c.c1, c.n,
             l1.lf + l2.lf + l3.lf + l4.lf - l5.lf AS kfp
      FROM cnt c
      JOIN lf l1 ON l1.i = c.r1
      JOIN lf l2 ON l2.i = c.n - c.r1
      JOIN lf l3 ON l3.i = c.c1
      JOIN lf l4 ON l4.i = c.n - c.c1
      JOIN lf l5 ON l5.i = c.n
    ),
    ks AS (
      SELECT k.a, k.r1, k.c1, k.n, k.kfp, u.kk
      FROM konst k,
           unnest(generate_series(greatest(0, k.r1 + k.c1 - k.n),
                                  least(k.r1, k.c1))) AS u(kk)
    ),
    lp AS (
      SELECT ks.a, ks.r1, ks.c1, ks.n, ks.kk,
             ks.kfp - la.lf - lb.lf - lc.lf - ld.lf AS l_fp
      FROM ks
      JOIN lf la ON la.i = ks.kk
      JOIN lf lb ON lb.i = ks.r1 - ks.kk
      JOIN lf lc ON lc.i = ks.c1 - ks.kk
      JOIN lf ld ON ld.i = ks.n - ks.r1 - ks.c1 + ks.kk
    ),
    obs AS (SELECT l_fp AS obs_fp FROM lp WHERE kk = a)
    SELECT any_value(lp.a) AS n_eu_neg,
           any_value(lp.r1 - lp.a) AS n_eu_pos,
           any_value(lp.c1 - lp.a) AS n_row_neg,
           any_value(lp.n - lp.r1 - lp.c1 + lp.a) AS n_row_pos,
           cast(count(*) FILTER (WHERE lp.l_fp <= obs.obs_fp) AS BIGINT)
             AS n_tables,
           floor(cast(sum(CASE WHEN lp.l_fp <= obs.obs_fp
                         THEN cast(floor(exp(lp.l_fp / 1e9) * 1e12) AS BIGINT)
                         ELSE 0 END) AS BIGINT) / 1e6) / 1e6 AS p_two_sided,
           any_value(CASE WHEN (lp.r1 - lp.a) * (lp.c1 - lp.a) > 0
                THEN ((lp.a * (lp.n - lp.r1 - lp.c1 + lp.a) * 1000000)
                      // ((lp.r1 - lp.a) * (lp.c1 - lp.a))) / 1e6
                END) AS odds_ratio
    FROM lp, obs
    """,
)
def fisher_exact_supplier_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher's EXACT test on the 2x2 (region = EUROPE) x (negative
    account balance) supplier table — the small-count companion to the
    asymptotic chi-square (M2): p = sum of hypergeometric probabilities
    of every table as or less probable than the observed one (the
    two-sided convention R uses).

    Exactness across engines: the ln-factorial ladder lf(m) =
    sum_{i<=m} floor(ln(i)*1e9) is an INTEGER prefix sum over the
    supplier-count grid, so every table's log-probability L(k) is an
    exact BIGINT on both engines and the "as extreme" inclusion
    predicate L(k) <= L(a) compares integers — no float tie ambiguity.
    Each included probability exp(L/1e9) (exp of identical doubles is
    bit-stable) is floored into 1e-12 fixed point before the order-free
    integer sum; the final p truncates to 1e-6.

    Scale: the 2x2 is one broadcast-dim aggregate over the supplier
    fact; the grid, support walk, and ladder are n_suppliers-bounded
    scalars — at any corpus size the exact test costs one shuffle."""
    sp = T(spark, sf_dir, "supplier").select("s_nationkey", "s_acctbal")
    na = F.broadcast(
        T(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    )
    rg = F.broadcast(
        T(spark, sf_dir, "region").select("r_regionkey", "r_name")
    )
    s = (
        sp.join(na, sp.s_nationkey == na.n_nationkey)
        .join(rg, F.col("n_regionkey") == F.col("r_regionkey"))
        .select(
            (F.col("r_name") == "EUROPE").alias("in_eu"),
            (F.col("s_acctbal") < 0).alias("neg"),
        )
    )
    cnt = s.agg(
        F.sum(F.when(F.col("in_eu") & F.col("neg"), 1).otherwise(0))
        .cast("long")
        .alias("a"),
        F.sum(F.when(F.col("in_eu"), 1).otherwise(0)).cast("long").alias("r1"),
        F.sum(F.when(F.col("neg"), 1).otherwise(0)).cast("long").alias("c1"),
        F.count(F.lit(1)).cast("long").alias("n"),
    ).localCheckpoint()
    grid = cnt.select(
        F.explode(F.sequence(F.lit(0).cast("long"), F.col("n"))).alias("i")
    )
    wlf = Window.orderBy("i").rowsBetween(Window.unboundedPreceding, 0)
    lf = grid.select(
        "i",
        F.sum(
            F.when(
                F.col("i") >= 2,
                F.floor(F.log(F.col("i").cast("double")) * 1e9).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
        )
        .over(wlf)
        .cast("long")
        .alias("lf"),
    ).localCheckpoint()

    # ONE ladder lookup instead of nine separate broadcast joins: unpivot
    # every ln-factorial index a table needs into (kk, sign, idx) rows,
    # join the ladder once, and reassemble L(k) = sum(sign * lf(idx)).
    ks = cnt.select(
        "a",
        "r1",
        "c1",
        "n",
        F.explode(
            F.sequence(
                F.greatest(
                    F.lit(0).cast("long"),
                    F.col("r1") + F.col("c1") - F.col("n"),
                ),
                F.least(F.col("r1"), F.col("c1")),
            )
        ).alias("kk"),
    )

    def _need(sign: int, idx):
        return F.struct(
            F.lit(sign).alias("sign"), idx.cast("long").alias("idx")
        )

    needs = ks.select(
        "a",
        "r1",
        "c1",
        "n",
        "kk",
        F.explode(
            F.array(
                _need(1, F.col("r1")),
                _need(1, F.col("n") - F.col("r1")),
                _need(1, F.col("c1")),
                _need(1, F.col("n") - F.col("c1")),
                _need(-1, F.col("n")),
                _need(-1, F.col("kk")),
                _need(-1, F.col("r1") - F.col("kk")),
                _need(-1, F.col("c1") - F.col("kk")),
                _need(
                    -1,
                    F.col("n") - F.col("r1") - F.col("c1") + F.col("kk"),
                ),
            )
        ).alias("t"),
    )
    lp = (
        needs.join(F.broadcast(lf), needs.t.idx == lf.i)
        .groupBy("a", "r1", "c1", "n", "kk")
        .agg(
            F.sum(F.col("t.sign") * F.col("lf")).cast("long").alias("l_fp")
        )
        .localCheckpoint()
    )
    obs = lp.filter(F.col("kk") == F.col("a")).select(
        F.col("l_fp").alias("obs_fp")
    )
    inc = F.col("l_fp") <= F.col("obs_fp")
    agg = lp.crossJoin(F.broadcast(obs)).agg(
        F.any_value(F.col("a")).alias("n_eu_neg"),
        F.any_value(F.col("r1") - F.col("a")).alias("n_eu_pos"),
        F.any_value(F.col("c1") - F.col("a")).alias("n_row_neg"),
        F.any_value(F.col("n") - F.col("r1") - F.col("c1") + F.col("a")).alias(
            "n_row_pos"
        ),
        F.sum(F.when(inc, 1).otherwise(0)).cast("long").alias("n_tables"),
        F.sum(
            F.when(
                inc,
                F.floor(F.exp(F.col("l_fp") / 1e9) * 1e12).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
        )
        .cast("long")
        .alias("p_fp"),
    )
    return agg.select(
        "n_eu_neg",
        "n_eu_pos",
        "n_row_neg",
        "n_row_pos",
        "n_tables",
        (F.floor(F.col("p_fp") / 1e6) / 1e6).alias("p_two_sided"),
        F.when(
            F.col("n_eu_pos") * F.col("n_row_neg") > 0,
            F.expr(
                "(n_eu_neg * n_row_pos * 1000000)"
                " div (n_eu_pos * n_row_neg)"
            )
            / 1e6,
        ).alias("odds_ratio"),
    )


# --- Wave 66: OLS influence diagnostics ---------------------------------------

_INF_TOPK = 10


@query(
    "ols_influence_diagnostics",
    oracle=f"""
    WITH day AS (
      SELECT cast(o_orderdate AS DATE) AS day,
             cast(sum(cast(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS y_c
      FROM orders GROUP BY 1
    ),
    idx AS (
      SELECT day, y_c,
             row_number() OVER (ORDER BY day) AS x
      FROM day
    ),
    m AS (
      SELECT cast(count(*) AS BIGINT) AS n,
             cast(sum(y_c) AS BIGINT) AS sy,
             cast(sum(x * y_c) AS BIGINT) AS sxy,
             sum(y_c * y_c) AS syy
      FROM idx
    ),
    coef AS (
      SELECT n, sy, sxy, syy,
             (n * (n + 1)) // 2 AS sx,
             (n * (n + 1) * (2 * n + 1)) // 6 AS sxx,
             ((n * (n + 1)) // 2)::DOUBLE / n AS xbar,
             (n * (n + 1) * (2 * n + 1)) // 6
               - (((n * (n + 1)) // 2)::DOUBLE
                  * ((n * (n + 1)) // 2)) / n AS sxx_c
      FROM m
    ),
    fit AS (
      SELECT *,
             (sxy - sx::DOUBLE * sy / n) / sxx_c AS bhat
      FROM coef
    ),
    fit2 AS (
      SELECT *,
             (sy::DOUBLE - bhat * sx) / n AS ahat,
             ((syy::DOUBLE - sy::DOUBLE * sy / n) - bhat * bhat * sxx_c)
               / (n - 2) AS mse
      FROM fit
    ),
    diag AS (
      SELECT i.day, i.y_c, i.x,
             i.y_c::DOUBLE - (f.ahat + f.bhat * i.x) AS e,
             1.0::DOUBLE / f.n + (i.x - f.xbar) * (i.x - f.xbar) / f.sxx_c
               AS h,
             f.mse AS mse
      FROM idx i, fit2 f
    ),
    scored AS (
      SELECT day, y_c, h,
             e / sqrt(mse * (1.0::DOUBLE - h)) AS r
      FROM diag
    )
    SELECT day::TIMESTAMP AS day,
           round(y_c / 100.0::DOUBLE, 2) AS revenue,
           round(h, 6) AS leverage,
           round(r, 6) AS student_resid,
           round(r * r * h / (2.0::DOUBLE * (1.0::DOUBLE - h)), 6)
             AS cooks_d
    FROM scored
    ORDER BY r * r * h / (2.0::DOUBLE * (1.0::DOUBLE - h)) DESC, day ASC
    LIMIT {_INF_TOPK}
    """,
)
def ols_influence_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leverage, (internally) studentized residuals, and Cook's distance
    for the daily-revenue-vs-time OLS trend: the influence audit that
    tells you WHICH days drive a fitted trend (h_i = 1/n + (x-xbar)^2 /
    Sxx, r_i = e_i / sqrt(MSE (1-h_i)), D_i = r_i^2 h_i / (2(1-h_i))) —
    top-10 most influential days.

    Cross-engine exactness: daily revenue is summed in INTEGER CENTS
    (floor(price*100+0.5) of identical doubles), x is the day index, so
    every OLS moment is exact (sum(y^2) in decimal/HUGEINT — it
    overflows int64); the closed-form integer x-moments avoid a second
    pass. All downstream algebra runs on identical doubles; ranking
    compares identical doubles with a day tie-break.

    Scale: one partial/final aggregate over the fact; everything after
    lives on the day grid (calendar-bounded), and the top-k is a
    TakeOrdered, never a global sort."""
    o = T(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice")
    day = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        )
        .cast("long")
        .alias("y_c")
    )
    wday = Window.orderBy("day")
    idx = day.select(
        "day", "y_c", F.row_number().over(wday).cast("long").alias("x")
    ).localCheckpoint()
    m = idx.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y_c").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y_c")).cast("long").alias("sxy"),
        F.sum(
            F.col("y_c").cast("decimal(38,0)") * F.col("y_c")
        ).alias("syy"),
    )
    sx = F.expr("(n * (n + 1)) div 2")
    sxx = F.expr("(n * (n + 1) * (2 * n + 1)) div 6")
    coef = m.select(
        "n",
        "sy",
        "sxy",
        "syy",
        sx.alias("sx"),
        sxx.alias("sxx"),
        (sx.cast("double") / F.col("n")).alias("xbar"),
        (
            sxx - sx.cast("double") * sx / F.col("n")
        ).alias("sxx_c"),
    )
    fit = coef.withColumn(
        "bhat",
        (F.col("sxy") - F.col("sx").cast("double") * F.col("sy") / F.col("n"))
        / F.col("sxx_c"),
    )
    fit2 = fit.select(
        "n",
        "xbar",
        "sxx_c",
        "bhat",
        ((F.col("sy").cast("double") - F.col("bhat") * F.col("sx")) / F.col("n")).alias(
            "ahat"
        ),
        (
            (
                F.col("syy").cast("double")
                - F.col("sy").cast("double") * F.col("sy") / F.col("n")
                - F.col("bhat") * F.col("bhat") * F.col("sxx_c")
            )
            / (F.col("n") - 2)
        ).alias("mse"),
    )
    diag = idx.crossJoin(F.broadcast(fit2)).select(
        "day",
        "y_c",
        (
            F.col("y_c").cast("double")
            - (F.col("ahat") + F.col("bhat") * F.col("x"))
        ).alias("e"),
        (
            F.lit(1.0) / F.col("n")
            + (F.col("x") - F.col("xbar"))
            * (F.col("x") - F.col("xbar"))
            / F.col("sxx_c")
        ).alias("h"),
        "mse",
    )
    r = F.col("e") / F.sqrt(F.col("mse") * (F.lit(1.0) - F.col("h")))
    cooks = (
        r * r * F.col("h") / (F.lit(2.0) * (F.lit(1.0) - F.col("h")))
    )
    return (
        diag.select(
            F.col("day").cast("timestamp").alias("day"),
            F.round(F.col("y_c") / F.lit(100.0), 2).alias("revenue"),
            F.round("h", 6).alias("leverage"),
            F.round(r, 6).alias("student_resid"),
            F.round(cooks, 6).alias("cooks_d"),
            cooks.alias("_ord"),
        )
        .orderBy(F.desc("_ord"), F.asc("day"))
        .limit(_INF_TOPK)
        .drop("_ord")
    )


# --- Wave 66: Newey-West HAC trend inference ----------------------------------

_NW_LAGS = 7  # Bartlett kernel bandwidth: one week of daily autocovariance


@query(
    "newey_west_trend_se",
    oracle=f"""
    WITH day AS (
      SELECT cast(o_orderdate AS DATE) AS day,
             cast(sum(cast(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS y_c
      FROM orders GROUP BY 1
    ),
    idx AS (
      SELECT day, y_c, row_number() OVER (ORDER BY day) AS x
      FROM day
    ),
    m AS (
      SELECT cast(count(*) AS BIGINT) AS n,
             cast(sum(y_c) AS BIGINT) AS sy,
             cast(sum(x * y_c) AS BIGINT) AS sxy,
             sum(y_c * y_c) AS syy
      FROM idx
    ),
    coef AS (
      SELECT n, sy, sxy, syy,
             (n * (n + 1)) // 2 AS sx,
             ((n * (n + 1)) // 2)::DOUBLE / n AS xbar,
             (n * (n + 1) * (2 * n + 1)) // 6
               - (((n * (n + 1)) // 2)::DOUBLE
                  * ((n * (n + 1)) // 2)) / n AS sxx_c
      FROM m
    ),
    fit AS (
      SELECT *,
             (sxy - sx::DOUBLE * sy / n) / sxx_c AS bhat
      FROM coef
    ),
    fit2 AS (
      SELECT *,
             (sy::DOUBLE - bhat * sx) / n AS ahat,
             ((syy::DOUBLE - sy::DOUBLE * sy / n) - bhat * bhat * sxx_c)
               / (n - 2) AS mse
      FROM fit
    ),
    xi AS (
      SELECT i.x,
             (i.y_c::DOUBLE - (f.ahat + f.bhat * i.x)) * (i.x - f.xbar)
               AS xi
      FROM idx i, fit2 f
    ),
    lagged AS (
      SELECT x, xi,
             {", ".join(f"lag(xi, {l}) OVER (ORDER BY x) AS xi_{l}" for l in range(1, _NW_LAGS + 1))}
      FROM xi
    ),
    g AS (
      SELECT sum(cast(floor(xi * xi / 1e9) AS HUGEINT)) AS g0,
             {", ".join(f"sum(cast(floor(xi * xi_{l} / 1e9) AS HUGEINT)) FILTER (WHERE xi_{l} IS NOT NULL) AS g{l}" for l in range(1, _NW_LAGS + 1))}
      FROM lagged
    ),
    s AS (
      SELECT (g0::DOUBLE
              + 2.0::DOUBLE * ({" + ".join(f"g{l}::DOUBLE * {_NW_LAGS + 1 - l} / {_NW_LAGS + 1}" for l in range(1, _NW_LAGS + 1))}))
             * 1e9 AS s2
      FROM g
    )
    SELECT f.n AS n_days,
           round(f.bhat / 100.0::DOUBLE, 6) AS slope_dollars,
           round(sqrt(f.mse / f.sxx_c) / 100.0::DOUBLE, 6) AS se_ols,
           round(sqrt(s.s2 / (f.sxx_c * f.sxx_c)) / 100.0::DOUBLE, 6)
             AS se_nw,
           floor(sqrt(s.s2 / (f.sxx_c * f.sxx_c))
                 / sqrt(f.mse / f.sxx_c) * 1e6) / 1e6 AS se_ratio,
           round(f.bhat / sqrt(s.s2 / (f.sxx_c * f.sxx_c)), 4) AS t_nw
    FROM fit2 f, s
    """,
)
def newey_west_trend_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newey-West (1987) HAC standard error for the daily-revenue OLS
    trend slope, Bartlett kernel with L=7 lags (one week of serial
    correlation): Var_NW(b) = [g0 + 2 sum_l (1 - l/(L+1)) g_l] / Sxx^2
    where g_l = sum_t xi_t xi_(t-l) and xi_t = u_t (x_t - xbar) is the
    slope score. Reports the naive OLS se next to the robust one — the
    se_ratio is the autocorrelation-inflation audit a daily KPI trend
    needs before anyone quotes a t-statistic.

    Cross-engine: the OLS moments are exact integers (cents fact sum +
    closed-form x-moments); the score autocovariance terms are floored
    to integral doubles before the decimal/HUGEINT sums, making the
    eight g_l sums order-free; everything after is identical-double
    algebra. Bartlett weights are written as integer ratios (7/8..1/8)
    on both engines.

    Scale: one fact aggregate; the lag battery is 7 lag() columns in
    ONE window pass over the calendar-bounded day grid."""
    o = T(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice")
    day = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        )
        .cast("long")
        .alias("y_c")
    )
    wday = Window.orderBy("day")
    idx = day.select(
        "day", "y_c", F.row_number().over(wday).cast("long").alias("x")
    ).localCheckpoint()
    m = idx.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y_c").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y_c")).cast("long").alias("sxy"),
        F.sum(F.col("y_c").cast("decimal(38,0)") * F.col("y_c")).alias("syy"),
    )
    sx = F.expr("(n * (n + 1)) div 2")
    sxx = F.expr("(n * (n + 1) * (2 * n + 1)) div 6")
    fit2 = (
        m.select(
            "n",
            "sy",
            "sxy",
            "syy",
            sx.alias("sx"),
            (sx.cast("double") / F.col("n")).alias("xbar"),
            (sxx - sx.cast("double") * sx / F.col("n")).alias("sxx_c"),
        )
        .withColumn(
            "bhat",
            (
                F.col("sxy")
                - F.col("sx").cast("double") * F.col("sy") / F.col("n")
            )
            / F.col("sxx_c"),
        )
        .select(
            "n",
            "xbar",
            "sxx_c",
            "bhat",
            (
                (F.col("sy").cast("double") - F.col("bhat") * F.col("sx"))
                / F.col("n")
            ).alias("ahat"),
            (
                (
                    F.col("syy").cast("double")
                    - F.col("sy").cast("double") * F.col("sy") / F.col("n")
                    - F.col("bhat") * F.col("bhat") * F.col("sxx_c")
                )
                / (F.col("n") - 2)
            ).alias("mse"),
        )
        .localCheckpoint()
    )
    xi = idx.crossJoin(F.broadcast(fit2)).select(
        "x",
        (
            (
                F.col("y_c").cast("double")
                - (F.col("ahat") + F.col("bhat") * F.col("x"))
            )
            * (F.col("x") - F.col("xbar"))
        ).alias("xi"),
    )
    wlag = Window.orderBy("x")
    lagged = xi.select(
        "xi",
        *[
            F.lag("xi", lag_l).over(wlag).alias(f"xi_{lag_l}")
            for lag_l in range(1, _NW_LAGS + 1)
        ],
    )
    # floor() returns LONG in Spark (DOUBLE in DuckDB): downscale the
    # score products by 1e9 before flooring so the integral term fits
    # int64 on both engines; the 1e9 re-scale happens after the sums.
    g = lagged.agg(
        F.sum(
            F.floor(F.col("xi") * F.col("xi") / 1e9).cast("decimal(38,0)")
        ).alias("g0"),
        *[
            F.sum(
                F.when(
                    F.col(f"xi_{lag_l}").isNotNull(),
                    F.floor(
                        F.col("xi") * F.col(f"xi_{lag_l}") / 1e9
                    ).cast("decimal(38,0)"),
                )
            ).alias(f"g{lag_l}")
            for lag_l in range(1, _NW_LAGS + 1)
        ],
    )
    s2 = g.select(
        (
            (
                F.col("g0").cast("double")
                + F.lit(2.0)
                * sum(
                    (
                        F.col(f"g{lag_l}").cast("double")
                        * (_NW_LAGS + 1 - lag_l)
                        / (_NW_LAGS + 1)
                    )
                    for lag_l in range(1, _NW_LAGS + 1)
                )
            )
            * F.lit(1e9)
        ).alias("s2")
    )
    se_nw = F.sqrt(F.col("s2") / (F.col("sxx_c") * F.col("sxx_c")))
    se_ols = F.sqrt(F.col("mse") / F.col("sxx_c"))
    return fit2.crossJoin(F.broadcast(s2)).select(
        F.col("n").alias("n_days"),
        F.round(F.col("bhat") / F.lit(100.0), 6).alias("slope_dollars"),
        F.round(se_ols / F.lit(100.0), 6).alias("se_ols"),
        F.round(se_nw / F.lit(100.0), 6).alias("se_nw"),
        (F.floor(se_nw / se_ols * 1e6) / 1e6).alias("se_ratio"),
        F.round(F.col("bhat") / se_nw, 4).alias("t_nw"),
    )


# --- Wave 66: empirical tail dependence ----------------------------------------


@query(
    "tail_dependence_daily",
    oracle="""
    WITH day AS (
      SELECT cast(o_orderdate AS DATE) AS day,
             cast(count(*) AS BIGINT) AS n_orders,
             cast(sum(cast(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS y_c
      FROM orders GROUP BY 1
    ),
    ranked AS (
      SELECT day, n_orders,
             row_number() OVER (ORDER BY n_orders, day) AS rx,
             row_number() OVER (ORDER BY y_c::DOUBLE / n_orders, day) AS ry
      FROM day
    ),
    c AS (SELECT cast(count(*) AS BIGINT) AS n FROM ranked),
    qs AS (SELECT unnest([10, 20]) AS dv),
    j AS (
      SELECT qs.dv, c.n, c.n // qs.dv AS m,
             cast(sum(CASE WHEN r.rx > c.n - c.n // qs.dv
                            AND r.ry > c.n - c.n // qs.dv
                           THEN 1 ELSE 0 END) AS BIGINT) AS joint_hi,
             cast(sum(CASE WHEN r.rx <= c.n // qs.dv
                            AND r.ry <= c.n // qs.dv
                           THEN 1 ELSE 0 END) AS BIGINT) AS joint_lo
      FROM ranked r, c, qs
      GROUP BY 1, 2, 3
    )
    SELECT CASE WHEN dv = 10 THEN '0.90' ELSE '0.95' END AS q,
           m AS tail_n,
           joint_hi,
           (joint_hi * 1000000 // m) / 1e6 AS lambda_upper,
           joint_lo,
           (joint_lo * 1000000 // m) / 1e6 AS lambda_lower
    FROM j
    """,
)
def tail_dependence_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical upper/lower tail-dependence coefficients between daily
    ORDER VOLUME and daily AVERAGE ORDER VALUE: lambda_U(q) = P(Fx(X) >
    q, Fy(Y) > q) / (1 - q) at q = 0.90 and 0.95 (and the mirrored
    lambda_L) — the copula-style audit that correlation misses: two
    series can be uncorrelated yet crash together in the tail.

    Exactness: ranks are row_number with a day tie-break (identical
    doubles order identically), tail membership is pure integer rank
    arithmetic with m = n // 10 / n // 20 (never a float quantile
    boundary), and the coefficients are integer cross-multiplied
    truncations.

    Scale: one fact aggregate to the calendar-bounded day grid; the two
    ranking windows run over days, not rows."""
    o = T(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice")
    day = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        )
        .cast("long")
        .alias("y_c"),
    )
    wx = Window.orderBy("n_orders", "day")
    wy = Window.orderBy(
        F.col("y_c").cast("double") / F.col("n_orders"), F.col("day")
    )
    ranked = day.select(
        "day",
        F.row_number().over(wx).cast("long").alias("rx"),
        F.row_number().over(wy).cast("long").alias("ry"),
    ).localCheckpoint()
    c = ranked.agg(F.count(F.lit(1)).cast("long").alias("n"))
    qs = c.select(
        "n", F.explode(F.array(F.lit(10), F.lit(20))).alias("dv")
    )
    m = F.expr("n div dv")
    j = (
        ranked.crossJoin(F.broadcast(qs))
        .groupBy("dv", "n")
        .agg(
            F.sum(
                F.when(
                    (F.col("rx") > F.col("n") - m) & (F.col("ry") > F.col("n") - m),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("joint_hi"),
            F.sum(
                F.when((F.col("rx") <= m) & (F.col("ry") <= m), 1).otherwise(0)
            )
            .cast("long")
            .alias("joint_lo"),
        )
    )
    return j.select(
        F.when(F.col("dv") == 10, F.lit("0.90"))
        .otherwise(F.lit("0.95"))
        .alias("q"),
        m.alias("tail_n"),
        "joint_hi",
        (F.expr("joint_hi * 1000000 div (n div dv)") / 1e6).alias(
            "lambda_upper"
        ),
        "joint_lo",
        (F.expr("joint_lo * 1000000 div (n div dv)") / 1e6).alias(
            "lambda_lower"
        ),
    )


# --- Wave 67: distance correlation --------------------------------------------


@query(
    "distance_correlation_daily",
    oracle="""
    WITH day AS (
      SELECT cast(o_orderdate AS DATE) AS day,
             cast(count(*) AS BIGINT) AS x,
             cast(sum(cast(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS y
      FROM orders GROUP BY 1
    ),
    rs AS (
      SELECT day, x, y,
             row_number() OVER (ORDER BY x, day) AS rnx,
             sum(x) OVER (ORDER BY x, day
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS px,
             row_number() OVER (ORDER BY y, day) AS rny,
             sum(y) OVER (ORDER BY y, day
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS py
      FROM day
    ),
    tot AS (
      SELECT cast(count(*) AS BIGINT) AS n,
             cast(sum(x) AS BIGINT) AS sx, cast(sum(y) AS BIGINT) AS sy,
             cast(sum(x * y) AS BIGINT) AS sxy,
             cast(sum(x * x) AS BIGINT) AS sxx,
             sum(y * y) AS syy
      FROM day
    ),
    marg AS (
      SELECT r.day,
             2 * r.rnx * r.x - 2 * r.px + t.sx - t.n * r.x AS ax,
             2 * r.rny * r.y - 2 * r.py + t.sy - t.n * r.y AS by
      FROM rs r, tot t
    ),
    m2 AS (
      SELECT sum(ax::HUGEINT * by) AS t2,
             cast(sum(ax) AS BIGINT) AS sa,
             cast(sum(by) AS BIGINT) AS sb,
             sum(ax::HUGEINT * ax) AS t2xx,
             sum(by::HUGEINT * by) AS t2yy
      FROM marg
    ),
    pairs AS (
      SELECT sum((abs(a.x - b.x) * abs(a.y - b.y))::HUGEINT) AS t1
      FROM day a CROSS JOIN day b
    ),
    sq AS (
      SELECT 2 * t.n::HUGEINT * t.sxx - 2 * t.sx::HUGEINT * t.sx AS t1xx,
             2 * t.n::HUGEINT * t.syy - 2 * t.sy::HUGEINT * t.sy AS t1yy
      FROM tot t
    ),
    v AS (
      SELECT t.n,
             p.t1::DOUBLE / (t.n::DOUBLE * t.n)
               - 2.0::DOUBLE * m.t2 / (t.n::DOUBLE * t.n * t.n)
               + (m.sa::DOUBLE / (t.n::DOUBLE * t.n))
                 * (m.sb::DOUBLE / (t.n::DOUBLE * t.n)) AS v2xy,
             q.t1xx::DOUBLE / (t.n::DOUBLE * t.n)
               - 2.0::DOUBLE * m.t2xx / (t.n::DOUBLE * t.n * t.n)
               + (m.sa::DOUBLE / (t.n::DOUBLE * t.n))
                 * (m.sa::DOUBLE / (t.n::DOUBLE * t.n)) AS v2xx,
             q.t1yy::DOUBLE / (t.n::DOUBLE * t.n)
               - 2.0::DOUBLE * m.t2yy / (t.n::DOUBLE * t.n * t.n)
               + (m.sb::DOUBLE / (t.n::DOUBLE * t.n))
                 * (m.sb::DOUBLE / (t.n::DOUBLE * t.n)) AS v2yy,
             (t.sxy - t.sx::DOUBLE * t.sy / t.n)
               / sqrt((t.sxx - t.sx::DOUBLE * t.sx / t.n)
                      * (t.syy::DOUBLE - t.sy::DOUBLE * t.sy / t.n))
               AS pearson
      FROM tot t, m2 m, pairs p, sq q
    )
    SELECT n AS n_days,
           floor(sqrt(v2xy / sqrt(v2xx * v2yy)) * 1e6) / 1e6 AS dcor,
           round(pearson, 6) AS pearson_r
    FROM v
    """,
)
def distance_correlation_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance correlation (Szekely-Rizzo 2007) between daily order
    VOLUME and daily REVENUE — the dependence measure that is zero IFF
    the variables are independent, catching nonlinear coupling that
    Pearson (reported alongside) misses. Uses the V-statistic identity
    dCov^2 = T1/n^2 - 2 T2/n^3 + (SA/n^2)(SB/n^2), so no n x n distance
    matrix is ever double-centered explicitly.

    Exactness: x (count) and y (integer cents) make EVERY distance an
    exact integer. The marginal row sums A_j = sum_k |x_j - x_k|
    collapse to the sorted-prefix identity 2 r_j x_j - 2 P_j + S - n x_j
    (row_number tie-broken by day; tied values contribute zero either
    way) — one window pass, no pair expansion. Only T1 needs the pair
    table, and it is CALENDAR^2-bounded (days x days, independent of
    row count), summed as exact integers in HUGEINT/decimal. All
    downstream algebra is identical-double arithmetic.

    Scale: one fact aggregate; the n^2 piece grows with the calendar
    squared, never with the data."""
    o = T(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice")
    day = (
        o.groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("x"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                    "long"
                )
            )
            .cast("long")
            .alias("y"),
        )
        .localCheckpoint()
    )
    wx = Window.orderBy("x", "day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wy = Window.orderBy("y", "day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wxr = Window.orderBy("x", "day")
    wyr = Window.orderBy("y", "day")
    rs = day.select(
        "day",
        "x",
        "y",
        F.row_number().over(wxr).cast("long").alias("rnx"),
        F.sum("x").over(wx).cast("long").alias("px"),
        F.row_number().over(wyr).cast("long").alias("rny"),
        F.sum("y").over(wy).cast("long").alias("py"),
    )
    tot = day.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("syy"),
    )
    marg = rs.crossJoin(F.broadcast(tot)).select(
        (
            2 * F.col("rnx") * F.col("x")
            - 2 * F.col("px")
            + F.col("sx")
            - F.col("n") * F.col("x")
        ).alias("ax"),
        (
            2 * F.col("rny") * F.col("y")
            - 2 * F.col("py")
            + F.col("sy")
            - F.col("n") * F.col("y")
        ).alias("by"),
    )
    m2 = marg.agg(
        F.sum(F.col("ax").cast("decimal(38,0)") * F.col("by")).alias("t2"),
        F.sum("ax").cast("long").alias("sa"),
        F.sum("by").cast("long").alias("sb"),
        F.sum(F.col("ax").cast("decimal(38,0)") * F.col("ax")).alias("t2xx"),
        F.sum(F.col("by").cast("decimal(38,0)") * F.col("by")).alias("t2yy"),
    )
    b = day.select(
        F.col("x").alias("bx"), F.col("y").alias("by2")
    )
    # fan the left side out before the broadcast nested loop: the day
    # grid arrives as one post-agg partition and AQE would run the
    # n_days^2 expansion single-task otherwise
    parallelism = shuffle_partitions(spark)
    pairs = day.repartition(parallelism).crossJoin(F.broadcast(b)).agg(
        F.sum(
            (
                F.abs(F.col("x") - F.col("bx"))
                * F.abs(F.col("y") - F.col("by2"))
            ).cast("decimal(38,0)")
        ).alias("t1"),
    )
    # sum_jk (v_j - v_k)^2 has the closed form 2 n sum(v^2) - 2 (sum v)^2:
    # only the CROSS term ever touches the pair table
    sq = tot.select(
        (
            2 * F.col("n").cast("decimal(38,0)") * F.col("sxx")
            - 2 * F.col("sx").cast("decimal(38,0)") * F.col("sx")
        ).alias("t1xx"),
        (
            2 * F.col("n").cast("decimal(38,0)") * F.col("syy")
            - 2 * F.col("sy").cast("decimal(38,0)") * F.col("sy")
        ).alias("t1yy"),
    )
    n = F.col("n").cast("double")
    v2 = lambda t1c, t2c, sac, sbc: (  # noqa: E731
        F.col(t1c).cast("double") / (n * F.col("n"))
        - F.lit(2.0) * F.col(t2c).cast("double") / (n * F.col("n") * F.col("n"))
        + (F.col(sac).cast("double") / (n * F.col("n")))
        * (F.col(sbc).cast("double") / (n * F.col("n")))
    )
    v = (
        tot.crossJoin(F.broadcast(m2))
        .crossJoin(F.broadcast(pairs))
        .crossJoin(F.broadcast(sq))
        .select(
            "n",
            v2("t1", "t2", "sa", "sb").alias("v2xy"),
            v2("t1xx", "t2xx", "sa", "sa").alias("v2xx"),
            v2("t1yy", "t2yy", "sb", "sb").alias("v2yy"),
            (
                (
                    F.col("sxy")
                    - F.col("sx").cast("double") * F.col("sy") / F.col("n")
                )
                / F.sqrt(
                    (
                        F.col("sxx")
                        - F.col("sx").cast("double") * F.col("sx") / F.col("n")
                    )
                    * (
                        F.col("syy").cast("double")
                        - F.col("sy").cast("double") * F.col("sy") / F.col("n")
                    )
                )
            ).alias("pearson"),
        )
    )
    return v.select(
        F.col("n").alias("n_days"),
        (
            F.floor(
                F.sqrt(
                    F.col("v2xy") / F.sqrt(F.col("v2xx") * F.col("v2yy"))
                )
                * 1e6
            )
            / 1e6
        ).alias("dcor"),
        F.round("pearson", 6).alias("pearson_r"),
    )


# --- Wave 67: generalized ESD outlier rounds -----------------------------------

_ESD_ROUNDS = 5
_ESD_FLAG = 3.5  # |z|-style flag threshold (documented convention)


def _esd_round_sql(r: int) -> str:
    return f"""
    st{r} AS (
      SELECT cast(count(*) AS BIGINT) AS n,
             cast(sum(y) AS BIGINT) AS sy,
             sum(y::HUGEINT * y) AS syy
      FROM rem{r - 1}
    ),
    pk{r} AS (
      SELECT {r} AS round, rm.day, rm.y, s.n AS n_used,
             abs(rm.y - s.sy::DOUBLE / s.n)
               / sqrt((s.syy::DOUBLE - s.sy::DOUBLE * s.sy / s.n)
                      / (s.n - 1)) AS rstat
      FROM rem{r - 1} rm, st{r} s
      ORDER BY abs(rm.y - s.sy::DOUBLE / s.n) DESC, rm.day ASC
      LIMIT 1
    ),
    rem{r} AS (
      SELECT * FROM rem{r - 1}
      WHERE day NOT IN (SELECT day FROM pk{r})
    )"""


@query(
    "generalized_esd_outliers",
    oracle=(
        """
    WITH rem0 AS (
      SELECT cast(o_orderdate AS DATE) AS day,
             cast(sum(cast(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS y
      FROM orders GROUP BY 1
    ),"""
        + ",".join(_esd_round_sql(r) for r in range(1, _ESD_ROUNDS + 1))
        + f"""
    SELECT round, day::TIMESTAMP AS day,
           round(y / 100.0::DOUBLE, 2) AS revenue,
           n_used, round(rstat, 6) AS r_stat,
           (rstat > {_ESD_FLAG!r}) AS flagged
    FROM ({" UNION ALL ".join(f"SELECT * FROM pk{r}" for r in range(1, _ESD_ROUNDS + 1))})
    """
    ),
)
def generalized_esd_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalized ESD (Rosner 1983) outlier sweep over the daily
    revenue series: five rounds, each computing the extreme studentized
    deviate R = max |y - mean| / sd over the REMAINING days, reporting
    it, and deleting that day before the next round — the masked-outlier
    detector a single z-score pass cannot be (one extreme inflates the
    sd and hides the second). Rounds are reported with a plain R > 3.5
    flag (the t-based Rosner critical values are a documented convention
    away; both engines report the same statistic either way).

    Exactness: per-round moments are exact integer sums (cents fact,
    decimal/HUGEINT squares), the argmax compares identical doubles with
    a day tie-break, and each round's deletion is an exact anti-join —
    so the five-round trajectory is value-identical across engines.

    Scale: one fact aggregate; each round is one scan of the
    calendar-bounded day grid."""
    o = T(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice")
    rem = (
        o.groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                    "long"
                )
            )
            .cast("long")
            .alias("y")
        )
        .localCheckpoint()
    )
    picks = []
    for r in range(1, _ESD_ROUNDS + 1):
        st = rem.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("sy"),
            F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias(
                "syy"
            ),
        )
        dev = F.abs(
            F.col("y") - F.col("sy").cast("double") / F.col("n")
        )
        pick = (
            rem.crossJoin(F.broadcast(st))
            .select(
                F.lit(r).alias("round"),
                "day",
                "y",
                F.col("n").alias("n_used"),
                (
                    dev
                    / F.sqrt(
                        (
                            F.col("syy").cast("double")
                            - F.col("sy").cast("double")
                            * F.col("sy")
                            / F.col("n")
                        )
                        / (F.col("n") - 1)
                    )
                ).alias("rstat"),
                dev.alias("_dev"),
            )
            .orderBy(F.desc("_dev"), F.asc("day"))
            .limit(1)
            .drop("_dev")
            .localCheckpoint()
        )
        picks.append(pick)
        rem = rem.join(
            pick.select("day"), "day", "left_anti"
        ).localCheckpoint()
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    return out.select(
        "round",
        F.col("day").cast("timestamp").alias("day"),
        F.round(F.col("y") / F.lit(100.0), 2).alias("revenue"),
        "n_used",
        F.round("rstat", 6).alias("r_stat"),
        (F.col("rstat") > F.lit(_ESD_FLAG)).alias("flagged"),
    )


# --- Wave 67: Huber M-estimator of location ------------------------------------

_HUB_K = 1.345  # 95%-efficiency Huber tuning constant
_HUB_ROUNDS = 3


def _hub_round_sql(r: int) -> str:
    prev = "base" if r == 1 else f"mu{r - 1}"
    return f"""
    w{r} AS (
      SELECT f.pri,
             cast(sum(cast(floor(
               CASE WHEN abs(f.y - p.mu) <= {_HUB_K!r}::DOUBLE * p.s
                    THEN 1.0::DOUBLE
                    ELSE {_HUB_K!r}::DOUBLE * p.s / abs(f.y - p.mu)
               END * f.y * 1e4) AS BIGINT)) AS BIGINT) AS swy_fp,
             cast(sum(cast(floor(
               CASE WHEN abs(f.y - p.mu) <= {_HUB_K!r}::DOUBLE * p.s
                    THEN 1.0::DOUBLE
                    ELSE {_HUB_K!r}::DOUBLE * p.s / abs(f.y - p.mu)
               END * 1e9) AS BIGINT)) AS BIGINT) AS sw_fp
      FROM fact f JOIN {prev} p ON p.pri = f.pri
      GROUP BY f.pri
    ),
    mu{r} AS (
      SELECT w{r}.pri, b.n, b.mean0, b.s,
             (w{r}.swy_fp / 1e4) / (w{r}.sw_fp / 1e9) AS mu,
             w{r}.sw_fp AS sw_fp
      FROM w{r} JOIN base b ON b.pri = w{r}.pri
    )"""


@query(
    "huber_robust_location",
    oracle=(
        """
    WITH fact AS (
      SELECT o_orderpriority AS pri,
             cast(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS y
      FROM orders
    ),
    base AS (
      SELECT pri, cast(count(*) AS BIGINT) AS n,
             sum(y)::DOUBLE / count(*) AS mean0,
             sum(y)::DOUBLE / count(*) AS mu,
             sqrt((sum(y::HUGEINT * y)::DOUBLE
                   - sum(y)::DOUBLE * sum(y) / count(*))
                  / (count(*) - 1)) AS s
      FROM fact GROUP BY pri
    ),"""
        + ",".join(_hub_round_sql(r) for r in range(1, _HUB_ROUNDS + 1))
        + f"""
    SELECT pri AS priority, n,
           round(mean0 / 100.0::DOUBLE, 4) AS mean_dollars,
           round(mu / 100.0::DOUBLE, 4) AS huber_dollars,
           round((mu - mean0) / 100.0::DOUBLE, 4) AS shift_dollars,
           floor((sw_fp / 1e9) * 1e6 / n) / 1e6 AS mean_weight
    FROM mu{_HUB_ROUNDS}
    """
    ),
)
def huber_robust_location(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Huber M-estimator of the per-priority order value: three IRLS
    rounds of mu <- sum(w y)/sum(w) with w = min(1, k s / |y - mu|),
    k = 1.345 (95% Gaussian efficiency), scale s fixed at the
    preliminary sd (Huber's "Proposal 2 with preliminary scale"
    convention, documented). The robust companion to value_outliers_mad
    and value_winsorized_stats: instead of flagging or clipping tails,
    it downweights them smoothly; shift_dollars is the outlier-pull the
    plain mean hides, mean_weight (avg w) is how much mass was
    discounted.

    Exactness: base moments are exact integer sums; every round's
    weighted sums floor each w*y (1e-4 dollars) and w (1e-9) term into
    int64 fixed point BEFORE the order-free integer sums, so mu stays
    an identical double on both engines round by round.

    Scale: each round is ONE partial/final groupBy over the fact joined
    to a 5-row broadcast of the previous round's centers — the
    iteration cost is honest (3 fact scans) and shuffle-free beyond the
    agg."""
    o = T(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("pri"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("y"),
    ).localCheckpoint()
    base = o.groupBy("pri").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.sum("y").cast("double") / F.count(F.lit(1))).alias("mean0"),
        F.sqrt(
            (
                F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).cast(
                    "double"
                )
                - F.sum("y").cast("double")
                * F.sum("y")
                / F.count(F.lit(1))
            )
            / (F.count(F.lit(1)) - 1)
        ).alias("s"),
    )
    cur = base.select("pri", "n", "mean0", "s", F.col("mean0").alias("mu"))
    for _ in range(_HUB_ROUNDS):
        w = F.when(
            F.abs(F.col("y") - F.col("mu")) <= F.lit(_HUB_K) * F.col("s"),
            F.lit(1.0),
        ).otherwise(
            F.lit(_HUB_K) * F.col("s") / F.abs(F.col("y") - F.col("mu"))
        )
        stats = (
            o.join(
                F.broadcast(cur.select("pri", "n", "mean0", "s", "mu")),
                "pri",
            )
            .groupBy("pri")
            .agg(
                F.sum(F.floor(w * F.col("y") * 1e4).cast("long"))
                .cast("long")
                .alias("swy_fp"),
                F.sum(F.floor(w * 1e9).cast("long"))
                .cast("long")
                .alias("sw_fp"),
                F.any_value("n").alias("n"),
                F.any_value("mean0").alias("mean0"),
                F.any_value("s").alias("s"),
            )
        )
        cur = stats.select(
            "pri",
            "n",
            "mean0",
            "s",
            (
                (F.col("swy_fp") / 1e4) / (F.col("sw_fp") / 1e9)
            ).alias("mu"),
            "sw_fp",
        ).localCheckpoint()
    return cur.select(
        F.col("pri").alias("priority"),
        "n",
        F.round(F.col("mean0") / F.lit(100.0), 4).alias("mean_dollars"),
        F.round(F.col("mu") / F.lit(100.0), 4).alias("huber_dollars"),
        F.round(
            (F.col("mu") - F.col("mean0")) / F.lit(100.0), 4
        ).alias("shift_dollars"),
        (
            F.floor((F.col("sw_fp") / 1e9) * 1e6 / F.col("n")) / 1e6
        ).alias("mean_weight"),
    )


# --- Wave 68: AdaBoost stump trajectory -----------------------------------------

_ADA_ROUNDS = 3


def _ada_round_sql(r: int) -> str:
    stump = (
        "CASE WHEN (CASE {a}.f WHEN 'f1' THEN {x}.f1"
        " WHEN 'f2' THEN {x}.f2 ELSE {x}.f3 END) <= {a}.thr"
        " THEN {a}.pol ELSE -{a}.pol END"
    )
    return f"""
    tot{r} AS (
      SELECT cast(sum(cast(floor(cnt * wmul * 1e6) AS BIGINT)) AS BIGINT)
        AS tot
      FROM cells{r - 1}
    ),
    err{r} AS (
      SELECT c.f, c.thr, c.pol,
             cast(sum(CASE WHEN ({stump.format(a="c", x="x")}) <> x.y
                      THEN cast(floor(x.cnt * x.wmul * 1e6) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS e_fp
      FROM cands c, cells{r - 1} x
      GROUP BY 1, 2, 3
    ),
    pick{r} AS (
      SELECT f, thr, pol, e_fp FROM err{r}
      ORDER BY e_fp ASC, f ASC, thr ASC, pol DESC LIMIT 1
    ),
    alpha{r} AS (
      SELECT p.f, p.thr, p.pol, p.e_fp, t.tot,
             cast(floor(0.5::DOUBLE * ln((t.tot - p.e_fp)::DOUBLE / p.e_fp)
                        * 1e9) AS BIGINT) / 1e9 AS alpha
      FROM pick{r} p, tot{r} t
    ),
    cells{r} AS MATERIALIZED (
      SELECT x.f1, x.f2, x.f3, x.y, x.cnt,
             x.wmul * exp(-a.alpha * x.y
                          * ({stump.format(a="a", x="x")})) AS wmul,
             x.sc + a.alpha * ({stump.format(a="a", x="x")}) AS sc
      FROM cells{r - 1} x, alpha{r} a
    ),
    ens{r} AS (
      SELECT cast(sum(CASE WHEN (CASE WHEN sc >= 0 THEN 1 ELSE -1 END) <> y
                      THEN cnt ELSE 0 END) AS BIGINT) AS miss,
             cast(sum(cnt) AS BIGINT) AS n
      FROM cells{r}
    ),
    out{r} AS (
      SELECT {r} AS round, a.f AS feature, a.thr AS threshold,
             a.pol AS polarity,
             round(a.e_fp::DOUBLE / a.tot, 6) AS weighted_err,
             round(a.alpha, 6) AS alpha,
             (e.miss * 1000000 // e.n) / 1e6 AS ensemble_err
      FROM alpha{r} a, ens{r} e
    )"""


@query(
    "adaboost_stumps_trajectory",
    oracle=(
        """
    WITH feats AS (
      SELECT hour(ts) // 6 AS f1,
             greatest(least(cast(floor(value / 100) AS BIGINT), 4), 0)
               AS f2,
             dayofweek(ts) AS f3,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE -1 END AS y
      FROM events
    ),
    cells0 AS MATERIALIZED (
      SELECT f1, f2, f3, y, cast(count(*) AS BIGINT) AS cnt,
             1.0::DOUBLE AS wmul, 0.0::DOUBLE AS sc
      FROM feats GROUP BY 1, 2, 3, 4
    ),
    cands AS (
      SELECT f, thr, pol FROM (
        SELECT 'f1' AS f, unnest(generate_series(0, 2)) AS thr
        UNION ALL
        SELECT 'f2', unnest(generate_series(0, 3))
        UNION ALL
        SELECT 'f3', unnest(generate_series(0, 5))
      ), (SELECT unnest([1, -1]) AS pol)
    ),"""
        + ",".join(_ada_round_sql(r) for r in range(1, _ADA_ROUNDS + 1))
        + f"""
    {" UNION ALL ".join(f"SELECT * FROM out{r}" for r in range(1, _ADA_ROUNDS + 1))}
    """
    ),
)
def adaboost_stumps_trajectory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three rounds of AdaBoost (Freund-Schapire) with decision stumps
    predicting purchase events from (hour-of-day bucket, value bucket,
    weekday) — run ENTIRELY on sufficient statistics: because every
    stump is a function of the binned features, the per-row weights
    collapse onto the (f1, f2, f3, y) CELL table (<= 4*5*7*2 rows), so
    each boosting round is a 36-candidate scan of a few hundred cells,
    never a reweighting pass over the fact. The fact is touched exactly
    once, to build the cell counts — the boosted-trees analogue of
    gbdt_histogram_best_split's histogram trick, extended to the full
    reweighting trajectory.

    Exactness: cell weights are products of exp() on identical doubles
    (never summed); the weighted errors floor each term into 1e-6 fixed
    point so the candidate argmin compares exact integers (ties broken
    on feature/threshold/polarity); alpha truncates its ln ratio into
    1e-9 fixed point; ensemble error is pure integer counting."""
    ev = T(spark, sf_dir, "events").select("ts", "value", "event_type")
    feats = ev.select(
        F.expr("hour(ts) div 6").alias("f1"),
        F.greatest(
            F.least(
                F.floor(F.col("value") / 100).cast("long"), F.lit(4)
            ),
            F.lit(0),
        ).alias("f2"),
        (F.dayofweek("ts") - 1).cast("long").alias("f3"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(-1)
        .alias("y"),
    )
    cells = (
        feats.groupBy("f1", "f2", "f3", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .select(
            "f1",
            "f2",
            "f3",
            "y",
            "cnt",
            F.lit(1.0).alias("wmul"),
            F.lit(0.0).alias("sc"),
        )
        .coalesce(1)
        .localCheckpoint()
    )
    one = spark.range(1)
    cands = (
        one.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(f).alias("f"),
                            F.lit(thr).cast("long").alias("thr"),
                        )
                        for f, hi in (("f1", 2), ("f2", 3), ("f3", 5))
                        for thr in range(0, hi + 1)
                    ]
                )
            ).alias("c")
        )
        .select("c.f", "c.thr")
        .crossJoin(
            one.select(
                F.explode(F.array(F.lit(1), F.lit(-1))).alias("pol")
            )
        )
        .coalesce(1)
        .localCheckpoint()
    )

    def stump(f, thr, pol):
        fv = (
            F.when(f == "f1", F.col("f1"))
            .when(f == "f2", F.col("f2"))
            .otherwise(F.col("f3"))
        )
        return F.when(fv <= thr, pol).otherwise(-pol)

    outs = []
    for r in range(1, _ADA_ROUNDS + 1):
        w_fp = F.floor(F.col("cnt") * F.col("wmul") * 1e6).cast("long")
        tot = cells.agg(F.sum(w_fp).cast("long").alias("tot"))
        h = stump(F.col("f"), F.col("thr"), F.col("pol"))
        err = (
            cands.crossJoin(cells)
            .groupBy("f", "thr", "pol")
            .agg(
                F.sum(F.when(h != F.col("y"), w_fp).otherwise(0))
                .cast("long")
                .alias("e_fp")
            )
        )
        pick = (
            err.orderBy(
                F.asc("e_fp"), F.asc("f"), F.asc("thr"), F.desc("pol")
            )
            .limit(1)
            .crossJoin(F.broadcast(tot))
            .select(
                "f",
                "thr",
                "pol",
                "e_fp",
                "tot",
                (
                    F.floor(
                        F.lit(0.5)
                        * F.log(
                            (F.col("tot") - F.col("e_fp")).cast("double")
                            / F.col("e_fp")
                        )
                        * 1e9
                    ).cast("long")
                    / 1e9
                ).alias("alpha"),
            )
            .localCheckpoint()
        )
        hh = stump(F.col("f"), F.col("thr"), F.col("pol"))
        cells = (
            cells.crossJoin(F.broadcast(pick))
            .select(
                "f1",
                "f2",
                "f3",
                "y",
                "cnt",
                (
                    F.col("wmul")
                    * F.exp(-F.col("alpha") * F.col("y") * hh)
                ).alias("wmul"),
                (F.col("sc") + F.col("alpha") * hh).alias("sc"),
            )
            .coalesce(1)
            .localCheckpoint()
        )
        ens = cells.agg(
            F.sum(
                F.when(
                    F.when(F.col("sc") >= 0, 1).otherwise(-1) != F.col("y"),
                    F.col("cnt"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("miss"),
            F.sum("cnt").cast("long").alias("n"),
        )
        outs.append(
            pick.crossJoin(F.broadcast(ens)).select(
                F.lit(r).alias("round"),
                F.col("f").alias("feature"),
                F.col("thr").alias("threshold"),
                F.col("pol").alias("polarity"),
                F.round(
                    F.col("e_fp").cast("double") / F.col("tot"), 6
                ).alias("weighted_err"),
                F.round("alpha", 6).alias("alpha"),
                (F.expr("miss * 1000000 div n") / 1e6).alias(
                    "ensemble_err"
                ),
            )
        )
    out = outs[0]
    for o2 in outs[1:]:
        out = out.unionByName(o2)
    return out


# --- Wave 69: randomization test -------------------------------------------------

_PERM_B = 64  # deterministic md5-seeded relabelings

_PERM_HEX6 = (
    "list_sum(list_transform(range(1, 7), k ->"
    " (strpos('0123456789abcdef', substr(md5({x}), k, 1)) - 1)"
    " * (1 << (4 * (6 - k)))))"
)


@query(
    "permutation_test_price_status",
    oracle=f"""
    WITH f AS (
      SELECT o_orderkey,
             cast(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS y,
             (o_orderstatus = 'F') AS grp
      FROM orders WHERE o_orderstatus IN ('F', 'O')
    ),
    obs AS (
      SELECT sum(y) FILTER (grp) AS sa, count(*) FILTER (grp) AS na,
             sum(y) FILTER (NOT grp) AS sb,
             count(*) FILTER (NOT grp) AS nb
      FROM f
    ),
    reps AS (
      SELECT b.b, f.y,
             ({_PERM_HEX6.format(x="cast(f.o_orderkey AS VARCHAR) || ':' || cast(b.b AS VARCHAR)")})
               % 2 = 0 AS grp
      FROM f, (SELECT unnest(generate_series(1, {_PERM_B})) AS b) b
    ),
    rstat AS (
      SELECT b,
             abs(sum(y) FILTER (grp)::DOUBLE / count(*) FILTER (grp)
                 - sum(y) FILTER (NOT grp)::DOUBLE
                   / count(*) FILTER (NOT grp)) AS d
      FROM reps GROUP BY b
      HAVING count(*) FILTER (grp) > 0 AND count(*) FILTER (NOT grp) > 0
    ),
    comp AS (
      SELECT cast(count(*) AS BIGINT) AS n_reps,
             cast(sum(CASE WHEN r.d >= abs(o.sa::DOUBLE / o.na
                                           - o.sb::DOUBLE / o.nb)
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_ge
      FROM rstat r, obs o
    )
    SELECT o.na AS n_f, o.nb AS n_o,
           round((o.sa::DOUBLE / o.na - o.sb::DOUBLE / o.nb) / 100.0::DOUBLE,
                 4) AS observed_diff_dollars,
           c.n_reps, c.n_ge,
           ((c.n_ge + 1) * 1000000 // (c.n_reps + 1)) / 1e6 AS p_value
    FROM obs o, comp c
    """,
)
def permutation_test_price_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Randomization test for the F-vs-O order-status price difference:
    64 deterministic md5-seeded relabelings of every order (the
    Bernoulli(1/2) random-split variant of the permutation test — each
    replicate reassigns labels independently of the observed ones, the
    exact null the test needs), statistic = |mean difference|, p =
    (1 + #{replicates >= observed}) / (B + 1) — the add-one form that
    keeps p valid at any B. The nonparametric companion to
    welch_ttest_totalprice: no normality, no variance model, just
    exchangeability.

    Exactness: labels are md5-derived integers (the repo's shared hex6
    idiom), every group sum is an exact integer in cents, each
    replicate's statistic is a ratio of exact integers (identical
    doubles), and p is an integer cross-multiplied truncation.

    Scale: the replicate expansion is one projection (B rows per fact
    row) feeding one partial/final groupBy(b) — 64 counters per
    partition, no shuffle amplification beyond the B-key agg."""
    o = T(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus").isin("F", "O")
    )
    parallelism = shuffle_partitions(spark)
    # r9: the single-file orders scan arrives as ONE partition and the
    # checkpoint freezes that layout, so the B x md5 replicate expansion
    # below (the whole cost of this query) ran on one core. Fan out
    # BEFORE the checkpoint (guide §4/§6 scan parallelism); every
    # downstream aggregate is an exact integer sum, so layout is
    # result-neutral.
    f = (
        o.select(
            "o_orderkey",
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("y"),
            (F.col("o_orderstatus") == "F").alias("grp"),
        )
        .repartition(parallelism)
        .localCheckpoint()
    )
    obs = f.agg(
        F.sum(F.when(F.col("grp"), F.col("y"))).cast("long").alias("sa"),
        F.sum(F.when(F.col("grp"), 1).otherwise(0)).cast("long").alias("na"),
        F.sum(F.when(~F.col("grp"), F.col("y"))).cast("long").alias("sb"),
        F.sum(F.when(~F.col("grp"), 1).otherwise(0))
        .cast("long")
        .alias("nb"),
    )
    reps = f.select(
        "o_orderkey",
        "y",
        F.explode(F.sequence(F.lit(1), F.lit(_PERM_B))).alias("b"),
    ).select(
        "b",
        "y",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("o_orderkey").cast("string"),
                            F.lit(":"),
                            F.col("b").cast("string"),
                        )
                    ),
                    1,
                    6,
                ),
                16,
                10,
            ).cast("long")
            % 2
            == 0
        ).alias("grp"),
    )
    rstat = (
        reps.groupBy("b")
        .agg(
            F.sum(F.when(F.col("grp"), F.col("y"))).cast("long").alias("ra"),
            F.sum(F.when(F.col("grp"), 1).otherwise(0))
            .cast("long")
            .alias("ca"),
            F.sum(F.when(~F.col("grp"), F.col("y")))
            .cast("long")
            .alias("rb"),
            F.sum(F.when(~F.col("grp"), 1).otherwise(0))
            .cast("long")
            .alias("cb"),
        )
        .filter((F.col("ca") > 0) & (F.col("cb") > 0))
        .select(
            "b",
            F.abs(
                F.col("ra").cast("double") / F.col("ca")
                - F.col("rb").cast("double") / F.col("cb")
            ).alias("d"),
        )
    )
    comp = rstat.crossJoin(F.broadcast(obs)).agg(
        F.count(F.lit(1)).cast("long").alias("n_reps"),
        F.sum(
            F.when(
                F.col("d")
                >= F.abs(
                    F.col("sa").cast("double") / F.col("na")
                    - F.col("sb").cast("double") / F.col("nb")
                ),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_ge"),
    )
    return obs.crossJoin(F.broadcast(comp)).select(
        F.col("na").alias("n_f"),
        F.col("nb").alias("n_o"),
        F.round(
            (
                F.col("sa").cast("double") / F.col("na")
                - F.col("sb").cast("double") / F.col("nb")
            )
            / F.lit(100.0),
            4,
        ).alias("observed_diff_dollars"),
        "n_reps",
        "n_ge",
        (F.expr("(n_ge + 1) * 1000000 div (n_reps + 1)") / 1e6).alias(
            "p_value"
        ),
    )


# --- Wave 69: ECOD outlier scores -------------------------------------------------

_ECOD_TOPK = 10


@query(
    "ecod_outlier_scores",
    oracle=f"""
    WITH day AS (
      SELECT cast(o_orderdate AS DATE) AS day,
             cast(count(*) AS BIGINT) AS x,
             cast(sum(cast(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS yc
      FROM orders GROUP BY 1
    ),
    rs AS (
      SELECT day, x, yc,
             row_number() OVER (ORDER BY x, day) AS rx,
             row_number() OVER (ORDER BY yc::DOUBLE / x, day) AS ry,
             count(*) OVER () AS n
      FROM day
    ),
    sc AS (
      SELECT day, x, yc, n,
             -(cast(floor(ln(least(rx, n + 1 - rx)::DOUBLE / n) * 1e9)
                    AS BIGINT)
               + cast(floor(ln(least(ry, n + 1 - ry)::DOUBLE / n) * 1e9)
                      AS BIGINT)) AS s_fp
      FROM rs
    )
    SELECT day::TIMESTAMP AS day, x AS n_orders,
           round(yc::DOUBLE / x / 100.0::DOUBLE, 2) AS avg_value,
           floor(s_fp / 1e9 * 1e6) / 1e6 AS ecod_score
    FROM sc
    ORDER BY s_fp DESC, day ASC
    LIMIT {_ECOD_TOPK}
    """,
)
def ecod_outlier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ECOD (Li et al. 2022) unsupervised outlier scores over the
    (daily order volume, daily average value) plane: per dimension the
    empirical tail probability min(rank, n+1-rank)/n, score =
    -sum_d ln(tail_d) — the "how far into EITHER tail of every marginal"
    detector that needs no distance metric, no parameters, and no
    covariance (vs value_outliers_mad's single-column z-style view and
    generalized_esd_outliers' gaussian deletions). Top-10 outlier days.

    Exactness: ranks are row_number with day tie-breaks; each
    dimension's ln(exact ratio) floors into 1e-9 fixed point, so the
    score is an INTEGER and the top-k ordering is exact integer
    comparison — no float ordering anywhere.

    Scale: one fact rollup; two ranking windows on the calendar-bounded
    day grid; TakeOrdered top-k."""
    o = T(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice")
    day = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("x"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        )
        .cast("long")
        .alias("yc"),
    )
    wx = Window.orderBy("x", "day")
    wy = Window.orderBy(F.col("yc").cast("double") / F.col("x"), F.col("day"))
    wall = Window.partitionBy()
    rs = day.select(
        "day",
        "x",
        "yc",
        F.row_number().over(wx).cast("long").alias("rx"),
        F.row_number().over(wy).cast("long").alias("ry"),
        F.count(F.lit(1)).over(wall).cast("long").alias("n"),
    )
    tail = lambda r: F.least(F.col(r), F.col("n") + 1 - F.col(r)).cast(  # noqa: E731
        "double"
    ) / F.col("n")
    sc = rs.select(
        "day",
        "x",
        "yc",
        (
            -(
                F.floor(F.log(tail("rx")) * 1e9).cast("long")
                + F.floor(F.log(tail("ry")) * 1e9).cast("long")
            )
        ).alias("s_fp"),
    )
    return (
        sc.orderBy(F.desc("s_fp"), F.asc("day"))
        .limit(_ECOD_TOPK)
        .select(
            F.col("day").cast("timestamp").alias("day"),
            F.col("x").alias("n_orders"),
            F.round(
                F.col("yc").cast("double") / F.col("x") / F.lit(100.0), 2
            ).alias("avg_value"),
            (F.floor(F.col("s_fp") / 1e9 * 1e6) / 1e6).alias("ecod_score"),
        )
    )


# --- Wave 69: Hoeffding split-confidence audit ------------------------------------


@query(
    "hoeffding_split_confidence",
    oracle="""
    WITH feats AS (
      SELECT hour(ts) // 6 AS f1,
             greatest(least(cast(floor(value / 100) AS BIGINT), 4), 0)
               AS f2,
             dayofweek(ts) AS f3,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE -1 END AS y
      FROM events
    ),
    cells AS (
      SELECT f1, f2, f3, y, cast(count(*) AS BIGINT) AS cnt
      FROM feats GROUP BY 1, 2, 3, 4
    ),
    cands AS (
      SELECT f, thr, pol FROM (
        SELECT 'f1' AS f, unnest(generate_series(0, 2)) AS thr
        UNION ALL
        SELECT 'f2', unnest(generate_series(0, 3))
        UNION ALL
        SELECT 'f3', unnest(generate_series(0, 5))
      ), (SELECT unnest([1, -1]) AS pol)
    ),
    errs AS (
      SELECT c.f, c.thr, c.pol,
             cast(sum(CASE WHEN (CASE WHEN (CASE c.f WHEN 'f1' THEN x.f1
                                            WHEN 'f2' THEN x.f2
                                            ELSE x.f3 END) <= c.thr
                                  THEN c.pol ELSE -c.pol END) <> x.y
                      THEN x.cnt ELSE 0 END) AS BIGINT) AS miss,
             cast(sum(x.cnt) AS BIGINT) AS n
      FROM cands c, cells x
      GROUP BY 1, 2, 3
    ),
    ranked AS (
      SELECT *,
             row_number() OVER (ORDER BY miss ASC, f ASC, thr ASC, pol DESC)
               AS rk
      FROM errs
    )
    SELECT b.f AS best_feature, b.thr AS best_threshold,
           b.pol AS best_polarity,
           (b.miss * 1000000 // b.n) / 1e6 AS err_best,
           s.f AS second_feature,
           (s.miss * 1000000 // s.n) / 1e6 AS err_second,
           ((s.miss - b.miss) * 1000000 // b.n) / 1e6 AS gap,
           round(sqrt(ln(10000000.0::DOUBLE) / (2.0::DOUBLE * b.n)), 6)
             AS epsilon,
           b.n,
           ((s.miss - b.miss)::DOUBLE / b.n
            > sqrt(ln(10000000.0::DOUBLE) / (2.0::DOUBLE * b.n)))
             AS split_decided
    FROM ranked b, ranked s
    WHERE b.rk = 1 AND s.rk = 2
    """,
)
def hoeffding_split_confidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Hoeffding-tree split decision (Domingos-Hulten VFDT 2000)
    over the same 36-stump candidate grid the boosting trajectory scans:
    is the best split's advantage over the runner-up larger than the
    Hoeffding bound eps = sqrt(ln(1/delta) / 2n) (delta = 1e-7), i.e.
    statistically safe to commit WITHOUT seeing more data? This is the
    question a streaming decision-tree learner asks after every batch —
    here answered exactly on the full cell table, giving the batch
    ground truth a VFDT run should converge to.

    Exactness: misclassification counts are pure integers, the
    best/second ranking is an integer argmin with deterministic
    tie-breaks, error rates and the gap are integer cross-multiplied
    truncations; only epsilon itself touches libm (one ln + sqrt on
    identical doubles, rounded at 6).

    Scale: one fact aggregate to <= 280 cells; the candidate scan is a
    literal-grid broadcast product."""
    ev = T(spark, sf_dir, "events").select("ts", "value", "event_type")
    feats = ev.select(
        F.expr("hour(ts) div 6").alias("f1"),
        F.greatest(
            F.least(F.floor(F.col("value") / 100).cast("long"), F.lit(4)),
            F.lit(0),
        ).alias("f2"),
        (F.dayofweek("ts") - 1).cast("long").alias("f3"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(-1)
        .alias("y"),
    )
    cells = (
        feats.groupBy("f1", "f2", "f3", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .coalesce(1)
        .localCheckpoint()
    )
    one = spark.range(1)
    cands = one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(f).alias("f"),
                        F.lit(thr).cast("long").alias("thr"),
                    )
                    for f, hi in (("f1", 2), ("f2", 3), ("f3", 5))
                    for thr in range(0, hi + 1)
                ]
            )
        ).alias("c")
    ).select("c.f", "c.thr").crossJoin(
        one.select(F.explode(F.array(F.lit(1), F.lit(-1))).alias("pol"))
    )
    fv = (
        F.when(F.col("f") == "f1", F.col("f1"))
        .when(F.col("f") == "f2", F.col("f2"))
        .otherwise(F.col("f3"))
    )
    h = F.when(fv <= F.col("thr"), F.col("pol")).otherwise(-F.col("pol"))
    errs = (
        cands.crossJoin(cells)
        .groupBy("f", "thr", "pol")
        .agg(
            F.sum(F.when(h != F.col("y"), F.col("cnt")).otherwise(0))
            .cast("long")
            .alias("miss"),
            F.sum("cnt").cast("long").alias("n"),
        )
    )
    wrk = Window.orderBy(
        F.asc("miss"), F.asc("f"), F.asc("thr"), F.desc("pol")
    )
    ranked = errs.select(
        "*", F.row_number().over(wrk).alias("rk")
    ).localCheckpoint()
    b = ranked.filter(F.col("rk") == 1).select(
        F.col("f").alias("best_feature"),
        F.col("thr").alias("best_threshold"),
        F.col("pol").alias("best_polarity"),
        F.col("miss").alias("bm"),
        F.col("n").alias("n"),
    )
    s = ranked.filter(F.col("rk") == 2).select(
        F.col("f").alias("second_feature"), F.col("miss").alias("sm")
    )
    eps = F.sqrt(F.log(F.lit(10000000.0)) / (F.lit(2.0) * F.col("n")))
    return b.crossJoin(F.broadcast(s)).select(
        "best_feature",
        "best_threshold",
        "best_polarity",
        (F.expr("bm * 1000000 div n") / 1e6).alias("err_best"),
        "second_feature",
        (F.expr("sm * 1000000 div n") / 1e6).alias("err_second"),
        (F.expr("(sm - bm) * 1000000 div n") / 1e6).alias("gap"),
        F.round(eps, 6).alias("epsilon"),
        "n",
        ((F.col("sm") - F.col("bm")).cast("double") / F.col("n") > eps).alias(
            "split_decided"
        ),
    )


# --- Wave 70: Atkinson inequality index --------------------------------------------


@query(
    "atkinson_index_priority",
    oracle="""
    WITH f AS (
      SELECT o_orderpriority AS pri,
             cast(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS y
      FROM orders
    ),
    s AS (
      SELECT pri,
             cast(count(*) AS BIGINT) AS n,
             cast(sum(y) AS BIGINT) AS sy,
             cast(sum(cast(floor(sqrt(y) * 1e6) AS BIGINT)) AS BIGINT)
               AS ssq_fp,
             cast(sum(cast(floor(ln(y) * 1e9) AS BIGINT)) AS BIGINT)
               AS sln_fp
      FROM f GROUP BY pri
    )
    SELECT pri AS priority, n,
           round(sy::DOUBLE / n / 100.0::DOUBLE, 4) AS mean_dollars,
           floor((1.0::DOUBLE
                  - ((ssq_fp / 1e6) / n) * ((ssq_fp / 1e6) / n)
                    / (sy::DOUBLE / n)) * 1e6) / 1e6 AS atkinson_05,
           floor((1.0::DOUBLE
                  - exp(sln_fp / 1e9 / n) / (sy::DOUBLE / n)) * 1e6) / 1e6
             AS atkinson_1
    FROM s
    """,
)
def atkinson_index_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atkinson inequality index of order values per priority at
    inequality-aversion eps = 0.5 (EDE = (mean sqrt)^2) and eps = 1
    (EDE = geometric mean): A = 1 - EDE/mean — the WELFARE-weighted
    companion to exact_gini_coefficient and theil_inequality_
    decomposition; unlike Gini, Atkinson says how much total value you
    could discard and keep equal welfare, and eps tunes how much the
    lower tail matters.

    Exactness: each sqrt(y) floors into 1e-6 and each ln(y) into 1e-9
    fixed point before the order-free integer sums (y is exact integer
    cents; sqrt/ln on identical doubles are bit-stable inputs); the
    indices truncate at 1e-6.

    Scale: ONE partial/final aggregate over the fact — four sums per
    group, nothing else."""
    o = T(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("pri"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("y"),
    )
    s = o.groupBy("pri").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.floor(F.sqrt(F.col("y")) * 1e6).cast("long"))
        .cast("long")
        .alias("ssq_fp"),
        F.sum(F.floor(F.log(F.col("y").cast("double")) * 1e9).cast("long"))
        .cast("long")
        .alias("sln_fp"),
    )
    mean = F.col("sy").cast("double") / F.col("n")
    return s.select(
        F.col("pri").alias("priority"),
        "n",
        F.round(mean / F.lit(100.0), 4).alias("mean_dollars"),
        (
            F.floor(
                (
                    F.lit(1.0)
                    - ((F.col("ssq_fp") / 1e6) / F.col("n"))
                    * ((F.col("ssq_fp") / 1e6) / F.col("n"))
                    / mean
                )
                * 1e6
            )
            / 1e6
        ).alias("atkinson_05"),
        (
            F.floor(
                (
                    F.lit(1.0)
                    - F.exp(F.col("sln_fp") / 1e9 / F.col("n")) / mean
                )
                * 1e6
            )
            / 1e6
        ).alias("atkinson_1"),
    )


# --- Wave 71: RANSAC robust trend fit ----------------------------------------------

_RAN_B = 32  # deterministic md5-seeded candidate lines

_RAN_HEX6 = (
    "list_sum(list_transform(range(1, 7), k ->"
    " (strpos('0123456789abcdef', substr(md5({x}), k, 1)) - 1)"
    " * (1 << (4 * (6 - k)))))"
)


@query(
    "ransac_trend_fit",
    oracle=f"""
    WITH day AS (
      SELECT cast(o_orderdate AS DATE) AS day,
             cast(sum(cast(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS y
      FROM orders GROUP BY 1
    ),
    idx AS (
      SELECT day, y, row_number() OVER (ORDER BY day) AS x,
             count(*) OVER () AS n, sum(y) OVER () AS sy
      FROM day
    ),
    cand AS (
      SELECT b.b,
             1 + ({_RAN_HEX6.format(x="'a:' || cast(b.b AS VARCHAR)")})
                 % any_value(i.n) AS i1,
             1 + ({_RAN_HEX6.format(x="'b:' || cast(b.b AS VARCHAR)")})
                 % (any_value(i.n) - 1) AS i2r,
             any_value(i.sy) // (10 * any_value(i.n)) AS tol
      FROM (SELECT unnest(generate_series(1, {_RAN_B})) AS b) b, idx i
      GROUP BY b.b
    ),
    cand2 AS (
      SELECT b, i1,
             CASE WHEN i2r >= i1 THEN i2r + 1 ELSE i2r END AS i2, tol
      FROM cand
    ),
    lines AS (
      SELECT c.b, c.tol,
             p1.x AS x1, p1.y AS y1,
             p2.x - p1.x AS den, p2.y - p1.y AS num
      FROM cand2 c
      JOIN idx p1 ON p1.x = c.i1
      JOIN idx p2 ON p2.x = c.i2
    ),
    scored AS (
      SELECT l.b, l.tol, l.x1, l.y1, l.den, l.num,
             cast(sum(CASE WHEN abs((i.y - l.y1) * l.den
                                    - l.num * (i.x - l.x1))
                                <= l.tol * abs(l.den)
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_in
      FROM lines l, idx i
      GROUP BY 1, 2, 3, 4, 5, 6
    ),
    best AS (
      SELECT * FROM scored ORDER BY n_in DESC, b ASC LIMIT 1
    ),
    refit AS (
      SELECT any_value(bst.b) AS b, any_value(bst.n_in) AS n_in,
             cast(count(*) AS BIGINT) AS m,
             cast(sum(i.x) AS BIGINT) AS sx,
             cast(sum(i.y) AS BIGINT) AS sy,
             cast(sum(i.x * i.y) AS BIGINT) AS sxy,
             cast(sum(i.x * i.x) AS BIGINT) AS sxx,
             any_value((SELECT count(*) FROM idx)) AS n
      FROM best bst, idx i
      WHERE abs((i.y - bst.y1) * bst.den - bst.num * (i.x - bst.x1))
              <= bst.tol * abs(bst.den)
    )
    SELECT b AS best_candidate, n_in AS n_inliers,
           (n_in * 1000000 // n) / 1e6 AS inlier_frac,
           round((sxy - sx::DOUBLE * sy / m)
                 / (sxx - sx::DOUBLE * sx / m) / 100.0::DOUBLE, 6)
             AS refit_slope_dollars,
           round(((sy::DOUBLE - (sxy - sx::DOUBLE * sy / m)
                   / (sxx - sx::DOUBLE * sx / m) * sx) / m)
                 / 100.0::DOUBLE, 4) AS refit_intercept_dollars
    FROM refit
    """,
)
def ransac_trend_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANSAC (Fischler-Bolles 1981) robust fit of the daily-revenue
    trend: 32 deterministic md5-seeded two-point candidate lines, each
    scored by its inlier count at tolerance = 10% of the mean daily
    revenue, then an OLS refit on the winning consensus set — the
    breakdown-resistant companion to theil_sen_slope (median of slopes)
    and huber_robust_location (smooth downweighting); RANSAC instead
    COMMITS to a consensus set and ignores outliers entirely.

    Exactness: the inlier test is fully cross-multiplied INTEGER
    arithmetic — |(y - y1) * dx - dy * (x - x1)| <= tol * |dx| — no
    division, no floats, so every candidate's inlier count is exact;
    the two sample indices are md5-derived integers with the shared
    hex6 idiom (the second index shifts past the first so the pair is
    always distinct, and x is the day ROW NUMBER so dx is never 0);
    the refit uses exact integer moments.

    Scale: candidate scoring is a 32-line broadcast against the
    calendar-bounded day grid — one pass scores every candidate."""
    o = T(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice")
    day = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        )
        .cast("long")
        .alias("y")
    )
    wday = Window.orderBy("day")
    wall = Window.partitionBy()
    idx = day.select(
        "y",
        F.row_number().over(wday).cast("long").alias("x"),
        F.count(F.lit(1)).over(wall).cast("long").alias("n"),
        F.sum("y").over(wall).cast("long").alias("sy"),
    ).localCheckpoint()

    def hex6(prefix):
        return F.conv(
            F.substring(
                F.md5(F.concat(F.lit(prefix), F.col("b").cast("string"))),
                1,
                6,
            ),
            16,
            10,
        ).cast("long")

    scal = idx.agg(
        F.any_value("n").alias("n"), F.any_value("sy").alias("sy")
    )
    cand = (
        scal.select(
            "n",
            "sy",
            F.explode(F.sequence(F.lit(1), F.lit(_RAN_B))).alias("b"),
        )
        .select(
            "b",
            (1 + hex6("a:") % F.col("n")).alias("i1"),
            (1 + hex6("b:") % (F.col("n") - 1)).alias("i2r"),
            F.expr("sy div (10 * n)").alias("tol"),
        )
        .select(
            "b",
            "i1",
            F.when(F.col("i2r") >= F.col("i1"), F.col("i2r") + 1)
            .otherwise(F.col("i2r"))
            .alias("i2"),
            "tol",
        )
    )
    p1 = idx.select(F.col("x").alias("x1"), F.col("y").alias("y1"))
    p2 = idx.select(F.col("x").alias("x2"), F.col("y").alias("y2"))
    lines = (
        cand.join(F.broadcast(p1), F.col("i1") == F.col("x1"))
        .join(F.broadcast(p2), F.col("i2") == F.col("x2"))
        .select(
            "b",
            "tol",
            "x1",
            "y1",
            (F.col("x2") - F.col("x1")).alias("den"),
            (F.col("y2") - F.col("y1")).alias("num"),
        )
    )
    inlier = (
        F.abs(
            (F.col("y") - F.col("y1")) * F.col("den")
            - F.col("num") * (F.col("x") - F.col("x1"))
        )
        <= F.col("tol") * F.abs(F.col("den"))
    )
    scored = (
        idx.crossJoin(F.broadcast(lines))
        .groupBy("b", "tol", "x1", "y1", "den", "num")
        .agg(F.sum(F.when(inlier, 1).otherwise(0)).cast("long").alias("n_in"))
    )
    best = scored.orderBy(F.desc("n_in"), F.asc("b")).limit(1)
    refit = (
        idx.crossJoin(F.broadcast(best))
        .filter(inlier)
        .agg(
            F.any_value("b").alias("b"),
            F.any_value("n_in").alias("n_in"),
            F.any_value("n").alias("n"),
            F.count(F.lit(1)).cast("long").alias("m"),
            F.sum("x").cast("long").alias("sx"),
            F.sum("y").cast("long").alias("sy2"),
            F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        )
    )
    slope = (
        F.col("sxy") - F.col("sx").cast("double") * F.col("sy2") / F.col("m")
    ) / (
        F.col("sxx") - F.col("sx").cast("double") * F.col("sx") / F.col("m")
    )
    return refit.select(
        F.col("b").alias("best_candidate"),
        F.col("n_in").alias("n_inliers"),
        (F.expr("n_in * 1000000 div n") / 1e6).alias("inlier_frac"),
        F.round(slope / F.lit(100.0), 6).alias("refit_slope_dollars"),
        F.round(
            (
                (F.col("sy2").cast("double") - slope * F.col("sx"))
                / F.col("m")
            )
            / F.lit(100.0),
            4,
        ).alias("refit_intercept_dollars"),
    )


# --- Wave 71: Local Outlier Factor ---------------------------------------------------

_LOF_K = 5
_LOF_TOPK = 10


@query(
    "lof_daily_outliers",
    oracle=f"""
    WITH day AS (
      SELECT cast(o_orderdate AS DATE) AS day,
             cast(count(*) AS BIGINT) AS x,
             cast(sum(cast(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS yc
      FROM orders GROUP BY 1
    ),
    rs AS (
      SELECT day, x, yc,
             row_number() OVER (ORDER BY x, day) AS rx,
             row_number() OVER (ORDER BY yc::DOUBLE / x, day) AS ry
      FROM day
    ),
    knn AS (
      SELECT a.day AS ad, b.day AS bd,
             (a.rx - b.rx) * (a.rx - b.rx)
               + (a.ry - b.ry) * (a.ry - b.ry) AS d2
      FROM rs a JOIN rs b ON b.day <> a.day
      QUALIFY row_number() OVER (PARTITION BY a.day
                 ORDER BY (a.rx - b.rx) * (a.rx - b.rx)
                          + (a.ry - b.ry) * (a.ry - b.ry) ASC,
                          b.day ASC) <= {_LOF_K}
    ),
    kd AS (
      SELECT ad, cast(max(d2) AS BIGINT) AS kdist FROM knn GROUP BY 1
    ),
    s AS (
      SELECT k.ad,
             cast(sum(greatest(kb.kdist, k.d2)) AS BIGINT) AS sreach
      FROM knn k JOIN kd kb ON kb.ad = k.bd
      GROUP BY 1
    ),
    lof AS (
      SELECT k.ad,
             sa.sreach * cast(sum(1000000000000000 // sb.sreach)
                              AS BIGINT) AS lof_num
      FROM knn k
      JOIN s sa ON sa.ad = k.ad
      JOIN s sb ON sb.ad = k.bd
      GROUP BY k.ad, sa.sreach
    )
    SELECT l.ad::TIMESTAMP AS day, d.x AS n_orders,
           round(d.yc::DOUBLE / d.x / 100.0::DOUBLE, 2) AS avg_value,
           floor(l.lof_num / ({_LOF_K}.0::DOUBLE * 1e15) * 1e6)
             / 1e6 AS lof
    FROM lof l JOIN day d ON d.day = l.ad
    ORDER BY l.lof_num DESC, l.ad ASC
    LIMIT {_LOF_TOPK}
    """,
)
def lof_daily_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local Outlier Factor (Breunig 2000, k=5) over the rank-transformed
    (daily volume, daily average value) plane — the DENSITY-relative
    outlier view that ECOD's marginal tails cannot give: a day is
    anomalous if its neighborhood is sparser than its neighbors'
    neighborhoods, catching local anomalies inside globally dense
    regions. Rank coordinates make the two dimensions commensurable and
    every squared distance an exact integer (and never 0: ranks are
    unique per day).

    Exactness: neighbor sets use integer-distance argsort with day
    tie-breaks; reachability sums are exact integers; each neighbor's
    inverse density floors to 1e15 // sreach (pure integer division) so
    the LOF NUMERATOR is an exact integer and the top-k ordering is
    integer comparison; only the final display value divides.

    Scale: the pair stage is CALENDAR^2-bounded (days x days,
    independent of row count), hash-fanned before the self-join; at
    data-sized point sets the same operator family switches to the
    repo's LSH/IVF neighbor generation (operators/similarity.py)."""
    o = T(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice")
    day = (
        o.groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("x"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                    "long"
                )
            )
            .cast("long")
            .alias("yc"),
        )
        .localCheckpoint()
    )
    wx = Window.orderBy("x", "day")
    wy = Window.orderBy(F.col("yc").cast("double") / F.col("x"), F.col("day"))
    parallelism = shuffle_partitions(spark)
    rs = (
        day.select(
            "day",
            F.row_number().over(wx).cast("long").alias("rx"),
            F.row_number().over(wy).cast("long").alias("ry"),
        )
        .repartition(parallelism)
        .localCheckpoint()
    )
    b = rs.select(
        F.col("day").alias("bd"),
        F.col("rx").alias("brx"),
        F.col("ry").alias("bry"),
    )
    d2 = (F.col("rx") - F.col("brx")) * (F.col("rx") - F.col("brx")) + (
        F.col("ry") - F.col("bry")
    ) * (F.col("ry") - F.col("bry"))
    wk = Window.partitionBy("day").orderBy(F.asc("d2"), F.asc("bd"))
    knn = (
        rs.crossJoin(F.broadcast(b))
        .filter(F.col("bd") != F.col("day"))
        .select(F.col("day").alias("ad"), "bd", d2.alias("d2"))
        .withColumn("rnk", F.row_number().over(
            Window.partitionBy("ad").orderBy(F.asc("d2"), F.asc("bd"))
        ))
        .filter(F.col("rnk") <= _LOF_K)
        .drop("rnk")
        .localCheckpoint()
    )
    kd = knn.groupBy(F.col("ad").alias("kad")).agg(
        F.max("d2").cast("long").alias("kdist")
    )
    s = (
        knn.join(kd, knn.bd == F.col("kad"))
        .groupBy("ad")
        .agg(
            F.sum(F.greatest(F.col("kdist"), F.col("d2")))
            .cast("long")
            .alias("sreach")
        )
    ).localCheckpoint()
    sa = s.select(F.col("ad").alias("sad"), F.col("sreach").alias("sa"))
    sb = s.select(F.col("ad").alias("sbd"), F.col("sreach").alias("sb"))
    lof = (
        knn.join(sa, knn.ad == F.col("sad"))
        .join(sb, knn.bd == F.col("sbd"))
        .groupBy("ad", "sa")
        .agg(
            (
                F.col("sa")
                * F.sum(F.expr("1000000000000000 div sb")).cast("long")
            ).alias("lof_num")
        )
    )
    return (
        lof.join(day, lof.ad == day.day)
        .orderBy(F.desc("lof_num"), F.asc("ad"))
        .limit(_LOF_TOPK)
        .select(
            F.col("ad").cast("timestamp").alias("day"),
            F.col("x").alias("n_orders"),
            F.round(
                F.col("yc").cast("double") / F.col("x") / F.lit(100.0), 2
            ).alias("avg_value"),
            (
                F.floor(
                    F.col("lof_num")
                    / F.lit(float(_LOF_K) * 1e15)
                    * 1e6
                )
                / 1e6
            ).alias("lof"),
        )
    )


# --- Wave 71: GPD tail fit via probability-weighted moments -------------------------


@query(
    "gpd_tail_fit_pwm",
    oracle="""
    WITH day AS (
      SELECT cast(o_orderdate AS DATE) AS day,
             cast(sum(cast(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS y
      FROM orders GROUP BY 1
    ),
    rs AS (
      SELECT day, y, row_number() OVER (ORDER BY y, day) AS rn,
             count(*) OVER () AS n
      FROM day
    ),
    thr AS (
      SELECT y AS u, n FROM rs WHERE rn = n - n // 10
    ),
    exc AS (
      SELECT r.y - t.u AS z, t.u, t.n
      FROM rs r, thr t WHERE r.y > t.u
    ),
    js AS (
      SELECT z, u, n,
             row_number() OVER (ORDER BY z, z) AS j,
             count(*) OVER () AS m
      FROM exc
    ),
    mo AS (
      SELECT any_value(u) AS u, any_value(n) AS n, any_value(m) AS m,
             cast(sum(z) AS BIGINT) AS sz,
             cast(sum((m - j) * z) AS BIGINT) AS sjz
      FROM js
    ),
    fit AS (
      SELECT u, n, m,
             sz::DOUBLE / m AS b0,
             sjz::DOUBLE / (m::DOUBLE * (m - 1)) AS b1
      FROM mo
    ),
    par AS (
      SELECT u, n, m, b0, b1,
             2.0::DOUBLE - b0 / (b0 - 2.0::DOUBLE * b1) AS xi,
             2.0::DOUBLE * b0 * b1 / (b0 - 2.0::DOUBLE * b1) AS sigma
      FROM fit
    )
    SELECT n AS n_days, m AS n_exceed,
           round(u / 100.0::DOUBLE, 2) AS threshold_dollars,
           round(xi, 6) AS xi,
           round(sigma / 100.0::DOUBLE, 4) AS sigma_dollars,
           round((u + sigma / xi * (pow(10.0::DOUBLE * m, xi)
                                    - 1.0::DOUBLE)) / 100.0::DOUBLE, 2)
             AS return_level_10x_dollars
    FROM par
    """,
)
def gpd_tail_fit_pwm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peaks-over-threshold Generalized Pareto tail fit of daily
    revenue by Hosking-Wallis probability-weighted moments: threshold =
    the exact 90th-percentile order statistic, exceedances z = y - u,
    b0 = mean z, b1 = sum((j-1) z_(j)) / (m (m-1)), then the closed-form
    xi = 2 - b0/(b0 - 2 b1) and sigma = 2 b0 b1/(b0 - 2 b1), plus the
    implied 10x-horizon return level u + sigma/xi ((10 m)^xi - 1). The
    THIRD leg of the extreme-value family: gumbel_block_maxima fits
    block maxima, hill_tail_index assumes a pure power law, POT/GPD
    uses every exceedance — the estimator that wastes the least data.

    Exactness: the threshold is a rank-selected exact integer, z and
    both PWM numerators are exact integer sums (ranks from a
    deterministic (z, day)-ordered row_number; ties in z are
    interchangeable in sum((j-1) z) so the tie-break cannot matter),
    and the closed forms run on identical doubles.

    Scale: one fact rollup; ranking windows on the calendar-bounded day
    grid; a single scalar fold."""
    o = T(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice")
    day = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        )
        .cast("long")
        .alias("y")
    )
    wr = Window.orderBy("y", "day")
    wall = Window.partitionBy()
    rs = day.select(
        "day",
        "y",
        F.row_number().over(wr).cast("long").alias("rn"),
        F.count(F.lit(1)).over(wall).cast("long").alias("n"),
    )
    thr = rs.filter(F.col("rn") == F.col("n") - F.expr("n div 10")).select(
        F.col("y").alias("u"), "n"
    )
    exc = rs.crossJoin(F.broadcast(thr.select("u", F.col("n").alias("nn")))).filter(
        F.col("y") > F.col("u")
    ).select((F.col("y") - F.col("u")).alias("z"), "u", F.col("nn"))
    wj = Window.orderBy("z")
    js = exc.select(
        "z",
        "u",
        "nn",
        F.row_number().over(wj).cast("long").alias("j"),
        F.count(F.lit(1)).over(wall).cast("long").alias("m"),
    )
    mo = js.agg(
        F.any_value("u").alias("u"),
        F.any_value("nn").alias("n"),
        F.any_value("m").alias("m"),
        F.sum("z").cast("long").alias("sz"),
        F.sum((F.col("m") - F.col("j")) * F.col("z")).cast("long").alias("sjz"),
    )
    b0 = F.col("sz").cast("double") / F.col("m")
    b1 = F.col("sjz").cast("double") / (
        F.col("m").cast("double") * (F.col("m") - 1)
    )
    xi = F.lit(2.0) - b0 / (b0 - F.lit(2.0) * b1)
    sigma = F.lit(2.0) * b0 * b1 / (b0 - F.lit(2.0) * b1)
    return mo.select(
        F.col("n").alias("n_days"),
        F.col("m").alias("n_exceed"),
        F.round(F.col("u") / F.lit(100.0), 2).alias("threshold_dollars"),
        F.round(xi, 6).alias("xi"),
        F.round(sigma / F.lit(100.0), 4).alias("sigma_dollars"),
        F.round(
            (
                F.col("u")
                + sigma
                / xi
                * (
                    F.pow(
                        F.lit(10.0) * F.col("m").cast("double"), xi
                    )
                    - F.lit(1.0)
                )
            )
            / F.lit(100.0),
            2,
        ).alias("return_level_10x_dollars"),
    )


# --- Wave 72: sample-ratio-mismatch (SRM) check ----------------------------------


@query(
    "srm_assignment_check",
    oracle=f"""
    WITH u AS (
      SELECT DISTINCT user_id FROM events
    ),
    b AS (
      SELECT CASE WHEN ({_PERM_HEX6.format(x="cast(user_id AS VARCHAR)")})
                       % 2 = 0
                  THEN 'A' ELSE 'B' END AS grp
      FROM u
    ),
    c AS (
      SELECT cast(sum(CASE WHEN grp = 'A' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_a,
             cast(sum(CASE WHEN grp = 'B' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_b
      FROM b
    )
    SELECT n_a, n_b,
           (n_a * 1000000 // (n_a + n_b)) / 1e6 AS a_share,
           round((n_a - n_b) / sqrt((n_a + n_b)::DOUBLE), 4) AS z,
           round({NORMAL_SF_SQL.format(z="abs((n_a - n_b) / sqrt((n_a + n_b)::DOUBLE))")}, 6)
             AS p_value,
           ({NORMAL_SF_SQL.format(z="abs((n_a - n_b) / sqrt((n_a + n_b)::DOUBLE))")}
            < 0.001::DOUBLE) AS srm_flag
    FROM c
    """,
)
def srm_assignment_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch check on the md5 A/B bucketing that
    ab_test_two_proportion uses: under a healthy 50/50 assignment,
    z = (n_A - n_B)/sqrt(n) is standard normal, and p < 0.001 is the
    industry-standard SRM alarm (Fabijan et al. 2019) — the FIRST
    diagnostic any experimentation platform runs, because a leaked or
    biased assignment invalidates every downstream effect estimate
    before a single metric is read.

    Exactness: bucketing is the repo's shared md5-hex6 idiom, counts
    are integers, the share is an integer cross-multiplied truncation,
    and z / the erf-polynomial p run on identical doubles.

    Scale: one distinct-users aggregate — two counters."""
    u = T(spark, sf_dir, "events").select("user_id").distinct()
    grp = (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 6), 16, 10
        ).cast("long")
        % 2
        == 0
    )
    c = u.agg(
        F.sum(F.when(grp, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(~grp, 1).otherwise(0)).cast("long").alias("n_b"),
    )
    z = (F.col("n_a") - F.col("n_b")) / F.sqrt(
        (F.col("n_a") + F.col("n_b")).cast("double")
    )
    p = normal_sf(F.abs(z))
    return c.select(
        "n_a",
        "n_b",
        (F.expr("n_a * 1000000 div (n_a + n_b)") / 1e6).alias("a_share"),
        F.round(z, 4).alias("z"),
        F.round(p, 6).alias("p_value"),
        (p < F.lit(0.001)).alias("srm_flag"),
    )


# --- Wave 73: standardized effect sizes ------------------------------------------------


@query(
    "effect_size_price_status",
    oracle="""
    WITH s AS (
      SELECT avg(o_totalprice)      FILTER (o_orderstatus = 'F') AS mean_a,
             var_samp(o_totalprice) FILTER (o_orderstatus = 'F') AS var_a,
             count(*)               FILTER (o_orderstatus = 'F') AS n_a,
             avg(o_totalprice)      FILTER (o_orderstatus = 'O') AS mean_b,
             var_samp(o_totalprice) FILTER (o_orderstatus = 'O') AS var_b,
             count(*)               FILTER (o_orderstatus = 'O') AS n_b
      FROM orders WHERE o_orderstatus IN ('F', 'O')
    ),
    d AS (
      SELECT n_a, n_b,
             (mean_a - mean_b)
               / sqrt(((n_a - 1) * var_a + (n_b - 1) * var_b)
                      / (n_a + n_b - 2.0::DOUBLE)) AS cohen_d
      FROM s
    )
    SELECT n_a, n_b,
           round(cohen_d, 6) AS cohens_d,
           round(cohen_d * (1.0::DOUBLE - 3.0::DOUBLE
                            / (4.0::DOUBLE * (n_a + n_b) - 9.0::DOUBLE)), 6)
             AS hedges_g,
           round(sqrt((n_a + n_b)::DOUBLE / (n_a::DOUBLE * n_b)
                      + cohen_d * cohen_d
                        / (2.0::DOUBLE * (n_a + n_b))), 6) AS se_d,
           round(cohen_d - 1.959964::DOUBLE
                 * sqrt((n_a + n_b)::DOUBLE / (n_a::DOUBLE * n_b)
                        + cohen_d * cohen_d
                          / (2.0::DOUBLE * (n_a + n_b))), 6) AS d_ci_lo,
           round(cohen_d + 1.959964::DOUBLE
                 * sqrt((n_a + n_b)::DOUBLE / (n_a::DOUBLE * n_b)
                        + cohen_d * cohen_d
                          / (2.0::DOUBLE * (n_a + n_b))), 6) AS d_ci_hi
    FROM d
    """,
)
def effect_size_price_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized effect sizes for the F-vs-O order-price difference:
    Cohen's d on the pooled sd, Hedges' g small-sample correction
    (1 - 3/(4N - 9)), and the normal-approximation 95% CI for d — the
    MAGNITUDE companion the trio of significance views
    (welch_ttest_totalprice, permutation_test_price_status,
    power_sample_size_plan) needs: at 15k orders everything is
    "significant"; d says whether anyone should care.

    Exactness: the same one-pass moment aggregate as the Welch test
    (both engines compute identical means/variances from identical
    doubles); every downstream expression is written identically, with
    the z constant as the same literal.

    Scale: ONE partial/final aggregate over the pruned fact."""
    o = T(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus").isin("F", "O")
    )
    s = o.agg(
        F.avg(F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice"))).alias(
            "mean_a"
        ),
        F.var_samp(
            F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice"))
        ).alias("var_a"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.avg(F.when(F.col("o_orderstatus") == "O", F.col("o_totalprice"))).alias(
            "mean_b"
        ),
        F.var_samp(
            F.when(F.col("o_orderstatus") == "O", F.col("o_totalprice"))
        ).alias("var_b"),
        F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
    )
    d = (F.col("mean_a") - F.col("mean_b")) / F.sqrt(
        (
            (F.col("n_a") - 1) * F.col("var_a")
            + (F.col("n_b") - 1) * F.col("var_b")
        )
        / (F.col("n_a") + F.col("n_b") - F.lit(2.0))
    )
    dd = s.withColumn("cohen_d", d)
    se = F.sqrt(
        (F.col("n_a") + F.col("n_b")).cast("double")
        / (F.col("n_a").cast("double") * F.col("n_b"))
        + F.col("cohen_d")
        * F.col("cohen_d")
        / (F.lit(2.0) * (F.col("n_a") + F.col("n_b")))
    )
    z = F.lit(1.959964)
    return dd.select(
        "n_a",
        "n_b",
        F.round("cohen_d", 6).alias("cohens_d"),
        F.round(
            F.col("cohen_d")
            * (
                F.lit(1.0)
                - F.lit(3.0)
                / (F.lit(4.0) * (F.col("n_a") + F.col("n_b")) - F.lit(9.0))
            ),
            6,
        ).alias("hedges_g"),
        F.round(se, 6).alias("se_d"),
        F.round(F.col("cohen_d") - z * se, 6).alias("d_ci_lo"),
        F.round(F.col("cohen_d") + z * se, 6).alias("d_ci_hi"),
    )


# --- Wave 73: information-gain feature ranking --------------------------------------


@query(
    "feature_information_gain",
    oracle="""
    WITH feats AS (
      SELECT hour(ts) // 6 AS f1,
             greatest(least(cast(floor(value / 100) AS BIGINT), 4), 0)
               AS f2,
             dayofweek(ts) AS f3,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    ),
    longf AS (
      SELECT f, v, y, cast(count(*) AS BIGINT) AS c FROM (
        SELECT 'f1' AS f, f1 AS v, y FROM feats
        UNION ALL SELECT 'f2', f2, y FROM feats
        UNION ALL SELECT 'f3', f3, y FROM feats
      ) GROUP BY 1, 2, 3
    ),
    tot AS (
      SELECT f, cast(sum(c) AS BIGINT) AS n FROM longf GROUP BY 1
    ),
    hy AS (
      SELECT l.f,
             cast(sum(cast(floor(-(cy.cy::DOUBLE / t.n)
                                 * ln(cy.cy::DOUBLE / t.n) * 1e9)
                           AS BIGINT)) AS BIGINT) AS hy_fp
      FROM (SELECT f, y, cast(sum(c) AS BIGINT) AS cy
            FROM longf GROUP BY 1, 2) cy
      JOIN tot t ON t.f = cy.f
      JOIN (SELECT DISTINCT f FROM longf) l ON l.f = cy.f
      GROUP BY l.f
    ),
    hv AS (
      SELECT lv.f,
             cast(sum(cast(floor(-(lv.c::DOUBLE / t.n)
                                 * ln(lv.c::DOUBLE / lv.cv) * 1e9)
                           AS BIGINT)) AS BIGINT) AS hcond_fp
      FROM (
        SELECT f, v, y, c,
               cast(sum(c) OVER (PARTITION BY f, v) AS BIGINT) AS cv
        FROM longf
      ) lv
      JOIN tot t ON t.f = lv.f
      GROUP BY lv.f
    )
    SELECT hy.f AS feature,
           round(hy.hy_fp / 1e9, 6) AS h_label,
           round(hv.hcond_fp / 1e9, 6) AS h_conditional,
           round((hy.hy_fp - hv.hcond_fp) / 1e9, 6) AS info_gain,
           floor((hy.hy_fp - hv.hcond_fp)::DOUBLE / hy.hy_fp * 1e6) / 1e6
             AS gain_ratio_of_hy
    FROM hy JOIN hv ON hv.f = hy.f
    """,
)
def feature_information_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Information gain IG(f) = H(y) - H(y|f) of each binned feature
    against the purchase label — the ID3/C4.5 split criterion computed
    exactly, completing the tree-learning kernel trio: gbdt_histogram_
    best_split ranks by variance gain, hoeffding_split_confidence asks
    WHEN a split is safe, this ranks features by ENTROPY reduction (and
    chi2_token_selection is the same question for text features).

    Exactness: all probabilities are exact integer count ratios; every
    p ln p term floors into 1e-9 fixed point before the order-free
    integer sums (H(y|f) folds the per-value entropies through the
    joint counts in one pass: -sum_(v,y) (c_vy/n) ln(c_vy/c_v)).

    Scale: one fact aggregate to the (feature, value, label) long
    table; everything after is grid-sized."""
    ev = T(spark, sf_dir, "events").select("ts", "value", "event_type")
    feats = ev.select(
        F.expr("hour(ts) div 6").alias("f1"),
        F.greatest(
            F.least(F.floor(F.col("value") / 100).cast("long"), F.lit(4)),
            F.lit(0),
        ).alias("f2"),
        (F.dayofweek("ts") - 1).cast("long").alias("f3"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    longf = (
        feats.select(
            F.expr("stack(3, 'f1', f1, 'f2', f2, 'f3', f3)").alias("f", "v"),
            "y",
        )
        .groupBy("f", "v", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint()
    )
    tot = longf.groupBy(F.col("f").alias("tf")).agg(
        F.sum("c").cast("long").alias("n")
    )
    cy = longf.groupBy("f", "y").agg(F.sum("c").cast("long").alias("cy"))
    hy = (
        cy.join(tot, cy.f == F.col("tf"))
        .groupBy("f")
        .agg(
            F.sum(
                F.floor(
                    -(F.col("cy").cast("double") / F.col("n"))
                    * F.log(F.col("cy").cast("double") / F.col("n"))
                    * 1e9
                ).cast("long")
            )
            .cast("long")
            .alias("hy_fp")
        )
    )
    wv = Window.partitionBy("f", "v")
    lv = longf.select(
        "f", "c", F.sum("c").over(wv).cast("long").alias("cv")
    )
    hv = (
        lv.join(tot, lv.f == F.col("tf"))
        .groupBy("f")
        .agg(
            F.sum(
                F.floor(
                    -(F.col("c").cast("double") / F.col("n"))
                    * F.log(F.col("c").cast("double") / F.col("cv"))
                    * 1e9
                ).cast("long")
            )
            .cast("long")
            .alias("hcond_fp")
        )
        .withColumnRenamed("f", "fh")
    )
    return hy.join(hv, hy.f == F.col("fh")).select(
        F.col("f").alias("feature"),
        F.round(F.col("hy_fp") / 1e9, 6).alias("h_label"),
        F.round(F.col("hcond_fp") / 1e9, 6).alias("h_conditional"),
        F.round((F.col("hy_fp") - F.col("hcond_fp")) / 1e9, 6).alias(
            "info_gain"
        ),
        (
            F.floor(
                (F.col("hy_fp") - F.col("hcond_fp")).cast("double")
                / F.col("hy_fp")
                * 1e6
            )
            / 1e6
        ).alias("gain_ratio_of_hy"),
    )
