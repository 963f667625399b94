"""Distributed statistical tests (SURVEY §2.8 M1/M2).

The reference computes these driver-side with numpy
(analytics/stats_utils.py:9-41); here the sufficient statistics come from
ONE Spark aggregation pass (conditional aggregates — no collect of raw
data), and the closed-form test statistic + normal-approximation p-value are
column expressions. This is the 100 TB shape: the data never leaves the
executors, only O(1) statistics do.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..functions.scalars import normal_sf


def welch_t_test(
    df: DataFrame, value: str, group: str, group_a, group_b
) -> DataFrame:
    """Welch's two-sample t-test between group_a and group_b.

    Parity with stats_utils.py:9-23: sample variance with ddof=1 on
    null-dropped values (count(value), not count(*) — SURVEY §7.4 item 3);
    p from the normal approximation (the reference uses erf; we use the
    A&S erf polynomial so the oracle can reproduce it exactly).
    """
    v = F.col(value)
    in_a = F.when(F.col(group) == group_a, v)
    in_b = F.when(F.col(group) == group_b, v)
    stats = df.agg(
        F.avg(in_a).alias("mean_a"),
        F.var_samp(in_a).alias("var_a"),
        F.count(in_a).alias("n_a"),
        F.avg(in_b).alias("mean_b"),
        F.var_samp(in_b).alias("var_b"),
        F.count(in_b).alias("n_b"),
    )
    se_a = F.col("var_a") / F.col("n_a")
    se_b = F.col("var_b") / F.col("n_b")
    t = (F.col("mean_a") - F.col("mean_b")) / F.sqrt(se_a + se_b)
    dof = (se_a + se_b) ** 2 / (
        se_a**2 / (F.col("n_a") - 1) + se_b**2 / (F.col("n_b") - 1)
    )
    return stats.select(
        F.round("mean_a", 6).alias("mean_a"),
        F.round("mean_b", 6).alias("mean_b"),
        "n_a",
        "n_b",
        F.round(t, 6).alias("t_stat"),
        F.round(dof, 4).alias("dof"),
        F.round(normal_sf(t), 6).alias("p_value"),
    )


def chi_square_test(df: DataFrame, row_col: str, col_col: str) -> DataFrame:
    """Pearson chi-square over the row_col x col_col contingency table with
    Wilson–Hilferty p (stats_utils.py:26-41).

    Pipeline: groupBy cell counts -> window marginals -> sum((O-E)^2/E).
    The contingency table is tiny (card(row) x card(col)); all heavy lifting
    is the first aggregation.
    """
    from pyspark.sql import Window

    cells = df.groupBy(row_col, col_col).agg(F.count(F.lit(1)).alias("o"))
    w_row = Window.partitionBy(row_col)
    w_col = Window.partitionBy(col_col)
    w_all = Window.partitionBy()
    with_marg = cells.select(
        F.col("o").cast("double").alias("o"),
        F.sum("o").over(w_row).cast("double").alias("row_tot"),
        F.sum("o").over(w_col).cast("double").alias("col_tot"),
        F.sum("o").over(w_all).cast("double").alias("grand"),
        F.col(row_col).alias("_r"),
        F.col(col_col).alias("_c"),
    )
    e = F.col("row_tot") * F.col("col_tot") / F.col("grand")
    agg = with_marg.agg(
        F.sum((F.col("o") - e) ** 2 / e).alias("chi2"),
        F.countDistinct("_r").alias("n_rows_cat"),
        F.countDistinct("_c").alias("n_cols_cat"),
    )
    dof = (F.col("n_rows_cat") - 1) * (F.col("n_cols_cat") - 1)
    # Wilson–Hilferty cube-root normal approximation
    z = (
        (F.col("chi2") / dof) ** (1.0 / 3.0)
        - (1.0 - 2.0 / (9.0 * dof))
    ) / F.sqrt(2.0 / (9.0 * dof))
    # analytics/stats_utils.py:40: p = 2*(1 - 0.5*(1+erf(|z|/sqrt(2))))
    # = 1 - erf(|z|/sqrt(2)) = normal_sf(z) exactly.
    p = normal_sf(z)
    return agg.select(
        F.round("chi2", 6).alias("chi2"),
        dof.cast("long").alias("dof"),
        F.round(z, 6).alias("z_wh"),
        F.round(p, 6).alias("p_value"),
    )
