"""Survival analysis + cohort-evaluation plans — the time-to-event and
agreement statistics a clinical/analytics platform reports on cohorts
(reference surface: the cohort/risk reporting in api/main.py and the
dbt retention marts; these generalize it to the standard estimators):

- ``kaplan_meier_survival``     — Kaplan–Meier product-limit estimator
  (Kaplan & Meier 1958) of time-to-first-purchase per md5-assigned
  cohort, right-censored at the corpus horizon.
- ``cohort_attrition_waterfall``— the CONSORT-style sequential
  eligibility waterfall: how many entities survive each successive
  inclusion criterion, with per-step drop counts.
- ``filter_agreement_kappa``    — Cohen's kappa (Cohen 1960) between
  two independent document-quality raters, per language: agreement
  beyond chance between curation filters.

All exact DuckDB oracles. Scale notes inline per query.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..catalog import table as T
from ..functions.scalars import NORMAL_SF_SQL
from .registry import query

# DuckDB twin of Spark's conv(substring(md5(x),1,6),16,10) — verified
# digit-fold parity (see plans/sketches.py).
_HEX6_SQL = (
    "list_sum(list_transform(range(1, 7), k ->"
    " (strpos('0123456789abcdef', substr(md5({x}), k, 1)) - 1)"
    " * (1 << (4 * (6 - k)))))"
)


def _time_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per user: time to first purchase, the relation every
    survival estimator here runs on — (cohort, dur, evt, x).

    - ``cohort``: 'A'/'B' by the parity of the user id's md5 prefix.
    - ``dur``: whole hours from the user's first event to the first
      purchase, or to the corpus horizon (last event) if none.
    - ``evt``: 1 if the user purchased, 0 if right-censored.
    - ``x``: the user's total event count (the Cox covariate).

    One per-user aggregate is the only row-proportional shuffle; the
    horizon is one broadcast scalar. Unused columns are pruned, so a
    caller that ignores ``cohort`` or ``x`` computes neither."""
    ev = T(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("long").alias("sec"), "event_type"
    )
    pu = ev.groupBy("user_id").agg(
        F.min("sec").alias("t0"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("sec"))
        ).alias("t_evt"),
        F.count(F.lit(1)).cast("long").alias("x"),
    )
    horizon = ev.agg(F.max("sec").alias("t_max"))
    cohort = F.when(
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 6), 16, 10
        ).cast("long")
        % 2
        == 0,
        F.lit("A"),
    ).otherwise(F.lit("B"))
    return pu.crossJoin(F.broadcast(horizon)).select(
        cohort.alias("cohort"),
        F.floor(
            (F.coalesce(F.col("t_evt"), F.col("t_max")) - F.col("t0"))
            / F.lit(3600.0)
        )
        .cast("long")
        .alias("dur"),
        F.when(F.col("t_evt").isNotNull(), 1).otherwise(0).alias("evt"),
        "x",
    )


def _cohort_risk_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-cohort life table: (cohort, dur, d_i, n_i) with d_i the
    events at duration ``dur`` and n_i the users still at risk there
    (total minus everyone who left at an earlier duration). Bounded by
    the time span, not by users, so its ordered windows stay small at
    any data scale."""
    tbl = _time_to_purchase(spark, sf_dir).groupBy("cohort", "dur").agg(
        F.sum("evt").cast("long").alias("d_i"),
        F.sum(F.lit(1) - F.col("evt")).cast("long").alias("c_i"),
    )
    w_tot = Window.partitionBy("cohort")
    w_prev = (
        Window.partitionBy("cohort")
        .orderBy("dur")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return tbl.select(
        "cohort",
        "dur",
        "d_i",
        (
            F.sum(F.col("d_i") + F.col("c_i")).over(w_tot)
            - F.coalesce(
                F.sum(F.col("d_i") + F.col("c_i")).over(w_prev), F.lit(0)
            )
        ).alias("n_i"),
    )


@query(
    "kaplan_meier_survival",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, epoch_us(ts) // 1000000 AS sec, event_type FROM events
    ), pu AS (
      SELECT user_id, min(sec) AS t0,
             min(CASE WHEN event_type = 'purchase' THEN sec END) AS t_evt
      FROM ev GROUP BY 1
    ), h AS (SELECT max(sec) AS t_max FROM ev),
    d AS (
      SELECT CASE WHEN ({_HEX6_SQL.format(x="cast(user_id AS VARCHAR)")}) % 2 = 0
                  THEN 'A' ELSE 'B' END AS cohort,
             cast(floor((coalesce(t_evt, t_max) - t0)::DOUBLE
                        / 3600.0::DOUBLE) AS BIGINT) AS dur,
             CASE WHEN t_evt IS NOT NULL THEN 1 ELSE 0 END AS evt
      FROM pu, h
    ), tbl AS (
      SELECT cohort, dur,
             cast(sum(evt) AS BIGINT) AS d_i,
             cast(sum(1 - evt) AS BIGINT) AS c_i
      FROM d GROUP BY 1, 2
    ), risk AS (
      SELECT cohort, dur, d_i,
             sum(d_i + c_i) OVER (PARTITION BY cohort)
               - coalesce(sum(d_i + c_i) OVER (
                   PARTITION BY cohort ORDER BY dur
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_i
      FROM tbl
    ), km AS (
      SELECT cohort, dur, d_i, n_i,
             CASE WHEN d_i = n_i THEN 0.0::DOUBLE
                  ELSE exp(sum(CASE WHEN d_i < n_i
                               THEN ln((n_i - d_i)::DOUBLE / n_i::DOUBLE)
                               ELSE 0.0::DOUBLE END) OVER (
                      PARTITION BY cohort ORDER BY dur))
             END AS surv
      FROM risk
    )
    SELECT cohort, dur AS duration_hours,
           cast(n_i AS BIGINT) AS n_at_risk,
           cast(d_i AS BIGINT) AS n_events,
           round(surv, 6) AS survival
    FROM km WHERE d_i > 0
    """,
)
def kaplan_meier_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival of time-to-first-purchase (hours since the
    user's first event), per deterministic md5 cohort, right-censored at
    the corpus horizon for users who never purchase.

    Distributed shape: one per-user aggregation (the only row-count-
    proportional shuffle), then the life table is per (cohort, distinct
    hour) — BOUNDED by the time span, not by users — so the ordered
    window that forms at-risk counts and the cumulative product runs
    over thousands of rows at any data scale. The product-limit step
    uses exp(cumsum(ln(1 - d/n))): each factor is an IEEE-exact integer
    ratio, d=0 rows contribute ln(1)=0 exactly, and both engines sum in
    the same ascending-duration order, so the only cross-engine drift is
    libm ulps — absorbed by round 6.

    At 100 TB: per-user agg is partial/final on user_id; the life table
    and windows are driver-trivial state. The censoring horizon is one
    broadcast scalar."""
    risk = _cohort_risk_sets(spark, sf_dir)
    w_run = Window.partitionBy("cohort").orderBy("dur")
    # A row with d_i == n_i (everyone still at risk dies there) can only
    # be the cohort's terminal row — survival is exactly 0 and the
    # ln(0) term is excluded from the cumulative sum.
    km = risk.select(
        "cohort",
        "dur",
        "d_i",
        "n_i",
        F.when(F.col("d_i") == F.col("n_i"), F.lit(0.0))
        .otherwise(
            F.exp(
                F.sum(
                    F.when(
                        F.col("d_i") < F.col("n_i"),
                        F.log(
                            (F.col("n_i") - F.col("d_i")).cast("double")
                            / F.col("n_i").cast("double")
                        ),
                    ).otherwise(F.lit(0.0))
                ).over(w_run)
            )
        )
        .alias("surv"),
    )
    return km.filter(F.col("d_i") > 0).select(
        "cohort",
        F.col("dur").alias("duration_hours"),
        F.col("n_i").cast("long").alias("n_at_risk"),
        F.col("d_i").cast("long").alias("n_events"),
        F.round("surv", 6).alias("survival"),
    )


@query(
    "cohort_attrition_waterfall",
    oracle="""
    WITH of AS (
      SELECT o_custkey,
             max(CASE WHEN o_orderdate >= TIMESTAMP '1995-01-01'
                 THEN 1 ELSE 0 END) AS recent,
             max(CASE WHEN o_totalprice > 150000.0::DOUBLE
                 THEN 1 ELSE 0 END) AS big
      FROM orders GROUP BY 1
    ), rf AS (
      SELECT DISTINCT o.o_custkey
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      WHERE l.l_returnflag = 'R'
    ), flags AS (
      SELECT c.c_custkey,
             CASE WHEN of.o_custkey IS NOT NULL THEN 1 ELSE 0 END AS f2,
             coalesce(of.recent, 0) AS f3,
             coalesce(of.big, 0) AS f4,
             CASE WHEN rf.o_custkey IS NULL THEN 1 ELSE 0 END AS f5
      FROM customer c
      LEFT JOIN of ON of.o_custkey = c.c_custkey
      LEFT JOIN rf ON rf.o_custkey = c.c_custkey
    ), agg AS (
      SELECT cast(count(*) AS BIGINT) AS s1,
             cast(sum(f2) AS BIGINT) AS s2,
             cast(sum(f2 * f3) AS BIGINT) AS s3,
             cast(sum(f2 * f3 * f4) AS BIGINT) AS s4,
             cast(sum(f2 * f3 * f4 * f5) AS BIGINT) AS s5
      FROM flags
    )
    SELECT step, criterion, remaining, dropped,
           floor(remaining::DOUBLE / s1 * 1e6) / 1e6 AS retention
    FROM (
      SELECT s1, 1 AS step, 'all_customers' AS criterion,
             s1 AS remaining, 0::BIGINT AS dropped FROM agg
      UNION ALL SELECT s1, 2, 'has_order', s2, s1 - s2 FROM agg
      UNION ALL SELECT s1, 3, 'order_since_1995', s3, s2 - s3 FROM agg
      UNION ALL SELECT s1, 4, 'big_ticket_order', s4, s3 - s4 FROM agg
      UNION ALL SELECT s1, 5, 'no_returned_items', s5, s4 - s5 FROM agg
    )
    """,
)
def cohort_attrition_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONSORT-style attrition waterfall: customers surviving each
    successive inclusion criterion (any order -> order since 1995 ->
    a big-ticket order -> no returned items), with per-step drop counts
    and retention vs the full population.

    One orders aggregation + one semi-style returned-customer set +
    two key joins produce per-entity criterion flags; the waterfall is
    conjunctive sums in a single final aggregate, unpivoted with
    ``stack`` — never five passes over the data. All counts are exact
    integers; retention is trunc6 so the ratio is engine-stable.

    At 100 TB: both flag sources aggregate/shuffle on the entity key
    once; the waterfall itself is one scalar row."""
    cust = T(spark, sf_dir, "customer")
    orders = T(spark, sf_dir, "orders")
    li = T(spark, sf_dir, "lineitem")
    of = orders.groupBy(F.col("o_custkey").alias("of_key")).agg(
        F.max(
            F.when(
                F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"),
                1,
            ).otherwise(0)
        ).alias("recent"),
        F.max(
            F.when(F.col("o_totalprice") > 150000.0, 1).otherwise(0)
        ).alias("big"),
    )
    rf = (
        orders.join(
            li.filter(F.col("l_returnflag") == "R").select("l_orderkey"),
            orders["o_orderkey"] == F.col("l_orderkey"),
            "left_semi",
        )
        .select(F.col("o_custkey").alias("rf_key"))
        .distinct()
        .withColumn("returned", F.lit(1))
    )
    flags = (
        cust.select("c_custkey")
        .join(of, F.col("c_custkey") == F.col("of_key"), "left")
        .join(rf, F.col("c_custkey") == F.col("rf_key"), "left")
        .select(
            F.when(F.col("of_key").isNotNull(), 1).otherwise(0).alias("f2"),
            F.coalesce("recent", F.lit(0)).alias("f3"),
            F.coalesce("big", F.lit(0)).alias("f4"),
            F.when(F.col("returned").isNull(), 1).otherwise(0).alias("f5"),
        )
    )
    agg = flags.agg(
        F.count(F.lit(1)).cast("long").alias("s1"),
        F.sum("f2").cast("long").alias("s2"),
        F.sum(F.col("f2") * F.col("f3")).cast("long").alias("s3"),
        F.sum(F.col("f2") * F.col("f3") * F.col("f4")).cast("long").alias("s4"),
        F.sum(
            F.col("f2") * F.col("f3") * F.col("f4") * F.col("f5")
        ).cast("long").alias("s5"),
    )
    steps = agg.select(
        "s1",
        F.expr(
            "stack(5,"
            " 1, 'all_customers',     s1, cast(0 AS BIGINT),"
            " 2, 'has_order',         s2, s1 - s2,"
            " 3, 'order_since_1995',  s3, s2 - s3,"
            " 4, 'big_ticket_order',  s4, s3 - s4,"
            " 5, 'no_returned_items', s5, s4 - s5)"
            " AS (step, criterion, remaining, dropped)"
        ),
    )
    return steps.select(
        "step",
        "criterion",
        "remaining",
        "dropped",
        (
            F.floor(
                F.col("remaining").cast("double") / F.col("s1") * 1e6
            )
            / 1e6
        ).alias("retention"),
    )


@query(
    "filter_agreement_kappa",
    oracle="""
    WITH r AS (
      SELECT lang,
             CASE WHEN length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE
                       / greatest(length(text), 1) <= 0.1::DOUBLE
                  THEN 1 ELSE 0 END AS ra,
             CASE WHEN len(string_split_regex(trim(text), '\\s+')) >= 20
                       AND list_sum(list_transform(
                             string_split_regex(trim(text), '\\s+'),
                             t -> length(t)))::DOUBLE
                           / len(string_split_regex(trim(text), '\\s+'))
                           BETWEEN 3.0::DOUBLE AND 12.0::DOUBLE
                  THEN 1 ELSE 0 END AS rb
      FROM documents
    ), cells AS (
      SELECT lang,
             cast(count(*) AS BIGINT) AS n,
             cast(sum(ra * rb) AS BIGINT) AS both_pass,
             cast(sum(ra * (1 - rb)) AS BIGINT) AS a_only,
             cast(sum((1 - ra) * rb) AS BIGINT) AS b_only,
             cast(sum((1 - ra) * (1 - rb)) AS BIGINT) AS both_fail,
             cast(sum(ra) AS BIGINT) AS na1,
             cast(sum(rb) AS BIGINT) AS nb1
      FROM r GROUP BY 1
    ), k AS (
      SELECT *,
             (both_pass + both_fail)::DOUBLE / n AS po,
             (na1::DOUBLE * nb1 + (n - na1)::DOUBLE * (n - nb1))
               / (n::DOUBLE * n) AS pe
      FROM cells
    )
    SELECT lang, n, both_pass, a_only, b_only, both_fail,
           floor(po * 1e6) / 1e6 AS po,
           floor(pe * 1e6) / 1e6 AS pe,
           floor((po - pe) / (1.0::DOUBLE - pe) * 1e6) / 1e6 AS kappa
    FROM k
    """,
)
def filter_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two independent document-quality raters,
    per language: rater A passes docs whose non-alphanumeric symbol
    ratio is <= 0.1; rater B passes docs with >= 20 whitespace tokens
    and mean token length in [3, 12]. Kappa is the chance-corrected
    agreement — the honest way to ask whether two curation filters
    measure the same thing (raw agreement is inflated when both raters
    pass almost everything).

    One narrow map over documents computes both verdicts; the 2x2
    confusion cells are a per-lang partial/final aggregate; kappa is
    arithmetic on exact integer counts (IEEE division is bit-stable, so
    trunc6 on both engines matches exactly). Zero joins, one shuffle on
    lang."""
    d = T(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    sym_ratio = F.length(
        F.regexp_replace(F.col("text"), r"[A-Za-z0-9\s]", "")
    ).cast("double") / F.greatest(F.length("text"), F.lit(1))
    mean_tok_len = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    ).cast("double") / F.size(toks)
    r = d.select(
        "lang",
        F.when(sym_ratio <= 0.1, 1).otherwise(0).alias("ra"),
        F.when(
            (F.size(toks) >= 20)
            & mean_tok_len.between(3.0, 12.0),
            1,
        )
        .otherwise(0)
        .alias("rb"),
    )
    cells = r.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("ra") * F.col("rb")).cast("long").alias("both_pass"),
        F.sum(F.col("ra") * (1 - F.col("rb"))).cast("long").alias("a_only"),
        F.sum((1 - F.col("ra")) * F.col("rb")).cast("long").alias("b_only"),
        F.sum((1 - F.col("ra")) * (1 - F.col("rb")))
        .cast("long")
        .alias("both_fail"),
        F.sum("ra").cast("long").alias("na1"),
        F.sum("rb").cast("long").alias("nb1"),
    )
    po = (F.col("both_pass") + F.col("both_fail")).cast("double") / F.col("n")
    pe = (
        F.col("na1").cast("double") * F.col("nb1")
        + (F.col("n") - F.col("na1")).cast("double")
        * (F.col("n") - F.col("nb1"))
    ) / (F.col("n").cast("double") * F.col("n"))
    k = cells.select(
        "lang",
        "n",
        "both_pass",
        "a_only",
        "b_only",
        "both_fail",
        po.alias("po_raw"),
        pe.alias("pe_raw"),
    )
    t6 = lambda c: F.floor(c * 1e6) / 1e6  # noqa: E731
    return k.select(
        "lang",
        "n",
        "both_pass",
        "a_only",
        "b_only",
        "both_fail",
        t6(F.col("po_raw")).alias("po"),
        t6(F.col("pe_raw")).alias("pe"),
        t6(
            (F.col("po_raw") - F.col("pe_raw"))
            / (F.lit(1.0) - F.col("pe_raw"))
        ).alias("kappa"),
    )


@query(
    "iptw_covariate_balance",
    oracle="""
    WITH oc AS (
      SELECT o_custkey,
             cast(count(*) AS BIGINT) AS n_orders,
             max(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
               AS treated
      FROM orders GROUP BY 1
    ), u AS (
      SELECT c.c_custkey, c.c_acctbal,
             cast(c.c_nationkey AS DOUBLE) AS nk,
             coalesce(oc.n_orders, 0)::DOUBLE AS n_orders,
             coalesce(oc.treated, 0) AS t
      FROM customer c LEFT JOIN oc ON oc.o_custkey = c.c_custkey
    ), p AS (
      SELECT *,
             1.0::DOUBLE / (1.0::DOUBLE + exp(-(
               -1.0::DOUBLE
               + 0.0002::DOUBLE * c_acctbal
               + 0.03::DOUBLE * nk
               + 0.2::DOUBLE * n_orders))) AS ps
      FROM u
    ), w AS (
      SELECT *,
             CASE WHEN t = 1 THEN 1.0::DOUBLE / ps
                  ELSE 1.0::DOUBLE / (1.0::DOUBLE - ps) END AS wt
      FROM p
    ), longf AS (
      SELECT t, wt, 'c_acctbal' AS covariate, c_acctbal AS x FROM w
      UNION ALL SELECT t, wt, 'n_orders', n_orders FROM w
      UNION ALL SELECT t, wt, 'c_nationkey', nk FROM w
    ), s AS (
      SELECT covariate,
             cast(sum(t) AS BIGINT) AS n_treated,
             cast(sum(1 - t) AS BIGINT) AS n_control,
             avg(x)      FILTER (t = 1) AS mt,
             avg(x)      FILTER (t = 0) AS mc,
             var_samp(x) FILTER (t = 1) AS vt,
             var_samp(x) FILTER (t = 0) AS vc,
             sum(wt * x)      FILTER (t = 1) / sum(wt) FILTER (t = 1) AS wmt,
             sum(wt * x)      FILTER (t = 0) / sum(wt) FILTER (t = 0) AS wmc,
             sum(wt * x * x)  FILTER (t = 1) / sum(wt) FILTER (t = 1) AS wxt,
             sum(wt * x * x)  FILTER (t = 0) / sum(wt) FILTER (t = 0) AS wxc
      FROM longf GROUP BY 1
    )
    SELECT covariate, n_treated, n_control,
           round((mt - mc) / sqrt((vt + vc) / 2.0::DOUBLE), 6)
             AS smd_unweighted,
           round((wmt - wmc)
                 / sqrt(((wxt - wmt * wmt) + (wxc - wmc * wmc))
                        / 2.0::DOUBLE), 6) AS smd_weighted
    FROM s
    """,
)
def iptw_covariate_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-probability-of-treatment weighting (IPTW) covariate
    balance table — the standardized-mean-difference audit every
    observational clinical study reports (Austin 2011): treated =
    customers with an urgent order, propensity = a fixed-coefficient
    logistic score on (account balance, nation, order count), weights
    1/ps vs 1/(1-ps), and per-covariate SMD before vs after weighting.
    A weighted |SMD| shrinking toward < 0.1 is the evidence the
    pseudo-population is exchangeable on that covariate.

    Plan: one orders aggregation joined to customers, map-side score
    and weights, a 3x melt to (covariate, x) long form, and ONE
    partial/final aggregate computing every moment (weighted variance
    via the E[x^2]-m^2 closed form so no second pass). Fixed
    coefficients keep the query deterministic and exactly oracle-
    checkable; swap in clinical/ml.py's fitted logistic for the
    production path.

    At 100 TB: one key shuffle + one 3-row-per-entity aggregate;
    the balance table is |covariates| rows."""
    oc = T(spark, sf_dir, "orders").groupBy(
        F.col("o_custkey").alias("oc_key")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.max(
            F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
        ).alias("treated"),
    )
    u = (
        T(spark, sf_dir, "customer")
        .join(oc, F.col("c_custkey") == F.col("oc_key"), "left")
        .select(
            F.col("c_acctbal"),
            F.col("c_nationkey").cast("double").alias("nk"),
            F.coalesce("n_orders", F.lit(0)).cast("double").alias("n_orders"),
            F.coalesce("treated", F.lit(0)).alias("t"),
        )
    )
    ps = F.lit(1.0) / (
        F.lit(1.0)
        + F.exp(
            -(
                F.lit(-1.0)
                + F.lit(0.0002) * F.col("c_acctbal")
                + F.lit(0.03) * F.col("nk")
                + F.lit(0.2) * F.col("n_orders")
            )
        )
    )
    w = u.withColumn("ps", ps).withColumn(
        "wt",
        F.when(F.col("t") == 1, F.lit(1.0) / F.col("ps")).otherwise(
            F.lit(1.0) / (F.lit(1.0) - F.col("ps"))
        ),
    )
    longf = w.select(
        "t",
        "wt",
        F.explode(
            F.array(
                F.struct(
                    F.lit("c_acctbal").alias("covariate"),
                    F.col("c_acctbal").alias("x"),
                ),
                F.struct(
                    F.lit("n_orders").alias("covariate"),
                    F.col("n_orders").alias("x"),
                ),
                F.struct(
                    F.lit("c_nationkey").alias("covariate"),
                    F.col("nk").alias("x"),
                ),
            )
        ).alias("p"),
    ).select("t", "wt", "p.covariate", "p.x")
    t1 = F.col("t") == 1
    t0 = F.col("t") == 0
    s = longf.groupBy("covariate").agg(
        F.sum("t").cast("long").alias("n_treated"),
        F.sum(1 - F.col("t")).cast("long").alias("n_control"),
        F.avg(F.when(t1, F.col("x"))).alias("mt"),
        F.avg(F.when(t0, F.col("x"))).alias("mc"),
        F.var_samp(F.when(t1, F.col("x"))).alias("vt"),
        F.var_samp(F.when(t0, F.col("x"))).alias("vc"),
        (
            F.sum(F.when(t1, F.col("wt") * F.col("x")))
            / F.sum(F.when(t1, F.col("wt")))
        ).alias("wmt"),
        (
            F.sum(F.when(t0, F.col("wt") * F.col("x")))
            / F.sum(F.when(t0, F.col("wt")))
        ).alias("wmc"),
        (
            F.sum(F.when(t1, F.col("wt") * F.col("x") * F.col("x")))
            / F.sum(F.when(t1, F.col("wt")))
        ).alias("wxt"),
        (
            F.sum(F.when(t0, F.col("wt") * F.col("x") * F.col("x")))
            / F.sum(F.when(t0, F.col("wt")))
        ).alias("wxc"),
    )
    return s.select(
        "covariate",
        "n_treated",
        "n_control",
        F.round(
            (F.col("mt") - F.col("mc"))
            / F.sqrt((F.col("vt") + F.col("vc")) / 2.0),
            6,
        ).alias("smd_unweighted"),
        F.round(
            (F.col("wmt") - F.col("wmc"))
            / F.sqrt(
                (
                    (F.col("wxt") - F.col("wmt") * F.col("wmt"))
                    + (F.col("wxc") - F.col("wmc") * F.col("wmc"))
                )
                / 2.0
            ),
            6,
        ).alias("smd_weighted"),
    )


@query(
    "logrank_test_cohorts",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, epoch_us(ts) // 1000000 AS sec, event_type FROM events
    ), pu AS (
      SELECT user_id, min(sec) AS t0,
             min(CASE WHEN event_type = 'purchase' THEN sec END) AS t_evt
      FROM ev GROUP BY 1
    ), h AS (SELECT max(sec) AS t_max FROM ev),
    d AS (
      SELECT CASE WHEN ({_HEX6_SQL.format(x="cast(user_id AS VARCHAR)")}) % 2 = 0
                  THEN 1 ELSE 0 END AS grp,
             cast(floor((coalesce(t_evt, t_max) - t0)::DOUBLE
                        / 3600.0::DOUBLE) AS BIGINT) AS dur,
             CASE WHEN t_evt IS NOT NULL THEN 1 ELSE 0 END AS evt
      FROM pu, h
    ), tbl AS (
      SELECT dur,
             cast(sum(CASE WHEN grp = 1 THEN evt ELSE 0 END) AS BIGINT) AS d1,
             cast(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a1,
             cast(sum(evt) AS BIGINT) AS d_all,
             cast(count(*) AS BIGINT) AS a_all
      FROM d GROUP BY 1
    ), risk AS (
      SELECT dur, d1, d_all,
             sum(a1) OVER () - coalesce(sum(a1) OVER (
               ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0) AS n1,
             sum(a_all) OVER () - coalesce(sum(a_all) OVER (
               ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0) AS n_all
      FROM tbl
    ), terms AS (
      SELECT d1, d_all, n1, n_all,
             d_all::DOUBLE * n1 / n_all AS e1,
             CASE WHEN n_all > 1 THEN
               d_all::DOUBLE * (n1::DOUBLE / n_all)
                 * (1.0::DOUBLE - n1::DOUBLE / n_all)
                 * (n_all - d_all) / (n_all - 1)
             ELSE 0.0::DOUBLE END AS v1
      FROM risk WHERE d_all > 0
    ), agg AS (
      SELECT cast(sum(d1) AS BIGINT) AS o1,
             sum(e1) AS e1, sum(v1) AS v1
      FROM terms
    ), z AS (
      SELECT o1, e1, v1, (o1 - e1) / sqrt(v1) AS z_raw FROM agg
    )
    SELECT o1 AS observed_treated,
           round(e1, 6) AS expected_treated,
           round(z_raw * z_raw, 6) AS chi2,
           round(__PSQL__, 6) AS p_value
    FROM z
    """.replace("__PSQL__", NORMAL_SF_SQL.format(z="z_raw")),
)
def logrank_test_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test (Mantel 1966) comparing the two md5 cohorts'
    time-to-purchase curves — THE hypothesis test reported beside every
    Kaplan–Meier plot: at each event time, the treated group's observed
    events vs the hypergeometric expectation given its at-risk share;
    the standardized sum is chi-square(1).

    Reuses kaplan_meier_survival's life-table discipline: one per-user
    aggregation, then every statistic lives on the duration-bounded
    table — expectations and variances are rationals of exact integer
    counts summed in ascending-duration order on both engines; the
    two-sided p comes from the shared A&S erf polynomial
    (functions/scalars.NORMAL_SF_SQL — same closed form as the Welch
    and chi-square tests). At 100 TB: identical scale shape to KM."""
    d = _time_to_purchase(spark, sf_dir).select(
        F.when(F.col("cohort") == "A", 1).otherwise(0).alias("grp"),
        "dur",
        "evt",
    )
    tbl = d.groupBy("dur").agg(
        F.sum(F.when(F.col("grp") == 1, F.col("evt")).otherwise(0))
        .cast("long")
        .alias("d1"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
        .cast("long")
        .alias("a1"),
        F.sum("evt").cast("long").alias("d_all"),
        F.count(F.lit(1)).cast("long").alias("a_all"),
    )
    w_tot = Window.partitionBy()
    w_prev = (
        Window.partitionBy()
        .orderBy("dur")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    risk = tbl.select(
        "dur",
        "d1",
        "d_all",
        (
            F.sum("a1").over(w_tot)
            - F.coalesce(F.sum("a1").over(w_prev), F.lit(0))
        ).alias("n1"),
        (
            F.sum("a_all").over(w_tot)
            - F.coalesce(F.sum("a_all").over(w_prev), F.lit(0))
        ).alias("n_all"),
    ).filter(F.col("d_all") > 0)
    share = F.col("n1").cast("double") / F.col("n_all")
    e1 = F.col("d_all").cast("double") * share
    v1 = F.when(
        F.col("n_all") > 1,
        F.col("d_all").cast("double")
        * share
        * (F.lit(1.0) - share)
        * (F.col("n_all") - F.col("d_all"))
        / (F.col("n_all") - 1),
    ).otherwise(F.lit(0.0))
    agg = risk.agg(
        F.sum("d1").cast("long").alias("o1"),
        F.sum(e1).alias("e1"),
        F.sum(v1).alias("v1"),
    )
    z_raw = (F.col("o1") - F.col("e1")) / F.sqrt(F.col("v1"))
    from ..functions.scalars import normal_sf

    return agg.select(
        F.col("o1").alias("observed_treated"),
        F.round("e1", 6).alias("expected_treated"),
        F.round(z_raw * z_raw, 6).alias("chi2"),
        F.round(normal_sf(z_raw), 6).alias("p_value"),
    )


# --- Wave 44: McNemar's test on the paired rater verdicts ---------------------


@query(
    "mcnemar_filter_test",
    oracle="""
    WITH r AS (
      SELECT lang,
             CASE WHEN length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE
                       / greatest(length(text), 1) <= 0.1::DOUBLE
                  THEN 1 ELSE 0 END AS ra,
             CASE WHEN len(string_split_regex(trim(text), '\\s+')) >= 20
                       AND list_sum(list_transform(
                             string_split_regex(trim(text), '\\s+'),
                             t -> length(t)))::DOUBLE
                           / len(string_split_regex(trim(text), '\\s+'))
                           BETWEEN 3.0::DOUBLE AND 12.0::DOUBLE
                  THEN 1 ELSE 0 END AS rb
      FROM documents
    ), cells AS (
      SELECT lang,
             cast(count(*) AS BIGINT) AS n,
             cast(sum(ra * (1 - rb)) AS BIGINT) AS a_only,
             cast(sum((1 - ra) * rb) AS BIGINT) AS b_only
      FROM r GROUP BY 1
    ), stat AS (
      SELECT lang, n, a_only, b_only,
             CASE WHEN a_only + b_only > 0 THEN
               (abs(a_only - b_only) - 1.0::DOUBLE)
                 * (abs(a_only - b_only) - 1.0::DOUBLE)
                 / (a_only + b_only)
             ELSE 0.0::DOUBLE END AS chi2
      FROM cells
    ), z AS (
      SELECT *, sqrt(chi2) AS z_raw FROM stat
    )
    SELECT lang, n, a_only, b_only,
           round(chi2, 6) AS chi2,
           CASE WHEN a_only + b_only > 0
                THEN round(__PSQL__, 6) ELSE 1.0::DOUBLE END AS p_value
    FROM z
    """.replace("__PSQL__", NORMAL_SF_SQL.format(z="z_raw")),
)
def mcnemar_filter_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test (1947, with Edwards' continuity correction) on the
    same paired rater verdicts filter_agreement_kappa measures: kappa
    answers "do the two quality filters AGREE beyond chance"; McNemar
    answers the complementary release question "is one filter
    systematically STRICTER" — only the discordant cells carry
    information, chi2(1) = (|b - c| - 1)^2 / (b + c).

    Same plan shape as kappa: one narrow map computes both verdicts,
    one per-lang partial/final aggregate, then scalar arithmetic on
    exact integer cells; sqrt/erf run on identical doubles with round6
    output (the shared A&S polynomial, as in Welch/chi-square/logrank).
    Zero-discordance groups are guarded to chi2=0, p=1 identically on
    both engines."""
    d = T(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    sym_ratio = F.length(
        F.regexp_replace(F.col("text"), r"[A-Za-z0-9\s]", "")
    ).cast("double") / F.greatest(F.length("text"), F.lit(1))
    mean_tok_len = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    ).cast("double") / F.size(toks)
    r = d.select(
        "lang",
        F.when(sym_ratio <= 0.1, 1).otherwise(0).alias("ra"),
        F.when(
            (F.size(toks) >= 20) & mean_tok_len.between(3.0, 12.0), 1
        )
        .otherwise(0)
        .alias("rb"),
    )
    cells = r.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("ra") * (1 - F.col("rb"))).cast("long").alias("a_only"),
        F.sum((1 - F.col("ra")) * F.col("rb")).cast("long").alias("b_only"),
    )
    disc = F.col("a_only") + F.col("b_only")
    dev = F.abs(F.col("a_only") - F.col("b_only")) - F.lit(1.0)
    chi2 = F.when(disc > 0, dev * dev / disc).otherwise(F.lit(0.0))
    stat = cells.select(
        "lang", "n", "a_only", "b_only", chi2.alias("chi2_raw")
    )
    from ..functions.scalars import normal_sf

    return stat.select(
        "lang",
        "n",
        "a_only",
        "b_only",
        F.round("chi2_raw", 6).alias("chi2"),
        F.when(
            F.col("a_only") + F.col("b_only") > 0,
            F.round(normal_sf(F.sqrt(F.col("chi2_raw"))), 6),
        )
        .otherwise(F.lit(1.0))
        .alias("p_value"),
    )


# --- Wave 44: propensity-score caliper matching -------------------------------

_PSM_SQL_UNITS = """
    oc AS (
      SELECT o_custkey AS oc_key,
             cast(count(*) AS BIGINT) AS n_orders,
             CASE WHEN sum(CASE WHEN o_orderpriority = '1-URGENT'
                            THEN 1 ELSE 0 END) >= 3
                  THEN 1 ELSE 0 END AS treated,
             cast(sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS BIGINT)
               AS y_cents
      FROM orders GROUP BY 1
    ),
    u AS (
      SELECT c.c_custkey,
             coalesce(oc.treated, 0) AS t,
             coalesce(oc.y_cents, 0) AS y_cents,
             CAST(floor(1e6 / (1.0::DOUBLE + exp(-(
               -1.0::DOUBLE
               + 0.0002::DOUBLE * c.c_acctbal
               + 0.03::DOUBLE * c.c_nationkey
               + 0.2::DOUBLE * coalesce(oc.n_orders, 0))))) AS BIGINT)
               AS ps_fp
      FROM customer c LEFT JOIN oc ON c.c_custkey = oc.oc_key
    ),
    ranked AS (
      SELECT *, ps_fp // 10000 AS bucket,
             row_number() OVER (PARTITION BY ps_fp // 10000, t
                                ORDER BY ps_fp, c_custkey) AS rn
      FROM u
    )
"""


@query(
    "psm_matched_att",
    oracle=(
        "WITH "
        + _PSM_SQL_UNITS
        + """,
    pairs AS (
      SELECT tr.y_cents AS y_t, co.y_cents AS y_c,
             abs(tr.ps_fp - co.ps_fp) AS ps_gap_fp
      FROM ranked tr JOIN ranked co
        ON tr.bucket = co.bucket AND tr.rn = co.rn
       AND tr.t = 1 AND co.t = 0
    ),
    tot AS (SELECT cast(sum(t) AS BIGINT) AS n_treated FROM u)
    SELECT tot.n_treated,
           cast(count(*) AS BIGINT) AS n_matched,
           floor(count(*) * 1e6 / tot.n_treated) / 1e6 AS match_rate,
           floor(sum(y_t - y_c) * 1e4 / count(*)) / 1e6 AS att_dollars,
           floor(sum(ps_gap_fp) * 1.0 / count(*)) / 1e6 AS mean_ps_gap
    FROM pairs, tot
    GROUP BY tot.n_treated
    """
    ),
)
def psm_matched_att(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Propensity-score matching ATT (Rosenbaum & Rubin 1983) — the
    matching estimator that completes the causal family next to IPTW,
    DiD, CUPED and RD: treated customers (>= 3 urgent orders — rare
    enough that a real control pool exists, unlike the saturating
    any-urgent flag; cf. the se=0 lesson in the verify gotchas) are paired
    1:1 with controls inside 1%-propensity caliper buckets, and the
    average treated-minus-control spend over matched pairs estimates
    the effect of urgency on customer value.

    Greedy nearest-neighbor matching is sequential; the distributable
    deterministic form used here is RANK PAIRING: within each (bucket,
    arm) the units are ranked by propensity, and the i-th treated
    matches the i-th control of the same bucket — one window per arm +
    one (bucket, rank) equi-join, no driver loop, match count =
    min(treated, controls) per bucket by construction. The propensity
    is the same fixed-coefficient logistic as iptw_covariate_balance,
    floor-truncated into 1e-6 FIXED-POINT int64 the moment it is
    computed, so bucket assignment, rank order, pair gaps, and every
    reported average are pure integer arithmetic (exact cross-engine);
    outcomes are integer cents. At 100 TB: one orders rollup, one
    customer join, windows partitioned by (bucket, arm) — use finer
    calipers if single buckets grow pathological."""
    oc = T(spark, sf_dir, "orders").groupBy(
        F.col("o_custkey").alias("oc_key")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.when(
            F.sum(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
            )
            >= 3,
            1,
        )
        .otherwise(0)
        .alias("treated"),
        F.sum(F.round(F.col("o_totalprice") * 100.0).cast("long"))
        .cast("long")
        .alias("y_cents"),
    )
    ps = F.lit(1.0) / (
        F.lit(1.0)
        + F.exp(
            -(
                F.lit(-1.0)
                + F.lit(0.0002) * F.col("c_acctbal")
                + F.lit(0.03) * F.col("c_nationkey")
                + F.lit(0.2) * F.coalesce("n_orders", F.lit(0))
            )
        )
    )
    u = (
        T(spark, sf_dir, "customer")
        .join(oc, F.col("c_custkey") == F.col("oc_key"), "left")
        .select(
            "c_custkey",
            F.coalesce("treated", F.lit(0)).alias("t"),
            F.coalesce("y_cents", F.lit(0)).alias("y_cents"),
            F.floor(F.lit(1e6) * ps).cast("long").alias("ps_fp"),
        )
    )
    ranked = u.select(
        "*",
        (F.col("ps_fp") / 10000).cast("long").alias("bucket"),
    ).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy(
                (F.col("ps_fp") / 10000).cast("long"), "t"
            ).orderBy("ps_fp", "c_custkey")
        ),
    )
    tr = ranked.filter(F.col("t") == 1).select(
        "bucket", "rn",
        F.col("y_cents").alias("y_t"), F.col("ps_fp").alias("ps_t"),
    )
    co = ranked.filter(F.col("t") == 0).select(
        "bucket", "rn",
        F.col("y_cents").alias("y_c"), F.col("ps_fp").alias("ps_c"),
    )
    pairs = tr.join(co, ["bucket", "rn"])
    n_treated = u.agg(F.sum("t").cast("long").alias("n_treated"))
    return (
        pairs.agg(
            F.count(F.lit(1)).cast("long").alias("n_matched"),
            F.sum(F.col("y_t") - F.col("y_c")).alias("att_num"),
            F.sum(F.abs(F.col("ps_t") - F.col("ps_c"))).alias("gap_num"),
        )
        .crossJoin(F.broadcast(n_treated))
        .select(
            "n_treated",
            "n_matched",
            (
                F.floor(F.col("n_matched") * F.lit(1e6) / F.col("n_treated"))
                / 1e6
            ).alias("match_rate"),
            (
                F.floor(F.col("att_num") * F.lit(1e4) / F.col("n_matched"))
                / 1e6
            ).alias("att_dollars"),
            (
                F.floor(F.col("gap_num") * F.lit(1.0) / F.col("n_matched"))
                / 1e6
            ).alias("mean_ps_gap"),
        )
    )


# --- Wave 52: Greenwood confidence bands on the KM curve ------------------------


@query(
    "km_greenwood_ci",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, epoch_us(ts) // 1000000 AS sec, event_type FROM events
    ), pu AS (
      SELECT user_id, min(sec) AS t0,
             min(CASE WHEN event_type = 'purchase' THEN sec END) AS t_evt
      FROM ev GROUP BY 1
    ), h AS (SELECT max(sec) AS t_max FROM ev),
    d AS (
      SELECT CASE WHEN ({{hex6}}) % 2 = 0
                  THEN 'A' ELSE 'B' END AS cohort,
             cast(floor((coalesce(t_evt, t_max) - t0)::DOUBLE
                        / 3600.0::DOUBLE) AS BIGINT) AS dur,
             CASE WHEN t_evt IS NOT NULL THEN 1 ELSE 0 END AS evt
      FROM pu, h
    ), tbl AS (
      SELECT cohort, dur,
             cast(sum(evt) AS BIGINT) AS d_i,
             cast(sum(1 - evt) AS BIGINT) AS c_i
      FROM d GROUP BY 1, 2
    ), risk AS (
      SELECT cohort, dur, d_i,
             sum(d_i + c_i) OVER (PARTITION BY cohort)
               - coalesce(sum(d_i + c_i) OVER (
                   PARTITION BY cohort ORDER BY dur
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_i
      FROM tbl
    ), km AS (
      SELECT cohort, dur, d_i, n_i,
             CASE WHEN d_i = n_i THEN 0.0::DOUBLE
                  ELSE exp(sum(CASE WHEN d_i < n_i
                               THEN ln((n_i - d_i)::DOUBLE / n_i::DOUBLE)
                               ELSE 0.0::DOUBLE END) OVER (
                      PARTITION BY cohort ORDER BY dur))
             END AS surv,
             sum(CASE WHEN d_i < n_i
                 THEN d_i::DOUBLE / (n_i::DOUBLE * (n_i - d_i))
                 ELSE 0.0::DOUBLE END) OVER (
               PARTITION BY cohort ORDER BY dur) AS gw
      FROM risk
    )
    SELECT cohort, dur AS duration_hours,
           cast(n_i AS BIGINT) AS n_at_risk,
           cast(d_i AS BIGINT) AS n_events,
           round(surv, 6) AS survival,
           round(surv * sqrt(gw), 6) AS se,
           round(greatest(surv - 1.959963984540054 * surv * sqrt(gw),
                          0.0::DOUBLE), 6) AS ci_lo,
           round(least(surv + 1.959963984540054 * surv * sqrt(gw),
                       1.0::DOUBLE), 6) AS ci_hi
    FROM km WHERE d_i > 0
    """.format(hex6=_HEX6_SQL.format(x="cast(user_id AS VARCHAR)")),
)
def km_greenwood_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier curve with Greenwood (1926) pointwise 95% bands —
    the uncertainty layer every published KM plot carries: Var S(t) =
    S(t)^2 * sum d/(n(n-d)) over steps so far, CI = S +- 1.96 se,
    clamped to [0, 1] (the plain — not log-log — form, stated).

    Reuses kaplan_meier_survival's life-table discipline end to end:
    one per-user aggregation, then everything on the duration-bounded
    table; the Greenwood accumulator is one more ascending-duration
    cumulative sum of exact integer ratios (d=n terminal rows excluded
    from the sum exactly as the ln term is), z pinned as the 17-digit
    literal. Same scale shape as KM."""
    risk = _cohort_risk_sets(spark, sf_dir)
    w_run = Window.partitionBy("cohort").orderBy("dur")
    surv = F.when(F.col("d_i") == F.col("n_i"), F.lit(0.0)).otherwise(
        F.exp(
            F.sum(
                F.when(
                    F.col("d_i") < F.col("n_i"),
                    F.log(
                        (F.col("n_i") - F.col("d_i")).cast("double")
                        / F.col("n_i").cast("double")
                    ),
                ).otherwise(F.lit(0.0))
            ).over(w_run)
        )
    )
    gw = F.sum(
        F.when(
            F.col("d_i") < F.col("n_i"),
            F.col("d_i").cast("double")
            / (F.col("n_i").cast("double") * (F.col("n_i") - F.col("d_i"))),
        ).otherwise(F.lit(0.0))
    ).over(w_run)
    km = risk.select(
        "cohort", "dur", "d_i", "n_i", surv.alias("surv"), gw.alias("gw")
    )
    z = F.lit(1.959963984540054)
    se = F.col("surv") * F.sqrt(F.col("gw"))
    return km.filter(F.col("d_i") > 0).select(
        "cohort",
        F.col("dur").alias("duration_hours"),
        F.col("n_i").alias("n_at_risk"),
        F.col("d_i").alias("n_events"),
        F.round("surv", 6).alias("survival"),
        F.round(se, 6).alias("se"),
        F.round(F.greatest(F.col("surv") - z * se, F.lit(0.0)), 6).alias(
            "ci_lo"
        ),
        F.round(F.least(F.col("surv") + z * se, F.lit(1.0)), 6).alias(
            "ci_hi"
        ),
    )


# --- Wave 62: Nelson-Aalen cumulative hazard ---------------------------------


@query(
    "nelson_aalen_hazard",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, epoch_us(ts) // 1000000 AS sec, event_type FROM events
    ), pu AS (
      SELECT user_id, min(sec) AS t0,
             min(CASE WHEN event_type = 'purchase' THEN sec END) AS t_evt
      FROM ev GROUP BY 1
    ), h AS (SELECT max(sec) AS t_max FROM ev),
    d AS (
      SELECT CASE WHEN ({{hex6}}) % 2 = 0
                  THEN 'A' ELSE 'B' END AS cohort,
             cast(floor((coalesce(t_evt, t_max) - t0)::DOUBLE
                        / 3600.0::DOUBLE) AS BIGINT) AS dur,
             CASE WHEN t_evt IS NOT NULL THEN 1 ELSE 0 END AS evt
      FROM pu, h
    ), tbl AS (
      SELECT cohort, dur,
             cast(sum(evt) AS BIGINT) AS d_i,
             cast(sum(1 - evt) AS BIGINT) AS c_i
      FROM d GROUP BY 1, 2
    ), risk AS (
      SELECT cohort, dur, d_i,
             sum(d_i + c_i) OVER (PARTITION BY cohort)
               - coalesce(sum(d_i + c_i) OVER (
                   PARTITION BY cohort ORDER BY dur
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_i
      FROM tbl
    ), na AS (
      SELECT cohort, dur, d_i, n_i,
             sum(d_i::DOUBLE / n_i::DOUBLE) OVER (
               PARTITION BY cohort ORDER BY dur) AS haz,
             sum(d_i::DOUBLE / (n_i::DOUBLE * n_i::DOUBLE)) OVER (
               PARTITION BY cohort ORDER BY dur) AS var_h
      FROM risk
    )
    SELECT cohort, dur AS duration_hours,
           cast(n_i AS BIGINT) AS n_at_risk,
           cast(d_i AS BIGINT) AS n_events,
           round(haz, 6) AS cum_hazard,
           round(exp(-haz), 6) AS fleming_harrington_surv,
           round(sqrt(var_h), 6) AS se
    FROM na WHERE d_i > 0
    """.format(hex6=_HEX6_SQL.format(x="cast(user_id AS VARCHAR)")),
)
def nelson_aalen_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative hazard H(t) = sum(d_i/n_i) with its
    Poisson-form se sqrt(sum d_i/n_i^2) and the Fleming-Harrington
    survival exp(-H) — the hazard-scale twin of kaplan_meier_survival
    (same cohorts, same censoring), preferred for small risk sets and
    for additivity across strata; KM and FH bracket each other, and the
    gap is itself a small-sample diagnostic.

    Identical distributed shape to KM: one per-user aggregation, then a
    time-span-bounded life table with ordered cumulative windows; both
    engines sum the per-step double ratios in the same ascending-
    duration order, so drift is libm ulps absorbed by round 6."""
    risk = _cohort_risk_sets(spark, sf_dir)
    w_run = Window.partitionBy("cohort").orderBy("dur")
    dn = F.col("d_i").cast("double") / F.col("n_i").cast("double")
    haz = F.sum(dn).over(w_run)
    var_h = F.sum(
        F.col("d_i").cast("double")
        / (F.col("n_i").cast("double") * F.col("n_i").cast("double"))
    ).over(w_run)
    return (
        risk.select(
            "cohort", "dur", "d_i", "n_i",
            haz.alias("haz"), var_h.alias("var_h"),
        )
        .filter(F.col("d_i") > 0)
        .select(
            "cohort",
            F.col("dur").alias("duration_hours"),
            F.col("n_i").cast("long").alias("n_at_risk"),
            F.col("d_i").cast("long").alias("n_events"),
            F.round("haz", 6).alias("cum_hazard"),
            F.round(F.exp(-F.col("haz")), 6).alias(
                "fleming_harrington_surv"
            ),
            F.round(F.sqrt("var_h"), 6).alias("se"),
        )
    )


# --- Wave 66: Weibull probability-plot fit ------------------------------------

_WB_LN2 = 0.6931471805599453  # the same ln(2) literal on both engines


@query(
    "weibull_survival_fit",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, epoch_us(ts) // 1000000 AS sec, event_type FROM events
    ), pu AS (
      SELECT user_id, min(sec) AS t0,
             min(CASE WHEN event_type = 'purchase' THEN sec END) AS t_evt
      FROM ev GROUP BY 1
    ), h AS (SELECT max(sec) AS t_max FROM ev),
    d AS (
      SELECT cast(floor((coalesce(t_evt, t_max) - t0)::DOUBLE
                        / 3600.0::DOUBLE) AS BIGINT) AS dur,
             CASE WHEN t_evt IS NOT NULL THEN 1 ELSE 0 END AS evt
      FROM pu, h
    ), tbl AS (
      SELECT dur, cast(sum(evt) AS BIGINT) AS d_i,
             cast(sum(1 - evt) AS BIGINT) AS c_i
      FROM d GROUP BY 1
    ), risk AS (
      SELECT dur, d_i,
             sum(d_i + c_i) OVER ()
               - coalesce(sum(d_i + c_i) OVER (
                   ORDER BY dur
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_i
      FROM tbl
    ), km AS (
      SELECT dur, d_i, n_i,
             CASE WHEN d_i = n_i THEN 0.0::DOUBLE
                  ELSE round(exp(sum(CASE WHEN d_i < n_i
                               THEN ln((n_i - d_i)::DOUBLE / n_i::DOUBLE)
                               ELSE 0.0::DOUBLE END) OVER (ORDER BY dur)), 12)
             END AS surv
      FROM risk
    ), pts AS (
      SELECT cast(floor(ln(dur) * 1e9) AS BIGINT) / 1e9 AS x,
             cast(floor(ln(-ln(surv)) * 1e9) AS BIGINT) / 1e9 AS y
      FROM km
      WHERE d_i > 0 AND dur >= 1 AND surv > 0.0::DOUBLE
        AND surv < 1.0::DOUBLE
    ), mo AS (
      SELECT cast(count(*) AS BIGINT) AS n,
             cast(sum(cast(floor(x * 1e9) AS BIGINT)) AS BIGINT) AS sx_fp,
             cast(sum(cast(floor(y * 1e9) AS BIGINT)) AS BIGINT) AS sy_fp,
             cast(sum(cast(floor(x * y * 1e9) AS BIGINT)) AS BIGINT) AS sxy_fp,
             cast(sum(cast(floor(x * x * 1e9) AS BIGINT)) AS BIGINT) AS sxx_fp,
             cast(sum(cast(floor(y * y * 1e9) AS BIGINT)) AS BIGINT) AS syy_fp
      FROM pts
    ), fit AS (
      SELECT n,
             (n * (sxy_fp / 1e9) - (sx_fp / 1e9) * (sy_fp / 1e9))
               / (n * (sxx_fp / 1e9) - (sx_fp / 1e9) * (sx_fp / 1e9)) AS k
      FROM mo
    ), fin AS (
      SELECT mo.n, fit.k,
             exp(-(((mo.sy_fp / 1e9) - fit.k * (mo.sx_fp / 1e9)) / mo.n)
                 / fit.k) AS lam,
             (mo.n * (mo.sxy_fp / 1e9) - (mo.sx_fp / 1e9) * (mo.sy_fp / 1e9))
               * (mo.n * (mo.sxy_fp / 1e9) - (mo.sx_fp / 1e9) * (mo.sy_fp / 1e9))
               / ((mo.n * (mo.sxx_fp / 1e9) - (mo.sx_fp / 1e9) * (mo.sx_fp / 1e9))
                  * (mo.n * (mo.syy_fp / 1e9) - (mo.sy_fp / 1e9) * (mo.sy_fp / 1e9)))
               AS r2
      FROM mo, fit
    )
    SELECT n AS n_points,
           round(k, 6) AS shape_k,
           round(lam, 6) AS scale_hours,
           floor(r2 * 1e6) / 1e6 AS r2,
           round(lam * pow({_WB_LN2!r}, 1.0::DOUBLE / k), 6) AS median_hours
    FROM fin
    """,
)
def weibull_survival_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weibull fit of time-to-first-purchase by the probability-plot /
    Weibull-paper method: the Kaplan-Meier life table (single cohort)
    gives S(t); under Weibull(k, lambda), ln(-ln S(t)) = k ln t -
    k ln lambda, so one OLS on the (ln t, ln(-ln S)) points yields the
    shape k (slope), scale lambda = exp(-intercept/k), the plot R^2
    (linearity IS the goodness-of-fit test on Weibull paper), and the
    implied median lambda * ln(2)^(1/k).

    Cross-engine: the KM product uses the exp(cumsum(ln)) form of
    kaplan_meier_survival with S re-rounded to 12 dp (re-syncing libm
    ulps before the second ln); each plot coordinate and each OLS moment
    term is floored into 1e-9 fixed point so the life-table sums are
    order-free; ln(2) is the same written literal on both engines.

    Scale: one per-user aggregate is the only row-proportional shuffle;
    the life table, plot points, and moments are horizon-bounded."""
    tbl = _time_to_purchase(spark, sf_dir).groupBy("dur").agg(
        F.sum("evt").cast("long").alias("d_i"),
        F.sum(F.lit(1) - F.col("evt")).cast("long").alias("c_i"),
    )
    w_all = Window.partitionBy()
    w_prev = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_run = Window.orderBy("dur")
    risk = tbl.select(
        "dur",
        "d_i",
        (
            F.sum(F.col("d_i") + F.col("c_i")).over(w_all)
            - F.coalesce(
                F.sum(F.col("d_i") + F.col("c_i")).over(w_prev), F.lit(0)
            )
        ).alias("n_i"),
    )
    km = risk.select(
        "dur",
        "d_i",
        "n_i",
        F.when(F.col("d_i") == F.col("n_i"), F.lit(0.0))
        .otherwise(
            F.round(
                F.exp(
                    F.sum(
                        F.when(
                            F.col("d_i") < F.col("n_i"),
                            F.log(
                                (F.col("n_i") - F.col("d_i")).cast("double")
                                / F.col("n_i").cast("double")
                            ),
                        ).otherwise(F.lit(0.0))
                    ).over(w_run)
                ),
                12,
            )
        )
        .alias("surv"),
    )
    pts = km.filter(
        (F.col("d_i") > 0)
        & (F.col("dur") >= 1)
        & (F.col("surv") > 0.0)
        & (F.col("surv") < 1.0)
    ).select(
        (
            F.floor(F.log(F.col("dur").cast("double")) * 1e9).cast("long")
            / 1e9
        ).alias("x"),
        (
            F.floor(F.log(-F.log(F.col("surv"))) * 1e9).cast("long") / 1e9
        ).alias("y"),
    )
    mo = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.floor(F.col("x") * 1e9).cast("long")).cast("long").alias("sx_fp"),
        F.sum(F.floor(F.col("y") * 1e9).cast("long")).cast("long").alias("sy_fp"),
        F.sum(F.floor(F.col("x") * F.col("y") * 1e9).cast("long"))
        .cast("long")
        .alias("sxy_fp"),
        F.sum(F.floor(F.col("x") * F.col("x") * 1e9).cast("long"))
        .cast("long")
        .alias("sxx_fp"),
        F.sum(F.floor(F.col("y") * F.col("y") * 1e9).cast("long"))
        .cast("long")
        .alias("syy_fp"),
    )
    sx = F.col("sx_fp") / 1e9
    sy = F.col("sy_fp") / 1e9
    sxy = F.col("sxy_fp") / 1e9
    sxx = F.col("sxx_fp") / 1e9
    syy = F.col("syy_fp") / 1e9
    n = F.col("n")
    k = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    fit = mo.select(
        "n",
        "sx_fp",
        "sy_fp",
        "sxy_fp",
        "sxx_fp",
        "syy_fp",
        k.alias("k"),
    )
    lam = F.exp(
        -((F.col("sy_fp") / 1e9 - F.col("k") * (F.col("sx_fp") / 1e9)) / F.col("n"))
        / F.col("k")
    )
    num = F.col("n") * (F.col("sxy_fp") / 1e9) - (F.col("sx_fp") / 1e9) * (
        F.col("sy_fp") / 1e9
    )
    r2 = (
        num
        * num
        / (
            (
                F.col("n") * (F.col("sxx_fp") / 1e9)
                - (F.col("sx_fp") / 1e9) * (F.col("sx_fp") / 1e9)
            )
            * (
                F.col("n") * (F.col("syy_fp") / 1e9)
                - (F.col("sy_fp") / 1e9) * (F.col("sy_fp") / 1e9)
            )
        )
    )
    return fit.select(
        F.col("n").alias("n_points"),
        F.round(F.col("k"), 6).alias("shape_k"),
        F.round(lam, 6).alias("scale_hours"),
        (F.floor(r2 * 1e6) / 1e6).alias("r2"),
        F.round(
            lam * F.pow(F.lit(_WB_LN2), F.lit(1.0) / F.col("k")), 6
        ).alias("median_hours"),
    )


# --- Wave 70: Cox score test (one Newton step) --------------------------------


@query(
    "cox_score_one_step",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, epoch_us(ts) // 1000000 AS sec, event_type FROM events
    ), pu AS (
      SELECT user_id, min(sec) AS t0,
             min(CASE WHEN event_type = 'purchase' THEN sec END) AS t_evt,
             cast(count(*) AS BIGINT) AS x
      FROM ev GROUP BY 1
    ), h AS (SELECT max(sec) AS t_max FROM ev),
    d AS (
      SELECT cast(floor((coalesce(t_evt, t_max) - t0)::DOUBLE
                        / 3600.0::DOUBLE) AS BIGINT) AS dur,
             CASE WHEN t_evt IS NOT NULL THEN 1 ELSE 0 END AS evt,
             x
      FROM pu, h
    ),
    g AS (
      SELECT dur,
             cast(count(*) AS BIGINT) AS n_d,
             cast(sum(x) AS BIGINT) AS sx_d,
             cast(sum(x * x) AS BIGINT) AS sxx_d,
             cast(sum(CASE WHEN evt = 1 THEN x ELSE 0 END) AS BIGINT)
               AS ex_d,
             cast(sum(evt) AS BIGINT) AS en_d
      FROM d GROUP BY 1
    ),
    sfx AS (
      SELECT dur, ex_d, en_d,
             sum(n_d) OVER w AS nn,
             sum(sx_d) OVER w AS s1,
             sum(sxx_d) OVER w AS s2
      FROM g
      WINDOW w AS (ORDER BY dur DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    terms AS (
      SELECT cast(floor((ex_d - en_d * (s1::DOUBLE / nn)) * 1e9) AS BIGINT)
               AS u_fp,
             cast(floor(en_d * (s2::DOUBLE / nn
                                - (s1::DOUBLE / nn) * (s1::DOUBLE / nn))
                        * 1e9) AS BIGINT) AS i_fp
      FROM sfx WHERE en_d > 0
    ),
    s AS (
      SELECT cast(sum(u_fp) AS BIGINT) / 1e9 AS u,
             cast(sum(i_fp) AS BIGINT) / 1e9 AS i,
             cast(count(*) AS BIGINT) AS n_event_times
      FROM terms
    )
    SELECT n_event_times,
           round(u, 6) AS score_u,
           round(i, 6) AS fisher_info,
           round(u / i, 6) AS beta_one_step,
           round(u / sqrt(i), 4) AS z,
           round({NORMAL_SF_SQL.format(z="abs(u / sqrt(i))")}, 6) AS p_value
    FROM s
    """,
)
def cox_score_one_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cox proportional-hazards SCORE TEST (and the one-Newton-step
    coefficient U/I from beta = 0) for a CONTINUOUS covariate — the
    user's total activity count — against time-to-first-purchase: at
    beta = 0 the partial-likelihood score is U = sum over event times of
    (x_event - risk-set mean of x) and the information is I = sum of
    d_t * risk-set variance (Breslow ties), so the whole test needs NO
    iteration: logrank_test_cohorts generalized from a binary cohort to
    a real-valued covariate.

    Distributed shape: one per-user aggregate, then the risk-set sums
    collapse to SUFFIX cumsums over the duration-bounded grid (the
    at-risk set at duration d is everyone with dur >= d) — never a
    per-event rescan of the cohort.

    Exactness: x, x^2, event sums are integers; each event-time's U and
    I term floors into 1e-9 fixed point before the order-free integer
    sums; z and the erf-polynomial p round at the end."""
    g = _time_to_purchase(spark, sf_dir).groupBy("dur").agg(
        F.count(F.lit(1)).cast("long").alias("n_d"),
        F.sum("x").cast("long").alias("sx_d"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx_d"),
        F.sum(F.when(F.col("evt") == 1, F.col("x")).otherwise(0))
        .cast("long")
        .alias("ex_d"),
        F.sum("evt").cast("long").alias("en_d"),
    )
    wsfx = Window.orderBy(F.desc("dur")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    sfx = g.select(
        "dur",
        "ex_d",
        "en_d",
        F.sum("n_d").over(wsfx).cast("long").alias("nn"),
        F.sum("sx_d").over(wsfx).cast("long").alias("s1"),
        F.sum("sxx_d").over(wsfx).cast("long").alias("s2"),
    )
    m1 = F.col("s1").cast("double") / F.col("nn")
    terms = sfx.filter(F.col("en_d") > 0).select(
        F.floor((F.col("ex_d") - F.col("en_d") * m1) * 1e9)
        .cast("long")
        .alias("u_fp"),
        F.floor(
            F.col("en_d")
            * (F.col("s2").cast("double") / F.col("nn") - m1 * m1)
            * 1e9
        )
        .cast("long")
        .alias("i_fp"),
    )
    s = terms.agg(
        (F.sum("u_fp").cast("long") / 1e9).alias("u"),
        (F.sum("i_fp").cast("long") / 1e9).alias("i"),
        F.count(F.lit(1)).cast("long").alias("n_event_times"),
    )
    from ..functions.scalars import normal_sf

    return s.select(
        "n_event_times",
        F.round("u", 6).alias("score_u"),
        F.round("i", 6).alias("fisher_info"),
        F.round(F.col("u") / F.col("i"), 6).alias("beta_one_step"),
        F.round(F.col("u") / F.sqrt(F.col("i")), 4).alias("z"),
        F.round(
            normal_sf(F.abs(F.col("u") / F.sqrt(F.col("i")))), 6
        ).alias("p_value"),
    )
