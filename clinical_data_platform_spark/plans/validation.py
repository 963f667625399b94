"""Data-quality plan coverage (SURVEY §2.9 V1-V11): the declarative check
engine compiled to single-pass aggregations, run over the corpus tables.

The oracle SQL spells out the exact aggregate each rule compiles to, so the
driver's gate verifies the COMPILER, not just one query.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..catalog import table as T
from ..operators import checks as C
from .registry import query

LINEITEM_RULES = [
    C.not_null("l_orderkey"),
    C.not_null("l_quantity"),
    C.in_range("l_quantity", lo=0, hi=100),
    C.accepted_values("l_returnflag", ["A", "N", "R"]),
    C.regex("l_linestatus", "^[FO]$"),
    C.cross_column("discount_fraction", "l_discount >= 0 AND l_discount <= 1"),
    C.composite_unique(["l_orderkey", "l_linenumber"]),
]

ORDERS_RULES = [
    C.not_null("o_orderkey"),
    C.unique("o_orderkey"),
    C.accepted_values("o_orderstatus", ["F", "O", "P"]),
    C.in_range("o_totalprice", lo=0),
    C.str_length("o_orderpriority", 1, 20),
]


@query(
    "dq_lineitem_battery",
    oracle="""
    SELECT count(*) AS n_rows,
           cast(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS not_null__l_orderkey,
           cast(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS not_null__l_quantity,
           cast(sum(CASE WHEN l_quantity IS NOT NULL
                          AND (l_quantity < 0 OR l_quantity > 100)
                     THEN 1 ELSE 0 END) AS BIGINT) AS in_range__l_quantity,
           cast(sum(CASE WHEN l_returnflag IS NOT NULL
                          AND l_returnflag NOT IN ('A','N','R')
                     THEN 1 ELSE 0 END) AS BIGINT) AS accepted_values__l_returnflag,
           cast(sum(CASE WHEN l_linestatus IS NOT NULL
                          AND NOT regexp_matches(l_linestatus, '^[FO]$')
                     THEN 1 ELSE 0 END) AS BIGINT) AS regex__l_linestatus,
           cast(sum(CASE WHEN NOT coalesce(l_discount >= 0 AND l_discount <= 1, TRUE)
                     THEN 1 ELSE 0 END) AS BIGINT) AS cross_column__discount_fraction,
           cast(count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT)
               AS composite_unique__l_orderkey_l_linenumber
    FROM lineitem
    """,
)
def dq_lineitem_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seven rules -> ONE aggregation pass over lineitem (one scan at any
    scale). Mirrors pandera/GE/dbt-test semantics (validator.py:147-218)."""
    return C.run_checks(T(spark, sf_dir, "lineitem"), LINEITEM_RULES)


@query(
    "dq_orders_report",
    oracle="""
    WITH wide AS (
      SELECT count(*) AS n_rows,
             cast(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS v_not_null,
             cast(count(o_orderkey) - count(DISTINCT o_orderkey) AS BIGINT)
                 AS v_unique,
             cast(sum(CASE WHEN o_orderstatus IS NOT NULL
                            AND o_orderstatus NOT IN ('F','O','P')
                       THEN 1 ELSE 0 END) AS BIGINT) AS v_accepted,
             cast(sum(CASE WHEN o_totalprice IS NOT NULL AND o_totalprice < 0
                       THEN 1 ELSE 0 END) AS BIGINT) AS v_range,
             cast(sum(CASE WHEN o_orderpriority IS NOT NULL
                            AND (length(o_orderpriority) < 1
                                 OR length(o_orderpriority) > 20)
                       THEN 1 ELSE 0 END) AS BIGINT) AS v_len
      FROM orders
    )
    SELECT rule, violations, violations = 0 AS passed,
           'breach' AS severity, n_rows FROM (
      SELECT 'not_null__o_orderkey' AS rule, v_not_null AS violations, n_rows FROM wide
      UNION ALL SELECT 'unique__o_orderkey', v_unique, n_rows FROM wide
      UNION ALL SELECT 'accepted_values__o_orderstatus', v_accepted, n_rows FROM wide
      UNION ALL SELECT 'in_range__o_totalprice', v_range, n_rows FROM wide
      UNION ALL SELECT 'str_length__o_orderpriority', v_len, n_rows FROM wide
    )
    """,
)
def dq_orders_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-format rule report {rule, violations, passed, n_rows} — the
    validator.py:63-77 report shape, via one wide pass + stack unpivot."""
    return C.check_report(T(spark, sf_dir, "orders"), ORDERS_RULES)


@query(
    "dq_lineitem_fk_containment",
    oracle="""
    SELECT count(*) AS n_orphans
    FROM lineitem l
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    """,
)
def dq_lineitem_fk_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential integrity lineitem.l_orderkey -> orders (dbt
    relationships test shape) as anti-join + count."""
    orphans = C.referential_violations(
        T(spark, sf_dir, "lineitem"),
        T(spark, sf_dir, "orders"),
        "l_orderkey",
        "o_orderkey",
    )
    return orphans.agg(F.count(F.lit(1)).alias("n_orphans"))


@query(
    "dq_events_freshness",
    oracle="""
    SELECT max(ts) AS max_ts,
           round(date_diff('second', max(ts), TIMESTAMP '2024-01-31 12:00:00')
                 / 60.0, 4) AS lag_minutes,
           CASE
             WHEN date_diff('second', max(ts), TIMESTAMP '2024-01-31 12:00:00')
                  / 60.0 <= 720 THEN 'ok'
             WHEN date_diff('second', max(ts), TIMESTAMP '2024-01-31 12:00:00')
                  / 60.0 <= 900 THEN 'warning'
             ELSE 'breach'
           END AS status
    FROM events
    """,
)
def dq_events_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freshness SLI with ok/warning(1.25x)/breach ladder
    (src/common/freshness.py:15,52-57). The "now" instant is injected as a
    literal so the check is deterministic and oracle-comparable."""
    # whole-second lag (cast long) == DuckDB date_diff('second', ...) — the
    # fractional-seconds double cast would NOT match (SURVEY §7.4 item 9).
    now = F.lit("2024-01-31 12:00:00").cast("timestamp")
    lag_min = (now.cast("long") - F.max("ts").cast("long")) / 60.0
    return (
        T(spark, sf_dir, "events")
        .agg(
            F.max("ts").alias("max_ts"),
            F.round(lag_min, 4).alias("lag_minutes"),
            F.when(lag_min <= 720, "ok")
            .when(lag_min <= 900, "warning")
            .otherwise("breach")
            .alias("status"),
        )
    )


@query(
    "orders_column_profile",
    oracle="""
    WITH s AS (
      SELECT count(*) AS n,
             count(*) - count(o_orderstatus)   AS nn_status,
             count(DISTINCT o_orderstatus)     AS nd_status,
             min(o_orderstatus)                AS mn_status,
             max(o_orderstatus)                AS mx_status,
             count(*) - count(o_orderpriority) AS nn_prio,
             count(DISTINCT o_orderpriority)   AS nd_prio,
             min(o_orderpriority)              AS mn_prio,
             max(o_orderpriority)              AS mx_prio,
             count(*) - count(o_totalprice)    AS nn_price,
             count(DISTINCT o_totalprice)      AS nd_price,
             round(min(o_totalprice), 2)       AS mn_price,
             round(max(o_totalprice), 2)       AS mx_price,
             count(*) - count(o_custkey)       AS nn_cust,
             count(DISTINCT o_custkey)         AS nd_cust,
             CAST(min(o_custkey) AS DOUBLE)    AS mn_cust,
             CAST(max(o_custkey) AS DOUBLE)    AS mx_cust
      FROM orders
    )
    SELECT 'o_orderstatus' AS column_name, cast(n AS BIGINT) AS n_rows,
           cast(nn_status AS BIGINT) AS n_nulls,
           cast(nd_status AS BIGINT) AS n_distinct,
           mn_status AS min_str, mx_status AS max_str,
           CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num
    FROM s
    UNION ALL
    SELECT 'o_orderpriority', cast(n AS BIGINT), cast(nn_prio AS BIGINT),
           cast(nd_prio AS BIGINT), mn_prio, mx_prio,
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
    FROM s
    UNION ALL
    SELECT 'o_totalprice', cast(n AS BIGINT), cast(nn_price AS BIGINT),
           cast(nd_price AS BIGINT), CAST(NULL AS VARCHAR),
           CAST(NULL AS VARCHAR), mn_price, mx_price
    FROM s
    UNION ALL
    SELECT 'o_custkey', cast(n AS BIGINT), cast(nn_cust AS BIGINT),
           cast(nd_cust AS BIGINT), CAST(NULL AS VARCHAR),
           CAST(NULL AS VARCHAR), mn_cust, mx_cust
    FROM s
    """,
)
def orders_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiler — the first thing any data platform runs against
    a new table: per column, row/null/distinct counts and min/max, typed
    (strings keep their lexical extremes, numerics their numeric ones).
    ONE aggregation pass produces every metric; the long-form rows are
    exploded from an array-of-structs literal afterwards, so the table
    is scanned once no matter how many columns are profiled.

    At 100 TB the exact count(DISTINCT) columns (one expand each) become
    approx_count_distinct and the pass stays single-scan; everything
    else is already a plain partial/final aggregate."""
    o = T(spark, sf_dir, "orders")
    nul = lambda c: F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))  # noqa: E731
    agg = o.agg(
        F.count(F.lit(1)).alias("n"),
        nul("o_orderstatus").alias("nn_status"),
        F.countDistinct("o_orderstatus").alias("nd_status"),
        F.min("o_orderstatus").alias("mn_status"),
        F.max("o_orderstatus").alias("mx_status"),
        nul("o_orderpriority").alias("nn_prio"),
        F.countDistinct("o_orderpriority").alias("nd_prio"),
        F.min("o_orderpriority").alias("mn_prio"),
        F.max("o_orderpriority").alias("mx_prio"),
        nul("o_totalprice").alias("nn_price"),
        F.countDistinct("o_totalprice").alias("nd_price"),
        F.round(F.min("o_totalprice"), 2).alias("mn_price"),
        F.round(F.max("o_totalprice"), 2).alias("mx_price"),
        nul("o_custkey").alias("nn_cust"),
        F.countDistinct("o_custkey").alias("nd_cust"),
        F.min("o_custkey").cast("double").alias("mn_cust"),
        F.max("o_custkey").cast("double").alias("mx_cust"),
    )
    null_s = F.lit(None).cast("string")
    null_d = F.lit(None).cast("double")
    row = lambda name, nn, nd, mns, mxs, mnn, mxn: F.struct(  # noqa: E731
        F.lit(name).alias("column_name"),
        F.col("n").cast("long").alias("n_rows"),
        F.col(nn).cast("long").alias("n_nulls"),
        F.col(nd).cast("long").alias("n_distinct"),
        (F.col(mns) if mns else null_s).alias("min_str"),
        (F.col(mxs) if mxs else null_s).alias("max_str"),
        (F.col(mnn) if mnn else null_d).alias("min_num"),
        (F.col(mxn) if mxn else null_d).alias("max_num"),
    )
    return agg.select(
        F.explode(
            F.array(
                row("o_orderstatus", "nn_status", "nd_status",
                    "mn_status", "mx_status", None, None),
                row("o_orderpriority", "nn_prio", "nd_prio",
                    "mn_prio", "mx_prio", None, None),
                row("o_totalprice", "nn_price", "nd_price",
                    None, None, "mn_price", "mx_price"),
                row("o_custkey", "nn_cust", "nd_cust",
                    None, None, "mn_cust", "mx_cust"),
            )
        ).alias("p")
    ).select("p.*")


# --- Functional-dependency discovery ----------------------------------------

_FD_CANDIDATES = [
    # (name, table, lhs, rhs)
    ("customer.c_custkey->c_nationkey", "customer", "c_custkey", "c_nationkey"),
    ("nation.n_nationkey->n_regionkey", "nation", "n_nationkey", "n_regionkey"),
    ("orders.o_custkey->o_orderpriority", "orders", "o_custkey", "o_orderpriority"),
    ("lineitem.l_orderkey->l_returnflag", "lineitem", "l_orderkey", "l_returnflag"),
    ("part.p_brand->p_type", "part", "p_brand", "p_type"),
]


def _fd_oracle_block(name: str, tbl: str, lhs: str, rhs: str) -> str:
    return f"""
    SELECT '{name}' AS fd,
           cast(count(*) AS BIGINT) AS n_groups,
           cast(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS violating_groups,
           cast(max(nd) AS BIGINT) AS max_distinct_rhs,
           floor(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)::DOUBLE
                 / count(*) * 1e6) / 1e6 AS violation_share
    FROM (SELECT {lhs}, count(DISTINCT {rhs}) AS nd
          FROM {tbl} GROUP BY {lhs})
    """


@query(
    "fd_violation_report",
    oracle=" UNION ALL ".join(
        _fd_oracle_block(*c) for c in _FD_CANDIDATES
    ),
)
def fd_violation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency discovery over candidate column pairs: for
    each LHS -> RHS candidate, the share of LHS groups carrying more
    than one distinct RHS value (0 = the FD holds exactly — a key or
    derivable attribute; > 0 quantifies how far it is from holding).
    This is the schema-profiling primitive behind key detection,
    normalization advice, and "is this column safe to denormalize"
    checks — run BEFORE trusting a join to be 1:1.

    Plan: each candidate is one partial/final aggregation on its LHS
    key (count(DISTINCT rhs) per group is Spark's two-phase exact
    distinct), folded to a single summary row, then a 5-row UNION. No
    joins, no windows; at 100 TB each candidate costs one shuffle on
    its own key and the candidates run independently."""
    parts = []
    for name, tbl, lhs, rhs in _FD_CANDIDATES:
        g = (
            T(spark, sf_dir, tbl)
            .groupBy(lhs)
            .agg(F.countDistinct(rhs).alias("nd"))
        )
        parts.append(
            g.agg(
                F.lit(name).alias("fd"),
                F.count(F.lit(1)).cast("long").alias("n_groups"),
                F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
                .cast("long")
                .alias("violating_groups"),
                F.max("nd").cast("long").alias("max_distinct_rhs"),
                (
                    F.floor(
                        F.sum(F.when(F.col("nd") > 1, 1).otherwise(0)).cast(
                            "double"
                        )
                        / F.count(F.lit(1))
                        * 1e6
                    )
                    / 1e6
                ).alias("violation_share"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# --- Privacy audits ----------------------------------------------------------

_K_ANON = 5
_L_DIV = 2


@query(
    "k_anonymity_audit",
    oracle=f"""
    WITH qi AS (
      SELECT c_nationkey AS nation, c_mktsegment AS segment,
             cast(floor(c_acctbal / 1000.0::DOUBLE) AS BIGINT) AS bal_band,
             c_custkey
      FROM customer
    ), g AS (
      SELECT nation, segment, bal_band,
             cast(count(*) AS BIGINT) AS grp_size,
             cast(count(DISTINCT nation) AS BIGINT) AS dummy
      FROM qi GROUP BY 1, 2, 3
    ), sens AS (
      SELECT q.nation, q.segment, q.bal_band,
             cast(count(DISTINCT o.o_orderpriority) AS BIGINT) AS l_distinct
      FROM qi q JOIN orders o ON o.o_custkey = q.c_custkey
      GROUP BY 1, 2, 3
    )
    SELECT cast(count(*) AS BIGINT) AS n_groups,
           cast(sum(CASE WHEN g.grp_size < {_K_ANON} THEN 1 ELSE 0 END)
                AS BIGINT) AS groups_below_k,
           cast(sum(CASE WHEN g.grp_size < {_K_ANON} THEN g.grp_size
                    ELSE 0 END) AS BIGINT) AS rows_reidentifiable,
           cast(min(g.grp_size) AS BIGINT) AS min_group_size,
           cast(sum(CASE WHEN s.l_distinct IS NOT NULL
                          AND s.l_distinct < {_L_DIV} THEN 1 ELSE 0 END)
                AS BIGINT) AS groups_below_l,
           floor(sum(CASE WHEN g.grp_size < {_K_ANON} THEN g.grp_size
                     ELSE 0 END)::DOUBLE
                 / sum(g.grp_size) * 1e6) / 1e6 AS reidentifiable_share
    FROM g LEFT JOIN sens s
      ON s.nation = g.nation AND s.segment = g.segment
     AND s.bal_band = g.bal_band
    """,
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit (Sweeney 2002; Machanavajjhala
    2007) over the quasi-identifier tuple (nation, market segment,
    account-balance band): how many QI groups have fewer than k=5
    members (those rows are re-identifiable by linkage), and how many
    groups carry fewer than l=2 distinct sensitive values (order
    priority) — the release-readiness check that belongs next to the
    PHI redaction battery before any row-level extract leaves the
    platform.

    Plan: one QI groupBy for sizes, one QI-keyed join+distinct for
    l-diversity, folded to a single summary row. At 100 TB both are
    key-shuffled partial/final aggregates; the audit row is scalar."""
    qi = T(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("bal_band"),
        "c_custkey",
    )
    g = qi.groupBy("nation", "segment", "bal_band").agg(
        F.count(F.lit(1)).cast("long").alias("grp_size")
    )
    o = T(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    sens = (
        qi.join(o, qi["c_custkey"] == o["o_custkey"])
        .groupBy("nation", "segment", "bal_band")
        .agg(
            F.countDistinct("o_orderpriority").cast("long").alias("l_distinct")
        )
    )
    j = g.join(
        sens.withColumnRenamed("nation", "n2")
        .withColumnRenamed("segment", "s2")
        .withColumnRenamed("bal_band", "b2"),
        (F.col("nation") == F.col("n2"))
        & (F.col("segment") == F.col("s2"))
        & (F.col("bal_band") == F.col("b2")),
        "left",
    )
    below_k = F.when(F.col("grp_size") < _K_ANON, 1).otherwise(0)
    reid = F.when(F.col("grp_size") < _K_ANON, F.col("grp_size")).otherwise(0)
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum(below_k).cast("long").alias("groups_below_k"),
        F.sum(reid).cast("long").alias("rows_reidentifiable"),
        F.min("grp_size").cast("long").alias("min_group_size"),
        F.sum(
            F.when(
                F.col("l_distinct").isNotNull()
                & (F.col("l_distinct") < _L_DIV),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("groups_below_l"),
        (
            F.floor(
                F.sum(reid).cast("double") / F.sum("grp_size") * 1e6
            )
            / 1e6
        ).alias("reidentifiable_share"),
    )


_DP_EPS = 1.0  # epsilon; Laplace scale b = sensitivity/eps = 1/eps

_DP_HEX8 = (
    "list_sum(list_transform(range(1, 9), k ->"
    " (strpos('0123456789abcdef', substr(md5({x}), k, 1)) - 1)"
    " * (1::BIGINT << (4 * (8 - k)))))"
)


@query(
    "dp_noisy_counts",
    oracle=f"""
    WITH g AS (
      SELECT event_type, cast(count(*) AS BIGINT) AS true_count
      FROM events GROUP BY 1
    ), u AS (
      SELECT event_type, true_count,
             ({_DP_HEX8.format(x="event_type")})::DOUBLE / 4294967296.0 AS uu
      FROM g
    ), n AS (
      SELECT event_type, true_count,
             -(1.0::DOUBLE / {_DP_EPS}) * sign(uu - 0.5::DOUBLE)
               * ln(1.0::DOUBLE - 2.0::DOUBLE * abs(uu - 0.5::DOUBLE))
               AS noise
      FROM u
    )
    SELECT event_type, true_count,
           round(noise, 6) AS noise,
           round(true_count + noise, 6) AS released_count,
           round(abs(noise) / true_count, 6) AS relative_error
    FROM n
    """,
)
def dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private count release (Dwork 2006): per-type event
    counts plus Laplace(1/epsilon) noise via the inverse-CDF transform
    of a deterministic md5 uniform — epsilon=1.0, sensitivity 1
    (one user... one row for the demo; composition and clamping are the
    deployment's job). The noise column is shown next to the truth so
    the utility cost is visible; a production release would emit only
    released_count.

    Determinism is the point of the md5 uniform here: the SAME release
    is reproducible run-to-run (and exactly oracle-checkable) instead
    of resampling noise per query — resampling would let an observer
    average the noise away, the classic DP deployment mistake.

    Plan: one partial/final count, map-side noise arithmetic."""
    g = T(spark, sf_dir, "events").groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("true_count")
    )
    u = (
        F.conv(F.substring(F.md5(F.col("event_type")), 1, 8), 16, 10).cast(
            "double"
        )
        / 4294967296.0
    )
    noise = (
        -(1.0 / _DP_EPS)
        * F.signum(u - 0.5)
        * F.log(F.lit(1.0) - 2.0 * F.abs(u - 0.5))
    )
    return g.select(
        "event_type",
        "true_count",
        F.round(noise, 6).alias("noise"),
        F.round(F.col("true_count") + noise, 6).alias("released_count"),
        F.round(F.abs(noise) / F.col("true_count"), 6).alias(
            "relative_error"
        ),
    )


# --- Wave 62: t-closeness release audit --------------------------------------

_TC_BIN = 1000.0  # acctbal bin width (value-grid-bounded: ~12 bins)
_TC_T = 0.2       # release threshold on ordered EMD


@query(
    "t_closeness_audit",
    oracle=f"""
    WITH b AS (
      SELECT n.n_name AS nation, c.c_mktsegment AS segment,
             cast(floor(c.c_acctbal / {_TC_BIN!r}) AS BIGINT) AS bin
      FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
    ),
    g AS (
      SELECT nation, segment, bin, cast(count(*) AS BIGINT) AS gc
      FROM b GROUP BY 1, 2, 3
    ),
    tot AS (SELECT bin, cast(count(*) AS BIGINT) AS tc FROM b GROUP BY 1),
    n AS (SELECT cast(count(*) AS BIGINT) AS nn FROM b),
    gs AS (
      SELECT nation, segment, cast(sum(gc) AS BIGINT) AS gg
      FROM g GROUP BY 1, 2
    ),
    grid AS (
      SELECT gs.nation, gs.segment, tot.bin, tot.tc, gs.gg, n.nn,
             coalesce(g.gc, 0) AS gc
      FROM gs JOIN tot ON true JOIN n ON true
      LEFT JOIN g ON g.nation = gs.nation AND g.segment = gs.segment
                 AND g.bin = tot.bin
    ),
    cum AS (
      SELECT nation, segment, bin, gg, nn,
             sum(gc::HUGEINT * nn - tc::HUGEINT * gg)
               OVER (PARTITION BY nation, segment ORDER BY bin) AS cd,
             count(*) OVER (PARTITION BY nation, segment) AS nbins
      FROM grid
    )
    SELECT nation, segment,
           cast(max(gg) AS BIGINT) AS n_rows,
           cast(max(nbins) AS BIGINT) AS n_bins,
           floor(sum(abs(cd)) * 1e6
                 / (max(gg)::HUGEINT * max(nn) * (max(nbins) - 1))) / 1e6
             AS emd,
           sum(abs(cd)) * 1e6
             / (max(gg)::HUGEINT * max(nn) * (max(nbins) - 1))
             >= {_TC_T!r} * 1e6 AS violates_t
    FROM cum GROUP BY 1, 2
    """,
)
def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness (Li, Li & Venkatasubramanian 2007) release audit —
    the distributional member of the privacy triad after k-anonymity
    (group sizes) and l-diversity (distinct sensitive values): for each
    quasi-identifier group (nation x market segment), the ordered Earth
    Mover's Distance between the group's account-balance distribution
    and the global one, EMD = sum |cum(p - q)| / (B-1) over the fixed
    value-bin grid. A group whose balance distribution is far from
    global leaks the sensitive attribute even when k and l pass.

    Exactness: the cumulative difference is kept in INTEGER cross-
    multiplied units (gc*N - tc*G, summed in HUGEINT/decimal(38,0)), so
    the bin walk is order-free and exact; ONE division at the end,
    trunc6. The violates_t flag compares in the same integer-scaled
    space. Scale: two corpus rollups (group-bin, bin) then a
    |groups| x |bins| grid — dim-bounded state everywhere."""
    c = T(spark, sf_dir, "customer")
    n = F.broadcast(
        T(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    )
    b = c.join(n, c.c_nationkey == F.col("n_nationkey")).select(
        F.col("n_name").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.floor(F.col("c_acctbal") / F.lit(_TC_BIN)).cast("long").alias("bin"),
    )
    b = b.localCheckpoint()  # feeds group-bin counts, bin totals, N
    g = b.groupBy("nation", "segment", "bin").agg(
        F.count(F.lit(1)).cast("long").alias("gc")
    )
    tot = b.groupBy("bin").agg(F.count(F.lit(1)).cast("long").alias("tc"))
    nn = b.agg(F.count(F.lit(1)).cast("long").alias("nn"))
    gs = g.groupBy("nation", "segment").agg(
        F.sum("gc").cast("long").alias("gg")
    )
    grid = (
        gs.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(nn))
        .join(g, ["nation", "segment", "bin"], "left")
        .select(
            "nation", "segment", "bin", "tc", "gg", "nn",
            F.coalesce("gc", F.lit(0)).alias("gc"),
        )
    )
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    wgrp = Window.partitionBy("nation", "segment")
    cum = grid.select(
        "nation", "segment", "bin", "gg", "nn",
        F.sum(
            dec(F.col("gc")) * dec(F.col("nn"))
            - dec(F.col("tc")) * dec(F.col("gg"))
        ).over(wgrp.orderBy("bin")).alias("cd"),
        F.count(F.lit(1)).over(wgrp).alias("nbins"),
    )
    denom = (
        dec(F.max("gg")) * dec(F.max("nn")) * dec(F.max("nbins") - 1)
    )
    emd_scaled = F.sum(F.abs(F.col("cd"))) * F.lit(1e6)
    return cum.groupBy("nation", "segment").agg(
        F.max("gg").cast("long").alias("n_rows"),
        F.max("nbins").cast("long").alias("n_bins"),
        (F.floor(emd_scaled / denom) / 1e6).alias("emd"),
        (emd_scaled / denom >= F.lit(_TC_T) * 1e6).alias("violates_t"),
    )


# --- Wave 72: multi-window SLO burn rate ------------------------------------------

_SLO_TARGET_PCT = 2  # error budget: 2% of events may be errors
_SLO_WINDOWS = ((1, 14.4), (6, 6.0), (24, 3.0))  # (hours, page threshold)


@query(
    "slo_burn_rate_windows",
    oracle=f"""
    WITH ev AS (
      SELECT epoch_us(ts) // 1000000 AS sec,
             (event_type = 'error') AS is_err
      FROM events
    ),
    mx AS (SELECT max(sec) AS t_max FROM ev),
    w AS (
      SELECT * FROM (VALUES
        {", ".join(f"({h}, {thr!r}::DOUBLE)" for h, thr in _SLO_WINDOWS)}
      ) AS t(window_h, page_thr)
    ),
    c AS (
      SELECT w.window_h, w.page_thr,
             cast(count(*) AS BIGINT) AS n_events,
             cast(sum(CASE WHEN ev.is_err THEN 1 ELSE 0 END) AS BIGINT)
               AS n_errors
      FROM w, ev, mx
      WHERE ev.sec > mx.t_max - w.window_h * 3600
      GROUP BY 1, 2
    )
    SELECT window_h, n_events, n_errors,
           (n_errors * 1000000 // n_events) / 1e6 AS error_rate,
           (n_errors * 100 * 1000000 // ({_SLO_TARGET_PCT} * n_events))
             / 1e6 AS burn_rate,
           ((n_errors * 100 * 1000000 // ({_SLO_TARGET_PCT} * n_events))
              / 1e6 > page_thr) AS page_alert
    FROM c
    """,
)
def slo_burn_rate_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-window SLO error-budget BURN RATE at the corpus horizon —
    the Google-SRE alerting recipe: with a 2% error-rate objective,
    burn = observed_rate / target over trailing 1h / 6h / 24h windows,
    and a page fires when the short window burns faster than 14.4x
    (exhausting a 30-day budget in ~2 days), 6x, or 3x respectively.
    The freshness SLI ladder (dq_events_freshness) says whether data is
    ARRIVING; this says whether the error budget is BURNING — together
    they are the operational pair every on-call dashboard needs.

    Exactness: window membership is integer epoch-second arithmetic
    off the exact max timestamp; rates and burn rates are integer
    cross-multiplied truncations; the page thresholds are identical
    written literals.

    Scale: one fact scan with the horizon predicate, three counters per
    window — at stream time the identical aggregate runs under
    readStream with a sliding window (streaming/)."""
    ev = T(spark, sf_dir, "events").select(
        F.col("ts").cast("long").alias("sec"),
        (F.col("event_type") == "error").alias("is_err"),
    )
    mx = ev.agg(F.max("sec").alias("t_max"))
    one = spark.range(1)
    w = one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(h).alias("window_h"),
                        F.lit(thr).alias("page_thr"),
                    )
                    for h, thr in _SLO_WINDOWS
                ]
            )
        ).alias("w")
    ).select("w.window_h", "w.page_thr")
    c = (
        ev.crossJoin(F.broadcast(mx))
        .crossJoin(F.broadcast(w))
        .filter(F.col("sec") > F.col("t_max") - F.col("window_h") * 3600)
        .groupBy("window_h", "page_thr")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.when(F.col("is_err"), 1).otherwise(0))
            .cast("long")
            .alias("n_errors"),
        )
    )
    burn = (
        F.expr(
            f"n_errors * 100 * 1000000 div ({_SLO_TARGET_PCT} * n_events)"
        )
        / 1e6
    )
    return c.select(
        "window_h",
        "n_events",
        "n_errors",
        (F.expr("n_errors * 1000000 div n_events") / 1e6).alias(
            "error_rate"
        ),
        burn.alias("burn_rate"),
        (burn > F.col("page_thr")).alias("page_alert"),
    )
