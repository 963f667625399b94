"""Relational operator coverage: scans, filters, joins, aggregations,
windows, sorts, set ops, scalar functions.

Each query re-expresses an operator family from SURVEY.md §2 (citations in
each docstring point into /root/reference) on the driver's TPC-H-ish corpus.
Spark side uses the DataFrame API exclusively (Catalyst does pushdown /
pruning / join selection); the oracle is ANSI SQL for DuckDB.

Scale notes are inline: every join states its intended physical strategy at
100 TB (broadcast vs shuffle), every aggregate is partial-final by
construction (Spark hash aggregate).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..catalog import table as T
from ..session import shuffle_partitions
from .registry import query

def _revenue():
    # Revenue expression used by several queries (TPC-H convention).
    # (Built lazily: Column construction needs an active SparkContext.)
    return F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))


# ---------------------------------------------------------------------------
# Aggregations (SURVEY §2.4)
# ---------------------------------------------------------------------------


@query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                              AS sum_qty,
           round(sum(l_extendedprice), 2)                         AS sum_base_price,
           round(sum(l_extendedprice * (1.0 - l_discount)), 2)    AS sum_disc_price,
           round(avg(l_quantity), 6)                              AS avg_qty,
           round(avg(l_extendedprice), 6)                         AS avg_price,
           round(avg(l_discount), 6)                              AS avg_disc,
           count(*)                                               AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: filter -> multi-agg groupBy (partial/final hash agg).

    Mirrors the reference's multi-stat aggregates (analytics/queries.py:58-67)
    at corpus scale. Filter is pushed to the parquet scan; the groupBy keys
    are low-cardinality so the shuffle is tiny regardless of input size.
    """
    l = T(spark, sf_dir, "lineitem")
    return (
        l.filter(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(_revenue()), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "filtered_rate_by_priority",
    oracle="""
    SELECT o.o_orderpriority,
           round(avg(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END), 6)
               AS return_rate,
           count(*) AS n_lines
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def filtered_rate_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered-aggregation rate, the reference's core analytics shape
    (ae_rates_by_arm, analytics/queries.py:24-29): AVG(CASE WHEN ...).

    Join is fact-to-fact on l_orderkey; at 100 TB this is a shuffle join on
    the natural key — both sides would be bucketed by orderkey to avoid it.
    """
    l = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.round(
                F.avg(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)), 6
            ).alias("return_rate"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "multi_stat_by_flag",
    oracle="""
    SELECT l_returnflag,
           round(avg(l_quantity), 6)    AS avg_qty,
           round(stddev(l_quantity), 6) AS std_qty,
           count(l_quantity)            AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def multi_stat_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AVG/STDDEV/COUNT battery (analytics/queries.py:58-67). DuckDB STDDEV
    is the sample stddev == Spark ``stddev`` (SURVEY §7.4 item 3)."""
    return (
        T(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.stddev("l_quantity"), 6).alias("std_qty"),
            F.count("l_quantity").alias("n"),
        )
    )


@query(
    "conditional_sum_battery",
    oracle="""
    SELECT o_orderstatus,
           cast(sum(CASE WHEN o_totalprice > 100000 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_big_orders,
           max(CASE o_orderpriority
                   WHEN '1-URGENT' THEN 5 WHEN '2-HIGH' THEN 4
                   WHEN '3-MEDIUM' THEN 3 WHEN '4-NOT SPECIFIED' THEN 2
                   ELSE 1 END) AS max_priority_rank,
           count(DISTINCT o_custkey) AS n_customers,
           round(sum(o_totalprice), 2) AS total_value
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def conditional_sum_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-sum battery + severity-rank max + COUNT(DISTINCT), the
    int_subject_summary.sql:11-52 shape."""
    rank = (
        F.when(F.col("o_orderpriority") == "1-URGENT", 5)
        .when(F.col("o_orderpriority") == "2-HIGH", 4)
        .when(F.col("o_orderpriority") == "3-MEDIUM", 3)
        .when(F.col("o_orderpriority") == "4-NOT SPECIFIED", 2)
        .otherwise(1)
    )
    return (
        T(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.sum(F.when(F.col("o_totalprice") > 100000, 1).otherwise(0)).alias(
                "n_big_orders"
            ),
            F.max(rank).alias("max_priority_rank"),
            F.countDistinct("o_custkey").alias("n_customers"),
            F.round(F.sum("o_totalprice"), 2).alias("total_value"),
        )
    )


@query(
    "distinct_counts_by_flag",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS n_parts,
           count(DISTINCT l_suppkey) AS n_suppliers,
           count(*) AS n_lines
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def distinct_counts_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT ...) (int_subject_summary.sql:27-38). Spark expands
    multi-distinct into an expand+two-phase agg; at 100 TB prefer
    approx_count_distinct (provided as ``approx_distinct_parts``)."""
    return (
        T(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "median_price_by_priority",
    oracle="""
    SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.5), 4)  AS median_price,
           round(quantile_cont(o_totalprice, 0.9), 4)  AS p90_price
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def median_price_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentile (dim_study_overview.sql:28 uses
    approx_quantile; we compute the exact percentile so the oracle comparison
    is well-defined — SURVEY §7.4 item 8. At 100 TB switch to
    percentile_approx; the exact version shuffles all values per group)."""
    return (
        T(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("median_price"),
            F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90_price"),
        )
    )


@query(
    "acctbal_stats_by_segment",
    oracle="""
    SELECT c_mktsegment,
           round(avg(c_acctbal), 1) AS avg_bal,
           round(min(c_acctbal), 2) AS min_bal,
           round(max(c_acctbal), 2) AS max_bal,
           count(*) AS n_customers
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def acctbal_stats_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """round(avg)/min/max (dim_study_overview.sql:26-29)."""
    return (
        T(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(
            F.round(F.avg("c_acctbal"), 1).alias("avg_bal"),
            F.round(F.min("c_acctbal"), 2).alias("min_bal"),
            F.round(F.max("c_acctbal"), 2).alias("max_bal"),
            F.count(F.lit(1)).alias("n_customers"),
        )
    )


@query(
    "brands_by_type_string_agg",
    oracle="""
    SELECT p_type,
           string_agg(DISTINCT p_brand, ', ' ORDER BY p_brand) AS brands,
           count(DISTINCT p_brand) AS n_brands
    FROM part
    GROUP BY p_type
    """,
)
def brands_by_type_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct string aggregation, canonicalized by sorting on BOTH engines
    (int_subject_summary.sql:50; SURVEY §7.4 item 2: DuckDB's default
    string_agg order is unspecified, so we pin ORDER BY in the oracle and
    sort_array in Spark)."""
    return (
        T(spark, sf_dir, "part")
        .groupBy("p_type")
        .agg(
            F.array_join(F.sort_array(F.collect_set("p_brand")), ", ").alias("brands"),
            F.countDistinct("p_brand").alias("n_brands"),
        )
    )


@query(
    "region_overview_rollup",
    oracle="""
    SELECT r.r_name,
           count(DISTINCT n.n_nationkey)  AS n_nations,
           count(*)                       AS n_customers,
           round(avg(c.c_acctbal), 4)     AS avg_bal,
           round(sum(c.c_acctbal), 2)     AS total_bal,
           cast(sum(CASE WHEN c.c_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_debtors,
           round(avg(CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END), 6)
               AS building_share
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def region_overview_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-corpus rollup to one row per region (dim_study_overview.sql
    shape) through two broadcast dim joins — region/nation are tiny, so the
    plan is scan(customer) + two BroadcastHashJoins + hash agg, no shuffle
    until the final 5-group agg."""
    c = T(spark, sf_dir, "customer")
    n = F.broadcast(T(spark, sf_dir, "nation"))
    r = F.broadcast(T(spark, sf_dir, "region"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.countDistinct("n_nationkey").alias("n_nations"),
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.avg("c_acctbal"), 4).alias("avg_bal"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
            F.sum(F.when(F.col("c_acctbal") < 0, 1).otherwise(0)).alias("n_debtors"),
            F.round(
                F.avg(F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0)), 6
            ).alias("building_share"),
        )
    )


@query(
    "event_type_counts",
    oracle="""
    SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
    FROM events GROUP BY event_type
    """,
)
def event_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """value_counts() shape (ui/dashboard.py:223-268)."""
    return (
        T(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


@query(
    "price_bucket_counts",
    oracle="""
    SELECT CASE WHEN o_totalprice < 50000 THEN 'low'
                WHEN o_totalprice < 150000 THEN 'mid'
                WHEN o_totalprice < 300000 THEN 'high'
                ELSE 'vhigh' END AS bucket,
           count(*) AS n,
           round(avg(o_totalprice), 4) AS avg_price
    FROM orders
    GROUP BY 1
    """,
)
def price_bucket_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binning + count (pd.cut shape, ui/dashboard.py:262-268) as a when()
    ladder — stays inside whole-stage codegen, unlike a Bucketizer UDF."""
    bucket = (
        F.when(F.col("o_totalprice") < 50000, "low")
        .when(F.col("o_totalprice") < 150000, "mid")
        .when(F.col("o_totalprice") < 300000, "high")
        .otherwise("vhigh")
    )
    return (
        T(spark, sf_dir, "orders")
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
        )
    )


@query(
    "pivot_user_event_values",
    oracle="""
    SELECT user_id,
           round(avg(value) FILTER (event_type = 'click'), 6)    AS click,
           round(avg(value) FILTER (event_type = 'error'), 6)    AS error,
           round(avg(value) FILTER (event_type = 'purchase'), 6) AS purchase,
           round(avg(value) FILTER (event_type = 'signup'), 6)   AS signup,
           round(avg(value) FILTER (event_type = 'view'), 6)     AS view
    FROM events
    GROUP BY user_id
    """,
)
def pivot_user_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot / crosstab (df.stat.crosstab shape, analytics/stats_utils.py:26-41)
    with explicit pivot values (avoids the extra distinct-values job)."""
    piv = (
        T(spark, sf_dir, "events")
        .groupBy("user_id")
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .agg(F.avg("value"))
    )
    return piv.select(
        "user_id",
        *[F.round(F.col(c), 6).alias(c) for c in ["click", "error", "purchase", "signup", "view"]],
    )


# ---------------------------------------------------------------------------
# Joins (SURVEY §2.3)
# ---------------------------------------------------------------------------


@query(
    "q3_unshipped_revenue_topk",
    oracle="""
    SELECT l.l_orderkey,
           round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 2) AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
      AND l.l_shipdate > TIMESTAMP '1998-01-01'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
)
def q3_unshipped_revenue_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter -> fact joins -> agg -> top-k.
    orderBy().limit() compiles to TakeOrderedAndProject (true top-k, no full
    sort). Customer side is broadcast after the segment filter; the
    lineitem/orders join shuffles on orderkey (bucket both at 100 TB)."""
    c = T(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = T(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    l = T(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(_revenue()), 2).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@query(
    "q5_revenue_by_nation",
    oracle="""
    SELECT n.n_name,
           round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    """,
)
def q5_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join with a compound join condition
    (supplier nation == customer nation). All dims broadcast; the only
    shuffle is lineitem⋈orders on orderkey plus the final tiny agg."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    l = T(spark, sf_dir, "lineitem")
    # supplier is DATA-SIZED (SFx10k rows): no hint, AQE decides
    s = T(spark, sf_dir, "supplier")
    n = F.broadcast(T(spark, sf_dir, "nation"))
    r = F.broadcast(T(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(_revenue()), 2).alias("revenue"))
    )


@query(
    "customer_order_fanin",
    oracle="""
    WITH ord AS (
      SELECT o_custkey, count(*) AS n_orders,
             round(sum(o_totalprice), 2) AS total_spend
      FROM orders GROUP BY o_custkey
    ), li AS (
      SELECT o.o_custkey, count(*) AS n_lines
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_custkey
    )
    SELECT c.c_custkey, c.c_mktsegment,
           cast(coalesce(ord.n_orders, 0) AS BIGINT)   AS n_orders,
           round(coalesce(ord.total_spend, 0.0), 2)    AS total_spend,
           cast(coalesce(li.n_lines, 0) AS BIGINT)     AS n_lines
    FROM customer c
    LEFT JOIN ord ON ord.o_custkey = c.c_custkey
    LEFT JOIN li  ON li.o_custkey  = c.c_custkey
    """,
)
def customer_order_fanin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-join fan-in of aggregated facts onto a dim with coalesce-to-zero
    defaults — the int_subject_summary.sql:118-122 / feature_eng.py:38-41
    shape (dim ← N aggregated fact summaries). NULL-vs-NaN parity trap
    (SURVEY §7.4 item 5) handled with coalesce on both engines."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders")
    l = T(spark, sf_dir, "lineitem")
    ord_agg = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_spend"),
    )
    li_agg = (
        l.join(o.select("o_orderkey", "o_custkey"), l.l_orderkey == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_lines"))
    )
    return (
        c.join(ord_agg, c.c_custkey == ord_agg.o_custkey, "left")
        .drop("o_custkey")
        .join(li_agg, c.c_custkey == li_agg.o_custkey, "left")
        .select(
            "c_custkey",
            "c_mktsegment",
            F.coalesce(F.col("n_orders"), F.lit(0)).alias("n_orders"),
            F.round(F.coalesce(F.col("total_spend"), F.lit(0.0)), 2).alias(
                "total_spend"
            ),
            F.coalesce(F.col("n_lines"), F.lit(0)).alias("n_lines"),
        )
    )


@query(
    "orphan_orders_anti_join",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey
    FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    """,
)
def orphan_orders_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity probe as a left-anti join (dbt relationships
    test shape, sources.yml). Expected empty; the anti join IS the violation
    set. Parent side broadcast when it fits."""
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "left_anti").select(
        "o_orderkey", "o_custkey"
    )


@query(
    "active_customers_semi_join",
    oracle="""
    SELECT c.c_custkey, c.c_mktsegment
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def active_customers_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (FK containment probe, test_public_cdm_smoke.py:101-103)."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_mktsegment"
    )


# ---------------------------------------------------------------------------
# Window functions (SURVEY §2.5)
# ---------------------------------------------------------------------------


@query(
    "running_event_count",
    oracle="""
    SELECT event_id, user_id,
           cast(count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS running_cnt
    FROM events
    """,
)
def running_event_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative count per entity (sql/performance_examples.sql:8-11).
    Deterministic tie-break on event_id added on both engines — the
    reference's ORDER BY ae_start alone is nondeterministic under ties."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        T(spark, sf_dir, "events")
        .select("event_id", "user_id", F.count(F.lit(1)).over(w).alias("running_cnt"))
    )


@query(
    "customer_surrogate_keys",
    oracle="""
    SELECT row_number() OVER (ORDER BY c_custkey) AS customer_sk,
           c_custkey, c_name
    FROM customer
    """,
)
def customer_surrogate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROW_NUMBER surrogate key with an imposed deterministic order —
    the reference's `ROW_NUMBER() OVER ()` (warehouse/loaders.py:31) is
    nondeterministic by spec (SURVEY §7.4 item 1). Global window is
    acceptable for dim-sized inputs only; use hash_surrogate_keys for facts.
    """
    w = Window.orderBy("c_custkey")
    return (
        T(spark, sf_dir, "customer")
        .select(F.row_number().over(w).alias("customer_sk"), "c_custkey", "c_name")
    )


@query(
    "segment_nation_share",
    oracle="""
    SELECT c_mktsegment, c_nationkey, count(*) AS n,
           round(count(*) * 100.0 /
                 sum(count(*)) OVER (PARTITION BY c_mktsegment), 6) AS pct_of_segment
    FROM customer
    GROUP BY c_mktsegment, c_nationkey
    """,
)
def segment_nation_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-group: window over an aggregate (warehouse_ddl.sql:247)."""
    w = Window.partitionBy("c_mktsegment")
    grouped = (
        T(spark, sf_dir, "customer")
        .groupBy("c_mktsegment", "c_nationkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return grouped.select(
        "c_mktsegment",
        "c_nationkey",
        "n",
        F.round(F.col("n") * 100.0 / F.sum("n").over(w), 6).alias("pct_of_segment"),
    )


@query(
    "hash_surrogate_keys",
    oracle="""
    SELECT c_custkey,
           md5(concat_ws('-', coalesce(c_name, '_null_'),
                              coalesce(cast(c_nationkey AS VARCHAR), '_null_')))
               AS customer_hk
    FROM customer
    """,
)
def hash_surrogate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash surrogate key (dbt_utils.generate_surrogate_key,
    fact_subject_outcomes.sql:19) — the scale-safe alternative to W2: no
    global window, embarrassingly parallel."""
    return (
        T(spark, sf_dir, "customer")
        .select(
            "c_custkey",
            F.md5(
                F.concat_ws(
                    "-",
                    F.coalesce(F.col("c_name"), F.lit("_null_")),
                    F.coalesce(F.col("c_nationkey").cast("string"), F.lit("_null_")),
                )
            ).alias("customer_hk"),
        )
    )


# ---------------------------------------------------------------------------
# Sorts / limits / distinct / set ops (SURVEY §2.6)
# ---------------------------------------------------------------------------


@query(
    "priority_custom_sort",
    oracle="""
    SELECT o_orderpriority,
           CASE o_orderpriority
                WHEN '1-URGENT' THEN 1 WHEN '2-HIGH' THEN 2
                WHEN '3-MEDIUM' THEN 3 ELSE 4 END AS sort_rank,
           count(*) AS n
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY sort_rank
    """,
)
def priority_custom_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE-rank custom sort key (quality-tier ordering, warehouse_ddl.sql:262-268)."""
    rank = (
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .when(F.col("o_orderpriority") == "2-HIGH", 2)
        .when(F.col("o_orderpriority") == "3-MEDIUM", 3)
        .otherwise(4)
    )
    return (
        T(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("o_orderpriority", rank.alias("sort_rank"), "n")
        .orderBy("sort_rank")
    )


@query(
    "distinct_segment_nation",
    oracle="SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
)
def distinct_segment_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT projection (stg_subjects.sql:5-11)."""
    return T(spark, sf_dir, "customer").select("c_mktsegment", "c_nationkey").distinct()


@query(
    "union_all_flag_slices",
    oracle="""
    SELECT slice, count(*) AS n, round(sum(l_quantity), 2) AS total_qty
    FROM (
      SELECT 'returned' AS slice, l_quantity FROM lineitem WHERE l_returnflag = 'R'
      UNION ALL
      SELECT 'accepted' AS slice, l_quantity FROM lineitem WHERE l_returnflag = 'A'
    )
    GROUP BY slice
    """,
)
def union_all_flag_slices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL of two filtered slices then aggregate (chunk-concat shape,
    ingest_csv.py:109). unionByName keeps the plan schema-safe."""
    l = T(spark, sf_dir, "lineitem")
    returned = l.filter(F.col("l_returnflag") == "R").select(
        F.lit("returned").alias("slice"), "l_quantity"
    )
    accepted = l.filter(F.col("l_returnflag") == "A").select(
        F.lit("accepted").alias("slice"), "l_quantity"
    )
    return (
        returned.unionByName(accepted)
        .groupBy("slice")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("total_qty"),
        )
    )


@query(
    "orders_page_2",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus
    FROM orders ORDER BY o_orderkey OFFSET 100 LIMIT 50
    """,
)
def orders_page_2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offset+limit pagination over a deterministic order (api/endpoints.py:
    372-390). Spark ≥3.4 has a native offset operator."""
    return (
        T(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus")
        .orderBy("o_orderkey")
        .offset(100)
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Scalar function families (SURVEY §2.7)
# ---------------------------------------------------------------------------


@query(
    "acctbal_tier_ladder",
    oracle="""
    SELECT CASE WHEN c_acctbal < 0 THEN 'DEBT'
                WHEN c_acctbal < 2000 THEN 'LOW'
                WHEN c_acctbal < 6000 THEN 'MID'
                ELSE 'HIGH' END AS tier,
           count(*) AS n,
           round(avg(c_acctbal), 4) AS avg_bal
    FROM customer
    GROUP BY 1
    """,
)
def acctbal_tier_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE-WHEN ladder (age_group, stg_demographics.sql:19-24)."""
    tier = (
        F.when(F.col("c_acctbal") < 0, "DEBT")
        .when(F.col("c_acctbal") < 2000, "LOW")
        .when(F.col("c_acctbal") < 6000, "MID")
        .otherwise("HIGH")
    )
    return (
        T(spark, sf_dir, "customer")
        .groupBy(tier.alias("tier"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("c_acctbal"), 4).alias("avg_bal"),
        )
    )


@query(
    "part_string_functions",
    oracle="""
    SELECT p_partkey,
           upper(p_name)                                        AS name_upper,
           lower(p_brand)                                       AS brand_lower,
           (p_type LIKE '%IUM%')                                AS is_ium,
           regexp_matches(p_name, '^[a-z]+ ')                   AS starts_with_word,
           concat_ws('/', p_brand, p_type)                      AS brand_type,
           'PART-' || lpad(cast(p_partkey AS VARCHAR), 8, '0')  AS part_code,
           length(p_name)                                       AS name_len,
           substr(p_name, 1, 5)                                 AS name_prefix
    FROM part
    """,
)
def part_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function battery: upper/lower/LIKE/rlike/concat_ws/lpad/
    length/substr (stg_laboratory.sql:14, stg_exposure.sql:33-34,
    pandera_schemas.py:24)."""
    p = T(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.lower("p_brand").alias("brand_lower"),
        F.col("p_type").like("%IUM%").alias("is_ium"),
        F.col("p_name").rlike("^[a-z]+ ").alias("starts_with_word"),
        F.concat_ws("/", "p_brand", "p_type").alias("brand_type"),
        F.concat(
            F.lit("PART-"), F.lpad(F.col("p_partkey").cast("string"), 8, "0")
        ).alias("part_code"),
        F.length("p_name").alias("name_len"),
        F.substring("p_name", 1, 5).alias("name_prefix"),
    )


@query(
    "order_date_functions",
    oracle="""
    SELECT o_orderkey,
           cast(year(o_orderdate)  AS INTEGER)  AS order_year,
           cast(month(o_orderdate) AS INTEGER)  AS order_month,
           cast(day(o_orderdate)   AS INTEGER)  AS order_dom,
           cast(date_diff('day', DATE '1995-01-01', cast(o_orderdate AS DATE))
                AS INTEGER)                      AS days_since_epoch_start,
           strftime(cast(o_orderdate AS DATE) + 30, '%Y-%m-%d') AS due_date
    FROM orders
    """,
)
def order_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date battery: year/month/day-of-month extraction, date_diff,
    date arithmetic. NB DATE_PART('day', ts) in the reference
    (analytics/queries.py:21) is day-of-month — dayofmonth here, not
    epoch-days (SURVEY §7.4 item 7)."""
    o = T(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofmonth("o_orderdate").alias("order_dom"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date"))
        .alias("days_since_epoch_start"),
        # DATE surfaces as pandas object vs DuckDB's datetime64 — emit the
        # ISO string on both engines for a type-stable comparison.
        F.date_format(F.date_add(F.col("o_orderdate").cast("date"), 30), "yyyy-MM-dd")
        .alias("due_date"),
    )


@query(
    "customer_risk_score",
    oracle="""
    SELECT c_custkey,
           round(1.0 / (1.0 + exp(-((c_acctbal - 5000.0) / 1000.0))), 6) AS risk,
           CASE WHEN abs((c_acctbal - 5000.0) / 1000.0) > 1.0 THEN 'high'
                WHEN abs((c_acctbal - 5000.0) / 1000.0) > 0.5 THEN 'medium'
                ELSE 'low' END AS confidence,
           round(sqrt(abs(c_acctbal)), 6) AS bal_sqrt,
           round(pow(c_acctbal / 1000.0, 2), 6) AS bal_sq
    FROM customer
    """,
)
def customer_risk_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form logistic scoring with confidence tiers on |z|
    (api/main.py:176-180) plus math battery (exp/sqrt/abs/pow)."""
    z = (F.col("c_acctbal") - 5000.0) / 1000.0
    risk = 1.0 / (1.0 + F.exp(-z))
    return T(spark, sf_dir, "customer").select(
        "c_custkey",
        F.round(risk, 6).alias("risk"),
        F.when(F.abs(z) > 1.0, "high")
        .when(F.abs(z) > 0.5, "medium")
        .otherwise("low")
        .alias("confidence"),
        F.round(F.sqrt(F.abs(F.col("c_acctbal"))), 6).alias("bal_sqrt"),
        F.round(F.pow(F.col("c_acctbal") / 1000.0, 2), 6).alias("bal_sq"),
    )


@query(
    "customer_tokenization",
    oracle="""
    SELECT c_custkey,
           md5(c_name)                        AS name_md5,
           sha256('pepper-' || c_name)        AS name_sha256_salted
    FROM customer
    """,
)
def customer_tokenization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted-hash PII tokenization (security/phi_redaction.py:10-15):
    sha2(salt||value) + md5 — both JVM builtins, no UDF."""
    return T(spark, sf_dir, "customer").select(
        "c_custkey",
        F.md5("c_name").alias("name_md5"),
        F.sha2(F.concat(F.lit("pepper-"), F.col("c_name")), 256).alias(
            "name_sha256_salted"
        ),
    )


# ---------------------------------------------------------------------------
# Additional relational coverage (round 1, wave 2)
# ---------------------------------------------------------------------------


@query(
    "q6_revenue_delta",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue_delta,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-aggregate — the pushdown showcase
    (all four predicates reach the parquet reader; no shuffle at all)."""
    l = T(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue_delta"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "corr_quantity_price",
    oracle="""
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 6)       AS qty_price_corr,
           round(covar_samp(l_quantity, l_extendedprice), 4) AS qty_price_cov,
           count(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def corr_quantity_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation + sample covariance per group (both engines use
    sample semantics for corr/covar_samp)."""
    return (
        T(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias(
                "qty_price_cov"
            ),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "event_lag_lead_rank",
    oracle="""
    SELECT event_id, user_id,
           round(lag(value)  OVER w, 6) AS prev_value,
           round(lead(value) OVER w, 6) AS next_value,
           cast(rank()       OVER v AS BIGINT) AS value_rank,
           cast(ntile(4)     OVER w AS INTEGER) AS time_quartile
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
           v AS (PARTITION BY user_id ORDER BY value DESC, event_id)
    """,
)
def event_lag_lead_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead/rank/ntile battery (beyond the reference's window usage;
    all orderings carry an event_id tie-break for determinism)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    v = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return T(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.round(F.lag("value").over(w), 6).alias("prev_value"),
        F.round(F.lead("value").over(w), 6).alias("next_value"),
        F.rank().over(v).cast("long").alias("value_rank"),
        F.ntile(4).over(w).alias("time_quartile"),
    )


@query(
    "unpivot_part_metrics",
    oracle="""
    SELECT p_partkey, 'size' AS metric, cast(p_size AS DOUBLE) AS value FROM part
    UNION ALL
    SELECT p_partkey, 'retailprice' AS metric, p_retailprice AS value FROM part
    """,
)
def unpivot_part_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) wide metrics to long form — Spark's native unpivot
    operator; the oracle spells it as UNION ALL."""
    p = T(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_size").cast("double").alias("size"),
        F.col("p_retailprice").alias("retailprice"),
    )
    return p.unpivot("p_partkey", ["size", "retailprice"], "metric", "value")


@query(
    "sql_api_status_summary",
    oracle="""
    SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS total
    FROM orders GROUP BY o_orderstatus
    """,
)
def sql_api_status_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The spark.sql() surface over registered temp views (SURVEY §3.2:
    Catalyst parse->analyze->optimize->execute on a SQL string)."""
    from ..catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS total
        FROM orders GROUP BY o_orderstatus
        """
    )


@query(
    "q7_volume_shipping",
    oracle="""
    SELECT supp_nation, cust_nation, l_year,
           round(sum(volume), 2) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             cast(year(l.l_shipdate) AS INTEGER) AS l_year,
             l.l_extendedprice * (1.0 - l.l_discount) AS volume
      FROM supplier s
      JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
      WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
         OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3')
    )
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume by year — disjunctive
    cross-nation predicate over a 6-way join, dims broadcast."""
    # supplier/customer are DATA-SIZED: no hints, AQE decides per-SF
    s = T(spark, sf_dir, "supplier")
    l = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    n1 = F.broadcast(T(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    ))
    n2 = F.broadcast(T(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    ))
    pair = (
        (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_8")
    ) | ((F.col("supp_nation") == "NATION_8") & (F.col("cust_nation") == "NATION_3"))
    return (
        l.join(s, l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n1, s.s_nationkey == F.col("n1_key"))
        .join(n2, c.c_nationkey == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(F.round(F.sum(_revenue()), 2).alias("revenue"))
    )


@query(
    "q10_returned_items",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name,
           round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 2) AS revenue,
           round(c.c_acctbal, 2) AS acctbal
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name, c.c_acctbal
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue ranking — selective fact
    filters, 4-way join, grouped agg, top-20 (TakeOrderedAndProject)."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    l = T(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = F.broadcast(T(spark, sf_dir, "nation"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(F.round(F.sum(_revenue()), 2).alias("revenue"))
        .select(
            "c_custkey", "c_name", "n_name", "revenue",
            F.round("c_acctbal", 2).alias("acctbal"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "q13_customer_order_distribution",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey
    )
    GROUP BY c_count
    """,
)
def q13_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: left-outer join preserving zero-order customers,
    then a histogram of per-customer counts (two-level aggregation)."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "cheapest_supplier_per_part",
    oracle="""
    SELECT l_partkey, l_suppkey, round(l_extendedprice, 2) AS best_price
    FROM (
      SELECT l_partkey, l_suppkey, l_extendedprice,
             row_number() OVER (PARTITION BY l_partkey
                                ORDER BY l_extendedprice, l_suppkey,
                                         l_orderkey, l_linenumber) AS rn
      FROM lineitem
    ) WHERE rn = 1
    """,
)
def cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2's argmin shape: the row achieving the per-group minimum
    (window row_number with a full deterministic tie-break — the engine-
    portable form of min_by)."""
    w = Window.partitionBy("l_partkey").orderBy(
        "l_extendedprice", "l_suppkey", "l_orderkey", "l_linenumber"
    )
    return (
        T(spark, sf_dir, "lineitem")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "l_partkey",
            "l_suppkey",
            F.round("l_extendedprice", 2).alias("best_price"),
        )
    )


@query(
    "q17_small_quantity_revenue",
    oracle="""
    SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly,
           count(*) AS n_lines
    FROM lineitem l
    JOIN (
      SELECT l_partkey, 0.5 * avg(l_quantity) AS half_avg_qty
      FROM lineitem GROUP BY l_partkey
    ) p ON l.l_partkey = p.l_partkey
    WHERE l.l_quantity < p.half_avg_qty
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar subquery (per-part average
    quantity) decorrelated into an aggregate + self-join — exactly the
    rewrite Catalyst performs for the SQL form; expressed directly so the
    plan is explicit (one shuffle on partkey)."""
    l = T(spark, sf_dir, "lineitem")
    part_avg = l.groupBy(F.col("l_partkey").alias("pk")).agg(
        (0.5 * F.avg("l_quantity")).alias("half_avg_qty")
    )
    return (
        l.join(part_avg, l.l_partkey == F.col("pk"))
        .filter(F.col("l_quantity") < F.col("half_avg_qty"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "q14_promo_revenue_share",
    oracle="""
    SELECT round(100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                                  THEN l.l_extendedprice * (1.0 - l.l_discount)
                                  ELSE 0.0 END)
                 / sum(l.l_extendedprice * (1.0 - l.l_discount)), 6) AS promo_share,
           count(*) AS n_lines
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate <  TIMESTAMP '1997-04-01'
    """,
)
def q14_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-sum ratio over a broadcast dim join."""
    l = T(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    # part is DATA-SIZED (SFx200k rows): no hint, AQE decides per-SF
    p = T(spark, sf_dir, "part")
    rev = _revenue()
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .agg(
            F.round(100.0 * F.sum(promo) / F.sum(rev), 6).alias("promo_share"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "q19_disjunctive_revenue",
    oracle="""
    SELECT round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 2) AS revenue,
           count(*) AS n_lines
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 1 AND l.l_quantity <= 30)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity >= 5 AND l.l_quantity <= 40)
       OR (p.p_type = 'ECONOMY' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity >= 10 AND l.l_quantity <= 50)
    """,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: three-way disjunctive compound predicate across
    both join sides — Catalyst extracts the common l_partkey equi-condition
    and keeps the disjunction as a post-join filter."""
    l = T(spark, sf_dir, "lineitem")
    # part is DATA-SIZED (SFx200k rows): no hint, AQE decides per-SF
    p = T(spark, sf_dir, "part")
    q = F.col("l_quantity")
    sz = F.col("p_size")
    cond = (
        ((F.col("p_brand") == "Brand#1") & sz.between(1, 15) & q.between(1, 30))
        | ((F.col("p_brand") == "Brand#2") & sz.between(1, 25) & q.between(5, 40))
        | ((F.col("p_type") == "ECONOMY") & sz.between(1, 35) & q.between(10, 50))
    )
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            F.round(F.sum(_revenue()), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "sql_api_window_cte",
    oracle="""
    WITH cust_orders AS (
      SELECT c.c_custkey, c.c_mktsegment, o.o_orderkey, o.o_totalprice,
             row_number() OVER (PARTITION BY c.c_custkey
                                ORDER BY o.o_totalprice DESC, o.o_orderkey) AS rn
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    )
    SELECT c_mktsegment,
           count(*) AS n_top_orders,
           round(sum(o_totalprice), 2) AS top_order_value,
           round(avg(o_totalprice), 4) AS avg_top_order
    FROM cust_orders WHERE rn <= 2
    GROUP BY c_mktsegment
    """,
)
def sql_api_window_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full SQL surface: CTE + window + join + agg through spark.sql —
    Catalyst's parser/analyzer path on a nontrivial statement (the same
    string runs verbatim on DuckDB as its own oracle)."""
    from ..catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH cust_orders AS (
          SELECT c.c_custkey, c.c_mktsegment, o.o_orderkey, o.o_totalprice,
                 row_number() OVER (PARTITION BY c.c_custkey
                                    ORDER BY o.o_totalprice DESC, o.o_orderkey) AS rn
          FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        )
        SELECT c_mktsegment,
               count(*) AS n_top_orders,
               round(sum(o_totalprice), 2) AS top_order_value,
               round(avg(o_totalprice), 4) AS avg_top_order
        FROM cust_orders WHERE rn <= 2
        GROUP BY c_mktsegment
        """
    )


@query(
    "q4_order_priority_check",
    oracle="""
    SELECT o.o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-07-01'
      AND o.o_orderdate <  TIMESTAMP '1996-10-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
      )
    GROUP BY o.o_orderpriority
    """,
)
def q4_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS with a correlated inequality — expressed as a
    left-semi join carrying the non-equi condition (Spark plans the equi
    part as the join key and the inequality as the join filter)."""
    o = T(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    l = T(spark, sf_dir, "lineitem")
    return (
        o.join(
            l,
            (o.o_orderkey == l.l_orderkey) & (l.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "q12_priority_shipmode",
    oracle="""
    SELECT l.l_linestatus,
           cast(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           cast(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY l.l_linestatus
    """,
)
def q12_priority_shipmode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: priority-bucketed conditional counts over a date
    slice of the fact join."""
    o = T(spark, sf_dir, "orders")
    l = T(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "q15_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: compare each group against a GLOBAL aggregate of
    the same derived table (scalar subquery -> broadcast single-row cross
    join; rounding the revenue on both sides keeps the equality exact)."""
    l = T(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    revenue = l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.round(F.sum(_revenue()), 2).alias("total_revenue")
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    # supplier is DATA-SIZED (SFx10k rows): no hint, AQE decides
    s = T(spark, sf_dir, "supplier")
    return (
        revenue.crossJoin(F.broadcast(max_rev))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(s, F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "q22_idle_customers",
    oracle="""
    WITH positive AS (
      SELECT avg(c_acctbal) AS avg_bal FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c.c_nationkey,
           count(*) AS numcust,
           round(sum(c.c_acctbal), 2) AS totacctbal
    FROM customer c, positive p
    WHERE c.c_acctbal > p.avg_bal
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 300000)
    GROUP BY c.c_nationkey
    """,
)
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar-subquery threshold (above-average balance)
    AND a conditional anti-join (no BIG order — every customer in this
    corpus has some order, so the plain NOT EXISTS would be empty) feeding
    a grouped rollup."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


@query(
    "grouping_sets_revenue",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           grouping(o_orderstatus) AS g_status,
           grouping(o_orderpriority) AS g_priority,
           count(*) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                            (o_orderstatus), (o_orderpriority))
    """,
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (finer control than rollup/cube — the three
    marts the reference materializes separately in
    analytics/dbt/models/warehouse/*.sql collapse into ONE scan + ONE
    partial-final aggregation). grouping() disambiguates the NULL that
    marks 'aggregated over' from a NULL data value — required for exact
    oracle parity on the superaggregate rows."""
    from ..catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               grouping(o_orderstatus) AS g_status,
               grouping(o_orderpriority) AS g_priority,
               count(*) AS n,
               round(sum(o_totalprice), 2) AS total
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), (o_orderpriority))
        """
    )


@query(
    "iqr_outliers_by_priority",
    oracle="""
    WITH q AS (
      SELECT o_orderpriority,
             quantile_cont(o_totalprice, 0.25) AS q1,
             quantile_cont(o_totalprice, 0.75) AS q3
      FROM orders GROUP BY 1
    )
    SELECT o.o_orderpriority,
           cast(sum(CASE WHEN o.o_totalprice < q.q1 - 1.5 * (q.q3 - q.q1)
                           OR o.o_totalprice > q.q3 + 1.5 * (q.q3 - q.q1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           count(*) AS n
    FROM orders o JOIN q USING (o_orderpriority)
    GROUP BY 1
    """,
)
def iqr_outliers_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier counting per group: exact interpolated quartiles
    (one aggregation), broadcast back onto the fact (the quartile table is
    |groups|-sized at any scale), then a conditional count in a second
    pass. Both engines compute type-7 interpolated quantiles on identical
    doubles, so the fences are bit-equal and the strict comparisons cannot
    straddle."""
    o = T(spark, sf_dir, "orders")
    q = o.groupBy("o_orderpriority").agg(
        F.percentile("o_totalprice", F.lit(0.25)).alias("q1"),
        F.percentile("o_totalprice", F.lit(0.75)).alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    out = (F.col("o_totalprice") < F.col("q1") - 1.5 * iqr) | (
        F.col("o_totalprice") > F.col("q3") + 1.5 * iqr
    )
    return (
        o.join(F.broadcast(q), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.sum(out.cast("int")).cast("long").alias("n_outliers"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# --- SCD2 dimension maintenance ----------------------------------------------


@query(
    "scd2_customer_dim",
    oracle="""
    WITH v AS (
      SELECT c_custkey, c_mktsegment AS seg,
             TIMESTAMP '1994-01-01' AS valid_from,
             CASE WHEN c_custkey % 10 = 0 THEN TIMESTAMP '1995-01-01'
                  ELSE TIMESTAMP '2200-01-01' END AS valid_to,
             (c_custkey % 10 <> 0) AS is_current
      FROM customer
      UNION ALL
      SELECT c_custkey, 'RESHUFFLED', TIMESTAMP '1995-01-01',
             CASE WHEN c_custkey % 20 = 0 THEN TIMESTAMP '1996-01-01'
                  ELSE TIMESTAMP '2200-01-01' END,
             (c_custkey % 20 <> 0)
      FROM customer WHERE c_custkey % 10 = 0
      UNION ALL
      SELECT c_custkey, 'VIP', TIMESTAMP '1996-01-01',
             TIMESTAMP '2200-01-01', TRUE
      FROM customer WHERE c_custkey % 20 = 0
    )
    SELECT seg, valid_from, valid_to, is_current,
           cast(count(*) AS BIGINT) AS n_rows,
           cast(min(c_custkey) AS BIGINT) AS min_key,
           cast(max(c_custkey) AS BIGINT) AS max_key
    FROM v
    GROUP BY seg, valid_from, valid_to, is_current
    """,
)
def scd2_customer_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing customer dimension driven through two
    deterministic update batches (operators/scd.py apply_scd2 — the
    parquet-era MERGE INTO): a 1994 bootstrap, a 1995 batch rewriting
    the segment of every custkey % 10 == 0, and a 1996 batch promoting
    custkey % 20 == 0 to 'VIP'. The oracle constructs the expected
    version history directly, so close/insert semantics (valid_from /
    valid_to fencing, is_current flips, twice-changed keys carrying
    three versions) are value-verified end to end.

    Plan: each merge is one shuffle on the business key (join + union of
    unchanged/closed/new slices); output is the version table aggregated
    by (segment, validity window). At warehouse scale the dimension is
    partitioned by is_current so the merge rewrites only the current
    slice, and the history partition is append-only."""
    return _scd2_demo_dim(spark, sf_dir).groupBy(
        F.col("c_mktsegment").alias("seg"),
        "valid_from",
        "valid_to",
        "is_current",
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("c_custkey").alias("min_key"),
        F.max("c_custkey").alias("max_key"),
    )


def _scd2_demo_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic 3-version customer dimension shared by
    scd2_customer_dim (which audits the version history) and
    pit_orders_segment_revenue (which joins facts against it)."""
    from ..operators.scd import apply_scd2, init_scd2

    base = T(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    dim = init_scd2(base, "c_custkey", "1994-01-01 00:00:00")
    u1 = base.filter(F.col("c_custkey") % 10 == 0).select(
        "c_custkey", F.lit("RESHUFFLED").alias("c_mktsegment")
    )
    # localCheckpoint between batches stands in for the parquet write a
    # real dimension does after each merge — without it the second merge
    # re-expands the first's whole join lineage.
    dim = apply_scd2(
        dim, u1, "c_custkey", ["c_mktsegment"], "1995-01-01 00:00:00"
    ).localCheckpoint()
    u2 = base.filter(F.col("c_custkey") % 20 == 0).select(
        "c_custkey", F.lit("VIP").alias("c_mktsegment")
    )
    return apply_scd2(
        dim, u2, "c_custkey", ["c_mktsegment"], "1996-01-01 00:00:00"
    )


# The same expected version table the scd2_customer_dim oracle builds,
# exposed as a CTE body for oracles that JOIN against the dimension.
_SCD2_DEMO_DIM_SQL = """
      SELECT c_custkey, c_mktsegment AS seg,
             TIMESTAMP '1994-01-01' AS valid_from,
             CASE WHEN c_custkey % 10 = 0 THEN TIMESTAMP '1995-01-01'
                  ELSE TIMESTAMP '2200-01-01' END AS valid_to
      FROM customer
      UNION ALL
      SELECT c_custkey, 'RESHUFFLED', TIMESTAMP '1995-01-01',
             CASE WHEN c_custkey % 20 = 0 THEN TIMESTAMP '1996-01-01'
                  ELSE TIMESTAMP '2200-01-01' END
      FROM customer WHERE c_custkey % 10 = 0
      UNION ALL
      SELECT c_custkey, 'VIP', TIMESTAMP '1996-01-01',
             TIMESTAMP '2200-01-01'
      FROM customer WHERE c_custkey % 20 = 0
"""


@query(
    "pit_orders_segment_revenue",
    oracle=f"""
    WITH v AS ({_SCD2_DEMO_DIM_SQL})
    SELECT v.seg, year(o.o_orderdate) AS order_year,
           cast(count(*) AS BIGINT) AS n_orders,
           round(sum(o.o_totalprice), 2) AS revenue
    FROM orders o
    JOIN v ON v.c_custkey = o.o_custkey
          AND o.o_orderdate::TIMESTAMP >= v.valid_from
          AND o.o_orderdate::TIMESTAMP < v.valid_to
    GROUP BY v.seg, year(o.o_orderdate)
    """,
)
def pit_orders_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension lookup — the feature-store correctness
    pattern: every order joins the customer-segment VERSION that was
    effective on its order date (valid_from <= o_orderdate < valid_to),
    never the current one, so 1994 orders aggregate under the 1994
    segment even for customers later reshuffled or promoted. Skipping
    this temporal fencing is exactly how training pipelines leak future
    attributes into historical examples.

    Plan: the SCD2 intervals partition time per key, so the join is a
    plain equi-join on the business key with the interval predicate as
    a post-join filter — one shuffle, no range-join blowup (each fact
    matches exactly one version). At warehouse scale the dimension side
    is orders of magnitude smaller than the fact side and broadcasts;
    revenue rolls up per (segment-version, order year)."""
    dim = _scd2_demo_dim(spark, sf_dir).select(
        "c_custkey",
        F.col("c_mktsegment").alias("seg"),
        "valid_from",
        "valid_to",
    )
    o = T(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    ts = F.col("o_orderdate").cast("timestamp")
    return (
        # the SCD2 dim is customer-sized (DATA-SIZED): no hint, the
        # equi component (custkey) drives an ordinary hash/SMJ at scale
        o.join(
            dim,
            (F.col("o_custkey") == F.col("c_custkey"))
            & (ts >= F.col("valid_from"))
            & (ts < F.col("valid_to")),
        )
        .groupBy("seg", F.year("o_orderdate").alias("order_year"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


# Deterministic "next snapshot" of orders used by snapshot_diff_report:
# o_orderkey % 97 rows deleted, % 89 rows mutated (status -> 'X',
# totalprice + 10), % 101 rows duplicated under fresh negative keys.
_SNAPSHOT_B_SQL = """
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 89 = 0 THEN 'X'
                  ELSE o_orderstatus END AS o_orderstatus,
             CASE WHEN o_orderkey % 89 = 0 THEN o_totalprice + 10.0
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 97 <> 0
      UNION ALL
      SELECT -o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 101 = 0
"""


@query(
    "snapshot_diff_report",
    oracle=f"""
    WITH a AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    ),
    b AS ({_SNAPSHOT_B_SQL}),
    d AS (
      SELECT CASE WHEN a.o_orderkey IS NULL THEN 'added'
                  WHEN b.o_orderkey IS NULL THEN 'removed'
                  WHEN a.o_orderstatus <> b.o_orderstatus
                       OR a.o_totalprice <> b.o_totalprice THEN 'changed'
                  ELSE 'unchanged' END AS status,
             CASE WHEN a.o_orderkey IS NOT NULL AND b.o_orderkey IS NOT NULL
                       AND a.o_orderstatus <> b.o_orderstatus
                  THEN 1 ELSE 0 END AS status_chg,
             CASE WHEN a.o_orderkey IS NOT NULL AND b.o_orderkey IS NOT NULL
                       AND a.o_totalprice <> b.o_totalprice
                  THEN 1 ELSE 0 END AS price_chg
      FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
    )
    SELECT status, cast(count(*) AS BIGINT) AS n_rows,
           cast(sum(status_chg) AS BIGINT) AS n_status_changed,
           cast(sum(price_chg) AS BIGINT) AS n_price_changed
    FROM d GROUP BY status
    """,
)
def snapshot_diff_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation / CDC derivation: full-outer join two
    table versions on the business key and classify every key as
    added / removed / changed / unchanged, with per-column change
    counts — the diff report a warehouse runs before promoting a new
    load (and the change feed an incremental downstream would consume).
    The "next" snapshot is a deterministic mutation of orders (delete
    %97, mutate %89, insert %101 under fresh keys) so the oracle
    constructs the identical pair.

    Plan: ONE full-outer shuffle on the key; the column comparison is a
    map-side expression after the join — no per-column joins, no
    row-by-row driver diffing. At warehouse scale both sides bucket on
    the key so the join is exchange-free, and the 'unchanged' class is
    skipped early by comparing content hashes pushed into the join."""
    a = T(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    keep = a.filter(F.col("o_orderkey") % 97 != 0)
    b = (
        keep.select(
            "o_orderkey",
            F.when(F.col("o_orderkey") % 89 == 0, "X")
            .otherwise(F.col("o_orderstatus"))
            .alias("o_orderstatus"),
            F.when(
                F.col("o_orderkey") % 89 == 0, F.col("o_totalprice") + 10.0
            )
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
        )
        .unionByName(
            a.filter(F.col("o_orderkey") % 101 == 0).select(
                (-F.col("o_orderkey")).alias("o_orderkey"),
                "o_orderstatus",
                "o_totalprice",
            )
        )
    )
    al, bl = a.alias("a"), b.alias("b")
    j = al.join(
        bl, F.col("a.o_orderkey") == F.col("b.o_orderkey"), "full_outer"
    )
    both = (
        F.col("a.o_orderkey").isNotNull() & F.col("b.o_orderkey").isNotNull()
    )
    status_chg = both & (
        F.col("a.o_orderstatus") != F.col("b.o_orderstatus")
    )
    price_chg = both & (F.col("a.o_totalprice") != F.col("b.o_totalprice"))
    status = (
        F.when(F.col("a.o_orderkey").isNull(), "added")
        .when(F.col("b.o_orderkey").isNull(), "removed")
        .when(status_chg | price_chg, "changed")
        .otherwise("unchanged")
    )
    return (
        j.select(
            status.alias("status"),
            status_chg.cast("int").alias("status_chg"),
            price_chg.cast("int").alias("price_chg"),
        )
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("status_chg").cast("long").alias("n_status_changed"),
            F.sum("price_chg").cast("long").alias("n_price_changed"),
        )
    )


@query(
    "quantity_weighted_median_price",
    oracle="""
    WITH pp AS (
      SELECT l_returnflag, l_extendedprice AS price,
             sum(l_quantity) AS w
      FROM lineitem GROUP BY 1, 2
    ),
    c AS (
      SELECT l_returnflag, price, w,
             sum(w) OVER (PARTITION BY l_returnflag ORDER BY price) AS cw,
             sum(w) OVER (PARTITION BY l_returnflag) AS tw
      FROM pp
    )
    SELECT l_returnflag,
           round(min(CASE WHEN cw >= tw / 2.0::DOUBLE THEN price END), 2)
             AS weighted_median_price,
           round(max(tw), 2) AS total_quantity
    FROM c GROUP BY l_returnflag
    """,
)
def quantity_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-WEIGHTED median price per return flag — the median where
    each price counts proportionally to the quantity sold at it (the
    metric behind volume-weighted SLAs and fair-price baselines, which a
    plain median misstates whenever cheap items dominate row counts but
    not volume).

    Two-phase distributed EXACT algorithm (the oracle states the naive
    single-window form; the values are identical):

    1. LOCATE — weights roll up into integer-price bins
       (floor(price)), so the cumulative-weight window runs over a
       table bounded by the PRICE RANGE (~100k bins), never by row
       count, and the per-flag window task stays KB-sized at any data
       scale. The bin where the running weight first crosses half the
       total weight must contain the weighted median.
    2. RESOLVE — only rows falling in that one bin per flag (a
       broadcast semi-filter) are re-aggregated per distinct price;
       the bin's incoming cumulative offset seats the local cumsum so
       `offset + local_cw >= tw/2` picks the exact global answer.

    Exactness across plans: quantities are integral, so every cumsum
    is an exactly-representable double regardless of partial-agg order,
    and tw/2.0 is a power-of-two divide — the crossing comparison can
    never flip on float association. A naive Window.partitionBy(flag)
    over raw rows would put a third of the table on one task at 100 TB;
    here phase 1 is bounded state and phase 2 touches one bin."""
    li = T(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_extendedprice").alias("price"),
        "l_quantity",
    )
    bins = li.groupBy(
        "l_returnflag", F.floor("price").alias("bin")
    ).agg(F.sum("l_quantity").alias("w"))
    wb = Window.partitionBy("l_returnflag").orderBy("bin")
    wt = Window.partitionBy("l_returnflag")
    c = bins.select(
        "l_returnflag",
        "bin",
        "w",
        F.sum("w").over(wb).alias("cw_end"),
        F.sum("w").over(wt).alias("tw"),
    ).withColumn("cw_start", F.col("cw_end") - F.col("w"))
    med_bin = c.filter(
        (F.col("cw_end") >= F.col("tw") / 2.0)
        & (F.col("cw_start") < F.col("tw") / 2.0)
    ).select("l_returnflag", "bin", "cw_start", "tw")
    inbin = (
        li.alias("r")
        .join(
            F.broadcast(med_bin.alias("m")),
            on=[
                F.col("r.l_returnflag") == F.col("m.l_returnflag"),
                F.floor(F.col("r.price")) == F.col("m.bin"),
            ],
        )
        .select(
            F.col("m.l_returnflag").alias("l_returnflag"),
            F.col("r.price").alias("price"),
            F.col("r.l_quantity").alias("l_quantity"),
            "cw_start",
            "tw",
        )
    )
    pp = inbin.groupBy("l_returnflag", "price", "cw_start", "tw").agg(
        F.sum("l_quantity").alias("w")
    )
    wp = Window.partitionBy("l_returnflag").orderBy("price")
    resolved = pp.select(
        "l_returnflag",
        "price",
        "tw",
        (F.col("cw_start") + F.sum("w").over(wp)).alias("cw"),
    )
    return resolved.groupBy("l_returnflag").agg(
        F.round(
            F.min(
                F.when(F.col("cw") >= F.col("tw") / 2.0, F.col("price"))
            ),
            2,
        ).alias("weighted_median_price"),
        F.round(F.max("tw"), 2).alias("total_quantity"),
    )


@query(
    "item_item_cosine_recs",
    oracle="""
    WITH cb AS (
      SELECT DISTINCT o.o_custkey AS cust, p.p_brand AS brand
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN part p   ON p.p_partkey = l.l_partkey
    ), deg AS (
      SELECT brand, cast(count(*) AS BIGINT) AS n FROM cb GROUP BY 1
    ), co AS (
      SELECT a.brand AS brand_a, b.brand AS brand_b,
             cast(count(*) AS BIGINT) AS n_both
      FROM cb a JOIN cb b ON a.cust = b.cust AND a.brand < b.brand
      GROUP BY 1, 2
    ), sc AS (
      SELECT co.brand_a, co.brand_b, co.n_both, da.n AS n_a, db.n AS n_b,
             floor(co.n_both::DOUBLE
                   / sqrt(da.n::DOUBLE * db.n::DOUBLE) * 1e6) / 1e6
               AS cosine
      FROM co
      JOIN deg da ON da.brand = co.brand_a
      JOIN deg db ON db.brand = co.brand_b
    )
    SELECT brand_a, brand_b, n_both, n_a, n_b, cosine
    FROM sc ORDER BY cosine DESC, brand_a, brand_b LIMIT 20
    """,
)
def item_item_cosine_recs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering over the binary customer-brand
    purchase matrix: cosine similarity co(a,b)/sqrt(n_a n_b) between
    brands from shared-customer co-occurrence, top-20 pairs — the
    "customers who bought X also bought Y" primitive (Sarwar et al.
    2001), next to part_pair_lift's within-basket association.

    Plan: the distinct (customer, brand) matrix is the only corpus-
    scale state; co-occurrence is a self equi-join on the CUSTOMER key
    (fan-out bounded by a customer's distinct-brand count, never by the
    catalog), degrees broadcast back, TakeOrdered(20) on the trunc6'd
    score. Cosine is a ratio of exact integer counts, so the score —
    and the tie-broken ranking — is engine-stable.

    At 100 TB: cap per-customer brand lists (frequency cap like the
    shingle paths) so a crawler account cannot quadratically explode;
    the brand-pair state is |brands|^2-bounded."""
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # part is DATA-SIZED (SFx200k rows): no hint, AQE decides per-SF
    p = T(spark, sf_dir, "part").select("p_partkey", "p_brand")
    parallelism = shuffle_partitions(spark)
    # r9: AQE coalesced the distinct to ONE partition and the checkpoint
    # froze that layout, so the co-occurrence self-join expansion (the
    # query's main cost) streamed through the broadcast join on one
    # core. Fan out on the self-join key BEFORE the checkpoint (guide
    # §2.5); exact counts + trunc6 + total-order sort keep the result
    # layout-independent.
    cb = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(p, li["l_partkey"] == F.col("p_partkey"))
        .select(
            F.col("o_custkey").alias("cust"), F.col("p_brand").alias("brand")
        )
        .distinct()
        .repartition(parallelism, "cust")
        .localCheckpoint()
    )
    deg = cb.groupBy("brand").agg(F.count(F.lit(1)).cast("long").alias("n"))
    a = cb.select("cust", F.col("brand").alias("brand_a"))
    b = cb.select(F.col("cust").alias("cust_b"), F.col("brand").alias("brand_b"))
    co = (
        a.join(
            b,
            (F.col("cust") == F.col("cust_b"))
            & (F.col("brand_a") < F.col("brand_b")),
        )
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    da = F.broadcast(deg.select(F.col("brand").alias("ba"), F.col("n").alias("n_a")))
    db = F.broadcast(deg.select(F.col("brand").alias("bb"), F.col("n").alias("n_b")))
    sc = (
        co.join(da, F.col("brand_a") == F.col("ba"))
        .join(db, F.col("brand_b") == F.col("bb"))
        .select(
            "brand_a",
            "brand_b",
            "n_both",
            "n_a",
            "n_b",
            (
                F.floor(
                    F.col("n_both").cast("double")
                    / F.sqrt(F.col("n_a").cast("double") * F.col("n_b"))
                    * 1e6
                )
                / 1e6
            ).alias("cosine"),
        )
    )
    return sc.orderBy(
        F.desc("cosine"), F.asc("brand_a"), F.asc("brand_b")
    ).limit(20)


@query(
    "revenue_mix_decomposition",
    oracle="""
    WITH b AS (
      SELECT p.p_brand AS brand,
             CASE WHEN l.l_shipdate < TIMESTAMP '1996-01-01' THEN 0
                  ELSE 1 END AS period,
             sum(l.l_extendedprice * (1.0 - l.l_discount)) AS rev,
             sum(l.l_quantity) AS qty
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2
    ), w AS (
      SELECT brand,
             max(CASE WHEN period = 0 THEN rev END) AS rev0,
             max(CASE WHEN period = 1 THEN rev END) AS rev1,
             max(CASE WHEN period = 0 THEN qty END) AS qty0,
             max(CASE WHEN period = 1 THEN qty END) AS qty1
      FROM b GROUP BY brand
    )
    SELECT brand,
           round(coalesce(rev0, 0.0::DOUBLE), 2) AS rev0,
           round(coalesce(rev1, 0.0::DOUBLE), 2) AS rev1,
           CASE WHEN rev0 IS NULL THEN 'new'
                WHEN rev1 IS NULL THEN 'discontinued'
                ELSE 'continuing' END AS status,
           round(CASE WHEN rev0 IS NOT NULL AND rev1 IS NOT NULL
                 THEN (qty1 - qty0) * (rev0 / qty0) ELSE 0.0::DOUBLE END, 2)
             AS volume_effect,
           round(CASE WHEN rev0 IS NOT NULL AND rev1 IS NOT NULL
                 THEN qty1 * (rev1 / qty1 - rev0 / qty0)
                 ELSE 0.0::DOUBLE END, 2) AS price_effect,
           round(CASE WHEN rev0 IS NULL THEN rev1
                      WHEN rev1 IS NULL THEN -rev0
                      ELSE 0.0::DOUBLE END, 2) AS mix_effect
    FROM w
    """,
)
def revenue_mix_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price/volume/mix decomposition of the period-over-period revenue
    change per brand — the BI bridge chart: for continuing brands,
    volume effect = Δqty x old unit price and price effect = new qty x
    Δunit price (these two sum EXACTLY to ΔRev, no residual, by the
    Laspeyres-quantity/Paasche-price split); brands present in only one
    period land in the mix column. Every effect column sums to the
    total revenue bridge.

    Plan: ONE fact scan aggregated by (brand, period), pivoted by
    conditional MAX over the |brands| x 2 table, map-side effect
    arithmetic. At 100 TB: one shuffle on brand, then brand-table
    math."""
    li = T(spark, sf_dir, "lineitem")
    # part is DATA-SIZED (SFx200k rows): no hint, AQE decides per-SF
    p = T(spark, sf_dir, "part").select("p_partkey", "p_brand")
    b = (
        li.join(p, li["l_partkey"] == F.col("p_partkey"))
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.when(
                F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"), 0
            )
            .otherwise(1)
            .alias("period"),
        )
        .agg(
            F.sum(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
            ).alias("rev"),
            F.sum("l_quantity").alias("qty"),
        )
    )
    w = b.groupBy("brand").agg(
        F.max(F.when(F.col("period") == 0, F.col("rev"))).alias("rev0"),
        F.max(F.when(F.col("period") == 1, F.col("rev"))).alias("rev1"),
        F.max(F.when(F.col("period") == 0, F.col("qty"))).alias("qty0"),
        F.max(F.when(F.col("period") == 1, F.col("qty"))).alias("qty1"),
    )
    cont = F.col("rev0").isNotNull() & F.col("rev1").isNotNull()
    p0 = F.col("rev0") / F.col("qty0")
    p1 = F.col("rev1") / F.col("qty1")
    return w.select(
        "brand",
        F.round(F.coalesce("rev0", F.lit(0.0)), 2).alias("rev0"),
        F.round(F.coalesce("rev1", F.lit(0.0)), 2).alias("rev1"),
        F.when(F.col("rev0").isNull(), "new")
        .when(F.col("rev1").isNull(), "discontinued")
        .otherwise("continuing")
        .alias("status"),
        F.round(
            F.when(cont, (F.col("qty1") - F.col("qty0")) * p0).otherwise(0.0),
            2,
        ).alias("volume_effect"),
        F.round(
            F.when(cont, F.col("qty1") * (p1 - p0)).otherwise(0.0), 2
        ).alias("price_effect"),
        F.round(
            F.when(F.col("rev0").isNull(), F.col("rev1"))
            .when(F.col("rev1").isNull(), -F.col("rev0"))
            .otherwise(0.0),
            2,
        ).alias("mix_effect"),
    )


@query(
    "daily_open_orders_curve",
    oracle="""
    WITH iv AS (
      SELECT o.o_orderkey,
             cast(o.o_orderdate AS DATE) AS start_day,
             greatest(cast(o.o_orderdate AS DATE),
                      cast(max(l.l_shipdate) AS DATE)) AS close_day
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2
    ), bounds AS (
      SELECT min(start_day) AS d0, max(close_day) AS d1 FROM iv
    ), days AS (
      SELECT cast(unnest(generate_series(d0::TIMESTAMP, d1::TIMESTAMP,
                                         INTERVAL 1 DAY)) AS DATE) AS day
      FROM bounds
    ), starts AS (
      SELECT start_day AS day, cast(count(*) AS BIGINT) AS n_start
      FROM iv GROUP BY 1
    ), ends AS (
      SELECT close_day + INTERVAL 1 DAY AS rel_day,
             cast(count(*) AS BIGINT) AS n_close
      FROM iv GROUP BY 1
    ), merged AS (
      SELECT days.day,
             coalesce(n_start, 0) AS n_start,
             coalesce(n_close, 0) AS n_released
      FROM days
      LEFT JOIN starts ON starts.day = days.day
      LEFT JOIN ends ON ends.rel_day::DATE = days.day
    )
    SELECT day::TIMESTAMP AS day, n_start, n_released,
           cast(sum(n_start - n_released)
                OVER (ORDER BY day) AS BIGINT) AS open_orders
    FROM merged
    """,
)
def daily_open_orders_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-concurrency curve by the sweep-line / event-boundary
    trick: each order is "open" from o_orderdate through its last
    lineitem shipdate inclusive; instead of joining every day against
    every overlapping interval (a range join that degenerates
    quadratic), intervals fold to +1 at start_day and -1 the day after
    close_day, and the open count is one cumulative sum over the
    DAY-bounded series. The corpus-scale work is a single per-order
    aggregate; the window state is bounded by the calendar span, never
    the order count — the same state argument as the KM life table.

    The day grid comes from one sequence() off the global min/max so
    gap days report their carry-forward concurrency exactly."""
    o = T(spark, sf_dir, "orders")
    l = T(spark, sf_dir, "lineitem")
    iv = (
        o.join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            "o_orderkey", F.to_date("o_orderdate").alias("start_day")
        )
        .agg(
            # the synthetic corpus has shipdates before orderdates;
            # clamp so every interval is well-formed (open >= 1 day)
            F.greatest(
                F.to_date(F.first("o_orderdate")),
                F.to_date(F.max("l_shipdate")),
            ).alias("close_day")
        )
    )
    bounds = iv.agg(
        F.min("start_day").alias("d0"), F.max("close_day").alias("d1")
    )
    days = bounds.select(
        F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("day")
    )
    starts = iv.groupBy(F.col("start_day").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n_start")
    )
    ends = iv.groupBy(
        F.date_add(F.col("close_day"), 1).alias("rel_day")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_close"))
    merged = (
        days.join(starts, "day", "left")
        .join(ends, days.day == ends.rel_day, "left")
        .select(
            "day",
            F.coalesce("n_start", F.lit(0)).alias("n_start"),
            F.coalesce("n_close", F.lit(0)).alias("n_released"),
        )
    )
    return merged.select(
        F.col("day").cast("timestamp").alias("day"),
        "n_start",
        "n_released",
        F.sum(F.col("n_start") - F.col("n_released"))
        .over(Window.orderBy("day"))
        .cast("long")
        .alias("open_orders"),
    )


# --- Recommendation evaluation (precision@k / NDCG@k) ------------------------

# DCG position weights 1/log2(pos+1) and ideal-DCG prefix sums, pinned
# as 17-digit literals on BOTH engines so no log evaluation happens in
# the scored path (the power_sample_size_plan z-quantile discipline).
_DCG_W = {1: "1.0", 2: "0.6309297535714574", 3: "0.5"}
_IDCG = {1: "1.0", 2: "1.6309297535714574", 3: "2.1309297535714574"}


@query(
    "rec_eval_precision_ndcg",
    oracle=f"""
    WITH cb AS MATERIALIZED (
      SELECT DISTINCT o.o_custkey AS cust, p.p_brand AS brand
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN part p   ON p.p_partkey = l.l_partkey
    ),
    train AS MATERIALIZED (SELECT * FROM cb WHERE cust % 2 = 0),
    test  AS MATERIALIZED (SELECT * FROM cb WHERE cust % 2 = 1),
    deg AS (SELECT brand, count(*) AS n FROM train GROUP BY 1),
    co AS (
      SELECT a.brand AS ba, b.brand AS bb, count(*) AS n_both
      FROM train a JOIN train b
        ON a.cust = b.cust AND a.brand <> b.brand
      GROUP BY 1, 2
    ),
    sc AS (
      SELECT co.ba, co.bb,
             floor(co.n_both::DOUBLE
                   / sqrt(da.n::DOUBLE * db.n::DOUBLE) * 1e6) / 1e6
               AS cosine
      FROM co
      JOIN deg da ON da.brand = co.ba
      JOIN deg db ON db.brand = co.bb
    ),
    recs AS MATERIALIZED (
      SELECT ba AS anchor, bb AS rec, pos FROM (
        SELECT ba, bb, cosine,
               row_number() OVER (
                 PARTITION BY ba ORDER BY cosine DESC, bb ASC
               ) AS pos
        FROM sc
      ) WHERE pos <= 3
    ),
    cnt AS (SELECT cust, count(*) AS n_brands FROM test GROUP BY 1),
    evals AS MATERIALIZED (
      SELECT t.cust, t.brand AS anchor,
             least(c.n_brands - 1, 3) AS k_ideal
      FROM test t
      JOIN cnt c ON c.cust = t.cust
      WHERE c.n_brands >= 2
        AND t.brand IN (SELECT DISTINCT anchor FROM recs)
    ),
    hits AS (
      SELECT e.cust, e.anchor, r.pos
      FROM evals e
      JOIN recs r ON r.anchor = e.anchor
      JOIN test h ON h.cust = e.cust AND h.brand = r.rec
    ),
    per_eval AS (
      SELECT e.cust, e.anchor, e.k_ideal,
             coalesce(h.n_hits, 0) AS n_hits,
             coalesce(h.dcg, 0.0::DOUBLE) AS dcg
      FROM evals e
      LEFT JOIN (
        SELECT cust, anchor, count(*) AS n_hits,
               sum(CASE pos WHEN 1 THEN {_DCG_W[1]}::DOUBLE
                            WHEN 2 THEN {_DCG_W[2]}::DOUBLE
                            ELSE {_DCG_W[3]}::DOUBLE END) AS dcg
        FROM hits GROUP BY 1, 2
      ) h ON h.cust = e.cust AND h.anchor = e.anchor
    )
    SELECT anchor,
           cast(count(*) AS BIGINT) AS n_evals,
           floor(sum(n_hits)::DOUBLE / (3 * count(*))::DOUBLE * 1e6) / 1e6
             AS precision_at_3,
           floor(sum(dcg / CASE k_ideal WHEN 1 THEN {_IDCG[1]}::DOUBLE
                                        WHEN 2 THEN {_IDCG[2]}::DOUBLE
                                        ELSE {_IDCG[3]}::DOUBLE END)
                 / count(*)::DOUBLE * 1e6) / 1e6 AS ndcg_at_3
    FROM per_eval GROUP BY anchor
    """,
)
def rec_eval_precision_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline recommender evaluation with a real train/test protocol:
    item-item cosine neighbors are fit on EVEN customers only, then for
    every odd-customer (customer, anchor-brand) pair the anchor's top-3
    recommendations are scored against the brands that customer
    actually bought — precision@3 and NDCG@3 per anchor brand. This is
    the evaluation half the recsys operators were missing: the leakage
    discipline (disjoint train/eval users) mirrors
    grouped_fold_assignment, and the metric table is what an offline
    experiment reports before an online test.

    All counts are exact integers; DCG position weights 1/log2(pos+1)
    and the ideal-DCG prefix sums are 17-digit PINNED LITERALS on both
    engines (no log evaluated anywhere in the scored path), so every
    per-eval DCG/IDCG ratio is bit-identical and only the final
    per-anchor means need the trunc6. Plan: the co-occurrence self-join
    is customer-key-bounded (item_item_cosine_recs' shape), recs are a
    |brands|x3 broadcast, and evaluation is two keyed joins — nothing
    scales beyond the basket matrix."""
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # part is DATA-SIZED (SFx200k rows): no hint, AQE decides per-SF
    p = T(spark, sf_dir, "part").select("p_partkey", "p_brand")
    parallelism = shuffle_partitions(spark)
    # r9: same single-partition-checkpoint fix as item_item_cosine_recs
    # (see that function's comment) — the train-side co-occurrence
    # self-join (~2.7M-row expansion at sf0.1) ran on one core.
    cb = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(p, li["l_partkey"] == F.col("p_partkey"))
        .select(
            F.col("o_custkey").alias("cust"), F.col("p_brand").alias("brand")
        )
        .distinct()
        .repartition(parallelism, "cust")
        .localCheckpoint()
    )
    train = cb.filter(F.col("cust") % 2 == 0)
    test = cb.filter(F.col("cust") % 2 == 1).localCheckpoint()
    deg = train.groupBy("brand").agg(F.count(F.lit(1)).alias("n"))
    a = train.select("cust", F.col("brand").alias("ba"))
    b = train.select(
        F.col("cust").alias("cust_b"), F.col("brand").alias("bb")
    )
    co = (
        a.join(
            b,
            (F.col("cust") == F.col("cust_b"))
            & (F.col("ba") != F.col("bb")),
        )
        .groupBy("ba", "bb")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    sc = (
        co.join(
            F.broadcast(
                deg.select(F.col("brand").alias("ba"), F.col("n").alias("n_a"))
            ),
            "ba",
        )
        .join(
            F.broadcast(
                deg.select(F.col("brand").alias("bb"), F.col("n").alias("n_b"))
            ),
            "bb",
        )
        .select(
            "ba",
            "bb",
            (
                F.floor(
                    F.col("n_both").cast("double")
                    / F.sqrt(F.col("n_a").cast("double") * F.col("n_b"))
                    * 1e6
                )
                / 1e6
            ).alias("cosine"),
        )
    )
    pos = F.row_number().over(
        Window.partitionBy("ba").orderBy(F.col("cosine").desc(), F.col("bb"))
    )
    recs = (
        sc.withColumn("pos", pos)
        .filter(F.col("pos") <= 3)
        .select(F.col("ba").alias("anchor"), F.col("bb").alias("rec"), "pos")
        .localCheckpoint()
    )
    cnt = test.groupBy("cust").agg(F.count(F.lit(1)).alias("n_brands"))
    evals = (
        test.join(cnt, "cust")
        .filter(F.col("n_brands") >= 2)
        .join(
            F.broadcast(recs.select("anchor").distinct()),
            test.brand == F.col("anchor"),
        )
        .select(
            "cust",
            F.col("anchor"),
            F.least(F.col("n_brands") - 1, F.lit(3)).alias("k_ideal"),
        )
    )
    w1, w2, w3 = (float(_DCG_W[i]) for i in (1, 2, 3))
    hits = (
        evals.join(F.broadcast(recs), "anchor")
        .join(
            test.select(
                F.col("cust").alias("hc"), F.col("brand").alias("hb")
            ),
            (F.col("cust") == F.col("hc")) & (F.col("hb") == F.col("rec")),
        )
        .groupBy("cust", "anchor")
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.sum(
                F.when(F.col("pos") == 1, w1)
                .when(F.col("pos") == 2, w2)
                .otherwise(w3)
            ).alias("dcg"),
        )
    )
    i1, i2, i3 = (float(_IDCG[i]) for i in (1, 2, 3))
    per_eval = evals.join(hits, ["cust", "anchor"], "left").select(
        "anchor",
        F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
        F.coalesce("dcg", F.lit(0.0)).alias("dcg"),
        F.when(F.col("k_ideal") == 1, i1)
        .when(F.col("k_ideal") == 2, i2)
        .otherwise(i3)
        .alias("idcg"),
    )
    trunc6 = lambda c: F.floor(c * 1e6) / 1e6  # noqa: E731
    return per_eval.groupBy("anchor").agg(
        F.count(F.lit(1)).cast("long").alias("n_evals"),
        trunc6(
            F.sum("n_hits").cast("double")
            / (3 * F.count(F.lit(1))).cast("double")
        ).alias("precision_at_3"),
        trunc6(
            F.sum(F.col("dcg") / F.col("idcg"))
            / F.count(F.lit(1)).cast("double")
        ).alias("ndcg_at_3"),
    )


# --- Wave 54: newsvendor stock quantiles ------------------------------------------

_NV_CRITICAL = 0.8  # critical ratio cu/(cu+co)


@query(
    "newsvendor_stock_levels",
    oracle=f"""
    WITH d AS (
      SELECT p.p_brand AS brand,
             cast(l.l_shipdate AS DATE) AS day,
             cast(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS demand
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1, 2
    ),
    r AS (
      SELECT brand, demand,
             row_number() OVER (PARTITION BY brand
                                ORDER BY demand, day) AS rn,
             count(*) OVER (PARTITION BY brand) AS nd
      FROM d
    ),
    tot AS (
      SELECT brand,
             cast(max(nd) AS BIGINT) AS n_days,
             cast(sum(demand) AS BIGINT) AS total
      FROM r GROUP BY 1
    )
    SELECT r.brand, tot.n_days,
           floor(tot.total * 1e6 / tot.n_days) / 1e6 AS mean_daily_demand,
           cast(r.demand AS BIGINT) AS stock_p80
    FROM r JOIN tot ON tot.brand = r.brand
    WHERE r.rn = least(cast(ceil({_NV_CRITICAL}::DOUBLE * (tot.n_days + 1))
                            AS BIGINT), tot.n_days)
    """,
)
def newsvendor_stock_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newsvendor order-up-to levels per brand: the profit-maximizing
    stock for uncertain single-period demand is the critical-ratio
    quantile of the demand distribution (Arrow-Harris-Marschak 1951) —
    at cu/(cu+co) = {cr} that is the {cr:.0%} demand quantile. Per
    brand, daily shipped quantity forms the empirical distribution and
    the answer is the explicit ceil({cr}(n+1))-th order statistic (the
    conformal-intervals rule: never an engine-interpolated percentile),
    tie-broken by day so the picked row is engine-stable.

    One fact-side (brand, day) rollup with a broadcast part dim; the
    rank window partitions by brand over the day-bounded demand series.
    Demand and the picked quantile stay exact integers; only the mean
    is a trunc6 ratio.""".format(cr=_NV_CRITICAL)
    li = T(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_shipdate"
    )
    # part is DATA-SIZED (SFx200k rows): no hint, AQE decides per-SF
    p = T(spark, sf_dir, "part").select("p_partkey", "p_brand")
    d = (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.col("l_shipdate").cast("date").alias("day"),
        )
        .agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("demand"))
    )
    wb = Window.partitionBy("brand")
    r = d.select(
        "brand",
        "demand",
        F.row_number().over(wb.orderBy("demand", "day")).alias("rn"),
        F.count(F.lit(1)).over(wb).alias("nd"),
    )
    tot = r.groupBy("brand").agg(
        F.max("nd").cast("long").alias("n_days"),
        F.sum("demand").cast("long").alias("total"),
    )
    k = F.least(
        F.ceil(F.lit(_NV_CRITICAL) * (F.col("n_days") + 1)).cast("long"),
        F.col("n_days"),
    )
    return (
        r.join(tot, "brand")
        .filter(F.col("rn") == k)
        .select(
            "brand",
            "n_days",
            (F.floor(F.col("total") * F.lit(1e6) / F.col("n_days")) / 1e6)
            .alias("mean_daily_demand"),
            F.col("demand").cast("long").alias("stock_p80"),
        )
    )


# --- wave 76: SQL-language surface (parser/analyzer features beyond the
# DataFrame API — SURVEY §3.2's spark.sql path exercised on the constructs
# a SQL-first user of the reference would reach for) -------------------------


@query(
    "sql_api_lateral_topk",
    oracle="""
    SELECT n.n_name, t.c_custkey, t.c_acctbal
    FROM nation n, LATERAL (
      SELECT c_custkey, c_acctbal FROM customer c
      WHERE c.c_nationkey = n.n_nationkey
      ORDER BY c_acctbal DESC, c_custkey LIMIT 2
    ) t
    """,
)
def sql_api_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery with ORDER BY + LIMIT — the SAME SQL
    string runs verbatim on DuckDB as its own oracle. Catalyst
    decorrelates the per-row LIMIT into a ranked join (no per-outer-row
    re-execution), so at scale this is one shuffle on the correlation
    key, not |nation| scans of customer."""
    from ..catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT n.n_name, t.c_custkey, t.c_acctbal
        FROM nation n, LATERAL (
          SELECT c_custkey, c_acctbal FROM customer c
          WHERE c.c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_custkey LIMIT 2
        ) t
        """
    )


@query(
    "sql_api_pivot_revenue",
    oracle="""
    SELECT o_orderpriority,
           round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS f,
           round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS o,
           round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) AS p
    FROM orders GROUP BY o_orderpriority
    """,
)
def sql_api_pivot_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL PIVOT syntax (parser surface; the DataFrame twin is
    pivot_user_event_values). The oracle spells the relational meaning —
    conditional aggregation — the same desugaring Catalyst applies, so
    the pivot plans as ONE grouped aggregate, not one pass per column."""
    from ..catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT * FROM (
          SELECT o_orderpriority, o_orderstatus, o_totalprice FROM orders
        )
        PIVOT (round(sum(o_totalprice), 2)
               FOR o_orderstatus IN ('F' AS f, 'O' AS o, 'P' AS p))
        """
    )


@query(
    "sql_api_parameterized",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_big,
           round(max(o_totalprice), 2) AS max_price
    FROM orders WHERE o_totalprice > 400000.0
    GROUP BY o_orderpriority
    """,
)
def sql_api_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-parameter SQL (spark.sql(query, args=...)): the binding
    travels as a typed literal through the parser — no string
    interpolation, no injection surface, and Catalyst constant-folds it
    like any literal (the oracle pins the same constant inline)."""
    from ..catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderpriority, count(*) AS n_big,
               round(max(o_totalprice), 2) AS max_price
        FROM orders WHERE o_totalprice > :cut
        GROUP BY o_orderpriority
        """,
        args={"cut": 400000.0},
    )


_RECURSIVE_DEPTHS_SQL = """
    WITH RECURSIVE lv AS (
      SELECT c_custkey AS node, 0 AS depth
      FROM customer WHERE c_custkey = 0
      UNION ALL
      SELECT c.c_custkey, lv.depth + 1
      FROM customer c
      JOIN lv ON lv.node = cast(floor((c.c_custkey - 1) / 2) AS BIGINT)
      WHERE c.c_custkey >= 1
    )
    SELECT cast(depth AS BIGINT) AS depth,
           cast(count(*) AS BIGINT) AS n_nodes,
           cast(min(node) AS BIGINT) AS first_node,
           cast(max(node) AS BIGINT) AS last_node
    FROM lv GROUP BY depth
"""


@query(
    "sql_api_recursive_cte",
    oracle=_RECURSIVE_DEPTHS_SQL,
)
def sql_api_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE in spark.sql (Spark 4 recursive CTEs) — the SAME
    string runs verbatim on DuckDB as its own oracle: per-depth rollup of
    the binary-heap hierarchy over customer keys. This is the
    level-synchronous BFS twin of ``customer_hierarchy_depths`` (whose
    Spark side does O(log n)-round pointer jumping while ITS oracle uses
    this recursive form): the engine executes one join per LEVEL
    (O(depth) rounds ~ log2 n for the heap), each a hash join of the
    frontier against customer — the textbook recursive-query plan. At
    100 TB-hierarchy scale prefer the pointer-jumping operator when depth
    is large and levels are skewed; the recursive CTE is the right tool
    when depth is shallow and the SQL surface matters."""
    from ..catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_RECURSIVE_DEPTHS_SQL)


_GROUP_BY_ALL_SQL = """
    SELECT o_orderstatus, o_orderpriority,
           cast(count(*) AS BIGINT) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders GROUP BY ALL
"""


@query(
    "sql_api_group_by_all",
    oracle=_GROUP_BY_ALL_SQL,
)
def sql_api_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL (the DuckDB-originated shorthand, adopted by Spark
    3.4+): the analyzer infers the grouping keys as every non-aggregate
    select item — the same string runs verbatim on both engines. Pure
    analyzer surface; the plan is the ordinary partial/final aggregate."""
    from ..catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_GROUP_BY_ALL_SQL)
