"""Event-table plan coverage: time windows, sessionization, keep-latest
dedup, JSON extraction — the batch twins of the streaming operators.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..catalog import table as T
from ..functions import driverexact
from ..functions.scalars import NORMAL_SF_SQL
from ..operators.sessionize import session_summary
from .registry import query


@query(
    "hourly_event_rollup",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour_start,
           event_type,
           count(*) AS n,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def hourly_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows via Spark's window() operator (epoch-aligned,
    so window.start == date_trunc('hour') in the oracle). Same groupBy runs
    unchanged under readStream + watermark (see streaming/)."""
    ev = T(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("hour_start"), "event_type", "n", "total_value"
        )
    )


@query(
    "user_session_stats",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                   OR date_diff('second', lag(ts) OVER w, ts) > 1800
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged
    ), per_sess AS (
      SELECT user_id, session_id, count(*) AS n_events
      FROM sess GROUP BY 1, 2
    )
    SELECT user_id,
           count(*) AS n_sessions,
           cast(max(n_events) AS BIGINT) AS max_session_events,
           round(avg(n_events), 6) AS avg_session_events
    FROM per_sess GROUP BY user_id
    """,
)
def user_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute-gap sessionization (lag + cumulative flag sum reusing one
    user_id partitioning) -> per-user session stats."""
    return session_summary(T(spark, sf_dir, "events"), gap_seconds=1800)


@query(
    "latest_event_per_user_type",
    oracle="""
    SELECT event_id, user_id, event_type, ts
    FROM (
      SELECT event_id, user_id, event_type, ts,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def latest_event_per_user_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-latest dedup per (user, event_type): window row_number with a
    fully deterministic order (ts DESC, event_id DESC tie-break)."""
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        T(spark, sf_dir, "events")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "user_id", "event_type", "ts")
    )


@query(
    "event_props_json",
    oracle="""
    SELECT event_type,
           round(avg(cast(json_extract_string(props, '$.k') AS INTEGER)), 6)
               AS avg_k,
           cast(min(cast(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER)
               AS min_k,
           cast(max(cast(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER)
               AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def event_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON payload extraction (get_json_object) + aggregate — the
    semi-structured column path (props is a JSON string)."""
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        T(spark, sf_dir, "events")
        .select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.round(F.avg("k"), 6).alias("avg_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


@query(
    "rolling_hour_user_value",
    oracle="""
    SELECT event_id, user_id,
           round(sum(value) OVER (
             PARTITION BY user_id ORDER BY cast(floor(epoch(ts)) AS BIGINT)
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW), 2) AS rolling_1h_value,
           cast(count(*) OVER (
             PARTITION BY user_id ORDER BY cast(floor(epoch(ts)) AS BIGINT)
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS BIGINT) AS rolling_1h_n
    FROM events
    """,
)
def rolling_hour_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-framed window: rolling 1-hour sum/count per user keyed on
    event TIME, not row position (a physical ordering-independent frame —
    ties in ts share the same frame on both engines, unlike ROWS). Both
    engines frame on floor()ed whole seconds: DuckDB's epoch() keeps
    microseconds while Spark's long cast truncates, and a fractional
    boundary would disagree on membership."""
    ts_s = F.col("ts").cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy(ts_s)
        .rangeBetween(-3600, Window.currentRow)
    )
    return T(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 2).alias("rolling_1h_value"),
        F.count(F.lit(1)).over(w).alias("rolling_1h_n"),
    )


@query(
    "event_rank_distribution",
    oracle="""
    SELECT event_id, user_id,
           round(percent_rank() OVER v, 6) AS value_pct_rank,
           round(cume_dist()    OVER v, 6) AS value_cume_dist,
           round(first_value(value) OVER w, 6) AS first_session_value,
           round(last_value(value)  OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 6)
               AS final_value
    FROM events
    WINDOW v AS (PARTITION BY user_id ORDER BY value, event_id),
           w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def event_rank_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist / first_value / last_value battery with
    deterministic orderings (last_value over the full unbounded frame)."""
    v = Window.partitionBy("user_id").orderBy("value", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return T(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.round(F.percent_rank().over(v), 6).alias("value_pct_rank"),
        F.round(F.cume_dist().over(v), 6).alias("value_cume_dist"),
        F.round(F.first("value").over(w), 6).alias("first_session_value"),
        F.round(F.last("value").over(wfull), 6).alias("final_value"),
    )


@query(
    "hourly_gap_fill_locf",
    oracle="""
    WITH h AS (
      SELECT date_trunc('hour', ts) AS hour_start, event_type,
             round(sum(value), 2) AS total
      FROM events GROUP BY 1, 2
    ), b AS (
      SELECT min(date_trunc('hour', ts)) AS mn,
             max(date_trunc('hour', ts)) AS mx
      FROM events
    ), grid AS (
      SELECT t.event_type, g.hour_start
      FROM (SELECT DISTINCT event_type FROM events) t, b,
           unnest(generate_series(b.mn, b.mx, INTERVAL 1 HOUR))
             AS g(hour_start)
    ), j AS (
      SELECT grid.event_type, grid.hour_start, h.total
      FROM grid LEFT JOIN h USING (event_type, hour_start)
    )
    SELECT event_type, hour_start, total,
           last_value(total IGNORE NULLS)
             OVER (PARTITION BY event_type ORDER BY hour_start
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS filled
    FROM j
    """,
)
def hourly_gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill + LOCF (last observation carried forward):
    densify each event type onto the full hourly grid (sequence + explode
    of a single-row bounds aggregate — the grid is generated, never
    shuffled), left-join the observed hourly totals, then forward-fill
    with last(ignoreNulls) over a per-type cumulative window.

    Scale: the grid is |types| x |hours| (tiny relative to events); the
    only big shuffle is the hourly pre-aggregation, and the LOCF window
    partitions by type so no global sort exists."""
    ev = T(spark, sf_dir, "events")
    hour = F.date_trunc("hour", F.col("ts"))
    hourly = ev.groupBy(hour.alias("hour_start"), F.col("event_type")).agg(
        F.round(F.sum("value"), 2).alias("total")
    )
    bounds = ev.agg(
        F.min(hour).alias("mn"), F.max(hour).alias("mx")
    )
    hours = bounds.select(
        F.explode(F.expr("sequence(mn, mx, interval 1 hour)")).alias("hour_start")
    )
    types = ev.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(hours))
    j = grid.join(hourly, ["event_type", "hour_start"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "event_type",
        "hour_start",
        "total",
        F.last("total", ignorenulls=True).over(w).alias("filled"),
    )


@query(
    "interval_join_error_windows",
    oracle="""
    WITH w AS (
      SELECT user_id, ts AS ws, ts + INTERVAL 10 MINUTE AS we
      FROM events WHERE event_type = 'error'
    ), p AS (
      SELECT user_id, event_id, ts FROM events
      WHERE event_type IN ('click', 'view')
    )
    SELECT p.user_id, count(*) AS n_in_window
    FROM p
    WHERE EXISTS (SELECT 1 FROM w
                  WHERE w.user_id = p.user_id
                    AND p.ts >= w.ws AND p.ts < w.we)
    GROUP BY 1
    """,
)
def interval_join_error_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: count each user's click/view events that fall inside
    any 10-minute window opened by one of their error events.

    The oracle states it as a correlated EXISTS over a non-equi predicate;
    the Spark plan is operators/rangejoin.py's bucketed interval semi-join
    — intervals explode onto 10-min buckets, the join is EQUI on
    (user_id, bucket) with the exact range predicate as a residual, and
    LEFT SEMI dedupes overlapping windows for free. Never a nested-loop
    join, bounded fan-out, shuffle keyed like any other big join."""
    from ..operators.rangejoin import interval_semi_join

    ev = T(spark, sf_dir, "events")
    w = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("ts").alias("ws"),
        (F.col("ts") + F.expr("interval 10 minutes")).alias("we"),
    )
    p = ev.filter(F.col("event_type").isin("click", "view")).select(
        "user_id", "event_id", "ts"
    )
    hits = interval_semi_join(
        p, w, key="user_id", ts_col="ts", start_col="ws", end_col="we",
        bucket_seconds=600,
    )
    return hits.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_in_window"))


@query(
    "funnel_view_click_purchase",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY 1
    ), c AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN v ON v.user_id = e.user_id AND e.ts > v.t1
      WHERE e.event_type = 'click' GROUP BY 1
    ), p AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN c ON c.user_id = e.user_id AND e.ts > c.t2
      WHERE e.event_type = 'purchase' GROUP BY 1
    )
    SELECT (SELECT count(*) FROM v) AS n_view,
           (SELECT count(*) FROM c) AS n_view_click,
           (SELECT count(*) FROM p) AS n_view_click_purchase
    """,
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel: users whose earliest view precedes a
    click precedes a purchase. Each stage is a keyed MIN aggregate joined
    to the previous stage with a strict time inequality — three shuffles
    on user_id (AQE reuses the partitioning), never a per-user sort or
    collect. The single-row stage counts cross-join at the end."""
    ev = T(spark, sf_dir, "events")

    def stage(event_type: str, prev: DataFrame | None, prev_t: str, t: str):
        e = ev.filter(F.col("event_type") == event_type)
        if prev is not None:
            e = e.join(prev, "user_id").filter(F.col("ts") > F.col(prev_t))
        return e.groupBy("user_id").agg(F.min("ts").alias(t))

    v = stage("view", None, "", "t1")
    c = stage("click", v, "t1", "t2")
    p = stage("purchase", c, "t2", "t3")
    return (
        v.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_view_click")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_view_click_purchase")))
    )


@query(
    "daily_cohort_retention",
    oracle="""
    WITH first AS (
      SELECT user_id, min(date_trunc('day', ts)) AS d0
      FROM events GROUP BY 1
    ), act AS (
      SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events
    )
    SELECT f.d0 AS cohort_day,
           date_diff('day', f.d0, a.d) AS day_offset,
           count(*) AS n_active
    FROM act a JOIN first f USING (user_id)
    GROUP BY 1, 2
    """,
)
def daily_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-seen day, counted
    active at each later day offset. Two aggregations over the same
    user_id partitioning plus one join — the cohort dim (users x first
    day) is the only state, so the shape scales with |users| not
    |events|."""
    ev = T(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    first = ev.groupBy("user_id").agg(F.min(day).alias("d0"))
    act = ev.select("user_id", day.alias("d")).distinct()
    return (
        act.join(first, "user_id")
        .groupBy(
            F.col("d0").alias("cohort_day"),
            F.datediff(F.col("d"), F.col("d0")).cast("long").alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


@query(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS cur,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS nxt
      FROM events
    ),
    c AS (
      SELECT cur, nxt, count(*) AS n
      FROM seq WHERE nxt IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT cur, nxt, cast(n AS BIGINT) AS n,
           floor(n::DOUBLE / sum(n) OVER (PARTITION BY cur)::DOUBLE * 1e6)
             / 1e6 AS p
    FROM c
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next event type | current event type), the standard
    behavioral-sequence summary (and the n-gram LM shape applied to the
    event stream instead of tokens).

    lead() runs inside user partitions with a deterministic (ts,
    event_id) ordering — no global sort; the transition counts are a
    |types|^2-bounded table, so the per-cur normalization window runs on
    at most 25 rows. Transition probabilities are ratios of exact
    counts, trunc6'd on both engines."""
    seq = T(spark, sf_dir, "events").select(
        "user_id",
        F.col("event_type").alias("cur"),
        F.lead("event_type")
        .over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
        )
        .alias("nxt"),
    )
    c = (
        seq.filter(F.col("nxt").isNotNull())
        .groupBy("cur", "nxt")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("cur")
    return c.select(
        "cur",
        "nxt",
        F.col("n").cast("long").alias("n"),
        (
            F.floor(
                F.col("n").cast("double")
                / F.sum("n").over(w).cast("double")
                * 1e6
            )
            / 1e6
        ).alias("p"),
    )


_DECAY_REF = "2024-02-01 00:00:00"
_DECAY_HALF_LIFE_DAYS = 7.0


@query(
    "decayed_user_activity",
    oracle=f"""
    WITH s AS (
      SELECT user_id,
             exp(-(ln(2.0::DOUBLE) / {_DECAY_HALF_LIFE_DAYS}::DOUBLE)
                 * ((epoch(TIMESTAMP '{_DECAY_REF}')
                     - epoch_us(ts) // 1000000)::DOUBLE / 86400.0::DOUBLE))
               AS wgt
      FROM events
    )
    SELECT user_id,
           cast(count(*) AS BIGINT) AS n_events,
           round(sum(wgt), 6) AS activity_score
    FROM s GROUP BY user_id
    ORDER BY activity_score DESC, user_id
    LIMIT 20
    """,
)
def decayed_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed activity score per user (7-day
    half-life against a fixed reference instant) — the standard
    recency-weighted engagement feature: every event contributes
    2^(-age/half_life), so yesterday's click outweighs last month's
    burst without any hard cutoff window.

    One map-side weight expression + one partial/final sum per user;
    top-20 via TakeOrdered. Incremental at 100 TB: scores age by a
    scalar multiplier (score_new = score_old * decay^dt + today's
    events), so the nightly job never rescans history. Age seconds are
    floor-truncated identically on both engines (epoch_us // 1e6 ==
    Spark's long cast), making every weight double identical before
    the 6 dp round on the per-user sum."""
    ev = T(spark, sf_dir, "events")
    ref_sec = F.unix_timestamp(F.lit(_DECAY_REF), "yyyy-MM-dd HH:mm:ss")
    age_days = (ref_sec - F.col("ts").cast("long")).cast("double") / 86400.0
    wgt = F.exp(
        -(F.log(F.lit(2.0)) / F.lit(_DECAY_HALF_LIFE_DAYS)) * age_days
    )
    return (
        ev.select("user_id", wgt.alias("wgt"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("wgt"), 6).alias("activity_score"),
        )
        .orderBy(F.desc("activity_score"), "user_id")
        .limit(20)
    )


@query(
    "incremental_daily_rollup_merge",
    oracle="""
    SELECT date_trunc('day', ts) AS day, event_type,
           cast(count(*) AS BIGINT) AS n,
           round(sum(value), 4) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def incremental_daily_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: the running daily
    rollup is NOT recomputed from raw history — the plan aggregates the
    historical days and the newly-arrived day as two separate batches
    and MERGES their partial states (counts and sums add; every
    aggregate here is mergeable, the property all MV-maintenance rests
    on). The oracle is the full recompute over all events, so the green
    row value-proves merged-incremental == recomputed-from-scratch.

    At 100 TB this is the difference between touching one day's
    partition and re-scanning years: the base table is yesterday's
    materialized output (here rebuilt for the demo, in production read
    back from the sink), and the merge is a groupBy over
    days x types rows, not events."""
    ev = T(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    # mid-day cutoff ON PURPOSE: the last day's state exists in BOTH
    # batches, so the union-groupBy genuinely merges partial states
    # (a day-boundary cutoff would make the merge a vacuous union)
    cutoff = F.lit("2024-01-30 12:00:00").cast("timestamp")

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy(day.alias("day"), "event_type").agg(
            F.count(F.lit(1)).alias("n"), F.sum("value").alias("s")
        )

    base = rollup(ev.filter(F.col("ts") < cutoff))  # the standing MV
    incr = rollup(ev.filter(F.col("ts") >= cutoff))  # today's partition
    merged = (
        base.unionAll(incr)
        .groupBy("day", "event_type")
        .agg(F.sum("n").alias("n"), F.sum("s").alias("s"))
    )
    return merged.select(
        "day",
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.round("s", 4).alias("sum_value"),
    )


_EWMA_ALPHA = 0.3
_EWMA_LAGS = 24  # truncation horizon: (1-a)^24 ~ 2e-4 residual mass


def _ewma_sql_terms() -> tuple[str, str]:
    num = " + ".join(
        f"CASE WHEN lag(x, {j}) OVER w IS NOT NULL THEN"
        f" power({1.0 - _EWMA_ALPHA}::DOUBLE, {j}) * lag(x, {j}) OVER w"
        f" ELSE 0.0::DOUBLE END"
        for j in range(_EWMA_LAGS)
    )
    den = " + ".join(
        f"CASE WHEN lag(x, {j}) OVER w IS NOT NULL THEN"
        f" power({1.0 - _EWMA_ALPHA}::DOUBLE, {j}) ELSE 0.0::DOUBLE END"
        for j in range(_EWMA_LAGS)
    )
    return num, den


@query(
    "ewma_hourly_forecast",
    oracle=f"""
    WITH series AS (
      SELECT event_type, date_trunc('hour', ts) AS hour,
             round(avg(value), 6) AS x
      FROM events GROUP BY 1, 2
    ),
    sm AS (
      SELECT event_type, hour, x,
             ({_ewma_sql_terms()[0]}) / ({_ewma_sql_terms()[1]}) AS ewma
      FROM series
      WINDOW w AS (PARTITION BY event_type ORDER BY hour)
    ),
    f AS (
      SELECT event_type, x,
             lag(ewma) OVER (PARTITION BY event_type ORDER BY hour)
               AS forecast
      FROM sm
    )
    SELECT event_type,
           cast(count(*) AS BIGINT) AS n_hours,
           round(avg(abs(x - forecast)), 4) AS mae,
           round(avg(CASE WHEN forecast IS NOT NULL THEN x END), 4)
             AS mean_actual
    FROM f WHERE forecast IS NOT NULL
    GROUP BY event_type
    """,
)
def ewma_hourly_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving-average forecasting over the hourly
    value series, per event type: the baseline anomaly/forecast model a
    monitoring pipeline runs first. The EWMA is the 24-lag truncated
    form (residual weight mass (1-a)^24 ~ 2e-4), expressed as a fixed
    battery of lag() terms so the computation is order-free and
    engine-exact — no recursive state, no collected arrays. Each hour's
    forecast is the PREVIOUS hour's EWMA; the reported MAE is the
    one-step-ahead error, the honest measure of the smoother.

    Plan: one (type, hour) aggregation, then windows partitioned by
    event_type — series length per partition is bounded (hours), never
    event volume, so the lag battery is a constant-width projection at
    any scale."""
    ev = T(spark, sf_dir, "events")
    series = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.round(F.avg("value"), 6).alias("x"))
    w = Window.partitionBy("event_type").orderBy("hour")
    num = None
    den = None
    for j in range(_EWMA_LAGS):
        lj = F.lag("x", j).over(w)
        wj = float((1.0 - _EWMA_ALPHA) ** j)
        t = F.when(lj.isNotNull(), F.lit(wj) * lj).otherwise(F.lit(0.0))
        d = F.when(lj.isNotNull(), F.lit(wj)).otherwise(F.lit(0.0))
        num = t if num is None else num + t
        den = d if den is None else den + d
    sm = series.withColumn("ewma", num / den)
    f = sm.withColumn("forecast", F.lag("ewma").over(w))
    return (
        f.filter(F.col("forecast").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hours"),
            F.round(F.avg(F.abs(F.col("x") - F.col("forecast"))), 4).alias(
                "mae"
            ),
            F.round(F.avg("x"), 4).alias("mean_actual"),
        )
    )


@query(
    "hourly_seasonality_profile",
    oracle="""
    WITH h AS (
      SELECT event_type, date_trunc('hour', ts) AS hour,
             hour(ts) AS hod, round(avg(value), 6) AS x
      FROM events GROUP BY 1, 2, 3
    ),
    season AS (
      SELECT event_type, hod, avg(x) AS seasonal_mean
      FROM h GROUP BY 1, 2
    ),
    j AS (
      SELECT h.event_type, h.x, s.seasonal_mean,
             h.x - s.seasonal_mean AS resid
      FROM h JOIN season s
        ON s.event_type = h.event_type AND s.hod = h.hod
    )
    SELECT event_type,
           cast(count(*) AS BIGINT) AS n_hours,
           round(var_samp(x), 4) AS var_raw,
           round(var_samp(resid), 4) AS var_deseasonalized,
           floor((1.0::DOUBLE - var_samp(resid) / var_samp(x)) * 1e6)
             / 1e6 AS seasonality_strength
    FROM j GROUP BY event_type
    """,
)
def hourly_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonal decomposition: the 24-slot seasonal profile
    per event type (mean of each hour-of-day across days), the variance
    of the raw hourly series vs the deseasonalized residual, and the
    resulting seasonality strength (1 - var_resid/var_raw — near 0 for
    this flat synthetic stream, near 1 for strongly diurnal traffic).
    The test that tells you whether hour-of-day belongs in the feature
    set / anomaly baseline.

    Plan: one (type, hour) rollup, a 24x|types|-row seasonal table
    broadcast back, one variance pass — the profile table is what a
    production anomaly detector would persist and subtract."""
    ev = T(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type",
        F.date_trunc("hour", "ts").alias("hour"),
        F.hour("ts").alias("hod"),
    ).agg(F.round(F.avg("value"), 6).alias("x"))
    season = h.groupBy("event_type", "hod").agg(
        F.avg("x").alias("seasonal_mean")
    )
    j = h.join(F.broadcast(season), ["event_type", "hod"]).withColumn(
        "resid", F.col("x") - F.col("seasonal_mean")
    )
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.round(F.var_samp("x"), 4).alias("var_raw"),
        F.round(F.var_samp("resid"), 4).alias("var_deseasonalized"),
        (
            F.floor(
                (F.lit(1.0) - F.var_samp("resid") / F.var_samp("x")) * 1e6
            )
            / 1e6
        ).alias("seasonality_strength"),
    )


@query(
    "funnel_conversion_latency",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY 1
    ), p AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN v ON v.user_id = e.user_id AND e.ts > v.t1
      WHERE e.event_type = 'purchase' GROUP BY 1
    ), lat AS (
      SELECT (epoch_us(p.t2) - epoch_us(v.t1)) / 60000000.0 AS minutes
      FROM p JOIN v USING (user_id)
    )
    SELECT cast(count(*) AS BIGINT) AS n_converted,
           round(quantile_cont(minutes, 0.5), 4) AS p50_minutes,
           round(quantile_cont(minutes, 0.9), 4) AS p90_minutes,
           round(avg(minutes), 4) AS mean_minutes
    FROM lat
    """,
)
def funnel_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: minutes from each user's FIRST view
    to their first purchase after it — the companion to the funnel
    counts (how many convert) that product teams actually tune against
    (how long it takes). Keyed MIN aggregates + one user_id join, exact
    interpolated percentiles over the per-user latency table; latencies
    are exact integer microsecond differences scaled once, so both
    engines interpolate identical doubles."""
    ev = T(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"), F.min("t1").alias("t1"))
    )
    lat = p.select(
        (
            (
                F.unix_micros(F.col("t2").cast("timestamp"))
                - F.unix_micros(F.col("t1").cast("timestamp"))
            )
            / 60000000.0
        ).alias("minutes")
    )
    return lat.agg(
        F.count(F.lit(1)).cast("long").alias("n_converted"),
        F.round(F.percentile("minutes", F.lit(0.5)), 4).alias("p50_minutes"),
        F.round(F.percentile("minutes", F.lit(0.9)), 4).alias("p90_minutes"),
        F.round(F.avg("minutes"), 4).alias("mean_minutes"),
    )


@query(
    "user_value_lorenz_deciles",
    oracle="""
    WITH u AS (
      SELECT user_id, round(sum(value), 2) AS total
      FROM events GROUP BY 1
    ),
    q AS (
      SELECT quantile_cont(total, 0.1) AS q1, quantile_cont(total, 0.2) AS q2,
             quantile_cont(total, 0.3) AS q3, quantile_cont(total, 0.4) AS q4,
             quantile_cont(total, 0.5) AS q5, quantile_cont(total, 0.6) AS q6,
             quantile_cont(total, 0.7) AS q7, quantile_cont(total, 0.8) AS q8,
             quantile_cont(total, 0.9) AS q9
      FROM u
    ),
    d AS (
      SELECT cast(1 + (total > q1)::INT + (total > q2)::INT + (total > q3)::INT
               + (total > q4)::INT + (total > q5)::INT + (total > q6)::INT
               + (total > q7)::INT + (total > q8)::INT + (total > q9)::INT
               AS BIGINT) AS decile,
             total
      FROM u, q
    )
    SELECT decile,
           cast(count(*) AS BIGINT) AS n_users,
           floor(sum(total) / (SELECT sum(total) FROM u) * 1e6) / 1e6
             AS value_share
    FROM d GROUP BY decile
    """,
)
def user_value_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-concentration (Lorenz) table: users bucketed into spend
    deciles by percentile BOUNDARIES (computed once, broadcast back,
    compared map-side — never a global ntile sort), each decile's share
    of total value reported. The top decile's share is the 'whale'
    concentration number; a flat 10%-per-decile table is the
    no-concentration baseline. Per-user totals are rounded to cents
    before the quantiles so float-sum ulps cannot flip a boundary
    (same discipline as the RFM scorer)."""
    ev = T(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(F.round(F.sum("value"), 2).alias("total"))
    qs = u.agg(
        *[
            F.percentile("total", F.lit(q / 10.0)).alias(f"q{q}")
            for q in range(1, 10)
        ]
    )
    decile = F.lit(1)
    for q in range(1, 10):
        decile = decile + (F.col("total") > F.col(f"q{q}")).cast("int")
    tot = u.agg(F.sum("total").alias("grand"))
    return (
        u.crossJoin(F.broadcast(qs))
        .select(decile.cast("long").alias("decile"), "total")
        .crossJoin(F.broadcast(tot))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            (
                F.floor(F.sum("total") / F.max("grand") * 1e6) / 1e6
            ).alias("value_share"),
        )
    )


_XCORR_LAGS = list(range(-3, 4))


@query(
    "type_cross_correlation",
    oracle="""
    WITH h AS (
      SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS c
      FROM events WHERE event_type IN ('click', 'purchase')
      GROUP BY 1, 2
    ),
    grid AS (SELECT DISTINCT hour FROM h),
    x AS (
      SELECT g.hour, coalesce(h.c, 0) AS x FROM grid g
      LEFT JOIN h ON h.hour = g.hour AND h.event_type = 'click'
    ),
    y AS (
      SELECT g.hour, coalesce(h.c, 0) AS y FROM grid g
      LEFT JOIN h ON h.hour = g.hour AND h.event_type = 'purchase'
    ),
    lags AS (SELECT unnest(range(-3, 4)) AS lag),
    j AS (
      SELECT l.lag, x.x, y.y
      FROM lags l
      JOIN x ON TRUE
      JOIN y ON y.hour = x.hour + to_hours(l.lag::BIGINT)
    )
    SELECT lag, cast(count(*) AS BIGINT) AS n_hours,
           round(corr(x, y), 5) AS correlation
    FROM j GROUP BY lag
    """,
)
def type_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation between the click and purchase hourly
    count series (lags -3..+3 hours) — the lead/lag diagnostic that says
    whether one stream anticipates the other (peak at a positive lag =
    clicks lead purchases by that many hours; flat ~0 on this synthetic
    stream). Series are densified onto the observed hour grid with
    zero-fill so missing hours don't silently shrink a lag's sample.

    Plan: one pruned (hour, type) rollup, the tiny grid/series tables
    joined per lag (7 x hours rows total), Pearson corr as the built-in
    aggregate. Series length is hours, never events — constant work at
    any volume."""
    ev = T(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    h = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(F.count(F.lit(1)).alias("c"))
    grid = h.select("hour").distinct()

    def series(et: str, col: str) -> DataFrame:
        s = h.filter(F.col("event_type") == et).select(
            "hour", F.col("c").alias(col)
        )
        return grid.join(s, "hour", "left").select(
            "hour", F.coalesce(col, F.lit(0)).alias(col)
        )

    x = series("click", "x")
    y = series("purchase", "y").select(
        F.col("hour").alias("yhour"), "y"
    )
    lags = spark.range(-3, 4).select(F.col("id").cast("int").alias("lag"))
    j = (
        lags.crossJoin(F.broadcast(x))
        .join(
            F.broadcast(y),
            F.col("yhour")
            == F.col("hour") + F.make_interval(hours=F.col("lag")),
        )
    )
    return j.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.round(F.corr("x", "y"), 5).alias("correlation"),
    )


@query(
    "mean_shift_changepoints",
    oracle="""
    WITH series AS (
      SELECT event_type, date_trunc('hour', ts) AS hour,
             round(avg(value), 6) AS x
      FROM events GROUP BY 1, 2
    ),
    sc AS (
      SELECT event_type, hour, x,
             avg(x) OVER (PARTITION BY event_type ORDER BY hour
               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS mean_before,
             avg(x) OVER (PARTITION BY event_type ORDER BY hour
               ROWS BETWEEN CURRENT ROW AND 23 FOLLOWING) AS mean_after,
             count(*) OVER (PARTITION BY event_type ORDER BY hour
               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS n_before,
             count(*) OVER (PARTITION BY event_type ORDER BY hour
               ROWS BETWEEN CURRENT ROW AND 23 FOLLOWING) AS n_after,
             stddev_samp(x) OVER (PARTITION BY event_type ORDER BY hour
               ROWS BETWEEN 24 PRECEDING AND 23 FOLLOWING) AS sd
      FROM series
    ),
    scored AS (
      SELECT event_type, hour,
             round(abs(mean_after - mean_before) / sd, 6) AS shift_score
      FROM sc
      WHERE n_before = 24 AND n_after = 24 AND sd > 0
    ),
    ranked AS (
      SELECT event_type, hour, shift_score,
             row_number() OVER (PARTITION BY event_type
               ORDER BY shift_score DESC, hour) AS rn
      FROM scored
    )
    SELECT event_type, hour, shift_score
    FROM ranked WHERE rn <= 3
    """,
)
def mean_shift_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changepoint candidates by two-window mean-shift scan: at every
    hour, |mean of next 24h - mean of previous 24h| in local-stddev
    units, top-3 per event type — the level-shift detector behind most
    "did the metric step-change here?" alerts, requiring only framed
    windows (no recursion, unlike CUSUM state). Boundary hours without
    both full windows are excluded so every score compares equal-sized
    samples.

    Plan: one (type, hour) rollup, three framed window passes over the
    hours-sized series, keyed top-3 — series length bounds everything
    after the scan."""
    ev = T(spark, sf_dir, "events")
    series = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.round(F.avg("value"), 6).alias("x"))
    base = Window.partitionBy("event_type").orderBy("hour")
    before = base.rowsBetween(-24, -1)
    after = base.rowsBetween(0, 23)
    around = base.rowsBetween(-24, 23)
    sc = series.select(
        "event_type",
        "hour",
        F.avg("x").over(before).alias("mean_before"),
        F.avg("x").over(after).alias("mean_after"),
        F.count(F.lit(1)).over(before).alias("n_before"),
        F.count(F.lit(1)).over(after).alias("n_after"),
        F.stddev_samp("x").over(around).alias("sd"),
    )
    scored = sc.filter(
        (F.col("n_before") == 24) & (F.col("n_after") == 24) & (F.col("sd") > 0)
    ).select(
        "event_type",
        "hour",
        F.round(
            F.abs(F.col("mean_after") - F.col("mean_before")) / F.col("sd"), 6
        ).alias("shift_score"),
    )
    rank = Window.partitionBy("event_type").orderBy(
        F.desc("shift_score"), "hour"
    )
    return (
        scored.withColumn("rn", F.row_number().over(rank))
        .filter(F.col("rn") <= 3)
        .select("event_type", "hour", "shift_score")
    )


@query(
    "hourly_linear_interpolation",
    oracle="""
    WITH h AS (
      SELECT date_trunc('hour', ts) AS hour_start, event_type,
             sum(CAST(round(value * 100.0) AS BIGINT)) AS xi
      FROM events GROUP BY 1, 2
    ), b AS (
      SELECT min(date_trunc('hour', ts)) AS mn,
             max(date_trunc('hour', ts)) AS mx
      FROM events
    ), grid AS (
      SELECT t.event_type, g.hour_start
      FROM (SELECT DISTINCT event_type FROM events) t, b,
           unnest(generate_series(b.mn, b.mx, INTERVAL 1 HOUR))
             AS g(hour_start)
    ), j AS (
      SELECT grid.event_type, grid.hour_start, h.xi
      FROM grid LEFT JOIN h USING (event_type, hour_start)
    ), nb AS (
      SELECT event_type, hour_start, xi,
             last_value(xi IGNORE NULLS) OVER wp AS prev_i,
             last_value(CASE WHEN xi IS NOT NULL THEN hour_start END
                        IGNORE NULLS) OVER wp AS prev_h,
             first_value(xi IGNORE NULLS) OVER wf AS next_i,
             first_value(CASE WHEN xi IS NOT NULL THEN hour_start END
                         IGNORE NULLS) OVER wf AS next_h
      FROM j
      WINDOW wp AS (PARTITION BY event_type ORDER BY hour_start
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wf AS (PARTITION BY event_type ORDER BY hour_start
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type, hour_start, xi / 100.0 AS observed,
           CAST(CASE
             WHEN xi IS NOT NULL THEN xi
             WHEN prev_i IS NOT NULL AND next_i IS NOT NULL THEN
               prev_i + floor(
                 ((next_i - prev_i)
                  * ((epoch_us(hour_start) - epoch_us(prev_h)) // 3600000000))
                 ::DOUBLE
                 / ((epoch_us(next_h) - epoch_us(prev_h)) // 3600000000))
             WHEN prev_i IS NOT NULL THEN prev_i
             ELSE next_i
           END AS BIGINT) / 100.0 AS interpolated
    FROM nb
    """,
)
def hourly_linear_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap fill by LINEAR INTERPOLATION — the sensor-data upgrade over
    LOCF: a missing hour gets the time-weighted blend of its nearest
    observed neighbors (falling back to the single available neighbor at
    series edges). Same densified-grid shape as the LOCF query, plus a
    mirrored forward window for the next-observation side.

    The whole series runs in EXACT FIXED POINT — the observed metric is
    the hourly TOTAL in integer cents (each value rounds to cents
    exactly per row, and integer sums are order-free), and the blend is
    integer multiply/floor-divide — because the float form hit BOTH
    cross-engine landmines at once: FMA fusion gives the a+b*c blend
    1-ulp differences, and ANY per-row rounding of a float avg() lands
    on a boundary somewhere in 3,600 emitted rows (observed at sf0.1
    even at 4 dp). Integer in, integer out: nothing to round, nothing
    to disagree on."""
    ev = T(spark, sf_dir, "events")
    h = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour_start"), "event_type"
    ).agg(
        F.sum(F.round(F.col("value") * 100.0).cast("long")).alias("xi")
    )
    b = ev.agg(
        F.min(F.date_trunc("hour", "ts")).alias("mn"),
        F.max(F.date_trunc("hour", "ts")).alias("mx"),
    )
    grid = (
        ev.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(b))
        .select(
            "event_type",
            F.explode(
                F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))
            ).alias("hour_start"),
        )
    )
    j = grid.join(h, ["event_type", "hour_start"], "left")
    wp = (
        Window.partitionBy("event_type")
        .orderBy("hour_start")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy("event_type")
        .orderBy("hour_start")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    obs_h = F.when(F.col("xi").isNotNull(), F.col("hour_start"))
    nb = j.select(
        "event_type",
        "hour_start",
        "xi",
        F.last("xi", ignorenulls=True).over(wp).alias("prev_i"),
        F.last(obs_h, ignorenulls=True).over(wp).alias("prev_h"),
        F.first("xi", ignorenulls=True).over(wf).alias("next_i"),
        F.first(obs_h, ignorenulls=True).over(wf).alias("next_h"),
    )
    hours = lambda a, b: (  # noqa: E731  whole hours between grid points
        (
            F.unix_micros(a.cast("timestamp"))
            - F.unix_micros(b.cast("timestamp"))
        )
        / F.lit(3600000000)
    ).cast("long")
    k = hours(F.col("hour_start"), F.col("prev_h"))
    span = hours(F.col("next_h"), F.col("prev_h"))
    interp_i = (
        F.when(F.col("xi").isNotNull(), F.col("xi"))
        .when(
            F.col("prev_i").isNotNull() & F.col("next_i").isNotNull(),
            F.col("prev_i")
            + F.floor(
                ((F.col("next_i") - F.col("prev_i")) * k).cast("double")
                / span.cast("double")
            ).cast("long"),
        )
        .when(F.col("prev_i").isNotNull(), F.col("prev_i"))
        .otherwise(F.col("next_i"))
    )
    return nb.select(
        "event_type",
        "hour_start",
        (F.col("xi") / 100.0).alias("observed"),
        (interp_i.cast("long") / 100.0).alias("interpolated"),
    )


@query(
    "top_visit_paths",
    oracle="""
    WITH v AS (
      SELECT user_id, date_trunc('hour', ts) AS visit,
             event_type, ts, event_id,
             row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                ORDER BY ts, event_id) AS rn
      FROM events
    ), p AS (
      SELECT user_id, visit,
             concat_ws('>',
               max(CASE WHEN rn = 1 THEN event_type END),
               max(CASE WHEN rn = 2 THEN event_type END),
               max(CASE WHEN rn = 3 THEN event_type END)) AS path,
             cast(max(rn) AS BIGINT) AS n_events
      FROM v WHERE rn <= 3 GROUP BY 1, 2
    )
    SELECT path, cast(count(*) AS BIGINT) AS n_visits,
           cast(sum(CASE WHEN n_events >= 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_full
    FROM p GROUP BY path
    ORDER BY n_visits DESC, path LIMIT 10
    """,
)
def top_visit_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top visit paths: the first three event types of every (user,
    hour) visit concatenated into a path string, ranked by frequency —
    the clickstream path-analysis table behind funnel design and UX
    triage ("what do sessions actually open with").

    Determinism: steps are ordered by (ts, event_id) — a total order —
    and the path is assembled from three conditional MAXes over the
    rank, never from collect_list (whose order is partition-dependent).
    Plan: one window over (user, hour) partitions, one path aggregate
    (bounded by visit count), one TakeOrdered(10). At 100 TB the window
    key has user-level cardinality, so no partition is ever larger than
    one user's busiest hour."""
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "visit").orderBy("ts", "event_id")
    v = ev.select(
        "user_id",
        F.date_trunc("hour", F.col("ts")).alias("visit"),
        "event_type",
        "ts",
        "event_id",
    ).withColumn("rn", F.row_number().over(w))
    p = (
        v.filter(F.col("rn") <= 3)
        .groupBy("user_id", "visit")
        .agg(
            F.concat_ws(
                ">",
                F.max(F.when(F.col("rn") == 1, F.col("event_type"))),
                F.max(F.when(F.col("rn") == 2, F.col("event_type"))),
                F.max(F.when(F.col("rn") == 3, F.col("event_type"))),
            ).alias("path"),
            F.max("rn").cast("long").alias("n_events"),
        )
    )
    return (
        p.groupBy("path")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_visits"),
            F.sum(F.when(F.col("n_events") >= 3, 1).otherwise(0))
            .cast("long")
            .alias("n_full"),
        )
        .orderBy(F.desc("n_visits"), F.asc("path"))
        .limit(10)
    )


@query(
    "shapley_channel_attribution",
    oracle="""
    WITH fp AS (
      SELECT user_id, min(ts) AS first_purchase
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ), touched AS (
      SELECT e.user_id,
             max(CASE WHEN e.event_type = 'view' THEN 1 ELSE 0 END) AS c_view,
             max(CASE WHEN e.event_type = 'click' THEN 1 ELSE 0 END) AS c_click,
             max(CASE WHEN e.event_type = 'signup' THEN 1 ELSE 0 END) AS c_signup
      FROM events e JOIN fp ON fp.user_id = e.user_id
      WHERE e.ts < fp.first_purchase
      GROUP BY e.user_id
    ), coal AS (
      SELECT c_view, c_click, c_signup,
             cast(count(*) AS BIGINT) AS conversions
      FROM touched GROUP BY 1, 2, 3
    ), chan AS (
      SELECT ch FROM (VALUES ('view'), ('click'), ('signup')) t(ch)
    ), shap AS (
      SELECT chan.ch,
             sum(CASE
               WHEN chan.ch = 'view' AND c_view = 1 THEN
                 conversions::DOUBLE / (c_view + c_click + c_signup)
               WHEN chan.ch = 'click' AND c_click = 1 THEN
                 conversions::DOUBLE / (c_view + c_click + c_signup)
               WHEN chan.ch = 'signup' AND c_signup = 1 THEN
                 conversions::DOUBLE / (c_view + c_click + c_signup)
               ELSE 0.0::DOUBLE END) AS credit
      FROM chan, coal
      WHERE c_view + c_click + c_signup > 0
      GROUP BY chan.ch
    ), tot AS (
      SELECT sum(conversions) AS n_conv
      FROM coal WHERE c_view + c_click + c_signup > 0
    )
    SELECT ch AS channel,
           round(credit, 6) AS attributed_conversions,
           floor(credit / n_conv * 1e6) / 1e6 AS credit_share
    FROM shap, tot
    """,
)
def shapley_channel_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shapley-value channel attribution over the pre-purchase touch
    set {view, click, signup}: each conversion's credit splits EQUALLY
    among the channels the user actually touched before first purchase
    — which is exactly the Shapley value of the symmetric coalition
    game v(S) = [S covers the user's touched set] (every touched
    channel is interchangeable, untouched channels are null players).
    The fair-division upgrade over last-touch (top_visit_paths shows
    the raw sequences; this prices them).

    Plan: one keyed MIN for first purchase, one pre-purchase touch-set
    aggregate per converting user, then ALL Shapley arithmetic happens
    on the 8-row coalition table — the per-user stage is the only
    corpus-scale work, and credits are exact rationals of integer
    counts. Credit conservation (sum = conversions with >= 1 touch) is
    pinned in pytest."""
    ev = T(spark, sf_dir, "events")
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    touched = (
        # fp is per-user (DATA-SIZED): plain equi-join, AQE decides
        ev.join(fp.withColumnRenamed("user_id", "fu"),
                (F.col("user_id") == F.col("fu"))
                & (F.col("ts") < F.col("first_purchase")))
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "view", 1).otherwise(0)
            ).alias("c_view"),
            F.max(
                F.when(F.col("event_type") == "click", 1).otherwise(0)
            ).alias("c_click"),
            F.max(
                F.when(F.col("event_type") == "signup", 1).otherwise(0)
            ).alias("c_signup"),
        )
    )
    coal = (
        touched.groupBy("c_view", "c_click", "c_signup")
        .agg(F.count(F.lit(1)).cast("long").alias("conversions"))
        .filter(
            F.col("c_view") + F.col("c_click") + F.col("c_signup") > 0
        )
        .localCheckpoint()
    )
    chans = coal.sparkSession.createDataFrame(
        [("view",), ("click",), ("signup",)], ["channel"]
    )
    size = (F.col("c_view") + F.col("c_click") + F.col("c_signup")).cast(
        "double"
    )
    member = (
        F.when((F.col("channel") == "view") & (F.col("c_view") == 1), 1)
        .when((F.col("channel") == "click") & (F.col("c_click") == 1), 1)
        .when((F.col("channel") == "signup") & (F.col("c_signup") == 1), 1)
        .otherwise(0)
    )
    shap = (
        chans.crossJoin(coal)
        .select(
            "channel",
            F.when(
                member == 1, F.col("conversions").cast("double") / size
            )
            .otherwise(0.0)
            .alias("term"),
        )
        .groupBy("channel")
        .agg(F.sum("term").alias("credit"))
    )
    tot = coal.agg(F.sum("conversions").cast("double").alias("n_conv"))
    return shap.crossJoin(F.broadcast(tot)).select(
        "channel",
        F.round("credit", 6).alias("attributed_conversions"),
        (F.floor(F.col("credit") / F.col("n_conv") * 1e6) / 1e6).alias(
            "credit_share"
        ),
    )


_SPRT_P0 = "0.19"  # H0 purchase share
_SPRT_P1 = "0.21"  # H1 purchase share (identical literals both engines)


@query(
    "sprt_daily_decision",
    oracle=f"""
    WITH d AS (
      SELECT date_trunc('day', ts) AS day,
             cast(count(*) AS BIGINT) AS n_events,
             cast(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_purch
      FROM events GROUP BY 1
    ), llr AS (
      SELECT day, n_events, n_purch,
             sum(n_purch * ln({_SPRT_P1}::DOUBLE / {_SPRT_P0}::DOUBLE)
                 + (n_events - n_purch)
                   * ln((1.0::DOUBLE - {_SPRT_P1}::DOUBLE)
                        / (1.0::DOUBLE - {_SPRT_P0}::DOUBLE)))
               OVER (ORDER BY day) AS cum_llr
      FROM d
    )
    SELECT day, n_events, n_purch,
           round(cum_llr, 6) AS cum_llr,
           CASE WHEN cum_llr >= ln(19.0::DOUBLE) THEN 'accept_h1'
                WHEN cum_llr <= ln(1.0::DOUBLE / 19.0::DOUBLE)
                  THEN 'accept_h0'
                ELSE 'continue' END AS decision
    FROM llr
    """,
)
def sprt_daily_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's sequential probability ratio test (Wald 1945) on the
    daily purchase share — the always-valid alternative to fixed-n
    testing: the cumulative log-likelihood-ratio walk (H1: share 0.21
    vs H0: 0.19, alpha=beta=0.05 so the boundaries are ±ln 19) is
    monitored per DAY, and the first boundary crossing ends the
    experiment with guaranteed error rates no matter when you peek.

    Scale discipline: the LLR walk is computed over the DAY-aggregated
    table, not raw events — each day folds to (n, k) by one
    partial/final aggregate and contributes k·ln(p1/p0) +
    (n−k)·ln((1−p1)/(1−p0)), so the ordered cumulative window runs over
    a days-bounded series (the same state argument as the KM life
    table). p0/p1 are identical literals on both engines; counts are
    exact integers; round 6 absorbs libm ulps on the two ln
    constants."""
    d = T(spark, sf_dir, "events").groupBy(
        F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("n_purch"),
    )
    p0, p1 = float(_SPRT_P0), float(_SPRT_P1)
    term = F.col("n_purch") * F.log(F.lit(p1) / F.lit(p0)) + (
        F.col("n_events") - F.col("n_purch")
    ) * F.log((F.lit(1.0) - F.lit(p1)) / (F.lit(1.0) - F.lit(p0)))
    llr = d.select(
        "day",
        "n_events",
        "n_purch",
        F.sum(term).over(Window.orderBy("day")).alias("cum_llr"),
    )
    upper = F.log(F.lit(19.0))
    lower = F.log(F.lit(1.0) / 19.0)
    return llr.select(
        "day",
        "n_events",
        "n_purch",
        F.round("cum_llr", 6).alias("cum_llr"),
        F.when(F.col("cum_llr") >= upper, "accept_h1")
        .when(F.col("cum_llr") <= lower, "accept_h0")
        .otherwise("continue")
        .alias("decision"),
    )


# --- Sequence-pattern matching (MATCH_RECOGNIZE-style) -----------------------


@query(
    "clean_purchase_sequences",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, ts, event_type,
             last_value(CASE WHEN event_type IN ('view', 'error')
                             THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_gate
      FROM events
    )
    SELECT user_id,
           cast(count(*) AS BIGINT) AS n_purchases,
           cast(sum(CASE WHEN prev_gate = 'view' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clean,
           min(CASE WHEN prev_gate = 'view'
                    THEN (epoch_us(ts) // 1000000) END)::DOUBLE
             AS first_clean_epoch
    FROM seq
    WHERE event_type = 'purchase'
    GROUP BY user_id
    """,
)
def clean_purchase_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern matching in the MATCH_RECOGNIZE family — the
    SQL-standard row-pattern feature Spark does not ship: a purchase is
    "clean" iff the most recent preceding gate event (view or error) in
    the SAME user's totally-ordered stream is a view — i.e. the pattern
    VIEW (not ERROR)* PURCHASE matched ending at that row. The classic
    per-row scan semantics compile to ONE user-partitioned window:
    last_value over the gate-event projection with IGNORE NULLS — no
    self-join, no per-user collect, and exactly the plan a
    MATCH_RECOGNIZE implementation would lower to for patterns of this
    lookback-1 class. Per user: purchase count, clean-purchase count,
    first clean-purchase time.

    The stream is totally ordered by (ts, event_id) so both engines
    walk identical sequences. At 100 TB the single shuffle is the
    user-key window partition — the same cost as any sessionization —
    and state per row is one string."""
    ev = T(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    gate = F.when(
        F.col("event_type").isin("view", "error"), F.col("event_type")
    )
    seq = ev.select(
        "user_id",
        "ts",
        "event_type",
        F.last(gate, ignorenulls=True).over(w).alias("prev_gate"),
    )
    return (
        seq.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            F.sum(F.when(F.col("prev_gate") == "view", 1).otherwise(0))
            .cast("long")
            .alias("n_clean"),
            F.min(
                F.when(
                    F.col("prev_gate") == "view",
                    F.col("ts").cast("long"),
                )
            )
            .cast("double")
            .alias("first_clean_epoch"),
        )
    )


# --- Inter-arrival burstiness ------------------------------------------------


@query(
    "user_burstiness_index",
    oracle="""
    WITH seq AS (
      SELECT user_id,
             (epoch_us(ts) // 1000000)
             - lag(epoch_us(ts) // 1000000) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
               ) AS gap
      FROM events
    ),
    g AS (
      SELECT user_id, count(*) AS n_gaps,
             cast(sum(gap) AS BIGINT) AS s1,
             cast(sum(gap * gap) AS BIGINT) AS s2
      FROM seq WHERE gap IS NOT NULL
      GROUP BY 1 HAVING count(*) >= 5
    )
    SELECT user_id, n_gaps,
           round(s1::DOUBLE / n_gaps::DOUBLE, 4) AS mean_gap_s,
           round(sqrt(s2::DOUBLE / n_gaps::DOUBLE
                      - (s1::DOUBLE / n_gaps::DOUBLE)
                        * (s1::DOUBLE / n_gaps::DOUBLE)), 4) AS std_gap_s,
           round((sqrt(s2::DOUBLE / n_gaps::DOUBLE
                       - (s1::DOUBLE / n_gaps::DOUBLE)
                         * (s1::DOUBLE / n_gaps::DOUBLE))
                  - s1::DOUBLE / n_gaps::DOUBLE)
                 / (sqrt(s2::DOUBLE / n_gaps::DOUBLE
                         - (s1::DOUBLE / n_gaps::DOUBLE)
                           * (s1::DOUBLE / n_gaps::DOUBLE))
                    + s1::DOUBLE / n_gaps::DOUBLE), 4) AS burstiness
    FROM g
    """,
)
def user_burstiness_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival burstiness (Goh & Barabasi 2008): per user, the
    index B = (sigma - mu)/(sigma + mu) over the gaps between that
    user's consecutive events — B -> -1 for a metronome, 0 for a
    Poisson process, -> +1 for extreme bursts. The behavioral screen
    that separates organic users from schedulers and scrapers, and the
    time-axis companion to the hourly seasonality profile.

    One user-partitioned lag window over integer epoch seconds (both
    engines floor identically), then a moment aggregate: gaps are
    exact integers, so the mean/std/burstiness algebra runs in double
    from identical integer sums (s2 is row-bounded here; the
    decimal(38,0) escalation exists for squared moments that are not).
    Users with fewer than 5 gaps are excluded — B is noise there."""
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.col("ts").cast("long")
    seq = ev.select(
        "user_id", (sec - F.lag(sec).over(w)).alias("gap")
    ).filter(F.col("gap").isNotNull())
    g = (
        seq.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.sum("gap").cast("long").alias("s1"),
            F.sum(F.col("gap") * F.col("gap")).cast("long").alias("s2"),
        )
        .filter(F.col("n_gaps") >= 5)
    )
    mu = F.col("s1").cast("double") / F.col("n_gaps").cast("double")
    sig = F.sqrt(
        F.col("s2").cast("double") / F.col("n_gaps").cast("double") - mu * mu
    )
    return g.select(
        "user_id",
        "n_gaps",
        F.round(mu, 4).alias("mean_gap_s"),
        F.round(sig, 4).alias("std_gap_s"),
        F.round((sig - mu) / (sig + mu), 4).alias("burstiness"),
    )


# --- Wave 43: Page-Hinkley drift detection ------------------------------------

_PH_LAMBDA_FP = 50_000_000_000  # alarm threshold ($500), cents x 1e6 fixed-point


@query(
    "page_hinkley_drift",
    oracle=f"""
    WITH h AS (
      SELECT event_type, date_trunc('hour', ts) AS hour,
             sum(CAST(round(value * 100.0) AS BIGINT)) AS xi
      FROM events GROUP BY 1, 2
    ),
    walk AS (
      SELECT event_type, hour, xi,
             row_number() OVER (PARTITION BY event_type ORDER BY hour) AS t,
             sum(xi) OVER (PARTITION BY event_type ORDER BY hour) AS s
      FROM h
    ),
    inc AS (
      SELECT event_type, hour,
             CAST(floor((xi - s::DOUBLE / t) * 1e6) AS BIGINT) AS inc_fp
      FROM walk
    ),
    m AS (
      SELECT event_type, hour,
             sum(inc_fp) OVER (PARTITION BY event_type ORDER BY hour) AS m_fp
      FROM inc
    ),
    ph AS (
      SELECT event_type, hour,
             m_fp - min(m_fp) OVER (PARTITION BY event_type ORDER BY hour)
               AS ph_fp
      FROM m
    )
    SELECT event_type,
           cast(count(*) AS BIGINT) AS n_hours,
           cast(sum(CASE WHEN ph_fp > {_PH_LAMBDA_FP} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_alarms,
           cast(coalesce(min(CASE WHEN ph_fp > {_PH_LAMBDA_FP}
                              THEN cast(floor(epoch(hour)) AS BIGINT) END), 0)
                AS BIGINT) AS first_alarm_epoch_s,
           floor(max(ph_fp) / 1e6) / 100.0 AS max_ph_stat
    FROM ph
    GROUP BY event_type
    """,
)
def page_hinkley_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley upward-drift detection (Page 1954; the test behind
    most streaming concept-drift monitors, e.g. river/MOA): per event
    type, the hourly revenue series x_t is folded into the PH walk
    m_t = sum_{i<=t} (x_i - mean_i) and the alarm statistic
    PH_t = m_t - min_{i<=t} m_i; PH_t exceeding lambda means the series
    has run persistently ABOVE its own historical mean — a level drift,
    not a one-hour spike (which CUSUM-style accumulation absorbs).

    The classic formulation is a sequential recursion; here every piece
    is a cumulative window over the (type, hour) series: running count/
    sum give mean_i, the per-step increment is floor-truncated into
    1e-6-cent FIXED-POINT int64 so the walk, its running min, and the
    alarm comparisons are pure integer arithmetic — no float-sum
    ordering anywhere after one exact double subtraction per row (the
    hourly_linear_interpolation lesson applied to a recursion). Output
    is the per-type summary: hours observed, alarms fired, first alarm
    time (whole-second epoch; 0 = never), max PH in dollars.

    At 100 TB the corpus-scale work is the one (type, hour) rollup; the
    windows run over the hours-bounded series per type."""
    ev = T(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(
        F.sum(F.round(F.col("value") * 100.0).cast("long")).alias("xi")
    )
    series = Window.partitionBy("event_type").orderBy("hour")
    cum = series.rowsBetween(Window.unboundedPreceding, 0)
    walk = h.select(
        "event_type",
        "hour",
        "xi",
        F.row_number().over(series).alias("t"),
        F.sum("xi").over(cum).alias("s"),
    )
    inc = walk.select(
        "event_type",
        "hour",
        F.floor(
            (F.col("xi") - F.col("s").cast("double") / F.col("t")) * 1e6
        )
        .cast("long")
        .alias("inc_fp"),
    )
    m = inc.select(
        "event_type", "hour", F.sum("inc_fp").over(cum).alias("m_fp")
    )
    ph = m.select(
        "event_type",
        "hour",
        (F.col("m_fp") - F.min("m_fp").over(cum)).alias("ph_fp"),
    )
    alarm = F.col("ph_fp") > _PH_LAMBDA_FP
    return ph.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.sum(F.when(alarm, 1).otherwise(0)).cast("long").alias("n_alarms"),
        F.coalesce(
            F.min(F.when(alarm, F.col("hour").cast("long"))), F.lit(0)
        )
        .cast("long")
        .alias("first_alarm_epoch_s"),
        (F.floor(F.max("ph_fp") / 1e6) / 100.0).alias("max_ph_stat"),
    )


# --- Wave 60: session-gap sensitivity audit -----------------------------------------

_GAP_THRESHOLDS_S = (900, 1800, 3600)  # 15 min / 30 min / 60 min


@query(
    "session_gap_sensitivity",
    oracle=f"""
    WITH e AS (
      SELECT user_id, cast(floor(epoch(ts)) AS BIGINT) AS sec
      FROM events
    ),
    gaps AS (
      SELECT user_id,
             sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec) AS gap
      FROM e
    ),
    agg AS (
      SELECT cast(count(DISTINCT user_id) AS BIGINT) AS n_users,
             cast(count(*) AS BIGINT) AS n_events,
             {", ".join(
                 f"cast(sum(CASE WHEN gap > {t} THEN 1 ELSE 0 END) AS BIGINT)"
                 f" AS brk_{t}" for t in _GAP_THRESHOLDS_S)}
      FROM gaps
    )
    SELECT u.gap_s, agg.n_users,
           cast(agg.n_users + CASE u.gap_s
             {" ".join(f"WHEN {t} THEN agg.brk_{t}" for t in _GAP_THRESHOLDS_S)}
           END AS BIGINT) AS n_sessions,
           floor(agg.n_events * 1e6
                 / (agg.n_users + CASE u.gap_s
                    {" ".join(f"WHEN {t} THEN agg.brk_{t}" for t in _GAP_THRESHOLDS_S)}
                    END)) / 1e6 AS events_per_session
    FROM agg, (SELECT unnest({list(_GAP_THRESHOLDS_S)!r}) AS gap_s) u
    """,
)
def session_gap_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-count sensitivity to the inactivity-gap parameter — the
    audit run BEFORE anyone publishes a sessions metric: every
    sessionizer picks a gap (15/30/60 min), sessions = users + gaps
    exceeding the threshold, and if the count swings hard across
    reasonable gaps the metric is an artifact of the parameter, not the
    behavior. ONE inter-arrival scan (user-partitioned lag on whole
    seconds, the user_session_stats discipline) feeds every threshold
    as a conditional sum — adding a threshold costs one counter, never
    a rescan. Output per gap: session count and events/session
    (trunc6). All integers until the final ratio."""
    e = T(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("long").alias("sec")
    )
    gaps = e.select(
        "user_id",
        (
            F.col("sec")
            - F.lag("sec").over(
                Window.partitionBy("user_id").orderBy("sec")
            )
        ).alias("gap"),
    )
    agg = gaps.agg(
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
        *[
            F.sum(F.when(F.col("gap") > t, 1).otherwise(0))
            .cast("long")
            .alias(f"brk_{t}")
            for t in _GAP_THRESHOLDS_S
        ],
    )
    thr = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(t) for t in _GAP_THRESHOLDS_S])
        ).alias("gap_s")
    )
    out = agg.crossJoin(F.broadcast(thr))
    sessions = F.col("n_users")
    expr = None
    for t in _GAP_THRESHOLDS_S:
        cond = F.when(F.col("gap_s") == t, F.col(f"brk_{t}"))
        expr = cond if expr is None else expr.when(
            F.col("gap_s") == t, F.col(f"brk_{t}")
        )
    n_sessions = (F.col("n_users") + expr).cast("long")
    return out.select(
        "gap_s",
        "n_users",
        n_sessions.alias("n_sessions"),
        (
            F.floor(F.col("n_events") * F.lit(1e6) / n_sessions) / 1e6
        ).alias("events_per_session"),
    )


# --- Wave 62: series autocorrelation diagnostics -----------------------------

_LB_LAGS = 6


@query(
    "ljung_box_autocorr",
    oracle=f"""
    WITH h AS (
      SELECT event_type, date_trunc('hour', ts) AS hour,
             cast(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    idx AS (
      SELECT event_type, c,
             row_number() OVER (PARTITION BY event_type ORDER BY hour) AS rn
      FROM h
    ),
    tot AS (
      SELECT event_type,
             cast(count(*) AS BIGINT) AS n,
             cast(sum(c) AS HUGEINT) AS s,
             cast(sum(c::HUGEINT * c) AS HUGEINT) AS ss
      FROM idx GROUP BY 1
    ),
    lagp AS (
      SELECT a.event_type, k.k,
             cast(sum(a.c::HUGEINT * b.c) AS HUGEINT) AS p,
             cast(sum(a.c::HUGEINT) AS HUGEINT) AS sa,
             cast(sum(b.c::HUGEINT) AS HUGEINT) AS sb
      FROM idx a
      JOIN unnest(generate_series(1, {_LB_LAGS})) AS k(k) ON true
      JOIN idx b ON b.event_type = a.event_type AND b.rn = a.rn + k.k
      GROUP BY 1, 2
    ),
    r AS (
      SELECT l.event_type, l.k,
             ((l.p::DOUBLE - (t.s::DOUBLE / t.n) * (l.sa::DOUBLE + l.sb::DOUBLE)
               + (t.n - l.k) * (t.s::DOUBLE / t.n) * (t.s::DOUBLE / t.n)) / t.n)
             / ((t.ss::DOUBLE - t.s::DOUBLE * t.s::DOUBLE / t.n) / t.n) AS rk,
             t.n AS n
      FROM lagp l JOIN tot t ON t.event_type = l.event_type
    ),
    q AS (
      SELECT event_type, max(n) AS n,
             max(CASE WHEN k = 1 THEN rk END) AS r1,
             max(CASE WHEN k = 2 THEN rk END) AS r2,
             max(CASE WHEN k = 3 THEN rk END) AS r3,
             max(CASE WHEN k = 4 THEN rk END) AS r4,
             max(CASE WHEN k = 5 THEN rk END) AS r5,
             max(CASE WHEN k = 6 THEN rk END) AS r6,
             max(n) * (max(n) + 2.0::DOUBLE)
               * sum(rk * rk / (n - k)) AS q_stat
      FROM r GROUP BY event_type
    )
    SELECT event_type, cast(n AS BIGINT) AS n_hours,
           round(r1, 6) AS r1, round(r2, 6) AS r2, round(r3, 6) AS r3,
           round(r4, 6) AS r4, round(r5, 6) AS r5, round(r6, 6) AS r6,
           round(q_stat, 6) AS q_stat,
           round(__PSQL__, 6) AS p_approx
    FROM (
      SELECT *,
             (pow(q_stat / {_LB_LAGS}.0, 1.0/3.0)
              - (1.0 - 2.0/(9.0*{_LB_LAGS}.0)))
             / sqrt(2.0/(9.0*{_LB_LAGS}.0)) AS z_raw
      FROM q
    )
    """.replace("__PSQL__", NORMAL_SF_SQL.format(z="z_raw")),
)
def ljung_box_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test (Ljung & Box 1978) on the hourly
    event-count series per event type: autocorrelations r_1..r_6 and
    Q = n(n+2) * sum(r_k^2 / (n-k)), the standard "is this series white
    noise" screen behind every forecasting model's residual check (and
    the quantitative companion to runs_test_hourly's sign-based screen).

    Exactness: every autocovariance reduces to INTEGER sufficient
    statistics — sum(c_t * c_{t+k}), sum(c_t) over the lagged support,
    and the global (n, S, SS) — accumulated in decimal(38,0)/HUGEINT
    (order-free), so gamma_k = (P - m*(Sa+Sb) + (n-k)m^2)/n is computed
    from identical scalars on both engines; only the final few-term
    double algebra can drift by ulps, absorbed by round 6. p_approx
    follows the house chi-square convention: Wilson-Hilferty cube-root
    z, then normal_sf's two-sided 2(1-Phi(|z|)) form (see
    anova_f_priority_price's note).

    Scale: one corpus rollup to (type, hour); the lag join expands the
    HOURS-bounded series 6x — state never proportional to row count."""
    from ..functions.scalars import normal_sf

    ev = T(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    wtype = Window.partitionBy("event_type")
    idx = h.select(
        "event_type",
        "c",
        F.row_number().over(wtype.orderBy("hour")).alias("rn"),
    ).localCheckpoint()  # hours-bounded; feeds totals and the lag join
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    tot = idx.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec(F.col("c"))).alias("s"),
        F.sum(dec(F.col("c")) * dec(F.col("c"))).alias("ss"),
    )
    a = idx.select(
        "event_type",
        F.col("c").alias("ca"),
        "rn",
        F.explode(
            F.array(*[F.lit(k) for k in range(1, _LB_LAGS + 1)])
        ).alias("k"),
    )
    b = idx.select(
        F.col("event_type").alias("et_b"),
        F.col("c").alias("cb"),
        F.col("rn").alias("rnb"),
    )
    lagp = (
        a.join(
            b,
            (F.col("et_b") == F.col("event_type"))
            & (F.col("rnb") == F.col("rn") + F.col("k")),
        )
        .groupBy("event_type", "k")
        .agg(
            F.sum(dec(F.col("ca")) * dec(F.col("cb"))).alias("p"),
            F.sum(dec(F.col("ca"))).alias("sa"),
            F.sum(dec(F.col("cb"))).alias("sb"),
        )
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    j = lagp.join(F.broadcast(tot), "event_type")
    m = d("s") / F.col("n")
    gk = (
        d("p") - m * (d("sa") + d("sb")) + (F.col("n") - F.col("k")) * m * m
    ) / F.col("n")
    g0 = (d("ss") - d("s") * d("s") / F.col("n")) / F.col("n")
    r = j.select(
        "event_type", "k", (gk / g0).alias("rk"), F.col("n")
    )
    q = r.groupBy("event_type").agg(
        F.max("n").alias("n"),
        *[
            F.max(F.when(F.col("k") == k, F.col("rk"))).alias(f"r{k}")
            for k in range(1, _LB_LAGS + 1)
        ],
        (
            F.max("n")
            * (F.max("n") + F.lit(2.0))
            * F.sum(
                F.col("rk") * F.col("rk") / (F.col("n") - F.col("k"))
            )
        ).alias("q_stat"),
    )
    kd = float(_LB_LAGS)
    z = (
        (F.col("q_stat") / F.lit(kd)) ** (1.0 / 3.0)
        - (1.0 - 2.0 / (9.0 * kd))
    ) / F.sqrt(F.lit(2.0 / (9.0 * kd)))
    return q.select(
        "event_type",
        F.col("n").alias("n_hours"),
        *[F.round(F.col(f"r{k}"), 6).alias(f"r{k}") for k in range(1, _LB_LAGS + 1)],
        F.round(F.col("q_stat"), 6).alias("q_stat"),
        F.round(normal_sf(z), 6).alias("p_approx"),
    )


# --- Wave 62: diurnal spectrum (24-point DFT at pinned twiddles) -------------

# cos/sin twiddle factors for frequencies 1..4 cycles/day over the 24-hour
# grid, pinned as repr'd double literals so BOTH engines parse the
# identical IEEE value (the pinned-literal discipline of gumbel/lsh_scurve).
_DFT_TWIDDLES = [
        (1, 0, 1.0, 0.0),
        (1, 1, 0.9659258262890683, 0.25881904510252074),
        (1, 2, 0.8660254037844387, 0.49999999999999994),
        (1, 3, 0.7071067811865476, 0.7071067811865475),
        (1, 4, 0.5000000000000001, 0.8660254037844386),
        (1, 5, 0.25881904510252074, 0.9659258262890683),
        (1, 6, 6.123233995736766e-17, 1.0),
        (1, 7, -0.25881904510252063, 0.9659258262890683),
        (1, 8, -0.4999999999999998, 0.8660254037844387),
        (1, 9, -0.7071067811865475, 0.7071067811865476),
        (1, 10, -0.8660254037844387, 0.49999999999999994),
        (1, 11, -0.9659258262890682, 0.258819045102521),
        (1, 12, -1.0, 1.2246467991473532e-16),
        (1, 13, -0.9659258262890683, -0.2588190451025208),
        (1, 14, -0.8660254037844388, -0.4999999999999997),
        (1, 15, -0.7071067811865479, -0.7071067811865471),
        (1, 16, -0.5000000000000004, -0.8660254037844384),
        (1, 17, -0.25881904510252063, -0.9659258262890683),
        (1, 18, -1.8369701987210297e-16, -1.0),
        (1, 19, 0.2588190451025203, -0.9659258262890684),
        (1, 20, 0.5000000000000001, -0.8660254037844386),
        (1, 21, 0.7071067811865474, -0.7071067811865477),
        (1, 22, 0.8660254037844384, -0.5000000000000004),
        (1, 23, 0.9659258262890681, -0.25881904510252157),
        (2, 0, 1.0, 0.0),
        (2, 1, 0.8660254037844387, 0.49999999999999994),
        (2, 2, 0.5000000000000001, 0.8660254037844386),
        (2, 3, 6.123233995736766e-17, 1.0),
        (2, 4, -0.4999999999999998, 0.8660254037844387),
        (2, 5, -0.8660254037844387, 0.49999999999999994),
        (2, 6, -1.0, 1.2246467991473532e-16),
        (2, 7, -0.8660254037844388, -0.4999999999999997),
        (2, 8, -0.5000000000000004, -0.8660254037844384),
        (2, 9, -1.8369701987210297e-16, -1.0),
        (2, 10, 0.5000000000000001, -0.8660254037844386),
        (2, 11, 0.8660254037844384, -0.5000000000000004),
        (2, 12, 1.0, -2.4492935982947064e-16),
        (2, 13, 0.8660254037844386, 0.5),
        (2, 14, 0.5000000000000006, 0.8660254037844384),
        (2, 15, 1.1943401194869635e-15, 1.0),
        (2, 16, -0.4999999999999992, 0.8660254037844392),
        (2, 17, -0.8660254037844388, 0.4999999999999998),
        (2, 18, -1.0, 3.6739403974420594e-16),
        (2, 19, -0.8660254037844392, -0.49999999999999917),
        (2, 20, -0.49999999999999983, -0.8660254037844387),
        (2, 21, -4.286263797015736e-16, -1.0),
        (2, 22, 0.4999999999999991, -0.8660254037844392),
        (2, 23, 0.8660254037844378, -0.5000000000000014),
        (3, 0, 1.0, 0.0),
        (3, 1, 0.7071067811865476, 0.7071067811865475),
        (3, 2, 6.123233995736766e-17, 1.0),
        (3, 3, -0.7071067811865475, 0.7071067811865476),
        (3, 4, -1.0, 1.2246467991473532e-16),
        (3, 5, -0.7071067811865479, -0.7071067811865471),
        (3, 6, -1.8369701987210297e-16, -1.0),
        (3, 7, 0.7071067811865474, -0.7071067811865477),
        (3, 8, 1.0, -2.4492935982947064e-16),
        (3, 9, 0.7071067811865477, 0.7071067811865474),
        (3, 10, 1.1943401194869635e-15, 1.0),
        (3, 11, -0.7071067811865479, 0.7071067811865471),
        (3, 12, -1.0, 3.6739403974420594e-16),
        (3, 13, -0.7071067811865485, -0.7071067811865466),
        (3, 14, -4.286263797015736e-16, -1.0),
        (3, 15, 0.7071067811865478, -0.7071067811865472),
        (3, 16, 1.0, -4.898587196589413e-16),
        (3, 17, 0.7071067811865486, 0.7071067811865466),
        (3, 18, 5.51091059616309e-16, 1.0),
        (3, 19, -0.7071067811865465, 0.7071067811865486),
        (3, 20, -1.0, 2.388680238973927e-15),
        (3, 21, -0.7071067811865474, -0.7071067811865477),
        (3, 22, 1.1028010998692062e-15, -1.0),
        (3, 23, 0.7071067811865464, -0.7071067811865487),
        (4, 0, 1.0, 0.0),
        (4, 1, 0.5000000000000001, 0.8660254037844386),
        (4, 2, -0.4999999999999998, 0.8660254037844387),
        (4, 3, -1.0, 1.2246467991473532e-16),
        (4, 4, -0.5000000000000004, -0.8660254037844384),
        (4, 5, 0.5000000000000001, -0.8660254037844386),
        (4, 6, 1.0, -2.4492935982947064e-16),
        (4, 7, 0.5000000000000006, 0.8660254037844384),
        (4, 8, -0.4999999999999992, 0.8660254037844392),
        (4, 9, -1.0, 3.6739403974420594e-16),
        (4, 10, -0.49999999999999983, -0.8660254037844387),
        (4, 11, 0.4999999999999991, -0.8660254037844392),
        (4, 12, 1.0, -4.898587196589413e-16),
        (4, 13, 0.49999999999999994, 0.8660254037844387),
        (4, 14, -0.499999999999999, 0.8660254037844393),
        (4, 15, -1.0, 2.388680238973927e-15),
        (4, 16, -0.5000000000000016, -0.8660254037844377),
        (4, 17, 0.5000000000000004, -0.8660254037844384),
        (4, 18, 1.0, -7.347880794884119e-16),
        (4, 19, 0.5000000000000017, 0.8660254037844377),
        (4, 20, -0.5000000000000003, 0.8660254037844385),
        (4, 21, -1.0, 8.572527594031472e-16),
        (4, 22, -0.5000000000000018, -0.8660254037844376),
        (4, 23, 0.4999999999999971, -0.8660254037844403)
]

_DFT_VALUES_SQL = """
      (1, 0, 1.0::DOUBLE, 0.0::DOUBLE),
      (1, 1, 0.9659258262890683::DOUBLE, 0.25881904510252074::DOUBLE),
      (1, 2, 0.8660254037844387::DOUBLE, 0.49999999999999994::DOUBLE),
      (1, 3, 0.7071067811865476::DOUBLE, 0.7071067811865475::DOUBLE),
      (1, 4, 0.5000000000000001::DOUBLE, 0.8660254037844386::DOUBLE),
      (1, 5, 0.25881904510252074::DOUBLE, 0.9659258262890683::DOUBLE),
      (1, 6, 6.123233995736766e-17::DOUBLE, 1.0::DOUBLE),
      (1, 7, -0.25881904510252063::DOUBLE, 0.9659258262890683::DOUBLE),
      (1, 8, -0.4999999999999998::DOUBLE, 0.8660254037844387::DOUBLE),
      (1, 9, -0.7071067811865475::DOUBLE, 0.7071067811865476::DOUBLE),
      (1, 10, -0.8660254037844387::DOUBLE, 0.49999999999999994::DOUBLE),
      (1, 11, -0.9659258262890682::DOUBLE, 0.258819045102521::DOUBLE),
      (1, 12, -1.0::DOUBLE, 1.2246467991473532e-16::DOUBLE),
      (1, 13, -0.9659258262890683::DOUBLE, -0.2588190451025208::DOUBLE),
      (1, 14, -0.8660254037844388::DOUBLE, -0.4999999999999997::DOUBLE),
      (1, 15, -0.7071067811865479::DOUBLE, -0.7071067811865471::DOUBLE),
      (1, 16, -0.5000000000000004::DOUBLE, -0.8660254037844384::DOUBLE),
      (1, 17, -0.25881904510252063::DOUBLE, -0.9659258262890683::DOUBLE),
      (1, 18, -1.8369701987210297e-16::DOUBLE, -1.0::DOUBLE),
      (1, 19, 0.2588190451025203::DOUBLE, -0.9659258262890684::DOUBLE),
      (1, 20, 0.5000000000000001::DOUBLE, -0.8660254037844386::DOUBLE),
      (1, 21, 0.7071067811865474::DOUBLE, -0.7071067811865477::DOUBLE),
      (1, 22, 0.8660254037844384::DOUBLE, -0.5000000000000004::DOUBLE),
      (1, 23, 0.9659258262890681::DOUBLE, -0.25881904510252157::DOUBLE),
      (2, 0, 1.0::DOUBLE, 0.0::DOUBLE),
      (2, 1, 0.8660254037844387::DOUBLE, 0.49999999999999994::DOUBLE),
      (2, 2, 0.5000000000000001::DOUBLE, 0.8660254037844386::DOUBLE),
      (2, 3, 6.123233995736766e-17::DOUBLE, 1.0::DOUBLE),
      (2, 4, -0.4999999999999998::DOUBLE, 0.8660254037844387::DOUBLE),
      (2, 5, -0.8660254037844387::DOUBLE, 0.49999999999999994::DOUBLE),
      (2, 6, -1.0::DOUBLE, 1.2246467991473532e-16::DOUBLE),
      (2, 7, -0.8660254037844388::DOUBLE, -0.4999999999999997::DOUBLE),
      (2, 8, -0.5000000000000004::DOUBLE, -0.8660254037844384::DOUBLE),
      (2, 9, -1.8369701987210297e-16::DOUBLE, -1.0::DOUBLE),
      (2, 10, 0.5000000000000001::DOUBLE, -0.8660254037844386::DOUBLE),
      (2, 11, 0.8660254037844384::DOUBLE, -0.5000000000000004::DOUBLE),
      (2, 12, 1.0::DOUBLE, -2.4492935982947064e-16::DOUBLE),
      (2, 13, 0.8660254037844386::DOUBLE, 0.5::DOUBLE),
      (2, 14, 0.5000000000000006::DOUBLE, 0.8660254037844384::DOUBLE),
      (2, 15, 1.1943401194869635e-15::DOUBLE, 1.0::DOUBLE),
      (2, 16, -0.4999999999999992::DOUBLE, 0.8660254037844392::DOUBLE),
      (2, 17, -0.8660254037844388::DOUBLE, 0.4999999999999998::DOUBLE),
      (2, 18, -1.0::DOUBLE, 3.6739403974420594e-16::DOUBLE),
      (2, 19, -0.8660254037844392::DOUBLE, -0.49999999999999917::DOUBLE),
      (2, 20, -0.49999999999999983::DOUBLE, -0.8660254037844387::DOUBLE),
      (2, 21, -4.286263797015736e-16::DOUBLE, -1.0::DOUBLE),
      (2, 22, 0.4999999999999991::DOUBLE, -0.8660254037844392::DOUBLE),
      (2, 23, 0.8660254037844378::DOUBLE, -0.5000000000000014::DOUBLE),
      (3, 0, 1.0::DOUBLE, 0.0::DOUBLE),
      (3, 1, 0.7071067811865476::DOUBLE, 0.7071067811865475::DOUBLE),
      (3, 2, 6.123233995736766e-17::DOUBLE, 1.0::DOUBLE),
      (3, 3, -0.7071067811865475::DOUBLE, 0.7071067811865476::DOUBLE),
      (3, 4, -1.0::DOUBLE, 1.2246467991473532e-16::DOUBLE),
      (3, 5, -0.7071067811865479::DOUBLE, -0.7071067811865471::DOUBLE),
      (3, 6, -1.8369701987210297e-16::DOUBLE, -1.0::DOUBLE),
      (3, 7, 0.7071067811865474::DOUBLE, -0.7071067811865477::DOUBLE),
      (3, 8, 1.0::DOUBLE, -2.4492935982947064e-16::DOUBLE),
      (3, 9, 0.7071067811865477::DOUBLE, 0.7071067811865474::DOUBLE),
      (3, 10, 1.1943401194869635e-15::DOUBLE, 1.0::DOUBLE),
      (3, 11, -0.7071067811865479::DOUBLE, 0.7071067811865471::DOUBLE),
      (3, 12, -1.0::DOUBLE, 3.6739403974420594e-16::DOUBLE),
      (3, 13, -0.7071067811865485::DOUBLE, -0.7071067811865466::DOUBLE),
      (3, 14, -4.286263797015736e-16::DOUBLE, -1.0::DOUBLE),
      (3, 15, 0.7071067811865478::DOUBLE, -0.7071067811865472::DOUBLE),
      (3, 16, 1.0::DOUBLE, -4.898587196589413e-16::DOUBLE),
      (3, 17, 0.7071067811865486::DOUBLE, 0.7071067811865466::DOUBLE),
      (3, 18, 5.51091059616309e-16::DOUBLE, 1.0::DOUBLE),
      (3, 19, -0.7071067811865465::DOUBLE, 0.7071067811865486::DOUBLE),
      (3, 20, -1.0::DOUBLE, 2.388680238973927e-15::DOUBLE),
      (3, 21, -0.7071067811865474::DOUBLE, -0.7071067811865477::DOUBLE),
      (3, 22, 1.1028010998692062e-15::DOUBLE, -1.0::DOUBLE),
      (3, 23, 0.7071067811865464::DOUBLE, -0.7071067811865487::DOUBLE),
      (4, 0, 1.0::DOUBLE, 0.0::DOUBLE),
      (4, 1, 0.5000000000000001::DOUBLE, 0.8660254037844386::DOUBLE),
      (4, 2, -0.4999999999999998::DOUBLE, 0.8660254037844387::DOUBLE),
      (4, 3, -1.0::DOUBLE, 1.2246467991473532e-16::DOUBLE),
      (4, 4, -0.5000000000000004::DOUBLE, -0.8660254037844384::DOUBLE),
      (4, 5, 0.5000000000000001::DOUBLE, -0.8660254037844386::DOUBLE),
      (4, 6, 1.0::DOUBLE, -2.4492935982947064e-16::DOUBLE),
      (4, 7, 0.5000000000000006::DOUBLE, 0.8660254037844384::DOUBLE),
      (4, 8, -0.4999999999999992::DOUBLE, 0.8660254037844392::DOUBLE),
      (4, 9, -1.0::DOUBLE, 3.6739403974420594e-16::DOUBLE),
      (4, 10, -0.49999999999999983::DOUBLE, -0.8660254037844387::DOUBLE),
      (4, 11, 0.4999999999999991::DOUBLE, -0.8660254037844392::DOUBLE),
      (4, 12, 1.0::DOUBLE, -4.898587196589413e-16::DOUBLE),
      (4, 13, 0.49999999999999994::DOUBLE, 0.8660254037844387::DOUBLE),
      (4, 14, -0.499999999999999::DOUBLE, 0.8660254037844393::DOUBLE),
      (4, 15, -1.0::DOUBLE, 2.388680238973927e-15::DOUBLE),
      (4, 16, -0.5000000000000016::DOUBLE, -0.8660254037844377::DOUBLE),
      (4, 17, 0.5000000000000004::DOUBLE, -0.8660254037844384::DOUBLE),
      (4, 18, 1.0::DOUBLE, -7.347880794884119e-16::DOUBLE),
      (4, 19, 0.5000000000000017::DOUBLE, 0.8660254037844377::DOUBLE),
      (4, 20, -0.5000000000000003::DOUBLE, 0.8660254037844385::DOUBLE),
      (4, 21, -1.0::DOUBLE, 8.572527594031472e-16::DOUBLE),
      (4, 22, -0.5000000000000018::DOUBLE, -0.8660254037844376::DOUBLE),
      (4, 23, 0.4999999999999971::DOUBLE, -0.8660254037844403::DOUBLE)
"""


@query(
    "dft24_hourly_spectrum",
    oracle=f"""
    WITH hod AS (
      SELECT cast(extract(hour FROM ts) AS BIGINT) AS h,
             cast(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ),
    tw(f, h, cosv, sinv) AS (
      VALUES {_DFT_VALUES_SQL}
    ),
    terms AS (
      SELECT tw.f,
             cast(floor(hod.c * tw.cosv * 1e6) AS BIGINT) AS re_t,
             cast(floor(hod.c * -tw.sinv * 1e6) AS BIGINT) AS im_t
      FROM hod JOIN tw ON tw.h = hod.h
    ),
    x AS (
      SELECT f,
             cast(sum(re_t) AS BIGINT) AS re_fp,
             cast(sum(im_t) AS BIGINT) AS im_fp
      FROM terms GROUP BY f
    )
    SELECT f AS cycles_per_day,
           floor(re_fp / 1e6 * 1e6) / 1e6 AS re_sum,
           floor(im_fp / 1e6 * 1e6) / 1e6 AS im_sum,
           round((re_fp / 1e6) * (re_fp / 1e6)
                 + (im_fp / 1e6) * (im_fp / 1e6), 6) AS power
    FROM x
    """,
)
def dft24_hourly_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diurnal power spectrum: a 24-point DFT of the hour-of-day event
    count profile at frequencies 1-4 cycles/day — the quantitative "how
    strong is the daily rhythm (and its harmonics)" readout next to
    hourly_seasonality_profile's tabular decomposition. A flat profile
    puts all power at f=0 (not reported); a pure sine puts it at f=1.

    Exactness: the twiddle factors are PINNED repr'd double literals
    (identical parse on both engines); each term c_h * cos is floored
    into 1e-6 fixed-point int64 BEFORE summation, so the 24-term sums
    are order-free integers and power is computed from identical
    scalars. Scale: ONE 24-row rollup of the corpus; the DFT itself is
    a 96-row join — free at any data size."""
    ev = T(spark, sf_dir, "events")
    hod = ev.groupBy(F.hour("ts").cast("long").alias("h")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    tw = ev.sparkSession.createDataFrame(
        _DFT_TWIDDLES, "f INT, h BIGINT, cosv DOUBLE, sinv DOUBLE"
    )
    terms = hod.join(F.broadcast(tw), "h").select(
        "f",
        F.floor(F.col("c") * F.col("cosv") * 1e6).cast("long").alias("re_t"),
        F.floor(F.col("c") * -F.col("sinv") * 1e6).cast("long").alias("im_t"),
    )
    x = terms.groupBy("f").agg(
        F.sum("re_t").cast("long").alias("re_fp"),
        F.sum("im_t").cast("long").alias("im_fp"),
    )
    re = F.col("re_fp") / 1e6
    im = F.col("im_fp") / 1e6
    return x.select(
        F.col("f").cast("int").alias("cycles_per_day"),
        (F.floor(re * 1e6) / 1e6).alias("re_sum"),
        (F.floor(im * 1e6) / 1e6).alias("im_sum"),
        F.round(re * re + im * im, 6).alias("power"),
    )


# --- Wave 63: control charts + forecast-error baselines ----------------------

_CUSUM_H = 5.0  # alarm threshold in sigma units


@query(
    "cusum_control_chart",
    oracle=f"""
    WITH h AS (
      SELECT event_type, date_trunc('hour', ts) AS hour,
             cast(sum(CAST(round(value * 100.0) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    idx AS (
      SELECT event_type, x,
             row_number() OVER (PARTITION BY event_type ORDER BY hour) AS rn
      FROM h
    ),
    tot AS (
      SELECT event_type, cast(count(*) AS BIGINT) AS n,
             cast(sum(x::HUGEINT) AS HUGEINT) AS s,
             cast(sum(x::HUGEINT * x) AS HUGEINT) AS ss
      FROM idx GROUP BY 1
    ),
    walk AS (
      SELECT i.event_type, i.rn, t.n, t.s, t.ss,
             sum(i.x::HUGEINT * t.n - t.s)
               OVER (PARTITION BY i.event_type ORDER BY i.rn) AS cum
      FROM idx i JOIN tot t ON t.event_type = i.event_type
    ),
    dev AS (
      SELECT event_type, rn, n, s, ss, cum,
             cum - min(cum) OVER (PARTITION BY event_type ORDER BY rn)
               AS cpos,
             max(cum) OVER (PARTITION BY event_type ORDER BY rn) - cum
               AS cneg
      FROM walk
    ),
    sig AS (
      SELECT event_type, rn, n,
             cpos::DOUBLE / sqrt((n::HUGEINT * ss - s::HUGEINT * s)::DOUBLE)
               AS zpos,
             cneg::DOUBLE / sqrt((n::HUGEINT * ss - s::HUGEINT * s)::DOUBLE)
               AS zneg
      FROM dev
    )
    SELECT event_type, cast(max(n) AS BIGINT) AS n_hours,
           floor(max(zpos) * 1e6) / 1e6 AS max_cusum_pos_sigma,
           floor(max(zneg) * 1e6) / 1e6 AS max_cusum_neg_sigma,
           cast(sum(CASE WHEN zpos > {_CUSUM_H!r} OR zneg > {_CUSUM_H!r}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_alarm_hours
    FROM sig GROUP BY event_type
    """,
)
def cusum_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM control chart (Page 1954) on the hourly revenue
    series per event type — the sequential level-shift monitor next to
    Page-Hinkley (PH tests one direction with slack; CUSUM's
    prefix-extremum form accumulates BOTH directions with zero slack):
    C+_t = S_t - min_{j<=t} S_j and C-_t = max_{j<=t} S_j - S_t over
    the centered walk S. The classic recurrence max(0, prev + d) is NOT
    window-expressible — the prefix-min/max identity is, which is what
    makes this a two-window plan instead of a sequential loop.

    Exactness: the walk is kept in INTEGER cross-multiplied units
    (n*x - S summed in HUGEINT/decimal), the sigma denominator is
    sqrt(n*SS - S^2) of integer moments — one double division per row,
    trunc6 at output; the alarm count compares identical doubles.
    Scale: one corpus rollup; everything after is hours-bounded."""
    ev = T(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(
        F.sum(F.round(F.col("value") * 100.0).cast("long")).alias("x")
    )
    wtype = Window.partitionBy("event_type")
    idx = h.select(
        "event_type",
        "x",
        F.row_number().over(wtype.orderBy("hour")).alias("rn"),
    ).localCheckpoint()
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    tot = idx.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec(F.col("x"))).alias("s"),
        F.sum(dec(F.col("x")) * dec(F.col("x"))).alias("ss"),
    )
    wrun = wtype.orderBy("rn")
    walk = idx.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "rn",
        "n",
        "s",
        "ss",
        F.sum(dec(F.col("x")) * dec(F.col("n")) - F.col("s"))
        .over(wrun)
        .alias("cum"),
    )
    dev = walk.select(
        "event_type",
        "rn",
        "n",
        "s",
        "ss",
        (F.col("cum") - F.min("cum").over(wrun)).alias("cpos"),
        (F.max("cum").over(wrun) - F.col("cum")).alias("cneg"),
    )
    denom = F.sqrt(
        (
            dec(F.col("n")) * F.col("ss") - F.col("s") * F.col("s")
        ).cast("double")
    )
    sig = dev.select(
        "event_type",
        "n",
        (F.col("cpos").cast("double") / denom).alias("zpos"),
        (F.col("cneg").cast("double") / denom).alias("zneg"),
    )
    return sig.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_hours"),
        (F.floor(F.max("zpos") * 1e6) / 1e6).alias("max_cusum_pos_sigma"),
        (F.floor(F.max("zneg") * 1e6) / 1e6).alias("max_cusum_neg_sigma"),
        F.sum(
            F.when(
                (F.col("zpos") > _CUSUM_H) | (F.col("zneg") > _CUSUM_H), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_alarm_hours"),
    )


_MASE_SEASON = 24


@query(
    "seasonal_naive_mase",
    oracle=f"""
    WITH h AS (
      SELECT event_type, date_trunc('hour', ts) AS hour,
             cast(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    idx AS (
      SELECT event_type, c,
             row_number() OVER (PARTITION BY event_type ORDER BY hour) AS rn
      FROM h
    ),
    err AS (
      SELECT a.event_type,
             abs(a.c - b1.c) AS e1,
             abs(a.c - b24.c) AS e24
      FROM idx a
      JOIN idx b1 ON b1.event_type = a.event_type AND b1.rn = a.rn - 1
      JOIN idx b24 ON b24.event_type = a.event_type
                  AND b24.rn = a.rn - {_MASE_SEASON}
    )
    SELECT event_type,
           cast(count(*) AS BIGINT) AS n_scored,
           floor(sum(e1) * 1e6 / count(*)) / 1e6 AS mae_naive1,
           floor(sum(e24) * 1e6 / count(*)) / 1e6 AS mae_seasonal24,
           floor(sum(e24) * 1e6 / sum(e1)) / 1e6 AS mase
    FROM err GROUP BY event_type
    """,
)
def seasonal_naive_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast-error baseline (the MASE denominator
    discipline of Hyndman & Koehler 2006, applied as a seasonality
    detector): per event type, MAE of the lag-24 seasonal-naive
    forecast vs MAE of the lag-1 persistence forecast over the SAME
    scored span, and their ratio. MASE < 1 means yesterday-same-hour
    beats last-hour — the series has real diurnal structure worth a
    seasonal model (the decision input for ewma vs seasonal forecast);
    every sum is an integer |difference| so both MAEs and the ratio
    are exact rationals, trunc6.

    Scale: one corpus rollup to (type, hour), two rank-offset equi
    joins on the hours-bounded series — same shape as
    ljung_box_autocorr's lag join."""
    ev = T(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    wtype = Window.partitionBy("event_type")
    idx = h.select(
        "event_type",
        "c",
        F.row_number().over(wtype.orderBy("hour")).alias("rn"),
    ).localCheckpoint()
    b1 = idx.select(
        F.col("event_type").alias("et1"),
        F.col("c").alias("c1"),
        F.col("rn").alias("rn1"),
    )
    b24 = idx.select(
        F.col("event_type").alias("et24"),
        F.col("c").alias("c24"),
        F.col("rn").alias("rn24"),
    )
    err = (
        idx.join(
            b1,
            (F.col("et1") == F.col("event_type"))
            & (F.col("rn1") == F.col("rn") - 1),
        )
        .join(
            b24,
            (F.col("et24") == F.col("event_type"))
            & (F.col("rn24") == F.col("rn") - _MASE_SEASON),
        )
        .select(
            "event_type",
            F.abs(F.col("c") - F.col("c1")).alias("e1"),
            F.abs(F.col("c") - F.col("c24")).alias("e24"),
        )
    )
    return err.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_scored"),
        (F.floor(F.sum("e1") * F.lit(1e6) / F.count(F.lit(1))) / 1e6).alias(
            "mae_naive1"
        ),
        (F.floor(F.sum("e24") * F.lit(1e6) / F.count(F.lit(1))) / 1e6).alias(
            "mae_seasonal24"
        ),
        (F.floor(F.sum("e24") * F.lit(1e6) / F.sum("e1")) / 1e6).alias(
            "mase"
        ),
    )


# --- Wave 64: Markov stationary distribution ---------------------------------

_MKV_SQUARINGS = 6  # P^(2^6) = P^64 — far past mixing for a 5-state chain

# event_markov_stationary's driver-replay bound, in transition cells:
# 4096 = a 64-type vocabulary's worst case, ~100 KB fetched. The gate
# itself is functions/driverexact.driver_rows.
_MKV_MAX_CELLS = 4096


def _mkv_driver_replay(crows: list) -> list:
    """Driver-exact replay of the six row-renormalized squarings over the
    collected (cur, nxt, n) transition counts. Bit-exact twin of
    _mkv_distributed: same 1e-12 fixed-point floor sums (order-free
    integer adds), same integer row renormalization, same round(x, 12)
    re-sync — pinned equal by the paths-agree pytest and the chained-CTE
    oracle. Null-state handling mirrors the SQL joins: a NULL cur row
    never enters P0 (the rowtot join drops it) but still counts toward
    the empirical total; nxt is non-null upstream by construction."""
    from ..functions.driverexact import jdiv, jfloor_long, jround

    tot: dict = {}
    for cur, _, n in crows:
        tot[cur] = tot.get(cur, 0) + n
    p = {
        (cur, nxt): float(n) / float(tot[cur])
        for cur, nxt, n in crows
        if cur is not None  # join on cur: SQL inner join drops null keys
    }
    for _ in range(_MKV_SQUARINGS):
        # index the right matrix by its row key once per round (the old
        # all-pairs scan was O(cells^2) per round — r9 ADVICE)
        rights: dict = {}
        for (bk, bj), bv in p.items():
            rights.setdefault(bk, []).append((bj, bv))
        mm: dict = {}
        for (ai, ak), av in p.items():
            for bj, bv in rights.get(ak, []):
                k = (ai, bj)
                mm[k] = mm.get(k, 0) + jfloor_long(av * bv * 1e12)
        rs: dict = {}
        for (i, _), v in mm.items():
            rs[i] = rs.get(i, 0) + v
        p = {
            (i, jj): jround(jdiv(float(v), float(rs[i])), 12)
            for (i, jj), v in mm.items()
        }
    lo: dict = {}
    hi: dict = {}
    for (_, jj), m in p.items():
        lo[jj] = m if jj not in lo else min(lo[jj], m)
        hi[jj] = m if jj not in hi else max(hi[jj], m)
    t_all = sum(tot.values())
    return [
        (
            st,
            jround((lo[st] + hi[st]) / 2.0, 6),
            jfloor_long(hi[st] * 1e6) / 1e6
            - jfloor_long(lo[st] * 1e6) / 1e6,
            jfloor_long(float(tot[st]) * 1e6 / float(t_all)) / 1e6,
        )
        for st in sorted(k for k in lo if k is not None)
        if st in tot  # pi rows join emp on state (inner)
    ]


def _mkv_distributed(c: DataFrame) -> DataFrame:
    """The distributed squaring loop (pre-r9 plan, unchanged): runs when
    the transition table exceeds _MKV_MAX_CELLS. Each squaring is one
    join + two aggregates over the |types|^2 state, coalesced to one
    partition (the state is tiny relative to any corpus that gets here)
    and lineage-truncated per round."""
    rowtot = c.groupBy("cur").agg(F.sum("n").cast("long").alias("tot"))
    p = (
        c.join(rowtot, "cur")
        .select(
            F.col("cur").alias("i"),
            F.col("nxt").alias("j"),
            (F.col("n").cast("double") / F.col("tot")).alias("m"),
        )
        .coalesce(1)
        .localCheckpoint()
    )
    for _ in range(_MKV_SQUARINGS):
        l_ = p.select(
            F.col("i").alias("pi"), F.col("j").alias("pk"), F.col("m").alias("pm")
        )
        r_ = p.select(
            F.col("i").alias("qk"), F.col("j").alias("qj"), F.col("m").alias("qm")
        )
        sq = (
            l_.join(r_, F.col("qk") == F.col("pk"))
            .select(
                F.col("pi").alias("i"),
                F.col("qj").alias("j"),
                F.floor(F.col("pm") * F.col("qm") * F.lit(1e12))
                .cast("long")
                .alias("t"),
            )
            .groupBy("i", "j")
            .agg(F.sum("t").cast("long").alias("mm"))
        )
        rs = sq.groupBy("i").agg(F.sum("mm").cast("long").alias("rs"))
        p = (
            sq.join(rs, "i")
            .select(
                "i",
                "j",
                F.round(F.col("mm").cast("double") / F.col("rs"), 12).alias("m"),
            )
            .coalesce(1)
            .localCheckpoint()
        )
    emp = c.groupBy(F.col("cur").alias("state")).agg(
        F.sum("n").cast("long").alias("n_obs")
    )
    tote = emp.agg(F.sum("n_obs").cast("long").alias("t"))
    pi = p.groupBy(F.col("j").alias("state")).agg(
        F.min("m").alias("lo"), F.max("m").alias("hi")
    )
    return (
        pi.join(emp, "state")
        .crossJoin(F.broadcast(tote))
        .select(
            "state",
            F.round((F.col("lo") + F.col("hi")) / F.lit(2.0), 6).alias(
                "stationary_prob"
            ),
            (
                F.floor(F.col("hi") * 1e6) / 1e6
                - F.floor(F.col("lo") * 1e6) / 1e6
            ).alias("convergence_gap"),
            (F.floor(F.col("n_obs") * F.lit(1e6) / F.col("t")) / 1e6).alias(
                "empirical_freq"
            ),
        )
    )


def _mkv_sq_sql(k: int) -> str:
    return f"""
    msq{k} AS MATERIALIZED (
      SELECT p.i, q.j,
             cast(sum(cast(floor(p.m * q.m * 1e12) AS BIGINT)) AS BIGINT)
               AS mm
      FROM mp{k - 1} p JOIN mp{k - 1} q ON q.i = p.j
      GROUP BY p.i, q.j
    ),
    mrs{k} AS (
      SELECT i, cast(sum(mm) AS BIGINT) AS rs FROM msq{k} GROUP BY i
    ),
    mp{k} AS MATERIALIZED (
      SELECT s.i, s.j, round(s.mm::DOUBLE / r.rs, 12) AS m
      FROM msq{k} s JOIN mrs{k} r ON r.i = s.i
    )"""


@query(
    "event_markov_stationary",
    oracle=(
        """
    WITH seq AS (
      SELECT user_id, event_type AS cur,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS nxt
      FROM events
    ),
    c AS (
      SELECT cur, nxt, cast(count(*) AS BIGINT) AS n
      FROM seq WHERE nxt IS NOT NULL
      GROUP BY 1, 2
    ),
    rowtot AS (SELECT cur, cast(sum(n) AS BIGINT) AS tot FROM c GROUP BY 1),
    mp0 AS MATERIALIZED (
      SELECT c.cur AS i, c.nxt AS j, c.n::DOUBLE / r.tot AS m
      FROM c JOIN rowtot r ON r.cur = c.cur
    ),"""
        + ",".join(_mkv_sq_sql(k) for k in range(1, _MKV_SQUARINGS + 1))
        + f""",
    emp AS (
      SELECT cur AS state, cast(sum(n) AS BIGINT) AS n_obs
      FROM c GROUP BY 1
    ),
    tote AS (SELECT cast(sum(n_obs) AS BIGINT) AS t FROM emp),
    pi AS (
      SELECT j AS state, min(m) AS lo, max(m) AS hi
      FROM mp{_MKV_SQUARINGS} GROUP BY j
    )
    SELECT pi.state,
           round((pi.lo + pi.hi) / 2.0::DOUBLE, 6) AS stationary_prob,
           floor(pi.hi * 1e6) / 1e6 - floor(pi.lo * 1e6) / 1e6
             AS convergence_gap,
           floor(emp.n_obs * 1e6 / tote.t) / 1e6 AS empirical_freq
    FROM pi JOIN emp ON emp.state = pi.state CROSS JOIN tote
    """
    ),
)
def event_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the per-user event-type Markov chain —
    the long-run state occupancy implied by event_transition_matrix
    (where does behavior settle, vs empirical_freq = where it has been;
    the gap is the chain's disequilibrium): P^64 by SIX row-renormalized
    matrix squarings, after which every ROW of the power is the
    stationary vector; each state's estimate is the midpoint of its
    column's min/max across rows, and convergence_gap (the column
    spread, ~0 at mixing) is reported as evidence rather than assumed.

    Exactness: P0's entries are exact count ratios (identical doubles
    both engines); every matmul term floors into 1e-12 fixed-point
    int64 before the row sums (order-free); each squaring renormalizes
    rows by the INTEGER row total and re-syncs at 12 dp. Scale: one
    corpus lead() pass; everything after is a |types|^2 table."""
    seq = T(spark, sf_dir, "events").select(
        "user_id",
        F.col("event_type").alias("cur"),
        F.lead("event_type")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("nxt"),
    )
    c = (
        seq.filter(F.col("nxt").isNotNull())
        .groupBy("cur", "nxt")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    # Past the aggregate everything is |types|^2-bounded: below the gate
    # the counts (also the empirical marginals) replay on the driver.
    c, tbl = driverexact.driver_rows(c, _MKV_MAX_CELLS)
    if tbl is not None:
        crows = [(r["cur"], r["nxt"], r["n"]) for r in tbl.to_pylist()]
        return spark.createDataFrame(
            _mkv_driver_replay(crows),
            "state string, stationary_prob double, convergence_gap double, "
            "empirical_freq double",
        )
    return _mkv_distributed(c)


# --- Wave 64: two-segment structural break (Chow) ----------------------------

_TSB_MIN_SEG = 24  # each segment must hold >= one day of hours


@query(
    "two_segment_trend_break",
    oracle=f"""
    WITH h AS (
      SELECT event_type, date_trunc('hour', ts) AS hour,
             cast(count(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    idx AS (
      SELECT event_type, y,
             row_number() OVER (PARTITION BY event_type ORDER BY hour) AS rn
      FROM h
    ),
    pre AS (
      SELECT event_type, rn, y,
             sum(y) OVER w AS cy,
             sum(rn * y) OVER w AS cty,
             sum(y * y) OVER w AS cyy,
             count(*) OVER (PARTITION BY event_type) AS n,
             sum(y) OVER (PARTITION BY event_type) AS sy,
             sum(rn * y) OVER (PARTITION BY event_type) AS sty,
             sum(y * y) OVER (PARTITION BY event_type) AS syy
      FROM idx
      WINDOW w AS (PARTITION BY event_type ORDER BY rn)
    ),
    sse AS (
      SELECT event_type, rn AS b, n, sy, sty, syy,
             -- left segment: x = 1..b
             rn AS n1, (rn * (rn + 1)) // 2 AS sx1,
             (rn * (rn + 1) * (2 * rn + 1)) // 6 AS sxx1,
             cy AS sy1, cty AS sxy1, cyy AS syy1,
             -- right segment: x = b+1..n
             n - rn AS n2,
             (n * (n + 1)) // 2 - (rn * (rn + 1)) // 2 AS sx2,
             (n * (n + 1) * (2 * n + 1)) // 6
               - (rn * (rn + 1) * (2 * rn + 1)) // 6 AS sxx2,
             sy - cy AS sy2, sty - cty AS sxy2, syy - cyy AS syy2
      FROM pre
      WHERE rn >= {_TSB_MIN_SEG} AND rn <= n - {_TSB_MIN_SEG}
    ),
    scored AS (
      SELECT *,
             (syy1 - sy1::DOUBLE * sy1 / n1
              - (sxy1 - sx1::DOUBLE * sy1 / n1)
                * (sxy1 - sx1::DOUBLE * sy1 / n1)
                / (sxx1 - sx1::DOUBLE * sx1 / n1))
             + (syy2 - sy2::DOUBLE * sy2 / n2
                - (sxy2 - sx2::DOUBLE * sy2 / n2)
                  * (sxy2 - sx2::DOUBLE * sy2 / n2)
                  / (sxx2 - sx2::DOUBLE * sx2 / n2)) AS sse2,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY (syy1 - sy1::DOUBLE * sy1 / n1
              - (sxy1 - sx1::DOUBLE * sy1 / n1)
                * (sxy1 - sx1::DOUBLE * sy1 / n1)
                / (sxx1 - sx1::DOUBLE * sx1 / n1))
             + (syy2 - sy2::DOUBLE * sy2 / n2
                - (sxy2 - sx2::DOUBLE * sy2 / n2)
                  * (sxy2 - sx2::DOUBLE * sy2 / n2)
                  / (sxx2 - sx2::DOUBLE * sx2 / n2)) ASC, b ASC) AS rk
      FROM sse
    ),
    best AS (SELECT * FROM scored WHERE rk = 1),
    pooled AS (
      SELECT event_type,
             syy - sy::DOUBLE * sy / n
             - (sty - ((n * (n + 1)) // 2)::DOUBLE * sy / n)
               * (sty - ((n * (n + 1)) // 2)::DOUBLE * sy / n)
               / ((n * (n + 1) * (2 * n + 1)) // 6
                  - ((n * (n + 1)) // 2)::DOUBLE
                    * ((n * (n + 1)) // 2) / n) AS ssep
      FROM (SELECT DISTINCT event_type, n, sy, sty, syy FROM pre)
    )
    SELECT b.event_type, cast(b.n AS BIGINT) AS n_hours,
           cast(b.b AS BIGINT) AS break_rn,
           round((b.sxy1 - b.sx1::DOUBLE * b.sy1 / b.n1)
                 / (b.sxx1 - b.sx1::DOUBLE * b.sx1 / b.n1), 6)
             AS slope_left,
           round((b.sxy2 - b.sx2::DOUBLE * b.sy2 / b.n2)
                 / (b.sxx2 - b.sx2::DOUBLE * b.sx2 / b.n2), 6)
             AS slope_right,
           floor((p.ssep - b.sse2) * 1e6 / p.ssep) / 1e6 AS sse_drop_frac,
           round(((p.ssep - b.sse2) / 2.0::DOUBLE)
                 / (b.sse2 / (b.n - 4.0::DOUBLE)), 6) AS chow_f
    FROM best b JOIN pooled p ON p.event_type = b.event_type
    """,
)
def two_segment_trend_break(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best two-segment linear-trend split of the hourly count series
    per event type — the STRUCTURAL-break companion to
    mean_shift_changepoints' level test: scan every breakpoint with
    >= 24 hours on each side, pick the one minimizing the summed OLS
    SSE of the two segments, and report both slopes, the SSE drop, and
    the Chow (1960) F statistic ((SSEp - SSE2)/2) / (SSE2/(n-4)).

    The scan is O(1) PER CANDIDATE: prefix sums of (y, t*y, y^2) plus
    closed-form integer x-moments (b(b+1)//2, b(b+1)(2b+1)//6 — exact
    integer division on both engines) turn every split's two SSEs into
    scalar algebra on integer sufficient statistics, so the whole scan
    is one window pass over the hours-bounded series — never a per-
    candidate re-aggregation. Cross-engine: every input to the double
    algebra is an exact integer, the argmin compares identical doubles
    with breakpoint tie-break.

    Scale: one corpus rollup; series-bounded everything after."""
    ev = T(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    wtype = Window.partitionBy("event_type")
    wrun = wtype.orderBy("rn")
    idx = h.select(
        "event_type",
        "y",
        F.row_number().over(wtype.orderBy("hour")).alias("rn"),
    )
    pre = idx.select(
        "event_type",
        "rn",
        "y",
        F.sum("y").over(wrun).alias("cy"),
        F.sum(F.col("rn") * F.col("y")).over(wrun).alias("cty"),
        F.sum(F.col("y") * F.col("y")).over(wrun).alias("cyy"),
        F.count(F.lit(1)).over(wtype).alias("n"),
        F.sum("y").over(wtype).alias("sy"),
        F.sum(F.col("rn") * F.col("y")).over(wtype).alias("sty"),
        F.sum(F.col("y") * F.col("y")).over(wtype).alias("syy"),
    ).localCheckpoint()  # feeds the candidate scan and the pooled fit
    b = F.col("rn")
    n = F.col("n")
    sx1 = F.expr("(rn * (rn + 1)) div 2")
    sxx1 = F.expr("(rn * (rn + 1) * (2 * rn + 1)) div 6")
    sx2 = F.expr("(n * (n + 1)) div 2 - (rn * (rn + 1)) div 2")
    sxx2 = F.expr(
        "(n * (n + 1) * (2 * n + 1)) div 6"
        " - (rn * (rn + 1) * (2 * rn + 1)) div 6"
    )
    cand = pre.filter(
        (b >= _TSB_MIN_SEG) & (b <= n - _TSB_MIN_SEG)
    ).select(
        "event_type",
        b.alias("b"),
        "n",
        "sy",
        "sty",
        "syy",
        b.alias("n1"),
        sx1.alias("sx1"),
        sxx1.alias("sxx1"),
        F.col("cy").alias("sy1"),
        F.col("cty").alias("sxy1"),
        F.col("cyy").alias("syy1"),
        (n - b).alias("n2"),
        sx2.alias("sx2"),
        sxx2.alias("sxx2"),
        (F.col("sy") - F.col("cy")).alias("sy2"),
        (F.col("sty") - F.col("cty")).alias("sxy2"),
        (F.col("syy") - F.col("cyy")).alias("syy2"),
    )

    def seg_sse(sfx: str):
        d = lambda c: F.col(c + sfx).cast("double")  # noqa: E731
        nn = F.col("n" + sfx)
        sxy_c = d("sxy") - d("sx") * d("sy") / nn
        sxx_c = d("sxx") - d("sx") * d("sx") / nn
        return d("syy") - d("sy") * d("sy") / nn - sxy_c * sxy_c / sxx_c

    sse2 = seg_sse("1") + seg_sse("2")
    scored = cand.withColumn("sse2", sse2).withColumn(
        "rk",
        F.row_number().over(
            wtype.orderBy(F.col("sse2").asc(), F.col("b").asc())
        ),
    )
    best = scored.filter(F.col("rk") == 1)
    tot = pre.select("event_type", "n", "sy", "sty", "syy").distinct()
    sxp = F.expr("(n * (n + 1)) div 2").cast("double")
    sxxp = F.expr("(n * (n + 1) * (2 * n + 1)) div 6").cast("double")
    nd = F.col("n").cast("double")
    sxy_cp = F.col("sty") - sxp * F.col("sy") / nd
    ssep = (
        F.col("syy")
        - F.col("sy").cast("double") * F.col("sy") / nd
        - sxy_cp * sxy_cp / (sxxp - sxp * sxp / nd)
    )
    pooled = tot.select("event_type", ssep.alias("ssep"))

    def slope(sfx: str):
        d = lambda c: F.col(c + sfx).cast("double")  # noqa: E731
        nn = F.col("n" + sfx)
        return (d("sxy") - d("sx") * d("sy") / nn) / (
            d("sxx") - d("sx") * d("sx") / nn
        )

    return best.join(pooled, "event_type").select(
        "event_type",
        F.col("n").cast("long").alias("n_hours"),
        F.col("b").cast("long").alias("break_rn"),
        F.round(slope("1"), 6).alias("slope_left"),
        F.round(slope("2"), 6).alias("slope_right"),
        (
            F.floor(
                (F.col("ssep") - F.col("sse2")) * F.lit(1e6) / F.col("ssep")
            )
            / 1e6
        ).alias("sse_drop_frac"),
        F.round(
            ((F.col("ssep") - F.col("sse2")) / F.lit(2.0))
            / (F.col("sse2") / (F.col("n").cast("double") - F.lit(4.0))),
            6,
        ).alias("chow_f"),
    )


# --- Wave 65: sequential followed-by pattern support -------------------------


@query(
    "followed_by_support",
    oracle="""
    WITH ue AS (
      SELECT user_id, event_type,
             min(ts) AS first_ts, max(ts) AS last_ts
      FROM events GROUP BY 1, 2
    ),
    nu AS (SELECT cast(count(DISTINCT user_id) AS BIGINT) AS n_users
           FROM events),
    sup AS (
      SELECT a.event_type AS antecedent, b.event_type AS consequent,
             cast(count(*) AS BIGINT) AS n_support
      FROM ue a JOIN ue b
        ON b.user_id = a.user_id AND b.event_type <> a.event_type
      WHERE a.first_ts < b.last_ts
      GROUP BY 1, 2
    )
    SELECT s.antecedent, s.consequent, s.n_support,
           floor(s.n_support * 1e6 / nu.n_users) / 1e6 AS support_frac,
           floor(s.n_support * 1e6
                 / (s.n_support + coalesce(r.n_support, 0))) / 1e6
             AS directionality
    FROM sup s
    LEFT JOIN sup r ON r.antecedent = s.consequent
                   AND r.consequent = s.antecedent
    CROSS JOIN nu
    """,
)
def followed_by_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential "A followed by B" pattern support (the 2-item core of
    PrefixSpan-style sequence mining, with GAPS allowed — unlike
    event_transition_matrix's adjacent-only view): for every ordered
    pair of distinct event types, the number of users whose first A
    precedes their last B, the user-base support fraction, and the
    directionality share support(A->B)/(support(A->B)+support(B->A)) —
    1.0 means the order is deterministic, 0.5 means unordered
    co-occurrence. The browse->purchase reading a funnel wants without
    pre-declaring the funnel.

    Exactness: the existence test "some A before some B" reduces to
    first_ts(A) < last_ts(B) — two keyed MIN/MAX aggregates, no
    sequence scan; counts integer, ratios trunc6. Scale: one per
    (user, type) rollup (the only row-proportional shuffle), then a
    per-user <= |types|^2 expansion — bounded fan-out."""
    ue = (
        T(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts"))
        .localCheckpoint()  # consumed by both sides of the pair join
    )
    nu = T(spark, sf_dir, "events").agg(
        F.countDistinct("user_id").cast("long").alias("n_users")
    )
    a = ue.select(
        "user_id",
        F.col("event_type").alias("antecedent"),
        "first_ts",
    )
    b = ue.select(
        F.col("user_id").alias("uid_b"),
        F.col("event_type").alias("consequent"),
        "last_ts",
    )
    sup = (
        a.join(
            b,
            (F.col("uid_b") == F.col("user_id"))
            & (F.col("consequent") != F.col("antecedent")),
        )
        .filter(F.col("first_ts") < F.col("last_ts"))
        .groupBy("antecedent", "consequent")
        .agg(F.count(F.lit(1)).cast("long").alias("n_support"))
        .localCheckpoint()  # joined against its own reverse below
    )
    rev = sup.select(
        F.col("antecedent").alias("consequent"),
        F.col("consequent").alias("antecedent"),
        F.col("n_support").alias("n_rev"),
    )
    return (
        sup.join(rev, ["antecedent", "consequent"], "left")
        .crossJoin(F.broadcast(nu))
        .select(
            "antecedent",
            "consequent",
            "n_support",
            (
                F.floor(F.col("n_support") * F.lit(1e6) / F.col("n_users"))
                / 1e6
            ).alias("support_frac"),
            (
                F.floor(
                    F.col("n_support")
                    * F.lit(1e6)
                    / (F.col("n_support") + F.coalesce("n_rev", F.lit(0)))
                )
                / 1e6
            ).alias("directionality"),
        )
    )


# --- Wave 67: absorbing-chain expected visits ----------------------------------

_AMK_DOUBLINGS = 4  # S_16 = I + Q + ... + Q^15; tail reported, not assumed
_AMK_ABSORB = "purchase"


def _amk_round_sql(k: int) -> str:
    return f"""
    qsq{k} AS MATERIALIZED (
      SELECT p.i, q.j,
             cast(sum(cast(floor(p.m * q.m * 1e12) AS BIGINT)) AS BIGINT)
               AS mm
      FROM qp{k - 1} p JOIN qp{k - 1} q ON q.i = p.j
      GROUP BY 1, 2
    ),
    qp{k} AS MATERIALIZED (
      SELECT i, j, round(mm / 1e12, 12) AS m FROM qsq{k}
    ),
    ssq{k} AS (
      SELECT p.i, s.j,
             cast(sum(cast(floor(p.m * s.m * 1e12) AS BIGINT)) AS BIGINT)
               AS mm
      FROM qp{k - 1} p JOIN s{k - 1} s ON s.i = p.j
      GROUP BY 1, 2
    ),
    s{k} AS MATERIALIZED (
      SELECT coalesce(a.i, b.i) AS i, coalesce(a.j, b.j) AS j,
             coalesce(a.m, 0.0::DOUBLE)
               + coalesce(round(b.mm / 1e12, 12), 0.0::DOUBLE) AS m
      FROM s{k - 1} a FULL OUTER JOIN ssq{k} b
        ON b.i = a.i AND b.j = a.j
    )"""


@query(
    "absorbing_markov_visits",
    oracle=(
        f"""
    WITH seq AS (
      SELECT user_id, event_type AS cur,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS nxt
      FROM events
    ),
    c AS (
      SELECT cur, nxt, cast(count(*) AS BIGINT) AS n
      FROM seq WHERE nxt IS NOT NULL
      GROUP BY 1, 2
    ),
    outt AS (SELECT cur, cast(sum(n) AS BIGINT) AS tot FROM c GROUP BY 1),
    qp0 AS MATERIALIZED (
      SELECT c.cur AS i, c.nxt AS j, c.n::DOUBLE / o.tot AS m
      FROM c JOIN outt o ON o.cur = c.cur
      WHERE c.cur <> {_AMK_ABSORB!r} AND c.nxt <> {_AMK_ABSORB!r}
    ),
    states AS (SELECT DISTINCT i FROM qp0),
    s0 AS MATERIALIZED (
      SELECT i, i AS j, 1.0::DOUBLE AS m FROM states
    )"""
        + ","
        + ",".join(_amk_round_sql(k) for k in range(1, _AMK_DOUBLINGS + 1))
        + f""",
    tail AS (
      SELECT i, round(sum(m), 6) AS truncation_tail
      FROM qp{_AMK_DOUBLINGS} GROUP BY i
    )
    SELECT s.i AS start_state, s.j AS target_state,
           round(s.m, 6) AS expected_visits,
           t.truncation_tail
    FROM s{_AMK_DOUBLINGS} s JOIN tail t ON t.i = s.i
    """
    ),
)
def absorbing_markov_visits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected visits to each transient event type before PURCHASE
    absorbs the session — the fundamental-matrix question N = (I-Q)^-1
    answered WITHOUT a matrix inverse: the truncated Neumann series
    S_16 = sum_(k<16) Q^k via four doublings (S_2m = S_m + Q^m S_m,
    Q^2m = Q^m Q^m), where Q is the transition matrix restricted to
    non-purchase states (rows stay substochastic because transitions
    INTO purchase leak mass out). truncation_tail = rowsum(Q^16) is the
    un-absorbed mass the truncation ignores — REPORTED as evidence, in
    the event_markov_stationary discipline, not assumed away.

    Exactness: Q0 entries are exact count ratios; every matmul term
    floors into 1e-12 fixed point before integer row sums and re-syncs
    at 12 dp; the series additions are identical-double sums. Scale:
    one lead() pass over the fact; all sixteen powers live on
    |types|^2 rows. Complements event_transition_matrix (one step) and
    event_markov_stationary (infinite-step limit) with the
    absorbing-horizon middle ground."""
    ev = T(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    wseq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(wseq).alias("nxt"),
    )
    c = (
        seq.filter(F.col("nxt").isNotNull())
        .groupBy("cur", "nxt")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    # r9 optimization: everything past the transition-count aggregate is
    # |types|^2-bounded, but the four doublings used to run ~45 Spark
    # jobs of coalesce(1)+localCheckpoint rounds — pure scheduling
    # floor. The counts are collected once and the doublings replayed on
    # the driver with bit-exact scalar replicas (functions/driverexact.py)
    # — same 1e-12 fixed-point floor sums, same round(x, 12) re-sync,
    # identical trajectory pinned by the unchanged chained-CTE oracle.
    from ..functions.driverexact import jfloor_long, jround

    # The collect is bounded at event_markov_stationary's _MKV_MAX_CELLS:
    # a data-sized event vocabulary is refused instead of shipped.
    crows = [
        (r["cur"], r["nxt"], r["n"])
        for r in c.limit(_MKV_MAX_CELLS + 1).collect()
    ]
    if len(crows) > _MKV_MAX_CELLS:
        raise ValueError(
            f"absorbing_markov_visits: the transition table has more than "
            f"{_MKV_MAX_CELLS} cells; the driver-side doublings are sized "
            "for an enum-like event vocabulary."
        )
    tot: dict = {}
    for cur, _, n in crows:
        tot[cur] = tot.get(cur, 0) + n
    qp = {
        (cur, nxt): float(n) / float(tot[cur])
        for cur, nxt, n in crows
        if cur != _AMK_ABSORB and nxt != _AMK_ABSORB
    }
    smat = {(i, i): 1.0 for i in sorted({i for i, _ in qp})}

    def matmul(a: dict, b: dict) -> dict:
        acc: dict = {}
        for (ai, am), av in a.items():
            for (bm, bj), bv in b.items():
                if am == bm:
                    k = (ai, bj)
                    acc[k] = acc.get(k, 0) + jfloor_long(av * bv * 1e12)
        return {k: jround(float(v) / 1e12, 12) for k, v in acc.items()}

    for _ in range(_AMK_DOUBLINGS):
        qs = matmul(qp, smat)
        smat = {
            k: smat.get(k, 0.0) + qs.get(k, 0.0)
            for k in set(smat) | set(qs)
        }
        qp = matmul(qp, qp)
    tail: dict = {}
    for (i, jj), m in sorted(qp.items()):
        tail[i] = tail.get(i, 0.0) + m
    tail = {i: jround(v, 6) for i, v in tail.items()}
    rows = [
        (i, jj, jround(m, 6), tail[i])
        for (i, jj), m in sorted(smat.items())
        if i in tail
    ]
    return spark.createDataFrame(
        rows,
        "start_state string, target_state string, expected_visits double, "
        "truncation_tail double",
    )


# --- Wave 68: SES + Theta-method forecast ---------------------------------------

_SES_ALPHA = 0.2


@query(
    "ses_theta_forecast",
    oracle=f"""
    WITH h AS (
      SELECT event_type, date_trunc('hour', ts) AS hour,
             cast(count(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    idx AS (
      SELECT event_type, y,
             row_number() OVER (PARTITION BY event_type ORDER BY hour) AS rn
      FROM h
    ),
    mo AS (
      SELECT event_type,
             cast(count(*) AS BIGINT) AS t,
             cast(sum(y) AS BIGINT) AS sy,
             cast(sum(rn * y) AS BIGINT) AS sxy,
             cast(max(CASE WHEN rn = 1 THEN y END) AS BIGINT) AS y1
      FROM idx GROUP BY event_type
    ),
    lvl AS (
      SELECT i.event_type,
             cast(sum(cast(floor(
               CASE WHEN i.rn = 1
                    THEN pow(1.0::DOUBLE - {_SES_ALPHA!r}::DOUBLE,
                             m.t - 1) * i.y
                    ELSE {_SES_ALPHA!r}::DOUBLE
                         * pow(1.0::DOUBLE - {_SES_ALPHA!r}::DOUBLE,
                               m.t - i.rn) * i.y
               END * 1e9) AS BIGINT)) AS BIGINT) AS lvl_fp,
             cast(max(CASE WHEN i.rn = m.t THEN i.y END) AS BIGINT)
               AS last_y
      FROM idx i JOIN mo m ON m.event_type = i.event_type
      GROUP BY i.event_type
    ),
    fit AS (
      SELECT m.event_type, m.t, l.lvl_fp / 1e9 AS lvl, l.last_y,
             (m.sxy - ((m.t * (m.t + 1)) // 2)::DOUBLE * m.sy / m.t)
               / ((m.t * (m.t + 1) * (2 * m.t + 1)) // 6
                  - ((m.t * (m.t + 1)) // 2)::DOUBLE
                    * ((m.t * (m.t + 1)) // 2) / m.t) AS drift
      FROM mo m JOIN lvl l ON l.event_type = m.event_type
    )
    SELECT event_type, t AS n_hours, last_y AS last_actual,
           round(lvl, 6) AS ses_level,
           round(drift, 6) AS drift_per_hour,
           round(lvl + drift / (2.0::DOUBLE * {_SES_ALPHA!r}::DOUBLE), 6)
             AS theta_forecast
    FROM fit
    """,
)
def ses_theta_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-step Theta-method forecast of the hourly event-count series
    per type, via the CLOSED FORM of simple exponential smoothing:
    level_T = sum of alpha (1-alpha)^(T-t) y_t (t >= 2) plus
    (1-alpha)^(T-1) y_1 — no sequential recurrence, ONE weighted
    aggregate per type — and Hyndman-Billah (2003)'s equivalence
    Theta(2) = SES + drift-correction, here forecast(h=1) = level +
    b/(2 alpha) with b the OLS trend slope from closed-form integer
    x-moments. The EWMA companion (ewma_hourly_forecast) carries the
    recurrence through a window; this op shows the same state collapsing
    to a single order-free aggregate, which is the form you want at
    shard scale.

    Exactness: pow on identical doubles is bit-stable, each weighted
    term floors into 1e-9 fixed point before the per-type integer sum,
    and the drift uses exact integer moments.

    Scale: one fact rollup to the hour grid, one aggregate per type —
    no window carries data-sized state."""
    ev = T(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    wtype = Window.partitionBy("event_type").orderBy("hour")
    idx = h.select(
        "event_type",
        "y",
        F.row_number().over(wtype).cast("long").alias("rn"),
    ).localCheckpoint()
    mo = idx.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("t"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("rn") * F.col("y")).cast("long").alias("sxy"),
        F.max(F.when(F.col("rn") == 1, F.col("y"))).cast("long").alias("y1"),
    )
    a = _SES_ALPHA
    j = idx.join(
        mo.select(F.col("event_type").alias("et2"), "t"),
        F.col("event_type") == F.col("et2"),
    )
    wgt = F.when(
        F.col("rn") == 1,
        F.pow(F.lit(1.0 - a), F.col("t") - 1) * F.col("y"),
    ).otherwise(
        F.lit(a)
        * F.pow(F.lit(1.0 - a), F.col("t") - F.col("rn"))
        * F.col("y")
    )
    lvl = j.groupBy("event_type").agg(
        F.sum(F.floor(wgt * 1e9).cast("long")).cast("long").alias("lvl_fp"),
        F.max(F.when(F.col("rn") == F.col("t"), F.col("y")))
        .cast("long")
        .alias("last_y"),
    )
    sx = F.expr("(t * (t + 1)) div 2")
    sxx = F.expr("(t * (t + 1) * (2 * t + 1)) div 6")
    fit = mo.join(lvl, "event_type").select(
        "event_type",
        "t",
        (F.col("lvl_fp") / 1e9).alias("lvl"),
        "last_y",
        (
            (F.col("sxy") - sx.cast("double") * F.col("sy") / F.col("t"))
            / (sxx - sx.cast("double") * sx / F.col("t"))
        ).alias("drift"),
    )
    return fit.select(
        "event_type",
        F.col("t").alias("n_hours"),
        F.col("last_y").alias("last_actual"),
        F.round("lvl", 6).alias("ses_level"),
        F.round("drift", 6).alias("drift_per_hour"),
        F.round(
            F.col("lvl") + F.col("drift") / F.lit(2.0 * a), 6
        ).alias("theta_forecast"),
    )


# --- Wave 69: Markov removal-effect attribution -----------------------------------

_MRA_CHANNELS = ("click", "error", "signup", "view")
_MRA_SQUARINGS = 4  # T^16: absorption within 16 steps


def _mra_journey_sql() -> str:
    return """
    midx AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    mpr AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'purchase' THEN rn END) AS prn,
             max(rn) AS mrn
      FROM midx GROUP BY 1
    ),
    mj AS (
      SELECT i.user_id, i.event_type, i.rn
      FROM midx i JOIN mpr ON mpr.user_id = i.user_id
      WHERE i.rn <= coalesce(mpr.prn, mpr.mrn)
    ),
    mseq AS (
      SELECT user_id, rn, event_type,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY rn)
               AS nxt
      FROM mj
    ),
    mtr AS (
      SELECT 'START' AS s,
             CASE WHEN event_type = 'purchase' THEN 'CONV'
                  ELSE event_type END AS d
      FROM mseq WHERE rn = 1
      UNION ALL
      SELECT event_type AS s,
             CASE WHEN nxt = 'purchase' THEN 'CONV' ELSE nxt END AS d
      FROM mseq WHERE nxt IS NOT NULL AND event_type <> 'purchase'
      UNION ALL
      SELECT event_type AS s, 'DROP' AS d
      FROM mseq WHERE nxt IS NULL AND event_type <> 'purchase'
    ),
    mcnt AS (SELECT s, d, cast(count(*) AS BIGINT) AS n FROM mtr GROUP BY 1, 2),
    mrow AS (SELECT s, cast(sum(n) AS BIGINT) AS t FROM mcnt GROUP BY 1),
    pfull0 AS MATERIALIZED (
      SELECT c.s AS i, c.d AS j, c.n::DOUBLE / r.t AS m
      FROM mcnt c JOIN mrow r USING (s)
      UNION ALL SELECT 'CONV', 'CONV', 1.0::DOUBLE
      UNION ALL SELECT 'DROP', 'DROP', 1.0::DOUBLE
    )"""


def _mra_variant_sql(ch: str) -> str:
    return f"""
    p{ch}0 AS MATERIALIZED (
      SELECT i, CASE WHEN j = '{ch}' THEN 'DROP' ELSE j END AS j,
             sum(m) AS m
      FROM pfull0 WHERE i <> '{ch}'
      GROUP BY 1, 2
    )"""


def _mra_sq_sql(v: str, k: int) -> str:
    return f"""
    p{v}sq{k} AS (
      SELECT p.i, q.j,
             cast(sum(cast(floor(p.m * q.m * 1e12) AS BIGINT)) AS BIGINT)
               AS mm
      FROM p{v}{k - 1} p JOIN p{v}{k - 1} q ON q.i = p.j
      GROUP BY 1, 2
    ),
    p{v}{k} AS MATERIALIZED (
      SELECT i, j, round(mm / 1e12, 12) AS m FROM p{v}sq{k}
    )"""


@query(
    "markov_removal_attribution",
    oracle=(
        "WITH "
        + _mra_journey_sql()
        + ","
        + ",".join(_mra_variant_sql(ch) for ch in _MRA_CHANNELS)
        + ","
        + ",".join(
            _mra_sq_sql(v, k)
            for v in ("full",) + _MRA_CHANNELS
            for k in range(1, _MRA_SQUARINGS + 1)
        )
        + f""",
    convs AS (
      SELECT 'full' AS v, m FROM pfull{_MRA_SQUARINGS}
      WHERE i = 'START' AND j = 'CONV'
      {"".join(f'''
      UNION ALL SELECT '{ch}', coalesce((SELECT m FROM p{ch}{_MRA_SQUARINGS}
        WHERE i = 'START' AND j = 'CONV'), 0.0::DOUBLE)''' for ch in _MRA_CHANNELS)}
    ),
    eff AS (
      SELECT c.v AS channel,
             f.m AS conv_full, c.m AS conv_without,
             cast(floor(greatest(f.m - c.m, 0.0::DOUBLE) * 1e9) AS BIGINT)
               AS e_fp
      FROM convs c, (SELECT m FROM convs WHERE v = 'full') f
      WHERE c.v <> 'full'
    ),
    tot AS (SELECT cast(sum(e_fp) AS BIGINT) AS t FROM eff)
    SELECT channel,
           round(conv_full, 6) AS conv_full,
           round(conv_without, 6) AS conv_without,
           round(conv_full - conv_without, 6) AS removal_effect,
           CASE WHEN tot.t > 0
                THEN (e_fp * 1000000 // tot.t) / 1e6 END AS share
    FROM eff, tot
    """
    ),
)
def markov_removal_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect multi-touch attribution (Anderl et al.
    2016) — the data-driven alternative to shapley_channel_attribution's
    cooperative-game view: build the journey chain START -> channels ->
    CONV/DROP from each user's events up to their first purchase, then
    for each channel REMOVE it (its inbound probability mass redirects
    to DROP), recompute the conversion probability, and attribute by the
    normalized conversion drop. Absorption probabilities come from T^16
    by four matrix squarings (CONV/DROP are self-loop-1 absorbing rows,
    so powering T gives "absorbed within 16 steps" exactly — the same
    truncation evidence discipline as absorbing_markov_visits).

    Exactness: transition probabilities are exact count ratios; every
    squaring floors into 1e-12 fixed point and re-syncs at 12 dp;
    removal effects floor into 1e-9 fixed point so the share
    normalization is an integer cross-multiplied truncation.

    Scale: one row_number + lead pass over the fact (the journey build);
    the five chains live on <= (|channels|+3)^2 rows each."""
    ev = T(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    wseq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    idx = ev.select(
        "user_id", "event_type", F.row_number().over(wseq).alias("rn")
    )
    pr = idx.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("rn"))
        ).alias("prn"),
        F.max("rn").alias("mrn"),
    )
    j = idx.join(pr, "user_id").filter(
        F.col("rn") <= F.coalesce(F.col("prn"), F.col("mrn"))
    )
    wj = Window.partitionBy("user_id").orderBy("rn")
    seq = j.select(
        "user_id",
        "rn",
        "event_type",
        F.lead("event_type").over(wj).alias("nxt"),
    )
    # r9 optimization: the three per-row transition branches (START row,
    # interior step, terminal DROP) used to be three filtered re-reads of
    # a localCheckpointed seq — folded into ONE pass emitting 0-2
    # transition structs per row (same multiset of (s, d) rows, so the
    # downstream counts are identical and the checkpoint job disappears).
    conv_of = lambda c: F.when(c == "purchase", F.lit("CONV")).otherwise(c)  # noqa: E731
    t_start = F.when(
        F.col("rn") == 1,
        F.struct(
            F.lit("START").alias("s"), conv_of(F.col("event_type")).alias("d")
        ),
    )
    t_step = F.when(
        (F.col("event_type") != "purchase") & F.col("nxt").isNotNull(),
        F.struct(
            F.col("event_type").alias("s"), conv_of(F.col("nxt")).alias("d")
        ),
    ).when(
        (F.col("event_type") != "purchase") & F.col("nxt").isNull(),
        F.struct(F.col("event_type").alias("s"), F.lit("DROP").alias("d")),
    )
    tr = seq.select(
        F.explode(
            F.filter(F.array(t_start, t_step), lambda x: x.isNotNull())
        ).alias("t")
    ).select("t.s", "t.d")
    cnt = tr.groupBy("s", "d").agg(F.count(F.lit(1)).cast("long").alias("n"))
    # r9 optimization: everything past the transition-count aggregate
    # lives on <= (|channels|+3)^2 = 49 rows, but the five chains x four
    # matrix squarings used to run ~100 Spark jobs of localCheckpointed
    # 49-row joins — pure driver/scheduling floor. The counts are
    # collected once and the squarings replayed on the driver with
    # bit-exact replicas of the very Spark scalar expressions the
    # distributed loop used (functions/driverexact.py): the loop was
    # designed order-free (1e-12 fixed-point floor sums, round(x, 12)
    # re-sync each squaring), so this is a transport change, pinned by
    # the unchanged chained-CTE oracle at all three SFs.
    from ..functions.driverexact import jfloor_long, jround

    crows = cnt.collect()
    tot: dict = {}
    for r in crows:
        tot[r["s"]] = tot.get(r["s"], 0) + r["n"]
    pfull = {
        (r["s"], r["d"]): float(r["n"]) / float(tot[r["s"]]) for r in crows
    }
    pfull[("CONV", "CONV")] = 1.0
    pfull[("DROP", "DROP")] = 1.0

    def matmul(p: dict) -> dict:
        acc: dict = {}
        for (ai, am), av in p.items():
            for (bm, bj), bv in p.items():
                if am == bm:
                    k = (ai, bj)
                    acc[k] = acc.get(k, 0) + jfloor_long(av * bv * 1e12)
        return {k: jround(float(v) / 1e12, 12) for k, v in acc.items()}

    def conv_prob(p: dict) -> float | None:
        for _ in range(_MRA_SQUARINGS):
            p = matmul(p)
        return p.get(("START", "CONV"))

    out_schema = (
        "channel string, conv_full double, conv_without double, "
        "removal_effect double, share double"
    )
    mf = conv_prob(pfull)
    if mf is None:
        # no START->CONV path in the full chain: the distributed form
        # produced an empty frame (every eff crossJoined an empty full_m)
        return spark.createDataFrame([], out_schema)
    effs = []
    for ch in _MRA_CHANNELS:
        # removal variant: drop row ch, redirect column ch onto DROP.
        # Each merged cell folds at most TWO doubles (original j and the
        # redirected ch), so the double sum is exactly commutative.
        pvar: dict = {}
        for (i, jj), m in pfull.items():
            if i == ch:
                continue
            k = (i, "DROP" if jj == ch else jj)
            pvar[k] = pvar.get(k, 0.0) + m
        mw = conv_prob(pvar)
        mw = 0.0 if mw is None else mw
        effs.append((ch, mf, mw, jfloor_long(max(mf - mw, 0.0) * 1e9)))
    t = sum(e[3] for e in effs)
    rows = [
        (
            ch,
            jround(mf_, 6),
            jround(mw_, 6),
            jround(mf_ - mw_, 6),
            ((e_fp * 1000000) // t) / 1e6 if t > 0 else None,
        )
        for ch, mf_, mw_, e_fp in effs
    ]
    return spark.createDataFrame(rows, out_schema)


# --- Wave 70: seasonal decomposition --------------------------------------------

_SD_HALF = 12  # centered 25-hour moving-average trend window


@query(
    "seasonal_decompose_hourly",
    oracle=f"""
    WITH h AS (
      SELECT event_type, date_trunc('hour', ts) AS hour,
             cast(count(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    idx AS (
      SELECT event_type, y,
             cast(hour(hour) AS BIGINT) AS hod,
             row_number() OVER (PARTITION BY event_type ORDER BY hour)
               AS rn,
             count(*) OVER (PARTITION BY event_type) AS t
      FROM h
    ),
    tr AS (
      SELECT event_type, hod,
             25 * y - sum(y) OVER (PARTITION BY event_type ORDER BY rn
                 ROWS BETWEEN {_SD_HALF} PRECEDING AND {_SD_HALF} FOLLOWING)
               AS det_num
      FROM idx
      QUALIFY rn > {_SD_HALF} AND rn <= t - {_SD_HALF}
    ),
    seas AS (
      SELECT event_type, hod,
             cast(sum(det_num) AS BIGINT) AS s_num,
             cast(count(*) AS BIGINT) AS s_cnt
      FROM tr GROUP BY 1, 2
    ),
    rem AS (
      SELECT t.event_type,
             t.det_num / 25.0::DOUBLE AS det,
             t.det_num / 25.0::DOUBLE
               - s.s_num::DOUBLE / (25.0::DOUBLE * s.s_cnt) AS r
      FROM tr t JOIN seas s
        ON s.event_type = t.event_type AND s.hod = t.hod
    ),
    mo AS (
      SELECT event_type,
             cast(count(*) AS BIGINT) AS n,
             cast(sum(cast(floor(det * 1e9) AS BIGINT)) AS BIGINT) AS sd_fp,
             cast(sum(cast(floor(det * det * 1e9) AS BIGINT)) AS BIGINT)
               AS sdd_fp,
             cast(sum(cast(floor(r * 1e9) AS BIGINT)) AS BIGINT) AS sr_fp,
             cast(sum(cast(floor(r * r * 1e9) AS BIGINT)) AS BIGINT)
               AS srr_fp
      FROM rem GROUP BY 1
    ),
    pk AS (
      SELECT event_type,
             max(s_num::DOUBLE / (25.0::DOUBLE * s_cnt))
               - min(s_num::DOUBLE / (25.0::DOUBLE * s_cnt)) AS amplitude,
             arg_max(hod, s_num::DOUBLE / (25.0::DOUBLE * s_cnt) - hod * 1e-12)
               AS peak_hour
      FROM seas GROUP BY 1
    )
    SELECT m.event_type, m.n AS n_trend_hours,
           floor(greatest(1.0::DOUBLE
             - (m.srr_fp / 1e9 - (m.sr_fp / 1e9) * (m.sr_fp / 1e9) / m.n)
               / (m.sdd_fp / 1e9 - (m.sd_fp / 1e9) * (m.sd_fp / 1e9) / m.n),
             0.0::DOUBLE) * 1e6) / 1e6 AS seasonal_strength,
           p.peak_hour,
           round(p.amplitude, 6) AS amplitude
    FROM mo m JOIN pk p ON p.event_type = m.event_type
    """,
)
def seasonal_decompose_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical moving-average seasonal decomposition of the hourly
    event-count series per type: trend = centered 25-hour MA (full
    windows only), detrended = y - trend, seasonal = hour-of-day means
    of the detrended series, and seasonal STRENGTH = max(0, 1 -
    Var(remainder)/Var(detrended)) — Hyndman-Athanasopoulos's F_S, the
    scalar that says how much of the non-trend variation the diurnal
    cycle explains. Reports each type's peak hour and seasonal
    amplitude next to it; hourly_seasonality_profile gives the raw
    profile, this gives the decomposition-based evidence.

    Exactness: the detrended series is kept as the INTEGER numerator
    25*y - window_sum (the /25 deferred), seasonal means are exact
    integer ratios, remainder/detrended variances floor per-term into
    1e-9 fixed point, and the peak argmax tie-breaks by hour via an
    epsilon penalty identical on both engines.

    Scale: one fact rollup; every window is hour-grid-bounded and
    type-partitioned."""
    ev = T(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    wt = Window.partitionBy("event_type")
    wrn = wt.orderBy("hour")
    idx = h.select(
        "event_type",
        "y",
        F.hour("hour").cast("long").alias("hod"),
        F.row_number().over(wrn).alias("rn"),
        F.count(F.lit(1)).over(wt).alias("t"),
    )
    wma = (
        Window.partitionBy("event_type")
        .orderBy("rn")
        .rowsBetween(-_SD_HALF, _SD_HALF)
    )
    tr = (
        idx.select(
            "event_type",
            "hod",
            "rn",
            "t",
            (25 * F.col("y") - F.sum("y").over(wma)).alias("det_num"),
        )
        .filter(
            (F.col("rn") > _SD_HALF) & (F.col("rn") <= F.col("t") - _SD_HALF)
        )
        .select("event_type", "hod", "det_num")
        .localCheckpoint()
    )
    seas = tr.groupBy("event_type", "hod").agg(
        F.sum("det_num").cast("long").alias("s_num"),
        F.count(F.lit(1)).cast("long").alias("s_cnt"),
    )
    sval = F.col("s_num").cast("double") / (F.lit(25.0) * F.col("s_cnt"))
    rem = tr.join(
        seas.withColumnRenamed("event_type", "et2").withColumnRenamed(
            "hod", "hod2"
        ),
        (F.col("event_type") == F.col("et2")) & (F.col("hod") == F.col("hod2")),
    ).select(
        "event_type",
        (F.col("det_num") / F.lit(25.0)).alias("det"),
        (
            F.col("det_num") / F.lit(25.0)
            - F.col("s_num").cast("double") / (F.lit(25.0) * F.col("s_cnt"))
        ).alias("r"),
    )
    mo = rem.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.floor(F.col("det") * 1e9).cast("long"))
        .cast("long")
        .alias("sd_fp"),
        F.sum(F.floor(F.col("det") * F.col("det") * 1e9).cast("long"))
        .cast("long")
        .alias("sdd_fp"),
        F.sum(F.floor(F.col("r") * 1e9).cast("long"))
        .cast("long")
        .alias("sr_fp"),
        F.sum(F.floor(F.col("r") * F.col("r") * 1e9).cast("long"))
        .cast("long")
        .alias("srr_fp"),
    )
    pk = seas.groupBy("event_type").agg(
        (F.max(sval) - F.min(sval)).alias("amplitude"),
        F.expr(
            "max_by(hod, s_num / (25.0D * s_cnt) - hod * 1e-12)"
        ).alias("peak_hour"),
    )
    strength = F.greatest(
        F.lit(1.0)
        - (
            F.col("srr_fp") / 1e9
            - (F.col("sr_fp") / 1e9) * (F.col("sr_fp") / 1e9) / F.col("n")
        )
        / (
            F.col("sdd_fp") / 1e9
            - (F.col("sd_fp") / 1e9) * (F.col("sd_fp") / 1e9) / F.col("n")
        ),
        F.lit(0.0),
    )
    return mo.join(pk, "event_type").select(
        "event_type",
        F.col("n").alias("n_trend_hours"),
        (F.floor(strength * 1e6) / 1e6).alias("seasonal_strength"),
        "peak_hour",
        F.round("amplitude", 6).alias("amplitude"),
    )


# --- Wave 71: Haar wavelet energy decomposition ------------------------------------

_HW_LEVELS = 6  # detail scales: 2h, 4h, ..., 64h


def _hw_level_sql(level: int) -> str:
    return f"""
    hl{level} AS MATERIALIZED (
      SELECT event_type, (i + 1) // 2 AS i,
             cast(sum(s) AS BIGINT) AS s,
             cast(sum(CASE WHEN i % 2 = 1 THEN s ELSE -s END) AS BIGINT)
               AS d
      FROM hl{level - 1}
      GROUP BY 1, 2
    ),
    he{level} AS (
      SELECT event_type,
             cast(sum(d * d) AS BIGINT) AS e_num,
             cast(count(*) AS BIGINT) AS n_coeff
      FROM hl{level} GROUP BY 1
    )"""


@query(
    "haar_wavelet_energy",
    oracle=(
        """
    WITH h AS (
      SELECT event_type, date_trunc('hour', ts) AS hour,
             cast(count(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    idx AS (
      SELECT event_type, y,
             row_number() OVER (PARTITION BY event_type ORDER BY hour)
               AS rn,
             count(*) OVER (PARTITION BY event_type) AS t
      FROM h
    ),
    hl0 AS MATERIALIZED (
      SELECT event_type, rn AS i, y AS s, cast(0 AS BIGINT) AS d
      FROM idx
      WHERE rn <= (1 << (length(bin(t)) - 1))
    )"""
        + ","
        + ",".join(_hw_level_sql(k) for k in range(1, _HW_LEVELS + 1))
        + f""",
    eng AS (
      {" UNION ALL ".join(
          f"SELECT event_type, {k} AS level, e_num, n_coeff,"
          f" e_num * (1 << ({_HW_LEVELS} - {k})) AS w_num FROM he{k}"
          for k in range(1, _HW_LEVELS + 1)
      )}
    ),
    tot AS (
      SELECT event_type, cast(sum(w_num) AS BIGINT) AS t_num
      FROM eng GROUP BY 1
    )
    SELECT e.event_type, e.level, e.n_coeff,
           round(e.e_num::DOUBLE / (1 << e.level), 6) AS energy,
           CASE WHEN t.t_num > 0
                THEN (e.w_num * 1000000 // t.t_num) / 1e6 END
             AS energy_share
    FROM eng e JOIN tot t ON t.event_type = e.event_type
    """
    ),
)
def haar_wavelet_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Haar wavelet energy decomposition of the hourly event-count
    series per type: six levels of pairwise sum/difference coarsening
    (detail scales 2h, 4h, ..., 64h), reporting each scale's detail
    energy and its share of the total — WHERE the variance lives across
    time scales, the multiscale companion to dft24_hourly_spectrum's
    single-frequency view (a diurnal series concentrates energy at the
    8-32h scales; white noise spreads it flat).

    Exactness: the transform is UNNORMALIZED integer Haar — level-l
    coefficients are exact integer pair sums/differences of the
    original counts (the 2^l normalizations are deferred into the final
    rational energies), so all six levels and the energy shares are
    pure integer arithmetic; the series truncates to the largest
    power-of-two length via the engines' shared length(bin()) idiom.

    Scale: one fact rollup; each level halves a table that starts
    hour-grid-bounded."""
    ev = T(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    wt = Window.partitionBy("event_type")
    idx = h.select(
        "event_type",
        "y",
        F.row_number().over(wt.orderBy("hour")).cast("long").alias("rn"),
        F.count(F.lit(1)).over(wt).cast("long").alias("t"),
    )
    lvl = (
        idx.filter(
            F.col("rn")
            <= F.expr("shiftleft(1, length(bin(t)) - 1)")
        )
        .select(
            "event_type", F.col("rn").alias("i"), F.col("y").alias("s")
        )
        .localCheckpoint()
    )
    engs = []
    for k in range(1, _HW_LEVELS + 1):
        nxt = (
            lvl.groupBy("event_type", F.expr("(i + 1) div 2").alias("i"))
            .agg(
                F.sum("s").cast("long").alias("s"),
                F.sum(
                    F.when(F.col("i") % 2 == 1, F.col("s")).otherwise(
                        -F.col("s")
                    )
                )
                .cast("long")
                .alias("d"),
            )
            .localCheckpoint()
        )
        engs.append(
            nxt.groupBy("event_type").agg(
                F.sum(F.col("d") * F.col("d")).cast("long").alias("e_num"),
                F.count(F.lit(1)).cast("long").alias("n_coeff"),
            ).select(
                "event_type",
                F.lit(k).alias("level"),
                "e_num",
                "n_coeff",
                (F.col("e_num") * (1 << (_HW_LEVELS - k))).alias("w_num"),
            )
        )
        lvl = nxt.select("event_type", "i", "s")
    eng = engs[0]
    for e2 in engs[1:]:
        eng = eng.unionByName(e2)
    eng = eng.localCheckpoint()
    tot = eng.groupBy(F.col("event_type").alias("et2")).agg(
        F.sum("w_num").cast("long").alias("t_num")
    )
    return eng.join(tot, eng.event_type == F.col("et2")).select(
        "event_type",
        "level",
        "n_coeff",
        F.round(
            F.col("e_num").cast("double")
            / F.expr("cast(shiftleft(1, level) AS DOUBLE)"),
            6,
        ).alias("energy"),
        F.when(
            F.col("t_num") > 0,
            F.expr("w_num * 1000000 div t_num") / 1e6,
        ).alias("energy_share"),
    )


# --- Wave 73: pinball-loss forecast evaluation ---------------------------------------

_PIN_Q10 = (1, 5, 9)  # quantile levels x10
_PIN_SEASON = 24


@query(
    "pinball_loss_forecast_eval",
    oracle=f"""
    WITH h AS (
      SELECT event_type, date_trunc('hour', ts) AS hour,
             cast(count(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    idx AS (
      SELECT event_type, y,
             row_number() OVER (PARTITION BY event_type ORDER BY hour)
               AS rn
      FROM h
    ),
    sc AS (
      SELECT a.event_type, a.y - b.y AS d
      FROM idx a JOIN idx b
        ON b.event_type = a.event_type
       AND b.rn = a.rn - {_PIN_SEASON}
    ),
    qs AS (SELECT unnest([{", ".join(str(q) for q in _PIN_Q10)}]) AS q10),
    l AS (
      SELECT sc.event_type, qs.q10,
             cast(count(*) AS BIGINT) AS n,
             cast(sum(greatest(qs.q10 * sc.d, (qs.q10 - 10) * sc.d))
                  AS BIGINT) AS num
      FROM sc, qs
      GROUP BY 1, 2
    )
    SELECT event_type, q10 / 10.0::DOUBLE AS quantile, n AS n_scored,
           (num * 1000000 // (10 * n)) / 1e6 AS pinball_loss
    FROM l
    """,
)
def pinball_loss_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinball (quantile) loss of the seasonal-naive hourly forecast at
    q = 0.1 / 0.5 / 0.9 per event type — the metric that scores a
    PROBABILISTIC forecast claim: q=0.5 recovers half the MAE that
    seasonal_naive_mase reports, and the q=0.1 vs q=0.9 asymmetry says
    whether the lag-24 predictor under- or over-shoots its tails (the
    M5-competition evaluation discipline).

    Exactness: forecast errors d = y_t - y_(t-24) are exact integers
    (one rank self-join on the hour grid), and the pinball sum is pure
    integer arithmetic — max(q10 d, (q10-10) d) with the x10 quantile
    kept integral, denominator folded into the final integer-division
    truncation. No floats anywhere before the display ratio.

    Scale: one fact rollup; the scoring join and the 3x quantile
    expansion live on the hour grid."""
    ev = T(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    wrn = Window.partitionBy("event_type").orderBy("hour")
    idx = h.select(
        "event_type", "y", F.row_number().over(wrn).cast("long").alias("rn")
    ).localCheckpoint()
    b = idx.select(
        F.col("event_type").alias("et2"),
        F.col("y").alias("yb"),
        F.col("rn").alias("rnb"),
    )
    sc = idx.join(
        b,
        (F.col("event_type") == F.col("et2"))
        & (F.col("rnb") == F.col("rn") - _PIN_SEASON),
    ).select("event_type", (F.col("y") - F.col("yb")).alias("d"))
    one = spark.range(1)
    qs = one.select(
        F.explode(
            F.array(*[F.lit(q) for q in _PIN_Q10])
        ).alias("q10")
    )
    l = (
        sc.crossJoin(F.broadcast(qs))
        .groupBy("event_type", "q10")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                F.greatest(
                    F.col("q10") * F.col("d"),
                    (F.col("q10") - 10) * F.col("d"),
                )
            )
            .cast("long")
            .alias("num"),
        )
    )
    return l.select(
        "event_type",
        (F.col("q10") / F.lit(10.0)).alias("quantile"),
        F.col("n").alias("n_scored"),
        (F.expr("num * 1000000 div (10 * n)") / 1e6).alias(
            "pinball_loss"
        ),
    )


@query(
    "event_props_variant",
    oracle="""
    WITH all_props AS (
      SELECT event_type, props FROM events
      UNION ALL
      SELECT * FROM (VALUES
        ('corrupt_batch', '{"k": oops'),
        ('corrupt_batch', '[1, 2'),
        ('corrupt_batch', 'not json at all')
      ) t(event_type, props)
    )
    SELECT event_type,
           cast(count(*) AS BIGINT) AS n,
           cast(sum(CASE WHEN props IS NULL OR NOT json_valid(props)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
           cast(sum(CASE WHEN json_valid(props)
                    THEN cast(json_extract_string(props, '$.k') AS BIGINT)
                    END) AS BIGINT) AS sum_k,
           round(avg(CASE WHEN json_valid(props)
                     THEN cast(json_extract_string(props, '$.k') AS BIGINT)
                     END), 6) AS avg_k
    FROM all_props
    GROUP BY event_type
    """,
)
def event_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT path for semi-structured data: try_parse_json
    decodes the JSON string into the binary VARIANT encoding (the
    open-format columnar JSON representation; at 100 TB the decode
    happens ONCE at ingest and every downstream extraction is a typed
    O(log fields) binary probe, not a re-parse), variant_get pulls a
    typed field, and — the decode_error-row policy of the multimodal
    module applied to JSON — three injected corrupt payloads become
    NULL variants counted per group, never task failures. DuckDB
    oracles the same semantics via json_valid/json_extract."""
    base = T(spark, sf_dir, "events").select("event_type", "props")
    corrupt = spark.createDataFrame(
        [
            ("corrupt_batch", '{"k": oops'),
            ("corrupt_batch", "[1, 2"),
            ("corrupt_batch", "not json at all"),
        ],
        "event_type string, props string",
    )
    v = base.unionByName(corrupt).select(
        "event_type", F.try_parse_json("props").alias("v")
    )
    k = F.variant_get("v", "$.k", "long")
    return v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("v").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_bad"),
        F.sum(k).cast("long").alias("sum_k"),
        F.round(F.avg(k), 6).alias("avg_k"),
    )
