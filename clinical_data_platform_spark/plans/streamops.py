"""Structured Streaming plan entries — real readStream pipelines executed
to completion with availableNow, returned as batch DataFrames.

hourly counts and dedup-keys have exact SQL oracles (complete-mode windowed
aggregation over a bounded source equals the batch aggregate; the dedup key
SET equals DISTINCT). Session windows are rows-only (interval semantics are
not first-class in the oracle).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..session import tune_session
from ..streaming import events_stream as S
from .registry import query


@query(
    "stream_hourly_counts",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour_start, event_type,
           count(*) AS n, round(sum(value), 2) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def stream_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling-window counts (watermark + window + availableNow):
    over a bounded source in complete mode this must equal the batch
    aggregate — which is exactly what the oracle asserts."""
    tune_session(spark)
    return S.hourly_counts(spark, sf_dir)


@query(
    "stream_dedup_user_type_keys",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def stream_dedup_user_type_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark keys: the set of surviving keys equals
    DISTINCT over the bounded source (single availableNow batch)."""
    tune_session(spark)
    return S.dedup_user_type(spark, sf_dir)


@query(
    "stream_session_windows",
    oracle="""
    WITH o AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), s AS (
      SELECT user_id, ts,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM o
    )
    SELECT user_id,
           min(ts) AS sess_start,
           max(ts) + INTERVAL 30 MINUTE AS sess_end,
           cast(count(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id, sid
    """,
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window aggregation, promoted from rows-only to a full
    oracle (r4 verdict item 7): over a single availableNow batch the final
    complete-mode state is deterministic, and Spark's session merge rule —
    an event extends the session while its time is < previous ts + gap,
    with window end = last ts + gap — is exactly gap-based sessionization,
    which DuckDB expresses as a lag()/cumulative-flag window. Session
    composition is invariant to tie order among equal timestamps (a zero
    gap never splits), so the comparison is deterministic."""
    tune_session(spark)
    return S.session_windows(spark, sf_dir)


def _image_ahash_cte() -> str:
    """The md5-pixel aHash recomputation shared with the batch image
    queries (plans/advanced.py) — the oracle rebuilds the hash bits the
    streaming decode produces."""
    from .advanced import _PX_BYTE

    return f"""
    WITH px AS (
      SELECT d.doc_id, r.j, {_PX_BYTE} AS v
      FROM documents d, range(0, 192) r(j)
    ), g AS (
      SELECT doc_id, j // 3 AS k, cast(sum(v) AS BIGINT) AS gray
      FROM px GROUP BY doc_id, j // 3
    ), t AS (
      SELECT doc_id, cast(sum(gray) AS BIGINT) AS total FROM g GROUP BY doc_id
    ), bits AS (
      SELECT g.doc_id,
             string_agg(CASE WHEN gray * 64 >= total THEN '1' ELSE '0' END,
                        '' ORDER BY k) AS ahash_bits
      FROM g JOIN t USING (doc_id) GROUP BY g.doc_id
    )"""


@query(
    "stream_image_ahash_dedup",
    oracle=_image_ahash_cte()
    + """
    SELECT ahash_bits,
           cast(count(*) AS BIGINT) AS n_docs,
           min(doc_id) AS canonical_doc
    FROM bits GROUP BY ahash_bits
    """,
)
def stream_image_ahash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming perceptual image dedup: file stream -> Arrow-batched
    mapInPandas (REAL BMP decode + integer-exact aHash run inside the
    stream) -> complete-mode aggregation keyed by the hash. State is
    O(distinct hashes); over the bounded availableNow run the final
    state equals the batch group-by, which the oracle recomputes from
    DuckDB's own md5 pixel math."""
    from ..streaming.multimodal_stream import ahash_dedup_groups

    tune_session(spark)
    return ahash_dedup_groups(spark, sf_dir)


@query(
    "stream_user_running_totals",
    oracle="""
    SELECT user_id,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value,
           floor(round(sum(value), 2) / count(*) * 1e6) / 1e6 AS mean_value
    FROM events GROUP BY user_id
    """,
)
def stream_user_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): per-user
    running count/sum/mean held in the state store. Over the bounded corpus
    the final state equals the batch aggregate — asserted by the oracle."""
    from ..streaming.stateful import running_user_totals

    tune_session(spark)
    return running_user_totals(spark, sf_dir)


@query(
    "stream_sliding_counts",
    oracle="""
    WITH expanded AS (
      SELECT unnest([time_bucket(INTERVAL 30 MINUTE, ts),
                     time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE])
                 AS win_start,
             event_type
      FROM events
    )
    SELECT win_start, event_type, count(*) AS n
    FROM expanded GROUP BY 1, 2
    """,
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1h window / 30m slide): every event lands in
    exactly two epoch-aligned windows, which the oracle expands explicitly
    via unnest."""
    out = S.sliding_counts(spark, sf_dir)
    return out.select("win_start", "event_type", "n")


@query(
    "stream_error_click_pairs",
    oracle="""
    SELECT c.user_id, count(*) AS n_pairs
    FROM (SELECT user_id, ts FROM events WHERE event_type = 'click') c
    JOIN (SELECT user_id, ts AS err_ts FROM events
          WHERE event_type = 'error') e
      ON e.user_id = c.user_id
     AND c.ts >= e.err_ts AND c.ts < e.err_ts + INTERVAL 10 MINUTE
    GROUP BY 1
    """,
)
def stream_error_click_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join, EXACTLY oracle-checked: the streaming
    inner join (two watermarked sources, time-bounded condition) must emit
    precisely the pairs the equivalent batch non-equi join produces —
    DuckDB computes that batch join. Pair counts are aggregated batch-side
    after the memory sink so the streaming operator under test is the join
    itself."""
    from ..streaming.events_stream import stream_stream_error_click_join

    pairs = stream_stream_error_click_join(spark, sf_dir)
    return pairs.groupBy(F.col("c_user").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_pairs")
    )


@query(
    "stream_doc_dedup_counts",
    oracle="""
    SELECT source,
           count(DISTINCT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))))
             AS n_unique_docs
    FROM documents
    GROUP BY source
    """,
)
def stream_doc_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus ingestion with exact dedup (file stream ->
    fingerprint -> stateful dropDuplicates -> complete-mode per-source
    counts). Over the bounded corpus the surviving-unique counts equal
    the batch COUNT(DISTINCT fingerprint) — the exact oracle."""
    tune_session(spark)
    return S.dedup_document_counts(spark, sf_dir)


@query(
    "stream_corpus_dedup_state",
    oracle="""
    SELECT source,
           count(*) AS n_seen,
           cast(count(DISTINCT
                  md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))))
                AS BIGINT) AS n_unique
    FROM documents
    GROUP BY source
    """,
)
def stream_corpus_dedup_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming corpus dedup: per-source running
    (seen, unique) counts with a Bloom filter as the state-store payload
    (bounded O(m) state per key). Final state over the bounded corpus
    equals the batch COUNT / COUNT(DISTINCT fingerprint) — the exact
    oracle; see streaming/stateful.py for the determinism argument."""
    from ..streaming.stateful import streaming_corpus_dedup_stats

    tune_session(spark)
    return streaming_corpus_dedup_stats(spark, sf_dir)


@query(
    "stream_value_quantile_sketch",
    oracle="""
    WITH b AS (
      SELECT event_type,
             ceil(round(ln(greatest(value::DOUBLE, 1.0::DOUBLE))
                        / 0.040005334613699206, 6)) AS i,
             count(*) AS cnt
      FROM events GROUP BY 1, 2
    ),
    c AS (
      SELECT event_type, i, cnt,
             sum(cnt) OVER (PARTITION BY event_type ORDER BY i) AS cum,
             sum(cnt) OVER (PARTITION BY event_type) AS n
      FROM b
    )
    SELECT event_type, cast(max(n) AS BIGINT) AS n,
           round(min(CASE WHEN cum >= ceil(0.5::DOUBLE * n) THEN
             2.0::DOUBLE * power(1.0408163265306123, i)
             / 2.0408163265306123 END), 4) AS p50_sketch,
           round(min(CASE WHEN cum >= ceil(0.9::DOUBLE * n) THEN
             2.0::DOUBLE * power(1.0408163265306123, i)
             / 2.0408163265306123 END), 4) AS p90_sketch,
           round(min(CASE WHEN cum >= ceil(0.99::DOUBLE * n) THEN
             2.0::DOUBLE * power(1.0408163265306123, i)
             / 2.0408163265306123 END), 4) AS p99_sketch
    FROM c GROUP BY event_type
    """,
)
def stream_value_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming DDSketch: the (event_type, bin) counter table IS the
    stream's aggregation state (bounded, merges by addition across
    micro-batches), and the quantile fold runs batch-side on the
    materialized state. Over the bounded source the streamed bin table
    equals the batch bin table, so the fold — and therefore every
    reported quantile — is value-verified by the oracle. This is how
    p50/p99 monitoring runs on an unbounded stream without keeping raw
    values: per-group state stays ~160 counters forever."""
    from ..streaming.events_stream import value_quantile_bins
    from .sketches import _DDS_QS, dds_quantiles_from_bins

    tune_session(spark)
    bins = value_quantile_bins(spark, sf_dir)
    sk = dds_quantiles_from_bins(bins, "event_type", _DDS_QS)
    cols = [F.col("event_type"), F.col("n").cast("long").alias("n")]
    for q in _DDS_QS:
        p = int(q * 100)
        cols.append(
            F.round(F.col(f"q{p}_sketch_raw"), 4).alias(f"p{p}_sketch")
        )
    return sk.select(*cols)


@query(
    "stream_value_psi",
    oracle="""
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
      SELECT event_type, ca, cb,
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
    """,
)
def stream_value_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming PSI: input-drift monitoring on an unbounded stream
    without retaining raw values — the (event_type, period, bin) counter
    table is the streaming aggregation state itself (|types| x 10 x 2
    counters, merging across micro-batches by addition), and the PSI
    fold runs batch-side on the materialized state. Over the bounded
    source the streamed bin table equals the batch bin table, so the
    fold — and every reported PSI — is value-verified by the same
    oracle as the batch value_psi_weekly."""
    from ..streaming.events_stream import psi_bins

    tune_session(spark)
    # checkpoint the materialized state: it is consumed three times
    # (grid, ref side, cur side) and memory-sink views raise conflicting-
    # reference errors under self-join lineage; the table is tiny.
    bins = psi_bins(spark, sf_dir).localCheckpoint()
    a = bins.filter(F.col("period") == "ref").select(
        "event_type", "bin", F.col("c").alias("ca")
    )
    b = bins.filter(F.col("period") == "cur").select(
        "event_type", "bin", F.col("c").alias("cb")
    )
    grid = bins.select("event_type").distinct().crossJoin(
        bins.sparkSession.range(10).select(F.col("id").alias("bin"))
    )
    f = (
        grid.join(a, ["event_type", "bin"], "left")
        .join(b, ["event_type", "bin"], "left")
        .select(
            "event_type",
            F.coalesce("ca", F.lit(0)).alias("ca"),
            F.coalesce("cb", F.lit(0)).alias("cb"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("event_type")
    p = (F.col("ca") + 0.5) / (F.sum("ca").over(w) + 5.0)
    q = (F.col("cb") + 0.5) / (F.sum("cb").over(w) + 5.0)
    return (
        f.select("event_type", "ca", "cb", p.alias("p"), q.alias("q"))
        .groupBy("event_type")
        .agg(
            F.sum("ca").cast("long").alias("n_ref"),
            F.sum("cb").cast("long").alias("n_cur"),
            F.round(
                F.sum(
                    (F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))
                ),
                6,
            ).alias("psi"),
        )
    )


_SCMS_D = 4
_SCMS_W = 1024
_SCMS_TOP = 10

_SCMS_HEX6 = (
    "list_sum(list_transform(range(1, 7), k ->"
    " (strpos('0123456789abcdef', substr({h}, k, 1)) - 1)"
    " * (1 << (4 * (6 - k)))))"
)


@query(
    "stream_cms_user_counts",
    oracle=f"""
    WITH exact AS (
      SELECT user_id, count(*) AS exact_cnt FROM events GROUP BY 1
      ORDER BY exact_cnt DESC, user_id LIMIT {_SCMS_TOP}
    ),
    b AS (
      SELECT i,
             {_SCMS_HEX6.format(h="md5(cast(i AS VARCHAR) || '|' || cast(user_id AS VARCHAR))")}
               % {_SCMS_W} AS bucket
      FROM events, unnest(range(0, {_SCMS_D})) AS u(i)
    ),
    sk AS (SELECT i, bucket, count(*) AS c FROM b GROUP BY 1, 2),
    eb AS (
      SELECT e.user_id, e.exact_cnt, u.i,
             {_SCMS_HEX6.format(h="md5(cast(u.i AS VARCHAR) || '|' || cast(e.user_id AS VARCHAR))")}
               % {_SCMS_W} AS bucket
      FROM exact e, unnest(range(0, {_SCMS_D})) AS u(i)
    )
    SELECT cast(eb.user_id AS BIGINT) AS user_id,
           cast(eb.exact_cnt AS BIGINT) AS exact_cnt,
           cast(min(sk.c) AS BIGINT) AS cms_estimate,
           cast(min(sk.c) - eb.exact_cnt AS BIGINT) AS overcount
    FROM eb JOIN sk ON sk.i = eb.i AND sk.bucket = eb.bucket
    GROUP BY eb.user_id, eb.exact_cnt
    """,
)
def stream_cms_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Count-Min heavy hitters: the d x w counter table is
    maintained AS the streaming aggregation state (4 x 1024 counters
    regardless of how many users the stream ever sees — the canonical
    bounded-state frequency monitor), and the point-estimate fold (min
    over hash rows) runs batch-side on the materialized state, probed
    with the exact top-{_SCMS_TOP} users so the one-sided overcount is
    visible per user. Over the bounded source the streamed counters
    equal the batch counters, so every estimate is value-verified by
    the oracle — completing the streaming sketch family next to the
    streaming DDSketch (quantiles) and streaming PSI (drift)."""
    tune_session(spark)
    sketch = S.cms_user_counters(spark, sf_dir, _SCMS_D, _SCMS_W)
    from ..catalog import table as T

    ev = T(spark, sf_dir, "events")
    exact = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), F.asc("user_id"))
        .limit(_SCMS_TOP)
    )
    rows_i = F.array(*[F.lit(i) for i in range(_SCMS_D)])
    h = F.md5(
        F.concat(
            F.col("i").cast("string"),
            F.lit("|"),
            F.col("user_id").cast("string"),
        )
    )
    probe = exact.select(
        "user_id", "exact_cnt", F.explode(rows_i).alias("i")
    ).select(
        "user_id",
        "exact_cnt",
        "i",
        (F.conv(F.substring(h, 1, 6), 16, 10).cast("long") % _SCMS_W).alias(
            "bucket"
        ),
    )
    return (
        probe.join(F.broadcast(sketch), ["i", "bucket"])
        .groupBy("user_id", "exact_cnt")
        .agg(F.min("c").alias("cms_estimate"))
        .select(
            F.col("user_id").cast("long").alias("user_id"),
            F.col("exact_cnt").cast("long").alias("exact_cnt"),
            F.col("cms_estimate").cast("long").alias("cms_estimate"),
            (F.col("cms_estimate") - F.col("exact_cnt"))
            .cast("long")
            .alias("overcount"),
        )
    )


_SEG_HEX6 = (
    "list_sum(list_transform(range(1, 7), k ->"
    " (strpos('0123456789abcdef', substr(md5({x}), k, 1)) - 1)"
    " * (1 << (4 * (6 - k)))))"
)


@query(
    "stream_segment_enriched_counts",
    oracle=f"""
    WITH seg AS (
      SELECT user_id,
             CASE ({_SEG_HEX6.format(x="cast(user_id AS VARCHAR)")}) % 3
                  WHEN 0 THEN 'gold' WHEN 1 THEN 'silver'
                  ELSE 'bronze' END AS segment
      FROM (SELECT DISTINCT user_id FROM events)
    )
    SELECT s.segment, e.event_type,
           cast(count(*) AS BIGINT) AS n,
           round(sum(e.value), 2) AS total_value
    FROM events e JOIN seg s ON s.user_id = e.user_id
    GROUP BY 1, 2
    """,
)
def stream_segment_enriched_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension enrichment: the event stream broadcast-
    joined to a static md5-derived user-segment dim inside the streaming
    query, aggregated per (segment, type) — the pattern every streaming
    feature pipeline uses for dimension lookups. Over the bounded source
    the streamed result equals the batch join+aggregate, which is
    exactly what the oracle asserts. Completes the streaming join
    family: stream-stream (error-click), stream-static (this), and
    stateful (dedup / session / sketch-state)."""
    tune_session(spark)
    return S.segment_enriched_counts(spark, sf_dir)


@query(
    "stream_variant_props_rollup",
    oracle="""
    SELECT event_type,
           cast(count(*) AS BIGINT) AS n,
           cast(sum(CASE WHEN props IS NULL OR NOT json_valid(props)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
           cast(sum(CASE WHEN json_valid(props)
                    THEN cast(json_extract_string(props, '$.k') AS BIGINT)
                    END) AS BIGINT) AS sum_k,
           cast(max(CASE WHEN json_valid(props)
                    THEN cast(json_extract_string(props, '$.k') AS BIGINT)
                    END) AS BIGINT) AS max_k
    FROM events GROUP BY event_type
    """,
)
def stream_variant_props_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT decode inside a structured stream (wave 77's batch twin is
    event_props_variant): try_parse_json + variant_get in the micro-batch
    path, complete-mode rollup over the bounded source equals the batch
    aggregate — and n_bad pins the malformed-payload-to-NULL contract in
    the STREAMING plan, where a throwing decode would kill a micro-batch,
    not a row."""
    tune_session(spark)
    from ..streaming import events_stream as S

    return S.variant_props_rollup(spark, sf_dir)
