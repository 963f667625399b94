"""Data-layout planning ops — the table-maintenance side of a 100 TB
deployment.

Two jobs every large parquet lake runs on a schedule, here expressed as
exactly-oracled plans over synthetic "files":

- ``zone_map_skipping_audit`` quantifies WHY you sort: it lays the same
  rows out as files under arrival order vs sort-key order, computes each
  file's min/max zone map, and reports what fraction of files a band
  predicate can skip under each layout. The delta between the two rows
  is the data-skipping argument for clustering (the same stats parquet
  row groups / Delta file stats / Iceberg manifests keep).
- ``compaction_bin_packing`` plans a small-file compaction: size-ordered
  next-fit binning of per-(day, type) file sizes into target-sized
  output files. The plan runs entirely on the FILE LIST (metadata-sized,
  like a real table manifest), never on row data.

Scale notes: the audit's file assignment needs a total order, which is
intrinsic — assigning rows to sorted files IS a global sort; at scale
that's ``repartitionByRange`` + per-partition offsets, and the point of
the audit is to decide whether that sort pays for itself. The bin
packer's window runs over the manifest, bounded by file count.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..catalog import table as T
from .registry import query

_FILE_ROWS = 1000  # rows per synthetic file in the zone-map audit
_BAND_LO = 100000.0  # band predicate on o_totalprice
_BAND_HI = 150000.0
_BIN_TARGET = 4096  # compaction target size (units = event rows)


@query(
    "zone_map_skipping_audit",
    oracle=f"""
    WITH arrival AS (
      SELECT o_totalprice,
             cast(floor((row_number() OVER (ORDER BY o_orderkey) - 1)
                        / {_FILE_ROWS}) AS BIGINT) AS file_id
      FROM orders
    ), srt AS (
      SELECT o_totalprice,
             cast(floor((row_number() OVER (ORDER BY o_totalprice, o_orderkey)
                         - 1) / {_FILE_ROWS}) AS BIGINT) AS file_id
      FROM orders
    ), files AS (
      SELECT 'arrival' AS layout, file_id,
             min(o_totalprice) AS lo, max(o_totalprice) AS hi,
             cast(count(*) AS BIGINT) AS n_rows
      FROM arrival GROUP BY 2
      UNION ALL
      SELECT 'sorted', file_id, min(o_totalprice), max(o_totalprice),
             cast(count(*) AS BIGINT)
      FROM srt GROUP BY 2
    )
    SELECT layout,
           cast(count(*) AS BIGINT) AS n_files,
           cast(sum(CASE WHEN hi >= {_BAND_LO} AND lo <= {_BAND_HI}
                    THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
           floor((count(*) - sum(CASE WHEN hi >= {_BAND_LO}
                                      AND lo <= {_BAND_HI}
                                 THEN 1 ELSE 0 END))
                 * 1e6 / count(*)) / 1e6 AS skip_fraction,
           cast(sum(CASE WHEN hi >= {_BAND_LO} AND lo <= {_BAND_HI}
                    THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned
    FROM files
    GROUP BY layout
    """,
)
def zone_map_skipping_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (min/max file stats) effectiveness audit: the same
    orders rows bucketed into 1000-row files under (a) arrival order
    (o_orderkey) and (b) sort order (o_totalprice), then for the band
    predicate 100k <= o_totalprice <= 150k, how many files a
    stats-aware scan must read under each layout. Sorted layout
    confines the band to contiguous files; arrival order touches
    nearly all of them — the measured gap is the case for clustering
    the table on its hot predicate column.

    Zone-map intersection [lo,hi] ∩ [band_lo,band_hi] != ∅ is the
    exact parquet row-group pruning rule; all counts are integers and
    skip_fraction is a trunc6 integer ratio, so the audit is
    value-exact cross-engine."""
    o = T(spark, sf_dir, "orders")
    arrival = o.select(
        "o_totalprice",
        F.floor(
            (F.row_number().over(Window.orderBy("o_orderkey")) - 1)
            / _FILE_ROWS
        ).alias("file_id"),
    ).withColumn("layout", F.lit("arrival"))
    srt = o.select(
        "o_totalprice",
        F.floor(
            (
                F.row_number().over(
                    Window.orderBy("o_totalprice", "o_orderkey")
                )
                - 1
            )
            / _FILE_ROWS
        ).alias("file_id"),
    ).withColumn("layout", F.lit("sorted"))
    files = (
        arrival.unionByName(srt)
        .groupBy("layout", "file_id")
        .agg(
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
        )
    )
    hit = F.when(
        (F.col("hi") >= _BAND_LO) & (F.col("lo") <= _BAND_HI), 1
    ).otherwise(0)
    return files.groupBy("layout").agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum(hit).cast("long").alias("files_scanned"),
        (
            F.floor(
                (F.count(F.lit(1)) - F.sum(hit))
                * F.lit(1e6)
                / F.count(F.lit(1))
            )
            / 1e6
        ).alias("skip_fraction"),
        F.sum(F.when(hit == 1, F.col("n_rows")).otherwise(0))
        .cast("long")
        .alias("rows_scanned"),
    )


@query(
    "compaction_bin_packing",
    oracle=f"""
    WITH f AS (
      SELECT date_trunc('day', ts) AS day, event_type,
             cast(count(*) AS BIGINT) AS size_units
      FROM events GROUP BY 1, 2
    ), ordered AS (
      SELECT *,
             coalesce(sum(size_units) OVER (
               ORDER BY size_units DESC, day, event_type
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS cum_before
      FROM f
    ), binned AS (
      SELECT *, cast(floor(cum_before / {_BIN_TARGET}) AS BIGINT) AS bin_id
      FROM ordered
    )
    SELECT bin_id,
           cast(count(*) AS BIGINT) AS n_files,
           cast(sum(size_units) AS BIGINT) AS total_size_units,
           cast(max(size_units) AS BIGINT) AS largest_file,
           floor(sum(size_units) * 1e6 / {_BIN_TARGET}) / 1e6 AS fill_ratio
    FROM binned
    GROUP BY bin_id
    """,
)
def compaction_bin_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction plan: per-(day, event_type) event counts
    stand in for a manifest of small files (size = row count); files
    are packed size-descending into target-size output bins by
    cumulative-sum next-fit — bin = floor(exclusive_cumsum / target) —
    the deterministic, windowable cousin of first-fit-decreasing that
    a distributed planner can compute in one pass over the manifest.
    Output: per output file, how many inputs it merges and how full it
    lands (fill_ratio ~ 1 +- largest_file/target by construction).

    The window runs over the FILE LIST — at 100 TB that's the table
    manifest (thousands of rows), not the data; the data movement the
    plan prescribes is then one repartition keyed by bin_id."""
    f = (
        T(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("day", F.col("ts")).alias("day"), "event_type"
        )
        .agg(F.count(F.lit(1)).cast("long").alias("size_units"))
    )
    w = (
        Window.orderBy(F.desc("size_units"), F.asc("day"), F.asc("event_type"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    binned = f.withColumn(
        "cum_before", F.coalesce(F.sum("size_units").over(w), F.lit(0))
    ).withColumn(
        "bin_id", F.floor(F.col("cum_before") / _BIN_TARGET).cast("long")
    )
    return binned.groupBy("bin_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum("size_units").cast("long").alias("total_size_units"),
        F.max("size_units").cast("long").alias("largest_file"),
        (
            F.floor(F.sum("size_units") * F.lit(1e6) / _BIN_TARGET) / 1e6
        ).alias("fill_ratio"),
    )


# --- Wave 41: Z-order (Morton) clustering audit -------------------------------

_Z_BITS = 12  # 12 bits/dimension covers ~2557 order dates and price/150 bins
_Z_FILE_ROWS = 1000
_Z_EPOCH = "1992-01-01"
_Z_PRICE_SCALE = 150.0
# the 2-D predicate the layouts compete on
_Z_D_LO, _Z_D_HI = "1995-03-01", "1995-05-31"
_Z_P_LO, _Z_P_HI = 100000.0, 150000.0


def _z_interleave_sql(x: str, y: str) -> str:
    """DuckDB: Morton-interleave two _Z_BITS-wide ints (x gets the odd
    bit positions). Pure integer shifts — engine-exact."""
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i})")
    return "(" + " + ".join(terms) + ")"


def _z_interleave_col(x, y):
    """Spark twin of _z_interleave_sql (literal shift counts only)."""
    z = F.lit(0).cast("long")
    for i in range(_Z_BITS):
        z = z + F.shiftleft(
            F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i + 1
        ) + F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i)
    return z


@query(
    "zorder_layout_audit",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey,
             datediff('day', DATE '{_Z_EPOCH}',
                      cast(o_orderdate AS DATE))::BIGINT AS d,
             o_totalprice,
             least(floor(o_totalprice / {_Z_PRICE_SCALE}::DOUBLE),
                   {(1 << _Z_BITS) - 1})::BIGINT AS p
      FROM orders
    ),
    keyed AS (
      SELECT *, {_z_interleave_sql('d', 'p')} AS z FROM base
    ),
    assigned AS (
      SELECT 'date_sorted' AS layout, d, o_totalprice,
             cast(floor((row_number() OVER (ORDER BY d, o_orderkey) - 1)
                        / {_Z_FILE_ROWS}) AS BIGINT) AS file_id
      FROM keyed
      UNION ALL
      SELECT 'price_sorted', d, o_totalprice,
             cast(floor((row_number() OVER
                          (ORDER BY o_totalprice, o_orderkey) - 1)
                        / {_Z_FILE_ROWS}) AS BIGINT)
      FROM keyed
      UNION ALL
      SELECT 'zorder', d, o_totalprice,
             cast(floor((row_number() OVER (ORDER BY z, o_orderkey) - 1)
                        / {_Z_FILE_ROWS}) AS BIGINT)
      FROM keyed
    ),
    files AS (
      SELECT layout, file_id,
             min(d) AS d_lo, max(d) AS d_hi,
             min(o_totalprice) AS p_lo, max(o_totalprice) AS p_hi,
             cast(count(*) AS BIGINT) AS n_rows
      FROM assigned GROUP BY 1, 2
    ),
    flagged AS (
      SELECT *,
             CASE WHEN d_hi >= datediff('day', DATE '{_Z_EPOCH}',
                                        DATE '{_Z_D_LO}')
                   AND d_lo <= datediff('day', DATE '{_Z_EPOCH}',
                                        DATE '{_Z_D_HI}')
                   AND p_hi >= {_Z_P_LO}::DOUBLE
                   AND p_lo <= {_Z_P_HI}::DOUBLE
                  THEN 1 ELSE 0 END AS hit
      FROM files
    )
    SELECT layout,
           cast(count(*) AS BIGINT) AS n_files,
           cast(sum(hit) AS BIGINT) AS files_scanned,
           floor((count(*) - sum(hit)) * 1e6 / count(*)) / 1e6
             AS skip_fraction,
           cast(sum(CASE WHEN hit = 1 THEN n_rows ELSE 0 END) AS BIGINT)
             AS rows_scanned
    FROM flagged
    GROUP BY layout
    """,
)
def zorder_layout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) clustering audit — zone_map_skipping_audit's
    two-dimensional sequel, and the measured argument behind Delta
    OPTIMIZE ZORDER BY / Iceberg sort orders: a single-column sort makes
    one predicate column prunable and leaves the other scattered; bit-
    interleaving both columns into one Morton key gives BOTH range
    predicates locality at once.

    The same orders rows are laid into {rows}-row files under three
    layouts (date-sorted, price-sorted, Z-order of 12-bit day index x
    12-bit price bin), per-file min/max zone maps are kept on BOTH raw
    predicate columns, and a 2-D band predicate (one quarter of 1995 AND
    a price band) is priced under each: files_scanned / skip_fraction /
    rows_scanned per layout.

    Exactness: day index and price bin are integer arithmetic, the
    Morton key is pure shifts/adds, zone-map overlap is integer/double
    comparison, skip_fraction a trunc6 integer ratio — value-identical
    cross-engine. The file assignment's global sort is intrinsic (it IS
    the layout being priced); at scale it's repartitionByRange over the
    Morton key, which is exactly how OPTIMIZE ZORDER executes.""".format(
        rows=_Z_FILE_ROWS
    )
    o = T(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit(_Z_EPOCH).cast("date")
        )
        .cast("long")
        .alias("d"),
        "o_totalprice",
        F.least(
            F.floor(F.col("o_totalprice") / _Z_PRICE_SCALE),
            F.lit((1 << _Z_BITS) - 1),
        )
        .cast("long")
        .alias("p"),
    )
    keyed = base.withColumn(
        "z", _z_interleave_col(F.col("d"), F.col("p"))
    )

    def assign(layout: str, *order_cols) -> DataFrame:
        return keyed.select(
            F.lit(layout).alias("layout"),
            "d",
            "o_totalprice",
            F.floor(
                (F.row_number().over(Window.orderBy(*order_cols)) - 1)
                / _Z_FILE_ROWS
            )
            .cast("long")
            .alias("file_id"),
        )

    assigned = (
        assign("date_sorted", "d", "o_orderkey")
        .unionByName(assign("price_sorted", "o_totalprice", "o_orderkey"))
        .unionByName(assign("zorder", "z", "o_orderkey"))
    )
    files = assigned.groupBy("layout", "file_id").agg(
        F.min("d").alias("d_lo"),
        F.max("d").alias("d_hi"),
        F.min("o_totalprice").alias("p_lo"),
        F.max("o_totalprice").alias("p_hi"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )
    d_lo_band = F.datediff(
        F.lit(_Z_D_LO).cast("date"), F.lit(_Z_EPOCH).cast("date")
    )
    d_hi_band = F.datediff(
        F.lit(_Z_D_HI).cast("date"), F.lit(_Z_EPOCH).cast("date")
    )
    hit = F.when(
        (F.col("d_hi") >= d_lo_band)
        & (F.col("d_lo") <= d_hi_band)
        & (F.col("p_hi") >= _Z_P_LO)
        & (F.col("p_lo") <= _Z_P_HI),
        1,
    ).otherwise(0)
    return files.groupBy("layout").agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum(hit).cast("long").alias("files_scanned"),
        (
            F.floor(
                (F.count(F.lit(1)) - F.sum(hit))
                * F.lit(1e6)
                / F.count(F.lit(1))
            )
            / 1e6
        ).alias("skip_fraction"),
        F.sum(F.when(hit == 1, F.col("n_rows")).otherwise(0))
        .cast("long")
        .alias("rows_scanned"),
    )


# --- Wave 45: consistent-hashing shard rebalance audit -------------------------

_SHARDS_BEFORE = 8
_SHARDS_AFTER = 9

# DuckDB twin of Spark's conv(substring(md5(x),1,6),16,10) — the
# digit-fold whose parity is pinned in plans/trainprep.py/sketches.py.
_HEX6 = (
    "list_sum(list_transform(range(1, 7), k ->"
    " (strpos('0123456789abcdef', substr(md5({x}), k, 1)) - 1)"
    " * (1 << (4 * (6 - k)))))"
)


def _hrw_sql(k: int) -> str:
    h = _HEX6.format(x=f"user_id::VARCHAR || ':' || s::VARCHAR")
    return (
        f"(list_position(list_transform(range(0, {k}), s -> {h}),"
        f" list_max(list_transform(range(0, {k}), s -> {h}))) - 1)"
    )


@query(
    "shard_rebalance_audit",
    oracle=f"""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    a AS (
      SELECT user_id,
             user_id % {_SHARDS_BEFORE} AS mod_before,
             user_id % {_SHARDS_AFTER} AS mod_after,
             {_hrw_sql(_SHARDS_BEFORE)} AS hrw_before,
             {_hrw_sql(_SHARDS_AFTER)} AS hrw_after
      FROM u
    ),
    m AS (
      SELECT 'modulo' AS method,
             cast(count(*) AS BIGINT) AS n_users,
             cast(sum(CASE WHEN mod_before <> mod_after THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_moved,
             cast(max(cnt_after) AS BIGINT) AS max_shard
      FROM a JOIN (
        SELECT mod_after AS sh, count(*) AS cnt_after FROM a GROUP BY 1
      ) c ON c.sh = a.mod_after
      UNION ALL
      SELECT 'rendezvous',
             cast(count(*) AS BIGINT),
             cast(sum(CASE WHEN hrw_before <> hrw_after THEN 1 ELSE 0 END)
                  AS BIGINT),
             cast(max(cnt_after) AS BIGINT)
      FROM a JOIN (
        SELECT hrw_after AS sh, count(*) AS cnt_after FROM a GROUP BY 1
      ) c ON c.sh = a.hrw_after
    )
    SELECT method, n_users, n_moved,
           floor(n_moved * 1e6 / n_users) / 1e6 AS moved_fraction,
           floor(max_shard * 1e6 / n_users) / 1e6 AS max_shard_share
    FROM m
    """,
)
def shard_rebalance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consistent hashing measured (the argument, not the folklore):
    every user is assigned to {kb} shards and then to {ka} under (a)
    modulo hashing and (b) highest-random-weight / rendezvous hashing
    (Thaler & Ravishankar 1998 — the scheme behind most shard routers
    where a ring is overkill). Modulo reassigns ~{kb}/{ka} of all keys
    on scale-out; HRW reassigns ~1/{ka} — the minimum possible — while
    keeping shard sizes balanced. The audit reports both moved fractions
    and the post-rebalance largest-shard share, which is exactly the
    data-movement bill a stateful service (or a bucketed table layout)
    pays for adding one shard.

    HRW per key = argmax over shards of md5(key:shard), computed as one
    map-side array expression (first-index-of-max in BOTH engines, so
    the tie-break is pinned); everything downstream is integer counts.
    One distinct + one aggregate — no joins on the data path.""".format(
        kb=_SHARDS_BEFORE, ka=_SHARDS_AFTER
    )

    def hrw(k: int):
        def h(s):
            return F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":", F.col("user_id").cast("string"),
                            s.cast("string"),
                        )
                    ),
                    1,
                    6,
                ),
                16,
                10,
            ).cast("long")

        hl = F.transform(F.sequence(F.lit(0), F.lit(k - 1)), h)
        return (F.array_position(hl, F.array_max(hl)) - 1).cast("long")

    u = T(spark, sf_dir, "events").select("user_id").distinct()
    a = u.select(
        "user_id",
        (F.col("user_id") % _SHARDS_BEFORE).alias("mod_before"),
        (F.col("user_id") % _SHARDS_AFTER).alias("mod_after"),
        hrw(_SHARDS_BEFORE).alias("hrw_before"),
        hrw(_SHARDS_AFTER).alias("hrw_after"),
    ).localCheckpoint()  # feeds both method rows + both shard-size aggs

    def audit(method: str, before: str, after: str) -> DataFrame:
        sizes = a.groupBy(F.col(after).alias("sh")).agg(
            F.count(F.lit(1)).alias("cnt_after")
        )
        return (
            a.join(F.broadcast(sizes), a[after] == sizes.sh)
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_users"),
                F.sum(
                    F.when(F.col(before) != F.col(after), 1).otherwise(0)
                )
                .cast("long")
                .alias("n_moved"),
                F.max("cnt_after").cast("long").alias("max_shard"),
            )
            .select(F.lit(method).alias("method"), "*")
        )

    m = audit("modulo", "mod_before", "mod_after").unionByName(
        audit("rendezvous", "hrw_before", "hrw_after")
    )
    return m.select(
        "method",
        "n_users",
        "n_moved",
        (F.floor(F.col("n_moved") * F.lit(1e6) / F.col("n_users")) / 1e6)
        .alias("moved_fraction"),
        (F.floor(F.col("max_shard") * F.lit(1e6) / F.col("n_users")) / 1e6)
        .alias("max_shard_share"),
    )


# --- Wave 68: columnar encoding what-if audit ----------------------------------

_ENC_FILE_ROWS = 5000  # arrival "file" slice for per-file run detection


@query(
    "columnar_encoding_audit",
    oracle=f"""
    WITH longf AS (
      SELECT o_orderkey,
             o_orderkey // {_ENC_FILE_ROWS} AS file_id,
             col, val
      FROM (
        SELECT o_orderkey, 'status' AS col, o_orderstatus AS val FROM orders
        UNION ALL
        SELECT o_orderkey, 'priority', o_orderpriority FROM orders
        UNION ALL
        SELECT o_orderkey, 'custkey', cast(o_custkey AS VARCHAR) FROM orders
        UNION ALL
        SELECT o_orderkey, 'day',
               cast(epoch_us(o_orderdate) // 86400000000 AS VARCHAR)
        FROM orders
      )
    ),
    runsrc AS (
      SELECT col, file_id, val,
             lag(val) OVER (PARTITION BY col, file_id
                            ORDER BY o_orderkey) AS pv,
             strlen(val) AS blen
      FROM longf
    ),
    agg AS (
      SELECT col,
             cast(count(*) AS BIGINT) AS n,
             cast(count(DISTINCT val) AS BIGINT) AS d,
             cast(sum(CASE WHEN pv IS NULL OR pv <> val THEN 1 ELSE 0 END)
                  AS BIGINT) AS runs_arrival,
             cast(max(blen) AS BIGINT) AS max_len
      FROM runsrc GROUP BY col
    ),
    sized AS (
      SELECT col, n, d, runs_arrival,
             CASE WHEN col = 'custkey' THEN 8
                  WHEN col = 'day' THEN 4
                  ELSE max_len END AS w,
             CASE WHEN d <= 1 THEN 1
                  ELSE length(bin(d - 1)) END AS idx_bits
      FROM agg
    ),
    enc AS (
      SELECT col, n, d, w, runs_arrival,
             n * w AS plain_b,
             d * w + (n * idx_bits + 7) // 8 AS dict_b,
             runs_arrival * (w + 4) AS rle_arrival_b,
             d * (w + 4) AS rle_sorted_b
      FROM sized
    )
    SELECT col AS column_name, n, d AS n_distinct, w AS width_bytes,
           runs_arrival, plain_b, dict_b, rle_arrival_b, rle_sorted_b,
           CASE WHEN rle_arrival_b <= plain_b AND rle_arrival_b <= dict_b
                THEN 'rle'
                WHEN dict_b <= plain_b THEN 'dict'
                ELSE 'plain' END AS best_arrival,
           (least(plain_b, dict_b, rle_arrival_b) * 1000000 // plain_b)
             / 1e6 AS best_ratio,
           (least(plain_b, dict_b, rle_sorted_b) * 1000000 // plain_b)
             / 1e6 AS sorted_ratio
    FROM enc
    """,
)
def columnar_encoding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What-if audit of columnar encodings per orders column: PLAIN
    (n*w), DICTIONARY (d*w + ceil(n*log2(d))/8 index stream), and RLE
    under the ARRIVAL layout (runs * (w+4)) vs a column-SORTED layout —
    where the run count needs no sort at all: sorted runs == distinct
    count, a closed form. The sorted_ratio - best_ratio gap is the
    encoding-side argument for re-clustering a table, the same estimate
    parquet writers make when choosing encodings per page and the
    companion to zone_map_skipping_audit's scan-side argument.

    Exactness: run boundaries are exact lag() comparisons INSIDE
    arrival files (per-(col, file) windows — no global ordering state),
    dictionary index width uses the engines' shared length(bin(d-1))
    bit-length idiom (never float log2), and every byte count is
    integer algebra with integer-division ratios.

    Scale: one unpivot pass over the fact, windows partitioned by
    (column, file) — the per-file run counts sum associatively, exactly
    like parquet collects them per page."""
    o = T(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority", "o_custkey",
        "o_orderdate",
    )
    longf = o.select(
        "o_orderkey",
        F.expr(f"o_orderkey div {_ENC_FILE_ROWS}").alias("file_id"),
        F.expr(
            "stack(4,"
            " 'status', o_orderstatus,"
            " 'priority', o_orderpriority,"
            " 'custkey', cast(o_custkey AS STRING),"
            " 'day', cast(cast(cast(o_orderdate AS TIMESTAMP) AS LONG)"
            "      div 86400 AS STRING))"
        ).alias("col", "val"),
    )
    wrun = Window.partitionBy("col", "file_id").orderBy("o_orderkey")
    runsrc = longf.select(
        "col",
        "val",
        F.lag("val").over(wrun).alias("pv"),
        F.octet_length("val").alias("blen"),
    )
    agg = runsrc.groupBy("col").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.countDistinct("val").cast("long").alias("d"),
        F.sum(
            F.when(
                F.col("pv").isNull() | (F.col("pv") != F.col("val")), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("runs_arrival"),
        F.max("blen").cast("long").alias("max_len"),
    )
    sized = agg.select(
        "col",
        "n",
        "d",
        "runs_arrival",
        F.when(F.col("col") == "custkey", F.lit(8))
        .when(F.col("col") == "day", F.lit(4))
        .otherwise(F.col("max_len"))
        .cast("long")
        .alias("w"),
        F.when(F.col("d") <= 1, F.lit(1))
        .otherwise(F.length(F.bin(F.col("d") - 1)))
        .cast("long")
        .alias("idx_bits"),
    )
    enc = sized.select(
        "col",
        "n",
        "d",
        "w",
        "runs_arrival",
        (F.col("n") * F.col("w")).alias("plain_b"),
        (
            F.col("d") * F.col("w")
            + F.expr("(n * idx_bits + 7) div 8")
        ).alias("dict_b"),
        (F.col("runs_arrival") * (F.col("w") + 4)).alias("rle_arrival_b"),
        (F.col("d") * (F.col("w") + 4)).alias("rle_sorted_b"),
    )
    return enc.select(
        F.col("col").alias("column_name"),
        "n",
        F.col("d").alias("n_distinct"),
        F.col("w").alias("width_bytes"),
        "runs_arrival",
        "plain_b",
        "dict_b",
        "rle_arrival_b",
        "rle_sorted_b",
        F.when(
            (F.col("rle_arrival_b") <= F.col("plain_b"))
            & (F.col("rle_arrival_b") <= F.col("dict_b")),
            F.lit("rle"),
        )
        .when(F.col("dict_b") <= F.col("plain_b"), F.lit("dict"))
        .otherwise(F.lit("plain"))
        .alias("best_arrival"),
        (
            F.expr(
                "least(plain_b, dict_b, rle_arrival_b) * 1000000"
                " div plain_b"
            )
            / 1e6
        ).alias("best_ratio"),
        (
            F.expr(
                "least(plain_b, dict_b, rle_sorted_b) * 1000000"
                " div plain_b"
            )
            / 1e6
        ).alias("sorted_ratio"),
    )
