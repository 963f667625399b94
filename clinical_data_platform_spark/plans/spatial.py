"""Spatial plans — the grid-bucketed spatial join, expressed in EXACT
integer geometry.

Spark has no native spatial join; a raw distance predicate compiles to
a cartesian product (the same failure mode operators/rangejoin.py fixes
for time intervals). The standard fix — used by every distributed geo
engine (Sedona, GeoMesa): discretize space into grid cells sized >= the
search radius, equi-join each point against its own and adjacent cells,
then refine with the exact distance predicate. Candidates per point are
bounded by local density, never by corpus size.

Exactness across engines is usually the hard part of spatial SQL
(haversine trig ulps flip boundary memberships). Here the geometry is
integer end-to-end: coordinates are 20-bit md5-derived integers on a
2^20 grid, the radius is a power of two, and the refine predicate
dx^2 + dy^2 <= R^2 is exact int64 arithmetic — no float enters the
plan, so the DuckDB oracle matches bit-for-bit by construction.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..catalog import fan_out_scan, iter_checkpoint
from ..catalog import table as T
from ..session import shuffle_partitions
from .registry import query

_R = 1 << 13  # search radius (8192 on the 2^20 grid)
_CELL_SHIFT = 14  # cell width 2^14 >= R, so adjacent cells are lossless

_HEX5_SQL = (
    "list_sum(list_transform(range(1, 6), k ->"
    " (strpos('0123456789abcdef', substr(md5({x}), k, 1)) - 1)"
    " * (1 << (4 * (5 - k)))))"
)


@query(
    "spatial_grid_neighbor_pairs",
    oracle=f"""
    WITH pts AS (
      SELECT c_custkey AS id,
             {_HEX5_SQL.format(x="'x' || cast(c_custkey AS VARCHAR)")} AS x,
             {_HEX5_SQL.format(x="'y' || cast(c_custkey AS VARCHAR)")} AS y
      FROM customer
    )
    SELECT a.id AS id_a, b.id AS id_b,
           cast((a.x - b.x) * (a.x - b.x)
                + (a.y - b.y) * (a.y - b.y) AS BIGINT) AS dist_sq
    FROM pts a JOIN pts b ON a.id < b.id
    WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
          <= {_R} * {_R}
    """,
)
def spatial_grid_neighbor_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All point pairs within radius 8192 on the 2^20 integer grid
    (customers mapped to deterministic md5 coordinates): the
    grid-bucketed spatial join. Each point lands in a 2^14-wide cell
    and is equi-joined against its own and 8 adjacent cells (one side
    exploded to the 3x3 neighborhood), then the EXACT integer predicate
    dx^2 + dy^2 <= R^2 refines candidates. Cell width >= radius makes
    the candidate set provably lossless; the ORACLE runs the exhaustive
    quadratic join, so the green row value-proves the pruning drops
    nothing.

    At 100 TB: one shuffle on the cell key; per-cell candidate work is
    bounded by local density x 9. Skewed hotspots get the same salting
    treatment as any hot join key. This is operators/rangejoin.py's
    pattern lifted from 1-D time to 2-D space."""
    h5 = lambda c: F.conv(  # noqa: E731
        F.substring(F.md5(c), 1, 5), 16, 10
    ).cast("long")
    pts = T(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        h5(F.concat(F.lit("x"), F.col("c_custkey").cast("string"))).alias("x"),
        h5(F.concat(F.lit("y"), F.col("c_custkey").cast("string"))).alias("y"),
    ).localCheckpoint()
    a = pts.select(
        F.col("id").alias("id_a"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
        F.explode(
            F.array(*[F.lit(i) for i in (-1, 0, 1)])
        ).alias("dcx"),
    ).select(
        "id_a",
        "xa",
        "ya",
        ((F.shiftright("xa", _CELL_SHIFT)) + F.col("dcx")).alias("cx"),
        F.explode(F.array(*[F.lit(i) for i in (-1, 0, 1)])).alias("dcy"),
    ).select(
        "id_a",
        "xa",
        "ya",
        "cx",
        ((F.shiftright("ya", _CELL_SHIFT)) + F.col("dcy")).alias("cy"),
    )
    b = pts.select(
        F.col("id").alias("id_b"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        F.shiftright("x", _CELL_SHIFT).alias("bx"),
        F.shiftright("y", _CELL_SHIFT).alias("by"),
    )
    dist_sq = (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")) + (
        F.col("ya") - F.col("yb")
    ) * (F.col("ya") - F.col("yb"))
    return (
        a.join(
            b,
            (F.col("cx") == F.col("bx"))
            & (F.col("cy") == F.col("by"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .filter(dist_sq <= _R * _R)
        .select("id_a", "id_b", dist_sq.cast("long").alias("dist_sq"))
    )


# --- DBSCAN on the integer grid -------------------------------------------
_DB_EPS = 1 << 12  # eps = 4096 on the 2^16 grid
_DB_SHIFT = 12  # cell width 4096 >= eps -> 3x3 cells lossless
_DB_MINPTS = 4  # core iff >= 4 points within eps (self included)
_DB_ROUNDS = 16  # Shiloach-Vishkin hook+shortcut rounds (covers n <= 2^16)

_HEX4_SQL = (
    "list_sum(list_transform(range(1, 5), k ->"
    " (strpos('0123456789abcdef', substr(md5({x}), k, 1)) - 1)"
    " * (1 << (4 * (4 - k)))))"
)


def _dbscan_oracle() -> str:
    """Chained-CTE DBSCAN: quadratic neighbor join (value-proves the
    grid pruning lossless), then 16 fixed hook+shortcut rounds of
    min-label propagation over core-core edges — keyed state stays one
    row per core every round, so the oracle never materializes a
    component's quadratic closure (which a percolated eps-graph would
    make astronomically large)."""
    rounds = []
    prev = "l0"
    for k in range(1, _DB_ROUNDS + 1):
        hook = f"""h{k} AS MATERIALIZED (
      SELECT l.node,
             least(l.lab, coalesce(min(ln.lab), l.lab)) AS lab
      FROM {prev} l
      LEFT JOIN core_edges e ON e.src = l.node
      LEFT JOIN {prev} ln ON ln.node = e.dst
      GROUP BY l.node, l.lab
    )"""
        short = f"""l{k} AS MATERIALIZED (
      SELECT h.node, l2.lab AS lab
      FROM h{k} h JOIN h{k} l2 ON l2.node = h.lab
    )"""
        rounds.append(hook)
        rounds.append(short)
        prev = f"l{k}"
    chain = ",\n    ".join(rounds)
    xa = _HEX4_SQL.format(x="'x' || cast(c_custkey AS VARCHAR)")
    ya = _HEX4_SQL.format(x="'y' || cast(c_custkey AS VARCHAR)")
    return f"""
    WITH pts AS (
      SELECT c_custkey AS id, {xa} AS x, {ya} AS y
      FROM customer
    ), nbr AS MATERIALIZED (
      SELECT a.id AS src, b.id AS dst
      FROM pts a JOIN pts b ON a.id <> b.id
      WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
            <= {_DB_EPS * _DB_EPS}
    ), deg AS (
      SELECT p.id, coalesce(cnt.n, 0) AS nbrs
      FROM pts p LEFT JOIN (
        SELECT src, count(*) AS n FROM nbr GROUP BY 1) cnt
      ON cnt.src = p.id
    ), cores AS (
      SELECT id FROM deg WHERE nbrs + 1 >= {_DB_MINPTS}
    ), core_edges AS MATERIALIZED (
      SELECT n.src, n.dst FROM nbr n
      JOIN cores ca ON ca.id = n.src
      JOIN cores cb ON cb.id = n.dst
    ), l0 AS MATERIALIZED (
      SELECT id AS node, id AS lab FROM cores
    ),
    {chain},
    final AS (SELECT node, lab FROM {prev}),
    border AS (
      SELECT n.src AS id, min(f.lab) AS lab
      FROM nbr n
      JOIN final f ON f.node = n.dst
      WHERE n.src NOT IN (SELECT id FROM cores)
      GROUP BY n.src
    )
    SELECT d.id,
           CASE WHEN f.lab IS NOT NULL THEN 'core'
                WHEN b.lab IS NOT NULL THEN 'border'
                ELSE 'noise' END AS role,
           coalesce(f.lab, b.lab) AS cluster_id,
           cast(d.nbrs AS BIGINT) AS n_neighbors
    FROM deg d
    LEFT JOIN final f ON f.node = d.id
    LEFT JOIN border b ON b.id = d.id
    """


@query(
    "dbscan_grid_clusters",
    oracle=_dbscan_oracle(),
)
def dbscan_grid_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN (Ester et al. 1996) as a fully-distributed composition:
    customers on the 2^16 integer md5 grid, eps = 4096, minPts = 4.
    Neighbor pairs come from the lossless 3x3 grid-cell equi-join (the
    spatial_grid_neighbor_pairs plan); core points are one degree
    aggregate; clusters are connected components of the core-core
    graph via Shiloach-Vishkin rounds (hook to the minimum neighbor
    label, then shortcut lab <- lab[lab]), capped at 16 — enough for
    any component diameter up to 2^16 via the doubling shortcut — with
    an EARLY EXIT once a round changes no label: at the fixed point
    every further hook+shortcut is the identity, so the oracle's fixed
    16-round chain still computes bit-identical labels. Border points
    take the minimum adjacent core label (the deterministic resolution
    of DBSCAN's classic border ambiguity); everything else is noise.

    At 100 TB: one cell-key shuffle for candidates; the edge tables are
    hash-repartitioned by src BEFORE their checkpoints (AQE's
    size-based coalesce otherwise parks the ~40 MB edge list on one
    task and each round runs serial — the 70 s -> 28 s fix at sf0.1);
    each round aggregates the min neighbor label edge-side and joins
    the node-sized result back onto the label state, so the edge list
    is never re-shuffled. Degree and label state are point-sized, with
    lineage truncated via catalog.iter_checkpoint — plain
    localCheckpoint inherits plan statistics and a self-join loop sends
    the driver's stats estimator exponential (see the helper's
    docstring). The oracle's quadratic neighbor join value-proves the
    grid candidates lossless; its keyed label state (one row per core
    per round) is what makes a percolated eps-graph oracle feasible
    where a transitive-closure CTE would blow up quadratically."""
    h4 = lambda c: F.conv(  # noqa: E731
        F.substring(F.md5(c), 1, 4), 16, 10
    ).cast("long")
    pts = (
        fan_out_scan(T(spark, sf_dir, "customer"))
        .select(
            F.col("c_custkey").alias("id"),
            h4(
                F.concat(F.lit("x"), F.col("c_custkey").cast("string"))
            ).alias("x"),
            h4(
                F.concat(F.lit("y"), F.col("c_custkey").cast("string"))
            ).alias("y"),
        )
        .localCheckpoint()
    )
    a = (
        pts.select(
            F.col("id").alias("src"),
            F.col("x").alias("xa"),
            F.col("y").alias("ya"),
            F.explode(F.array(*[F.lit(i) for i in (-1, 0, 1)])).alias("dcx"),
        )
        .select(
            "src",
            "xa",
            "ya",
            (F.shiftright("xa", _DB_SHIFT) + F.col("dcx")).alias("cx"),
            F.explode(F.array(*[F.lit(i) for i in (-1, 0, 1)])).alias("dcy"),
        )
        .select(
            "src",
            "xa",
            "ya",
            "cx",
            (F.shiftright("ya", _DB_SHIFT) + F.col("dcy")).alias("cy"),
        )
    )
    b = pts.select(
        F.col("id").alias("dst"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        F.shiftright("x", _DB_SHIFT).alias("bx"),
        F.shiftright("y", _DB_SHIFT).alias("by"),
    )
    dist_sq = (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")) + (
        F.col("ya") - F.col("yb")
    ) * (F.col("ya") - F.col("yb"))
    parallelism = shuffle_partitions(spark)
    nbr = (
        a.join(
            b,
            (F.col("cx") == F.col("bx"))
            & (F.col("cy") == F.col("by"))
            & (F.col("src") != F.col("dst")),
        )
        .filter(dist_sq <= _DB_EPS * _DB_EPS)
        .select("src", "dst")
        # pin the edge-table fan-out BEFORE the checkpoint: AQE's
        # size-based coalesce otherwise stores the ~40 MB edge list in
        # one partition and every label round runs single-task (the
        # 70 s -> 16 s fix at sf0.1; see PLANS_AUDIT.md)
        .repartition(parallelism, "src")
        .localCheckpoint()
    )
    deg = pts.select("id").join(
        nbr.groupBy("src").agg(F.count(F.lit(1)).alias("n")),
        pts.id == F.col("src"),
        "left",
    ).select("id", F.coalesce("n", F.lit(0)).alias("nbrs"))
    # node-sized state consumed 3x (core filter, border anti-join, final
    # role select) — checkpoint once instead of re-running the degree
    # aggregate per consumer
    deg = deg.localCheckpoint()
    cores = deg.filter(F.col("nbrs") + 1 >= _DB_MINPTS).select("id")
    core_edges = (
        nbr.join(cores.withColumnRenamed("id", "src"), "src")
        .join(cores.withColumnRenamed("id", "dst"), "dst")
        .select("src", "dst")
        .repartition(parallelism, "src")
        .localCheckpoint()
    )
    labels = iter_checkpoint(
        cores.select(F.col("id").alias("node"), F.col("id").alias("lab"))
    )
    for _ in range(_DB_ROUNDS):
        # hook, re-associated (r4): aggregate min neighbor label on the
        # EDGE side first (edges stay hash-partitioned by src from the
        # checkpoint; labels are node-sized and auto-broadcast at these
        # sizes, degrading gracefully to a shuffle join at cluster
        # scale), then left-join the node-sized min table back onto the
        # label state — same per-round result as the labels-spine
        # 3-way join, without shuffling the edge list every round
        minlab = (
            core_edges.alias("e")
            .join(labels.alias("ln"), F.col("ln.node") == F.col("e.dst"))
            .groupBy(F.col("e.src").alias("node"))
            .agg(F.min(F.col("ln.lab")).alias("nbr_lab"))
        )
        hooked = (
            labels.alias("l")
            .join(minlab.alias("hb"), F.col("l.node") == F.col("hb.node"), "left")
            .select(
                F.col("l.node").alias("node"),
                F.least(
                    F.col("l.lab"),
                    F.coalesce(F.col("hb.nbr_lab"), F.col("l.lab")),
                ).alias("lab"),
            )
        )
        prev = labels
        labels = iter_checkpoint(
            hooked.alias("h")
            .join(hooked.alias("l2"), F.col("l2.node") == F.col("h.lab"))
            .select(F.col("h.node").alias("node"), F.col("l2.lab").alias("lab"))
        )
        # Early exit on convergence: both states are checkpointed and
        # node-keyed, so the change count is one cheap join on the small
        # label table. At a fixed point every further hook+shortcut round
        # is the identity, so the oracle's FIXED 16-round chain computes
        # bit-identical labels — exactness is unaffected, only the
        # wasted post-convergence rounds (each a join+agg+checkpoint,
        # the bulk of the 66 s sf0.1 wall clock) are skipped.
        changed = (
            labels.alias("n")
            .join(prev.alias("p"), F.col("n.node") == F.col("p.node"))
            .filter(F.col("n.lab") != F.col("p.lab"))
            .count()
        )
        if changed == 0:
            break
    border = (
        nbr.join(labels, nbr.dst == labels.node)
        .join(cores.withColumnRenamed("id", "src"), "src", "left_anti")
        .groupBy(F.col("src").alias("id"))
        .agg(F.min("lab").alias("blab"))
    )
    return (
        deg.join(
            labels.select(F.col("node").alias("id"), F.col("lab").alias("flab")),
            "id",
            "left",
        )
        .join(border, "id", "left")
        .select(
            "id",
            F.when(F.col("flab").isNotNull(), "core")
            .when(F.col("blab").isNotNull(), "border")
            .otherwise("noise")
            .alias("role"),
            F.coalesce("flab", "blab").alias("cluster_id"),
            F.col("nbrs").cast("long").alias("n_neighbors"),
        )
    )
