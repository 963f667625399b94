"""Graph plans — iterative fixed-point algorithms expressed as
DataFrame join/agg rounds (the near_dup_clusters connected-components
operator's big sibling):

- ``nation_trade_pagerank`` — weighted PageRank over the nation-level
  trade graph (supplier nation -> customer nation, edge weight = lineitem
  count), 5 synchronous iterations, damping 0.85 (Page et al. 1999).

The whole computation — including every iteration — is replicated as a
chained-CTE DuckDB oracle, so the iterative plan is value-verified, not
rows-only. Cross-engine float parity: each iteration's rank is rounded to
12 dp in BOTH engines (log/exp-free rational arithmetic on identical
doubles; the per-node contribution sums are tiny fan-ins, and the 12-dp
round re-synchronizes any sum-order ulps before they can compound across
iterations); the final output rounds to 6 dp.

At 100 TB: the edge list builds from the fact tables with broadcast dims
(the q7 join shape) and is cached once; each iteration is one shuffle —
join ranks on src (node-keyed; broadcastable while the node set is small,
hash-partitioned co-located with the edge list's src partitioning when it
is not) followed by a groupBy(dst) partial/final agg. Rank-table lineage
is truncated per iteration at real iteration counts (localCheckpoint, cf.
operators/bpe.py); at 5 iterations the linear plan growth is harmless.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..catalog import iter_checkpoint
from ..catalog import table as T
from ..functions import driverexact
from .registry import query

_PR_ITERS = 5
_PR_D = 0.85  # damping

# pagerank_frame's driver-replay bound: 500k (src, dst, w) rows is a few
# MB, under the engine's own broadcast standard. The gate itself is
# functions/driverexact.driver_rows.
_GRAPH_LOCAL_MAX_EDGES = 500_000

_EDGES_SQL = """
    e0 AS (
      SELECT n1.n_name AS src, n2.n_name AS dst, count(*) AS w
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
      GROUP BY 1, 2
    ),
    nodes AS (SELECT DISTINCT src AS node FROM e0),
    e AS (
      SELECT e0.src, e0.dst, e0.w,
             sum(e0.w) OVER (PARTITION BY e0.src) AS wout
      FROM e0 JOIN nodes nd ON nd.node = e0.dst
    ),
    n AS (SELECT count(*) AS cnt FROM nodes)
"""


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The directed nation-trade graph every query in this module runs
    on: (src, dst, w) = lineitem count per (supplier nation, customer
    nation), self-loops kept. The TPC-H Q7 join shape — fact tables
    joined on their keys, the 25-row nation dim broadcast to both ends.

    Callers derive their variant after the aggregate (``src != dst``,
    a column subset); Catalyst pushes a grouping-key filter below the
    aggregate and prunes an unused ``w``, so a variant plans exactly as
    if it were built directly."""
    l = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # supplier/customer are DATA-SIZED (SFx10k / SFx150k rows): no broadcast
    # hint — AQE broadcasts them at small SF and shuffles at 100 TB.
    s = T(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    c = T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n1 = F.broadcast(
        T(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("src")
        )
    )
    n2 = F.broadcast(
        T(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("dst")
        )
    )
    return (
        l.join(s, l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n1, F.col("s_nationkey") == F.col("n1_key"))
        .join(n2, F.col("c_nationkey") == F.col("n2_key"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )


def _heavy_pairs(spark: SparkSession, sf_dir: str, factor: float) -> DataFrame:
    """The thresholded undirected trade graph: canonical (a, b, w) pairs
    with a < b, w = trade in both directions, kept where w exceeds
    ``factor`` x the mean pair weight (so the graph is a genuine sparse
    subgraph, not the complete trade clique). The mean is a one-row
    aggregate crossJoined back as a broadcast scalar."""
    und = (
        _trade_edges(spark, sf_dir)
        .filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
            "w",
        )
        .groupBy("a", "b")
        .agg(F.sum("w").alias("w"))
    )
    thresh = und.agg(F.avg("w").alias("avg_w"))
    return (
        und.crossJoin(F.broadcast(thresh))
        .filter(F.col("w") > factor * F.col("avg_w"))
        .select("a", "b", "w")
    )


def _symmetrize(pairs: DataFrame, *cols: str) -> DataFrame:
    """Canonical (a, b, *cols) pairs -> directed (src, dst, *cols) edges,
    both directions (UNION ALL)."""
    return pairs.select(
        F.col("a").alias("src"), F.col("b").alias("dst"), *cols
    ).unionAll(
        pairs.select(F.col("b").alias("src"), F.col("a").alias("dst"), *cols)
    )


def _iter_sql(k: int) -> str:
    return f"""
    it{k} AS (
      SELECT nd.node,
             round(0.15::DOUBLE / (SELECT cnt FROM n)
                   + 0.85::DOUBLE * coalesce(s.contrib, 0), 12) AS r
      FROM nodes nd LEFT JOIN (
        SELECT e.dst AS node, sum(p.r * e.w / e.wout) AS contrib
        FROM e JOIN it{k - 1} p ON p.node = e.src
        GROUP BY e.dst
      ) s ON s.node = nd.node
    )"""


@query(
    "nation_trade_pagerank",
    oracle=(
        "WITH "
        + _EDGES_SQL
        + ",\n    it0 AS (SELECT node, 1.0::DOUBLE / (SELECT cnt FROM n)"
        " AS r FROM nodes)"
        + "".join("," + _iter_sql(k) for k in range(1, _PR_ITERS + 1))
        + f"""
    SELECT node AS nation, round(r, 6) AS pagerank
    FROM it{_PR_ITERS}
    """
    ),
)
def nation_trade_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over nation-to-nation trade, 5 iterations.

    Edge build = the TPC-H Q7 join shape (fact tables, broadcast dims)
    aggregated to a nation-pair weight; the node set is nations with
    outgoing trade, and edges are restricted to that set so every row's
    out-probabilities sum to 1 (no dangling mass by construction). Each
    iteration: ranks join edges on src (the 25-row rank table
    auto-broadcasts; at web-graph node counts the same plan runs
    hash-partitioned on the shared key), groupBy dst sums the damped
    contributions, and a left join back to the node table restores
    rank = (1-d)/N for nodes without in-edges."""
    ranks = pagerank_frame(
        _trade_edges(spark, sf_dir), iters=_PR_ITERS, teleport=0.15
    )
    return ranks.select(
        F.col("node").alias("nation"), F.round("r", 6).alias("pagerank")
    )


def pagerank_frame(
    edges: DataFrame,
    iters: int = _PR_ITERS,
    damping: float = _PR_D,
    teleport: float = 1.0 - _PR_D,
) -> DataFrame:
    """Weighted PageRank over an (src, dst, w) edge frame -> (node, r).

    Node set = sources with out-edges; edges restricted to dst in that
    set so rows' out-probabilities sum to 1 (no dangling mass). The edge
    list and node table are materialized ONCE before iterating via
    localCheckpoint — lineage truncation so each iteration's plan is
    join+agg over the stored edges, not a re-expansion of the upstream
    build (cf. the same pattern in operators/bpe.py for data-dependent
    loops). Per-iteration 12-dp rounding keeps ranks engine-stable for
    the cross-engine oracle; ``teleport`` is a separate literal (not
    computed as 1 - damping) because ``1.0 - 0.85`` and the literal
    ``0.15`` differ by an ulp and the oracle writes the literal."""
    # Below the gate the iteration replays on the driver: the node set,
    # dst semi-join and integer out-weights are exact, and the rank
    # updates use the driverexact replicas. The contribution sum's float
    # order was never pinned by the distributed plan either; the
    # per-round round(x, 12) re-sync is what both engines rely on.
    ecp, tbl = driverexact.driver_rows(edges, _GRAPH_LOCAL_MAX_EDGES)
    if tbl is not None:
        rows0 = [(r["src"], r["dst"], r["w"]) for r in tbl.to_pylist()]
        nlist = sorted({src for src, _, _ in rows0})
        nset = set(nlist)
        erows = [(s, d, w) for s, d, w in rows0 if d in nset]
        wout: dict = {}
        for src, _, w in erows:
            wout[src] = wout.get(src, 0) + w
        cnt = len(nlist)
        r = {nd: 1.0 / cnt for nd in nlist}
        for _ in range(iters):
            contrib: dict = {}
            for src, dst, w in erows:
                contrib[dst] = contrib.get(dst, 0.0) + r[src] * float(
                    w
                ) / float(wout[src])
            r = {
                nd: driverexact.jround(
                    teleport / cnt + damping * contrib.get(nd, 0.0), 12
                )
                for nd in nlist
            }
        t = edges.schema["src"].dataType.simpleString()
        return edges.sparkSession.createDataFrame(
            [(nd, r[nd]) for nd in nlist], f"node {t}, r double"
        )

    nodes = (
        ecp.select(F.col("src").alias("node")).distinct().localCheckpoint()
    )
    e = (
        ecp.join(nodes, ecp.dst == nodes.node, "left_semi")
        .withColumn("wout", F.sum("w").over(Window.partitionBy("src")))
        .localCheckpoint()
    )
    cnt = nodes.count()  # scalar: node-set size

    ranks = nodes.select("node", F.lit(1.0 / cnt).alias("r"))
    for _ in range(iters):
        contrib = (
            e.join(ranks, e.src == ranks.node)
            .groupBy("dst")
            .agg(F.sum(F.col("r") * F.col("w") / F.col("wout")).alias("contrib"))
        )
        ranks = iter_checkpoint(
            nodes.join(contrib, nodes.node == contrib.dst, "left").select(
                "node",
                F.round(
                    F.lit(teleport / cnt)
                    + damping * F.coalesce("contrib", F.lit(0.0)),
                    12,
                ).alias("r"),
            )
        )
    return ranks


_TRI_EDGES_SQL = """
    d0 AS (
      SELECT n1.n_name AS src, n2.n_name AS dst, count(*) AS w
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
      WHERE n1.n_name <> n2.n_name
      GROUP BY 1, 2
    ),
    und AS (
      SELECT least(src, dst) AS a, greatest(src, dst) AS b, sum(w) AS w
      FROM d0 GROUP BY 1, 2
    ),
    thresh AS (SELECT avg(w) AS avg_w FROM und),
    e AS (SELECT a, b FROM und, thresh WHERE w > avg_w)
"""


@query(
    "trade_triangle_counts",
    oracle=(
        "WITH "
        + _TRI_EDGES_SQL
        + """,
    tri AS (
      SELECT e1.a, e1.b, e2.b AS c
      FROM e e1
      JOIN e e2 ON e2.a = e1.b
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    pern AS (
      SELECT a AS nation FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    )
    SELECT nation, cast(count(*) AS BIGINT) AS n_triangles
    FROM pern GROUP BY nation
    """
    ),
)
def trade_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the heavy-trade graph — the classic
    distributed graph motif (clustering-coefficient numerator, community
    density signal). Nation-pair trade weights are symmetrized, edges
    kept where weight exceeds the mean pair weight (so the graph is a
    genuine sparse subgraph, not the complete trade clique), and each
    triangle a<b<c is enumerated exactly once by two ordered equi-joins
    over the canonical edge list; per-node counts come from exploding
    each triangle to its three corners.

    At 100 TB the same two-join plan is the standard approach, with the
    edge list hash-partitioned on the join key and the a<b<c ordering
    doing the dedup work a "count then divide by 6" plan would botch on
    skew. The oracle reproduces edge build, thresholding, and both joins
    verbatim."""
    e = (
        _heavy_pairs(spark, sf_dir, 1.0)
        .select("a", "b")
        .localCheckpoint()  # reused by all three triangle join legs
    )
    e1 = e
    e2 = e.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = e.select(F.col("a").alias("a3"), F.col("b").alias("c3"))
    tri = (
        e1.join(e2, "b")
        .join(
            e3,
            (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")),
        )
        .select("a", "b", "c")
    )
    corners = (
        tri.select(F.col("a").alias("nation"))
        .unionAll(tri.select(F.col("b").alias("nation")))
        .unionAll(tri.select(F.col("c").alias("nation")))
    )
    return corners.groupBy("nation").agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )


@query(
    "customer_hierarchy_depths",
    oracle="""
    WITH RECURSIVE lv AS (
      SELECT c_custkey AS node, 0 AS depth
      FROM customer WHERE c_custkey = 0
      UNION ALL
      SELECT c.c_custkey, lv.depth + 1
      FROM customer c JOIN lv ON lv.node = (c.c_custkey - 1) // 2
      WHERE c.c_custkey >= 1
    )
    SELECT cast(node AS BIGINT) AS node, cast(depth AS BIGINT) AS depth
    FROM lv
    """,
)
def customer_hierarchy_depths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy flattening by POINTER JUMPING (Wyllie 1979) — the
    O(log n)-round answer to "how deep is every node" that a sequential
    parent-walk would take O(depth) dependent steps for: each round,
    every node's ancestor pointer jumps to its ancestor's ancestor and
    the accumulated distance doubles, so ceil(log2 n) self-joins
    flatten any org chart / BOM / category tree. The demo hierarchy is
    the binary-heap parent (i-1)//2 over customer keys (a contiguous
    tree rooted at 0); the root carries a zero-cost self-loop so
    converged pointers are a fixed point, not a special case.

    The ENTIRE iterative chain is value-verified: the oracle computes
    the same depths with a recursive CTE. Per round the state table is
    one self-join on the ancestor key (hash-partitioned; lineage
    truncated per round exactly like PageRank) — at a billion nodes
    that is ~30 shuffles total, which is the whole point."""
    import math

    c = T(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("node")
    )
    n = c.count()  # driver scalar: fixes the data-independent round count
    rounds = max(1, math.ceil(math.log2(max(n, 2))))
    state = c.select(
        "node",
        F.when(F.col("node") == 0, F.col("node"))
        .otherwise(F.floor((F.col("node") - 1) / 2).cast("long"))
        .alias("anc"),
        F.when(F.col("node") == 0, F.lit(0))
        .otherwise(F.lit(1))
        .cast("long")
        .alias("dist"),
    ).localCheckpoint()
    for _ in range(rounds):
        hop = state.select(
            F.col("node").alias("h_node"),
            F.col("anc").alias("h_anc"),
            F.col("dist").alias("h_dist"),
        )
        state = (
            state.join(hop, state["anc"] == hop["h_node"])
            .select(
                "node",
                F.col("h_anc").alias("anc"),
                (F.col("dist") + F.col("h_dist")).alias("dist"),
            )
            .localCheckpoint()
        )
    return state.select(
        "node", F.col("dist").cast("long").alias("depth")
    )


_LP_ITERS = 3

_LP_EDGES_SQL = """
    d0 AS (
      SELECT n1.n_name AS src, n2.n_name AS dst, count(*) AS w
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
      WHERE n1.n_name <> n2.n_name
      GROUP BY 1, 2
    ),
    und AS (
      SELECT least(src, dst) AS a, greatest(src, dst) AS b, sum(w) AS w
      FROM d0 GROUP BY 1, 2
    ),
    thresh AS (SELECT avg(w) AS avg_w FROM und),
    ek AS (SELECT a, b, w FROM und, thresh WHERE w > 1.5::DOUBLE * avg_w),
    esym AS (
      SELECT a AS src, b AS dst, w FROM ek
      UNION ALL SELECT b, a, w FROM ek
    ),
    nodes AS (SELECT DISTINCT src AS node FROM esym)
"""


def _lp_iter_sql(k: int) -> str:
    return f"""
    lp{k} AS (
      SELECT node, label FROM (
        SELECT e.dst AS node, p.label, sum(e.w) AS wt,
               row_number() OVER (PARTITION BY e.dst
                                  ORDER BY sum(e.w) DESC, p.label) AS rn
        FROM esym e JOIN lp{k - 1} p ON p.node = e.src
        GROUP BY e.dst, p.label
      ) WHERE rn = 1
    )"""


@query(
    "label_propagation_communities",
    oracle=(
        "WITH "
        + _LP_EDGES_SQL
        + ",\n    lp0 AS (SELECT node, node AS label FROM nodes)"
        + "".join("," + _lp_iter_sql(k) for k in range(1, _LP_ITERS + 1))
        + f"""
    SELECT f.label AS community,
           cast(count(*) AS BIGINT) AS n_members,
           min(f.node) AS first_member
    FROM lp{_LP_ITERS} f GROUP BY f.label
    """
    ),
)
def label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan et
    al. 2007) on the thresholded nation-trade graph: every node starts
    as its own label, then each round adopts the label carrying the most
    incident edge weight among its neighbors, tie-broken to the
    lexicographically smallest label so every round is deterministic.
    {_LP_ITERS} rounds; output = community sizes.

    The ENTIRE iterative chain is value-verified by a chained-CTE DuckDB
    oracle — possible because the state is (node, label) with integer
    edge weights: no floats anywhere, so no rounding discipline is even
    needed (contrast nation_trade_pagerank's per-iteration 12-dp
    re-sync). Each round is one src-keyed join + one (dst, label)
    partial/final agg + one per-node top-1 window — the same bounded
    shapes as PageRank, with per-iteration localCheckpoint keeping the
    plan linear. At 100 TB: state is |nodes| rows, per-round shuffle is
    edge-bounded; the argmax window partitions by node (never global)."""
    # 1.5x mean keeps only genuinely heavy trade pairs so the graph has
    # actual community structure (at 1.0x it stays near-complete and LP
    # collapses to one label)
    esym = _symmetrize(_heavy_pairs(spark, sf_dir, 1.5), "w").localCheckpoint()
    nodes = esym.select(F.col("src").alias("node")).distinct()
    labels = nodes.select("node", F.col("node").alias("label"))
    w_top = Window.partitionBy("node").orderBy(
        F.desc("wt"), F.asc("label")
    )
    for _ in range(_LP_ITERS):
        labels = (
            esym.join(labels, esym.src == labels.node)
            .groupBy(F.col("dst").alias("node2"), "label")
            .agg(F.sum("w").alias("wt"))
            .select(F.col("node2").alias("node"), "label", "wt")
            .withColumn("rn", F.row_number().over(w_top))
            .filter(F.col("rn") == 1)
            .select("node", "label")
            .localCheckpoint()
        )
    return labels.groupBy(F.col("label").alias("community")).agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.min("node").alias("first_member"),
    )


@query(
    "subtree_value_rollup",
    oracle="""
    WITH RECURSIVE nodes AS (
      SELECT c_custkey AS node,
             cast(round(c_acctbal * 100.0) AS BIGINT) AS cents
      FROM customer
    ), anc AS (
      SELECT node AS descendant, (node - 1) // 2 AS ancestor
      FROM nodes WHERE node >= 1
      UNION ALL
      SELECT a.descendant, (a.ancestor - 1) // 2
      FROM anc a WHERE a.ancestor >= 1
    ), roll AS (
      SELECT a.ancestor AS node,
             cast(count(*) AS BIGINT) AS n_desc,
             cast(sum(d.cents) AS BIGINT) AS desc_cents
      FROM anc a JOIN nodes d ON d.node = a.descendant
      GROUP BY 1
    )
    SELECT n.node,
           cast(1 + coalesce(r.n_desc, 0) AS BIGINT) AS subtree_size,
           cast(n.cents + coalesce(r.desc_cents, 0) AS BIGINT)
             AS subtree_value_cents
    FROM nodes n LEFT JOIN roll r ON r.node = n.node
    """,
)
def subtree_value_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subtree aggregation over the implicit customer hierarchy
    (parent(k) = (k-1)//2): every node's subtree size and total account
    balance — the org-chart / BOM / category-tree rollup ("total
    headcount under each manager") that a sequential parent walk cannot
    parallelize.

    Distributed shape (r9 optimization rewrite): the parent relation is
    a FORMULA — parent(k) = (k-1)//2 — and iterating it has the closed
    form ancestor_j(k) = ((k+1) >> j) - 1 (heap-index algebra; proven
    by induction on (x//2)-1 == (x-2)//2 and exhaustively for k <
    200,000 in the r9 notes), with the chain reaching node 0 at exactly
    j = bit_length(k+1) - 1. So the ancestor-descendant CLOSURE is a
    per-row PROJECTION — one explode of the j-sequence, no joins, no
    iterations — replacing the former 5-round checkpointed relation
    doubling (31 Spark jobs of self-join + union + distinct whose only
    job was to iterate a formula the engine couldn't see). bit_length
    comes from length(bin(x)) — engine-exact, never float log2. The
    closure still has n x depth rows and the rollup is ONE groupBy on
    the ancestor key; values roll up in integer cents, so every sum is
    exact, and the oracle's recursive CTE value-proves the closed form
    (the former doubling was depth-capped at 32; the projection is
    exact at any depth, so it matches the uncapped oracle everywhere).

    At 100 TB: the closure generation is map-side (zero shuffles),
    n log n rows feed one hash aggregation — strictly fewer exchanges
    than any iterative construction."""
    nodes = T(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("node"),
        F.round(F.col("c_acctbal") * 100.0).cast("long").alias("cents"),
    ).localCheckpoint()
    closure = nodes.filter(F.col("node") >= 1).select(
        F.col("node").alias("descendant"),
        F.explode(
            F.expr(
                "transform(sequence(1, length(bin(node + 1)) - 1),"
                " j -> shiftright(node + 1, j) - cast(1 AS BIGINT))"
            )
        ).alias("ancestor"),
    )
    roll = (
        closure.join(
            nodes.select(
                F.col("node").alias("descendant"),
                F.col("cents").alias("d_cents"),
            ),
            "descendant",
        )
        .groupBy("ancestor")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_desc"),
            F.sum("d_cents").cast("long").alias("desc_cents"),
        )
    )
    return (
        nodes.join(roll, nodes["node"] == roll["ancestor"], "left")
        .select(
            "node",
            (1 + F.coalesce("n_desc", F.lit(0))).cast("long").alias(
                "subtree_size"
            ),
            (F.col("cents") + F.coalesce("desc_cents", F.lit(0)))
            .cast("long")
            .alias("subtree_value_cents"),
        )
    )


# --- K-core decomposition by fixed-round peeling -----------------------------

_KC_K = 5
_KC_ROUNDS = 6

_KC_EDGES_SQL = """
    d0 AS (
      SELECT n1.n_name AS src, n2.n_name AS dst, count(*) AS w
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
      WHERE n1.n_name <> n2.n_name
      GROUP BY 1, 2
    ),
    und AS (
      SELECT least(src, dst) AS a, greatest(src, dst) AS b, sum(w) AS w
      FROM d0 GROUP BY 1, 2
    ),
    thresh AS (SELECT avg(w) AS avg_w FROM und),
    ek AS (SELECT a, b FROM und, thresh WHERE w > 1.2::DOUBLE * avg_w),
    esym AS MATERIALIZED (
      SELECT a AS src, b AS dst FROM ek
      UNION ALL SELECT b, a FROM ek
    ),
    s0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM esym)
"""


def _kcore_oracle() -> str:
    rounds = []
    for r in range(1, _KC_ROUNDS + 1):
        rounds.append(f"""s{r} AS MATERIALIZED (
      SELECT e.src AS node
      FROM esym e
      JOIN s{r - 1} a ON a.node = e.src
      JOIN s{r - 1} b ON b.node = e.dst
      GROUP BY e.src
      HAVING count(*) >= {_KC_K}
    )""")
    flags = "\n".join(
        f"    LEFT JOIN s{r} f{r} ON f{r}.node = n.node"
        for r in range(1, _KC_ROUNDS + 1)
    )
    removed = " ".join(
        f"WHEN f{r}.node IS NULL THEN {r}"
        for r in range(1, _KC_ROUNDS + 1)
    )
    last = _KC_ROUNDS
    return (
        "WITH "
        + _KC_EDGES_SQL
        + "".join(",\n    " + r for r in rounds)
        + f""",
    coredeg AS (
      SELECT e.src AS node, cast(count(*) AS BIGINT) AS core_degree
      FROM esym e
      JOIN s{last} a ON a.node = e.src
      JOIN s{last} b ON b.node = e.dst
      GROUP BY e.src
    )
    SELECT n.node,
           (f{last}.node IS NOT NULL) AS in_core,
           CASE {removed} END AS removed_round,
           coredeg.core_degree
    FROM s0 n
{flags}
    LEFT JOIN coredeg ON coredeg.node = n.node
    """
    )


@query(
    "trade_kcore_peeling",
    oracle=_kcore_oracle(),
)
def trade_kcore_peeling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core decomposition (Seidman 1983) of the thresholded
    nation-trade graph by synchronous peeling: every round drops all
    nodes whose degree WITHIN the surviving subgraph is below k=5, and
    the cascade runs for 6 fixed rounds — enough for this graph to
    reach its fixed point (pinned by the pytest recount), while the
    fixed round count keeps both engines computing the identical
    intermediate sets, so the chained-CTE oracle value-verifies the
    whole peeling trajectory. Output: each node's removal round (the
    "peeling depth" — NULL for core members) and its degree inside the
    final core — the standard graph-robustness / influential-node
    screen next to PageRank's flow view and label propagation's
    community view.

    Each round is one edge self-semi-join + degree aggregate (edge-
    bounded shuffle, node-sized state) with catalog.iter_checkpoint
    truncating lineage AND the inherited stats (the self-joining-loop
    trap documented there). At 100 TB: identical shapes; rounds scale
    as the peeling depth, not the node count."""
    esym = _symmetrize(_heavy_pairs(spark, sf_dir, 1.2)).localCheckpoint()
    nodes = esym.select(F.col("src").alias("node")).distinct().localCheckpoint()
    surv = [nodes]
    for _ in range(_KC_ROUNDS):
        prev = surv[-1]
        nxt = iter_checkpoint(
            esym.join(
                prev.withColumnRenamed("node", "src"), "src"
            )
            .join(prev.withColumnRenamed("node", "dst"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") >= _KC_K)
            .select("node")
        )
        surv.append(nxt)
        # Early exit at the fixed point: survivor sets shrink
        # monotonically (nxt is a subset of prev), so equal counts mean
        # equal sets, and peeling a stable set removes nothing — every
        # remaining round is the identity. The oracle's FIXED 6-round
        # chain therefore computes the identical s_r sets; only the
        # wasted post-convergence join rounds are skipped (the state is
        # freshly checkpointed, so the count is free).
        if nxt.count() == prev.count():
            break
    while len(surv) <= _KC_ROUNDS:
        surv.append(surv[-1])
    last = surv[-1]
    coredeg = (
        esym.join(last.withColumnRenamed("node", "src"), "src")
        .join(last.withColumnRenamed("node", "dst"), "dst")
        .groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).cast("long").alias("core_degree"))
    )
    out = nodes
    for r in range(1, _KC_ROUNDS + 1):
        out = out.join(
            surv[r].withColumn(f"in{r}", F.lit(1)), "node", "left"
        )
    removed = None
    for r in range(1, _KC_ROUNDS + 1):
        cond = F.col(f"in{r}").isNull()
        removed = (
            F.when(cond, r) if removed is None else removed.when(cond, r)
        )
    return out.join(coredeg, "node", "left").select(
        "node",
        F.col(f"in{_KC_ROUNDS}").isNotNull().alias("in_core"),
        removed.cast("int").alias("removed_round"),
        "core_degree",
    )


# --- Wave 39: HITS hubs & authorities ----------------------------------------

_HITS_ITERS = 5

# MATERIALIZED throughout: DuckDB's default CTE inlining would re-evaluate
# the 5-way edge build once per reference — 2^iters re-scans of the parquet
# inputs, which both explodes runtime and exhausts file descriptors (the
# same trap trade_kcore_peeling hit; see its plan note).
_HITS_EDGES_SQL = """
    e AS MATERIALIZED (
      SELECT n1.n_name AS src, n2.n_name AS dst, count(*) AS w
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
      GROUP BY 1, 2
    ),
    nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
    h0 AS MATERIALIZED (SELECT node, 1.0::DOUBLE AS h FROM nodes)
"""


def _hits_iter_sql(k: int) -> str:
    return f"""
    a{k}r AS MATERIALIZED (
      SELECT e.dst AS node, sum(p.h * e.w) AS raw
      FROM e JOIN h{k - 1} p ON p.node = e.src GROUP BY 1
    ),
    a{k} AS MATERIALIZED (
      SELECT nd.node,
             round(coalesce(r.raw, 0.0::DOUBLE)
                   / (SELECT max(raw) FROM a{k}r), 12) AS a
      FROM nodes nd LEFT JOIN a{k}r r ON r.node = nd.node
    ),
    h{k}r AS MATERIALIZED (
      SELECT e.src AS node, sum(e.w * q.a) AS raw
      FROM e JOIN a{k} q ON q.node = e.dst GROUP BY 1
    ),
    h{k} AS MATERIALIZED (
      SELECT nd.node,
             round(coalesce(r.raw, 0.0::DOUBLE)
                   / (SELECT max(raw) FROM h{k}r), 12) AS h
      FROM nodes nd LEFT JOIN h{k}r r ON r.node = nd.node
    )"""


@query(
    "trade_hits_scores",
    oracle=(
        "WITH "
        + _HITS_EDGES_SQL
        + ","
        + ",".join(_hits_iter_sql(k) for k in range(1, _HITS_ITERS + 1))
        + f"""
    SELECT a{_HITS_ITERS}.node AS nation,
           round(h{_HITS_ITERS}.h, 6) AS hub,
           round(a{_HITS_ITERS}.a, 6) AS authority
    FROM a{_HITS_ITERS} JOIN h{_HITS_ITERS}
      ON h{_HITS_ITERS}.node = a{_HITS_ITERS}.node
    """
    ),
)
def trade_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs and authorities (Kleinberg 1999) over the weighted
    nation trade graph — PageRank's directional sibling: a nation is a
    strong HUB when it supplies the big buyers and a strong AUTHORITY
    when the big suppliers sell into it, the classic mutual-
    reinforcement pair the single PageRank score conflates.

    {iters} synchronous a/h rounds. Instead of the textbook L2 (or L1)
    normalization — whose norm is itself a float SUM whose partial-agg
    order Spark doesn't pin — each vector is normalized by its MAX,
    which is order-deterministic on identical doubles, leaves the
    ranking and the fixed point's direction unchanged (scaling in HITS
    is arbitrary), and lets the 12-dp per-round rounding re-synchronize
    both engines exactly as in nation_trade_pagerank. Edge list and
    node set localCheckpoint once before the loop; each round is two
    node-keyed join+agg shuffles — broadcastable at this node count,
    hash-co-located at web scale.""".format(iters=_HITS_ITERS)
    e = _trade_edges(spark, sf_dir)
    # r9 optimization: the edge table is |nations|^2-bounded BY
    # CONSTRUCTION, so the a/h rounds replay on the driver with bit-exact
    # scalar replicas (functions/driverexact.py) — the distributed loop
    # was ~50 jobs of 25-row join+window rounds, pure scheduling floor.
    # Max normalizer and round(x, 12) re-sync are unchanged; the raw
    # score sums' float order was never pinned by the distributed plan
    # either (that is exactly what the per-round round-12 absorbs).
    from ..functions.driverexact import jdiv, jround

    erows = [(r["src"], r["dst"], r["w"]) for r in e.collect()]
    nlist = sorted(
        {src for src, _, _ in erows} | {dst for _, dst, _ in erows}
    )
    h = {nd: 1.0 for nd in nlist}
    a: dict = {}
    for _ in range(_HITS_ITERS):
        raw: dict = {}
        for src, dst, w in erows:
            raw[dst] = raw.get(dst, 0.0) + h[src] * float(w)
        mx = max((raw.get(nd, 0.0) for nd in nlist), default=0.0)
        a = {nd: jround(jdiv(raw.get(nd, 0.0), mx), 12) for nd in nlist}
        raw = {}
        for src, dst, w in erows:
            raw[src] = raw.get(src, 0.0) + float(w) * a[dst]
        mx = max((raw.get(nd, 0.0) for nd in nlist), default=0.0)
        h = {nd: jround(jdiv(raw.get(nd, 0.0), mx), 12) for nd in nlist}
    return spark.createDataFrame(
        [(nd, jround(h[nd], 6), jround(a[nd], 6)) for nd in nlist],
        "nation string, hub double, authority double",
    )


# --- Wave 43: common-neighbor link prediction ---------------------------------


@query(
    "trade_link_prediction",
    oracle=(
        "WITH "
        + _LP_EDGES_SQL
        + """,
    deg AS (SELECT src AS node, count(*) AS d FROM esym GROUP BY 1),
    cn AS (
      SELECT e1.src AS a, e2.src AS b, count(*) AS n_common
      FROM esym e1 JOIN esym e2
        ON e1.dst = e2.dst AND e1.src < e2.src
      GROUP BY 1, 2
    ),
    nonedge AS (
      SELECT cn.a, cn.b, cn.n_common
      FROM cn
      WHERE NOT EXISTS (
        SELECT 1 FROM ek WHERE ek.a = cn.a AND ek.b = cn.b
      )
    )
    SELECT ne.a, ne.b,
           cast(ne.n_common AS BIGINT) AS n_common,
           floor(ne.n_common * 1e6 / (da.d + db.d - ne.n_common)) / 1e6
             AS jaccard
    FROM nonedge ne
    JOIN deg da ON da.node = ne.a
    JOIN deg db ON db.node = ne.b
    ORDER BY jaccard DESC, ne.a, ne.b
    LIMIT 10
    """
    ),
)
def trade_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by neighbor-set Jaccard (Liben-Nowell & Kleinberg
    2003) on the thresholded undirected trade graph (the same 1.5x-mean
    edge build as label_propagation_communities): for every NON-adjacent
    node pair sharing at least one neighbor, score = |N(a) cap N(b)| /
    |N(a) cup N(b)| — the "who should be trading but isn't" candidate
    list, and the classic cheap feature under every graph-ML link
    recommender.

    Plan: candidate pairs come from the two-hop self-join on the shared
    neighbor (wedge enumeration — the trade_triangle_counts shape, fan-out
    bounded by degree, never node-count squared), existing edges drop out
    via one left-anti join on the canonical (a < b) edge list, degrees
    arrive from a node-sized aggregate, and the Jaccard is an exact
    integer ratio trunc6'd before the TakeOrdered(10) so the tie-break is
    engine-stable."""
    ek = (
        _heavy_pairs(spark, sf_dir, 1.5)
        .select("a", "b")
        .localCheckpoint()  # feeds esym, the anti-join, and (via esym) deg
    )
    esym = _symmetrize(ek)
    deg = esym.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    e1 = esym.select(F.col("src").alias("a"), F.col("dst").alias("x"))
    e2 = esym.select(F.col("src").alias("b"), F.col("dst").alias("x"))
    cn = (
        e1.join(e2, (e1.x == e2.x) & (F.col("a") < F.col("b")))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    nonedge = cn.join(F.broadcast(ek), ["a", "b"], "left_anti")
    da = F.broadcast(deg.select(F.col("node").alias("a"), F.col("d").alias("da")))
    db = F.broadcast(deg.select(F.col("node").alias("b"), F.col("d").alias("db")))
    return (
        nonedge.join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            F.col("n_common").cast("long").alias("n_common"),
            (
                F.floor(
                    F.col("n_common")
                    * F.lit(1e6)
                    / (F.col("da") + F.col("db") - F.col("n_common"))
                )
                / 1e6
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), F.asc("a"), F.asc("b"))
        .limit(10)
    )


# --- Wave 54: degree assortativity ---------------------------------------------


@query(
    "trade_degree_assortativity",
    oracle=(
        "WITH "
        + _LP_EDGES_SQL
        + """,
    deg AS (SELECT src AS node, cast(count(*) AS BIGINT) AS d
            FROM esym GROUP BY 1),
    de AS (
      SELECT da.d AS du, db.d AS dv
      FROM esym e
      JOIN deg da ON da.node = e.src
      JOIN deg db ON db.node = e.dst
    ),
    s AS (
      SELECT cast(count(*) AS BIGINT) AS m,
             cast(sum(du) AS BIGINT) AS su,
             cast(sum(dv) AS BIGINT) AS sv,
             cast(sum(du * dv) AS BIGINT) AS suv,
             cast(sum(du * du) AS BIGINT) AS su2,
             cast(sum(dv * dv) AS BIGINT) AS sv2
      FROM de
    )
    SELECT m AS n_directed_edges,
           round((m * suv - su * sv)
                 / (sqrt((m * su2 - su * su)::DOUBLE)
                    * sqrt((m * sv2 - sv * sv)::DOUBLE)), 6)
             AS assortativity
    FROM s
    """
    ),
)
def trade_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman 2002) of the thresholded trade
    graph: the Pearson correlation of endpoint degrees over all
    directed edge instances — positive means hubs trade with hubs
    (core-periphery absent), negative means hubs fan out to the
    periphery, the single number that says which scaling regime a graph
    lives in (and hence whether degree-based partitioning will skew).

    Sufficient statistics (M, sum du, sum dv, sum du*dv, sum du^2,
    sum dv^2) are exact integers from one degree join over the
    symmetric edge list; the correlation is one closed-form double
    (each variance factor takes its sqrt separately — the Kendall
    overflow lesson). Same edge build as label_propagation/k-core."""
    esym = _symmetrize(_heavy_pairs(spark, sf_dir, 1.5)).localCheckpoint()
    deg = esym.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    de = (
        esym.join(
            F.broadcast(deg.select(F.col("node").alias("src"), F.col("d").alias("du"))),
            "src",
        )
        .join(
            F.broadcast(deg.select(F.col("node").alias("dst"), F.col("d").alias("dv"))),
            "dst",
        )
    )
    st = de.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("du").cast("long").alias("su"),
        F.sum("dv").cast("long").alias("sv"),
        F.sum(F.col("du") * F.col("dv")).cast("long").alias("suv"),
        F.sum(F.col("du") * F.col("du")).cast("long").alias("su2"),
        F.sum(F.col("dv") * F.col("dv")).cast("long").alias("sv2"),
    )
    num = F.col("m") * F.col("suv") - F.col("su") * F.col("sv")
    den = F.sqrt(
        (F.col("m") * F.col("su2") - F.col("su") * F.col("su")).cast("double")
    ) * F.sqrt(
        (F.col("m") * F.col("sv2") - F.col("sv") * F.col("sv")).cast("double")
    )
    return st.select(
        F.col("m").alias("n_directed_edges"),
        F.round(num / den, 6).alias("assortativity"),
    )


# --- Wave 55: modularity of the label-propagation partition ----------------------


@query(
    "lp_community_modularity",
    oracle=(
        "WITH "
        + _LP_EDGES_SQL
        + ",\n    lp0 AS (SELECT node, node AS label FROM nodes)"
        + "".join("," + _lp_iter_sql(k) for k in range(1, _LP_ITERS + 1))
        + f""",
    lab AS (SELECT node, label FROM lp{_LP_ITERS}),
    wtot AS (SELECT cast(sum(w) AS BIGINT) AS ww FROM esym),
    intra AS (
      SELECT la.label,
             cast(sum(e.w) AS BIGINT) AS w_in
      FROM esym e
      JOIN lab la ON la.node = e.src
      JOIN lab lb ON lb.node = e.dst
      WHERE la.label = lb.label
      GROUP BY 1
    ),
    strength AS (
      SELECT la.label, cast(sum(e.w) AS BIGINT) AS s_c
      FROM esym e JOIN lab la ON la.node = e.src
      GROUP BY 1
    ),
    terms AS (
      SELECT s.label, wtot.ww,
             CAST(floor((coalesce(i.w_in, 0) * 1.0 / wtot.ww
                         - (s.s_c * 1.0 / wtot.ww)
                           * (s.s_c * 1.0 / wtot.ww)) * 1e9) AS BIGINT)
               AS q_fp
      FROM strength s
      LEFT JOIN intra i ON i.label = s.label
      CROSS JOIN wtot
    )
    SELECT cast(count(*) AS BIGINT) AS n_communities,
           floor(sum(q_fp) / 1e3) / 1e6 AS modularity
    FROM terms
    """
    ),
)
def lp_community_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman-Girvan modularity Q of the label-propagation partition —
    the quality score that says whether the communities LP found are
    real structure or noise (Q near 0): Q = sum_c (w_in_c / W -
    (s_c / W)^2) over the symmetric weighted edge list, computed on the
    SAME deterministic 3-round LP labels the oracle chain verifies, so
    the whole pipeline (edge build -> iterations -> partition -> score)
    is value-checked end to end.

    Intra-community weight and community strength come from two label
    joins over the edge list (integer weights — exact); each
    community's Q term is floor-truncated to 1e-9 fixed-point before
    the community-bounded sum. At 100 TB the label joins shuffle on the
    node key like every LP round."""
    esym = _symmetrize(_heavy_pairs(spark, sf_dir, 1.5), "w").localCheckpoint()
    nodes = esym.select(F.col("src").alias("node")).distinct()
    labels = nodes.select("node", F.col("node").alias("label"))
    w_top = Window.partitionBy("node").orderBy(F.desc("wt"), F.asc("label"))
    for _ in range(_LP_ITERS):
        labels = (
            esym.join(labels, esym.src == labels.node)
            .groupBy(F.col("dst").alias("node2"), "label")
            .agg(F.sum("w").alias("wt"))
            .select(F.col("node2").alias("node"), "label", "wt")
            .withColumn("rn", F.row_number().over(w_top))
            .filter(F.col("rn") == 1)
            .select("node", "label")
            .localCheckpoint()
        )
    la = F.broadcast(
        labels.select(F.col("node").alias("src"), F.col("label").alias("l_src"))
    )
    lb = F.broadcast(
        labels.select(F.col("node").alias("dst"), F.col("label").alias("l_dst"))
    )
    joined = esym.join(la, "src").join(lb, "dst").localCheckpoint()
    wtot = joined.agg(F.sum("w").cast("long").alias("ww"))
    intra = (
        joined.filter(F.col("l_src") == F.col("l_dst"))
        .groupBy(F.col("l_src").alias("label"))
        .agg(F.sum("w").cast("long").alias("w_in"))
    )
    strength = joined.groupBy(F.col("l_src").alias("label")).agg(
        F.sum("w").cast("long").alias("s_c")
    )
    terms = (
        strength.join(intra, "label", "left")
        .crossJoin(F.broadcast(wtot))
        .select(
            F.floor(
                (
                    F.coalesce("w_in", F.lit(0)) * F.lit(1.0) / F.col("ww")
                    - (F.col("s_c") * F.lit(1.0) / F.col("ww"))
                    * (F.col("s_c") * F.lit(1.0) / F.col("ww"))
                )
                * F.lit(1e9)
            )
            .cast("long")
            .alias("q_fp")
        )
    )
    return terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_communities"),
        (F.floor(F.sum("q_fp") / F.lit(1e3)) / 1e6).alias("modularity"),
    )


# --- Wave 62: personalized PageRank ------------------------------------------


def _ppr_iter_sql(k: int) -> str:
    return f"""
    pp{k} AS (
      SELECT nd.node,
             round(CASE WHEN nd.node = (SELECT node FROM seed)
                        THEN 0.15::DOUBLE ELSE 0.0::DOUBLE END
                   + 0.85::DOUBLE * coalesce(s.contrib, 0), 12) AS r
      FROM nodes nd LEFT JOIN (
        SELECT e.dst AS node, sum(p.r * e.w / e.wout) AS contrib
        FROM e JOIN pp{k - 1} p ON p.node = e.src
        GROUP BY e.dst
      ) s ON s.node = nd.node
    )"""


@query(
    "personalized_pagerank",
    oracle=(
        "WITH "
        + _EDGES_SQL
        + """,
    seed AS (
      SELECT src AS node FROM e GROUP BY src
      ORDER BY sum(w) DESC, src LIMIT 1
    ),
    pp0 AS (
      SELECT node,
             CASE WHEN node = (SELECT node FROM seed)
                  THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END AS r
      FROM nodes)"""
        + "".join("," + _ppr_iter_sql(k) for k in range(1, _PR_ITERS + 1))
        + f"""
    SELECT node AS nation,
           node = (SELECT node FROM seed) AS is_seed,
           round(r, 6) AS ppr
    FROM pp{_PR_ITERS}
    """
    ),
)
def personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (the random-walk-with-restart kernel behind
    graph-based recommendation and similarity search): identical edge
    build and iteration machinery to nation_trade_pagerank, but ALL
    teleport mass restarts at one seed node — the dominant exporter
    (max total out-weight, ties by name) — so the stationary ranks
    measure proximity TO the seed's trade sphere rather than global
    importance. r0 = indicator(seed); r <- 0.15*indicator + 0.85*walk.

    Same exactness contract as the global variant: per-iteration 12-dp
    rounding re-syncs float sum-order ulps, the teleport literal is
    written identically on both engines, and the seed pick is an
    integer-weight argmax (engine-stable ties by name). Same scale
    shape: checkpointed edge list, rank state node-sized."""
    e0 = _trade_edges(spark, sf_dir)
    # r9 optimization: the edge table is |nations|^2-bounded BY
    # CONSTRUCTION (the explain-audit broadcast standard), so it is
    # collected ONCE and the node set, dst semi-join filter, integer
    # out-weight sums, seed argmax, and the whole 5-round walk replay on
    # the driver with bit-exact scalar replicas
    # (functions/driverexact.py) — the distributed loop was ~40 jobs of
    # 25-row joins, pure scheduling floor. Same teleport literals, same
    # round(x, 12) re-sync.
    from ..functions.driverexact import jround

    rows0 = [(r["src"], r["dst"], r["w"]) for r in e0.collect()]
    nlist = sorted({src for src, _, _ in rows0})
    nset = set(nlist)
    erows = [(src, dst, w) for src, dst, w in rows0 if dst in nset]
    wout: dict = {}
    for src, _, w in erows:
        wout[src] = wout.get(src, 0) + w
    seed_name = min(wout, key=lambda nd: (-wout[nd], nd)) if wout else None
    if seed_name is None:
        return spark.createDataFrame(
            [], "nation string, is_seed boolean, ppr double"
        )
    r = {nd: (1.0 if nd == seed_name else 0.0) for nd in nlist}
    for _ in range(_PR_ITERS):
        contrib: dict = {}
        for src, dst, w in erows:
            contrib[dst] = contrib.get(dst, 0.0) + r[src] * float(w) / float(
                wout[src]
            )
        r = {
            nd: jround(
                (0.15 if nd == seed_name else 0.0)
                + 0.85 * contrib.get(nd, 0.0),
                12,
            )
            for nd in nlist
        }
    return spark.createDataFrame(
        [(nd, nd == seed_name, jround(r[nd], 6)) for nd in nlist],
        "nation string, is_seed boolean, ppr double",
    )


# --- Wave 64: Bradley-Terry pairwise strength --------------------------------

_BT_ITERS = 5


def _bt_iter_sql(k: int) -> str:
    return f"""
    den{k} AS (
      SELECT pr.i,
             cast(sum(cast(floor(pr.n * 1e9 / (a.p + b.p)) AS BIGINT))
                  AS BIGINT) AS den
      FROM prs pr
      JOIN bt{k - 1} a ON a.node = pr.i
      JOIN bt{k - 1} b ON b.node = pr.j
      GROUP BY pr.i
    ),
    raw{k} AS (
      SELECT w.node, w.wins::DOUBLE * 1e9 / d.den AS p
      FROM wtot w JOIN den{k} d ON d.i = w.node
    ),
    mx{k} AS (SELECT max(p) AS mx FROM raw{k}),
    bt{k} AS MATERIALIZED (
      SELECT r.node, round(r.p / m.mx, 12) AS p
      FROM raw{k} r, mx{k} m
    )"""


@query(
    "bradley_terry_trade_strength",
    oracle=(
        """WITH d0 AS (
      SELECT n1.n_name AS src, n2.n_name AS dst, count(*) AS w
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
      WHERE n1.n_name <> n2.n_name
      GROUP BY 1, 2
    )"""
        + f""",
    w AS (
      SELECT src AS i, dst AS j, cast(sum(w) AS BIGINT) AS wins
      FROM d0 GROUP BY 1, 2
    ),
    prs AS MATERIALIZED (
      SELECT a.i, a.j, a.wins + coalesce(b.wins, 0) AS n
      FROM w a LEFT JOIN w b ON b.i = a.j AND b.j = a.i
    ),
    wtot AS MATERIALIZED (
      SELECT i AS node, cast(sum(wins) AS BIGINT) AS wins FROM w GROUP BY 1
    ),
    ltot AS (
      SELECT j AS node, cast(sum(wins) AS BIGINT) AS losses FROM w GROUP BY 1
    ),
    bt0 AS (SELECT node, 1.0::DOUBLE AS p FROM wtot),"""
        + ",".join(_bt_iter_sql(k) for k in range(1, _BT_ITERS + 1))
        + f"""
    SELECT b.node AS nation,
           round(b.p, 6) AS strength,
           w.wins,
           coalesce(l.losses, 0) AS losses,
           floor(w.wins * 1e6 / (w.wins + coalesce(l.losses, 0))) / 1e6
             AS win_rate
    FROM bt{_BT_ITERS} b
    JOIN wtot w ON w.node = b.node
    LEFT JOIN ltot l ON l.node = b.node
    """
    ),
)
def bradley_terry_trade_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry pairwise-strength model (Bradley & Terry 1952) via
    Hunter's (2004) MM iteration on the directed nation-trade graph:
    every supplier->customer lineitem is a "win" for the exporting
    nation, and 5 rounds of p_i <- W_i / sum_j n_ij/(p_i+p_j)
    (max-normalized) recover latent strengths from pairwise outcomes —
    the model behind arena-style LLM eval rankings and sports ELO
    aggregates, here as a distributed join+agg kernel.

    Exactness: wins and pair totals are integers; every MM denominator
    term floors into 1e-9 fixed-point int64 before the per-node sum
    (order-free); the per-round normalizer is a max (order-free) and
    the state re-syncs at 12 dp — the whole 5-round trajectory is
    value-verified by the chained-CTE oracle. Scale: one fact-table
    edge build (the Q7 join shape); everything after is a
    |nations|^2-bounded pair table."""
    w = (
        _trade_edges(spark, sf_dir)
        .filter(F.col("src") != F.col("dst"))
        .select(
            F.col("src").alias("i"),
            F.col("dst").alias("j"),
            F.col("w").alias("wins"),
        )
    )
    # r9 optimization: the pair table is |nations|^2-bounded BY
    # CONSTRUCTION, so Hunter's MM rounds replay on the driver with
    # bit-exact scalar replicas (functions/driverexact.py) — the
    # distributed loop was ~60 jobs of coalesce(1)+localCheckpoint
    # rounds over a <= 600-row state, pure scheduling floor. Every MM
    # denominator term floors into 1e-9 int64 fixed point (order-free
    # integer sums), the normalizer is a max, and the state re-syncs at
    # 12 dp — identical trajectory, pinned by the unchanged chained-CTE
    # oracle at all three SFs.
    from ..functions.driverexact import jfloor_long, jround

    wrows = [(r["i"], r["j"], r["wins"]) for r in w.collect()]
    wmap = {(i, j): wins for i, j, wins in wrows}
    prs = [
        (i, j, wins + wmap.get((j, i), 0)) for i, j, wins in wrows
    ]
    wtot: dict = {}
    ltot: dict = {}
    for i, j, wins in wrows:
        wtot[i] = wtot.get(i, 0) + wins
        ltot[j] = ltot.get(j, 0) + wins
    p = {nd: 1.0 for nd in sorted(wtot)}
    for _ in range(_BT_ITERS):
        # inner-join semantics of the distributed round: a pair row only
        # contributes when BOTH endpoints carry a strength, and a node
        # whose every partner is strength-less drops out of the state
        den: dict = {}
        for i, j, n in prs:
            if i in p and j in p:
                den[i] = den.get(i, 0) + jfloor_long(
                    float(n) * 1e9 / (p[i] + p[j])
                )
        raw = {
            nd: float(wtot[nd]) * 1e9 / float(den[nd])
            for nd in sorted(wtot)
            if nd in den
        }
        if not raw:
            p = {}
            break
        mx = max(raw.values())
        p = {nd: jround(raw[nd] / mx, 12) for nd in raw}
    rows = [
        (
            nd,
            jround(p[nd], 6),
            wtot[nd],
            ltot.get(nd, 0),
            jfloor_long(
                float(wtot[nd]) * 1e6 / float(wtot[nd] + ltot.get(nd, 0))
            )
            / 1e6,
        )
        for nd in sorted(p)
    ]
    return spark.createDataFrame(
        rows,
        "nation string, strength double, wins long, losses long, "
        "win_rate double",
    )


# --- Wave 66: all-pairs shortest paths + closeness centrality -----------------

_CC_ROUNDS = 3  # min-plus squarings: covers paths up to 2^3 = 8 hops

_CC_EDGES_SQL = """
    e0 AS (
      SELECT n1.n_name AS src, n2.n_name AS dst
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
      WHERE n1.n_name <> n2.n_name
      GROUP BY 1, 2
    ),
    und AS (
      SELECT src, dst FROM e0
      UNION
      SELECT dst AS src, src AS dst FROM e0
    ),
    d0 AS (
      SELECT i, j, min(d) AS d FROM (
        SELECT n_name AS i, n_name AS j, 0 AS d FROM nation
        UNION ALL
        SELECT src AS i, dst AS j, 1 AS d FROM und
      ) GROUP BY 1, 2
    )
"""


def _cc_iter_sql(k: int) -> str:
    return f"""
    d{k} AS (
      SELECT a.i, b.j, min(a.d + b.d) AS d
      FROM d{k - 1} a JOIN d{k - 1} b ON a.j = b.i
      GROUP BY 1, 2
    )"""


@query(
    "nation_closeness_centrality",
    oracle=(
        "WITH "
        + _CC_EDGES_SQL
        + "".join("," + _cc_iter_sql(k) for k in range(1, _CC_ROUNDS + 1))
        + f"""
    , fin AS (
      SELECT i, j, d FROM d{_CC_ROUNDS} WHERE i <> j
    )
    SELECT n.n_name AS nation,
           cast(coalesce(count(fin.j), 0) AS BIGINT) AS n_reachable,
           cast(max(fin.d) AS BIGINT) AS eccentricity,
           cast(sum(fin.d) AS BIGINT) AS sum_dist,
           CASE WHEN coalesce(sum(fin.d), 0) > 0
                THEN ((count(fin.j) * 1000000) // sum(fin.d)) / 1e6
           END AS closeness,
           CASE WHEN count(fin.j) > 0
                THEN (cast(sum(1000000000000 // fin.d) AS BIGINT)
                      // 1000000) / 1e6
           END AS harmonic
    FROM nation n LEFT JOIN fin ON fin.i = n.n_name
    GROUP BY 1
    """
    ),
)
def nation_closeness_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closeness + harmonic centrality and eccentricity of every nation
    in the UNDIRECTED trade graph, from exact all-pairs shortest paths
    computed by MIN-PLUS MATRIX SQUARING: D_(2k) = min_m (D_k(i,m) +
    D_k(m,j)), 3 squarings = every shortest path up to 8 hops (the
    25-node trade graph's diameter is far below that; both engines run
    the identical fixed round count, so an undersized bound would still
    compare equal). Distances stay INTEGERS throughout — no float drift
    is possible — and closeness (n_reach / sum d) and harmonic
    (sum 1/d) collapse to integer cross-multiplied truncations
    (1e12 // d per term, order-free integer sums).

    Squaring beats Bellman-Ford rounds when the graph is dense and the
    node set bounded: O(log diameter) joins on a dim-bounded matrix
    instead of O(diameter) passes over a fact-scaled edge list. The
    fact-scaled work is exactly ONE Q7-shaped join to build e0;
    everything after lives on <= |nations|^2 rows.

    Isolated nations (no trade edges) report 0 reachable and NULL
    centralities via the left join against the full nation dim."""
    e0 = (
        _trade_edges(spark, sf_dir)
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
    )
    und = e0.union(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    nations = T(spark, sf_dir, "nation").select("n_name")
    diag = nations.select(
        F.col("n_name").alias("i"),
        F.col("n_name").alias("j"),
        F.lit(0).alias("d"),
    )
    dmat = (
        diag.unionByName(
            und.select(
                F.col("src").alias("i"),
                F.col("dst").alias("j"),
                F.lit(1).alias("d"),
            )
        )
        .groupBy("i", "j")
        .agg(F.min("d").alias("d"))
        .coalesce(1)
        .localCheckpoint()
    )
    for _ in range(_CC_ROUNDS):
        a = dmat.select(
            F.col("i").alias("ai"), F.col("j").alias("am"), F.col("d").alias("ad")
        )
        b = dmat.select(
            F.col("i").alias("bm"), F.col("j").alias("bj"), F.col("d").alias("bd")
        )
        dmat = (
            a.join(b, F.col("am") == F.col("bm"))
            .groupBy(F.col("ai").alias("i"), F.col("bj").alias("j"))
            .agg(F.min(F.col("ad") + F.col("bd")).alias("d"))
            .coalesce(1)
            .localCheckpoint()
        )
    fin = dmat.filter(F.col("i") != F.col("j"))
    per = (
        nations.join(fin, nations.n_name == fin.i, "left")
        .groupBy("n_name")
        .agg(
            F.count("j").cast("long").alias("n_reachable"),
            F.max("d").cast("long").alias("eccentricity"),
            F.sum("d").cast("long").alias("sum_dist"),
            F.sum(F.expr("1000000000000 div d")).cast("long").alias("h_fp"),
        )
    )
    return per.select(
        F.col("n_name").alias("nation"),
        "n_reachable",
        "eccentricity",
        "sum_dist",
        F.when(
            F.coalesce(F.col("sum_dist"), F.lit(0)) > 0,
            F.expr("(n_reachable * 1000000) div sum_dist") / 1e6,
        ).alias("closeness"),
        F.when(
            F.col("n_reachable") > 0,
            F.expr("h_fp div 1000000") / 1e6,
        ).alias("harmonic"),
    )
