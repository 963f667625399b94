"""Corpus collocation / novelty analytics — the vocabulary-level statistics
a training-data pipeline derives from the corpus as a whole (as opposed to
the per-document metrics in :mod:`.corpusqc`):

- ``bigram_pmi_top20``       — pointwise mutual information over word
  bigrams (classic collocation mining; Church & Hanks 1990). The engine
  work: explode to (doc, gram) pairs, two vocabulary-sized aggregations,
  and a vocabulary⋈vocabulary join — all linear in corpus tokens.
- ``ngram_novelty_by_source`` — per-document fraction of distinct word
  3-grams whose FIRST corpus occurrence (min doc_id over the gram) is the
  document itself, aggregated per source. Low novelty = the document is
  mostly restating earlier corpus content — the incremental-dedup signal
  a crawl pipeline uses to decide whether a new batch adds information.

Both have exact DuckDB oracles. Ratios are trunc6 (engine-stable
truncation, see corpusqc header); PMI and averages are ``round(·, 5)``
because their inputs are logs/float sums where truncation cliffs would
amplify sum-order ulps.

At 100 TB: token explosion dominates — shuffled bytes are (doc_id, gram)
pairs, linear in corpus size. Unigram/bigram count tables are
vocabulary-sized (sublinear in corpus growth; Heaps' law), so the PMI
join is vocabulary⋈vocabulary, and the novelty first-occurrence join is
corpus-grams⋈vocabulary on the gram key — an equi-join Spark hash
partitions; no pairwise blowup anywhere. min(doc_id) per gram is a
partial/final aggregate (map-side combine collapses each partition's
grams before the exchange).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..catalog import fan_out_scan, table as T
from ..functions import driverexact
from ..functions.text import tokens, word_shingles
from .corpusqc import _gram_sql, _grams, _trunc6, _TRUNC6
from .registry import query

_MIN_PAIR = 5  # collocation support threshold


def _doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with a MATERIALIZED token array, fanned out to the
    session's shuffle parallelism first (same lesson as
    operators/dedup.py::shingle_table, measured again here: the corpus
    arrives as one file -> one partition, and an inlined tokens() expr
    re-evaluates the regex split per lambda element access — together
    20x slower than repartition + tokenize-once)."""
    return fan_out_scan(
        T(spark, sf_dir, "documents").select("doc_id", "source", "text")
    ).select("doc_id", "source", tokens(F.col("text")).alias("ws"))


@query(
    "bigram_pmi_top20",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
      FROM documents
    ),
    uni AS (
      SELECT w, count(*) AS c
      FROM (SELECT unnest(ws) AS w FROM t)
      GROUP BY w
    ),
    n1 AS (SELECT cast(sum(c) AS BIGINT) AS total FROM uni),
    bg AS (
      SELECT g, count(*) AS c
      FROM (SELECT unnest({_gram_sql(2)}) AS g FROM t)
      GROUP BY g
    ),
    n2 AS (SELECT cast(sum(c) AS BIGINT) AS total FROM bg),
    scored AS (
      SELECT string_split(bg.g, ' ')[1] AS w1,
             string_split(bg.g, ' ')[2] AS w2,
             bg.c AS n_pair,
             ln((bg.c * 1.0 / n2.total)
                / ((u1.c * 1.0 / n1.total) * (u2.c * 1.0 / n1.total)))
               AS pmi
      FROM bg
      JOIN uni u1 ON u1.w = string_split(bg.g, ' ')[1]
      JOIN uni u2 ON u2.w = string_split(bg.g, ' ')[2]
      CROSS JOIN n1
      CROSS JOIN n2
      WHERE bg.c >= {_MIN_PAIR}
    )
    SELECT w1, w2, cast(n_pair AS BIGINT) AS n_pair,
           round(pmi, 5) AS pmi
    FROM scored
    ORDER BY pmi DESC, w1, w2
    LIMIT 20
    """,
)
def bigram_pmi_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 word-bigram collocations by PMI (support >= 5).

    Plan: one scan feeds both the unigram and bigram counts; the support
    filter runs BEFORE the joins so only qualifying bigrams (a tiny set)
    reach the two unigram lookups; corpus-total scalars arrive via
    broadcast single-row cross joins. Top-20 compiles to
    TakeOrderedAndProject."""
    d = _doc_tokens(spark, sf_dir)
    uni = (
        d.select(F.explode("ws").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bg = (
        d.select(F.explode(_grams(F.col("ws"), 2)).alias("g"))
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n1 = uni.agg(F.sum("c").alias("total1"))
    n2 = bg.agg(F.sum("c").alias("total2"))
    parts = F.split(F.col("g"), " ")
    cand = (
        bg.filter(F.col("c") >= _MIN_PAIR)
        .select(
            parts.getItem(0).alias("w1"),
            parts.getItem(1).alias("w2"),
            F.col("c").alias("n_pair"),
        )
        .crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(n2))
    )
    scored = (
        cand.join(
            uni.select(F.col("w").alias("w1"), F.col("c").alias("c1")), "w1"
        )
        .join(
            uni.select(F.col("w").alias("w2"), F.col("c").alias("c2")), "w2"
        )
        .select(
            "w1",
            "w2",
            "n_pair",
            F.log(
                (F.col("n_pair") * 1.0 / F.col("total2"))
                / (
                    (F.col("c1") * 1.0 / F.col("total1"))
                    * (F.col("c2") * 1.0 / F.col("total1"))
                )
            ).alias("pmi"),
        )
    )
    return (
        scored.orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
        .limit(20)
        .select("w1", "w2", "n_pair", F.round("pmi", 5).alias("pmi"))
    )


@query(
    "ngram_novelty_by_source",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source,
             list_distinct({_gram_sql(3)}) AS gs
      FROM (SELECT doc_id, source,
                   string_split_regex(trim(text), '\\s+') AS ws
            FROM documents)
    ),
    ex AS (SELECT doc_id, source, unnest(gs) AS g FROM t),
    firsts AS (SELECT g, min(doc_id) AS first_doc FROM ex GROUP BY g),
    per_doc AS (
      SELECT ex.doc_id, ex.source,
             {_TRUNC6.format(
                 x="sum(CASE WHEN f.first_doc = ex.doc_id"
                   " THEN 1 ELSE 0 END) * 1.0 / count(*)")}
               AS novelty
      FROM ex JOIN firsts f ON f.g = ex.g
      GROUP BY ex.doc_id, ex.source
    )
    SELECT source,
           count(*) AS n_docs,
           round(avg(novelty), 5) AS avg_novelty,
           min(novelty) AS min_novelty
    FROM per_doc
    GROUP BY source
    """,
)
def ngram_novelty_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental novelty: share of each document's distinct 3-grams
    first seen in that document (by min doc_id), rolled up per source.

    Plan note (measured): the obvious shape — join the exploded grams
    back to a min(doc_id)-per-gram table on the GRAM key — is a big⋈big
    string-keyed sort-merge join that took 58 s at sf0.1 (DuckDB: 0.8 s).
    A gram's first occurrence row already names the only document that
    can count it as novel, so the join is unnecessary: aggregate the
    first-occurrence table BY ITS OWNING DOC to get per-doc novel counts,
    and join that k-byte, doc-keyed table to per-doc gram totals. Same
    semantics, no gram-keyed join. Together with the _doc_tokens fan-out
    (the single-file scan otherwise runs the shingle expressions on ONE
    core) this took the query from 58 s to ~1.5 s at sf0.1; at corpus
    scale the surviving exchanges are all keyed by doc_id/gram with
    partial aggregation (map-side combine) ahead of every shuffle."""
    # Explode the shingle EXPRESSION directly (shingle_table's shape).
    # Aliasing the array in its own projection and exploding the column
    # re-evaluates the shingle lambda per EMITTED row (measured 17 s vs
    # 0.5 s here — ~n_grams x the work); direct Generate input does not.
    ex = _doc_tokens(spark, sf_dir).select(
        "doc_id",
        "source",
        F.explode(word_shingles(F.col("ws"), 3)).alias("g"),
    )
    totals = ex.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).alias("n_grams")
    )
    novel = (
        ex.groupBy("g")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    per_doc = (
        totals.join(novel, "doc_id", "left")
        .fillna({"n_novel": 0})
        .select(
            "source",
            _trunc6(F.col("n_novel") * 1.0 / F.col("n_grams")).alias(
                "novelty"
            ),
        )
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("novelty"), 5).alias("avg_novelty"),
        F.min("novelty").alias("min_novelty"),
    )


# --- Bigram-LM perplexity ----------------------------------------------------

_LM_K = 0.5  # add-k smoothing constant


@query(
    "bigram_lm_perplexity",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, string_split_regex(trim(text), '\\s+') AS ws
      FROM documents
    ),
    tr AS (SELECT * FROM t WHERE doc_id % 2 = 0),
    uni AS (
      SELECT w, count(*) AS c1
      FROM (SELECT unnest(ws) AS w FROM tr) GROUP BY w
    ),
    bg AS (
      SELECT g, count(*) AS c2
      FROM (SELECT unnest({_gram_sql(2)}) AS g FROM tr) GROUP BY g
    ),
    v AS (SELECT (count(*) + 1)::DOUBLE AS v FROM uni),
    db AS (SELECT doc_id, lang, unnest({_gram_sql(2)}) AS g FROM t),
    j AS (
      SELECT d.doc_id, d.lang,
             ln((coalesce(bg.c2, 0)::DOUBLE + {_LM_K}::DOUBLE)
                / (coalesce(uni.c1, 0)::DOUBLE
                   + {_LM_K}::DOUBLE * v.v)) AS lp
      FROM db d
      LEFT JOIN bg ON bg.g = d.g
      LEFT JOIN uni ON uni.w = string_split(d.g, ' ')[1]
      CROSS JOIN v
    ),
    pd AS (
      SELECT lang,
             CASE WHEN doc_id % 2 = 0 THEN 'train' ELSE 'heldout' END
               AS split,
             exp(-round(sum(lp) / count(*), 8)) AS ppl
      FROM j GROUP BY lang, doc_id
    )
    SELECT lang, split, cast(count(*) AS BIGINT) AS n_docs,
           round(avg(ppl), 4) AS avg_ppl
    FROM pd GROUP BY lang, split
    """,
)
def bigram_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity quality signal (Wenzek et al. 2020): train
    an add-k-smoothed bigram LM on a deterministic half of the corpus
    (doc_id % 2 = 0), score EVERY document's per-bigram mean log-prob,
    and report average perplexity per (lang, train/heldout split) — the
    held-out rows quantify generalization, exactly how a crawl pipeline
    scores incoming batches against a trusted reference LM.

    Plan: one token scan feeds the unigram/bigram count tables
    (vocabulary-sized; Heaps' law keeps them sublinear in corpus
    growth); scoring is two equi-joins of corpus bigrams against those
    vocab tables plus a broadcast single-row vocab-size scalar — all
    hash-partitionable, no pairwise blowup. The per-doc float sum is
    rounded to 8 dp before exp (engine sum-order re-sync, same as the
    PageRank iteration state)."""
    d = fan_out_scan(
        T(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    ).select("doc_id", "lang", tokens(F.col("text")).alias("ws"))
    train = d.filter(F.col("doc_id") % 2 == 0)
    uni = (
        train.select(F.explode("ws").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    bg = (
        train.select(F.explode(_grams(F.col("ws"), 2)).alias("g"))
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    vocab = uni.agg((F.count(F.lit(1)) + 1).cast("double").alias("v"))
    docbg = d.select(
        "doc_id", "lang", F.explode(_grams(F.col("ws"), 2)).alias("g")
    ).withColumn("w1", F.split(F.col("g"), " ").getItem(0))
    lp = F.log(
        (F.coalesce(F.col("c2"), F.lit(0)).cast("double") + _LM_K)
        / (
            F.coalesce(F.col("c1"), F.lit(0)).cast("double")
            + _LM_K * F.col("v")
        )
    )
    per_doc = (
        docbg.join(bg, "g", "left")
        .join(uni.withColumnRenamed("w", "w1"), "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .groupBy("lang", "doc_id")
        .agg(
            F.exp(
                -F.round(F.sum(lp) / F.count(F.lit(1)), 8)
            ).alias("ppl")
        )
    )
    split = F.when(F.col("doc_id") % 2 == 0, "train").otherwise("heldout")
    return (
        per_doc.withColumn("split", split)
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(F.avg("ppl"), 4).alias("avg_ppl"),
        )
    )


# --- Wave 42: Dunning log-likelihood collocations -----------------------------


@query(
    "dunning_g2_collocations",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
      FROM documents
    ),
    bg AS (
      SELECT string_split(g, ' ')[1] AS w1,
             string_split(g, ' ')[2] AS w2,
             count(*) AS c
      FROM (SELECT unnest({_gram_sql(2)}) AS g FROM t)
      GROUP BY 1, 2
    ),
    lm AS (SELECT w1, cast(sum(c) AS BIGINT) AS lc FROM bg GROUP BY w1),
    rm AS (SELECT w2, cast(sum(c) AS BIGINT) AS rc FROM bg GROUP BY w2),
    n AS (SELECT cast(sum(c) AS BIGINT) AS total FROM bg),
    cells AS (
      SELECT bg.w1, bg.w2, bg.c AS o11,
             lm.lc - bg.c AS o12,
             rm.rc - bg.c AS o21,
             n.total - lm.lc - rm.rc + bg.c AS o22,
             lm.lc AS lc, rm.rc AS rc, n.total AS total
      FROM bg JOIN lm USING (w1) JOIN rm USING (w2) CROSS JOIN n
      WHERE bg.c >= {_MIN_PAIR}
    ),
    scored AS (
      SELECT w1, w2, o11,
             2.0::DOUBLE * (
               (CASE WHEN o11 > 0 THEN o11 * ln(o11 * 1.0 * total / (lc * rc)) ELSE 0.0::DOUBLE END)
             + (CASE WHEN o12 > 0 THEN o12 * ln(o12 * 1.0 * total / (lc * (total - rc))) ELSE 0.0::DOUBLE END)
             + (CASE WHEN o21 > 0 THEN o21 * ln(o21 * 1.0 * total / ((total - lc) * rc)) ELSE 0.0::DOUBLE END)
             + (CASE WHEN o22 > 0 THEN o22 * ln(o22 * 1.0 * total / ((total - lc) * (total - rc))) ELSE 0.0::DOUBLE END)
             ) AS g2
      FROM cells
    )
    SELECT w1, w2, cast(o11 AS BIGINT) AS n_pair, round(g2, 4) AS g2
    FROM scored
    ORDER BY g2 DESC, w1, w2
    LIMIT 20
    """,
)
def dunning_g2_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 collocations by Dunning's log-likelihood ratio (Dunning
    1993) — the statistically honest counterpart to PMI, which
    over-rewards rare pairs (a 5/5 pair outscores a 5000/6000 one); G2
    weighs the evidence by count, so high-volume collocations surface.

    2x2 contingency per bigram in BIGRAM-position marginals (left
    marginal = bigrams starting with w1, right = bigrams ending with
    w2), G2 = 2*sum O*ln(O/E) with the O=0 terms exactly zero.

    Plan: ONE bigram count table feeds the cell counts and both
    marginals (two grouped re-aggregations of the counted table — no
    second corpus scan); the support filter (>= {mp}) runs before the
    marginal joins; every O and margin is an exact integer, ln() runs
    on identical integer-ratio doubles with round4 before the sort so
    the top-20 tie-break is engine-stable; TakeOrderedAndProject caps
    the output.""".format(mp=_MIN_PAIR)
    d = _doc_tokens(spark, sf_dir)
    bg = (
        d.select(F.explode(_grams(F.col("ws"), 2)).alias("g"))
        .select(
            F.split(F.col("g"), " ").getItem(0).alias("w1"),
            F.split(F.col("g"), " ").getItem(1).alias("w2"),
        )
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bg = bg.localCheckpoint()  # feeds cells + both marginals
    lm = bg.groupBy("w1").agg(F.sum("c").cast("long").alias("lc"))
    rm = bg.groupBy("w2").agg(F.sum("c").cast("long").alias("rc"))
    n = bg.agg(F.sum("c").cast("long").alias("total"))
    cells = (
        bg.filter(F.col("c") >= _MIN_PAIR)
        .join(lm, "w1")
        .join(rm, "w2")
        .crossJoin(F.broadcast(n))
        .select(
            "w1",
            "w2",
            F.col("c").alias("o11"),
            (F.col("lc") - F.col("c")).alias("o12"),
            (F.col("rc") - F.col("c")).alias("o21"),
            (F.col("total") - F.col("lc") - F.col("rc") + F.col("c")).alias(
                "o22"
            ),
            "lc",
            "rc",
            "total",
        )
    )

    def term(o, num, den):
        return F.when(
            o > 0, o * F.log(o * F.lit(1.0) * F.col("total") / (num * den))
        ).otherwise(F.lit(0.0))

    tot, lc, rc = F.col("total"), F.col("lc"), F.col("rc")
    g2 = 2.0 * (
        term(F.col("o11"), lc, rc)
        + term(F.col("o12"), lc, tot - rc)
        + term(F.col("o21"), tot - lc, rc)
        + term(F.col("o22"), tot - lc, tot - rc)
    )
    return (
        cells.select(
            "w1",
            "w2",
            F.col("o11").cast("long").alias("n_pair"),
            F.round(g2, 4).alias("g2"),
        )
        .orderBy(F.desc("g2"), F.asc("w1"), F.asc("w2"))
        .limit(20)
    )


# --- Wave 50: spectral centrality of the PPMI co-occurrence graph ---------------

_SPEC_ITERS = 4

# token_spectral_centrality's driver-replay bound: the same 500k-edge
# standard as graphops._GRAPH_LOCAL_MAX_EDGES (pagerank_frame). The gate
# itself is functions/driverexact.driver_rows.
_SPEC_LOCAL_MAX_EDGES = 500_000


def _spec_power_driver(erows: list) -> list:
    """Driver-exact replay of the _SPEC_ITERS max-normalized power
    iterations over the collected symmetric (w1, w2, ppmi) edge list.
    Scalar ops are the bit-exact Spark replicas (jround / jdiv); the
    mat-vec contribution sum's float order was never pinned by the
    distributed plan either — the per-round round(x, 12) re-sync is
    what both engines already rely on (the pagerank_frame precedent).
    Returns the final top-20 (token, loading) rows, Spark-ordered."""
    from ..functions.driverexact import jdiv, jround

    nodes = sorted({w1 for w1, _, _ in erows})
    v = {nd: 1.0 for nd in nodes}
    for _ in range(_SPEC_ITERS):
        raw: dict = {}
        for w1, w2, p in erows:
            raw[w1] = raw.get(w1, 0.0) + p * v[w2]
        mx = max(raw.get(nd, 0.0) for nd in nodes)
        v = {nd: jround(jdiv(raw.get(nd, 0.0), mx), 12) for nd in nodes}
    out = [(nd, jround(v[nd], 6)) for nd in nodes]
    out.sort(key=lambda r: (-r[1], r[0]))
    return out[:20]


def _spec_power_distributed(e: DataFrame, nodes: DataFrame) -> DataFrame:
    """The distributed mat-vec loop (pre-r10 plan, unchanged): one
    node-keyed join + one aggregate per iteration — edge-bounded
    shuffle, vocab-bounded state. Runs above _SPEC_LOCAL_MAX_EDGES."""
    wall = Window.partitionBy()
    v = nodes.select("node", F.lit(1.0).alias("v"))
    for _ in range(_SPEC_ITERS):
        vr = (
            e.join(v, e.w2 == v.node)
            .groupBy("w1")
            .agg(F.sum(F.col("ppmi") * F.col("v")).alias("raw"))
        )
        v = (
            nodes.join(vr, nodes.node == vr.w1, "left")
            .select("node", F.coalesce("raw", F.lit(0.0)).alias("raw"))
            .select(
                "node",
                F.round(F.col("raw") / F.max("raw").over(wall), 12).alias("v"),
            )
        )
    return v

_SPEC_EDGES_SQL = f"""
    t AS MATERIALIZED (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
      FROM documents
    ),
    uni AS MATERIALIZED (
      SELECT w, cast(count(*) AS BIGINT) AS cu
      FROM (SELECT unnest(ws) AS w FROM t) GROUP BY w
    ),
    n1 AS MATERIALIZED (SELECT cast(sum(cu) AS BIGINT) AS total1 FROM uni),
    bg0 AS MATERIALIZED (
      SELECT string_split(g, ' ')[1] AS w1,
             string_split(g, ' ')[2] AS w2,
             count(*) AS c
      FROM (SELECT unnest({{gram}}) AS g FROM t)
      GROUP BY 1, 2
      HAVING string_split(g, ' ')[1] <> string_split(g, ' ')[2]
    ),
    n2 AS MATERIALIZED (SELECT cast(sum(c) AS BIGINT) AS total2 FROM bg0),
    ed AS MATERIALIZED (
      SELECT b.w1, b.w2,
             round(ln((b.c * 1.0 / n2.total2)
                      / ((u1.cu * 1.0 / n1.total1)
                         * (u2.cu * 1.0 / n1.total1))), 9) AS ppmi
      FROM bg0 b
      JOIN uni u1 ON u1.w = b.w1
      JOIN uni u2 ON u2.w = b.w2
      CROSS JOIN n1 CROSS JOIN n2
      WHERE b.c >= {{minc}}
        AND ln((b.c * 1.0 / n2.total2)
               / ((u1.cu * 1.0 / n1.total1)
                  * (u2.cu * 1.0 / n1.total1))) > 0
    ),
    e AS MATERIALIZED (
      SELECT w1, w2, ppmi FROM ed
      UNION ALL SELECT w2, w1, ppmi FROM ed
    ),
    nodes AS MATERIALIZED (SELECT DISTINCT w1 AS node FROM e),
    v0 AS MATERIALIZED (SELECT node, 1.0::DOUBLE AS v FROM nodes)
"""


def _spec_iter_sql(k: int) -> str:
    return f"""
    v{k}r AS MATERIALIZED (
      SELECT e.w1 AS node, sum(e.ppmi * p.v) AS raw
      FROM e JOIN v{k - 1} p ON p.node = e.w2 GROUP BY 1
    ),
    v{k} AS MATERIALIZED (
      SELECT nd.node,
             round(coalesce(r.raw, 0.0::DOUBLE)
                   / (SELECT max(raw) FROM v{k}r), 12) AS v
      FROM nodes nd LEFT JOIN v{k}r r ON r.node = nd.node
    )"""


@query(
    "token_spectral_centrality",
    oracle=(
        "WITH "
        + _SPEC_EDGES_SQL.format(gram=_gram_sql(2), minc=_MIN_PAIR)
        + ","
        + ",".join(_spec_iter_sql(k) for k in range(1, _SPEC_ITERS + 1))
        + f"""
    SELECT node AS token, round(v, 6) AS loading
    FROM v{_SPEC_ITERS}
    ORDER BY loading DESC, token
    LIMIT 20
    """
    ),
)
def token_spectral_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading-eigenvector centrality of the PPMI token co-occurrence
    graph by power iteration — the 1-D version of the spectral token
    embedding behind PMI-SVD word vectors (Levy & Goldberg 2014): build
    the positive-PMI adjacency over adjacent-token pairs (the CLASSIC
    unigram-marginal PMI of bigram_pmi_top20; kept edges need support
    >= {minc} AND PMI > 0, self-loops dropped, then symmetrized — the
    first cut normalized against edge-table marginals, which shifts
    every supported pair negative on near-independent text), then
    iterate v <- A v {it} times. The
    top loadings name the tokens most central to the corpus' strongest
    collocation structure, and the machinery IS the mat-vec kernel any
    spectral embedding needs at scale.

    Exactness: edge PPMI weights are ln() of exact integer ratios
    rounded to 9 dp at birth; each iteration max-normalizes (the
    order-deterministic HITS normalizer — scaling is arbitrary for the
    eigendirection) and re-syncs at 12 dp, so the ENTIRE iteration
    chain is value-verified by a chained MATERIALIZED-CTE oracle (the
    inlining/file-handle lesson from trade_hits_scores). Per iteration:
    one node-keyed join + one partial/final agg — edge-bounded shuffle,
    vocab-bounded state, exactly PageRank's scale shape.""".format(
        minc=_MIN_PAIR, it=_SPEC_ITERS
    )
    d = _doc_tokens(spark, sf_dir)
    uni = (
        d.select(F.explode("ws").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("cu"))
    )
    n1 = uni.agg(F.sum("cu").cast("long").alias("total1"))
    bg = (
        d.select(F.explode(_grams(F.col("ws"), 2)).alias("g"))
        .select(
            F.split(F.col("g"), " ").getItem(0).alias("w1"),
            F.split(F.col("g"), " ").getItem(1).alias("w2"),
        )
        .filter(F.col("w1") != F.col("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n2 = bg.agg(F.sum("c").cast("long").alias("total2"))
    pmi = F.log(
        (F.col("c") * F.lit(1.0) / F.col("total2"))
        / (
            (F.col("cu1") * F.lit(1.0) / F.col("total1"))
            * (F.col("cu2") * F.lit(1.0) / F.col("total1"))
        )
    )
    ed = (
        bg.filter(F.col("c") >= _MIN_PAIR)
        .join(
            F.broadcast(
                uni.select(F.col("w").alias("w1"), F.col("cu").alias("cu1"))
            ),
            "w1",
        )
        .join(
            F.broadcast(
                uni.select(F.col("w").alias("w2"), F.col("cu").alias("cu2"))
            ),
            "w2",
        )
        .crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(n2))
        .filter(pmi > 0)
        .select("w1", "w2", F.round(pmi, 9).alias("ppmi"))
    )
    # r10: symmetrize MAP-SIDE (one explode of the two directions) — the
    # old unionAll re-executed the whole ed subtree (bigram groupBy +
    # broadcast joins) once per branch while materializing e (§2.4
    # remove the repeated pass). Same rows, one execution.
    e = (
        ed.select(
            F.explode(
                F.array(
                    F.struct("w1", "w2", "ppmi"),
                    F.struct(
                        F.col("w2").alias("w1"),
                        F.col("w1").alias("w2"),
                        F.col("ppmi"),
                    ),
                )
            ).alias("s")
        )
        .select("s.*")
    )
    # The PPMI graph is vocab-bounded: below the gate the four power
    # iterations replay on the driver.
    e, tbl = driverexact.driver_rows(e, _SPEC_LOCAL_MAX_EDGES)
    if tbl is not None:
        erows = [(r["w1"], r["w2"], r["ppmi"]) for r in tbl.to_pylist()]
        return spark.createDataFrame(
            _spec_power_driver(erows), "token string, loading double"
        )
    nodes = e.select(F.col("w1").alias("node")).distinct().localCheckpoint()
    v = _spec_power_distributed(e, nodes)
    return (
        v.select(F.col("node").alias("token"), F.round("v", 6).alias("loading"))
        .orderBy(F.desc("loading"), F.asc("token"))
        .limit(20)
    )


# --- Wave 62: Kneser-Ney bigram LM -------------------------------------------

_KN_D = 0.75  # absolute discount


@query(
    "kneser_ney_bigram_lm",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, string_split_regex(trim(text), '\\s+') AS ws
      FROM documents
    ),
    tr AS (SELECT * FROM t WHERE doc_id % 2 = 0),
    bgc AS (
      SELECT string_split(g, ' ')[1] AS w1, string_split(g, ' ')[2] AS w2,
             cast(count(*) AS BIGINT) AS c12
      FROM (SELECT unnest({{g2}}) AS g FROM tr) GROUP BY 1, 2
    ),
    ctx AS (
      SELECT w1, cast(sum(c12) AS BIGINT) AS c1,
             cast(count(*) AS BIGINT) AS n1p_fwd
      FROM bgc GROUP BY w1
    ),
    cont AS (
      SELECT w2, cast(count(*) AS BIGINT) AS n1p_bwd
      FROM bgc GROUP BY w2
    ),
    b AS (SELECT cast(count(*) AS BIGINT) AS bt FROM bgc),
    v AS (SELECT (count(DISTINCT w2) + 1)::DOUBLE AS v FROM bgc),
    db AS (
      SELECT doc_id, lang,
             string_split(g, ' ')[1] AS w1, string_split(g, ' ')[2] AS w2
      FROM (SELECT doc_id, lang, unnest({{g2}}) AS g FROM t)
    ),
    j AS (
      SELECT d.doc_id, d.lang,
             ln(CASE WHEN coalesce(ctx.c1, 0) > 0 THEN
                  greatest(coalesce(bgc.c12, 0) - {_KN_D!r}, 0.0::DOUBLE)
                    / ctx.c1
                  + ({_KN_D!r} * ctx.n1p_fwd / ctx.c1)
                    * ((coalesce(cont.n1p_bwd, 0) + 0.5::DOUBLE)
                       / (b.bt + 0.5::DOUBLE * v.v))
                ELSE (coalesce(cont.n1p_bwd, 0) + 0.5::DOUBLE)
                     / (b.bt + 0.5::DOUBLE * v.v)
                END) AS lp
      FROM db d
      LEFT JOIN bgc ON bgc.w1 = d.w1 AND bgc.w2 = d.w2
      LEFT JOIN ctx ON ctx.w1 = d.w1
      LEFT JOIN cont ON cont.w2 = d.w2
      CROSS JOIN b CROSS JOIN v
    ),
    pd AS (
      SELECT lang,
             CASE WHEN doc_id % 2 = 0 THEN 'train' ELSE 'heldout' END
               AS split,
             exp(-round(sum(lp) / count(*), 8)) AS ppl
      FROM j GROUP BY lang, doc_id
    )
    SELECT lang, split, cast(count(*) AS BIGINT) AS n_docs,
           round(avg(ppl), 4) AS avg_ppl
    FROM pd GROUP BY lang, split
    """.format(g2=_gram_sql(2)),
)
def kneser_ney_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM (Kneser & Ney 1995; Chen &
    Goodman 1999's standard formulation, absolute discount D=0.75) —
    the smoothing that actually ships in n-gram LM toolkits, next to
    bigram_lm_perplexity's add-k baseline: P(w2|w1) =
    max(c12-D,0)/c1 + (D*N1+(w1,.)/c1) * Pcont(w2), where the
    CONTINUATION probability Pcont(w2) = N1+(.,w2)/|bigram types|
    ranks words by how many distinct contexts they follow — the
    "Francisco problem" fix. Unseen contexts back off to Pcont alone;
    Pcont itself carries 0.5-add smoothing over the (vocab+1) unseen
    row so no score is ln(0). Same train/heldout protocol and per-doc
    round-8 perplexity fold as the add-k twin, so the two models'
    held-out perplexities are directly comparable (KN should win).

    Scale: all four model tables (bigram, context, continuation,
    scalars) are vocabulary-sized; scoring is three hash joins of
    corpus bigrams against them — identical shuffle shape to the add-k
    plan, one extra vocab-sized join."""
    d = fan_out_scan(
        T(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    ).select("doc_id", "lang", tokens(F.col("text")).alias("ws"))
    train = d.filter(F.col("doc_id") % 2 == 0)
    bgc = (
        train.select(F.explode(_grams(F.col("ws"), 2)).alias("g"))
        .select(
            F.split("g", " ").getItem(0).alias("w1"),
            F.split("g", " ").getItem(1).alias("w2"),
        )
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c12"))
        .localCheckpoint()  # feeds ctx, cont, type count, and scoring
    )
    ctx = bgc.groupBy("w1").agg(
        F.sum("c12").cast("long").alias("c1"),
        F.count(F.lit(1)).cast("long").alias("n1p_fwd"),
    )
    cont = bgc.groupBy("w2").agg(
        F.count(F.lit(1)).cast("long").alias("n1p_bwd")
    )
    b = bgc.agg(F.count(F.lit(1)).cast("long").alias("bt"))
    v = bgc.agg(
        (F.countDistinct("w2") + 1).cast("double").alias("v")
    )
    db = d.select(
        "doc_id", "lang", F.explode(_grams(F.col("ws"), 2)).alias("g")
    ).select(
        "doc_id",
        "lang",
        F.split("g", " ").getItem(0).alias("w1"),
        F.split("g", " ").getItem(1).alias("w2"),
    )
    pcont = (F.coalesce(F.col("n1p_bwd"), F.lit(0)) + F.lit(0.5)) / (
        F.col("bt") + F.lit(0.5) * F.col("v")
    )
    pkn = F.when(
        F.coalesce(F.col("c1"), F.lit(0)) > 0,
        F.greatest(
            F.coalesce(F.col("c12"), F.lit(0)) - F.lit(_KN_D), F.lit(0.0)
        )
        / F.col("c1")
        + (F.lit(_KN_D) * F.col("n1p_fwd") / F.col("c1")) * pcont,
    ).otherwise(pcont)
    j = (
        db.join(bgc, ["w1", "w2"], "left")
        .join(ctx, "w1", "left")
        .join(cont, "w2", "left")
        .crossJoin(F.broadcast(b))
        .crossJoin(F.broadcast(v))
        .select("doc_id", "lang", F.log(pkn).alias("lp"))
    )
    pd_ = j.groupBy("lang", "doc_id").agg(
        F.exp(-F.round(F.sum("lp") / F.count(F.lit(1)), 8)).alias("ppl")
    )
    return pd_.groupBy(
        "lang",
        F.when(F.col("doc_id") % 2 == 0, "train")
        .otherwise("heldout")
        .alias("split"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(F.avg("ppl"), 4).alias("avg_ppl"),
    )


# --- Wave 63: TextRank keyword extraction ------------------------------------

_TR_MIN_COUNT = 5
_TR_MIN_LEN = 3
_TR_ITERS = 5
_TR_TOPK = 20


def _tr_iter_sql(k: int) -> str:
    return f"""
    tr{k} AS MATERIALIZED (
      SELECT nd.node,
             round(0.15::DOUBLE / (SELECT cnt FROM ncnt)
                   + 0.85::DOUBLE * coalesce(s.contrib, 0), 12) AS r
      FROM tnodes nd LEFT JOIN (
        SELECT e.dst AS node, sum(p.r * e.w / e.wout) AS contrib
        FROM tesym e JOIN tr{k - 1} p ON p.node = e.src
        GROUP BY e.dst
      ) s ON s.node = nd.node
    )"""


@query(
    "textrank_keywords",
    oracle=(
        f"""
    WITH t AS (
      SELECT string_split_regex(lower(trim(text)), '\\s+') AS ws
      FROM documents WHERE length(trim(text)) > 0
    ),
    bg AS (
      SELECT string_split(g, ' ')[1] AS a, string_split(g, ' ')[2] AS b,
             count(*) AS w
      FROM (SELECT unnest({{g2}}) AS g FROM t) GROUP BY 1, 2
    ),
    uni AS (
      SELECT tok, count(*) AS c
      FROM (SELECT unnest(ws) AS tok FROM t) GROUP BY 1
    ),
    ok AS (
      SELECT tok FROM uni
      WHERE c >= {_TR_MIN_COUNT} AND length(tok) >= {_TR_MIN_LEN}
    ),
    und AS (
      SELECT least(a, b) AS a, greatest(a, b) AS b, sum(w) AS w
      FROM bg
      JOIN ok oa ON oa.tok = a
      JOIN ok ob ON ob.tok = b
      WHERE a <> b
      GROUP BY 1, 2
    ),
    tesym0 AS MATERIALIZED (
      SELECT a AS src, b AS dst, w FROM und
      UNION ALL SELECT b, a, w FROM und
    ),
    tnodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM tesym0),
    tesym AS MATERIALIZED (
      SELECT src, dst, w,
             sum(w) OVER (PARTITION BY src) AS wout
      FROM tesym0
    ),
    ncnt AS (SELECT count(*) AS cnt FROM tnodes),
    tr0 AS (SELECT node, 1.0::DOUBLE / (SELECT cnt FROM ncnt) AS r
            FROM tnodes),"""
        + ",".join(_tr_iter_sql(k) for k in range(1, _TR_ITERS + 1))
        + f"""
    SELECT node AS keyword, round(r, 6) AS textrank
    FROM tr{_TR_ITERS}
    ORDER BY round(r, 6) DESC, node ASC
    LIMIT {_TR_TOPK}
    """
    ).format(g2=_gram_sql(2)),
)
def textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank
    over the token ADJACENCY graph — undirected edges between
    consecutive tokens (count-weighted, symmetrized), nodes filtered to
    tokens with corpus count >= 5 and length >= 3 — ranking words by
    how centrally they sit in the corpus's phrase structure rather than
    how often they occur (the classic unsupervised keyphrase baseline;
    completes the keyword family next to tf-idf's frequency view,
    chi2's discriminative view, and PMI's association view).

    Machinery is nation_trade_pagerank's, applied to a vocabulary-sized
    graph: checkpointed symmetric edge list with out-weight totals,
    5 damped iterations rounded to 12 dp (the engine re-sync), the
    whole trajectory value-verified by the chained-CTE oracle; top-20
    by round-6 rank with token tie-break."""
    from .graphops import pagerank_frame

    t = fan_out_scan(
        T(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    ).select(tokens(F.lower(F.col("text"))).alias("ws")).localCheckpoint()
    bg = (
        t.select(F.explode(_grams(F.col("ws"), 2)).alias("g"))
        .select(
            F.split("g", " ").getItem(0).alias("a"),
            F.split("g", " ").getItem(1).alias("b"),
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    ok = (
        t.select(F.explode("ws").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(
            (F.col("c") >= _TR_MIN_COUNT)
            & (F.length("tok") >= _TR_MIN_LEN)
        )
        .select("tok")
    )
    und = (
        bg.join(ok.withColumnRenamed("tok", "a"), "a")
        .join(ok.withColumnRenamed("tok", "b"), "b")
        .filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("la"),
            F.greatest("a", "b").alias("gb"),
            "w",
        )
        .groupBy("la", "gb")
        .agg(F.sum("w").alias("w"))
    )
    esym = und.select(
        F.col("la").alias("src"), F.col("gb").alias("dst"), "w"
    ).unionAll(
        und.select(
            F.col("gb").alias("src"), F.col("la").alias("dst"), "w"
        )
    )
    ranks = pagerank_frame(esym, iters=_TR_ITERS)
    return (
        ranks.select(
            F.col("node").alias("keyword"),
            F.round("r", 6).alias("textrank"),
        )
        .orderBy(F.desc("textrank"), F.asc("keyword"))
        .limit(_TR_TOPK)
    )
