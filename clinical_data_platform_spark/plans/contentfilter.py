"""Content-filter plans — the model-scoring and PII-exposure scans a
training-data pipeline runs between raw QC (:mod:`.corpusqc`) and
release:

- ``quality_classifier_scores`` — a fastText-style LINEAR classifier over
  hashed unigram features, evaluated entirely in JVM expressions: each
  token hashes (md5) to a deterministic pseudo-weight in [-1, 1], the
  document score is the token-mean weight, and the keep probability is a
  sigmoid. The weights here are a deterministic stand-in for a trained
  model's weight table (a real deployment broadcasts the table and joins
  on the hash bucket — same plan shape, same cost); what this query pins
  is the scoring plumbing: tokenize -> per-token weight -> in-order fold
  -> sigmoid, with an exact cross-engine oracle.
- ``pii_signal_counts`` — per-source counts of email / URL / IPv4 / SSN /
  US-phone pattern hits (``regexp_extract_all`` length, so multiple hits
  per document count). The synthetic corpus is word-salad, so corpus
  counts are zero by construction — the assertion that the patterns DO
  fire is tests/test_contentfilter.py over an injected fixture; patterns
  are restricted to the Java-regex ∩ RE2 common subset so both engines
  compile them identically.

At 100 TB: both are embarrassingly-parallel narrow projections (no
Python, no shuffle except the final per-source / per-bucket rollup).
PHI/PII *redaction* (rewrite, not count) lives in clinical/redaction.py;
this module is the detection/monitoring side a release gate reads.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from ..catalog import fan_out_scan
from ..catalog import table as T
from ..functions.scalars import NORMAL_SF_SQL
from ..functions.text import tokens
from .registry import query

# --- hashed pseudo-weights ---------------------------------------------------

# First two md5 hex chars -> 0..255 via ascii arithmetic (portable across
# Spark and DuckDB without hex-conversion builtins), centered to [-1, 1].
_WEIGHT_SQL = (
    "(((CASE WHEN ascii(substr(md5({w}), 1, 1)) >= 97 "
    "THEN ascii(substr(md5({w}), 1, 1)) - 87 "
    "ELSE ascii(substr(md5({w}), 1, 1)) - 48 END) * 16 "
    "+ (CASE WHEN ascii(substr(md5({w}), 2, 1)) >= 97 "
    "THEN ascii(substr(md5({w}), 2, 1)) - 87 "
    "ELSE ascii(substr(md5({w}), 2, 1)) - 48 END)) - 127.5) / 127.5"
)


def _hex_val(ch: Column) -> Column:
    a = F.ascii(ch)
    return F.when(a >= 97, a - 87).otherwise(a - 48)


def _token_weight(w: Column) -> Column:
    h = F.md5(w)
    v = _hex_val(F.substring(h, 1, 1)) * 16 + _hex_val(F.substring(h, 2, 1))
    return (v - 127.5) / 127.5


@query(
    "quality_classifier_scores",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source,
             string_split_regex(trim(text), '\\s+') AS ws
      FROM documents
    ),
    s AS (
      SELECT doc_id, source, len(ws) AS n_tokens,
             list_sum(list_transform(ws, w -> {_WEIGHT_SQL.format(w='w')}))
               / greatest(len(ws), 1) AS score
      FROM t
    )
    SELECT doc_id, source,
           cast(n_tokens AS BIGINT) AS n_tokens,
           floor(score * 1e6) / 1e6 AS score,
           floor((1.0 / (1.0 + exp(-4.0 * score))) * 1e6) / 1e6
             AS keep_prob,
           (1.0 / (1.0 + exp(-4.0 * score)) >= 0.5) AS keep
    FROM s
    """,
)
def quality_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear hashed-feature document scorer: token-mean pseudo-weight,
    sigmoid keep-probability, boolean keep at 0.5. Single narrow
    projection — the fold over tokens runs in index order on both
    engines, so doubles agree bit-for-bit before the trunc6 (the score is
    a rational that can land on exact round-half boundaries, so round()
    would diverge across engines — see corpusqc header)."""
    d = T(spark, sf_dir, "documents").select(
        "doc_id", "source", tokens(F.col("text")).alias("ws")
    )
    total = F.aggregate(
        F.transform(F.col("ws"), _token_weight),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    score = total / F.greatest(F.size("ws"), F.lit(1))
    prob = 1.0 / (1.0 + F.exp(-4.0 * score))
    trunc6 = lambda c: F.floor(c * 1e6) / 1e6  # noqa: E731
    return d.select(
        "doc_id",
        "source",
        F.size("ws").cast("long").alias("n_tokens"),
        trunc6(score).alias("score"),
        trunc6(prob).alias("keep_prob"),
        (prob >= 0.5).alias("keep"),
    )


# --- PII / link signal scan --------------------------------------------------

# Java-regex ∩ RE2 subset only (no lookaround, no backrefs).
PII_SIGNALS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "url": r"https?://[^\s]+",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
    "phone": r"\b\d{3}-\d{3}-\d{4}\b",
}


def pii_signal_frame(d: DataFrame) -> DataFrame:
    """Per-source hit counts for each PII/link pattern over ``text``."""
    aggs = []
    for name, pat in PII_SIGNALS.items():
        hits = F.size(F.regexp_extract_all(F.col("text"), F.lit(pat), 0))
        aggs.append(F.sum(hits).cast("long").alias(f"n_{name}"))
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), *aggs
    )


def _pii_oracle() -> str:
    # Python raw strings hold single backslashes; DuckDB '' literals are
    # backslash-literal, so the pattern passes through verbatim to RE2.
    cols = ",\n           ".join(
        "cast(sum(len(regexp_extract_all(text, '{p}'))) AS BIGINT)"
        " AS n_{n}".format(p=p, n=n)
        for n, p in PII_SIGNALS.items()
    )
    return f"""
    SELECT source,
           count(*) AS n_docs,
           {cols}
    FROM documents
    GROUP BY source
    """


@query(
    "pii_signal_counts",
    oracle=_pii_oracle(),
)
def pii_signal_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Release-gate PII/link exposure scan: per-source totals of email,
    URL, IPv4, SSN and US-phone pattern hits. Narrow projection + tiny
    per-source rollup; the patterns fire on injected fixtures in pytest
    (the synthetic corpus itself is clean by construction)."""
    return pii_signal_frame(T(spark, sf_dir, "documents"))


# Crude independent "looks like English prose" outcome used to draw the
# reliability table: the doc contains at least one top-frequency English
# function word as a whole token.
_CAL_STOPWORDS = ["the", "a", "of", "and", "to"]


@query(
    "classifier_calibration_bins",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             string_split_regex(trim(text), '\\s+') AS ws
      FROM documents
    ),
    s AS (
      SELECT doc_id,
             floor((1.0 / (1.0 + exp(-4.0 *
               (list_sum(list_transform(ws, w -> {_WEIGHT_SQL.format(w='w')}))
                / greatest(len(ws), 1))))) * 1e6) / 1e6 AS keep_prob,
             len(list_intersect(ws,
                 {_CAL_STOPWORDS!r})) > 0 AS outcome
      FROM t
    )
    SELECT least(floor(keep_prob * 10), 9)::BIGINT AS bin,
           cast(count(*) AS BIGINT) AS n_docs,
           round(avg(keep_prob), 6) AS mean_keep_prob,
           floor(sum(CASE WHEN outcome THEN 1 ELSE 0 END)::DOUBLE
                 / count(*) * 1e6) / 1e6 AS outcome_rate
    FROM s
    GROUP BY 1
    """,
)
def classifier_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability table for the quality classifier: fixed-width
    probability deciles (least(floor(p*10), 9) — no global sort, unlike
    ntile, so the binning is map-side at any corpus size) with the bin's
    observed rate of an independent outcome signal next to its mean
    predicted probability. The gap between those two columns IS the
    calibration error (this hashed-weight demo classifier is expected to
    be uncalibrated — the operator is the report, the standard
    post-training-eval / filter-threshold-picking pass).

    Outcome = "contains a top-frequency English function word", chosen
    because it is computable as one arrays_overlap expression in both
    engines. mean_keep_prob averages per-doc trunc6'd probabilities, so
    both engines sum identical doubles (round 6 re-syncs sum order)."""
    d = T(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("ws")
    )
    total = F.aggregate(
        F.transform(F.col("ws"), _token_weight),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    score = total / F.greatest(F.size("ws"), F.lit(1))
    prob = 1.0 / (1.0 + F.exp(-4.0 * score))
    trunc6 = lambda c: F.floor(c * 1e6) / 1e6  # noqa: E731
    s = d.select(
        trunc6(prob).alias("keep_prob"),
        F.arrays_overlap(
            "ws", F.array(*[F.lit(w) for w in _CAL_STOPWORDS])
        ).alias("outcome"),
    )
    return (
        s.groupBy(
            F.least(F.floor(F.col("keep_prob") * 10), F.lit(9))
            .cast("long")
            .alias("bin")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(F.avg("keep_prob"), 6).alias("mean_keep_prob"),
            (
                F.floor(
                    F.sum(F.when(F.col("outcome"), 1).otherwise(0))
                    / F.count(F.lit(1))
                    * 1e6
                )
                / 1e6
            ).alias("outcome_rate"),
        )
    )


# --- Multinomial Naive Bayes language classifier -----------------------------


def naive_bayes_confusion(d: DataFrame) -> DataFrame:
    """Core NB train+score+confusion over (doc_id, lang, ws) rows: train
    on even doc_ids, score odd doc_ids against every class, return the
    (true_lang, pred_lang, n_docs) confusion matrix. Split out from the
    registered query so tests can drive it on an injected separable
    corpus (the shipped corpus draws every language from one shared
    vocabulary, so there the posterior collapses to the prior — the
    oracle still value-proves the arithmetic, the fixture proves the
    learning)."""
    train_tok = d.filter(F.col("doc_id") % 2 == 0).select(
        "lang", F.explode("ws").alias("w")
    )
    # r9 optimization: cwc / nc / vocab each ran their own tokenize +
    # explode pass over the corpus (three scans). The per-class token
    # totals and the vocabulary size are exactly derivable from the
    # (lang, w, c) table — nc = sum(c) per lang, v = count(distinct w)
    # — so one checkpointed pass (|vocab| x |classes| rows) feeds all
    # three; every derived quantity is the same exact integer.
    cwc = (
        train_tok.groupBy("lang", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()
    )
    nc = cwc.groupBy("lang").agg(F.sum("c").cast("long").alias("n_tok"))
    vocab = cwc.select("w").distinct().agg(
        F.count(F.lit(1)).cast("double").alias("v")
    )
    pri = (
        d.filter(F.col("doc_id") % 2 == 0)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    tot = d.filter(F.col("doc_id") % 2 == 0).agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    te = d.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id",
        F.col("lang").alias("true_lang"),
        F.explode("ws").alias("w"),
    )
    classes = pri.select(F.col("lang").alias("c_lang"))
    lp_term = F.log(
        (F.coalesce(F.col("c"), F.lit(0)).cast("double") + F.lit(1.0))
        / (F.col("n_tok").cast("double") + F.col("v"))
    )
    lp = (
        te.crossJoin(F.broadcast(classes))
        .join(
            cwc.select(F.col("lang").alias("c_lang"), "w", "c"),
            ["w", "c_lang"],
            "left",
        )
        .join(
            F.broadcast(nc.select(F.col("lang").alias("c_lang"), "n_tok")),
            "c_lang",
        )
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id", "true_lang", "c_lang")
        .agg(F.round(F.sum(lp_term), 8).alias("sum_lp"))
    )
    sc = (
        lp.join(
            F.broadcast(pri.select(F.col("lang").alias("c_lang"), "n_docs")),
            "c_lang",
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "true_lang",
            "c_lang",
            F.round(
                F.col("sum_lp")
                + F.log(F.col("n_docs").cast("double") / F.col("n")),
                8,
            ).alias("score"),
        )
    )
    from pyspark.sql import Window

    rn = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(
            F.col("score").desc(), F.col("c_lang").asc()
        )
    )
    return (
        sc.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .groupBy("true_lang", F.col("c_lang").alias("pred_lang"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


@query(
    "naive_bayes_lang_confusion",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS ws
      FROM documents WHERE length(trim(text)) > 0
    ),
    tok AS (
      SELECT lang, unnest(ws) AS w FROM t WHERE doc_id % 2 = 0
    ),
    cwc AS (SELECT lang, w, count(*) AS c FROM tok GROUP BY 1, 2),
    nc AS (SELECT lang, count(*) AS n_tok FROM tok GROUP BY 1),
    v AS (SELECT count(DISTINCT w)::DOUBLE AS v FROM tok),
    pri AS (
      SELECT lang, count(*) AS n_docs FROM t WHERE doc_id % 2 = 0
      GROUP BY 1
    ),
    tot AS (
      SELECT count(*)::DOUBLE AS n FROM t WHERE doc_id % 2 = 0
    ),
    te AS (
      SELECT doc_id, lang AS true_lang, unnest(ws) AS w
      FROM t WHERE doc_id % 2 = 1
    ),
    lp AS (
      SELECT te.doc_id, te.true_lang, p.lang AS c_lang,
             round(sum(ln((coalesce(cwc.c, 0)::DOUBLE + 1.0::DOUBLE)
                          / (nc.n_tok::DOUBLE + v.v))), 8) AS sum_lp
      FROM te
      CROSS JOIN pri p
      LEFT JOIN cwc ON cwc.w = te.w AND cwc.lang = p.lang
      JOIN nc ON nc.lang = p.lang
      CROSS JOIN v
      GROUP BY te.doc_id, te.true_lang, p.lang
    ),
    sc AS (
      SELECT lp.doc_id, lp.true_lang, lp.c_lang,
             round(lp.sum_lp + ln(p.n_docs::DOUBLE / tot.n), 8) AS score
      FROM lp JOIN pri p ON p.lang = lp.c_lang CROSS JOIN tot
    ),
    pred AS (
      SELECT doc_id, true_lang, c_lang,
             row_number() OVER (
               PARTITION BY doc_id ORDER BY score DESC, c_lang ASC
             ) AS rn
      FROM sc
    )
    SELECT true_lang, c_lang AS pred_lang,
           cast(count(*) AS BIGINT) AS n_docs
    FROM pred WHERE rn = 1
    GROUP BY 1, 2
    """,
)
def naive_bayes_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes trained AND evaluated distributed: add-1
    token likelihoods per language from the even-doc_id half of the
    corpus, every odd-doc_id document scored against every class
    (log prior + summed token log-likelihoods), argmax prediction,
    confusion matrix out. The trained-generative companion to the
    hashed-feature linear scorer above — together they bracket the two
    classifier families a curation pipeline actually ships.

    Plan: model state is counts — a (lang, token) table (vocab-sized x
    |langs|, Heaps-sublinear), a |langs|-row token-total/prior table,
    and a 1-row vocab scalar — built in one exploded-token shuffle.
    Scoring fans each test token out by the tiny class table (broadcast
    cross join, |langs|x), left-joins the count table on (token, class),
    and aggregates per (doc, class): no per-row Python, no model on the
    driver. Float discipline: the per-(doc, class) log-likelihood sum is
    rounded to 8 dp before the prior is added and again before the
    argmax (engine sum-order re-sync, the bigram-LM pattern), and the
    argmax breaks exact ties on the class name, so predictions are
    engine-stable. At 100 TB the only row-proportional costs are the
    token scans; everything model-sized broadcasts.

    On the shipped corpus every language draws from the same shared
    vocabulary (word salad), so the learned posterior collapses to the
    prior and the confusion matrix concentrates on the majority class —
    that degenerate matrix is still value-verified cross-engine; that
    the classifier actually LEARNS is pinned on an injected separable
    corpus in tests/test_contentfilter.py (the pii_signal_counts
    pattern)."""
    d = fan_out_scan(
        T(spark, sf_dir, "documents")
        .filter(F.length(F.trim(F.col("text"))) > 0)
        .select("doc_id", "lang", "text")
    ).select("doc_id", "lang", tokens(F.col("text")).alias("ws"))
    return naive_bayes_confusion(d)


# --- Chi-square token feature selection --------------------------------------


@query(
    "chi2_token_selection",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, lang,
             string_split_regex(trim(text), '\s+') AS ws
      FROM documents WHERE length(trim(text)) > 0
    ),
    dt AS (
      SELECT DISTINCT doc_id, lang, unnest(ws) AS w FROM t
    ),
    cls AS (SELECT lang, count(*) AS n_c FROM t GROUP BY 1),
    tot AS (SELECT count(*) AS n FROM t),
    df AS (SELECT w, count(*) AS df FROM dt GROUP BY 1),
    a AS (SELECT lang, w, count(*) AS a FROM dt GROUP BY 1, 2),
    x AS (
      SELECT a.lang, a.w,
             a.a::DOUBLE AS ad,
             (cls.n_c - a.a)::DOUBLE AS bd,
             (df.df - a.a)::DOUBLE AS cd,
             (tot.n - cls.n_c - df.df + a.a)::DOUBLE AS dd,
             tot.n::DOUBLE AS nd
      FROM a
      JOIN cls ON cls.lang = a.lang
      JOIN df ON df.w = a.w
      CROSS JOIN tot
    ),
    s AS (
      SELECT lang, w,
             floor(nd * (ad * dd - bd * cd) * (ad * dd - bd * cd)
                   / ((ad + bd) * (cd + dd) * (ad + cd) * (bd + dd))
                   * 1e6) / 1e6 AS chi2,
             cast(ad AS BIGINT) AS df_in_class
      FROM x
      WHERE (ad + cd) < (SELECT n FROM tot)
    ),
    r AS (
      SELECT lang, w, chi2, df_in_class,
             row_number() OVER (
               PARTITION BY lang ORDER BY chi2 DESC, w ASC
             ) AS rk
      FROM s
    )
    SELECT lang, cast(rk AS BIGINT) AS rk, w AS token, chi2, df_in_class
    FROM r WHERE rk <= 5
    """,
)
def chi2_token_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square feature selection over document-frequency contingency
    tables — the classic "which tokens discriminate this class" screen
    run before training any text classifier (sklearn's chi2 scorer,
    distributed): for every (class, token), the 2x2 table of
    presence-in-class / presence-elsewhere document counts, scored
    chi2 = N(AD-BC)^2 / ((A+B)(C+D)(A+C)(B+D)), top-5 tokens per class.
    Tokens present in EVERY document are excluded (zero discriminative
    power, and the denominator's (B+D)=0 would divide by zero).

    Plan: one distinct (doc, class, token) explode, then three
    vocabulary- or class-sized count tables joined back on token/class —
    no per-document pairwise work, same shuffle shape as TF-IDF. All
    counts are exact integers; the statistic is computed in double from
    those integers with the same expression text on both engines (the
    cross-products pass 2^63, so the cast happens BEFORE the products)
    and trunc6'd ahead of the rank so the top-5 order is engine-stable.
    The companion trained classifier is naive_bayes_lang_confusion."""
    d = fan_out_scan(
        T(spark, sf_dir, "documents")
        .filter(F.length(F.trim(F.col("text"))) > 0)
        .select("doc_id", "lang", "text")
    ).select("doc_id", "lang", tokens(F.col("text")).alias("ws"))
    dt = d.select(
        "doc_id", "lang", F.explode("ws").alias("w")
    ).distinct()
    cls = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_c"))
    tot = d.agg(F.count(F.lit(1)).alias("n"))
    df = dt.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    a = dt.groupBy("lang", "w").agg(F.count(F.lit(1)).alias("a"))
    ad = F.col("a").cast("double")
    bd = (F.col("n_c") - F.col("a")).cast("double")
    cd = (F.col("df") - F.col("a")).cast("double")
    dd = (F.col("n") - F.col("n_c") - F.col("df") + F.col("a")).cast(
        "double"
    )
    nd = F.col("n").cast("double")
    num = nd * (ad * dd - bd * cd) * (ad * dd - bd * cd)
    den = (ad + bd) * (cd + dd) * (ad + cd) * (bd + dd)
    s = (
        a.join(F.broadcast(cls), "lang")
        .join(df, "w")
        .crossJoin(F.broadcast(tot))
        .filter(F.col("df") < F.col("n"))
        .select(
            "lang",
            "w",
            (F.floor(num / den * 1e6) / 1e6).alias("chi2"),
            F.col("a").cast("long").alias("df_in_class"),
        )
    )
    from pyspark.sql import Window

    rk = F.row_number().over(
        Window.partitionBy("lang").orderBy(
            F.col("chi2").desc(), F.col("w").asc()
        )
    )
    return (
        s.withColumn("rk", rk.cast("long"))
        .filter(F.col("rk") <= 5)
        .select("lang", "rk", F.col("w").alias("token"), "chi2", "df_in_class")
    )


# --- Per-class precision/recall/F1 from the NB confusion ---------------------


@query(
    "nb_f1_report",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS ws
      FROM documents WHERE length(trim(text)) > 0
    ),
    tok AS (
      SELECT lang, unnest(ws) AS w FROM t WHERE doc_id % 2 = 0
    ),
    cwc AS (SELECT lang, w, count(*) AS c FROM tok GROUP BY 1, 2),
    nc AS (SELECT lang, count(*) AS n_tok FROM tok GROUP BY 1),
    v AS (SELECT count(DISTINCT w)::DOUBLE AS v FROM tok),
    pri AS (
      SELECT lang, count(*) AS n_docs FROM t WHERE doc_id % 2 = 0
      GROUP BY 1
    ),
    tot AS (
      SELECT count(*)::DOUBLE AS n FROM t WHERE doc_id % 2 = 0
    ),
    te AS (
      SELECT doc_id, lang AS true_lang, unnest(ws) AS w
      FROM t WHERE doc_id % 2 = 1
    ),
    lp AS (
      SELECT te.doc_id, te.true_lang, p.lang AS c_lang,
             round(sum(ln((coalesce(cwc.c, 0)::DOUBLE + 1.0::DOUBLE)
                          / (nc.n_tok::DOUBLE + v.v))), 8) AS sum_lp
      FROM te
      CROSS JOIN pri p
      LEFT JOIN cwc ON cwc.w = te.w AND cwc.lang = p.lang
      JOIN nc ON nc.lang = p.lang
      CROSS JOIN v
      GROUP BY te.doc_id, te.true_lang, p.lang
    ),
    sc AS (
      SELECT lp.doc_id, lp.true_lang, lp.c_lang,
             round(lp.sum_lp + ln(p.n_docs::DOUBLE / tot.n), 8) AS score
      FROM lp JOIN pri p ON p.lang = lp.c_lang CROSS JOIN tot
    ),
    pred AS (
      SELECT doc_id, true_lang, c_lang AS pred_lang
      FROM (
        SELECT doc_id, true_lang, c_lang,
               row_number() OVER (
                 PARTITION BY doc_id ORDER BY score DESC, c_lang ASC
               ) AS rn
        FROM sc
      ) WHERE rn = 1
    ),
    cls AS (SELECT DISTINCT lang FROM t),
    m AS (
      SELECT c.lang,
             (SELECT count(*) FROM pred
              WHERE true_lang = c.lang AND pred_lang = c.lang) AS tp,
             (SELECT count(*) FROM pred
              WHERE true_lang <> c.lang AND pred_lang = c.lang) AS fp,
             (SELECT count(*) FROM pred
              WHERE true_lang = c.lang AND pred_lang <> c.lang) AS fn
      FROM cls c
    )
    SELECT lang, cast(tp AS BIGINT) AS tp, cast(fp AS BIGINT) AS fp,
           cast(fn AS BIGINT) AS fn,
           floor(tp::DOUBLE / greatest(tp + fp, 1)::DOUBLE * 1e6) / 1e6
             AS precision,
           floor(tp::DOUBLE / greatest(tp + fn, 1)::DOUBLE * 1e6) / 1e6
             AS recall,
           floor(2.0::DOUBLE * tp::DOUBLE
                 / greatest(2 * tp + fp + fn, 1)::DOUBLE * 1e6) / 1e6
             AS f1
    FROM m
    """,
)
def nb_f1_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision / recall / F1 for the Naive Bayes language
    classifier — the metric table a model card reports next to the raw
    confusion matrix: TP/FP/FN per class from the SAME held-out
    prediction pipeline as naive_bayes_lang_confusion, with F1 in its
    division-robust 2TP/(2TP+FP+FN) form. Every metric is a trunc6'd
    ratio of exact integer counts (greatest(...,1) guards the empty
    denominators a degenerate class produces).

    Plan: the prediction pipeline is count-shaped as before; the metric
    derivation is a |classes|-row aggregation over the prediction
    table. The evaluation family is now confusion -> calibration ->
    AUC -> F1, all value-oracled."""
    d = fan_out_scan(
        T(spark, sf_dir, "documents")
        .filter(F.length(F.trim(F.col("text"))) > 0)
        .select("doc_id", "lang", "text")
    ).select("doc_id", "lang", tokens(F.col("text")).alias("ws"))
    conf = naive_bayes_confusion(d)
    classes = d.select(F.col("lang")).distinct()
    tp = conf.filter(F.col("true_lang") == F.col("pred_lang")).select(
        F.col("true_lang").alias("lang"), F.col("n_docs").alias("tp")
    )
    fp = (
        conf.filter(F.col("true_lang") != F.col("pred_lang"))
        .groupBy(F.col("pred_lang").alias("lang"))
        .agg(F.sum("n_docs").alias("fp"))
    )
    fn = (
        conf.filter(F.col("true_lang") != F.col("pred_lang"))
        .groupBy(F.col("true_lang").alias("lang"))
        .agg(F.sum("n_docs").alias("fn"))
    )
    m = (
        classes.join(tp, "lang", "left")
        .join(fp, "lang", "left")
        .join(fn, "lang", "left")
        .select(
            "lang",
            F.coalesce("tp", F.lit(0)).cast("long").alias("tp"),
            F.coalesce("fp", F.lit(0)).cast("long").alias("fp"),
            F.coalesce("fn", F.lit(0)).cast("long").alias("fn"),
        )
    )
    trunc6 = lambda c: F.floor(c * 1e6) / 1e6  # noqa: E731
    tpd = F.col("tp").cast("double")
    return m.select(
        "lang",
        "tp",
        "fp",
        "fn",
        trunc6(
            tpd / F.greatest(F.col("tp") + F.col("fp"), F.lit(1)).cast("double")
        ).alias("precision"),
        trunc6(
            tpd / F.greatest(F.col("tp") + F.col("fn"), F.lit(1)).cast("double")
        ).alias("recall"),
        trunc6(
            2.0
            * tpd
            / F.greatest(
                2 * F.col("tp") + F.col("fp") + F.col("fn"), F.lit(1)
            ).cast("double")
        ).alias("f1"),
    )


# --- Wave 40: isotonic calibration (PAV via the minimax identity) ------------

# Shared bin-table SQL: the decile reliability rows (bin, n, pos) the
# isotonic fit regresses over — identical to classifier_calibration_bins'
# grouping, kept as integers so every downstream quotient is exact.
_ISO_BINS_SQL = f"""
    t AS (
      SELECT doc_id,
             string_split_regex(trim(text), '\\s+') AS ws
      FROM documents
    ),
    sc AS (
      SELECT floor((1.0 / (1.0 + exp(-4.0 *
               (list_sum(list_transform(ws, w -> {_WEIGHT_SQL.format(w='w')}))
                / greatest(len(ws), 1))))) * 1e6) / 1e6 AS keep_prob,
             len(list_intersect(ws, {_CAL_STOPWORDS!r})) > 0 AS outcome
      FROM t
    ),
    bins AS (
      SELECT least(floor(keep_prob * 10), 9)::BIGINT AS bin,
             cast(count(*) AS BIGINT) AS n,
             cast(sum(CASE WHEN outcome THEN 1 ELSE 0 END) AS BIGINT) AS pos
      FROM sc GROUP BY 1
    ),
    cum AS (
      SELECT bin, n, pos,
             sum(n)   OVER (ORDER BY bin) AS cn,
             sum(pos) OVER (ORDER BY bin) AS cp
      FROM bins
    ),
    segs AS (
      SELECT a.bin AS i, b.bin AS j,
             (b.cp - (a.cp - a.pos))::DOUBLE
               / (b.cn - (a.cn - a.n)) AS segavg
      FROM cum a JOIN cum b ON a.bin <= b.bin
    ),
    inner_min AS (
      SELECT s.i, k.bin,
             min(s.segavg) AS m
      FROM segs s JOIN bins k ON s.i <= k.bin AND s.j >= k.bin
      GROUP BY 1, 2
    )
"""


@query(
    "isotonic_calibration_bins",
    oracle=(
        "WITH "
        + _ISO_BINS_SQL
        + """
    SELECT k.bin,
           k.n AS n_docs,
           floor(k.pos::DOUBLE / k.n * 1e6) / 1e6 AS outcome_rate,
           round(max(im.m), 6) AS iso_rate
    FROM bins k JOIN inner_min im ON im.bin = k.bin
    GROUP BY 1, 2, 3
    """
    ),
)
def isotonic_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAV) calibration of the quality classifier — the
    post-hoc monotone mapping from predicted probability to observed
    rate that Platt/temperature scaling can't express when the
    miscalibration isn't sigmoid-shaped (Zadrozny & Elkan 2002).

    Pool-adjacent-violators is usually presented as a sequential stack
    sweep, which doesn't distribute. This plan instead uses the exact
    minimax identity iso(k) = max_{i<=k} min_{j>=k} avg(pos, i..j):
    the corpus-scale work is ONE map-side decile aggregation (the same
    least(floor(p*10),9) binning as classifier_calibration_bins — no
    global sort); everything after runs on the BOUNDED bin table (<=10
    rows → <=55 segments), so the fit costs the same at 100 TB as at
    1 MB. Every segment average is an exact-integer quotient (one IEEE
    division, engine-identical), min/max over identical doubles is
    order-stable, and only the final iso_rate is rounded — so the whole
    fit is value-oracled, and monotonicity + the PAV recount are pinned
    in pytest."""
    d = T(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("ws")
    )
    total = F.aggregate(
        F.transform(F.col("ws"), _token_weight),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    prob = 1.0 / (
        1.0 + F.exp(-4.0 * (total / F.greatest(F.size("ws"), F.lit(1))))
    )
    trunc6 = lambda c: F.floor(c * 1e6) / 1e6  # noqa: E731
    bins = (
        d.select(
            trunc6(prob).alias("keep_prob"),
            F.arrays_overlap(
                "ws", F.array(*[F.lit(w) for w in _CAL_STOPWORDS])
            ).alias("outcome"),
        )
        .groupBy(
            F.least(F.floor(F.col("keep_prob") * 10), F.lit(9))
            .cast("long")
            .alias("bin")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.when(F.col("outcome"), 1).otherwise(0))
            .cast("long")
            .alias("pos"),
        )
    )
    # Bounded from here down: the window's global sort orders <=10 rows.
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = bins.select(
        "bin", "n", "pos",
        F.sum("n").over(w).alias("cn"),
        F.sum("pos").over(w).alias("cp"),
    )
    a = cum.select(
        F.col("bin").alias("i"),
        (F.col("cp") - F.col("pos")).alias("cp_prev"),
        (F.col("cn") - F.col("n")).alias("cn_prev"),
    )
    b = cum.select(
        F.col("bin").alias("j"), F.col("cp"), F.col("cn")
    )
    segs = a.join(b, F.col("i") <= F.col("j")).select(
        "i", "j",
        (
            (F.col("cp") - F.col("cp_prev")).cast("double")
            / (F.col("cn") - F.col("cn_prev"))
        ).alias("segavg"),
    )
    k = bins.select(
        F.col("bin"), F.col("n").alias("n_docs"),
        (F.floor(F.col("pos").cast("double") / F.col("n") * 1e6) / 1e6)
        .alias("outcome_rate"),
    )
    inner_min = (
        segs.join(
            k.select("bin"),
            (F.col("i") <= F.col("bin")) & (F.col("j") >= F.col("bin")),
        )
        .groupBy("i", "bin")
        .agg(F.min("segavg").alias("m"))
    )
    return (
        k.join(inner_min, "bin")
        .groupBy("bin", "n_docs", "outcome_rate")
        .agg(F.round(F.max("m"), 6).alias("iso_rate"))
    )


# --- Wave 55: one-number calibration summaries ---------------------------------


@query(
    "calibration_error_summary",
    oracle=(
        "WITH "
        + _ISO_BINS_SQL
        + """,
    tot AS (
      SELECT cast(sum(n) AS BIGINT) AS nn,
             cast(sum(pos) AS BIGINT) AS np
      FROM bins
    ),
    conf AS (
      SELECT least(floor(keep_prob * 10), 9)::BIGINT AS bin,
             floor(avg(keep_prob) * 1e6) / 1e6 AS mean_p
      FROM sc GROUP BY 1
    ),
    terms AS (
      SELECT b.bin, b.n, b.pos, c.mean_p, tot.nn, tot.np,
             b.pos * 1.0 / b.n AS acc,
             CAST(floor(abs(c.mean_p - b.pos * 1.0 / b.n)
                        * b.n * 1e6) AS BIGINT) AS ece_fp,
             CAST(floor((c.mean_p - b.pos * 1.0 / b.n)
                        * (c.mean_p - b.pos * 1.0 / b.n)
                        * b.n * 1e6) AS BIGINT) AS rel_fp,
             CAST(floor((b.pos * 1.0 / b.n - tot.np * 1.0 / tot.nn)
                        * (b.pos * 1.0 / b.n - tot.np * 1.0 / tot.nn)
                        * b.n * 1e6) AS BIGINT) AS res_fp
      FROM bins b JOIN conf c ON c.bin = b.bin CROSS JOIN tot
    )
    SELECT max(nn) AS n_docs,
           floor(sum(ece_fp) * 1.0 / max(nn)) / 1e6 AS ece,
           floor(sum(rel_fp) * 1.0 / max(nn)) / 1e6 AS reliability,
           floor(sum(res_fp) * 1.0 / max(nn)) / 1e6 AS resolution,
           floor((max(np) * 1.0 / max(nn))
                 * (1.0::DOUBLE - max(np) * 1.0 / max(nn)) * 1e6) / 1e6
             AS uncertainty
    FROM terms
    """
    ),
)
def calibration_error_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-number calibration summaries over the same deciles as
    classifier_calibration_bins / isotonic_calibration_bins: Expected
    Calibration Error (the weighted |confidence - accuracy| gap the
    model-card reports) and Murphy's (1973) decomposition of the binned
    Brier score — reliability (calibration badness, lower better),
    resolution (discrimination, higher better), and the irreducible
    outcome uncertainty p(1-p); Brier ~ reliability - resolution +
    uncertainty.

    Every bin term is a single expression of exact integer counts and
    the bin's trunc6 mean confidence, floor-truncated to 1e-6 weighted
    fixed-point before the 10-bounded sum (order-free); the outputs are
    exact-integer-ratio descales. Same single corpus aggregation as the
    calibration table."""
    d = T(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("ws")
    )
    total = F.aggregate(
        F.transform(F.col("ws"), _token_weight),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    prob = 1.0 / (
        1.0 + F.exp(-4.0 * (total / F.greatest(F.size("ws"), F.lit(1))))
    )
    trunc6 = lambda c: F.floor(c * 1e6) / 1e6  # noqa: E731
    sc = d.select(
        trunc6(prob).alias("keep_prob"),
        F.arrays_overlap(
            "ws", F.array(*[F.lit(w) for w in _CAL_STOPWORDS])
        ).alias("outcome"),
    )
    bins = sc.groupBy(
        F.least(F.floor(F.col("keep_prob") * 10), F.lit(9))
        .cast("long")
        .alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("outcome"), 1).otherwise(0))
        .cast("long")
        .alias("pos"),
        trunc6(F.avg("keep_prob")).alias("mean_p"),
    )
    tot = bins.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum("pos").cast("long").alias("np"),
    )
    acc = F.col("pos") * F.lit(1.0) / F.col("n")
    base = F.col("np") * F.lit(1.0) / F.col("nn")
    terms = bins.crossJoin(F.broadcast(tot)).select(
        "nn",
        "np",
        F.floor(F.abs(F.col("mean_p") - acc) * F.col("n") * F.lit(1e6))
        .cast("long")
        .alias("ece_fp"),
        F.floor(
            (F.col("mean_p") - acc)
            * (F.col("mean_p") - acc)
            * F.col("n")
            * F.lit(1e6)
        )
        .cast("long")
        .alias("rel_fp"),
        F.floor((acc - base) * (acc - base) * F.col("n") * F.lit(1e6))
        .cast("long")
        .alias("res_fp"),
    )
    return terms.agg(
        F.max("nn").alias("n_docs"),
        (F.floor(F.sum("ece_fp") * F.lit(1.0) / F.max("nn")) / 1e6).alias(
            "ece"
        ),
        (F.floor(F.sum("rel_fp") * F.lit(1.0) / F.max("nn")) / 1e6).alias(
            "reliability"
        ),
        (F.floor(F.sum("res_fp") * F.lit(1.0) / F.max("nn")) / 1e6).alias(
            "resolution"
        ),
        (
            F.floor(
                (F.max("np") * F.lit(1.0) / F.max("nn"))
                * (F.lit(1.0) - F.max("np") * F.lit(1.0) / F.max("nn"))
                * F.lit(1e6)
            )
            / 1e6
        ).alias("uncertainty"),
    )


# --- Wave 58: cumulative gains / lift table ---------------------------------------


@query(
    "classifier_gains_table",
    oracle=(
        "WITH "
        + _ISO_BINS_SQL
        + """,
    tot AS (
      SELECT cast(sum(n) AS BIGINT) AS nn, cast(sum(pos) AS BIGINT) AS np
      FROM bins
    ),
    gcum AS (
      SELECT bin, n, pos,
             sum(n) OVER (ORDER BY bin DESC) AS cum_n,
             sum(pos) OVER (ORDER BY bin DESC) AS cum_pos
      FROM bins
    )
    SELECT gcum.bin,
           cast(gcum.n AS BIGINT) AS n_docs,
           cast(gcum.cum_n AS BIGINT) AS cum_docs,
           floor(gcum.cum_n * 1e6 / tot.nn) / 1e6 AS depth,
           floor(gcum.cum_pos * 1e6 / tot.np) / 1e6 AS gain,
           floor((gcum.cum_pos * 1.0 / tot.np)
                 / (gcum.cum_n * 1.0 / tot.nn) * 1e6) / 1e6 AS lift
    FROM gcum, tot
    """
    ),
)
def classifier_gains_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gains and lift by predicted-probability decile — the
    targeting readout next to AUC (how much of the outcome do I capture
    if I act on the top 10%/20%... of scores) and the curve behind
    every "model vs random" marketing chart: descending-bin cumulative
    positives over the same deciles as the calibration family, gain =
    captured-positive share at each depth, lift = gain/depth.

    One map-side decile aggregation; the cumulative window runs over
    <= 10 bin rows; every output is a trunc6 exact-integer ratio."""
    d = T(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("ws")
    )
    total = F.aggregate(
        F.transform(F.col("ws"), _token_weight),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    prob = 1.0 / (
        1.0 + F.exp(-4.0 * (total / F.greatest(F.size("ws"), F.lit(1))))
    )
    trunc6 = lambda c: F.floor(c * 1e6) / 1e6  # noqa: E731
    bins = (
        d.select(
            trunc6(prob).alias("keep_prob"),
            F.arrays_overlap(
                "ws", F.array(*[F.lit(w) for w in _CAL_STOPWORDS])
            ).alias("outcome"),
        )
        .groupBy(
            F.least(F.floor(F.col("keep_prob") * 10), F.lit(9))
            .cast("long")
            .alias("bin")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.when(F.col("outcome"), 1).otherwise(0))
            .cast("long")
            .alias("pos"),
        )
    )
    tot = bins.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum("pos").cast("long").alias("np"),
    )
    wdesc = Window.orderBy(F.desc("bin")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = bins.select(
        "bin",
        F.col("n").alias("n_docs"),
        F.sum("n").over(wdesc).alias("cum_n"),
        F.sum("pos").over(wdesc).alias("cum_pos"),
    )
    return cum.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n_docs",
        F.col("cum_n").cast("long").alias("cum_docs"),
        (F.floor(F.col("cum_n") * F.lit(1e6) / F.col("nn")) / 1e6).alias(
            "depth"
        ),
        (F.floor(F.col("cum_pos") * F.lit(1e6) / F.col("np")) / 1e6).alias(
            "gain"
        ),
        (
            F.floor(
                (F.col("cum_pos") * F.lit(1.0) / F.col("np"))
                / (F.col("cum_n") * F.lit(1.0) / F.col("nn"))
                * F.lit(1e6)
            )
            / 1e6
        ).alias("lift"),
    )


# --- Wave 74: Spiegelhalter calibration test --------------------------------------


@query(
    "spiegelhalter_calibration_test",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, n_chars,
             string_split_regex(trim(text), '\\s+') AS ws
      FROM documents
    ),
    sc AS (
      SELECT doc_id,
             (n_chars >= 300) AS y,
             floor(1.0 / (1.0 + exp(-4.0 * (
               list_sum(list_transform(ws, w -> {_WEIGHT_SQL.format(w='w')}))
               / greatest(len(ws), 1)
             ))) * 1e6) / 1e6 AS p
      FROM d
    ),
    s AS (
      SELECT cast(count(*) AS BIGINT) AS n,
             cast(sum(cast(floor(((CASE WHEN y THEN 1.0::DOUBLE
                                   ELSE 0.0::DOUBLE END) - p)
                                 * (1.0::DOUBLE - 2.0::DOUBLE * p) * 1e9)
                           AS BIGINT)) AS BIGINT) AS num_fp,
             cast(sum(cast(floor((1.0::DOUBLE - 2.0::DOUBLE * p)
                                 * (1.0::DOUBLE - 2.0::DOUBLE * p)
                                 * p * (1.0::DOUBLE - p) * 1e9)
                           AS BIGINT)) AS BIGINT) AS den_fp,
             cast(sum(cast(floor(((CASE WHEN y THEN 1.0::DOUBLE
                                   ELSE 0.0::DOUBLE END) - p)
                                 * ((CASE WHEN y THEN 1.0::DOUBLE
                                     ELSE 0.0::DOUBLE END) - p) * 1e9)
                           AS BIGINT)) AS BIGINT) AS brier_fp
      FROM sc
    )
    SELECT n AS n_docs,
           floor(brier_fp / 1e9 / n * 1e6) / 1e6 AS brier,
           round((num_fp / 1e9) / sqrt(den_fp / 1e9), 4) AS z,
           round({{p_sql}}, 6) AS p_value,
           ({{p_sql}} >= 0.01::DOUBLE) AS well_calibrated
    FROM s
    """.replace(
        "{p_sql}",
        NORMAL_SF_SQL.format(z="abs((num_fp / 1e9) / sqrt(den_fp / 1e9))"),
    ),
)
def spiegelhalter_calibration_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spiegelhalter's (1986) z-test of probability calibration for the
    hashed-linear quality scorer against the length label (n_chars >=
    300): z = sum((y - p)(1 - 2p)) / sqrt(sum((1 - 2p)^2 p(1 - p))) —
    the TEST the calibration family was missing: calibration_error
    summary and classifier_calibration_bins DESCRIBE miscalibration,
    isotonic fixes it, this one says whether the observed Brier excess
    is explainable by chance. (The decomposition identity: Brier =
    calibration + refinement; Spiegelhalter isolates the calibration
    term's sampling noise.)

    Exactness: p is the scorer's trunc6 keep-probability (identical
    doubles by the contentfilter module's fold discipline), y is an
    exact integer predicate, and every z/Brier term floors into 1e-9
    fixed point before the order-free sums.

    Scale: one corpus projection, three sums."""
    d = fan_out_scan(T(spark, sf_dir, "documents")).select(
        "doc_id", "n_chars", tokens(F.col("text")).alias("ws")
    )
    total = F.aggregate(
        F.transform(F.col("ws"), _token_weight),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    score = total / F.greatest(F.size("ws"), F.lit(1))
    p = F.floor(1.0 / (1.0 + F.exp(-4.0 * score)) * 1e6) / 1e6
    sc = d.select(
        (F.col("n_chars") >= 300).cast("double").alias("y"),
        p.alias("p"),
    )
    s = sc.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            F.floor(
                (F.col("y") - F.col("p"))
                * (F.lit(1.0) - F.lit(2.0) * F.col("p"))
                * 1e9
            ).cast("long")
        )
        .cast("long")
        .alias("num_fp"),
        F.sum(
            F.floor(
                (F.lit(1.0) - F.lit(2.0) * F.col("p"))
                * (F.lit(1.0) - F.lit(2.0) * F.col("p"))
                * F.col("p")
                * (F.lit(1.0) - F.col("p"))
                * 1e9
            ).cast("long")
        )
        .cast("long")
        .alias("den_fp"),
        F.sum(
            F.floor(
                (F.col("y") - F.col("p")) * (F.col("y") - F.col("p")) * 1e9
            ).cast("long")
        )
        .cast("long")
        .alias("brier_fp"),
    )
    from ..functions.scalars import normal_sf

    z = (F.col("num_fp") / 1e9) / F.sqrt(F.col("den_fp") / 1e9)
    pv = normal_sf(F.abs(z))
    return s.select(
        F.col("n").alias("n_docs"),
        (F.floor(F.col("brier_fp") / 1e9 / F.col("n") * 1e6) / 1e6).alias(
            "brier"
        ),
        F.round(z, 4).alias("z"),
        F.round(pv, 6).alias("p_value"),
        (pv >= F.lit(0.01)).alias("well_calibrated"),
    )
