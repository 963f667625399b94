"""Text-analysis and dedup plan coverage over the documents table
(north-star training-data-pipeline operators; BASELINE.json).

Language-ID, quality scoring, token counting, fingerprinting, exact dedup
and n-gram-Jaccard near-dup all have exact SQL oracles; MinHash-LSH and
SimHash (xxhash64-based) are Spark-only and validated in pytest against the
exact Jaccard instead.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..catalog import fan_out_scan, table as T
from ..functions.text import (
    STOPWORDS,
    fingerprint,
    tokens,
)
from ..operators.dedup import (
    POSTING_DF_CAP,
    exact_dedup,
    minhash_lsh_candidates,
    posting_pair_counts,
    simhash64,
)
from ..session import shuffle_partitions
from .registry import query

_STOP_EN_SQL = "['" + "', '".join(STOPWORDS["en"]) + "']"


@query(
    "doc_token_stats",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             string_split_regex(trim(text), '\\s+') AS ws,
             length(regexp_replace(text, '\\s', '', 'g')) AS n_chars_nospace
      FROM documents
    )
    SELECT doc_id,
           cast(len(ws) AS BIGINT) AS n_tokens,
           cast(n_chars_nospace AS BIGINT) AS n_chars_nospace,
           round(n_chars_nospace / greatest(len(ws), 1), 6) AS avg_token_len,
           round(len(list_filter(list_transform(ws, x -> lower(x)),
                                 x -> list_contains({_STOP_EN_SQL}, x)))
                 / greatest(len(ws), 1), 6) AS stop_ratio_en
    FROM t
    """,
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality metrics: token count, characters, average token
    length, stopword ratio — the text-quality scoring battery, all JVM
    builtins (split/length/filter), one narrow projection, no shuffle."""
    d = T(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n_tokens = F.size(toks)
    nospace = F.length(F.regexp_replace("text", r"\s", ""))
    sw = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    stop_hits = F.size(
        F.filter(F.transform(toks, lambda t: F.lower(t)),
                 lambda t: F.array_contains(sw, t))
    )
    denom = F.greatest(n_tokens, F.lit(1))
    return d.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        nospace.cast("long").alias("n_chars_nospace"),
        F.round(nospace / denom, 6).alias("avg_token_len"),
        F.round(stop_hits / denom, 6).alias("stop_ratio_en"),
    )


@query(
    "lang_token_summary",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           round(avg(len(string_split_regex(trim(text), '\\s+'))), 6)
               AS avg_tokens,
           round(avg(n_chars), 6) AS avg_chars,
           count(DISTINCT source) AS n_sources
    FROM documents
    GROUP BY lang
    """,
)
def lang_token_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus profile per language (language-ID downstream shape)."""
    d = T(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg(F.size(tokens(F.col("text")))), 6).alias("avg_tokens"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        F.countDistinct("source").alias("n_sources"),
    )


@query(
    "doc_fingerprints",
    oracle="""
    SELECT doc_id,
           md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint
    FROM documents
    """,
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical document fingerprint: md5 over whitespace-normalized,
    lowercased text (document-fingerprinting operator)."""
    return T(spark, sf_dir, "documents").select(
        "doc_id", fingerprint(F.col("text")).alias("fingerprint")
    )


@query(
    "cross_source_dup_audit",
    oracle="""
    SELECT md5(substr(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), 1, 200))
               AS lead_fingerprint,
           cast(count(*) AS BIGINT) AS n_copies,
           cast(count(DISTINCT source) AS BIGINT) AS n_sources,
           string_agg(DISTINCT source, ',' ORDER BY source) AS sources,
           min(doc_id) AS canonical_doc
    FROM documents
    GROUP BY 1
    HAVING count(DISTINCT source) >= 2
    """,
)
def cross_source_dup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication provenance: LEAD-PREFIX fingerprint groups
    (first 200 normalized chars — syndicated/mirrored articles share the
    lead while tails diverge with boilerplate, so full-text md5 misses
    them; this corpus has zero exact full-text dups but ~15 lead-prefix
    groups) spanning >= 2 sources — the audit a corpus pipeline runs
    before mixing sources, since mirrored pages inflate a source's
    apparent contribution and double-count tokens under per-source
    budgets. One hash shuffle on the 128-bit fingerprint, source list
    aggregated sorted for determinism — same one-pass scale shape as
    exact_dedup."""
    d = T(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    lead_fp = F.md5(F.substring(norm, 1, 200))
    return (
        d.select(lead_fp.alias("lead_fingerprint"), "doc_id", "source")
        .groupBy("lead_fingerprint")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_copies"),
            F.countDistinct("source").cast("long").alias("n_sources"),
            F.array_join(F.array_sort(F.collect_set("source")), ",").alias("sources"),
            F.min("doc_id").alias("canonical_doc"),
        )
        .filter(F.col("n_sources") >= 2)
    )


@query(
    "exact_dedup_docs",
    oracle="""
    SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint,
           min(doc_id) AS keep_id,
           count(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact deduplication: hash-groupBy on the canonical fingerprint,
    keep the minimum doc_id (deterministic winner)."""
    return exact_dedup(T(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "near_dup_jaccard_pairs",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
      FROM t, unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS u(i)
    ), sizes AS (
      SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id
    ), shc AS (
      -- mirrors max_shingle_docs=1000: ultra-common shingles are dropped
      -- from intersection counting only (set sizes stay uncapped, exactly
      -- as in ngram_jaccard_pairs_inverted / containment_pairs)
      SELECT s.doc_id, s.shingle FROM sh s
      JOIN (SELECT shingle FROM sh GROUP BY 1 HAVING count(*) <= 1000) ok
        USING (shingle)
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
      FROM shc a JOIN shc b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, n_common,
           round(n_common / (sa.set_size + sb.set_size - n_common), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE n_common / (sa.set_size + sb.set_size - n_common) >= 0.05
    """,
)
def near_dup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs via the inverted-index
    pair-expansion plan (postings groupBy + HOF pair expansion — ~40%
    faster than the shingle self-join, operators/dedup.py keeps both). The
    POSTING_DF_CAP frequency guard is ON and mirrored exactly in
    the oracle (both engines drop the same ultra-common shingles from
    intersection counting), so the check stays value-exact while the plan
    keeps its quadratic-blowup guard; at 100 TB run MinHash-LSH first and
    this only on candidate pairs."""
    from ..operators.dedup import ngram_jaccard_pairs_inverted, shingle_table

    # r10 (r9 verdict item 4): one CHECKPOINTED shingle table — inside
    # the operator the un-materialized table feeds both the set-size and
    # the postings aggregates, so the tokenize+shingle pass executed
    # twice (the exchange below it is shared via ReusedExchange, the
    # CPU-dense projection above it is not).
    d = T(spark, sf_dir, "documents")
    return ngram_jaccard_pairs_inverted(
        d,
        "doc_id",
        "text",
        n=3,
        threshold=0.05,
        shingles=shingle_table(d, "doc_id", "text", 3).localCheckpoint(),
    )


@query(
    "doc_redaction",
    oracle="""
    SELECT doc_id,
           regexp_replace(regexp_replace(text, '[0-9]+', '[NUM]', 'g'),
                          '\\b(key|value)\\b', '[REDACTED]', 'g') AS redacted
    FROM documents
    """,
)
def doc_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained regex redaction (PHI-scrub shape,
    compliance/phi_redaction.py:14-44): numbers then term denylist.
    Spark regexp_replace is global by default; DuckDB needs the 'g' flag."""
    red = F.regexp_replace(
        F.regexp_replace("text", "[0-9]+", "[NUM]"),
        r"\b(key|value)\b",
        "[REDACTED]",
    )
    return T(spark, sf_dir, "documents").select("doc_id", red.alias("redacted"))


@query(
    "minhash_lsh_pairs_md5",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
      FROM t, unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS u(i)
    ), h AS (
      SELECT doc_id, i,
             min(md5(cast(i AS VARCHAR) || '|' || shingle)) AS mh
      FROM sh, unnest(generate_series(0, 15)) AS u(i)
      GROUP BY doc_id, i
    ), sig AS (
      SELECT doc_id, cast(floor(i / 4.0) AS BIGINT) AS band,
             string_agg(mh, ',' ORDER BY i) AS sig
      FROM h GROUP BY 1, 2
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM sig a JOIN sig b ON a.band = b.band AND a.sig = b.sig
    WHERE a.doc_id < b.doc_id
    """,
)
def minhash_lsh_pairs_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs with an md5 hash family (16 hashes, 4
    bands) — the fully-oracled twin of minhash_lsh_candidate_pairs: DuckDB
    reproduces the identical signatures, so the entire LSH pipeline
    (min-hashing, banding, bucket join) is hash-compared, not rows-only."""
    from ..operators.dedup import minhash_md5_candidates

    return minhash_md5_candidates(
        T(spark, sf_dir, "documents"), "doc_id", "text", n=3, num_hashes=16, bands=4
    )


# In-plan duplicate injection for the invariant bands below (the wave-82
# license-header pattern): re-add the first _INJ_DOCS documents under
# offset ids so the "exact duplicates MUST collide" claims are exercised
# at EVERY SF (the sf0.001/0.01 gate fixtures have no natural exact dups;
# sf0.1 has 8). The injection is mirrored verbatim in the DuckDB oracle.
_INJ_DOCS = 8
_INJ_OFFSET = 10_000_000

_MINHASH_BAND_ORACLE = f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + {_INJ_OFFSET} AS doc_id, text
      FROM documents WHERE doc_id < {_INJ_DOCS}
    ), t AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
      FROM corpus
    ), sh AS (
      SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
      FROM t, unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS u(i)
    ), ss AS (
      SELECT doc_id, string_agg(shingle, chr(31) ORDER BY shingle) AS sset
      FROM sh GROUP BY doc_id
    ), g AS (
      SELECT sset, count(*) AS c FROM ss GROUP BY sset
    )
    SELECT (SELECT cast(count(*) AS BIGINT) FROM corpus) AS n_docs,
           (SELECT cast(count(*) AS BIGINT) FROM ss) AS n_docs_signed,
           cast(coalesce(sum(c * (c - 1) // 2), 0) AS BIGINT)
             AS n_shingleset_dup_pairs,
           TRUE AS shingleset_dups_all_candidates
    FROM g
"""


@query("minhash_lsh_candidate_pairs", oracle=_MINHASH_BAND_ORACLE)
def minhash_lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate pairs (32 seeded xxhash64 hashes, 8 bands) —
    the scale path for fuzzy dedup — promoted r8 from rows-only to an
    INVARIANT-BAND oracle (r7 verdict item 3, the kmeans/ALS pattern).
    The xxhash64 hash family has no DuckDB twin, so the band carries:

    (a) DuckDB-exact values — corpus size, the number of docs that
        produce a signature (>= 1 shingle, i.e. >= 3 tokens: pins that
        the pipeline drops exactly the unshingleable docs and nothing
        else), and the number of identical-shingle-set pairs;
    (b) a TRUE-literal claim the engine evaluates: EVERY pair of docs
        with identical shingle sets is a candidate pair. This is a
        mathematical guarantee of MinHash+LSH regardless of hash family
        (equal sets => equal min over every seeded hash => equal band
        buckets), so a banding/bucketing/signature bug that breaks it
        flips the boolean and fails the hash.

    The first 8 docs are re-injected under offset ids (mirrored in the
    oracle) so the claim is non-vacuous at every SF. The md5 twin
    ``minhash_lsh_pairs_md5`` keeps full pair-level parity; pytest keeps
    recall-vs-exact-Jaccard and the candidate-pair detail via
    ``operators.dedup.minhash_lsh_candidates``.

    Scale: candidate generation is the production banded plan (one
    groupBy + bucket join); the audit adds one fingerprint groupBy over
    docs and an anti-join bounded by the duplicate-pair count."""
    from ..operators.dedup import shingle_table

    docs = T(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.unionByName(
        docs.filter(F.col("doc_id") < _INJ_DOCS).select(
            (F.col("doc_id") + _INJ_OFFSET).alias("doc_id"), "text"
        )
    )
    cand = minhash_lsh_candidates(
        corpus, "doc_id", "text", n=3, num_hashes=32, bands=8
    )
    # Exact-duplicate classes by shingle SET (the quantity MinHash is
    # defined on): md5 fingerprint of the sorted distinct shingles.
    ss = (
        shingle_table(corpus, "doc_id", "text", 3)
        .groupBy("doc_id")
        .agg(
            F.md5(
                F.concat_ws("\x1f", F.sort_array(F.collect_set("shingle")))
            ).alias("sset_fp")
        )
    )
    dup_pairs = (
        ss.alias("a")
        .join(ss.alias("b"), "sset_fp")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
    )
    missed = dup_pairs.join(cand, ["id_a", "id_b"], "left_anti")
    n_docs_f = corpus.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    n_signed_f = ss.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_signed")
    )
    n_dup_f = (
        ss.groupBy("sset_fp")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.coalesce(
                F.sum(F.col("c") * (F.col("c") - 1) / 2), F.lit(0)
            )
            .cast("long")
            .alias("n_shingleset_dup_pairs")
        )
    )
    claim_f = missed.agg(
        (F.count(F.lit(1)) == 0).alias("shingleset_dups_all_candidates")
    )
    return (
        n_docs_f.crossJoin(n_signed_f).crossJoin(n_dup_f).crossJoin(claim_f)
    )


@query(
    "simhash_md5_16bit",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
      FROM documents
      WHERE length(trim(text)) > 0
    ), b AS (
      SELECT doc_id, j,
             sum(CASE WHEN ((strpos('0123456789abcdef',
                                    substr(md5(tok), 1 + j // 4, 1)) - 1)
                            >> (3 - j % 4)) & 1 = 1
                      THEN 1 ELSE -1 END) AS s
      FROM t, unnest(generate_series(0, 15)) AS u(j)
      GROUP BY 1, 2
    )
    SELECT doc_id,
           cast(sum(CASE WHEN s > 0 THEN 1 << j ELSE 0 END) AS BIGINT)
             AS simhash16
    FROM b GROUP BY doc_id
    """,
)
def simhash_md5_16bit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit md5-based SimHash — full oracle parity for the SimHash
    pipeline (bit extraction from the digest, signed frequency sums, sign
    packing); the 64-bit xxhash64 simhash_signatures stays the production
    path and keeps its Hamming-distance pytest coverage."""
    from ..operators.dedup import simhash_md5_16

    return simhash_md5_16(T(spark, sf_dir, "documents"), "doc_id", "text")


_SIMHASH_BAND_ORACLE = f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + {_INJ_OFFSET} AS doc_id, text
      FROM documents WHERE doc_id < {_INJ_DOCS}
    ), t AS (
      SELECT doc_id,
             list_sort(string_split_regex(lower(trim(text)), '\\s+')) AS toks
      FROM corpus WHERE length(trim(text)) > 0
    ), g AS (
      SELECT toks, count(*) AS c FROM t GROUP BY toks
    )
    SELECT (SELECT cast(count(*) AS BIGINT) FROM t) AS n_docs_signed,
           cast(coalesce(sum(c * (c - 1) // 2), 0) AS BIGINT)
             AS n_multiset_dup_pairs,
           TRUE AS identical_multisets_same_sig,
           TRUE AS sign_bit_unused
    FROM g
"""


@query("simhash_signatures", oracle=_SIMHASH_BAND_ORACLE)
def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """63-bit xxhash64 SimHash — promoted r8 from rows-only to an
    INVARIANT-BAND oracle (r7 verdict item 3). The hash family has no
    DuckDB twin, so the band carries:

    (a) DuckDB-exact values — the signature count (Spark computes it FROM
        the signature frame, DuckDB from the corpus: exactly the docs
        with a non-empty token stream must be signed, so a doc-dropping
        or doc-duplicating bug flips the value) and the number of
        identical-token-multiset pairs;
    (b) TRUE-literal claims: docs with identical token multisets get
        identical signatures (SimHash is a function of the token
        multiset — signed per-bit frequency sums — so this holds for any
        hash family), and every signature is non-negative (bit 63
        intentionally unused; see operators/dedup.py::simhash64).

    Same in-plan duplicate injection as the MinHash band so the multiset
    claim is non-vacuous at every SF. Pair-level value parity lives on
    the md5 twin ``simhash_md5_16bit``; Hamming-distance behavior stays
    pytest-pinned (tests/test_hamming_margin.py); per-doc signature rows
    remain available via ``operators.dedup.simhash64``.

    Scale: simhash64's two shuffles plus one sorted-multiset groupBy —
    all hash-partitioned, no pairwise expansion anywhere."""
    docs = T(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.unionByName(
        docs.filter(F.col("doc_id") < _INJ_DOCS).select(
            (F.col("doc_id") + _INJ_OFFSET).alias("doc_id"), "text"
        )
    )
    sig = simhash64(corpus, "doc_id", "text")
    keyed = corpus.filter(F.length(F.trim("text")) > 0).select(
        "doc_id",
        F.sort_array(tokens(F.lower(F.col("text")))).alias("toks"),
    )
    n_signed_f = sig.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_signed")
    )
    n_dup_f = (
        keyed.groupBy("toks")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.coalesce(
                F.sum(F.col("c") * (F.col("c") - 1) / 2), F.lit(0)
            )
            .cast("long")
            .alias("n_multiset_dup_pairs")
        )
    )
    same_sig_f = (
        keyed.join(sig, "doc_id")
        .groupBy("toks")
        .agg(F.count_distinct("simhash").alias("d"))
        .agg(
            F.coalesce(F.max("d") <= 1, F.lit(True)).alias(
                "identical_multisets_same_sig"
            )
        )
    )
    sign_f = sig.agg(
        F.coalesce(F.min("simhash") >= 0, F.lit(True)).alias(
            "sign_bit_unused"
        )
    )
    return (
        n_signed_f.crossJoin(n_dup_f).crossJoin(same_sig_f).crossJoin(sign_f)
    )


@query(
    "near_dup_clusters",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
      FROM t, unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS u(i)
    ), sizes AS (
      SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id
    ), shc AS (
      -- mirrors max_shingle_docs=1000: ultra-common shingles are dropped
      -- from intersection counting only (set sizes stay uncapped, exactly
      -- as in ngram_jaccard_pairs_inverted / containment_pairs)
      SELECT s.doc_id, s.shingle FROM sh s
      JOIN (SELECT shingle FROM sh GROUP BY 1 HAVING count(*) <= 1000) ok
        USING (shingle)
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
      FROM shc a JOIN shc b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE n_common / (sa.set_size + sb.set_size - n_common) >= 0.05
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ), closure AS (
      WITH RECURSIVE reach(src, dst) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
      )
      SELECT * FROM reach
    )
    SELECT src AS node, least(min(dst), src) AS component
    FROM closure GROUP BY src
    """,
)
def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: candidate pairs -> connected components via
    iterative min-label propagation (genuinely iterative distributed
    algorithm; the oracle uses a recursive-CTE transitive closure).
    component = min doc_id of the cluster = the canonical keeper."""
    from ..operators.dedup import connected_components, ngram_jaccard_pairs_inverted

    pairs = ngram_jaccard_pairs_inverted(
        T(spark, sf_dir, "documents"), "doc_id", "text", n=3, threshold=0.05
    )
    return connected_components(pairs)


@query(
    "tfidf_top_terms",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
      FROM documents WHERE length(trim(text)) > 0
    ), tf AS (
      SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY 1, 2
    ), idf AS (
      SELECT tok, count(DISTINCT doc_id) AS df FROM t GROUP BY 1
    ), n AS (
      SELECT count(DISTINCT doc_id) AS n_docs FROM t
    ), s AS (
      SELECT tf.doc_id, tf.tok,
             round(tf.tf * ln(n.n_docs / idf.df), 6) AS tfidf
      FROM tf JOIN idf USING (tok), n
    )
    SELECT doc_id, tok, tfidf FROM (
      SELECT s.*, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY tfidf DESC, tok) AS rk
      FROM s)
    WHERE rk <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document. Term frequency and document
    frequency are two aggregations over the exploded token table (the
    token explode is computed once and reused); n_docs broadcasts as a
    single-row cross join; rank ties break on the rounded score then the
    token, so the top-k is deterministic cross-engine. At 100 TB the
    df table is the only global state and it's |vocab|-sized."""
    d = T(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("tok")
    )
    tf = t.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    idf = t.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    n = t.agg(F.countDistinct("doc_id").alias("n_docs"))
    s = (
        tf.join(idf, "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("tok"))
    return (
        s.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "tok", "tfidf")
    )


@query(
    "incremental_dedup_new_docs",
    oracle="""
    WITH fp AS (
      SELECT doc_id,
             md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
      FROM documents
    )
    SELECT i.doc_id, i.fp
    FROM fp i
    WHERE i.doc_id % 10 = 3
      AND i.fp NOT IN (SELECT fp FROM fp WHERE doc_id % 10 <> 3)
    """,
)
def incremental_dedup_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental batch dedup with a Bloom pre-filter: which documents
    of an incoming batch (doc_id % 10 = 3 stands in for "today's crawl")
    are genuinely new against the existing corpus?

    The 100 TB shape: an exact anti-join of incoming⋈corpus shuffles the
    CORPUS side every batch. Instead, aggregate the corpus fingerprints
    into a Bloom filter once (bloom_filter_agg — partial/final, bytes on
    the wire = the sketch, not the corpus), broadcast it, and split the
    incoming batch map-side: might_contain = false is DEFINITELY new (no
    false negatives) and skips the join entirely; only the might-contain
    sliver (true hits + the ~1% false-positive rate) pays the exact
    anti-join verification. The final result is EXACT — the Bloom only
    routes rows — so the DuckDB NOT IN oracle hash-matches; the pruning
    itself is asserted in tests/test_misc_clinical.py (definitely-new
    bypass carries >0 rows at the default FPP)."""
    from ..functions.text import fingerprint
    from ..operators.bloom import build_bloom, might_contain

    docs = T(spark, sf_dir, "documents").select(
        "doc_id", fingerprint(F.col("text")).alias("fp")
    )
    existing = docs.filter(F.col("doc_id") % 10 != 3).select("fp")
    incoming = docs.filter(F.col("doc_id") % 10 == 3)
    bloom = build_bloom(existing, F.col("fp"))
    routed = incoming.crossJoin(F.broadcast(bloom)).withColumn(
        "maybe_dup", might_contain(F.col("bloom"), F.col("fp"))
    )
    definitely_new = routed.filter(~F.col("maybe_dup")).select("doc_id", "fp")
    verified_new = (
        routed.filter(F.col("maybe_dup"))
        .select("doc_id", "fp")
        .join(existing, "fp", "left_anti")
        .select("doc_id", "fp")
    )
    return definitely_new.unionByName(verified_new)


# --- Entity-resolution blocking ----------------------------------------------

_ER_TAU = 0.75  # match threshold on token Jaccard


@query(
    "er_blocking_part_pairs",
    oracle=f"""
    WITH t AS (
      SELECT p_partkey,
             list_sort(list_distinct(string_split(
               lower(p_name || ' ' || p_brand || ' ' || p_type), ' '))) AS ts
      FROM part
    ),
    b AS (
      SELECT p_partkey, ts, ts[1] || ' ' || ts[2] AS blk
      FROM t WHERE len(ts) >= 2
    )
    SELECT a.p_partkey AS part_a, c.p_partkey AS part_b,
           floor(len(list_intersect(a.ts, c.ts)) * 1e6
                 / len(list_distinct(a.ts || c.ts))) / 1e6 AS jaccard
    FROM b a JOIN b c ON a.blk = c.blk AND a.p_partkey < c.p_partkey
    WHERE len(list_intersect(a.ts, c.ts)) * 1.0
          / len(list_distinct(a.ts || c.ts)) >= {_ER_TAU}
    """,
)
def er_blocking_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution blocking + match over the part catalog: entity
    string = name+brand+type, blocking key = the two lexicographically
    smallest distinct tokens, match = token-set Jaccard >= 0.75 verified
    only WITHIN blocks (the standard blocking pattern — Christen 2012 —
    that replaces the O(n^2) all-pairs compare).

    Plan: one narrow projection builds sorted distinct token arrays; a
    self equi-join on the block key generates candidates (max block 29,
    mean 5.3 at sf0.01); the Jaccard filter runs as a codegen'd array
    expression inside the join. The join shuffles on the block key, and
    blocks are NOT capped: a block's size grows with the part table, so
    candidate pairs grow with block size squared — 45.36x wall on 10x
    data in SCALE.md. A cap would change the registered result."""
    # r9: tokenization AND the within-block array_intersect verifies ran
    # on the single-file scan's ONE partition (the whole query was 3
    # stages, one of them all the work); fan out the raw scan first
    # (guide §6; identity no-op on a multi-split scan). Equi-join +
    # exact filter: layout-neutral.
    p = fan_out_scan(T(spark, sf_dir, "part"))
    ts = F.array_sort(
        F.array_distinct(
            F.split(
                F.lower(
                    F.concat_ws(
                        " ", F.col("p_name"), F.col("p_brand"), F.col("p_type")
                    )
                ),
                " ",
            )
        )
    )
    b = p.select("p_partkey", ts.alias("ts")).filter(F.size("ts") >= 2)
    b = b.withColumn(
        "blk", F.concat_ws(" ", F.element_at("ts", 1), F.element_at("ts", 2))
    )
    a, c = b.alias("a"), b.alias("c")
    inter = F.size(F.array_intersect(F.col("a.ts"), F.col("c.ts")))
    union = F.size(F.array_union(F.col("a.ts"), F.col("c.ts")))
    return (
        a.join(
            c,
            (F.col("a.blk") == F.col("c.blk"))
            & (F.col("a.p_partkey") < F.col("c.p_partkey")),
        )
        .filter(inter * 1.0 / union >= _ER_TAU)
        .select(
            F.col("a.p_partkey").alias("part_a"),
            F.col("c.p_partkey").alias("part_b"),
            (F.floor(inter * 1e6 / union) / 1e6).alias("jaccard"),
        )
    )


@query(
    "ppjoin_near_dup_pairs",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
      FROM t, unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS u(i)
    ), sizes AS (
      SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
      FROM sh a JOIN sh b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, cast(n_common AS BIGINT) AS n_common,
           round(n_common / (sa.set_size + sb.set_size - n_common), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE n_common / (sa.set_size + sb.set_size - n_common) >= 0.3
    """,
)
def ppjoin_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard >= 0.3 pairs via PREFIX FILTERING — the
    oracle runs the exhaustive inverted-index join, so a value-exact
    match here PROVES the prefix filter is lossless, not just fast
    (the pruning ratio itself is pinned in pytest)."""
    from ..operators.dedup import ppjoin_jaccard_pairs

    return ppjoin_jaccard_pairs(
        T(spark, sf_dir, "documents"), "doc_id", "text", n=3, threshold=0.3
    )


@query(
    "containment_dup_pairs",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
      FROM t, unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS u(i)
    ), sizes AS (
      SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id
    ), shc AS (
      -- mirrors max_shingle_docs=1000: ultra-common shingles are dropped
      -- from intersection counting only (set sizes stay uncapped, exactly
      -- as in ngram_jaccard_pairs_inverted / containment_pairs)
      SELECT s.doc_id, s.shingle FROM sh s
      JOIN (SELECT shingle FROM sh GROUP BY 1 HAVING count(*) <= 1000) ok
        USING (shingle)
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
      FROM shc a JOIN shc b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), directed AS (
      SELECT CASE WHEN sa.set_size < sb.set_size
                       OR (sa.set_size = sb.set_size AND id_a < id_b)
                  THEN id_a ELSE id_b END AS id_contained,
             CASE WHEN sa.set_size < sb.set_size
                       OR (sa.set_size = sb.set_size AND id_a < id_b)
                  THEN id_b ELSE id_a END AS id_container,
             least(sa.set_size, sb.set_size) AS size_contained,
             greatest(sa.set_size, sb.set_size) AS size_container,
             n_common,
             floor(n_common / least(sa.set_size, sb.set_size) * 1e6) / 1e6
               AS containment
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
    )
    SELECT id_contained, id_container,
           cast(size_contained AS BIGINT) AS size_contained,
           cast(size_container AS BIGINT) AS size_container,
           cast(n_common AS BIGINT) AS n_common, containment
    FROM directed WHERE containment >= 0.8
    """,
)
def containment_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup (Broder 1997): directed pairs
    where >= 80% of the smaller document's 3-gram shingles appear in
    the larger — the quote/embedding case symmetric Jaccard misses when
    the container is much longer. The POSTING_DF_CAP guard is ON
    and mirrored in the oracle (see near_dup_jaccard_pairs)."""
    from ..operators.dedup import containment_pairs

    # r10 probe: a checkpointed shared shingle table was A/B'd here
    # (both orders) and LOST ~0.4 s — the 0.8-threshold pipeline is
    # cheap enough that the materialization overtakes the saved
    # tokenize. Left as-is per the measure-first rule.
    out = containment_pairs(
        T(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        n=3,
        threshold=0.8,
    )
    return out.select(
        "id_contained",
        "id_container",
        F.col("size_contained").cast("long").alias("size_contained"),
        F.col("size_container").cast("long").alias("size_container"),
        F.col("n_common").cast("long").alias("n_common"),
        "containment",
    )


_BM25_TERMS = ("join", "hash", "scan")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_K = 10


@query(
    "bm25_topk_docs",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             string_split_regex(lower(trim(text)), '\\s+') AS ws
      FROM documents
    ),
    dl AS (SELECT doc_id, len(ws) AS doclen FROM t),
    stats AS (
      SELECT count(*) AS n_docs, avg(doclen) AS avgdl FROM dl
    ),
    tf AS (
      SELECT doc_id, tok, count(*) AS tf
      FROM (SELECT doc_id, unnest(ws) AS tok FROM t)
      WHERE tok IN {_BM25_TERMS!r}
      GROUP BY 1, 2
    ),
    idf AS (
      SELECT tok,
             ln(1.0::DOUBLE + (s.n_docs - count(*) + 0.5::DOUBLE)
                / (count(*) + 0.5::DOUBLE)) AS idf
      FROM tf, stats s GROUP BY tok, s.n_docs
    ),
    scored AS (
      SELECT tf.doc_id,
             sum(idf.idf * tf.tf
                 / (tf.tf + {_BM25_K1}::DOUBLE
                    * (1.0::DOUBLE - {_BM25_B}::DOUBLE
                       + {_BM25_B}::DOUBLE * dl.doclen / s.avgdl)))
               AS score,
             count(*) AS n_terms_hit
      FROM tf
      JOIN idf USING (tok)
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats s
      GROUP BY tf.doc_id
    )
    SELECT doc_id, cast(n_terms_hit AS BIGINT) AS n_terms_hit,
           floor(score * 1e6) / 1e6 AS bm25
    FROM scored
    ORDER BY bm25 DESC, doc_id
    LIMIT {_BM25_K}
    """,
)
def bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval (Robertson-Sparck Jones, k1=1.2 b=0.75) for a
    fixed 3-term query over the corpus — the lexical-search primitive
    that pairs with the ANN operators for hybrid retrieval, and the
    hard-negative miner for embedding training data.

    Plan: token explode filtered to the query terms BEFORE the count
    (so the tf table is |query terms| x matching docs, not the corpus
    vocabulary), idf and avgdl broadcast as scalars, score map-side,
    TakeOrdered(10). The trunc6 on the score happens before the sort,
    making the tie-break engine-stable."""
    d = fan_out_scan(T(spark, sf_dir, "documents")).select(
        "doc_id", tokens(F.lower(F.col("text"))).alias("ws")
    )
    dl = d.select("doc_id", F.size("ws").alias("doclen"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("doclen").alias("avgdl")
    )
    tf = (
        d.select("doc_id", F.explode("ws").alias("tok"))
        .filter(F.col("tok").isin(*_BM25_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    idf = (
        tf.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(stats.select("n_docs")))
        .select(
            "tok",
            F.log(
                1.0
                + (F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5)
            ).alias("idf"),
        )
    )
    denom = F.col("tf") + _BM25_K1 * (
        1.0 - _BM25_B + _BM25_B * F.col("doclen") / F.col("avgdl")
    )
    scored = (
        tf.join(F.broadcast(idf), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats.select("avgdl")))
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("idf") * F.col("tf") / denom).alias("score"),
            F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
        )
    )
    return (
        scored.select(
            "doc_id",
            "n_terms_hit",
            (F.floor(F.col("score") * 1e6) / 1e6).alias("bm25"),
        )
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(_BM25_K)
    )


_SN_WINDOW = 2  # neighbors compared on each side of the sort order
_SN_TAU = 0.5  # report threshold on token Jaccard


@query(
    "sorted_neighborhood_pairs",
    oracle=f"""
    WITH t AS (
      SELECT p_partkey,
             list_sort(list_distinct(string_split(
               lower(p_name || ' ' || p_brand || ' ' || p_type), ' '))) AS ts
      FROM part
    ),
    k AS (
      SELECT p_partkey, ts,
             ts[1] AS blk,
             array_to_string(ts, ' ') AS sortkey
      FROM t WHERE len(ts) >= 1
    ),
    r AS (
      SELECT p_partkey, ts, blk,
             row_number() OVER (PARTITION BY blk
                                ORDER BY sortkey, p_partkey) AS rn
      FROM k
    )
    SELECT least(a.p_partkey, c.p_partkey) AS part_a,
           greatest(a.p_partkey, c.p_partkey) AS part_b,
           floor(len(list_intersect(a.ts, c.ts)) * 1e6
                 / len(list_distinct(a.ts || c.ts))) / 1e6 AS jaccard
    FROM r a JOIN r c
      ON a.blk = c.blk AND c.rn - a.rn BETWEEN 1 AND {_SN_WINDOW}
    WHERE len(list_intersect(a.ts, c.ts)) * 1.0::DOUBLE
          / len(list_distinct(a.ts || c.ts)) >= {_SN_TAU}
    """,
)
def sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood entity resolution (Hernández & Stolfo 1995) —
    the complement to key blocking (er_blocking_part_pairs): records are
    ORDERED by a sort key built from their canonical token string, and
    only records within a sliding window of that order are compared.
    Where blocking misses matches that straddle block boundaries, SN
    misses only matches far apart in sort order — real MDM pipelines run
    both and union the candidates.

    Distributed form: the classic algorithm's single global sort would
    serialize; here the sort is PARTITIONED by the first token (the
    leading sort component — neighbors in the global order share it
    except at partition seams, the standard multi-pass SN tradeoff) and
    the window comparison is a rank-offset self-join within each
    partition, comparing each record to its next {_SN_WINDOW}
    neighbors. Jaccard verification is a codegen'd array expression
    inside the join — no UDF, no all-pairs blowup: candidates are
    exactly (window size) x corpus.

    At 100 TB: one shuffle on the partition token, per-partition sorts
    bounded by partition size (frequency-cap degenerate tokens like the
    blocking path does), join fan-out constant."""
    p = T(spark, sf_dir, "part")
    ts = F.array_sort(
        F.array_distinct(
            F.split(
                F.lower(
                    F.concat_ws(
                        " ", F.col("p_name"), F.col("p_brand"), F.col("p_type")
                    )
                ),
                " ",
            )
        )
    )
    k = p.select("p_partkey", ts.alias("ts")).filter(F.size("ts") >= 1)
    k = k.select(
        "p_partkey",
        "ts",
        F.element_at("ts", 1).alias("blk"),
        F.concat_ws(" ", F.col("ts")).alias("sortkey"),
    )
    r = k.select(
        "p_partkey",
        "ts",
        "blk",
        F.row_number()
        .over(Window.partitionBy("blk").orderBy("sortkey", "p_partkey"))
        .alias("rn"),
    ).localCheckpoint()
    # The window offset must be part of the EQUI key: a raw
    # "rn difference BETWEEN 1 AND w" predicate joins each block on blk
    # alone and post-filters the per-block quadratic (measured 34.8 s at
    # sf0.1 — every block-internal pair paid the array intersect).
    # Exploding the offset and equi-joining on (blk, rn + off) hands the
    # hash join exactly w candidates per record: 4.4 s.
    a = r.alias("a").select(
        F.col("a.p_partkey").alias("a_key"),
        F.col("a.ts").alias("a_ts"),
        F.col("a.blk").alias("blk"),
        F.explode(
            F.array(*[F.lit(i) for i in range(1, _SN_WINDOW + 1)])
        ).alias("off"),
        F.col("a.rn").alias("a_rn"),
    ).withColumn("target_rn", F.col("a_rn") + F.col("off"))
    c = r.alias("c").select(
        F.col("c.p_partkey").alias("c_key"),
        F.col("c.ts").alias("c_ts"),
        F.col("c.blk").alias("c_blk"),
        F.col("c.rn").alias("c_rn"),
    )
    inter = F.size(F.array_intersect(F.col("a_ts"), F.col("c_ts")))
    union = F.size(F.array_union(F.col("a_ts"), F.col("c_ts")))
    return (
        a.join(
            c,
            (F.col("blk") == F.col("c_blk"))
            & (F.col("target_rn") == F.col("c_rn")),
        )
        .filter(inter * 1.0 / union >= _SN_TAU)
        .select(
            F.least(F.col("a_key"), F.col("c_key")).alias("part_a"),
            F.greatest(F.col("a_key"), F.col("c_key")).alias("part_b"),
            (F.floor(inter * 1e6 / union) / 1e6).alias("jaccard"),
        )
    )


_LEV_MAX = 12  # report threshold on edit distance


@query(
    "levenshtein_match_pairs",
    oracle=f"""
    WITH b AS (
      SELECT p_partkey, p_name, p_brand, p_size FROM part
    )
    SELECT a.p_partkey AS part_a, c.p_partkey AS part_b,
           cast(levenshtein(a.p_name, c.p_name) AS BIGINT) AS edit_dist
    FROM b a JOIN b c
      ON a.p_brand = c.p_brand AND a.p_size = c.p_size
     AND a.p_partkey < c.p_partkey
    WHERE levenshtein(a.p_name, c.p_name) <= {_LEV_MAX}
    """,
)
def levenshtein_match_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy matching within (brand, size) blocks: part
    names within {_LEV_MAX} edits — the character-level complement to
    token-set Jaccard (er_blocking_part_pairs) and sorted-neighborhood
    ordering: typo-class duplicates ('tomato' vs 'tomatto') share few
    tokens but tiny edit distance. Both Spark and DuckDB implement the
    classic Wagner–Fischer DP, so the distance is integer-exact
    cross-engine.

    Plan: self equi-join on the composite block key, quadratic per
    block; the DP runs as a codegen'd binary expression inside the join
    filter. The join shuffles on the block key, and blocks are NOT
    capped: a (brand, size) block grows with the part table, so
    candidate pairs grow with block size squared — 20.11x wall on 10x
    data in SCALE.md. A cap would change the registered result. The
    O(len^2) DP per comparison is the cost argument for running it
    AFTER cheap blocking, never corpus-wide."""
    b = T(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_brand", "p_size"
    )
    a, c = b.alias("a"), b.alias("c")
    dist = F.levenshtein(F.col("a.p_name"), F.col("c.p_name"))
    return (
        a.join(
            c,
            (F.col("a.p_brand") == F.col("c.p_brand"))
            & (F.col("a.p_size") == F.col("c.p_size"))
            & (F.col("a.p_partkey") < F.col("c.p_partkey")),
        )
        .filter(dist <= _LEV_MAX)
        .select(
            F.col("a.p_partkey").alias("part_a"),
            F.col("c.p_partkey").alias("part_b"),
            dist.cast("long").alias("edit_dist"),
        )
    )


@query(
    "dup_cluster_canonical_docs",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
      FROM t, unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS u(i)
    ), sizes AS (
      SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id
    ), shc AS (
      -- mirrors max_shingle_docs=1000: ultra-common shingles are dropped
      -- from intersection counting only (set sizes stay uncapped, exactly
      -- as in ngram_jaccard_pairs_inverted / containment_pairs)
      SELECT s.doc_id, s.shingle FROM sh s
      JOIN (SELECT shingle FROM sh GROUP BY 1 HAVING count(*) <= 1000) ok
        USING (shingle)
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
      FROM shc a JOIN shc b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE n_common / (sa.set_size + sb.set_size - n_common) >= 0.05
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ), closure AS (
      WITH RECURSIVE reach(src, dst) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
      )
      SELECT * FROM reach
    ), clusters AS (
      SELECT src AS node, least(min(dst), src) AS component
      FROM closure GROUP BY src
    ), ranked AS (
      SELECT c.component, c.node, d.n_chars,
             row_number() OVER (PARTITION BY c.component
                                ORDER BY d.n_chars DESC, c.node) AS rk
      FROM clusters c JOIN documents d ON d.doc_id = c.node
    )
    SELECT component AS cluster_id,
           cast(count(*) AS BIGINT) AS n_members,
           cast(count(*) - 1 AS BIGINT) AS n_dropped,
           max(CASE WHEN rk = 1 THEN node END) AS canonical_doc,
           cast(max(CASE WHEN rk = 1 THEN n_chars END) AS BIGINT)
             AS canonical_chars,
           cast(sum(CASE WHEN rk > 1 THEN n_chars ELSE 0 END) AS BIGINT)
             AS chars_dropped
    FROM ranked GROUP BY component
    """,
)
def dup_cluster_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation step AFTER near-dup clustering: within each
    connected component pick the canonical keeper — longest document,
    ties to the smallest doc_id — and report what the dedup pass drops
    (member counts, discarded chars). This is the "keep the best copy"
    policy every corpus dedup actually ships (vs near_dup_clusters'
    min-id label, which identifies the cluster but not the keeper).

    The component table is candidate-pair-sized; the keeper argmax is
    one keyed window over it (cluster-size-bounded partitions). The
    oracle re-derives clusters via the same recursive-CTE closure as
    near_dup_clusters, so the whole pipeline — pairs, components,
    survivorship — is value-verified end-to-end."""
    from ..operators.dedup import (
        connected_components,
        ngram_jaccard_pairs_inverted,
    )

    d = T(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs_inverted(
        d, "doc_id", "text", n=3, threshold=0.05
    )
    clusters = connected_components(pairs)
    ranked = clusters.join(
        d.select(F.col("doc_id").alias("node"), "n_chars"), "node"
    ).withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("component").orderBy(
                F.desc("n_chars"), F.asc("node")
            )
        ),
    )
    return ranked.groupBy(F.col("component").alias("cluster_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        (F.count(F.lit(1)) - 1).cast("long").alias("n_dropped"),
        F.max(F.when(F.col("rk") == 1, F.col("node"))).alias(
            "canonical_doc"
        ),
        F.max(F.when(F.col("rk") == 1, F.col("n_chars")))
        .cast("long")
        .alias("canonical_chars"),
        F.sum(F.when(F.col("rk") > 1, F.col("n_chars")).otherwise(0))
        .cast("long")
        .alias("chars_dropped"),
    )


# --- Positional phrase search ------------------------------------------------

_PHRASE = ("spark", "join")


@query(
    "phrase_search_positions",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
      FROM documents WHERE length(trim(text)) > 0
    ),
    g AS (
      SELECT doc_id,
             list_transform(range(1, len(ws)),
                            i -> ws[i] || ' ' || ws[i + 1]) AS bigrams
      FROM t
    )
    SELECT doc_id,
           cast(len(list_filter(bigrams,
                g -> g = '{_PHRASE[0]} {_PHRASE[1]}')) AS BIGINT)
             AS n_occurrences,
           cast(list_position(bigrams,
                '{_PHRASE[0]} {_PHRASE[1]}') AS BIGINT) AS first_pos
    FROM g
    WHERE len(list_filter(bigrams,
          g -> g = '{_PHRASE[0]} {_PHRASE[1]}')) > 0
    """,
)
def phrase_search_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search over a POSITIONAL inverted index — the
    retrieval primitive BM25 (bag-of-words) cannot express: find every
    document containing the two query terms ADJACENT and in order,
    with the occurrence count and the first match position. The Spark
    plan builds the real index shape: posexplode to (doc, position,
    term) postings, filter to the QUERY terms before any join (state
    is the matching postings lists, the BM25 discipline), then the
    phrase constraint is an equi-join on (doc, next-position) — for an
    n-term phrase, n-1 such joins, each keyed and partial-aggregated.
    The DuckDB oracle takes the orthogonal route (per-document bigram
    list scan), so the green row value-proves the postings-join plan
    document by document.

    At 100 TB: postings for two common terms are the only shuffled
    rows; the position join is co-partitioned on doc_id after the
    first shuffle, and everything downstream is per-doc counts."""
    d = fan_out_scan(
        T(spark, sf_dir, "documents")
        .filter(F.length(F.trim(F.col("text"))) > 0)
        .select("doc_id", "text")
    ).select("doc_id", tokens(F.col("text")).alias("ws"))
    tok = d.select(
        "doc_id", F.posexplode("ws").alias("pos", "w")
    ).filter(F.col("w").isin(*_PHRASE))
    a = tok.filter(F.col("w") == _PHRASE[0]).select(
        "doc_id", F.col("pos").alias("pa")
    )
    b = tok.filter(F.col("w") == _PHRASE[1]).select(
        "doc_id", F.col("pos").alias("pb")
    )
    hits = a.join(
        b,
        (a.doc_id == b.doc_id) & (F.col("pb") == F.col("pa") + 1),
    ).select(a.doc_id, "pa")
    return hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        (F.min("pa") + 1).cast("long").alias("first_pos"),
    )


# --- Keyword-in-context concordance ------------------------------------------

_KWIC_TERM = "spark"
_KWIC_WIN = 3


@query(
    "kwic_concordance",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
      FROM documents WHERE length(trim(text)) > 0
    ),
    occ AS (
      SELECT doc_id, ws,
             unnest(list_filter(range(1, len(ws) + 1),
                                i -> ws[i] = '{_KWIC_TERM}')) AS pos
      FROM t
    )
    SELECT doc_id, cast(pos AS BIGINT) AS pos,
           coalesce(array_to_string(
               ws[greatest(pos - {_KWIC_WIN}, 1):pos - 1], ' '), '')
             AS left_ctx,
           coalesce(array_to_string(
               ws[pos + 1:pos + {_KWIC_WIN}], ' '), '')
             AS right_ctx
    FROM occ
    """,
)
def kwic_concordance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-in-context concordance — the corpus-inspection tool every
    curation review loop needs: every occurrence of the query term with
    its +/-3-token context windows, one row per occurrence. The Spark
    plan is posexplode to (position, token) postings filtered to the
    term, then the context windows are ARRAY SLICES of the document's
    own token array — no joins at all; the oracle derives positions the
    orthogonal way (list_filter over an index range) so the
    position/slice arithmetic is value-proven per occurrence.

    At 100 TB: a narrow projection plus a generator — embarrassingly
    parallel, with the term filter applied before any downstream work
    (postings-bounded, the phrase-search discipline)."""
    d = fan_out_scan(
        T(spark, sf_dir, "documents")
        .filter(F.length(F.trim(F.col("text"))) > 0)
        .select("doc_id", "text")
    ).select("doc_id", tokens(F.col("text")).alias("ws"))
    occ = d.select(
        "doc_id", "ws", F.posexplode("ws").alias("p0", "w")
    ).filter(F.col("w") == _KWIC_TERM)
    pos = F.col("p0") + 1  # 1-based token index
    start_l = F.greatest(pos - _KWIC_WIN, F.lit(1))
    return occ.select(
        "doc_id",
        pos.cast("long").alias("pos"),
        F.array_join(
            F.slice(F.col("ws"), start_l, pos - start_l), " "
        ).alias("left_ctx"),
        F.array_join(
            F.slice(F.col("ws"), pos + 1, F.lit(_KWIC_WIN)), " "
        ).alias("right_ctx"),
    )


# --- Wave 41: reciprocal-rank fusion hybrid retrieval -------------------------

_RRF_K = 60  # the standard Cormack et al. constant
_RRF_TOP = 10


@query(
    "hybrid_search_rrf",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             string_split_regex(lower(trim(text)), '\\s+') AS ws
      FROM documents
    ),
    dl AS (SELECT doc_id, len(ws) AS doclen FROM t),
    stats AS (
      SELECT count(*) AS n_docs, avg(doclen) AS avgdl FROM dl
    ),
    tf AS (
      SELECT doc_id, tok, count(*) AS tf
      FROM (SELECT doc_id, unnest(ws) AS tok FROM t)
      WHERE tok IN {_BM25_TERMS!r}
      GROUP BY 1, 2
    ),
    idf AS (
      SELECT tok, count(*) AS df,
             ln(1.0::DOUBLE + (s.n_docs - count(*) + 0.5::DOUBLE)
                / (count(*) + 0.5::DOUBLE)) AS bm25_idf,
             ln(s.n_docs::DOUBLE / count(*)) AS tfidf_idf
      FROM tf, stats s GROUP BY tok, s.n_docs
    ),
    scored AS (
      SELECT tf.doc_id,
             floor(sum(idf.bm25_idf * tf.tf
                 / (tf.tf + {_BM25_K1}::DOUBLE
                    * (1.0::DOUBLE - {_BM25_B}::DOUBLE
                       + {_BM25_B}::DOUBLE * dl.doclen / s.avgdl)))
                   * 1e6) / 1e6 AS bm25,
             floor(sum(ln(1.0::DOUBLE + tf.tf) * idf.tfidf_idf)
                   * 1e6) / 1e6 AS tfidf
      FROM tf
      JOIN idf USING (tok)
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats s
      GROUP BY tf.doc_id
    ),
    ranked AS (
      SELECT doc_id, bm25, tfidf,
             row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r_bm25,
             row_number() OVER (ORDER BY tfidf DESC, doc_id) AS r_tfidf
      FROM scored
    )
    SELECT doc_id,
           cast(r_bm25 AS BIGINT) AS r_bm25,
           cast(r_tfidf AS BIGINT) AS r_tfidf,
           round(1.0::DOUBLE / ({_RRF_K} + r_bm25)
                 + 1.0::DOUBLE / ({_RRF_K} + r_tfidf), 6) AS rrf
    FROM ranked
    ORDER BY rrf DESC, doc_id
    LIMIT {_RRF_TOP}
    """,
)
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009) — the
    standard hybrid-search combiner: each retriever contributes
    1/(k + rank) with k=60, so fusion needs only RANKS, never
    comparable scores, which is exactly why RRF is the default way to
    merge a lexical ranking with an ANN ranking in production retrieval
    stacks. Here it fuses two genuinely different lexical rankers over
    the same fixed query — BM25 (tf-saturating, length-normalized) and
    classic ln(1+tf)*idf (neither) — which disagree enough on this
    corpus to reorder the fused top-10.

    Plan shape: one term-filtered posting scan feeds both scorers (the
    tf table is |query terms| x matching docs); both ranks come from
    row_number over the CANDIDATE set (posting-bounded, not the corpus
    — the unpartitioned window holds only docs matching >= 1 term; at
    larger candidate sets, rank only each retriever's top-N as real
    fusion stacks do); trunc6 lands on each score BEFORE its rank so
    tie-breaks are engine-stable, and the fused score is rational
    arithmetic on integer ranks."""
    d = fan_out_scan(T(spark, sf_dir, "documents")).select(
        "doc_id", tokens(F.lower(F.col("text"))).alias("ws")
    )
    dl = d.select("doc_id", F.size("ws").alias("doclen"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("doclen").alias("avgdl")
    )
    tf = (
        d.select("doc_id", F.explode("ws").alias("tok"))
        .filter(F.col("tok").isin(*_BM25_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    idf = (
        tf.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(stats.select("n_docs")))
        .select(
            "tok",
            F.log(
                1.0
                + (F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5)
            ).alias("bm25_idf"),
            F.log(F.col("n_docs").cast("double") / F.col("df")).alias(
                "tfidf_idf"
            ),
        )
    )
    trunc6 = lambda c: F.floor(c * 1e6) / 1e6  # noqa: E731
    bm25_term = F.col("bm25_idf") * F.col("tf") / (
        F.col("tf")
        + _BM25_K1
        * (1.0 - _BM25_B + _BM25_B * F.col("doclen") / F.col("avgdl"))
    )
    tfidf_term = F.log(1.0 + F.col("tf")) * F.col("tfidf_idf")
    scored = (
        tf.join(F.broadcast(idf), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            trunc6(F.sum(bm25_term)).alias("bm25"),
            trunc6(F.sum(tfidf_term)).alias("tfidf"),
        )
    )
    ranked = scored.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("bm25"), F.asc("doc_id")))
        .cast("long")
        .alias("r_bm25"),
        F.row_number()
        .over(Window.orderBy(F.desc("tfidf"), F.asc("doc_id")))
        .cast("long")
        .alias("r_tfidf"),
    )
    return (
        ranked.select(
            "doc_id",
            "r_bm25",
            "r_tfidf",
            F.round(
                1.0 / (_RRF_K + F.col("r_bm25"))
                + 1.0 / (_RRF_K + F.col("r_tfidf")),
                6,
            ).alias("rrf"),
        )
        .orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(_RRF_TOP)
    )


# --- Wave 42: Fellegi-Sunter record-linkage weights ---------------------------

_FS_M = 0.9  # assumed per-field agreement prob among true matches
_FS_1M = 0.1  # 1 - _FS_M, written as a literal on BOTH engines (ulp parity)
_FS_FIELDS = ("p_brand", "p_type", "p_size")


def _fs_u_sql(f: str) -> str:
    # u = P(two random records agree on f) = sum_v (n_v/N)^2, exact ints
    return f"""(
      SELECT sum(c * c)::DOUBLE / (sum(c) * sum(c))
      FROM (SELECT count(*) AS c FROM part GROUP BY {f})
    )"""


@query(
    "fellegi_sunter_weights",
    oracle=f"""
    WITH u AS (
      SELECT {_fs_u_sql('p_brand')} AS u_brand,
             {_fs_u_sql('p_type')} AS u_type,
             {_fs_u_sql('p_size')} AS u_size
    ),
    w AS (
      SELECT round(log2({_FS_M}::DOUBLE / u_brand), 6) AS wa_brand,
             round(log2({_FS_1M}::DOUBLE / (1.0::DOUBLE - u_brand)), 6) AS wd_brand,
             round(log2({_FS_M}::DOUBLE / u_type), 6) AS wa_type,
             round(log2({_FS_1M}::DOUBLE / (1.0::DOUBLE - u_type)), 6) AS wd_type,
             round(log2({_FS_M}::DOUBLE / u_size), 6) AS wa_size,
             round(log2({_FS_1M}::DOUBLE / (1.0::DOUBLE - u_size)), 6) AS wd_size
      FROM u
    ),
    t AS (
      SELECT p_partkey, p_brand, p_type, p_size,
             list_sort(list_distinct(string_split(
               lower(p_name || ' ' || p_brand || ' ' || p_type), ' '))) AS ts
      FROM part
    ),
    b AS (
      SELECT *, ts[1] || ' ' || ts[2] AS blk FROM t WHERE len(ts) >= 2
    ),
    pairs AS (
      SELECT a.p_brand = c.p_brand AS brand_agree,
             a.p_type = c.p_type AS type_agree,
             a.p_size = c.p_size AS size_agree
      FROM b a JOIN b c ON a.blk = c.blk AND a.p_partkey < c.p_partkey
    )
    SELECT brand_agree, type_agree, size_agree,
           cast(count(*) AS BIGINT) AS n_pairs,
           (CASE WHEN brand_agree THEN w.wa_brand ELSE w.wd_brand END
            + CASE WHEN type_agree THEN w.wa_type ELSE w.wd_type END
            + CASE WHEN size_agree THEN w.wa_size ELSE w.wd_size END)
             AS match_weight
    FROM pairs CROSS JOIN w
    GROUP BY brand_agree, type_agree, size_agree, match_weight
    """,
)
def fellegi_sunter_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter (1969) probabilistic record linkage over the
    er_blocking candidate pairs: every within-block pair's agreement
    pattern on (brand, type, size) scored by the classic log2(m/u) /
    log2((1-m)/(1-u)) field weights — the decision-theoretic layer that
    turns raw agreement bits into a calibrated match/possible/non-match
    score, and the model behind Splink and most production linkers.

    u-probabilities (chance agreement) are estimated from the data as
    sum_v (n_v/N)^2 per field — one tiny value-count aggregate each, no
    labeled pairs needed; m is the conventional 0.9 prior. Output is the
    BOUNDED pattern table (<= 8 rows): pattern bits, pair count, total
    match weight.

    Exactness: u is a quotient of exact integer sums; each field weight
    is round6'd right after its single log2 (identical doubles in), and
    the pattern weight sums <= 3 rounded scalars in fixed order. The
    blocked self-join is the same vocabulary-bounded candidate generator
    as er_blocking_part_pairs — at 100 TB the weights come from
    metadata-sized aggregates and the pairs shuffle on the block key."""
    p = T(spark, sf_dir, "part")

    def u_of(f: str):
        vc = p.groupBy(f).agg(F.count(F.lit(1)).alias("c"))
        return vc.agg(
            (
                F.sum(F.col("c") * F.col("c")).cast("double")
                / (F.sum("c") * F.sum("c"))
            ).alias(f"u_{f[2:]}")
        )

    u = (
        u_of("p_brand")
        .crossJoin(u_of("p_type"))
        .crossJoin(u_of("p_size"))
    )
    w = u.select(
        *[
            c
            for f in ("brand", "type", "size")
            for c in (
                F.round(F.log2(F.lit(_FS_M) / F.col(f"u_{f}")), 6).alias(
                    f"wa_{f}"
                ),
                F.round(
                    F.log2(F.lit(_FS_1M) / (F.lit(1.0) - F.col(f"u_{f}"))), 6
                ).alias(f"wd_{f}"),
            )
        ]
    )
    ts = F.array_sort(
        F.array_distinct(
            F.split(
                F.lower(
                    F.concat_ws(
                        " ", F.col("p_name"), F.col("p_brand"), F.col("p_type")
                    )
                ),
                " ",
            )
        )
    )
    b = (
        p.select("p_partkey", "p_brand", "p_type", "p_size", ts.alias("ts"))
        .filter(F.size("ts") >= 2)
        .withColumn(
            "blk",
            F.concat_ws(" ", F.element_at("ts", 1), F.element_at("ts", 2)),
        )
    )
    a, c = b.alias("a"), b.alias("c")
    pairs = a.join(
        c,
        (F.col("a.blk") == F.col("c.blk"))
        & (F.col("a.p_partkey") < F.col("c.p_partkey")),
    ).select(
        (F.col("a.p_brand") == F.col("c.p_brand")).alias("brand_agree"),
        (F.col("a.p_type") == F.col("c.p_type")).alias("type_agree"),
        (F.col("a.p_size") == F.col("c.p_size")).alias("size_agree"),
    )
    weight = (
        F.when(F.col("brand_agree"), F.col("wa_brand")).otherwise(
            F.col("wd_brand")
        )
        + F.when(F.col("type_agree"), F.col("wa_type")).otherwise(
            F.col("wd_type")
        )
        + F.when(F.col("size_agree"), F.col("wa_size")).otherwise(
            F.col("wd_size")
        )
    )
    return (
        pairs.crossJoin(F.broadcast(w))
        .groupBy(
            "brand_agree",
            "type_agree",
            "size_agree",
            weight.alias("match_weight"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .select(
            "brand_agree",
            "type_agree",
            "size_agree",
            "n_pairs",
            "match_weight",
        )
    )


# --- Wave 51: capture-recapture dedup-coverage estimation -----------------------


@query(
    "dedup_capture_recapture",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
      FROM t, unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS u(i)
    ), sizes AS (
      SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id
    ), shc AS (
      -- mirrors max_shingle_docs=1000: ultra-common shingles are dropped
      -- from intersection counting only (set sizes stay uncapped, exactly
      -- as in ngram_jaccard_pairs_inverted / containment_pairs)
      SELECT s.doc_id, s.shingle FROM sh s
      JOIN (SELECT shingle FROM sh GROUP BY 1 HAVING count(*) <= 1000) ok
        USING (shingle)
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
      FROM shc a JOIN shc b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), jac AS (
      SELECT id_a, id_b
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE n_common / (sa.set_size + sb.set_size - n_common) >= 0.05
    ), h AS (
      SELECT doc_id, i,
             min(md5(cast(i AS VARCHAR) || '|' || shingle)) AS mh
      FROM sh, unnest(generate_series(0, 15)) AS u(i)
      GROUP BY doc_id, i
    ), sig AS (
      SELECT doc_id, cast(floor(i / 4.0) AS BIGINT) AS band,
             string_agg(mh, ',' ORDER BY i) AS sig
      FROM h GROUP BY 1, 2
    ), lsh AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sig a JOIN sig b ON a.band = b.band AND a.sig = b.sig
      WHERE a.doc_id < b.doc_id
    ), counts AS (
      SELECT (SELECT cast(count(*) AS BIGINT) FROM lsh) AS n_lsh,
             (SELECT cast(count(*) AS BIGINT) FROM jac) AS n_jac,
             (SELECT cast(count(*) AS BIGINT)
              FROM lsh JOIN jac USING (id_a, id_b)) AS n_both
    )
    SELECT n_lsh, n_jac, n_both,
           floor(((n_lsh + 1) * 1.0 * (n_jac + 1) / (n_both + 1) - 1.0)
                 * 1e6) / 1e6 AS chapman_estimate,
           floor(n_lsh * 1e6
                 / (((n_lsh + 1) * 1.0 * (n_jac + 1) / (n_both + 1)) - 1.0))
             / 1e6 AS lsh_coverage,
           floor(n_jac * 1e6
                 / (((n_lsh + 1) * 1.0 * (n_jac + 1) / (n_both + 1)) - 1.0))
             / 1e6 AS jaccard_coverage
    FROM counts
    """,
)
def dedup_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capture-recapture estimation of TOTAL near-duplicate pairs and
    each detector's coverage (Chapman's estimator, the ecology
    mark-recapture method applied to data quality): detector A =
    MinHash-LSH candidates (16 md5 hashes, 4 bands), detector B = the
    exact inverted-index Jaccard >= 0.05 pairs; from |A|, |B| and
    |A intersect B| the Chapman estimate N = (|A|+1)(|B|+1)/(|AB|+1)-1
    says how many dup pairs EXIST (including ones neither caught), so
    each detector's recall is measurable without ground truth. The
    independence assumption is imperfect here (both detectors key on
    the same shingles — stated, as in any two-list study); the operator
    is the estimation machinery.

    Plan: ONE shingle table feeds both detectors (the corpus is
    scanned once); the overlap is a pair-key equi-join; everything
    after is exact-integer scalar arithmetic, trunc6 at output."""
    from ..operators.dedup import (
        minhash_md5_candidates,
        ngram_jaccard_pairs_inverted,
        shingle_table,
    )

    docs = T(spark, sf_dir, "documents")
    # r9: the docstring's "ONE shingle table feeds both" is now true in
    # the physical plan too — previously each detector re-tokenized and
    # re-shingled the corpus from scratch (guide §2.4: remove the repeated
    # scan/compute outright). Checkpoint the shared table once.
    sh = shingle_table(docs, "doc_id", "text", 3).localCheckpoint()
    lsh = minhash_md5_candidates(
        docs, "doc_id", "text", n=3, num_hashes=16, bands=4, shingles=sh
    ).select("id_a", "id_b").localCheckpoint()
    jac = (
        ngram_jaccard_pairs_inverted(
            docs, "doc_id", "text", n=3, threshold=0.05, shingles=sh
        )
        .select("id_a", "id_b")
        .localCheckpoint()
    )
    counts = (
        lsh.agg(F.count(F.lit(1)).cast("long").alias("n_lsh"))
        .crossJoin(jac.agg(F.count(F.lit(1)).cast("long").alias("n_jac")))
        .crossJoin(
            lsh.join(jac, ["id_a", "id_b"])
            .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
        )
    )
    chapman = (
        (F.col("n_lsh") + 1)
        * F.lit(1.0)
        * (F.col("n_jac") + 1)
        / (F.col("n_both") + 1)
        - F.lit(1.0)
    )
    t6 = lambda c: F.floor(c * 1e6) / 1e6  # noqa: E731
    return counts.select(
        "n_lsh",
        "n_jac",
        "n_both",
        t6(chapman).alias("chapman_estimate"),
        (F.floor(F.col("n_lsh") * F.lit(1e6) / chapman) / 1e6).alias(
            "lsh_coverage"
        ),
        (F.floor(F.col("n_jac") * F.lit(1e6) / chapman) / 1e6).alias(
            "jaccard_coverage"
        ),
    )


# --- Wave 53: RM3 pseudo-relevance-feedback query expansion ----------------------

_RM3_FB_DOCS = 10  # feedback depth
_RM3_EXP_TERMS = 5  # expansion terms kept


@query(
    "rm3_query_expansion",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                  ELSE string_split_regex(lower(trim(text)), '\\s+') END AS ws
      FROM documents
    ),
    dl AS (SELECT doc_id, len(ws) AS doclen FROM t),
    stats AS (SELECT count(*) AS n_docs, avg(doclen) AS avgdl FROM dl),
    post AS (
      SELECT doc_id, tok, count(*) AS tf
      FROM (SELECT doc_id, unnest(ws) AS tok FROM t)
      GROUP BY 1, 2
    ),
    tf0 AS (SELECT * FROM post WHERE tok IN {_BM25_TERMS!r}),
    idf0 AS (
      SELECT tok, ln(1.0::DOUBLE + (s.n_docs - count(*) + 0.5::DOUBLE)
                     / (count(*) + 0.5::DOUBLE)) AS idf
      FROM tf0, stats s GROUP BY tok, s.n_docs
    ),
    scored0 AS (
      SELECT tf0.doc_id,
             floor(sum(idf0.idf * tf0.tf
                 / (tf0.tf + {_BM25_K1}::DOUBLE
                    * (1.0::DOUBLE - {_BM25_B}::DOUBLE
                       + {_BM25_B}::DOUBLE * dl.doclen / s.avgdl)))
                   * 1e6) / 1e6 AS bm25
      FROM tf0 JOIN idf0 USING (tok) JOIN dl ON dl.doc_id = tf0.doc_id
      CROSS JOIN stats s
      GROUP BY tf0.doc_id
    ),
    rank0 AS (
      SELECT doc_id, bm25,
             row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r0
      FROM scored0
    ),
    fb AS (SELECT doc_id FROM rank0 WHERE r0 <= {_RM3_FB_DOCS}),
    rm1 AS (
      SELECT p.tok,
             floor(sum(p.tf * 1.0 / dl.doclen) * 1e6) / 1e6 AS w
      FROM post p JOIN fb USING (doc_id) JOIN dl ON dl.doc_id = p.doc_id
      GROUP BY p.tok
    ),
    exp AS (
      SELECT rm1.tok FROM rm1
      WHERE rm1.tok NOT IN {_BM25_TERMS!r}
      ORDER BY rm1.w DESC, rm1.tok
      LIMIT {_RM3_EXP_TERMS}
    ),
    qterms AS (
      SELECT tok FROM exp
      UNION ALL SELECT unnest({list(_BM25_TERMS)!r})
    ),
    tf1 AS (SELECT post.* FROM post JOIN qterms USING (tok)),
    idf1 AS (
      SELECT tok, ln(1.0::DOUBLE + (s.n_docs - count(*) + 0.5::DOUBLE)
                     / (count(*) + 0.5::DOUBLE)) AS idf
      FROM tf1, stats s GROUP BY tok, s.n_docs
    ),
    scored1 AS (
      SELECT tf1.doc_id,
             floor(sum(idf1.idf * tf1.tf
                 / (tf1.tf + {_BM25_K1}::DOUBLE
                    * (1.0::DOUBLE - {_BM25_B}::DOUBLE
                       + {_BM25_B}::DOUBLE * dl.doclen / s.avgdl)))
                   * 1e6) / 1e6 AS bm25_expanded,
             cast(count(*) AS BIGINT) AS n_terms_hit
      FROM tf1 JOIN idf1 USING (tok) JOIN dl ON dl.doc_id = tf1.doc_id
      CROSS JOIN stats s
      GROUP BY tf1.doc_id
    )
    SELECT s1.doc_id, s1.n_terms_hit, s1.bm25_expanded,
           cast(coalesce(r.r0, 0) AS BIGINT) AS rank_original
    FROM scored1 s1 LEFT JOIN rank0 r ON r.doc_id = s1.doc_id
    ORDER BY s1.bm25_expanded DESC, s1.doc_id
    LIMIT {_RM3_FB_DOCS}
    """,
)
def rm3_query_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RM3-style pseudo-relevance feedback (Lavrenko & Croft 2001; the
    classic recall lever in retrieval stacks and hard-negative miners):
    run the base BM25 query, treat its top-{fb} documents as relevant,
    estimate a relevance language model w(t) = sum_d tf(t,d)/|d| over
    that feedback set, keep the top-{et} non-query terms (textbook RM1
    — no df stopword guard: this corpus' 31-term shared vocabulary
    makes any df threshold degenerate, keeping <= 1 term; production
    corpora reintroduce one), and rescore the corpus with the
    expanded term set. Output: the expanded top-{fb} with each doc's
    original rank (0 = not retrieved by the base query at all — the
    recall the expansion bought).

    Plan: ONE tokenize pass builds ONE posting table (doc, tok, tf)
    that feeds the base scorer, the feedback model, the df guard, the
    rescoring pass AND the doc-length stats (doclen = sum(tf) left-
    joined from the doc-id list so empty docs keep their 0 and NULL-text
    docs get a NULL doclen: counted in n_docs, not in avgdl); both
    scorers are the bm25_topk_docs shape (term-filter before the tf
    lookup, scalars broadcast); trunc6 lands on every score and on the
    RM1 weights BEFORE their ranks so all tie-breaks are engine-stable."""
    d = fan_out_scan(T(spark, sf_dir, "documents")).select(
        "doc_id", tokens(F.lower(F.col("text"))).alias("ws")
    )
    post = (
        d.select("doc_id", F.explode("ws").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint()  # feeds base scorer, df guard, RM1, rescorer
    )
    # r10 (r9 verdict item 3): doclen derives from the posting table —
    # sum(tf) over a doc's postings == size(ws) exactly (tokens() emits
    # no empty tokens) — so the corpus is tokenized ONCE instead of
    # twice. Empty-text docs have no posting rows (tokens() maps '' to
    # an EMPTY array), so a bare aggregate would silently drop them
    # from n_docs/avgdl; the left join from the full doc-id list (a
    # column-pruned scan, no tokenize) + coalesce(.., 0) keeps them —
    # the semantics risk the r9 session correctly declined is closed,
    # not waved away. NULL text has no postings either, but its doclen
    # is NULL (tokens(NULL) is NULL, as len(NULL) is in the oracle): it
    # counts in n_docs and avg() skips it, so it must not become 0.
    dl = (
        T(spark, sf_dir, "documents")
        .select("doc_id", F.col("text").isNull().alias("null_text"))
        .join(
            post.groupBy("doc_id").agg(F.sum("tf").alias("dsum")),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            F.when(~F.col("null_text"), F.coalesce("dsum", F.lit(0))).alias(
                "doclen"
            ),
        )
        .localCheckpoint()
    )
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("doclen").alias("avgdl")
    )
    trunc6 = lambda c: F.floor(c * 1e6) / 1e6  # noqa: E731

    def bm25_score(tf_tbl: DataFrame, out: str) -> DataFrame:
        idf = (
            tf_tbl.groupBy("tok")
            .agg(F.count(F.lit(1)).alias("dfq"))
            .crossJoin(F.broadcast(stats.select("n_docs")))
            .select(
                "tok",
                F.log(
                    1.0
                    + (F.col("n_docs") - F.col("dfq") + 0.5)
                    / (F.col("dfq") + 0.5)
                ).alias("idf"),
            )
        )
        term = F.col("idf") * F.col("tf") / (
            F.col("tf")
            + _BM25_K1
            * (1.0 - _BM25_B + _BM25_B * F.col("doclen") / F.col("avgdl"))
        )
        return (
            tf_tbl.join(F.broadcast(idf), "tok")
            .join(dl, "doc_id")
            .crossJoin(F.broadcast(stats))
            .groupBy("doc_id")
            .agg(
                trunc6(F.sum(term)).alias(out),
                F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
            )
        )

    tf0 = post.filter(F.col("tok").isin(*_BM25_TERMS))
    rank0 = bm25_score(tf0, "bm25").select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("bm25"), F.asc("doc_id")))
        .cast("long")
        .alias("r0"),
    ).localCheckpoint()  # feeds the feedback set and the final rank join
    fb = rank0.filter(F.col("r0") <= _RM3_FB_DOCS).select("doc_id")
    rm1 = (
        post.join(F.broadcast(fb), "doc_id")
        .join(dl, "doc_id")
        .groupBy("tok")
        .agg(trunc6(F.sum(F.col("tf") * F.lit(1.0) / F.col("doclen"))).alias("w"))
    )
    exp = (
        rm1.filter(~F.col("tok").isin(*_BM25_TERMS))
        .orderBy(F.desc("w"), F.asc("tok"))
        .limit(_RM3_EXP_TERMS)
        .select("tok")
    )
    qterms = exp.unionAll(
        d.sparkSession.createDataFrame(
            [(t,) for t in _BM25_TERMS], ["tok"]
        )
    )
    tf1 = post.join(F.broadcast(qterms), "tok")
    scored1 = bm25_score(tf1, "bm25_expanded")
    return (
        scored1.join(rank0, "doc_id", "left")
        .select(
            "doc_id",
            "n_terms_hit",
            "bm25_expanded",
            F.coalesce("r0", F.lit(0)).cast("long").alias("rank_original"),
        )
        .orderBy(F.desc("bm25_expanded"), F.asc("doc_id"))
        .limit(_RM3_FB_DOCS)
    )


# --- Wave 62: Dirichlet-smoothed query likelihood ----------------------------

_QL_TERMS = ("join", "hash", "scan")
_QL_MU = 300.0
_QL_K = 10


@query(
    "dirichlet_query_likelihood",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
      FROM documents
    ),
    dl AS (SELECT doc_id, len(ws) AS doclen FROM t),
    toks AS (SELECT doc_id, unnest(ws) AS tok FROM t),
    coll AS (
      SELECT cast(count(*) AS BIGINT) AS c_total FROM toks
    ),
    cf AS (
      SELECT tok, cast(count(*) AS BIGINT) AS cf
      FROM toks WHERE tok IN {_QL_TERMS!r} GROUP BY 1
    ),
    tf AS (
      SELECT doc_id, tok, cast(count(*) AS BIGINT) AS tf
      FROM toks WHERE tok IN {_QL_TERMS!r} GROUP BY 1, 2
    ),
    cand AS (SELECT DISTINCT doc_id FROM tf),
    terms AS (
      SELECT c.doc_id,
             cast(floor(ln((coalesce(tf.tf, 0) + {_QL_MU!r} * cf.cf / coll.c_total)
                           / (dl.doclen + {_QL_MU!r})) * 1e9) AS BIGINT) AS s_fp
      FROM cand c
      JOIN cf ON true
      JOIN coll ON true
      JOIN dl ON dl.doc_id = c.doc_id
      LEFT JOIN tf ON tf.doc_id = c.doc_id AND tf.tok = cf.tok
    ),
    scored AS (
      SELECT doc_id, cast(sum(s_fp) AS BIGINT) AS score_fp
      FROM terms GROUP BY doc_id
    )
    SELECT doc_id, dl.doclen AS doclen,
           floor(score_fp / 1e9 * 1e6) / 1e6 AS ql_score
    FROM scored JOIN dl USING (doc_id)
    ORDER BY score_fp DESC, doc_id ASC
    LIMIT {_QL_K}
    """,
)
def dirichlet_query_likelihood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirichlet-smoothed query-likelihood retrieval (Zhai & Lafferty
    2001): score(d) = sum over query terms of ln((tf + mu*P(t|C)) /
    (dl + mu)), mu=300 — the language-modeling ranker next to BM25
    (bm25_topk_docs) and tf-idf; the fusion family (hybrid_search_rrf)
    gets its third scorer. Missing terms still contribute their
    collection-probability mass, which is exactly what the smoothing is
    for.

    Exactness: tf/cf/dl/|C| are integers; each of the THREE per-doc ln
    terms is floored into 1e-9 fixed-point BEFORE the per-doc sum, so
    the sum is order-free (the per-row-transcendental discipline of
    Theil T). Candidates = docs holding >= 1 query term (posting-
    bounded); the collection stats are two broadcast scalars; TakeOrdered
    yields the top-10 without a global sort."""
    d = fan_out_scan(T(spark, sf_dir, "documents"))
    t = d.select(
        "doc_id", F.split(F.lower(F.trim("text")), r"\s+").alias("ws")
    ).localCheckpoint()  # feeds doclen, collection stats, and tf
    dl = t.select("doc_id", F.size("ws").cast("long").alias("doclen"))
    toks = t.select("doc_id", F.explode("ws").alias("tok"))
    coll = toks.agg(F.count(F.lit(1)).cast("long").alias("c_total"))
    qt = toks.filter(F.col("tok").isin(*_QL_TERMS))
    cf = qt.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("cf"))
    tf = qt.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    cand = tf.select("doc_id").distinct()
    terms = (
        cand.crossJoin(F.broadcast(cf.withColumnRenamed("tok", "qtok")))
        .crossJoin(F.broadcast(coll))
        .join(dl, "doc_id")
        .join(
            tf.withColumnRenamed("tok", "qtok"),
            ["doc_id", "qtok"],
            "left",
        )
        .select(
            "doc_id",
            F.floor(
                F.log(
                    (
                        F.coalesce(F.col("tf"), F.lit(0))
                        + F.lit(_QL_MU) * F.col("cf") / F.col("c_total")
                    )
                    / (F.col("doclen") + F.lit(_QL_MU))
                )
                * F.lit(1e9)
            )
            .cast("long")
            .alias("s_fp"),
        )
    )
    scored = terms.groupBy("doc_id").agg(
        F.sum("s_fp").cast("long").alias("score_fp")
    )
    return (
        scored.join(dl, "doc_id")
        .orderBy(F.desc("score_fp"), F.asc("doc_id"))
        .limit(_QL_K)
        .select(
            "doc_id",
            "doclen",
            (F.floor(F.col("score_fp") / 1e9 * 1e6) / 1e6).alias(
                "ql_score"
            ),
        )
    )


# --- Wave 62: winnowing fingerprints (MOSS) ----------------------------------

_WIN_W = 4  # winnowing window: guarantee = w+n-1 = 6 consecutive words
_WIN_MIN_SHARED = 2

_WIN_HEX8 = (
    "list_sum(list_transform(range(1, 9), k ->"
    " (strpos('0123456789abcdef', substr(md5({x}), k, 1)) - 1)"
    " * (1::BIGINT << (4 * (8 - k)))))"
)


@query(
    "winnowing_fingerprint_pairs",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
      FROM documents
    ),
    sh AS (
      SELECT doc_id, i AS pos,
             ({_WIN_HEX8.format(x="ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]")})
               AS h
      FROM t, unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS u(i)
    ),
    nsh AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    win AS (
      SELECT s.doc_id, s.pos,
             min(h) OVER (PARTITION BY s.doc_id ORDER BY s.pos
                          ROWS BETWEEN CURRENT ROW AND {_WIN_W - 1} FOLLOWING)
               AS fp
      FROM sh s JOIN nsh ON nsh.doc_id = s.doc_id
      QUALIFY s.pos <= nsh.n - {_WIN_W - 1}
    ),
    fps AS (SELECT DISTINCT doc_id, fp FROM win),
    sizes AS (SELECT doc_id, cast(count(*) AS BIGINT) AS n_fp FROM fps GROUP BY 1),
    dfok AS (
      SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 1000
    ),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             cast(count(*) AS BIGINT) AS n_shared
      FROM fps a JOIN dfok USING (fp) JOIN fps b USING (fp)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, n_shared,
           sa.n_fp AS fp_a, sb.n_fp AS fp_b,
           floor(n_shared * 1e6 / least(sa.n_fp, sb.n_fp)) / 1e6
             AS containment
    FROM shared
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE n_shared >= {_WIN_MIN_SHARED}
    """,
)
def winnowing_fingerprint_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    2003 — the MOSS algorithm): hash every word 3-gram POSITIONALLY
    (no dedup — unlike the Jaccard shingle family, winnowing needs the
    sequence), slide a w=4 window over the hash sequence, keep each
    window's minimum — guaranteeing any shared run of w+n-1 = 6 words
    produces at least one shared fingerprint — then pair documents on
    shared fingerprints. The THIRD dedup geometry next to set-overlap
    (Jaccard/MinHash) and bit-signature (SimHash): position-aware, so
    it catches verbatim PASSAGES that set measures dilute away in long
    documents.

    Exactness: the fingerprint is the md5 hex8 integer (digit-fold
    parity), window-min is integer, all downstream counts integer,
    containment trunc6. Scale: the per-doc window runs inside
    doc-bounded partitions; the pair join goes through the SAME
    POSTING_DF_CAP posting cap as the Jaccard family (mirrored in the
    oracle), so a boilerplate fingerprint shared by millions of docs
    cannot go quadratic — and winnowing keeps ~1/w of the shingles, so
    the posting table is 4x smaller than the Jaccard one."""
    d = fan_out_scan(T(spark, sf_dir, "documents"))
    toks = d.select(
        "doc_id", F.split(F.lower(F.trim("text")), r"\s+").alias("ws")
    )
    grams = F.when(
        F.size("ws") < 3, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size("ws") - 3),
            lambda i: F.concat_ws(
                " ", F.get("ws", i), F.get("ws", i + 1), F.get("ws", i + 2)
            ),
        )
    )
    sh = toks.select(
        "doc_id", F.posexplode(grams).alias("pos0", "g")
    ).select(
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
        F.conv(F.substring(F.md5("g"), 1, 8), 16, 10)
        .cast("long")
        .alias("h"),
    )
    wdoc = Window.partitionBy("doc_id")
    wmin = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, _WIN_W - 1)
    )
    win = sh.select(
        "doc_id",
        "pos",
        F.count(F.lit(1)).over(wdoc).alias("n"),
        F.min("h").over(wmin).alias("fp"),
    ).filter(F.col("pos") <= F.col("n") - (_WIN_W - 1))
    fps = win.select("doc_id", "fp").distinct().localCheckpoint()
    sizes = fps.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_fp")
    )
    shared = (
        posting_pair_counts(fps, "doc_id", "fp")
        .withColumnRenamed("n_common", "n_shared")
        .filter(F.col("n_shared") >= _WIN_MIN_SHARED)
    )
    # per-entity sizes are DATA-SIZED: plain equi-join, AQE decides
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_fp").alias("fp_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_fp").alias("fp_b"))
    return (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a", "id_b", "n_shared", "fp_a", "fp_b",
            (
                F.floor(
                    F.col("n_shared") * F.lit(1e6)
                    / F.least("fp_a", "fp_b")
                )
                / 1e6
            ).alias("containment"),
        )
    )


# --- Wave 62: MMR diversified re-ranking -------------------------------------

_MMR_CAND = 20
_MMR_K = 5
# 0.7 / 0.3 written as LITERALS on both engines (never derived as 1 - x:
# the ulp discipline of the PageRank teleport)
_MMR_LAM = "0.7"
_MMR_ONE_MINUS_LAM = "0.3"


def _mmr_oracle() -> str:
    rounds = []
    for r in range(2, _MMR_K + 1):
        prev_union = " UNION ALL ".join(
            f"SELECT doc_id FROM s{i}" for i in range(1, r)
        )
        rounds.append(f"""p{r} AS ({prev_union}),
    r{r} AS (
      SELECT CASE WHEN sim.id_a IN (SELECT doc_id FROM p{r})
                  THEN sim.id_b ELSE sim.id_a END AS doc_id,
             sim.j
      FROM sims sim
      WHERE sim.id_a IN (SELECT doc_id FROM p{r})
         OR sim.id_b IN (SELECT doc_id FROM p{r})
    ),
    s{r} AS (
      SELECT {r} AS rank, doc_id, nb, penalty,
             round({_MMR_LAM}::DOUBLE * nb
                   - {_MMR_ONE_MINUS_LAM}::DOUBLE * penalty, 6) AS mmr
      FROM (
        SELECT c.doc_id, c.nb,
               coalesce(max(rr.j), 0.0::DOUBLE) AS penalty
        FROM cand c
        LEFT JOIN r{r} rr ON rr.doc_id = c.doc_id
        WHERE c.doc_id NOT IN (SELECT doc_id FROM p{r})
        GROUP BY c.doc_id, c.nb
      )
      ORDER BY {_MMR_LAM}::DOUBLE * nb
               - {_MMR_ONE_MINUS_LAM}::DOUBLE * penalty DESC, doc_id
      LIMIT 1
    )""")
    chain = ",\n    ".join(rounds)
    final = " UNION ALL ".join(f"SELECT * FROM s{i}" for i in range(1, _MMR_K + 1))
    return f"""
    WITH t AS (
      SELECT doc_id,
             string_split_regex(lower(trim(text)), '\\s+') AS ws
      FROM documents
    ),
    dl AS (SELECT doc_id, len(ws) AS doclen FROM t),
    stats AS (
      SELECT count(*) AS n_docs, avg(doclen) AS avgdl FROM dl
    ),
    tf AS (
      SELECT doc_id, tok, count(*) AS tf
      FROM (SELECT doc_id, unnest(ws) AS tok FROM t)
      WHERE tok IN {_BM25_TERMS!r}
      GROUP BY 1, 2
    ),
    idf AS (
      SELECT tok,
             ln(1.0::DOUBLE + (s.n_docs - count(*) + 0.5::DOUBLE)
                / (count(*) + 0.5::DOUBLE)) AS idf
      FROM tf, stats s GROUP BY tok, s.n_docs
    ),
    scored AS (
      SELECT tf.doc_id,
             floor(sum(idf.idf * tf.tf
                 / (tf.tf + {_BM25_K1}::DOUBLE
                    * (1.0::DOUBLE - {_BM25_B}::DOUBLE
                       + {_BM25_B}::DOUBLE * dl.doclen / s.avgdl))) * 1e6)
               / 1e6 AS bm25
      FROM tf
      JOIN idf USING (tok)
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats s
      GROUP BY tf.doc_id
    ),
    top AS (
      SELECT doc_id, bm25 FROM scored
      ORDER BY bm25 DESC, doc_id LIMIT {_MMR_CAND}
    ),
    mx AS (SELECT max(bm25) AS mb FROM top),
    cand AS MATERIALIZED (
      SELECT doc_id, floor(bm25 * 1e6 / mx.mb) / 1e6 AS nb
      FROM top, mx
    ),
    ctok AS MATERIALIZED (
      SELECT DISTINCT t.doc_id, tok
      FROM (SELECT doc_id, unnest(ws) AS tok FROM t) t
      JOIN cand ON cand.doc_id = t.doc_id
    ),
    csize AS (SELECT doc_id, count(*) AS sz FROM ctok GROUP BY 1),
    sims AS MATERIALIZED (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             floor(count(*) * 1e6
                   / (sa.sz + sb.sz - count(*))) / 1e6 AS j
      FROM ctok a JOIN ctok b USING (tok)
      JOIN csize sa ON sa.doc_id = a.doc_id
      JOIN csize sb ON sb.doc_id = b.doc_id
      WHERE a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id, sa.sz, sb.sz
    ),
    s1 AS (
      SELECT 1 AS rank, doc_id, nb, 0.0::DOUBLE AS penalty,
             round({_MMR_LAM}::DOUBLE * nb, 6) AS mmr
      FROM cand ORDER BY nb DESC, doc_id LIMIT 1
    ),
    {chain}
    {final}
    """


@query(
    "mmr_diversified_topk",
    oracle=_mmr_oracle(),
)
def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): greedily re-rank the BM25 top-20 into a 5-result list that
    trades relevance against redundancy — pick argmax of
    lambda*rel - (1-lambda)*max_sim_to_selected (lambda=0.7, similarity
    = token-set Jaccard). The answer to "my top-k are five near-copies
    of the same page" that every retrieval deduper eventually ships;
    completes the ranking family (BM25, QL, RRF fusion) with the
    diversity axis.

    Exactness: relevance is max-normalized trunc6 BM25, similarities
    are trunc6 rationals, and each greedy argmax compares the identical
    raw double expression with doc_id tie-break — the oracle replays
    the same 5 selection rounds as chained CTEs. Scale: candidates are
    TakeOrdered(20); the pairwise-similarity table and the k selection
    rounds run on that CONSTANT-size set (the corpus never enters the
    greedy loop) — the 5 driver-side picks are bounded scalar reads,
    not data collects."""
    d = fan_out_scan(T(spark, sf_dir, "documents")).select(
        "doc_id", tokens(F.lower(F.col("text"))).alias("ws")
    ).localCheckpoint()  # feeds BM25 and the candidate token sets
    dl = d.select("doc_id", F.size("ws").alias("doclen"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("doclen").alias("avgdl")
    )
    tf = (
        d.select("doc_id", F.explode("ws").alias("tok"))
        .filter(F.col("tok").isin(*_BM25_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    idf = (
        tf.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(stats.select("n_docs")))
        .select(
            "tok",
            F.log(
                1.0
                + (F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5)
            ).alias("idf"),
        )
    )
    denom = F.col("tf") + _BM25_K1 * (
        1.0 - _BM25_B + _BM25_B * F.col("doclen") / F.col("avgdl")
    )
    scored = (
        tf.join(F.broadcast(idf), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats.select("avgdl")))
        .groupBy("doc_id")
        .agg(
            (F.floor(F.sum(F.col("idf") * F.col("tf") / denom) * 1e6) / 1e6)
            .alias("bm25")
        )
    )
    top = (
        scored.orderBy(F.desc("bm25"), "doc_id").limit(_MMR_CAND)
        .localCheckpoint()
    )
    mb = top.agg(F.max("bm25").alias("mb"))
    cand = top.crossJoin(F.broadcast(mb)).select(
        "doc_id",
        (F.floor(F.col("bm25") * 1e6 / F.col("mb")) / 1e6).alias("nb"),
    ).localCheckpoint()
    ctok = (
        d.select("doc_id", F.explode("ws").alias("tok"))
        .join(F.broadcast(cand.select("doc_id")), "doc_id")
        .distinct()
        .localCheckpoint()
    )
    csize = ctok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = ctok.select(F.col("doc_id").alias("id_a"), "tok")
    b = ctok.select(F.col("doc_id").alias("id_b"), "tok")
    sims = (
        a.join(b, "tok")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
        .join(
            F.broadcast(
                csize.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sa"))
            ),
            "id_a",
        )
        .join(
            F.broadcast(
                csize.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("sb"))
            ),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            (
                F.floor(
                    F.col("inter") * F.lit(1e6)
                    / (F.col("sa") + F.col("sb") - F.col("inter"))
                )
                / 1e6
            ).alias("j"),
        )
    )
    lam, oml = float(_MMR_LAM), float(_MMR_ONE_MINUS_LAM)
    # r9 optimization: the greedy loop runs on a CONSTANT-size state
    # (20 candidates, <= 190 pairwise sims) but used to submit a full
    # orderBy+limit job per selection round plus the localCheckpoints
    # feeding them (~50 jobs). Both tables are collected once and the 5
    # rounds replay on the driver with the identical argmax expression
    # (lam*nb - oml*penalty, doc_id tie-break) on the same doubles —
    # trunc6 inputs, so bit-equality is inherited from the collected
    # values; pinned by the unchanged chained-CTE oracle at 3 SFs.
    cand_rows = [(r["doc_id"], r["nb"]) for r in cand.collect()]
    sim_rows = [(r["id_a"], r["id_b"], r["j"]) for r in sims.collect()]
    picked: list[tuple] = []
    sel_ids: list[int] = []
    remaining = dict(cand_rows)
    for r in range(1, _MMR_K + 1):
        best = None
        for doc_id, nb in sorted(remaining.items()):
            if r == 1:
                penalty = 0.0
            else:
                js = [
                    j
                    for ia, ib, j in sim_rows
                    if (ia in sel_ids) != (ib in sel_ids)
                    and (doc_id in (ia, ib))
                ]
                penalty = max(js) if js else 0.0
            raw = lam * nb - oml * penalty
            if best is None or raw > best[0]:
                best = (raw, doc_id, nb, penalty)
        _, doc_id, nb, penalty = best
        picked.append(
            (r, doc_id, nb, penalty, round(lam * nb - oml * penalty, 6))
        )
        sel_ids.append(doc_id)
        del remaining[doc_id]
    return spark.createDataFrame(
        picked,
        "rank INT, doc_id BIGINT, nb DOUBLE, penalty DOUBLE, mmr DOUBLE",
    )


# --- Wave 65: EM-estimated Fellegi-Sunter parameters -------------------------

_EM_ROUNDS = 5
_EM_LAM0 = "0.1"   # initial match proportion (literal both engines)
_EM_M0 = "0.9"     # initial per-field m (literal both engines)


def _em_g_sql(p: str) -> str:
    """g = P(match | pattern) under params table alias p."""
    pm = (
        f"{p}.lam"
        f" * (CASE WHEN pat.ba = 1 THEN {p}.m1 ELSE 1.0 - {p}.m1 END)"
        f" * (CASE WHEN pat.ta = 1 THEN {p}.m2 ELSE 1.0 - {p}.m2 END)"
        f" * (CASE WHEN pat.sa = 1 THEN {p}.m3 ELSE 1.0 - {p}.m3 END)"
    )
    pu = (
        f"(1.0 - {p}.lam)"
        f" * (CASE WHEN pat.ba = 1 THEN {p}.u1 ELSE 1.0 - {p}.u1 END)"
        f" * (CASE WHEN pat.ta = 1 THEN {p}.u2 ELSE 1.0 - {p}.u2 END)"
        f" * (CASE WHEN pat.sa = 1 THEN {p}.u3 ELSE 1.0 - {p}.u3 END)"
    )
    return f"(({pm}) / (({pm}) + ({pu})))"


def _em_round_sql(k: int) -> str:
    g = _em_g_sql(f"pr{k - 1}")
    return f"""
    e{k} AS (
      SELECT pat.ba, pat.ta, pat.sa, pat.n,
             cast(floor({g} * 1e12) AS BIGINT) AS gfp,
             cast(floor((1.0 - {g}) * 1e12) AS BIGINT) AS hfp
      FROM pat, pr{k - 1}
    ),
    s{k} AS (
      SELECT sum(n::HUGEINT * gfp) AS gg, sum(n::HUGEINT * hfp) AS hh,
             sum(n::HUGEINT * gfp * ba) AS g1, sum(n::HUGEINT * hfp * ba) AS h1,
             sum(n::HUGEINT * gfp * ta) AS g2, sum(n::HUGEINT * hfp * ta) AS h2,
             sum(n::HUGEINT * gfp * sa) AS g3, sum(n::HUGEINT * hfp * sa) AS h3,
             sum(n::HUGEINT) * 1000000000000::HUGEINT AS tot
      FROM e{k}
    ),
    pr{k} AS MATERIALIZED (
      SELECT round(gg::DOUBLE / tot::DOUBLE, 12) AS lam,
             round(g1::DOUBLE / gg::DOUBLE, 12) AS m1,
             round(g2::DOUBLE / gg::DOUBLE, 12) AS m2,
             round(g3::DOUBLE / gg::DOUBLE, 12) AS m3,
             round(h1::DOUBLE / hh::DOUBLE, 12) AS u1,
             round(h2::DOUBLE / hh::DOUBLE, 12) AS u2,
             round(h3::DOUBLE / hh::DOUBLE, 12) AS u3
      FROM s{k}
    )"""


@query(
    "fs_em_linkage_params",
    oracle=(
        f"""
    WITH u0 AS (
      SELECT {_fs_u_sql('p_brand')} AS u_brand,
             {_fs_u_sql('p_type')} AS u_type,
             {_fs_u_sql('p_size')} AS u_size
    ),
    t AS (
      SELECT p_partkey, p_brand, p_type, p_size,
             list_sort(list_distinct(string_split(
               lower(p_name || ' ' || p_brand || ' ' || p_type), ' '))) AS ts
      FROM part
    ),
    b AS (
      SELECT *, ts[1] || ' ' || ts[2] AS blk FROM t WHERE len(ts) >= 2
    ),
    pat AS MATERIALIZED (
      SELECT CASE WHEN a.p_brand = c.p_brand THEN 1 ELSE 0 END AS ba,
             CASE WHEN a.p_type = c.p_type THEN 1 ELSE 0 END AS ta,
             CASE WHEN a.p_size = c.p_size THEN 1 ELSE 0 END AS sa,
             cast(count(*) AS BIGINT) AS n
      FROM b a JOIN b c ON a.blk = c.blk AND a.p_partkey < c.p_partkey
      GROUP BY 1, 2, 3
    ),
    pr0 AS (
      SELECT {_EM_LAM0}::DOUBLE AS lam,
             {_EM_M0}::DOUBLE AS m1, {_EM_M0}::DOUBLE AS m2,
             {_EM_M0}::DOUBLE AS m3,
             round(u_brand, 12) AS u1, round(u_type, 12) AS u2,
             round(u_size, 12) AS u3
      FROM u0
    ),"""
        + ",".join(_em_round_sql(k) for k in range(1, _EM_ROUNDS + 1))
        + f""",
    tot AS (SELECT cast(sum(n) AS BIGINT) AS n_pairs FROM pat)
    SELECT f.field,
           round(CASE f.field WHEN 'brand' THEN p.m1
                              WHEN 'type' THEN p.m2 ELSE p.m3 END, 6) AS m,
           round(CASE f.field WHEN 'brand' THEN p.u1
                              WHEN 'type' THEN p.u2 ELSE p.u3 END, 6) AS u,
           CASE WHEN (CASE f.field WHEN 'brand' THEN p.m1
                                   WHEN 'type' THEN p.m2 ELSE p.m3 END) > 0
                 AND (CASE f.field WHEN 'brand' THEN p.u1
                                   WHEN 'type' THEN p.u2 ELSE p.u3 END) > 0
           THEN round(log2(CASE f.field WHEN 'brand' THEN p.m1
                                   WHEN 'type' THEN p.m2 ELSE p.m3 END
                      / CASE f.field WHEN 'brand' THEN p.u1
                                     WHEN 'type' THEN p.u2 ELSE p.u3 END), 6)
           END AS w_agree,
           CASE WHEN (CASE f.field WHEN 'brand' THEN p.m1
                                   WHEN 'type' THEN p.m2 ELSE p.m3 END) < 1
                 AND (CASE f.field WHEN 'brand' THEN p.u1
                                   WHEN 'type' THEN p.u2 ELSE p.u3 END) < 1
           THEN round(log2((1.0 - CASE f.field WHEN 'brand' THEN p.m1
                                          WHEN 'type' THEN p.m2 ELSE p.m3 END)
                      / (1.0 - CASE f.field WHEN 'brand' THEN p.u1
                                            WHEN 'type' THEN p.u2
                                            ELSE p.u3 END)), 6)
           END AS w_disagree,
           round(p.lam, 6) AS lambda_match,
           tot.n_pairs
    FROM (SELECT unnest(['brand', 'type', 'size']) AS field) f,
         pr{_EM_ROUNDS} p, tot
    """
    ),
)
def fs_em_linkage_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EM-estimated Fellegi-Sunter parameters (Winkler 1988; the
    unsupervised training loop inside Splink): starting from the
    chance-agreement u's and a 0.9/0.1 prior, five EM rounds over the
    BOUNDED agreement-pattern table re-estimate per-field m, u and the
    match proportion lambda — no labeled pairs anywhere. The upgrade
    over fellegi_sunter_weights' fixed m=0.9 prior: weights come from
    the data's own mixture structure.

    The E-step posterior g(pattern) and M-step ratios run on <= 8
    pattern rows (the corpus only enters through the blocked pair
    COUNT aggregate — the same candidate generator as er_blocking);
    every g is floored into 1e-12 fixed-point before the count-weighted
    sums (HUGEINT/decimal, order-free) and parameters re-sync at 12 dp
    per round, so the whole EM trajectory is value-verified by the
    chained-CTE oracle. Scale: pattern counts are a metadata-sized
    aggregate of the blocked join at any corpus size."""
    from ..functions.driverexact import jdiv, jfloor_long, jround

    p = T(spark, sf_dir, "part")
    ts = F.array_sort(
        F.array_distinct(
            F.split(
                F.lower(
                    F.concat_ws(
                        " ", F.col("p_name"), F.col("p_brand"), F.col("p_type")
                    )
                ),
                " ",
            )
        )
    )
    b = (
        p.select("p_partkey", "p_brand", "p_type", "p_size", ts.alias("ts"))
        .filter(F.size("ts") >= 2)
        .withColumn(
            "blk",
            F.concat_ws(" ", F.element_at("ts", 1), F.element_at("ts", 2)),
        )
    )
    a_, c_ = b.alias("a"), b.alias("c")
    # r9 optimization: the agreement-pattern table has <= 8 rows BY
    # CONSTRUCTION (a groupBy over three binary agreement bits), so the
    # blocked pair COUNT aggregate — the only corpus-scale work — is
    # collected once and the whole 5-round EM runs on the driver with
    # bit-exact replicas of the very fixed-point/round-resync expressions
    # the distributed loop used (functions/driverexact.py; the loop was
    # designed order-free precisely so this is a pure transport change).
    # Replaces 2 materialization jobs + 5 per-round localCheckpoint jobs
    # with 2 collects. Same trajectory, pinned by the unchanged
    # chained-CTE oracle at all three SFs.
    pat_rows = [
        (int(r["ba"]), int(r["ta"]), int(r["sa"]), int(r["n"]))
        for r in a_.join(
            c_,
            (F.col("a.blk") == F.col("c.blk"))
            & (F.col("a.p_partkey") < F.col("c.p_partkey")),
        )
        .select(
            (F.col("a.p_brand") == F.col("c.p_brand")).cast("int").alias("ba"),
            (F.col("a.p_type") == F.col("c.p_type")).cast("int").alias("ta"),
            (F.col("a.p_size") == F.col("c.p_size")).cast("int").alias("sa"),
        )
        .groupBy("ba", "ta", "sa")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .collect()
    ]
    # the three chance-agreement u's in ONE stacked pass over part (was
    # three separate scans crossJoined): per-field value counts are
    # exact integers, so sum(c^2)/sum(c)^2 is the identical division
    uc = (
        p.select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("u1").alias("k"), F.col("p_brand").alias("v")
                    ),
                    F.struct(
                        F.lit("u2").alias("k"), F.col("p_type").alias("v")
                    ),
                    F.struct(
                        F.lit("u3").alias("k"),
                        F.col("p_size").cast("string").alias("v"),
                    ),
                )
            ).alias("kv")
        )
        .groupBy("kv.k", "kv.v")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("k")
        .agg(
            F.sum(F.col("c") * F.col("c")).alias("sxx"),
            F.sum("c").alias("s"),
        )
        .collect()
    )
    us = {r["k"]: jround(jdiv(float(r["sxx"]), float(r["s"] * r["s"])), 12) for r in uc}
    lam = float(_EM_LAM0)
    m1 = m2 = m3 = float(_EM_M0)
    u1, u2, u3 = us["u1"], us["u2"], us["u3"]
    if pat_rows:
        for _ in range(_EM_ROUNDS):
            gg = hh = g1 = h1 = g2 = h2 = g3 = h3 = nsum = 0
            for ba, ta, sa, cnt in pat_rows:
                pm = lam
                for bit, f in ((ba, m1), (ta, m2), (sa, m3)):
                    pm = pm * (f if bit == 1 else 1.0 - f)
                pu = 1.0 - lam
                for bit, f in ((ba, u1), (ta, u2), (sa, u3)):
                    pu = pu * (f if bit == 1 else 1.0 - f)
                g = jdiv(pm, pm + pu)
                gfp = jfloor_long(g * 1e12)
                hfp = jfloor_long((1.0 - g) * 1e12)
                gg += cnt * gfp
                hh += cnt * hfp
                g1 += cnt * gfp * ba
                h1 += cnt * hfp * ba
                g2 += cnt * gfp * ta
                h2 += cnt * hfp * ta
                g3 += cnt * gfp * sa
                h3 += cnt * hfp * sa
                nsum += cnt
            tot = nsum * 10**12
            lam = jround(jdiv(float(gg), float(tot)), 12)
            m1 = jround(jdiv(float(g1), float(gg)), 12)
            m2 = jround(jdiv(float(g2), float(gg)), 12)
            m3 = jround(jdiv(float(g3), float(gg)), 12)
            u1 = jround(jdiv(float(h1), float(hh)), 12)
            u2 = jround(jdiv(float(h2), float(hh)), 12)
            u3 = jround(jdiv(float(h3), float(hh)), 12)
        n_pairs = sum(cnt for _, _, _, cnt in pat_rows)
    else:
        # empty-pattern degenerate: distributed sums over an empty frame
        # were NULL, so every EM parameter is NULL and n_pairs is NULL
        lam = m1 = m2 = m3 = u1 = u2 = u3 = None
        n_pairs = None
    fields = spark.createDataFrame(
        [
            ("brand", m1, u1, lam, n_pairs),
            ("type", m2, u2, lam, n_pairs),
            ("size", m3, u3, lam, n_pairs),
        ],
        "field string, m_raw double, u_raw double, lam double, n_pairs long",
    ).select(
        F.struct(
            F.col("field").alias("field"),
            F.col("m_raw").alias("m_raw"),
            F.col("u_raw").alias("u_raw"),
        ).alias("fx"),
        "lam",
        "n_pairs",
    )
    # a field that never (or always) agrees inside the blocks degenerates
    # to m = u = 0 (or 1) — its log-weights are undefined: NULL, mirrored
    # in the oracle (e.g. p_size at sf0.001)
    mr, ur = F.col("fx.m_raw"), F.col("fx.u_raw")
    return fields.select(
        F.col("fx.field").alias("field"),
        F.round(mr, 6).alias("m"),
        F.round(ur, 6).alias("u"),
        F.when(
            (mr > 0) & (ur > 0), F.round(F.log2(mr / ur), 6)
        ).alias("w_agree"),
        F.when(
            (mr < 1) & (ur < 1),
            F.round(F.log2((F.lit(1.0) - mr) / (F.lit(1.0) - ur)), 6),
        ).alias("w_disagree"),
        F.round("lam", 6).alias("lambda_match"),
        "n_pairs",
    )


# --- Wave 67: BLEU-2 near-duplicate pair scoring --------------------------------

_BLEU_MIN_SHARED = 3  # candidate gate: >= 3 shared distinct bigrams
_BLEU_TOPK = 20


@query(
    "bleu_near_dup_pairs",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
      FROM documents
    ),
    dl AS (SELECT doc_id, len(ws) AS n1 FROM t),
    uni AS (
      SELECT doc_id, unnest(ws) AS tok FROM t
    ),
    tf1 AS (
      SELECT doc_id, tok, cast(count(*) AS BIGINT) AS tf
      FROM uni GROUP BY 1, 2
    ),
    bi AS (
      SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS bg
      FROM t, unnest(generate_series(1, greatest(len(ws) - 1, 0))) AS u(i)
    ),
    tf2 AS (
      SELECT doc_id, bg, cast(count(*) AS BIGINT) AS tf
      FROM bi GROUP BY 1, 2
    ),
    tri AS (
      SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS sh
      FROM t, unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS u(i)
    ),
    dfok AS (
      SELECT sh FROM tri GROUP BY sh
      HAVING count(*) <= {POSTING_DF_CAP}
    ),
    cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM tri a JOIN dfok USING (sh) JOIN tri b USING (sh)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
      HAVING count(*) >= {_BLEU_MIN_SHARED}
    ),
    c1 AS (
      SELECT c.id_a, c.id_b,
             cast(sum(least(x.tf, y.tf)) AS BIGINT) AS m1
      FROM cand c
      JOIN tf1 x ON x.doc_id = c.id_a
      JOIN tf1 y ON y.doc_id = c.id_b AND y.tok = x.tok
      GROUP BY 1, 2
    ),
    c2 AS (
      SELECT c.id_a, c.id_b,
             cast(sum(least(x.tf, y.tf)) AS BIGINT) AS m2
      FROM cand c
      JOIN tf2 x ON x.doc_id = c.id_a
      JOIN tf2 y ON y.doc_id = c.id_b AND y.bg = x.bg
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT c.id_a, c.id_b,
             da.n1 AS len_a, db.n1 AS len_b,
             coalesce(c1.m1, 0) AS m1, coalesce(c2.m2, 0) AS m2,
             (coalesce(c1.m1, 0) * 1000000 // da.n1) / 1e6 AS p1,
             (coalesce(c2.m2, 0) * 1000000 // (da.n1 - 1)) / 1e6 AS p2,
             CASE WHEN da.n1 >= db.n1 THEN 1.0::DOUBLE
                  ELSE exp(1.0::DOUBLE - db.n1::DOUBLE / da.n1) END
               AS bp
      FROM cand c
      JOIN dl da ON da.doc_id = c.id_a
      JOIN dl db ON db.doc_id = c.id_b
      LEFT JOIN c1 ON c1.id_a = c.id_a AND c1.id_b = c.id_b
      LEFT JOIN c2 ON c2.id_a = c.id_a AND c2.id_b = c.id_b
    )
    SELECT id_a, id_b, len_a, len_b, p1, p2,
           round(CASE WHEN m1 > 0 AND m2 > 0
                 THEN bp * exp(0.5::DOUBLE
                               * (ln(m1::DOUBLE / len_a)
                                  + ln(m2::DOUBLE / (len_a - 1))))
                 ELSE 0.0::DOUBLE END, 6) AS bleu2
    FROM scored
    ORDER BY CASE WHEN m1 > 0 AND m2 > 0
                  THEN bp * exp(0.5::DOUBLE
                                * (ln(m1::DOUBLE / len_a)
                                   + ln(m2::DOUBLE / (len_a - 1))))
                  ELSE 0.0::DOUBLE END DESC, id_a ASC, id_b ASC
    LIMIT {_BLEU_TOPK}
    """,
)
def bleu_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLEU-2 (clipped modified n-gram precision + brevity penalty,
    Papineni 2002) between candidate near-duplicate pairs — the MT
    metric repurposed as a dedup SCORER: unlike Jaccard it respects
    token MULTIPLICITY (clipping at min(tf_hyp, tf_ref)), so boilerplate
    that repeats a phrase scores differently from genuine overlap. The
    lower doc_id is the hypothesis, BLEU's brevity penalty
    min(1, exp(1 - len_ref/len_hyp)) uses exact integer length ratios.

    Candidates come from the family's inverted TRIGRAM index: pairs
    sharing >= 3 distinct word-trigrams, with the same POSTING_DF_CAP
    posting cap as the Jaccard/containment/winnowing operators (the
    adversarial stop-shingle guard, mirrored in the oracle). Bigrams
    are too common on a small-vocabulary corpus to gate with (931
    distinct bigrams across 5k docs turn the posting join quadratic —
    measured 36M expanded pairs vs 1.3M for trigrams); the trigram
    postings are explicitly hash-repartitioned before the self-join so
    AQE cannot serialize the CPU-dense stage. Clipped counts are exact
    integer sums; p1/p2 are integer cross-multiplied truncations; the
    two-term log average runs on identical doubles.

    Scale: posting-bounded pair expansion (df-capped), clip joins keyed
    on (pair, gram) — never a doc x doc product."""
    d = fan_out_scan(T(spark, sf_dir, "documents"))
    parallelism = shuffle_partitions(spark)
    # r9 optimization fold: ONE tokenize + ONE explode emits every gram
    # order at once, tagged by order ('1|' unigram, '2|' bigram, '3|'
    # trigram) — replacing three separate explode pipelines (tf1 / tf2 /
    # tri) that each re-read a checkpointed token-array table. The tag
    # keeps the gram spaces disjoint through the shared tf aggregate and
    # the posting join; every downstream quantity (tf counts, clipped
    # min-sums, doc length = unigram instance count == size(ws)) is the
    # same exact integer as before, so the oracle is unchanged.
    t = d.select(
        "doc_id", F.split(F.lower(F.trim("text")), r"\s+").alias("ws")
    )
    grams = t.select(
        "doc_id",
        F.explode(
            F.expr(
                "concat("
                "transform(ws, w -> concat('1|', w)),"
                "transform(sequence(1, greatest(size(ws) - 1, 0)),"
                " i -> concat('2|', ws[i - 1], ' ', ws[i])),"
                "transform(sequence(1, greatest(size(ws) - 2, 0)),"
                " i -> concat('3|', ws[i - 1], ' ', ws[i], ' ', ws[i + 1]))"
                ")"
            )
        ).alias("g"),
    ).localCheckpoint()
    # term frequencies for the clip sums: unigrams + bigrams, ONE shuffle
    tf = (
        grams.filter(~F.col("g").startswith("3|"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .localCheckpoint()
    )
    # doc length = its unigram instance count (== size(ws) exactly)
    dl = (
        tf.filter(F.col("g").startswith("1|"))
        .groupBy("doc_id")
        .agg(F.sum("tf").cast("long").alias("n1"))
    )
    tri = (
        grams.filter(F.col("g").startswith("3|"))
        .select("doc_id", F.col("g").alias("sh"))
        .distinct()
        .repartition(parallelism, "sh")
        .localCheckpoint()
    )
    # candidate pairs: tri is already hash-partitioned on sh, so the
    # postings groupBy inside posting_pair_counts reuses that layout
    cand = (
        posting_pair_counts(tri, "doc_id", "sh")
        .filter(F.col("n_common") >= _BLEU_MIN_SHARED)
        .select("id_a", "id_b")
        .repartition(parallelism, "id_a")
        .localCheckpoint()
    )
    # ONE fused clip join over the tagged tf table replaces the former
    # c1 (unigram) + c2 (bigram) join pairs: the tag splits the clipped
    # min-sum back into m1/m2 inside a single aggregate. A pair sharing
    # only one gram order still gets the other sum as the exact 0 the
    # old per-order inner join + left-join-coalesce produced.
    xa = tf.select(
        F.col("doc_id").alias("id_a"),
        F.col("g").alias("g_a"),
        F.col("tf").alias("tfa"),
    )
    yb = tf.select(
        F.col("doc_id").alias("idb_r"),
        F.col("g").alias("g_b"),
        F.col("tf").alias("tfb"),
    )
    c12 = (
        cand.join(xa, "id_a")
        .join(
            yb,
            (F.col("id_b") == F.col("idb_r"))
            & (F.col("g_a") == F.col("g_b")),
        )
        .groupBy("id_a", "id_b")
        .agg(
            F.sum(
                F.when(
                    F.col("g_a").startswith("1|"), F.least("tfa", "tfb")
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("m1"),
            F.sum(
                F.when(
                    F.col("g_a").startswith("2|"), F.least("tfa", "tfb")
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("m2"),
        )
    )
    da = dl.select(F.col("doc_id").alias("id_a"), F.col("n1").alias("len_a"))
    db = dl.select(F.col("doc_id").alias("id_b"), F.col("n1").alias("len_b"))
    scored = (
        cand.join(da, "id_a")
        .join(db, "id_b")
        .join(c12, ["id_a", "id_b"], "left")
        .select(
            "id_a",
            "id_b",
            "len_a",
            "len_b",
            F.coalesce("m1", F.lit(0)).alias("m1"),
            F.coalesce("m2", F.lit(0)).alias("m2"),
            F.when(F.col("len_a") >= F.col("len_b"), F.lit(1.0))
            .otherwise(
                F.exp(
                    F.lit(1.0)
                    - F.col("len_b").cast("double") / F.col("len_a")
                )
            )
            .alias("bp"),
        )
    )
    bleu = F.when(
        (F.col("m1") > 0) & (F.col("m2") > 0),
        F.col("bp")
        * F.exp(
            F.lit(0.5)
            * (
                F.log(F.col("m1").cast("double") / F.col("len_a"))
                + F.log(
                    F.col("m2").cast("double") / (F.col("len_a") - 1)
                )
            )
        ),
    ).otherwise(F.lit(0.0))
    return (
        scored.select(
            "id_a",
            "id_b",
            "len_a",
            "len_b",
            (F.expr("m1 * 1000000 div len_a") / 1e6).alias("p1"),
            (F.expr("m2 * 1000000 div (len_a - 1)") / 1e6).alias("p2"),
            F.round(bleu, 6).alias("bleu2"),
            bleu.alias("_ord"),
        )
        .orderBy(F.desc("_ord"), F.asc("id_a"), F.asc("id_b"))
        .limit(_BLEU_TOPK)
        .drop("_ord")
    )


# --- Wave 68: Burrows' Delta stylometry ------------------------------------------

_BD_VOCAB = 30


@query(
    "burrows_delta_sources",
    oracle=f"""
    WITH toks AS (
      SELECT source, unnest(string_split_regex(lower(trim(text)), '\\s+'))
        AS tok
      FROM documents
    ),
    vocab AS (
      SELECT tok FROM toks GROUP BY tok
      ORDER BY count(*) DESC, tok ASC LIMIT {_BD_VOCAB}
    ),
    stot AS (
      SELECT source, cast(count(*) AS BIGINT) AS t FROM toks GROUP BY 1
    ),
    cnts AS (
      SELECT source, tok, cast(count(*) AS BIGINT) AS c
      FROM toks JOIN vocab USING (tok)
      GROUP BY 1, 2
    ),
    grid AS (
      SELECT s.source, v.tok, s.t, coalesce(c.c, 0) AS c,
             cast(floor(coalesce(c.c, 0)::DOUBLE / s.t * 1e12) AS BIGINT)
               / 1e12 AS g
      FROM stot s CROSS JOIN vocab v
      LEFT JOIN cnts c ON c.source = s.source AND c.tok = v.tok
    ),
    ns AS (SELECT cast(count(*) AS BIGINT) AS ns FROM stot),
    mo AS (
      SELECT tok,
             cast(sum(cast(floor(g * 1e12) AS BIGINT)) AS BIGINT) AS sg_fp,
             cast(sum(cast(floor(g * g * 1e15) AS BIGINT)) AS BIGINT)
               AS sgg_fp
      FROM grid GROUP BY tok
    ),
    z AS (
      SELECT grid.source, grid.tok,
             CASE WHEN (mo.sgg_fp / 1e15 - (mo.sg_fp / 1e12)
                        * (mo.sg_fp / 1e12) / ns.ns) <= 0.0::DOUBLE
                  THEN 0.0::DOUBLE
                  ELSE (grid.g - mo.sg_fp / 1e12 / ns.ns)
                       / sqrt((mo.sgg_fp / 1e15 - (mo.sg_fp / 1e12)
                               * (mo.sg_fp / 1e12) / ns.ns)
                              / (ns.ns - 1))
             END AS z
      FROM grid, mo, ns
      WHERE mo.tok = grid.tok
    ),
    pairs AS (
      SELECT a.source AS src_a, b.source AS src_b,
             cast(sum(cast(floor(abs(a.z - b.z) * 1e9) AS BIGINT))
                  AS BIGINT) AS d_fp,
             cast(count(*) AS BIGINT) AS nw
      FROM z a JOIN z b ON a.tok = b.tok AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT src_a, src_b,
           floor(d_fp::DOUBLE / nw / 1e9 * 1e6) / 1e6 AS delta
    FROM pairs
    """,
)
def burrows_delta_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta (2002) between every pair of document SOURCES —
    the standard stylometric authorship distance: z-score each source's
    relative frequency of the corpus's top-30 tokens against the
    across-source distribution, then Delta(a,b) = mean |z_a - z_b|.
    Low Delta = stylistically indistinguishable sources (candidate
    mirrored/scraped feeds for a training corpus); the source-level
    sibling of the doc-level dedup family and of
    source_topk_token_overlap's set-based view (Delta weighs HOW MUCH
    each shared word is used, not whether it appears).

    Exactness: relative frequencies truncate to 1e-12 fixed point
    (exact count ratios first — both engines divide the same integers);
    across-source moments and the per-pair |z| sums are order-free
    integer fixed-point sums; zero-variance tokens z = 0 on both
    engines by the same guard.

    Scale: one tokenize pass; everything after lives on
    (sources x 30) rows."""
    d = fan_out_scan(T(spark, sf_dir, "documents"))
    toks = d.select(
        "source",
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("tok"),
    ).localCheckpoint()
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("tok"))
        .limit(_BD_VOCAB)
        .select("tok")
        .localCheckpoint()
    )
    stot = toks.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("t")
    )
    cnts = (
        toks.join(F.broadcast(vocab), "tok")
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    grid = (
        stot.crossJoin(F.broadcast(vocab))
        .join(cnts, ["source", "tok"], "left")
        .select(
            "source",
            "tok",
            (
                F.floor(
                    F.coalesce(F.col("c"), F.lit(0)).cast("double")
                    / F.col("t")
                    * 1e12
                ).cast("long")
                / 1e12
            ).alias("g"),
        )
        .localCheckpoint()
    )
    ns = stot.agg(F.count(F.lit(1)).cast("long").alias("ns"))
    mo = grid.groupBy("tok").agg(
        F.sum(F.floor(F.col("g") * 1e12).cast("long"))
        .cast("long")
        .alias("sg_fp"),
        F.sum(F.floor(F.col("g") * F.col("g") * 1e15).cast("long"))
        .cast("long")
        .alias("sgg_fp"),
    )
    var = (
        F.col("sgg_fp") / 1e15
        - (F.col("sg_fp") / 1e12) * (F.col("sg_fp") / 1e12) / F.col("ns")
    )
    z = (
        grid.join(
            mo.withColumnRenamed("tok", "mtok"),
            F.col("tok") == F.col("mtok"),
        )
        .crossJoin(F.broadcast(ns))
        .select(
            "source",
            "tok",
            F.when(var <= 0.0, F.lit(0.0))
            .otherwise(
                (F.col("g") - F.col("sg_fp") / 1e12 / F.col("ns"))
                / F.sqrt(var / (F.col("ns") - 1))
            )
            .alias("z"),
        )
    )
    a = z.select(
        F.col("source").alias("src_a"), "tok", F.col("z").alias("za")
    )
    b = z.select(
        F.col("source").alias("src_b"),
        F.col("tok").alias("tokb"),
        F.col("z").alias("zb"),
    )
    pairs = (
        a.join(
            b,
            (F.col("tok") == F.col("tokb"))
            & (F.col("src_a") < F.col("src_b")),
        )
        .groupBy("src_a", "src_b")
        .agg(
            F.sum(
                F.floor(F.abs(F.col("za") - F.col("zb")) * 1e9).cast("long")
            )
            .cast("long")
            .alias("d_fp"),
            F.count(F.lit(1)).cast("long").alias("nw"),
        )
    )
    return pairs.select(
        "src_a",
        "src_b",
        (
            F.floor(F.col("d_fp").cast("double") / F.col("nw") / 1e9 * 1e6)
            / 1e6
        ).alias("delta"),
    )


# --- Wave 72: near-dup threshold operating curve -------------------------------------

_NDS_T100 = (5, 10, 20, 30, 50)  # thresholds x100: 0.05 .. 0.50


@query(
    "near_dup_threshold_sweep",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id,
             ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
      FROM t, unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS u(i)
    ), sizes AS (
      SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id
    ), ndoc AS (SELECT cast(count(*) AS BIGINT) AS nd FROM t),
    shc AS (
      SELECT s.doc_id, s.shingle FROM sh s
      JOIN (SELECT shingle FROM sh GROUP BY 1 HAVING count(*) <= 1000) ok
        USING (shingle)
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             cast(count(*) AS BIGINT) AS n_common
      FROM shc a JOIN shc b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT id_a, id_b, n_common,
             sa.set_size + sb.set_size - n_common AS un
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
    ),
    ts AS (SELECT unnest([{", ".join(str(t) for t in _NDS_T100)}]) AS t100),
    kept AS (
      SELECT ts.t100, p.id_a, p.id_b
      FROM pairs p, ts
      WHERE p.n_common * 100 >= ts.t100 * p.un
    ),
    byt AS (
      SELECT t100, cast(count(*) AS BIGINT) AS n_pairs FROM kept GROUP BY 1
    ),
    docs AS (
      SELECT t100, cast(count(DISTINCT d) AS BIGINT) AS n_docs
      FROM (
        SELECT t100, id_a AS d FROM kept
        UNION ALL SELECT t100, id_b FROM kept
      ) GROUP BY 1
    )
    SELECT ts.t100 / 100.0::DOUBLE AS threshold,
           coalesce(b.n_pairs, 0) AS n_pairs,
           coalesce(d.n_docs, 0) AS n_dup_docs,
           (coalesce(d.n_docs, 0) * 1000000 // nd.nd) / 1e6 AS dup_doc_frac
    FROM ts
    LEFT JOIN byt b ON b.t100 = ts.t100
    LEFT JOIN docs d ON d.t100 = ts.t100
    CROSS JOIN ndoc nd
    """,
)
def near_dup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup OPERATING CURVE: pair count and duplicate-document
    coverage of the exact 3-gram Jaccard detector at five thresholds
    (0.05 .. 0.50) in one pass — the table an engineer reads before
    picking tau for a production dedup run (too low: collapses the
    corpus; too high: misses templated spam). One posting-expansion
    computes every pair ONCE; the sweep is then pure integer
    re-thresholding, n_common * 100 >= t100 * union — no float
    threshold ever compares, so boundary pairs (jaccard exactly 0.05)
    land identically on both engines. The POSTING_DF_CAP posting cap is ON,
    mirrored in the oracle, as everywhere in the family.

    Scale: identical cost to near_dup_jaccard_pairs plus a 5x
    pair-table re-aggregation."""
    from ..operators.dedup import shingle_table

    d = T(spark, sf_dir, "documents")
    sh = shingle_table(d, "doc_id", "text", 3).localCheckpoint()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("set_size"))
    ndoc = d.agg(F.count(F.lit(1)).cast("long").alias("nd"))
    inter = posting_pair_counts(sh, "doc_id", "shingle")
    # per-entity sizes are DATA-SIZED: plain equi-join, AQE decides
    sa = sizes.select(
        F.col("doc_id").alias("id_a"), F.col("set_size").alias("size_a")
    )
    sb = sizes.select(
        F.col("doc_id").alias("id_b"), F.col("set_size").alias("size_b")
    )
    pairs = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            "n_common",
            (
                F.col("size_a") + F.col("size_b") - F.col("n_common")
            ).alias("un"),
        )
        .localCheckpoint()
    )
    ts = ndoc.select(
        "nd",
        F.explode(
            F.array(*[F.lit(t) for t in _NDS_T100])
        ).alias("t100"),
    )
    kept = pairs.crossJoin(F.broadcast(ts)).filter(
        F.col("n_common") * 100 >= F.col("t100") * F.col("un")
    )
    byt = kept.groupBy("t100", "nd").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )
    docs = (
        kept.select("t100", F.col("id_a").alias("d"))
        .unionByName(kept.select("t100", F.col("id_b").alias("d")))
        .groupBy("t100")
        .agg(F.countDistinct("d").cast("long").alias("n_docs"))
        .withColumnRenamed("t100", "t100d")
    )
    return (
        ts.join(byt.drop("nd"), "t100", "left")
        .join(docs, F.col("t100") == F.col("t100d"), "left")
        .select(
            (F.col("t100") / F.lit(100.0)).alias("threshold"),
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_dup_docs"),
            (
                F.expr("coalesce(n_docs, 0) * 1000000 div nd") / 1e6
            ).alias("dup_doc_frac"),
        )
    )


# --- Wave 72: MinHash estimator error audit ------------------------------------------


@query(
    "minhash_estimate_error_audit",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id,
             ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
      FROM t, unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS u(i)
    ), h AS (
      SELECT doc_id, i,
             min(md5(cast(i AS VARCHAR) || '|' || shingle)) AS mh
      FROM sh, unnest(generate_series(0, 15)) AS u(i)
      GROUP BY doc_id, i
    ), sig AS (
      SELECT doc_id, cast(floor(i / 4.0) AS BIGINT) AS band,
             string_agg(mh, ',' ORDER BY i) AS sig
      FROM h GROUP BY 1, 2
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sig a JOIN sig b ON a.band = b.band AND a.sig = b.sig
      WHERE a.doc_id < b.doc_id
    ), est AS (
      SELECT c.id_a, c.id_b,
             cast(sum(CASE WHEN ha.mh = hb.mh THEN 1 ELSE 0 END)
                  AS BIGINT) AS m
      FROM cand c
      JOIN h ha ON ha.doc_id = c.id_a
      JOIN h hb ON hb.doc_id = c.id_b AND hb.i = ha.i
      GROUP BY 1, 2
    ), sizes AS (
      SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id
    ), exact AS (
      SELECT c.id_a, c.id_b, cast(count(*) AS BIGINT) AS n_common
      FROM cand c
      JOIN sh a ON a.doc_id = c.id_a
      JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
      GROUP BY 1, 2
    ), err AS (
      SELECT e.id_a,
             abs(es.m / 16.0::DOUBLE
                 - coalesce(x.n_common, 0)::DOUBLE
                   / (sa.set_size + sb.set_size - coalesce(x.n_common, 0)))
               AS ae
      FROM cand e
      JOIN est es ON es.id_a = e.id_a AND es.id_b = e.id_b
      LEFT JOIN exact x ON x.id_a = e.id_a AND x.id_b = e.id_b
      JOIN sizes sa ON sa.doc_id = e.id_a
      JOIN sizes sb ON sb.doc_id = e.id_b
    )
    SELECT cast(count(*) AS BIGINT) AS n_pairs,
           floor(cast(sum(cast(floor(ae * 1e9) AS BIGINT)) AS BIGINT)
                 / 1e9 / count(*) * 1e6) / 1e6 AS mae,
           floor(max(ae) * 1e6) / 1e6 AS max_abs_err,
           round(sqrt(cast(sum(cast(floor(ae * ae * 1e9) AS BIGINT))
                           AS BIGINT) / 1e9 / count(*)), 6) AS rmse
    FROM err
    """,
)
def minhash_estimate_error_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How good is the 16-hash MinHash Jaccard ESTIMATE on the pairs the
    LSH actually surfaces? For every banded-LSH candidate pair, compare
    the signature-agreement estimate m/16 against the exact 3-gram
    Jaccard, and report MAE / max / RMSE — the empirical sibling of
    lsh_scurve_planner's analytic s-curve: the planner predicts recall
    from (hashes, bands); this measures the estimator's residual error
    on real candidates (expected stddev ~ sqrt(j(1-j)/16) ~ 0.12 at
    j=0.5, which is WHY production dedup verifies candidates exactly —
    the repo's own near_dup_jaccard discipline).

    Exactness: signatures are the md5 family DuckDB reproduces verbatim
    (minhash_lsh_pairs_md5); agreements and exact intersections are
    integer counts; each pair's absolute error floors into 1e-9 fixed
    point before the order-free sums.

    Scale: candidate-bounded — every join is keyed on LSH pairs, never
    all pairs."""
    from ..operators.dedup import (
        minhash_md5_candidates,
        minhash_md5_hashes,
        shingle_table,
    )

    # r10 (r9 verdict item 4): ONE shingle table and ONE md5 min-hash
    # table feed both the LSH candidate generation and the audit's own
    # signature/exact-Jaccard consumers — the query previously rebuilt
    # the full tokenize+shingle pass AND the 16x md5 hash family twice
    # (once inside minhash_md5_candidates, once for itself).
    d = T(spark, sf_dir, "documents")
    sh = shingle_table(d, "doc_id", "text", 3).localCheckpoint()
    h = minhash_md5_hashes(sh, 16).localCheckpoint()
    cand = minhash_md5_candidates(
        d, "doc_id", "text", n=3, num_hashes=16, bands=4, shingles=sh, hashes=h
    ).localCheckpoint()
    ha = h.select(
        F.col("doc_id").alias("id_a"), F.col("i").alias("ia"), F.col("mh").alias("mha")
    )
    hb = h.select(
        F.col("doc_id").alias("hb_id"), F.col("i").alias("ib"), F.col("mh").alias("mhb")
    )
    est = (
        cand.join(ha, "id_a")
        .join(
            hb,
            (F.col("id_b") == F.col("hb_id")) & (F.col("ia") == F.col("ib")),
        )
        .groupBy("id_a", "id_b")
        .agg(
            F.sum(F.when(F.col("mha") == F.col("mhb"), 1).otherwise(0))
            .cast("long")
            .alias("m")
        )
    )
    sha = sh.select(F.col("doc_id").alias("id_a"), F.col("shingle").alias("sga"))
    shb = sh.select(F.col("doc_id").alias("shb_id"), F.col("shingle").alias("sgb"))
    exact = (
        cand.join(sha, "id_a")
        .join(
            shb,
            (F.col("id_b") == F.col("shb_id")) & (F.col("sga") == F.col("sgb")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("set_size"))
    # per-entity sizes are DATA-SIZED: plain equi-join, AQE decides
    sa = sizes.select(
        F.col("doc_id").alias("id_a"), F.col("set_size").alias("size_a")
    )
    sb = sizes.select(
        F.col("doc_id").alias("id_b"), F.col("set_size").alias("size_b")
    )
    nc = F.coalesce(F.col("n_common"), F.lit(0))
    ae = F.abs(
        F.col("m") / F.lit(16.0)
        - nc.cast("double")
        / (F.col("size_a") + F.col("size_b") - nc)
    )
    err = (
        cand.join(est, ["id_a", "id_b"])
        .join(exact, ["id_a", "id_b"], "left")
        .join(sa, "id_a")
        .join(sb, "id_b")
        .select(ae.alias("ae"))
    )
    return err.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        (
            F.floor(
                F.sum(F.floor(F.col("ae") * 1e9).cast("long")).cast("long")
                / 1e9
                / F.count(F.lit(1))
                * 1e6
            )
            / 1e6
        ).alias("mae"),
        (F.floor(F.max("ae") * 1e6) / 1e6).alias("max_abs_err"),
        F.round(
            F.sqrt(
                F.sum(
                    F.floor(F.col("ae") * F.col("ae") * 1e9).cast("long")
                ).cast("long")
                / 1e9
                / F.count(F.lit(1))
            ),
            6,
        ).alias("rmse"),
    )


# --- Wave 73: lexical diversity battery ------------------------------------------------


@query(
    "lexical_diversity_by_source",
    oracle="""
    WITH toks AS (
      SELECT source, unnest(string_split_regex(lower(trim(text)), '\\s+'))
        AS tok
      FROM documents
    ),
    tf AS (
      SELECT source, tok, cast(count(*) AS BIGINT) AS r
      FROM toks GROUP BY 1, 2
    ),
    s AS (
      SELECT source,
             cast(sum(r) AS BIGINT) AS n,
             cast(count(*) AS BIGINT) AS v,
             cast(sum(r * r) AS BIGINT) AS srr,
             cast(sum(r * (r - 1)) AS BIGINT) AS spair
      FROM tf GROUP BY 1
    )
    SELECT source, n AS n_tokens, v AS n_types,
           (v * 1000000 // n) / 1e6 AS ttr,
           round(10000.0::DOUBLE * (srr - n) / (n::DOUBLE * n), 4)
             AS yule_k,
           (spair * 1000000 // (n * (n - 1))) / 1e6 AS simpson_d,
           round((ln(n) - ln(v)) / (ln(n) * ln(n)), 6) AS maas_a2
    FROM s
    """,
)
def lexical_diversity_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classical lexical-diversity battery per document source:
    type-token ratio, Yule's K = 10^4 (sum r^2 v_r - N)/N^2 (the
    length-robust repeat-rate statistic), Simpson's D = P(two random
    tokens coincide), and Maas a^2 = (ln N - ln V)/ln^2 N (the
    least length-biased of the TTR corrections) — the vocabulary-
    richness profile a corpus curator reads next to word_entropy_quality
    (entropy weighs the whole distribution; K and D weigh its repeats,
    Maas normalizes for document volume).

    Exactness: every statistic reduces to the integer tf spectrum
    (N, V, sum r^2, sum r(r-1)); TTR and Simpson are integer
    cross-multiplied truncations, K and Maas are single closed-form
    expressions on identical doubles.

    Scale: one tokenize pass, one (source, token) partial/final agg,
    four sums per source."""
    d = fan_out_scan(T(spark, sf_dir, "documents"))
    toks = d.select(
        "source",
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("tok"),
    )
    tf = toks.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("r")
    )
    s = tf.groupBy("source").agg(
        F.sum("r").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("v"),
        F.sum(F.col("r") * F.col("r")).cast("long").alias("srr"),
        F.sum(F.col("r") * (F.col("r") - 1)).cast("long").alias("spair"),
    )
    return s.select(
        "source",
        F.col("n").alias("n_tokens"),
        F.col("v").alias("n_types"),
        (F.expr("v * 1000000 div n") / 1e6).alias("ttr"),
        F.round(
            F.lit(10000.0)
            * (F.col("srr") - F.col("n"))
            / (F.col("n").cast("double") * F.col("n")),
            4,
        ).alias("yule_k"),
        (F.expr("spair * 1000000 div (n * (n - 1))") / 1e6).alias(
            "simpson_d"
        ),
        F.round(
            (F.log(F.col("n").cast("double")) - F.log(F.col("v").cast("double")))
            / (
                F.log(F.col("n").cast("double"))
                * F.log(F.col("n").cast("double"))
            ),
            6,
        ).alias("maas_a2"),
    )


# --- Wave 74: blocking-scheme recall audit --------------------------------------------

_BRA_TAU100 = 75  # ground-truth match threshold x100 (the ER family's 0.75)


@query(
    "blocking_recall_audit",
    oracle=f"""
    WITH t AS (
      SELECT p_partkey,
             list_sort(list_distinct(string_split(
               lower(p_name || ' ' || p_brand || ' ' || p_type), ' '))) AS ts,
             lower(p_brand) AS brand
      FROM part
    ),
    tok AS (
      SELECT p_partkey, unnest(ts) AS tok FROM t
    ),
    dfok AS (
      SELECT tok FROM tok GROUP BY tok
      HAVING count(*) <= {POSTING_DF_CAP}
    ),
    inter AS (
      SELECT a.p_partkey AS pa, b.p_partkey AS pb,
             cast(count(*) AS BIGINT) AS nc
      FROM tok a JOIN dfok USING (tok) JOIN tok b USING (tok)
      WHERE a.p_partkey < b.p_partkey
      GROUP BY 1, 2
    ),
    sizes AS (SELECT p_partkey, len(ts) AS sz FROM t),
    truth AS (
      SELECT i.pa, i.pb
      FROM inter i
      JOIN sizes sa ON sa.p_partkey = i.pa
      JOIN sizes sb ON sb.p_partkey = i.pb
      WHERE i.nc * 100 >= {_BRA_TAU100} * (sa.sz + sb.sz - i.nc)
    ),
    nt AS (SELECT cast(count(*) AS BIGINT) AS n_true FROM truth),
    bkeys AS (
      SELECT p_partkey, 'two_smallest' AS scheme,
             ts[1] || ' ' || ts[2] AS blk
      FROM t WHERE len(ts) >= 2
      UNION ALL
      SELECT p_partkey, 'brand', brand FROM t
      UNION ALL
      SELECT p_partkey, 'first_token', ts[1] FROM t WHERE len(ts) >= 1
    ),
    cap AS (
      SELECT a.scheme, cast(count(*) AS BIGINT) AS n_captured
      FROM truth tr
      JOIN bkeys a ON a.p_partkey = tr.pa
      JOIN bkeys b ON b.p_partkey = tr.pb
       AND b.scheme = a.scheme AND b.blk = a.blk
      GROUP BY 1
    ),
    cost AS (
      SELECT scheme,
             cast(sum((c * (c - 1)) // 2) AS BIGINT) AS n_candidates
      FROM (SELECT scheme, blk, count(*) AS c FROM bkeys GROUP BY 1, 2)
      GROUP BY 1
    )
    SELECT c.scheme, nt.n_true,
           coalesce(cap.n_captured, 0) AS n_captured,
           CASE WHEN nt.n_true > 0
                THEN (coalesce(cap.n_captured, 0) * 1000000 // nt.n_true)
                     / 1e6 END AS recall,
           c.n_candidates
    FROM cost c
    LEFT JOIN cap ON cap.scheme = c.scheme
    CROSS JOIN nt
    """,
)
def blocking_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The blocking-scheme RECALL/COST trade-off table (Christen 2012's
    evaluation methodology): ground-truth matches = part pairs with
    token Jaccard >= 0.75 from a df-capped posting expansion (lossless
    at this threshold — matching pairs must share tokens), then each of
    three blocking keys (two-smallest-tokens — the shipped
    er_blocking_part_pairs key — brand, first-token) is scored by how
    many true matches land in a shared block (recall) against how many
    candidate pairs it would generate (cost). This is the table that
    justifies a blocking key BEFORE the expensive compare runs.

    Exactness: the truth set uses integer cross-multiplied Jaccard
    thresholds (no float tau); captures and candidate counts are pure
    integer joins/sums; recall is an integer-division truncation.

    Scale: posting-bounded truth generation (df cap mirrored in the
    oracle), key tables are one projection each."""
    p = T(spark, sf_dir, "part")
    t = p.select(
        "p_partkey",
        F.array_sort(
            F.array_distinct(
                F.split(
                    F.lower(
                        F.concat_ws(
                            " ",
                            F.col("p_name"),
                            F.col("p_brand"),
                            F.col("p_type"),
                        )
                    ),
                    " ",
                )
            )
        ).alias("ts"),
        F.lower(F.col("p_brand")).alias("brand"),
    ).localCheckpoint()
    parallelism = shuffle_partitions(spark)
    # CPU-dense posting expansion: hash-fan the token table explicitly or
    # AQE's byte-based coalesce serializes the pair expansion (the
    # ngram_novelty/PPJoin lesson) — measured 10.1 s -> ~3 s at sf0.1
    tok = (
        t.select("p_partkey", F.explode("ts").alias("tok"))
        .repartition(parallelism, "tok")
        .localCheckpoint()
    )
    dfok = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= POSTING_DF_CAP
    ).select("tok")
    sizes = t.select("p_partkey", F.size("ts").cast("long").alias("sz"))
    # r9: a truth pair needs nc*100 >= TAU100*(sza+szb-nc), and the union
    # is >= each side's full set size while nc is bounded by each side's
    # UNDER-CAP token count ka — so any part with 100*ka < TAU100*sz can
    # never appear in a truth pair. Pre-filter the posting expansion's
    # input on that per-part test (guide §3.4; lossless by the threshold
    # arithmetic, no data assumption). At sf0.1 every part has ka=1
    # against sz~9, so the ~8M-row pair expansion that fed an empty truth
    # set collapses to an empty one.
    u = tok.join(dfok, "tok")
    okj = (
        u.groupBy("p_partkey")
        .agg(F.count(F.lit(1)).alias("ku"))
        .join(sizes, "p_partkey")
        .filter(F.col("ku") * 100 >= F.lit(_BRA_TAU100) * F.col("sz"))
        .select("p_partkey")
    )
    inter = posting_pair_counts(
        u.join(okj, "p_partkey"), "p_partkey", "tok"
    ).toDF("pa", "pb", "nc")
    # per-entity sizes are DATA-SIZED: plain equi-join, AQE decides
    sa = sizes.select(F.col("p_partkey").alias("pa"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("p_partkey").alias("pb"), F.col("sz").alias("szb"))
    truth = (
        inter.join(sa, "pa")
        .join(sb, "pb")
        .filter(
            F.col("nc") * 100
            >= _BRA_TAU100 * (F.col("sza") + F.col("szb") - F.col("nc"))
        )
        .select("pa", "pb")
        .localCheckpoint()
    )
    nt = truth.agg(F.count(F.lit(1)).cast("long").alias("n_true"))
    keys = (
        t.filter(F.size("ts") >= 2)
        .select(
            "p_partkey",
            F.lit("two_smallest").alias("scheme"),
            F.concat_ws(
                " ", F.col("ts").getItem(0), F.col("ts").getItem(1)
            ).alias("blk"),
        )
        .unionByName(
            t.select(
                "p_partkey",
                F.lit("brand").alias("scheme"),
                F.col("brand").alias("blk"),
            )
        )
        .unionByName(
            t.filter(F.size("ts") >= 1).select(
                "p_partkey",
                F.lit("first_token").alias("scheme"),
                F.col("ts").getItem(0).alias("blk"),
            )
        )
        .localCheckpoint()
    )
    ka = keys.select(
        F.col("p_partkey").alias("pa"), "scheme", F.col("blk").alias("blka")
    )
    kb = keys.select(
        F.col("p_partkey").alias("kb_id"),
        F.col("scheme").alias("schemeb"),
        F.col("blk").alias("blkb"),
    )
    cap = (
        truth.join(ka, "pa")
        .join(
            kb,
            (F.col("pb") == F.col("kb_id"))
            & (F.col("scheme") == F.col("schemeb"))
            & (F.col("blka") == F.col("blkb")),
        )
        .groupBy("scheme")
        .agg(F.count(F.lit(1)).cast("long").alias("n_captured"))
    )
    cost = (
        keys.groupBy("scheme", "blk")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("scheme")
        .agg(
            F.sum(F.expr("c * (c - 1) div 2")).cast("long").alias(
                "n_candidates"
            )
        )
    )
    return (
        cost.join(cap, "scheme", "left")
        .crossJoin(F.broadcast(nt))
        .select(
            "scheme",
            "n_true",
            F.coalesce("n_captured", F.lit(0))
            .cast("long")
            .alias("n_captured"),
            F.when(
                F.col("n_true") > 0,
                F.expr("coalesce(n_captured, 0) * 1000000 div n_true")
                / 1e6,
            ).alias("recall"),
            "n_candidates",
        )
    )


# --- Wave 74: reciprocal best match ----------------------------------------------------

_RBM_MIN_NC = 2  # candidate gate: >= 2 shared tokens


@query(
    "reciprocal_best_match_pairs",
    oracle=f"""
    WITH t AS (
      SELECT p_partkey,
             list_sort(list_distinct(string_split(
               lower(p_name || ' ' || p_brand || ' ' || p_type), ' '))) AS ts
      FROM part
    ),
    tok AS (SELECT p_partkey, unnest(ts) AS tok FROM t),
    dfok AS (
      SELECT tok FROM tok GROUP BY tok HAVING count(*) <= 1000
    ),
    inter AS (
      SELECT a.p_partkey AS pa, b.p_partkey AS pb,
             cast(count(*) AS BIGINT) AS nc
      FROM tok a JOIN dfok USING (tok) JOIN tok b USING (tok)
      WHERE a.p_partkey <> b.p_partkey
      GROUP BY 1, 2
      HAVING count(*) >= {_RBM_MIN_NC}
    ),
    sizes AS (SELECT p_partkey, len(ts) AS sz FROM t),
    scored AS (
      SELECT i.pa, i.pb, i.nc,
             i.nc::DOUBLE / (sa.sz + sb.sz - i.nc) AS j
      FROM inter i
      JOIN sizes sa ON sa.p_partkey = i.pa
      JOIN sizes sb ON sb.p_partkey = i.pb
    ),
    best AS (
      SELECT pa, pb, j,
             row_number() OVER (PARTITION BY pa ORDER BY j DESC, pb ASC)
               AS rk
      FROM scored
    )
    SELECT a.pa AS part_a, a.pb AS part_b,
           floor(a.j * 1e6) / 1e6 AS jaccard
    FROM best a JOIN best b
      ON b.pa = a.pb AND b.pb = a.pa AND b.rk = 1
    WHERE a.rk = 1 AND a.pa < a.pb
    """,
)
def reciprocal_best_match_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-best-match entity pairs over the part catalog: a pair
    survives only if each side is the OTHER's single best token-Jaccard
    match — the mutual-nearest-neighbor rule that bioinformatics
    orthology and unsupervised record linkage both use to harvest
    high-precision matches WITHOUT a threshold: a one-directional best
    match can be an artifact of a sparse neighborhood, a reciprocal one
    rarely is. Complements er_blocking_part_pairs (fixed tau) and
    golden_customer_records (survivorship after the match).

    Exactness: candidates come from the df-capped posting expansion
    (>= 2 shared tokens); Jaccard is a ratio of exact integers so both
    engines rank identical doubles, with the partner id as the
    deterministic tie-break; the reciprocal check is an exact self-join
    on rank-1 rows.

    Scale: posting-bounded candidates, one window per direction over
    the candidate table — never an all-pairs product."""
    p = T(spark, sf_dir, "part")
    t = p.select(
        "p_partkey",
        F.array_sort(
            F.array_distinct(
                F.split(
                    F.lower(
                        F.concat_ws(
                            " ",
                            F.col("p_name"),
                            F.col("p_brand"),
                            F.col("p_type"),
                        )
                    ),
                    " ",
                )
            )
        ).alias("ts"),
    ).localCheckpoint()
    parallelism = shuffle_partitions(spark)
    # explicit hash fan-out before the CPU-dense posting expansion (the
    # family's AQE-coalesce guard) — measured 13.5 s -> ~4 s at sf0.1
    tok = (
        t.select("p_partkey", F.explode("ts").alias("tok"))
        .repartition(parallelism, "tok")
        .localCheckpoint()
    )
    dfok = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= POSTING_DF_CAP
    ).select("tok")
    # r9: nc counts shared UNDER-CAP tokens (the dfok join key), and the
    # >= _RBM_MIN_NC gate means a surviving pair needs >= 2 of them ON
    # EACH SIDE — so parts with < 2 under-cap tokens can be dropped from
    # the posting expansion's input (guide §3.4 pre-filter the big side;
    # lossless by the gate's own arithmetic: nc <= min(|under-cap tokens
    # of a|, |of b|)). At sf0.1 every part has exactly one under-cap
    # token, so this turns a ~16M-row expansion that aggregated to ZERO
    # survivors into an empty one.
    u = tok.join(dfok, "tok")
    ok2 = (
        u.groupBy("p_partkey")
        .agg(F.count(F.lit(1)).alias("ku"))
        .filter(F.col("ku") >= _RBM_MIN_NC)
        .select("p_partkey")
    )
    # candidates in both directions: each side ranks its own partners
    half = (
        posting_pair_counts(u.join(ok2, "p_partkey"), "p_partkey", "tok")
        .filter(F.col("n_common") >= _RBM_MIN_NC)
        .toDF("pa", "pb", "nc")
    )
    inter = half.unionByName(
        half.select(F.col("pb").alias("pa"), F.col("pa").alias("pb"), "nc")
    )
    sizes = t.select("p_partkey", F.size("ts").cast("long").alias("sz"))
    # per-entity sizes are DATA-SIZED: plain equi-join, AQE decides
    sa = sizes.select(F.col("p_partkey").alias("pa"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("p_partkey").alias("pb"), F.col("sz").alias("szb"))
    scored = (
        inter.join(sa, "pa")
        .join(sb, "pb")
        .select(
            "pa",
            "pb",
            (
                F.col("nc").cast("double")
                / (F.col("sza") + F.col("szb") - F.col("nc"))
            ).alias("j"),
        )
    )
    wb = Window.partitionBy("pa").orderBy(F.desc("j"), F.asc("pb"))
    best = scored.select(
        "pa", "pb", "j", F.row_number().over(wb).alias("rk")
    ).localCheckpoint()
    rev = best.filter(F.col("rk") == 1).select(
        F.col("pa").alias("rpa"), F.col("pb").alias("rpb")
    )
    return (
        best.filter((F.col("rk") == 1) & (F.col("pa") < F.col("pb")))
        .join(
            rev,
            (F.col("rpa") == F.col("pb")) & (F.col("rpb") == F.col("pa")),
        )
        .select(
            F.col("pa").alias("part_a"),
            F.col("pb").alias("part_b"),
            (F.floor(F.col("j") * 1e6) / 1e6).alias("jaccard"),
        )
    )
