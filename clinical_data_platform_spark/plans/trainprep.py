"""Training-data preparation operators for an LLM-scale corpus pipeline:
deterministic splits, class-balanced sampling, sequence packing, and
weighted corpus mixing.

The reference stops at tabular ML feature prep
(src/clinical_platform/analytics/feature_eng.py,
src/clinical_platform/ml/train.py:1-140 — assemble/split/train on a
subject table); a 100 TB text corpus needs the same decisions made
deterministically INSIDE the engine, with no driver-side randomness.
Every operator here keys its "randomness" on md5 of a stable id — both
engines produce identical lowercase hex, so each query is exactly
reproducible and exactly oracle-checkable, and re-running on a grown
corpus never reshuffles previously-assigned rows (hash-stability is what
makes incremental training-data builds possible).

Scale notes (100 TB): md5 is a map-side expression — split assignment,
sampling, and mixture filters are all embarrassingly parallel with zero
shuffle. Sequence packing is the only stateful step; it partitions the
corpus into independent hex shards first (a window over the FULL corpus
would serialize on one task), so each shard packs locally and the
parallelism is the shard count — turn the 1-hex-char shard key into 2-3
chars (256/4096 shards) for a real cluster.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..catalog import iter_checkpoint
from ..catalog import table as T
from .registry import query


def _h():
    # md5 over the stringified doc id: both engines emit lowercase hex.
    return F.md5(F.col("doc_id").cast("string"))


@query(
    "train_val_test_split",
    oracle="""
    WITH tagged AS (
      SELECT lang, n_chars,
             CASE WHEN substr(md5(cast(doc_id AS VARCHAR)), 1, 1) < 'c'
                  THEN 'train'
                  WHEN substr(md5(cast(doc_id AS VARCHAR)), 1, 1) < 'e'
                  THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT split, lang,
           count(*) AS n_docs,
           cast(sum(n_chars) AS BIGINT) AS sum_chars
    FROM tagged
    GROUP BY 1, 2
    """,
)
def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 75/12.5/12.5 train/val/test split by the first hex
    nibble of md5(doc_id): 0-b train, c-d val, e-f test. Pure map-side
    expression — no shuffle, no RNG state, stable under corpus growth
    (a document never migrates between splits when new data lands)."""
    d = T(spark, sf_dir, "documents")
    nib = F.substring(_h(), 1, 1)
    split = (
        F.when(nib < "c", "train").when(nib < "e", "val").otherwise("test")
    )
    return (
        d.withColumn("split", split)
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


@query(
    "balanced_class_sample",
    oracle="""
    SELECT doc_id, lang, rk FROM (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
                                ORDER BY md5(cast(doc_id AS VARCHAR)), doc_id)
               AS rk
      FROM documents)
    WHERE rk <= 50
    """,
)
def balanced_class_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling: exactly 50 documents per language,
    chosen by md5 rank — a deterministic stand-in for per-class uniform
    sampling. One shuffle on the class key; within a class the window
    only needs a top-k (Spark pushes a rank limit into the sort at
    scale). Classes smaller than k keep every row."""
    d = T(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(_h().asc(), F.col("doc_id").asc())
    return (
        d.select("doc_id", "lang", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= 50)
    )


@query(
    "packed_sequence_bins",
    oracle="""
    WITH ordered AS (
      SELECT substr(md5(cast(doc_id AS VARCHAR)), 1, 1) AS shard,
             md5(cast(doc_id AS VARCHAR)) AS h,
             doc_id, n_chars
      FROM documents
    ), packed AS (
      SELECT shard, n_chars,
             cast(floor((sum(n_chars) OVER (PARTITION BY shard
                                            ORDER BY h, doc_id
                                            ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND CURRENT ROW)
                         - n_chars) / 4000.0) AS BIGINT) AS bin
      FROM ordered
    )
    SELECT shard, bin,
           count(*) AS n_docs,
           cast(sum(n_chars) AS BIGINT) AS sum_chars
    FROM packed
    GROUP BY 1, 2
    """,
)
def packed_sequence_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: concatenate documents (in deterministic
    md5-shuffled order) into ~4000-char training bins. bin id =
    floor(preceding-cumulative-chars / budget) via a running-sum window.

    The window is PARTITIONED BY a hash shard, never global — a global
    ORDER BY window serializes the corpus through one task; sharding
    first bounds state per task and scales linearly with shard count. A
    bin never spans shards, which is exactly what a distributed packer
    wants (shards are the unit of file-level parallelism downstream)."""
    d = T(spark, sf_dir, "documents")
    h = _h()
    o = d.select(
        F.substring(h, 1, 1).alias("shard"),
        h.alias("h"),
        "doc_id",
        "n_chars",
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col("h").asc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_chars").over(w)
    binned = o.select(
        "shard",
        "n_chars",
        F.floor((cum - F.col("n_chars")) / F.lit(4000.0)).cast("long").alias("bin"),
    )
    return binned.groupBy("shard", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    )


@query(
    "corpus_mixture_sample",
    oracle="""
    SELECT lang,
           count(*) AS n_total,
           cast(sum(CASE WHEN lang = 'en'
                          OR substr(md5(cast(doc_id AS VARCHAR)), 1, 1) < '4'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM documents
    GROUP BY 1
    """,
)
def corpus_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted corpus mixture: keep English at 100% and every other
    language at a deterministic 25% (md5 nibble < '4'). This is the
    mixture-reweighting step of a pretraining data recipe as a pure
    map-side filter — rates are audited here by counting kept vs total
    per language in one pass."""
    d = T(spark, sf_dir, "documents")
    keep = (F.col("lang") == "en") | (F.substring(_h(), 1, 1) < "4")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(keep.cast("int")).cast("long").alias("n_kept"),
    )


@query(
    "chunked_documents",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             string_split_regex(lower(trim(text)), '\\s+') AS ws
      FROM documents
      WHERE length(trim(text)) > 0
    ), c AS (
      SELECT doc_id, len(ws) AS n_tokens,
             unnest(generate_series(
               0,
               cast(floor((greatest(len(ws) - 64, 0) + 47) / 48.0) AS BIGINT)
             )) AS chunk_id,
             ws
      FROM t
    )
    SELECT doc_id, chunk_id,
           cast(least(64, n_tokens - chunk_id * 48) AS BIGINT)
             AS chunk_tokens,
           md5(array_to_string(
                 list_slice(ws, chunk_id * 48 + 1, chunk_id * 48 + 64),
                 ' ')) AS chunk_md5
    FROM c
    """,
)
def chunked_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window text chunking (64-token chunks, stride 48 = 16-token
    overlap) — the context-window preparation step of an LLM pipeline as
    pure JVM array expressions: tokenize once, explode a chunk-index
    sequence, slice per chunk. No UDF, no shuffle (chunking is per-row);
    the verified output is each chunk's md5 so the oracle checks exact
    chunk CONTENT without hauling the full text through the comparator.

    ceil((n-64)/48) is computed as floor((max(n-64,0)+47)/48.0) in both
    engines (small-int double division is exact)."""
    return chunk_documents_frame(T(spark, sf_dir, "documents"))


def chunk_documents_frame(
    d: DataFrame, size: int = 64, stride: int = 48
) -> DataFrame:
    """Frame-level chunker used by the query above and the scale probe:
    any DataFrame with (doc_id, text) in, (doc_id, chunk_id, chunk_tokens,
    chunk_md5) out."""
    from ..functions.text import tokens

    tok = d.select(
        "doc_id", tokens(F.lower(F.col("text"))).alias("ws")
    ).filter(F.size("ws") > 0)
    n = F.size("ws")
    last_chunk = F.floor(
        (F.greatest(n - size, F.lit(0)) + (stride - 1)) / F.lit(float(stride))
    ).cast("long")
    c = tok.select(
        "doc_id",
        n.alias("n_tokens"),
        F.explode(F.sequence(F.lit(0).cast("long"), last_chunk)).alias("chunk_id"),
        "ws",
    )
    start = (F.col("chunk_id") * stride + 1).cast("int")
    return c.select(
        "doc_id",
        "chunk_id",
        F.least(F.lit(size), F.col("n_tokens") - F.col("chunk_id") * stride)
        .cast("long")
        .alias("chunk_tokens"),
        F.md5(F.array_join(F.slice("ws", start, size), " ")).alias("chunk_md5"),
    )


# --- Temperature resampling + budgeted selection (round 3) -------------------

_TEMP_ALPHA = 0.5  # share^alpha resampling (mT5/XLM-R style, alpha=0.5)

# md5 first 6 hex chars as a uniform draw in [0, 1).
_U01_SQL = (
    "(CASE WHEN ascii(substr(md5(cast(doc_id AS VARCHAR)), 1, 1)) >= 97"
    " THEN ascii(substr(md5(cast(doc_id AS VARCHAR)), 1, 1)) - 87"
    " ELSE ascii(substr(md5(cast(doc_id AS VARCHAR)), 1, 1)) - 48 END"
    " * 1.0 / 16.0)"
    " + (CASE WHEN ascii(substr(md5(cast(doc_id AS VARCHAR)), 2, 1)) >= 97"
    " THEN ascii(substr(md5(cast(doc_id AS VARCHAR)), 2, 1)) - 87"
    " ELSE ascii(substr(md5(cast(doc_id AS VARCHAR)), 2, 1)) - 48 END"
    " * 1.0 / 256.0)"
    " + (CASE WHEN ascii(substr(md5(cast(doc_id AS VARCHAR)), 3, 1)) >= 97"
    " THEN ascii(substr(md5(cast(doc_id AS VARCHAR)), 3, 1)) - 87"
    " ELSE ascii(substr(md5(cast(doc_id AS VARCHAR)), 3, 1)) - 48 END"
    " * 1.0 / 4096.0)"
)


def _u01() -> F.Column:
    h = _h()
    digits = []
    for i, scale in ((1, 16.0), (2, 256.0), (3, 4096.0)):
        a = F.ascii(F.substring(h, i, 1))
        digits.append(
            F.when(a >= 97, a - 87).otherwise(a - 48) * 1.0 / scale
        )
    return digits[0] + digits[1] + digits[2]


@query(
    "temperature_mixture_rates",
    oracle=f"""
    WITH c AS (
      SELECT lang, count(*) AS n FROM documents GROUP BY lang
    ),
    t AS (SELECT cast(sum(n) AS BIGINT) AS total FROM c),
    r AS (
      SELECT lang, n,
             pow(n * 1.0 / t.total, {_TEMP_ALPHA} - 1.0) AS boost
      FROM c CROSS JOIN t
    ),
    m AS (SELECT max(boost) AS mb FROM r),
    rates AS (
      SELECT lang, n, r.boost / m.mb AS rate FROM r CROSS JOIN m
    )
    SELECT d.lang,
           cast(max(rates.n) AS BIGINT) AS n_total,
           floor(max(rates.rate) * 1e6) / 1e6 AS rate,
           cast(sum(CASE WHEN {_U01_SQL} < rates.rate
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM documents d JOIN rates ON rates.lang = d.lang
    GROUP BY d.lang
    """,
)
def temperature_mixture_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based language resampling (share^alpha, alpha=0.5 —
    the mT5/XLM-R recipe): per-language keep rates derived FROM the
    corpus (boost = share^(alpha-1), normalized so the rarest boosted
    language keeps 100%), applied as a deterministic md5-uniform draw.

    Plan: one tiny per-language aggregate -> rates broadcast back onto
    the corpus -> map-side keep decision -> per-language audit counts.
    Two exchanges total, both language-cardinality; the corpus-sized
    pass is a single narrow projection."""
    d = T(spark, sf_dir, "documents")
    c = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    t = c.agg(F.sum("n").alias("total"))
    r = c.crossJoin(F.broadcast(t)).select(
        "lang",
        "n",
        F.pow(F.col("n") * 1.0 / F.col("total"), _TEMP_ALPHA - 1.0).alias(
            "boost"
        ),
    )
    m = r.agg(F.max("boost").alias("mb"))
    rates = r.crossJoin(F.broadcast(m)).select(
        "lang", "n", (F.col("boost") / F.col("mb")).alias("rate")
    )
    keep = _u01() < F.col("rate")
    return (
        d.join(F.broadcast(rates), "lang")
        .groupBy("lang")
        .agg(
            F.max("n").cast("long").alias("n_total"),
            (F.floor(F.max("rate") * 1e6) / 1e6).alias("rate"),
            F.sum(keep.cast("int")).cast("long").alias("n_kept"),
        )
    )


_BUDGET_CHARS = 3000  # per-source selection budget


@query(
    "quality_budget_selection",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, source, n_chars,
             list_sum(list_transform(
               string_split_regex(trim(text), '\\s+'),
               w -> (((CASE WHEN ascii(substr(md5(w), 1, 1)) >= 97
                            THEN ascii(substr(md5(w), 1, 1)) - 87
                            ELSE ascii(substr(md5(w), 1, 1)) - 48 END) * 16
                     + (CASE WHEN ascii(substr(md5(w), 2, 1)) >= 97
                             THEN ascii(substr(md5(w), 2, 1)) - 87
                             ELSE ascii(substr(md5(w), 2, 1)) - 48 END))
                    - 127.5) / 127.5))
               / greatest(len(string_split_regex(trim(text), '\\s+')), 1)
               AS score
      FROM documents
    ),
    ranked AS (
      SELECT source, n_chars,
             sum(n_chars) OVER (PARTITION BY source
                                ORDER BY score DESC, doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum_chars
      FROM s
    )
    SELECT source,
           count(*) AS n_docs,
           cast(sum(CASE WHEN cum_chars <= {_BUDGET_CHARS}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
           cast(sum(CASE WHEN cum_chars <= {_BUDGET_CHARS}
                         THEN n_chars ELSE 0 END) AS BIGINT)
             AS chars_selected
    FROM ranked
    GROUP BY source
    """,
)
def quality_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data selection under a budget: rank documents by classifier score
    (contentfilter's hashed-weight scorer) within each source, keep the
    best until the source's character budget is exhausted — the
    greedy-selection step of a DataComp-style curation recipe.

    Plan: the cumulative sum runs per SOURCE partition (deterministic
    ORDER BY score, doc_id inside the window), so there is no global
    sort — shard-local selection exactly like packed_sequence_bins. The
    scorer is the same in-order token fold as quality_classifier_scores,
    so both engines rank identically."""
    from ..functions.text import tokens
    from .contentfilter import _token_weight

    d = T(spark, sf_dir, "documents")
    ws = tokens(F.col("text"))
    score = F.aggregate(
        F.transform(ws, _token_weight), F.lit(0.0), lambda a, v: a + v
    ) / F.greatest(F.size(ws), F.lit(1))
    s = d.select("doc_id", "source", "n_chars", score.alias("score"))
    w = (
        Window.partitionBy("source")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = s.select(
        "source", "n_chars", F.sum("n_chars").over(w).alias("cum_chars")
    )
    sel = F.col("cum_chars") <= _BUDGET_CHARS
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(sel.cast("int")).cast("long").alias("n_selected"),
        F.sum(F.when(sel, F.col("n_chars")).otherwise(0))
        .cast("long")
        .alias("chars_selected"),
    )


@query(
    "padding_efficiency_buckets",
    oracle="""
    WITH t AS (
      SELECT greatest(16, cast(pow(2, ceil(log2(
               len(string_split_regex(trim(text), '\\s+'))))) AS BIGINT))
               AS bucket,
             len(string_split_regex(trim(text), '\\s+')) AS n_tokens
      FROM documents
    )
    SELECT bucket,
           count(*) AS n_docs,
           cast(sum(n_tokens) AS BIGINT) AS total_tokens,
           cast(sum(bucket - n_tokens) AS BIGINT) AS total_padding,
           floor(sum(bucket - n_tokens) * 1e6 / sum(bucket)) / 1e6
             AS padding_frac
    FROM t
    GROUP BY bucket
    """,
)
def padding_efficiency_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching audit: documents grouped into
    power-of-two token buckets (floor 16), reporting the padding a
    pad-to-bucket batcher wastes per bucket — the measurement that
    decides between bucketed batching and full sequence packing
    (packed_sequence_bins). Narrow projection + bucket-cardinality
    aggregate; nothing corpus-sized shuffles."""
    from ..functions.text import tokens

    n = F.size(tokens(F.col("text")))
    bucket = F.greatest(
        F.lit(16), F.pow(F.lit(2), F.ceil(F.log2(n))).cast("long")
    )
    t = T(spark, sf_dir, "documents").select(
        bucket.alias("bucket"), n.alias("n_tokens")
    )
    return t.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum(F.col("bucket") - F.col("n_tokens"))
        .cast("long")
        .alias("total_padding"),
        (
            F.floor(
                F.sum(F.col("bucket") - F.col("n_tokens"))
                * 1e6
                / F.sum("bucket")
            )
            / 1e6
        ).alias("padding_frac"),
    )


# --- BPE tokenizer induction (rows-only: bounded iterative algorithm) ----
#
# Genuinely non-SQL-expressible (k data-dependent argmax+rewrite rounds),
# BPE training is iterative (each merge depends on all earlier merges),
# so the sequence is not SQL-expressible — but it IS deterministic:
# (count DESC, pair ASC) tie-break + greedy left-to-right merges make the
# trained vocabulary a build artifact. The oracle therefore embeds the
# EXPECTED merge table, computed by the plain-Python Sennrich-style
# reference implementation (operators/bpe.py::reference_bpe — the same
# ground truth tests/test_bpe.py asserts exact parity against), keyed by
# a corpus fingerprint DuckDB recomputes itself: if the corpus is one of
# the two gate corpora (sf0.001 / sf0.01, deterministic seed=42 per
# TESTDATA.md) the join selects that corpus's 12 merges; any other
# corpus yields zero oracle rows and fails LOUDLY on rowcount.

_BPE_EXPECTED = {
    # corpus fingerprint -> ranked (left, right, merged, pair_count)
    "aa074f00b74908fb682780fbab8a3f19": [  # sf0.001
        ("e", "r", "er", 4650),
        ("e", "</w>", "e</w>", 4644),
        ("n", "</w>", "n</w>", 2898),
        ("o", "r", "or", 2880),
        ("t", "</w>", "t</w>", 2850),
        ("er", "</w>", "er</w>", 2781),
        ("o", "w", "ow", 2763),
        ("ow", "</w>", "ow</w>", 2763),
        ("l", "u", "lu", 1928),
        ("i", "n", "in", 1922),
        ("y", "</w>", "y</w>", 1879),
        ("a", "r", "ar", 1873),
    ],
    "14b62b764eabee1ddecb450507beff94": [  # sf0.01
        ("e", "r", "er", 4568),
        ("e", "</w>", "e</w>", 4473),
        ("n", "</w>", "n</w>", 2834),
        ("er", "</w>", "er</w>", 2779),
        ("o", "w", "ow", 2747),
        ("ow", "</w>", "ow</w>", 2747),
        ("o", "r", "or", 2696),
        ("s", "t", "st", 2676),
        ("h", "</w>", "h</w>", 1884),
        ("a", "t", "at", 1845),
        ("l", "u", "lu", 1831),
        ("i", "n", "in", 1796),
    ],
}

_BPE_FP_SQL = """
      SELECT md5(string_agg(doc_id::VARCHAR || ':' || md5(text),
                            '|' ORDER BY doc_id)) AS h
      FROM documents
"""


def _bpe_expected_values() -> str:
    rows = []
    for h, merges in _BPE_EXPECTED.items():
        for rank, (le, ri, me, pc) in enumerate(merges, 1):
            rows.append(f"('{h}', {rank}, '{le}', '{ri}', '{me}', {pc})")
    return ",\n      ".join(rows)


_BPE_EXPECTED_ORACLE = f"""
    WITH fp AS ({_BPE_FP_SQL}),
    expected(corpus_hash, rank, l, r, merged, pair_count) AS (VALUES
      {_bpe_expected_values()}
    )
    SELECT cast(rank AS INTEGER) AS rank,
           l AS left, r AS right, merged,
           cast(pair_count AS BIGINT) AS pair_count
    FROM expected JOIN fp ON corpus_hash = fp.h
    ORDER BY rank
    """


@query("bpe_train_merges", oracle=_BPE_EXPECTED_ORACLE)
def bpe_train_merges_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn 12 BPE merges from the documents corpus; returns the ranked
    merge table (operators/bpe.py — word-frequency table is the only
    corpus-scale shuffle, merge loop runs on the bounded vocab)."""
    from ..catalog import fan_out_scan
    from ..operators.bpe import merges_to_df, train_bpe_merges

    docs = fan_out_scan(T(spark, sf_dir, "documents"))
    merges = train_bpe_merges(docs, num_merges=12)
    return merges_to_df(spark, merges).orderBy("rank")


# --- Wave 83 (r7): BPE ENCODE — the apply step closing the train loop -----
#
# Applying a merge list is a chain of plain substring replaces once the
# symbol stream uses a DOUBLE-space separator with single-space borders
# (" h  e  l  l  o</w> "): the pattern " l  r " consumes one of the two
# separator spaces on each side, so the remnant keeps its border space and
# consecutive occurrences still match in the SAME left-to-right pass —
# reproducing greedy BPE ("e e e" -> "ee e") with NO regex lookarounds,
# which is what makes the oracle expressible in DuckDB (RE2 has no
# lookbehind; the engine-side regex encoder in operators/bpe.py could
# never be replayed there). Merges cannot fire across word boundaries
# because every left symbol inside a word never ends in </w>. Token count
# falls out of the invariant spaces == 2 * symbols, maintained by every
# replacement (4 spaces out, 2 in, net -2 per merge occurrence).
#
# The oracle dispatches on the same corpus fingerprint as bpe_train_merges
# and replays the SAME replace chain with that corpus's literal merge
# table; an unknown corpus encodes to NULL and fails loudly.


def _bpe_sql_quote(s: str) -> str:
    return s.replace("'", "''")


def _bpe_chain_sql(col: str, merges) -> str:
    expr = col
    for le, ri, me, _pc in merges:
        expr = (
            f"replace({expr}, ' {_bpe_sql_quote(le)}  {_bpe_sql_quote(ri)} ',"
            f" ' {_bpe_sql_quote(me)} ')"
        )
    return expr


def _bpe_encode_oracle() -> str:
    arms = "\n             ".join(
        f"WHEN '{h}' THEN {_bpe_chain_sql('stream', merges)}"
        for h, merges in _BPE_EXPECTED.items()
    )
    return f"""
    WITH fp AS ({_BPE_FP_SQL}),
    d AS (
      SELECT source,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x != '') AS words
      FROM documents
    ),
    s AS (
      SELECT source, cast(len(words) AS BIGINT) AS n_words,
             ' ' || array_to_string(list_transform(words,
                 w -> array_to_string(list_append(
                        list_transform(range(1, len(w) + 1),
                                       i -> substr(w, i, 1)),
                        '</w>'), '  ')), '  ') || ' ' AS stream
      FROM d
    ),
    enc AS (
      SELECT source, n_words,
             CASE (SELECT h FROM fp)
             {arms}
             END AS es
      FROM s
    ),
    tok AS (
      SELECT source, n_words,
             CASE WHEN n_words = 0 THEN 0
                  ELSE cast((len(es) - len(replace(es, ' ', ''))) / 2
                            AS BIGINT) END AS n_bpe
      FROM enc
    )
    SELECT source,
           cast(count(*) AS BIGINT) AS n_docs,
           cast(sum(n_words) AS BIGINT) AS total_words,
           cast(sum(n_bpe) AS BIGINT) AS total_bpe_tokens,
           floor(sum(n_bpe) * 1e6 / sum(n_words)) / 1e6 AS bpe_per_word
    FROM tok GROUP BY source
    """


@query(
    "bpe_encode_token_stats",
    oracle=_bpe_encode_oracle(),
)
def bpe_encode_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODE over the corpus with the merges trained by
    ``bpe_train_merges`` — the apply step every token-budget computation
    needs (train once, tokenize 100 TB): per source, whitespace words,
    BPE token count after 12 merges, and tokens-per-word. The encode is
    a chain of 12 plain substring replaces over the double-space symbol
    stream (see the module comment for why that reproduces greedy BPE
    and stays RE2-replayable), all whole-stage-codegen JVM string ops —
    zero Python, zero shuffles beyond the final source rollup; the
    trained merge table rides into the plan as literals exactly like
    the LSH planes and PQ codebooks. Spark trains LIVE from the corpus;
    DuckDB replays the identical chain from the fingerprint-keyed
    literal merge table, so training and application are BOTH pinned
    end-to-end (a drifted merge changes token counts and fails the
    hash). pytest pins this encoder byte-equivalent to the regex
    encoder in operators/bpe.py (tests/test_bpe.py)."""
    from ..catalog import fan_out_scan
    from ..operators.bpe import END_OF_WORD, train_bpe_merges

    docs = fan_out_scan(
        T(spark, sf_dir, "documents").select("doc_id", "source", "text")
    )
    merges = train_bpe_merges(docs, num_merges=12)
    words = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda s: s != ""
    )
    inner = F.transform(
        words,
        lambda w: F.concat_ws(
            "  ",
            F.concat(
                F.split(w, r"(?!^)(?=.)"), F.array(F.lit(END_OF_WORD))
            ),
        ),
    )
    stream = F.concat(F.lit(" "), F.concat_ws("  ", inner), F.lit(" "))
    for m in merges:
        stream = F.replace(
            stream,
            F.lit(f" {m['left']}  {m['right']} "),
            F.lit(f" {m['merged']} "),
        )
    n_sym = (
        (
            F.length(stream)
            - F.length(F.replace(stream, F.lit(" "), F.lit("")))
        )
        / 2
    ).cast("long")
    per_doc = docs.select(
        "source",
        F.size(words).cast("long").alias("n_words"),
        F.when(F.size(words) == 0, F.lit(0).cast("long"))
        .otherwise(n_sym)
        .alias("n_bpe"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").cast("long").alias("total_words"),
        F.sum("n_bpe").cast("long").alias("total_bpe_tokens"),
        (F.floor(F.sum("n_bpe") * 1e6 / F.sum("n_words")) / 1e6).alias(
            "bpe_per_word"
        ),
    )


@query(
    "class_balance_weights",
    oracle="""
    WITH c AS (
      SELECT label, count(*) AS n FROM embeddings GROUP BY label
    ),
    t AS (SELECT sum(n) AS total, count(*) AS k FROM c)
    SELECT label,
           cast(n AS BIGINT) AS n,
           floor(t.total::DOUBLE / (t.k::DOUBLE * n::DOUBLE) * 1e6) / 1e6
             AS class_weight,
           floor(n::DOUBLE * (t.total::DOUBLE / (t.k::DOUBLE * n::DOUBLE))
                 * 1e6) / 1e6 AS effective_rows
    FROM c, t
    """,
)
def class_balance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-frequency class rebalancing weights (sklearn's 'balanced'
    rule: w_c = N / (k * n_c)) for the labeled embedding set — the
    sample-weight table a trainer joins in so each class contributes
    equal effective mass without resampling. effective_rows (n_c * w_c)
    is constant across classes by construction, which the oracle's
    value-hash pins cross-engine.

    One count aggregation + a broadcast totals scalar; the weight table
    is |classes| rows and broadcasts back onto the training set."""
    e = T(spark, sf_dir, "embeddings")
    c = e.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    t = c.agg(F.sum("n").alias("total"), F.count(F.lit(1)).alias("k"))
    trunc6 = lambda x: F.floor(x * 1e6) / 1e6  # noqa: E731
    w = F.col("total").cast("double") / (
        F.col("k").cast("double") * F.col("n").cast("double")
    )
    return c.crossJoin(F.broadcast(t)).select(
        "label",
        F.col("n").cast("long").alias("n"),
        trunc6(w).alias("class_weight"),
        trunc6(F.col("n").cast("double") * w).alias("effective_rows"),
    )


_GKF_FOLDS = 5


@query(
    "grouped_fold_assignment",
    oracle=f"""
    WITH f AS (
      SELECT doc_id, source,
             (strpos('0123456789abcdef',
                substr(md5(source || '|fold'), 1, 1)) - 1) % {_GKF_FOLDS}
               AS fold
      FROM documents
    )
    SELECT fold,
           cast(count(*) AS BIGINT) AS n_docs,
           cast(count(DISTINCT source) AS BIGINT) AS n_sources
    FROM f GROUP BY fold
    """,
)
def grouped_fold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware cross-validation folds (GroupKFold semantics): the
    fold is a hash of the GROUP (source), not the row, so every document
    from one source lands in the same fold and near-duplicate documents
    within a source can never leak across the train/validation boundary
    — the split discipline that makes eval numbers on dedup-adjacent
    data honest. Deterministic md5 assignment: reproducible across
    retries, engines, and cluster sizes, with zero shuffles before the
    fold-size rollup.

    The zero-leakage property (no source spans folds) is pinned in
    pytest; the fold-size table here is what a training job logs."""
    d = T(spark, sf_dir, "documents")
    fold = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("source"), F.lit("|fold"))), 1, 1
            ),
            16,
            10,
        ).cast("int")
        % _GKF_FOLDS
    )
    return (
        d.select("doc_id", "source", fold.alias("fold"))
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("source").cast("long").alias("n_sources"),
        )
    )


_HEX8_MANIFEST_SQL = (
    "list_sum(list_transform(range(1, 9), k ->"
    " (strpos('0123456789abcdef', substr({h}, k, 1)) - 1)"
    " * (1::BIGINT << (4 * (8 - k)))))"
)


@query(
    "training_shard_manifest",
    oracle=f"""
    WITH s AS (
      SELECT ({_HEX8_MANIFEST_SQL.format(h="md5(cast(doc_id AS VARCHAR))")}) % 64
               AS shard,
             doc_id, n_chars,
             {_HEX8_MANIFEST_SQL.format(h="md5(text)")} AS content_h
      FROM documents
    )
    SELECT cast(shard AS BIGINT) AS shard,
           cast(count(*) AS BIGINT) AS n_docs,
           cast(sum(n_chars) AS BIGINT) AS total_chars,
           cast(min(doc_id) AS BIGINT) AS min_doc_id,
           cast(max(doc_id) AS BIGINT) AS max_doc_id,
           cast(sum(content_h) AS BIGINT) AS content_checksum
    FROM s GROUP BY 1
    """,
)
def training_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-export manifest: deterministic md5 shard assignment
    (64 shards) with per-shard document count, character volume, id
    range, and an ORDER-INDEPENDENT content checksum (the sum of each
    document's 32-bit md5-prefix integer — commutative, so the checksum
    is identical no matter how partitions aggregate, yet any dropped,
    duplicated, or altered document changes it). This is the handoff
    artifact a training job verifies before consuming shards, and the
    idempotence receipt for re-runs: same corpus -> byte-identical
    manifest.

    At 100 TB: pure map-side hashing feeding a 64-group partial/final
    aggregate — the manifest never exceeds 64 rows regardless of corpus
    size, and hash-stable shard assignment means a grown corpus only
    APPENDS to shards (no reshuffling of previously-exported docs).
    Checksum overflow headroom: 32-bit terms summed into int64 leave
    2^31 documents per shard before wrap — and wrap-around would still
    be deterministic on both engines."""
    d = T(spark, sf_dir, "documents")
    h8 = lambda c: F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast(  # noqa: E731
        "long"
    )
    s = d.select(
        (h8(F.col("doc_id").cast("string")) % 64).alias("shard"),
        "doc_id",
        "n_chars",
        h8(F.col("text")).alias("content_h"),
    )
    return s.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.min("doc_id").cast("long").alias("min_doc_id"),
        F.max("doc_id").cast("long").alias("max_doc_id"),
        F.sum("content_h").cast("long").alias("content_checksum"),
    )


@query(
    "temporal_split_audit",
    oracle="""
    WITH s AS (
      SELECT CASE WHEN ts < TIMESTAMP '2024-01-15' THEN 'train'
                  WHEN ts < TIMESTAMP '2024-01-22' THEN 'val'
                  ELSE 'test' END AS split,
             user_id, ts
      FROM events
    ), base AS (
      SELECT split,
             cast(count(*) AS BIGINT) AS n_events,
             cast(count(DISTINCT user_id) AS BIGINT) AS n_users,
             min(ts) AS min_ts, max(ts) AS max_ts
      FROM s GROUP BY 1
    ), leak AS (
      SELECT split, cast(count(*) AS BIGINT) AS users_seen_in_train
      FROM (
        SELECT DISTINCT s.split, s.user_id
        FROM s JOIN (SELECT DISTINCT user_id FROM s WHERE split = 'train') t
          ON t.user_id = s.user_id
        WHERE s.split <> 'train'
      ) GROUP BY 1
    )
    SELECT b.split, b.n_events, b.n_users, b.min_ts, b.max_ts,
           coalesce(l.users_seen_in_train, 0) AS users_seen_in_train,
           floor(coalesce(l.users_seen_in_train, 0)::DOUBLE
                 / b.n_users * 1e6) / 1e6 AS user_overlap_share
    FROM base b LEFT JOIN leak l ON l.split = b.split
    """,
)
def temporal_split_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal train/val/test split audit — the time-ordered discipline
    for forecasting / recommendation eval (future data must never train
    the past), shown WITH its cost: per split, the event/user counts and
    time span prove the boundaries are clean (max_ts(train) < all val
    timestamps), while users_seen_in_train quantifies the USER-level
    overlap a purely temporal split retains — the number grouped/hash
    splits (train_val_test_split, grouped_fold_assignment) drive to
    zero. A pipeline picks per task; this query is the evidence either
    way.

    Plan: map-side split label, one aggregate per split + one distinct
    semi-join for the overlap — two key shuffles total, |splits| output
    rows."""
    ev = T(spark, sf_dir, "events")
    split = (
        F.when(
            F.col("ts") < F.lit("2024-01-15").cast("timestamp"), "train"
        )
        .when(F.col("ts") < F.lit("2024-01-22").cast("timestamp"), "val")
        .otherwise("test")
    )
    s = ev.select(split.alias("split"), "user_id", "ts").localCheckpoint()
    base = s.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
    )
    train_users = (
        s.filter(F.col("split") == "train").select("user_id").distinct()
    )
    leak = (
        s.filter(F.col("split") != "train")
        .select("split", "user_id")
        .distinct()
        # train_users is DATA-SIZED (user-scaled): no hint, AQE decides
        .join(train_users, "user_id", "left_semi")
        .groupBy("split")
        .agg(F.count(F.lit(1)).cast("long").alias("users_seen_in_train"))
        .withColumnRenamed("split", "ls")
    )
    return (
        base.join(leak, F.col("split") == F.col("ls"), "left")
        .select(
            "split",
            "n_events",
            "n_users",
            "min_ts",
            "max_ts",
            F.coalesce("users_seen_in_train", F.lit(0))
            .cast("long")
            .alias("users_seen_in_train"),
            (
                F.floor(
                    F.coalesce("users_seen_in_train", F.lit(0)).cast("double")
                    / F.col("n_users")
                    * 1e6
                )
                / 1e6
            ).alias("user_overlap_share"),
        )
    )


# --- Leave-one-out target encoding -------------------------------------------

_TE_SMOOTH = 20  # pseudo-observations pulled toward the global prior


@query(
    "loo_target_encoding",
    oracle=f"""
    WITH d AS (
      SELECT o_orderkey, o_orderpriority AS cat,
             cast(round(o_totalprice * 100) AS BIGINT) AS y
      FROM orders
    ),
    c AS (
      SELECT cat, count(*) AS n_c, cast(sum(y) AS BIGINT) AS s_c
      FROM d GROUP BY 1
    ),
    g AS (
      SELECT cast(sum(y) AS BIGINT)::DOUBLE / count(*)::DOUBLE AS prior
      FROM d
    )
    SELECT d.o_orderkey, d.cat, d.y AS y_cents,
           CASE WHEN c.n_c > 1 THEN
             floor((c.s_c - d.y)::DOUBLE / (c.n_c - 1)::DOUBLE * 1e6) / 1e6
           END AS loo_enc,
           floor(((c.s_c - d.y)::DOUBLE + {_TE_SMOOTH}.0::DOUBLE * g.prior)
                 / (c.n_c - 1 + {_TE_SMOOTH})::DOUBLE * 1e6) / 1e6
             AS smooth_enc
    FROM d JOIN c USING (cat) CROSS JOIN g
    """,
)
def loo_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of a categorical feature — the
    leakage-safe way to turn a high-cardinality category into a numeric
    feature: each row's encoding is the mean target of its category
    EXCLUDING the row itself ((S_c - y_i)/(n_c - 1)), plus a smoothed
    variant that shrinks small categories toward the global prior with
    20 pseudo-observations (the CatBoost/Micci-Barreca scheme). Encoding
    with the row included leaks the label into the feature; the oracle
    value-pins the exclusion arithmetic row by row.

    Plan: one category aggregate (broadcast back — category tables are
    tiny even at 100 TB cardinalities) + one global scalar; the
    per-row encoding is then a map-side expression, so the whole
    operator costs one small shuffle regardless of data size. Targets
    are exact integer cents (sums stay < 2^63 here; the decimal(38,0)
    escalation in order_price_multiple_ols covers the squared-moment
    case), quotients floor-truncated at 6 dp — a rational of integers
    lands on exact decimal halves where engine round() semantics
    diverge."""
    d = T(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("cat"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("y"),
    )
    c = d.groupBy("cat").agg(
        F.count(F.lit(1)).alias("n_c"),
        F.sum("y").cast("long").alias("s_c"),
    )
    g = d.agg(
        (
            F.sum("y").cast("long").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("prior")
    )
    trunc6 = lambda x: F.floor(x * 1e6) / 1e6  # noqa: E731
    loo = (F.col("s_c") - F.col("y")).cast("double") / (
        F.col("n_c") - 1
    ).cast("double")
    smooth = (
        (F.col("s_c") - F.col("y")).cast("double")
        + F.lit(float(_TE_SMOOTH)) * F.col("prior")
    ) / (F.col("n_c") - 1 + _TE_SMOOTH).cast("double")
    return (
        d.join(F.broadcast(c), "cat")
        .crossJoin(F.broadcast(g))
        .select(
            "o_orderkey",
            "cat",
            F.col("y").alias("y_cents"),
            F.when(F.col("n_c") > 1, trunc6(loo)).alias("loo_enc"),
            trunc6(smooth).alias("smooth_enc"),
        )
    )


# --- Quantile normalization --------------------------------------------------


@query(
    "quantile_normalize_doclen",
    oracle="""
    WITH d AS (SELECT doc_id, lang, n_chars FROM documents),
    r AS (
      SELECT doc_id, lang, n_chars,
             row_number() OVER (
               PARTITION BY lang ORDER BY n_chars, doc_id
             ) AS r,
             count(*) OVER (PARTITION BY lang) AS n_g
      FROM d
    ),
    p AS (
      SELECT n_chars AS v,
             row_number() OVER (ORDER BY n_chars, doc_id) AS rk
      FROM d
    ),
    n AS (SELECT count(*) AS n FROM d)
    SELECT r.doc_id, r.lang, r.n_chars,
           p.v AS normalized_chars
    FROM r CROSS JOIN n
    JOIN p ON p.rk = ((2 * r.r - 1) * n.n + 2 * r.n_g - 1) // (2 * r.n_g)
    """,
)
def quantile_normalize_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of document length across languages — the
    microarray-normalization classic as feature prep: every document's
    n_chars is replaced by the POOLED-distribution value at its
    within-language quantile, so after the transform every language has
    (as nearly as ranks allow) the same length distribution. The whole
    operator is INTEGER arithmetic end to end: within-group rank r of
    n_g maps to pooled rank k = ceil((2r-1)/(2n_g) * N) computed as
    ((2r-1)N + 2n_g - 1) DIV (2n_g) — no float quantile anywhere — and
    the k-th pooled order statistic is looked up exactly.

    The scale move: the oracle finds the order statistic by globally
    ranking every row (fine for DuckDB, a full sort at 100 TB); the
    Spark plan instead builds the VALUE-BIN cumulative table — one
    (n_chars, count) aggregate whose size is bounded by the value range,
    not the row count (the quantity_weighted_median_price argument) —
    and resolves k via an interval join against that broadcast-sized
    table: cum - cnt < k <= cum. The green oracle row value-proves the
    bin lookup equal to the explicit global-sort order statistic for
    every single row. Within-group ranks keep one window partitioned by
    language (per-group total order is the operator's semantic
    contract; a skewed group would get the same bin treatment)."""
    d = T(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    r = d.select(
        "doc_id",
        "lang",
        "n_chars",
        F.row_number()
        .over(Window.partitionBy("lang").orderBy("n_chars", "doc_id"))
        .alias("r"),
        F.count(F.lit(1))
        .over(Window.partitionBy("lang"))
        .alias("n_g"),
    )
    n = d.agg(F.count(F.lit(1)).alias("n"))
    bins = (
        d.groupBy(F.col("n_chars").alias("v"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "v",
            "cnt",
            F.sum("cnt").over(Window.orderBy("v")).alias("cum"),
        )
    )
    rows = r.crossJoin(F.broadcast(n)).selectExpr(
        "doc_id",
        "lang",
        "n_chars",
        "((2 * r - 1) * n + 2 * n_g - 1) DIV (2 * n_g) AS k",
    )
    return (
        rows.join(
            F.broadcast(bins),
            (F.col("k") > F.col("cum") - F.col("cnt"))
            & (F.col("k") <= F.col("cum")),
        )
        .select(
            "doc_id", "lang", "n_chars", F.col("v").alias("normalized_chars")
        )
    )


# --- Weight-of-evidence binning ----------------------------------------------


@query(
    "woe_value_bins",
    oracle="""
    WITH e AS (
      SELECT least(floor(value / 50.0::DOUBLE), 9)::BIGINT AS bin,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    ),
    b AS (
      SELECT bin, count(*) AS n,
             cast(sum(y) AS BIGINT) AS pos,
             cast(count(*) - sum(y) AS BIGINT) AS neg
      FROM e GROUP BY 1
    ),
    t AS (
      SELECT cast(sum(pos) AS BIGINT) AS gp, cast(sum(neg) AS BIGINT) AS gn
      FROM b
    )
    SELECT b.bin, b.n, b.pos, b.neg,
           round(ln(((b.pos::DOUBLE + 0.5::DOUBLE) / t.gp::DOUBLE)
                    / ((b.neg::DOUBLE + 0.5::DOUBLE) / t.gn::DOUBLE)), 6)
             AS woe,
           round((b.pos::DOUBLE / t.gp::DOUBLE
                  - b.neg::DOUBLE / t.gn::DOUBLE)
                 * ln(((b.pos::DOUBLE + 0.5::DOUBLE) / t.gp::DOUBLE)
                      / ((b.neg::DOUBLE + 0.5::DOUBLE) / t.gn::DOUBLE)), 6)
             + 0.0::DOUBLE AS iv_term
    FROM b CROSS JOIN t
    """,
)
def woe_value_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence binning — the credit-scoring encoding that
    expresses each feature bin as the log-odds shift it carries:
    WOE = ln((pos_share)/(neg_share)) per fixed-width value bin (0.5
    Yates adjustment inside the log so empty bins stay finite), with
    the per-bin Information Value term whose sum screens the feature
    for predictive power (IV < 0.02 = useless is the standard rule).
    The categorical-target sibling of loo_target_encoding: WOE feeds
    scorecards/monotone models, LOO feeds gradient machines.

    One map-side binning + one (bin) aggregate + one broadcast total:
    shuffle bounded by the bin count. Every share is a ratio of exact
    integer counts; ln runs on identical doubles (bit-stable cross-
    engine, the bigram-LM precedent) and rounds at 6 dp — log outputs
    never land on exact decimal halves, unlike the rationals trunc6
    exists for."""
    e = T(spark, sf_dir, "events").select(
        F.least(F.floor(F.col("value") / 50.0), F.lit(9))
        .cast("long")
        .alias("bin"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    b = e.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").cast("long").alias("pos"),
        (F.count(F.lit(1)) - F.sum("y")).cast("long").alias("neg"),
    )
    t = b.agg(
        F.sum("pos").cast("long").alias("gp"),
        F.sum("neg").cast("long").alias("gn"),
    )
    ps = F.col("pos").cast("double") / F.col("gp").cast("double")
    ns = F.col("neg").cast("double") / F.col("gn").cast("double")
    # Yates 0.5 adjustment inside the log keeps empty bins finite (a
    # value bin with zero purchases at small sf would be ln(0))
    woe = F.log(
        ((F.col("pos").cast("double") + 0.5) / F.col("gp").cast("double"))
        / ((F.col("neg").cast("double") + 0.5) / F.col("gn").cast("double"))
    )
    return b.crossJoin(F.broadcast(t)).select(
        "bin",
        "n",
        "pos",
        "neg",
        F.round(woe, 6).alias("woe"),
        (F.round((ps - ns) * woe, 6) + 0.0).alias("iv_term"),
    )


# --- Iterative proportional fitting (corpus raking) --------------------------

_IPF_ROUNDS = 4  # full row+column rounds


def _ipf_oracle() -> str:
    """Chained-CTE IPF: alternating row/column scaling to uniform
    margins, each half-step rounded at 9 dp (tiny-group float sums can
    still differ in order across engines)."""
    ctes = [
        """c0 AS MATERIALIZED (
      SELECT lang, source, count(*) AS n,
             count(*)::DOUBLE AS w
      FROM documents GROUP BY 1, 2
    )""",
        """t AS MATERIALIZED (
      SELECT sum(n)::DOUBLE / count(DISTINCT lang)::DOUBLE AS t_lang,
             sum(n)::DOUBLE / count(DISTINCT source)::DOUBLE AS t_src
      FROM c0
    )""",
    ]
    prev = "c0"
    for k in range(1, _IPF_ROUNDS + 1):
        ctes.append(f"""r{k} AS MATERIALIZED (
      SELECT p.lang, p.source, p.n,
             round(p.w * (t.t_lang / m.s), 9) AS w
      FROM {prev} p
      JOIN (SELECT lang, sum(w) AS s FROM {prev} GROUP BY 1) m
        ON m.lang = p.lang
      CROSS JOIN t
    )""")
        ctes.append(f"""s{k} AS MATERIALIZED (
      SELECT p.lang, p.source, p.n,
             round(p.w * (t.t_src / m.s), 9) AS w
      FROM r{k} p
      JOIN (SELECT source, sum(w) AS s FROM r{k} GROUP BY 1) m
        ON m.source = p.source
      CROSS JOIN t
    )""")
        prev = f"s{k}"
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT lang, source, cast(n AS BIGINT) AS n_docs,
           round(w, 6) AS weight,
           round(w / n::DOUBLE, 6) AS per_doc_weight
    FROM {prev}
    """
    )


@query(
    "ipf_mixture_raking",
    oracle=_ipf_oracle(),
)
def ipf_mixture_raking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative proportional fitting (Deming-Stephan raking) of the
    (language, source) corpus cell table to UNIFORM language and source
    margins — the multi-axis generalization of temperature mixture
    resampling: when a training mix must hit target shares on several
    attributes AT ONCE, per-axis reweighting can't do it, and IPF's
    alternating row/column scaling converges to the unique
    minimum-KL-divergence cell weights satisfying both margins. Output:
    per-cell total weight and the per-document sampling weight a
    downstream loader applies.

    State is the CELL table (|langs| x |sources| rows — margin-bounded,
    never data-bounded), so each of the 4 full rounds is two aggregates
    and two broadcast joins over a handful of rows; the corpus is
    touched exactly once to build the counts. Every half-step's weights
    are rounded at 9 dp (tiny-group sums still have engine-dependent
    order) and the whole 8-half-step trajectory is value-verified by
    the chained-CTE oracle, MATERIALIZED per the k-core lesson."""
    c = (
        T(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("lang", "source", "n", F.col("n").cast("double").alias("w"))
        .localCheckpoint()
    )
    t = F.broadcast(
        c.agg(
            (
                F.sum("n").cast("double")
                / F.countDistinct("lang").cast("double")
            ).alias("t_lang"),
            (
                F.sum("n").cast("double")
                / F.countDistinct("source").cast("double")
            ).alias("t_src"),
        ).localCheckpoint()
    )
    cur = c
    for _ in range(_IPF_ROUNDS):
        rowm = cur.groupBy("lang").agg(F.sum("w").alias("s"))
        cur = (
            cur.join(F.broadcast(rowm), "lang")
            .crossJoin(t)
            .select(
                "lang",
                "source",
                "n",
                F.round(
                    F.col("w") * (F.col("t_lang") / F.col("s")), 9
                ).alias("w"),
            )
        )
        colm = cur.groupBy("source").agg(F.sum("w").alias("s"))
        cur = iter_checkpoint(
            cur.join(F.broadcast(colm), "source")
            .crossJoin(t)
            .select(
                "lang",
                "source",
                "n",
                F.round(
                    F.col("w") * (F.col("t_src") / F.col("s")), 9
                ).alias("w"),
            )
        )
    return cur.select(
        "lang",
        "source",
        F.col("n").cast("long").alias("n_docs"),
        F.round("w", 6).alias("weight"),
        F.round(F.col("w") / F.col("n").cast("double"), 6).alias(
            "per_doc_weight"
        ),
    )


# --- Wave 37: importance-resampling data selection ---------------------------

_DSIR_BUCKETS = 64

# DuckDB twin of Spark's conv(substring(md5(x),1,6),16,10) — digit-fold
# parity verified in plans/sketches.py / plans/survival.py.
_DSIR_HEX6 = (
    "list_sum(list_transform(range(1, 7), k ->"
    " (strpos('0123456789abcdef', substr(md5({x}), k, 1)) - 1)"
    " * (1 << (4 * (6 - k)))))"
)

_DSIR_ORACLE = r"""
WITH t AS (
  SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS ws
  FROM documents WHERE length(trim(text)) > 0
),
tok AS (
  SELECT doc_id, lang, ({hex6}) % {nb} AS b
  FROM (SELECT doc_id, lang, unnest(ws) AS w FROM t)
),
tc AS (SELECT b, count(*) AS c FROM tok WHERE lang = 'en' GROUP BY 1),
rc AS (SELECT b, count(*) AS c FROM tok GROUP BY 1),
tt AS (SELECT cast(count(*) AS BIGINT) AS n FROM tok WHERE lang = 'en'),
rt AS (SELECT cast(count(*) AS BIGINT) AS n FROM tok),
lr AS (
  SELECT rc.b,
         cast(round((ln((coalesce(tc.c, 0)::DOUBLE + 1.0::DOUBLE)
                        / (tt.n::DOUBLE + {nb}.0::DOUBLE))
                     - ln((rc.c::DOUBLE + 1.0::DOUBLE)
                          / (rt.n::DOUBLE + {nb}.0::DOUBLE)))
                    * 1000000000.0::DOUBLE) AS BIGINT) AS lri
  FROM rc LEFT JOIN tc ON tc.b = rc.b CROSS JOIN tt CROSS JOIN rt
),
db AS (SELECT doc_id, b, count(*) AS cnt FROM tok GROUP BY 1, 2),
sc AS (
  SELECT db.doc_id,
         cast(sum(db.cnt * lr.lri) AS BIGINT) AS si,
         cast(sum(db.cnt) AS BIGINT) AS ntok
  FROM db JOIN lr ON lr.b = db.b GROUP BY 1
)
SELECT sc.doc_id, d.lang, ntok AS n_tokens,
       round(si::DOUBLE / 1000000000.0::DOUBLE, 6) AS dsir_score
FROM sc JOIN t d ON d.doc_id = sc.doc_id
ORDER BY si DESC, sc.doc_id ASC LIMIT 20
""".format(hex6=_DSIR_HEX6.format(x="w"), nb=_DSIR_BUCKETS)


@query(
    "dsir_importance_topk",
    oracle=_DSIR_ORACLE,
)
def dsir_importance_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al. 2023)
    scores: rank raw-corpus documents by how target-like their hashed
    n-gram profile is. Features are unigrams hashed to 64 md5 buckets;
    each bucket carries the add-1-smoothed log-likelihood ratio
    ln(p_target/p_raw) (target = the 'en' slice standing in for a
    high-quality target corpus), and a document's importance weight is
    the count-weighted sum of its buckets' ratios — the score DSIR
    resamples against when composing pretraining mixtures. Top 20 here;
    the full-score table is the real product.

    Determinism at scale: per-bucket log-ratios are computed once from
    exact integer counts, scaled to 1e-9-granular INTEGERS, and every
    per-document score is an exact integer dot product — no float sum
    ever crosses a partial-aggregation boundary, so partial/final order
    can't move a score (the fixed-point lesson applied to importance
    weighting). Plan: one token pass fans out, two bounded aggregates
    (64 buckets), a broadcast join of the 64-row ratio table, one
    groupBy(doc), TakeOrdered(20) on the integer score."""
    from ..catalog import fan_out_scan
    from ..functions.text import tokens

    d = fan_out_scan(
        T(spark, sf_dir, "documents")
        .filter(F.length(F.trim(F.col("text"))) > 0)
        .select("doc_id", "lang", "text")
    )
    tok = d.select(
        "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("w")
    ).select(
        "doc_id",
        "lang",
        (
            F.conv(F.substring(F.md5(F.col("w")), 1, 6), 16, 10).cast("long")
            % _DSIR_BUCKETS
        ).alias("b"),
    )
    tok = tok.localCheckpoint()
    tc = tok.filter(F.col("lang") == "en").groupBy("b").agg(
        F.count(F.lit(1)).alias("tc")
    )
    rc = tok.groupBy("b").agg(F.count(F.lit(1)).alias("rc"))
    tt = tok.filter(F.col("lang") == "en").count()
    rt = tok.count()
    nb = float(_DSIR_BUCKETS)
    lr = (
        rc.join(tc, "b", "left")
        .select(
            "b",
            F.round(
                (
                    F.log(
                        (F.coalesce(F.col("tc"), F.lit(0)).cast("double") + 1.0)
                        / F.lit(float(tt) + nb)
                    )
                    - F.log(
                        (F.col("rc").cast("double") + 1.0)
                        / F.lit(float(rt) + nb)
                    )
                )
                * 1e9
            )
            .cast("long")
            .alias("lri"),
        )
    )
    db = tok.groupBy("doc_id", "b").agg(F.count(F.lit(1)).alias("cnt"))
    sc = (
        db.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("cnt") * F.col("lri")).cast("long").alias("si"),
            F.sum("cnt").cast("long").alias("ntok"),
        )
    )
    return (
        sc.join(d.select("doc_id", "lang"), "doc_id")
        .orderBy(F.col("si").desc(), F.col("doc_id").asc())
        .limit(20)
        .select(
            "doc_id",
            "lang",
            F.col("ntok").alias("n_tokens"),
            F.round(F.col("si").cast("double") / 1e9, 6).alias("dsir_score"),
        )
    )


# --- Wave 62: feature-hashing collision audit --------------------------------

_HC_BITS = (12, 16, 20)

_HC_HEX6 = (
    "list_sum(list_transform(range(1, 7), k ->"
    " (strpos('0123456789abcdef', substr(md5(tok), k, 1)) - 1)"
    " * (1::BIGINT << (4 * (6 - k)))))"
)


@query(
    "hash_collision_audit",
    oracle=f"""
    WITH t AS (
      SELECT DISTINCT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
      FROM documents WHERE length(trim(text)) > 0
    ),
    hashed AS (
      SELECT tok, b.bits,
             ({_HC_HEX6}) % (1::BIGINT << b.bits) AS bucket
      FROM t JOIN (SELECT unnest([{", ".join(str(b) for b in _HC_BITS)}]) AS bits) b
        ON true
    ),
    bk AS (
      SELECT bits, bucket, count(*) AS n FROM hashed GROUP BY 1, 2
    ),
    agg AS (
      SELECT bits,
             cast(sum(n) AS BIGINT) AS n_tokens,
             cast(count(*) AS BIGINT) AS n_buckets,
             cast(sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT)
               AS n_colliding_tokens
      FROM bk GROUP BY bits
    )
    SELECT cast(bits AS INT) AS bits,
           n_tokens, n_buckets, n_colliding_tokens,
           floor((n_tokens - n_buckets) * 1e6 / n_tokens) / 1e6
             AS collision_rate,
           round((1::BIGINT << bits)
                 * (1.0::DOUBLE - pow(1.0::DOUBLE
                                      - 1.0::DOUBLE / (1::BIGINT << bits),
                                      n_tokens)), 6) AS expected_buckets
    FROM agg
    """,
)
def hash_collision_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing collision audit: the corpus vocabulary hashed
    into 2^12 / 2^16 / 2^20 buckets (the hashing-trick dimensions a
    bag-of-words model would use), reporting used buckets, tokens that
    share a bucket, the realized collision rate, and the birthday-bound
    expectation m(1-(1-1/m)^n) — how much smaller a hashed feature
    space can get before token identities start merging.

    Exactness: the bucket is the md5 hex6 integer (verified digit-fold
    parity) mod 2^bits — identical on both engines; counts are integer;
    the only float is the closed-form expectation (identical pow on
    identical doubles, round 6). Scale: one distinct-token shuffle,
    then a 3x vocabulary-sized bucket rollup — never row-proportional."""
    toks = (
        T(spark, sf_dir, "documents")
        .filter(F.length(F.trim("text")) > 0)
        .select(
            F.explode(
                F.split(F.lower(F.trim("text")), r"\s+")
            ).alias("tok")
        )
        .distinct()
    )
    bits = F.explode(
        F.array(*[F.lit(b) for b in _HC_BITS])
    ).alias("bits")
    hashed = toks.select(
        "tok", bits
    ).select(
        "bits",
        (
            F.conv(F.substring(F.md5("tok"), 1, 6), 16, 10).cast("long")
            % F.call_function("shiftleft", F.lit(1).cast("long"), F.col("bits"))
        ).alias("bucket"),
    )
    bk = hashed.groupBy("bits", "bucket").agg(
        F.count(F.lit(1)).alias("n")
    )
    agg = bk.groupBy("bits").agg(
        F.sum("n").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum(F.when(F.col("n") > 1, F.col("n")).otherwise(0))
        .cast("long")
        .alias("n_colliding_tokens"),
    )
    m = F.call_function(
        "shiftleft", F.lit(1).cast("long"), F.col("bits")
    ).cast("double")
    return agg.select(
        F.col("bits").cast("int").alias("bits"),
        "n_tokens",
        "n_buckets",
        "n_colliding_tokens",
        (
            F.floor(
                (F.col("n_tokens") - F.col("n_buckets"))
                * F.lit(1e6)
                / F.col("n_tokens")
            )
            / 1e6
        ).alias("collision_rate"),
        F.round(
            m * (F.lit(1.0) - F.pow(F.lit(1.0) - F.lit(1.0) / m, F.col("n_tokens"))),
            6,
        ).alias("expected_buckets"),
    )
