"""Distributed byte-pair-encoding (BPE) tokenizer induction.

The reference has no tokenizer training (its text surface stops at
regex tokenization, `analytics/`); this is part of the LLM-train-prep
extension surface. Algorithm follows the original subword-BPE
formulation (Sennrich et al. 2016): train on the WORD-FREQUENCY table,
not the raw corpus, and merge the most frequent adjacent symbol pair
iteratively.

Scale design (100 TB corpus):

- Stage 1 — the only corpus-scale work: whitespace tokenize + groupBy
  word. One shuffle, map-side partial aggregation, output is the
  bounded distinct-word table (10^6-10^8 rows regardless of corpus
  size). Everything after runs on that table.
- Stage 2 — the merge loop runs k bounded iterations over the CACHED
  word table. Each iteration is: build adjacent-pair strings with a
  JVM `transform` over the symbol array (no Python, no explode of an
  aliased generator — the pair array is exploded as an expression, see
  the generator re-evaluation trap in verify/SKILL.md), aggregate
  pair→weighted count (one small shuffle), TakeOrdered(1) for the
  argmax, then a map-side regex merge of the winning pair. The new
  table is cached and the predecessor unpersisted, so each job does
  one incremental pass; every ``checkpoint_every`` iterations the
  lineage is truncated with ``localCheckpoint`` so plan depth stays
  bounded for large k.
- Determinism: ties break on (count DESC, pair ASC) in both this and
  the in-test reference implementation — the merge sequence is exactly
  reproducible, which is what makes a trained vocabulary a build
  artifact rather than a run artifact.

Words are represented as space-joined symbol strings ("h e l l o </w>")
so a merge is a boundary-anchored regexp_replace — Java regex applies
non-overlapping matches left-to-right, which is exactly BPE's greedy
left-to-right merge order (e.g. merging ("a","a") in "a a a" yields
"aa a", not "a aa").
"""

from __future__ import annotations

import re

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..functions import driverexact


END_OF_WORD = "</w>"


def word_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus -> (word, count): the one corpus-scale pass."""
    w = F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("word")
    return (
        docs.select(w)
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("count"))
    )


def _to_symbols(word_col) -> F.Column:
    """'hello' -> 'h e l l o </w>'. The split pattern matches between
    characters only — ``(?=.)`` stops Java split from emitting a trailing
    empty element at the end-of-string zero-width match."""
    return F.concat_ws(
        " ", F.concat(F.split(word_col, r"(?!^)(?=.)"), F.array(F.lit(END_OF_WORD)))
    )


def _pair_counts(words: DataFrame) -> DataFrame:
    """Adjacent symbol pairs weighted by word count. The pair array is
    built and exploded as ONE expression so the generator is evaluated
    once per word, not once per emitted pair. zip_with over two shifted
    slices (not sequence(), which auto-descends instead of emitting an
    empty range) so a fully-merged 1-symbol word yields an empty pair
    array, which explode simply drops."""
    pairs = F.expr(
        "zip_with("
        " slice(split(syms, ' '), 1, size(split(syms, ' ')) - 1),"
        " slice(split(syms, ' '), 2, size(split(syms, ' ')) - 1),"
        " (a, b) -> concat(a, ' ', b))"
    )
    return (
        words.select(F.explode(pairs).alias("pair"), "count")
        .groupBy("pair")
        .agg(F.sum("count").alias("pair_count"))
    )


#: Driver-replay bound for the merge loop, in DISTINCT words: 64k words x
#: ~16 bytes is driver-trivial, and below it a pure-Python merge pass
#: (``reference_bpe``) is well under the per-job floor the distributed
#: loop pays twice per merge. A real corpus (1e6-1e8 distinct words) runs
#: distributed. The gate itself is functions/driverexact.driver_rows.
DRIVER_MAX_WORDS = 65536


def train_bpe_merges(
    docs: DataFrame,
    text_col: str = "text",
    num_merges: int = 20,
    checkpoint_every: int = 10,
) -> list[dict]:
    """Learn ``num_merges`` BPE merges; returns them in rank order as
    [{rank, left, right, merged, pair_count}, ...]. Bounded driver
    state: one 1-row collect per merge (distributed path) or one
    word-table fetch (size-gated driver path, see DRIVER_MAX_WORDS)."""
    wc, tbl = driverexact.driver_rows(
        word_counts(docs, text_col), DRIVER_MAX_WORDS
    )
    if tbl is not None:
        rows = [(r["word"], r["count"]) for r in tbl.to_pylist()]
        return reference_bpe(rows, num_merges=num_merges)
    words = wc.select(_to_symbols(F.col("word")).alias("syms"), "count").cache()
    return _merge_loop(words, num_merges, checkpoint_every)


def _merge_loop(
    words: DataFrame, num_merges: int, checkpoint_every: int
) -> list[dict]:
    """The distributed merge loop over the cached symbols table."""
    merges: list[dict] = []
    try:
        for rank in range(1, num_merges + 1):
            top = (
                _pair_counts(words)
                .orderBy(F.col("pair_count").desc(), F.col("pair").asc())
                .limit(1)
                .collect()
            )
            if not top:
                break
            pair, cnt = top[0]["pair"], int(top[0]["pair_count"])
            left, right = pair.split(" ", 1)
            merged = left + right
            # boundary-anchored, non-overlapping left-to-right = greedy BPE
            pat = r"(?<!\S)" + re.escape(pair) + r"(?!\S)"
            # quoteReplacement: \ and $ are special in Java replacements
            repl = merged.replace("\\", "\\\\").replace("$", "\\$")
            nxt = words.select(
                F.regexp_replace("syms", pat, repl).alias("syms"), "count"
            )
            if rank % checkpoint_every == 0:
                nxt = nxt.localCheckpoint(eager=True)
            else:
                nxt = nxt.cache()
                nxt.count()  # materialize before dropping the predecessor
            words.unpersist()
            words = nxt
            merges.append(
                {
                    "rank": rank,
                    "left": left,
                    "right": right,
                    "merged": merged,
                    "pair_count": cnt,
                }
            )
    finally:
        words.unpersist()
    return merges


def merges_to_df(spark, merges: list[dict]) -> DataFrame:
    return spark.createDataFrame(
        [
            (m["rank"], m["left"], m["right"], m["merged"], m["pair_count"])
            for m in merges
        ],
        "rank int, left string, right string, merged string, pair_count bigint",
    )


def encode_with_merges(
    docs: DataFrame, merges: list[dict], text_col: str = "text"
) -> DataFrame:
    """Apply a learned merge list to the corpus and count BPE tokens per
    document — the map-side 'tokenize the whole corpus' path: k chained
    regexp_replace expressions, zero shuffles, whole-stage codegen."""
    words = F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda s: s != "")
    syms = F.transform(
        words,
        lambda wrd: F.concat_ws(
            " ", F.concat(F.split(wrd, r"(?!^)(?=.)"), F.array(F.lit(END_OF_WORD)))
        ),
    )
    # Words joined with a single space keep the stream pair-safe: no
    # learned merge's LEFT symbol can end in </w> (pairs are generated
    # within words, where </w> is always final), so merges can never
    # fire across a word boundary.
    col = F.concat_ws(" ", syms)
    for m in merges:
        pat = r"(?<!\S)" + re.escape(f"{m['left']} {m['right']}") + r"(?!\S)"
        repl = m["merged"].replace("\\", "\\\\").replace("$", "\\$")
        col = F.regexp_replace(col, pat, repl)
    n_tokens = F.when(
        F.length(col) == 0, F.lit(0)
    ).otherwise(F.size(F.split(col, "[ ]")))
    return docs.withColumn("n_bpe_tokens", n_tokens.cast("long"))


def reference_bpe(word_count_rows, num_merges: int = 20) -> list[dict]:
    """Plain-Python reference implementation (Sennrich-style dict loop)
    used by the tests as the ground truth for the distributed trainer.
    Same tie-break: (count DESC, pair ASC)."""
    vocab = {
        " ".join(list(w) + [END_OF_WORD]): int(c) for w, c in word_count_rows
    }
    merges: list[dict] = []
    for rank in range(1, num_merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for syms, c in vocab.items():
            parts = syms.split(" ")
            for a, b in zip(parts, parts[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + c
        if not counts:
            break
        (left, right), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], f"{kv[0][0]} {kv[0][1]}")
        )
        pat = re.compile(r"(?<!\S)" + re.escape(f"{left} {right}") + r"(?!\S)")
        vocab = {
            pat.sub((left + right).replace("\\", "\\\\"), syms): c
            for syms, c in vocab.items()
        }
        merges.append(
            {
                "rank": rank,
                "left": left,
                "right": right,
                "merged": left + right,
                "pair_count": cnt,
            }
        )
    return merges
