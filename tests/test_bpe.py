"""Distributed BPE tokenizer induction vs a plain-Python reference
implementation — exact merge-sequence equality is the value gate for the
rows-only `bpe_train_merges` driver query."""

from __future__ import annotations

import re

import pyspark.sql.functions as F

from clinical_data_platform_spark.operators.bpe import (
    END_OF_WORD,
    encode_with_merges,
    merges_to_df,
    reference_bpe,
    train_bpe_merges,
    word_counts,
)


def _corpus(spark, rows):
    return spark.createDataFrame([(i, t) for i, t in enumerate(rows)], "doc_id long, text string")


def _reference_from_df(docs_df, num_merges):
    wc = word_counts(docs_df).toPandas()
    return reference_bpe(list(zip(wc.word, wc["count"])), num_merges=num_merges)


def test_trainer_matches_reference_small(spark, force_distributed):
    docs = _corpus(
        spark,
        [
            "the cat sat on the mat",
            "the cat ate the rat",
            "low lower lowest slow slower",
            "new newer newest knew",
        ],
    )
    # forced DISTRIBUTED merge loop (the size gate would otherwise route
    # a vocabulary this small to the driver path, which IS reference_bpe
    # — making this equality vacuous)
    got = train_bpe_merges(docs, num_merges=20)
    want = _reference_from_df(docs, 20)
    assert got == want
    assert len(got) == 20 and [m["rank"] for m in got] == list(range(1, 21))


def test_trainer_matches_reference_on_testdata(spark, force_distributed):
    from clinical_data_platform_spark.catalog import table as T

    docs = T(spark, "/root/testdata/sf0.001", "documents")
    got = train_bpe_merges(docs, num_merges=8)
    want = _reference_from_df(docs, 8)
    assert got == want


def test_driver_and_distributed_paths_agree(spark, request):
    """r9 size gate: the driver path (gate above vocab size) and the
    distributed loop (gate forced to 0) must produce the identical merge
    sequence on real fixture data — the same paths-agree pin the
    size-adaptive connected_components carries."""
    from clinical_data_platform_spark.catalog import table as T

    docs = T(spark, "/root/testdata/sf0.01", "documents")
    via_driver = train_bpe_merges(docs, num_merges=12)  # gate: driver path
    branches = request.getfixturevalue("force_distributed")
    via_cluster = train_bpe_merges(docs, num_merges=12)
    assert branches == ["distributed"]
    assert via_driver == via_cluster


def test_greedy_left_to_right_overlap(spark, force_distributed):
    # merging ("a","a") inside "a a a </w>" must produce "aa a </w>",
    # not "a aa </w>" — non-overlapping left-to-right, like greedy BPE
    docs = _corpus(spark, ["aaa aaa"])
    # forced distributed: this test pins the regexp_replace path's
    # left-to-right non-overlapping behaviour specifically
    got = train_bpe_merges(docs, num_merges=2)
    want = _reference_from_df(docs, 2)
    assert got == want
    assert (got[0]["left"], got[0]["right"], got[0]["pair_count"]) == ("a", "a", 4)
    # after merge 1, "aa a </w>" has pairs ("aa","a") and ("a","</w>")
    # tied at 2 — the (count DESC, pair ASC) tie-break picks "a </w>"
    # (space sorts before 'a'), in both engines identically
    assert got[1] == {
        "rank": 2, "left": "a", "right": "</w>", "merged": "a</w>", "pair_count": 2,
    }


def test_trainer_deterministic(spark):
    docs = _corpus(spark, ["b a b a c a b", "c b a a b"])
    assert train_bpe_merges(docs, num_merges=6) == train_bpe_merges(docs, num_merges=6)


def _py_encode(text, merges):
    toks = [w for w in re.split(r"\s+", text.lower()) if w]
    stream = " ".join(" ".join(list(w) + [END_OF_WORD]) for w in toks)
    if not stream:
        return 0
    for m in merges:
        pat = re.compile(r"(?<!\S)" + re.escape(f"{m['left']} {m['right']}") + r"(?!\S)")
        stream = pat.sub(m["merged"].replace("\\", "\\\\"), stream)
    return len(stream.split(" "))


def test_encode_with_merges(spark):
    rows = [
        "the cat sat on the mat",
        "lower and lowest",
        "",
        "the the the",
    ]
    docs = _corpus(spark, rows)
    merges = train_bpe_merges(docs, num_merges=10)
    got = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in encode_with_merges(docs, merges).collect()
    }
    for i, t in enumerate(rows):
        assert got[i] == _py_encode(t, merges), f"doc {i}: {t!r}"
    # merges strictly shrink the token stream vs raw character tokens
    raw = {i: _py_encode(t, []) for i, t in enumerate(rows)}
    assert all(got[i] <= raw[i] for i in range(len(rows)))
    assert got[3] < raw[3]  # "the" merges fire


def test_registered_query_shape(spark):
    from clinical_data_platform_spark.plans.registry import QUERIES

    df = QUERIES["bpe_train_merges"](spark, "/root/testdata/sf0.001")
    rows = df.collect()
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    assert len(rows) == 12
    assert all(r["merged"] == r["left"] + r["right"] for r in rows)
    # counts are non-increasing is NOT guaranteed for BPE in general
    # (later merges can create new frequent pairs), but every count is
    # positive and the schema is the driver-stable contract
    assert all(r["pair_count"] > 0 for r in rows)
    assert df.columns == ["rank", "left", "right", "merged", "pair_count"]


def test_merges_to_df_roundtrip(spark):
    merges = [
        {"rank": 1, "left": "t", "right": "h", "merged": "th", "pair_count": 9},
    ]
    out = merges_to_df(spark, merges).collect()[0]
    assert (out["rank"], out["left"], out["right"], out["merged"], out["pair_count"]) == (
        1, "t", "h", "th", 9,
    )


def test_replace_chain_encoder_matches_regex_encoder(spark):
    """Wave 83: the double-space replace-chain encoder inside
    bpe_encode_token_stats must count EXACTLY the tokens the regex
    (lookaround) encoder counts — per document, not just in aggregate.
    This pins the space-invariant argument (spaces == 2 * symbols,
    preserved by every replacement) against the independently-implemented
    operators/bpe.py::encode_with_merges."""
    import pyspark.sql.functions as F

    from clinical_data_platform_spark.catalog import table as T
    from clinical_data_platform_spark.operators.bpe import (
        END_OF_WORD,
        encode_with_merges,
        train_bpe_merges,
    )

    sf = "/root/testdata/sf0.001"
    docs = T(spark, sf, "documents").select("doc_id", "text")
    merges = train_bpe_merges(docs, num_merges=12)

    regex_counts = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in encode_with_merges(docs, merges).collect()
    }

    words = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda s: s != "")
    inner = F.transform(
        words,
        lambda w: F.concat_ws(
            "  ", F.concat(F.split(w, r"(?!^)(?=.)"), F.array(F.lit(END_OF_WORD)))
        ),
    )
    stream = F.concat(F.lit(" "), F.concat_ws("  ", inner), F.lit(" "))
    for m in merges:
        stream = F.replace(
            stream, F.lit(f" {m['left']}  {m['right']} "), F.lit(f" {m['merged']} ")
        )
    n_sym = (
        (F.length(stream) - F.length(F.replace(stream, F.lit(" "), F.lit(""))))
        / 2
    ).cast("long")
    chain_counts = {
        r["doc_id"]: r["n"]
        for r in docs.select(
            "doc_id",
            F.when(F.size(words) == 0, F.lit(0).cast("long"))
            .otherwise(n_sym)
            .alias("n"),
        ).collect()
    }
    assert chain_counts == regex_counts


def test_encode_token_stats_sane(spark):
    """Registered wave-83 row sanity: every source tokenizes, BPE never
    yields fewer tokens than one per word, and 12 merges compress the
    character-level stream (tokens per word well below raw char count)."""
    from clinical_data_platform_spark.plans.trainprep import (
        bpe_encode_token_stats,
    )

    rows = bpe_encode_token_stats(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 20
    for r in rows:
        assert r["total_bpe_tokens"] >= r["total_words"]
        assert 1.0 <= r["bpe_per_word"] < 8.0
