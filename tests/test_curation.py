"""Curation-funnel tests (plans/curation.py, r8 wave 85).

The DuckDB gate hash-compares the five funnel rows; these tests pin the
mechanics the one-row-per-stage shape can't express: tracer injection
behavior (every exact tracer dies at stage 3, every near tracer at
stage 4, no base doc is lost to its own tracer), stage monotonicity,
and composition consistency with the registered stage operators.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from clinical_data_platform_spark.plans import QUERIES

SF = "/root/testdata/sf0.001"


def _rows(spark):
    return {
        r["stage"]: r
        for r in QUERIES["corpus_curation_funnel"](spark, SF).collect()
    }


def test_funnel_shape_and_monotonicity(spark):
    rows = _rows(spark)
    assert sorted(rows) == [0, 1, 2, 3, 4]
    assert [rows[s]["stage_name"] for s in range(5)] == [
        "raw", "lang_en", "quality", "exact_dedup", "near_dup",
    ]
    # filters only shrink...
    assert rows[1]["docs_kept"] <= rows[0]["docs_kept"]
    assert rows[2]["docs_kept"] <= rows[1]["docs_kept"]
    # ...the dedup boundary first ADDS 16 tracers, then removes at least
    # the 8 exact ones
    assert rows[3]["docs_kept"] <= rows[2]["docs_kept"] + 8
    # stage 4 removes at least the 8 near tracers
    assert rows[4]["docs_kept"] <= rows[3]["docs_kept"] - 8
    assert rows[4]["tokens_kept"] < rows[3]["tokens_kept"]
    for s in range(5):
        expect = (
            int(rows[s]["docs_kept"] * 1e6 / rows[0]["docs_kept"]) / 1e6
        )
        assert abs(rows[s]["pct_of_raw"] - expect) < 1e-9


def test_stage_counts_match_registered_operators(spark):
    """Stages 1-2 must agree with the standalone registered plans they
    compose (same predicates, independently assembled here)."""
    rows = _rows(spark)
    lang = (
        QUERIES["lang_id_prediction"](spark, SF)
        .filter(F.col("predicted_lang") == "en")
        .count()
    )
    qual = QUERIES["gopher_quality_filter"](spark, SF)
    both = (
        QUERIES["lang_id_prediction"](spark, SF)
        .filter(F.col("predicted_lang") == "en")
        .select("doc_id")
        .join(qual.filter(F.col("keep")).select("doc_id"), "doc_id")
        .count()
    )
    assert rows[1]["docs_kept"] == lang
    assert rows[2]["docs_kept"] == both


def test_tracer_mechanics(spark):
    """Both dedup stages must catch exactly their tracer class: the
    verbatim copies die at the fingerprint stage, the stopword-appended
    copies die at the near-dup stage, and every base doc survives both."""
    from clinical_data_platform_spark.functions.text import fingerprint
    from clinical_data_platform_spark.operators.dedup import (
        connected_components,
        ngram_jaccard_pairs_inverted,
    )
    from clinical_data_platform_spark.plans.curation import (
        _EX_OFF,
        _N_TRACERS,
        _NR_OFF,
        _NR_SUFFIX,
    )

    qual = (
        QUERIES["gopher_quality_filter"](spark, SF)
        .filter(F.col("keep"))
        .select("doc_id")
    )
    from clinical_data_platform_spark.catalog import table as T

    s2 = T(spark, SF, "documents").select("doc_id", "text").join(qual, "doc_id")
    seeds = s2.orderBy("doc_id").limit(_N_TRACERS)
    seed_ids = [r["doc_id"] for r in seeds.select("doc_id").collect()]
    assert len(seed_ids) == _N_TRACERS

    d3in = (
        s2.unionByName(
            seeds.select((F.col("doc_id") + _EX_OFF).alias("doc_id"), "text")
        )
        .unionByName(
            seeds.select(
                (F.col("doc_id") + _NR_OFF).alias("doc_id"),
                F.concat("text", F.lit(_NR_SUFFIX)).alias("text"),
            )
        )
    )
    fp = d3in.select("doc_id", fingerprint(F.col("text")).alias("f"))
    kept3 = {
        r["doc_id"]
        for r in fp.groupBy("f").agg(F.min("doc_id").alias("doc_id")).collect()
    }
    for sid in seed_ids:
        assert sid in kept3, "base doc lost to its own exact tracer"
        assert sid + _EX_OFF not in kept3, "exact tracer survived stage 3"
        assert sid + _NR_OFF in kept3, "near tracer died too early"

    s3 = d3in.join(
        spark.createDataFrame([(i,) for i in kept3], "doc_id long"), "doc_id"
    )
    pairs = ngram_jaccard_pairs_inverted(
        s3, "doc_id", "text", n=3, threshold=0.5
    )
    comp = {
        r["node"]: r["component"]
        for r in connected_components(pairs).collect()
    }
    for sid in seed_ids:
        assert comp.get(sid + _NR_OFF) != sid + _NR_OFF and (
            sid + _NR_OFF in comp
        ), "near tracer survived stage 4"
        # a base doc may legitimately be dropped as a NATURAL near-dup of
        # a lower-id doc, but never because of its own higher-id tracer:
        # the cluster canonical must be <= the base id
        if sid in comp:
            assert comp[sid] <= sid, "tracer displaced its base doc"
