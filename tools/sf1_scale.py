"""sf0.1 -> sf1 empirical scaling probe (r4 verdict item 4).

The dedup/ER family's scale claims (df-capped posting expansions, sum(df^2)
pair bounds, band-bucket joins) were argued from plan shape; this tool
MEASURES them. It synthesizes an sf1-equivalent corpus by replicating the
driver's sf0.1 tables 10x with structure-preserving remaps, runs BENCH_CORE
plus the dedup/ER family at both scales, and writes SCALE.md with per-query
sf0.1 -> sf1 wall-clock ratios. Linear operators land near the data ratio
(10x) or below (per-query job overhead amortizes; output-bounded queries
stay flat); anything clearly super-linear is a plan bug to note. Every
query is timed by bench.run_suite (observability.profile_query, noop
sink); one that raises at either scale is reported on stderr and left out
of the table.

Replication rules (why the 10x corpus is a FAIR scale-up, not 10 copies of
the same problem):
- fact keys are offset per replica (orderkey/custkey/partkey/suppkey/
  event_id/user_id/doc_id/vec_id), so joins see 10x distinct keys and
  shuffles carry 10x volume — never 10x duplicates of one key;
- dims (nation/region) stay fixed, exactly like real TPC-H scaling;
- document TEXT is passed through a replica-specific bijective character
  rotation (F.translate over the 10 highest-frequency letters), so each
  replica's shingle universe is isomorphic to sf0.1's but disjoint across
  replicas: per-shingle document frequencies — the quantity the sum(df^2)
  bound lives on — keep the sf0.1 distribution while the corpus grows 10x.
  Naive copying would instead make every document a 10-way duplicate and
  quadratically explode the TRUE pair count, measuring a data artifact
  rather than the engine;
- embeddings get a replica-specific circular dimension shift (norm- and
  geometry-preserving within a replica, decorrelated across replicas) so
  cell populations grow 10x without manufacturing 10-way exact duplicates.

Usage: python tools/sf1_scale.py [src_sf_dir] [factor]   (writes SCALE.md)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from bench import BENCH_CORE, run_suite  # noqa: E402

# the queries whose at-scale behavior round 4 asked to validate empirically
DEDUP_ER_FAMILY = [
    "near_dup_jaccard_pairs",
    "near_dup_clusters",
    "minhash_lsh_pairs_md5",
    "winnowing_fingerprint_pairs",
    "bleu_near_dup_pairs",
    "near_dup_threshold_sweep",
    "minhash_estimate_error_audit",
    "blocking_recall_audit",
    "reciprocal_best_match_pairs",
    "sorted_neighborhood_pairs",
    "levenshtein_match_pairs",
    "fellegi_sunter_weights",
    "incremental_dedup_new_docs",
    "embedding_near_dup_pairs",
    "semantic_near_dup_pairs",
    # round 6: the scale-safe registered parameterizations (the k-scaled
    # SemDeDup is now a first-class oracled query — it derives k from the
    # corpus count itself, so no hand-rolled extra is needed here)
    "semantic_near_dup_k_scaled",
    "embedding_near_dup_t80_pairs",
    "embedding_lsh_t80_prune_audit",
    # round 6 wave 75: IVF-PQ — encode is map-side, ADC is a LUT scan,
    # IVF-PQ prunes to probed cells; all three should track the data ratio
    "pq_encode_distortion",
    "pq_adc_topk_vec0",
    "ivf_pq_ann_topk_vec0",
    # round 7 waves 82/83 (backfilled r8 — per-wave SCALE rows are part
    # of the registry hygiene checklist): substring-dedup removal is a
    # fixed-width windowed span pipeline, BPE encode a constant chain of
    # codegen replaces — both should track the data ratio
    "substring_dedup_removal_stats",
    "bpe_encode_token_stats",
    # round 8 wave 84 + invariant-band promotions: JPEG decode is a
    # fanned-out linear mapInPandas; simhash is two hash shuffles + a
    # multiset groupBy; the blas band is a bounded demo (constant cost)
    "jpeg_decode_stats",
    "simhash_signatures",
    "semantic_near_dup_blas_pairs",
    # round 8 wave 85: the composed curation funnel — its stages are the
    # already-probed operators (lang/quality projections, fingerprint
    # groupBy, df-capped jaccard + components), so the row should track
    # its slowest constituent
    "corpus_curation_funnel",
]


def replicate(spark, src: str, out: str, factor: int) -> None:
    import pyspark.sql.functions as F

    from clinical_data_platform_spark.catalog import TABLES, table

    os.makedirs(out, exist_ok=True)
    # bijective rotation alphabet: the 10 most frequent English letters —
    # almost every shingle contains one, so cross-replica shingle overlap
    # is negligible while each replica stays isomorphic to the original
    alpha = "etaoinsrhl"

    def key_offset(df, col, r, step):
        return df.withColumn(col, F.col(col) + F.lit(r * step))

    for name in TABLES:
        src_df = table(spark, src, name)
        if name in ("nation", "region"):
            src_df.write.mode("overwrite").parquet(f"{out}/{name}.parquet")
            continue
        # per-table key step: beyond any real key in the source
        steps = {
            "customer": ("c_custkey",),
            "supplier": ("s_suppkey",),
            "part": ("p_partkey",),
            "orders": ("o_orderkey", "o_custkey"),
            "lineitem": ("l_orderkey", "l_partkey", "l_suppkey"),
            "events": ("event_id", "user_id"),
            "documents": ("doc_id",),
            "embeddings": ("vec_id",),
        }[name]
        maxes = src_df.agg(
            *[F.max(c).alias(c) for c in steps]
        ).collect()[0].asDict()
        parts = []
        for r in range(factor):
            d = src_df
            for c in steps:
                d = key_offset(d, c, r, int(maxes[c]) + 1)
            if name == "documents":
                rot = alpha[r:] + alpha[:r]
                d = d.withColumn("text", F.translate("text", alpha, rot))
            if name == "embeddings":
                dim = 64
                shift = r % dim
                if shift:
                    d = d.withColumn(
                        "embedding",
                        F.concat(
                            F.slice("embedding", shift + 1, dim - shift),
                            F.slice("embedding", 1, shift),
                        ),
                    )
            parts.append(d)
        full = parts[0]
        for p in parts[1:]:
            full = full.unionByName(p)
        full.repartition(32).write.mode("overwrite").parquet(
            f"{out}/{name}.parquet"
        )


# Hand-written context for rows whose ratio needs explaining; rendered
# into SCALE.md on every regeneration so the notes cannot go stale.
NOTES = {
    "semantic_near_dup_blas_pairs": (
        "BOUNDED DEMO + invariant band since r8: reads the vec_id < 2048 "
        "sample like its expression twin and computes BOTH plans (BLAS "
        "GEMM + codegen fold) to assert set equality in the oracled row "
        "— constant cost at any corpus size; the ratio is a fixed-cost "
        "floor."
    ),
    "minhash_lsh_candidate_pairs": (
        "Reshaped r8 from a pair frame to the INVARIANT-BAND row: the "
        "banded-LSH candidate generation is unchanged (one signature "
        "groupBy + band-bucket join), plus a shingle-set-fingerprint "
        "groupBy and a dup-pair anti-join for the recall claim — all "
        "hash-partitioned, linear in docs; dup-pair work is bounded by "
        "the duplicate count."
    ),
    "simhash_signatures": (
        "Reshaped r8 to the INVARIANT-BAND row: simhash64's two hash "
        "shuffles plus a sorted-token-multiset groupBy for the "
        "identical-docs claim; no pairwise expansion anywhere."
    ),
    "jpeg_decode_stats": (
        "Arrow-batched encode+decode per doc, fanned out before the "
        "Python stage (catalog.fan_out_scan); embarrassingly parallel, "
        "no shuffle beyond the fan-out exchange — should track the data "
        "ratio."
    ),
    "semantic_near_dup_pairs": (
        "BOUNDED DEMO since r7 (r6 verdict item 2): the k=8 contract "
        "demonstration reads only the deterministic vec_id < 2048 sample "
        "(oracle applies the identical bound; every shipped fixture sits "
        "inside it, so pinned hashes are unchanged). Work is therefore "
        "constant in corpus size — the 10x replica contributes nothing "
        "beyond the cap, and the ratio is a fixed-cost floor. The "
        "UNBOUNDED production parameterization is "
        "semantic_near_dup_k_scaled (k derived from the corpus count; "
        "its row shows the real scale behavior). r6 measured the "
        "pre-bound demo at 63x on 10x data — the reading that forced "
        "this bound."
    ),
    "embedding_near_dup_pairs": (
        "BOUNDED DEMO since r7 (r6 verdict item 2): tau=0.45 prunes "
        "little by construction, so the demo reads only the "
        "deterministic vec_id < 2048 sample (oracle identical; shipped "
        "fixtures unaffected) and its cost is constant in corpus size. "
        "r6 measured the pre-bound demo at 19.14x on 10x data. The "
        "UNBOUNDED production registrations "
        "(embedding_near_dup_t80_pairs + its prune audit, tau=0.8 with "
        "16x12 banding) prune >99% and their rows show the scale "
        "behavior a near-dup user actually gets."
    ),
    "reciprocal_best_match_pairs": (
        "SUB-linear by fixture interaction, not magic: parts replicate "
        "with UNCHANGED p_name text, so every name-token's document "
        "frequency grows 10x and the df-cap posting gates prune far more "
        "candidates at sf1 than sf0.1. Same cause for "
        "blocking_recall_audit (0.5x) and the mild sub-10x of the other "
        "part-text ER rows."
    ),
    "chunked_documents": (
        "Output-bounded: chunking emits per-chunk rows whose count is "
        "capped by the chunk grid, and the sf1 run rides a fully warm JVM."
    ),
}


def walls(spark, qs, names, sf_dir: str) -> dict[str, float]:
    """One profiled pass over ``names``: {name: wall_s} of those that ran."""
    return run_suite(spark, qs, names, sf_dir)[1][0]


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    factor = int(sys.argv[2]) if len(sys.argv) > 2 else 10

    import __spark_entry__ as E
    from clinical_data_platform_spark.observability import profile_query
    from clinical_data_platform_spark.session import get_spark

    spark = get_spark("sf1-scale")
    spark.sparkContext.setLogLevel("ERROR")
    qs = E.queries()
    names = list(dict.fromkeys(BENCH_CORE + DEDUP_ER_FAMILY))

    out = tempfile.mkdtemp(prefix="cdp_sf1_")
    t0 = time.perf_counter()
    replicate(spark, src, out, factor)
    t_rep = round(time.perf_counter() - t0, 1)

    # warmup both dirs (JVM, codegen, parquet footers)
    for d in (src, out):
        profile_query(spark, "warmup", lambda: qs["event_type_counts"](spark, d))

    # semantic_near_dup_k_scaled is a REGISTERED query since r6: it derives
    # k from the corpus count (k = clamp(ceil(n/32), 8, 4096)), so driving
    # it on the replicated corpus exercises the k-grows-with-n contract
    # with no hand-rolled twin (r5 verdict item 2).
    t_small = walls(spark, qs, names, src)
    t_big = walls(spark, qs, names, out)
    # a query that raised at either scale has no ratio
    names = [n for n in names if n in t_small and n in t_big]

    # r8 verdict item 4: the committed table used to carry SINGLE-PASS
    # ratios even for rows the diff notes had already re-probed down
    # (embedding_lsh_t80_prune_audit stood at 12.43 in the table with an
    # honest 8.1 min-of-2 only in BENCH_DIFF) — the artifact contradicted
    # the "zero rows above the data ratio" claim at first read. Now any
    # row whose single-pass ratio exceeds REPROBE_RATIO is automatically
    # re-probed (one more pass per scale, min-of-2 on both sides) and the
    # TABLE carries the re-probed number; the single-pass first reading
    # moves to an auto-generated note so the transient is still recorded.
    REPROBE_RATIO = 6.0
    flagged = [
        n
        for n in names
        if t_small[n] > 0 and t_big[n] / t_small[n] > REPROBE_RATIO
    ]
    single_pass = {}
    for n in flagged:
        single_pass[n] = (t_small[n], t_big[n])
        t_small[n] = min([t_small[n], *walls(spark, qs, [n], src).values()])
        t_big[n] = min([t_big[n], *walls(spark, qs, [n], out).values()])

    rows = []
    for n in names:
        r = round(t_big[n] / t_small[n], 2) if t_small[n] > 0 else None
        rows.append((n, t_small[n], t_big[n], r))
    rows.sort(key=lambda x: -(x[3] or 0))

    lines = [
        "# SCALE.md — empirical sf0.1 -> sf1 scaling (auto-generated by tools/sf1_scale.py)",
        "",
        f"Corpus: {factor}x key-remapped replication of `{src}` (see the tool",
        "docstring for why this preserves per-shingle df distributions and is",
        f"a fair scale-up). Replication wall-clock: {t_rep}s. Suite: BENCH_CORE",
        f"+ the dedup/ER family ({len(names)} queries).",
        "",
        "Reading the ratio column: data grew 10x, so <= ~10 is at-worst-linear;",
        "well under 10 means fixed per-query scheduling floor or output-bounded",
        "work dominates; markedly above 10 is super-linear and gets a note.",
        "",
        "| query | sf0.1 s | sf1 s | ratio |",
        "|---|---|---|---|",
    ]
    for n, a, b, r in rows:
        lines.append(f"| {n} | {a} | {b} | {r} |")
    reprobe_notes = {
        n: (
            f"table row is MIN-OF-2 (single-pass first probe was "
            f"{a}s -> {b}s = {round(b / a, 2)}x, above the "
            f"{REPROBE_RATIO}x re-probe threshold; re-probed "
            f"automatically per r8 verdict item 4)."
        )
        for n, (a, b) in single_pass.items()
    }
    noted = [n for n, *_ in rows if n in NOTES or n in reprobe_notes]
    if noted:
        lines += ["", "## Notes", ""]
        for n in noted:
            note = " ".join(
                t for t in (reprobe_notes.get(n), NOTES.get(n)) if t
            )
            lines.append(f"- **{n}**: {note}")
    total_small = round(sum(t_small.values()), 1)
    total_big = round(sum(t_big.values()), 1)
    lines += [
        "",
        f"**Totals: {total_small}s -> {total_big}s "
        f"({round(total_big / total_small, 2)}x on {factor}x data).**",
        "",
    ]
    sup = [n for n, a, b, r in rows if r and r > factor * 1.3]
    if sup:
        lines += ["Super-linear rows (> 1.3x the data ratio) to explain:", ""]
        for n in sup:
            lines.append(f"- {n}")
    else:
        lines.append(
            "No query exceeded 1.3x the data ratio — every measured plan "
            "scales at-worst-linearly over this decade."
        )
    here = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
    with open(os.path.join(here, "SCALE.md"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(json.dumps({
        "metric": "sf0.1->sf1 scaling",
        "factor": factor,
        "total_small_sec": total_small,
        "total_big_sec": total_big,
        "ratio": round(total_big / total_small, 2),
        "super_linear": sup,
        "reprobed": flagged,
    }))
    shutil.rmtree(out, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
