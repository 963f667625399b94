"""Scale lane: the frozen core and the corpus-heavy query families at the
bench SF and at ~10x it, with the per-query ratio between the two.

WHY THIS EXISTS: at sf0.1 the suite is bound by the per-query scheduling
floor (an 8-core run of it beat a 32-core run, and every probed scaling
ratio was ~1), so the regressions that matter at 100 TB are INVISIBLE to
bench.py. At 10x data per-task compute dominates the per-job floor, and
the wall-clock ratio between the scales says how each plan grows.

Protocol:
- data source from $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  master local[$SPARK_GRAFT_CPUS] via clinical_data_platform_spark.session;
- the big corpus ($SPARK_GRAFT_SCALE_FACTOR times the source, default 10)
  is SYNTHESIZED FRESH into a temp dir by tools/sf1_scale.replicate (see
  its docstring for why this is a fair scale-up) and deleted afterwards;
  replication time is reported as "rep_sec" and is in no query time;
- one warm-up query on each dir, then SCALE_LANE through bench.run_suite
  at both scales (min of $SPARK_GRAFT_BENCH_REPEAT whole-lane passes each);
  a query that raises at either scale has no ratio. Every row whose ratio
  is above REPROBE_RATIO gets one more pass at each scale and keeps the
  faster wall of each, so no single slow sample reads as super-linear;
- SCALE.md is rewritten: ratio table, row notes, totals, super-linear
  rows, and the growth against the SCALE.md it replaces. A row whose ratio
  grew more than GROWTH_GATE, with a big-corpus wall of at least
  FLOOR_SECONDS in either file, is flagged and the lane exits 1. No row
  is exempt by name: the reason for a flag goes with the change that
  caused it, not into this file;
- stdout: each big-corpus profile record as one JSON line, then ONE
  compact JSON object last: {"metric", "value", "unit", "sf", "n_queries",
  "queries", "cpus", "factor", "rep_sec"}.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import BENCH_CORE, base_sf, run_suite  # noqa: E402
from clinical_data_platform_spark.observability import profile_query  # noqa: E402

# The frozen core plus the corpus-heavy families: every query past the
# core does per-row tokenize / hash / pair-expansion work that grows with
# the corpus.
SCALE_LANE = BENCH_CORE + [
    # shingle/minhash/jaccard dedup family
    "near_dup_clusters",
    "near_dup_threshold_sweep",
    "minhash_lsh_pairs_md5",
    "minhash_estimate_error_audit",
    "winnowing_fingerprint_pairs",
    "substring_dedup_removal_stats",
    "incremental_dedup_new_docs",
    "cross_source_dup_audit",
    "simhash_signatures",
    # curation / corpus QC
    "corpus_curation_funnel",
    "gopher_quality_filter",
    "doc_repetition_signals",
    # MT-metric near-dup
    "bleu_near_dup_pairs",
    # entity resolution / posting joins
    "blocking_recall_audit",
    "reciprocal_best_match_pairs",
    "sorted_neighborhood_pairs",
    "levenshtein_match_pairs",
    "fellegi_sunter_weights",
    # vectors / ANN
    "semantic_near_dup_k_scaled",
    "semantic_near_dup_blas_pairs",
    "embedding_near_dup_t80_pairs",
    "embedding_lsh_t80_prune_audit",
    "pq_encode_distortion",
    "pq_adc_topk_vec0",
    "ivf_pq_ann_topk_vec0",
    # tokenizer, spectral text, image codec
    "bpe_encode_token_stats",
    "token_spectral_centrality",
    "jpeg_decode_stats",
]

REPROBE_RATIO = 6.0
GROWTH_GATE = 1.3
# below this big-corpus wall a row sits on the per-query scheduling floor,
# where a 0.2 s wobble can double its ratio without any plan change
FLOOR_SECONDS = 2.0

SCALE_MD = os.path.join(os.path.dirname(os.path.abspath(__file__)), "SCALE.md")

# Hand-written context for rows whose ratio needs explaining; rendered
# into SCALE.md on every regeneration so the notes cannot go stale.
NOTES = {
    "semantic_near_dup_blas_pairs": (
        "BOUNDED DEMO + invariant band: reads the vec_id < 2048 sample "
        "like its expression twin and computes BOTH plans (BLAS GEMM + "
        "codegen fold) to assert set equality in the oracled row — "
        "constant cost at any corpus size; the ratio is a fixed-cost "
        "floor."
    ),
    "minhash_lsh_candidate_pairs": (
        "INVARIANT-BAND row: the banded-LSH candidate generation (one "
        "signature groupBy + band-bucket join), plus a "
        "shingle-set-fingerprint groupBy and a dup-pair anti-join for the "
        "recall claim — all hash-partitioned, linear in docs; dup-pair "
        "work is bounded by the duplicate count."
    ),
    "simhash_signatures": (
        "INVARIANT-BAND row: simhash64's two hash shuffles plus a "
        "sorted-token-multiset groupBy for the identical-docs claim; no "
        "pairwise expansion anywhere."
    ),
    "jpeg_decode_stats": (
        "Arrow-batched encode+decode per doc, fanned out before the "
        "Python stage (catalog.fan_out_scan); embarrassingly parallel, "
        "no shuffle beyond the fan-out exchange — should track the data "
        "ratio."
    ),
    "semantic_near_dup_pairs": (
        "BOUNDED DEMO: the k=8 contract demonstration reads only the "
        "deterministic vec_id < 2048 sample (the oracle applies the "
        "identical bound), so its work is constant in corpus size and "
        "the ratio is a fixed-cost floor. The UNBOUNDED production "
        "parameterization is semantic_near_dup_k_scaled (k derived from "
        "the corpus count; its row shows the real scale behavior). The "
        "pre-bound demo measured 63x on 10x data — the reading that "
        "forced this bound."
    ),
    "embedding_near_dup_pairs": (
        "BOUNDED DEMO: tau=0.45 prunes little by construction, so the "
        "demo reads only the deterministic vec_id < 2048 sample (oracle "
        "identical) and its cost is constant in corpus size. The "
        "pre-bound demo measured 19.14x on 10x data. The UNBOUNDED "
        "production registrations (embedding_near_dup_t80_pairs + its "
        "prune audit, tau=0.8 with 16x12 banding) prune >99% and their "
        "rows show the scale behavior a near-dup user actually gets."
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

ROW_RE = re.compile(
    r"^\|\s*([a-z0-9_]+)\s*\|\s*([\d.]+)\s*\|\s*([\d.]+)\s*\|\s*([\d.]+)\s*\|\s*$"
)


def parse_rows(text: str) -> dict[str, tuple[float, float, float]]:
    """The ratio table of a SCALE.md: {query: (small s, big s, ratio)}, in
    table order."""
    out: dict[str, tuple[float, float, float]] = {}
    for line in text.splitlines():
        m = ROW_RE.match(line.strip())
        if m:
            out[m.group(1)] = (float(m.group(2)), float(m.group(3)), float(m.group(4)))
    return out


def sf_label(sf: float) -> str:
    return f"sf{round(sf, 6):g}"


def table_lines(rows: dict[str, tuple[float, float, float]], sf: float, factor: int):
    """The ratio table, rows in the order given."""
    lines = [
        f"| query | {sf_label(sf)} s | {sf_label(sf * factor)} s | ratio |",
        "|---|---|---|---|",
    ]
    return lines + [f"| {n} | {a} | {b} | {r} |" for n, (a, b, r) in rows.items()]


def growth(old: dict, new: dict) -> tuple[list, list[str], list[str]]:
    """Rows flagged against the previous table as (query, old ratio, new
    ratio, growth), plus the added and removed query names."""
    flagged = []
    for q in sorted(set(old) & set(new)):
        o, n = old[q][2], new[q][2]
        g = n / o if o else float("inf")
        if g > GROWTH_GATE and max(old[q][1], new[q][1]) >= FLOOR_SECONDS:
            flagged.append((q, o, n, g))
    return flagged, sorted(set(new) - set(old)), sorted(set(old) - set(new))


def write_scale_md(
    path: str, walls: dict, single_pass: dict, src: str, factor: int, rep_sec: float
) -> int:
    """Rewrite the SCALE.md at ``path`` from ``walls`` ({query: (small s,
    big s)}; ``single_pass`` holds the first reading of each re-probed row)
    and gate its ratios against the file it replaces. Returns the exit
    status: 1 if any row is flagged, else 0."""
    ratios = {n: (a, b, round(b / a, 2)) for n, (a, b) in walls.items()}
    rows = dict(sorted(ratios.items(), key=lambda kv: -kv[1][2]))
    prev = {}
    if os.path.exists(path):
        with open(path) as fh:
            prev = parse_rows(fh.read())
    sf = base_sf(src)
    lines = [
        f"# SCALE.md — empirical {sf_label(sf)} -> {sf_label(sf * factor)} scaling "
        "(auto-generated by bench_scale.py)",
        "",
        f"Corpus: {factor}x key-remapped replication of `{src}` (see the",
        "tools/sf1_scale.py docstring for why this preserves per-shingle df",
        "distributions and is a fair scale-up). Replication wall-clock:",
        f"{rep_sec}s. Suite: BENCH_CORE + the corpus-heavy families",
        f"({len(rows)} queries).",
        "",
        f"Reading the ratio column: data grew {factor}x, so <= ~{factor} is",
        f"at-worst-linear; well under {factor} means fixed per-query scheduling",
        "floor or output-bounded work dominates; markedly above the data ratio",
        "is super-linear and gets a note.",
        "",
        *table_lines(rows, sf, factor),
    ]
    notes = {}
    for n in rows:
        if n in single_pass:
            a, b = single_pass[n]
            notes[n] = (
                f"table row is MIN-OF-2 (single-pass first probe was {a}s -> "
                f"{b}s = {round(b / a, 2)}x, above the {REPROBE_RATIO}x "
                "re-probe threshold)."
            )
        if n in NOTES:
            notes[n] = " ".join(t for t in (notes.get(n), NOTES[n]) if t)
    if notes:
        lines += ["", "## Notes", ""]
        lines += [f"- **{n}**: {note}" for n, note in notes.items()]
    total_small = round(sum(a for a, _, _ in rows.values()), 1)
    total_big = round(sum(b for _, b, _ in rows.values()), 1)
    lines += [
        "",
        f"**Totals: {total_small}s -> {total_big}s "
        f"({round(total_big / total_small, 2)}x on {factor}x data).**",
        "",
    ]
    sup = [n for n, (_, _, r) in rows.items() if r > factor * 1.3]
    if sup:
        lines += ["Super-linear rows (> 1.3x the data ratio) to explain:", ""]
        lines += [f"- {n}" for n in sup]
    else:
        lines.append(
            "No query exceeded 1.3x the data ratio — every measured plan "
            "scales at-worst-linearly over this decade."
        )

    flagged, added, removed = growth(prev, rows)
    lines += [
        "",
        "## Growth vs the previous SCALE.md",
        "",
        f"A row is flagged when its ratio grew more than {GROWTH_GATE}x against",
        f"the SCALE.md this run replaced and its {sf_label(sf * factor)} wall is at",
        f"least {FLOOR_SECONDS}s in either file; any flag makes the lane exit 1.",
        "",
        f"Common rows: {len(set(prev) & set(rows))}; added: {len(added)}; "
        f"removed: {len(removed)}.",
        "",
    ]
    if flagged:
        lines += ["| query | old ratio | new ratio | growth |", "|---|---|---|---|"]
        lines += [f"| {q} | {o} | {n} | {g:.2f}x |" for q, o, n, g in flagged]
    else:
        lines.append("No row flagged.")
    if added:
        lines += ["", "Added rows: " + ", ".join(f"`{q}`" for q in added) + "."]
    if removed:
        lines += ["", "Removed rows: " + ", ".join(f"`{q}`" for q in removed) + "."]
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    if flagged:
        print(f"scale growth flagged: {[q for q, *_ in flagged]}", file=sys.stderr)
    return 1 if flagged else 0


def main() -> int:
    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    factor = int(os.environ.get("SPARK_GRAFT_SCALE_FACTOR", "10"))
    repeat = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEAT", "1")))

    from clinical_data_platform_spark.session import get_spark, spark_cpus

    import __spark_entry__ as E
    from tools.sf1_scale import replicate

    spark = get_spark("bench-scale")
    spark.sparkContext.setLogLevel("ERROR")
    qs = E.queries()

    out = tempfile.mkdtemp(prefix="cdp_scale_lane_")
    t0 = time.perf_counter()
    replicate(spark, src, out, factor)
    rep_sec = round(time.perf_counter() - t0, 1)

    # warmup both dirs: JVM/codegen/parquet-footer caches (same as bench.py)
    for d in (src, out):
        profile_query(spark, "warmup", lambda: qs["event_type_counts"](spark, d))
    small = run_suite(spark, qs, SCALE_LANE, src, repeat)[0]
    big = run_suite(spark, qs, SCALE_LANE, out, repeat)[0]
    ran = [n for n in SCALE_LANE if "error" not in small[n] and "error" not in big[n]]
    reprobe = [n for n in ran if big[n]["wall_s"] / small[n]["wall_s"] > REPROBE_RATIO]
    single_pass = {n: (small[n]["wall_s"], big[n]["wall_s"]) for n in reprobe}
    for records, d in ((small, src), (big, out)):
        for n, rec in run_suite(spark, qs, reprobe, d)[0].items():
            if rec.get("wall_s", float("inf")) < records[n]["wall_s"]:
                records[n] = rec

    for rec in big.values():
        print(json.dumps(rec), flush=True)
    timings = {n: r["wall_s"] for n, r in big.items() if "error" not in r}
    status = write_scale_md(
        SCALE_MD,
        {n: (small[n]["wall_s"], big[n]["wall_s"]) for n in ran},
        single_pass,
        src,
        factor,
        rep_sec,
    )

    shutil.rmtree(out, ignore_errors=True)
    spark.stop()
    sys.stdout.flush()
    print(
        json.dumps(
            {
                "metric": "scale-lane wall-clock",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "sf": round(base_sf(src) * factor, 3),
                "n_queries": len(timings),
                "cpus": spark_cpus(),
                "factor": factor,
                "rep_sec": rep_sec,
                "queries": timings,
            }
        ),
        flush=True,
    )
    return status


if __name__ == "__main__":
    sys.exit(main())
