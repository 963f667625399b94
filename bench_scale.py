"""Scale-lane benchmark: the corpus-heavy query families at ~10x the
bench SF (r10 verdict item 1).

WHY THIS EXISTS: at sf0.1 on local[32] the full 288-query suite is
scheduling/driver-floor bound — the r9 driver's 8-core run (446.8 s)
beat its 32-core run (481.3 s) and every probed scaling ratio was ~1 —
so parallelism wins and regressions, the things that matter at 100 TB,
are INVISIBLE to bench.py. This lane runs only the ~20 corpus-scale
queries (dedup/minhash/posting family, curation funnel, bleu, ppjoin,
ANN, ER) on a 10x synthesized corpus where per-task compute dominates
the per-job floor, so core-count scaling is measurable again.

Contract (same as bench.py):
- data source from $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  master local[$SPARK_GRAFT_CPUS] via clinical_data_platform_spark.session;
- every query runs through bench.run_suite (observability.profile_query,
  noop sink, min of $SPARK_GRAFT_BENCH_REPEAT whole-lane passes); each
  query's profile record is printed as one JSON line as the lane ends,
  and a query that raises is left out of the timings;
- the LAST stdout line is ONE COMPACT JSON object {"metric", "value",
  "unit", "sf", "n_queries", "queries", "cpus", "factor", "rep_sec"}.

The 10x corpus is SYNTHESIZED FRESH each invocation into a temp dir by
tools/sf1_scale.replicate (structure-preserving key remaps + per-replica
text rotation — see that tool's docstring for why this is a fair
scale-up and not 10 copies of one problem) and deleted afterwards:
nothing is persisted or reused across runs, and the replication cost is
reported separately ("rep_sec") and NOT included in any query time.
$SPARK_GRAFT_SCALE_FACTOR overrides the factor (default 10).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import base_sf, run_suite  # noqa: E402
from clinical_data_platform_spark.observability import profile_query  # noqa: E402

# The corpus-heavy families: every query here does per-row tokenize /
# hash / pair-expansion work that grows with the corpus, so at 10x data
# the task compute dominates the per-job scheduling floor.
SCALE_LANE = [
    # shingle/minhash/jaccard dedup family
    "near_dup_jaccard_pairs",
    "near_dup_threshold_sweep",
    "minhash_lsh_pairs_md5",
    "minhash_estimate_error_audit",
    "dedup_capture_recapture",
    "dup_cluster_canonical_docs",
    "cross_source_dup_audit",
    "containment_dup_pairs",
    "winnowing_fingerprint_pairs",
    "substring_dedup_removal_stats",
    # curation / corpus QC
    "corpus_curation_funnel",
    "gopher_quality_filter",
    "doc_repetition_signals",
    # MT-metric + set-similarity near-dup
    "bleu_near_dup_pairs",
    "ppjoin_near_dup_pairs",
    # entity resolution / posting joins
    "er_blocking_part_pairs",
    "blocking_recall_audit",
    "reciprocal_best_match_pairs",
    # vectors / ANN
    "knn_join_top5",
    "embedding_near_dup_t80_pairs",
    "semantic_near_dup_k_scaled",
    # tokenizer + spectral text
    "bpe_encode_token_stats",
    "token_spectral_centrality",
]


def main() -> None:
    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    factor = int(os.environ.get("SPARK_GRAFT_SCALE_FACTOR", "10"))

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

    # warmup: JVM/codegen/parquet-footer caches (same as bench.py)
    profile_query(spark, "warmup", lambda: qs["event_type_counts"](spark, out))
    repeat = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEAT", "1")))
    records, _ = run_suite(spark, qs, SCALE_LANE, out, repeat)
    for rec in records.values():
        print(json.dumps(rec), flush=True)
    timings = {n: r["wall_s"] for n, r in records.items() if "error" not in r}
    total = round(sum(timings.values()), 3)

    shutil.rmtree(out, ignore_errors=True)
    spark.stop()
    sys.stdout.flush()
    print(
        json.dumps(
            {
                "metric": "scale-lane wall-clock",
                "value": total,
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


if __name__ == "__main__":
    main()
