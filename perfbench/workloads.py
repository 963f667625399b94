"""The three benchmark workloads: their inputs, their operations and the
checks that decide whether each operation's output is correct.

An operation is one query (``core50``, ``dedup_scale``) or one pipeline run
(``clinical_pipeline``). Query outputs are checked against row counts,
dtype signatures and order-insensitive value hashes that the DuckDB oracle
twin (``oracle_sql()``) produced over the same inputs; the hashes live in
``expected.json`` and ``python3 perfbench/run.py --refresh-expected``
recomputes them. Pipeline outputs are checked in every run against DuckDB
SQL over the raw CSVs the pipeline lands.
"""

from __future__ import annotations

import json
import os
import random
import shutil

HERE = os.path.dirname(os.path.abspath(__file__))
BASE_DIR = os.path.join(HERE, "data", "sf0.01")
EXPECTED_PATH = os.path.join(HERE, "expected.json")

# bench.BENCH_CORE, frozen here so the gate does not move if bench.py does.
CORE50 = [
    "q1_pricing_summary", "q3_unshipped_revenue_topk", "q5_revenue_by_nation",
    "q6_revenue_delta", "q7_volume_shipping", "q10_returned_items",
    "filtered_rate_by_priority", "customer_order_fanin", "region_overview_rollup",
    "distinct_counts_by_flag", "median_price_by_priority", "rollup_revenue",
    "q8_market_share", "q9_profit_by_nation_year", "q18_large_volume_customers",
    "q21_blocked_suppliers", "train_val_test_split", "packed_sequence_bins",
    "chunked_documents", "hourly_gap_fill_locf", "interval_join_error_windows",
    "asof_event_hourly_rate", "salted_event_rollup", "knn_join_top5",
    "embedding_near_dup_pairs", "running_event_count", "hourly_event_rollup",
    "user_session_stats", "latest_event_per_user_type", "dq_lineitem_battery",
    "doc_token_stats", "exact_dedup_docs", "near_dup_jaccard_pairs",
    "minhash_lsh_candidate_pairs", "cosine_topk_vec0", "dup_cluster_canonical_docs",
    "spearman_quantity_price", "als_brand_recs", "ppjoin_near_dup_pairs",
    "dedup_capture_recapture", "semantic_near_dup_pairs", "theil_sen_slope",
    "trade_hits_scores", "rec_eval_precision_ndcg", "part_pair_lift",
    "logreg_gd_trajectory", "er_blocking_part_pairs", "containment_dup_pairs",
    "item_item_cosine_recs", "nation_trade_pagerank",
]

DEDUP12 = [
    "near_dup_jaccard_pairs", "minhash_lsh_pairs_md5", "minhash_estimate_error_audit",
    "dedup_capture_recapture", "dup_cluster_canonical_docs", "containment_dup_pairs",
    "winnowing_fingerprint_pairs", "bleu_near_dup_pairs", "ppjoin_near_dup_pairs",
    "corpus_curation_funnel", "embedding_near_dup_t80_pairs", "semantic_near_dup_k_scaled",
]

# Size knobs: the full size is what the driver measures; "smoke" is what the
# benchmark's own tests run.
SIZES = {
    "core50": {"full": 1, "smoke": 1},  # base data, no replication
    "dedup_scale": {"full": 4, "smoke": 1},  # corpus replication factor
    "clinical_pipeline": {"full": 20_000, "smoke": 500},  # subjects
}

WORKLOADS = tuple(SIZES)


# The seed shuffles the queries within consecutive blocks of this many. In a
# fresh JVM the first ten queries run at about 1.8x their warm latency, so a
# full shuffle would change which queries pay the JIT warm-up from seed to
# seed and move the latency percentiles by up to 17%.
ORDER_BLOCK = 10


def query_names(workload: str, seed: int) -> list[str]:
    """The workload's queries in the seed's order: each block of
    ``ORDER_BLOCK`` queries of the list keeps its place, and the seed
    shuffles the queries inside it."""
    names = list(CORE50 if workload == "core50" else DEDUP12)
    rng = random.Random(seed)
    for i in range(0, len(names), ORDER_BLOCK):
        block = names[i : i + ORDER_BLOCK]
        rng.shuffle(block)
        names[i : i + ORDER_BLOCK] = block
    return names


def replicate_corpus(out_dir: str, factor: int) -> None:
    """Write the base tables to ``out_dir`` with ``documents`` and
    ``embeddings`` replicated ``factor`` times, by the rules of
    ``tools/sf1_scale.replicate``: keys are offset per replica, document
    text goes through a replica-specific rotation of the ten most frequent
    letters (each replica's shingle universe is isomorphic to the base's
    and disjoint from the others'), and embeddings get a replica-specific
    circular dimension shift. Replica 0 is the base itself."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for f in os.listdir(BASE_DIR):
        if f not in ("documents.parquet", "embeddings.parquet") or factor == 1:
            shutil.copyfile(os.path.join(BASE_DIR, f), os.path.join(out_dir, f))
    if factor == 1:
        return
    alpha = "etaoinsrhl"
    docs = pq.read_table(os.path.join(BASE_DIR, "documents.parquet")).to_pandas()
    emb_t = pq.read_table(os.path.join(BASE_DIR, "embeddings.parquet"))
    emb = emb_t.to_pandas()
    doc_step, vec_step = int(docs.doc_id.max()) + 1, int(emb.vec_id.max()) + 1
    dim = len(emb.embedding.iloc[0])
    d_parts, e_parts = [], []
    for r in range(factor):
        d = docs.copy()
        d["doc_id"] += r * doc_step
        d["text"] = d.text.str.translate(str.maketrans(alpha, alpha[r:] + alpha[:r]))
        d_parts.append(d)
        e = emb.copy()
        e["vec_id"] += r * vec_step
        e["embedding"] = [np.roll(np.asarray(v, dtype=np.float32), -(r % dim)) for v in e.embedding]
        e_parts.append(e)
    pq.write_table(
        pa.Table.from_pandas(pd.concat(d_parts, ignore_index=True), preserve_index=False),
        os.path.join(out_dir, "documents.parquet"),
    )
    pq.write_table(
        pa.Table.from_pandas(
            pd.concat(e_parts, ignore_index=True), schema=emb_t.schema, preserve_index=False
        ),
        os.path.join(out_dir, "embeddings.parquet"),
    )


def load_expected(path: str = EXPECTED_PATH) -> dict:
    with open(path) as fh:
        return json.load(fh)


def result_signature(pdf) -> dict:
    """Row count, dtype signature and value hash of a query result."""
    from tools.oracle_check import dtype_sig, value_hash

    return {"rows": len(pdf), "dtypes": dtype_sig(pdf), "hash": value_hash(pdf)}


def check_query(pdf, expected: dict) -> str | None:
    """None when the result matches its expected signature, else why not."""
    got = result_signature(pdf)
    for key in ("rows", "dtypes", "hash"):
        if got[key] != expected[key]:
            return f"{key}: got {got[key]!r}, expected {expected[key]!r}"
    return None


# ---------------------------------------------------------------------------
# clinical_pipeline: DuckDB oracle over the raw CSVs run_demo lands.
# The SQL mirrors the marts/analytics oracles of the clinical tests, with
# the silver casts of clinical/standardize.py applied to the CSV columns.
# ---------------------------------------------------------------------------

_RAW_CASTS = {
    "dm": "STUDYID, SUBJID, ARM, SEX, TRY_CAST(AGE AS DOUBLE) AS AGE",
    "ae": (
        "STUDYID, SUBJID, TRY_CAST(AESTDTC AS TIMESTAMP) AS AESTDTC, "
        "TRY_CAST(AEENDTC AS TIMESTAMP) AS AEENDTC, AESEV, "
        "TRY_CAST(AESER AS BOOLEAN) AS AESER, AEOUT"
    ),
    "lb": (
        "STUDYID, SUBJID, LBTESTCD, TRY_CAST(LBORRES AS DOUBLE) AS LBORRES, LBORRESU, "
        "TRY_CAST(LBLNOR AS DOUBLE) AS LBLNOR, TRY_CAST(LBHNOR AS DOUBLE) AS LBHNOR"
    ),
    "vs": "STUDYID, SUBJID, VSTESTCD, TRY_CAST(VSORRES AS DOUBLE) AS VSORRES, VSORRESU",
    "ex": (
        "STUDYID, SUBJID, EXTRT, TRY_CAST(EXDOSE AS DOUBLE) AS EXDOSE, "
        "TRY_CAST(EXSTDTC AS TIMESTAMP) AS EXSTDTC, TRY_CAST(EXENDTC AS TIMESTAMP) AS EXENDTC"
    ),
}

_SUMMARY_SQL = """
WITH stg_dm AS (
  SELECT STUDYID AS studyid, SUBJID AS subjid,
         coalesce(ARM, 'UNKNOWN') AS treatment_arm,
         upper(coalesce(SEX, 'U')) AS sex, AGE AS age,
         CASE WHEN AGE < 18 THEN 'PEDIATRIC'
              WHEN AGE >= 18 AND AGE < 65 THEN 'ADULT'
              WHEN AGE >= 65 THEN 'ELDERLY' ELSE 'UNKNOWN' END AS age_group,
         CASE WHEN SEX = 'M' THEN 'MALE' WHEN SEX = 'F' THEN 'FEMALE'
              ELSE 'UNKNOWN' END AS sex_desc
  FROM dm WHERE STUDYID = 'STUDY001'
), stg_ae AS (
  SELECT SUBJID AS subjid,
         upper(coalesce(AESEV, 'UNKNOWN')) AS severity,
         coalesce(AESER, false) AS is_serious,
         CASE WHEN AEENDTC IS NULL AND AEOUT != 'FATAL' THEN true ELSE false END AS is_ongoing,
         CASE WHEN AESEV = 'MILD' THEN 1 WHEN AESEV = 'MODERATE' THEN 2
              WHEN AESEV = 'SEVERE' THEN 3 ELSE 0 END AS severity_rank
  FROM ae WHERE STUDYID = 'STUDY001'
), stg_lb AS (
  SELECT SUBJID AS subjid, upper(LBTESTCD) AS test_code,
         CASE WHEN LBORRES IS NULL THEN 'MISSING'
              WHEN LBLNOR IS NOT NULL AND LBORRES < LBLNOR THEN 'LOW'
              WHEN LBHNOR IS NOT NULL AND LBORRES > LBHNOR THEN 'HIGH'
              WHEN LBLNOR IS NOT NULL AND LBHNOR IS NOT NULL
                   AND LBORRES >= LBLNOR AND LBORRES <= LBHNOR THEN 'NORMAL'
              ELSE 'UNKNOWN' END AS result_flag,
         CASE WHEN LBTESTCD IN ('ALT','AST','BILI','ALP') THEN 'LIVER_FUNCTION'
              WHEN LBTESTCD IN ('CREAT','BUN','UREA') THEN 'KIDNEY_FUNCTION'
              ELSE 'OTHER' END AS test_category
  FROM lb WHERE STUDYID = 'STUDY001'
), stg_vs AS (
  SELECT SUBJID AS subjid, upper(VSTESTCD) AS test_code,
         CASE WHEN VSTESTCD = 'HR' AND VSORRES IS NOT NULL THEN
                CASE WHEN VSORRES < 60 THEN 'BRADYCARDIA'
                     WHEN VSORRES >= 60 AND VSORRES <= 100 THEN 'NORMAL'
                     WHEN VSORRES > 100 THEN 'TACHYCARDIA' ELSE 'UNKNOWN' END
              ELSE 'N/A' END AS clinical_flag
  FROM vs WHERE STUDYID = 'STUDY001'
), stg_ex AS (
  SELECT SUBJID AS subjid,
         CASE WHEN EXSTDTC IS NOT NULL AND EXENDTC IS NOT NULL
              THEN date_diff('day', CAST(EXSTDTC AS DATE), CAST(EXENDTC AS DATE)) + 1
              END AS treatment_duration_days,
         CASE WHEN EXENDTC IS NULL THEN true ELSE false END AS is_ongoing_treatment,
         CASE WHEN lower(EXTRT) LIKE '%placebo%' THEN 'PLACEBO'
              WHEN lower(EXTRT) LIKE '%active%' OR lower(EXTRT) LIKE '%drug%' THEN 'ACTIVE_TREATMENT'
              WHEN EXTRT IS NULL THEN 'UNKNOWN' ELSE 'OTHER' END AS treatment_category
  FROM ex WHERE STUDYID = 'STUDY001'
)

, ae_g AS (
  SELECT subjid, count(*) AS total_aes,
         sum(CASE WHEN is_serious THEN 1 ELSE 0 END) AS serious_aes,
         sum(CASE WHEN severity = 'SEVERE' THEN 1 ELSE 0 END) AS severe_aes,
         sum(CASE WHEN is_ongoing THEN 1 ELSE 0 END) AS ongoing_aes,
         max(severity_rank) AS max_severity_rank,
         count(DISTINCT CASE WHEN is_serious THEN subjid END) AS has_serious_ae
  FROM stg_ae GROUP BY subjid
), lb_g AS (
  SELECT subjid, count(*) AS total_lab_tests,
         count(DISTINCT test_code) AS unique_lab_tests,
         sum(CASE WHEN result_flag = 'ABNORMAL' THEN 1 ELSE 0 END) AS abnormal_lab_results,
         count(DISTINCT test_category) AS lab_categories_tested
  FROM stg_lb GROUP BY subjid
), vs_g AS (
  SELECT subjid, count(*) AS total_vital_measurements,
         count(DISTINCT test_code) AS unique_vital_tests,
         sum(CASE WHEN clinical_flag NOT IN ('NORMAL','N/A') THEN 1 ELSE 0 END) AS abnormal_vitals
  FROM stg_vs GROUP BY subjid
), ex_g AS (
  SELECT subjid, count(*) AS total_exposures,
         max(treatment_duration_days) AS max_treatment_duration,
         count(CASE WHEN is_ongoing_treatment THEN 1 END) AS ongoing_treatments,
         string_agg(DISTINCT treatment_category, ', ' ORDER BY treatment_category) AS treatment_categories
  FROM stg_ex GROUP BY subjid
), summary AS (
  SELECT d.studyid, d.subjid, d.treatment_arm, d.sex, d.sex_desc, d.age, d.age_group,
         cast(coalesce(a.total_aes, 0) AS BIGINT) AS total_adverse_events,
         cast(coalesce(a.serious_aes, 0) AS BIGINT) AS serious_adverse_events,
         cast(coalesce(a.severe_aes, 0) AS BIGINT) AS severe_adverse_events,
         cast(coalesce(a.ongoing_aes, 0) AS BIGINT) AS ongoing_adverse_events,
         cast(coalesce(a.max_severity_rank, 0) AS INTEGER) AS max_ae_severity_rank,
         CASE WHEN a.has_serious_ae > 0 THEN true ELSE false END AS has_serious_adverse_event,
         cast(coalesce(l.total_lab_tests, 0) AS BIGINT) AS total_lab_tests,
         cast(coalesce(l.unique_lab_tests, 0) AS BIGINT) AS unique_lab_tests,
         cast(coalesce(l.abnormal_lab_results, 0) AS BIGINT) AS abnormal_lab_results,
         cast(coalesce(l.lab_categories_tested, 0) AS BIGINT) AS lab_categories_tested,
         CASE WHEN l.total_lab_tests > 0
              THEN round(cast(l.abnormal_lab_results AS DOUBLE) / l.total_lab_tests, 3)
              ELSE 0.0 END AS abnormal_lab_rate,
         cast(coalesce(v.total_vital_measurements, 0) AS BIGINT) AS total_vital_measurements,
         cast(coalesce(v.unique_vital_tests, 0) AS BIGINT) AS unique_vital_tests,
         cast(coalesce(v.abnormal_vitals, 0) AS BIGINT) AS abnormal_vitals,
         CASE WHEN v.total_vital_measurements > 0
              THEN round(cast(v.abnormal_vitals AS DOUBLE) / v.total_vital_measurements, 3)
              ELSE 0.0 END AS abnormal_vital_rate,
         cast(coalesce(e.total_exposures, 0) AS BIGINT) AS total_exposures,
         cast(coalesce(e.max_treatment_duration, 0) AS BIGINT) AS max_treatment_duration,
         cast(coalesce(e.ongoing_treatments, 0) AS BIGINT) AS ongoing_treatments,
         coalesce(e.treatment_categories, 'NONE') AS treatment_categories,
         CASE WHEN a.serious_aes > 0 OR a.severe_aes > 0 THEN 'HIGH_RISK'
              WHEN a.total_aes > 5 THEN 'MEDIUM_RISK'
              WHEN a.total_aes > 0 THEN 'LOW_RISK'
              ELSE 'NO_EVENTS' END AS safety_risk_category,
         CASE WHEN a.total_aes > 0 THEN 1 ELSE 0 END AS has_ae_data,
         CASE WHEN l.total_lab_tests > 0 THEN 1 ELSE 0 END AS has_lab_data,
         CASE WHEN v.total_vital_measurements > 0 THEN 1 ELSE 0 END AS has_vital_data,
         CASE WHEN e.total_exposures > 0 THEN 1 ELSE 0 END AS has_exposure_data
  FROM stg_dm d
  LEFT JOIN ae_g a ON d.subjid = a.subjid
  LEFT JOIN lb_g l ON d.subjid = l.subjid
  LEFT JOIN vs_g v ON d.subjid = v.subjid
  LEFT JOIN ex_g e ON d.subjid = e.subjid
)
"""

_ORACLES = {
    "marts/fact_subject_outcomes": _SUMMARY_SQL + """
    SELECT md5(coalesce(cast(subjid AS VARCHAR), '_dbt_utils_surrogate_key_null_')) AS subject_key,
           subjid,
           cast(has_ae_data + has_lab_data + has_vital_data + has_exposure_data AS DOUBLE) / 4.0
               AS data_completeness_score,
           CASE WHEN abnormal_lab_rate > 0.3 AND abnormal_vital_rate > 0.2 THEN 'MULTIPLE_ABNORMALITIES'
                WHEN abnormal_lab_rate > 0.5 THEN 'HIGH_LAB_ABNORMALITIES'
                WHEN abnormal_vital_rate > 0.3 THEN 'HIGH_VITAL_ABNORMALITIES'
                WHEN has_serious_adverse_event THEN 'SERIOUS_SAFETY_CONCERN'
                ELSE 'NORMAL_PROFILE' END AS clinical_profile,
           CASE WHEN (has_ae_data + has_lab_data + has_vital_data + has_exposure_data) / 4.0 >= 0.8
                     THEN 'HIGH_QUALITY'
                WHEN (has_ae_data + has_lab_data + has_vital_data + has_exposure_data) / 4.0 >= 0.5
                     THEN 'MEDIUM_QUALITY'
                ELSE 'LOW_QUALITY' END AS participation_quality
    FROM summary
    """,
    "marts/dim_study_overview": _SUMMARY_SQL + """
    , scored AS (
      SELECT *,
             cast(has_ae_data + has_lab_data + has_vital_data + has_exposure_data AS DOUBLE) / 4.0 AS score
      FROM summary
    ), g AS (
      SELECT count(*) AS total_subjects,
             count(DISTINCT treatment_arm) AS treatment_arms_count,
             count(CASE WHEN sex = 'M' THEN 1 END) AS male_subjects,
             count(CASE WHEN sex = 'F' THEN 1 END) AS female_subjects,
             round(avg(age), 1) AS mean_age,
             quantile_cont(age, 0.5) AS median_age,
             min(age) AS min_age, max(age) AS max_age,
             cast(sum(total_adverse_events) AS BIGINT) AS total_adverse_events_study,
             count(CASE WHEN has_serious_adverse_event THEN 1 END) AS subjects_with_serious_aes,
             avg(score) AS avg_data_completeness
      FROM scored
    )
    SELECT total_subjects, treatment_arms_count, male_subjects, female_subjects,
           mean_age, median_age, min_age, max_age, total_adverse_events_study,
           subjects_with_serious_aes,
           round(cast(male_subjects AS DOUBLE) / total_subjects * 100, 1) AS male_percentage,
           round(cast(subjects_with_serious_aes AS DOUBLE) / total_subjects * 100, 1) AS serious_ae_rate_percent,
           round(avg_data_completeness * 100, 1) AS avg_data_completeness_percent
    FROM g
    """,
    "analytics/ae_rates_by_arm": """
    WITH ds AS (SELECT row_number() OVER (ORDER BY SUBJID) AS subject_sk,
                       SUBJID AS subject_id, ARM AS arm FROM dm),
    fae AS (SELECT s.subject_sk, CAST(a.AESTDTC AS DATE) AS ae_start, a.AESEV AS severity
            FROM ae a JOIN ds s ON s.subject_id = a.SUBJID)
    SELECT s.arm, CAST(date_part('day', ae_start) AS INTEGER) AS visit_day,
           round(avg(CASE WHEN severity IN ('SEVERE','SERIOUS') THEN 1 ELSE 0 END), 6) AS severe_rate
    FROM fae f JOIN ds s USING(subject_sk)
    GROUP BY s.arm, visit_day
    """,
    "analytics/lab_abnormality_rates": """
    WITH ds AS (SELECT row_number() OVER (ORDER BY SUBJID) AS subject_sk,
                       SUBJID AS subject_id, ARM AS arm FROM dm),
    fl AS (SELECT s.subject_sk, l.LBORRES AS value, l.LBLNOR AS low_norm, l.LBHNOR AS high_norm
           FROM lb l JOIN ds s ON s.subject_id = l.SUBJID)
    SELECT s.arm, count(*) AS n,
           round(avg(CASE WHEN value > high_norm OR value < low_norm THEN 1 ELSE 0 END), 6) AS abn_rate
    FROM fl f JOIN ds s USING(subject_sk)
    GROUP BY s.arm
    """,
    "analytics/vital_trend_summaries": """
    WITH ds AS (SELECT row_number() OVER (ORDER BY SUBJID) AS subject_sk,
                       SUBJID AS subject_id, ARM AS arm FROM dm)
    SELECT s.arm, upper(v.VSTESTCD) AS vs_code,
           round(avg(v.VSORRES), 6) AS mean_value,
           round(stddev(v.VSORRES), 6) AS sd_value,
           count(*) AS n
    FROM vs v JOIN ds s ON s.subject_id = v.SUBJID
    GROUP BY s.arm, vs_code
    """,
}


# dim_study_overview rounds to one decimal place, and Spark's round() and
# DuckDB's break an exact decimal half (e.g. 53.95) differently, so values
# there may be one step apart; everything else is rounded to 6 places.
_ATOL = {"marts/dim_study_overview": 0.1 + 1e-9}


def _frames_match(got, want, atol: float) -> bool:
    """Same rows, matched on the non-float columns, with float columns
    within ``atol``."""
    import numpy as np
    import pandas as pd

    if len(got) != len(want):
        return False
    keys = [c for c in want.columns if not pd.api.types.is_float_dtype(want[c])]
    if keys:
        got, want = (
            df.sort_values(keys, kind="mergesort").reset_index(drop=True) for df in (got, want)
        )
    for c in want.columns:
        a, b = got[c], want[c]
        if pd.api.types.is_float_dtype(b):
            if not np.allclose(a.astype(float), b, rtol=0, atol=atol, equal_nan=True):
                return False
        elif not (a.astype(str) == b.astype(str)).all():
            return False
    return True


def check_pipeline(workdir: str) -> list[str]:
    """Compare the marts and analytics run_demo wrote under ``workdir``
    with DuckDB SQL over its raw CSVs; returns one line per mismatch."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 1")
    for domain, cols in _RAW_CASTS.items():
        path = os.path.join(workdir, "raw", domain.upper(), "*.csv")
        con.execute(
            f"CREATE VIEW {domain} AS SELECT {cols} FROM "
            f"read_csv('{path}', header = true, all_varchar = true)"
        )
    problems = []
    for out, sql in _ORACLES.items():
        want = con.execute(sql).fetchdf()
        where = os.path.join(workdir, out)
        if out.startswith("marts/"):
            got = con.execute(f"SELECT * FROM read_parquet('{where}/*.parquet')").fetchdf()
        else:
            got = con.execute(
                f"SELECT * FROM read_csv('{where}/*.csv', header = true)"
            ).fetchdf()
        got = got[list(want.columns)]
        if not _frames_match(got, want, _ATOL.get(out, 1e-6)):
            problems.append(f"{out}: does not match the oracle ({len(got)} vs {len(want)} rows)")
    con.close()
    return problems
