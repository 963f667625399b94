"""End-to-end demo pipeline — the `make demo` orchestration
(Makefile:71-100 / ingestion/flows.py:20-26) as one Spark job graph:

  generate -> validate -> land(bronze) -> standardize(silver) -> star ->
  marts -> analytics CSVs -> features -> ML train/score -> report JSON

Each stage materializes to the medallion layout under ``workdir`` so any
stage can be re-run/inspected independently; everything between
materialization points is one lazy DataFrame DAG (SURVEY §3.1: the four
process boundaries of the reference collapse to Spark-internal exchanges).
Downstream stages read the outputs already written instead of re-deriving
them: analytics queries read ``star/``, the analytics row counts come from
the written CSVs, and the dashboard reads ``marts/fact_subject_outcomes``.
The subject feature table is the one in-memory input with several readers
(split, CV, scoring, dashboard), so it is cached for the ML and dashboard
stages.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession

from ..operators import checks as C
from . import analytics as A
from . import marts as M
from . import star as S
from .features import subject_level_features
from .ingest import land_to_bronze
from .adam import write_adsl
from .dashboard import dashboard_payload
from .ml import closed_form_risk, export_artifacts, score, train_with_report
from .standardize import DOMAIN_MAPPERS, standardize_bronze_to_sdtm
from .synthetic import generate_all

DOMAIN_RULES = {
    "DM": [
        C.not_null("STUDYID"),
        C.not_null("SUBJID"),
        C.unique("SUBJID"),
        C.regex("SUBJID", r"^[A-Z0-9\-]+$"),
        C.accepted_values("SEX", ["M", "F", "U"]),
        C.in_range("AGE", 0, 150),
    ],
    "AE": [
        C.not_null("SUBJID"),
        C.accepted_values("AESEV", ["MILD", "MODERATE", "SEVERE", "SERIOUS"]),
        C.accepted_values("AEOUT", ["RECOVERED", "RECOVERING", "NOT RECOVERED"]),
        C.cross_column("ae_dates_ordered", "AESTDTC <= AEENDTC"),
    ],
    "LB": [
        C.not_null("LBTESTCD"),
        C.str_length("LBTESTCD", 1, 8),
        C.regex("LBTESTCD", "^[A-Z]+$"),
        C.in_range("LBORRES", lo=0),
        C.cross_column("norm_range_ordered", "LBLNOR <= LBHNOR"),
    ],
    "VS": [C.not_null("VSTESTCD"), C.in_range("VSORRES", lo=0)],
    "EX": [
        C.in_range("EXDOSE", lo=0),
        C.cross_column("ex_dates_ordered", "EXSTDTC <= EXENDTC"),
    ],
}


def _read_back(df: DataFrame, path: str) -> DataFrame:
    """``df`` as read from the parquet it was just written to. Its schema is
    already known, so Spark runs no schema-inference job for the read."""
    return df.sparkSession.read.schema(df.schema).parquet(path)


def run_demo(
    spark: SparkSession, workdir: str, n_subjects: int = 200, seed: int = 42
) -> dict:
    """Run the full pipeline; returns the JSON-able run report
    (shape of validation/validator.py:63-77 + stage timings)."""
    t0 = time.perf_counter()
    report: dict = {"stages": {}, "validation": {}, "analytics": {}, "ml": {}}

    def stage(name):
        report["stages"][name] = round(time.perf_counter() - t0, 2)

    # 1. generate + write raw CSVs (the landing zone)
    raw_dir = os.path.join(workdir, "raw")
    silver_src = generate_all(spark, n_subjects, seed)
    csv_paths = {}
    for domain, df in silver_src.items():
        path = os.path.join(raw_dir, domain)
        df.coalesce(1).write.mode("overwrite").option("header", True).csv(path)
        csv_paths[domain] = path
    stage("generate")

    # 2. validate (one aggregation pass per domain; fail-fast summary)
    for domain, rules in DOMAIN_RULES.items():
        rep = C.check_report(silver_src[domain], rules).collect()
        report["validation"][domain] = {
            r["rule"]: int(r["violations"]) for r in rep
        }
    stage("validate")

    # 3. land -> bronze (Hive-partitioned parquet)
    bronze = os.path.join(workdir, "bronze")
    land_to_bronze(spark, csv_paths, bronze)
    stage("bronze")

    # 4. standardize -> silver
    silver_dir = os.path.join(workdir, "silver")
    schemas = standardize_bronze_to_sdtm(
        spark, f"{bronze}/study_id=STUDY001", silver_dir
    )
    silver = {
        d: DOMAIN_MAPPERS[d](
            spark.read.schema(schemas[d]).parquet(f"{silver_dir}/{d}.parquet")
        )
        for d in DOMAIN_RULES
    }
    # ADaM deliverable lives beside the silver SDTM domains
    # (standards/adam/build_adsl.py writes <standardized>/ADSL.parquet)
    write_adsl(silver["DM"], silver["AE"], silver_dir)
    stage("silver")

    # 5. star schema
    star = S.build_star(spark, silver)
    star_dir = os.path.join(workdir, "star")
    for name, df in star.items():
        df.write.mode("overwrite").parquet(os.path.join(star_dir, name))
    star = {n: _read_back(df, os.path.join(star_dir, n)) for n, df in star.items()}
    stage("star")

    # 6. marts
    marts = M.build_marts(silver)
    marts_dir = os.path.join(workdir, "marts")
    for name in ["fact_subject_outcomes", "dim_study_overview"]:
        marts[name].write.mode("overwrite").parquet(os.path.join(marts_dir, name))
    stage("marts")

    # 7. curated analytics -> CSV (queries.py:71-85)
    out_dir = os.path.join(workdir, "analytics")
    qs = {
        "ae_rates_by_arm": A.ae_rates_by_arm(
            star["fact_adverse_events"], star["dim_subject"]
        ),
        "lab_abnormality_rates": A.lab_abnormality_rates(
            star["fact_labs"], star["dim_subject"]
        ),
        "vital_trend_summaries": A.vital_trend_summaries(
            star["fact_vitals"], star["dim_subject"], star["dim_measurement"]
        ),
    }
    for name, df in qs.items():
        path = os.path.join(out_dir, name)
        df.coalesce(1).write.mode("overwrite").option("header", True).csv(path)
        report["analytics"][name] = (
            spark.read.schema(df.schema).option("header", True).csv(path).count()
        )
    stage("analytics")

    # 8. ML train + 5-fold CV + artifact export + batch score -> RISK parquet
    feats = subject_level_features(silver["DM"], silver["AE"]).cache()
    try:
        model, ml_report, scored_test = train_with_report(feats, seed)
        try:
            if not ml_report["performance_gate"]["passed"]:
                raise RuntimeError(
                    f"performance gates failed: {ml_report['performance_gate']}"
                )
            export_artifacts(
                os.path.join(workdir, "model_artifacts"), ml_report, scored_test
            )
        finally:
            scored_test.unpersist()
        risks = score(model, feats)
        risks.write.mode("overwrite").parquet(os.path.join(workdir, "predictions"))
        closed_form_risk(feats.na.fill({"AGE": 0})).write.mode("overwrite").parquet(
            os.path.join(workdir, "predictions_closed_form")
        )
        report["ml"] = {
            "auc": round(ml_report["validation_metrics"]["auc"], 4),
            "ap": round(ml_report["validation_metrics"]["average_precision"], 4),
            "cv_auc": round(ml_report["cross_validation"]["mean_cv_auc"], 4),
            "n_scored": risks.count(),
        }
        stage("ml")

        # 9. dashboard chart-data payload (ui/dashboard.py parity) — the
        # serving layer exposes this JSON at /dashboard without touching Spark
        outcomes = _read_back(
            marts["fact_subject_outcomes"],
            os.path.join(marts_dir, "fact_subject_outcomes"),
        )
        payload = dashboard_payload(outcomes, feats)
    finally:
        feats.unpersist()
    with open(os.path.join(workdir, "dashboard.json"), "w") as f:
        json.dump(payload, f, indent=2)
    stage("dashboard")

    report["wall_s"] = round(time.perf_counter() - t0, 2)
    with open(os.path.join(workdir, "run_report.json"), "w") as f:
        json.dump(report, f, indent=2)
    return report


if __name__ == "__main__":
    import argparse

    from ..session import get_spark

    parser = argparse.ArgumentParser(description="Run the demo pipeline")
    parser.add_argument("--workdir", default="/tmp/cdp_demo")
    parser.add_argument("--subjects", type=int, default=500)
    parser.add_argument("--seed", type=int, default=42)
    args = parser.parse_args()
    rep = run_demo(get_spark("demo"), args.workdir, args.subjects, args.seed)
    import json as _json

    print(_json.dumps(rep, indent=2))
