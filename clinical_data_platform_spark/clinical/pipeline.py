"""End-to-end demo pipeline — the `make demo` orchestration
(Makefile:71-100 / ingestion/flows.py:20-26) as one Spark job graph:

  generate | validate -> land(bronze) -> standardize(silver) ->
      (star -> analytics CSVs | marts -> dashboard | features -> ML) -> report

Each stage materializes to the medallion layout under ``workdir`` so any
stage can be re-run/inspected independently; everything between
materialization points is one lazy DataFrame DAG (SURVEY §3.1: the four
process boundaries of the reference collapse to Spark-internal exchanges).
Work that does not depend on each other runs at the same time
(``session.concurrently``): the raw CSV writes with the validation passes,
the domains within bronze and within silver, the three branches after
silver, and the star tables and analytics CSVs within theirs. Downstream
stages read the outputs already written instead of re-deriving them:
analytics queries read ``star/``, the analytics row counts come from the
written CSVs, and ``dim_study_overview`` and the dashboard read
``marts/fact_subject_outcomes``. The subject feature table is the one
in-memory input with several readers (split, CV, scoring, dashboard), so it
is cached across the branches.

``report["stages"]`` marks are the running maximum, in stage order, of each
stage's completion time (its last write or collect), so the step from one
mark to the next is the stage's increment to the critical path.
"""

from __future__ import annotations

import json
import os
import time
from functools import partial

from pyspark.sql import DataFrame, SparkSession

from ..operators import checks as C
from ..session import concurrently
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

STAGES = (
    "generate", "validate", "bronze", "silver", "star", "marts", "analytics", "ml",
    "dashboard",
)

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
    ends: list[tuple[str, float]] = []  # (stage, seconds) per finished piece

    def done(stage: str) -> None:
        ends.append((stage, time.perf_counter() - t0))

    def write_csv(df: DataFrame, path: str) -> None:
        df.coalesce(1).write.mode("overwrite").option("header", True).csv(path)

    def write_parquet(df: DataFrame, path: str) -> None:
        df.write.mode("overwrite").parquet(path)

    # 1. generate -> raw CSVs (the landing zone), and validate (one
    # aggregation pass per domain) the same in-memory frames alongside
    raw_dir = os.path.join(workdir, "raw")
    generated = generate_all(spark, n_subjects, seed)
    csv_paths = {d: os.path.join(raw_dir, d) for d in generated}

    def write_raw(domain: str) -> None:
        write_csv(generated[domain], csv_paths[domain])
        done("generate")

    def validate(domain: str) -> dict:
        rep = C.check_report(generated[domain], DOMAIN_RULES[domain]).collect()
        done("validate")
        return {r["rule"]: int(r["violations"]) for r in rep}

    outs = concurrently(
        spark,
        [partial(write_raw, d) for d in csv_paths]
        + [partial(validate, d) for d in DOMAIN_RULES],
    )
    report["validation"] = dict(zip(DOMAIN_RULES, outs[len(csv_paths):]))

    # 2. land -> bronze (Hive-partitioned parquet)
    bronze = os.path.join(workdir, "bronze")
    land_to_bronze(spark, csv_paths, bronze)
    done("bronze")

    # 3. standardize -> silver
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
    done("silver")

    # read by ML and the dashboard; unpersisted once every branch is done
    feats = subject_level_features(silver["DM"], silver["AE"]).cache()

    # 4a. star schema, then curated analytics -> CSV (queries.py:71-85)
    def star_then_analytics() -> None:
        star_dir = os.path.join(workdir, "star")
        built = S.build_star(spark, silver)
        paths = {n: os.path.join(star_dir, n) for n in built}
        concurrently(
            spark, [partial(write_parquet, df, paths[n]) for n, df in built.items()]
        )
        done("star")
        star = {n: _read_back(df, paths[n]) for n, df in built.items()}
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

        def write_analytics(name: str) -> int:
            path = os.path.join(workdir, "analytics", name)
            write_csv(qs[name], path)
            back = spark.read.schema(qs[name].schema).option("header", True)
            return back.csv(path).count()

        counts = concurrently(spark, [partial(write_analytics, n) for n in qs])
        report["analytics"] = dict(zip(qs, counts))
        done("analytics")

    # 4b. marts, then the dashboard chart-data payload (ui/dashboard.py
    # parity) — the serving layer exposes this JSON at /dashboard without
    # touching Spark. Both read the written subject-outcomes mart.
    def marts_then_dashboard() -> None:
        marts_dir = os.path.join(workdir, "marts")
        path = os.path.join(marts_dir, "fact_subject_outcomes")
        outcomes = M.build_marts(silver)["fact_subject_outcomes"]
        write_parquet(outcomes, path)
        outcomes = _read_back(outcomes, path)
        write_parquet(
            M.dim_study_overview(outcomes), os.path.join(marts_dir, "dim_study_overview")
        )
        done("marts")
        payload = dashboard_payload(outcomes, feats)
        with open(os.path.join(workdir, "dashboard.json"), "w") as f:
            json.dump(payload, f, indent=2)
        done("dashboard")

    # 4c. ML train + 5-fold CV + artifact export + batch score -> RISK parquet
    def ml() -> None:
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
        write_parquet(risks, os.path.join(workdir, "predictions"))
        write_parquet(
            closed_form_risk(feats.na.fill({"AGE": 0})),
            os.path.join(workdir, "predictions_closed_form"),
        )
        report["ml"] = {
            "auc": round(ml_report["validation_metrics"]["auc"], 4),
            "ap": round(ml_report["validation_metrics"]["average_precision"], 4),
            "cv_auc": round(ml_report["cross_validation"]["mean_cv_auc"], 4),
            "n_scored": risks.count(),
        }
        done("ml")

    try:
        concurrently(spark, [star_then_analytics, marts_then_dashboard, ml])
    finally:
        feats.unpersist()

    mark = 0.0
    for name in STAGES:
        mark = max([mark] + [t for stage, t in ends if stage == name])
        report["stages"][name] = round(mark, 2)
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
