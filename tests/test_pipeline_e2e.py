"""Full `make demo` parity run: generate -> validate -> bronze -> silver ->
star -> marts -> analytics -> ML, end to end in one call."""

from __future__ import annotations

import json
import os

from clinical_data_platform_spark.clinical.pipeline import run_demo


def test_run_demo_end_to_end(spark, tmp_path):
    def persistent_ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs(group):
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(tracker.getJobIdsForGroup(group))

    cached_before = persistent_ids()
    ungrouped = jobs(None)
    sc.setJobGroup("run-demo-group", "run_demo")
    try:
        report = run_demo(spark, str(tmp_path), n_subjects=120, seed=42)
    finally:
        sc._jsc.clearJobGroup()
    # every RDD run_demo caches is unpersisted before it returns. A set
    # difference, not a size check: Spark's ContextCleaner may drop RDDs
    # that earlier tests localCheckpointed while run_demo runs.
    assert persistent_ids() - cached_before == set()
    # the stages run on worker threads; every job they start stays in the
    # caller's job group, which per-group accounting (the benchmark's
    # tracer) reads
    assert jobs("run-demo-group")
    assert jobs(None) - ungrouped == set()

    # every stage ran; the marks are running maxima of completion times
    assert list(report["stages"]) == [
        "generate", "validate", "bronze", "silver", "star", "marts",
        "analytics", "ml", "dashboard",
    ]
    marks = list(report["stages"].values())
    assert marks == sorted(marks) and marks[-1] <= report["wall_s"]
    # validation catches the injected SEX='X' row and nothing else on DM PKs
    dm = report["validation"]["DM"]
    assert dm["accepted_values__SEX"] == 1
    assert dm["not_null__SUBJID"] == 0 and dm["unique__SUBJID"] == 0
    # medallion artifacts exist
    for p in [
        "bronze/study_id=STUDY001/domain=DM",
        "silver/DM.parquet",
        "star/fact_adverse_events",
        "marts/fact_subject_outcomes",
        "predictions",
        "run_report.json",
        "model_artifacts/roc_curve.json",
        "model_artifacts/precision_recall_curve.json",
        "model_artifacts/confusion_matrix.json",
        "model_artifacts/performance_report.json",
        "model_artifacts/gate_report.json",
        "dashboard.json",
    ]:
        assert os.path.exists(tmp_path / p), p
    # analytics produced rows; ML passed its gates (holdout + 5-fold CV)
    assert all(n > 0 for n in report["analytics"].values())
    assert report["ml"]["auc"] >= 0.65 and report["ml"]["ap"] >= 0.60
    assert 0.0 <= report["ml"]["cv_auc"] <= 1.0
    assert report["ml"]["n_scored"] == 120
    # report round-trips as JSON
    with open(tmp_path / "run_report.json") as f:
        assert json.load(f)["ml"]["n_scored"] == 120

    # scored risks line up with the mart's subject count
    risks = spark.read.parquet(str(tmp_path / "predictions"))
    outcomes = spark.read.parquet(str(tmp_path / "marts/fact_subject_outcomes"))
    assert risks.count() == outcomes.count() == 120
