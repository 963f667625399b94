"""Standardize / ingest / redaction / ML tests."""

from __future__ import annotations

import json
import os

import numpy as np
import pyspark.sql.functions as F
import pyspark.sql.types as T

from clinical_data_platform_spark.clinical import standardize as STD
from clinical_data_platform_spark.clinical.features import subject_level_features
from clinical_data_platform_spark.clinical.ingest import (
    infer_dtypes,
    land_to_bronze,
    read_csv_normalized,
)
from clinical_data_platform_spark.clinical.ml import closed_form_risk, score
from clinical_data_platform_spark.clinical.redaction import (
    detokenize_value,
    redact_columns,
    shift_dates,
    tokenize_column,
)


def test_mapper_drops_extras_and_coerces(spark):
    df = spark.createDataFrame(
        [("STUDY001", "S1", "ACTIVE", "M", "55.5", "EXTRA")],
        "STUDYID STRING, SUBJID STRING, ARM STRING, SEX STRING, AGE STRING, JUNK STRING",
    )
    out = STD.map_dm(df)
    assert out.columns == ["STUDYID", "SUBJID", "ARM", "SEX", "AGE"]  # JUNK dropped
    assert isinstance(out.schema["AGE"].dataType, T.DoubleType)
    assert out.first()["AGE"] == 55.5


def test_mapper_null_on_error(spark):
    df = spark.createDataFrame(
        [("STUDY001", "S1", "not-a-date", None, "MILD", None, None)],
        "STUDYID STRING, SUBJID STRING, AESTDTC STRING, AEENDTC STRING, "
        "AESEV STRING, AESER STRING, AEOUT STRING",
    )
    row = STD.map_ae(df).first()
    assert row["AESTDTC"] is None  # coerce semantics: bad input -> NULL


def test_ingest_roundtrip(spark, silver, tmp_path):
    csv_dir = tmp_path / "csv"
    csv_dir.mkdir()
    pdfs = {d: silver[d].toPandas() for d in ("DM", "AE")}
    csvs = {d: str(csv_dir / f"{d}.csv") for d in pdfs}
    for d, pdf in pdfs.items():
        pdf.to_csv(csvs[d], index=False)

    bronze = str(tmp_path / "bronze")
    land_to_bronze(spark, csvs, bronze)
    back = spark.read.parquet(f"{bronze}/study_id=STUDY001/domain=DM")
    assert back.count() == len(pdfs["DM"])

    def partition_counts():
        # reading the root discovers both keys as partition columns
        rows = spark.read.parquet(bronze).groupBy("study_id", "domain").count().collect()
        return {(r["study_id"], r["domain"]): r["count"] for r in rows}

    assert partition_counts() == {("STUDY001", d): len(pdf) for d, pdf in pdfs.items()}

    # re-landing one domain replaces that domain only
    ae_dir = os.path.join(bronze, "study_id=STUDY001", "domain=AE")

    def ae_files():
        return {f: os.path.getmtime(os.path.join(ae_dir, f)) for f in os.listdir(ae_dir)}

    ae_before = ae_files()
    pdfs["DM"].head(10).to_csv(csvs["DM"], index=False)
    land_to_bronze(spark, {"DM": csvs["DM"]}, bronze)
    assert partition_counts() == {
        ("STUDY001", "DM"): 10,
        ("STUDY001", "AE"): len(pdfs["AE"]),
    }
    assert ae_files() == ae_before

    dtypes = infer_dtypes(read_csv_normalized(spark, csvs["DM"]))
    assert dtypes["AGE"] == "float64" and dtypes["SUBJID"] == "string"


def test_redaction_battery(spark):
    df = spark.createDataFrame(
        [
            (1, "ssn 123-45-6789 phone (555) 123-4567 mail a.b@x.co dob 2001-02-03"),
            (2, "patient=John Smith; plain text stays"),
        ],
        "id BIGINT, note STRING",
    )
    out = {r.id: r.note for r in redact_columns(df, ["note"]).collect()}
    assert "123-45-6789" not in out[1] and "a.b@x.co" not in out[1]
    assert "2001-02-03" not in out[1]
    assert "John Smith" not in out[2]
    assert "plain text stays" in out[2]


def test_redaction_mrn_lookahead(spark):
    """MRN ids are caught when 'mrn' appears later in the text — the
    lookahead pattern from compliance/phi_redaction.py:17 (round-1 ADVICE:
    it was missing from PHI_PATTERNS)."""
    from clinical_data_platform_spark.clinical.redaction import redact_text_str

    df = spark.createDataFrame(
        [(1, "id ABC12345 recorded under mrn yesterday"), (2, "short a1 mrn")],
        "id BIGINT, note STRING",
    )
    out = {r.id: r.note for r in redact_columns(df, ["note"]).collect()}
    assert "ABC12345" not in out[1]
    # Intentional over-redaction (r2 ADVICE, pinned deliberately): the
    # reference lookahead redacts EVERY 6-12 char alphanumeric token that
    # precedes a later 'mrn' — 'recorded' goes too. Parity-correct and
    # errs on the safe side for PHI.
    assert "recorded" not in out[1]
    assert "a1" in out[2]  # <6 chars: not MRN-shaped
    # driver-side twin (serving error scrubber path) agrees
    assert "ABC12345" not in redact_text_str("id ABC12345 recorded under mrn")


def test_tokenize_roundtrip(spark):
    df = spark.createDataFrame([("SUBJ0001",), ("SUBJ0002",)], "SUBJID STRING")
    tok = tokenize_column(df, "SUBJID", key="k3y").collect()
    values = {detokenize_value(r.SUBJID, "k3y") for r in tok}
    assert values == {"SUBJ0001", "SUBJ0002"}
    assert detokenize_value(tok[0].SUBJID, "wrong") is None


def test_shift_dates(spark):
    df = spark.createDataFrame([("2024-01-01",)], "d STRING").select(
        F.col("d").cast("date").alias("d")
    )
    assert str(shift_dates(df, "d", 30).first()["d"]) == "2024-01-31"


def test_cross_validate_cv_auc(spark, silver):
    """5-fold CV parity with ml/train.py:135 cross_val_score(cv=5):
    mean/std/per-fold scores, deterministic stratified folds. pyspark's
    CrossValidator on the same folds is the reference: each fold's AUC is
    its sub-model's AUC on the held-out fold. The tolerance is 1e-4 because
    a fold's AUC moves by up to 1e-5 between identical fits (shuffle-read
    row order)."""
    from pyspark.ml.tuning import CrossValidator, ParamGridBuilder

    from clinical_data_platform_spark.clinical.ml import (
        AUC_GATE,
        _evaluator,
        build_pipeline,
        cross_validate,
        prepare,
        with_folds,
    )

    feats = subject_level_features(silver["DM"], silver["AE"])
    cv = cross_validate(feats, folds=5, seed=42)
    assert cv["mean_cv_auc"] >= AUC_GATE
    assert len(cv["cv_scores"]) == 5
    assert all(0.0 <= s <= 1.0 for s in cv["cv_scores"])
    assert cv["mean_cv_auc"] == float(np.mean(cv["cv_scores"]))
    assert cv["std_cv_auc"] == float(np.std(cv["cv_scores"]))

    data = with_folds(prepare(feats), 5, 42).cache()
    try:
        ev = _evaluator("areaUnderROC")
        ref = CrossValidator(
            estimator=build_pipeline(),
            estimatorParamMaps=ParamGridBuilder().build(),
            evaluator=ev,
            numFolds=5,
            foldCol="fold",
            collectSubModels=True,
        ).fit(data)
        ref_scores = [
            ev.evaluate(ref.subModels[i][0].transform(data.filter(F.col("fold") == i)))
            for i in range(5)
        ]
    finally:
        data.unpersist()
    assert np.allclose(cv["cv_scores"], ref_scores, rtol=0, atol=1e-4)
    assert abs(cv["mean_cv_auc"] - ref.avgMetrics[0]) < 1e-4
    assert abs(cv["std_cv_auc"] - ref.stdMetrics[0]) < 1e-4


def test_cross_validate_jobs_keep_callers_job_group(spark, silver):
    """The fold fits run on worker threads; every job they start must stay
    in the caller's job group, or per-group accounting (the status store
    read by the benchmark's tracer) silently drops them."""
    from clinical_data_platform_spark.clinical.ml import cross_validate

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs(group):
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(tracker.getJobIdsForGroup(group))

    feats = subject_level_features(silver["DM"], silver["AE"])
    ungrouped = jobs(None)
    sc.setJobGroup("cv-job-group", "cross_validate")
    try:
        cross_validate(feats, folds=5, seed=42)
    finally:
        sc._jsc.clearJobGroup()
    # each fold fits a scaler and runs logreg iterations: >= 2 jobs a fold
    assert len(jobs("cv-job-group")) >= 10
    assert jobs(None) - ungrouped == set()


def test_train_with_report_and_artifacts(spark, silver, tmp_path):
    """Artifact set parity with ml/train.py:300-359: ROC/PR points,
    confusion matrix at 0.5, performance report, gate verdict — and the
    exported ROC points must integrate (trapezoid) back to the AUC."""
    from clinical_data_platform_spark.clinical.ml import (
        export_artifacts,
        train_with_report,
    )

    feats = subject_level_features(silver["DM"], silver["AE"])
    model, report, scored = train_with_report(feats, seed=42)
    assert report["performance_gate"]["passed"]
    cm = report["confusion_matrix"]
    assert sum(cm.values()) == report["data_summary"]["n_val"]
    vm = report["validation_metrics"]
    assert all(0.0 <= vm[k] <= 1.0 for k in vm)
    assert set(report["feature_importance"]) == {"AGE", "AE_COUNT", "SEVERE_AE_COUNT"}
    risks = score(model, feats)
    lo, hi = risks.agg(F.min("RISK"), F.max("RISK")).first()
    assert 0.0 <= lo and hi <= 1.0
    assert risks.count() == silver["DM"].count()

    out = tmp_path / "model_artifacts"
    written = export_artifacts(str(out), report, scored)
    for name in (
        "roc_curve.json",
        "precision_recall_curve.json",
        "confusion_matrix.json",
        "performance_report.json",
        "gate_report.json",
    ):
        assert (out / name).exists(), name
    assert len(written) == 5

    with open(out / "roc_curve.json") as f:
        roc = json.load(f)
    assert roc[0] == {"threshold": 1.0, "fpr": 0.0, "tpr": 0.0}
    assert roc[-1]["fpr"] == 1.0 and roc[-1]["tpr"] == 1.0
    trapezoid = sum(
        (b["fpr"] - a["fpr"]) * (a["tpr"] + b["tpr"]) / 2
        for a, b in zip(roc, roc[1:])
    )
    assert abs(trapezoid - vm["auc"]) < 1e-3
    with open(out / "gate_report.json") as f:
        assert json.load(f)["passed"] is True


def test_closed_form_risk(spark, silver):
    feats = subject_level_features(silver["DM"], silver["AE"]).na.fill({"AGE": 0})
    out = closed_form_risk(feats).toPandas()
    assert out.risk.between(0, 1).all()
    assert set(out.confidence) <= {"low", "medium", "high"}


def test_stateful_stream_totals_match_batch(spark):
    from clinical_data_platform_spark.streaming.stateful import running_user_totals
    from clinical_data_platform_spark.catalog import table as T

    sf = "/root/testdata/sf0.001"
    out = running_user_totals(spark, sf).toPandas().set_index("user_id")
    batch = (
        T(spark, sf, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .toPandas()
        .set_index("user_id")
    )
    assert out["n_events"].sort_index().equals(batch["n_events"].sort_index())
    assert out["total_value"].sort_index().equals(batch["total_value"].sort_index())


def test_stream_foreachbatch_sink(spark, tmp_path):
    from clinical_data_platform_spark.streaming.events_stream import (
        stream_to_parquet_batches,
    )
    from clinical_data_platform_spark.catalog import table as T

    sf = "/root/testdata/sf0.001"
    out = str(tmp_path / "hourly")
    n_batches = stream_to_parquet_batches(spark, sf, out)
    assert n_batches >= 1
    written = spark.read.parquet(out)
    total = written.agg(F.sum("n")).first()[0]
    assert total == T(spark, sf, "events").count()


def test_streaming_watermark_drops_late_data(spark, tmp_path):
    """Append-mode windowed agg over two micro-batches: an event arriving
    after the watermark passed its window must be DROPPED (late-data
    policy), and on-time windows must emit exactly once."""
    import time

    src = tmp_path / "stream_src"
    src.mkdir()
    schema = "event_id BIGINT, ts TIMESTAMP, value DOUBLE"

    def write_file(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / name))
        import glob, shutil
        part = glob.glob(str(tmp_path / name / "part-*.parquet"))[0]
        shutil.copy(part, str(src / f"{name}.parquet"))

    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    # batch 1: events in hours 0 and 3 -> watermark advances to 3:00 - 1h = 2:00
    write_file("b1", [(1, t0, 1.0), (2, t0.replace(hour=3), 1.0)])

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("h"), "n")
    )
    name = "late_test_sink"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        time.sleep(4)
        # batch 2: one LATE event (hour 0, before watermark 2:00) and one
        # on-time event (hour 4)
        write_file("b2", [(3, t0.replace(minute=30), 9.0), (4, t0.replace(hour=4), 1.0)])
        time.sleep(5)
        # batch 3: push watermark far forward so hour-3/4 windows close
        write_file("b3", [(5, t0.replace(hour=8), 1.0)])
        deadline = time.time() + 30
        while time.time() < deadline:
            rows = {str(r.h): r.n for r in spark.table(name).collect()}
            if "2024-01-01 03:00:00" in rows and "2024-01-01 04:00:00" in rows:
                break
            time.sleep(1)
    finally:
        q.stop()
    rows = {str(r.h): r.n for r in spark.table(name).collect()}
    # hour-0 window closed with ONLY the on-time event: the late one dropped
    assert rows.get("2024-01-01 00:00:00") == 1, rows
    assert rows.get("2024-01-01 03:00:00") == 1, rows
    assert rows.get("2024-01-01 04:00:00") == 1, rows


def test_csv_malformed_row_handling(spark, tmp_path):
    """CSV parse-error policies (S-family depth): PERMISSIVE captures the
    corrupt line in _corrupt_record; DROPMALFORMED silently drops it."""
    p = tmp_path / "bad.csv"
    p.write_text(
        "STUDYID,SUBJID,AGE\n"
        "STUDY001,SUBJ0001,42.5\n"
        'STUDY001,"SUBJ0002,not_closed\n'   # unclosed quote -> malformed
        "STUDY001,SUBJ0003,55.0\n"
    )
    schema = "STUDYID STRING, SUBJID STRING, AGE DOUBLE, _corrupt_record STRING"
    permissive = (
        spark.read.schema(schema)
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(str(p))
        .cache()
    )
    assert permissive.count() == 3
    corrupt = permissive.filter(F.col("_corrupt_record").isNotNull())
    assert corrupt.count() == 1
    dropped = (
        spark.read.schema("STUDYID STRING, SUBJID STRING, AGE DOUBLE")
        .option("header", True)
        .option("mode", "DROPMALFORMED")
        .csv(str(p))
    )
    assert {r.SUBJID for r in dropped.collect()} == {"SUBJ0001", "SUBJ0003"}


def test_transform_with_state_extremes(spark):
    """transformWithStateInPandas running min/max == batch min/max.
    Skips where the state-server protocol deps (google.protobuf) are
    unavailable — the operator code itself is environment-independent."""
    from clinical_data_platform_spark.streaming.stateful import user_value_extremes
    from clinical_data_platform_spark.catalog import table as T
    import pytest as _pytest

    sf = "/root/testdata/sf0.001"
    try:
        out = user_value_extremes(spark, sf).toPandas().set_index("user_id")
    except Exception as e:
        if any(
            marker in str(e)
            for marker in (
                "protobuf",
                "STREAMING_PYTHON_RUNNER",
                "TransformWithStateInPySpark",
            )
        ):
            _pytest.skip(f"transformWithStateInPandas unavailable here: protobuf broken")
        raise
    batch = (
        T(spark, sf, "events")
        .groupBy("user_id")
        .agg(F.round(F.min("value"), 6).alias("min_value"),
             F.round(F.max("value"), 6).alias("max_value"))
        .toPandas()
        .set_index("user_id")
    )
    assert out.sort_index().equals(batch.sort_index())
