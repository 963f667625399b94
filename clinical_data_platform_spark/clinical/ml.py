"""MLlib risk model: parity with ml/train.py:181-359 and ml/infer.py:15-26.

Reference recipe: features [AGE, AE_COUNT, SEVERE_AE_COUNT], target
SEVERE_AE_COUNT > 0 (NB: the target is derived from a feature — the
reference leaks deliberately for its demo; reproduced as-is, which is why
the AUC >= 0.65 / AP >= 0.6 gates are trivially satisfiable), 70/30
stratified split, StandardScaler -> LogisticRegression(C=1.0, maxIter=200),
metrics areaUnderROC / areaUnderPR.

Spark shape: VectorAssembler -> StandardScaler -> LogisticRegression in a
pyspark.ml Pipeline; stratified split via sampleBy; evaluators from
BinaryClassificationEvaluator. Batch scoring = model.transform + prob[1].
5-fold CV fits its folds concurrently, beside the holdout fit, and refits
no all-data model.
"""

from __future__ import annotations

import json
import os
from functools import partial

import numpy as np
import pyspark.sql.functions as F
from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import LogisticRegression
from pyspark.ml.evaluation import BinaryClassificationEvaluator
from pyspark.ml.feature import StandardScaler, VectorAssembler
from pyspark.ml.functions import vector_to_array
from pyspark.sql import DataFrame, Window

from ..session import concurrently

FEATURES = ["AGE", "AE_COUNT", "SEVERE_AE_COUNT"]
AUC_GATE, AP_GATE = 0.65, 0.60


def prepare(features_df: DataFrame) -> DataFrame:
    out = features_df
    for c in FEATURES:
        out = out.withColumn(c, F.coalesce(F.col(c).cast("double"), F.lit(0.0)))
    return out.withColumn(
        "label", (F.col("SEVERE_AE_COUNT") > 0).cast("double")
    )


def build_pipeline() -> Pipeline:
    assembler = VectorAssembler(inputCols=FEATURES, outputCol="features_raw")
    scaler = StandardScaler(
        inputCol="features_raw", outputCol="features", withMean=True, withStd=True
    )
    # sklearn C=1.0 L2 ~ small ridge; regParam tuned to the same order
    lr = LogisticRegression(
        featuresCol="features", labelCol="label", maxIter=200, regParam=0.01
    )
    return Pipeline(stages=[assembler, scaler, lr])


def stratified_split(df: DataFrame, test_frac: float = 0.3, seed: int = 42):
    """70/30 stratified by label (sampleBy keeps class balance)."""
    train = df.sampleBy("label", {0.0: 1 - test_frac, 1.0: 1 - test_frac}, seed)
    test = df.join(train.select("STUDYID", "SUBJID"), ["STUDYID", "SUBJID"], "left_anti")
    return train, test


def _evaluator(metric: str) -> BinaryClassificationEvaluator:
    return BinaryClassificationEvaluator(
        labelCol="label", rawPredictionCol="rawPrediction", metricName=metric
    )


def with_folds(prepared: DataFrame, folds: int = 5, seed: int = 42) -> DataFrame:
    """Deterministic STRATIFIED fold ids (reference cross_val_score uses
    StratifiedKFold by default for classifiers): within each label, rows are
    hash-ordered and dealt round-robin into `folds` buckets. The window is
    partitioned by label — two partitions here, which is fine for a
    subject-level feature table (one row per subject, always dwarfed by the
    fact tables it is derived from)."""
    w = Window.partitionBy("label").orderBy(
        F.xxhash64("STUDYID", "SUBJID", F.lit(seed))
    )
    return prepared.withColumn(
        "fold", ((F.row_number().over(w) - 1) % folds).cast("int")
    )


def cross_validate(features_df: DataFrame, folds: int = 5, seed: int = 42) -> dict:
    """5-fold cross-validated AUC — parity with ml/train.py:135
    `cross_val_score(pipe, X_train, y_train, cv=5, scoring='roc_auc')`.

    Fold i fits the assembler->scaler->logreg pipeline on `fold != i` of the
    deterministic stratified folds and scores AUC once on `fold == i`. The
    folds run concurrently, one thread each under the caller's job group,
    and no model is refit on all rows. mean/std are np.mean/np.std of the
    fold scores, as pyspark's CrossValidator computes avgMetrics/stdMetrics."""
    data = with_folds(prepare(features_df), folds, seed).cache()

    def fold_auc(i: int) -> float:
        model = build_pipeline().fit(data.filter(F.col("fold") != i))
        held_out = model.transform(data.filter(F.col("fold") == i))
        return float(_evaluator("areaUnderROC").evaluate(held_out))

    try:
        scores = concurrently(
            data.sparkSession, [partial(fold_auc, i) for i in range(folds)]
        )
    finally:
        data.unpersist()
    return {
        "mean_cv_auc": float(np.mean(scores)),
        "std_cv_auc": float(np.std(scores)),
        "cv_scores": scores,
    }


def _confusion(scored: DataFrame) -> dict:
    """tn/fp/fn/tp at the 0.5 threshold in ONE aggregation pass
    (LogisticRegression's `prediction` column uses threshold 0.5)."""
    hit = lambda lbl, prd: F.sum(
        ((F.col("label") == lbl) & (F.col("prediction") == prd)).cast("long")
    )
    row = scored.agg(
        hit(0.0, 0.0).alias("tn"),
        hit(0.0, 1.0).alias("fp"),
        hit(1.0, 0.0).alias("fn"),
        hit(1.0, 1.0).alias("tp"),
    ).first()
    return {k: int(row[k]) for k in ("tn", "fp", "fn", "tp")}


def _prf(tp: int, fp: int, fn: int) -> tuple[float, float, float]:
    prec = tp / (tp + fp) if tp + fp else 0.0
    rec = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
    return prec, rec, f1


def model_report(
    model: PipelineModel, train_prepared: DataFrame, scored_test: DataFrame
) -> dict:
    """Performance report mirroring ml/train.py:219-296
    `generate_model_report`: validation metrics (AUC/AP/accuracy + per-class
    precision/recall/f1 from the 0.5-threshold confusion), feature
    importance (logreg coefficients on scaled features, like the
    reference's pipeline coef_), and data summary. Cross-validation is
    attached by the caller (train_with_report)."""
    auc = _evaluator("areaUnderROC").evaluate(scored_test)
    ap = _evaluator("areaUnderPR").evaluate(scored_test)
    cm = _confusion(scored_test)
    p_hi, r_hi, f_hi = _prf(cm["tp"], cm["fp"], cm["fn"])
    p_lo, r_lo, f_lo = _prf(cm["tn"], cm["fn"], cm["fp"])
    n_val = sum(cm.values())
    tr_row = train_prepared.agg(
        F.count("*").alias("n"), F.avg("label").alias("pos")
    ).first()
    lr_model = model.stages[-1]
    coefs = lr_model.coefficients.toArray().tolist()
    return {
        "validation_metrics": {
            "auc": float(auc),
            "average_precision": float(ap),
            "accuracy": (cm["tp"] + cm["tn"]) / n_val if n_val else 0.0,
            "precision_high_risk": p_hi,
            "recall_high_risk": r_hi,
            "f1_high_risk": f_hi,
            "precision_low_risk": p_lo,
            "recall_low_risk": r_lo,
            "f1_low_risk": f_lo,
        },
        "confusion_matrix": cm,
        "feature_importance": dict(zip(FEATURES, map(float, coefs))),
        "data_summary": {
            "n_train": int(tr_row["n"]),
            "n_val": n_val,
            "n_features": len(FEATURES),
            "positive_rate_train": float(tr_row["pos"]),
            "positive_rate_val": (cm["tp"] + cm["fn"]) / n_val if n_val else 0.0,
        },
        "model_info": {
            "algorithm": "LogisticRegression",
            "regularization": float(lr_model.getRegParam()),
            "max_iter": int(lr_model.getMaxIter()),
            "solver": "l-bfgs",
        },
    }


def curve_points(scored_test: DataFrame, round_dp: int = 6) -> dict:
    """ROC and PR curve points computed IN Spark (reference uses sklearn
    roc_curve/precision_recall_curve, ml/train.py:45,63).

    Scores collapse to distinct rounded values with per-score pos/neg counts
    first (the scale lever: round_dp bounds distinct scores, so the
    cumulative window runs over at most 10^round_dp rows regardless of test
    size), then one cumulative window ordered by score descending yields
    tp/fp at every threshold."""
    by_score = (
        scored_test.select(
            F.round(vector_to_array("probability").getItem(1), round_dp).alias("p"),
            "label",
        )
        .groupBy("p")
        .agg(
            F.sum(F.col("label")).cast("long").alias("pos"),
            F.sum(1 - F.col("label")).cast("long").alias("neg"),
        )
    )
    w = Window.orderBy(F.desc("p")).rowsBetween(Window.unboundedPreceding, 0)
    pts = (
        by_score.select(
            "p",
            F.sum("pos").over(w).alias("ctp"),
            F.sum("neg").over(w).alias("cfp"),
        )
        .orderBy(F.desc("p"))
        .collect()
    )
    P = pts[-1]["ctp"] if pts else 0
    N = pts[-1]["cfp"] if pts else 0
    roc = [{"threshold": 1.0, "fpr": 0.0, "tpr": 0.0}] + [
        {
            "threshold": float(r["p"]),
            "fpr": r["cfp"] / N if N else 0.0,
            "tpr": r["ctp"] / P if P else 0.0,
        }
        for r in pts
    ]
    pr = [
        {
            "threshold": float(r["p"]),
            "precision": r["ctp"] / (r["ctp"] + r["cfp"]),
            "recall": r["ctp"] / P if P else 0.0,
        }
        for r in pts
    ]
    return {"roc": roc, "pr": pr}


def export_artifacts(out_dir: str, report: dict, scored_test: DataFrame) -> list[str]:
    """Write the model artifact set the reference logs to MLflow
    (ml/train.py:300-359): roc_curve / precision_recall_curve / confusion
    matrix / performance report / gate verdict. The reference renders PNGs
    with matplotlib (not in this environment); the curve POINTS and every
    number behind the plots are exported as JSON instead."""
    os.makedirs(out_dir, exist_ok=True)
    curves = curve_points(scored_test)
    files = {
        "roc_curve.json": curves["roc"],
        "precision_recall_curve.json": curves["pr"],
        "confusion_matrix.json": report["confusion_matrix"],
        "performance_report.json": report,
        "gate_report.json": report["performance_gate"],
    }
    written = []
    for name, payload in files.items():
        path = os.path.join(out_dir, name)
        with open(path, "w") as f:
            json.dump(payload, f, indent=2)
        written.append(path)
    return written


def train_with_report(
    features_df: DataFrame, seed: int = 42, folds: int = 5
) -> tuple[PipelineModel, dict, DataFrame]:
    """Full training run: fit on the stratified 70/30 split, evaluate,
    5-fold cross-validate, and assemble the gate verdict — the Spark
    counterpart of ml/train.py:181-359. The holdout fit and report run
    concurrently with the CV folds. Returns (model, report,
    scored_test); does NOT raise on gate failure (the report carries the
    verdict, as the reference's MLflow tag does). scored_test is cached for
    its four readers (AUC, AP, confusion, curve_points): unpersist it after."""
    data = prepare(features_df)
    tr, te = stratified_split(data, 0.3, seed)

    def holdout():
        model = build_pipeline().fit(tr)
        scored = model.transform(te).cache()
        return model, scored, model_report(model, tr, scored)

    (model, scored, report), cv = concurrently(
        features_df.sparkSession,
        [holdout, lambda: cross_validate(features_df, folds, seed)],
    )
    report["cross_validation"] = cv
    auc = report["validation_metrics"]["auc"]
    ap = report["validation_metrics"]["average_precision"]
    report["performance_gate"] = {
        "passed": auc >= AUC_GATE and ap >= AP_GATE,
        "auc": auc,
        "ap": ap,
        "min_auc": AUC_GATE,
        "min_ap": AP_GATE,
    }
    return model, report, scored


def score(model: PipelineModel, features_df: DataFrame) -> DataFrame:
    """Batch scoring -> RISK column (predict_proba[:,1], ml/infer.py:15-26)."""
    scored = model.transform(prepare(features_df))
    return scored.select(
        "STUDYID",
        "SUBJID",
        vector_to_array(F.col("probability")).getItem(1).alias("RISK"),
    )


def closed_form_risk(features_df: DataFrame) -> DataFrame:
    """The API's closed-form scorer (api/main.py:171-195):
    z = .02*AGE + .3*AE_COUNT + .6*SEVERE_AE_COUNT - 2, sigmoid,
    confidence tiers on |z| (>1 high, >0.5 medium — api/main.py:180)."""
    z = (
        0.02 * F.col("AGE")
        + 0.3 * F.col("AE_COUNT")
        + 0.6 * F.col("SEVERE_AE_COUNT")
        - 2.0
    )
    risk = 1.0 / (1.0 + F.exp(-z))
    return features_df.select(
        "STUDYID",
        "SUBJID",
        F.round(risk, 6).alias("risk"),
        F.when(F.abs(z) > 1.0, "high")
        .when(F.abs(z) > 0.5, "medium")
        .otherwise("low")
        .alias("confidence"),
    )
