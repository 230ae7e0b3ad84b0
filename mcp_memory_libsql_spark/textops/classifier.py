"""Model-based quality classification — the MLlib stage of the
curation pipeline.

Heuristic thresholds (``text_quality_filter``) are stage 1 of a real
training-data pipeline; stage 2 is a learned classifier (cf. the
quality models behind FineWeb-Edu / DCLM: label a slice, train a
cheap linear model, score the whole corpus). Here the weak labels ARE
the heuristic rule (n_tokens ≥ 30 ∧ stopword_ratio ≤ 0.2) — the
point is the distributed fit/score plumbing, which is identical once
real labels exist.

Scale: LogisticRegression over assembled quality signals is a few
L-BFGS passes of tree-aggregated gradients (MLlib's distributed
path); scoring is a broadcast of the fitted coefficients into a
single narrow projection — no shuffle. The registry fits the model
ONCE per (session, data) and scores with the cached pair, the same
fit-once contract as the TF-IDF pipeline in ``vector/embed.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .quality import quality

FEATURES = [
    "n_chars_q",
    "n_tokens",
    "punct_ratio",
    "stopword_ratio",
    "upper_ratio",
]


def _weak_label() -> F.Column:
    return (
        (F.col("n_tokens") >= 30) & (F.col("stopword_ratio") <= 0.2)
    ).cast("double")


def fit_quality_model(documents: DataFrame, reg: float = 0.01):
    """Fit the logistic model on the quality signals; returns the
    fitted (assembler, model) pair."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    feats = quality(documents).withColumn("label", _weak_label())
    asm = VectorAssembler(inputCols=FEATURES, outputCol="features")
    lr = LogisticRegression(
        maxIter=25, regParam=reg, standardization=True
    )
    model = lr.fit(asm.transform(feats))
    # Detach the training summary before serving: the freshly-fitted
    # model's summary pins the live SparkSession, and scoring
    # serializes the model into the probability UDF's task closure —
    # with the session's (non-serializable) ObservationManager in the
    # graph, `Task not serializable` kills the scoring job whenever
    # codegen ships the UDF (surfaced by the r03 sf0.1 bench). A
    # save/load roundtrip yields the summary-free serve model — the
    # same fit-artifact/serve-artifact split a real pipeline has.
    import shutil
    import tempfile

    from pyspark.ml.classification import LogisticRegressionModel

    path = tempfile.mkdtemp(prefix="spark_lr_model_")
    try:
        model.write().overwrite().save(path)
        model = LogisticRegressionModel.load(path)
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return asm, model


def score_with_model(documents: DataFrame, asm, model) -> DataFrame:
    """Apply a fitted model → (doc_id, weak_label, score,
    prediction). Works identically on BATCH and STREAMING frames:
    the quality signals are stateless column expressions and the
    fitted model applies as a broadcast coefficient vector — the
    standard serve path for scoring a document firehose with a
    batch-trained filter."""
    from pyspark.ml.functions import vector_to_array

    feats = quality(documents).withColumn("label", _weak_label())
    scored = model.transform(asm.transform(feats))
    p1 = F.element_at(vector_to_array(F.col("probability")), 2)
    return scored.select(
        "doc_id",
        F.col("label").cast("int").alias("weak_label"),
        F.round(p1, 6).alias("score"),
        F.col("prediction").cast("int").alias("prediction"),
    )


def quality_scores(documents: DataFrame) -> DataFrame:
    """(doc_id, weak_label, score, prediction): per-doc quality
    probability from a model fitted on ``documents``."""
    return score_with_model(documents, *fit_quality_model(documents))
