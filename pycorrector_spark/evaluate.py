"""Labeled-corpus evaluation harness (reference evaluate_utils semantics).

Sentence-level confusion matrix over (src, tgt) pairs — the reference's
golden-output mechanism (utils/evaluate_utils.py:94-162, corpora like
sighan2015_test.tsv): positive = the sentence NEEDS correction
(src != tgt).

    TP: src != tgt and corrected == tgt      (fixed, correctly)
    FP: src == tgt and corrected != src      (broke a clean sentence)
    FN: src != tgt and corrected != tgt      (missed or mis-fixed)
    TN: src == tgt and corrected == src      (left clean alone)

acc = (TP+TN)/n, precision = TP/(TP+FP), recall = TP/(TP+FN),
f1 = 2PR/(P+R).

This is one of the few genuinely cross-row aggregations in the system
(SURVEY.md §2.6 A5) and is expressed as a real Spark agg —
``F.sum(F.when(...))`` — over an Arrow-batched correction stage.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.score import _get_workers, build_artifacts
from .stage import ensure_parallelism, python_stage


def corrected_frame(
    spark: SparkSession,
    pairs: DataFrame,
    bc=None,
    src_col: str = "src",
    tgt_col: str = "tgt",
) -> DataFrame:
    """pairs(src, tgt) -> (src, tgt, corrected) via the zh corrector."""
    if bc is None:
        bc = spark.sparkContext.broadcast(build_artifacts())

    def fn(it):
        _, zh, _ = _get_workers(bc)
        for pdf in it:
            src = pdf[src_col].fillna("")
            corrected = [zh.correct(s)["target"] for s in src]
            yield pd.DataFrame(
                {"src": src, "tgt": pdf[tgt_col].fillna(""), "corrected": corrected}
            )

    staged = ensure_parallelism(pairs.select(src_col, tgt_col))
    return python_stage(staged, fn, "src string, tgt string, corrected string")


def eval_metrics(corrected: DataFrame) -> DataFrame:
    """One-row frame: n, tp, fp, fn, tn, acc, precision, recall, f1."""
    pos = F.col("src") != F.col("tgt")
    hit = F.col("corrected") == F.col("tgt")
    kept = F.col("corrected") == F.col("src")
    agg = corrected.agg(
        F.count("*").alias("n"),
        F.sum((pos & hit).cast("long")).alias("tp"),
        F.sum((~pos & ~kept).cast("long")).alias("fp"),
        F.sum((pos & ~hit).cast("long")).alias("fn"),
        F.sum((~pos & kept).cast("long")).alias("tn"),
    )
    prec = F.when(F.col("tp") + F.col("fp") > 0, F.col("tp") / (F.col("tp") + F.col("fp"))).otherwise(0.0)
    rec = F.when(F.col("tp") + F.col("fn") > 0, F.col("tp") / (F.col("tp") + F.col("fn"))).otherwise(0.0)
    acc = F.when(
        F.col("n") > 0, (F.col("tp") + F.col("tn")) / F.col("n")
    ).otherwise(0.0)
    return (
        agg.withColumn("acc", acc)
        .withColumn("precision", prec)
        .withColumn("recall", rec)
        .withColumn(
            "f1",
            F.when(
                prec + rec > 0, 2 * prec * rec / (prec + rec)
            ).otherwise(0.0),
        )
    )


def eval_corrector(spark: SparkSession, pairs: DataFrame, bc=None) -> DataFrame:
    """Reference eval_model_batch equivalent: pairs -> metrics row."""
    return eval_metrics(corrected_frame(spark, pairs, bc))
