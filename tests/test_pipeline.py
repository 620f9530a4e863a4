"""E2E: distributed pipeline output vs the serial golden oracle.

The north-rule gates: keep/drop F1 >= 0.99 vs reference labels (in practice
exact here — pipeline and oracle share frozen primitives) and byte-identical
scrubbed text per url. Also: determinism across runs and partition counts.
"""

import math

import numpy as np
import pandas as pd
import pytest

from pycorrector_spark.pipeline import audit_frame, run_quality_pipeline
from pycorrector_spark.refimpl.golden import golden_frame


@pytest.fixture(scope="module")
def scored_pdf(spark, docs_pdf):
    docs = spark.createDataFrame(docs_pdf)
    out = run_quality_pipeline(spark, docs).toPandas()
    return out.sort_values("url", ignore_index=True)


@pytest.fixture(scope="module")
def golden_pdf(docs_pdf, full_workers):
    # golden labels from the SAME full reference-scale dims the pipeline
    # now defaults to (run_quality_pipeline -> default_artifacts)
    zh, en = full_workers
    g = golden_frame(list(docs_pdf["text"]), zh, en)
    g["url"] = list(docs_pdf["url"])
    return g.sort_values("url", ignore_index=True)


def test_row_count_preserved(scored_pdf, docs_pdf):
    assert len(scored_pdf) == len(docs_pdf)
    assert scored_pdf["url"].is_unique


def test_keep_drop_exact_match(scored_pdf, golden_pdf):
    assert scored_pdf["keep"].tolist() == golden_pdf["keep"].tolist()
    assert scored_pdf["drop_reason"].tolist() == golden_pdf["drop_reason"].tolist()


def test_keep_drop_f1_gate(scored_pdf, golden_pdf):
    # the formal >= 0.99 gate from BASELINE.json (drop = positive class)
    pred = ~scored_pdf["keep"].to_numpy()
    gold = ~golden_pdf["keep"].to_numpy()
    tp = int(np.sum(pred & gold))
    fp = int(np.sum(pred & ~gold))
    fn = int(np.sum(~pred & gold))
    precision = tp / max(tp + fp, 1)
    recall = tp / max(tp + fn, 1)
    f1 = 2 * precision * recall / max(precision + recall, 1e-12)
    assert gold.sum() > 0, "fixture must contain drops"
    assert f1 >= 0.99


def test_scrubbed_text_byte_identical(scored_pdf, golden_pdf):
    # per-row invariant from BASELINE.json input_hint
    for got, want in zip(scored_pdf["scrubbed_text"], golden_pdf["scrubbed_text"]):
        assert got == want


def test_corrected_text_byte_identical(scored_pdf, golden_pdf):
    for got, want in zip(scored_pdf["corrected_text"], golden_pdf["corrected_text"]):
        assert got == want


def test_ppl_bitwise(scored_pdf, golden_pdf):
    for got, want in zip(scored_pdf["ppl"], golden_pdf["ppl"]):
        if want is None or (isinstance(want, float) and math.isnan(want)):
            assert got is None or (isinstance(got, float) and math.isnan(got))
        else:
            assert float(got) == float(want)  # same float64 ops -> bitwise


def test_error_columns_match(scored_pdf, golden_pdf):
    for got, want in zip(scored_pdf["errors"], golden_pdf["errors"]):
        g = None if got is None else [(e["word"], e["begin"], e["end"], e["type"]) if isinstance(e, dict) else (e.word, e.begin, e.end, e.type) for e in got]
        w = None if want is None else [(e["word"], e["begin"], e["end"], e["type"]) for e in want]
        assert g == w


def test_drop_reasons_exercised(scored_pdf):
    reasons = set(scored_pdf["drop_reason"]) - {""}
    # fixture generator guarantees these failure classes (junk rows -> len/
    # symbol, repeated long docs -> repetition, corrupted docs -> errors)
    assert {"len", "symbol", "repetition", "errors"} <= reasons


def test_deterministic_across_partitionings(spark, docs_pdf, scored_pdf):
    # same input at a different partition count -> identical output; an
    # upstream column named like a computed one is replaced by the stage's
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(docs_pdf).repartition(7).withColumn("lang_id", F.lit("xx"))
    again = (
        run_quality_pipeline(spark, docs)
        .toPandas()
        .sort_values("url", ignore_index=True)
    )
    assert list(again.columns) == list(scored_pdf.columns)
    assert again["lang_id"].tolist() == scored_pdf["lang_id"].tolist()
    assert again["keep"].tolist() == scored_pdf["keep"].tolist()
    assert again["scrubbed_text"].tolist() == scored_pdf["scrubbed_text"].tolist()
    def norm_ppl(col):
        return [None if p is None or (isinstance(p, float) and math.isnan(p)) else float(p) for p in col]

    assert norm_ppl(again["ppl"]) == norm_ppl(scored_pdf["ppl"])


def test_audit_frame_totals(spark, docs_pdf):
    docs = spark.createDataFrame(docs_pdf)
    scored = run_quality_pipeline(spark, docs).cache()
    audit = audit_frame(scored, run_id="testrun").toPandas()
    total = scored.count()
    scored.unpersist()
    per_part = audit[audit["partition_id"] >= 0]
    summary = audit[audit["partition_id"] == -1]
    assert per_part["n_rows"].sum() == total == len(docs_pdf)
    # the run-level summary row (partition_id=-1) repeats the totals and
    # exists even for empty runs — one run_id marker per run
    assert len(summary) == 1
    assert int(summary["n_rows"].iloc[0]) == total
    assert (audit["n_keep"] + audit["n_drop"]).equals(audit["n_rows"])
    assert (audit["run_id"] == "testrun").all()
    # lineage: every partition reports
    assert audit["partition_id"].is_unique


def test_salted_repartition_spreads_hot_url(spark):
    from pyspark.sql import functions as F

    from pycorrector_spark.pipeline import repartition_by_url

    hot = spark.range(4000).select(F.lit("http://hot.example/page").alias("url"))

    def n_parts_holding_rows(df):
        return (
            df.withColumn("pid", F.spark_partition_id())
            .groupBy("pid").count().count()
        )

    # unsalted: one url hashes to exactly one partition
    assert n_parts_holding_rows(repartition_by_url(hot, 16)) == 1
    # salted: the hot url spreads over ~salt_buckets partitions
    assert n_parts_holding_rows(repartition_by_url(hot, 16, salt_buckets=8)) >= 4


def test_skew_salting_balances_partitions(spark):
    """End-to-end skew exercise (round-2 verdict item 5): a re-crawl-storm
    corpus (one url duplicated 4000x over a zipf background) goes through
    find_hot_hosts + salted repartition; the balance metric — max rows on
    any partition — must drop from 'whole storm on one partition' to
    near-even. This is the knob production sets via
    cfg.salt_hot_host_threshold."""
    from pyspark.sql import functions as F

    from pycorrector_spark.pipeline import find_hot_hosts, repartition_by_url

    storm = spark.range(4000).select(
        F.lit("https://hot.example/storm").alias("url"),
        F.lit("the same re-crawled page body").alias("text"),
    )
    background = spark.range(1000).select(
        F.concat(F.lit("https://bg"), (F.col("id") % 64).cast("string"),
                 F.lit(".example/"), F.col("id").cast("string")).alias("url"),
        F.lit("background doc body").alias("text"),
    )
    docs = storm.unionByName(background)
    n_parts = 16

    def max_part_rows(df):
        return (
            df.withColumn("pid", F.spark_partition_id())
            .groupBy("pid").count().agg(F.max("count")).first()[0]
        )

    unsalted = max_part_rows(repartition_by_url(docs, n_parts))
    assert unsalted >= 4000  # the whole storm lands on one partition

    hot = find_hot_hosts(docs, threshold=1000)
    assert hot == ["hot.example"]
    salted = max_part_rows(
        repartition_by_url(docs, n_parts, salt_buckets=8, hot_hosts=hot)
    )
    # storm spread over ~8 salt buckets: tail partition carries at most
    # ~2 buckets' worth plus background noise
    assert salted <= 4000 // 8 * 2 + 400, (unsalted, salted)
    # background (cold hosts) keeps stable unsalted keys — resume-safe
    cold = repartition_by_url(background, n_parts, salt_buckets=8, hot_hosts=hot)
    again = repartition_by_url(background, n_parts, salt_buckets=8, hot_hosts=hot)
    a = cold.withColumn("pid", F.spark_partition_id()).select("url", "pid").collect()
    b = again.withColumn("pid", F.spark_partition_id()).select("url", "pid").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_null_text_matches_python_path(spark):
    from __spark_entry__ import _signals_map
    from pycorrector_spark.textops import lang_id, quality_signals

    df = spark.createDataFrame([(1, None), (2, "hello world of spark jobs")],
                               "doc_id long, text string")
    cols = ["len_ok", "n_words", "lang_id", "lang_conf"]
    rows = {r["doc_id"]: r for r in _signals_map(df, cols).collect()}
    # the Spark signals stage (signals_frame) treats NULL as '', as the
    # scalar path does
    py = quality_signals("")
    assert rows[1]["len_ok"] == py["len_ok"] == False
    assert rows[1]["n_words"] == py["n_words"] == 0
    assert rows[1]["lang_id"] == lang_id("")[0] == "und"
    assert rows[1]["lang_conf"] == 0.0


def test_hot_host_salting_wired_through_config(spark):
    """The salt_hot_host_threshold knob must actually engage: with a
    dominant host over the threshold, find_hot_hosts reports it and the
    salted repartition spreads its rows over multiple partitions."""
    from pycorrector_spark.pipeline import find_hot_hosts, repartition_by_url

    rows = [(f"https://hot.example/{i}", f"doc body text number {i}") for i in range(200)]
    rows += [(f"https://cold{i}.example/x", "cold doc body") for i in range(20)]
    df = spark.createDataFrame(rows, "url string, text string")
    hot = find_hot_hosts(df, threshold=100)
    assert hot == ["hot.example"]
    parts = (
        repartition_by_url(df, 16, salt_buckets=8, hot_hosts=hot)
        .where("url like 'https://hot.example/%'")
        .rdd.mapPartitions(lambda it: [sum(1 for _ in it)])
        .collect()
    )
    assert sum(1 for n in parts if n > 0) >= 4  # hot host spread out


def _two_docs_per_partition(spark, n_parts):
    from pyspark.sql import functions as F

    return spark.range(2 * n_parts, numPartitions=n_parts).select(
        F.concat(F.lit("https://p.example/"), F.col("id").cast("string")).alias("url"),
        F.lit("a short english document body").alias("text"),
        F.lit("en").alias("lang"),
    )


def test_score_stage_runs_one_task_per_core(spark):
    # every Python task pays pyspark's fixed per-task setup, so an
    # under-split input is shuffled to exactly one partition per core
    cores = spark.sparkContext.defaultParallelism
    scored = run_quality_pipeline(spark, _two_docs_per_partition(spark, 1))
    assert scored.rdd.getNumPartitions() == cores
    rows = scored.select("url").collect()
    assert len(rows) == 2


def test_already_split_input_is_not_reshuffled(spark):
    n_parts = spark.sparkContext.defaultParallelism + 3
    scored = run_quality_pipeline(spark, _two_docs_per_partition(spark, n_parts))
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert scored.rdd.getNumPartitions() == n_parts
