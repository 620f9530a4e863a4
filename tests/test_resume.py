"""Checkpoint-resume: kill after part of the input is written, restart,
verify no duplicated and no missing urls (SURVEY.md §5 item 5).
"""

import os
import shutil

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from pycorrector_spark.pipeline import run_quality_pipeline, run_with_resume, write_outputs

_COMPARED = ["url", "keep", "drop_reason", "scrubbed_text", "n_errors"]


def test_resume_no_dups_no_gaps(spark, docs_pdf, tmp_path):
    out_dir = str(tmp_path / "out")
    docs = spark.createDataFrame(docs_pdf)

    # simulate a run that died after processing an arbitrary half
    first_half = docs.limit(140)
    scored = run_quality_pipeline(spark, first_half)
    write_outputs(scored, out_dir, run_id="run1")

    n_done = spark.read.parquet(f"{out_dir}/docs_out").count()
    assert n_done == 140

    # restart over the FULL input: only the remainder is processed
    run_with_resume(spark, docs, out_dir)

    result = spark.read.parquet(f"{out_dir}/docs_out")
    assert result.count() == len(docs_pdf)           # no gaps
    assert result.select("url").distinct().count() == len(docs_pdf)  # no dups

    # audit table has rows from both runs, and their per-partition rows
    # (partition_id -1 is each run's summary row) cover every doc once
    audit = spark.read.parquet(f"{out_dir}/audit")
    assert audit.select("run_id").distinct().count() == 2
    per_part = audit.filter("partition_id >= 0")
    assert per_part.agg(F.sum("n_rows")).first()[0] == len(docs_pdf)

    # per-doc results identical to one pass over the full input
    one_pass = run_quality_pipeline(spark, docs)
    want = {r["url"]: r for r in one_pass.select(*_COMPARED).collect()}
    got = {r["url"]: r for r in result.select(*_COMPARED).collect()}
    assert got == want


def test_resume_on_fresh_dir(spark, docs_pdf, tmp_path):
    out_dir = str(tmp_path / "fresh")
    docs = spark.createDataFrame(docs_pdf).limit(50)
    run_with_resume(spark, docs, out_dir)
    assert spark.read.parquet(f"{out_dir}/docs_out").count() == 50


def test_resume_idempotent_when_complete(spark, docs_pdf, tmp_path):
    out_dir = str(tmp_path / "idem")
    docs = spark.createDataFrame(docs_pdf).limit(60)
    run_with_resume(spark, docs, out_dir)
    run_with_resume(spark, docs, out_dir)   # second run: nothing to do
    assert spark.read.parquet(f"{out_dir}/docs_out").count() == 60
    # the empty run's summary row counts 0 keeps and 0 drops, not NULL
    audit = spark.read.parquet(f"{out_dir}/audit").toPandas()
    last = audit[audit["partition_id"] == -1].sort_values("finished_at").iloc[-1]
    assert (last["n_rows"], last["n_keep"], last["n_drop"]) == (0, 0, 0)


def test_resume_null_key_rows_not_reprocessed(spark, tmp_path):
    """Regression: a plain equi-anti-join never matches NULL = NULL, so
    rows with a NULL key column were re-scored and re-appended on every
    resume. The null-safe join must keep them exactly-once."""
    import pandas as pd

    from pycorrector_spark.pipeline import run_with_resume

    out = str(tmp_path / "out")
    pdf = pd.DataFrame(
        {
            "url": ["https://a.example/1", "https://a.example/2"],
            "warc_ts": [pd.Timestamp("2026-01-01"), pd.NaT],  # one NULL key
            "html": [b"x", b"y"],
            "text": ["some perfectly normal document text here",
                     "another perfectly normal document body text"],
            "lang": ["en", "en"],
        }
    )
    docs = spark.createDataFrame(pdf)
    run_with_resume(spark, docs, out)
    run_with_resume(spark, docs, out)  # resume with nothing left to do
    rows = spark.read.parquet(f"{out}/docs_out").collect()
    assert len(rows) == 2  # NULL-warc_ts row written exactly once


def _plant_uncommitted(scored, out_dir, staging):
    """Leave ``scored``'s docs_out and audit files where a killed job
    leaves committed task output under FileOutputCommitter v1:
    ``{sink}/_temporary/0/task_*``, never merged by a job commit."""
    write_outputs(scored, staging, run_id="killed")
    for sink in ("docs_out", "audit"):
        task = os.path.join(out_dir, sink, "_temporary", "0", "task_202610190000_0001_m_000000")
        os.makedirs(task)
        for name in os.listdir(os.path.join(staging, sink)):
            if name.startswith("part-"):
                shutil.move(os.path.join(staging, sink, name), task)


def test_resume_after_killed_write(spark, docs_pdf, tmp_path):
    """A write killed before its job commit leaves only ``_temporary``
    output. The restart must neither re-append it (a) nor fail on a
    docs_out that holds nothing else (b); a corrupt or empty part file
    still raises (c)."""
    docs = spark.createDataFrame(docs_pdf.iloc[:20])

    # (a) 10 docs committed, 5 more scored in a task of a killed job
    out = str(tmp_path / "a")
    run_with_resume(spark, docs.limit(10), out)
    done = {r["url"] for r in spark.read.parquet(f"{out}/docs_out").collect()}
    stale = docs.filter(~F.col("url").isin(*done)).limit(5)
    _plant_uncommitted(run_quality_pipeline(spark, stale), out, str(tmp_path / "stage"))
    run_with_resume(spark, docs, out)
    result = spark.read.parquet(f"{out}/docs_out")
    assert result.count() == result.select("url").distinct().count() == 20
    audit = spark.read.parquet(f"{out}/audit").filter("partition_id >= 0")
    assert audit.agg(F.sum("n_rows")).first()[0] == 20
    assert "killed" not in {r["run_id"] for r in audit.select("run_id").collect()}

    # (b) the first run was killed mid-write: docs_out holds only an
    # empty task attempt dir
    out = str(tmp_path / "b")
    os.makedirs(f"{out}/docs_out/_temporary/0/_temporary/attempt_202610190000_0001_m_000000_0")
    run_with_resume(spark, docs, out)
    assert spark.read.parquet(f"{out}/docs_out").count() == 20

    # (c) a garbage or empty committed part file is not "no output"
    for body in (b"not a parquet footer" * 8, b""):
        out = str(tmp_path / f"c{len(body)}")
        os.makedirs(f"{out}/docs_out")
        with open(f"{out}/docs_out/part-00000-bad.snappy.parquet", "wb") as f:
            f.write(body)
        with pytest.raises(Py4JJavaError):
            run_with_resume(spark, docs, out)
        assert os.listdir(f"{out}/docs_out") == ["part-00000-bad.snappy.parquet"]
