"""Deployment-path smoke test (north rule: 'run via spark-submit
--py-files on a multi-executor cluster'): build the --py-files zip with
tools/make_pyfiles.py, then launch a REAL spark-submit subprocess whose
driver imports pycorrector_spark ONLY from the zip (cwd is a scratch
dir, no repo on sys.path), builds its session with get_spark as the CLI
does, and runs the scoring pipeline over a small parquet input. Verifies
the package is self-contained executor-side — embedded dicts +
driver-trained LM — exactly as the packaging docstring claims, and that
get_spark keeps the submitted master and pyspark's own Python daemon."""

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

JOB = """
import json, sys

import pycorrector_spark
assert "pycorrector_spark.zip" in pycorrector_spark.__file__, pycorrector_spark.__file__

from pycorrector_spark.session import get_spark

spark = get_spark("submit-smoke", shuffle_partitions=4)

from pycorrector_spark.pipeline import run_quality_pipeline
from pycorrector_spark.operators.score import build_artifacts

docs = spark.createDataFrame(
    [(f"https://example.org/{i}",
      f"Language models can be trained on large text corpora number {i} "
      "with careful data curation and quality filtering steps applied.")
     for i in range(20)] + [("https://example.org/junk", "####&&&&")],
    "url string, text string",
)
bc = spark.sparkContext.broadcast(build_artifacts())
out = run_quality_pipeline(spark, docs, bc=bc).select("url", "keep").collect()
print("RESULT " + json.dumps({
    "master": spark.sparkContext.master,
    "daemon": spark.sparkContext.getConf().get("spark.python.daemon.module", None),
    "rows": len(out),
    "kept": sum(1 for r in out if r["keep"]),
}))
spark.stop()
"""


@pytest.mark.slow
def test_spark_submit_py_files(tmp_path):
    zip_path = str(tmp_path / "pycorrector_spark.zip")
    subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "make_pyfiles.py"), zip_path],
        check=True, capture_output=True, timeout=60,
    )
    job = tmp_path / "job.py"
    job.write_text(JOB)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYTHONDONTWRITEBYTECODE"] = "1"
    proc = subprocess.run(
        ["spark-submit", "--master", "local[2]", "--py-files", zip_path, str(job)],
        cwd=str(tmp_path),  # repo NOT on the path: the zip must carry everything
        env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = [l for l in proc.stdout.splitlines() if l.startswith("RESULT ")]
    assert lines, proc.stdout[-2000:]
    got = json.loads(lines[-1].removeprefix("RESULT "))
    # the submitted master is kept, and pyspark's own daemon starts the
    # workers: the package only arrives with the task
    assert got["master"] == "local[2]"
    assert got["daemon"] is None
    assert got["rows"] == 21
    # the junk row must be dropped, the clean ones kept
    assert got["kept"] == 20
