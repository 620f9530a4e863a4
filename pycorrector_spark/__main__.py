"""spark-submit / python -m entry point.

Role of the reference CLI (pycorrector/__main__.py:14-55: file in, one doc
per line, per-line correct, TSV out) re-expressed as a Spark job:

  spark-submit --py-files pycorrector_spark.zip -m pycorrector_spark \
      --input s3://…/docs --output s3://…/out --format parquet

Formats:
  text    — S1/S2: one document per line in; `url \t keep \t scrubbed` TSV out
  parquet — docs table (url, warc_ts, html, text, lang) in; full scored
            docs_out + audit parquet out, checkpoint-resumable (re-running
            on the same --output scores only what is missing; a fresh
            --output gives a clean full run)

Local smoke: python -m pycorrector_spark --input tests_file.txt \
    --output /tmp/out --format text --master 'local[4]'
"""

from __future__ import annotations

import argparse

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="pycorrector_spark")
    p.add_argument("--input", required=True, help="input path (text or parquet)")
    p.add_argument("--output", required=True, help="output directory")
    p.add_argument("--format", choices=["text", "parquet"], default="parquet")
    p.add_argument("--master", default=None, help="override spark master (default: SPARK_GRAFT_MASTER, "
                   "else spark-submit's --master, else one local core per CPU)")
    return p


def load_docs(spark: SparkSession, path: str, fmt: str):
    if fmt == "text":
        # S1: one doc per line; synthesize the web-page schema
        lines = spark.read.text(path)
        return lines.select(
            F.concat(F.lit("line://"), F.monotonically_increasing_id().cast("string")).alias("url"),
            F.current_timestamp().alias("warc_ts"),
            F.encode("value", "utf-8").alias("html"),
            F.col("value").alias("text"),
            F.lit("und").alias("lang"),
        )
    return spark.read.parquet(path)


def main(argv=None) -> None:
    args = build_parser().parse_args(argv)
    from .session import get_spark
    from .pipeline import run_quality_pipeline, run_with_resume

    spark = get_spark("pycorrector-spark", master=args.master)
    docs = load_docs(spark, args.input, args.format)

    if args.format == "text":
        scored = run_quality_pipeline(spark, docs)
        # S2: plain TSV sink (url, keep, scrubbed text) — quoting disabled
        # (the empty quote option maps to the NUL quote char in the CSV
        # writer) so a document containing double quotes is emitted raw,
        # like the reference CLI, instead of univocity-quoted text a
        # naive split('\t') consumer would mis-read
        scored.select(
            "url",
            F.col("keep").cast("string"),
            F.coalesce("scrubbed_text", F.lit("")),
        ).write.mode("overwrite").option("quote", "").csv(args.output, sep="\t")
    else:
        run_with_resume(spark, docs, args.output)


if __name__ == "__main__":
    main()
