"""End-to-end quality-filter pipeline assembly.

    docs (url, warc_ts, html, text, lang)
      -> url-hash repartition to one partition per core
         (+ optional hot-host salting)
      -> one Arrow mapInPandas stage (operators/score.py process_batch):
         lang-ID + quality heuristics (textops.signals_frame), LM ppl,
         detect / correct, scrub, keep/drop + drop_reason
      -> sinks: docs_out parquet, audit parquet (resume)

Task count: every Python task pays pyspark's per-task worker setup before
it scores a row. Its cost is ``importlib.invalidate_caches()`` in
``worker_util.setup_spark_files``: on CPython < 3.13 it re-reads the
archive directory of every cached zipimporter, eagerly, and a reused
worker caches ~16 (12 on pyspark.zip at ~11 ms each, 2 on the spark-core
jar at ~47 ms each, 2 on py4j), 0.18-0.38 s per task on a 4-vCPU Xeon
host. The score stage runs one task per core (``defaultParallelism``): at
32 tasks on those 4 cores that setup was most of the job, and at 4 tasks
perfbench's end-to-end docs/s rose 2.6x on web_en and 2.2x on zh_crawl.
Like every Python stage it runs through ``stage.python_stage``, which
drops the cached zipimporters when a task ends, so the next task on that
worker has no archive to re-read. Where ``session.get_spark`` starts the
workers from ``pycorrector_spark.daemon`` (a local master it launches),
the daemon imports pyspark from the installed package and drops its zip
finders before it forks, so the first task skips the re-read too.

Scale notes (100 TB / 1000 executors):
- The pipeline is stateless per document: the only shuffle is the initial
  repartition, which exists to (a) spread skewed input splits and (b)
  co-partition output by url-hash for the resume anti-join. With healthy
  input splits it can be disabled (pass repartition=0).
- Broadcast payload is the LM + dicts (tens of MB) — once per executor.
- AQE handles shuffle-side skew; UDF-stage skew from hot hosts is handled
  by hashing the full url (hosts spread across urls), with an optional
  salt term for pathological single-url duplication.
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import DEFAULT_CONFIG, PipelineConfig
from .operators.score import default_artifacts, make_score_stage
from .stage import python_stage


def repartition_by_url(
    df: DataFrame, n: int, salt_buckets: int = 0, hot_hosts: list = None
) -> DataFrame:
    """Deterministic url-hash repartition with optional salting.

    ``salt_buckets > 0`` spreads urls over that many extra buckets — used
    when a single key would otherwise dominate a partition (power-law
    hosts). With ``hot_hosts`` (a small collected list, see
    ``find_hot_hosts``) only urls on those hosts are salted; everything
    else keeps the stable unsalted key.
    """
    if n <= 0:
        return df
    key = F.xxhash64("url")
    if salt_buckets > 0:
        salted = F.xxhash64("url", (F.rand(seed=42) * salt_buckets).cast("int"))
        if hot_hosts is not None:
            key = F.when(_host_of(F.col("url")).isin(hot_hosts), salted).otherwise(key)
        else:
            key = salted
    return df.repartition(n, key)


def _host_of(url_col):
    """Host component of a url column (JVM parse_url, no regex)."""
    return F.parse_url(url_col, F.lit("HOST"))


def find_hot_hosts(docs: DataFrame, threshold: int) -> list:
    """Hosts with more than ``threshold`` documents — one map-side-combined
    aggregation; the result is a tiny driver list broadcast into the
    salting predicate (SURVEY §4.2: AQE fixes shuffle skew, not UDF-stage
    imbalance, so hot hosts must be spread BEFORE the Arrow stage)."""
    rows = (
        docs.select(_host_of(F.col("url")).alias("host"))
        .groupBy("host")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > threshold)
        .collect()
    )
    return [r["host"] for r in rows if r["host"] is not None]


def run_quality_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    repartition: int = None,
    bc=None,
) -> DataFrame:
    """Return the scored DataFrame (lazy; caller writes sinks).

    ``repartition=None`` shuffles to one partition per core
    (``defaultParallelism``) unless the input already has at least that
    many; ``0`` keeps the input's partitioning.
    """
    if repartition is None:
        repartition = spark.sparkContext.defaultParallelism
    if repartition and docs.rdd.getNumPartitions() < repartition:
        salt_buckets, hot = 0, None
        if cfg.salt_hot_host_threshold > 0:
            # one extra host-histogram job, opted into via the config knob
            hot = find_hot_hosts(docs, cfg.salt_hot_host_threshold)
            salt_buckets = 8 if hot else 0
        docs = repartition_by_url(docs, repartition, salt_buckets, hot)

    if bc is None:
        # production default = REFERENCE-SCALE dims (~58k-name word-freq,
        # 30k-word English dict, real same_pinyin/stroke tables); cached
        # per process so repeated calls don't pay the ~7 s build. Pass a
        # pre-built broadcast for steady-state jobs (one broadcast per
        # application — see __spark_entry__._artifacts_bc).
        bc = spark.sparkContext.broadcast(default_artifacts(cfg))

    staged, fields = stage_for_scoring(docs)
    fn, out_schema = make_score_stage(bc, fields)
    return python_stage(staged, fn, out_schema)


def stage_for_scoring(docs: DataFrame):
    """(staged_df, fields) ready for make_score_stage.

    html is dead weight through the Python stage — drop it before the
    Arrow exchange (column pruning the optimizer can't do for us because
    mapInPandas is schema-opaque). Input columns colliding with computed
    output names (e.g. an upstream n_chars/lang_id) are also excluded
    BEFORE the exchange: the stage recomputes and owns those, and dead
    columns are never shipped."""
    from .operators.score import COMPUTED_COLS

    computed = set(COMPUTED_COLS)
    cols = [c for c in docs.columns if c != "html" and c not in computed]
    staged = docs.select(*cols)
    fields = [(f.name, f.dataType.simpleString()) for f in staged.schema.fields]
    return staged, fields


def _sum0(col):
    """SUM that reads 0, not NULL, over zero rows (or all-NULL input)."""
    return F.coalesce(F.sum(col), F.lit(0).cast("long"))


def audit_frame(scored: DataFrame, run_id: str = None) -> DataFrame:
    """Per-partition lineage + metrics rows (north rule).

    One row per (run_id, partition_id): row counts, keep/drop counts,
    min/max ppl, bytes processed — PLUS one run-level summary row with
    partition_id = -1. The summary row comes from a global aggregate, so
    it exists even when the run processed zero documents (a resume with
    nothing left to do): every run leaves exactly one run_id marker in
    the audit table, which is what makes 'did run N happen?' answerable
    from lineage alone.
    """
    run_id = run_id or uuid.uuid4().hex
    metrics = [
        F.count("*").alias("n_rows"),
        _sum0(F.col("keep").cast("long")).alias("n_keep"),
        _sum0((~F.col("keep")).cast("long")).alias("n_drop"),
        F.min("ppl").alias("min_ppl"),
        F.max("ppl").alias("max_ppl"),
        _sum0(F.length("text")).alias("chars_in"),
        _sum0(F.length("scrubbed_text")).alias("chars_out"),
    ]
    per_part = (
        scored.withColumn("partition_id", F.spark_partition_id())
        .groupBy("partition_id")
        .agg(*metrics)
    )
    summary = scored.agg(*metrics).withColumn("partition_id", F.lit(-1))
    return (
        per_part.unionByName(summary.select(*per_part.columns))
        .withColumn("run_id", F.lit(run_id))
        .withColumn("finished_at", F.lit(time.time()))
    )


def write_outputs(scored: DataFrame, out_dir: str, run_id: str = None) -> None:
    """Write docs_out + audit parquet sinks.

    ``localCheckpoint(eager)`` (not cache) is load-bearing: on resume,
    ``scored``'s lineage reads docs_out (the anti-join), and appending to
    docs_out invalidates any cache built on that path — a plain cache would
    silently recompute the audit against the already-extended output and
    produce an EMPTY audit. Checkpointing cuts the lineage first.
    On a cluster this pins one materialized copy in executor storage for
    the duration of the two writes, then releases it.
    """
    scored = scored.localCheckpoint(eager=True)
    scored.drop("errors", "corrections").write.mode("append").parquet(f"{out_dir}/docs_out")
    audit_frame(scored, run_id).write.mode("append").parquet(f"{out_dir}/audit")


# AnalysisException messages for a docs_out with nothing to anti-join
# against: no directory, or a directory with no data file in it
_NO_OUTPUT_ERRORS = ("PATH_NOT_FOUND", "Path does not exist", "UNABLE_TO_INFER_SCHEMA")


def _delete_uncommitted(spark: SparkSession, path: str) -> None:
    """Delete ``{path}/_temporary`` through the path's Hadoop FileSystem."""
    sc = spark.sparkContext
    tmp = sc._jvm.org.apache.hadoop.fs.Path(f"{path}/_temporary")
    tmp.getFileSystem(sc._jsc.hadoopConfiguration()).delete(tmp, True)


def run_with_resume(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    cfg: PipelineConfig = DEFAULT_CONFIG,
) -> None:
    """Checkpoint-resume: left-anti join against already-written keys.

    Restartable mid-run: whatever made it into docs_out stays; the next run
    processes only the remainder (no dups, no gaps — verified by
    tests/test_resume.py). The key is (url, warc_ts) when both inputs carry
    warc_ts, else url alone (the input contract treats url as the document
    primary key, but keying on the snapshot timestamp too means multiple
    snapshots of one url can never shadow each other across a resume).

    One writer per ``out_dir``: a run must not start while another run on
    the same ``out_dir`` is still writing. Each run first deletes the
    ``_temporary`` dirs under docs_out and audit: under the
    FileOutputCommitter they hold only the task output of a job that was
    killed before its commit, which the anti-join cannot see (readers skip
    ``_``-prefixed paths) and the next job commit would merge in as
    duplicates. A docs_out holding no data file then reads as no output.

    Only a missing or data-less output path falls back to the full input;
    any other read failure (a corrupt or empty part file, permissions,
    schema drift) must raise — silently reprocessing everything would
    append the whole corpus as duplicates.
    """
    from pyspark.errors import AnalysisException

    for sink in ("docs_out", "audit"):
        _delete_uncommitted(spark, f"{out_dir}/{sink}")
    try:
        existing = spark.read.parquet(f"{out_dir}/docs_out")
    except AnalysisException as e:
        if not any(m in str(e) for m in _NO_OUTPUT_ERRORS):
            raise
        existing = None
    if existing is not None:
        keys = ["url"]
        if "warc_ts" in docs.columns and "warc_ts" in existing.columns:
            keys = ["url", "warc_ts"]
        done = existing.select(*keys).distinct()
        # NULL-SAFE key equality: a plain equi-anti-join never matches
        # NULL = NULL, so NULL-keyed rows would be re-processed and
        # re-appended on EVERY resume. Join strategy is left to AQE — the
        # old manual broadcast choice cost a full count() scan of
        # docs_out before any work started.
        d, dn = docs.alias("d"), done.alias("dn")
        cond = None
        for k in keys:
            c = F.col(f"d.{k}").eqNullSafe(F.col(f"dn.{k}"))
            cond = c if cond is None else cond & c
        todo = d.join(dn, cond, "left_anti")
    else:
        todo = docs
    scored = run_quality_pipeline(spark, todo, cfg)
    write_outputs(scored, out_dir)
