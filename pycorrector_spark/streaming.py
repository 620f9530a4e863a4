"""Structured Streaming variant of the quality-filter pipeline.

The reference is strictly batch (no streaming exists in pycorrector; see
SURVEY.md §2.9), and the north rule asks for a restartable batch job — but
the score stage is a stateless ``mapInPandas``, which makes it directly
stream-composable: the same stage object runs under a streaming plan with
exactly-once file-sink semantics and checkpoint recovery for free.

Continuous ingestion shape at production scale::

    docs (file/Kafka source) -> readStream -> score stage -> writeStream
        .option(checkpointLocation) .trigger(availableNow=True | interval)

- File source: each micro-batch is a set of newly-discovered parquet files;
  ``maxFilesPerTrigger`` bounds batch size (backpressure).
- The audit aggregation is per-micro-batch via ``foreachBatch`` (the batch
  ``audit_frame`` reused verbatim — same lineage/metrics rows, keyed by the
  epoch id instead of a run uuid).
- The score stage itself needs no watermarks/stateful ops: the pipeline is
  per-document pure, so late data is just... data. Cross-document stream
  state enters with the two operators below — continuous exact dedup
  (``stream_dedup_first_seen``: a re-crawled url/text arriving in a later
  micro-batch must not re-emit) and windowed per-host crawl metrics
  (``stream_host_metrics``: watermarked event-time windows so the state
  store provably stops growing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import DEFAULT_CONFIG, PipelineConfig
from .operators.score import default_artifacts, make_score_stage
from .pipeline import audit_frame, stage_for_scoring
from .stage import python_stage


def stream_quality_pipeline(
    spark: SparkSession,
    input_dir: str,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    bc=None,
    max_files_per_trigger: int = None,
) -> DataFrame:
    """Build the streaming scored DataFrame from a parquet file source.

    The source schema is read from existing files (a stream needs an
    explicit schema; production would pin it from the table catalog).
    """
    if bc is None:
        # same production default as the batch path (full reference-scale
        # dims) — streaming and batch must label identically
        bc = spark.sparkContext.broadcast(default_artifacts(cfg))
    schema = spark.read.parquet(input_dir).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    docs = reader.parquet(input_dir)
    # same pre-Arrow pruning as the batch path (html + computed-name
    # collisions dropped before every micro-batch's JVM->Python exchange)
    staged, fields = stage_for_scoring(docs)
    fn, out_schema = make_score_stage(bc, fields)
    return python_stage(staged, fn, out_schema)


def run_streaming_pipeline(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    available_now: bool = True,
):
    """Start (and with ``available_now`` drain + stop) the streaming job.

    Sinks: ``{out_dir}/docs_out`` and ``{out_dir}/audit`` parquet, written
    per micro-batch into an ``epoch=<id>/`` subdirectory with OVERWRITE
    semantics. foreachBatch is at-least-once (an epoch that wrote its
    files but crashed before the checkpoint committed is re-run on
    restart), so the sink must be idempotent per epoch — overwriting the
    epoch's own directory makes the replay a no-op instead of an append
    duplication. Readers see one consistent copy via partition discovery
    (``spark.read.parquet(out_dir/docs_out)``). Restart with the same
    checkpoint resumes from the last committed batch — the streaming
    counterpart of the batch job's anti-join resume.
    """
    scored = stream_quality_pipeline(spark, input_dir, cfg)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df = batch_df.localCheckpoint(eager=True)
        batch_df.drop("errors", "corrections").write.mode("overwrite").parquet(
            f"{out_dir}/docs_out/epoch={epoch_id}"
        )
        audit_frame(batch_df, run_id=f"epoch-{epoch_id}").write.mode("overwrite").parquet(
            f"{out_dir}/audit/epoch={epoch_id}"
        )

    writer = (
        scored.writeStream.outputMode("append")
        .option("checkpointLocation", f"{out_dir}/_checkpoint")
        .foreachBatch(sink)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()


# ---------------------------------------------------------------------------
# stateful operators
# ---------------------------------------------------------------------------


def stream_dedup_first_seen(
    docs: DataFrame, key_expr: str = "md5(coalesce(text, ''))"
) -> DataFrame:
    """Continuous exact dedup: emit each document the FIRST time its
    content key is seen across the whole stream; suppress every later
    arrival (re-crawls, mirror hosts).

    This is the streaming counterpart of ``operators.dedup.exact_dedup``
    — the batch op's one-shuffle groupBy becomes a keyed state lookup via
    ``applyInPandasWithState``: state per content key is the running
    occurrence count; only the first micro-batch occurrence yields an
    output row. Per-batch duplicates are collapsed inside the
    same invocation (the grouped iterator hands all of a key's batch rows
    to one call), so exactly-once emission holds within and across
    batches.

    State sizing at scale: one ~50-byte row per distinct document key,
    hash-partitioned across executors by the same key the shuffle already
    uses — the state store scales with CORPUS DISTINCT SIZE, which is the
    irreducible minimum for exact streaming dedup. (Probabilistic
    relaxations — a Bloom filter per partition — trade that floor for
    false-positive drops; out of scope because the reference's dedup is
    exact, ngram_util.py containment.)
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    import pandas as pd

    keyed = docs.withColumn("dedup_key", F.expr(key_expr))
    # carry url + text through; the representative row for a key
    # duplicated within one micro-batch is the MIN-url row across ALL of
    # the group's chunks — a deterministic choice regardless of how the
    # groupBy shuffle orders rows (within-group order is not a Spark
    # contract, so "first chunk, first row" would vary across retries)
    out_schema = (
        "dedup_key string, url string, text string, first_in_batch long"
    )
    state_schema = "n_seen long"

    def fn(key, pdf_iter, state: GroupState):
        n_new = 0
        first_row = None
        for pdf in pdf_iter:
            if len(pdf) == 0:
                continue
            cand = pdf.loc[pdf["url"].idxmin()]
            if first_row is None or cand["url"] < first_row["url"]:
                first_row = cand
            n_new += len(pdf)
        if state.exists:
            (n_seen,) = state.get
            state.update((n_seen + n_new,))
            return iter([])  # key already emitted in an earlier batch
        state.update((n_new,))
        if first_row is None:
            return iter([])
        return iter(
            [
                pd.DataFrame(
                    {
                        "dedup_key": [key[0]],
                        "url": [first_row["url"]],
                        "text": [first_row["text"]],
                        "first_in_batch": [n_new],
                    }
                )
            ]
        )

    return keyed.groupBy("dedup_key").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_host_metrics(
    docs: DataFrame,
    window_duration: str = "5 minutes",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Watermarked per-host event-time window metrics (crawl monitoring):
    docs + distinct-url estimate + mean text length per (window, host).

    Pure built-in stateful aggregation — watermark bounds the state store
    (windows older than ``max(event_time) - delay`` are finalized and
    evicted), which is what makes this runnable forever at crawl scale.
    ``approx_count_distinct`` instead of ``countDistinct`` because exact
    distinct inside a streaming window would buffer every url in state.
    """
    from .pipeline import _host_of

    return (
        docs.withWatermark("warc_ts", watermark_delay)
        .groupBy(
            F.window("warc_ts", window_duration).alias("win"),
            _host_of(F.col("url")).alias("host"),
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.approx_count_distinct("url").alias("n_urls_approx"),
            F.avg(F.length(F.coalesce(F.col("text"), F.lit("")))).alias("mean_len"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "host", "n_docs", "n_urls_approx", "mean_len",
        )
    )
