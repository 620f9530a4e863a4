#!/usr/bin/env python
"""Benchmark harness.

Default: run the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE JSON line:

    {"metric": "headline_total", "value": <sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": 0.1, ...}

Modes:
    python bench.py                      # headline suite, one JSON line
    python bench.py --pipeline-only      # just the quality-filter pipeline
    python bench.py --scaling            # N vs 4N cores (default 4 vs 16)
                                         # run; writes BENCH/BASELINE.md
    python bench.py --skew               # unsalted vs salted re-crawl storm
    python bench.py --bucketed           # bucketed vs plain join layout
    python bench.py --opscale            # 2x vs 8x input linearity audit

Timing methodology: each query materializes fully via a noop-format write
(forces every column, no sink cost). A warm-up query initializes the JVM
and the Python worker pool first, so timings are steady-state. Driver-side
work a query performs eagerly at construction IS timed when it is part of
the operator's real cost: ann_ivf_topk's number deliberately includes the
kmeans + stored-index build/write (a fresh index per run by design); the
pure partition-pruned probe path is covered separately in tests.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR_DEFAULT = "/root/testdata/sf0.1"


def _sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def bench_queries():
    """Headline query set: name -> callable(spark, sf_dir) -> DataFrame.

    Mostly the driver-contract queries; dedup_minhash uses a production-ish
    config (k=3 shingles, 128 perms, threshold 0.7) instead of the tiny
    oracle config, so the benchmark reflects the scale path.
    """
    import __spark_entry__ as E
    from pycorrector_spark.operators.dedup import minhash_dedup_pairs

    q = E.queries()

    def minhash_bench(spark, sf_dir):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return minhash_dedup_pairs(docs, k=3, num_perm=128, bands=16, threshold=0.7)

    return {
        "qf_pipeline_full": q["qf_pipeline_full"],
        "qf_quality_signals": q["qf_quality_signals"],
        "qf_scrub": q["qf_scrub"],
        "qf_lm_ppl": q["qf_lm_ppl"],
        "tok_counts": q["tok_counts"],
        "qf_gopher_rules": q["qf_gopher_rules"],
        "qf_c4_filter": q["qf_c4_filter"],
        "qf_html_extract": q["qf_html_extract"],
        "qf_url_filter": q["qf_url_filter"],
        "qf_web_pipeline": q["qf_web_pipeline"],
        "qf_langid_ft": q["qf_langid_ft"],
        "qf_line_dedup": q["qf_line_dedup"],
        "qf_para_dedup": q["qf_para_dedup"],
        "qf_ccnet_buckets": q["qf_ccnet_buckets"],
        "qf_host_cap": q["qf_host_cap"],
        "qf_token_budget": q["qf_token_budget"],
        "nb_langid": q["nb_langid"],
        "dsir_select": q["dsir_select"],
        "qf_fix_encoding": q["qf_fix_encoding"],
        "qf_decontaminate": q["qf_decontaminate"],
        "qf_corpus_rollup": q["qf_corpus_rollup"],
        "qf_domain_mix": q["qf_domain_mix"],
        # round-5 additions (per-query r4 comparisons remain valid; the
        # headline total gains these entries)
        "qf_curation_e2e": q["qf_curation_e2e"],
        "qf_url_dedup": q["qf_url_dedup"],
        "qf_lm_ppl_klm": q["qf_lm_ppl_klm"],
        "rel_bucketed_join": q["rel_bucketed_join"],
        "dedup_exact": q["dedup_exact"],
        "dedup_substr": q["dedup_substr"],
        "dedup_jaccard": q["dedup_jaccard"],
        "dedup_clusters": q["dedup_clusters"],
        "dedup_incremental": q["dedup_incremental"],
        "dedup_minhash": minhash_bench,
        "dedup_simhash": q["dedup_simhash"],
        "dedup_embedding": q["dedup_embedding"],
        "ann_cosine_topk": q["ann_cosine_topk"],
        "ann_lsh_topk": q["ann_lsh_topk"],
        "ann_ivf_topk": q["ann_ivf_topk"],
        "en_spell": q["en_spell"],
        "zh_correct_full": q["zh_correct_full"],
        "zh_t2s": q["zh_t2s"],
        "rel_pricing_summary": q["rel_pricing_summary"],
        "rel_top_nations": q["rel_top_nations"],
        "rel_sessionize": q["rel_sessionize"],
    }


def _make_spark(cpus: int):
    from pycorrector_spark.session import get_spark

    return get_spark("bench", master=f"local[{cpus}]")


def run_pipeline_replicated(sf_dir: str, cpus: int, replicate: int) -> dict:
    """Scaling workload: the quality pipeline over the docs table replicated
    ``replicate``x (distinct urls). The sf0.1 table alone finishes in ~2 s,
    where per-job fixed costs (scheduling, broadcast, Arrow pool spin-up)
    swamp the compute and no parallelism level can show scaling; the
    replicated input makes the run compute-bound, which is the regime the
    north rule's N-vs-4N criterion describes."""
    from pyspark.sql import functions as F

    from __spark_entry__ import _docs_as_webpages
    from pycorrector_spark.operators.score import default_artifacts
    from pycorrector_spark.pipeline import run_quality_pipeline

    spark = _make_spark(cpus)
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    # broadcast built once (driver-side artifact build is setup, not
    # steady-state throughput); FULL reference-scale dims — the honest
    # production broadcast (58k-name word-freq + 30k-word en dict), same
    # default as run_quality_pipeline. Input repartitioned BEFORE the
    # replicate cross-join so the expansion itself runs in parallel, then
    # cached so every timed run reads identical in-memory input.
    bc = spark.sparkContext.broadcast(default_artifacts())
    # 8 tasks/core: waves are short enough that one slow partition costs
    # ~1/8 of a wave, not 1/4 (measured: 128 parts beats 64 by ~2% at 16
    # cores and 192 loses 20% to per-task overhead)
    parts = max(64, 8 * cpus)
    docs = _docs_as_webpages(spark, sf_dir).repartition(parts, F.xxhash64("url"))
    big = (
        docs.crossJoin(spark.range(replicate).select(F.col("id").alias("rep")))
        .withColumn("url", F.concat_ws("#", "url", "rep"))
        .drop("rep")
    ).persist()
    n_docs = big.count()
    # warm-up pass primes the Python worker pool
    _materialize(run_quality_pipeline(spark, big, repartition=0, bc=bc))
    sec = None
    for _ in range(3):
        t0 = time.time()
        _materialize(run_quality_pipeline(spark, big, repartition=0, bc=bc))
        el = round(time.time() - t0, 3)
        sec = el if sec is None else min(sec, el)
    spark.stop()
    return {
        "metric": "pipeline_replicated",
        "value": sec,
        "unit": "sec",
        "queries": {"qf_pipeline_full": sec},
        "sf": _sf_of(sf_dir),
        "cpus": cpus,
        "n_docs": n_docs,
        "pipeline_docs_per_sec": round(n_docs / sec, 1),
    }


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_suite(sf_dir: str, cpus: int, only: list = None) -> dict:
    spark = _make_spark(cpus)
    qs = bench_queries()
    if only:
        qs = {k: v for k, v in qs.items() if k in only}
    # warm-up: JVM codegen + the 32-process Python worker pool + broadcast
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    from pycorrector_spark.operators.dedup import release_cached

    def _timed(name):
        t0 = time.time()
        df = qs[name](spark, sf_dir)
        _materialize(df)
        el = time.time() - t0
        # drop operator-persisted intermediates so repeated runs in one
        # session don't accumulate executor storage (no-op mostly)
        release_cached(df)
        return el

    # Pass 0 (untimed warm-up): one-time setup — driver-side artifact
    # build, codegen, Arrow worker spin-up — never lands in a timed run.
    for name, fn in qs.items():
        warm = fn(spark, sf_dir)
        _materialize(warm)
        release_cached(warm)

    # ROUND-ROBIN passes, per-query min across passes. Back-to-back
    # repeats of one query all sit inside the same multi-second host
    # steal window (that is exactly how BENCH_r04 recorded a phantom
    # 2.9x on qf_pipeline_full despite best-of-3); interleaving the
    # whole suite puts ~a minute between a query's samples, so a steal
    # window can corrupt at most one of them.
    samples: dict[str, list] = {name: [] for name in qs}
    for _ in range(3):
        for name in qs:
            samples[name].append(_timed(name))

    # Adaptive top-up: a query whose two fastest samples still disagree
    # by >20% was hit in multiple passes — keep sampling it (spread over
    # further suite-width gaps) until stable or the cap is reached.
    def _stable(vals):
        s = sorted(vals)
        return s[1] <= 1.20 * s[0] + 0.05

    for _ in range(2):
        unstable = [n for n in qs if not _stable(samples[n])]
        if not unstable:
            break
        for name in unstable:
            samples[name].append(_timed(name))

    timings = {name: round(min(v), 3) for name, v in samples.items()}
    spread = {
        name: round(sorted(v)[1] / max(min(v), 1e-9), 3) for name, v in samples.items()
    }

    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    spark.stop()
    total = round(sum(timings.values()), 3)
    result = {
        # a filtered run is NOT the headline suite — don't let one-query
        # numbers masquerade as the 19-query total in metric history
        "metric": "headline_total" if not only else "subset_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": _sf_of(sf_dir),
        "cpus": cpus,
        "n_docs": n_docs,
        # per-query throughput for document-table queries (docs/sec over
        # the sf corpus); rel_*/ann_*/zh_*/en_*/stream_* read other
        # tables (TPC-H, embeddings, sentence pools), so a docs/s
        # figure would be meaningless for them.
        # NOTE: pool-text queries that remain (qf_lm_ppl*, qf_fix_encoding)
        # map every doc_id onto a finite sentence pool — one scored row
        # per document, so docs/s is rows-scored-per-second (comparable
        # across sf), while the TEXT domain stays fixed by design
        "queries_docs_per_sec": {
            name: round(n_docs / sec, 1)
            for name, sec in timings.items()
            if sec > 0
            and not name.startswith(
                ("rel_", "ann_", "zh_", "en_", "stream_")
            )
        },
        # 2nd-fastest / fastest sample per query — ~1.0 means the minimum
        # is reproducible, large values flag residual host noise
        "sample_spread": spread,
    }
    if "qf_pipeline_full" in timings and timings["qf_pipeline_full"] > 0:
        result["pipeline_docs_per_sec"] = round(n_docs / timings["qf_pipeline_full"], 1)
    return result


def run_skew(sf_dir: str, cpus: int, n_hot: int = 40_000) -> dict:
    """Unsalted-vs-salted tail under a re-crawl storm: ``n_hot`` copies of
    ONE url (all hashing to one partition) over the sf corpus, scored by
    the full pipeline. Unsalted, the storm serializes on a single task
    (the wall clock IS the tail); salted via find_hot_hosts +
    repartition_by_url it spreads across 8 buckets. Reports both walls
    and the max-partition-rows balance metric — the evidence that the
    cfg.salt_hot_host_threshold knob buys real tail latency, not just a
    different plan."""
    from pyspark.sql import functions as F

    from __spark_entry__ import _docs_as_webpages
    from pycorrector_spark.operators.score import default_artifacts
    from pycorrector_spark.pipeline import (
        find_hot_hosts,
        repartition_by_url,
        run_quality_pipeline,
    )

    spark = _make_spark(cpus)
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    bc = spark.sparkContext.broadcast(default_artifacts())
    storm_text = "美食美事皆不可辜负，这场盛会你一定期待已久"  # real zh scoring cost
    storm = spark.range(n_hot).select(
        F.lit("https://hot.example/storm").alias("url"),
        F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("warc_ts"),
        F.encode(F.lit(storm_text), "utf-8").alias("html"),
        F.lit(storm_text).alias("text"),
        F.lit("zh").alias("lang"),
    )
    docs = _docs_as_webpages(spark, sf_dir).unionByName(storm).persist()
    docs.count()
    parts = 4 * cpus

    def max_part_rows(df):
        return (
            df.withColumn("pid", F.spark_partition_id())
            .groupBy("pid").count().agg(F.max("count")).first()[0]
        )

    results = {}
    hot = find_hot_hosts(docs, threshold=n_hot // 2)
    for mode in ("unsalted", "salted"):
        staged = (
            repartition_by_url(docs, parts)
            if mode == "unsalted"
            else repartition_by_url(docs, parts, salt_buckets=8, hot_hosts=hot)
        )
        _materialize(run_quality_pipeline(spark, staged, repartition=0, bc=bc))  # warm
        best = None
        for _ in range(3):
            t0 = time.time()
            _materialize(run_quality_pipeline(spark, staged, repartition=0, bc=bc))
            el = time.time() - t0
            best = el if best is None else min(best, el)
        results[mode] = {
            "sec": round(best, 3),
            "max_partition_rows": int(max_part_rows(staged)),
        }
    docs.unpersist()
    spark.stop()
    speedup = round(results["unsalted"]["sec"] / results["salted"]["sec"], 2)
    return {
        "metric": "skew_salting_speedup",
        "value": speedup,
        "unit": "ratio",
        "queries": {
            "skew_unsalted": results["unsalted"]["sec"],
            "skew_salted": results["salted"]["sec"],
        },
        "sf": _sf_of(sf_dir),
        "cpus": cpus,
        "hot_hosts": hot,
        "balance": {m: r["max_partition_rows"] for m, r in results.items()},
    }


def _eventlog_spark(cpus: int, name: str):
    """Session with an uncompressed event log in a temp dir — real
    per-task durations for the skew legs (statusTracker has no task
    times; the event log does)."""
    import tempfile

    from pycorrector_spark.session import get_spark

    evdir = tempfile.mkdtemp(prefix=f"{name}_ev_")
    spark = get_spark(
        f"bench-{name}",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{evdir}",
            "spark.eventLog.compress": "false",
        },
    )
    return spark, evdir


def _task_histogram(evdir: str, job_group: str = None) -> dict:
    """max/p50 task duration of the heaviest stage, from TaskEnd events;
    with ``job_group``, only stages of jobs submitted under that
    setJobGroup id are candidates, and a log with no job in that group
    raises ValueError. Removes the event-log dir afterwards."""
    import glob
    import shutil

    stages: dict = {}
    group_stages: set = set()
    paths = [p for p in glob.glob(f"{evdir}/**", recursive=True)
             if os.path.isfile(p)
             and os.path.basename(p).startswith(("events", "local-"))]
    for path in paths:
        with open(path, errors="ignore") as f:
            for line in f:
                if '"Event":"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    props = ev.get("Properties") or {}
                    if job_group and props.get("spark.jobGroup.id") == job_group:
                        group_stages.update(ev.get("Stage IDs", []))
                    continue
                if '"Event":"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                info = ev.get("Task Info", {})
                dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                stages.setdefault(ev.get("Stage ID"), []).append(dur)
    shutil.rmtree(evdir, ignore_errors=True)
    if job_group:
        if not group_stages:
            raise ValueError(
                f"no job in the event log ran under job group {job_group!r}"
            )
        # keep only stages submitted by the MEASURED jobs — otherwise the
        # heaviest-stage pick can land on a fixture-build/count stage and
        # the balance metric measures the wrong thing
        stages = {sid: d for sid, d in stages.items() if sid in group_stages}
    heaviest = max(stages.values(), key=sum) if stages else [0]
    heaviest.sort()
    p50 = heaviest[len(heaviest) // 2]
    return {"p50": p50, "max": heaviest[-1], "n_tasks": len(heaviest)}


def run_tb_skew(sf_dir: str, cpus: int, replicate: int = 200) -> dict:
    """Round-4 verdict ask #3 done-criterion: select_token_budget under a
    DEGENERATE score distribution — 80% of rows share one score value.
    The old score-partitioned window would put all those rows in ONE
    cumsum task; the range-partitioned prefix-sum must show a balanced
    task histogram (max ~ p50) and stay correct (row count checked
    against the arithmetic expectation)."""
    from pyspark.sql import functions as F

    from pycorrector_spark.operators.curation import select_token_budget
    from pycorrector_spark.operators.dedup import release_cached

    spark, evdir = _eventlog_spark(cpus, "tbskew")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    big = (
        docs.crossJoin(spark.range(replicate).select(F.col("id").alias("rep")))
        .select(
            (F.col("doc_id") * replicate + F.col("rep")).alias("doc_id"),
            # 80% of rows score 7 (the hot value); the remaining 20%
            # (doc_id % 5 == 0) spread over scores 1..4 via % 4 so the
            # range partitioner also has multiple cold scores to split
            F.when((F.col("doc_id") % 5) != 0, F.lit(7))
            .otherwise(F.col("doc_id") % 4 + 1).alias("score"),
            F.lit(2).alias("toks"),
        )
    )
    n = big.count()
    budget = n  # keeps ~half the rows; boundary lands inside the hot score
    # the histogram must measure the OPERATOR's stages (prefix-sum runs
    # its internal jobs eagerly inside select_token_budget), not the
    # fixture count/warm-up above — scope them with a job group
    spark.sparkContext.setJobGroup("measured", "tbskew measured operator")
    out = select_token_budget(big, budget, "score", "toks", "doc_id")
    t0 = time.time()
    kept = out.count()
    wall = round(time.time() - t0, 3)
    release_cached(out)
    spark.stop()
    hist = _task_histogram(evdir, job_group="measured")
    return {
        "metric": "token_budget_skew_task_balance",
        "value": round(hist["max"] / max(hist["p50"], 1), 2),
        "unit": "max_over_p50_task_ms",
        "queries": {"token_budget_hot80pct": wall},
        "sf": _sf_of(sf_dir),
        "cpus": cpus,
        "n_rows": int(n),
        "kept_rows": int(kept),
        "kept_expected": budget // 2,
        "task_ms": hist,
    }


def run_para_skew(sf_dir: str, cpus: int, hot_frac: float = 0.10,
                  replicate: int = 16) -> dict:
    """Round-4 verdict ask #8: paragraph-dedup under a degenerate key
    distribution — ONE paragraph hash holding ~``hot_frac`` of all
    paragraph rows (a boilerplate footer repeated across the crawl).
    Confirms (a) the winner aggregation stays a hash aggregate (no
    SortAggregate reappears), (b) AQE keeps the stage balanced: the
    task-duration histogram of the heaviest stage is read from the Spark
    EVENT LOG (real per-task times, not estimates) and reported as
    max/p50. A hot md5 key cannot straggle the winner agg because the
    map-side partial combine collapses each partition's copies to one
    row before the shuffle — that is the property this leg proves."""
    from pyspark.sql import functions as F

    from pycorrector_spark.operators.webrules import paragraph_dedup

    spark, evdir = _eventlog_spark(cpus, "paraskew")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.coalesce("text", F.lit("")).alias("text")
    )
    # ~9 distinct paragraphs per doc + 1 shared hot paragraph -> the hot
    # md5 holds ~hot_frac of all paragraph rows; replicate to make the
    # stage compute-bound
    n_distinct = max(2, int(round(1.0 / hot_frac)) - 1)
    hot = "HOT BOILERPLATE FOOTER: subscribe to our newsletter today"
    big = (
        docs.crossJoin(spark.range(replicate).select(F.col("id").alias("rep")))
        .select(
            (F.col("doc_id") * replicate + F.col("rep")).alias("doc_id"),
            F.concat_ws(
                "\n\n",
                *[F.concat_ws("-", F.lit(f"para{i}"), F.col("doc_id"),
                              F.col("rep"), F.substring("text", 1, 40))
                  for i in range(n_distinct)],
                F.lit(hot),
            ).alias("page_text"),
        )
    )
    out = paragraph_dedup(big, text_col="page_text")
    plan = out._jdf.queryExecution().executedPlan().toString()
    sort_agg = "SortAggregate" in plan
    _materialize(out)  # warm-up
    # only the timed second materialization is histogram-eligible — the
    # warm-up and the fixture count would otherwise compete for the
    # heaviest-stage pick
    spark.sparkContext.setJobGroup("measured", "paraskew measured operator")
    t0 = time.time()
    _materialize(out)
    wall = round(time.time() - t0, 3)
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    n_rows = big.count()
    spark.stop()

    hist = _task_histogram(evdir, job_group="measured")
    return {
        "metric": "para_skew_task_balance",
        "value": round(hist["max"] / max(hist["p50"], 1), 2),
        "unit": "max_over_p50_task_ms",
        "queries": {"para_dedup_hot10pct": wall},
        "sf": _sf_of(sf_dir),
        "cpus": cpus,
        "n_paragraph_rows": int(n_rows * (n_distinct + 1)),
        "hot_fraction": round(1.0 / (n_distinct + 1), 3),
        "sort_aggregate_in_plan": sort_agg,
        "task_ms": hist,
    }


def run_bucketed(sf_dir: str, cpus: int, replicate: int = 64, n_joins: int = 5) -> dict:
    """Bucketed vs plain-parquet layout for a repeated big-big join — the
    measured evidence behind storage.py's zero-Exchange claim.

    Workload shape: the incremental-snapshot join a crawl pipeline runs
    every cycle — current docs (doc_id, text) joined to the prior
    snapshot's per-doc record on doc_id, both sides too big to broadcast
    (the docs table replicated ``replicate``x with disjoint id ranges,
    text carried through the join on BOTH sides so the shuffle, when
    there is one, moves real bytes). Each layout pays its write once,
    then runs the join ``n_joins`` times — the write-once/join-forever
    amortization bucketing is for. Reports per-join time, write time, and
    whether the physical plan contains an Exchange."""
    from pyspark.sql import functions as F

    from pycorrector_spark.storage import colocated_join, has_exchange, write_bucketed

    spark = _make_spark(cpus)
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    # AQE would notice the post-scan size and broadcast at gate scale;
    # production snapshot sides are TBs — force the big-big regime so the
    # comparison measures shuffle-vs-no-shuffle, not broadcast luck
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    big = (
        docs.crossJoin(spark.range(replicate).select(F.col("id").alias("rep")))
        .select((F.col("doc_id") + F.col("rep") * F.lit(1 << 32)).alias("doc_id"), "text")
    )
    snapshot = big.select("doc_id", F.length("text").alias("prior_len"),
                          F.col("text").alias("prior_text"))

    import shutil, tempfile

    base = tempfile.mkdtemp(prefix="sgbucketbench_")
    results = {}
    try:
        # plain layout: parquet files, every join shuffles both sides
        t0 = time.time()
        big.write.mode("overwrite").parquet(f"{base}/docs_plain")
        snapshot.write.mode("overwrite").parquet(f"{base}/snap_plain")
        write_plain = time.time() - t0
        dp = spark.read.parquet(f"{base}/docs_plain")
        sp = spark.read.parquet(f"{base}/snap_plain")

        def join_plain():
            return (
                dp.join(sp, on="doc_id")
                .agg(F.count("*").alias("n"),
                     F.sum(F.length("text") + F.col("prior_len")).alias("s"))
            )

        # bucketed layout: one-time bucketed write, joins are Exchange-free
        t0 = time.time()
        write_bucketed(big, "bb_docs", f"{base}/docs_bucket", key="doc_id", buckets=cpus)
        write_bucketed(snapshot, "bb_snap", f"{base}/snap_bucket", key="doc_id", buckets=cpus)
        write_bucket = time.time() - t0

        def join_bucket():
            return (
                colocated_join(spark, "bb_docs", "bb_snap", on="doc_id")
                .agg(F.count("*").alias("n"),
                     F.sum(F.length("text") + F.col("prior_len")).alias("s"))
            )

        def n_exchanges(df):
            # shuffle Exchanges in the whole plan; the final 1-group agg
            # contributes one on BOTH layouts, so the plain-vs-bucketed
            # delta isolates the JOIN's shuffles
            plan = df._jdf.queryExecution().executedPlan().toString()
            return sum(
                1 for line in plan.splitlines()
                if line.strip().lstrip("+-: ").startswith("Exchange")
                and "Broadcast" not in line
            )

        for name, fn in (("plain", join_plain), ("bucketed", join_bucket)):
            fn().collect()  # warm
            best = None
            for _ in range(n_joins):
                t1 = time.time()
                fn().collect()
                el = time.time() - t1
                best = el if best is None else min(best, el)
            results[name] = {
                "per_join_sec": round(best, 3),
                "n_exchanges": n_exchanges(fn()),
            }
        results["plain"]["write_sec"] = round(write_plain, 3)
        results["bucketed"]["write_sec"] = round(write_bucket, 3)
        n_rows = dp.count()
    finally:
        for t in ("bb_docs", "bb_snap"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        spark.stop()
        shutil.rmtree(base, ignore_errors=True)

    speedup = round(results["plain"]["per_join_sec"] / results["bucketed"]["per_join_sec"], 2)
    return {
        "metric": "bucketed_join_speedup",
        "value": speedup,
        "unit": "ratio",
        "queries": {
            "join_plain": results["plain"]["per_join_sec"],
            "join_bucketed": results["bucketed"]["per_join_sec"],
        },
        "sf": _sf_of(sf_dir),
        "cpus": cpus,
        "n_rows": n_rows,
        "detail": results,
    }


def run_opscale(sf_dir: str, cpus: int, scales: tuple = (2, 8)) -> dict:
    """Input-scaling audit: every heavy corpus-relational operator timed
    on ``scales[0]``x and ``scales[1]``x input at FIXED cores — BOTH legs
    replicated enough to be compute-dominated (a 1x leg of a sub-second
    op measures scheduler fixed costs, and its ratio is noise). Ideal
    linear scaling = time ratio ~= scales[1]/scales[0]; a ratio well
    above it exposes a superlinear term that would kill the 100 TB run
    (the question the plan audit can only answer structurally — this
    measures it).

    Replication preserves workload STRUCTURE: each replica gets disjoint
    doc_ids (high-bit offset) and EVERY WORD carries the replica id, so
    intra-replica duplicate/shingle structure is identical while replicas
    share no shingles at all — a doc-level suffix is NOT enough (it makes
    every doc a near-duplicate of its 3 clones, so minhash candidate
    pairs grow quadratically and the audit measures the changed workload,
    not the operator: first cut showed a spurious 6.4x)."""
    from pyspark.sql import functions as F

    from pycorrector_spark.operators import dedup as D
    from pycorrector_spark.operators.curation import decontaminate
    from pycorrector_spark.operators.dedup import release_cached as release_cached_import
    from pycorrector_spark.operators.nbayes import fit_nb, score_nb

    spark = _make_spark(cpus)
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    base = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def replicated(k: int):
        reps = spark.range(k).select(F.col("id").alias("rep"))
        marked = F.array_join(
            F.transform(
                F.split(F.coalesce("text", F.lit("")), " "),
                lambda w: F.concat(w, F.lit("£"), F.col("rep")),
            ),
            " ",
        )
        return (
            base.crossJoin(reps)
            .select(
                (F.col("doc_id") + F.col("rep") * F.lit(1 << 32)).alias("doc_id"),
                marked.alias("text"),
                "lang", "source", "n_chars",
            )
            .persist()
        )

    def op_exact(d):
        return D.exact_dedup_groups(d)

    def op_substr(d):
        return D.substring_dedup(d)

    def op_minhash(d):
        return D.minhash_dedup_pairs(d, k=3, num_perm=128, bands=16, threshold=0.7)

    def op_jaccard(d):
        return D.ngram_jaccard_pairs(d, k=2, threshold=0.2, max_df=100)

    def op_nb(d):
        model = fit_nb(d, label_col="lang", text_col="text", n=3)
        out = score_nb(d, model)
        # the fit's persisted gram relation must not outlive the rep —
        # a leaked multi-GB cache block evicts the NEXT op's persists and
        # masquerades as that op scaling superlinearly (first cut showed
        # minhash at a spurious 16x from exactly this)
        out._cached_deps = (model._cached,)
        return out

    def op_decon(d):
        bench = d.filter(F.col("doc_id") % 17 == 3).select(
            F.substring("text", 1, 80).alias("text")
        )
        return decontaminate(d, bench, n=8)

    def op_token_budget(d):
        from pycorrector_spark.operators.curation import select_token_budget

        # budget >> corpus keeps every row: the cumsum machinery still
        # touches each row exactly once, which is what linearity audits
        return select_token_budget(
            d.select(
                "doc_id",
                (F.length("text") % 64).alias("score"),
                F.length("text").alias("toks"),
            ),
            budget=1 << 60, score_col="score", tokens_col="toks",
            id_col="doc_id",
        )

    ops = {
        "dedup_exact": op_exact,
        "dedup_substr": op_substr,
        "dedup_minhash": op_minhash,
        "dedup_jaccard": op_jaccard,
        "nb_fit_score": op_nb,
        "decontaminate": op_decon,
        "token_budget": op_token_budget,
    }
    results = {}
    for k in scales:
        d = replicated(k)
        n = d.count()
        for name, fn in ops.items():
            warm = fn(d)
            _materialize(warm)  # warm (codegen + worker pool)
            release_cached_import(warm)
            best = None
            for _ in range(3):
                t0 = time.time()
                out = fn(d)
                _materialize(out)
                el = time.time() - t0
                from pycorrector_spark.operators.dedup import release_cached

                release_cached(out)
                best = el if best is None else min(best, el)
            results.setdefault(name, {})[f"x{k}"] = round(best, 3)
        d.unpersist()
        spark.catalog.clearCache()  # nothing leaks into the next scale
    spark.stop()
    lo, hi = scales
    ratios = {
        name: round(r[f"x{hi}"] / r[f"x{lo}"], 2) for name, r in results.items()
    }
    return {
        "metric": "opscale_max_ratio",
        "value": max(ratios.values()),
        "unit": "ratio",
        "queries": {f"{n}_{k}": v for n, r in results.items() for k, v in r.items()},
        "sf": _sf_of(sf_dir),
        "cpus": cpus,
        "scales": list(scales),
        "ideal_ratio": hi / lo,
        "ratios": ratios,
    }


def run_scaling(sf_dir: str, n_cores: int = 4, n4_cores: int = 16, replicate: int = 128,
                rounds: int = 2) -> dict:
    """Same job on IDENTICAL input at N and 4N cores in fresh JVMs (sandbox
    stand-in for N vs 4N executors, per BASELINE.json north_rule); writes
    BENCH/BASELINE.md.

    The legs are INTERLEAVED ``rounds`` times (N, 4N, N, 4N, ...) and each
    leg reports its minimum time across rounds (on top of each child's own
    best-of-3): this shared host shows ±30% steal-time windows lasting
    minutes, so a single N/4N pairing can randomly land one leg in a slow
    window and swing the measured efficiency by ±0.3 — per-leg minima
    approximate the un-stolen machine on both sides of the ratio."""
    rows = {}
    for _ in range(rounds):
        for cpus in (n_cores, n4_cores):
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--pipeline-replicated",
                 "--replicate", str(replicate), "--cpus", str(cpus), "--sf-dir", sf_dir],
                capture_output=True, text=True, timeout=1800,
            )
            lines = [l for l in out.stdout.strip().splitlines() if l.startswith("{")]
            if out.returncode != 0 or not lines:
                raise RuntimeError(
                    f"scaling child (cpus={cpus}) failed rc={out.returncode}:\n"
                    + out.stderr[-2000:]
                )
            got = json.loads(lines[-1])
            if cpus not in rows or got["value"] < rows[cpus]["value"]:
                rows[cpus] = got

    thr_n = rows[n_cores]["pipeline_docs_per_sec"]
    thr_4n = rows[n4_cores]["pipeline_docs_per_sec"]
    eff = round((thr_4n / thr_n) / (n4_cores / n_cores), 3)
    result = {
        "metric": "scaling_efficiency",
        "value": eff,
        "unit": "ratio",
        "queries": {
            f"pipeline_local[{n_cores}]": rows[n_cores]["queries"]["qf_pipeline_full"],
            f"pipeline_local[{n4_cores}]": rows[n4_cores]["queries"]["qf_pipeline_full"],
        },
        "sf": _sf_of(sf_dir),
        "throughput_docs_per_sec": {str(n_cores): thr_n, str(n4_cores): thr_4n},
    }
    os.makedirs(os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH"), exist_ok=True)
    md = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH", "BASELINE.md")
    with open(md, "w") as f:
        f.write(
            "# Scaling benchmark (quality-filter pipeline)\n\n"
            "North rule: throughput scaling efficiency >= 0.8 between N and 4N\n"
            "executors. Sandbox stand-in (single host, no cluster): the same\n"
            f"job on identical input at local[{n_cores}] vs local[{n4_cores}] cores,\n"
            "fresh JVM each, steady-state timing (per-leg minimum over\n"
            f"{rounds} interleaved rounds x best-of-3 in-child, after worker-pool\n"
            "warm-up; broadcast build and input cache are setup, not throughput —\n"
            "per-leg minima because this shared host shows multi-minute +-30%\n"
            "steal windows that would otherwise dominate the ratio).\n"
            f"Input = sf docs table replicated {replicate}x (distinct urls) so the\n"
            "run is compute-bound rather than dominated by per-job fixed costs.\n"
            "Pipeline dims = the FULL production broadcast (58k-name word-freq,\n"
            "30k-word en dict) — the honest steady-state configuration.\n\n"
            f"{n_cores} vs {n4_cores} (not 8 vs 32): a local[N] Python-stage job uses\n"
            "N JVM task threads PLUS N Python workers; on this 32-core host both\n"
            "levels must fit without oversubscription or the measurement captures\n"
            "scheduler contention, not scaling (a real cluster sizes executor\n"
            "cores to the machine the same way).\n\n"
            f"| cores | pipeline sec | docs/sec |\n|---|---|---|\n"
            f"| {n_cores} | {rows[n_cores]['queries']['qf_pipeline_full']} | {thr_n} |\n"
            f"| {n4_cores} | {rows[n4_cores]['queries']['qf_pipeline_full']} | {thr_4n} |\n\n"
            f"**Scaling efficiency ({n_cores}->{n4_cores} cores): {eff}**"
            f" (target >= 0.8)\n\n"
            f"Input: {_sf_of(sf_dir)} SF documents table"
            f" ({rows[n_cores]['n_docs']} docs), run {time.strftime('%Y-%m-%d')}.\n"
        )
    return result


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", SF_DIR_DEFAULT))
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--pipeline-only", action="store_true")
    ap.add_argument("--pipeline-replicated", action="store_true")
    ap.add_argument("--replicate", type=int, default=128)
    ap.add_argument("--scaling", action="store_true")
    ap.add_argument("--skew", action="store_true")
    ap.add_argument("--paraskew", action="store_true")
    ap.add_argument("--tbskew", action="store_true")
    ap.add_argument("--bucketed", action="store_true")
    ap.add_argument("--opscale", action="store_true")
    ap.add_argument("--scale-cores", default="4,16",
                    help="--scaling: 'N,4N' core counts (e.g. 2,8)")
    args = ap.parse_args()

    if args.scaling:
        n, n4 = (int(x) for x in args.scale_cores.split(","))
        result = run_scaling(args.sf_dir, n_cores=n, n4_cores=n4, replicate=args.replicate)
    elif args.skew:
        result = run_skew(args.sf_dir, args.cpus)
    elif args.paraskew:
        result = run_para_skew(args.sf_dir, args.cpus)
    elif args.tbskew:
        result = run_tb_skew(args.sf_dir, args.cpus)
    elif args.bucketed:
        result = run_bucketed(args.sf_dir, args.cpus)
    elif args.opscale:
        result = run_opscale(args.sf_dir, args.cpus)
    elif args.pipeline_replicated:
        result = run_pipeline_replicated(args.sf_dir, args.cpus, args.replicate)
    elif args.pipeline_only:
        result = run_suite(args.sf_dir, args.cpus, only=["qf_pipeline_full"])
    else:
        result = run_suite(args.sf_dir, args.cpus)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
