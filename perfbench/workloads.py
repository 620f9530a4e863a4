"""Workloads, the timed closed loop, and the traced run.

Load shape: one driver process on ``local[nproc]``, one job at a time; the
next job is submitted when the previous one has written its last row.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback

import numpy as np
import pandas as pd

from perfbench import gen, oracle, sparkmetrics
from perfbench.provenance import provenance
from perfbench.trace import Tracer, by_parent, self_times, summarize
from pycorrector_spark.textops import HAN_RUN_RE

NPROC = len(os.sched_getaffinity(0))
SETUP_REPS = 3
MIN_TIMED_JOBS = 3
MAX_TIMED_JOBS = 50


# ---------------------------------------------------------------------------
# Session and set-up
# ---------------------------------------------------------------------------

def session(work: str, event_log: bool):
    from pycorrector_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the heap is committed and touched up front: otherwise G1 grows
        # it at timing-dependent moments and JVM RSS reads 750-1000 MB
        # apart between runs of the same job
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -XX:+AlwaysPreTouch"),
        # peak process-tree RSS (JVM + Python workers), polled 5x a second
        "spark.executor.processTreeMetrics.enabled": "true",
        "spark.executor.metrics.pollingInterval": "200ms",
    }
    if event_log:
        evdir = os.path.join(work, "eventlog")
        os.makedirs(evdir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + evdir,
            "spark.eventLog.compress": "false",
        })
    return get_spark("perfbench", master=f"local[{NPROC}]", extra_conf=conf)


def ready(spark, bc) -> None:
    """One pipeline job over ``nproc`` one-row partitions: every Python
    worker boots, unpickles the broadcast and runs ``make_workers``."""
    from pyspark.sql import functions as F

    from pycorrector_spark import pipeline

    df = spark.range(NPROC, numPartitions=NPROC).select(
        F.concat(F.lit("ready://"), F.col("id").cast("string")).alias("url"),
        F.lit("ready").alias("text"),
        F.lit("en").alias("lang"),
    )
    noop(pipeline.run_quality_pipeline(spark, df, bc=bc, repartition=0))


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Ctx:
    """What one benchmark process holds: the session, the artifacts and
    their broadcast, the seed and the work directory."""

    def __init__(self, seed: int, work: str, trace: bool):
        self.seed, self.work, self.trace = seed, work, trace
        self.spark = self.art = self.bc = None
        self.setup: dict = {}
        self.phases: dict = {}
        self._t = time.perf_counter()

    def mark(self, phase: str) -> None:
        """Record the wall time since the previous mark under ``phase``."""
        now = time.perf_counter()
        self.phases[phase] = now - self._t
        self._t = now

    def start(self) -> None:
        """Cold start to ready, SETUP_REPS times; the first repetition also
        launches the JVM, later ones restart the SparkContext inside it.
        The last session stays up (with the event log on in traced runs)."""
        from pycorrector_spark.operators.score import default_artifacts

        total, build = [], []
        for i in range(SETUP_REPS):
            last = i == SETUP_REPS - 1
            t0 = time.perf_counter()
            spark = session(self.work, event_log=self.trace and last)
            default_artifacts.cache_clear()
            t1 = time.perf_counter()
            art = default_artifacts()
            build.append(time.perf_counter() - t1)
            bc = spark.sparkContext.broadcast(art)
            ready(spark, bc)
            total.append(time.perf_counter() - t0)
            if not last:
                spark.stop()
        self.spark, self.art, self.bc = spark, art, bc
        self.setup = {"samples_s": total, "artifacts_build_s": build}

    def read(self, path):
        return self.spark.read.parquet(path)


# ---------------------------------------------------------------------------
# Workloads
# ---------------------------------------------------------------------------

class ScoreWorkload:
    """``run_quality_pipeline`` with the broadcast built once (steady
    state) into a noop sink."""

    def __init__(self, name: str, make, n_docs: int, serial_docs: int, why: str):
        self.name, self.make, self.n_docs = name, make, n_docs
        self.serial_docs, self.why = serial_docs, why

    def stage(self, ctx: Ctx) -> None:
        self.path = os.path.join(ctx.work, f"{self.name}.parquet")
        df = self.make(ctx.seed, self.n_docs)
        gen.write_parquet(df, self.path)
        self.input = df.drop(columns=["html"])

    def job(self, ctx: Ctx) -> float:
        """Seconds from submit (scan included) to the last row written."""
        from pycorrector_spark import pipeline

        t0 = time.perf_counter()
        noop(pipeline.run_quality_pipeline(ctx.spark, ctx.read(self.path), bc=ctx.bc))
        return time.perf_counter() - t0

    def warm_up_checked(self, ctx: Ctx, tally: "Tally") -> pd.DataFrame | None:
        """The untimed warm-up: the same job into a parquet sink, checked
        against the oracle. Its input repeats texts, so the correctors'
        warm paths (spell cache hits) run inside this job too."""
        from pycorrector_spark import pipeline

        out = os.path.join(ctx.work, f"{self.name}-check")
        try:
            scored = pipeline.run_quality_pipeline(ctx.spark, ctx.read(self.path), bc=ctx.bc)
            scored.drop("errors", "corrections").write.mode("overwrite").parquet(out)
        except Exception:
            tally.job_failed("warm-up", self.n_docs)
            return None
        return pd.read_parquet(out)


WORKLOADS = {
    "web_en": ScoreWorkload(
        "web_en", gen.web_en, n_docs=8_000, serial_docs=3_000,
        why="sf0.1-shaped English-vocabulary docs, 5,000 distinct texts replicated: "
            "signals, doc ppl, en spell, scrub, decision, Arrow transfer; no zh corrector"),
    "zh_crawl": ScoreWorkload(
        "zh_crawl", gen.zh_crawl, n_docs=600, serial_docs=240,
        why="seeded zh crawl, mostly distinct fragments, ~40% of sentences with an "
            "injected error: zh detect and correct dominate the score stage"),
}

# Sub-measurements of the traced runs (see NOTES.md, "Why two workloads"):
# run_with_resume over the web_en corpus in web_en's, the curation
# composite over the replicated documents table in zh_crawl's.
RESUME_DOCS = 8_000
RESUME_FIRST_SHARE = 0.9
CURATION_DOCS = 6_000


# ---------------------------------------------------------------------------
# One benchmark process
# ---------------------------------------------------------------------------

class Tally:
    """Documents attempted and failed across the jobs and checks of a run."""

    def __init__(self):
        self.attempted = self.failed = 0
        self.checks: list = []
        self.errors: list = []

    def job_failed(self, what: str, n_docs: int) -> None:
        traceback.print_exc(file=sys.stderr)
        self.attempted += n_docs
        self.failed += n_docs
        self.errors.append({"job": what, "docs": n_docs,
                            "error": traceback.format_exc(limit=3)[-2000:]})

    def add(self, what: str, res: dict) -> None:
        self.attempted += res["docs"]
        self.failed += res["failed"]
        self.checks.append({"what": what, **res})


def run(name: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    wl = WORKLOADS[name]
    ctx = Ctx(seed, work, trace)
    ctx.start()
    ctx.mark("setup")
    tally = Tally()
    try:
        wl.stage(ctx)
        ctx.mark("stage")
        detail = (traced_run if trace else timed_run)(wl, ctx, seconds, tally)
        detail["provenance"] = provenance(ctx.art, seed, seconds, trace, {
            "docs": wl.n_docs,
            "serial_docs": wl.serial_docs if trace else None,
            "resume_docs": RESUME_DOCS if trace and name == "web_en" else None,
            "curation_docs": CURATION_DOCS if trace and name == "zh_crawl" else None,
        })
    finally:
        app_id = ctx.spark.sparkContext.applicationId
        ctx.spark.stop()
    ctx.mark("stop")
    if trace:
        spark_layer_metrics(detail, work, app_id)
    detail.update({
        "workload": name, "why": wl.why, "setup": ctx.setup, "phases_s": ctx.phases,
        "attempted": tally.attempted, "failed": tally.failed,
        "correct": tally.failed == 0 and tally.attempted > 0,
        "checks": tally.checks, "job_errors": tally.errors,
    })
    return detail


def checked_warm_up(wl, ctx: Ctx, tally: Tally):
    """(output, oracle rows): the warm-up job, checked against the oracle."""
    got = wl.warm_up_checked(ctx, tally)
    ctx.mark("warm_up")
    return got, check_warm_up(wl, ctx, tally, got)


def check_warm_up(wl, ctx: Ctx, tally: Tally, got) -> dict:
    """The oracle rows of the input, and the warm-up output checked
    against them."""
    golden = oracle.golden_rows(ctx.art, wl.input["text"], NPROC)
    if got is not None:
        tally.add("warm-up", oracle.check_scored(got, wl.input[["url", "text"]], golden))
    ctx.mark("oracle")
    return golden


def timed_run(wl, ctx: Ctx, seconds: float, tally: Tally) -> dict:
    # the oracle's process pool runs after the timed jobs, so the first
    # of them follows the warm-up job directly
    got = wl.warm_up_checked(ctx, tally)
    ctx.mark("warm_up")
    sc = ctx.spark.sparkContext
    samples = []
    t_end = time.perf_counter() + seconds
    while len(samples) < MAX_TIMED_JOBS and (
            time.perf_counter() < t_end or len(samples) < MIN_TIMED_JOBS):
        group = f"timed-{len(samples)}"
        sc.setJobGroup(group, group)
        try:
            dt = wl.job(ctx)
        except Exception:
            tally.job_failed(group, wl.n_docs)
            continue
        samples.append({"s": dt, "docs_per_s": wl.n_docs / dt, "group": group})
    sc.setLocalProperty("spark.jobGroup.id", None)
    ctx.mark("timed")
    check_warm_up(wl, ctx, tally, got)
    for s in samples:
        rss = sparkmetrics.peak_rss_mb(ctx.spark, s.pop("group"))
        s.update(jvm_rss_mb=rss["jvm_mb"], py_rss_mb=rss["py_mb"],
                 rss_mb=rss["jvm_mb"] + rss["py_mb"])

    rates = [s["docs_per_s"] for s in samples] or [float("nan")]
    rss = [s["rss_mb"] for s in samples] or [float("nan")]
    return {
        "metrics": {
            "docs_per_s": {"value": statistics.median(rates), "unit": "docs/s"},
            "setup_s": {"value": statistics.median(ctx.setup["samples_s"]), "unit": "s"},
            "peak_rss_mb": {"value": statistics.median(rss), "unit": "MB"},
        },
        "timed_jobs": samples,
        "docs_per_s_quartiles": np.percentile(rates, [25, 50, 75]).tolist(),
        "docs_per_s_runs": len(samples),
        "workload_properties": properties(wl, got),
    }


# ---------------------------------------------------------------------------
# Traced run
# ---------------------------------------------------------------------------

def traced_run(wl, ctx: Ctx, seconds: float, tally: Tally) -> dict:
    """Event-log run (spark.*), floor run, serial traced pass (score,
    textops, lm, refimpl, config) and the sub-measurements."""
    from pycorrector_spark import pipeline

    sc = ctx.spark.sparkContext
    m, na = {}, {}
    got, golden = checked_warm_up(wl, ctx, tally)

    sc.setJobGroup("measured", "measured run")
    with Tracer() as drv:
        drv.span(pipeline, "run_quality_pipeline", "pipeline.plan")
        dt = wl.job(ctx)
    sc.setJobGroup("floor", "identity mapInPandas floor")
    floor_s = floor_job(ctx, wl.path)
    sc.setLocalProperty("spark.jobGroup.id", None)
    ctx.mark("measured_and_floor")
    docs_per_s = wl.n_docs / dt
    m["pipeline.plan_s"] = (summarize(drv.spans)["pipeline.plan"]["total_s"], "s")
    m["spark.floor_s"] = (floor_s, "s")
    m["spark.floor_frac"] = (floor_s / dt, "frac")

    serial = serial_pass(wl, ctx, golden, tally, m, na)
    m["score.serial_docs_per_s"] = (serial["untraced_docs_per_s"], "docs/s")
    m["score.par_eff"] = (docs_per_s / (NPROC * serial["untraced_docs_per_s"]), "frac")
    setup_layers(ctx, m)
    ctx.mark("serial")

    if wl.name == "web_en":
        resume_layers(ctx, golden, tally, m)
    else:
        for k in RESUME_METRICS:
            na[k] = "measured in the traced run of web_en"
    if wl.name == "zh_crawl":
        curation_layers(ctx, tally, m)
    else:
        for k in CURATION_METRICS:
            na[k] = "measured in the traced run of zh_crawl"
    ctx.mark("sub_measurement")

    for k in na:
        m.setdefault(k, (0.0, UNITS.get(k, "s")))
    return {
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()},
        "na": na,
        "measured_job": {"s": dt, "docs": wl.n_docs, "docs_per_s": docs_per_s},
        "serial": serial,
        "workload_properties": properties(wl, got),
    }


RESUME_METRICS = ("pipeline.resume_docs_per_s", "pipeline.resume_plan_s", "pipeline.write_s",
                  "pipeline.resume_pass_s", "pipeline.rescore_frac",
                  "pipeline.sink_bytes_per_doc", "pipeline.audit_rows")
CURATION_METRICS = ("curation.docs_per_s", "curation.dedup_s", "curation.gopher_s",
                    "curation.decon_s", "curation.dup_frac")
UNITS = {
    "pipeline.resume_docs_per_s": "docs/s", "pipeline.rescore_frac": "frac",
    "pipeline.sink_bytes_per_doc": "bytes/doc", "pipeline.audit_rows": "count",
    "curation.docs_per_s": "docs/s", "curation.dup_frac": "frac",
    "refimpl.correction_yield": "frac", "refimpl.en_cache_hit_frac": "frac",
    "lm.window_calls_per_fragment": "calls/fragment",
}


def floor_job(ctx: Ctx, path: str) -> float:
    """Identity ``mapInPandas`` over the input as the score stage receives
    it (same url-hash repartition and column pruning): the fixed cost of
    scan, shuffle, Arrow transfer and Python workers with no scoring."""
    from pycorrector_spark import pipeline

    t0 = time.perf_counter()
    docs = ctx.read(path)
    docs = pipeline.repartition_by_url(docs, ctx.art.cfg.shuffle_partitions)
    staged, _ = pipeline.stage_for_scoring(docs)
    noop(staged.mapInPandas(lambda it: it, staged.schema))
    return time.perf_counter() - t0


def resume_layers(ctx: Ctx, golden: dict, tally: Tally, m) -> None:
    """``run_with_resume`` twice into a fresh directory: a first pass over
    ~90% of a web_en-text corpus, then the resume pass over all of it,
    both writing the parquet docs_out and audit sinks. No broadcast is
    passed, so each call ships a fresh one and the workers rebuild."""
    from pycorrector_spark import pipeline

    df = gen.web_en(ctx.seed, RESUME_DOCS)
    first = np.random.default_rng([ctx.seed, 3]).random(len(df)) < RESUME_FIRST_SHARE
    full_p = os.path.join(ctx.work, "resume-full.parquet")
    first_p = os.path.join(ctx.work, "resume-first.parquet")
    gen.write_parquet(df, full_p)
    gen.write_parquet(df[first], first_p)

    def job(out):
        t0 = time.perf_counter()
        pipeline.run_with_resume(ctx.spark, ctx.read(first_p), out)
        t1 = time.perf_counter()
        pipeline.run_with_resume(ctx.spark, ctx.read(full_p), out)
        return t1 - t0, time.perf_counter() - t1

    job(os.path.join(ctx.work, "resume-warm"))
    out = os.path.join(ctx.work, "resume")
    with Tracer() as drv:
        drv.span(pipeline, "run_quality_pipeline", "pipeline.plan")
        drv.span(pipeline, "write_outputs", "pipeline.write")
        p1, p2 = job(out)
    d = summarize(drv.spans)

    docs_out = pd.read_parquet(os.path.join(out, "docs_out"))
    audit = pd.read_parquet(os.path.join(out, "audit"))
    tally.add("resume", oracle.check_resume(docs_out, audit, df[["url", "text"]], golden))
    summary = audit[audit["partition_id"] == -1].sort_values("finished_at")
    size = sum(os.path.getsize(os.path.join(dp, f)) for dp, _, fs in os.walk(out) for f in fs)
    m["pipeline.resume_docs_per_s"] = (len(docs_out) / (p1 + p2), "docs/s")
    m["pipeline.resume_plan_s"] = (d["pipeline.plan"]["total_s"], "s")
    m["pipeline.write_s"] = (d["pipeline.write"]["total_s"], "s")
    m["pipeline.resume_pass_s"] = (p2, "s")
    m["pipeline.rescore_frac"] = (
        float(summary["n_rows"].iloc[-1]) / (len(df) - int(first.sum())), "frac")
    m["pipeline.sink_bytes_per_doc"] = (size / len(docs_out), "bytes/doc")
    m["pipeline.audit_rows"] = (len(audit), "count")


def setup_layers(ctx: Ctx, m) -> None:
    import pickle

    from pycorrector_spark.operators.score import make_workers

    init = []
    for _ in range(3):
        t0 = time.perf_counter()
        make_workers(ctx.art)
        init.append(time.perf_counter() - t0)
    m["score.artifacts_build_s"] = (statistics.median(ctx.setup["artifacts_build_s"]), "s")
    m["score.broadcast_mb"] = (len(pickle.dumps(ctx.art, protocol=pickle.HIGHEST_PROTOCOL)) / 1e6, "MB")
    m["score.worker_init_s"] = (statistics.median(init), "s")


def spark_layer_metrics(detail: dict, work: str, app_id: str) -> None:
    """spark.* from the event log, read after the session stopped (the
    log is complete then)."""
    t = sparkmetrics.task_metrics(os.path.join(work, "eventlog"), app_id, "measured")
    docs = detail["measured_job"]["docs"]
    m = detail["metrics"]
    for k, unit in (("task_s_p50", "s"), ("task_s_p90", "s"), ("task_skew", "max/p50"),
                    ("task_count", "count"), ("py_start_s", "s"), ("py_init_s", "s"),
                    ("py_run_s", "s"), ("gc_s", "s"), ("shuffle_mb", "MB"),
                    ("tasks_failed", "count"), ("jvm_rss_mb", "MB"), ("py_rss_mb", "MB")):
        m[f"spark.{k}"] = {"value": t[k], "unit": unit}
    m["spark.to_py_bytes_per_doc"] = {"value": t["to_py_bytes"] / docs, "unit": "bytes/doc"}
    m["spark.from_py_bytes_per_doc"] = {"value": t["from_py_bytes"] / docs, "unit": "bytes/doc"}
    detail["metrics"] = dict(sorted(m.items()))
    detail["spark_tasks"] = t


# ---------------------------------------------------------------------------
# Serial single-process pass (the single-threaded baseline) with and
# without spans
# ---------------------------------------------------------------------------

def install_layer_spans(tr: Tracer, zh, en) -> None:
    from pycorrector_spark import textops
    from pycorrector_spark.operators import score
    from pycorrector_spark.refimpl import core

    tr.span(score, "process_batch", "score.process_batch")
    tr.span(textops, "signals_frame", "textops.signals_frame")
    tr.span(score, "scrub_series", "textops.scrub_series")
    tr.span(score, "uniform", "textops.uniform")
    tr.span(core, "uniform", "textops.uniform")
    tr.span(score, "keep_decision", "config.keep_decision")
    tr.span(zh.lm, "ppl_batch", "lm.ppl_batch",
            meta=lambda a, out: (len(a[0]), sum(map(len, a[0]))))
    tr.span(zh.lm, "window_avg_scores", "lm.window_avg_scores", meta=lambda a, out: a[0])
    tr.span(zh, "detect", "refimpl.zh_detect")
    tr.span(zh, "correct", "refimpl.zh_correct")
    tr.span(core, "dag_max_prob_tokens", "refimpl.dag_max_prob_tokens")
    tr.span(zh, "generate_items", "refimpl.generate_items", meta=lambda a, out: len(out))
    tr.span(zh, "get_lm_correct_item", "refimpl.get_lm_correct_item",
            meta=lambda a, out: out != a[0])
    if zh.proper is not None:
        tr.span(zh.proper, "correct", "refimpl.proper_correct")
    tr.span(en, "correct", "refimpl.en_correct")
    tr.count(en, "correct_word", "en.correct_word")
    tr.count(en, "candidates", "en.candidates")


def serial_batches(wl, seed: int, cfg) -> list:
    """A seeded sample of the input, cut into batches of the size the
    Spark stage sees (one url-hash partition)."""
    rng = np.random.default_rng([seed, 4])
    n = min(wl.serial_docs, len(wl.input))
    idx = np.sort(rng.choice(len(wl.input), size=n, replace=False))
    sample = wl.input.iloc[idx].reset_index(drop=True)
    size = -(-len(wl.input) // cfg.shuffle_partitions)
    return [sample.iloc[i:i + size].reset_index(drop=True) for i in range(0, n, size)]


def score_serial(batches, art, tracer=None):
    """(seconds, outputs) of ``process_batch`` over ``batches`` with fresh
    correctors; with a tracer, its spans wrap every layer."""
    from pycorrector_spark.operators import score

    zh, en = score.make_workers(art)
    if tracer is not None:
        install_layer_spans(tracer, zh, en)
    outs = []
    try:
        t0 = time.perf_counter()
        for i, b in enumerate(batches):
            if tracer is not None:
                tracer.batch = i
            outs.append(score.process_batch(b.copy(), zh, en, art.cfg))
        dt = time.perf_counter() - t0
    finally:
        if tracer is not None:
            tracer.close()
    return dt, pd.concat(outs, ignore_index=True)


def same_outputs(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return False
    return all(_canon(a[c].tolist()) == _canon(b[c].tolist()) for c in a.columns)


def _canon(values):
    return [None if isinstance(v, float) and v != v else v for v in values]


def serial_pass(wl, ctx: Ctx, golden: dict, tally: Tally, m, na) -> dict:
    batches = serial_batches(wl, ctx.seed, ctx.art.cfg)
    n = sum(len(b) for b in batches)
    # untraced before and after the traced pass, so host drift during the
    # pass does not read as tracing overhead
    before_s, plain = score_serial(batches, ctx.art)
    tr = Tracer()
    traced_s, traced = score_serial(batches, ctx.art, tr)
    after_s, _ = score_serial(batches, ctx.art)
    plain_s = (before_s + after_s) / 2
    identical = same_outputs(plain, traced)
    sample = pd.concat(batches, ignore_index=True)[["url", "text"]]
    res = oracle.check_scored(traced, sample, golden)
    if not identical:
        res["failed"] = max(res["failed"], 1)
    tally.add("serial-traced", res)

    spans = tr.spans
    summ = summarize(spans)
    own = self_times(spans)
    root_s = sum(s[2] - s[1] for s in spans if s[3] == -1) / 1e9
    self_sum = sum(own) / 1e9

    def tot(name):
        return summ.get(name, {}).get("total_s", 0.0)

    def calls(name):
        return summ.get(name, {}).get("calls", 0)

    batch_s = [(s[2] - s[1]) / 1e9 for s in spans if s[0] == "score.process_batch"]
    m["score.batch_s_p50"] = (float(np.percentile(batch_s, 50)), "s")
    m["score.batch_s_p90"] = (float(np.percentile(batch_s, 90)), "s")
    m["score.self_s"] = (summ["score.process_batch"]["self_s"], "s")
    m["textops.signals_s"] = (tot("textops.signals_frame"), "s")
    m["textops.scrub_s"] = (tot("textops.scrub_series"), "s")
    m["textops.uniform_s"] = (tot("textops.uniform"), "s")
    m["config.decision_s"] = (tot("config.keep_decision"), "s")

    doc_ppl = by_parent(spans, "lm.ppl_batch", "score.process_batch")
    rerank = by_parent(spans, "lm.ppl_batch", "refimpl.get_lm_correct_item")
    m["lm.doc_ppl_s"] = (sum(s[2] - s[1] for s in doc_ppl) / 1e9, "s")
    m["lm.doc_chars"] = (sum(s[5][1] for s in doc_ppl), "chars")
    m["lm.rerank_s"] = (sum(s[2] - s[1] for s in rerank) / 1e9, "s")
    m["lm.rerank_texts"] = (sum(s[5][0] for s in rerank), "count")
    m["lm.window_s"] = (tot("lm.window_avg_scores"), "s")
    # content fragments only: the punctuation runs between them are
    # scored too (their time is in lm.window_s) but are few distinct strings
    content = [s[5] for s in spans
               if s[0] == "lm.window_avg_scores" and HAN_RUN_RE.fullmatch(s[5])]
    if content:
        m["lm.window_calls_per_fragment"] = (len(content) / len(set(content)), "calls/fragment")
    else:
        na["lm.window_calls_per_fragment"] = "no zh fragment reached the LM window scorer"

    m["refimpl.zh_detect_s"] = (tot("refimpl.zh_detect"), "s")
    m["refimpl.zh_correct_s"] = (tot("refimpl.zh_correct"), "s")
    m["refimpl.segment_s"] = (tot("refimpl.dag_max_prob_tokens"), "s")
    m["refimpl.segment_calls"] = (calls("refimpl.dag_max_prob_tokens"), "count")
    m["refimpl.candidates_s"] = (tot("refimpl.generate_items"), "s")
    m["refimpl.candidates_n"] = (sum(s[5] for s in spans if s[0] == "refimpl.generate_items"), "count")
    if ctx.art.proper is not None:
        m["refimpl.proper_s"] = (tot("refimpl.proper_correct"), "s")
    else:
        na["refimpl.proper_s"] = "fallback dims: no ProperCorrector is built"
    reranks = [s[5] for s in spans if s[0] == "refimpl.get_lm_correct_item"]
    if reranks:
        m["refimpl.correction_yield"] = (sum(reranks) / len(reranks), "frac")
    else:
        na["refimpl.correction_yield"] = "no re-rank call"
    m["refimpl.en_correct_s"] = (tot("refimpl.en_correct"), "s")
    cw = tr.counts["en.correct_word"]
    if cw:
        m["refimpl.en_cache_hit_frac"] = (1 - tr.counts["en.candidates"] / cw, "frac")
    else:
        na["refimpl.en_cache_hit_frac"] = "no English word reached the spell corrector"

    lang = traced["lang_id"]
    m["score.gate_pass_frac"] = (float(traced["ppl"].notna().mean()), "frac")
    m["score.zh_frac"] = (float((lang == "zh").mean()), "frac")
    m["score.en_frac"] = (float((lang == "en").mean()), "frac")
    m["trace.overhead_frac"] = (traced_s / plain_s - 1, "frac")
    m["trace.self_gap_frac"] = (abs(traced_s - self_sum) / traced_s, "frac")
    zh_s = tot("refimpl.zh_detect") + tot("refimpl.zh_correct")
    return {
        "docs": n,
        "batches": len(batches),
        "untraced_s": [before_s, after_s],
        "untraced_docs_per_s": n / plain_s,
        "traced_s": traced_s,
        "root_span_s": root_s,
        "self_time_sum_s": self_sum,
        "traced_equals_untraced": identical,
        "zh_detect_plus_correct_share": zh_s / root_s if root_s else 0.0,
        "counts": dict(tr.counts),
        "layers": {k: v for k, v in sorted(summ.items(), key=lambda kv: -kv[1]["self_s"])},
        "spans": len(spans),
    }


# ---------------------------------------------------------------------------
# Curation layers (JVM only), over the web_en corpus
# ---------------------------------------------------------------------------

def curation_layers(ctx: Ctx, tally: Tally, m) -> None:
    import duckdb
    from pyspark.sql import functions as F

    import __spark_entry__ as E
    from pycorrector_spark.operators.webrules import with_gopher_columns

    cur = os.path.join(ctx.work, "curation")
    os.makedirs(cur)
    docs = gen.replicate_documents(gen.sf_documents(ctx.seed), CURATION_DOCS)
    path = os.path.join(cur, "documents.parquet")
    docs.to_parquet(path, index=False)
    spark = ctx.spark

    def timed(build):
        t0 = time.perf_counter()
        noop(build())
        return time.perf_counter() - t0

    # warm-up into a parquet sink, checked against DuckDB below
    checked = os.path.join(ctx.work, "curation-check")
    E.q_curation_e2e(spark, cur).write.mode("overwrite").parquet(checked)
    e2e_s = timed(lambda: E.q_curation_e2e(spark, cur))
    m["curation.docs_per_s"] = (CURATION_DOCS / e2e_s, "docs/s")
    m["curation.dedup_s"] = (timed(lambda: E.q_dedup_exact(spark, cur)), "s")
    m["curation.gopher_s"] = (timed(lambda: with_gopher_columns(
        spark.read.parquet(path).select(
            "doc_id", F.coalesce("text", F.lit("")).alias("page_text")))), "s")
    m["curation.decon_s"] = (timed(lambda: E.q_decontaminate(spark, cur)), "s")
    m["curation.dup_frac"] = (1 - docs["text"].nunique() / len(docs), "frac")

    got = pd.read_parquet(checked)
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        want = con.execute(E._curation_e2e_oracle_sql()).fetchdf()
    finally:
        con.close()
    tally.add("curation", oracle.check_curation(got, want))


# ---------------------------------------------------------------------------
# Workload properties
# ---------------------------------------------------------------------------

def properties(wl, got) -> dict:
    """Shares a change that helps only repeated or long inputs must cite."""
    from pycorrector_spark.textops import is_cjk_string, split_sentences_by_symbol

    texts = wl.input["text"]
    counts = texts.value_counts()
    total = zh_total = 0
    distinct, zh_distinct = set(), set()
    for t, c in counts.items():
        frags = [f for f, _ in split_sentences_by_symbol(t, include_symbol=False)]
        zh = [f for f in frags if is_cjk_string(f)]
        total += c * len(frags)
        zh_total += c * len(zh)
        distinct.update(frags)
        zh_distinct.update(zh)
    chars = texts.str.len().to_numpy()
    props = {
        "docs": int(len(texts)),
        "distinct_text_frac": float(len(counts) / len(texts)),
        "exact_dup_frac": float(1 - len(counts) / len(texts)),
        "fragments": int(total),
        "distinct_fragment_frac": float(len(distinct) / total) if total else 0.0,
        "zh_fragments": int(zh_total),
        "zh_distinct_fragment_frac": float(len(zh_distinct) / zh_total) if zh_total else 0.0,
        "mean_chars": float(chars.mean()),
        "p90_chars": float(np.percentile(chars, 90)),
    }
    if got is not None and len(got):
        lang = got["lang_id"]
        props.update({
            "routed_zh_frac": float((lang == "zh").mean()),
            "routed_en_frac": float((lang == "en").mean()),
            "routed_other_frac": float((~lang.isin(["zh", "en"])).mean()),
            "gate_pass_frac": float(got["ppl"].notna().mean()),
        })
    return props
