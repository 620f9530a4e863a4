"""Spark's own numbers: task metrics from the event log, and peak
process-tree RSS from the executor metrics of the live application."""

from __future__ import annotations

import glob
import json
import os

import numpy as np

PY_METRICS = {
    "time to start Python workers": "py_start_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "to_py_bytes",
    "data returned from Python workers": "from_py_bytes",
}


def peak_rss_mb(spark, job_group: str) -> dict:
    """Peak JVM and Python process-tree RSS over the stages of the jobs
    submitted under ``job_group``, from the per-stage executor-metric
    peaks of the live application (needs
    ``spark.executor.processTreeMetrics.enabled``)."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)  # the last job's task-end events
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    jvm = py = 0.0
    for job in tracker.getJobIdsForGroup(job_group):
        info = tracker.getJobInfo(job)
        for stage in info.stageIds if info else ():
            peak = store.lastStageAttempt(stage).peakExecutorMetrics()
            if peak.isDefined():
                m = peak.get()
                jvm = max(jvm, m.getMetricValue("ProcessTreeJVMRSSMemory") / 1e6)
                py = max(py, m.getMetricValue("ProcessTreePythonRSSMemory") / 1e6)
    return {"jvm_mb": jvm, "py_mb": py}


def _events(evdir, app_id):
    for path in sorted(glob.glob(os.path.join(evdir, "**", "*"), recursive=True)):
        name = os.path.basename(path)
        if os.path.isfile(path) and name.startswith("events") and app_id in name:
            with open(path, encoding="utf-8") as f:
                for line in f:
                    yield json.loads(line)


def task_metrics(evdir: str, app_id: str, job_group: str) -> dict:
    """Task-level numbers for the jobs application ``app_id`` submitted
    under ``job_group``.

    The reported stage is the measured stage with the most task time
    among those that ran Python workers (else among all measured stages):
    the score stage for the pipeline workloads.
    """
    stages: set = set()
    tasks = []
    for ev in _events(evdir, app_id):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            if (ev.get("Properties") or {}).get("spark.jobGroup.id") == job_group:
                stages.update(ev.get("Stage IDs", []))
        elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stages:
            tasks.append(ev)
    if not tasks:
        raise RuntimeError(f"no tasks of job group {job_group!r} in the event log")

    per_stage: dict = {}
    sums = dict.fromkeys(PY_METRICS.values(), 0.0)
    gc_ms = shuffle_bytes = failed = 0
    jvm_rss = py_rss = 0
    for ev in tasks:
        info = ev.get("Task Info", {})
        dur = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1e3
        has_py = False
        for acc in info.get("Accumulables", []):
            key = PY_METRICS.get(acc.get("Name"))
            if key is not None:
                sums[key] += float(acc.get("Update") or 0)
                has_py = True
        st = per_stage.setdefault(ev["Stage ID"], {"durs": [], "py": False})
        st["durs"].append(dur)
        st["py"] |= has_py
        if info.get("Failed") or ev.get("Task End Reason", {}).get("Reason") != "Success":
            failed += 1
        tm = ev.get("Task Metrics") or {}
        gc_ms += tm.get("JVM GC Time", 0)
        shuffle_bytes += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        em = ev.get("Task Executor Metrics") or {}
        jvm_rss = max(jvm_rss, em.get("ProcessTreeJVMRSSMemory", 0))
        py_rss = max(py_rss, em.get("ProcessTreePythonRSSMemory", 0))

    cands = [s for s in per_stage.values() if s["py"]] or list(per_stage.values())
    durs = np.array(max(cands, key=lambda s: sum(s["durs"]))["durs"])
    p50 = float(np.median(durs))
    return {
        "task_s_p50": p50,
        "task_s_p90": float(np.percentile(durs, 90)),
        "task_skew": float(durs.max() / p50) if p50 > 0 else float("nan"),
        "task_count": int(len(durs)),
        "py_start_s": sums["py_start_ms"] / 1e3,
        "py_init_s": sums["py_init_ms"] / 1e3,
        "py_run_s": sums["py_run_ms"] / 1e3,
        "to_py_bytes": sums["to_py_bytes"],
        "from_py_bytes": sums["from_py_bytes"],
        "gc_s": gc_ms / 1e3,
        "shuffle_mb": shuffle_bytes / 1e6,
        "tasks_failed": failed,
        "jvm_rss_mb": jvm_rss / 1e6,
        "py_rss_mb": py_rss / 1e6,
    }
