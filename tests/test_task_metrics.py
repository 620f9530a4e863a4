"""perfbench.sparkmetrics.task_metrics over a synthetic Spark event log:
job-group scoping, and a loud error when the requested group never ran."""

from __future__ import annotations

import json

import numpy as np
import pytest

from perfbench.sparkmetrics import task_metrics

APP_ID = "local-1"


def _job_start(job_id, stage_ids, group=None):
    props = {"spark.jobGroup.id": group} if group else {}
    return {
        "Event": "SparkListenerJobStart",
        "Job ID": job_id,
        "Stage IDs": stage_ids,
        "Properties": props,
    }


def _task_end(stage_id, dur_ms):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage_id,
        "Task Info": {"Launch Time": 1000, "Finish Time": 1000 + dur_ms},
        "Task End Reason": {"Reason": "Success"},
    }


def _write_log(evdir, events):
    logdir = evdir / f"eventlog_v2_{APP_ID}"
    logdir.mkdir(parents=True)
    with open(logdir / f"events_1_{APP_ID}", "w") as f:
        for ev in events:
            f.write(json.dumps(ev, separators=(",", ":")) + "\n")
    return str(evdir)


def _events():
    # stage 0: a heavy fixture-build job outside the group; stage 1: the
    # measured job, four tasks with one straggler
    return [
        _job_start(0, [0]),
        *[_task_end(0, 5000) for _ in range(3)],
        _job_start(1, [1], group="measured"),
        *[_task_end(1, d) for d in (100, 110, 120, 400)],
    ]


def test_task_metrics_scoped_to_job_group(tmp_path):
    evdir = _write_log(tmp_path / "ev", _events())
    m = task_metrics(evdir, APP_ID, job_group="measured")
    p50 = float(np.median([0.1, 0.11, 0.12, 0.4]))
    assert p50 == pytest.approx(0.115)
    assert m["task_count"] == 4
    assert m["task_s_p50"] == p50
    assert m["task_skew"] == 0.4 / p50
    assert m["tasks_failed"] == 0


def test_task_metrics_missing_job_group_raises(tmp_path):
    evdir = _write_log(tmp_path / "ev", _events())
    with pytest.raises(RuntimeError, match="'absent'"):
        task_metrics(evdir, APP_ID, job_group="absent")
