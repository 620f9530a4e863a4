"""bench._task_histogram over a synthetic Spark event log: job-group
scoping, and a loud error when the requested group never ran."""

from __future__ import annotations

import json

import pytest

from bench import _task_histogram


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
    }


def _write_log(evdir, events):
    evdir.mkdir()
    with open(evdir / "local-1700000000000", "w") as f:
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


def test_histogram_scoped_to_job_group(tmp_path):
    evdir = _write_log(tmp_path / "ev", _events())
    hist = _task_histogram(evdir, job_group="measured")
    assert hist == {"p50": 120, "max": 400, "n_tasks": 4}
    assert not (tmp_path / "ev").exists()


def test_histogram_missing_job_group_raises(tmp_path):
    evdir = _write_log(tmp_path / "ev", _events())
    with pytest.raises(ValueError, match="'absent'"):
        _task_histogram(evdir, job_group="absent")
