"""eventlog.parse on a small canned Spark event log.

    python3 -m pytest perfbench/test_eventlog.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402


def job_start(job, stages, group=None):
    props = {"spark.jobGroup.id": group} if group is not None else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job, "Submission Time": 0,
            "Stage Infos": [], "Stage IDs": stages, "Properties": props}


def task_end(stage, run_ms, read=(0, 0), written=0, reason="Success"):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
        "Task Type": "ResultTask", "Task End Reason": {"Reason": reason},
        "Task Info": {}, "Task Executor Metrics": {},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Shuffle Read Metrics": {"Remote Bytes Read": read[0], "Local Bytes Read": read[1],
                                     "Total Records Read": 0},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": written,
                                      "Shuffle Write Time": 0},
        },
    }


CANNED = [
    {"Event": "SparkListenerApplicationStart", "App Name": "canned"},
    job_start(0, [0, 1], group="mentions"),
    task_end(0, 1500, written=2048),
    task_end(0, 500, written=1024),
    task_end(1, 250, read=(100, 924)),
    job_start(1, [2], group="cc"),
    task_end(2, 1000, reason="ExceptionFailure"),
    task_end(2, 1000),
    # a stage listed by a second job stays with the first job's group
    job_start(2, [1, 3], group="cc"),
    task_end(1, 250),
    task_end(3, 0),
    job_start(3, [4]),
    task_end(4, 125),
    {"Event": "SparkListenerApplicationEnd", "Timestamp": 0},
]


def test_parse_attributes_tasks_to_job_groups():
    groups = eventlog.parse(json.dumps(e) for e in CANNED)

    mentions = groups["mentions"]
    assert (mentions.jobs, mentions.stages, mentions.tasks) == (1, 2, 4)
    assert mentions.executor_run_s == pytest.approx(2.5)
    assert mentions.shuffle_write_bytes == 3072
    assert mentions.shuffle_read_bytes == 1024
    assert mentions.failed_tasks == 0

    cc = groups["cc"]
    assert (cc.jobs, cc.stages, cc.tasks, cc.failed_tasks) == (2, 2, 3, 1)
    assert cc.executor_run_s == pytest.approx(2.0)

    ungrouped = groups[""]
    assert (ungrouped.jobs, ungrouped.tasks) == (1, 1)
    assert ungrouped.executor_run_s == pytest.approx(0.125)


def test_group_totals_add():
    total = eventlog.GroupTotals()
    for totals in eventlog.parse(json.dumps(e) for e in CANNED).values():
        total.add(totals)
    assert (total.jobs, total.tasks, total.failed_tasks) == (4, 8, 1)
    assert total.executor_run_s == pytest.approx(4.625)


def test_parse_dir_reads_rolling_logs_and_skips_in_progress(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    lines = [json.dumps(e) + "\n" for e in CANNED]
    # rolled files are read in index order, not name order
    (app / "events_10_local-1").write_text("".join(lines[8:]))
    (app / "events_2_local-1").write_text("".join(lines[:8]))
    (app / "appstatus_local-1").write_text("")
    (tmp_path / "local-2.inprogress").write_text(json.dumps(job_start(9, [9], "x")) + "\n")

    groups = eventlog.parse_dir(str(tmp_path))
    assert "x" not in groups
    assert groups["cc"].jobs == 2
    assert groups["mentions"].tasks == 4
