"""Per-job-group totals from an uncompressed Spark event log.

The traced run puts every pipeline stage under its own job group
(``SparkContext.setJobGroup``).  A job carries its group in the
``spark.jobGroup.id`` property of ``SparkListenerJobStart``; its stages
are listed there too, and each ``SparkListenerTaskEnd`` names its
stage.  That chain attributes every task -- its executor run time, its
shuffle bytes and whether it failed -- to the stage of the pipeline
that caused it.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

MIB = 1024 * 1024


@dataclass
class GroupTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    executor_run_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0

    def add(self, other: "GroupTotals") -> None:
        for name in self.__dataclass_fields__:
            setattr(self, name, getattr(self, name) + getattr(other, name))


def event_files(path: str) -> list[str]:
    """The event files of one application: ``path`` itself, or every
    ``events_*`` file of a rolling (``eventlog_v2_*``) directory."""
    if os.path.isfile(path):
        return [path]
    names = sorted(
        (n for n in os.listdir(path) if n.startswith("events_")),
        key=lambda n: int(n.split("_")[1]),
    )
    return [os.path.join(path, n) for n in names]


def parse(lines) -> dict[str, GroupTotals]:
    """Sum tasks, run time and shuffle bytes per job group.

    Jobs without a group are keyed by ``""``.  A stage shared by two
    jobs counts for the first job that listed it.
    """
    groups: dict[str, GroupTotals] = {}
    stage_group: dict[int, str] = {}
    stages_with_tasks: set[int] = set()
    for line in lines:
        line = line.strip()
        if not line:
            continue
        event = json.loads(line)
        kind = event.get("Event")
        if kind == "SparkListenerJobStart":
            group = (event.get("Properties") or {}).get("spark.jobGroup.id") or ""
            groups.setdefault(group, GroupTotals()).jobs += 1
            for stage in event.get("Stage IDs", []):
                stage_group.setdefault(stage, group)
        elif kind == "SparkListenerTaskEnd":
            stage = event["Stage ID"]
            totals = groups.setdefault(stage_group.get(stage, ""), GroupTotals())
            if stage not in stages_with_tasks:
                stages_with_tasks.add(stage)
                totals.stages += 1
            totals.tasks += 1
            if (event.get("Task End Reason") or {}).get("Reason") != "Success":
                totals.failed_tasks += 1
            metrics = event.get("Task Metrics") or {}
            totals.executor_run_s += metrics.get("Executor Run Time", 0) / 1000.0
            read = metrics.get("Shuffle Read Metrics") or {}
            totals.shuffle_read_bytes += (
                read.get("Remote Bytes Read", 0) + read.get("Local Bytes Read", 0)
            )
            write = metrics.get("Shuffle Write Metrics") or {}
            totals.shuffle_write_bytes += write.get("Shuffle Bytes Written", 0)
    return groups


def parse_dir(log_dir: str) -> dict[str, GroupTotals]:
    """Parse every application log under ``log_dir`` (the value of
    ``spark.eventLog.dir``) into one per-group table."""
    lines: list[str] = []
    for app in sorted(os.listdir(log_dir)):
        if app.startswith(".") or app.endswith(".inprogress"):
            continue
        for path in event_files(os.path.join(log_dir, app)):
            with open(path, encoding="utf-8") as fh:
                lines.extend(fh)
    return parse(lines)
