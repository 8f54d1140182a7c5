"""Per-job-group work counters parsed from a local Spark event log.

Spark writes one JSON object per line.  Jobs and stages carry the job group
(``spark.jobGroup.id``) in their ``Properties``; tasks are attributed
through their stage.  Reads the single, uncompressed, non-rolling log
file that ``run.py`` has Spark write.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from dataclasses import dataclass, fields

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


@dataclass
class GroupWork:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0  # executor run time
    cpu_s: float = 0.0  # executor CPU time
    gc_s: float = 0.0  # JVM GC time inside tasks
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0  # bytes spilled to disk
    py_bytes_sent: int = 0
    py_bytes_returned: int = 0

    def add(self, other: "GroupWork") -> None:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))


def log_file(path: str) -> str:
    """``path`` itself, or the one event-log file Spark wrote into it."""
    if os.path.isfile(path):
        return path
    names = [n for n in os.listdir(path) if not n.startswith(".")]  # skip .crc files
    if len(names) != 1:
        raise ValueError(f"expected one event-log file in {path}, found {names}")
    return os.path.join(path, names[0])


def _group(event: dict) -> str | None:
    return (event.get("Properties") or {}).get("spark.jobGroup.id")


def parse(path: str) -> dict[str, GroupWork]:
    """Work per job group in the log at ``path`` (a file, or a directory
    holding one).  Jobs and stages without a group are skipped."""
    work: dict[str, GroupWork] = defaultdict(GroupWork)
    stage_group: dict[tuple[int, int], str] = {}
    with open(log_file(path)) as fh:
        for line in fh:
            event = json.loads(line)
            kind = event.get("Event")
            if kind == "SparkListenerJobStart":
                group = _group(event)
                if group is not None:
                    work[group].jobs += 1
            elif kind == "SparkListenerStageSubmitted":
                group = _group(event)
                info = event["Stage Info"]
                if group is not None:
                    stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = group
            elif kind == "SparkListenerStageCompleted":
                info = event["Stage Info"]
                group = stage_group.get((info["Stage ID"], info["Stage Attempt ID"]))
                if group is not None:
                    work[group].stages += 1
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get((event["Stage ID"], event["Stage Attempt ID"]))
                if group is not None:
                    _add_task(work[group], event)
    return dict(work)


def _add_task(w: GroupWork, event: dict) -> None:
    w.tasks += 1
    m = event.get("Task Metrics") or {}
    w.run_s += m.get("Executor Run Time", 0) / 1e3
    w.cpu_s += m.get("Executor CPU Time", 0) / 1e9
    w.gc_s += m.get("JVM GC Time", 0) / 1e3
    read = m.get("Shuffle Read Metrics") or {}
    w.shuffle_read_bytes += read.get("Remote Bytes Read", 0) + read.get("Local Bytes Read", 0)
    w.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    w.spill_bytes += m.get("Disk Bytes Spilled", 0)
    for acc in (event.get("Task Info") or {}).get("Accumulables", ()):
        name = acc.get("Name")
        if name == PY_SENT:
            w.py_bytes_sent += int(acc.get("Update", 0))
        elif name == PY_RETURNED:
            w.py_bytes_returned += int(acc.get("Update", 0))
