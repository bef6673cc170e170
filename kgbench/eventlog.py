"""Spark event-log reader (stdlib ``json`` only).

Reads an uncompressed, non-rolling event log and attributes every job,
stage and task to the job group it ran under (``spark.jobGroup.id`` in
the job's properties; jobs started outside any group land under None).
Per group it sums executor run/CPU time, input records and bytes, output
bytes, shuffle read bytes and records, shuffle write bytes, spill, and
the SQL metrics that Spark's Python runners report (data sent to /
returned from Python workers and the time to start, initialize and run
them).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, fields

# SQL metric name (task accumulables) -> GroupStats field
PYTHON_METRICS = {
    "data sent to Python workers": "py_sent_bytes",
    "data returned from Python workers": "py_returned_bytes",
    "time to start Python workers": "py_start_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
}


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_ms: int = 0
    cpu_ms: float = 0.0
    input_records: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_read_records: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    py_sent_bytes: int = 0
    py_returned_bytes: int = 0
    py_start_ms: int = 0
    py_init_ms: int = 0
    py_run_ms: int = 0

    def add(self, other: "GroupStats") -> None:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))


def _add_task(g: GroupStats, event: dict) -> None:
    m = event.get("Task Metrics") or {}
    g.tasks += 1
    g.run_ms += m.get("Executor Run Time", 0)
    g.cpu_ms += m.get("Executor CPU Time", 0) / 1e6
    g.input_records += m.get("Input Metrics", {}).get("Records Read", 0)
    g.input_bytes += m.get("Input Metrics", {}).get("Bytes Read", 0)
    g.output_bytes += m.get("Output Metrics", {}).get("Bytes Written", 0)
    rd = m.get("Shuffle Read Metrics", {})
    g.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
    g.shuffle_read_records += rd.get("Total Records Read", 0)
    g.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
    g.spill_bytes += m.get("Disk Bytes Spilled", 0)
    for acc in event["Task Info"].get("Accumulables", []):
        name = PYTHON_METRICS.get(acc.get("Name"))
        if name is not None:
            setattr(g, name, getattr(g, name) + int(acc.get("Update") or 0))


def read_groups(lines) -> dict[str | None, GroupStats]:
    """Aggregate an event log (an iterable of JSON lines) per job group."""
    stage_group: dict[int, str | None] = {}
    groups: dict[str | None, GroupStats] = {}
    for line in lines:
        event = json.loads(line)
        kind = event["Event"]
        if kind == "SparkListenerJobStart":
            group = (event.get("Properties") or {}).get("spark.jobGroup.id")
            groups.setdefault(group, GroupStats()).jobs += 1
            for sid in event.get("Stage IDs", []):
                stage_group.setdefault(sid, group)  # a reused stage keeps its first job
        elif kind == "SparkListenerStageCompleted":
            group = stage_group.get(event["Stage Info"]["Stage ID"])
            groups.setdefault(group, GroupStats()).stages += 1
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(event["Stage ID"])
            _add_task(groups.setdefault(group, GroupStats()), event)
    return groups


def read_dir(path: str) -> dict[str | None, GroupStats]:
    """Aggregate every finished event log in ``path`` (one per app)."""
    total: dict[str | None, GroupStats] = {}
    for name in sorted(os.listdir(path)):
        if name.endswith(".inprogress"):
            raise RuntimeError(f"event log {name} is still being written; stop the session first")
        with open(os.path.join(path, name)) as f:
            for group, g in read_groups(f).items():
                total.setdefault(group, GroupStats()).add(g)
    return total
