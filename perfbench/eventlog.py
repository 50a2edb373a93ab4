"""Reduce a Spark event log to task metrics per job group.

Every job carries the job group that was set on its driver thread when it
was submitted (``SparkListenerJobStart`` properties, key
``spark.jobGroup.id``). A stage is charged to the group of the first job
that lists it; a task to the group of its stage. The result is one
``GroupMetrics`` row per group plus the list of jobs with their wall
interval, which ``trace.attribute`` uses to split wall time between
layers.

Enable the log with ``spark.eventLog.enabled=true``,
``spark.eventLog.compress=false`` and read it after ``spark.stop()``, so
the file is complete.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"
NO_GROUP = "(none)"
_MB = 1e6


@dataclass
class GroupMetrics:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0  # sum of executor run time
    jvm_cpu_s: float = 0.0  # sum of executor CPU time
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0  # memory bytes spilled
    input_rows: int = 0
    rows_out: int = 0  # records written to files

    @property
    def python_s(self) -> float:
        """Task time the JVM spent off its own CPU: for mapInPandas and
        pandas-UDF stages this is dominated by the Python workers."""
        return max(0.0, self.task_s - self.jvm_cpu_s)


@dataclass(frozen=True)
class Job:
    job_id: int
    group: str
    start_s: float  # epoch seconds
    end_s: float


@dataclass
class EventLog:
    groups: dict[str, GroupMetrics] = field(default_factory=dict)
    jobs: list[Job] = field(default_factory=list)


def _event_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    out = []
    for dirpath, _, names in os.walk(path):
        out += [os.path.join(dirpath, n) for n in sorted(names) if not n.startswith(("appstatus", "."))]
    return out


def read_event_log(path: str) -> EventLog:
    """Reduce every event file under ``path`` (a file or a directory)."""
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    job_end: dict[int, float] = {}
    stage_tasks: dict[int, int] = {}
    log = EventLog()

    def metrics(group: str) -> GroupMetrics:
        return log.groups.setdefault(group, GroupMetrics())

    for path_ in _event_files(path):
        with open(path_) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue  # a torn last line of an unfinished log
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    group = (ev.get("Properties") or {}).get(GROUP_KEY) or NO_GROUP
                    job_group[jid] = group
                    job_start[jid] = ev.get("Submission Time", 0) / 1e3
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                    metrics(group).jobs += 1
                elif kind == "SparkListenerJobEnd":
                    job_end[ev["Job ID"]] = ev.get("Completion Time", 0) / 1e3
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    m = metrics(stage_group.get(sid, NO_GROUP))
                    tm = ev.get("Task Metrics") or {}
                    stage_tasks[sid] = stage_tasks.get(sid, 0) + 1
                    m.tasks += 1
                    m.task_s += tm.get("Executor Run Time", 0) / 1e3
                    m.jvm_cpu_s += tm.get("Executor CPU Time", 0) / 1e9
                    m.gc_s += tm.get("JVM GC Time", 0) / 1e3
                    m.spill_mb += tm.get("Memory Bytes Spilled", 0) / _MB
                    sr = tm.get("Shuffle Read Metrics") or {}
                    m.shuffle_read_mb += (
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    ) / _MB
                    m.shuffle_write_mb += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    ) / _MB
                    m.input_rows += (tm.get("Input Metrics") or {}).get("Records Read", 0)
                    m.rows_out += (tm.get("Output Metrics") or {}).get("Records Written", 0)
    for sid in stage_tasks:
        metrics(stage_group.get(sid, NO_GROUP)).stages += 1
    for jid, group in sorted(job_group.items()):
        if jid in job_end:
            log.jobs.append(Job(jid, group, job_start[jid], job_end[jid]))
    return log
