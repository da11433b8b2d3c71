"""Spark's own per-stage accounting, read from an uncompressed event log.

Stdlib only. Every job is attributed to the job group it was submitted
under (``SparkContext.setJobGroup``), and a stage to the first job that
lists it. Only stages that ran at least one task are counted: a job that
reuses an earlier shuffle lists its map stage as skipped, with no task.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field

# RDD scope names of the stages that run Python workers
PYTHON_SCOPES = ("MapInPandas", "MapInArrow", "ArrowEvalPython",
                 "BatchEvalPython", "FlatMapGroupsInPandas")

METRICS = ("stages", "tasks", "executor_run_ms", "executor_cpu_ms",
           "deserialize_ms", "gc_ms", "shuffle_read_bytes",
           "shuffle_write_bytes", "output_bytes")


@dataclass
class Stage:
    stage_id: int
    python: bool = False
    tasks: int = 0
    executor_run_ms: float = 0.0
    executor_cpu_ms: float = 0.0
    deserialize_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    output_bytes: int = 0

    def add_task(self, m: dict) -> None:
        self.tasks += 1
        self.executor_run_ms += m.get("Executor Run Time", 0)
        self.executor_cpu_ms += m.get("Executor CPU Time", 0) / 1e6
        self.deserialize_ms += m.get("Executor Deserialize Time", 0)
        self.gc_ms += m.get("JVM GC Time", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        self.shuffle_read_bytes += (sr.get("Remote Bytes Read", 0)
                                    + sr.get("Local Bytes Read", 0))
        sw = m.get("Shuffle Write Metrics") or {}
        self.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
        self.output_bytes += (m.get("Output Metrics") or {}).get(
            "Bytes Written", 0)


@dataclass
class GroupStats:
    stages: list[Stage] = field(default_factory=list)

    def totals(self) -> dict[str, float]:
        ran = [s for s in self.stages if s.tasks]
        out: dict[str, float] = {"stages": len(ran)}
        for name in METRICS[1:]:
            out[name] = sum(getattr(s, name) for s in ran)
        return out

    def python_run_ms(self) -> float:
        """Executor run time of the stages that run Python workers."""
        return sum(s.executor_run_ms for s in self.stages if s.python)


def event_log_files(log_dir: str) -> list[str]:
    """The event log files under ``log_dir``: single-file logs and the
    ``events_<n>_*`` parts of rolling logs, parts in order."""
    def key(path: str) -> tuple:
        base = os.path.basename(path)
        if base.startswith("events_"):
            return (os.path.dirname(path), int(base.split("_")[1]))
        return (path, 0)

    files = [p for p in glob.glob(os.path.join(log_dir, "**", "*"),
                                  recursive=True)
             if os.path.isfile(p) and not os.path.basename(p).startswith(
                 ("appstatus_", "."))]
    return sorted(files, key=key)


def parse_events(lines) -> dict[str, GroupStats]:
    """Event-log JSON lines → per-job-group stage statistics. Jobs
    submitted outside any group are collected under ``""``."""
    stage_group: dict[int, str] = {}
    stages: dict[int, Stage] = {}
    for line in lines:
        if not line.strip():
            continue
        e = json.loads(line)
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or ""
            for sid in e.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
            st.python = any(
                json.loads(r["Scope"]).get("name") in PYTHON_SCOPES
                for r in info.get("RDD Info", []) if r.get("Scope"))
        elif kind == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            stages.setdefault(sid, Stage(sid)).add_task(
                e.get("Task Metrics") or {})
    groups: dict[str, GroupStats] = {}
    for sid, st in sorted(stages.items()):
        groups.setdefault(stage_group.get(sid, ""),
                          GroupStats()).stages.append(st)
    return groups


def parse_event_log(log_dir: str) -> dict[str, GroupStats]:
    def lines():
        for path in event_log_files(log_dir):
            with open(path, encoding="utf-8") as f:
                yield from f

    return parse_events(lines())
