"""Spark event-log parser: job group → jobs, stages, tasks and task metrics.

The traced run enables a plain (uncompressed, non-rolling) event log
through ``get_spark(extra_conf=...)`` and tags every call it times with
``SparkContext.setJobGroup``. Each job records its group in its
``Properties``; stages and tasks are attributed to the group of the
first job that lists them. Only stages that ran count: a stage skipped
because its shuffle output was reused never completes.
"""

from __future__ import annotations

import json
import re
from collections import defaultdict
from dataclasses import dataclass, field

_MB = 1024 * 1024

#: The events the parser reads; other lines are skipped before decoding.
_WANTED = (
    b'"SparkListenerJobStart"',
    b'"SparkListenerStageCompleted"',
    b'"SparkListenerTaskEnd"',
    b"SparkListenerSQLExecutionStart",
    b"SparkListenerSQLAdaptiveExecutionUpdate",
)


@dataclass
class GroupStats:
    """Totals of one job group."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    spill_mb: float = 0.0
    input_mb: float = 0.0
    input_rows: int = 0
    output_mb: float = 0.0
    #: completed stages that scan a source file (``FileScanRDD``)
    scan_stages: int = 0
    #: final physical plan text of each SQL execution the group ran
    plans: list[str] = field(default_factory=list)

    @property
    def broadcast_joins(self) -> int:
        """Broadcast hash joins in the final plans of the group's executions."""
        return sum(len(_BHJ.findall(final_plan_tree(p))) for p in self.plans)


_BHJ = re.compile(r"BroadcastHashJoin[^\n]*\((\d+)\)$", re.MULTILINE)


def final_plan_tree(description: str) -> str:
    """The node tree of the plan that ran: the formatted description up to
    its node-details section, without an adaptive plan's initial plan."""
    tree = description.split("\n\n", 1)[0]
    return tree.split("== Initial Plan ==", 1)[0]


def _event_lines(path: str):
    with open(path, "rb") as f:
        for line in f:
            if any(w in line[:120] for w in _WANTED):
                yield json.loads(line)


def parse(path: str) -> dict[str, GroupStats]:
    """Per-job-group totals of the event log at ``path``."""
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    plans: dict[int, str] = {}
    for ev in _event_lines(path):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            if group is None:
                continue
            groups[group].jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
            if "spark.sql.execution.id" in props:
                exec_group.setdefault(int(props["spark.sql.execution.id"]), group)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            group = stage_group.get(info["Stage ID"])
            if group is None or "Failure Reason" in info:
                continue
            stats = groups[group]
            stats.stages += 1
            if any(r.get("Name") == "FileScanRDD" for r in info.get("RDD Info", [])):
                stats.scan_stages += 1
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"])
            if group is None:
                continue
            stats = groups[group]
            stats.tasks += 1
            if ev.get("Task Info", {}).get("Failed"):
                stats.failed_tasks += 1
            m = ev.get("Task Metrics") or {}
            stats.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            stats.gc_s += m.get("JVM GC Time", 0) / 1e3
            stats.spill_mb += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / _MB
            sw = m.get("Shuffle Write Metrics") or {}
            stats.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / _MB
            sr = m.get("Shuffle Read Metrics") or {}
            stats.shuffle_read_mb += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / _MB
            inp = m.get("Input Metrics") or {}
            stats.input_mb += inp.get("Bytes Read", 0) / _MB
            stats.input_rows += inp.get("Records Read", 0)
            stats.output_mb += (m.get("Output Metrics") or {}).get("Bytes Written", 0) / _MB
        else:
            # SQL execution start / adaptive update: keep the latest plan
            plans[int(ev["executionId"])] = ev.get("physicalPlanDescription", "")
    for eid, group in exec_group.items():
        if eid in plans:
            groups[group].plans.append(plans[eid])
    return dict(groups)
