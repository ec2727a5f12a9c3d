"""Per-job-group aggregation of Spark's local event log.

Spark writes one JSON object per line (``spark.eventLog.enabled``, with
``spark.eventLog.compress=false``).  Every stage submitted inside a job
group carries the group id in its properties, so task metrics can be
attributed to the span that set the group (see ``spans.py``).  The log
keeps every job, unlike ``statusTracker``, which retains only
``spark.ui.retainedJobs`` of them.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import asdict, dataclass, field

GROUP_KEY = "spark.jobGroup.id"


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    #: max over the group's stages of (slowest task / median task)
    task_skew: float = 1.0
    _stage_task_ms: dict = field(default_factory=dict, repr=False)

    def add(self, other: "GroupStats") -> None:
        for f in ("jobs", "stages", "tasks", "task_s", "gc_s",
                  "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
            setattr(self, f, getattr(self, f) + getattr(other, f))
        self.task_skew = max(self.task_skew, other.task_skew)

    def as_dict(self) -> dict:
        d = asdict(self)
        d.pop("_stage_task_ms")
        return d


def aggregate(lines) -> dict[str | None, GroupStats]:
    """Sum task metrics per job group over an iterable of event-log
    lines.  Jobs run outside any group land under ``None``."""
    groups: dict[str | None, GroupStats] = {}
    stage_group: dict[int, str | None] = {}

    def stats(group):
        return groups.setdefault(group, GroupStats())

    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(GROUP_KEY)
            stats(group).jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            group = (ev.get("Properties") or {}).get(GROUP_KEY, stage_group.get(sid))
            stage_group[sid] = group
            stats(group).stages += 1
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            g = stats(stage_group.get(sid))
            m = ev.get("Task Metrics") or {}
            run_ms = m.get("Executor Run Time", 0)
            g.tasks += 1
            g.task_s += run_ms / 1000.0
            g.gc_s += m.get("JVM GC Time", 0) / 1000.0
            rd = m.get("Shuffle Read Metrics") or {}
            g.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get(
                "Local Bytes Read", 0
            )
            g.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            g.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            g._stage_task_ms.setdefault(sid, []).append(run_ms)
    for g in groups.values():
        for times in g._stage_task_ms.values():
            med = statistics.median(times)
            if len(times) > 1 and med > 0:
                g.task_skew = max(g.task_skew, max(times) / med)
    return groups


def aggregate_file(path: str) -> dict[str | None, GroupStats]:
    with open(path) as f:
        return aggregate(f)

