"""L1: read a Spark event log (uncompressed JSON lines) offline and
total its task metrics per job group.

Jobs carry their group in ``SparkListenerJobStart.Properties
["spark.jobGroup.id"]``; a stage belongs to the group of the first
job that lists it, and a task to its stage. Jobs without a group are
totalled under ``""``.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field


@dataclass
class GroupTotals:
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    output_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    task_s: list[float] = field(default_factory=list)


def parse(lines) -> dict[str, GroupTotals]:
    """Totals per job group from an iterable of event-log lines."""
    groups: dict[str, GroupTotals] = {}
    stage_group: dict[int, str] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            gid = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            groups.setdefault(gid, GroupTotals()).jobs += 1
            for sid in ev.get("Stage IDs", ()):
                stage_group.setdefault(sid, gid)
        elif kind == "SparkListenerTaskEnd":
            g = groups.setdefault(stage_group.get(ev["Stage ID"], ""), GroupTotals())
            g.tasks += 1
            if (ev.get("Task Info") or {}).get("Failed"):
                g.failed_tasks += 1
            m = ev.get("Task Metrics")
            if not m:
                continue
            g.run_s += m.get("Executor Run Time", 0) / 1e3
            g.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            g.gc_s += m.get("JVM GC Time", 0) / 1e3
            g.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            g.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            g.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            g.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            g.spill_bytes += m.get("Disk Bytes Spilled", 0)
            g.task_s.append(m.get("Executor Run Time", 0) / 1e3)
    return groups


def parse_file(path: str) -> dict[str, GroupTotals]:
    with open(path) as f:
        return parse(f)
