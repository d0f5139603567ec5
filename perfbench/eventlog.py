"""Attribute Spark executor work to job groups from the event log.

Spark writes one JSON event per line (``spark.eventLog.enabled``).
Jobs carry their job group in ``SparkListenerJobStart.Properties``;
stages carry it in ``SparkListenerStageSubmitted.Properties``; every
``SparkListenerTaskEnd`` names its stage and holds the task's metrics.
Summing task metrics per stage group gives each group's executor run,
CPU and GC time, shuffle, spill and I/O bytes. Work submitted outside
any group is collected under ``None``.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, fields
from pathlib import Path


@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    output_records: int = 0

    def add(self, other: "GroupStats") -> None:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))


def event_files(log_dir: Path) -> list[Path]:
    """Event files of every application logged under ``log_dir``: plain
    files, and the numbered parts of rolling ``eventlog_v2_*`` dirs."""

    def part_number(p: Path) -> int:
        m = re.match(r"events_(\d+)_", p.name)
        return int(m.group(1)) if m else 0

    out: list[Path] = []
    for entry in sorted(Path(log_dir).iterdir()):
        if entry.is_dir():
            out.extend(sorted(entry.glob("events_*"), key=part_number))
        elif not entry.name.startswith(".") and entry.suffix != ".inprogress":
            out.append(entry)
    return out


def read_events(log_dir: Path):
    for path in event_files(log_dir):
        with open(path) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def _group(event: dict) -> str | None:
    return (event.get("Properties") or {}).get("spark.jobGroup.id")


def group_stats(events) -> dict[str | None, GroupStats]:
    """Job group → summed job counts and task metrics."""
    stats: dict[str | None, GroupStats] = {}
    stage_group: dict[tuple[int, int], str | None] = {}

    def of(group: str | None) -> GroupStats:
        return stats.setdefault(group, GroupStats())

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            of(_group(ev)).jobs += 1
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = _group(ev)
        elif kind == "SparkListenerTaskEnd":
            key = (ev["Stage ID"], ev["Stage Attempt ID"])
            s = of(stage_group.get(key))
            s.tasks += 1
            m = ev.get("Task Metrics") or {}
            s.run_s += m.get("Executor Run Time", 0) / 1e3
            s.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            s.gc_s += m.get("JVM GC Time", 0) / 1e3
            s.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            sw = m.get("Shuffle Write Metrics") or {}
            s.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            s.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            s.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            out = m.get("Output Metrics") or {}
            s.output_bytes += out.get("Bytes Written", 0)
            s.output_records += out.get("Records Written", 0)
    return stats
