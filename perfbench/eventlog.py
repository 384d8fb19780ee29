"""Spark event-log reader: task metrics per job description.

Reads one uncompressed, non-rolling event log (``spark.eventLog.
compress=false``, ``spark.eventLog.rolling.enabled=false``). Each
``SparkListenerJobStart`` names its stages (``Stage IDs``) and carries
``Properties["spark.job.description"]``; a stage belongs to the first
job that lists it, and each ``SparkListenerTaskEnd`` adds its task's
metrics to its stage's description.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class JobMetrics:
    """Summed task metrics of every job that ran under one description."""

    tasks: int = 0
    run_s: float = 0.0  # Executor Run Time
    cpu_s: float = 0.0  # Executor CPU Time
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    memory_spill_bytes: int = 0
    disk_spill_bytes: int = 0
    input_bytes: int = 0
    input_records: int = 0
    output_bytes: int = 0
    output_records: int = 0
    slowest_task_s: float = 0.0
    # run time of each task that wrote output, for write skew
    write_task_s: list[float] = field(default_factory=list)

    @property
    def spill_bytes(self) -> int:
        return self.memory_spill_bytes + self.disk_spill_bytes

    def write_skew(self) -> float:
        """Slowest writing task over the median writing task."""
        ts = [t for t in self.write_task_s if t > 0]
        return max(ts) / statistics.median(ts) if ts else 1.0

    def add(self, m: dict) -> None:
        self.tasks += 1
        run = m.get("Executor Run Time", 0) / 1e3
        self.run_s += run
        self.cpu_s += m.get("Executor CPU Time", 0) / 1e9
        self.slowest_task_s = max(self.slowest_task_s, run)
        sr = m.get("Shuffle Read Metrics", {})
        self.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        self.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        self.memory_spill_bytes += m.get("Memory Bytes Spilled", 0)
        self.disk_spill_bytes += m.get("Disk Bytes Spilled", 0)
        inp = m.get("Input Metrics", {})
        self.input_bytes += inp.get("Bytes Read", 0)
        self.input_records += inp.get("Records Read", 0)
        out = m.get("Output Metrics", {})
        self.output_bytes += out.get("Bytes Written", 0)
        self.output_records += out.get("Records Written", 0)
        if out.get("Records Written", 0):
            self.write_task_s.append(run)


def read(path: Path) -> dict[str | None, JobMetrics]:
    """``{job description: metrics}``; jobs run without a description
    are summed under ``None``."""
    stage_desc: dict[int, str | None] = {}
    table: dict[str | None, JobMetrics] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description")
                for sid in ev.get("Stage IDs", []):
                    stage_desc.setdefault(sid, desc)
            elif kind == "SparkListenerTaskEnd" and "Task Metrics" in ev:
                desc = stage_desc.get(ev["Stage ID"])
                table.setdefault(desc, JobMetrics()).add(ev["Task Metrics"])
    return table


def latest_log(log_dir: Path) -> Path:
    """The most recently written event log in ``log_dir``."""
    logs = [p for p in log_dir.iterdir() if p.is_file() and not p.name.startswith(".")]
    if not logs:
        raise FileNotFoundError(f"no event log in {log_dir}")
    return max(logs, key=lambda p: p.stat().st_mtime)
