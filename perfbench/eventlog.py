"""Fold a Spark event log into per-job-group execution records.

The traced run enables ``spark.eventLog.enabled`` with
``spark.eventLog.compress=false`` and tags every call with
``setJobGroup``. Spark writes one JSON object per line; this module
reads JobStart/JobEnd, StageSubmitted/StageCompleted and TaskEnd and
groups them by the ``spark.jobGroup.id`` property, so each benchmark
call gets its jobs, stages, tasks, executor time and bytes.
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"


@dataclass
class GroupRecord:
    jobs: list[tuple[float, float]] = field(default_factory=list)  # epoch s
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    # per completed stage: task run times (ms), for the skew ratio
    stage_task_ms: dict[int, list[float]] = field(default_factory=dict)

    def job_union_s(self, lo: float, hi: float) -> float:
        """Seconds of [lo, hi] covered by at least one job span."""
        spans = sorted((max(a, lo), min(b, hi)) for a, b in self.jobs)
        covered, end = 0.0, lo
        for a, b in spans:
            if b <= end:
                continue
            covered += b - max(a, end)
            end = b
        return covered

    def stage_skew(self) -> float:
        """Largest max/median task time over stages with 2+ tasks (1.0
        when no stage has two tasks)."""
        ratios = [
            max(ts) / statistics.median(ts)
            for ts in self.stage_task_ms.values()
            if len(ts) >= 2 and statistics.median(ts) > 0
        ]
        return max(ratios, default=1.0)


def _group(props: dict | None) -> str | None:
    return (props or {}).get(GROUP_KEY)


def fold(paths: list[str]) -> dict[str, GroupRecord]:
    """Parse uncompressed event log files into ``{group: record}``.
    Work outside any job group is filed under the empty string."""
    out: dict[str, GroupRecord] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_group: dict[int, str] = {}

    def rec(group: str | None) -> GroupRecord:
        return out.setdefault(group or "", GroupRecord())

    for ev in _events(paths):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            g = _group(ev.get("Properties")) or ""
            job_group[jid] = g
            job_start[jid] = ev["Submission Time"] / 1000.0
            for sid in ev.get("Stage IDs", ()):
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_start:
                rec(job_group[jid]).jobs.append(
                    (job_start.pop(jid), ev["Completion Time"] / 1000.0)
                )
        elif kind == "SparkListenerStageSubmitted":
            g = _group(ev.get("Properties"))
            if g is not None:
                stage_group[ev["Stage Info"]["Stage ID"]] = g
        elif kind == "SparkListenerStageCompleted":
            rec(stage_group.get(ev["Stage Info"]["Stage ID"])).stages += 1
        elif kind == "SparkListenerTaskEnd":
            _add_task(rec(stage_group.get(ev["Stage ID"])), ev)
    return out


def _events(paths: list[str]):
    for path in paths:
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def _add_task(r: GroupRecord, ev: dict) -> None:
    m = ev.get("Task Metrics") or {}
    r.tasks += 1
    run_ms = m.get("Executor Run Time", 0)
    r.executor_run_s += run_ms / 1000.0
    r.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
    r.gc_s += m.get("JVM GC Time", 0) / 1000.0
    sr = m.get("Shuffle Read Metrics") or {}
    r.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
        "Local Bytes Read", 0
    )
    sw = m.get("Shuffle Write Metrics") or {}
    r.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
    r.spill_bytes += m.get("Disk Bytes Spilled", 0)
    r.stage_task_ms.setdefault(ev["Stage ID"], []).append(float(run_ms))


def log_files(log_dir: str) -> list[str]:
    """The finished application's event log files in ``log_dir``, in
    order. Spark 4 writes a ``eventlog_v2_<app>`` directory holding
    ``events_<n>_<app>`` parts; older layouts write one file."""
    (name,) = [n for n in os.listdir(log_dir) if not n.endswith(".inprogress")]
    path = os.path.join(log_dir, name)
    if not os.path.isdir(path):
        return [path]
    parts = [n for n in os.listdir(path) if n.startswith("events_")]
    parts.sort(key=lambda n: int(n.split("_")[1]))
    return [os.path.join(path, n) for n in parts]
