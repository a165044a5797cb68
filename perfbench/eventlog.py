"""Per-job figures from uncompressed Spark event logs (JSON lines, one
file per application)."""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field


@dataclass
class Job:
    id: int
    submit: float  # epoch s
    end: float | None = None
    props: dict = field(default_factory=dict)
    stages: list = field(default_factory=list)
    executor_run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0

    @property
    def batch_id(self) -> int | None:
        b = self.props.get("streaming.sql.batchId")
        return None if b is None else int(b)


def parse_lines(lines) -> list[Job]:
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            j = Job(ev["Job ID"], ev["Submission Time"] / 1000.0,
                    props=ev.get("Properties") or {}, stages=ev.get("Stage IDs", []))
            jobs[j.id] = j
            for s in j.stages:
                stage_job.setdefault(s, j.id)  # a reused stage ran in its first job
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            j = jobs.get(stage_job.get(ev.get("Stage ID")))
            m = ev.get("Task Metrics") or {}
            if j is None:
                continue
            j.executor_run_s += m.get("Executor Run Time", 0) / 1000.0
            j.gc_s += m.get("JVM GC Time", 0) / 1000.0
            j.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
    return sorted(jobs.values(), key=lambda j: j.id)


def load(path: str) -> list[Job]:
    """All jobs of every application log under ``path``."""
    jobs = []
    for f in sorted(os.listdir(path)):
        with open(os.path.join(path, f), encoding="utf-8") as fh:
            jobs += parse_lines(fh)
    return jobs


def in_window(jobs: list[Job], start: float, end: float) -> list[Job]:
    """Jobs submitted inside ``[start, end]`` (epoch s)."""
    return [j for j in jobs if start <= j.submit <= end]
