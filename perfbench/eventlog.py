"""Fold a Spark event log (uncompressed, non-rolling JSON lines) into
job, stage and task totals that can be filtered by job group or by
submission time."""

from __future__ import annotations

import json
import statistics
from collections.abc import Callable, Iterable
from dataclasses import dataclass, field


@dataclass
class Job:
    job_id: int
    group: str | None
    submit_ms: int
    stage_ids: list[int]


@dataclass
class Stage:
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    task_run_ms: list[int] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, Stage] = field(default_factory=dict)
    stage_job: dict[int, int] = field(default_factory=dict)

    def totals(self, keep: Callable[[Job], bool] = lambda j: True) -> dict[str, float]:
        """Sum the stages of the jobs ``keep`` selects. A stage counts
        once, under the first job that listed it, and only if it ran
        tasks (skipped stages reuse earlier shuffle output)."""
        jobs = [j for j in self.jobs.values() if keep(j)]
        ids = {j.job_id for j in jobs}
        stages = [
            s for sid, s in self.stages.items() if self.stage_job.get(sid) in ids and s.tasks
        ]
        slowest = max(stages, key=lambda s: s.run_ms, default=None)
        skew = 0.0
        if slowest is not None and slowest.task_run_ms:
            med = statistics.median(slowest.task_run_ms)
            skew = max(slowest.task_run_ms) / med if med else float(max(slowest.task_run_ms) > 0)
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(s.tasks for s in stages),
            "executor_run_s": sum(s.run_ms for s in stages) / 1e3,
            "executor_cpu_s": sum(s.cpu_ns for s in stages) / 1e9,
            "gc_s": sum(s.gc_ms for s in stages) / 1e3,
            "shuffle_read_mb": sum(s.shuffle_read for s in stages) / 1e6,
            "shuffle_write_mb": sum(s.shuffle_write for s in stages) / 1e6,
            "spill_mb": sum(s.spill for s in stages) / 1e6,
            "task_skew": skew,
        }


def fold(lines: Iterable[str]) -> EventLog:
    log = EventLog()
    for line in lines:
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = Job(ev["Job ID"], props.get("spark.jobGroup.id"), ev["Submission Time"], ev["Stage IDs"])
            log.jobs[job.job_id] = job
            for sid in job.stage_ids:
                log.stage_job.setdefault(sid, job.job_id)
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            if not m:
                continue
            st = log.stages.setdefault(ev["Stage ID"], Stage())
            st.tasks += 1
            st.run_ms += m["Executor Run Time"]
            st.task_run_ms.append(m["Executor Run Time"])
            st.cpu_ns += m["Executor CPU Time"]
            st.gc_ms += m["JVM GC Time"]
            rd = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            st.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            st.spill += m.get("Disk Bytes Spilled", 0)
    return log


def fold_file(path: str) -> EventLog:
    with open(path, encoding="utf-8") as fh:
        return fold(fh)
