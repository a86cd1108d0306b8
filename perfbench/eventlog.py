"""Parse Spark's JSON event log and attribute its jobs to benchmark spans.

Spark writes one JSON object per line (``spark.eventLog.enabled``). The
parser keeps the job, stage and task events and turns them into
:class:`Job`, :class:`Stage` and :class:`Task` records. ``attribute`` maps
each job to a span: by the job group the tracer set, or, for a job without
one (submitted from a library-owned thread), to the innermost main-thread
span whose time window holds the job's submission. ``summarize`` then
rolls up the task metrics of a span's jobs.

Times in the log are epoch milliseconds; they are returned in seconds.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field
from pathlib import Path

MB = 1e6


@dataclass
class Task:
    stage: int
    launch: float
    finish: float
    failed: bool
    run_s: float
    cpu_s: float
    gc_s: float
    sched_delay_s: float
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int

    @property
    def seconds(self) -> float:
        return self.finish - self.launch


@dataclass
class Stage:
    id: int
    name: str
    submit: float
    complete: float
    tasks: int
    failed: bool


@dataclass
class Job:
    id: int
    submit: float
    end: float | None
    group: str | None
    stage_ids: list[int]
    succeeded: bool = False
    stages_run: list[int] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stages: dict[int, Stage]
    tasks: list[Task]
    stage_job: dict[int, int]


def _task(ev: dict) -> Task:
    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
    launch, finish = info["Launch Time"] / 1e3, info["Finish Time"] / 1e3
    run_ms = m.get("Executor Run Time", 0)
    rd = m.get("Shuffle Read Metrics") or {}
    wr = m.get("Shuffle Write Metrics") or {}
    # scheduler delay as the Spark UI computes it: the task's wall time not
    # spent deserializing, running, serializing or fetching its result
    busy_ms = (
        run_ms + m.get("Executor Deserialize Time", 0)
        + m.get("Result Serialization Time", 0)
    )
    fetch_ms = (
        info["Finish Time"] - info["Getting Result Time"]
        if info.get("Getting Result Time") else 0
    )
    delay = max(0.0, (info["Finish Time"] - info["Launch Time"] - busy_ms - fetch_ms) / 1e3)
    return Task(
        stage=ev["Stage ID"],
        launch=launch,
        finish=finish,
        failed=bool(info.get("Failed")) or bool(info.get("Killed")),
        run_s=run_ms / 1e3,
        cpu_s=m.get("Executor CPU Time", 0) / 1e9,
        gc_s=m.get("JVM GC Time", 0) / 1e3,
        sched_delay_s=delay,
        shuffle_read_bytes=rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
        shuffle_write_bytes=wr.get("Shuffle Bytes Written", 0),
        spill_bytes=m.get("Disk Bytes Spilled", 0),
    )


def parse(path: Path) -> EventLog:
    """Parse one uncompressed, non-rolling event-log file."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    tasks: list[Task] = []
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = Job(
                    id=ev["Job ID"],
                    submit=ev["Submission Time"] / 1e3,
                    end=None,
                    group=props.get("spark.jobGroup.id"),
                    stage_ids=list(ev["Stage IDs"]),
                )
            elif kind == "SparkListenerJobEnd":
                job = jobs[ev["Job ID"]]
                job.end = ev["Completion Time"] / 1e3
                job.succeeded = ev["Job Result"]["Result"] == "JobSucceeded"
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                stages[info["Stage ID"]] = Stage(
                    id=info["Stage ID"],
                    name=info.get("Stage Name", ""),
                    submit=info["Submission Time"] / 1e3,
                    complete=info["Completion Time"] / 1e3,
                    tasks=info["Number of Tasks"],
                    failed="Failure Reason" in info,
                )
            elif kind == "SparkListenerTaskEnd":
                tasks.append(_task(ev))
    # a stage belongs to the first job that lists it: later jobs that
    # reuse its shuffle output list it too but skip it
    stage_job: dict[int, int] = {}
    for job in sorted(jobs.values(), key=lambda j: j.id):
        for sid in job.stage_ids:
            stage_job.setdefault(sid, job.id)
    for sid, jid in stage_job.items():
        if sid in stages:
            jobs[jid].stages_run.append(sid)
    return EventLog(jobs=jobs, stages=stages, tasks=tasks, stage_job=stage_job)


def attribute(log: EventLog, spans, main_thread: int) -> dict[int, int | None]:
    """job id -> span id. A job carries its span's group when the span was
    opened on the submitting thread; otherwise it goes to the innermost
    (latest-starting) main-thread span open at its submission, or None."""
    by_group = {s.group: s.id for s in spans}
    windows = sorted(
        (s for s in spans if s.thread == main_thread and s.end is not None),
        key=lambda s: s.start,
    )
    out: dict[int, int | None] = {}
    for job in log.jobs.values():
        if job.group in by_group:
            out[job.id] = by_group[job.group]
            continue
        inner = None
        for s in windows:
            if s.start <= job.submit <= s.end:
                inner = s.id
        out[job.id] = inner
    return out


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def summarize(log: EventLog, job_ids, lo: float, hi: float) -> dict:
    """Roll up the jobs ``job_ids``, run inside the window [lo, hi]."""
    jobs = [log.jobs[j] for j in job_ids]
    stage_ids = {s for j in jobs for s in j.stages_run}
    tasks = [t for t in log.tasks if t.stage in stage_ids]
    secs = [t.seconds for t in tasks]
    busy = _covered([(j.submit, j.end if j.end is not None else hi) for j in jobs], lo, hi)
    return {
        "jobs": len(jobs),
        "stages": len(stage_ids),
        "tasks": len(tasks),
        "failed_tasks": sum(t.failed for t in tasks),
        "executor_run_s": sum(t.run_s for t in tasks),
        "executor_cpu_s": sum(t.cpu_s for t in tasks),
        "gc_s": sum(t.gc_s for t in tasks),
        "sched_delay_s": sum(t.sched_delay_s for t in tasks),
        "shuffle_read_mb": sum(t.shuffle_read_bytes for t in tasks) / MB,
        "shuffle_write_mb": sum(t.shuffle_write_bytes for t in tasks) / MB,
        "spill_mb": sum(t.spill_bytes for t in tasks) / MB,
        "max_task_s": max(secs, default=0.0),
        "median_task_s": statistics.median(secs) if secs else 0.0,
        "job_busy_s": busy,
        "driver_gap_s": (hi - lo) - busy,
    }
