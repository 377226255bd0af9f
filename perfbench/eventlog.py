"""Fold a local, uncompressed Spark event log into per-label records.

Spark writes one JSON object per line. The fold keeps the four event
kinds it needs (job start/end, stage submit/complete, task end) and
maps job descriptions -> jobs -> stages -> task-metric sums. A label is
whatever the caller derives from a job (its description, or the span
its submission fell in), so the same fold serves the pipeline's
``setJobDescription("pipeline: <stage> ...")`` labels and the query
mix's per-query labels.

Times in the log are epoch milliseconds from the driver's clock, the
same clock ``time.time()`` reads, so spans the benchmark records can be
laid over the log's jobs and tasks.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable, Iterable
from dataclasses import dataclass, field

MB = 1024 * 1024


@dataclass
class Task:
    stage: int
    attempt: int
    launch_ms: int
    finish_ms: int
    failed: bool
    cpu_ns: int = 0
    run_ms: int = 0
    gc_ms: int = 0
    shuffle_read_bytes: int = 0
    fetch_wait_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0


@dataclass
class Job:
    job_id: int
    description: str | None
    submit_ms: int
    stage_ids: list[int]
    end_ms: int | None = None


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    # (stage id, attempt) -> submission time
    stage_submit_ms: dict[tuple[int, int], int] = field(default_factory=dict)
    tasks: list[Task] = field(default_factory=list)

    def stage_owner(self) -> dict[int, int]:
        """Stage id -> the job that ran it. Later jobs list an already
        computed stage again (as skipped), so the first job wins."""
        owner: dict[int, int] = {}
        for job_id in sorted(self.jobs):
            for sid in self.jobs[job_id].stage_ids:
                owner.setdefault(sid, job_id)
        return owner


def _task(e: dict) -> Task:
    info = e["Task Info"]
    m = e.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    return Task(
        stage=e["Stage ID"],
        attempt=e["Stage Attempt ID"],
        launch_ms=info["Launch Time"],
        finish_ms=info["Finish Time"],
        failed=info.get("Failed", False) or info.get("Killed", False),
        cpu_ns=m.get("Executor CPU Time", 0),
        run_ms=m.get("Executor Run Time", 0),
        gc_ms=m.get("JVM GC Time", 0),
        shuffle_read_bytes=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        fetch_wait_ms=sr.get("Fetch Wait Time", 0),
        shuffle_write_bytes=sw.get("Shuffle Bytes Written", 0),
        spill_bytes=m.get("Disk Bytes Spilled", 0),
        input_bytes=(m.get("Input Metrics") or {}).get("Bytes Read", 0),
        output_bytes=(m.get("Output Metrics") or {}).get("Bytes Written", 0),
    )


def parse_lines(lines: Iterable[str]) -> EventLog:
    log = EventLog()
    for line in lines:
        line = line.strip()
        if not line:
            continue
        e = json.loads(line)
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            log.jobs[e["Job ID"]] = Job(
                e["Job ID"],
                props.get("spark.job.description"),
                e["Submission Time"],
                list(e["Stage IDs"]),
            )
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(e["Job ID"])
            if job is not None:
                job.end_ms = e["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            key = (info["Stage ID"], info["Stage Attempt ID"])
            if info.get("Submission Time") is not None:
                log.stage_submit_ms[key] = info["Submission Time"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            key = (info["Stage ID"], info["Stage Attempt ID"])
            if info.get("Submission Time") is not None:
                log.stage_submit_ms.setdefault(key, info["Submission Time"])
        elif kind == "SparkListenerTaskEnd":
            log.tasks.append(_task(e))
    return log


def read_event_log(path: str) -> EventLog:
    """Read an event log file, or every ``events_*`` file of a rolling
    event-log directory in index order."""
    if os.path.isdir(path):
        parts = sorted(
            (p for p in os.listdir(path) if p.startswith("events_")),
            key=lambda p: int(p.split("_")[1]),
        )
        files = [os.path.join(path, p) for p in parts]
    else:
        files = [path]
    lines: list[str] = []
    for f in files:
        with open(f, encoding="utf-8") as fh:
            lines.extend(fh)
    return parse_lines(lines)


def union_ms(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by a set of [start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


METRICS = (
    "wall_s",
    "cpu_s",
    "gc_s",
    "run_s",
    "jobs",
    "tasks",
    "queue_s",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "fetch_wait_s",
    "spill_mb",
    "input_mb",
    "output_mb",
    "failed_tasks",
    "stage_retries",
)


def fold(log: EventLog, label_of: Callable[[Job], str | None]) -> dict[str, dict]:
    """Per-label sums over the jobs ``label_of`` names (``None`` drops
    a job). ``wall_s`` is the union of the label's job intervals, so
    overlapping jobs of one label are not double counted; ``queue_s``
    sums, over tasks, the wait from stage submission to task launch."""
    owner = log.stage_owner()
    job_label = {jid: label_of(job) for jid, job in log.jobs.items()}
    out: dict[str, dict] = {}

    def rec(label: str) -> dict:
        return out.setdefault(label, {m: 0 for m in METRICS} | {"_iv": []})

    for jid, job in log.jobs.items():
        label = job_label[jid]
        if label is None:
            continue
        r = rec(label)
        r["jobs"] += 1
        if job.end_ms is not None:
            r["_iv"].append((job.submit_ms, job.end_ms))
    retried = set()
    for t in log.tasks:
        label = job_label.get(owner.get(t.stage))
        if label is None:
            continue
        r = rec(label)
        r["tasks"] += 1
        r["failed_tasks"] += int(t.failed)
        r["cpu_s"] += t.cpu_ns / 1e9
        r["run_s"] += t.run_ms / 1e3
        r["gc_s"] += t.gc_ms / 1e3
        submit = log.stage_submit_ms.get((t.stage, t.attempt))
        if submit is not None:
            r["queue_s"] += max(0, t.launch_ms - submit) / 1e3
        r["shuffle_read_mb"] += t.shuffle_read_bytes / MB
        r["fetch_wait_s"] += t.fetch_wait_ms / 1e3
        r["shuffle_write_mb"] += t.shuffle_write_bytes / MB
        r["spill_mb"] += t.spill_bytes / MB
        r["input_mb"] += t.input_bytes / MB
        r["output_mb"] += t.output_bytes / MB
        if t.attempt > 0 and (t.stage, t.attempt) not in retried:
            retried.add((t.stage, t.attempt))
            r["stage_retries"] += 1
    for r in out.values():
        r["wall_s"] = union_ms(r.pop("_iv")) / 1e3
    return out


def busy_ms(tasks: Iterable[Task], start_ms: float, end_ms: float) -> float:
    """Time within [start, end) during which at least one task ran."""
    return union_ms(
        (max(t.launch_ms, start_ms), min(t.finish_ms, end_ms))
        for t in tasks
        if t.finish_ms > start_ms and t.launch_ms < end_ms
    )
