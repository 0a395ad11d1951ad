"""Spark event-log parser: per-call job, stage, task and streaming
counters.

The traced run starts Spark with an uncompressed, non-rolling event
log (one JSON object per line) and tags each call's jobs with
``setJobGroup(<call id>)``. This module reads the log after the run and
folds every job into the call it belongs to:

- a job whose ``spark.jobGroup.id`` is a call id belongs to that call;
- any other job (launched from a thread that does not carry the call's
  local properties, e.g. a streaming micro-batch) is *unattributed*. It
  is counted in ``jobs_unattributed`` and, because the benchmark is a
  closed loop with one client, still folded into the call whose wall
  interval contains its submission time.
"""

from __future__ import annotations

import datetime as dt
import json
from dataclasses import dataclass, field

from stats import clipped, union_length

STREAM_PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"

# Per-call counters, all summed over the call's jobs / tasks.
COUNTERS = (
    "jobs", "jobs_unattributed", "stages", "tasks", "tasks_failed",
    "sched_delay_ms", "run_ms", "cpu_ms", "gc_ms",
    "shuffle_write_records", "shuffle_write_bytes", "shuffle_read_bytes",
    "fetch_wait_ms", "spill_memory_bytes", "spill_disk_bytes",
    "output_bytes", "output_records", "stream_batches", "stream_batch_ms",
)


@dataclass
class Job:
    group: str | None
    start_ms: int
    end_ms: int | None = None
    counters: dict = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0))


@dataclass
class Log:
    jobs: dict[int, Job]
    # (batch start in epoch ms, batch duration ms) per streaming batch
    stream_batches: list[tuple[float, float]]


def _iso_ms(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1000.0


def parse(path: str) -> Log:
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    batches: list[tuple[float, float]] = []
    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                job = Job(e.get("Properties", {}).get("spark.jobGroup.id"), e["Submission Time"])
                jobs[e["Job ID"]] = job
                for sid in e["Stage IDs"]:
                    stage_job.setdefault(sid, e["Job ID"])
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]].end_ms = e["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                jid = stage_job.get(e["Stage Info"]["Stage ID"])
                if jid is not None:
                    jobs[jid].counters["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(e["Stage ID"])
                if jid is not None:
                    _add_task(jobs[jid].counters, e)
            elif kind == STREAM_PROGRESS:
                p = e["progress"]
                batches.append((_iso_ms(p["timestamp"]), float(p["batchDuration"])))
    return Log(jobs, batches)


def _add_task(c: dict, e: dict) -> None:
    info = e["Task Info"]
    c["tasks"] += 1
    if info.get("Failed") or e.get("Task End Reason", {}).get("Reason") != "Success":
        c["tasks_failed"] += 1
    m = e.get("Task Metrics")
    if not m:
        return
    run = m["Executor Run Time"]
    c["run_ms"] += run
    c["cpu_ms"] += m["Executor CPU Time"] / 1e6
    c["gc_ms"] += m["JVM GC Time"]
    # Scheduler delay as the Spark UI defines it: the task's wall time
    # not spent deserializing, running, or serializing its result.
    wall = info["Finish Time"] - info["Launch Time"]
    c["sched_delay_ms"] += max(
        0, wall - run - m["Executor Deserialize Time"] - m["Result Serialization Time"]
    )
    sw, sr = m["Shuffle Write Metrics"], m["Shuffle Read Metrics"]
    c["shuffle_write_records"] += sw["Shuffle Records Written"]
    c["shuffle_write_bytes"] += sw["Shuffle Bytes Written"]
    c["shuffle_read_bytes"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
    c["fetch_wait_ms"] += sr["Fetch Wait Time"]
    c["spill_memory_bytes"] += m["Memory Bytes Spilled"]
    c["spill_disk_bytes"] += m["Disk Bytes Spilled"]
    c["output_bytes"] += m["Output Metrics"]["Bytes Written"]
    c["output_records"] += m["Output Metrics"]["Records Written"]


def per_call(log: Log, calls: list[tuple[str, float, float]]) -> dict[str, dict]:
    """Fold the log into ``calls`` = [(call id, start ms, end ms)].

    Returns {call id: counters + ``job_union_ms``}, where job_union_ms is
    the length of the union of the call's job intervals clipped to the
    call's own interval (so wall minus it is driver-side time).
    """
    out = {cid: dict.fromkeys(COUNTERS, 0) for cid, _, _ in calls}
    spans: dict[str, list[tuple[float, float]]] = {cid: [] for cid, _, _ in calls}
    bounds = {cid: (s, e) for cid, s, e in calls}
    for job in log.jobs.values():
        if job.group in out:
            cid, attributed = job.group, True
        else:
            cid = next((c for c, s, e in calls if s <= job.start_ms <= e), None)
            attributed = False
            if cid is None:
                continue
        acc = out[cid]
        acc["jobs"] += 1
        if not attributed:
            acc["jobs_unattributed"] += 1
        for k in COUNTERS:
            if k not in ("jobs", "jobs_unattributed", "stream_batches", "stream_batch_ms"):
                acc[k] += job.counters[k]
        end = job.end_ms if job.end_ms is not None else bounds[cid][1]
        spans[cid].append((job.start_ms, end))
    for ts, ms in log.stream_batches:
        cid = next((c for c, s, e in calls if s <= ts <= e), None)
        if cid is not None:
            out[cid]["stream_batches"] += 1
            out[cid]["stream_batch_ms"] += ms
    for cid, (s, e) in bounds.items():
        out[cid]["job_union_ms"] = union_length(clipped(spans[cid], s, e))
    return out
