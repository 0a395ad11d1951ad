"""Per-layer metrics of a traced run: fold the event log, the Python
layer spans and the codegen counters into per-call numbers, then
average them over the traced calls of the timed window."""

from __future__ import annotations

import glob
import json
from pathlib import Path

import eventlog

# eventlog counter -> per-layer metric name (per-call mean)
EVENTLOG_METRICS = {
    "jobs": "spark.jobs",
    "stages": "spark.stages",
    "tasks": "spark.tasks",
    "sched_delay_ms": "spark.sched_delay_ms",
    "run_ms": "executor.run_ms",
    "cpu_ms": "executor.cpu_ms",
    "gc_ms": "executor.gc_ms",
    "shuffle_write_records": "shuffle.write_records",
    "shuffle_write_bytes": "shuffle.write_bytes",
    "shuffle_read_bytes": "shuffle.read_bytes",
    "fetch_wait_ms": "shuffle.fetch_wait_ms",
    "spill_memory_bytes": "spill.memory_bytes",
    "spill_disk_bytes": "spill.disk_bytes",
    "output_bytes": "output.bytes_written",
    "output_records": "output.records_written",
    "stream_batches": "streaming.batches",
    "stream_batch_ms": "streaming.batch_ms",
    "tasks_failed": "spark.tasks_failed",
    "jobs_unattributed": "spark.jobs_unattributed",
}


def per_call_layers(calls: list[dict], tracer, eventlog_dir: Path) -> dict[str, dict]:
    """{call id: {metric: value}} for every setup and traced call."""
    (log_path,) = glob.glob(str(eventlog_dir / "*"))
    log = eventlog.parse(log_path)
    traced = [c for c in calls if c["kind"] != "ref"]
    ev = eventlog.per_call(
        log, [(c["id"], c["start"] * 1000.0, c["end"] * 1000.0) for c in traced]
    )
    out = {}
    for c in traced:
        e = ev[c["id"]]
        m = dict(tracer.layers.get(c["id"], {}))
        for k, name in EVENTLOG_METRICS.items():
            m[name] = e[k]
        m["driver.gap_s"] = max(0.0, c["wall_s"] - e["job_union_ms"] / 1000.0)
        m["codegen.compiles"] = c["codegen1"][0] - c["codegen0"][0]
        m["codegen.compile_ms"] = c["codegen1"][1] - c["codegen0"][1]
        m["queries.build_s"] = c.get("build_s", 0.0)
        m["queries.exec_s"] = c.get("exec_s", 0.0)
        m["wall_s"] = c["wall_s"]
        out[c["id"]] = m
    return out


def summarize(calls: list[dict], tracer, eventlog_dir: Path, session_s: float) -> dict:
    per = per_call_layers(calls, tracer, eventlog_dir)
    for c in calls:
        if c["id"] in per:
            c["layers"] = per[c["id"]]
    setup = [per[c["id"]] for c in calls if c["kind"] == "setup"]
    window = [per[c["id"]] for c in calls if c["kind"] == "traced"]
    keys = sorted({k for m in window for k in m})
    metrics = {k: sum(m.get(k, 0.0) for m in window) / len(window) for k in keys}
    # Totals over the traced window rather than per-call means.
    for k in ("spark.tasks_failed", "spark.jobs_unattributed"):
        metrics[k] = sum(m.get(k, 0) for m in window)
    ensures = sum(m.get("sources.stamp.ensure.calls", 0) for m in window)
    hits = sum(m.get("sources.stamp.hits", 0) for m in window)
    metrics["sources.stamp.ensure_calls"] = ensures / len(window)
    # No ensure call in the window means nothing was rebuilt: ratio 1.
    metrics["sources.stamp.hit_ratio"] = hits / ensures if ensures else 1.0
    run = metrics.get("executor.run_ms", 0.0)
    metrics["executor.cpu_over_run"] = metrics.get("executor.cpu_ms", 0.0) / run if run else 0.0
    metrics["session.start_s"] = session_s
    # Layout builds are set-up work: report their total over set-up.
    metrics["sources.stamp.build_s"] = sum(m.get("sources.stamp.build_s", 0.0) for m in setup)
    metrics["setup.codegen.compiles"] = sum(m["codegen.compiles"] for m in setup)
    metrics["setup.codegen.compile_ms"] = sum(m["codegen.compile_ms"] for m in setup)
    metrics["setup.spark.jobs"] = sum(m["spark.jobs"] for m in setup)
    ref = sum(c["wall_s"] for c in calls if c["kind"] == "ref")
    traced = sum(c["wall_s"] for c in calls if c["kind"] == "traced")
    metrics["trace.overhead_frac"] = traced / ref - 1.0
    return metrics


def write_trace(path: Path, calls: list[dict], tracer, metrics: dict, e2e: dict) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    doc = {"end_to_end": e2e, "per_layer": metrics, "calls": calls, "spans": tracer.spans}
    path.write_text(json.dumps(doc, indent=1, default=str))
