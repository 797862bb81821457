"""Parse a Spark event log (uncompressed, non-rolling JSON lines) into
per-span layer totals.

A span is one timed piece of work, ``(name, start_ms, end_ms)`` in wall
clock milliseconds. A job belongs to the span whose job group it carries
(``setJobGroup(name)``) or, for jobs started on other threads (streaming
micro-batches), to the span its submission time falls in.
"""

from __future__ import annotations

import json
import os

FIELDS = (
    "jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
    "input_bytes", "input_records", "output_bytes", "shuffle_write_bytes",
    "spill_bytes", "in_jobs_s",
)


def read_events(path: str) -> list[dict]:
    """Events of the one application log under ``path`` (a file or the
    event-log directory)."""
    if os.path.isdir(path):
        logs = [os.path.join(path, f) for f in os.listdir(path)
                if not f.endswith(".inprogress")]
        if len(logs) != 1:
            raise ValueError(f"expected one finished event log in {path}, got {logs}")
        path = logs[0]
    out = []
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if line:
                out.append(json.loads(line))
    return out


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def span_layers(events: list[dict], spans: list[tuple[str, float, float]]) -> dict[str, dict]:
    """Totals per span name: job/stage/task counts, task run, CPU and GC
    seconds, input bytes and records, output, shuffle-write and disk-spill
    bytes, and the seconds of the span covered by at least one running
    job. Spark's input byte counter misses reads made off the task thread
    (Parquet's vectored reads), so input records are the steadier scan
    measure."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            jid = e["Job ID"]
            jobs[jid] = {"group": group, "start": e["Submission Time"], "end": None,
                         "stages": set()}
            for sid in e.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"]
    names = {s[0] for s in spans}
    out = {n: dict.fromkeys(FIELDS, 0) for n in names}
    job_span: dict[int, str] = {}
    intervals: dict[str, list[tuple[int, int]]] = {n: [] for n in names}
    for jid, j in jobs.items():
        name = j["group"] if j["group"] in names else None
        if name is None:
            for n, a, b in spans:
                if a <= j["start"] <= b:
                    name = n
                    break
        if name is None:
            continue
        job_span[jid] = name
        out[name]["jobs"] += 1
        end = j["end"] if j["end"] is not None else j["start"]
        bounds = [(a, b) for n, a, b in spans if n == name]
        for a, b in bounds:
            lo, hi = max(a, j["start"]), min(b, end)
            if hi > lo:
                intervals[name].append((lo, hi))
    seen_stages: set[int] = set()
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerStageCompleted":
            sid = e["Stage Info"]["Stage ID"]
            jid = stage_job.get(sid)
            if jid in job_span and sid not in seen_stages:
                seen_stages.add(sid)
                out[job_span[jid]]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(e["Stage ID"])
            if jid not in job_span:
                continue
            m = e.get("Task Metrics") or {}
            o = out[job_span[jid]]
            o["tasks"] += 1
            o["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
            o["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            o["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            o["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            o["input_records"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
            o["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            o["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            o["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    for n in names:
        out[n]["in_jobs_s"] = _union_ms(intervals[n]) / 1e3
    return out
