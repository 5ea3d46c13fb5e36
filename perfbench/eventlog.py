"""Attribute a Spark event log to the benchmark's own spans.

The benchmark records one span per phase of every call it makes
(``build``: the call into the program, which builds the plan and runs any
eager jobs; ``exec``: forcing the result through the noop sink;
``release``: freeing query-scoped caches). A traced run enables Spark's
event log from outside the program; after ``spark.stop()`` this module
reads it and gives each span the jobs, stages and tasks that ran inside
it.

Jobs are attributed by time interval: a job belongs to the span whose
interval holds its submission time. Job groups are not used, because
jobs launched from pool threads carry none. Stages and tasks follow
their job. SQL executions follow their start time, and with them the
driver-side metrics of their scan nodes. Streaming progress events follow
their trigger timestamp. A span's self time is its duration minus the
part its jobs cover.

Scan volume is taken from the scan nodes' ``size of files read`` SQL
metric, not from the tasks' input metrics: a parquet task reports only a
few KB of ``Bytes Read`` for a scan of a 1 MB file, so that counter does
not measure what the program reads.
"""

from __future__ import annotations

import glob
import json
import os
import re
from dataclasses import dataclass, field
from datetime import datetime

SCAN_FILE_BYTES = "size of files read"   # FileSourceScanExec driver metric

# counters every span carries, all zero when nothing ran inside it
COUNTERS = (
    "jobs", "stages", "tasks", "failed_tasks",
    "task_run_ms", "task_cpu_ms", "gc_ms", "sched_delay_ms",
    "scan_file_bytes", "input_records", "output_bytes", "output_records",
    "shuffle_read_bytes", "shuffle_write_bytes", "shuffle_fetch_wait_ms",
    "spill_bytes", "result_bytes", "stream_batches", "stream_batch_ms",
)


@dataclass
class Span:
    kind: str            # build | exec | release
    call: str
    pass_no: int
    start_ms: float
    end_ms: float
    stats: dict = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0))
    job_intervals: list = field(default_factory=list)

    @property
    def duration_ms(self) -> float:
        return self.end_ms - self.start_ms

    @property
    def self_ms(self) -> float:
        return self.duration_ms - covered_ms(
            self.job_intervals, self.start_ms, self.end_ms)


def covered_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
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


def read_events(log_dir: str) -> list[dict]:
    """Every event of every (rolling) event-log file under ``log_dir``."""
    def order(path: str) -> tuple:
        m = re.search(r"events_(\d+)_", os.path.basename(path))
        return (os.path.dirname(path), int(m.group(1)) if m else 0, path)

    paths = [p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
             if os.path.isfile(p) and not os.path.basename(p).startswith(".")
             and "appstatus" not in os.path.basename(p)]
    events = []
    for path in sorted(paths, key=order):
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _iso_ms(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1000.0


def attribute(events: list[dict], spans: list[Span]) -> Span:
    """Fill each span's counters and job intervals from ``events``.

    Returns a span that holds the work which fell outside every span
    (set-up, the warm-up pass), so a caller can see what was not covered.
    """
    ordered = sorted(spans, key=lambda s: s.start_ms)
    starts = [s.start_ms for s in ordered]
    outside = Span("outside", "", -1, float("-inf"), float("inf"))

    def span_at(t: float) -> Span:
        # binary search for the last span starting at or before t
        lo, hi = 0, len(starts)
        while lo < hi:
            mid = (lo + hi) // 2
            if starts[mid] <= t:
                lo = mid + 1
            else:
                hi = mid
        if lo and ordered[lo - 1].end_ms >= t:
            return ordered[lo - 1]
        return outside

    job_span: dict[int, Span] = {}
    job_start: dict[int, float] = {}
    stage_span: dict[int, Span] = {}
    exec_span: dict[int, Span] = {}
    scan_ids: set[int] = set()
    driver_metric: dict[int, tuple[Span, int]] = {}   # accumulator -> last value
    for e in events:
        kind = e.get("Event") or ""
        if kind == "SparkListenerJobStart":
            target = span_at(e["Submission Time"])
            job_span[e["Job ID"]] = target
            job_start[e["Job ID"]] = e["Submission Time"]
            target.stats["jobs"] += 1
            for sid in e.get("Stage IDs", []):
                stage_span.setdefault(sid, target)
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in job_span:
                job_span[e["Job ID"]].job_intervals.append(
                    (job_start[e["Job ID"]], e["Completion Time"]))
        elif kind == "SparkListenerStageCompleted":
            sid = e["Stage Info"]["Stage ID"]
            stage_span.get(sid, outside).stats["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            target = stage_span.get(e["Stage ID"]) or span_at(info["Launch Time"])
            _add_task(target.stats, info, m, e.get("Task End Reason", {}))
        elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
            p = e["progress"]
            target = span_at(_iso_ms(p["timestamp"]))
            target.stats["stream_batches"] += 1
            target.stats["stream_batch_ms"] += p.get("batchDuration", 0)
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            exec_span[e["executionId"]] = span_at(e["time"])
            scan_ids.update(_metric_ids(e["sparkPlanInfo"], SCAN_FILE_BYTES))
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            scan_ids.update(_metric_ids(e["sparkPlanInfo"], SCAN_FILE_BYTES))
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            target = exec_span.get(e["executionId"], outside)
            for acc, value in e["accumUpdates"]:
                driver_metric[acc] = (target, value)
    for acc in scan_ids & driver_metric.keys():
        target, value = driver_metric[acc]
        target.stats["scan_file_bytes"] += value
    return outside


def _metric_ids(plan: dict, name: str) -> set[int]:
    """Accumulator ids of every metric called ``name`` in a plan tree."""
    ids = {m["accumulatorId"] for m in plan.get("metrics", []) if m["name"] == name}
    for child in plan.get("children", []):
        ids |= _metric_ids(child, name)
    return ids


def _add_task(stats: dict, info: dict, m: dict, reason: dict) -> None:
    run = m.get("Executor Run Time", 0)
    duration = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    getting = info.get("Getting Result Time") or 0
    getting_ms = info["Finish Time"] - getting if getting else 0
    sr = m.get("Shuffle Read Metrics", {})
    inp = m.get("Input Metrics", {})
    out = m.get("Output Metrics", {})
    failed = info.get("Failed") or info.get("Killed") or \
        reason.get("Reason", "Success") != "Success"
    for key, value in (
        ("tasks", 1),
        ("failed_tasks", 1 if failed else 0),
        ("task_run_ms", run),
        ("task_cpu_ms", m.get("Executor CPU Time", 0) / 1e6),
        ("gc_ms", m.get("JVM GC Time", 0)),
        # the scheduler delay of Spark's UI: the part of a task's life
        # spent neither deserializing, running nor shipping its result
        ("sched_delay_ms", max(0, duration - run
                               - m.get("Executor Deserialize Time", 0)
                               - m.get("Result Serialization Time", 0)
                               - getting_ms)),
        ("input_records", inp.get("Records Read", 0)),
        ("output_bytes", out.get("Bytes Written", 0)),
        ("output_records", out.get("Records Written", 0)),
        ("shuffle_read_bytes",
         sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)),
        ("shuffle_write_bytes",
         m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)),
        ("shuffle_fetch_wait_ms", sr.get("Fetch Wait Time", 0)),
        ("spill_bytes",
         m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)),
        ("result_bytes", m.get("Result Size", 0)),
    ):
        stats[key] += value
