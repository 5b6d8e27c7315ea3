"""Attribute a Spark event log to the benchmark's ops.

The traced run starts its session with ``spark.eventLog.enabled=true`` and
``spark.eventLog.compress=false`` and runs every op under
``setJobGroup("<workload>.<op>@<pass>")``. This module reads the resulting
JSON-lines log and charges each job, each stage that ran and each finished
task to the job group that submitted it.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from collections.abc import Callable, Hashable
from dataclasses import dataclass, field

GROUP_PROP = "spark.jobGroup.id"


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    tasks_failed: int = 0
    executor_run_ms: int = 0
    executor_cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    # (submission, completion) epoch-ms interval of every job
    job_spans: list[tuple[int, int]] = field(default_factory=list)


def read_events(path: str) -> list[dict]:
    """Events of one log file, or of every log under a directory.

    Spark 4 writes a rolling log by default: a ``eventlog_v2_<app>`` dir
    holding ``events_<n>_<app>`` parts, an empty ``appstatus`` marker and
    hidden ``.crc`` checksums."""
    paths = []
    if os.path.isdir(path):
        for dirpath, _, files in os.walk(path):
            parts = [f for f in files if not f.startswith((".", "appstatus"))]
            parts.sort(key=lambda f: (int(f.split("_")[1]) if f.startswith("events_") else 0, f))
            paths.extend(os.path.join(dirpath, f) for f in parts)
    else:
        paths.append(path)
    events = []
    for p in paths:
        with open(p) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def attribute(
    events: list[dict], key_of: Callable[[str, int], Hashable] = lambda group, t_ms: group
) -> dict[Hashable, GroupStats]:
    """Per op: jobs, stages and tasks run, task metrics, job spans.

    ``key_of(job_group, submission_ms)`` names the op a job belongs to;
    by default the job group itself, with ungrouped jobs under ``""``.
    A stage and its tasks go to the op of the job that submitted it."""
    stats: dict[Hashable, GroupStats] = defaultdict(GroupStats)
    stage_group: dict[int, Hashable] = {}
    job_group: dict[int, Hashable] = {}
    job_start: dict[int, int] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            job = ev["Job ID"]
            submitted = ev.get("Submission Time", 0)
            group = key_of((ev.get("Properties") or {}).get(GROUP_PROP) or "", submitted)
            job_group[job] = group
            job_start[job] = submitted
            stats[group].jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind == "SparkListenerJobEnd":
            job = ev["Job ID"]
            group = job_group.get(job, "")
            stats[group].job_spans.append(
                (job_start.get(job, ev["Completion Time"]), ev["Completion Time"])
            )
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            stats[stage_group.get(info["Stage ID"], "")].stages += 1
        elif kind == "SparkListenerTaskEnd":
            g = stats[stage_group.get(ev["Stage ID"], "")]
            g.tasks += 1
            if (ev.get("Task End Reason") or {}).get("Reason", "Success") != "Success":
                g.tasks_failed += 1
            m = ev.get("Task Metrics") or {}
            g.executor_run_ms += m.get("Executor Run Time", 0)
            g.executor_cpu_ns += m.get("Executor CPU Time", 0)
            g.gc_ms += m.get("JVM GC Time", 0)
            g.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            rd = m.get("Shuffle Read Metrics") or {}
            g.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            g.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
    return dict(stats)


def busy_ms(spans: list[tuple[int, int]], start_ms: int, end_ms: int) -> int:
    """Milliseconds of [start_ms, end_ms] during which at least one of
    ``spans`` was running."""
    clipped = sorted((max(a, start_ms), min(b, end_ms)) for a, b in spans)
    total, cur_a, cur_b = 0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
