"""The event-log parser charges jobs, stages, tasks, shuffle and spill to
the job group that ran them.

``data/tiny_eventlog.jsonl`` is a real Spark event log, trimmed to the
events and fields the parser reads. It was recorded by running this module
as a script (``python3 -m perfbench.tests.test_eventlog <out.jsonl>``):
a two-stage aggregation under group ``t.agg@0``, a sort forced to spill
under ``t.sort@0`` and one ungrouped count.
"""

from __future__ import annotations

import json
import os
import sys

from perfbench import eventlog

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "tiny_eventlog.jsonl")


def test_jobs_stages_and_tasks_go_to_their_group():
    stats = eventlog.attribute(eventlog.read_events(FIXTURE))
    assert set(stats) == {"t.agg@0", "t.sort@0", ""}
    agg, srt, none = stats["t.agg@0"], stats["t.sort@0"], stats[""]
    assert (agg.jobs, agg.stages, agg.tasks) == (1, 2, 4)
    assert (srt.jobs, srt.stages, srt.tasks) == (1, 2, 4)
    assert (none.jobs, none.stages, none.tasks) == (1, 2, 3)
    assert len(agg.job_spans) == 1 and agg.job_spans[0][0] <= agg.job_spans[0][1]
    assert all(g.tasks_failed == 0 for g in stats.values())


def test_shuffle_and_spill_go_to_their_group():
    stats = eventlog.attribute(eventlog.read_events(FIXTURE))
    agg, srt, none = stats["t.agg@0"], stats["t.sort@0"], stats[""]
    assert agg.shuffle_write_bytes > 0 and agg.shuffle_read_bytes == agg.shuffle_write_bytes
    assert agg.spill_bytes == 0
    assert srt.spill_bytes > 0
    assert none.spill_bytes == 0


def test_key_of_regroups_jobs_by_submission_time():
    events = eventlog.read_events(FIXTURE)
    starts = {
        ev["Job ID"]: ev["Submission Time"]
        for ev in events
        if ev["Event"] == "SparkListenerJobStart"
    }
    cut = sorted(starts.values())[1]  # the second job onwards
    stats = eventlog.attribute(events, lambda group, t_ms: "late" if t_ms >= cut else "early")
    assert (stats["early"].jobs, stats["early"].tasks) == (1, 4)
    assert (stats["late"].jobs, stats["late"].tasks) == (2, 7)


def test_busy_ms_merges_overlapping_spans_and_clips_to_the_window():
    spans = [(0, 10), (5, 20), (30, 40), (100, 200)]
    assert eventlog.busy_ms(spans, 0, 50) == 30
    assert eventlog.busy_ms(spans, 15, 35) == 10
    assert eventlog.busy_ms([], 0, 10) == 0


_KEEP = {
    "SparkListenerJobStart": ("Job ID", "Submission Time", "Stage IDs", "Properties"),
    "SparkListenerJobEnd": ("Job ID", "Completion Time"),
    "SparkListenerStageCompleted": ("Stage Info",),
    "SparkListenerTaskEnd": ("Stage ID", "Task End Reason", "Task Metrics"),
}
_TASK_METRICS = (
    "Executor Run Time", "Executor CPU Time", "JVM GC Time", "Memory Bytes Spilled",
    "Disk Bytes Spilled", "Shuffle Read Metrics", "Shuffle Write Metrics",
)


def _trim(ev: dict) -> dict:
    out = {"Event": ev["Event"]}
    for k in _KEEP[ev["Event"]]:
        out[k] = ev.get(k)
    if "Properties" in out:
        out["Properties"] = {
            k: v for k, v in (out["Properties"] or {}).items() if k == eventlog.GROUP_PROP
        }
    if "Stage Info" in out:
        out["Stage Info"] = {k: out["Stage Info"][k] for k in ("Stage ID", "Stage Attempt ID", "Number of Tasks")}
    if "Task End Reason" in out:
        out["Task End Reason"] = {"Reason": out["Task End Reason"]["Reason"]}
    if "Task Metrics" in out:
        out["Task Metrics"] = {k: out["Task Metrics"][k] for k in _TASK_METRICS}
    return out


def record(out_path: str) -> None:
    """Record the fixture with a local two-core session."""
    import tempfile

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    with tempfile.TemporaryDirectory() as log_dir:
        spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.sql.adaptive.enabled", "false")
            .config("spark.sql.shuffle.partitions", "2")
            .config("spark.shuffle.spill.numElementsForceSpillThreshold", "100")
            .config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.dir", "file://" + log_dir)
            .getOrCreate()
        )
        sc = spark.sparkContext
        sc.setJobGroup("t.agg@0", "agg")
        spark.range(0, 1000, numPartitions=2).groupBy((F.col("id") % 10).alias("k")).count().collect()
        sc.setJobGroup("t.sort@0", "sort")
        (
            spark.range(0, 5000, numPartitions=2)
            .repartition(2)
            .sortWithinPartitions(F.rand(1))
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.range(10).count()
        spark.stop()
        events = [_trim(ev) for ev in eventlog.read_events(log_dir) if ev["Event"] in _KEEP]
    with open(out_path, "w") as fh:
        for ev in events:
            fh.write(json.dumps(ev, sort_keys=True) + "\n")


if __name__ == "__main__":
    record(sys.argv[1])
