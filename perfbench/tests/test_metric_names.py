"""The metrics a run prints are the ones BENCHMARK.json declares, and a
traced run measures every per-layer metric of its workload."""

from __future__ import annotations

import json
import os

from perfbench import run as bench
from perfbench.tests.test_eventlog import FIXTURE
from perfbench.workloads import READ_PATH_QUERIES, WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_declared_workloads_exist():
    assert [w["name"] for w in _declared()["workloads"]] == list(WORKLOADS)


def test_end_to_end_metrics_match_declaration():
    declared = [(m["name"], m["unit"], m["better"]) for m in _declared()["end_to_end"]]
    assert declared == list(bench.E2E_METRICS)


def test_per_layer_metrics_match_declaration():
    declared = [(m["name"], m["unit"], m["better"]) for m in _declared()["per_layer"]]
    assert declared == [m[:3] for m in bench.LAYER_METRICS]
    assert all(set(ws) <= set(WORKLOADS) for *_, ws in bench.LAYER_METRICS)


def _traced_run(workload: str, log_dir: str) -> bench.Run:
    """A traced run of one steady pass, as ``execute`` leaves it: op
    records, the fixture's event log relabelled to two of the pass's ops,
    and listener progress, upserts and sink writes for the stream."""
    run = bench.Run(WORKLOADS[workload], seed=0)
    run.event_log_dir = log_dir
    run.cold_setup = (12.0, 6.0, 5.0)
    run.pass_times = [(0, True, 10.0), (1, True, 5.0), (2, False, 4.0)]
    run.unmeasured = {0}
    for i, op in enumerate(run.workload.ops):
        rec = bench.OpRecord(1, op.name, traced=True)
        rec.start_ms, rec.end_ms = 1000 * i, 1000 * i + 900  # not when the fixture ran
        rec.wall_s = rec.raw_s = 0.9
        rec.registry = op.name in dict(READ_PATH_QUERIES)
        run.records.append(rec)
    ops = [op.name for op in run.workload.ops]
    relabel = {"t.agg@0": f"{workload}.{ops[0]}@1", "t.sort@0": f"{workload}.{ops[-1]}@1"}
    os.makedirs(log_dir)
    with open(FIXTURE) as src, open(os.path.join(log_dir, "events_1_app"), "w") as dst:
        for line in src:
            ev = json.loads(line)
            props = ev.get("Properties") or {}
            if props.get("spark.jobGroup.id") in relabel:
                props["spark.jobGroup.id"] = relabel[props["spark.jobGroup.id"]]
            dst.write(json.dumps(ev) + "\n")
    if run.workload.stream:
        run.run_ids = {"alerts": (1, "stream.alerts"), "upsert": (1, "stream.upsert")}
        durations = {"addBatch": 300, "queryPlanning": 20, "walCommit": 10, "latestOffset": 5}
        state = {
            "numRowsTotal": 900, "memoryUsedBytes": 4096,
            "numRowsDroppedByWatermark": 70, "numRowsUpdated": 600,
        }
        run.listener_progress = [
            {"runId": "alerts", "numInputRows": 1000, "durationMs": durations, "stateOperators": [state]},
            {"runId": "upsert", "numInputRows": 1000, "durationMs": durations},
        ]
        run.upsert_calls = [(1, 0.4), (1, 0.6)]
        run.sink_writes = [(1, 2048, 2)]
    return run


def _applicable(workload: str) -> set[str]:
    return {n for n, _, _, ws in bench.LAYER_METRICS if workload in ws}


def test_traced_run_measures_every_per_layer_metric_of_its_workload(tmp_path):
    declared = [m["name"] for m in _declared()["per_layer"]]
    for workload in WORKLOADS:
        run = _traced_run(workload, str(tmp_path / workload))
        metrics = bench._layers(run)
        metrics["process.peak_rss_mb"] = 1500.0  # measured by execute
        assert set(metrics) == _applicable(workload)
        # the two relabelled groups' jobs, stages and tasks; the ungrouped
        # job ran outside every op and is charged to none
        assert (metrics["spark.jobs"], metrics["spark.stages"], metrics["spark.tasks"]) == (2, 4, 8)
        assert metrics["spark.spill_bytes"] > 0 and metrics["spark.shuffle_write_bytes"] > 0
        assert metrics["trace.overhead_s"] == 1.0
        result = bench.result_line(workload, True, metrics, attempted=9, failed=0, ok=True)
        assert result["correct"]
        assert list(result["metrics"]) == declared
        for name, m in result["metrics"].items():
            assert m["value"] == (metrics[name] if name in metrics else 0.0)
    stream = bench._layers(_traced_run("stream_ingest", str(tmp_path / "s2")))
    assert stream["streaming.dedup_keep_ratio"] == 0.6
    assert stream["sources.sinks.upsert_p50_ms"] == 500.0


def test_a_metric_that_was_not_measured_fails_the_run(tmp_path):
    run = _traced_run("read_path", str(tmp_path / "log"))
    run.event_log_dir = str(tmp_path / "no-event-log")
    metrics = bench._layers(run)
    metrics["process.peak_rss_mb"] = 1500.0
    assert not any(n.startswith("spark.") and n != "spark.persisted_rdds_leaked" for n in metrics)
    result = bench.result_line("read_path", True, metrics, attempted=9, failed=0, ok=True)
    assert not result["correct"]
    assert "spark.jobs" not in result["metrics"]
