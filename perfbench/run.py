"""Benchmark driver: one closed-loop client timing the engine's public calls.

    python3 perfbench/run.py --workload <read_path|stream_ingest>
        --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. It generates its inputs from ``--seed``
under ``perfbench/.scratch/`` (removed at exit), starts the engine through
``session.get_spark`` on ``local[<cores>]`` and runs the workload's ops one
at a time: a first pass in the fresh session, one pass that lets the JIT
settle, then steady passes until ``--seconds`` have been measured (at
least two). Outputs of the last pass are checked after the timed passes.
Diagnostics go to stderr; the last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.

With ``--trace 0`` the metrics are the end-to-end ones (``E2E_METRICS``):

* ``setup_s``: process start until ``get_spark`` has returned, every table
  the workload reads has been first-touched and stream input has been
  landed; the time spent generating the batch tables is left out. One
  cold setup per run.
* ``first_pass_s``: the first pass, in the fresh session.
* ``steady_pass_s``: the median of the later passes.
* ``events_per_s``: on stream_ingest, landed rows divided by the median
  drain time of the two streaming queries; on read_path, the rows of the
  tables a pass reads divided by ``steady_pass_s``.
* ``batch_p50_ms``, ``batch_p90_ms``: on stream_ingest, quantiles of the
  alert query's micro-batch ``triggerExecution`` time; on read_path, of
  the latency of one served page (a request to the serving edge).

With ``--trace 1`` the session starts with the Spark event log on, every op
runs under ``setJobGroup("<workload>.<op>@<pass>")`` and a
``StreamingQueryListener`` is attached; the steady passes run traced. Then
the session restarts untraced, one pass settles it and one more pass is
timed. The metrics are the per-layer ones (``LAYER_METRICS``), medians over
the traced steady passes, plus ``trace.overhead_s``: traced steady pass time
minus the untraced pass's. The untraced pass runs later in the JVM's life,
so the figure errs high. Each per-layer metric names the workloads that
exercise its layer; there it must be measured, or the run fails. On the
other workloads it is reported as 0, the activity of that layer there.

Every time reported is wall time net of hypervisor steal (see
``perfbench/measure.py``); raw wall time, steal and the process tree's CPU
time are logged per pass.

An op fails if it raises, overruns ``OP_TIMEOUT_S`` or its output is wrong.
Failures are counted in ``failed``; the run still prints every metric it
measured and exits 1. On every way out the run stops the engine's JVM and
its Python workers and waits until each has ended.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.measure import (  # noqa: E402
    alive,
    descendants,
    mark,
    peak_rss_mb,
    process_age_s,
    quantile,
    tree_cpu_s,
    unstolen_s,
)

ENGINE = "cse_datapipeline_and_mls_spark"

MIN_STEADY_PASSES = 2
OP_TIMEOUT_S = 90.0
DEADLINE_S = 170.0  # the whole run, process start to result line

# (name, unit, better). fail_ratio is failed / attempted in the result line.
E2E_METRICS = (
    ("setup_s", "s", "lower"),
    ("first_pass_s", "s", "lower"),
    ("steady_pass_s", "s", "lower"),
    ("events_per_s", "1/s", "higher"),
    ("batch_p50_ms", "ms", "lower"),
    ("batch_p90_ms", "ms", "lower"),
)
ALL = ("read_path", "stream_ingest")
READ = ("read_path",)
STREAM = ("stream_ingest",)
# (name, unit, better, workloads that exercise the layer)
LAYER_METRICS = (
    ("session.get_spark_s", "s", "lower", ALL),
    ("sources.load_table_s", "s", "lower", ALL),
    ("queries.build_s", "s", "lower", READ),
    ("queries.build_jobs", "count", "lower", READ),
    ("queries.exec_s", "s", "lower", READ),
    ("queries.exec_jobs", "count", "lower", READ),
    ("spark.jobs", "count", "lower", ALL),
    ("spark.stages", "count", "lower", ALL),
    ("spark.tasks", "count", "lower", ALL),
    ("spark.driver_only_s", "s", "lower", ALL),
    ("spark.executor_run_s", "s", "lower", ALL),
    ("spark.executor_cpu_s", "s", "lower", ALL),
    ("spark.shuffle_read_bytes", "bytes", "lower", ALL),
    ("spark.shuffle_write_bytes", "bytes", "lower", ALL),
    ("spark.spill_bytes", "bytes", "lower", ALL),
    ("spark.gc_s", "s", "lower", ALL),
    ("spark.tasks_failed", "count", "lower", ALL),
    ("spark.persisted_rdds_leaked", "count", "lower", ALL),
    ("streaming.batches", "count", "lower", STREAM),
    ("streaming.add_batch_ms", "ms", "lower", STREAM),
    ("streaming.query_planning_ms", "ms", "lower", STREAM),
    ("streaming.wal_commit_ms", "ms", "lower", STREAM),
    ("streaming.latest_offset_ms", "ms", "lower", STREAM),
    ("streaming.state_rows", "count", "lower", STREAM),
    ("streaming.state_memory_bytes", "bytes", "lower", STREAM),
    ("streaming.rows_dropped_by_watermark", "count", "higher", STREAM),
    ("streaming.dedup_keep_ratio", "ratio", "lower", STREAM),
    ("sources.sinks.upsert_p50_ms", "ms", "lower", STREAM),
    ("sources.sinks.upsert_p90_ms", "ms", "lower", STREAM),
    ("sources.sinks.bytes_written", "bytes", "lower", STREAM),
    ("sources.sinks.files_written", "count", "lower", STREAM),
    ("serving.page_ms", "ms", "lower", READ),
    ("process.peak_rss_mb", "MB", "lower", ALL),
    ("trace.overhead_s", "s", "lower", ALL),
)


def log(*args) -> None:
    print("[perfbench]", *args, file=sys.stderr, flush=True)


class OpRecord:
    def __init__(self, pass_no: int, op: str, traced: bool):
        self.pass_no, self.op, self.traced = pass_no, op, traced
        self.start_ms = self.end_ms = 0
        self.wall_s = self.raw_s = self.build_s = self.exec_s = 0.0
        self.build_jobs = self.exec_jobs = self.leaked = 0
        self.registry = False  # a registry query, timed by run_registry
        self.error: str | None = None


class Run:
    """State of one benchmark run; the workload ops call back into it."""

    def __init__(self, workload, seed: int):
        self.root = ROOT
        self.workload, self.seed = workload, seed
        self.scratch = os.path.join(ROOT, "perfbench", ".scratch", f"{workload.name}-{os.getpid()}")
        self.data_dir = os.path.join(self.scratch, "data")
        self.land_dir = os.path.join(self.scratch, "landed")
        self.bronze_dir = os.path.join(self.scratch, "bronze")
        self.event_log_dir = os.path.join(self.scratch, "eventlog")
        self.rng = random.Random(seed)
        self.spark = None
        self.queries = None
        self.pass_no = 0
        self.traced_session = False
        self.records: list[OpRecord] = []
        self.pass_times: list[tuple[int, bool, float]] = []  # (pass, traced, seconds)
        self.unmeasured: set[int] = set()  # settling passes, left out of every median
        self.cold_setup: tuple[float, float, float] | None = None  # (total, get_spark, touch)
        self.table_rows: dict[str, int] = {}
        self.outputs: dict = {}
        self.check_failures: dict[str, str] = {}
        self.upsert_calls: list[tuple[int, float]] = []
        self.sink_writes: list[tuple[int, int, int]] = []  # (pass, bytes, files)
        self.progress: list[tuple[int, str, dict]] = []  # untraced, from recentProgress
        self.listener_progress: list[dict] = []
        self.run_ids: dict[str, tuple[int, str]] = {}
        self._dir_seq = 0
        self.landed_rows = 0

    # -- helpers the workload ops use -------------------------------------

    def fresh_dir(self, prefix: str) -> str:
        self._dir_seq += 1
        return os.path.join(self.scratch, f"{prefix}-{self._dir_seq}")

    def run_registry(self, name: str):
        """Build a registry query, then materialize it through the noop
        sink; returns the DataFrame for the check."""
        rec = self._current
        rec.registry = True
        sc = self.spark.sparkContext
        t0 = mark()
        df = self.queries[name](self.spark, self.data_dir)
        t1 = mark()
        if self.traced_session:
            rec.build_jobs = len(sc.statusTracker().getJobIdsForGroup(self._group))
        df.write.format("noop").mode("overwrite").save()
        t2 = mark()
        if self.traced_session:
            rec.exec_jobs = len(sc.statusTracker().getJobIdsForGroup(self._group)) - rec.build_jobs
        rec.build_s, rec.exec_s = unstolen_s(t0, t1), unstolen_s(t1, t2)
        return df

    def page_first_user(self) -> int:
        """A seeded first user for a served page."""
        from perfbench.datagen import rows
        from perfbench.workloads import DATA_SCALE, PAGE_USERS

        return self.rng.randrange(rows("users", DATA_SCALE) - PAGE_USERS + 1)

    def drain(self, query, op: str) -> None:
        """Run a streaming query until its backlog is consumed, then stop it."""
        self.run_ids[str(query.runId)] = (self.pass_no, op)
        try:
            query.processAllAvailable()
        finally:
            query.stop()
        self._drained.append((op, query))

    # -- session ------------------------------------------------------------

    def _conf(self, traced: bool) -> dict[str, str]:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.scratch, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Dderby.system.home={self.scratch}",
        }
        if traced:
            os.makedirs(self.event_log_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.dir": "file://" + self.event_log_dir,
                }
            )
        return conf

    def setup(self, traced: bool) -> tuple[float, float, tuple[float, float, float]]:
        """get_spark, first-touch every table the workload reads, land
        stream input. Returns the get_spark and first-touch times and the
        mark at which the session was ready."""
        from cse_datapipeline_and_mls_spark.session import get_spark
        from cse_datapipeline_and_mls_spark.sources import load_table

        t0 = mark()
        self.spark = get_spark("perfbench", extra_conf=self._conf(traced))
        self.spark.sparkContext.setCheckpointDir(self.fresh_dir("checkpoint"))
        self.traced_session = traced
        t1 = mark()
        for t in self.workload.tables:
            load_table(self.spark, self.data_dir, t).write.format("noop").mode("overwrite").save()
        if self.workload.stream:
            from perfbench.workloads import land_stream_input

            shutil.rmtree(self.land_dir, ignore_errors=True)
            land_stream_input(self)
            self.spark.read.parquet(self.land_dir).write.format("noop").mode("overwrite").save()
        t2 = mark()
        if traced:
            self._add_listener()
        return unstolen_s(t0, t1), unstolen_s(t1, t2), t2

    def _add_listener(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        sink = self.listener_progress

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                sink.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.spark.streams.addListener(Progress())

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # -- passes ---------------------------------------------------------------

    def run_op(self, op) -> None:
        rec = OpRecord(self.pass_no, op.name, self.traced_session)
        self._current = rec
        self._drained = []
        sc = self.spark.sparkContext
        self._group = f"{self.workload.name}.{op.name}@{self.pass_no}"
        if self.traced_session:
            sc.setJobGroup(self._group, self._group)
            before = sc._jsc.getPersistentRDDs().size()
        timer = threading.Timer(OP_TIMEOUT_S, self._cancel)
        timer.start()
        rec.start_ms = int(time.time() * 1000)
        t0 = mark()
        try:
            out = op.run(self)
        except Exception as exc:  # a failing op is a measured failure
            rec.error = f"{type(exc).__name__}: {exc}".splitlines()[0][:300]
            log(f"op {op.name} pass {self.pass_no} failed:", traceback.format_exc())
            out = None
        finally:
            timer.cancel()
        rec.wall_s = unstolen_s(t0)
        rec.raw_s = time.perf_counter() - t0[0]
        rec.end_ms = int(time.time() * 1000)
        if rec.error is None and rec.raw_s > OP_TIMEOUT_S:
            rec.error = f"timeout: {rec.raw_s:.1f}s > {OP_TIMEOUT_S}s"
        if self.traced_session:
            rec.leaked = sc._jsc.getPersistentRDDs().size() - before
            sc.setLocalProperty("spark.jobGroup.id", None)
        for name, q in self._drained:
            self.progress.extend((self.pass_no, name, json.loads(p.json)) for p in q.recentProgress)
        self.records.append(rec)
        self.outputs[op.name] = out

    def _cancel(self) -> None:
        log(f"op overran {OP_TIMEOUT_S}s; cancelling")
        if self.spark is not None:
            for q in self.spark.streams.active:
                q.stop()
            self.spark.sparkContext.cancelAllJobs()

    def run_pass(self) -> float:
        ops = list(self.workload.ops)
        if not self.workload.stream:
            self.rng.shuffle(ops)
        cpu0, t0 = tree_cpu_s(), mark()
        for op in ops:
            self.run_op(op)
        t1 = mark()
        cpu = tree_cpu_s() - cpu0
        dt = unstolen_s(t0, t1)
        self.pass_times.append((self.pass_no, self.traced_session, dt))
        log(
            f"pass {self.pass_no}{' traced' if self.traced_session else ''}: {dt:.2f}s"
            f" (wall {t1[0] - t0[0]:.2f}s, steal {t1[2] - t0[2]:.2f}s,"
            f" cpu {cpu:.2f}s, other processes' cpu {t1[1] - t0[1] - cpu:.2f}s)",
            " ".join(f"{r.op}={r.wall_s:.2f}" for r in self.records if r.pass_no == self.pass_no),
        )
        self.pass_no += 1
        return dt

    def steady(self, seconds: float, min_passes: int, t_deadline: float) -> None:
        start = time.perf_counter()
        n = 0
        last = 0.0
        while n < min_passes or time.perf_counter() - start < seconds:
            if n and time.perf_counter() + last > t_deadline:
                log("deadline near; no more passes")
                break
            last = self.run_pass()
            n += 1

    def collect_outputs(self) -> dict:
        """Materialize the last pass's outputs for the checks (untimed)."""
        got = {}
        for name, out in self.outputs.items():
            if out is None:
                continue
            if hasattr(out, "collect"):
                got[name] = (out.columns, [tuple(r) for r in out.collect()])
            else:
                got[name] = out
        return got


def stop_engine_processes(timeout_s: float = 20.0) -> None:
    """Stop the gateway JVM pyspark launched and every process under it
    (its Python workers), and wait until each has ended.

    The JVM exits on its own only once it sees its stdin close, which
    happens after this process has exited: without this it outlives the
    run by a second or more. Closing its stdin asks it to exit; whatever
    is still alive ``timeout_s`` later is killed."""
    from pyspark import SparkContext

    pids = descendants()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 - the JVM is stopped below either way
            log("gateway shutdown failed:", traceback.format_exc())
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=timeout_s)
        except (OSError, subprocess.TimeoutExpired):
            log(f"JVM {proc.pid} did not exit in {timeout_s}s; killing it")
            proc.kill()
            proc.wait()
    # Python workers the JVM forked end when it does; stop any that linger.
    for sig, wait_s in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        left = [pid for pid in pids if alive(pid)]
        for pid in left:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        t_end = time.monotonic() + wait_s
        while left and time.monotonic() < t_end:
            time.sleep(0.05)
            left = [pid for pid in left if alive(pid)]
        if not left:
            return
    log("processes still alive after SIGKILL:", left)


def _git_status(root: str) -> str | None:
    try:
        res = subprocess.run(
            ["git", "-C", root, "status", "--porcelain"],
            capture_output=True, text=True, timeout=30,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return res.stdout if res.returncode == 0 else None


def _steady_passes(run: Run) -> list[int]:
    return [p for p, _, _ in run.pass_times[1:] if p not in run.unmeasured]


def _e2e(run: Run) -> dict[str, float]:
    from perfbench.workloads import PAGE_OP

    m: dict[str, float] = {}
    if run.cold_setup:
        m["setup_s"] = run.cold_setup[0]
    if run.pass_times:
        m["first_pass_s"] = run.pass_times[0][2]
    steady_passes = _steady_passes(run)
    if not steady_passes:
        return m
    m["steady_pass_s"] = statistics.median(dt for p, _, dt in run.pass_times if p in steady_passes)
    if run.workload.stream:
        drains = [
            sum(r.wall_s for r in run.records if r.pass_no == p and r.op.startswith("stream."))
            for p in steady_passes
        ]
        m["events_per_s"] = run.landed_rows / statistics.median(drains)
        # a drain's share of unstolen time scales its micro-batches
        scale = {
            r.pass_no: r.wall_s / r.raw_s
            for r in run.records
            if r.op == "stream.alerts" and r.raw_s > 0
        }
        lat = [
            prog["durationMs"]["triggerExecution"] * scale[p]
            for p, op, prog in run.progress
            if p in steady_passes and op == "stream.alerts" and prog.get("numInputRows", 0) > 0
        ]
    else:
        rows = sum(run.table_rows[t] for op in run.workload.ops for t in op.tables)
        m["events_per_s"] = rows / m["steady_pass_s"]
        lat = [
            r.wall_s * 1000
            for r in run.records
            if r.pass_no in steady_passes and r.op.startswith(PAGE_OP)
        ]
    if lat:
        m["batch_p50_ms"] = quantile(lat, 0.5)
        m["batch_p90_ms"] = quantile(lat, 0.9)
        log(f"batch latency samples ({len(lat)}, ms):", " ".join(f"{x:.0f}" for x in lat))
    return m


def _layers(run: Run) -> dict[str, float]:
    """The per-layer metrics the run measured. A metric whose measurement
    did not happen (no event log, no listener progress, no upsert) is
    left out."""
    from perfbench import eventlog
    from perfbench.workloads import PAGE_OP

    measured = [(p, t, dt) for p, t, dt in run.pass_times if p not in run.unmeasured]
    traced_passes = [p for p, t, _ in measured if t]
    traced_dt = [dt for _, t, dt in measured if t]
    untraced_steady = [dt for _, t, dt in measured if not t]
    m: dict[str, float] = {}
    if run.cold_setup:
        m["session.get_spark_s"], m["sources.load_table_s"] = run.cold_setup[1:]
    if traced_dt and untraced_steady:
        m["trace.overhead_s"] = statistics.median(traced_dt) - statistics.median(untraced_steady)
    if not traced_passes:
        return m

    recs = [r for r in run.records if r.traced]
    by_group = {f"{run.workload.name}.{r.op}@{r.pass_no}": r for r in recs}

    def key_of(group: str, t_ms: int):
        if group in by_group:
            return group
        if group in run.run_ids:  # streaming jobs carry their query's runId
            p, op = run.run_ids[group]
            return f"{run.workload.name}.{op}@{p}"
        for g, r in by_group.items():  # untagged jobs: the op running then
            if r.start_ms <= t_ms <= r.end_ms:
                return g
        return ""

    stats = {}
    if os.path.isdir(run.event_log_dir):
        stats = eventlog.attribute(eventlog.read_events(run.event_log_dir), key_of)

    per_pass: dict[str, list[float]] = {}
    for p in traced_passes:
        rs = [r for r in recs if r.pass_no == p]
        vals = {"spark.persisted_rdds_leaked": sum(r.leaked for r in rs)}
        registry = [r for r in rs if r.registry]
        if registry:
            vals.update(
                {
                    "queries.build_s": sum(r.build_s for r in registry),
                    "queries.build_jobs": sum(r.build_jobs for r in registry),
                    "queries.exec_s": sum(r.exec_s for r in registry),
                    "queries.exec_jobs": sum(r.exec_jobs for r in registry),
                }
            )
        pages = [r.wall_s * 1000 for r in rs if r.op.startswith(PAGE_OP)]
        if pages:
            vals["serving.page_ms"] = statistics.median(pages)
        keys = {f"{run.workload.name}.{r.op}@{p}": r for r in rs}
        gs = [(r, stats[k]) for k, r in keys.items() if k in stats]
        if any(g.jobs for _, g in gs):  # the event log saw this pass's jobs
            vals.update(
                {
                    "spark.jobs": sum(g.jobs for _, g in gs),
                    "spark.stages": sum(g.stages for _, g in gs),
                    "spark.tasks": sum(g.tasks for _, g in gs),
                    "spark.driver_only_s": sum(
                        (r.end_ms - r.start_ms) / 1000 for r in rs
                    )
                    - sum(eventlog.busy_ms(g.job_spans, r.start_ms, r.end_ms) for r, g in gs)
                    / 1000,
                    "spark.executor_run_s": sum(g.executor_run_ms for _, g in gs) / 1000,
                    "spark.executor_cpu_s": sum(g.executor_cpu_ns for _, g in gs) / 1e9,
                    "spark.shuffle_read_bytes": sum(g.shuffle_read_bytes for _, g in gs),
                    "spark.shuffle_write_bytes": sum(g.shuffle_write_bytes for _, g in gs),
                    "spark.spill_bytes": sum(g.spill_bytes for _, g in gs),
                    "spark.gc_s": sum(g.gc_ms for _, g in gs) / 1000,
                    "spark.tasks_failed": sum(g.tasks_failed for _, g in gs),
                }
            )
        if run.workload.stream:
            vals.update(_stream_layers(run, p))
        for k, v in vals.items():
            per_pass.setdefault(k, []).append(v)
    for k, vs in per_pass.items():
        m[k] = statistics.median(vs)
    ups = [dt * 1000 for p, dt in run.upsert_calls if p in traced_passes]
    if ups:
        m["sources.sinks.upsert_p50_ms"] = quantile(ups, 0.5)
        m["sources.sinks.upsert_p90_ms"] = quantile(ups, 0.9)
    return m


def _stream_layers(run: Run, p: int) -> dict[str, float]:
    ids = {rid for rid, (pp, _) in run.run_ids.items() if pp == p}
    progs = [pr for pr in run.listener_progress if pr.get("runId") in ids]
    data = [pr for pr in progs if pr.get("numInputRows", 0) > 0]
    alerts = [pr for pr in data if run.run_ids[pr["runId"]][1] == "stream.alerts"]

    def dur(key: str) -> float:
        return float(sum(pr.get("durationMs", {}).get(key, 0) for pr in data))

    state = [op for pr in alerts for op in pr.get("stateOperators", [])]
    last = alerts[-1].get("stateOperators", []) if alerts else []
    n_in = sum(pr["numInputRows"] for pr in alerts)
    writes = [(b, f) for pp, b, f in run.sink_writes if pp == p]
    out: dict[str, float] = {}
    if data:
        out.update(
            {
                "streaming.batches": len(data),
                "streaming.add_batch_ms": dur("addBatch"),
                "streaming.query_planning_ms": dur("queryPlanning"),
                "streaming.wal_commit_ms": dur("walCommit"),
                "streaming.latest_offset_ms": dur("latestOffset"),
            }
        )
    if n_in:
        out.update(
            {
                "streaming.state_rows": sum(op.get("numRowsTotal", 0) for op in last),
                "streaming.state_memory_bytes": sum(op.get("memoryUsedBytes", 0) for op in last),
                "streaming.rows_dropped_by_watermark": sum(
                    op.get("numRowsDroppedByWatermark", 0) for op in state
                ),
                "streaming.dedup_keep_ratio": sum(op.get("numRowsUpdated", 0) for op in state) / n_in,
            }
        )
    if writes:
        out["sources.sinks.bytes_written"] = sum(b for b, _ in writes)
        out["sources.sinks.files_written"] = sum(f for _, f in writes)
    return out


def execute(args, age_at_start: float, t_start: tuple[float, float, float]) -> tuple[dict, int, int, bool]:
    """Run the workload; returns (metrics, attempted, failed, ok)."""
    from perfbench import datagen
    from perfbench.workloads import DATA_SCALE, KNOWN_LIMITS, WORKLOADS

    workload = WORKLOADS[args.workload]
    run = Run(workload, args.seed)
    t_deadline = t_start[0] + DEADLINE_S - 25
    git_before = _git_status(ROOT)
    os.makedirs(run.scratch)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run.scratch, "local")
    os.chdir(run.scratch)
    metrics: dict[str, float] = {}
    rss = None
    ok = True
    try:
        import pyarrow.parquet as pq

        from cse_datapipeline_and_mls_spark.queries import QUERIES

        run.queries = QUERIES
        t_gen = mark()
        datagen.write_tables(run.data_dir, args.seed, DATA_SCALE, workload.tables)
        gen_s = unstolen_s(t_gen)
        run.table_rows = {
            t: pq.ParquetFile(os.path.join(run.data_dir, f"{t}.parquet")).metadata.num_rows
            for t in workload.tables
        }
        get_spark_s, touch_s, t_ready = run.setup(traced=bool(args.trace))
        run.cold_setup = (age_at_start + unstolen_s(t_start, t_ready) - gen_s, get_spark_s, touch_s)
        log(
            f"cold setup {run.cold_setup[0]:.2f}s: get_spark {get_spark_s:.2f}s,"
            f" first touch {touch_s:.2f}s (input generation, {gen_s:.2f}s, left out)"
        )
        if workload.stream:
            log("known program limits:", json.dumps(KNOWN_LIMITS))
        run.run_pass()  # first pass in the fresh session
        run.run_pass()  # lets the JIT settle before the steady passes
        run.unmeasured.add(1)
        if args.trace:
            run.unmeasured.add(0)
            run.steady(args.seconds / 2, 2, t_deadline)
            # the untraced reference for trace.overhead_s
            run.stop_session()
            run.setup(traced=False)
            run.run_pass()  # settles the new session; not measured
            run.unmeasured.add(run.pass_no - 1)
            run.run_pass()
        else:
            run.steady(args.seconds, MIN_STEADY_PASSES, t_deadline)
        t_check = mark()
        outputs = run.collect_outputs()
        t_collected = mark()
        run.check_failures = workload.check(run, outputs)
        log(
            f"checks took {unstolen_s(t_check):.2f}s"
            f" (collecting outputs {unstolen_s(t_check, t_collected):.2f}s)"
        )
        for name, why in run.check_failures.items():
            log(f"check failed: {name}: {why}")
        rss = peak_rss_mb()
    except Exception:  # noqa: BLE001 - report what was measured, then fail
        log("run aborted:", traceback.format_exc())
        ok = False
    finally:
        try:
            metrics.update(_layers(run) if args.trace else _e2e(run))
            if args.trace and rss is not None:
                metrics["process.peak_rss_mb"] = rss
        except Exception:  # noqa: BLE001
            log("metric assembly failed:", traceback.format_exc())
            ok = False
        run.stop_session()
        os.chdir(ROOT)
        shutil.rmtree(run.scratch, ignore_errors=True)
        parent = os.path.dirname(run.scratch)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    failed_ops = [r for r in run.records if r.error]
    for r in failed_ops:
        log(f"failed: {r.op} pass {r.pass_no}: {r.error}")
    # a wrong output fails the last execution of its op, unless that
    # execution already failed by raising
    failed_last = {r.op for r in failed_ops if r.pass_no == run.pass_no - 1}
    failed = len(failed_ops) + len(set(run.check_failures) - failed_last)
    if git_before is not None and _git_status(ROOT) != git_before:
        log("the run changed `git status` of the checkout")
        ok = False
    return metrics, len(run.records), failed, ok


def result_line(
    workload: str, trace: bool, metrics: dict[str, float], attempted: int, failed: int, ok: bool
) -> dict:
    """The result object. It names every declared metric of the mode; one
    that applies to the workload but was not measured makes the run
    incorrect, and one that does not apply is reported as 0."""
    if trace:
        wanted = [(n, u, workload in ws) for n, u, _, ws in LAYER_METRICS]
    else:
        wanted = [(n, u, True) for n, u, _ in E2E_METRICS]
    missing = [n for n, _, applies in wanted if applies and n not in metrics]
    idle = [n for n, _, applies in wanted if not applies]
    if missing:
        log("metrics not measured:", ", ".join(missing))
    if idle:
        log(f"not exercised by {workload}, reported as 0:", ", ".join(idle))
    log(f"fail_ratio = {failed}/{attempted} = {failed / max(attempted, 1):.4f}")
    return {
        "correct": ok and failed == 0 and not missing,
        "attempted": max(attempted, 1),
        "failed": failed,
        "metrics": {
            n: {"value": metrics[n] if applies else 0.0, "unit": u}
            for n, u, applies in wanted
            if n in metrics or not applies
        },
    }


def main(argv: list[str] | None = None) -> int:
    age, t_start = process_age_s(), mark()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, ENGINE, "session.py")):
        log(f"no engine at {ROOT}/{ENGINE}: run from the root of a full checkout")
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}")
        return 2

    # Only the result line goes to stdout: everything else, the JVM's
    # inherited descriptor included, writes to stderr.
    result_out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    os.environ.pop("SPARK_GRAFT_CONF", None)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYSPARK_PYTHON"] = sys.executable

    def on_alarm(signum, frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S}s")

    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(int(DEADLINE_S))
    try:
        metrics, attempted, failed, ok = execute(args, age, t_start)
    finally:
        signal.alarm(0)
        stop_engine_processes()
    result = result_line(args.workload, bool(args.trace), metrics, attempted, failed, ok)
    log(f"run took {time.perf_counter() - t_start[0]:.1f}s wall after interpreter start")
    result_out.write(json.dumps(result) + "\n")
    result_out.flush()
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
