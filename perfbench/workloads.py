"""The benchmark's workloads: their ops, their inputs and their checks.

An op is one closed-loop call into the engine's public functions. Its
``run`` returns the output its check needs; checks run after the timed
passes, on the outputs of the last pass, and never inside a timed region.
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys
import time
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

from . import datagen

# (op, tables it reads). The read path of the reference's analytics
# service: a per-instrument window feature, the join and the aggregate
# behind its pages and an event-time session rollup. With the served pages
# they keep one run, cold JVM start included, near a minute on a 4-core box.
READ_PATH_QUERIES = (
    ("w_pct_change_zscore_anomaly", ("events",)),
    ("tpch_q1_pricing_summary", ("lineitem",)),
    ("broadcast_join_segment_sales", ("customer", "orders")),
    ("t_session_window_30min", ("events",)),
)
# The serving edge: each pass serves PAGE_REQUESTS pages of PAGE_ROWS
# records of the z-score anomaly result, each over PAGE_USERS users from a
# seeded first one (about 1,000 events, so every page is full and costs
# the same).
PAGE_QUERY = "w_pct_change_zscore_anomaly"
PAGE_ORDER = ("user_id", "ts", "event_id")
PAGE_ROWS = 500
PAGE_REQUESTS = 6
PAGE_USERS = 16
PAGE_OP = "serving.page"

# Input size: the layout of the engine's sf0.1 test data (600,000 line
# items; 100,000 events from 1,500 users over 30 days).
DATA_SCALE = 0.1

# Stream input: the first days of that events table (3,333 new rows a
# day), one snapshot per day. From the second day on each snapshot replays
# 2.29 times its new rows from earlier days, the ratio of landed to
# distinct rows (328,980 to 100,000) of a 30-day prototype of this stream,
# so a snapshot holds ~11,000 rows as there.
STREAM_DAYS = 3
STREAM_REPLAY_SHARE = 2.29
ALERT_THRESHOLD = 5.0  # threshold_alerts' default

# Program limits the stream workload works around (not patched here).
KNOWN_LIMITS = (
    "sources.load_table sets spark.sql.legacy.parquet.nanosAsLong for the whole "
    "session; afterwards a landed file with nanosecond timestamps fails the file "
    "stream with PARQUET_COLUMN_DATA_TYPE_MISMATCH, so snapshots are written "
    "with microsecond timestamps",
    "sources.sinks.merge_upsert_parquet cannot start from an empty partitioned "
    "table (spark.read.parquet finds no schema), so the bronze table is "
    "bootstrapped with the first landed day via sources.sinks.write_partitioned",
)


@dataclass
class Op:
    name: str
    tables: tuple[str, ...]
    # run(ctx) -> output for the check; the runner times the call
    run: Callable[[Any], Any]


@dataclass
class Workload:
    name: str
    ops: list[Op]
    tables: tuple[str, ...]
    check: Callable[[Any, dict[str, Any]], dict[str, str]]
    stream: bool = False


def _engine():
    from cse_datapipeline_and_mls_spark.queries import ORACLE, QUERIES
    from cse_datapipeline_and_mls_spark.serving import to_json_records

    return QUERIES, ORACLE, to_json_records


def _load_hash(root: str):
    """``table_hash`` of tools/check_correctness.py, loaded read-only.

    That module puts a fixed repo path at the head of ``sys.path`` on
    import; the path list is restored so the engine keeps resolving
    from this checkout."""
    saved = list(sys.path)
    try:
        spec = importlib.util.spec_from_file_location(
            "_perfbench_check_correctness", os.path.join(root, "tools", "check_correctness.py")
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod.table_hash


def _duckdb(data_dir: str, tables: tuple[str, ...]):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _registry_op(name: str, tables: tuple[str, ...]) -> Op:
    def run(ctx):
        return ctx.run_registry(name)

    return Op(name=name, tables=tables, run=run)


def _page_op(k: int) -> Op:
    def run(ctx):
        from pyspark.sql import functions as F

        _, _, to_json_records = _engine()
        first_user = ctx.page_first_user()
        df = ctx.queries[PAGE_QUERY](ctx.spark, ctx.data_dir)
        users = F.col("user_id").between(first_user, first_user + PAGE_USERS - 1)
        page = df.where(users).orderBy(*PAGE_ORDER).limit(PAGE_ROWS)
        return first_user, [r[0] for r in to_json_records(page).collect()]

    return Op(name=f"{PAGE_OP}#{k}", tables=("events",), run=run)


def _check_registry(ctx, outputs: dict[str, Any], con) -> dict[str, str]:
    """Hash each registry result against its DuckDB oracle."""
    _, oracle, _ = _engine()
    table_hash = _load_hash(ctx.root)
    bad: dict[str, str] = {}
    for name, out in outputs.items():
        if name not in ctx.queries:
            continue
        cols, rows = out
        if name not in oracle:
            bad[name] = "no oracle to check against"
            continue
        res = con.execute(oracle[name])
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
        if sorted(cols) != sorted(ocols) or len(rows) != len(orows):
            bad[name] = f"shape {len(rows)}x{sorted(cols)} vs oracle {len(orows)}x{sorted(ocols)}"
        elif table_hash(rows, cols) != table_hash(orows, ocols):
            bad[name] = "hash differs from oracle"
    return bad


def _check_read_path(ctx, outputs: dict[str, Any]) -> dict[str, str]:
    _, oracle, _ = _engine()
    con = _duckdb(ctx.data_dir, READ_PATH_TABLES)
    bad = _check_registry(ctx, outputs, con)
    for name, out in outputs.items():
        if not name.startswith(PAGE_OP):
            continue
        first_user, page = out
        got = [json.loads(rec)["event_id"] for rec in page]
        want = [
            r[0]
            for r in con.execute(
                f"SELECT event_id FROM ({oracle[PAGE_QUERY]}) "
                f"WHERE user_id BETWEEN {first_user} AND {first_user + PAGE_USERS - 1} "
                f"ORDER BY {', '.join(PAGE_ORDER)} LIMIT {PAGE_ROWS}"
            ).fetchall()
        ]
        if got != want:
            bad[name] = f"page of {len(got)} records from user {first_user} differs from oracle"
    return bad


def _tables_of(queries) -> tuple[str, ...]:
    return tuple(sorted({t for _, ts in queries for t in ts}))


READ_PATH_TABLES = _tables_of(READ_PATH_QUERIES)


# ---------------------------------------------------------------------------
# stream_ingest
# ---------------------------------------------------------------------------


def land_stream_input(ctx) -> None:
    """Land the day snapshots; keep the landed rows for the checks."""
    import numpy as np

    landed = datagen.land_snapshots(
        ctx.land_dir, ctx.seed, DATA_SCALE, STREAM_DAYS, STREAM_REPLAY_SHARE
    )
    ids = landed.column("event_id").to_numpy()
    values = landed.column("value").to_numpy()
    uniq, first = np.unique(ids, return_index=True)
    ctx.landed_rows = landed.num_rows
    ctx.landed_ids = uniq
    ctx.landed_alert_ids = np.sort(uniq[values[first] > ALERT_THRESHOLD])


def _bootstrap_op() -> Op:
    def run(ctx):
        from pyspark.sql import functions as F

        from cse_datapipeline_and_mls_spark.sources.sinks import write_partitioned

        first_day = os.path.join(ctx.land_dir, sorted(os.listdir(ctx.land_dir))[0])
        day0 = ctx.spark.read.parquet(first_day).withColumn("day", F.to_date("ts"))
        write_partitioned(day0, ctx.bronze_dir, ["day"])

    return Op(name="sinks.bootstrap", tables=(), run=run)


def _alerts_op() -> Op:
    def run(ctx):
        from cse_datapipeline_and_mls_spark.streaming import (
            bronze_ingest,
            ingest_file_stream,
            threshold_alerts,
        )

        src = ingest_file_stream(ctx.spark, ctx.land_dir, max_files_per_trigger=1)
        alerts = threshold_alerts(bronze_ingest(src), ALERT_THRESHOLD)
        sink = f"alerts_{ctx.pass_no}"
        q = (
            alerts.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .option("checkpointLocation", ctx.fresh_dir("ckpt-alerts"))
            .start()
        )
        ctx.drain(q, "stream.alerts")
        return sink

    return Op(name="stream.alerts", tables=(), run=run)


def _upsert_op() -> Op:
    def run(ctx):
        from pyspark.sql import functions as F

        from cse_datapipeline_and_mls_spark.sources.sinks import merge_upsert_parquet
        from cse_datapipeline_and_mls_spark.streaming import ingest_file_stream
        from perfbench.measure import mark, unstolen_s

        def upsert(batch, batch_id):
            wall0, t0 = time.time(), mark()
            merge_upsert_parquet(
                ctx.spark, ctx.bronze_dir, batch, keys=["event_id"], partition_col="day",
                order_col="ts",
            )
            ctx.upsert_calls.append((ctx.pass_no, unstolen_s(t0)))
            if ctx.traced_session:
                ctx.sink_writes.append((ctx.pass_no, *_written_since(ctx.bronze_dir, wall0)))

        src = ingest_file_stream(ctx.spark, ctx.land_dir, max_files_per_trigger=1)
        q = (
            src.withColumn("day", F.to_date("ts"))
            .writeStream.foreachBatch(upsert)
            .option("checkpointLocation", ctx.fresh_dir("ckpt-upsert"))
            .start()
        )
        ctx.drain(q, "stream.upsert")
        return ctx.bronze_dir

    return Op(name="stream.upsert", tables=(), run=run)


def _written_since(path: str, wall0: float) -> tuple[int, int]:
    """(bytes, files) of the parquet files under ``path`` written after
    ``wall0``: the partitions one upsert rewrote."""
    n_bytes = n_files = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(dirpath, f))
                if st.st_mtime >= wall0:
                    n_bytes += st.st_size
                    n_files += 1
    return n_bytes, n_files


def _check_stream(ctx, outputs: dict[str, Any]) -> dict[str, str]:
    import numpy as np
    from pyspark.sql import functions as F

    bad: dict[str, str] = {}
    n_distinct = len(ctx.landed_ids)
    sink = outputs.get("stream.alerts")
    if sink is not None:
        got = np.sort(
            np.asarray([r[0] for r in ctx.spark.sql(f"SELECT event_id FROM {sink}").collect()])
        )
        if not np.array_equal(got, ctx.landed_alert_ids):
            bad["stream.alerts"] = (
                f"{len(got)} alerts, want {len(ctx.landed_alert_ids)} from the deduped batch filter"
            )
    bronze = outputs.get("stream.upsert")
    if bronze is not None:
        row = (
            ctx.spark.read.parquet(bronze)
            .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("event_id").alias("d"))
            .collect()[0]
        )
        if row["n"] != n_distinct or row["d"] != n_distinct:
            bad["stream.upsert"] = (
                f"bronze has {row['n']} rows / {row['d']} keys, landed {n_distinct} distinct"
            )
    return bad


WORKLOADS: dict[str, Workload] = {
    "read_path": Workload(
        name="read_path",
        ops=[_registry_op(n, t) for n, t in READ_PATH_QUERIES]
        + [_page_op(k) for k in range(PAGE_REQUESTS)],
        tables=READ_PATH_TABLES,
        check=_check_read_path,
    ),
    "stream_ingest": Workload(
        name="stream_ingest",
        ops=[_bootstrap_op(), _alerts_op(), _upsert_op()],
        tables=(),
        check=_check_stream,
        stream=True,
    ),
}
