"""Multi-executor validation pass (VERDICT r13 #2): run registry
queries on a REAL executor boundary — ``local-cluster[W,C,M]`` spawns
separate worker JVMs with their own Python workers, so closure
serialization, task-side imports, and any accidental driver-state
dependency (memo dicts must be per-session, broadcast vars must
actually serialize) are exercised the way a 1000-executor cluster
would, which single-JVM ``local[*]`` can never do.

Usage:
    python tools/local_cluster_sweep.py [--sf /root/testdata/sf0.1]
        [--slowest 50] [--workers 2] [--cores 8] [--mem 4096]
        [--cap 300] [name ...]

Default query set: the N bench-slowest rows from BENCH_local.json
(the ones whose plans do the most shuffling/UDF work — the highest
serialization surface). Reports OK/ERROR per query; any ERROR is a
real multi-executor bug that local[*] hid.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from sf1_engine_sweep import run_with_watchdog  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--slowest", type=int, default=50)
    ap.add_argument("--workers", type=int, default=2)
    ap.add_argument("--cores", type=int, default=8)
    ap.add_argument("--mem", type=int, default=4096, help="MB per worker")
    ap.add_argument("--cap", type=float, default=300.0)
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from cse_datapipeline_and_mls_spark.queries import QUERIES

    if args.names:
        names = args.names
    else:
        with open(os.path.join(ROOT, "BENCH_local.json")) as fh:
            bench = json.load(fh)
        allq = {**bench.get("coverage_queries", {}), **bench.get("queries", {})}
        names = [
            k
            for k, _ in sorted(allq.items(), key=lambda kv: -kv[1])[: args.slowest]
            if k in QUERIES
        ]

    # Executor JVMs fork their own Python workers from a fresh env: the
    # package must be importable THERE (a single-JVM local[*] session
    # never proves this).
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    spark = (
        SparkSession.builder.master(
            f"local-cluster[{args.workers},{args.cores},{args.mem}]"
        )
        .appName("local_cluster_sweep")
        .config("spark.executorEnv.PYTHONPATH", ROOT)
        .config("spark.executor.memory", f"{args.mem}m")
        .config("spark.sql.shuffle.partitions", str(args.workers * args.cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    sc = spark.sparkContext
    print(
        f"master={sc.master} defaultParallelism={sc.defaultParallelism} "
        f"queries={len(names)} sf={args.sf}",
        flush=True,
    )

    results = {
        name: run_with_watchdog(spark, name, args.sf, args.cap, "local-cluster sweep")
        for name in names
    }
    n_err = sum(not isinstance(v, float) for v in results.values())
    ok = sum(1 for v in results.values() if isinstance(v, float))
    print(f"\n{ok}/{len(results)} OK, {n_err} failed", flush=True)
    return 1 if n_err else 0


if __name__ == "__main__":
    raise SystemExit(main())
