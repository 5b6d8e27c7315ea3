"""Engine-side scale sweep (no oracle): run registry queries against one
or more sf dirs with a per-query watchdog and report seconds, to hunt
serial/superlinear classes that only show above sf0.1 — the
j_fellegi_sunter_parts single-task finding came from exactly this kind
of pass (SCALE.md r13).

Usage:
    python tools/sf1_engine_sweep.py [--sf /tmp/sf1d ...] [--cap 150] [name ...]

With two or more dirs (e.g. sf0.1 and the 10x replica tools/make_sf1.py
builds from it) this is the registry-wide linearity check: each query
runs on every dir in turn, and the report gives its seconds per dir and
its time ratio to the first dir. A query whose ratio exceeds the dirs'
``lineitem`` row-count ratio (read from the parquet footers) is flagged
SUPERLINEAR: its cost grew faster than the data.

    python tools/make_sf1.py --out /tmp/sf1
    python tools/sf1_engine_sweep.py --sf <the sf0.1 dir> /tmp/sf1

A query that exceeds the cap has its Spark jobs cancelled and is
reported as TIMEOUT — at 10x sf0.1 data, cap/10 per query is already a
generous bound for a plan that scales linearly on 32 cores.
"""

from __future__ import annotations

import argparse
import os
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def run_with_watchdog(spark, name: str, sf_dir: str, cap: float, label: str) -> float | str:
    """Run registry query ``name`` on ``sf_dir`` through the noop sink
    under its own job group, print one OK/TIMEOUT/ERROR line, and return
    its seconds (or ``"TIMEOUT@<s>s"`` / ``"ERROR@<s>s"``)."""
    from cse_datapipeline_and_mls_spark.materialize import query_scope
    from cse_datapipeline_and_mls_spark.queries import QUERIES

    sc = spark.sparkContext
    fired = threading.Event()
    cancelled = threading.Event()

    # Cancellation is scoped to THIS query's job group, and TIMEOUT
    # is classified on whether the watchdog actually fired — never
    # inferred from elapsed time (ADVICE r13: a genuine failure
    # surfacing after cap seconds was misreported as TIMEOUT, and a
    # racing cancelAllJobs could kill the NEXT query's jobs).
    sc.setJobGroup(name, f"{label}: {name}", interruptOnCancel=True)

    def watchdog() -> None:
        if not fired.wait(cap):
            cancelled.set()
            # cancelJobGroup kills only ACTIVE jobs; an iterative
            # algorithm just launches its next job — keep cancelling
            # until the query thread has actually errored out
            while not fired.is_set():
                sc.cancelJobGroup(name)
                fired.wait(2.0)

    w = threading.Thread(target=watchdog, daemon=True)
    w.start()
    t0 = time.time()
    try:
        with query_scope():
            QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = round(time.time() - t0, 1)
        note = " (watchdog fired but query completed)" if cancelled.is_set() else ""
        print(f"OK      {name} @ {sf_dir}: {dt}s{note}", flush=True)
        return dt
    except Exception as exc:  # cancelled or genuine failure
        dt = round(time.time() - t0, 1)
        kind = "TIMEOUT" if cancelled.is_set() else "ERROR"
        print(f"{kind} {name} @ {sf_dir}: {dt}s {str(exc).splitlines()[0][:200]}", flush=True)
        return f"{kind}@{dt}s"
    finally:
        fired.set()
        # full join: a watchdog mid-cancel must finish before the
        # next query starts (its cancel is group-scoped anyway)
        w.join()


def lineitem_rows(sf_dir: str) -> int:
    import pyarrow.dataset as ds

    return ds.dataset(os.path.join(sf_dir, "lineitem.parquet"), format="parquet").count_rows()


def main() -> int:
    from cse_datapipeline_and_mls_spark.queries import QUERIES

    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", nargs="+", default=["/tmp/sf1d"], help="one or more sf dirs")
    ap.add_argument("--cap", type=float, default=150.0)
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    # `--sf A B name ...`: the greedy --sf list also takes the query
    # names that follow it; registered names are never dirs
    dirs = [v for v in args.sf if v not in QUERIES]
    names = args.names + [v for v in args.sf if v in QUERIES]
    for d in dirs:
        if not os.path.isdir(d):
            ap.error(f"--sf {d}: not a directory")

    from cse_datapipeline_and_mls_spark.session import get_spark

    spark = get_spark("sf1sweep")
    # one untimed query per dir first (tools/time_queries.py's warm-up):
    # JVM start-up and codegen warm-up would otherwise land on whichever
    # query runs first and skew its ratio
    for d in dirs:
        QUERIES["group_histogram_events"](spark, d).write.format("noop").mode("overwrite").save()
    results: dict[str, list[float | str]] = {}
    for name in names or list(QUERIES):
        if name not in QUERIES:
            print(f"SKIP {name}: not registered", flush=True)
            continue
        results[name] = [run_with_watchdog(spark, name, d, args.cap, "sf sweep") for d in dirs]

    if len(dirs) == 1:
        slow = {
            k: v[0] for k, v in results.items() if not isinstance(v[0], float) or v[0] > args.cap / 3
        }
        print("\nworst rows:", dict(sorted(slow.items(), key=lambda kv: str(kv[1]), reverse=True)))
        return 0

    rows = [lineitem_rows(d) for d in dirs]
    print("\nlineitem rows: " + "  ".join(
        f"{d}={n} (x{n / rows[0]:.2f})" for d, n in zip(dirs, rows)
    ))
    width = max(len(n) for n in results) if results else 5
    print(f"{'query':<{width}}  " + "  ".join(f"{'s':>10}  {'ratio':>6}" for _ in dirs))
    n_flagged = 0
    for name, secs in results.items():
        cells, flag = [], ""
        for sec, n in zip(secs, rows):
            if isinstance(sec, float) and isinstance(secs[0], float) and secs[0] > 0:
                ratio = sec / secs[0]
                if ratio > n / rows[0]:
                    flag = "  SUPERLINEAR"
                cells.append(f"{sec:>10}  {ratio:>6.2f}")
            else:
                cells.append(f"{sec!s:>10}  {'-':>6}")
        n_flagged += bool(flag)
        print(f"{name:<{width}}  " + "  ".join(cells) + flag)
    print(f"{n_flagged}/{len(results)} queries grew faster than lineitem", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
