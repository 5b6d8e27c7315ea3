"""Isolated per-query timing probe: fresh tuned session, table warmup,
min-of-N noop-sink runs per named query (bench.py's protocol), one JSON
line per query. Used for the optimization rounds' before/after evidence
where full-bench runs carry co-tenant pocket noise.

Usage: python tools/time_queries.py [--sf DIR] [--runs 3] name [name ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=3)
    args = ap.parse_args()

    from cse_datapipeline_and_mls_spark.materialize import query_scope
    from cse_datapipeline_and_mls_spark.queries import QUERIES
    from cse_datapipeline_and_mls_spark.session import get_spark
    from cse_datapipeline_and_mls_spark.sources import load_table

    spark = get_spark("time_queries")
    QUERIES["group_histogram_events"](spark, args.sf).write.format("noop").mode(
        "overwrite"
    ).save()
    for t in (
        "lineitem", "orders", "customer", "supplier", "part",
        "nation", "region", "documents", "embeddings",
    ):
        # warmup only — an sf dir missing a table must not crash the
        # probe before a single timing is taken (ADVICE r14)
        try:
            load_table(spark, args.sf, t).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception as exc:  # noqa: BLE001
            print(f"warmup skip {t}: {type(exc).__name__}", file=sys.stderr)

    out = {}
    for name in args.names:
        spark.sparkContext.setJobDescription(f"time_queries: {name}")
        runs = []
        for _ in range(args.runs):
            # each run frees what it materialized, after the clock stops
            with query_scope():
                t0 = time.time()
                QUERIES[name](spark, args.sf).write.format("noop").mode("overwrite").save()
                runs.append(round(time.time() - t0, 3))
        out[name] = {"min": min(runs), "runs": runs}
        print(json.dumps({name: out[name]}), flush=True)
    print("TOTALMIN " + json.dumps({k: v["min"] for k, v in out.items()}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
