"""Measure the partition-scoped erasure contract at sf1 (VERDICT r13
#5): prepare the DSAR store from the sf1 tables at two bucket counts,
replay the SAME victim batch against each, and show that the rewrite
cost tracks |touched buckets| (the touched fraction of the store),
never the store size. Also re-asserts the untouched-partition
byte-identity contract at sf1, not just the sf0.01 pytest fixture.

Usage:
    python tools/erasure_scale.py [--sf /tmp/sf1] [--buckets 16 128]
                                  [--victims 3] [--out /tmp/erasure_scale]

Prints one JSON line per bucket count:
  {"buckets": B, "touched_orders_buckets": t, "store_rows": {...},
   "batch_sec": s, "untouched_files_checked": n, "byte_identical": true}
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def snap(root: str, table: str) -> dict[str, tuple[int, str]]:
    return {
        f: (os.path.getsize(f), hashlib.sha1(open(f, "rb").read()).hexdigest())
        for f in glob.glob(f"{root}/{table}/**/*.parquet", recursive=True)
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/tmp/sf1")
    ap.add_argument("--buckets", type=int, nargs="+", default=[16, 128])
    ap.add_argument("--victims", type=int, default=3)
    ap.add_argument("--out", default="/tmp/erasure_scale")
    args = ap.parse_args()

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from cse_datapipeline_and_mls_spark import streaming as ST
    from cse_datapipeline_and_mls_spark.session import get_spark
    from cse_datapipeline_and_mls_spark.sources import load_table
    from cse_datapipeline_and_mls_spark.streaming.pipeline import (
        _ERASURE_BUCKET_COLS,
        _erasure_bucket_expr,
    )

    spark = get_spark("erasure_scale")
    orders = load_table(spark, args.sf, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, args.sf, "lineitem").select("l_orderkey", "l_partkey")
    ev = load_table(spark, args.sf, "events").select("user_id", "event_id")
    victims = [
        int(r[0])
        for r in orders.select("o_custkey").distinct().limit(args.victims).collect()
    ]
    results = []
    for B in args.buckets:
        root = f"{args.out}_b{B}"
        if os.path.exists(root):
            shutil.rmtree(root)
        ST.prepare_erasure_store(orders, li, ev, root, buckets=B)
        store_rows = {
            "orders": orders.count(),
            "lineitem": li.count(),
            "events": ev.count(),
        }
        vdf = spark.createDataFrame([(v,) for v in victims], "c_custkey long")
        v_bkts = {
            r["b"]
            for r in vdf.select(_erasure_bucket_expr("c_custkey", B).alias("b"))
            .distinct()
            .collect()
        }
        l_bkts = {
            r["b"]
            for r in orders.join(
                vdf, orders["o_custkey"] == vdf["c_custkey"], "left_semi"
            )
            .select(_erasure_bucket_expr("o_orderkey", B).alias("b"))
            .distinct()
            .collect()
        }
        touched = len(v_bkts)
        touched_dirs = {
            t: {f"{root}/{t}/{bcol}={b}" for b in (l_bkts if t == "lineitem" else v_bkts)}
            for t, bcol in _ERASURE_BUCKET_COLS.items()
        }
        before = {t: snap(root, t) for t in ("orders", "lineitem", "events")}

        src, ckpt = f"{root}_dsar", f"{root}_ckpt"
        vdf.write.mode("overwrite").parquet(src)
        st = T.StructType([T.StructField("c_custkey", T.LongType())])
        t0 = time.time()
        q = ST.erasure_cascade_stream(
            spark.readStream.schema(st).parquet(src), root, checkpoint_dir=ckpt
        )
        q.processAllAvailable()
        ex = q.exception()
        q.stop()
        batch_sec = round(time.time() - t0, 1)
        assert ex is None, ex

        after = {t: snap(root, t) for t in ("orders", "lineitem", "events")}
        n_checked, identical = 0, True
        for t in _ERASURE_BUCKET_COLS:
            # every file outside the EXPECTED touched partition dirs
            # (derived from the bucket math, not from what changed) must
            # be byte-identical, and nothing outside them may appear or
            # disappear
            def untouched(files: dict) -> dict:
                return {
                    f: v
                    for f, v in files.items()
                    if not any(f.startswith(d + "/") for d in touched_dirs[t])
                }

            ub, ua = untouched(before[t]), untouched(after[t])
            n_checked += len(ub)
            if ub != ua:
                identical = False
        audit = spark.read.parquet(root + "/audit").collect()
        row = {
            "buckets": B,
            "n_victims": len(victims),
            "touched_orders_buckets": touched,
            "touched_fraction": round(touched / B, 4),
            "store_rows": store_rows,
            "batch_sec": batch_sec,
            "n_orders_erased": audit[0]["n_orders_erased"],
            "residual_consistent": bool(audit[0]["residual_consistent"]),
            "untouched_files_checked": n_checked,
            "byte_identical": identical,
        }
        results.append(row)
        print(json.dumps(row), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
