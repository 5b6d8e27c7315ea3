"""Local stand-in for the driver's t2 correctness gate.

Runs every registered query on Spark AND its DuckDB oracle at the given
scale factor, compares row count, column names/types, and an
order-insensitive value hash. Usage:

    python tools/check_correctness.py [--sf /root/testdata/sf0.01] [name ...]
"""

from __future__ import annotations

import argparse
import math
import os
import re
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0:
            return "0"
        return f"{v:.10g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def table_hash(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted("\x01".join(norm_cell(r[i]) for i in order) for r in rows)
    import hashlib

    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


_REGISTERED = re.compile(r'\bregister(?:_sql)?\(\s*"([^"]+)"')


def registered_names(source: str) -> set[str]:
    """Query names a module's source registers: the literal first
    argument of every ``register("name"`` and ``register_sql("name"``
    call (registrations are multi-line, so this reads whole file
    contents rather than grepping lines)."""
    return set(_REGISTERED.findall(source))


def _names_new_since(rev: str, registry) -> list[str]:
    """Registry names present now but NOT registered at git ``rev``:
    scans every tracked .py at the rev with ``registered_names``. Names
    are returned in current registry order."""
    import subprocess

    ls = subprocess.run(
        ["git", "-C", ROOT, "ls-tree", "-r", "--name-only", rev],
        capture_output=True,
        text=True,
        check=True,
    )
    old: set[str] = set()
    for path in ls.stdout.split():
        if not path.endswith(".py"):
            continue
        show = subprocess.run(
            ["git", "-C", ROOT, "show", f"{rev}:{path}"],
            capture_output=True,
            text=True,
        )
        if show.returncode == 0:
            old.update(registered_names(show.stdout))
    return [n for n in registry if n not in old]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    ap.add_argument("--keep-going", action="store_true")
    ap.add_argument(
        "--vanilla",
        action="store_true",
        help="use a plain SparkSession (driver-mimic) instead of the tuned factory",
    )
    ap.add_argument(
        "--json",
        default=None,
        metavar="PATH",
        help="write a driver-shaped per-query result artifact (CORRECTNESS_local.json)",
    )
    ap.add_argument(
        "--new-since",
        default=None,
        metavar="REV",
        help="run only queries NOT registered at the given git rev "
        "(auto-discovers a round's additions; VERDICT r11 #6 — the "
        "driver's 50-query sample cannot be relied on to cover them)",
    )
    args = ap.parse_args()

    import duckdb

    from cse_datapipeline_and_mls_spark.queries import ORACLE, QUERIES

    if args.new_since:
        if args.names:
            ap.error("--new-since and explicit names are mutually exclusive")
        args.names = _names_new_since(args.new_since, QUERIES)
        if not args.names:
            print(f"no queries registered since {args.new_since}; nothing to run")
            return 0
        print(
            f"{len(args.names)} queries registered since {args.new_since}: "
            + " ".join(args.names)
        )

    if args.vanilla:
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[8]").appName("vanilla-check").getOrCreate()
    else:
        from cse_datapipeline_and_mls_spark.session import get_spark

        spark = get_spark("correctness-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'")

    names = args.names or list(QUERIES)
    n_pass = n_fail = n_rows_only = 0
    failures = []
    results: dict[str, dict] = {}

    def record(name, **kw):
        base = {
            "rows_match": None,
            "schema_match": None,
            "hash_match": None,
            "spark_rows": None,
            "oracle_rows": None,
            "err": None,
        }
        base.update(kw)
        results[name] = base

    import gc

    for qi, name in enumerate(names):
        fn = QUERIES[name]
        t0 = time.time()
        # Release the previous query's DataFrame/py4j references so the
        # ContextCleaner can drop its cached/checkpointed RDD blocks —
        # graph ops localCheckpoint their edge sets, and 180 queries of
        # accumulated blocks OOM a small-heap (vanilla 1g) session at
        # sf0.1 even though every query passes in isolation.
        if qi and qi % 20 == 0:
            gc.collect()
            try:
                spark.sparkContext._jvm.System.gc()
            except Exception:  # noqa: BLE001
                pass
        try:
            sdf = fn(spark, args.sf)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            del sdf
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            record(name, err=f"spark error: {e}")
            n_fail += 1
            failures.append(name)
            if not args.keep_going:
                return 1
            continue
        if name not in ORACLE:
            print(f"ROWS  {name}: {len(srows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            record(name, spark_rows=len(srows), err="no_oracle")
            n_rows_only += 1
            continue
        try:
            res = con.execute(ORACLE[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            record(name, spark_rows=len(srows), err=f"duckdb error: {e}")
            n_fail += 1
            failures.append(name)
            if not args.keep_going:
                return 1
            continue
        problems = []
        schema_ok = sorted(scols) == sorted(ocols)
        rows_ok = len(srows) == len(orows)
        hash_ok = None
        if not schema_ok:
            problems.append(f"columns spark={sorted(scols)} oracle={sorted(ocols)}")
        if not rows_ok:
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if not problems:
            sh = table_hash(srows, scols)
            oh = table_hash(orows, ocols)
            hash_ok = sh == oh
            if not hash_ok:
                problems.append(f"hash spark={sh} oracle={oh}")
                # show a few differing rows for debugging
                sset = {"\x01".join(norm_cell(c) for c in r) for r in srows}
                oset = {"\x01".join(norm_cell(c) for c in r) for r in orows}
                so = list(sset - oset)[:3]
                os_ = list(oset - sset)[:3]
                for x in so:
                    problems.append(f"  spark-only: {x[:200]}")
                for x in os_:
                    problems.append(f"  oracle-only: {x[:200]}")
        record(
            name,
            rows_match=rows_ok,
            schema_match=schema_ok,
            hash_match=hash_ok,
            spark_rows=len(srows),
            oracle_rows=len(orows),
        )
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            n_fail += 1
            failures.append(name)
            if not args.keep_going:
                return 1
        else:
            print(f"PASS  {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_rows_only} rows-only, {n_fail} fail")
    if failures:
        print("failures:", " ".join(failures))
    if args.json:
        import json

        with open(args.json, "w") as f:
            json.dump(results, f, indent=2)
        print(f"wrote {args.json} ({len(results)} queries)")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
