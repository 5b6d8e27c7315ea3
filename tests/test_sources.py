"""Ingest-boundary source tests (SURVEY §2.1 S3/S5/S6 + the E2 envelope
flatten): CSV with explicit schema + sanitizer, RTDB-snapshot JSON."""

from __future__ import annotations

import json
import os

from pyspark.sql import types as T

from cse_datapipeline_and_mls_spark.sources import (
    flatten_envelope,
    read_csv_with_schema,
    read_snapshot_json,
)

PRICE_RECORD = T.StructType(
    [
        T.StructField("Symbol", T.StringType()),
        T.StructField("price", T.DoubleType()),
        T.StructField("volume", T.LongType()),
    ]
)


def test_csv_explicit_schema_and_sanitizer(spark, tmp_path):
    p = tmp_path / "prices.csv"
    p.write_text("Symbol,Last Trade (Rs.),Share Volume\nABC.N,12.5,1000\nXYZ.N,3.25,20\n")
    schema = T.StructType(
        [
            T.StructField("Symbol", T.StringType()),
            T.StructField("Last Trade (Rs.)", T.DoubleType()),
            T.StructField("Share Volume", T.LongType()),
        ]
    )
    df = read_csv_with_schema(spark, str(p), schema)
    # sanitizer applied once at the boundary — reference scraper/main.py:57
    assert df.columns == ["Symbol", "Last_Trade_(Rs_)", "Share_Volume"]
    rows = {r["Symbol"]: r for r in df.collect()}
    assert rows["ABC.N"]["Last_Trade_(Rs_)"] == 12.5
    assert rows["XYZ.N"]["Share_Volume"] == 20


def test_snapshot_json_envelope_flatten(spark, tmp_path):
    snapshot = {
        "2024-01-01T09:00:00_000": [
            {"Symbol": "ABC.N", "price": 10.0, "volume": 100},
            {"Symbol": "XYZ.N", "price": 5.0, "volume": 50},
        ],
        "2024-01-01T09:05:00_000": [
            {"Symbol": "ABC.N", "price": 10.5, "volume": 120},
        ],
    }
    p = tmp_path / "snapshot.json"
    p.write_text(json.dumps(snapshot))
    df = read_snapshot_json(spark, str(p), PRICE_RECORD)
    assert df.columns == ["ingest_ts", "Symbol", "price", "volume"]
    assert df.count() == 3
    by_key = df.groupBy("ingest_ts").count().collect()
    assert {r["ingest_ts"]: r["count"] for r in by_key} == {
        "2024-01-01T09:00:00_000": 2,
        "2024-01-01T09:05:00_000": 1,
    }


def test_flatten_envelope_is_shuffle_free(spark):
    data = [({"t1": [("A", 1.0, 1)], "t2": [("B", 2.0, 2), ("C", 3.0, 3)]},)]
    df = spark.createDataFrame(
        data,
        T.StructType(
            [T.StructField("env", T.MapType(T.StringType(), T.ArrayType(PRICE_RECORD)))]
        ),
    )
    out = flatten_envelope(df, "env", PRICE_RECORD)
    assert out.count() == 3
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, f"envelope flatten should not shuffle:\n{plan}"


def test_landed_http_ingest_example(spark):
    """S7/K2 wiring: the landed-HTTP example dedups re-landed payloads
    and its foreachBatch push sink delivers the serialized batch through
    an injected transport."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "examples"))
    import landed_http_ingest as ex

    landed = ex.land_http_json(spark, ex.fetch_json(None))
    assert landed.count() == 2  # canned payload has one duplicate
    seen: list[str] = []
    ex.push_sink(transport=seen.extend)(landed, epoch_id=0)
    assert len(seen) == 2
    import json

    assert {json.loads(s)["symbol"] for s in seen} == {"AAA", "BBB"}


def test_orc_sink_and_scan_roundtrip(spark, sf_dir, tmp_path):
    """ORC as an alternate columnar format: write a projected lineitem
    slice to ORC, scan it back with predicate pushdown, and match the
    parquet-sourced result — the engine is format-agnostic at the scan
    boundary (spark.read.orc/parquet are interchangeable DataFrames)."""
    from pyspark.sql import functions as F

    from cse_datapipeline_and_mls_spark.sources import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
    )
    path = str(tmp_path / "lineitem_orc")
    li.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    assert dict(back.dtypes) == dict(li.dtypes)
    got = back.filter(F.col("l_returnflag") == "R").agg(
        F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("q")
    ).collect()[0]
    want = li.filter(F.col("l_returnflag") == "R").agg(
        F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("q")
    ).collect()[0]
    assert (got["n"], got["q"]) == (want["n"], want["q"])
    # pushdown reaches the ORC scan
    plan = back.filter(F.col("l_returnflag") == "R")._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan or "pushed" in plan.lower()


def test_landed_html_scrape_example(spark):
    """S1 lander: stdlib HTML table parse -> Spark-side typing,
    sanitizing, Colombo date stamp, daily keyed dedup; live path gated."""
    import sys

    import pytest as _pytest

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "examples"))
    import landed_html_scrape as ex

    header, rows = ex.fetch_trade_summary()
    assert header[0] == "Company Name" and len(rows) == 4
    landed = ex.land_trade_summary(spark, header, rows)
    got = {r["symbol"]: r for r in landed.collect()}
    assert len(got) == 3  # duplicate BETA row deduped by (symbol, date)
    assert got["ALPH.N0000"]["last_trade"] == 1250.50
    assert got["BETA.N0000"]["trade_volume"] == 250000
    assert got["GAMM.X0000"]["change_pct"] == 0.0
    with _pytest.raises(NotImplementedError):
        ex.fetch_trade_summary("https://example.invalid/trade-summary")


def test_schema_evolution_read_and_conform(spark, tmp_path):
    """Files written before/after a column was added read back as one
    frame (mergeSchema), and conform_to_schema enforces the contract:
    typed NULL backfill, casts, extra-column drop, stable order."""
    from pyspark.sql import types as T

    from cse_datapipeline_and_mls_spark.sources.ingest import (
        conform_to_schema,
        read_with_schema_evolution,
    )

    path = str(tmp_path / "drifting")
    spark.createDataFrame([(1, "a")], "id bigint, name string").write.parquet(path)
    spark.createDataFrame(
        [(2, "b", 9.5)], "id bigint, name string, score double"
    ).write.mode("append").parquet(path)

    merged = read_with_schema_evolution(spark, path)
    assert set(merged.columns) == {"id", "name", "score"}
    got = {r["id"]: r for r in merged.collect()}
    assert got[1]["score"] is None and got[2]["score"] == 9.5

    contract = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("score", T.DoubleType()),
            T.StructField("flag", T.IntegerType()),  # never written -> NULL
        ]
    )
    conformed = read_with_schema_evolution(spark, path, target=contract)
    assert conformed.columns == ["id", "score", "flag"]
    rows = {r["id"]: r for r in conformed.collect()}
    assert rows[1]["flag"] is None and "name" not in conformed.columns


def test_ingest_metadata_stamps_provenance(spark, tmp_path):
    from cse_datapipeline_and_mls_spark.sources.ingest import with_ingest_metadata

    p1 = str(tmp_path / "a.parquet")
    p2 = str(tmp_path / "b.parquet")
    spark.createDataFrame([(1,)], "id long").write.parquet(p1)
    spark.createDataFrame([(2,)], "id long").write.parquet(p2)
    df = with_ingest_metadata(spark.read.parquet(p1, p2), batch_id=7)
    rows = {r["id"]: r for r in df.collect()}
    assert "a.parquet" in rows[1]["_source_file"]
    assert "b.parquet" in rows[2]["_source_file"]
    assert all(r["_batch_id"] == 7 for r in rows.values())
    # current_timestamp is query-constant: every row same ingest ts
    assert len({r["_ingest_ts"] for r in rows.values()}) == 1


def test_observed_metrics_ride_the_action(spark):
    from cse_datapipeline_and_mls_spark.sources.ingest import observed

    df = spark.createDataFrame([(1,), (None,), (3,)], "id bigint")
    out, obs = observed(df, "t")
    assert out.count() == 3  # the action that materializes the metrics
    got = obs.get
    assert got["n_rows"] == 3 and got["null_id"] == 1


def test_read_resilient_skips_corrupt_file(spark, tmp_path):
    from pyspark.sql import types as T

    from cse_datapipeline_and_mls_spark.sources.ingest import read_resilient

    path = str(tmp_path / "dirty")
    spark.createDataFrame([(1,), (2,)], "id bigint").write.parquet(path)
    # plant a corrupt parquet alongside the healthy ones
    with open(f"{path}/part-corrupt.snappy.parquet", "wb") as fh:
        fh.write(b"PAR1 this is not a parquet file")
    schema = T.StructType([T.StructField("id", T.LongType())])
    got = sorted(r["id"] for r in read_resilient(spark, path, schema).collect())
    assert got == [1, 2]


def test_example_tours_importable():
    """Examples are documentation that must not rot: every tour module
    imports cleanly (main() is exercised manually / by the quickstart)."""
    import importlib.util

    root = os.path.join(os.path.dirname(os.path.dirname(__file__)), "examples")
    for name in (
        "corpus_search",
        "graph_analytics",
        "sketch_rollups",
        "table_maintenance",
        "vector_search",
        "quickstart",
    ):
        path = os.path.join(root, f"{name}.py")
        spec = importlib.util.spec_from_file_location(name, path)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        assert callable(getattr(mod, "main", None)), name


def test_read_jsonl_with_quarantine_splits_bad_lines(spark, tmp_path_factory):
    """One pass, two frames: clean rows parse into the declared schema,
    malformed lines land in the quarantine with their ORIGINAL bytes
    (the dead-letter contract — evidence preserved, replayable)."""
    from pyspark.sql import types as T

    from cse_datapipeline_and_mls_spark.sources.ingest import (
        read_jsonl_with_quarantine,
    )

    p = tmp_path_factory.mktemp("jsonl") / "feed.jsonl"
    lines = [
        '{"id": 1, "v": 10.5}',
        'this is not json at all',
        '{"id": 2, "v": 20.25}',
        '{"id": 3, "v": }',          # truncated value
        '{"id": 4, "v": 4.0}',
    ]
    p.write_text("\n".join(lines) + "\n")
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.DoubleType())]
    )
    good, quarantined = read_jsonl_with_quarantine(spark, str(p), schema)
    assert {(r.id, r.v) for r in good.collect()} == {(1, 10.5), (2, 20.25), (4, 4.0)}
    bad = sorted(r.raw_line for r in quarantined.collect())
    assert bad == sorted(['this is not json at all', '{"id": 3, "v": }'])
    # schema contract: the corrupt column never leaks into good rows
    assert good.columns == ["id", "v"]


def _jobs_started(spark, group, fn):
    """Run ``fn`` under a job group; return its result and the number of
    Spark jobs it started (counted once the listener bus has delivered
    their start events)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_load_table_infers_each_file_once(spark, sf_dir, tmp_path):
    """A repeat load of the same file reads with the memoized schema and
    runs no Spark job; a rewritten file is a new identity and is inferred
    again, so a column it gained shows up."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from cse_datapipeline_and_mls_spark.sources import load_table

    shutil.copy(os.path.join(sf_dir, "customer.parquet"), tmp_path / "customer.parquet")
    first = load_table(spark, str(tmp_path), "customer")
    again, n_jobs = _jobs_started(
        spark, "test_sources.reload", lambda: load_table(spark, str(tmp_path), "customer")
    )
    assert n_jobs == 0
    assert again.schema == first.schema
    assert sorted(again.collect()) == sorted(first.collect())

    path = tmp_path / "orders.parquet"
    pq.write_table(pa.table({"o_orderkey": [1, 2]}), path)
    assert load_table(spark, str(tmp_path), "orders").columns == ["o_orderkey"]
    pq.write_table(pa.table({"o_orderkey": [1, 2], "o_custkey": [7, 8]}), path)
    grown = load_table(spark, str(tmp_path), "orders")
    assert grown.columns == ["o_orderkey", "o_custkey"]
    assert sorted(r["o_custkey"] for r in grown.collect()) == [7, 8]


def test_load_table_nanos_conf_scoped_to_inference(spark, tmp_path):
    """A TIMESTAMP(NANOS) events file loads as microsecond timestamps on
    both the inferring load and the memoized one, and neither leaves the
    nanos-as-long conf changed in the session."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from cse_datapipeline_and_mls_spark.sources import load_table

    ns = [1_700_000_000_123_456_789, 1_700_000_060_000_000_999]
    pq.write_table(
        pa.table(
            {"event_id": pa.array([1, 2], pa.int64()), "ts": pa.array(ns, pa.timestamp("ns"))}
        ),
        tmp_path / "events.parquet",
        version="2.6",
    )
    key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.unset(key)
    for _ in ("miss", "hit"):
        ev = load_table(spark, str(tmp_path), "events")
        assert dict(ev.dtypes)["ts"] == "timestamp"
        got = ev.select("event_id", F.unix_micros("ts").alias("us")).orderBy("event_id")
        assert [r["us"] for r in got.collect()] == [v // 1000 for v in ns]
        assert spark.conf.get(key, None) is None


def test_load_table_concurrent_inference_keeps_conf(spark, tmp_path):
    """Loads inferring different nanos files from more threads than cores
    all see the nanos conf during their inference, and the session conf
    is unset again once all have finished."""
    import sys
    import threading

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from cse_datapipeline_and_mls_spark.sources import load_table

    key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.unset(key)
    dirs = []
    for i in range(8):
        d = tmp_path / f"d{i}"
        d.mkdir()
        pq.write_table(
            pa.table({"ts": pa.array([1_000 * (i + 1) + 7], pa.timestamp("ns"))}),
            d / "events.parquet",
            version="2.6",
        )
        dirs.append(str(d))
    got, errors = {}, []

    def load(d):
        try:
            got[d] = load_table(spark, d, "events").select(F.unix_micros("ts")).first()[0]
        except Exception as e:  # reported by the assertion below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=load, args=(d,)) for d in dirs]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert got == {d: i + 1 for i, d in enumerate(dirs)}
    assert spark.conf.get(key, None) is None


def test_session_turns_off_dataframe_call_site_capture(spark):
    """The engine's session skips PySpark's per-call call-site capture;
    DataFrame errors still carry their error condition."""
    import pytest
    from pyspark.errors import ArithmeticException
    from pyspark.errors.utils import is_debugging_enabled
    from pyspark.sql import functions as F

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()
    with pytest.raises(ArithmeticException) as err:
        spark.range(1).select(F.lit(1) / F.lit(0)).collect()
    assert err.value.getCondition() == "DIVIDE_BY_ZERO"
