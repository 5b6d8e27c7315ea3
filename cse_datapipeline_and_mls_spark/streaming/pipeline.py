"""Structured Streaming pipelines (SURVEY §2.9 T1-T5 + the absent list).

The reference's ingest is an imperative 300-second sleep loop scraping into
a keyed document store with skip-if-today-exists dedup and a >5% change
alert (reference data-pipeline/scraper/main.py:62-99,
data-pipeline/main-pipeline/spark_stream.py:29-66). Here the same
semantics are one declarative streaming graph:

    readStream (file source)
      → sanitize/clean projection
      → withWatermark + dropDuplicates           (T2 idempotent ingest)
      → [branch] threshold alert filter          (T3)
      → [branch] windowed aggregates             (tumbling/sliding/session)
      → writeStream.trigger(processingTime=300s) (T1)
        .foreachBatch(bronze upsert)             (T4 — the op the reference
                                                  calls but never defined,
                                                  spark_stream.py:46)

Every transformation is the SAME DataFrame expression used by the batch
queries in queries/streaming_q.py — stream/batch parity is structural,
which is what makes the DuckDB oracle meaningful for streaming semantics.

Scale posture: file-source streaming shards by file; watermark bounds
dedup/session state (without it, state grows unboundedly at 100 TB/day);
`maxFilesPerTrigger` back-pressures bursty arrivals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..materialize import counted, materialize, query_scope

EVENTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def ingest_file_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType = EVENTS_STREAM_SCHEMA,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source ingest (S4's push listener re-expressed as a pull
    micro-batch source). Explicit schema — a streaming source can't
    afford inference."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def bronze_ingest(
    stream: DataFrame,
    watermark: str = "1 hour",
    dedup_keys: tuple[str, ...] = ("event_id",),
) -> DataFrame:
    """T2: idempotent ingest — watermarked dropDuplicates.

    The watermark bounds the dedup state store: events older than the
    watermark are final, their keys evicted. The reference's equivalent is
    the prefix-match skip in scraper/main.py:69-77."""
    return stream.withWatermark("ts", watermark).dropDuplicates(list(dedup_keys))


def content_dedup_stream(
    stream: DataFrame,
    text_col: str = "props",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming twin of X1 content dedup (and the stream-side
    complement of ``exact_dedup_incremental``): drop arriving rows whose
    normalized CONTENT fingerprint was already seen, with the watermark
    bounding the fingerprint state store exactly like ``bronze_ingest``
    bounds key state. The state entry is one 8-byte xxhash64 per
    surviving fingerprint inside the watermark horizon — O(1) per
    distinct content, never the text itself.

    Same fingerprint expression as the batch operators
    (operators/text.doc_fingerprint), so a corpus built by this stream
    agrees bit-for-bit with a batch re-dedup of the same files."""
    from ..operators.text import doc_fingerprint

    return (
        stream.withColumn("_fp", doc_fingerprint(text_col))
        .withWatermark(ts_col, watermark)
        .dropDuplicates(["_fp"])
        .drop("_fp")
    )


def threshold_alerts(stream: DataFrame, threshold: float = 5.0) -> DataFrame:
    """T3: stateless per-event alert (percentageChange > 5, reference
    spark_stream.py:42-43). On a raw value stream the pct-change needs
    the previous event per key, which in streaming is stateful — here the
    alert consumes a pre-computed change column (as the reference does:
    the scraped table carries percentageChange)."""
    return stream.filter(F.col("value") > threshold).select(
        "event_id", "ts", "user_id", "event_type", F.col("value").alias("alert_value")
    )


def windowed_aggregate(
    stream: DataFrame,
    size: str = "5 minutes",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Tumbling (slide=None) or sliding event-time aggregation with a
    late-data watermark — same expression as the batch twin
    (queries/streaming_q.py t_tumbling_5min / t_sliding_10min_5min)."""
    win = F.window("ts", size, slide) if slide else F.window("ts", size)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(win, "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def ohlc_aggregate(
    stream: DataFrame,
    key: str = "user_id",
    size: str = "6 hours",
    watermark: str = "1 day",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Streaming OHLC candles: tumbling event-time bars with open/close
    chosen by ``min_by``/``max_by`` over the (ts, tiebreak) struct order
    — the streaming-safe formulation of the batch
    ``tswindow.ohlc_bars`` (row_number windows don't exist in
    streaming; ordered arg-min/arg-max does, and it is MERGEABLE:
    partial states combine by keeping the earlier/later (ts, tiebreak)
    witness, which is exactly what a late-arriving tick inside the
    watermark needs). ``F.window`` aligns to the epoch, so bars land on
    the same boundaries as the batch twin's floor(epoch/secs) buckets —
    stream/batch parity is asserted in tests/test_streaming.py."""
    ord_ = F.struct(F.col("ts"), F.col(tiebreak_col))
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(key, F.window("ts", size))
        .agg(
            F.min_by(value_col, ord_).alias("open"),
            F.max(value_col).alias("high"),
            F.min(value_col).alias("low"),
            F.max_by(value_col, ord_).alias("close"),
            F.count(F.lit(1)).cast("long").alias("n_trades"),
        )
        .select(
            key,
            F.col("window.start").alias("bucket"),
            "open",
            "high",
            "low",
            "close",
            "n_trades",
        )
    )


def session_aggregate(
    stream: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Session windows per user (gap-based) — batch twin is
    t_session_window_30min. Watermark closes sessions once event time
    passes session_end + watermark."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("session_value"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    left_ts: str = "ts",
    right_ts: str = "ts_r",
    within: str = "15 minutes",
    watermark: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join within a time interval (SURVEY §2.9 absent
    list): right events within [left_ts, left_ts + within].

    Both sides are watermarked so the join state is bounded — Spark
    evicts buffered rows once event time passes the interval + watermark.
    At scale, state size ≈ keys × events-per-interval, independent of
    stream length. The identical expression joins two batch DataFrames
    (how the tests check it).

    ``how="left_outer"`` emits unmatched LEFT rows null-padded — but
    only once the watermark proves no matching right row can still
    arrive, which is why outer stream-stream joins REQUIRE the
    watermark + the time-bound join condition (Spark rejects them
    otherwise): the null verdict for a row is final exactly when its
    interval has fully expired from the right buffer. The canonical use
    is the "click with no purchase within N minutes" abandonment feed
    (tested for stream/batch parity in tests/test_streaming.py)."""
    if how not in ("inner", "left_outer"):
        raise ValueError(f"interval_join supports inner/left_outer, got {how!r}")
    # watermark FIRST, then build the condition from the watermarked
    # frames: a condition referencing the pre-watermark plans resolves
    # fine for inner joins, but the OUTER-join analyzer must see the
    # watermark on the very attributes the range condition uses — built
    # the old way it reports "not supported without a watermark"
    l = left.withWatermark(left_ts, watermark) if left.isStreaming else left
    r = right.withWatermark(right_ts, watermark) if right.isStreaming else right
    cond = (
        (l[key] == r[f"{key}_r"])
        & (r[right_ts] >= l[left_ts])
        & (r[right_ts] <= l[left_ts] + F.expr(f"INTERVAL {within}"))
    )
    return l.join(r, cond, how)


def enrich_stream(
    stream: DataFrame,
    dim: DataFrame,
    on: str = "user_id",
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join: decorate each streaming event with
    dimension attributes (SURVEY §2.9 absent list — the standard
    lookup-at-ingest pattern the reference does per-row against RTDB).

    The static side is re-planned per micro-batch, so a dim-table update
    between batches is picked up automatically; Spark broadcasts it when
    under the size threshold, which makes the enrichment stateless and
    shuffle-free on the stream side — at 100 TB/day of events the stream
    never repartitions for the lookup. No watermark needed: stream-static
    joins keep NO state (each micro-batch joins independently). For
    dims too big to broadcast, pre-bucket the dim on the key
    (sources/sinks.write_bucketed) so the per-batch join is co-located.
    """
    return stream.join(dim, on=on, how=how)


def dedup_against_history(
    stream: DataFrame,
    history: DataFrame,
    fingerprint_col: str = "fingerprint",
) -> DataFrame:
    """Incremental exact-dedup: drop streaming documents whose content
    fingerprint already exists in the historical corpus — the streaming
    face of X1 (batch `exact_dedup_by_content` handles the backfill).

    A stream-static LEFT ANTI join: stateless on the stream side, the
    history table re-plans per micro-batch so fingerprints appended by
    the batch pipeline between triggers take effect immediately.
    In-batch duplicates still need `bronze_ingest`'s watermarked
    dropDuplicates upstream; this operator handles the
    seen-it-last-month case, which no bounded watermark can. At 100 TB
    the history side is a bucketed fingerprint table
    (sources/sinks.write_bucketed on the fingerprint) so the per-batch
    anti join is co-located, never a broadcast of the whole corpus."""
    return stream.join(history, on=fingerprint_col, how="left_anti")


def run_to_memory_sink(
    df: DataFrame,
    query_name: str,
    output_mode: str = "append",
    trigger_seconds: int | None = None,
) -> "DataFrame":
    """Drive a streaming DataFrame to completion against the in-memory
    sink and return the materialized result (test/dev harness; production
    sinks go through foreachBatch). ``trigger_seconds`` maps T1's 300 s
    cadence; None = process-all-now."""
    writer = df.writeStream.outputMode(output_mode).format("memory").queryName(query_name)
    if trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    q = writer.start()
    q.processAllAvailable()
    q.stop()
    return df.sparkSession.sql(f"SELECT * FROM {query_name}")


def run_audited_to_memory_sink(
    df: DataFrame,
    query_name: str,
    output_mode: str = "append",
) -> tuple["DataFrame", dict]:
    """``run_to_memory_sink`` with the late-data policy made observable
    (VERDICT r5 #4): returns (result, audit) where audit carries

    * ``rows_dropped_by_watermark`` — total rows the stateful operators
      DROPPED for arriving behind the watermark, summed over every
      micro-batch's state-operator progress (the engine's own
      ``numRowsDroppedByWatermark`` counter — drops happen inside the
      state store, so no plan-side expression can count them);
    * ``observed`` — per-micro-batch ``observe()`` metric maps (e.g.
      from ``sources.ingest.observed``), so arrival counts and drop
      counts can be reconciled: arrived == emitted + dropped + in-state.

    The accounting goes through a ``StreamingQueryListener`` registered
    BEFORE ``start()`` — NOT ``recentProgress``, whose buffer is capped
    by ``spark.sql.streaming.numRecentProgressUpdates`` (default 100):
    any run past ~100 micro-batches would silently undercount drops.
    The listener sees every progress event exactly once; after stop()
    the (async) listener bus is drained until the query's final batchId
    has arrived, so the audit is exact regardless of batch count. A
    ``drained`` flag records whether that final event actually arrived
    within the 30 s drain window: ``drained=False`` marks the counts as
    a partial lower bound (slow listener bus), never silently exact."""
    import json as _json
    import time as _time

    from pyspark.sql.streaming import StreamingQueryListener

    class _ProgressCollector(StreamingQueryListener):
        def __init__(self) -> None:
            self.progress: list[dict] = []

        def onQueryStarted(self, event) -> None:  # noqa: D102
            pass

        def onQueryProgress(self, event) -> None:  # noqa: D102
            p = event.progress
            self.progress.append(_json.loads(p.json) if hasattr(p, "json") else dict(p))

        def onQueryIdle(self, event) -> None:  # noqa: D102
            pass

        def onQueryTerminated(self, event) -> None:  # noqa: D102
            pass

    spark = df.sparkSession
    collector = _ProgressCollector()
    spark.streams.addListener(collector)
    try:
        writer = df.writeStream.outputMode(output_mode).format("memory").queryName(query_name)
        q = writer.start()
        q.processAllAvailable()
        qid = str(q.id)
        last = q.lastProgress
        q.stop()
        # Listener delivery is asynchronous: wait for the final batch's
        # event before summing (bounded — the bus drains in well under
        # this on a local session; on timeout we sum what arrived).
        want = last.get("batchId") if last else None
        deadline = _time.monotonic() + 30.0
        drained = want is None
        while not drained and _time.monotonic() < deadline:
            if any(
                p.get("id") == qid and p.get("batchId") == want
                for p in collector.progress
            ):
                drained = True
                break
            _time.sleep(0.05)
    finally:
        spark.streams.removeListener(collector)
    dropped = 0
    observed_batches: list[dict] = []
    seen_batches: set[int] = set()
    for prog in collector.progress:
        if prog.get("id") != qid or prog.get("batchId") in seen_batches:
            continue
        seen_batches.add(prog.get("batchId"))
        for op in prog.get("stateOperators", []):
            dropped += int(op.get("numRowsDroppedByWatermark", 0))
        om = prog.get("observedMetrics", {})
        if om:
            observed_batches.append(om)
    result = spark.sql(f"SELECT * FROM {query_name}")
    return result, {
        "rows_dropped_by_watermark": dropped,
        "observed": observed_batches,
        # False = the final batch's progress event never arrived within
        # the drain window, so the counts above are a lower bound, not
        # an exact audit — callers can distinguish and retry/flag.
        "drained": drained,
    }


def expectations_on_stream(checks, parents=None, on_result=None):
    """Data-quality gate for streams: run a Deequ-style check suite
    (operators/expectations.py) on EVERY micro-batch via foreachBatch.

    Per epoch the row-level checks still fuse into one conditional-sum
    aggregate over just that micro-batch — the validation cost scales
    with batch size, never with stream history. ``on_result(epoch_id,
    rows)`` receives the tidy (check_name, kind, n_violations, passed)
    rows; wire it to a metrics sink, an alert channel, or (in tests) a
    list. Returns the foreachBatch callable:

        stream.writeStream.foreachBatch(expectations_on_stream(checks,
            on_result=sink)).start()
    """
    from ..operators.expectations import validate_expectations

    def _fb(batch_df: DataFrame, epoch_id: int) -> None:
        res = validate_expectations(batch_df, list(checks), parents)
        rows = [
            {**r.asDict(), "epoch_id": epoch_id} for r in res.collect()
        ]
        if on_result is not None:
            on_result(epoch_id, rows)

    return _fb


def sketch_rollup_stream(
    stream: DataFrame,
    rollup_path: str,
    keys: tuple[str, ...] = ("day", "event_type"),
    distinct_col: str = "user_id",
    value_col: str | None = "value",
    checkpoint_dir: str | None = None,
    trigger_seconds: int | None = None,
):
    """Incrementally maintain a mergeable sketch rollup table from a
    stream: each micro-batch is sketched ONCE (batch-sized work) and
    blob-merged into the persisted rollup (rollup-table-sized work —
    days × groups rows of kilobyte blobs). Raw events are never
    re-scanned; the rollup answers distinct-count / quantile questions
    for any key range at any time (operators/sketches.py docstrings).

    Exactly-once across restarts: foreachBatch can replay a batch after
    a crash, and KLL merge + n_rows addition are NOT idempotent, so a
    batch-id high-watermark rides alongside the table (`_last_batch`
    marker) — replayed batch ids are skipped, which together with the
    file-source offset log gives effective exactly-once. The table swap
    is stage-then-rename so readers never see a half-written rollup.

    Returns the started StreamingQuery.
    """
    import json as _json
    import os as _os

    from ..operators import sketches as SK

    key_list = list(keys)

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        marker = rollup_path.rstrip("/") + "._last_batch"
        if _os.path.exists(marker):
            with open(marker) as fh:
                if batch_id <= _json.load(fh)["batch_id"]:
                    return  # replayed batch — already folded in
        # finish any interrupted swap first: the merge below reads the
        # live table, so a crash that left the data only in '._stage'
        # would otherwise silently drop the accumulated rollup and
        # restart from this batch's delta (ADVICE r12 swap window)
        _recover_swap(rollup_path)
        prepared = batch_df
        if "day" in key_list and "day" not in batch_df.columns:
            prepared = prepared.withColumn("day", F.date_trunc("day", "ts"))
        delta = SK.sketch_rollup(
            prepared, key_list, distinct_col=distinct_col, value_col=value_col
        )
        if _os.path.exists(rollup_path):
            existing = spark.read.parquet(rollup_path)
            merged = SK.merge_rollup_tables(existing, delta, key_list)
        else:
            merged = delta
        _recoverable_swap(merged, rollup_path)
        with open(marker, "w") as fh:
            _json.dump({"batch_id": batch_id}, fh)

    writer = stream.writeStream.outputMode("append").foreachBatch(upsert)
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def inverted_index_stream(
    stream: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    checkpoint_dir: str | None = None,
    trigger_seconds: int | None = None,
):
    """Keep an on-disk inverted index current from a document stream:
    each micro-batch is tokenized/aggregated ONCE (batch-sized work)
    and tf-merged into the persisted postings (index-sized shuffle on
    (term, doc_id) — at production scale, partition the merge by term
    bucket so only touched buckets rewrite; here the whole index swaps
    staged, same contract as sketch_rollup_stream). Replay-safe via the
    same batch-id high-watermark. doc_stats ride alongside in
    ``<index>/doc_stats`` so BM25 can run against the live index."""
    import json as _json
    import os as _os

    from ..operators.search import build_inverted_index, merge_postings

    post_path = index_path.rstrip("/") + "/postings"
    stats_path = index_path.rstrip("/") + "/doc_stats"

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        marker = index_path.rstrip("/") + "/_last_batch"
        if _os.path.exists(marker):
            with open(marker) as fh:
                if batch_id <= _json.load(fh)["batch_id"]:
                    return
        # finish any interrupted swap first — the postings merge reads
        # the live index (ADVICE r12 swap window)
        _recover_swap(post_path)
        _recover_swap(stats_path)
        delta_post, delta_stats = build_inverted_index(
            batch_df, id_col=id_col, text_col=text_col
        )
        if _os.path.exists(post_path):
            post = merge_postings(spark.read.parquet(post_path), delta_post)
            stats = (
                spark.read.parquet(stats_path)
                .unionByName(delta_stats)
                .groupBy("doc_id")
                .agg(F.sum("doc_len").alias("doc_len"))
            )
        else:
            post, stats = delta_post, delta_stats
        for df, path in ((post, post_path), (stats, stats_path)):
            _recoverable_swap(df, path)
        _os.makedirs(index_path, exist_ok=True)
        with open(marker, "w") as fh:
            _json.dump({"batch_id": batch_id}, fh)

    writer = stream.writeStream.outputMode("append").foreachBatch(upsert)
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


# Erasure-store layout descriptor + per-table erasure keys. The bucket
# partition column is pmod(hash(<key> AS BIGINT), buckets) — Spark's
# Murmur3 hash, deterministic across sessions, so the ingest layout and
# every later DSAR batch agree on which partition a key lives in.
_ERASURE_LAYOUT_FILE = "_layout.json"
_ERASURE_BUCKET_COLS = {"orders": "o_bucket", "lineitem": "l_bucket", "events": "e_bucket"}
_ERASURE_HASH_KEYS = {"orders": "o_custkey", "lineitem": "l_orderkey", "events": "user_id"}
# recorded in _layout.json and validated by the DSAR sink: a store
# bucketed under a different hashing convention must fail loudly, never
# prune to the wrong partitions
_ERASURE_KEY_HASH_CAST = "bigint"


def _erasure_bucket_expr(key: str, buckets: int):
    """Bucket id for an erasure key: pmod(Murmur3, buckets) over the key
    CAST TO BIGINT. Spark's hash() is type-sensitive — hash(int 5) !=
    hash(bigint 5) — and the DSAR sink prunes with long-typed victim
    keys, so an ingest layout hashed on a narrower caller type would
    make pruning miss every victim partition while the residual audit
    stays green: rows silently survive erasure (ADVICE r13). Both the
    ingest side and both pruning sites go through this one expression."""
    return F.pmod(F.hash(F.col(key).cast("long")), F.lit(buckets))


def prepare_erasure_store(
    orders: DataFrame,
    lineitem: DataFrame,
    events: DataFrame,
    store_path: str,
    buckets: int = 16,
) -> None:
    """Write the erasure store in the partition-scoped layout the
    streaming DSAR sink prunes on: each table hive-partitioned by an
    erasure-bucket column — pmod(hash(erasure key), buckets) — so a
    DSAR batch touches |victim buckets| partitions, not the store.
    orders buckets on o_custkey (the victim key), events on user_id
    (same key domain), lineitem on l_orderkey (cascaded from the
    victims' orders). At 100 TB pick buckets so one bucket ≈ a few GB;
    the per-batch rewrite cost is then |touched buckets| regardless of
    store size."""
    import json as _json
    import os as _os

    root = store_path.rstrip("/")
    _os.makedirs(root, exist_ok=True)

    def _write(item) -> None:
        name, df = item
        bcol, key = _ERASURE_BUCKET_COLS[name], _ERASURE_HASH_KEYS[name]
        # cluster by bucket BEFORE the partitioned write: without it every
        # input task writes a file into every bucket dir (tasks × buckets
        # small files); clustered, each bucket is one file — the layout a
        # pruned read wants. At 100 TB size buckets to a few GB and let
        # maxRecordsPerFile split within a bucket.
        df.sparkSession.sparkContext.setJobDescription(
            f"prepare_erasure_store: {name}"
        )
        bucketed = df.withColumn(bcol, _erasure_bucket_expr(key, buckets))
        bucketed.repartition(buckets, F.col(bcol)).write.mode(
            "overwrite"
        ).partitionBy(bcol).parquet(f"{root}/{name}")

    # The three table ingests are independent jobs writing disjoint
    # directories; run them from a small driver pool (guide §2.6) so
    # each write's tail (a `buckets`-task stage that leaves most cores
    # idle) back-fills with the next table's tasks. Job descriptions
    # are thread-local in PySpark's pinned-thread mode (the default), so
    # each stays labelled. Measured at sf0.1/16
    # buckets: the build phase of x_erasure_store_dsar_batch overlaps
    # 3 sequential 16-task writes on 32 cores.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as pool:
        list(
            pool.map(
                _write,
                (("orders", orders), ("lineitem", lineitem), ("events", events)),
            )
        )
    with open(f"{root}/{_ERASURE_LAYOUT_FILE}", "w") as fh:
        _json.dump(
            {
                "buckets": buckets,
                "bucket_cols": _ERASURE_BUCKET_COLS,
                "key_hash_cast": _ERASURE_KEY_HASH_CAST,
            },
            fh,
        )


def _recover_swap(path: str) -> None:
    """Finish (or clean up after) an interrupted recoverable swap on
    ``path`` (ADVICE r12): the swap protocol is stage-write → rename
    live → '._old' → move stage into place → delete old, so at every
    crash point either the live dir or a COMPLETE stage exists. Called
    before reading a swap-managed table."""
    import os as _os
    import shutil as _shutil

    stage, old = path + "._stage", path + "._old"
    if not _os.path.exists(path):
        if _os.path.exists(stage):
            # the live dir is only renamed away AFTER the stage write
            # returned, so an orphaned stage is complete — promote it
            _shutil.move(stage, path)
        elif _os.path.exists(old):
            # unreachable under the protocol, but restoring the old
            # live dir is always safe (the cascade replays idempotently)
            _shutil.move(old, path)
    if _os.path.exists(path):
        for leftover in (old, stage):
            if _os.path.exists(leftover):
                _shutil.rmtree(leftover)


def _recoverable_swap(df: DataFrame, path: str) -> int:
    """Atomically-recoverable replace of the parquet dir at ``path``
    with ``df`` (ADVICE r12 — the old rmtree-then-move left a window
    where the table existed nowhere). Returns the row count written,
    harvested from an ``observe()`` on the stage write itself — no
    second scan of the staged table (VERDICT r13: the re-read was a
    full extra pass of every table per DSAR batch on the legacy
    whole-store path)."""
    import os as _os
    import shutil as _shutil

    from pyspark.sql import Observation

    stage, old = path + "._stage", path + "._old"
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode("overwrite").parquet(stage)
    n = int(obs.get["n"])
    if _os.path.exists(path):
        _os.rename(path, old)
    _shutil.move(stage, path)
    if _os.path.exists(old):
        _shutil.rmtree(old)
    return n


def _backup_touched_partitions(path: str, bucket_col: str, touched: list[int]) -> None:
    """Snapshot the touched partition dirs of ``path`` into
    ``<path>._bak`` BEFORE a dynamic partition overwrite: the overwrite
    commits by deleting each old partition dir then moving staged files,
    so a crash inside commitJob can permanently lose a touched bucket's
    surviving (non-victim) rows (ADVICE r13 — the partition-scoped
    sibling of the legacy swap window). The snapshot is hardlinks where
    the filesystem allows (O(files), never O(bytes) — the scale contract
    stays |touched buckets|), built under a ``._bak.tmp`` name and
    RENAMED into place, so an existing ``._bak`` is always complete; its
    manifest records the touched buckets so recovery can also discard
    partial output for a touched bucket that had no pre-existing dir."""
    import json as _json
    import os as _os
    import shutil as _shutil

    def _ln(src: str, dst: str) -> None:
        try:
            _os.link(src, dst)
        except OSError:  # cross-device or FS without hardlinks
            _shutil.copy2(src, dst)

    tmp, bak = path + "._bak.tmp", path + "._bak"
    for leftover in (tmp, bak):
        if _os.path.exists(leftover):
            _shutil.rmtree(leftover)
    _os.makedirs(tmp)
    for b in touched:
        src = f"{path}/{bucket_col}={b}"
        if _os.path.isdir(src):
            _shutil.copytree(src, f"{tmp}/{bucket_col}={b}", copy_function=_ln)
    with open(f"{tmp}/_manifest.json", "w") as fh:
        _json.dump({"bucket_col": bucket_col, "touched": list(touched)}, fh)
    _os.rename(tmp, bak)


def _recover_partition_rewrite(path: str) -> None:
    """Roll back an interrupted partition-scoped rewrite on ``path``
    (the partition analog of ``_recover_swap``): a complete ``._bak``
    means the previous batch crashed between backup and cleanup —
    restore every touched bucket to its pre-batch bytes and clear the
    backup; the cascade then replays idempotently to the converged
    store. A ``._bak.tmp`` means the crash happened while SNAPSHOTTING,
    before any live byte moved — discard it. Called before the DSAR
    batch reads any partition-scoped table."""
    import json as _json
    import os as _os
    import shutil as _shutil

    tmp, bak = path + "._bak.tmp", path + "._bak"
    if _os.path.exists(tmp):
        _shutil.rmtree(tmp)
    if not _os.path.exists(bak):
        return
    with open(f"{bak}/_manifest.json") as fh:
        manifest = _json.load(fh)
    bcol = manifest["bucket_col"]
    for b in manifest["touched"]:
        live = f"{path}/{bcol}={b}"
        if _os.path.exists(live):
            _shutil.rmtree(live)
        saved = f"{bak}/{bcol}={b}"
        if _os.path.exists(saved):
            _shutil.move(saved, live)
    _shutil.rmtree(bak)


@query_scope()
def _rewrite_touched_partitions(
    kept: DataFrame, path: str, bucket_col: str, touched: list[int]
) -> int:
    """Dynamic-partition-overwrite the TOUCHED buckets of the table at
    ``path`` with the surviving rows; untouched partitions are never
    read or written (byte-identical, asserted in tests). A touched
    bucket whose rows were ALL erased produces no output partition —
    dynamic overwrite would silently leave it behind, so those
    directories are removed explicitly. The touched dirs are snapshotted
    to ``._bak`` first and the snapshot dropped only after the commit +
    cleanup succeed, so a crash anywhere inside the overwrite is rolled
    back by ``_recover_partition_rewrite`` on replay (ADVICE r13).
    Returns surviving-row count."""
    import os as _os
    import shutil as _shutil

    if not touched:
        return 0
    # materialize before overwriting a path the plan reads from
    kept, n = counted(kept)
    _backup_touched_partitions(path, bucket_col, touched)
    # dynamic overwrite as a PER-WRITE option, not a session-conf flip
    # (r15): the conf set/restore pattern is not thread-safe, and the
    # DSAR batch now overlaps the independent leaf-table rewrites from a
    # driver pool (guide §2.6) — a sibling thread restoring "static"
    # mid-write would wipe untouched partitions. The writer option takes
    # precedence over the session conf and is scoped to this write.
    # cluster by bucket so each rewritten partition is one file (same
    # stance as prepare_erasure_store's ingest write)
    kept.repartition(max(len(touched), 1), F.col(bucket_col)).write.mode(
        "overwrite"
    ).option("partitionOverwriteMode", "dynamic").partitionBy(bucket_col).parquet(path)
    kept_buckets = {r[0] for r in kept.select(bucket_col).distinct().collect()}
    for b in set(touched) - kept_buckets:
        d = f"{path}/{bucket_col}={b}"
        if _os.path.isdir(d):
            _shutil.rmtree(d)
    _shutil.rmtree(path + "._bak")
    return n


def erasure_cascade_stream(
    stream: DataFrame,
    store_path: str,
    checkpoint_dir: str | None = None,
    trigger_seconds: int | None = None,
):
    """Streaming right-to-be-forgotten replay (the foreachBatch twin of
    x_erasure_cascade_audit, VERDICT r11 #7): a DSAR queue of victim
    customer ids arrives as a stream; each micro-batch propagates the
    batch through the foreign-key chain customer → orders → lineitem
    (plus the behavioral log keyed on the user id) against the
    PERSISTED tables under ``store_path`` (``orders/``, ``lineitem/``,
    ``events/``), rewrites the survivors, and appends one audit row per
    batch to ``audit/`` recording per-table erased counts and the
    kept + erased == total residual invariant (totals are the audited
    SCOPE: whole tables on the legacy layout, touched partitions on the
    partition-scoped layout below).

    Rewrite strategy — two layouts:

    * **Partition-scoped** (``prepare_erasure_store`` wrote a
      ``_layout.json``): every table is hive-partitioned by
      pmod(hash(erasure key), buckets). The batch prunes each table to
      the victim keys' buckets (lineitem via the victims' order keys,
      themselves read from the pruned orders partitions), anti-joins
      survivors, and rewrites ONLY the touched partitions via dynamic
      partition overwrite — untouched partitions are never read or
      written, so a DSAR batch against a 100 TB store costs |touched
      buckets|, the same contract as sinks.merge_upsert_parquet. The
      bucket-value collects are bounded by the bucket count, never the
      data.
    * **Legacy whole-store** (no layout file): staged rewrite with a
      RECOVERABLE swap (stage-write → live→'._old' → stage→live →
      delete old). At every crash point either the live dir or a
      complete stage exists; ``_recover_swap`` finishes an interrupted
      swap before the replay reads the table — the rmtree-then-move of
      r12 had a window where the table existed nowhere and the replay
      wedged permanently (ADVICE r12).

    Replay safety: the marker stores (batch_id, victim fingerprint),
    and a batch is skipped only when BOTH match — unlike the sibling
    sinks' plain id-watermark, because a checkpoint reset restarts
    batch ids at 0 and a bare id check would silently drop NEW victims
    bundled into the re-delivered batch (compliance loss). The cascade
    is idempotent (anti-joining absent keys removes 0 rows), so the
    safe default on any mismatch is reprocess, never skip; a
    crash-replayed batch's audit row then records only the RESIDUAL
    work (0s if the crash happened after all rewrites). Tables rewrite
    leaf-first (lineitem, events, then orders) so a crash between
    rewrites always replays to the converged store — the lineitem
    cascade is keyed off the orders table, which survives until last.

    NULL victim ids are dropped up front: a NULL carries no identity —
    it matches no rows in any cascade join and would crash the
    fingerprint sort (ADVICE r12) — the same stance as
    connected_components' null-endpoint filter.

    ``stream`` schema: one column ``c_custkey`` (long).
    """

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        apply_erasure_batch(batch_df, batch_id, store_path)

    writer = stream.writeStream.outputMode("append").foreachBatch(upsert)
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


@query_scope()
def apply_erasure_batch(batch_df: DataFrame, batch_id: int, store_path: str) -> None:
    """One DSAR batch of ``erasure_cascade_stream``, callable in batch
    mode: the foreachBatch body extracted to module level (VERDICT r13
    #7) so the partition-scoped erasure path can run under the DuckDB
    oracle sweep (queries/curation_q.x_erasure_store_dsar_batch), not
    pytest alone. Semantics, replay protocol, and crash recovery are
    documented on ``erasure_cascade_stream`` — this IS that function's
    per-batch body."""
    import hashlib as _hashlib
    import json as _json
    import os as _os

    paths = {t: store_path.rstrip("/") + f"/{t}" for t in ("orders", "lineitem", "events")}
    audit_path = store_path.rstrip("/") + "/audit"
    layout_path = store_path.rstrip("/") + "/" + _ERASURE_LAYOUT_FILE

    spark = batch_df.sparkSession
    marker = store_path.rstrip("/") + "/_last_batch"
    victims, n_victims = counted(
        batch_df.select("c_custkey").filter(F.col("c_custkey").isNotNull()).distinct()
    )
    # Content fingerprint of the victim batch (bounded: a DSAR batch
    # is driver-collectable by definition here). The skip requires
    # BOTH the batch id AND the fingerprint to match the applied
    # marker: a plain id-watermark would silently drop NEW victims
    # after a checkpoint reset, where Spark restarts ids at 0 and
    # re-delivers all source files as one batch (code-review r12).
    # Re-processing an already-applied victim set is safe — the
    # cascade is idempotent — so when in doubt we reprocess, never
    # skip.
    if n_victims == 0:
        # an empty (or all-NULL) DSAR batch erases nothing; skip
        # before touching the store at all
        return
    fp = _hashlib.sha256(
        ",".join(str(r["c_custkey"]) for r in sorted(victims.collect())).encode()
    ).hexdigest()
    if _os.path.exists(marker):
        with open(marker) as fh:
            last = _json.load(fh)
        if batch_id <= last["batch_id"] and fp == last.get("fp"):
            return

    partitioned = _os.path.exists(layout_path)
    if partitioned:
        with open(layout_path) as fh:
            layout = _json.load(fh)
        # fail LOUDLY on a layout whose bucketing convention this
        # sink does not share: pruning against mismatched hashes
        # misses every victim partition while the residual audit
        # stays green — a silent compliance failure (ADVICE r13)
        if layout.get("key_hash_cast") != _ERASURE_KEY_HASH_CAST:
            raise ValueError(
                f"erasure store at {store_path} was bucketed with "
                f"key_hash_cast={layout.get('key_hash_cast')!r}, this sink "
                f"prunes with {_ERASURE_KEY_HASH_CAST!r} — re-run "
                "prepare_erasure_store; pruning a mismatched layout would "
                "silently skip victim partitions"
            )
        buckets = int(layout["buckets"])
        ob, lb, eb = (
            _ERASURE_BUCKET_COLS["orders"],
            _ERASURE_BUCKET_COLS["lineitem"],
            _ERASURE_BUCKET_COLS["events"],
        )
        # roll back any rewrite a previous batch left half-committed
        # BEFORE reading (the partition-scoped analog of
        # _recover_swap on the legacy path, ADVICE r13)
        for t in paths.values():
            _recover_partition_rewrite(t)
        # victim buckets, hashed IN SPARK via the same expression as
        # the ingest layout so they match bit-for-bit; the collect is
        # bounded by the bucket count. orders and events share the
        # victim key domain (o_custkey / user_id are both the
        # customer id).
        v_bkts = [
            r["b"]
            for r in victims.select(
                _erasure_bucket_expr("c_custkey", buckets).alias("b")
            )
            .distinct()
            .collect()
        ]
        orders = spark.read.parquet(paths["orders"]).filter(F.col(ob).isin(v_bkts))
        ev = spark.read.parquet(paths["events"]).filter(F.col(eb).isin(v_bkts))
        vo = materialize(
            orders.join(victims, orders["o_custkey"] == victims["c_custkey"], "left_semi")
        )
        l_bkts = [
            r["b"]
            for r in vo.select(
                _erasure_bucket_expr("o_orderkey", buckets).alias("b")
            )
            .distinct()
            .collect()
        ]
        li = spark.read.parquet(paths["lineitem"]).filter(F.col(lb).isin(l_bkts))
    else:
        # finish any interrupted swap BEFORE reading (ADVICE r12:
        # a crash mid-swap must wedge nothing)
        for t in paths.values():
            _recover_swap(t)
        orders = spark.read.parquet(paths["orders"])
        li = spark.read.parquet(paths["lineitem"])
        ev = spark.read.parquet(paths["events"])
        vo = materialize(
            orders.join(victims, orders["o_custkey"] == victims["c_custkey"], "left_semi")
        )

    from concurrent.futures import ThreadPoolExecutor

    # audited scope: whole tables (legacy) / touched partitions only.
    # The five pre-rewrite audit counts (three totals + two erased-side
    # semi-join counts; vo's count is just reading back an already
    # checkpointed frame) are independent jobs over disjoint reads —
    # overlap them from a driver pool (guide §2.6, r15) so each count's
    # few-task tail back-fills with the next count's tasks instead of
    # leaving 32 cores idle. All of them read PRE-rewrite bytes, so they
    # must (and do) complete before any rewrite below starts.
    o_kept = orders.join(
        victims, orders["o_custkey"] == victims["c_custkey"], "left_anti"
    )
    l_kept = li.join(vo, li["l_orderkey"] == vo["o_orderkey"], "left_anti")
    e_kept = ev.join(
        victims, ev["user_id"] == victims["c_custkey"], "left_anti"
    )
    # Erased counts measured INDEPENDENTLY (semi-join side), never
    # derived as total - kept: a derived count makes the residual
    # boolean a tautology that can never fire (code-review r12).
    _count_jobs = {
        "t_orders": orders,
        "t_lineitem": li,
        "t_events": ev,
        "e_orders": vo,
        "e_lineitem": li.join(vo, li["l_orderkey"] == vo["o_orderkey"], "left_semi"),
        "e_events": ev.join(
            victims, ev["user_id"] == victims["c_custkey"], "left_semi"
        ),
    }

    def _count(item):
        name, df = item
        df.sparkSession.sparkContext.setJobDescription(f"erasure dsar count: {name}")
        return name, df.count()

    with ThreadPoolExecutor(max_workers=3) as pool:
        _counts = dict(pool.map(_count, _count_jobs.items()))
    totals = {t: _counts[f"t_{t}"] for t in ("orders", "lineitem", "events")}
    erased = {t: _counts[f"e_{t}"] for t in ("orders", "lineitem", "events")}

    # Rewrite LEAF tables first, the root (orders) LAST: the
    # lineitem cascade key set is recomputed from the orders table
    # on a crash replay, so if orders rewrote before lineitem and
    # the marker was never written, the replay would find the
    # victims' orders already gone and orphan their lineitems
    # forever (code-review r12). Leaf-first, any crash point
    # replays to a converged store.
    # ...within that contract, lineitem and events are BOTH leaves and
    # their rewrites touch disjoint paths: overlap them (guide §2.6,
    # r15 — the same driver-pool pattern as prepare_erasure_store, which
    # is what VERDICT r14 #4 prescribed; events is independent of the
    # orders→lineitem cascade). orders still rewrites strictly last.
    # Job descriptions are thread-local in PySpark's pinned-thread mode
    # (the default), so each rewrite stays labelled.
    kept = {}
    if partitioned:

        def _rw(args):
            t, df, bcol, touched = args
            df.sparkSession.sparkContext.setJobDescription(
                f"erasure dsar rewrite: {t}"
            )
            return t, _rewrite_touched_partitions(df, paths[t], bcol, touched)

        with ThreadPoolExecutor(max_workers=2) as pool:
            kept.update(
                pool.map(
                    _rw,
                    (
                        ("lineitem", l_kept, lb, l_bkts),
                        ("events", e_kept, eb, v_bkts),
                    ),
                )
            )
        kept.update([_rw(("orders", o_kept, ob, v_bkts))])
    else:

        def _swap(args):
            t, df = args
            df.sparkSession.sparkContext.setJobDescription(
                f"erasure dsar swap: {t}"
            )
            return t, _recoverable_swap(df, paths[t])

        with ThreadPoolExecutor(max_workers=2) as pool:
            kept.update(
                pool.map(_swap, (("lineitem", l_kept), ("events", e_kept)))
            )
        kept.update([_swap(("orders", o_kept))])

    residual_ok = all(kept[t] + erased[t] == totals[t] for t in totals)
    spark.createDataFrame(
        [(
            int(batch_id),
            n_victims,
            erased["orders"],
            erased["lineitem"],
            erased["events"],
            residual_ok,
        )],
        "batch_id long, n_victims long, n_orders_erased long, "
        "n_lineitems_erased long, n_events_erased long, residual_consistent boolean",
    ).write.mode("append").parquet(audit_path)
    with open(marker, "w") as fh:
        _json.dump({"batch_id": batch_id, "fp": fp}, fh)



def erasure_audit_alerts(
    audit_stream: DataFrame,
    max_victims_per_batch: int = 1000,
    max_erased_per_batch: int = 100_000,
) -> DataFrame:
    """Compliance monitor over the erasure sink's audit stream (the
    governance loop's alerting half, VERDICT r12 optional): one alert
    row per suspicious audit record, flagging (a) a broken residual
    invariant — kept + erased != total means the store and the cascade
    disagree and the pipeline must page a human, (b) a DSAR batch
    erasing more victims or rows than the configured compliance bound
    (bulk-delete mistakes look exactly like oversized DSAR batches),
    and (c) a silent cascade leg, in every direction (ADVICE r13): a
    batch that erased orders but no lineitems (``lineitem_leg_silent``),
    orders but no events (``events_leg_silent``), or child/log rows with
    ZERO orders (``orders_leg_silent`` — the reverse case: the root leg
    matched nothing while a dependent leg did, which should be
    impossible when lineitems cascade FROM the victims' orders). Each
    leg-silent flag can false-positive on a victim whose orders
    genuinely have no lineitems or who never emitted events — that is
    intended monitor behavior: the flags are advisory review queues for
    schema drift on a join key, not automated verdicts, and a reviewer
    dismisses the benign case in seconds while the drift case would
    otherwise stay green forever. Stateless (T3-class): every flag is a
    predicate over one audit row, so the monitor runs identically as a
    stream over ``<store>/audit`` or as a batch query over the same
    files — the stream/batch parity stance of the rest of the module.
    """
    total_erased = (
        F.col("n_orders_erased") + F.col("n_lineitems_erased") + F.col("n_events_erased")
    )
    victims_present = F.col("n_victims") > 0
    reasons = F.array_compact(
        F.array(
            F.when(~F.col("residual_consistent"), F.lit("residual_broken")),
            F.when(
                F.col("n_victims") > max_victims_per_batch, F.lit("victim_volume")
            ),
            F.when(total_erased > max_erased_per_batch, F.lit("erased_volume")),
            F.when(
                victims_present
                & (F.col("n_orders_erased") > 0)
                & (F.col("n_lineitems_erased") == 0),
                F.lit("lineitem_leg_silent"),
            ),
            F.when(
                victims_present
                & (F.col("n_orders_erased") > 0)
                & (F.col("n_events_erased") == 0),
                F.lit("events_leg_silent"),
            ),
            F.when(
                victims_present
                & (F.col("n_orders_erased") == 0)
                & (
                    (F.col("n_lineitems_erased") > 0)
                    | (F.col("n_events_erased") > 0)
                ),
                F.lit("orders_leg_silent"),
            ),
        )
    )
    return (
        audit_stream.withColumn("alert_reasons", reasons)
        .filter(F.size("alert_reasons") > 0)
        .select(
            "batch_id",
            "n_victims",
            total_erased.alias("n_total_erased"),
            "residual_consistent",
            "alert_reasons",
        )
    )
