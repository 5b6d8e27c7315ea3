"""Arbitrary-stateful streaming v2 — ``transformWithStateInPandas``.

The reference recomputes per-user distinct activity from the full
snapshot on every poll (spark_stream.py:134-142 pattern: whole-table
pandas pass per request). The Spark 4 replacement is the
``transformWithState`` family: typed, TTL-capable state primitives
(ValueState / MapState / ListState + timers) backed by the RocksDB
state store, so per-key state survives micro-batches and restarts and
is spillable — the shape that holds at 100 TB, where "recompute from
the snapshot" is not a plan.

Operator here: per-key running DISTINCT-COUNT (exact, via MapState —
one RocksDB entry per (key, member), never a serialized set that must
be rewritten wholesale like the ``applyInPandasWithState`` encoding
forces) plus a per-key event counter in ValueState. Emits one row per
input row with the running distinct count AS OF that row — the
incremental twin of ``size(collect_set() OVER (ROWS UNBOUNDED
PRECEDING))``, which is the batch oracle used by the parity test and
by the registered ``w_running_distinct`` query.

Why MapState matters at scale: ``applyInPandasWithState`` must decode +
re-encode the ENTIRE per-key state tuple every micro-batch, so a
growing set costs O(|set|) per batch. ``MapState.containsKey`` /
``updateValue`` touch only the probed member — O(changed) per batch —
and TTL (``ttlDurationMs``) ages out idle keys without a custom
timeout dance.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

try:  # the transformWithState wire protocol needs protobuf at runtime
    import google.protobuf  # noqa: F401

    HAS_PROTOBUF = True
except ImportError:  # pragma: no cover - absent in the build sandbox
    HAS_PROTOBUF = False

from pyspark.sql import DataFrame
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("event_type", StringType()),
        StructField("n_events", LongType()),
        StructField("n_distinct_types", LongType()),
    ]
)

# RocksDB is a hard requirement of the transformWithState family; the
# HDFS-backed default provider raises STATE_STORE_UNSUPPORTED_OPERATION.
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


class RunningDistinctProcessor(StatefulProcessor):
    """Exact running distinct-count of ``member_col`` per grouping key.

    State: MapState("seen", member → first-seen count placeholder) +
    ValueState("totals", (n_events, n_distinct)). TTL optional — idle
    keys evicted by RocksDB after ``ttl_ms`` without writes.
    """

    def __init__(self, ttl_ms: int | None = None) -> None:
        self._ttl_ms = ttl_ms

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._seen = handle.getMapState(
            "seen", "member string", "hits long", ttlDurationMs=self._ttl_ms
        )
        self._totals = handle.getValueState(
            "totals", "n_events long, n_distinct long", ttlDurationMs=self._ttl_ms
        )

    def handleInputRows(
        self, key, rows: Iterator[pd.DataFrame], timerValues
    ) -> Iterator[pd.DataFrame]:
        n_events, n_distinct = (
            self._totals.get() if self._totals.exists() else (0, 0)
        )
        for pdf in rows:
            pdf = pdf.sort_values(["ts", "event_id"], kind="stable")
            counts_events, counts_distinct = [], []
            for member in pdf["event_type"]:
                n_events += 1
                if self._seen.containsKey((member,)):
                    (hits,) = self._seen.getValue((member,))
                    self._seen.updateValue((member,), (hits + 1,))
                else:
                    self._seen.updateValue((member,), (1,))
                    n_distinct += 1
                counts_events.append(n_events)
                counts_distinct.append(n_distinct)
            out = pdf[["user_id", "event_id", "ts", "event_type"]].copy()
            out["n_events"] = counts_events
            out["n_distinct_types"] = counts_distinct
            yield out
        self._totals.update((n_events, n_distinct))

    def close(self) -> None:  # pragma: no cover - nothing to release
        pass


def running_distinct_types(
    stream: DataFrame, ttl_ms: int | None = None
) -> DataFrame:
    """Per-user running exact distinct event-type count over a stream.

    Batch twin (the oracle): ``size(collect_set(event_type) OVER
    (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED
    PRECEDING))`` — asserted equal in tests/test_streaming.py and
    registered batch-side as ``w_running_distinct``.

    Session side effect: this sets the session's
    ``spark.sql.streaming.stateStore.providerClass`` to RocksDB
    (``transformWithStateInPandas`` needs it) and leaves it set. The
    provider is read when the caller starts the query, after this
    function has returned, so it cannot be restored here. Every stateful
    streaming query started later in the same session with a NEW
    checkpoint (dropDuplicates, windowed aggregation,
    applyInPandasWithState) therefore keeps its state in RocksDB too; a
    query restarted from an existing checkpoint keeps the provider that
    checkpoint recorded. Batch queries do not read the setting. Set the
    conf back in the caller to keep later queries on the default
    provider.
    """
    if not HAS_PROTOBUF:
        raise ImportError(
            "transformWithStateInPandas speaks a protobuf wire protocol to "
            "the state server; install 'protobuf' (no extra Spark config "
            "needed). Without it the streaming query crashes at state-schema "
            "validation with an opaque XXKST error — fail fast here instead. "
            "The verified applyInPandasWithState twin "
            "(stateful.running_zscore_anomalies) and the batch twin "
            "(w_running_distinct query) have no such dependency."
        )
    spark = stream.sparkSession
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    if spark.conf.get(provider_key, "") != ROCKSDB_PROVIDER:
        spark.conf.set(provider_key, ROCKSDB_PROVIDER)
    return (
        stream.select("user_id", "event_id", "ts", "event_type")
        .groupBy("user_id")
        .transformWithStateInPandas(
            RunningDistinctProcessor(ttl_ms),
            outputStructType=OUTPUT_SCHEMA,
            outputMode="append",
            timeMode="none",
        )
    )
