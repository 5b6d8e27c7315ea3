"""S7 + K2 as runnable wiring, closing the last two reference entry
points that SURVEY §2.1 scoped as "out of engine".

S7 — live HTTP JSON source (reference ml_impl.py:44-45 fetched a JSON
API from the driver at query time): the engine's stance is LAND THEN
SCAN — a tiny driver-side fetch lands the payload as a DataFrame, the
bronze dedup makes re-landing idempotent, and everything downstream is
a plain distributed scan. The fetch itself is inherently driver-side
and small (an API response, not a corpus); at 100 TB the equivalent is
a fleet of landers writing parquet, never a Spark job holding sockets.

K2 — WebSocket broadcast sink (reference scraper/main.py:92 pushed each
scrape to connected dashboards): expressed as a foreachBatch push sink.
foreachBatch hands the micro-batch DataFrame to a plain function; the
function serializes WITH Spark (to_json_records — NaN policy applied,
distributed) and only the final per-batch payload touches the driver,
which is exactly the cardinality a push channel needs. The socket
library is not in this container, so the transport is injectable; the
default transport just counts/prints, and tests inject a recorder.

Run (works offline — falls back to a canned payload when `requests` or
the network is absent):

    python examples/landed_http_ingest.py
"""

from __future__ import annotations

import json
import os
import sys
from typing import Callable, Iterable

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

from cse_datapipeline_and_mls_spark.schemas import sanitize_columns  # noqa: E402
from cse_datapipeline_and_mls_spark.serving import to_json_records  # noqa: E402
from cse_datapipeline_and_mls_spark.session import get_spark  # noqa: E402

# The record shape the reference's API returned (symbol quotes).
QUOTE_SCHEMA = T.StructType(
    [
        T.StructField("symbol", T.StringType()),
        T.StructField("price", T.DoubleType()),
        T.StructField("change_pct", T.DoubleType()),
        T.StructField("as_of", T.StringType()),
    ]
)

_CANNED = [
    {"symbol": "AAA", "price": 101.5, "change_pct": 0.7, "as_of": "2026-08-13T10:00:00"},
    {"symbol": "BBB", "price": 55.25, "change_pct": -1.2, "as_of": "2026-08-13T10:00:00"},
    {"symbol": "AAA", "price": 101.5, "change_pct": 0.7, "as_of": "2026-08-13T10:00:00"},
]


def fetch_json(url: str | None) -> list[dict]:
    """Driver-side fetch, gated: without `requests` (or a URL) return the
    canned payload so the example is runnable offline."""
    if url is None:
        return _CANNED
    try:
        import requests
    except ImportError:
        return _CANNED
    resp = requests.get(url, timeout=10)
    resp.raise_for_status()
    body = resp.json()
    return body if isinstance(body, list) else [body]


def land_http_json(
    spark: SparkSession,
    records: list[dict],
    schema: T.StructType = QUOTE_SCHEMA,
    dedup_keys: tuple[str, ...] = ("symbol", "as_of"),
) -> DataFrame:
    """S7: landed HTTP JSON → typed, sanitized, key-deduped DataFrame.

    The dedup mirrors bronze_ingest's idempotence contract for the batch
    case: re-landing the same API response is a no-op.
    """
    df = spark.createDataFrame(records, schema)
    return sanitize_columns(df).dropDuplicates(list(dedup_keys))


def push_sink(
    transport: Callable[[Iterable[str]], None] | None = None,
    nan_policy: str = "zero",
) -> Callable[[DataFrame, int], None]:
    """K2: build a foreachBatch function that pushes each micro-batch as
    JSON lines through an injectable transport (WebSocket fan-out in the
    reference; print/count here). Serialization happens distributed via
    to_json_records; only the final payload rows cross to the driver."""

    def _push(batch_df: DataFrame, epoch_id: int) -> None:
        payload = [r["json"] for r in to_json_records(batch_df, nan_policy).collect()]
        if transport is not None:
            transport(payload)
        else:
            print(f"epoch {epoch_id}: would push {len(payload)} records")

    return _push


def main() -> None:
    url = sys.argv[1] if len(sys.argv) > 1 else None
    spark = get_spark("landed-http")
    landed = land_http_json(spark, fetch_json(url))
    n = landed.count()
    print(f"landed {n} deduped records:")
    for r in landed.orderBy("symbol").collect():
        print("  ", json.dumps(r.asDict(), default=str))

    # Wire the push sink against the landed batch (foreachBatch's batch
    # contract is identical in streaming: df, epoch_id).
    seen: list[str] = []
    push_sink(transport=seen.extend)(landed, 0)
    print(f"pushed {len(seen)} records through the injected transport")
    assert n == 2 and len(seen) == 2


if __name__ == "__main__":
    main()
