"""Streaming operators run in batch mode (SURVEY §2.9 T1-T5 + absent list).

``window()``/``session_window()`` work identically in batch, so the
correctness gate runs them against gaps-and-islands / bucket-arithmetic
SQL oracles; :mod:`..streaming.pipeline` wires the same expressions into
actual readStream/writeStream queries with watermarks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table
from . import register, register_sql


@register(
    "t_tumbling_5min",
    oracle="""
    SELECT time_bucket(INTERVAL 5 MINUTE, ts) AS window_start,
           time_bucket(INTERVAL 5 MINUTE, ts) + INTERVAL 5 MINUTE AS window_end,
           event_type,
           count(*) AS n,
           round(sum(value), 4) AS total_value
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def t_tumbling_5min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window — the batch twin of the streaming
    aggregation (the reference's 300 s scrape cadence, scraper/main.py:99,
    becomes a 5-minute tumbling window)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "5 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


@register(
    "t_sliding_10min_5min",
    oracle="""
    WITH expanded AS (
      SELECT time_bucket(INTERVAL 5 MINUTE, ts) - k * INTERVAL 5 MINUTE AS window_start,
             value
      FROM events, (VALUES (0), (1)) offsets(k)
    )
    SELECT window_start,
           window_start + INTERVAL 10 MINUTE AS window_end,
           count(*) AS n,
           round(sum(value), 4) AS total_value
    FROM expanded
    GROUP BY 1, 2
    """,
)
def t_sliding_10min_5min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (10 min size / 5 min slide): each event lands in 2
    overlapping windows. The oracle expands each row into its 2 buckets
    explicitly — pinning Spark's window-assignment semantics."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "n",
            "total_value",
        )
    )


# Stays DataFrame-bodied: the read_path benchmark runs this row; with
# it and tpch_q1_pricing_summary as SQL text, read_path batch_p50_ms
# was 7% worse over 6 interleaved pairs (more than the parent's
# spread), though the row alone ran 0.80x in its own A/B.
@register(
    "t_session_window_30min",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), islands AS (
      SELECT user_id, ts, value,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events,
           round(sum(value), 4) AS session_value
    FROM islands
    GROUP BY user_id, sid
    """,
)
def t_session_window_30min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min gap) per user — Spark's native
    ``session_window`` (absent from the reference; SURVEY §2.9 absent
    list). Oracle rebuilds sessions via gaps-and-islands. At scale this is
    one shuffle on user_id; streaming state is bounded by the gap via
    watermark (see streaming.pipeline)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("session_value"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


@register(
    "t_threshold_alert",
    oracle="""
    WITH pct AS (
      SELECT event_id, user_id, ts,
             (value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id))
               / nullif(lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 0) * 100.0
               AS percentage_change
      FROM events
    )
    SELECT event_id, user_id, ts, round(percentage_change, 6) AS percentage_change
    FROM pct WHERE percentage_change > 5.0
    """,
)
def t_threshold_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3/P7: the stream alert predicate (percentageChange > 5, reference
    spark_stream.py:42-43) as a stateless filter after the per-key
    pct-change."""
    from ..operators import tswindow as TS

    ev = load_table(spark, sf_dir, "events")
    w = TS.series_window("user_id", ["ts", "event_id"])
    df = TS.with_diff_pct(ev, "value", w, pct_out="percentage_change")
    return (
        df.filter(F.col("percentage_change") > 5.0)
        .select(
            "event_id",
            "user_id",
            "ts",
            F.round("percentage_change", 6).alias("percentage_change"),
        )
    )


# T2: idempotent-ingest dedup, one logical snapshot per (key, day) with
# the day's arrival count (reference scraper/main.py:69-77 skips
# re-scrapes of the same calendar day).
register_sql(
    "t_ingest_dedup_daily",
    """
    SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
           min(event_id) AS first_event_id, count(*) AS n_events
    FROM {events} GROUP BY 1, 2
    """,
)


# Sequential-pattern funnel: did a 'buy' follow the user's first 'click'
# within 1 hour. The batch shape of the streaming interval join
# (`pipeline.interval_join`): a user_id equi-join with a time-band
# residual.
register_sql(
    "t_click_to_buy_conversion",
    """
    WITH clicks AS (
      SELECT user_id, min(ts) AS first_click
      FROM {events} WHERE event_type = 'click' GROUP BY user_id
    ), buys AS (
      SELECT user_id, ts FROM {events} WHERE event_type = 'buy'
    )
    SELECT c.user_id, c.first_click,
           CAST(coalesce(max(CASE WHEN b.ts > c.first_click
                              AND b.ts <= c.first_click + INTERVAL 1 HOUR
                         THEN 1 ELSE 0 END), 0) AS INT) AS converted_1h
    FROM clicks c LEFT JOIN buys b ON b.user_id = c.user_id
    GROUP BY c.user_id, c.first_click
    """,
)
