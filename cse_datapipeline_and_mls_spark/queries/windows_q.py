"""Window-function queries (SURVEY §2.5 W1-W13) with DuckDB oracles.

The driver's ``events`` table plays the reference's per-symbol price series
(user_id ↔ symbol, ts ↔ date, value ↔ price; FIXTURES.md §5 mapping).

Every window orders by (ts, event_id) — event_id is unique, so lag/rank
results are deterministic across engines even if ts ever ties.

Physical plan: all features in a query share one (partitionBy, orderBy)
spec → Catalyst plans a single Exchange(hashpartition(user_id)) + Sort and
evaluates every window expression in one WindowExec pass. That is the
100 TB posture: one shuffle for the whole feature block, state bounded by
the largest frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..materialize import materialize
from ..operators import tswindow as TS
from ..sources import load_table
from . import register, register_sql

_W_ORACLE = "PARTITION BY user_id ORDER BY ts, event_id"


def _events_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


@register(
    "w_lag_lead_momentum",
    oracle=f"""
    SELECT event_id, user_id, ts,
           round(value, 6)                                    AS value,
           round(lag(value, 1)  OVER ({_W_ORACLE}), 6)        AS value_lag_1,
           round(lag(value, 3)  OVER ({_W_ORACLE}), 6)        AS value_lag_3,
           round(lag(value, 7)  OVER ({_W_ORACLE}), 6)        AS value_lag_7,
           round(lead(value, 1) OVER ({_W_ORACLE}), 6)        AS value_lead_1,
           round(value - lag(value, 3) OVER ({_W_ORACLE}), 6) AS momentum_3
    FROM events
    """,
)
def w_lag_lead_momentum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/W2/W7: lags 1/3/7, next-step lead, momentum (reference
    regression.py:81-88, classifier.py:23,:29-34)."""
    ev = _events_series(spark, sf_dir)
    w = TS.series_window("user_id", ["ts", "event_id"])
    df = TS.with_lags(ev, "value", [1, 3, 7], w)
    df = TS.with_lead(df, "value", "value_lead_1", w)
    df = TS.with_momentum(df, "value", w, 3, "momentum_3")
    return df.select(
        "event_id",
        "user_id",
        "ts",
        F.round("value", 6).alias("value"),
        F.round("value_lag_1", 6).alias("value_lag_1"),
        F.round("value_lag_3", 6).alias("value_lag_3"),
        F.round("value_lag_7", 6).alias("value_lag_7"),
        F.round("value_lead_1", 6).alias("value_lead_1"),
        F.round("momentum_3", 6).alias("momentum_3"),
    )


@register(
    "w_rolling_mean_std",
    oracle=f"""
    SELECT event_id, user_id, ts,
           round(avg(value) OVER ({_W_ORACLE} ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING), 6)  AS ma5_excl,
           round(avg(value) OVER ({_W_ORACLE} ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6)  AS ma5_incl,
           round(stddev_samp(value) OVER ({_W_ORACLE} ROWS BETWEEN 14 PRECEDING AND 1 PRECEDING), 6) AS vol14,
           CASE WHEN count(value) OVER ({_W_ORACLE} ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) >= 5
                THEN round(avg(value) OVER ({_W_ORACLE} ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6)
                ELSE 0.0 END AS trend5
    FROM events
    """,
)
def w_rolling_mean_std(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3/W4/W5/W12 with both frame conventions side by side:
    trailing-exclusive ma5 (regression.py:76), inclusive ma5, sample-stddev
    vol14 (regression.py:78), and the pandas rolling(5)+min_periods+fillna(0)
    trend (spark_stream.py:145-147)."""
    ev = _events_series(spark, sf_dir)
    w = TS.series_window("user_id", ["ts", "event_id"])
    df = TS.rolling_mean(ev, "value", "ma5_excl", w, 5, inclusive=False)
    df = TS.rolling_mean(df, "value", "ma5_incl", w, 5, inclusive=True)
    df = TS.rolling_std(df, "value", "vol14", w, 14, inclusive=False)
    df = TS.rolling_mean(df, "value", "trend5_raw", w, 5, inclusive=True, min_periods=5)
    df = df.withColumn("trend5", F.coalesce(F.col("trend5_raw"), F.lit(0.0)))
    return df.select(
        "event_id",
        "user_id",
        "ts",
        F.round("ma5_excl", 6).alias("ma5_excl"),
        F.round("ma5_incl", 6).alias("ma5_incl"),
        F.round("vol14", 6).alias("vol14"),
        F.round("trend5", 6).alias("trend5"),
    )


@register(
    "w_pct_change_zscore_anomaly",
    oracle=f"""
    WITH diffed AS (
      SELECT event_id, user_id, ts, value,
             value - lag(value, 1) OVER ({_W_ORACLE}) AS diff,
             (value - lag(value, 1) OVER ({_W_ORACLE}))
               / nullif(lag(value, 1) OVER ({_W_ORACLE}), 0) * 100.0 AS pct_change
      FROM events
    )
    SELECT event_id, user_id, ts,
           round(diff, 6)       AS diff,
           round(pct_change, 6) AS pct_change,
           round((pct_change - avg(pct_change) OVER (PARTITION BY user_id))
                 / nullif(stddev_pop(pct_change) OVER (PARTITION BY user_id), 0), 6) AS zscore,
           CASE WHEN abs(coalesce(
                  (pct_change - avg(pct_change) OVER (PARTITION BY user_id))
                  / nullif(stddev_pop(pct_change) OVER (PARTITION BY user_id), 0), 0)) > 3
                THEN 'Anomaly' ELSE 'Normal' END AS anomaly
    FROM diffed
    """,
)
def w_pct_change_zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W11 + A7 + W13 — the reference's analyzed-data endpoint
    (spark_stream.py:131-142): per-key diff & pct-change, POPULATION
    z-score over the key's history, |z|>3 anomaly flag. Partitioned by
    key (the reference's global diff is a documented quirk, SURVEY §7 #6)."""
    ev = _events_series(spark, sf_dir)
    w = TS.series_window("user_id", ["ts", "event_id"])
    df = TS.with_diff_pct(ev, "value", w)
    df = TS.with_anomaly_flag(df, "pct_change", TS.series_window("user_id", ["ts", "event_id"]))
    return df.select(
        "event_id",
        "user_id",
        "ts",
        F.round("diff", 6).alias("diff"),
        F.round("pct_change", 6).alias("pct_change"),
        F.round("zscore", 6).alias("zscore"),
        "anomaly",
    )


@register(
    "w_rsi_14",
    oracle=f"""
    WITH diffed AS (
      SELECT event_id, user_id, ts, value,
             value - lag(value, 1) OVER ({_W_ORACLE}) AS d
      FROM events
    )
    SELECT event_id, user_id, ts,
           round(100.0 - 100.0 / (1.0 +
             avg(CASE WHEN d > 0 THEN d ELSE 0.0 END)
                 OVER ({_W_ORACLE} ROWS BETWEEN 14 PRECEDING AND 1 PRECEDING)
             / (avg(CASE WHEN d < 0 THEN -d ELSE 0.0 END)
                 OVER ({_W_ORACLE} ROWS BETWEEN 14 PRECEDING AND 1 PRECEDING) + 1e-6)), 6) AS rsi
    FROM diffed
    """,
)
def w_rsi_14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6: RSI-14, trailing-exclusive frame, epsilon-guarded ratio
    (reference regression.py:99-108)."""
    ev = _events_series(spark, sf_dir)
    w = TS.series_window("user_id", ["ts", "event_id"])
    df = TS.with_rsi(ev, "value", w, k=14, out="rsi")
    return df.select("event_id", "user_id", "ts", F.round("rsi", 6).alias("rsi"))


@register(
    "w_macd_sma",
    oracle=f"""
    SELECT event_id, user_id, ts,
           round(avg(value) OVER ({_W_ORACLE} ROWS BETWEEN 12 PRECEDING AND CURRENT ROW)
               - avg(value) OVER ({_W_ORACLE} ROWS BETWEEN 26 PRECEDING AND CURRENT ROW), 6) AS macd
    FROM events
    """,
)
def w_macd_sma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4/W8: 'MACD' exactly as the reference computes it — difference of
    trailing-INCLUSIVE rolling means named ema12/ema26
    (regression.py:112-115). True EMA offered as with_ema extension."""
    ev = _events_series(spark, sf_dir)
    w = TS.series_window("user_id", ["ts", "event_id"])
    df = TS.with_macd(ev, "value", w, fast=12, slow=26, out="macd")
    return df.select("event_id", "user_id", "ts", F.round("macd", 6).alias("macd"))


@register(
    "w_volume_spike",
    oracle=f"""
    SELECT event_id, user_id, ts,
           round(avg(value) OVER ({_W_ORACLE} ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING), 6) AS vol_ma,
           CASE WHEN value > 1.5 * avg(value) OVER ({_W_ORACLE} ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING)
                THEN 1 ELSE 0 END AS volume_spike
    FROM events
    """,
)
def w_volume_spike(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W9: trailing volume mean + 1.5× spike flag (reference
    regression.py:94-96)."""
    ev = _events_series(spark, sf_dir)
    w = TS.series_window("user_id", ["ts", "event_id"])
    df = TS.with_volume_spike(ev, "value", w, k=5, factor=1.5)
    return df.select(
        "event_id", "user_id", "ts", F.round("vol_ma", 6).alias("vol_ma"), "volume_spike"
    )


@register(
    "w_forward_fill",
    oracle=f"""
    WITH gapped AS (
      SELECT event_id, user_id, ts,
             CASE WHEN value < 10 THEN NULL ELSE value END AS v
      FROM events
    )
    SELECT event_id, user_id, ts,
           round(last_value(v IGNORE NULLS) OVER
                 ({_W_ORACLE} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS v_filled
    FROM gapped
    """,
)
def w_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W10: forward-fill via last(ignorenulls) over unbounded-preceding
    (reference classifier.py:39-41). Nulls synthesized deterministically
    (value<10) since the driver table is dense."""
    ev = _events_series(spark, sf_dir)
    w = TS.series_window("user_id", ["ts", "event_id"])
    df = ev.withColumn("v", F.when(F.col("value") < 10, None).otherwise(F.col("value")))
    df = TS.forward_fill(df, ["v"], w)
    return df.select("event_id", "user_id", "ts", F.round("v", 6).alias("v_filled"))


# Ranking family (absent from the reference; SURVEY §2.5 absent list).
register_sql(
    "w_rank_family",
    """
    SELECT event_id, event_type,
           row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS row_number,
           rank()       OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rank,
           dense_rank() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS dense_rank,
           ntile(4)     OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS ntile_4,
           round(percent_rank() OVER (PARTITION BY event_type ORDER BY value DESC, event_id), 6) AS pct_rank,
           round(cume_dist()    OVER (PARTITION BY event_type ORDER BY value DESC, event_id), 6) AS cume
    FROM {events}
    """,
)


register_sql(
    "w_running_total",
    f"""
    SELECT event_id, user_id, ts,
           round(sum(value) OVER ({_W_ORACLE} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_value,
           count(*) OVER ({_W_ORACLE} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_so_far
    FROM {{events}}
    """,
)


@register(
    "w_rolling_median",
    oracle=f"""
    SELECT event_id, user_id, ts,
           round(median(value) OVER ({_W_ORACLE}
                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS med_5,
           count(*) OVER ({_W_ORACLE}
                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)     AS n_in_frame
    FROM events
    """,
)
def w_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 5-row median per series — the robust-smoothing twin of the
    reference's rolling means (outlier-resistant where W12's mean is
    not). Spark has no median window aggregate, so it composes:
    collect_list over the frame → array_sort → middle element (odd) or
    mean of the two middles (even — matching DuckDB median's
    interpolation). State per key is the 5-row frame, so the plan is
    still ONE shuffle + ONE WindowExec; frames of tens of rows cost
    O(k log k) per row, which at 100 TB is CPU-bound map work, not a
    data-movement problem."""
    ev = _events_series(spark, sf_dir)
    w = TS.series_window("user_id", ["ts", "event_id"]).rowsBetween(-4, 0)
    arr = F.array_sort(F.collect_list("value").over(w))
    n = F.size(arr)
    med = F.when(
        n % 2 == 1, F.element_at(arr, ((n + 1) / 2).cast("int"))
    ).otherwise(
        (F.element_at(arr, (n / 2).cast("int")) + F.element_at(arr, (n / 2 + 1).cast("int")))
        / 2
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.round(med, 6).alias("med_5"),
        n.cast("long").alias("n_in_frame"),
    )


# True-EMA constants shared between the Spark query and its oracle: the
# decay base and block size are computed ONCE in Python and embedded as
# identical double literals in both plans. block_factor=12 puts the block
# size (L=72) BELOW the driver data's longest series (86 rows), so the
# cross-block splice (the lag-L terms) is exercised inside the hash-checked
# path, not just in unit tests; the truncated tail weight a^L = e^-29 ≈
# 2.5e-13 is still far below the 6-dp output rounding.
_EMA_SPAN = 5
_EMA_BLOCK_FACTOR = 12
_EMA_A = 1.0 - 2.0 / (_EMA_SPAN + 1.0)
_EMA_L = _EMA_BLOCK_FACTOR * (_EMA_SPAN + 1)


@register(
    "w_ema",
    oracle=f"""
    WITH base AS (
      SELECT event_id, user_id, ts, value,
             row_number() OVER ({_W_ORACLE}) - 1 AS g
      FROM events
    ), reb AS (
      SELECT *, g % {_EMA_L} AS pos, g // {_EMA_L} AS blk,
             value * power({_EMA_A!r}, -(g % {_EMA_L})) AS v
      FROM base
    ), sums AS (
      SELECT *,
             sum(v) OVER (PARTITION BY user_id, blk ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vrun
      FROM reb
    ), tots AS (
      SELECT *,
             last_value(vrun) OVER (PARTITION BY user_id, blk ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS vtot
      FROM sums
    ), spliced AS (
      SELECT *,
             coalesce(lag(vtot, {_EMA_L}) OVER ({_W_ORACLE})
                    - lag(vrun, {_EMA_L}) OVER ({_W_ORACLE}), 0.0) AS prev
      FROM tots
    )
    SELECT event_id, user_id, ts,
           round(power({_EMA_A!r}, pos)
                 * (vrun + power({_EMA_A!r}, {float(_EMA_L)!r}) * prev)
               / ((1.0 - power({_EMA_A!r}, least(g + 1, {_EMA_L})))
                  / {1.0 - _EMA_A!r}), 6) AS ema_5
    FROM spliced
    """,
)
def w_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W8 (true exponential flavor): the real EMA the reference only
    pretended to compute (regression.py:112-115 takes SMAs and names them
    ema12/ema26). Block-rebased exact closed form — bounded exponents at
    any series length, trailing truncation at L=72 rows whose dropped
    tail weight is below the output rounding. The oracle mirrors every
    arithmetic step — including the cross-block splice, which the driver
    data's 86-row series exercise — so the recurrence is fully
    hash-checked."""
    ev = _events_series(spark, sf_dir)
    df = TS.with_ema(
        ev,
        "value",
        "ema_5",
        ["user_id"],
        ["ts", "event_id"],
        span=_EMA_SPAN,
        block_factor=_EMA_BLOCK_FACTOR,
    )
    return df.select("event_id", "user_id", "ts", F.round("ema_5", 6).alias("ema_5"))


@register(
    "w_running_distinct",
    oracle=f"""
    SELECT event_id, user_id, ts, event_type,
           count(1) OVER ({_W_ORACLE}
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS n_events,
           count(DISTINCT event_type) OVER ({_W_ORACLE}
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS n_distinct_types
    FROM events
    """,
)
def w_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running exact distinct-count of event_type per user — the batch
    twin (and oracle) of the ``transformWithStateInPandas`` streaming
    operator ``streaming/tws.py:running_distinct_types``. Spark has no
    DISTINCT window aggregate, so it composes ``size(collect_set(...))``
    over the cumulative frame; still one Exchange + one WindowExec.
    Frame state is the distinct set (bounded by event-type cardinality,
    tiny), not the row history — safe at any series length."""
    ev = _events_series(spark, sf_dir)
    w = TS.series_window("user_id", ["ts", "event_id"]).rowsBetween(
        TS.Window.unboundedPreceding, 0
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.count(F.lit(1)).over(w).alias("n_events"),
        F.size(F.collect_set("event_type").over(w)).cast("long").alias(
            "n_distinct_types"
        ),
    )


@register(
    "w_bollinger_bands",
    oracle=f"""
    WITH b AS (
      SELECT event_id, user_id, ts, value,
             avg(value)         OVER ({_W_ORACLE} ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS mid,
             stddev_samp(value) OVER ({_W_ORACLE} ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS sd
      FROM events
    )
    SELECT event_id, user_id, ts,
           round(mid, 6)          AS bb_mid,
           round(mid + 2 * sd, 6) AS bb_upper,
           round(mid - 2 * sd, 6) AS bb_lower,
           round((value - (mid - 2 * sd)) / nullif(4 * sd, 0), 6) AS pct_b
    FROM b
    """,
)
def w_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands over the per-key series: 20-period inclusive SMA
    ± 2 sample stddevs, plus %B (position of the value inside the band,
    /0-guarded). Completes the reference's rolling-stat family
    (regression.py's ma/vol features) with the composite band shape —
    ONE window exchange computes all four outputs; the mid/sd frames
    share the same sort so Catalyst runs them in a single Window node."""
    ev = _events_series(spark, sf_dir)
    w = TS.series_window("user_id", ["ts", "event_id"]).rowsBetween(-19, 0)
    mid = F.avg("value").over(w)
    sd = F.stddev_samp("value").over(w)
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.round(mid, 6).alias("bb_mid"),
        F.round(mid + 2 * sd, 6).alias("bb_upper"),
        F.round(mid - 2 * sd, 6).alias("bb_lower"),
        F.round(
            (F.col("value") - (mid - 2 * sd)) / F.nullif(4 * sd, F.lit(0)), 6
        ).alias("pct_b"),
    )


@register(
    "w_resample_interpolate",
    oracle="""
    WITH b AS (
      SELECT user_id, date_trunc('hour', min(ts)) AS lo,
             date_trunc('hour', max(ts)) AS hi
      FROM events GROUP BY 1
    ), grid AS (
      SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr
      FROM b
    ), hourly AS (
      SELECT user_id, date_trunc('hour', ts) AS hr,
             round(avg(value), 6) AS v, count(*) AS n_obs
      FROM events GROUP BY 1, 2
    ), g AS (
      SELECT grid.user_id, grid.hr, hourly.v,
             coalesce(hourly.n_obs, 0) AS n_obs
      FROM grid LEFT JOIN hourly
        ON grid.user_id = hourly.user_id AND grid.hr = hourly.hr
    ), anchored AS (
      SELECT user_id, hr, v, n_obs,
        last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY hr
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        last_value(CASE WHEN v IS NOT NULL THEN hr END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY hr
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_hr,
        first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY hr
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        first_value(CASE WHEN v IS NOT NULL THEN hr END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY hr
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n_hr
      FROM g
    )
    SELECT user_id, hr, n_obs, pv AS value_ffill,
      CASE
        WHEN v IS NOT NULL THEN v
        WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
          pv + (nv - pv) * (date_diff('hour', p_hr, hr) * 1.0
                            / date_diff('hour', p_hr, n_hr))
        ELSE coalesce(pv, nv) END AS value_interp
    FROM anchored
    """,
)
def w_resample_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample each user's series onto a regular hourly grid, then
    gap-fill: forward fill AND linear interpolation between the
    bracketing observations (pandas ``resample``/``interpolate``
    semantics, which the reference's pipelines lean on implicitly by
    assuming daily bars). The grid comes from a tiny per-key bounds
    aggregate exploded map-side (sequence + explode, no shuffle); the
    grid⟕hourly join and the four anchor windows share ONE hash
    exchange on user_id. Hourly means are rounded BEFORE interpolating
    so both engines lerp from identical doubles."""
    ev = _events_series(spark, sf_dir)
    bounds = ev.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    grid = bounds.select(
        "user_id",
        F.explode(F.expr("sequence(lo, hi, interval 1 hour)")).alias("hr"),
    )
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(
        F.round(F.avg("value"), 6).alias("v"),
        F.count(F.lit(1)).alias("n_obs"),
    )
    g = grid.join(hourly, ["user_id", "hr"], "left").select(
        "user_id", "hr", "v", F.coalesce("n_obs", F.lit(0)).alias("n_obs")
    )
    w = Window.partitionBy("user_id").orderBy("hr")
    past = w.rowsBetween(Window.unboundedPreceding, 0)
    # "next anchor" as a RUNNING frame over the DESCENDING sort, not
    # first() over (0, unboundedFollowing): Spark's unbounded-FOLLOWING
    # frame recomputes from scratch per row (O(n²) per partition —
    # measured 54.9 s -> 2.5 s at sf0.1 on the hourly grid), while the
    # unbounded-PRECEDING frame accumulates incrementally; the reversed
    # running last(ignorenulls) is value-identical. Same hash exchange,
    # one extra in-partition sort.
    past_desc = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("hr"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    v_hr = F.when(F.col("v").isNotNull(), F.col("hr"))
    pv = F.last("v", ignorenulls=True).over(past)
    p_hr = F.last(v_hr, ignorenulls=True).over(past)
    nv = F.last("v", ignorenulls=True).over(past_desc)
    n_hr = F.last(v_hr, ignorenulls=True).over(past_desc)
    hours = lambda a, b: (F.unix_timestamp(b) - F.unix_timestamp(a)) / 3600  # noqa: E731
    lerp = pv + (nv - pv) * (hours(p_hr, F.col("hr")) * 1.0 / hours(p_hr, n_hr))
    return (
        g.withColumn("value_ffill", pv)
        .withColumn(
            "value_interp",
            # NOT rounded: pv/nv are already engine-identical (rounded
            # hourly means) and the lerp runs the same IEEE sequence in
            # both engines, so the raw double matches bit-for-bit —
            # while round(…, 6) would hit half-up/half-even boundary
            # disagreements exactly at the .xxxxxx5 midpoints lerp
            # produces (FIXTURES.md §6 rounding policy).
            F.when(F.col("v").isNotNull(), F.col("v"))
            .when(pv.isNotNull() & nv.isNotNull(), lerp)
            .otherwise(F.coalesce(pv, nv)),
        )
        .select("user_id", "hr", "n_obs", "value_ffill", "value_interp")
    )


@register(
    "w_gap_detection",
    oracle="""
    SELECT user_id,
           prev_ts AS gap_start, ts AS gap_end,
           CAST(date_diff('second', prev_ts, ts) AS BIGINT) AS gap_seconds
    FROM (SELECT user_id, ts,
                 lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
          FROM events) t
    WHERE prev_ts IS NOT NULL
      AND date_diff('second', prev_ts, ts) > 3600
    """,
)
def w_gap_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-data report: per-key gaps longer than an hour between
    consecutive events (lag + time diff — one window shuffle). The
    operational complement to w_resample_interpolate: this finds the
    holes, that fills them. Integer-second arithmetic on both engines
    (Spark unix_timestamp truncation matches floor'd epoch diff because
    the diff of truncations equals the truncated diff only when both
    operands truncate the same way — so the diff is computed on the
    truncated values on BOTH sides)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = ev.select("user_id", "ts", "event_id").withColumn("prev_ts", F.lag("ts").over(w))
    gap = F.unix_timestamp("ts") - F.unix_timestamp("prev_ts")
    return (
        d.filter(F.col("prev_ts").isNotNull() & (gap > 3600))
        .select(
            "user_id",
            F.col("prev_ts").alias("gap_start"),
            F.col("ts").alias("gap_end"),
            gap.cast("long").alias("gap_seconds"),
        )
    )


@register(
    "w_rolling_mad_anomaly",
    oracle=f"""
    WITH b AS (
      SELECT event_id, user_id, ts, value,
             list_sort(list(value) OVER ({_W_ORACLE}
                   ROWS BETWEEN 20 PRECEDING AND CURRENT ROW)) AS vals
      FROM events
    ), m AS (
      SELECT *, CASE WHEN len(vals) % 2 = 1 THEN vals[(len(vals)+1)//2]
                     ELSE (vals[len(vals)//2] + vals[len(vals)//2 + 1]) / 2
                END AS med
      FROM b
    ), d AS (
      SELECT *, list_sort(list_transform(vals, v -> abs(v - med))) AS devs
      FROM m
    ), z AS (
      SELECT event_id, user_id, ts, value, med, len(vals) AS n_in_frame,
             CASE WHEN len(devs) % 2 = 1 THEN devs[(len(devs)+1)//2]
                  ELSE (devs[len(devs)//2] + devs[len(devs)//2 + 1]) / 2
             END AS mad
      FROM d
    )
    SELECT event_id, user_id, ts,
           floor(med * 1000000 + 0.5) / 1000000 AS med_21,
           floor(mad * 1000000 + 0.5) / 1000000 AS mad_21,
           CASE WHEN mad > 0
                THEN floor(0.6745 * (value - med) / mad * 1000000 + 0.5) / 1000000
                ELSE NULL END AS mod_z,
           CAST(CASE WHEN mad > 0 AND abs(0.6745 * (value - med) / mad) > 3.5
                     THEN 1 ELSE 0 END AS INTEGER) AS is_outlier,
           CAST(n_in_frame AS BIGINT) AS n_in_frame
    FROM z
    """,
)
def w_rolling_mad_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling ROBUST anomaly detection per series: 21-row median + MAD
    → Iglewicz–Hoaglin modified z-score (0.6745·(x−med)/MAD, flag at
    |z| > 3.5) — the windowed twin of the global robust_outlier_stats
    aggregate. Unlike the rolling-mean z-score (W13), a burst of
    outliers cannot drag the baseline: median and MAD have 50%
    breakdown. Spark has no median/MAD window aggregate, so both come
    from ONE collect_list frame: sorted array → middle element(s), then
    |x−med| transform → sorted → middle again. The oracle states the
    SAME list arithmetic explicitly rather than DuckDB's native
    median()/mad() window aggregates — those interpolate even-count
    middles with a different FP formula, which flipped one sf0.1 row's
    6th decimal (1-ulp divergence at a rounding boundary). Still one
    shuffle + one WindowExec; the per-row O(k log k) sort of a 21-row
    frame is map-side CPU, not data movement. MAD = 0 (constant frame)
    yields NULL z / flag 0 — the guarded-ratio policy (F8/F9)."""
    from ..operators import tswindow as TS

    ev = _events_series(spark, sf_dir)
    w = TS.series_window("user_id", ["ts", "event_id"]).rowsBetween(-20, 0)

    def arr_median(arr):
        n = F.size(arr)
        return F.when(
            n % 2 == 1, F.element_at(arr, ((n + 1) / 2).cast("int"))
        ).otherwise(
            (
                F.element_at(arr, (n / 2).cast("int"))
                + F.element_at(arr, (n / 2 + 1).cast("int"))
            )
            / 2
        )

    # materialize the sorted frame ONCE (a single window expression in
    # one WindowExec), then derive med/MAD/z as pure projections —
    # inlining collect_list into every derived expression would make
    # WindowExec buffer the frame separately per occurrence
    base = ev.withColumn("_vals", F.array_sort(F.collect_list("value").over(w)))
    base = base.withColumn("_med", arr_median(F.col("_vals")))
    med = F.col("_med")
    devs = F.array_sort(
        F.transform(F.col("_vals"), lambda v: F.abs(v - med))
    )
    base = base.withColumn("_mad", arr_median(devs))
    mad = F.col("_mad")
    mod_z = F.when(mad > 0, 0.6745 * (F.col("value") - med) / mad)

    # numeric.q6, NOT F.round — see operators/numeric.py for why
    from ..operators.numeric import q6

    return base.select(
        "event_id",
        "user_id",
        "ts",
        q6(med).alias("med_21"),
        q6(mad).alias("mad_21"),
        q6(mod_z).alias("mod_z"),
        F.when(F.abs(mod_z) > 3.5, 1).otherwise(0).cast("int").alias("is_outlier"),
        F.size("_vals").cast("long").alias("n_in_frame"),
    )


@register(
    "w_sessionize_30min",
    oracle=f"""
    WITH g AS (
      SELECT event_id, user_id, ts,
             CASE WHEN lag(ts) OVER ({_W_ORACLE}) IS NULL
                       OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER ({_W_ORACLE}))) > 1800
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
    ), s AS (
      SELECT event_id, user_id, ts,
             sum(new_sess) OVER ({_W_ORACLE}
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
      FROM g
    )
    SELECT event_id, user_id, ts,
           CAST(session_idx AS BIGINT) AS session_idx,
           CAST(count(*) OVER (PARTITION BY user_id, session_idx) AS BIGINT)
               AS session_n_events
    FROM s
    """,
)
def w_sessionize_30min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session ASSIGNMENT (gaps-and-islands): per-event session index
    from 30-minute inactivity gaps — the per-row complement of the
    session_window AGGREGATE (t_session_window_30min gives per-session
    rollups; this tags every event so joins/windows can operate within
    a session). lag → new-session flag → running sum; both windows plus
    the per-session count share the user_id partitioning, so the whole
    query is one exchange. Gap compare in whole epoch seconds
    (unix_timestamp truncation ≡ floor(epoch()), the engine-wide
    pairing)."""
    ev = _events_series(spark, sf_dir)
    from ..operators import tswindow as TS

    w = TS.series_window("user_id", ["ts", "event_id"])
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    cum = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    out = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.sum(new_sess).over(cum).cast("long").alias("session_idx"),
    )
    w_sess = Window.partitionBy("user_id", "session_idx")
    return out.withColumn(
        "session_n_events", F.count(F.lit(1)).over(w_sess).cast("long")
    )


@register(
    "w_compound_return",
    oracle=f"""
    WITH g AS (
      SELECT event_id, user_id, ts, value,
             CASE WHEN lag(value) OVER ({_W_ORACLE}) IS NULL
                       OR lag(value) OVER ({_W_ORACLE}) <= 0
                  THEN 1 ELSE 0 END AS new_seg
      FROM events
    ), s AS (
      SELECT event_id, user_id, ts, value,
             sum(new_seg) OVER ({_W_ORACLE}
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
      FROM g
    )
    SELECT event_id, user_id, ts,
           floor((value / first_value(value) OVER (
                    PARTITION BY user_id, seg ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                 * 1000000 + 0.5) / 1000000 AS cum_return
    FROM s
    """,
)
def w_compound_return(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative compound return per series since the last reset
    (series start or any non-positive price): gaps-and-islands segment
    assignment + value/anchor where anchor = first value of the
    segment — the telescoped form of Π value_t/value_{t-1}.

    Deliberately NOT exp(Σ ln(ratio)): that form is fine on one engine
    but not hash-comparable across two — libm exp/ln differ at 1 ulp,
    and compound returns of 2-decimal prices frequently land EXACTLY on
    a 6-decimal rounding boundary (ratios of cents have power-of-two
    denominators, e.g. 18.6953125), where even identical doubles round
    apart because Spark's round() goes through the shortest decimal
    string (BigDecimal of Double.toString) while DuckDB rounds the
    binary value. The telescoped form is ONE division of identical
    doubles, and quantization is the explicit floor(x*1e6 + 0.5)/1e6 —
    pure IEEE ops, bit-identical on both engines. Also sidesteps
    DuckDB's ln(0) Out-of-Range (a zero price exists at sf0.1) where
    Spark's log() silently NULLs: the zero resets the segment on both
    sides instead."""
    ev = _events_series(spark, sf_dir)
    from ..operators import tswindow as TS

    w = TS.series_window("user_id", ["ts", "event_id"])
    prev = F.lag("value").over(w)
    new_seg = F.when(prev.isNull() | (prev <= 0), 1).otherwise(0)
    cum = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    segged = ev.withColumn("seg", F.sum(new_seg).over(cum))
    w_seg = Window.partitionBy("user_id", "seg").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    ratio = F.col("value") / F.first("value").over(w_seg)
    return segged.select(
        "event_id",
        "user_id",
        "ts",
        (F.floor(ratio * 1000000 + F.lit(0.5)) / 1000000).alias("cum_return"),
    )


@register(
    "w_rolling_beta",
    oracle=f"""
    WITH mkt AS (
      SELECT date_trunc('day', ts) AS day, avg(value) AS mkt_avg
      FROM events GROUP BY 1
    ), j AS (
      SELECT e.event_id, e.user_id, e.ts, e.value AS x, m.mkt_avg AS y
      FROM events e JOIN mkt m ON date_trunc('day', e.ts) = m.day
    ), c AS (
      SELECT event_id, user_id, ts,
             CAST(count(*) OVER w AS DOUBLE)      AS n,
             sum(x)     OVER w AS sx,  sum(y)     OVER w AS sy,
             sum(x * y) OVER w AS sxy,
             sum(x * x) OVER w AS sxx, sum(y * y) OVER w AS syy,
             min(x) OVER w = max(x) OVER w        AS x_const,
             min(y) OVER w = max(y) OVER w        AS y_const
      FROM j
      WINDOW w AS ({_W_ORACLE} ROWS BETWEEN 20 PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id, ts,
           CASE WHEN n >= 2 AND NOT x_const AND NOT y_const
                THEN round((n * sxy - sx * sy)
                     / nullif(sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 0), 6)
                END AS beta_corr,
           CAST(n AS BIGINT) AS n_in_frame
    FROM c
    """,
)
def w_rolling_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling correlation of each series against the MARKET benchmark
    (daily cross-sectional average) — the windowed two-variable
    aggregate (explicit corr formula over frame sums — ANSI-safe) joined to a day-grain benchmark. The
    benchmark aggregate is day-spine-sized and broadcastable; the
    window shares the per-key exchange like every other feature.
    NULL when the frame has <2 points or either side is constant —
    identical semantics both engines."""
    ev = _events_series(spark, sf_dir)
    mkt = (
        ev.groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.avg("value").alias("mkt_avg"))
    )
    j = ev.join(
        F.broadcast(mkt), F.date_trunc("day", F.col("ts")) == F.col("day")
    )
    from ..operators import tswindow as TS

    w = TS.series_window("user_id", ["ts", "event_id"]).rowsBetween(-20, 0)
    # corr from guarded sum components (ANSI mode makes the built-in
    # corr window throw divide-by-zero on 1-row frames instead of
    # returning NULL; the explicit formula nullif-guards both the n=1
    # and constant-series cases). Scale normalization cancels, so this
    # equals sample corr exactly.
    n = F.count(F.lit(1)).over(w).cast("double")
    sx = F.sum("value").over(w)
    sy = F.sum("mkt_avg").over(w)
    sxy = F.sum(F.col("value") * F.col("mkt_avg")).over(w)
    sxx = F.sum(F.col("value") * F.col("value")).over(w)
    syy = F.sum(F.col("mkt_avg") * F.col("mkt_avg")).over(w)
    x_const = F.min("value").over(w) == F.max("value").over(w)
    y_const = F.min("mkt_avg").over(w) == F.max("mkt_avg").over(w)
    denom = F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    beta = F.when(
        (n >= 2) & ~x_const & ~y_const,
        (n * sxy - sx * sy) / F.nullif(denom, F.lit(0.0)),
    )
    return j.select(
        "event_id",
        "user_id",
        "ts",
        F.round(beta, 6).alias("beta_corr"),
        n.cast("long").alias("n_in_frame"),
    )


@register(
    "j_session_overlap_pairs",
    oracle=f"""
    WITH g AS (
      SELECT event_id, user_id, ts,
             CASE WHEN lag(ts) OVER ({_W_ORACLE}) IS NULL
                       OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER ({_W_ORACLE}))) > 1800
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
    ), s AS (
      SELECT user_id, ts,
             sum(new_sess) OVER ({_W_ORACLE}
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
      FROM g
    ), sess AS (
      SELECT user_id, session_idx, min(ts) AS t0, max(ts) AS t1
      FROM s GROUP BY user_id, session_idx
    )
    SELECT CAST(a.user_id AS BIGINT)     AS user_a,
           CAST(a.session_idx AS BIGINT) AS sid_a,
           CAST(b.user_id AS BIGINT)     AS user_b,
           CAST(b.session_idx AS BIGINT) AS sid_b,
           CAST(floor(epoch(least(a.t1, b.t1)))
                - floor(epoch(greatest(a.t0, b.t0))) AS BIGINT) AS overlap_s
    FROM sess a JOIN sess b
      ON a.user_id < b.user_id AND a.t0 <= b.t1 AND b.t0 <= a.t1
    """,
)
def j_session_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-presence detection: pairs of DIFFERENT users whose activity
    sessions overlap in time — an interval×interval join with no
    equi-key at all, the shape a naive plan can only express as a cross
    join. Composition: 30-min-gap sessionization (same recipe as
    w_sessionize_30min, one exchange) collapses events to per-session
    [min_ts, max_ts] intervals; operators/relational.py
    interval_overlap_join buckets both interval sets into 30-min epoch
    bins and meets candidates on a bucket equi-join, keeping each pair
    only in the first shared bucket (dedup by construction — no
    distinct). The oracle states the same join declaratively as an
    inequality join, which DuckDB runs via IEJoin — correct, but not
    the distributed plan. Overlap length in whole epoch seconds
    (unix_timestamp truncation ≡ floor(epoch()): integer output, no
    float hash risk)."""
    from ..operators import tswindow as TS
    from ..operators.relational import interval_overlap_join

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    w = TS.series_window("user_id", ["ts", "event_id"])
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    cum = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    sess = (
        ev.select(
            "user_id", "ts", F.sum(new_sess).over(cum).cast("long").alias("session_idx")
        )
        .groupBy("user_id", "session_idx")
        .agg(F.min("ts").alias("t0"), F.max("ts").alias("t1"))
    )
    a = sess.select(
        F.col("user_id").alias("user_a"),
        F.col("session_idx").alias("sid_a"),
        F.col("t0").alias("a_t0"),
        F.col("t1").alias("a_t1"),
    )
    b = sess.select(
        F.col("user_id").alias("user_b"),
        F.col("session_idx").alias("sid_b"),
        F.col("t0").alias("b_t0"),
        F.col("t1").alias("b_t1"),
    )
    pairs = interval_overlap_join(a, b, "a_t0", "a_t1", "b_t0", "b_t1", 1800)
    return pairs.filter(F.col("user_a") < F.col("user_b")).select(
        F.col("user_a").cast("long").alias("user_a"),
        F.col("sid_a").cast("long").alias("sid_a"),
        F.col("user_b").cast("long").alias("user_b"),
        F.col("sid_b").cast("long").alias("sid_b"),
        (
            F.unix_timestamp(F.least("a_t1", "b_t1"))
            - F.unix_timestamp(F.greatest("a_t0", "b_t0"))
        ).cast("long").alias("overlap_s"),
    )


@register(
    "w_ohlc_6h",
    oracle=f"""
    WITH r AS (
      SELECT user_id,
             CAST(to_timestamp(floor(epoch(ts) / 21600) * 21600) AS TIMESTAMP) AS bucket,
             value, ts, event_id
      FROM events
    ), rb AS (
      SELECT user_id, bucket, value,
             row_number() OVER (PARTITION BY user_id, bucket ORDER BY ts, event_id) AS rn_a,
             row_number() OVER (PARTITION BY user_id, bucket ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM r
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           bucket,
           max(CASE WHEN rn_a = 1 THEN value END) AS open,
           max(value)                             AS high,
           min(value)                             AS low,
           max(CASE WHEN rn_d = 1 THEN value END) AS close,
           CAST(count(*) AS BIGINT)               AS n_trades
    FROM rb
    GROUP BY user_id, bucket
    """,
)
def w_ohlc_6h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candle resampling: per series, 6-hour buckets with
    open/high/low/close/count — the canonical downsampling of a tick
    stream to bar data. One window pass tags each row's ascending and
    descending rank within its (user, bucket) — (ts, event_id) ordered,
    so ties can't flip open/close between engines — and one groupBy
    folds the bars. Two exchanges total, both keyed on the series;
    values pass through untouched (no float arithmetic at all), so the
    hash comparison is raw-value exact. Bucketing via floor(epoch/21600)
    — unix_timestamp truncation ≡ floor(epoch()), the engine-wide
    pairing. Operator: tswindow.ohlc_bars."""
    from ..operators.tswindow import ohlc_bars

    ev = _events_series(spark, sf_dir).select(
        F.col("user_id").cast("long").alias("user_id"), "ts", "value", "event_id"
    )
    return ohlc_bars(ev, "user_id", "ts", "value", bucket_seconds=21600)


@register(
    "w_ohlc_daily_from_bars",
    oracle="""
    WITH r AS (
      SELECT user_id,
             CAST(to_timestamp(floor(epoch(ts) / 86400) * 86400) AS TIMESTAMP) AS day,
             value, ts, event_id
      FROM events
    ), rb AS (
      SELECT user_id, day, value,
             row_number() OVER (PARTITION BY user_id, day ORDER BY ts, event_id) AS rn_a,
             row_number() OVER (PARTITION BY user_id, day ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM r
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           day,
           max(CASE WHEN rn_a = 1 THEN value END) AS open,
           max(value)                             AS high,
           min(value)                             AS low,
           max(CASE WHEN rn_d = 1 THEN value END) AS close,
           CAST(count(*) AS BIGINT)               AS n_trades
    FROM rb
    GROUP BY user_id, day
    """,
)
def w_ohlc_daily_from_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup-cascade proof for OHLC bars: the daily bar built by
    MERGING the 6-hour bars (open of the earliest sub-bar, close of
    the latest, max/min/sum of the rest) must hash-equal the daily bar
    computed directly from ticks — which is exactly what the oracle
    computes. Passing this query IS the losslessness proof for the
    pre-aggregation cascade (keep bars at the finest grain, answer any
    coarser granularity from bars, never rescan ticks — the same
    mergeable-state posture as the sketch rollup tables). The merge is
    one groupBy over the (already tiny) bar frame. Operators:
    tswindow.ohlc_bars ∘ tswindow.merge_ohlc_bars."""
    from ..operators.tswindow import merge_ohlc_bars, ohlc_bars

    ev = _events_series(spark, sf_dir).select(
        F.col("user_id").cast("long").alias("user_id"), "ts", "value", "event_id"
    )
    bars = ohlc_bars(ev, "user_id", "ts", "value", bucket_seconds=21600)
    return merge_ohlc_bars(bars, "user_id", "bucket", coarse_seconds=86400)


_Q6 = "* 1000000 + 0.5) / 1000000"


@register(
    "w_stochastic_oscillator",
    oracle=f"""
    WITH s AS (
      SELECT event_id, user_id, ts, value,
             min(value) OVER w14 AS l14,
             max(value) OVER w14 AS h14
      FROM events
      WINDOW w14 AS ({_W_ORACLE} ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    ), k AS (
      SELECT event_id, user_id, ts, value, l14, h14,
             100.0 * (value - l14) / nullif(h14 - l14, 0) AS pct_k
      FROM s
    )
    SELECT event_id, user_id, ts, value, pct_k,
           floor(avg(pct_k) OVER ({_W_ORACLE}
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) {_Q6} AS pct_d
    FROM k
    """,
)
def w_stochastic_oscillator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stochastic oscillator %K/%D — the momentum indicator family the
    reference's TA feature block sits in (alongside its RSI/MACD/
    Bollinger, reference regression.py's rolling features): %K = 100 ×
    (close − L14)/(H14 − L14) over the inclusive 14-row low/high
    channel, %D = 3-row SMA of %K. A flat channel (H14 = L14) yields
    NULL %K (nullif guard), which the %D average then skips — the same
    convention in both engines.

    Determinism: L14/H14 are exact picks (no float arithmetic), %K is
    one row-wise IEEE division of exact operands — emitted RAW, per the
    engine rounding policy; %D is an order-sensitive 3-term mean, so it
    alone is q6'd. Physical plan: the min/max/avg frames all share one
    (user_id; ts, event_id) sort → a single Exchange feeds two chained
    WindowExec passes (%D must read the materialized %K column — a
    window over a window output can't fuse into one pass anywhere)."""
    from ..operators.numeric import q6

    ev = _events_series(spark, sf_dir)
    w14 = TS.series_window("user_id", ["ts", "event_id"]).rowsBetween(-13, 0)
    w3 = TS.series_window("user_id", ["ts", "event_id"]).rowsBetween(-2, 0)
    l14 = F.min("value").over(w14)
    h14 = F.max("value").over(w14)
    k = ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        (
            100.0
            * (F.col("value") - l14)
            / F.when(h14 - l14 != 0, h14 - l14)
        ).alias("pct_k"),
    )
    return k.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        "pct_k",
        q6(F.avg("pct_k").over(w3)).alias("pct_d"),
    )


_DAILY_BARS_ORACLE = """
    r AS (
      SELECT user_id,
             CAST(to_timestamp(floor(epoch(ts) / 86400) * 86400) AS TIMESTAMP) AS day,
             value, ts, event_id
      FROM events
    ), rb AS (
      SELECT user_id, day, value,
             row_number() OVER (PARTITION BY user_id, day ORDER BY ts, event_id) AS rn_a,
             row_number() OVER (PARTITION BY user_id, day ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM r
    ), bars AS (
      SELECT CAST(user_id AS BIGINT) AS user_id, day,
             max(value)                             AS high,
             min(value)                             AS low,
             max(CASE WHEN rn_d = 1 THEN value END) AS close,
             CAST(count(*) AS BIGINT)               AS n_trades
      FROM rb GROUP BY user_id, day
    )"""


@register(
    "w_atr_14",
    oracle=f"""
    WITH {_DAILY_BARS_ORACLE}, t AS (
      SELECT user_id, day, high, low, close,
             lag(close) OVER (PARTITION BY user_id ORDER BY day) AS pc
      FROM bars
    ), tr_t AS (
      SELECT user_id, day,
             greatest(high - low,
                      abs(high - coalesce(pc, close)),
                      abs(low  - coalesce(pc, close))) AS tr
      FROM t
    )
    SELECT user_id, day, tr,
           floor(avg(tr) OVER (PARTITION BY user_id ORDER BY day
             ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) {_Q6} AS atr_14
    FROM tr_t
    """,
)
def w_atr_14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average True Range over daily OHLC bars: TR = max(high−low,
    |high−prev close|, |low−prev close|) (first bar's missing prev
    close coalesces to its own close, collapsing TR to high−low — the
    standard seed), ATR = inclusive 14-bar SMA of TR. SMA parity
    rather than Wilder's recursive smoothing, the same documented
    choice as w_macd_sma (the true-EMA leg exists separately as w_ema;
    the recursion is expressible with the identical block-rebased
    closed form if a Wilder leg is ever needed).

    The bar fold is tswindow.ohlc_bars (two series-keyed exchanges,
    tick values pass through untouched); everything after runs on the
    ~|series|×|days| bar frame — the pre-aggregation cascade posture:
    at 100 TB the tick scan happens once, and the indicator costs
    bar-frame prices. TR is row-wise exact (emitted raw); the 14-term
    mean alone is q6'd."""
    from ..operators.numeric import q6
    from ..operators.tswindow import ohlc_bars

    ev = _events_series(spark, sf_dir).select(
        F.col("user_id").cast("long").alias("user_id"), "ts", "value", "event_id"
    )
    bars = ohlc_bars(ev, "user_id", "ts", "value", bucket_seconds=86400).select(
        "user_id", F.col("bucket").alias("day"), "high", "low", "close"
    )
    w = Window.partitionBy("user_id").orderBy("day")
    pc = F.coalesce(F.lag("close").over(w), F.col("close"))
    tr_t = bars.select(
        "user_id",
        "day",
        F.greatest(
            F.col("high") - F.col("low"),
            F.abs(F.col("high") - pc),
            F.abs(F.col("low") - pc),
        ).alias("tr"),
    )
    w14 = Window.partitionBy("user_id").orderBy("day").rowsBetween(-13, 0)
    return tr_t.select(
        "user_id", "day", "tr", q6(F.avg("tr").over(w14)).alias("atr_14")
    )


@register(
    "w_obv_daily",
    oracle=f"""
    WITH {_DAILY_BARS_ORACLE}, t AS (
      SELECT user_id, day, close, n_trades,
             lag(close) OVER (PARTITION BY user_id ORDER BY day) AS pc
      FROM bars
    ), d AS (
      SELECT user_id, day, close, n_trades,
             CASE WHEN pc IS NULL THEN 0
                  WHEN close > pc THEN 1
                  WHEN close < pc THEN -1
                  ELSE 0 END AS dirn
      FROM t
    )
    SELECT user_id, day, close,
           CAST(sum(dirn * n_trades) OVER (PARTITION BY user_id ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS obv
    FROM d
    """,
)
def w_obv_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """On-balance volume over daily bars: each day contributes its
    trade count (n_trades — the tick-volume proxy; the events table
    carries no share-volume column, documented here) signed by the
    close-to-close direction, accumulated per series. The direction
    CASE is explicit three-way rather than sign() — DuckDB's and
    Spark's signum differ in return type, and the comparison of two
    exact close picks is bit-identical anyway.

    Fully integer after the direction flag: dirn·n_trades and the
    running total stay int64, so the output hashes exactly with NO
    rounding — the same exactness posture as the OHLC family it
    extends. One bar fold (ohlc_bars) + one series-keyed cumulative
    window; the cumulative frame is bar-sized, not tick-sized."""
    from ..operators.tswindow import ohlc_bars

    ev = _events_series(spark, sf_dir).select(
        F.col("user_id").cast("long").alias("user_id"), "ts", "value", "event_id"
    )
    bars = ohlc_bars(ev, "user_id", "ts", "value", bucket_seconds=86400).select(
        "user_id", F.col("bucket").alias("day"), "close", "n_trades"
    )
    w = Window.partitionBy("user_id").orderBy("day")
    pc = F.lag("close").over(w)
    d = bars.select(
        "user_id",
        "day",
        "close",
        "n_trades",
        F.when(pc.isNull(), 0)
        .when(F.col("close") > pc, 1)
        .when(F.col("close") < pc, -1)
        .otherwise(0)
        .alias("dirn"),
    )
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    return d.select(
        "user_id",
        "day",
        "close",
        F.sum(F.col("dirn") * F.col("n_trades")).over(wc).cast("long").alias("obv"),
    )


# Autocorrelation at lags 1-3 of each series' daily mean, the
# stationarity diagnostic read before fitting a forecaster. The daily
# mean is q6-quantized BEFORE the correlations (group-sum order differs
# between engines), and the order-sensitive corr outputs are q6'd.
register_sql(
    "w_autocorrelation",
    f"""
    WITH d AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
             floor(avg(value) {_Q6} AS v
      FROM {{events}} GROUP BY 1, 2
    ), l AS (
      SELECT user_id, v,
             lag(v, 1) OVER (PARTITION BY user_id ORDER BY day) AS v1,
             lag(v, 2) OVER (PARTITION BY user_id ORDER BY day) AS v2,
             lag(v, 3) OVER (PARTITION BY user_id ORDER BY day) AS v3
      FROM d
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(count(*) AS BIGINT) AS n_days,
           floor(corr(v, v1) {_Q6} AS ac1,
           floor(corr(v, v2) {_Q6} AS ac2,
           floor(corr(v, v3) {_Q6} AS ac3
    FROM l GROUP BY user_id ORDER BY user_id
    """,
)


# Wilder's smoothing constant 1/14 expressed through the shared EMA
# machinery: alpha = 2/(span+1) = 1/14 at span 27 EXACTLY (2/28). One
# block spans the whole realistic bar history; exponents stay bounded.
_WILDER_SPAN = 27
_WILDER_BLOCK_FACTOR = 5
_WILDER_A = 1.0 - 2.0 / (_WILDER_SPAN + 1.0)
_WILDER_L = _WILDER_BLOCK_FACTOR * (_WILDER_SPAN + 1)
_W_BAR = "PARTITION BY user_id ORDER BY day"


@register(
    "w_atr_wilder",
    oracle=f"""
    WITH {_DAILY_BARS_ORACLE}, t AS (
      SELECT user_id, day, high, low, close,
             lag(close) OVER ({_W_BAR}) AS pc
      FROM bars
    ), tr_t AS (
      SELECT user_id, day,
             greatest(high - low,
                      abs(high - coalesce(pc, close)),
                      abs(low  - coalesce(pc, close))) AS tr
      FROM t
    ), base AS (
      SELECT user_id, day, tr,
             row_number() OVER ({_W_BAR}) - 1 AS g
      FROM tr_t
    ), reb AS (
      SELECT *, g % {_WILDER_L} AS pos, g // {_WILDER_L} AS blk,
             tr * power({_WILDER_A!r}, -(g % {_WILDER_L})) AS v
      FROM base
    ), sums AS (
      SELECT *,
             sum(v) OVER (PARTITION BY user_id, blk ORDER BY day
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vrun
      FROM reb
    ), tots AS (
      SELECT *,
             last_value(vrun) OVER (PARTITION BY user_id, blk ORDER BY day
                          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS vtot
      FROM sums
    ), spliced AS (
      SELECT *,
             coalesce(lag(vtot, {_WILDER_L}) OVER ({_W_BAR})
                    - lag(vrun, {_WILDER_L}) OVER ({_W_BAR}), 0.0) AS prev
      FROM tots
    )
    SELECT user_id, day, tr,
           floor(power({_WILDER_A!r}, pos)
                 * (vrun + power({_WILDER_A!r}, {float(_WILDER_L)!r}) * prev)
               / ((1.0 - power({_WILDER_A!r}, least(g + 1, {_WILDER_L})))
                  / {1.0 - _WILDER_A!r})
                 * 1000000 + 0.5) / 1000000 AS atr_wilder
    FROM spliced
    """,
)
def w_atr_wilder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ATR under Wilder's smoothing constant α = 1/14 — the exponential
    companion to w_atr_14's SMA parity, closing the docstring's "if a
    Wilder leg is ever needed" with the SAME block-rebased exact EMA
    closed form as w_ema (tswindow.with_ema; α = 2/(span+1) = 1/14 at
    span 27, exactly). Convention: the adjusted (weighted-average) EMA
    form — pandas ewm(adjust=True) — whose warmup weighting differs
    from the classic SMA-seeded recursion but converges to it
    geometrically; the choice is pinned here and mirrored step-by-step
    in the oracle (including the cross-block splice).

    Plan: one tick fold to daily bars (ohlc_bars), TR row-wise on the
    bar frame, then the EMA's single series-keyed exchange — every
    recurrence term is a window expression, no Python anywhere."""
    from ..operators.numeric import q6
    from ..operators.tswindow import ohlc_bars, with_ema

    ev = _events_series(spark, sf_dir).select(
        F.col("user_id").cast("long").alias("user_id"), "ts", "value", "event_id"
    )
    bars = ohlc_bars(ev, "user_id", "ts", "value", bucket_seconds=86400).select(
        "user_id", F.col("bucket").alias("day"), "high", "low", "close"
    )
    w = Window.partitionBy("user_id").orderBy("day")
    pc = F.coalesce(F.lag("close").over(w), F.col("close"))
    tr_t = bars.select(
        "user_id",
        "day",
        F.greatest(
            F.col("high") - F.col("low"),
            F.abs(F.col("high") - pc),
            F.abs(F.col("low") - pc),
        ).alias("tr"),
    )
    out = with_ema(
        tr_t,
        "tr",
        "atr_wilder",
        ["user_id"],
        ["day"],
        span=_WILDER_SPAN,
        block_factor=_WILDER_BLOCK_FACTOR,
    )
    return out.select("user_id", "day", "tr", q6(F.col("atr_wilder")).alias("atr_wilder"))


from ..operators.tswindow import holt_constants as _holt_constants  # noqa: E402

_HOLT_ALPHA, _HOLT_BETA, _HOLT_L = 0.8, 0.2, 96
_HK = _holt_constants(_HOLT_ALPHA, _HOLT_BETA)


@register(
    "w_holt_forecast",
    oracle=f"""
    WITH {_DAILY_BARS_ORACLE}, base AS (
      SELECT user_id, day, close AS x,
             row_number() OVER ({_W_BAR}) - 1 AS g,
             first_value(close) OVER ({_W_BAR}
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS x1
      FROM bars
    ), reb AS (
      SELECT *, g % {_HOLT_L} AS pos, g // {_HOLT_L} AS blk,
             x * power({_HK['lam1']!r}, -(g % {_HOLT_L})) AS v1,
             x * power({_HK['lam2']!r}, -(g % {_HOLT_L})) AS v2
      FROM base
    ), sums AS (
      SELECT *,
             sum(v1) OVER (PARTITION BY user_id, blk ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vrun1,
             sum(v2) OVER (PARTITION BY user_id, blk ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vrun2
      FROM reb
    ), tots AS (
      SELECT *,
             last_value(vrun1) OVER (PARTITION BY user_id, blk ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS vtot1,
             last_value(vrun2) OVER (PARTITION BY user_id, blk ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS vtot2
      FROM sums
    ), spl AS (
      SELECT *,
             coalesce(lag(vtot1, {_HOLT_L}) OVER ({_W_BAR})
                    - lag(vrun1, {_HOLT_L}) OVER ({_W_BAR}), 0.0) AS prev1,
             coalesce(lag(vtot2, {_HOLT_L}) OVER ({_W_BAR})
                    - lag(vrun2, {_HOLT_L}) OVER ({_W_BAR}), 0.0) AS prev2
      FROM tots
    ), st AS (
      SELECT user_id, day, g, x1,
             power({_HK['lam1']!r}, pos)
               * (vrun1 + power({_HK['lam1']!r}, {float(_HOLT_L)!r}) * prev1) AS s1,
             power({_HK['lam2']!r}, pos)
               * (vrun2 + power({_HK['lam2']!r}, {float(_HOLT_L)!r}) * prev2) AS s2
      FROM spl
    ), lt AS (
      SELECT user_id, day,
             x1 * (power({_HK['lam1']!r}, g) * {_HK['k1l'] - _HK['w1l']!r}
                 + power({_HK['lam2']!r}, g) * {_HK['k2l'] - _HK['w2l']!r})
               + {_HK['w1l']!r} * s1 + {_HK['w2l']!r} * s2 AS lvl,
             x1 * (power({_HK['lam1']!r}, g) * {_HK['k1b'] - _HK['w1b']!r}
                 + power({_HK['lam2']!r}, g) * {_HK['k2b'] - _HK['w2b']!r})
               + {_HK['w1b']!r} * s1 + {_HK['w2b']!r} * s2 AS trd
      FROM st
    )
    SELECT user_id, day,
           floor(lvl {_Q6} AS level,
           floor(trd {_Q6} AS trend,
           floor((lvl + trd) {_Q6} AS forecast_1
    FROM lt
    """,
)
def w_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double exponential smoothing over each series' daily close
    — level, trend, and the one-step forecast l+b (the forecasting
    step the reference delegates to its fitted regressors, here as a
    pure closed-form operator). NOT a recursion anywhere: the 2x2
    state recurrence is eigen-split into TWO block-rebased geometric
    cumulative sums (tswindow.with_holt_linear / holt_constants;
    alpha=0.8, beta=0.2, L=96 — real distinct poles 0.785/0.255,
    truncation weight lam1^96 ~ 8e-11, far under the q6 quantizer).
    Measured against the literal Python recursion: 7e-14 max error on
    a short series, 2.1e-9 across the L=96 splice on a 300-row series
    (tests/test_tswindow.py).

    Plan: ohlc_bars' two series-keyed exchanges, then ONE more
    exchange drives every window in the closed form (row index, both
    rebased sums, the splice lags all share the (user; day) sort).
    The oracle mirrors each arithmetic step with the same baked float
    constants, so the hash check pins the whole derivation."""
    from ..operators.numeric import q6
    from ..operators.tswindow import ohlc_bars, with_holt_linear

    ev = _events_series(spark, sf_dir).select(
        F.col("user_id").cast("long").alias("user_id"), "ts", "value", "event_id"
    )
    bars = ohlc_bars(ev, "user_id", "ts", "value", bucket_seconds=86400).select(
        "user_id", F.col("bucket").alias("day"), "close"
    )
    out = with_holt_linear(
        bars,
        "close",
        ["user_id"],
        ["day"],
        alpha=_HOLT_ALPHA,
        beta=_HOLT_BETA,
        L=_HOLT_L,
    )
    return out.select(
        "user_id",
        "day",
        q6(F.col("level")).alias("level"),
        q6(F.col("trend")).alias("trend"),
        q6(F.col("forecast_1")).alias("forecast_1"),
    )


@register(
    "w_theilsen_daily_trend",
    oracle=f"""
    WITH d AS (
      SELECT user_id,
             datediff('day', DATE '2024-01-01',
                      CAST(date_trunc('day', ts) AS DATE)) AS x,
             floor(avg(value) {_Q6} AS v
      FROM events GROUP BY 1, 2
    ), p AS (
      SELECT a.user_id,
             (b.v - a.v) / (b.x - a.x) AS slope
      FROM d a JOIN d b
        ON a.user_id = b.user_id
       AND b.x > a.x AND b.x - a.x <= 90
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(count(*) AS BIGINT) AS n_pairs,
           floor(quantile_cont(slope, 0.5) {_Q6} AS theilsen_slope
    FROM p GROUP BY user_id ORDER BY user_id
    """,
)
def w_theilsen_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend per series: the median of pairwise
    day-to-day slopes of the daily-mean value — the estimator that
    shrugs off the outlier days that wreck agg_linear_trend's
    least-squares slope (and the robust twin w_rolling_mad_anomaly's
    philosophy applied to trend). SPAN-CAPPED at 90 days: classic
    Theil–Sen is quadratic in the day spine, which is calendar-bounded
    but still grows as years accumulate; capping the pair span bounds
    per-day fan-out at 90 — the standard windowed variant — making the
    pair build LINEAR in the spine while keeping the breakdown
    robustness local trends need. Pinned conventions: pairs on the
    (user, day)-mean frame (q6-quantized so both engines divide
    identical doubles; the slope division itself is row-wise exact),
    median = the interpolating quantile (Spark `percentile` ≡ DuckDB
    `quantile_cont`, averaging the two middle slopes on even counts).

    Plan: one (user, day) agg on the fact scan, a user-keyed
    self-join on the tiny day frame, one user-keyed agg. The exact
    percentile is per-user over ≤ 90·|days| slopes — bounded state,
    not a corpus-wide sort."""
    from ..operators.numeric import q6

    ev = _events_series(spark, sf_dir)
    d = ev.groupBy(
        "user_id",
        F.datediff(
            F.date_trunc("day", "ts").cast("date"), F.lit("2024-01-01").cast("date")
        ).alias("x"),
    ).agg(q6(F.avg("value")).alias("v"))
    a = d.select(F.col("user_id"), F.col("x").alias("xa"), F.col("v").alias("va"))
    b = d.select(F.col("user_id"), F.col("x").alias("xb"), F.col("v").alias("vb"))
    p = (
        a.join(b, "user_id")
        .filter((F.col("xb") > F.col("xa")) & (F.col("xb") - F.col("xa") <= 90))
        .select(
            "user_id",
            ((F.col("vb") - F.col("va")) / (F.col("xb") - F.col("xa"))).alias("slope"),
        )
    )
    return (
        p.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            q6(F.expr("percentile(slope, 0.5)")).alias("theilsen_slope"),
        )
        .withColumn("user_id", F.col("user_id").cast("long"))
        .orderBy("user_id")
    )


@register(
    "w_mann_kendall_trend",
    oracle=f"""
    WITH d AS (
      SELECT user_id,
             datediff('day', DATE '2024-01-01',
                      CAST(date_trunc('day', ts) AS DATE)) AS x,
             floor(avg(value) {_Q6} AS v
      FROM events GROUP BY 1, 2
    ), s AS (
      SELECT a.user_id,
             CAST(sum(CASE WHEN b.v > a.v THEN 1
                           WHEN b.v < a.v THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
      FROM d a JOIN d b ON a.user_id = b.user_id AND b.x > a.x
      GROUP BY 1
    ), n AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_days FROM d GROUP BY 1
    ), t AS (
      SELECT user_id,
             CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
      FROM (SELECT user_id, CAST(count(*) AS BIGINT) AS t
            FROM d GROUP BY user_id, v)
      GROUP BY 1
    ), m AS (
      SELECT n.user_id, n.n_days, s.s_stat,
             CAST(n.n_days * (n.n_days - 1) * (2 * n.n_days + 5)
                  - t.tie_term AS BIGINT) AS var_s_x18
      FROM n JOIN s USING (user_id) JOIN t USING (user_id)
    )
    SELECT CAST(user_id AS BIGINT) AS user_id, n_days, s_stat, var_s_x18,
           CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var_s_x18 / 18.0)
                WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var_s_x18 / 18.0)
                ELSE 0.0 END AS z_mk
    FROM m ORDER BY user_id
    """,
)
def w_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall trend test per series — the nonparametric
    is-there-a-monotonic-trend companion to w_theilsen_daily_trend's
    slope estimate (the standard pairing: MK decides significance,
    Theil–Sen sizes the trend): S = Σ sign(v_j − v_i) over all ordered
    day pairs of the daily-mean series, tie-corrected variance
    Var(S) = [n(n−1)(2n+5) − Σ t(t−1)(2t+5)]/18, continuity-corrected
    z. S, n, and the ×18 variance numerator are EXACT int64 (sign
    comparisons run on q6-quantized daily means, identical doubles
    both engines), and z is a fixed IEEE chain over those integers —
    no output quantization at all, the agg_kendall_tau_b stance.

    Plan: one (user, day) agg on the fact scan, then every frame is
    day-spine-sized — the pairwise build is a user-keyed self-join on
    the CALENDAR-BOUNDED daily frame (the theilsen posture; at
    decade-scale horizons window the pair span the same way theilsen
    caps at 90 days), plus two tiny rollups. Nothing downstream of the
    first agg scales with the row count."""
    from ..operators.numeric import q6

    ev = _events_series(spark, sf_dir)
    d = ev.groupBy(
        "user_id",
        F.datediff(
            F.date_trunc("day", "ts").cast("date"), F.lit("2024-01-01").cast("date")
        ).alias("x"),
    ).agg(q6(F.avg("value")).alias("v"))
    a = d.select(F.col("user_id"), F.col("x").alias("xa"), F.col("v").alias("va"))
    b = d.select(F.col("user_id"), F.col("x").alias("xb"), F.col("v").alias("vb"))
    s = (
        a.join(b, "user_id")
        .filter(F.col("xb") > F.col("xa"))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("vb") > F.col("va"), 1)
                .when(F.col("vb") < F.col("va"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s_stat")
        )
    )
    n = d.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    t = (
        d.groupBy("user_id", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .groupBy("user_id")
        .agg(
            F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5))
            .cast("long")
            .alias("tie_term")
        )
    )
    m = (
        n.join(s, "user_id")
        .join(t, "user_id")
        .select(
            "user_id",
            "n_days",
            "s_stat",
            (
                F.col("n_days") * (F.col("n_days") - 1) * (2 * F.col("n_days") + 5)
                - F.col("tie_term")
            )
            .cast("long")
            .alias("var_s_x18"),
        )
    )
    sd = F.sqrt(F.col("var_s_x18") / 18.0)
    return m.select(
        F.col("user_id").cast("long").alias("user_id"),
        "n_days",
        "s_stat",
        "var_s_x18",
        F.when(F.col("s_stat") > 0, (F.col("s_stat") - 1) / sd)
        .when(F.col("s_stat") < 0, (F.col("s_stat") + 1) / sd)
        .otherwise(F.lit(0.0))
        .alias("z_mk"),
    ).orderBy("user_id")


from . import ORACLE as _ORACLE  # noqa: E402

# Reuse w_holt_forecast's entire CTE chain (bars -> ... -> lt) verbatim,
# swapping only the final SELECT — the two oracles stay in lockstep by
# construction if the Holt constants ever change.
_HOLT_CTES = _ORACLE["w_holt_forecast"].rsplit("SELECT user_id, day,", 1)[0]


@register(
    "w_holt_forecast_eval",
    oracle=f"""{_HOLT_CTES}, fe AS (
      SELECT user_id, day, lvl + trd AS f1 FROM lt
    ), j AS (
      SELECT b.user_id, b.close,
             lag(f.f1)    OVER (PARTITION BY b.user_id ORDER BY b.day) AS f_prev,
             lag(b.close) OVER (PARTITION BY b.user_id ORDER BY b.day) AS c_prev
      FROM bars b JOIN fe f ON f.user_id = b.user_id AND f.day = b.day
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_evals,
           floor(avg(abs(close - f_prev)) {_Q6} AS mae,
           floor(sqrt(avg((close - f_prev) * (close - f_prev))) {_Q6} AS rmse,
           floor(avg(abs(close - f_prev) / nullif(abs(close), 0)) * 100 {_Q6}
             AS mape_pct,
           floor(avg(abs(close - f_prev))
                 / nullif(avg(abs(close - c_prev)), 0) {_Q6} AS mase
    FROM j WHERE f_prev IS NOT NULL
    GROUP BY user_id ORDER BY user_id
    """,
)
def w_holt_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Walk-forward evaluation of the Holt one-step forecast — the
    time-series counterpart of the ML block's directional-accuracy
    metrics (M11/M12): yesterday's forecast_1 scored against today's
    close, per series, as MAE / RMSE / MAPE / MASE (MASE denominator =
    the naive persistence forecast's MAE over the SAME evaluation
    rows, so MASE < 1 means Holt genuinely beats carry-forward). The
    evaluation join is a lag — no leakage by construction: forecast
    f1_{t-1} uses only data through t-1.

    Zero closes exist in the synthetic series, so MAPE's per-row
    division is nullif-guarded (both engines' avg skips the NULL rows
    — the pinned convention) and MASE's denominator likewise.
    Plan: the Holt closed form's one extra series-keyed exchange,
    then lag + one user-keyed agg on the bar frame; the oracle reuses
    w_holt_forecast's CTE chain verbatim and swaps the final SELECT.
    Errors are row-wise exact (identical closed-form doubles both
    sides); only the per-user averages are q6'd."""
    from ..operators.numeric import q6
    from ..operators.tswindow import ohlc_bars, with_holt_linear

    ev = _events_series(spark, sf_dir).select(
        F.col("user_id").cast("long").alias("user_id"), "ts", "value", "event_id"
    )
    bars = ohlc_bars(ev, "user_id", "ts", "value", bucket_seconds=86400).select(
        "user_id", F.col("bucket").alias("day"), "close"
    )
    fc = with_holt_linear(
        bars, "close", ["user_id"], ["day"],
        alpha=_HOLT_ALPHA, beta=_HOLT_BETA, L=_HOLT_L,
    )
    w = Window.partitionBy("user_id").orderBy("day")
    j = fc.select(
        "user_id",
        "close",
        F.lag("forecast_1").over(w).alias("f_prev"),
        F.lag("close").over(w).alias("c_prev"),
    ).filter(F.col("f_prev").isNotNull())
    e = F.abs(F.col("close") - F.col("f_prev"))
    return (
        j.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_evals"),
            q6(F.avg(e)).alias("mae"),
            q6(
                F.sqrt(
                    F.avg(
                        (F.col("close") - F.col("f_prev"))
                        * (F.col("close") - F.col("f_prev"))
                    )
                )
            ).alias("rmse"),
            q6(
                F.avg(
                    e
                    / F.when(
                        F.abs(F.col("close")) != 0, F.abs(F.col("close"))
                    )
                )
                * 100
            ).alias("mape_pct"),
            q6(
                F.avg(e)
                / F.when(
                    F.avg(F.abs(F.col("close") - F.col("c_prev"))) != 0,
                    F.avg(F.abs(F.col("close") - F.col("c_prev"))),
                )
            ).alias("mase"),
        )
        .orderBy("user_id")
    )


@register(
    "w_ljung_box",
    oracle=f"""
    WITH d AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
             floor(avg(value) {_Q6} AS v
      FROM events GROUP BY 1, 2
    ), l AS (
      SELECT user_id, v,
             lag(v, 1) OVER (PARTITION BY user_id ORDER BY day) AS v1,
             lag(v, 2) OVER (PARTITION BY user_id ORDER BY day) AS v2,
             lag(v, 3) OVER (PARTITION BY user_id ORDER BY day) AS v3
      FROM l_src
    ), a AS (
      SELECT CAST(user_id AS BIGINT) AS user_id,
             CAST(count(*) AS BIGINT) AS n,
             floor(corr(v, v1) {_Q6} AS r1,
             floor(corr(v, v2) {_Q6} AS r2,
             floor(corr(v, v3) {_Q6} AS r3
      FROM l GROUP BY user_id
    )
    SELECT user_id, n,
           floor(n * (n + 2.0) * (r1 * r1 / (n - 1) + r2 * r2 / (n - 2)
                                + r3 * r3 / (n - 3)) {_Q6} AS lb_q,
           CAST(3 AS BIGINT) AS df
    FROM a ORDER BY user_id
    """.replace("FROM l_src", "FROM d"),
)
def w_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung–Box portmanteau statistic at lags 1–3 of each series'
    daily-mean value: Q = n(n+2)·Σ ρ_k²/(n−k) — the "is there ANY
    autocorrelation" test read next to w_autocorrelation's per-lag
    view (compare Q against chi²(df=3) quantiles offline; the engine
    emits the exact statistic + df rather than a p-value, keeping the
    output closed-form and engine-portable). Same pinned numeric
    discipline as the ACF query: q6-quantized daily means BEFORE the
    correlations, q6'd ρ values feeding an exact final expression.

    Plan: identical to w_autocorrelation — one (user, day) agg, one
    series-keyed window pass for the three lags, one user-keyed agg,
    then a 1-row-per-user arithmetic select."""
    from ..operators.numeric import q6

    ev = _events_series(spark, sf_dir)
    d = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(q6(F.avg("value")).alias("v"))
    w = Window.partitionBy("user_id").orderBy("day")
    lagged = d.select(
        "user_id",
        "v",
        F.lag("v", 1).over(w).alias("v1"),
        F.lag("v", 2).over(w).alias("v2"),
        F.lag("v", 3).over(w).alias("v3"),
    )
    a = lagged.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        q6(F.corr("v", "v1")).alias("r1"),
        q6(F.corr("v", "v2")).alias("r2"),
        q6(F.corr("v", "v3")).alias("r3"),
    )
    n = F.col("n")
    return (
        a.select(
            F.col("user_id").cast("long").alias("user_id"),
            "n",
            q6(
                n
                * (n + 2.0)
                * (
                    F.col("r1") * F.col("r1") / (n - 1)
                    + F.col("r2") * F.col("r2") / (n - 2)
                    + F.col("r3") * F.col("r3") / (n - 3)
                )
            ).alias("lb_q"),
            F.lit(3).cast("long").alias("df"),
        )
        .orderBy("user_id")
    )


# Partial autocorrelations at lags 1-3 via the Durbin-Levinson closed
# form, unrolled into 1-row-per-user float expressions over the q6'd
# autocorrelations; with w_autocorrelation (ACF) and w_ljung_box it
# completes the Box-Jenkins identification trio.
register_sql(
    "w_pacf",
    f"""
    WITH d AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
             floor(avg(value) {_Q6} AS v
      FROM {{events}} GROUP BY 1, 2
    ), l AS (
      SELECT user_id, v,
             lag(v, 1) OVER (PARTITION BY user_id ORDER BY day) AS v1,
             lag(v, 2) OVER (PARTITION BY user_id ORDER BY day) AS v2,
             lag(v, 3) OVER (PARTITION BY user_id ORDER BY day) AS v3
      FROM d
    ), a AS (
      SELECT CAST(user_id AS BIGINT) AS user_id,
             CAST(count(*) AS BIGINT) AS n_days,
             floor(corr(v, v1) {_Q6} AS r1,
             floor(corr(v, v2) {_Q6} AS r2,
             floor(corr(v, v3) {_Q6} AS r3
      FROM l GROUP BY user_id
    ), p2 AS (
      SELECT *, (r2 - r1 * r1) / (1 - r1 * r1) AS phi22 FROM a
    ), p3 AS (
      SELECT *, r1 * (1 - phi22) AS phi21 FROM p2
    )
    SELECT user_id, n_days,
           floor(r1 {_Q6} AS pacf1,
           floor(phi22 {_Q6} AS pacf2,
           floor((r3 - phi21 * r2 - phi22 * r1)
                 / (1 - phi21 * r1 - phi22 * r2) {_Q6} AS pacf3
    FROM p3 ORDER BY user_id
    """,
)


@register(
    "w_donchian_channels",
    oracle=f"""
    WITH {_DAILY_BARS_ORACLE}
    SELECT user_id, day, close,
           max(high) OVER (PARTITION BY user_id ORDER BY day
             ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS upper_ch,
           min(low)  OVER (PARTITION BY user_id ORDER BY day
             ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS lower_ch,
           (max(high) OVER (PARTITION BY user_id ORDER BY day
              ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
            + min(low) OVER (PARTITION BY user_id ORDER BY day
              ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)) / 2 AS mid_ch
    FROM bars
    """,
)
def w_donchian_channels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Donchian channels over daily OHLC bars: trailing-20-bar rolling
    max(high) / min(low) and their midpoint — the breakout-system
    envelope (Turtle rules) and the simplest of the channel indicator
    family. Rolling MAX/MIN are ORDER-FREE aggregates: unlike rolling
    sums there is no accumulation order to drift between engines, so
    every output is raw-value exact and nothing needs quantizing (the
    midpoint is one add + one halving — both exact single IEEE ops on
    identical inputs).

    Plan: the tswindow.ohlc_bars fold (two series-keyed exchanges, the
    pre-aggregation cascade posture), then ONE WindowExec evaluates
    all three frames — at 100 TB the tick scan dominates and the
    indicator costs bar-frame rows."""
    from ..operators.tswindow import ohlc_bars

    ev = _events_series(spark, sf_dir).select(
        F.col("user_id").cast("long").alias("user_id"), "ts", "value", "event_id"
    )
    bars = ohlc_bars(ev, "user_id", "ts", "value", bucket_seconds=86400).select(
        "user_id", F.col("bucket").alias("day"), "high", "low", "close"
    )
    w20 = Window.partitionBy("user_id").orderBy("day").rowsBetween(-19, 0)
    upper = F.max("high").over(w20)
    lower = F.min("low").over(w20)
    return bars.select(
        "user_id",
        "day",
        "close",
        upper.alias("upper_ch"),
        lower.alias("lower_ch"),
        ((upper + lower) / 2).alias("mid_ch"),
    )


@register(
    "w_mfi_14",
    oracle=f"""
    WITH {_DAILY_BARS_ORACLE}, tp AS (
      SELECT user_id, day, n_trades,
             (high + low + close) / 3 AS typical
      FROM bars
    ), fl AS (
      SELECT user_id, day, typical, n_trades,
             typical * n_trades AS raw_mf,
             lag(typical) OVER (PARTITION BY user_id ORDER BY day) AS pt
      FROM tp
    ), dirs AS (
      SELECT user_id, day,
             CASE WHEN pt IS NOT NULL AND typical > pt THEN raw_mf ELSE 0 END AS pos_mf,
             CASE WHEN pt IS NOT NULL AND typical < pt THEN raw_mf ELSE 0 END AS neg_mf
      FROM fl
    ), s AS (
      SELECT user_id, day,
             sum(pos_mf) OVER (PARTITION BY user_id ORDER BY day
               ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS p14,
             sum(neg_mf) OVER (PARTITION BY user_id ORDER BY day
               ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS n14
      FROM dirs
    )
    SELECT user_id, day,
           floor(p14 {_Q6} AS pos_mf_14,
           floor(n14 {_Q6} AS neg_mf_14,
           CASE WHEN p14 + n14 > 0
                THEN floor(100.0 * p14 / (p14 + n14) {_Q6}
                ELSE NULL END AS mfi_14
    FROM s
    """,
)
def w_mfi_14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Money Flow Index over daily bars — the volume-weighted RSI:
    typical price = (H+L+C)/3, raw money flow = typical × volume
    (n_trades plays volume, the FIXTURES.md mapping), classified
    positive/negative by typical-price direction vs the prior bar (the
    first bar and unchanged bars contribute to neither side — the
    standard convention), then MFI = 100·pos/(pos+neg) over a trailing
    14-bar frame. NULL when both 14-bar flows are zero (flat series) —
    an explicit no-signal, not a guessed 50.

    Determinism: typical and raw_mf are row-wise single-op exact; the
    two 14-term windowed float sums are the only order-sensitive
    aggregates, so the sums and the final ratio are q6'd (DuckDB's
    segment-tree windowed aggregation does not fix an accumulation
    order the way Spark's running fold does)."""
    from ..operators.numeric import q6
    from ..operators.tswindow import ohlc_bars

    ev = _events_series(spark, sf_dir).select(
        F.col("user_id").cast("long").alias("user_id"), "ts", "value", "event_id"
    )
    bars = ohlc_bars(ev, "user_id", "ts", "value", bucket_seconds=86400).select(
        "user_id", F.col("bucket").alias("day"), "high", "low", "close", "n_trades"
    )
    w = Window.partitionBy("user_id").orderBy("day")
    typical = (F.col("high") + F.col("low") + F.col("close")) / 3
    tp = bars.select("user_id", "day", "n_trades", typical.alias("typical"))
    fl = tp.select(
        "user_id",
        "day",
        "typical",
        (F.col("typical") * F.col("n_trades")).alias("raw_mf"),
        F.lag("typical").over(w).alias("pt"),
    )
    dirs = fl.select(
        "user_id",
        "day",
        F.when(
            F.col("pt").isNotNull() & (F.col("typical") > F.col("pt")),
            F.col("raw_mf"),
        )
        .otherwise(F.lit(0.0))
        .alias("pos_mf"),
        F.when(
            F.col("pt").isNotNull() & (F.col("typical") < F.col("pt")),
            F.col("raw_mf"),
        )
        .otherwise(F.lit(0.0))
        .alias("neg_mf"),
    )
    w14 = Window.partitionBy("user_id").orderBy("day").rowsBetween(-13, 0)
    p14 = F.sum("pos_mf").over(w14)
    n14 = F.sum("neg_mf").over(w14)
    return dirs.select(
        "user_id",
        "day",
        q6(p14).alias("pos_mf_14"),
        q6(n14).alias("neg_mf_14"),
        F.when(p14 + n14 > 0, q6(F.lit(100.0) * p14 / (p14 + n14))).alias("mfi_14"),
    )


@register(
    "w_keltner_channels",
    oracle=f"""
    WITH {_DAILY_BARS_ORACLE}, t AS (
      SELECT user_id, day, high, low, close,
             (high + low + close) / 3 AS typical,
             lag(close) OVER (PARTITION BY user_id ORDER BY day) AS pc
      FROM bars
    ), tr_t AS (
      SELECT user_id, day, typical,
             greatest(high - low,
                      abs(high - coalesce(pc, close)),
                      abs(low  - coalesce(pc, close))) AS tr
      FROM t
    ), s AS (
      SELECT user_id, day,
             avg(typical) OVER (PARTITION BY user_id ORDER BY day
               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS mid,
             avg(tr) OVER (PARTITION BY user_id ORDER BY day
               ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS atr10
      FROM tr_t
    )
    SELECT user_id, day,
           floor(mid {_Q6}              AS mid_line,
           floor((mid + 2 * atr10) {_Q6} AS upper_band,
           floor((mid - 2 * atr10) {_Q6} AS lower_band
    FROM s
    """,
)
def w_keltner_channels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keltner channels over daily bars: middle line = trailing-20-bar
    mean of the typical price, bands = middle ± 2 × ATR(10) — the
    volatility-scaled channel (vs Donchian's raw extremes and
    Bollinger's stddev bands, completing the channel family). SMA
    parity for both leg averages — the same documented convention as
    w_macd_sma and w_atr_14 (the true-EMA recurrence exists separately
    as w_ema / w_atr_wilder and composes identically if an EMA flavor
    is ever needed).

    Plan: ONE bar fold, then a single WindowExec evaluates both frames
    (20-bar typical mean, 10-bar TR mean) over the same (user, day)
    sort. The windowed float means are q6'd; TR itself is row-wise
    exact greatest/abs arithmetic."""
    from ..operators.numeric import q6
    from ..operators.tswindow import ohlc_bars

    ev = _events_series(spark, sf_dir).select(
        F.col("user_id").cast("long").alias("user_id"), "ts", "value", "event_id"
    )
    bars = ohlc_bars(ev, "user_id", "ts", "value", bucket_seconds=86400).select(
        "user_id", F.col("bucket").alias("day"), "high", "low", "close"
    )
    w = Window.partitionBy("user_id").orderBy("day")
    pc = F.coalesce(F.lag("close").over(w), F.col("close"))
    tr_t = bars.select(
        "user_id",
        "day",
        ((F.col("high") + F.col("low") + F.col("close")) / 3).alias("typical"),
        F.greatest(
            F.col("high") - F.col("low"),
            F.abs(F.col("high") - pc),
            F.abs(F.col("low") - pc),
        ).alias("tr"),
    )
    w20 = Window.partitionBy("user_id").orderBy("day").rowsBetween(-19, 0)
    w10 = Window.partitionBy("user_id").orderBy("day").rowsBetween(-9, 0)
    mid = F.avg("typical").over(w20)
    atr10 = F.avg("tr").over(w10)
    return tr_t.select(
        "user_id",
        "day",
        q6(mid).alias("mid_line"),
        q6(mid + 2 * atr10).alias("upper_band"),
        q6(mid - 2 * atr10).alias("lower_band"),
    )


@register(
    "w_mase_seasonal_naive",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
             sum(o_totalprice) AS revenue
      FROM orders GROUP BY 1
    ), lagged AS (
      SELECT day, revenue,
             lag(revenue, 1) OVER (ORDER BY day) AS r1,
             lag(revenue, 7) OVER (ORDER BY day) AS r7
      FROM daily
    ), scored AS (
      SELECT abs(revenue - r1) AS ae_naive,
             abs(revenue - r7) AS ae_snaive
      FROM lagged WHERE r1 IS NOT NULL AND r7 IS NOT NULL
    )
    SELECT CAST(count(*) AS BIGINT) AS n_days,
           floor(avg(ae_naive) * 1000000 + 0.5) / 1000000  AS mae_naive,
           floor(avg(ae_snaive) * 1000000 + 0.5) / 1000000 AS mae_snaive,
           floor(avg(ae_snaive) / avg(ae_naive) * 1000000 + 0.5) / 1000000
             AS mase_snaive
    FROM scored
    """,
)
def w_mase_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MASE-style forecast-baseline evaluation on the daily revenue
    series: mean absolute error of the SEASONAL-naive forecast
    (revenue 7 days ago — the weekly-pattern baseline) scaled by the
    MAE of the one-step naive forecast (yesterday's revenue — MASE's
    canonical denominator, Hyndman & Koehler 2006). mase < 1 means the
    weekly pattern beats persistence — the go/no-go gate every
    forecasting job (w_holt_forecast_eval's Holt included) should
    clear against before shipping. Scored only on days where BOTH
    baselines exist, so the two MAEs average the same row set.

    Plan: the fact scan collapses to the calendar day spine before any
    window; the lags ride the GUARDED single-partition spine contract
    (tswindow.spine_window, r7 #5), then one 1-row aggregate. The MAEs
    and ratio are the only order-sensitive float sums — q6'd."""
    from ..operators.numeric import q6
    from ..operators.tswindow import spine_window

    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.date_trunc("day", "o_orderdate").cast("date").alias("day")
    ).agg(F.sum("o_totalprice").alias("revenue"))
    daily, base = spine_window(daily, ["day"], max_rows=65536, label="day-spine")
    lagged = daily.select(
        "revenue",
        F.lag("revenue", 1).over(base).alias("r1"),
        F.lag("revenue", 7).over(base).alias("r7"),
    ).filter(F.col("r1").isNotNull() & F.col("r7").isNotNull())
    ae_n = F.abs(F.col("revenue") - F.col("r1"))
    ae_s = F.abs(F.col("revenue") - F.col("r7"))
    return lagged.agg(
        F.count(F.lit(1)).alias("n_days"),
        q6(F.avg(ae_n)).alias("mae_naive"),
        q6(F.avg(ae_s)).alias("mae_snaive"),
        q6(F.avg(ae_s) / F.avg(ae_n)).alias("mase_snaive"),
    )


@register(
    "w_ewma_control_chart",
    oracle=f"""
    WITH base AS (
      SELECT event_id, user_id, ts, value,
             row_number() OVER ({_W_ORACLE}) - 1 AS g
      FROM events
    ), reb AS (
      SELECT *, g % {_EMA_L} AS pos, g // {_EMA_L} AS blk,
             value * power({_EMA_A!r}, -(g % {_EMA_L})) AS v
      FROM base
    ), sums AS (
      SELECT *,
             sum(v) OVER (PARTITION BY user_id, blk ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vrun
      FROM reb
    ), tots AS (
      SELECT *,
             last_value(vrun) OVER (PARTITION BY user_id, blk ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS vtot
      FROM sums
    ), spliced AS (
      SELECT *,
             coalesce(lag(vtot, {_EMA_L}) OVER ({_W_ORACLE})
                    - lag(vrun, {_EMA_L}) OVER ({_W_ORACLE}), 0.0) AS prev
      FROM tots
    ), ema AS (
      SELECT event_id, user_id, ts, value,
             power({_EMA_A!r}, pos)
               * (vrun + power({_EMA_A!r}, {float(_EMA_L)!r}) * prev)
               / ((1.0 - power({_EMA_A!r}, least(g + 1, {_EMA_L})))
                  / {1.0 - _EMA_A!r}) AS z
      FROM spliced
    ), st AS (
      SELECT event_id, user_id, ts,
             floor(z * 1000000 + 0.5) / 1000000 AS ewma,
             floor((avg(value) OVER (PARTITION BY user_id)
                    + 3 * stddev_pop(value) OVER (PARTITION BY user_id)
                        * sqrt(0.2)) * 1000000 + 0.5) / 1000000 AS ucl,
             floor((avg(value) OVER (PARTITION BY user_id)
                    - 3 * stddev_pop(value) OVER (PARTITION BY user_id)
                        * sqrt(0.2)) * 1000000 + 0.5) / 1000000 AS lcl
      FROM ema
    )
    SELECT event_id, user_id, ts, ewma, ucl, lcl,
           CAST(CASE WHEN ewma > ucl OR ewma < lcl THEN 1 ELSE 0 END AS BIGINT)
             AS out_of_control
    FROM st
    """,
)
def w_ewma_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control chart (Roberts 1959) — the SPC companion to
    w_cusum_drift_alerts: the chart line is the TRUE exponential
    moving average (the same block-rebased exact closed form as w_ema,
    span 5 → λ = 1/3), control limits are the self-baselined
    steady-state pair μ₀ ± 3σ₀·√(λ/(2−λ)) (λ/(2−λ) = 0.2 exactly at
    this span; the asymptotic width practical charts run at), with
    μ₀/σ₀ the series' own mean and population stddev — the same
    derive-the-target-from-the-key convention the CUSUM query uses.
    CUSUM reacts fastest to sustained small shifts; the EWMA chart
    adds a graded line + band view of the same drift.

    Plan: ONE hash exchange on user_id serves every window (the EMA
    block windows cluster on a superset of the key, and the per-key
    stats windows reuse the same partitioning). Determinism: the EMA
    arithmetic is the w_ema oracle mirrored step-for-step; the
    unordered per-key mean/stddev sums and the chart line are q6'd,
    and the out-of-control flag compares the QUANTIZED line to the
    QUANTIZED limits on both engines."""
    from ..operators.numeric import q6

    ev = _events_series(spark, sf_dir)
    df = TS.with_ema(
        ev,
        "value",
        "z",
        ["user_id"],
        ["ts", "event_id"],
        span=_EMA_SPAN,
        block_factor=_EMA_BLOCK_FACTOR,
    )
    wu = Window.partitionBy("user_id")
    mu = F.avg("value").over(wu)
    sig = F.stddev_pop("value").over(wu)
    half = F.lit(3.0) * sig * F.sqrt(F.lit(0.2))
    out = df.select(
        "event_id",
        "user_id",
        "ts",
        q6(F.col("z")).alias("ewma"),
        q6(mu + half).alias("ucl"),
        q6(mu - half).alias("lcl"),
    )
    return out.withColumn(
        "out_of_control",
        F.when(
            (F.col("ewma") > F.col("ucl")) | (F.col("ewma") < F.col("lcl")), 1
        )
        .otherwise(0)
        .cast("long"),
    )


@register(
    "w_zscore_seasonal_dow",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
             sum(o_totalprice) AS revenue
      FROM orders GROUP BY 1
    ), basel AS (
      SELECT dayofweek(day) AS dow,
             avg(revenue) AS mu,
             stddev_samp(revenue) AS sd
      FROM daily GROUP BY 1
    ), scored AS (
      SELECT d.day, d.revenue, b.dow,
             floor((d.revenue - b.mu) / nullif(b.sd, 0) * 1000000 + 0.5)
               / 1000000 AS z_dow
      FROM daily d JOIN basel b ON b.dow = dayofweek(d.day)
    )
    SELECT day, revenue, CAST(dow AS BIGINT) AS dow, z_dow,
           CAST(CASE WHEN abs(z_dow) > 2.0 THEN 1 ELSE 0 END AS BIGINT)
             AS is_anomaly
    FROM scored ORDER BY day
    """,
)
def w_zscore_seasonal_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-baseline anomaly detection: each day's revenue scored
    against ITS DAY-OF-WEEK's own mean/stddev — the 'is this Monday
    weird FOR A MONDAY' detector, which catches what a global z-score
    (w_pct_change_zscore_anomaly) structurally cannot: on a weekly-
    seasonal series every weekend looks anomalous globally and every
    anomalous weekend looks normal. Day-of-week parity pinned to
    DuckDB's 0=Sunday..6 (Spark dayofweek() − 1, the
    w_seasonal_decompose_daily convention); stddev flavor samp,
    explicit.

    Plan: the fact scan collapses to the day spine, the 7-row baseline
    broadcast-joins back — scan-dominated at 100 TB, no window at all
    (the baseline is a groupBy, deliberately: nothing here needs an
    ordered frame). z is q6'd (unordered float sums); the flag
    compares the QUANTIZED z to 2.0 on both engines."""
    from ..operators.numeric import q6

    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.date_trunc("day", "o_orderdate").cast("date").alias("day")
    ).agg(F.sum("o_totalprice").alias("revenue"))
    basel = daily.groupBy((F.dayofweek("day") - 1).alias("dow")).agg(
        F.avg("revenue").alias("mu"),
        F.stddev_samp("revenue").alias("sd"),
    )
    scored = daily.join(
        F.broadcast(basel), (F.dayofweek(daily["day"]) - 1) == basel["dow"]
    ).select(
        "day",
        "revenue",
        F.col("dow").cast("long").alias("dow"),
        q6((F.col("revenue") - F.col("mu")) / F.nullif(F.col("sd"), F.lit(0.0))).alias(
            "z_dow"
        ),
    )
    return scored.withColumn(
        "is_anomaly",
        F.when(F.abs(F.col("z_dow")) > 2.0, 1).otherwise(0).cast("long"),
    ).orderBy("day")


@register(
    "w_page_hinkley_drift",
    oracle=f"""
    WITH v AS (
      SELECT event_id, user_id, ts,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS vi
      FROM events
    ), b AS (
      SELECT event_id, user_id, ts, vi,
             row_number() OVER ({_W_ORACLE}) AS i,
             sum(vi) OVER ({_W_ORACLE}
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
      FROM v
    ), t AS (
      SELECT event_id, user_id, ts,
             CAST(floor((vi - s * 1.0 / i - 500000.0) + 0.5) AS BIGINT) AS ti
      FROM b
    ), m AS (
      SELECT event_id, user_id, ts,
             sum(ti) OVER ({_W_ORACLE}
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mt
      FROM t
    ), mm AS (
      SELECT event_id, user_id, ts, mt,
             min(mt) OVER ({_W_ORACLE}
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m_min
      FROM m
    )
    SELECT event_id, user_id, ts,
           (mt - m_min) / 1000000.0 AS ph,
           CAST(CASE WHEN (mt - m_min) / 1000000.0 > 50.0
                     THEN 1 ELSE 0 END AS BIGINT) AS alert
    FROM mm
    """,
)
def w_page_hinkley_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page–Hinkley drift detector per series — the third sequential
    change detector beside the Lindley-form CUSUM and the EWMA chart
    (PH is the streaming-ML literature's standard drift test): per
    row, term_t = x_t − x̄_t − δ with x̄_t the RUNNING mean (running
    sum / running count — no stored history), m_T = Σ term_t, and the
    statistic PH_T = m_T − min_{t≤T} m_t, alerting when it exceeds λ
    (δ = 0.5, λ = 50 — self-baselined like the CUSUM query). An
    upward shift makes terms positive and m_T climb away from its
    running minimum.

    Determinism — the exact-integer-innovation discipline: a DOUBLE
    chain of cumulative-over-cumulative sums drifts between engines
    (DuckDB's segment-tree window sums reorder float adds; measured: a
    q6 boundary flip at sf0.01), so the stream is quantized ONCE into
    int64 micro-units — values exactly, the innovation after its one
    float division (the running mean, identical doubles both sides) —
    and everything cumulative runs in EXACT int64, order-independent
    by construction. PH and the alert are exact divisions/compares of
    identical integers; no output rounding needed at all. One exchange
    on the series key; the window passes share the same sort."""
    ev = _events_series(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cum = w.rowsBetween(Window.unboundedPreceding, 0)
    v = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.floor(F.col("value") * 1000000 + 0.5).cast("long").alias("vi"),
    )
    b = v.select(
        "event_id",
        "user_id",
        "ts",
        F.floor(
            (
                F.col("vi")
                - F.sum("vi").over(cum) * 1.0 / F.row_number().over(w)
                - F.lit(500000.0)
            )
            + 0.5
        )
        .cast("long")
        .alias("ti"),
    )
    m = b.select(
        "event_id", "user_id", "ts", F.sum("ti").over(cum).alias("mt")
    )
    mm = m.select(
        "event_id",
        "user_id",
        "ts",
        "mt",
        F.min("mt").over(cum).alias("m_min"),
    )
    ph = (F.col("mt") - F.col("m_min")) / F.lit(1000000.0)
    return mm.select(
        "event_id",
        "user_id",
        "ts",
        ph.alias("ph"),
        F.when(ph > 50.0, 1).otherwise(0).cast("long").alias("alert"),
    )


@register(
    "w_holt_forecast_interval",
    oracle=f"""{_HOLT_CTES}, fe AS (
      SELECT user_id, day, lvl + trd AS f1 FROM lt
    ), j AS (
      SELECT b.user_id, b.close,
             lag(f.f1) OVER (PARTITION BY b.user_id ORDER BY b.day) AS f_prev
      FROM bars b JOIN fe f ON f.user_id = b.user_id AND f.day = b.day
    ), resid AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_evals,
             stddev_samp(close - f_prev) AS sd
      FROM j WHERE f_prev IS NOT NULL GROUP BY user_id
    ), last_f AS (
      SELECT user_id, f1 FROM (
        SELECT user_id, f1,
               row_number() OVER (PARTITION BY user_id ORDER BY day DESC) AS rn
        FROM fe) WHERE rn = 1
    )
    SELECT r.user_id, r.n_evals,
           floor(l.f1 {_Q6} AS forecast_next,
           floor(r.sd {_Q6} AS resid_sd,
           floor((l.f1 - 1.96 * r.sd) {_Q6} AS lo_95,
           floor((l.f1 + 1.96 * r.sd) {_Q6} AS hi_95
    FROM resid r JOIN last_f l ON l.user_id = r.user_id
    ORDER BY r.user_id
    """,
)
def w_holt_forecast_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prediction intervals for the Holt next-step forecast — a point
    forecast without a band is half an answer, and this is the
    standard empirical-residual band (Hyndman's h=1 case, where it is
    exact up to normality: ±1.96 × the one-step-ahead residual
    stddev): residuals come from the SAME closed-form forecasts
    w_holt_forecast_eval scores, their sample stddev per series is the
    interval half-width, and the band brackets the last row's
    next-step forecast. Multi-step bands need the model's h-step
    variance recursion — out of scope by design; h=1 keeps every
    number SQL-replayable.

    Determinism: forecasts and residuals are row-wise identical
    (eigen-split closed form both sides); only stddev_samp's unordered
    sum and the derived band edges are q6'd."""
    from ..operators.numeric import q6
    from ..operators.tswindow import ohlc_bars, with_holt_linear

    ev = _events_series(spark, sf_dir).select(
        F.col("user_id").cast("long").alias("user_id"), "ts", "value", "event_id"
    )
    bars = ohlc_bars(ev, "user_id", "ts", "value", bucket_seconds=86400).select(
        "user_id", F.col("bucket").alias("day"), "close"
    )
    fc = with_holt_linear(
        bars, "close", ["user_id"], ["day"],
        alpha=_HOLT_ALPHA, beta=_HOLT_BETA, L=_HOLT_L,
    )
    w = Window.partitionBy("user_id").orderBy("day")
    # the residual agg AND the last-forecast pick both read this
    # bar-frame-sized projection — checkpoint once so the whole Holt
    # closed-form chain doesn't re-derive per reference
    j = materialize(
        fc.select(
            "user_id",
            "day",
            "close",
            "forecast_1",
            F.lag("forecast_1").over(w).alias("f_prev"),
            F.row_number()
            .over(Window.partitionBy("user_id").orderBy(F.desc("day")))
            .alias("_rn_desc"),
        )
    )
    resid = (
        j.filter(F.col("f_prev").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_evals"),
            F.stddev_samp(F.col("close") - F.col("f_prev")).alias("sd"),
        )
    )
    last_f = j.filter(F.col("_rn_desc") == 1).select(
        F.col("user_id").alias("_u"), F.col("forecast_1").alias("f1")
    )
    return (
        resid.join(last_f, resid["user_id"] == last_f["_u"])
        .select(
            "user_id",
            "n_evals",
            q6(F.col("f1")).alias("forecast_next"),
            q6(F.col("sd")).alias("resid_sd"),
            q6(F.col("f1") - 1.96 * F.col("sd")).alias("lo_95"),
            q6(F.col("f1") + 1.96 * F.col("sd")).alias("hi_95"),
        )
        .orderBy("user_id")
    )


@register(
    "w_changepoint_single_split",
    oracle="""
    WITH d AS (
      SELECT user_id,
             datediff('day', DATE '2024-01-01',
                      CAST(date_trunc('day', ts) AS DATE)) AS x,
             CAST(floor(avg(value) * 1000000 + 0.5) AS BIGINT) AS vi
      FROM events GROUP BY 1, 2
    ), c AS (
      SELECT user_id, x,
             CAST(row_number() OVER w AS BIGINT) AS i,
             CAST(sum(vi) OVER w AS BIGINT) AS cum
      FROM d
      WINDOW w AS (PARTITION BY user_id ORDER BY x
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), t AS (
      SELECT user_id, i AS n, cum AS s FROM c
      QUALIFY i = max(i) OVER (PARTITION BY user_id)
    ), m AS (
      SELECT c.user_id, c.x, c.i AS n_l, t.n - c.i AS n_r,
             c.cum AS s_l, t.s - c.cum AS s_r, t.n AS n_days
      FROM c JOIN t ON t.user_id = c.user_id
      WHERE c.i < t.n
    ), scored AS (
      SELECT user_id, x, n_l, n_r, s_l, s_r, n_days,
             CAST(s_l AS DOUBLE) * s_l / n_l
               + CAST(s_r AS DOUBLE) * s_r / n_r AS crit,
             row_number() OVER (
               PARTITION BY user_id
               ORDER BY CAST(s_l AS DOUBLE) * s_l / n_l
                        + CAST(s_r AS DOUBLE) * s_r / n_r DESC, x) AS rn
      FROM m
    )
    SELECT CAST(user_id AS BIGINT) AS user_id, n_days,
           CAST(x AS BIGINT) AS split_day_x, n_l, n_r,
           s_l / 1000000.0 / n_l AS mean_left,
           s_r / 1000000.0 / n_r AS mean_right,
           s_r / 1000000.0 / n_r - s_l / 1000000.0 / n_l AS mean_shift
    FROM scored WHERE rn = 1 ORDER BY user_id
    """,
)
def w_changepoint_single_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-split changepoint per series — the first round of binary
    segmentation (the classic offline changepoint scheme; CUSUM and
    Page-Hinkley are its online siblings already in the engine): the
    split day maximizing the between-segment sum-of-squares criterion
    s_l²/n_l + s_r²/n_r (equivalent to the SSE-reduction argmax since
    the total SSE is split-invariant), earliest-day tiebreak.

    Determinism: daily means quantize ONCE to int64 micro-units, the
    running total is an EXACT integer cumulative (order-independent —
    no float window accumulation anywhere), and the criterion is a
    fixed IEEE chain over those integers (cast-to-double exact below
    2^53, documented micro-unit bound ~3e9 per series at TPC-H
    magnitudes), so the argmax row and both segment means are
    engine-exact with no output quantization.

    Plan: one (user, day) agg on the fact scan; everything after is
    day-spine-sized — one per-user cumulative window, one join against
    the per-user last row, one argmax window. Recurse on the winning
    segments for full binary segmentation; each round costs one more
    spine-sized pass, never a fact re-scan."""
    from pyspark.sql import Window as W

    ev = _events_series(spark, sf_dir)
    d = ev.groupBy(
        "user_id",
        F.datediff(
            F.date_trunc("day", "ts").cast("date"), F.lit("2024-01-01").cast("date")
        ).alias("x"),
    ).agg(
        F.floor(F.avg("value") * 1000000 + F.lit(0.5)).cast("long").alias("vi")
    )
    w = W.partitionBy("user_id").orderBy("x").rowsBetween(W.unboundedPreceding, 0)
    c = d.select(
        "user_id",
        "x",
        F.row_number().over(W.partitionBy("user_id").orderBy("x")).cast("long").alias("i"),
        F.sum("vi").over(w).cast("long").alias("cum"),
    )
    wt = W.partitionBy("user_id")
    t = (
        c.withColumn("_mx", F.max("i").over(wt))
        .filter(F.col("i") == F.col("_mx"))
        .select("user_id", F.col("i").alias("n"), F.col("cum").alias("s"))
    )
    m = (
        c.join(t, "user_id")
        .filter(F.col("i") < F.col("n"))
        .select(
            "user_id",
            "x",
            F.col("i").alias("n_l"),
            (F.col("n") - F.col("i")).alias("n_r"),
            F.col("cum").alias("s_l"),
            (F.col("s") - F.col("cum")).alias("s_r"),
            F.col("n").alias("n_days"),
        )
    )
    crit = (
        F.col("s_l").cast("double") * F.col("s_l") / F.col("n_l")
        + F.col("s_r").cast("double") * F.col("s_r") / F.col("n_r")
    )
    ws = W.partitionBy("user_id").orderBy(F.desc(crit), F.asc("x"))
    return (
        m.withColumn("rn", F.row_number().over(ws))
        .filter(F.col("rn") == 1)
        .select(
            F.col("user_id").cast("long").alias("user_id"),
            "n_days",
            F.col("x").cast("long").alias("split_day_x"),
            "n_l",
            "n_r",
            (F.col("s_l") / 1000000.0 / F.col("n_l")).alias("mean_left"),
            (F.col("s_r") / 1000000.0 / F.col("n_r")).alias("mean_right"),
            (
                F.col("s_r") / 1000000.0 / F.col("n_r")
                - F.col("s_l") / 1000000.0 / F.col("n_l")
            ).alias("mean_shift"),
        )
        .orderBy("user_id")
    )


@register(
    "w_sax_symbols",
    oracle="""
    WITH d AS (
      SELECT user_id,
             datediff('day', DATE '2024-01-01',
                      CAST(date_trunc('day', ts) AS DATE)) AS x,
             CAST(floor(avg(value) * 1000000 + 0.5) AS BIGINT) AS vi
      FROM events GROUP BY 1, 2
    ), paa AS (
      SELECT user_id, CAST(floor(x / 7) AS BIGINT) AS wk,
             CAST(sum(vi) AS BIGINT) AS svi,
             CAST(count(*) AS BIGINT) AS nd
      FROM d GROUP BY 1, 2
    ), rk AS (
      SELECT user_id, wk, svi, nd,
             CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_weeks,
             CAST(row_number() OVER (
               PARTITION BY user_id
               ORDER BY CAST(svi AS DOUBLE) / nd, wk) AS BIGINT) AS r
      FROM paa
    ), sym AS (
      SELECT user_id, wk, n_weeks,
             CAST(floor(4.0 * (r - 1) / n_weeks) AS BIGINT) AS s
      FROM rk
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(max(n_weeks) AS BIGINT) AS n_weeks,
           string_agg(chr(97 + CAST(s AS INT)), '' ORDER BY wk) AS sax
    FROM sym GROUP BY user_id ORDER BY user_id
    """,
)
def w_sax_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolization per series (Lin et al. 2003, rank-binned
    variant): daily means → weekly PAA (piecewise aggregate
    approximation) → each week mapped to one of 4 symbols a-d by the
    week's EXACT rank among the user's weeks — the discretization that
    feeds motif discovery, series indexing, and anomaly grammars.
    Rank binning replaces the classic Gaussian breakpoints so the
    symbol boundary is a deterministic function of exact integers (the
    Gaussian variant needs a per-user mean/std standardization whose
    float boundaries are exactly the cross-engine hash risk this
    registry bans).

    Determinism: daily means quantize once to int64 micro-units;
    weekly PAA is an exact integer (sum, count) pair; the rank orders
    by the exact-double division svi/nd with the week index as
    tiebreak; symbols are integer arithmetic on ranks; the SAX string
    is an ordered aggregation with a pinned week order.

    Scale: one (user, day) agg on the fact scan, one (user, week) agg,
    one per-user window over the WEEK spine (calendar-bounded), one
    ordered collect per user — day-spine-sized after the first agg."""
    from pyspark.sql import Window as W

    ev = _events_series(spark, sf_dir)
    d = ev.groupBy(
        "user_id",
        F.datediff(
            F.date_trunc("day", "ts").cast("date"), F.lit("2024-01-01").cast("date")
        ).alias("x"),
    ).agg(
        F.floor(F.avg("value") * 1000000 + F.lit(0.5)).cast("long").alias("vi")
    )
    paa = d.groupBy(
        "user_id", F.floor(F.col("x") / 7).cast("long").alias("wk")
    ).agg(
        F.sum("vi").cast("long").alias("svi"),
        F.count(F.lit(1)).cast("long").alias("nd"),
    )
    rk = paa.select(
        "user_id",
        "wk",
        F.count(F.lit(1)).over(W.partitionBy("user_id")).cast("long").alias("n_weeks"),
        F.row_number()
        .over(
            W.partitionBy("user_id").orderBy(
                F.col("svi").cast("double") / F.col("nd"), "wk"
            )
        )
        .cast("long")
        .alias("r"),
    )
    sym = rk.select(
        "user_id",
        "wk",
        "n_weeks",
        F.floor(4.0 * (F.col("r") - 1) / F.col("n_weeks")).cast("long").alias("s"),
    )
    return (
        sym.groupBy("user_id")
        .agg(
            F.max("n_weeks").cast("long").alias("n_weeks"),
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("wk", "s"))),
                    lambda p: F.chr(F.lit(97) + p["s"]),
                ),
            ).alias("sax"),
        )
        .withColumn("user_id", F.col("user_id").cast("long"))
        .orderBy("user_id")
    )


# --- Croston intermittent-demand forecast -------------------------------
# Smoothing weight and the finite lookback that makes the recursive SES
# exactly computable without unbounded exponents: the estimator is
# DEFINED as the normalized truncated EMA over the last L nonzero-demand
# days (weight (1-a)^j, j=0..L-1, renormalized). At a=0.2 the dropped
# tail weight past L=64 is 0.8^64 ~ 6e-7 of an UN-normalized SES — and
# the normalized form is exact by definition, so both engines compute
# the identical estimator at any series length (the w_ema block-splice
# machinery is unnecessary here because only the LAST point's smoothed
# state is reported, not every row's).
_CROSTON_A = 0.2
_CROSTON_L = 64


@register(
    "w_croston_forecast",
    oracle=f"""
    WITH d AS (
      SELECT p.p_brand AS brand, CAST(l.l_shipdate AS DATE) AS day,
             CAST(sum(CAST(floor(l.l_quantity + 0.5) AS BIGINT)) AS BIGINT) AS qty
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1, 2
    ), iv AS (
      SELECT brand, day, qty,
             date_diff('day',
                       lag(day) OVER (PARTITION BY brand ORDER BY day),
                       day) AS gap,
             row_number() OVER (PARTITION BY brand ORDER BY day DESC) AS rn,
             count(*) OVER (PARTITION BY brand) AS n_days,
             max(day) OVER (PARTITION BY brand) AS last_day
      FROM d
    ), k AS (
      SELECT brand, n_days, last_day,
             power({1.0 - _CROSTON_A!r}, rn - 1) AS w, qty, gap
      FROM iv WHERE rn <= {_CROSTON_L}
    ), s AS (
      SELECT brand,
             CAST(max(n_days) AS BIGINT) AS n_demand_days,
             max(last_day) AS last_day,
             sum(w * qty) / sum(w) AS z_hat,
             sum(CASE WHEN gap IS NOT NULL THEN w * gap END)
               / sum(CASE WHEN gap IS NOT NULL THEN w END) AS p_hat
      FROM k GROUP BY brand
    )
    SELECT brand, n_demand_days, last_day,
           floor(z_hat * 1000000 + 0.5) / 1000000 AS z_hat,
           floor(p_hat * 1000000 + 0.5) / 1000000 AS p_hat,
           floor((z_hat / p_hat) * 1000000 + 0.5) / 1000000 AS croston_forecast,
           floor(({1.0 - _CROSTON_A / 2.0!r} * (z_hat / p_hat)) * 1000000 + 0.5)
             / 1000000 AS sb_forecast
    FROM s ORDER BY brand
    """,
)
def w_croston_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method (Croston 1972) with the Syntetos-Boylan bias
    correction (2005): the standard forecaster for INTERMITTENT demand,
    where zero-demand days dominate and plain SES chases the gaps.
    Demand sizes z and inter-demand intervals p are smoothed SEPARATELY
    on the nonzero-demand subsequence (zero days are absent rows — the
    intervals carry them); forecast per day = z_hat/p_hat, and the SB
    variant multiplies by (1 - a/2) to undo Croston's renewal bias.

    Series: daily shipped quantity per part brand (25 series). Both
    smoothers are the normalized truncated EMA over the last L=64
    demand days — see the constant block above for why this finite
    form is exact and engine-identical. The first demand day of a
    series has no interval and is excluded from p_hat's weights only
    (standard Croston initialization).

    Scale: one fact-sized join (part dim broadcast) + one (brand, day)
    aggregation; the per-brand window ranks then keeps <=64 rows per
    series, so the smoothing aggregation is bounded by |brands| * L.
    At 100 TB: cost = the lineitem scan + one keyed shuffle."""
    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_shipdate", "l_quantity"
    )
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    d = (
        li.join(F.broadcast(pt), li["l_partkey"] == pt["p_partkey"])
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.col("l_shipdate").cast("date").alias("day"),
        )
        .agg(
            F.sum(F.floor(F.col("l_quantity") + 0.5).cast("long"))
            .cast("long")
            .alias("qty")
        )
    )
    wb = W.partitionBy("brand").orderBy("day")
    wd = W.partitionBy("brand").orderBy(F.desc("day"))
    wa = W.partitionBy("brand")
    iv = d.select(
        "brand",
        "day",
        "qty",
        F.datediff("day", F.lag("day").over(wb)).alias("gap"),
        F.row_number().over(wd).alias("rn"),
        F.count(F.lit(1)).over(wa).alias("n_days"),
        F.max("day").over(wa).alias("last_day"),
    )
    k = iv.filter(F.col("rn") <= _CROSTON_L).select(
        "brand",
        "n_days",
        "last_day",
        F.pow(F.lit(1.0 - _CROSTON_A), F.col("rn") - 1).alias("w"),
        "qty",
        "gap",
    )
    s = k.groupBy("brand").agg(
        F.max("n_days").cast("long").alias("n_demand_days"),
        F.max("last_day").alias("last_day"),
        (F.sum(F.col("w") * F.col("qty")) / F.sum("w")).alias("z_hat"),
        (
            F.sum(F.when(F.col("gap").isNotNull(), F.col("w") * F.col("gap")))
            / F.sum(F.when(F.col("gap").isNotNull(), F.col("w")))
        ).alias("p_hat"),
    )
    from ..operators.numeric import q6 as _q6

    return s.select(
        "brand",
        "n_demand_days",
        "last_day",
        _q6(F.col("z_hat")).alias("z_hat"),
        _q6(F.col("p_hat")).alias("p_hat"),
        _q6(F.col("z_hat") / F.col("p_hat")).alias("croston_forecast"),
        _q6(
            F.lit(1.0 - _CROSTON_A / 2.0) * (F.col("z_hat") / F.col("p_hat"))
        ).alias("sb_forecast"),
    ).orderBy("brand")


# --- Theta-method forecast ---------------------------------------------
# Classical two-line Theta (Assimakopoulos & Nikolopoulos 2000, the M3
# winner): forecast = mean of the theta=0 line (the OLS trend,
# extrapolated) and the SES of the theta=2 line (2Y - trend, whose SES
# forecast is flat). SES reuses the Croston stance: normalized
# truncated EMA over the last L points — exact finite form, no
# recursion. Pinned config: alpha=0.3, L=64, horizon 14 days.
_THETA_A = 0.3
_THETA_L = 64
_THETA_H = 14


@register(
    "w_theta_forecast",
    oracle=f"""
    WITH d AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders WHERE year(o_orderdate) = 1995 GROUP BY 1
    ), x AS (
      SELECT day, cents,
             CAST(date_diff('day', min(day) OVER (), day) AS BIGINT) AS t
      FROM d
    ), m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(t) AS BIGINT) AS sx,
             CAST(sum(cents) AS BIGINT) AS sy,
             CAST(sum(t * cents) AS BIGINT) AS sxy,
             CAST(sum(t * t) AS BIGINT) AS sxx,
             CAST(max(t) AS BIGINT) AS t_last,
             max(day) AS last_day
      FROM x
    ), ab AS (
      SELECT n, t_last, last_day,
             CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx) / 100.0 AS b,
             (CAST(sy AS DOUBLE) / n
              - CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx)
                * (CAST(sx AS DOUBLE) / n)) / 100.0 AS a
      FROM m
    ), tail AS (
      SELECT x.cents, x.t, ab.a, ab.b, ab.t_last, ab.last_day,
             row_number() OVER (ORDER BY x.t DESC) AS rn
      FROM x, ab
    ), ses AS (
      SELECT any_value(a) AS a, any_value(b) AS b,
             any_value(t_last) AS t_last, any_value(last_day) AS last_day,
             sum(power({1.0 - _THETA_A!r}, rn - 1)
                 * (2.0 * (CAST(cents AS DOUBLE) / 100.0) - (a + b * t)))
               / sum(power({1.0 - _THETA_A!r}, rn - 1)) AS z
      FROM tail WHERE rn <= {_THETA_L}
    )
    SELECT CAST(h.h AS BIGINT) AS h,
           ses.last_day + CAST(h.h AS INTEGER) AS day,
           floor((0.5 * (ses.a + ses.b * (ses.t_last + h.h)) + 0.5 * ses.z)
                 * 1000000 + 0.5) / 1000000 AS forecast
    FROM ses, (SELECT unnest(generate_series(1, {_THETA_H})) AS h) h
    ORDER BY h
    """,
)
def w_theta_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-method 14-day revenue forecast over the 1995 daily order
    series — see the constant block for the model. Sits beside Holt
    (trend-recursive) and Croston (intermittent) as the
    decomposition-flavored forecaster: the OLS trend carries long-run
    drift, the SES of the theta=2 line carries level, and the M3
    result is that their average is embarrassingly hard to beat.

    Determinism: OLS slope/intercept are fixed IEEE chains over exact
    int64 cent moments (x bounded by 365, products far inside 2^53);
    the SES is the normalized truncated EMA (order-sensitive only in
    its <=64-term sums, landed in q6 at output). Scale: one orders
    scan (year pushdown), one day-grain agg, then a <=365-row spine —
    the 100 TB cost is the scan."""
    from pyspark.sql import Window as W

    from ..operators.numeric import q6 as _q6

    o = load_table(spark, sf_dir, "orders").filter(F.year("o_orderdate") == 1995)
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    d = (
        o.select(F.col("o_orderdate").cast("date").alias("day"), cents.alias("c"))
        .groupBy("day")
        .agg(F.sum("c").cast("long").alias("cents"))
    )
    x = d.select(
        "day",
        "cents",
        F.datediff("day", F.min("day").over(W.partitionBy())).cast("long").alias("t"),
    )
    m = x.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("t").cast("long").alias("sx"),
        F.sum("cents").cast("long").alias("sy"),
        F.sum(F.col("t") * F.col("cents")).cast("long").alias("sxy"),
        F.sum(F.col("t") * F.col("t")).cast("long").alias("sxx"),
        F.max("t").cast("long").alias("t_last"),
        F.max("day").alias("last_day"),
    )
    bnum = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    bden = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    ab = m.select(
        "n",
        "t_last",
        "last_day",
        (bnum / bden / 100.0).alias("b"),
        (
            (
                F.col("sy").cast("double") / F.col("n")
                - bnum / bden * (F.col("sx").cast("double") / F.col("n"))
            )
            / 100.0
        ).alias("a"),
    )
    tail_df, w0 = TS.spine_window(
        x.crossJoin(F.broadcast(ab)), [F.desc("t")], max_rows=4096,
        label="theta_day_spine",
    )
    tail = tail_df.withColumn("rn", F.row_number().over(w0)).filter(
        F.col("rn") <= _THETA_L
    )
    wgt = F.pow(F.lit(1.0 - _THETA_A), F.col("rn") - 1)
    theta2 = 2.0 * (F.col("cents").cast("double") / 100.0) - (
        F.col("a") + F.col("b") * F.col("t")
    )
    ses = tail.agg(
        F.first("a").alias("a"),
        F.first("b").alias("b"),
        F.first("t_last").alias("t_last"),
        F.first("last_day").alias("last_day"),
        (F.sum(wgt * theta2) / F.sum(wgt)).alias("z"),
    )
    hs = spark.createDataFrame([(h,) for h in range(1, _THETA_H + 1)], "h long")
    out = ses.crossJoin(F.broadcast(hs))
    forecast = 0.5 * (F.col("a") + F.col("b") * (F.col("t_last") + F.col("h"))) + (
        0.5 * F.col("z")
    )
    return out.select(
        "h",
        F.date_add(F.col("last_day"), F.col("h").cast("int")).alias("day"),
        _q6(forecast).alias("forecast"),
    ).orderBy("h")
