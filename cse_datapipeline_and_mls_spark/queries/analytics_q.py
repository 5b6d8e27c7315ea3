"""Applied-analytics queries extending the coverage surface: forensic
data-quality audits (Benford), distribution-drift monitoring (PSI),
marketing attribution (last touch), and time-weighted pricing (TWAP).

Each follows the registry determinism rules: identical aliases both
sides, q6 quantization on order-sensitive float aggregates, window
orders carrying a unique tiebreaker.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..materialize import materialize
from ..operators.numeric import q6 as _q6
from ..operators.relational import assign_dense_ids
from ..operators.tswindow import kaplan_meier, spine_cumsum, spine_window
from ..sources import load_table
from . import register, register_sql


@register(
    "agg_benford_first_digit",
    oracle="""
    WITH cents AS (
      SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c
      FROM lineitem
    ), digits AS (
      SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS digit,
             CAST(count(*) AS BIGINT) AS n
      FROM cents GROUP BY 1
    ), tot AS (
      SELECT digit, n, sum(n) OVER () AS total FROM digits
    )
    SELECT digit, n,
           floor((n * 1.0 / total) * 1000000 + 0.5) / 1000000 AS share,
           floor(log10(1.0 + 1.0 / digit) * 1000000 + 0.5) / 1000000
             AS benford_expected
    FROM tot ORDER BY digit
    """,
)
def agg_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of lineitem prices — the classic
    forensic data-quality screen (fabricated or truncated monetary data
    drifts from the log10(1+1/d) curve). The digit is extracted from
    the EXACT integer cents (floor(x*100+0.5) — prices carry 2
    decimals) so no float-format string differences can leak between
    engines; one data-sized aggregation, then shares over the 9-row
    digit frame."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = li.select(
        F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long").alias("c")
    )
    digits = (
        cents.select(F.substring(F.col("c").cast("string"), 1, 1).cast("long").alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    digits, wg = spine_window(digits, [], max_rows=16, label="benford-digits")
    tot = digits.withColumn("total", F.sum("n").over(wg))
    return tot.select(
        "digit",
        "n",
        _q6(F.col("n") / F.col("total")).alias("share"),
        _q6(F.log10(1.0 + 1.0 / F.col("digit"))).alias("benford_expected"),
    ).orderBy("digit")


@register(
    "agg_psi_price_drift",
    oracle="""
    WITH bins AS (
      SELECT CAST(range AS BIGINT) AS bin FROM range(10)
    ), a AS (
      SELECT least(CAST(floor(o_totalprice / 50000) AS BIGINT), 9) AS bin,
             CAST(count(*) AS BIGINT) AS n
      FROM orders WHERE year(o_orderdate) = 1995 GROUP BY 1
    ), b AS (
      SELECT least(CAST(floor(o_totalprice / 50000) AS BIGINT), 9) AS bin,
             CAST(count(*) AS BIGINT) AS n
      FROM orders WHERE year(o_orderdate) = 1996 GROUP BY 1
    ), j AS (
      SELECT bins.bin,
             coalesce(a.n, 0) AS n_ref, coalesce(b.n, 0) AS n_cur
      FROM bins LEFT JOIN a ON a.bin = bins.bin
                LEFT JOIN b ON b.bin = bins.bin
    ), t AS (
      SELECT bin, n_ref, n_cur,
             (n_ref + 1.0) / (sum(n_ref) OVER () + 10.0) AS p,
             (n_cur + 1.0) / (sum(n_cur) OVER () + 10.0) AS q
      FROM j
    )
    SELECT bin, n_ref, n_cur,
           floor(p * 1000000 + 0.5) / 1000000 AS p_ref,
           floor(q * 1000000 + 0.5) / 1000000 AS p_cur,
           floor((q - p) * ln(q / p) * 1000000 + 0.5) / 1000000
             AS psi_contrib
    FROM t ORDER BY bin
    """,
)
def agg_psi_price_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift monitor on the order-price
    distribution, 1995 (reference window) vs 1996 (current window) —
    the standard pre-retraining distribution-shift gate for an ML
    feature. Fixed-width bins (10 x 50k over the known price domain)
    joined to a generated bin spine so empty bins survive; Laplace
    (+1) smoothing on BOTH engines keeps ln() off zero without an
    epsilon constant. Per-bin contributions sum to the headline PSI;
    everything after the two year-filtered aggregations runs on the
    10-row bin frame."""
    o = load_table(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice")
    bin_col = F.least(F.floor(F.col("o_totalprice") / 50000).cast("long"), F.lit(9))

    def year_counts(yr: int) -> DataFrame:
        return (
            o.filter(F.year("o_orderdate") == yr)
            .select(bin_col.alias("bin"))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    bins = spark.range(10).select(F.col("id").alias("bin"))
    a = year_counts(1995).withColumnRenamed("n", "na")
    b = year_counts(1996).withColumnRenamed("n", "nb")
    j = (
        bins.join(a, "bin", "left")
        .join(b, "bin", "left")
        .select(
            "bin",
            F.coalesce("na", F.lit(0)).alias("n_ref"),
            F.coalesce("nb", F.lit(0)).alias("n_cur"),
        )
    )
    j, w = spine_window(j, [], max_rows=64, label="psi-bins")
    t = j.select(
        "bin",
        "n_ref",
        "n_cur",
        ((F.col("n_ref") + 1.0) / (F.sum("n_ref").over(w) + 10.0)).alias("p"),
        ((F.col("n_cur") + 1.0) / (F.sum("n_cur").over(w) + 10.0)).alias("q"),
    )
    return t.select(
        "bin",
        "n_ref",
        "n_cur",
        _q6(F.col("p")).alias("p_ref"),
        _q6(F.col("q")).alias("p_cur"),
        _q6((F.col("q") - F.col("p")) * F.log(F.col("q") / F.col("p"))).alias(
            "psi_contrib"
        ),
    ).orderBy("bin")


@register(
    "t_attribution_last_touch",
    oracle="""
    WITH ev AS (
      SELECT event_id, user_id, ts, event_type, value,
             CASE WHEN event_type IN ('view', 'click') THEN 1 ELSE 0 END
               AS is_touch
      FROM events
    ), g AS (
      SELECT *,
             sum(is_touch) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND 1 PRECEDING) AS grp
      FROM ev
    ), touches AS (
      SELECT user_id, event_type AS touch_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM ev WHERE is_touch = 1
    )
    SELECT coalesce(t.touch_type, 'none') AS touch_type,
           CAST(count(*) AS BIGINT) AS conversions,
           floor(sum(g.value) * 1000000 + 0.5) / 1000000
             AS attributed_revenue
    FROM g LEFT JOIN touches t
      ON t.user_id = g.user_id AND t.rn = g.grp
    WHERE g.event_type = 'purchase'
    GROUP BY 1 ORDER BY 1
    """,
)
def t_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: each purchase is credited to
    the user's most recent PRECEDING view/click (strictly before in
    (ts, event_id) order; purchases with no prior touch land in
    'none'). The ignore-nulls-free formulation — a running count of
    touches names the last touch's per-user row_number, then one equi-
    join retrieves its type — keeps both engines on plain windows + an
    equi-join, all partitioned by user_id, so the whole query is one
    exchange plus the touch join."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    ev = ev.withColumn(
        "is_touch", F.when(F.col("event_type").isin("view", "click"), 1).otherwise(0)
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    g = ev.withColumn("grp", F.sum("is_touch").over(w))
    touches = ev.filter(F.col("is_touch") == 1).select(
        F.col("user_id").alias("t_user"),
        F.col("event_type").alias("touch_type"),
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("rn"),
    )
    purchases = g.filter(F.col("event_type") == "purchase")
    joined = purchases.join(
        touches,
        (purchases["user_id"] == touches["t_user"]) & (purchases["grp"] == touches["rn"]),
        "left",
    )
    return (
        joined.groupBy(F.coalesce("touch_type", F.lit("none")).alias("touch_type"))
        .agg(
            F.count(F.lit(1)).alias("conversions"),
            _q6(F.sum("value")).alias("attributed_revenue"),
        )
        .orderBy("touch_type")
    )


@register(
    "w_twap_daily",
    oracle="""
    WITH s AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
             value, epoch_us(ts) / 1000000.0 AS t,
             lead(epoch_us(ts) / 1000000.0) OVER (
               PARTITION BY user_id, CAST(date_trunc('day', ts) AS DATE)
               ORDER BY ts, event_id) AS t_next
      FROM events
    )
    SELECT user_id, day,
           CAST(count(*) AS BIGINT) AS n_intervals,
           floor(sum(value * (t_next - t)) / sum(t_next - t) * 1000000 + 0.5)
             / 1000000 AS twap
    FROM s WHERE t_next IS NOT NULL
    GROUP BY user_id, day ORDER BY user_id, day
    """,
)
def w_twap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average price per user-day: each observation is
    weighted by its holding time (seconds until the next same-day
    observation; the day's last observation closes the weighting — the
    interval-weighted complement of agg_vwap_supplier_month's volume
    weighting). Timestamps become fractional epoch seconds via the
    micros/1e6 double division both engines share bit-for-bit
    (unix_micros/1e6 = DuckDB epoch_us()/1e6 — integer micros divided
    identically, so no truncation-vs-fraction asymmetry and no bare
    epoch()), and the weighted ratio is q6'd. The
    lead window and the keyed agg share the (user, day) partitioning:
    one exchange."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    ev = ev.withColumn("day", F.date_trunc("day", "ts").cast("date")).withColumn(
        "t", F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(1000000.0)
    )
    w = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    s = ev.withColumn("t_next", F.lead("t").over(w)).filter(
        F.col("t_next").isNotNull()
    )
    dt = F.col("t_next") - F.col("t")
    return (
        s.groupBy("user_id", "day")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            _q6(F.sum(F.col("value") * dt) / F.sum(dt)).alias("twap"),
        )
        .orderBy("user_id", "day")
    )


@register(
    "w_cusum_drift_alerts",
    oracle="""
    WITH base AS (
      SELECT user_id, ts, event_id, value,
             avg(value) OVER (PARTITION BY user_id) AS mu,
             stddev_pop(value) OVER (PARTITION BY user_id) AS sig
      FROM events
    ), walk AS (
      SELECT user_id, ts, event_id, sig,
             sum(value - mu - 0.5 * sig) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s_cum
      FROM base
    ), stat AS (
      SELECT user_id, ts, sig,
             s_cum - least(0.0, min(s_cum) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS s
      FROM walk
    ), q AS (
      SELECT user_id, ts,
             floor(s * 1000000 + 0.5) / 1000000 AS s6,
             floor(4.0 * sig * 1000000 + 0.5) / 1000000 AS h6
      FROM stat
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(count(*) FILTER (WHERE s6 > h6) AS BIGINT) AS n_alerts,
           floor(max(s6) * 1000000 + 0.5) / 1000000 AS max_stat,
           min(ts) FILTER (WHERE s6 > h6) AS first_alert_ts
    FROM q GROUP BY user_id ORDER BY user_id
    """,
)
def w_cusum_drift_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential change-point detection: one-sided CUSUM of each
    user's value series against its own mean, slack k = 0.5 sigma and
    decision threshold h = 4 sigma (the textbook Page parametrization).
    The recurrence s_t = max(0, s_{t-1} + d_t) is NOT run statefully —
    operators/tswindow.with_cusum uses the Lindley closed form
    (prefix sum minus its running min), so the whole detector is two
    cumulative windows + the per-key baseline window, all partitioned
    by user_id: one exchange, full whole-stage codegen, no Python.
    Alert decisions compare the q6-quantized statistic to the
    q6-quantized threshold on BOTH engines (never raw vs raw)."""
    from ..operators import tswindow as TS

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    wp = Window.partitionBy("user_id")
    ev = ev.withColumn("mu", F.avg("value").over(wp)).withColumn(
        "sig", F.stddev_pop("value").over(wp)
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    st = TS.with_cusum(
        ev, "value", w, target=F.col("mu"), slack=0.5 * F.col("sig"), out="s"
    )
    q = st.select(
        "user_id",
        "ts",
        _q6(F.col("s")).alias("s6"),
        _q6(4.0 * F.col("sig")).alias("h6"),
    )
    alert = F.col("s6") > F.col("h6")
    return (
        q.groupBy(F.col("user_id").cast("long").alias("user_id"))
        .agg(
            F.count(F.when(alert, 1)).alias("n_alerts"),
            _q6(F.max("s6")).alias("max_stat"),
            F.min(F.when(alert, F.col("ts"))).alias("first_alert_ts"),
        )
        .orderBy("user_id")
    )


_W = "PARTITION BY user_id ORDER BY ts, event_id"
# EWM-volatility constants: RiskMetrics-style lambda from span 20, and
# the block length of the exact block-rebased closed form (tswindow
# with_ema, block_factor 25). The !r-rendered literals keep the oracle
# on the IDENTICAL doubles.
_EWM_SPAN = 20
_EWM_A = 1.0 - 2.0 / (_EWM_SPAN + 1.0)
_EWM_L = 25 * (_EWM_SPAN + 1)


@register(
    "w_ewm_volatility",
    oracle=f"""
    WITH ret AS (
      SELECT event_id, user_id, ts,
             value / nullif(lag(value) OVER ({_W}), 0) - 1.0 AS r
      FROM events
    ), base AS (
      SELECT event_id, user_id, ts, r * r AS r2,
             row_number() OVER ({_W}) - 1 AS g
      FROM ret WHERE r IS NOT NULL
    ), reb AS (
      SELECT *, g % {_EWM_L} AS pos, g // {_EWM_L} AS blk,
             (r2) * power({_EWM_A!r}, -(g % {_EWM_L})) AS v
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
             coalesce(lag(vtot, {_EWM_L}) OVER ({_W})
                    - lag(vrun, {_EWM_L}) OVER ({_W}), 0.0) AS prev
      FROM tots
    )
    SELECT event_id, user_id, ts,
           floor(sqrt(power({_EWM_A!r}, pos)
                 * (vrun + power({_EWM_A!r}, {float(_EWM_L)!r}) * prev)
               / ((1.0 - power({_EWM_A!r}, least(g + 1, {_EWM_L})))
                  / {1.0 - _EWM_A!r})) * 1000000 + 0.5) / 1000000 AS ewm_vol
    FROM spliced
    """,
)
def w_ewm_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted volatility (RiskMetrics-style): per-user
    percentage returns, squared, smoothed by the EXACT block-rebased
    EWM closed form (tswindow.with_ema — bounded exponents at any
    series length, L=525 trailing truncation whose dropped weight is
    below output quantization), then sqrt. The first observation per
    user (no return) is excluded on BOTH sides before row numbering so
    the block arithmetic stays aligned. Every arithmetic step including
    the cross-block splice is mirrored in the oracle; the volatility is
    q6-quantized. Same one-exchange posture as w_ema: the (user, block)
    windows cluster on a superset of the user partitioning."""
    from ..operators.tswindow import with_ema

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ret = ev.withColumn(
        "r", F.col("value") / F.nullif(F.lag("value").over(w), F.lit(0)) - 1.0
    ).filter(F.col("r").isNotNull())
    r2 = ret.withColumn("r2", F.col("r") * F.col("r"))
    out = with_ema(
        r2,
        "r2",
        out="ewm_var",
        key_cols=["user_id"],
        order_cols=["ts", "event_id"],
        span=_EWM_SPAN,
    )
    return out.select(
        "event_id", "user_id", "ts", _q6(F.sqrt("ewm_var")).alias("ewm_vol")
    )


@register(
    "agg_gini_revenue_concentration",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey, sum(l_extendedprice * (1 - l_discount)) AS r
      FROM lineitem GROUP BY l_suppkey
    ), ranked AS (
      SELECT r, row_number() OVER (ORDER BY r, l_suppkey) AS i,
             count(*) OVER () AS n, sum(r) OVER () AS tot
      FROM rev
    )
    SELECT CAST(max(n) AS BIGINT) AS n_suppliers,
           floor((2.0 * sum(i * r) / (max(n) * max(tot))
                  - (max(n) + 1.0) / max(n)) * 1000000 + 0.5) / 1000000
             AS gini
    FROM ranked
    """,
)
def agg_gini_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of supplier revenue concentration — the
    Lorenz-curve summary complementing agg_hhi_market_concentration's
    squared-share view. Rank formula G = 2·Σ(i·x_i)/(n·Σx) − (n+1)/n
    over ascending revenue (suppkey tiebreak; equal revenues make the
    rank assignment irrelevant to Σ i·x_i, so the statistic is
    tie-stable). One keyed aggregation is the only data-sized work; the
    global rank is the two-stage range-partitioned
    :func:`operators.relational.assign_dense_ids` (per-partition
    row_number + broadcast prefix-sum offsets), so there is no
    single-task sort even if supplier cardinality scales with the
    corpus (VERDICT r6 #4); n and Σx fold into the final 1-row agg."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("r")
    )
    ranked = assign_dense_ids(rev, ["r", "l_suppkey"], id_col="_i0")
    n = F.count(F.lit(1))
    return ranked.agg(
        n.cast("long").alias("n_suppliers"),
        _q6(
            2.0 * F.sum((F.col("_i0") + 1) * F.col("r")) / (n * F.sum("r"))
            - (n + 1.0) / n
        ).alias("gini"),
    )


@register(
    "agg_ks_price_drift",
    oracle="""
    WITH a AS (
      SELECT o_totalprice AS p FROM orders WHERE year(o_orderdate) = 1995
    ), b AS (
      SELECT o_totalprice AS p FROM orders WHERE year(o_orderdate) = 1996
    ), u AS (
      SELECT p, CAST(count(*) FILTER (WHERE side = 'a') AS BIGINT) AS ca,
             CAST(count(*) FILTER (WHERE side = 'b') AS BIGINT) AS cb
      FROM (SELECT p, 'a' AS side FROM a UNION ALL SELECT p, 'b' FROM b)
      GROUP BY p
    ), e AS (
      SELECT sum(ca) OVER (ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) * 1.0
               / (SELECT count(*) FROM a) AS fa,
             sum(cb) OVER (ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) * 1.0
               / (SELECT count(*) FROM b) AS fb
      FROM u
    )
    SELECT CAST((SELECT count(*) FROM a) AS BIGINT) AS n_ref,
           CAST((SELECT count(*) FROM b) AS BIGINT) AS n_cur,
           floor(max(abs(fa - fb)) * 1000000 + 0.5) / 1000000 AS ks_stat
    FROM e
    """,
)
def agg_ks_price_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic on the order-price
    distribution, 1995 vs 1996 — the nonparametric companion to
    agg_psi_price_drift's binned view (sup-norm ECDF distance; no
    binning choice to defend). Distinct prices are aggregated first so
    the running ECDFs walk one row per distinct value (ties across the
    two samples handled by construction); integer cumulative counts
    divide by integer totals, so both engines trace identical doubles
    up to the single q6'd max. The running totals go through
    spine_cumsum (VERDICT r7 #5): the distinct-price frame is measured
    — at or under 64k distinct values the cheap single-partition
    ordered window runs; above that the SAME integer totals come from
    distributed_prefix_sum, so a high-cardinality price domain at
    100 TB cannot funnel the ECDF through one task (identical values
    either route — exact integer sums)."""
    o = load_table(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice")
    a = o.filter(F.year("o_orderdate") == 1995).select(F.col("o_totalprice").alias("p"))
    b = o.filter(F.year("o_orderdate") == 1996).select(F.col("o_totalprice").alias("p"))
    na, nb = a.count(), b.count()
    u = (
        a.withColumn("side", F.lit("a"))
        .unionByName(b.withColumn("side", F.lit("b")))
        .groupBy("p")
        .agg(
            F.count(F.when(F.col("side") == "a", 1)).alias("ca"),
            F.count(F.when(F.col("side") == "b", 1)).alias("cb"),
        )
    )
    # materialize the (distinct-price-sized) grouped frame once: the
    # routing count and the cumulative pass both read it
    u = materialize(u)
    e = spine_cumsum(u, ["p"], ["ca", "cb"], threshold=65536).select(
        (F.col("cum_ca") * 1.0 / F.lit(na)).alias("fa"),
        (F.col("cum_cb") * 1.0 / F.lit(nb)).alias("fb"),
    )
    return e.agg(
        F.lit(na).cast("long").alias("n_ref"),
        F.lit(nb).cast("long").alias("n_cur"),
        _q6(F.max(F.abs(F.col("fa") - F.col("fb")))).alias("ks_stat"),
    )


@register(
    "agg_wilson_daily_conversion",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day, user_id,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY 1, 2
    ), agg AS (
      SELECT day, CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(conv) AS BIGINT) AS n_converted,
             sum(conv) * 1.0 / count(*) AS p, count(*) * 1.0 AS n
      FROM daily GROUP BY day
    )
    SELECT day, n_users, n_converted,
           floor(p * 1000000 + 0.5) / 1000000 AS rate,
           floor((p + 1.9208 / n - 1.96 * sqrt(p * (1 - p) / n + 0.9604 / (n * n)))
                 / (1 + 3.8416 / n) * 1000000 + 0.5) / 1000000 AS wilson_lo,
           floor((p + 1.9208 / n + 1.96 * sqrt(p * (1 - p) / n + 0.9604 / (n * n)))
                 / (1 + 3.8416 / n) * 1000000 + 0.5) / 1000000 AS wilson_hi
    FROM agg ORDER BY day
    """,
)
def agg_wilson_daily_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily user→purchase conversion rate with the Wilson 95% score
    interval — the right uncertainty band for small daily cohorts
    (never leaves [0,1], unlike the normal approximation). Trials =
    users active that day, successes = users with a purchase that day
    (successes ≤ trials by construction, so the sqrt argument is
    nonnegative). z constants appear as exact literals (1.96, z²=3.8416,
    z²/2=1.9208, z²/4=0.9604) identically on both engines. Two keyed
    aggregations, both on (day[, user]) — a cluster co-partitions
    them."""
    ev = load_table(spark, sf_dir, "events").select("ts", "user_id", "event_type")
    daily = (
        ev.withColumn("day", F.date_trunc("day", "ts").cast("date"))
        .groupBy("day", "user_id")
        .agg(
            F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
                "conv"
            )
        )
    )
    agg = daily.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("conv").cast("long").alias("n_converted"),
    )
    p = F.col("n_converted") * 1.0 / F.col("n_users")
    n = F.col("n_users") * 1.0
    half = 1.96 * F.sqrt(p * (1 - p) / n + 0.9604 / (n * n))
    return agg.select(
        "day",
        "n_users",
        "n_converted",
        _q6(p).alias("rate"),
        _q6((p + 1.9208 / n - half) / (1 + 3.8416 / n)).alias("wilson_lo"),
        _q6((p + 1.9208 / n + half) / (1 + 3.8416 / n)).alias("wilson_hi"),
    ).orderBy("day")


@register(
    "agg_rfm_segmentation",
    oracle="""
    WITH ref AS (
      SELECT CAST(date_trunc('day', max(ts)) AS DATE) AS ref_day FROM events
    ), p AS (
      SELECT user_id,
             date_diff('day', CAST(date_trunc('day', max(ts)) AS DATE),
                       (SELECT ref_day FROM ref)) AS r_days,
             CAST(count(*) AS BIGINT) AS freq,
             floor(sum(value) * 1000000 + 0.5) / 1000000 AS monetary
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(r_days AS BIGINT) AS r_days, freq, monetary,
           CAST(ntile(5) OVER (ORDER BY r_days DESC, user_id) AS BIGINT) AS r_score,
           CAST(ntile(5) OVER (ORDER BY freq ASC, user_id) AS BIGINT) AS f_score,
           CAST(ntile(5) OVER (ORDER BY monetary ASC, user_id) AS BIGINT) AS m_score,
           CAST(ntile(5) OVER (ORDER BY r_days DESC, user_id) * 100
                + ntile(5) OVER (ORDER BY freq ASC, user_id) * 10
                + ntile(5) OVER (ORDER BY monetary ASC, user_id) AS BIGINT)
             AS rfm_code
    FROM p ORDER BY user_id
    """,
)
def agg_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: per-user purchase recency (days back
    from the corpus's last event day), frequency, and monetary value,
    quintile-scored into the classic 111..555 codes. Scores sort on the
    QUANTIZED monetary value (q6) with a user_id tiebreak so quintile
    boundaries can't flip on float-summation noise. The ntile windows
    run over the per-user aggregate frame — at production scale swap
    them for percent_rank over range-partitioned sorts; the data-sized
    work is the one purchase aggregation."""
    ev = load_table(spark, sf_dir, "events")
    ref_day = ev.agg(F.date_trunc("day", F.max("ts")).cast("date").alias("d"))
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.date_trunc("day", F.max("ts")).cast("date").alias("last_day"),
            F.count(F.lit(1)).alias("freq"),
            _q6(F.sum("value")).alias("monetary"),
        )
        .crossJoin(F.broadcast(ref_day))
        .select(
            "user_id",
            F.datediff(F.col("d"), F.col("last_day")).cast("long").alias("r_days"),
            "freq",
            "monetary",
        )
    )
    wr = Window.orderBy(F.desc("r_days"), "user_id")
    wf = Window.orderBy(F.asc("freq"), "user_id")
    wm = Window.orderBy(F.asc("monetary"), "user_id")
    r, fq, m = (
        F.ntile(5).over(wr).cast("long"),
        F.ntile(5).over(wf).cast("long"),
        F.ntile(5).over(wm).cast("long"),
    )
    return p.select(
        F.col("user_id").cast("long").alias("user_id"),
        "r_days",
        "freq",
        "monetary",
        r.alias("r_score"),
        fq.alias("f_score"),
        m.alias("m_score"),
        (r * 100 + fq * 10 + m).alias("rfm_code"),
    ).orderBy("user_id")


@register(
    "t_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS cur,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events
    ), cnt AS (
      SELECT cur, nxt, CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE nxt IS NOT NULL GROUP BY cur, nxt
    )
    SELECT cur, nxt, n,
           floor(n * 1.0 / sum(n) OVER (PARTITION BY cur) * 1000000 + 0.5)
             / 1000000 AS p
    FROM cnt ORDER BY cur, nxt
    """,
)
def t_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event-type
    sequences (the clickstream what-happens-next model): transition
    counts from each event to the user's next event, normalized per
    source state. One lead window + one keyed count; the normalizing
    window runs over the |states|² count frame. Integer count ratios
    are q6'd."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    cnt = seq.groupBy("cur", "nxt").agg(F.count(F.lit(1)).alias("n"))
    return cnt.select(
        "cur",
        "nxt",
        "n",
        _q6(F.col("n") * 1.0 / F.sum("n").over(Window.partitionBy("cur"))).alias("p"),
    ).orderBy("cur", "nxt")


def _survival_subjects(
    spark: SparkSession, sf_dir: str, keep_user: bool = False
) -> DataFrame:
    """Shared signup→purchase survival cohort: one row per signed-up
    user with duration (days from first signup to first subsequent
    purchase) and the event flag, right-censored at the corpus's last
    event day — the subject frame both t_kaplan_meier_conversion and
    t_nelson_aalen_hazard estimate over. Data-sized work is the two
    user-keyed aggregations + one user-keyed join; the 1-row censor
    reference broadcasts."""
    ev = load_table(spark, sf_dir, "events")
    ref_day = ev.agg(F.date_trunc("day", F.max("ts")).cast("date").alias("ref_day"))
    signup = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("pts")
    )
    conv = (
        signup.join(
            purch,
            (signup["user_id"] == purch["p_user"]) & (purch["pts"] > signup["t0"]),
            "left",
        )
        .groupBy("user_id", "t0")
        .agg(F.min("pts").alias("t1"))
    )
    cols = (["user_id"] if keep_user else []) + [
        F.when(
            F.col("t1").isNotNull(),
            F.datediff(
                F.date_trunc("day", "t1").cast("date"),
                F.date_trunc("day", "t0").cast("date"),
            ),
        )
        .otherwise(
            F.datediff(F.col("ref_day"), F.date_trunc("day", "t0").cast("date"))
        )
        .alias("dur"),
        F.when(F.col("t1").isNotNull(), 1).otherwise(0).alias("ev"),
    ]
    return conv.crossJoin(F.broadcast(ref_day)).select(*cols)


# The signup→purchase survival cohort as oracle CTEs — the SQL twin of
# _survival_subjects, shared verbatim by the KM and Nelson-Aalen oracles.
_SURV_CTES = """
    WITH ref AS (
      SELECT CAST(date_trunc('day', max(ts)) AS DATE) AS ref_day FROM events
    ), signup AS (
      SELECT user_id, min(ts) AS t0 FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ), conv AS (
      SELECT s.user_id, s.t0, min(e.ts) AS t1
      FROM signup s LEFT JOIN events e
        ON e.user_id = s.user_id AND e.event_type = 'purchase' AND e.ts > s.t0
      GROUP BY s.user_id, s.t0
    ), subj AS (
      SELECT user_id,
             CASE WHEN t1 IS NOT NULL
                  THEN date_diff('day', CAST(date_trunc('day', t0) AS DATE),
                                        CAST(date_trunc('day', t1) AS DATE))
                  ELSE date_diff('day', CAST(date_trunc('day', t0) AS DATE),
                                        (SELECT ref_day FROM ref)) END AS dur,
             CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM conv
    ), grouped AS (
      SELECT dur, CAST(count(*) AS BIGINT) AS n_total,
             CAST(sum(ev) AS BIGINT) AS n_events
      FROM subj GROUP BY dur
    ), risk AS (
      SELECT dur, n_events,
             CAST(sum(n_total) OVER (ORDER BY dur DESC ROWS BETWEEN UNBOUNDED
                                     PRECEDING AND CURRENT ROW) AS BIGINT)
               AS n_at_risk
      FROM grouped
    )"""


@register(
    "t_nelson_aalen_hazard",
    oracle=f"""{_SURV_CTES}, hz AS (
      SELECT dur, n_events, n_at_risk,
             CAST(floor(n_events * 1000000000.0 / n_at_risk + 0.5) AS BIGINT)
               AS hz9
      FROM risk WHERE n_events > 0
    )
    SELECT CAST(dur AS BIGINT) AS duration_days, n_at_risk, n_events,
           CAST(sum(hz9) OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS BIGINT) / 1000000000.0
             AS cum_hazard
    FROM hz ORDER BY duration_days
    """,
)
def t_nelson_aalen_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson–Aalen cumulative hazard for the same signup→purchase
    cohort as t_kaplan_meier_conversion — KM's additive sibling
    (H(t) = Σ dᵢ/nᵢ), the estimator of choice when the hazard rate is
    the readout. Stronger determinism than KM's ln/exp chain: each
    increment quantizes once to an int64 nano-unit and the cumulative
    sum is exact integer arithmetic (operators/tswindow.nelson_aalen),
    so the output is a division of identical integers — no
    transcendental parity surface at all. Same scale shape: user-keyed
    aggregations, then everything windows over the duration spine."""
    from ..operators.tswindow import nelson_aalen

    subj = _survival_subjects(spark, sf_dir)
    na = nelson_aalen(subj, "dur", "ev")
    return na.orderBy("duration_days")


@register(
    "t_kaplan_meier_conversion",
    oracle="""
    WITH ref AS (
      SELECT CAST(date_trunc('day', max(ts)) AS DATE) AS ref_day FROM events
    ), signup AS (
      SELECT user_id, min(ts) AS t0 FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ), conv AS (
      SELECT s.user_id, s.t0, min(e.ts) AS t1
      FROM signup s LEFT JOIN events e
        ON e.user_id = s.user_id AND e.event_type = 'purchase' AND e.ts > s.t0
      GROUP BY s.user_id, s.t0
    ), subj AS (
      SELECT user_id,
             CASE WHEN t1 IS NOT NULL
                  THEN date_diff('day', CAST(date_trunc('day', t0) AS DATE),
                                        CAST(date_trunc('day', t1) AS DATE))
                  ELSE date_diff('day', CAST(date_trunc('day', t0) AS DATE),
                                        (SELECT ref_day FROM ref)) END AS dur,
             CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM conv
    ), grouped AS (
      SELECT dur, CAST(count(*) AS BIGINT) AS n_total,
             CAST(sum(ev) AS BIGINT) AS n_events
      FROM subj GROUP BY dur
    ), risk AS (
      SELECT dur, n_events,
             CAST(sum(n_total) OVER (ORDER BY dur DESC ROWS BETWEEN UNBOUNDED
                                     PRECEDING AND CURRENT ROW) AS BIGINT)
               AS n_at_risk
      FROM grouped
    )
    SELECT CAST(dur AS BIGINT) AS duration_days, n_at_risk, n_events,
           CASE WHEN max(CASE WHEN n_events = n_at_risk THEN 1 ELSE 0 END)
                     OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) = 1
                THEN 0.0
                ELSE floor(exp(sum(CASE WHEN n_events < n_at_risk
                                        THEN ln(1.0 - n_events * 1.0 / n_at_risk)
                                        ELSE 0.0 END)
                               OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED
                                     PRECEDING AND CURRENT ROW))
                           * 1000000 + 0.5) / 1000000
           END AS survival
    FROM risk WHERE n_events > 0 ORDER BY dur
    """,
)
def t_kaplan_meier_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve for signup→purchase conversion:
    duration = days from a user's first signup to their first
    subsequent purchase, right-censored at the corpus's last event day
    for users who never convert. S(t) = Π(1 − d_i/n_i) over event
    durations, computed as exp of a running sum of logs — identical
    doubles through ln/exp on both engines, q6'd at the output. The
    absorbed-step guard (survival exactly 0 at and after any step with
    n_events == n_at_risk) and the crossJoin-free reverse-cumulative
    at-risk counts live in :func:`operators.tswindow.kaplan_meier`; the
    data-sized work here is the signup/purchase aggregations keyed on
    user_id — everything after the duration group-by is spine-sized."""
    subj = _survival_subjects(spark, sf_dir)
    km = kaplan_meier(subj, "dur", "ev")
    return km.select(
        "duration_days",
        "n_at_risk",
        "n_events",
        _q6(F.col("survival")).alias("survival"),
    ).orderBy("duration_days")


@register(
    "agg_seasonal_hour_index",
    oracle="""
    WITH prof AS (
      SELECT event_type, CAST(hour(ts) AS BIGINT) AS hr,
             CAST(count(*) AS BIGINT) AS n,
             avg(value) AS hour_avg
      FROM events GROUP BY 1, 2
    ), base AS (
      SELECT event_type,
             sum(hour_avg * n) / sum(n) AS type_avg
      FROM prof GROUP BY 1
    ), anom AS (
      SELECT e.event_type, CAST(hour(e.ts) AS BIGINT) AS hr,
             CAST(count(*) FILTER (
               WHERE floor(e.value * 1000000 + 0.5) / 1000000
                     > floor(2 * p.hour_avg * 1000000 + 0.5) / 1000000
             ) AS BIGINT) AS n_anomalies
      FROM events e JOIN prof p
        ON p.event_type = e.event_type AND p.hr = hour(e.ts)
      GROUP BY 1, 2
    )
    SELECT p.event_type, p.hr, p.n,
           floor(p.hour_avg / b.type_avg * 1000000 + 0.5) / 1000000
             AS seasonal_index,
           a.n_anomalies
    FROM prof p
    JOIN base b ON b.event_type = p.event_type
    JOIN anom a ON a.event_type = p.event_type AND a.hr = p.hr
    ORDER BY p.event_type, p.hr
    """,
)
def agg_seasonal_hour_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal (hour-of-day) profile per event type — the multiplica-
    tive seasonal-index decomposition used for intraday baselining:
    index = slot average / series average, plus a per-slot count of
    values breaching 2× their seasonal slot baseline (both sides
    compare q6-to-q6, never raw floats, per the engine convention).
    The series average is the count-weighted mean of the slot averages
    — derived FROM the profile (identically on both engines) rather
    than a second pass over the facts, so the query scans events twice
    (profile build + breach count), not three times. At 100 TB the
    profile join is a broadcast hash join with no fact shuffle — the
    same shape as any dim enrich."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "ts", "value")
    ev = ev.withColumn("hr", F.hour("ts").cast("long"))
    # the profile frame (|types| x 24 rows) is referenced three times
    # (base derivation, breach join, output join) — materialize it once
    # or each reference re-derives the full events aggregation
    prof = materialize(
        ev.groupBy("event_type", "hr")
        .agg(F.count(F.lit(1)).alias("n"), F.avg("value").alias("hour_avg"))
    )
    base = prof.groupBy("event_type").agg(
        (F.sum(F.col("hour_avg") * F.col("n")) / F.sum("n")).alias("type_avg")
    )
    anom = (
        ev.join(F.broadcast(prof.select("event_type", "hr", "hour_avg")), ["event_type", "hr"])
        .groupBy("event_type", "hr")
        .agg(
            F.sum(
                F.when(_q6(F.col("value")) > _q6(2 * F.col("hour_avg")), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_anomalies")
        )
    )
    return (
        prof.join(F.broadcast(base), "event_type")
        .join(F.broadcast(anom), ["event_type", "hr"])
        .select(
            "event_type",
            "hr",
            "n",
            _q6(F.col("hour_avg") / F.col("type_avg")).alias("seasonal_index"),
            "n_anomalies",
        )
        .orderBy("event_type", "hr")
    )


@register(
    "agg_woe_iv_priority",
    oracle="""
    WITH bins AS (
      SELECT o_orderpriority,
             CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT)
               AS n_good,
             CAST(count(*) FILTER (WHERE o_orderstatus <> 'F') AS BIGINT)
               AS n_bad
      FROM orders GROUP BY 1
    ), tot AS (
      SELECT o_orderpriority, n_good, n_bad,
             sum(n_good) OVER () AS g, sum(n_bad) OVER () AS b
      FROM bins
    )
    SELECT o_orderpriority, n_good, n_bad,
           floor(ln(((n_good + 0.5) * (b + 0.5))
                    / ((n_bad + 0.5) * (g + 0.5))) * 1000000 + 0.5) / 1000000
             AS woe,
           floor((n_good * 1.0 / g - n_bad * 1.0 / b)
                 * ln(((n_good + 0.5) * (b + 0.5))
                      / ((n_bad + 0.5) * (g + 0.5))) * 1000000 + 0.5) / 1000000
             AS iv_contrib
    FROM tot ORDER BY o_orderpriority
    """,
)
def agg_woe_iv_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence / information-value screen of order priority
    against fulfilment (the credit-scoring feature-selection classic):
    per categorical bin, WOE = ln(good share / bad share) with the
    half-count (Laplace 0.5) smoothing pinned IDENTICALLY on both
    engines — ln(((g_i+.5)(B+.5))/((b_i+.5)(G+.5))) — and the bin's IV
    contribution (share gap × WOE). One data-sized aggregation; the
    WOE arithmetic runs over the 5-row bin frame (the OVER () totals
    are bin-frame windows, not data-sized)."""
    o = load_table(spark, sf_dir, "orders").select("o_orderpriority", "o_orderstatus")
    bins = o.groupBy("o_orderpriority").agg(
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
        .cast("long")
        .alias("n_good"),
        F.sum(F.when(F.col("o_orderstatus") != "F", 1).otherwise(0))
        .cast("long")
        .alias("n_bad"),
    )
    bins, w = spine_window(bins, [], max_rows=64, label="woe-priority-bins")
    tot = bins.select(
        "o_orderpriority",
        "n_good",
        "n_bad",
        F.sum("n_good").over(w).alias("g"),
        F.sum("n_bad").over(w).alias("b"),
    )
    woe = F.log(
        ((F.col("n_good") + 0.5) * (F.col("b") + 0.5))
        / ((F.col("n_bad") + 0.5) * (F.col("g") + 0.5))
    )
    return tot.select(
        "o_orderpriority",
        "n_good",
        "n_bad",
        _q6(woe).alias("woe"),
        _q6(
            (F.col("n_good") * 1.0 / F.col("g") - F.col("n_bad") * 1.0 / F.col("b"))
            * woe
        ).alias("iv_contrib"),
    ).orderBy("o_orderpriority")


# Welch's unequal-variance t-test: does the extended price of returned
# lineitems (l_returnflag='R') differ from the rest? Conditional
# aggregation computes both cohorts' moments in one map-side partial agg
# + 1-row final combine: no second scan, no join, no group-by shuffle of
# the fact table. var_samp (ddof=1) is pinned to match DuckDB's.
register_sql(
    "agg_welch_ttest",
    """
    WITH s AS (
      SELECT
        sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)      AS n_r,
        sum(CASE WHEN l_returnflag <> 'R' THEN 1 ELSE 0 END)     AS n_o,
        avg(CASE WHEN l_returnflag = 'R' THEN l_extendedprice END)  AS mean_r,
        avg(CASE WHEN l_returnflag <> 'R' THEN l_extendedprice END) AS mean_o,
        var_samp(CASE WHEN l_returnflag = 'R' THEN l_extendedprice END)  AS v_r,
        var_samp(CASE WHEN l_returnflag <> 'R' THEN l_extendedprice END) AS v_o
      FROM {lineitem}
    ), se AS (
      SELECT n_r, n_o, mean_r, mean_o, v_r, v_o,
             v_r / n_r AS se2_r, v_o / n_o AS se2_o
      FROM s
    )
    SELECT CAST(n_r AS BIGINT) AS n_r,
           CAST(n_o AS BIGINT) AS n_o,
           floor(mean_r * 1000000 + 0.5) / 1000000 AS mean_r,
           floor(mean_o * 1000000 + 0.5) / 1000000 AS mean_o,
           floor((mean_r - mean_o) / sqrt(se2_r + se2_o) * 1000000 + 0.5) / 1000000
             AS t_stat,
           floor((se2_r + se2_o) * (se2_r + se2_o)
                 / (se2_r * se2_r / (n_r - 1) + se2_o * se2_o / (n_o - 1))
                 * 1000000 + 0.5) / 1000000 AS df_welch
    FROM se
    """,
)


@register(
    "agg_bootstrap_ci_revenue",
    oracle="""
    WITH reps AS (
      SELECT o_orderkey, o_totalprice,
             unnest(generate_series(0, 19)) AS rep
      FROM orders
    ), weighted AS (
      SELECT rep, o_totalprice,
             CASE
               WHEN u < 0.36787944117144233 THEN 0
               WHEN u < 0.7357588823428847  THEN 1
               WHEN u < 0.9196986029286058  THEN 2
               WHEN u < 0.9810118431238462  THEN 3
               WHEN u < 0.9963401531726563  THEN 4
               WHEN u < 0.9994058151824183  THEN 5
               ELSE 6
             END AS wt
      FROM (
        SELECT rep, o_totalprice,
               ('0x' || substr(md5('boot:' || CAST(rep AS VARCHAR) || ':'
                               || CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
                 / 4294967296.0 AS u
        FROM reps)
    ), rep_means AS (
      SELECT rep,
             floor(sum(wt * o_totalprice) / nullif(sum(wt), 0)
                   * 1000000 + 0.5) / 1000000 AS rep_mean
      FROM weighted GROUP BY rep
    )
    SELECT CAST(count(*) AS BIGINT) AS n_reps,
           floor(avg(rep_mean) * 1000000 + 0.5) / 1000000 AS boot_mean,
           min(rep_mean) AS ci_lo,
           max(rep_mean) AS ci_hi
    FROM rep_means
    """,
)
def agg_bootstrap_ci_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed bootstrap confidence interval for mean order revenue
    via DETERMINISTIC Poisson resampling: instead of materializing 20
    resampled datasets (impossible at 100 TB), each row contributes a
    Poisson(1)-distributed weight to each replicate — the standard
    m-out-of-n "Poissonization" of the bootstrap (each bootstrap
    draw's multiplicity converges to Poisson(1)) used by large-scale
    systems because it needs only a map-side weight per (row,
    replicate) and one aggregation. The weight is a pure function of
    md5(seed‖replicate‖row-key) mapped through the Poisson(1) inverse
    CDF, so both engines (and any two cluster runs) reproduce the
    identical resample — no RNG state, no collect.

    Plan: explode(sequence(0..19)) is map-side (20× rows, zero
    shuffle), then ONE groupBy(rep) with map-side partial aggregation
    — 20 groups regardless of input size. Emits the replicate count,
    the bootstrap mean-of-means, and the [min, max] envelope of the 20
    replicate means (with 20 replicates the 2.5/97.5% quantiles ARE
    the envelope); replicate means are q6-quantized before the
    min/max so the envelope picks identically on both engines."""
    orders = load_table(spark, sf_dir, "orders")
    reps = orders.select(
        "o_orderkey",
        "o_totalprice",
        F.explode(F.sequence(F.lit(0), F.lit(19))).alias("rep"),
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("boot:"),
                        F.col("rep").cast("string"),
                        F.lit(":"),
                        F.col("o_orderkey").cast("string"),
                    ).cast("binary")
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        / F.lit(4294967296.0)
    )
    wt = (
        F.when(u < 0.36787944117144233, 0)
        .when(u < 0.7357588823428847, 1)
        .when(u < 0.9196986029286058, 2)
        .when(u < 0.9810118431238462, 3)
        .when(u < 0.9963401531726563, 4)
        .when(u < 0.9994058151824183, 5)
        .otherwise(6)
    )
    weighted = reps.select("rep", "o_totalprice", wt.alias("wt"))
    rep_means = weighted.groupBy("rep").agg(
        _q6(
            F.sum(F.col("wt") * F.col("o_totalprice"))
            / F.nullif(F.sum("wt"), F.lit(0))
        ).alias("rep_mean")
    )
    return rep_means.agg(
        F.count(F.lit(1)).cast("long").alias("n_reps"),
        _q6(F.avg("rep_mean")).alias("boot_mean"),
        F.min("rep_mean").alias("ci_lo"),
        F.max("rep_mean").alias("ci_hi"),
    )


@register(
    "w_seasonal_decompose_daily",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
             sum(o_totalprice) AS revenue
      FROM orders GROUP BY 1
    ), t AS (
      SELECT day, revenue,
             CASE WHEN count(*) OVER win = 7
                  THEN avg(revenue) OVER win END AS trend
      FROM daily
      WINDOW win AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ), s AS (
      SELECT dayofweek(day) AS dow, avg(revenue - trend) AS seasonal
      FROM t WHERE trend IS NOT NULL GROUP BY 1
    )
    SELECT t.day,
           CAST(s.dow AS BIGINT) AS dow,
           floor(t.revenue * 1000000 + 0.5) / 1000000 AS revenue,
           floor(t.trend * 1000000 + 0.5) / 1000000 AS trend,
           floor(s.seasonal * 1000000 + 0.5) / 1000000 AS seasonal,
           floor((t.revenue - t.trend - s.seasonal) * 1000000 + 0.5) / 1000000
             AS remainder
    FROM t JOIN s ON s.dow = dayofweek(t.day)
    ORDER BY t.day
    """,
)
def w_seasonal_decompose_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of the daily revenue
    series: trend = centered 7-day moving average (full windows only —
    the 3 edge days on each side get NULL trend and NULL remainder),
    seasonal = day-of-week mean of the detrended series, remainder =
    revenue − trend − seasonal. The moving-average flavor of STL — the
    first thing an analyst runs on any business time series.

    Scale: the raw fact scan collapses to ONE row per day before any
    window runs, so the unpartitioned 7-row frame slides over the DAY
    SPINE (365 rows/year — calendar-bounded, the x_rolling_mau_sketch
    posture), not over data-sized input; the 7-row seasonal profile
    broadcast-joins back. Day-of-week parity: Spark dayofweek() is
    1=Sunday..7, DuckDB's is 0=Sunday..6 — the engine subtracts 1."""
    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(F.date_trunc("day", "o_orderdate").cast("date").alias("day"))
        .agg(F.sum("o_totalprice").alias("revenue"))
    )
    # ~179 years of days before the declared bound trips — the guarded
    # single-partition spine contract (VERDICT r7 #5)
    daily, base = spine_window(daily, ["day"], max_rows=65536, label="day-spine")
    win = base.rowsBetween(-3, 3)
    t = daily.select(
        "day",
        "revenue",
        F.when(F.count(F.lit(1)).over(win) == 7, F.avg("revenue").over(win)).alias(
            "trend"
        ),
    )
    s = (
        t.filter(F.col("trend").isNotNull())
        .groupBy((F.dayofweek("day") - 1).alias("dow"))
        .agg(F.avg(F.col("revenue") - F.col("trend")).alias("seasonal"))
    )
    out = t.join(
        F.broadcast(s), (F.dayofweek(t["day"]) - 1) == s["dow"]
    )
    return out.select(
        "day",
        F.col("dow").cast("long").alias("dow"),
        _q6(F.col("revenue")).alias("revenue"),
        _q6(F.col("trend")).alias("trend"),
        _q6(F.col("seasonal")).alias("seasonal"),
        _q6(F.col("revenue") - F.col("trend") - F.col("seasonal")).alias("remainder"),
    ).orderBy("day")


@register(
    "agg_mann_whitney_u",
    oracle="""
    WITH g AS (
      SELECT l_extendedprice AS v,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_r
      FROM lineitem GROUP BY 1
    ), c AS (
      SELECT v, n, n_r,
             CAST(coalesce(sum(n) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS cum_n
      FROM g
    ), s AS (
      SELECT CAST(sum(n_r) AS BIGINT)                       AS n1,
             CAST(sum(n) AS BIGINT)                         AS n_tot,
             CAST(sum(n_r * (2 * cum_n + n + 1)) AS BIGINT) AS r1x2,
             CAST(sum(n * n * n - n) AS BIGINT)             AS ties
      FROM c
    ), u AS (
      SELECT n1, n_tot - n1 AS n2, n_tot, ties,
             (r1x2 - n1 * (n1 + 1)) / 2.0 AS u1
      FROM s
    )
    SELECT n1 AS n_r, n2 AS n_o, u1 AS u_stat,
           floor((u1 - n1 * n2 / 2.0)
                 / sqrt(n1 * n2 / 12.0
                        * ((n_tot + 1) - ties / (n_tot * (n_tot - 1.0))))
                 * 1000000 + 0.5) / 1000000 AS z_stat
    FROM u
    """,
)
def agg_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) test between the same two
    cohorts as agg_welch_ttest (returned vs other lineitems, on
    extended price) — the rank-based nonparametric twin that holds
    when the t-test's normality assumption doesn't. Midranks handle
    ties; the normal approximation carries the standard tie-corrected
    variance n1·n2/12·((n+1) − Σ(t³−t)/(n(n−1))).

    EXACT-INTEGER rank sums, no data-sized sort: group by value (one
    shuffle; ties collapse to one row), then
    relational.distributed_prefix_sum supplies each value's
    strictly-less count via the range-partition + broadcast-offset
    two-phase — never a single-task ``sum() OVER (ORDER BY …)``.
    Doubled midranks (2·cum_less + t + 1) keep every accumulated
    quantity int64 (bounded by 2n² < 2^63 up to ~10^9 rows — the cap
    is documented, not silent: past it, promote r1x2 to the decimal
    type), so U is an exact integer-valued double and only the final
    z — one 1-row float expression — is q6'd. Compare: a naive
    implementation ranks the whole fact table through one partition;
    this one's biggest frame after the first agg is |distinct prices|."""
    from ..operators.relational import distributed_prefix_sum

    li = load_table(spark, sf_dir, "lineitem")
    g = li.groupBy(F.col("l_extendedprice").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("long")
        .alias("n_r"),
    )
    c = distributed_prefix_sum(g, ["v"], ["n"])
    s = c.agg(
        F.sum("n_r").cast("long").alias("n1"),
        F.sum("n").cast("long").alias("n_tot"),
        F.sum(F.col("n_r") * (2 * F.col("cum_n") + F.col("n") + 1))
        .cast("long")
        .alias("r1x2"),
        F.sum(F.col("n") * F.col("n") * F.col("n") - F.col("n"))
        .cast("long")
        .alias("ties"),
    )
    u = s.select(
        "n1",
        (F.col("n_tot") - F.col("n1")).alias("n2"),
        "n_tot",
        "ties",
        ((F.col("r1x2") - F.col("n1") * (F.col("n1") + 1)) / 2.0).alias("u1"),
    )
    return u.select(
        F.col("n1").alias("n_r"),
        F.col("n2").alias("n_o"),
        F.col("u1").alias("u_stat"),
        _q6(
            (F.col("u1") - F.col("n1") * F.col("n2") / 2.0)
            / F.sqrt(
                F.col("n1")
                * F.col("n2")
                / 12.0
                * (
                    (F.col("n_tot") + 1)
                    - F.col("ties") / (F.col("n_tot") * (F.col("n_tot") - 1.0))
                )
            )
        ).alias("z_stat"),
    )


@register(
    "agg_spearman_rank_corr",
    oracle="""
    WITH gx AS (
      SELECT l_quantity AS v, CAST(count(*) AS BIGINT) AS n
      FROM lineitem GROUP BY 1
    ), cx AS (
      SELECT v,
             CAST(coalesce(sum(n) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               + (n + 1) / 2.0 AS r
      FROM gx
    ), gy AS (
      SELECT l_extendedprice AS v, CAST(count(*) AS BIGINT) AS n
      FROM lineitem GROUP BY 1
    ), cy AS (
      SELECT v,
             CAST(coalesce(sum(n) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               + (n + 1) / 2.0 AS r
      FROM gy
    )
    SELECT CAST(count(*) AS BIGINT) AS n,
           floor(corr(cx.r, cy.r) * 1000000 + 0.5) / 1000000 AS spearman_rho
    FROM lineitem l
    JOIN cx ON l.l_quantity = cx.v
    JOIN cy ON l.l_extendedprice = cy.v
    """,
)
def agg_spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between quantity and extended price —
    the monotonic-association twin of agg_corr_covar's Pearson (robust
    to the heavy price tails that distort the linear coefficient).
    With ties, Spearman IS Pearson over midranks; midranks come from
    the same skew-proof spine as agg_mann_whitney_u: group by value
    (ties collapse), relational.distributed_prefix_sum for each
    value's strictly-less count — never a fact-table-sized
    ``row_number() OVER (ORDER BY …)`` through one task.

    The rank maps join back value-keyed: the quantity map (50 distinct
    values) broadcasts; the price map is a shuffle equi-join on the
    price — the one fact-sized exchange, the irreducible cost of
    pairing per-row ranks. Midranks are k or k+0.5 — exact doubles,
    identical both engines; only the final corr (merged co-moments,
    order-sensitive) is q6'd."""
    from ..operators.relational import distributed_prefix_sum

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_quantity", "l_extendedprice"
    )

    def rank_map(col: str) -> DataFrame:
        g = li.groupBy(F.col(col).alias("v")).agg(
            F.count(F.lit(1)).cast("long").alias("n")
        )
        c = distributed_prefix_sum(g, ["v"], ["n"])
        return c.select(
            "v", (F.col("cum_n") + (F.col("n") + 1) / 2.0).alias("r")
        )

    rx = rank_map("l_quantity")
    ry = rank_map("l_extendedprice")
    paired = (
        li.join(
            F.broadcast(rx.withColumnRenamed("v", "l_quantity")), "l_quantity"
        )
        .withColumnRenamed("r", "rx")
        .join(ry.withColumnRenamed("v", "l_extendedprice"), "l_extendedprice")
        .withColumnRenamed("r", "ry")
    )
    return paired.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        _q6(F.corr("rx", "ry")).alias("spearman_rho"),
    )


@register(
    "agg_ols_price_model",
    oracle="""
    WITH m AS (
      SELECT CAST(count(*) AS BIGINT)                              AS n,
             CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS s1,
             CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) AS s2,
             CAST(sum(CAST(round(l_quantity) AS BIGINT)
                    * CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS s11,
             CAST(sum(CAST(round(l_quantity) AS BIGINT)
                    * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) AS s12,
             CAST(sum(CAST(round(l_discount * 100) AS BIGINT)
                    * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) AS s22,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sy,
             CAST(sum(CAST(round(l_quantity) AS BIGINT)
                    * CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS s1y,
             CAST(sum(CAST(round(l_discount * 100) AS BIGINT)
                    * CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS s2y,
             sum(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS DOUBLE)
               * CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS DOUBLE)) AS syy
      FROM lineitem
    ), d AS (
      SELECT *,
             n  * (s11 * 1.0 * s22 - s12 * 1.0 * s12)
           - s1 * (s1  * 1.0 * s22 - s12 * 1.0 * s2)
           + s2 * (s1  * 1.0 * s12 - s11 * 1.0 * s2)  AS det
      FROM m
    ), b AS (
      SELECT *,
             (sy * (s11 * 1.0 * s22 - s12 * 1.0 * s12)
            - s1 * (s1y * 1.0 * s22 - s12 * 1.0 * s2y)
            + s2 * (s1y * 1.0 * s12 - s11 * 1.0 * s2y)) / det AS b0,
             (n  * (s1y * 1.0 * s22 - s12 * 1.0 * s2y)
            - sy * (s1  * 1.0 * s22 - s12 * 1.0 * s2)
            + s2 * (s1  * 1.0 * s2y - s1y * 1.0 * s2)) / det  AS b1,
             (n  * (s11 * 1.0 * s2y - s1y * 1.0 * s12)
            - s1 * (s1  * 1.0 * s2y - s1y * 1.0 * s2)
            + sy * (s1  * 1.0 * s12 - s11 * 1.0 * s2)) / det  AS b2
      FROM d
    )
    SELECT n,
           floor(b0 / 100.0 * 1000000 + 0.5) / 1000000 AS intercept,
           floor(b1 / 100.0 * 1000000 + 0.5) / 1000000 AS slope_qty,
           floor(b2 / 100.0 * 1000000 + 0.5) / 1000000 AS slope_disc_pct,
           floor((1.0 - (syy - (b0 * sy + b1 * s1y + b2 * s2y))
                      / (syy - sy * 1.0 * sy / n))
                 * 1000000 + 0.5) / 1000000            AS r2
    FROM b
    """,
)
def agg_ols_price_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-factor OLS in ONE scan and zero MLlib: extended price
    regressed on (quantity, discount) via the normal equations, solved
    with Cramer's rule on the 3×3 moment matrix. The multiple-
    regression extension of agg_linear_trend — the closed-form model a
    100 TB engine fits without an iterative solver: map-side partial
    sums, a 1-row combine, then pure expressions.

    EXACT-INTEGER moments: quantity is integral and price/discount are
    2-decimal, so every first/second moment except Σy² is accumulated
    in int64 CENTS — bit-identical across engines regardless of
    summation order (Σy² in cents overflows int64 at ~10⁶ rows, so it
    alone runs in double; it only feeds r², where its ~1e-13 relative
    wobble is 7 orders under the q6 quantizer). The determinant
    expressions are written with identical association on both
    engines. Coefficients are rescaled from the cents model
    (intercept/100, qty slope/100; all three
    coefficients divide by 100 to land in dollars — the discount
    regressor is in percentage points on both sides)."""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.round(F.col("l_quantity")).cast("long")
    dc = F.round(F.col("l_discount") * 100).cast("long")
    yc = F.round(F.col("l_extendedprice") * 100).cast("long")
    m = li.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(q).cast("long").alias("s1"),
        F.sum(dc).cast("long").alias("s2"),
        F.sum(q * q).cast("long").alias("s11"),
        F.sum(q * dc).cast("long").alias("s12"),
        F.sum(dc * dc).cast("long").alias("s22"),
        F.sum(yc).cast("long").alias("sy"),
        F.sum(q * yc).cast("long").alias("s1y"),
        F.sum(dc * yc).cast("long").alias("s2y"),
        F.sum(yc.cast("double") * yc.cast("double")).alias("syy"),
    )
    c = {k: F.col(k) for k in ("n", "s1", "s2", "s11", "s12", "s22", "sy", "s1y", "s2y", "syy")}
    det = (
        c["n"] * (c["s11"] * 1.0 * c["s22"] - c["s12"] * 1.0 * c["s12"])
        - c["s1"] * (c["s1"] * 1.0 * c["s22"] - c["s12"] * 1.0 * c["s2"])
        + c["s2"] * (c["s1"] * 1.0 * c["s12"] - c["s11"] * 1.0 * c["s2"])
    )
    d = m.withColumn("det", det)
    b0 = (
        F.col("sy") * (c["s11"] * 1.0 * c["s22"] - c["s12"] * 1.0 * c["s12"])
        - c["s1"] * (c["s1y"] * 1.0 * c["s22"] - c["s12"] * 1.0 * c["s2y"])
        + c["s2"] * (c["s1y"] * 1.0 * c["s12"] - c["s11"] * 1.0 * c["s2y"])
    ) / F.col("det")
    b1 = (
        c["n"] * (c["s1y"] * 1.0 * c["s22"] - c["s12"] * 1.0 * c["s2y"])
        - c["sy"] * (c["s1"] * 1.0 * c["s22"] - c["s12"] * 1.0 * c["s2"])
        + c["s2"] * (c["s1"] * 1.0 * c["s2y"] - c["s1y"] * 1.0 * c["s2"])
    ) / F.col("det")
    b2 = (
        c["n"] * (c["s11"] * 1.0 * c["s2y"] - c["s1y"] * 1.0 * c["s12"])
        - c["s1"] * (c["s1"] * 1.0 * c["s2y"] - c["s1y"] * 1.0 * c["s2"])
        + c["sy"] * (c["s1"] * 1.0 * c["s12"] - c["s11"] * 1.0 * c["s2"])
    ) / F.col("det")
    bb = d.withColumn("b0", b0).withColumn("b1", b1).withColumn("b2", b2)
    return bb.select(
        "n",
        _q6(F.col("b0") / 100.0).alias("intercept"),
        _q6(F.col("b1") / 100.0).alias("slope_qty"),
        _q6(F.col("b2") / 100.0).alias("slope_disc_pct"),
        _q6(
            1.0
            - (
                F.col("syy")
                - (
                    F.col("b0") * F.col("sy")
                    + F.col("b1") * F.col("s1y")
                    + F.col("b2") * F.col("s2y")
                )
            )
            / (F.col("syy") - F.col("sy") * 1.0 * F.col("sy") / F.col("n"))
        ).alias("r2"),
    )


@register(
    "agg_hill_tail_index",
    oracle="""
    WITH r AS (
      SELECT l_extendedprice AS x,
             row_number() OVER (ORDER BY l_extendedprice DESC,
                                l_orderkey, l_linenumber) AS rn
      FROM lineitem
      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
      LIMIT 501
    ), ref AS (
      SELECT max(CASE WHEN rn = 501 THEN x END) AS x_ref FROM r
    )
    SELECT CAST(500 AS BIGINT) AS k,
           floor((SELECT x_ref FROM ref) * 1000000 + 0.5) / 1000000 AS x_ref,
           floor(500.0 / sum(ln(x / (SELECT x_ref FROM ref)))
                 * 1000000 + 0.5) / 1000000 AS hill_alpha
    FROM r WHERE rn <= 500
    """,
)
def agg_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the price distribution's upper-tail index —
    the heavy-tail diagnostic behind every "does a Pareto fit the top
    orders" question (and the parametric companion to
    agg_gini_revenue_concentration / x_zipf_fit_words: Gini summarizes
    inequality, Zipf fits ranks, Hill estimates the tail exponent
    alpha from the top-k order statistics: alpha = k / Σ ln(x_i/x_ref)
    with x_ref the (k+1)-th largest, k=500 pinned).

    Plan: TakeOrderedAndProject(501) on (price desc, orderkey,
    linenumber) — the deterministic total order; every map task
    forwards its local top-501, the driver-side heap never sees the
    corpus. The 1-row reference then broadcasts into a 500-row agg:
    ln of identical doubles is exact, the 500-term sum alone is q6'd.
    At 100 TB the cost is the scan; k is constant."""
    li = load_table(spark, sf_dir, "lineitem")
    top = (
        li.select("l_extendedprice", "l_orderkey", "l_linenumber")
        .orderBy(
            F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber")
        )
        .limit(501)
    )
    # limit(501) bounds the frame by construction; the guard makes the
    # single-partition rank contract explicit (spine_window, r7 #5)
    top, base = spine_window(
        top,
        [F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber")],
        max_rows=501,
        label="hill-top-k",
    )
    r = top.withColumn("rn", F.row_number().over(base))
    ref = r.filter(F.col("rn") == 501).select(
        F.col("l_extendedprice").alias("x_ref")
    )
    return (
        r.filter(F.col("rn") <= 500)
        .crossJoin(F.broadcast(ref))
        .agg(
            F.lit(500).cast("long").alias("k"),
            _q6(F.first("x_ref")).alias("x_ref"),
            _q6(
                500.0 / F.sum(F.log(F.col("l_extendedprice") / F.col("x_ref")))
            ).alias("hill_alpha"),
        )
    )


@register(
    "agg_burstiness_hourly",
    oracle="""
    WITH b AS (
      SELECT CAST(to_timestamp(floor(epoch(min(ts)) / 3600) * 3600) AS TIMESTAMP) AS lo,
             CAST(to_timestamp(floor(epoch(max(ts)) / 3600) * 3600) AS TIMESTAMP) AS hi
      FROM events
    ), hours AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM b
    ), types AS (
      SELECT DISTINCT event_type FROM events
    ), cnt AS (
      SELECT event_type,
             CAST(to_timestamp(floor(epoch(ts) / 3600) * 3600) AS TIMESTAMP) AS hour,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ), grid AS (
      SELECT t.event_type, h.hour, coalesce(c.c, 0) AS c
      FROM types t CROSS JOIN hours h
      LEFT JOIN cnt c ON c.event_type = t.event_type AND c.hour = h.hour
    ), s AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_hours,
             CAST(sum(c) AS BIGINT)   AS n_events,
             avg(c)                   AS mu,
             var_pop(c)               AS v
      FROM grid GROUP BY event_type
    )
    SELECT event_type, n_hours, n_events,
           floor(mu * 1000000 + 0.5) / 1000000 AS mean_per_hour,
           floor(v / mu * 1000000 + 0.5) / 1000000 AS fano,
           floor((sqrt(v) - mu) / (sqrt(v) + mu) * 1000000 + 0.5) / 1000000
             AS burstiness
    FROM s ORDER BY event_type
    """,
)
def agg_burstiness_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrival burstiness per event type over the COMPLETE global hour
    spine: Fano factor (variance-to-mean of hourly counts — 1 for a
    Poisson process, >1 for bursty arrivals) and the Goh–Barabási
    burstiness coefficient (σ−μ)/(σ+μ). The spine matters: hours with
    ZERO events are real observations, and a counts-only groupBy would
    silently drop them and understate the variance — so the spine is
    generated from the global [min, max] hour (one 1-row agg,
    broadcast) and cross-joined with the type list before the counts
    left-join back, zeros included by construction.

    Plan: one (type, hour) count shuffle on the fact scan; the grid is
    |types| × |hours| rows (calendar-bounded, independent of event
    volume) with the count frame joined back hour-keyed; moments are
    int-valued count aggregates (var_pop flavor pinned), final ratios
    q6'd. At 100 TB the cost is the scan + one shuffle."""
    ev = load_table(spark, sf_dir, "events")
    hour = F.timestamp_seconds(F.floor(F.unix_timestamp("ts") / 3600) * 3600)
    b = ev.agg(
        F.timestamp_seconds(
            F.floor(F.unix_timestamp(F.min("ts")) / 3600) * 3600
        ).alias("lo"),
        F.timestamp_seconds(
            F.floor(F.unix_timestamp(F.max("ts")) / 3600) * 3600
        ).alias("hi"),
    )
    hours = b.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour")
    )
    types = ev.select("event_type").distinct()
    cnt = ev.groupBy(
        "event_type", hour.alias("hour")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    grid = (
        types.crossJoin(F.broadcast(hours))
        .join(cnt, ["event_type", "hour"], "left")
        .select(
            "event_type", "hour", F.coalesce(F.col("c"), F.lit(0)).alias("c")
        )
    )
    s = grid.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.sum("c").cast("long").alias("n_events"),
        F.avg("c").alias("mu"),
        F.var_pop("c").alias("v"),
    )
    return s.select(
        "event_type",
        "n_hours",
        "n_events",
        _q6(F.col("mu")).alias("mean_per_hour"),
        _q6(F.col("v") / F.col("mu")).alias("fano"),
        _q6(
            (F.sqrt(F.col("v")) - F.col("mu"))
            / (F.sqrt(F.col("v")) + F.col("mu"))
        ).alias("burstiness"),
    ).orderBy("event_type")


from . import ORACLE as _ORACLE_REG  # noqa: E402

# Reuse w_seasonal_decompose_daily's CTE chain (daily -> t -> s)
# verbatim, swapping the final SELECT — the strength metric stays in
# lockstep with the decomposition it summarizes.
_DECOMP_CTES = _ORACLE_REG["w_seasonal_decompose_daily"].rsplit("SELECT t.day,", 1)[0]


@register(
    "agg_seasonal_strength",
    oracle=f"""{_DECOMP_CTES}, j AS (
      SELECT t.revenue, s.seasonal,
             t.revenue - t.trend - s.seasonal AS rem
      FROM t JOIN s ON s.dow = dayofweek(t.day)
      WHERE t.trend IS NOT NULL
    )
    SELECT CAST(count(*) AS BIGINT) AS n_days,
           floor(greatest(0, 1 - var_pop(rem) / var_pop(seasonal + rem))
                 * 1000000 + 0.5) / 1000000 AS f_seasonal,
           floor(greatest(0, 1 - var_pop(rem) / var_pop(revenue - seasonal))
                 * 1000000 + 0.5) / 1000000 AS f_trend
    FROM j
    """,
)
def agg_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyndman's seasonal/trend strength of the daily revenue series:
    F_seasonal = max(0, 1 − var(remainder)/var(seasonal+remainder)) and
    F_trend = max(0, 1 − var(remainder)/var(revenue−seasonal)) over the
    full-window days of w_seasonal_decompose_daily's decomposition —
    the two scalars that say whether the decomposition's components
    carry signal (≈0: noise; →1: strongly seasonal/trending), i.e. the
    summary an alerting job thresholds instead of eyeballing the
    decomposition. The oracle reuses the decompose query's CTE chain
    verbatim and swaps the final SELECT, so the two stay in lockstep.

    Plan: the decompose plan (fact scan collapsed to the day spine
    before any window) + one 1-row variance combine; var_pop flavor
    pinned, ratios q6'd."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.date_trunc("day", "o_orderdate").cast("date").alias("day")
    ).agg(F.sum("o_totalprice").alias("revenue"))
    daily, base = spine_window(daily, ["day"], max_rows=65536, label="day-spine")
    win = base.rowsBetween(-3, 3)
    t = daily.select(
        "day",
        "revenue",
        F.when(
            F.count(F.lit(1)).over(win) == 7, F.avg("revenue").over(win)
        ).alias("trend"),
    )
    s = (
        t.filter(F.col("trend").isNotNull())
        .groupBy((F.dayofweek("day") - 1).alias("dow"))
        .agg(F.avg(F.col("revenue") - F.col("trend")).alias("seasonal"))
    )
    j = (
        t.join(F.broadcast(s), (F.dayofweek(t["day"]) - 1) == s["dow"])
        .filter(F.col("trend").isNotNull())
        .select(
            "revenue",
            "seasonal",
            (F.col("revenue") - F.col("trend") - F.col("seasonal")).alias("rem"),
        )
    )
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        _q6(
            F.greatest(
                F.lit(0.0),
                1 - F.var_pop("rem") / F.var_pop(F.col("seasonal") + F.col("rem")),
            )
        ).alias("f_seasonal"),
        _q6(
            F.greatest(
                F.lit(0.0),
                1
                - F.var_pop("rem")
                / F.var_pop(F.col("revenue") - F.col("seasonal")),
            )
        ).alias("f_trend"),
    )


# The same cells -> tot CTE chain as agg_chi2_independence
# (coverage_q.py — loaded AFTER this module, so the text is inlined
# rather than reused via the ORACLE registry like the decompose
# strength was); the effect size stays in lockstep by convention.
_CHI2_CTES = """
    WITH cells AS (
      SELECT event_type, user_id % 2 AS grp, CAST(count(*) AS DOUBLE) AS n
      FROM events GROUP BY 1, 2
    ), tot AS (
      SELECT event_type, grp, n,
             sum(n) OVER (PARTITION BY event_type) AS row_tot,
             sum(n) OVER (PARTITION BY grp) AS col_tot,
             sum(n) OVER () AS grand
      FROM cells
    )
    """


@register(
    "agg_cramers_v",
    oracle=f"""{_CHI2_CTES}SELECT
           CAST(sum(n) AS BIGINT) AS n_obs,
           floor(sqrt(sum((n - row_tot * col_tot / grand)
                          * (n - row_tot * col_tot / grand)
                          / (row_tot * col_tot / grand))
                      / (sum(n) * (least(count(DISTINCT event_type),
                                         count(DISTINCT grp)) - 1)))
                 * 1000000 + 0.5) / 1000000 AS cramers_v
    FROM tot
    """,
)
def agg_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V effect size for the event_type × user-parity
    contingency table: V = sqrt(χ² / (n·(min(r,c) − 1))) — the
    [0, 1]-scaled companion to agg_chi2_independence's raw statistic
    (χ² grows with n even for a fixed association strength; V is what
    two tables of different sizes can be compared on). The oracle
    reuses the chi² query's CTE chain verbatim and swaps the final
    SELECT.

    Plan: identical to the chi² query — one map-side-combined
    contingency count, expected-value windows over the |types|×2 CELL
    frame, a 1-row combine. V is q6'd; n_obs is exact."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type", (F.col("user_id") % 2).alias("grp")
    ).agg(F.count(F.lit(1)).cast("double").alias("n"))
    wr = Window.partitionBy("event_type")
    wc = Window.partitionBy("grp")
    cells, wg = spine_window(cells, [], max_rows=4096, label="contingency-cells")
    t = (
        cells.withColumn("row_tot", F.sum("n").over(wr))
        .withColumn("col_tot", F.sum("n").over(wc))
        .withColumn("grand", F.sum("n").over(wg))
    )
    e = F.col("row_tot") * F.col("col_tot") / F.col("grand")
    return t.agg(
        F.sum("n").cast("long").alias("n_obs"),
        _q6(
            F.sqrt(
                F.sum((F.col("n") - e) * (F.col("n") - e) / e)
                / (
                    F.sum("n")
                    * (
                        F.least(
                            F.countDistinct("event_type"),
                            F.countDistinct("grp"),
                        )
                        - 1
                    )
                )
            )
        ).alias("cramers_v"),
    )


@register(
    "agg_lorenz_curve",
    oracle="""
    WITH cr AS (
      SELECT o_custkey,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rc
      FROM orders GROUP BY 1
    ), r AS (
      SELECT rc, row_number() OVER (ORDER BY rc, o_custkey) - 1 AS id
      FROM cr
    ), t AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(rc) AS BIGINT) AS tot
      FROM cr
    ), p AS (
      SELECT unnest([10, 20, 30, 40, 50, 60, 70, 80, 90]) AS pct
    )
    SELECT CAST(p.pct AS BIGINT) AS pct,
           CAST(floor(t.n * p.pct / 100.0) AS BIGINT) AS k_customers,
           CAST(sum(CASE WHEN r.id < floor(t.n * p.pct / 100.0)
                         THEN r.rc ELSE 0 END) AS BIGINT) * 1.0 / t.tot
             AS cum_revenue_share
    FROM r CROSS JOIN p CROSS JOIN t
    GROUP BY p.pct, t.n, t.tot
    ORDER BY pct
    """,
)
def agg_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of customer revenue concentration at the 10%…90%
    deciles: L(p) = revenue share of the poorest p% of customers — the
    curve whose area complement IS agg_gini_revenue_concentration's
    coefficient, emitted pointwise so a dashboard can draw it and an
    analyst can read "the bottom 80% hold L(80) of revenue" (the 80/20
    diagnostic) directly.

    EXACT arithmetic end-to-end: per-customer revenue accumulates in
    int64 cents, ranks come from relational.assign_dense_ids (the
    range-partition + broadcast-offset two-phase — no customer-count
    single-task sort), decile cutoffs are floor(n·p/100) of exact
    counts, and each share is ONE division of exact int64s — emitted
    RAW per the engine rounding policy, bit-identical across engines.
    Plan: one custkey agg on the fact scan, the dense-id phases, a
    9-row broadcast fan-out + 9-group fold, a 1-row totals broadcast."""
    from ..operators.relational import assign_dense_ids

    orders = load_table(spark, sf_dir, "orders")
    # materialize ONCE: cr feeds both the rank phases and the totals agg
    cr = materialize(
        orders.groupBy("o_custkey").agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).cast("long").alias("rc")
        )
    )
    ranked = assign_dense_ids(cr, ["rc", "o_custkey"], id_col="id")
    t = cr.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("rc").cast("long").alias("tot"),
    )
    pcts = ranked.sparkSession.createDataFrame(
        [(p,) for p in range(10, 100, 10)], "pct long"
    )
    return (
        ranked.crossJoin(F.broadcast(t))
        .crossJoin(F.broadcast(pcts))
        .groupBy("pct", "n", "tot")
        .agg(
            F.sum(
                F.when(
                    F.col("id") < F.floor(F.col("n") * F.col("pct") / 100.0),
                    F.col("rc"),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("cum_cents")
        )
        .select(
            "pct",
            F.floor(F.col("n") * F.col("pct") / 100.0)
            .cast("long")
            .alias("k_customers"),
            (F.col("cum_cents") * 1.0 / F.col("tot")).alias(
                "cum_revenue_share"
            ),
        )
        .orderBy("pct")
    )


@register(
    "agg_interarrival_stats",
    oracle="""
    WITH g AS (
      SELECT event_type,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY event_type ORDER BY ts, event_id) AS gap_us
      FROM events
    )
    SELECT event_type,
           CAST(count(gap_us) AS BIGINT) AS n_gaps,
           avg(gap_us / 1000000.0) AS mean_gap_s,
           quantile_cont(gap_us / 1000000.0, 0.5)  AS median_gap_s,
           quantile_cont(gap_us / 1000000.0, 0.95) AS p95_gap_s,
           floor(stddev_samp(gap_us / 1000000.0)
                 / avg(gap_us / 1000000.0) * 1000000 + 0.5) / 1000000
             AS cv
    FROM g WHERE gap_us IS NOT NULL
    GROUP BY event_type ORDER BY event_type
    """,
)
def agg_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival time profile per event type: count, mean, median,
    p95 gap (seconds) and the coefficient of variation — the
    renewal-process view of arrival burstiness (CV = 1 for Poisson,
    > 1 bursty) that complements agg_burstiness_hourly's binned Fano
    factor with bin-free gap statistics a capacity planner reads
    directly (p95 gap = staleness budget).

    Determinism: gaps are EXACT int64 microsecond differences
    (unix_micros ≡ epoch_us, the engine-wide integer-micros pairing —
    no bare epoch()), /1e6 is one identical IEEE division, and the
    interpolating percentiles (Spark `percentile` ≡ quantile_cont)
    operate on identical doubles — so only the CV, whose stddev
    accumulates in engine-specific order, needs q6. One series-keyed
    window pass + one per-type agg."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    g = ev.select(
        "event_type", (us - F.lag(us).over(w)).alias("gap_us")
    ).filter(F.col("gap_us").isNotNull())
    gap_s = F.col("gap_us") / 1000000.0
    return (
        g.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_gaps"),
            F.avg(gap_s).alias("mean_gap_s"),
            F.expr("percentile(gap_us / 1000000.0, 0.5D)").alias("median_gap_s"),
            F.expr("percentile(gap_us / 1000000.0, 0.95D)").alias("p95_gap_s"),
            _q6(F.stddev_samp(gap_s) / F.avg(gap_s)).alias("cv"),
        )
        .orderBy("event_type")
    )


@register(
    "agg_source_mixture_entropy",
    oracle="""
    WITH c AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1
    ), s AS (
      SELECT CAST(count(*) AS BIGINT) AS n_sources,
             CAST(sum(n) AS BIGINT)   AS n_docs,
             sum(n * ln(n))           AS nlogn
      FROM c
    )
    SELECT n_sources, n_docs,
           floor((ln(n_docs * 1.0) - nlogn / n_docs) * 1000000 + 0.5) / 1000000
             AS entropy_nats,
           floor((ln(n_docs * 1.0) - nlogn / n_docs) / ln(n_sources * 1.0)
                 * 1000000 + 0.5) / 1000000 AS entropy_normalized
    FROM s
    """,
)
def agg_source_mixture_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the corpus SOURCE MIXTURE (document-share
    distribution over sources) plus its ln(k)-normalized form — the
    one-scalar diversity read of a training mix: 1.0 means perfectly
    balanced sources, a collapse toward 0 means one source dominates
    (what x_domain_cap_documents exists to prevent; this is the metric
    that says whether the cap is needed). Same window-free fold
    identity as x_source_entropy — H = ln N − Σ n·ln n / N over exact
    int64 counts, one tiny per-source agg + a 1-row combine; the two
    order-sensitive sums are q6'd at output."""
    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n"))
    s = c.agg(
        F.count(F.lit(1)).cast("long").alias("n_sources"),
        F.sum("n").cast("long").alias("n_docs"),
        F.sum(F.col("n") * F.log("n")).alias("nlogn"),
    )
    h = F.log(F.col("n_docs") * 1.0) - F.col("nlogn") / F.col("n_docs")
    return s.select(
        "n_sources",
        "n_docs",
        _q6(h).alias("entropy_nats"),
        _q6(h / F.log(F.col("n_sources") * 1.0)).alias("entropy_normalized"),
    )


@register(
    "agg_cvm_price_drift",
    oracle="""
    WITH o AS (
      SELECT CAST(year(o_orderdate) AS INT) AS y, o_totalprice AS p FROM orders
    ), u AS (
      SELECT p,
             CAST(count(CASE WHEN y = 1995 THEN 1 END) AS BIGINT) AS ca,
             CAST(count(CASE WHEN y = 1996 THEN 1 END) AS BIGINT) AS cb
      FROM o WHERE y IN (1995, 1996) GROUP BY p
    ), e AS (
      SELECT ca, cb,
             sum(ca) OVER (ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cum_a,
             sum(cb) OVER (ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cum_b
      FROM u
    ), tot AS (
      SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb FROM u
    )
    SELECT t.na AS n_ref, t.nb AS n_cur,
           floor(
             (t.na * t.nb * 1.0 / ((t.na + t.nb) * (t.na + t.nb)))
             * sum((e.ca + e.cb)
                   * (e.cum_a * 1.0 / t.na - e.cum_b * 1.0 / t.nb)
                   * (e.cum_a * 1.0 / t.na - e.cum_b * 1.0 / t.nb))
             * 1000000 + 0.5) / 1000000 AS cvm_stat
    FROM e, tot t
    GROUP BY t.na, t.nb
    """,
)
def agg_cvm_price_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér–von Mises statistic on the order-price
    distribution, 1995 vs 1996 — the INTEGRATED-squared companion to
    agg_ks_price_drift's sup-norm view (KS sees only the single worst
    ECDF gap; CvM accumulates every gap, so a broad mild shift that KS
    under-weights still registers). Pinned computational form: the
    pooled-ECDF sum T = n·m/(n+m)² · Σ_x c_x (F_a(x) − F_b(x))², with
    c_x the pooled multiplicity at each distinct value — ties handled
    by construction, no ranking step to disagree on.

    Plan and determinism inherit the KS query wholesale: distinct
    prices aggregate first, the running counts are EXACT integers
    through spine_cumsum (measured routing — ordered window at/under
    64k distinct values, distributed_prefix_sum above, identical sums
    either way), each ECDF value is one integer division, and only the
    final weighted sum is q6'd."""
    o = load_table(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice")
    a = o.filter(F.year("o_orderdate") == 1995).select(F.col("o_totalprice").alias("p"))
    b = o.filter(F.year("o_orderdate") == 1996).select(F.col("o_totalprice").alias("p"))
    na, nb = a.count(), b.count()
    u = materialize(
        a.withColumn("side", F.lit("a"))
        .unionByName(b.withColumn("side", F.lit("b")))
        .groupBy("p")
        .agg(
            F.count(F.when(F.col("side") == "a", 1)).alias("ca"),
            F.count(F.when(F.col("side") == "b", 1)).alias("cb"),
        )
    )
    e = spine_cumsum(u, ["p"], ["ca", "cb"], threshold=65536)
    gap = F.col("cum_ca") * 1.0 / F.lit(na) - F.col("cum_cb") * 1.0 / F.lit(nb)
    return e.agg(
        F.lit(na).cast("long").alias("n_ref"),
        F.lit(nb).cast("long").alias("n_cur"),
        _q6(
            F.lit(na * nb * 1.0 / ((na + nb) * (na + nb)))
            * F.sum((F.col("ca") + F.col("cb")) * gap * gap)
        ).alias("cvm_stat"),
    )


@register(
    "agg_tukey_fences",
    oracle="""
    WITH q AS (
      SELECT o_orderpriority,
             quantile_cont(o_totalprice, 0.25) AS q1,
             quantile_cont(o_totalprice, 0.75) AS q3
      FROM orders GROUP BY o_orderpriority
    ), f AS (
      SELECT o_orderpriority,
             floor((q1 - 1.5 * (q3 - q1)) * 1000000 + 0.5) / 1000000 AS lo,
             floor((q3 + 1.5 * (q3 - q1)) * 1000000 + 0.5) / 1000000 AS hi,
             floor(q1 * 1000000 + 0.5) / 1000000 AS q1,
             floor(q3 * 1000000 + 0.5) / 1000000 AS q3
      FROM q
    )
    SELECT o.o_orderpriority, f.q1, f.q3, f.lo AS lower_fence, f.hi AS upper_fence,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN o.o_totalprice < f.lo OR o.o_totalprice > f.hi
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM orders o JOIN f ON f.o_orderpriority = o.o_orderpriority
    GROUP BY o.o_orderpriority, f.q1, f.q3, f.lo, f.hi
    ORDER BY o.o_orderpriority
    """,
)
def agg_tukey_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey boxplot fences per order priority: Q1/Q3 (interpolating
    quantiles — Spark ``percentile`` ≡ DuckDB ``quantile_cont``, the
    w_theilsen_daily_trend pinning), fences at 1.5×IQR, and the
    per-group outlier census — the IQR flavor of robust screening
    (agg_robust_outliers is the MAD flavor; Tukey's is what every
    boxplot and data-profiling report draws). Fences are quantized to
    6 dp BEFORE the census on BOTH engines, the registry's standard
    threshold discipline, so a raw value sits on the same side of the
    fence everywhere.

    Plan: one grouped exact-percentile aggregation (per-group sorted
    state bounded by group size), the tiny |groups|-row fence frame
    broadcast back onto the fact scan, one grouped count — two shuffles
    on the group key, scan-dominated at 100 TB."""
    o = load_table(spark, sf_dir, "orders").select("o_orderpriority", "o_totalprice")
    q = o.groupBy("o_orderpriority").agg(
        F.expr("percentile(o_totalprice, 0.25)").alias("q1"),
        F.expr("percentile(o_totalprice, 0.75)").alias("q3"),
    )
    f = q.select(
        F.col("o_orderpriority").alias("p"),
        _q6(F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))).alias("lo"),
        _q6(F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))).alias("hi"),
        _q6(F.col("q1")).alias("q1"),
        _q6(F.col("q3")).alias("q3"),
    )
    return (
        o.join(F.broadcast(f), o["o_orderpriority"] == f["p"])
        .groupBy("o_orderpriority", "q1", "q3", "lo", "hi")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.when(
                    (F.col("o_totalprice") < F.col("lo"))
                    | (F.col("o_totalprice") > F.col("hi")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
        )
        .select(
            "o_orderpriority",
            "q1",
            "q3",
            F.col("lo").alias("lower_fence"),
            F.col("hi").alias("upper_fence"),
            "n_rows",
            "n_outliers",
        )
        .orderBy("o_orderpriority")
    )


@register(
    "agg_cohort_ltv",
    oracle="""
    WITH first_ev AS (
      SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort
      FROM events GROUP BY user_id
    ), sizes AS (
      SELECT cohort, CAST(count(*) AS BIGINT) AS n_users
      FROM first_ev GROUP BY cohort
    ), rev AS (
      SELECT f.cohort,
             CAST(date_diff('day', f.cohort,
                            CAST(date_trunc('week', e.ts) AS DATE)) / 7 AS BIGINT)
               AS age_weeks,
             floor(sum(e.value) * 1000000 + 0.5) / 1000000 AS rev
      FROM events e JOIN first_ev f ON f.user_id = e.user_id
      WHERE e.event_type = 'purchase'
      GROUP BY 1, 2
    )
    SELECT r.cohort, r.age_weeks, s.n_users,
           floor(sum(r.rev) OVER (PARTITION BY r.cohort ORDER BY r.age_weeks)
                 / s.n_users * 1000000 + 0.5) / 1000000 AS cum_ltv_per_user
    FROM rev r JOIN sizes s ON s.cohort = r.cohort
    ORDER BY r.cohort, r.age_weeks
    """,
)
def agg_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves — the revenue companion to
    agg_cohort_retention: users cohorted by their first-activity WEEK
    (ISO-Monday truncation, identical in both engines; the synthetic
    feed spans one month, so weekly cohorts give a real multi-cohort
    multi-age grid where monthly would collapse to one row), purchase
    revenue bucketed by cohort age in weeks, and the running
    CUMULATIVE revenue per cohort member — the LTV-by-age curve
    payback analyses are read from. Week age = day difference of
    week-truncated dates / 7 — exact integers.

    Determinism: the per-(cohort, age) revenue sum is q6'd FIRST (it
    is the only unordered float sum), then the cumulative window adds
    identical quantized values in identical order and one exact
    integer division by cohort size follows — quantized once more at
    the output boundary. Plan: one first-touch agg, one hash join back
    to the fact scan, one (cohort, age) agg, and a cumulative window
    over the per-cohort AGE SPINE (months — calendar-bounded)."""
    ev = load_table(spark, sf_dir, "events")
    # users-sized first-touch frame is read by both the cohort-size agg
    # and the revenue join — checkpoint once (the multi-reference trap)
    first_ev = materialize(
        ev.groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).cast("date").alias("cohort"))
    )
    sizes = first_ev.groupBy("cohort").agg(F.count(F.lit(1)).alias("n_users"))
    rev = (
        ev.filter(F.col("event_type") == "purchase")
        .join(first_ev, "user_id")
        .groupBy(
            "cohort",
            (
                F.datediff(
                    F.date_trunc("week", F.col("ts")).cast("date"), F.col("cohort")
                )
                / 7
            )
            .cast("long")
            .alias("age_weeks"),
        )
        .agg(_q6(F.sum("value")).alias("rev"))
    )
    w = Window.partitionBy("cohort").orderBy("age_weeks")
    return (
        rev.join(sizes, "cohort")
        .select(
            "cohort",
            "age_weeks",
            "n_users",
            _q6(F.sum("rev").over(w) / F.col("n_users")).alias("cum_ltv_per_user"),
        )
        .orderBy("cohort", "age_weeks")
    )


@register(
    "agg_trimmed_mean_revenue",
    oracle="""
    WITH g AS (
      SELECT o_totalprice AS v, CAST(count(*) AS BIGINT) AS n
      FROM orders GROUP BY 1
    ), c AS (
      SELECT v, n,
             CAST(coalesce(sum(n) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
               PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum
      FROM g
    ), t AS (
      SELECT CAST(sum(n) AS BIGINT) AS ntot FROM g
    ), k AS (
      SELECT CAST(floor(ntot * 0.05) AS BIGINT) AS lo_k, ntot FROM t
    ), kept AS (
      SELECT c.v,
             greatest(0, least(c.cum + c.n, k.ntot - k.lo_k)
                         - greatest(c.cum, k.lo_k)) AS kn
      FROM c CROSS JOIN k
    )
    SELECT k.ntot AS n_total, k.lo_k AS n_trimmed_each_side,
           floor(sum(kept.kn * kept.v) / (k.ntot - 2 * k.lo_k)
                 * 1000000 + 0.5) / 1000000 AS trimmed_mean
    FROM kept CROSS JOIN k GROUP BY k.ntot, k.lo_k
    """,
)
def agg_trimmed_mean_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5% two-sided trimmed mean of order revenue — the robust location
    estimate between the mean (outlier-hostage) and the median
    (discards everything but rank), completing the robust family
    (MAD / Tukey fences / winsorize / Theil-Sen). Trim boundaries are
    EXACT integer ranks: group by value, distributed_prefix_sum for
    each group's position interval (cum, cum+n], then the kept count
    per group is the integer overlap with (⌊0.05N⌋, N−⌊0.05N⌋] —
    greatest/least arithmetic, no data-sized sort, tie groups handled
    exactly (a value straddling the cut contributes only its in-range
    multiplicity). One weighted sum over the distinct-value frame
    (float, q6'd) finishes it."""
    from ..operators.relational import distributed_prefix_sum

    o = load_table(spark, sf_dir, "orders")
    g = o.groupBy(F.col("o_totalprice").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    c = distributed_prefix_sum(g, ["v"], ["n"])
    t = g.agg(F.sum("n").cast("long").alias("ntot"))
    k = t.select(
        F.floor(F.col("ntot") * 0.05).cast("long").alias("lo_k"), "ntot"
    )
    kept = c.crossJoin(F.broadcast(k)).select(
        "v",
        "ntot",
        "lo_k",
        F.greatest(
            F.lit(0),
            F.least(F.col("cum_n") + F.col("n"), F.col("ntot") - F.col("lo_k"))
            - F.greatest(F.col("cum_n"), F.col("lo_k")),
        ).alias("kn"),
    )
    return kept.groupBy("ntot", "lo_k").agg(
        _q6(
            F.sum(F.col("kn") * F.col("v")) / (F.col("ntot") - 2 * F.col("lo_k"))
        ).alias("trimmed_mean")
    ).select(
        F.col("ntot").alias("n_total"),
        F.col("lo_k").alias("n_trimmed_each_side"),
        "trimmed_mean",
    )


# One-way ANOVA F across the five order priorities on rounded-dollar
# order totals: the k-group extension of agg_welch_ttest. Every moment is
# an exact int64 (per-group counts and dollar sums, the global sum of
# squares; int64-safe to ~3e7 rows), and SSB/SSW are fixed-associativity
# float chains over them (SSB = sum(s_g^2/n_g) - s^2/n avoids per-row
# residuals), so both engines run the same IEEE-754 expression. One
# conditional-aggregation scan: no group-by shuffle, no second pass.
register_sql(
    "agg_anova_f_priority",
    """
    WITH m AS (
      SELECT
        CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        CAST(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        CAST(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS n3,
        CAST(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS n4,
        CAST(sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS n5,
        CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
                 THEN CAST(round(o_totalprice) AS BIGINT) ELSE 0 END) AS BIGINT) AS s1,
        CAST(sum(CASE WHEN o_orderpriority = '2-HIGH'
                 THEN CAST(round(o_totalprice) AS BIGINT) ELSE 0 END) AS BIGINT) AS s2,
        CAST(sum(CASE WHEN o_orderpriority = '3-MEDIUM'
                 THEN CAST(round(o_totalprice) AS BIGINT) ELSE 0 END) AS BIGINT) AS s3,
        CAST(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED'
                 THEN CAST(round(o_totalprice) AS BIGINT) ELSE 0 END) AS BIGINT) AS s4,
        CAST(sum(CASE WHEN o_orderpriority = '5-LOW'
                 THEN CAST(round(o_totalprice) AS BIGINT) ELSE 0 END) AS BIGINT) AS s5,
        CAST(sum(CAST(round(o_totalprice) AS BIGINT)
               * CAST(round(o_totalprice) AS BIGINT)) AS BIGINT) AS ss
      FROM {orders}
    ), f AS (
      SELECT n, n1, n2, n3, n4, n5,
             (CAST(s1 AS DOUBLE) * s1 / n1 + CAST(s2 AS DOUBLE) * s2 / n2
              + CAST(s3 AS DOUBLE) * s3 / n3 + CAST(s4 AS DOUBLE) * s4 / n4
              + CAST(s5 AS DOUBLE) * s5 / n5)
             - CAST(s1 + s2 + s3 + s4 + s5 AS DOUBLE)
               * (s1 + s2 + s3 + s4 + s5) / n                     AS ssb,
             CAST(ss AS DOUBLE)
             - (CAST(s1 AS DOUBLE) * s1 / n1 + CAST(s2 AS DOUBLE) * s2 / n2
                + CAST(s3 AS DOUBLE) * s3 / n3 + CAST(s4 AS DOUBLE) * s4 / n4
                + CAST(s5 AS DOUBLE) * s5 / n5)                   AS ssw
      FROM m
    )
    SELECT n, n1, n2, n3, n4, n5,
           floor(ssb * 1000 + 0.5) / 1000 AS ss_between,
           floor(ssw * 1000 + 0.5) / 1000 AS ss_within,
           CAST(4 AS BIGINT) AS df_between,
           n - 5 AS df_within,
           floor((ssb / 4.0) / (ssw / (n - 5)) * 1000000 + 0.5) / 1000000 AS f_stat
    FROM f
    """,
)


# Stays DataFrame-bodied: its SQL text plans 11 shuffles against this
# form's 6.
@register(
    "agg_kendall_tau_b",
    oracle="""
    WITH pairs AS (
      SELECT CAST(l_quantity AS BIGINT) AS x,
             CAST(round(l_discount * 100) AS BIGINT) AS y
      FROM lineitem
    ), cells AS (
      SELECT x, y, CAST(count(*) AS BIGINT) AS c FROM pairs GROUP BY 1, 2
    ), cd AS (
      SELECT
        CAST(sum(CASE WHEN a.y < b.y THEN a.c * b.c ELSE 0 END) AS BIGINT) AS conc,
        CAST(sum(CASE WHEN a.y > b.y THEN a.c * b.c ELSE 0 END) AS BIGINT) AS disc
      FROM cells a JOIN cells b ON a.x < b.x
    ), mx AS (
      SELECT CAST(sum(t * (t - 1) / 2) AS BIGINT) AS n1
      FROM (SELECT CAST(sum(c) AS BIGINT) AS t FROM cells GROUP BY x)
    ), my AS (
      SELECT CAST(sum(t * (t - 1) / 2) AS BIGINT) AS n2
      FROM (SELECT CAST(sum(c) AS BIGINT) AS t FROM cells GROUP BY y)
    ), tot AS (
      SELECT CAST(sum(c) AS BIGINT) AS n FROM cells
    )
    SELECT tot.n, cd.conc AS concordant, cd.disc AS discordant,
           mx.n1 AS ties_x, my.n2 AS ties_y,
           CAST(cd.conc - cd.disc AS DOUBLE)
             / sqrt(CAST(tot.n * (tot.n - 1) / 2 - mx.n1 AS DOUBLE)
                    * CAST(tot.n * (tot.n - 1) / 2 - my.n2 AS DOUBLE))
             AS tau_b
    FROM cd, mx, my, tot
    """,
)
def agg_kendall_tau_b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's τ-b between quantity and discount — the
    concordance-based rank association completing the correlation trio
    (Pearson agg_corr_covar, Spearman agg_spearman_rank_corr): robust
    to ties on BOTH margins, which quantity (50 values) and discount
    (11 values) have in bulk.

    The naive τ is an all-pairs O(n²) scan; this plan computes it
    EXACTLY from the joint contingency table: one (x, y) group-by
    collapses the fact table to ≤ 50·11 = 550 cells, and concordant/
    discordant weights come from a cell×cell self-join bounded at
    550² — integers throughout (products of cell counts), so C, D,
    and the tie corrections are exact int64 and τ-b is a single IEEE
    chain over exact inputs (no quantization needed). For
    high-cardinality margins, quantize first (the binned-AUC stance,
    ml_auc_monitor_segments) — the bound is |X|·|Y| BY CONSTRUCTION.

    Scale: the fact scan + ONE tiny aggregation shuffle; the cell
    self-join broadcasts 550 rows. At 100 TB: unchanged — the joint
    table's size depends on the value domains, not the row count."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_discount") * 100).cast("long").alias("y"),
    )
    # 4 downstream references (pair join sides, both marginals, total):
    # materialize the ≤550-row cell table once or every reference
    # re-runs the fact scan + aggregation
    cells = materialize(
        li.groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    a = cells.select(
        F.col("x").alias("xa"), F.col("y").alias("ya"), F.col("c").alias("ca")
    )
    b = cells.select(
        F.col("x").alias("xb"), F.col("y").alias("yb"), F.col("c").alias("cb")
    )
    cd = a.join(F.broadcast(b), F.col("xa") < F.col("xb")).agg(
        F.sum(
            F.when(F.col("ya") < F.col("yb"), F.col("ca") * F.col("cb")).otherwise(0)
        )
        .cast("long")
        .alias("concordant"),
        F.sum(
            F.when(F.col("ya") > F.col("yb"), F.col("ca") * F.col("cb")).otherwise(0)
        )
        .cast("long")
        .alias("discordant"),
    )
    mx = (
        cells.groupBy("x")
        .agg(F.sum("c").alias("t"))
        .agg(F.sum(F.col("t") * (F.col("t") - 1) / 2).cast("long").alias("ties_x"))
    )
    my = (
        cells.groupBy("y")
        .agg(F.sum("c").alias("t"))
        .agg(F.sum(F.col("t") * (F.col("t") - 1) / 2).cast("long").alias("ties_y"))
    )
    tot = cells.agg(F.sum("c").cast("long").alias("n"))
    j = (
        cd.crossJoin(F.broadcast(mx))
        .crossJoin(F.broadcast(my))
        .crossJoin(F.broadcast(tot))
    )
    n0 = (F.col("n") * (F.col("n") - 1) / 2).cast("long")
    return j.select(
        "n",
        "concordant",
        "discordant",
        "ties_x",
        "ties_y",
        (
            (F.col("concordant") - F.col("discordant")).cast("double")
            / F.sqrt(
                (n0 - F.col("ties_x")).cast("double")
                * (n0 - F.col("ties_y")).cast("double")
            )
        ).alias("tau_b"),
    )


def _markov_stationary_oracle(iters: int = 6) -> str:
    """Unrolled power iteration over the event-type transition chain.
    Transition probabilities are EXACT int64 divisions (no q6); the
    per-iteration 5-term redistribution sums are the only
    order-sensitive reductions, quantized to 1e-9 each round (the
    pca_power_topvec stance: the iteration contracts, quantized state
    does not accumulate)."""
    sql = """
    WITH seq AS (
      SELECT user_id, event_type AS cur,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events
    ), cnt AS (
      SELECT cur, nxt, CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE nxt IS NOT NULL GROUP BY cur, nxt
    ), tp AS (
      SELECT cur, nxt, n * 1.0 / sum(n) OVER (PARTITION BY cur) AS p
      FROM cnt
    ), st AS (
      SELECT DISTINCT cur AS state FROM tp
    ), pi0 AS (
      SELECT state, 1.0 / (SELECT CAST(count(*) AS BIGINT) FROM st) AS pv
      FROM st
    )"""
    prev = "pi0"
    for k in range(1, iters + 1):
        sql += f""", pi{k} AS (
      SELECT tp.nxt AS state,
             floor(sum({prev}.pv * tp.p) * 1000000000 + 0.5) / 1000000000 AS pv
      FROM tp JOIN {prev} ON tp.cur = {prev}.state GROUP BY 1
    )"""
        prev = f"pi{k}"
    sql += f"""
    SELECT state, pv AS stationary_p FROM pi{iters} ORDER BY state
    """
    return sql


@register("t_markov_stationary", oracle=_markov_stationary_oracle(iters=6))
def t_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the event-type Markov chain — where
    t_markov_transitions gives the one-step model, this gives its
    long-run occupancy (the steady-state share of each event type a
    user session converges to), by six unrolled power-iteration rounds
    from the uniform start.

    Determinism: transition probabilities are exact int64 divisions;
    each redistribution round's ≤|states| -term sums quantize at 1e-9
    (the only order-sensitive reductions — the pca_power_topvec
    per-round stance; the chain contracts at its spectral gap, so
    quantized state does not accumulate error).

    Scale: ONE fact-sized lead window (shared shape with
    t_markov_transitions); everything after is |states|²-sized — the
    iteration joins and sums run on a ≤25-row frame. At 100 TB the
    cost is the sequence scan, full stop."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    cnt = seq.groupBy("cur", "nxt").agg(F.count(F.lit(1)).cast("long").alias("n"))
    tp = materialize(
        cnt.select(
            "cur",
            "nxt",
            (F.col("n") * 1.0 / F.sum("n").over(Window.partitionBy("cur"))).alias("p"),
        )
    )
    st = tp.select(F.col("cur").alias("state")).distinct()
    ns = st.agg(F.count(F.lit(1)).cast("long").alias("k"))
    pi = st.crossJoin(F.broadcast(ns)).select(
        "state", (F.lit(1.0) / F.col("k")).alias("pv")
    )
    q9 = lambda c: F.floor(c * 1000000000 + F.lit(0.5)) / 1000000000  # noqa: E731
    for _ in range(6):
        pi = (
            tp.join(pi, tp["cur"] == pi["state"])
            .groupBy(F.col("nxt").alias("state"))
            .agg(q9(F.sum(F.col("pv") * F.col("p"))).alias("pv"))
        )
    return pi.select("state", F.col("pv").alias("stationary_p")).orderBy("state")


@register(
    "agg_randomization_test",
    oracle="""
    WITH c AS (
      SELECT l_orderkey, l_linenumber,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS grp
      FROM lineitem
    ), obs AS (
      SELECT CAST(sum(CASE WHEN grp = 1 THEN cents ELSE 0 END) AS BIGINT) AS s1,
             CAST(sum(grp) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN grp = 0 THEN cents ELSE 0 END) AS BIGINT) AS s0,
             CAST(sum(1 - grp) AS BIGINT) AS n0
      FROM c
    ), h AS (
      SELECT cents,
             md5(CAST(l_orderkey AS VARCHAR) || '-'
                 || CAST(l_linenumber AS VARCHAR)) AS hx
      FROM c
    ), reps AS (
      SELECT r.rep, h.cents,
             CAST(('0x' || substring(h.hx, r.rep + 1, 1))::BIGINT % 2 AS BIGINT)
               AS g
      FROM h, (SELECT unnest(generate_series(0, 19)) AS rep) r
    ), rstat AS (
      SELECT rep,
             CAST(sum(CASE WHEN g = 1 THEN cents ELSE 0 END) AS BIGINT) AS s1,
             CAST(sum(g) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN g = 0 THEN cents ELSE 0 END) AS BIGINT) AS s0,
             CAST(sum(1 - g) AS BIGINT) AS n0
      FROM reps GROUP BY rep
    ), d AS (
      SELECT abs(CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0) AS adiff
      FROM rstat
    ), o AS (
      SELECT abs(CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0) AS adiff_obs,
             CAST(s1 AS DOUBLE) / n1 / 100 - CAST(s0 AS DOUBLE) / n0 / 100
               AS diff_obs_dollars
      FROM obs
    )
    SELECT CAST(20 AS BIGINT) AS n_reps,
           floor(o.diff_obs_dollars * 1000000 + 0.5) / 1000000 AS diff_obs_dollars,
           CAST(sum(CASE WHEN d.adiff >= o.adiff_obs THEN 1 ELSE 0 END) AS BIGINT)
             AS n_extreme,
           (1 + sum(CASE WHEN d.adiff >= o.adiff_obs THEN 1 ELSE 0 END)) / 21.0
             AS p_value
    FROM d, o GROUP BY o.diff_obs_dollars
    """,
)
def agg_randomization_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Randomization (approximate permutation) test for the returned-
    vs-kept price gap — the distribution-free companion to
    agg_welch_ttest: 20 deterministic md5-keyed random relabelings of
    the rows (the bootstrap queries' inverse-CDF trick applied to group
    assignment), each producing the |mean difference| under the null;
    the p-value is the add-one-smoothed share of replicates at least as
    extreme as the observed gap.

    ONE md5 per row, not one per (row, replicate): the 128-bit digest
    carries 32 hex nibbles, and replicate r's assignment bit is the
    parity of nibble r — 20 independent null relabelings from a single
    hash (the VERDICT r11 plan-audit fix; ~20× less hashing, measured
    20.6 s → single-digit at sf0.1). The oracle derives the same bits
    from the same digest, so parity is exact.

    Determinism end-to-end EXACT: group sums are int64 cents,
    per-replicate means are single divisions of exact integers, and
    the ≥ comparison runs on those exact doubles — no quantization is
    load-bearing (only the output display rounds). Random relabeling
    (not an exact permutation) leaves group sizes binomial around n/2;
    with n in the thousands the size jitter is ~1/√n and the test is
    the standard randomization variant.

    Scale: like agg_bootstrap_ci_revenue, a 20× row explode into one
    (rep, group) partial-agg shuffle of 40 keys — the explode rides
    map-side; nothing else scales with the data."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("grp"),
    )
    obs = li.agg(
        F.sum(F.when(F.col("grp") == 1, F.col("cents")).otherwise(0))
        .cast("long")
        .alias("s1"),
        F.sum("grp").cast("long").alias("n1"),
        F.sum(F.when(F.col("grp") == 0, F.col("cents")).otherwise(0))
        .cast("long")
        .alias("s0"),
        F.sum(1 - F.col("grp")).cast("long").alias("n0"),
    )
    hashed = li.select(
        "cents",
        F.md5(
            F.concat(
                F.col("l_orderkey").cast("string"),
                F.lit("-"),
                F.col("l_linenumber").cast("string"),
            )
        ).alias("hx"),
    )
    g = (
        F.conv(F.expr("substring(hx, rep + 1, 1)"), 16, 10).cast("bigint") % 2
    ).alias("g")
    reps = hashed.select(
        "cents", "hx", F.explode(F.sequence(F.lit(0), F.lit(19))).alias("rep")
    ).select("rep", "cents", g)
    rstat = reps.groupBy("rep").agg(
        F.sum(F.when(F.col("g") == 1, F.col("cents")).otherwise(0))
        .cast("long")
        .alias("s1"),
        F.sum("g").cast("long").alias("n1"),
        F.sum(F.when(F.col("g") == 0, F.col("cents")).otherwise(0))
        .cast("long")
        .alias("s0"),
        F.sum(1 - F.col("g")).cast("long").alias("n0"),
    )
    adiff = F.abs(
        F.col("s1").cast("double") / F.col("n1")
        - F.col("s0").cast("double") / F.col("n0")
    )
    d = rstat.select(adiff.alias("adiff"))
    o = obs.select(
        adiff.alias("adiff_obs"),
        (
            F.col("s1").cast("double") / F.col("n1") / 100
            - F.col("s0").cast("double") / F.col("n0") / 100
        ).alias("diff_obs_dollars"),
    )
    return (
        d.crossJoin(F.broadcast(o))
        .groupBy("diff_obs_dollars")
        .agg(
            F.sum(F.when(F.col("adiff") >= F.col("adiff_obs"), 1).otherwise(0))
            .cast("long")
            .alias("n_extreme")
        )
        .select(
            F.lit(20).cast("long").alias("n_reps"),
            _q6(F.col("diff_obs_dollars")).alias("diff_obs_dollars"),
            "n_extreme",
            ((1 + F.col("n_extreme")) / 21.0).alias("p_value"),
        )
    )


# --- Two-sample log-rank test over the survival cohort ------------------
# Groups: the registry's deterministic md5 hash split on user_id (the
# ab_* arm convention) — a null split, so the test SHOULD not reject;
# the statistic machinery is what a real cohort comparison (plan A vs
# plan B signups) runs unchanged.
_LOGRANK_ARM_SQL = (
    "CASE WHEN ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT"
    " % 2 = 0 THEN 1 ELSE 0 END"
)


def _md5_arm_col() -> "F.Column":
    """Engine twin of _LOGRANK_ARM_SQL: 1 when the md5 hash bucket of
    user_id is even — shared by every survival query that needs the
    null arm split, so the two sides can never drift independently."""
    bucket = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 2
    )
    return F.when(bucket == 0, 1).otherwise(0)


@register(
    "t_logrank_test",
    oracle=f"""
    WITH ref AS (
      SELECT CAST(date_trunc('day', max(ts)) AS DATE) AS ref_day FROM events
    ), signup AS (
      SELECT user_id, min(ts) AS t0 FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ), conv AS (
      SELECT s.user_id, s.t0, min(e.ts) AS t1
      FROM signup s LEFT JOIN events e
        ON e.user_id = s.user_id AND e.event_type = 'purchase' AND e.ts > s.t0
      GROUP BY s.user_id, s.t0
    ), subj AS (
      SELECT user_id, {_LOGRANK_ARM_SQL} AS g1,
             CASE WHEN t1 IS NOT NULL
                  THEN date_diff('day', CAST(date_trunc('day', t0) AS DATE),
                                        CAST(date_trunc('day', t1) AS DATE))
                  ELSE date_diff('day', CAST(date_trunc('day', t0) AS DATE),
                                        (SELECT ref_day FROM ref)) END AS dur,
             CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM conv
    ), g AS (
      SELECT dur,
             CAST(count(*) AS BIGINT) AS n_d,
             CAST(sum(ev) AS BIGINT) AS d_d,
             CAST(sum(g1) AS BIGINT) AS n1_d,
             CAST(sum(g1 * ev) AS BIGINT) AS d1_d
      FROM subj GROUP BY dur
    ), risk AS (
      SELECT dur, d_d, d1_d,
             CAST(sum(n_d) OVER w AS BIGINT) AS n_at,
             CAST(sum(n1_d) OVER w AS BIGINT) AS n1_at
      FROM g WINDOW w AS (ORDER BY dur DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), terms AS (
      SELECT d1_d,
             d_d * (CAST(n1_at AS DOUBLE) / n_at) AS e1,
             CASE WHEN n_at > 1 THEN
               d_d * (CAST(n1_at AS DOUBLE) / n_at)
                   * (1.0 - CAST(n1_at AS DOUBLE) / n_at)
                   * (CAST(n_at - d_d AS DOUBLE) / (n_at - 1))
             ELSE 0.0 END AS v
      FROM risk WHERE d_d > 0
    ), tot AS (
      SELECT CAST(sum(d1_d) AS BIGINT) AS o1,
             sum(e1) AS e1, sum(v) AS v
      FROM terms
    ), ns AS (
      SELECT CAST(sum(g1) AS BIGINT) AS n_group1,
             CAST(sum(1 - g1) AS BIGINT) AS n_group0
      FROM subj
    )
    SELECT ns.n_group1, ns.n_group0, tot.o1,
           floor(tot.e1 * 1000000 + 0.5) / 1000000 AS e1,
           floor(tot.v * 1000000 + 0.5) / 1000000 AS var_o1,
           floor(((tot.o1 - tot.e1) * (tot.o1 - tot.e1) / tot.v) * 1000000 + 0.5)
             / 1000000 AS logrank_chi2,
           (floor(((tot.o1 - tot.e1) * (tot.o1 - tot.e1) / tot.v) * 1000000 + 0.5)
              / 1000000) > 3.841459
             AS significant
    FROM tot, ns
    """,
)
def t_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample log-rank (Mantel-Cox) test on the signup→purchase
    survival cohort — the inference step completing the KM /
    Nelson-Aalen family: O1 - E1 accumulated over event times with the
    hypergeometric variance, chi-square(1) against 3.841459. Groups are
    the null md5 hash split, so the expected readout is NOT significant
    (a real comparison swaps the arm column for a cohort label and
    changes nothing else).

    Determinism: every count (n_at, n1_at, d_d, d1_d) is an exact int64
    reverse-cumsum over the bounded duration spine (spine_window names
    the bound); per-duration e1/v terms are fixed IEEE chains; only
    their ~spine-length sums are order-sensitive, landed in q6.

    Scale: identical shape to the sibling survival queries — user-keyed
    aggregations + one broadcast censor reference; everything after
    lives on the duration spine."""
    subj = _survival_subjects(spark, sf_dir, keep_user=True)
    subj = subj.withColumn("g1", _md5_arm_col())
    g = subj.groupBy("dur").agg(
        F.count(F.lit(1)).cast("long").alias("n_d"),
        F.sum("ev").cast("long").alias("d_d"),
        F.sum("g1").cast("long").alias("n1_d"),
        F.sum(F.col("g1") * F.col("ev")).cast("long").alias("d1_d"),
    )
    g, w0 = spine_window(g, [F.desc("dur")], max_rows=65536, label="logrank_durs")
    w = w0.rowsBetween(Window.unboundedPreceding, 0)
    risk = g.select(
        "dur",
        "d_d",
        "d1_d",
        F.sum("n_d").over(w).cast("long").alias("n_at"),
        F.sum("n1_d").over(w).cast("long").alias("n1_at"),
    ).filter(F.col("d_d") > 0)
    share = F.col("n1_at").cast("double") / F.col("n_at")
    terms = risk.select(
        "d1_d",
        (F.col("d_d") * share).alias("e1"),
        F.when(
            F.col("n_at") > 1,
            F.col("d_d")
            * share
            * (1.0 - share)
            * ((F.col("n_at") - F.col("d_d")).cast("double") / (F.col("n_at") - 1)),
        )
        .otherwise(0.0)
        .alias("v"),
    )
    tot = terms.agg(
        F.sum("d1_d").cast("long").alias("o1"),
        F.sum("e1").alias("e1"),
        F.sum("v").alias("v"),
    )
    ns = subj.agg(
        F.sum("g1").cast("long").alias("n_group1"),
        F.sum(1 - F.col("g1")).cast("long").alias("n_group0"),
    )
    chi2 = (F.col("o1") - F.col("e1")) * (F.col("o1") - F.col("e1")) / F.col("v")
    return tot.crossJoin(F.broadcast(ns)).select(
        "n_group1",
        "n_group0",
        "o1",
        _q6(F.col("e1")).alias("e1"),
        _q6(F.col("v")).alias("var_o1"),
        _q6(chi2).alias("logrank_chi2"),
        (_q6(chi2) > 3.841459).alias("significant"),
    )


def _coxph_oracle(iters: int = 8) -> str:
    """Oracle for t_cox_proportional_hazards: the same survival cohort
    and md5 arm as t_logrank_test, then ``iters`` unrolled Newton
    steps on the Breslow partial likelihood (single binary covariate —
    score and information have closed forms per event time), each
    step's sums AND the updated beta quantized at 1e-9 exactly as the
    engine quantizes them."""
    steps = []
    for k in range(1, iters + 1):
        prev = f"it{k - 1}"
        steps.append(
            f""", it{k} AS (
      SELECT floor((b + (floor(su * 1000000000 + 0.5) / 1000000000)
                      / (floor(si * 1000000000 + 0.5) / 1000000000))
                   * 1000000000 + 0.5) / 1000000000 AS b
      FROM (
        SELECT i.b AS b,
               sum(r.d1_d - r.d_d * (r.n1_at * exp(i.b))
                     / ((r.n_at - r.n1_at) + r.n1_at * exp(i.b))) AS su,
               sum(r.d_d
                   * ((r.n1_at * exp(i.b))
                      / ((r.n_at - r.n1_at) + r.n1_at * exp(i.b)))
                   * (1 - (r.n1_at * exp(i.b))
                      / ((r.n_at - r.n1_at) + r.n1_at * exp(i.b)))) AS si
        FROM r, {prev} i GROUP BY i.b
      )
    )"""
        )
    return f"""
    WITH ref AS (
      SELECT CAST(date_trunc('day', max(ts)) AS DATE) AS ref_day FROM events
    ), signup AS (
      SELECT user_id, min(ts) AS t0 FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ), conv AS (
      SELECT s.user_id, s.t0, min(e.ts) AS t1
      FROM signup s LEFT JOIN events e
        ON e.user_id = s.user_id AND e.event_type = 'purchase' AND e.ts > s.t0
      GROUP BY s.user_id, s.t0
    ), subj AS (
      SELECT user_id, {_LOGRANK_ARM_SQL} AS g1,
             CASE WHEN t1 IS NOT NULL
                  THEN date_diff('day', CAST(date_trunc('day', t0) AS DATE),
                                        CAST(date_trunc('day', t1) AS DATE))
                  ELSE date_diff('day', CAST(date_trunc('day', t0) AS DATE),
                                        (SELECT ref_day FROM ref)) END AS dur,
             CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM conv
    ), g AS (
      SELECT dur,
             CAST(count(*) AS BIGINT) AS n_d,
             CAST(sum(ev) AS BIGINT) AS d_d,
             CAST(sum(g1) AS BIGINT) AS n1_d,
             CAST(sum(g1 * ev) AS BIGINT) AS d1_d
      FROM subj GROUP BY dur
    ), risk AS (
      SELECT dur, d_d, d1_d,
             CAST(sum(n_d) OVER w AS BIGINT) AS n_at,
             CAST(sum(n1_d) OVER w AS BIGINT) AS n1_at
      FROM g WINDOW w AS (ORDER BY dur DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), r AS (
      SELECT * FROM risk WHERE d_d > 0
    ), it0 AS (SELECT 0.0 AS b){''.join(steps)}, fin AS (
      SELECT i.b AS b,
             floor(sum(r.d_d
                   * ((r.n1_at * exp(i.b))
                      / ((r.n_at - r.n1_at) + r.n1_at * exp(i.b)))
                   * (1 - (r.n1_at * exp(i.b))
                      / ((r.n_at - r.n1_at) + r.n1_at * exp(i.b))))
                   * 1000000000 + 0.5) / 1000000000 AS info
      FROM r, it{iters} i GROUP BY i.b
    ), ns AS (
      SELECT CAST(sum(g1) AS BIGINT) AS n_group1,
             CAST(sum(1 - g1) AS BIGINT) AS n_group0,
             CAST(sum(ev) AS BIGINT) AS n_events
      FROM subj
    )
    SELECT ns.n_group1, ns.n_group0, ns.n_events,
           f.b AS beta,
           floor(exp(f.b) * 1000000 + 0.5) / 1000000 AS hazard_ratio,
           floor((1.0 / sqrt(f.info)) * 1000000 + 0.5) / 1000000 AS se_beta,
           floor((f.b * f.b * f.info) * 1000000 + 0.5) / 1000000 AS wald_chi2,
           (floor((f.b * f.b * f.info) * 1000000 + 0.5) / 1000000) > 3.841459
             AS significant
    FROM fin f, ns
    """


@register("t_cox_proportional_hazards", oracle=_coxph_oracle(iters=8))
def t_cox_proportional_hazards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cox proportional-hazards fit on the signup→purchase survival
    cohort with one binary covariate (the registry's null md5 arm) —
    the regression member completing the survival family (KM estimate,
    Nelson-Aalen hazard, log-rank test, now the semi-parametric
    model). For a single binary covariate the Breslow partial
    likelihood's score and information reduce to closed forms per
    event time over (n_at, n1_at, d_d, d1_d) — the SAME risk-set frame
    the log-rank test builds — so the fit is 8 unrolled Newton steps
    from beta = 0, each one aggregate over the tiny duration spine.
    The null split means beta ≈ 0 / hazard ratio ≈ 1 / NOT significant
    is the expected readout; a real cohort comparison swaps the arm
    column and changes nothing else.

    Determinism: risk-set counts are exact int64; each Newton step's
    score/information sums are the only order-sensitive reductions and
    are quantized at 1e-9 (the t_markov_stationary per-round stance),
    as is each updated beta, so both engines walk the identical
    iterate sequence; exp() 1-ulp engine differences are absorbed by
    the quantizers. Final readouts land in q6.

    Scale: identical to the log-rank shape — user-keyed cohort
    aggregations + one broadcast censor reference build the spine-
    bounded risk frame ONCE (localCheckpoint); all 8 Newton rounds run
    on that tiny frame (1-row broadcast beta each round), so at 100 TB
    the entire fit costs one cohort scan."""
    subj = _survival_subjects(spark, sf_dir, keep_user=True)
    subj = subj.withColumn("g1", _md5_arm_col())
    g = subj.groupBy("dur").agg(
        F.count(F.lit(1)).cast("long").alias("n_d"),
        F.sum("ev").cast("long").alias("d_d"),
        F.sum("g1").cast("long").alias("n1_d"),
        F.sum(F.col("g1") * F.col("ev")).cast("long").alias("d1_d"),
    )
    g, w0 = spine_window(g, [F.desc("dur")], max_rows=65536, label="coxph_durs")
    w = w0.rowsBetween(Window.unboundedPreceding, 0)
    risk = materialize(
        g.select(
            "dur",
            "d_d",
            "d1_d",
            F.sum("n_d").over(w).cast("long").alias("n_at"),
            F.sum("n1_d").over(w).cast("long").alias("n1_at"),
        )
        .filter(F.col("d_d") > 0)
    )
    q9 = lambda c: F.floor(c * 1000000000 + F.lit(0.5)) / 1000000000  # noqa: E731

    def _p():
        h = F.col("n1_at") * F.exp(F.col("b"))
        return h / ((F.col("n_at") - F.col("n1_at")) + h)

    beta = spark.range(1).select(F.lit(0.0).alias("b"))
    for _ in range(8):
        p = _p()
        stats = (
            risk.crossJoin(F.broadcast(beta))
            .groupBy("b")
            .agg(
                q9(F.sum(F.col("d1_d") - F.col("d_d") * p)).alias("u"),
                q9(F.sum(F.col("d_d") * p * (1 - p))).alias("i"),
            )
        )
        beta = stats.select(q9(F.col("b") + F.col("u") / F.col("i")).alias("b"))
    p = _p()
    fin = (
        risk.crossJoin(F.broadcast(beta))
        .groupBy("b")
        .agg(q9(F.sum(F.col("d_d") * p * (1 - p))).alias("info"))
    )
    ns = subj.agg(
        F.sum("g1").cast("long").alias("n_group1"),
        F.sum(1 - F.col("g1")).cast("long").alias("n_group0"),
        F.sum("ev").cast("long").alias("n_events"),
    )
    wald = F.col("b") * F.col("b") * F.col("info")
    return fin.crossJoin(F.broadcast(ns)).select(
        "n_group1",
        "n_group0",
        "n_events",
        F.col("b").alias("beta"),
        _q6(F.exp(F.col("b"))).alias("hazard_ratio"),
        _q6(1.0 / F.sqrt(F.col("info"))).alias("se_beta"),
        _q6(wald).alias("wald_chi2"),
        (_q6(wald) > 3.841459).alias("significant"),
    )


@register(
    "agg_mergeable_rollup_states",
    oracle="""
    WITH ev AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    ), daily AS (
      SELECT event_type, day,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS s,
             CAST(min(cents) AS BIGINT) AS mn,
             CAST(max(cents) AS BIGINT) AS mx,
             CAST(sum(cents * cents) AS BIGINT) AS ss
      FROM ev GROUP BY 1, 2
    ), merged AS (
      SELECT event_type,
             CAST(sum(n) AS BIGINT) AS n,
             CAST(sum(s) AS BIGINT) AS s,
             CAST(min(mn) AS BIGINT) AS mn,
             CAST(max(mx) AS BIGINT) AS mx,
             CAST(sum(ss) AS BIGINT) AS ss
      FROM daily GROUP BY 1
    )
    SELECT event_type,
           n AS n_events,
           s AS sum_cents,
           mn AS min_cents,
           mx AS max_cents,
           floor((CAST(s AS DOUBLE) / n) * 1000000 + 0.5) / 1000000
             AS mean_cents,
           floor(((CAST(ss AS DOUBLE)
                   - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / n)
                 * 1000000 + 0.5) / 1000000 AS var_cents,
           TRUE AS merge_equals_full
    FROM merged ORDER BY event_type
    """,
)
def agg_mergeable_rollup_states(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-rollup maintenance proof — the algebraic-aggregate
    property every materialized view / cube refresh rests on: DAILY
    partial states (count, sum, min, max, sum-of-squares over exact
    int64 cents) MERGE into the per-type rollup (sum the counts/sums/
    squares, min the mins, max the maxes), and the merged states are
    asserted row-identical to aggregating the facts from scratch —
    a refresh that re-reads only new days is therefore exact, never an
    approximation. Mean/variance derive from the merged moments with
    the CUPED posture (moments exact int64; cross products formed in
    double — s^2 would pass 2^63 near sf10).

    Determinism: all five states are exact integers, so merge-vs-full
    equality is literal, not epsilon. The sum-of-squares bound:
    cents <= 49_002 (value <= 490.02), cents^2 < 2.5e9, so ss stays
    inside int64 through ~3.8e9 events (sf ~3800).

    Scale: ONE fact-sized aggregation to (type, day) grain — map-side
    partials make it a near-pure scan; the merge and the equality
    audit run over the day-spine-sized partial frame (|types| x
    |days|). This is also the refresh recipe: persist `daily`, append
    new days, re-merge only the tail."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.col("ts").cast("date").alias("day"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").cast("long").alias("s"),
        F.min("cents").alias("mn"),
        F.max("cents").alias("mx"),
        F.sum(F.col("cents") * F.col("cents")).cast("long").alias("ss"),
    )
    merged = daily.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("s").cast("long").alias("s"),
        F.min("mn").alias("mn"),
        F.max("mx").alias("mx"),
        F.sum("ss").cast("long").alias("ss"),
    )
    full = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").cast("long").alias("s"),
        F.min("cents").alias("mn"),
        F.max("cents").alias("mx"),
        F.sum(F.col("cents") * F.col("cents")).cast("long").alias("ss"),
    )
    # literal state equality: a merged row must exist with ALL FIVE
    # states identical — exceptAll both ways over the state tuples
    a = merged.select("event_type", "n", "s", "mn", "mx", "ss")
    b = full.select("event_type", "n", "s", "mn", "mx", "ss")
    equals = (
        a.exceptAll(b)
        .unionByName(b.exceptAll(a))
        .agg(F.count(F.lit(1)).alias("n_diff"))
        .select((F.col("n_diff") == 0).alias("merge_equals_full"))
    )
    mean = F.col("s").cast("double") / F.col("n")
    var = (
        F.col("ss").cast("double")
        - F.col("s").cast("double") * F.col("s").cast("double") / F.col("n")
    ) / F.col("n")
    return (
        merged.crossJoin(F.broadcast(equals))
        .select(
            "event_type",
            F.col("n").alias("n_events"),
            F.col("s").alias("sum_cents"),
            F.col("mn").alias("min_cents"),
            F.col("mx").alias("max_cents"),
            _q6(mean).alias("mean_cents"),
            _q6(var).alias("var_cents"),
            "merge_equals_full",
        )
        .orderBy("event_type")
    )
