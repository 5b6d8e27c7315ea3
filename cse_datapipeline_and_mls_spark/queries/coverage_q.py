"""Coverage queries completing SURVEY §2 line-items not already pinned:
P-series predicates, J4 as-of, O6 pagination, distinct/percentile
aggregates, explode (UDTF surface), unpivot, first/last windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..materialize import materialize, release
from ..operators.asof import asof_join
from ..sources import load_table
from . import register, register_sql


from ..operators.numeric import q6 as _q6  # engine-wide 6-decimal quantizer


# P6: date-range predicate, pushed to the parquet scan (partition-prunable
# when the table is date-partitioned at scale; reference
# regression.py:217-218).
register_sql(
    "p_date_range_filter",
    """
    SELECT l_orderkey, l_linenumber, l_shipdate
    FROM {lineitem}
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-07-01'
    """,
)


# P8 small-list flavor: an IN predicate in the scan filter (the
# distributed allow-list flavor is semi_join_building_orders).
register_sql(
    "p_membership_isin",
    """
    SELECT user_id, count(*) AS n
    FROM {events} WHERE event_type IN ('click', 'buy')
    GROUP BY user_id
    """,
)


# P9: keep rows after a cutoff (reference ml_impl.py:155-156 filters
# prediction_date > now; a literal cutoff here for determinism).
register_sql(
    "p_future_date_filter",
    """
    SELECT event_type, count(*) AS n
    FROM {events} WHERE ts > TIMESTAMP '2024-01-15 00:00:00'
    GROUP BY event_type
    """,
)


@register(
    "j_asof_event_snapshots",
    oracle="""
    WITH dim AS (
      SELECT user_id, date_trunc('day', ts) AS snap_ts,
             floor(avg(value) * 1000000 + 0.5) / 1000000 AS day_avg
      FROM events GROUP BY 1, 2
    )
    SELECT e.event_id, e.user_id, e.ts, d.day_avg
    FROM events e ASOF LEFT JOIN dim d
      ON e.user_id = d.user_id AND e.ts >= d.snap_ts
    """,
)
def j_asof_event_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 done right: each event aligned to the most recent daily
    snapshot at-or-before its timestamp. Spark has no native as-of join;
    operators.asof.asof_join composes it as union + forward-fill — ONE
    shuffle on the key, no range explosion (SURVEY §2.3 J4 'engine
    offers both'). DuckDB's native ASOF JOIN is the oracle."""
    ev = load_table(spark, sf_dir, "events")
    dim = ev.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("snap_ts")
    ).agg(_q6(F.avg("value")).alias("day_avg"))
    joined = asof_join(
        ev.select("event_id", "user_id", "ts"),
        dim,
        on="user_id",
        fact_time="ts",
        dim_time="snap_ts",
        dim_cols=["day_avg"],
    )
    return joined.select("event_id", "user_id", "ts", "day_avg")


@register(
    "j_asof_forward_events",
    oracle="""
    WITH dim AS (
      SELECT user_id, date_trunc('day', ts) + INTERVAL 1 DAY AS close_ts,
             floor(avg(value) * 1000000 + 0.5) / 1000000 AS day_avg
      FROM events GROUP BY 1, 2
    )
    SELECT e.event_id, e.user_id, e.ts, d.day_avg AS next_day_avg
    FROM events e ASOF LEFT JOIN dim d
      ON e.user_id = d.user_id AND e.ts <= d.close_ts
    """,
)
def j_asof_forward_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4, FORWARD direction: each event aligned to the NEXT day-close
    snapshot at-or-after its timestamp — "the next quote after the
    trade", the mirror of the backward as-of default and the other half
    of pandas merge_asof's direction parameter. Same union +
    one-key-shuffle shape (operators.asof.asof_join_forward), verified
    against DuckDB's native forward ASOF JOIN (``e.ts <= d.close_ts``).
    Events after their user's last snapshot correctly get nulls."""
    from ..operators.asof import asof_join_forward

    ev = load_table(spark, sf_dir, "events")
    dim = ev.groupBy(
        "user_id",
        (F.date_trunc("day", F.col("ts")) + F.expr("INTERVAL 1 DAY")).alias(
            "close_ts"
        ),
    ).agg(_q6(F.avg("value")).alias("day_avg"))
    joined = asof_join_forward(
        ev.select("event_id", "user_id", "ts"),
        dim,
        on="user_id",
        fact_time="ts",
        dim_time="close_ts",
        dim_cols=["day_avg"],
    )
    return joined.select(
        "event_id", "user_id", "ts", F.col("day_avg").alias("next_day_avg")
    )


# O6: page 2 of a sorted listing via a row_number band (reference
# index.js:220-223 slices [page*10, page*10+10] client-side). The global
# row_number needs a single-partition window: fine for a serving page,
# not for bulk export (use range partitioning there).
register_sql(
    "o_pagination_orders",
    """
    SELECT o_orderkey, o_totalprice, rn
    FROM (SELECT o_orderkey, o_totalprice,
                 row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM {orders}) t
    WHERE rn BETWEEN 11 AND 20
    """,
)


# Distinct aggregation (absent from the reference, SURVEY §2.4 absent
# list). Catalyst plans multi-distinct via Expand — one pass.
register_sql(
    "agg_distinct_counts",
    """
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS n_parts,
           count(DISTINCT l_suppkey) AS n_supps,
           count(*) AS n_rows
    FROM {lineitem} GROUP BY l_returnflag
    """,
)


@register(
    "agg_percentiles",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
           round(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
           round(quantile_cont(l_extendedprice, 0.75), 4) AS p75
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (absent list). Spark's
    ``percentile`` matches quantile_cont interpolation; the approximate
    sibling (percentile_approx / approx_count_distinct) is the 100 TB
    default — exact percentile materializes per-group value buffers."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", 0.25), 4).alias("p25"),
        F.round(F.percentile("l_extendedprice", 0.50), 4).alias("p50"),
        F.round(F.percentile("l_extendedprice", 0.75), 4).alias("p75"),
    )


# Stays DataFrame-bodied: its SQL text ran ~1.6x slower at sf0.1 in an
# interleaved A/B (0.21 -> 0.34 s).
@register(
    "agg_max_by",
    oracle="""
    SELECT o_orderpriority, o_orderkey AS top_orderkey,
           round(o_totalprice, 4) AS top_price
    FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_orderpriority
                                    ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
          FROM orders) t
    WHERE rn = 1
    """,
)
def agg_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/arg_max with a composite tiebreaker (deterministic even on
    price ties)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.max_by("o_orderkey", F.struct("o_totalprice", "o_orderkey")).alias("top_orderkey"),
        F.round(F.max("o_totalprice"), 4).alias("top_price"),
    )


@register(
    "x_word_topk",
    oracle="""
    SELECT word, count(*) AS n
    FROM (SELECT unnest(string_split_regex(lower(trim(text)), '[ \\t\\n\\r]+')) AS word
          FROM documents) t
    WHERE word <> ''
    GROUP BY word
    ORDER BY n DESC, word
    LIMIT 20
    """,
)
def x_word_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explode/UDTF surface (the reference's Firebase flatten,
    spark_stream.py:106-115, is morally this explode) + term-frequency
    top-k. At 100 TB: explode is map-side; the count shuffles on the
    word; top-k is TakeOrderedAndProject."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"[ \t\n\r]+")).alias("word")
    ).filter(F.col("word") != "")
    return (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(20)
    )


# Stays DataFrame-bodied: the SQL text's three-scan UNION ALL ran
# 1.13x slower than this one-scan stack() (median of 14 interleaved
# A/B pairs).
@register(
    "unpivot_lineitem_measures",
    oracle="""
    SELECT measure, round(sum(v), 4) AS total
    FROM (
      SELECT 'quantity' AS measure, l_quantity AS v FROM lineitem
      UNION ALL SELECT 'extendedprice', l_extendedprice FROM lineitem
      UNION ALL SELECT 'discount', l_discount FROM lineitem
    ) t GROUP BY measure
    """,
)
def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot via stack() (SURVEY §2.7 family) — wide→long without a
    join; one Expand node, no shuffle before the agg."""
    li = load_table(spark, sf_dir, "lineitem")
    long = li.selectExpr(
        "stack(3, 'quantity', l_quantity, 'extendedprice', l_extendedprice,"
        " 'discount', l_discount) AS (measure, v)"
    )
    return long.groupBy("measure").agg(F.round(F.sum("v"), 4).alias("total"))


@register(
    "j_range_price_bands",
    oracle="""
    WITH bands AS (
      SELECT band_id, band_id * 200.0 AS lo, (band_id + 1) * 200.0 AS hi
      FROM (SELECT unnest(range(0, 10)) AS band_id)
    )
    SELECT b.band_id, count(*) AS n_parts, round(avg(p.p_retailprice), 6) AS avg_price
    FROM part p JOIN bands b
      ON p.p_retailprice >= b.lo AND p.p_retailprice < b.hi
    GROUP BY b.band_id
    """,
)
def j_range_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join — SURVEY §2.3 absent list. The band table is
    tiny → Spark plans BroadcastNestedLoopJoin: the fact side streams
    map-side against the broadcast intervals, no shuffle before the agg.
    For band tables too big to broadcast, pre-bucket both sides on
    floor(price/width) and equi-join the bucket first."""
    p = load_table(spark, sf_dir, "part")
    bands = spark.range(0, 10).select(
        F.col("id").alias("band_id"),
        (F.col("id") * 200.0).alias("lo"),
        ((F.col("id") + 1) * 200.0).alias("hi"),
    )
    joined = p.join(
        F.broadcast(bands),
        (p.p_retailprice >= bands.lo) & (p.p_retailprice < bands.hi),
    )
    return joined.groupBy("band_id").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.round(F.avg("p_retailprice"), 6).alias("avg_price"),
    )


# Full outer join (SURVEY §2.3 absent list). Both inputs share the
# user_id hash partitioning from their aggregations, so the outer join
# reuses the exchange (no extra shuffle under AQE).
register_sql(
    "j_full_outer_click_buy",
    """
    WITH clicks AS (
      SELECT user_id, count(*) AS n_clicks FROM {events}
      WHERE event_type = 'click' GROUP BY user_id
    ), buys AS (
      SELECT user_id, count(*) AS n_buys FROM {events}
      WHERE event_type = 'buy' GROUP BY user_id
    )
    SELECT coalesce(c.user_id, b.user_id) AS user_id,
           coalesce(c.n_clicks, 0) AS n_clicks,
           coalesce(b.n_buys, 0) AS n_buys
    FROM clicks c FULL OUTER JOIN buys b ON c.user_id = b.user_id
    """,
)


@register(
    "agg_corr_covar",
    oracle="""
    SELECT event_type,
           round(corr(value, floor(epoch(ts))), 6)      AS corr_value_time,
           round(covar_pop(value, floor(epoch(ts))), 4) AS covar_pop_value_time,
           round(var_pop(value), 6)                     AS var_value
    FROM events
    GROUP BY event_type
    """,
)
def agg_corr_covar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics aggregates (corr / covar_pop / var_pop) —
    the statistical-profiling surface next to the null audit. Single-pass
    mergeable moments: map-side partials, one shuffle of 5 tiny states."""
    ev = load_table(spark, sf_dir, "events")
    epoch = F.unix_timestamp("ts").cast("double")
    return ev.groupBy("event_type").agg(
        F.round(F.corr(F.col("value"), epoch), 6).alias("corr_value_time"),
        F.round(F.covar_pop(F.col("value"), epoch), 4).alias("covar_pop_value_time"),
        F.round(F.var_pop("value"), 6).alias("var_value"),
    )


@register(
    "agg_collect_sorted_list",
    oracle="""
    SELECT n_regionkey,
           string_agg(n_name, ',' ORDER BY n_name) AS nations,
           CAST(count(*) AS INT) AS n
    FROM nation GROUP BY n_regionkey
    """,
)
def agg_collect_sorted_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested aggregation surface: collect_list → array_sort →
    array_join ≡ ordered string_agg. collect_list arrival order is
    nondeterministic across partitions, so the sort inside the array is
    what makes this reproducible — the same discipline any
    array-building agg needs at scale."""
    n = load_table(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations"),
        F.count(F.lit(1)).cast("int").alias("n"),
    )


# Stays DataFrame-bodied: its oracle asserts the HLL verdict as a
# constant TRUE, which the SQL text would skip computing.
@register(
    "agg_approx_distinct",
    oracle="""
    SELECT l_returnflag,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts_exact,
           CAST(count(*) AS BIGINT)                  AS n_rows,
           TRUE                                      AS within_2pct
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) — the 100 TB default for
    cardinality (SURVEY §2.4 absent list). Sketches are mergeable →
    map-side partials, O(1) memory per group vs the exact count's
    per-group value set. Exact twin: agg_distinct_counts.

    Hash-checkable bracket form (sketch values differ across engines by
    design, so the raw estimate can never hash-match): the query outputs
    the EXACT cardinality plus a boolean verdict that the HLL estimate
    (rsd 0.01) landed within ±2%. The oracle computes the same exact side
    and expects TRUE — an out-of-bracket sketch flips the boolean and
    fails the hash, which is precisely the regression we want caught."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", 0.01).alias("_approx"),
            F.countDistinct("l_partkey").alias("n_parts_exact"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            "l_returnflag",
            "n_parts_exact",
            "n_rows",
            (
                F.abs(F.col("_approx") - F.col("n_parts_exact"))
                <= 0.02 * F.col("n_parts_exact")
            ).alias("within_2pct"),
        )
    )


@register(
    "agg_approx_percentile",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.25), 4) AS q25_exact,
           round(quantile_cont(l_extendedprice, 0.50), 4) AS q50_exact,
           round(quantile_cont(l_extendedprice, 0.95), 4) AS q95_exact,
           CAST(count(*) AS BIGINT)                       AS n_rows,
           TRUE                                           AS within_5pct
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (Greenwald-Khanna sketch) — the 100 TB default
    for quantiles: mergeable map-side sketches, bounded memory per
    group, one pass; the exact percentile_cont twin (agg_percentiles)
    sorts each group's full value set. Error bound (±0.5% rank at
    accuracy 10000) is asserted against the exact quantiles in
    tests/test_relational.py.

    Hash-checkable bracket form: outputs the EXACT interpolated
    percentiles (proven quantile_cont-parity via agg_percentiles) plus
    one boolean verdict that every GK estimate is within ±5% of its
    exact value. The oracle recomputes the exact side and expects TRUE,
    so a drifting sketch fails the hash instead of hiding in a
    rows-only check. Both sketch and exact come out of the same single
    aggregation — still one shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.approx_percentile(
        "l_extendedprice", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.95)), 10000
    )
    x = F.percentile(
        "l_extendedprice", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.95))
    )
    ok = (
        (F.abs(F.element_at("_q", 1) - F.element_at("_x", 1)) <= 0.05 * F.element_at("_x", 1))
        & (F.abs(F.element_at("_q", 2) - F.element_at("_x", 2)) <= 0.05 * F.element_at("_x", 2))
        & (F.abs(F.element_at("_q", 3) - F.element_at("_x", 3)) <= 0.05 * F.element_at("_x", 3))
    )
    return (
        li.groupBy("l_returnflag")
        .agg(q.alias("_q"), x.alias("_x"), F.count(F.lit(1)).alias("n_rows"))
        .select(
            "l_returnflag",
            F.round(F.element_at("_x", 1), 4).alias("q25_exact"),
            F.round(F.element_at("_x", 2), 4).alias("q50_exact"),
            F.round(F.element_at("_x", 3), 4).alias("q95_exact"),
            "n_rows",
            ok.alias("within_5pct"),
        )
    )


@register(
    "agg_key_skew_report",
    oracle="""
    WITH g AS (SELECT l_orderkey, count(*) AS n FROM lineitem GROUP BY 1)
    SELECT CAST(count(*) AS BIGINT)                     AS n_keys,
           CAST(max(n) AS BIGINT)                       AS max_group,
           round(quantile_cont(n, 0.5), 4)              AS p50_group,
           round(quantile_cont(n, 0.99), 4)             AS p99_group,
           round(max(n) / sum(n), 6)                    AS top_key_share,
           round(max(n) / (sum(n) / count(*)), 4)       AS skew_factor
    FROM g
    """,
)
def agg_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnosis — the measurement that decides between a
    plain shuffle join, AQE skew splitting, and the explicit salted
    rewrite (SCALE.md's salting guidance assumes you KNOW the key is
    hot; this query is how you know). Group-size distribution of the
    lineitem orderkey: key count, max/median/p99 group size, the
    heaviest key's row share, and skew_factor = max/mean group size.
    Two hash aggregations (key sizes, then the 1-row summary) — both
    map-side-combinable at any scale."""
    li = load_table(spark, sf_dir, "lineitem")
    g = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n"))
    return g.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.max("n").alias("max_group"),
        F.round(F.percentile("n", 0.5), 4).alias("p50_group"),
        F.round(F.percentile("n", 0.99), 4).alias("p99_group"),
        F.round(F.max("n") / F.sum("n"), 6).alias("top_key_share"),
        F.round(F.max("n") / (F.sum("n") / F.count(F.lit(1))), 4).alias("skew_factor"),
    )


@register(
    "agg_linear_trend",
    oracle="""
    SELECT event_type,
           round(regr_slope(value, floor(epoch(ts)) / 86400.0), 6)     AS slope_per_day,
           round(regr_intercept(value, floor(epoch(ts)) / 86400.0), 4) AS intercept,
           round(regr_r2(value, floor(epoch(ts)) / 86400.0), 6)        AS r2,
           CAST(count(*) AS BIGINT)                                    AS n_rows
    FROM events GROUP BY event_type
    """,
)
def agg_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped least-squares trend (regr_slope/intercept/r2 — the ANSI
    linear-regression aggregate family, absent from SURVEY §2.4's
    reference inventory): per event type, the value trend per DAY.
    One hash aggregate with mergeable moment partials — the same
    map-side-combine shape as avg/stddev, so it scales like any A-series
    agg. Time is floor(epoch)/86400 (days) so slopes land at
    round(6)-stable magnitudes; floor matches Spark's unix_timestamp
    sub-second truncation (the skill-documented epoch gotcha)."""
    ev = load_table(spark, sf_dir, "events")
    x = F.unix_timestamp("ts") / 86400.0
    return ev.groupBy("event_type").agg(
        F.round(F.regr_slope("value", x), 6).alias("slope_per_day"),
        F.round(F.regr_intercept("value", x), 4).alias("intercept"),
        F.round(F.regr_r2("value", x), 6).alias("r2"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "agg_robust_outliers",
    oracle="""
    WITH med AS (
      SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS med
      FROM lineitem GROUP BY 1
    ), mad AS (
      SELECT l.l_returnflag, quantile_cont(abs(l.l_extendedprice - m.med), 0.5) AS mad
      FROM lineitem l JOIN med m USING (l_returnflag) GROUP BY 1
    )
    SELECT m.l_returnflag,
           round(m.med, 4) AS med,
           round(d.mad, 4) AS mad,
           CAST(sum(CASE WHEN abs(0.6745 * (l.l_extendedprice - m.med) / d.mad) > 3.5
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           CAST(count(*) AS BIGINT)                    AS n_rows
    FROM lineitem l
    JOIN med m ON l.l_returnflag = m.l_returnflag
    JOIN mad d ON l.l_returnflag = d.l_returnflag
    GROUP BY 1, m.med, d.mad
    """,
)
def agg_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier statistics (Iglewicz–Hoaglin modified z-score:
    0.6745·(x−median)/MAD, cut at 3.5 — public method) per return flag
    over extended price. Median/MAD resist the very outliers being
    counted, unlike the mean/stddev z-score (w_pct_change_zscore_
    anomaly). Exact percentiles here for bit-level oracle parity; the
    100 TB swap-in is approx_percentile with identical plan shape. See
    operators/relational.robust_outlier_stats."""
    from ..operators.relational import robust_outlier_stats

    li = load_table(spark, sf_dir, "lineitem")
    return robust_outlier_stats(li, "l_extendedprice", ["l_returnflag"], z_cut=3.5)


# TPC-H Q17 shape: a correlated scalar subquery (per-part avg quantity),
# which Catalyst decorrelates into an aggregate + join on l_partkey.
register_sql(
    "tpch_q17_small_quantity_revenue",
    """
    SELECT round(sum(l.l_extendedprice) / 7.0, 4) AS avg_yearly
    FROM {lineitem} l
    JOIN (SELECT l_partkey, 0.2 * avg(l_quantity) AS qty_limit
          FROM {lineitem} GROUP BY l_partkey) t
      ON l.l_partkey = t.l_partkey
    WHERE l.l_quantity < t.qty_limit
    """,
)


# TPC-H Q4 shape: correlated EXISTS → left-semi join with an equi key and
# an inequality residual. No l_commitdate/l_receiptdate here, so "late" =
# shipped >90 days after the order date.
register_sql(
    "tpch_q4_order_priority_exists",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM {orders} o
    WHERE o.o_orderdate >= TIMESTAMP '1996-07-01'
      AND o.o_orderdate < TIMESTAMP '1996-10-01'
      AND EXISTS (SELECT 1 FROM {lineitem} l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
    GROUP BY o_orderpriority
    """,
)


@register(
    "w_range_frame_hourly_sum",
    oracle="""
    SELECT event_id, user_id,
           round(sum(value) OVER (
             PARTITION BY user_id ORDER BY floor(epoch(ts))
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW), 4) AS hour_sum,
           count(*) OVER (
             PARTITION BY user_id ORDER BY floor(epoch(ts))
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS hour_n
    FROM events
    """,
)
def w_range_frame_hourly_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-based window frame (SURVEY §2.5 absent list): trailing
    1-hour sum per key, frame bounded by the ORDER BY VALUE (whole epoch
    seconds — Spark's unix_timestamp truncates, the oracle floors
    epoch() to match), not row offsets — rows at identical timestamps
    share a frame. Same single per-key shuffle as the row-frame
    windows."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-3600, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 4).alias("hour_sum"),
        F.count(F.lit(1)).over(w).alias("hour_n"),
    )


# Batch twin of the stateful streaming operator
# (streaming.stateful.running_zscore_anomalies), which keeps the same
# cumulative mean/stddev_pop as O(1) Welford state per key; stream/batch
# parity is asserted in tests/test_streaming.py.
register_sql(
    "w_running_zscore",
    """
    SELECT event_id, user_id,
           CASE WHEN stddev_pop(value) OVER w > 0
                THEN round((value - avg(value) OVER w) / stddev_pop(value) OVER w, 6)
                ELSE 0 END AS running_z
    FROM {events}
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)


# first/last/nth value over the full partition (SURVEY §2.5 absent
# list — ranking/value family exposed).
register_sql(
    "w_first_last_nth",
    """
    SELECT event_id, user_id,
           round(first_value(value) OVER w, 6) AS first_v,
           round(last_value(value)  OVER w, 6) AS last_v,
           round(nth_value(value, 3) OVER w, 6) AS third_v
    FROM {events}
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)


# Stays DataFrame-bodied: its SQL text ran ~3.7x slower at sf0.1; it
# lacks the r14 string min/max split below.
@register(
    "profile_lineitem",
    oracle="""
    SELECT count(*)                              AS n_rows,
           count(*) - count(l_quantity)          AS qty_nulls,
           count(DISTINCT l_quantity)            AS qty_ndv,
           min(l_quantity)                       AS qty_min,
           max(l_quantity)                       AS qty_max,
           count(DISTINCT l_returnflag)          AS flag_ndv,
           min(l_returnflag)                     AS flag_min,
           max(l_returnflag)                     AS flag_max,
           min(l_shipdate)                       AS ship_min,
           max(l_shipdate)                       AS ship_max,
           count(DISTINCT l_orderkey)            AS order_ndv
    FROM lineitem
    """,
)
def profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profiling (ANALYZE-style): null counts, exact distinct
    counts, typed min/max across numeric, string, and date columns in
    ONE aggregate pass over the table — the stats block every pipeline
    health check and optimizer-feeding ANALYZE computes. At 100 TB the
    exact NDVs become approx_count_distinct (mergeable sketches, same
    single-pass shape — agg_approx_distinct is the registered sibling)."""
    li = load_table(spark, sf_dir, "lineitem")
    # STRING min/max live in their own aggregate (r14 optimization): a
    # string agg BUFFER is immutable, which demotes the ENTIRE
    # aggregation — including the 4x-Expand multi-distinct rewrite — to
    # SortAggregate with a full sort of the expanded fact table
    # (measured 5.5 s warm at sf0.1; HashAggregate form ~1 s). With
    # flag_min/flag_max split out, the main agg hash-aggregates
    # (strings as GROUPING keys in the distinct rewrite are fine — only
    # buffers must be mutable), and the flag pass is a cheap
    # sort-agg-free global fold joined back as a 1-row broadcast.
    # Values and schema are identical; only the physical shape changes.
    main = li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.count("l_quantity")).alias("qty_nulls"),
        F.countDistinct("l_quantity").alias("qty_ndv"),
        F.min("l_quantity").alias("qty_min"),
        F.max("l_quantity").alias("qty_max"),
        F.countDistinct("l_returnflag").alias("flag_ndv"),
        F.min("l_shipdate").alias("ship_min"),
        F.max("l_shipdate").alias("ship_max"),
        F.countDistinct("l_orderkey").alias("order_ndv"),
    )
    flags = li.agg(
        F.min("l_returnflag").alias("flag_min"),
        F.max("l_returnflag").alias("flag_max"),
    )
    return main.crossJoin(F.broadcast(flags)).select(
        "n_rows",
        "qty_nulls",
        "qty_ndv",
        "qty_min",
        "qty_max",
        "flag_ndv",
        "flag_min",
        "flag_max",
        "ship_min",
        "ship_max",
        "order_ndv",
    )


@register(
    "j_asof_tolerance_events",
    oracle="""
    WITH dim AS (
      SELECT user_id, date_trunc('day', ts) AS snap_ts,
             floor(avg(value) * 1000000 + 0.5) / 1000000 AS day_avg
      FROM events GROUP BY 1, 2
    )
    SELECT e.event_id, e.user_id, e.ts,
           CASE WHEN e.ts - d.snap_ts <= INTERVAL 6 HOUR THEN d.day_avg END AS day_avg
    FROM events e ASOF LEFT JOIN dim d
      ON e.user_id = d.user_id AND e.ts >= d.snap_ts
    """,
)
def j_asof_tolerance_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 tolerance flavor, JVM-native (r14 optimization): backward
    as-of join via the single-shuffle union+ffill composition
    (operators/asof.asof_join) carrying the matched row's snap_ts, then
    a staleness null-out — exactly the 'matched then nulled' identity
    the DuckDB oracle uses (the backward match is unique, so 'excluded
    by tolerance' ≡ 'matched then nulled'). Previously this ran
    per-key pd.merge_asof(tolerance=6h) through cogrouped
    applyInPandas: two cogroup exchanges + a FlatMapCoGroupsInPandas
    Python boundary shipping every fact row out of the JVM and back
    (guide §4 — eliminate the boundary when built-ins express the
    semantic). merge_asof's tolerance is inclusive and so is the
    INTERVAL comparison here; the hash is unchanged (oracle-verified at
    sf0.01/sf0.1). The pandas escape hatch itself stays exercised by
    tests/test_asof.py parity cases."""
    from ..operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    dim = ev.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("snap_ts")
    ).agg(_q6(F.avg("value")).alias("day_avg"))
    joined = asof_join(
        ev.select("event_id", "user_id", "ts"),
        dim,
        on="user_id",
        fact_time="ts",
        dim_time="snap_ts",
        dim_cols=["snap_ts", "day_avg"],
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        F.when(
            F.col("ts") <= F.col("snap_ts") + F.expr("INTERVAL 6 HOURS"),
            F.col("day_avg"),
        ).alias("day_avg"),
    )


# Z-order constants shared between engine and oracle: 8-bit buckets,
# 3-bit prefix → 64 chunks, each provably spanning ≤ 2^(8−3) = 32
# buckets per dimension (the data-skipping rectangle).
_Z_BITS = 8
_Z_PREFIX = 3
_Z_SHIFT = 2 * _Z_BITS - 2 * _Z_PREFIX
_Z_TERMS = " + ".join(
    f"(((ba >> {i}) & 1) << {2 * i}) + (((bb >> {i}) & 1) << {2 * i + 1})"
    for i in range(_Z_BITS)
)


@register(
    "x_zorder_layout",
    oracle=f"""
    WITH d AS (
      SELECT date_diff('day', DATE '1970-01-01', l_shipdate) AS za,
             l_partkey AS zb
      FROM lineitem
    ), bounds AS (
      SELECT min(za) AS amin, max(za) AS amax,
             min(zb) AS bmin, max(zb) AS bmax
      FROM d
    ), b AS (
      SELECT ((za - amin) * {1 << _Z_BITS}) // (amax - amin + 1) AS ba,
             ((zb - bmin) * {1 << _Z_BITS}) // (bmax - bmin + 1) AS bb
      FROM d, bounds
    ), z AS (
      SELECT ba, bb, ({_Z_TERMS}) AS zval FROM b
    )
    SELECT zval >> {_Z_SHIFT} AS chunk,
           count(*) AS n,
           min(ba) AS a_lo, max(ba) AS a_hi,
           min(bb) AS b_lo, max(bb) AS b_hi
    FROM z GROUP BY 1
    """,
)
def x_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton curve) layout audit over lineitem on the two
    dimensions its queries actually filter by — ship date and part.
    Buckets each dim to 8 bits from ONE broadcast min/max aggregate,
    bit-interleaves into a z-value (pure JVM shift/and inside codegen),
    and summarizes each of the 64 z-prefix chunks: row count + the
    bounding rectangle it spans. The hash-checked invariant IS the
    data-skipping story: every chunk's a/b span ≤ 32 of 256 buckets, so
    a file laid out in z order serves date-AND-part predicates from
    min/max stats alone. See operators/layout.py (write_zordered) for
    the one-range-shuffle write path; tests/test_layout.py proves the
    prefix-rectangle bound and the on-disk pruning effect."""
    from ..operators import layout as L

    li = load_table(spark, sf_dir, "lineitem")
    d = L.add_zorder(
        li,
        F.datediff(F.col("l_shipdate"), F.lit("1970-01-01")),
        F.col("l_partkey"),
        bits=_Z_BITS,
    )
    return d.groupBy(
        F.shiftright("zval", _Z_SHIFT).alias("chunk")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("bucket_a").alias("a_lo"),
        F.max("bucket_a").alias("a_hi"),
        F.min("bucket_b").alias("b_lo"),
        F.max("bucket_b").alias("b_hi"),
    )


@register(
    "x_data_quality_checks",
    oracle="""
    SELECT 'shipdate_not_null' AS check_name, 'not_null' AS kind,
           CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
           sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) = 0 AS passed
    FROM lineitem
    UNION ALL
    SELECT 'returnflag_in_set', 'in_set',
           CAST(sum(CASE WHEN l_returnflag IS NULL
                           OR l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END) AS BIGINT),
           sum(CASE WHEN l_returnflag IS NULL
                      OR l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END) = 0
    FROM lineitem
    UNION ALL
    SELECT 'discount_le_6pct', 'range',
           CAST(sum(CASE WHEN l_discount IS NULL OR l_discount < 0
                           OR l_discount > 0.06 THEN 1 ELSE 0 END) AS BIGINT),
           sum(CASE WHEN l_discount IS NULL OR l_discount < 0
                      OR l_discount > 0.06 THEN 1 ELSE 0 END) = 0
    FROM lineitem
    UNION ALL
    SELECT 'qty_price_positive', 'expr',
           CAST(sum(CASE WHEN NOT coalesce(l_quantity > 0 AND l_extendedprice >= 0, FALSE)
                         THEN 1 ELSE 0 END) AS BIGINT),
           sum(CASE WHEN NOT coalesce(l_quantity > 0 AND l_extendedprice >= 0, FALSE)
                    THEN 1 ELSE 0 END) = 0
    FROM lineitem
    UNION ALL
    SELECT 'lineitem_pk_unique', 'unique',
           CAST(coalesce(sum(n - 1), 0) AS BIGINT), coalesce(sum(n - 1), 0) = 0
    FROM (SELECT count(*) AS n FROM lineitem
          GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1) t
    UNION ALL
    SELECT 'orderkey_in_orders', 'subset', CAST(count(*) AS BIGINT), count(*) = 0
    FROM lineitem l
    LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IS NULL
    """,
)
def x_data_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative Deequ-style expectations over lineitem: the four
    row-level checks fuse into ONE scan (conditional sums, map-side
    partials), uniqueness is one groupBy on the key pair, and the
    referential check is one anti-join against the orders key set.
    The 6%-discount range check is deliberately tight so the suite
    demonstrates real violation counting, not just all-green rows.
    See operators/expectations.py for the cost model."""
    from ..operators.expectations import Check, validate_expectations

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    checks = [
        Check("shipdate_not_null", "not_null", col="l_shipdate"),
        Check("returnflag_in_set", "in_set", col="l_returnflag", values=("A", "N", "R")),
        Check("discount_le_6pct", "range", col="l_discount", lo=0.0, hi=0.06),
        Check("qty_price_positive", "expr", sql="l_quantity > 0 AND l_extendedprice >= 0"),
        Check("lineitem_pk_unique", "unique", cols=("l_orderkey", "l_linenumber")),
        Check("orderkey_in_orders", "subset", col="l_orderkey"),
    ]
    return validate_expectations(
        li, checks, parents={"orderkey_in_orders": (orders, "o_orderkey")}
    )


@register(
    "j_fuzzy_part_names",
    oracle="""
    WITH n AS (SELECT DISTINCT p_name AS name FROM part)
    SELECT a.name AS name_a, b.name AS name_b,
           CAST(levenshtein(lower(trim(a.name)), lower(trim(b.name))) AS INT) AS edit_distance
    FROM n a JOIN n b
      ON a.name < b.name
     AND length(a.name) - length(b.name) BETWEEN -2 AND 2
    WHERE levenshtein(lower(trim(a.name)), lower(trim(b.name))) <= 2
    """,
)
def j_fuzzy_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy self-match on part names via BLOCKED levenshtein
    (operators/relational.fuzzy_join_blocked, pigeonhole segment
    blocking): candidates from a (length, segment_idx, segment) equi-
    join, never an all-pairs cross — and COMPLETE, so the oracle is the
    unblocked truth {pairs: distance ≤ 2} and the hash check proves the
    blocking loses nothing at all. (The oracle's length-difference
    prefilter is a necessary condition of distance ≤ 2, not a blocking
    approximation.)"""
    from ..operators.relational import fuzzy_join_blocked

    part = load_table(spark, sf_dir, "part")
    names = part.select(F.col("p_name")).distinct()
    a = names.select(F.col("p_name").alias("name_a"))
    b = names.select(F.col("p_name").alias("name_b"))
    return (
        fuzzy_join_blocked(a, b, "name_a", "name_b", max_distance=2, length_band=4)
        .filter(F.col("name_a") < F.col("name_b"))
        .select("name_a", "name_b", F.col("edit_distance").cast("int").alias("edit_distance"))
    )


# Stays DataFrame-bodied: its SQL text ran 1.02x slower (median of 14
# interleaved A/B pairs).
@register(
    "agg_width_bucket_histogram",
    oracle="""
    SELECT CAST(CASE WHEN o_totalprice < 0 THEN 0
                     WHEN o_totalprice >= 600000 THEN 13
                     ELSE floor(o_totalprice / 50000) + 1 END AS BIGINT) AS bucket,
           count(*) AS n,
           round(min(o_totalprice), 4) AS lo,
           round(max(o_totalprice), 4) AS hi
    FROM orders GROUP BY 1
    """,
)
def agg_width_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram via width_bucket (12 buckets over
    [0, 600k) + under/overflow buckets 0 and 13) — the numeric-profile
    companion to A3's categorical group histogram; one aggregation,
    map-side partials. The oracle states the same binning arithmetic
    explicitly (floor-div + boundary cases)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(
            F.width_bucket("o_totalprice", F.lit(0.0), F.lit(600000.0), F.lit(12)).alias(
                "bucket"
            ),
            "o_totalprice",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 4).alias("lo"),
            F.round(F.max("o_totalprice"), 4).alias("hi"),
        )
    )


# Equal-frequency binning (QuantileDiscretizer semantics, exact): the
# unique tiebreaker keeps bin assignment engine-invariant. Partitioned
# window, no global sort; the approx companion at scale is
# approx_percentile cut points (agg_approx_percentile).
register_sql(
    "w_ntile_binning",
    """
    SELECT o_orderpriority, quartile,
           count(*) AS n,
           round(min(o_totalprice), 4) AS lo,
           round(max(o_totalprice), 4) AS hi
    FROM (SELECT o_orderpriority, o_totalprice,
                 ntile(4) OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice, o_orderkey) AS quartile
          FROM {orders}) t
    GROUP BY 1, 2
    """,
)


# Slowly-changing-dimension type-2 history from an event log:
# consecutive duplicate values compress away (lag filter), survivors
# become versioned validity intervals [valid_from, valid_to) via lead.
# Both windows share one partition spec (one shuffle on user_id) and
# order by (ts, event_id), so same-timestamp changes get engine-independent
# version numbers (ADVICE r3).
register_sql(
    "w_scd2_value_history",
    """
    WITH chg AS (
      SELECT user_id, ts, event_id, value
      FROM (SELECT user_id, ts, event_id, value,
                   lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_v
            FROM {events}) t
      WHERE prev_v IS NULL OR value <> prev_v
    )
    SELECT user_id,
           CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS version,
           ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
           value,
           (lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL) AS is_current
    FROM chg
    """,
)


@register(
    "agg_cohort_retention",
    oracle="""
    WITH first AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day FROM events GROUP BY 1
    ), act AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    )
    SELECT f.cohort_day,
           CAST(date_diff('day', f.cohort_day, a.day) AS BIGINT) AS day_offset,
           count(DISTINCT a.user_id) AS n_users
    FROM act a JOIN first f USING (user_id)
    GROUP BY 1, 2
    """,
)
def agg_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users bucketed by first-seen day, counted
    per (cohort, day offset) — the canonical engagement query. Two
    aggregations on user_id (cohort assignment rides the same shuffle
    key as the activity distinct) plus one count-distinct; at 100 TB
    pre-aggregate activity to (user, day) once — done here — so the
    retention join never touches raw events."""
    ev = load_table(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("cohort_day"))
    act = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    return (
        act.join(first, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff("day", "cohort_day").cast("long").alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


def _pagerank_oracle(iters: int = 6, damping: float = 0.85) -> str:
    """Unrolled fixed-iteration power-method PageRank as DuckDB SQL —
    the hash-checkable oracle twin of operators/graph.pagerank. Each
    iteration is one CTE pair (contributions + dangling-mass scalar);
    unrolling beats WITH RECURSIVE because the recursive term can't
    aggregate. Every state CTE is MATERIALIZED — each is referenced 3×
    (contribs, dangling mass, next state), and DuckDB's default CTE
    inlining would otherwise re-derive the whole chain 3^iters times.
    Both engines run the identical IEEE-double recurrence, so
    divergence stays at summation-order level (~1e-15) and the shared
    8-decimal rounding absorbs it."""
    d = repr(damping)
    sql = """
    WITH e AS MATERIALIZED (
      SELECT DISTINCT -o.o_custkey AS src, l.l_suppkey AS dst
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ), nodes AS (
      SELECT src AS node FROM e UNION SELECT dst FROM e
    ), meta AS (
      SELECT CAST(count(*) AS BIGINT) AS n FROM nodes
    ), odeg AS (
      SELECT src AS node, count(*) AS deg FROM e GROUP BY src
    ), s0 AS MATERIALIZED (
      SELECT nd.node, coalesce(odeg.deg, 0) AS deg,
             1.0 / (SELECT n FROM meta) AS rank
      FROM nodes nd LEFT JOIN odeg USING (node)
    )"""
    prev = "s0"
    for i in range(1, iters + 1):
        sql += f""", c{i} AS MATERIALIZED (
      SELECT e.dst AS node, sum(s.rank / s.deg) AS contrib
      FROM e JOIN {prev} s ON e.src = s.node AND s.deg > 0
      GROUP BY e.dst
    ), dm{i} AS MATERIALIZED (
      SELECT coalesce(sum(rank), 0.0) AS dm FROM {prev} WHERE deg = 0
    ), s{i} AS MATERIALIZED (
      SELECT s.node, s.deg,
             (1.0 - {d}) / (SELECT n FROM meta)
               + {d} * (coalesce(c.contrib, 0.0)
                        + (SELECT dm FROM dm{i}) / (SELECT n FROM meta)) AS rank
      FROM {prev} s LEFT JOIN c{i} c USING (node)
    )"""
        prev = f"s{i}"
    sql += f"""
    SELECT CAST(node AS BIGINT) AS suppkey, round(rank, 8) AS rank
    FROM {prev} WHERE node > 0
    ORDER BY round(rank, 8) DESC, node
    LIMIT 20
    """
    return sql


def _purchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct customer→supplier purchase edges (orders ⋈ lineitem),
    the graph the supplier PageRank/HITS rows analyze. Customer ids are
    NEGATED to keep the two key spaces apart."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    return (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select((-F.col("o_custkey")).alias("src"), F.col("l_suppkey").alias("dst"))
        .distinct()
    )


@register("x_pagerank_suppliers", oracle=_pagerank_oracle(iters=6))
def x_pagerank_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier importance via PageRank on the customer→supplier
    purchase graph (edges = distinct (custkey, suppkey) pairs through
    orders ⋈ lineitem). Iterative power method, one shuffle per
    iteration, dangling mass redistributed (operators/graph.py);
    semantics pinned by closed-form tests in tests/test_graph.py AND a
    hash-checked unrolled-SQL oracle (ranks rounded to 8 decimals; the
    power method contracts, so cross-engine float jitter stays ~1e-15
    and never reaches the 8th decimal at sf magnitudes).

    Customer ids are NEGATED to disambiguate the two key spaces —
    collision-free at ANY scale factor (TPC-H keys are strictly
    positive), unlike a fixed additive offset which custkey outgrows at
    SF≥7. Top-20 selection orders by the ROUNDED rank with suppkey
    tiebreak so both engines cut the same boundary."""
    from ..operators.graph import pagerank

    edges = _purchase_edges(spark, sf_dir)
    pr = pagerank(edges, iters=6)
    return (
        pr.filter(F.col("node") > 0)
        .select(
            F.col("node").alias("suppkey"),
            F.round("rank", 8).alias("rank"),
        )
        .orderBy(F.desc("rank"), "suppkey")
        .limit(20)
    )


def _bucketed_table(spark: SparkSession, prefix: str, sf_dir: str) -> tuple[str, bool]:
    """(name, exists) of the bucketed table ``prefix`` built for the data
    root ``sf_dir``: ``<prefix>_<leaf>_<sha1(root)[:8]>``. Keyed by the
    FULL data root, not just its leaf: two roots sharing a basename must
    not silently reuse each other's tables (ADVICE r5); the leaf stays
    in the name for readability, the digest disambiguates.

    When the catalog lacks the table, any directory a previous session
    left at its warehouse location is deleted (the default in-memory
    catalog forgets managed tables on exit, and DROP TABLE cannot clear
    an orphan it never heard of), through the Hadoop FileSystem API —
    scheme-aware, unlike a raw shutil.rmtree of the URI string."""
    import hashlib
    import re

    root = sf_dir.rstrip("/")
    leaf = re.sub(r"\W", "_", root.rsplit("/", 1)[-1])
    table = f"{prefix}_{leaf}_{hashlib.sha1(root.encode()).hexdigest()[:8]}"
    if spark.catalog.tableExists(table):
        return table, True
    wh = spark.conf.get("spark.sql.warehouse.dir").rstrip("/")
    jpath = spark._jvm.org.apache.hadoop.fs.Path(f"{wh}/{table}")
    jpath.getFileSystem(spark._jsc.hadoopConfiguration()).delete(jpath, True)
    return table, False


def _bucketed_purchase_edges(spark: SparkSession, sf_dir: str) -> str:
    """Idempotently build (once per data root) the src-bucketed
    customer→supplier purchase-edge table the iterative graph queries
    share — ONE pay-at-ingest layout serving PageRank AND HITS, the
    production shape where a recurring layout amortizes across every
    consumer. Returns the table name (see ``_bucketed_table``)."""
    from ..sources.sinks import write_bucketed

    table, exists = _bucketed_table(spark, "pr_edges_b", sf_dir)
    if not exists:
        o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
        li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
        n_buckets = max(spark.sparkContext.defaultParallelism, 1)
        # dedup fused into the bucket layout (r15, same as the
        # co-purchase ingest): repartition on the bucket column first,
        # dropDuplicates exchange-free on it (HashPartitioning(src)
        # satisfies the (src, dst) distinct), write assume_clustered —
        # one ingest exchange instead of two
        edges = (
            o.join(li, o["o_orderkey"] == li["l_orderkey"])
            .select(
                (-F.col("o_custkey")).alias("src"),
                F.col("l_suppkey").alias("dst"),
            )
            .repartition(n_buckets, F.col("src"))
            .dropDuplicates(["src", "dst"])
        )
        write_bucketed(edges, table, "src", n_buckets, assume_clustered=True)
    return table


def _bucketed_copurchase_edges(spark: SparkSession, sf_dir: str) -> str:
    """Idempotently build (once per data root) the bucketed CANONICAL
    part co-purchase edge table (a < b, distinct — edge = two parts
    sharing an order) that the triangle family shares: the same
    pay-at-ingest stance as _bucketed_purchase_edges, applied to the
    second graph the registry analyzes. Storing the edges canonical
    means every consumer skips the canonicalize-distinct shuffle
    (triangle_counts(assume_canonical=True)); bucketing by the low
    endpoint co-locates each vertex's edge list for degree/orientation
    work. Named by ``_bucketed_table``."""
    from ..sources.sinks import write_bucketed

    table, exists = _bucketed_table(spark, "copur_edges_b", sf_dir)
    if not exists:
        li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
        a = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("a"))
        b = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("b"))
        n_buckets = max(spark.sparkContext.defaultParallelism, 1)
        # Fuse the dedup into the bucket layout (r15): repartition on the
        # bucket column FIRST, then dropDuplicates — HashPartitioning(a)
        # satisfies the (a, b) distinct's clustering, so the dedup runs
        # exchange-free on already-placed rows and the bucketed write
        # (assume_clustered) adds no second |E| shuffle. One exchange
        # instead of two for the whole ingest; measured 2.7 → 2.0 s
        # (interleaved min-of-3) with identical rows and file count.
        edges = (
            a.join(b, "k")
            .filter(F.col("a") < F.col("b"))
            .select("a", "b")
            .repartition(n_buckets, F.col("a"))
            .dropDuplicates(["a", "b"])
        )
        write_bucketed(edges, table, "a", n_buckets, assume_clustered=True)
    return table


# (applicationId, data root) -> eagerly checkpointed (node, degree,
# triangles) frame. Keyed by applicationId so a new session can never
# see a stale frame from a stopped one.
_TRI_STATS_MEMO: dict = {}


def _drop_copurchase_artifacts(spark: SparkSession, sf_dir: str) -> None:
    """Drop the bucketed co-purchase edge table AND the session
    tri-stats memo for ``sf_dir``, forcing the next consumer to pay the
    full cold build. Bench hook: the triangle family's headline rows
    measure the amortized (memoized) path, which is the right
    production posture but left the ~once-per-session edge+wedge setup
    cost invisible in the bench artifact (VERDICT r12 'What's wrong'
    #2) — the setup-leg row calls this before each timed build."""
    stats = _TRI_STATS_MEMO.pop((spark.sparkContext.applicationId, sf_dir.rstrip("/")), None)
    if stats is not None:
        release(stats)
    table, exists = _bucketed_table(spark, "copur_edges_b", sf_dir)
    if exists:
        spark.sql(f"DROP TABLE `{table}`")


def _copurchase_tri_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node, degree, triangles) over the part co-purchase graph —
    the shared oriented-wedge computation behind x_triangle_copurchase
    AND x_clustering_coefficient (VERDICT r11 #3). Built ONCE per
    (session, data root): the canonical edge list comes from the
    bucketed ingest layout (zero canonicalize exchanges —
    graph._LAST_TRI_CANON_EXCHANGES == 0, asserted in
    tests/test_graph.py), the O(|E|^1.5) degree-ordered wedge join runs
    once, and the result is checkpointed DISK_ONLY and memoized, so
    the second consumer pays only its own ranking tail. At 100 TB this
    is exactly how a graph-metrics pass runs: one oriented-wedge sweep
    feeding every per-node statistic, not one sweep per metric."""
    key = (spark.sparkContext.applicationId, sf_dir.rstrip("/"))
    hit = _TRI_STATS_MEMO.get(key)
    if hit is not None:
        return hit
    from pyspark import StorageLevel

    from ..operators.graph import triangle_counts

    edges = spark.table(_bucketed_copurchase_edges(spark, sf_dir))
    deg = (
        edges.select(F.col("a").alias("node"))
        .unionByName(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    tc = triangle_counts(edges, src="a", dst="b", assume_canonical=True)
    # A raw checkpoint, not ``materialize``: the memo is a declared
    # session fixture that must outlive the query_scope of the row that
    # built it; _drop_copurchase_artifacts releases it.
    stats = (
        tc.join(deg, "node")
        .select("node", "degree", F.col("triangles").cast("long").alias("triangles"))
        .localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    )
    _TRI_STATS_MEMO[key] = stats
    return stats


@register("x_pagerank_bucketed_edges", oracle=_pagerank_oracle(iters=6))
def x_pagerank_bucketed_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same supplier PageRank served from a SRC-BUCKETED edge
    table — the pay-at-ingest layout for iterative graph analytics at
    100 TB. The first call per scale factor builds the edge list
    (orders ⋈ lineitem, distinct) and writes it bucketed by src; every
    later call scans the bucketed table with ZERO exchanges in the edge
    materialization (graph._LAST_EDGE_EXCHANGES == 0: the bucket hash
    IS the shuffle hash) and runs pagerank(pre_partitioned=True), whose
    persisted edge cache keeps the bucket partitioning so no iteration
    re-shuffles the edge table (graph._LAST_ITER_EXCHANGES == 2,
    asserted in tests/test_graph.py). Identical ranks to
    x_pagerank_suppliers — same unrolled-SQL oracle. The amortized-run
    path is what the bench's min-of-3 measures; run 1 pays the one-time
    layout write, exactly like production ingest.

    Bench-reading note: locally this row runs ~1–2 s SLOWER than
    x_pagerank_suppliers (measured interleaved 7.8 vs 5.6 s at sf0.1)
    because the persisted edge cache pays columnar decode per iteration
    while a local-mode shuffle is only a disk spill — the documented
    local/cluster inversion (SCALE.md §Graph). On a real cluster the
    balance flips: the layout deletes an |E|-sized NETWORK exchange
    from materialization and every iteration."""
    from ..operators.graph import pagerank

    table = _bucketed_purchase_edges(spark, sf_dir)
    pr = pagerank(spark.table(table), iters=6, pre_partitioned=True)
    return (
        pr.filter(F.col("node") > 0)
        .select(
            F.col("node").alias("suppkey"),
            F.round("rank", 8).alias("rank"),
        )
        .orderBy(F.desc("rank"), "suppkey")
        .limit(20)
    )


@register(
    "x_fuzzy_name_clusters",
    oracle="""
    WITH RECURSIVE n AS (
      SELECT DISTINCT p_name AS name FROM part
    ), pairs AS (
      SELECT a.name AS id_a, b.name AS id_b
      FROM n a JOIN n b
        ON a.name < b.name
       AND length(a.name) - length(b.name) BETWEEN -2 AND 2
      WHERE levenshtein(lower(trim(a.name)), lower(trim(b.name))) <= 2
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b, id_a FROM pairs
    ), reach AS (
      SELECT src AS node, src AS label FROM edges
      UNION
      SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
    ), comp AS (
      SELECT node AS name, min(label) AS canonical FROM reach GROUP BY node
    )
    SELECT name, canonical,
           count(*) OVER (PARTITION BY canonical) AS cluster_size
    FROM comp
    """,
)
def x_fuzzy_name_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end-to-end: blocked fuzzy pairs (edit distance
    ≤ 2, record-linkage blocking — no cross join) → connected components
    (min-label propagation works unchanged on STRING node ids; 'min'
    label = lexicographically first name = the canonical form) →
    canonical-name clusters. The same pairs→clusters composition the
    near-dup doc pipeline uses, proven here on a second domain against
    a recursive-CTE oracle."""
    from ..operators.dedup import connected_components
    from ..operators.relational import fuzzy_join_blocked

    part = load_table(spark, sf_dir, "part")
    names = part.select(F.col("p_name")).distinct()
    a = names.select(F.col("p_name").alias("name_a"))
    b = names.select(F.col("p_name").alias("name_b"))
    pairs = (
        fuzzy_join_blocked(a, b, "name_a", "name_b", max_distance=2, length_band=4)
        .filter(F.col("name_a") < F.col("name_b"))
        .select(F.col("name_a").alias("id_a"), F.col("name_b").alias("id_b"))
    )
    labels = connected_components(pairs)
    w = Window.partitionBy("canonical")
    return (
        labels.select(F.col("node").alias("name"), F.col("label").alias("canonical"))
        .withColumn("cluster_size", F.count(F.lit(1)).over(w))
    )


@register(
    "x_sketch_rollup_users",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_exact,
           CAST(count(*) AS BIGINT)                AS n_rows,
           round(quantile_cont(value, 0.50), 4)    AS q50_exact,
           round(quantile_cont(value, 0.95), 4)    AS q95_exact,
           TRUE AS hll_within_2pct,
           TRUE AS kll50_in_rank_band,
           TRUE AS kll95_in_rank_band
    FROM events GROUP BY event_type
    """,
)
def x_sketch_rollup_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable sketch ROLLUP TABLE (DataSketches HLL + KLL) — the
    100 TB pre-aggregation pattern: sketch each day's events once into a
    kilobyte-sized rollup row, then answer "distinct users / value
    quantiles per event type, any date range" by merging sketch blobs,
    never rescanning raw events. Here: per-(day, event_type) rollup →
    merged per event_type — the merge path is what runs in production;
    the raw-data pass happens once at ingest.

    Hash-checkable bracket form (sketch binaries differ across engines
    by design): outputs the EXACT distinct counts / quantiles plus
    boolean verdicts that the merged-sketch estimates landed inside
    their published error brackets — HLL(lgK=12) ±2% on cardinality,
    KLL(k=200) ±3% RANK band (estimate between the exact q∓0.03
    quantiles). The oracle recomputes the exact side and expects TRUE;
    a drifting merge breaks the hash. Merge LOSSLESSNESS (union of
    daily sketches ≡ one whole-table sketch, bit-exact estimate) is
    asserted separately in tests/test_sketches.py."""
    from ..operators import sketches as SK

    ev = load_table(spark, sf_dir, "events")
    # ingest-time pass: one sketch row per (day, event_type)
    roll = SK.sketch_rollup(
        ev.withColumn("day", F.date_trunc("day", "ts")),
        ["day", "event_type"],
        distinct_col="user_id",
        value_col="value",
    )
    # query-time pass: merge blobs to event_type grain
    merged = SK.merge_sketch_rollup(roll, ["event_type"], quantiles=(0.5, 0.95))
    # verification harness: exact side (test scale only — at 100 TB the
    # whole point is that this exact recount never runs)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users_exact"),
        F.percentile(
            "value",
            F.array(*[F.lit(x) for x in (0.47, 0.50, 0.53, 0.92, 0.95, 0.98)]),
        ).alias("_p"),
    )
    j = merged.join(exact, "event_type")
    return j.select(
        "event_type",
        "n_users_exact",
        "n_rows",
        F.round(F.element_at("_p", 2), 4).alias("q50_exact"),
        F.round(F.element_at("_p", 5), 4).alias("q95_exact"),
        (
            F.abs(F.col("n_distinct_est") - F.col("n_users_exact"))
            <= 0.02 * F.col("n_users_exact")
        ).alias("hll_within_2pct"),
        F.col("q50_est").between(
            F.element_at("_p", 1), F.element_at("_p", 3)
        ).alias("kll50_in_rank_band"),
        F.col("q95_est").between(
            F.element_at("_p", 4), F.element_at("_p", 6)
        ).alias("kll95_in_rank_band"),
    )


@register(
    "x_theta_audience_overlap",
    oracle="""
    WITH c AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
         b AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
    SELECT CAST((SELECT count(*) FROM c) AS BIGINT) AS n_click_exact,
           CAST((SELECT count(*) FROM b) AS BIGINT) AS n_purchase_exact,
           CAST((SELECT count(*) FROM (SELECT user_id FROM c UNION SELECT user_id FROM b) u) AS BIGINT)
               AS n_union_exact,
           CAST((SELECT count(*) FROM (SELECT user_id FROM c INTERSECT SELECT user_id FROM b) i) AS BIGINT)
               AS n_both_exact,
           TRUE AS union_within_5pct,
           TRUE AS both_within_5pct
    """,
)
def x_theta_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set ALGEBRA — the question HLL cannot answer:
    "how many distinct users clicked AND bought?" Theta sketches keep a
    hash sample, so intersection/difference are defined (DataSketches
    theta_intersection_agg), and audience-overlap across N segment
    rollups costs N blob merges instead of an N-way distinct semi-join
    of raw data. Bracket-verdict form: exact counts (semi-join twin,
    test scale only) + booleans that the theta union AND intersection
    estimates land within ±5%; oracle expects TRUE."""
    from ..operators.sketches import distinct_overlap

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    est = distinct_overlap(ev, "event_type", "user_id")
    # exact side in ONE pass: per-user membership flags (one user_id
    # shuffle), then a single global conditional aggregate — not four
    # separate distinct/intersect pipelines
    per_user = ev.groupBy("user_id").agg(
        F.max((F.col("event_type") == "click").cast("int")).alias("has_c"),
        F.max((F.col("event_type") == "purchase").cast("int")).alias("has_p"),
    )
    exact = per_user.agg(
        F.sum("has_c").alias("n_click_exact"),
        F.sum("has_p").alias("n_purchase_exact"),
        F.count(F.lit(1)).alias("n_union_exact"),
        F.sum(
            ((F.col("has_c") == 1) & (F.col("has_p") == 1)).cast("int")
        ).alias("n_both_exact"),
    )
    return exact.crossJoin(F.broadcast(est)).select(
        "n_click_exact",
        "n_purchase_exact",
        "n_union_exact",
        "n_both_exact",
        (
            F.abs(F.col("n_union_est") - F.col("n_union_exact"))
            <= 0.05 * F.col("n_union_exact")
        ).alias("union_within_5pct"),
        (
            F.abs(F.col("n_intersection_est") - F.col("n_both_exact"))
            <= 0.05 * F.col("n_both_exact")
        ).alias("both_within_5pct"),
    )


@register(
    "x_merge_upsert_latest",
    oracle="""
    WITH latest AS (
      SELECT user_id AS c_custkey, value AS new_bal
      FROM (
        SELECT user_id, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE event_type = 'purchase'
      ) t WHERE rn = 1
    ), tgt AS (
      SELECT c_custkey, c_name, c_acctbal, c_mktsegment
      FROM customer WHERE c_custkey <= 100
    )
    SELECT CAST(COALESCE(t.c_custkey, l.c_custkey) AS BIGINT) AS c_custkey,
           t.c_name AS c_name,
           CASE WHEN l.c_custkey IS NOT NULL THEN l.new_bal
                ELSE t.c_acctbal END AS c_acctbal,
           t.c_mktsegment AS c_mktsegment,
           CASE WHEN l.c_custkey IS NOT NULL AND t.c_custkey IS NOT NULL THEN 'updated'
                WHEN l.c_custkey IS NOT NULL THEN 'inserted'
                ELSE 'kept' END AS merge_action
    FROM tgt t FULL OUTER JOIN latest l ON t.c_custkey = l.c_custkey
    """,
)
def x_merge_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO (SCD type-1 upsert) as one full-outer join — the
    lakehouse maintenance op the engine's sinks pair with
    (sinks.merge_upsert_parquet does the partition-selective rewrite).
    Here the semantic core: latest purchase value per user upserts a
    customer dimension slice — matched keys take the new balance,
    unknown users INSERT, untouched customers persist, and the batch is
    first reduced to one row per key (max (ts, event_id)) so replayed
    batches are idempotent. All three action paths land in the result
    and the oracle replays them in ANSI SQL."""
    from ..operators.relational import merge_upsert

    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 100)
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
    )
    updates = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("c_custkey"),
            F.col("value").alias("c_acctbal"),
            F.struct("ts", "event_id").alias("_ord"),
        )
    )
    return merge_upsert(
        cust,
        updates,
        ["c_custkey"],
        set_cols=["c_acctbal"],
        order_col="_ord",
        with_action=True,
    )


@register(
    "x_embedding_centroids",
    oracle="""
    SELECT label,
           CAST(pos AS INTEGER) AS pos,
           round(avg(v), 6)     AS centroid_v,
           CAST(count(*) AS BIGINT) AS n_vecs
    FROM (
      SELECT label,
             unnest(embedding::DOUBLE[]) AS v,
             generate_subscripts(embedding, 1) AS pos
      FROM embeddings
    ) t
    GROUP BY label, pos
    """,
)
def x_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class embedding centroids (the k-means M-step / class
    prototype computation, and the seed step of SemDeDup-style cluster-
    bounded dedup) with zero UDFs: posexplode fans each vector into
    (dim, value) rows map-side, then ONE shuffle keyed by (label, dim)
    with partial avg. At 100 TB the exchange carries one partial
    (sum, count) per (label, dim) per map task — dims × labels ×
    tasks, independent of row count. 1-based dim index to match SQL
    generate_subscripts."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    return (
        emb.select("label", F.posexplode("embedding").alias("pos0", "v"))
        .groupBy("label", (F.col("pos0") + 1).cast("int").alias("pos"))
        .agg(
            F.round(F.avg("v"), 6).alias("centroid_v"),
            F.count(F.lit(1)).alias("n_vecs"),
        )
    )


# Strict-order 3-step funnel (signup → first click AFTER signup → first
# purchase AFTER that click), the generalization of the 2-step
# t_click_to_buy_conversion. Three stage aggregates + two stage joins, all
# keyed on user_id, so a user_id-bucketed events table runs it
# exchange-free. Strictly-after (ts >, not >=) pins tie behavior across
# engines.
register_sql(
    "t_funnel_3step",
    """
    WITH s1 AS (
      SELECT user_id, min(ts) AS t_signup
      FROM {events} WHERE event_type = 'signup' GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id, min(e.ts) AS t_click
      FROM {events} e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click' AND e.ts > s1.t_signup
      GROUP BY e.user_id
    ), s3 AS (
      SELECT e.user_id, min(e.ts) AS t_purchase
      FROM {events} e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.t_click
      GROUP BY e.user_id
    )
    SELECT s1.user_id, s1.t_signup, s2.t_click, s3.t_purchase,
           CAST(1 + CASE WHEN s2.user_id IS NULL THEN 0 ELSE 1 END
                  + CASE WHEN s3.user_id IS NULL THEN 0 ELSE 1 END
                AS INTEGER) AS steps_completed
    FROM s1
    LEFT JOIN s2 ON s1.user_id = s2.user_id
    LEFT JOIN s3 ON s1.user_id = s3.user_id
    """,
)


@register(
    "x_dense_ids_documents",
    oracle="""
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS dense_id
    FROM documents
    """,
)
def x_dense_ids_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense surrogate-key minting in global doc_id order — produced by
    the two-phase zipWithIndex shape (relational.assign_dense_ids:
    range repartition + per-partition offsets), NOT the oracle's naive
    global-window form, which at 100 TB funnels every row through one
    partition. Same answer, scalable plan — that asymmetry is the
    point of the query."""
    from ..operators.relational import assign_dense_ids

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return assign_dense_ids(docs, ["doc_id"]).select(
        "doc_id", F.col("dense_id").cast("long").alias("dense_id")
    )


@register(
    "x_calendar_dim",
    oracle="""
    SELECT CAST(d AS DATE) AS day,
           CAST(isodow(d) AS INTEGER)      AS iso_dow,
           CAST(CASE WHEN isodow(d) >= 6 THEN 1 ELSE 0 END AS INTEGER) AS is_weekend,
           CAST(month(d) AS INTEGER)       AS month,
           CAST(quarter(d) AS INTEGER)     AS quarter,
           CAST(year(d) AS INTEGER)        AS year,
           strftime(d, '%Y-%m')            AS year_month
    FROM generate_series(DATE '2024-01-01', DATE '2024-06-30', INTERVAL 1 DAY) t(d)
    """,
)
def x_calendar_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar dimension GENERATION — the broadcastable date spine every
    warehouse joins against (gap-filling, fiscal rollups, weekend
    flags). Built from one sequence() literal exploded map-side: zero
    input scans, zero shuffles; at any scale this is a ~10 KB broadcast
    dim. ISO day-of-week (1=Mon..7=Sun) is computed as
    weekday()+1 to pin the Sunday-numbering mismatch between engines."""
    start, end = "2024-01-01", "2024-06-30"
    days = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit(start).cast("date"),
                F.lit(end).cast("date"),
                F.expr("interval 1 day"),
            )
        ).alias("day")
    )
    iso_dow = (F.weekday("day") + 1).cast("int")
    return days.select(
        "day",
        iso_dow.alias("iso_dow"),
        (iso_dow >= 6).cast("int").alias("is_weekend"),
        F.month("day").cast("int").alias("month"),
        F.quarter("day").cast("int").alias("quarter"),
        F.year("day").cast("int").alias("year"),
        F.date_format("day", "yyyy-MM").alias("year_month"),
    )


@register(
    "x_sketch_rollup_range",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_exact,
           CAST(count(*) AS BIGINT)                AS n_rows,
           TRUE AS hll_within_2pct
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-24 00:00:00'
    GROUP BY event_type
    """,
)
def x_sketch_rollup_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production rollup query shape: "distinct users per type over
    the LAST WEEK" answered by filtering the per-day rollup to 7 day
    rows and union-merging their HLL blobs — on a day-partitioned
    rollup table the filter is directory pruning, and the work is 7
    blob rows per group regardless of raw volume. Exact side recomputed
    from raw events only as the test-scale verification harness; oracle
    expects the ±2% verdict TRUE."""
    from ..operators import sketches as SK

    cutoff = "2024-01-24 00:00:00"
    ev = load_table(spark, sf_dir, "events")
    roll = SK.sketch_rollup(
        ev.withColumn("day", F.date_trunc("day", "ts")),
        ["day", "event_type"],
        distinct_col="user_id",
    )
    recent = roll.filter(F.col("day") >= F.lit(cutoff).cast("timestamp"))
    merged = SK.merge_sketch_rollup(recent, ["event_type"])
    exact = (
        ev.filter(F.col("ts") >= F.lit(cutoff).cast("timestamp"))
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_users_exact"))
    )
    return merged.join(exact, "event_type").select(
        "event_type",
        "n_users_exact",
        "n_rows",
        (
            F.abs(F.col("n_distinct_est") - F.col("n_users_exact"))
            <= 0.02 * F.col("n_users_exact")
        ).alias("hll_within_2pct"),
    )


@register(
    "x_rolling_mau_sketch",
    oracle="""
    WITH days AS (
      SELECT DISTINCT date_trunc('day', ts) AS day FROM events
    ), exact AS (
      SELECT d.day, CAST(count(DISTINCT e.user_id) AS BIGINT) AS mau_exact
      FROM days d
      JOIN events e
        ON date_trunc('day', e.ts) BETWEEN d.day - INTERVAL 6 DAY AND d.day
      GROUP BY d.day
    )
    SELECT CAST(day AS TIMESTAMP) AS day, mau_exact,
           CAST(least(7, CAST(row_number() OVER (ORDER BY day) AS BIGINT)) AS INTEGER)
               AS n_days_in_window,
           TRUE AS hll_within_2pct
    FROM exact
    """,
)
def x_rolling_mau_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users from DAILY HLL BLOBS — the sliding-
    window distinct count that raw aggregation cannot do incrementally
    (distinct is not subtractable): each day folds its trailing 7 day-
    sketches with the lossless pairwise hll_union
    (sketches.rolling_distinct_estimate). The window runs over the DAY
    SPINE (30 rows here, 365/year), so the ordered single-partition
    window is calendar-bounded, never data-bounded. Exact side (range
    join day-spine ⋈ events) is the test-scale harness; oracle expects
    the ±2% verdict TRUE."""
    from ..operators import sketches as SK

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", "ts")
    )
    daily = ev.groupBy("day").agg(F.hll_sketch_agg("user_id", F.lit(12)).alias("hll"))
    est = SK.rolling_distinct_estimate(daily, "day", window_rows=7)
    spine = ev.select("day").distinct()
    exact = (
        F.broadcast(spine)
        .alias("d")
        .join(
            ev.select("day", "user_id").alias("e"),
            (F.col("e.day") >= F.col("d.day") - F.expr("interval 6 day"))
            & (F.col("e.day") <= F.col("d.day")),
        )
        .groupBy(F.col("d.day").alias("day"))
        .agg(F.countDistinct("user_id").alias("mau_exact"))
    )
    return est.join(exact, "day").select(
        "day",
        "mau_exact",
        "n_days_in_window",
        (
            F.abs(F.col("n_distinct_est") - F.col("mau_exact"))
            <= 0.02 * F.col("mau_exact")
        ).alias("hll_within_2pct"),
    )


# Stays DataFrame-bodied: its oracle asserts the sketch verdict as a
# constant TRUE, which the SQL text would skip computing.
@register(
    "x_customer_churn_sketch",
    oracle="""
    WITH f AS (
      SELECT o_custkey,
             max(CASE WHEN year(o_orderdate) = 1994 THEN 1 ELSE 0 END) AS h94,
             max(CASE WHEN year(o_orderdate) = 1995 THEN 1 ELSE 0 END) AS h95
      FROM orders
      WHERE year(o_orderdate) IN (1994, 1995)
      GROUP BY o_custkey
    )
    SELECT CAST(sum(h94) AS BIGINT)                                  AS n_1994_exact,
           CAST(sum(h95) AS BIGINT)                                  AS n_1995_exact,
           CAST(sum(CASE WHEN h94 = 1 AND h95 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_churned_exact,
           TRUE AS churn_within_5pct
    FROM f
    """,
)
def x_customer_churn_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set DIFFERENCE — churn: customers who ordered in
    1994 but not 1995, answered from two year-partition sketches via
    ``theta_difference`` (A \\ B — the third set operation, after the
    overlap query's union/intersection). On a year-partitioned rollup
    this is two blob reads instead of a two-year distinct anti-join.
    Exact side is the same one-pass membership-flag aggregate the
    overlap query uses; oracle expects the ±5% verdict TRUE (exact-mode
    sketches at driver scale make it exact)."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.year("o_orderdate").isin(1994, 1995)
    )
    sketches = o.agg(
        F.theta_sketch_agg(
            F.when(F.year("o_orderdate") == 1994, F.col("o_custkey"))
        ).alias("s94"),
        F.theta_sketch_agg(
            F.when(F.year("o_orderdate") == 1995, F.col("o_custkey"))
        ).alias("s95"),
    )
    est = sketches.select(
        F.theta_sketch_estimate(
            F.theta_difference(F.col("s94"), F.col("s95"))
        ).alias("churn_est")
    )
    flags = o.groupBy("o_custkey").agg(
        F.max((F.year("o_orderdate") == 1994).cast("int")).alias("h94"),
        F.max((F.year("o_orderdate") == 1995).cast("int")).alias("h95"),
    )
    exact = flags.agg(
        F.sum("h94").alias("n_1994_exact"),
        F.sum("h95").alias("n_1995_exact"),
        F.sum(
            ((F.col("h94") == 1) & (F.col("h95") == 0)).cast("int")
        ).alias("n_churned_exact"),
    )
    return exact.crossJoin(F.broadcast(est)).select(
        "n_1994_exact",
        "n_1995_exact",
        "n_churned_exact",
        (
            F.abs(F.col("churn_est") - F.col("n_churned_exact"))
            <= 0.05 * F.col("n_churned_exact")
        ).alias("churn_within_5pct"),
    )


@register(
    "x_triangle_copurchase",
    oracle="""
    WITH e AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), tri AS MATERIALIZED (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM e e1
      JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
      JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b
    ), corners AS (
      SELECT x AS node FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri
    )
    SELECT CAST(node AS BIGINT) AS partkey,
           CAST(count(*) AS BIGINT) AS triangles
    FROM corners GROUP BY node
    ORDER BY triangles DESC, partkey
    LIMIT 25
    """,
)
def x_triangle_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the part co-purchase graph (edge = two
    parts sharing an order): the canonical graph-clustering primitive
    (local clustering coefficient numerator, community density). Engine
    side uses degree-ordered orientation (operators/graph.py
    triangle_counts — O(|E|^1.5) wedge bound, hub-safe); the oracle
    counts the same triangles by plain id-canonical three-way join,
    which is correct but NOT the scale plan. Counts are orientation-
    invariant, so the two agree exactly — integer outputs, no float
    rounding anywhere.

    The per-order pair explode is quadratic in order size; TPC-H orders
    hold ≤7 lines so it is bounded here. At 100 TB, cap the per-key
    fan-out (drop or sample baskets above ~100 items) before pairing —
    the same guard posture as the exact-pair dedup oracles.

    Served from the SHARED co-purchase graph layout: the canonical
    edge list is the bucketed ingest table (_bucketed_copurchase_edges)
    and the oriented-wedge sweep runs once per session, shared with
    x_clustering_coefficient (_copurchase_tri_stats) — this query is
    the one wedge sweep plus a TakeOrdered tail."""
    stats = _copurchase_tri_stats(spark, sf_dir)
    return (
        stats.select(
            F.col("node").cast("long").alias("partkey"),
            "triangles",
        )
        .orderBy(F.desc("triangles"), "partkey")
        .limit(25)
    )


@register(
    "x_association_rules",
    oracle="""
    WITH b AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), meta AS (
      SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM b
    ), item AS (
      SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_item FROM b GROUP BY l_partkey
    ), pair AS (
      SELECT x.l_partkey AS a, y.l_partkey AS c, CAST(count(*) AS BIGINT) AS n_pair
      FROM b x JOIN b y
        ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= 2
    ), rules AS (
      SELECT a AS ant, c AS cons, n_pair FROM pair
      UNION ALL
      SELECT c, a, n_pair FROM pair
    )
    SELECT CAST(r.ant AS BIGINT)  AS ant,
           CAST(r.cons AS BIGINT) AS cons,
           r.n_pair               AS n_pair,
           ia.n_item              AS n_ant,
           ic.n_item              AS n_cons,
           floor((r.n_pair * 1.0 / m.n_orders) * 1000000 + 0.5) / 1000000
             AS support,
           floor((r.n_pair * 1.0 / ia.n_item) * 1000000 + 0.5) / 1000000
             AS confidence,
           floor((r.n_pair * 1.0 * m.n_orders / (ia.n_item * ic.n_item)) * 1000000
                 + 0.5) / 1000000                                      AS lift
    FROM rules r
    JOIN item ia ON ia.l_partkey = r.ant
    JOIN item ic ON ic.l_partkey = r.cons
    CROSS JOIN meta m
    ORDER BY floor((r.n_pair * 1.0 * m.n_orders / (ia.n_item * ic.n_item)) * 1000000
                   + 0.5) / 1000000 DESC,
             r.ant, r.cons
    LIMIT 25
    """,
)
def x_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules (size-2 frequent itemsets):
    support / confidence / lift for part pairs co-occurring in an
    order, both rule directions, min pair-support 2 — the Apriori
    first rung, and the co-occurrence statistic (lift ≡ PMI's linear
    twin) behind 'customers also bought'.

    Distributed shape: basket dedup (1 shuffle on the composite key),
    per-order pair generation via self-equi-join on orderkey (bounded:
    TPC-H orders hold ≤7 lines; cap per-basket fan-out at 100-TB like
    the triangle build), pair/item counts are map-side-combined
    groupBys, the order total is a 1-row broadcast, and the final
    ranking is TakeOrdered on the rounded lift. All ratios are single
    IEEE divisions of exact integers — identical in both engines —
    with the boundary cut taken on the rounded value + (ant, cons)
    tiebreak."""
    # materialize the deduped basket ONCE — it feeds meta, item counts
    # and BOTH pair-join sides; unmaterialized, the scan+distinct of the
    # biggest table re-executes 4x (same re-derivation trap as the
    # triangle edge build, graph.py)
    b = materialize(
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    meta = b.agg(F.countDistinct("l_orderkey").cast("long").alias("n_orders"))
    item = b.groupBy("l_partkey").agg(F.count(F.lit(1)).cast("long").alias("n_item"))
    x = b.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("a"))
    y = b.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("c"))
    pair = (
        x.join(y, "k")
        .filter(F.col("a") < F.col("c"))
        .groupBy("a", "c")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pair"))
        .filter(F.col("n_pair") >= 2)
    )
    rules = pair.select(F.col("a").alias("ant"), F.col("c").alias("cons"), "n_pair").unionByName(
        pair.select(F.col("c").alias("ant"), F.col("a").alias("cons"), "n_pair")
    )
    ia = item.select(F.col("l_partkey").alias("ant"), F.col("n_item").alias("n_ant"))
    ic = item.select(F.col("l_partkey").alias("cons"), F.col("n_item").alias("n_cons"))
    out = (
        rules.join(ia, "ant")
        .join(ic, "cons")
        .crossJoin(F.broadcast(meta))
        .select(
            F.col("ant").cast("long").alias("ant"),
            F.col("cons").cast("long").alias("cons"),
            "n_pair",
            "n_ant",
            "n_cons",
            _q6(F.col("n_pair") * 1.0 / F.col("n_orders")).alias("support"),
            _q6(F.col("n_pair") * 1.0 / F.col("n_ant")).alias("confidence"),
            _q6(
                F.col("n_pair") * 1.0 * F.col("n_orders")
                / (F.col("n_ant") * F.col("n_cons"))
            ).alias("lift"),
        )
    )
    return out.orderBy(F.desc("lift"), "ant", "cons").limit(25)


@register(
    "x_snapshot_diff_orders",
    oracle="""
    WITH v2 AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 1.0
                  ELSE o_totalprice END AS o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 97 <> 0
      UNION ALL
      SELECT o_orderkey + 100000000, o_custkey, o_orderstatus,
             o_totalprice, o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 101 = 0
    )
    SELECT CAST(coalesce(o.o_orderkey, v.o_orderkey) AS BIGINT) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                WHEN v.o_orderkey IS NULL THEN 'delete'
                ELSE 'update' END AS change_type
    FROM orders o FULL OUTER JOIN v2 v USING (o_orderkey)
    WHERE o.o_orderkey IS NULL OR v.o_orderkey IS NULL
       OR o.o_custkey       IS DISTINCT FROM v.o_custkey
       OR o.o_orderstatus   IS DISTINCT FROM v.o_orderstatus
       OR o.o_totalprice    IS DISTINCT FROM v.o_totalprice
       OR o.o_orderdate     IS DISTINCT FROM v.o_orderdate
       OR o.o_orderpriority IS DISTINCT FROM v.o_orderpriority
    """,
)
def x_snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changeset derivation: diff two snapshot versions of the
    orders table into insert/delete/update rows — the inverse of the
    MERGE upsert (x_merge_upsert_latest applies a changeset; this
    derives one). Version 2 is simulated deterministically (drop keys
    ≡0 mod 97, bump price on keys ≡0 mod 13, append shifted copies of
    keys ≡0 mod 101) so both engines diff identical inputs. The engine
    path (operators/relational.snapshot_diff) is join-FREE: tag+union+
    one keyed groupBy with conditional-max per side — a single shuffle,
    one row of state per key — where the oracle states the same diff
    as a full-outer join, correct but two exchanges at scale."""
    from ..operators.relational import snapshot_diff

    v1 = load_table(spark, sf_dir, "orders")
    kept = v1.filter(F.col("o_orderkey") % 97 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 13 == 0, F.col("o_totalprice") + 1.0
        ).otherwise(F.col("o_totalprice")),
    )
    inserted = v1.filter(F.col("o_orderkey") % 101 == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + 100000000
    )
    v2 = kept.unionByName(inserted)
    return snapshot_diff(v1, v2, ["o_orderkey"]).select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"), "change_type"
    )


@register(
    "x_clustering_coefficient",
    oracle="""
    WITH e AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS deg
      FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
      GROUP BY node
    ), tri AS MATERIALIZED (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM e e1
      JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
      JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b
    ), tcnt AS (
      SELECT node, CAST(count(*) AS BIGINT) AS triangles
      FROM (SELECT x AS node FROM tri
            UNION ALL SELECT y FROM tri
            UNION ALL SELECT z FROM tri)
      GROUP BY node
    )
    SELECT CAST(t.node AS BIGINT) AS partkey,
           d.deg                  AS degree,
           t.triangles            AS triangles,
           floor((2.0 * t.triangles / (d.deg * (d.deg - 1))) * 1000000 + 0.5)
             / 1000000 AS lcc
    FROM tcnt t JOIN deg d USING (node)
    ORDER BY floor((2.0 * t.triangles / (d.deg * (d.deg - 1))) * 1000000 + 0.5)
               / 1000000 DESC,
             t.node
    LIMIT 25
    """,
)
def x_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node: lcc = 2T/(d(d-1)) over
    the part co-purchase graph — triangle counting composed with the
    degree aggregate, the standard community-density metric. Ranking
    cuts on the rounded ratio with a partkey tiebreak; 2.0*T/(d(d-1))
    is one IEEE division of exact integers, identical in both engines.
    Restricted to triangle-participating nodes (zero-lcc nodes can
    never reach a top-25 by lcc).

    Served from the SHARED co-purchase graph layout
    (_copurchase_tri_stats): degree and triangle counts come from the
    same once-per-session oriented-wedge sweep x_triangle_copurchase
    uses — this query adds only the lcc projection and its ranking
    tail."""
    stats = _copurchase_tri_stats(spark, sf_dir)
    lcc = _q6(
        2.0 * F.col("triangles") / (F.col("degree") * (F.col("degree") - 1))
    )
    return (
        stats.select(
            F.col("node").cast("long").alias("partkey"),
            "degree",
            "triangles",
            lcc.alias("lcc"),
        )
        .orderBy(F.desc("lcc"), "partkey")
        .limit(25)
    )


@register(
    "agg_mode_per_user",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY user_id, event_type
    ), r AS (
      SELECT user_id, event_type, n,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY n DESC, event_type) AS rk
      FROM c
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           event_type AS mode_event_type,
           n AS n_occurrences
    FROM r WHERE rk = 1
    """,
)
def agg_mode_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODE per group: each user's most frequent event type — the
    categorical central-tendency aggregate SQL's MODE() gives and
    Spark doesn't. Two-stage: (user, type) count (map-side combined),
    then a rank-1 window over the tiny per-user count frame with a
    full tiebreak (count desc, type asc) so both engines pick the same
    winner on ties. Both exchanges key on user_id, so a cluster plans
    them as one partitioning. Operator: relational.mode_per_group."""
    from ..operators.relational import mode_per_group

    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("long").alias("user_id"), "event_type"
    )
    return mode_per_group(
        ev,
        ["user_id"],
        "event_type",
        mode_col="mode_event_type",
        count_col="n_occurrences",
    )


@register(
    "j_asof_nearest_events",
    oracle="""
    WITH dim AS (
      SELECT user_id, date_trunc('day', ts) AS snap_ts,
             floor(avg(value) * 1000000 + 0.5) / 1000000 AS day_avg
      FROM events GROUP BY 1, 2
    ), b AS (
      SELECT e.event_id, e.user_id, e.ts, d.snap_ts AS bt, d.day_avg AS bv
      FROM events e ASOF LEFT JOIN dim d
        ON e.user_id = d.user_id AND e.ts >= d.snap_ts
    ), f AS (
      SELECT e.event_id, d.snap_ts AS ft, d.day_avg AS fv
      FROM events e ASOF LEFT JOIN dim d
        ON e.user_id = d.user_id AND e.ts <= d.snap_ts
    )
    SELECT b.event_id, b.user_id, b.ts,
           CASE WHEN ft IS NULL THEN bv
                WHEN bt IS NULL THEN fv
                WHEN epoch_us(b.ts) - epoch_us(bt)
                     <= epoch_us(ft) - epoch_us(b.ts) THEN bv
                ELSE fv END AS nearest_day_avg
    FROM b JOIN f USING (event_id)
    """,
)
def j_asof_nearest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4, NEAREST direction — the third of pandas merge_asof's
    directions, completing backward/forward/tolerance: each event takes
    whichever daily snapshot (previous or next day-start) is closer in
    time, ties to the earlier one. operators.asof.asof_join_nearest
    runs both directional fills over ONE window sort (single shuffle on
    the key) and compares exact microsecond distances; the oracle
    composes DuckDB's two native directional ASOF joins and picks the
    nearer side with the same integer arithmetic."""
    from ..operators.asof import asof_join_nearest

    ev = load_table(spark, sf_dir, "events")
    dim = ev.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("snap_ts")
    ).agg(_q6(F.avg("value")).alias("day_avg"))
    joined = asof_join_nearest(
        ev.select("event_id", "user_id", "ts"),
        dim,
        on="user_id",
        fact_time="ts",
        dim_time="snap_ts",
        dim_cols=["day_avg"],
    )
    return joined.select(
        "event_id", "user_id", "ts", F.col("day_avg").alias("nearest_day_avg")
    )


# Top-N per group: the rank-filter shape lets Spark insert
# WindowGroupLimit below the shuffle, so each map task forwards only its
# local top-3 per group (asserted on the plan in tests/test_relational.py).
register_sql(
    "o_topn_per_group",
    """
    SELECT o_orderpriority, o_orderkey, o_totalprice,
           CAST(rk AS INT) AS rk
    FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey) AS rk
      FROM {orders}
    ) WHERE rk <= 3
    """,
)


@register(
    "agg_vwap_supplier_month",
    oracle="""
    SELECT l_suppkey,
           date_trunc('month', l_shipdate) AS ship_month,
           CAST(count(*) AS BIGINT) AS n_lines,
           floor(sum(l_extendedprice) / sum(l_quantity) * 1000000 + 0.5)
             / 1000000 AS vwap
    FROM lineitem
    GROUP BY 1, 2
    """,
)
def agg_vwap_supplier_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-weighted average price per supplier-month — the classic
    finance rollup (VWAP = Σ price·qty / Σ qty; l_extendedprice is
    already the line's price×qty). One map-side-combined aggregation,
    ratio quantized with q6 on both sides (sum order differs between
    engines at the last ulp)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(
        "l_suppkey",
        F.to_date(F.date_trunc("month", F.col("l_shipdate"))).alias("ship_month"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        _q6(F.sum("l_extendedprice") / F.sum("l_quantity")).alias("vwap"),
    )


# Longest run of CONSECUTIVE same-type events per user — the
# gaps-and-islands streak variant (w_gap_detection finds time gaps; this
# groups value runs): a per-user and a per-(user, type) row_number
# differ by a constant within a run.
register_sql(
    "w_longest_streak",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn_all,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rn_type
      FROM {events}
    ), runs AS (
      SELECT user_id, event_type, rn_all - rn_type AS grp,
             CAST(count(*) AS BIGINT) AS run_len
      FROM seq GROUP BY 1, 2, 3
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           max(run_len) AS longest_streak
    FROM runs GROUP BY user_id
    """,
)


@register(
    "agg_chi2_independence",
    oracle="""
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
    SELECT floor(sum((n - row_tot * col_tot / grand)
                     * (n - row_tot * col_tot / grand)
                     / (row_tot * col_tot / grand)) * 1000000 + 0.5)
             / 1000000 AS chi2,
           CAST((count(DISTINCT event_type) - 1)
                * (count(DISTINCT grp) - 1) AS BIGINT) AS dof
    FROM tot
    """,
)
def agg_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test statistic for independence of event_type
    × user-parity — the categorical association measure next to
    agg_corr_covar's numeric one. The contingency table is one
    map-side-combined count; the expected-value windows run over the
    CELL frame (|types|×2 rows), never data rows, so the only
    data-sized work is the first aggregation."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type", (F.col("user_id") % 2).alias("grp")
    ).agg(F.count(F.lit(1)).cast("double").alias("n"))
    from ..operators.tswindow import spine_window

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
        _q6(F.sum((F.col("n") - e) * (F.col("n") - e) / e)).alias("chi2"),
        (
            (F.countDistinct("event_type") - 1) * (F.countDistinct("grp") - 1)
        ).cast("long").alias("dof"),
    )


def _ppr_oracle(iters: int = 6, damping: float = 0.85) -> str:
    """Unrolled personalized-PageRank oracle: same MATERIALIZED-CTE
    power iteration as _pagerank_oracle but over the UNDIRECTED
    customer-supplier graph, with the teleport/dangling mass restarting
    at the seed suppliers (node 1..10) instead of uniformly. The
    (1-damping) literal is emitted as repr(1.0 - damping) so both
    engines multiply the bit-identical double."""
    d = repr(damping)
    rest = repr(1.0 - damping)
    sql = """
    WITH dir AS MATERIALIZED (
      SELECT DISTINCT -o.o_custkey AS src, l.l_suppkey AS dst
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ), e AS MATERIALIZED (
      SELECT src, dst FROM dir UNION ALL SELECT dst, src FROM dir
    ), nodes AS (
      SELECT src AS node FROM e UNION SELECT dst FROM e
    ), meta AS (
      SELECT CAST(count(*) AS BIGINT) AS m FROM nodes
      WHERE node BETWEEN 1 AND 10
    ), odeg AS (
      SELECT src AS node, count(*) AS deg FROM e GROUP BY src
    ), s0 AS MATERIALIZED (
      SELECT nd.node, coalesce(odeg.deg, 0) AS deg,
             CASE WHEN nd.node BETWEEN 1 AND 10
                  THEN 1.0 / (SELECT m FROM meta) ELSE 0.0 END AS p,
             CASE WHEN nd.node BETWEEN 1 AND 10
                  THEN 1.0 / (SELECT m FROM meta) ELSE 0.0 END AS rank
      FROM nodes nd LEFT JOIN odeg USING (node)
    )"""
    prev = "s0"
    for i in range(1, iters + 1):
        sql += f""", c{i} AS MATERIALIZED (
      SELECT e.dst AS node, sum(s.rank / s.deg) AS contrib
      FROM e JOIN {prev} s ON e.src = s.node AND s.deg > 0
      GROUP BY e.dst
    ), dm{i} AS MATERIALIZED (
      SELECT coalesce(sum(rank), 0.0) AS dm FROM {prev} WHERE deg = 0
    ), s{i} AS MATERIALIZED (
      SELECT s.node, s.deg, s.p,
             {rest} * s.p
               + {d} * (coalesce(c.contrib, 0.0)
                        + (SELECT dm FROM dm{i}) * s.p) AS rank
      FROM {prev} s LEFT JOIN c{i} c USING (node)
    )"""
        prev = f"s{i}"
    sql += f"""
    SELECT CAST(node AS BIGINT) AS suppkey, round(rank, 8) AS rank
    FROM {prev} WHERE node > 0
    ORDER BY round(rank, 8) DESC, node
    LIMIT 20
    """
    return sql


@register("x_pagerank_personalized", oracle=_ppr_oracle(iters=6))
def x_pagerank_personalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (random walk with restart) seeded at
    suppliers 1-10 over the UNDIRECTED customer-supplier purchase graph
    — 'suppliers similar to these ten through shared customers', the
    recommendation/similarity walk the uniform variant can't express.
    Undirected edges matter: suppliers are sinks in the directed graph,
    so a directed PPR would trivially park all mass on the seeds.
    operators/graph.personalized_pagerank keeps the uniform variant's
    measured plan discipline (repartition-then-materialize, eager
    checkpoints every 2); the oracle unrolls the same recurrence with
    teleport/dangling mass restarting at the seeds."""
    from ..operators.graph import personalized_pagerank

    base = _purchase_edges(spark, sf_dir)
    edges = base.unionByName(
        base.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    teleport = spark.range(1, 11).select(F.col("id").alias("node"))
    pr = personalized_pagerank(edges, teleport, iters=6)
    return (
        pr.filter(F.col("node") > 0)
        .select(F.col("node").alias("suppkey"), F.round("rank", 8).alias("rank"))
        .orderBy(F.desc("rank"), "suppkey")
        .limit(20)
    )


# Maximum drawdown per user series (largest peak-to-trough drop relative
# to the running peak). The running max and the keyed min are both on
# user_id, so a cluster plans a single exchange.
register_sql(
    "w_max_drawdown",
    """
    WITH runs AS (
      SELECT user_id, ts, event_id, value,
             max(value) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS run_max
      FROM {events}
    ), dd AS (
      SELECT user_id,
             (value - run_max) / nullif(run_max, 0) AS drawdown
      FROM runs
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           floor(min(drawdown) * 1000000 + 0.5) / 1000000 AS max_drawdown
    FROM dd GROUP BY user_id
    """,
)


@register(
    "agg_hhi_market_concentration",
    oracle="""
    WITH rev AS (
      SELECT n.n_name AS nation, sum(l.l_extendedprice * (1 - l.l_discount)) AS r
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      GROUP BY 1
    ), tot AS (
      SELECT nation, r, sum(r) OVER () AS t FROM rev
    )
    SELECT CAST(count(*) AS BIGINT) AS n_nations,
           floor(sum((r / t) * (r / t)) * 1000000 + 0.5) / 1000000 AS hhi,
           floor((1.0 / count(*)) * 1000000 + 0.5) / 1000000 AS hhi_floor
    FROM tot
    """,
)
def agg_hhi_market_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman market-concentration index of supplier
    revenue by nation: sum of squared revenue shares, with the 1/N
    perfectly-competitive floor alongside. The share windows run over
    the per-nation aggregate frame (25 rows), never data rows; the only
    data-sized work is one revenue aggregation behind two broadcast dim
    joins."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        li.join(F.broadcast(sup), li["l_suppkey"] == sup["s_suppkey"])
        .join(F.broadcast(nat), sup["s_nationkey"] == nat["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("r"))
    )
    from ..operators.tswindow import spine_window

    rev, wg = spine_window(rev, [], max_rows=1024, label="nation-revenue")
    t = rev.withColumn("t", F.sum("r").over(wg))
    share2 = (F.col("r") / F.col("t")) * (F.col("r") / F.col("t"))
    return t.agg(
        F.count(F.lit(1)).cast("long").alias("n_nations"),
        _q6(F.sum(share2)).alias("hhi"),
        _q6(F.lit(1.0) / F.count(F.lit(1))).alias("hhi_floor"),
    )


def copurchase_edges(li: DataFrame, min_support: int = 2) -> DataFrame:
    """The part co-purchase graph's edge list (src < dst): part pairs
    bought together in at least ``min_support`` distinct orders. The
    default 2 is the repeat layer, the sparse signal-bearing graph the
    k-core/LPA/BFS/WL/link-prediction rows analyze (the same guard
    posture as x_association_rules: never the raw quadratic basket
    explode at scale). Lazy: a row that reads it more than once
    materializes it."""
    bk = li.select("l_orderkey", "l_partkey").distinct()
    a = bk.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("src"))
    b = bk.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("dst"))
    return (
        a.join(b, "k")
        .filter(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_support)
        .select("src", "dst")
    )


def _kcore_oracle(k: int, rounds: int) -> str:
    """Unrolled peeling twin for graph.k_core's capped-round contract:
    exactly ``rounds`` degree-filter-semijoin blocks, then the converged
    flag as e_N == e_{N-1} (counts suffice: peeling only removes edges).
    Mechanically generated so the round count stays in lockstep with the
    registered query's max_rounds."""
    parts = [
        """
    WITH bk AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e0 AS MATERIALIZED (
      SELECT a, b FROM (
        SELECT x.l_partkey AS a, y.l_partkey AS b, count(*) AS n
        FROM bk x JOIN bk y
          ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        GROUP BY 1, 2) WHERE n >= 2)"""
    ]
    for i in range(1, rounds + 1):
        parts.append(f""",
    k{i} AS MATERIALIZED (
      SELECT node FROM (
        SELECT node, count(*) AS d FROM (
          SELECT a AS node FROM e{i - 1}
          UNION ALL SELECT b FROM e{i - 1}) GROUP BY node)
      WHERE d >= {k}),
    e{i} AS MATERIALIZED (
      SELECT a, b FROM e{i - 1}
      WHERE a IN (SELECT node FROM k{i})
        AND b IN (SELECT node FROM k{i}))""")
    parts.append(f"""
    SELECT CAST(node AS BIGINT) AS node,
           CAST(count(*) AS BIGINT) AS core_degree,
           (SELECT count(*) FROM e{rounds})
             = (SELECT count(*) FROM e{rounds - 1}) AS converged
    FROM (SELECT a AS node FROM e{rounds}
          UNION ALL SELECT b FROM e{rounds})
    GROUP BY node ORDER BY node""")
    return "".join(parts)


@register("x_kcore_copurchase", oracle=_kcore_oracle(k=2, rounds=10))
def x_kcore_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the REPEAT co-purchase graph (edges = part pairs
    bought together in >= 2 orders — the sparse, signal-bearing layer
    of the basket graph): iterative peeling via graph.k_core with the
    capped-round contract (max_rounds=10; fixpoint measured at <= 6
    rounds across sf0.001/0.01/0.1, so converged=true rides along as a
    hash-checked invariant). The oracle unrolls exactly the cap, so
    even a graph needing more rounds keeps both engines on the same
    intermediate state — the flag flips false on BOTH sides instead of
    the results diverging. Per round: one degree agg + two node-keyed
    semi-joins; the support>=2 pre-filter is the same guard posture as
    x_association_rules (never the raw quadratic basket explode at
    scale)."""
    from ..operators.graph import k_core

    edges = copurchase_edges(load_table(spark, sf_dir, "lineitem"))
    kc = k_core(edges, k=2, max_rounds=10)
    return kc.select(
        F.col("node").cast("long").alias("node"),
        F.col("core_degree").cast("long").alias("core_degree"),
        "converged",
    ).orderBy("node")


def _lpa_ctes(rounds: int) -> str:
    """Shared WITH-block prefix for the unrolled synchronous-LPA twins
    (label query below; modularity in curation_q): R neighbor-vote
    blocks (count + min-tie-break argmax), MATERIALIZED so DuckDB
    doesn't inline each round's CTE into the next exponentially.
    Exposes CTEs ``ed`` (the support>=2 co-purchase edges) and
    ``l{rounds}`` (node -> final label)."""
    parts = [
        """
    WITH bk AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    ed AS MATERIALIZED (
      SELECT a, b FROM (
        SELECT x.l_partkey AS a, y.l_partkey AS b, count(*) AS n
        FROM bk x JOIN bk y
          ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        GROUP BY 1, 2) WHERE n >= 2),
    l0 AS MATERIALIZED (
      SELECT node, node AS lbl FROM (
        SELECT a AS node FROM ed UNION SELECT b FROM ed))"""
    ]
    for i in range(1, rounds + 1):
        parts.append(f""",
    nbr{i} AS (
      SELECT e.a AS node, l.lbl FROM ed e JOIN l{i - 1} l ON l.node = e.b
      UNION ALL
      SELECT e.b, l.lbl FROM ed e JOIN l{i - 1} l ON l.node = e.a),
    cnt{i} AS (
      SELECT node, lbl, count(*) AS c FROM nbr{i} GROUP BY node, lbl),
    l{i} AS MATERIALIZED (
      SELECT node, lbl FROM (
        SELECT node, lbl,
               row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rn
        FROM cnt{i}) WHERE rn = 1)""")
    return "".join(parts)


def _lpa_oracle(rounds: int) -> str:
    return (
        _lpa_ctes(rounds)
        + f"""
    SELECT CAST(node AS BIGINT) AS node,
           CAST(lbl AS BIGINT) AS community,
           CAST(count(*) OVER (PARTITION BY lbl) AS BIGINT) AS community_size
    FROM l{rounds} ORDER BY node"""
    )


@register("x_label_propagation_communities", oracle=_lpa_oracle(rounds=4))
def x_label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the repeat co-purchase graph via
    synchronous label propagation (graph.label_propagation, 4 fixed
    rounds, smallest-label tie-break — the deterministic fixed-round
    contract; see the operator docstring for why not
    iterate-to-stability). Communities group parts that repeatedly
    sell together — the graph complement of x_association_rules'
    pairwise lifts. Oracle unrolls the identical 4 synchronous rounds.
    Per round: node-keyed joins + (node,label) count + argmax window —
    co-partitioned on a cluster; the ≥2-support edge filter keeps the
    graph the sparse signal-bearing layer, as in x_kcore_copurchase."""
    from ..operators.graph import label_propagation

    edges = copurchase_edges(load_table(spark, sf_dir, "lineitem"))
    com = label_propagation(edges, rounds=4)
    return com.select(
        F.col("node").cast("long").alias("node"),
        F.col("community").cast("long").alias("community"),
        F.count(F.lit(1))
        .over(Window.partitionBy("community"))
        .cast("long")
        .alias("community_size"),
    ).orderBy("node")


@register(
    "x_adamic_adar_links",
    oracle="""
    WITH bk AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS MATERIALIZED (
      SELECT a, b FROM (
        SELECT x.l_partkey AS a, y.l_partkey AS b, count(*) AS n
        FROM bk x JOIN bk y
          ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        GROUP BY 1, 2) WHERE n >= 2),
    adj AS MATERIALIZED (
      SELECT a AS z, b AS x FROM e UNION ALL SELECT b, a FROM e),
    ctr AS (
      SELECT z, 1.0 / ln(d) AS w FROM (
        SELECT z, count(*) AS d FROM adj GROUP BY z)
      WHERE d >= 2 AND d <= 64),
    wadj AS (SELECT adj.z, adj.x, ctr.w FROM adj JOIN ctr USING (z)),
    pairs AS (
      SELECT l.x AS a, r.x AS b,
             CAST(count(*) AS BIGINT) AS common_neighbors,
             sum(l.w) AS s
      FROM wadj l JOIN wadj r ON l.z = r.z AND l.x < r.x
      GROUP BY 1, 2),
    cand AS (
      SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
             common_neighbors,
             floor(s * 1000000 + 0.5) / 1000000 AS score
      FROM pairs p
      WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = p.a AND e.b = p.b))
    SELECT * FROM cand ORDER BY score DESC, a, b LIMIT 50
    """,
)
def x_adamic_adar_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the repeat co-purchase graph: top-50 predicted
    edges by Adamic–Adar score (Σ 1/ln(deg) over common neighbors,
    non-adjacent pairs only) — "parts these two parts will co-sell
    with", the classic neighborhood-overlap recommender signal. Uses
    graph.adamic_adar with its definitional center-degree cap (64):
    hubs contribute ~0 weight but O(Δ²) wedge pairs, so the cap is part
    of the score's semantics on both engines, not an approximation.
    Ordering is on the q6-quantized score (ties → node ids) so the
    top-50 cut selects identical rows on both engines."""
    from ..operators.graph import adamic_adar

    edges = copurchase_edges(load_table(spark, sf_dir, "lineitem"))
    aa = adamic_adar(edges, center_deg_cap=64)
    return (
        aa.select(
            F.col("a").cast("long").alias("a"),
            F.col("b").cast("long").alias("b"),
            "common_neighbors",
            _q6(F.col("score")).alias("score"),
        )
        .orderBy(F.desc("score"), "a", "b")
        .limit(50)
    )


def _hits_oracle(iters: int = 4) -> str:
    """Unrolled HITS twin for graph.hits' fixed-iteration contract:
    per iteration a RAW authority block (hub-score join grouped on
    dst) and a raw hub block (authority-score join grouped on src),
    MATERIALIZED per step like the pagerank and LPA oracles, with the
    single sum-normalization at the output — mirroring the operator's
    end-normalization (identical result, exact-integer early
    iterations)."""
    parts = [
        """
    WITH e AS MATERIALIZED (
      SELECT DISTINCT -o.o_custkey AS src, l.l_suppkey AS dst
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
    h0 AS MATERIALIZED (
      SELECT node, 1.0 AS s FROM (
        SELECT src AS node FROM e UNION SELECT dst FROM e))"""
    ]
    for i in range(1, iters + 1):
        parts.append(f""",
    a{i} AS MATERIALIZED (
      SELECT e.dst AS node, sum(h{i - 1}.s) AS s
      FROM e JOIN h{i - 1} ON h{i - 1}.node = e.src GROUP BY e.dst),
    h{i} AS MATERIALIZED (
      SELECT e.src AS node, sum(a{i}.s) AS s
      FROM e JOIN a{i} ON a{i}.node = e.dst GROUP BY e.src)""")
    parts.append(f"""
    SELECT CAST(node AS BIGINT) AS suppkey,
           round(s / (SELECT sum(s) FROM a{iters}), 8) AS authority
    FROM a{iters} WHERE node > 0
    ORDER BY round(s / (SELECT sum(s) FROM a{iters}), 8) DESC, suppkey
    LIMIT 20""")
    return "".join(parts)


@register("x_hits_suppliers", oracle=_hits_oracle(iters=4))
def x_hits_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier authority via HITS on the customer→supplier purchase
    graph (the pagerank queries' edge set: good customers are hubs,
    widely-bought-from suppliers are authorities — the mutually-
    reinforcing flavor PageRank's single score can't express). Fixed 4
    sum-normalized iterations (graph.hits), hash-checked against the
    unrolled SQL twin with ranks rounded to 8 decimals — power
    iteration contracts, so cross-engine float jitter never reaches
    the 8th decimal (the pagerank precedent). Customer ids negated for
    key-space disambiguation, collision-free at any SF; top-20 cut on
    the ROUNDED score with suppkey tiebreak."""
    from ..operators.graph import hits

    edges = _purchase_edges(spark, sf_dir)
    hs = hits(edges, iters=4)
    return (
        hs.filter(F.col("node") > 0)
        .select(
            F.col("node").cast("long").alias("suppkey"),
            F.round("authority", 8).alias("authority"),
        )
        .orderBy(F.desc("authority"), "suppkey")
        .limit(20)
    )


@register("x_hits_bucketed_edges", oracle=_hits_oracle(iters=4))
def x_hits_bucketed_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same supplier HITS served from the SHARED src-bucketed edge
    table (VERDICT r7 #3 — the x_pagerank_bucketed_edges layout,
    amortized across BOTH iterative consumers, which is the point of
    pay-at-ingest): the bucketed scan feeds
    hits(pre_partitioned=True), so the src edge copy materializes with
    ZERO exchanges (the bucket hash clusters the (src,dst) distinct
    too) and the persisted copies keep both per-iteration edge sides
    exchange-free (the dst twin is built once from the cached src copy;
    runtime exchanges 5 → 3 per iteration, asserted via the
    plan_id-deduped observables in tests/test_graph.py). Identical
    scores to x_hits_suppliers — same unrolled-SQL oracle. The same
    local/cluster inversion note as the pagerank twin applies: locally
    the cached columnar decode costs more than spilled-disk shuffles;
    on a cluster each saved exchange is |E| over the network per
    iteration."""
    from ..operators.graph import hits

    table = _bucketed_purchase_edges(spark, sf_dir)
    hs = hits(spark.table(table), iters=4, pre_partitioned=True)
    return (
        hs.filter(F.col("node") > 0)
        .select(
            F.col("node").cast("long").alias("suppkey"),
            F.round("authority", 8).alias("authority"),
        )
        .orderBy(F.desc("authority"), "suppkey")
        .limit(20)
    )


@register(
    "x_degree_assortativity",
    oracle="""
    WITH bk AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS MATERIALIZED (
      SELECT a, b FROM (
        SELECT x.l_partkey AS a, y.l_partkey AS b, count(*) AS n
        FROM bk x JOIN bk y
          ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        GROUP BY 1, 2) WHERE n >= 2),
    deg AS (
      SELECT node, count(*) AS d FROM (
        SELECT a AS node FROM e UNION ALL SELECT b FROM e) GROUP BY node),
    s AS (
      SELECT count(*) AS m,
             sum(da.d + db.d)             AS sx,
             2 * sum(da.d * db.d)         AS sxy,
             sum(da.d * da.d + db.d * db.d) AS sxx
      FROM e JOIN deg da ON da.node = e.a
             JOIN deg db ON db.node = e.b)
    SELECT CAST(m AS BIGINT) AS n_edges,
           floor(CAST(2 * m * sxy - sx * sx AS DOUBLE)
                 / nullif(CAST(2 * m * sxx - sx * sx AS DOUBLE), 0.0)
                 * 1000000 + 0.5) / 1000000 AS assortativity
    FROM s
    """,
)
def x_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the repeat co-purchase graph: the
    Pearson correlation of endpoint degrees across edges (Newman 2002)
    — positive means hubs buy with hubs (assortative mixing), negative
    means hub-and-spoke structure. The discriminator between social-ish
    and infrastructure-ish graph shapes, as a single scalar.

    Determinism/scale: the symmetric doubled-edge formulation collapses
    to Σx=Σy and Σx²=Σy², so r = (n·Σxy − (Σx)²) / (n·Σx² − (Σx)²)
    with EVERY distributed aggregate an integer (degree products) —
    order-independent, hash-stable; the only float math is one final
    1-row expression (the x_graph_modularity discipline). Plan: degree
    agg + two node-keyed degree joins on the edge list + one global
    integer agg; nothing quadratic. Σ(d_a·d_b) overflows BIGINT only
    past ~3e9 summed degree products per edge set — the decimal(38)
    variant applies before that. Denominator 0 (regular graph) yields
    NULL rather than a division error on both engines."""
    from ..operators.graph import degree_assortativity

    # one materialization for the degree agg + the degree join
    edges = materialize(copurchase_edges(load_table(spark, sf_dir, "lineitem")))
    r = degree_assortativity(edges)
    return r.select(
        "n_edges", _q6(F.col("assortativity")).alias("assortativity")
    )


def _bfs_oracle(rounds: int) -> str:
    """Unrolled multi-source BFS twin for x_bfs_hops_copurchase:
    ``rounds`` frontier-expansion blocks over the support>=2
    co-purchase graph, seeds = the 5 smallest node ids. MATERIALIZED
    CTEs keep DuckDB from re-inlining each round into the next."""
    parts = [
        """
    WITH bk AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    ed AS MATERIALIZED (
      SELECT a, b FROM (
        SELECT x.l_partkey AS a, y.l_partkey AS b, count(*) AS n
        FROM bk x JOIN bk y
          ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        GROUP BY 1, 2) WHERE n >= 2),
    und AS MATERIALIZED (SELECT a, b FROM ed UNION SELECT b, a FROM ed),
    sd AS MATERIALIZED (SELECT DISTINCT a AS node FROM und ORDER BY node LIMIT 5),
    d0 AS MATERIALIZED (SELECT node, 0 AS hops FROM sd),
    f0 AS MATERIALIZED (SELECT node FROM sd)"""
    ]
    for i in range(1, rounds + 1):
        parts.append(f""",
    f{i} AS MATERIALIZED (
      SELECT DISTINCT u.b AS node
      FROM f{i - 1} f JOIN und u ON u.a = f.node
      WHERE u.b NOT IN (SELECT node FROM d{i - 1})),
    d{i} AS MATERIALIZED (
      SELECT node, hops FROM d{i - 1}
      UNION ALL SELECT node, {i} AS hops FROM f{i})""")
    parts.append(f"""
    SELECT CAST(node AS BIGINT) AS node,
           CAST(hops AS BIGINT) AS hops,
           (SELECT count(*) = 0 FROM f{rounds}) AS converged
    FROM d{rounds} ORDER BY node""")
    return "".join(parts)


@register("x_bfs_hops_copurchase", oracle=_bfs_oracle(rounds=4))
def x_bfs_hops_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distance on the repeat co-purchase graph
    (graph.bfs_hops, capped at 4 rounds): how many co-purchase hops
    separate every part from the 5 lowest-id seed parts — the
    neighborhood-radius / blast-radius primitive behind "related
    products within k hops" and contagion-style reach analyses, and
    the path-distance capability the graph family (pagerank/triangles/
    k-core/LPA/HITS) did not yet cover. Capped-round contract as
    everywhere in the family: the oracle unrolls exactly 4 frontier
    expansions, converged rides along hash-checked (true iff the
    4th-round frontier is empty), so a longer-diameter graph keeps
    both engines on the same partial distance map instead of
    diverging. Per round: one frontier-sized node-keyed join + one
    anti-join against the settled set; the support>=2 pre-filter keeps
    the graph the sparse signal-bearing layer, as in
    x_kcore_copurchase."""
    from ..operators.graph import bfs_hops

    # materialized once: the seeds and the BFS edge set both read it
    edges = materialize(copurchase_edges(load_table(spark, sf_dir, "lineitem")))
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    seeds = nodes.orderBy("node").limit(5)
    d = bfs_hops(edges, seeds, max_rounds=4)
    return d.select(
        F.col("node").cast("long").alias("node"),
        F.col("hops").cast("long").alias("hops"),
        "converged",
    ).orderBy("node")


@register(
    "x_centroid_cosine_matrix",
    oracle="""
    WITH c AS (
      SELECT label, pos,
             floor(avg(v) * 1000000 + 0.5) / 1000000 AS cv
      FROM (
        SELECT label,
               unnest(embedding::DOUBLE[]) AS v,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings
      ) t
      GROUP BY label, pos
    )
    SELECT CAST(a.label AS INTEGER) AS label_a,
           CAST(b.label AS INTEGER) AS label_b,
           floor(sum(a.cv * b.cv)
                 / sqrt(sum(a.cv * a.cv) * sum(b.cv * b.cv))
                 * 1000000 + 0.5) / 1000000 AS cosine
    FROM c a JOIN c b ON a.pos = b.pos AND a.label < b.label
    GROUP BY a.label, b.label
    ORDER BY label_a, label_b
    """,
)
def x_centroid_cosine_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine similarity between per-class embedding
    centroids — the class-redundancy / source-overlap diagnostic read
    after clustering (two classes whose prototypes sit at cosine ≈ 1
    are candidates for merging; SemDeDup runs within-cluster for
    exactly this reason). Builds on x_embedding_centroids' zero-UDF
    fold: posexplode → ONE (label, dim)-keyed partial-avg shuffle, the
    only stage that sees the corpus; the pairwise stage runs on the
    labels × dims centroid frame (tiny, broadcastable) with labels²/2
    pairs — at 100 TB the matrix cost is independent of row count.

    Numeric discipline: centroid components are q6-quantized BEFORE
    the dot products (group-avg order differs between engines; both
    sides must multiply identical doubles), and the cosine — an
    order-sensitive sum over dims — is q6'd."""
    from ..operators.numeric import q6

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    cent = (
        emb.select("label", F.posexplode("embedding").alias("pos0", "v"))
        .groupBy("label", F.col("pos0").alias("pos"))
        .agg(q6(F.avg("v")).alias("cv"))
    )
    a = cent.select(
        F.col("label").alias("label_a"), "pos", F.col("cv").alias("ca")
    )
    b = cent.select(
        F.col("label").alias("label_b"), "pos", F.col("cv").alias("cb")
    )
    return (
        a.join(b, "pos")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            q6(
                F.sum(F.col("ca") * F.col("cb"))
                / F.sqrt(
                    F.sum(F.col("ca") * F.col("ca"))
                    * F.sum(F.col("cb") * F.col("cb"))
                )
            ).alias("cosine")
        )
        .withColumn("label_a", F.col("label_a").cast("int"))
        .withColumn("label_b", F.col("label_b").cast("int"))
        .orderBy("label_a", "label_b")
    )


def _wl_oracle(rounds: int) -> str:
    """Unrolled Weisfeiler–Leman twin for x_wl_refinement_copurchase:
    degree init + ``rounds`` md5-canonical refinement blocks over the
    support>=2 co-purchase graph."""
    parts = [
        """
    WITH bk AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    ed AS MATERIALIZED (
      SELECT a, b FROM (
        SELECT x.l_partkey AS a, y.l_partkey AS b, count(*) AS n
        FROM bk x JOIN bk y
          ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        GROUP BY 1, 2) WHERE n >= 2),
    und AS MATERIALIZED (SELECT a, b FROM ed UNION SELECT b, a FROM ed),
    l0 AS MATERIALIZED (
      SELECT a AS node, CAST(count(*) AS VARCHAR) AS lbl
      FROM und GROUP BY a)"""
    ]
    for i in range(1, rounds + 1):
        parts.append(f""",
    n{i} AS (
      SELECT u.a AS node, string_agg(l.lbl, ',' ORDER BY l.lbl) AS ns
      FROM und u JOIN l{i - 1} l ON l.node = u.b
      GROUP BY u.a),
    l{i} AS MATERIALIZED (
      SELECT l.node, md5(l.lbl || '|' || n.ns) AS lbl
      FROM l{i - 1} l JOIN n{i} n ON n.node = l.node)""")
    parts.append(f"""
    SELECT CAST(node AS BIGINT) AS node, lbl AS wl_label,
           CAST(count(*) OVER (PARTITION BY lbl) AS BIGINT) AS class_size
    FROM l{rounds} ORDER BY node""")
    return "".join(parts)


@register("x_wl_refinement_copurchase", oracle=_wl_oracle(rounds=2))
def x_wl_refinement_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-round Weisfeiler–Leman refinement of the repeat co-purchase
    graph (graph.wl_refinement): each part's label encodes its 2-hop
    neighborhood structure, and class_size counts its structural
    equivalence class — the graph-kernel feature / structural-dedup
    primitive next to the role the embedding fingerprints play for
    text. Same capped-round, oracle-unrolled contract as
    k-core/LPA/BFS; md5-canonical strings with lexicographically
    sorted neighbor multisets make every step bit-portable across
    engines. Per round: one |2E| node-keyed join + one string fold —
    co-partitioned at scale; the support>=2 pre-filter keeps the
    graph the sparse signal-bearing layer."""
    from ..operators.graph import wl_refinement

    edges = copurchase_edges(load_table(spark, sf_dir, "lineitem"))
    labels = wl_refinement(edges, rounds=2)
    w = Window.partitionBy("wl_label")
    return (
        labels.select(
            F.col("node").cast("long").alias("node"),
            F.col("lbl").alias("wl_label"),
        )
        .withColumn("class_size", F.count(F.lit(1)).over(w).cast("long"))
        .orderBy("node")
    )


@register(
    "x_jaccard_links",
    oracle="""
    WITH bk AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS MATERIALIZED (
      SELECT a, b FROM (
        SELECT x.l_partkey AS a, y.l_partkey AS b, count(*) AS n
        FROM bk x JOIN bk y
          ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        GROUP BY 1, 2) WHERE n >= 2),
    adj AS MATERIALIZED (
      SELECT a AS z, b AS x FROM e UNION ALL SELECT b, a FROM e),
    deg AS MATERIALIZED (
      SELECT z, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY z),
    ctr AS (SELECT z FROM deg WHERE d >= 2 AND d <= 64),
    wadj AS (SELECT adj.z, adj.x FROM adj JOIN ctr USING (z)),
    pairs AS (
      SELECT l.x AS a, r.x AS b, CAST(count(*) AS BIGINT) AS cn
      FROM wadj l JOIN wadj r ON l.z = r.z AND l.x < r.x
      GROUP BY 1, 2),
    cand AS (
      SELECT p.a, p.b, p.cn, da.d AS dda, db.d AS ddb
      FROM pairs p JOIN deg da ON da.z = p.a JOIN deg db ON db.z = p.b
      WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = p.a AND e.b = p.b))
    SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
           cn AS common_neighbors,
           cn * 1.0 / (dda + ddb - cn) AS score
    FROM cand
    ORDER BY score DESC, a, b LIMIT 50
    """,
)
def x_jaccard_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard-coefficient link prediction on the repeat co-purchase
    graph — the normalized-overlap companion to x_adamic_adar_links
    (Jaccard divides the common-neighbor count by the neighborhood
    UNION, so two low-degree parts with one shared neighbor can outrank
    a hub pair Adamic–Adar favors). Same capped-wedge machinery
    (graph.jaccard_links, center cap 64 is definitional on both
    engines); endpoint degrees are uncapped truth. The score is ONE
    exact integer division, so — unlike the log-weight sum — it is
    hash-exact UNQUANTIZED, and the top-50 cut orders identical
    doubles."""
    from ..operators.graph import jaccard_links

    edges = copurchase_edges(load_table(spark, sf_dir, "lineitem"))
    jl = jaccard_links(edges, center_deg_cap=64)
    return (
        jl.select(
            F.col("a").cast("long").alias("a"),
            F.col("b").cast("long").alias("b"),
            "common_neighbors",
            "score",
        )
        .orderBy(F.desc("score"), "a", "b")
        .limit(50)
    )


@register(
    "x_degree_distribution",
    oracle="""
    WITH bk AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a, b FROM (
        SELECT x.l_partkey AS a, y.l_partkey AS b, count(*) AS n
        FROM bk x JOIN bk y
          ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        GROUP BY 1, 2) WHERE n >= 2),
    adj AS (SELECT a AS z FROM e UNION ALL SELECT b FROM e),
    deg AS (SELECT z, count(*) AS degree FROM adj GROUP BY z)
    SELECT CAST(degree AS BIGINT) AS degree,
           CAST(count(*) AS BIGINT) AS n_nodes
    FROM deg GROUP BY degree
    ORDER BY degree
    """,
)
def x_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the repeat co-purchase graph — the first
    diagnostic run on any production graph, and the number that decides
    whether the hub-skew mitigations the smoke suite measures (AQE
    split for |V|-sized dims, broadcast for frontier-sized ones) are
    needed at all: a heavy tail here is the trigger. Exact integers
    end to end; two node-keyed aggregations past the edge build
    (graph.degree_distribution)."""
    from ..operators.graph import degree_distribution

    edges = copurchase_edges(load_table(spark, sf_dir, "lineitem"))
    return degree_distribution(edges).orderBy("degree")


@register(
    "x_incremental_rollup_refresh",
    oracle="""
    WITH c AS (
      SELECT CAST(max(CAST(o_orderdate AS DATE)) - INTERVAL 30 DAY AS DATE)
        AS cutoff
      FROM orders
    ), full_r AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n_orders,
             floor(sum(o_totalprice) * 1000000 + 0.5) / 1000000 AS revenue
      FROM orders GROUP BY 1
    )
    SELECT f.day, f.n_orders, f.revenue,
           CASE WHEN f.day > (SELECT cutoff FROM c)
                THEN 'inserted' ELSE 'kept' END AS merge_action
    FROM full_r f ORDER BY f.day
    """,
)
def x_incremental_rollup_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-rollup refresh — the lakehouse pattern
    that makes a 100 TB daily rollup affordable: the existing rollup
    (here: the per-day aggregate over days at or before a watermark 30
    days behind the max) is NOT recomputed; only days PAST the
    watermark aggregate from the fact scan (in production a
    date-partitioned layout makes that a partition-pruned read of just
    the new days) and MERGE into the rollup
    (relational.merge_upsert, with_action=True). The hash-checked
    contract is the one that matters for trusting incremental views:
    the merged table equals the FULL recompute row-for-row — which is
    exactly what the oracle computes — and the merge_action column
    proves only watermark-new days were written ('inserted'; every
    older day is 'kept', i.e. untouched).

    Determinism: a calendar day lies entirely on one side of the
    watermark, so each side's per-day sum sees the full day's rows and
    the q6'd revenue matches the full recompute exactly; counts are
    integers; the watermark is one scalar aggregate."""
    from ..operators.relational import merge_upsert

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderdate").cast("date").alias("day"), "o_totalprice"
    )
    cutoff = o.agg(F.date_sub(F.max("day"), 30).alias("c")).collect()[0]["c"]

    def rollup(df):
        return df.groupBy("day").agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            _q6(F.sum("o_totalprice")).alias("revenue"),
        )

    target = rollup(o.filter(F.col("day") <= F.lit(cutoff)))
    updates = rollup(o.filter(F.col("day") > F.lit(cutoff)))
    merged = merge_upsert(target, updates, keys=["day"], with_action=True)
    return merged.select("day", "n_orders", "revenue", "merge_action").orderBy("day")


def _katz_oracle(iters: int = 4, alpha_inv: int = 20) -> str:
    """Unrolled truncated-Katz twin of operators/graph.katz_centrality
    on the symmetrized part co-purchase graph. Walk counts are pure
    int64 per round (order-independent — no MATERIALIZED float state to
    jitter); the final α-weighted combine is a fixed chain of exact-
    integer divisions, so an 8-decimal quantize is cosmetic, not
    load-bearing."""
    sql = """
    WITH e0 AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), e AS MATERIALIZED (
      SELECT a AS src, b AS dst FROM e0
      UNION ALL
      SELECT b AS src, a AS dst FROM e0
    ), nodes AS (
      SELECT DISTINCT src AS node FROM e
    ), w1 AS MATERIALIZED (
      SELECT dst AS node, CAST(count(*) AS BIGINT) AS w FROM e GROUP BY 1
    )"""
    for k in range(2, iters + 1):
        sql += f""", w{k} AS MATERIALIZED (
      SELECT e.dst AS node, CAST(sum(s.w) AS BIGINT) AS w
      FROM e JOIN w{k - 1} s ON e.src = s.node GROUP BY 1
    )"""
    terms = " + ".join(
        f"coalesce(w{k}.w, 0) / {float(alpha_inv ** k)!r}" for k in range(1, iters + 1)
    )
    joins = "".join(f" LEFT JOIN w{k} USING (node)" for k in range(1, iters + 1))
    sql += f"""
    SELECT CAST(node AS BIGINT) AS partkey,
           floor(({terms}) * 100000000 + 0.5) / 100000000 AS katz
    FROM nodes{joins}
    ORDER BY katz DESC, partkey LIMIT 25
    """
    return sql


@register("x_katz_copurchase", oracle=_katz_oracle(iters=4, alpha_inv=20))
def x_katz_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated Katz centrality (α = 1/20, 4 walk lengths) on the
    symmetrized part co-purchase graph — the path-weighted influence
    score between degree (k=1 only) and PageRank (infinite-walk
    stationary): a part matters more when reachable through MANY short
    co-purchase chains. Completes the centrality family (degree /
    PageRank / HITS / Katz).

    The one iterative centrality the driver can hash-check EXACTLY:
    graph.katz_centrality iterates integer walk counts (no float state
    between rounds — see the operator's exact-integer-iteration
    docstring), so both engines agree to the bit before the final
    fixed-chain α-combine. Top-25 cut on the 8-decimal-quantized score
    with partkey tiebreak, the pagerank convention. Per-iteration cost
    is pagerank's exchange shape (|E| join + dst-keyed agg, int64
    payloads); the per-order pair explode is bounded by TPC-H's ≤7
    lines per order, same guard note as x_triangle_copurchase."""
    from ..operators.graph import katz_centrality

    half = copurchase_edges(load_table(spark, sf_dir, "lineitem"), min_support=1)
    edges = half.unionByName(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    kz = katz_centrality(edges, iters=4, alpha_inv=20)
    return (
        kz.select(
            F.col("node").cast("long").alias("partkey"),
            (F.floor(F.col("katz") * 100000000 + F.lit(0.5)) / 100000000).alias("katz"),
        )
        .orderBy(F.desc("katz"), "partkey")
        .limit(25)
    )


@register(
    "j_bloom_prefilter_orders",
    oracle="""
    WITH dim AS (
      SELECT DISTINCT c_custkey AS k FROM customer
      WHERE c_mktsegment = 'BUILDING'
    ), js AS (
      SELECT unnest(range(1, 4)) AS j
    ), bits AS (
      SELECT DISTINCT ('0x' || substring(md5(CAST(j AS VARCHAR) || ':'
               || CAST(k AS VARCHAR)), 1, 8))::BIGINT % 131072 AS bit
      FROM dim CROSS JOIN js
    ), keys AS (
      SELECT DISTINCT o_custkey AS k FROM orders
    ), probed AS (
      SELECT keys.k,
             CAST(sum(CASE WHEN b.bit IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS hits
      FROM keys CROSS JOIN js
      LEFT JOIN bits b
        ON b.bit = ('0x' || substring(md5(CAST(js.j AS VARCHAR) || ':'
                      || CAST(keys.k AS VARCHAR)), 1, 8))::BIGINT % 131072
      GROUP BY 1
    ), pass AS (
      SELECT k FROM probed WHERE hits = 3
    ), nums AS (
      SELECT
        (SELECT CAST(count(*) AS BIGINT) FROM dim) AS n_member_keys,
        (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_rows,
        (SELECT CAST(count(*) AS BIGINT) FROM orders o JOIN dim d ON d.k = o.o_custkey)
          AS n_true_rows,
        (SELECT CAST(count(*) AS BIGINT) FROM orders o JOIN pass p ON p.k = o.o_custkey)
          AS n_candidate_rows,
        (SELECT CAST(count(*) AS BIGINT) FROM dim d LEFT JOIN pass p ON p.k = d.k
         WHERE p.k IS NULL) AS n_false_negative_keys
    )
    SELECT n_member_keys, n_rows, n_true_rows, n_candidate_rows,
           n_false_negative_keys,
           (n_candidate_rows - n_true_rows) * 1.0
             / nullif(n_rows - n_true_rows, 0) AS fp_row_rate
    FROM nums
    """,
)
def j_bloom_prefilter_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join pruning, fully replayed: a 2¹⁷-bit /
    3-hash (md5-derived, engine-invariant) Bloom filter built from the
    BUILDING-segment customer keys pre-filters the orders fact table
    before any shuffle join — the map-side runtime-filter pattern that
    at 100 TB deletes ~¾ of the fact-side shuffle for a ¼-selective
    dim (Spark's own runtime bloom does this opaquely;
    spark.sql.optimizer.runtime.bloomFilter — this query makes the
    mechanics measurable). Output is the filter's measured contract:
    ZERO false-negative keys (the Bloom guarantee — a hash-membership
    identity, not luck) and the exact false-positive row rate
    (load factor ≈ 3·|keys|/2¹⁷ keeps it ≈0 here; the m/k trade is the
    knob). Probing runs on DISTINCT keys (dim-cardinality, not
    fact-cardinality) against the broadcast bit set; every count is an
    exact integer, so the whole audit hash-checks with no margins."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    dim = (
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("k"))
        .distinct()
    )
    three = F.array(F.lit(1), F.lit(2), F.lit(3))

    def bloom_bit(j_col, k_col):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(j_col.cast("string"), F.lit(":"), k_col.cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % 131072
        )

    bits = (
        dim.select(F.explode(three).alias("j"), "k")
        .select(bloom_bit(F.col("j"), F.col("k")).alias("bit"))
        .distinct()
    )
    keys = orders.select(F.col("o_custkey").alias("k")).distinct()
    probed = (
        keys.select("k", F.explode(three).alias("j"))
        .withColumn("bit", bloom_bit(F.col("j"), F.col("k")))
        .join(F.broadcast(bits.withColumnRenamed("bit", "hit_bit")),
              F.col("bit") == F.col("hit_bit"), "left")
        .groupBy("k")
        .agg(
            F.sum(F.when(F.col("hit_bit").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("hits")
        )
    )
    pass_keys = probed.filter(F.col("hits") == 3).select("k")
    n_member_keys = dim.count()
    n_rows = orders.count()
    n_true = orders.join(F.broadcast(dim), orders["o_custkey"] == dim["k"], "left_semi").count()
    n_cand = orders.join(
        F.broadcast(pass_keys), orders["o_custkey"] == pass_keys["k"], "left_semi"
    ).count()
    n_fn = dim.join(F.broadcast(pass_keys), "k", "left_anti").count()
    row = [(n_member_keys, n_rows, n_true, n_cand, n_fn)]
    out = spark.createDataFrame(
        row,
        "n_member_keys long, n_rows long, n_true_rows long, "
        "n_candidate_rows long, n_false_negative_keys long",
    )
    return out.select(
        "*",
        (
            (F.col("n_candidate_rows") - F.col("n_true_rows"))
            * 1.0
            / F.nullif(F.col("n_rows") - F.col("n_true_rows"), F.lit(0))
        ).alias("fp_row_rate"),
    )


@register(
    "x_join_skew_diagnostics",
    oracle="""
    WITH c AS (
      SELECT l_partkey AS k, CAST(count(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY 1
    ), cc AS (
      SELECT cnt, CAST(count(*) AS BIGINT) AS freq FROM c GROUP BY 1
    ), cs AS (
      SELECT cnt, freq,
             CAST(sum(freq) OVER (ORDER BY cnt ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS BIGINT) AS cum
      FROM cc
    ), t AS (
      SELECT CAST(sum(freq) AS BIGINT) AS n_keys,
             CAST(sum(cnt * freq) AS BIGINT) AS total,
             CAST(max(cnt) AS BIGINT) AS max_cnt
      FROM cc
    ), p50 AS (
      SELECT min(cnt) AS v FROM cs CROSS JOIN t
      WHERE cum >= CAST(floor((t.n_keys + 1) / 2.0) AS BIGINT)
    ), p99 AS (
      SELECT min(cnt) AS v FROM cs CROSS JOIN t
      WHERE cum >= CAST(floor((99 * t.n_keys + 99) / 100.0) AS BIGINT)
    )
    SELECT t.n_keys, t.total, t.max_cnt,
           p50.v AS p50_cnt, p99.v AS p99_cnt,
           t.max_cnt * 1.0 * t.n_keys / t.total AS skew_ratio,
           t.max_cnt * 1.0 / t.total AS top1_share
    FROM t CROSS JOIN p50 CROSS JOIN p99
    """,
)
def x_join_skew_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew report for a prospective shuffle key (lineitem's
    partkey): key count, hottest-key multiplicity, p50/p99 per-key row
    counts, max/mean skew ratio and the hottest key's share — the
    numbers that DECIDE between a plain shuffle join, AQE skew
    splitting, and salting before the job runs (the engine's salted
    variants exist; this is the operator that tells you when to reach
    for them). Percentiles are exact order statistics computed on the
    count-of-counts frame (|distinct multiplicities| rows — hundreds,
    not keys), so after the one key-count shuffle everything is
    spine-sized; the spine window is the guarded bounded contract.
    All outputs are exact integers or single divisions of them — no
    rounding margins anywhere."""
    from ..operators.tswindow import spine_window

    li = load_table(spark, sf_dir, "lineitem")
    c = li.groupBy(F.col("l_partkey").alias("k")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    cc = c.groupBy("cnt").agg(F.count(F.lit(1)).cast("long").alias("freq"))
    cc, w_base = spine_window(cc, ["cnt"], max_rows=65536, label="skew-count-spine")
    w = w_base.rowsBetween(Window.unboundedPreceding, 0)
    cs = cc.select("cnt", "freq", F.sum("freq").over(w).cast("long").alias("cum"))
    t = cc.agg(
        F.sum("freq").cast("long").alias("n_keys"),
        F.sum(F.col("cnt") * F.col("freq")).cast("long").alias("total"),
        F.max("cnt").cast("long").alias("max_cnt"),
    )
    cs_t = cs.crossJoin(F.broadcast(t))
    p50 = cs_t.filter(
        F.col("cum") >= F.floor((F.col("n_keys") + 1) / 2.0).cast("long")
    ).agg(F.min("cnt").alias("v50"))
    p99 = cs_t.filter(
        F.col("cum") >= F.floor((99 * F.col("n_keys") + 99) / 100.0).cast("long")
    ).agg(F.min("cnt").alias("v99"))
    return (
        t.crossJoin(F.broadcast(p50))
        .crossJoin(F.broadcast(p99))
        .select(
            "n_keys",
            "total",
            "max_cnt",
            F.col("v50").alias("p50_cnt"),
            F.col("v99").alias("p99_cnt"),
            (F.col("max_cnt") * 1.0 * F.col("n_keys") / F.col("total")).alias(
                "skew_ratio"
            ),
            (F.col("max_cnt") * 1.0 / F.col("total")).alias("top1_share"),
        )
    )


def _pca_power_oracle(dim: int = 64, iters: int = 3) -> str:
    """Unrolled power-iteration twin of similarity.pca_power_topvec:
    per round the 64 component sums quantize at 1e-6 (the only
    order-sensitive reductions), then the norm is a left-to-right list
    fold (list_reduce with a prepended 0.0 accumulator — squares
    rounded element-wise first, additions in index order: the exact
    IEEE sequence Spark's F.aggregate(acc + x*x) produces), so state
    and output match bit-for-bit given equal quantized sums (the
    similarity-module dot/list_dot_product parity contract)."""
    sql = f"""
    WITH e AS MATERIALIZED (
      SELECT embedding::DOUBLE[] AS emb FROM embeddings
    ), v0 AS (
      SELECT list_transform(range(1, {dim + 1}), x -> CAST(1.0 AS DOUBLE)) AS v
    )"""
    prev = "v0"
    for k in range(1, iters + 1):
        sql += f""", d{k} AS MATERIALIZED (
      SELECT list_dot_product(emb, (SELECT v FROM {prev})) AS d, emb FROM e
    ), r{k} AS MATERIALIZED (
      SELECT j, floor(sum(d * emb[j]) * 1000000 + 0.5) / 1000000 AS raw
      FROM d{k}, unnest(generate_series(1, {dim})) AS t(j) GROUP BY j
    ), w{k} AS (
      SELECT list(raw ORDER BY j) AS rawv FROM r{k}
    ), n{k} AS (
      SELECT sqrt(list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                            list_transform(rawv, y -> y * y)),
               (acc, y) -> acc + y)) AS nrm
      FROM w{k}
    ), v{k} AS (
      SELECT list_transform(w{k}.rawv, x -> x / n{k}.nrm) AS v
      FROM w{k}, n{k}
    )"""
        prev = f"v{k}"
    sql += f"""
    SELECT CAST(r{iters}.j AS BIGINT) AS component,
           r{iters}.raw / n{iters}.nrm AS loading,
           n{iters}.nrm AS eigenvalue
    FROM r{iters}, n{iters}
    ORDER BY component
    """
    return sql


@register("x_pca_power_iteration", oracle=_pca_power_oracle(dim=64, iters=3))
def x_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction + eigenvalue of the embedding
    second-moment matrix via Gram-free power iteration — the embedding
    diagnostics step (dominant direction, anisotropy check, whitening
    seed) between the centroid queries and the ANN index builds. See
    operators/similarity.pca_power_topvec for the plan and the
    quantized-state determinism contract; the oracle unrolls the same
    three rounds in SQL."""
    from ..operators.similarity import pca_power_topvec

    emb = load_table(spark, sf_dir, "embeddings")
    return pca_power_topvec(emb, "embedding", dim=64, iters=3).orderBy("component")


# --- Fellegi-Sunter probabilistic record linkage ------------------------
# Agreement/disagreement weights per comparison field — pinned config
# literals in log-odds spirit (a production linker estimates m/u via EM;
# the scoring/blocking machinery is identical, these constants are the
# swap point). Thresholds: score >= 6 -> match, >= 1 -> possible.
_FS_WEIGHTS = {
    "adj": (3.5, -1.5),
    "type": (2.0, -1.0),
    "brand": (2.5, -0.8),
    "size": (1.5, -0.7),
}
_FS_MATCH, _FS_POSSIBLE = 6.0, 1.0


@register(
    "j_fellegi_sunter_parts",
    oracle=f"""
    WITH p AS (
      SELECT p_partkey, split_part(p_name, ' ', 1) AS adj,
             split_part(p_name, ' ', 2) AS noun,
             p_type, p_brand, p_size
      FROM part
    ), pairs AS (
      SELECT CASE WHEN a.adj = b.adj THEN {_FS_WEIGHTS["adj"][0]!r}
                  ELSE {_FS_WEIGHTS["adj"][1]!r} END
           + CASE WHEN a.p_type = b.p_type THEN {_FS_WEIGHTS["type"][0]!r}
                  ELSE {_FS_WEIGHTS["type"][1]!r} END
           + CASE WHEN a.p_brand = b.p_brand THEN {_FS_WEIGHTS["brand"][0]!r}
                  ELSE {_FS_WEIGHTS["brand"][1]!r} END
           + CASE WHEN abs(a.p_size - b.p_size) <= 2 THEN {_FS_WEIGHTS["size"][0]!r}
                  ELSE {_FS_WEIGHTS["size"][1]!r} END AS score
      FROM p a JOIN p b ON a.noun = b.noun AND a.p_partkey < b.p_partkey
    ), classed AS (
      SELECT CASE WHEN score >= {_FS_MATCH!r} THEN 'match'
                  WHEN score >= {_FS_POSSIBLE!r} THEN 'possible'
                  ELSE 'non_match' END AS link_class,
             score
      FROM pairs
    )
    SELECT link_class,
           CAST(count(*) AS BIGINT) AS n_pairs,
           floor((sum(score) / count(*)) * 1000000 + 0.5) / 1000000 AS avg_score,
           floor(min(score) * 1000000 + 0.5) / 1000000 AS min_score,
           floor(max(score) * 1000000 + 0.5) / 1000000 AS max_score
    FROM classed GROUP BY link_class ORDER BY link_class
    """,
)
def j_fellegi_sunter_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage (JASA 1969) over the
    part catalog: candidate pairs BLOCKED on the name's noun token (an
    equi-join — the blocking key is what keeps linkage off the n^2
    cliff, same stance as the fuzzy join's segment blocking and the
    geo grid), then scored by summed per-field agreement/disagreement
    weights (adjective, type, brand, size-within-2) and classed
    match / possible / non_match at the pinned thresholds.

    Determinism: the score is a fixed chain of 4 literal doubles per
    pair — engine-identical; only the per-class average is an
    order-sensitive sum (q6). Scale: pair volume = sum of block-size
    choose 2 — the block-size histogram is exactly what
    x_join_skew_diagnostics reports, and an oversized block AQE-splits
    like any hot equi-join key; production tightens blocks with a
    second pass (e.g. noun + brand) union-ed, same machinery."""
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.split(F.col("p_name"), " ").getItem(0).alias("adj"),
        # F.get (not getItem — ANSI raises on out-of-bounds) + coalesce
        # to '' so a single-token name blocks on the empty string
        # exactly like DuckDB's split_part (which returns '' instead of
        # NULL) — keeps the twins aligned if the name generator ever
        # emits 1-token names
        F.coalesce(F.get(F.split(F.col("p_name"), " "), 1), F.lit("")).alias("noun"),
        "p_type",
        "p_brand",
        "p_size",
    )
    a = p.select(*[F.col(c).alias(f"a_{c}") for c in p.columns])
    # The part table scans as ONE input split (a few MB of parquet), and
    # the blocked self-join broadcasts the build side — which leaves the
    # ENTIRE sum-of-block²/2 pair scoring in a single task (measured at
    # sf1: 1441 s with one core pinned and 31 idle; 8 noun blocks of
    # ~25k parts ≈ 2.5e9 comparisons). Spread the probe side round-robin
    # first: with a broadcast build ANY probe partitioning is valid, so
    # the pair work fans out across the cluster; under a non-broadcast
    # plan the exchange is re-keyed on the block key anyway (where AQE
    # skew-split takes over, per the docstring).
    par = max(spark.sparkContext.defaultParallelism, 1)
    if p.rdd.getNumPartitions() < par:
        a = a.repartition(par)
    b = p.select(*[F.col(c).alias(f"b_{c}") for c in p.columns])
    wt = _FS_WEIGHTS
    score = (
        F.when(F.col("a_adj") == F.col("b_adj"), wt["adj"][0]).otherwise(wt["adj"][1])
        + F.when(F.col("a_p_type") == F.col("b_p_type"), wt["type"][0]).otherwise(
            wt["type"][1]
        )
        + F.when(F.col("a_p_brand") == F.col("b_p_brand"), wt["brand"][0]).otherwise(
            wt["brand"][1]
        )
        + F.when(
            F.abs(F.col("a_p_size") - F.col("b_p_size")) <= 2, wt["size"][0]
        ).otherwise(wt["size"][1])
    )
    pairs = a.join(
        b,
        (a["a_noun"] == b["b_noun"]) & (a["a_p_partkey"] < b["b_p_partkey"]),
    ).select(score.alias("score"))
    link_class = (
        F.when(F.col("score") >= _FS_MATCH, "match")
        .when(F.col("score") >= _FS_POSSIBLE, "possible")
        .otherwise("non_match")
    )
    return (
        pairs.groupBy(link_class.alias("link_class"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            _q6(F.sum("score") / F.count(F.lit(1))).alias("avg_score"),
            _q6(F.min("score")).alias("min_score"),
            _q6(F.max("score")).alias("max_score"),
        )
        .orderBy("link_class")
    )


@register(
    "x_zone_map_pruning",
    oracle="""
    WITH blk AS (
      SELECT 'ingest_clustered' AS layout,
             CAST(floor(l_orderkey / 4096) AS BIGINT) AS block_id,
             CAST(l_shipdate AS DATE) AS ship
      FROM lineitem
      UNION ALL
      SELECT 'shipdate_clustered' AS layout,
             CAST(floor(date_diff('day', DATE '1992-01-01',
                                  CAST(l_shipdate AS DATE)) / 7) AS BIGINT)
               AS block_id,
             CAST(l_shipdate AS DATE) AS ship
      FROM lineitem
    ), zones AS (
      SELECT layout, block_id,
             min(ship) AS lo, max(ship) AS hi,
             CAST(count(*) AS BIGINT) AS n_rows
      FROM blk GROUP BY layout, block_id
    ), flagged AS (
      SELECT layout, n_rows,
             CASE WHEN hi >= DATE '1996-01-01' AND lo <= DATE '1996-01-31'
                  THEN 1 ELSE 0 END AS scanned
      FROM zones
    )
    SELECT layout,
           CAST(count(*) AS BIGINT) AS n_blocks,
           CAST(sum(scanned) AS BIGINT) AS n_scanned_blocks,
           CAST(sum(n_rows) AS BIGINT) AS rows_total,
           CAST(sum(scanned * n_rows) AS BIGINT) AS rows_scanned,
           floor((CAST(sum(scanned * n_rows) AS DOUBLE) / sum(n_rows))
                 * 1000000 + 0.5) / 1000000 AS scan_fraction
    FROM flagged GROUP BY layout ORDER BY layout
    """,
)
def x_zone_map_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (min/max block statistics) pruning audit — the
    quantified data-skipping story behind x_zorder_layout: simulate two
    physical layouts of lineitem (append-ingest blocks keyed by
    orderkey range vs shipdate-clustered weekly blocks), build each
    block's min/max shipdate zone map, and measure what fraction of
    blocks and rows a 1-month shipdate predicate must scan. The
    time-clustered layout prunes ~98% of rows; the ingest layout
    prunes ~none — the measured argument for clustering fact tables on
    their dominant filter column before they reach 100 TB (parquet
    row-group stats, Delta/Iceberg file stats, and this audit all read
    the same min/max contract).

    Everything is exact integer/date arithmetic: block assignment is
    map-side (no global row_number — a layout simulation must not cost
    a data-sized sort), zone bounds are min/max folds, overlap is a
    date-range test."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_shipdate").cast("date").alias("ship")
    )
    ingest = li.select(
        F.lit("ingest_clustered").alias("layout"),
        F.floor(F.col("l_orderkey") / 4096).cast("long").alias("block_id"),
        "ship",
    )
    clustered = li.select(
        F.lit("shipdate_clustered").alias("layout"),
        F.floor(F.datediff(F.col("ship"), F.lit("1992-01-01").cast("date")) / 7)
        .cast("long")
        .alias("block_id"),
        "ship",
    )
    zones = (
        ingest.unionByName(clustered)
        .groupBy("layout", "block_id")
        .agg(
            F.min("ship").alias("lo"),
            F.max("ship").alias("hi"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
        )
    )
    scanned = (
        (F.col("hi") >= F.lit("1996-01-01").cast("date"))
        & (F.col("lo") <= F.lit("1996-01-31").cast("date"))
    ).cast("int")
    return (
        zones.select("layout", "n_rows", scanned.alias("scanned"))
        .groupBy("layout")
        .agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.sum("scanned").cast("long").alias("n_scanned_blocks"),
            F.sum("n_rows").cast("long").alias("rows_total"),
            F.sum(F.col("scanned") * F.col("n_rows")).cast("long").alias("rows_scanned"),
            _q6(
                F.sum(F.col("scanned") * F.col("n_rows")).cast("double")
                / F.sum("n_rows")
            ).alias("scan_fraction"),
        )
        .orderBy("layout")
    )


@register(
    "x_file_compaction_plan",
    oracle="""
    WITH c AS (
      SELECT source, doc_id, n_chars,
             coalesce(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS prior
      FROM documents
    ), chunks AS (
      SELECT source, CAST(floor(prior / 16384.0) AS BIGINT) AS chunk_id,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS chunk_bytes
      FROM c GROUP BY 1, 2
    )
    SELECT source, chunk_id, n_docs, chunk_bytes,
           (SELECT max(chunk_bytes) FROM chunks)
             <= 16384 + (SELECT max(n_chars) FROM documents)
             AS within_overflow_bound
    FROM chunks ORDER BY source, chunk_id
    """,
)
def x_file_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner (the write-side sibling of
    x_zorder_layout): a 100 TB table accumulates kilobyte-scale files
    from streaming ingest and incremental jobs, and scan throughput
    dies on file-open overhead; the fix is periodic bin-packing of
    each partition's files into ~target-size chunks. This query PLANS
    the rewrite — cumulative-quota packing at a 16 KiB target over the
    per-source document byte counts (layout.plan_file_compaction) —
    and reports every planned chunk's fill, plus the greedy's overflow
    invariant (chunk_bytes < target + max single file, the bound that
    makes the plan safe to execute blindly).

    Scale posture: the running byte total is ONE global
    distributed_prefix_sum over (source, doc_id) — two distributed
    exchanges, NO per-source window (a hot source is data-sized; the
    single-task-sort trap this family always dodges) — with the
    |sources|-row start offsets rebased via a spine_window'd cumsum
    broadcast back. The oracle uses the plain per-source window cumsum
    (DuckDB has no task-skew concern), proving both compute the same
    plan."""
    from ..operators.layout import plan_file_compaction

    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", "n_chars"
    )
    planned = plan_file_compaction(
        docs, "source", "n_chars", "doc_id", target_bytes=16384
    )
    chunks = planned.groupBy("source", F.col("_chunk_id").alias("chunk_id")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chunk_bytes"),
    )
    # max single-file size rides the planned (checkpoint-backed) frame,
    # not a second documents scan
    bound = chunks.agg(F.max("chunk_bytes").alias("mx")).crossJoin(
        planned.agg(F.max("n_chars").alias("mxd"))
    ).select((F.col("mx") <= 16384 + F.col("mxd")).alias("within_overflow_bound"))
    return (
        chunks.crossJoin(F.broadcast(bound))
        .select("source", "chunk_id", "n_docs", "chunk_bytes", "within_overflow_bound")
        .orderBy("source", "chunk_id")
    )
