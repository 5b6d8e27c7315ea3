"""Relational-core queries (SURVEY §2.2-2.4, §2.6-2.7) with DuckDB oracles.

Scale notes per query are in the docstrings; the common posture: group
aggs are map-side-combined hash aggregates, dim joins broadcast, top-k
compiles to TakeOrderedAndProject.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import relational as R
from ..sources import load_table
from . import register, register_sql

# ---------------------------------------------------------------------------
# TPC-H Q1-style pricing summary — the canonical scan→filter→agg shape.
# ---------------------------------------------------------------------------


# Stays DataFrame-bodied: the read_path benchmark runs this row; with
# it and t_session_window_30min as SQL text, read_path batch_p50_ms
# was 7% worse over 6 interleaved pairs (more than the parent's
# spread), though the row alone ran 0.82x in its own A/B.
@register(
    "tpch_q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 4)                                         AS sum_qty,
           round(sum(l_extendedprice), 4)                                    AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 4)                 AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4)   AS sum_charge,
           round(avg(l_quantity), 6)                                         AS avg_qty,
           round(avg(l_extendedprice), 6)                                    AS avg_price,
           round(avg(l_discount), 6)                                         AS avg_disc,
           count(*)                                                          AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter pushes to the parquet scan; partial agg map-side; 6-group
    output. At 100 TB: one shuffle of 6 partial-agg rows per task."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(disc_price), 4).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 4).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "top_orders_by_revenue",
    oracle="""
    SELECT o.o_orderkey, o.o_orderdate,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderkey, o.o_orderdate
    ORDER BY revenue DESC, o.o_orderkey
    LIMIT 10
    """,
)
def top_orders_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: fact-fact equi-join on the order key then top-k.

    Aggregation is pushed BELOW the join: o_orderkey is the orders PK, so
    grouping lineitem by l_orderkey alone is equivalent to grouping the
    joined set by (o_orderkey, o_orderdate) — the shuffle then carries one
    narrow row per order instead of every joined lineitem (4×+ less at
    TPC-H fanout; the join itself becomes 1:1). Top-k compiles to
    TakeOrderedAndProject — only 10 rows per partition survive the final
    exchange. Tiebreaker o_orderkey makes the LIMIT deterministic."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue")
    )
    joined = per_order.join(o, per_order.l_orderkey == o.o_orderkey).select(
        "o_orderkey", "o_orderdate", "revenue"
    )
    return R.top_k(joined, [F.desc("revenue"), F.asc("o_orderkey")], 10)


@register(
    "broadcast_join_segment_sales",
    oracle="""
    SELECT c.c_mktsegment,
           count(*)                        AS n_orders,
           round(sum(o.o_totalprice), 4)   AS total_sales,
           round(avg(o.o_totalprice), 6)   AS avg_sale
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def broadcast_join_segment_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact ⟕ dim broadcast join (reference regression.py:130 shape:
    prices ⟕ financials). The dim is broadcast — the 100 TB fact side
    never shuffles for the join, only for the 5-group agg."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = R.broadcast_left_join(o, c, on=o.o_custkey == c.c_custkey)
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 4).alias("total_sales"),
        F.round(F.avg("o_totalprice"), 6).alias("avg_sale"),
    )


# Stays DataFrame-bodied: its SQL text ran ~1.8x slower at sf0.1 with
# the same shuffle count; this form fixes the join order.
@register(
    "tpch_q5_regional_revenue",
    oracle="""
    SELECT n.n_name, round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
    FROM customer c, orders o, lineitem l, supplier s, nation n, region r
    WHERE c.c_custkey = o.o_custkey AND l.l_orderkey = o.o_orderkey
      AND l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
      AND s.s_nationkey = n.n_nationkey AND n.n_regionkey = r.r_regionkey
      AND r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    """,
)
def tpch_q5_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: the 6-table join. Shape at scale: only the FIXED-SIZE
    dims (region, nation and their pre-joined `asia_nations`) carry an
    explicit broadcast hint. supplier and customer grow with scale
    factor, so they get NO hint — an explicit hint would override AQE's
    size check and force a multi-GB broadcast at 100×. AQE broadcasts
    them while they fit under the threshold and switches to shuffle
    joins beyond it; the only unavoidable big shuffle is
    lineitem⋈orders on the order key. The date filter pushes into the
    orders scan before the join."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    o = o.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    asia_nations = n.join(
        F.broadcast(r.filter(F.col("r_name") == "ASIA")),
        n.n_regionkey == F.col("r_regionkey"),
    ).select("n_nationkey", "n_name")
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(asia_nations), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    return joined.groupBy("n_name").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue")
    )


@register(
    "tpch_q3_shipping_priority",
    oracle="""
    SELECT l.l_orderkey, o.o_orderdate,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
    FROM customer c, orders o, lineitem l
    WHERE c.c_mktsegment = 'BUILDING'
      AND c.c_custkey = o.o_custkey AND l.l_orderkey = o.o_orderkey
      AND o.o_orderdate < TIMESTAMP '1996-06-30'
      AND l.l_shipdate > TIMESTAMP '1996-06-30'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 proper (dates adapted to the 1995-2001 testdata span;
    no o_shippriority column in this schema). Plan at scale: the date
    filters push into both scans; lineitem pre-aggregates by l_orderkey
    BEFORE the join (l_orderkey ⊂ orders PK makes the rewrite exact),
    so the orderkey shuffle carries one row per order; the BUILDING
    allow-list semi-joins orders via broadcast; top-10 is
    TakeOrderedAndProject."""
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("o_custkey"))
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < F.lit("1996-06-30").cast("timestamp"))
        .select("o_orderkey", "o_custkey", "o_orderdate")
    )
    o = R.semi_filter(o, c, on="o_custkey")
    per_order = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > F.lit("1996-06-30").cast("timestamp"))
        .groupBy("l_orderkey")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            )
        )
    )
    joined = per_order.join(o, per_order.l_orderkey == o.o_orderkey).select(
        "l_orderkey", "o_orderdate", "revenue"
    )
    return R.top_k(joined, [F.desc("revenue"), F.asc("l_orderkey")], 10)


# TPC-H Q6: the pure pushdown showcase — scan → filter → global agg, no
# shuffle of data rows; all three predicates reach the parquet reader.
register_sql(
    "tpch_q6_forecast_revenue",
    """
    SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue,
           count(*) AS n
    FROM {lineitem}
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
)


@register(
    "tpch_q10_returned_items",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
    FROM customer c, orders o, lineitem l, nation n
    WHERE c.c_custkey = o.o_custkey AND l.l_orderkey = o.o_orderkey
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-04-01'
      AND l.l_returnflag = 'R' AND c.c_nationkey = n.n_nationkey
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: who returned the most revenue last quarter. Plan at
    scale: both filters push to the scans; lineitem⋈orders is the one
    big shuffle; the joined rows then pre-aggregate by o_custkey (a
    second, much smaller shuffle bounded by |customer|) BEFORE the
    customer and nation dims broadcast in — the dims never see
    lineitem-sized traffic. Top-20 is TakeOrderedAndProject."""
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    per_cust = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            )
        )
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    joined = (
        per_cust.join(c, per_cust.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select("c_custkey", "c_name", "n_name", "revenue")
    )
    return R.top_k(joined, [F.desc("revenue"), F.asc("c_custkey")], 20)


@register(
    "tpch_q18_large_volume_customer",
    oracle="""
    SELECT c.c_custkey, o.o_orderkey, o.o_orderdate,
           round(o.o_totalprice, 4) AS o_totalprice,
           round(sum(l.l_quantity), 4) AS total_qty
    FROM customer c, orders o, lineitem l
    WHERE o.o_orderkey IN (SELECT l_orderkey FROM lineitem
                           GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
      AND c.c_custkey = o.o_custkey AND o.o_orderkey = l.l_orderkey
    GROUP BY c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 100
    """,
)
def tpch_q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: orders whose total quantity exceeds 300 (~p99.3 of this
    data). The oracle's IN-subquery re-joins lineitem and re-aggregates;
    the Spark plan fuses both into ONE lineitem aggregation — groupBy
    l_orderkey → sum → filter — because quantities are integral doubles
    the sums are exact and the HAVING threshold is deterministic. The
    surviving ~0.7% of orders then join orders and customer. The
    filtered side is narrow but still scale-PROPORTIONAL (0.7% of
    orders grows linearly with SF), so it carries no explicit broadcast
    hint — AQE broadcasts it by measured size while it fits and falls
    back to a shuffle join beyond the threshold."""
    per_order = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 4).alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    joined = (
        o.join(per_order, o.o_orderkey == per_order.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 4).alias("o_totalprice"),
            "total_qty",
        )
    )
    return R.top_k(joined, [F.desc("o_totalprice"), F.asc("o_orderkey")], 100)


@register(
    "semi_join_building_orders",
    oracle="""
    SELECT o_orderpriority, count(*) AS n
    FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
    GROUP BY o_orderpriority
    """,
)
def semi_join_building_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed isin — left-semi join (reference ml_impl.py:124-135 did
    driver-side .isin; the semi join keeps the allow-list distributed and
    broadcasts it when small)."""
    o = load_table(spark, sf_dir, "orders")
    keep = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("o_custkey"))
    )
    return R.group_count(R.semi_filter(o, keep, on="o_custkey"), ["o_orderpriority"])


@register(
    "anti_join_customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL)
    """,
)
def anti_join_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS as left-anti join."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return R.anti_filter(c, o, on="c_custkey").select("c_custkey", "c_name")


@register(
    "null_nan_audit_lineitem",
    oracle="""
    SELECT count(*) FILTER (WHERE l_orderkey IS NULL)                              AS l_orderkey,
           count(*) FILTER (WHERE l_quantity IS NULL OR isnan(l_quantity))         AS l_quantity,
           count(*) FILTER (WHERE l_extendedprice IS NULL OR isnan(l_extendedprice)) AS l_extendedprice,
           count(*) FILTER (WHERE l_returnflag IS NULL)                            AS l_returnflag,
           count(*) FILTER (WHERE l_shipdate IS NULL)                              AS l_shipdate
    FROM lineitem
    """,
)
def null_nan_audit_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: schema-driven null/NaN audit, dtype-dispatched (isnan only on
    fractional cols) — reference regression.py:57-72. Single agg pass."""
    li = load_table(spark, sf_dir, "lineitem")
    return R.null_nan_audit(
        li, ["l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag", "l_shipdate"]
    )


# A3 group-count histogram (reference regression.py:204).
register_sql(
    "group_histogram_events",
    "SELECT event_type, count(*) AS n FROM {events} GROUP BY event_type",
)


@register(
    "salted_group_histogram_events",
    oracle="SELECT event_type, count(*) AS n FROM events GROUP BY event_type",
)
def salted_group_histogram_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted variant of the same histogram — identical result,
    skew-resistant plan (SURVEY §7 #5). Registered so correctness of the
    salting rewrite is oracle-checked."""
    return R.salted_group_count(load_table(spark, sf_dir, "events"), "event_type")


# A8 distinct-set (reference ml_impl.py:197 unique symbols).
register_sql(
    "distinct_segments",
    "SELECT DISTINCT c_mktsegment FROM {customer}",
)


# A5/A6 global aggregates (reference classifier.py:52 max(date)).
register_sql(
    "global_minmax_lineitem",
    """
    SELECT min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship,
           round(min(l_extendedprice), 4) AS min_price,
           round(max(l_extendedprice), 4) AS max_price,
           count(*) AS n
    FROM {lineitem}
    """,
)


@register(
    "dedup_first_event_per_user",
    oracle="""
    SELECT user_id, event_id, ts, round(value, 6) AS value
    FROM (SELECT user_id, event_id, ts, value,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
          FROM events) t
    WHERE rn = 1
    """,
)
def dedup_first_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 batch form: deterministic first-row-wins dedup by key (the
    scraper's skip-if-exists ingest logic, reference scraper/main.py:69-77)."""
    ev = load_table(spark, sf_dir, "events")
    out = R.dedup_by_key(ev, ["user_id"], order=[F.asc("ts"), F.asc("event_id")])
    return out.select("user_id", "event_id", "ts", F.round("value", 6).alias("value"))


@register(
    "topk_orders_by_price",
    oracle="""
    SELECT o_orderkey, round(o_totalprice, 4) AS o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def topk_orders_by_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2 top-k → TakeOrderedAndProject (reference ml_impl.py:191)."""
    o = load_table(spark, sf_dir, "orders")
    top = R.top_k(o, [F.desc("o_totalprice"), F.asc("o_orderkey")], 10)
    return top.select("o_orderkey", F.round("o_totalprice", 4).alias("o_totalprice"))


@register(
    "topk_events_per_type",
    oracle="""
    SELECT event_type, event_id, round(value, 6) AS value, rn
    FROM (SELECT event_type, event_id, value,
                 row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rn
          FROM events) t
    WHERE rn <= 5
    """,
)
def topk_events_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group — one shuffle on the group key; at scale prefer
    this over global sort + per-group filter."""
    ev = load_table(spark, sf_dir, "events")
    out = R.top_k_per_group(ev, ["event_type"], [F.desc("value"), F.asc("event_id")], 5)
    return out.select("event_type", "event_id", F.round("value", 6).alias("value"), "rn")


# Stays DataFrame-bodied: its SQL text ran 1.01x slower (median of 14
# interleaved A/B pairs).
@register(
    "set_union_nations",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey FROM supplier
    """,
)
def set_union_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.union(s).distinct()


# Stays DataFrame-bodied: its SQL text ran 1.02x slower (median of 14
# interleaved A/B pairs).
@register(
    "set_intersect_nations",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    """,
)
def set_intersect_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


register_sql(
    "set_except_nations",
    """
    SELECT c_nationkey AS nationkey FROM {customer}
    EXCEPT
    SELECT s_nationkey FROM {supplier}
    """,
)


# Grouping-sets family (absent from the reference; SURVEY §2.4 absent
# list), free via Catalyst's Expand operator.
register_sql(
    "rollup_returnflag_status",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 4) AS sum_qty, count(*) AS n
    FROM {lineitem}
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)


register_sql(
    "cube_priority_status",
    """
    SELECT o_orderpriority, o_orderstatus, count(*) AS n
    FROM {orders}
    GROUP BY CUBE (o_orderpriority, o_orderstatus)
    """,
)


# Pivot with pinned values as filtered aggregates: one aggregation, no
# distinct-values scan to discover the pivot columns.
register_sql(
    "pivot_qty_by_status",
    """
    SELECT l_returnflag,
           round(sum(l_quantity) FILTER (WHERE l_linestatus = 'O'), 4) AS O,
           round(sum(l_quantity) FILTER (WHERE l_linestatus = 'F'), 4) AS F
    FROM {lineitem} GROUP BY l_returnflag
    """,
)


@register(
    "class_weights_orders",
    oracle="""
    WITH counts AS (SELECT o_orderstatus, count(*) AS cnt FROM orders GROUP BY o_orderstatus),
         tot AS (SELECT count(*) AS total, (SELECT count(*) FROM counts) AS k FROM orders)
    SELECT c.o_orderstatus,
           round(tot.total / (tot.k * c.cnt), 6) AS class_weight
    FROM counts c, tot
    """,
)
def class_weights_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 balanced class weights total/(k*count) — reference
    classifier.py:62-67, distributed instead of collectAsMap."""
    o = load_table(spark, sf_dir, "orders")
    weighted = R.with_balanced_weights(o, "o_orderstatus")
    return weighted.select(
        "o_orderstatus", F.round("class_weight", 6).alias("class_weight")
    ).distinct()


# Explicit GROUPING SETS, the general form of the grouping family.
# Catalyst compiles it to ONE Expand + hash aggregate: the input is
# scanned once and each row fans out to its grouping combinations
# map-side, so the cost is one shuffle of partial aggregates, not one
# pass per set.
register_sql(
    "agg_grouping_sets",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(grouping(l_returnflag) AS INT)  AS g_flag,
           CAST(grouping(l_linestatus) AS INT)  AS g_status,
           round(sum(l_extendedprice), 4)       AS sum_price,
           count(*)                             AS n
    FROM {lineitem}
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
    """,
)


@register(
    "salted_join_priority_revenue",
    oracle="""
    SELECT o.o_orderpriority,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
           count(*) AS n
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def salted_join_priority_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-stage variant of the lineitem⋈orders join — identical
    result to the plain join (the oracle IS the plain join), skew-proof
    plan: per-row salt on the fact, 16× exploded replication on the
    orders side, join on (orderkey, salt). Registered so the salting
    rewrite itself is oracle-checked, mirroring
    salted_group_histogram_events for aggregation."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    joined = R.salted_equi_join(
        li,
        o,
        "l_orderkey",
        "o_orderkey",
        discriminator=F.concat_ws("_", F.col("l_orderkey"), F.col("l_linenumber")),
        salt_buckets=16,
    )
    return joined.groupBy("o_orderpriority").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


# Pivot (long→wide), the inverse of unpivot_lineitem_measures: order
# counts and exact cent totals per priority across the three pinned order
# statuses, as one map-side-combined conditional aggregation.
register_sql(
    "pivot_status_by_priority",
    """
    SELECT o_orderpriority,
           CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
           CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
           CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p,
           CAST(sum(CASE WHEN o_orderstatus = 'F'
                THEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) ELSE 0 END)
                AS BIGINT) AS cents_f,
           CAST(sum(CASE WHEN o_orderstatus = 'O'
                THEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) ELSE 0 END)
                AS BIGINT) AS cents_o,
           CAST(sum(CASE WHEN o_orderstatus = 'P'
                THEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) ELSE 0 END)
                AS BIGINT) AS cents_p
    FROM {orders} GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
