"""Scalar-function queries (SURVEY §2.8 F1-F21) with DuckDB oracles.

All expressions are built-in Column functions — whole-stage-codegen'd,
pure map stage, no shuffle. These queries pin cross-engine semantics for
the function library in :mod:`..schemas` and :mod:`..functions`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import parse_filename_date
from ..sources import load_table
from . import register, register_sql


@register(
    "f_array_higher_order",
    oracle="""
    SELECT vec_id,
           CAST(len(embedding) AS INT)                                         AS dim,
           round(list_aggregate(list_transform(embedding::DOUBLE[], x -> x * x),
                                'sum'), 6)                                      AS sq_sum,
           CAST(len(list_filter(embedding::DOUBLE[], x -> x > 0)) AS INT)       AS n_pos,
           round(list_aggregate(embedding::DOUBLE[], 'max'), 6)                 AS max_v,
           round(embedding[1]::DOUBLE, 6)                                       AS first_v
    FROM embeddings
    """,
)
def f_array_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array / higher-order functions (SURVEY §2.8 absent list):
    transform, filter, aggregate, array_max, element_at — all JVM-side
    lambdas inside one map stage, the idiom every vector/text operator
    in this engine builds on."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "e", F.col("embedding").cast("array<double>")
    )
    return emb.select(
        "vec_id",
        F.size("e").alias("dim"),
        F.round(
            F.aggregate(
                F.transform("e", lambda x: x * x), F.lit(0.0), lambda a, x: a + x
            ),
            6,
        ).alias("sq_sum"),
        F.size(F.filter("e", lambda x: x > 0)).alias("n_pos"),
        F.round(F.array_max("e"), 6).alias("max_v"),
        F.round(F.element_at("e", 1), 6).alias("first_v"),
    )


@register(
    "f_date_parts_arithmetic",
    oracle="""
    SELECT o_orderkey,
           year(o_orderdate)                                   AS yr,
           month(o_orderdate)                                  AS mo,
           day(o_orderdate)                                    AS dy,
           CAST(o_orderdate - INTERVAL 14 DAY AS DATE)         AS minus_14d,
           CAST(o_orderdate + INTERVAL 7 DAY  AS DATE)         AS plus_7d,
           strftime(o_orderdate, '%Y-%m-%d')                   AS iso_str
    FROM orders
    """,
)
def f_date_parts_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11-F14: component extraction, date_sub/date_add, date_format
    (reference regression.py:216,:260-263; classifier.py:55-56;
    ml_impl.py:151-160)."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dy"),
        F.date_sub(F.col("o_orderdate"), 14).alias("minus_14d"),
        F.date_add(F.col("o_orderdate"), 7).alias("plus_7d"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("iso_str"),
    )


@register(
    "f_filename_date_roundtrip",
    oracle="""
    SELECT o_orderkey,
           strptime(regexp_replace(strftime(o_orderdate, '%Y%m%d') || '.csv', '\\.csv$', ''),
                    '%Y%m%d')::DATE AS parsed_date
    FROM orders
    """,
)
def f_filename_date_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2: the reference's `'20230310.csv'` → DATE parse
    (regression.py:55, classifier.py:15), round-tripped through a
    synthesized filename column."""
    o = load_table(spark, sf_dir, "orders")
    fname = F.concat(F.date_format("o_orderdate", "yyyyMMdd"), F.lit(".csv"))
    return o.select("o_orderkey", parse_filename_date(fname).alias("parsed_date"))


@register(
    "f_string_ops",
    oracle="""
    SELECT p_partkey,
           upper(p_name)                                   AS name_upper,
           trim(p_type)                                    AS type_trim,
           regexp_replace(p_name, '[aeiou]', '_', 'g')     AS name_devoweled,
           substring(p_brand, 1, 5)                        AS brand5,
           CAST(length(p_name) AS INT)                     AS name_len,
           concat(p_brand, ':', p_type)                    AS brand_type,
           regexp_replace(lower(p_name), '[\\$#\\[\\]\\/\\. \\t\\n\\r]', '_', 'g') AS sanitized
    FROM part
    """,
)
def f_string_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F19 sanitizer + standard string surface (upper/trim/regexp/substr/
    concat/length) — reference scraper/main.py:57, ml_impl.py:24."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.trim(F.col("p_type")).alias("type_trim"),
        F.regexp_replace("p_name", "[aeiou]", "_").alias("name_devoweled"),
        F.substring("p_brand", 1, 5).alias("brand5"),
        F.length("p_name").cast("int").alias("name_len"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.regexp_replace(F.lower(F.col("p_name")), r"[\$#\[\]\/\. \t\n\r]", "_").alias("sanitized"),
    )


# F5/F8/F9/F16/F17/F18: nullif-guarded division, epsilon guard, CASE
# banding, sign, abs, scale (reference regression.py:108,:138-141,
# ml_impl.py:101,:192, spark_stream.py:142). Row-wise IEEE arithmetic is
# bit-identical across engines, so these columns are deliberately
# UNROUNDED.
register_sql(
    "f_guarded_ratios",
    """
    SELECT l_orderkey, l_linenumber,
           l_extendedprice / nullif(l_quantity, 0)                  AS unit_price,
           l_discount / (l_tax + 1e-6)                              AS disc_tax_ratio,
           CASE WHEN l_quantity > 40 THEN 'bulk'
                WHEN l_quantity > 10 THEN 'mid' ELSE 'small' END    AS qty_band,
           CAST(sign(l_extendedprice - 30000) AS DOUBLE)            AS price_sign,
           abs(l_extendedprice - 30000)                             AS price_dev,
           l_discount * 100                                         AS disc_pct
    FROM {lineitem}
    """,
)


@register(
    "f_json_props_extract",
    oracle="""
    SELECT CAST(json_extract(props, '$.k') AS INTEGER) AS k, count(*) AS n
    FROM events GROUP BY 1
    """,
)
def f_json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction from the events.props payload — the engine-side
    equivalent of the reference's Firebase nested-JSON flatten
    (spark_stream.py:106-115 morally an explode+get_json_object)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(F.get_json_object("props", "$.k").cast("int").alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# F15: UTC → Asia/Colombo (fixed UTC+5:30, no DST — the interval form
# is exact) — reference scraper/main.py:33-34.
register_sql(
    "f_tz_convert_colombo",
    """
    SELECT event_id, ts + INTERVAL 330 MINUTE AS ts_colombo
    FROM {events}
    """,
)


# F7: fillna in scalar+subset and per-column forms (reference
# regression.py:53,:180, ml_impl.py:38-41) — nulls synthesized since the
# source tables are dense.
register_sql(
    "f_fillna_policy",
    """
    SELECT event_id,
           coalesce(CASE WHEN value < 10 THEN NULL ELSE round(value, 6) END, 0.0) AS value_filled,
           coalesce(CASE WHEN event_type = 'view' THEN NULL ELSE event_type END, 'unknown') AS type_filled
    FROM {events}
    """,
)


@register(
    "f_winsorize_prices",
    oracle="""
    WITH b AS (
      SELECT l_returnflag,
             round(quantile_cont(l_extendedprice, 0.01), 4) AS p01,
             round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
      FROM lineitem GROUP BY 1
    )
    SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
           l.l_extendedprice,
           least(greatest(l.l_extendedprice, b.p01), b.p99) AS price_winsorized,
           CAST(l.l_extendedprice < b.p01 AS INT) AS clipped_low,
           CAST(l.l_extendedprice > b.p99 AS INT) AS clipped_high
    FROM lineitem l JOIN b USING (l_returnflag)
    """,
)
def f_winsorize_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile winsorization (outlier clipping) per group — the ML
    preprocessing step between raw facts and feature blocks. Two-pass
    shape that scales: a tiny per-group percentile aggregate broadcasts
    back onto a single fact scan; the clip itself is map-side
    least/greatest. The clip BOUNDS round to 4dp on both engines first —
    interpolated quantiles differ in the last bits across engines, and
    rounding the bounds (not the data) keeps every clipped value
    hash-identical."""
    li = load_table(spark, sf_dir, "lineitem")
    bounds = li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", 0.01), 4).alias("p01"),
        F.round(F.percentile("l_extendedprice", 0.99), 4).alias("p99"),
    )
    return (
        li.join(F.broadcast(bounds), "l_returnflag")
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_returnflag",
            "l_extendedprice",
            F.least(F.greatest(F.col("l_extendedprice"), F.col("p01")), F.col("p99")).alias(
                "price_winsorized"
            ),
            (F.col("l_extendedprice") < F.col("p01")).cast("int").alias("clipped_low"),
            (F.col("l_extendedprice") > F.col("p99")).cast("int").alias("clipped_high"),
        )
    )


@register(
    "f_variant_props",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT)                              AS n,
           CAST(sum(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
           CAST(max(CAST(json_extract(props, '$.k') AS INTEGER)) AS INTEGER) AS max_k
    FROM events
    WHERE CAST(json_extract(props, '$.k') AS INTEGER) >= 50
    GROUP BY event_type
    """,
)
def f_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props through the VARIANT type (Spark 4) —
    ``parse_json`` once into a binary-encoded variant, then typed
    ``variant_get`` path extraction that stays inside codegen, instead
    of per-access string re-parsing (get_json_object). At 100 TB the
    parse happens once per row at ingest (store the variant column);
    every downstream path access is a cheap binary probe. Predicate on
    the extracted field still prunes rows before the aggregate."""
    ev = load_table(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json("props"), "$.k", "int")
    return (
        ev.select("event_type", k.alias("k"))
        .filter(F.col("k") >= 50)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
    )
