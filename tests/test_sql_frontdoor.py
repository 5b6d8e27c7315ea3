"""The SQL front door: users who speak raw SQL get the same engine —
register_views + spark.sql produce results identical to the DataFrame
API (same Catalyst plans underneath)."""

from __future__ import annotations

from pyspark.sql import functions as F

from cse_datapipeline_and_mls_spark.queries import ORACLE, QUERIES, SQL_BODIED
from cse_datapipeline_and_mls_spark.sources import load_table, register_views


def test_sql_view_matches_dataframe_q6(spark, sf_dir):
    register_views(spark, sf_dir, "lineitem")
    got = spark.sql(
        """
        SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue,
               count(*) AS n
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
        """
    ).collect()
    li = load_table(spark, sf_dir, "lineitem")
    want = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_sql_window_matches_dataframe(spark, sf_dir):
    register_views(spark, sf_dir, "events")
    got = {
        (r["event_id"]): r["rn"]
        for r in spark.sql(
            """
            SELECT event_id,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM events
            """
        ).collect()
    }
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    want = {
        r["event_id"]: r["rn"]
        for r in ev.select("event_id", F.row_number().over(w).alias("rn")).collect()
    }
    assert got == want


def test_sql_bodied_rows_leave_no_session_state(spark, sf_dir):
    """register_sql rows run their one SQL text over temp views that
    spark.sql's formatter drops before returning: no view, no conf
    change and no unfilled {table} placeholder may outlive a row.
    agg_grouping_sets is the row that used to leave a session-wide view
    behind."""
    assert "agg_grouping_sets" in SQL_BODIED

    def temp_views():
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    for name in sorted(SQL_BODIED):
        assert "{" not in ORACLE[name] and "}" not in ORACLE[name], name
        views, conf = temp_views(), spark.conf.getAll
        QUERIES[name](spark, sf_dir).collect()
        assert temp_views() == views, name
        assert spark.conf.getAll == conf, name
