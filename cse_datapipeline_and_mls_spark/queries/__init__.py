"""Driver-facing query registry.

Every operator from SURVEY.md §2 registers here as a named (spark_fn,
oracle_sql) pair. ``spark_fn(spark, sf_dir) -> DataFrame`` is the engine's
implementation; ``oracle_sql`` is the ANSI-SQL twin DuckDB runs on the same
parquet for the hash-compare correctness gate. Non-SQL-expressible ops
(LSH, ML) register with ``oracle=None`` → rows-only check.

Two registration forms:

* ``@register(name, oracle=...)`` on a DataFrame function — the form for
  every query whose Spark plan is not simply its oracle text.
* ``register_sql(name, sql)`` — one SQL text, with each table written as a
  ``{table}`` placeholder, is both the Spark body (``spark.sql`` over the
  loaded tables, bound to temp views that are dropped before it returns)
  and, with the placeholders filled by the bare table names, the oracle.
  A query may use this form only when Spark compiles the text to the
  same optimized plan as its DataFrame function did, or when an
  interleaved A/B (``tools/time_queries.py``) shows the text is no
  slower. DuckDB still runs the same text on a second engine, so the
  dialect check is kept; only the second hand translation goes.

Determinism rules enforced across the registry (FIXTURES.md §6):
* every computed column aliased identically in both texts;
* doubles rounded (6 decimals) in BOTH engine and oracle so float
  summation order can't flip the hash;
* window orderings always include a unique tiebreaker column;
* stddev flavor (samp/pop) pinned explicitly on both sides.
"""

from __future__ import annotations

from collections.abc import Callable
from string import Formatter

from pyspark.sql import DataFrame, SparkSession

from ..sources import load_tables

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}
SQL_BODIED: set[str] = set()


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


def register_sql(name: str, sql: str) -> None:
    tables = sorted({field for _, field, _, _ in Formatter().parse(sql) if field})
    if not tables:
        raise ValueError(f"{name!r}: SQL names no {{table}} placeholder")
    register(name, sql.format(**{t: t for t in tables}))(
        lambda spark, sf_dir: spark.sql(sql, **load_tables(spark, sf_dir, *tables))
    )
    SQL_BODIED.add(name)


def _load_all() -> None:
    from . import (  # noqa: F401
        analytics_q,
        attribution_q,
        coverage_q,
        curation_q,
        experiments_q,
        geo_q,
        functions_q,
        llmdata_q,
        ml_q,
        mleval_q,
        northstar,
        relational_q,
        streaming_q,
        tpch_more_q,
        windows_q,
    )


_load_all()
