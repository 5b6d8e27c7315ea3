"""Batch sources for the driver's parquet testdata (SURVEY §2.1 S5/S6).

Parquet is self-describing, but Spark still runs one job to infer a
file's schema from its footer. ``load_table`` pays that once per file
identity (real path, inode, mtime, size): the inferred schema is memoized
and later loads of the same file read with it, which runs no job. A
rewritten file has a new identity and is inferred again; a change to the
session's parquet inference confs (``spark.sql.parquet.*``) does not
re-infer a file already seen. Directory-form tables are inferred on every
load, since their contents can change without the directory's stat
changing. The declared schemas in :mod:`..schemas` only say which columns
are timestamps.

Scale note: at 100 TB the same call works unchanged — parquet scans get
column pruning + predicate pushdown from Catalyst, and
``spark.sql.files.maxPartitionBytes`` (default 128 MB) splits files into
right-sized input partitions. Nothing here collects to the driver.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import TESTDATA_SCHEMAS

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

TABLE_NAMES = tuple(TESTDATA_SCHEMAS)


# file identity -> the schema Spark inferred for it (see module docstring)
_SCHEMAS: dict[tuple[str, int, int, int], T.StructType] = {}
# held across the set -> infer -> restore of the session-wide nanos conf
_INFER_LOCK = threading.Lock()
_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    key = None
    if os.path.isfile(path):
        st = os.stat(path)
        key = (os.path.realpath(path), st.st_ino, st.st_mtime_ns, st.st_size)
        schema = _SCHEMAS.get(key)
        if schema is not None:
            return spark.read.schema(schema).parquet(path)
    # The driver's events.parquet stores TIMESTAMP(NANOS), which Spark's
    # parquet schema inference rejects. Infer nanos as long (legacy conf,
    # runtime-settable) and restore the conf after: the read itself does
    # not need it.
    with _INFER_LOCK:
        prev = spark.conf.get(_NANOS_AS_LONG, None)
        spark.conf.set(_NANOS_AS_LONG, "true")
        try:
            df = spark.read.parquet(path)
        finally:
            if prev is None:
                spark.conf.unset(_NANOS_AS_LONG)
            else:
                spark.conf.set(_NANOS_AS_LONG, prev)
    if key is not None:
        _SCHEMAS[key] = df.schema
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TESTDATA_SCHEMAS:
        raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
    df = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    # Nanosecond timestamps arrive as long: truncate them to microsecond
    # timestamps — the same truncation DuckDB applies, so oracle hashes
    # agree.
    actual = dict(df.dtypes)
    for field in TESTDATA_SCHEMAS[name].fields:
        if isinstance(field.dataType, T.TimestampType) and actual.get(field.name) == "bigint":
            df = df.withColumn(
                field.name, F.timestamp_micros(F.expr(f"`{field.name}` div 1000"))
            )
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names or TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register each table as a temp view for the SQL API."""
    for n, df in load_tables(spark, sf_dir, *names).items():
        df.createOrReplaceTempView(n)
