"""Ingest-boundary sources beyond the driver's parquet (SURVEY §2.1).

* ``read_csv_with_schema`` — S5/S6 done right: the reference scanned
  each CSV twice (``inferSchema=True``, regression.py:48, classifier.py:12)
  and sanitized column names dynamically at scrape time
  (scraper/main.py:57). Here the schema is explicit (single scan) and the
  canonical sanitizer runs once at the boundary.
* ``read_snapshot_json`` / ``flatten_envelope`` — S3/E2: the Firebase
  RTDB snapshot is a map of ``sanitized_timestamp -> [record, ...]``
  which the reference flattens with a driver-side double loop
  (spark_stream.py:106-115). The engine expresses that flatten as
  ``explode(map)`` → ``explode(array)`` — distributed, no driver loop,
  and the shape Catalyst can push column pruning through.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..materialize import materialize
from ..schemas import sanitize_columns


def read_csv_with_schema(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
    sanitize: bool = True,
) -> DataFrame:
    """CSV batch scan with an explicit schema — exactly one pass over the
    data (no inference scan). At scale, unsplittable-compression CSVs
    parallelize per-file; prefer landing to parquet once and scanning
    that thereafter."""
    df = spark.read.csv(path, schema=schema, header=header)
    return sanitize_columns(df) if sanitize else df


def envelope_schema(record: T.StructType) -> T.MapType:
    """Schema of one RTDB snapshot: map<ingest_key, array<record>>."""
    return T.MapType(T.StringType(), T.ArrayType(record))


def flatten_envelope(df: DataFrame, envelope_col: str, record: T.StructType) -> DataFrame:
    """map<ts, array<struct>> → one row per record, stamped with its
    envelope key as ``ingest_ts`` (the reference's appended ``timestamp``
    column, spark_stream.py:110-114). Two generators, both map-side —
    zero shuffle."""
    exploded = df.select(F.explode(F.col(envelope_col)).alias("ingest_ts", "_records"))
    rows = exploded.select("ingest_ts", F.explode("_records").alias("_r"))
    return rows.select("ingest_ts", *[F.col(f"_r.{f.name}").alias(f.name) for f in record.fields])


def read_snapshot_json(
    spark: SparkSession, path: str, record: T.StructType
) -> DataFrame:
    """S3 batch form: read an exported RTDB snapshot (one JSON document of
    the envelope shape) and flatten it to a record table."""
    raw = spark.read.option("multiLine", "true").json(
        path, schema=T.StructType([T.StructField("root", envelope_schema(record))])
    )
    # Files whose top level IS the envelope (no "root" wrapper): fall back
    # to reading the document as the map itself.
    if raw.select("root").first()["root"] is None:
        text = spark.read.text(path, wholetext=True)
        raw = text.select(
            F.from_json(F.col("value"), envelope_schema(record)).alias("root")
        )
    return flatten_envelope(raw, "root", record)


def read_with_schema_evolution(
    spark: SparkSession, path: str, target: T.StructType | None = None
) -> DataFrame:
    """Read a parquet table whose files have DRIFTED schemas (columns
    added over time — the normal life of a long-lived ingest directory).

    ``mergeSchema`` unions all file footers' schemas (files missing a
    column yield NULLs); without it Spark trusts one random footer and
    silently drops newer columns. Cost note for 100 TB tables: merging
    reads every file footer at planning time — prefer a fixed
    ``target`` schema (pass it here) once the table's contract settles,
    which skips footer merging entirely and gets conformance instead.
    """
    if target is not None:
        return conform_to_schema(spark.read.option("mergeSchema", "true").parquet(path), target)
    return spark.read.option("mergeSchema", "true").parquet(path)


def conform_to_schema(df: DataFrame, target: T.StructType) -> DataFrame:
    """Force a frame to a target contract: missing columns appear as
    typed NULLs, present columns cast to the contract type, extra
    columns DROPPED, order normalized — the write-side half of schema
    evolution (every sink in this engine writes contract-shaped
    frames). Pure projection: no shuffle, survives pushdown."""
    cols = []
    for field in target.fields:
        if field.name in df.columns:
            cols.append(F.col(field.name).cast(field.dataType).alias(field.name))
        else:
            cols.append(F.lit(None).cast(field.dataType).alias(field.name))
    return df.select(*cols)


def with_ingest_metadata(df: DataFrame, batch_id: int | None = None) -> DataFrame:
    """Stamp the lineage columns every audited ingest needs:
    ``_source_file`` (which input file produced the row — Spark's
    task-level file context, zero cost) and ``_ingest_ts`` (wall-clock
    of the ingest run — ONE timestamp per query via current_timestamp's
    query-constant semantics, so re-runs are distinguishable);
    ``_batch_id`` when the caller is a foreachBatch sink. Downstream
    dedup/debug queries filter on these instead of guessing provenance.
    Pure projection — no shuffle, pushdown unaffected."""
    out = df.withColumn("_source_file", F.input_file_name()).withColumn(
        "_ingest_ts", F.current_timestamp()
    )
    if batch_id is not None:
        out = out.withColumn("_batch_id", F.lit(int(batch_id)))
    return out


def observed(df: DataFrame, name: str = "ingest") -> DataFrame:
    """Attach Spark ``observe()`` metrics to an ingest frame: row count,
    null-key count and value bounds ride the job itself (collected by
    the existing actions — NO extra pass over the data, unlike a
    separate .count()/.agg()). Read them back per-action via
    ``df.sparkSession`` listener or, on batch, from the returned
    Observation. Returns (df, observation).

    Streaming frames are supported too (``Observation`` objects are
    batch-only, so the metrics are registered under ``name`` instead):
    returns (df, name), and each micro-batch's values arrive in
    ``StreamingQueryProgress.observedMetrics[name]`` — see
    ``streaming.run_audited_to_memory_sink``, which pairs them with the
    state store's late-row drop counts."""
    first = df.columns[0]
    metrics = (
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col(first).isNull(), 1)).alias(f"null_{first}"),
    )
    if df.isStreaming:
        return df.observe(name, *metrics), name
    from pyspark.sql import Observation

    obs = Observation(name)
    return df.observe(obs, *metrics), obs


def read_resilient(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    """Parquet read that survives corrupt/truncated files — the 100 TB
    reality where one bad object out of millions must not kill the job.
    ``ignoreCorruptFiles`` skips unreadable files at scan time (logged
    by Spark, job completes on the healthy remainder). Pass ``schema``
    to also skip footer inference (mandatory when the one corrupt file
    might otherwise be the footer-sample pick)."""
    reader = spark.read.option("ignoreCorruptFiles", "true")
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def read_jsonl_with_quarantine(
    spark: SparkSession, path: str, schema: T.StructType
) -> tuple[DataFrame, DataFrame]:
    """JSON-lines ingest with a corrupt-record QUARANTINE — the
    dead-letter pattern a 100 TB feed needs: FAILFAST kills a whole
    ingest for one bad line, silent DROPMALFORMED destroys the
    evidence, so this reads PERMISSIVE with an explicit
    ``_corrupt_record`` column and splits the result into
    ``(good, quarantined)``:

    * ``good`` — rows that parsed clean, in the caller's schema;
    * ``quarantined`` — the raw text of every malformed line (plus any
      parse-null row whose raw text the engine preserved), ready for a
      dead-letter sink and replay after a parser fix.

    Both frames come from ONE pass over the data (the split is two
    filters on the same scan — Catalyst reuses it), and the quarantine
    keeps the ORIGINAL bytes, not a best-effort parse. Spark requires
    the corrupt column to be part of the declared schema and the
    filter to run on a materialization boundary — we materialize the
    parsed frame, the documented contract for corrupt-record queries."""
    corrupt = "_corrupt_record"
    full = T.StructType(list(schema.fields) + [T.StructField(corrupt, T.StringType())])
    parsed = (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt)
        .json(path)
    )
    # Spark's documented caveat: referencing only the corrupt column of
    # a JSON scan raises/loses rows unless the frame is materialized
    # first.
    parsed = materialize(parsed)
    good = parsed.filter(F.col(corrupt).isNull()).drop(corrupt)
    quarantined = parsed.filter(F.col(corrupt).isNotNull()).select(
        F.col(corrupt).alias("raw_line")
    )
    return good, quarantined
