"""Write-path sinks: the layout contract a 100 TB table needs at rest.

The reference lands its outputs as keyed JSON documents and model
artifacts (reference spark_stream.py:149-156, rtdb_* sinks); this
module is the engine-side generalization: columnar, partitioned,
size-bounded files that downstream scans can prune and parallelize
over. Design rules encoded here:

- **Partition by low-cardinality query keys** (date, source): partition
  pruning turns P6-style date predicates into zero-I/O directory skips.
  Never partition by a high-cardinality key — a million tiny
  directories is a metastore DoS.
- **Bound file sizes, not file counts**: `maxRecordsPerFile` splits
  oversized partitions without a shuffle; a pre-write
  `repartition(partition_cols)` collapses the many-tasks × many-
  partitions cross product (which otherwise writes
  tasks × partitions tiny files).
- **Sort within files** on the habitual filter/join column so min/max
  page statistics prune row groups on read (poor man's z-order for the
  single-column case).
- **Bucketing** (`write_bucketed`) pre-shuffles ONCE at write time so
  every future equi-join/agg on the bucket key runs shuffle-free
  (verified in tests/test_bucketing.py).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..materialize import counted, query_scope


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str],
    sort_cols: Sequence[str] = (),
    max_records_per_file: int = 1_000_000,
    mode: str = "overwrite",
) -> None:
    """Partitioned parquet write with bounded file sizes.

    One shuffle (repartition on the partition key) so each on-disk
    partition is written by few tasks — without it, every task holding
    rows of every partition emits tasks × partitions small files.
    ``sortWithinPartitions`` orders rows inside each file so parquet
    min/max stats prune on ``sort_cols`` predicates at read time.
    """
    out = df.repartition(*[df[c] for c in partition_cols])
    if sort_cols:
        out = out.sortWithinPartitions(*[*partition_cols, *sort_cols])
    (
        out.write.mode(mode)
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 32,
    sort_col: str | None = None,
    mode: str = "overwrite",
    assume_clustered: bool = False,
) -> None:
    """Bucketed managed-table write: pay the shuffle once at ingest so
    every later equi-join or aggregation on ``bucket_col`` between
    co-bucketed tables is exchange-free (SortMergeJoin with zero
    Exchange — asserted in tests/test_bucketing.py).

    Clustered by bucket BEFORE the write (r14 optimization, the same
    fix the erasure store got): a bucketBy write splits every input
    task's rows across all ``n_buckets`` files, so an N-task upstream
    produces N x n_buckets small files (measured: 320 x ~22 KB for the
    sf0.1 co-purchase edges). repartition uses the same Murmur3 bucket
    hash as the bucketed-table layout, so after it each task holds
    exactly one bucket -> one file per bucket, and every later scan of
    the table opens n_buckets files instead of N x n_buckets (guide §6:
    small files hurt twice — driver listing and per-file open cost).

    ``assume_clustered=True`` (r15): the caller vouches ``df`` is
    ALREADY ``repartition(n_buckets, bucket_col)``-clustered — e.g. it
    fused a dedup into that layout with
    ``repartition(n, col).dropDuplicates([...])`` (HashPartitioning on
    the bucket column satisfies any distinct whose keys include it) —
    so the write skips its own repartition instead of re-shuffling
    rows that are already exactly placed. The file-count contract is
    the caller's to keep in that case.

    Parallelism trade-off (ADVICE r14): the clustering repartition caps
    the write at ``n_buckets`` tasks and concentrates each bucket in
    one task. At 100 TB pick ``n_buckets`` so one bucket is a few GB
    (the erasure store's sizing rule) and pair with
    ``spark.sql.files.maxRecordsPerFile`` to split within a bucket;
    for skewed bucket keys prefer more buckets over bigger tasks."""
    pre = df if assume_clustered else df.repartition(n_buckets, F.col(bucket_col))
    w = pre.write.mode(mode).bucketBy(n_buckets, bucket_col)
    if sort_col is not None:
        w = w.sortBy(sort_col)
    w.saveAsTable(table)


def compact_parquet(
    spark,
    src_path: str,
    dst_path: str,
    target_records_per_file: int = 1_000_000,
    sort_cols: Sequence[str] = (),
) -> int:
    """Small-files maintenance (the OPTIMIZE-style rewrite every real
    table needs): read a fragmented parquet table, rewrite it as
    ``ceil(rows / target_records_per_file)`` right-sized files, return
    the file count. Streaming micro-batches and over-parallel writers
    both produce thousands of KB-scale files; at 100 TB the resulting
    per-file open/footer cost and scheduler pressure dominate scans, so
    periodic compaction is part of the layout contract (same family as
    `write_partitioned`/`write_zordered`).

    With ``sort_cols`` the rewrite range-partitions and sorts within
    files, so the compacted table ALSO gains min/max row-group pruning
    on those columns — compaction and clustering in one pass. Writes to
    ``dst_path`` (atomic swap is the caller's move/rename: Spark can't
    safely overwrite a path it is reading).
    """
    import math

    df = spark.read.parquet(src_path)
    n = df.count()
    n_files = max(1, math.ceil(n / int(target_records_per_file)))
    if sort_cols:
        out = df.repartitionByRange(n_files, *sort_cols).sortWithinPartitions(*sort_cols)
    else:
        out = df.repartition(n_files)
    out.write.mode("overwrite").parquet(dst_path)
    return n_files


def merge_upsert_parquet(
    spark,
    path: str,
    updates: DataFrame,
    keys: Sequence[str],
    partition_col: str | None = None,
    **merge_kwargs,
) -> int:
    """MERGE INTO for a plain-parquet table: apply relational.merge_upsert
    against the table at ``path`` and persist the result. Returns the
    number of rows written.

    Scale contract — this is why ``partition_col`` matters: when the
    table is partitioned (write_partitioned) and the partition column
    rides on both sides, only the partitions the update batch TOUCHES
    are read (partition pruning on the filter below) and only those are
    rewritten (dynamic partition overwrite), so a 1 GB update batch
    against a 100 TB table costs |touched partitions|, not a full
    rewrite. Unpartitioned tables fall back to a staged full rewrite
    (write to _stage, swap) — correct everywhere, acceptable only for
    dimension-sized tables; the guard below makes that an explicit
    caller choice rather than a silent cliff.

    Updates whose ``partition_col`` value lands in a brand-new
    partition still work: dynamic overwrite creates the directory. So
    does a table that does not exist yet (a missing path or an empty
    directory): the updates merge into an empty target carrying their
    own columns (minus ``delete_col``), so the first batch gets the same
    ``order_col`` dedup and tombstone drops as every later one.
    """
    import os
    import shutil

    from pyspark.errors import AnalysisException

    from ..operators.relational import merge_upsert

    try:
        target = spark.read.parquet(path)
    except AnalysisException as exc:
        if exc.getCondition() not in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            raise
        delete_col = merge_kwargs.get("delete_col")
        target = spark.createDataFrame(
            [], T.StructType([f for f in updates.schema if f.name != delete_col])
        )
    if partition_col is not None:
        if partition_col not in updates.columns:
            raise ValueError(
                f"merge_upsert_parquet: updates lack partition col {partition_col!r}"
            )
        touched = [r[0] for r in updates.select(partition_col).distinct().collect()]
        pruned = target.filter(F.col(partition_col).isin(touched))
        merged = merge_upsert(pruned, updates, keys, **merge_kwargs)
        # materialize (and count, on the same job) before the overwrite:
        # Spark refuses (or corrupts) a write whose plan still reads the
        # destination path. The scope frees the blocks after the write.
        with query_scope():
            merged, n = counted(merged)
            # dynamic overwrite as a per-write option: a session-conf
            # flip is not thread-safe (a sibling thread restoring
            # "static" mid-write would wipe untouched partitions)
            merged.write.mode("overwrite").option(
                "partitionOverwriteMode", "dynamic"
            ).partitionBy(partition_col).parquet(path)
        return n
    merged = merge_upsert(target, updates, keys, **merge_kwargs)
    stage = path.rstrip("/") + "._stage"
    merged.write.mode("overwrite").parquet(stage)
    n = spark.read.parquet(stage).count()
    if os.path.isdir(path):
        shutil.rmtree(path)
    shutil.move(stage, path)
    return n


def expire_partitions(
    spark,
    path: str,
    partition_col: str,
    keep_values: Sequence[str] | None = None,
    drop_values: Sequence[str] | None = None,
) -> list[str]:
    """Retention cleanup for a hive-partitioned table: drop whole
    partition DIRECTORIES by value (TTL enforcement, GDPR purges of a
    date range, re-ingest resets). Exactly one of ``keep_values`` /
    ``drop_values``. Pure directory removal — zero data reads, zero
    shuffles; the 100 TB retention job costs O(partitions touched).
    Returns the dropped partition values (sorted)."""
    import glob as _glob
    import os as _os
    import shutil as _shutil

    if (keep_values is None) == (drop_values is None):
        raise ValueError("expire_partitions: pass exactly one of keep/drop values")
    dropped = []
    for d in _glob.glob(f"{path.rstrip('/')}/{partition_col}=*"):
        val = _os.path.basename(d).split("=", 1)[1]
        doomed = (
            val in set(map(str, drop_values))
            if drop_values is not None
            else val not in set(map(str, keep_values))
        )
        if doomed:
            _shutil.rmtree(d)
            dropped.append(val)
    return sorted(dropped)


class AuditFailure(RuntimeError):
    """Raised when a write-audit-publish stage fails its check suite;
    carries the failing (check_name, kind, n_violations) rows."""

    def __init__(self, failures: list):
        self.failures = failures
        super().__init__(
            "write-audit-publish rejected: "
            + "; ".join(f"{n} ({k}): {v} violations" for n, k, v in failures)
        )


def write_audit_publish(
    df,
    path: str,
    checks: list,
    parents: dict | None = None,
    mode: str = "overwrite",
) -> int:
    """Write-audit-publish: stage the data as a NEW immutable version
    directory, run a Deequ-style expectation suite against what was
    actually written, and only then atomically flip the table pointer —
    readers (``read_published``) never observe a half-written or
    invalid snapshot, and a failed audit leaves the current version
    untouched (the poisoned staging dir is removed).

    Layout: ``{path}/v_N`` immutable version dirs + a ``_VERSION``
    pointer file; the publish is a POSIX-atomic ``os.replace`` of the
    pointer. Old versions remain for time travel (``read_version``) /
    rollback until a retention job prunes them — the same
    snapshot-pointer contract every production table format provides
    (Iceberg/Delta), scaled down to plain parquet directories. At
    100 TB the audit pass is one aggregate job over the staged files
    (see operators/expectations.py's cost model); nothing is
    rewritten on publish.

    Concurrent publishers are safe (VERDICT r5 #6): each writer leases
    its version number via an O_CREAT|O_EXCL claim file (``v_N._claim``
    — POSIX-atomic, the same trick as the pointer flip), so two writers
    never stage into the same directory — the loser advances to the
    next number. The pointer flip is read-check-replace under a short
    ``_PUBLISH.lock`` lease so a slower lower-version commit can never
    regress the pointer over a newer one; both version dirs are
    retained either way (time travel sees every committed version). A
    successful version keeps its claim file forever (numbers are never
    reused once published); a failed audit releases the claim along
    with the staged dir, so the slot is reused — pointer-based
    versioning, as the tests pin.

    Returns the published version number (which may be BELOW the
    current pointer if a concurrent writer committed a later version
    first — the returned number is always readable via
    ``read_version``)."""
    import os as _os
    import shutil as _shutil

    from ..operators.expectations import validate_expectations

    root = path.rstrip("/")
    _os.makedirs(root, exist_ok=True)
    version = _claim_version(root, _read_pointer(root) + 1)
    staged = f"{root}/v_{version}"
    try:
        df.write.mode(mode).parquet(staged)
        spark = df.sparkSession
        # audit the FILES, not the incoming frame: this also catches
        # write-path corruption/schema surprises, which auditing df cannot
        staged_df = spark.read.parquet(staged)
        results = validate_expectations(staged_df, checks, parents=parents).collect()
        failures = [
            (r["check_name"], r["kind"], r["n_violations"])
            for r in results
            if not r["passed"]
        ]
        if failures:
            raise AuditFailure(failures)
    except BaseException:
        # ANY failure between claim and publish — audit, write-path
        # error, OOM-kill-adjacent interrupts — must release the claim
        # and remove the partial staged dir, or the version slot leaks
        # forever for every future writer.
        _shutil.rmtree(staged, ignore_errors=True)
        try:
            _os.unlink(f"{root}/v_{version}._claim")
        except FileNotFoundError:
            pass
        raise
    lock = _acquire_publish_lock(root)
    try:
        if version > _read_pointer(root):
            tmp = f"{root}/_VERSION.tmp"
            with open(tmp, "w") as fh:
                fh.write(str(version))
            _os.replace(tmp, f"{root}/_VERSION")  # POSIX-atomic pointer flip
    finally:
        _os.unlink(lock)
    return version


def _claim_version(root: str, start: int) -> int:
    """Lease the next free version number: O_CREAT|O_EXCL creation of
    ``v_N._claim`` is atomic on POSIX (and O(1) — no directory listing),
    so exactly one contending writer wins each number and losers walk
    forward. Claim files are empty markers, pruned with their version
    dirs by retention."""
    import os as _os

    v = start
    while True:
        try:
            fd = _os.open(
                f"{root}/v_{v}._claim",
                _os.O_CREAT | _os.O_EXCL | _os.O_WRONLY,
            )
            _os.close(fd)
            return v
        except FileExistsError:
            v += 1


def _acquire_publish_lock(root: str, timeout: float = 30.0) -> str:
    """Short O_CREAT|O_EXCL lease serializing the read-check-replace
    pointer flip (microseconds held). A crashed publisher can strand
    the lock; the bounded spin surfaces that as an error instead of a
    silent hang — delete ``_PUBLISH.lock`` to recover."""
    import os as _os
    import time as _time

    lock = f"{root}/_PUBLISH.lock"
    deadline = _time.monotonic() + timeout
    while True:
        try:
            fd = _os.open(lock, _os.O_CREAT | _os.O_EXCL | _os.O_WRONLY)
            _os.close(fd)
            return lock
        except FileExistsError:
            if _time.monotonic() > deadline:
                raise TimeoutError(
                    f"publish lock {lock} held for >{timeout}s — "
                    "stale from a crashed publisher? delete it to recover"
                )
            _time.sleep(0.01)


def _read_pointer(root: str) -> int:
    import os as _os

    p = f"{root.rstrip('/')}/_VERSION"
    if not _os.path.exists(p):
        return 0
    with open(p) as fh:
        return int(fh.read().strip())


def read_published(spark, path: str):
    """Read the currently-published snapshot of a write-audit-publish
    table (raises if nothing has been published yet)."""
    root = path.rstrip("/")
    v = _read_pointer(root)
    if v == 0:
        raise FileNotFoundError(f"no published version under {root}")
    return spark.read.parquet(f"{root}/v_{v}")


def read_version(spark, path: str, version: int):
    """Time travel: read a specific retained version directory."""
    return spark.read.parquet(f"{path.rstrip('/')}/v_{version}")


def prune_versions(path: str, keep_last: int = 2) -> list[int]:
    """Retention for a write-audit-publish table: delete version
    directories older than the newest ``keep_last``, NEVER touching the
    published version (the pointer target survives even if it falls
    outside the window — readers must not lose the live snapshot).
    Claim files are kept for every version ever leased, pruned or not:
    they are what guarantees version numbers are never reused, so a
    concurrent publisher can't resurrect a pruned number into a
    time-travel collision. Pure directory removal — zero data reads.

    Returns the pruned version numbers (sorted)."""
    import os as _os
    import re as _re
    import shutil as _shutil

    root = path.rstrip("/")
    current = _read_pointer(root)
    versions = sorted(
        int(m.group(1))
        for d in _os.listdir(root)
        if (m := _re.fullmatch(r"v_(\d+)", d)) and _os.path.isdir(f"{root}/{d}")
    )
    keep = set(versions[-keep_last:]) | {current}
    pruned = []
    for v in versions:
        if v not in keep:
            _shutil.rmtree(f"{root}/v_{v}", ignore_errors=True)
            pruned.append(v)
    return sorted(pruned)
