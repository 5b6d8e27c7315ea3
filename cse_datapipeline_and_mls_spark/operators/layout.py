"""Z-order layout: multi-dimensional data-skipping for the write path.

`sources/sinks.py` sorts files on ONE column so parquet min/max stats
prune row groups on that column's predicates. Queries that filter on
TWO dimensions (ship date AND part, user AND time) get no skipping on
the second dimension from a linear sort — the classic fix is a
space-filling curve: bucketize each dimension, bit-interleave the
buckets into a single z-value, and lay the table out in z-value order.
Every contiguous z-range then covers a bounded rectangle in (dim_a,
dim_b) space, so min/max stats prune BOTH dimensions.

Guarantee (tested in tests/test_layout.py, hash-checked by the
``x_zorder_layout`` query): rows sharing a z-value prefix of 2·k bits
agree on the top k bits of BOTH bucket values, so a prefix-chunk spans
at most 2^(bits−k) of the 2^bits buckets per dimension — e.g. 8-bit
buckets cut into 64 chunks (k=3) bound each chunk to 1/8 of each axis.

100 TB posture: the bucket bounds come from ONE tiny global aggregate
(broadcast onto the scan — same shape as ``f_winsorize_prices``); the
z-value itself is pure JVM bit arithmetic inside whole-stage codegen
(shift/and/or — no UDF, no doubles); the layout write is
``repartitionByRange(zval)`` + ``sortWithinPartitions(zval)``, i.e.
one range shuffle that replaces the full-scan cost of EVERY future
two-dimensional query. Bounds drift on append-only tables is fine:
stale bounds only widen buckets, never break the prefix invariant.
"""

from __future__ import annotations

from functools import reduce
from operator import add

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..materialize import materialize


def bucketize(col: Column, cmin: Column, cmax: Column, bits: int) -> Column:
    """Map ``col`` into [0, 2^bits) by linear min-max scaling.

    Integer-exact: (x − min) · 2^bits is BIGINT arithmetic and the
    divisor is (span + 1), so the quotient is < 2^bits with no clamp
    and no float boundary ambiguity between engines.
    """
    return F.floor(
        (col - cmin) * F.lit(1 << bits) / (cmax - cmin + F.lit(1))
    ).cast("long")


def interleave_bits(a: Column, b: Column, bits: int) -> Column:
    """Morton/z-value of two bucketized columns: bit i of ``a`` lands at
    position 2i, bit i of ``b`` at 2i+1. Shift amounts are Python
    literals, so the whole expression is JVM shift/and arithmetic —
    whole-stage-codegen friendly, no pow(), no doubles."""
    terms = []
    for i in range(bits):
        terms.append(F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i))
        terms.append(F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1))
    return reduce(add, terms).cast("long")


def add_zorder(
    df: DataFrame, dim_a: Column, dim_b: Column, bits: int = 8
) -> DataFrame:
    """Add ``bucket_a``/``bucket_b``/``zval`` columns for a 2-D z-order.

    ``dim_a``/``dim_b`` must be integer-valued expressions (cast dates
    to epoch days first). One tiny min/max aggregate is broadcast onto
    the scan; everything else is map-side.
    """
    d = df.withColumn("_za", dim_a.cast("long")).withColumn(
        "_zb", dim_b.cast("long")
    )
    bounds = d.agg(
        F.min("_za").alias("amin"),
        F.max("_za").alias("amax"),
        F.min("_zb").alias("bmin"),
        F.max("_zb").alias("bmax"),
    )
    d = d.crossJoin(F.broadcast(bounds))
    ba = bucketize(F.col("_za"), F.col("amin"), F.col("amax"), bits)
    bb = bucketize(F.col("_zb"), F.col("bmin"), F.col("bmax"), bits)
    return (
        d.withColumn("bucket_a", ba)
        .withColumn("bucket_b", bb)
        .withColumn("zval", interleave_bits(F.col("bucket_a"), F.col("bucket_b"), bits))
        .drop("_za", "_zb", "amin", "amax", "bmin", "bmax")
    )


def write_zordered(
    df: DataFrame,
    path: str,
    dim_a: Column,
    dim_b: Column,
    bits: int = 8,
    n_files: int = 8,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as parquet laid out in z-value order.

    ``repartitionByRange(zval)`` gives each output file a contiguous
    z-range (one range shuffle, AQE-balanced); the within-file sort
    makes row-group min/max stats tight on BOTH bucketized dimensions,
    so two-dimensional predicates prune at file AND row-group level.
    """
    (
        add_zorder(df, dim_a, dim_b, bits)
        .repartitionByRange(n_files, "zval")
        .sortWithinPartitions("zval")
        .write.mode(mode)
        .parquet(path)
    )


def plan_file_compaction(
    df: DataFrame,
    group_col: str,
    size_col: str,
    order_col: str,
    target_bytes: int,
) -> DataFrame:
    """Small-file compaction PLAN: assign each row (a file / document)
    of ``df`` to an output chunk of ~``target_bytes`` within its
    ``group_col`` (source, table partition), using cumulative-quota
    packing — chunk_id = floor(exclusive_running_bytes / target). The
    greedy's overflow bound is strict: a chunk closes at the first row
    that crosses the quota, so chunk_bytes < target + that row's size.

    Scale posture: the running total is NOT a per-group window (a hot
    group is data-sized — the single-task sort trap); it is ONE global
    ``relational.distributed_prefix_sum`` over (group, order) — two
    distributed exchanges — and the per-group rebase subtracts each
    group's start offset, computed from the |groups|-row totals frame
    via a spine_window'd cumsum (bounded BY CONSTRUCTION) broadcast
    back. Returns df + ``_chunk_id``."""
    from pyspark.sql import Window

    from .relational import distributed_prefix_sum
    from .tswindow import spine_window

    # the cum frame feeds THREE consumers (totals, the rebase join, the
    # caller's rollups) — checkpoint it once so the prefix-sum lineage
    # is never replayed per branch (the multi-reference re-derivation
    # trap). Cheap by construction: this operator runs over FILE
    # METADATA (one row per file/doc), not data rows.
    cum = materialize(
        distributed_prefix_sum(df, [group_col, order_col], [size_col], out_prefix="_cum_")
    )
    totals = cum.groupBy(group_col).agg(F.sum(size_col).alias("_gbytes"))
    totals, wg = spine_window(
        totals, [group_col], max_rows=65536, label="compaction-groups"
    )
    offsets = totals.select(
        group_col,
        F.coalesce(
            F.sum("_gbytes").over(
                wg.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("_goffset"),
    )
    out = cum.join(F.broadcast(offsets), [group_col])
    return out.withColumn(
        "_chunk_id",
        F.floor(
            (F.col(f"_cum_{size_col}") - F.col("_goffset"))
            / F.lit(int(target_bytes))
        ).cast("long"),
    ).drop(f"_cum_{size_col}", "_goffset")
