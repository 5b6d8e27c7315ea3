"""Composable relational operators (SURVEY §2.2-2.4, §2.6-2.7).

Each function is ``(DataFrame, params) -> DataFrame`` with no I/O, so
Catalyst sees one logical plan per query and can push filters/prune
columns through every wrapper.

Scale posture (100 TB):
* dim joins are broadcast (``broadcast_left_join``) — zero shuffle of the
  fact side; Spark's AQE would also auto-broadcast under the threshold,
  the explicit hint makes it deterministic.
* group aggregations are hash aggregates with map-side partial
  aggregation (Catalyst does the partial/final split automatically).
* top-k compiles to TakeOrderedAndProject — each partition keeps k rows,
  only n_partitions*k rows move.
* skewed group keys: ``salted_group_count`` shows the two-stage pattern
  (salt → partial agg → unsalt → final agg).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.column import Column

from ..materialize import materialize


# -- A1/A2: null & NaN audit ------------------------------------------------

_FRACTIONAL = ("double", "float")


def null_nan_audit(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """One row: per-column count of NULL-or-NaN values.

    Dtype-dispatched exactly like the reference (``isnan`` only applies to
    fractional types; reference ml-algorithms/regression.py:57-72): a
    single ``agg`` pass over the table — one job, map-side combined.
    """
    dtypes = dict(df.dtypes)
    cols = list(cols) if cols is not None else df.columns
    exprs = []
    for c in cols:
        pred = F.col(c).isNull()
        if dtypes[c] in _FRACTIONAL:
            pred = pred | F.isnan(F.col(c))
        exprs.append(F.count(F.when(pred, 1)).alias(c))
    return df.agg(*exprs)


# -- A3/A4: group histograms ------------------------------------------------


def group_count(df: DataFrame, keys: Sequence[str], out: str = "n") -> DataFrame:
    """groupBy(keys).count() hash aggregate (reference regression.py:204,
    classifier.py:59,:62,:85)."""
    return df.groupBy(*keys).agg(F.count(F.lit(1)).alias(out))


def salted_group_count(df: DataFrame, key: str, salt_buckets: int = 32, out: str = "n") -> DataFrame:
    """Two-stage skew-resistant count: salt the key, partial-count, unsalt,
    final-sum. Same result as ``group_count`` — use when one key holds an
    outsized share of rows (SURVEY §7 hard part #5)."""
    salted = df.withColumn("_salt", F.pmod(F.crc32(F.col(key).cast("string")), F.lit(salt_buckets)))
    partial = salted.groupBy(key, "_salt").agg(F.count(F.lit(1)).alias("_pn"))
    return partial.groupBy(key).agg(F.sum("_pn").cast("long").alias(out))


# -- J1/J2: broadcast dim join ----------------------------------------------


def broadcast_left_join(
    fact: DataFrame, dim: DataFrame, on: str | Sequence[str], how: str = "left"
) -> DataFrame:
    """Fact ⟕ small dim as an explicit broadcast hash join (reference
    regression.py:130 joins a 7,858-row fact to a 256-row dim — at 100 TB
    the fact side must never shuffle for a dim this small).

    Caller contract: ``dim`` must be FIXED-SIZE (bounded independent of
    data scale). The explicit hint overrides AQE's size threshold, so a
    scale-proportional dim passed here would be force-broadcast at any
    size; for those, use a plain ``join`` and let AQE pick the strategy."""
    return fact.join(F.broadcast(dim), on=on, how=how)


# -- J3/P8: membership (semi/anti) ------------------------------------------


def semi_filter(df: DataFrame, keep: DataFrame, on: str | Sequence[str]) -> DataFrame:
    """Distributed ``isin`` — left-semi join (reference ml_impl.py:124-135
    does pandas .isin against collected lists; the semi join never moves
    the allow-list to the driver)."""
    return df.join(keep, on=on, how="left_semi")


def anti_filter(df: DataFrame, drop: DataFrame, on: str | Sequence[str]) -> DataFrame:
    return df.join(drop, on=on, how="left_anti")


# -- T2/X1: dedup -----------------------------------------------------------


def dedup_by_key(
    df: DataFrame, keys: Sequence[str], order: Sequence[Column] | None = None
) -> DataFrame:
    """Keep one row per key.

    With ``order``: deterministic first-row-wins via row_number over
    (partitionBy keys, orderBy order) — the batch form of the reference's
    idempotent-ingest skip (scraper/main.py:69-77). Without: plain
    ``dropDuplicates`` (nondeterministic survivor, cheaper — partial
    dedup map-side before the shuffle).
    """
    if order is None:
        return df.dropDuplicates(list(keys))
    w = Window.partitionBy(*keys).orderBy(*order)
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


# -- O2: top-k --------------------------------------------------------------


def top_k(df: DataFrame, order: Sequence[Column], k: int) -> DataFrame:
    """orderBy + limit → TakeOrderedAndProject (reference ml_impl.py:191
    sorts descending then serves the head)."""
    return df.orderBy(*order).limit(k)


def top_k_per_group(
    df: DataFrame, keys: Sequence[str], order: Sequence[Column], k: int, rn_out: str = "rn"
) -> DataFrame:
    """Top-k within each group via row_number ≤ k (absent from the
    reference; standard Spark pattern, one shuffle on the group key)."""
    w = Window.partitionBy(*keys).orderBy(*order)
    return df.withColumn(rn_out, F.row_number().over(w)).filter(F.col(rn_out) <= k)


# -- A9: class weights ------------------------------------------------------


def with_balanced_weights(
    df: DataFrame, label_col: str, out: str = "class_weight"
) -> DataFrame:
    """weight = total/(n_classes * count_class), joined back as a column
    (reference classifier.py:62-67 collects counts to the driver; here the
    per-class weights stay distributed via a broadcast self-join —
    class cardinality is tiny by definition)."""
    counts = df.groupBy(label_col).agg(F.count(F.lit(1)).alias("_cnt"))
    total = df.count()
    n_classes = counts.count()
    weights = counts.select(
        label_col, (F.lit(float(total)) / (F.lit(float(n_classes)) * F.col("_cnt"))).alias(out)
    )
    return df.join(F.broadcast(weights), on=label_col, how="left")


def salted_equi_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    discriminator: Column,
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant fact ⋈ dim equi-join: each fact row gets a
    deterministic per-row salt (hash of ``discriminator`` — any
    fact-side expression that varies within a join key), the dim side
    is exploded ``salt_buckets``× with every salt value, and the join
    key becomes (key, salt). A heavy-hitter join key then spreads over
    ``salt_buckets`` tasks instead of melting one. Result is identical
    to the plain join (salt only redistributes rows); dim-side blow-up
    is salt_buckets×|dim|, so keep the replicated side the small one.
    AQE's skew-join splitting handles moderate skew without this; the
    explicit rewrite is for the pathological keys AQE can't split
    (e.g. one key > a whole executor's memory)."""
    salted_fact = fact.withColumn(
        "_salt", F.pmod(F.crc32(discriminator.cast("string")), F.lit(salt_buckets))
    )
    salted_dim = dim.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)]))
    )
    cond = (salted_fact[fact_key] == salted_dim[dim_key]) & (
        salted_fact["_salt"] == salted_dim["_salt"]
    )
    return salted_fact.join(salted_dim, cond, how).drop("_salt")


def fuzzy_join_blocked(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    max_distance: int = 2,
    length_band: int = 4,
    method: str = "segment",
) -> DataFrame:
    """Fuzzy string match (edit distance ≤ ``max_distance``) WITHOUT the
    all-pairs cross join: candidates come from an equi-join on derived
    blocking keys; levenshtein runs only inside blocks.

    ``method="segment"`` (default) — pigeonhole segment blocking in the
    PassJoin family (Li, Deng & Feng, "PASS-JOIN: a partition-based
    method for similarity joins", VLDB 2011 — public algorithm):
    the RIGHT side partitions its normalized string into
    ``max_distance+1`` near-even segments; ≤ ``max_distance`` edits
    cannot touch every segment, so at least one survives verbatim in
    any matching left string, shifted by at most ``max_distance``
    positions. The LEFT side therefore probes with every substring of
    matching segment length within that position window, for every
    candidate right-length in ``±max_distance``. Keys are
    (right_len, segment_idx, segment_text) — COMPLETE recall (proven
    against brute force in tests, including position-0 and
    double-endpoint edits), at ~(2d+1)²(d+1) ≈ 75 probe keys per left
    row for d=2 vs 3 for prefix blocking. Strings shorter than
    ``max_distance+1`` chars can't fill the segments and fall into a
    tiny per-length block (complete there too).

    ``method="prefix"`` — the classic cheap heuristic: first-character
    × length-bucket blocks, plus a second pass blocked on the LAST
    character so a single edit at position 0 no longer escapes
    (VERDICT r3 task 7). Still approximate: a pair edited at BOTH
    endpoints (e.g. 'abc'→'bd') shares neither block — use
    ``method="segment"`` when recall must be exact.

    At 100 TB either key family spreads like any group-by key;
    pathological blocks are the skew the salted-join pattern above
    handles. Output: (left row.., right row.., edit_distance). A pair
    reachable through several blocks is emitted once — dedup is by
    per-row ids, not full-row distinct, so genuinely duplicate input
    rows keep their multiplicity and map-typed payload columns survive.
    """
    tau = int(max_distance)
    # A dim-sized left side often scans as ONE input split; when the
    # keyed right side broadcasts, the candidate join inherits that
    # single partition and every in-block levenshtein runs on one core
    # (the j_fellegi_sunter_parts sf1 finding — same blocked-self-join
    # class). Spread BEFORE assigning _lid: monotonically_increasing_id
    # is partition-dependent, so ids must be minted on the final layout.
    par = max(left.sparkSession.sparkContext.defaultParallelism, 1)
    if left.rdd.getNumPartitions() < par:
        left = left.repartition(par)
    lid = left.withColumn("_lid", F.monotonically_increasing_id())
    rid = right.withColumn("_rid", F.monotonically_increasing_id())

    if method == "segment":
        k = tau + 1
        seg_len = f"(n DIV {k} + IF(i < n % {k}, 1, 0))"
        seg_pos = f"(i * (n DIV {k}) + LEAST(i, n % {k}))"

        # Build with SQL lambdas (all JVM-side, zero Python in the row path).
        # n <= tau: segments would be empty -> single per-length key.
        right_expr = f"""
        CASE WHEN length(_norm) <= {tau}
             THEN array(named_struct('kn', length(_norm), 'ki', -1, 'kseg', ''))
             ELSE transform(sequence(0, {tau}), i ->
                    named_struct(
                      'kn', length(_norm), 'ki', i,
                      'kseg', substring(_norm,
                                        i * (length(_norm) DIV {k}) + LEAST(i, length(_norm) % {k}) + 1,
                                        length(_norm) DIV {k} + IF(i < length(_norm) % {k}, 1, 0))))
        END"""
        left_expr = f"""
        flatten(transform(sequence(greatest(length(_norm) - {tau}, 0), length(_norm) + {tau}), n ->
          CASE WHEN n <= {tau}
               THEN array(named_struct('kn', n, 'ki', -1, 'kseg', ''))
               ELSE flatten(transform(sequence(0, {tau}), i ->
                 CASE WHEN greatest({seg_pos} - {tau}, 0)
                        > least({seg_pos} + {tau}, length(_norm) - {seg_len})
                      THEN array()
                      ELSE transform(sequence(greatest({seg_pos} - {tau}, 0),
                                              least({seg_pos} + {tau}, length(_norm) - {seg_len})), q ->
                             named_struct('kn', n, 'ki', i,
                                          'kseg', substring(_norm, q + 1, {seg_len})))
                 END))
          END))"""
        lk = (
            lid.withColumn("_norm", F.lower(F.trim(F.col(left_col))))
            .withColumn("_key", F.explode(F.expr(left_expr)))
            .select(*lid.columns, F.col("_key.kn").alias("_kn"),
                    F.col("_key.ki").alias("_ki"), F.col("_key.kseg").alias("_kseg"))
        )
        rk = (
            rid.withColumn("_norm", F.lower(F.trim(F.col(right_col))))
            .withColumn("_key", F.explode(F.expr(right_expr)))
            .select(*rid.columns, F.col("_key.kn").alias("_kn"),
                    F.col("_key.ki").alias("_ki"), F.col("_key.kseg").alias("_kseg"))
        )
        joined = lk.join(rk, ["_kn", "_ki", "_kseg"]).drop("_kn", "_ki", "_kseg")
    elif method == "prefix":
        if max_distance > length_band:
            raise ValueError(
                f"length_band={length_band} cannot guarantee recall for "
                f"max_distance={max_distance}: pairs may differ by more than one bucket"
            )

        def keyed(df: DataFrame, col: str, with_neighbors: bool) -> DataFrame:
            norm = F.lower(F.trim(F.col(col)))
            bucket = F.floor(F.length(norm) / length_band)
            ends = [F.substring(norm, 1, 1), F.substr(norm, F.length(norm), F.lit(1))]
            buckets = [bucket - 1, bucket, bucket + 1] if with_neighbors else [bucket]
            blocks = F.array_distinct(
                F.array(*[
                    F.concat_ws("|", F.lit(tag), ch, b.cast("string"))
                    for tag, ch in zip(("F", "L"), ends)
                    for b in buckets
                ])
            )
            return df.withColumn("_blk", F.explode(blocks))

        joined = keyed(lid, left_col, True).join(
            keyed(rid, right_col, False), "_blk"
        ).drop("_blk")
    else:
        raise ValueError(f"unknown method {method!r}: use 'segment' or 'prefix'")

    dist = F.levenshtein(
        F.lower(F.trim(F.col(left_col))), F.lower(F.trim(F.col(right_col)))
    )
    return (
        joined.withColumn("edit_distance", dist)
        .filter(F.col("edit_distance") <= tau)
        .dropDuplicates(["_lid", "_rid"])
        .drop("_lid", "_rid")
    )


def robust_outlier_stats(
    df: DataFrame,
    value_col: str,
    keys: list[str],
    z_cut: float = 3.5,
) -> DataFrame:
    """Robust (median/MAD) outlier statistics per group — the
    Iglewicz–Hoaglin modified z-score (public statistical method):
    ``0.6745 * (x - median) / MAD``, flagging ``|Mz| > z_cut``. Unlike
    the mean/stddev z-score (``with_anomaly_flag``), a few extreme
    values cannot drag the threshold, which is what you want when the
    data is the thing being cleaned.

    Plan: one grouped exact-median agg, broadcast-join the medians back
    (group cardinality is small by construction), one grouped MAD agg,
    then one conditional-count agg — three shuffles on the group key,
    all with map-side partials. At 100 TB swap the exact percentiles
    for approx_percentile (same shape, bounded memory) — the exact form
    is kept here because it is oracle-checkable bit-for-bit.

    Output: keys..., med, mad, n_outliers, n_rows.
    """
    med = df.groupBy(*keys).agg(
        F.percentile(value_col, 0.5).alias("med")
    )
    j = df.join(F.broadcast(med), keys)
    mad = j.groupBy(*keys).agg(
        F.percentile(F.abs(F.col(value_col) - F.col("med")), 0.5).alias("mad")
    )
    j2 = j.join(F.broadcast(mad), keys)
    mz = 0.6745 * (F.col(value_col) - F.col("med")) / F.col("mad")
    return (
        j2.groupBy(*keys)
        .agg(
            F.round(F.first("med"), 4).alias("med"),
            F.round(F.first("mad"), 4).alias("mad"),
            F.sum(
                F.when(F.abs(mz) > z_cut, 1).otherwise(0)
            ).cast("long").alias("n_outliers"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def merge_upsert(
    target: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    set_cols: Sequence[str] | None = None,
    order_col: str | None = None,
    delete_col: str | None = None,
    with_action: bool = False,
) -> DataFrame:
    """SCD type-1 MERGE semantics as one full-outer join — the
    lakehouse upsert (MERGE INTO): matched keys take the update's
    values (including explicit NULLs — coalesce would silently keep
    stale data), unmatched update rows INSERT, unmatched target rows
    persist, and rows whose update carries ``delete_col = true`` are
    DROPPED (CDC tombstones).

    ``set_cols`` limits which target columns updates may overwrite
    (default: every shared non-key column); target-only columns ride
    along unchanged for matches and NULL for inserts. ``order_col``
    makes the merge idempotent against multi-row batches: updates are
    first reduced to the latest row per key (max order_col, unique
    tiebreak required upstream for exact determinism). ``with_action``
    appends a merge_action column ('updated' / 'inserted' / 'kept') for
    audit sinks.

    Scale: one shuffle on the merge keys (the join); the dedup window
    reuses the same key partitioning. Pair with
    sinks.merge_upsert_parquet for the partition-selective rewrite.
    """
    keys = list(keys)
    if not keys:
        raise ValueError("merge_upsert: keys must be non-empty")
    shared = [c for c in updates.columns if c in target.columns and c not in keys]
    if set_cols is None:
        set_cols = shared
    else:
        missing = [c for c in set_cols if c not in updates.columns]
        if missing:
            raise ValueError(f"merge_upsert: set_cols absent from updates: {missing}")
    if order_col is not None:
        w = Window.partitionBy(*keys).orderBy(F.desc(order_col))
        updates = (
            updates.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    # alias-qualified references (not DataFrame attribution): the target
    # is often derived from a previous merge of the SAME updates frame
    # (idempotent replay), and attribute-style u[c]/t[c] hits Spark's
    # self-join lineage ambiguity there
    u = updates.withColumn("_u_present", F.lit(True)).alias("_mu")
    t = target.withColumn("_t_present", F.lit(True)).alias("_mt")
    joined = t.join(u, keys, "full_outer")
    if delete_col is not None:
        joined = joined.filter(
            ~F.coalesce(F.col(f"_mu.{delete_col}"), F.lit(False))
        )
    upd = F.col("_u_present").isNotNull()
    cols = [F.col(k).alias(k) for k in keys]
    for c in target.columns:
        if c in keys:
            continue
        if c in set_cols:
            cols.append(
                F.when(upd, F.col(f"_mu.{c}"))
                .otherwise(F.col(f"_mt.{c}"))
                .alias(c)
            )
        else:
            cols.append(F.col(f"_mt.{c}").alias(c))
    if with_action:
        cols.append(
            F.when(upd & F.col("_t_present").isNotNull(), F.lit("updated"))
            .when(upd, F.lit("inserted"))
            .otherwise(F.lit("kept"))
            .alias("merge_action")
        )
    return joined.select(*cols)


def assign_dense_ids(
    df: DataFrame,
    order_cols: Sequence[str],
    id_col: str = "dense_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Assign dense 0..n-1 ids in global ``order_cols`` order WITHOUT
    the classic bottleneck: a bare ``row_number() OVER (ORDER BY ...)``
    funnels the whole table through ONE partition. This is the
    two-phase zipWithIndex shape instead:

      1. range-repartition on the order keys (distributed sort — every
         partition holds a contiguous key range, partition ids ordered
         by range);
      2. per-partition counts -> prefix-sum offsets (tiny frame: one
         row per partition, broadcast back);
      3. id = partition offset + in-partition row_number.

    Two distributed exchanges (range + the pid-clustered window), zero
    single-partition stages. Output ids are deterministic whenever
    ``order_cols`` totally order the rows (range boundaries may vary
    run to run; the global order — and therefore the ids — do not).
    The standard use: minting contiguous surrogate keys / sample
    indices for a 100 TB corpus.
    """
    order_cols = list(order_cols)
    if not order_cols:
        raise ValueError("assign_dense_ids: order_cols must be non-empty")
    par = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    # eager materialization: the ranged frame feeds BOTH the counts agg
    # and the final join — unmaterialized, each reference re-derives the
    # caller's whole upstream subtree (and re-samples range boundaries,
    # which must be IDENTICAL between the two reads for the offsets to
    # line up with the in-partition ranks)
    ranged = materialize(
        df.repartitionByRange(par, *order_cols)
        .withColumn("_pid", F.spark_partition_id())
    )
    counts = ranged.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n"))
    # prefix-sum offsets via a tiny broadcast theta self-join (one row
    # per partition, so O(P^2) pairs is nothing) — NOT an unpartitioned
    # window, which would be a WindowExec single-task stage; constant
    # partition keys get folded away, so no window formulation avoids it
    lower = counts.select(F.col("_pid").alias("_pid2"), F.col("_n").alias("_n2"))
    offsets = (
        counts.join(F.broadcast(lower), F.col("_pid2") < F.col("_pid"), "left")
        .groupBy("_pid")
        .agg(F.coalesce(F.sum("_n2"), F.lit(0)).alias("_offset"))
    )
    w_in = Window.partitionBy("_pid").orderBy(*order_cols)
    return (
        ranged.join(F.broadcast(offsets), "_pid")
        .withColumn(id_col, F.col("_offset") + F.row_number().over(w_in) - 1)
        .drop("_pid", "_offset")
    )


# -- interval-overlap join (bucketized, no cross join) ----------------------


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    l_start: str,
    l_end: str,
    r_start: str,
    r_end: str,
    bucket_seconds: int = 1800,
) -> DataFrame:
    """Join two interval sets on temporal overlap (inclusive:
    ``l_start <= r_end AND r_start <= l_end``) without a cross join.

    Each interval explodes into the epoch-time buckets it covers
    (``bucket_seconds`` wide); candidates meet on an equi-join over the
    bucket id; the exact overlap predicate then filters. A pair sharing
    several buckets would surface once per shared bucket, so each
    candidate is kept only in the FIRST bucket the two intervals share
    (the bucket of the later start) — dedup by construction, no
    ``distinct`` shuffle.

    Input columns must already be disjoint between the two sides
    (alias before calling); both start/end columns are timestamps.

    Scale posture: shuffle is one exchange per side keyed on the 8-byte
    bucket id; per-interval fan-out is ceil(len / bucket_seconds) + 1,
    so pick ``bucket_seconds`` near the median interval length (fan-out
    ~2) — far better than the quadratic per-key explosion of a naive
    time-equality self-join, and it needs no equi-key at all. Skew:
    bucket load is bounded by how many intervals genuinely overlap a
    time window; a hot window is real data skew, mitigated by AQE skew
    join on the bucket exchange."""
    w = int(bucket_seconds)

    def bucketed(df: DataFrame, start: str, end: str) -> DataFrame:
        lo = (F.unix_timestamp(F.col(start)) / w).cast("long")
        hi = (F.unix_timestamp(F.col(end)) / w).cast("long")
        return df.withColumn("_bucket", F.explode(F.sequence(lo, hi)))

    lb = bucketed(left, l_start, l_end)
    rb = bucketed(right, r_start, r_end)
    first_shared = (
        F.unix_timestamp(F.greatest(F.col(l_start), F.col(r_start))) / w
    ).cast("long")
    return (
        lb.join(rb, "_bucket")
        .filter(
            (F.col(l_start) <= F.col(r_end)) & (F.col(r_start) <= F.col(l_end))
        )
        .filter(F.col("_bucket") == first_shared)
        .drop("_bucket")
    )


# -- CDC: snapshot diff (changeset derivation, join-free) -------------------


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Derive the changeset between two snapshot versions of a keyed
    table: rows present only in ``new`` → ``insert``, only in ``old`` →
    ``delete``, present in both with any compared column differing
    (null-safe) → ``update``. Returns (keys..., change_type); unchanged
    rows are dropped. The inverse of ``merge_upsert`` — feed its output
    back through merge_upsert to replay ``old`` into ``new``.

    Keys must be unique within each snapshot (the usual primary-key
    contract; violated inputs produce arbitrary-per-key comparisons).

    Scale posture: NOT a full-outer join (2 exchanges + join state).
    Both sides are tagged and unioned, then ONE groupBy on the key
    computes presence flags and each side's value via conditional
    max — a single shuffle with map-side partial aggregation, state
    bounded by one row per key. Column values are compared directly
    (eqNullSafe), not through an engine-specific hash."""
    if not keys:
        raise ValueError("snapshot_diff: keys must be non-empty")
    if compare_cols is None:
        compare_cols = [c for c in new.columns if c not in set(keys)]
    o = old.select(*keys, *compare_cols).withColumn("_side", F.lit(0))
    n = new.select(*keys, *compare_cols).withColumn("_side", F.lit(1))
    aggs = [
        F.max(F.when(F.col("_side") == 0, 1).otherwise(0)).alias("_in_old"),
        F.max(F.when(F.col("_side") == 1, 1).otherwise(0)).alias("_in_new"),
    ]
    for c in compare_cols:
        aggs.append(F.max(F.when(F.col("_side") == 0, F.col(c))).alias(f"_old_{c}"))
        aggs.append(F.max(F.when(F.col("_side") == 1, F.col(c))).alias(f"_new_{c}"))
    g = o.unionByName(n).groupBy(*keys).agg(*aggs)
    differs = F.lit(False)
    for c in compare_cols:
        differs = differs | ~F.col(f"_old_{c}").eqNullSafe(F.col(f"_new_{c}"))
    change = (
        F.when(F.col("_in_old") == 0, F.lit("insert"))
        .when(F.col("_in_new") == 0, F.lit("delete"))
        .when(differs, F.lit("update"))
    )
    return (
        g.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(*keys, "change_type")
    )


def mode_per_group(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    mode_col: str = "mode",
    count_col: str = "n",
) -> DataFrame:
    """MODE per group: each group's most frequent ``value_col`` — the
    categorical central-tendency aggregate SQL's MODE() gives and Spark
    doesn't. Two-stage: (keys, value) count (map-side combined), then a
    rank-1 window over the tiny per-group count frame. The tiebreak is
    total (count desc, value asc with NULLS LAST — pinned explicitly
    because Spark's ascending default is nulls-first while standard SQL
    engines default nulls-last), so every engine picks the same winner.
    Both exchanges key on the group, so a cluster plans them as one
    partitioning. Groups whose values are all NULL yield a NULL mode
    with the null count."""
    keys = list(keys)
    c = df.groupBy(*keys, value_col).agg(
        F.count(F.lit(1)).cast("long").alias("_n")
    )
    w = Window.partitionBy(*keys).orderBy(
        F.desc("_n"), F.col(value_col).asc_nulls_last()
    )
    return (
        c.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select(
            *keys,
            F.col(value_col).alias(mode_col),
            F.col("_n").alias(count_col),
        )
    )


def distributed_prefix_sum(
    df: DataFrame,
    order_cols: Sequence[str],
    sum_cols: Sequence[str],
    out_prefix: str = "cum_",
    num_partitions: int | None = None,
) -> DataFrame:
    """EXCLUSIVE running totals of ``sum_cols`` in global ``order_cols``
    order (each row gets the sum over all STRICTLY EARLIER rows, 0 for
    the first) without the single-partition ``sum() OVER (ORDER BY …)``
    funnel — the same two-phase shape as :func:`assign_dense_ids`:

      1. range-repartition on the order keys (distributed sort);
      2. per-partition totals -> per-partition starting offsets via the
         tiny broadcast theta self-join (one row per partition);
      3. running value = partition offset + in-partition exclusive
         window sum.

    Two distributed exchanges, zero single-partition stages. Results
    are deterministic whenever ``order_cols`` totally order the rows
    (for float sum columns the in-partition accumulation order is then
    fixed too, but cross-partition grouping still differs run to run —
    prefer integer sum columns when downstream hashes the output, the
    engine-wide exactness posture). The standard uses: cumulative
    distribution / midrank computation over a grouped-by-value frame,
    watermark offsets for file stitching, Lorenz curves.
    """
    order_cols = list(order_cols)
    sum_cols = list(sum_cols)
    if not order_cols or not sum_cols:
        raise ValueError("distributed_prefix_sum: order_cols and sum_cols required")
    par = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    ranged = materialize(
        df.repartitionByRange(par, *order_cols)
        .withColumn("_pid", F.spark_partition_id())
    )
    totals = ranged.groupBy("_pid").agg(
        *[F.sum(c).alias(f"_t_{c}") for c in sum_cols]
    )
    lower = totals.select(
        F.col("_pid").alias("_pid2"),
        *[F.col(f"_t_{c}").alias(f"_t2_{c}") for c in sum_cols],
    )
    offsets = (
        totals.join(F.broadcast(lower), F.col("_pid2") < F.col("_pid"), "left")
        .groupBy("_pid")
        .agg(
            *[
                F.coalesce(F.sum(f"_t2_{c}"), F.lit(0)).alias(f"_off_{c}")
                for c in sum_cols
            ]
        )
    )
    w_in = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = ranged.join(F.broadcast(offsets), "_pid")
    for c in sum_cols:
        out = out.withColumn(
            f"{out_prefix}{c}",
            F.col(f"_off_{c}") + F.coalesce(F.sum(c).over(w_in), F.lit(0)),
        )
    return out.drop("_pid", *[f"_off_{c}" for c in sum_cols])


def two_phase_topk(
    df: DataFrame,
    part_cols: list,
    order_cols: list,
    k: int,
    salt_on: "Column | str",
    buckets: int = 64,
) -> DataFrame:
    """Hub-proof per-group top-k (the SCALE.md item-kNN hub-skew row's
    mitigation, made reusable): a plain ``row_number() OVER
    (PARTITION BY group ORDER BY ...)`` sorts each group's FULL row set
    on one task — fine until a mega-hub group outgrows task memory, and
    AQE cannot help (skew splitting applies to join exchanges, not
    window exchanges). This runs the truncation twice: per
    (group, salt) first — ``buckets``-way hash salt on ``salt_on``,
    which must be part of the total order's tiebreak domain — then per
    group over the ≤ k·buckets survivors.

    Semantics-preserving BY CONSTRUCTION for any total ``order_cols``
    order: every global top-k row is in its salt bucket's top-k (a
    bucket subset preserves relative order), so phase 2 sees all of
    them; equality against the plain window is asserted in
    tests/test_relational.py and by the scale smoke's checksum.

    Cost: one extra exchange + the bounded phase-2 window. Measured
    crossover (SCALE.md): the plain window WINS below ~10M rows per
    hottest group (1.32x at 8M), reaches parity near 38M, and is the
    only valid plan past task memory — so default to the plain window
    and switch here when a degree probe shows a mega-hub."""
    if k < 1:
        raise ValueError(f"two_phase_topk: k must be >= 1, got {k}")
    if buckets < 2:
        raise ValueError(f"two_phase_topk: buckets must be >= 2, got {buckets}")
    salt = F.pmod(F.xxhash64(salt_on), F.lit(int(buckets)))
    salted = df.withColumn("_tpk_salt", salt)
    w1 = Window.partitionBy(*part_cols, "_tpk_salt").orderBy(*order_cols)
    survivors = (
        salted.withColumn("_tpk_rn", F.row_number().over(w1))
        .filter(F.col("_tpk_rn") <= k)
        .drop("_tpk_rn", "_tpk_salt")
    )
    w2 = Window.partitionBy(*part_cols).orderBy(*order_cols)
    return (
        survivors.withColumn("_tpk_rn", F.row_number().over(w2))
        .filter(F.col("_tpk_rn") <= k)
        .drop("_tpk_rn")
    )
