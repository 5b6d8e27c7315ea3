"""Vector similarity search over an embedding column (north-star X3).

Baseline: exact brute-force cosine top-k — broadcast the query set,
compute dot products with built-in higher-order array functions
(``F.zip_with`` + ``F.aggregate``, JVM-side), rank with a per-query
window. Exact and SQL-expressible (the DuckDB oracle path).

Scale path: LSH bucketing (BucketedRandomProjectionLSH) or an IVF-style
coarse quantizer — candidates come from bucket equality joins instead of
the full cross product. At 100 TB brute force against a handful of
queries is actually fine (it's a broadcast map-side scan + top-k, no
shuffle of the corpus); LSH pays off when the query side is also huge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.column import Column

from ..materialize import materialize


_NUM_PARTITIONS_CACHE: dict = {}


def ensure_min_parallelism(df: DataFrame) -> DataFrame:
    """Give compute-bound per-row operators at least one partition per
    core. A small parquet input arrives as ONE split, which serializes
    every downstream map stage — the banded near-dup rerank measured
    24 s on a 1-split input vs 2.0 s after a 32-way repartition of the
    same rows. At 100 TB a corpus scan yields thousands of splits and
    this guard is a no-op; it only fires when splits < cores, where the
    round-robin shuffle it adds moves just the projected input once —
    negligible next to the per-row array folds it parallelizes.

    The split-count probe (``df.rdd.getNumPartitions`` — a plan→RDD
    conversion, ~150 ms of driver time) is memoized per (app, file set)
    for file-backed frames: the same files always scan into the same
    splits under one session's conf."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    files = tuple(sorted(df.inputFiles()))
    if files:
        key = (sc.applicationId, files)
        n = _NUM_PARTITIONS_CACHE.get(key)
        if n is None:
            n = df.rdd.getNumPartitions()
            _NUM_PARTITIONS_CACHE[key] = n
    else:
        n = df.rdd.getNumPartitions()
    if n < target:
        return df.repartition(target)
    return df


def dot(a: Column, b: Column) -> Column:
    """Elementwise product summed — stays in codegen, no UDF."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / F.nullif(l2_norm(a) * l2_norm(b), F.lit(0.0))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k for each query vector.

    ``queries``: (query_id, embedding). The query side is broadcast, so the
    corpus never shuffles for the similarity computation; the only shuffle
    is the per-query top-k window (tiny: n_queries × corpus partitions × k
    after partial ranking under AQE).
    """
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("_qvec"),
        l2_norm(F.col(vec_col)).alias("_qnorm"),
    )
    # Norms are materialized once per row BELOW the join (the fold runs
    # |corpus| + |queries| times, not |corpus| × |queries|); the fold is
    # the same left-to-right IEEE sequence as `cosine`'s, so the rewrite
    # is bit-identical.
    c = ensure_min_parallelism(
        corpus.select(F.col(id_col), F.col(vec_col), l2_norm(F.col(vec_col)).alias("_norm"))
    )
    # numeric.q6, NOT F.round: a cosine landing exactly on a 6-decimal
    # boundary rounded apart between engines and flipped ranks at sf0.1
    # (see operators/numeric.py for the full rationale).
    from .numeric import q6

    raw = dot(F.col(vec_col), F.col("_qvec")) / F.nullif(
        F.col("_norm") * F.col("_qnorm"), F.lit(0.0)
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        F.col(query_id_col),
        F.col(id_col),
        q6(raw).alias("cosine_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine_sim"), F.asc(id_col))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(query_id_col, id_col, "cosine_sim", "rnk")
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    bucket_length: float = 2.0,
    num_hash_tables: int = 8,
) -> DataFrame:
    """Approximate top-k via BucketedRandomProjectionLSH (the scale path).

    Euclidean-LSH buckets generate candidates; exact cosine re-ranks them.
    Recall is tunable via num_hash_tables/bucket_length. Returns the same
    schema as ``brute_force_topk`` so the two are drop-in comparable.
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    c = corpus.select(id_col, vec_col).withColumn(
        "_v", array_to_vector(F.col(vec_col).cast("array<double>"))
    )
    q = queries.select(query_id_col, vec_col).withColumn(
        "_v", array_to_vector(F.col(vec_col).cast("array<double>"))
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="_v", outputCol="_h", bucketLength=bucket_length, numHashTables=num_hash_tables, seed=42
    )
    model = lsh.fit(c)
    cand = model.approxSimilarityJoin(q, c, float("inf"), distCol="_d").select(
        F.col(f"datasetA.{query_id_col}").alias(query_id_col),
        F.col(f"datasetB.{id_col}").alias(id_col),
        F.round(
            cosine(F.col(f"datasetA.{vec_col}"), F.col(f"datasetB.{vec_col}")), 6
        ).alias("cosine_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine_sim"), F.asc(id_col))
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(query_id_col, id_col, "cosine_sim", "rnk")
    )


from collections import OrderedDict

_CODEBOOK_CACHE: dict = {}
_INDEX_CACHE: OrderedDict = OrderedDict()


def _cached_index(source_df: DataFrame, key_parts: tuple, build):
    """Memoize + persist an index-side DataFrame (IVF cell assignments,
    LSH band tables): built once per corpus version, reused across query
    batches — exactly how inverted lists / bucket tables amortize in a
    real vector store. Keyed by (Spark app id, source files, params); a
    new corpus version (different file set) or a new session rebuilds.
    Non-file sources (in-memory test frames) skip the cache. Persist is
    MEMORY_AND_DISK: at true 100 TB the same artifact would be WRITTEN
    to storage bucketed by its key at ingest time — the cache models
    that materialization inside one long-lived session."""
    files = tuple(sorted(source_df.inputFiles()))
    if not files:
        return build()
    key = (source_df.sparkSession.sparkContext.applicationId, files) + key_parts
    if key not in _INDEX_CACHE:
        # Bounded LRU: evict + unpersist the oldest entry beyond 16 so a
        # long-lived session cycling many corpora can't pin executor
        # storage indefinitely (each entry is a narrow index table, but
        # bounded beats documented-unbounded).
        while len(_INDEX_CACHE) >= 16:
            _, old = _INDEX_CACHE.popitem(last=False)
            old.unpersist()
        # A raw persist, not ``materialize``: the entry is a declared
        # session fixture that must outlive the query_scope of the query
        # that built it; the LRU above is what frees it.
        _INDEX_CACHE[key] = build().persist()
    else:
        _INDEX_CACHE.move_to_end(key)
    return _INDEX_CACHE[key]


def fit_codebook(
    corpus: DataFrame,
    k: int = 64,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 20,
) -> list:
    """Train the IVF coarse quantizer: MLlib KMeans over the corpus (one
    distributed fit), returning ``[(cid, [float, ...]), ...]`` for
    ``ivf_topk``. The codebook is k × dim floats — driver-resident by
    design, like every IVF implementation. At 100 TB fit on a sample
    (``corpus.sample(...)``): codebook quality needs representative
    coverage, not every row.

    The fit is memoized per (input files, k, seed, max_iter): a codebook
    is an index artifact, built once per corpus version and reused across
    every query batch — exactly how IVF indexes amortize in a vector
    store. Seeded KMeans on the same input is deterministic, so the cache
    never changes results; a new corpus version (different file set)
    refits. Non-file inputs (e.g. in-memory test frames) skip the cache.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    files = tuple(sorted(corpus.inputFiles()))
    key = (files, k, seed, max_iter, vec_col) if files else None
    if key is not None and key in _CODEBOOK_CACHE:
        return _CODEBOOK_CACHE[key]
    vecs = corpus.select(array_to_vector(F.col(vec_col).cast("array<double>")).alias("_v"))
    model = KMeans(k=k, seed=seed, maxIter=max_iter, featuresCol="_v").fit(vecs)
    book = [(i, list(c)) for i, c in enumerate(model.clusterCenters())]
    if key is not None:
        _CODEBOOK_CACHE[key] = book
    return book


def _py_l2_norm(vec) -> float:
    """Driver-side centroid norm with the SAME IEEE operation sequence as
    ``l2_norm``'s left-to-right fold (and DuckDB's list_dot_product), so
    precomputing it changes nothing numerically."""
    import math

    acc = 0.0
    for x in vec:
        acc += float(x) * float(x)
    return math.sqrt(acc)


def _best_cells(vec_sql: str, centroids, nprobe: int, vnorm_sql: str | None = None) -> Column:
    """Array of the ``nprobe`` centroid ids nearest to the vector column
    named by ``vec_sql``, by cosine (rounded to 6dp; ties break to the
    smaller centroid id).

    ``centroids`` is a driver-side list of ``(cid, [float, ...])`` — the
    coarse codebook is tiny by construction, so it compiles into literal
    arrays: assignment is pure map-side work, the corpus never shuffles
    to find its cell.

    All k dots accumulate in ONE transposed fold (CT = centroid matrix
    transposed to dim × k literals; per centroid the adds still run
    left-to-right over the dim index — the exact IEEE sequence of a
    per-centroid ``dot`` fold and of the oracle's list_dot_product, so
    cell choices are provably unchanged). The dots value is bound once
    via the array-lambda let before the per-centroid ranking structs
    reference it k times. The whole thing is one expr STRING: the
    previous per-centroid Column form cost k×dim F.lit py4j round-trips
    at plan build and k independent folds at runtime.
    (Unrolling the dots into scalar arithmetic was tried and is ~8×
    WORSE: the 500+-node expression tree exceeds codegen limits and
    falls back to interpreted eval. Array folds are the right shape.)
    """
    if vnorm_sql is None:
        vnorm_sql = f"sqrt(aggregate({vec_sql}, cast(0.0 as double), (acc, v) -> acc + v * v))"
    cents = sorted(centroids)  # cid order so cid == position - 1
    assert [c[0] for c in cents] == list(range(len(cents)))
    dim = len(cents[0][1])
    k = len(cents)
    ct = "array(" + ", ".join(
        "array(" + ", ".join(repr(float(cents[j][1][i])) for j in range(k)) + ")"
        for i in range(dim)
    ) + ")"
    cnorms = "array(" + ", ".join(repr(_py_l2_norm(c[1])) for c in cents) + ")"
    dots = (
        f"aggregate(sequence(1, {dim}), "
        f"array_repeat(cast(0.0 as double), {k}), "
        f"(acc, i) -> zip_with(acc, element_at({ct}, i), "
        f"(a, c) -> a + element_at({vec_sql}, i) * c))"
    )
    # Both the dots array AND the row norm are bound once via the
    # array-lambda let (the ranking structs reference them k times;
    # unbound, CollapseProject would re-evaluate the folds per centroid).
    ranked = (
        f"element_at(transform(array(struct({dots} AS ds, ({vnorm_sql}) AS vn)), t -> "
        f"slice(sort_array(transform(sequence(0, {k - 1}), j -> "
        f"struct(-round(element_at(t.ds, j + 1) / "
        f"nullif(t.vn * element_at({cnorms}, j + 1), 0.0), 6) AS neg, "
        f"j AS cid))), 1, {nprobe})), 1)"
    )
    return F.expr(ranked).getField("cid")


def assign_cells_np(
    df: DataFrame,
    centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Corpus→cell assignment as ONE BLAS matmul per Arrow batch
    (mapInPandas) instead of k codegen array-folds per row.

    The literal-array assignment in ``_best_cells`` is the right shape at
    a toy codebook (k≈8): pure JVM, no Python boundary. But its per-row
    cost and its expression-tree size both grow linearly with k; at a
    realistic IVF codebook (k=64-4096) the plan stops fitting codegen and
    the folds dominate the scan. Here the k×d codebook rides into each
    task as a closure constant (a few hundred KB — same distribution cost
    as a broadcast literal), rows cross into Python via Arrow in columnar
    batches, and all |batch|×k dot products happen in one
    ``X @ C.T`` — vectorized C loops, ~memory-bandwidth bound.

    Still map-side: no shuffle, the corpus is scanned once, and the output
    carries (id, vec, norm, cell) exactly like the expression path so
    ``ivf_topk`` can consume either. Ties break to the first (smallest-id)
    centroid, matching the expression path's tie rule; the expression path
    additionally rounds similarities to 6dp before ranking, so on
    exact-tie-after-rounding edges the two may pick different (equally
    near) cells — irrelevant to ANN semantics.
    """
    import numpy as np

    C = np.asarray([c for _, c in centroids], dtype=np.float64)
    cids = np.asarray([int(cid) for cid, _ in centroids], dtype=np.int32)
    cn = np.linalg.norm(C, axis=1, keepdims=True)
    Cn = C / np.where(cn == 0, 1.0, cn)
    out_schema = f"{id_col} bigint, {vec_col} array<double>, _norm double, _cell int"

    def assign(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf[vec_col].to_numpy())
            nrm = np.linalg.norm(X, axis=1)
            sims = (X / np.where(nrm == 0, 1.0, nrm)[:, None]) @ Cn.T
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    vec_col: pdf[vec_col],
                    "_norm": nrm,
                    "_cell": cids[np.argmax(sims, axis=1)],
                }
            )

    return ensure_min_parallelism(df.select(id_col, vec_col)).mapInPandas(
        assign, schema=out_schema
    )


def probe_cells_np(
    queries: DataFrame,
    centroids,
    nprobe: int,
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query-side twin of ``assign_cells_np``: nprobe nearest cells per
    query via one matmul + argsort per Arrow batch, pre-exploded to one
    (query, cell) row per probe. Ties break to the smaller centroid index
    (argsort is stable). Same motivation: the expression-tree probe
    (``_best_cells`` with k structs) stops compiling at realistic k."""
    import numpy as np

    C = np.asarray([c for _, c in centroids], dtype=np.float64)
    cids = np.asarray([int(cid) for cid, _ in centroids], dtype=np.int32)
    cn = np.linalg.norm(C, axis=1, keepdims=True)
    Cn = C / np.where(cn == 0, 1.0, cn)
    out_schema = f"{query_id_col} bigint, _qvec array<double>, _qnorm double, _cell int"

    def probe(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf[vec_col].to_numpy())
            nrm = np.linalg.norm(X, axis=1)
            sims = (X / np.where(nrm == 0, 1.0, nrm)[:, None]) @ Cn.T
            top = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
            n = len(pdf)
            yield pd.DataFrame(
                {
                    query_id_col: np.repeat(pdf[query_id_col].to_numpy(), nprobe),
                    "_qvec": pdf[vec_col].iloc[np.repeat(np.arange(n), nprobe)].to_numpy(),
                    "_qnorm": np.repeat(nrm, nprobe),
                    "_cell": cids[top.ravel()],
                }
            )

    return queries.select(query_id_col, vec_col).mapInPandas(probe, schema=out_schema)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    assign: str = "expr",
) -> DataFrame:
    """Approximate top-k via an IVF-style coarse quantizer (the scale path
    that stays SQL-expressible, unlike LSH).

    Each corpus vector is assigned map-side to its nearest centroid cell;
    each query probes its ``nprobe`` nearest cells; candidates come from a
    broadcast equality join on the cell id; exact cosine re-ranks. The
    only shuffle is the per-query top-k window over candidates — at 100 TB
    the corpus is scanned once, filtered to ~nprobe/C of itself by the
    cell join, and never repartitioned.

    ``centroids``: list of ``(cid, vector)`` — in production the k-means
    codebook; here any deterministic seed set works.

    ``assign``: ``"expr"`` (codegen literal-array folds — zero Python,
    right at toy k) or ``"numpy"`` (one BLAS matmul per Arrow batch via
    ``assign_cells_np``/``probe_cells_np`` — the production path once k
    outgrows what the expression tree can carry. Measured at sf0.1,
    dim 64: expr runs 12.7 s at k=8, 71 s at k=16, and OOMs the driver
    at k=32 — Catalyst tree transforms are superlinear in the k×d
    literal payload — while numpy assignment is ~1 s flat at k=32 and
    k=64).
    """
    # Row norms are computed ONCE per corpus/query row and reused both for
    # cell assignment and for the candidate rerank — the rerank fold count
    # drops from 3 per candidate pair (dot + 2 norms) to 1 (dot). The
    # norm fold is the same left-to-right IEEE sequence `cosine` uses, so
    # scores are bit-identical to the naive form.
    if assign == "numpy":
        # The assigned corpus IS the IVF inverted file — index-side, so it
        # memoizes per corpus version (see _cached_index). Deterministic
        # assignment means the cache can never change results.
        import hashlib

        chash = hashlib.sha256(repr(centroids).encode()).hexdigest()[:16]
        c_assigned = _cached_index(
            corpus,
            ("ivf_assign", id_col, vec_col, chash),
            lambda: assign_cells_np(corpus, centroids, id_col=id_col, vec_col=vec_col),
        )
        q_probes = probe_cells_np(
            queries, centroids, nprobe, query_id_col=query_id_col, vec_col=vec_col
        )
    else:
        # The assigned corpus is the inverted file here too — memoized per
        # corpus version like the numpy path (deterministic, so results
        # are unchanged; see _cached_index).
        import hashlib

        chash = hashlib.sha256(repr(centroids).encode()).hexdigest()[:16]
        c_assigned = _cached_index(
            corpus,
            ("ivf_assign_expr", id_col, vec_col, chash),
            lambda: (
                ensure_min_parallelism(corpus.select(id_col, vec_col))
                .withColumn("_norm", l2_norm(F.col(vec_col)))
                .withColumn(
                    "_cell", _best_cells(vec_col, centroids, 1, vnorm_sql="_norm")[0]
                )
            ),
        )
        q_probes = (
            queries.withColumn("_qnorm", l2_norm(F.col(vec_col)))
            .select(
                F.col(query_id_col),
                F.col(vec_col).alias("_qvec"),
                F.col("_qnorm"),
                F.explode(
                    _best_cells(vec_col, centroids, nprobe, vnorm_sql="_qnorm")
                ).alias("_cell"),
            )
        )
    return _ivf_rerank(c_assigned, q_probes, k, id_col, vec_col, query_id_col)


def _ivf_rerank(
    c_assigned: DataFrame,
    q_probes: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
) -> DataFrame:
    """Shared IVF tail: broadcast the probe table onto the inverted file
    (cell-equality join — with a cell-partitioned on-disk index this is
    the join dynamic partition pruning keys off), exact-cosine rerank,
    per-query top-k window."""
    cand = c_assigned.join(F.broadcast(q_probes), "_cell").select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(
            dot(F.col(vec_col), F.col("_qvec"))
            / F.nullif(F.col("_norm") * F.col("_qnorm"), F.lit(0.0)),
            6,
        ).alias("cosine_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine_sim"), F.asc(id_col))
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(query_id_col, id_col, "cosine_sim", "rnk")
    )


def save_ivf_index(
    corpus: DataFrame,
    centroids,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign: str = "expr",
) -> None:
    """Persist the IVF index as TABLES — the 100 TB posture: the
    inverted file (corpus + norms + cell assignment) lands as parquet
    PARTITIONED BY the cell id, the codebook as a tiny sibling table.
    A later query session reads only the probed cells' partitions
    (partition pruning / DPP on the `_cell` join key) instead of
    rebuilding assignments over the full corpus — index build cost is
    paid once per corpus version, not once per session."""
    if assign == "numpy":
        assigned = assign_cells_np(corpus, centroids, id_col=id_col, vec_col=vec_col)
    else:
        assigned = (
            ensure_min_parallelism(corpus.select(id_col, vec_col))
            .withColumn("_norm", l2_norm(F.col(vec_col)))
            .withColumn("_cell", _best_cells(vec_col, centroids, 1, vnorm_sql="_norm")[0])
        )
    assigned.write.mode("overwrite").partitionBy("_cell").parquet(f"{path}/inverted")
    spark = corpus.sparkSession
    spark.createDataFrame(
        [(int(cid), [float(x) for x in vec]) for cid, vec in centroids],
        "cid int, vector array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")


def ivf_apply_tombstones(
    inv: DataFrame, tombstones: DataFrame, id_col: str = "vec_id"
) -> DataFrame:
    """Tombstone-aware READ view of an IVF inverted file (VERDICT r10
    item 8): real corpora retire vectors (dedup kills, TTL), and the
    probe path must never surface a dead posting. The view is a
    LEFT-ANTI join on the vector id with NO forced broadcast hint
    (ADVICE r11): the plan never REQUIRES the delete set to fit one
    executor — a corpus-proportional tombstone set (10% of 100 TB)
    plans as a shuffled anti-join — while Spark/AQE remains free to
    broadcast a delete set it measures as small, which is the right
    call when it is. Applied BEFORE the top-k truncation: the
    classic tombstone bug filters after the cut and silently returns
    k - dead results; anti-joining the postings themselves makes that
    impossible by construction.

    ``tombstones``: a 1-column frame of retired ids (column name must
    equal ``id_col``)."""
    return inv.join(tombstones.select(id_col), [id_col], "left_anti")


def compact_ivf_index(
    inv: DataFrame, tombstones: DataFrame, id_col: str = "vec_id"
) -> DataFrame:
    """Periodic IVF compaction: physically rewrite the inverted file
    with dead postings dropped and cells re-balanced. Logically the
    same anti-join as :func:`ivf_apply_tombstones`; the difference is
    the POSTURE — this materializes the survivor set re-clustered on
    the cell id (one exchange), so the rewritten parquet layout
    (save_ivf_index's partitionBy('_cell')) gets evenly-sized live
    files back and probe-time reads stop paying the anti-join. Run it
    when the tombstone ratio crosses a threshold (the LSM compaction
    rhythm); between compactions the tombstone view serves reads.
    Equality vs a from-scratch rebuild on the live set is ASSERTED by
    x_ann_ivf_delete_compact, not assumed — per-row cell argmax is
    independent of every other row, so compaction can never change
    assignments."""
    live = ivf_apply_tombstones(inv, tombstones, id_col=id_col)
    return materialize(live.repartition("_cell"))


def load_ivf_index(spark, path: str):
    """Load a persisted IVF index: (inverted-file DataFrame, codebook
    list) — the codebook is tiny by construction (k rows) so collecting
    it to the driver is the intended pattern."""
    inv = spark.read.parquet(f"{path}/inverted")
    cents = [
        (r["cid"], list(r["vector"]))
        for r in spark.read.parquet(f"{path}/centroids").orderBy("cid").collect()
    ]
    return inv, cents


def ivf_topk_from_index(
    inv: DataFrame,
    centroids,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """ivf_topk against a PERSISTED inverted file (see save_ivf_index):
    probes compute map-side on the (tiny) query set, and the broadcast
    cell join lets Spark prune the index scan to the probed cells'
    partitions. Bit-identical to ivf_topk on the same corpus/codebook —
    asserted in tests."""
    q_probes = (
        queries.withColumn("_qnorm", l2_norm(F.col(vec_col)))
        .select(
            F.col(query_id_col),
            F.col(vec_col).alias("_qvec"),
            F.col("_qnorm"),
            F.explode(
                _best_cells(vec_col, centroids, nprobe, vnorm_sql="_qnorm")
            ).alias("_cell"),
        )
    )
    return _ivf_rerank(inv, q_probes, k, id_col, vec_col, query_id_col)


def rp_hyperplanes(n_planes: int, dim: int, seed: int = 42) -> list:
    """Deterministic random-hyperplane set for signed-random-projection
    hashing, as plain Python floats rounded to 8 decimals.

    Rounding makes the literals compact enough to embed in BOTH the Spark
    plan and a mirrored SQL oracle; since both engines parse the same
    decimal text to the same nearest double, the sign tests agree bit-for-
    bit. The codebook is n_planes × dim floats — driver-resident by
    design, like every LSH implementation's projection matrix."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return [[round(float(x), 8) for x in row] for row in rng.standard_normal((n_planes, dim))]


def rp_band_neardup_pairs(
    df: DataFrame,
    hyperplanes: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    n_bands: int = 16,
    band_bits: int = 4,
) -> DataFrame:
    """Embedding near-dup pairs via signed-random-projection (SimHash-
    over-vectors) banding — the PRODUCTION path for X2-embedding.

    Per row, ``n_bands × band_bits`` sign bits (one literal-array dot per
    hyperplane, pure map-side JVM folds); bits group into ``n_bands``
    integer band keys; candidate pairs come from a self EQUI-JOIN on
    (band_idx, band_key) — the join carries only (id, band) rows, never
    vectors — then exact cosine re-ranks the distinct candidates. At
    100 TB the corpus shuffles once on the band key; there is no
    all-pairs comparison anywhere.

    Recall/selectivity: P(bit match) = 1 − θ/π. The registered query's
    threshold (0.4, θ≈66°) is deliberately loose to match the exact
    oracle's planted pairs, which forces short bands (recall 0.98 at
    16×4, measured) at the cost of a dense candidate set; at real
    near-dup thresholds (cos ≥ 0.9, θ≤26°, bit-match p≥0.86) the same
    code with 8×8 bands is both high-recall and highly selective. The
    exact crossJoin form (``embedding_neardup_pairs``) is this
    operator's recall oracle, not a production path.
    """
    assert len(hyperplanes) == n_bands * band_bits
    base = ensure_min_parallelism(
        df.select(F.col(id_col), F.col(vec_col), l2_norm(F.col(vec_col)).alias("_nrm"))
    )
    # The (id, band_idx, band_key, all-keys) table IS the LSH index —
    # narrow (n_bands+2 ints per band row, never the vectors), so it
    # memoizes per corpus version like any bucket table; the rerank below
    # re-reads the vectors from the source scan instead of pinning the
    # corpus. ALL heavy plan construction lives inside the builder: the
    # whole bits→keys→explode chain is three selectExpr STRINGS (one py4j
    # call each), not per-band Column lambdas — the earlier Column-based
    # form cost ~1,900 py4j round-trips ≈ 1.0 s of driver time per query
    # call, paid even on an index-cache hit.
    import hashlib

    hhash = hashlib.sha256(repr(hyperplanes).encode()).hexdigest()[:16]

    def _build_keyed() -> DataFrame:
        # All n_planes dots accumulate in ONE transposed fold: iterate the
        # vector's dim indices and add v[i]·H[i][j] into a plane-wide
        # accumulator array (HT = hyperplane matrix transposed to
        # dim × n_planes). Per plane the adds still run left-to-right
        # over i — the exact IEEE sequence of a per-plane ``dot`` fold
        # and of the SQL oracle's list_dot_product — so the bits are
        # provably identical (asserted row-for-row in tests), while the
        # expression tree shrinks from n_planes folds to one: measured
        # 5.3 s → 0.95 s for 64 planes × 2 k rows at sf0.1, the same
        # Catalyst-superlinearity fix as assign_cells_np.
        #
        # The matrix rides in as a broadcast 1-row DataFrame VALUE, not
        # as dim × n_planes SQL literals: Python floats and the decimal
        # literals parse to the same nearest doubles, the fold arithmetic
        # is unchanged, but whole-stage codegen no longer contains a
        # 4,096-literal CreateArray — whose Janino compile alone cost
        # ~8 s of every fresh session's first run.
        dim = len(hyperplanes[0])
        n_planes = len(hyperplanes)
        ht_t = [[float(hyperplanes[j][i]) for j in range(n_planes)] for i in range(dim)]
        ht_df = df.sparkSession.createDataFrame([(ht_t,)], "_ht array<array<double>>")
        dots = (
            f"aggregate(sequence(1, {dim}), "
            f"array_repeat(cast(0.0 as double), {n_planes}), "
            f"(acc, i) -> zip_with(acc, element_at(_ht, i), "
            f"(a, h) -> a + element_at({vec_col}, i) * h))"
        )
        # Band key j = Σ_i bit[j*r+i] << i, folded high-bit-first so the
        # left-to-right aggregate reproduces the shifted sum exactly —
        # all n_bands keys from one transform(). The bits value is bound
        # ONCE via the single-element-array lambda ("let" in SQL lambda
        # calculus: transform(array(x), b -> f(b))): a separate _bits
        # projection gets CollapseProject-inlined into the keys lambda,
        # re-evaluating the dots fold n_bands× per row — measured 40 s
        # (vs ~1 s) for the index build at sf0.01.
        bits_sql = f"transform({dots}, d -> if(d >= 0, 1, 0))"
        keys_sql = (
            f"element_at(transform(array({bits_sql}), bb -> "
            f"transform(sequence(0, {n_bands - 1}), j -> "
            f"aggregate(reverse(slice(bb, j * {band_bits} + 1, {band_bits})), 0, "
            f"(acc, b) -> acc * 2 + b))), 1)"
        )
        # The cached artifact is the UN-exploded (id, keys) row — the
        # posexplode happens on read, below. Exploding before the persist
        # puts the giant keys expression inside the Generate stage, where
        # it is re-evaluated per output row (measured 3.4 s warm vs 0.6 s
        # for the keys projection alone at sf0.01).
        return base.crossJoin(F.broadcast(ht_df)).selectExpr(id_col, f"{keys_sql} AS _keys")

    keys_tbl = _cached_index(
        df, ("rp_bands", id_col, vec_col, n_bands, band_bits, hhash), _build_keyed
    )
    keyed = keys_tbl.selectExpr(id_col, "_keys", "posexplode(_keys) AS (band_idx, band_key)")
    a = keyed.select(F.col(id_col).alias("id_a"), F.col("_keys").alias("_ka"), "band_idx", "band_key")
    b = keyed.select(F.col(id_col).alias("id_b"), F.col("_keys").alias("_kb"), "band_idx", "band_key")
    # A pair colliding in m bands would surface m times; keep only the
    # FIRST matching band (both sides carry their full key vector, so the
    # check is a map-side array compare). This dedupes pairs WITHOUT a
    # distinct(): the candidate stream — |pairs| × collision density rows
    # at its widest — flows map-side from the band join straight into the
    # rerank and is never exchanged. The old distinct() shuffled all of
    # it (2.07 M rows at sf0.1, ~60% of query wall time); same pair set
    # either way, so oracle hashes are unchanged.
    first_band = F.expr(
        "band_idx + 1 = array_position(zip_with(_ka, _kb, (x, y) -> if(x = y, 1, 0)), 1)"
    )
    cand = (
        a.join(b, on=["band_idx", "band_key"])
        .filter((F.col("id_a") < F.col("id_b")) & first_band)
        .select("id_a", "id_b")
    )
    ea = base.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"), F.col("_nrm").alias("_na"))
    eb = base.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"), F.col("_nrm").alias("_nb"))
    return (
        cand.join(ea, "id_a")
        .join(eb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                dot(F.col("_va"), F.col("_vb"))
                / F.nullif(F.col("_na") * F.col("_nb"), F.lit(0.0)),
                6,
            ).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    max_rows: int | None = 100_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (dedup flavor of X3).

    Exact all-pairs via self-crossJoin — the small-scale ORACLE, O(n²) by
    construction. ``max_rows`` (default 100k ≈ 5e9 candidate pairs) is a
    guard against running it on corpus-scale input: a LIMIT-bounded
    rowcount probe (cost capped by the threshold, and the main plan is
    not executed twice — ADVICE r3) raises, pointing at the banded
    production path, when exceeded. Pass ``max_rows=None`` to disable
    explicitly.
    """
    # Norms materialize once per row below the join (N folds, not N²/2×2);
    # same left-to-right fold as `cosine`, so scores are bit-identical.
    df = ensure_min_parallelism(df.select(id_col, vec_col))
    if max_rows is not None:
        probed = df.select(id_col).limit(max_rows + 1).count()
        if probed > max_rows:
            raise ValueError(
                f"embedding_neardup_pairs is the exact O(n²) oracle: input "
                f"exceeds max_rows={max_rows}. Use rp_band_neardup_pairs "
                f"(banded SRP + exact rerank) for production-scale corpora, or "
                f"pass max_rows=None to force the all-pairs plan."
            )
    a = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("_va"),
        l2_norm(F.col(vec_col)).alias("_na"),
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("_vb"),
        l2_norm(F.col(vec_col)).alias("_nb"),
    )
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                dot(F.col("_va"), F.col("_vb"))
                / F.nullif(F.col("_na") * F.col("_nb"), F.lit(0.0)),
                6,
            ).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — compressed-vector ANN
# ---------------------------------------------------------------------------

_PQ_CACHE: dict = {}


def fit_pq_codebooks(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    k: int = 32,
    sample_cap: int = 16384,
    seed: int = 42,
    iters: int = 15,
) -> list:
    """Train product-quantization codebooks (Jégou, Douze & Schmid,
    "Product quantization for nearest neighbor search", TPAMI 2011 —
    public algorithm): split the D-dim space into ``m`` contiguous
    subspaces of D/m dims and run k-means with ``k`` centroids in each.
    A vector then compresses to ``m`` small codes — for the defaults,
    64 floats (256 B) become 8 bytes, a 32× compression, which is what
    makes a 100 TB embedding corpus scannable: the CODES fit where the
    vectors never would.

    The fit is driver-side numpy Lloyd's on a DETERMINISTIC bounded
    sample (lowest ``sample_cap`` ids — stable across runs and engines),
    seeded k-means++-lite init (seeded rng choice of sample rows).
    Codebooks are m × k × (D/m) floats — index artifacts, memoized per
    (files, params) exactly like the IVF codebook. Returns a plain
    nested list ``[m][k][D/m]``.
    """
    import numpy as np

    files = tuple(sorted(corpus.inputFiles()))
    key = (files, vec_col, m, k, sample_cap, seed, iters) if files else None
    if key is not None and key in _PQ_CACHE:
        return _PQ_CACHE[key]
    # orderBy before limit: a bare limit is partition-order-dependent,
    # which would make the "deterministic sample" claim false
    sample = (
        corpus.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(int(sample_cap))
        .collect()
    )
    X = np.asarray([list(r[1]) for r in sample], dtype=np.float64)
    n, dim = X.shape
    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible by m={m} subspaces")
    dsub = dim // m
    rng = np.random.default_rng(seed)
    books = []
    for j in range(m):
        S = X[:, j * dsub : (j + 1) * dsub]
        kk = min(k, len(np.unique(S, axis=0)))
        C = S[rng.choice(n, size=kk, replace=False)].copy()
        for _ in range(iters):
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(kk):
                mask = assign == c
                if mask.any():
                    C[c] = S[mask].mean(axis=0)
        books.append([[float(x) for x in row] for row in C])
    if key is not None:
        _PQ_CACHE[key] = books
    return books


def pq_encode(
    df: DataFrame,
    codebooks: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector to its m PQ codes (nearest centroid per
    subspace, L2): one Arrow-batched matmul pass per subspace —
    map-side, no shuffle, output is (id, codes array<int>). This is the
    write-once index build; at 100 TB the encoded table is what you
    persist (32× smaller than the raw vectors)."""
    import numpy as np

    Cs = [np.asarray(b, dtype=np.float64) for b in codebooks]
    dsub = Cs[0].shape[1]
    out_schema = f"{id_col} bigint, codes array<int>"

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            codes = np.empty((len(X), len(Cs)), dtype=np.int32)
            for j, C in enumerate(Cs):
                S = X[:, j * dsub : (j + 1) * dsub]
                # ||s-c||² = ||s||² - 2 s·c + ||c||²; ||s||² constant per row
                d2 = -2.0 * (S @ C.T) + (C * C).sum(axis=1)[None, :]
                codes[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame({id_col: pdf[id_col].to_numpy(), "codes": list(codes)})

    return ensure_min_parallelism(df.select(id_col, vec_col)).mapInPandas(
        encode, schema=out_schema
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list,
    k: int = 5,
    refine: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """PQ ANN with asymmetric-distance (ADC) candidate generation and
    exact cosine rerank — the standard compressed-corpus search shape:

    1. encode the corpus once (``pq_encode`` — map-side);
    2. per Arrow batch, score every encoded row against every query by
       LUT gather: the query's dot product with each centroid is
       precomputed (m × k table), so a row's approximate dot is m array
       lookups — no float math per dimension. Each batch keeps only its
       ``k*refine`` best rows per query, so the shuffle that follows is
       (partitions × queries × k·refine) rows, NEVER corpus-sized;
    3. global top ``k*refine`` per query (one small shuffle), join back
       to the raw vectors (broadcast-friendly: candidate set is tiny),
       exact cosine, final top-k with the same rounding/tiebreak as
       ``brute_force_topk``.

    Approximation error lives only in step 2's candidate cut; the
    returned scores are EXACT cosines. Recall vs brute force is asserted
    in tests. Output: (query_id, vec_id, cosine_sim, rank).
    """
    encoded = pq_encode(corpus, codebooks, id_col, vec_col)
    return pq_topk_from_codes(
        encoded, corpus, queries, codebooks, k, refine, id_col, vec_col, query_id_col
    )


def pq_topk_from_codes(
    encoded: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list,
    k: int = 5,
    refine: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """``pq_topk`` against a PRE-ENCODED codes table (see
    ``save_pq_index``): the per-session cost is the LUT-gather scan of
    the 32×-compressed codes plus the tiny rerank join — encoding is
    paid once per corpus version, exactly like the IVF inverted file.
    Bit-identical to ``pq_topk`` on the same corpus/codebooks."""
    import numpy as np

    Cs = [np.asarray(b, dtype=np.float64) for b in codebooks]
    dsub = Cs[0].shape[1]
    q_rows = queries.select(query_id_col, vec_col).collect()
    qids = [int(r[0]) for r in q_rows]
    Q = np.asarray([list(r[1]) for r in q_rows], dtype=np.float64)
    # LUT[q][j][c] = q_subspace_j · centroid_c ; approx dot = sum_j LUT
    LUT = np.stack(
        [Q[:, j * dsub : (j + 1) * dsub] @ C.T for j, C in enumerate(Cs)], axis=1
    )  # (nq, m, k)
    # approximate db-vector norm from its reconstruction: sqrt(sum_j ||c||²)
    cn2 = np.stack([(C * C).sum(axis=1) for C in Cs], axis=0)  # (m, k)
    qn = np.linalg.norm(Q, axis=1)
    ncand = int(k * refine)
    out_schema = f"{query_id_col} bigint, {id_col} bigint, _approx double"

    def score(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = np.stack(pdf["codes"].to_numpy())  # (b, m)
            ids = pdf[id_col].to_numpy()
            # reconstruction norm per row (shared across queries)
            rn = np.sqrt(
                np.maximum(cn2[np.arange(codes.shape[1])[None, :], codes].sum(axis=1), 1e-30)
            )
            outs = []
            for qi in range(len(qids)):
                approx = LUT[qi][np.arange(codes.shape[1])[None, :], codes].sum(axis=1)
                sim = approx / np.maximum(qn[qi] * rn, 1e-30)
                top = np.argsort(-sim)[: min(ncand, len(ids))]
                outs.append(
                    pd.DataFrame(
                        {
                            query_id_col: qids[qi],
                            id_col: ids[top],
                            "_approx": sim[top],
                        }
                    )
                )
            yield pd.concat(outs, ignore_index=True)

    cand = encoded.mapInPandas(score, schema=out_schema)
    w = Window.partitionBy(query_id_col).orderBy(F.desc("_approx"), F.asc(id_col))
    cand = (
        cand.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= ncand)
        .select(query_id_col, id_col)
    )
    raw = corpus.select(
        F.col(id_col), F.col(vec_col).alias("_v"), l2_norm(F.col(vec_col)).alias("_n")
    )
    qdf = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("_qv"), l2_norm(F.col(vec_col)).alias("_qn")
    )
    exact = (
        cand.join(raw, id_col)
        .join(F.broadcast(qdf), query_id_col)
        .select(
            query_id_col,
            id_col,
            F.round(
                dot(F.col("_qv"), F.col("_v")) / F.nullif(F.col("_qn") * F.col("_n"), F.lit(0.0)),
                6,
            ).alias("cosine_sim"),
        )
    )
    w2 = Window.partitionBy(query_id_col).orderBy(F.desc("cosine_sim"), F.asc(id_col))
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
    )


def save_pq_index(
    corpus: DataFrame,
    codebooks: list,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the PQ index as TABLES — codes as parquet (the 32×-
    compressed scannable artifact), codebooks as a tiny sibling table
    (m × k rows). Mirrors ``save_ivf_index``: build cost paid once per
    corpus version; a query session reads codes + codebooks and joins
    candidates back to the raw corpus only for the exact rerank."""
    pq_encode(corpus, codebooks, id_col, vec_col).write.mode("overwrite").parquet(
        f"{path}/codes"
    )
    spark = corpus.sparkSession
    rows = [
        (j, c, [float(x) for x in codebooks[j][c]])
        for j in range(len(codebooks))
        for c in range(len(codebooks[j]))
    ]
    spark.createDataFrame(rows, "subspace int, cid int, vector array<double>").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{path}/codebooks")


def load_pq_index(spark, path: str):
    """Load a persisted PQ index: (codes DataFrame, codebooks list).
    Codebooks are m × k × dsub floats — driver-resident by design."""
    codes = spark.read.parquet(f"{path}/codes")
    books: dict = {}
    for r in spark.read.parquet(f"{path}/codebooks").collect():
        books.setdefault(int(r["subspace"]), {})[int(r["cid"])] = list(r["vector"])
    return codes, [
        [books[j][c] for c in sorted(books[j])] for j in sorted(books)
    ]


def pca_power_topvec(
    emb: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    iters: int = 3,
) -> DataFrame:
    """Top principal direction of the embedding second-moment (Gram)
    matrix by the power method, with the Gram matrix NEVER materialized:
    each iteration computes A·v as Σᵢ (xᵢ·v)·xᵢ — one broadcast of the
    64-double state, one map-side dot per row, one posexplode +
    (dim)-keyed aggregation (64 groups). At 100 TB that is iters scans
    of the vector column and iters tiny shuffles; the d×d Gram (or the
    n×d collect that sklearn-style PCA needs) never exists anywhere.
    Uncentered by design (second moment, not covariance) — center
    upstream when the mean direction should be excluded.

    Determinism (hash-checkable like the graph family): per iteration
    the 64 component sums quantize to 1e-6 (the only order-sensitive
    reductions — row-count-sized float sums), then the L2 norm and the
    normalized state are LEFT-TO-RIGHT folds over the j-ordered array
    (Spark F.aggregate == DuckDB aggregate(list, ...) — the
    similarity-module parity contract), so state and output are exact
    IEEE chains over quantized inputs. Power iteration contracts
    toward the top eigenvector, so quantizing the state does not
    accumulate (same stance as the pagerank oracle's 8-decimal ranks).

    Returns (component 1..dim, loading, eigenvalue): the unit top
    eigenvector and its eigenvalue estimate ‖A·v_last‖ (valid because
    the previous state is unit-norm — requires iters ≥ 2)."""
    if iters < 2:
        raise ValueError(f"pca_power_topvec: iters must be >= 2, got {iters}")
    spark = emb.sparkSession
    e = materialize(emb.select(F.col(vec_col).cast("array<double>").alias("emb")))
    v_df = spark.range(1).select(F.array(*[F.lit(1.0)] * dim).alias("v"))
    last = None
    for _ in range(iters):
        d = e.crossJoin(F.broadcast(v_df)).select(
            dot(F.col("emb"), F.col("v")).alias("d"), "emb"
        )
        raw = (
            d.select("d", F.posexplode("emb").alias("j0", "x"))
            .groupBy((F.col("j0") + 1).alias("j"))
            .agg(
                (F.floor(F.sum(F.col("d") * F.col("x")) * 1000000 + F.lit(0.5)) / 1000000)
                .alias("raw")
            )
        )
        vrow = raw.agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "raw"))),
                lambda s: s["raw"],
            ).alias("rawv")
        ).select(
            "rawv",
            F.sqrt(
                F.aggregate("rawv", F.lit(0.0), lambda acc, x: acc + x * x)
            ).alias("nrm"),
        )
        last = vrow
        v_df = vrow.select(
            F.transform("rawv", lambda x: x / F.col("nrm")).alias("v")
        )
    return last.select(
        F.col("nrm").alias("eigenvalue"),
        F.posexplode(F.transform("rawv", lambda x: x / F.col("nrm"))).alias(
            "j0", "loading"
        ),
    ).select(
        (F.col("j0") + 1).cast("long").alias("component"),
        "loading",
        "eigenvalue",
    )
