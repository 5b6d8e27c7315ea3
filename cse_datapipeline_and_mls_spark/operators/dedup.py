"""Deduplication operators — exact and near-dup (north-star X1/X2).

Exact dedup is a hash groupBy (one shuffle, map-side partial dedup).
Near-dup comes in three flavors with different scale/quality trade-offs:

* MinHash + LSH (banding): shingle → MinHashLSH → approxSimilarityJoin.
  The band-bucket join only compares candidates sharing a bucket —
  at 100 TB the candidate-pair count, not the n² pair count, drives cost.
* SimHash: 64-bit fingerprint whose hamming distance tracks cosine
  similarity of token sets; near-dups = fingerprints equal on all but a
  few bits. Pure built-in expressions (xxhash64 per token, bit math).
* N-gram Jaccard: exact pairwise Jaccard via shingle-explode + self-join
  on shingle — exact but O(pairs sharing a shingle); use as the quality
  oracle for the approximate methods at small scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..materialize import fixpoint, materialize, release
from .numeric import q6
from .relational import dedup_by_key  # re-export: exact dedup lives there

__all__ = [
    "dedup_by_key",
    "exact_dedup_by_content",
    "shingle",
    "minhash_neardup_pairs",
    "with_simhash",
    "simhash_neardup_pairs",
    "ngram_jaccard_pairs",
]


def exact_dedup_by_content(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id row per normalized-content fingerprint (X1).

    Deterministic survivor via row_number()=1 over the fingerprint: ONE
    scan of the corpus and ONE shuffle on the 64-bit key. (The groupBy-
    min + semi-join alternative scans twice and at 100 TB its min-per-
    fingerprint side is corpus-sized — too big to broadcast.) Spark 3.5+
    inserts WindowGroupLimit, so only the per-partition rank-1 candidates
    reach the shuffle.
    """
    from pyspark.sql import Window

    from .text import doc_fingerprint

    fp = df.withColumn("_fp", doc_fingerprint(text_col))
    w = Window.partitionBy("_fp").orderBy(F.col(id_col).asc())
    return (
        fp.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_fp", "_rn")
    )


def exact_dedup_incremental(
    new_df: DataFrame,
    seen_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental-ingest flavor of X1: dedup a NEW batch against an
    already-curated corpus without re-deduping the corpus. The
    continuous-crawl shape — every fresh crawl lands as a batch that
    must drop (a) docs whose content already exists in the corpus and
    (b) intra-batch duplicates (lowest id survives).

    Plan: fingerprint both sides (one scan each), LEFT ANTI join the
    batch against the DISTINCT seen fingerprints (8-byte keys; at
    100 TB the corpus side is huge but the anti join shuffles only
    fingerprints, not text — and persisting the fingerprint table at
    ingest makes subsequent batches skip the corpus scan entirely),
    then the standard row_number()=1 intra-batch survivor pick.
    Crucially the CORPUS is never window-sorted — per-batch cost scales
    with |batch| + |corpus fingerprints|, not |corpus| text.
    """
    from pyspark.sql import Window

    from .text import doc_fingerprint

    seen_fp = seen_df.select(doc_fingerprint(text_col).alias("_fp")).distinct()
    fresh = (
        new_df.withColumn("_fp", doc_fingerprint(text_col))
        .join(seen_fp, "_fp", "left_anti")
    )
    w = Window.partitionBy("_fp").orderBy(F.col(id_col).asc())
    return (
        fresh.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_fp", "_rn")
    )


def shingle(df: DataFrame, text_col: str = "text", n: int = 3, out: str = "shingles") -> DataFrame:
    """Word n-gram shingles of normalized text, as a deduped array.

    Gram construction is array-level (text.word_ngrams), NOT an
    index-lambda over the words expression — the lambda form
    re-evaluated the tokenizer once PER GRAM after projection collapse
    (measured 14× on the sf0.1 gram queries)."""
    from .text import word_ngrams

    words = F.split(F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"[ \t\n\r]+", " "), " ")
    return df.withColumn(out, F.array_distinct(word_ngrams(words, n)))


def _ensure_min_parallelism(df: DataFrame) -> DataFrame:
    """Small-scan guard: an input that arrives as fewer partitions than
    cores (one consolidated parquet file — the local testdata shape, or
    a single compacted object at ingest) would run every MAP-SIDE stage
    downstream (shingling, MinHash signatures, SimHash folds) on one
    task, serializing the embarrassingly-parallel part of the pipeline.
    Repartition up to defaultParallelism only in that case — at
    production scale inputs carry thousands of partitions and this is a
    no-op (no extra exchange). Measured: the sf0.1 MinHash production
    leg drops ~4× once its signature stage parallelizes."""
    par = max(df.sparkSession.sparkContext.defaultParallelism, 1)
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


def minhash_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
    jaccard_threshold: float = 0.5,
    num_features: int = 1 << 18,
) -> DataFrame:
    """Near-duplicate candidate pairs via MinHashLSH (X2).

    shingle → HashingTF sparse vector → MinHashLSH.approxSimilarityJoin.
    Returns (id_a, id_b, jaccard_distance) with id_a < id_b. MLlib's LSH
    OR-amplifies across ``num_hashes`` tables; candidates are generated by
    equality on hash buckets (a shuffle join on bucket id), never by n²
    comparison — the 100 TB-safe shape.

    ``num_hashes=32`` is sized by the OR-amplification bound, not vibes:
    a true pair at similarity s is missed with probability (1−s)^n, so
    at the default 0.5 threshold a qualifying pair escapes 32 tables
    with p ≈ 2e-10 (and even a marginal s=0.3 pair with p ≈ 1e-5).
    Halving from 64 cut the sf0.1 candidate join 14.9 s → 9.2 s with
    measured recall still 1.0 at every SF (the registered query's
    hash-checked verdict keeps watching it round-over-round).
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    sh = shingle(_ensure_min_parallelism(df.select(id_col, text_col)), text_col, n=n)
    sh = sh.filter(F.size("shingles") > 0)
    tf = HashingTF(inputCol="shingles", outputCol="features", numFeatures=num_features, binary=True)
    feats = tf.transform(sh)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=num_hashes, seed=42)
    model = lsh.fit(feats)
    # Signatures computed ONCE (r14 optimization): approxSimilarityJoin
    # transforms any input missing the hashes column, so an
    # untransformed frame on both sides re-runs the shingle+TF+MinHash
    # pipeline per side (plus the fit's probe) — three corpus passes.
    # Pre-transform and materialize; the join then reads the narrow
    # (id, features, hashes) table twice from the checkpoint.
    keyed = materialize(model.transform(feats).select(id_col, "features", "hashes"))
    pairs = model.approxSimilarityJoin(keyed, keyed, 1.0 - jaccard_threshold, distCol="jaccard_dist")
    return (
        pairs.select(
            F.col(f"datasetA.{id_col}").alias("id_a"),
            F.col(f"datasetB.{id_col}").alias("id_b"),
            F.round(F.col("jaccard_dist"), 6).alias("jaccard_dist"),
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )


def _bit_masks(bits: int = 64) -> list[int]:
    """Two's-complement single-bit masks as Python longs: 1<<b for the low
    bits, Long.MIN_VALUE for bit 63 (1<<63 overflows a signed long literal
    but -(2^63) is exactly the sign-bit mask)."""
    return [(1 << b) if b < 63 else -(1 << 63) for b in range(bits)]


def with_simhash(
    df: DataFrame, text_col: str = "text", out: str = "simhash", bits: int = 64
) -> DataFrame:
    """64-bit SimHash of the whitespace token multiset.

    For each bit b: sum over tokens of ±1 according to bit b of
    xxhash64(token); simhash bit b = (sum > 0). Entirely built-in
    higher-order array functions — no UDF, no shuffle.

    ONE fold over the token-hash array maintains all ``bits`` counters at
    once (an array accumulator zip_with'd against the literal bit masks),
    instead of one fold per bit — per-document cost drops from
    O(bits × tokens) to O(tokens × bits) array ops inside a single pass,
    and measured wall time on the documents table drops ~2×. Fingerprints
    are bit-identical to the per-bit-fold form (asserted in
    tests/test_properties.py)."""
    words = F.filter(
        F.split(F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"[ \t\n\r]+", " "), " "),
        lambda x: x != F.lit(""),
    )
    hashes = F.transform(words, lambda t: F.xxhash64(t))
    masks = F.array(*[F.lit(m).cast("long") for m in _bit_masks(bits)])
    counters = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(
            acc, masks, lambda a, m: a + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1)
        ),
    )
    sim = F.aggregate(
        F.zip_with(
            counters,
            masks,
            lambda c, m: F.when(c > 0, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return df.withColumn(out, sim)


def _with_simhash_multifold(
    df: DataFrame, text_col: str = "text", out: str = "simhash", bits: int = 64
) -> DataFrame:
    """Reference implementation of ``with_simhash`` with one fold per bit —
    kept (test-only) as the equivalence oracle for the one-fold form."""
    words = F.filter(
        F.split(F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"[ \t\n\r]+", " "), " "),
        lambda x: x != F.lit(""),
    )
    hashes = F.transform(words, lambda t: F.xxhash64(t))

    one = F.lit(1).cast("long")

    def bit_sum(b: int):
        # shiftleft instead of a 1<<b literal: bit 63 overflows a Python
        # long lit but wraps correctly in JVM shift arithmetic.
        mask = F.shiftleft(one, b)
        return F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc + F.when(h.bitwiseAND(mask) != 0, 1).otherwise(-1),
        )

    sim = F.lit(0).cast("long")
    for b in range(bits):
        sim = sim + F.when(bit_sum(b) > 0, F.shiftleft(one, b)).otherwise(F.lit(0).cast("long"))
    return df.withColumn(out, sim)


def simhash_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_bands: int = 4,
    sig: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs where hamming(simhash_a, simhash_b) ≤ max_hamming.

    Banding trick (pigeonhole): split the 64-bit simhash into ``n_bands``
    16-bit bands; any pair within hamming ≤ n_bands-1 must agree on ≥1
    band → equi-join on (band_idx, band_value) generates candidates, then
    exact hamming filters. Join is on band equality — linear shuffle, no
    n² compare.

    The pigeonhole guarantee REQUIRES max_hamming ≤ n_bands − 1: with h
    differing bits and b bands, some band is untouched only when h < b.
    A looser max_hamming would silently miss qualifying pairs, so it is
    rejected here rather than returning incomplete candidates.

    ``sig`` (r14 optimization): optional precomputed (id_col, simhash)
    frame — a SimHash is a pure function of its own text, so a caller
    that already holds signatures (e.g. the incremental query computing
    full-vs-incremental parity, which otherwise folds the corpus 3×)
    passes them here and the fold is skipped. When absent, signatures
    are computed once and localCheckpoint-ed: the band table feeds BOTH
    sides of the candidate self-join and an unmaterialized plan would
    run the 64-bit token fold twice (no ReusedExchange in the committed
    before-plan).
    """
    if max_hamming > n_bands - 1:
        raise ValueError(
            f"pigeonhole recall requires max_hamming <= n_bands - 1; "
            f"got max_hamming={max_hamming}, n_bands={n_bands} — raise n_bands "
            f"(a divisor of 64) to at least max_hamming + 1"
        )
    if 64 % n_bands != 0:
        raise ValueError(f"n_bands must divide 64, got {n_bands}")
    if sig is not None:
        # same small-scan guard as the computed path (ADVICE r14): a
        # caller passing a single-partition signature frame would
        # otherwise serialize the band explode and the candidate
        # self-join on one task; no-op when sig is already spread
        sh = _ensure_min_parallelism(sig.select(id_col, "simhash"))
    else:
        sh = materialize(
            with_simhash(_ensure_min_parallelism(df.select(id_col, text_col)), text_col).select(
                id_col, "simhash"
            )
        )
    band_bits = 64 // n_bands
    mask = (1 << band_bits) - 1
    bands = sh.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.shiftright("simhash", i * band_bits).bitwiseAND(F.lit(mask)).alias("band_val"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select(id_col, "simhash", "band.band_idx", "band.band_val")
    a = bands.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sim_a"), "band_idx", "band_val"
    )
    b = bands.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sim_b"), "band_idx", "band_val"
    )
    cand = (
        a.join(b, on=["band_idx", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return cand.select("id_a", "id_b", hamming.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_rows: int | None = 1_000_000,
) -> DataFrame:
    """EXACT n-gram Jaccard similarity for all pairs sharing ≥1 shingle.

    explode shingles → self-join on shingle → count intersections →
    |A∪B| = |A|+|B|−|A∩B|. Exact, SQL-expressible (the DuckDB oracle for
    X2); cost grows with shared-shingle pair count — worst case (every doc
    shares a shingle) quadratic — so at 100 TB this is the verification
    tool, not the production path. ``max_rows`` guards against running it
    on corpus-scale input (a LIMIT-bounded probe, then raise pointing at
    the MinHash/SimHash banded paths); pass ``max_rows=None`` to disable.
    """
    if max_rows is not None:
        # Probe rowcount via limit(max_rows+1) on a 1-column projection:
        # the guard's cost is bounded by the threshold, not the input,
        # and the (uncached) main plan isn't executed a second time just
        # to be counted (ADVICE r3).
        probed = df.select(id_col).limit(max_rows + 1).count()
        if probed > max_rows:
            raise ValueError(
                f"ngram_jaccard_pairs is the exact shingle-join oracle (worst-case "
                f"O(n²) pair count): input exceeds max_rows={max_rows}. "
                f"Use minhash_neardup_pairs / simhash_neardup_pairs for "
                f"production-scale corpora, or pass max_rows=None to force it."
            )
    # ONE shingle pass (r14 optimization): the exploded gram table is
    # materialized once and each row carries its document's distinct-
    # shingle count. Before, the lazy plan re-derived the whole
    # normalize+shingle+explode chain FOUR times (a-side, b-side, and
    # the two size frames — zero ReusedExchange in the committed
    # before-plan), and paid two extra |pairs|-row joins to re-attach
    # sizes. Now: sizes ride the gram rows (+8 bytes/row through the
    # g-shuffle, guide §2.3's trade — far cheaper than two corpus-scan
    # re-derivations + two joins) and are folded into the pair
    # aggregation with min() (sz is constant per id, so min is exact).
    # join on the 8-byte xxhash64 of each shingle, not the shingle
    # string: intersection counts only need equality, so the shuffle
    # carries fixed-width keys instead of n-word strings (measured ~2×
    # at sf0.1) — identical pairs/Jaccard absent collisions, the same
    # fingerprint contract as exact_dedup_by_content
    sh = shingle(
        _ensure_min_parallelism(df.select(id_col, text_col)), text_col, n=n
    ).filter(F.size("shingles") > 0)
    ex = materialize(
        sh.select(id_col, F.size("shingles").alias("sz"), F.explode("shingles").alias("_g"))
        .select(id_col, "sz", F.xxhash64("_g").alias("g"))
    )
    a = ex.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"), "g")
    b = ex.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"), "g")
    inter = (
        a.join(b, on="g")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("n_inter"),
            F.min("sz_a").alias("sz_a"),
            F.min("sz_b").alias("sz_b"),
        )
    )
    return (
        inter.select(
            "id_a",
            "id_b",
            # q6, not F.round: integer-ratio jaccards (odd/2^k) sit exactly
            # on 6-decimal half boundaries where Spark's string-round and
            # DuckDB's binary-round disagree (ADVICE r5). The threshold is
            # applied to the SAME quantized value on both sides — a paired
            # oracle must filter floor(raw*1e6+0.5)/1e6 >= threshold too,
            # or a ratio 5e-7 under the cut diverges between engines.
            q6(
                F.col("n_inter") / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_containment_self_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.6,
    max_rows: int | None = 1_000_000,
) -> DataFrame:
    """EXACT n-gram shingle CONTAINMENT for all pairs sharing ≥1 shingle:
    C(A⊂B) = |A∩B| / |A| and C(B⊂A) = |A∩B| / |B|, keeping pairs where
    either direction reaches ``threshold``.

    Containment is the asymmetric near-dup detector Jaccard misses: a
    short document quoted whole inside a much longer one has
    containment ≈ 1 but Jaccard ≈ |A|/|B| ≈ 0 (Broder's resemblance vs
    containment distinction, and the reason corpus pipelines screen for
    subset/quotation duplication separately from symmetric near-dups).

    Same machinery and scale posture as ngram_jaccard_pairs: shingle
    explode → 8-byte xxhash64 equi-join → per-pair intersection counts;
    worst case quadratic in shared-shingle pairs, so this is the
    verification/curation tool with the same ``max_rows`` guard — the
    banded MinHash path remains the production screen, with this as the
    exact re-check on its candidates. Both directions are quantized
    (q6) BEFORE thresholding so the cut lands identically in a paired
    oracle."""
    if max_rows is not None:
        probed = df.select(id_col).limit(max_rows + 1).count()
        if probed > max_rows:
            raise ValueError(
                f"ngram_containment_self_pairs is the exact shingle-join oracle "
                f"(worst-case O(n²) pair count): input exceeds max_rows={max_rows}. "
                f"Screen with minhash_neardup_pairs and re-check its candidates, "
                f"or pass max_rows=None to force it."
            )
    # Same one-shingle-pass + fused-size shape as ngram_jaccard_pairs
    # (r14 optimization): the exploded gram table materializes once with
    # sz riding each row; sizes fold into the pair aggregation (min of a
    # per-id constant), deleting two joins and three re-derivations.
    sh = shingle(
        _ensure_min_parallelism(df.select(id_col, text_col)), text_col, n=n
    ).filter(F.size("shingles") > 0)
    ex = materialize(
        sh.select(id_col, F.size("shingles").alias("sz"), F.explode("shingles").alias("_g"))
        .select(id_col, "sz", F.xxhash64("_g").alias("g"))
    )
    a = ex.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"), "g")
    b = ex.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"), "g")
    inter = (
        a.join(b, on="g")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("n_inter"),
            F.min("sz_a").alias("sz_a"),
            F.min("sz_b").alias("sz_b"),
        )
    )
    return (
        inter.select(
            "id_a",
            "id_b",
            q6(F.col("n_inter") / F.col("sz_a")).alias("cont_a_in_b"),
            q6(F.col("n_inter") / F.col("sz_b")).alias("cont_b_in_a"),
        )
        .filter(
            (F.col("cont_a_in_b") >= threshold) | (F.col("cont_b_in_a") >= threshold)
        )
    )


# Rounds the most recent connected_components run took to converge —
# the warm-start test observable.
_LAST_CC_ROUNDS: int = 0


def _cc_union_find(canon: DataFrame) -> DataFrame:
    """Closed-form connected components for a SMALL, already-materialized
    canonical edge list: collect → union-find (path compression + union
    by min) → (node, label=min id) DataFrame with the input id type.
    Only called under an absolute edge bound (see connected_components);
    the collect is a few MB at most — the same class of bounded driver
    read as a broadcast-threshold decision."""
    id_type = canon.schema[0].dataType
    rows = canon.collect()
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for row in rows:
        a, b = row[0], row[1]
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min so every root IS the component minimum
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    out = [(n, find(n)) for n in parent]
    schema = T.StructType(
        [T.StructField("node", id_type), T.StructField("label", id_type)]
    )
    # Broadcast hint: this frame is bounded by the ABSOLUTE
    # small_graph_max_edges threshold (≤ 2·100k rows ≈ a few MB), so
    # the hint is justified by a hard cap, never a corpus-proportional
    # assumption (the ADVICE r11 distinction). Without it the
    # driver-built LogicalRDD carries no size stats and downstream
    # label joins statically plan a shuffle.
    return F.broadcast(canon.sparkSession.createDataFrame(out, schema))


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    init_labels: DataFrame | None = None,
    small_graph_max_edges: int | None = 100_000,
) -> DataFrame:
    """Connected components over an undirected pair graph → (node, label)
    where label = min node id in the component. This is the step that
    turns near-dup PAIRS into dedup CLUSTERS (keep min-id doc per
    cluster, drop the rest).

    Iterative min-label propagation: each round every node takes the min
    of its own label and its neighbors' labels; converges in O(graph
    diameter) rounds — near-dup graphs are shallow (chains of 2-4), so
    3-5 rounds in practice. Per round: one shuffle join (messages) + one
    shuffle agg (min per node). The edge list is materialized once
    (reused every round) and each round's labels are materialized, the
    round they replace freed, to truncate lineage — an iterative plan
    otherwise grows exponentially in Catalyst. At
    trillion-edge scale swap this for the large-star/small-star
    alternation (Kiveris et al., "Connected Components in MapReduce"),
    which bounds rounds by log(n) with the same DataFrame primitives.

    ``init_labels`` (node, label) warm-starts propagation from a
    previous clustering — the incremental path for an APPEND-ONLY pair
    stream (the near-dup ingest case: components only ever merge).
    ``pairs`` must still be the FULL cumulative edge set, in BOTH
    paths: labels only exist for nodes that appear in ``pairs``, so
    delta-only pairs plus prior labels is out of contract (nodes
    absent from the delta would vanish from the output entirely, and
    the union-find fast path — which ignores ``init_labels``, being
    exact from scratch — would label the delta without the history;
    ADVICE r12). With cumulative pairs, each node starts at min(own
    id, prior label); a prior label is the min id of the node's old
    component, which still belongs to its current (possibly merged)
    component, so convergence and the min-id contract are unchanged —
    only the rounds shrink (_LAST_CC_ROUNDS asserts this in tests).
    NOT valid under pair deletion: a departed min-id node would leave
    a stale label no propagation can correct — rerun cold after
    compaction instead.

    ``small_graph_max_edges`` (absolute bound, default 100k edges ≈ a
    few MB of ids): at or under it the materialized canonical edge list
    is collected and solved with driver-side union-find in ONE job —
    the near-dup pair graph is normally a tiny fraction of the corpus,
    and the iterative path pays ~6 Spark jobs of fixed overhead per run
    regardless of size (measured: 2.4 s warm / 9.5 s cold for a
    256-edge graph at 32 shuffle partitions). Same decision shape as
    Spark's autoBroadcastJoinThreshold: a hard byte-bounded driver
    read, never corpus-proportional — above the bound the distributed
    loop runs unchanged (and for deep graphs,
    connected_components_star). The fast path ignores ``init_labels``
    (it is exact from scratch; warm-start only accelerates the
    iterative loop) and reports ``_LAST_CC_ROUNDS = 0``. Pass
    ``small_graph_max_edges=None`` or 0 to force the iterative path.
    """
    # Materialize the upstream pair plan ONCE (eager localCheckpoint)
    # before building the bidirectional edge set. The previous
    # union-then-distinct-then-cache shape embedded the (possibly
    # expensive — e.g. a shingle self-join) upstream plan twice in the
    # union, and cache() is lazy, so the first action paid 2× the
    # upstream cost before the cache existed (measured: 10.6 s → ~2 s
    # for a 256-edge graph fed by a 3 s pair plan at sf0.1).
    canon = pairs.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    # Endpoint types must agree: _cc_union_find types BOTH output
    # columns from the src column, and the iterative path's
    # union(src↔dst) needs one schema — an int/bigint mix would
    # truncate or fail downstream (ADVICE r12). Widen integral mixes
    # to bigint; anything else is a caller error.
    s_t, d_t = canon.schema[0].dataType, canon.schema[1].dataType
    if s_t != d_t:
        integral = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
        if isinstance(s_t, integral) and isinstance(d_t, integral):
            canon = canon.select(
                F.col("src").cast("bigint").alias("src"),
                F.col("dst").cast("bigint").alias("dst"),
            )
        else:
            raise ValueError(
                f"connected_components: endpoint types differ ({s_t} vs {d_t}); "
                "cast them to one type first"
            )
    canon = materialize(
        canon
        # a NULL endpoint carries no identity: the iterative path's
        # join semantics would silently strand it and the union-find
        # fast path would crash comparing None (code-review r12) —
        # drop such rows explicitly, same stance as triangle_counts
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )
    global _LAST_CC_ROUNDS
    if small_graph_max_edges:
        # bounded probe on the ALREADY-materialized frame — cost capped
        # by the threshold, not the input
        probed = canon.limit(small_graph_max_edges + 1).count()
        if probed <= small_graph_max_edges:
            _LAST_CC_ROUNDS = 0
            return _cc_union_find(canon)
    edges = materialize(
        canon.union(canon.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    if init_labels is not None:
        prev = init_labels.select(F.col("node"), F.col("label").alias("_prev"))
        labels = labels.join(prev, "node", "left").select(
            "node",
            F.least(F.col("node"), F.coalesce("_prev", F.col("node"))).alias("label"),
        )
    labels = materialize(labels)
    _LAST_CC_ROUNDS = 0
    converged = False
    for _ in range(max_iter):
        msgs = (
            edges.join(labels, edges.dst == labels.node)
            .select(F.col("src").alias("node"), F.col("label").alias("nbr_label"))
            .groupBy("node")
            .agg(F.min("nbr_label").alias("nbr_label"))
        )
        new = F.least(F.col("label"), F.coalesce("nbr_label", F.col("label")))
        # the changed-label count rides on the job that materializes the
        # round; the round it replaces is freed
        obs = Observation()
        nxt = materialize(
            labels.join(msgs, "node", "left")
            .observe(obs, F.count(F.when(new != F.col("label"), 1)).alias("changed"))
            .select("node", new.alias("label"))
        )
        release(labels)
        labels = nxt
        _LAST_CC_ROUNDS += 1
        if obs.get["changed"] == 0:
            converged = True
            break
    release(edges)
    if not converged:
        # A silent early exit would split one component into several and
        # leave duplicate survivors downstream — fail loudly instead.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"(component diameter exceeds max_iter); raise max_iter or use "
            f"large-star/small-star alternation for deep graphs"
        )
    return labels


def connected_components_star(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components via large-star/small-star alternation
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    public algorithm) → (node, label), label = min node id in the
    component — identical output contract to ``connected_components``
    (equivalence asserted in tests, plus the same recursive-CTE DuckDB
    oracle via the registered query).

    Why it exists: min-label propagation needs O(diameter) rounds — fine
    for shallow near-dup graphs, ruinous for long chains. The star
    operations contract paths aggressively: large-star points every
    LARGER neighbor of u at u's minimum, small-star re-parents the
    smaller neighbors, and alternating the two converges in O(log n)
    rounds regardless of diameter. Per round: one groupBy-min per star —
    same shuffle budget per round as label propagation, exponentially
    fewer rounds on deep graphs.

    Convergence check is a cheap order-insensitive edge-set checksum
    (sum of per-edge hashes, one scalar, plus the edge count) instead of
    a full set compare, observed on the job that materializes each round.
    """

    def large_star(e: DataFrame) -> DataFrame:
        bidir = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        mins = bidir.groupBy("src").agg(
            F.least(F.min("dst"), F.first("src")).alias("m")
        )
        return (
            bidir.join(mins, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        canon = e.select(
            F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
        ).filter(F.col("u") != F.col("v")).distinct()
        mins = canon.groupBy("u").agg(F.min("v").alias("m"))
        joined = canon.join(mins, "u")
        re_pointed = joined.select(F.col("v").alias("src"), F.col("m").alias("dst"))
        roots = joined.select(F.col("u").alias("src"), F.col("m").alias("dst")).distinct()
        return (
            re_pointed.union(roots)
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )

    # decimal(38,0) accumulator: a long sum of 64-bit hashes overflows
    # under ANSI mode after a handful of rows
    checksum = F.struct(
        F.coalesce(F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")), F.lit(0)),
        F.count(F.lit(1)),
    )
    edges = materialize(
        pairs.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    all_nodes = materialize(
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    edges, converged = fixpoint(
        edges, lambda e, r: small_star(large_star(e)), max_iter, until=checksum
    )
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} rounds"
        )
    # Fixpoint edge set is a star forest: (child, root) for every
    # non-root node. Roots (and isolated inputs) label themselves.
    child_labels = edges.select(F.col("src").alias("node"), F.col("dst").alias("label"))
    root_labels = (
        all_nodes.join(child_labels.select("node"), "node", "left_anti")
        .withColumn("label", F.col("node"))
    )
    return child_labels.union(root_labels)


def ngram_containment_pairs(
    eval_df: DataFrame,
    train_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    min_shared: int = 2,
) -> DataFrame:
    """Benchmark-contamination check: for each (eval doc, train doc)
    pair, the CONTAINMENT score |grams(eval) ∩ grams(train)| /
    |grams(eval)| — asymmetric on purpose: a short benchmark prompt
    fully contained in a long training document scores 1.0 even though
    its Jaccard is tiny, which is exactly the leak a dedup pass misses.

    Same shuffle shape as ``ngram_jaccard_pairs`` (shingle-explode +
    equi-join on the gram), but cross-corpus instead of self-join: cost
    scales with SHARED-gram pairs, never |eval|×|train|. At 100 TB the
    eval side is benchmark-sized (thousands of docs) while train is the
    corpus — the gram join's eval side is tiny, so the shuffle moves
    ~one row per (shared gram, train doc). Pairs below ``min_shared``
    common grams are dropped before the size join to keep noise out.
    """
    # Eval-side sizes ride the gram rows and fold into the pair
    # aggregation (r14 optimization, the ngram_jaccard_pairs shape):
    # before, the eval corpus was shingled twice (size frame + gram
    # explode) and the sizes re-attached with an extra |pairs| join.
    # The eval side is benchmark-sized, so the +8 bytes/gram through
    # the g-shuffle is noise; the deleted second shingle pass is not.
    ev = shingle(eval_df.select(id_col, text_col), text_col, n=n).filter(
        F.size("shingles") > 0
    )
    tr = shingle(train_df.select(id_col, text_col), text_col, n=n).filter(
        F.size("shingles") > 0
    )
    a = ev.select(
        F.col(id_col).alias("eval_id"),
        F.size("shingles").alias("sz_e"),
        F.explode("shingles").alias("g"),
    )
    b = tr.select(F.col(id_col).alias("train_id"), F.explode("shingles").alias("g"))
    inter = (
        a.join(b, on="g")
        .groupBy("eval_id", "train_id")
        .agg(F.count(F.lit(1)).alias("n_shared"), F.min("sz_e").alias("sz_e"))
        .filter(F.col("n_shared") >= min_shared)
    )
    return inter.select(
        "eval_id",
        "train_id",
        "n_shared",
        F.round(F.col("n_shared") / F.col("sz_e"), 6).alias("containment"),
    )


def minhash_neardup_incremental(
    batch: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,  # must mirror minhash_neardup_pairs (signatures equal by construction)
    jaccard_threshold: float = 0.5,
    num_features: int = 1 << 18,
) -> DataFrame:
    """Incremental MinHash near-dup: candidate pairs touching a NEW
    batch — batch×corpus plus batch×batch — without re-joining the
    corpus against itself (the batch-ingest twin of
    ``exact_dedup_incremental``; per-batch cost ∝ |batch| bucket
    probes, not |corpus|²-ish re-derivation).

    The MinHashLSH hash family depends only on (seed, num_features),
    never on the fitted data, so batch signatures are bit-identical to
    what a full re-run would produce: the result equals
    ``minhash_neardup_pairs(corpus ∪ batch)`` restricted to pairs with
    at least one batch member (asserted in tests). At scale, persist
    the corpus signature frame (VectorUDT parquet round-trips) and
    union each batch's signatures in — the same posture as the
    persisted IVF index.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    def featurize(df: DataFrame) -> DataFrame:
        sh = shingle(_ensure_min_parallelism(df.select(id_col, text_col)), text_col, n=n)
        sh = sh.filter(F.size("shingles") > 0)
        tf = HashingTF(
            inputCol="shingles",
            outputCol="features",
            numFeatures=num_features,
            binary=True,
        )
        return tf.transform(sh)

    bf = featurize(batch)
    cf = featurize(corpus)
    if bf.isEmpty():
        # LSH.fit reads the input dimension from the first row, so an empty
        # batch (or one emptied by the size(shingles)>0 filter) would throw.
        # "No new docs this ingest" is a normal case: no pair can touch the
        # batch, so the incremental delta is exactly empty.
        return (
            batch.select(
                F.col(id_col).alias("id_a"),
                F.col(id_col).alias("id_b"),
                F.lit(0.0).alias("jaccard_dist"),
            )
            .limit(0)
        )
    lsh = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=num_hashes, seed=42
    )
    model = lsh.fit(bf)  # data-independent hash family (seed-pinned)
    thresh = 1.0 - jaccard_threshold
    # Batch signatures computed ONCE (r14 optimization): the batch side
    # feeds the cross join AND both sides of the intra join — three
    # shingle+TF+MinHash passes when left untransformed (the join
    # transforms any input missing the hashes column). The corpus side
    # is read once, so it stays lazy.
    bkeyed = materialize(model.transform(bf).select(id_col, "features", "hashes"))
    cross = model.approxSimilarityJoin(bkeyed, cf, thresh, distCol="jaccard_dist")
    intra = model.approxSimilarityJoin(bkeyed, bkeyed, thresh, distCol="jaccard_dist")

    def shape(pairs: DataFrame) -> DataFrame:
        return pairs.select(
            F.least(
                F.col(f"datasetA.{id_col}"), F.col(f"datasetB.{id_col}")
            ).alias("id_a"),
            F.greatest(
                F.col(f"datasetA.{id_col}"), F.col(f"datasetB.{id_col}")
            ).alias("id_b"),
            F.round(F.col("jaccard_dist"), 6).alias("jaccard_dist"),
        ).filter(F.col("id_a") != F.col("id_b"))

    return shape(cross).unionByName(shape(intra)).dropDuplicates(["id_a", "id_b"])


def simhash_neardup_incremental(
    batch: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_bands: int = 4,
    batch_sig: DataFrame | None = None,
    corpus_sig: DataFrame | None = None,
) -> DataFrame:
    """Incremental SimHash near-dup: candidate pairs touching a NEW
    batch — batch×corpus band probes plus batch×batch — without
    re-joining the corpus against itself (the SimHash twin of
    ``minhash_neardup_incremental``, completing the incremental
    near-dup pair).

    STRONGER contract than the MinHash twin's recall framing: a
    document's simhash depends only on its own text (pure xxhash64 bit
    arithmetic, no fitted state), and a pair survives iff some band
    matches — both facts are per-pair local — so this function's output
    EQUALS ``simhash_neardup_pairs(corpus ∪ batch)`` restricted to
    pairs with ≥1 batch member, row for row (asserted in the registered
    query AND in tests). At scale, persist the corpus band table
    (4 int rows per doc) and probe each batch against it — the
    inverted-file posture; per-batch cost ∝ |batch| band probes."""
    if max_hamming > n_bands - 1:
        raise ValueError(
            f"pigeonhole recall requires max_hamming <= n_bands - 1; "
            f"got max_hamming={max_hamming}, n_bands={n_bands}"
        )
    if 64 % n_bands != 0:
        raise ValueError(f"n_bands must divide 64, got {n_bands}")
    band_bits = 64 // n_bands
    mask = (1 << band_bits) - 1

    # ``batch_sig`` / ``corpus_sig`` (r14 optimization): optional
    # precomputed (id_col, simhash) frames, same contract as
    # simhash_neardup_pairs' ``sig`` — a caller holding signatures for
    # both splits (e.g. the registered incremental query, which also
    # runs the FULL pair set for its parity verdict) skips both folds.
    def bands(df: DataFrame, sig: DataFrame | None = None) -> DataFrame:
        if sig is not None:
            # small-scan guard on the provided-signature fast path too
            # (ADVICE r14), same as simhash_neardup_pairs' sig contract
            sh = _ensure_min_parallelism(sig.select(id_col, "simhash"))
        else:
            sh = with_simhash(
                _ensure_min_parallelism(df.select(id_col, text_col)), text_col
            ).select(id_col, "simhash")
        return sh.select(
            id_col,
            "simhash",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("band_idx"),
                            F.shiftright("simhash", i * band_bits)
                            .bitwiseAND(F.lit(mask))
                            .alias("band_val"),
                        )
                        for i in range(n_bands)
                    ]
                )
            ).alias("band"),
        ).select(id_col, "simhash", "band.band_idx", "band.band_val")

    bb = materialize(bands(batch, batch_sig))
    cb = bands(corpus, corpus_sig)
    a = bb.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sim_a"),
        "band_idx", "band_val",
    )
    c = cb.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sim_b"),
        "band_idx", "band_val",
    )
    b2 = bb.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sim_b"),
        "band_idx", "band_val",
    )
    cross = a.join(c, ["band_idx", "band_val"])
    intra = a.join(b2, ["band_idx", "band_val"]).filter(
        F.col("id_a") < F.col("id_b")
    )
    cand = (
        cross.unionByName(intra)
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            F.when(F.col("id_a") < F.col("id_b"), F.col("sim_a"))
            .otherwise(F.col("sim_b"))
            .alias("sim_a"),
            F.when(F.col("id_a") < F.col("id_b"), F.col("sim_b"))
            .otherwise(F.col("sim_a"))
            .alias("sim_b"),
        )
        .filter(F.col("id_a") != F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return cand.select("id_a", "id_b", hamming.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )
