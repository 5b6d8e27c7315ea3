"""North-star LLM-data-pipeline queries (SURVEY §2.12 X1-X5): dedup,
similarity search, text analysis over ``documents``/``embeddings``.

Approximate operators whose hash families aren't ANSI-expressible
(MinHash LSH, SimHash banding, MLlib RP-LSH, k-means IVF/PQ) register in
BRACKET-VERDICT form: the query emits the exact SQL-checkable reference
result (n-gram Jaccard pairs, normalized-content dup pairs, brute-force
cosine top-k) plus a boolean verdict that the approximate path's recall
cleared its bound; the oracle recomputes the exact side and expects
TRUE, so recall regressions flip the hash. Only genuinely
non-aggregatable forms (the incremental MinHash twin) stay rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..materialize import materialize
from ..operators import dedup as D
from ..operators import similarity as S
from ..operators import text as X
from ..sources import load_table
from . import register, register_sql


@register(
    "x_exact_dedup_documents",
    oracle="""
    SELECT d.doc_id, d.n_chars
    FROM documents d
    JOIN (
      SELECT min(doc_id) AS doc_id
      FROM documents
      GROUP BY regexp_replace(lower(trim(text)), '[ \\t\\n\\r]+', ' ', 'g')
    ) keep USING (doc_id)
    """,
)
def x_exact_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1: exact dedup on the normalized-content fingerprint, deterministic
    min-id survivor. Spark groups by a 64-bit xxhash64 fingerprint (tiny
    shuffle key at 100 TB); the oracle groups by the normalized text
    itself — identical survivors absent hash collisions."""
    docs = load_table(spark, sf_dir, "documents")
    return D.exact_dedup_by_content(docs, "text", "doc_id").select("doc_id", "n_chars")


@register(
    "x_ngram_jaccard_pairs",
    oracle="""
    WITH words AS (
      SELECT doc_id,
             string_split_regex(regexp_replace(lower(trim(text)), '[ \\t\\n\\r]+', ' ', 'g'), ' ') AS w
      FROM documents
    ), tokens AS (
      SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) AS idx FROM words
    ), grams AS (
      SELECT doc_id,
             word || ' ' || lead(word, 1) OVER win || ' ' || lead(word, 2) OVER win AS g
      FROM tokens WINDOW win AS (PARTITION BY doc_id ORDER BY idx)
      QUALIFY lead(word, 2) OVER win IS NOT NULL
    ), dgrams AS (
      SELECT DISTINCT doc_id, g FROM grams
    ), sizes AS (
      SELECT doc_id, count(*) AS sz FROM dgrams GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      FROM dgrams a JOIN dgrams b USING (g)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, jaccard
    FROM (
      SELECT id_a, id_b,
             floor(n_inter / (sa.sz + sb.sz - n_inter) * 1000000 + 0.5) / 1000000 AS jaccard
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
    ) WHERE jaccard >= 0.5
    """,
)
def x_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 (exact flavor): word-3-gram Jaccard near-dup pairs via
    shingle-explode + shingle equi-join — the SQL-expressible quality
    oracle for MinHash. Cost scales with shared-shingle pairs, not n²."""
    docs = load_table(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.5)


@register(
    "x_exact_dedup_incremental",
    oracle="""
    WITH seen AS (
      SELECT DISTINCT regexp_replace(lower(trim(text)), '[ \t\n\r]+', ' ', 'g') AS norm
      FROM documents WHERE length(source) = 4
    ), newb AS (
      SELECT doc_id, source, n_chars,
             regexp_replace(lower(trim(text)), '[ \t\n\r]+', ' ', 'g') AS norm
      FROM documents WHERE length(source) = 5
    ), fresh AS (
      SELECT n.doc_id, n.source, n.n_chars, n.norm
      FROM newb n LEFT JOIN seen s ON n.norm = s.norm
      WHERE s.norm IS NULL
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
    FROM (SELECT doc_id, source, n_chars,
                 row_number() OVER (PARTITION BY norm ORDER BY doc_id) AS rn
          FROM fresh) t
    WHERE rn = 1
    """,
)
def x_exact_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1, incremental-ingest flavor: a NEW crawl batch (sources
    src10–src19) deduped against the already-curated corpus
    (src0–src9) — drop content the corpus already has, then intra-batch
    lowest-id survivors. The corpus side contributes only DISTINCT
    fingerprints to a left-anti join (8-byte keys at scale; the corpus
    text is never window-sorted), so per-batch cost is
    |batch| + |corpus fingerprints|. See
    operators/dedup.exact_dedup_incremental."""
    docs = load_table(spark, sf_dir, "documents")
    seen = docs.filter(F.length("source") == 4)
    new = docs.filter(F.length("source") == 5)
    out = D.exact_dedup_incremental(new, seen, "text", "doc_id")
    return out.select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("n_chars")
    )


@register(
    "x_minhash_neardup_pairs",
    oracle="""
    WITH words AS (
      SELECT doc_id,
             string_split_regex(regexp_replace(lower(trim(text)), '[ \\t\\n\\r]+', ' ', 'g'), ' ') AS w
      FROM documents
    ), tokens AS (
      SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) AS idx FROM words
    ), grams AS (
      SELECT doc_id,
             word || ' ' || lead(word, 1) OVER win || ' ' || lead(word, 2) OVER win AS g
      FROM tokens WINDOW win AS (PARTITION BY doc_id ORDER BY idx)
      QUALIFY lead(word, 2) OVER win IS NOT NULL
    ), dgrams AS (
      SELECT DISTINCT doc_id, g FROM grams
    ), sizes AS (
      SELECT doc_id, count(*) AS sz FROM dgrams GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      FROM dgrams a JOIN dgrams b USING (g)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, jaccard, TRUE AS minhash_recall_ge_090
    FROM (
      SELECT id_a, id_b,
             floor(n_inter / (sa.sz + sb.sz - n_inter) * 1000000 + 0.5) / 1000000 AS jaccard
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
    ) WHERE jaccard >= 0.5
    """,
)
def x_minhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 (scale flavor): MinHashLSH banding — candidates from hash-bucket
    equality joins, never n².

    Bracket-verdict form (MinHash signatures aren't ANSI-expressible, so
    the candidate set itself can never hash-match): the query outputs the
    EXACT word-3-gram Jaccard ≥ 0.5 pair set (the quality reference, SQL-
    checkable) plus a boolean verdict that the seed-pinned MinHash path
    recovered ≥ 90% of those pairs. The oracle recomputes the exact side
    and expects TRUE — a recall regression (band-count change, seed drift,
    shingle bug) flips the boolean and fails the hash. Measured recall at
    sf0.001/0.01/0.1: 1.0 at each (also asserted ≥ 0.9 in
    tests/test_dedup_similarity.py)."""
    docs = load_table(spark, sf_dir, "documents")
    exact = D.ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.5)
    # materialized once: feeds the output rows, the denominator count and
    # the semi-join probe (3 consumers — re-derivation trap otherwise)
    exact = materialize(exact)
    approx = D.minhash_neardup_pairs(
        docs, "text", "doc_id", jaccard_threshold=0.5
    ).select("id_a", "id_b")
    hits = exact.join(approx, ["id_a", "id_b"], "left_semi")
    verdict = (
        exact.agg(F.count(F.lit(1)).alias("n_exact"))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hit")))
        .select(
            (F.col("n_hit") >= 0.9 * F.col("n_exact")).alias(
                "minhash_recall_ge_090"
            )
        )
    )
    return exact.crossJoin(F.broadcast(verdict))


@register(
    "x_minhash_incremental",
    oracle="""
    WITH words AS (
      SELECT doc_id,
             string_split_regex(regexp_replace(lower(trim(text)), '[ \\t\\n\\r]+', ' ', 'g'), ' ') AS w
      FROM documents
    ), tokens AS (
      SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) AS idx FROM words
    ), grams AS (
      SELECT doc_id,
             word || ' ' || lead(word, 1) OVER win || ' ' || lead(word, 2) OVER win AS g
      FROM tokens WINDOW win AS (PARTITION BY doc_id ORDER BY idx)
      QUALIFY lead(word, 2) OVER win IS NOT NULL
    ), dgrams AS (
      SELECT DISTINCT doc_id, g FROM grams
    ), sizes AS (
      SELECT doc_id, count(*) AS sz FROM dgrams GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      FROM dgrams a JOIN dgrams b USING (g)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, jaccard, TRUE AS incremental_recall_ge_090
    FROM (
      SELECT id_a, id_b,
             floor(n_inter / (sa.sz + sb.sz - n_inter) * 1000000 + 0.5) / 1000000 AS jaccard
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
    ) WHERE jaccard >= 0.5
      AND (id_a % 5 = 0 OR id_b % 5 = 0)
    """,
)
def x_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 (batch-ingest flavor): incremental MinHash near-dup — new
    batch (doc_id ≡ 0 mod 5) probed against the standing corpus plus
    itself, never corpus×corpus; per-batch cost ∝ |batch| bucket probes.

    Bracket-verdict form: outputs the EXACT batch-touching n-gram
    Jaccard ≥ 0.5 pair set (SQL-checkable) plus a boolean that the
    incremental MinHash path recovered ≥ 90% of it. The seed-pinned
    hash family makes incremental signatures bit-identical to a full
    run (exact equivalence asserted in tests/test_dedup_similarity.py),
    so the verdict inherits the full run's measured 1.0 recall. The
    oracle recomputes the exact side restricted to pairs with a batch
    member and expects TRUE."""
    docs = load_table(spark, sf_dir, "documents")
    exact = materialize(
        D.ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.5)
        .filter((F.col("id_a") % 5 == 0) | (F.col("id_b") % 5 == 0))
    )
    approx = D.minhash_neardup_incremental(
        docs.filter(F.col("doc_id") % 5 == 0),
        docs.filter(F.col("doc_id") % 5 != 0),
        "text",
        "doc_id",
        jaccard_threshold=0.5,
    ).select("id_a", "id_b")
    hits = exact.join(approx, ["id_a", "id_b"], "left_semi")
    verdict = (
        exact.agg(F.count(F.lit(1)).alias("n_exact"))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hit")))
        .select(
            (F.col("n_hit") >= 0.9 * F.col("n_exact")).alias(
                "incremental_recall_ge_090"
            )
        )
    )
    return exact.crossJoin(F.broadcast(verdict))


@register(
    "x_simhash_neardup_pairs",
    oracle="""
    WITH words AS (
      SELECT doc_id,
             string_split_regex(regexp_replace(lower(trim(text)), '[ \\t\\n\\r]+', ' ', 'g'), ' ') AS w
      FROM documents
    ), tokens AS (
      SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) AS idx FROM words
    ), grams AS (
      SELECT doc_id,
             word || ' ' || lead(word, 1) OVER win || ' ' || lead(word, 2) OVER win AS g
      FROM tokens WINDOW win AS (PARTITION BY doc_id ORDER BY idx)
      QUALIFY lead(word, 2) OVER win IS NOT NULL
    ), dgrams AS (
      SELECT DISTINCT doc_id, g FROM grams
    ), sizes AS (
      SELECT doc_id, count(*) AS sz FROM dgrams GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      FROM dgrams a JOIN dgrams b USING (g)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, jaccard, TRUE AS simhash_recall_ge_050
    FROM (
      SELECT id_a, id_b,
             floor(n_inter / (sa.sz + sb.sz - n_inter) * 1000000 + 0.5) / 1000000 AS jaccard
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
    ) WHERE jaccard >= 0.9
    """,
)
def x_simhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 (SimHash flavor): 64-bit simhash + pigeonhole banding join,
    hamming ≤ 3. Pure built-in bit arithmetic, no UDF.

    Bracket-verdict form (xxhash64 isn't available in DuckDB, so simhash
    values can never hash-match): the query outputs the EXACT word-3-gram
    Jaccard ≥ 0.9 pair set — near-identical documents, the regime a
    hamming ≤ 3/64 fingerprint is built to catch — plus a boolean verdict
    that the simhash path recovered ≥ 50% of them. SimHash is fully
    deterministic (pure xxhash64 bit arithmetic, no seeds), so the
    verdict is exactly reproducible: measured recall 0.60 at sf0.01 and
    0.76 at sf0.1 against the 0.5 bound. The oracle recomputes the exact
    side and expects TRUE — a fingerprint or banding regression flips
    the boolean and fails the hash."""
    docs = load_table(spark, sf_dir, "documents")
    exact = D.ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.9)
    exact = materialize(exact)
    approx = D.simhash_neardup_pairs(docs, "text", "doc_id", max_hamming=3).select(
        "id_a", "id_b"
    )
    hits = exact.join(approx, ["id_a", "id_b"], "left_semi")
    verdict = (
        exact.agg(F.count(F.lit(1)).alias("n_exact"))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hit")))
        .select(
            (F.col("n_hit") >= 0.5 * F.col("n_exact")).alias(
                "simhash_recall_ge_050"
            )
        )
    )
    return exact.crossJoin(F.broadcast(verdict))


@register(
    "x_embedding_neardup_pairs",
    oracle="""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
             / nullif(sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                    * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])), 0),
                 6) AS cosine_sim
    FROM embeddings a, embeddings b
    WHERE a.vec_id < b.vec_id
      AND round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
            / nullif(sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                   * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])), 0),
                6) >= 0.4
    """,
)
def x_embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 (embedding flavor), EXACT all-pairs cosine ≥ 0.4 — the recall
    ORACLE for the banded production path (x_embedding_neardup_banded),
    not a production path itself: the crossJoin is O(n²). Dot products in
    double precision on both sides (float32 accumulation order would
    otherwise break the hash)."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    return S.embedding_neardup_pairs(emb, "vec_id", "embedding", threshold=0.4)


# Shared hyperplane constants for the banded near-dup path: generated once
# at import, compiled into BOTH the Spark plan and the DuckDB oracle so the
# two engines hash the same bits.
_RP_BANDS, _RP_BAND_BITS, _RP_SEED, _RP_DIM = 16, 4, 42, 64
_RP_PLANES = S.rp_hyperplanes(_RP_BANDS * _RP_BAND_BITS, _RP_DIM, seed=_RP_SEED)


def _rp_banded_oracle() -> str:
    """DuckDB twin of rp_band_neardup_pairs: same hyperplane literals,
    same sign test, same band keys, same distinct-candidates + rerank."""
    rows = ",\n      ".join(
        "({j}, {i}, [{v}]::DOUBLE[])".format(
            j=j, i=i, v=", ".join(repr(x) for x in _RP_PLANES[j * _RP_BAND_BITS + i])
        )
        for j in range(_RP_BANDS)
        for i in range(_RP_BAND_BITS)
    )
    return f"""
    WITH h(band, bit, v) AS (VALUES {rows}),
    e AS (
      SELECT vec_id, embedding::DOUBLE[] AS ev,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      FROM embeddings
    ), keys AS (
      SELECT e.vec_id, h.band,
             sum(CASE WHEN list_dot_product(e.ev, h.v) >= 0 THEN 1 << h.bit ELSE 0 END) AS band_key
      FROM e CROSS JOIN h GROUP BY 1, 2
    ), cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM keys a JOIN keys b ON a.band = b.band AND a.band_key = b.band_key
                             AND a.vec_id < b.vec_id
    )
    SELECT c.id_a, c.id_b,
           round(list_dot_product(ea.ev, eb.ev) / nullif(ea.nrm * eb.nrm, 0), 6) AS cosine_sim
    FROM cand c JOIN e ea ON ea.vec_id = c.id_a JOIN e eb ON eb.vec_id = c.id_b
    WHERE round(list_dot_product(ea.ev, eb.ev) / nullif(ea.nrm * eb.nrm, 0), 6) >= 0.4
    """


@register("x_embedding_neardup_banded", oracle=_rp_banded_oracle())
def x_embedding_neardup_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 (embedding flavor), PRODUCTION path: signed-random-projection
    banding (16 bands × 4 bits, seeded hyperplanes shared with the
    oracle) → band equi-join candidates → exact cosine rerank ≥ 0.4.
    No all-pairs comparison anywhere; the band join carries only
    (id, band) rows. Measured recall vs the exact crossJoin oracle at
    sf0.01: 0.98 (asserted ≥ 0.9 in tests/test_dedup_similarity.py).
    The oracle mirrors the banding bit-for-bit, so this approximate
    operator is still fully hash-checked."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    return S.rp_band_neardup_pairs(
        emb,
        _RP_PLANES,
        id_col="vec_id",
        vec_col="embedding",
        threshold=0.4,
        n_bands=_RP_BANDS,
        band_bits=_RP_BAND_BITS,
    )


@register(
    "x_cosine_topk",
    oracle="""
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 3
    ), scored AS (
      SELECT q.query_id, e.vec_id,
             floor((list_dot_product(e.embedding::DOUBLE[], q.qv)
               / nullif(sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                      * sqrt(list_dot_product(q.qv, q.qv)), 0)) * 1000000 + 0.5)
               / 1000000 AS cosine_sim
      FROM embeddings e, q
    )
    SELECT query_id, vec_id, cosine_sim,
           row_number() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id) AS rnk
    FROM scored
    QUALIFY rnk <= 10
    """,
)
def x_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 baseline: exact brute-force cosine top-10 for 3 query vectors.
    Query side broadcast → corpus never shuffles; per-query ranking is the
    only exchange. The LSH scale path (lsh_topk) is tested for recall
    against this in tests/test_similarity.py."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.brute_force_topk(emb, queries, k=10, id_col="vec_id", vec_col="embedding")


@register(
    "x_ann_ivf_topk",
    oracle="""
    WITH cent AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec FROM embeddings WHERE vec_id < 8
    ), assigned AS (
      SELECT e.vec_id, e.embedding::DOUBLE[] AS ev, c.cid
      FROM embeddings e CROSS JOIN cent c
      QUALIFY row_number() OVER (
        PARTITION BY e.vec_id
        ORDER BY round(list_dot_product(e.embedding::DOUBLE[], c.cvec)
                 / nullif(sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                        * sqrt(list_dot_product(c.cvec, c.cvec)), 0), 6) DESC, c.cid
      ) = 1
    ), q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id % 100 = 0
    ), probes AS (
      SELECT q.query_id, q.qv, c.cid
      FROM q CROSS JOIN cent c
      QUALIFY row_number() OVER (
        PARTITION BY q.query_id
        ORDER BY round(list_dot_product(q.qv, c.cvec)
                 / nullif(sqrt(list_dot_product(q.qv, q.qv))
                        * sqrt(list_dot_product(c.cvec, c.cvec)), 0), 6) DESC, c.cid
      ) <= 2
    ), cand AS (
      SELECT p.query_id, a.vec_id,
             round(list_dot_product(a.ev, p.qv)
               / nullif(sqrt(list_dot_product(a.ev, a.ev))
                      * sqrt(list_dot_product(p.qv, p.qv)), 0), 6) AS cosine_sim
      FROM probes p JOIN assigned a ON p.cid = a.cid
    )
    SELECT query_id, vec_id, cosine_sim,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine_sim DESC, vec_id) AS rnk
    FROM cand
    QUALIFY rnk <= 5
    """,
)
def x_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 scale path: IVF coarse quantizer ANN. Codebook = embeddings of
    vec_id<8 (stand-in for k-means centroids); corpus vectors assigned
    map-side via literal-array cosine (no shuffle); queries (vec_id%100=0)
    probe their 2 nearest cells; broadcast cell join + exact rerank,
    top-5. Exact-same semantics in the DuckDB oracle — the one ANN
    variant that is fully SQL-checkable."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    centroids = [
        (r["vec_id"], r["embedding"])
        for r in emb.filter(F.col("vec_id") < 8).select("vec_id", "embedding").collect()
    ]
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.ivf_topk(emb, queries, centroids, k=5, nprobe=2)


def _brute_topk_oracle(query_pred: str, k: int, verdict_col: str) -> str:
    """DuckDB brute-force cosine top-k (the x_cosine_topk shape) with a
    constant-TRUE recall verdict column — the oracle half of the ANN
    bracket-verdict queries below."""
    return f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE {query_pred}
    ), scored AS (
      SELECT q.query_id, e.vec_id,
             floor((list_dot_product(e.embedding::DOUBLE[], q.qv)
               / nullif(sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                      * sqrt(list_dot_product(q.qv, q.qv)), 0)) * 1000000 + 0.5)
               / 1000000 AS cosine_sim
      FROM embeddings e, q
    )
    SELECT query_id, vec_id, cosine_sim,
           row_number() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id) AS rnk,
           TRUE AS {verdict_col}
    FROM scored
    QUALIFY rnk <= {k}
    """


def _ann_recall_verdict(
    exact: DataFrame, approx: DataFrame, bound: float, verdict_col: str
) -> DataFrame:
    """Exact brute-force top-k rows + one broadcast boolean: did the ANN
    path recover ≥ bound of the exact (query_id, vec_id) result set?
    The exact frame is materialized once (it feeds the output rows, the
    denominator count and the semi-join probe)."""
    exact = materialize(exact)
    hits = exact.join(
        approx.select("query_id", "vec_id"), ["query_id", "vec_id"], "left_semi"
    )
    verdict = (
        exact.agg(F.count(F.lit(1)).alias("n_exact"))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hit")))
        .select((F.col("n_hit") >= bound * F.col("n_exact")).alias(verdict_col))
    )
    return exact.crossJoin(F.broadcast(verdict))


@register(
    "x_ann_ivf_kmeans_topk",
    oracle=_brute_topk_oracle("vec_id % 100 = 0", 5, "ivf_recall_ge_060"),
)
def x_ann_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 scale path with the REAL codebook: MLlib KMeans (k=32) trains
    the IVF coarse quantizer (similarity.fit_codebook — one distributed
    fit), then corpus/query cell assignment runs as one BLAS matmul per
    Arrow batch (assign_cells_np / probe_cells_np), nprobe=4 probe join,
    exact cosine rerank, top-5. The k=8 literal-expression variant
    (x_ann_ivf_topk) stays as the fully SQL-checked twin; this one is
    rows-only because k-means centroids aren't reproducible in ANSI SQL.
    Measured: expression-tree assignment OOMs Catalyst at k=32, while
    this path's cost is flat in k (see similarity.ivf_topk docstring).

    Bracket-verdict form (k-means centroids aren't ANSI-reproducible):
    outputs the EXACT brute-force top-5 per query (SQL-checkable) plus a
    boolean that the IVF path's recall@5 cleared the bound — the oracle
    recomputes the exact side and expects TRUE, so a codebook/probe
    regression flips the hash. Pooled recall is also asserted in
    tests/test_dedup_similarity.py."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    codebook = S.fit_codebook(emb, k=32, seed=42, max_iter=5)
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = S.brute_force_topk(emb, queries, k=5, id_col="vec_id", vec_col="embedding")
    # nprobe=8 of 32 cells: measured recall@5 0.76/0.68/0.72 at
    # sf0.001/0.01/0.1 vs 0.64/0.64/0.52 at nprobe=4, at unchanged
    # latency — comfortable margin over the 0.6 verdict bound.
    approx = S.ivf_topk(emb, queries, codebook, k=5, nprobe=8, assign="numpy")
    return _ann_recall_verdict(exact, approx, 0.6, "ivf_recall_ge_060")


@register(
    "x_ann_pq_topk",
    oracle=_brute_topk_oracle("vec_id % 100 = 0", 5, "pq_recall_ge_070"),
)
def x_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 compressed-corpus path: product quantization (Jégou et al.
    2011). 64-dim float vectors encode to 8 one-byte codes (32×
    compression — at 100 TB the CODES table is scannable where the raw
    vectors are not), candidates come from LUT-gather ADC scoring with
    a per-batch top cut (the shuffle is partitions × queries × k·refine
    rows, never corpus-sized), and the returned scores are EXACT
    cosines from the rerank join. Deterministic end-to-end (seeded
    driver-side Lloyd's on the lowest-id sample).

    Bracket-verdict form (PQ codebooks aren't ANSI-reproducible): outputs
    the EXACT brute-force top-5 per query plus a boolean that the ADC
    path's recall@5 cleared the bound — the oracle recomputes the exact
    side and expects TRUE. Pooled recall is also asserted in
    tests/test_dedup_similarity.py."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    books = S.fit_pq_codebooks(emb, m=8, k=32, seed=42)
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = S.brute_force_topk(emb, queries, k=5, id_col="vec_id", vec_col="embedding")
    # refine=16 ADC candidates per query: measured recall@5
    # 0.96/0.92/0.80 at sf0.001/0.01/0.1 vs 0.84/0.80/0.68 at refine=8,
    # at unchanged latency — comfortable margin over the 0.7 bound.
    approx = S.pq_topk(emb, queries, books, k=5, refine=16)
    return _ann_recall_verdict(exact, approx, 0.7, "pq_recall_ge_070")


@register(
    "x_ann_lsh_topk",
    oracle=_brute_topk_oracle("vec_id < 3", 10, "lsh_recall_ge_070"),
)
def x_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 scale path, LSH flavor: BucketedRandomProjectionLSH candidates +
    exact cosine rerank (operators.similarity.lsh_topk).

    Bracket-verdict form (MLlib's random-projection hash family isn't
    ANSI-expressible): outputs the EXACT brute-force top-10 per query
    plus a boolean that the seed-pinned LSH path's recall@10 cleared the
    bound — the oracle recomputes the exact side and expects TRUE.
    Pooled recall is also asserted in tests/test_dedup_similarity.py."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = S.brute_force_topk(emb, queries, k=10, id_col="vec_id", vec_col="embedding")
    approx = S.lsh_topk(emb, queries, k=10)
    return _ann_recall_verdict(exact, approx, 0.7, "lsh_recall_ge_070")


@register(
    "x_text_token_stats",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\r]')) AS INT) AS n_tokens,
           CAST(len(string_split_regex(trim(text), '[ \\t\\n\\r]+')) AS INT)                        AS n_ws_tokens,
           round(len(list_filter(string_split(lower(trim(text)), ' '),
                     x -> list_contains(['the','a','an','and','or','but','if','then','is',
                                         'are','was','were','be','been','being','of','to',
                                         'in','on','for','with','as','at','by','from',
                                         'that','this','it','its','not','no'], x)))
                 / nullif(len(string_split(lower(trim(text)), ' ')), 0), 6)                AS stopword_ratio,
           round((length(text) - length(regexp_replace(text, '[^A-Za-z0-9_ \\t\\n\\r]', '', 'g')))
                 / nullif(length(text), 0), 6)                                             AS punct_ratio
    FROM documents
    """,
)
def x_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: token counting (BPE-ish regex + whitespace), stopword ratio,
    punctuation ratio — all built-in JVM expressions, zero shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        X.token_count("text").alias("n_tokens"),
        X.whitespace_token_count("text").alias("n_ws_tokens"),
        F.round(X.stopword_ratio("text"), 6).alias("stopword_ratio"),
        F.round(X.punct_ratio("text"), 6).alias("punct_ratio"),
    )


@register(
    "x_lang_quality",
    oracle="""
    WITH padded AS (
      SELECT doc_id, text, ' ' || lower(text) || ' ' AS p,
             string_split_regex(trim(text), '[ \\t\\n\\r]+') AS words
      FROM documents
    ), scores AS (
      SELECT doc_id, text, words,
        (CASE WHEN p LIKE '% the %' THEN 1 ELSE 0 END + CASE WHEN p LIKE '% and %' THEN 1 ELSE 0 END
       + CASE WHEN p LIKE '% of %' THEN 1 ELSE 0 END + CASE WHEN p LIKE '% is %' THEN 1 ELSE 0 END
       + CASE WHEN p LIKE '% that %' THEN 1 ELSE 0 END + CASE WHEN p LIKE '% with %' THEN 1 ELSE 0 END) AS en,
        (CASE WHEN p LIKE '% der %' THEN 1 ELSE 0 END + CASE WHEN p LIKE '% die %' THEN 1 ELSE 0 END
       + CASE WHEN p LIKE '% das %' THEN 1 ELSE 0 END + CASE WHEN p LIKE '% und %' THEN 1 ELSE 0 END
       + CASE WHEN p LIKE '% ist %' THEN 1 ELSE 0 END + CASE WHEN p LIKE '% nicht %' THEN 1 ELSE 0 END) AS de,
        (CASE WHEN p LIKE '% le %' THEN 1 ELSE 0 END + CASE WHEN p LIKE '% la %' THEN 1 ELSE 0 END
       + CASE WHEN p LIKE '% les %' THEN 1 ELSE 0 END + CASE WHEN p LIKE '% est %' THEN 1 ELSE 0 END
       + CASE WHEN p LIKE '% une %' THEN 1 ELSE 0 END + CASE WHEN p LIKE '% dans %' THEN 1 ELSE 0 END) AS fr,
        (CASE WHEN p LIKE '% el %' THEN 1 ELSE 0 END + CASE WHEN p LIKE '% los %' THEN 1 ELSE 0 END
       + CASE WHEN p LIKE '% es %' THEN 1 ELSE 0 END + CASE WHEN p LIKE '% una %' THEN 1 ELSE 0 END
       + CASE WHEN p LIKE '% por %' THEN 1 ELSE 0 END + CASE WHEN p LIKE '% que %' THEN 1 ELSE 0 END) AS es,
        (CASE WHEN p LIKE '% def %' THEN 1 ELSE 0 END + CASE WHEN p LIKE '% return %' THEN 1 ELSE 0 END
       + CASE WHEN p LIKE '% import %' THEN 1 ELSE 0 END + CASE WHEN p LIKE '% class %' THEN 1 ELSE 0 END
       + CASE WHEN p LIKE '% void %' THEN 1 ELSE 0 END + CASE WHEN p LIKE '% function %' THEN 1 ELSE 0 END) AS code
      FROM padded
    )
    SELECT doc_id,
      CASE WHEN code >= en AND code >= de AND code >= fr AND code >= es AND code > 0 THEN 'code'
           WHEN en >= de AND en >= fr AND en >= es AND en > 0 THEN 'en'
           WHEN de >= fr AND de >= es AND de > 0 THEN 'de'
           WHEN fr >= es AND fr > 0 THEN 'fr'
           WHEN es > 0 THEN 'es'
           ELSE 'unknown' END AS lang_guess,
      round((
          least(length(text) / 200.0, 1.0)
        + least(4.0 * len(list_filter(string_split(lower(trim(text)), ' '),
                  x -> list_contains(['the','a','an','and','or','but','if','then','is',
                                      'are','was','were','be','been','being','of','to',
                                      'in','on','for','with','as','at','by','from',
                                      'that','this','it','its','not','no'], x)))
              / nullif(len(string_split(lower(trim(text)), ' ')), 0), 1.0)
        + greatest(0.0, 1.0 - 4.0 * (length(text) - length(regexp_replace(text, '[^A-Za-z0-9_ \\t\\n\\r]', '', 'g')))
              / nullif(length(text), 0))
        + CASE WHEN list_sum(list_transform(words, x -> length(x)))
                    / nullif(len(words), 0) BETWEEN 3 AND 10 THEN 1.0 ELSE 0.3 END
      ) / 4.0, 6) AS quality
    FROM scores
    """,
)
def x_lang_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: n-gram-heuristic language ID + composite quality score."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        X.lang_id_heuristic("text").alias("lang_guess"),
        X.quality_score("text").alias("quality"),
    )


@register(
    "x_fingerprint_dup_groups",
    oracle="""
    SELECT count(*) AS n_docs,
           count(DISTINCT regexp_replace(lower(trim(text)), '[ \\t\\n\\r]+', ' ', 'g')) AS n_distinct,
           count(*) - count(DISTINCT regexp_replace(lower(trim(text)), '[ \\t\\n\\r]+', ' ', 'g')) AS n_dups
    FROM documents
    """,
)
def x_fingerprint_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 fingerprinting: distinct-content count via the 64-bit
    fingerprint (oracle counts distinct normalized texts — equal counts
    absent hash collisions)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(X.doc_fingerprint("text")).alias("n_distinct"),
        (F.count(F.lit(1)) - F.countDistinct(X.doc_fingerprint("text"))).alias("n_dups"),
    )


@register(
    "x_hash_split_train_test",
    oracle="""
    WITH t AS (
      SELECT lang,
             ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10 AS bucket
      FROM documents
    )
    SELECT CASE WHEN bucket < 8 THEN 'train'
                WHEN bucket = 8 THEN 'valid'
                ELSE 'test' END AS split,
           lang, count(*) AS n
    FROM t GROUP BY 1, 2
    """,
)
def x_hash_split_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/valid/test assignment by hashing the
    document id (md5 hex → int mod 10). The split is a pure map-side
    projection — no RNG, no shuffle, stable across reruns and engines —
    which is what a 100 TB training-data pipeline needs: re-running the
    split on new hardware or after a repartition must not move documents
    between splits. (Spark's df.randomSplit is seed-stable only for a
    fixed partitioning — repartition and the split changes.)"""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 10
    )
    split = (
        F.when(bucket < 8, "train").when(bucket == 8, "valid").otherwise("test")
    )
    return docs.groupBy(split.alias("split"), F.col("lang")).agg(
        F.count(F.lit(1)).alias("n")
    )


# Deterministic stratified sampling: every 20th document per (lang,
# source) stratum in doc_id order — an exact 5% rate per stratum,
# reproducible across engines (unlike RNG df.sampleBy). Costs one shuffle
# on the stratum key; x_hash_split_train_test is the shuffle-free
# approximate-rate alternative.
register_sql(
    "x_stratified_sample_documents",
    """
    SELECT lang, source, doc_id, n_chars
    FROM (SELECT lang, source, doc_id, n_chars,
                 row_number() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rn
          FROM {documents}) t
    WHERE rn % 20 = 1
    """,
)


@register(
    "x_repetition_quality",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(lower(trim(text)), ' ') AS words FROM documents
    ), r AS (
      SELECT doc_id,
             round(1.0 - len(list_distinct(words)) / nullif(len(words), 0), 6) AS word_rep,
             CASE WHEN len(words) >= 2 THEN
               round(1.0 - len(list_distinct(list_transform(range(1, len(words)),
                         i -> words[i] || ' ' || words[i+1])))
                   / nullif(len(words) - 1, 0), 6)
             ELSE 0.0 END AS bigram_rep
      FROM t
    )
    SELECT doc_id, word_rep, bigram_rep,
           CASE WHEN word_rep > 0.6 OR bigram_rep > 0.4 THEN 1 ELSE 0 END AS flag_repetitive
    FROM r
    """,
)
def x_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 quality filtering, Gopher-style repetition signals: repeated-word
    and repeated-bigram fractions with a filter flag. Pure map-side
    built-in array expressions — at 100 TB this is a zero-shuffle corpus
    scan whose cost is the tokenize, same as any quality pass."""
    docs = load_table(spark, sf_dir, "documents")
    word_rep = F.round(X.word_repetition_ratio("text"), 6)
    bigram_rep = F.round(X.bigram_repetition_ratio("text"), 6)
    return docs.select(
        "doc_id",
        word_rep.alias("word_rep"),
        bigram_rep.alias("bigram_rep"),
        F.when((word_rep > 0.6) | (bigram_rep > 0.4), 1).otherwise(0).alias("flag_repetitive"),
    )


@register(
    "x_neardup_clusters",
    oracle="""
    WITH RECURSIVE words AS (
      SELECT doc_id,
             string_split_regex(regexp_replace(lower(trim(text)), '[ \\t\\n\\r]+', ' ', 'g'), ' ') AS w
      FROM documents
    ), tokens AS (
      SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) AS idx FROM words
    ), grams AS (
      SELECT doc_id,
             word || ' ' || lead(word, 1) OVER win || ' ' || lead(word, 2) OVER win AS g
      FROM tokens WINDOW win AS (PARTITION BY doc_id ORDER BY idx)
      QUALIFY lead(word, 2) OVER win IS NOT NULL
    ), dgrams AS (
      SELECT DISTINCT doc_id, g FROM grams
    ), sizes AS (
      SELECT doc_id, count(*) AS sz FROM dgrams GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      FROM dgrams a JOIN dgrams b USING (g)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT id_a, id_b
      FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
      WHERE floor(n_inter / (sa.sz + sb.sz - n_inter) * 1000000 + 0.5) / 1000000 >= 0.3
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b, id_a FROM pairs
    ), reach AS (
      SELECT src AS node, src AS label FROM edges
      UNION
      SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
    ), comp AS (
      SELECT node AS doc_id, min(label) AS cluster_id FROM reach GROUP BY node
    )
    SELECT doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM comp
    """,
)
def x_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 completed end-to-end: near-dup pairs (word-3-gram Jaccard ≥ 0.3)
    → connected components → dedup clusters with canonical min-id label.
    Pairs alone can't drive dedup (near-dup is transitive only through
    the graph); the component label is what a 100 TB pipeline groups on
    to keep one survivor per cluster. The DuckDB oracle computes the
    same components via a recursive CTE — an iterative DataFrame loop
    and recursive SQL agreeing is strong evidence both are right."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.3).select(
        "id_a", "id_b"
    )
    labels = D.connected_components(pairs)
    w = Window.partitionBy("cluster_id")
    return (
        labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))
        .withColumn("cluster_size", F.count(F.lit(1)).over(w))
    )


@register(
    "x_neardup_clusters_star",
    oracle="""
    WITH RECURSIVE words AS (
      SELECT doc_id,
             string_split_regex(regexp_replace(lower(trim(text)), '[ \\t\\n\\r]+', ' ', 'g'), ' ') AS w
      FROM documents
    ), tokens AS (
      SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) AS idx FROM words
    ), grams AS (
      SELECT doc_id,
             word || ' ' || lead(word, 1) OVER win || ' ' || lead(word, 2) OVER win AS g
      FROM tokens WINDOW win AS (PARTITION BY doc_id ORDER BY idx)
      QUALIFY lead(word, 2) OVER win IS NOT NULL
    ), dgrams AS (
      SELECT DISTINCT doc_id, g FROM grams
    ), sizes AS (
      SELECT doc_id, count(*) AS sz FROM dgrams GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      FROM dgrams a JOIN dgrams b USING (g)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT id_a, id_b
      FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
      WHERE floor(n_inter / (sa.sz + sb.sz - n_inter) * 1000000 + 0.5) / 1000000 >= 0.3
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b, id_a FROM pairs
    ), reach AS (
      SELECT src AS node, src AS label FROM edges
      UNION
      SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
    ), comp AS (
      SELECT node AS doc_id, min(label) AS cluster_id FROM reach GROUP BY node
    )
    SELECT doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM comp
    """,
)
def x_neardup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x_neardup_clusters' twin through the O(log n)-round large-star/
    small-star alternation (operators/dedup.connected_components_star) —
    the algorithm SCALE.md prescribes for deep/trillion-edge graphs,
    here hash-checked against the same recursive-CTE oracle as the
    min-label-propagation version (two independent algorithms and
    recursive SQL agreeing on every label)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.3).select(
        "id_a", "id_b"
    )
    labels = D.connected_components_star(pairs)
    w = Window.partitionBy("cluster_id")
    return (
        labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))
        .withColumn("cluster_size", F.count(F.lit(1)).over(w))
    )


@register(
    "x_tfidf_top_terms",
    oracle="""
    WITH words AS (
      SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '[ \\t\\n\\r]+')) AS word
      FROM documents
    ), tf AS (
      SELECT doc_id, word, count(*) AS tf FROM words GROUP BY 1, 2
    ), df AS (
      SELECT word, count(DISTINCT doc_id) AS df FROM words GROUP BY 1
    ), n AS (
      SELECT count(*) AS n_docs FROM documents
    ), scored AS (
      SELECT t.doc_id, t.word,
             round(t.tf * ln(CAST(n.n_docs AS DOUBLE) / CAST(d.df AS DOUBLE)), 6) AS tfidf
      FROM tf t JOIN df d USING (word) CROSS JOIN n
    )
    SELECT doc_id, word, tfidf, rn
    FROM (SELECT doc_id, word, tfidf,
                 row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, word) AS rn
          FROM scored) z
    WHERE rn <= 3
    """,
)
def x_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: exact TF-IDF, top-3 terms per document — the SQL-checkable
    twin of the HashingTF+IDF MLlib path. Plan at scale: explode →
    (doc, word) count [shuffle 1] → df via count-over-word window on the
    tf rows [shuffle 2] → per-doc top-3 via WindowGroupLimit [shuffle 3
    on doc_id]. The corpus scans ONCE; the corpus-size scalar is a 1-row
    broadcast, not a driver collect."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(F.split(F.lower(F.trim(F.col("text"))), r"[ \t\n\r]+")).alias("word")
    )
    tf = words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    # df comes from tf via a per-word window — tf already holds exactly one
    # row per (doc, word), so count-over-word ≡ countDistinct(doc_id) but
    # costs ONE shuffle instead of a second explode + distinct-agg + join.
    df = F.count(F.lit(1)).over(Window.partitionBy("word"))
    n_docs = docs.select(F.count(F.lit(1)).alias("n_docs"))
    scored = tf.crossJoin(F.broadcast(n_docs)).select(
        "doc_id",
        "word",
        F.round(
            F.col("tf") * F.log(F.col("n_docs").cast("double") / df.cast("double")),
            6,
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("word"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "word", "tfidf", "rn")
    )


@register(
    "x_embedding_norm_stats",
    oracle="""
    WITH n AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      FROM embeddings
    )
    SELECT CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(any_value(len(v)) AS BIGINT) AS n_dims,
           CAST(sum(CASE WHEN nrm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_norm,
           floor(min(nrm) * 1000000 + 0.5) / 1000000 AS min_norm,
           floor(avg(nrm) * 1000000 + 0.5) / 1000000 AS mean_norm,
           floor(max(nrm) * 1000000 + 0.5) / 1000000 AS max_norm
    FROM n
    """,
)
def x_embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-store health check — the first audit run before any
    similarity work at 100 TB: vector count, dimensionality, zero-norm
    vectors (cosine is undefined on them; every downstream query
    nullif-guards, this query COUNTS them), and the L2-norm envelope
    (min/mean/max — a collapsed or exploding norm distribution is the
    classic symptom of a bad embedding export).

    Plan: one map-side fold per row (the same left-to-right IEEE
    aggregate sequence as similarity.l2_norm, so per-row norms are
    bit-identical to the oracle's list_dot_product) + ONE global
    aggregate. Scan-dominated; zero joins, zero windows."""
    from ..operators.numeric import q6

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    n = emb.select(
        F.size("embedding").alias("d"),
        S.l2_norm(F.col("embedding")).alias("nrm"),
    )
    return n.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.any_value(F.col("d")).cast("long").alias("n_dims"),
        F.sum(F.when(F.col("nrm") == 0, 1).otherwise(0)).cast("long").alias(
            "n_zero_norm"
        ),
        q6(F.min("nrm")).alias("min_norm"),
        q6(F.avg("nrm")).alias("mean_norm"),
        q6(F.max("nrm")).alias("max_norm"),
    )


@register(
    "x_embedding_dim_truncation_recall",
    oracle="""
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings
      WHERE vec_id < 3
    ), full_k AS (
      SELECT q.query_id, e.vec_id
      FROM embeddings e, q
      QUALIFY row_number() OVER (
        PARTITION BY q.query_id
        ORDER BY floor((list_dot_product(e.embedding::DOUBLE[], q.qv)
          / nullif(sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                 * sqrt(list_dot_product(q.qv, q.qv)), 0)) * 1000000 + 0.5) DESC,
          e.vec_id) <= 10
    ), trunc_k AS (
      SELECT q.query_id, e.vec_id
      FROM embeddings e, q
      QUALIFY row_number() OVER (
        PARTITION BY q.query_id
        ORDER BY floor((list_dot_product(list_slice(e.embedding::DOUBLE[], 1, 16),
                                         list_slice(q.qv, 1, 16))
          / nullif(sqrt(list_dot_product(list_slice(e.embedding::DOUBLE[], 1, 16),
                                         list_slice(e.embedding::DOUBLE[], 1, 16)))
                 * sqrt(list_dot_product(list_slice(q.qv, 1, 16),
                                         list_slice(q.qv, 1, 16))), 0))
          * 1000000 + 0.5) DESC,
          e.vec_id) <= 10
    )
    SELECT f.query_id,
           CAST(count(t.vec_id) AS BIGINT) AS n_overlap_top10,
           count(t.vec_id) / 10.0 AS recall_at_10
    FROM full_k f LEFT JOIN trunc_k t
      ON t.query_id = f.query_id AND t.vec_id = f.vec_id
    GROUP BY f.query_id
    ORDER BY f.query_id
    """,
)
def x_embedding_dim_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-truncation recall probe — the Matryoshka/MRL question
    every embedding store answers before shrinking its footprint 4×:
    if retrieval ran on only the FIRST 16 of 64 dimensions, how much
    of the exact full-dimension top-10 survives? Both sides are exact
    brute force (this is an offline evaluation, not an ANN query), so
    the per-query overlap count is a hash-exact INTEGER — no bracket
    needed — and recall@10 is one exact division.

    Plan: the 3-query set broadcasts twice (full and truncated scans —
    the corpus never shuffles for scoring; slicing is a map-side array
    op that at production scale becomes a narrower column read);
    rank windows quantize scores to 6 dp with vec_id tiebreak before
    the cut, the x_cosine_topk determinism convention."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    full_k = S.brute_force_topk(emb, queries, k=10, id_col="vec_id").select(
        "query_id", "vec_id"
    )
    emb16 = emb.select("vec_id", F.slice("embedding", 1, 16).alias("embedding"))
    q16 = queries.select("query_id", F.slice("embedding", 1, 16).alias("embedding"))
    trunc_k = S.brute_force_topk(emb16, q16, k=10, id_col="vec_id").select(
        F.col("query_id").alias("t_qid"), F.col("vec_id").alias("t_vid")
    )
    return (
        full_k.join(
            trunc_k,
            (full_k["query_id"] == trunc_k["t_qid"])
            & (full_k["vec_id"] == trunc_k["t_vid"]),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("t_vid").cast("long").alias("n_overlap_top10"),
            (F.count("t_vid") / F.lit(10.0)).alias("recall_at_10"),
        )
        .orderBy("query_id")
    )


@register(
    "x_leakage_safe_split",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             md5(regexp_replace(lower(trim(text)), '[ \\t\\n\\r]+', ' ', 'g')) AS ckey
      FROM documents
    ), reps AS (
      SELECT ckey, min(doc_id) AS rep FROM d GROUP BY ckey
    ), assigned AS (
      SELECT d.doc_id, d.ckey,
             ('0x' || substr(md5(CAST(r.rep AS VARCHAR)), 1, 8))::BIGINT % 10 < 8
               AS in_train_cluster,
             ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT % 10 < 8
               AS in_train_naive
      FROM d JOIN reps r ON r.ckey = d.ckey
    ), per_cluster AS (
      SELECT ckey,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN in_train_cluster THEN 1 ELSE 0 END) AS BIGINT) AS tr_c,
             CAST(sum(CASE WHEN in_train_naive THEN 1 ELSE 0 END) AS BIGINT)   AS tr_n
      FROM assigned GROUP BY ckey
    )
    SELECT CAST(sum(n_docs) AS BIGINT)                               AS n_docs,
           CAST(count(*) AS BIGINT)                                  AS n_clusters,
           CAST(sum(tr_c) AS BIGINT)                                 AS n_train_docs,
           CAST(sum(n_docs - tr_c) AS BIGINT)                        AS n_val_docs,
           CAST(sum(CASE WHEN tr_c > 0 AND tr_c < n_docs
                         THEN 1 ELSE 0 END) AS BIGINT)               AS n_leaky_clusters,
           CAST(sum(CASE WHEN tr_n > 0 AND tr_n < n_docs
                         THEN 1 ELSE 0 END) AS BIGINT)               AS n_leaky_naive
    FROM per_cluster
    """,
)
def x_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val split — the eval-hygiene rule every
    training-data pipeline enforces: duplicate (here: exact-content)
    documents must land on the SAME side of the split, or the val set
    scores memorization. Each content cluster (md5 of normalized text
    — md5, not xxhash64, for oracle parity) is assigned WHOLE by
    hashing its representative's id (min doc_id) into the md5-mod
    80/20 buckets the ml_quality_classifier split uses; the audit also
    runs the NAIVE per-doc split on the same data and reports how many
    clusters IT would straddle. Output: doc/cluster/side counts,
    n_leaky_clusters (structurally 0 — the proof the split is safe)
    and n_leaky_naive (> 0 whenever duplicates exist — the reason the
    cluster-aware split is needed).

    Plan: one content-key groupBy for representatives, a hash join
    back, one per-cluster rollup, one 1-row fold — all keyed on the
    content hash; scan-dominated at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    ckey = F.md5(
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"[ \t\n\r]+", " ").cast(
            "binary"
        )
    )
    d = docs.select("doc_id", ckey.alias("ckey"))
    reps = d.groupBy("ckey").agg(F.min("doc_id").alias("rep"))

    def _train(col):
        return (
            F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast("bigint")
            % 10
            < 8
        )

    assigned = d.join(reps, "ckey").select(
        "ckey",
        _train(F.col("rep")).alias("in_train_cluster"),
        _train(F.col("doc_id")).alias("in_train_naive"),
    )
    per_cluster = assigned.groupBy("ckey").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("in_train_cluster"), 1).otherwise(0)).alias("tr_c"),
        F.sum(F.when(F.col("in_train_naive"), 1).otherwise(0)).alias("tr_n"),
    )
    return per_cluster.agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum("tr_c").cast("long").alias("n_train_docs"),
        F.sum(F.col("n_docs") - F.col("tr_c")).cast("long").alias("n_val_docs"),
        F.sum(
            F.when((F.col("tr_c") > 0) & (F.col("tr_c") < F.col("n_docs")), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_leaky_clusters"),
        F.sum(
            F.when((F.col("tr_n") > 0) & (F.col("tr_n") < F.col("n_docs")), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_leaky_naive"),
    )


@register(
    "x_embedding_int8_quantize",
    oracle="""
    WITH b AS (
      SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
    ), mm AS (
      SELECT vec_id, ev,
             list_min(ev) AS lo,
             (list_max(ev) - list_min(ev)) / 255.0 AS scale
      FROM b
    ), q AS (
      SELECT vec_id, lo, scale,
             list_max(list_transform(ev, x ->
               abs(lo
                   + least(255, greatest(0,
                       CAST(floor(coalesce((x - lo) / nullif(scale, 0.0), 0.0)
                                  + 0.5) AS BIGINT)))
                     * scale
                   - x))) AS max_abs_err
      FROM mm
    )
    SELECT vec_id,
           floor(scale * 1000000 + 0.5) / 1000000 AS qscale,
           floor(max_abs_err * 1000000 + 0.5) / 1000000 AS max_abs_err,
           CAST(max_abs_err <= scale * 0.5000001 AS BOOLEAN) AS within_half_step
    FROM q
    """,
)
def x_embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 affine quantization audit — the vector-store
    prep step (4× smaller embeddings for the ANN index) with its
    reconstruction error MEASURED per vector, not assumed: codes are
    round((x−lo)/scale) into [0,255], and the output reports the
    quantization step and the max absolute dequantization error, plus
    the within-half-step verdict the affine scheme guarantees.

    Pure map-side per-vector lambda work — zero shuffles, the ideal
    100 TB shape (fuses into the scan; at cluster scale the codes
    themselves would be written back as a byte array column). Every op
    is a correctly-rounded IEEE primitive on doubles cast from the
    same floats, so both engines agree to the bit; constant vectors
    (scale 0) fall back to code 0 via nullif/coalesce rather than
    dividing by zero."""
    emb = load_table(spark, sf_dir, "embeddings")
    ev = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    b = emb.select("vec_id", ev.alias("ev"))
    mm = b.select(
        "vec_id",
        "ev",
        F.array_min("ev").alias("lo"),
        ((F.array_max("ev") - F.array_min("ev")) / 255.0).alias("scale"),
    )
    code = lambda x: F.least(  # noqa: E731
        F.lit(255),
        F.greatest(
            F.lit(0),
            F.floor(
                F.coalesce(
                    (x - F.col("lo")) / F.nullif(F.col("scale"), F.lit(0.0)),
                    F.lit(0.0),
                )
                + 0.5
            ).cast("long"),
        ),
    )
    q = mm.select(
        "vec_id",
        "lo",
        "scale",
        F.array_max(
            F.transform(
                F.col("ev"),
                lambda x: F.abs(F.col("lo") + code(x) * F.col("scale") - x),
            )
        ).alias("max_abs_err"),
    )
    return q.select(
        "vec_id",
        (F.floor(F.col("scale") * 1000000 + F.lit(0.5)) / 1000000).alias("qscale"),
        (F.floor(F.col("max_abs_err") * 1000000 + F.lit(0.5)) / 1000000).alias(
            "max_abs_err"
        ),
        (F.col("max_abs_err") <= F.col("scale") * 0.5000001).alias("within_half_step"),
    )


@register(
    "x_ann_ivf_incremental",
    oracle=_brute_topk_oracle(
        "vec_id % 100 = 0", 5, "ivf_incr_recall_ge_060"
    ).replace(
        "TRUE AS ivf_incr_recall_ge_060",
        "TRUE AS incr_equals_rebuild, TRUE AS ivf_incr_recall_ge_060",
    ),
)
def x_ann_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF index refresh — the delta-vs-corpus pattern
    (x_minhash_incremental, ml_item_recs_incremental) applied to the
    vector index: new vectors (a 10% vec_id-slice standing in for the
    arriving batch) are assigned to cells with the FROZEN codebook
    trained on the pre-existing corpus (the persisted artifact a
    production refresh reads; save_ivf_index's partitioned layout means
    the append lands as new files in existing cell partitions — the
    corpus is never re-assigned, and per-refresh cost is |delta|
    map-side matmuls + one append write).

    Two verdicts ride the exact brute-force rows: (1)
    incr_equals_rebuild — the unioned corpus+delta assignment set is
    row-identical to re-assigning the full corpus with the same
    codebook (per-row argmax is independent of every other row, so the
    incremental index IS the rebuilt index — asserted, not assumed,
    because a future assignment path that normalizes per batch would
    silently break this); (2) recall@5 of the incremental-index probe
    ≥ 0.6 vs the exact top-5 (measured 0.76/0.69/0.72 at
    sf0.001/0.01/0.1 with nprobe=8 of 32). The oracle recomputes the
    exact side and expects TRUE on both."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    is_delta = F.col("vec_id") % 10 == 7
    corpus = emb.filter(~is_delta)
    delta = emb.filter(is_delta)
    codebook = S.fit_codebook(corpus, k=32, seed=42, max_iter=5)

    inv_corpus = S.assign_cells_np(corpus, codebook)
    inv_delta = S.assign_cells_np(delta, codebook)
    inv_incr = materialize(inv_corpus.unionByName(inv_delta))
    inv_full = S.assign_cells_np(emb, codebook)

    a = inv_incr.select("vec_id", "_cell")
    b = inv_full.select("vec_id", "_cell")
    equals = (
        a.exceptAll(b)
        .unionByName(b.exceptAll(a))
        .agg(F.count(F.lit(1)).alias("n_diff"))
        .select((F.col("n_diff") == 0).alias("incr_equals_rebuild"))
    )

    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = S.brute_force_topk(emb, queries, k=5, id_col="vec_id", vec_col="embedding")
    approx = S.ivf_topk_from_index(inv_incr, codebook, queries, k=5, nprobe=8)
    return _ann_recall_verdict(
        exact, approx, 0.6, "ivf_incr_recall_ge_060"
    ).crossJoin(F.broadcast(equals))


@register(
    "x_ann_ivf_delete_compact",
    oracle=_brute_topk_oracle("vec_id % 100 = 0", 5, "ivf_delete_recall_ge_060")
    .replace(
        "FROM embeddings e, q",
        "FROM (SELECT * FROM embeddings WHERE vec_id % 10 != 3) e, q",
    )
    .replace(
        "TRUE AS ivf_delete_recall_ge_060",
        "TRUE AS compact_equals_rebuild, TRUE AS no_tombstone_hits, "
        "TRUE AS ivf_delete_recall_ge_060",
    ),
)
def x_ann_ivf_delete_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index maintenance under DELETES (VERDICT r10 item 8 — the
    missing half of x_ann_ivf_incremental's add path): after an
    interleaved add batch (vec_id ≡ 7 mod 10, assigned with the frozen
    codebook and appended) and a delete batch (vec_id ≡ 3 mod 10 —
    dedup kills / TTL, tombstoned), reads go through the tombstone
    view (similarity.ivf_apply_tombstones — an anti-join applied
    BEFORE top-k truncation, so a dead posting can never surface) and
    a compaction pass (similarity.compact_ivf_index) physically drops
    dead postings and re-balances cells.

    THREE verdicts ride the exact brute-force rows (computed over the
    LIVE set — the oracle applies the same vec_id % 10 != 3 filter):
    (1) compact_equals_rebuild — the compacted inverted file is
    row-identical to re-assigning the live vectors from scratch with
    the same codebook (exceptAll both ways == 0); (2)
    no_tombstone_hits — zero deleted ids in the probe results
    (the filter-after-truncation bug flips this); (3) recall@5 of the
    tombstone-view probe ≥ 0.6 vs the exact live top-5 (nprobe=8 of
    32, same bound as the add-path sibling).

    Scale: adds are |delta| map-side matmuls; the tombstone view is
    one keyed anti-join (never a broadcast — a 10% delete set of a
    100 TB corpus is itself TB-scale); compaction is one clustering
    exchange of the survivor set, paid once per compaction cycle."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    is_add = F.col("vec_id") % 10 == 7
    base = emb.filter(~is_add)
    adds = emb.filter(is_add)
    codebook = S.fit_codebook(base, k=32, seed=42, max_iter=5)

    inv = materialize(
        S.assign_cells_np(base, codebook)
        .unionByName(S.assign_cells_np(adds, codebook))
    )
    tombstones = emb.filter(F.col("vec_id") % 10 == 3).select("vec_id")
    live_view = S.ivf_apply_tombstones(inv, tombstones)
    compacted = S.compact_ivf_index(inv, tombstones)

    live_emb = emb.filter(F.col("vec_id") % 10 != 3)
    rebuilt = S.assign_cells_np(live_emb, codebook)
    a = compacted.select("vec_id", "_cell")
    b = rebuilt.select("vec_id", "_cell")
    equals = (
        a.exceptAll(b)
        .unionByName(b.exceptAll(a))
        .agg(F.count(F.lit(1)).alias("n_diff"))
        .select((F.col("n_diff") == 0).alias("compact_equals_rebuild"))
    )

    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = S.brute_force_topk(
        live_emb, queries, k=5, id_col="vec_id", vec_col="embedding"
    )
    approx = materialize(S.ivf_topk_from_index(live_view, codebook, queries, k=5, nprobe=8))
    no_dead = (
        approx.join(tombstones, ["vec_id"], "left_semi")
        .agg(F.count(F.lit(1)).alias("n_dead"))
        .select((F.col("n_dead") == 0).alias("no_tombstone_hits"))
    )
    return (
        _ann_recall_verdict(exact, approx, 0.6, "ivf_delete_recall_ge_060")
        .crossJoin(F.broadcast(equals))
        .crossJoin(F.broadcast(no_dead))
    )


@register(
    "x_simhash_incremental",
    oracle="""
    WITH words AS (
      SELECT doc_id,
             string_split_regex(regexp_replace(lower(trim(text)), '[ \\t\\n\\r]+', ' ', 'g'), ' ') AS w
      FROM documents
    ), tokens AS (
      SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) AS idx FROM words
    ), grams AS (
      SELECT doc_id,
             word || ' ' || lead(word, 1) OVER win || ' ' || lead(word, 2) OVER win AS g
      FROM tokens WINDOW win AS (PARTITION BY doc_id ORDER BY idx)
      QUALIFY lead(word, 2) OVER win IS NOT NULL
    ), dgrams AS (
      SELECT DISTINCT doc_id, g FROM grams
    ), sizes AS (
      SELECT doc_id, count(*) AS sz FROM dgrams GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      FROM dgrams a JOIN dgrams b USING (g)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, jaccard,
           TRUE AS incr_equals_full, TRUE AS simhash_recall_ge_050
    FROM (
      SELECT id_a, id_b,
             floor(n_inter / (sa.sz + sb.sz - n_inter) * 1000000 + 0.5) / 1000000 AS jaccard
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
    ) WHERE jaccard >= 0.9
      AND (id_a % 5 = 0 OR id_b % 5 = 0)
    """,
)
def x_simhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 (batch-ingest flavor, SimHash): incremental SimHash near-dup —
    new batch (doc_id ≡ 0 mod 5) band-probed against the standing
    corpus plus itself, never corpus×corpus; completes the incremental
    near-dup pair (x_minhash_incremental is the Jaccard-regime twin).

    TWO verdicts ride the exact batch-touching Jaccard ≥ 0.9 rows:
    (1) incr_equals_full — the incremental pair set is ROW-IDENTICAL
    to the full simhash_neardup_pairs run restricted to batch-touching
    pairs (simhash is per-document-deterministic and band matching is
    per-pair local, so equality is structural — asserted, because a
    future signature that normalizes over the corpus would silently
    break it); (2) the full run's recall ≥ 0.5 bound inherited on the
    batch slice. The oracle recomputes the exact side and expects TRUE
    on both."""
    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    exact = materialize(
        D.ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.9)
        .filter((F.col("id_a") % 5 == 0) | (F.col("id_b") % 5 == 0))
    )
    # ONE signature pass (r14 optimization): a SimHash depends only on
    # its own text, and this query consumes signatures THREE times
    # (batch bands, corpus bands, the full-run parity side) — before,
    # each consumer re-ran the 64-bit token fold over its slice, i.e.
    # ~3 corpus-sized folds per run. Compute once, checkpoint, slice.
    # Bit-identical by construction, so the verdict semantics (and the
    # oracle hash) are unchanged.
    sigs = materialize(
        D.with_simhash(D._ensure_min_parallelism(docs.select("doc_id", "text")), "text").select(
            "doc_id", "simhash"
        )
    )
    incr = materialize(
        D.simhash_neardup_incremental(
            batch,
            corpus,
            "text",
            "doc_id",
            max_hamming=3,
            batch_sig=sigs.filter(F.col("doc_id") % 5 == 0),
            corpus_sig=sigs.filter(F.col("doc_id") % 5 != 0),
        )
    )
    full_touching = (
        D.simhash_neardup_pairs(docs, "text", "doc_id", max_hamming=3, sig=sigs)
        .filter((F.col("id_a") % 5 == 0) | (F.col("id_b") % 5 == 0))
        .select("id_a", "id_b", "hamming")
    )
    eq = (
        incr.exceptAll(full_touching)
        .unionByName(full_touching.exceptAll(incr))
        .agg(F.count(F.lit(1)).alias("n_diff"))
        .select((F.col("n_diff") == 0).alias("incr_equals_full"))
    )
    hits = exact.join(incr.select("id_a", "id_b"), ["id_a", "id_b"], "left_semi")
    verdict = (
        exact.agg(F.count(F.lit(1)).alias("n_exact"))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hit")))
        .select(
            (F.col("n_hit") >= 0.5 * F.col("n_exact")).alias(
                "simhash_recall_ge_050"
            )
        )
    )
    return exact.crossJoin(F.broadcast(eq)).crossJoin(F.broadcast(verdict))
