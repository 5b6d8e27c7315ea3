"""LLM training-data pipeline queries beyond the X1-X5 north-star set:
PII scrubbing, document chunking, benchmark-contamination screening.

All three are fully oracle-checked: the scrub query deterministically
injects PII-shaped tokens (the synthetic corpus contains none) with the
same SQL-expressible concat on both engines, so every row exercises
every pattern; chunking and containment are pure relational algebra.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..materialize import materialize
from ..operators import dedup as D
from ..operators import similarity as S
from ..operators import text as X
from ..operators.numeric import q6 as _q6
from ..sources import load_table
from . import register


@register(
    "x_pii_scrub",
    oracle=r"""
    WITH raw AS (
      SELECT doc_id,
             text || ' visit https://ex.com/p/' || doc_id
                  || ' or mail user' || doc_id || '@mail.example.org'
                  || ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
               AS raw_text
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(raw_text, 'https?://[^ \t\n\r]+')) AS INT)  AS n_urls,
           CAST(len(regexp_extract_all(raw_text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT)    AS n_emails,
           CAST(len(regexp_extract_all(raw_text,
             '\b[0-9]{3}-[0-9]{4}\b')) AS INT)                             AS n_phones,
           regexp_replace(
             regexp_replace(
               regexp_replace(raw_text, 'https?://[^ \t\n\r]+', '<URL>', 'g'),
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b[0-9]{3}-[0-9]{4}\b', '<PHONE>', 'g')                      AS clean_text
    FROM raw
    """,
)
def x_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub pass: URLs → <URL>, emails → <EMAIL>, phones → <PHONE>,
    plus per-doc match counts. The synthetic corpus contains no PII, so
    the query INJECTS one of each (deterministically, from doc_id, with
    the identical concat in the oracle) — the hash check then proves
    every pattern fires on every row in both engines. Patterns live in
    operators/text.py and are drawn from the Java-regex ∩ RE2 subset.
    Three chained regexp_replace ops fuse into one codegen projection:
    zero shuffles, one corpus scan at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    raw = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" visit https://ex.com/p/"),
            F.col("doc_id").cast("string"),
            F.lit(" or mail user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.org"),
            F.lit(" call 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("raw_text"),
    )
    return raw.select(
        "doc_id",
        X.match_count("raw_text", X.URL_REGEX).alias("n_urls"),
        X.match_count("raw_text", X.EMAIL_REGEX).alias("n_emails"),
        X.match_count("raw_text", X.PHONE_REGEX).alias("n_phones"),
        X.scrub_text("raw_text").alias("clean_text"),
    )


@register(
    "x_doc_chunks",
    oracle="""
    WITH words AS (
      SELECT doc_id,
             string_split(regexp_replace(trim(text), '[ \\t\\n\\r]+', ' ', 'g'), ' ') AS w
      FROM documents
    ), chunks AS (
      SELECT doc_id, unnest(generate_series(0, CAST(floor((len(w) - 1) / 40) AS INT)))
               AS chunk_idx, w
      FROM words
    )
    SELECT doc_id, chunk_idx,
           array_to_string(list_slice(w, chunk_idx * 40 + 1, chunk_idx * 40 + 50), ' ')
             AS chunk_text,
           CAST(least(50, len(w) - chunk_idx * 40) AS INT) AS n_words_chunk
    FROM chunks
    """,
)
def x_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size word-window chunking (window 50, stride 40 → 10-word
    overlap): the explode that turns documents into trainable units.
    Map-side only — no shuffle; see operators/text.chunk_by_words."""
    docs = load_table(spark, sf_dir, "documents")
    return X.chunk_by_words(docs, "text", "doc_id", window=50, stride=40)


@register(
    "x_curated_corpus",
    oracle="""
    WITH m AS (
      SELECT doc_id, source,
             regexp_replace(
               regexp_replace(
                 regexp_replace(text, 'https?://[^ \\t\\n\\r]+', '<URL>', 'g'),
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\\b[0-9]{3}-[0-9]{4}\\b', '<PHONE>', 'g')               AS clean_text,
             CAST(len(string_split_regex(trim(text), '[ \\t\\n\\r]+')) AS INT)   AS n_words,
             list_sum(list_transform(string_split_regex(trim(text), '[ \\t\\n\\r]+'), w -> len(w)))
               / nullif(len(string_split_regex(trim(text), '[ \\t\\n\\r]+')), 0) AS mean_wl,
             len(list_filter(string_split(lower(trim(text)), ' '),
                 x -> list_contains(['the','a','an','and','or','but','if','then','is',
                                     'are','was','were','be','been','being','of','to',
                                     'in','on','for','with','as','at','by','from',
                                     'that','this','it','its','not','no'], x)))
               / nullif(len(string_split(lower(trim(text)), ' ')), 0)   AS stop_r,
             1.0 - len(list_distinct(string_split(lower(trim(text)), ' ')))
               / nullif(len(string_split(lower(trim(text)), ' ')), 0)   AS word_rep,
             row_number() OVER (
               PARTITION BY regexp_replace(lower(trim(text)), '[ \\t\\n\\r]+', ' ', 'g')
               ORDER BY doc_id)                                         AS dup_rn
      FROM documents
    )
    SELECT doc_id, source, clean_text, n_words
    FROM m
    WHERE dup_rn = 1
      AND n_words >= 30 AND n_words <= 5000
      AND mean_wl >= 2.5 AND mean_wl <= 10.0
      AND stop_r >= 0.05
      AND word_rep <= 0.5
    """,
)
def x_curated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end curation pipeline as ONE Catalyst plan: PII scrub →
    Gopher quality gate → exact-dedup survivor pick → export columns.
    Composes scrub_text, the x_quality_filter rules, and the X1
    fingerprint dedup; Catalyst fuses the scrub and every quality metric
    into a single codegen projection, so the whole pipeline costs one
    corpus scan plus the dedup window's fingerprint shuffle — the
    marginal cost of 'curated' over 'raw' at 100 TB is ONE exchange."""
    docs = load_table(spark, sf_dir, "documents")
    wdup = Window.partitionBy(X.doc_fingerprint("text")).orderBy("doc_id")
    m = docs.select(
        "doc_id",
        "source",
        X.scrub_text("text").alias("clean_text"),
        X.whitespace_token_count("text").alias("n_words"),
        X.mean_word_length("text").alias("mean_wl"),
        X.stopword_ratio("text").alias("stop_r"),
        X.word_repetition_ratio("text").alias("word_rep"),
        F.row_number().over(wdup).alias("dup_rn"),
    )
    return (
        m.filter(
            (F.col("dup_rn") == 1)
            & (F.col("n_words") >= 30) & (F.col("n_words") <= 5000)
            & (F.col("mean_wl") >= 2.5) & (F.col("mean_wl") <= 10.0)
            & (F.col("stop_r") >= 0.05)
            & (F.col("word_rep") <= 0.5)
        )
        .select("doc_id", "source", "clean_text", "n_words")
    )


@register(
    "x_semantic_dedup",
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
    ), dups AS (
      SELECT DISTINCT b.vec_id
      FROM assigned a JOIN assigned b
        ON a.cid = b.cid AND a.vec_id < b.vec_id
      WHERE round(list_dot_product(a.ev, b.ev)
              / nullif(sqrt(list_dot_product(a.ev, a.ev))
                     * sqrt(list_dot_product(b.ev, b.ev)), 0), 6) >= 0.4
    )
    SELECT s.vec_id, s.cid,
           CAST(d.vec_id IS NULL AS INT) AS keep
    FROM assigned s LEFT JOIN dups d ON d.vec_id = s.vec_id
    """,
)
def x_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication: cluster the embedding space
    (here the 8 stand-in centroids so the whole operator stays
    SQL-checkable — production swaps in fit_codebook's k-means, k ∝
    corpus size so cells stay bounded), compare pairs ONLY within a
    cell, and drop every vector that has a lower-id semantic duplicate
    (cos ≥ 0.4, the corpus's planted-pair regime). The all-pairs cost is
    C × (n/C)² instead of n² — the clustering bounds the quadratic term,
    and cross-cell duplicates are the documented recall trade every
    SemDeDup deployment makes. Cell assignment is the same map-side
    literal-codebook fold as IVF; the only shuffle is the within-cell
    self-join on cid."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    centroids = [
        (r["vec_id"], r["embedding"])
        for r in emb.filter(F.col("vec_id") < 8).select("vec_id", "embedding").collect()
    ]
    assigned = (
        S.ensure_min_parallelism(emb.select("vec_id", "embedding"))
        .withColumn("_norm", S.l2_norm(F.col("embedding")))
        .withColumn("cid", S._best_cells("embedding", centroids, 1)[0])
    )
    a = assigned.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("_va"),
        F.col("_norm").alias("_na"), "cid",
    )
    b = assigned.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("_vb"),
        F.col("_norm").alias("_nb"), "cid",
    )
    dups = (
        a.join(b, "cid")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.round(
                S.dot(F.col("_va"), F.col("_vb"))
                / F.nullif(F.col("_na") * F.col("_nb"), F.lit(0.0)),
                6,
            )
            >= 0.4
        )
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    return assigned.select("vec_id", "cid").join(
        dups.withColumn("_dup", F.lit(1)), "vec_id", "left"
    ).select("vec_id", "cid", F.col("_dup").isNull().cast("int").alias("keep"))


@register(
    "x_vocab_build",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '[ \\t\\n\\r]+')) AS word
      FROM documents
    ), counts AS (
      SELECT word, count(*) AS n, count(DISTINCT doc_id) AS df
      FROM toks GROUP BY 1
    ), ranked AS (
      SELECT word, n, df,
             CAST(row_number() OVER (ORDER BY n DESC, word) AS INT) AS rank,
             sum(n) OVER (ORDER BY n DESC, word
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
             sum(n) OVER () AS total_n
      FROM counts WHERE n >= 5
    )
    SELECT word, n, df, rank, round(cum_n / total_n, 6) AS cum_share
    FROM ranked
    WHERE rank <= 200
    """,
)
def x_vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary construction for tokenizer training: corpus word
    counts with a min-count floor, document frequency, frequency rank,
    and cumulative token coverage (what fraction of the corpus the top-r
    words explain — the curve that picks a vocab size). One aggregation
    shuffle over tokens; the ranking windows run over the VOCABULARY
    (aggregate-bounded, ~Heaps-law sublinear in corpus size), not the
    corpus, so the single-partition ordered window is safe at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"[ \t\n\r]+")).alias("word"),
    )
    counts = (
        toks.groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("doc_id").alias("df"))
        .filter(F.col("n") >= 5)
    )
    from ..operators.tswindow import spine_window

    # vocabulary frame is aggregate-bounded (Heaps-law sublinear);
    # the guard names the bound so a data-sized frame can't hide here
    counts, worder = spine_window(
        counts,
        [F.desc("n"), F.asc("word")],
        max_rows=4_194_304,
        label="vocab-rank",
    )
    ranked = (
        counts.withColumn("rank", F.row_number().over(worder).cast("int"))
        .withColumn(
            "cum_n",
            F.sum("n").over(worder.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
        )
        .withColumn(
            "total_n",
            F.sum("n").over(
                worder.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
        )
    )
    return (
        ranked.filter(F.col("rank") <= 200)
        .select(
            "word", "n", "df", "rank",
            F.round(F.col("cum_n") / F.col("total_n"), 6).alias("cum_share"),
        )
    )


@register(
    "x_bigram_lm_score",
    oracle="""
    WITH w AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '[ \\t\\n\\r]+') AS words
      FROM documents
    ), bg AS (
      SELECT doc_id, unnest(list_transform(range(1, len(words)),
                                           i -> words[i] || ' ' || words[i+1])) AS b
      FROM w WHERE len(words) >= 2
    ), toks AS (
      SELECT unnest(words) AS word FROM w
    ), cb AS (
      SELECT b, count(*) AS n_b FROM bg GROUP BY 1
    ), cu AS (
      SELECT word, count(*) AS n_u FROM toks GROUP BY 1
    ), v AS (
      SELECT count(DISTINCT word) AS vsz FROM toks
    )
    SELECT g.doc_id,
           CAST(count(*) AS INT) AS n_bigrams,
           round(avg(ln((cb.n_b + 0.5) / (cu.n_u + 0.5 * v.vsz))), 4) AS avg_logp
    FROM bg g
    JOIN cb ON cb.b = g.b
    JOIN cu ON cu.word = string_split(g.b, ' ')[1]
    CROSS JOIN v
    GROUP BY g.doc_id
    """,
)
def x_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style n-gram LM quality scoring: train an add-k-smoothed
    bigram model ON the corpus, score every document by its mean log
    probability — low scores mark gibberish / non-natural text. Exact
    corpus-wide model: two aggregation shuffles build bigram and context
    counts, the vocab size rides a 1-row broadcast, and the per-doc
    score is one more aggregate. At 100 TB the full bigram table is the
    dominant shuffle — a production run prunes it to the top-M bigrams
    (broadcastable) with unigram back-off, which this operator's shape
    supports by filtering cb before the join. avg(ln ·) rounds to 4dp so
    cross-engine summation order can't flip the hash."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.lower(F.trim(F.col("text"))), r"[ \t\n\r]+")
    w = docs.select("doc_id", words.alias("words")).filter(F.size("words") >= 2)
    bg = w.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("words") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("words"), i).alias("w1"),
                    F.element_at(F.col("words"), i + 1).alias("w2"),
                ),
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    toks = docs.select(F.explode(words).alias("word"))
    cb = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_b"))
    cu = toks.groupBy("word").agg(F.count(F.lit(1)).alias("n_u"))
    v = toks.agg(F.countDistinct("word").alias("vsz"))
    return (
        bg.join(cb, ["w1", "w2"])
        .join(cu, F.col("w1") == F.col("word"))
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_bigrams"),
            F.round(
                F.avg(F.log((F.col("n_b") + 0.5) / (F.col("n_u") + 0.5 * F.col("vsz")))),
                4,
            ).alias("avg_logp"),
        )
    )


@register(
    "x_corpus_report",
    oracle="""
    WITH d AS (
      SELECT doc_id, source,
             len(string_split_regex(trim(text), '[ \\t\\n\\r]+')) AS n_words,
             md5(lower(trim(regexp_replace(text, '[ \\t\\n\\r]+', ' ', 'g')))) AS fp
      FROM documents
    )
    SELECT CAST(count(*) AS BIGINT)                                   AS n_docs,
           CAST(count(DISTINCT source) AS BIGINT)                     AS n_sources,
           CAST(sum(n_words) AS BIGINT)                               AS total_words,
           round(avg(n_words), 4)                                     AS avg_words,
           round(quantile_cont(n_words, 0.50), 4)                     AS p50_words,
           round(quantile_cont(n_words, 0.95), 4)                     AS p95_words,
           round(1.0 - count(DISTINCT fp) / count(*), 6)              AS exact_dup_rate,
           round(sum(CASE WHEN n_words < 30 THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6)                       AS short_doc_rate
    FROM d
    """,
)
def x_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus health report — the summary a curation run ends
    with: volume (docs/sources/words), length distribution (exact
    p50/p95), exact-duplicate rate (md5 of normalized content —
    md5 here, not xxhash64, so the DuckDB oracle can reproduce the
    fingerprint bit-for-bit), and the short-doc share. Single
    aggregation over one corpus scan; every metric is a map-side
    partial except the exact percentiles, whose 100 TB stand-in is
    approx_percentile (see agg_approx_percentile)."""
    docs = load_table(spark, sf_dir, "documents")
    n_words = F.size(F.split(F.trim("text"), r"[ \t\n\r]+"))
    fp = F.md5(F.encode(F.lower(F.trim(F.regexp_replace("text", r"[ \t\n\r]+", " "))), "UTF-8"))
    d = docs.select("doc_id", "source", n_words.alias("n_words"), fp.alias("fp"))
    return d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum("n_words").alias("total_words"),
        F.round(F.avg("n_words"), 4).alias("avg_words"),
        F.round(F.percentile("n_words", 0.50), 4).alias("p50_words"),
        F.round(F.percentile("n_words", 0.95), 4).alias("p95_words"),
        F.round(
            F.lit(1.0) - F.countDistinct("fp") / F.count(F.lit(1)), 6
        ).alias("exact_dup_rate"),
        F.round(
            F.sum((F.col("n_words") < 30).cast("int")) / F.count(F.lit(1)), 6
        ).alias("short_doc_rate"),
    )


@register(
    "x_duplicate_spans",
    oracle="""
    WITH w AS (
      SELECT doc_id,
             string_split(lower(trim(regexp_replace(text, '[ \t\n\r]+', ' ', 'g'))), ' ') AS words
      FROM documents
    ), g AS (
      SELECT doc_id, unnest(generate_series(1, len(words) - 7)) AS pos, words
      FROM w WHERE len(words) >= 8
    ), gr AS (
      SELECT doc_id, pos,
             array_to_string(list_transform(range(pos, pos + 8), i -> words[i]), ' ') AS gram
      FROM g
    ), dup AS (
      SELECT gram FROM gr GROUP BY gram HAVING count(*) >= 2
    ), hits AS (
      SELECT gr.doc_id, gr.pos FROM gr JOIN dup USING (gram)
    ), isl AS (
      SELECT doc_id, pos,
             CASE WHEN pos > coalesce(max(pos + 7) OVER (
                    PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
                  THEN 1 ELSE 0 END AS new_isl
      FROM hits
    ), isl2 AS (
      SELECT doc_id, pos,
             sum(new_isl) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
      FROM isl
    )
    SELECT CAST(doc_id AS BIGINT)                            AS doc_id,
           CAST(span_id AS BIGINT)                           AS span_id,
           CAST(min(pos) AS BIGINT)                          AS span_start,
           CAST(max(pos) + 7 AS BIGINT)                      AS span_end,
           CAST(max(pos) + 7 - min(pos) + 1 AS BIGINT)       AS span_words
    FROM isl2 GROUP BY doc_id, span_id
    """,
)
def x_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level exact dedup (Lee et al. 2022, k-gram form): every
    maximal token run covered by word-8-grams that occur ≥2 times
    corpus-wide, merged into per-doc spans. Spark side shuffles 8-byte
    xxhash64 gram keys; the oracle groups the full gram strings — see
    operators/text.duplicate_spans for the plan and 100 TB posture."""
    docs = load_table(spark, sf_dir, "documents")
    return X.duplicate_spans(docs, "text", "doc_id", k=8, min_occurrences=2)


@register(
    "x_duplicate_spans_removed",
    oracle="""
    WITH w AS (
      SELECT doc_id,
             string_split(lower(trim(regexp_replace(text, '[ \t\n\r]+', ' ', 'g'))), ' ') AS words
      FROM documents
    ), g AS (
      SELECT doc_id, unnest(generate_series(1, len(words) - 7)) AS pos, words
      FROM w WHERE len(words) >= 8
    ), gr AS (
      SELECT doc_id, pos,
             array_to_string(list_transform(range(pos, pos + 8), i -> words[i]), ' ') AS gram
      FROM g
    ), dup AS (
      SELECT gram FROM gr GROUP BY gram HAVING count(*) >= 2
    ), hits AS (
      SELECT gr.doc_id, gr.pos FROM gr JOIN dup USING (gram)
    ), isl AS (
      SELECT doc_id, pos,
             CASE WHEN pos > coalesce(max(pos + 7) OVER (
                    PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
                  THEN 1 ELSE 0 END AS new_isl
      FROM hits
    ), isl2 AS (
      SELECT doc_id, pos,
             sum(new_isl) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
      FROM isl
    ), sp AS (
      SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e
      FROM isl2 GROUP BY doc_id, span_id
    ), spl AS (
      SELECT doc_id, list(struct_pack(s := s, e := e)) AS spans FROM sp GROUP BY doc_id
    ), j AS (
      SELECT w.doc_id, w.words, spl.spans FROM w LEFT JOIN spl USING (doc_id)
    ), r AS (
      SELECT doc_id, words,
             CASE WHEN spans IS NULL THEN range(1, len(words) + 1)
                  ELSE list_filter(range(1, len(words) + 1),
                         i -> len(list_filter(spans, sp -> i >= sp.s AND i <= sp.e)) = 0)
             END AS kept
      FROM j
    )
    SELECT CAST(doc_id AS BIGINT)                              AS doc_id,
           -- array_to_string of an EMPTY list is NULL in DuckDB but ''
           -- in Spark's array_join: a fully-removed doc must agree
           coalesce(array_to_string(list_transform(kept, i -> words[i]), ' '), '')
                                                               AS clean_text,
           CAST(len(words) AS BIGINT)                          AS n_words,
           CAST(len(words) - len(kept) AS BIGINT)              AS n_removed_words
    FROM r
    """,
)
def x_duplicate_spans_removed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CUT half of Lee et al. 2022: the corpus with every detected
    duplicated span removed at word level. Detection reuses
    x_duplicate_spans' shuffles; removal adds one bounded per-doc span
    aggregation, a keyed join back to the corpus, and a JVM higher-
    order filter over the word array — see
    operators/text.remove_duplicate_spans."""
    docs = load_table(spark, sf_dir, "documents")
    return X.remove_duplicate_spans(docs, "text", "doc_id", k=8, min_occurrences=2)


@register(
    "x_bigram_lm_score_pruned",
    oracle="""
    WITH w AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '[ \\t\\n\\r]+') AS words
      FROM documents
    ), bg AS (
      SELECT doc_id, unnest(list_transform(range(1, len(words)),
                                           i -> words[i] || ' ' || words[i+1])) AS b
      FROM w WHERE len(words) >= 2
    ), toks AS (
      SELECT unnest(words) AS word FROM w
    ), cb AS (
      SELECT b, count(*) AS n_b FROM bg GROUP BY 1
    ), topm AS (
      SELECT b, n_b FROM cb ORDER BY n_b DESC, b LIMIT 2000
    ), cu AS (
      SELECT word, count(*) AS n_u FROM toks GROUP BY 1
    ), t AS (
      SELECT count(DISTINCT word) AS vsz, count(*) AS n_tok FROM toks
    )
    SELECT g.doc_id,
           CAST(count(*) AS INT) AS n_bigrams,
           CAST(sum(CASE WHEN m.n_b IS NULL THEN 1 ELSE 0 END) AS INT) AS n_backoff,
           round(avg(CASE WHEN m.n_b IS NOT NULL
                          THEN ln((m.n_b + 0.5) / (u1.n_u + 0.5 * t.vsz))
                          ELSE ln(0.4) + ln((u2.n_u + 0.5) / (t.n_tok + 0.5 * t.vsz))
                     END), 4) AS avg_logp
    FROM bg g
    LEFT JOIN topm m ON m.b = g.b
    JOIN cu u1 ON u1.word = string_split(g.b, ' ')[1]
    JOIN cu u2 ON u2.word = string_split(g.b, ' ')[2]
    CROSS JOIN t
    GROUP BY g.doc_id
    """,
)
def x_bigram_lm_score_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB variant x_bigram_lm_score's docstring promises: prune
    the model to the top-M bigrams (M=2000 here; deterministic tie-break
    on the bigram itself) and back off to a stupid-backoff unigram score
    (α=0.4) for everything outside it. The pruned model rides a
    BROADCAST — the corpus-sized bigram table never joins the corpus
    again — and the only remaining model-side shuffles are vocab-sized
    (unigram counts). Top-M selection is orderBy+limit, which Spark
    plans as TakeOrdered (distributed partial top-k, no single-partition
    window). Scores round to 4dp so summation order can't flip the hash;
    n_backoff exposes how much of each doc fell outside the pruned model."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.lower(F.trim(F.col("text"))), r"[ \t\n\r]+")
    w = docs.select("doc_id", words.alias("words")).filter(F.size("words") >= 2)
    bg = w.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("words") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("words"), i).alias("w1"),
                    F.element_at(F.col("words"), i + 1).alias("w2"),
                ),
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    toks = docs.select(F.explode(words).alias("word"))
    cb = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_b"))
    topm = cb.orderBy(F.desc("n_b"), "w1", "w2").limit(2000)
    cu = toks.groupBy("word").agg(F.count(F.lit(1)).alias("n_u"))
    tot = toks.agg(
        F.countDistinct("word").alias("vsz"), F.count(F.lit(1)).alias("n_tok")
    )
    cu1 = cu.select(F.col("word").alias("w1"), F.col("n_u").alias("n_u1"))
    cu2 = cu.select(F.col("word").alias("w2"), F.col("n_u").alias("n_u2"))
    logp = F.when(
        F.col("n_b").isNotNull(),
        F.log((F.col("n_b") + 0.5) / (F.col("n_u1") + 0.5 * F.col("vsz"))),
    ).otherwise(
        F.log(F.lit(0.4))
        + F.log((F.col("n_u2") + 0.5) / (F.col("n_tok") + 0.5 * F.col("vsz")))
    )
    return (
        bg.join(F.broadcast(topm), ["w1", "w2"], "left")
        .join(cu1, "w1")
        .join(cu2, "w2")
        .crossJoin(F.broadcast(tot))
        .select("doc_id", F.col("n_b"), logp.alias("logp"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_bigrams"),
            F.sum(F.col("n_b").isNull().cast("int")).cast("int").alias("n_backoff"),
            F.round(F.avg("logp"), 4).alias("avg_logp"),
        )
    )


@register(
    "x_mixture_sample",
    oracle="""
    WITH c AS (
      SELECT source, count(*) AS n_s FROM documents GROUP BY 1
    ), s AS (
      SELECT source, n_s,
             sqrt(CAST(n_s AS DOUBLE)) / sum(sqrt(CAST(n_s AS DOUBLE))) OVER () AS share,
             sum(n_s) OVER () / 2.0 AS budget
      FROM c
    ), f AS (
      SELECT source,
             CAST(floor(round(least(1.0, budget * share / n_s) * 10000, 3)) AS BIGINT) AS cut
      FROM s
    )
    SELECT d.doc_id, d.source
    FROM documents d JOIN f USING (source)
    WHERE ('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000 < f.cut
    """,
)
def x_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mixture resampling with sqrt (α=0.5) reweighting — the
    standard trick for rebalancing a multi-source corpus toward rarer
    sources: target share ∝ √n_s, total budget = half the corpus, and
    per-source keep fractions capped at 1. Membership is the same
    md5-mod bucket as x_hash_split — deterministic, engine-invariant,
    repartition-proof. Fully distributed: per-source counts are a tiny
    aggregate (|sources| rows) whose global sums come from an
    unpartitioned window over that aggregate — never a driver collect —
    and the cutoffs broadcast back onto the corpus scan, so at 100 TB
    the corpus is read once, map-side filtered. The 1e-4-granular cut
    is computed on round(·, 3) so the floor is stable against the
    last-bit summation-order differences between engines."""
    from ..operators.tswindow import spine_window

    docs = load_table(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    per_source, wall = spine_window(
        per_source, [], max_rows=65536, label="source-shares"
    )
    shares = (
        per_source
        .withColumn(
            "share",
            F.sqrt(F.col("n_s").cast("double"))
            / F.sum(F.sqrt(F.col("n_s").cast("double"))).over(wall),
        )
        .withColumn("budget", F.sum("n_s").over(wall) / 2.0)
        .withColumn(
            "cut",
            F.floor(
                F.round(
                    F.least(F.lit(1.0), F.col("budget") * F.col("share") / F.col("n_s"))
                    * 10000,
                    3,
                )
            ).cast("bigint"),
        )
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 10000
    )
    return (
        docs.join(F.broadcast(shares.select("source", "cut")), "source")
        .filter(bucket < F.col("cut"))
        .select("doc_id", "source")
    )


@register(
    "x_dedup_survivors",
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
    ), q AS (
      SELECT s.doc_id,
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
          + CASE WHEN list_sum(list_transform(string_split_regex(trim(text), '[ \\t\\n\\r]+'), x -> length(x)))
                      / nullif(len(string_split_regex(trim(text), '[ \\t\\n\\r]+')), 0)
                 BETWEEN 3 AND 10 THEN 1.0 ELSE 0.3 END
        ) / 4.0, 6) AS quality
      FROM documents s
    )
    SELECT q.doc_id,
           coalesce(c.cluster_id, q.doc_id) AS cluster_id,
           q.quality,
           CAST(row_number() OVER (PARTITION BY coalesce(c.cluster_id, q.doc_id)
                                   ORDER BY q.quality DESC, q.doc_id) = 1 AS INT)
             AS is_survivor
    FROM q LEFT JOIN comp c ON c.doc_id = q.doc_id
    """,
)
def x_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The step that turns near-dup CLUSTERS into a deduplicated corpus:
    per cluster keep the highest-quality document (doc_id tiebreak),
    mark the rest dropped. Unclustered docs form singleton clusters and
    trivially survive. Ranking compares the ROUNDED quality score, so
    the decision is engine-invariant. The pair source is pluggable —
    any X2 generator (MinHash/SimHash/banded-embedding candidates at
    production scale) feeds the same components→survivors tail; the
    exact-Jaccard source here keeps the whole chain SQL-checkable.
    Plan shape: the cluster labels are a tiny fraction of the corpus
    (only docs in near-dup pairs), so the label join broadcasts; the
    survivor pick is one window over cluster_id — at 100 TB the same
    two-exchange plan holds."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.3).select(
        "id_a", "id_b"
    )
    labels = D.connected_components(pairs)
    q = docs.select("doc_id", X.quality_score("text").alias("quality"))
    joined = q.join(
        labels.select(F.col("node").alias("doc_id"), F.col("label").alias("_cl")),
        "doc_id",
        "left",
    ).select("doc_id", F.coalesce("_cl", "doc_id").alias("cluster_id"), "quality")
    w = Window.partitionBy("cluster_id").orderBy(F.desc("quality"), F.asc("doc_id"))
    return joined.withColumn(
        "is_survivor", (F.row_number().over(w) == 1).cast("int")
    )


@register(
    "x_quality_filter",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '[ \\t\\n\\r]+')) AS INT) AS n_words,
             list_sum(list_transform(string_split_regex(trim(text), '[ \\t\\n\\r]+'), w -> len(w)))
               / nullif(len(string_split_regex(trim(text), '[ \\t\\n\\r]+')), 0)  AS mean_wl,
             len(list_filter(string_split(lower(trim(text)), ' '),
                 x -> list_contains(['the','a','an','and','or','but','if','then','is',
                                     'are','was','were','be','been','being','of','to',
                                     'in','on','for','with','as','at','by','from',
                                     'that','this','it','its','not','no'], x)))
               / nullif(len(string_split(lower(trim(text)), ' ')), 0)    AS stop_r,
             (length(text) - length(regexp_replace(text, '[^A-Za-z0-9_ \\t\\n\\r]', '', 'g')))
               / nullif(length(text), 0)                                 AS punct_r,
             1.0 - len(list_distinct(string_split(lower(trim(text)), ' ')))
               / nullif(len(string_split(lower(trim(text)), ' ')), 0)    AS word_rep
      FROM documents
    ), flagged AS (
      SELECT doc_id, n_words, mean_wl, stop_r, punct_r, word_rep,
             list_filter([
               CASE WHEN n_words < 30 THEN 'too_short' END,
               CASE WHEN n_words > 5000 THEN 'too_long' END,
               CASE WHEN mean_wl < 2.5 OR mean_wl > 10.0 THEN 'word_length' END,
               CASE WHEN stop_r < 0.05 THEN 'low_stopword' END,
               CASE WHEN punct_r > 0.2 THEN 'high_punct' END,
               CASE WHEN word_rep > 0.5 THEN 'repetitive' END
             ], x -> x IS NOT NULL) AS reasons
      FROM m
    )
    SELECT doc_id, n_words,
           round(mean_wl, 6)  AS mean_word_len,
           round(stop_r, 6)   AS stopword_ratio,
           round(punct_r, 6)  AS punct_ratio,
           round(word_rep, 6) AS word_rep_ratio,
           CAST(len(reasons) = 0 AS INT) AS keep,
           coalesce(array_to_string(reasons, ','), '') AS reasons
    FROM flagged
    """,
)
def x_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality gate: length band, mean word length, stopword
    floor, punctuation ceiling, word-repetition ceiling — each failed
    rule lands in a reasons list, keep = no reasons. Thresholds are
    UNROUNDED comparisons (row-wise IEEE arithmetic is bit-identical
    across engines, so the decisions agree exactly); only the reported
    metrics round. One zero-shuffle codegen projection over the corpus —
    the same single-scan shape every production quality pass has."""
    docs = load_table(spark, sf_dir, "documents")
    n_words = X.whitespace_token_count("text")
    mean_wl = X.mean_word_length("text")
    stop_r = X.stopword_ratio("text")
    punct_r = X.punct_ratio("text")
    word_rep = X.word_repetition_ratio("text")
    m = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_wl.alias("mean_wl"),
        stop_r.alias("stop_r"),
        punct_r.alias("punct_r"),
        word_rep.alias("word_rep"),
    )
    reasons = F.filter(
        F.array(
            F.when(F.col("n_words") < 30, "too_short"),
            F.when(F.col("n_words") > 5000, "too_long"),
            F.when((F.col("mean_wl") < 2.5) | (F.col("mean_wl") > 10.0), "word_length"),
            F.when(F.col("stop_r") < 0.05, "low_stopword"),
            F.when(F.col("punct_r") > 0.2, "high_punct"),
            F.when(F.col("word_rep") > 0.5, "repetitive"),
        ),
        lambda x: x.isNotNull(),
    )
    return m.select(
        "doc_id",
        "n_words",
        F.round("mean_wl", 6).alias("mean_word_len"),
        F.round("stop_r", 6).alias("stopword_ratio"),
        F.round("punct_r", 6).alias("punct_ratio"),
        F.round("word_rep", 6).alias("word_rep_ratio"),
        (F.size(reasons) == 0).cast("int").alias("keep"),
        F.array_join(reasons, ",").alias("reasons"),
    )


@register(
    "x_sequence_packing",
    oracle="""
    WITH d AS (
      SELECT source AS shard, doc_id,
             CASE WHEN nt = '' THEN CAST(1 AS BIGINT)
                  ELSE CAST(len(string_split(nt, ' ')) AS BIGINT) END AS n_tok
      FROM (SELECT source, doc_id,
                   trim(regexp_replace(text, '[ \\t\\n\\r]+', ' ', 'g')) AS nt
            FROM documents) t0
    ), o AS (
      SELECT shard, doc_id, n_tok,
             sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS end_off
      FROM d
    ), e AS (
      SELECT shard, doc_id, n_tok, end_off, end_off - n_tok AS off,
             unnest(generate_series(CAST((end_off - n_tok) // 512 AS BIGINT),
                                    CAST((end_off - 1) // 512 AS BIGINT))) AS seq_id
      FROM o
    )
    SELECT shard, seq_id, doc_id, n_tok,
           CAST(greatest(0, seq_id * 512 - off) AS BIGINT)              AS frag_start,
           CAST(least(n_tok, (seq_id + 1) * 512 - off)
             - greatest(0, seq_id * 512 - off) AS BIGINT)               AS frag_len
    FROM e
    """,
)
def x_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing (concat-then-cut) at token budget 512:
    per-shard running token offsets, each doc exploded into the training
    sequences it spans. One window shuffle per shard, map-side explode —
    see operators/text.pack_sequences for the 100 TB posture."""
    docs = load_table(spark, sf_dir, "documents")
    return X.pack_sequences(docs, "text", "doc_id", shard_col="source", budget=512)


@register(
    "x_contamination_check",
    oracle="""
    WITH ev AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(w) - 3, 1)),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]
             )) AS grams
      FROM (SELECT doc_id,
                   string_split(regexp_replace(lower(trim(text)), '[ \\t\\n\\r]+', ' ', 'g'), ' ') AS w
            FROM documents WHERE source IN ('src0', 'src1')) t
      WHERE len(w) >= 5
    ), tr AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(w) - 3, 1)),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]
             )) AS grams
      FROM (SELECT doc_id,
                   string_split(regexp_replace(lower(trim(text)), '[ \\t\\n\\r]+', ' ', 'g'), ' ') AS w
            FROM documents WHERE source NOT IN ('src0', 'src1')) t
      WHERE len(w) >= 5
    ), ex_e AS (
      SELECT doc_id AS eval_id, unnest(grams) AS g FROM ev
    ), ex_t AS (
      SELECT doc_id AS train_id, unnest(grams) AS g FROM tr
    ), inter AS (
      SELECT eval_id, train_id, count(*) AS n_shared
      FROM ex_e JOIN ex_t USING (g)
      GROUP BY 1, 2
      HAVING count(*) >= 3
    )
    SELECT i.eval_id, i.train_id, i.n_shared,
           round(i.n_shared / len(e.grams), 6) AS containment
    FROM inter i JOIN ev e ON e.doc_id = i.eval_id
    """,
)
def x_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination screen: 5-gram containment of 'benchmark'
    documents (sources src0/src1 as the stand-in eval set) in the rest
    of the corpus. Asymmetric containment |eval∩train|/|eval| — the
    right metric for leak detection (a prompt inside a big train doc has
    tiny Jaccard but containment 1.0). Cross-corpus gram equi-join, cost
    ∝ shared grams; see operators/dedup.ngram_containment_pairs."""
    docs = load_table(spark, sf_dir, "documents")
    ev = docs.filter(F.col("source").isin("src0", "src1"))
    tr = docs.filter(~F.col("source").isin("src0", "src1"))
    return D.ngram_containment_pairs(ev, tr, "text", "doc_id", n=5, min_shared=3)


@register(
    "x_decontaminated_corpus",
    oracle="""
    WITH ev AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(w) - 3, 1)),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]
             )) AS grams
      FROM (SELECT doc_id,
                   string_split(regexp_replace(lower(trim(text)), '[ \\t\\n\\r]+', ' ', 'g'), ' ') AS w
            FROM documents WHERE source IN ('src0', 'src1')) t
      WHERE len(w) >= 5
    ), tr AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(w) - 3, 1)),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]
             )) AS grams
      FROM (SELECT doc_id,
                   string_split(regexp_replace(lower(trim(text)), '[ \\t\\n\\r]+', ' ', 'g'), ' ') AS w
            FROM documents WHERE source NOT IN ('src0', 'src1')) t
      WHERE len(w) >= 5
    ), ex_e AS (
      SELECT doc_id AS eval_id, unnest(grams) AS g FROM ev
    ), ex_t AS (
      SELECT doc_id AS train_id, unnest(grams) AS g FROM tr
    ), inter AS (
      SELECT eval_id, train_id, count(*) AS n_shared
      FROM ex_e JOIN ex_t USING (g)
      GROUP BY 1, 2
      HAVING count(*) >= 3
    ), flagged AS (
      SELECT DISTINCT i.train_id AS doc_id
      FROM inter i JOIN ev e ON e.doc_id = i.eval_id
      WHERE round(i.n_shared / len(e.grams), 6) >= 0.8
    )
    SELECT d.doc_id, d.source, CAST(d.n_chars AS BIGINT) AS n_chars
    FROM documents d
    LEFT JOIN flagged f ON d.doc_id = f.doc_id
    WHERE d.source NOT IN ('src0', 'src1') AND f.doc_id IS NULL
    """,
)
def x_decontaminated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ACT half of the contamination screen (detect→drop, same
    symmetry as span detect→removal): the training corpus minus every
    document containing ≥80% of any benchmark document's 5-grams.
    Composition of x_contamination_check's gram equi-join with a
    distinct-flagged left-anti join — the extra cost over the check is
    one tiny anti join keyed on doc_id. Boundary-exactness note: the
    threshold compares the same round(·,6) of the same IEEE division on
    both engines, so 4/5-style exact-boundary containments cut
    identically."""
    docs = load_table(spark, sf_dir, "documents")
    ev = docs.filter(F.col("source").isin("src0", "src1"))
    tr = docs.filter(~F.col("source").isin("src0", "src1"))
    pairs = D.ngram_containment_pairs(ev, tr, "text", "doc_id", n=5, min_shared=3)
    flagged = (
        pairs.filter(F.col("containment") >= 0.8)
        .select(F.col("train_id").alias("doc_id"))
        .distinct()
    )
    return tr.join(flagged, "doc_id", "left_anti").select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("n_chars")
    )


@register(
    "x_heavy_hitters",
    oracle="""
    WITH t AS (
      SELECT unnest(string_split(
               regexp_replace(lower(trim(text)), '[ \\t\\n\\r]+', ' ', 'g'), ' '))
             AS item
      FROM documents
    ), c AS (
      SELECT item, CAST(count(*) AS BIGINT) AS true_count FROM t GROUP BY item
    ), m AS (
      SELECT CAST(count(*) AS BIGINT) AS n FROM t
    )
    SELECT c.item, c.true_count, TRUE AS mg_within_bracket
    FROM c CROSS JOIN m
    WHERE c.true_count > m.n / 65.0
    """,
)
def x_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent tokens via a merged Misra–Gries sketch (k=64): one scan,
    O(k) memory per partition, a k·partitions-sized exchange instead of
    the vocabulary-sized shuffle the exact ``x_word_topk`` pays.

    Bracket-verdict form (MG estimates depend on partition boundaries,
    so raw sketch counts can never hash-match): the query outputs every
    TRUE heavy hitter (exact count > n/(k+1) — the SQL-checkable exact
    side) plus a per-token boolean that the sketch (a) contains it and
    (b) brackets its true count within [lo, hi]. Both are DETERMINISTIC
    guarantees of the Misra–Gries algorithm, not probabilistic bounds —
    a merge bug or an undercount-bound error flips the boolean and
    fails the hash. The full sketch-side invariants stay asserted in
    tests/test_sketches.py."""
    from ..operators import sketches as SK

    docs = load_table(spark, sf_dir, "documents")
    words = F.split(
        F.regexp_replace(F.lower(F.trim("text")), r"[ \t\n\r]+", " "), " "
    )
    toks = docs.select(words.alias("tokens"))
    sketch = SK.frequent_items(toks, "tokens", k=64).select("item", "lo", "hi")
    # exact token counts materialized once — they feed both the heavy
    # cut and (via their sum) the total-n threshold, so the explode over
    # the corpus runs exactly one time
    counts = materialize(
        docs.select(F.explode(words).alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).cast("long").alias("true_count"))
    )
    total = counts.agg(F.sum("true_count").cast("long").alias("n"))
    heavy = counts.crossJoin(F.broadcast(total)).filter(
        F.col("true_count") > F.col("n") / 65.0
    )
    return heavy.join(sketch, "item", "left").select(
        "item",
        "true_count",
        (
            F.col("lo").isNotNull()
            & (F.col("lo") <= F.col("true_count"))
            & (F.col("true_count") <= F.col("hi"))
        ).alias("mg_within_bracket"),
    )


@register(
    "x_packing_efficiency",
    oracle="""
    WITH d AS (
      SELECT source AS shard, doc_id,
             CASE WHEN nt = '' THEN CAST(1 AS BIGINT)
                  ELSE CAST(len(string_split(nt, ' ')) AS BIGINT) END AS n_tok
      FROM (SELECT source, doc_id,
                   trim(regexp_replace(text, '[ \\t\\n\\r]+', ' ', 'g')) AS nt
            FROM documents) t0
    ), o AS (
      SELECT shard, doc_id, n_tok,
             sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS end_off
      FROM d
    ), e AS (
      SELECT shard, doc_id, n_tok, end_off, end_off - n_tok AS off,
             unnest(generate_series(CAST((end_off - n_tok) // 512 AS BIGINT),
                                    CAST((end_off - 1) // 512 AS BIGINT))) AS seq_id
      FROM o
    ), frags AS (
      SELECT shard, seq_id, doc_id,
             least(n_tok, (seq_id + 1) * 512 - off)
               - greatest(0, seq_id * 512 - off) AS frag_len
      FROM e
    )
    SELECT shard,
           count(DISTINCT doc_id)                         AS n_docs,
           count(DISTINCT seq_id)                         AS n_seqs,
           CAST(sum(frag_len) AS BIGINT)                  AS total_tokens,
           round(sum(frag_len) / (count(DISTINCT seq_id) * 512.0), 6) AS utilization
    FROM frags GROUP BY shard
    """,
)
def x_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing QA over pack_sequences output: per-shard sequence count,
    token totals, and utilization = tokens / (sequences × budget). With
    concat-then-cut only each shard's LAST sequence is partial, so
    utilization → 1 as shards grow — this query is the observable proof,
    and at 100 TB it is the metric a data-loading team actually watches
    (padding waste = GPU hours). Same aggregate shuffle as the packing
    itself; nothing new materializes."""
    docs = load_table(spark, sf_dir, "documents")
    pack = X.pack_sequences(docs, "text", "doc_id", shard_col="source", budget=512)
    return pack.groupBy("shard").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.countDistinct("seq_id").alias("n_seqs"),
        F.sum("frag_len").alias("total_tokens"),
        F.round(
            F.sum("frag_len") / (F.countDistinct("seq_id") * 512.0), 6
        ).alias("utilization"),
    )


@register(
    "x_quality_weighted_sample",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '[ \\t\\n\\r]+')) AS INT) AS n_words,
             list_sum(list_transform(string_split_regex(trim(text), '[ \\t\\n\\r]+'), w -> len(w)))
               / nullif(len(string_split_regex(trim(text), '[ \\t\\n\\r]+')), 0)  AS mean_wl,
             len(list_filter(string_split(lower(trim(text)), ' '),
                 x -> list_contains(['the','a','an','and','or','but','if','then','is',
                                     'are','was','were','be','been','being','of','to',
                                     'in','on','for','with','as','at','by','from',
                                     'that','this','it','its','not','no'], x)))
               / nullif(len(string_split(lower(trim(text)), ' ')), 0)    AS stop_r,
             (length(text) - length(regexp_replace(text, '[^A-Za-z0-9_ \\t\\n\\r]', '', 'g')))
               / nullif(length(text), 0)                                 AS punct_r,
             1.0 - len(list_distinct(string_split(lower(trim(text)), ' ')))
               / nullif(len(string_split(lower(trim(text)), ' ')), 0)    AS word_rep
      FROM documents
    ), keepf AS (
      SELECT doc_id,
             CASE WHEN n_words >= 30 AND n_words <= 5000
                   AND mean_wl >= 2.5 AND mean_wl <= 10.0
                   AND stop_r >= 0.05 AND punct_r <= 0.2 AND word_rep <= 0.5
                  THEN 10000 ELSE 2000 END AS cut
      FROM m
    )
    SELECT doc_id, CAST(cut = 10000 AS INT) AS keep
    FROM keepf
    WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000 < cut
    """,
)
def x_quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted downsampling — the standard low-quality ablation
    mix: docs passing the Gopher gate keep probability 1.0, rejects keep
    0.2, membership decided by the same deterministic md5 bucket as
    x_hash_split (engine-invariant, repartition-proof, reproducible).
    The gate metrics and the sampling predicate fuse into one
    zero-shuffle corpus scan; changing the mix never reshuffles."""
    docs = load_table(spark, sf_dir, "documents")
    gate = (
        (F.col("n_words") >= 30) & (F.col("n_words") <= 5000)
        & (F.col("mean_wl") >= 2.5) & (F.col("mean_wl") <= 10.0)
        & (F.col("stop_r") >= 0.05) & (F.col("punct_r") <= 0.2)
        & (F.col("word_rep") <= 0.5)
    )
    m = docs.select(
        "doc_id",
        X.whitespace_token_count("text").alias("n_words"),
        X.mean_word_length("text").alias("mean_wl"),
        X.stopword_ratio("text").alias("stop_r"),
        X.punct_ratio("text").alias("punct_r"),
        X.word_repetition_ratio("text").alias("word_rep"),
    ).select("doc_id", F.when(gate, F.lit(10000)).otherwise(F.lit(2000)).alias("cut"))
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 10000
    )
    return m.filter(bucket < F.col("cut")).select(
        "doc_id", (F.col("cut") == 10000).cast("int").alias("keep")
    )


@register(
    "x_bm25_search",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             unnest(string_split(trim(regexp_replace(lower(text), '[ \\t\\n\\r]+', ' ', 'g')), ' ')) AS term
      FROM documents
    ), tok2 AS (
      SELECT doc_id, term FROM tok WHERE term <> ''
    ), stats AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS doc_len FROM tok2 GROUP BY doc_id
    ), gstats AS (
      SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(doc_len) AS avgdl FROM stats
    ), post AS (
      SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
      FROM tok2 WHERE term IN ('vector', 'hash', 'merge')
      GROUP BY term, doc_id
    ), dfreq AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df FROM post GROUP BY term
    ), scored AS (
      SELECT p.doc_id,
             ln(1 + (g.n_docs - d.df + 0.5) / (d.df + 0.5))
               * (p.tf * 2.2)
               / (p.tf + 1.2 * (0.25 + 0.75 * s.doc_len / g.avgdl)) AS sc
      FROM post p
      JOIN dfreq d USING (term)
      JOIN stats s USING (doc_id)
      CROSS JOIN gstats g
    ), agg AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matched, sum(sc) AS score
      FROM scored GROUP BY doc_id
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id, n_matched, round(score, 4) AS score
    FROM agg WHERE n_matched = 3
    ORDER BY score DESC, doc_id LIMIT 10
    """,
)
def x_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse keyword retrieval over the corpus: inverted index + BM25
    AND-search, the lexical complement to the dense ANN stack. The index
    build is one explode + one (term, doc) groupBy; at scale the
    postings persist bucketed by term so a query's ``term IN (...)``
    prunes to its own buckets and the ranking work is candidate-sized
    (operators/search.py). Top-k compiles to TakeOrderedAndProject —
    no global sort. k1=1.2, b=0.75, smoothed idf; score rounded 4dp
    (order-sensitive float sum of 3 idf-weighted terms)."""
    from ..operators.search import bm25_topk, build_inverted_index

    docs = load_table(spark, sf_dir, "documents")
    postings, doc_stats = build_inverted_index(docs)
    out = bm25_topk(
        postings,
        doc_stats,
        ["vector", "hash", "merge"],
        k=10,
        mode="all",
    )
    return out.select("doc_id", "n_matched", F.round("score", 4).alias("score"))


@register(
    "x_hybrid_search_rrf",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             unnest(string_split(trim(regexp_replace(lower(text), '[ \\t\\n\\r]+', ' ', 'g')), ' ')) AS term
      FROM documents
    ), tok2 AS (
      SELECT doc_id, term FROM tok WHERE term <> ''
    ), stats AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS doc_len FROM tok2 GROUP BY doc_id
    ), gstats AS (
      SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(doc_len) AS avgdl FROM stats
    ), post AS (
      SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
      FROM tok2 WHERE term IN ('vector', 'hash', 'merge')
      GROUP BY term, doc_id
    ), dfreq AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df FROM post GROUP BY term
    ), bm AS (
      SELECT p.doc_id,
             sum(ln(1 + (g.n_docs - d.df + 0.5) / (d.df + 0.5))
               * (p.tf * 2.2)
               / (p.tf + 1.2 * (0.25 + 0.75 * s.doc_len / g.avgdl))) AS score
      FROM post p
      JOIN dfreq d USING (term)
      JOIN stats s USING (doc_id)
      CROSS JOIN gstats g
      GROUP BY p.doc_id
    ), sparse20 AS (
      SELECT doc_id, score FROM bm
      QUALIFY row_number() OVER (ORDER BY score DESC, doc_id) <= 20
    ), sparse AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS rank
      FROM sparse20
    ), q AS (
      SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
    ), dense AS (
      SELECT e.vec_id AS doc_id,
             row_number() OVER (
               ORDER BY floor((list_dot_product(e.embedding::DOUBLE[], q.qv)
                 / nullif(sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                        * sqrt(list_dot_product(q.qv, q.qv)), 0)) * 1000000 + 0.5)
                 / 1000000 DESC, e.vec_id
             ) AS rank
      FROM embeddings e CROSS JOIN q
      QUALIFY rank <= 20
    ), fused AS (
      SELECT doc_id,
             round(sum(1.0 / (60 + rank)), 6) AS rrf_score,
             CAST(count(*) AS BIGINT) AS n_lists
      FROM (SELECT doc_id, rank FROM sparse
            UNION ALL SELECT doc_id, rank FROM dense) u
      GROUP BY doc_id
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id, rrf_score, n_lists
    FROM fused
    ORDER BY rrf_score DESC, doc_id LIMIT 10
    """,
)
def x_hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval: BM25 sparse leg + exact-cosine dense leg fused
    by reciprocal-rank fusion (1/(60+rank)) — the standard score-scale-
    free combination; docs surfaced by BOTH modalities (n_lists = 2)
    rise above single-modality hits. Each leg is top-20 of its own
    oracle-checked machinery (x_bm25_search / x_cosine_topk); the fuse
    itself is candidate-sized (union + one groupBy over ≤40 rows at any
    corpus size). doc_id ↔ vec_id alignment is the testdata contract."""
    from ..operators.search import bm25_topk, build_inverted_index, rrf_fuse

    docs = load_table(spark, sf_dir, "documents")
    postings, doc_stats = build_inverted_index(docs)
    sp20 = bm25_topk(postings, doc_stats, ["vector", "hash", "merge"], k=20)
    sparse = sp20.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc(F.round("score", 6)), "doc_id"))
        .alias("rank"),
    )
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q0 = emb.filter(F.col("vec_id") == 0).select(
        F.lit(0).alias("query_id"), "embedding"
    )
    dense = S.brute_force_topk(emb, q0, k=20).select(
        F.col("vec_id").alias("doc_id"), F.col("rnk").alias("rank")
    )
    fused = rrf_fuse([sparse, dense], id_col="doc_id", k_rrf=60, top_k=10)
    return fused.select(
        "doc_id", F.round("rrf_score", 6).alias("rrf_score"), "n_lists"
    )


@register(
    "x_token_id_sequences",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split(trim(regexp_replace(lower(text), '[ \\t\\n\\r]+', ' ', 'g')), ' ')) AS word,
             generate_subscripts(string_split(trim(regexp_replace(lower(text), '[ \\t\\n\\r]+', ' ', 'g')), ' '), 1) AS pos
      FROM documents
    ), counts AS (
      SELECT word, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY word
    ), vocab AS (
      SELECT word, CAST(row_number() OVER (ORDER BY n DESC, word) AS INTEGER) AS token_id
      FROM counts WHERE n >= 5
    )
    SELECT t.doc_id,
           CAST(t.pos AS INTEGER) AS pos,
           CAST(COALESCE(v.token_id, 0) AS INTEGER) AS token_id
    FROM toks t LEFT JOIN vocab v USING (word)
    """,
)
def x_token_id_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus INTEGERIZATION — the step between curation and training:
    every document becomes (doc_id, position, token_id) rows under a
    frequency-ranked vocabulary (min-count 5; OOV → 0, the classic UNK
    slot). One token-keyed aggregation builds the vocab (Heaps-law
    sublinear in corpus size); the id assignment is a single
    token-stream ⋈ vocab equi-join that AQE is free to broadcast when
    the vocab fits (left unhinted — vocab size is data-dependent).
    Downstream, a groupBy(doc_id) sort_array(collect_list(struct(pos,
    token_id))) re-assembles sequences for the packer."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"[ \t\n\r]+", " "), " "
    )
    toks = docs.select("doc_id", F.posexplode(words).alias("pos0", "word"))
    counts = toks.groupBy("word").agg(F.count(F.lit(1)).alias("n")).filter(
        F.col("n") >= 5
    )
    vocab = counts.select(
        "word",
        F.row_number()
        .over(Window.orderBy(F.desc("n"), F.asc("word")))
        .cast("int")
        .alias("token_id"),
    )
    return toks.join(vocab, "word", "left").select(
        "doc_id",
        (F.col("pos0") + 1).cast("int").alias("pos"),
        F.coalesce("token_id", F.lit(0)).cast("int").alias("token_id"),
    )


@register(
    "x_weighted_sample_docs",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, n_chars,
             pow(
               (('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 0.5)
                 / 4294967296.0,
               1.0 / n_chars
             ) AS k
      FROM documents
      WHERE n_chars > 0
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(n_chars AS BIGINT) AS n_chars,
           round(k, 8) AS sample_key
    FROM keyed
    ORDER BY round(k, 8) DESC, doc_id
    LIMIT 25
    """,
)
def x_weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement via the Efraimidis-
    Spirakis exponential-key scheme (Inf. Proc. Letters 2006): each doc
    draws key = u^(1/w) with u uniform and w its weight (here n_chars —
    length-proportional inclusion, the standard token-budget sampler),
    and the global top-k by key IS an exact weighted sample without
    replacement. u comes from the registry's md5 bucket idiom
    (engine-invariant, repartition-proof, reproducible) instead of an
    RNG, so both engines draw identical keys.

    Scale posture: single corpus scan, zero shuffles — orderBy+limit
    compiles to TakeOrderedAndProject (per-partition top-k, driver
    merges k*partitions rows), so a 100 TB corpus is sampled in one
    map pass. Keys are rounded to 8 decimals on BOTH sides and the
    boundary cut is taken on the rounded value with doc_id tiebreak, so
    cross-engine pow() jitter (~1 ulp, ~1e-16) cannot flip top-k
    membership."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("double")
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    key = F.round(F.pow(u, F.lit(1.0) / F.col("n_chars")), 8)
    return (
        docs.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("n_chars").cast("long").alias("n_chars"),
            key.alias("sample_key"),
        )
        .orderBy(F.desc("sample_key"), "doc_id")
        .limit(25)
    )


@register(
    "x_stratified_reservoir",
    oracle="""
    WITH keyed AS (
      SELECT source, doc_id, n_chars,
             round(pow(
               (('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 0.5)
                 / 4294967296.0,
               1.0 / n_chars
             ), 8) AS k
      FROM documents
      WHERE n_chars > 0
    )
    SELECT source,
           CAST(doc_id AS BIGINT) AS doc_id,
           CAST(n_chars AS BIGINT) AS n_chars,
           k AS sample_key
    FROM keyed
    QUALIFY row_number() OVER (PARTITION BY source ORDER BY k DESC, doc_id) <= 10
    """,
)
def x_stratified_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum weighted reservoir: the Efraimidis-Spirakis top-k
    (x_weighted_sample_docs) taken independently WITHIN each source —
    the sampler behind per-domain token budgets (k docs from every
    source, longer docs favored, no replacement). One window pass
    partitioned by source over the same deterministic md5 keys: a
    single exchange on the stratum key, rank state k rows per
    partition. The global variant compiles to TakeOrdered with no
    shuffle; the stratified one necessarily shuffles once — on the
    stratum, never on the full sort order."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("double")
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    key = F.round(F.pow(u, F.lit(1.0) / F.col("n_chars")), 8)
    w = Window.partitionBy("source").orderBy(F.desc("sample_key"), "doc_id")
    return (
        docs.select(
            "source",
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("n_chars").cast("long").alias("n_chars"),
            key.alias("sample_key"),
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 10)
        .drop("_rn")
    )


@register(
    "x_token_budget_cut",
    oracle="""
    WITH t AS (
      SELECT source, doc_id,
             CAST(len(string_split_regex(trim(text), '[ \\t\\n\\r]+')) AS BIGINT)
               AS n_words
      FROM documents
    ), c AS (
      SELECT source, doc_id, n_words,
             sum(n_words) OVER (PARTITION BY source
                                ORDER BY n_words DESC, doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_words
      FROM t
    )
    SELECT source, CAST(doc_id AS BIGINT) AS doc_id, n_words,
           CAST(cum_words AS BIGINT) AS cum_words
    FROM c
    WHERE cum_words - n_words < 600
    """,
)
def x_token_budget_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-budget curation: greedily admit documents
    (longest-first, doc_id tiebreak) until each source's running token
    count crosses a 600-token budget (≈ half of each synthetic source, so the cut genuinely binds at every SF) — the doc-level allocation step behind
    'N tokens per domain' training mixes (the crossing document is
    kept, so every source reaches its budget). One window pass per
    stratum: a single exchange on source, running-sum state only.
    Token counts are whitespace counts (integer); cum is an integer
    running sum with a fully-tiebroken ordering, so the cut row is
    engine-exact — no float anywhere. Operator: text.token_budget_cut."""
    docs = load_table(spark, sf_dir, "documents").select(
        "source", F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    return X.token_budget_cut(docs, budget=600)


@register(
    "x_phrase_search",
    oracle="""
    WITH w AS (
      SELECT doc_id,
             list_filter(
               string_split(regexp_replace(lower(trim(text)), '[ \\t\\n\\r]+', ' ', 'g'), ' '),
               t -> t <> '') AS words
      FROM documents
    ), g AS (
      SELECT doc_id,
             list_transform(range(1, greatest(len(words) - 1, 1)),
                            i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]) AS grams
      FROM w WHERE len(words) >= 3
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(len(list_filter(grams, x -> x = 'value table part')) AS BIGINT) AS n_hits
    FROM g
    WHERE len(list_filter(grams, x -> x = 'value table part')) > 0
    """,
)
def x_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase retrieval ('value table part') via positional
    postings — the phrase-query upgrade over bag-of-words BM25:
    term-filtered posexplode + two (doc_id, aligned-position)
    equi-joins + per-doc count (operators/search.phrase_search). The
    oracle counts the same occurrences by materializing every word
    trigram per document — correct, but a full-corpus gram scan; the
    engine plan touches only the three query terms' postings, which is
    the point. Integer ids and counts only — hash raw-value exact."""
    from ..operators.search import phrase_search

    docs = load_table(spark, sf_dir, "documents")
    out = phrase_search(docs, "value table part")
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_hits").cast("long").alias("n_hits"),
    )


@register(
    "x_ngram_novelty",
    oracle="""
    WITH w AS (
      SELECT doc_id,
             list_filter(
               string_split(regexp_replace(lower(trim(text)), '[ \\t\\n\\r]+', ' ', 'g'), ' '),
               t -> t <> '') AS words
      FROM documents
    ), g AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(words) - 3, 1)),
               i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]
                    || ' ' || words[i+3] || ' ' || words[i+4])) AS grams
      FROM w WHERE len(words) >= 5
    ), e AS (
      SELECT doc_id, unnest(grams) AS gram FROM g
    ), df AS (
      SELECT gram, count(*) AS n_docs FROM e GROUP BY gram
    )
    SELECT CAST(e.doc_id AS BIGINT) AS doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN df.n_docs = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
    FROM e JOIN df USING (gram)
    GROUP BY e.doc_id
    """,
)
def x_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: how many of a doc's DISTINCT 5-grams
    appear in no other document — the originality/memorization-risk
    score used to spot boilerplate-heavy and template-cloned training
    docs (low novelty) before they teach the model to parrot. Shape =
    the duplicated-span family: linear gram explode, one gram-keyed
    doc-frequency aggregate (map-side combined), join back, per-doc
    count. Output is pure integers (count + novel count; consumers
    divide) — no ratio column, so no float hash surface at all.

    Plan notes (41 s → ~7 s at sf0.1, three fixes): grams build
    array-level via text.word_ngrams (the index-lambda form re-ran the
    tokenizer once PER GRAM after projection collapse — 20.9 s alone);
    grams are hashed to 8 bytes BEFORE any shuffle (novelty needs only
    equality, same collision-free contract as exact dedup); the
    exploded gram frame is checkpointed once (it feeds two aggregates —
    unmaterialized, the whole build re-derives per consumer); and
    instead of joining doc-frequency back to the corpus-sized gram
    frame, novelty folds gram-side: a gram with df==1 still carries its
    single owner doc_id through max(), so n_novel is a tiny doc-keyed
    count of the df==1 grams and the only join left is per-doc-frame ×
    per-doc-frame."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.filter(
        F.split(
            F.regexp_replace(F.lower(F.trim(F.col("text"))), r"[ \t\n\r]+", " "), " "
        ),
        lambda t: t != F.lit(""),
    )
    g = docs.select(F.col("doc_id").cast("long").alias("doc_id"), words.alias("w")).filter(
        F.size("w") >= 5
    )
    # array-level gram build (text.word_ngrams): the index-lambda form
    # re-evaluated the tokenizer once per gram after projection collapse
    # (measured 20.9 s -> 1.5 s for this frame at sf0.1)
    grams = g.select(
        "doc_id",
        F.array_distinct(X.word_ngrams(F.col("w"), 5)).alias("grams"),
    )
    e = materialize(
        grams.select("doc_id", F.explode("grams").alias("gram"))
        .select("doc_id", F.xxhash64("gram").alias("g"))
    )
    per_doc = e.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams")
    )
    novel = (
        e.groupBy("g")
        .agg(F.count(F.lit(1)).alias("n"), F.max("doc_id").alias("doc_id"))
        .filter(F.col("n") == 1)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_novel"))
    )
    return per_doc.join(novel, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
    )


@register(
    "x_bpe_token_stats",
    oracle="""
    WITH w AS (
      SELECT source, doc_id,
             unnest(string_split_regex(lower(trim(text)), '[ \\t\\n\\r]+')) AS wd
      FROM documents
    ), f AS (
      SELECT source, doc_id, wd FROM w WHERE wd <> ''
    )
    SELECT source,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT)               AS n_words,
           CAST(sum(length(wd) + 1) AS BIGINT)    AS n_char_tokens,
           TRUE AS bpe_le_char,
           TRUE AS bpe_ge_words,
           TRUE AS bpe_compresses
    FROM f GROUP BY source
    """,
)
def x_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE subword tokenization end to end: train 50 merge rules on the
    corpus (text.train_bpe_merges — word-frequency aggregation is the
    one corpus-scale step; the merge loop runs on the bounded
    dictionary), re-encode via the distinct-word → broadcast-map path
    (text.bpe_token_counts: the corpus is never re-encoded row-by-row),
    and report per-source token economics.

    Bracket-verdict form (the merge loop is iterative argmax — not
    ANSI-expressible): the exact side is per-source doc/word/char-token
    counts (the pre-merge baseline, pure SQL); the verdicts are the BPE
    guarantees — merges only ever REDUCE token count (bpe ≤ char),
    every word still encodes to ≥ 1 token (bpe ≥ words), and 50 merges
    on natural-language text strictly compress (bpe < char, measured
    ~2× at every SF). A trainer or encoder bug breaks an inequality and
    flips the hash."""
    docs = load_table(spark, sf_dir, "documents")
    merges = X.train_bpe_merges(docs, "text", n_merges=50)
    counts = X.bpe_token_counts(docs, merges, "text", "doc_id")
    j = counts.join(docs.select("doc_id", "source"), "doc_id")
    agg = j.groupBy("source").agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("n_words"),
        F.sum("n_char_tokens").cast("long").alias("n_char_tokens"),
        F.sum("n_bpe_tokens").cast("long").alias("n_bpe"),
    )
    return agg.select(
        "source",
        "n_docs",
        "n_words",
        "n_char_tokens",
        (F.col("n_bpe") <= F.col("n_char_tokens")).alias("bpe_le_char"),
        (F.col("n_bpe") >= F.col("n_words")).alias("bpe_ge_words"),
        (F.col("n_bpe") < F.col("n_char_tokens")).alias("bpe_compresses"),
    )


@register(
    "x_source_contamination_matrix",
    oracle="""
    WITH words AS (
      SELECT source, doc_id,
             string_split_regex(regexp_replace(lower(trim(text)), '[ \\t\\n\\r]+', ' ', 'g'), ' ') AS w
      FROM documents
    ), tokens AS (
      SELECT source, doc_id, unnest(w) AS word, generate_subscripts(w, 1) AS idx FROM words
    ), grams AS (
      SELECT source,
             word || ' ' || lead(word, 1) OVER win || ' ' || lead(word, 2) OVER win AS g
      FROM tokens WINDOW win AS (PARTITION BY doc_id ORDER BY idx)
      QUALIFY lead(word, 2) OVER win IS NOT NULL
    ), sg AS (
      SELECT DISTINCT source, g FROM grams
    ), sizes AS (
      SELECT source, CAST(count(*) AS BIGINT) AS sz FROM sg GROUP BY source
    ), inter AS (
      SELECT a.source AS src_a, b.source AS src_b, CAST(count(*) AS BIGINT) AS n_inter
      FROM sg a JOIN sg b USING (g)
      WHERE a.source < b.source
      GROUP BY 1, 2
    )
    SELECT i.src_a, i.src_b, sa.sz AS n_a, sb.sz AS n_b, i.n_inter,
           floor(i.n_inter * 1.0 / (sa.sz + sb.sz - i.n_inter) * 1000000 + 0.5)
             / 1000000 AS jaccard,
           floor(i.n_inter * 1.0 / sa.sz * 1000000 + 0.5) / 1000000
             AS contain_a_in_b,
           floor(i.n_inter * 1.0 / sb.sz * 1000000 + 0.5) / 1000000
             AS contain_b_in_a
    FROM inter i
    JOIN sizes sa ON sa.source = i.src_a
    JOIN sizes sb ON sb.source = i.src_b
    ORDER BY i.src_a, i.src_b
    """,
)
def x_source_contamination_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level cross-source overlap diagnostic: pairwise 3-gram
    Jaccard AND directional containment (|A∩B|/|A| — the
    train-test-contamination direction) between every pair of document
    sources. The dataset-grain complement of the doc-grain
    contamination screen (x_contamination_screen): it answers "which
    SOURCES share content" before any per-document work.

    Plan is posting-list shaped: grams explode map-side, ONE shuffle
    groups them by gram into a distinct source set (sources-per-gram ≤
    |sources|, so no hub blowup), and both the per-source sizes and the
    per-pair intersections explode out of that one materialized frame
    (localCheckpoint — two consumers would otherwise re-derive the
    tokenize+shuffle per leg). Intersection/size aggregations are
    O(sources²)/O(sources) rows — at 100 TB only the gram shuffle is
    data-sized, the matrix never is."""
    from ..operators import dedup as D

    docs = load_table(spark, sf_dir, "documents").select("source", "doc_id", "text")
    gram_sources = materialize(
        D.shingle(docs, "text", n=3)
        .select("source", F.explode("shingles").alias("g"))
        .groupBy("g")
        .agg(F.array_sort(F.collect_set("source")).alias("srcs"))
        .select("srcs")
    )
    sizes = (
        gram_sources.select(F.explode("srcs").alias("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    pair_pairs = F.filter(
        F.flatten(
            F.transform(
                "srcs",
                lambda x: F.transform("srcs", lambda y: F.struct(x.alias("a"), y.alias("b"))),
            )
        ),
        lambda p: p["a"] < p["b"],
    )
    inter = (
        gram_sources.select(F.explode(pair_pairs).alias("p"))
        .select(F.col("p.a").alias("src_a"), F.col("p.b").alias("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("sz").alias("n_a"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("sz").alias("n_b"))
    out = inter.join(F.broadcast(sa), "src_a").join(F.broadcast(sb), "src_b")
    union_sz = F.col("n_a") + F.col("n_b") - F.col("n_inter")
    return out.select(
        "src_a",
        "src_b",
        "n_a",
        "n_b",
        "n_inter",
        _q6(F.col("n_inter") / union_sz).alias("jaccard"),
        _q6(F.col("n_inter") / F.col("n_a")).alias("contain_a_in_b"),
        _q6(F.col("n_inter") / F.col("n_b")).alias("contain_b_in_a"),
    ).orderBy("src_a", "src_b")


@register(
    "x_tokenizer_fertility",
    oracle="""
    WITH per_doc AS (
      SELECT source,
             CAST(len(regexp_extract_all(text,
               '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\r]')) AS BIGINT) AS n_tok,
             CAST(len(string_split_regex(trim(text), '[ \\t\\n\\r]+'))
               AS BIGINT) AS n_ws,
             CAST(length(text) AS BIGINT) AS n_chars
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           floor(avg(n_tok * 1.0 / nullif(n_ws, 0)) * 1000000 + 0.5) / 1000000
             AS fertility,
           floor(avg(n_chars * 1.0 / nullif(n_tok, 0)) * 1000000 + 0.5) / 1000000
             AS chars_per_token
    FROM per_doc GROUP BY source ORDER BY source
    """,
)
def x_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source tokenizer fertility report — the mix-design metric a
    training pipeline watches when a tokenizer change lands: tokens per
    whitespace word (fertility; >1.3-ish flags scripts/domains the
    tokenizer fragments) and characters per token (compression), using
    the engine's BPE-ish token regex. Per-document ratios are exact
    integer divisions (bit-identical across engines); only the
    per-source averages are order-sensitive, so q6 lands on exactly
    those. One map over documents + one per-source aggregation — at
    100 TB this is a single scan-shaped pass with a 1-row-per-source
    result, the cheapest possible corpus telemetry."""
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "source",
        X.token_count("text").cast("long").alias("n_tok"),
        X.whitespace_token_count("text").cast("long").alias("n_ws"),
        F.length("text").cast("long").alias("n_chars"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            _q6(F.avg(F.col("n_tok") * 1.0 / F.nullif("n_ws", F.lit(0)))).alias(
                "fertility"
            ),
            _q6(
                F.avg(F.col("n_chars") * 1.0 / F.nullif("n_tok", F.lit(0)))
            ).alias("chars_per_token"),
        )
        .orderBy("source")
    )


@register(
    "x_zipf_fit_words",
    oracle="""
    WITH w AS (
      SELECT word, CAST(count(*) AS BIGINT) AS n
      FROM (SELECT unnest(string_split_regex(lower(trim(text)), '[ \\t\\n\\r]+')) AS word
            FROM documents) t
      WHERE word <> ''
      GROUP BY word
    ), top AS (
      SELECT word, n FROM w ORDER BY n DESC, word LIMIT 1000
    ), r AS (
      SELECT ln(row_number() OVER (ORDER BY n DESC, word)) AS x,
             ln(n) AS y
      FROM top
    )
    SELECT CAST(count(*) AS BIGINT) AS n_words,
           floor(covar_pop(x, y) / var_pop(x) * 1000000 + 0.5) / 1000000
             AS zipf_slope,
           floor((avg(y) - covar_pop(x, y) / var_pop(x) * avg(x))
                 * 1000000 + 0.5) / 1000000 AS intercept,
           floor(corr(x, y) * corr(x, y) * 1000000 + 0.5) / 1000000 AS r2
    FROM r
    """,
)
def x_zipf_fit_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus unigram distribution — the
    vocabulary health check a training-data pipeline reads before
    trusting a tokenizer or a dedup pass (natural corpora fit
    log(freq) ≈ a + s·log(rank) with s ≈ −1; template/boilerplate-
    heavy or over-deduped corpora bend the tail). Least-squares slope/
    intercept/r² of ln(freq) on ln(rank) over the top-1000 words.

    Distributed shape: the word count is the x_word_topk plan (map-
    side explode, one word-keyed shuffle); the head is
    TakeOrderedAndProject (top-1000, (n desc, word) total order — the
    deterministic-rank tiebreak); ranking INSIDE the constant-1000-row
    frame uses relational.assign_dense_ids, so no stage anywhere sorts
    a corpus-sized frame through one task. ln(count) and ln(rank) of
    exact integers are bit-identical across engines; the fitted
    moments (order-sensitive sums over 1000 rows) are q6'd."""
    from ..operators.relational import assign_dense_ids

    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"[ \t\n\r]+")).alias("word")
    ).filter(F.col("word") != "")
    top = (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(1000)
        .withColumn("neg_n", -F.col("n"))
    )
    ranked = assign_dense_ids(top, ["neg_n", "word"], id_col="rk")
    r = ranked.select(
        F.log(F.col("rk") + 1).alias("x"), F.log("n").alias("y")
    )
    slope = F.covar_pop("x", "y") / F.var_pop("x")
    return r.agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        _q6(slope).alias("zipf_slope"),
        _q6(F.avg("y") - slope * F.avg("x")).alias("intercept"),
        _q6(F.corr("x", "y") * F.corr("x", "y")).alias("r2"),
    )


@register(
    "x_js_divergence_sources",
    oracle="""
    WITH w AS (
      SELECT source, word FROM (
        SELECT source,
               unnest(string_split_regex(lower(trim(text)), '[ \\t\\n\\r]+')) AS word
        FROM documents) t
      WHERE word <> ''
    ), vocab AS (
      SELECT word FROM (
        SELECT word, count(*) AS n FROM w GROUP BY word
        ORDER BY n DESC, word LIMIT 200)
    ), c AS (
      SELECT w.source, w.word, CAST(count(*) AS BIGINT) AS c
      FROM w JOIN vocab v ON w.word = v.word
      GROUP BY w.source, w.word
    ), srcs AS (
      SELECT DISTINCT source FROM documents
    ), grid AS (
      SELECT s.source, v.word, coalesce(c.c, 0) AS c
      FROM srcs s CROSS JOIN vocab v
      LEFT JOIN c ON c.source = s.source AND c.word = v.word
    ), tot AS (
      SELECT source, CAST(sum(c) AS BIGINT) AS n FROM grid GROUP BY source
    ), p AS (
      SELECT g.source, g.word,
             (g.c + 0.5) / (t.n + 100.0) AS p
      FROM grid g JOIN tot t ON g.source = t.source
    )
    SELECT a.source AS source_a, b.source AS source_b,
           floor(sum(0.5 * a.p * ln(a.p / ((a.p + b.p) / 2))
                   + 0.5 * b.p * ln(b.p / ((a.p + b.p) / 2)))
                 * 1000000 + 0.5) / 1000000 AS jsd
    FROM p a JOIN p b ON a.word = b.word AND a.source < b.source
    GROUP BY a.source, b.source
    ORDER BY source_a, source_b
    """,
)
def x_js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen–Shannon divergence between every source pair's unigram
    distributions over the global top-200 vocabulary — the
    distribution-level corpus-drift/mixture diagnostic that
    complements x_source_contamination_matrix (verbatim n-gram
    overlap) and x_centroid_cosine_matrix (embedding prototypes):
    JSD ≈ 0 means two sources SPEAK the same token mix even with zero
    verbatim overlap. Conventions pinned on both engines:
    restricted-support distributions over the top-200 vocab
    ((n desc, word) tie-broken), add-half smoothing
    (c + 0.5)/(N + 100), natural-log JSD.

    Plan: ONE (source, word)-keyed count shuffle sees the corpus, and
    its output is materialized ONCE (eager localCheckpoint) to feed
    vocab selection, the count restriction, the source list, and the
    totals — unmaterialized, the corpus explode would re-execute four
    times (the engine-wide re-derivation trap). Everything downstream
    runs on |sources|x200 grid rows with the small sides broadcast
    (vocab head, restricted counts, totals, one pair side).
    Probabilities are single divisions of exact int64 counts —
    identical doubles both sides; the 200-term JSD sum alone is q6'd.
    At 100 TB: scan + one shuffle, matrix cost independent of corpus
    size."""
    from ..operators.numeric import q6

    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(
        "source",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"[ \t\n\r]+")).alias(
            "word"
        ),
    ).filter(F.col("word") != "")
    cw = materialize(
        w.groupBy("source", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    vocab = (
        cw.groupBy("word")
        .agg(F.sum("c").alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(200)
        .select("word")
    )
    cv = cw.join(F.broadcast(vocab), "word").select("source", "word", "c")
    srcs = cw.select("source").distinct()
    grid = (
        srcs.crossJoin(F.broadcast(vocab))
        .join(F.broadcast(cv), ["source", "word"], "left")
        .select("source", "word", F.coalesce(F.col("c"), F.lit(0)).alias("c"))
    )
    tot = grid.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    p = grid.join(F.broadcast(tot), "source").select(
        "source", "word", ((F.col("c") + 0.5) / (F.col("n") + 100.0)).alias("p")
    )
    p = materialize(p)
    a = p.select(
        F.col("source").alias("source_a"), "word", F.col("p").alias("pa")
    )
    b = p.select(
        F.col("source").alias("source_b"), "word", F.col("p").alias("pb")
    )
    m = (F.col("pa") + F.col("pb")) / 2
    return (
        a.join(F.broadcast(b), "word")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            q6(
                F.sum(
                    0.5 * F.col("pa") * F.log(F.col("pa") / m)
                    + 0.5 * F.col("pb") * F.log(F.col("pb") / m)
                )
            ).alias("jsd")
        )
        .orderBy("source_a", "source_b")
    )


@register(
    "x_source_entropy",
    oracle="""
    WITH w AS (
      SELECT source, word FROM (
        SELECT source,
               unnest(string_split_regex(lower(trim(text)), '[ \\t\\n\\r]+')) AS word
        FROM documents) t
      WHERE word <> ''
    ), c AS (
      SELECT source, word, CAST(count(*) AS BIGINT) AS c
      FROM w GROUP BY source, word
    ), t2 AS (
      SELECT source,
             CAST(sum(c) AS BIGINT)   AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_types,
             sum(c * ln(c))           AS clogc,
             sum(c * 1.0 * (c - 1))   AS cc1
      FROM c GROUP BY source
    )
    SELECT source, n_tokens, n_types,
           floor(n_types * 1.0 / n_tokens * 1000000 + 0.5) / 1000000 AS ttr,
           floor((ln(n_tokens * 1.0) - clogc / n_tokens)
                 * 1000000 + 0.5) / 1000000 AS shannon_nats,
           floor(cc1 / (n_tokens * 1.0 * (n_tokens - 1))
                 * 1000000 + 0.5) / 1000000 AS simpson
    FROM t2 ORDER BY source
    """,
)
def x_source_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity profile per source: token count, type count,
    type-token ratio, Shannon entropy (nats) and Simpson concentration
    of the unigram distribution — the corpus-health scalars read next
    to x_zipf_fit_words (a source whose entropy collapses is
    template/boilerplate-heavy; one whose TTR explodes is
    noise/garbage) and the per-source marginals of
    x_js_divergence_sources' pairwise view.

    Conventions pinned: full-vocabulary distributions (no top-k cut —
    these are marginal stats, not a pairwise grid), natural-log
    entropy, bias-corrected Simpson Σc(c−1)/(N(N−1)). Plan: ONE
    (source, word) count shuffle sees the corpus; the per-source fold
    is a second exchange of |vocab| COUNTED rows (the Spark side folds
    entropy from the counts with a window-free two-level agg — sums of
    c, c·ln c, and c(c−1) are enough: H = ln N − Σ c·ln c / N — so no
    per-source window at all). Entropy/Simpson sums are
    order-sensitive floats → q6; counts and TTR's single division are
    exact."""
    from ..operators.numeric import q6

    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(
        "source",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"[ \t\n\r]+")).alias(
            "word"
        ),
    ).filter(F.col("word") != "")
    c = w.groupBy("source", "word").agg(F.count(F.lit(1)).cast("long").alias("c"))
    s = c.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.col("c") * F.log(F.col("c"))).alias("_clogc"),
        F.sum(F.col("c") * 1.0 * (F.col("c") - 1)).alias("_cc1"),
    )
    return s.select(
        "source",
        "n_tokens",
        "n_types",
        q6(F.col("n_types") * 1.0 / F.col("n_tokens")).alias("ttr"),
        q6(
            F.log(F.col("n_tokens") * 1.0) - F.col("_clogc") / F.col("n_tokens")
        ).alias("shannon_nats"),
        q6(
            F.col("_cc1") / (F.col("n_tokens") * 1.0 * (F.col("n_tokens") - 1))
        ).alias("simpson"),
    ).orderBy("source")


@register(
    "x_bigram_entropy_rate",
    oracle="""
    WITH w AS (
      SELECT string_split_regex(lower(trim(text)), '[ \\t\\n\\r]+') AS words
      FROM documents
    ), bg AS (
      SELECT unnest(list_transform(range(1, len(words)),
                                   i -> words[i] || ' ' || words[i+1])) AS b
      FROM w WHERE len(words) >= 2
    ), cb AS (
      SELECT b, CAST(count(*) AS BIGINT) AS c2 FROM bg GROUP BY 1
    ), cu AS (
      SELECT string_split(b, ' ')[1] AS w1, CAST(sum(c2) AS BIGINT) AS c1,
             sum(c2 * ln(c2)) AS c2logc2
      FROM cb GROUP BY 1
    ), s AS (
      SELECT CAST(sum(c1) AS BIGINT) AS n,
             sum(c1 * ln(c1)) AS c1logc1,
             sum(c2logc2)     AS c2logc2
      FROM cu
    )
    SELECT n AS n_bigrams,
           floor((c1logc1 - c2logc2) / n * 1000000 + 0.5) / 1000000
             AS entropy_rate_nats,
           floor(exp((c1logc1 - c2logc2) / n) * 1000000 + 0.5) / 1000000
             AS perplexity
    FROM s
    """,
)
def x_bigram_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus conditional entropy rate H(w₂|w₁) of the unsmoothed
    bigram MLE — the information-theoretic "how predictable is the
    next token" scalar (and its exp, the bigram perplexity) that
    complements x_source_entropy's marginal view and the bigram LM's
    per-document scores: a corpus whose entropy rate collapses after a
    curation pass has been over-deduped into boilerplate. Computed by
    the exact fold identity H = (Σc₁ln c₁ − Σc₂ln c₂)/N over bigram
    counts c₂ and their prefix marginals c₁ — no per-row probability
    materialization, no division until the final 1-row expression.

    Plan: one bigram-keyed count shuffle (the same dominant exchange
    as the bigram LM — prunable identically at 100 TB), one
    prefix-keyed fold OF THE COUNTS (vocabulary-sized, not
    corpus-sized), one 1-row combine. The prefix marginal is derived
    from the bigram counts (c₁ = Σ_w₂ c₂) rather than re-counting
    tokens, so the corpus is scanned ONCE and the last-token-per-doc
    convention is consistent on both engines by construction."""
    from ..operators.numeric import q6

    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.lower(F.trim(F.col("text"))), r"[ \t\n\r]+")
    w = docs.select(words.alias("words")).filter(F.size("words") >= 2)
    bg = w.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("words") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("words"), i).alias("w1"),
                    F.element_at(F.col("words"), i + 1).alias("w2"),
                ),
            )
        ).alias("b")
    ).select("b.w1", "b.w2")
    cb = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("long").alias("c2"))
    cu = cb.groupBy("w1").agg(
        F.sum("c2").cast("long").alias("c1"),
        F.sum(F.col("c2") * F.log("c2")).alias("c2logc2"),
    )
    s = cu.agg(
        F.sum("c1").cast("long").alias("n"),
        F.sum(F.col("c1") * F.log("c1")).alias("c1logc1"),
        F.sum("c2logc2").alias("c2logc2"),
    )
    h = (F.col("c1logc1") - F.col("c2logc2")) / F.col("n")
    return s.select(
        F.col("n").alias("n_bigrams"),
        q6(h).alias("entropy_rate_nats"),
        q6(F.exp(h)).alias("perplexity"),
    )


@register(
    "x_perplexity_buckets",
    oracle="""
    WITH w AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '[ \\t\\n\\r]+') AS words
      FROM documents
    ), bg AS (
      SELECT doc_id, unnest(list_transform(range(1, len(words)),
                                           i -> words[i] || ' ' || words[i+1])) AS b
      FROM w WHERE len(words) >= 2
    ), toks AS (
      SELECT unnest(words) AS word FROM w
    ), cb AS (
      SELECT b, count(*) AS n_b FROM bg GROUP BY 1
    ), cu AS (
      SELECT word, count(*) AS n_u FROM toks GROUP BY 1
    ), v AS (
      SELECT count(DISTINCT word) AS vsz FROM toks
    ), score AS (
      SELECT g.doc_id,
             floor(avg(ln((cb.n_b + 0.5) / (cu.n_u + 0.5 * v.vsz)))
                   * 1000000 + 0.5) / 1000000 AS lp
      FROM bg g
      JOIN cb ON cb.b = g.b
      JOIN cu ON cu.word = string_split(g.b, ' ')[1]
      CROSS JOIN v
      GROUP BY g.doc_id
    ), cuts AS (
      SELECT quantile_cont(lp, [1.0/3, 2.0/3]) AS q FROM score
    ), b2 AS (
      SELECT s.doc_id, s.lp,
             CASE WHEN s.lp >= c.q[2] THEN 'head'
                  WHEN s.lp >= c.q[1] THEN 'middle'
                  ELSE 'tail' END AS bucket
      FROM score s CROSS JOIN cuts c
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           floor(avg(lp) * 1000000 + 0.5) / 1000000 AS avg_logp
    FROM b2 GROUP BY bucket ORDER BY bucket
    """,
)
def x_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's perplexity bucketing: score every document with the
    corpus bigram LM (x_bigram_lm_score's model — add-half smoothing,
    unigram contexts) and cut the corpus into head/middle/tail at the
    tercile boundaries of the per-doc mean log-probability — the
    quality-stratification step CCNet runs before sampling
    disproportionately from the head. Conventions pinned: per-doc
    scores q6-quantized BEFORE the cut (both engines bucket identical
    doubles), interpolating terciles (Spark `percentile` ≡ DuckDB
    `quantile_cont`), boundaries inclusive upward (lp ≥ q⅔ → head).

    Plan: the bigram LM's two model shuffles + per-doc agg (the
    dominant exchanges, prunable at 100 TB exactly as documented on
    x_bigram_lm_score), then a 1-row tercile broadcast and a 3-group
    fold. The doc-score frame is |docs| rows — the percentile is a
    single-pass exact aggregate over doubles, not a corpus sort."""
    from ..operators.numeric import q6

    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.lower(F.trim(F.col("text"))), r"[ \t\n\r]+")
    w = docs.select("doc_id", words.alias("words")).filter(F.size("words") >= 2)
    bg = w.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("words") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("words"), i).alias("w1"),
                    F.element_at(F.col("words"), i + 1).alias("w2"),
                ),
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    toks = docs.select(F.explode(words).alias("word"))
    cb = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_b"))
    cu = toks.groupBy("word").agg(F.count(F.lit(1)).alias("n_u"))
    v = toks.agg(F.countDistinct("word").alias("vsz"))
    score = materialize(
        bg.join(cb, ["w1", "w2"])
        .join(cu, F.col("w1") == F.col("word"))
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            q6(
                F.avg(
                    F.log(
                        (F.col("n_b") + 0.5)
                        / (F.col("n_u") + 0.5 * F.col("vsz"))
                    )
                )
            ).alias("lp")
        )
        # materialize ONCE: the score frame feeds BOTH the tercile agg
        # and the bucket pass — unmaterialized, the whole bigram-LM
        # pipeline re-executes twice (the engine-wide re-derivation trap)
    )
    cuts = score.agg(
        F.expr("percentile(lp, array(1.0D/3, 2.0D/3))").alias("q")
    )
    b2 = score.crossJoin(F.broadcast(cuts)).select(
        "lp",
        F.when(F.col("lp") >= F.element_at("q", 2), "head")
        .when(F.col("lp") >= F.element_at("q", 1), "middle")
        .otherwise("tail")
        .alias("bucket"),
    )
    return (
        b2.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            q6(F.avg("lp")).alias("avg_logp"),
        )
        .orderBy("bucket")
    )


@register(
    "x_pmi_collocations",
    oracle="""
    WITH w AS (
      SELECT string_split_regex(lower(trim(text)), '[ \\t\\n\\r]+') AS words
      FROM documents
    ), bg AS (
      SELECT unnest(list_transform(range(1, len(words)),
                                   i -> words[i] || ' ' || words[i+1])) AS b
      FROM w WHERE len(words) >= 2
    ), toks AS (
      SELECT unnest(words) AS word FROM w
    ), cb AS (
      SELECT b, CAST(count(*) AS BIGINT) AS c2 FROM bg GROUP BY 1
    ), cu AS (
      SELECT word, CAST(count(*) AS BIGINT) AS c1 FROM toks GROUP BY 1
    ), nb AS (
      SELECT CAST(sum(c2) AS BIGINT) AS n2 FROM cb
    ), nu AS (
      SELECT CAST(sum(c1) AS BIGINT) AS n1 FROM cu
    ), p AS (
      SELECT string_split(cb.b, ' ')[1] AS w1, string_split(cb.b, ' ')[2] AS w2,
             cb.c2, ua.c1 AS c_w1, ub.c1 AS c_w2,
             floor(cb.c2 * 1.0 * nu.n1 * nu.n1 / (nb.n2 * 1.0 * ua.c1 * ub.c1)
                   * 1000000 + 0.5) / 1000000 AS pmi_ratio
      FROM cb
      JOIN cu ua ON ua.word = string_split(cb.b, ' ')[1]
      JOIN cu ub ON ub.word = string_split(cb.b, ' ')[2]
      CROSS JOIN nb CROSS JOIN nu
      WHERE cb.c2 >= 5
    )
    SELECT w1, w2, c2 AS n_pair, c_w1, c_w2, pmi_ratio
    FROM p ORDER BY pmi_ratio DESC, w1, w2 LIMIT 25
    """,
)
def x_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining by pointwise mutual information: adjacent
    word pairs whose co-occurrence beats the independence baseline —
    the standard phrase detector (word2vec-phrases, NLTK collocations)
    a corpus pipeline runs before tokenizer training so multiword
    units ("new york") become single vocab entries. min-support
    n_pair ≥ 5 is the conventional rare-pair guard (PMI's known bias
    toward hapax pairs).

    Scored as the RAW PMI RATIO p(ab)/(p(a)p(b)) = c₂·N₁²/(N₂·c_a·c_b)
    rather than its log: the log is monotone, so top-k and ordering
    are identical, and the ratio form is a fixed chain of
    correctly-rounded IEEE mul/div on exact int64 counts —
    bit-identical across engines where ln() would drag in the
    transcendental-parity class the lint header bans. Same
    scan-once/shuffle-on-token-keys shape as x_bigram_entropy_rate:
    one bigram-keyed count, one token-keyed count, two
    vocabulary-sized joins of the COUNT frames (never per-occurrence
    rows), 1-row totals broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.lower(F.trim(F.col("text"))), r"[ \t\n\r]+")
    w = docs.select(words.alias("words"))
    bg = (
        w.filter(F.size("words") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("words") - 1),
                    lambda i: F.struct(
                        F.element_at(F.col("words"), i).alias("w1"),
                        F.element_at(F.col("words"), i + 1).alias("w2"),
                    ),
                )
            ).alias("b")
        )
        .select("b.w1", "b.w2")
    )
    toks = w.select(F.explode("words").alias("word"))
    cb = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("long").alias("c2"))
    cu = toks.groupBy("word").agg(F.count(F.lit(1)).cast("long").alias("c1"))
    nb = cb.agg(F.sum("c2").cast("long").alias("n2"))
    nu = cu.agg(F.sum("c1").cast("long").alias("n1"))
    p = (
        cb.filter(F.col("c2") >= 5)
        .join(cu.select(F.col("word").alias("w1"), F.col("c1").alias("c_w1")), "w1")
        .join(cu.select(F.col("word").alias("w2"), F.col("c1").alias("c_w2")), "w2")
        .crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(nu))
    )
    ratio = (
        F.col("c2") * 1.0 * F.col("n1") * F.col("n1")
        / (F.col("n2") * 1.0 * F.col("c_w1") * F.col("c_w2"))
    )
    return (
        p.select(
            "w1",
            "w2",
            F.col("c2").alias("n_pair"),
            "c_w1",
            "c_w2",
            (F.floor(ratio * 1000000 + F.lit(0.5)) / 1000000).alias("pmi_ratio"),
        )
        .orderBy(F.desc("pmi_ratio"), "w1", "w2")
        .limit(25)
    )
