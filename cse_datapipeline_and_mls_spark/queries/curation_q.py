"""Corpus-curation queries: the document-shaping passes a web-scale
training pipeline runs between raw crawl and tokenizer — per-domain
caps, segment-level (C4/MassiveText-style) exact dedup, asymmetric
containment screening, seeded epoch shuffles, and partition-quality
scoring for the community structure the graph layer discovers.

Every query is oracle-checked (hash-compare vs DuckDB at sf0.01);
determinism follows the registry rules (q6 quantizer, unique window
tiebreakers, thresholds applied to the quantized value on both sides).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..materialize import counted, materialize, release
from ..operators import dedup as D
from ..operators.numeric import q6 as _q6
from ..sources import load_table
from . import register, register_sql
from .coverage_q import _lpa_ctes, copurchase_edges


# Per-domain document cap: keep at most K=20 documents per source,
# preferring longer ones, so one prolific domain can't dominate the
# training mix (C4 and successors cap per-domain contributions). One hash
# shuffle on source; at web scale a broadcast groupBy(source).count()
# pre-pass would let only the over-cap domains run the rank sort.
register_sql(
    "x_domain_cap_documents",
    """
    WITH ranked AS (
      SELECT source, doc_id, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM {documents}
    )
    SELECT source,
           CAST(count(*) AS BIGINT)                                   AS n_docs,
           CAST(sum(CASE WHEN rn <= 20 THEN 1 ELSE 0 END) AS BIGINT)  AS n_kept,
           CAST(sum(CASE WHEN rn > 20 THEN 1 ELSE 0 END) AS BIGINT)   AS n_dropped,
           CAST(sum(CASE WHEN rn <= 20 THEN n_chars ELSE 0 END) AS BIGINT)
                                                                      AS chars_kept
    FROM ranked
    GROUP BY source
    ORDER BY source
    """,
)


@register(
    "x_segment_dedup_corpus",
    oracle="""
    WITH words AS (
      SELECT doc_id,
             string_split(regexp_replace(trim(text), '[ \\t\\n\\r]+', ' ', 'g'), ' ') AS w
      FROM documents
    ), segs AS (
      SELECT doc_id,
             unnest(generate_series(0, CAST(floor((len(w) - 1) / 8) AS INT))) AS seg_idx,
             w
      FROM words
    ), hashed AS (
      SELECT doc_id, seg_idx,
             md5(array_to_string(list_slice(w, seg_idx * 8 + 1, seg_idx * 8 + 8), ' ')) AS h
      FROM segs
    ), marked AS (
      SELECT doc_id, seg_idx,
             row_number() OVER (PARTITION BY h ORDER BY doc_id, seg_idx) AS rn
      FROM hashed
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT)                                          AS n_segs,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)           AS n_kept,
           CAST(sum(CASE WHEN rn <> 1 THEN 1 ELSE 0 END) AS BIGINT)          AS n_dropped
    FROM marked
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def x_segment_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-level exact dedup across the corpus — the C4 /
    MassiveText line-dedup pass, at 8-word non-overlapping segment
    granularity (the synthetic corpus has no newlines, so fixed word
    windows stand in for lines; the operator is granularity-agnostic).
    A segment's globally FIRST occurrence (smallest (doc_id, seg_idx))
    is kept; every later occurrence anywhere in the corpus is dropped.
    Output is the per-document audit: total / kept / dropped segments.

    Scale: segmenting is map-side (split → explode(sequence) → slice);
    the only shuffle keys on the segment's md5. First-occurrence is a
    ``groupBy(h).agg(min(pos_key))`` + hash join back — deliberately
    NOT a window over h: partial (map-side) min aggregation absorbs the
    boilerplate-segment skew a web corpus always has (the same hot-key
    argument as exact_dedup_by_content), where a window would sort
    every occurrence of the hottest segment in one task. The final
    per-doc rollup re-shuffles on doc_id. md5 (not xxhash64) because
    the oracle must compute the identical key SQL-side."""
    from ..operators.text import segment_dedup_audit

    docs = load_table(spark, sf_dir, "documents")
    return segment_dedup_audit(docs, "text", "doc_id", seg_words=8).orderBy("doc_id")


@register(
    "x_shingle_containment_pairs",
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
    SELECT id_a, id_b, cont_a_in_b, cont_b_in_a
    FROM (
      SELECT id_a, id_b,
             floor(n_inter / sa.sz * 1000000 + 0.5) / 1000000 AS cont_a_in_b,
             floor(n_inter / sb.sz * 1000000 + 0.5) / 1000000 AS cont_b_in_a
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
    ) WHERE cont_a_in_b >= 0.6 OR cont_b_in_a >= 0.6
    """,
)
def x_shingle_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup screening: word-3-gram shingle CONTAINMENT
    |A∩B|/|A| in both directions, keeping pairs where either reaches
    0.6 — catches quotation/subset duplication (short doc embedded in a
    long one) that symmetric Jaccard scores near |A|/|B| ≈ 0 and never
    flags. Broder's resemblance-vs-containment distinction, as a
    first-class curation query. Exact shingle-equi-join flavor (the
    SQL-expressible oracle tool); production screens with the banded
    MinHash path and re-checks candidates with this. See
    operators/dedup.ngram_containment_self_pairs for the scale contract."""
    docs = load_table(spark, sf_dir, "documents")
    return D.ngram_containment_self_pairs(docs, "text", "doc_id", n=3, threshold=0.6)


@register(
    "x_epoch_shuffle",
    oracle="""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           md5('epoch7:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
    FROM documents
    ORDER BY shuffle_key, doc_id
    LIMIT 100
    """,
)
def x_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded deterministic training-order shuffle: every document gets
    a pseudo-random sort key md5(seed || doc_id) and the epoch reads
    documents in key order — reproducible across runs and engines (no
    RNG state), different every epoch (change the seed string), and
    statistically indistinguishable from a uniform shuffle for training
    purposes. This is how a data loader shards + orders a 100 TB corpus
    without materializing a permutation: the key is computed map-side,
    and range-partitioning on it both shuffles globally AND yields
    evenly-sized shards (md5 is uniform), so no epoch hotspots.

    The query returns the first 100 documents of epoch 7's order:
    ORDER BY + LIMIT compiles to TakeOrderedAndProject (per-partition
    top-K, then a driver-side merge of K-row heads — no global sort is
    ever materialized)."""
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.md5(
            F.concat(F.lit("epoch7:"), F.col("doc_id").cast("string")).cast("binary")
        ).alias("shuffle_key"),
    )
    return keyed.orderBy("shuffle_key", "doc_id").limit(100)


def _modularity_oracle(rounds: int) -> str:
    """LPA-partition modularity twin: reuses the unrolled LPA CTE
    prefix (coverage_q._lpa_ctes) and computes Newman's Q from
    integer-valued aggregates only — intra-edge count and Σ d_c² are
    BIGINTs, so the single float expression at the end is bit-identical
    across engines regardless of summation order."""
    return (
        _lpa_ctes(rounds)
        + f""",
    deg AS (
      SELECT node, count(*) AS d FROM (
        SELECT a AS node FROM ed UNION ALL SELECT b FROM ed) GROUP BY node),
    dc AS (
      SELECT l.lbl, sum(d.d) AS d_c
      FROM deg d JOIN l{rounds} l ON l.node = d.node GROUP BY l.lbl),
    intra AS (
      SELECT count(*) AS e_in
      FROM ed e JOIN l{rounds} la ON la.node = e.a
                JOIN l{rounds} lb ON lb.node = e.b
      WHERE la.lbl = lb.lbl),
    m AS (SELECT count(*) AS m FROM ed)
    SELECT CAST(m.m AS BIGINT) AS n_edges,
           (SELECT CAST(count(*) AS BIGINT) FROM dc) AS n_communities,
           floor((CAST(intra.e_in AS DOUBLE) / m.m
                  - CAST((SELECT sum(d_c * d_c) FROM dc) AS DOUBLE)
                    / (4 * m.m * m.m)) * 1000000 + 0.5) / 1000000 AS modularity
    FROM m, intra"""
    )


@register("x_graph_modularity", oracle=_modularity_oracle(rounds=4))
def x_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition quality of the 4-round LPA communities on the repeat
    co-purchase graph: Newman modularity
    Q = Σ_c [ e_c/m − (d_c/2m)² ] — the standard "are these communities
    real structure or noise" score (Q near 0 ⇒ no better than random;
    0.3+ ⇒ strong structure). Computed via the algebraic identity
    Q = intra/m − (Σ_c d_c²)/(4m²) so every aggregate crossing the
    cluster is an INTEGER (edge count, Σ d_c²) — order-independent,
    hash-stable — and the only float math is one final expression.

    Scale: labels come from the capped-round LPA operator (node-keyed
    joins, rounds materialized by ``fixpoint``); the modularity operator
    (operators/graph.modularity) adds two node-keyed label joins on the
    edge list, a degree agg, and two per-community sums — all
    co-partitioned on a cluster, nothing quadratic. The 1-row
    edge-count side is broadcast."""
    from ..operators.graph import label_propagation, modularity

    # materialize once: the basket self-join feeds FOUR consumers
    # (LPA + modularity's e2/deg/m) and would re-derive per consumer
    edges = materialize(copurchase_edges(load_table(spark, sf_dir, "lineitem")))
    lab = label_propagation(edges, rounds=4)
    q = modularity(edges, lab)
    return q.select(
        "n_edges", "n_communities", _q6(F.col("modularity")).alias("modularity")
    )


@register(
    "x_quantile_norm_doclen",
    oracle="""
    WITH g AS (
      SELECT doc_id, n_chars,
             row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS r
      FROM documents
    ), tot AS (SELECT count(*) AS n FROM documents),
    cg AS (
      SELECT g.n_chars, CAST(floor(r * 100 / n) AS INT) + 1 AS centile
      FROM g, tot
    ), cut AS (
      SELECT centile, max(n_chars) AS cutoff FROM cg GROUP BY centile
    ), s AS (
      SELECT doc_id, source, n_chars,
             CAST(floor(
               (row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) - 1)
               * 100 / count(*) OVER (PARTITION BY source)) AS INT) + 1
               AS src_centile
      FROM documents
    )
    SELECT s.doc_id, s.source, CAST(s.n_chars AS BIGINT) AS n_chars,
           s.src_centile, CAST(c.cutoff AS BIGINT) AS norm_chars
    FROM s JOIN cut c ON c.centile = s.src_centile
    ORDER BY s.doc_id
    """,
)
def x_quantile_norm_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of document length across sources: each
    document's WITHIN-SOURCE length centile is mapped onto the GLOBAL
    length distribution's cutoff for that centile — the standard
    cross-source calibration trick (quantile normalization from
    bioinformatics, equally used to make per-source quality/length
    scores comparable before mixing a corpus: a "long" doc from a
    short-doc source and a "long" doc from a long-doc source land on
    the same normalized scale).

    Scale: the global centile comes from operators/relational.
    assign_dense_ids (range-repartition + per-partition offsets — NO
    single-partition row_number over the corpus; the oracle's naive
    global window is the small-data twin), collapsed to a 100-row
    cutoff table that broadcast-joins back. Within-source ranks are
    partitioned windows (integer row_number/count math — no ntile
    implementation-dependence), and every derived column is integer
    arithmetic: nothing floats, nothing order-dependent."""
    from ..operators.relational import assign_dense_ids

    docs = load_table(spark, sf_dir, "documents")
    g = assign_dense_ids(docs.select("doc_id", "n_chars"), ["n_chars", "doc_id"], "r")
    tot = docs.agg(F.count(F.lit(1)).alias("n"))
    cg = g.crossJoin(F.broadcast(tot)).select(
        "n_chars",
        (F.floor(F.col("r") * 100 / F.col("n")).cast("int") + 1).alias("centile"),
    )
    cut = cg.groupBy("centile").agg(F.max("n_chars").alias("cutoff"))
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    s = docs.select(
        "doc_id",
        "source",
        "n_chars",
        (
            F.floor(
                (F.row_number().over(w) - 1)
                * 100
                / F.count(F.lit(1)).over(Window.partitionBy("source"))
            ).cast("int")
            + 1
        ).alias("src_centile"),
    )
    return (
        s.join(F.broadcast(cut), s["src_centile"] == cut["centile"])
        .select(
            "doc_id",
            "source",
            F.col("n_chars").cast("long").alias("n_chars"),
            "src_centile",
            F.col("cutoff").cast("long").alias("norm_chars"),
        )
        .orderBy("doc_id")
    )


@register(
    "x_temperature_sampling_weights",
    oracle="""
    WITH s AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS n_chars
      FROM documents GROUP BY source
    ), tot AS (
      SELECT CAST(sum(n_chars) AS BIGINT) AS t FROM s
    ), p AS (
      SELECT source, n_docs, n_chars,
             n_chars * 1.0 / t.t AS p_nat,
             pow(n_chars * 1.0 / t.t, 0.3) AS p_alpha
      FROM s, tot t
    ), z AS (
      SELECT sum(p_alpha) AS z FROM p
    )
    SELECT p.source, p.n_docs, p.n_chars,
           floor(p.p_nat * 1000000 + 0.5) / 1000000 AS p_natural,
           floor(p.p_alpha / z.z * 1000000 + 0.5) / 1000000 AS w_temperature,
           floor((p.p_alpha / z.z) / p.p_nat * 1000000 + 0.5) / 1000000
             AS epochs_at_natural_budget
    FROM p, z
    ORDER BY p.source
    """,
)
def x_temperature_sampling_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing weights — the α-sampling step
    every multilingual/multi-source LLM data pipeline runs between
    curation and training (mT5/XLM-R convention, α = 0.3): natural
    token share p_s per source, up/down-weighted to p_s^α and
    renormalized, so low-resource sources are oversampled without
    letting any one source dominate. ``epochs_at_natural_budget`` =
    w_s / p_s is the effective epoch count each source's data sees
    when the training budget equals one natural epoch — the
    repetition-risk number reviewed against the dedup stats before a
    run (UniMax's bounded-repeat motivation).

    Plan: one groupBy(source) size rollup on the corpus scan, then a
    |sources|-row frame crossed with two 1-row broadcast aggregates —
    at 100 TB the cost is the scan. pow(x, 0.3) is one correctly-
    rounded libm call on identical doubles; the |sources|-term
    normalizer and the final ratios are q6'd."""
    docs = load_table(spark, sf_dir, "documents")
    # |sources|-row rollup is referenced by three downstream frames
    # (total, weights, normalizer) — checkpoint it once so the corpus
    # scan doesn't re-derive per reference (the multi-reference trap)
    s = materialize(
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_chars"),
        )
    )
    tot = s.agg(F.sum("n_chars").alias("t"))
    p = s.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_chars",
        (F.col("n_chars") * 1.0 / F.col("t")).alias("p_nat"),
        F.pow(F.col("n_chars") * 1.0 / F.col("t"), F.lit(0.3)).alias("p_alpha"),
    )
    z = p.agg(F.sum("p_alpha").alias("z"))
    return (
        p.crossJoin(F.broadcast(z))
        .select(
            "source",
            "n_docs",
            "n_chars",
            _q6(F.col("p_nat")).alias("p_natural"),
            _q6(F.col("p_alpha") / F.col("z")).alias("w_temperature"),
            _q6((F.col("p_alpha") / F.col("z")) / F.col("p_nat")).alias(
                "epochs_at_natural_budget"
            ),
        )
        .orderBy("source")
    )


@register(
    "x_boilerplate_segments",
    oracle="""
    WITH words AS (
      SELECT doc_id, source,
             string_split(regexp_replace(trim(text), '[ \\t\\n\\r]+', ' ', 'g'), ' ') AS w
      FROM documents
    ), segs AS (
      SELECT doc_id, source,
             unnest(generate_series(0, CAST(floor((len(w) - 1) / 8) AS INT))) AS seg_idx,
             w
      FROM words
    ), hashed AS (
      SELECT DISTINCT doc_id, source,
             md5(array_to_string(list_slice(w, seg_idx * 8 + 1, seg_idx * 8 + 8), ' ')) AS h
      FROM segs
    ), per_seg AS (
      SELECT source, h, CAST(count(*) AS BIGINT) AS n_docs
      FROM hashed GROUP BY source, h
    ), audit AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_segs_distinct,
             CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_boilerplate_segs
      FROM per_seg GROUP BY source
    ), affected AS (
      SELECT hd.source, CAST(count(DISTINCT hd.doc_id) AS BIGINT) AS n_docs_affected
      FROM hashed hd JOIN per_seg p ON p.source = hd.source AND p.h = hd.h
      WHERE p.n_docs >= 2
      GROUP BY hd.source
    )
    SELECT a.source, a.n_segs_distinct, a.n_boilerplate_segs,
           CAST(coalesce(f.n_docs_affected, 0) AS BIGINT) AS n_docs_affected
    FROM audit a LEFT JOIN affected f ON f.source = a.source
    ORDER BY a.source
    """,
)
def x_boilerplate_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-source boilerplate census — the site-chrome pass web
    pipelines run per domain before any cross-corpus dedup: an 8-word
    segment recurring in ≥2 distinct documents of the SAME source is
    flagged (navigation, footers, legal lines repeat on every page of
    a domain), and the per-source audit reports distinct segments,
    boilerplate segments, and documents touched. Complements
    x_segment_dedup_corpus (corpus-wide first-occurrence dedup) and
    x_duplicate_spans: the grouping key here is (source, segment),
    which is what makes it a boilerplate detector rather than a
    duplicate detector. See operators/text.source_boilerplate_audit.

    Scale: map-side segmenting; the (source, h, id) dedup's map-side
    partial aggregation absorbs within-doc repeats; every shuffle keys
    on (source, h) or source. md5 keys for oracle parity."""
    from ..operators.text import source_boilerplate_audit

    docs = load_table(spark, sf_dir, "documents")
    return source_boilerplate_audit(
        docs, "text", "doc_id", "source", seg_words=8, min_docs=2
    ).orderBy("source")


@register(
    "x_boilerplate_removed",
    oracle="""
    WITH w AS (
      SELECT doc_id, source,
             string_split(regexp_replace(trim(text), '[ \\t\\n\\r]+', ' ', 'g'), ' ') AS words
      FROM documents
    ), segs AS (
      SELECT doc_id, source,
             unnest(generate_series(0, CAST(floor((len(words) - 1) / 8) AS INT))) AS seg_idx,
             words
      FROM w
    ), hashed AS (
      SELECT doc_id, source, seg_idx,
             md5(array_to_string(list_slice(words, seg_idx * 8 + 1, seg_idx * 8 + 8), ' ')) AS h
      FROM segs
    ), bp AS (
      SELECT source, h
      FROM hashed GROUP BY source, h
      HAVING count(DISTINCT doc_id) >= 2
    ), per_doc AS (
      SELECT hd.doc_id, list(hd.seg_idx) AS bp_segs
      FROM hashed hd JOIN bp ON bp.source = hd.source AND bp.h = hd.h
      GROUP BY hd.doc_id
    ), j AS (
      SELECT w.doc_id, w.words, p.bp_segs FROM w LEFT JOIN per_doc p USING (doc_id)
    ), r AS (
      SELECT doc_id, words,
             CASE WHEN bp_segs IS NULL THEN range(1, len(words) + 1)
                  ELSE list_filter(range(1, len(words) + 1),
                         i -> len(list_filter(bp_segs,
                                s -> s = CAST(floor((i - 1) / 8) AS INT))) = 0)
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
def x_boilerplate_removed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CUT half of the within-source boilerplate pass (VERDICT r9
    #4): the corpus with every segment x_boilerplate_segments counts as
    recurring site chrome dropped at word level, mirroring the
    x_duplicate_spans / x_duplicate_spans_removed detect+cut pair. The
    oracle reconstructs the full cleaned text per document, so the
    hash gate checks the actual output corpus, not just removal
    counts. See operators/text.remove_source_boilerplate for the plan
    and 100 TB posture."""
    from ..operators.text import remove_source_boilerplate

    docs = load_table(spark, sf_dir, "documents")
    return remove_source_boilerplate(
        docs, "text", "doc_id", "source", seg_words=8, min_docs=2
    )


def _greedy_coverage_oracle(k: int = 5) -> str:
    """Unrolled greedy max-coverage twin: k rounds, each one
    MATERIALIZED (gains, argmax, covered-set) CTE triple. Gains are
    exact integers and the argmax tiebreaks on doc_id, so the greedy
    trajectory is a total deterministic function of the corpus."""
    sql = """
    WITH words AS (
      SELECT doc_id,
             string_split_regex(regexp_replace(lower(trim(text)),
               '[ \\t\\n\\r]+', ' ', 'g'), ' ') AS w
      FROM documents
    ), tokens AS (
      SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) AS idx
      FROM words
    ), grams AS (
      SELECT doc_id,
             word || ' ' || lead(word, 1) OVER win || ' '
                  || lead(word, 2) OVER win AS g
      FROM tokens WINDOW win AS (PARTITION BY doc_id ORDER BY idx)
      QUALIFY lead(word, 2) OVER win IS NOT NULL
    ), dg AS MATERIALIZED (
      SELECT DISTINCT doc_id, g FROM grams
    ), g1 AS MATERIALIZED (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS gain FROM dg GROUP BY 1
    ), s1 AS MATERIALIZED (
      SELECT doc_id, gain FROM g1 ORDER BY gain DESC, doc_id LIMIT 1
    ), c1 AS MATERIALIZED (
      SELECT DISTINCT d.g FROM dg d JOIN s1 USING (doc_id)
    )"""
    for r in range(2, k + 1):
        p = r - 1
        sel_union = " UNION ALL ".join(
            f"SELECT doc_id FROM s{i}" for i in range(1, r)
        )
        sql += f""", g{r} AS MATERIALIZED (
      SELECT d.doc_id, CAST(count(*) AS BIGINT) AS gain
      FROM dg d LEFT JOIN c{p} ON c{p}.g = d.g
      WHERE c{p}.g IS NULL
        AND d.doc_id NOT IN ({sel_union})
      GROUP BY 1
    ), s{r} AS MATERIALIZED (
      SELECT doc_id, gain FROM g{r} ORDER BY gain DESC, doc_id LIMIT 1
    ), c{r} AS MATERIALIZED (
      SELECT g FROM c{p}
      UNION
      SELECT d.g FROM dg d JOIN s{r} USING (doc_id)
    )"""
    rows = " UNION ALL ".join(
        f"SELECT {r} AS rnd, doc_id, gain, "
        f"(SELECT CAST(count(*) AS BIGINT) FROM c{r}) AS covered_total FROM s{r}"
        for r in range(1, k + 1)
    )
    sql += f"""
    SELECT CAST(rnd AS BIGINT) AS rnd, doc_id, gain, covered_total
    FROM ({rows}) ORDER BY rnd
    """
    return sql


@register("x_coverage_greedy_selection", oracle=_greedy_coverage_oracle(k=5))
def x_coverage_greedy_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy maximum-coverage data selection (the facility-location /
    submodular-subset-selection primitive behind data-efficient
    training-set curation): pick 5 documents one at a time, each round
    choosing the document adding the most not-yet-covered word-3-gram
    shingles (gain ties break on doc_id). Returns the greedy
    trajectory — (round, doc_id, marginal gain, cumulative distinct
    shingles covered). The 1−1/e approximation guarantee is the
    classic Nemhauser-Wolsey result; gains are exact integers, so the
    whole trajectory hash-checks.

    Scale shape: the (doc, shingle) pair frame materializes ONCE
    (localCheckpoint) and each round is one BROADCAST anti-join
    against the covered set (≤ Σ selected docs' shingles — k·doc-sized,
    never corpus-sized) + one doc-keyed count + a k-sized driver
    argmax. k passes over the pair frame is the honest cost of exact
    greedy; at production k, switch to stochastic-greedy (subsample
    candidates per round) or lazy evaluation — same operator shape,
    documented here rather than silently approximated."""
    docs = load_table(spark, sf_dir, "documents")
    dg = materialize(
        D.shingle(docs, "text", n=3)
        .select("doc_id", F.explode("shingles").alias("g"))
        .distinct()
    )
    covered: DataFrame | None = None
    selected: list[int] = []
    rows: list[tuple[int, int, int, int]] = []
    for r in range(1, 6):
        rem = dg if covered is None else dg.join(F.broadcast(covered), "g", "left_anti")
        if selected:
            rem = rem.filter(~F.col("doc_id").isin(selected))
        gains = rem.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("gain"))
        top = gains.orderBy(F.desc("gain"), "doc_id").limit(1).collect()
        if not top:
            break
        doc_id, gain = top[0]["doc_id"], top[0]["gain"]
        selected.append(doc_id)
        new_cov = dg.filter(F.col("doc_id") == doc_id).select("g")
        # one round of covered set held: the one it replaces is freed
        nxt, n_covered = counted(
            new_cov if covered is None else covered.unionByName(new_cov).distinct()
        )
        if covered is not None:
            release(covered)
        covered = nxt
        rows.append((r, doc_id, gain, n_covered))
    return spark.createDataFrame(
        rows, "rnd long, doc_id long, gain long, covered_total long"
    )


# --- Privacy governance: k-anonymity / l-diversity audit ----------------
# Quasi-identifier set for the customer table: nation, market segment,
# and the account-balance thousand-bucket — the releasable-attribute
# combination an attacker could link on. Sensitive attribute: the
# high-balance flag. Pinned k ladder like the recall brackets.
_KANON_KS = (2, 5, 10)


@register(
    "x_k_anonymity_audit",
    oracle=f"""
    WITH q AS (
      SELECT c_nationkey AS qi_nation, c_mktsegment AS qi_segment,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS qi_balband,
             CASE WHEN c_acctbal > 5000 THEN 1 ELSE 0 END AS sens
      FROM customer
    ), cls AS (
      SELECT qi_nation, qi_segment, qi_balband,
             CAST(count(*) AS BIGINT) AS sz,
             CAST(count(DISTINCT sens) AS BIGINT) AS l_div
      FROM q GROUP BY 1, 2, 3
    ), tot AS (
      SELECT CAST(sum(sz) AS BIGINT) AS n_rows,
             CAST(count(*) AS BIGINT) AS n_classes,
             CAST(sum(CASE WHEN l_div < 2 THEN sz ELSE 0 END) AS BIGINT)
               AS rows_l1
      FROM cls
    ), ks AS (
      SELECT unnest([{", ".join(str(k) for k in _KANON_KS)}]) AS k
    )
    SELECT CAST(ks.k AS BIGINT) AS k,
           tot.n_classes,
           CAST(sum(CASE WHEN cls.sz < ks.k THEN 1 ELSE 0 END) AS BIGINT)
             AS classes_below_k,
           CAST(sum(CASE WHEN cls.sz < ks.k THEN cls.sz ELSE 0 END) AS BIGINT)
             AS rows_below_k,
           floor((CAST(sum(CASE WHEN cls.sz < ks.k THEN cls.sz ELSE 0 END)
                  AS DOUBLE) / tot.n_rows) * 1000000 + 0.5) / 1000000
             AS reident_risk_share,
           floor((CAST(tot.rows_l1 AS DOUBLE) / tot.n_rows) * 1000000 + 0.5)
             / 1000000 AS l1_rows_share
    FROM ks, cls, tot
    GROUP BY ks.k, tot.n_classes, tot.rows_l1, tot.n_rows
    ORDER BY k
    """,
)
def x_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity release audit (Sweeney 2002; the
    governance gate a training-data pipeline runs before publishing
    joined customer attributes): equivalence classes over the
    quasi-identifier set (nation, segment, balance band), the share of
    rows in classes smaller than k for the pinned k ladder, and the
    share of rows in sensitive-homogeneous classes (l-diversity < 2 —
    k-anonymous rows still leak when everyone in the class shares the
    sensitive value).

    Scale: one class-grain aggregation (map-side partials), then the
    k ladder rides a 3-row broadcast cross join over the class frame —
    no second data-sized pass. All counts exact int64."""
    cust = load_table(spark, sf_dir, "customer")
    q = cust.select(
        F.col("c_nationkey").alias("qi_nation"),
        F.col("c_mktsegment").alias("qi_segment"),
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("qi_balband"),
        F.when(F.col("c_acctbal") > 5000, 1).otherwise(0).alias("sens"),
    )
    cls = q.groupBy("qi_nation", "qi_segment", "qi_balband").agg(
        F.count(F.lit(1)).cast("long").alias("sz"),
        F.countDistinct("sens").cast("long").alias("l_div"),
    )
    tot = cls.agg(
        F.sum("sz").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.sum(F.when(F.col("l_div") < 2, F.col("sz")).otherwise(0))
        .cast("long")
        .alias("rows_l1"),
    )
    ks = spark.createDataFrame([(k,) for k in _KANON_KS], "k long")
    j = cls.crossJoin(F.broadcast(ks)).crossJoin(F.broadcast(tot))
    below = F.when(F.col("sz") < F.col("k"), 1).otherwise(0)
    below_rows = F.when(F.col("sz") < F.col("k"), F.col("sz")).otherwise(0)
    return (
        j.groupBy("k", "n_classes", "rows_l1", "n_rows")
        .agg(
            F.sum(below).cast("long").alias("classes_below_k"),
            F.sum(below_rows).cast("long").alias("rows_below_k"),
        )
        .select(
            "k",
            "n_classes",
            "classes_below_k",
            "rows_below_k",
            _q6(F.col("rows_below_k").cast("double") / F.col("n_rows")).alias(
                "reident_risk_share"
            ),
            _q6(F.col("rows_l1").cast("double") / F.col("n_rows")).alias(
                "l1_rows_share"
            ),
        )
        .orderBy("k")
    )


@register(
    "x_neyman_allocation",
    oracle="""
    WITH s AS (
      SELECT c_mktsegment AS segment,
             CAST(count(*) AS BIGINT) AS n_h,
             CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sy,
             CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)
                      * CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS syy
      FROM customer GROUP BY 1
    ), sig AS (
      SELECT segment, n_h,
             sqrt(CAST(syy AS DOUBLE) / n_h
                  - (CAST(sy AS DOUBLE) / n_h) * (CAST(sy AS DOUBLE) / n_h))
               / 100.0 AS sigma_h
      FROM s
    ), w AS (
      SELECT segment, n_h, sigma_h, n_h * sigma_h AS wgt,
             floor(sum(n_h * sigma_h) OVER () * 1000000000 + 0.5) / 1000000000
               AS wtot,
             CAST(sum(n_h) OVER () AS BIGINT) AS n_pop
      FROM sig
    )
    SELECT segment, n_h,
           floor(sigma_h * 1000000 + 0.5) / 1000000 AS sigma_h,
           CAST(floor(100.0 * wgt / wtot + 0.5) AS BIGINT) AS alloc_neyman,
           CAST(floor(100.0 * n_h / n_pop + 0.5) AS BIGINT) AS alloc_proportional
    FROM w ORDER BY segment
    """,
)
def x_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman optimal stratified-sample allocation (Neyman 1934): for a
    budget of 100 samples over the market-segment strata, allocate
    n_h ∝ N_h σ_h (minimum-variance for estimating mean account
    balance) next to the proportional baseline — the survey-sampling
    counterpart of the quality/temperature samplers in this family.

    Determinism: per-stratum moments are exact int64 cent sums; σ_h is
    one sqrt of a fixed IEEE chain (sqrt is correctly rounded, so
    engine-identical); the only order-sensitive reduction is the 5-term
    Σ N_hσ_h, quantized at 1e-9 before the division feeds the floor
    rounding on both sides. Scale: one segment-grain aggregation over
    the scan; the allocation math lives on 5 rows."""
    cents = F.floor(F.col("c_acctbal") * 100 + 0.5).cast("long")
    s = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_mktsegment").alias("segment"), cents.alias("c"))
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_h"),
            F.sum("c").cast("long").alias("sy"),
            F.sum(F.col("c") * F.col("c")).cast("long").alias("syy"),
        )
    )
    mean = F.col("sy").cast("double") / F.col("n_h")
    sigma = F.sqrt(F.col("syy").cast("double") / F.col("n_h") - mean * mean) / 100.0
    from ..operators.tswindow import spine_window

    sig = s.select("segment", "n_h", sigma.alias("sigma_h"))
    sig, wg = spine_window(sig, [], max_rows=64, label="neyman-strata")
    q9 = lambda c: F.floor(c * 1000000000 + F.lit(0.5)) / 1000000000  # noqa: E731
    w = sig.select(
        "segment",
        "n_h",
        "sigma_h",
        (F.col("n_h") * F.col("sigma_h")).alias("wgt"),
        q9(F.sum(F.col("n_h") * F.col("sigma_h")).over(wg)).alias("wtot"),
        F.sum("n_h").over(wg).cast("long").alias("n_pop"),
    )
    return w.select(
        "segment",
        "n_h",
        _q6(F.col("sigma_h")).alias("sigma_h"),
        F.floor(100.0 * F.col("wgt") / F.col("wtot") + 0.5)
        .cast("long")
        .alias("alloc_neyman"),
        F.floor(100.0 * F.col("n_h") / F.col("n_pop") + 0.5)
        .cast("long")
        .alias("alloc_proportional"),
    ).orderBy("segment")


@register(
    "x_erasure_cascade_audit",
    oracle="""
    WITH victims AS (
      SELECT c_custkey FROM customer WHERE c_custkey % 1000 = 7
    ), vo AS (
      SELECT o_orderkey FROM orders
      WHERE o_custkey IN (SELECT c_custkey FROM victims)
    ), counts AS (
      SELECT
        (SELECT CAST(count(*) AS BIGINT) FROM victims) AS n_customers_erased,
        (SELECT CAST(count(*) AS BIGINT) FROM vo) AS n_orders_cascaded,
        (SELECT CAST(count(*) AS BIGINT) FROM lineitem
          WHERE l_orderkey IN (SELECT o_orderkey FROM vo))
          AS n_lineitems_cascaded,
        (SELECT CAST(count(*) AS BIGINT) FROM events
          WHERE user_id % 1000 = 7) AS n_events_erased,
        (SELECT CAST(count(*) AS BIGINT) FROM orders) AS o_total,
        (SELECT CAST(count(*) AS BIGINT) FROM orders
          WHERE o_custkey NOT IN (SELECT c_custkey FROM victims))
          AS o_kept,
        (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS l_total,
        (SELECT CAST(count(*) AS BIGINT) FROM lineitem
          WHERE l_orderkey NOT IN (SELECT o_orderkey FROM vo)) AS l_kept
    )
    SELECT n_customers_erased, n_orders_cascaded, n_lineitems_cascaded,
           n_events_erased,
           (o_kept + n_orders_cascaded = o_total
            AND l_kept + n_lineitems_cascaded = l_total)
             AS residual_consistent
    FROM counts
    """,
)
def x_erasure_cascade_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten cascade audit (the governance twin of
    x_k_anonymity_audit): an erasure request batch (customers with
    c_custkey % 1000 == 7 — a deterministic stand-in for the DSAR
    queue) is propagated through the foreign-key chain customer ->
    orders -> lineitem, plus the behavioral log keyed directly on the
    user id. Reports per-table cascade counts AND the residual
    consistency invariant: kept + erased == total for every cascaded
    table (the semi/anti partition of each table is exact — an erasure
    job that loses or double-counts rows flips the boolean).

    Scale: the victim side carries NO forced broadcast hint (ADVICE
    r11) — this fixture's modulus makes it corpus-proportional
    (|customers|/1000), so a pinned broadcast would contradict the
    repo's own tombstone posture at 100 TB; AQE sizes the join at
    runtime (broadcast while the DSAR batch is small, shuffled
    semi-join once it isn't). The lineitem cascade is keyed on the
    cascaded order set (larger, always a shuffled semi-join); every
    count is a map-side-combined scan. Erasure itself is the same
    anti-joins materialized (the compaction posture of
    similarity.compact_ivf_index)."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    ev = load_table(spark, sf_dir, "events").select("user_id")

    victims = cust.filter(F.col("c_custkey") % 1000 == 7)
    vo = orders.join(
        victims, orders["o_custkey"] == victims["c_custkey"], "left_semi"
    )
    vl = li.join(vo, li["l_orderkey"] == vo["o_orderkey"], "left_semi")
    o_kept = orders.join(
        victims, orders["o_custkey"] == victims["c_custkey"], "left_anti"
    )
    l_kept = li.join(vo, li["l_orderkey"] == vo["o_orderkey"], "left_anti")

    def cnt(df, name):
        return df.agg(F.count(F.lit(1)).alias(name))

    out = (
        cnt(victims, "n_customers_erased")
        .crossJoin(cnt(vo, "n_orders_cascaded"))
        .crossJoin(cnt(vl, "n_lineitems_cascaded"))
        .crossJoin(cnt(ev.filter(F.col("user_id") % 1000 == 7), "n_events_erased"))
        .crossJoin(cnt(orders, "o_total"))
        .crossJoin(cnt(o_kept, "o_kept"))
        .crossJoin(cnt(li, "l_total"))
        .crossJoin(cnt(l_kept, "l_kept"))
    )
    return out.select(
        "n_customers_erased",
        "n_orders_cascaded",
        "n_lineitems_cascaded",
        "n_events_erased",
        (
            (F.col("o_kept") + F.col("n_orders_cascaded") == F.col("o_total"))
            & (F.col("l_kept") + F.col("n_lineitems_cascaded") == F.col("l_total"))
        ).alias("residual_consistent"),
    )


@register(
    "x_erasure_store_dsar_batch",
    oracle="""
    WITH victims AS (
      SELECT DISTINCT c_custkey FROM customer WHERE c_custkey % 1000 = 7
    ), vo AS (
      SELECT o_orderkey FROM orders
      WHERE o_custkey IN (SELECT c_custkey FROM victims)
    )
    SELECT
      (SELECT CAST(count(*) AS BIGINT) FROM victims) AS n_victims,
      (SELECT CAST(count(*) AS BIGINT) FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM victims)) AS n_orders_erased,
      (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        WHERE l_orderkey IN (SELECT o_orderkey FROM vo)) AS n_lineitems_erased,
      (SELECT CAST(count(*) AS BIGINT) FROM events
        WHERE user_id IN (SELECT c_custkey FROM victims)) AS n_events_erased,
      (SELECT CAST(count(*) AS BIGINT) FROM orders
        WHERE o_custkey NOT IN (SELECT c_custkey FROM victims)) AS o_kept,
      (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        WHERE l_orderkey NOT IN (SELECT o_orderkey FROM vo)) AS l_kept,
      (SELECT CAST(count(*) AS BIGINT) FROM events
        WHERE user_id NOT IN (SELECT c_custkey FROM victims)) AS e_kept,
      ((SELECT count(*) FROM orders
         WHERE o_custkey NOT IN (SELECT c_custkey FROM victims))
        + (SELECT count(*) FROM orders
            WHERE o_custkey IN (SELECT c_custkey FROM victims))
        = (SELECT count(*) FROM orders)) AS residual_consistent
    """,
)
def x_erasure_store_dsar_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end partition-scoped DSAR erasure under the oracle gate
    (VERDICT r13 #7): prepare a REAL erasure store (hive-partitioned by
    pmod(hash(key AS BIGINT), 16) per streaming.prepare_erasure_store),
    apply one DSAR batch through the SAME per-batch body the streaming
    sink runs (streaming.apply_erasure_batch — pruned reads, leaf-first
    anti-join rewrites, recoverable partition overwrite, audit row), and
    report what the STORE says afterwards: the audit's erased counts +
    residual invariant and the post-batch kept counts re-read from the
    rewritten parquet. The oracle recomputes every count relationally,
    so a pruning bug that silently skipped a victim bucket (the ADVICE
    r13 hash-type failure mode) flips o_kept/e_kept and fails the hash —
    exactly the class pytest fixtures alone could not put under the
    driver's gate.

    Victims are the deterministic DSAR stand-in (c_custkey % 1000 == 7,
    same fixture as x_erasure_cascade_audit). The store is built in a
    fresh temp dir and deleted after the counts are read; the returned
    frame is the materialized one-row summary. Scale: the batch cost is
    |touched buckets| — pruned scans + dynamic overwrite of touched
    partitions only (tools/erasure_scale.py measures this at sf1); the
    store build is the one-off ingest cost, not the per-batch cost."""
    import shutil
    import tempfile

    from ..streaming.pipeline import apply_erasure_batch, prepare_erasure_store

    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id")

    store = tempfile.mkdtemp(prefix="dsar_store_")
    try:
        prepare_erasure_store(orders, li, ev, store, buckets=16)
        victims = cust.filter(F.col("c_custkey") % 1000 == 7).select(
            F.col("c_custkey").cast("long").alias("c_custkey")
        )
        apply_erasure_batch(victims, 0, store)
        audit = spark.read.parquet(store + "/audit").collect()[0]
        kept = {
            t: spark.read.parquet(f"{store}/{t}").count()
            for t in ("orders", "lineitem", "events")
        }
    finally:
        shutil.rmtree(store, ignore_errors=True)
    return spark.createDataFrame(
        [(
            audit["n_victims"],
            audit["n_orders_erased"],
            audit["n_lineitems_erased"],
            audit["n_events_erased"],
            kept["orders"],
            kept["lineitem"],
            kept["events"],
            bool(audit["residual_consistent"]),
        )],
        "n_victims long, n_orders_erased long, n_lineitems_erased long, "
        "n_events_erased long, o_kept long, l_kept long, e_kept long, "
        "residual_consistent boolean",
    )
