"""Text-analysis operators over a document corpus (north-star X4).

All expressions are built-in ``pyspark.sql.functions`` — JVM-side,
whole-stage-codegen'd, no Python in the hot path — so a 100 TB corpus
scan stays embarrassingly parallel with zero shuffle (pure map stage).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.column import Column

from ..materialize import materialize

# Tiny public stopword list (subset of the classic english stopwords used by
# Spark's StopWordsRemover / NLTK; public knowledge).
STOPWORDS = (
    "the a an and or but if then is are was were be been being of to in on "
    "for with as at by from that this it its not no"
).split()

# BPE-ish token regex: words with optional leading space, numbers, or single
# non-space punctuation — the classic GPT-2-style pre-tokenizer shape,
# simplified to what Spark's regexp engine supports.
TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\r]"


def word_ngrams(words: Column, n: int) -> Column:
    """Array of space-joined word n-grams from a words-array expression,
    built from O(n) ARRAY-LEVEL ops (n-1 shifted slices folded with
    zip_with).

    Deliberately NOT the index-lambda form
    ``transform(sequence(...), i -> slice(words, i+1, n))``: a lambda
    body that references the outer ``words`` expression re-evaluates it
    PER GRAM after projection collapse inlines the tokenizer — measured
    14× blowup on the novelty query at sf0.1 (20.9 s → 1.5 s for the
    same gram frame). Here ``words`` is referenced n+1 times per ROW
    (once per shifted slice + one size), so the tokenize cost stays
    O(n·row), not O(n·grams·row). Docs shorter than n words yield an
    empty array."""
    z = words
    for i in range(1, n):
        nxt = F.slice(words, i + 1, F.greatest(F.size(words) - i, F.lit(0)))
        z = F.zip_with(
            z,
            nxt,
            lambda a, b: F.when(
                a.isNull() | b.isNull(), F.lit(None)
            ).otherwise(F.concat_ws(" ", a, b)),
        )
    return F.filter(z, lambda x: x.isNotNull())


def token_count(col: Column | str, pattern: str = TOKEN_REGEX) -> Column:
    """Number of BPE-ish tokens: count of regex matches. regexp_count
    walks the matcher without materializing the match array (the
    size(regexp_extract_all) form allocated every token string per row
    just to count them)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(pattern))


def whitespace_token_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.split(F.trim(c), r"[ \t\n\r]+"))


def stopword_ratio(col: Column | str) -> Column:
    """Fraction of whitespace tokens that are stopwords — a quality signal."""
    c = F.col(col) if isinstance(col, str) else col
    words = F.split(F.lower(F.trim(c)), r"[ \t\n\r]+")
    stop = F.size(F.filter(words, lambda x: x.isin(*STOPWORDS)))
    return stop / F.nullif(F.size(words), F.lit(0))


def punct_ratio(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[^A-Za-z0-9_ \t\n\r]", ""))
    return n_punct / F.nullif(F.length(c), F.lit(0))


def mean_word_length(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    words = F.split(F.trim(c), r"[ \t\n\r]+")
    total = F.aggregate(words, F.lit(0), lambda acc, x: acc + F.length(x))
    return total / F.nullif(F.size(words), F.lit(0))


def quality_score(col: Column | str) -> Column:
    """Composite [0,1] quality heuristic: length band + stopword presence +
    moderate punctuation + sane word length. A cheap filter for training-
    data curation; each term is a clamped linear band."""
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c).cast("double")
    len_term = F.least(n / F.lit(200.0), F.lit(1.0))
    stop_term = F.least(stopword_ratio(c) * 4.0, F.lit(1.0))
    punct_term = F.greatest(F.lit(0.0), F.lit(1.0) - punct_ratio(c) * 4.0)
    wl = mean_word_length(c)
    wl_term = F.when((wl >= 3) & (wl <= 10), 1.0).otherwise(0.3)
    return F.round((len_term + stop_term + punct_term + wl_term) / 4.0, 6)


def lang_id_heuristic(col: Column | str) -> Column:
    """N-gram-frequency language guess (english/non-english classes from the
    driver corpus: en/de/fr/es + code). Pure-SQL heuristic: scores presence
    of language-marker function words; ties broken by fixed order."""
    c = F.lower(F.col(col) if isinstance(col, str) else col)
    pad = F.concat(F.lit(" "), c, F.lit(" "))

    def hits(words: list[str]) -> Column:
        expr: Column = F.lit(0)
        for wd in words:
            expr = expr + F.when(pad.contains(f" {wd} "), 1).otherwise(0)
        return expr

    en = hits(["the", "and", "of", "is", "that", "with"])
    de = hits(["der", "die", "das", "und", "ist", "nicht"])
    fr = hits(["le", "la", "les", "est", "une", "dans"])
    es = hits(["el", "los", "es", "una", "por", "que"])
    code = hits(["def", "return", "import", "class", "void", "function"])
    return (
        F.when((code >= en) & (code >= de) & (code >= fr) & (code >= es) & (code > 0), "code")
        .when((en >= de) & (en >= fr) & (en >= es) & (en > 0), "en")
        .when((de >= fr) & (de >= es) & (de > 0), "de")
        .when((fr >= es) & (fr > 0), "fr")
        .when(es > 0, "es")
        .otherwise("unknown")
    )


def doc_fingerprint(col: Column | str) -> Column:
    """Deterministic 64-bit content fingerprint: xxhash64 of the
    whitespace-normalized lowercased text. The rolling-hash analogue for
    exact-dup detection; stable across partitions/runs."""
    c = F.col(col) if isinstance(col, str) else col
    normalized = F.regexp_replace(F.lower(F.trim(c)), r"[ \t\n\r]+", " ")
    return F.xxhash64(normalized)


def with_text_stats(df: DataFrame, col: str = "text") -> DataFrame:
    """Attach the full stats block — one codegen'd projection."""
    return (
        df.withColumn("n_tokens", token_count(col))
        .withColumn("n_ws_tokens", whitespace_token_count(col))
        .withColumn("stopword_ratio", F.round(stopword_ratio(col), 6))
        .withColumn("punct_ratio", F.round(punct_ratio(col), 6))
        .withColumn("quality", quality_score(col))
        .withColumn("lang_guess", lang_id_heuristic(col))
        .withColumn("fingerprint", doc_fingerprint(col))
    )


def word_repetition_ratio(col: Column | str) -> Column:
    """Fraction of words that are repeats of an earlier word in the same
    document: 1 − |distinct words| / |words|. A Gopher-style repetition
    quality signal (high → boilerplate / keyword-stuffed text)."""
    c = F.col(col) if isinstance(col, str) else col
    words = F.split(F.lower(F.trim(c)), r"[ \t\n\r]+")
    return F.lit(1.0) - F.size(F.array_distinct(words)) / F.nullif(
        F.size(words), F.lit(0)
    )


def bigram_repetition_ratio(col: Column | str) -> Column:
    """Fraction of word bigrams that are repeats — catches looped phrases
    that word-level repetition misses. Built from a sequence-index
    transform (JVM-side, zero shuffle); documents with <2 words score 0."""
    c = F.col(col) if isinstance(col, str) else col
    words = F.split(F.lower(F.trim(c)), r"[ \t\n\r]+")
    n = F.size(words)
    bigrams = word_ngrams(words, 2)  # array-level build, not per-gram lambda
    ratio = F.lit(1.0) - F.size(F.array_distinct(bigrams)) / F.nullif(
        F.size(bigrams), F.lit(0)
    )
    return F.when(n >= 2, ratio).otherwise(F.lit(0.0))


# PII-ish patterns chosen from the Java-regex ∩ RE2 common subset so the
# same pattern text runs identically in Spark and in a DuckDB oracle
# (no lookarounds, no backrefs; \b and \S are supported by both).
URL_REGEX = r"https?://[^ \t\n\r]+"
EMAIL_REGEX = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_REGEX = r"\b[0-9]{3}-[0-9]{4}\b"


def match_count(col: Column | str, pattern: str) -> Column:
    """Number of non-overlapping matches of ``pattern`` — JVM-side
    regexp_count, no UDF."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(pattern))


def scrub_text(col: Column | str) -> Column:
    """Replace URLs, then emails, then phone numbers with typed
    placeholder tokens — the standard pre-training scrub pass. Order
    matters (URLs may contain '@'); the chain is three JVM
    regexp_replace ops fused into one projection by codegen, so at
    100 TB this costs one corpus scan and zero shuffles."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.regexp_replace(c, URL_REGEX, "<URL>")
    out = F.regexp_replace(out, EMAIL_REGEX, "<EMAIL>")
    return F.regexp_replace(out, PHONE_REGEX, "<PHONE>")


def chunk_by_words(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 50,
    stride: int = 40,
) -> DataFrame:
    """Split documents into overlapping word-window chunks — the unit of
    work a training pipeline tokenizes. Chunk i covers words
    [i*stride, i*stride+window); starts every ``stride`` words while
    start < n_words, so consecutive chunks overlap by window-stride
    words and every word lands in ≥1 chunk.

    Pure built-ins: split → explode(sequence) → slice → concat. The
    explode multiplies rows by ~n_words/stride but needs NO shuffle —
    chunking is a map-side operation, and downstream per-chunk work
    (tokenize, embed) parallelizes over the exploded rows. Row width
    stays bounded: each output row carries one chunk, not the document.
    """
    words = F.split(F.regexp_replace(F.trim(F.col(text_col)), r"[ \t\n\r]+", " "), " ")
    d = df.select(
        F.col(id_col), words.alias("_w"), ((F.size(words) - 1) / stride).cast("int").alias("_mx")
    )
    return d.select(
        id_col,
        F.explode(F.sequence(F.lit(0), F.col("_mx"))).alias("chunk_idx"),
        F.col("_w"),
    ).select(
        id_col,
        "chunk_idx",
        F.concat_ws(" ", F.slice("_w", F.col("chunk_idx") * stride + 1, window)).alias(
            "chunk_text"
        ),
        F.least(
            F.lit(window), F.size("_w") - F.col("chunk_idx") * stride
        ).alias("n_words_chunk"),
    )


def pack_sequences(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shard_col: str = "source",
    budget: int = 512,
) -> DataFrame:
    """GPT-style sequence packing (concat-then-cut): lay every document's
    tokens end-to-end in a deterministic order and cut the stream every
    ``budget`` tokens. Emits one row per (document, training sequence)
    fragment: which slice of the doc lands in which sequence.

    The token stream is per-SHARD, not global: a single global running
    offset would serialize the window into one partition, while real
    pipelines pack each shard independently (sequence ids only need to be
    unique, not globally dense). The only shuffle is the window's
    hash-partition by shard; everything after is map-side explode +
    arithmetic. Skewed shards bound the tail — at 100 TB use a composite
    shard key (source × hash bucket) to cap shard size; the operator
    takes any ``shard_col``.

    Output: (shard, seq_id, doc_id, n_tok, frag_start, frag_len) where
    seq_id is the shard-local sequence index, frag_start is the 0-based
    token offset INSIDE the doc, and fragments of one sequence total
    ``budget`` tokens except the shard's last.
    """
    # Tokenizer pinned for cross-engine determinism: collapse all runs of
    # whitespace to single spaces, trim, then split on the literal space —
    # no regex-split engine in the hot expression, and the empty /
    # whitespace-only document is an explicit CASE (1 token, matching the
    # split-of-empty-string convention) rather than an engine-dependent edge.
    norm = F.trim(F.regexp_replace(F.col(text_col), r"[ \t\n\r]+", " "))
    n_tok = F.when(norm == "", F.lit(1)).otherwise(F.size(F.split(norm, " ", -1)))
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = (
        df.select(
            F.col(shard_col).alias("shard"),
            F.col(id_col),
            n_tok.cast("long").alias("n_tok"),
        )
        .withColumn("_end", F.sum("n_tok").over(w))
        .withColumn("_off", F.col("_end") - F.col("n_tok"))
    )
    b = F.lit(budget)
    frag_start = F.greatest(F.lit(0).cast("long"), F.col("seq_id") * b - F.col("_off"))
    frag_end = F.least(F.col("n_tok"), (F.col("seq_id") + 1) * b - F.col("_off"))
    # seq-id span via pure integer division (all operands are non-negative
    # longs, so DIV == floor-div) — no double-division floor anywhere, so a
    # DuckDB oracle using `//` reproduces the values bit-for-bit.
    return (
        d.select(
            "shard",
            id_col,
            "n_tok",
            "_off",
            F.explode(
                F.sequence(
                    F.expr(f"_off DIV {int(budget)}"),
                    F.expr(f"(_end - 1) DIV {int(budget)}"),
                )
            ).alias("seq_id"),
        )
        .select(
            "shard",
            "seq_id",
            id_col,
            "n_tok",
            frag_start.alias("frag_start"),
            (frag_end - frag_start).alias("frag_len"),
        )
    )


def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_occurrences: int = 2,
) -> DataFrame:
    """Exact duplicated-SPAN detection — substring-level dedup in the
    style of "Deduplicating Training Data Makes Language Models Better"
    (Lee et al., 2022), k-gram-approximated: find every maximal run of
    tokens inside a document that is covered by word-k-grams occurring
    ``min_occurrences``+ times anywhere in the corpus (including twice
    within one document — self-repetition is training-data duplication
    too).

    Plan shape (all built-ins): one corpus scan exploding (position,
    k-gram) pairs — linear in token count, pure map; one aggregation
    shuffle keyed on the k-gram's xxhash64 (the corpus-wide duplicated-
    gram table, which ``HAVING count >= min_occurrences`` shrinks to the
    duplicated tail); one join of positions against that table; then a
    per-document window doing classic interval-island merging (running
    max of span ends → island ids → min/max per island). At 100 TB the
    gram table is the dominant shuffle — same posture as the bigram LM,
    and the same mitigation applies (prune to grams seen ≥ N times via
    partial aggregation; Spark's map-side combine already does the heavy
    lifting since duplicated grams are by definition dense).

    The 64-bit hash stands in for the gram string in the shuffle
    (8 bytes vs ~50); a hash collision could merge two distinct grams —
    at 2^64 that is negligible, and the oracle twin groups by the full
    string to keep the check honest.

    Output: (doc_id, span_id, span_start, span_end, span_words) — 1-based
    inclusive word offsets of each merged duplicated span, span_id dense
    per document in position order.
    """
    # Explicit whitespace class (not \s): Java regex \s and DuckDB's RE2 \s
    # disagree at the edges (\x0B), which cost a driver-round hash mismatch.
    # The oracle twin uses the identical class so both engines tokenize
    # byte-identically.
    norm = F.trim(F.regexp_replace(F.col(text_col), "[ \t\n\r]+", " "))
    base = df.select(
        F.col(id_col), F.split(F.lower(norm), " ", -1).alias("_w")
    ).filter(F.size("_w") >= k)
    grams = base.select(
        id_col,
        F.explode(F.sequence(F.lit(1), F.size("_w") - (k - 1))).alias("pos"),
        "_w",
    ).select(
        id_col,
        "pos",
        F.xxhash64(F.concat_ws(" ", F.slice("_w", F.col("pos"), k))).alias("_gh"),
    )
    dup = (
        grams.groupBy("_gh")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= min_occurrences)
        .select("_gh")
    )
    hits = grams.join(dup, "_gh").select(id_col, "pos")
    prev_end = F.max(F.col("pos") + (k - 1)).over(
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    isl = hits.withColumn(
        "_new",
        (F.col("pos") > F.coalesce(prev_end, F.lit(-1)) + 1).cast("int"),
    ).withColumn(
        "span_id",
        F.sum("_new").over(
            Window.partitionBy(id_col)
            .orderBy("pos")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    # Pin every output to BIGINT so the oracle can CAST to the same type —
    # DuckDB's windowed sum() yields HUGEINT, and unpinned numeric types are
    # exactly the class of env-sensitive divergence the oracle lint bans.
    return (
        isl.groupBy(id_col, "span_id")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + (k - 1)).cast("long").alias("span_end"),
        )
        .withColumn("span_id", F.col("span_id").cast("long"))
        .withColumn(
            "span_words", (F.col("span_end") - F.col("span_start") + 1).cast("long")
        )
    )


def remove_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_occurrences: int = 2,
) -> DataFrame:
    """The second half of Lee et al. 2022: don't just FIND duplicated
    spans — CUT them out of the corpus. Composes ``duplicate_spans``
    with a word-level reconstruction: every word position covered by a
    detected span is dropped, survivors rejoin into the cleaned text.

    Plan shape: the span detection's shuffles (gram agg + join + per-doc
    window) plus ONE extra aggregation (spans collect_list'd per doc —
    bounded: spans per doc ≪ words per doc) and a broadcast-friendly
    left join back to the corpus keyed on ``id_col``. The cut itself is
    a higher-order filter over the word array — JVM-side lambda, zero
    Python, O(words × spans_per_doc) per row.

    Output: (doc_id, clean_text, n_words, n_removed_words) with
    tokenization identical to ``duplicate_spans`` (same explicit
    whitespace class), so n_removed_words == sum of the doc's
    span_words from ``duplicate_spans``.
    """
    spans = duplicate_spans(df, text_col, id_col, k=k, min_occurrences=min_occurrences)
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    norm = F.trim(F.regexp_replace(F.col(text_col), "[ \t\n\r]+", " "))
    base = df.select(
        F.col(id_col), F.split(F.lower(norm), " ", -1).alias("_w")
    ).join(per_doc, id_col, "left")
    all_idx = F.sequence(F.lit(1), F.size("_w"))
    filtered = F.filter(
        all_idx,
        lambda i: ~F.exists(
            F.col("_spans"),
            lambda s: (i >= s["span_start"]) & (i <= s["span_end"]),
        ),
    )
    kept = F.when(F.col("_spans").isNull(), all_idx).otherwise(filtered)
    return base.select(
        id_col,
        F.array_join(
            F.transform(kept, lambda i: F.element_at(F.col("_w"), i)), " "
        ).alias("clean_text"),
        F.size("_w").cast("long").alias("n_words"),
        (F.size("_w") - F.size(kept)).cast("long").alias("n_removed_words"),
    )


def token_budget_cut(
    docs: DataFrame,
    budget: int,
    strata_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-stratum token-budget curation: greedily admit documents
    (longest-first, id tiebreak) until each stratum's running token
    count crosses ``budget`` — the doc-level allocation step behind
    'N tokens per domain' training mixes. The crossing document is
    kept, so every stratum reaches its budget; a budget of 0 admits
    nothing, a budget above the stratum total admits everything.

    One window pass per stratum: a single exchange on the stratum key,
    running-sum state only. Token counts are whitespace counts
    (integers); cum is an integer running sum with a fully-tiebroken
    ordering, so the cut row is engine-exact — no float anywhere.
    Output: (strata, id, n_words, cum_words) for the admitted docs."""
    t = docs.select(
        strata_col,
        id_col,
        whitespace_token_count(text_col).cast("long").alias("n_words"),
    )
    w = (
        Window.partitionBy(strata_col)
        .orderBy(F.desc("n_words"), id_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = t.withColumn("cum_words", F.sum("n_words").over(w).cast("long"))
    return c.filter(F.col("cum_words") - F.col("n_words") < budget)


def train_bpe_merges(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 50,
    max_words: int = 50_000,
) -> list[tuple[str, str]]:
    """Train byte-pair-encoding merge rules on a corpus (Sennrich et al.
    2016 — the classic subword tokenizer behind GPT-2-family vocabs).

    Spark-first split of the work: the ONLY corpus-scale step is the
    word-frequency aggregation (one explode + map-side-combined groupBy
    — the same shape as x_word_topk), because classic BPE trains on the
    word-frequency DICTIONARY, not the raw text. The merge loop then
    runs driver-side over that bounded summary (``max_words`` caps it;
    the top-K word list carries ~all corpus mass under Zipf), exactly
    the bounded-driver-summary posture of the PQ codebook fit. Fully
    deterministic: ties in pair frequency break lexicographically.

    Returns the ordered merge list [(left, right), ...]; words are
    split to characters plus a '</w>' end-of-word marker, so merges
    can't cross word boundaries."""
    words = F.split(
        F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"[ \t\n\r]+", " "), " "
    )
    wc = (
        docs.select(F.explode(words).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "w")
        .limit(max_words)
        .collect()
    )
    vocab: dict[tuple[str, ...], int] = {
        tuple(list(r["w"]) + ["</w>"]): int(r["n"]) for r in wc
    }
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for sym, freq in vocab.items():
            for i in range(len(sym) - 1):
                p = (sym[i], sym[i + 1])
                pairs[p] = pairs.get(p, 0) + freq
        if not pairs:
            break
        # deterministic tiebreak: highest count, then lexicographically
        # smallest pair
        best_pair = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best_pair)
        merged = best_pair[0] + best_pair[1]
        new_vocab: dict[tuple[str, ...], int] = {}
        for sym, freq in vocab.items():
            out = []
            i = 0
            while i < len(sym):
                if (
                    i < len(sym) - 1
                    and sym[i] == best_pair[0]
                    and sym[i + 1] == best_pair[1]
                ):
                    out.append(merged)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + freq
        vocab = new_vocab
    return merges


def bpe_encode_word(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Apply ordered BPE merges to one word (driver/UDF-side helper)."""
    sym = list(word) + ["</w>"]
    for a, b in merges:
        out = []
        i = 0
        while i < len(sym):
            if i < len(sym) - 1 and sym[i] == a and sym[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(sym[i])
                i += 1
        sym = out
    return sym


def bpe_token_counts(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document BPE token counts under a trained merge list.

    Distributed shape: the corpus is never re-encoded row-by-row in
    Python — the DISTINCT words (bounded vocabulary) are encoded once
    each, the word→n_subtokens map broadcasts back onto the exploded
    corpus, and the per-doc counts are one keyed aggregation. Unseen
    words (beyond the training cap) still encode correctly: the merge
    application is pure and total on any string.

    Output: (id, n_words, n_char_tokens, n_bpe_tokens) where
    n_char_tokens = chars + 1 end marker per word — the pre-merge
    baseline, so n_bpe_tokens ≤ n_char_tokens always, with equality
    only if no merge ever fires."""
    words = F.split(
        F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"[ \t\n\r]+", " "), " "
    )
    ew = (
        docs.select(F.col(id_col), F.explode(words).alias("w"))
        .filter(F.col("w") != "")
    )
    distinct_words = ew.select("w").distinct()

    merges_local = list(merges)

    def encode_batch(batches):
        import pandas as pd

        for pdf in batches:
            toks = [len(bpe_encode_word(w, merges_local)) for w in pdf["w"]]
            yield pd.DataFrame({"w": pdf["w"], "n_sub": toks})

    encoded = distinct_words.mapInPandas(encode_batch, "w string, n_sub int")
    return (
        ew.join(F.broadcast(encoded), "w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum(F.length("w") + 1).cast("long").alias("n_char_tokens"),
            F.sum("n_sub").cast("long").alias("n_bpe_tokens"),
        )
    )


def segment_dedup_audit(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seg_words: int = 8,
) -> DataFrame:
    """Corpus-wide segment-level exact dedup audit (the C4/MassiveText
    line-dedup pass at fixed word-window granularity): split each doc
    into non-overlapping ``seg_words``-word segments, keep each
    segment's globally FIRST occurrence (smallest (id, seg_idx)), and
    return the per-document audit (id, n_segs, n_kept, n_dropped).

    Scale contract: segmenting is map-side (split → explode(sequence)
    → slice); the only corpus shuffle keys on the segment md5 (md5,
    not xxhash64, so a SQL oracle computes the identical key).
    First-occurrence is groupBy(h).agg(min(pos_key)) + a hash join
    back — deliberately NOT a window over h: map-side partial min
    absorbs the boilerplate-segment hot keys a web corpus always has,
    where a window would sort the hottest segment's every occurrence
    in one task. The final per-doc rollup re-shuffles on the id.
    ``pos_key`` is a ``struct(id, seg_idx)`` — struct MIN orders
    lexicographically by field, so it works for ANY orderable id type
    (string urls, longs) with no packing-arithmetic overflow, and
    still partial-aggregates map-side like a scalar min."""
    from .dedup import _ensure_min_parallelism

    words = F.split(F.regexp_replace(F.trim(F.col(text_col)), r"[ \t\n\r]+", " "), " ")
    d = _ensure_min_parallelism(
        df.select(
            id_col,
            words.alias("_w"),
            ((F.size(words) - 1) / seg_words).cast("int").alias("_mx"),
        )
    )
    segs = d.select(
        id_col,
        F.explode(F.sequence(F.lit(0), F.col("_mx"))).alias("seg_idx"),
        "_w",
    ).select(
        id_col,
        "seg_idx",
        F.md5(
            F.concat_ws(
                " ", F.slice("_w", F.col("seg_idx") * seg_words + 1, seg_words)
            ).cast("binary")
        ).alias("h"),
        F.struct(
            F.col(id_col).alias("i"), F.col("seg_idx").alias("s")
        ).alias("pos_key"),
    )
    firsts = segs.groupBy("h").agg(F.min("pos_key").alias("first_key"))
    return (
        segs.join(firsts, "h")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_segs"),
            F.sum(F.when(F.col("pos_key") == F.col("first_key"), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            F.sum(F.when(F.col("pos_key") != F.col("first_key"), 1).otherwise(0))
            .cast("long")
            .alias("n_dropped"),
        )
    )


def source_boilerplate_audit(
    df: DataFrame,
    text_col: str,
    id_col: str,
    source_col: str,
    seg_words: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """WITHIN-SOURCE boilerplate detection — the navigation/footer pass
    web pipelines (CCNet, RefinedWeb) run per domain: a fixed word-
    window segment that recurs across ``min_docs``+ DISTINCT documents
    of the SAME source is boilerplate (site chrome repeats on every
    page of a domain; cross-corpus repetition is a different signal —
    that's segment_dedup_audit). Returns the per-source audit:
    (source, n_segs_distinct, n_boilerplate_segs, n_docs_affected).

    Scale: segmenting is map-side (split → explode → slice, same as
    segment_dedup_audit); (source, h, id) is deduplicated by a
    groupBy whose map-side partial aggregation absorbs within-doc
    repeats, then two cheap rollups on (source, h) and (source). The
    affected-docs count re-joins the boilerplate flag back on
    (source, h) — hash join, no window over the hot segment keys."""
    words = F.split(F.regexp_replace(F.trim(F.col(text_col)), r"[ \t\n\r]+", " "), " ")
    d = df.select(
        F.col(id_col).alias("_id"),
        F.col(source_col).alias("source"),
        words.alias("_w"),
        ((F.size(words) - 1) / seg_words).cast("int").alias("_mx"),
    )
    segs = d.select(
        "_id",
        "source",
        F.explode(F.sequence(F.lit(0), F.col("_mx"))).alias("seg_idx"),
        "_w",
    ).select(
        "_id",
        "source",
        F.md5(
            F.concat_ws(
                " ", F.slice("_w", F.col("seg_idx") * seg_words + 1, seg_words)
            ).cast("binary")
        ).alias("h"),
    )
    # one row per (source, segment, doc) — map-side partial agg absorbs
    # a segment repeating inside one document. Checkpointed: both the
    # per-segment rollup and the affected-docs join read it, and the
    # upstream segmenting scan must not re-derive per reference.
    seg_docs = materialize(
        segs.groupBy("source", "h", "_id")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    per_seg = seg_docs.groupBy("source", "h").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    audit = per_seg.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_segs_distinct"),
        F.sum(F.when(F.col("n_docs") >= min_docs, 1).otherwise(0))
        .cast("long")
        .alias("n_boilerplate_segs"),
    )
    affected = (
        seg_docs.join(
            per_seg.filter(F.col("n_docs") >= min_docs).select("source", "h"),
            ["source", "h"],
        )
        .select("source", "_id")
        .distinct()
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs_affected"))
    )
    return audit.join(affected, "source", "left").select(
        "source",
        "n_segs_distinct",
        "n_boilerplate_segs",
        F.coalesce("n_docs_affected", F.lit(0)).cast("long").alias("n_docs_affected"),
    )


def remove_source_boilerplate(
    df: DataFrame,
    text_col: str,
    id_col: str,
    source_col: str,
    seg_words: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """The CUT half of the within-source boilerplate pass (VERDICT r9
    #4) — :func:`source_boilerplate_audit` detects recurring site
    chrome; this removes it, completing the detect+cut pair the
    duplicated-span family already has (duplicate_spans /
    remove_duplicate_spans). Every non-overlapping ``seg_words``-word
    segment recurring in ``min_docs``+ DISTINCT documents of the SAME
    source is dropped from each document it appears in; survivors
    rejoin into the cleaned text. Tokenization and segment hashing are
    IDENTICAL to the audit (same whitespace class, same md5-of-slice),
    so a segment the audit counts as boilerplate is exactly a segment
    this function cuts.

    Plan shape: the audit's map-side segmenting scan (split → explode
    → slice → md5), one (source, h)-keyed distinct-doc count shrunk by
    the ``min_docs`` filter, a hash join of segment rows against that
    (already-small) boilerplate set, ONE bounded per-doc aggregation
    (boilerplate seg indexes collect_list'd — ≤ words/seg_words per
    doc), and a keyed join back to the corpus. The cut itself maps a
    word position to its segment index (``(i-1) div seg_words``) in a
    JVM higher-order filter — zero Python, O(words × bp_segs_per_doc)
    per row. Nothing here is corpus×corpus; every shuffle keys on
    (source, h) or ``id_col``.

    Output: (id_col, clean_text, n_words, n_removed_words)."""
    words = F.split(F.regexp_replace(F.trim(F.col(text_col)), r"[ \t\n\r]+", " "), " ")
    d = df.select(
        F.col(id_col).alias("_id"),
        F.col(source_col).alias("source"),
        words.alias("_w"),
        ((F.size(words) - 1) / seg_words).cast("int").alias("_mx"),
    )
    segs = materialize(
        d.select(
            "_id",
            "source",
            F.explode(F.sequence(F.lit(0), F.col("_mx"))).alias("seg_idx"),
            "_w",
        )
        .select(
            "_id",
            "source",
            "seg_idx",
            F.md5(
                F.concat_ws(
                    " ", F.slice("_w", F.col("seg_idx") * seg_words + 1, seg_words)
                ).cast("binary")
            ).alias("h"),
        )
        # both the boilerplate-set build and the hit join read this —
        # materialize once, same discipline as the audit's seg_docs
    )
    bp = (
        segs.groupBy("source", "h")
        .agg(F.countDistinct("_id").alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("source", "h")
    )
    per_doc = (
        segs.join(bp, ["source", "h"])
        .groupBy("_id")
        .agg(F.collect_list("seg_idx").alias("_bp"))
    )
    base = df.select(F.col(id_col), words.alias("_w")).join(
        per_doc, F.col(id_col) == per_doc["_id"], "left"
    )
    all_idx = F.sequence(F.lit(1), F.size("_w"))
    filtered = F.filter(
        all_idx,
        lambda i: ~F.exists(
            F.col("_bp"),
            lambda s: s.cast("long") == F.floor((i - 1) / F.lit(seg_words)),
        ),
    )
    kept = F.when(F.col("_bp").isNull(), all_idx).otherwise(filtered)
    return base.select(
        id_col,
        F.array_join(
            F.transform(kept, lambda i: F.element_at(F.col("_w"), i)), " "
        ).alias("clean_text"),
        F.size("_w").cast("long").alias("n_words"),
        (F.size("_w") - F.size(kept)).cast("long").alias("n_removed_words"),
    )
