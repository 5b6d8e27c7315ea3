"""Empty-input hardening: every operator family must accept an empty
(0-row) frame and return an empty result with the right schema — the
degenerate case every 100 TB pipeline hits (empty partition, empty
micro-batch, filter that drops everything)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def empty_docs(spark):
    return spark.createDataFrame([], "doc_id long, text string, source string")


def test_text_ops_on_empty_corpus(spark, empty_docs):
    from cse_datapipeline_and_mls_spark.operators import text as X

    assert X.pack_sequences(empty_docs, "text", "doc_id", "source").count() == 0
    spans = X.duplicate_spans(empty_docs, "text", "doc_id", k=8)
    assert spans.count() == 0
    assert spans.columns == ["doc_id", "span_id", "span_start", "span_end", "span_words"]


def test_dedup_and_similarity_on_empty(spark, empty_docs):
    from cse_datapipeline_and_mls_spark.operators import dedup as D
    from cse_datapipeline_and_mls_spark.operators import similarity as S

    assert D.exact_dedup_by_content(empty_docs).count() == 0
    assert D.ngram_jaccard_pairs(empty_docs, "text", "doc_id").count() == 0
    empty_emb = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert S.embedding_neardup_pairs(empty_emb, "vec_id", "embedding").count() == 0
    empty_pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert D.connected_components(empty_pairs).count() == 0


def test_expectations_on_empty_table_pass_with_zero_violations(spark):
    from cse_datapipeline_and_mls_spark.operators.expectations import (
        Check,
        validate_expectations,
    )

    df = spark.createDataFrame([], "pk long, flag string")
    parent = spark.createDataFrame([], "k long")
    out = validate_expectations(
        df,
        [
            Check("flag_not_null", "not_null", col="flag"),
            Check("flag_in_set", "in_set", col="flag", values=("A",)),
            Check("pk_unique", "unique", cols=("pk",)),
            Check("pk_in_parent", "subset", col="pk"),
        ],
        parents={"pk_in_parent": (parent, "k")},
    ).collect()
    assert len(out) == 4
    assert all(r["n_violations"] == 0 and r["passed"] for r in out)


def test_graph_and_windows_on_empty(spark):
    from cse_datapipeline_and_mls_spark.operators.graph import pagerank
    from cse_datapipeline_and_mls_spark.operators import relational as R

    empty_edges = spark.createDataFrame([], "src long, dst long")
    assert pagerank(empty_edges).count() == 0
    empty = spark.createDataFrame([], "k string, v double")
    assert R.group_count(empty, ["k"]).count() == 0
    a = empty.select(F.col("k").alias("name_a"))
    b = empty.select(F.col("k").alias("name_b"))
    assert R.fuzzy_join_blocked(a, b, "name_a", "name_b").count() == 0


def test_round4_operators_on_empty(spark, empty_docs):
    """Round-4 additions accept 0-row frames: span removal, incremental
    dedup (both sides), PQ encode/search, robust outlier stats, prefix
    fuzzy mode."""
    from cse_datapipeline_and_mls_spark.operators import relational as R
    from cse_datapipeline_and_mls_spark.operators import similarity as S
    from cse_datapipeline_and_mls_spark.operators import text as X
    from cse_datapipeline_and_mls_spark.operators.dedup import exact_dedup_incremental

    removed = X.remove_duplicate_spans(empty_docs, "text", "doc_id")
    assert removed.count() == 0
    assert removed.columns == ["doc_id", "clean_text", "n_words", "n_removed_words"]

    some = spark.createDataFrame([(1, "a b c", "s")], "doc_id long, text string, source string")
    assert exact_dedup_incremental(empty_docs, some).count() == 0
    assert exact_dedup_incremental(some, empty_docs).count() == 1

    books = [[[0.0, 0.0], [1.0, 1.0]]] * 2  # 2 subspaces, dim 4
    empty_emb = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert S.pq_encode(empty_emb, books).count() == 0
    queries = spark.createDataFrame([(0, [1.0, 0.0, 1.0, 0.0])], "query_id long, embedding array<double>")
    assert S.pq_topk(empty_emb, queries, books, k=3).count() == 0

    empty_kv = spark.createDataFrame([], "k string, v double")
    assert R.robust_outlier_stats(empty_kv, "v", ["k"]).count() == 0

    a = empty_kv.select(F.col("k").alias("name_a"))
    b = empty_kv.select(F.col("k").alias("name_b"))
    assert R.fuzzy_join_blocked(a, b, "name_a", "name_b", method="prefix").count() == 0


def test_search_ops_on_empty_corpus(spark, empty_docs):
    from cse_datapipeline_and_mls_spark.operators.search import (
        bm25_topk,
        build_inverted_index,
        rrf_fuse,
    )

    postings, stats = build_inverted_index(empty_docs)
    assert postings.count() == 0 and stats.count() == 0
    assert bm25_topk(postings, stats, ["x"], k=5).count() == 0
    empty_rank = spark.createDataFrame([], "doc_id long, rank int")
    assert rrf_fuse([empty_rank]).count() == 0


def test_sketch_rollup_on_empty(spark):
    from cse_datapipeline_and_mls_spark.operators import sketches as SK

    empty = spark.createDataFrame([], "g int, uid long, val double")
    roll = SK.sketch_rollup(empty, ["g"], "uid", "val")
    assert roll.count() == 0
    assert SK.merge_sketch_rollup(roll, ["g"], quantiles=(0.5,)).count() == 0
    # merging an empty delta into a non-empty rollup keeps the rollup
    full = SK.sketch_rollup(
        spark.createDataFrame([(1, 10, 1.0)], "g int, uid long, val double"),
        ["g"], "uid", "val",
    )
    merged = SK.merge_rollup_tables(full, roll, ["g"])
    m = SK.merge_sketch_rollup(merged, ["g"]).collect()
    assert len(m) == 1 and m[0]["n_distinct_est"] == 1 and m[0]["n_rows"] == 1
    # empty input -> empty (0-row) typed result, per engine convention
    ov = SK.distinct_overlap(empty, "g", "uid")
    assert ov.count() == 0
    assert ov.columns == ["n_union_est", "n_intersection_est", "n_partitions"]


def test_merge_upsert_empty_sides(spark):
    from cse_datapipeline_and_mls_spark.operators.relational import merge_upsert

    target = spark.createDataFrame([(1, 1.0)], "id long, bal double")
    empty = spark.createDataFrame([], "id long, bal double")
    kept = merge_upsert(target, empty, ["id"]).collect()
    assert [(r["id"], r["bal"]) for r in kept] == [(1, 1.0)]
    inserted = merge_upsert(empty, target, ["id"], with_action=True).collect()
    assert [(r["id"], r["merge_action"]) for r in inserted] == [(1, "inserted")]
    assert merge_upsert(empty, empty, ["id"]).count() == 0


def test_dense_ids_on_empty(spark):
    from cse_datapipeline_and_mls_spark.operators.relational import assign_dense_ids

    empty = spark.createDataFrame([], "k long")
    assert assign_dense_ids(empty, ["k"]).count() == 0


def test_triangle_counts_on_empty_and_triangle_free_graphs(spark):
    from cse_datapipeline_and_mls_spark.operators.graph import triangle_counts

    empty = spark.createDataFrame([], "src long, dst long")
    out = triangle_counts(empty)
    assert out.columns == ["node", "triangles"]
    assert out.count() == 0
    # non-empty but triangle-free: still empty result, same schema
    chain = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    assert triangle_counts(chain).count() == 0


def test_interval_overlap_join_on_empty_sides(spark):
    from cse_datapipeline_and_mls_spark.operators.relational import (
        interval_overlap_join,
    )

    schema_a = "lid long, a_t0 timestamp, a_t1 timestamp"
    schema_b = "rid long, b_t0 timestamp, b_t1 timestamp"
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    full = spark.createDataFrame([(1, base, base)], schema_a)
    empty_b = spark.createDataFrame([], schema_b)
    out = interval_overlap_join(full, empty_b, "a_t0", "a_t1", "b_t0", "b_t1")
    assert out.count() == 0
    assert set(out.columns) == {"lid", "a_t0", "a_t1", "rid", "b_t0", "b_t1"}
    empty_a = spark.createDataFrame([], schema_a)
    assert interval_overlap_join(
        empty_a, empty_b, "a_t0", "a_t1", "b_t0", "b_t1"
    ).count() == 0


def test_snapshot_diff_on_empty_sides(spark):
    from cse_datapipeline_and_mls_spark.operators.relational import snapshot_diff

    schema = "k long, v string"
    empty = spark.createDataFrame([], schema)
    full = spark.createDataFrame([(1, "a")], schema)
    # empty -> full: everything is an insert
    assert [
        r["change_type"] for r in snapshot_diff(empty, full, ["k"]).collect()
    ] == ["insert"]
    # full -> empty: everything is a delete
    assert [
        r["change_type"] for r in snapshot_diff(full, empty, ["k"]).collect()
    ] == ["delete"]
    # empty -> empty: empty changeset with the right schema
    out = snapshot_diff(empty, empty, ["k"])
    assert out.columns == ["k", "change_type"]
    assert out.count() == 0


def test_phrase_search_edges(spark, empty_docs):
    from cse_datapipeline_and_mls_spark.operators.search import phrase_search

    docs = spark.createDataFrame(
        [(1, "spark spark spark"), (2, "no match here"), (3, "")],
        "doc_id long, text string",
    )
    # single-word phrase: plain term count, no positional join needed
    got = {r["doc_id"]: r["n_hits"] for r in phrase_search(docs, "spark").collect()}
    assert got == {1: 3}
    # empty / whitespace-only phrase is a caller error, not a full scan
    with pytest.raises(ValueError):
        phrase_search(docs, "   ")
    # empty corpus → empty result, schema intact
    out = phrase_search(empty_docs, "value table part")
    assert out.columns == ["doc_id", "n_hits"]
    assert out.count() == 0


def test_token_budget_cut_edges(spark, empty_docs):
    from cse_datapipeline_and_mls_spark.operators.text import token_budget_cut

    docs = spark.createDataFrame(
        [
            ("a", 1, "one two three"),       # 3 words
            ("a", 2, "one two"),             # 2 words
            ("a", 3, "one"),                 # 1 word
        ],
        "source string, doc_id long, text string",
    )
    # zero budget admits nothing (cum - n < 0 is never true)
    assert token_budget_cut(docs, budget=0).count() == 0
    # budget above the stratum total admits everything
    assert token_budget_cut(docs, budget=100).count() == 3
    # budget binds mid-stratum: longest-first, the crossing doc is kept
    got = sorted(
        r["doc_id"] for r in token_budget_cut(docs, budget=4).collect()
    )
    assert got == [1, 2]  # 3 words, then doc 2 crosses the budget of 4
    assert token_budget_cut(empty_docs, budget=600).count() == 0


def test_mode_per_group_all_null_and_ties(spark):
    from cse_datapipeline_and_mls_spark.operators.relational import mode_per_group

    df = spark.createDataFrame(
        [
            (1, "click"), (1, "click"), (1, "buy"),
            (2, None), (2, None),                    # all-null group
            (3, "buy"), (3, "click"),                # tie → value asc wins
            (4, None), (4, "view"),                  # null ties 1-1 with a value
        ],
        "user_id long, event_type string",
    )
    got = {
        r["user_id"]: (r["mode"], r["n"])
        for r in mode_per_group(df, ["user_id"], "event_type").collect()
    }
    assert got[1] == ("click", 2)
    assert got[2] == (None, 2)         # all-null group keeps its null mode
    assert got[3] == ("buy", 1)        # tiebreak: value ascending
    assert got[4] == ("view", 1)       # NULLS LAST: the value beats the null
    empty = spark.createDataFrame([], "user_id long, event_type string")
    assert mode_per_group(empty, ["user_id"], "event_type").count() == 0


def test_ohlc_bars_empty_and_bucket_boundary(spark):
    from datetime import datetime

    from cse_datapipeline_and_mls_spark.operators.tswindow import (
        merge_ohlc_bars,
        ohlc_bars,
    )

    empty = spark.createDataFrame(
        [], "user_id long, ts timestamp, value double, event_id long"
    )
    out = ohlc_bars(empty, bucket_seconds=3600)
    assert out.columns == [
        "user_id", "bucket", "open", "high", "low", "close", "n_trades",
    ]
    assert out.count() == 0
    assert merge_ohlc_bars(out, coarse_seconds=86400).count() == 0

    # a tick exactly on the bucket boundary belongs to the LATER bucket
    # (floor(epoch/3600) — half-open [start, end) buckets)
    rows = [
        (1, datetime(2024, 1, 1, 0, 59, 59), 10.0, 1),
        (1, datetime(2024, 1, 1, 1, 0, 0), 20.0, 2),   # boundary tick
        (1, datetime(2024, 1, 1, 1, 30, 0), 5.0, 3),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, value double, event_id long"
    )
    bars = {r["bucket"].hour: r for r in ohlc_bars(df, bucket_seconds=3600).collect()}
    assert bars[0]["n_trades"] == 1 and bars[0]["open"] == bars[0]["close"] == 10.0
    assert bars[1]["n_trades"] == 2
    assert bars[1]["open"] == 20.0 and bars[1]["close"] == 5.0
    assert bars[1]["high"] == 20.0 and bars[1]["low"] == 5.0
    # rollup of the two hourly bars matches the direct daily bar
    daily = merge_ohlc_bars(
        ohlc_bars(df, bucket_seconds=3600), coarse_seconds=86400
    ).collect()
    direct = ohlc_bars(df, bucket_seconds=86400).withColumnRenamed(
        "bucket", "day"
    ).collect()
    assert sorted(map(tuple, daily)) == sorted(map(tuple, direct))


def test_k_core_empty_edges(spark):
    from cse_datapipeline_and_mls_spark.operators.graph import k_core

    e = spark.createDataFrame([], "src long, dst long")
    out = k_core(e, k=2, max_rounds=5)
    assert out.columns == ["node", "core_degree", "converged"]
    assert out.count() == 0


def test_label_propagation_empty_edges(spark):
    from cse_datapipeline_and_mls_spark.operators.graph import label_propagation

    e = spark.createDataFrame([], "src long, dst long")
    out = label_propagation(e, rounds=3)
    assert out.columns == ["node", "community"]
    assert out.count() == 0


def test_with_cusum_empty_series(spark):
    from pyspark.sql import Window, functions as F

    from cse_datapipeline_and_mls_spark.operators.tswindow import with_cusum

    df = spark.createDataFrame([], "k long, i long, x double")
    w = Window.partitionBy("k").orderBy("i")
    out = with_cusum(df, "x", w, target=F.lit(0.0), slack=F.lit(0.0))
    assert "cusum" in out.columns and out.count() == 0


def test_r8_graph_ops_on_empty_edges(spark):
    from cse_datapipeline_and_mls_spark.operators.graph import (
        degree_distribution,
        hits,
        jaccard_links,
    )

    empty_edges = spark.createDataFrame([], "src long, dst long")
    assert jaccard_links(empty_edges).count() == 0
    dd = degree_distribution(empty_edges)
    assert dd.count() == 0 and dd.columns == ["degree", "n_nodes"]
    h = hits(empty_edges, iters=2)
    assert h.count() == 0 and h.columns == ["node", "authority", "hub"]
    # the persisted (pre_partitioned) path must release its caches on
    # the empty path too
    assert hits(empty_edges, iters=2, pre_partitioned=True).count() == 0


def test_r8_multimodal_ops_on_empty_corpus(spark, empty_docs):
    from cse_datapipeline_and_mls_spark.operators import multimodal as MM

    media = MM.synth_y4m_from_documents(empty_docs.select("doc_id", "text"))
    assert media.count() == 0
    assert MM.extract_video_stats(media).count() == 0
    assert MM.video_frame_means(media).count() == 0


def test_r8_text_and_spine_ops_on_empty(spark, empty_docs):
    from cse_datapipeline_and_mls_spark.operators.text import (
        source_boilerplate_audit,
    )
    from cse_datapipeline_and_mls_spark.operators.tswindow import (
        spine_cumsum,
        spine_window,
    )

    audit = source_boilerplate_audit(empty_docs, "text", "doc_id", "source")
    assert audit.count() == 0
    assert audit.columns == [
        "source", "n_segs_distinct", "n_boilerplate_segs", "n_docs_affected",
    ]
    empty_kv = spark.createDataFrame([], "k long, v long").localCheckpoint(eager=True)
    assert spine_cumsum(empty_kv, ["k"], ["v"]).count() == 0
    g, w = spine_window(empty_kv, ["k"], max_rows=10, label="empty")
    assert g.select("k", F.sum("v").over(w.rowsBetween(-1, 0)).alias("s")).count() == 0


def test_katz_on_empty_edges(spark):
    from cse_datapipeline_and_mls_spark.operators.graph import katz_centrality

    empty = spark.createDataFrame([], "src long, dst long")
    out = katz_centrality(empty, iters=4)
    assert out.count() == 0
    assert set(out.columns) == {"node", "w1", "w2", "w3", "w4", "katz"}
