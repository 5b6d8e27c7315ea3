"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE compact JSON summary line (totals, subset totals, the 10
slowest rows — ≤1.5 KB so the driver's tail capture parses it whole;
BENCH_r09.json overflowed to `parsed: null` when the full 308-row map
was the last line) and writes the FULL per-query map to the committed
`BENCH_local.json`, pinned to the registry by
tests/test_bench_artifact_pin.py so a stale artifact fails the suite.

Each query is fully materialized via the noop sink (whole plan executes,
nothing collects to the driver), timed after a warm-up of the JVM/session.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Representative slice of the registry: scan-agg, join, window-heavy,
# sessionization, text, vector — the shapes that dominate at 100 TB.
HEADLINE = [
    "tpch_q1_pricing_summary",
    "tpch_q6_forecast_revenue",
    "top_orders_by_revenue",
    "tpch_q5_regional_revenue",
    "tpch_q10_returned_items",
    "tpch_q18_large_volume_customer",
    "broadcast_join_segment_sales",
    "w_pct_change_zscore_anomaly",
    "w_rolling_mean_std",
    "t_session_window_30min",
    "t_tumbling_5min",
    "x_text_token_stats",
    "x_cosine_topk",
    "x_exact_dedup_documents",
    "x_ann_ivf_topk",
    "w_rsi_14",
    "ml_feature_block",
    "tpch_q7_volume_shipping",
    "tpch_q13_customer_distribution",
    "tpch_q21_shape_waiting_supplier",
    "x_doc_chunks",
    "x_embedding_neardup_banded",
    "x_ann_ivf_kmeans_topk",
    "x_sequence_packing",
    "x_quality_filter",
    "x_bigram_lm_score",
    "x_curated_corpus",
    # r3 additions
    "x_duplicate_spans",
    "x_bigram_lm_score_pruned",
    "x_corpus_report",
    "x_data_quality_checks",   # batch twin of the streaming quality gate
    # r4 additions: islands-window gap detection (oracle-green since r3
    # but previously unbenched), segment-blocked fuzzy join (complete-
    # recall rework), PageRank (the heaviest iterative op — regressions
    # in its edge-materialization/checkpoint cadence must be visible)
    "w_gap_detection",
    "j_fuzzy_part_names",
    "x_pagerank_suppliers",
    "x_duplicate_spans_removed",
    "x_ann_pq_topk",
    # r4 session-2 additions: mergeable sketch rollups, BM25 retrieval,
    # MERGE upsert, robust rolling anomaly
    "x_sketch_rollup_users",
    "x_bm25_search",
    "x_merge_upsert_latest",
    "w_rolling_mad_anomaly",
    # r4 session-3 additions: cross-join-free interval overlap, join-free
    # CDC diff, market-basket rules
    "j_session_overlap_pairs",
    "x_snapshot_diff_orders",
    "x_association_rules",
    # r5 additions: every op that landed in r4 without a headline timing,
    # so plan regressions there are visible round-over-round. Includes
    # x_triangle_copurchase — the repo's most scale-sensitive plan
    # (O(|E|^1.5) wedge join, DISK_ONLY checkpoint discipline); it is the
    # single heaviest row (~14 s at sf0.1) but a silent regression in the
    # wedge/checkpoint shape would cost far more than the bench seconds.
    "x_triangle_copurchase",
    "x_clustering_coefficient",
    "x_phrase_search",
    "x_hybrid_search_rrf",
    "w_ohlc_6h",
    "w_ohlc_daily_from_bars",
    "x_ngram_novelty",
    "x_token_budget_cut",
    "agg_mode_per_user",
    # r5: PageRank from a src-bucketed edge layout (run 1 builds the
    # table; min-of-3 measures the amortized re-run path, which is the
    # production shape for recurring graph jobs)
    "x_pagerank_bucketed_edges",
    # r5 session 3: BPE merge training + distinct-word re-encode
    "x_bpe_token_stats",
    # r5 session 3: the flagship near-dup query in its bracket-verdict
    # form — exact n-gram-Jaccard side + MinHashLSH recall probe; the
    # heaviest previously-unbenched operator (13 s at sf0.1), so its
    # gram/LSH machinery now has round-over-round regression visibility
    "x_minhash_neardup_pairs",
    # ...and the SimHash flavor: the 64-bit one-pass fingerprint fold +
    # pigeonhole banding join has no other bench row
    "x_simhash_neardup_pairs",
    # r6: the last bracket-verdict ANN row without a headline timing
    "x_ann_lsh_topk",
    # r6 session 2: the round's scale-sensitive newcomers — iterative
    # graph ops (capped-round k-core, synchronous LPA), distributed
    # FP-Growth, the posting-shaped cross-source contamination matrix,
    # and the two heaviest new window detectors (block-rebased EWM
    # volatility, Lindley-form CUSUM)
    "x_kcore_copurchase",
    "x_label_propagation_communities",
    "ml_fpgrowth_itemsets",
    "x_source_contamination_matrix",
    "w_ewm_volatility",
    "w_cusum_drift_alerts",
    # r7: the r6 analytics additions that shipped without headline
    # timings (VERDICT r6 #3) — individually small aggregations, but
    # the set is the round's applied-analytics surface and Kaplan-Meier
    # just had its plan rebuilt (crossJoin -> reverse-cumulative)
    "agg_benford_first_digit",
    "agg_psi_price_drift",
    "agg_ks_price_drift",
    "agg_gini_revenue_concentration",
    "agg_wilson_daily_conversion",
    "agg_rfm_segmentation",
    "w_twap_daily",
    "t_attribution_last_touch",
    "t_markov_transitions",
    "t_kaplan_meier_conversion",
    # r7: the real-codec multimodal legs (container synth + decode in
    # Arrow-batched mapInPandas — the only Python-heavy headline rows,
    # which is exactly why their cost needs round-over-round eyes)
    "x_multimodal_wav_decode",
    "x_multimodal_png_decode",
    # r7 session 2: the round's new scale-sensitive ops — fixed-
    # iteration HITS (2 node-keyed joins/iteration), Adamic-Adar link
    # prediction (the wedge join), PrefixSpan sequence mining, and the
    # corpus-telemetry scan
    "x_hits_suppliers",
    "x_adamic_adar_links",
    "ml_prefixspan_sequences",
    "x_tokenizer_fertility",
    # r7 session 3: the corpus-curation batch — segment dedup and
    # containment are corpus-scan-shaped (the scale-sensitive pair);
    # the rest are cheap but belong to the round's surface
    "x_segment_dedup_corpus",
    "x_shingle_containment_pairs",
    "x_domain_cap_documents",
    "x_epoch_shuffle",
    "x_graph_modularity",
    "agg_welch_ttest",
    # r7 session 3 (applied stats + graph structure): the bootstrap is
    # the only 20x-row-explosion query in the headline; assortativity
    # re-runs the basket edge build
    "agg_bootstrap_ci_revenue",
    "w_seasonal_decompose_daily",
    "x_degree_assortativity",
    "x_quantile_norm_doclen",
    # r7 session 3 (multimodal round trips): decode -> resample ->
    # re-encode -> decode (PNG) and per-frame RMS (WAV) — the two
    # heaviest Python legs after the codecs themselves
    "x_multimodal_png_resize",
    "x_multimodal_audio_frames",
    # r7 session 4 (TA indicators + rank stats + BFS): the indicator
    # trio rides the tick scan / bar fold; MWU exercises the
    # distributed prefix sum; BFS re-runs the basket edge build
    "w_stochastic_oscillator",
    "w_atr_14",
    "w_obv_daily",
    "w_autocorrelation",
    "agg_mann_whitney_u",
    "x_bfs_hops_copurchase",
    "x_zipf_fit_words",
    "agg_spearman_rank_corr",
    "x_centroid_cosine_matrix",
    # r7 session 4: the closed-form recurrence pair — Wilder-alpha ATR
    # through the shared EMA rebase, Holt level/trend/forecast through
    # the eigen-split double rebase (the heaviest window plan new this
    # round)
    "w_atr_wilder",
    "w_holt_forecast",
    # r7 session 4: single-scan exact-integer-moment multiple regression
    "agg_ols_price_model",
    # r7 session 4: robust/tail/distribution diagnostics — Theil-Sen is
    # the only pairwise-fan-out row (span-capped), JSD carries the
    # corpus word shuffle
    "w_theilsen_daily_trend",
    "agg_hill_tail_index",
    "x_js_divergence_sources",
    "x_source_entropy",
    "agg_burstiness_hourly",
    # r7 session 4: WL refinement — the round's last iterative graph op
    "x_wl_refinement_copurchase",
    "w_holt_forecast_eval",
    "w_ljung_box",
    "x_bigram_entropy_rate",
    "agg_seasonal_strength",
    # r7 session 4: CCNet perplexity bucketing (rides the bigram-LM
    # model shuffles — the heaviest new corpus row)
    "x_perplexity_buckets",
    "agg_cramers_v",
    "agg_lorenz_curve",
    "agg_interarrival_stats",
    "agg_source_mixture_entropy",
    "w_pacf",
    # r8: the real-codec video legs (Y4M synth + decode in Arrow-batched
    # mapInPandas — Python-heavy headline rows by the same rationale as
    # the WAV/PNG pair)
    "x_multimodal_video_decode",
    "x_multimodal_video_frames",
    # r8: HITS from the shared src-bucketed edge layout (run 1 builds
    # or reuses the table; min-of-3 measures the amortized re-run path,
    # mirroring x_pagerank_bucketed_edges)
    "x_hits_bucketed_edges",
    # r10: the round's scale-sensitive newcomers — the incremental
    # recommender refresh (delta pair build + touched-only re-window:
    # a regression here silently reverts to corpus-sized recompute),
    # the boilerplate CUT (corpus scan + segment join + per-doc
    # higher-order filter), and the Gram-free PCA (3 iterations of
    # dot-scan + posexplode agg — the heaviest new embedding plan)
    "ml_item_recs_incremental",
    "x_boilerplate_removed",
    "x_pca_power_iteration",
]


def bench_plan():
    """The registry-pinned bench plan (VERDICT r7 #1): every registered
    query is timed every round — HEADLINE rows min-of-3 (the curated
    scale-sensitive set, compared round-over-round), the rest min-of-2
    in a COVERAGE pass computed live as registry − headline, so a newly
    registered query cannot ship without a bench row (the structural
    pin; tests/test_bench_registry_pin.py asserts the partition)."""
    from cse_datapipeline_and_mls_spark.queries import QUERIES

    coverage = sorted(set(QUERIES) - set(HEADLINE))
    return list(HEADLINE), coverage


def _production_legs():
    """Production-path timings for the bracket-verdict rows (VERDICT r5
    #1): those benched queries fold the EXACT brute-force/shingle-join
    oracle side into the query, so their headline seconds are dominated
    by verification overhead — a 2× regression in the banded/compressed
    leg (the one that runs at 100 TB) would be invisible. Each entry
    here builds ONLY the approximate production plan (including index/
    codebook construction — that is part of the production pipeline),
    with no exact side and no verdict join."""
    from pyspark.sql import functions as F

    from cse_datapipeline_and_mls_spark.operators import dedup as D
    from cse_datapipeline_and_mls_spark.operators import similarity as S
    from cse_datapipeline_and_mls_spark.sources import load_table

    def _emb(spark, sf_dir):
        return load_table(spark, sf_dir, "embeddings").withColumn(
            "embedding", F.col("embedding").cast("array<double>")
        )

    def minhash(spark, sf_dir):
        docs = load_table(spark, sf_dir, "documents")
        return D.minhash_neardup_pairs(docs, "text", "doc_id", jaccard_threshold=0.5)

    def simhash(spark, sf_dir):
        docs = load_table(spark, sf_dir, "documents")
        return D.simhash_neardup_pairs(docs, "text", "doc_id", max_hamming=3)

    def lsh(spark, sf_dir):
        emb = _emb(spark, sf_dir)
        queries = emb.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        return S.lsh_topk(emb, queries, k=10)

    def ivf_kmeans(spark, sf_dir):
        emb = _emb(spark, sf_dir)
        codebook = S.fit_codebook(emb, k=32, seed=42, max_iter=5)
        queries = emb.filter(F.col("vec_id") % 100 == 0).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        return S.ivf_topk(emb, queries, codebook, k=5, nprobe=8, assign="numpy")

    def pq(spark, sf_dir):
        emb = _emb(spark, sf_dir)
        books = S.fit_pq_codebooks(emb, m=8, k=32, seed=42)
        queries = emb.filter(F.col("vec_id") % 100 == 0).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        return S.pq_topk(emb, queries, books, k=5, refine=16)

    # ml_item_recs_incremental's benched row folds the full-recompute
    # oracle audit into total_sec (VERDICT r11 plan-audit note); this
    # leg times ONLY the refresh a production job runs per batch
    # (queries/ml_q.py refresh_item_neighbors), with the persisted
    # corpus state built once per sf_dir OUTSIDE the timer (production
    # reads that state, it does not rebuild it). The state's checkpoints
    # are released by ``item_recs_refresh.release()`` once the leg's
    # timed runs end.
    _ir_state: dict = {}
    _ir_pinned: list = []

    def item_recs_refresh(spark, sf_dir):
        from pyspark import StorageLevel

        from cse_datapipeline_and_mls_spark.queries import ml_q

        st = _ir_state.get(sf_dir)
        if st is None:
            li, corpus_o, delta_o = ml_q.split_orders_at_watermark(spark, sf_dir)

            def ck(df):
                df = df.localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
                _ir_pinned.append(df)
                return df

            corpus_o, delta_o = ck(corpus_o), ck(delta_o)
            corpus_pairs = ck(ml_q.pair_counts(li, corpus_o))
            _ir_state[sf_dir] = st = (
                li,
                delta_o,
                corpus_pairs,
                ck(ml_q.top_neighbors(corpus_pairs)),
                ck(ml_q.purchases(li, corpus_o)),
            )
        topnb, pur = ml_q.refresh_item_neighbors(*st)
        # both refresh outputs through one sink
        return topnb.unionByName(
            pur.select(
                F.col("cust").alias("pa"),
                F.col("part").alias("pb"),
                F.lit(0).cast("long").alias("co"),
            )
        )

    def _release_ir_state():
        # a local checkpoint's blocks belong to the RDD under its
        # LogicalRDD plan; DataFrame.unpersist() does not reach them
        for df in _ir_pinned:
            df._jdf.queryExecution().analyzed().rdd().unpersist(True)
        _ir_pinned.clear()
        _ir_state.clear()

    item_recs_refresh.release = _release_ir_state

    # The triangle family's headline rows measure the amortized
    # (memoized) path — the right production posture, but the
    # ~once-per-session bucketed-edge + oriented-wedge setup cost was
    # invisible in the artifact (VERDICT r12 #2). This leg forces a
    # COLD build each timed run (drop table + memo first), so
    # BENCH_local carries the setup cost explicitly.
    def triangle_setup(spark, sf_dir):
        from cse_datapipeline_and_mls_spark.queries.coverage_q import (
            _copurchase_tri_stats,
            _drop_copurchase_artifacts,
        )

        _drop_copurchase_artifacts(spark, sf_dir)
        return _copurchase_tri_stats(spark, sf_dir)

    return {
        "x_minhash_neardup_pairs": minhash,
        "x_simhash_neardup_pairs": simhash,
        "x_ann_lsh_topk": lsh,
        "x_ann_ivf_kmeans_topk": ivf_kmeans,
        "x_ann_pq_topk": pq,
        "ml_item_recs_incremental": item_recs_refresh,
        "x_triangle_setup_cold": triangle_setup,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # --r1-subset: run ONLY the 17 queries BENCH_r01 recorded, in a fresh
    # session, for round-over-round regression isolation (nothing else —
    # no vector-index builds from the newer headline queries — shares the
    # JVM). The driver's per-round run uses no args and is unaffected.
    headline = HEADLINE[:17] if "--r1-subset" in sys.argv[1:] else HEADLINE

    from cse_datapipeline_and_mls_spark.queries import QUERIES
    from cse_datapipeline_and_mls_spark.session import get_spark

    spark = get_spark("bench")

    # Warm up the session (JVM JIT, parquet footer cache) on a cheap query,
    # then first-touch every table so no timed query pays file listing /
    # footer reads. Measured bench-order sensitivity (r10->r11): the SAME
    # ml_kfold_assignment plan timed 9.26 s as an early query in the
    # contended driver run, 1.10 s first and 0.55 s second in a clean
    # session — cold-JIT/footer effects dominate sub-second queries, so
    # cross-round comparisons should use the committed close regen, and
    # only >=2x drifts on MULTI-second queries indicate plan regressions.
    QUERIES["group_histogram_events"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    from cse_datapipeline_and_mls_spark.sources import load_table

    for _t in (
        "lineitem", "orders", "customer", "supplier", "part",
        "nation", "region", "documents", "embeddings",
    ):
        load_table(spark, sf_dir, _t).write.format("noop").mode("overwrite").save()

    # Contention sentinel (VERDICT r12 #5): time one fixed trivial query
    # immediately after warmup AND again at the very end of the run. The
    # plan is identical both times, so a >2x spread between the two
    # numbers marks the RUN as contended (co-tenant load / thermal), and
    # a reader can adjudicate outlier rows (e.g. BENCH_r12's 11.3s
    # ml_kfold_assignment vs three committed 0.4s regens) without a
    # re-run.
    def _sentinel_run() -> float:
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            QUERIES["distinct_segments"](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            best = min(best, time.time() - t0)
        return round(best, 3)

    sentinel_first = _sentinel_run()

    # Three runs per query, report the min: run 1 pays one-time costs
    # (query compilation, codegen, file listing) that a long-lived engine
    # amortizes; the min reflects steady-state throughput and damps
    # co-tenant machine noise.
    timings: dict[str, float] = {}
    for name in headline:
        best = float("inf")
        for _ in range(3):
            t0 = time.time()
            QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t0)
        timings[name] = round(best, 3)

    # Coverage pass (VERDICT r7 #1): every registered query not in the
    # curated headline gets a min-of-2 timing, so the bench artifact
    # covers the registry the way the correctness sweep does — a plan
    # regression in ANY registered query is visible round-over-round,
    # and the set is computed live from the registry so it cannot lag.
    coverage: dict[str, float] = {}
    if "--r1-subset" not in sys.argv[1:]:
        _, coverage_names = bench_plan()
        for name in coverage_names:
            best = float("inf")
            for _ in range(2):
                t0 = time.time()
                QUERIES[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                best = min(best, time.time() - t0)
            coverage[name] = round(best, 3)

    # Production-leg timings for the bracket-verdict rows: same
    # min-of-3 noop-sink protocol, approximate path only (no exact
    # oracle side, no verdict join). Compare these round-over-round for
    # regressions in the legs that actually run at 100 TB; the
    # "queries" rows for the same names measure total_sec (production +
    # verification overhead).
    production: dict[str, float] = {}
    if "--r1-subset" not in sys.argv[1:]:
        for name, fn in _production_legs().items():
            # "_cold" legs force a full rebuild per run (drop + ingest +
            # compute) — one timed run is the honest number and min-of-N
            # would just re-pay the whole build N times
            runs = 1 if name.endswith("_cold") else 3
            best = float("inf")
            for _ in range(runs):
                t0 = time.time()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                best = min(best, time.time() - t0)
            production[name] = round(best, 3)
            # a leg that pins state across its runs releases it here
            getattr(fn, "release", lambda: None)()

    sentinel_last = _sentinel_run()
    sentinel = {
        "query": "distinct_segments",
        "first_sec": sentinel_first,
        "last_sec": sentinel_last,
        # Contention DEGRADES over a run (co-tenant load ramps, thermal
        # throttling); a last-run slower than the first marks it. The
        # other direction — first slower than last — is ordinary JIT/
        # cache warm-up on a quiet box and must NOT trip the flag (the
        # first close regen after adding the sentinel measured
        # 0.457 → 0.135 s on a quiet box).
        "contended": bool(
            sentinel_last > 2.0 * max(sentinel_first, 1e-9)
        ),
    }

    total = round(sum(timings.values()), 3)
    # Round-over-round comparability: BENCH_r01 recorded the first 17
    # queries; report that subset's total alongside the full set so the
    # totals stay apples-to-apples as the headline list grows.
    r1_subset = round(sum(timings[n] for n in HEADLINE[:17] if n in timings), 3)
    r2_subset = round(sum(timings[n] for n in HEADLINE[:27] if n in timings), 3)
    r3_subset = round(sum(timings[n] for n in HEADLINE[:31] if n in timings), 3)
    r4_subset = round(sum(timings[n] for n in HEADLINE[:43] if n in timings), 3)
    r5_subset = round(sum(timings[n] for n in HEADLINE[:56] if n in timings), 3)
    r6_subset = round(sum(timings[n] for n in HEADLINE[:57] if n in timings), 3)
    r7_subset = round(sum(timings[n] for n in HEADLINE[:119] if n in timings), 3)
    r8_subset = round(sum(timings[n] for n in HEADLINE[:121] if n in timings), 3)
    full_payload = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "r1_subset_total_sec": r1_subset,
        "r2_subset_total_sec": r2_subset,
        "r3_subset_total_sec": r3_subset,
        "r4_subset_total_sec": r4_subset,
        "r5_subset_total_sec": r5_subset,
        "r6_subset_total_sec": r6_subset,
        "r7_subset_total_sec": r7_subset,
        "r8_subset_total_sec": r8_subset,
        "production_sec": production,
        "sentinel": sentinel,
        "coverage_queries": coverage,
        "coverage_total_sec": round(sum(coverage.values()), 3),
        "n_registry": len(QUERIES),
        "n_benched": len(timings) + len(coverage),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    # Full per-query map → committed artifact (round-over-round diffs
    # come from here; the driver's captured line is the compact summary
    # below, which must stay well under the driver's tail window).
    if "--r1-subset" not in sys.argv[1:]:
        out_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_local.json"
        )
        with open(out_path, "w") as fh:
            json.dump(full_payload, fh, indent=1, sort_keys=True)
            fh.write("\n")
    line = compact_summary_line(full_payload)
    assert len(line) <= 1536, f"compact bench line too long: {len(line)}"
    print(line)


def compact_summary_line(full_payload: dict) -> str:
    """The ONE line the driver captures: totals, subset totals, the 10
    slowest rows of the whole run. Must stay ≤1.5 KB — the full 308-row
    map overflowed the driver's tail window in r9 (`parsed: null`)."""
    all_rows = dict(full_payload["queries"])
    all_rows.update(full_payload.get("coverage_queries", {}))
    slowest = dict(
        sorted(all_rows.items(), key=lambda kv: kv[1], reverse=True)[:10]
    )
    compact = {
        "metric": full_payload["metric"],
        "value": full_payload["value"],
        "unit": full_payload["unit"],
        # 10 slowest of the full run; full map in BENCH_local.json
        "queries": slowest,
        "coverage_total_sec": full_payload.get("coverage_total_sec", 0.0),
        "production_total_sec": round(
            sum(full_payload.get("production_sec", {}).values()), 3
        ),
        "subset_totals": {
            f"r{i}": full_payload.get(f"r{i}_subset_total_sec")
            for i in range(1, 9)
        },
        "n_registry": full_payload["n_registry"],
        "n_benched": full_payload["n_benched"],
        "sentinel": full_payload.get("sentinel"),
        "full_artifact": "BENCH_local.json",
        "sf": full_payload["sf"],
    }
    return json.dumps(compact)


if __name__ == "__main__":
    main()
