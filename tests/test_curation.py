"""Unit tests for the corpus-curation layer (queries/curation_q.py,
operators/dedup.ngram_containment_self_pairs, operators/graph.modularity)
against hand-computed fixtures."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestContainmentSelfPairs:
    def test_full_containment_scores_one(self, spark):
        from cse_datapipeline_and_mls_spark.operators.dedup import (
            ngram_containment_self_pairs,
        )

        short = "alpha beta gamma delta epsilon"  # 3 distinct 3-grams
        long = short + " zeta eta theta iota kappa lam mu nu xi omicron"
        df = _docs(spark, [(1, short), (2, long)])
        out = ngram_containment_self_pairs(df, threshold=0.6).collect()
        assert len(out) == 1
        r = out[0]
        assert (r.id_a, r.id_b) == (1, 2)
        assert r.cont_a_in_b == pytest.approx(1.0)  # short fully inside long
        assert r.cont_b_in_a < 0.3  # asymmetry: long barely inside short

    def test_jaccard_misses_what_containment_catches(self, spark):
        from cse_datapipeline_and_mls_spark.operators.dedup import (
            ngram_containment_self_pairs,
            ngram_jaccard_pairs,
        )

        short = "one two three four five"
        long = short + " " + " ".join(f"w{i}" for i in range(40))
        df = _docs(spark, [(1, short), (2, long)])
        assert ngram_jaccard_pairs(df, threshold=0.5).count() == 0
        assert ngram_containment_self_pairs(df, threshold=0.9).count() == 1

    def test_disjoint_docs_no_pairs(self, spark):
        from cse_datapipeline_and_mls_spark.operators.dedup import (
            ngram_containment_self_pairs,
        )

        df = _docs(spark, [(1, "a b c d e"), (2, "v w x y z")])
        assert ngram_containment_self_pairs(df, threshold=0.1).count() == 0


class TestModularity:
    def test_two_disjoint_triangles(self, spark):
        # Perfect 2-community split of two disjoint triangles:
        # m=6, intra=6, d_c=6 per community -> Q = 1 - 72/(4*36) = 0.5
        from cse_datapipeline_and_mls_spark.operators.graph import modularity

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6)], "src long, dst long"
        )
        labels = spark.createDataFrame(
            [(1, 10), (2, 10), (3, 10), (4, 20), (5, 20), (6, 20)],
            "node long, community long",
        )
        r = modularity(edges, labels).collect()[0]
        assert r.n_edges == 6
        assert r.n_communities == 2
        assert r.modularity == pytest.approx(0.5)

    def test_single_community_is_zero(self, spark):
        # Everything in one community: e_in/m = 1 and (2m)^2/(4m^2) = 1 -> Q = 0
        from cse_datapipeline_and_mls_spark.operators.graph import modularity

        edges = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], "src long, dst long")
        labels = spark.createDataFrame(
            [(1, 1), (2, 1), (3, 1)], "node long, community long"
        )
        r = modularity(edges, labels).collect()[0]
        assert r.modularity == pytest.approx(0.0)

    def test_anti_community_negative(self, spark):
        # Label each edge's endpoints apart on a 4-cycle: zero intra edges
        from cse_datapipeline_and_mls_spark.operators.graph import modularity

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (1, 4)], "src long, dst long"
        )
        labels = spark.createDataFrame(
            [(1, 1), (3, 1), (2, 2), (4, 2)], "node long, community long"
        )
        r = modularity(edges, labels).collect()[0]
        # e_in=0, d_c=4 per community -> Q = 0 - 32/(4*16) = -0.5
        assert r.modularity == pytest.approx(-0.5)


class TestCurationQueries:
    def test_segment_dedup_drops_repeat(self, spark, sf_dir, monkeypatch):
        # Two docs sharing an identical 8-word segment: the later doc
        # drops it, the earlier keeps it; unique segments all survive.
        import cse_datapipeline_and_mls_spark.queries.curation_q as cq

        seg = "s1 s2 s3 s4 s5 s6 s7 s8"
        other = "t1 t2 t3 t4 t5 t6 t7 t8"
        df = _docs(spark, [(1, seg + " " + other), (2, seg)])
        monkeypatch.setattr(cq, "load_table", lambda s, d, n: df)
        rows = {r.doc_id: r for r in cq.x_segment_dedup_corpus(spark, sf_dir).collect()}
        assert rows[1].n_segs == 2 and rows[1].n_kept == 2 and rows[1].n_dropped == 0
        assert rows[2].n_segs == 1 and rows[2].n_kept == 0 and rows[2].n_dropped == 1

    def test_segment_dedup_string_ids(self, spark):
        # The struct-min pos key works for non-numeric doc ids (ADVICE
        # r7: the old id*1e6 packing yielded NULL for strings): first
        # occurrence is the lexicographically smallest (id, seg_idx).
        from cse_datapipeline_and_mls_spark.operators.text import segment_dedup_audit

        seg = "s1 s2 s3 s4 s5 s6 s7 s8"
        df = spark.createDataFrame(
            [("url/a", seg), ("url/b", seg)], "doc string, text string"
        )
        rows = {r.doc: r for r in segment_dedup_audit(df, "text", "doc").collect()}
        assert rows["url/a"].n_kept == 1 and rows["url/a"].n_dropped == 0
        assert rows["url/b"].n_kept == 0 and rows["url/b"].n_dropped == 1

    def test_domain_cap_caps_at_20(self, spark, sf_dir):
        from cse_datapipeline_and_mls_spark.queries import QUERIES

        rows = QUERIES["x_domain_cap_documents"](spark, sf_dir).collect()
        assert rows, "expected at least one source"
        for r in rows:
            assert r.n_kept <= 20
            assert r.n_kept + r.n_dropped == r.n_docs
            if r.n_docs <= 20:
                assert r.n_dropped == 0

    def test_epoch_shuffle_deterministic_and_seed_sensitive(self, spark, sf_dir):
        from cse_datapipeline_and_mls_spark.queries.curation_q import x_epoch_shuffle

        a = [r.doc_id for r in x_epoch_shuffle(spark, sf_dir).collect()]
        b = [r.doc_id for r in x_epoch_shuffle(spark, sf_dir).collect()]
        assert a == b, "same seed must give the identical epoch order"
        assert len(a) == len(set(a)) == min(100, len(a))
        # the order is shuffled, not sorted by id
        assert a != sorted(a)

    def test_welch_ttest_equal_groups_t_zero(self, spark):
        from cse_datapipeline_and_mls_spark.operators.numeric import q6

        # identical distributions -> t == 0, df == 2(n-1)
        df = spark.createDataFrame(
            [("R", 10.0), ("R", 20.0), ("R", 30.0), ("N", 10.0), ("N", 20.0), ("N", 30.0)],
            "l_returnflag string, l_extendedprice double",
        )
        is_r = F.col("l_returnflag") == "R"
        s = df.agg(
            F.sum(F.when(is_r, 1).otherwise(0)).alias("n_r"),
            F.sum(F.when(~is_r, 1).otherwise(0)).alias("n_o"),
            F.avg(F.when(is_r, F.col("l_extendedprice"))).alias("mean_r"),
            F.avg(F.when(~is_r, F.col("l_extendedprice"))).alias("mean_o"),
            F.var_samp(F.when(is_r, F.col("l_extendedprice"))).alias("v_r"),
            F.var_samp(F.when(~is_r, F.col("l_extendedprice"))).alias("v_o"),
        ).collect()[0]
        se2 = s.v_r / s.n_r + s.v_o / s.n_o
        t = (s.mean_r - s.mean_o) / se2**0.5
        dfw = se2 * se2 / (
            (s.v_r / s.n_r) ** 2 / (s.n_r - 1) + (s.v_o / s.n_o) ** 2 / (s.n_o - 1)
        )
        assert t == pytest.approx(0.0)
        assert dfw == pytest.approx(4.0)  # equal variances, n=3 each -> 2(n-1)


class TestDegreeAssortativity:
    def test_star_graph_is_minus_one(self, spark):
        from cse_datapipeline_and_mls_spark.operators.graph import degree_assortativity

        edges = spark.createDataFrame([(1, 2), (1, 3), (1, 4)], "src long, dst long")
        r = degree_assortativity(edges).collect()[0]
        assert r.n_edges == 3
        assert r.assortativity == pytest.approx(-1.0)

    def test_regular_graph_is_null(self, spark):
        # 4-cycle: every degree 2 -> zero variance -> NULL, not a crash
        from cse_datapipeline_and_mls_spark.operators.graph import degree_assortativity

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (1, 4)], "src long, dst long"
        )
        r = degree_assortativity(edges).collect()[0]
        assert r.n_edges == 4
        assert r.assortativity is None


class TestAppliedStats:
    def test_bootstrap_ci_envelope(self, spark, sf_dir):
        from cse_datapipeline_and_mls_spark.queries.analytics_q import (
            agg_bootstrap_ci_revenue,
        )

        r = agg_bootstrap_ci_revenue(spark, sf_dir).collect()[0]
        assert r.n_reps == 20
        assert r.ci_lo <= r.boot_mean <= r.ci_hi
        # the resample envelope should bracket the true mean tightly
        from cse_datapipeline_and_mls_spark.sources import load_table

        true_mean = load_table(spark, sf_dir, "orders").agg(
            F.avg("o_totalprice")
        ).collect()[0][0]
        assert r.ci_lo <= true_mean <= r.ci_hi
        spread = (r.ci_hi - r.ci_lo) / true_mean
        assert spread < 0.2, f"envelope implausibly wide: {spread}"

    def test_seasonal_decompose_identity_and_edges(self, spark, sf_dir):
        from cse_datapipeline_and_mls_spark.queries.analytics_q import (
            w_seasonal_decompose_daily,
        )

        rows = w_seasonal_decompose_daily(spark, sf_dir).collect()
        assert len(rows) > 30
        nulls = [r for r in rows if r.trend is None]
        assert len(nulls) == 6, "exactly the 3 edge days each side lack a full MA window"
        for r in rows:
            if r.trend is not None:
                assert r.remainder == pytest.approx(
                    r.revenue - r.trend - r.seasonal, abs=2e-6
                )
            assert 0 <= r.dow <= 6

    def test_quantile_norm_monotone(self, spark, sf_dir):
        from cse_datapipeline_and_mls_spark.queries.curation_q import (
            x_quantile_norm_doclen,
        )

        rows = x_quantile_norm_doclen(spark, sf_dir).collect()
        assert rows
        by_src: dict = {}
        for r in rows:
            assert 1 <= r.src_centile <= 100
            by_src.setdefault(r.source, []).append((r.src_centile, r.norm_chars))
        for pairs in by_src.values():
            pairs.sort()
            norms = [n for _, n in pairs]
            assert norms == sorted(norms), "normalized length must be monotone in centile"
