"""MLlib pipeline tests (SURVEY §5.2 item 5): fit/transform round-trip,
metrics vs known values, save/load."""

from __future__ import annotations

import math

import pytest

from pyspark.sql import functions as F

from cse_datapipeline_and_mls_spark import ml as M
from cse_datapipeline_and_mls_spark.operators import tswindow as TS
from cse_datapipeline_and_mls_spark.sources import load_table


@pytest.fixture(scope="module")
def features(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return M.build_price_features(ev, "user_id", ["ts", "event_id"], "value").cache()


def test_feature_build_shapes(features):
    cols = set(features.columns)
    assert {"value_lag_1", "value_lag_3", "value_lag_7", "ma5", "ma10", "vol14",
            "rsi", "macd", "momentum_3", "pct_change"} <= cols
    assert features.count() == 1000


def test_time_split_is_disjoint_and_ordered(features):
    train, test = M.time_split(features, "ts", test_days=7)
    n_train, n_test = train.count(), test.count()
    assert n_train > 0 and n_test > 0 and n_train + n_test == 1000
    max_train = train.agg(F.max("ts")).collect()[0][0]
    min_test = test.agg(F.min("ts")).collect()[0][0]
    assert max_train < min_test


def test_classifier_fit_metrics_and_roundtrip(spark, features, tmp_path):
    w = TS.series_window("user_id", ["ts", "event_id"])
    labeled = M.add_binary_label_and_weights(features, "value", w).na.drop(
        subset=["value_lag_1", "ma5"]
    )
    train, test = M.time_split(labeled, "ts", test_days=7)
    pipe = M.classifier_pipeline(M.DEFAULT_FEATURES, max_iter=3, max_depth=3)
    model = pipe.fit(train)
    metrics = M.binary_metrics(model.transform(test))
    assert 0.0 <= metrics["auc"] <= 1.0
    assert metrics["tp"] + metrics["tn"] + metrics["fp"] + metrics["fn"] == test.count()
    # M13-style persistence round trip
    path = str(tmp_path / "clf")
    model.write().overwrite().save(path)
    from pyspark.ml import PipelineModel

    reloaded = PipelineModel.load(path)
    a = model.transform(test).select("prediction").collect()
    b = reloaded.transform(test).select("prediction").collect()
    assert a == b


def test_rolling_origin_search_picks_and_refits(spark, features):
    w = TS.series_window("user_id", ["ts", "event_id"])
    labeled = TS.with_lead(features, "pct_change", "target", w).filter(
        F.col("target").isNotNull()
    ).na.drop(subset=M.DEFAULT_FEATURES)

    def build(max_depth):
        return M.regression_pipeline(M.DEFAULT_FEATURES, max_iter=2, max_depth=max_depth)

    grid = [{"max_depth": 2}, {"max_depth": 3}]
    best, model, log = M.rolling_origin_search(
        labeled, build, grid, ts_col="ts", n_folds=2
    )
    assert best in grid and len(log) == 2
    for rec in log:
        # every candidate evaluated on time-ordered folds, never the future
        assert len(rec["folds"]) >= 1 and rec["avg"] > 0
    assert model.transform(labeled.limit(10)).select("prediction").count() == 10


def test_regressor_fit_and_directional_accuracy(spark, features):
    w = TS.series_window("user_id", ["ts", "event_id"])
    labeled = TS.with_lead(features, "pct_change", "target", w).filter(
        F.col("target").isNotNull()
    ).na.drop(subset=M.DEFAULT_FEATURES)
    train, test = M.time_split(labeled, "ts", test_days=7)
    pipe = M.regression_pipeline(M.DEFAULT_FEATURES, max_iter=3, max_depth=3)
    model = pipe.fit(train)
    preds = model.transform(test)
    metrics = M.regression_metrics(preds)
    assert metrics["rmse"] > 0 and not math.isnan(metrics["r2"])
    da = M.directional_accuracy(preds)
    assert 0.0 <= da <= 1.0
    scored = M.score_with_price_reconstruction(model, test.limit(50), price="value")
    assert "predicted_price" in scored.columns
    assert scored.count() == 50


def test_feature_importances_sorted_and_normalized(spark, features):
    w = TS.series_window("user_id", ["ts", "event_id"])
    labeled = M.add_binary_label_and_weights(features, "value", w).na.drop(
        subset=M.DEFAULT_FEATURES
    )
    model = M.classifier_pipeline(M.DEFAULT_FEATURES, max_iter=3, max_depth=3).fit(labeled)
    ranked = M.feature_importances(model, M.DEFAULT_FEATURES)
    assert len(ranked) == len(M.DEFAULT_FEATURES)
    assert {name for name, _ in ranked} == set(M.DEFAULT_FEATURES)
    vals = [v for _, v in ranked]
    assert vals == sorted(vals, reverse=True)
    assert abs(sum(vals) - 1.0) < 1e-6  # tree-ensemble importances normalize to 1
    assert vals[0] > 0


def test_sample_param_grid_deterministic_and_within_space(spark):
    space = {"max_depth": [2, 3, 5], "step_size": [0.05, 0.1], "max_iter": [2, 4]}
    g1 = M.sample_param_grid(space, n_candidates=5, seed=7)
    g2 = M.sample_param_grid(space, n_candidates=5, seed=7)
    assert g1 == g2 and len(g1) == 5
    assert len({tuple(sorted(d.items())) for d in g1}) == 5  # without replacement
    for d in g1:
        assert d["max_depth"] in space["max_depth"]
        assert d["step_size"] in space["step_size"]
        assert d["max_iter"] in space["max_iter"]
    # full grid when n_candidates exceeds the space
    assert len(M.sample_param_grid(space, n_candidates=99)) == 12


def test_randomized_rolling_origin_search_end_to_end(spark, features):
    """Reference parity: RandomizedSearchCV(n_iter) → sampled grid fed to
    time-ordered rolling-origin folds (no future leakage)."""
    w = TS.series_window("user_id", ["ts", "event_id"])
    labeled = TS.with_lead(features, "pct_change", "target", w).filter(
        F.col("target").isNotNull()
    ).na.drop(subset=M.DEFAULT_FEATURES)

    def build(max_depth, step_size):
        return M.regression_pipeline(
            M.DEFAULT_FEATURES, max_iter=2, max_depth=max_depth, step_size=step_size
        )

    grid = M.sample_param_grid({"max_depth": [2, 3], "step_size": [0.1, 0.2]}, 3, seed=1)
    best, model, log = M.rolling_origin_search(labeled, build, grid, ts_col="ts", n_folds=2)
    assert best in grid and len(log) == 3
    assert model.transform(labeled.limit(5)).select("prediction").count() == 5


def test_quality_classifier_recovers_rules(spark, sf_dir):
    """The learned quality filter must separate the rule-based keep/drop
    decision nearly perfectly — the rules are thresholds on the same
    features the model sees."""
    from cse_datapipeline_and_mls_spark.queries import QUERIES

    row = QUERIES["ml_quality_classifier"](spark, sf_dir).collect()[0]
    assert row["n_train"] > 0 and row["n_test"] > 0
    assert row["auc_ge_090"], "learned filter failed the AUC >= 0.9 bound"


def test_pca_variance_and_projection(spark, sf_dir):
    from cse_datapipeline_and_mls_spark.ml.pipelines import (
        fit_pca,
        pca_explained_variance,
        pca_project,
    )
    from cse_datapipeline_and_mls_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    model = fit_pca(emb, "embedding", k=8)
    ev = pca_explained_variance(model)
    assert len(ev) == 8
    assert all(a >= b for a, b in zip(ev, ev[1:])), "variance not descending"
    assert 0 < sum(ev) <= 1.0 + 1e-9
    out = pca_project(model, emb, "embedding").select("vec_id", "pca_vec").collect()
    assert all(len(r["pca_vec"]) == 8 for r in out)
    assert len(out) == emb.count()


def test_pca_finds_dominant_axis(spark):
    """Synthetic data with variance concentrated on one axis: the first
    component must capture (almost) all of it."""
    import random

    rng = random.Random(7)
    rows = [(i, [rng.gauss(0, 10.0), rng.gauss(0, 0.1), rng.gauss(0, 0.1)]) for i in range(200)]
    df = spark.createDataFrame(rows, "id bigint, embedding array<double>")
    from cse_datapipeline_and_mls_spark.ml.pipelines import fit_pca, pca_explained_variance

    ev = pca_explained_variance(fit_pca(df, "embedding", k=3))
    assert ev[0] > 0.95


def test_item_neighbor_refresh_same_on_persisted_and_lazy_state(spark, sf_dir):
    """refresh_item_neighbors returns the same (topnb, pur) rows whether
    the corpus state is localCheckpoint-ed (bench.py's refresh leg) or
    lazy (the registry query), and both equal the full recompute."""
    from pyspark import StorageLevel

    from cse_datapipeline_and_mls_spark.queries import ml_q

    li, corpus_o, delta_o = ml_q.split_orders_at_watermark(spark, sf_dir)
    assert delta_o.count() > 0

    def state(ck):
        c_o = ck(corpus_o)
        pairs = ck(ml_q.pair_counts(li, c_o))
        return (
            li,
            ck(delta_o),
            pairs,
            ck(ml_q.top_neighbors(pairs)),
            ck(ml_q.purchases(li, c_o)),
        )

    def rows(df):
        return sorted(map(tuple, df.collect()))

    lazy = ml_q.refresh_item_neighbors(*state(lambda df: df))
    persisted = ml_q.refresh_item_neighbors(
        *state(lambda df: df.localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY))
    )
    orders = corpus_o.unionByName(delta_o)
    full = (ml_q.top_neighbors(ml_q.pair_counts(li, orders)), ml_q.purchases(li, orders))
    for got_lazy, got_persisted, want in zip(lazy, persisted, full):
        want_rows = rows(want)
        assert want_rows
        assert rows(got_lazy) == rows(got_persisted) == want_rows
