"""MLlib pipelines replacing the reference's sklearn/XGBoost path
(SURVEY §2.11 M1-M14).

The reference trains two models:
* a pure-Spark GBT up/down classifier (reference ml-algorithms/
  classifier.py) — kept as-is, MLlib-native;
* an XGBoost regressor reached through a ``toPandas()`` bulk hand-off
  (reference ml-algorithms/regression.py:223-224) with sklearn
  RobustScaler/LabelEncoder/RandomizedSearchCV around it.

Here the JVM→Python matrix boundary disappears: features stay in a
DataFrame, VectorAssembler → RobustScaler → GBTRegressor fit as ONE MLlib
Pipeline distributed across executors; only fitted-model metadata reaches
the driver. StringIndexer(handleInvalid='skip') replicates the reference's
allow-list semi-join semantics (ml_impl.py:124-135); weightCol replaces
the driver-side class-weight dict (classifier.py:62-67).

Scale posture: GBT training shuffles once per iteration for histogram
aggregation; feature build is the single window shuffle from
operators.tswindow; time-based splits are partition-prunable filters.
"""

from __future__ import annotations

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import GBTClassifier
from pyspark.ml.evaluation import BinaryClassificationEvaluator, RegressionEvaluator
from pyspark.ml.feature import RobustScaler, StringIndexer, VectorAssembler
from pyspark.ml.regression import GBTRegressor
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..materialize import materialize, query_scope
from ..operators import relational as R
from ..operators import tswindow as TS

# The reference's final model sees 15 numeric features
# (regression.py:279-283); ours mirrors the window-feature block.
DEFAULT_FEATURES = [
    "value_lag_1",
    "value_lag_3",
    "value_lag_7",
    "ma5",
    "ma10",
    "vol14",
    "rsi",
    "macd",
    "momentum_3",
    "pct_change",
]


def build_price_features(df: DataFrame, key: str, order: list[str], price: str) -> DataFrame:
    """The reference's feature block (regression.py:80-128) on any
    per-key series: lags, trailing means, volatility, RSI, MACD,
    momentum, pct-change. One window spec → one shuffle."""
    w = TS.series_window(key, order)
    out = TS.with_lags(df, price, [1, 3, 7], w)
    for c, k in (("ma5", 5), ("ma10", 10)):
        out = TS.rolling_mean(out, price, c, w, k, inclusive=False)
    out = TS.rolling_std(out, price, "vol14", w, 14, inclusive=False)
    out = TS.with_rsi(out, price, w, k=14, out="rsi")
    out = TS.with_macd(out, price, w, out="macd")
    out = TS.with_momentum(out, price, w, 3, "momentum_3")
    out = TS.with_diff_pct(out, price, w)
    # rename lag columns to the canonical feature names
    for k in (1, 3, 7):
        out = out.withColumnRenamed(f"{price}_lag_{k}", f"value_lag_{k}")
    return out


def time_split(df: DataFrame, ts_col: str, test_days: int) -> tuple[DataFrame, DataFrame]:
    """M10: last-N-days test split (regression.py:216-218 uses 14,
    classifier.py:52-56 uses 7). Better than random CV for time series —
    the reference got this right. The max(ts) scalar is one tiny agg."""
    split = df.agg(F.date_sub(F.max(ts_col), test_days).alias("s")).collect()[0]["s"]
    return df.filter(F.col(ts_col) < F.lit(split)), df.filter(F.col(ts_col) >= F.lit(split))


def classifier_pipeline(
    feature_cols: list[str],
    label_col: str = "label",
    categorical_cols: list[str] | None = None,
    max_iter: int = 50,
    max_depth: int = 7,
    step_size: float = 0.1,
    subsampling_rate: float = 0.8,
    max_bins: int = 50,
    weight_col: str | None = "class_weight",
) -> Pipeline:
    """M1/M2: the reference's GBTClassifier config verbatim
    (classifier.py:75-77: maxIter=50, maxDepth=7, stepSize=0.1,
    subsamplingRate=0.8, maxBins=50, weighted)."""
    stages = []
    cols = list(feature_cols)
    for c in categorical_cols or []:
        stages.append(StringIndexer(inputCol=c, outputCol=f"{c}_idx", handleInvalid="skip"))
        cols.append(f"{c}_idx")
    stages.append(VectorAssembler(inputCols=cols, outputCol="features", handleInvalid="skip"))
    gbt = GBTClassifier(
        featuresCol="features",
        labelCol=label_col,
        maxIter=max_iter,
        maxDepth=max_depth,
        stepSize=step_size,
        subsamplingRate=subsampling_rate,
        maxBins=max_bins,
        seed=42,
    )
    if weight_col:
        gbt = gbt.setWeightCol(weight_col)
    stages.append(gbt)
    return Pipeline(stages=stages)


def regression_pipeline(
    feature_cols: list[str],
    label_col: str = "target",
    max_iter: int = 50,
    max_depth: int = 5,
    step_size: float = 0.1,
    subsampling_rate: float = 0.8,
) -> Pipeline:
    """M6/M8: assembler → RobustScaler → GBTRegressor, one distributed
    fit. Maps the reference's XGB params (regression.py:331-339):
    learning_rate→stepSize, max_depth→maxDepth, n_estimators→maxIter,
    subsample→subsamplingRate. RobustScaler was imported-but-unused in
    the reference (regression.py:21) and hand-rolled via sklearn
    (regression.py:302-311); here it is the MLlib stage."""
    assembler = VectorAssembler(
        inputCols=feature_cols, outputCol="raw_features", handleInvalid="skip"
    )
    scaler = RobustScaler(
        inputCol="raw_features", outputCol="features", withCentering=True, withScaling=True
    )
    gbt = GBTRegressor(
        featuresCol="features",
        labelCol=label_col,
        maxIter=max_iter,
        maxDepth=max_depth,
        stepSize=step_size,
        subsamplingRate=subsampling_rate,
        seed=42,
    )
    return Pipeline(stages=[assembler, scaler, gbt])


def feature_importances(model: PipelineModel, feature_cols: list[str]) -> list[tuple[str, float]]:
    """M5: (feature, importance) sorted descending — the reference prints
    sorted ``model.featureImportances`` after training
    (classifier.py:96-100). Importance vector order follows the
    VectorAssembler's inputCols, so ``feature_cols`` must be the same list
    (plus any ``{col}_idx`` indexed categoricals) the pipeline assembled.
    Driver-side: the vector is |features| floats of fitted-model metadata,
    not data."""
    imp = model.stages[-1].featureImportances
    pairs = [(name, float(imp[i])) for i, name in enumerate(feature_cols)]
    return sorted(pairs, key=lambda p: (-p[1], p[0]))


def sample_param_grid(
    space: dict[str, list], n_candidates: int, seed: int = 42
) -> list[dict]:
    """M7: random candidate sampling over a parameter space — parity with
    the reference's RandomizedSearchCV(n_iter=50) (regression.py:399-404),
    minus sklearn. ``space`` maps param name → candidate values; returns
    ``n_candidates`` distinct combinations drawn without replacement under
    a fixed seed (the full grid if it is smaller). Feed the result to
    ``rolling_origin_search``, which replaces the reference's leaky random
    K-fold with time-ordered folds."""
    import itertools
    import random

    keys = sorted(space)
    full = [dict(zip(keys, combo)) for combo in itertools.product(*(space[k] for k in keys))]
    if n_candidates >= len(full):
        return full
    return random.Random(seed).sample(full, n_candidates)


def rolling_origin_search(
    df: DataFrame,
    build_pipeline,
    param_grid: list[dict],
    ts_col: str,
    n_folds: int = 3,
    label_col: str = "target",
    metric: str = "rmse",
) -> tuple[dict, PipelineModel, list[dict]]:
    """M7: hyperparameter search with time-ordered folds.

    The reference used RandomizedSearchCV with random K-fold
    (regression.py:399-404) — leaky for time series (training folds see
    the future). Rolling-origin evaluation fixes that: fold i trains on
    everything before boundary i and validates on the slice between
    boundaries i and i+1; boundaries are ts quantiles so folds are
    balanced. Each candidate's metric is averaged over folds; the winner
    is refit on ALL data.

    ``build_pipeline(**params) -> Pipeline``. Candidate × fold fits run
    sequentially — each fit is itself distributed, which is where the
    parallelism budget goes at scale (MLlib's CrossValidator
    parallelism knob trades the two; same trade here).

    Returns (best_params, best_model_refit_on_all, per_candidate_log).
    """
    probs = [i / (n_folds + 1) for i in range(1, n_folds + 2)]
    # one tiny approxQuantile action over the ts column (cast to epoch)
    qs = df.select(F.unix_timestamp(F.col(ts_col)).cast("double").alias("_e")).approxQuantile(
        "_e", probs, 0.001
    )
    evaluator = RegressionEvaluator(
        labelCol=label_col, predictionCol="prediction", metricName=metric
    )
    log: list[dict] = []
    with query_scope():
        with_e = materialize(df.withColumn("_e", F.unix_timestamp(F.col(ts_col)).cast("double")))
        for params in param_grid:
            scores = []
            for i in range(n_folds):
                train = with_e.filter(F.col("_e") <= qs[i])
                valid = with_e.filter((F.col("_e") > qs[i]) & (F.col("_e") <= qs[i + 1]))
                if not valid.head(1):
                    continue
                model = build_pipeline(**params).fit(train)
                scores.append(evaluator.evaluate(model.transform(valid)))
            avg = sum(scores) / len(scores) if scores else float("inf")
            log.append({"params": params, "folds": scores, "avg": avg})
        lower_is_better = metric in ("rmse", "mse", "mae")
        best = min(log, key=lambda r: r["avg"]) if lower_is_better else max(log, key=lambda r: r["avg"])
        best_model = build_pipeline(**best["params"]).fit(with_e)
    return best["params"], best_model, log


def add_binary_label_and_weights(df: DataFrame, price: str, w) -> DataFrame:
    """classifier.py:23-24: label = next price > current; A9 weights."""
    df = TS.with_lead(df, price, "_next", w)
    df = df.withColumn(
        "label", F.when(F.col("_next") > F.col(price), 1.0).otherwise(0.0)
    ).filter(F.col("_next").isNotNull())
    return R.with_balanced_weights(df, "label").drop("_next")


def binary_metrics(predictions: DataFrame, label_col: str = "label") -> dict[str, float]:
    """M3/M4: AUC + accuracy + confusion counts (classifier.py:83-93)."""
    auc = BinaryClassificationEvaluator(
        labelCol=label_col, rawPredictionCol="rawPrediction", metricName="areaUnderROC"
    ).evaluate(predictions)
    counts = {
        (r[label_col], r["prediction"]): r["n"]
        for r in predictions.groupBy(label_col, "prediction")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    total = sum(counts.values())
    correct = counts.get((0.0, 0.0), 0) + counts.get((1.0, 1.0), 0)
    return {
        "auc": auc,
        "accuracy": correct / total if total else float("nan"),
        "tp": counts.get((1.0, 1.0), 0),
        "tn": counts.get((0.0, 0.0), 0),
        "fp": counts.get((0.0, 1.0), 0),
        "fn": counts.get((1.0, 0.0), 0),
    }


def regression_metrics(
    predictions: DataFrame, label_col: str = "target", pred_col: str = "prediction"
) -> dict[str, float]:
    """M11: RMSE/MSE/MAE/R² (replaces sklearn, regression.py:422-429)
    as ONE distributed aggregation instead of four RegressionEvaluator
    passes — each evaluate() is a full action over the predictions
    lineage, so the evaluator loop recomputed the window-feature block
    four times (the reference's own §4 recompute quirk reborn; VERDICT
    r12 #1). All four metrics are moments of the residual: mse=E[e²],
    rmse=√mse, mae=E[|e|], and r² = 1 − SSerr/SStot = 1 − mse/var_pop(y)
    — exactly RegressionEvaluator's definitions (throughOrigin=false),
    asserted equal to the evaluator output in tests/test_mleval.py."""
    e = F.col(label_col) - F.col(pred_col)
    row = predictions.agg(
        F.avg(e * e).alias("mse"),
        F.avg(F.abs(e)).alias("mae"),
        F.var_pop(F.col(label_col)).alias("var_y"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    mse = row["mse"] if row["mse"] is not None else float("nan")
    var_y = row["var_y"]
    return {
        "rmse": mse**0.5,
        "mse": mse,
        "mae": row["mae"] if row["mae"] is not None else float("nan"),
        "r2": 1.0 - mse / var_y if var_y else float("nan"),
        "n": row["n"],
    }


def regression_report(
    predictions: DataFrame, label_col: str = "target", pred_col: str = "prediction"
) -> dict[str, float]:
    """M11+M12 in ONE action: regression_metrics' residual moments plus
    directional accuracy (sign-match rate) and the scored-row count,
    fused into a single aggregation so a metrics pass over an uncached
    lineage costs exactly one computation of that lineage."""
    e = F.col(label_col) - F.col(pred_col)
    row = predictions.agg(
        F.avg(e * e).alias("mse"),
        F.avg(F.abs(e)).alias("mae"),
        F.var_pop(F.col(label_col)).alias("var_y"),
        F.count(F.lit(1)).alias("n"),
        F.avg(
            F.when(
                F.signum(F.col(label_col)) == F.signum(F.col(pred_col)), 1.0
            ).otherwise(0.0)
        ).alias("da"),
    ).collect()[0]
    mse = row["mse"] if row["mse"] is not None else float("nan")
    var_y = row["var_y"]
    return {
        "rmse": mse**0.5,
        "mse": mse,
        "mae": row["mae"] if row["mae"] is not None else float("nan"),
        "r2": 1.0 - mse / var_y if var_y else float("nan"),
        "n": row["n"],
        "directional_accuracy": row["da"],
    }


def directional_accuracy(
    predictions: DataFrame, label_col: str = "target", pred_col: str = "prediction"
) -> float:
    """M12: sign-match rate (regression.py:438-439) — distributed, no
    numpy round-trip."""
    agg = predictions.agg(
        F.avg(
            F.when(F.signum(F.col(label_col)) == F.signum(F.col(pred_col)), 1.0).otherwise(0.0)
        ).alias("da")
    ).collect()[0]
    return agg["da"]


def score_with_price_reconstruction(
    model: PipelineModel, df: DataFrame, price: str = "value"
) -> DataFrame:
    """M13: predicted_price = price * (1 + predicted_change)
    (ml_impl.py:146-148) — transform + column arithmetic, no pandas."""
    return model.transform(df).withColumn(
        "predicted_price", F.col(price) * (1 + F.col("prediction"))
    )


def fit_pca(df: DataFrame, vec_col: str = "embedding", k: int = 8):
    """Fit MLlib PCA on an array<float|double> embedding column —
    the dimensionality-reduction step a 100 TB embedding store runs
    before ANN indexing (k·d floats per vector instead of d). The fit
    is one pass to assemble the Gramian (distributed) + an in-driver
    eigendecomposition of the d×d matrix — d is the embedding dim
    (small), never the row count. Returns the fitted PCAModel."""
    from pyspark.ml.feature import PCA as MLPCA
    from pyspark.ml.functions import array_to_vector

    assembled = df.withColumn("_features", array_to_vector(F.col(vec_col)))
    return MLPCA(k=k, inputCol="_features", outputCol="_pca").fit(assembled)


def pca_project(
    model, df: DataFrame, vec_col: str = "embedding", out_col: str = "pca_vec"
) -> DataFrame:
    """Project embeddings into the fitted PCA basis; output is a plain
    array<double> so the result composes with every vector operator
    (cosine_topk, IVF, PQ) unchanged."""
    from pyspark.ml.functions import array_to_vector, vector_to_array

    assembled = df.withColumn("_features", array_to_vector(F.col(vec_col)))
    return (
        model.transform(assembled)
        .withColumn(out_col, vector_to_array(F.col("_pca")))
        .drop("_features", "_pca")
    )


def pca_explained_variance(model) -> list[float]:
    """Per-component explained-variance fractions (descending)."""
    return [float(x) for x in model.explainedVariance]
