"""Reference-shaped end-to-end tour on the FIXTURES.md §1/§2 tables.

quickstart.py tours the engine on the driver's TPC-H-ish tables; this
script replays the REFERENCE'S OWN pipeline shape end to end on
synthetic `prices` / `financials` fixtures (FIXTURES.md §1-§2, profiled
from ml-algorithms/combined_daily_data.csv and outputNew_cleaned2.csv):

  1. CSV-shaped ingest with the column sanitizer (scraper/main.py:57)
     and the `yyyyMMdd.csv` date recovery (regression.py:55);
  2. financials left-join + allowed-symbols semi-join
     (regression.py:130, ml_impl.py:124-135) with the /0-guarded
     Profit_Margin and PE_Ratio ratios (ml_impl.py:101,
     regression.py:138-140);
  3. the window feature block → weighted GBT up/down classifier with
     AUC/accuracy/confusion (classifier.py:12-100);
  4. the >5% percentageChange alert filter (spark_stream.py:42-43);
  5. the JSON serving boundary with the NaN→0 scrub
     (spark_stream.py:120-131).

Every step is the same operator the registry queries exercise — this
script only strings them together on the reference's own column names.
Run:

    python examples/reference_tour.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


def make_prices(spark: SparkSession, n_symbols: int = 40, n_days: int = 40) -> DataFrame:
    """Deterministic synthetic `prices` per FIXTURES.md §1, including the
    documented edge cases: a single-row symbol, series shorter than the
    longest window, a NaN (not NULL) double, zero volumes, and the
    `yyyyMMdd.csv` Date format."""
    sym = F.concat(F.lit("SYM"), F.col("s"), F.lit(".N0000"))
    base = (
        spark.range(n_symbols)
        .withColumnRenamed("id", "s")
        # symbol s has min(s+1, n_days) rows → short series + one 1-row symbol
        .join(spark.range(n_days).withColumnRenamed("id", "d"), how="cross")
        .filter((F.col("d") <= F.col("s")) & (F.col("d") < F.lit(n_days)))
    )
    price = 100.0 + 10.0 * F.sin(F.col("s") * 1.7 + F.col("d") * 0.43) + F.col("d") * 0.1
    # every 9th day gaps down 8% so the >5% alert filter has real hits
    prev = F.when(F.col("d") % 9 == 0, price * 1.08).otherwise(price * 0.99)
    return base.select(
        (F.col("s") * 1000 + F.col("d")).alias("id"),
        sym.alias("symbol"),
        price.alias("price"),
        prev.alias("previousClose"),
        ((price / prev - 1) * 100).alias("percentageChange"),
        # tradevolume: zeros + >1.5x spikes (volume_spike fixture note)
        F.when(F.col("d") % 11 == 0, F.lit(0))
        .when(F.col("d") % 7 == 0, F.lit(50_000))
        .otherwise(F.lit(10_000) + F.col("d") * 13)
        .cast("long")
        .alias("tradevolume"),
        F.when(F.col("s") % 13 == 0, F.lit(0)).otherwise(F.lit(1_000_000)).cast("long").alias("sharevolume"),
        # NaN (not NULL) in one double column — the isnan|isNull fixture
        F.when((F.col("s") == 2) & (F.col("d") == 1), F.lit(float("nan")))
        .otherwise(price * 0.5)
        .alias("turnover"),
        F.date_format(
            F.date_add(F.lit("2024-01-01").cast("date"), F.col("d").cast("int")),
            "yyyyMMdd",
        ).alias("Date_raw"),
    ).withColumn("Date", F.concat(F.col("Date_raw"), F.lit(".csv"))).drop("Date_raw")


def make_financials(spark: SparkSession, n_symbols: int = 40) -> DataFrame:
    """Synthetic `financials` per FIXTURES.md §2: Symbol uppercase-S (the
    rename is part of the pipeline under test), zero/NULL Total_Revenue
    and zero Basic_EPS for the ratio guards, and a coverage gap (every
    3rd symbol missing → left-join null propagation)."""
    return (
        spark.range(n_symbols)
        .withColumnRenamed("id", "s")
        .filter(F.col("s") % 3 != 0)
        .select(
            F.concat(F.lit("SYM"), F.col("s"), F.lit(".N0000")).alias("Symbol"),
            F.when(F.col("s") % 2 == 0, F.lit("Q4")).otherwise(F.lit("Q3")).alias("Quarter"),
            F.when(F.col("s") % 5 == 0, F.lit(0.0))
            .when(F.col("s") % 7 == 0, F.lit(None).cast("double"))
            .otherwise(F.col("s") * 1.0e6)
            .alias("Total_Revenue"),
            (F.col("s") * 1.0e5 - 2.0e6).alias("Net_Income"),  # negatives included
            F.when(F.col("s") % 4 == 0, F.lit(0.0)).otherwise(F.col("s") * 0.5).alias("Basic_EPS"),
        )
    )


def enrich(prices: DataFrame, financials: DataFrame) -> DataFrame:
    """Steps 1-2: date recovery, financials join, allow-list, guarded
    ratios — regression.py:53-140 / ml_impl.py:101,124-135 re-expressed
    with the engine's operators."""
    from cse_datapipeline_and_mls_spark.schemas import parse_filename_date

    fin = financials.withColumnRenamed("Symbol", "symbol")  # regression.py:53
    allowed = fin.select("symbol").distinct()  # ml_impl.py:124-135 allow-list
    return (
        prices.withColumn("trade_date", parse_filename_date("Date"))
        .join(fin, "symbol", "left")
        .join(allowed, "symbol", "left_semi")
        .withColumn(
            "Profit_Margin",
            F.col("Net_Income") / F.nullif(F.col("Total_Revenue"), F.lit(0.0)),
        )
        .withColumn("PE_Ratio", F.col("price") / F.nullif(F.col("Basic_EPS"), F.lit(0.0)))
    )


def train_classifier(enriched: DataFrame):
    """Step 3: the classifier.py pipeline — window feature block on the
    per-symbol price series, next-day up/down label, class weights,
    GBT fit, AUC/accuracy/confusion. Returns (model, metrics dict)."""
    from cse_datapipeline_and_mls_spark import ml as M
    from cse_datapipeline_and_mls_spark.operators import tswindow as TS

    w = TS.series_window("symbol", ["trade_date", "id"])
    feats = M.build_price_features(enriched, "symbol", ["trade_date", "id"], "price")
    labeled = M.add_binary_label_and_weights(feats, "price", w).na.drop(
        subset=M.DEFAULT_FEATURES
    ).cache()
    try:
        train, test = M.time_split(labeled, "trade_date", test_days=7)
        model = M.classifier_pipeline(M.DEFAULT_FEATURES, max_iter=5, max_depth=3).fit(train)
        metrics = M.binary_metrics(model.transform(test))
    finally:
        labeled.unpersist()
    return model, metrics


def alerts(enriched: DataFrame) -> DataFrame:
    """Step 4: the >5% change alert (spark_stream.py:42-43)."""
    return enriched.filter(F.abs(F.col("percentageChange")) > 5.0).select(
        "symbol", "trade_date", "price", "percentageChange"
    )


def serve(enriched: DataFrame) -> DataFrame:
    """Step 5: JSON serving rows with the NaN→0 scrub
    (spark_stream.py:120-131) — NaN turnover must serialize as 0."""
    from cse_datapipeline_and_mls_spark.serving import to_json_records

    return to_json_records(
        enriched.select("symbol", "trade_date", "price", "turnover", "Profit_Margin"),
        nan_policy="zero",
    )


def main() -> None:
    from cse_datapipeline_and_mls_spark.session import get_spark

    spark = get_spark("reference-tour")
    prices, financials = make_prices(spark), make_financials(spark)
    enriched = enrich(prices, financials)
    print("enriched rows:", enriched.count())
    model, metrics = train_classifier(enriched)
    print("classifier:", {k: round(v, 4) if isinstance(v, float) else v for k, v in metrics.items()})
    print("alerts:", alerts(enriched).count())
    serve(enriched).show(3, truncate=False)


if __name__ == "__main__":
    main()
