"""End-to-end tour of the engine on the bundled sf0.001 testdata.

Covers the reference's whole surface in one script: ingest → time-series
features → anomaly analytics → ML train/score, plus the LLM-data
extensions (dedup, ANN, text analysis). Run:

    python examples/quickstart.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from cse_datapipeline_and_mls_spark import ml as M  # noqa: E402
from cse_datapipeline_and_mls_spark.operators import similarity as S  # noqa: E402
from cse_datapipeline_and_mls_spark.operators import text as X  # noqa: E402
from cse_datapipeline_and_mls_spark.operators import tswindow as TS  # noqa: E402
from cse_datapipeline_and_mls_spark.operators.dedup import exact_dedup_by_content  # noqa: E402
from cse_datapipeline_and_mls_spark.session import get_spark  # noqa: E402
from cse_datapipeline_and_mls_spark.sources import load_table  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("quickstart")

    # 1. Analytics read path (the reference's /api/analyzed_data, E2):
    #    per-key pct-change → z-score → anomaly flag, one Catalyst plan.
    ev = load_table(spark, sf_dir, "events")
    w = TS.series_window("user_id", ["ts", "event_id"])
    analyzed = TS.with_anomaly_flag(TS.with_diff_pct(ev, "value", w), "pct_change", w)
    analyzed.groupBy("anomaly").count().show()

    # 2. Feature block + GBT training (the reference's regression.py path,
    #    MLlib-native — no toPandas boundary).
    feats = M.build_price_features(ev, "user_id", ["ts", "event_id"], "value").cache()
    labeled = TS.with_lead(feats, "pct_change", "target", w).na.drop(
        subset=[*M.DEFAULT_FEATURES, "target"]
    )
    train, test = M.time_split(labeled, "ts", test_days=7)
    model = M.regression_pipeline(M.DEFAULT_FEATURES, max_iter=5, max_depth=3).fit(train)
    print("regression metrics:", M.regression_metrics(model.transform(test)))
    scored = M.score_with_price_reconstruction(model, test.limit(5), price="value")
    scored.select("user_id", "value", "prediction", "predicted_price").show()

    # 3. LLM-data extensions over documents/embeddings.
    docs = load_table(spark, sf_dir, "documents")
    print("docs:", docs.count(), "→ after exact dedup:", exact_dedup_by_content(docs).count())
    X.with_text_stats(docs, "text").select("doc_id", "n_tokens", "quality", "lang_guess").show(5)

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    codebook = S.fit_codebook(emb, k=4)
    S.ivf_topk(emb, queries, codebook, k=3, nprobe=2).show()

    spark.stop()


if __name__ == "__main__":
    main()
