"""ML + multimodal registry queries (SURVEY §2.11 M-series, §2.12 X5).

The feature block is SQL-expressible and directly oracle-checked; the
model-fit queries register in BRACKET-VERDICT form (GBT fitting is not
ANSI SQL and split choices shift with float-summation order): each
emits a SQL-checkable exact side (split window counts, bucket sizes,
covariance trace) plus invariant/bound booleans, so the driver still
hash-checks every one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..materialize import materialize, query_scope, release
from ..operators import multimodal as MM
from ..sources import load_table
from . import register

_W = "PARTITION BY user_id ORDER BY ts, event_id"


@register(
    "ml_feature_block",
    oracle=f"""
    WITH base AS (
      SELECT event_id, user_id, ts, value,
             lag(value, 1) OVER ({_W}) AS value_lag_1,
             lag(value, 3) OVER ({_W}) AS value_lag_3,
             lag(value, 7) OVER ({_W}) AS value_lag_7,
             round(avg(value) OVER ({_W} ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING), 6)  AS ma5,
             round(avg(value) OVER ({_W} ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING), 6) AS ma10,
             round(stddev_samp(value) OVER ({_W} ROWS BETWEEN 14 PRECEDING AND 1 PRECEDING), 6) AS vol14,
             value - lag(value, 3) OVER ({_W}) AS momentum_3
      FROM events
    )
    SELECT event_id, user_id, ts, value_lag_1, value_lag_3, value_lag_7,
           ma5, ma10, vol14, momentum_3
    FROM base
    """,
)
def ml_feature_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M-series input: the reference's window-feature build
    (regression.py:80-128) via ml.build_price_features — one shuffle for
    the whole block. RSI/MACD/pct_change are oracle-checked separately
    (w_rsi_14 / w_macd_sma / w_pct_change_zscore_anomaly)."""
    from ..ml import build_price_features

    ev = load_table(spark, sf_dir, "events")
    feats = build_price_features(ev, "user_id", ["ts", "event_id"], "value")
    return feats.select(
        "event_id",
        "user_id",
        "ts",
        "value_lag_1",
        "value_lag_3",
        "value_lag_7",
        F.round("ma5", 6).alias("ma5"),
        F.round("ma10", 6).alias("ma10"),
        F.round("vol14", 6).alias("vol14"),
        "momentum_3",
    )


@register(
    "ml_gbt_classifier_metrics",
    oracle="""
    WITH m AS (
      SELECT max(ts)::DATE - 7 AS cut, CAST(count(*) AS BIGINT) AS n FROM events
    )
    SELECT m.n AS n_events,
           (SELECT CAST(count(*) AS BIGINT) FROM events e, m WHERE e.ts >= m.cut)
             AS n_test_window,
           TRUE AS auc_ge_070,
           TRUE AS accuracy_ge_060,
           TRUE AS confusion_sums_match
    FROM m
    """,
)
def ml_gbt_classifier_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1-M5: assembler → weighted GBTClassifier, time-split, AUC +
    accuracy + confusion counts — the reference's classifier.py pipeline
    MLlib-native. Small maxIter so the correctness driver stays fast;
    params scale up via classifier_pipeline kwargs.

    Bracket-verdict form (model fitting is not ANSI SQL, and GBT split
    choices can shift with float-summation order, so raw metrics can
    never hash-match): outputs the SQL-checkable exact side — total
    event count and the last-7-days test-window count, pinning the
    time-split semantics — plus booleans that AUC ≥ 0.7 and accuracy ≥
    0.6 (measured 0.79–0.80 / 0.71–0.73 across sf0.001/0.01/0.1) and
    that the confusion matrix sums to the labeled test count. Raw
    metric values stay asserted in tests/test_ml.py."""
    from ..ml import (
        add_binary_label_and_weights,
        binary_metrics,
        build_price_features,
        classifier_pipeline,
        time_split,
    )
    from ..ml.pipelines import DEFAULT_FEATURES
    from ..operators import tswindow as TS

    ev = load_table(spark, sf_dir, "events")
    feats = build_price_features(ev, "user_id", ["ts", "event_id"], "value")
    w = TS.series_window("user_id", ["ts", "event_id"])
    # materialize the window-feature lineage ONCE (VERDICT r12 #1): fit,
    # the AUC pass, the confusion groupBy and n_test all read it; the
    # scope frees it once they are done
    with query_scope():
        labeled = materialize(
            add_binary_label_and_weights(feats, "value", w).na.drop(subset=DEFAULT_FEATURES)
        )
        train, test = time_split(labeled, "ts", test_days=7)
        model = classifier_pipeline(DEFAULT_FEATURES, max_iter=5, max_depth=3).fit(train)
        m = binary_metrics(model.transform(test))
        n_test = test.count()
    agg = ev.agg(
        F.count(F.lit(1)).alias("n"), F.date_sub(F.max("ts"), 7).alias("s")
    ).collect()[0]
    n_events, cut = agg["n"], agg["s"]
    n_window = ev.filter(F.col("ts") >= F.lit(cut)).count()
    return spark.createDataFrame(
        [
            (
                n_events,
                n_window,
                bool(m["auc"] >= 0.7),
                bool(m["accuracy"] >= 0.6),
                bool(m["tp"] + m["tn"] + m["fp"] + m["fn"] == n_test),
            )
        ],
        "n_events long, n_test_window long, auc_ge_070 boolean, "
        "accuracy_ge_060 boolean, confusion_sums_match boolean",
    )


@register(
    "ml_feature_importances",
    oracle="""
    SELECT CAST(10 AS BIGINT) AS n_features,
           TRUE AS importances_sum_to_1,
           TRUE AS importances_nonnegative,
           TRUE AS ranked_nonincreasing
    """,
)
def ml_feature_importances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5: sorted GBT feature importances — the reference prints these
    after every classifier fit (classifier.py:96-100).

    Bracket-verdict form: one row asserting the importance-vector
    contract — exactly len(DEFAULT_FEATURES)=10 entries, nonnegative,
    summing to 1 (±1e-6), and ranked non-increasing. The importance
    VALUES are fit-specific (float-summation order can shift splits) so
    they can never hash-match; the per-feature ranking stays asserted
    in tests/test_ml.py."""
    from ..ml import (
        add_binary_label_and_weights,
        build_price_features,
        classifier_pipeline,
        feature_importances,
        time_split,
    )
    from ..ml.pipelines import DEFAULT_FEATURES
    from ..operators import tswindow as TS

    ev = load_table(spark, sf_dir, "events")
    feats = build_price_features(ev, "user_id", ["ts", "event_id"], "value")
    w = TS.series_window("user_id", ["ts", "event_id"])
    labeled = add_binary_label_and_weights(feats, "value", w).na.drop(subset=DEFAULT_FEATURES)
    train, _ = time_split(labeled, "ts", test_days=7)
    # Materialize the window-feature lineage before the fit (r15): GBT's
    # fit makes several passes over its input (label validation /
    # summary, the internal TreePoint conversion), and unlike
    # ml_gbt_classifier_metrics this query never cached `labeled`, so
    # each pass re-derived the multi-window feature plan. Eager
    # localCheckpoint keeps partition layout and row order, so the fit
    # sees bit-identical input. Measured interleaved at sf0.1 (5 fresh-
    # process rounds): 27.3 → 24.9 s aggregate warm-min (best round
    # 6.80 → 4.33 s).
    train = materialize(train)
    model = classifier_pipeline(DEFAULT_FEATURES, max_iter=5, max_depth=3).fit(train)
    ranked = feature_importances(model, DEFAULT_FEATURES)
    vals = [float(v) for _, v in ranked]
    return spark.createDataFrame(
        [
            (
                len(vals),
                bool(abs(sum(vals) - 1.0) < 1e-6),
                bool(all(v >= 0.0 for v in vals)),
                bool(all(vals[i] >= vals[i + 1] for i in range(len(vals) - 1))),
            )
        ],
        "n_features long, importances_sum_to_1 boolean, "
        "importances_nonnegative boolean, ranked_nonincreasing boolean",
    )


@register(
    "ml_gbt_regressor_metrics",
    oracle="""
    WITH m AS (
      SELECT max(ts)::DATE - 7 AS cut, CAST(count(*) AS BIGINT) AS n FROM events
    )
    SELECT m.n AS n_events,
           (SELECT CAST(count(*) AS BIGINT) FROM events e, m WHERE e.ts >= m.cut)
             AS n_test_window,
           TRUE AS mae_le_rmse,
           TRUE AS r2_le_1,
           TRUE AS directional_acc_ge_040,
           TRUE AS scored_eq_test
    FROM m
    """,
)
def ml_gbt_regressor_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6-M13: assembler → RobustScaler → GBTRegressor on next-step
    pct-change, RMSE/MAE/R² + directional accuracy, score-side price
    reconstruction — regression.py's XGB path without the toPandas
    boundary.

    Bracket-verdict form: exact side = total event count + last-7-days
    test-window count (pinning the split semantics); verdicts = the
    mathematical invariants MAE ≤ RMSE and R² ≤ 1, directional accuracy
    ≥ 0.4 (measured 0.50–0.66 across SFs — raw RMSE/MAE scale with the
    data so only invariants are portable), and the price-reconstruction
    scorer covering exactly the test rows. Raw metric values stay
    asserted in tests/test_ml.py."""
    from ..ml import (
        build_price_features,
        regression_pipeline,
        regression_report,
        score_with_price_reconstruction,
        time_split,
    )
    from ..ml.pipelines import DEFAULT_FEATURES
    from ..operators import tswindow as TS

    ev = load_table(spark, sf_dir, "events")
    feats = build_price_features(ev, "user_id", ["ts", "event_id"], "value")
    w = TS.series_window("user_id", ["ts", "event_id"])
    # materialize the window-feature lineage ONCE: fit + every metric
    # action reads the stored block instead of re-running the window
    # shuffle per action — the reference's §4 recompute quirk (VERDICT
    # r12 #1); the scope frees it once they are done
    with query_scope():
        labeled = materialize(
            TS.with_lead(feats, "pct_change", "target", w)
            .filter(F.col("target").isNotNull())
            .na.drop(subset=DEFAULT_FEATURES)
        )
        train, test = time_split(labeled, "ts", test_days=7)
        model = regression_pipeline(DEFAULT_FEATURES, max_iter=5, max_depth=3).fit(train)
        # one fused aggregation: rmse/mse/mae/r2 + directional accuracy
        # + n in a single action over the predictions
        m = regression_report(model.transform(test))
        n_scored = score_with_price_reconstruction(model, test, price="value").count()
        n_test = test.count()
    agg = ev.agg(
        F.count(F.lit(1)).alias("n"), F.date_sub(F.max("ts"), 7).alias("s")
    ).collect()[0]
    n_events, cut = agg["n"], agg["s"]
    n_window = ev.filter(F.col("ts") >= F.lit(cut)).count()
    return spark.createDataFrame(
        [
            (
                n_events,
                n_window,
                bool(m["mae"] <= m["rmse"] + 1e-9),
                bool(m["r2"] <= 1.0 + 1e-9),
                bool(m["directional_accuracy"] >= 0.4),
                bool(n_scored == n_test),
            )
        ],
        "n_events long, n_test_window long, mae_le_rmse boolean, r2_le_1 boolean, "
        "directional_acc_ge_040 boolean, scored_eq_test boolean",
    )


@register(
    "x_multimodal_ingest",
    oracle="""
    SELECT doc_id AS media_id,
           CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
           octet_length(encode(text)) AS n_bytes
    FROM documents
    """,
)
def x_multimodal_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: binary-column ingest plumbing — documents' UTF-8 bytes stand in
    for opaque media payloads; modality assignment + byte length verified
    against the oracle. Binary rides parquet/Arrow columnar like any
    column."""
    docs = load_table(spark, sf_dir, "documents")
    media = MM.synth_media_from_documents(docs)
    return media.select(
        "media_id", "modality", F.octet_length("content").cast("long").alias("n_bytes")
    )


@register(
    "x_multimodal_features",
    oracle="""
    WITH ch AS (
      SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents
    ), f AS (
      SELECT doc_id, c, CAST(count(*) AS BIGINT) AS n FROM ch GROUP BY doc_id, c
    ), s AS (
      SELECT doc_id, c, n, sum(n) OVER (PARTITION BY doc_id) AS tot FROM f
    ), agg AS (
      SELECT doc_id,
             CAST(any_value(tot) AS BIGINT) AS n_bytes,
             sum(ord(c) * n) * 1.0 / any_value(tot) AS bmean,
             -sum((n * 1.0 / tot) * log2(n * 1.0 / tot)) AS ent
      FROM s GROUP BY doc_id
    )
    SELECT doc_id AS media_id,
           CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END
             AS modality,
           n_bytes,
           floor(bmean * 1000000 + 0.5) / 1000000 AS byte_mean,
           floor(ent * 1000000 + 0.5) / 1000000   AS byte_entropy
    FROM agg
    """,
)
def x_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: mapInPandas feature extraction over binary payloads (the Arrow
    batch path a real decoder uses; deterministic byte-stat fake in this
    build — see operators.multimodal.decode_media).

    Oracle-checked: the synthetic payloads are the documents' UTF-8
    bytes and the corpus is pure ASCII (verified at every SF), so the
    Pandas-UDF byte statistics are exactly reproducible in SQL —
    characters ARE bytes, byte_mean is one division of exact integer
    sums, and entropy is the char-frequency Shannon entropy (quantized
    to 6 decimals on both sides: its p·log2 p summation order differs
    between numpy and SQL). This pins the whole mapInPandas pipeline —
    Arrow transfer, batch shape, uint8 view, per-payload fold — not
    just its row count."""
    docs = load_table(spark, sf_dir, "documents")
    media = MM.synth_media_from_documents(docs)
    from ..operators.numeric import q6

    out = MM.extract_features(media)
    return out.select(
        "media_id",
        "modality",
        "n_bytes",
        q6(F.col("byte_mean")).alias("byte_mean"),
        q6(F.col("byte_entropy")).alias("byte_entropy"),
    )


@register(
    "x_multimodal_wav_decode",
    oracle="""
    WITH ch AS (
      SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents
    ), f AS (
      SELECT doc_id, c, CAST(count(*) AS BIGINT) AS n FROM ch GROUP BY doc_id, c
    ), s AS (
      SELECT doc_id, c, n, sum(n) OVER (PARTITION BY doc_id) AS tot FROM f
    ), agg AS (
      SELECT doc_id,
             CAST(any_value(tot) AS BIGINT) AS n_samples,
             sum(ord(c) * n) * 1.0 / any_value(tot) AS smean,
             -sum((n * 1.0 / tot) * log2(n * 1.0 / tot)) AS ent
      FROM s GROUP BY doc_id
    )
    SELECT d.doc_id AS media_id,
           'audio' AS modality,
           agg.n_samples,
           CAST(floor((length(d.text) * 1000) / 8000) AS BIGINT) AS duration_ms,
           floor(smean * 1000000 + 0.5) / 1000000 AS sample_mean,
           floor(ent * 1000000 + 0.5) / 1000000   AS sample_entropy
    FROM documents d JOIN agg ON agg.doc_id = d.doc_id
    """,
)
def x_multimodal_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 with a REAL codec leg (VERDICT r5 #5): every document is
    synthesized into a genuine RIFF/WAVE file (stdlib ``wave`` writer,
    8-bit mono PCM) whose sample stream IS the document's bytes; the
    feature pass then runs ``decode_media`` — a real stdlib container
    parse (header walk + frame read), not a byte passthrough — inside
    the same Arrow-batched mapInPandas plumbing.

    Oracle-checked end-to-end: because the decoded samples are exactly
    the ASCII text bytes, the post-DECODE statistics (sample count,
    mean, Shannon entropy) and the header-derived duration_ms replay
    exactly in SQL over the text column. A header-math bug, a frame
    mis-read, or a sample-width confusion shifts the stats and fails
    the hash. See operators/multimodal.synth_wav_from_documents /
    decode_media."""
    docs = load_table(spark, sf_dir, "documents")
    media = MM.synth_wav_from_documents(docs, rate=8000)
    from ..operators.numeric import q6

    out = MM.extract_features(media, decoder=MM.decode_media)
    # duration from the DECODED sample count (wave.getnframes reads the
    # header's data-chunk size, so this still pins the header math) —
    # joining back to `media` would re-run the synth mapInPandas, the
    # multi-reference re-derivation trap
    return out.select(
        "media_id",
        "modality",
        F.col("n_bytes").alias("n_samples"),
        F.floor(F.col("n_bytes") * 1000 / 8000).cast("long").alias("duration_ms"),
        q6(F.col("byte_mean")).alias("sample_mean"),
        q6(F.col("byte_entropy")).alias("sample_entropy"),
    )


@register(
    "x_multimodal_png_decode",
    oracle="""
    WITH ch AS (
      SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents
    ), f AS (
      SELECT doc_id, c, CAST(count(*) AS BIGINT) AS n FROM ch GROUP BY doc_id, c
    ), s AS (
      SELECT doc_id, c, n, sum(n) OVER (PARTITION BY doc_id) AS tot FROM f
    ), agg AS (
      SELECT doc_id,
             CAST(any_value(tot) AS BIGINT) AS n_pixels,
             sum(ord(c) * n) * 1.0 / any_value(tot) AS pmean,
             -sum((n * 1.0 / tot) * log2(n * 1.0 / tot)) AS ent
      FROM s GROUP BY doc_id
    )
    SELECT d.doc_id AS media_id,
           CAST(length(d.text) AS INTEGER) AS width,
           CAST(1 AS INTEGER) AS height,
           CAST(8 AS INTEGER) AS bit_depth,
           agg.n_pixels,
           floor(pmean * 1000000 + 0.5) / 1000000 AS pixel_mean,
           floor(ent * 1000000 + 0.5) / 1000000   AS pixel_entropy
    FROM documents d JOIN agg ON agg.doc_id = d.doc_id
    """,
)
def x_multimodal_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5's second real codec leg (VERDICT r6 #5, the image twin of
    x_multimodal_wav_decode): every document is synthesized into a
    genuine grayscale-8 PNG (stdlib struct/zlib — CRC-correct chunks,
    zlib IDAT, filter-0 scanline) whose pixel row IS the document's
    bytes; extract_image_stats then walks the real container — IHDR
    parse for width/height/bit-depth AND a full inflate + de-filter
    decode for the pixel stats — inside one Arrow-batched mapInPandas.

    Oracle-checked end-to-end: decoded pixels are exactly the ASCII
    text bytes, so width (= byte count), the IHDR constants, and the
    post-decode statistics replay exactly in SQL over the text column.
    A chunk-walk bug, CRC/layout confusion, inflate slip, or filter
    mishandling shifts the output and fails the hash."""
    docs = load_table(spark, sf_dir, "documents")
    media = MM.synth_png_from_documents(docs)
    from ..operators.numeric import q6

    out = MM.extract_image_stats(media, decoder=MM.decode_media)
    return out.select(
        "media_id",
        "width",
        "height",
        "bit_depth",
        "n_pixels",
        q6(F.col("pixel_mean")).alias("pixel_mean"),
        q6(F.col("pixel_entropy")).alias("pixel_entropy"),
    )


@register(
    "x_multimodal_png_rgb",
    oracle="""
    WITH d AS (
      SELECT doc_id, text, CAST(length(text) // 3 AS BIGINT) AS npix
      FROM documents WHERE length(text) >= 3
    ), b AS (
      SELECT doc_id, npix, unnest(range(0, 3 * npix)) AS i, text FROM d
    ), v AS (
      SELECT doc_id, npix, CAST(i % 3 AS INTEGER) AS ch,
             ord(substr(text, CAST(i AS INTEGER) + 1, 1)) AS val
      FROM b
    ), agg AS (
      SELECT doc_id,
             any_value(npix) AS n_pixels,
             CAST(sum(CASE WHEN ch = 0 THEN val ELSE 0 END) AS DOUBLE)
               / any_value(npix) AS r,
             CAST(sum(CASE WHEN ch = 1 THEN val ELSE 0 END) AS DOUBLE)
               / any_value(npix) AS g,
             CAST(sum(CASE WHEN ch = 2 THEN val ELSE 0 END) AS DOUBLE)
               / any_value(npix) AS bl
      FROM v GROUP BY doc_id
    )
    SELECT doc_id AS media_id,
           CAST(n_pixels AS INTEGER) AS width,
           CAST(1 AS INTEGER) AS height,
           CAST(2 AS INTEGER) AS color_type,
           n_pixels,
           floor(r * 1000000 + 0.5) / 1000000 AS r_mean,
           floor(g * 1000000 + 0.5) / 1000000 AS g_mean,
           floor(bl * 1000000 + 0.5) / 1000000 AS b_mean,
           floor((0.299e0 * r + 0.587e0 * g + 0.114e0 * bl) * 1000000 + 0.5)
             / 1000000 AS luma_mean
    FROM agg
    """,
)
def x_multimodal_png_rgb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truecolor leg of the PNG codec family (VERDICT r10 item 9):
    every document >= 3 bytes is synthesized into a genuine TRUECOLOR
    8-bit PNG (color type 2, stdlib struct/zlib) whose interleaved
    R,G,B samples ARE the document's bytes (byte i -> channel i % 3 of
    pixel i // 3, truncated to a multiple of 3); extract_rgb_stats
    walks the real container — IHDR parse plus a full inflate +
    de-filter decode at the 3-byte-per-pixel stride — and reports
    per-channel means and the Rec.601 luma mean.

    Oracle-checked end-to-end: channel sums are exact int64 over the
    text bytes, so width, the IHDR constants, and all four means
    replay exactly in SQL. A stride bug (reading RGB rows at the
    grayscale width) or channel-interleave slip shifts g_mean/b_mean
    and fails the hash.

    ASCII assumption (ADVICE r11): the engine encodes UTF-8 BYTES
    while the oracle's length/substr/ord walk CHARACTERS, so parity
    relies on the documents fixture being pure ASCII (a documented
    corpus property, same as the grayscale leg). Guarded loudly: a
    non-ASCII row (octet_length != length) raises in the engine scan
    instead of silently hash-mismatching.

    Scale: map-only — the synth and the decode are one mapInPandas
    each over the documents scan; zero shuffles."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "text",
        # NULL text passes through (octet_length(NULL)==length(NULL) is
        # NULL, which would wrongly fall to the raise branch); the synth
        # step drops null rows like it drops <3-byte docs — only a
        # genuinely non-ASCII row must abort
        F.when(
            F.col("text").isNull()
            | (F.octet_length("text") == F.length("text")),
            F.col("text"),
        ).otherwise(
            F.expr(
                "raise_error('x_multimodal_png_rgb requires a pure-ASCII "
                "documents fixture: byte-vs-char parity would silently break')"
            )
        ),
    )
    media = MM.synth_rgb_png_from_documents(docs)
    from ..operators.numeric import q6

    out = MM.extract_rgb_stats(media, decoder=MM.decode_media)
    return out.select(
        "media_id",
        "width",
        "height",
        "color_type",
        "n_pixels",
        q6(F.col("r_mean")).alias("r_mean"),
        q6(F.col("g_mean")).alias("g_mean"),
        q6(F.col("b_mean")).alias("b_mean"),
        q6(F.col("luma_mean")).alias("luma_mean"),
    )


@register(
    "ml_quality_classifier",
    oracle="""
    WITH b AS (
      SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10
               AS bkt
      FROM documents
    )
    SELECT CAST(sum(CASE WHEN bkt < 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
           CAST(sum(CASE WHEN bkt >= 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
           TRUE AS auc_ge_090
    FROM b
    """,
)
def ml_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bridge between the ML and LLM-data blocks: train a logistic
    tree ensemble to predict the Gopher keep/drop decision from cheap text
    statistics (token count, mean word length, stopword/punct/repetition
    ratios) — the fastText-style learned quality filter a production
    corpus pipeline distills its rule set into. Labels come from
    x_quality_filter's oracle-checked rules; the fit is MLlib-native
    (no pandas boundary); evaluation on a deterministic md5-mod 80/20
    hash split. Returns one row: AUC + split sizes; AUC ≥ 0.9 asserted
    in tests/test_ml.py (the rules are threshold tests on
    these features — axis-aligned tree splits recover threshold rules
    directly)."""
    from pyspark.ml.classification import GBTClassifier
    from pyspark.ml.evaluation import BinaryClassificationEvaluator
    from pyspark.ml.feature import VectorAssembler

    from ..operators import text as X
    from . import QUERIES

    docs = load_table(spark, sf_dir, "documents")
    feats = docs.select(
        "doc_id",
        X.whitespace_token_count("text").cast("double").alias("n_words"),
        X.mean_word_length("text").alias("mean_wl"),
        X.stopword_ratio("text").alias("stop_r"),
        X.punct_ratio("text").alias("punct_r"),
        X.word_repetition_ratio("text").alias("word_rep"),
    )
    labels = QUERIES["x_quality_filter"](spark, sf_dir).select(
        "doc_id", F.col("keep").cast("double").alias("label")
    )
    # materialize the joined feature+label block ONCE (VERDICT r12 #1):
    # its lineage re-runs the whole x_quality_filter query, and fit,
    # transform, AUC and both split counts are each a full action
    with query_scope():
        data = materialize(feats.join(labels, "doc_id"))
        bucket = (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast("bigint") % 10
        )
        train = data.filter(bucket < 8)
        test = data.filter(bucket >= 8)
        cols = ["n_words", "mean_wl", "stop_r", "punct_r", "word_rep"]
        asm = VectorAssembler(inputCols=cols, outputCol="features", handleInvalid="keep")
        model = GBTClassifier(
            maxIter=10, maxDepth=3, seed=7, labelCol="label"
        ).fit(asm.transform(train))
        scored = model.transform(asm.transform(test))
        auc = BinaryClassificationEvaluator(labelCol="label").evaluate(scored)
        # bracket-verdict output: the md5-bucket split sizes are the exact
        # SQL-checkable side ('0x'||hex)::BIGINT in DuckDB == conv(hex,16,10)
        # in Spark); the fit's quality rides as a boolean (measured AUC 1.0
        # at every SF vs the 0.9 bound asserted in tests/test_ml.py)
        n_train, n_test = train.count(), test.count()
    return spark.createDataFrame(
        [(n_train, n_test, bool(auc >= 0.9))],
        "n_train long, n_test long, auc_ge_090 boolean",
    )


@register(
    "x_multimodal_frames",
    oracle="""
    SELECT doc_id AS media_id,
           unnest(generate_series(0, len(text) * 100, 1000)) AS frame_offset_ms
    FROM documents
    WHERE doc_id % 3 = 2
    """,
)
def x_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 frame sampling: one row per 1000 ms offset of every video's
    (synthetic, metadata-driven) duration — the JVM-side explode a real
    pipeline feeds into seek-decode. Map-side fan-out, no shuffle; the
    decode itself stays behind the documented codec stub."""
    docs = load_table(spark, sf_dir, "documents")
    media = MM.synth_media_from_documents(docs)
    return MM.sample_frames(media, every_ms=1000)


@register(
    "x_embedding_pca_variance",
    oracle="""
    WITH e AS (
      SELECT embedding::DOUBLE[] AS v FROM embeddings
    ), d AS (
      SELECT unnest(v) AS x, generate_subscripts(v, 1) AS i FROM e
    ), s AS (
      SELECT i, var_samp(x) AS vx FROM d GROUP BY i
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM e)       AS n_vectors,
           floor(sum(vx) * 10000 + 0.5) / 10000           AS total_var,
           TRUE AS top8_explained_ge_0125,
           TRUE AS components_nonincreasing
    FROM s
    """,
)
def x_embedding_pca_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA over the embedding corpus: explained variance of the top 8 of
    64 components — the compression-quality report that decides how far
    the 100 TB embedding store can shrink before ANN recall suffers.

    Bracket-verdict form (the eigendecomposition is MLlib-specific —
    eigenvector sign and tie order aren't ANSI-reproducible): the query
    outputs the SQL-checkable exact side — vector count and TOTAL
    variance (= the trace of the covariance matrix = the sum of all 64
    eigenvalues, a basis-free invariant, sum of per-dimension
    var_samp; quantized to 4 decimals because 64-term float summation
    order differs between engines) — plus two booleans: the top-8
    explained-variance fractions sum to ≥ 8/64 = 0.125 (mathematically
    guaranteed: the mean of the 8 largest of 64 nonnegative fractions
    is at least the global mean; measured 0.16–0.20 across SFs) and
    arrive non-increasing. A decomposition or scaling bug flips a
    boolean or moves the trace. Per-component values stay pinned in
    tests/test_ml.py."""
    from ..ml.pipelines import fit_pca, pca_explained_variance

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    model = fit_pca(emb, "embedding", k=8)
    ev = pca_explained_variance(model)
    top8 = float(sum(ev))
    monotone = all(ev[i] >= ev[i + 1] for i in range(len(ev) - 1))
    stats = emb.agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        *[
            F.var_samp(F.element_at("embedding", i + 1)).alias(f"_v{i}")
            for i in range(64)
        ],
    )
    total_var = sum(F.col(f"_v{i}") for i in range(64))
    return stats.select(
        "n_vectors",
        (F.floor(total_var * 10000 + F.lit(0.5)) / 10000).alias("total_var"),
        F.lit(bool(top8 >= 0.125)).alias("top8_explained_ge_0125"),
        F.lit(bool(monotone)).alias("components_nonincreasing"),
    )


@register(
    "ml_fpgrowth_itemsets",
    oracle="""
    WITH b AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), meta AS (
      SELECT CAST(ceil(0.00013 * count(DISTINCT l_orderkey)) AS BIGINT) AS mc
      FROM b
    ), singles AS (
      SELECT CAST(l_partkey AS VARCHAR) AS itemset,
             CAST(1 AS BIGINT) AS set_size,
             CAST(count(*) AS BIGINT) AS freq
      FROM b GROUP BY l_partkey
      HAVING count(*) >= (SELECT mc FROM meta)
    ), pairs AS (
      SELECT CAST(x.l_partkey AS VARCHAR) || ',' || CAST(y.l_partkey AS VARCHAR)
               AS itemset,
             CAST(2 AS BIGINT) AS set_size,
             CAST(count(*) AS BIGINT) AS freq
      FROM b x JOIN b y
        ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
      GROUP BY x.l_partkey, y.l_partkey
      HAVING count(*) >= (SELECT mc FROM meta)
    )
    SELECT itemset, set_size, freq FROM singles
    UNION ALL
    SELECT itemset, set_size, freq FROM pairs
    ORDER BY set_size, itemset
    """,
)
def ml_fpgrowth_itemsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-itemset mining with MLlib's distributed FP-Growth (Han
    et al.'s FP-tree, parallelized PFP-style — no candidate generation,
    two scans of the basket table) over order baskets. minSupport
    0.00013 reproduces MLlib's exact threshold rule (minCount =
    ceil(minSupport * n_baskets) — the identical double product + ceil
    on both engines) so the oracle can re-derive the same frequent
    sets by brute-force SQL for sizes 1-2; the engine output is
    filtered to those sizes for the comparison (size-3+ sets only
    exist at thresholds where the quadratic oracle would be the wrong
    tool). Itemsets are emitted as comma-joined ascending id strings
    on both sides. At 100 TB FP-Growth is THE right plan — support
    counting shuffles item-conditional projections, never enumerating
    per-basket pair explosions the way the oracle does."""
    from pyspark.ml.fpm import FPGrowth

    li = load_table(spark, sf_dir, "lineitem")
    baskets = (
        li.select("l_orderkey", "l_partkey")
        .distinct()
        .groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("items"))
    )
    fp = FPGrowth(itemsCol="items", minSupport=0.00013)
    fi = fp.fit(baskets).freqItemsets
    return (
        fi.filter(F.size("items") <= 2)
        .select(
            F.concat_ws(
                ",",
                F.transform(F.array_sort("items"), lambda x: x.cast("string")),
            ).alias("itemset"),
            F.size("items").cast("long").alias("set_size"),
            F.col("freq").cast("long").alias("freq"),
        )
        .orderBy("set_size", "itemset")
    )


@register(
    "ml_prefixspan_sequences",
    oracle="""
    WITH meta AS (
      SELECT CAST(ceil(0.2 * count(DISTINCT user_id)) AS BIGINT) AS mc
      FROM events
    ), singles AS (
      SELECT event_type AS pattern, CAST(1 AS BIGINT) AS length,
             CAST(count(DISTINCT user_id) AS BIGINT) AS freq
      FROM events GROUP BY event_type
      HAVING count(DISTINCT user_id) >= (SELECT mc FROM meta)
    ), pairs AS (
      SELECT x.event_type || '>' || y.event_type AS pattern,
             CAST(2 AS BIGINT) AS length,
             CAST(count(DISTINCT x.user_id) AS BIGINT) AS freq
      FROM events x JOIN events y
        ON x.user_id = y.user_id
       AND (x.ts < y.ts OR (x.ts = y.ts AND x.event_id < y.event_id))
      GROUP BY x.event_type, y.event_type
      HAVING count(DISTINCT x.user_id) >= (SELECT mc FROM meta)
    )
    SELECT pattern, length, freq FROM singles
    UNION ALL
    SELECT pattern, length, freq FROM pairs
    ORDER BY length, pattern
    """,
)
def ml_prefixspan_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern mining with MLlib's distributed PrefixSpan
    (Pei et al. 2001 — projected-database growth, no candidate
    generation) over per-user event-type sequences ordered by
    (ts, event_id). maxPatternLength=2 pins the surface the quadratic
    SQL oracle can re-derive exactly: length-1 support = users with the
    event, length-2 support for a>b = users with an a-event strictly
    before (same total order) a b-event; minSupport 0.2 reproduces
    MLlib's minCount = ceil(minSupport * n_sequences) rule on both
    engines. Each sequence element is a singleton itemset, so multi-
    item elements cannot appear and the pattern string is the plain
    '>' join. At 100 TB PrefixSpan's projected-database shuffles are
    the right plan; the per-user ordered-pair EXISTS enumeration stays
    confined to the oracle."""
    from pyspark.ml.fpm import PrefixSpan

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    seqs = materialize(
        ev.groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ).alias("s")
        )
        .select(
            F.transform("s", lambda r: F.array(r["event_type"])).alias("sequence")
        )
        # PrefixSpan scans its input once per pattern-growth round —
        # materialize the |users|-row sequence frame so each scan reads
        # the built sequences, not the events aggregation again
    )
    ps = PrefixSpan(minSupport=0.2, maxPatternLength=2, sequenceCol="sequence")
    pat = ps.findFrequentSequentialPatterns(seqs)
    return (
        pat.select(
            F.concat_ws(">", F.flatten("sequence")).alias("pattern"),
            F.size(F.flatten("sequence")).cast("long").alias("length"),
            F.col("freq").cast("long").alias("freq"),
        )
        .orderBy("length", "pattern")
    )


@register(
    "x_multimodal_png_resize",
    oracle="""
    WITH px AS (
      SELECT d.doc_id,
             ord(substr(d.text,
                        CAST(floor(g.i * length(d.text) / 16) AS INT) + 1, 1)) AS p
      FROM documents d,
           (SELECT unnest(generate_series(0, 15)) AS i) g
    ), f AS (
      SELECT doc_id, p, CAST(count(*) AS BIGINT) AS n FROM px GROUP BY doc_id, p
    ), agg AS (
      SELECT doc_id,
             sum(p * n) / 16.0 AS pmean,
             -sum((n / 16.0) * log2(n / 16.0)) AS ent
      FROM f GROUP BY doc_id
    )
    SELECT doc_id AS media_id,
           CAST(16 AS INTEGER) AS width,
           CAST(1 AS INTEGER) AS height,
           CAST(8 AS INTEGER) AS bit_depth,
           CAST(16 AS BIGINT) AS n_pixels,
           floor(pmean * 1000000 + 0.5) / 1000000 AS pixel_mean,
           floor(ent * 1000000 + 0.5) / 1000000   AS pixel_entropy
    FROM agg
    """,
)
def x_multimodal_png_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5's resize/feature-prep leg: synthesize a real grayscale-8 PNG
    per document (pixel row = the document's bytes), nearest-neighbor
    resize it to 16x1 through a FULL decode -> resample -> re-encode
    round trip (multimodal.resize_images: chunk walk, inflate,
    de-filter, integer index sampling src = floor(dst*in/out), then a
    fresh CRC-correct PNG via encode_gray8_png), and decode the
    RESIZED payload again for its stats — so the hash check pins
    decoder, resampler, and encoder together: any slip in any of the
    three shifts the sampled pixels and fails against the SQL replay
    (pixel i of the resized image = the text byte at position
    floor(i*len/16)).

    Scale: two map-only Arrow-batched stages, zero shuffles; the
    resize stage SHRINKS each payload to 16 bytes + container framing
    before anything downstream touches it — the thumbnail/normalize
    step of an image feature pipeline in its 100 TB-correct shape."""
    docs = load_table(spark, sf_dir, "documents")
    media = MM.synth_png_from_documents(docs)
    resized = MM.resize_images(media, out_w=16, out_h=1)
    from ..operators.numeric import q6

    out = MM.extract_image_stats(resized, decoder=MM.decode_media)
    return out.select(
        "media_id",
        "width",
        "height",
        "bit_depth",
        "n_pixels",
        q6(F.col("pixel_mean")).alias("pixel_mean"),
        q6(F.col("pixel_entropy")).alias("pixel_entropy"),
    )


@register(
    "x_multimodal_audio_frames",
    oracle="""
    WITH px AS (
      SELECT d.doc_id,
             CAST(floor((g.i - 1) / 100) AS BIGINT) AS frame_idx,
             ord(substr(d.text, g.i, 1)) AS s
      FROM documents d,
           unnest(generate_series(1, length(d.text))) AS g(i)
      WHERE g.i <= CAST(floor(length(d.text) / 100) AS INT) * 100
    )
    SELECT doc_id AS media_id,
           frame_idx,
           CAST(100 AS BIGINT) AS n_samples,
           floor(sqrt(sum(s * s) / 100.0) * 1000000 + 0.5) / 1000000 AS rms
    FROM px
    GROUP BY doc_id, frame_idx
    ORDER BY media_id, frame_idx
    """,
)
def x_multimodal_audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5's audio frame-sampling leg: synthesize a real RIFF/WAVE per
    document (8-bit PCM samples = the document's bytes), decode it
    through the stdlib container parse, and emit per-100-sample-frame
    RMS energy (multimodal.audio_frame_rms) — the first feature an
    audio pipeline computes (energy/VAD), with the trailing partial
    frame dropped for a rectangular feature matrix.

    Oracle-checked end-to-end: frame f's RMS replays in SQL as
    sqrt(Σ ord(char)² / 100) over text positions [f·100+1, (f+1)·100]
    — exact because the engine accumulates the per-frame sum of
    squares in int64 and takes ONE float sqrt, so summation order
    cannot drift the hash. A header mis-parse, frame offset slip, or
    partial-frame leak changes the row set and fails."""
    docs = load_table(spark, sf_dir, "documents")
    media = MM.synth_wav_from_documents(docs, rate=8000)
    from ..operators.numeric import q6

    out = MM.audio_frame_rms(media, frame_samples=100, decoder=MM.decode_media)
    return out.select(
        "media_id",
        "frame_idx",
        "n_samples",
        q6(F.col("rms")).alias("rms"),
    ).orderBy("media_id", "frame_idx")


@register(
    "x_multimodal_video_decode",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             CAST(floor(length(text) / 16) AS BIGINT) AS n_frames,
             substr(text, 1, CAST(floor(length(text) / 16) AS INT) * 16) AS kept
      FROM documents
    ), ch AS (
      SELECT doc_id, unnest(string_split(kept, '')) AS c
      FROM base WHERE n_frames > 0
    ), f AS (
      SELECT doc_id, c, CAST(count(*) AS BIGINT) AS n FROM ch GROUP BY doc_id, c
    ), s AS (
      SELECT doc_id, c, n, sum(n) OVER (PARTITION BY doc_id) AS tot FROM f
    ), agg AS (
      SELECT doc_id,
             CAST(any_value(tot) AS BIGINT) AS n_pixels,
             sum(ord(c) * n) * 1.0 / any_value(tot) AS pmean,
             -sum((n * 1.0 / tot) * log2(n * 1.0 / tot)) AS ent
      FROM s GROUP BY doc_id
    )
    SELECT b.doc_id AS media_id,
           CAST(8 AS INTEGER) AS width,
           CAST(2 AS INTEGER) AS height,
           b.n_frames,
           b.n_frames * 40 AS duration_ms,
           coalesce(agg.n_pixels, 0) AS n_pixels,
           coalesce(floor(pmean * 1000000 + 0.5) / 1000000, 0.0) AS pixel_mean,
           coalesce(floor(ent * 1000000 + 0.5) / 1000000, 0.0)   AS pixel_entropy
    FROM base b LEFT JOIN agg ON agg.doc_id = b.doc_id
    """,
)
def x_multimodal_video_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5's third real codec leg (VERDICT r7 #2, the video twin of
    x_multimodal_wav_decode / x_multimodal_png_decode): every document
    is synthesized into a genuine uncompressed YUV4MPEG2 stream
    (stdlib only — ASCII stream header, per-picture FRAME markers,
    Cmono luma planes) whose 8x2 frames ARE the document's bytes cut
    into 16-byte pictures (trailing partial dropped);
    extract_video_stats then walks the real container — header parse
    for geometry/fps AND the full frame-marker walk + plane slice for
    the pixel stats — inside one Arrow-batched mapInPandas.

    Oracle-checked end-to-end: decoded luma is exactly the first
    floor(n/16)*16 text bytes, so frame count, fps-derived duration
    (40 ms/frame at F25:1), pixel count, mean, and entropy replay
    exactly in SQL over the text column. A header mis-parse, a FRAME
    walk slip, or a partial-frame leak shifts the rows and fails the
    hash. See operators/multimodal.synth_y4m_from_documents /
    y4m_info / decode_media."""
    docs = load_table(spark, sf_dir, "documents")
    media = MM.synth_y4m_from_documents(docs, frame_w=8, frame_h=2, fps=25)
    from ..operators.numeric import q6

    out = MM.extract_video_stats(media, decoder=MM.decode_media)
    return out.select(
        "media_id",
        "width",
        "height",
        "n_frames",
        "duration_ms",
        "n_pixels",
        q6(F.col("pixel_mean")).alias("pixel_mean"),
        q6(F.col("pixel_entropy")).alias("pixel_entropy"),
    )


@register(
    "x_multimodal_video_frames",
    oracle="""
    WITH px AS (
      SELECT d.doc_id,
             CAST(floor((g.i - 1) / 16) AS BIGINT) AS frame_idx,
             ord(substr(d.text, g.i, 1)) AS v
      FROM documents d,
           unnest(generate_series(1, length(d.text))) AS g(i)
      WHERE g.i <= CAST(floor(length(d.text) / 16) AS INT) * 16
    )
    SELECT doc_id AS media_id,
           frame_idx,
           CAST(16 AS BIGINT) AS n_pixels,
           sum(v) / 16.0 AS frame_mean
    FROM px
    GROUP BY doc_id, frame_idx
    ORDER BY media_id, frame_idx
    """,
)
def x_multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5's video frame-sampling leg (the per-frame twin of
    x_multimodal_audio_frames): synthesize a real Y4M per document,
    decode it through the stdlib container walk, and emit each frame's
    mean luma (multimodal.video_frame_means) — the brightness curve a
    shot-boundary detector thresholds.

    Oracle-checked end-to-end AND bit-exact without rounding: frame
    f's mean replays in SQL as Σ ord(char) / 16.0 over text positions
    [f*16+1, (f+1)*16] — the engine accumulates the per-frame pixel
    sum in exact int64 and performs ONE float division by 16 (a power
    of two, so even that is exact), and integer SUM order cannot drift
    either engine. A FRAME-offset slip or partial-frame leak changes
    the row set and fails."""
    docs = load_table(spark, sf_dir, "documents")
    media = MM.synth_y4m_from_documents(docs, frame_w=8, frame_h=2, fps=25)
    out = MM.video_frame_means(media, decoder=MM.decode_media)
    return out.orderBy("media_id", "frame_idx")


@register(
    "x_multimodal_shot_boundaries",
    oracle="""
    WITH px AS (
      SELECT d.doc_id,
             CAST(floor((g.i - 1) / 16) AS BIGINT) AS frame_idx,
             ord(substr(d.text, g.i, 1)) AS v
      FROM documents d,
           unnest(generate_series(1, length(d.text))) AS g(i)
      WHERE g.i <= CAST(floor(length(d.text) / 16) AS INT) * 16
    ), fm AS (
      SELECT doc_id, frame_idx, sum(v) / 16.0 AS m
      FROM px GROUP BY doc_id, frame_idx
    ), d2 AS (
      SELECT doc_id, frame_idx, m,
             lag(m) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS pm
      FROM fm
    )
    SELECT doc_id AS media_id,
           CAST(count(*) AS BIGINT) AS n_frames,
           CAST(sum(CASE WHEN pm IS NOT NULL AND abs(m - pm) > 16.0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts
    FROM d2 GROUP BY doc_id ORDER BY media_id
    """,
)
def x_multimodal_shot_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-boundary detection on the REAL video decode path — the
    first consumer of the Y4M codec's brightness curve: decode every
    document's Y4M stream (stdlib container walk), take each frame's
    mean luma (exact int64 sum / 16, multimodal.video_frame_means),
    and flag a cut wherever consecutive frames' means jump by more
    than 16 luma levels — the threshold-on-Δbrightness detector every
    video pipeline runs before smarter models. Output is the per-video
    audit (frame count, cut count).

    Bit-exact without rounding end to end: frame means are exact
    (power-of-two division of an exact integer sum), their difference
    and the |Δ| > 16 comparison are single IEEE ops on identical
    doubles, and the counts are integers. A FRAME-walk slip changes
    the cut set and fails the hash."""
    docs = load_table(spark, sf_dir, "documents")
    media = MM.synth_y4m_from_documents(docs, frame_w=8, frame_h=2, fps=25)
    fm = MM.video_frame_means(media, decoder=MM.decode_media)
    w = Window.partitionBy("media_id").orderBy("frame_idx")
    d2 = fm.withColumn("pm", F.lag("frame_mean").over(w))
    return (
        d2.groupBy("media_id")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.sum(
                F.when(
                    F.col("pm").isNotNull()
                    & (F.abs(F.col("frame_mean") - F.col("pm")) > 16.0),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_cuts"),
        )
        .orderBy("media_id")
    )


@register(
    "x_multimodal_silence_segments",
    oracle="""
    WITH px AS (
      SELECT d.doc_id,
             CAST(floor((g.i - 1) / 100) AS BIGINT) AS frame_idx,
             ord(substr(d.text, g.i, 1)) AS s
      FROM documents d,
           unnest(generate_series(1, length(d.text))) AS g(i)
      WHERE g.i <= CAST(floor(length(d.text) / 100) AS INT) * 100
    ), fr AS (
      SELECT doc_id, frame_idx, sqrt(sum(s * s) / 100.0) AS rms
      FROM px GROUP BY doc_id, frame_idx
    ), quiet AS (
      SELECT doc_id, frame_idx,
             frame_idx - row_number() OVER (PARTITION BY doc_id
                                            ORDER BY frame_idx) AS grp
      FROM fr WHERE rms < 100.0
    ), seg AS (
      SELECT doc_id, grp, CAST(count(*) AS BIGINT) AS seg_len
      FROM quiet GROUP BY doc_id, grp
    )
    SELECT f.doc_id AS media_id,
           CAST(count(DISTINCT f.frame_idx) AS BIGINT) AS n_frames,
           CAST(coalesce(count(DISTINCT s.grp), 0) AS BIGINT)
             AS n_quiet_segments,
           CAST(coalesce(max(s.seg_len), 0) AS BIGINT) AS longest_quiet
    FROM fr f LEFT JOIN seg s ON s.doc_id = f.doc_id
    GROUP BY f.doc_id ORDER BY media_id
    """,
)
def x_multimodal_silence_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity-style silence segmentation on the REAL audio
    decode path: decode each document's RIFF/WAVE payload, cut it into
    100-sample frames with exact-int64 RMS (multimodal.audio_frame_rms
    — the VAD energy feature), mark frames under the 100.0 energy
    threshold as quiet, and collapse CONSECUTIVE quiet frames into
    segments with the gaps-and-islands trick (frame_idx − row_number
    per media). Output per media: frame count, quiet-segment count,
    longest quiet run — the trim/split decision audio curation makes
    before feature extraction.

    Determinism: RMS is one float sqrt of an exact rational (identical
    on both engines), the threshold compare is a single-op decision on
    identical doubles, and everything after is integer islands logic.
    The islands trick re-shuffles only the quiet subset, keyed by
    media — at 100 TB the decode scan dominates."""
    docs = load_table(spark, sf_dir, "documents")
    media = MM.synth_wav_from_documents(docs, rate=8000)
    fr = MM.audio_frame_rms(media, frame_samples=100, decoder=MM.decode_media)
    w = Window.partitionBy("media_id").orderBy("frame_idx")
    quiet = (
        fr.filter(F.col("rms") < 100.0)
        .withColumn("grp", F.col("frame_idx") - F.row_number().over(w))
    )
    seg = quiet.groupBy("media_id", "grp").agg(F.count(F.lit(1)).alias("seg_len"))
    frames = fr.groupBy("media_id").agg(F.count(F.lit(1)).alias("n_frames"))
    segstats = seg.groupBy("media_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_quiet_segments"),
        F.max("seg_len").cast("long").alias("longest_quiet"),
    )
    return (
        frames.join(segstats, "media_id", "left")
        .select(
            "media_id",
            "n_frames",
            F.coalesce("n_quiet_segments", F.lit(0)).cast("long").alias(
                "n_quiet_segments"
            ),
            F.coalesce("longest_quiet", F.lit(0)).cast("long").alias("longest_quiet"),
        )
        .orderBy("media_id")
    )


# Full-recompute item-kNN oracle, shared verbatim by the full query and
# the incremental-refresh query: the incremental path's correctness
# claim IS hash-equality against this full recompute (the
# x_incremental_rollup_refresh proof shape).
_ITEM_RECS_FULL_ORACLE = """
    WITH pur AS (
      SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ), pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb, CAST(count(*) AS BIGINT) AS co
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      GROUP BY 1, 2
    ), nb AS (
      SELECT pa, pb, co,
             row_number() OVER (PARTITION BY pa ORDER BY co DESC, pb) AS nrn
      FROM pairs
    ), topnb AS (
      SELECT pa, pb, co FROM nb WHERE nrn <= 20
    ), cand AS (
      SELECT p.cust, pr.pb AS part, CAST(sum(pr.co) AS BIGINT) AS score
      FROM pur p JOIN topnb pr ON pr.pa = p.part
      GROUP BY 1, 2
    ), fresh AS (
      SELECT c.cust, c.part, c.score
      FROM cand c LEFT JOIN pur o ON o.cust = c.cust AND o.part = c.part
      WHERE o.part IS NULL
    ), ranked AS (
      SELECT cust, part, score,
             row_number() OVER (PARTITION BY cust
                                ORDER BY score DESC, part) AS rnk
      FROM fresh
    )
    SELECT cust AS custkey, CAST(rnk AS BIGINT) AS rnk, part AS rec_part, score
    FROM ranked WHERE rnk <= 3 ORDER BY custkey, rnk
    """


def _cooccurrence_counts(li: DataFrame) -> DataFrame:
    """(pa, pb, co): ordered pairs of distinct parts bought in the same
    order, with their co-purchase count (the per-order explode)."""
    a = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pb"))
    return (
        a.join(b, "k")
        .filter(F.col("pa") != F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).cast("long").alias("co"))
    )


def pair_counts(li: DataFrame, orders_side: DataFrame) -> DataFrame:
    """Co-purchase counts over the line items of ``orders_side``'s
    orders only (``li``: l_orderkey, l_partkey)."""
    return _cooccurrence_counts(
        li.join(
            orders_side.select("o_orderkey"),
            li["l_orderkey"] == orders_side["o_orderkey"],
            "left_semi",
        )
    )


def purchases(li: DataFrame, orders_side: DataFrame) -> DataFrame:
    """Distinct (cust, part) purchase set of ``orders_side``'s orders."""
    return (
        orders_side.join(li, orders_side["o_orderkey"] == li["l_orderkey"])
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part"))
        .distinct()
    )


def top_neighbors(pairs: DataFrame) -> DataFrame:
    """Each item's TOP-20 co-purchase neighbors: count desc, partkey
    tiebreak, so the truncation is deterministic."""
    wn = Window.partitionBy("pa").orderBy(F.desc("co"), "pb")
    return (
        pairs.withColumn("nrn", F.row_number().over(wn))
        .filter(F.col("nrn") <= 20)
        .drop("nrn")
    )


def split_orders_at_watermark(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(li, corpus_o, delta_o): orders split 30 days behind the max
    order date — the corpus side stands in for persisted state, the
    delta side for the new batch."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.col("o_orderdate").cast("date").alias("day")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    cutoff = o.agg(F.date_sub(F.max("day"), 30).alias("c")).collect()[0]["c"]
    return li, o.filter(F.col("day") <= F.lit(cutoff)), o.filter(F.col("day") > F.lit(cutoff))


def refresh_item_neighbors(
    li: DataFrame,
    delta_o: DataFrame,
    corpus_pairs: DataFrame,
    corpus_topnb: DataFrame,
    corpus_pur: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """The incremental item-kNN refresh (steps 1-4 of
    ``ml_item_recs_incremental``): fold the ``delta_o`` orders into the
    corpus state (pair counts, their top-20 truncation, purchase set)
    and return the refreshed ``(topnb, pur)``. The state may be lazy or
    persisted; the rows are the same."""
    delta_pairs = pair_counts(li, delta_o)
    merged = (
        corpus_pairs.unionByName(delta_pairs)
        .groupBy("pa", "pb")
        .agg(F.sum("co").cast("long").alias("co"))
    )
    touched = delta_pairs.select("pa").distinct()
    topnb = corpus_topnb.join(touched, "pa", "left_anti").unionByName(
        top_neighbors(merged.join(touched, "pa", "left_semi"))
    )
    pur = corpus_pur.unionByName(purchases(li, delta_o)).distinct()
    return topnb, pur


def _top3_recs(pur: DataFrame, topnb: DataFrame) -> DataFrame:
    """Serving stages: score candidate parts by summed neighbor counts
    over a customer's purchases, drop owned parts, keep the top 3."""
    cand = (
        pur.join(topnb, pur["part"] == topnb["pa"])
        .groupBy("cust", "pb")
        .agg(F.sum("co").cast("long").alias("score"))
        .withColumnRenamed("pb", "part")
    )
    fresh = cand.join(pur, ["cust", "part"], "left_anti")
    w = Window.partitionBy("cust").orderBy(F.desc("score"), "part")
    return (
        fresh.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            F.col("cust").alias("custkey"),
            F.col("rnk").cast("long").alias("rnk"),
            F.col("part").alias("rec_part"),
            "score",
        )
        .orderBy("custkey", "rnk")
    )


@register(
    "ml_item_cooccurrence_recs",
    oracle=_ITEM_RECS_FULL_ORACLE,
)
def ml_item_cooccurrence_recs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering, the exactly-checkable
    recommender (the co-occurrence-kNN baseline every recsys ships
    before factorization models): each item keeps its TOP-20
    co-purchase neighbors (deterministic count-desc + partkey-tiebreak
    truncation — the neighborhood pruning every production item-kNN
    does, or the candidate join is |purchases|×|neighbors| unbounded);
    candidate parts are scored by summed neighbor counts over a
    customer's purchases, already-owned parts dropped, top 3 kept.
    Integer scores with partkey tiebreaks make the whole ranking
    hash-checkable — the complement to the bracket-verdict ALS path.

    Scale shape: the pair build is the triangle query's bounded
    per-order explode (≤7 lines per TPC-H order; cap basket size first
    at 100 TB — same documented guard); the neighbor truncation is a
    per-item window over that item's co-occurrence row set; candidate
    generation is one part-keyed join of the purchase frame against
    the ≤20-row-per-part neighbor table plus a (cust, part)
    aggregation, so the intermediate is ≤ 20·|purchases| rows BY
    CONSTRUCTION (the untruncated variant OOMed a 1 GiB-heap session
    at sf0.1 — measured, which is the point of the cap); the ownership
    filter is a left anti-join on the same keys; the final top-3 is a
    per-customer window over candidates only. Every exchange is keyed
    on part or customer ids — no global stage anywhere."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # Purchase set materialized ONCE (r14 optimization): pur feeds the
    # candidate join AND the ownership anti-join, and the committed
    # before-plan shows the orders⋈lineitem + distinct subtree planned
    # TWICE with zero exchange reuse — two fact-table passes for one
    # set. |pur| is the distinct (cust, part) frame (2 int columns).
    pur = materialize(purchases(li, o))
    return _top3_recs(pur, top_neighbors(_cooccurrence_counts(li)))


@register(
    "ml_item_recs_incremental",
    oracle=_ITEM_RECS_FULL_ORACLE,
)
def ml_item_recs_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental item-kNN neighborhood refresh (VERDICT r9 #3) — the
    delta-vs-corpus pattern proven for MinHash (x_minhash_incremental)
    and rollups (x_incremental_rollup_refresh), applied to the
    recommender: orders are split at a watermark 30 days behind the max
    order date, the corpus side standing in for the PERSISTED state a
    production refresh reads instead of rebuilding (pair-count table +
    its top-20 truncation), the delta side for the new batch.

    Why pair counts decompose exactly: every co-occurrence pair comes
    from a single order (both legs share l_orderkey), and an order lies
    entirely on one side of an order-date watermark — so
    pairs(corpus ∪ delta) = pairs(corpus) ⊎ pairs(delta), an integer
    count merge keyed on (pa, pb), never a corpus re-pair. The refresh
    (steps 1-4 are ``refresh_item_neighbors``, which bench.py's
    item_recs_refresh leg runs against persisted state):

    1. delta pair build — only delta lineitem explodes (per-refresh
       pair cost is |delta orders|·basket², never corpus-sized);
    2. count merge — (pa, pb)-keyed sum of persisted counts ⊎ delta
       counts (here a union+groupBy; in production a MERGE upsert
       with addition on match);
    3. re-truncation ONLY for touched items — delta pa's re-window
       over their merged counts (left-semi), untouched neighborhoods
       carry over verbatim (left-anti against touched) — a mega-hub
       item untouched by the delta never re-sorts;
    4. purchase-set union (distinct (cust, part) is a set, so the
       incremental form is corpus ∪ delta distinct — in production an
       anti-join insert into the persisted purchase table);
    5. the same candidate/ownership/top-3 serving stages as the full
       query.

    The oracle is the FULL recompute (shared string with
    ml_item_cooccurrence_recs), so the driver's hash gate IS the proof
    that the incremental algebra loses nothing. Hub-skew posture for
    the touched-item re-window: SCALE.md's item_knn_hub_topk row."""
    li, corpus_o, delta_o = split_orders_at_watermark(spark, sf_dir)
    # persisted-state stand-ins (production reads these, it does not
    # rebuild them — the checker is stateless, same stance as
    # x_incremental_rollup_refresh). r14 optimization NOTE: materializing
    # corpus_pairs/delta_pairs/pur with localCheckpoint was tried and
    # REVERTED — measured 9.0 s -> 14.8 s (eager) / 10.7 s (lazy) at
    # sf0.1: the duplicated subtrees overlap inside one scheduled DAG
    # across 32 cores, while a checkpoint serializes them into
    # driver-blocking jobs and its LogicalRDD blocks AQE. The
    # production refresh (bench.py's item_recs_refresh leg) reads
    # PERSISTED corpus state instead of rebuilding it, so the
    # re-derivation lives only in this stateless audit-folding row.
    corpus_pairs = pair_counts(li, corpus_o)
    topnb, pur = refresh_item_neighbors(
        li, delta_o, corpus_pairs, top_neighbors(corpus_pairs), purchases(li, corpus_o)
    )
    return _top3_recs(pur, topnb)


@register(
    "ml_als_factorization",
    oracle="""
    WITH r AS (
      SELECT o.o_custkey AS u, l.l_partkey AS i, CAST(count(*) AS BIGINT) AS cnt
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY 1, 2
    )
    SELECT CAST(count(*) AS BIGINT) AS n_ratings,
           CAST(count(DISTINCT u) AS BIGINT) AS n_users,
           CAST(count(DISTINCT i) AS BIGINT) AS n_items,
           TRUE AS rmse_le_05,
           TRUE AS factor_dims_match
    FROM r
    """,
)
def ml_als_factorization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matrix-factorization recommender: MLlib ALS (rank 8, 5
    iterations, seeded) on the customer×part purchase-count matrix —
    the factorization complement to the exactly-checkable
    ml_item_cooccurrence_recs, completing the recommender pair every
    production recsys ships (co-occurrence kNN for coverage,
    factorization for generalization).

    Bracket-verdict form like the GBT queries (ALS's normal-equation
    solves are not ANSI SQL and its float reductions shift with
    partitioning): the SQL-checkable exact side pins the ratings
    matrix itself (n_ratings / n_users / n_items — the data contract),
    plus booleans that train RMSE ≤ 0.5 (measured 0.33 / 0.14 / 0.11
    at sf0.001/0.01/0.1) and that the learned factor matrices have
    exactly n_users and n_items rank-8 rows. ALS is the canonical
    'iterate two broadcast-joined least-squares' Spark workload — each
    half-iteration shuffles factors by the other side's key, the same
    node-keyed exchange discipline as the graph family."""
    from pyspark.ml.evaluation import RegressionEvaluator
    from pyspark.ml.recommendation import ALS

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    r = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy(F.col("o_custkey").alias("user"), F.col("l_partkey").alias("item"))
        .agg(F.count(F.lit(1)).cast("float").alias("rating"))
    )
    r = materialize(r)  # ALS iterates over it; sever the join lineage
    als = ALS(
        rank=8,
        maxIter=5,
        regParam=0.1,
        seed=42,
        userCol="user",
        itemCol="item",
        ratingCol="rating",
        coldStartStrategy="drop",
    )
    model = als.fit(r)
    rmse = RegressionEvaluator(
        metricName="rmse", labelCol="rating", predictionCol="prediction"
    ).evaluate(model.transform(r))
    n_ratings = r.count()
    n_users = r.select("user").distinct().count()
    n_items = r.select("item").distinct().count()
    dims_ok = (
        model.userFactors.count() == n_users
        and model.itemFactors.count() == n_items
        and len(model.userFactors.first()["features"]) == 8
    )
    # the fit persists both factor RDDs; nothing reads them after this
    release(model.userFactors)
    release(model.itemFactors)
    return spark.createDataFrame(
        [(n_ratings, n_users, n_items, bool(rmse <= 0.5), bool(dims_ok))],
        "n_ratings long, n_users long, n_items long, rmse_le_05 boolean, factor_dims_match boolean",
    )
