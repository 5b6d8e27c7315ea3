"""Per-key time-series window feature library (SURVEY §2.5 W1-W13).

This is the reference's core IP — lags, rolling means/stddevs, RSI, MACD,
momentum, z-score anomaly flags — re-expressed as native Spark window
expressions (reference: ml-algorithms/regression.py:75-128,
ml-algorithms/classifier.py:18-41, data-pipeline/main-pipeline/
spark_stream.py:131-147, ml-algorithms/ml_impl.py:73-115).

Frame conventions — the reference disagrees with itself (SURVEY §7 hard
part #1): its Spark scripts use trailing-EXCLUSIVE frames ``(-k, -1)``
(regression.py:76-78) while its pandas twins use inclusive ``rolling(k)``
(ml_impl.py:84). Here the convention is an explicit parameter:

* ``inclusive=False`` (default) → ROWS BETWEEN k PRECEDING AND 1 PRECEDING
* ``inclusive=True``            → ROWS BETWEEN k-1 PRECEDING AND CURRENT ROW
  with an optional pandas-style ``min_periods`` guard (count over the frame
  must reach ``min_periods``, else NULL).

Stddev flavors are likewise pinned per operator: ``rolling_std`` is SAMPLE
stddev (ddof=1, matching pandas ``.rolling().std()`` and Spark ``stddev``),
``zscore`` is POPULATION (ddof=0, matching scipy ``stats.zscore`` at
spark_stream.py:138).

Execution model: every function takes/returns a DataFrame and only adds
window Column expressions — Catalyst plans ONE exchange (hash partition on
the key) followed by one sort for ALL features that share the same
(partition, order) spec, so a 20-feature build costs a single shuffle.

Scale posture (100 TB): window state per key is bounded by the frame
(rows-frames only); the shuffle hash-partitions on the series key. For
heavy-hitter keys (one instrument = billions of rows) rows-frames still
process a key on one task — mitigations: pre-partition the table by key
(``partitionBy`` layout at write time) so the exchange is avoided, and
bound per-key history with a date filter before the window. Ranking/global
aggregations over skewed keys should use the two-stage salted variants in
:mod:`.relational`.
"""

from __future__ import annotations

import sys
from collections.abc import Sequence

from pyspark.sql import DataFrame, Window, WindowSpec
from pyspark.sql import functions as F
from pyspark.sql.column import Column

# Labels whose bounded-spine annotation has already been printed this
# process — one line per distinct spine, not one per plan construction.
_ANNOUNCED_SPINES: set[str] = set()


def series_window(keys: str | Sequence[str], order: str | Sequence[str]) -> WindowSpec:
    """The shared (partitionBy key, orderBy time) spec.

    All features built from one spec share a single exchange+sort in the
    physical plan. ``order`` should include a unique tiebreaker column when
    the time column can tie (deterministic lag/rank results).
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    order = [order] if isinstance(order, str) else list(order)
    return Window.partitionBy(*keys).orderBy(*order)


def trailing_frame(w: WindowSpec, k: int, inclusive: bool = False) -> WindowSpec:
    """k-row trailing frame; exclusive (-k,-1) or inclusive (-(k-1),0)."""
    if inclusive:
        return w.rowsBetween(-(k - 1), 0)
    return w.rowsBetween(-k, -1)


# -- W1/W2: lags & leads ----------------------------------------------------


def with_lags(df: DataFrame, col: str, offsets: Sequence[int], w: WindowSpec) -> DataFrame:
    """price_lag_k columns (reference regression.py:81-86, classifier.py:29-31)."""
    for k in offsets:
        df = df.withColumn(f"{col}_lag_{k}", F.lag(col, k).over(w))
    return df


def with_lead(df: DataFrame, col: str, out: str, w: WindowSpec, n: int = 1) -> DataFrame:
    """Next-step target (reference regression.py:117-127 lead; classifier.py:23
    uses lag(price,-1) which is the same operator)."""
    return df.withColumn(out, F.lead(col, n).over(w))


# -- W3/W4/W12: rolling means ----------------------------------------------


def rolling_mean(
    df: DataFrame,
    col: str,
    out: str,
    w: WindowSpec,
    k: int,
    inclusive: bool = False,
    min_periods: int | None = None,
) -> DataFrame:
    """Rolling average with an explicit frame convention.

    exclusive: ma5/ma10/MA_3/7DAY_MA (reference regression.py:76-77,:89-90,
    classifier.py:19,:25,:35). inclusive + min_periods=k: pandas
    ``rolling(k).mean()`` (spark_stream.py:145, ml_impl.py:83-84).
    """
    frame = trailing_frame(w, k, inclusive)
    expr = F.avg(col).over(frame)
    if min_periods is not None:
        expr = F.when(F.count(col).over(frame) >= min_periods, expr)
    return df.withColumn(out, expr)


def rolling_std(
    df: DataFrame,
    col: str,
    out: str,
    w: WindowSpec,
    k: int,
    inclusive: bool = False,
    min_periods: int | None = None,
) -> DataFrame:
    """Rolling SAMPLE stddev (ddof=1) — volatility14 / Volatility_3
    (reference regression.py:78,:93, classifier.py:26; pandas twin
    ml_impl.py:87)."""
    frame = trailing_frame(w, k, inclusive)
    expr = F.stddev_samp(col).over(frame)
    if min_periods is not None:
        expr = F.when(F.count(col).over(frame) >= min_periods, expr)
    return df.withColumn(out, expr)


# -- W6: RSI ----------------------------------------------------------------


def with_rsi(
    df: DataFrame, col: str, w: WindowSpec, k: int = 14, out: str = "rsi", eps: float = 1e-6
) -> DataFrame:
    """Relative Strength Index over a trailing-exclusive k-frame.

    avg gains / avg losses of 1-step diffs, epsilon-guarded ratio
    (reference regression.py:99-108). The pandas twin (ml_impl.py:106-115)
    uses an inclusive min_periods=1 frame — the conventions disagree in the
    reference; this engine pins the Spark-script convention and documents
    the divergence.
    """
    diff = F.col(col) - F.lag(col, 1).over(w)
    frame = trailing_frame(w, k, inclusive=False)
    gain = F.avg(F.when(diff > 0, diff).otherwise(F.lit(0.0))).over(frame)
    loss = F.avg(F.when(diff < 0, -diff).otherwise(F.lit(0.0))).over(frame)
    rs = gain / (loss + F.lit(eps))
    return df.withColumn(out, F.lit(100.0) - F.lit(100.0) / (F.lit(1.0) + rs))


# -- W4/W8: MACD (SMA flavor, for reference parity) -------------------------


def with_macd(
    df: DataFrame,
    col: str,
    w: WindowSpec,
    fast: int = 12,
    slow: int = 26,
    out: str = "macd",
) -> DataFrame:
    """MACD = ma_fast − ma_slow over trailing-INCLUSIVE frames.

    The reference names these ema12/ema26 but computes plain rolling means
    over rowsBetween(-12,0)/(-26,0) (regression.py:112-115) — replicated
    as SMAs for oracle parity. A true exponential MACD cannot be a fixed
    window frame (infinite memory); see ``with_ema`` for the real thing.
    """
    fast_ma = F.avg(col).over(w.rowsBetween(-fast, 0))
    slow_ma = F.avg(col).over(w.rowsBetween(-slow, 0))
    return df.withColumn(out, fast_ma - slow_ma)


def with_ema(
    df: DataFrame,
    col: str,
    out: str,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    span: int,
    block_factor: int = 25,
) -> DataFrame:
    """True exponential moving average (extension beyond the reference).

    EMA is a linear recurrence, not a fixed-frame window. The naive
    closed form (running sums of x_i·a^(−i) with a GLOBAL row-number
    exponent) overflows double once the series passes ~709/|ln a| rows
    (~1,750 at span 5), so this uses a BLOCK-REBASED exact form instead:

    - rows split into blocks of L = block_factor·(span+1) rows, so every
      exponent is bounded by L·|ln a| ≈ 2·block_factor ≈ 50 — finite at
      ANY series length;
    - num_t = a^pos·( Vrun_t + a^L·(Vtot_prev − Vrun_{t−L}) ) where
      v_i = x_i·a^(−pos_i), Vrun is the running sum within the row's
      block, and the lag-L terms splice in the previous block's suffix;
    - den_t = (1 − a^min(t,L)) / (1 − a), the geometric sum in closed
      form.

    The trailing window is truncated to L rows; the dropped tail carries
    relative weight a^L ≈ e^(−2·block_factor) ≈ 2e−22 at the default —
    far below double precision, so the truncation is exact to machine
    precision while making the operator streamable with O(L) state.
    Every step is ANSI-expressible, so the oracle can mirror it exactly.

    Partitioning: the (key, block) windows hash-cluster on a superset of
    the (key) window's keys, so Catalyst satisfies both with ONE exchange
    on key (plus an extra sort), keeping the one-shuffle feature-block
    posture. Nulls in ``col`` would skew num vs den — forward-fill first.
    """
    alpha = 2.0 / (span + 1.0)
    a = 1.0 - alpha
    L = block_factor * (span + 1)
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    d = (
        df.withColumn("_g", F.row_number().over(w) - 1)
        .withColumn("_pos", F.col("_g") % L)
        .withColumn("_blk", F.floor(F.col("_g") / F.lit(L)).cast("long"))
        .withColumn("_v", F.col(col) * F.pow(F.lit(a), -F.col("_pos")))
    )
    wb = Window.partitionBy(*key_cols, "_blk").orderBy(*order_cols)
    # _vtot = last(_vrun) rather than an independent whole-block sum: both
    # engines then derive the block total from the SAME sequential
    # accumulation as the running sum, keeping the oracle bit-identical
    # (an unordered partition sum may accumulate in a different order).
    d = d.withColumn(
        "_vrun", F.sum("_v").over(wb.rowsBetween(Window.unboundedPreceding, 0))
    ).withColumn(
        "_vtot",
        F.last("_vrun").over(
            wb.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ),
    )
    prev = F.coalesce(F.lag("_vtot", L).over(w) - F.lag("_vrun", L).over(w), F.lit(0.0))
    num = F.pow(F.lit(a), F.col("_pos")) * (
        F.col("_vrun") + F.pow(F.lit(a), F.lit(float(L))) * prev
    )
    den = (F.lit(1.0) - F.pow(F.lit(a), F.least(F.col("_g") + 1, F.lit(L)))) / F.lit(1.0 - a)
    return d.withColumn(out, num / den).drop("_g", "_pos", "_blk", "_v", "_vrun", "_vtot")


# -- W7: momentum -----------------------------------------------------------


def with_momentum(df: DataFrame, col: str, w: WindowSpec, k: int, out: str) -> DataFrame:
    """momentum_k = x − lag_k(x) (reference regression.py:88, classifier.py:34)."""
    return df.withColumn(out, F.col(col) - F.lag(col, k).over(w))


# -- W9: volume features ----------------------------------------------------


def with_volume_spike(
    df: DataFrame,
    vol_col: str,
    w: WindowSpec,
    k: int = 5,
    factor: float = 1.5,
    ma_out: str = "vol_ma",
    flag_out: str = "volume_spike",
) -> DataFrame:
    """vol_ma = trailing-exclusive mean(volume); spike = volume > factor*ma
    (reference regression.py:94-96)."""
    ma = F.avg(vol_col).over(trailing_frame(w, k))
    df = df.withColumn(ma_out, ma)
    return df.withColumn(
        flag_out, F.when(F.col(vol_col) > F.lit(factor) * F.col(ma_out), 1).otherwise(0)
    )


# -- W10: forward fill ------------------------------------------------------


def forward_fill(df: DataFrame, cols: Sequence[str], w: WindowSpec) -> DataFrame:
    """last(col, ignorenulls) over unbounded-preceding (reference
    classifier.py:39-41)."""
    filled = w.rowsBetween(Window.unboundedPreceding, 0)
    for c in cols:
        df = df.withColumn(c, F.last(c, ignorenulls=True).over(filled))
    return df


# -- W11: first difference / pct change -------------------------------------


def with_diff_pct(
    df: DataFrame,
    col: str,
    w: WindowSpec,
    diff_out: str = "diff",
    pct_out: str = "pct_change",
) -> DataFrame:
    """1-step diff and percentage change, PER KEY.

    The reference's analyzed endpoint diffs across company boundaries
    (global pandas ``.diff()``, spark_stream.py:131-132 — a quirk, not a
    semantic); the engine partitions by the series key, which is the
    evident intent. Divergence documented per SURVEY §7 #6.
    """
    prev = F.lag(col, 1).over(w)
    df = df.withColumn(diff_out, F.col(col) - prev)
    return df.withColumn(pct_out, (F.col(col) - prev) / F.nullif(prev, F.lit(0)) * 100.0)


# -- A7 + W13: z-score anomaly flag -----------------------------------------


def zscore(col: Column | str, w: WindowSpec) -> Column:
    """Population z-score (ddof=0) over the full partition — matches scipy
    ``stats.zscore`` (reference spark_stream.py:136-138). Uses an
    unbounded frame; NULL when stddev is 0 (constant series)."""
    c = F.col(col) if isinstance(col, str) else col
    full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (c - F.avg(c).over(full)) / F.nullif(F.stddev_pop(c).over(full), F.lit(0))


def with_anomaly_flag(
    df: DataFrame,
    col: str,
    w: WindowSpec,
    threshold: float = 3.0,
    z_out: str = "zscore",
    flag_out: str = "anomaly",
) -> DataFrame:
    """|z| > 3 → 'Anomaly' else 'Normal' (reference spark_stream.py:134-142;
    NULL z — e.g. first diff of a series — maps to 'Normal' like the
    reference's fillna(0))."""
    df = df.withColumn(z_out, zscore(col, w))
    return df.withColumn(
        flag_out,
        F.when(F.abs(F.coalesce(F.col(z_out), F.lit(0.0))) > threshold, "Anomaly").otherwise(
            "Normal"
        ),
    )


# -- OHLC candle resampling (the canonical tick→bar downsample) -------------


def ohlc_bars(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    bucket_seconds: int = 21600,
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Per-series OHLC bars: (key, bucket, open, high, low, close,
    n_trades) over ``bucket_seconds`` buckets.

    One window pass tags each row's ascending and descending rank within
    its (key, bucket) — (ts, tiebreak) ordered, so timestamp ties can't
    flip open/close between engines — then one groupBy folds the bars.
    Two exchanges total, both keyed on the series; values pass through
    untouched (no float arithmetic), so results are raw-value exact.
    Bucketing via floor(unix_timestamp/secs), the engine-wide pairing
    with DuckDB's floor(epoch())."""
    bucket = F.timestamp_seconds(
        F.floor(F.unix_timestamp(ts_col) / bucket_seconds) * bucket_seconds
    ).alias("bucket")
    wb_a = Window.partitionBy(key_col, "bucket").orderBy(ts_col, tiebreak_col)
    wb_d = Window.partitionBy(key_col, "bucket").orderBy(
        F.desc(ts_col), F.desc(tiebreak_col)
    )
    tagged = df.select(key_col, bucket, value_col, ts_col, tiebreak_col).select(
        key_col,
        "bucket",
        value_col,
        F.row_number().over(wb_a).alias("rn_a"),
        F.row_number().over(wb_d).alias("rn_d"),
    )
    return tagged.groupBy(key_col, "bucket").agg(
        F.max(F.when(F.col("rn_a") == 1, F.col(value_col))).alias("open"),
        F.max(value_col).alias("high"),
        F.min(value_col).alias("low"),
        F.max(F.when(F.col("rn_d") == 1, F.col(value_col))).alias("close"),
        F.count(F.lit(1)).cast("long").alias("n_trades"),
    )


def merge_ohlc_bars(
    bars: DataFrame,
    key_col: str = "user_id",
    bucket_col: str = "bucket",
    coarse_seconds: int = 86400,
    out_bucket: str = "day",
) -> DataFrame:
    """Roll fine OHLC bars up to a coarser grain WITHOUT rescanning
    ticks: open of the earliest sub-bar, close of the latest, max/min/
    sum of the rest. Lossless for any coarse grain that is a multiple
    of the fine grain (hash-proved against the direct-from-ticks bar in
    w_ohlc_daily_from_bars) — the mergeable-state posture that lets a
    100 TB store keep only finest-grain bars and answer every coarser
    granularity from them. One groupBy over the (already tiny) bar
    frame."""
    coarse = F.timestamp_seconds(
        F.floor(F.unix_timestamp(bucket_col) / coarse_seconds) * coarse_seconds
    ).alias(out_bucket)
    return (
        bars.select(
            key_col, coarse, bucket_col, "open", "high", "low", "close", "n_trades"
        )
        .groupBy(key_col, out_bucket)
        .agg(
            F.max_by("open", F.negate(F.unix_timestamp(bucket_col))).alias("open"),
            F.max("high").alias("high"),
            F.min("low").alias("low"),
            F.max_by("close", F.unix_timestamp(bucket_col)).alias("close"),
            F.sum("n_trades").cast("long").alias("n_trades"),
        )
    )


# -- CUSUM change-point statistic (sequential drift detection) --------------


def with_cusum(
    df: DataFrame,
    value_col: str,
    w: WindowSpec,
    target: Column,
    slack: Column,
    out: str = "cusum",
) -> DataFrame:
    """One-sided (upper) CUSUM statistic per key:

        s_t = max(0, s_{t-1} + (x_t - target - slack))

    computed WITHOUT a recursive/stateful pass via the Lindley-recursion
    closed form: with d_t = x_t - target - slack and prefix sums
    S_t = sum(d_1..d_t), the reflected walk is

        s_t = S_t - min(0, min_{j<=t} S_j)

    so two cumulative windows (running sum + running min) over the same
    sort replace the per-row recurrence — native whole-stage-codegen
    exprs, no applyInPandas, one exchange when the caller's downstream
    work shares ``w``'s partitioning. ``target``/``slack`` may be plain
    literals or per-key window aggregates (e.g. the key's mean and
    k*sigma); evaluating them over ``w``'s partition keeps everything in
    the same exchange.

    The page/CUSUM alert rule (s_t > h) is left to the caller so the
    decision threshold can be quantized consistently with its oracle
    twin (compare q6(s) to q6(h), never raw floats to raw floats —
    FIXTURES.md §6)."""
    cum = w.rowsBetween(Window.unboundedPreceding, 0)
    d = F.col(value_col) - target - slack
    df = df.withColumn("_cusum_s", F.sum(d).over(cum))
    df = df.withColumn(
        out,
        F.col("_cusum_s") - F.least(F.lit(0.0), F.min("_cusum_s").over(cum)),
    )
    return df.drop("_cusum_s")


def kaplan_meier(
    subjects: DataFrame,
    duration_col: str = "dur",
    event_col: str = "ev",
) -> DataFrame:
    """Kaplan–Meier survival estimator over a subject frame (one row per
    subject, ``duration_col`` = observed duration, ``event_col`` = 1 for
    an event, 0 for right-censored). Returns one row per EVENT duration:
    ``(duration_days, n_at_risk, n_events, survival)``, survival un-
    quantized (callers quantize at the output boundary).

    Scale posture: the subject frame is grouped by duration FIRST (one
    data-sized aggregation), so every window below runs over the
    distinct-duration spine — thousands of rows, not subjects. n_at_risk
    is the reverse-cumulative subject count over that spine
    (``sum(n_total) OVER (ORDER BY dur DESC)``) — no spine×subjects
    cross join. The spine windows are unpartitioned by construction
    (a survival curve is a global ordered product) but run on a
    duration-grouped frame whose cardinality is bounded by the observed
    duration range, not the corpus.

    Absorbed-step guard: when a step converts ALL remaining at-risk
    subjects (``n_events == n_at_risk``) the survival factor is exactly
    0 — ``ln(0)`` is undefined (DuckDB throws, Spark's ``log`` returns
    NULL which ``sum`` silently skips, inflating the tail). Survival is
    forced to exactly 0.0 at and after any such step via a cumulative
    flag, and only strictly-positive factors enter the log-sum. (Such a
    step is necessarily the last event duration — nobody remains — but
    the guard is structural, not positional.)"""
    dur, ev = F.col(duration_col), F.col(event_col)
    grouped = subjects.groupBy(duration_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.sum(ev).cast("long").alias("n_events"),
    )
    # guarded bounded-spine contract (spine_window, VERDICT r7 #5): the
    # distinct-duration frame must stay calendar-scale, never subjects
    grouped, wk_base = spine_window(
        grouped, [duration_col], max_rows=65536, label="km-duration-spine"
    )
    w_desc = Window.orderBy(dur.desc()).rowsBetween(Window.unboundedPreceding, 0)
    risk = grouped.select(
        dur,
        "n_events",
        F.sum("n_total").over(w_desc).alias("n_at_risk"),
    ).filter(F.col("n_events") > 0)
    wk = wk_base.rowsBetween(Window.unboundedPreceding, 0)
    absorbed = F.max(
        F.when(F.col("n_events") == F.col("n_at_risk"), 1).otherwise(0)
    ).over(wk)
    logsum = F.sum(
        F.when(
            F.col("n_events") < F.col("n_at_risk"),
            F.log(1.0 - F.col("n_events") * 1.0 / F.col("n_at_risk")),
        ).otherwise(F.lit(0.0))
    ).over(wk)
    return risk.select(
        dur.cast("long").alias("duration_days"),
        "n_at_risk",
        "n_events",
        F.when(absorbed == 1, F.lit(0.0)).otherwise(F.exp(logsum)).alias("survival"),
    )


def nelson_aalen(
    subjects: DataFrame,
    duration_col: str = "dur",
    event_col: str = "ev",
) -> DataFrame:
    """Nelson–Aalen cumulative-hazard estimator over the same subject
    frame as :func:`kaplan_meier` (one row per subject; duration +
    event/censor flag). Returns one row per EVENT duration:
    ``(duration_days, n_at_risk, n_events, cum_hazard)`` with
    H(t) = Σ_{tᵢ≤t} dᵢ/nᵢ — KM's additive sibling, preferred when the
    hazard itself (not survival) is the readout, and the standard
    input to hazard-ratio eyeballing.

    Same scale posture as kaplan_meier: subjects collapse to the
    distinct-duration spine first, at-risk counts are the reverse
    cumulative over that spine, and the spine_window guard names the
    bound. Determinism is STRONGER than KM's ln/exp chain: each hazard
    increment is quantized ONCE to an int64 nano-unit (floor of
    dᵢ·1e9/nᵢ + .5) and the cumulative sum runs in EXACT int64,
    order-independent. Cross-engine parity holds because both engines
    evaluate the identical IEEE-754 expression; the quantization step
    itself is exact integer arithmetic only while dᵢ·1e9 stays below
    2^53 (dᵢ ≲ 9.0e6 events per duration — past that the double
    product rounds, identically on both engines, so parity survives but
    the "exact" label does not; ADVICE r9) — the
    w_page_hinkley_drift integer-innovation discipline applied to
    survival analysis."""
    dur, ev = F.col(duration_col), F.col(event_col)
    grouped = subjects.groupBy(duration_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.sum(ev).cast("long").alias("n_events"),
    )
    grouped, wk_base = spine_window(
        grouped, [duration_col], max_rows=65536, label="na-duration-spine"
    )
    w_desc = Window.orderBy(dur.desc()).rowsBetween(Window.unboundedPreceding, 0)
    risk = grouped.select(
        dur,
        "n_events",
        F.sum("n_total").over(w_desc).alias("n_at_risk"),
    ).filter(F.col("n_events") > 0)
    hz9 = F.floor(
        F.col("n_events") * 1000000000.0 / F.col("n_at_risk") + 0.5
    ).cast("long")
    wk = wk_base.rowsBetween(Window.unboundedPreceding, 0)
    return risk.select(
        dur.cast("long").alias("duration_days"),
        "n_at_risk",
        "n_events",
        (F.sum(hz9).over(wk) / 1000000000.0).alias("cum_hazard"),
    )


def holt_constants(alpha: float, beta: float) -> dict:
    """Eigen-decomposition constants for the Holt linear (double
    exponential smoothing) closed form. The state recurrence

        l_t = α x_t + (1−α)(l_{t−1} + b_{t−1})
        b_t = β (l_t − l_{t−1}) + (1−β) b_{t−1}

    is s_t = A s_{t−1} + c x_t with A = [[1−α, 1−α], [−αβ, 1−αβ]] and
    c = [α, αβ]ᵀ. When A has real distinct eigenvalues λ₁, λ₂ — i.e.
    α(1+β)² > 4β — the spectral split A = λ₁P₁ + λ₂P₂ turns the state
    into a LINEAR COMBINATION OF TWO GEOMETRIC CUMULATIVE SUMS
    (one per eigenvalue) plus decaying init terms:

        l_t = x₁·Σⱼ λⱼ^g (kⱼˡ − wⱼˡ)  +  Σⱼ wⱼˡ Sⱼ,t
        b_t = x₁·Σⱼ λⱼ^g (kⱼᵇ − wⱼᵇ)  +  Σⱼ wⱼᵇ Sⱼ,t

    with g the 0-based row index, Sⱼ,t = Σ_{i≤t} λⱼ^{t−i} x_i,
    kⱼ = column-1 entries of Pⱼ (the init l₁=x₁, b₁=0 pinned here) and
    wⱼ = entries of Pⱼc. Every constant is a plain Python float baked
    into both the Spark expressions and the oracle SQL, so the two
    engines run bit-identical arithmetic. Raises ValueError on the
    complex-eigenvalue region (where the closed form would need
    damped-oscillation trigonometry instead).
    """
    import math

    disc = alpha * (alpha * (1.0 + beta) ** 2 - 4.0 * beta)
    if disc <= 0:
        raise ValueError(
            "holt_constants: need alpha*(1+beta)^2 > 4*beta for real "
            f"distinct eigenvalues (alpha={alpha}, beta={beta})"
        )
    a11 = 1.0 - alpha
    a12 = 1.0 - alpha
    a21 = -alpha * beta
    a22 = 1.0 - alpha * beta
    tr = a11 + a22
    sq = math.sqrt(disc)
    lam1 = (tr + sq) / 2.0
    lam2 = (tr - sq) / 2.0
    d = lam1 - lam2
    p1 = ((a11 - lam2) / d, a12 / d, a21 / d, (a22 - lam2) / d)
    p2 = ((lam1 - a11) / d, -a12 / d, -a21 / d, (lam1 - a22) / d)
    c1, c2 = alpha, alpha * beta
    return {
        "lam1": lam1,
        "lam2": lam2,
        "k1l": p1[0],
        "k2l": p2[0],
        "k1b": p1[2],
        "k2b": p2[2],
        "w1l": p1[0] * c1 + p1[1] * c2,
        "w2l": p2[0] * c1 + p2[1] * c2,
        "w1b": p1[2] * c1 + p1[3] * c2,
        "w2b": p2[2] * c1 + p2[3] * c2,
    }


def with_geometric_cumsum(
    df: DataFrame,
    col: str,
    out: str,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    base: float,
    L: int,
    g_col: str = "_g",
) -> DataFrame:
    """S_t = Σ_{i≤t} base^{t−i} x_i per key in order — the geometric
    cumulative sum underlying every one-pole recurrence (EMA, Holt,
    leaky integrators) — in the block-rebased exact form of
    :func:`with_ema`: exponents bounded by L·|ln base| at any series
    length, one previous-block splice, trailing truncation of relative
    weight base^L (pick L so base^L is below the caller's output
    rounding). Requires an existing 0-based per-key row index
    ``g_col`` (shared across multiple sums so their block geometry
    lines up). All arithmetic is window expressions — ANSI-mirrorable.
    """
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    sfx = out
    d = (
        df.withColumn(f"_pos_{sfx}", F.col(g_col) % L)
        .withColumn(f"_blk_{sfx}", F.floor(F.col(g_col) / F.lit(L)).cast("long"))
        .withColumn(
            f"_v_{sfx}", F.col(col) * F.pow(F.lit(base), -F.col(f"_pos_{sfx}"))
        )
    )
    wb = Window.partitionBy(*key_cols, f"_blk_{sfx}").orderBy(*order_cols)
    d = d.withColumn(
        f"_vrun_{sfx}",
        F.sum(f"_v_{sfx}").over(wb.rowsBetween(Window.unboundedPreceding, 0)),
    ).withColumn(
        f"_vtot_{sfx}",
        F.last(f"_vrun_{sfx}").over(
            wb.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ),
    )
    prev = F.coalesce(
        F.lag(f"_vtot_{sfx}", L).over(w) - F.lag(f"_vrun_{sfx}", L).over(w),
        F.lit(0.0),
    )
    s = F.pow(F.lit(base), F.col(f"_pos_{sfx}")) * (
        F.col(f"_vrun_{sfx}") + F.pow(F.lit(base), F.lit(float(L))) * prev
    )
    return d.withColumn(out, s).drop(
        f"_pos_{sfx}", f"_blk_{sfx}", f"_v_{sfx}", f"_vrun_{sfx}", f"_vtot_{sfx}"
    )


def with_holt_linear(
    df: DataFrame,
    col: str,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    alpha: float,
    beta: float,
    L: int = 96,
    level_col: str = "level",
    trend_col: str = "trend",
    forecast_col: str = "forecast_1",
) -> DataFrame:
    """Holt double exponential smoothing (level + trend + one-step
    forecast l_t + b_t) as an EXACT closed form — no recursion, no
    Python, no iteration: the spectral split of the 2×2 state matrix
    (see :func:`holt_constants`) expresses both state components as
    linear combinations of two block-rebased geometric cumulative
    sums over the SAME (key; order) sort, so the whole operator is
    one series-keyed exchange + window expressions. Init convention
    pinned: l₁ = x₁, b₁ = 0.

    Truncation: each geometric sum drops history older than ~L rows
    with relative weight λⱼ^L (λ₁ is the slower pole — size L by it);
    both engines and the oracle compute the identical truncated form,
    so cross-engine hashes are exact regardless, and fidelity to the
    infinite-history recursion is λ₁^L — e.g. α=0.8, β=0.2, L=96 →
    λ₁^96 ≈ 8e−11, far below a 6-decimal output quantizer."""
    k = holt_constants(alpha, beta)
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    d = df.withColumn("_g", F.row_number().over(w) - 1).withColumn(
        "_x1", F.first(col).over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    d = with_geometric_cumsum(
        d, col, "_s1", key_cols, order_cols, k["lam1"], L, g_col="_g"
    )
    d = with_geometric_cumsum(
        d, col, "_s2", key_cols, order_cols, k["lam2"], L, g_col="_g"
    )
    pow1 = F.pow(F.lit(k["lam1"]), F.col("_g"))
    pow2 = F.pow(F.lit(k["lam2"]), F.col("_g"))
    level = (
        F.col("_x1")
        * (
            pow1 * F.lit(k["k1l"] - k["w1l"])
            + pow2 * F.lit(k["k2l"] - k["w2l"])
        )
        + F.lit(k["w1l"]) * F.col("_s1")
        + F.lit(k["w2l"]) * F.col("_s2")
    )
    trend = (
        F.col("_x1")
        * (
            pow1 * F.lit(k["k1b"] - k["w1b"])
            + pow2 * F.lit(k["k2b"] - k["w2b"])
        )
        + F.lit(k["w1b"]) * F.col("_s1")
        + F.lit(k["w2b"]) * F.col("_s2")
    )
    return (
        d.withColumn(level_col, level)
        .withColumn(trend_col, trend)
        .withColumn(forecast_col, F.col(level_col) + F.col(trend_col))
        .drop("_g", "_x1", "_s1", "_s2")
    )


def spine_window(
    df: DataFrame,
    order_cols: Sequence[str | Column],
    max_rows: int = 65536,
    label: str = "spine",
) -> tuple[DataFrame, WindowSpec]:
    """Single-partition window over a BOUNDED spine, made explicit and
    guarded (VERDICT r7 #5).

    An ORDER BY window with no PARTITION BY funnels every row through
    one task. That is fine — optimal, even — when the frame is bounded
    BY CONSTRUCTION (a calendar day/hour spine, a duration-grouped
    survival curve, a top-k slice, a percentile grid), and lethal when
    data-sized input sneaks into the same shape. This helper is the
    shared contract for the first case: the caller NAMES the bound,
    and a row-count assertion rides the same sorted single partition
    (``count(*)`` over the unbounded frame — no extra exchange or
    sort), so a spine that outgrows its declared bound fails the job
    loudly with ``label`` in the message instead of silently becoming
    the bottleneck task. Data-sized cumulative/rank work must route
    through ``relational.distributed_prefix_sum`` /
    ``assign_dense_ids`` instead (two distributed exchanges, zero
    single-partition stages); :func:`spine_cumsum` automates that
    choice for running totals.

    Returns ``(guarded_df, window_spec)``; apply row/range frames to
    the spec as usual. The guard is a filter on an ``assert_true``
    column (NULL on success, so the filter passes every row) — values
    and hashes are untouched.

    Each distinct ``label`` also logs ONE structured driver-side line
    (VERDICT r9 #5): Spark's ``WindowExec: No Partition Defined``
    warning fires for these frames by design, and without attribution
    a genuinely data-sized unpartitioned window hides in the same
    noise. The annotation names the label and the asserted bound so a
    WindowExec warning with no matching spine_window line is the one
    to investigate."""
    if label not in _ANNOUNCED_SPINES:
        _ANNOUNCED_SPINES.add(label)
        print(
            f"[spine_window] label={label} bound<={int(max_rows)} rows by "
            "contract: single-partition ordered window is intentional; "
            "WindowExec 'No Partition Defined' warnings for this frame "
            "are expected (guard trips the job if the bound is exceeded)",
            file=sys.stderr,
        )
    if order_cols:
        order = [F.col(c) if isinstance(c, str) else c for c in order_cols]
        w = Window.orderBy(*order)
        full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    else:
        # unordered global TOTAL over a bounded frame (grand-total
        # ratios, normalizers): no sort at all — the default frame of
        # an unordered window is the whole partition, and the same
        # guard/annotation contract applies
        w = Window.partitionBy()
        full = w
    n = F.count(F.lit(1)).over(full)
    guard = F.assert_true(
        n <= F.lit(int(max_rows)),
        F.concat(
            F.lit(
                f"spine_window[{label}]: spine exceeded the declared "
                f"{int(max_rows)}-row bound ("
            ),
            n.cast("string"),
            F.lit(
                " rows) — this frame is not calendar/construction-bounded; "
                "route it through distributed_prefix_sum/assign_dense_ids"
            ),
        ),
    )
    guarded = (
        df.withColumn("_spine_guard", guard)
        .filter(F.col("_spine_guard").isNull())
        .drop("_spine_guard")
    )
    return guarded, w


def spine_cumsum(
    df: DataFrame,
    order_cols: Sequence[str],
    sum_cols: Sequence[str],
    threshold: int = 65536,
) -> DataFrame:
    """INCLUSIVE running totals of ``sum_cols`` in global ``order_cols``
    order, routed by MEASURED spine size (VERDICT r7 #5): at or under
    ``threshold`` rows the plan is the single-partition ordered window
    (cheapest for a calendar-bounded spine — one tiny sort, no extra
    exchanges); above it the same totals come from
    ``relational.distributed_prefix_sum`` (exclusive prefix + the row's
    own value), two distributed exchanges and zero single-partition
    stages. Integer sum columns produce IDENTICAL values on both routes
    (exact arithmetic, order-independent), so the routing can never
    flip a hash; float columns inherit dps's summation-order caveat —
    prefer counting frames.

    The count that decides the route executes ``df`` once — pass a
    materialized (localCheckpointed / cached) frame when the upstream
    is expensive, the same multi-reference discipline every iterative
    op in this package follows."""
    order_cols = list(order_cols)
    sum_cols = list(sum_cols)
    if df.count() <= threshold:
        w = Window.orderBy(*order_cols).rowsBetween(Window.unboundedPreceding, 0)
        out = df
        for c in sum_cols:
            out = out.withColumn(f"cum_{c}", F.sum(c).over(w))
        return out
    from .relational import distributed_prefix_sum

    out = distributed_prefix_sum(df, order_cols, sum_cols, out_prefix="_excl_")
    for c in sum_cols:
        out = out.withColumn(f"cum_{c}", F.col(f"_excl_{c}") + F.col(c)).drop(
            f"_excl_{c}"
        )
    return out
