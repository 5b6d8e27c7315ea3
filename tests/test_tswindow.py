"""Per-operator window tests on hand-built frames (SURVEY §5.2 item 3):
partition boundaries, null runs, frame inclusivity, /0 guards."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from cse_datapipeline_and_mls_spark.operators import tswindow as TS


def _series(spark, rows):
    return spark.createDataFrame(rows, "sym string, t int, price double")


def _by_key(df, *cols):
    out = {}
    for r in df.orderBy("sym", "t").collect():
        out.setdefault(r["sym"], []).append(tuple(r[c] for c in cols))
    return out


def test_lag_respects_partition_boundaries(spark):
    df = _series(
        spark,
        [("A", 1, 10.0), ("A", 2, 11.0), ("A", 3, 12.0), ("B", 1, 100.0), ("B", 2, 101.0)],
    )
    w = TS.series_window("sym", "t")
    got = _by_key(TS.with_lags(df, "price", [1, 2], w), "price_lag_1", "price_lag_2")
    assert got["A"] == [(None, None), (10.0, None), (11.0, 10.0)]
    # lag never leaks across partitions
    assert got["B"] == [(None, None), (100.0, None)]


def test_rolling_mean_frame_conventions(spark):
    df = _series(spark, [("A", i, float(i)) for i in range(1, 7)])
    w = TS.series_window("sym", "t")
    excl = TS.rolling_mean(df, "price", "m", w, 3, inclusive=False)
    incl = TS.rolling_mean(df, "price", "m", w, 3, inclusive=True)
    guard = TS.rolling_mean(df, "price", "m", w, 3, inclusive=True, min_periods=3)
    # exclusive (-3,-1): row 1 has empty frame -> NULL; row 4 avg(1,2,3)=2
    assert [r["m"] for r in excl.orderBy("t").collect()] == [None, 1.0, 1.5, 2.0, 3.0, 4.0]
    # inclusive (-2,0): row 1 avg(1)=1; row 3 avg(1,2,3)=2
    assert [r["m"] for r in incl.orderBy("t").collect()] == [1.0, 1.5, 2.0, 3.0, 4.0, 5.0]
    # pandas-style min_periods=3: first two rows NULL
    assert [r["m"] for r in guard.orderBy("t").collect()] == [None, None, 2.0, 3.0, 4.0, 5.0]


def test_rolling_std_is_sample_stddev(spark):
    df = _series(spark, [("A", i, v) for i, v in enumerate([2.0, 4.0, 6.0, 8.0])])
    w = TS.series_window("sym", "t")
    out = TS.rolling_std(df, "price", "s", w, 3, inclusive=True).orderBy("t").collect()
    # sample stddev of (2,4): sqrt(2); of (2,4,6): 2
    assert out[0]["s"] is None  # single row -> sample std undefined
    assert math.isclose(out[1]["s"], math.sqrt(2.0))
    assert math.isclose(out[2]["s"], 2.0)


def test_forward_fill_null_runs(spark):
    df = spark.createDataFrame(
        [("A", 1, 5.0), ("A", 2, None), ("A", 3, None), ("A", 4, 7.0), ("B", 1, None)],
        "sym string, t int, price double",
    )
    w = TS.series_window("sym", "t")
    got = _by_key(TS.forward_fill(df, ["price"], w), "price")
    assert got["A"] == [(5.0,), (5.0,), (5.0,), (7.0,)]
    # leading nulls stay null (nothing to fill from)
    assert got["B"] == [(None,)]


def test_zscore_constant_series_is_null_flagged_normal(spark):
    df = _series(spark, [("A", i, 5.0) for i in range(5)])
    w = TS.series_window("sym", "t")
    out = TS.with_anomaly_flag(df, "price", w).collect()
    # stddev_pop = 0 -> nullif guard -> NULL z, 'Normal' flag (no /0 blowup)
    assert all(r["zscore"] is None for r in out)
    assert all(r["anomaly"] == "Normal" for r in out)


def test_pct_change_zero_denominator_is_null(spark):
    df = _series(spark, [("A", 1, 0.0), ("A", 2, 5.0)])
    w = TS.series_window("sym", "t")
    out = TS.with_diff_pct(df, "price", w).orderBy("t").collect()
    assert out[0]["pct_change"] is None  # no lag
    assert out[1]["pct_change"] is None  # lag == 0 -> nullif -> NULL, not inf


def test_rsi_all_gains_saturates(spark):
    df = _series(spark, [("A", i, float(i) * 2) for i in range(1, 8)])
    w = TS.series_window("sym", "t")
    out = TS.with_rsi(df, "price", w, k=3).orderBy("t").collect()
    # monotone rising series: losses=0 -> RSI -> ~100 (epsilon keeps it finite)
    assert out[-1]["rsi"] is not None and out[-1]["rsi"] > 99.99


def test_ema_matches_pandas_ewm(spark):
    import pandas as pd

    vals = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6, 5.0]
    df = _series(spark, [("A", i, v) for i, v in enumerate(vals)])
    got = [
        r["ema"]
        for r in TS.with_ema(df, "price", "ema", ["sym"], ["t"], span=5).orderBy("t").collect()
    ]
    want = pd.Series(vals).ewm(span=5, adjust=True).mean().tolist()
    assert all(math.isclose(g, e, rel_tol=1e-9) for g, e in zip(got, want))


def test_ema_long_series_no_overflow(spark):
    """Regression: the global-exponent closed form overflowed past
    ~709/|ln a| rows (~1,750 at span 5) making every later EMA NaN; the
    block-rebased form must stay finite and match pandas at any length."""
    import pandas as pd

    n = 4000
    vals = [float(50 + 10 * math.sin(i / 7.0) + (i % 13)) for i in range(n)]
    df = _series(spark, [("A", i, v) for i, v in enumerate(vals)])
    got = [
        r["ema"]
        for r in TS.with_ema(df, "price", "ema", ["sym"], ["t"], span=5).orderBy("t").collect()
    ]
    want = pd.Series(vals).ewm(span=5, adjust=True).mean().tolist()
    assert all(math.isfinite(g) for g in got), "EMA went inf/NaN on a long series"
    assert all(math.isclose(g, e, rel_tol=1e-9) for g, e in zip(got, want))


def test_volume_spike_flag(spark):
    df = _series(spark, [("A", 1, 10.0), ("A", 2, 10.0), ("A", 3, 10.0), ("A", 4, 100.0)])
    w = TS.series_window("sym", "t")
    out = TS.with_volume_spike(df, "price", w, k=3).orderBy("t").collect()
    assert [r["volume_spike"] for r in out] == [0, 0, 0, 1]


def test_rolling_mad_anomaly_semantics(spark, tmp_path):
    """Planted spike flags exactly once; constant series yields MAD=0 ->
    NULL z, flag 0 (guarded-ratio policy). Exercises the registered
    query end-to-end on a synthetic events table."""
    import datetime as dt

    from cse_datapipeline_and_mls_spark.queries.windows_q import (
        w_rolling_mad_anomaly,
    )

    base = dt.datetime(2024, 1, 1)
    rows = []
    # user 1: tight series with one planted spike at i=15
    for i in range(30):
        v = 10.0 + (0.2 if i % 2 else -0.2) + (500.0 if i == 15 else 0.0)
        rows.append((i, base + dt.timedelta(minutes=i), 1, "click", v, "{}"))
    # user 2: constant series
    for i in range(10):
        rows.append((100 + i, base + dt.timedelta(minutes=i), 2, "click", 7.0, "{}"))
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
    )
    # route through the registered query by landing a parquet events table
    p = str(tmp_path / "sfX")
    import os

    os.makedirs(p, exist_ok=True)
    df.write.parquet(p + "/events.parquet")
    out = w_rolling_mad_anomaly(spark, p).collect()
    u1 = {r["event_id"]: r for r in out if r["user_id"] == 1}
    u2 = [r for r in out if r["user_id"] == 2]
    flagged = sorted(eid for eid, r in u1.items() if r["is_outlier"] == 1)
    assert flagged == [15], flagged
    # spike leaves the median/MAD baseline essentially untouched (robustness)
    assert abs(u1[16]["med_21"] - 10.0) < 1.0
    for r in u2:
        if r["n_in_frame"] >= 2:
            assert r["mad_21"] == 0.0 and r["mod_z"] is None and r["is_outlier"] == 0


def test_compound_return_exact_boundary_quantization(spark):
    """Regression for the cross-engine .5-boundary hazard: a cent-ratio
    series whose compound return is EXACTLY representable and lands on
    a 6-decimal rounding boundary (18.6953125 = cents ratio with a
    power-of-two denominator). The floor(x*1e6+0.5)/1e6 quantization
    must behave like plain-python arithmetic on the identical double —
    deterministically, with no engine-specific round() path."""
    from cse_datapipeline_and_mls_spark.queries import QUERIES
    import datetime as dt, tempfile, os

    base = dt.datetime(2024, 1, 1)
    # value series: 1.28 -> 23.93 gives ratio 2393/128 = 18.6953125
    rows = [
        (1, base, 7, "t", 1.28, "{}"),
        (2, base + dt.timedelta(minutes=1), 7, "t", 23.93, "{}"),
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
        ).write.parquet(os.path.join(d, "events.parquet"))
        out = {
            r["event_id"]: r["cum_return"]
            for r in QUERIES["w_compound_return"](spark, d).collect()
        }
    expected = (23.93 / 1.28) * 1e6  # 18695312.5 exactly
    import math

    assert out[1] == 1.0
    assert out[2] == math.floor(expected + 0.5) / 1e6 == 18.695313


def test_cusum_matches_recurrence(spark):
    """The Lindley closed form (prefix sum minus running min) equals the
    literal per-row recurrence s_t = max(0, s_{t-1} + d_t), on random
    multi-key series including all-negative and all-positive drifts."""
    import random

    from pyspark.sql import Window

    from cse_datapipeline_and_mls_spark.operators.tswindow import with_cusum

    rng = random.Random(3)
    rows = [
        (k, i, rng.uniform(-5, 5)) for k in range(4) for i in range(50)
    ] + [(9, i, -1.0) for i in range(5)] + [(8, i, 2.5) for i in range(5)]
    df = spark.createDataFrame(rows, "k long, i long, x double")
    w = Window.partitionBy("k").orderBy("i")
    got = {
        (r["k"], r["i"]): r["cusum"]
        for r in with_cusum(
            df, "x", w, target=__import__("pyspark").sql.functions.lit(0.3),
            slack=__import__("pyspark").sql.functions.lit(0.1),
        ).collect()
    }
    series: dict = {}
    for k, i, x in sorted(rows):
        s_prev = series.get(k, [0.0])[-1] if k in series else 0.0
        s = max(0.0, s_prev + (x - 0.3 - 0.1))
        series.setdefault(k, []).append(s)
        assert abs(got[(k, i)] - s) < 1e-9, (k, i, got[(k, i)], s)


def test_kaplan_meier_absorbed_step_survival_exactly_zero(spark):
    # 4 subjects: one event at dur=1 (3 remain at risk after), then BOTH
    # remaining at-risk subjects convert at dur=3 (n_events == n_at_risk
    # after the censored dur=2 subject leaves) -> survival must be
    # exactly 0.0 there, not NULL-skipped-log-inflated.
    subj = spark.createDataFrame(
        [(1, 1), (2, 0), (3, 1), (3, 1)], "dur int, ev int"
    )
    rows = {
        r["duration_days"]: r
        for r in TS.kaplan_meier(subj, "dur", "ev").collect()
    }
    assert set(rows) == {1, 3}  # event durations only; censored dur=2 excluded
    assert rows[1]["n_at_risk"] == 4 and rows[1]["n_events"] == 1
    assert math.isclose(rows[1]["survival"], 0.75)
    assert rows[3]["n_at_risk"] == 2 and rows[3]["n_events"] == 2
    assert rows[3]["survival"] == 0.0


def test_kaplan_meier_everyone_converts_at_step_k(spark):
    # The driver-red shape: ALL subjects convert at the same duration.
    subj = spark.createDataFrame([(5, 1)] * 7, "dur int, ev int")
    rows = TS.kaplan_meier(subj, "dur", "ev").collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["duration_days"], r["n_at_risk"], r["n_events"]) == (5, 7, 7)
    assert r["survival"] == 0.0


def test_kaplan_meier_matches_hand_product(spark):
    # Standard no-absorption curve vs the hand-computed KM product,
    # with censoring interleaved between event durations.
    subj = spark.createDataFrame(
        [(1, 1), (1, 1), (2, 0), (3, 1), (4, 0), (6, 1), (8, 0)],
        "dur int, ev int",
    )
    got = {
        r["duration_days"]: (r["n_at_risk"], r["n_events"], r["survival"])
        for r in TS.kaplan_meier(subj, "dur", "ev").collect()
    }
    s1 = 1 - 2 / 7
    s3 = s1 * (1 - 1 / 4)
    s6 = s3 * (1 - 1 / 2)
    assert got[1][:2] == (7, 2) and math.isclose(got[1][2], s1)
    assert got[3][:2] == (4, 1) and math.isclose(got[3][2], s3)
    assert got[6][:2] == (2, 1) and math.isclose(got[6][2], s6)


def _events_pdf(sf_dir):
    import pandas as pd
    import pyarrow.parquet as pq

    t = pq.read_table(
        f"{sf_dir}/events.parquet", columns=["event_id", "ts", "user_id", "value"]
    ).to_pandas()
    # mirror sources/loader: nanos -> timestamp
    if t["ts"].dtype.kind in "iu":
        t["ts"] = pd.to_datetime(t["ts"], unit="ns")
    return t.sort_values(["user_id", "ts", "event_id"]).reset_index(drop=True)


def test_stochastic_oscillator_matches_pandas(spark, sf_dir):
    """Independent pandas replay of w_stochastic_oscillator: rolling
    14-row min/max channel (min_periods=1), %K with the flat-channel
    NULL guard, %D = 3-row null-skipping SMA."""
    import numpy as np

    from cse_datapipeline_and_mls_spark.queries.windows_q import (
        w_stochastic_oscillator,
    )

    pdf = _events_pdf(sf_dir)
    g = pdf.groupby("user_id")["value"]
    l14 = g.transform(lambda s: s.rolling(14, min_periods=1).min())
    h14 = g.transform(lambda s: s.rolling(14, min_periods=1).max())
    rng = h14 - l14
    pct_k = 100.0 * (pdf["value"] - l14) / rng.where(rng != 0)
    pdf = pdf.assign(pct_k=pct_k)
    pct_d = pdf.groupby("user_id")["pct_k"].transform(
        lambda s: s.rolling(3, min_periods=1).mean()
    )
    want_k = dict(zip(pdf["event_id"], pdf["pct_k"]))
    want_d = dict(zip(pdf["event_id"], pct_d))

    rows = w_stochastic_oscillator(spark, sf_dir).collect()
    assert len(rows) == len(pdf)
    for r in rows:
        wk = want_k[r["event_id"]]
        if np.isnan(wk):
            assert r["pct_k"] is None
        else:
            assert abs(r["pct_k"] - wk) < 1e-9
        wd = want_d[r["event_id"]]
        if np.isnan(wd):
            assert r["pct_d"] is None
        else:
            assert abs(r["pct_d"] - wd) < 1e-6


def test_atr_and_obv_match_pandas(spark, sf_dir):
    """Independent pandas replay of the daily-bar indicators: bars by
    calendar day (first/last by (ts, event_id), max/min), then
    ATR-14's coalesced true range + inclusive SMA and OBV's signed
    cumulative trade count."""
    import numpy as np

    from cse_datapipeline_and_mls_spark.queries.windows_q import (
        w_atr_14,
        w_obv_daily,
    )

    pdf = _events_pdf(sf_dir)
    pdf["day"] = pdf["ts"].dt.floor("D")
    bars = (
        pdf.groupby(["user_id", "day"])
        .agg(
            high=("value", "max"),
            low=("value", "min"),
            close=("value", "last"),
            n_trades=("value", "size"),
        )
        .reset_index()
        .sort_values(["user_id", "day"])
    )
    pc = bars.groupby("user_id")["close"].shift(1)
    pcf = pc.fillna(bars["close"])
    tr = np.maximum.reduce(
        [bars["high"] - bars["low"], (bars["high"] - pcf).abs(), (bars["low"] - pcf).abs()]
    )
    bars = bars.assign(tr=tr)
    atr = bars.groupby("user_id")["tr"].transform(
        lambda s: s.rolling(14, min_periods=1).mean()
    )
    dirn = np.sign(bars["close"] - pc).fillna(0).astype(int)
    obv = (dirn * bars["n_trades"]).groupby(bars["user_id"]).cumsum()

    key = list(zip(bars["user_id"], bars["day"]))
    want_tr = dict(zip(key, bars["tr"]))
    want_atr = dict(zip(key, atr))
    want_obv = dict(zip(key, obv))

    atr_rows = w_atr_14(spark, sf_dir).collect()
    assert len(atr_rows) == len(bars)
    for r in atr_rows:
        k = (r["user_id"], r["day"])
        assert abs(r["tr"] - want_tr[k]) < 1e-9
        assert abs(r["atr_14"] - want_atr[k]) < 1e-6

    obv_rows = w_obv_daily(spark, sf_dir).collect()
    assert len(obv_rows) == len(bars)
    for r in obv_rows:
        assert r["obv"] == want_obv[(r["user_id"], r["day"])]


def test_holt_closed_form_matches_recursion_short(spark):
    """Closed form == the literal Holt recursion (l1=x1, b1=0) to
    float precision on a series shorter than L (no truncation)."""
    import random

    from cse_datapipeline_and_mls_spark.operators.tswindow import with_holt_linear

    random.seed(1)
    xs = [100 + random.random() * 10 - 5 + 0.3 * i for i in range(40)]
    df = spark.createDataFrame(
        [(1, i, float(x)) for i, x in enumerate(xs)], "k long, t long, x double"
    )
    out = {
        r["t"]: (r["level"], r["trend"], r["forecast_1"])
        for r in with_holt_linear(df, "x", ["k"], ["t"], alpha=0.8, beta=0.2, L=96).collect()
    }
    a, b = 0.8, 0.2
    l, tr = xs[0], 0.0
    for i, x in enumerate(xs):
        if i > 0:
            lp = l
            l = a * x + (1 - a) * (l + tr)
            tr = b * (l - lp) + (1 - b) * tr
        assert abs(out[i][0] - l) < 1e-10
        assert abs(out[i][1] - tr) < 1e-10
        assert abs(out[i][2] - (l + tr)) < 1e-10


def test_holt_closed_form_splice_and_truncation(spark):
    """Across the L-row block splice (300 rows, L=96) the closed form
    tracks the recursion within the documented lam1^L truncation
    envelope — far below the q6 output quantizer."""
    import random

    from cse_datapipeline_and_mls_spark.operators.tswindow import with_holt_linear

    random.seed(7)
    xs = [50 + random.random() * 20 + 0.1 * i for i in range(300)]
    df = spark.createDataFrame(
        [(1, i, float(x)) for i, x in enumerate(xs)], "k long, t long, x double"
    )
    out = {
        r["t"]: (r["level"], r["trend"])
        for r in with_holt_linear(df, "x", ["k"], ["t"], alpha=0.8, beta=0.2, L=96).collect()
    }
    a, b = 0.8, 0.2
    l, tr = xs[0], 0.0
    for i, x in enumerate(xs):
        if i > 0:
            lp = l
            l = a * x + (1 - a) * (l + tr)
            tr = b * (l - lp) + (1 - b) * tr
        assert abs(out[i][0] - l) < 1e-7
        assert abs(out[i][1] - tr) < 1e-7


def test_holt_constants_rejects_complex_poles():
    import pytest as _pytest

    from cse_datapipeline_and_mls_spark.operators.tswindow import holt_constants

    with _pytest.raises(ValueError):
        holt_constants(alpha=0.5, beta=0.5)  # alpha*(1+beta)^2 < 4*beta region


def test_atr_wilder_matches_pandas_ewm(spark, sf_dir):
    """w_atr_wilder == pandas ewm(alpha=1/14, adjust=True) over the
    same daily true-range series (the pinned adjusted-form convention),
    within the block-rebase truncation envelope."""
    import numpy as np

    from cse_datapipeline_and_mls_spark.queries.windows_q import w_atr_wilder

    pdf = _events_pdf(sf_dir)
    pdf["day"] = pdf["ts"].dt.floor("D")
    bars = (
        pdf.groupby(["user_id", "day"])
        .agg(high=("value", "max"), low=("value", "min"), close=("value", "last"))
        .reset_index()
        .sort_values(["user_id", "day"])
    )
    pc = bars.groupby("user_id")["close"].shift(1)
    pcf = pc.fillna(bars["close"])
    bars["tr"] = np.maximum.reduce(
        [bars["high"] - bars["low"], (bars["high"] - pcf).abs(), (bars["low"] - pcf).abs()]
    )
    want = bars.groupby("user_id")["tr"].transform(
        lambda s: s.ewm(alpha=1.0 / 14.0, adjust=True).mean()
    )
    key = dict(zip(zip(bars["user_id"], bars["day"]), want))
    rows = w_atr_wilder(spark, sf_dir).collect()
    assert len(rows) == len(bars)
    for r in rows:
        assert abs(r["atr_wilder"] - key[(r["user_id"], r["day"])]) < 1e-6


def test_pacf_matches_statsmodels_free_recursion(spark, sf_dir):
    """Independent replay of w_pacf at sf0.001: numpy ACF on the q6
    daily means, then the Durbin-Levinson recursion implemented
    directly (no shared closed-form code with the engine)."""
    import numpy as np

    from cse_datapipeline_and_mls_spark.queries import QUERIES

    pdf = _events_pdf(sf_dir)
    pdf["day"] = pdf["ts"].dt.floor("D")
    d = pdf.groupby(["user_id", "day"])["value"].mean().reset_index()
    d["v"] = np.floor(d["value"] * 1e6 + 0.5) / 1e6
    rows = {r["user_id"]: r for r in QUERIES["w_pacf"](spark, sf_dir).collect()}
    for uid, g in d.groupby("user_id"):
        v = g.sort_values("day")["v"].to_numpy()
        rho = [
            np.floor(np.corrcoef(v[:-k], v[k:])[0, 1] * 1e6 + 0.5) / 1e6
            for k in (1, 2, 3)
        ]
        # Durbin-Levinson
        phi = {(1, 1): rho[0]}
        phi[(2, 2)] = (rho[1] - rho[0] ** 2) / (1 - rho[0] ** 2)
        phi[(2, 1)] = phi[(1, 1)] - phi[(2, 2)] * phi[(1, 1)]
        num = rho[2] - phi[(2, 1)] * rho[1] - phi[(2, 2)] * rho[0]
        den = 1 - phi[(2, 1)] * rho[0] - phi[(2, 2)] * rho[1]
        want = (rho[0], phi[(2, 2)], num / den)
        r = rows[uid]
        assert abs(r["pacf1"] - want[0]) < 1e-6
        assert abs(r["pacf2"] - want[1]) < 1e-6
        assert abs(r["pacf3"] - want[2]) < 1e-6


def test_spine_window_guard_passes_and_trips(spark):
    """The bounded-spine contract (VERDICT r7 #5): under the declared
    bound the guard is invisible (every row passes, values untouched);
    over it the job fails loudly with the call site's label."""
    import pytest

    from pyspark.sql import functions as F

    from cse_datapipeline_and_mls_spark.operators.tswindow import spine_window

    df = spark.range(50).select(F.col("id").alias("day"), (F.col("id") % 7).alias("v"))
    g, w = spine_window(df, ["day"], max_rows=50, label="ok-spine")
    out = g.select("day", F.avg("v").over(w.rowsBetween(-3, 3)).alias("m"))
    assert out.count() == 50

    g2, w2 = spine_window(df, ["day"], max_rows=10, label="data-sized")
    with pytest.raises(Exception, match="data-sized"):
        g2.select("day", F.sum("v").over(w2.rowsBetween(-1, 0)).alias("s")).count()


def test_spine_cumsum_routes_agree(spark):
    """spine_cumsum's two routes (ordered window at/under threshold,
    distributed_prefix_sum above) produce IDENTICAL integer running
    totals — the property that makes the measured routing hash-safe."""
    from pyspark.sql import functions as F

    from cse_datapipeline_and_mls_spark.operators.tswindow import spine_cumsum

    df = spark.range(500).select(
        F.col("id").alias("k"), ((F.col("id") * 7) % 13).alias("v")
    ).localCheckpoint(eager=True)
    small = spine_cumsum(df, ["k"], ["v"], threshold=1000).orderBy("k").collect()
    big = spine_cumsum(df, ["k"], ["v"], threshold=10).orderBy("k").collect()
    assert [r.cum_v for r in small] == [r.cum_v for r in big]
    # inclusive semantics: first row's cumsum equals its own value
    assert small[0].cum_v == small[0].v


def test_new_indicator_invariants(spark, sf_dir):
    """Structural invariants of the r8 indicator family on real data:
    Donchian channels bracket the close, MFI stays in [0, 100], and
    Keltner bands bracket the mid line symmetrically."""
    from cse_datapipeline_and_mls_spark.queries import QUERIES

    don = QUERIES["w_donchian_channels"](spark, sf_dir).collect()
    assert don
    for r in don:
        assert r.lower_ch <= r.close <= r.upper_ch
        assert abs(r.mid_ch - (r.upper_ch + r.lower_ch) / 2) < 1e-9

    mfi = QUERIES["w_mfi_14"](spark, sf_dir).collect()
    assert any(r.mfi_14 is not None for r in mfi)
    for r in mfi:
        assert r.pos_mf_14 >= 0 and r.neg_mf_14 >= 0
        if r.mfi_14 is not None:
            assert 0.0 <= r.mfi_14 <= 100.0

    kel = QUERIES["w_keltner_channels"](spark, sf_dir).collect()
    for r in kel:
        assert r.lower_band <= r.mid_line <= r.upper_band
        # bands are symmetric about the mid line (2xATR each side)
        assert abs((r.upper_band - r.mid_line) - (r.mid_line - r.lower_band)) < 2e-6


def test_ewma_control_chart_invariants(spark, sf_dir):
    """EWMA chart: band is symmetric, positive-width for non-constant
    series, and the flag agrees with the quantized band test."""
    from cse_datapipeline_and_mls_spark.queries import QUERIES

    rows = QUERIES["w_ewma_control_chart"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.lcl <= r.ucl
        flag = 1 if (r.ewma > r.ucl or r.ewma < r.lcl) else 0
        assert r.out_of_control == flag


def test_nelson_aalen_closed_form(spark):
    """Hand-computed NA curve: subjects (dur, ev) = 2 events at day 1,
    1 censored at day 2, 1 event at day 3. H(1) = 2/4, H(3) = 2/4 + 1/1."""
    from cse_datapipeline_and_mls_spark.operators.tswindow import nelson_aalen

    subj = spark.createDataFrame(
        [(1, 1), (1, 1), (2, 0), (3, 1)], "dur int, ev int"
    )
    rows = {r["duration_days"]: r for r in nelson_aalen(subj).collect()}
    assert set(rows) == {1, 3}
    assert rows[1]["n_at_risk"] == 4 and rows[1]["n_events"] == 2
    assert abs(rows[1]["cum_hazard"] - 0.5) < 1e-9
    assert rows[3]["n_at_risk"] == 1 and rows[3]["n_events"] == 1
    assert abs(rows[3]["cum_hazard"] - 1.5) < 1e-9


def test_nelson_aalen_dominates_km_log_survival(spark):
    """H_NA(t) <= -ln(S_KM(t)) pointwise (from 1-x <= e^-x, so
    S_KM <= exp(-H_NA)) on the shared real cohort — the textbook
    relationship between the estimators."""
    import math

    from cse_datapipeline_and_mls_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    na = {r["duration_days"]: r["cum_hazard"] for r in QUERIES["t_nelson_aalen_hazard"](spark, sf).collect()}
    km = {r["duration_days"]: r["survival"] for r in QUERIES["t_kaplan_meier_conversion"](spark, sf).collect()}
    assert set(na) == set(km)
    for d, h in na.items():
        if km[d] > 0:
            assert h <= -math.log(km[d]) + 1e-6, (d, h, km[d])


def test_spine_window_unordered_total_mode(spark):
    """r11: empty order_cols = unordered global-total frame (grand-total
    ratios) — no sort, whole-partition default frame, same guard."""
    import pytest
    from pyspark.sql import functions as F

    from cse_datapipeline_and_mls_spark.operators.tswindow import spine_window

    df = spark.range(20).select(F.col("id"), (F.col("id") % 4).alias("k"))
    g, w = spine_window(df, [], max_rows=50, label="total-ok")
    out = g.withColumn("tot", F.sum("id").over(w)).collect()
    assert all(r["tot"] == 190 for r in out) and len(out) == 20

    g2, w2 = spine_window(df, [], max_rows=10, label="total-trips")
    with pytest.raises(Exception, match="total-trips"):
        g2.withColumn("tot", F.sum("id").over(w2)).collect()
