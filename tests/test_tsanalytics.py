"""Unit + plan-shape tests for the timeseries analytics layer
(operators/tsanalytics.py): MAD envelopes, counter rate, turn-taking,
time-weighted averages, Holt smoothing, AR(2) Yule-Walker residuals."""

import datetime as dt
import math
import re

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry
from conftest import count_exchanges, events_df, plan_str
from yahoo_anomaly_detection_spark.operators import tsanalytics as tsa


def _ts(sec: float):
    return F.timestamp_seconds(F.lit(1700000000) + F.lit(float(sec)))


def _pts(spark, rows):
    """rows: (conv_id, sec_offset, value) with value None allowed."""
    df = spark.createDataFrame(
        [(c, i, float(s), v) for i, (c, s, v) in enumerate(rows)],
        "conv_id string, event_id long, off double, value double",
    )
    return df.select(
        "conv_id",
        "event_id",
        F.timestamp_seconds(F.lit(1700000000) + F.col("off")).alias("ts"),
        "value",
    )


# ------------------------------------------------------------ counter_rate
def test_counter_rate_resets_and_first_sample(spark):
    # counter: 10 → 15 → 3 (reset, climbed to 3) → 9, all in one minute
    df = _pts(spark, [("a", 0, 10.0), ("a", 10, 15.0),
                      ("a", 20, 3.0), ("a", 30, 9.0)])
    out = tsa.counter_rate(df, 60, order_cols=("event_id",)).collect()
    assert len(out) == 1
    r = out[0]
    # increases: NULL(first), 5, 3(reset), 6 → 14; n counts baselined
    assert r["n"] == 3
    assert r["increase"] == pytest.approx(14.0)
    assert r["rate"] == pytest.approx(14.0 / 60.0, abs=1e-4)


def test_counter_rate_first_only_bucket_null(spark):
    # first sample lands alone in its minute: bucket appears with
    # n=0, increase NULL (no baseline ever observed in it)
    df = _pts(spark, [("a", 0, 100.0), ("a", 70, 110.0)])
    rows = {r["n"]: r for r in
            tsa.counter_rate(df, 60, order_cols=("event_id",)).collect()}
    assert rows[0]["increase"] is None
    assert rows[1]["increase"] == pytest.approx(10.0)


def test_counter_rate_nulls_dropped_not_resets(spark):
    # NULL sample between 10 and 12 is a missed scrape: increase
    # stays 2, not a reset to 12
    df = _pts(spark, [("a", 0, 10.0), ("a", 10, None), ("a", 20, 12.0)])
    out = tsa.counter_rate(df, 60, order_cols=("event_id",)).collect()
    assert out[0]["increase"] == pytest.approx(2.0)


def test_counter_rate_one_shuffle(spark):
    df = _pts(spark, [("a", i, float(i)) for i in range(20)])
    out = tsa.counter_rate(df, 60, order_cols=("event_id",))
    # the conv_id lag-window exchange also serves the
    # (conv_id, bucket) groupBy — exactly one shuffle
    assert count_exchanges(out) == 1, plan_str(out)


# ------------------------------------------------------------ robust_flags
def test_robust_flags_matches_numpy(spark):
    vals = [1.0, 1.2, 0.9, 1.1, 1.0, 8.0, 1.05, 0.95]
    df = spark.createDataFrame(
        [("a", i, v) for i, v in enumerate(vals)],
        "conv_id string, i int, x double",
    )
    out = {r["i"]: r for r in
           tsa.robust_flags(df, "x", k=3.0).collect()}
    med = float(np.median(vals))
    mad = float(np.median(np.abs(np.array(vals) - med)))
    for i, v in enumerate(vals):
        r = out[i]
        assert r["med"] == pytest.approx(med)
        assert r["mad"] == pytest.approx(mad)
        want = 1 if abs(v - med) > 3.0 * tsa.MAD_SIGMA * mad else 0
        assert r["flag"] == want, (i, v)
    # the spike is flagged, nothing else
    assert sum(r["flag"] for r in out.values()) == 1 and out[5]["flag"] == 1


def test_robust_flags_single_row_series(spark):
    df = spark.createDataFrame([("a", 5.0)], "conv_id string, x double")
    r = tsa.robust_flags(df, "x").collect()[0]
    assert r["med"] == 5.0 and r["mad"] == 0.0 and r["flag"] == 0


def test_robust_flags_sketch_close_to_exact(spark):
    rng = np.random.default_rng(7)
    vals = rng.normal(10.0, 2.0, 500).tolist()
    df = spark.createDataFrame(
        [("a", i, float(v)) for i, v in enumerate(vals)],
        "conv_id string, i int, x double",
    )
    exact = tsa.robust_flags(df, "x").select("med", "mad").first()
    approx = tsa.robust_flags(df, "x", rel_error=0.01).select(
        "med", "mad").first()
    # approx_percentile returns an observed value within rank error
    # r·n of the true quantile — on N(10,2) that is a small value gap
    assert abs(exact["med"] - approx["med"]) < 0.3
    assert abs(exact["mad"] - approx["mad"]) < 0.3


def test_robust_flags_rejects_bad_rel_error(spark):
    df = spark.createDataFrame([("a", 1.0)], "conv_id string, x double")
    with pytest.raises(ValueError):
        tsa.robust_flags(df, "x", rel_error=0.7).collect()


def test_robust_flags_no_window_no_cartesian(spark):
    df = spark.createDataFrame(
        [("c%d" % (i % 3), i, float(i)) for i in range(30)],
        "conv_id string, i int, x double",
    )
    out = tsa.robust_flags(df, "x")
    p = plan_str(out)
    # group stats travel via grouped aggregates + hash joins — never
    # a per-key window sort of the full relation, never a cartesian
    assert "CartesianProduct" not in p and "Window" not in p, p


# ------------------------------------------------------------ turn_taking
def test_turn_taking_counts(spark):
    rows = [
        # conv 1: user → assistant → assistant → tool → user
        (1, 0, 0.0, "user"), (1, 1, 2.0, "assistant"),
        (1, 2, 4.0, "assistant"), (1, 3, 10.0, "tool"),
        (1, 4, 16.0, "user"),
        # conv 2: single turn
        (2, 5, 0.0, "user"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, off double, event_type string"
    ).select(
        "user_id", "event_id",
        F.timestamp_seconds(F.lit(1700000000) + F.col("off")).alias("ts"),
        "event_type",
    )
    out = {r["user_id"]: r for r in tsa.turn_taking(df).collect()}
    c1 = out[1]
    assert c1["n_turns"] == 5 and c1["n_roles"] == 3
    assert c1["n_switches"] == 3  # u→a, a→t, t→u (a→a is not a switch)
    assert c1["mean_gap_s"] == pytest.approx(4.0)  # gaps 2,2,6,6
    assert c1["max_gap_s"] == pytest.approx(6.0)
    c2 = out[2]
    assert c2["n_turns"] == 1 and c2["n_switches"] == 0
    assert c2["mean_gap_s"] is None and c2["max_gap_s"] is None


def test_turn_taking_one_shuffle(spark):
    df = spark.createDataFrame(
        [(i % 3, i, float(i), "r%d" % (i % 2)) for i in range(30)],
        "user_id long, event_id long, off double, event_type string",
    ).select(
        "user_id", "event_id",
        F.timestamp_seconds(F.lit(1700000000) + F.col("off")).alias("ts"),
        "event_type",
    )
    out = tsa.turn_taking(df)
    assert count_exchanges(out) == 1, plan_str(out)


# ------------------------------------------------------- time_weighted_avg
def test_twa_trapezoid_hand_computed(spark):
    # one hour bucket: (t=0,v=0), (t=10,v=10), (t=30,v=10)
    # integral = (0+10)/2*10 + (10+10)/2*20 = 50+200 = 250; span 30
    df = _pts(spark, [("a", 0, 0.0), ("a", 10, 10.0), ("a", 30, 10.0)])
    r = tsa.time_weighted_avg(df, 3600, order_cols=("event_id",)).collect()[0]
    assert r["n"] == 3
    assert r["span_s"] == pytest.approx(30.0)
    assert r["twa"] == pytest.approx(250.0 / 30.0, abs=1e-4)


def test_twa_single_point_and_tied_ts_fallback(spark):
    # zero-span buckets fall back to the plain mean
    df = _pts(spark, [("a", 0, 4.0),             # alone in hour 0
                      ("b", 0, 2.0), ("b", 0, 6.0)])  # tied ts
    out = {r["conv_id"]: r for r in
           tsa.time_weighted_avg(df, 3600, order_cols=("event_id",))
           .collect()}
    assert out["a"]["twa"] == pytest.approx(4.0)
    assert out["b"]["span_s"] == 0.0
    assert out["b"]["twa"] == pytest.approx(4.0)


def test_twa_constant_series_is_constant(spark):
    # offsets stay inside one hour bucket (the test epoch is hh:13:20,
    # so the bucket boundary is ~2800 s away)
    df = _pts(spark, [("a", s, 7.5) for s in (0, 13, 59, 600, 2700)])
    r = tsa.time_weighted_avg(df, 3600, order_cols=("event_id",)).collect()[0]
    assert r["twa"] == pytest.approx(7.5)


def test_twa_linear_series_is_midpoint(spark):
    # v(t) = t/10 sampled unevenly: time-weighted mean of a linear
    # function over [0, T] is exactly (v(0)+v(T))/2
    samples = [0, 7, 100, 777, 1500, 2500]
    df = _pts(spark, [("a", s, s / 10.0) for s in samples])
    r = tsa.time_weighted_avg(df, 3600, order_cols=("event_id",)).collect()[0]
    assert r["twa"] == pytest.approx((0.0 + 250.0) / 2, abs=1e-4)


def test_twa_buckets_split_and_one_shuffle(spark):
    # samples straddling two hours land in two independent buckets.
    # NOTE: plan audits run BEFORE collect() — a finalized AQE plan
    # string repeats every node in its "Initial Plan" section, which
    # would double the exchange count
    df = _pts(spark, [("a", 100, 1.0), ("a", 200, 3.0),
                      ("a", 3700, 5.0), ("a", 3800, 9.0)])
    out = tsa.time_weighted_avg(df, 3600, order_cols=("event_id",))
    assert count_exchanges(out) == 1, plan_str(out)
    # the window partitions on (key, bucket): per-task input is one
    # bucket of one series, not a conversation's full history
    assert re.search(
        r"hashpartitioning\(conv_id[^)]*bucket_start", plan_str(out)
    ), plan_str(out)
    rows = sorted(out.collect(), key=lambda r: r["bucket_start"])
    assert [r["twa"] for r in rows] == [
        pytest.approx(2.0), pytest.approx(7.0)
    ]


def test_twa_non_calendar_bucket_epoch_floor(spark):
    # 90-second buckets exercise the epoch-floor path of _bucket_expr;
    # the test epoch is ≡ 80 (mod 90), so boundaries fall at
    # offsets 10, 100, 190, …
    df = _pts(spark, [("a", 20, 2.0), ("a", 80, 4.0), ("a", 110, 10.0)])
    rows = sorted(
        tsa.time_weighted_avg(df, 90, order_cols=("event_id",)).collect(),
        key=lambda r: r["bucket_start"],
    )
    assert len(rows) == 2
    assert rows[0]["n"] == 2 and rows[1]["n"] == 1
    assert rows[0]["twa"] == pytest.approx(3.0)
    assert rows[1]["twa"] == pytest.approx(10.0)


# ------------------------------------------------------------ holt
def _holt_loop(vals, a, b):
    l, t = vals[0], 0.0
    out = [(l, t)]
    for x in vals[1:]:
        nl = a * x + (1 - a) * (l + t)
        nt = b * (nl - l) + (1 - b) * t
        l, t = nl, nt
        out.append((l, t))
    return out


def test_segmented_holt_matches_loop():
    rng = np.random.default_rng(11)
    lens = [1, 2, 5, 17, 40]
    vals = rng.normal(0, 3, sum(lens))
    starts = np.cumsum([0] + lens[:-1])
    lvl, trd = tsa.segmented_holt(vals, starts, 0.3, 0.1)
    i = 0
    for L in lens:
        want = _holt_loop(vals[i: i + L].tolist(), 0.3, 0.1)
        got = list(zip(lvl[i: i + L], trd[i: i + L]))
        for (wl, wt), (gl, gt) in zip(want, got):
            assert gl == pytest.approx(wl, rel=1e-12)
            assert gt == pytest.approx(wt, rel=1e-12, abs=1e-12)
        i += L


def test_segmented_holt_empty():
    lvl, trd = tsa.segmented_holt(np.empty(0), np.empty(0, np.int64), 0.3, 0.1)
    assert len(lvl) == 0 and len(trd) == 0


def test_holt_operator_parity(spark):
    rng = np.random.default_rng(3)
    rows = []
    for c, L in (("a", 7), ("b", 1), ("c", 23)):
        for i in range(L):
            rows.append((c, i, float(rng.normal(5, 2))))
    df = spark.createDataFrame(
        rows, "conv_id string, bucket_start int, mean_v double"
    )
    got = {
        (r["conv_id"], r["bucket_start"]): (r["level"], r["trend"])
        for r in tsa.holt(df, "mean_v", alpha=0.3, beta=0.1).collect()
    }
    by_conv = {}
    for c, i, v in rows:
        by_conv.setdefault(c, []).append(v)
    for c, vals in by_conv.items():
        want = _holt_loop(vals, 0.3, 0.1)
        for i, (wl, wt) in enumerate(want):
            gl, gt = got[(c, i)]
            assert gl == pytest.approx(wl, rel=1e-12)
            assert gt == pytest.approx(wt, rel=1e-12, abs=1e-12)


# ------------------------------------------------------------ ar2
def _ar2_reference(vals):
    x = np.asarray(vals, float)
    n = len(x)
    d = x - x.mean()
    c0 = (d * d).sum() / n
    c1 = (d[1:] * d[:-1]).sum() / n
    c2 = (d[2:] * d[:-2]).sum() / n
    denom = c0 * c0 - c1 * c1
    if denom == 0:
        return None, None, [None] * n
    p1 = c1 * (c0 - c2) / denom
    p2 = (c0 * c2 - c1 * c1) / denom
    resid = [None, None] + [
        d[t] - p1 * d[t - 1] - p2 * d[t - 2] for t in range(2, n)
    ]
    return p1, p2, resid


def test_ar2_matches_reference_formula(spark):
    rng = np.random.default_rng(5)
    # an actual AR(2) process so the fit is well-conditioned
    x = [0.0, 0.1]
    for _ in range(60):
        x.append(0.6 * x[-1] - 0.3 * x[-2] + rng.normal(0, 1))
    df = spark.createDataFrame(
        [("a", i, float(v)) for i, v in enumerate(x)],
        "conv_id string, bucket_start int, mean_v double",
    )
    out = sorted(tsa.ar2_residuals(df, "mean_v").collect(),
                 key=lambda r: r["bucket_start"])
    p1, p2, resid = _ar2_reference(x)
    assert out[0]["phi1"] == pytest.approx(p1, rel=1e-9)
    assert out[0]["phi2"] == pytest.approx(p2, rel=1e-9)
    # the estimated coefficients recover the generating process
    assert abs(p1 - 0.6) < 0.25 and abs(p2 + 0.3) < 0.25
    for r, want in zip(out, resid):
        if want is None:
            assert r["resid"] is None
        else:
            assert r["resid"] == pytest.approx(want, rel=1e-9, abs=1e-9)


def test_ar2_degenerate_series(spark):
    df = spark.createDataFrame(
        # constant series (denom 0) and a 2-sample series (c2 empty)
        [("const", i, 4.0) for i in range(10)]
        + [("short", 0, 1.0), ("short", 1, 2.0)],
        "conv_id string, bucket_start int, mean_v double",
    )
    rows = tsa.ar2_residuals(df, "mean_v").collect()
    assert len(rows) == 12
    for r in rows:
        assert r["phi1"] is None and r["phi2"] is None
        assert r["resid"] is None


def test_ar2_one_physical_exchange(spark):
    df = spark.createDataFrame(
        [("c%d" % (i % 3), i, float(i % 7)) for i in range(60)],
        "conv_id string, bucket_start int, mean_v double",
    )
    out = tsa.ar2_residuals(df, "mean_v")
    # the lagged subtree feeds both the residual branch and the
    # covariance branch; the static plan prints its exchange twice,
    # but at runtime AQE's exchange reuse collapses them — execute,
    # then audit the FINAL plan: one physical shuffle of the series
    # relation, the duplicate read as ReusedExchange, and the tiny
    # per-series coefficient relation broadcast, never a cartesian
    out.collect()
    final = plan_str(out).split("== Initial Plan ==")[0]
    assert len(re.findall(
        r"\+- Exchange hashpartitioning", final)) == 1, final
    assert "ReusedExchange" in final, final
    assert "CartesianProduct" not in final


# ------------------------------------------------------------ candles
def test_candles_ohlc(spark):
    # hour bucket: values 5 (first), 9 (high), 2 (low), 7 (last)
    df = _pts(spark, [("a", 0, 5.0), ("a", 10, 9.0),
                      ("a", 20, 2.0), ("a", 30, 7.0)])
    r = tsa.candles(df, 3600, order_cols=("event_id",)).collect()[0]
    assert (r["open"], r["high"], r["low"], r["close"]) == (5.0, 9.0, 2.0, 7.0)
    assert r["n"] == 4


def test_candles_tie_broken_by_order_col(spark):
    # two samples at the SAME timestamp: event_id decides open/close
    df = _pts(spark, [("a", 0, 3.0), ("a", 0, 8.0)])
    r = tsa.candles(df, 3600, order_cols=("event_id",)).collect()[0]
    assert r["open"] == 3.0 and r["close"] == 8.0


def test_candles_one_shuffle_no_window(spark):
    df = _pts(spark, [("a", i, float(i)) for i in range(20)])
    out = tsa.candles(df, 3600, order_cols=("event_id",))
    p = plan_str(out)
    assert count_exchanges(out) == 1, p
    assert "Window" not in p, p


# ------------------------------------------------------------ m4
def test_m4_picks_four_extremum_points(spark):
    # one hour bucket: values 5, 1, 9, 1, 7 at t=0,10,20,30,40
    df = _pts(spark, [("a", 0, 5.0), ("a", 10, 1.0), ("a", 20, 9.0),
                      ("a", 30, 1.0), ("a", 40, 7.0)])
    r = tsa.m4(df, 3600, order_cols=("event_id",)).collect()[0]
    assert r["n"] == 5
    assert (r["first_v"], r["last_v"]) == (5.0, 7.0)
    assert (r["low_v"], r["high_v"]) == (1.0, 9.0)
    base = r["first_ts"]
    # min value appears twice (t=10, t=30): earliest occurrence wins
    assert (r["low_ts"] - base).total_seconds() == 10.0
    assert (r["high_ts"] - base).total_seconds() == 20.0
    assert (r["last_ts"] - base).total_seconds() == 40.0


def test_m4_value_ties_broken_by_earliest_on_both_sides(spark):
    # constant series: low and high both resolve to the FIRST sample
    df = _pts(spark, [("a", 0, 4.0), ("a", 10, 4.0), ("a", 20, 4.0)])
    r = tsa.m4(df, 3600, order_cols=("event_id",)).collect()[0]
    assert r["low_ts"] == r["first_ts"]
    assert r["high_ts"] == r["first_ts"]
    # same-timestamp tie: order_col (event_id) decides
    df2 = _pts(spark, [("a", 0, 3.0), ("a", 0, 8.0)])
    r2 = tsa.m4(df2, 3600, order_cols=("event_id",)).collect()[0]
    assert r2["first_v"] == 3.0 and r2["last_v"] == 8.0


def test_m4_buckets_and_null_filter(spark):
    # two hour buckets + a NULL sample that must not count
    df = _pts(spark, [("a", 0, 1.0), ("a", 10, None), ("a", 3600, 2.0)])
    rows = tsa.m4(df, 3600, order_cols=("event_id",)).collect()
    assert len(rows) == 2 and all(r["n"] == 1 for r in rows)


def test_m4_one_shuffle_no_window_partial_agg(spark):
    # ONE hash exchange, no per-bucket sort window, and map-side
    # combine: the shuffle carries partial_min_by/max_by states (one
    # combined row per (key, bucket) per map task), never raw points
    # (struct-ordered min_by plans as SortAggregate, not hash)
    df = _pts(spark, [("a", i, float(i % 7)) for i in range(50)])
    out = tsa.m4(df, 3600, order_cols=("event_id",))
    p = plan_str(out)
    assert count_exchanges(out) == 1, p
    assert "Window" not in p, p
    assert "partial_min_by" in p and "partial_max_by" in p, p


# ------------------------------------------------------------ changepoints
def _series1(spark, vals, key="a"):
    return spark.createDataFrame(
        [(key, 1700000000 + i * 60, float(v)) for i, v in enumerate(vals)],
        "conv_id string, epoch long, mean_v double",
    ).select("conv_id",
             F.timestamp_seconds(F.col("epoch")).alias("bucket_start"),
             "mean_v")


def test_changepoints_flags_level_shift(spark):
    # 10 zeros then 10 ones, w=3: the boundary rows see a full-window
    # mean shift; rows deep inside either regime stay quiet
    out = tsa.changepoints(
        _series1(spark, [0.0] * 10 + [1.0] * 10), "mean_v", w=3, k=2.0)
    rows = sorted(out.collect(), key=lambda r: r["bucket_start"])
    flags = [r["flag"] for r in rows]
    assert flags[10] == 1          # exact boundary
    assert any(flags[8:13])        # shift detected around it
    assert not any(flags[:5]) and not any(flags[-5:])


def test_changepoints_constant_shift_flags_with_null_score(spark):
    # both windows locally constant across the jump: denominator 0,
    # score NULL, but the nonzero shift still flags (exact-shift path)
    out = tsa.changepoints(
        _series1(spark, [5.0] * 6 + [9.0] * 6), "mean_v", w=3, k=3.0)
    r = sorted(out.collect(), key=lambda r: r["bucket_start"])[6]
    assert r["mean_l"] == 5.0 and r["mean_r"] == 9.0
    assert r["score"] is None and r["flag"] == 1


def test_changepoints_partial_windows_never_flag(spark):
    # fewer than 2w samples: no row ever has both windows full
    out = tsa.changepoints(_series1(spark, [0.0, 9.0, 0.0, 9.0]),
                           "mean_v", w=3, k=0.1)
    assert [r["flag"] for r in out.collect()] == [0, 0, 0, 0]


def test_changepoints_validation_and_plan(spark):
    with pytest.raises(ValueError, match="w must be"):
        tsa.changepoints(_series1(spark, [1.0]), "mean_v", w=1)
    out = tsa.changepoints(
        _series1(spark, [float(i) for i in range(30)]), "mean_v", w=5)
    p = plan_str(out)
    # all six frame aggregates share one Window operator, one exchange
    assert count_exchanges(out) == 1, p
    assert len(re.findall(r"\bWindow ", p)) == 1, p


# ------------------------------------------------------------ seasonal
def test_seasonal_zscore_phase_profile(spark):
    # minute-of-hour phase 0: 15 quiet hours at 10 plus one 100 —
    # z = (100−15.625)/21.79 ≈ 3.87 > 3 even though the spike
    # inflates its own phase σ (a single outlier among n samples
    # caps at z = √(n−1), so history must be ≥10 for a 3σ flag);
    # phase 1 constant -> no flags
    rows = []
    for h, v in enumerate([10.0] * 15 + [100.0]):
        rows.append(("a", h * 3600, v))          # minute 0 of each hour
    for h in range(4):
        rows.append(("a", h * 3600 + 60, 5.0))   # minute 1, constant
    df = spark.createDataFrame(
        [(c, F_off, v) for c, F_off, v in rows],
        "conv_id string, off long, value double",
    ).select(
        "conv_id",
        F.timestamp_seconds(F.lit(1699999200) + F.col("off")).alias(
            "bucket_start"),  # hour-aligned epoch
        F.col("value").alias("mean_v"),
    )
    out = tsa.seasonal_zscore(df, "mean_v", ts_col="bucket_start",
                              phase="minute_of_hour", k=3.0).collect()
    flagged = [r for r in out if r["flag"] == 1]
    assert len(flagged) == 1
    assert flagged[0]["mean_v"] == 100.0 and flagged[0]["phase"] == 0
    # constant phase: std 0, flag 0 everywhere
    for r in out:
        if r["phase"] == 1:
            assert r["phase_std"] == 0.0 and r["flag"] == 0


def test_seasonal_zscore_rejects_unknown_phase(spark):
    df = spark.createDataFrame(
        [("a", 1.0)], "conv_id string, mean_v double")
    with pytest.raises(ValueError):
        tsa.seasonal_zscore(df, "mean_v", phase="day_of_century")


# ------------------------------------------------------------ stl_lite
def test_stl_lite_decomposition_identity_and_trend(spark):
    rng = np.random.default_rng(9)
    rows = [("a", i, float(10 + 0.1 * i + rng.normal(0, 0.5)))
            for i in range(40)]
    df = spark.createDataFrame(
        rows, "conv_id string, i long, mean_v double"
    ).select(
        "conv_id",
        F.timestamp_seconds(F.lit(1699999200) + F.col("i") * 60).alias(
            "bucket_start"),
        "mean_v",
    )
    out = sorted(
        tsa.stl_lite(df, "mean_v", trend_halfwidth=5).collect(),
        key=lambda r: r["bucket_start"],
    )
    vals = [v for _, _, v in rows]
    for i, r in enumerate(out):
        # identity: value == trend + seasonal + resid
        assert r["mean_v"] == pytest.approx(
            r["trend"] + r["seasonal"] + r["resid"], abs=1e-9)
        # trend is the centered rolling mean over available rows
        lo, hi = max(0, i - 5), min(len(vals), i + 6)
        assert r["trend"] == pytest.approx(
            sum(vals[lo:hi]) / (hi - lo), abs=1e-9)


def test_stl_lite_one_exchange(spark):
    df = spark.createDataFrame(
        [("c%d" % (i % 3), i, float(i)) for i in range(30)],
        "conv_id string, i long, mean_v double",
    ).select(
        "conv_id",
        F.timestamp_seconds(F.lit(1699999200) + F.col("i") * 60).alias(
            "bucket_start"),
        "mean_v",
    )
    out = tsa.stl_lite(df, "mean_v")
    # the (key, phase) window's clustered distribution is satisfied
    # by the key partitioning: one exchange, two window ops
    assert count_exchanges(out) == 1, plan_str(out)


def test_stl_lite_rejects_unknown_phase(spark):
    df = spark.createDataFrame(
        [("a", 1.0)], "conv_id string, mean_v double")
    with pytest.raises(ValueError):
        tsa.stl_lite(df, "mean_v", phase="fortnight")


# ------------------------------------------------------------ lttb
def _lttb_spark(spark, vals, n_out):
    df = spark.createDataFrame(
        [("a", i, float(v)) for i, v in enumerate(vals)],
        "conv_id string, i long, mean_v double",
    ).select(
        "conv_id",
        F.timestamp_seconds(F.lit(1699999200) + F.col("i") * 60).alias(
            "bucket_start"),
        "mean_v",
    )
    rows = sorted(tsa.lttb(df, "mean_v", n_out=n_out,
                           ts_col="bucket_start").collect(),
                  key=lambda r: r["bucket_start"])
    return rows


def test_lttb_short_series_kept_whole(spark):
    rows = _lttb_spark(spark, range(10), 20)
    assert all(r["selected"] for r in rows)


def test_lttb_counts_endpoints_and_spike(spark):
    # 100-point flat series with one huge spike: LTTB must keep the
    # endpoints, exactly n_out points, and the spike
    vals = [1.0] * 100
    vals[43] = 500.0
    rows = _lttb_spark(spark, vals, 20)
    sel = [i for i, r in enumerate(rows) if r["selected"]]
    assert len(sel) == 20
    assert 0 in sel and 99 in sel and 43 in sel


def test_lttb_rejects_tiny_n_out(spark):
    df = spark.createDataFrame(
        [("a", 1.0)], "conv_id string, mean_v double")
    with pytest.raises(ValueError):
        tsa.lttb(df, "mean_v", n_out=2)


def test_lttb_multi_series_independent(spark):
    rng = np.random.default_rng(13)
    rows = []
    for c, L in (("a", 5), ("b", 120), ("c", 21)):
        for i in range(L):
            rows.append((c, i, float(rng.normal(0, 1))))
    df = spark.createDataFrame(
        rows, "conv_id string, i long, mean_v double"
    ).select(
        "conv_id",
        F.timestamp_seconds(F.lit(1699999200) + F.col("i") * 60).alias(
            "bucket_start"),
        "mean_v",
    )
    out = tsa.lttb(df, "mean_v", n_out=20, ts_col="bucket_start").collect()
    n_sel = {}
    for r in out:
        n_sel[r["conv_id"]] = n_sel.get(r["conv_id"], 0) + int(r["selected"])
    assert n_sel == {"a": 5, "b": 20, "c": 20}


# ------------------------------------------------------------ cusum
def test_segmented_cusum_matches_loop():
    rng = np.random.default_rng(17)
    lens = [1, 3, 8, 30]
    dev = rng.normal(-0.2, 1.0, sum(lens))
    starts = np.cumsum([0] + lens[:-1])
    got = tsa.segmented_cusum(dev, starts)
    i = 0
    for L in lens:
        s = 0.0
        for j in range(L):
            s = max(0.0, s + dev[i + j])
            assert got[i + j] == pytest.approx(s, rel=1e-12, abs=1e-15)
        i += L


def test_cusum_detects_level_shift_zscore_misses(spark):
    # 60 samples at 10, then 40 samples at 10 + 1.2σ-ish: each point
    # is individually unremarkable, but the accumulated positive
    # deviations cross h·σ — the drift case CUSUM exists for
    rng = np.random.default_rng(21)
    vals = list(rng.normal(10.0, 1.0, 60)) + list(rng.normal(12.5, 1.0, 40))
    df = spark.createDataFrame(
        [("a", i, float(v)) for i, v in enumerate(vals)],
        "conv_id string, bucket_start int, mean_v double",
    )
    out = sorted(tsa.cusum_flags(df, "mean_v").collect(),
                 key=lambda r: r["bucket_start"])
    # with a pooled per-series mean BOTH regimes drift from μ, so
    # flags appear on each side — but only after accumulation: the
    # earliest flag needs many same-sign deviations, never the first
    # few samples (a point-wise envelope would flag nothing at all
    # here: max |x−μ| ≈ 2σ of the pooled spread)
    first_flag = next(i for i, r in enumerate(out) if r["flag"])
    assert first_flag > 10
    # the post-shift regime drives the POSITIVE side over threshold
    assert any(r["flag"] and r["s_pos"] > r["s_neg"] for r in out[60:])


def test_cusum_constant_series_never_flags(spark):
    df = spark.createDataFrame(
        [("a", i, 7.0) for i in range(20)],
        "conv_id string, bucket_start int, mean_v double",
    )
    out = tsa.cusum_flags(df, "mean_v").collect()
    assert all(r["flag"] == 0 for r in out)
    assert all(r["s_pos"] == 0.0 and r["s_neg"] == 0.0 for r in out)


# ---------------------------------------------------- hist_quantile
def test_hist_quantile_known_interpolation(spark):
    # rank = 0.5·5 = 2.5 lands in (5, 10]: cum_prev=2, cum=3 →
    # 5 + (10−5)·(2.5−2)/(3−2) = 7.5
    df = _pts(spark, [("m", i, v)
                      for i, v in enumerate([0.5, 3.0, 7.0, 20.0, 40.0])])
    out = tsa.hist_quantile(
        df.withColumnRenamed("conv_id", "event_type"), q=0.5,
        key="event_type").collect()
    assert len(out) == 1
    assert out[0]["n"] == 5
    assert out[0]["q_est"] == pytest.approx(7.5)


def test_hist_quantile_first_bucket_and_overflow(spark):
    # first bucket interpolates from lower edge 0; a rank falling in
    # the +Inf overflow bucket returns the highest finite boundary
    lo = _pts(spark, [("a", 0, 0.2), ("a", 1, 0.4)])
    hi = _pts(spark, [("b", 0, 500.0), ("b", 1, 900.0)])
    out = {
        r["event_type"]: r["q_est"]
        for r in tsa.hist_quantile(
            lo.union(hi).withColumnRenamed("conv_id", "event_type"),
            q=0.5, key="event_type").collect()
    }
    assert out["a"] == pytest.approx(0.5)  # 0 + (1−0)·(1−0)/(2−0)
    assert out["b"] == pytest.approx(tsa.HIST_BOUNDARIES[-1])


def test_hist_quantile_validation(spark):
    df = _pts(spark, [("m", 0, 1.0)])
    with pytest.raises(ValueError, match="q must be"):
        tsa.hist_quantile(df, q=1.0, key="conv_id")
    with pytest.raises(ValueError, match="strictly increasing"):
        tsa.hist_quantile(df, boundaries=(5.0, 5.0), key="conv_id")


# ----------------------------------------------------- alert_states
def _series(spark, vals, buckets=None):
    bs = buckets if buckets is not None else list(range(len(vals)))
    return spark.createDataFrame(
        [("a", int(b), float(v)) for b, v in zip(bs, vals)],
        "conv_id string, bucket_start int, mean_v double",
    )


def test_alert_states_run_length(spark):
    # breach pattern F T T T F T with for_k=3:
    # ok, pending, pending, firing, ok, pending
    df = _series(spark, [1, 11, 12, 13, 1, 14])
    out = sorted(
        tsa.alert_states(df, "mean_v", threshold=10.0, for_k=3).collect(),
        key=lambda r: r["bucket_start"])
    assert [r["state"] for r in out] == [
        "ok", "pending", "pending", "firing", "ok", "pending"]
    assert [r["run_pos"] for r in out] == [0, 1, 2, 3, 0, 1]
    assert [r["breach"] for r in out] == [0, 1, 1, 1, 0, 1]


def test_alert_states_fires_from_k_onward(spark):
    # once held for k the alert STAYS firing while the breach holds
    df = _series(spark, [11, 12, 13, 14, 15])
    out = sorted(
        tsa.alert_states(df, "mean_v", threshold=10.0, for_k=2).collect(),
        key=lambda r: r["bucket_start"])
    assert [r["state"] for r in out] == [
        "pending", "firing", "firing", "firing", "firing"]


def test_alert_states_gap_resets_run(spark):
    # same breach values, but a hole in the series: sample-consecutive
    # mode bridges it, gap-aware mode restarts the run after the hole
    ts0 = 1700000000
    buckets = [ts0, ts0 + 60, ts0 + 300, ts0 + 360]
    df = spark.createDataFrame(
        [("a", b, 99.0) for b in buckets],
        "conv_id string, epoch long, mean_v double",
    ).select(
        "conv_id",
        F.timestamp_seconds(F.col("epoch")).alias("bucket_start"),
        "mean_v",
    )
    bridged = sorted(
        tsa.alert_states(df, "mean_v", threshold=10.0, for_k=2).collect(),
        key=lambda r: r["bucket_start"])
    assert [r["state"] for r in bridged] == [
        "pending", "firing", "firing", "firing"]
    gapped = sorted(
        tsa.alert_states(df, "mean_v", threshold=10.0, for_k=2,
                         max_gap_seconds=60).collect(),
        key=lambda r: r["bucket_start"])
    assert [r["state"] for r in gapped] == [
        "pending", "firing", "pending", "firing"]
    assert [r["run_pos"] for r in gapped] == [1, 2, 1, 2]


def test_alert_states_null_sample_is_ok(spark):
    # a NULL sample is a non-breach: state 'ok', run_pos 0 (the
    # oracle's CASE ELSE 0) — never a phantom 'pending'
    df = spark.createDataFrame(
        [("a", 0, 99.0), ("a", 1, None), ("a", 2, 99.0)],
        "conv_id string, bucket_start int, mean_v double",
    )
    out = sorted(
        tsa.alert_states(df, "mean_v", threshold=10.0, for_k=2).collect(),
        key=lambda r: r["bucket_start"])
    assert [r["state"] for r in out] == ["pending", "ok", "pending"]
    assert [r["breach"] for r in out] == [1, 0, 1]
    assert [r["run_pos"] for r in out] == [1, 0, 1]


def test_alert_states_single_exchange(spark):
    # three pipelined window phases over ONE hash exchange on the
    # series key — the (key, run) window's clustering is satisfied by
    # hash(key), so no second exchange (sessionize idiom)
    df = _series(spark, [1, 11, 12, 13, 1, 14])
    out = tsa.alert_states(df, "mean_v", threshold=10.0, for_k=3)
    assert count_exchanges(out) == 1, plan_str(out)


# ------------------------------------------------------ metric_corr
def _metric_events(spark, series):
    """series: {metric: [(hour, value), ...]} on one calendar day."""
    rows = []
    for m, pts in series.items():
        for h, v in pts:
            rows.append((m, 1704067200 + 3600 * h + 7, float(v)))
    return spark.createDataFrame(
        rows, "event_type string, epoch long, value double"
    ).select(
        "event_type",
        F.timestamp_seconds(F.col("epoch")).alias("ts"),
        "value",
    )


def test_metric_corr_perfect_and_anti(spark):
    hours = list(range(6))
    df = _metric_events(spark, {
        "a": [(h, float(h)) for h in hours],
        "b": [(h, 2.0 * h + 3.0) for h in hours],
        "c": [(h, -1.0 * h) for h in hours],
    })
    out = {
        (r["metric_a"], r["metric_b"]): r
        for r in tsa.metric_corr(df, ("a", "b", "c")).collect()
    }
    assert out[("a", "b")]["r"] == pytest.approx(1.0)
    assert out[("a", "c")]["r"] == pytest.approx(-1.0)
    assert out[("b", "c")]["r"] == pytest.approx(-1.0)
    assert all(r["n_pts"] == 6 for r in out.values())


def test_metric_corr_masks_to_shared_hours(spark):
    # metric b is missing at hours 3-5; the pair (a, b) correlates
    # over the 3 shared hours only, and a constant metric yields NULL
    df = _metric_events(spark, {
        "a": [(h, float(h)) for h in range(6)],
        "b": [(0, 5.0), (1, 7.0), (2, 9.0)],
        "k": [(h, 4.0) for h in range(6)],
    })
    out = {
        (r["metric_a"], r["metric_b"]): r
        for r in tsa.metric_corr(df, ("a", "b", "k")).collect()
    }
    assert out[("a", "b")]["n_pts"] == 3
    assert out[("a", "b")]["r"] == pytest.approx(1.0)
    assert out[("a", "k")]["r"] is None  # zero variance on k
    assert out[("a", "k")]["n_pts"] == 6


def test_metric_corr_validation(spark):
    df = _metric_events(spark, {"a": [(0, 1.0)]})
    with pytest.raises(ValueError, match="at least 2"):
        tsa.metric_corr(df, ("a",))


def test_hist_quantile_single_exchange(spark):
    # cumulative counts are conditional sums inside ONE map-side-
    # combined groupBy; interpolation is a CASE on the aggregated row
    df = _pts(spark, [("m", i, float(i)) for i in range(8)])
    out = tsa.hist_quantile(
        df.withColumnRenamed("conv_id", "event_type"), key="event_type")
    assert count_exchanges(out) == 1, plan_str(out)


def test_metric_corr_two_exchanges(spark):
    # raw events → grid rollup (heavy exchange, |metrics| doubles per
    # bucket) → pair-sum rollup over the tiny grid relation
    df = _metric_events(spark, {"a": [(0, 1.0)], "b": [(0, 2.0)]})
    out = tsa.metric_corr(df, ("a", "b"))
    assert count_exchanges(out) == 2, plan_str(out)


# ------------------------------------------------------------ snaive_eval
def test_seasonal_naive_eval_known_errors(spark):
    # two samples per minute-of-hour phase: hour-2 values predicted
    # by hour-1 values -> errors 3 and 6, MAE 4.5, SMAPE 2e/(y+yhat)
    # minutes 0,1 of two consecutive hours
    rows = [("a", 0, 10.0), ("a", 60, 20.0),
            ("a", 3600, 13.0), ("a", 3660, 26.0)]
    df = spark.createDataFrame(
        [(c, 1700000000 + s, v) for c, s, v in rows],
        "conv_id string, epoch long, mean_v double",
    ).select("conv_id",
             F.timestamp_seconds(F.col("epoch")).alias("bucket_start"),
             "mean_v")
    r = tsa.seasonal_naive_eval(df, "mean_v").collect()[0]
    assert r["n_eval"] == 2
    assert r["mae"] == pytest.approx(4.5)
    assert r["smape"] == pytest.approx(
        (2 * 3 / 23 + 2 * 6 / 46) / 2, abs=1e-4)


def test_seasonal_naive_eval_first_occurrences_excluded(spark):
    # a single pass over each phase -> nothing has a predecessor
    df = _series1(spark, [1.0, 2.0, 3.0])
    assert tsa.seasonal_naive_eval(df, "mean_v").count() == 0


# ------------------------------------------------------------ psi_drift
def _ev_days(spark, day_vals):
    """day_vals: {day_index: [values]} for one event_type."""
    rows = []
    for d, vals in day_vals.items():
        for i, v in enumerate(vals):
            rows.append(("x", 1704067200 + d * 86400 + i, float(v)))
    return spark.createDataFrame(
        rows, "event_type string, sec long, value double",
    ).select("event_type", F.timestamp_seconds("sec").alias("ts"), "value")


def test_psi_identical_days_zero_and_shift_large(spark):
    stable = [0.5, 3.0, 7.0, 30.0, 150.0]
    shifted = [300.0] * 5
    df = _ev_days(spark, {0: stable, 1: stable, 2: shifted})
    out = {r["bucket_start"].day: r["psi"]
           for r in tsa.psi_drift(df).collect()}
    days = sorted(out)
    assert len(days) == 2                       # day 0 has no prev
    assert out[days[0]] == pytest.approx(0.0)   # identical dists
    assert out[days[1]] > 0.25                  # regime change


def test_psi_missing_bin_finite_via_smoothing(spark):
    # day 2 empties a bin day 1 populated: smoothing keeps PSI finite
    df = _ev_days(spark, {0: [0.5, 500.0], 1: [0.5, 0.5]})
    [r] = tsa.psi_drift(df).collect()
    assert r["psi"] is not None and math.isfinite(r["psi"])
    assert r["psi"] > 0


def test_psi_validation(spark):
    df = _ev_days(spark, {0: [1.0]})
    with pytest.raises(ValueError, match="strictly increasing"):
        tsa.psi_drift(df, boundaries=(5.0, 1.0))
    with pytest.raises(ValueError, match="smoothing"):
        tsa.psi_drift(df, smoothing=0.0)


def test_psi_scans_raw_input_once(spark):
    # both the histogram branch and the (key, bucket) grid branch
    # hang off the FIRST groupBy's exchange — ReuseExchange leaves
    # one physical scan of the raw corpus
    df = _ev_days(spark, {0: [1.0, 2.0], 1: [3.0, 4.0]})
    p = plan_str(tsa.psi_drift(df))
    assert len(re.findall(r"Scan ExistingRDD", p)) == 1, p


# ------------------------------------------------------------ holt_winters
def test_segmented_holt_winters_matches_naive_walk():
    # property: position-major 2+m-state block scan ≡ per-segment
    # python recursion, random segment lengths and params
    rng = np.random.default_rng(13)
    for m in (2, 4, 7):
        for _ in range(10):
            n_segs = int(rng.integers(1, 6))
            lens = rng.integers(1, 30, n_segs)
            starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            x = rng.normal(10, 3, int(lens.sum()))
            a, b, g = 0.3, 0.1, 0.2
            lvl, trd, sea = tsa.segmented_holt_winters(
                x, starts, a, b, g, m)
            for s0, ln in zip(starts, lens):
                l, t = x[s0], 0.0
                S = [0.0] * m
                assert lvl[s0] == pytest.approx(l)
                assert trd[s0] == 0.0 and sea[s0] == 0.0
                for j in range(1, ln):
                    i = s0 + j
                    sp = S[j % m]
                    nl = a * (x[i] - sp) + (1 - a) * (l + t)
                    t = b * (nl - l) + (1 - b) * t
                    S[j % m] = g * (x[i] - nl) + (1 - g) * sp
                    l = nl
                    assert lvl[i] == pytest.approx(l, rel=1e-12)
                    assert trd[i] == pytest.approx(t, rel=1e-12, abs=1e-12)
                    assert sea[i] == pytest.approx(
                        S[j % m], rel=1e-12, abs=1e-12)
    assert tsa.segmented_holt_winters(
        np.empty(0), np.empty(0, np.int64), 0.3, 0.1, 0.2, 4
    )[0].size == 0


def test_holt_winters_validation(spark):
    with pytest.raises(ValueError, match="m must be"):
        tsa.holt_winters(_series1(spark, [1.0]), "mean_v", m=1)


# ------------------------------------------------------------ linear_trend
def test_linear_trend_exact_line(spark):
    # y = 1 + 2·x with x = hours since the DAY start (epoch base
    # 1700000000 is 80000 s into its UTC day; offsets stay inside
    # it): slope 2/h, intercept 1 (fitted at the bucket start), r² 1
    # — and a constant conversation gives slope 0, r² 1
    offs = [0, 600, 1200, 1800]
    rows = [("a", o, 1.0 + 2.0 * ((80000 + o) / 3600.0)) for o in offs]
    rows += [("b", o, 5.0) for o in offs]
    df = _pts(spark, rows)
    out = {r["conv_id"]: r
           for r in tsa.linear_trend(df, bucket_seconds=86400).collect()}
    a = out["a"]
    assert a["n"] == 4
    assert a["slope_per_h"] == pytest.approx(2.0)
    assert a["intercept"] == pytest.approx(1.0)
    assert a["r2"] == pytest.approx(1.0)
    b = out["b"]
    assert b["slope_per_h"] == pytest.approx(0.0)
    # constant value over varying time: slope 0, r² 1 (both engines)
    assert b["r2"] == pytest.approx(1.0)


def test_linear_trend_degenerate_groups_null(spark):
    # single sample and zero time-variance groups → NULL slope/r²;
    # NULL values are dropped before the fit
    df = _pts(spark, [("one", 0, 7.0),
                      ("same_t", 10, 1.0), ("same_t", 10, 3.0),
                      ("nulls", 0, None), ("nulls", 60, 2.0)])
    out = {r["conv_id"]: r
           for r in tsa.linear_trend(df, bucket_seconds=86400).collect()}
    assert out["one"]["n"] == 1 and out["one"]["slope_per_h"] is None
    assert out["same_t"]["slope_per_h"] is None
    assert out["same_t"]["r2"] is None
    assert out["nulls"]["n"] == 1


def test_linear_trend_single_exchange(spark):
    # regr_* are mergeable moment aggregates: the whole plan is one
    # map-side-combined groupBy — partials merge, nothing sorts
    df = _pts(spark, [("a", i * 60, float(i)) for i in range(8)])
    out = tsa.linear_trend(df, bucket_seconds=86400)
    assert count_exchanges(out) == 1, plan_str(out)
    assert "Sort" not in plan_str(out)


# ------------------------------------------------------------ ensemble
def test_ensemble_flags_majority_vote(spark):
    # per-point: votes = z+mad+cusum and flag = (votes >= 2); each
    # component column equals its standalone detector's output
    from yahoo_anomaly_detection_spark import caching

    vals = [10.0] * 20 + [10.5] * 5 + [60.0] + [10.0] * 10
    df = _series1(spark, vals)
    with caching.scope():
        out = tsa.ensemble_flags(df, "mean_v").collect()
        mad = {r["bucket_start"]: r["flag"]
               for r in tsa.robust_flags(df, "mean_v", k=3.0).collect()}
        cus = {r["bucket_start"]: r["flag"]
               for r in tsa.cusum_flags(df, "mean_v").collect()}
    arr = np.array(vals)
    mu, sd = arr.mean(), arr.std()
    z = {r["bucket_start"]: int(abs(r["mean_v"] - mu) > 3.0 * sd)
         for r in df.collect()}
    assert len(out) == len(vals)
    spike_seen = False
    for r in out:
        b = r["bucket_start"]
        assert r["z_flag"] == z[b]
        assert r["mad_flag"] == mad[b]
        assert r["cusum_flag"] == cus[b]
        assert r["votes"] == r["z_flag"] + r["mad_flag"] + r["cusum_flag"]
        assert r["flag"] == int(r["votes"] >= 2)
        if r["mean_v"] == 60.0:
            spike_seen = True
            # the spike is anomalous by every definition
            assert r["votes"] >= 2 and r["flag"] == 1
    assert spike_seen
    # constant stretches never reach a majority
    assert all(r["flag"] == 0 for r in out if r["mean_v"] == 10.0)


def test_ensemble_flags_single_point_series(spark):
    # one sample: σ = 0, MAD = 0, CUSUM state 0 → all flags 0
    from yahoo_anomaly_detection_spark import caching

    with caching.scope():
        rows = tsa.ensemble_flags(
            _series1(spark, [42.0]), "mean_v").collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["z_flag"], r["mad_flag"], r["cusum_flag"]) == (0, 0, 0)
    assert r["votes"] == 0 and r["flag"] == 0


# ------------------------------------------------------------ absent_flags
def test_absent_flags_run_counting(spark):
    # observed minutes 0,1,5,6,10: misses at 2,3,4 (runs 1,2,3) and
    # 7,8,9 (runs 1,2,3); k=3 fires exactly at the 3rd consecutive
    # miss of each gap
    from yahoo_anomaly_detection_spark import caching

    obs = _series1(spark, [1.0] * 11).where(
        F.minute("bucket_start").isin(
            *[(1700000000 // 60 + i) % 60 for i in (0, 1, 5, 6, 10)]))
    with caching.scope():
        rows = sorted(tsa.absent_flags(obs.select("conv_id",
                                                  "bucket_start"),
                                       k=3).collect(),
                      key=lambda r: r["bucket_start"])
    assert len(rows) == 11
    assert [r["present"] for r in rows] == [1, 1, 0, 0, 0, 1, 1, 0, 0, 0, 1]
    assert [r["miss_run"] for r in rows] == [0, 0, 1, 2, 3, 0, 0, 1, 2, 3, 0]
    assert [r["absent"] for r in rows] == [0, 0, 0, 0, 1, 0, 0, 0, 0, 1, 0]


def test_absent_flags_null_key_never_present(spark):
    # a NULL key never matches an observation: every bucket of its
    # min..max span is a miss, counted from its first bucket
    from yahoo_anomaly_detection_spark import caching

    df = spark.createDataFrame(
        [(None, 0), (None, 2), (None, 5), ("x", 1), ("x", 3)],
        "conv_id string, m long",
    ).select("conv_id",
             F.timestamp_seconds(F.lit(1700000040) + F.col("m") * 60)
             .alias("bucket_start"))
    with caching.scope():
        rows = sorted(
            (r["conv_id"] or "", r["bucket_start"], r["present"],
             r["miss_run"], r["absent"])
            for r in tsa.absent_flags(df, k=3).collect())
    null_rows = [r[2:] for r in rows if r[0] == ""]
    assert null_rows == [(0, m, int(m >= 3)) for m in range(6)]
    assert [r[2:] for r in rows if r[0] == "x"] == [
        (1, 0, 0), (0, 1, 0), (1, 0, 0)]


def test_absent_flags_validation(spark):
    obs = _series1(spark, [1.0])
    with pytest.raises(ValueError, match="k must be"):
        tsa.absent_flags(obs, k=0)
    with pytest.raises(ValueError, match="tier_seconds"):
        tsa.absent_flags(obs, tier_seconds=90)


# ------------------------------------------------------------ dq_profile
def test_dq_profile_counts_each_violation(spark):
    # one NULL, one duplicate ts, one ingest-order regression, one
    # out-of-range value — all in a single (conv, day) bucket
    df = _pts(spark, [("a", 0, 5.0), ("a", 10, None), ("a", 10, 7.0),
                      ("a", 5, 3.0), ("a", 20, 500.0)])
    r = tsa.dq_profile(df, lo=0.0, hi=100.0).collect()
    assert len(r) == 1
    r = r[0]
    assert r["n"] == 5
    assert r["n_null"] == 1
    assert r["null_share"] == pytest.approx(0.2)
    assert r["n_dup_ts"] == 1
    assert r["n_out_of_order"] == 1   # ts 5 arrives after ts 10
    assert r["n_out_of_range"] == 1   # 500 > 100


def test_dq_profile_clean_series_all_zero(spark):
    df = _pts(spark, [("a", i * 10, float(i)) for i in range(5)])
    r = tsa.dq_profile(df).collect()[0]
    assert (r["n_null"], r["n_dup_ts"], r["n_out_of_order"]) == (0, 0, 0)
    assert "n_out_of_range" not in r.asDict()  # no bounds given


def test_dq_profile_validation_and_single_exchange(spark):
    df = _pts(spark, [("a", i, float(i)) for i in range(10)])
    with pytest.raises(ValueError, match="together"):
        tsa.dq_profile(df, lo=0.0)
    out = tsa.dq_profile(df, lo=0.0, hi=1.0)
    # both lag windows + the (key, bucket) groupBy cluster on the one
    # conv_id hash exchange (counter_rate idiom)
    assert count_exchanges(out) == 1, plan_str(out)


# ------------------------------------------------------------ burstiness
def test_burstiness_periodic_and_bursty(spark):
    # periodic 60s heartbeat → cv 0, B = −1; bursty gaps [1,1,1,117]
    # → B = (σ−μ)/(σ+μ) with population σ
    rows = [("per", i * 60, 1.0) for i in range(5)]
    rows += [("bur", s, 1.0) for s in (0, 1, 2, 3, 120)]
    out = {r["conv_id"]: r
           for r in tsa.burstiness(
               _pts(spark, rows), order_cols=("event_id",)).collect()}
    p = out["per"]
    assert p["n_gaps"] == 4
    assert p["mean_gap_s"] == pytest.approx(60.0)
    assert p["cv"] == pytest.approx(0.0)
    assert p["burstiness"] == pytest.approx(-1.0)
    g = np.array([1.0, 1.0, 1.0, 117.0])
    mu, sd = g.mean(), g.std()
    b = out["bur"]
    assert b["mean_gap_s"] == pytest.approx(mu)
    assert b["cv"] == pytest.approx(sd / mu, abs=1e-4)
    assert b["burstiness"] == pytest.approx((sd - mu) / (sd + mu), abs=1e-4)


def test_burstiness_degenerate_buckets(spark):
    # single event → zero gaps, NULL stats; coincident timestamps →
    # μ = 0 → NULL cv and B (guarded identically in the oracle)
    rows = [("one", 0, 1.0), ("tied", 0, 1.0), ("tied", 0, 2.0)]
    out = {r["conv_id"]: r
           for r in tsa.burstiness(
               _pts(spark, rows), order_cols=("event_id",)).collect()}
    assert out["one"]["n_gaps"] == 0
    assert out["one"]["mean_gap_s"] is None
    t = out["tied"]
    assert t["n_gaps"] == 1 and t["mean_gap_s"] == 0.0
    assert t["cv"] is None and t["burstiness"] is None


def test_burstiness_single_exchange(spark):
    df = _pts(spark, [("a", i, 1.0) for i in range(10)])
    out = tsa.burstiness(df, order_cols=("event_id",))
    assert count_exchanges(out) == 1, plan_str(out)


def test_ensemble_flags_plan_shape(spark):
    # the shared series is materialized ONCE and fans out to all
    # three detectors (cache reused on every consumer); the flag
    # joins are equi-joins on the point identity — never a cartesian
    from yahoo_anomaly_detection_spark import caching

    df = _series1(spark, [float(i % 7) for i in range(50)])
    with caching.scope():
        out = tsa.ensemble_flags(df, "mean_v")
        out.count()
        p = plan_str(out)
    assert "CartesianProduct" not in p, p
    assert p.count("InMemoryTableScan") >= 3, p


# ------------------------------------------------------------ asof_snapshot
def test_asof_snapshot_latest_at_or_before(spark):
    df = _series1(spark, [1.0, 2.0, 3.0, 4.0], key="a").unionByName(
        _series1(spark, [9.0], key="late").withColumn(
            "bucket_start",
            F.col("bucket_start") + F.expr("INTERVAL 1 HOUR")))
    # evaluation instant = the second bucket of series a; "late" has
    # nothing at or before it → no row
    at = "2023-11-14 22:14:20"  # 1700000060 UTC
    rows = {r["conv_id"]: r
            for r in tsa.asof_snapshot(df, at, ("mean_v",)).collect()}
    assert list(rows) == ["a"]
    assert rows["a"]["mean_v"] == 2.0
    assert str(rows["a"]["bucket_start"]) == at


def test_asof_snapshot_is_one_aggregate_no_window(spark):
    df = _series1(spark, [float(i) for i in range(20)])
    out = tsa.asof_snapshot(df, "2023-11-14 23:00:00", ("mean_v",))
    p = plan_str(out)
    assert count_exchanges(out) == 1, p
    assert "Window" not in p and "Sort" not in p, p


def test_absent_flags_property_vs_python_walk(spark):
    # random present-bucket subsets per series: skeleton, miss runs
    # and the k-threshold must match a literal python walk
    from yahoo_anomaly_detection_spark import caching

    rng = np.random.default_rng(31)
    rows, expect = [], {}
    for key in ("p", "q", "r"):
        n = int(rng.integers(2, 40))
        present = sorted(rng.choice(n * 2, size=n, replace=False).tolist())
        for m in present:
            rows.append((key, 1700000040 + m * 60))
        k = 3
        run = 0
        pset = set(present)
        for m in range(present[0], present[-1] + 1):
            if m in pset:
                run = 0
                expect[(key, m)] = (1, 0, 0)
            else:
                run += 1
                expect[(key, m)] = (0, run, int(run >= k))
    df = spark.createDataFrame(
        rows, "conv_id string, epoch long"
    ).select("conv_id",
             F.timestamp_seconds(F.col("epoch")).alias("bucket_start"))
    with caching.scope():
        got = {
            (r["conv_id"],
             (int(r["bucket_start"].timestamp()) - 1700000040) // 60):
            (r["present"], r["miss_run"], r["absent"])
            for r in tsa.absent_flags(df, k=3).collect()
        }
    assert got == expect


# ------------------------------------------------------------ acf
DAY0 = 1704067200  # 2024-01-01 00:00:00 UTC, day-aligned


def _tier(spark, rows):
    """rows: (conv_id, minute_offset_from_DAY0, value)."""
    return spark.createDataFrame(
        [(c, DAY0 + m * 60, float(v)) for c, m, v in rows],
        "conv_id string, epoch long, mean_v double",
    ).select(
        "conv_id",
        F.timestamp_seconds(F.col("epoch")).alias("bucket_start"),
        "mean_v",
    )


def test_acf_matches_pandas_autocorr(spark):
    import pandas as pd

    rng = np.random.default_rng(7)
    rows, series = [], {}
    for conv, day in (("a", 0), ("a", 1), ("b", 0)):
        n = int(rng.integers(8, 60))
        # gappy minute grid within the day — lags are observational
        mins = sorted(rng.choice(1440, size=n, replace=False).tolist())
        vals = rng.normal(50, 10, size=n).cumsum()
        series[(conv, day)] = vals
        rows += [(conv, day * 1440 + m, v) for m, v in zip(mins, vals)]
    out = tsa.acf(_tier(spark, rows), "mean_v", lags=(1, 2, 3)).collect()
    got = {(r["conv_id"],
            (int(r["bucket_start"].timestamp()) - DAY0) // 86400,
            r["lag"]): (r["n_pairs"], r["acf"]) for r in out}
    assert len(got) == 3 * 3  # 3 groups x 3 lags
    for (conv, day), vals in series.items():
        s = pd.Series(vals)
        for k in (1, 2, 3):
            n_pairs, a = got[(conv, day, k)]
            assert n_pairs == len(vals) - k
            assert a == pytest.approx(s.autocorr(lag=k), abs=2e-4)


def test_acf_degenerate_groups_null(spark):
    # constant series → zero variance → NULL (not NaN); single point →
    # zero pairs → NULL
    rows = [("c", m, 5.0) for m in range(10)] + [("solo", 0, 1.0)]
    out = tsa.acf(_tier(spark, rows), "mean_v", lags=(1,)).collect()
    by_conv = {r["conv_id"]: r for r in out}
    assert by_conv["c"]["n_pairs"] == 9 and by_conv["c"]["acf"] is None
    assert by_conv["solo"]["n_pairs"] == 0 and by_conv["solo"]["acf"] is None
    with pytest.raises(ValueError, match="lags"):
        tsa.acf(_tier(spark, rows), "mean_v", lags=())


def test_acf_single_exchange(spark):
    # the lag window and the groupBy share ONE hash exchange on
    # (conv_id, day)
    df = tsa.acf(_tier(spark, [("a", m, float(m)) for m in range(5)]),
                 "mean_v")
    assert count_exchanges(df) == 1


# ------------------------------------------------------------ theilsen
def _tier_h(spark, rows):
    """rows: (conv_id, hour_offset_from_DAY0, value)."""
    return spark.createDataFrame(
        [(c, DAY0 + h * 3600, float(v)) for c, h, v in rows],
        "conv_id string, epoch long, mean_v double",
    ).select(
        "conv_id",
        F.timestamp_seconds(F.col("epoch")).alias("bucket_start"),
        "mean_v",
    )


def _theilsen_ref(xs, ys):
    slopes = [
        (ys[j] - ys[i]) / (xs[j] - xs[i])
        for i in range(len(xs)) for j in range(i + 1, len(xs))
    ]
    slope = float(np.percentile(slopes, 50))
    icpt = float(np.percentile([y - slope * x for x, y in zip(xs, ys)], 50))
    return len(slopes), slope, icpt


def test_theilsen_matches_reference_walk(spark):
    rng = np.random.default_rng(11)
    rows, groups = [], {}
    for conv, day in (("a", 0), ("b", 0), ("b", 1)):
        n = int(rng.integers(3, 24))
        hrs = sorted(rng.choice(24, size=n, replace=False).tolist())
        vals = [10.0 + 2.5 * h + float(rng.normal(0, 3)) for h in hrs]
        groups[(conv, day)] = (hrs, vals)
        rows += [(conv, day * 24 + h, v) for h, v in zip(hrs, vals)]
    out = tsa.theilsen_trend(_tier_h(spark, rows), "mean_v").collect()
    got = {(r["conv_id"],
            (int(r["bucket_start"].timestamp()) - DAY0) // 86400): r
           for r in out}
    for (conv, day), (hrs, vals) in groups.items():
        n_pairs, slope, icpt = _theilsen_ref([float(h) for h in hrs], vals)
        r = got[(conv, day)]
        assert r["n"] == len(hrs) and r["n_pairs"] == n_pairs
        assert r["slope_per_h"] == pytest.approx(slope, abs=2e-4)
        assert r["intercept"] == pytest.approx(icpt, abs=2e-4)


def test_theilsen_robust_to_outlier_and_drops_singletons(spark):
    # clean line y = 3x: one wild outlier leaves the pairwise-median
    # slope exactly 3; a single-point group defines no slope → absent
    rows = [("a", h, 3.0 * h) for h in range(10)] + [
        ("a", 10, 1000.0), ("solo", 0, 7.0)]
    out = tsa.theilsen_trend(_tier_h(spark, rows), "mean_v").collect()
    assert [r["conv_id"] for r in out] == ["a"]
    assert out[0]["slope_per_h"] == pytest.approx(3.0, abs=1e-4)


# ------------------------------------------------------------ spectral
def test_spectral_power_sinusoid_vs_noise(spark):
    rng = np.random.default_rng(13)
    hours = range(14 * 24)  # two weeks of hourly points
    rows = (
        [("daily", h, 100.0 + 10.0 * math.sin(2 * math.pi * h / 24))
         for h in hours]
        + [("noise", h, float(rng.normal(100, 10))) for h in hours]
        + [("const", h, 42.0) for h in hours]
    )
    out = tsa.spectral_power(_tier_h(spark, rows), "mean_v",
                             periods_h=(24, 168)).collect()
    got = {(r["conv_id"], r["period_h"]): r for r in out}
    assert got[("daily", 24)]["power_frac"] == pytest.approx(1.0, abs=1e-2)
    assert got[("daily", 168)]["power_frac"] < 0.05
    assert got[("noise", 24)]["power_frac"] < 0.1
    assert got[("noise", 168)]["power_frac"] < 0.1
    assert got[("const", 24)]["power_frac"] is None  # zero variance
    assert all(r["n"] == 14 * 24 for r in out)
    with pytest.raises(ValueError, match="periods_h"):
        tsa.spectral_power(_tier_h(spark, rows), "mean_v", periods_h=(1,))


def test_spectral_power_single_mapside_groupby(spark):
    # six moment sums in ONE map-side-combined groupBy: exactly one
    # exchange, no window/sort anywhere
    df = tsa.spectral_power(
        _tier_h(spark, [("a", h, float(h % 24)) for h in range(48)]),
        "mean_v")
    plan = plan_str(df)
    assert count_exchanges(df) == 1
    assert "Window" not in plan and "Sort" not in plan


# ------------------------------------------------------------ pacf
def _pacf_ref(vals):
    """Yule-Walker pacf at lags 1..3 via Durbin-Levinson on the
    biased acovf — the python replay of the operator's closed forms."""
    x = np.asarray(vals, dtype=float)
    n = len(x)
    m = x.mean()
    c = [float(((x - m)[: n - k] * (x - m)[k:]).sum()) if n > k else None
         for k in range(4)]
    if not c[0] or c[0] <= 0:
        return (None, None, None)
    r = [None if ck is None else ck / c[0] for ck in c]
    p1 = r[1]
    d2 = None if r[1] is None else 1 - r[1] * r[1]
    p2 = (None if r[2] is None or d2 is None or abs(d2) <= 1e-12
          else (r[2] - r[1] * r[1]) / d2)
    if p2 is None or r[3] is None:
        return (p1, p2, None)
    p21 = r[1] * (1 - p2)
    d3 = 1 - p21 * r[1] - p2 * r[2]
    p3 = (None if abs(d3) <= 1e-12
          else (r[3] - p21 * r[2] - p2 * r[1]) / d3)
    return (p1, p2, p3)


def test_pacf_matches_python_durbin_levinson(spark):
    rng = np.random.default_rng(17)
    rows, series = [], {}
    for conv, day in (("a", 0), ("a", 1), ("b", 0)):
        n = int(rng.integers(8, 60))
        mins = sorted(rng.choice(1440, size=n, replace=False).tolist())
        vals = rng.normal(50, 10, size=n).cumsum()
        series[(conv, day)] = vals
        rows += [(conv, day * 1440 + m, v) for m, v in zip(mins, vals)]
    out = tsa.pacf(_tier(spark, rows), "mean_v").collect()
    got = {(r["conv_id"],
            (int(r["bucket_start"].timestamp()) - DAY0) // 86400,
            r["lag"]): r["pacf"] for r in out}
    assert len(got) == 9
    for (conv, day), vals in series.items():
        for k, want in enumerate(_pacf_ref(vals), 1):
            g = got[(conv, day, k)]
            if want is None:
                assert g is None
            else:
                assert g == pytest.approx(want, abs=2e-4), (conv, day, k)


def test_pacf_ar1_cuts_off_after_lag1(spark):
    # AR(1) with phi=0.8: pacf(1) ≈ 0.8, pacf(2)/pacf(3) ≈ 0 — the
    # Box-Jenkins order-identification signature (acf instead decays
    # geometrically and stays large at lag 2)
    rng = np.random.default_rng(23)
    x = [0.0]
    for _ in range(799):
        x.append(0.8 * x[-1] + float(rng.normal(0, 1)))
    # spread across one day at 1-minute grid; two groups of 400
    rows = [("ar", i * 2, v) for i, v in enumerate(x[:400])]
    out = {r["lag"]: r["pacf"]
           for r in tsa.pacf(_tier(spark, rows), "mean_v").collect()}
    assert out[1] == pytest.approx(0.8, abs=0.1)
    assert abs(out[2]) < 0.15 and abs(out[3]) < 0.15


def test_pacf_degenerate_groups_null_and_single_exchange(spark):
    rows = [("c", m, 5.0) for m in range(10)] + [("solo", 0, 1.0)]
    out = tsa.pacf(_tier(spark, rows), "mean_v").collect()
    by = {(r["conv_id"], r["lag"]): r["pacf"] for r in out}
    assert all(by[("c", k)] is None for k in (1, 2, 3))  # zero variance
    assert all(by[("solo", k)] is None for k in (1, 2, 3))  # no pairs
    df = tsa.pacf(_tier(spark, [("a", m, float(m * m % 17))
                                for m in range(30)]), "mean_v")
    assert count_exchanges(df) == 1


# ------------------------------------------------------------ kalman
def test_kalman_q0_is_running_mean(spark):
    # q = 0, P0 = r: K_t = 1/(t+1) exactly, so the filter IS the
    # cumulative mean — the closed-form pin of the gain recursion
    vals = [3.0, 7.0, 2.0, 8.0, 5.0]
    rows = [("a", m, v) for m, v in enumerate(vals)]
    out = sorted(tsa.kalman_level(_tier(spark, rows), "mean_v",
                                  q=0.0, r=1.0).collect(),
                 key=lambda r: r["bucket_start"])
    for t, r in enumerate(out):
        want = sum(vals[: t + 1]) / (t + 1)
        assert r["level"] == pytest.approx(want, abs=1e-12)
        assert r["gain"] == pytest.approx(1.0 / (t + 1), abs=1e-12)


def test_kalman_matches_python_walk_and_steady_state(spark):
    rng = np.random.default_rng(5)
    q, r = 0.2, 1.0
    series = {c: rng.normal(10, 3, size=int(rng.integers(5, 120)))
              for c in ("a", "b", "c")}
    rows = [(c, m, float(v)) for c, vs in series.items()
            for m, v in enumerate(vs)]
    out = {}
    for row in tsa.kalman_level(_tier(spark, rows), "mean_v",
                                q=q, r=r).collect():
        m = (int(row["bucket_start"].timestamp()) - DAY0) // 60
        out[(row["conv_id"], m)] = row
    for c, vs in series.items():
        lvl, p = float(vs[0]), r
        for t, x in enumerate(vs):
            if t == 0:
                g = 1.0
            else:
                pp = p + q
                g = pp / (pp + r)
                p = (1.0 - g) * pp
                lvl = lvl + g * (x - lvl)
            got = out[(c, t)]
            assert got["level"] == pytest.approx(lvl, abs=1e-9), (c, t)
            assert got["gain"] == pytest.approx(g, abs=1e-12)
    # steady-state gain: (q + sqrt(q^2+4qr)) / (q + sqrt(q^2+4qr) + 2r)
    s = (q + (q * q + 4 * q * r) ** 0.5)
    k_inf = s / (s + 2 * r)
    long_gain = out[("c", len(series["c"]) - 1)]["gain"] \
        if len(series["c"]) > 50 else None
    if long_gain is not None:
        assert long_gain == pytest.approx(k_inf, abs=1e-6)


def test_kalman_validates_and_single_exchange(spark):
    with pytest.raises(ValueError):
        tsa.kalman_level(_tier(spark, [("a", 0, 1.0)]), "mean_v", r=0.0)
    df = tsa.kalman_level(
        _tier(spark, [("a", m, float(m)) for m in range(5)]), "mean_v")
    assert count_exchanges(df) == 1


# ------------------------------------------------------------ hampel
def _hampel_ref(vals, k=3, nsig=3.0):
    out = []
    n = len(vals)
    for i in range(n):
        fr = sorted(vals[max(0, i - k): min(n, i + k + 1)])
        m = len(fr)
        med = (fr[(m + 1) // 2 - 1] + fr[m // 2]) / 2.0
        dev = sorted(abs(x - med) for x in fr)
        mad = (dev[(m + 1) // 2 - 1] + dev[m // 2]) / 2.0
        out.append((med, mad, abs(vals[i] - med) > nsig * 1.4826 * mad))
    return out


def test_hampel_matches_python_and_catches_lone_spike(spark):
    rng = np.random.default_rng(29)
    vals = list(rng.normal(100, 5, size=60))
    vals[30] = 400.0  # lone spike a rolling MEAN would smear
    rows = [("a", m, v) for m, v in enumerate(vals)]
    got = sorted(tsa.hampel_flags(_tier(spark, rows), "mean_v").collect(),
                 key=lambda r: r["bucket_start"])
    want = _hampel_ref(vals)
    for i, r in enumerate(got):
        assert r["rolling_med"] == pytest.approx(want[i][0], abs=1e-4)
        assert r["rolling_mad"] == pytest.approx(want[i][1], abs=1e-4)
        assert r["flag"] == int(want[i][2]), i
    assert got[30]["flag"] == 1
    # neighbors of the spike survive (the median ignores the spike)
    assert got[29]["flag"] == 0 and got[31]["flag"] == 0


def test_hampel_mad_zero_convention_and_plan(spark):
    # locally constant frame: MAD = 0 -> ANY deviation flags
    vals = [5.0] * 10 + [5.0001] + [5.0] * 10
    rows = [("c", m, v) for m, v in enumerate(vals)]
    got = sorted(tsa.hampel_flags(_tier(spark, rows), "mean_v").collect(),
                 key=lambda r: r["bucket_start"])
    assert got[10]["flag"] == 1
    assert sum(r["flag"] for r in got) == 1
    df = tsa.hampel_flags(_tier(spark, rows), "mean_v")
    assert count_exchanges(df) == 1
    assert plan_str(df).count("Window") == 1
    with pytest.raises(ValueError):
        tsa.hampel_flags(_tier(spark, rows), "mean_v", k=0)


# ------------------------------------------------------------ ewma chart
def test_ewma_chart_matches_python_replay(spark):
    rng = np.random.default_rng(31)
    lam, big_l = 0.3, 3.0
    series = {c: list(rng.normal(20, 4, size=int(rng.integers(3, 50))))
              for c in ("a", "b")}
    series["a"][25:] = [40.0] * len(series["a"][25:])  # sustained shift
    rows = [(c, m, v) for c, vs in series.items()
            for m, v in enumerate(vs)]
    got = {}
    for r in tsa.ewma_chart(_tier(spark, rows), "mean_v",
                            alpha=lam, big_l=big_l).collect():
        m = (int(r["bucket_start"].timestamp()) - DAY0) // 60
        got[(r["conv_id"], m)] = r
    flagged = 0
    for c, vs in series.items():
        mu = float(np.mean(vs))
        sig = float(np.std(vs))
        z = vs[0]
        for t, x in enumerate(vs):
            if t > 0:
                z = (1 - lam) * z + lam * x
            d = (1 - lam) ** (2 * t)
            lim = big_l * sig * math.sqrt(d + lam / (2 - lam) * (1 - d))
            r = got[(c, t)]
            assert r["ewma"] == pytest.approx(z, abs=1e-4), (c, t)
            assert r["limit"] == pytest.approx(lim, abs=1e-4)
            assert r["flag"] == int(abs(z - mu) > lim)
            flagged += r["flag"]
    assert flagged > 0  # the sustained shift must trip the chart
    # t=0 limit is exactly L*sigma (the x0 seed carries full variance)
    mu_a = got[("a", 0)]
    assert mu_a["limit"] == pytest.approx(
        big_l * float(np.std(series["a"])), abs=1e-4)
    with pytest.raises(ValueError):
        tsa.ewma_chart(_tier(spark, rows), "mean_v", alpha=0.0)


# ------------------------------------------------- dominant_period
def test_dominant_period_null_hour_matches_oracle(spark):
    """An hour whose values are all NULL has a NULL mean. Like DuckDB's
    ``corr``, the fit must drop every lag pair with a NULL side, so the
    engine equals the oracle SQL row for row."""
    rng = np.random.default_rng(11)
    t0 = dt.datetime(2024, 6, 1)
    rows = []
    for h in range(24 * 4):
        for typ in ("error", "click"):
            v = 10 + 3 * math.sin(2 * math.pi * h / 24) + rng.normal(0, 1)
            null_hour = typ == "error" and h in (5, 30, 31, 50, 77)
            rows.append((len(rows), t0 + dt.timedelta(hours=h), 1, typ,
                         None if null_hour else float(v)))
    got = sorted(tuple(r) for r in
                 tsa.dominant_period(events_df(spark, rows)).collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE events (event_id BIGINT, ts TIMESTAMP, "
                "user_id BIGINT, event_type VARCHAR, value DOUBLE)")
    con.executemany("INSERT INTO events VALUES (?, ?, ?, ?, ?)", rows)
    want = sorted(con.execute(entry.oracle_sql()["dominant_period"])
                  .fetchall())
    assert [r[0] for r in got] == ["click", "error"]
    assert got == want
