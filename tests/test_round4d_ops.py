"""Round-4 wave-d operators: DDSketch relative-error quantiles and
the cross-sectional fleet outlier envelope."""

import datetime as dt
import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from yahoo_anomaly_detection_spark.operators import (
    journeys,
    sketches,
    tsanalytics,
)


# ------------------------------------------------- ddsketch_quantiles
@pytest.fixture(scope="module")
def lognormal_series(spark):
    rng = np.random.default_rng(7)
    vals = np.exp(rng.normal(3.0, 1.2, size=2000))
    t0 = dt.datetime(2024, 6, 1)
    rows = [("a", t0 + dt.timedelta(seconds=i), float(v))
            for i, v in enumerate(vals)]
    return vals, spark.createDataFrame(
        rows, "conv_id string, ts timestamp, value double")


def test_ddsketch_within_relative_error(spark, lognormal_series):
    """The DDSketch guarantee: for every q, the estimate is within
    rel_error of the TRUE rank-ceil(q*n) sample (not the interpolated
    quantile) — checked against a numpy sort on 2000 lognormal
    values spanning ~4 orders of magnitude."""
    vals, df = lognormal_series
    alpha = 0.01
    out = {r.q: r for r in tsanalytics.ddsketch_quantiles(
        df, qs=(0.5, 0.95, 0.99), rel_error=alpha).collect()}
    srt = np.sort(vals)
    for q in (0.5, 0.95, 0.99):
        true = srt[math.ceil(q * len(srt)) - 1]
        est = out[q].est
        assert abs(est - true) <= alpha * true * (1 + 1e-6), (q, est, true)
        assert out[q].n == len(vals)


def test_ddsketch_merges_like_a_sketch(spark):
    """Bucket counts are exact longs: the sketch over a union equals
    the union of sketches (here: same data split across two days must
    give per-day rows, and re-bucketing to one coarse bucket via a
    second call over the union gives the same estimate as one pass)."""
    t0 = dt.datetime(2024, 6, 1)
    rows = [("a", t0 + dt.timedelta(hours=i % 48), float(1.5 ** (i % 10) ))
            for i in range(400)]
    df = spark.createDataFrame(
        rows, "conv_id string, ts timestamp, value double")
    one = tsanalytics.ddsketch_quantiles(
        df, qs=(0.9,), bucket_seconds=7 * 86400).collect()
    # split into halves, union, same call -> identical result
    a = df.where(F.dayofmonth("ts") == 1)
    b = df.where(F.dayofmonth("ts") != 1)
    two = tsanalytics.ddsketch_quantiles(
        a.unionByName(b), qs=(0.9,), bucket_seconds=7 * 86400).collect()
    assert one == two


def test_ddsketch_drops_nonpositive_and_validates(spark):
    t0 = dt.datetime(2024, 6, 1)
    rows = [("a", t0, -5.0), ("a", t0, 0.0), ("a", t0, None),
            ("a", t0, 10.0), ("a", t0, 10.0)]
    df = spark.createDataFrame(
        rows, "conv_id string, ts timestamp, value double")
    out = tsanalytics.ddsketch_quantiles(df, qs=(0.5,)).collect()
    assert len(out) == 1 and out[0].n == 2
    assert abs(out[0].est - 10.0) <= 0.01 * 10.0 + 1e-6
    with pytest.raises(ValueError):
        tsanalytics.ddsketch_quantiles(df, rel_error=1.5)
    with pytest.raises(ValueError):
        tsanalytics.ddsketch_quantiles(df, qs=(0.0,))


# ------------------------------------------------- fleet outliers
def test_fleet_envelope_flags_cross_sectional_outlier(spark):
    """Ten series share a day bucket; nine sit near 10, one at 1000.
    Grouping by the bucket (keys=('bucket_start',)) must flag exactly
    the deviant conversation — the within-series MAD would see a
    1-point series and flag nothing."""
    t0 = dt.datetime(2024, 6, 1)
    rows = [(f"c{i}", t0, 10.0 + i * 0.1) for i in range(9)]
    rows.append(("deviant", t0, 1000.0))
    df = spark.createDataFrame(
        rows, "conv_id string, bucket_start timestamp, mean_v double")
    out = tsanalytics.robust_flags(
        df, "mean_v", k=3.0, keys=("bucket_start",))
    flagged = [r.conv_id for r in out.where("flag = 1").collect()]
    assert flagged == ["deviant"]


# ------------------------------------------------- sketches (HLL/CMS)
def test_hll_raw_branch_accuracy_50k(spark):
    """50k distinct ids in one group — deep in the raw-estimator
    regime (E >> 2.5m) — must land within 5 standard errors
    (1.04/sqrt(m) each) of the truth."""
    df = spark.range(50_000).select(
        F.lit(1).alias("g"), F.col("id").cast("string").alias("uid"))
    regs = sketches.hll_registers(df, "uid", ("g",), p=10)
    est = sketches.hll_estimate(regs, ("g",), p=10).first().est
    se = 1.04 / (1024 ** 0.5)
    assert abs(est - 50_000) <= 5 * se * 50_000, est


def test_hll_linear_counting_small_n(spark):
    """60 distinct ids with m=1024 registers: linear counting is
    near-exact (every collision-free register counts one id)."""
    df = spark.range(60).select(
        F.lit(1).alias("g"), F.col("id").cast("string").alias("uid"))
    regs = sketches.hll_registers(df, "uid", ("g",), p=10)
    est = sketches.hll_estimate(regs, ("g",), p=10).first().est
    assert abs(est - 60) <= 4, est


def test_hll_register_merge_is_lossless(spark):
    """max-merging per-day register files == sketching the union
    directly: the property that makes distinct counts tierable."""
    import datetime as dt
    t0 = dt.datetime(2024, 1, 1)
    rows = [(t0 + dt.timedelta(days=i % 10, hours=i % 13), str(i % 700))
            for i in range(5000)]
    df = spark.createDataFrame(rows, "ts timestamp, uid string")
    out = sketches.hll_cascade(df, id_col="uid", ts_col="ts").collect()
    assert len(out) == 2  # two epoch-weeks
    for r in out:
        assert r.est_merged == r.est_direct
        assert abs(r.est_merged - r.n_exact) / r.n_exact < 0.15


def test_hll_rejects_bad_p(spark):
    df = spark.range(3).select(F.col("id").cast("string").alias("uid"),
                               F.lit(1).alias("g"))
    with pytest.raises(ValueError):
        sketches.hll_registers(df, "uid", ("g",), p=3)


def test_cms_never_underestimates_and_bounds(spark):
    """Zipf-ish planted frequencies: est >= exact for every key
    (structural), and with w=2048, N=6000 the overestimate stays
    under the epsilon*N bound (e/2048 * 6000 = ~8)."""
    rows = []
    for i in range(200):
        freq = 100 if i < 10 else 25
        rows += [(f"k{i}",)] * freq
    # 10*100 + 190*25 = 5750 rows
    df = spark.createDataFrame(rows, "uid string")
    out = sketches.cms_topk_compare(df, "uid", k=15).collect()
    assert len(out) == 15
    n_total = 5750
    eps_bound = math.e / 2048 * n_total
    for r in out:
        assert r.est >= r.n_exact, r
        assert r.est - r.n_exact <= eps_bound, r
    # top-10 exact counts must be the planted heavy keys
    heavy = {r.uid for r in out if r.n_exact == 100}
    assert heavy == {f"k{i}" for i in range(10)}


def test_cms_rejects_bad_params(spark):
    df = spark.range(3).select(F.col("id").cast("string").alias("uid"))
    with pytest.raises(ValueError):
        sketches.cms_sketch(df, "uid", d=0)


# ------------------------------------------------- pagerank
def test_pagerank_star_graph_center_dominates(spark):
    """Star: a,b,c,d all point to hub -> hub's rank must dominate and
    ranks must sum to 1 (dangling hub redistributes its mass)."""
    edges = spark.createDataFrame(
        [("a", "hub"), ("b", "hub"), ("c", "hub"), ("d", "hub")],
        "src string, dst string")
    out = {r.node: r.pr for r in journeys.pagerank(edges).collect()}
    assert max(out, key=out.get) == "hub"
    assert abs(sum(out.values()) - 1.0) < 1e-3
    # leaves are symmetric -> identical ranks
    assert len({out[k] for k in "abcd"}) == 1


def test_pagerank_matches_numpy_power_iteration(spark):
    """Weighted 4-node graph vs an explicit numpy power iteration
    with the same dangling handling and iteration count."""
    import numpy as np
    E = [("a", "b", 3.0), ("a", "c", 1.0), ("b", "c", 2.0),
         ("c", "a", 1.0), ("c", "d", 1.0)]  # d is dangling
    edges = spark.createDataFrame(E, "src string, dst string, w double")
    out = {r.node: r.pr for r in journeys.pagerank(
        edges, weight_col="w", iters=8).collect()}
    idx = {"a": 0, "b": 1, "c": 2, "d": 3}
    P = np.zeros((4, 4))
    for s, t, w in E:
        P[idx[s], idx[t]] = w
    outdeg = P.sum(axis=1)
    for i in range(4):
        if outdeg[i]:
            P[i] /= outdeg[i]
    r = np.full(4, 0.25)
    d = 0.85
    for _ in range(8):
        dangling = r[outdeg == 0].sum()
        r = (1 - d) / 4 + d * (P.T @ r + dangling / 4)
    for k, i in idx.items():
        assert abs(out[k] - r[i]) < 1e-3, (k, out[k], r[i])


def test_pagerank_rejects_bad_params(spark):
    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    with pytest.raises(ValueError):
        journeys.pagerank(edges, damping=1.0)
    with pytest.raises(ValueError):
        journeys.pagerank(edges, iters=0)


# ------------------------------------------------- benford
def test_benford_flags_uniform_but_passes_exponential(spark):
    """Exponentially-spanning magnitudes follow Benford (small chi2);
    a uniform [1000, 2000) feed pegs digit 1 (chi2 huge)."""
    rows = []
    # organic: 1.07^i spans 4 decades smoothly
    for i in range(350):
        rows.append(("organic", 1.07 ** i))
    # fabricated: all values start with digit 1
    for i in range(350):
        rows.append(("capped", 1000.0 + i))
    df = spark.createDataFrame(rows, "event_type string, value double")
    out = tsanalytics.benford_dq(df).collect()
    chi = {r.event_type: r.chi2 for r in out}
    assert chi["capped"] > 100 * max(chi["organic"], 1e-9)
    # zero-filled spine: every key has exactly 9 digit rows
    from collections import Counter
    c = Counter(r.event_type for r in out)
    assert c == {"organic": 9, "capped": 9}
    capped = {r.digit: r for r in out if r.event_type == "capped"}
    assert capped[1].share == 1.0 and capped[9].n_d == 0
    # shares sum to 1 per key
    for k in ("organic", "capped"):
        assert abs(sum(r.share for r in out if r.event_type == k) - 1.0) \
            < 1e-3


def test_benford_excludes_sub_one_and_nulls(spark):
    df = spark.createDataFrame(
        [("t", 0.5), ("t", None), ("t", -23.0), ("t", 7.2)],
        "event_type string, value double")
    out = tsanalytics.benford_dq(df).collect()
    got = {r.digit: r.n_d for r in out}
    assert got[2] == 1 and got[7] == 1  # |-23| -> 2, 7.2 -> 7
    assert sum(got.values()) == 2
