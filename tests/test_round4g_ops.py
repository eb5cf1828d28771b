"""Round-4g operators: statistical-testing & robust-QC layer
(Mann-Kendall, Spearman, BH-FDR, W1 drift, OU half-life, Hurst,
permutation entropy, max drawdown, winsorized rollup, Gini)."""

import datetime as dt
import math
import re

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from conftest import count_exchanges, events_df, plan_str
from yahoo_anomaly_detection_spark.operators import statstests


pytestmark = pytest.mark.usefixtures("release_caches")


def _daily_rows(series):
    """{type: [v_day0, v_day1, ...]} -> one event per (type, day)."""
    t0 = dt.datetime(2024, 6, 1)
    rows, eid = [], 0
    for typ, vals in series.items():
        for d, v in enumerate(vals):
            rows.append((eid, t0 + dt.timedelta(days=d), 1, typ,
                         float(v)))
            eid += 1
    return rows


def _hourly_rows(series):
    """{type: [v_h0, v_h1, ...]} -> one event per (type, hour)."""
    t0 = dt.datetime(2024, 6, 1)
    rows, eid = [], 0
    for typ, vals in series.items():
        for h, v in enumerate(vals):
            rows.append((eid, t0 + dt.timedelta(hours=h), 1, typ,
                         float(v)))
            eid += 1
    return rows


# ------------------------------------------------------ mann_kendall
def _mk_replica(vals, z_crit=1.96):
    n = len(vals)
    s = sum(np.sign(vals[j] - vals[i])
            for i in range(n) for j in range(i + 1, n))
    _, counts = np.unique(vals, return_counts=True)
    tt = sum(t * (t - 1) * (2 * t + 5) for t in counts)
    var_s = (n * (n - 1) * (2 * n + 5) - tt) / 18.0
    if var_s <= 0:
        z = 0.0
    elif s > 0:
        z = (s - 1) / math.sqrt(var_s)
    elif s < 0:
        z = (s + 1) / math.sqrt(var_s)
    else:
        z = 0.0
    trend = 1 if z > z_crit else (-1 if z < -z_crit else 0)
    return int(s), var_s, z, trend


def test_mann_kendall_matches_bruteforce_with_ties(spark):
    series = {
        "up": [1, 2, 2, 3, 5, 8, 9, 10, 12, 15],      # strong trend
        "flat": [4, 4, 4, 4, 4, 4, 4, 4, 4, 4],        # all tied
        "noisy": [3, 1, 4, 1, 5, 9, 2, 6, 5, 3],       # no trend
        "down": [9, 8, 8, 7, 5, 4, 4, 3, 2, 1],
    }
    got = {r.event_type: r for r in statstests.mann_kendall(
        events_df(spark, _daily_rows(series))).collect()}
    for typ, vals in series.items():
        s, var_s, z, trend = _mk_replica([float(v) for v in vals])
        r = got[typ]
        assert r.n_days == len(vals)
        assert r.s == s, typ
        assert r.var_s == pytest.approx(var_s, abs=1e-4)
        assert r.z == pytest.approx(z, abs=1e-4)
        assert r.trend == trend, typ
    assert got["up"].trend == 1 and got["down"].trend == -1
    assert got["flat"].trend == 0 and got["noisy"].trend == 0


# ----------------------------------------------------- spearman_corr
def _avg_ranks(vals):
    vals = np.asarray(vals, dtype=float)
    order = np.argsort(vals, kind="stable")
    ranks = np.empty(len(vals))
    i = 0
    sorted_v = vals[order]
    while i < len(vals):
        j = i
        while j < len(vals) and sorted_v[j] == sorted_v[i]:
            j += 1
        ranks[order[i:j]] = (i + j + 1) / 2.0  # avg of 1-based ranks
        i = j
    return ranks


def test_spearman_matches_numpy_rank_pearson(spark):
    rng = np.random.RandomState(7)
    a = rng.rand(20) * 100
    series = {
        "a": a,
        "b": a * 3 + rng.rand(20),        # monotone-ish of a
        "c": rng.permutation(a),          # shuffled
    }
    got = {(r.type_a, r.type_b): r for r in statstests.spearman_corr(
        events_df(spark, _daily_rows(series))).collect()}
    for (ta, tb), r in got.items():
        ra, rb = _avg_ranks(series[ta]), _avg_ranks(series[tb])
        rho = np.corrcoef(ra, rb)[0, 1]
        assert r.n_days == 20
        assert r.rho == pytest.approx(rho, abs=1e-4), (ta, tb)
    assert got[("a", "b")].rho > 0.99
    assert set(got) == {("a", "b"), ("a", "c"), ("b", "c")}


def test_spearman_constant_series_is_null(spark):
    series = {"a": [1, 2, 3, 4, 5], "k": [7, 7, 7, 7, 7]}
    [r] = statstests.spearman_corr(
        events_df(spark, _daily_rows(series))).collect()
    assert (r.type_a, r.type_b) == ("a", "k")
    assert r.rho is None


# ----------------------------------------------------------- bh_fdr
def test_bh_fdr_rejects_planted_outlier_only(spark):
    rng = np.random.RandomState(3)
    base = 50 + rng.rand(30)              # tight band
    spiked = base.copy()
    spiked[17] = 500.0                    # one broken day
    series = {"calm": 50 + rng.rand(30), "spiky": spiked}
    out = statstests.bh_fdr(events_df(spark, _daily_rows(series))).collect()
    rejected = [(r.event_type, r.day.day) for r in out if r.reject]
    assert rejected == [("spiky", 18)]    # day index 17 -> June 18
    # step-up property: the reject set is exactly ranks 1..k
    ranks = sorted(r.rnk for r in out if r.reject)
    assert ranks == list(range(1, len(ranks) + 1))
    # m tests = 60 (two series x 30 days, none degenerate)
    assert len(out) == 60


def test_bh_fdr_degenerate_series_contribute_no_tests(spark):
    series = {"const": [5.0] * 10, "live": list(range(10))}
    out = statstests.bh_fdr(events_df(spark, _daily_rows(series))).collect()
    assert {r.event_type for r in out} == {"live"}
    assert len(out) == 10


def test_bh_fdr_p_from_rounded_z_matches_erf_poly(spark):
    """p must equal the A&S 7.1.26 polynomial applied to the
    ROUNDED z (the cross-engine determinism contract)."""
    series = {"a": [1.0, 2.0, 3.0, 4.0, 100.0]}
    out = statstests.bh_fdr(events_df(spark, _daily_rows(series))).collect()
    A = (0.254829592, -0.284496736, 1.421413741,
         -1.453152027, 1.061405429)
    for r in out:
        x = abs(r.z) / math.sqrt(2.0)
        t = 1.0 / (1.0 + 0.3275911 * x)
        poly = 0.0
        for a in reversed(A):
            poly = (poly + a) * t
        p = poly * math.exp(-x * x)
        assert r.p == pytest.approx(round(p + 1e-9, 4), abs=5e-5)


# ------------------------------------------------- wasserstein_drift
def test_wasserstein_hand_case_two_bins(spark):
    """Day 1: all mass in (5,10] (bin 2). Day 2: all mass in
    (25,50] (bin 4). CDF gap is 1 at boundaries 10 and 25, 0
    elsewhere -> W1 = (25-10) + (50-25)... no: gap is |cdf| at
    b_2=10 (1 vs 0 -> 1) and b_3=25 (1 vs 0 -> 1), weighting
    (25-10)+(50-25) = 40."""
    t0 = dt.datetime(2024, 6, 1)
    rows = []
    for i in range(4):
        rows.append((i, t0 + dt.timedelta(minutes=i), 1, "m", 7.0))
    for i in range(4):
        rows.append((10 + i, t0 + dt.timedelta(days=1, minutes=i),
                     1, "m", 30.0))
    out = {r.day.day: r for r in statstests.wasserstein_drift(
        events_df(spark, rows)).collect()}
    assert out[1].w1 is None and out[1].prev_day is None
    assert out[2].prev_day.day == 1
    # CDF(day1) = 1 from bin 2 upward; CDF(day2) = 1 from bin 4;
    # |diff|=1 at boundaries b_2=10, b_3=25 -> w1 = 15 + 25 = 40
    assert out[2].w1 == pytest.approx(40.0, abs=1e-6)


def test_wasserstein_identical_days_zero(spark):
    t0 = dt.datetime(2024, 6, 1)
    rows = []
    eid = 0
    for d in range(3):
        for v in (3.0, 30.0, 300.0):
            rows.append((eid, t0 + dt.timedelta(days=d, hours=1),
                         1, "m", v))
            eid += 1
    out = {r.day.day: r.w1 for r in statstests.wasserstein_drift(
        events_df(spark, rows)).collect()}
    assert out[2] == 0.0 and out[3] == 0.0


# ---------------------------------------------------------- ou_halflife
def test_ou_halflife_recovers_planted_phi(spark):
    rng = np.random.RandomState(11)
    phi_true = 0.8
    y = [10.0]
    for _ in range(500):
        y.append(2.0 + phi_true * y[-1] + rng.randn() * 0.1)
    out = {r.event_type: r for r in statstests.ou_halflife(
        events_df(spark, _hourly_rows({"ou": y}))).collect()}
    r = out["ou"]
    assert r.n_pairs == 500
    assert r.phi == pytest.approx(phi_true, abs=0.05)
    assert r.mu == pytest.approx(10.0, abs=1.0)
    assert r.half_life_hours == pytest.approx(
        -math.log(2) / math.log(r.phi), abs=1e-3)


def test_ou_halflife_gap_pairs_excluded_and_trend_null(spark):
    t0 = dt.datetime(2024, 6, 1)
    # strictly increasing series -> phi fit > 1 -> half-life NULL;
    # hour 3 missing -> pair (2,4) must not count
    rows = [(i, t0 + dt.timedelta(hours=h), 1, "m", float(2 ** h))
            for i, h in enumerate([0, 1, 2, 4, 5])]
    [r] = statstests.ou_halflife(events_df(spark, rows)).collect()
    assert r.n_pairs == 3  # (0,1) (1,2) (4,5)
    assert r.half_life_hours is None


# -------------------------------------------------------- hurst_exponent
def test_hurst_separates_noise_from_random_walk(spark):
    rng = np.random.RandomState(5)
    noise = rng.randn(2048)
    walk = np.cumsum(rng.randn(2048))
    out = {r.event_type: r for r in statstests.hurst_exponent(
        events_df(spark, _hourly_rows({"noise": noise, "walk": walk})))
        .collect()}
    assert out["noise"].h == pytest.approx(0.5, abs=0.1)
    assert out["walk"].h == pytest.approx(1.0, abs=0.15)
    assert out["noise"].n_scales == 5


def test_hurst_matches_numpy_replica(spark):
    rng = np.random.RandomState(9)
    y = rng.rand(200) * 10
    [r] = statstests.hurst_exponent(
        events_df(spark, _hourly_rows({"m": y}))).collect()
    # blocks align to ABSOLUTE epoch-hours (block = h // m), not to
    # the series start — mirror that alignment here
    h0 = int(dt.datetime(2024, 6, 1,
                         tzinfo=dt.timezone.utc).timestamp()) // 3600
    pts = []
    for m in (1, 2, 4, 8, 16):
        blocks = {}
        for i, v in enumerate(y):
            blocks.setdefault((h0 + i) // m, []).append(v)
        means = [np.mean(vs) for vs in blocks.values()]
        v = np.var(means)
        if v > 0 and len(means) >= 2:
            pts.append((math.log(m), math.log(v)))
    xs, ys = zip(*pts)
    slope = np.polyfit(xs, ys, 1)[0]
    assert r.h == pytest.approx(1 + slope / 2, abs=1e-4)


# -------------------------------------------------------- perm_entropy
def test_perm_entropy_ramp_zero_sawtooth_partial(spark):
    ramp = list(range(100))
    saw = [i % 2 for i in range(100)]          # up-down-up-down
    out = {r.event_type: r for r in statstests.perm_entropy(
        events_df(spark, _hourly_rows({"ramp": ramp, "saw": saw})))
        .collect()}
    assert out["ramp"].pe == 0.0
    # sawtooth alternates between exactly 2 ordinal patterns with
    # near-equal counts -> pe = ln2/ln6
    assert out["saw"].pe == pytest.approx(
        math.log(2) / math.log(6), abs=0.01)
    assert out["ramp"].n_windows == 98


def test_perm_entropy_random_near_one(spark):
    rng = np.random.RandomState(13)
    [r] = statstests.perm_entropy(
        events_df(spark, _hourly_rows({"r": rng.rand(2000)}))).collect()
    assert r.pe > 0.97


# -------------------------------------------------------- max_drawdown
def test_max_drawdown_hand_case(spark):
    vals = [10, 12, 9, 6, 11, 15, 15, 3, 8, 20]
    # peak runs 10,12,12,12,12,15,15,15,15,20; dd max = (15-3)/15=0.8
    # underwater days: 9<12, 6<12, 11<12, 3<15, 8<15 -> 5
    [r] = statstests.max_drawdown(
        events_df(spark, _daily_rows({"m": vals}))).collect()
    assert r.mdd == pytest.approx(0.8)
    assert r.trough_day == dt.datetime(2024, 6, 8)
    assert r.underwater_days == 5


def test_max_drawdown_monotone_series_zero(spark):
    [r] = statstests.max_drawdown(
        events_df(spark, _daily_rows({"m": [1, 2, 3, 4, 5]}))).collect()
    assert r.mdd == 0.0 and r.underwater_days == 0
    assert r.trough_day == dt.datetime(2024, 6, 1)


# -------------------------------------------------------- winsor_rollup
def test_winsor_rollup_matches_numpy(spark):
    rng = np.random.RandomState(17)
    vals = np.concatenate([rng.rand(50) * 10, [1000.0]])  # one spike
    t0 = dt.datetime(2024, 6, 1, 14)
    rows = [(i, t0 + dt.timedelta(seconds=i), 1, "m", float(v))
            for i, v in enumerate(vals)]
    [r] = statstests.winsor_rollup(events_df(spark, rows)).collect()
    lo, hi = np.percentile(vals, [5, 95])  # linear interp = Spark
    assert r.n == 51
    assert r.mean == pytest.approx(vals.mean(), abs=1e-4)
    assert r.wmean == pytest.approx(
        np.clip(vals, lo, hi).mean(), abs=1e-4)
    inb = vals[(vals >= lo) & (vals <= hi)]
    assert r.tmean == pytest.approx(inb.mean(), abs=1e-4)
    # robustness: the spike drags mean, not the robust pair
    assert r.mean > 20 and r.wmean < 12 and r.tmean < 12


def test_winsor_rollup_single_exchange(spark):
    rows = [(i, dt.datetime(2024, 6, 1, 2, i), 1, "m", float(i))
            for i in range(30)]
    df = statstests.winsor_rollup(events_df(spark, rows))
    # quantile window + groupBy share the (key, bucket) exchange;
    # +1 range exchange for the presentation orderBy
    plan = plan_str(df)
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, \
        plan


# --------------------------------------------------- gini_concentration
def test_gini_equal_and_concentrated(spark):
    t0 = dt.datetime(2024, 6, 1)
    rows, eid = [], 0
    for u in range(4):                       # day 1: 4 users x 5
        for i in range(5):
            rows.append((eid, t0 + dt.timedelta(minutes=eid), u,
                         "m", 1.0))
            eid += 1
    for u, n in [(0, 1), (1, 1), (2, 1), (3, 97)]:   # day 2: skew
        for i in range(n):
            rows.append((eid, t0 + dt.timedelta(days=1,
                                                seconds=eid), u,
                         "m", 1.0))
            eid += 1
    out = {r.day.day: r for r in statstests.gini_concentration(
        events_df(spark, rows)).collect()}
    assert out[1].gini == 0.0 and out[1].n_users == 4
    # replica: G = 2*sum(r*x)/(N*sum x) - (N+1)/N
    xs = sorted([1, 1, 1, 97])
    srx = sum((i + 1) * x for i, x in enumerate(xs))
    g = 2 * srx / (4 * 100) - 5 / 4
    assert out[2].gini == pytest.approx(g, abs=1e-4)
    assert out[2].gini > 0.7


# ------------------------------------------------------- plan audits
def test_tier_first_operators_shuffle_corpus_once(spark):
    """Every daily/hourly-tier operator's ONLY corpus-wide exchange
    is the tier groupBy: feed 10k raw rows and count exchanges
    whose input is the raw relation (proxy: total hash exchanges
    stays small and fixed)."""
    rng = np.random.RandomState(1)
    rows = _hourly_rows({"a": rng.rand(300), "b": rng.rand(300)})
    ev = events_df(spark, rows)
    for fn, max_ex in [
        (statstests.ou_halflife, 2),
        (statstests.perm_entropy, 2),
        # tier -> (key,m,blk) -> (key,m) -> (key): 4 exchanges, all
        # tier-sized (corpus shuffles exactly once, into the tier)
        (statstests.hurst_exponent, 4),
        (statstests.max_drawdown, 2),
        # gini is audited separately: its ranked tier materializes
        # through the caching registry, and cached subtrees print
        # repeatedly in the static plan (execution reads the cache)
    ]:
        df = fn(ev)
        assert count_exchanges(df) <= max_ex, (fn.__name__, plan_str(df))


def test_mann_kendall_pair_join_is_tier_level(spark):
    """The O(n^2) self-join must join the AGGREGATED daily tier,
    never the raw corpus: the plan contains exactly one scan
    feeding each join side through an aggregate."""
    rows = _daily_rows({"a": range(10), "b": range(10)})
    df = statstests.mann_kendall(events_df(spark, rows))
    plan = plan_str(df)
    assert "CartesianProduct" not in plan
    # the pair join's both sides are HashAggregates (the tier),
    # so every SortMergeJoin/ShuffledHashJoin key is event_type
    assert "Join" in plan


# ------------------------------------------------------------ ljung_box
def _lb_replica(y, max_lag=5):
    y = np.asarray(y, dtype=float)
    n = len(y)
    d = y - y.mean()
    den = (d * d).sum()
    q = 0.0
    for k in range(1, max_lag + 1):
        rho = (d[k:] * d[:-k]).sum() / den
        q += rho * rho / (n - k)
    return n * (n + 2) * q


def test_ljung_box_matches_replica_and_separates(spark):
    rng = np.random.RandomState(23)
    white = rng.randn(400)
    ar = [0.0]
    for _ in range(399):
        ar.append(0.9 * ar[-1] + rng.randn() * 0.1)
    out = {r.event_type: r for r in statstests.ljung_box(
        events_df(spark, _hourly_rows({"white": white, "ar": ar})))
        .collect()}
    assert out["white"].q == pytest.approx(
        _lb_replica(white), abs=1e-3)
    assert out["ar"].q == pytest.approx(_lb_replica(ar), rel=1e-6)
    assert out["white"].nonwhite == 0
    assert out["ar"].nonwhite == 1


def test_ljung_box_short_or_constant_null(spark):
    out = {r.event_type: r for r in statstests.ljung_box(
        events_df(spark, _hourly_rows({"short": [1, 2, 3],
                                 "const": [5.0] * 50}))).collect()}
    assert out["short"].q is None and out["short"].nonwhite is None
    assert out["const"].q is None


def test_ljung_box_single_tier_sort(spark):
    """All 5 lag windows must ride ONE series-keyed exchange."""
    df = statstests.ljung_box(
        events_df(spark, _hourly_rows({"a": range(50)})))
    assert count_exchanges(df) <= 2, plan_str(df)


# -------------------------------------------------------------- croston
def _ses(xs, alpha):
    s = xs[0]
    for x in xs[1:]:
        s = alpha * x + (1 - alpha) * s
    return s


def test_croston_matches_recursive_ses(spark):
    t0 = dt.datetime(2024, 6, 1)
    # demand on days 0, 3, 4, 9, 11 with sizes 2, 1, 3, 2, 4
    active = [(0, 2), (3, 1), (4, 3), (9, 2), (11, 4)]
    rows, eid = [], 0
    for d, c in active:
        for i in range(c):
            rows.append((eid, t0 + dt.timedelta(days=d, hours=i),
                         1, "m", 1.0))
            eid += 1
    [r] = statstests.croston(events_df(spark, rows)).collect()
    sizes = [c for _, c in active]
    gaps = [active[i][0] - active[i - 1][0]
            for i in range(1, len(active))]
    assert r.n_demand_days == 5
    assert r.z_hat == pytest.approx(_ses(sizes, 0.3), abs=1e-4)
    assert r.p_hat == pytest.approx(_ses(gaps, 0.3), abs=1e-4)
    assert r.forecast == pytest.approx(
        _ses(sizes, 0.3) / _ses(gaps, 0.3), abs=1e-4)


def test_croston_single_demand_day_null_interval(spark):
    t0 = dt.datetime(2024, 6, 1)
    rows = [(i, t0 + dt.timedelta(hours=i), 1, "m", 1.0)
            for i in range(3)]
    [r] = statstests.croston(events_df(spark, rows)).collect()
    assert r.n_demand_days == 1 and r.z_hat == 3.0
    assert r.p_hat is None and r.forecast is None


# --------------------------------------------------------- corr_clusters
def test_corr_clusters_groups_comoving_series(spark):
    rng = np.random.RandomState(31)
    base1 = rng.rand(25) * 100
    base2 = rng.rand(25) * 100
    series = {
        "cpu": base1,
        "load": base1 * 2 + 1,            # monotone of cpu
        "mem": base2,
        "swap": 1000 - base2 * 3,          # anti-monotone of mem
        "iso": rng.permutation(base1),     # uncorrelated singleton
    }
    out = {r.event_type: r.cluster for r in statstests.corr_clusters(
        events_df(spark, _daily_rows(series))).collect()}
    assert out["cpu"] == out["load"] == "cpu"
    assert out["mem"] == out["swap"] == "mem"
    assert out["iso"] == "iso"
    assert len(out) == 5


# ------------------------------------------------------------ bloom join
def test_bloom_no_false_negatives_and_prunes(spark):
    from yahoo_anomaly_detection_spark.operators import enrich

    keys = spark.range(0, 1000).select(
        (F.col("id") * 7).alias("k"))          # members: multiples of 7
    bloom = enrich.bloom_runtime_filter(keys, "k", 1 << 16, 5)
    probe = spark.range(0, 20000).select(F.col("id").alias("k"))
    kept = enrich.bloom_semi_join(probe, "k", bloom, 1 << 16, 5) \
        .collect()
    kept_ids = {r.k for r in kept}
    members = {i * 7 for i in range(1000) if i * 7 < 20000}
    assert members <= kept_ids                 # no false negatives
    fp = len(kept_ids - members) / (20000 - len(members))
    assert fp < 0.01                            # sized for ~1e-3
    assert len(kept_ids) < 5000                 # pruning is real


def test_bloom_mixed_int_width_keys_no_false_negatives(spark):
    """xxhash64 is type-sensitive: an INT build key probed with a
    BIGINT fact key hashes to different positions unless both sides
    canonicalize to BIGINT — matching rows would silently vanish.
    Build from INT keys, probe with BIGINT keys; every member must
    survive."""
    from yahoo_anomaly_detection_spark.operators import enrich

    keys = spark.range(0, 500).select(
        (F.col("id") * 3).cast("int").alias("k"))
    bloom = enrich.bloom_runtime_filter(keys, "k", 1 << 16, 5)
    probe = spark.range(0, 3000).select(F.col("id").alias("k"))  # bigint
    kept_ids = {r.k for r in
                enrich.bloom_semi_join(probe, "k", bloom, 1 << 16, 5)
                .collect()}
    members = {i * 3 for i in range(500) if i * 3 < 3000}
    assert members <= kept_ids


def test_bloom_zero_scale_decimal_keys_no_false_negatives(spark):
    """Zero-scale decimal keys against integer keys, both ways: every
    member must survive. DECIMAL(10,0) vs INT pins the explicit BIGINT
    widening; DECIMAL(20,0) hashes by its bytes under xxhash64, so
    against BIGINT it needs the try_cast narrowing."""
    from yahoo_anomaly_detection_spark.operators import enrich

    def keys(typ, n, step):
        return spark.range(0, n).select(
            (F.col("id") * step).cast(typ).alias("k"))

    members = {i * 3 for i in range(500) if i * 3 < 3000}
    for build, probe in (("int", "decimal(10,0)"), ("decimal(10,0)", "int"),
                         ("bigint", "decimal(20,0)"),
                         ("decimal(20,0)", "bigint")):
        bloom = enrich.bloom_runtime_filter(keys(build, 500, 3), "k",
                                            1 << 16, 5)
        kept_ids = {int(r.k) for r in enrich.bloom_semi_join(
            keys(probe, 3000, 1), "k", bloom, 1 << 16, 5).collect()}
        assert members <= kept_ids, (build, probe)


def test_bloom_semi_join_rejects_reserved_column(spark):
    from yahoo_anomaly_detection_spark.operators import enrich
    import pytest

    keys = spark.range(0, 10).select(F.col("id").alias("k"))
    bloom = enrich.bloom_runtime_filter(keys, "k", 1 << 10, 3)
    bad = spark.range(0, 10).select(
        F.col("id").alias("k"), F.lit(1).alias("__bloom_bits"))
    with pytest.raises(ValueError, match="__bloom_bits"):
        enrich.bloom_semi_join(bad, "k", bloom, 1 << 10, 3)
    # a fact column literally named "bloom" is fine now
    ok = spark.range(0, 10).select(
        F.col("id").alias("k"), F.lit(1).alias("bloom"))
    got = enrich.bloom_semi_join(ok, "k", bloom, 1 << 10, 3)
    assert got.count() == 10 and "bloom" in got.columns


def test_bloom_join_equals_plain_join(spark):
    t0 = dt.datetime(2024, 3, 1)
    orders = spark.createDataFrame(
        [(i, t0 + dt.timedelta(days=i % 90),
          "1-URGENT" if i % 5 == 0 else "5-LOW")
         for i in range(500)],
        "o_orderkey long, o_orderdate timestamp, o_orderpriority string")
    lineitem = spark.createDataFrame(
        [(i % 500, float(1 + i % 7)) for i in range(3000)],
        "l_orderkey long, l_quantity double")
    from yahoo_anomaly_detection_spark.operators import enrich

    got = {(str(r.month), r.n_items, r.sum_qty, r.n_orders)
           for r in enrich.urgent_order_items(lineitem, orders)
           .collect()}
    plain = (lineitem.join(
        orders.where(F.col("o_orderpriority") == "1-URGENT"),
        lineitem.l_orderkey == orders.o_orderkey)
        .groupBy(F.date_trunc("month", "o_orderdate").alias("month"))
        .agg(F.count(F.lit(1)).alias("n_items"),
             F.sum("l_quantity").cast("long").alias("sum_qty"),
             F.countDistinct("o_orderkey").alias("n_orders")))
    exp = {(str(r.month), r.n_items, r.sum_qty, r.n_orders)
           for r in plain.collect()}
    assert got == exp and len(got) == 3


def test_bloom_prune_runs_before_fact_exchange(spark):
    """The bloom filter must apply map-side: the plan shows the
    single-row bloom arriving via a broadcast nested-loop join with
    the bit-test filter ABOVE it, and only the survivors reach the
    equi-join exchange."""
    from yahoo_anomaly_detection_spark.operators import enrich

    orders = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), "1-URGENT")],
        "o_orderkey long, o_orderdate timestamp, o_orderpriority string")
    lineitem = spark.createDataFrame(
        [(1, 2.0)], "l_orderkey long, l_quantity double")
    plan = plan_str(enrich.urgent_order_items(lineitem, orders))
    # the bit test is the BNLJ condition itself
    bnlj = plan.index("BroadcastNestedLoopJoin")
    assert "element_at(__bloom_bits" in plan[bnlj:], plan
    # plan prints parents first: the fact-side equi-join exchange
    # must be ABOVE (execute after) the bloom BNLJ prune
    ex = re.search(r"Exchange hashpartitioning\(l_orderkey", plan)
    assert ex is not None and ex.start() < bnlj, plan


def test_bh_fdr_rank_is_distributed(spark):
    """The global p-rank must be the two-level range-partitioned
    form: every row_number window is partitioned by _pid — no
    unpartitioned window ever sees the tier."""
    rng = np.random.RandomState(2)
    df = statstests.bh_fdr(events_df(spark, _daily_rows(
        {"a": rng.rand(30), "b": rng.rand(30)})))
    plan = plan_str(df)
    for mt in re.finditer(r"row_number\(\) windowspecdefinition\(([^)]*)\)",
                          plan):
        assert "_pid" in mt.group(1), plan
    assert "rangepartitioning" in plan


def test_gini_rank_is_distributed(spark):
    from yahoo_anomaly_detection_spark import caching

    df = statstests.gini_concentration(
        events_df(spark, _daily_rows({"a": range(40)})))
    plan = plan_str(df)
    caching.release_all()
    for mt in re.finditer(r"row_number\(\) windowspecdefinition\(([^)]*)\)",
                          plan):
        assert "_pid" in mt.group(1), plan
    assert "rangepartitioning" in plan
    # the ranked tier is served from ONE materialized cache, so the
    # size-count branch and the offset join don't rescan the corpus
    assert "InMemoryTableScan" in plan


# ------------------------------------------------------ series_profile
def test_series_profile_composes_branch_outputs(spark):
    rng = np.random.RandomState(41)
    ev = events_df(spark, _hourly_rows({
        "walk": 100 + np.cumsum(rng.randn(300)),
        "noise": 100 + rng.randn(300),
    }))
    prof = {r.event_type: r for r in
            statstests.series_profile(ev).collect()}
    assert set(prof) == {"walk", "noise"}
    mk = {r.event_type: r for r in
          statstests.mann_kendall(ev).collect()}
    hu = {r.event_type: r for r in
          statstests.hurst_exponent(ev).collect()}
    for t in ("walk", "noise"):
        assert prof[t].mk_z == mk[t].z and prof[t].trend == mk[t].trend
        assert prof[t].h == hu[t].h
        assert prof[t].pe is not None and prof[t].mdd is not None
    # the walk is long-memory and non-white; the noise is neither
    assert prof["walk"].h > prof["noise"].h
    assert prof["walk"].nonwhite == 1 and prof["noise"].nonwhite == 0


# ----------------------------------------- property tests (pure py)
@settings(max_examples=100, deadline=None)
@given(st.lists(st.floats(0, 1, allow_nan=False), min_size=1,
                max_size=200),
       st.integers(1, 8))
def test_two_level_rank_equals_global_rank(ps, nparts):
    """Pure-python mirror of the distributed-rank idiom bh_fdr and
    gini_concentration rely on: range-split the sorted keys into
    ANY number of chunks, rank within each chunk, add the prefix
    offsets — the result must equal the global 1-based rank."""
    keyed = sorted((p, i) for i, p in enumerate(ps))  # unique tiebreak
    chunks = np.array_split(np.arange(len(keyed)), nparts)
    got = {}
    off = 0
    for c in chunks:
        for j, idx in enumerate(c, start=1):
            got[keyed[idx][1]] = off + j
        off += len(c)
    expect = {orig: r + 1 for r, (_, orig) in enumerate(keyed)}
    assert got == expect


@settings(max_examples=100, deadline=None)
@given(st.lists(st.floats(0, 1, allow_nan=False), min_size=1,
                max_size=100),
       st.floats(0.01, 0.2))
def test_bh_stepup_definition_and_monotone_in_q(ps, q):
    """The max-hit-rank formulation (what the operator computes as
    a plain aggregate) must equal the textbook step-up scan; and
    loosening q never sheds rejections."""
    def bh(ps, q):
        m = len(ps)
        s = sorted(ps)
        kmax = 0
        for i, p in enumerate(s, start=1):
            if p <= i * q / m:
                kmax = i
        return kmax

    m = len(ps)
    s = sorted(ps)
    # textbook: largest k with p_(k) <= k q/m, scanning from the top
    k_ref = 0
    for i in range(m, 0, -1):
        if s[i - 1] <= i * q / m:
            k_ref = i
            break
    assert bh(ps, q) == k_ref
    assert bh(ps, q) <= bh(ps, min(q * 2, 1.0))


@settings(max_examples=100, deadline=None)
@given(st.lists(st.integers(1, 1000), min_size=1, max_size=100))
def test_gini_bounds_and_tie_invariance(xs):
    def gini(xs):
        s = sorted(xs)
        n = len(s)
        srx = sum((i + 1) * x for i, x in enumerate(s))
        return 2 * srx / (n * sum(s)) - (n + 1) / n

    g = gini(xs)
    assert -1e-12 <= g < 1
    if len(set(xs)) == 1:
        assert abs(g) < 1e-12
    # permuting input leaves G unchanged (rank ties resolved by
    # sort order contribute a fixed rank-sum per tie run)
    rng = np.random.RandomState(0)
    assert abs(gini(list(rng.permutation(xs))) - g) < 1e-9


@settings(max_examples=100, deadline=None)
@given(st.lists(st.floats(-1e6, 1e6, allow_nan=False), min_size=2,
                max_size=60))
def test_mann_kendall_s_antisymmetry_and_bounds(ys):
    def mk_s(ys):
        return sum(np.sign(ys[j] - ys[i])
                   for i in range(len(ys))
                   for j in range(i + 1, len(ys)))

    n = len(ys)
    s = mk_s(ys)
    assert abs(s) <= n * (n - 1) / 2
    assert mk_s([-y for y in ys]) == -s


@settings(max_examples=60, deadline=None)
@given(st.lists(st.floats(0.1, 100, allow_nan=False), min_size=1,
                max_size=30),
       st.floats(0.05, 0.95))
def test_croston_closed_form_equals_recursive_ses(xs, alpha):
    """The operator's closed-form weights must reproduce the SES
    recursion exactly for any sequence and smoothing constant."""
    s = xs[0]
    for x in xs[1:]:
        s = alpha * x + (1 - alpha) * s
    n = len(xs)
    closed = xs[0] * (1 - alpha) ** (n - 1) + sum(
        alpha * (1 - alpha) ** (n - i) * xs[i - 1]
        for i in range(2, n + 1))
    assert closed == pytest.approx(s, rel=1e-9, abs=1e-9)


@settings(max_examples=200, deadline=None)
@given(st.floats(-10, 10), st.floats(-10, 10), st.floats(-10, 10))
def test_perm_entropy_codes_2_and_5_impossible(y0, y1, y2):
    """The docstring claim: the 3-bit ordinal code can never take
    values 2 (y2<y0 but y0<=y1<=y2) or 5 — so at most 6 patterns
    occur, one per permutation."""
    code = 4 * (y1 < y0) + 2 * (y2 < y0) + (y2 < y1)
    assert code != 2 and code != 5


@settings(max_examples=100, deadline=None)
@given(st.lists(st.integers(0, 8), min_size=1, max_size=50),
       st.lists(st.integers(0, 8), min_size=1, max_size=50))
def test_binned_w1_metric_properties(a, b):
    """Binned W1 on a shared grid: zero iff identical CDFs,
    symmetric, and scaled by real boundary gaps."""
    bounds = [1.0, 5.0, 10.0, 25.0, 50.0, 100.0, 200.0, 400.0]
    gaps = [bounds[j + 1] - bounds[j] for j in range(len(bounds) - 1)]

    def cdf(xs):
        n = len(xs)
        cnt = np.bincount(xs, minlength=9)
        return np.cumsum(cnt)[: len(bounds) - 1] / n

    def w1(x, y):
        return float(np.sum(np.abs(cdf(x) - cdf(y)) * gaps))

    assert w1(a, a) == 0.0
    assert w1(a, b) == pytest.approx(w1(b, a))
    assert w1(a, b) >= 0


# ------------------------------------------------------ variance_decomp
def test_variance_decomp_attributes_planted_cycles(spark):
    rng = np.random.RandomState(51)
    n = 24 * 28  # four weeks of hours
    hod_effect = np.tile(10 * np.sin(2 * np.pi * np.arange(24) / 24),
                         28)
    # weekday effect must be built on the ABSOLUTE epoch-day parity
    # used by the operator; any fixed 7-period works for attribution
    wd_effect = np.repeat(
        [0, 0, 0, 0, 0, 30, 30][:7] * 4, 24)[:n]
    series = {
        "hourly_cycle": 100 + hod_effect + rng.randn(n) * 0.1,
        "weekly_cycle": 100 + wd_effect + rng.randn(n) * 0.1,
        "noise": 100 + rng.randn(n),
    }
    out = {r.event_type: r for r in statstests.variance_decomp(
        events_df(spark, _hourly_rows(series))).collect()}
    assert out["hourly_cycle"].eta2_hour > 0.95
    assert out["hourly_cycle"].eta2_weekday < 0.05
    assert out["weekly_cycle"].eta2_weekday > 0.9
    assert out["weekly_cycle"].eta2_hour < 0.1
    assert out["noise"].eta2_hour < 0.1
    assert out["noise"].eta2_weekday < 0.1
    r = out["hourly_cycle"]
    assert r.resid_frac == pytest.approx(
        1 - r.eta2_hour - r.eta2_weekday, abs=2e-4)


def test_variance_decomp_constant_series_null(spark):
    [r] = statstests.variance_decomp(
        events_df(spark, _hourly_rows({"c": [5.0] * 48}))).collect()
    assert r.eta2_hour is None and r.resid_frac is None


def test_variance_decomp_matches_numpy_eta2(spark):
    rng = np.random.RandomState(57)
    y = rng.rand(24 * 10) * 40
    [r] = statstests.variance_decomp(
        events_df(spark, _hourly_rows({"m": y}))).collect()
    h0 = int(dt.datetime(2024, 6, 1,
                         tzinfo=dt.timezone.utc).timestamp()) // 3600
    hs = (h0 + np.arange(len(y)))
    ss_tot = np.var(y) * len(y)

    def eta2(groups):
        gm = y.mean()
        ss = 0.0
        for g in np.unique(groups):
            sel = y[groups == g]
            ss += len(sel) * (sel.mean() - gm) ** 2
        return ss / ss_tot

    assert r.eta2_hour == pytest.approx(eta2(hs % 24), abs=1e-4)
    assert r.eta2_weekday == pytest.approx(eta2(hs // 24 % 7),
                                           abs=1e-4)


# ------------------------------------------------------- profile_job
def test_profile_job_end_to_end_and_resume(spark, tmp_path):
    """jobs/profile_job.py: latency series → per-conversation health
    profile + FDR day anomalies + W1 drift + role families, through
    the catalog; profile must equal the direct operator composition
    and a re-run with the same run-id skips every stage."""
    from jobs import profile_job
    from yahoo_anomaly_detection_spark import caching
    from yahoo_anomaly_detection_spark.operators.rollup import (
        transcripts_latency,
    )
    from yahoo_anomaly_detection_spark.sources.catalog import (
        ParquetCatalog,
    )
    from yahoo_anomaly_detection_spark.sources.ingest import (
        bronze_transcripts,
    )

    base = 1699999200
    rows = []
    # two conversations, 5 days of hourly turns; conv "a" gets a
    # broken day (day 3: 100x latencies)
    for conv, step in (("a", 3600), ("b", 3600)):
        idx = 0
        t = base
        for d in range(5):
            for h in range(24):
                jitter = (37 * (idx + (conv == "b") * 11)) % 60
                t = base + d * 86400 + h * 3600 + jitter
                if conv == "a" and d == 3:
                    t += 1800  # day-3 latency regime shift
                rows.append((conv, idx, "user" if idx % 2 else
                             "assistant", "t", "none", t))
                idx += 1
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, "
              "text string, tool string, epoch long",
    ).select("conv_id", "turn_idx", "role", "text", "tool",
             F.timestamp_seconds(F.col("epoch")).alias("ts"))
    src = str(tmp_path / "prof_transcripts")
    df.write.mode("overwrite").parquet(src)

    wh = str(tmp_path / "prof_wh")
    argv = ["--input", src, "--catalog-root", wh, "--run-id", "p1"]
    m1 = profile_job.main(argv)
    assert m1["skipped_units"] == 0
    assert set(m1["stages"]) >= {
        "prof_series_rows", "prof_fdr_rows", "prof_drift_rows",
        "prof_families_rows"}
    cat = ParquetCatalog(wh)
    prof = {r.conv_id: r for r in
            cat.read(spark, "prof_series").collect()}
    assert set(prof) == {"a", "b"}
    # direct composition parity on the profile stage
    lat = transcripts_latency(
        bronze_transcripts(spark.read.parquet(src))) \
        .where(F.col("value").isNotNull())
    direct = {r.conv_id: r for r in statstests.series_profile(
        lat, key="conv_id", ts_col="ts",
        value_col="value").collect()}
    caching.release_all()
    for c in ("a", "b"):
        assert prof[c].mk_z == direct[c].mk_z
        assert prof[c].h == direct[c].h
        assert prof[c].mdd == direct[c].mdd
    # drift stage sees the day-3 regime shift on conv a
    drift = cat.read(spark, "prof_drift")
    assert drift.where(F.col("conv_id") == "a").count() >= 4
    # role families cover the roles present
    fam = cat.read(spark, "prof_families").collect()
    assert {r.role for r in fam} == {"user", "assistant"}
    # resume: same run-id skips all four stages
    m2 = profile_job.main(argv)
    assert m2["skipped_units"] == 4


# ------------------------------------------------------ matrix_profile
def _mp_replica(y, m=4):
    """Exact numpy matrix profile on consecutive windows (same
    rounding/tie rules as the operator)."""
    y = np.asarray(y, float)
    n = len(y) - m + 1
    Z, idx = [], []
    for i in range(n):
        w = y[i:i + m]
        sd = w.std()
        if sd > 0:
            Z.append((w - w.mean()) / sd)
            idx.append(i)
    Z = np.asarray(Z)
    d4 = {}
    best_m = None
    for a in range(len(Z)):
        for b in range(a + 1, len(Z)):
            if idx[b] < idx[a] + m:
                continue
            d = math.floor((np.sqrt(((Z[a] - Z[b]) ** 2).sum())
                            + 1e-9) * 1e4 + 0.5)
            for w_, o in ((idx[a], idx[b]), (idx[b], idx[a])):
                d4[w_] = min(d4.get(w_, 10**9), d)
            cand = (d, idx[a], idx[b])
            if best_m is None or cand < best_m:
                best_m = cand
    best_d = max(((v, -k) for k, v in d4.items()))
    return best_m, (best_d[0], -best_d[1]), len(d4)


def test_matrix_profile_finds_planted_motif(spark):
    rng = np.random.RandomState(71)
    y = rng.rand(120) * 2 + 10
    shape = np.array([0.0, 5.0, 9.0, 3.0])
    y[20:24] = 50 + shape          # motif copy 1 (offset differs,
    y[80:84] = 120 + shape         # z-norm makes them identical)
    [r] = statstests.matrix_profile(
        events_df(spark, _hourly_rows({"m": y}))).collect()
    (md4, mi, mj), (dd4, di), nw = _mp_replica(y)
    h0 = int(dt.datetime(2024, 6, 1,
                         tzinfo=dt.timezone.utc).timestamp()) // 3600
    assert r.n_windows == nw
    epoch_a = int(r.motif_a.replace(
        tzinfo=dt.timezone.utc).timestamp()) // 3600 - h0
    epoch_b = int(r.motif_b.replace(
        tzinfo=dt.timezone.utc).timestamp()) // 3600 - h0
    assert (epoch_a, epoch_b) == (mi, mj) == (20, 80)
    assert r.motif_dist == pytest.approx(md4 / 1e4)
    assert r.motif_dist < 1e-6
    assert r.discord_dist == pytest.approx(dd4 / 1e4)


def test_matrix_profile_finds_planted_discord(spark):
    """z-normalization erases amplitude, so a discord must be a
    unique SHAPE: a zigzag amid a smooth diurnal sine (whose
    windows are all ramps/turns that resemble each other)."""
    t = np.arange(48)
    y = 10 + np.sin(2 * np.pi * t / 24) * 5
    y[20:24] += np.array([4.0, -4.0, 4.0, -4.0])
    [r] = statstests.matrix_profile(
        events_df(spark, _hourly_rows({"m": y}))).collect()
    (md4, mi, mj), (dd4, di), nw = _mp_replica(y)
    h0 = int(dt.datetime(2024, 6, 1,
                         tzinfo=dt.timezone.utc).timestamp()) // 3600
    epoch_d = int(r.discord_at.replace(
        tzinfo=dt.timezone.utc).timestamp()) // 3600 - h0
    assert epoch_d == di == 20
    assert r.discord_dist == pytest.approx(dd4 / 1e4)
    assert r.discord_dist > 2.0


def test_matrix_profile_replica_on_random_series(spark):
    rng = np.random.RandomState(73)
    y = rng.rand(60) * 100
    [r] = statstests.matrix_profile(
        events_df(spark, _hourly_rows({"m": y}))).collect()
    (md4, mi, mj), (dd4, di), nw = _mp_replica(y)
    assert r.n_windows == nw
    assert r.motif_dist == pytest.approx(md4 / 1e4)
    assert r.discord_dist == pytest.approx(dd4 / 1e4)


def test_matrix_profile_band_covering_span_is_exact(spark):
    """max_span_hours >= span must reproduce the unbounded profile
    exactly — the band is a pure search-radius restriction."""
    rng = np.random.RandomState(79)
    y = rng.rand(72) * 100
    full = statstests.matrix_profile(
        events_df(spark, _hourly_rows({"m": y}))).collect()
    banded = statstests.matrix_profile(
        events_df(spark, _hourly_rows({"m": y})), max_span_hours=100
    ).collect()
    assert sorted(map(tuple, full)) == sorted(map(tuple, banded))


def test_matrix_profile_band_bounds_pair_cost(spark):
    """The banded self-join must be an EQUI-join on (series, span
    block) — no cartesian/θ-join in the plan — and the pair relation
    must grow ∝ windows·S, not span²: each window sees at most
    S−m+1 neighbors regardless of total span."""
    rng = np.random.RandomState(101)
    y = rng.rand(200) * 100 + 1  # long span; no flat windows
    df = events_df(spark, _hourly_rows({"m": y}))
    from yahoo_anomaly_detection_spark import caching

    m, s = 4, 12
    banded = statstests.matrix_profile(df, m=m, max_span_hours=s)
    plan = plan_str(banded)
    assert "CartesianProduct" not in plan, plan
    assert "_jb" in plan, plan          # block key reached the join
    caching.release_all()
    # windows = 197 (span 200, m=4, all sd>0); banded pairs per
    # window ≤ S−m+1 = 9 — the full profile would be ~197²/2 ≈ 19k
    n_windows = 200 - m + 1
    per_window = s - m + 1
    # count the banded pair relation via the discord path's inputs:
    # every (ia, ib) pair has m <= ib-ia <= s
    [r] = statstests.matrix_profile(
        df, m=m, max_span_hours=s).select("n_windows").collect()
    assert r.n_windows == n_windows    # every window has a neighbor
    # hand-count with the numpy replica restricted to the band:
    # banded profile's discord equals replica with |i-j| <= s
    caching.release_all()


def test_matrix_profile_band_matches_banded_replica(spark):
    """Banded semantics: distances only to neighbors within
    m <= Δ <= S; discord = max of those per-window minima."""
    rng = np.random.RandomState(103)
    y = rng.rand(60) * 100
    m, s = 4, 10
    [r] = statstests.matrix_profile(
        events_df(spark, _hourly_rows({"m": y})), m=m,
        max_span_hours=s).collect()
    # numpy replica with the band restriction
    yv = np.asarray(y, float)
    n = len(yv) - m + 1
    Z, idx = [], []
    for i in range(n):
        w = yv[i:i + m]
        if w.std() > 0:
            Z.append((w - w.mean()) / w.std())
            idx.append(i)
    d4 = {}
    best_m = None
    for a in range(len(Z)):
        for b in range(a + 1, len(Z)):
            delta = idx[b] - idx[a]
            if delta < m or delta > s:
                continue
            d = math.floor((np.sqrt(((Z[a] - Z[b]) ** 2).sum())
                            + 1e-9) * 1e4 + 0.5)
            for w_ in (idx[a], idx[b]):
                d4[w_] = min(d4.get(w_, 10**9), d)
            cand = (d, idx[a], idx[b])
            if best_m is None or cand < best_m:
                best_m = cand
    dd4, di = max(((v, -k) for k, v in d4.items()))
    assert r.n_windows == len(d4)
    assert r.motif_dist == pytest.approx(best_m[0] / 1e4)
    assert r.discord_dist == pytest.approx(dd4 / 1e4)


# ------------------------------------------------------ spread_monitor
def test_spread_monitor_recovers_planted_hedge(spark):
    rng = np.random.RandomState(83)
    x = 100 + rng.rand(120) * 50
    # y = 3x + 20 + mean-reverting AR(0.5) spread
    sp = [0.0]
    for _ in range(119):
        sp.append(0.5 * sp[-1] + rng.randn() * 0.5)
    y = 3.0 * x + 20.0 + np.array(sp)
    # z drifts away from x: a RANDOM-WALK spread (not mean-reverting)
    z = 2.0 * x + np.cumsum(rng.randn(120) * 5)
    out = {(r.type_a, r.type_b): r for r in statstests.spread_monitor(
        events_df(spark, _daily_rows({"x": x, "y": y, "z": z}))).collect()}
    good = out[("x", "y")]
    assert good.beta == pytest.approx(3.0, abs=0.05)
    assert good.alpha == pytest.approx(20.0, abs=5.0)
    assert good.phi == pytest.approx(0.5, abs=0.15)
    assert good.stable == 1 and good.half_life_days < 3
    walk = out[("x", "z")]
    assert walk.stable == 0
    assert len(out) == 3


def test_spread_monitor_degenerate_pairs_null(spark):
    out = {(r.type_a, r.type_b): r for r in statstests.spread_monitor(
        events_df(spark, _daily_rows({"const": [5.0] * 10,
                                "live": list(range(10))}))).collect()}
    r = out[("const", "live")]
    assert r.beta is None and r.stable == 0


# ------------------------------------------------------ coreset_kcenter
def _kcenter_replica(vecs, k):
    import numpy as _np

    ids = sorted(vecs)
    sel = [min(ids)]
    radii = [None]
    unit = {i: _np.asarray(v) / _np.linalg.norm(v)
            for i, v in vecs.items()}
    nrm = {i: float(_np.linalg.norm(v)) for i, v in vecs.items()}
    raw = {i: _np.asarray(v, float) for i, v in vecs.items()}
    while len(sel) < k and len(sel) < len(ids):
        best = None
        for i in ids:
            if i in sel:
                continue
            dm = min(1 - float(raw[i] @ raw[c]) / (nrm[i] * nrm[c])
                     for c in sel)
            d4 = math.floor((dm + 1e-9) * 1e4 + 0.5)
            cand = (d4, -i)
            if best is None or cand > best:
                best = cand
        sel.append(-best[1])
        radii.append(best[0] / 1e4)
    return sel, radii


def test_coreset_kcenter_matches_greedy_replica(spark):
    rng = np.random.RandomState(91)
    # three tight clusters + outliers: k=4 must cover all clusters
    # before refining any of them (the k-center property)
    centers = [rng.randn(8) * 0.1 + off
               for off in ([5, 0, 0, 0, 0, 0, 0, 0],
                           [0, 5, 0, 0, 0, 0, 0, 0],
                           [0, 0, 5, 0, 0, 0, 0, 0])]
    vecs = {}
    vid = 0
    for c in centers:
        for _ in range(6):
            vecs[vid] = (c + rng.randn(8) * 0.05).tolist()
            vid += 1
    df = spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in vecs.items()],
        "vec_id long, embedding array<float>, label int")
    from yahoo_anomaly_detection_spark.operators import similarity

    got = {r.sel_rank: (r.vec_id, r.radius)
           for r in similarity.coreset_kcenter(df, k=4).collect()}
    # float32 storage: replica must quantize identically
    f32 = {i: np.asarray(v, np.float32).astype(float).tolist()
           for i, v in vecs.items()}
    sel, radii = _kcenter_replica(f32, 4)
    assert [got[r][0] for r in range(4)] == sel
    for r in range(1, 4):
        assert got[r][1] == pytest.approx(radii[r], abs=2e-4)
    # coverage: the first three picks hit three DIFFERENT clusters
    first3_clusters = {got[r][0] // 6 for r in range(3)}
    assert len(first3_clusters) == 3
    # radius sequence is non-increasing (greedy max-min property)
    assert got[1][1] >= got[2][1] >= got[3][1]


def test_coreset_kcenter_batch1_is_exact_greedy(spark):
    """batch=1 must be byte-identical to the default greedy — the
    oversampled route is a pure superset of the classic loop."""
    rng = np.random.RandomState(93)
    vecs = {i: (rng.randn(8) * 2).tolist() for i in range(20)}
    df = spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in vecs.items()],
        "vec_id long, embedding array<float>, label int")
    from yahoo_anomaly_detection_spark.operators import similarity

    a = sorted(map(tuple, similarity.coreset_kcenter(
        df, k=5).collect()))
    b = sorted(map(tuple, similarity.coreset_kcenter(
        df, k=5, batch=1).collect()))
    assert a == b


def test_coreset_kcenter_batched_matches_replica(spark):
    """batch=b semantics: each round takes the top-b of the SAME
    integer encoding vs the pre-round set; radii are min-distances
    to the pre-round centers. Verified against a numpy replica of
    exactly that rule."""
    rng = np.random.RandomState(97)
    vecs = {i: (rng.randn(6) * 2).tolist() for i in range(24)}
    f32 = {i: np.asarray(v, np.float32).astype(float)
           for i, v in vecs.items()}
    df = spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in vecs.items()],
        "vec_id long, embedding array<float>, label int")
    from yahoo_anomaly_detection_spark.operators import similarity

    k, b = 7, 3
    got = {r.sel_rank: (r.vec_id, r.radius)
           for r in similarity.coreset_kcenter(
               df, k=k, batch=b).collect()}

    # replica: rounds of top-b by (round(d4), -id) vs pre-round set
    ids = sorted(f32)
    sel = [min(ids)]
    radii = {0: None}
    while len(sel) < k:
        encs = []
        for i in ids:
            if i in sel:
                continue
            dmin = min(
                1.0 - float(np.dot(f32[i], f32[c]))
                / (np.linalg.norm(f32[i]) * np.linalg.norm(f32[c]))
                for c in sel)
            d4 = math.floor((dmin + 1e-9) * 1e4 + 0.5)
            encs.append((d4, -i))
        encs.sort(reverse=True)
        for d4, neg in encs[:min(b, k - len(sel))]:
            radii[len(sel)] = d4 / 1e4
            sel.append(-neg)
    assert [got[r][0] for r in range(k)] == sel
    for r in range(1, k):
        assert got[r][1] == pytest.approx(radii[r], abs=2e-4)


def test_coreset_kcenter_k_exceeds_corpus(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [0.0, 1.0], 0)],
        "vec_id long, embedding array<float>, label int")
    from yahoo_anomaly_detection_spark.operators import similarity

    rows = similarity.coreset_kcenter(df, k=5).collect()
    assert len(rows) == 2


# --------------------------------------------------------- mmr_rerank
def test_mmr_rerank_balances_relevance_and_diversity(spark):
    rng = np.random.RandomState(97)
    # query q; near-duplicate pair very relevant; one relevant-but-
    # distinct doc; several irrelevant docs
    q = np.array([1.0, 0, 0, 0])
    rows = {
        0: q,                                   # the query itself
        1: np.array([0.99, 0.1, 0, 0]),         # top relevant
        2: np.array([0.99, 0.1, 0, 0]),         # its EXACT duplicate
        3: np.array([0.6, 0, 0.8, 0]),          # relevant + distinct
        4: np.array([0, 1.0, 0, 0]),            # irrelevant
        5: np.array([0, 0, 0, 1.0]),            # irrelevant
    }
    df = spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in rows.items()],
        "vec_id long, embedding array<float>, label int")
    from yahoo_anomaly_detection_spark.operators import similarity

    # lam=0.5: the duplicate's redundancy term (sim=1) sinks it
    # below the distinct doc despite near-max relevance
    picks = [r.vec_id for r in sorted(
        similarity.mmr_rerank(df, query_id=0, k=3, lam=0.5)
        .collect(), key=lambda r: r.sel_rank)]
    # rank 0 = most relevant (1); rank 1 must SKIP the duplicate
    # (2) in favor of the distinct doc (3); rank 2 shows the full
    # pecking order: even an irrelevant-but-novel doc (5: rel 0,
    # redundancy 0, score 0) outranks the duplicate (score < 0)
    assert picks == [1, 3, 5]


def test_mmr_rerank_missing_query_id_raises(spark):
    """A query_id with no row must raise a clear ValueError instead
    of an unpacking error (the SQL oracle degrades to empty — the
    Spark API should fail loudly, not cryptically)."""
    from yahoo_anomaly_detection_spark.operators import similarity

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="query_id"):
        similarity.mmr_rerank(df, query_id=99, k=2)


def test_mmr_rerank_lambda_one_is_pure_relevance(spark):
    rng = np.random.RandomState(101)
    vecs = {i: rng.randn(8) for i in range(12)}
    df = spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in vecs.items()],
        "vec_id long, embedding array<float>, label int")
    from yahoo_anomaly_detection_spark.operators import similarity

    got = [r.vec_id for r in sorted(
        similarity.mmr_rerank(df, query_id=0, k=4, lam=1.0)
        .collect(), key=lambda r: r.sel_rank)]
    # replica: cosine to query desc, rounded, ties by id (float32!)
    q = np.asarray(vecs[0], np.float32).astype(float)
    scored = []
    for i, v in vecs.items():
        if i == 0:
            continue
        v = np.asarray(v, np.float32).astype(float)
        c = float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q)))
        scored.append((-math.floor((c + 2 + 1e-9) * 1e4 + 0.5), i))
    want = [i for _, i in sorted(scored)[:4]]
    assert got == want


# ----------------------------------------------------------- granger_1d
def test_granger_detects_planted_direction(spark):
    rng = np.random.RandomState(103)
    x = rng.randn(200) * 3 + 50
    y = np.empty(200)
    y[0] = 10
    for t in range(1, 200):        # y depends on x's yesterday
        y[t] = 0.3 * y[t - 1] + 0.9 * x[t - 1] + rng.randn() * 0.2
    z = rng.randn(200) + 20        # unrelated
    out = {(r.x_type, r.y_type): r for r in statstests.granger_1d(
        events_df(spark, _daily_rows({"x": x, "y": y, "z": z}))).collect()}
    assert out[("x", "y")].leads == 1        # x -> y strongly
    assert out[("z", "y")].leads == 0        # z does not lead y
    assert out[("x", "y")].f_stat > 100
    # directionality: y's yesterday should NOT beat x's own AR
    # (x is exogenous noise), so y -> x is weak
    assert out[("y", "x")].f_stat is None or \
        out[("y", "x")].f_stat < out[("x", "y")].f_stat
    assert len(out) == 6


def test_granger_matches_numpy_ols(spark):
    rng = np.random.RandomState(107)
    x = rng.rand(60) * 10
    y = rng.rand(60) * 10
    out = {(r.x_type, r.y_type): r for r in statstests.granger_1d(
        events_df(spark, _daily_rows({"x": x, "y": y}))).collect()}
    yv, yl, xl = y[1:], y[:-1], x[:-1]
    X_r = np.column_stack([np.ones(59), yl])
    X_f = np.column_stack([np.ones(59), yl, xl])
    rss = lambda X: float(
        ((yv - X @ np.linalg.lstsq(X, yv, rcond=None)[0]) ** 2)
        .sum())
    f = ((rss(X_r) - rss(X_f)) / 1) / (rss(X_f) / (59 - 3))
    assert out[("x", "y")].f_stat == pytest.approx(f, rel=1e-3)


# ----------------------------------------------------------- seasonal_mk
def test_seasonal_mk_ignores_weekly_cycle_catches_trend(spark):
    n = 63   # 9 full weeks
    wk = np.tile([0, 0, 0, 0, 0, 40, 40], 9)     # strong weekend lift
    rng = np.random.RandomState(109)
    noise = rng.rand(n)
    series = {
        "cyc": 50 + wk + noise,                   # cycle, no trend
        "cyc_trend": 50 + wk + np.arange(n) * 0.5 + noise,
    }
    got = {r.event_type: r for r in statstests.seasonal_mk(
        events_df(spark, _daily_rows(series))).collect()}
    assert got["cyc"].trend == 0
    assert got["cyc_trend"].trend == 1
    # replica: per-weekday S and var summed
    def smk(vals):
        s = 0
        var = 0.0
        for w in range(7):
            sub = [v for i, v in enumerate(vals) if i % 7 == w]
            m = len(sub)
            s += sum(np.sign(sub[j] - sub[i])
                     for i in range(m) for j in range(i + 1, m))
            var += m * (m - 1) * (2 * m + 5) / 18.0  # no ties here
        return s, var
    s, var = smk(series["cyc_trend"])
    assert got["cyc_trend"].s == s
    assert got["cyc_trend"].var_s == pytest.approx(var, abs=1e-4)


# ----------------------------------------------------------- corr_break
def test_corr_break_detects_decoupling(spark):
    rng = np.random.RandomState(113)
    n = 60
    x = 50 + rng.rand(n) * 20
    # y tracks x for the first half then decouples to noise
    y = np.where(np.arange(n) < 30,
                 2 * x + rng.rand(n),
                 70 + rng.rand(n) * 20)
    # w tracks x throughout (stable pair)
    w = 3 * x + rng.rand(n)
    out = {(r.type_a, r.type_b): r for r in statstests.corr_break(
        events_df(spark, _daily_rows({"x": x, "y": y, "w": w}))).collect()}
    dec = out[("x", "y")]
    assert dec.broken == 1
    assert dec.r_before > 0.99 and abs(dec.r_after) < 0.5
    assert dec.n_before == 30 and dec.n_after == 30
    stable = out[("w", "x")]
    assert stable.broken == 0
    assert stable.r_before > 0.99 and stable.r_after > 0.99


def test_corr_break_matches_scipy_style_replica(spark):
    rng = np.random.RandomState(127)
    x = rng.rand(40) * 5
    y = rng.rand(40) * 5
    [r] = statstests.corr_break(
        events_df(spark, _daily_rows({"x": x, "y": y}))).collect()
    r1 = np.corrcoef(x[:20], y[:20])[0, 1]
    r2 = np.corrcoef(x[20:], y[20:])[0, 1]
    fz = lambda v: 0.5 * math.log((1 + v) / (1 - v))
    z = abs(fz(r1) - fz(r2)) / math.sqrt(1 / 17 + 1 / 17)
    assert r.r_before == pytest.approx(r1, abs=1e-4)
    assert r.r_after == pytest.approx(r2, abs=1e-4)
    assert r.z_diff == pytest.approx(z, abs=1e-3)


# ---------------------------------------------------------- coflag_lift
def test_coflag_lift_groups_cofailing_pair(spark):
    rng = np.random.RandomState(131)
    n = 40
    a = 50 + rng.rand(n)
    b = 80 + rng.rand(n)
    c = 20 + rng.rand(n)
    for d in (10, 25, 33):          # shared incidents hit a AND b
        a[d] += 100
        b[d] += 200
    c[5] += 50                       # c fails alone once
    out = {(r.type_a, r.type_b): r for r in statstests.coflag_lift(
        events_df(spark, _daily_rows({"a": a, "b": b, "c": c}))).collect()}
    ab = out[("a", "b")]
    assert ab.a_days == 3 and ab.b_days == 3 and ab.both_days == 3
    # lift = (3/40) / ((3/40)^2) = 40/3
    assert ab.lift == pytest.approx(40 / 3, abs=1e-3)
    assert ab.grouped == 1
    ac = out[("a", "c")]
    assert ac.both_days == 0 and ac.grouped == 0
    assert ac.lift == 0.0


def test_coflag_lift_never_flagging_side_null(spark):
    rng = np.random.RandomState(137)
    out = {(r.type_a, r.type_b): r for r in statstests.coflag_lift(
        events_df(spark, _daily_rows({
            "quiet": 5 + rng.rand(20) * 0.01,
            "spiky": np.concatenate([5 + rng.rand(19),
                                     [500.0]])}))).collect()}
    r = out[("quiet", "spiky")]
    # the quiet series' MAD envelope still flags its own extremes;
    # what matters: a side with zero flags yields NULL lift
    if r.a_days == 0 or r.b_days == 0:
        assert r.lift is None and r.grouped == 0
    else:
        assert r.grouped in (0, 1)
