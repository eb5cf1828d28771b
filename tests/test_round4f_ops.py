"""Round-4f operators: cube grouping-sets rollup, EVT
peaks-over-threshold tail model, Markov journey entropy."""

import datetime as dt
import math
import re

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from conftest import count_exchanges, events_df, plan_str
from yahoo_anomaly_detection_spark.operators import (
    journeys,
    rollup,
    tsanalytics,
)


# ------------------------------------------------- grouped_rollup
@pytest.fixture(scope="module")
def small_events(spark):
    t0 = dt.datetime(2024, 6, 1)
    rows = []
    eid = 0
    for day in range(3):
        for typ, vals in [("a", [1.0, 2.0, 3.0]), ("b", [10.0 + day])]:
            for v in vals:
                rows.append((eid, t0 + dt.timedelta(days=day,
                                                    seconds=eid), 7,
                             typ, v))
                eid += 1
    return events_df(spark, rows)


def test_grouped_rollup_matches_four_separate_aggs(spark, small_events):
    """cube output must equal the union of the four grains computed
    independently — every lattice cell, exact counts and sums."""
    got = {(r.event_type, str(r.day), r.gid, r.n, r.sum_v)
           for r in rollup.grouped_rollup(small_events).collect()}
    ev = small_events.withColumn("day", F.date_trunc("day", "ts"))
    fine = {(r.event_type, str(r.day), 0, r.n, round(r.s + 1e-9, 4))
            for r in ev.groupBy("event_type", "day")
            .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
            .collect()}
    by_type = {(r.event_type, "1970-01-01 00:00:00", 1, r.n,
                round(r.s + 1e-9, 4))
               for r in ev.groupBy("event_type")
               .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
               .collect()}
    by_day = {("<all>", str(r.day), 2, r.n, round(r.s + 1e-9, 4))
              for r in ev.groupBy("day")
              .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
              .collect()}
    [g] = ev.agg(F.count("*").alias("n"), F.sum("value").alias("s")) \
        .collect()
    grand = {("<all>", "1970-01-01 00:00:00", 3, g.n,
              round(g.s + 1e-9, 4))}
    assert got == fine | by_type | by_day | grand
    # 3 days x 2 types (a every day, b every day) = 6 fine cells
    assert len(got) == 6 + 2 + 3 + 1


def test_grouped_rollup_single_expand_single_shuffle(spark, small_events):
    """The cube must plan as ONE Expand feeding ONE exchange of
    partial aggregates — never four scans or four shuffles."""
    df = rollup.grouped_rollup(small_events)
    plan = plan_str(df)
    assert len(re.findall(r"\bExpand\b", plan)) == 1, plan
    assert count_exchanges(df) == 1, plan


# ------------------------------------------------- pot_tail
def test_pot_tail_matches_numpy_replica(spark):
    """MoM GPD fit + extreme quantile vs a straight numpy replica on
    a heavy-ish synthetic sample."""
    rng = np.random.default_rng(7)
    vals = rng.lognormal(mean=1.0, sigma=0.8, size=4000)
    t0 = dt.datetime(2024, 6, 1)
    rows = [(i, t0 + dt.timedelta(seconds=i), i % 50, "k",
             float(v)) for i, v in enumerate(vals)]
    [r] = tsanalytics.pot_tail(events_df(spark, rows), q=0.001,
                               u_q=0.95).collect()
    n = len(vals)
    t = np.quantile(vals, 0.95, method="linear")
    exc = vals[vals > t] - t
    m, s2 = exc.mean(), exc.var()
    xi = 0.5 * (1 - m * m / s2)
    sigma = 0.5 * m * (1 + m * m / s2)
    z = t + sigma / xi * ((n * 0.001 / len(exc)) ** (-xi) - 1)
    assert r.n == n and r.n_exc == len(exc)
    assert r.thresh == pytest.approx(t, abs=2e-4)
    assert r.xi == pytest.approx(xi, abs=2e-4)
    assert r.sigma == pytest.approx(sigma, abs=2e-4)
    assert r.z_q == pytest.approx(z, rel=1e-3)
    assert r.n_above == int((vals > z).sum())
    # the extreme quantile extrapolates BEYOND the threshold
    assert r.z_q > r.thresh


def test_pot_tail_degenerate_series_yields_null_model(spark):
    """Constant exceedances (variance 0) and tiny series must emit
    NULL model columns, not NaN/raise."""
    t0 = dt.datetime(2024, 6, 1)
    rows = [(i, t0 + dt.timedelta(seconds=i), 1, "flat", 1.0)
            for i in range(100)]
    rows += [(200 + i, t0 + dt.timedelta(seconds=i), 1, "tiny",
              float(i)) for i in range(1)]
    out = {r.event_type: r for r in
           tsanalytics.pot_tail(events_df(spark, rows)).collect()}
    for k in ("flat", "tiny"):
        r = out[k]
        assert r.xi is None and r.sigma is None and r.z_q is None
        assert r.n_above is None


def test_pot_tail_broadcasts_model_never_shuffles_raw(spark):
    t0 = dt.datetime(2024, 6, 1)
    rows = [(i, t0 + dt.timedelta(seconds=i), i % 5, "k",
             float(i % 97)) for i in range(500)]
    df = tsanalytics.pot_tail(events_df(spark, rows))
    plan = plan_str(df)
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    # every SortMergeJoin would mean a raw-relation shuffle
    assert "SortMergeJoin" not in plan, plan


# ------------------------------------------------- markov_entropy
def test_markov_entropy_hand_cases(spark):
    """Deterministic chain -> 0 bits; uniform 2-way fan-out -> 1 bit;
    weights sum to the chain's entropy rate."""
    t0 = dt.datetime(2024, 6, 1)
    rows = []
    eid = 0
    # user 1: a->b a->b ... deterministic from 'a' (and b->a)
    for i in range(8):
        rows.append((eid, t0 + dt.timedelta(seconds=eid), 1,
                     "ab"[i % 2], 1.0))
        eid += 1
    # user 2: walk c a c b c a c b -> from c: {a,b} twice each
    for i, typ in enumerate("cacbcacb"):
        rows.append((eid, t0 + dt.timedelta(seconds=eid), 2, typ, 1.0))
        eid += 1
    # user 3: d d d d -> from d: always d (deterministic)
    for i in range(4):
        rows.append((eid, t0 + dt.timedelta(seconds=eid), 3, "d", 1.0))
        eid += 1
    out = {r.from_type: r for r in
           journeys.markov_entropy(events_df(spark, rows)).collect()}
    assert out["d"].h_bits == 0.0  # deterministic chain
    # from c: a,b,a,b -> uniform over 2 = 1 bit
    assert out["c"].h_bits == 1.0
    # from b: user1 b->a x3, user2 b->c x1 -> H(3/4, 1/4)
    h_b = -(0.75 * math.log2(0.75) + 0.25 * math.log2(0.25))
    assert out["b"].h_bits == pytest.approx(h_b, abs=1e-4)
    # a -> b (user1 x4) and a -> c (user2 x2): H(2/3,1/3)
    h_a = -(2 / 3) * math.log2(2 / 3) - (1 / 3) * math.log2(1 / 3)
    assert out["a"].h_bits == pytest.approx(h_a, abs=1e-4)
    total = sum(r.n_out for r in out.values())
    rate = sum(r.n_out / total * r.h_bits for r in out.values())
    assert sum(r.w_bits for r in out.values()) == \
        pytest.approx(rate, abs=2e-4)


def test_markov_entropy_single_user_key_exchange(spark):
    t0 = dt.datetime(2024, 6, 1)
    rows = [(i, t0 + dt.timedelta(seconds=i), i % 7,
             "t%d" % (i % 3), 1.0) for i in range(300)]
    df = journeys.markov_entropy(events_df(spark, rows))
    plan = plan_str(df)
    # corpus-sized exchange: exactly one hashpartitioning(user_id)
    assert len(re.findall(
        r"Exchange hashpartitioning\(user_id", plan)) == 1, plan


# ------------------------------------------------- kmv_overlap
def test_kmv_exact_when_sets_smaller_than_k(spark):
    """Sets smaller than k are held in full: every estimate must be
    EXACT (counts, union, intersection, Jaccard)."""
    t0 = dt.datetime(2024, 6, 1)
    rows = []
    eid = 0
    for typ, uids in [("a", range(0, 30)), ("b", range(20, 50))]:
        for u in uids:
            rows.append((eid, t0 + dt.timedelta(seconds=eid), u,
                         typ, 1.0))
            eid += 1
    from yahoo_anomaly_detection_spark.operators import sketches
    [r] = sketches.kmv_overlap(events_df(spark, rows), k=64).collect()
    assert (r.est_a, r.est_b) == (30.0, 30.0)
    assert r.est_union == 50.0
    assert r.est_inter == 10.0
    assert r.jaccard == pytest.approx(10 / 50, abs=1e-4)


def test_kmv_estimate_accuracy_large_sets(spark):
    """k=128 sketches of 2000/1000-distinct sets: the engine must
    equal a hashlib/sorted replica EXACTLY (same hashes, same
    order statistics), and land in a coarse accuracy band around the
    true cardinalities (KMV rel-SD ~1/sqrt(k-2) ~ 9%, errors
    correlated across the overlapping sets)."""
    import hashlib

    t0 = dt.datetime(2024, 6, 1)
    rows = []
    eid = 0
    for typ, uids in [("a", range(0, 2000)), ("b", range(1500, 2500))]:
        for u in uids:
            rows.append((eid, t0 + dt.timedelta(seconds=eid), u,
                         typ, 1.0))
            eid += 1
    from yahoo_anomaly_detection_spark.operators import sketches
    [r] = sketches.kmv_overlap(events_df(spark, rows), k=128).collect()

    def hs(uids):
        return sorted(
            int(hashlib.md5(str(u).encode()).hexdigest()[:15], 16)
            for u in set(uids))

    def est(sorted_hashes, k=128):
        if len(sorted_hashes) < k:
            return float(len(sorted_hashes))
        return (k - 1) * sketches.KMV_M / sorted_hashes[k - 1]

    ha, hb = hs(range(0, 2000)), hs(range(1500, 2500))
    hu = sorted(set(ha[:128]) | set(hb[:128]))[:128]
    both = sum(1 for x in hu if x in set(ha[:128])
               and x in set(hb[:128]))
    rho = both / len(hu)
    assert r.est_a == pytest.approx(est(ha), abs=1e-3)
    assert r.est_b == pytest.approx(est(hb), abs=1e-3)
    assert r.est_union == pytest.approx(est(hu), abs=1e-3)
    assert r.jaccard == pytest.approx(rho, abs=1e-4)
    assert r.est_inter == pytest.approx(rho * est(hu), abs=1e-3)
    # coarse truth band: 4 sigma of the KMV estimator
    assert r.est_a == pytest.approx(2000, rel=0.36)
    assert r.est_union == pytest.approx(2500, rel=0.36)


def test_kmv_sketch_partition_invariant(spark):
    """k-min is distributive: the sketch must be identical however
    the input is partitioned."""
    t0 = dt.datetime(2024, 6, 1)
    rows = [(i, t0 + dt.timedelta(seconds=i), i * 7919 % 5000, "k",
             1.0) for i in range(3000)]
    from yahoo_anomaly_detection_spark.operators import sketches
    ev = events_df(spark, rows)
    a = sorted((r.h, r.rk) for r in
               sketches.kmv_sketches(ev.repartition(2), k=32).collect())
    b = sorted((r.h, r.rk) for r in
               sketches.kmv_sketches(ev.repartition(17), k=32)
               .collect())
    assert a == b and len(a) == 32


# ------------------------------------------------- journey_surprise
def test_journey_surprise_deterministic_user_scores_zero(spark):
    """A user whose every step follows a probability-1 edge scores 0
    bits; a user taking a rare edge scores > 0."""
    t0 = dt.datetime(2024, 6, 1)
    rows = []
    eid = 0
    # users 1-3 walk a->b->a->b... (so a->b and b->a are the only
    # edges from a and b); user 4 injects one a->c edge
    for uid in (1, 2, 3):
        for i in range(8):
            rows.append((eid, t0 + dt.timedelta(seconds=eid), uid,
                         "ab"[i % 2], 1.0))
            eid += 1
    for typ in ["a", "b", "a", "b", "a", "c", "a", "b"]:
        rows.append((eid, t0 + dt.timedelta(seconds=eid), 4, typ, 1.0))
        eid += 1
    out = {r.user_id: r for r in
           journeys.journey_surprise(events_df(spark, rows),
                                     min_trans=5).collect()}
    assert out[1].bits == out[2].bits == out[3].bits
    assert out[4].bits > out[1].bits
    # every step of users 1-3 is still slightly surprising (a->b is
    # not prob 1: user 4 contributes a->c), so just check ordering
    assert out[1].n_trans == 7 and out[4].n_trans == 7


def test_journey_surprise_min_trans_filter(spark):
    t0 = dt.datetime(2024, 6, 1)
    rows = [(i, t0 + dt.timedelta(seconds=i), 1, "ab"[i % 2], 1.0)
            for i in range(10)]
    rows += [(100, t0, 2, "a", 1.0), (101, t0 + dt.timedelta(1), 2,
                                      "b", 1.0)]
    got = journeys.journey_surprise(events_df(spark, rows), min_trans=5)
    assert [r.user_id for r in got.collect()] == [1]


# ------------------------------------------------- shesd_flags
def test_shesd_seasonal_peak_not_flagged_spike_flagged(spark):
    """A strong hour-of-day seasonal peak is NOT an anomaly after
    seasonal-median adjustment; a one-day departure from the
    seasonal pattern IS."""
    t0 = dt.datetime(2024, 6, 1)
    rows = []
    eid = 0
    spike_eid = None
    for day in range(7):
        for hour in range(24):
            v = 100.0 if hour == 12 else 1.0
            v += 0.01 * ((eid * 7) % 5)  # mild jitter
            if day == 3 and hour == 12:
                v = 200.0
                spike_eid = eid
            rows.append((eid, t0 + dt.timedelta(days=day, hours=hour),
                         1, "m", v))
            eid += 1
    out = {r.event_id: r for r in
           tsanalytics.shesd_flags(events_df(spark, rows), k=3.0).collect()}
    assert out[spike_eid].flag == 1
    # every seasonal-peak hour on OTHER days survives
    others = [r for i, r in out.items()
              if i != spike_eid]
    assert sum(r.flag for r in others) == 0
    assert len(out) == 7 * 24


def test_shesd_single_exchange_all_rounds(spark):
    """All 2*rounds window phases + the seasonal join must ride ONE
    corpus hash exchange (plus the tiny seasonal-agg side)."""
    t0 = dt.datetime(2024, 6, 1)
    rows = [(i, t0 + dt.timedelta(hours=i), 1, "m",
             float(i % 24)) for i in range(200)]
    df = tsanalytics.shesd_flags(events_df(spark, rows), rounds=3)
    plan = plan_str(df)
    corpus_ex = re.findall(
        r"Exchange hashpartitioning\(event_type[^)]*bucket_start",
        plan)
    assert len(corpus_ex) == 1, plan
    assert "BroadcastExchange" in plan, plan


# ------------------------------------------------- did_impact
def test_did_impact_isolates_fleet_drift(spark):
    """A fleet-wide +5 shift yields did=0 for every series; a series
    moving +10 while the other is flat splits +-10."""
    t0 = dt.datetime(2024, 6, 1)
    rows = []
    eid = 0
    # 10 pre + 10 post points per type; cut = midpoint
    for typ, pre, post in [("a", 1.0, 11.0), ("b", 2.0, 2.0)]:
        for i in range(10):
            rows.append((eid, t0 + dt.timedelta(hours=i), 7, typ, pre))
            eid += 1
        for i in range(10):
            rows.append((eid, t0 + dt.timedelta(hours=100 + i), 7,
                         typ, post))
            eid += 1
    out = {r.event_type: r for r in
           tsanalytics.did_impact(events_df(spark, rows)).collect()}
    assert out["a"].pre_mean == 1.0 and out["a"].post_mean == 11.0
    # a: own delta +10, control (b) delta 0 -> did = +10
    assert out["a"].did == 10.0
    # b: own delta 0, control (a) delta +10 -> did = -10
    assert out["b"].did == -10.0
    # fleet-wide drift: everyone +5 -> did = 0 for all
    rows2 = []
    eid = 0
    for typ in ("a", "b", "c"):
        for i in range(10):
            rows2.append((eid, t0 + dt.timedelta(hours=i), 7, typ, 1.0))
            eid += 1
        for i in range(10):
            rows2.append((eid, t0 + dt.timedelta(hours=100 + i), 7,
                          typ, 6.0))
            eid += 1
    for r in tsanalytics.did_impact(events_df(spark, rows2)).collect():
        assert r.did == 0.0


def test_did_impact_two_corpus_scans_only(spark):
    """Cost must be independent of |series|: the plan holds exactly
    two scans of the raw relation (bounds + conditional agg)."""
    t0 = dt.datetime(2024, 6, 1)
    rows = [(i, t0 + dt.timedelta(hours=i % 50), 7, "t%d" % (i % 6),
             float(i % 9)) for i in range(600)]
    df = tsanalytics.did_impact(events_df(spark, rows))
    plan = plan_str(df)
    assert plan.count("Scan ExistingRDD") == 2, plan
    assert "BroadcastExchange" in plan, plan


# ------------------------------------------------- dominant_period
def test_dominant_period_finds_planted_cycle(spark):
    """A clean 24h sinusoid -> lag 24; a 6h cycle -> lag 6 (the
    smallest of the tied perfect lags 6/12/18/24)."""
    t0 = dt.datetime(2024, 6, 1)
    rows = []
    eid = 0
    for h in range(24 * 7):
        rows.append((eid, t0 + dt.timedelta(hours=h), 7, "daily",
                     math.sin(2 * math.pi * h / 24) + 2.0))
        eid += 1
        rows.append((eid, t0 + dt.timedelta(hours=h), 7, "sixh",
                     math.sin(2 * math.pi * h / 6) + 2.0))
        eid += 1
    out = {r.event_type: r for r in
           tsanalytics.dominant_period(events_df(spark, rows)).collect()}
    assert out["daily"].best_lag == 24
    assert out["daily"].best_corr == pytest.approx(1.0, abs=1e-3)
    assert out["sixh"].best_lag == 6  # tie over {6,12,18,24} -> min
    assert out["sixh"].best_corr == pytest.approx(1.0, abs=1e-3)


def test_dominant_period_constant_series_emits_no_row(spark):
    t0 = dt.datetime(2024, 6, 1)
    rows = [(i, t0 + dt.timedelta(hours=i), 7, "flat", 5.0)
            for i in range(48)]
    assert tsanalytics.dominant_period(events_df(spark, rows)).count() == 0


# ------------------------------------------------- compaction_plan
def test_compaction_plan_matches_python_replica(spark):
    """Bin assignment == the greedy running-total replica; bins are
    consecutive in day order and only the last bin of a key may be
    under target."""
    from yahoo_anomaly_detection_spark.operators import layout as lay
    t0 = dt.datetime(2024, 6, 1)
    sizes = [5, 5, 5, 5, 7, 2, 7, 25, 1]
    rows = []
    eid = 0
    for day, n in enumerate(sizes):
        for _ in range(n):
            rows.append((eid, t0 + dt.timedelta(days=day,
                                                seconds=eid % 3600),
                         7, "k", 1.0))
            eid += 1
    got = sorted(
        ((r.day.day, r.n_rows, r.bin_id, r.bin_rows, r.bin_files)
         for r in lay.compaction_plan(events_df(spark, rows),
                                      target_rows=10).collect()))
    # replica
    cum, plan = 0, []
    for day, n in enumerate(sizes):
        plan.append((day + 1, n, cum // 10))
        cum += n
    import collections
    totals = collections.Counter()
    files = collections.Counter()
    for _, n, b in plan:
        totals[b] += n
        files[b] += 1
    want = sorted((d, n, b, totals[b], files[b]) for d, n, b in plan)
    assert got == want
    # every bin except the last reaches the target
    last = max(totals)
    for b, tot in totals.items():
        if b != last:
            assert tot >= 10


# ------------------------------------------------- label_centroid_qc
def test_label_centroid_qc_separates_planted_clusters(spark):
    """Two orthogonal-ish planted clusters: silhouette ~ 1, positive
    margin; randomized labels on the same vectors: silhouette ~ 0."""
    from yahoo_anomaly_detection_spark.operators import similarity
    rng = np.random.default_rng(3)
    rows = []
    for i in range(60):
        base = np.zeros(8)
        lab = i % 2
        base[lab * 4] = 10.0  # cluster axis
        vec = base + rng.normal(0, 0.3, 8)
        rows.append((i, [float(x) for x in vec], lab))
    embs = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    out = {r.label: r for r in
           similarity.label_centroid_qc(embs).collect()}
    for lab in (0, 1):
        assert out[lab].n == 30
        assert out[lab].silhouette > 0.8
        assert out[lab].margin > 0.5
        assert out[lab].intra_cos > 0.95
    # same vectors, labels 50/50 mixed across the true clusters
    # ((i//2)%2 agrees with the geometric label i%2 exactly half the
    # time) -> both "clusters" have the same centroid, no structure
    shuffled = spark.createDataFrame(
        [(i, v, (i // 2) % 2) for i, v, _ in rows],
        "vec_id long, embedding array<float>, label int")
    out2 = similarity.label_centroid_qc(shuffled).collect()
    for r in out2:
        assert abs(r.silhouette) < 0.25
        assert abs(r.margin) < 0.2


# ------------------------------------------------- weekend_effect
def test_weekend_effect_matches_scipy_style_replica(spark):
    """Welch t and Satterthwaite dof vs a numpy replica; planted
    weekend shift detected, identical distributions not flagged."""
    rng = np.random.default_rng(11)
    t0 = dt.datetime(2024, 6, 3)  # a Monday
    rows = []
    eid = 0
    wd_vals, we_vals = [], []
    for day in range(28):
        is_we = (t0 + dt.timedelta(days=day)).isoweekday() >= 6
        for i in range(20):
            v = float(rng.normal(10.0 + (3.0 if is_we else 0.0), 2.0))
            rows.append((eid, t0 + dt.timedelta(days=day, hours=i % 24),
                         7, "shifted", v))
            (we_vals if is_we else wd_vals).append(v)
            eid += 1
            rows.append((eid, t0 + dt.timedelta(days=day, hours=i % 24),
                         7, "flat", float(rng.normal(5.0, 1.0))))
            eid += 1
    out = {r.event_type: r for r in
           tsanalytics.weekend_effect(events_df(spark, rows)).collect()}
    a, b = np.array(wd_vals), np.array(we_vals)
    v1, v2 = a.var(ddof=1), b.var(ddof=1)
    se2 = v1 / len(a) + v2 / len(b)
    t_stat = (b.mean() - a.mean()) / math.sqrt(se2)
    dof = se2 ** 2 / ((v1 / len(a)) ** 2 / (len(a) - 1)
                      + (v2 / len(b)) ** 2 / (len(b) - 1))
    r = out["shifted"]
    assert r.n_wd == len(a) and r.n_we == len(b)
    assert r.t_stat == pytest.approx(t_stat, abs=2e-4)
    assert r.dof == pytest.approx(dof, abs=2e-3)
    assert r.significant == 1
    assert out["flat"].significant == 0
    assert abs(out["flat"].t_stat) < 3.0


def test_weekend_effect_degenerate_null(spark):
    """All-weekday series (n_we = 0) emits NULL model columns."""
    t0 = dt.datetime(2024, 6, 3)  # Monday
    rows = [(i, t0 + dt.timedelta(hours=i % 48), 7, "wd_only",
             float(i % 7)) for i in range(50)]  # Mon/Tue only
    [r] = tsanalytics.weekend_effect(events_df(spark, rows)).collect()
    assert r.n_we == 0
    assert r.t_stat is None and r.dof is None and r.significant is None


# ------------------------------------------------- props_profile
def test_props_profile_counts_malformed_and_missing(spark):
    """Malformed JSON, missing field, JSON null, and typed values
    must classify exactly; stats computed over present values only."""
    from yahoo_anomaly_detection_spark.operators import enrich
    t0 = dt.datetime(2024, 6, 1)
    payloads = ['{"k": 10}', '{"k": 20}', '{"k": 30}',
                '{"other": 1}',    # field absent
                '{"k": null}',     # JSON null
                'not json at all', # malformed
                None]              # SQL NULL document
    rows = [(i, t0 + dt.timedelta(seconds=i), 7, "t", 1.0, p)
            for i, p in enumerate(payloads)]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    [r] = enrich.props_profile(ev).collect()
    assert r.n == 7
    assert r.n_missing == 4
    assert r.distinct_vals == 3
    assert r.mean_val == 20.0
    assert r.p95_val == pytest.approx(29.0, abs=1e-6)


# ------------------------------------------------- fuzzy_token_pairs
def test_fuzzy_token_pairs_finds_all_planted_edit1_variants(spark):
    """Deletion-neighborhood blocking + levenshtein verify must find
    every substitution/insertion/deletion typo exactly once, orient
    counts, and exclude distance-2 pairs. (The driver corpus has no
    ed-1 vocab pairs, so the oracle gate proves empty-set agreement;
    the positives live here.)"""
    from yahoo_anomaly_detection_spark.operators import textstats
    docs = spark.createDataFrame(
        [(1, "receive receive receive the parcel", "en", "s", 10),
         (2, "recieve the parcel", "en", "s", 10),   # transposition: ed 2
         (3, "receive receeive", "en", "s", 10),     # insertion: ed 1
         (4, "banana bananas banana bananas", "en", "s", 10),
         (5, "window windoq windows", "en", "s", 10),
         (6, "totally unrelated words here", "en", "s", 10)],
        "doc_id long, text string, lang string, source string, "
        "n_chars long")
    got = {(r.tok_a, r.tok_b): (r.n_a, r.n_b) for r in
           textstats.fuzzy_token_pairs(docs, min_count=1,
                                       min_len=4).collect()}
    assert ("banana", "bananas") in got
    assert ("receeive", "receive") in got
    assert ("windoq", "window") in got
    assert ("window", "windows") in got
    assert ("windoq", "windows") not in got      # distance 2
    assert ("receive", "recieve") not in got     # transposition = 2
    # counts orient typo -> canonical
    na, nb = got[("banana", "bananas")]
    assert na == 2 and nb == 2
    assert got[("receeive", "receive")] == (1, 4)


# ------------------------------------------------- change_attribution
def test_change_attribution_pins_the_moving_segment(spark):
    """One segment doubles, others hold: it owns EP = 1 and the
    highest surprise; EPs sum to 1 over segments."""
    t0 = dt.datetime(2024, 6, 1)
    rows = []
    eid = 0
    for typ, pre_v, post_v in [("mover", 10.0, 20.0),
                               ("flat1", 30.0, 30.0),
                               ("flat2", 5.0, 5.0)]:
        for i in range(10):
            rows.append((eid, t0 + dt.timedelta(hours=i), 7, typ,
                         pre_v))
            eid += 1
            rows.append((eid, t0 + dt.timedelta(hours=100 + i), 7,
                         typ, post_v))
            eid += 1
    out = {r.event_type: r for r in
           tsanalytics.change_attribution(events_df(spark, rows)).collect()}
    assert out["mover"].ep == 1.0
    assert out["flat1"].ep == 0.0 and out["flat2"].ep == 0.0
    assert out["mover"].surprise > out["flat1"].surprise
    assert out["mover"].surprise > out["flat2"].surprise
    assert sum(r.ep for r in out.values()) == pytest.approx(1.0)
    # flat segments still register SOME surprise: their SHARE of the
    # total shrank when the mover grew
    assert out["flat1"].surprise > 0


# ------------------------------------------------- funnel_latency
def test_funnel_latency_first_touch_and_strict_order(spark):
    """Latency anchors at the FIRST step_a; a step_b before or at the
    anchor does not convert; later duplicate conversions ignored."""
    from yahoo_anomaly_detection_spark.operators import sessions
    t0 = dt.datetime(2024, 6, 1, 12, 0, 0)
    rows = [
        # user 1: view@0s, purchase@100s (and a later one, ignored)
        (0, t0, 1, "view", 1.0),
        (1, t0 + dt.timedelta(seconds=100), 1, "purchase", 1.0),
        (2, t0 + dt.timedelta(seconds=500), 1, "purchase", 1.0),
        # user 2: purchase BEFORE any view -> no conversion
        (3, t0, 2, "purchase", 1.0),
        (4, t0 + dt.timedelta(seconds=10), 2, "view", 1.0),
        # user 3: purchase exactly AT the view instant -> no conversion
        (5, t0, 3, "view", 1.0),
        (6, t0, 3, "purchase", 1.0),
        # user 4: second view closer to purchase -- anchor stays FIRST
        (7, t0, 4, "view", 1.0),
        (8, t0 + dt.timedelta(seconds=200), 4, "view", 1.0),
        (9, t0 + dt.timedelta(seconds=300), 4, "purchase", 1.0),
    ]
    [r] = sessions.funnel_latency(events_df(spark, rows)).collect()
    assert r.n_conversions == 2  # users 1 and 4
    # latencies: 100 (user 1), 300 (user 4)
    assert r.p50_s == pytest.approx(200.0)  # interpolated median
    assert r.mean_s == pytest.approx(200.0)
    assert r.p90_s == pytest.approx(280.0)  # 100 + 0.9*(300-100)


# ------------------------------------------------- ri_audit
def test_ri_audit_counts_orphans_and_nulls(spark):
    """Planted orphan FKs and NULL FKs classify separately; clean
    edges report zero orphans."""
    from yahoo_anomaly_detection_spark.operators import enrich
    child = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 20), (4, 99), (5, None)],
        "id long, fk long")
    parent = spark.createDataFrame([(10,), (20,), (30,)], "pk long")
    [r] = enrich.ri_audit(
        [("child->parent", child, "fk", parent, "pk")]).collect()
    assert r.edge == "child->parent"
    assert r.n_rows == 5
    assert r.n_keys == 3          # countDistinct ignores NULL
    assert r.n_null_fk == 1
    assert r.n_orphans == 1       # fk=99; the NULL is NOT an orphan


# ------------------------------------------------- fleet_beta
def test_fleet_beta_recovers_planted_betas(spark):
    """Series built as y = beta*x + alpha on a shared factor recover
    their betas exactly (r2 = 1); a constant series yields NULL."""
    t0 = dt.datetime(2024, 6, 1)
    rows = []
    eid = 0
    # factor value per hour h: f = 10 + (h % 7)
    for h in range(100):
        f = 10.0 + (h % 7)
        for typ, beta, alpha in [("amp", 2.0, 1.0),
                                 ("damp", 0.5, -3.0),
                                 ("flat", 0.0, 4.0)]:
            rows.append((eid, t0 + dt.timedelta(hours=h), 7, typ,
                         beta * f + alpha))
            eid += 1
    out = {r.event_type: r for r in
           tsanalytics.fleet_beta(events_df(spark, rows)).collect()}
    # fleet mean x = mean over the 3 series = (2f+1 + .5f-3 + 4)/3
    # = (2.5 f + 2)/3, linear in f -> each series still linear in x
    # with slope beta_i / (2.5/3)
    scale = 2.5 / 3
    assert out["amp"].beta == pytest.approx(2.0 / scale, abs=1e-3)
    assert out["damp"].beta == pytest.approx(0.5 / scale, abs=1e-3)
    assert out["amp"].r2 == pytest.approx(1.0, abs=1e-4)
    assert out["flat"].beta == pytest.approx(0.0, abs=1e-6)
    assert out["flat"].r2 is None  # zero y-variance
    assert out["amp"].n_buckets == 100


# ------------------------------------------------- normality_check
def test_normality_check_matches_scipy_formulas(spark):
    """Skew/kurtosis/JB vs numpy population-moment replica; a clean
    normal sample passes, an exponential sample fails."""
    rng = np.random.default_rng(5)
    t0 = dt.datetime(2024, 6, 1)
    rows = []
    eid = 0
    normal = rng.normal(10, 2, 2000)
    expo = rng.exponential(5, 2000)
    for typ, vals in [("gauss", normal), ("expo", expo)]:
        for v in vals:
            rows.append((eid, t0 + dt.timedelta(seconds=eid), 7, typ,
                         float(v)))
            eid += 1
    rows.append((eid, t0, 7, "const", 1.0))
    out = {r.event_type: r for r in
           tsanalytics.normality_check(events_df(spark, rows)).collect()}

    def replica(vals):
        v = np.asarray(vals)
        m2, m3, m4 = (np.mean((v - v.mean()) ** p) for p in (2, 3, 4))
        s = m3 / m2 ** 1.5
        k = m4 / m2 ** 2 - 3
        return s, k, len(v) / 6 * (s * s + k * k / 4)

    for typ, vals in [("gauss", normal), ("expo", expo)]:
        s, k, jb = replica(vals)
        r = out[typ]
        assert r.skew == pytest.approx(s, abs=2e-4)
        assert r.kurt_excess == pytest.approx(k, abs=2e-4)
        assert r.jb == pytest.approx(jb, rel=1e-3)
    assert out["gauss"].normal_ok == 1
    assert out["expo"].normal_ok == 0
    assert out["const"].jb is None and out["const"].normal_ok is None


# ------------------------------------------------- bitmap_rolling
def test_bitmap_rolling_equals_exact_windowed_distinct(spark):
    """Rolling bitmap OR equals a brute-force trailing-window
    COUNT(DISTINCT) — repeat visitors counted once, gap days handled
    by the calendar RANGE frame."""
    from yahoo_anomaly_detection_spark.operators import sketches
    t0 = dt.datetime(2024, 6, 1)
    rows = []
    eid = 0
    visits = {0: [1, 2, 3], 1: [2, 3, 4], 3: [1, 64], 9: [5]}
    for day, uids in visits.items():
        for u in uids:
            rows.append((eid, t0 + dt.timedelta(days=day, seconds=eid),
                         u, "k", 1.0))
            eid += 1
    got = {r.day.day: r.n_users for r in
           sketches.bitmap_rolling(events_df(spark, rows),
                                   window_days=3).collect()}
    # brute force trailing 3 calendar days
    def exact(day):
        s = set()
        for d, uids in visits.items():
            if day - 2 <= d <= day:
                s.update(uids)
        return len(s)
    assert got == {1 + d: exact(d) for d in visits}
    assert got[2] == 4      # days 0+1: {1,2,3,4}
    assert got[4] == 5      # days 1..3: {2,3,4} | {1,64}
    assert got[10] == 1     # isolated day 9


# ----------------------------------------- property tests (pure py)
@settings(max_examples=100, deadline=None)
@given(st.lists(st.integers(0, 10_000), min_size=1, max_size=300),
       st.integers(2, 32))
def test_kmv_union_truncate_is_distributive(ids, k):
    """Pure-python mirror of the KMV invariant the distributed plan
    relies on: k-min of a union == k-min of the union of per-part
    k-mins, for ANY split of the input."""
    import hashlib

    def h(u):
        return int(hashlib.md5(str(u).encode()).hexdigest()[:15], 16)

    hs = sorted({h(u) for u in ids})
    direct = hs[:k]
    mid = len(ids) // 2
    part1 = sorted({h(u) for u in ids[:mid]})[:k]
    part2 = sorted({h(u) for u in ids[mid:]})[:k]
    merged = sorted(set(part1) | set(part2))[:k]
    assert merged == direct


@settings(max_examples=100, deadline=None)
@given(st.lists(st.integers(1, 50), min_size=1, max_size=40),
       st.integers(1, 60))
def test_compaction_bins_invariants(sizes, target):
    """Streaming bin-pack invariants for ANY file-size sequence:
    bin ids nondecreasing in order, no file split, and bin b opens
    only after b*target rows accumulated (so occupied bins AVERAGE
    >= target fill; an individual middle bin may run small only when
    an oversized neighbor overshot — found by this very test)."""
    cum, bins, opens = 0, [], {}
    for n in sizes:
        b = cum // target
        bins.append(b)
        opens.setdefault(b, cum)
        cum += n
    assert bins == sorted(bins)  # nondecreasing in file order
    for b, first_cum in opens.items():
        assert first_cum >= b * target  # cumulative-fill guarantee
    # per-bin minimum fill is NOT guaranteed (an overshooting
    # neighbor absorbs it); the CUMULATIVE guarantee is: once any
    # later bin opens, the files through bin b total >= (b+1)*target
    last = max(bins)
    totals = {}
    for n, b in zip(sizes, bins):
        totals[b] = totals.get(b, 0) + n
    for b in totals:
        if b != last:
            upto = sum(t for bb, t in totals.items() if bb <= b)
            assert upto >= (b + 1) * target


# ------------------------------------------------- backfill_plan
def test_backfill_plan_groups_contiguous_missing_days(spark):
    """Planted holes collapse into contiguous runs with correct
    bounds; a gapless series emits nothing."""
    from yahoo_anomaly_detection_spark.operators import gapfill
    t0 = dt.datetime(2024, 6, 1)
    rows = []
    eid = 0
    # series "holey": days 0,1,2, [3,4 missing], 5, [6 missing], 7
    for day in [0, 1, 2, 5, 7]:
        rows.append((eid, t0 + dt.timedelta(days=day), 1, "holey",
                     1.0))
        eid += 1
    for day in range(4):  # series "dense": no gaps
        rows.append((eid, t0 + dt.timedelta(days=day), 1, "dense",
                     1.0))
        eid += 1
    out = sorted(
        ((r.event_type, r.backfill_start.day, r.backfill_end.day,
          r.n_days)
         for r in gapfill.backfill_plan(events_df(spark, rows),
                                        granularity="day").collect()))
    assert out == [("holey", 4, 5, 2), ("holey", 7, 7, 1)]


# ------------------------------------------------- quota_violations
def test_quota_violations_sliding_window_semantics(spark):
    """Trailing 60s RANGE frame: three events in 50s at quota=2 give
    one violation (the third); a fourth event 61s after the first
    drops the first out of the frame."""
    from yahoo_anomaly_detection_spark.operators import sessions
    t0 = dt.datetime(2024, 6, 1, 12, 0, 0)
    rows = [
        (0, t0, 1, "t", 1.0),
        (1, t0 + dt.timedelta(seconds=30), 1, "t", 1.0),
        (2, t0 + dt.timedelta(seconds=50), 1, "t", 1.0),  # rpm 3 > 2
        (3, t0 + dt.timedelta(seconds=61), 1, "t", 1.0),  # rpm 3 > 2
        # user 2 spaced out: never violates
        (4, t0, 2, "t", 1.0),
        (5, t0 + dt.timedelta(seconds=120), 2, "t", 1.0),
    ]
    out = {r.user_id: r for r in
           sessions.quota_violations(events_df(spark, rows),
                                     quota=2).collect()}
    # event 3's frame = (1s, 61s] -> events 1, 2, 3 -> rpm 3
    assert out[1].n_violations == 2
    assert out[1].max_rpm == 3
    assert out[2].n_violations == 0 and out[2].max_rpm == 1


# ------------------------------------------------- lateness_audit
def test_lateness_audit_two_phase_equals_global_prefix_max(spark):
    """With a tiny bucket size (forcing many carry-ins) the result
    must equal a python global-prefix-max replica; ordered streams
    yield NULL quantiles."""
    rng = np.random.default_rng(9)
    t0 = dt.datetime(2024, 6, 1)
    rows, lates = [], []
    runmax = None
    for i in range(500):
        # mostly forward, occasional 0-120s backwards jitter
        ts = t0 + dt.timedelta(seconds=i * 10
                               - int(rng.integers(0, 120)))
        us = ts.timestamp()
        runmax = us if runmax is None else max(runmax, us)
        lates.append(runmax - us)
        rows.append((i, ts, 7, "jittery", 1.0))
    for i in range(100):  # perfectly ordered stream
        rows.append((1000 + i, t0 + dt.timedelta(seconds=i), 7,
                     "ordered", 1.0))
    out = {r.event_type: r for r in
           tsanalytics.lateness_audit(events_df(spark, rows),
                                      bucket_rows=32).collect()}
    pos = [x for x in lates if x > 0]
    r = out["jittery"]
    assert r.n == 500
    assert r.late_share == pytest.approx(len(pos) / 500, abs=1e-4)
    assert r.max_late_s == pytest.approx(max(pos), abs=1e-3)
    assert r.p99_late_s == pytest.approx(
        float(np.quantile(pos, 0.99, method="linear")), abs=1e-2)
    o = out["ordered"]
    assert o.late_share == 0.0
    assert o.p50_late_s is None and o.max_late_s is None


# ------------------------------------------------- session_lift
def test_session_lift_hand_case(spark):
    """Types always together lift > 1; types never together lift
    = 0-support (dropped); independent types lift ~ 1."""
    from yahoo_anomaly_detection_spark.operators import sessions
    t0 = dt.datetime(2024, 6, 1)
    rows = []
    eid = 0
    # 4 users x 2 sessions each (gap > 8h splits). In every session:
    # "x" and "y" co-occur; "z" appears in exactly half the sessions
    # (first session of each user), alone with x/y.
    for uid in range(4):
        for s in range(2):
            base = t0 + dt.timedelta(days=s, hours=uid)
            for j, typ in enumerate(["x", "y"] + (["z"] if s == 0
                                                  else [])):
                rows.append((eid, base + dt.timedelta(seconds=j), uid,
                             typ, 1.0))
                eid += 1
    got = {(r.type_a, r.type_b): r for r in
           sessions.session_lift(events_df(spark, rows),
                                 min_sessions=1).collect()}
    # 8 sessions; x,y in all 8; z in 4
    r = got[("x", "y")]
    assert (r.n_a, r.n_b, r.n_both) == (8, 8, 8)
    assert r.lift == pytest.approx(8 * 8 / (8 * 8), abs=1e-4)  # 1.0
    rz = got[("x", "z")]
    assert (rz.n_a, rz.n_b, rz.n_both) == (8, 4, 4)
    # lift = 4*8/(8*4) = 1.0 (z always with x when present)
    assert rz.lift == pytest.approx(1.0, abs=1e-4)
    # now make "w" repel "z": w only in second sessions
    rows2 = list(rows)
    for uid in range(4):
        base = t0 + dt.timedelta(days=1, hours=uid)
        rows2.append((eid, base + dt.timedelta(seconds=9), uid, "w",
                      1.0))
        eid += 1
    got2 = {(r.type_a, r.type_b): r for r in
            sessions.session_lift(events_df(spark, rows2),
                                  min_sessions=1).collect()}
    assert ("w", "z") not in got2          # never co-occur
    rw = got2[("w", "x")]
    assert rw.lift == pytest.approx(8 / (8 * 4) * 4, abs=1e-4)  # 1.0


# ------------------------------------------------- touch_attribution
def test_touch_attribution_linear_vs_last_touch(spark):
    """Hand-built funnels: credits split linearly over distinct touch
    types before the FIRST purchase; last-touch goes to the latest;
    post-purchase touches and non-converters contribute nothing."""
    from yahoo_anomaly_detection_spark.operators import sessions
    t0 = dt.datetime(2024, 6, 1)
    S = dt.timedelta
    rows = [
        # user 1: view@0, click@10, purchase@20, view@30 (ignored)
        (0, t0, 1, "view", 1.0), (1, t0 + S(seconds=10), 1, "click",
                                  1.0),
        (2, t0 + S(seconds=20), 1, "purchase", 1.0),
        (3, t0 + S(seconds=30), 1, "view", 1.0),
        # user 2: click only, then purchase
        (4, t0, 2, "click", 1.0),
        (5, t0 + S(seconds=5), 2, "purchase", 1.0),
        # user 3: views but never purchases
        (6, t0, 3, "view", 1.0), (7, t0 + S(seconds=1), 3, "view",
                                  1.0),
        # user 4: purchase FIRST -> no prior touches, nothing credited
        (8, t0, 4, "purchase", 1.0), (9, t0 + S(seconds=9), 4,
                                      "view", 1.0),
    ]
    out = {r.event_type: r for r in
           sessions.touch_attribution(events_df(spark, rows)).collect()}
    # user 1: {view, click} -> 0.5 each, last = click
    # user 2: {click} -> 1.0, last = click
    assert out["view"].linear_credit == pytest.approx(0.5)
    assert out["click"].linear_credit == pytest.approx(1.5)
    assert out["view"].last_touch_credit == 0
    assert out["click"].last_touch_credit == 2
    assert out["view"].n_users == 1 and out["click"].n_users == 2
    assert "purchase" not in out
    # total linear credit == number of credited conversions
    assert sum(r.linear_credit for r in out.values()) == \
        pytest.approx(2.0)


# ------------------------------------------------- join_size_est
def test_join_size_est_exact_and_bounded(spark):
    """Exact side equals the true join cardinality; the CM estimate
    upper-bounds it and is tight when keys << buckets."""
    from yahoo_anomaly_detection_spark.operators import sketches
    left = spark.createDataFrame(
        [(k,) for k in [1, 1, 1, 2, 2, 3, 7]], "k long")
    right = spark.createDataFrame(
        [(k,) for k in [1, 2, 2, 2, 4]], "k long")
    [r] = sketches.join_size_est(left, right, "k", "k",
                                 d=4, w=2048).collect()
    # true join size: k=1 -> 3*1, k=2 -> 2*3 => 9
    assert r.exact_size == 9
    assert r.est_size >= r.exact_size       # CM never underestimates
    assert r.est_size == 9                  # no collisions at w=2048
    assert r.rel_err == 0.0
    # disjoint keys -> exact 0; estimate stays tiny (collision noise)
    [z] = sketches.join_size_est(
        left, spark.createDataFrame([(100,), (200,)], "k long"),
        "k", "k", d=4, w=2048).collect()
    assert z.exact_size == 0
    assert z.est_size <= 2  # at most stray collisions
    assert z.rel_err is None  # 0-denominator -> NULL


# ------------------------------------------------- anomalous_days
def test_anomalous_days_finds_broken_day_profile(spark):
    """A day whose whole 24h profile departs from the weekday
    template flags; same-mean days whose hourly errors cancel at the
    daily grain still flag (the point the daily-mean detectors
    miss); normal days don't."""
    rng = np.random.default_rng(21)
    t0 = dt.datetime(2024, 6, 3)  # Monday
    rows = []
    eid = 0
    for day in range(28):
        for hour in range(24):
            v = 10.0 + (5.0 if hour == 12 else 0.0)
            if day == 10:
                # inverted profile, SAME daily mean: +5 moves to h0
                v = 10.0 + (5.0 if hour == 0 else 0.0)
            # mild noise so normal-day scores have nonzero MAD
            v += float(rng.normal(0, 0.2))
            rows.append((eid, t0 + dt.timedelta(days=day, hours=hour),
                         1, "m", v))
            eid += 1
    out = {r.day.day: r for r in
           tsanalytics.anomalous_days(events_df(spark, rows)).collect()}
    flagged = {d for d, r in out.items() if r.flag == 1}
    # day index 10 -> June 13 (a Thursday). The broken day must flag
    # with the TOP score; its weekday SIBLINGS may co-flag (their
    # 4-sample template is contaminated by the broken day — inherent
    # to template scoring), but no other weekday does.
    assert 13 in flagged
    assert flagged <= {6, 13, 20, 27}
    assert out[13].z == max(r.z for r in out.values() if r.z is not None)
    assert out[13].rmsd > 2 * max(
        r.rmsd for d, r in out.items() if d != 13)


# ------------------------------------------------- capacity_forecast
def test_capacity_forecast_eta_math(spark):
    """A clean +1/day trend from 50 crosses 100 in ~(100-level)/1
    days; a flat series yields NULL ETA; a decreasing one too."""
    t0 = dt.datetime(2024, 6, 1)
    rows = []
    eid = 0
    for day in range(20):
        for h in (0, 12):
            rows.append((eid, t0 + dt.timedelta(days=day, hours=h), 1,
                         "grow", 50.0 + day))
            eid += 1
            rows.append((eid, t0 + dt.timedelta(days=day, hours=h), 1,
                         "flat", 10.0))
            eid += 1
            rows.append((eid, t0 + dt.timedelta(days=day, hours=h), 1,
                         "drop", 200.0 - day))
            eid += 1
    out = {r.event_type: r for r in
           tsanalytics.capacity_forecast(events_df(spark, rows),
                                         threshold=100.0,
                                         horizon_days=30.0).collect()}
    g = out["grow"]
    assert g.slope_per_day == pytest.approx(1.0, abs=1e-3)
    assert g.level_now == pytest.approx(69.0, abs=0.1)  # day 19 fit
    assert g.eta_days == pytest.approx(100.0 - g.level_now, abs=0.1)
    assert g.urgent == 0  # ~31 days out at horizon 30
    assert out["flat"].eta_days is None
    assert out["flat"].urgent == 0
    # decreasing AND already above threshold -> NULL eta, not urgent
    assert out["drop"].eta_days is None and out["drop"].urgent == 0
    # tighter horizon flips urgency
    out2 = {r.event_type: r for r in
            tsanalytics.capacity_forecast(events_df(spark, rows),
                                          threshold=75.0,
                                          horizon_days=30.0).collect()}
    assert out2["grow"].urgent == 1  # ~6 days to 75
