"""Unit + plan-shape tests for the alerting & incident analytics
layer (operators/alerting.py): flag→episode consolidation,
overlapping-interval merge, SLO multi-window burn rates, and the
broadcast point-in-interval join."""

import re

import pytest
from pyspark.sql import functions as F

from conftest import count_exchanges, plan_str
from yahoo_anomaly_detection_spark.operators import alerting as al


def _flags(spark, vals, key="a", step=60):
    """vals: 0/1 flags at step-second spacing from a fixed epoch."""
    return spark.createDataFrame(
        [(key, 1700000000 + i * step, int(v)) for i, v in enumerate(vals)],
        "conv_id string, epoch long, flag int",
    ).select(
        "conv_id",
        F.timestamp_seconds(F.col("epoch")).alias("bucket_start"),
        "flag",
    )


def _iv(spark, rows):
    """rows: (key, start_sec, end_sec) half-open interval offsets."""
    return spark.createDataFrame(
        [(k, 1700000000 + s, 1700000000 + e) for k, s, e in rows],
        "conv_id string, s_sec long, e_sec long",
    ).select(
        "conv_id",
        F.timestamp_seconds(F.col("s_sec")).alias("s"),
        F.timestamp_seconds(F.col("e_sec")).alias("e"),
    )


# --------------------------------------------------- flag_intervals
def test_flag_intervals_runs_and_bounds(spark):
    # flags 0 1 1 0 1 → two episodes: samples 1-2 and sample 4
    df = _flags(spark, [0, 1, 1, 0, 1])
    out = sorted(al.flag_intervals(df, "flag").collect(),
                 key=lambda r: r["interval_start"])
    assert len(out) == 2
    first, second = out
    assert first["n_samples"] == 2
    assert first["duration_seconds"] == 120
    # end is half-open: last flagged sample + sample_seconds
    assert (first["interval_end"] - first["interval_start"]
            ).total_seconds() == 120.0
    assert second["n_samples"] == 1
    assert second["duration_seconds"] == 60


def test_flag_intervals_bridges_series_gaps_by_default(spark):
    # consecutive SAMPLES semantics: a hole in the series does not
    # split the run, so span can exceed flagged duration
    df = _flags(spark, [1, 1], step=600)
    out = al.flag_intervals(df, "flag").collect()
    assert len(out) == 1
    r = out[0]
    assert r["duration_seconds"] == 120
    assert (r["interval_end"] - r["interval_start"]
            ).total_seconds() == 660.0  # 600s gap + trailing 60s


def test_flag_intervals_gap_aware_split(spark):
    df = _flags(spark, [1, 1], step=600)
    out = al.flag_intervals(df, "flag", max_gap_seconds=60).collect()
    assert len(out) == 2
    assert all(r["n_samples"] == 1 for r in out)


def test_flag_intervals_no_flags_empty(spark):
    df = _flags(spark, [0, 0, 0])
    assert al.flag_intervals(df, "flag").count() == 0


def test_flag_intervals_validation(spark):
    df = _flags(spark, [1])
    with pytest.raises(ValueError, match="sample_seconds"):
        al.flag_intervals(df, "flag", sample_seconds=0)


def test_flag_intervals_single_exchange(spark):
    # lag + cumsum windows and the (key, run) groupBy all ride one
    # hash exchange on the series key (sessionize idiom)
    df = _flags(spark, [0, 1, 1, 0, 1])
    out = al.flag_intervals(df, "flag")
    assert count_exchanges(out) == 1, plan_str(out)


# --------------------------------------------------- merge_intervals
def test_merge_intervals_overlap_touch_disjoint(spark):
    # [0,100) ∪ [50,150) ∪ [150,200) merge (overlap + touch);
    # [300,310) stays separate
    df = _iv(spark, [("a", 0, 100), ("a", 50, 150),
                     ("a", 150, 200), ("a", 300, 310)])
    out = sorted(al.merge_intervals(df).collect(),
                 key=lambda r: r["interval_start"])
    assert [(r["n_merged"], r["covered_us"]) for r in out] == [
        (3, 200_000_000), (1, 10_000_000)]


def test_merge_intervals_contained_then_extend(spark):
    # containment is not chain-adjacency: [10,20) sits inside [0,100)
    # and must not break the bridge to [30,200) — the running MAX of
    # end (not lag of end) is what makes this correct
    df = _iv(spark, [("a", 0, 100), ("a", 10, 20), ("a", 30, 200)])
    out = al.merge_intervals(df).collect()
    assert len(out) == 1
    assert out[0]["n_merged"] == 3
    assert out[0]["covered_us"] == 200_000_000


def test_merge_intervals_per_key(spark):
    df = _iv(spark, [("a", 0, 100), ("b", 50, 150)])
    out = al.merge_intervals(df).collect()
    assert len(out) == 2
    assert all(r["n_merged"] == 1 for r in out)


def test_merge_intervals_single_exchange(spark):
    df = _iv(spark, [("a", 0, 100), ("a", 50, 150), ("b", 0, 10)])
    out = al.merge_intervals(df)
    assert count_exchanges(out) == 1, plan_str(out)


# ----------------------------------------------------------- slo_burn
def _series(spark, vals, secs=None, key="a"):
    offs = secs if secs is not None else [i * 60 for i in range(len(vals))]
    return spark.createDataFrame(
        [(key, 1700000000 + s, float(v)) for s, v in zip(offs, vals)],
        "conv_id string, epoch long, mean_v double",
    ).select(
        "conv_id",
        F.timestamp_seconds(F.col("epoch")).alias("bucket_start"),
        "mean_v",
    )


def test_slo_burn_requires_both_windows(spark):
    # 3 breaches in the last 5m (short 3/5 ≥ 0.5) but only 3/20
    # over the hour (long < 0.2): fast spike alone must NOT page
    vals = [0.0] * 17 + [99.0, 99.0, 99.0]
    out = sorted(
        al.slo_burn(_series(spark, vals), "mean_v", threshold=10.0)
        .collect(), key=lambda r: r["bucket_start"])
    last = out[-1]
    assert last["breach"] == 1
    assert last["short_ratio"] == pytest.approx(3 / 5)
    assert last["long_ratio"] == pytest.approx(3 / 20)
    assert last["page"] == 0


def test_slo_burn_pages_on_sustained_burn(spark):
    # breach from sample 5 on: by the end both ratios exceed their
    # thresholds and the page bit flips exactly when long crosses 0.2
    vals = [0.0] * 5 + [99.0] * 15
    out = sorted(
        al.slo_burn(_series(spark, vals), "mean_v", threshold=10.0)
        .collect(), key=lambda r: r["bucket_start"])
    assert out[-1]["short_ratio"] == pytest.approx(1.0)
    assert out[-1]["long_ratio"] == pytest.approx(0.75)
    assert out[-1]["page"] == 1
    # pages start exactly where long_ratio >= 0.2 AND short >= 0.5
    for r in out:
        expect = int(r["short_ratio"] >= 0.5 and r["long_ratio"] >= 0.2)
        assert r["page"] == expect, r


def test_slo_burn_time_range_not_row_count(spark):
    # irregular sampling: two samples 10 minutes apart — the trailing
    # 5m window at the second sample must NOT see the first
    out = sorted(
        al.slo_burn(_series(spark, [99.0, 0.0], secs=[0, 600]),
                    "mean_v", threshold=10.0).collect(),
        key=lambda r: r["bucket_start"])
    assert out[1]["short_ratio"] == pytest.approx(0.0)
    assert out[1]["long_ratio"] == pytest.approx(0.5)  # 1h sees both


def test_slo_burn_window_is_half_open_trailing(spark):
    # (t-300, t]: a sample exactly 300s back is OUTSIDE the short
    # window, one 299s back would be inside
    out = sorted(
        al.slo_burn(_series(spark, [99.0, 0.0], secs=[0, 300]),
                    "mean_v", threshold=10.0).collect(),
        key=lambda r: r["bucket_start"])
    assert out[1]["short_ratio"] == pytest.approx(0.0)


def test_slo_burn_null_sample_is_nonbreach_in_denominator(spark):
    # a NULL sample counts as a non-breach (oracle CASE ELSE 0), not
    # as a dropped row that would shrink the window denominator
    df = spark.createDataFrame(
        [("a", 1700000000, 99.0), ("a", 1700000060, None),
         ("a", 1700000120, 99.0)],
        "conv_id string, epoch long, mean_v double",
    ).select("conv_id",
             F.timestamp_seconds(F.col("epoch")).alias("bucket_start"),
             "mean_v")
    out = sorted(al.slo_burn(df, "mean_v", threshold=10.0).collect(),
                 key=lambda r: r["bucket_start"])
    assert [r["breach"] for r in out] == [1, 0, 1]
    assert out[2]["short_ratio"] == pytest.approx(2 / 3)  # not 2/2


def test_slo_burn_validation(spark):
    df = _series(spark, [1.0])
    with pytest.raises(ValueError, match="short_seconds < long_seconds"):
        al.slo_burn(df, "mean_v", 1.0, short_seconds=600, long_seconds=600)
    with pytest.raises(ValueError, match="short_burn"):
        al.slo_burn(df, "mean_v", 1.0, short_burn=0.0)


def test_slo_burn_single_exchange_single_window(spark):
    # both RANGE frames share partition+order → ONE Window operator
    # over ONE exchange; the self-join formulation this replaces
    # would show a Join here
    out = al.slo_burn(_series(spark, [1.0, 99.0, 3.0]), "mean_v", 10.0)
    plan = plan_str(out)
    assert count_exchanges(out) == 1, plan
    assert len(re.findall(r"\bWindow ", plan)) == 1, plan
    assert "Join" not in plan


# ------------------------------------------- point_in_interval_join
def test_point_in_interval_half_open_membership(spark):
    iv = _iv(spark, [("inc1", 100, 200)]).withColumnRenamed(
        "conv_id", "incident").select(
        "incident", F.col("s").alias("interval_start"),
        F.col("e").alias("interval_end"))
    pts = spark.createDataFrame(
        [(i, 1700000000 + s) for i, s in
         enumerate([99, 100, 150, 199, 200])],
        "pid long, epoch long",
    ).select("pid", F.timestamp_seconds(F.col("epoch")).alias("ts"))
    got = sorted(r["pid"] for r in
                 al.point_in_interval_join(pts, iv).collect())
    assert got == [1, 2, 3]  # start inclusive, end exclusive


def test_point_in_interval_overlapping_intervals_multi_match(spark):
    iv = _iv(spark, [("i1", 0, 100), ("i2", 50, 150)]).select(
        F.col("conv_id").alias("incident"),
        F.col("s").alias("interval_start"),
        F.col("e").alias("interval_end"))
    pts = spark.createDataFrame(
        [(1, 1700000075)], "pid long, epoch long",
    ).select("pid", F.timestamp_seconds(F.col("epoch")).alias("ts"))
    got = sorted(r["incident"] for r in
                 al.point_in_interval_join(pts, iv).collect())
    assert got == ["i1", "i2"]


def test_interval_join_bucketed_equals_broadcast(spark):
    # deterministic pseudo-random intervals and points; the bucketed
    # equi-join decomposition must return exactly the broadcast
    # nested-loop rows, including intervals spanning many buckets,
    # zero-length intervals, and boundary points
    iv_rows = [("i%d" % k, (k * 37) % 500, (k * 37) % 500 + (k * 13) % 260)
               for k in range(40)]  # includes end == start when k*13%260==0
    iv = _iv(spark, iv_rows).select(
        F.col("conv_id").alias("incident"),
        F.col("s").alias("interval_start"),
        F.col("e").alias("interval_end"))
    pts = spark.range(150).select(
        F.col("id").alias("pid"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id") * 5).alias("ts"))
    want = sorted((r["pid"], r["incident"]) for r in
                  al.point_in_interval_join(pts, iv).collect())
    for bucket_seconds in (60, 86400):  # many-buckets and one-bucket
        got = sorted(
            (r["pid"], r["incident"]) for r in
            al.interval_join_bucketed(
                pts, iv, bucket_seconds=bucket_seconds).collect())
        assert got == want, bucket_seconds
    assert len(want) > 100  # non-trivial overlap actually exercised


def test_interval_join_bucketed_no_nested_loop(spark):
    iv = _iv(spark, [("i1", 0, 100), ("i2", 50, 150)]).select(
        F.col("conv_id").alias("incident"),
        F.col("s").alias("interval_start"),
        F.col("e").alias("interval_end"))
    pts = spark.range(100).select(
        F.col("id").alias("pid"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("ts"))
    plan = plan_str(al.interval_join_bucketed(pts, iv, bucket_seconds=60))
    # the decomposition is an EQUI join on the bucket id — never a
    # nested loop or cartesian, whatever AQE picks as the physical op
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)",
                     plan), plan


def test_interval_join_bucketed_tolerates_shared_column_names(spark):
    # the interval side may carry a 'ts' of its own (e.g. derived
    # from raw events without dropping it) — the residual filter must
    # stay frame-qualified, matching the broadcast path's tolerance
    iv = _iv(spark, [("i1", 0, 100)]).select(
        F.col("conv_id").alias("incident"),
        F.col("s").alias("ts"),  # deliberate collision
        F.col("s").alias("interval_start"),
        F.col("e").alias("interval_end"))
    pts = spark.createDataFrame(
        [(1, 1700000050), (2, 1700000150)], "pid long, epoch long",
    ).select("pid", F.timestamp_seconds(F.col("epoch")).alias("ts"))
    got = al.interval_join_bucketed(pts, iv, bucket_seconds=60)
    assert sorted(r["pid"] for r in got.collect()) == [1]


def test_interval_join_bucketed_validation(spark):
    iv = _iv(spark, [("i1", 0, 100)]).select(
        F.col("conv_id").alias("incident"),
        F.col("s").alias("interval_start"),
        F.col("e").alias("interval_end"))
    with pytest.raises(ValueError, match="bucket_seconds"):
        al.interval_join_bucketed(iv, iv, bucket_seconds=0)


def test_point_in_interval_broadcast_not_cartesian(spark):
    iv = _iv(spark, [("i1", 0, 100)]).select(
        F.col("conv_id").alias("incident"),
        F.col("s").alias("interval_start"),
        F.col("e").alias("interval_end"))
    pts = spark.range(100).select(
        F.col("id").alias("pid"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("ts"))
    out = al.point_in_interval_join(pts, iv)
    plan = plan_str(out)
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    # the points side never shuffles
    assert count_exchanges(out) == 0, plan


# ------------------------------------------------- alert_cooldown
def _flagged(spark, rows):
    """rows: (key, sec_offset, flag)."""
    return spark.createDataFrame(
        [(k, 1700000000 + s, int(f)) for k, s, f in rows],
        "conv_id string, epoch long, flag int",
    ).select(
        "conv_id",
        F.timestamp_seconds(F.col("epoch")).alias("bucket_start"),
        "flag",
    )


def _notified(out):
    return sorted(
        (r["bucket_start"].timestamp() - 1700000000, r["notify"])
        for r in out.collect()
    )


def test_alert_cooldown_first_fires_then_suppresses(spark):
    # alerts every 60 s, cooldown 300 s: fire at 0, 300, 600
    df = _flagged(spark, [("a", i * 60, 1) for i in range(12)])
    got = _notified(al.alert_cooldown(df, "flag", cooldown_seconds=300))
    fired = [t for t, n in got if n == 1]
    assert fired == [0.0, 300.0, 600.0]
    assert len(got) == 12  # every flagged row returned


def test_alert_cooldown_anchor_moves_only_on_notify(spark):
    # 0 fires; 250/290 suppressed (anchor stays 0); 310 fires
    # (>= 0+300) and RESETS the anchor, so 580 (< 310+300) is
    # suppressed while 620 fires
    df = _flagged(spark, [("a", s, 1) for s in (0, 250, 290, 310,
                                                580, 620)])
    got = _notified(al.alert_cooldown(df, "flag", cooldown_seconds=300))
    assert got == [(0.0, 1), (250.0, 0), (290.0, 0), (310.0, 1),
                   (580.0, 0), (620.0, 1)]


def test_alert_cooldown_drops_unflagged_and_keys_independent(spark):
    df = _flagged(spark, [("a", 0, 1), ("a", 60, 0), ("a", 120, 1),
                          ("b", 120, 1)])
    rows = al.alert_cooldown(df, "flag", cooldown_seconds=300).collect()
    assert all(r["flag"] == 1 for r in rows)  # unflagged filtered out
    by_key = {(r["conv_id"],
               r["bucket_start"].timestamp() - 1700000000): r["notify"]
              for r in rows}
    # each key's FIRST alert fires regardless of the other key
    assert by_key == {("a", 0.0): 1, ("a", 120.0): 0, ("b", 120.0): 1}


def test_alert_cooldown_validation_and_single_exchange(spark):
    df = _flagged(spark, [("a", 0, 1)])
    with pytest.raises(ValueError, match="cooldown_seconds"):
        al.alert_cooldown(df, "flag", cooldown_seconds=0)
    out = al.alert_cooldown(df, "flag", cooldown_seconds=60)
    # one repartition exchange for the segmented scan, nothing else
    assert count_exchanges(out) == 1, plan_str(out)


def test_segmented_cooldown_matches_naive_walk():
    # property: position-major block scan ≡ per-segment python walk
    rng = __import__("numpy").random.default_rng(7)
    np = __import__("numpy")
    for _ in range(25):
        n_segs = int(rng.integers(1, 8))
        lens = rng.integers(1, 40, n_segs)
        starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
        n = int(lens.sum())
        # sorted within each segment, irregular spacing
        ts = np.concatenate([
            np.cumsum(rng.integers(1, 200, ln)) * 1_000_000
            for ln in lens
        ]).astype(np.int64)
        cd = int(rng.integers(1, 400)) * 1_000_000
        got = al.segmented_cooldown(ts, starts, cd)
        want = np.zeros(n, np.int32)
        for s, ln in zip(starts, lens):
            last = None
            for i in range(s, s + ln):
                fire = last is None or ts[i] >= last + cd
                want[i] = int(fire)
                if fire:
                    last = ts[i]
        assert (got == want).all()
    assert al.segmented_cooldown(
        np.empty(0, np.int64), np.empty(0, np.int64), 1).size == 0


# ------------------------------------------------------- interval_coverage
# day grid relative to the _iv epoch base: 1700000000 is 80000 s into
# its UTC day, so the next midnight is base + 6400
_MID = 6400


def test_interval_coverage_clips_at_midnight(spark):
    # one interval crossing midnight + a second, disjoint one the next
    # day: per-day clipped seconds and interval counts
    iv = _iv(spark, [("a", 0, _MID + 3600),
                     ("a", _MID + 7200, _MID + 7260)])
    rows = {r["bucket_start"]: r
            for r in al.interval_coverage(
                iv, start_col="s", end_col="e").collect()}
    assert len(rows) == 2
    day1, day2 = sorted(rows)
    r1, r2 = rows[day1], rows[day2]
    assert r1["n_intervals"] == 1
    assert r1["covered_s"] == pytest.approx(6400.0)
    assert r1["covered_share"] == pytest.approx(6400.0 / 86400, abs=1e-4)
    assert r2["n_intervals"] == 2
    assert r2["covered_s"] == pytest.approx(3660.0)
    assert r2["covered_share"] == pytest.approx(3660.0 / 86400, abs=1e-4)


def test_interval_coverage_full_middle_day(spark):
    # a span over three days covers the whole middle day (share 1.0)
    iv = _iv(spark, [("a", -3600, _MID + 86400 + 60)])
    rows = sorted(al.interval_coverage(
        iv, start_col="s", end_col="e").collect(),
        key=lambda r: r["bucket_start"])
    assert len(rows) == 3
    assert rows[1]["covered_s"] == pytest.approx(86400.0)
    assert rows[1]["covered_share"] == pytest.approx(1.0)
    assert rows[2]["covered_s"] == pytest.approx(60.0)


def test_interval_coverage_zero_length_dropped(spark):
    iv = _iv(spark, [("a", 100, 100)])
    assert al.interval_coverage(iv, start_col="s", end_col="e").count() == 0


def test_interval_coverage_single_exchange(spark):
    # explode is map-side; the only shuffle is the (key, bucket)
    # map-side-combined groupBy
    iv = _iv(spark, [("a", 0, 600), ("b", 0, 86400 * 2)])
    out = al.interval_coverage(iv, start_col="s", end_col="e")
    assert count_exchanges(out) == 1, plan_str(out)


def test_interval_coverage_validation(spark):
    iv = _iv(spark, [("a", 0, 600)])
    with pytest.raises(ValueError, match="bucket_seconds"):
        al.interval_coverage(iv, bucket_seconds=0,
                             start_col="s", end_col="e")


def test_interval_coverage_property_vs_per_second_count(spark):
    # random overlapping second-aligned intervals, merged first (the
    # documented precondition), 10 s buckets: covered_s per bucket
    # must equal brute-force per-second membership counting
    import numpy as np

    rng = np.random.default_rng(23)
    rows, truth = [], {}
    for key in ("k0", "k1", "k2"):
        ivs = []
        for _ in range(12):
            s = int(rng.integers(0, 300))
            e = s + int(rng.integers(0, 60))
            ivs.append((s, e))
            rows.append((key, s, e))
        covered = set()
        for s, e in ivs:
            covered.update(range(s, e))
        for sec in covered:
            b = (1700000000 + sec) - (1700000000 + sec) % 10
            truth[(key, b)] = truth.get((key, b), 0) + 1
    merged = al.merge_intervals(_iv(spark, rows), keys=("conv_id",),
                                start_col="s", end_col="e")
    got = {
        (r["conv_id"], int(r["bucket_start"].timestamp())): r["covered_s"]
        for r in al.interval_coverage(
            merged, bucket_seconds=10,
            start_col="interval_start", end_col="interval_end").collect()
    }
    assert got == {k: float(v) for k, v in truth.items()}


# ------------------------------------------------- fleet_incidents
def test_fleet_incidents_clusters_overlap_chains(spark):
    """A transitive overlap chain A∩B, B∩C lands in ONE incident even
    though A and C never overlap; a disjoint interval stays its own
    singleton incident with its own id."""
    from yahoo_anomaly_detection_spark.operators.alerting import (
        fleet_incidents,
    )
    rows = [
        # (iv_id, conv, start,            end,              dur)
        (1, "a", "2024-01-01 00:00:00", "2024-01-01 01:00:00", 3600),
        (2, "b", "2024-01-01 00:30:00", "2024-01-01 02:00:00", 5400),
        (3, "c", "2024-01-01 01:45:00", "2024-01-01 03:00:00", 4500),
        (9, "a", "2024-01-02 10:00:00", "2024-01-02 11:00:00", 3600),
    ]
    iv = spark.createDataFrame(
        rows, "iv_id long, conv_id string, interval_start string, "
              "interval_end string, duration_seconds long"
    ).select("iv_id", "conv_id",
             F.col("interval_start").cast("timestamp")
             .alias("interval_start"),
             F.col("interval_end").cast("timestamp")
             .alias("interval_end"), "duration_seconds")
    out = {r.incident_id: r for r in fleet_incidents(iv).collect()}
    assert set(out) == {1, 9}
    big = out[1]
    assert big.n_intervals == 3 and big.n_series == 3
    assert str(big.incident_start) == "2024-01-01 00:00:00"
    assert str(big.incident_end) == "2024-01-01 03:00:00"
    assert big.flagged_seconds == 3600 + 5400 + 4500
    assert out[9].n_intervals == 1 and out[9].n_series == 1


def test_fleet_incidents_half_open_touching_do_not_merge(spark):
    """[0,1h) and [1h,2h) touch but do not overlap — separate
    incidents (half-open semantics, same rule as the point joins)."""
    from yahoo_anomaly_detection_spark.operators.alerting import (
        fleet_incidents,
    )
    rows = [
        (1, "a", "2024-01-01 00:00:00", "2024-01-01 01:00:00", 3600),
        (2, "b", "2024-01-01 01:00:00", "2024-01-01 02:00:00", 3600),
    ]
    iv = spark.createDataFrame(
        rows, "iv_id long, conv_id string, interval_start string, "
              "interval_end string, duration_seconds long"
    ).select("iv_id", "conv_id",
             F.col("interval_start").cast("timestamp")
             .alias("interval_start"),
             F.col("interval_end").cast("timestamp")
             .alias("interval_end"), "duration_seconds")
    out = fleet_incidents(iv).collect()
    assert sorted(r.incident_id for r in out) == [1, 2]
    assert all(r.n_intervals == 1 for r in out)


def test_fleet_incidents_edge_join_is_bucketed_not_cartesian(spark):
    from yahoo_anomaly_detection_spark.operators.alerting import (
        fleet_incidents,
    )
    rows = [(i, "s%d" % (i % 7),
             "2024-01-01 %02d:00:00" % (i % 20),
             "2024-01-01 %02d:30:00" % (i % 20), 1800)
            for i in range(60)]
    iv = spark.createDataFrame(
        rows, "iv_id long, conv_id string, interval_start string, "
              "interval_end string, duration_seconds long"
    ).select("iv_id", "conv_id",
             F.col("interval_start").cast("timestamp")
             .alias("interval_start"),
             F.col("interval_end").cast("timestamp")
             .alias("interval_end"), "duration_seconds")
    out = fleet_incidents(iv)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
