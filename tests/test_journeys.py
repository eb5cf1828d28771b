"""User-journey flow analytics: semantics edge cases + plan audits.

Correctness vs the DuckDB oracle runs in scripts/check_oracle.py /
the driver gate; these tests pin the SEMANTIC corners (tie-breaks,
terminal rows, exact power-of-two bucketing) against hand-computed
expectations, and the shuffle structure the scale design depends on.
"""

import pytest
from pyspark.sql import functions as F

from conftest import count_exchanges, plan_str
from yahoo_anomaly_detection_spark.operators import journeys


def _events(spark, rows):
    """rows: (event_id, ts_str, user_id, event_type)."""
    return spark.createDataFrame(
        [(i, t, u, e, 0.0, "") for (i, t, u, e) in rows],
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).select("event_id", F.col("ts").cast("timestamp").alias("ts"),
             "user_id", "event_type", "value", "props")


@pytest.fixture(scope="module")
def seq(spark):
    # user 1: a -> a -> b -> a   (ts tie between id 2,3 broken by id)
    # user 2: b                  (single event: no transitions)
    return _events(spark, [
        (1, "2024-01-01 00:00:00", 1, "a"),
        (2, "2024-01-01 00:01:00", 1, "a"),
        (3, "2024-01-01 00:01:00", 1, "b"),
        (4, "2024-01-01 00:03:00", 1, "a"),
        (5, "2024-01-01 00:00:30", 2, "b"),
    ])


def test_transitions_counts_and_shares(spark, seq):
    got = {
        (r.from_type, r.to_type): (r.n_pairs, r.share)
        for r in journeys.event_transitions(seq).collect()
    }
    # pairs: (a,a), (a,b), (b,a) — the tie at 00:01:00 orders id 2
    # before id 3, and user 2 contributes nothing
    assert got == {
        ("a", "a"): (1, 0.5),
        ("a", "b"): (1, 0.5),
        ("b", "a"): (1, 1.0),
    }


def test_streaks_tie_resolves_to_earliest_run(spark, seq):
    # user 1 runs: aa (len 2), b (1), a (1) -> max 2 type a;
    # add user 3 with runs b,b then a,a — tie of 2 resolves to the
    # EARLIER run (type b)
    extra = _events(spark, [
        (10, "2024-01-01 01:00:00", 3, "b"),
        (11, "2024-01-01 01:01:00", 3, "b"),
        (12, "2024-01-01 01:02:00", 3, "a"),
        (13, "2024-01-01 01:03:00", 3, "a"),
    ])
    got = {
        r.user_id: (r.max_streak, r.streak_type)
        for r in journeys.type_streaks(seq.unionByName(extra)).collect()
    }
    assert got == {1: (2, "a"), 2: (1, "b"), 3: (2, "b")}


def test_depth_histogram_exact_power_of_two_boundaries(spark):
    # users with exactly 1, 2, 3, 4, 8 events: buckets 0,1,1,2,3 —
    # the n = 2^k boundary cases a float log2 could misbucket
    rows, eid = [], 0
    for u, n in [(1, 1), (2, 2), (3, 3), (4, 4), (5, 8)]:
        for k in range(n):
            rows.append((eid, f"2024-01-01 00:{k:02d}:00", u, "a"))
            eid += 1
    got = {
        r.depth_bucket: (r.lo, r.hi, r.n_users)
        for r in journeys.depth_histogram(_events(spark, rows)).collect()
    }
    assert got == {
        0: (1, 1, 1),
        1: (2, 3, 2),
        2: (4, 7, 1),
        3: (8, 15, 1),
    }


def test_next_gap_terminal_rows(spark, seq):
    got = {
        (r.event_type, str(r.day)[:10]): (
            r.n_events, r.mean_next_gap_s, r.n_terminal)
        for r in journeys.next_gap_1d(seq).collect()
    }
    # user 1 gaps: 60 (1->2), 0 (2->3 tie), 120 (3->4), then terminal;
    # user 2's single b is terminal -> its cell has NULL mean
    assert got[("a", "2024-01-01")] == (3, 30.0, 1)  # gaps 60, 0; id4 terminal
    assert got[("b", "2024-01-01")] == (2, 120.0, 1)
    assert got[("b", "2024-01-01")][1] == 120.0


def test_all_terminal_cell_has_null_mean(spark):
    ev = _events(spark, [(1, "2024-01-01 00:00:00", 1, "z")])
    row = journeys.next_gap_1d(ev).collect()[0]
    assert row.mean_next_gap_s is None and row.n_terminal == 1


# ---- plan audits ----

def test_streaks_single_user_exchange(spark, seq):
    """lag window, running-sum window, (user, run) groupBy and the
    per-user reduction all cluster on user_id — ONE exchange total."""
    df = journeys.type_streaks(seq)
    assert count_exchanges(df) == 1, plan_str(df)


def test_transitions_corpus_crosses_one_exchange(spark, seq):
    """The corpus flows through exactly one (user) exchange; the two
    later exchanges repartition the tiny (type x type) relation."""
    df = journeys.event_transitions(seq)
    plan = plan_str(df)
    assert count_exchanges(df) == 3, plan
    # exactly ONE exchange keys on user_id (the deepest one, fed by
    # the scan); the other two repartition post-aggregate relations
    import re
    ex = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert sum("user_id" in e for e in ex) == 1, plan


def test_next_gap_two_exchanges(spark, seq):
    """User-key window exchange + map-side-combined (type, day)
    rollup exchange — nothing more."""
    df = journeys.next_gap_1d(seq)
    assert count_exchanges(df) == 2, plan_str(df)
    assert "partial_" in plan_str(df).lower() or "partial" in plan_str(df), \
        plan_str(df)


def test_depth_histogram_two_mapside_combined_aggs(spark, seq):
    df = journeys.depth_histogram(seq)
    assert count_exchanges(df) == 2, plan_str(df)
