"""Catalog snapshots, TTL eviction, checkpoint resume, lineage."""

import os
from datetime import datetime

import pytest

from conftest import file_digests, jobs_started
from yahoo_anomaly_detection_spark.operators.checkpoint import (
    LINEAGE_TABLE,
    CheckpointedRun,
)
from yahoo_anomaly_detection_spark.operators.retention import (
    cutoff_for,
    evict_tier,
    vacuum_tier,
    verify_evicted,
    verify_survivors,
)
from yahoo_anomaly_detection_spark.sources.catalog import ParquetCatalog


@pytest.fixture()
def catalog(tmp_path):
    return ParquetCatalog(str(tmp_path / "warehouse"))


def _tier_df(spark, days):
    rows = [
        ("c1", datetime(2025, 1, d, h), float(d * 24 + h))
        for d in days
        for h in (0, 12)
    ]
    return spark.createDataFrame(rows, "conv_id string, bucket_start timestamp, mean double")


def test_snapshot_append_and_time_travel(spark, catalog):
    s1 = catalog.append(_tier_df(spark, [1]), "tier_1d")
    s2 = catalog.append(_tier_df(spark, [2]), "tier_1d")
    assert catalog.read(spark, "tier_1d", s1).count() == 2
    assert catalog.read(spark, "tier_1d", s2).count() == 4
    assert catalog.read(spark, "tier_1d").count() == 4
    assert catalog.current_snapshot_id("tier_1d") == s2


def test_ttl_eviction_and_verification(spark, catalog):
    catalog.append(_tier_df(spark, [1, 5, 10, 20]), "tier_1m")
    before = catalog.read(spark, "tier_1m")
    now = datetime(2025, 1, 21)
    retention = {"1m": 7 * 86400}
    cutoff = cutoff_for("1m", now, retention)
    evict_tier(catalog, spark, "tier_1m", "1m", now, retention)
    after = catalog.read(spark, "tier_1m")
    assert verify_evicted(after, cutoff) == 0
    assert verify_survivors(before, after, cutoff) == 0
    assert after.count() == 2  # cutoff 2025-01-14: only day 20 survives (2 rows)


def test_vacuum_reclaims_evicted_storage(spark, catalog, tmp_path):
    """evict + vacuum: dead pre-eviction dirs are physically removed,
    the live view is untouched, and the read plan collapses to one
    commit dir."""
    import os

    for days in ([1, 5], [10], [20]):
        catalog.append(_tier_df(spark, days), "tier_1m")
    now = datetime(2025, 1, 21)
    retention = {"1m": 7 * 86400}
    evict_tier(catalog, spark, "tier_1m", "1m", now, retention)
    tdir = tmp_path / "warehouse" / "tier_1m"
    n_dirs_before = sum(
        1 for n in os.listdir(tdir) if n.startswith("snap="))
    assert n_dirs_before >= 4  # 3 appends + eviction rewrite
    out = vacuum_tier(catalog, spark, "tier_1m", keep_last=1)
    assert out["removed_dirs"] >= 3
    assert len(catalog.snapshots("tier_1m")) == 1
    assert len(catalog.snapshots("tier_1m")[-1].paths) == 1  # compacted
    after = catalog.read(spark, "tier_1m")
    assert verify_evicted(after, cutoff_for("1m", now, retention)) == 0
    assert after.count() == 2  # day-20 rows survive


def test_checkpoint_resume_skips_done_units(spark, catalog):
    calls = []

    def work(day):
        def fn():
            calls.append(day)
            df = _tier_df(spark, [day])
            catalog.append(df, "tier_out")
            return df

        return fn

    run1 = CheckpointedRun(catalog, spark, "run-1")
    for d in (1, 2):
        run1.unit("rollup_1m", f"day={d}", work(d), input_snapshot="snap-a")
    assert calls == [1, 2]

    run2 = CheckpointedRun(catalog, spark, "run-1")  # resume same run
    for d in (1, 2, 3):
        run2.unit("rollup_1m", f"day={d}", work(d), input_snapshot="snap-a")
    assert calls == [1, 2, 3], "days 1-2 must be skipped on resume"
    assert run2.skipped == [("rollup_1m", "day=1"), ("rollup_1m", "day=2")]

    lineage = catalog.read(spark, LINEAGE_TABLE).toPandas()
    assert len(lineage) == 3
    assert set(lineage["stage"]) == {"rollup_1m"}
    assert (lineage["row_count"] == 2).all()
    assert (lineage["input_snapshot"] == "snap-a").all()


def test_eviction_prunes_untouched_dirs(spark, catalog):
    """TTL eviction must NOT rewrite data dirs with no expired rows:
    their files stay byte-identical (the shim's analog of Iceberg's
    metadata-only partition drop)."""
    catalog.append(_tier_df(spark, [1, 5]), "tier_1m")     # all expire
    s_new = catalog.append(_tier_df(spark, [20]), "tier_1m")  # all survive
    new_dir = catalog.snapshots("tier_1m")[-1].summary["added_path"]
    before_files = file_digests(new_dir)
    now = datetime(2025, 1, 21)
    retention = {"1m": 7 * 86400}
    evict_tier(catalog, spark, "tier_1m", "1m", now, retention)
    snap = catalog.snapshots("tier_1m")[-1]
    assert snap.summary["pruned_dirs"] == 1
    assert snap.summary["rewritten_dirs"] == 1
    assert new_dir in snap.paths, "surviving dir must carry over as-is"
    assert file_digests(new_dir) == before_files, "survivor dir rewritten"
    after = catalog.read(spark, "tier_1m")
    assert after.count() == 2  # only day-20 rows
    assert verify_evicted(after, cutoff_for("1m", now, retention)) == 0
    # second eviction with nothing to do: metadata-only commit, every
    # dir carries over
    paths_before = list(snap.paths)
    evict_tier(catalog, spark, "tier_1m", "1m", now, retention)
    snap2 = catalog.snapshots("tier_1m")[-1]
    assert snap2.summary["rewritten_dirs"] == 0
    assert sorted(snap2.paths) == sorted(paths_before)
    assert s_new  # time travel to pre-eviction still works
    assert catalog.read(spark, "tier_1m", s_new).count() == 6


def test_noop_partition_eviction_is_metadata_only(spark, catalog):
    """Nothing at or before the cutoff day: evict_tier(partition_col=)
    decides from the hive dir names alone — no job, no new snapshot —
    and vacuum's compaction of the one-dir view is a no-op too. A
    NULL-day row survives both this and a real eviction (its partition
    conjunct is NULL, never TRUE)."""
    from datetime import date

    rows = [("c1", datetime(2025, 1, d, 12), float(d), date(2025, 1, d))
            for d in (18, 20)]
    rows.append(("c2", datetime(2025, 1, 1), -1.0, None))
    sid = catalog.overwrite_table(
        spark.createDataFrame(
            rows, "conv_id string, bucket_start timestamp, mean double, "
                  "day date"),
        "tier_1m", partition_by=["day"])
    retention = {"1m": 7 * 86400}
    got, n_jobs = jobs_started(spark, lambda: evict_tier(
        catalog, spark, "tier_1m", "1m", datetime(2025, 1, 21), retention,
        partition_col="day"))  # cutoff 2025-01-14
    assert (got, n_jobs) == (sid, 0)
    assert len(catalog.snapshots("tier_1m")) == 1
    _, n_jobs = jobs_started(spark, lambda: vacuum_tier(
        catalog, spark, "tier_1m", keep_last=1))
    assert n_jobs == 0 and catalog.current_snapshot_id("tier_1m") == sid
    assert catalog.read(spark, "tier_1m").count() == 3

    # cutoff 2025-01-19: day 18 goes, the NULL-day row stays
    snap = evict_tier(catalog, spark, "tier_1m", "1m", datetime(2025, 1, 26),
                      retention, partition_col="day")
    assert snap != sid
    assert sorted(r.conv_id + str(r.day) for r in
                  catalog.read(spark, "tier_1m").collect()) == [
        "c12025-01-20", "c2None"]


def test_rollup_job_noop_eviction_skips_verification(spark, catalog):
    """rollup_job's verified eviction starts no Spark job for a no-op
    tier: the day dir names that show no day is on or before the
    cutoff also show no row is past the TTL. An eviction that commits
    is still verified: a planted TTL violator (an old bucket_start
    filed under a recent day, so the partition conjunct keeps it)
    raises."""
    from datetime import date

    from jobs import rollup_job

    def tier(rows):
        return spark.createDataFrame(
            rows, "conv_id string, bucket_start timestamp, mean double, "
                  "day date")

    rows = [("c1", datetime(2025, 1, d, 12), float(d), date(2025, 1, d))
            for d in (18, 20)]
    sid = catalog.overwrite_table(tier(rows), "tier_1m", partition_by=["day"])
    got, n_jobs = jobs_started(spark, lambda: rollup_job.evict_verified(
        catalog, spark, "1m", datetime(2025, 1, 21)))  # cutoff 2025-01-14
    assert (got, n_jobs) == (sid, 0)

    rows.append(("c9", datetime(2025, 1, 1), -1.0, date(2025, 1, 20)))
    sid = catalog.overwrite_table(tier(rows), "tier_1m")
    with pytest.raises(RuntimeError, match="1 rows past the TTL"):
        rollup_job.evict_verified(  # cutoff 2025-01-19: day 18 goes
            catalog, spark, "1m", datetime(2025, 1, 26))
    assert catalog.current_snapshot_id("tier_1m") != sid


def test_delete_where_creates_new_snapshot(spark, catalog):
    s1 = catalog.append(_tier_df(spark, [1, 2]), "t")
    s2 = catalog.delete_where(spark, "t", "bucket_start < TIMESTAMP '2025-01-02 00:00:00'")
    assert s1 != s2
    assert catalog.read(spark, "t", s1).count() == 4  # time travel sees old data
    assert catalog.read(spark, "t", s2).count() == 2


def _day_tier(spark, catalog, days):
    """A ``[day]``-partitioned tier of four rows per January day, with
    ``day = to_date(bucket_start)`` as the rollup job writes it."""
    from datetime import date

    rows = [("c1", datetime(2025, 1, d, h), float(d * 24 + h), date(2025, 1, d))
            for d in days for h in (0, 6, 12, 18)]
    return catalog.overwrite_table(
        spark.createDataFrame(
            rows, "conv_id string, bucket_start timestamp, mean double, "
                  "day date"),
        "tier_1m", partition_by=["day"])


def _data_files(root):
    return {p: d for p, d in file_digests(root).items()
            if os.path.basename(p).startswith("part-")}


def test_midnight_eviction_drops_whole_days_without_a_job(spark, catalog,
                                                          tmp_path):
    """A cutoff at midnight evicts whole day partitions only: the
    partition-only delete starts no Spark job and writes no file, the
    kept days' files stay the very files first written, and the view
    equals the row-level eviction."""
    _day_tier(spark, catalog, range(1, 11))
    tdir = tmp_path / "warehouse" / "tier_1m"
    before = _data_files(tdir)
    full = catalog.read(spark, "tier_1m").collect()
    now, retention = datetime(2025, 1, 12), {"1m": 7 * 86400}  # cutoff 01-05
    snap, n_jobs = jobs_started(spark, lambda: evict_tier(
        catalog, spark, "tier_1m", "1m", now, retention, partition_col="day"))
    assert n_jobs == 0
    assert _data_files(tdir) == before
    cur = catalog.snapshots("tier_1m")[-1]
    assert cur.snapshot_id == snap and cur.summary["dropped_leaves"] == 4
    assert cur.summary["rewritten_dirs"] == 0
    assert [os.path.basename(p) for p in cur.paths] == [
        f"day=2025-01-{d:02d}" for d in range(5, 11)]
    cutoff = cutoff_for("1m", now, retention)
    assert sorted(catalog.read(spark, "tier_1m").collect()) == sorted(
        r for r in full if r.bucket_start >= cutoff)


def test_boundary_eviction_rewrites_only_the_cutoff_day(spark, catalog,
                                                        tmp_path):
    """A cutoff inside a day drops the whole days before it and
    rewrites only the cutoff day's leaf: every other kept leaf's files
    are byte-identical, and the view equals the row-level eviction."""
    _day_tier(spark, catalog, range(1, 11))
    base = catalog.snapshots("tier_1m")[-1].paths[0]
    leaf = {d: os.path.join(base, f"day=2025-01-{d:02d}") for d in range(1, 11)}
    kept = {d: file_digests(leaf[d]) for d in range(6, 11)}
    full = catalog.read(spark, "tier_1m").collect()
    now, retention = datetime(2025, 1, 12, 9), {"1m": 7 * 86400}
    evict_tier(catalog, spark, "tier_1m", "1m", now, retention,
               partition_col="day")  # cutoff 2025-01-05 09:00
    cur = catalog.snapshots("tier_1m")[-1]
    assert cur.summary["rewritten_dirs"] == 1
    assert cur.paths[:-1] == [leaf[d] for d in range(6, 11)]
    assert [n for n in os.listdir(cur.paths[-1]) if n.startswith("day=")] \
        == ["day=2025-01-05"]
    assert {d: file_digests(leaf[d]) for d in range(6, 11)} == kept
    cutoff = cutoff_for("1m", now, retention)
    assert sorted(catalog.read(spark, "tier_1m").collect()) == sorted(
        r for r in full if r.bucket_start >= cutoff)


def test_day_replace_swaps_leaves_without_a_probe(spark, catalog, tmp_path):
    """replace_where(day IN ...) starts no job beyond writing the new
    rows: the replaced leaves leave the view by name, no dir is probed
    or rewritten, and the other days carry over as leaves."""
    from datetime import date

    _day_tier(spark, catalog, range(1, 6))
    base = catalog.snapshots("tier_1m")[-1].paths[0]
    new = spark.createDataFrame(
        [("c9", datetime(2025, 1, d, 3), -1.0, date(2025, 1, d))
         for d in (2, 4)],
        "conv_id string, bucket_start timestamp, mean double, day date")
    _, write_jobs = jobs_started(spark, lambda: new.write.partitionBy("day")
                                 .parquet(str(tmp_path / "scratch")))
    _, n_jobs = jobs_started(spark, lambda: catalog.replace_where(
        spark, new, "tier_1m", "day IN (DATE'2025-01-02', DATE'2025-01-04')"))
    assert n_jobs == write_jobs
    cur = catalog.snapshots("tier_1m")[-1]
    assert cur.summary["dropped_leaves"] == 2
    assert cur.summary["rewritten_dirs"] == 0
    assert cur.paths[:-1] == [os.path.join(base, f"day=2025-01-0{d}")
                              for d in (1, 3, 5)]
    got = sorted((r.conv_id, r.day.day) for r in
                 catalog.read(spark, "tier_1m").collect())
    assert got == sorted([("c1", d) for d in (1, 3, 5) for _ in range(4)]
                         + [("c9", 2), ("c9", 4)])
