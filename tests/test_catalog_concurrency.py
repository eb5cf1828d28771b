"""Catalog commit safety + run isolation.

Covers the hazards a shared multi-writer warehouse hits:
- delete_where / replace_where / merge_upsert raising on a concurrent
  commit instead of silently dropping its rows (Iceberg
  serializable-isolation validation), and an append raising when a
  concurrent commit changed the table's partition spec
- expire_snapshots never deleting an in-flight writer's data dir
  (GC targets only dirs the expired snapshots referenced);
  remove_orphan_files handling true orphans behind an age guard
- the commit mutex timing out loudly on a crashed lock holder
- the sticky table partition spec surviving TTL rewrites/compaction
- schema evolution across commits (old dirs null-fill new columns)
- vacuum verify: a row-count-changing compaction aborts BEFORE expiry
- checkpoint output-snapshot pinning: resumed runs read their OWN
  committed state, not another run's overwrites of the same tables
"""

import os

import pytest

from yahoo_anomaly_detection_spark.operators.checkpoint import (
    CHECKPOINT_TABLE,
    CheckpointedRun,
)
from yahoo_anomaly_detection_spark.operators import retention
from yahoo_anomaly_detection_spark.sources import catalog as catalog_mod
from yahoo_anomaly_detection_spark.sources.catalog import (
    CommitConflictError,
    ParquetCatalog,
)
from yahoo_anomaly_detection_spark.synthgen import gen_transcripts


@pytest.fixture()
def cat(tmp_path):
    return ParquetCatalog(str(tmp_path / "wh"))


def _df(spark, rows):
    return spark.createDataFrame(rows, "id int, day string, v double")


def _unreferenced_dirs(cat, table):
    """``snap=`` dirs on disk that no snapshot of ``table`` references."""
    referenced = {os.path.basename(p)
                  for s in cat.snapshots(table) for p in s.paths}
    return sorted(n for n in os.listdir(os.path.join(cat.root, table))
                  if n.startswith("snap=") and n not in referenced)


def test_delete_where_conflict_raises(spark, cat):
    """A commit landing between delete_where's probe and its manifest
    commit must raise CommitConflictError — the rewrite was computed
    against a stale view and committing it would silently drop the
    concurrent append's rows."""
    cat.append(_df(spark, [(1, "d1", 1.0), (2, "d2", 9.0)]), "t")
    orig = cat._write_data
    injected = []

    def inject(df, data_dir, pb):
        if not injected:  # concurrent append mid-delete, once
            injected.append(1)
            ParquetCatalog(cat.root).append(
                _df(spark, [(3, "d3", 3.0)]), "t")
        return orig(df, data_dir, pb)

    cat._write_data = inject
    with pytest.raises(CommitConflictError):
        cat.delete_where(spark, "t", "v > 5.0")
    assert _unreferenced_dirs(cat, "t") == []
    # nothing committed by the failed delete; both appends intact
    assert sorted(r.id for r in cat.read(spark, "t").collect()) == [1, 2, 3]
    # the retry (fresh probe against the new snapshot) succeeds
    cat._write_data = orig
    cat.delete_where(spark, "t", "v > 5.0")
    assert sorted(r.id for r in cat.read(spark, "t").collect()) == [1, 3]


def test_replace_where_conflict_raises(spark, cat):
    """A commit landing mid-replace_where raises CommitConflictError:
    the replace was computed against a stale view. Nothing commits,
    and the retry against the new snapshot also replaces the
    concurrent append's matching rows."""
    cat.append(_df(spark, [(1, "d1", 1.0), (2, "d2", 2.0)]), "t")
    orig = cat._write_data
    injected = []

    def inject(df, data_dir, pb):
        if not injected:  # concurrent append mid-replace, once
            injected.append(1)
            ParquetCatalog(cat.root).append(
                _df(spark, [(3, "d2", 3.0)]), "t")
        return orig(df, data_dir, pb)

    cat._write_data = inject
    with pytest.raises(CommitConflictError):
        cat.replace_where(spark, _df(spark, [(9, "d2", 9.0)]), "t",
                          "day = 'd2'")
    assert _unreferenced_dirs(cat, "t") == []
    assert [s.operation for s in cat.snapshots("t")] == ["append"] * 2
    assert sorted(r.id for r in cat.read(spark, "t").collect()) == [1, 2, 3]
    cat._write_data = orig
    cat.replace_where(spark, _df(spark, [(9, "d2", 9.0)]), "t", "day = 'd2'")
    assert sorted(r.id for r in cat.read(spark, "t").collect()) == [1, 9]


def test_append_conflicts_with_concurrent_spec_change(spark, cat):
    """An append whose table spec another commit changed mid-write
    raises CommitConflictError: its dir is laid out in the old spec,
    and the view's dirs must all follow the snapshot's spec. The retry
    writes in the new spec."""
    cat.append(_df(spark, [(1, "d1", 1.0)]), "t", partition_by=["day"])
    orig = cat._write_data
    injected = []

    def inject(df, data_dir, pb):
        out = orig(df, data_dir, pb)
        if not injected:  # concurrent re-layout after the append's write
            injected.append(1)
            ParquetCatalog(cat.root).compact(spark, "t", partition_by=["id"])
        return out

    cat._write_data = inject
    with pytest.raises(CommitConflictError):
        cat.append(_df(spark, [(2, "d2", 2.0)]), "t")
    assert _unreferenced_dirs(cat, "t") == []
    assert len(cat.snapshots("t")) == 2
    cat._write_data = orig
    cat.append(_df(spark, [(2, "d2", 2.0)]), "t")
    assert cat.partition_values("t", "id") == {"1", "2"}


def test_merge_upsert_prunes_untouched_dirs(spark, cat):
    """merge_upsert must NOT rewrite data dirs containing no matched
    keys: their files stay byte-identical, and the snapshot summary
    reports the prune/rewrite split."""
    import hashlib

    cat.append(_df(spark, [(1, "d1", 1.0)]), "t")
    d1 = cat.snapshots("t")[-1].summary["added_path"]
    cat.append(_df(spark, [(2, "d2", 2.0)]), "t")

    def digests(root):
        out = {}
        for dirpath, _, files in os.walk(root):
            for f in files:
                p = os.path.join(dirpath, f)
                with open(p, "rb") as fh:
                    out[p] = hashlib.sha256(fh.read()).hexdigest()
        return out

    before = digests(d1)
    cat.merge_upsert(spark, _df(spark, [(2, "d2", 20.0), (3, "d3", 3.0)]),
                     "t", key_cols=["id"])
    snap = cat.snapshots("t")[-1]
    assert snap.operation == "merge"
    assert snap.summary["pruned_dirs"] == 1
    assert snap.summary["rewritten_dirs"] == 1
    assert d1 in snap.paths, "untouched dir must carry over by reference"
    assert digests(d1) == before, "untouched dir was rewritten"
    got = sorted((r.id, r.v) for r in cat.read(spark, "t").collect())
    assert got == [(1, 1.0), (2, 20.0), (3, 3.0)]


def test_merge_upsert_validations(spark, cat):
    """Duplicate non-NULL source keys raise up front (Iceberg's
    'multiple source rows matched'); multiple NULL-key source rows are
    fine (all inserts); a source schema mismatch raises; and nothing
    commits on a failed validation."""
    cat.append(_df(spark, [(1, "d1", 1.0)]), "t")
    n0 = len(cat.snapshots("t"))
    with pytest.raises(ValueError, match="duplicate"):
        cat.merge_upsert(spark, _df(spark, [(2, "a", 1.0), (2, "b", 2.0)]),
                         "t", key_cols=["id"])
    with pytest.raises(ValueError, match="schema-evolution"):
        cat.merge_upsert(
            spark,
            spark.createDataFrame([(1, "d1")], "id int, day string"),
            "t", key_cols=["id"])
    with pytest.raises(ValueError, match="key column"):
        cat.merge_upsert(spark, _df(spark, [(2, "a", 1.0)]), "t",
                         key_cols=["nope"])
    assert len(cat.snapshots("t")) == n0, "failed merge committed"
    # two NULL-key rows share no key — both insert
    cat.merge_upsert(spark, _df(spark, [(None, "x", 1.0),
                                        (None, "y", 2.0)]),
                     "t", key_cols=["id"])
    assert cat.read(spark, "t").count() == 3


def test_merge_upsert_conflict_raises(spark, cat):
    """A commit landing between merge_upsert's probe and its manifest
    commit raises CommitConflictError — committing the stale rewrite
    would silently drop the concurrent append's rows. The merge also
    breaks read_appended's incremental chain (non-append operation)."""
    cat.append(_df(spark, [(1, "d1", 1.0)]), "t")
    s1 = cat.current_snapshot_id("t")
    orig = cat._write_data
    injected = []

    def inject(df, data_dir, pb):
        out = orig(df, data_dir, pb)
        if not injected:  # concurrent append after the source lands
            injected.append(1)
            ParquetCatalog(cat.root).append(
                _df(spark, [(5, "d5", 5.0)]), "t")
        return out

    cat._write_data = inject
    with pytest.raises(CommitConflictError):
        cat.merge_upsert(spark, _df(spark, [(1, "d1", 10.0)]), "t",
                         key_cols=["id"])
    assert _unreferenced_dirs(cat, "t") == []
    assert sorted(r.id for r in cat.read(spark, "t").collect()) == [1, 5]
    cat._write_data = orig
    cat.merge_upsert(spark, _df(spark, [(1, "d1", 10.0)]), "t",
                     key_cols=["id"])
    got = sorted((r.id, r.v) for r in cat.read(spark, "t").collect())
    assert got == [(1, 10.0), (5, 5.0)]
    with pytest.raises(ValueError, match="not appends"):
        cat.read_appended(spark, "t", s1)


def test_expire_spares_inflight_dirs_orphans_age_gated(spark, cat):
    """expire_snapshots deletes ONLY dirs expired snapshots referenced
    — a concurrent writer's data dir (on disk, not yet committed)
    survives. remove_orphan_files reclaims it later, but only past the
    age guard."""
    cat.append(_df(spark, [(1, "d1", 1.0)]), "t")
    cat.overwrite_table(_df(spark, [(2, "d2", 2.0)]), "t")
    # an in-flight writer's dir: exists on disk, in no manifest
    inflight = os.path.join(cat.root, "t", "snap=inflight")
    os.makedirs(inflight)
    with open(os.path.join(inflight, "part-0.parquet"), "w") as f:
        f.write("pending")
    out = cat.expire_snapshots("t", keep_last=1)
    assert out["expired_snapshots"] == 1
    assert out["removed_dirs"] == 1  # the first append's dir only
    assert os.path.exists(inflight), "GC destroyed an in-flight commit"
    # age guard: young orphans survive, old ones go
    assert cat.remove_orphan_files("t")["removed_dirs"] == 0
    assert os.path.exists(inflight)
    assert cat.remove_orphan_files("t", older_than_s=0)["removed_dirs"] == 1
    assert not os.path.exists(inflight)
    assert cat.read(spark, "t").count() == 1  # live view untouched


def test_lock_timeout_is_loud(spark, cat, monkeypatch):
    """A crashed writer's leftover lock file surfaces as TimeoutError,
    never a silent lost update."""
    cat.append(_df(spark, [(1, "d1", 1.0)]), "t")
    monkeypatch.setattr(catalog_mod, "_LOCK_TIMEOUT_S", 0.2)
    lock = os.path.join(cat.root, "t", "_manifest.lock")
    with open(lock, "w") as f:
        f.write("dead-pid")
    with pytest.raises(TimeoutError, match="manifest lock"):
        cat.append(_df(spark, [(2, "d2", 2.0)]), "t")
    os.unlink(lock)
    cat.append(_df(spark, [(2, "d2", 2.0)]), "t")  # recovers
    assert cat.read(spark, "t").count() == 2


def _hive_dirs(data_dir):
    return sorted(n for n in os.listdir(data_dir) if n.startswith("day="))


def test_partition_spec_sticky_through_rewrites(spark, cat):
    """A table written partitioned stays partitioned through
    delete_where and compact even when the caller passes no
    partition_by — TTL pruning depends on the hive layout. Under the
    one-column spec the delete rewrites only the d2 leaf, which keeps
    no row, so the view is the d1 leaf of the first commit; compaction
    rewrites only a day that two paths hold."""
    cat.append(_df(spark, [(1, "d1", 1.0), (2, "d2", 9.0)]), "t",
               partition_by=["day"])
    first = cat.snapshots("t")[-1].summary["added_path"]
    cat.delete_where(spark, "t", "v > 5.0")  # no partition_by arg
    assert cat.snapshots("t")[-1].paths == [os.path.join(first, "day=d1")]
    cat.append(_df(spark, [(3, "d3", 3.0)]), "t")  # inherits spec too
    d3 = cat.snapshots("t")[-1].summary["added_path"]
    assert _hive_dirs(d3) == ["day=d3"]
    sid = cat.current_snapshot_id("t")
    assert cat.compact(spark, "t") == sid  # each day in one path
    assert sorted(r.id for r in cat.read(spark, "t").collect()) == [1, 3]
    cat.append(_df(spark, [(4, "d1", 4.0)]), "t")
    cat.compact(spark, "t")  # no partition_by arg
    paths = cat.snapshots("t")[-1].paths
    assert paths[0] == d3 and len(paths) == 2
    assert _hive_dirs(paths[1]) == ["day=d1"]
    assert sorted(r.id for r in cat.read(spark, "t").collect()) == [1, 3, 4]


def test_read_schema_evolution_null_fills(spark, cat):
    """Columns added by later commits read as NULL from older dirs
    (Iceberg schema evolution), so e.g. the checkpoint table can gain
    columns without stranding old warehouses — and time travel reads
    each snapshot under ITS OWN recorded schema."""
    s1 = cat.append(_df(spark, [(1, "d1", 1.0)]), "t")
    cat.append(
        spark.createDataFrame([(2, "d2", 2.0, "x")],
                              "id int, day string, v double, extra string"),
        "t",
    )
    got = {r.id: r.extra for r in cat.read(spark, "t").collect()}
    assert got == {1: None, 2: "x"}
    assert "extra" not in cat.read(spark, "t", s1).columns


def test_empty_partitioned_commit_readable(spark, cat):
    """Schema lives in snapshot metadata (Iceberg-style): a zero-row
    commit to a hive-partitioned table — which writes NO parquet
    footers at all — stays readable with the full schema, for time
    travel and later appends alike."""
    empty = spark.createDataFrame(
        [], "conv_id string, bucket_start timestamp, cnt long, day date")
    s1 = cat.overwrite_table(empty, "t", partition_by=["day"])
    got = cat.read(spark, "t", s1)
    assert got.count() == 0
    assert got.columns == ["conv_id", "bucket_start", "cnt", "day"]
    # the sticky spec + metadata schema survive a follow-up append
    from datetime import date, datetime
    cat.append(
        spark.createDataFrame(
            [("c1", datetime(2025, 1, 1, 0, 0), 3, date(2025, 1, 1))],
            "conv_id string, bucket_start timestamp, cnt long, day date"),
        "t",
    )
    assert cat.read(spark, "t").count() == 1
    assert _hive_dirs(cat.snapshots("t")[-1].summary["added_path"]) \
        == ["day=2025-01-01"]


def test_vacuum_verify_aborts_before_expiry(spark, cat, monkeypatch):
    """If compaction changes the row count, vacuum_tier raises BEFORE
    expire_snapshots — every pre-compaction snapshot must still be
    time-travelable for rollback."""
    s1 = cat.append(_df(spark, [(1, "d1", 1.0), (2, "d2", 2.0)]), "t")

    def bad_compact(spark_, table, partition_by=None):
        return cat.overwrite_table(
            cat.read(spark_, table).limit(1), table)

    monkeypatch.setattr(cat, "compact", bad_compact)
    with pytest.raises(RuntimeError, match="changed the row count"):
        retention.vacuum_tier(cat, spark, "t", keep_last=1)
    # nothing expired: the original commit is still readable
    assert cat.read(spark, "t", s1).count() == 2


def test_checkpoint_output_snapshot_pinning(spark, cat):
    """unit() records the output snapshot; a later session's
    CheckpointedRun returns it, and legacy rows (written before the
    column existed) surface as None instead of crashing."""
    run = CheckpointedRun(cat, spark, "rA")

    def work():
        df = _df(spark, [(1, "d1", 1.0)])
        snap = cat.overwrite_table(df, "out")
        return df, snap

    assert run.unit("s1", "all", work)
    pinned = run.output_snapshot("s1")
    assert pinned == cat.current_snapshot_id("out")
    # another run overwrites the table; the pin still resolves to rA's
    cat.overwrite_table(_df(spark, [(9, "d9", 9.0)]), "out")
    assert [r.id for r in cat.read(spark, "out", pinned).collect()] == [1]
    # fresh session resumes with the pin intact
    run2 = CheckpointedRun(cat, spark, "rA")
    assert run2.output_snapshot("s1") == pinned
    assert not run2.unit("s1", "all", work)  # skipped
    # legacy mark row without output_snapshot: None, no crash
    legacy = spark.createDataFrame(
        [("rB", "s1", "all", "done", None)],
        "run_id string, stage string, partition_key string, "
        "status string, input_snapshot string",
    )
    cat.append(legacy, CHECKPOINT_TABLE)
    run3 = CheckpointedRun(cat, spark, "rB")
    assert run3.output_snapshot("s1") is None
    assert not run3.unit("s1", "all", work)  # still counts as done


def test_stream_window_stats_numerically_stable():
    """The streaming rolling-stats kernel must match per-window
    np.mean/np.std (population) even for large-magnitude values with
    tiny spread — the raw E[x²]−mean² formulation loses every
    significant digit there, while the batch operator it claims
    parity with (F.stddev_pop) is centrally stable."""
    import numpy as np

    from yahoo_anomaly_detection_spark.streaming.flags_stream import (
        _window_stats,
    )

    rng = np.random.default_rng(7)
    k = 10
    for scale, spread in ((0.0, 1.0), (1e8, 1e-3), (-5e7, 1e-2)):
        vals = scale + rng.normal(0.0, spread, 60)
        vals[7] = np.nan  # NaNs occupy positions, skipped in stats
        for h in (0, 13):  # fresh conversation and mid-stream batch
            mean, std = _window_stats(vals, h, k)
            for i, j in enumerate(range(h, len(vals))):
                w = vals[max(0, j - k):j]
                w = w[~np.isnan(w)]
                if len(w) == 0:
                    assert np.isnan(mean[i]) and np.isnan(std[i])
                    continue
                assert mean[i] == pytest.approx(w.mean(), abs=1e-9,
                                                rel=1e-12)
                assert std[i] == pytest.approx(w.std(), abs=1e-9,
                                               rel=1e-6), (scale, j)


def test_rollup_job_resume_isolated_from_other_runs(spark, tmp_path):
    """Two run-ids share one warehouse. Resuming run A after run B
    overwrote the tier tables must report A's own committed state
    (time travel via the checkpoint pin), not B's."""
    from jobs import rollup_job

    src_a = str(tmp_path / "ta")
    src_b = str(tmp_path / "tb")
    gen_transcripts(spark, n_convs=20, partitions=4).write.parquet(src_a)
    gen_transcripts(spark, n_convs=6, partitions=4).write.parquet(src_b)
    wh = str(tmp_path / "wh")
    base = ["--catalog-root", wh, "--tiers", "1m,1h"]
    m_a = rollup_job.main(["--input", src_a, "--run-id", "a"] + base)
    m_b = rollup_job.main(["--input", src_b, "--run-id", "b"] + base)
    assert m_b["n_turns"] < m_a["n_turns"]  # B really overwrote
    m_a2 = rollup_job.main(["--input", src_a, "--run-id", "a"] + base)
    assert m_a2["skipped_units"] == 2
    assert m_a2["n_turns"] == m_a["n_turns"]
    for k in ("tier_1m_rows", "tier_1h_rows"):
        assert m_a2["stages"][k] == m_a["stages"][k], k


def test_rollup_job_empty_input(spark, tmp_path):
    """Zero-row input: the job completes and reports n_turns=0 with
    the full metrics line, instead of crashing on int(None)."""
    from jobs import rollup_job

    src = str(tmp_path / "empty")
    gen_transcripts(spark, n_convs=2, partitions=2).limit(0) \
        .write.parquet(src)
    m = rollup_job.main(["--input", src, "--catalog-root",
                         str(tmp_path / "wh"), "--tiers", "1m"])
    assert m["n_turns"] == 0
    assert m["stages"]["tier_1m_rows"] == 0


def test_curation_job_resume_isolated_from_other_runs(spark, tmp_path):
    """Same isolation property for the curation DAG: run A's resume
    reads A's pinned stage snapshots even after run B (different
    parameters) overwrote every stage table."""
    from jobs import curation_job

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src = str(tmp_path / "docs")
    docs.limit(120).write.parquet(src)
    wh = str(tmp_path / "wh")
    base = ["--input", src, "--catalog-root", wh]
    m_a = curation_job.main(base + ["--run-id", "a"])
    m_b = curation_job.main(base + ["--run-id", "b",
                                    "--min-quality", "0.95",
                                    "--rates", "0.01,0.01,0.01"])
    assert (m_b["stages"]["curated_ids_rows"]
            != m_a["stages"]["curated_ids_rows"])
    m_a2 = curation_job.main(base + ["--run-id", "a"])
    assert m_a2["skipped_units"] == 5
    for k, v in m_a["stages"].items():
        if k.endswith("_rows"):
            assert m_a2["stages"][k] == v, k
