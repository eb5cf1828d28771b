"""Shared contract suite for the catalog interface.

Every semantic the engine relies on (append commits, full overwrite,
time travel, ANSI/Iceberg DELETE NULL-retention, existence) is
asserted through the INTERFACE only, parameterized over the available
implementations: ``ParquetCatalog`` (always) and ``IcebergCatalog``
(whenever the Iceberg Spark runtime jar is on the classpath — absent
in this sandbox, so those rows skip with a reason). The interface-
parity test runs regardless of the jar, pinning the adapter to the
shim's exact public surface so it cannot drift while unexercised.
"""

import inspect
import os
from datetime import date, timedelta

import pytest

from conftest import file_digests, jobs_started
from yahoo_anomaly_detection_spark.sources.catalog import ParquetCatalog
from yahoo_anomaly_detection_spark.sources.iceberg import (
    IcebergCatalog,
    IcebergUnavailableError,
    iceberg_available,
)

CONTRACT_METHODS = ["append", "overwrite_table", "delete_where", "read",
                    "snapshots", "current_snapshot_id", "exists",
                    "expire_snapshots", "compact", "remove_orphan_files",
                    "replace_where", "read_appended", "merge_upsert",
                    "partition_values"]


def test_adapter_interface_matches_shim():
    """IcebergCatalog exposes the shim's exact public call surface.

    Runs without the Iceberg jar: signature drift in the adapter must
    fail CI in this sandbox, not on the first cluster deploy.
    """
    for name in CONTRACT_METHODS:
        shim = inspect.signature(getattr(ParquetCatalog, name))
        adap = inspect.signature(getattr(IcebergCatalog, name))
        assert list(shim.parameters) == list(adap.parameters), name
        for p in shim.parameters.values():
            assert adap.parameters[p.name].default == p.default, (name, p.name)


def test_adapter_refuses_without_runtime(spark):
    """Constructing the adapter without the jar raises the clear error
    (and the availability probe agrees), instead of failing later
    inside a write."""
    if iceberg_available(spark):
        pytest.skip("Iceberg runtime present; refusal path not reachable")
    with pytest.raises(IcebergUnavailableError):
        IcebergCatalog(spark)


@pytest.fixture(params=["parquet", "iceberg"])
def catalog(request, spark, tmp_path):
    if request.param == "parquet":
        return ParquetCatalog(str(tmp_path / "warehouse"))
    if not iceberg_available(spark):
        pytest.skip("Iceberg Spark runtime jar not on classpath")
    return IcebergCatalog(spark, catalog="local",
                          namespace=f"t{tmp_path.name.lower()}")


def _df(spark, rows):
    return spark.createDataFrame(rows, "id int, day string, v double")


def test_contract_append_and_read(spark, catalog):
    catalog.append(_df(spark, [(1, "d1", 1.0)]), "t1", partition_by=["day"])
    catalog.append(_df(spark, [(2, "d2", 2.0)]), "t1", partition_by=["day"])
    got = sorted(r.id for r in catalog.read(spark, "t1").collect())
    assert got == [1, 2]
    assert catalog.exists("t1") and not catalog.exists("nope")


def test_contract_time_travel(spark, catalog):
    catalog.append(_df(spark, [(1, "d1", 1.0)]), "t2")
    sid = catalog.current_snapshot_id("t2")
    catalog.append(_df(spark, [(2, "d2", 2.0)]), "t2")
    assert catalog.read(spark, "t2").count() == 2
    old = catalog.read(spark, "t2", snapshot_id=sid)
    assert [r.id for r in old.collect()] == [1]


def test_contract_overwrite(spark, catalog):
    catalog.append(_df(spark, [(1, "d1", 1.0)]), "t3")
    catalog.overwrite_table(_df(spark, [(9, "d9", 9.0)]), "t3")
    assert [r.id for r in catalog.read(spark, "t3").collect()] == [9]


def test_contract_delete_retains_null_predicate_rows(spark, catalog):
    """ANSI / Iceberg DELETE: only predicate=TRUE rows go; NULL rows
    stay — regardless of which physical file a row lives in (two
    separate append commits force two dirs in the shim)."""
    catalog.append(_df(spark, [(1, "d1", 1.0), (2, "d1", None)]), "t4")
    catalog.append(_df(spark, [(3, "d2", 30.0), (4, "d2", None)]), "t4")
    catalog.delete_where(spark, "t4", "v > 5.0")
    got = sorted(r.id for r in catalog.read(spark, "t4").collect())
    assert got == [1, 2, 4]  # 3 deleted; NULL-v rows 2 and 4 retained


def test_contract_expire_snapshots(spark, catalog):
    """expire keeps the newest N snapshots, GCs dead storage, and
    time travel to an expired id fails loudly (Iceberg maintenance
    semantics)."""
    for i in range(3):
        catalog.append(_df(spark, [(i, f"d{i}", float(i))]), "t6",
                       partition_by=["day"])
    old_sid = catalog.snapshots("t6")[0].snapshot_id
    catalog.expire_snapshots("t6", keep_last=1)
    got = sorted(r.id for r in catalog.read(spark, "t6").collect())
    assert got == [0, 1, 2]  # current view untouched
    assert len(catalog.snapshots("t6")) == 1
    with pytest.raises(Exception):
        catalog.read(spark, "t6", snapshot_id=old_sid).collect()
    with pytest.raises(ValueError):
        catalog.expire_snapshots("t6", keep_last=0)


def test_expire_snapshots_gcs_dead_dirs(spark, tmp_path):
    """Shim-specific physical check: unreferenced snap= dirs are
    removed from disk, referenced ones survive."""
    import os
    cat = ParquetCatalog(str(tmp_path / "wh"))
    for i in range(3):
        cat.append(_df(spark, [(i, f"d{i}", float(i))]), "t")
    tdir = tmp_path / "wh" / "t"
    assert sum(1 for n in os.listdir(tdir) if n.startswith("snap=")) == 3
    out = cat.expire_snapshots("t", keep_last=1)
    assert out["expired_snapshots"] == 2
    assert out["removed_dirs"] == 0  # last append references all 3 dirs
    # compact first, then expire: now only the compacted dir is live
    cat.compact(spark, "t")
    out = cat.expire_snapshots("t", keep_last=1)
    assert out["removed_dirs"] == 3
    assert sum(1 for n in os.listdir(tdir) if n.startswith("snap=")) == 1
    assert cat.read(spark, "t").count() == 3


def test_contract_compact_collapses_commits(spark, catalog):
    """compact rewrites the current view into one commit; reads are
    value-identical and (shim) the snapshot's path list collapses."""
    for i in range(4):
        catalog.append(_df(spark, [(i, f"d{i % 2}", float(i))]), "t7",
                       partition_by=["day"])
    before = sorted((r.id, r.day, r.v)
                    for r in catalog.read(spark, "t7").collect())
    catalog.compact(spark, "t7", partition_by=["day"])
    after = sorted((r.id, r.day, r.v)
                   for r in catalog.read(spark, "t7").collect())
    assert after == before
    if isinstance(catalog, ParquetCatalog):
        assert len(catalog.snapshots("t7")[-1].paths) == 1


def test_read_of_many_partitions_starts_no_job(spark, tmp_path):
    """Partition discovery of a commit dir with more day= subdirs than
    Spark's default parallel-listing threshold (32) runs on the driver:
    building the read starts no Spark job."""
    cat = ParquetCatalog(str(tmp_path / "wh"))
    rows = [(i, date(2025, 1, 1) + timedelta(days=i), float(i))
            for i in range(40)]
    cat.overwrite_table(
        spark.createDataFrame(rows, "id int, day date, v double"), "t",
        partition_by=["day"])
    df, n_jobs = jobs_started(spark, lambda: cat.read(spark, "t"))
    assert n_jobs == 0
    assert sorted(r.id for r in df.collect()) == list(range(40))


def test_compact_of_one_dir_view_is_noop(spark, tmp_path):
    """A view that already is one dir in the table's spec compacts to
    itself: same snapshot id, no job, no commit, files byte-identical.
    A new partition_by still rewrites. Only whole-view writes change
    the spec: an append cannot, and a delete keeps it."""
    cat = ParquetCatalog(str(tmp_path / "wh"))
    sid = cat.overwrite_table(
        _df(spark, [(1, "d1", 1.0), (2, "d2", 2.0)]), "t",
        partition_by=["day"])
    before = file_digests(tmp_path / "wh" / "t")
    got, n_jobs = jobs_started(spark, lambda: cat.compact(spark, "t"))
    assert (got, n_jobs) == (sid, 0)
    assert cat.compact(spark, "t", partition_by=["day"]) == sid
    assert len(cat.snapshots("t")) == 1
    assert file_digests(tmp_path / "wh" / "t") == before

    s2 = cat.compact(spark, "t", partition_by=["id"])
    assert s2 != sid and len(cat.snapshots("t")) == 2
    assert sorted(n for n in os.listdir(cat.snapshots("t")[-1].paths[0])
                  if "=" in n) == ["id=1", "id=2"]
    assert sorted(r.id for r in cat.read(spark, "t").collect()) == [1, 2]

    # an append with another spec raises and commits nothing
    tdir = tmp_path / "wh" / "t"
    dirs = sorted(os.listdir(tdir))
    with pytest.raises(ValueError, match="spec"):
        cat.append(_df(spark, [(3, "d3", 3.0)]), "t", partition_by=["day"])
    assert len(cat.snapshots("t")) == 2 and sorted(os.listdir(tdir)) == dirs

    # a delete that matches nothing keeps the spec and the files
    live = cat.snapshots("t")[-1].paths
    before = file_digests(live[0])
    cat.delete_where(spark, "t", "id < 0")
    snap = cat.snapshots("t")[-1]
    assert snap.paths == live and snap.summary["partition_by"] == ["id"]
    assert file_digests(live[0]) == before

    cat.overwrite_table(_df(spark, [(3, "d3", 3.0)]), "f")
    assert cat.partition_values("f", "day") is None


def test_contract_replace_where(spark, catalog):
    """Dynamic predicate overwrite: rows matching the predicate are
    replaced by the new frame in ONE commit; non-matching rows —
    including NULL-predicate rows — carry over untouched."""
    catalog.append(_df(spark, [(1, "d1", 1.0), (2, "d2", 2.0)]), "t8",
                   partition_by=["day"])
    catalog.append(_df(spark, [(3, "d2", 3.0), (4, None, 4.0)]), "t8")
    n0 = len(catalog.snapshots("t8"))
    catalog.replace_where(spark, _df(spark, [(9, "d2", 9.0)]), "t8",
                          "day = 'd2'")
    got = sorted((r.id, r.day) for r in catalog.read(spark, "t8").collect())
    # 2 and 3 replaced by 9; NULL-day row 4 retained; d1 untouched
    assert got == [(1, "d1"), (4, None), (9, "d2")]
    assert len(catalog.snapshots("t8")) == n0 + 1  # atomic: ONE commit
    with pytest.raises(FileNotFoundError):
        catalog.replace_where(spark, _df(spark, [(1, "d", 1.0)]),
                              "never_created", "day = 'd'")


def test_contract_merge_upsert(spark, catalog):
    """Keyed upsert (MERGE INTO ... UPDATE SET * / INSERT *): matched
    target rows take the source's values, unmatched source rows
    insert, everything else carries over — in ONE atomic commit, with
    time travel to the pre-merge view intact."""
    catalog.append(_df(spark, [(1, "d1", 1.0), (2, "d2", 2.0)]), "t10",
                   partition_by=["day"])
    pre = catalog.current_snapshot_id("t10")
    n0 = len(catalog.snapshots("t10"))
    catalog.merge_upsert(spark, _df(spark, [(2, "d2", 20.0),
                                            (3, "d3", 3.0)]),
                         "t10", key_cols=["id"])
    got = sorted((r.id, r.v) for r in catalog.read(spark, "t10").collect())
    assert got == [(1, 1.0), (2, 20.0), (3, 3.0)]
    assert len(catalog.snapshots("t10")) == n0 + 1  # atomic: ONE commit
    old = sorted((r.id, r.v)
                 for r in catalog.read(spark, "t10", pre).collect())
    assert old == [(1, 1.0), (2, 2.0)]
    with pytest.raises(FileNotFoundError):
        catalog.merge_upsert(spark, _df(spark, [(1, "d", 1.0)]),
                             "never_created", key_cols=["id"])


def test_contract_merge_upsert_null_keys_never_match(spark, catalog):
    """ON t.k = s.k is plain equality: a NULL-key source row is an
    insert, a NULL-key target row always survives (SQL MERGE)."""
    catalog.append(_df(spark, [(None, "d0", 0.5), (1, "d1", 1.0)]), "t11")
    catalog.merge_upsert(spark, _df(spark, [(None, "dX", 7.0),
                                            (1, "d1", 10.0)]),
                         "t11", key_cols=["id"])
    got = sorted((r.id, r.day, r.v)
                 for r in catalog.read(spark, "t11").collect()
                 if r.id is not None)
    assert got == [(1, "d1", 10.0)]
    nulls = sorted(r.day for r in catalog.read(spark, "t11").collect()
                   if r.id is None)
    assert nulls == ["d0", "dX"]  # both NULL-key rows present


def test_contract_read_appended(spark, catalog):
    """Incremental scan: rows appended in (since, until]; since=None
    reads the full view; a non-append snapshot in the range raises."""
    catalog.append(_df(spark, [(1, "d1", 1.0)]), "t9")
    s1 = catalog.current_snapshot_id("t9")
    catalog.append(_df(spark, [(2, "d2", 2.0)]), "t9")
    s2 = catalog.current_snapshot_id("t9")
    catalog.append(_df(spark, [(3, "d3", 3.0)]), "t9")

    inc = catalog.read_appended(spark, "t9", s1)
    assert sorted(r.id for r in inc.collect()) == [2, 3]
    window = catalog.read_appended(spark, "t9", s1, until_snapshot_id=s2)
    assert [r.id for r in window.collect()] == [2]
    assert catalog.read_appended(spark, "t9", s2, s2).count() == 0
    full = catalog.read_appended(spark, "t9", None)
    assert sorted(r.id for r in full.collect()) == [1, 2, 3]

    catalog.delete_where(spark, "t9", "id = 1")
    with pytest.raises(Exception):
        # overwrite/delete in the range: "rows added since" undefined
        catalog.read_appended(spark, "t9", s1).collect()


def test_contract_snapshot_log_grows(spark, catalog):
    catalog.append(_df(spark, [(1, "d1", 1.0)]), "t5")
    n0 = len(catalog.snapshots("t5"))
    catalog.append(_df(spark, [(2, "d2", 2.0)]), "t5")
    snaps = catalog.snapshots("t5")
    assert len(snaps) == n0 + 1
    assert snaps[-1].parent_id == snaps[-2].snapshot_id
    assert catalog.current_snapshot_id("t5") == snaps[-1].snapshot_id


def _evicted_day_table(spark, cat):
    """A ``[day]`` table of days 1-6 in one commit, then a whole-day
    delete of days 1-3: returns (first snapshot id, commit dir)."""
    rows = [(d, date(2025, 1, d), float(d)) for d in range(1, 7)]
    sid = cat.overwrite_table(
        spark.createDataFrame(rows, "id int, day date, v double"), "t",
        partition_by=["day"])
    commit = cat.snapshots("t")[-1].paths[0]
    cat.delete_where(spark, "t", "day < DATE '2025-01-04'")
    return sid, commit


def _leaf_names(commit):
    return sorted(n for n in os.listdir(commit) if n.startswith("day="))


def test_expire_removes_exactly_the_dropped_leaves(spark, tmp_path):
    """After a whole-day delete the view names leaves of the first
    commit dir. Expiring the first snapshot removes exactly the dropped
    leaves: the commit dir holds live leaves, so it stays, and the
    kept leaves' files are untouched."""
    cat = ParquetCatalog(str(tmp_path / "wh"))
    _, commit = _evicted_day_table(spark, cat)
    kept = {n: file_digests(os.path.join(commit, n))
            for n in _leaf_names(commit)[3:]}
    out = cat.expire_snapshots("t", keep_last=1)
    assert out["removed_dirs"] == 3
    assert _leaf_names(commit) == sorted(kept)
    assert {n: file_digests(os.path.join(commit, n))
            for n in _leaf_names(commit)} == kept
    assert sorted(r.id for r in cat.read(spark, "t").collect()) == [4, 5, 6]


def test_orphan_sweep_keeps_a_commit_dir_with_live_leaves(spark, tmp_path,
                                                          monkeypatch):
    """remove_orphan_files counts a commit dir as referenced when a
    snapshot references any of its leaves: with no age guard it
    removes nothing, before expiry and after. A dead leaf left behind
    by a GC interrupted after the manifest rewrite is an orphan."""
    from yahoo_anomaly_detection_spark.sources import catalog as catalog_mod

    cat = ParquetCatalog(str(tmp_path / "wh"))
    _, commit = _evicted_day_table(spark, cat)
    tdir = tmp_path / "wh" / "t"
    before = file_digests(tdir)
    assert cat.remove_orphan_files("t", older_than_s=0)["removed_dirs"] == 0
    assert file_digests(tdir) == before
    # GC interrupted after the manifest rewrite: no leaf removed yet
    monkeypatch.setattr(catalog_mod.shutil, "rmtree", lambda *a, **k: None)
    cat.expire_snapshots("t", keep_last=1)
    monkeypatch.undo()
    assert len(_leaf_names(commit)) == 6
    assert cat.remove_orphan_files("t", older_than_s=0)["removed_dirs"] == 3
    assert _leaf_names(commit) == [f"day=2025-01-0{d}" for d in (4, 5, 6)]
    assert cat.remove_orphan_files("t", older_than_s=0)["removed_dirs"] == 0
    assert sorted(r.id for r in cat.read(spark, "t").collect()) == [4, 5, 6]


def test_read_appended_refuses_a_leaf_level_delete(spark, tmp_path):
    """A whole-day delete is metadata-only but still not an append:
    an incremental read across it raises; one starting after it reads
    only the later appends."""
    cat = ParquetCatalog(str(tmp_path / "wh"))
    sid, _ = _evicted_day_table(spark, cat)
    with pytest.raises(ValueError, match="not appends"):
        cat.read_appended(spark, "t", sid)
    after = cat.current_snapshot_id("t")
    cat.append(spark.createDataFrame([(9, date(2025, 1, 9), 9.0)],
                                     "id int, day date, v double"), "t")
    assert [r.id for r in cat.read_appended(spark, "t", after).collect()] \
        == [9]
    assert sorted(r.id for r in cat.read(spark, "t").collect()) == [4, 5, 6, 9]


def test_partition_only_delete_reads_escaped_names(spark, tmp_path):
    """Partition values that hive escapes in dir names (quote, colon,
    slash, percent) and the NULL partition evaluate by their real
    value: the delete drops exactly the matching leaves, rewrites
    nothing, and the NULL-day row survives."""
    cat = ParquetCatalog(str(tmp_path / "wh"))
    days = ["a'b", "c:d/e", "f%g", None]
    cat.overwrite_table(_df(spark, [(i, d, 1.0) for i, d in enumerate(days)]),
                        "t", partition_by=["day"])
    cat.delete_where(spark, "t", "day = 'a\\'b' OR day = 'f%g'")
    snap = cat.snapshots("t")[-1]
    assert (snap.summary["dropped_leaves"], snap.summary["rewritten_dirs"]) \
        == (2, 0)
    assert sorted((r.id, r.day) for r in cat.read(spark, "t").collect()) \
        == [(1, "c:d/e"), (3, None)]


class _FakeWriter:
    """``DataFrameWriterV2`` stand-in that records the calls made."""

    def __init__(self, log):
        self.log = log

    def partitionedBy(self, *cols):
        self.log.append(("partitionedBy", [str(c) for c in cols]))
        return self

    def __getattr__(self, name):  # create / append / createOrReplace / overwrite
        return lambda *args: self.log.append((name, [str(a) for a in args]))


class _FakeIcebergSpark:
    """The calls ``IcebergCatalog`` makes on its session, answered for
    one existing table of the given spec rows (``DESCRIBE TABLE``)."""

    def __init__(self, describe):
        from types import SimpleNamespace

        self.describe = describe
        self.queries = []
        self.catalog = SimpleNamespace(tableExists=lambda name: True)

    def sql(self, q):
        from types import SimpleNamespace

        from pyspark.sql import Row

        self.queries.append(q)
        rows = []
        if q.startswith("DESCRIBE TABLE"):
            rows = [Row(col_name=n, data_type=t)
                    for n, t in [("id", "int"), ("day", "string"),
                                 ("ts", "timestamp"), *self.describe]]
        return SimpleNamespace(collect=lambda: rows)


def _fake_iceberg(describe):
    cat = object.__new__(IcebergCatalog)
    cat.spark, cat.catalog, cat.namespace = (
        _FakeIcebergSpark(describe), "local", "ns")
    log = []
    df = type("FakeDF", (), {"writeTo": lambda self, name: _FakeWriter(log)})()
    return cat, df, log


def test_iceberg_adapter_keeps_the_spec_rule(spark):  # F.col needs a JVM
    """The adapter follows the shim's spec rule, checked against a fake
    ``writeTo`` builder (no Iceberg runtime needed): overwrite_table
    with no partition_by keeps the table and its spec; an append or a
    compaction whose partition_by differs from the spec raises and
    writes nothing; a spec given by a transform compares as Spark
    describes it."""
    identity = [("", ""), ("# Partition Information", ""),
                ("# col_name", "data_type"), ("day", "string")]
    cat, df, log = _fake_iceberg(identity)
    assert cat._spec("t") == ["day"]
    cat.overwrite_table(df, "t")
    assert log == [("overwrite", ["Column<'true'>"])]
    log.clear()
    cat.overwrite_table(df, "t", partition_by=["id"])
    assert log == [("partitionedBy", ["Column<'id'>"]),
                   ("createOrReplace", [])]
    log.clear()
    with pytest.raises(ValueError, match="spec"):
        cat.append(df, "t", partition_by=["id"])
    assert log == []
    cat.append(df, "t", partition_by=["day"])
    cat.append(df, "t")
    assert log == [("append", []), ("append", [])]
    with pytest.raises(ValueError, match="spec"):
        cat.compact(cat.spark, "t", partition_by=["id"])
    assert not any("rewrite_data_files" in q for q in cat.spark.queries)
    cat.compact(cat.spark, "t", partition_by=["day"])
    cat.compact(cat.spark, "t")
    assert sum("rewrite_data_files" in q for q in cat.spark.queries) == 2

    cat, df, log = _fake_iceberg([("", ""), ("# Partitioning", ""),
                                  ("Part 0", "days(ts)")])
    assert cat._spec("t") == ["days(ts)"]
    with pytest.raises(ValueError, match="spec"):
        cat.append(df, "t", partition_by=["ts"])
    assert _fake_iceberg([])[0]._spec("t") == []
