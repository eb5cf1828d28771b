"""The engine's ``file://`` filesystem (``jvm/NoForkLocalFileSystem.java``).

Hadoop's stock local filesystem starts a ``chmod`` process for every
file and dir a write creates when libhadoop is absent. The engine's
class sets the same mode bits in-process and keeps everything else
(checksums, umask) Hadoop's own; these tests pin both halves.
"""

import os
import shutil
import stat
from contextlib import contextmanager
from datetime import date

import pytest
from pyspark.sql import functions as F

from yahoo_anomaly_detection_spark import session
from yahoo_anomaly_detection_spark.sources.catalog import ParquetCatalog

STOCK = "org.apache.hadoop.fs.LocalFileSystem"
DAYS = 33


def _fs_class(spark, conf=None) -> str:
    jvm = spark._jvm
    conf = conf or spark._jsc.hadoopConfiguration()
    return jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI("file:///"), conf).getClass().getName()


@pytest.fixture
def engine_fs(spark):
    if not session.local_fs_conf():
        pytest.skip("javac unavailable: the session keeps the stock class")
    return spark


@contextmanager
def _hadoop_conf(spark, kv: dict):
    """Set keys on the session's Hadoop conf, restore them on exit."""
    conf = spark._jsc.hadoopConfiguration()
    saved = {}
    for k, v in kv.items():
        saved[k] = conf.get(k)
        conf.set(k, v)
    try:
        yield conf
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def _days_df(spark, rows=2128):
    return (spark.range(rows)
            .withColumn("day", F.date_add(F.lit(date(2024, 1, 1)),
                                          (F.col("id") % DAYS).cast("int")))
            .withColumn("v", F.col("id") * 0.5)
            .coalesce(1))


def _commit(spark, root, df=None):
    cat = ParquetCatalog(str(root))
    cat.append(_days_df(spark) if df is None else df, "t",
               partition_by=["day"])
    return cat


def _modes(root) -> dict:
    """Mode bits by kind of entry: data files, .crc files, day= dirs,
    the snapshot dir and the commit marker."""
    out: dict = {}
    for dirpath, dirs, files in os.walk(root):
        for name in dirs + files:
            if name.startswith("day="):
                kind = "day_dir"
            elif name.startswith("snap="):
                kind = "snap_dir"
            elif name.endswith(".crc"):
                kind = "crc"
            elif name.startswith("part-"):
                kind = "data"
            elif name == "_SUCCESS":
                kind = "success"
            else:
                continue
            mode = stat.S_IMODE(os.stat(os.path.join(dirpath, name)).st_mode)
            out.setdefault(kind, set()).add(mode)
    return out


def _launches() -> int:
    """Processes started on this machine so far (/proc/stat)."""
    with open("/proc/stat") as f:
        for line in f:
            if line.startswith("processes "):
                return int(line.split()[1])
    raise RuntimeError("no processes line in /proc/stat")


def test_session_binds_file_scheme_to_engine_class(engine_fs):
    spark = engine_fs
    jvm = spark._jvm
    assert _fs_class(spark) == session._FS_CLASS
    afs = jvm.org.apache.hadoop.fs.AbstractFileSystem.get(
        jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration())
    assert afs.getClass().getName() == session._FS_CLASS + "$Fs"


@pytest.mark.parametrize("umask", ["022", "027"])
def test_commit_mode_bits_match_stock_filesystem(engine_fs, tmp_path, umask):
    spark = engine_fs
    # fresh filesystem instances, so each write reads this umask
    with _hadoop_conf(spark, {"fs.permissions.umask-mode": umask,
                              "fs.file.impl.disable.cache": "true"}) as conf:
        assert _fs_class(spark, conf) == session._FS_CLASS
        _commit(spark, tmp_path / "engine")
        with _hadoop_conf(spark, {"fs.file.impl": STOCK}):
            assert _fs_class(spark, conf) == STOCK
            _commit(spark, tmp_path / "stock")
    engine, stock = _modes(tmp_path / "engine"), _modes(tmp_path / "stock")
    assert set(engine) == {"day_dir", "snap_dir", "crc", "data", "success"}
    assert engine == stock
    if umask == "027":
        assert engine["data"] == {0o640} and engine["day_dir"] == {0o750}


def test_flipped_byte_fails_checksum(engine_fs, tmp_path):
    spark = engine_fs
    cat = _commit(spark, tmp_path / "wh")
    assert cat.read(spark, "t").count() == 2128
    part = next(os.path.join(d, f) for d, _, fs in os.walk(tmp_path / "wh")
                for f in fs if f.startswith("part-") and f.endswith(".parquet"))
    with open(part, "r+b") as f:
        f.seek(os.path.getsize(part) // 2)
        b = f.read(1)
        f.seek(-1, os.SEEK_CUR)
        f.write(bytes([b[0] ^ 0xFF]))
    with pytest.raises(Exception, match="Checksum"):
        cat.read(spark, "t").collect()


@pytest.mark.skipif(not os.path.exists("/proc/stat"), reason="needs /proc/stat")
def test_partitioned_commit_starts_few_processes(engine_fs, tmp_path):
    """A 33-day commit is ~100 files and dirs: the stock class starts
    ~217 processes for it. The counter is machine-wide, so the least
    of three attempts is read (other processes only add to it)."""
    spark = engine_fs
    df = _days_df(spark).cache()
    df.count()
    counts = []
    for i in range(3):
        before = _launches()
        _commit(spark, tmp_path / f"wh{i}", df)
        counts.append(_launches() - before)
        if counts[-1] < 60:
            break
    df.unpersist()
    assert min(counts) < 60, counts


def test_missing_javac_leaves_confs_unset(tmp_path, monkeypatch, caplog):
    monkeypatch.setattr(shutil, "which", lambda *a, **k: None)
    monkeypatch.setattr(session, "_fs_warned", False)
    with caplog.at_level("WARNING", logger=session.__name__):
        assert session.local_fs_conf(str(tmp_path)) == {}
        assert session.local_fs_conf(str(tmp_path)) == {}
    assert len(caplog.records) == 1
    assert "stock" in caplog.records[0].getMessage()
    assert not any(tmp_path.iterdir())


@pytest.mark.skipif(shutil.which("javac") is None, reason="needs javac")
def test_same_source_compiles_once(tmp_path, monkeypatch):
    calls = []
    run = session.subprocess.run

    def counting_run(*a, **k):
        calls.append(a)
        return run(*a, **k)

    monkeypatch.setattr(session.subprocess, "run", counting_run)
    first = session.local_fs_conf(str(tmp_path))
    second = session.local_fs_conf(str(tmp_path))
    assert first == second and len(calls) == 1
    out = first["spark.driver.extraClassPath"]
    assert os.path.dirname(out) == str(tmp_path)
    assert os.listdir(tmp_path) == [os.path.basename(out)]
    cls = session._FS_CLASS.replace(".", os.sep) + ".class"
    assert os.path.isfile(os.path.join(out, cls))


@pytest.mark.parametrize("launched_with_class", [True, False])
def test_running_jvm_keeps_its_classpath(monkeypatch, launched_with_class):
    """A JVM that is already up cannot gain the class: bind ``file://``
    to it only if that JVM was launched with the class dir."""
    from types import SimpleNamespace

    from pyspark import SparkContext

    conf = session.local_fs_conf()
    if not conf:
        pytest.skip("javac unavailable")
    cp = ["/opt/x.jar"]
    if launched_with_class:
        cp.append(conf["spark.driver.extraClassPath"] + os.sep)
    system = SimpleNamespace(getProperty=lambda k: os.pathsep.join(cp))
    monkeypatch.setattr(SparkContext, "_jvm", SimpleNamespace(
        java=SimpleNamespace(lang=SimpleNamespace(System=system))))
    assert session._launch_fs_conf() == (conf if launched_with_class else {})
