"""Stat-guarded zip importer refresh: an unchanged archive is not
re-read on ``invalidate_caches``, a rewritten one is, and nothing is
installed on CPython 3.13+."""

import importlib
import sys
import zipfile
import zipimport

import pytest

from yahoo_anomaly_detection_spark import zipguard

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="3.13+ zipimporter.invalidate_caches does not re-read")


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def reads(monkeypatch):
    """Calls to zipimport._read_directory, by archive path."""
    calls = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_package_import_installs_guard():
    assert zipguard.installed()
    assert zipguard.install() is True  # idempotent
    wrapped = zipimport.zipimporter.invalidate_caches
    assert not hasattr(wrapped.__wrapped__, "__wrapped__")


def test_unchanged_archive_is_read_once(tmp_path, reads):
    arc = str(tmp_path / "a.zip")
    _write_zip(arc, {"zg_mod_a": "X = 1\n"})
    imp = zipimport.zipimporter(arc)
    reads.clear()
    imp.invalidate_caches()  # first call on an importer always reads
    imp.invalidate_caches()
    imp.invalidate_caches()
    assert reads == [arc]


def test_rewritten_archive_is_reread_and_new_module_imports(
        tmp_path, reads, monkeypatch):
    arc = str(tmp_path / "b.zip")
    _write_zip(arc, {"zg_mod_b1": "X = 1\n"})
    monkeypatch.syspath_prepend(arc)
    importlib.invalidate_caches()
    assert importlib.import_module("zg_mod_b1").X == 1
    importlib.invalidate_caches()
    reads.clear()
    importlib.invalidate_caches()
    assert arc not in reads
    _write_zip(arc, {"zg_mod_b1": "X = 1\n", "zg_mod_b2": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(arc) == 1
    assert importlib.import_module("zg_mod_b2").Y == 2
    for m in ("zg_mod_b1", "zg_mod_b2"):
        sys.modules.pop(m, None)


def test_stat_error_falls_back_to_original(tmp_path, reads):
    arc = tmp_path / "c.zip"
    _write_zip(str(arc), {"zg_mod_c": "X = 1\n"})
    imp = zipimport.zipimporter(str(arc))
    imp.invalidate_caches()
    arc.unlink()
    reads.clear()
    imp.invalidate_caches()  # original: read fails, files cleared
    assert reads == [str(arc)]
    assert imp._files == {}


def test_noop_on_313_and_later(monkeypatch):
    original = zipimport.zipimporter.invalidate_caches.__wrapped__
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert zipguard.install() is False
    assert zipimport.zipimporter.invalidate_caches is original
    assert not zipguard.installed()


def test_worker_running_engine_udf_has_guard(spark):
    # the UDF closure references an engine module, as every engine UDF
    # does; unpickling it imports the package, which installs the guard
    def probe(batches):
        import pyarrow as pa

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"on": [zipguard.installed()]},
            schema=pa.schema([("on", pa.bool_())]))

    rows = spark.range(8, numPartitions=4).mapInArrow(
        probe, "on boolean").collect()
    assert len(rows) == 4 and all(r["on"] for r in rows)
