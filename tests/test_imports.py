"""Every module of the package imports in a fresh interpreter without
starting Spark. Several modules (the streaming hops among them) are
imported only by tests that first run a Spark query, so a name moved
between modules would otherwise surface only deep inside such a test."""

import os
import subprocess
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_IMPORT_ALL = """
import importlib, pkgutil
import pyspark
import yahoo_anomaly_detection_spark as pkg

names = [m.name for m in
         pkgutil.walk_packages(pkg.__path__, pkg.__name__ + ".")]
for name in names:
    importlib.import_module(name)
assert pyspark.SparkContext._gateway is None, "an import started Spark"
print(*names)
"""


def test_every_module_imports_without_spark():
    res = subprocess.run(
        [sys.executable, "-c", _IMPORT_ALL], cwd=_ROOT,
        capture_output=True, text=True, timeout=300,
    )
    assert res.returncode == 0, res.stderr
    assert "yahoo_anomaly_detection_spark.streaming.hop" in res.stdout.split()
