"""Stat-guarded refresh of zip importers (CPython < 3.13).

PySpark's worker calls ``importlib.invalidate_caches()`` at the start
of every task (``pyspark/worker_util.py`` ``setup_spark_files``). Up
to CPython 3.12, that makes every ``zipimport.zipimporter`` in
``sys.path_importer_cache`` re-parse its whole archive directory. A
worker holds one importer per package dir it imported from
``pyspark.zip`` (~1.3k entries) and the py4j zip, so the re-reads cost
0.14-0.28 s per task on a 4-CPU host, on reused workers too.

:func:`install` wraps ``zipimporter.invalidate_caches`` so an importer
re-reads its archive only when the archive's
``(st_ino, st_size, st_mtime_ns)`` changed since that importer last
read it. The first call on each importer always reads, and an
``OSError`` from ``stat`` falls back to the original method. On 3.13
and later the original only drops a cache entry, so nothing is
installed.

The package ``__init__`` installs the guard. Every engine UDF closure
references engine modules, so a Python worker installs it the first
time it unpickles one, and later tasks on that worker skip the
re-read.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport

# per-importer archive stat at its last read, kept on the importer
_STAT_ATTR = "_archive_stat_at_read"


def _archive_stat(path: str) -> tuple[int, int, int]:
    st = os.stat(path)
    return st.st_ino, st.st_size, st.st_mtime_ns


def _guarded(original):
    @functools.wraps(original)
    def invalidate_caches(self):
        try:
            key = _archive_stat(self.archive)
        except OSError:
            self.__dict__.pop(_STAT_ATTR, None)
            return original(self)
        if self.__dict__.get(_STAT_ATTR) == key:
            return None
        # stat taken BEFORE the read: a rewrite racing the read leaves
        # the old key behind, so the next call reads again
        original(self)
        self.__dict__[_STAT_ATTR] = key
        return None

    return invalidate_caches


def installed() -> bool:
    """True when the guard wraps ``zipimporter.invalidate_caches``."""
    return hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")


def install() -> bool:
    """Wrap ``zipimporter.invalidate_caches`` once per process;
    returns whether the guard is in place (never on 3.13+)."""
    if sys.version_info >= (3, 13):
        return False
    if not installed():
        cls = zipimport.zipimporter
        cls.invalidate_caches = _guarded(cls.invalidate_caches)
    return True
