"""PySpark daemon module for this engine's Python workers.

Spark starts it as ``python -m cloudtiff_spark.pyworker pyspark.worker``
(``spark.python.daemon.module``, set by ``session.get_spark``); it runs
``pyspark.daemon``'s own manager, which forks the Python workers.

Before every task PySpark's worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Up to CPython 3.12 that makes
every ``zipimporter`` on ``sys.path`` re-read its whole archive directory:
a worker holds about a dozen importers over ``pyspark.zip`` (one per
sub-package it imported) and two over the spark-core jar, so 110-220 ms of
every Python task went into re-reading archives that had not changed.
This module swaps ``zipimporter.invalidate_caches`` for a guard that
re-reads an archive only when its ``(st_size, st_mtime_ns)`` differs from
the stamp it had when last read, then runs ``pyspark.daemon.manager()``.
The guard is installed in the daemon, before the fork, so every worker has
it from its first task, whatever its UDFs import. CPython 3.13 invalidates
zip directories lazily, and there the stock method is kept.

An archive rewritten in place to the same size within one mtime tick of
the file system goes unseen; ``FileFinder`` has the same blind spot for
directories at a coarser grain.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

#: archive path -> (stamp, files dict read while the archive had that stamp)
_read_at: dict[str, tuple[tuple[int, int], dict]] = {}

_stock_invalidate = zipimport.zipimporter.invalidate_caches


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_size, st.st_mtime_ns


def _guarded_invalidate(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive only when
    its stamp changed since it was last read. The stamp is taken before the
    read, so a change during the read is caught by the next call."""
    stamp = _stamp(self.archive)
    seen = _read_at.get(self.archive)
    if seen is not None and seen[0] == stamp:
        self._files = zipimport._zip_directory_cache[self.archive] = seen[1]
        return
    _stock_invalidate(self)
    if stamp is not None and self._files:
        _read_at[self.archive] = (stamp, self._files)
    else:  # unreadable or gone: read again next time
        _read_at.pop(self.archive, None)


def install() -> bool:
    """Put the guard on ``zipimporter`` (idempotent). Returns whether it is
    in place, which is False on CPython 3.13 and later."""
    if sys.version_info >= (3, 13):
        return False
    zipimport.zipimporter.invalidate_caches = _guarded_invalidate
    return True


def installed() -> bool:
    return zipimport.zipimporter.invalidate_caches is _guarded_invalidate


def main() -> None:
    install()
    from pyspark import daemon  # imports the worker module named in argv[1]

    # read each archive once here, so the forked workers inherit the stamps
    importlib.invalidate_caches()
    daemon.manager()


if __name__ == "__main__":
    # run the package module, not this __main__ copy, so that workers that
    # import cloudtiff_spark.pyworker see the state the daemon installed
    from cloudtiff_spark import pyworker

    pyworker.main()
