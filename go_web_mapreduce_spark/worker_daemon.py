"""Spark's Python worker daemon, with zip archives refreshed only on change.

``session.get_spark`` names this module as ``spark.python.daemon.module``,
so Spark starts it (``python -m``) in place of ``pyspark.daemon``; every
Python worker of the session, the map and reduce kernels of ``core.py``
included, is forked from it.

Each Python task starts with ``pyspark.worker_util.setup_spark_files``,
which calls ``importlib.invalidate_caches()``. On Python 3.11 that makes
every ``zipimporter`` re-read its whole archive directory: one importer per
imported pyspark package on ``pyspark.zip`` (about 1,300 entries) and two
on the spark-core jar that Spark puts on the workers' path (about 5,400).
That is about 0.2 s of CPU per task before any user code runs, and the
archives do not change while a session runs. ``refresh_if_changed`` keeps
the refresh's meaning (a rewritten archive is re-read) but skips the read
when the archive's ``(st_mtime_ns, st_size)`` is what it was when that
importer last read it.

Importing this module patches nothing; only running it as the daemon
installs the guard.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_REFRESH = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def refresh_if_changed(importer: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive only when
    its stat changed since this importer last read it (or on first call).

    The stamp is taken before the read, so a write racing the read leaves a
    stale stamp and the next call reads again."""
    stamp = _stamp(importer.archive)
    if stamp is not None and stamp == getattr(importer, "_read_stamp", None):
        return
    _REFRESH(importer)
    importer._read_stamp = stamp


if __name__ == "__main__":
    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = refresh_if_changed
    # each importer the daemon holds reads once here, so the forked workers
    # inherit their stamps and start with nothing to re-read
    importlib.invalidate_caches()
    daemon.manager()
