"""Python worker daemon for the local sessions :func:`esdb_spark.get_spark` starts.

Spark forks every Python worker from this daemon. Before each task a
worker calls ``importlib.invalidate_caches()``, and on Python 3.11 that
makes every ``zipimporter`` read its archive's directory again:
``pyspark.zip`` once per imported pyspark subpackage and the spark-core
jar (measured cost in :mod:`esdb_spark.session`). Run as ``__main__``, this module replaces
``zipimport.zipimporter.invalidate_caches`` with
:func:`invalidate_if_changed` before any worker forks, then runs
pyspark's stock daemon. Directory finders are still invalidated on
every task, so files shipped with ``addPyFile`` stay importable.
Importing the module patches nothing.

Started as ``python -m esdb_spark._pydaemon``, the daemon imports the
whole ``esdb_spark`` package, and with it pyarrow, before its first
fork, so every worker inherits those modules. The stock daemon already
imports ``pyspark.worker`` and ``pyspark.sql`` before forking; the
package adds a few dozen modules on top. Forking after that import is
as safe as the stock fork. The import opens no file or socket that
workers would share. Its one new thread is jemalloc's background
thread from pyarrow, and jemalloc's own fork handlers cover it. The
stock daemon already forks with numpy's BLAS threads running.
"""

from __future__ import annotations

import os
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches


def invalidate_if_changed(importer: zipimport.zipimporter) -> None:
    """Read ``importer``'s archive directory again, as stock Python does,
    only when the archive's (inode, size, mtime_ns) differs from the one
    stored on the importer at its last read here, or when it cannot be
    stat'ed. An importer seen for the first time is read once."""
    try:
        st = os.stat(importer.archive)
        key = (st.st_ino, st.st_size, st.st_mtime_ns)
    except OSError:
        key = None
    if key is None or key != getattr(importer, "_esdb_stat_key", None):
        _stock_invalidate(importer)
        importer._esdb_stat_key = key


if __name__ == "__main__":
    import importlib

    # Install the importable copy, so workers see the same function
    # object as ``esdb_spark._pydaemon.invalidate_if_changed``.
    from esdb_spark._pydaemon import invalidate_if_changed as _check

    zipimport.zipimporter.invalidate_caches = _check
    from pyspark import daemon

    # Stamp the importers the daemon itself created, so forked workers
    # start with every key set and their first task reads nothing.
    importlib.invalidate_caches()
    daemon.manager()
