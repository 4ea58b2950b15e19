"""Python worker daemon for the sessions :func:`session.get_spark` builds.

pyspark calls ``importlib.invalidate_caches()`` at the start of every
task (``worker_util.setup_spark_files``) so that zips shipped with
``addPyFile`` become importable. Before CPython 3.13,
``zipimporter.invalidate_caches`` re-reads its archive's central
directory unconditionally, and ``sys.path_importer_cache`` holds one
zip importer per package prefix: about 16 for ``pyspark.zip`` alone,
each re-parsing its ~1.3 k entries. That re-parse was most of the
fixed cost of every Python task. CPython 3.13 made the re-read lazy,
so there :func:`install` changes nothing.

Run as the daemon module (``spark.python.daemon.module``): it patches
``zipimport`` once, then hands off to pyspark's own daemon, whose
forked workers inherit the patched class. Workers that Spark starts
without that setting (the Python data source planners) get the patch
from ``sources/pcap_datasource.py``, which calls :func:`install` when
it is imported; :func:`install` is idempotent, so the executor workers
that import that module too keep a single wrapper.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport


def install() -> bool:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only
    when its ``(st_mtime_ns, st_size)`` changed since the last read.
    Returns whether the patch is in effect (False on CPython >= 3.13).
    A repeated call changes nothing."""
    if sys.version_info >= (3, 13):
        return False
    reload = zipimport.zipimporter.invalidate_caches
    if getattr(reload, "_reads_only_changed", False):
        return True
    cache = zipimport._zip_directory_cache
    # archive -> stat key taken just before the read now in ``cache``
    read_at: dict[str, tuple[int, int]] = {}

    def invalidate_caches(self) -> None:  # noqa: ANN001
        try:
            st = os.stat(self.archive)
        except OSError:
            reload(self)  # gone or unreadable: the stock path empties it
            return
        key = (st.st_mtime_ns, st.st_size)
        files = cache.get(self.archive)
        if files is not None and read_at.get(self.archive) == key:
            self._files = files  # unchanged since its last read, by any importer
            return
        reload(self)
        if self.archive in cache:  # the read succeeded
            read_at[self.archive] = key

    invalidate_caches._reads_only_changed = True  # type: ignore[attr-defined]
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # One read per archive here, before the daemon forks, so no worker
    # pays it on its first task.
    importlib.invalidate_caches()
    return True


if __name__ == "__main__":
    install()
    from pyspark.daemon import manager

    manager()
