"""Python worker daemon: pyspark's stock daemon minus a per-task
zip-directory re-read.

Spark starts it as ``python -m map_reduce_multi_threaded_spark.worker_daemon``
(``spark.python.daemon.module``, set by :func:`..session.get_spark`).
Before each task, ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``, which on Python < 3.13 makes every
``zipimport.zipimporter`` in ``sys.path_importer_cache`` re-read its
archive's central directory.  A worker holds one such importer per
package directory inside ``pyspark.zip`` (1328 entries), so each task
paid ~0.2 s before any UDF code ran, even in a reused worker.

:func:`install` makes that re-read conditional on the archive's
``(st_mtime_ns, st_size)`` having changed since the last read: an
unchanged archive keeps its cached directory, a rewritten one is read
again exactly as before.  CPython 3.13 made the same call cheap (it only
drops the cached directory and re-reads it lazily on the next lookup),
so there nothing is patched.
"""

from __future__ import annotations

import os
import sys
import zipimport

#: archive path -> (st_mtime_ns, st_size) at its last directory read
_STAMPS: dict[str, tuple[int, int]] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install(version_info: tuple = tuple(sys.version_info)) -> bool:
    """Patch ``zipimporter.invalidate_caches`` to re-read an archive only
    when it changed on disk.  Returns whether the patch is in place;
    a no-op on Python >= 3.13."""
    if tuple(version_info) >= (3, 13):
        return False
    cls = zipimport.zipimporter
    if getattr(cls.invalidate_caches, "_stamped", False):
        return True
    reread = cls.invalidate_caches

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        cached = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and cached is not None and _STAMPS.get(self.archive) == stamp:
            self._files = cached  # another importer of this archive re-read it
            return
        reread(self)
        if stamp is None:
            _STAMPS.pop(self.archive, None)
        else:
            _STAMPS[self.archive] = stamp

    invalidate_caches._stamped = True
    cls.invalidate_caches = invalidate_caches
    return True


if __name__ == "__main__":
    import importlib

    install()
    from pyspark import daemon

    # stamp the daemon's archives once; every forked worker inherits them
    importlib.invalidate_caches()
    daemon.manager()
