"""Python-worker daemon for the engine's sessions.

``session.get_spark`` starts Spark's Python daemon through this module
(``spark.python.daemon.module``). It runs ``pyspark.daemon.manager()``
unchanged, after one patch: a zip importer re-reads its archive's
directory only when the archive's ``(st_mtime_ns, st_size)`` differs
from the last read.

Why: pyspark's worker calls ``importlib.invalidate_caches()`` at the
start of every task (``worker_util.setup_spark_files``). On CPython
3.11 every ``zipimporter`` in ``sys.path_importer_cache`` then re-reads
its archive's whole central directory at once. A worker's path holds
Spark's ``pyspark.zip`` (1,328 entries), the py4j zip and the
spark-core jar (5,359 entries); an Arrow worker holds 16 zip importers,
one per imported pyspark subpackage, so each task re-read ~26.7k
directory entries, 0.15-0.25 s of Python CPU before its first row.

An archive that has changed, or that cannot be stat'ed, is re-read
exactly as the stdlib does it. Importing this module changes nothing;
only ``main()`` installs the patch. pyspark itself still comes from the
zip Spark puts first on the daemon's path, the copy version-locked to
the JVM.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_stdlib_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> (st_mtime_ns, st_size) when its directory was last read;
# process-wide, like zipimport's own _zip_directory_cache it guards
_read_stamps: dict[str, tuple[int, int]] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that keeps the cached directory
    while the archive is unchanged since it was read."""
    archive = self.archive
    stamp = _stamp(archive)
    files = zipimport._zip_directory_cache.get(archive)
    if stamp is not None and files is not None and _read_stamps.get(archive) == stamp:
        self._files = files
        return
    _stdlib_invalidate(self)
    # stat'ed before the read: a write during the read is seen next time
    if stamp is not None and archive in zipimport._zip_directory_cache:
        _read_stamps[archive] = stamp
    else:
        _read_stamps.pop(archive, None)


def main() -> None:
    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # read each archive once here, so that forked workers start stamped
    importlib.invalidate_caches()
    daemon.manager()


if __name__ == "__main__":
    main()
