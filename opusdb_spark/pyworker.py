"""Python worker daemon: `pyspark.daemon` behind a stat-guarded zip cache.

Every Python task (pandas and plain UDFs, `mapInPandas`,
`applyInPandas`) starts with pyspark's
`worker_util.setup_spark_files`, which ends in
`importlib.invalidate_caches()`. On CPython < 3.13 that call makes
every `zipimporter` in `sys.path_importer_cache` re-read its archive's
central directory eagerly. A worker holds one zipimporter per package
directory it has imported from an archive on its path (pyspark.zip,
py4j's zip, the spark-core jar: 16 by the time a pandas UDF runs), and
each re-parses its archive's whole directory (1,328 entries for
pyspark.zip): 100-300 ms of every task, measured in-worker (CPython
3.11.7, 4 vCPUs). CPython 3.13 made the re-read lazy, so this module
installs nothing there.

The daemon wraps `zipimport.zipimporter.invalidate_caches` so that an
archive's directory is re-read only when its (mtime_ns, size, inode)
differs from the stamp taken before the previous read; otherwise the
importer reuses `zipimport._zip_directory_cache`. A rewritten archive
is still picked up by the next `invalidate_caches()` call.

Spark starts the daemon as `python -m opusdb_spark.pyworker <worker
module>` (`session.get_spark` sets `spark.python.daemon.module` and
puts the repository root on the workers' PYTHONPATH). It installs the
guard, reads each archive once, then runs `pyspark.daemon`'s manager.
Workers are forked from it, so every task inherits the guard and the
primed stamps.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_unguarded = zipimport.zipimporter.invalidate_caches
# archive path -> (mtime_ns, size, inode), taken BEFORE the read that
# filled its _zip_directory_cache entry: a rewrite racing the read
# leaves an older stamp and forces one more read, never a stale cache.
_stamps: dict[str, tuple[int, int, int]] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def guarded_invalidate_caches(self) -> None:
    """`zipimporter.invalidate_caches` that skips the directory re-read
    while the archive's stat stamp is unchanged since the last read."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _stamps.pop(self.archive, None)
    _unguarded(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _stamps[self.archive] = stamp


def main() -> None:
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = guarded_invalidate_caches
    import pyspark.daemon  # picks the worker module from sys.argv[1]

    importlib.invalidate_caches()  # one read per archive, stamped
    pyspark.daemon.manager()


if __name__ == "__main__":
    # Run through the module's importable name, so workers see one
    # module object (one stamp table, one wrapper) whatever they import.
    from opusdb_spark import pyworker

    pyworker.main()
