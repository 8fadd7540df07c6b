"""Python worker daemon for this engine's sessions (`spark.python.daemon.module`).

PySpark's worker calls `importlib.invalidate_caches()` at the start of
every task. On CPython 3.11 that makes each zip importer re-parse its
archive's whole central directory, and a worker holds one importer per
package directory it imported from pyspark.zip. This daemon makes the
re-read happen only when the archive changed on disk, then runs
PySpark's own daemon; every worker it forks inherits the guard.
"""

from __future__ import annotations

import os
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> ((st_ino, st_size, st_mtime_ns) when read, directory read)
_directories: dict[str, tuple[tuple[int, int, int], dict]] = {}


def invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """`zipimporter.invalidate_caches` that re-reads the archive's
    directory only when the archive's inode, size or mtime changed
    since it was last read in this process; importers of an unchanged
    archive share that directory. If the archive cannot be stat'ed
    (deleted), the stock method runs and decides."""
    try:
        st = os.stat(self.archive)
    except OSError:
        _directories.pop(self.archive, None)
        return _stock_invalidate(self)
    key = (st.st_ino, st.st_size, st.st_mtime_ns)
    seen = _directories.get(self.archive)
    if seen is not None and seen[0] == key:
        self._files = seen[1]
        return
    _stock_invalidate(self)
    _directories[self.archive] = (key, self._files)


def main() -> None:
    zipimport.zipimporter.invalidate_caches = invalidate_if_changed
    from pyspark.daemon import manager
    manager()


if __name__ == "__main__":
    # run under the package name, so the guard's __module__ names it
    from mysql_syncer_clickhouse_spark.worker_daemon import main as _main
    _main()
