"""The worker daemon's zip-directory guard, in this process (no Spark)."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from mysql_syncer_clickhouse_spark import worker_daemon


@pytest.fixture
def guarded_zip(tmp_path, monkeypatch):
    """A zip holding module `a`, on sys.path and imported, with the
    guard installed; yields (zip path, list of directory reads)."""
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("wd_guard_a.py", "VALUE = 'a'\n")
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        worker_daemon.invalidate_if_changed)
    monkeypatch.setattr(worker_daemon, "_directories", {})
    reads: list[str] = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.syspath_prepend(str(archive))
    for name in ("wd_guard_a", "wd_guard_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("wd_guard_a").VALUE == "a"
    importlib.invalidate_caches()

    def reads_of_archive():
        return [p for p in reads if p == str(archive)]

    yield archive, reads_of_archive
    for name in ("wd_guard_a", "wd_guard_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(str(archive), None)


def test_unchanged_archive_is_not_re_read(guarded_zip):
    _, reads = guarded_zip
    before = len(reads())
    importlib.invalidate_caches()
    assert len(reads()) == before


def test_rewritten_archive_is_re_read_once(guarded_zip):
    """The addPyFile case: a zip rewritten with a new module is re-read
    by the next invalidation, and the new module imports."""
    archive, reads = guarded_zip
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("wd_guard_a.py", "VALUE = 'a'\n")
        z.writestr("wd_guard_b.py", "VALUE = 'b'\n")
    before = len(reads())
    importlib.invalidate_caches()
    assert len(reads()) == before + 1
    assert importlib.import_module("wd_guard_b").VALUE == "b"


def test_deleted_archive_invalidates_without_error(guarded_zip):
    archive, _ = guarded_zip
    archive.unlink()
    importlib.invalidate_caches()
