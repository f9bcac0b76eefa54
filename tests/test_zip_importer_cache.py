"""The decode kernel drops cached zipimporters when it finishes, so a reused
Python worker's next `importlib.invalidate_caches()` re-reads no archive,
and imports from a zip on sys.path still resolve afterwards."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from data_pipeline_spark.functions.decode import _drop_zip_importers

PKG = "zipcachepkg"


@pytest.fixture()
def zip_pkg(tmp_path):
    """A zip archive holding a package with a subpackage, put on sys.path;
    sys.path, the importer cache and sys.modules are restored on teardown."""
    archive = str(tmp_path / "pkg.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{PKG}/__init__.py", "")
        z.writestr(f"{PKG}/sub/__init__.py", "")
        z.writestr(f"{PKG}/sub/first.py", "VALUE = 1\n")
        z.writestr(f"{PKG}/sub/second.py", "VALUE = 2\n")
    saved_path = list(sys.path)
    saved_cache = dict(sys.path_importer_cache)
    sys.path.insert(0, archive)
    try:
        yield archive
    finally:
        sys.path[:] = saved_path
        sys.path_importer_cache.clear()
        sys.path_importer_cache.update(saved_cache)
        for name in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
            del sys.modules[name]
        zipimport._zip_directory_cache.pop(archive, None)


def _zip_importers() -> list[str]:
    return [
        p for p, f in sys.path_importer_cache.items()
        if isinstance(f, zipimport.zipimporter)
    ]


def _count_directory_reads(monkeypatch) -> list[str]:
    reads: list[str] = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_drop_zip_importers_stops_archive_rereads(zip_pkg, monkeypatch):
    assert importlib.import_module(f"{PKG}.sub.first").VALUE == 1
    ours = [p for p in _zip_importers() if p.startswith(zip_pkg)]
    assert len(ours) >= 2  # the archive root and the package dirs inside it

    reads = _count_directory_reads(monkeypatch)
    importlib.invalidate_caches()
    assert len(reads) >= 2  # every cached zipimporter re-reads its archive

    _drop_zip_importers()
    assert _zip_importers() == []
    del reads[:]
    importlib.invalidate_caches()
    assert reads == []

    # A submodule not imported before still resolves, from the directory
    # cache rather than a fresh read of the archive.
    assert importlib.import_module(f"{PKG}.sub.second").VALUE == 2
    assert reads == []
