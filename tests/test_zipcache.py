"""zipcache: importlib.invalidate_caches() re-reads a zip's directory only
when the archive changed on disk (no Spark)."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from crumble_spark import zipcache


def _zip(path, modules):
    """A zip at `path` holding one `name.py` per {name: value}, written
    elsewhere and moved in as a re-shipped --py-files archive is."""
    tmp = f"{path}.new"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, value in modules.items():
            z.writestr(f"{name}.py", f"VALUE = {value!r}\n")
    os.replace(tmp, path)
    return str(path)


@pytest.fixture
def reads(monkeypatch):
    """The archives zipimport._read_directory reads from now on."""
    calls = []
    real = zipimport._read_directory

    def spy(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", spy)
    return calls


def test_the_engine_import_wraps_the_eager_stdlib_method():
    eager = not hasattr(zipimport.zipimporter, "_get_files")
    wrapped = zipimport.zipimporter.invalidate_caches is zipcache._invalidate_caches
    assert wrapped == eager
    assert zipcache.install() == eager  # idempotent


def test_unchanged_archive_is_not_reread(tmp_path, reads):
    path = _zip(tmp_path / "a.zip", {"zc_unchanged": 1})
    imp = zipimport.zipimporter(path)
    imp.invalidate_caches()  # the first call after install reads once
    reads.clear()
    imp.invalidate_caches()
    zipimport.zipimporter(path).invalidate_caches()  # another importer of the same zip
    assert reads == []
    assert imp.find_spec("zc_unchanged") is not None


def test_archive_replaced_at_the_same_path_is_reread(tmp_path, monkeypatch, reads):
    path = _zip(tmp_path / "b.zip", {"zc_old": 1})
    monkeypatch.syspath_prepend(path)
    try:
        assert importlib.import_module("zc_old").VALUE == 1
        importlib.invalidate_caches()
        reads.clear()
        _zip(path, {"zc_old": 2, "zc_added": 3})
        importlib.invalidate_caches()
        assert path in reads
        assert importlib.import_module("zc_added").VALUE == 3
    finally:
        for name in ("zc_old", "zc_added"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(path, None)


def test_deleted_archive_behaves_as_the_stdlib(tmp_path):
    ours = zipimport.zipimporter(_zip(tmp_path / "c.zip", {"zc_c": 1}))
    stdlib = zipimport.zipimporter(_zip(tmp_path / "d.zip", {"zc_d": 1}))
    ours.invalidate_caches()
    os.remove(ours.archive)
    os.remove(stdlib.archive)
    ours.invalidate_caches()  # raises nothing, as the stdlib method
    zipcache._stdlib_invalidate_caches(stdlib)
    for imp in (ours, stdlib):
        assert imp._files == {}
        assert imp.archive not in zipimport._zip_directory_cache


def test_lazy_stdlib_method_is_left_alone(monkeypatch):
    # CPython 3.13+: invalidate_caches only drops the cache entry, and
    # _get_files re-reads the directory on the next lookup
    stdlib = zipcache._stdlib_invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stdlib)
    monkeypatch.setattr(zipimport.zipimporter, "_get_files", lambda self: {}, raising=False)
    assert zipcache.install() is False
    assert zipimport.zipimporter.invalidate_caches is stdlib
