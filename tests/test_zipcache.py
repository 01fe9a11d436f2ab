"""The stat-keyed zipimport directory cache (cuckoo_filter_spark/_zipcache).

pyspark's worker calls importlib.invalidate_caches() before every task;
on CPython < 3.13 every zipimporter then re-reads its archive's central
directory. The shim keeps the directory while the archive's stat is
unchanged and still picks up a rewritten zip."""

import importlib
import os
import sys
import uuid
import zipfile
import zipimport

import pytest

from cuckoo_filter_spark import _zipcache

eager = pytest.mark.skipif(sys.version_info >= (3, 13),
                           reason="zipimport invalidation is lazy on 3.13+")


def _write_zip(path, pkg, modules):
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        zf.writestr(f"{pkg}/__init__.py", "")
        for name, src in modules.items():
            zf.writestr(f"{pkg}/{name}.py", src)
    os.replace(tmp, path)  # a new inode, as a re-shipped file would get


@pytest.fixture
def zipped_pkg(tmp_path, monkeypatch):
    """A package imported from a zip on sys.path (two zipimporters: the
    archive root and the package directory), with the patch installed
    for the test only."""
    pkg = f"zc_{uuid.uuid4().hex[:8]}"
    archive = str(tmp_path / "pkg.zip")
    _write_zip(archive, pkg, {"a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    assert importlib.import_module(f"{pkg}.a").X == 1
    yield archive, pkg
    for name in [m for m in sys.modules if m.split(".")[0] == pkg]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(archive, None)
    _zipcache._stat_keys.pop(archive, None)


def _count_reads(monkeypatch):
    reads = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@eager
def test_unchanged_zip_is_not_reread(zipped_pkg, monkeypatch):
    archive, _ = zipped_pkg
    reads = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    assert reads.count(archive) == 2  # unpatched: once per zipimporter
    assert _zipcache.patch_zipimporter()
    reads.clear()
    importlib.invalidate_caches()  # first sight of the archive: one read
    assert reads.count(archive) == 1
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []


@eager
def test_rewritten_zip_is_reread(zipped_pkg):
    archive, pkg = zipped_pkg
    assert _zipcache.patch_zipimporter()
    importlib.invalidate_caches()
    _write_zip(archive, pkg, {"a": "X = 1\n", "b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module(f"{pkg}.b").Y == 2


@eager
def test_install_twice_is_harmless(zipped_pkg):
    archive, pkg = zipped_pkg
    original = zipimport.zipimporter.invalidate_caches
    assert _zipcache.patch_zipimporter()
    assert _zipcache.patch_zipimporter()
    assert zipimport.zipimporter.invalidate_caches is _zipcache._invalidate_caches
    assert _zipcache._original is original  # never wraps itself
    importlib.invalidate_caches()
    _write_zip(archive, pkg, {"a": "X = 1\n", "c": "Z = 3\n"})
    importlib.invalidate_caches()
    assert importlib.import_module(f"{pkg}.c").Z == 3


def test_noop_on_lazy_python(monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    before = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert not _zipcache.patch_zipimporter()
    assert zipimport.zipimporter.invalidate_caches is before


def test_driver_is_left_alone():
    # the package is imported on the driver, which has no TaskContext
    assert not _zipcache.install()
    assert zipimport.zipimporter.invalidate_caches \
        is not _zipcache._invalidate_caches


@eager
def test_worker_running_library_code_is_patched(spark):
    def probe(batches):
        import importlib
        import zipimport

        import pandas as pd

        from cuckoo_filter_spark.hashing import metro64_batch

        n = 0
        for b in batches:
            n += len(metro64_batch(b["id"].astype(str).tolist()))
        importlib.invalidate_caches()  # reads each archive at most once
        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda a: reads.append(a) or real(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        zips = sum(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())
        yield pd.DataFrame({
            "patched": [zipimport.zipimporter.invalidate_caches.__module__
                        == "cuckoo_filter_spark._zipcache"],
            "zipimporters": [zips], "reads": [len(reads)], "n": [n]})

    rows = (spark.range(0, 400, numPartitions=8)
            .mapInPandas(probe, "patched boolean, zipimporters long, "
                                "reads long, n long")
            .collect())
    assert len(rows) == 8 and sum(r.n for r in rows) == 400
    assert all(r.patched for r in rows)
    assert all(r.reads == 0 for r in rows)
    # workers import pyspark from pyspark.zip, so the check is not vacuous
    assert all(r.zipimporters > 0 for r in rows)
